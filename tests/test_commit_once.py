"""Every write publishes its snapshot with ONE create-once commit.

A spy on Warehouse.commit records each call and a copy of the manifest it
committed: every write calls it exactly once, for its own snapshot, and
the manifest it committed is the final one (the one on disk after the
write). Processes racing one snapshot name: exactly one wins."""

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from orc_spark import pipeline
from orc_spark.cdc import operation
from orc_spark.datasource import TokstripeStreamWriter, TokstripeWriter
from orc_spark.deletes import delete_where, upsert
from orc_spark.evolution import evolve_schema
from orc_spark.fixtures import tokens_arrow
from orc_spark.maintenance import compact_snapshots, materialize_deletes
from orc_spark.warehouse import Warehouse

N_DOCS = 400


@pytest.fixture()
def spy(monkeypatch):
    calls: list[tuple[str, dict]] = []
    orig = Warehouse.commit

    def commit(self, snapshot, *a, **kw):
        calls.append((snapshot, None))
        m = orig(self, snapshot, *a, **kw)
        calls[-1] = (snapshot, json.loads(json.dumps(m)))
        return m

    monkeypatch.setattr(Warehouse, "commit", commit)
    return calls


def _once(spy, wh: Warehouse, name: str, write) -> dict:
    """Run `write`; it must commit `name` exactly once, and what it
    committed must be what is on disk afterwards. Returns that manifest."""
    spy.clear()
    write()
    assert [s for s, _ in spy] == [name]
    committed = spy[0][1]
    assert committed == wh.read_manifest(name)
    return committed


def test_every_write_commits_its_snapshot_once(spark, spy, monkeypatch, tmp_path):
    tbl = tokens_arrow(N_DOCS)
    inp = str(tmp_path / "in.parquet")
    pq.write_table(tbl, inp, row_group_size=100)
    df = spark.read.parquet(inp)
    path = str(tmp_path / "wh")
    wh = Warehouse(path)
    kw = dict(salt_buckets=4, stripe_tokens=20_000)

    m0 = _once(spy, wh, "s0", lambda: pipeline.encode_table(spark, df, path, "s0", **kw))

    # a resumed encode: a killed run of `s` left half its files, no manifest
    pids = sorted(m0["partitions"])
    for pid in pids[: len(pids) // 2]:
        src = m0["partitions"][pid]["file"]
        for suffix in ("", ".bloom.json"):
            shutil.copy(src + suffix, wh.data_file(pid, "s") + suffix)
    seen = []
    run_tasks = pipeline.run_tasks

    def watched(spark_, items, fn):
        seen.append((wh.read_manifest("s"), wh.current_snapshot_id()))
        return run_tasks(spark_, items, fn)

    monkeypatch.setattr(pipeline, "run_tasks", watched)
    m = _once(spy, wh, "s", lambda: pipeline.encode_table(spark, df, path, "s", **kw))
    monkeypatch.setattr(pipeline, "run_tasks", run_tasks)
    # invisible until its one commit: no manifest, CURRENT unmoved
    assert seen and all(x == (None, "s0") for x in seen)
    assert sum(bool(p.get("adopted")) for p in m["partitions"].values()) == len(pids) // 2
    assert set(m["partitions"]) == set(pids)

    # a format write and a stream epoch, driven in-process the way Spark
    # drives them: write() per task, commit() once on the driver
    schema = from_arrow_schema(tbl.schema)
    fw = TokstripeWriter({"path": path, "snapshot": "fmt"}, schema, overwrite=False)
    _once(spy, wh, "fmt", lambda: fw.commit([fw.write(iter(tbl.to_batches(100)))]))
    sw = TokstripeStreamWriter({"path": path, "snapshot": "st"}, schema)
    ep = _once(spy, wh, "st-e000000",
               lambda: sw.commit([sw.write(iter(tbl.to_batches(100)))], 0))
    # its replay: the commit refuses the name, the re-staged files go
    spy.clear()
    replay = [sw.write(iter(tbl.to_batches(100)))]
    sw.commit(replay, 0)
    assert [s for s, _ in spy] == ["st-e000000"]
    assert wh.read_manifest("st-e000000") == ep
    assert not any(os.path.exists(p["file"]) for p in replay[0].partitions.values())
    assert wh.commit_log().count("st-e000000") == 1

    ids = tbl.column("doc_id").to_pylist()
    _once(spy, wh, "del", lambda: delete_where(
        spark, path, [("doc_id", ids[:20])], snapshot="s", dest="del"))
    up = _once(spy, wh, "up", lambda: upsert(
        spark, path, df.limit(10), snapshot="del", dest="up", salt_buckets=4))
    assert up["encode_phases"]["reduce_tasks"] >= 1
    new = [p for p in up["partitions"].values() if p.get("seq") == up["seq"]]
    assert new and all(p["file"].endswith("/snap-up.parquet") for p in new)
    _once(spy, wh, "ev", lambda: evolve_schema(path, "up", dest="ev", add={"lang": "string"}))
    cat = _once(spy, wh, "cat", lambda: compact_snapshots(spark, path, ["s0", "s"], "cat"))
    spy.clear()
    assert compact_snapshots(spark, path, ["s0", "s"], "cat") == cat  # a re-run
    assert spy == []
    re = _once(spy, wh, "re", lambda: compact_snapshots(
        spark, path, ["s0"], "re", mode="reencode", **kw))
    assert re["compacted_from"] == ["s0"] and operation(re) == "replace"
    mat = _once(spy, wh, "mat", lambda: materialize_deletes(
        spark, path, "up", dest_snapshot="mat", **kw))
    assert operation(mat) == "replace" and mat["materialized_from"] == "up"
    assert "delete_files" not in mat


RACER = """
import os, sys, time
sys.path.insert(0, sys.argv[4])
from orc_spark.warehouse import SnapshotExists, Warehouse
path, me, go = sys.argv[1:4]
w = Warehouse(path)
parts = {f"p{i}": {"file": f"/x/{me}-{i}", "n_rows": i} for i in range(3000)}
deadline = time.time() + 60
while not os.path.exists(go) and time.time() < deadline:
    pass
try:
    w.commit("race", parts, {"doc_id": "string"}, extra={"writer": me})
    print("won")
except SnapshotExists:
    print("lost")
"""


@pytest.mark.parametrize("n", [2, 2, 6])  # 6: more racers than cores
def test_racing_processes_commit_one_name_exactly_one_wins(tmp_path, n):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "wh")
    go = str(tmp_path / "go")
    procs = {
        me: subprocess.Popen(
            [sys.executable, "-c", RACER, path, me, go, repo],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for me in "abcdef"[:n]
    }
    time.sleep(0.5)  # all are importing, then spinning on `go`
    open(go, "w").close()
    outs = {}
    for me, p in procs.items():
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs[me] = out.strip()
    assert sorted(outs.values()) == ["lost"] * (n - 1) + ["won"]
    winner = next(me for me, o in outs.items() if o == "won")
    wh = Warehouse(path)
    m = wh.read_manifest("race")  # whole: parses, every entry the winner's
    assert m["writer"] == winner and len(m["partitions"]) == 3000
    assert all(p["file"].startswith(f"/x/{winner}-") for p in m["partitions"].values())
    assert wh.commit_log() == ["race"] and wh.current_snapshot_id() == "race"
    assert [f for f in os.listdir(wh.manifest_dir) if f.endswith(".tmp")] == []

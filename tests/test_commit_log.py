"""The commit log (warehouse.py) is the table's only state.

CURRENT, the refs, `commit_log()` and the stream offsets are folds over
numbered put-if-absent entries. A seeded model check runs random
sequences of commits, ref moves, rollbacks and expiries against a plain
in-memory model. Real processes race writers: of two writes that read the
table from one head, exactly one commits and the other raises
CommitConflict, while two appends both land."""

import json
import os
import random
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from orc_spark.datasource import TokstripeStreamReader, TokstripeStreamWriter, _CommitMsg
from orc_spark.deletes import delete_where
from orc_spark.fixtures import tokens_arrow
from orc_spark.maintenance import expire_snapshots, vacuum_orphans
from orc_spark.pipeline import decode_table, encode_table
from orc_spark.warehouse import MAIN, CommitConflict, SnapshotExists, Warehouse

SCHEMA = {"doc_id": "string"}
REFS = ("t1", "t2", "b1", "b2")


def _part(name: str) -> dict:
    return {"p0": {"file": f"/x/{name}.parquet", "n_rows": 1}}


@pytest.mark.parametrize("seed", range(8))
def test_log_fold_matches_a_model(tmp_path, seed):
    rng = random.Random(seed)
    wh = Warehouse(str(tmp_path / "wh"))
    reader = TokstripeStreamReader({"path": wh.path}, StructType([]))
    commits: list[str] = []           # the model: commit order,
    heads: dict[str, tuple] = {}      # ref -> (snapshot, kind), main included,
    expired: set[str] = set()         # and expired snapshots
    fresh = iter(f"s{i}" for i in range(10**6))

    def live():
        return [s for s in commits if s not in expired]

    def refuses(exc, match, fn):
        with pytest.raises(exc, match=match):
            fn()

    for _ in range(80):
        op = rng.choice(["main", "main", "branch", "stale", "ref", "ref",
                         "rollback", "drop", "expire", "again"])
        if op == "main":  # an append
            name = next(fresh)
            m = wh.commit(name, _part(name), SCHEMA)
            assert m["parent"] == heads.get(MAIN, (None,))[0]
            commits.append(name)
            heads[MAIN] = (name, "branch")
        elif op == "branch":  # a write that read the branch's head
            ref, name = rng.choice(REFS), next(fresh)
            head = heads.get(ref, (None, None))
            if head[1] == "tag":
                refuses(ValueError, "tag", lambda: wh.commit(
                    name, _part(name), SCHEMA, ref=ref, expect=head[0]))
                assert not os.path.exists(wh.manifest_file(name))
            else:
                wh.commit(name, _part(name), SCHEMA, ref=ref, expect=head[0])
                commits.append(name)
                heads[ref] = (name, "branch")
        elif op == "stale":  # a write whose ref's head moved under it
            ref, name = rng.choice((MAIN, "b1")), next(fresh)
            if heads.get(ref, (None, None))[1] == "tag":
                continue
            refuses(CommitConflict, "not committed", lambda: wh.commit(
                name, _part(name), SCHEMA, ref=ref, expect="moved-on"))
            assert not os.path.exists(wh.manifest_file(name))
        elif op == "ref":
            ref, kind = rng.choice(REFS), rng.choice(("tag", "branch"))
            target = rng.choice(commits + ["ghost"])
            have = heads.get(ref)
            call = lambda: wh.set_ref(ref, target, kind=kind)  # noqa: E731
            if target not in live():
                refuses(ValueError, "no manifest", call)
            elif have and have[1] == "tag":
                refuses(ValueError, "immutable", call)
            elif have and have[1] != kind:
                refuses(ValueError, "kind", call)
            else:
                call()
                heads[ref] = (target, kind)
        elif op == "rollback":
            target = rng.choice(commits + ["ghost"])
            if target in live():
                wh.rollback(target)
                heads[MAIN] = (target, "branch")
            else:
                refuses(ValueError, "no manifest", lambda: wh.rollback(target))
        elif op == "drop":
            ref = rng.choice(REFS)
            if ref in heads:
                wh.delete_ref(ref)
                del heads[ref]
            else:
                refuses(ValueError, "no ref", lambda: wh.delete_ref(ref))
        elif op == "expire" and live():
            target = rng.choice(live())
            call = lambda: expire_snapshots(wh.path, [target])  # noqa: E731
            if target == heads.get(MAIN, (None,))[0]:
                refuses(ValueError, "CURRENT", call)
            elif any(h[0] == target for r, h in heads.items() if r != MAIN):
                refuses(ValueError, "pinned", call)
            else:
                call()
                expired.add(target)
        elif op == "again" and commits:  # a commit whose entry exists
            name = rng.choice(commits)
            refuses(SnapshotExists, "already committed",
                    lambda: wh.commit(name, _part(name), SCHEMA))

        assert wh.current_snapshot_id() == heads.get(MAIN, (None,))[0]
        assert {r: (v["snapshot"], v["kind"]) for r, v in wh.refs().items()} \
            == {r: h for r, h in heads.items() if r != MAIN}
        assert wh.commit_log() == commits
        assert reader.latestOffset() == {"pos": len(commits)}
        for r, h in heads.items():
            if r != MAIN:
                assert wh.resolve_snapshot(r) == h[0]
        assert [s for s in commits if wh.read_manifest(s) is None] == sorted(
            expired, key=commits.index)


def test_an_entry_without_its_manifest_and_a_manifest_without_an_entry(tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    for s in ("a", "b"):
        wh.commit(s, _part(s), SCHEMA)
    # an entry that names a missing manifest: still logged and named, never
    # a ref or rollback target, and its name stays taken
    os.remove(wh.manifest_file("a"))
    assert wh.commit_log() == ["a", "b"] and wh.resolve_snapshot("a") == "a"
    with pytest.raises(ValueError, match="no manifest"):
        wh.rollback("a")
    with pytest.raises(ValueError, match="no manifest"):
        wh.set_ref("t", "a")
    with pytest.raises(SnapshotExists):
        wh.commit("a", _part("a"), SCHEMA)
    # a manifest that no entry names (a writer died between its manifest
    # and its entry) is not committed: not logged, not resolvable, no target
    with open(wh.manifest_file("ghost"), "w") as fh:
        json.dump({**wh.read_manifest("b"), "snapshot_id": "ghost"}, fh)
    assert wh.commit_log() == ["a", "b"] and wh.current_snapshot_id() == "b"
    with pytest.raises(ValueError, match="not committed"):
        wh.resolve_snapshot("ghost")
    with pytest.raises(ValueError, match="no manifest"):
        wh.rollback("ghost")
    with pytest.raises(SnapshotExists):
        wh.commit("ghost", _part("ghost"), SCHEMA)
    reader = TokstripeStreamReader({"path": wh.path}, StructType([]))
    assert reader.latestOffset() == {"pos": 2}
    assert [t.file for p in reader.partitions({"pos": 0}, {"pos": 2}) for t in p.files] \
        == ["/x/b.parquet"]  # a's manifest is gone, ghost is not a commit


def test_an_unlogged_manifest_never_passes_for_a_commit(tmp_path):
    """A writer that died between its manifest and its log entry committed
    nothing. A stream epoch over such a manifest is not taken for a replay:
    its commit raises (Spark retries it) and keeps its files. A re-run
    encode of the name fails before any job. vacuum_orphans removes the
    manifest once it is older than min_age_s, and the epoch then commits;
    its real replay after that drops its re-staged files."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.commit("a", _part("a"), SCHEMA)
    epoch = "st-e000001"
    with open(wh.manifest_file(epoch), "w") as fh:
        json.dump({**wh.read_manifest("a"), "snapshot_id": epoch}, fh)
    schema = StructType.fromJson({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in (("doc_id", "string"), ("source", "string"))]})
    writer = TokstripeStreamWriter({"path": wh.path, "snapshot": "st"}, schema)

    def staged(tag):
        f = str(tmp_path / f"staged-{tag}.parquet")
        open(f, "w").close()
        return f, [_CommitMsg({"p0": {"file": f, "n_rows": 1}})]

    f1, msgs = staged(1)
    with pytest.raises(SnapshotExists, match="no log entry names"):
        writer.commit(msgs, 1)
    assert os.path.exists(f1) and wh.commit_log() == ["a"]
    with pytest.raises(SnapshotExists, match="no log entry names"):
        encode_table(None, None, wh.path, epoch)  # no session: no job ran
    assert vacuum_orphans(wh.path, min_age_s=3600)["files_deleted"] == 0
    old = time.time() - 7200
    os.utime(wh.manifest_file(epoch), (old, old))
    assert vacuum_orphans(wh.path, min_age_s=3600)["files_deleted"] == 1
    writer.commit(msgs, 1)
    assert wh.commit_log() == ["a", epoch]
    assert wh.read_manifest(epoch)["partitions"]["p0"]["file"] == f1
    f2, replay = staged(2)
    writer.commit(replay, 1)  # a replay: dropped, not re-published
    assert not os.path.exists(f2) and os.path.exists(f1)
    assert wh.commit_log() == ["a", epoch]


def test_bad_ref_names_are_refused_on_every_path(tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.commit("a", _part("a"), SCHEMA)
    for name in ("x/y", "main", "snap-1", ""):
        with pytest.raises(ValueError, match="bad ref name"):
            wh.set_ref(name, "a", kind="branch")
        # a branch write checks its name before it reads anything
        with pytest.raises(ValueError, match="bad ref name"):
            delete_where(None, wh.path, ("doc_id", ["k"]), snapshot="a", branch=name)
        if name != MAIN:
            with pytest.raises(ValueError, match="bad ref name"):
                wh.commit("b", _part("b"), SCHEMA, ref=name, expect=None)
    assert wh.commit_log() == ["a"] and wh.refs() == {}
    assert wh.read_manifest("b") is None


def test_the_log_is_read_again_when_the_warehouse_is_made_anew(tmp_path):
    """A process folds each entry once; a warehouse removed and made again
    at the same path (its entry 0 differs) is read from the start."""
    path = str(tmp_path / "wh")
    wh = Warehouse(path)
    for s in ("a", "b"):
        wh.commit(s, _part(s), SCHEMA)
    assert wh.commit_log() == ["a", "b"]
    shutil.rmtree(path)
    wh = Warehouse(path)
    assert wh.commit_log() == [] and wh.current_snapshot_id() is None
    wh.commit("c", _part("c"), SCHEMA)
    assert wh.commit_log() == ["c"] and wh.current_snapshot_id() == "c"


def test_a_warehouse_without_the_log_is_refused(tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with open(os.path.join(wh.manifest_dir, "COMMITLOG"), "w") as fh:
        fh.write("a\n")
    for call in (wh.commit_log, wh.current_snapshot_id, wh.refs,
                 lambda: wh.commit("b", _part("b"), SCHEMA)):
        with pytest.raises(ValueError, match="before the table kept its commit log"):
            call()
    assert not os.path.exists(wh.log_dir)


WORKER = """
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from orc_spark import deletes
from orc_spark.pipeline import decode_table, encode_table
from orc_spark.session import get_spark
from orc_spark.warehouse import Warehouse

path, ctl, me, inp = sys.argv[2:6]
spark = get_spark(cpus=1, shuffle_partitions=2, app_name="race-" + me)
spark.sparkContext.setLogLevel("ERROR")


def wait(f):
    deadline = time.time() + 300
    while not os.path.exists(os.path.join(ctl, f)):
        if time.time() > deadline:
            raise TimeoutError(f)
        time.sleep(0.005)


# hold each commit until both writers have planned theirs
orig = Warehouse.commit
step = None


def commit(self, *a, **kw):
    open(os.path.join(ctl, step + "." + me + ".ready"), "w").close()
    for w in "ab":
        wait(step + "." + w + ".ready")
    return orig(self, *a, **kw)


Warehouse.commit = commit
key = {"a": "doc-0000000003", "b": "doc-0000000007"}[me]
ops = {
    "del": lambda: deletes.delete_where(spark, path, ("doc_id", [key]), dest="del-" + me),
    "mix": lambda: deletes.delete_where(spark, path, ("doc_id", ["doc-0000000011"]),
                                        dest="mix-a")
    if me == "a" else deletes.upsert(
        spark, path, decode_table(spark, path).limit(3).withColumn(
            "tokens", F.expr("transform(tokens, x -> CAST(x + 1 AS INT))")),
        dest="mix-b", salt_buckets=2),
    "app": lambda: encode_table(spark, spark.read.parquet(inp), path, "app-" + me,
                                salt_buckets=2, stripe_tokens=20_000),
}
for step in ("del", "mix", "app"):
    wait(step + ".go")
    try:
        res = {"ok": ops[step]()["snapshot_id"]}
    except Exception as e:
        res = {"error": type(e).__name__, "msg": str(e)}
    with open(os.path.join(ctl, "tmp-" + me), "w") as fh:
        json.dump(res, fh)
    os.replace(os.path.join(ctl, "tmp-" + me), os.path.join(ctl, step + "." + me + ".json"))
"""


def test_racing_writer_processes(spark, tmp_path):
    """Two processes write from one head, each commit held until both have
    planned. Two deletes, and a delete and an upsert: exactly one commits,
    the other raises CommitConflict, and CURRENT reads exactly the winner's
    rows on top of the base. Two appends: both land, on distinct
    ordinals."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path, ctl = str(tmp_path / "wh"), tmp_path / "ctl"
    ctl.mkdir()
    base = tokens_arrow(200)
    encode_table(spark, spark.createDataFrame(base.to_pandas()), path, "s",
                 salt_buckets=2, stripe_tokens=20_000)
    inp = str(tmp_path / "app.parquet")
    pq.write_table(tokens_arrow(50, seed=5), inp)
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    procs = [subprocess.Popen([sys.executable, "-c", WORKER, repo, path, str(ctl), me, inp],
                              env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True) for me in "ab"]
    w = Warehouse(path)

    def step(name):
        (ctl / f"{name}.go").touch()
        deadline = time.time() + 600
        while not all((ctl / f"{name}.{me}.json").exists() for me in "ab"):
            assert time.time() < deadline and all(p.poll() is None for p in procs), \
                [p.communicate()[1][-3000:] for p in procs if p.poll() is not None]
            time.sleep(0.1)
        return {me: json.loads((ctl / f"{name}.{me}.json").read_text()) for me in "ab"}

    def one_wins(name, parent):
        res = step(name)
        won = [r["ok"] for r in res.values() if "ok" in r]
        lost = [r for r in res.values() if "ok" not in r]
        assert len(won) == 1 and [r["error"] for r in lost] == ["CommitConflict"], res
        assert won[0] in lost[0]["msg"]  # the conflict names the winner
        assert w.current_snapshot_id() == w.commit_log()[-1] == won[0]
        assert w.read_manifest(won[0])["parent"] == parent
        (loser,) = {f"{name}-a", f"{name}-b"} - set(won)
        assert w.read_manifest(loser) is None and loser not in w.commit_log()
        return won[0]

    try:
        keys = set(base.column("doc_id").to_pylist())
        won = one_wins("del", "s")
        got = {r[0] for r in decode_table(spark, path).select("doc_id").collect()}
        assert got == keys - {{"del-a": "doc-0000000003", "del-b": "doc-0000000007"}[won]}

        won2 = one_wins("mix", won)
        n = decode_table(spark, path).count()
        assert n == len(keys) - 1 - (won2 == "mix-a")

        res = step("app")
        assert all("ok" in r for r in res.values()), res
        log = w.commit_log()
        i, j = log.index("app-a"), log.index("app-b")
        assert i != j and sorted((i, j)) == [len(log) - 2, len(log) - 1]
        last, first = log[-1], log[-2]
        assert w.current_snapshot_id() == last
        assert w.read_manifest(last)["parent"] == first
        assert w.read_manifest(first)["parent"] == won2
    except BaseException:
        for p in procs:
            p.kill()
        raise
    for p in procs:
        err = p.communicate(timeout=120)[1]
        assert p.returncode == 0, err[-3000:]

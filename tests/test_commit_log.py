"""The commit log (warehouse.py) is the table's only state.

CURRENT, the refs, `commit_log()` and the stream offsets are folds over
numbered put-if-absent entries. A seeded model check runs random
sequences of commits, ref moves, rollbacks and expiries against a plain
in-memory model. Real processes race writers: of two writes that read the
table from one head, exactly one commits and the other raises
CommitConflict, while two appends both land."""

import glob
import json
import os
import random
import select
import shutil
import signal
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


def _manifests_on_disk(wh: Warehouse, name: str) -> list[str]:
    """Every manifest file a writer of `name` left, committed or not."""
    return glob.glob(os.path.join(glob.escape(wh.manifest_dir), f"snap-{name}-*.json"))


def _orphan(wh: Warehouse, name: str, like: str) -> str:
    """The manifest a writer of `name` killed before its log entry leaves:
    a copy of `like`'s under a writer-unique name."""
    f = os.path.join(wh.manifest_dir, f"snap-{name}-0123456789ab.json")
    with open(f, "w") as fh:
        json.dump({**wh.read_manifest(like), "snapshot_id": name}, fh)
    return f


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
                assert _manifests_on_disk(wh, name) == []
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
            assert _manifests_on_disk(wh, name) == []
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
    # and its entry) is not committed: not logged, no manifest, no target,
    # and it holds no name
    _orphan(wh, "ghost", like="b")
    assert wh.commit_log() == ["a", "b"] and wh.current_snapshot_id() == "b"
    assert wh.resolve_snapshot("ghost") == "ghost" and wh.read_manifest("ghost") is None
    assert wh.manifest_file("ghost") is None
    with pytest.raises(ValueError, match="no manifest"):
        wh.rollback("ghost")
    with pytest.raises(ValueError, match="no manifest"):
        wh.set_ref("t", "ghost")
    reader = TokstripeStreamReader({"path": wh.path}, StructType([]))
    assert reader.latestOffset() == {"pos": 2}
    assert [t.file for p in reader.partitions({"pos": 0}, {"pos": 2}) for t in p.files] \
        == ["/x/b.parquet"]  # a's manifest is gone, ghost is not a commit
    wh.commit("ghost", _part("ghost"), SCHEMA)  # commits at once
    assert wh.commit_log() == ["a", "b", "ghost"] and reader.latestOffset() == {"pos": 3}
    assert wh.read_manifest("ghost")["partitions"]["p0"]["file"] == "/x/ghost.parquet"


def test_an_entry_that_names_no_manifest_reads_the_name_keyed_one(tmp_path):
    """A commit entry written before entries named their manifest file
    reads `snap-<snapshot>.json`, and vacuum keeps that file."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.commit("a", _part("a"), SCHEMA)
    os.makedirs(str(tmp_path / "old" / "manifests"))
    old = Warehouse(str(tmp_path / "old"))
    os.replace(wh.manifest_file("a"), os.path.join(old.manifest_dir, "snap-a.json"))
    with open(wh.log_entry(0)) as fh:
        entry = json.load(fh)
    del entry["manifest"]
    os.makedirs(old.log_dir)
    with open(old.log_entry(0), "w") as fh:
        json.dump(entry, fh)
    assert old.commit_log() == ["a"]
    assert old.manifest_file("a") == os.path.join(old.manifest_dir, "snap-a.json")
    assert old.read_manifest("a")["partitions"]["p0"]["file"] == "/x/a.parquet"
    assert vacuum_orphans(old.path, min_age_s=0)["files_deleted"] == 0
    assert old.commit("b", _part("b"), SCHEMA)["parent"] == "a"
    assert old.commit_log() == ["a", "b"] and old.read_manifest("a") is not None


def test_an_unlogged_manifest_never_passes_for_a_commit(tmp_path):
    """A writer that died between its manifest and its log entry committed
    nothing and holds nothing. A stream epoch over such a manifest is no
    replay: it commits at once with its own files, and its real replay
    after that drops its re-staged files. A re-run encode of the name then
    finds it committed and runs no job. vacuum_orphans removes the dead
    writer's manifest once it is older than min_age_s."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.commit("a", _part("a"), SCHEMA)
    epoch = "st-e000001"
    orphan = _orphan(wh, epoch, like="a")
    schema = StructType.fromJson({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in (("doc_id", "string"), ("source", "string"))]})
    writer = TokstripeStreamWriter({"path": wh.path, "snapshot": "st"}, schema)

    def staged(tag):
        f = str(tmp_path / f"staged-{tag}.parquet")
        open(f, "w").close()
        return f, [_CommitMsg({"p0": {"file": f, "n_rows": 1}})]

    f1, msgs = staged(1)
    writer.commit(msgs, 1)  # commits at once
    assert os.path.exists(f1) and wh.commit_log() == ["a", epoch]
    assert wh.read_manifest(epoch)["partitions"]["p0"]["file"] == f1
    # no session: a committed name runs no job
    assert encode_table(None, None, wh.path, epoch) == wh.read_manifest(epoch)
    assert vacuum_orphans(wh.path, min_age_s=3600)["files_deleted"] == 0
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    assert vacuum_orphans(wh.path, min_age_s=3600)["files_deleted"] == 1
    assert not os.path.exists(orphan) and _manifests_on_disk(wh, epoch) == [wh.manifest_file(epoch)]
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


KILLED = """
import json, sys
sys.path.insert(0, sys.argv[1])
from orc_spark.warehouse import Warehouse

path, name, parts = sys.argv[2:5]
w = Warehouse(path)
create = w._create


def create_entry_after_eof(p, obj):
    if p.startswith(w.log_dir):
        print("manifest on disk", flush=True)
        sys.stdin.read()  # blocks: the test kills this process here
    return create(p, obj)


w._create = create_entry_after_eof
w.commit(name, json.load(open(parts)), {"doc_id": "string"})
"""


def _kill_between_manifest_and_entry(tmp_path, wh: Warehouse, name: str, parts: dict) -> str:
    """Run a commit of `name` in a writer process, SIGKILL it once its
    manifest is on disk and before its log entry; return that manifest."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pf = str(tmp_path / f"{name}.parts.json")
    with open(pf, "w") as fh:
        json.dump(parts, fh)
    p = subprocess.Popen([sys.executable, "-c", KILLED, repo, wh.path, name, pf],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        ready, _, _ = select.select([p.stdout], [], [], 120)
        assert ready and p.stdout.readline() == "manifest on disk\n", p.stderr.read()
        (orphan,) = _manifests_on_disk(wh, name)
        p.send_signal(signal.SIGKILL)
        assert p.wait(timeout=60) == -signal.SIGKILL
    finally:
        p.kill()
        p.communicate(timeout=60)
    assert os.path.exists(orphan)
    return orphan


def test_a_writer_killed_between_manifest_and_entry_holds_no_name(spark, tmp_path):
    """The log entry is the only commit point. A writer SIGKILLed after its
    manifest is on disk and before its entry committed nothing: no reader
    takes its manifest for a commit, and a re-run of the name commits at
    once, through Warehouse.commit or encode_table (which adopts the dead
    run's data files). vacuum_orphans removes the dead manifests only past
    min_age_s."""
    from orc_spark.pipeline import LAYOUT, encode_files

    path = str(tmp_path / "wh")
    wh = Warehouse(path)
    wh.commit("a", _part("a"), SCHEMA)
    t = tokens_arrow(200)
    df = spark.createDataFrame(t.to_pandas())
    kw = {"salt_buckets": 2, "stripe_tokens": 20_000}
    # the dead encode's data files, as its jobs left them
    parts, _ = encode_files(spark, df, path, "e", num_partitions=None, max_pid_tokens=None,
                            skip=frozenset(), **LAYOUT, **kw)
    orphans = [_kill_between_manifest_and_entry(tmp_path, wh, "c", _part("c")),
               _kill_between_manifest_and_entry(tmp_path, wh, "e", parts)]

    reader = TokstripeStreamReader({"path": path}, StructType([]))
    for name in ("c", "e"):
        assert wh.commit_log() == ["a"] and wh.current_snapshot_id() == "a"
        assert wh.resolve_snapshot(name) == name and wh.read_manifest(name) is None
        with pytest.raises(ValueError, match="no manifest"):
            wh.set_ref("t", name)
        with pytest.raises(ValueError, match="no manifest"):
            wh.rollback(name)
    assert reader.latestOffset() == {"pos": 1}
    assert [f.file for p in reader.partitions({"pos": 0}, {"pos": 1}) for f in p.files] \
        == ["/x/a.parquet"]

    assert wh.commit("c", _part("c"), SCHEMA)["snapshot_id"] == "c"
    m = encode_table(spark, df, path, "e", **kw)
    assert wh.commit_log() == ["a", "c", "e"] and wh.current_snapshot_id() == "e"
    assert sorted(m["partitions"]) == sorted(parts)
    assert all(p["adopted"] for p in m["partitions"].values())
    assert decode_table(spark, path, "e").count() == t.num_rows

    assert vacuum_orphans(path, min_age_s=3600)["files_deleted"] == 0
    old = time.time() - 7200
    for f in orphans:
        os.utime(f, (old, old))
    assert vacuum_orphans(path, min_age_s=3600)["files_deleted"] == 2
    assert not any(map(os.path.exists, orphans))
    assert wh.read_manifest("e") == m and decode_table(spark, path, "e").count() == t.num_rows

"""Manifest-driven scan (pipeline.plan_table / file_bins / scan_bins /
read_table_bin): every
Spark read of stripe files runs from the manifest's file list — no Spark
file listing, no schema inference — in size-balanced bins, one task each,
with each file carrying its own seq-scoped delete set."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from orc_spark import deletes
from orc_spark.datasource import register
from orc_spark.fixtures import tokens_arrow
from orc_spark.pipeline import (
    decode_table, encode_table, export_orc, file_bins, file_sizes, read_table_bin, run_tasks,
    scan_bins, scan_task,
)
from orc_spark.warehouse import Warehouse


def test_file_bins_balance_largest_first():
    sizes = [90, 70, 50, 40, 30, 20, 10, 5]
    m = {"partitions": {f"p{i}": {"file": f"f{i}", "enc_bytes": s}
                        for i, s in enumerate(sizes)}}
    size = file_sizes(m)
    entries = [(f"f{i}", ()) for i in range(len(sizes))]
    bins = file_bins(size, entries, 3)
    assert sorted(e for b in bins for e in b) == sorted(entries)
    loads = sorted(sum(sizes[int(f[1:])] for f, _ in b) for b in bins)
    assert loads == [100, 105, 110]  # greedy LPT: 90+20 | 70+30+5 | 50+40+10
    assert bins == file_bins(size, list(reversed(entries)), 3)  # order-free
    # never more bins than files; an empty scan has no bins
    assert len(file_bins(size, entries[:2], 8)) == 2
    assert file_bins(size, [], 4) == []


@pytest.fixture(scope="module")
def wide_wh(spark, tmp_path_factory):
    """40 data files: more than Spark's parallel-listing threshold of 32."""
    wh = str(tmp_path_factory.mktemp("wide_wh"))
    t = tokens_arrow(1000, seed=11)
    encode_table(spark, spark.createDataFrame(t.to_pandas()), wh,
                 snapshot="w", salt_buckets=8, stripe_tokens=50_000)
    return wh, t


def test_decode_table_call_starts_no_spark_job(spark, wide_wh):
    wh, t = wide_wh
    assert len(Warehouse(wh).committed_files("w")) == 40
    sc = spark.sparkContext
    sc.setJobGroup("decode-plan", "decode_table calls only")
    try:
        full = decode_table(spark, wh)
        pruned = decode_table(spark, wh, columns=["doc_id", "n_tok"],
                              predicate=("source", ["books", "cc"]))
    finally:
        sc.setJobGroup("decode-action", "actions")
    assert sc.statusTracker().getJobIdsForGroup("decode-plan") == []
    # one task per core-sized bin, and the reads are exact
    assert full.rdd.getNumPartitions() == sc.defaultParallelism
    assert full.agg(F.count(F.lit(1)), F.sum("n_tok")).first() == (
        t.num_rows, sum(t.column("n_tok").to_pylist()))
    want = sum(s in ("books", "cc") for s in t.column("source").to_pylist())
    assert pruned.count() == want


def _rows(df):
    return sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in df.collect()
    )


def test_scan_with_mixed_delete_sets_is_exact(spark, tmp_path, monkeypatch):
    """delete → upsert → delete leaves three different delete sets: the
    base files carry (d1, u, d2), the upsert's files only (d2). One scan
    reads them all, equal to the row model, through decode_table and the
    tokstripe format — and the driver never sizes or loads a delete
    set: the tasks load them."""
    wh = str(tmp_path / "mix_wh")
    t = tokens_arrow(600, seed=5)
    encode_table(spark, spark.createDataFrame(t.to_pandas()), wh,
                 snapshot="m0", salt_buckets=2, stripe_tokens=20_000)
    model = {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in t.to_pylist()
    }
    d1 = deletes.delete_where(spark, wh, ("n_tok", 10, 100))["snapshot_id"]
    for k in [k for k, v in model.items() if 10 <= v[1] <= 100]:
        del model[k]
    # update 20 keys (some deleted by d1 — the upsert re-inserts them) and
    # add 5 new ones
    keys = sorted(t.column("doc_id").to_pylist())[::30][:20]
    new = {k: ((7, 8), 2, "up") for k in keys + [f"new-{i}" for i in range(5)]}
    up = pa.table({
        "doc_id": list(new),
        "tokens": pa.array([list(v[0]) for v in new.values()], pa.list_(pa.int32())),
        "n_tok": pa.array([v[1] for v in new.values()], pa.int32()),
        "source": [v[2] for v in new.values()],
    })
    u = deletes.upsert(spark, wh, spark.createDataFrame(up.to_pandas()),
                       salt_buckets=2)["snapshot_id"]
    model.update(new)
    gone = [keys[0], "new-0", next(k for k in model if k not in new)]
    d2 = deletes.delete_where(spark, wh, ("doc_id", gone), snapshot=u)["snapshot_id"]
    for k in gone:
        del model[k]

    m = Warehouse(wh).read_manifest(d2)
    files = [p["file"] for p in m["partitions"].values()]
    assert len(set(deletes.applicable_deletes(m, files).values())) == 2
    want = sorted((k,) + v for k, v in model.items())

    def driver_load(files, *a, **k):
        raise AssertionError(f"driver opened delete files {files}")

    monkeypatch.setattr(deletes, "count_delete_keys", driver_load)
    monkeypatch.setattr(deletes, "load_delete_keys", driver_load)
    read = decode_table(spark, wh, snapshot=d2)
    assert "Union" not in read._jdf.queryExecution().optimizedPlan().toString()
    assert _rows(read) == want
    register(spark)
    fmt = spark.read.format("tokstripe").option("path", wh).option("snapshot", d2).load()
    assert _rows(fmt) == want
    # d1 stays readable: time travel sees its own delete set only
    assert decode_table(spark, wh, snapshot=d1).count() == sum(
        not 10 <= n <= 100 for n in t.column("n_tok").to_pylist())


def test_missing_data_file_fails_read_with_its_path(spark, tmp_path):
    wh = str(tmp_path / "gone_wh")
    t = tokens_arrow(300, seed=9)
    encode_table(spark, spark.createDataFrame(t.to_pandas()), wh,
                 snapshot="g", salt_buckets=2, stripe_tokens=20_000)
    victim = Warehouse(wh).committed_files("g")[3]
    os.remove(victim)
    df = decode_table(spark, wh)  # planning reads only the manifest
    with pytest.raises(Exception) as e:
        df.count()
    assert victim in str(e.value)


def test_unknown_column_is_a_value_error_on_both_reads(spark, wide_wh):
    wh, _ = wide_wh
    with pytest.raises(ValueError, match=r"columns \['nope'\] not in snapshot schema"):
        decode_table(spark, wh, columns=["doc_id", "nope"])
    register(spark)
    with pytest.raises(Exception, match=r"columns \['nope'\] not in snapshot schema"):
        spark.read.format("tokstripe").option("path", wh).schema(
            "doc_id string, nope int").load().collect()


def test_reused_worker_task_rereads_no_zip_directory(spark, wide_wh):
    """An engine task on a reused Python worker starts with no zip-directory
    re-read (stdlib 3.11 re-reads 16 at every task's invalidate_caches) and
    a frozen import-time heap (orc_spark.worker.bootstrap)."""
    wh, _ = wide_wh
    files = Warehouse(wh).committed_files("w")
    names = ["doc_id", "n_tok"]

    def probe_bin(entries):
        import gc
        import os
        import zipimport

        read = zipimport._read_directory
        if not hasattr(read, "calls"):  # first task in this worker: count from here
            def read(archive, _read=read):
                read.calls += 1
                return _read(archive)
            read.calls = read.tasks = 0
            zipimport._read_directory = read
        read.tasks += 1
        start = read.calls
        rows = sum(b.num_rows for b in read_table_bin(entries, [], names))
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "seq": read.tasks, "start": start,
            "end": read.calls, "frozen": gc.get_freeze_count(), "rows": rows,
        }])

    # 40 one-file tasks on 4 slots: Python workers are reused
    out = scan_bins(spark, [[(f, (), None)] for f in files], probe_bin,
                    "pid long, seq long, start long, end long, frozen long, rows long"
                    ).collect()
    assert sum(r.rows for r in out) == 1000
    by_pid: dict[int, list] = {}
    for r in out:
        by_pid.setdefault(r.pid, []).append(r)
    setup_reads = []  # zip-directory reads between one task's end and the next's start
    for tasks in by_pid.values():
        tasks.sort(key=lambda r: r.seq)
        setup_reads += [b.start - a.end for a, b in zip(tasks, tasks[1:])]
    assert setup_reads and setup_reads == [0] * len(setup_reads)
    assert min(r.frozen for r in out) > 0


def test_work_first_tasks_run_on_reused_workers(spark):
    """scan_bins and run_tasks tasks do their work before they read their
    input, and still drain it, so PySpark reuses their workers: 40 tasks
    on 4 slots run in a few worker processes, not one each."""

    def read_bin(i):
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "bin": i}])

    rows = scan_bins(spark, list(range(40)), read_bin, "pid long, bin long").collect()
    assert sorted(r.bin for r in rows) == list(range(40))
    assert len({r.pid for r in rows}) <= 8

    got = run_tasks(spark, list(range(40)), lambda i: [{"pid": os.getpid(), "i": i}])
    assert [d["i"] for d in got] == list(range(40))
    assert len({d["pid"] for d in got}) <= 8


def test_scan_task_reads_the_bin_its_trigger_names(spark):
    """The partition id only guesses the bin: a task whose trigger names
    another bin drops what it read, with the accumulator counts of that
    read, and reads the named bin."""
    acc = spark.sparkContext.accumulator(0)
    bins = [[10, 11], [20], [30, 31, 32]]

    def read_bin(b):
        for v in b:
            acc.add(1)
            yield pa.RecordBatch.from_pylist([{"v": v}])

    def trigger(*rows):
        return [pa.RecordBatch.from_pylist([{"id": r} for r in rows])]

    def values(part, *rows):
        return [v for b in scan_task(bins, read_bin, part, trigger(*rows))
                for v in b.column(0).to_pylist()]

    assert values(2, 2) == [30, 31, 32] and acc.value == 3
    assert values(1, 0) == [10, 11] and acc.value == 5
    assert values(7, 1) == [20] and acc.value == 6  # an id past the bins
    assert values(0, 2, 1) == [30, 31, 32, 20] and acc.value == 10


def test_scans_under_renumbering_plans_are_exact(spark, wide_wh):
    """A union after another input and a coalesce run scan tasks under
    partition ids that are not their bins'; each read stays exact."""
    wh, t = wide_wh
    one = decode_table(spark, wh, columns=["doc_id"])
    # one partition ahead of the scan's, so its task i runs as partition i + 1
    first = spark.range(1, numPartitions=1).selectExpr("'x' doc_id")
    want = sorted(t.column("doc_id").to_pylist())
    assert sorted(r.doc_id for r in first.unionAll(one).collect()) == sorted(want + ["x"])
    assert sorted(r.doc_id for r in one.unionAll(one).collect()) == sorted(want * 2)
    assert sorted(r.doc_id for r in one.coalesce(1).collect()) == want


def test_export_under_a_renumbering_plan_writes_each_file_once(spark, wide_wh, tmp_path):
    """A scan task that starts a bin and drops it rewrites that bin's
    export files under the same names, so the output is what the metas
    list, once."""
    wh, t = wide_wh
    out = str(tmp_path / "orc")
    # one partition ahead of the export's, so its task i runs as partition i + 1
    first = spark.range(1, numPartitions=1).selectExpr(
        "'x' pid", "0L stripes", "'x' file", "0L n_rows", "0L orc_bytes")
    metas = first.unionAll(export_orc(spark, wh, out, snapshot="w")).collect()[1:]
    assert sorted(os.listdir(out)) == sorted(os.path.basename(m.file) for m in metas)
    assert sum(m.n_rows for m in metas) == t.num_rows

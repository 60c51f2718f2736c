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
    decode_table, encode_table, file_bins, file_sizes, read_table_bin, scan_bins,
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

"""Snapshot compaction + expiry: the dest snapshot must decode identically
to the union of its sources (concat copies blobs verbatim; reencode goes
through the full codec path), file counts must actually collapse, merged
blooms must still prune, and expiry must remove exactly the source files."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from orc_spark.maintenance import compact_snapshots, expire_snapshots
from orc_spark.pipeline import decode_table, encode_table
from orc_spark.warehouse import Warehouse


def _epoch_df(spark, epoch: int, n=700):
    """Disjoint doc ranges per epoch — the stream-sink shape (one snapshot
    per micro-batch over an arriving corpus)."""
    return (
        spark.range(epoch * n, (epoch + 1) * n)
        .select(
            F.format_string("d%07d", F.col("id")).alias("doc_id"),
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 37) + 4),
                lambda i: ((i * 31 + F.col("id")) % 997).cast("int"),
            ).alias("tokens"),
            F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


@pytest.fixture(scope="module")
def epochs_wh(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("compact_wh"))
    for e in range(3):
        encode_table(
            spark, _epoch_df(spark, e), wh, snapshot=f"stream-{e:03d}",
            salt_buckets=4, stripe_tokens=2_000,
        )
    return wh


SNAPS = ["stream-000", "stream-001", "stream-002"]


def _union_sources(spark, wh):
    df = decode_table(spark, wh, SNAPS[0])
    for s in SNAPS[1:]:
        df = df.unionByName(decode_table(spark, wh, s))
    return df


def test_concat_compaction_is_lossless_and_collapses_files(spark, epochs_wh):
    m = compact_snapshots(spark, epochs_wh, SNAPS, "compacted")
    assert m["compacted_from"] == SNAPS
    got = decode_table(spark, epochs_wh, "compacted")
    want = _union_sources(spark, epochs_wh)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # file count: 3 epoch files per pid -> 1 compacted file per pid
    dest_files = glob.glob(epochs_wh + "/data/pid=*/snap-compacted.parquet")
    src_files = glob.glob(epochs_wh + "/data/pid=*/snap-stream-*.parquet")
    assert len(src_files) == 3 * len(dest_files) > 0
    # lineage metrics survive the merge
    tot = sum(p["n_rows"] for p in m["partitions"].values())
    assert tot == want.count()


def test_concat_preserves_blobs_verbatim(spark, epochs_wh):
    """concat must not touch blob bytes: dest enc_bytes == sum of sources'."""
    wh = Warehouse(epochs_wh)
    src_bytes = sum(
        p["enc_bytes"]
        for s in SNAPS
        for p in wh.read_manifest(s)["partitions"].values()
    )
    dst = wh.read_manifest("compacted")
    assert sum(p["enc_bytes"] for p in dst["partitions"].values()) == src_bytes
    assert all(p.get("compacted") for p in dst["partitions"].values())


def test_merged_blooms_still_prune_and_stay_transparent(spark, epochs_wh):
    dest_files = glob.glob(epochs_wh + "/data/pid=*/snap-compacted.parquet")
    sides = [f + ".bloom.json" for f in dest_files]
    assert all(os.path.exists(s) for s in sides)
    # merged n = total keys across epochs for that pid
    meta = json.load(open(sides[0]))
    assert meta["column"] == "doc_id" and meta["n"] > 0
    ids = ["d0000042", "d0000777", "d0001500"]  # spans epochs 0-2
    m = {}
    got = decode_table(
        spark, epochs_wh, "compacted", predicate=[("doc_id", ids)],
        prune_metrics=m,
    ).collect()
    assert sorted(r["doc_id"] for r in got) == ids
    files_pruned = m["files_pruned"] + m["files_bloom_pruned"]
    assert files_pruned > 0  # 2 sources x 4 buckets of pids; ids hit few


def test_concat_rerun_is_idempotent(spark, epochs_wh):
    before = json.dumps(
        Warehouse(epochs_wh).read_manifest("compacted")["partitions"],
        sort_keys=True,
    )
    compact_snapshots(spark, epochs_wh, SNAPS, "compacted")
    after = json.dumps(
        Warehouse(epochs_wh).read_manifest("compacted")["partitions"],
        sort_keys=True,
    )
    assert before == after


def test_reencode_compaction_merges_stripes(spark, epochs_wh):
    m = compact_snapshots(
        spark, epochs_wh, SNAPS, "reenc", mode="reencode",
        stripe_tokens=1_000_000, salt_buckets=4,
    )
    got = decode_table(spark, epochs_wh, "reenc")
    want = _union_sources(spark, epochs_wh)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    wh = Warehouse(epochs_wh)
    src_stripes = sum(
        p["stripes"]
        for s in SNAPS
        for p in wh.read_manifest(s)["partitions"].values()
    )
    dst_stripes = sum(
        p["stripes"] for p in wh.read_manifest("reenc")["partitions"].values()
    )
    assert dst_stripes < src_stripes  # tiny epoch stripes re-packed


def test_mismatched_layout_refused(spark, tmp_path):
    wh = str(tmp_path / "mix")
    encode_table(spark, _epoch_df(spark, 0, 60), wh, snapshot="a",
                 salt_buckets=2, stripe_tokens=2_000)
    encode_table(spark, _epoch_df(spark, 1, 60).withColumnRenamed("doc_id", "k"),
                 wh, snapshot="b", salt_buckets=2, stripe_tokens=2_000,
                 key_col="k")
    with pytest.raises(ValueError, match="schema differs"):
        compact_snapshots(spark, wh, ["a", "b"], "c")


def test_expire_sources_after_compaction(spark, epochs_wh):
    # CURRENT is now one of the compaction dests; sources are dead weight
    res = expire_snapshots(epochs_wh, SNAPS)
    assert res["files_deleted"] > 0
    assert glob.glob(epochs_wh + "/data/pid=*/snap-stream-*.parquet") == []
    assert Warehouse(epochs_wh).read_manifest(SNAPS[0]) is None
    # the compacted snapshot still decodes in full
    assert decode_table(spark, epochs_wh, "compacted").count() == 3 * 700
    # idempotent
    assert expire_snapshots(epochs_wh, SNAPS)["files_deleted"] == 0


def test_expire_refuses_current(spark, epochs_wh):
    cur = Warehouse(epochs_wh).current_snapshot_id()
    with pytest.raises(ValueError, match="CURRENT"):
        expire_snapshots(epochs_wh, [cur])


def test_vacuum_orphans(spark, tmp_path):
    """vacuum deletes dead-run files, stale temps and a committed
    snapshot's unlisted files past min_age_s, NEVER committed files."""
    from orc_spark.fixtures import tokens_arrow
    from orc_spark.maintenance import vacuum_orphans

    wh_path = str(tmp_path / "wh")
    df = spark.createDataFrame(tokens_arrow(2_000).to_pandas())
    encode_table(spark, df, wh_path, snapshot="live", salt_buckets=2,
                 stripe_tokens=50_000)
    wh = Warehouse(wh_path)
    committed = wh.committed_files("live")
    assert committed

    # plant garbage: a dead run's data file (no manifest), a stale temp,
    # and a complete file of the LIVE snapshot whose pid its manifest does
    # not list (copy a real one so it is valid parquet)
    pid_dir = os.path.dirname(committed[0])
    dead = os.path.join(pid_dir, "snap-deadrun.parquet")
    temp = committed[0] + ".inprogress-deadbeef"
    adopt = os.path.join(pid_dir, "snap-live.parquet")
    import shutil as _sh

    _sh.copy(committed[0], dead)
    _sh.copy(committed[0], temp)
    adopt_pid_dir = os.path.join(wh.data_dir, "pid=planted#9")
    os.makedirs(adopt_pid_dir)
    adopt = os.path.join(adopt_pid_dir, "snap-live.parquet")
    _sh.copy(committed[0], adopt)

    # conservative default: fresh files are NEVER deleted (a concurrent
    # first-time encode has no manifest yet — 3-day default protects it)
    assert vacuum_orphans(wh_path)["files_deleted"] == 0
    assert os.path.exists(dead) and os.path.exists(temp)

    res = vacuum_orphans(wh_path, min_age_s=0)
    assert not os.path.exists(dead) and not os.path.exists(temp)
    # live's manifest is never rewritten, so its unlisted file is garbage
    assert not os.path.exists(adopt)
    assert all(os.path.exists(f) for f in committed)
    assert res["files_deleted"] == 3

    # age threshold: fresh garbage survives a min_age_s vacuum
    _sh.copy(committed[0], dead)
    assert vacuum_orphans(wh_path, min_age_s=3600)["files_deleted"] == 0
    assert os.path.exists(dead)
    assert vacuum_orphans(wh_path, min_age_s=0)["files_deleted"] == 1
    assert not os.path.exists(dead)

    # the table still decodes bit-identically after both vacuums
    dec = decode_table(spark, wh_path, "live")
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0


def test_compaction_and_expiry_under_concurrent_stream_reader(spark, tmp_path):
    """r5 (VERDICT #8): a tokstripe stream reader tails the warehouse while
    compaction + source expiry run between its micro-batches. Atomic
    manifest publication + the append-only commit log mean the reader can
    only ever see complete snapshots; expiring already-consumed sources
    must not disturb the checkpointed offsets (log positions are stable —
    expired snapshots keep their line); the compacted snapshot itself is
    invisible to the prefix-filtered tail (it is a different logical
    stream), so no rows are re-delivered."""
    from orc_spark.datasource import register

    register(spark)
    wh = str(tmp_path / "ccr_wh")
    for e in range(2):
        encode_table(
            spark, _epoch_df(spark, e, n=300), wh, snapshot=f"tail-{e:03d}",
            salt_buckets=2, stripe_tokens=2_000,
        )
    out = str(tmp_path / "ccr_out")

    def drain():
        q = (
            spark.readStream.format("tokstripe")
            .option("path", wh)
            .option("snapshot_prefix", "tail-")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ccr_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    want01 = _epoch_df(spark, 0, n=300).unionByName(_epoch_df(spark, 1, n=300))
    got = spark.read.parquet(out)
    assert got.count() == 600
    assert got.exceptAll(want01).count() == 0

    # maintenance runs "concurrently": between the reader's micro-batches
    compact_snapshots(spark, wh, ["tail-000", "tail-001"], "cmp-1",
                      stripe_tokens=2_000)
    expire_snapshots(wh, ["tail-000", "tail-001"])
    # the compacted snapshot decodes losslessly from its OWN files even
    # though the sources' files are gone
    assert decode_table(spark, wh, "cmp-1").exceptAll(want01).count() == 0
    # expired snapshots keep their commit-log line => consumed offsets stay
    # valid positions
    log = Warehouse(wh).commit_log()
    assert "tail-000" in log and "tail-001" in log

    # a new epoch arrives after the expiry; the resumed tail consumes
    # EXACTLY it — no re-delivery of compacted rows, no broken batch
    encode_table(
        spark, _epoch_df(spark, 2, n=300), wh, snapshot="tail-002",
        salt_buckets=2, stripe_tokens=2_000,
    )
    drain()
    got2 = spark.read.parquet(out)
    want012 = want01.unionByName(_epoch_df(spark, 2, n=300))
    assert got2.count() == 900
    assert got2.exceptAll(want012).count() == 0
    assert want012.exceptAll(got2).count() == 0


def test_a_killed_reencode_is_resumed_by_its_rerun(spark, tmp_path, monkeypatch):
    """A rewrite resumes like encode_table: a run that dies before its
    commit leaves its data files, and the re-run adopts every one of them
    and commits once."""
    wh = str(tmp_path / "wh")
    for e in range(2):
        encode_table(spark, _epoch_df(spark, e, n=200), wh, snapshot=f"e{e}",
                     salt_buckets=2, stripe_tokens=2_000)

    def killed(self, *a, **kw):
        raise RuntimeError("driver killed before its commit")

    with monkeypatch.context() as mp:
        mp.setattr(Warehouse, "commit", killed)
        with pytest.raises(RuntimeError, match="killed"):
            compact_snapshots(spark, wh, ["e0", "e1"], "re", mode="reencode", salt_buckets=2)
    w = Warehouse(wh)
    left = w.orphan_files("re")
    assert left and "re" not in w.commit_log()
    m = compact_snapshots(spark, wh, ["e0", "e1"], "re", mode="reencode", salt_buckets=2)
    assert {p: d["file"] for p, d in m["partitions"].items()} == left
    assert all(d["adopted"] for d in m["partitions"].values())
    assert m["compacted_from"] == ["e0", "e1"] and w.commit_log().count("re") == 1
    got = decode_table(spark, wh, "re")
    want = decode_table(spark, wh, "e0").unionByName(decode_table(spark, wh, "e1"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_concat_takes_the_merged_range_from_the_copied_keys(spark, tmp_path):
    """A concat source recorded without a key range ("" — here an adopted
    file with a stripe of null keys only) still holds keys: the merged
    file's range comes from the keys the copy writes, so a lookup of one
    of that source's keys finds it."""
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    from orc_spark.pipeline import LAYOUT, encode_files

    schema = StructType([
        StructField("doc_id", StringType()), StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()), StructField("source", StringType()),
    ])

    def rows(keys, n_tok):
        return [(k, list(range(n_tok)), n_tok, "s") for k in keys]

    a_m = [chr(c) for c in range(ord("a"), ord("n"))]
    n_z = [chr(c) for c in range(ord("n"), ord("z") + 1)]
    e0 = spark.createDataFrame(rows(a_m, 10) + rows([None] * 40, 50), schema)
    e1 = spark.createDataFrame(rows(n_z, 10), schema)
    wh = str(tmp_path / "wh")
    kw = {"salt_buckets": 1, "stripe_tokens": 200}
    # e0's files as a killed run left them; its re-run adopts them
    encode_files(spark, e0, wh, "e0", num_partitions=None, max_pid_tokens=None,
                 skip=frozenset(), **LAYOUT, **kw)
    m0 = encode_table(spark, e0, wh, snapshot="e0", **kw)
    assert [(p["adopted"], p["min_doc_id"]) for p in m0["partitions"].values()] == [(True, "")]
    encode_table(spark, e1, wh, snapshot="e1", **kw)

    m = compact_snapshots(spark, wh, ["e0", "e1"], "merged")
    got = decode_table(spark, wh, "merged", predicate=[("doc_id", ["c"])]).collect()
    assert [r["doc_id"] for r in got] == ["c"]
    assert [(p["min_doc_id"], p["max_doc_id"]) for p in m["partitions"].values()] == [("a", "z")]

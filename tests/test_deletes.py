"""Merge-on-read row-level deletes (deletes.py) — the Iceberg v2
equality-delete analog — plus the lifecycle pieces it touches: time travel
(metadata.snapshot_as_of), rollback, expiry reference-checking of SHARED
files, vacuum reachability of delete files, compaction's concat refusal,
materialize_deletes, and the tokstripe batch/stream readers."""

import os
import time

import pytest
from pyspark.sql import functions as F

from orc_spark import deletes
from orc_spark.maintenance import (
    compact_snapshots,
    expire_snapshots,
    materialize_deletes,
    vacuum_orphans,
)
from orc_spark.metadata import snapshot_as_of
from orc_spark.pipeline import decode_table, encode_table
from orc_spark.warehouse import Warehouse


def _df(spark, n=400):
    return (
        spark.range(n)
        .select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 23) + 3),
                lambda i: ((i * 17 + F.col("id")) % 499).cast("int"),
            ).alias("tokens"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


@pytest.fixture()
def wh(spark, tmp_path):
    path = str(tmp_path / "wh")
    encode_table(spark, _df(spark), path, snapshot="base",
                 salt_buckets=4, stripe_tokens=1_000)
    return path


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_delete_where_drops_matching_keys_only(spark, wh):
    res = deletes.delete_where(spark, wh, ("n_tok", 10, 15), snapshot="base")
    snap = res["snapshot_id"]
    assert snap == "base-d1" and res["n_deleted"] > 0
    got = decode_table(spark, wh, snapshot=snap)
    assert got.where((F.col("n_tok") >= 10) & (F.col("n_tok") <= 15)).count() == 0
    want = _df(spark).where("n_tok < 10 OR n_tok > 15")
    assert got.count() == want.count() == 400 - res["n_deleted"]
    assert _ids(got) == _ids(want)
    # CURRENT moved to the delete snapshot; parent still reads everything
    assert Warehouse(wh).current_snapshot_id() == snap
    assert decode_table(spark, wh, snapshot="base").count() == 400


def test_projection_without_key_applies_deletes(spark, wh):
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    full = decode_table(spark, wh, snapshot=snap)
    # the key is decoded for the delete mask and dropped after
    cols = decode_table(spark, wh, snapshot=snap, columns=["source", "n_tok"])
    assert cols.columns == ["source", "n_tok"]
    assert cols.where("n_tok BETWEEN 10 AND 15").count() == 0
    assert cols.exceptAll(full.select("source", "n_tok")).count() == 0
    assert cols.count() == full.count()


def test_deletes_accumulate_and_compose_with_pushdown(spark, wh):
    s1 = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    s2 = deletes.delete_where(spark, wh, ("source", ["s1"]), snapshot=s1)["snapshot_id"]
    assert s2 == "base-d2"
    got = decode_table(spark, wh, snapshot=s2)
    want = _df(spark).where("(n_tok < 10 OR n_tok > 15) AND source <> 's1'")
    assert _ids(got) == _ids(want)
    # a pushed predicate on the delete snapshot filters the SURVIVORS
    pred = decode_table(spark, wh, snapshot=s2, predicate=("n_tok", 3, 9))
    assert _ids(pred) == _ids(want.where("n_tok BETWEEN 3 AND 9"))
    # intermediate snapshot unaffected by the later delete
    assert decode_table(spark, wh, snapshot=s1).where("source = 's1'").count() > 0


def test_noop_delete_commits_without_delete_file(spark, wh):
    res = deletes.delete_where(spark, wh, ("n_tok", 100000, 200000))
    assert res["n_deleted"] == 0
    assert not res.get("delete_files")
    assert decode_table(spark, wh, snapshot=res["snapshot_id"]).count() == 400
    # a second no-match delete in a row gets its own default name
    res2 = deletes.delete_where(spark, wh, ("n_tok", 100000, 200000))
    assert res2["snapshot_id"] != res["snapshot_id"]
    assert Warehouse(wh).current_snapshot_id() == res2["snapshot_id"]
    assert decode_table(spark, wh).count() == 400


def test_time_travel_and_rollback(spark, wh):
    w = Warehouse(wh)
    t_before = time.time()
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    log = w.commit_log()
    assert log == ["base", snap]
    assert snapshot_as_of(wh, ordinal=0) == "base"
    assert snapshot_as_of(wh, ordinal=1) == snap
    assert snapshot_as_of(wh, timestamp=t_before) == "base"
    assert snapshot_as_of(wh, timestamp=time.time()) == snap
    with pytest.raises(ValueError):
        snapshot_as_of(wh, ordinal=2)
    with pytest.raises(ValueError):
        snapshot_as_of(wh, ordinal=0, timestamp=t_before)
    with pytest.raises(ValueError):
        snapshot_as_of(wh, timestamp=t_before - 1e6)
    # rollback = pointer move; the delete snapshot stays readable by name
    w.rollback("base")
    assert w.current_snapshot_id() == "base"
    assert decode_table(spark, wh).count() == 400
    assert decode_table(spark, wh, snapshot=snap).count() < 400
    with pytest.raises(ValueError):
        w.rollback("never-committed")


def test_expire_reference_checks_shared_files(spark, wh):
    w = Warehouse(wh)
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    data_files = w.committed_files(snap)  # shared with "base" verbatim
    n_live = decode_table(spark, wh, snapshot=snap).count()
    # expiring the PARENT must keep the shared data files for the child
    expire_snapshots(wh, ["base"])
    assert all(os.path.exists(f) for f in data_files)
    assert w.read_manifest("base") is None
    assert decode_table(spark, wh, snapshot=snap).count() == n_live
    # expiring the child too collects data AND delete files
    dels = deletes.delete_files_of(w.read_manifest(snap))
    assert dels
    expire_snapshots(wh, [snap], keep_current=False)
    assert not any(os.path.exists(f) for f in data_files + dels)


def test_expire_delete_snapshot_keeps_parents_files(spark, wh):
    w = Warehouse(wh)
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    dels = deletes.delete_files_of(w.read_manifest(snap))
    w.rollback("base")
    expire_snapshots(wh, [snap])
    # parent's data files survive (still referenced); delete files are gone
    assert decode_table(spark, wh, snapshot="base").count() == 400
    assert not any(os.path.exists(f) for f in dels)


def test_vacuum_keeps_manifest_reachable_delete_files(spark, wh):
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    w = Warehouse(wh)
    dels = deletes.delete_files_of(w.read_manifest(snap))
    res = vacuum_orphans(wh, min_age_s=0.0)
    assert all(os.path.exists(f) for f in dels)
    # an orphaned (uncommitted) delete file IS collected
    stray = os.path.join(deletes.deletes_dir(wh), "snap-zz-del-99999.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"junk")
    res = vacuum_orphans(wh, min_age_s=0.0)
    assert res["files_deleted"] >= 1 and not os.path.exists(stray)


def test_concat_refuses_delete_bearing_source(spark, wh):
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    with pytest.raises(ValueError, match="delete files"):
        compact_snapshots(spark, wh, [snap], "compacted")


def test_materialize_then_concat(spark, wh):
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]
    live = _ids(decode_table(spark, wh, snapshot=snap))
    mat = materialize_deletes(spark, wh, snapshot=snap)
    msnap = mat["snapshot_id"]
    assert msnap == f"{snap}-mat"
    assert not mat.get("delete_files")
    assert mat["materialized_from"] == snap and mat["deletes_applied"] == 1
    got = decode_table(spark, wh, snapshot=msnap)
    assert _ids(got) == live
    assert got.where("n_tok BETWEEN 10 AND 15").count() == 0
    # materialized snapshots are delete-free, so concat accepts them again
    compact_snapshots(spark, wh, [msnap], "compacted")
    assert _ids(decode_table(spark, wh, snapshot="compacted")) == live


def test_tokstripe_format_applies_deletes(spark, wh):
    from orc_spark.datasource import register

    register(spark)
    snap = deletes.delete_where(spark, wh, ("n_tok", 10, 15))["snapshot_id"]

    def fresh():
        # one action per load(): see the upstream readInfo-cache pin below
        return (
            spark.read.format("tokstripe")
            .option("path", wh).option("snapshot", snap).load()
        )

    assert fresh().where("n_tok BETWEEN 10 AND 15").count() == 0
    want = decode_table(spark, wh, snapshot=snap)
    assert fresh().count() == want.count()
    # projection without the key column still merges deletes
    assert fresh().select("source", "n_tok").where(
        "n_tok BETWEEN 10 AND 15"
    ).count() == 0
    assert fresh().select("source", "n_tok").count() == want.count()


def test_upstream_readinfo_cache_pin(spark, wh):
    """Pin Spark 4.1's PythonDataSourceV2.readInfo caching (see the
    datasource module docstring): a filtered action poisons a LATER
    unfiltered action on the SAME load() — the stale pruned plan is
    reused. If a Spark upgrade fixes the upstream bug, this pin flips and
    the docstring warning (plus the fresh-load discipline) can go."""
    from orc_spark.datasource import register

    register(spark)
    one = (
        spark.read.format("tokstripe")
        .option("path", wh).option("snapshot", "base").load()
    )
    n_filtered = one.where("n_tok BETWEEN 10 AND 15").count()
    stale = one.count()  # upstream bug: returns n_filtered, not 400
    assert stale in (n_filtered, 400)
    if stale == 400:
        raise AssertionError(
            "Spark fixed the readInfo cache bug — drop the datasource "
            "docstring warning and this pin"
        )
    # fresh load() is always correct
    fresh = (
        spark.read.format("tokstripe")
        .option("path", wh).option("snapshot", "base").load()
    )
    assert fresh.count() == 400


def _df_new(spark):
    """10 updated keys (d00010..d00019, tokens shifted +1000) + 5 inserted
    keys (d9000x) — the MERGE INTO shape."""
    upd = (
        _df(spark)
        .where("doc_id >= 'd00010' AND doc_id <= 'd00019'")
        .withColumn(
            "tokens", F.expr("transform(tokens, x -> CAST(x + 1000 AS INT))")
        )
    )
    ins = (
        spark.range(5)
        .select(
            F.format_string("d9000%d", F.col("id")).alias("doc_id"),
            F.array(F.lit(7).cast("int"), F.lit(8).cast("int")).alias("tokens"),
            F.lit("s9").alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )
    return upd.unionByName(ins)


def test_upsert_replaces_and_inserts(spark, wh):
    res = deletes.upsert(spark, wh, _df_new(spark))
    snap = res["snapshot_id"]
    assert snap == "base-u1" and res["n_upserted"] == 15
    got = decode_table(spark, wh, snapshot=snap)
    assert got.count() == 405  # 400 - 10 replaced + 10 new + 5 inserted
    # updated keys carry the NEW tokens (old versions are gone)
    row = got.where("doc_id = 'd00012'").collect()
    assert len(row) == 1 and min(row[0]["tokens"]) >= 1000
    # inserted keys present, untouched keys unchanged
    assert got.where("source = 's9'").count() == 5
    old = got.where("doc_id = 'd00005'").collect()[0]
    assert max(old["tokens"]) < 1000
    # parent unaffected; no stage manifest; CURRENT is the upsert
    assert decode_table(spark, wh, snapshot="base").where(
        "doc_id = 'd00012'"
    ).collect()[0]["tokens"] == _df(spark).where(
        "doc_id = 'd00012'"
    ).collect()[0]["tokens"]
    w = Warehouse(wh)
    assert w.read_manifest(f"{snap}-stage") is None
    assert w.current_snapshot_id() == snap


def test_upsert_chain_with_deletes(spark, wh):
    u1 = deletes.upsert(spark, wh, _df_new(spark))["snapshot_id"]
    # delete AFTER the upsert: hits new and old files alike (plain entry)
    d1 = deletes.delete_where(spark, wh, ("source", ["s9"]), snapshot=u1)[
        "snapshot_id"
    ]
    got = decode_table(spark, wh, snapshot=d1)
    assert got.where("source = 's9'").count() == 0
    assert got.count() == 400  # 405 - 5 inserted-then-deleted
    assert got.where("doc_id = 'd00012'").collect()[0]["tokens"][0] >= 1000
    # upsert AGAIN on top: re-insert two deleted keys with fresh tokens
    again = (
        spark.range(2)
        .select(
            F.format_string("d9000%d", F.col("id")).alias("doc_id"),
            F.array(F.lit(42).cast("int")).alias("tokens"),
            F.lit("s9").alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )
    u2 = deletes.upsert(spark, wh, again, snapshot=d1)["snapshot_id"]
    got2 = decode_table(spark, wh, snapshot=u2)
    assert got2.count() == 402
    assert _ids(got2.where("source = 's9'")) == {"d90000", "d90001"}
    assert got2.where("doc_id = 'd90000'").collect()[0]["tokens"] == [42]
    # the tokstripe format sees the same final state
    from orc_spark.datasource import register

    register(spark)
    fmt = (
        spark.read.format("tokstripe")
        .option("path", wh).option("snapshot", u2).load()
    )
    assert fmt.count() == 402
    fmt2 = (
        spark.read.format("tokstripe")
        .option("path", wh).option("snapshot", u2).load()
    )
    assert fmt2.where("doc_id = 'd90000'").collect()[0]["tokens"] == [42]


def test_materialize_upsert_chain(spark, wh):
    u1 = deletes.upsert(spark, wh, _df_new(spark))["snapshot_id"]
    live = _ids(decode_table(spark, wh, snapshot=u1))
    mat = materialize_deletes(spark, wh, snapshot=u1)
    got = decode_table(spark, wh, snapshot=mat["snapshot_id"])
    assert _ids(got) == live and got.count() == 405
    assert not mat.get("delete_files")
    assert got.where("doc_id = 'd00012'").collect()[0]["tokens"][0] >= 1000


def test_upsert_rejects_schema_mismatch(spark, wh):
    bad = _df_new(spark).drop("n_tok")
    with pytest.raises(ValueError, match="schema"):
        deletes.upsert(spark, wh, bad)


def test_stream_reader_delivers_upsert_new_files_once(spark, wh, tmp_path):
    from orc_spark.datasource import register

    register(spark)
    deletes.upsert(spark, wh, _df_new(spark))
    out = str(tmp_path / "sink_u")
    ckpt = str(tmp_path / "ckpt_u")
    q = (
        spark.readStream.format("tokstripe").option("path", wh).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # base delivers 400 rows; the upsert delivers its 15 NEW rows exactly
    # once (append semantics: no retraction of the 10 replaced old rows)
    assert got.count() == 415
    assert got.where("doc_id = 'd00012'").count() == 2  # old + new version


def test_stream_reader_skips_delete_snapshots(spark, wh, tmp_path):
    from orc_spark.datasource import register

    register(spark)
    deletes.delete_where(spark, wh, ("n_tok", 10, 15))
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("tokstripe").option("path", wh).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # the append stream delivers the BASE snapshot once; the delete commit
    # (shared files) is metadata-only and must not re-deliver the table
    assert got.count() == 400

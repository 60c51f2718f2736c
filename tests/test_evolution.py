"""Schema evolution (evolution.py): add/drop/rename are metadata-only
commits; readers resolve per stripe through the alias mapping, null-fill
added columns, and refuse ambiguous name reuse. Mixed-file tables (old
stripes under old names + post-evolution upsert stripes under new names)
are the hard case and get their own assertions."""

import pytest
from pyspark.sql import functions as F

from orc_spark import deletes
from orc_spark.evolution import evolve_schema
from orc_spark.maintenance import compact_snapshots
from orc_spark.metadata import snapshot_as_of
from orc_spark.pipeline import decode_table, encode_table
from orc_spark.warehouse import Warehouse


def _df(spark, n=300):
    return (
        spark.range(n)
        .select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 19) + 2),
                lambda i: ((i * 13 + F.col("id")) % 400).cast("int"),
            ).alias("tokens"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


@pytest.fixture()
def wh(spark, tmp_path):
    # weight_col=None so n_tok is NOT a layout column here (renameable);
    # test_layout_columns_are_protected builds its own default-layout wh
    path = str(tmp_path / "wh")
    encode_table(spark, _df(spark), path, snapshot="base",
                 salt_buckets=4, stripe_tokens=800, weight_col=None)
    return path


def test_add_column_null_fills(spark, wh):
    m = evolve_schema(wh, add={"lang": "string", "tags": "array<int>"})
    snap = m["snapshot_id"]
    got = decode_table(spark, wh, snapshot=snap)
    assert got.columns == ["doc_id", "tokens", "source", "n_tok", "lang", "tags"]
    assert dict(got.dtypes)["tags"] == "array<int>"
    assert got.where(F.col("lang").isNull() & F.col("tags").isNull()).count() == 300
    # old data untouched
    assert got.select(F.sum("n_tok")).collect()[0][0] == \
        _df(spark).select(F.sum("n_tok")).collect()[0][0]


def test_rename_reads_old_files_and_guards(spark, wh):
    m = evolve_schema(wh, rename={"n_tok": "tok_count"})
    snap = m["snapshot_id"]
    got = decode_table(spark, wh, snapshot=snap)
    assert "tok_count" in got.columns and "n_tok" not in got.columns
    assert got.select(F.sum("tok_count")).collect()[0][0] == \
        _df(spark).select(F.sum("n_tok")).collect()[0][0]
    # predicate pushdown on the renamed column (stats live under the old
    # stored name inside every stripe footer)
    pred = decode_table(spark, wh, snapshot=snap,
                        predicate=("tok_count", 5, 9))
    assert pred.count() == _df(spark).where("n_tok BETWEEN 5 AND 9").count()
    # old name is gone from the read schema
    with pytest.raises(ValueError, match="not in table schema"):
        decode_table(spark, wh, snapshot=snap, predicate=("n_tok", 5, 9))
    # reusing a retired name is refused — it is still stored in files
    with pytest.raises(ValueError, match="stored in data files"):
        evolve_schema(wh, snapshot=snap, add={"n_tok": "int"})
    with pytest.raises(ValueError, match="stored in data files"):
        evolve_schema(wh, snapshot=snap, rename={"tok_count": "n_tok"})
    # time travel: the parent still reads the OLD schema
    assert "n_tok" in decode_table(
        spark, wh, snapshot=snapshot_as_of(wh, ordinal=0)
    ).columns


def test_drop_column(spark, wh):
    m = evolve_schema(wh, drop=["tokens"])
    got = decode_table(spark, wh, snapshot=m["snapshot_id"])
    assert got.columns == ["doc_id", "source", "n_tok"]
    assert got.count() == 300


def test_layout_columns_are_protected(spark, tmp_path):
    # default layout: doc_id key, source partition, n_tok weight
    w = str(tmp_path / "wh_layout")
    encode_table(spark, _df(spark, 50), w, snapshot="base",
                 salt_buckets=2, stripe_tokens=800)
    for kw in (
        {"rename": {"doc_id": "key"}},
        {"drop": ["source"]},
        {"rename": {"n_tok": "w"}},  # weight_col in the default layout
    ):
        with pytest.raises(ValueError, match="layout column"):
            evolve_schema(w, **kw)


def test_mixed_files_after_upsert(spark, wh):
    w2 = wh
    snap = evolve_schema(
        w2, rename={"n_tok": "tok_count"}, add={"lang": "string"}
    )["snapshot_id"]
    # upsert writes NEW files under the NEW names (lang populated)
    new = spark.createDataFrame(
        [("x-1", [9, 9], "s0", 2, "xx"), ("x-2", [7], "s1", 1, "yy")],
        "doc_id string, tokens array<int>, source string, "
        "tok_count int, lang string",
    )
    u = deletes.upsert(spark, w2, new, snapshot=snap, salt_buckets=2,
                       stripe_tokens=800)
    got = decode_table(spark, w2, snapshot=u["snapshot_id"])
    assert got.count() == 302
    assert got.where(F.col("lang").isNotNull()).count() == 2
    assert got.where("doc_id = 'x-1'").collect()[0]["tok_count"] == 2
    # predicate on the renamed column spans old-name and new-name stripes
    assert got.where("tok_count = 2").count() == \
        decode_table(spark, w2, snapshot=u["snapshot_id"],
                     predicate=("tok_count", 2, 2)).count()
    # the tokstripe format resolves the same mapping
    from orc_spark.datasource import register

    register(spark)
    fmt = (
        spark.read.format("tokstripe")
        .option("path", w2).option("snapshot", u["snapshot_id"]).load()
    )
    assert fmt.where(F.col("lang").isNotNull()).count() == 2
    fmt2 = (
        spark.read.format("tokstripe")
        .option("path", w2).option("snapshot", u["snapshot_id"]).load()
    )
    assert fmt2.count() == 302


def test_concat_guards_and_inherits_mapping(spark, wh, tmp_path):
    w2 = str(tmp_path / "wh_concat")
    encode_table(spark, _df(spark), w2, snapshot="e0", salt_buckets=4,
                 stripe_tokens=800, weight_col=None)
    ev = evolve_schema(w2, snapshot="e0", rename={"n_tok": "tok_count"})
    # concat of sources in DIFFERENT evolution states is refused
    with pytest.raises(ValueError, match="cannot compact|schema/evolution"):
        compact_snapshots(spark, w2, ["e0", ev["snapshot_id"]], "c0")
    # concat of one evolved source inherits the mapping
    m = compact_snapshots(spark, w2, [ev["snapshot_id"]], "c1")
    assert m.get("column_mapping") == {"tok_count": ["n_tok"]}
    got = decode_table(spark, w2, snapshot="c1")
    assert got.select(F.sum("tok_count")).collect()[0][0] == \
        _df(spark).select(F.sum("n_tok")).collect()[0][0]


def test_export_orc_refuses_unmaterialized_state(spark, wh, tmp_path):
    from orc_spark.pipeline import export_orc

    ev = evolve_schema(wh, rename={"n_tok": "tok_count"})["snapshot_id"]
    with pytest.raises(ValueError, match="schema evolution"):
        export_orc(spark, wh, str(tmp_path / "o1"), snapshot=ev)
    d = deletes.delete_where(spark, wh, ("doc_id", ["d00001"]), snapshot="base")
    with pytest.raises(ValueError, match="delete files"):
        export_orc(spark, wh, str(tmp_path / "o2"), snapshot=d["snapshot_id"])
    # a reencode rewrite clears both and exports fine
    m = compact_snapshots(spark, wh, [ev], "flat", mode="reencode",
                          salt_buckets=2)
    out = export_orc(spark, wh, str(tmp_path / "o3"), snapshot="flat")
    assert out.count() > 0

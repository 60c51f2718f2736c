"""Schema evolution (evolution.py): add/drop/rename are metadata-only
commits; a column is its field ID, so readers resolve each file's
write-time names through its schema's IDs, null-fill columns a file
lacks, and a re-added name is a new column. Mixed-file tables (old
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
    # a name that collides with a live column is refused
    with pytest.raises(ValueError, match="live column"):
        evolve_schema(wh, snapshot=snap, add={"tok_count": "int"})
    with pytest.raises(ValueError, match="live column"):
        evolve_schema(wh, snapshot=snap, rename={"tokens": "tok_count"})
    # the old name is free: re-added, it is a new column, NULL in every
    # file written before the add (the files still store the old n_tok)
    re_add = evolve_schema(wh, snapshot=snap, add={"n_tok": "int"})
    got = decode_table(spark, wh, snapshot=re_add["snapshot_id"])
    assert got.where("n_tok IS NULL AND tok_count IS NOT NULL").count() == 300
    # renaming back keeps the field ID: the values read again
    back = evolve_schema(wh, snapshot=snap, rename={"tok_count": "n_tok"})
    got = decode_table(spark, wh, snapshot=back["snapshot_id"])
    assert got.select(F.sum("n_tok")).collect()[0][0] == \
        _df(spark).select(F.sum("n_tok")).collect()[0][0]
    # time travel: the parent still reads the OLD schema
    assert "n_tok" in decode_table(
        spark, wh, snapshot=snapshot_as_of(wh, ordinal=0)
    ).columns


def test_drop_and_re_add_in_one_call_reads_null(spark, wh):
    """Dropping a column and adding the same name in one evolution makes a
    NEW column: every row written before reads NULL, through decode_table
    and through the tokstripe format (the old name-based reuse guard let
    this through and both returned the dropped column's values)."""
    from orc_spark.datasource import register

    snap = evolve_schema(wh, drop=["n_tok"], add={"n_tok": "int"})["snapshot_id"]
    got = decode_table(spark, wh, snapshot=snap)
    assert got.columns == ["doc_id", "tokens", "source", "n_tok"]
    assert got.where("n_tok IS NULL").count() == 300
    register(spark)
    fmt = (
        spark.read.format("tokstripe")
        .option("path", wh).option("snapshot", snap).load()
    )
    assert fmt.where("n_tok IS NULL").count() == 300
    assert decode_table(spark, wh, snapshot=snap, predicate=("n_tok", 0, 99)).count() == 0


def test_add_rejects_types_it_cannot_fill_or_write(spark, wh):
    """An ADD type that the null fill cannot build or the stripe encoder
    cannot write is refused at evolve time (it used to commit, and every
    later read of a pre-add file raised TypeError)."""
    w = Warehouse(wh)
    n = len(w.commit_log())
    for typ in ("date", "decimal(10,2)", "bogus", "boolean", "array<string>"):
        with pytest.raises(ValueError, match="cannot add"):
            evolve_schema(wh, add={"x": typ})
    assert len(w.commit_log()) == n  # nothing committed
    snap = evolve_schema(wh, add={"x": "timestamp", "y": "array<double>"})["snapshot_id"]
    got = decode_table(spark, wh, snapshot=snap)
    assert got.where("x IS NULL AND y IS NULL").count() == 300


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
    # concat of one evolved source keeps its field IDs, and each dest file
    # keeps the schema ID its copied blobs were written under
    m = compact_snapshots(spark, w2, [ev["snapshot_id"]], "c1")
    assert (m["schemas"], m["schema_id"]) == (ev["schemas"], ev["schema_id"])
    assert {p["schema_id"] for p in m["partitions"].values()} == {0}
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

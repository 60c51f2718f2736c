"""The encode exchange (orc_spark/exchange.py): numpy pids equal to the
Spark expression they replace, stored stripes byte-identical to the
row-shuffle encode, and an exchange directory that never outlives its
encode."""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from orc_spark import exchange
from orc_spark.fixtures import tokens_arrow
from orc_spark.maintenance import vacuum_orphans
from orc_spark.pipeline import decode_table, encode_table, plan_table
from orc_spark.warehouse import Warehouse

# sha256 over every (pid, blob, footer) of the pinned fixture's encode, as
# the row-shuffle encode (repartition by a Spark pid column) stored them
PINNED_SHA = "c64116a560477b08deeb66d53282abf72a8224736cd10da4a914b8102db62720"


def with_pid(df, salt, key_col="doc_id", source_col="source"):
    """The Spark pid expression the numpy kernel replaces (the oracle)."""
    src = F.col(source_col) if source_col else F.lit("")
    return df.withColumn("pid", F.concat_ws(
        "#", src, F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt)).cast("string")))


def numpy_pids(tbl, salt, key_col, source_col):
    groups, names = exchange.pid_groups(tbl, salt, key_col, source_col)
    return [names[g] for g in groups]


def assert_parity(df, salt, key_col, source_col):
    t = with_pid(df, salt, key_col, source_col).toArrow()
    assert t.num_rows > 0
    assert numpy_pids(t, salt, key_col, source_col) == t.column("pid").to_pylist()


def test_pid_matches_spark_for_string_keys(spark):
    keys = [None, "", "a", "é", "中文キー", "😀x", "k" * 31, "k" * 32, "k" * 33,
            "ü" * 40, "x" * 64, "y" * 100, "z" * 1000] + [f"doc-{i:010d}" for i in range(300)]
    srcs = ["web", None, "a#b", "", "книги"]
    rows = [(k, srcs[i % len(srcs)]) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    for salt in (1, 7, 32):
        assert_parity(df, salt, "doc_id", "source")
        assert_parity(df, salt, "doc_id", None)


@pytest.mark.parametrize("ktype", ["tinyint", "smallint", "int", "bigint"])
def test_pid_matches_spark_for_integral_keys_and_sources(spark, ktype):
    rng = np.random.RandomState(3)
    lim = {"tinyint": 127, "smallint": 32767, "int": 2**31 - 1, "bigint": 2**63 - 1}[ktype]
    keys = [None, 0, 1, -1, lim, -lim - 1] + rng.randint(-lim // 2, lim // 2, 200).tolist()
    rows = [(k, i % 4 - 1 if i % 5 else None, i % 3 == 0) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, f"k {ktype}, isrc int, bsrc boolean")
    for src in ("isrc", "bsrc", None):
        assert_parity(df, 5, "k", src)


def test_split_matches_spark(spark):
    """The @sub rule: pmod(xxhash64(key, 1), k) for string, null and bigint keys."""
    rows = [(f"d{i}" if i % 7 else None, i * 7919 if i % 5 else None) for i in range(400)]
    df = spark.createDataFrame(rows, "s string, n bigint")
    for col in ("s", "n"):
        for k in (2, 3, 11):
            t = df.select(col, F.pmod(F.xxhash64(F.col(col), F.lit(1)), F.lit(k)).alias("sub")).toArrow()
            assert exchange.sub_of(t.column(col), k).tolist() == t.column("sub").to_pylist()


def test_pid_matches_spark_for_engine_layouts(spark):
    """Every layout the gates encode (generic_tables, similarity, flagship),
    on frames with those tables' key and source types."""
    from orc_spark.tokenize import tokens_from_documents

    ids = spark.range(-50, 3000).select(
        (F.col("id") * 7919).alias("k"), F.col("id").alias("i"))
    pick = lambda *vals: F.element_at(F.array(*map(F.lit, vals)),
                                      (F.pmod("i", F.lit(len(vals))) + 1).cast("int"))
    docs = ids.select(F.col("k").alias("doc_id"), pick("cc", "web", "books").alias("source"),
                      F.concat_ws(" ", F.lit("w"), F.col("i").cast("string")).alias("text"))
    for df, salt, key, src in (
        (ids.select(F.col("k").alias("event_id"),
                    pick("click", "view", "purchase").alias("event_type")), 4, "event_id", "event_type"),
        (ids.select(F.col("k").alias("l_orderkey"), pick("A", "N", "R").alias("l_returnflag")),
         4, "l_orderkey", "l_returnflag"),
        (ids.select(F.col("k").alias("vec_id")), 2, "vec_id", None),
        (docs, 8, "doc_id", "source"),
        (ids.select(F.col("k").alias("vec_id"),
                    F.format_string("l%06d", F.pmod("i", F.lit(16))).alias("lid")), 2, "vec_id", "lid"),
        (tokens_from_documents(docs), 8, "doc_id", "source"),
    ):
        assert_parity(df.select(key, *([src] if src else [])), salt, key, src)


def test_unhashable_layout_raises_before_any_job(spark, tmp_path):
    df = spark.range(10).select(F.col("id").cast("double").alias("k"),
                                F.lit("s").alias("source"))
    sc = spark.sparkContext
    sc.setJobGroup("unhashable-key", "unhashable-key")
    try:
        with pytest.raises(ValueError, match="key column 'k'"):
            encode_table(spark, df, str(tmp_path / "wh"), "s", key_col="k", weight_col=None)
        with pytest.raises(ValueError, match="source column 'source'"):
            encode_table(spark, df.select(F.col("k").cast("long").alias("k"),
                                          F.lit(1.5).alias("source")),
                         str(tmp_path / "wh"), "s", key_col="k", weight_col=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("unhashable-key")) == []


def stripes_sha(manifest) -> str:
    h = hashlib.sha256()
    for pid in sorted(manifest["partitions"]):
        t = pq.read_table(manifest["partitions"][pid]["file"])
        for _, blob, footer in sorted(zip(*(t.column(c).to_pylist()
                                            for c in ("stripe_id", "blob", "footer")))):
            h.update(pid.encode())
            h.update(blob)
            h.update(footer.encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def pinned_input(spark, tmp_path_factory):
    t = tokens_arrow(3000, seed=11)
    path = str(tmp_path_factory.mktemp("pinned") / "in.parquet")
    pq.write_table(t, path, row_group_size=1024)
    return spark.read.schema(from_arrow_schema(t.schema)).parquet(path)


@pytest.mark.parametrize("feed", ["parquet", "dataframe"])
def test_stored_stripes_byte_identical(spark, pinned_input, tmp_path, feed):
    df = pinned_input if feed == "parquet" else pinned_input.where(F.col("n_tok") >= 0)
    assert (exchange.parquet_splits(df, 4) is None) == (feed == "dataframe")
    m = encode_table(spark, df, str(tmp_path / "wh"), "s", salt_buckets=4)
    assert len(m["partitions"]) == 20
    assert sum(p["enc_bytes"] for p in m["partitions"].values()) == 1_669_595
    assert stripes_sha(m) == PINNED_SHA
    ph = m["encode_phases"]
    assert ph["map_tasks"] == 3 if feed == "parquet" else ph["map_tasks"] > 0
    assert ph["reduce_tasks"] == spark.sparkContext.defaultParallelism
    assert all(ph[k] > 0 for k in ("map_s", "plan_s", "reduce_s"))
    assert ph["map"]["hash_s"] > 0 and ph["reduce"]["stripe_s"] > 0
    assert not os.listdir(Warehouse(str(tmp_path / "wh")).exchange_dir)


def pid_stripes_sha(manifest) -> dict:
    """sha256 over each pid's (stripe_id, blob, footer) rows."""
    out = {}
    for pid, p in manifest["partitions"].items():
        t = pq.read_table(p["file"])
        h = hashlib.sha256()
        for sid, blob, footer in sorted(zip(*(t.column(c).to_pylist()
                                              for c in ("stripe_id", "blob", "footer")))):
            h.update(str(sid).encode())
            h.update(blob)
            h.update(footer.encode())
        out[pid] = (p["stripes"], h.hexdigest())
    return out


def test_stripe_boundaries_do_not_depend_on_packing(spark, pinned_input, tmp_path):
    """Every pid (45k-72k tokens in three map segments here) spans two or
    three stripes; packing all 20 pids into one reduce task or spreading
    them over four must store the same stripes for each pid."""
    got = [
        pid_stripes_sha(encode_table(
            spark, pinned_input, str(tmp_path / f"wh{n}"), "s", salt_buckets=4,
            stripe_tokens=30_000, num_partitions=n))
        for n in (1, 4)
    ]
    assert len(got[0]) == 20 and all(n >= 2 for n, _ in got[0].values())
    assert got[0] == got[1]


def test_reduce_failure_leaves_no_stage_and_no_commit(spark, pinned_input, tmp_path):
    """A column the stripe encoder refuses fails every reduce task after
    the map job wrote its segments."""
    wh = str(tmp_path / "wh")
    bad = pinned_input.withColumn("flag", F.col("n_tok") > 100)
    with pytest.raises(Exception, match="unsupported column type bool"):
        encode_table(spark, bad, wh, "s", salt_buckets=4)
    w = Warehouse(wh)
    assert os.listdir(w.exchange_dir) == []
    assert w.read_manifest("s") is None and w.current_snapshot_id() is None


def test_map_failure_leaves_no_stage_and_no_commit(spark, tmp_path):
    """A parquet input with a corrupt data page and an intact footer: the
    driver plans it, and the map task that reads the page fails."""
    t = tokens_arrow(3000, seed=11)
    path = str(tmp_path / "in.parquet")
    pq.write_table(t, path, row_group_size=1024)
    col = pq.ParquetFile(path).metadata.row_group(1).column(1)
    assert col.path_in_schema.startswith("tokens")
    with open(path, "r+b") as fh:
        fh.seek(col.data_page_offset)
        fh.write(b"\xff" * 32)
    df = spark.read.schema(from_arrow_schema(t.schema)).parquet(path)
    assert len(exchange.parquet_splits(df, 4)) == 3
    wh = str(tmp_path / "wh")
    with pytest.raises(Exception, match="deserialize thrift"):
        encode_table(spark, df, wh, "s", salt_buckets=4)
    w = Warehouse(wh)
    assert os.listdir(w.exchange_dir) == []
    assert w.read_manifest("s") is None and w.current_snapshot_id() is None


def test_exchange_dirs_are_invisible_and_vacuumed(spark, pinned_input, tmp_path):
    wh = str(tmp_path / "wh")
    m = encode_table(spark, pinned_input, wh, "s", salt_buckets=4)
    w = Warehouse(wh)
    # what a killed encode leaves behind
    dead = os.path.join(w.exchange_dir, "s-0123456789ab")
    os.makedirs(dead)
    with open(os.path.join(dead, "map-00000-deadbeef.arrow"), "wb") as fh:
        fh.write(b"\0" * 100)
    # the snapshot's files are its data files only, never exchange files
    assert w.orphan_files("s") == {p: e["file"] for p, e in m["partitions"].items()}
    assert sorted(e[0] for e in plan_table(m, [])) == sorted(
        p["file"] for p in m["partitions"].values())
    kept = vacuum_orphans(wh, min_age_s=3600)
    assert kept["files_deleted"] == 0 and os.path.isdir(dead)
    res = vacuum_orphans(wh, min_age_s=0)
    assert res["files_deleted"] == 1 and res["bytes_deleted"] == 100
    assert not os.path.exists(dead)
    assert decode_table(spark, wh, "s").count() == 3000


@pytest.mark.parametrize("ktype", ["string", "bigint"])
def test_null_keys_stay_out_of_the_file_range(spark, tmp_path, ktype):
    """A null key sorts last in its stripe: the file range must come from
    the non-null keys, and a file of null keys only gets the "" range."""
    z, a = ("z", "a") if ktype == "string" else (5, 1)
    df = spark.createDataFrame(
        [(z, [1], "s"), (None, [2, 3], "s"), (a, [4], "s")],
        f"k {ktype}, tokens array<int>, source string",
    )
    wh = str(tmp_path / "wh")
    m = encode_table(spark, df, wh, "s", salt_buckets=1, key_col="k", weight_col=None)
    (part,) = m["partitions"].values()
    assert (part["min_doc_id"], part["max_doc_id"]) == tuple(
        str(v) if ktype == "bigint" else v for v in (a, z))
    assert [r["k"] for r in decode_table(spark, wh, "s", predicate=("k", [z])).collect()] == [z]
    nulls = df.where(F.col("k").isNull())
    m2 = encode_table(spark, nulls, wh, "n", salt_buckets=1, key_col="k", weight_col=None)
    (part,) = m2["partitions"].values()
    assert (part["min_doc_id"], part["max_doc_id"]) == ("", "")
    assert decode_table(spark, wh, "n", predicate=("k", [z])).count() == 0
    assert decode_table(spark, wh, "n").count() == 1


def test_plan_packs_heaviest_first_and_splits():
    """plan_reduce packs the heaviest pids first into the lightest task."""
    rows = [{"task": 0, "file": "f", "pid": p, "seg": i, "tokens": w}
            for i, (p, w) in enumerate([("a#0", 9), ("a#1", 5), ("b#0", 4), ("b#1", 1)])]
    bins = exchange.plan_reduce(rows, None, {"b#1"}, 2)
    assert sorted([u[0] for u in b] for b in bins) == [["a#0"], ["a#1", "b#0"]]
    # a cap of 4 splits a#0 (9 tokens) 3 ways and a#1 (5) 2 ways
    bins = exchange.plan_reduce(rows, 4, {"a#0@1"}, 8)
    names = sorted(u[0] for b in bins for u in b)
    assert names == ["a#0@0", "a#0@2", "a#1@0", "a#1@1", "b#0", "b#1"]


def test_map_rows_are_clustered_in_input_order(tmp_path):
    """One map task writes one segment per pid per chunk, rows in input
    order, and drops the rows of skipped (committed) pids."""
    t = tokens_arrow(500, seed=5)
    rows = list(exchange.map_task(
        iter([t.slice(0, 250), t.slice(250)]), 7, str(tmp_path), 4, "doc_id",
        "source", "n_tok", frozenset({"web#0"})))
    pids = numpy_pids(t, 4, "doc_id", "source")
    assert {r["pid"] for r in rows} == set(pids) - {"web#0"}
    assert sum(r["n_rows"] for r in rows) == sum(p != "web#0" for p in pids)
    (path,) = {r["file"] for r in rows}
    assert os.path.basename(path).startswith("map-00007-")
    f = pa.ipc.open_file(path)
    for r in rows:
        rb = f.get_batch(r["seg"])
        want = [d for d, p in zip(t.column("doc_id").to_pylist(), pids) if p == r["pid"]]
        assert rb.column("doc_id").to_pylist() == want
        assert pc.sum(rb.column("n_tok")).as_py() == r["tokens"]


def test_take_rows_matches_table_take():
    """The offsets gather of list columns (and Arrow's take for every other
    shape) equals Table.take, combined, on chunked, sliced, null-bearing,
    float, large and nested inputs."""
    rng = np.random.default_rng(5)

    def lists(n, typ):
        lens = rng.integers(0, 9, n)
        vals = rng.integers(0, 50257, int(lens.sum()))
        offs = np.r_[0, np.cumsum(lens)].astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offs), pa.array(vals).cast(typ))

    chunks = [pa.table({"k": pa.array([f"d{i}" for i in range(n)], pa.string()),
                        "tokens": lists(n, pa.int32()), "emb": lists(n, pa.float32()),
                        "n": pa.array(rng.integers(0, 9, n), pa.int32())})
              for n in (40, 0, 73, 25)]
    tbl = pa.concat_tables(chunks)
    cases = [tbl, tbl.slice(30, 80), tbl.slice(0, 0)]
    cases.append(pa.table({"l": pa.array([[1, 2], None, [3], []], pa.list_(pa.int32()))}))
    cases.append(pa.table({"l": pa.array([[1, None], [3]], pa.list_(pa.int64()))}))
    cases.append(pa.table({"l": pa.array([[1], [2, 3]], pa.large_list(pa.int32()))}))
    cases.append(pa.table({"l": pa.array([[[1]], [[2], [3]]], pa.list_(pa.list_(pa.int32())))}))
    for t in cases:
        for order in (np.arange(t.num_rows)[::-1], rng.permutation(t.num_rows),
                      np.argsort(rng.integers(0, 3, t.num_rows), kind="stable")):
            got = exchange.take_rows(t, order)
            assert got.equals(t.take(order).combine_chunks())
            assert all(c.num_chunks == 1 for c in got.columns)

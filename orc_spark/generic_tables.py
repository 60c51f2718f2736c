"""Gate queries proving GENERIC tables flow through the engine.

The canonical corpus is (doc_id, tokens, n_tok, source) — but a user of an
ORC-style engine brings event logs (timestamps, doubles) and embedding
tables (float vectors) too. These queries encode the sandbox's `events` and
`embeddings` parquet tables into a temp warehouse through the SAME
encode pipeline (pipeline.encode_table with a named layout), decode
them back, and aggregate the decoded rows; the DuckDB oracles compute the
identical aggregates from the raw parquet. A single bit lost anywhere in the
float / timestamp / list<float> encode→decode path flips the value hash.

Numeric discipline (memory: oracle-parity rules): no cross-engine double
SUMs — every double folds to BIGINT per row (floor-scale) before
aggregation; timestamps compare as epoch micros (both engines run UTC);
dot products are left folds in double, bit-identical to DuckDB's
list_reduce(list_prepend(0.0, ...)).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import decode_table, encode_table

# 2024-01-10 / 2024-01-20 00:00 UTC — inside the events fixture's Jan range
TS_LO_US = 1_704_844_800_000_000
TS_HI_US = 1_705_708_800_000_000


def _through_warehouse(spark, df, snapshot, consume, **layout):
    """Encode df into a temp warehouse, run `consume` on the decoded table,
    and return the MATERIALIZED result (the warehouse is deleted on exit, so
    a lazy plan over it must not escape)."""
    wh = tempfile.mkdtemp(prefix="orc_spark_gwh_")
    try:
        encode_table(spark, df, wh, snapshot=snapshot, **layout)
        out = consume(decode_table(spark, wh, snapshot))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def _events_rollup(dec: DataFrame) -> DataFrame:
    return dec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # per-row floor-scale BEFORE the sum: double SUM order differs
        # across engines, integer SUM does not
        F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("value_micros"),
        F.min(F.unix_micros(F.col("ts"))).cast("long").alias("min_ts_us"),
        F.max(F.unix_micros(F.col("ts"))).cast("long").alias("max_ts_us"),
        F.expr("bit_xor(event_id)").cast("long").alias("id_xor"),
        F.sum(F.col("user_id") % 1_000_003).cast("long").alias("user_sum"),
    )


def events_warehouse_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 4_000,
) -> DataFrame:
    """events table (int64 key, timestamp + double payload) through the
    warehouse: encode with layout (event_id / event_type / unweighted),
    decode, roll up per event_type. Exercises the timestamp DELTA path,
    the double raw-vs-split cost trial, and string dictionary — all
    oracle-hash-gated."""

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _through_warehouse(
        spark, ev, "gate_events", _events_rollup,
        key_col="event_id", source_col="event_type", weight_col=None,
        salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
    )


def events_pruned_scan(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 4_000,
) -> DataFrame:
    """Composite pushdown on a generic table: event_type IN-set (partition-
    key file pruning — event_type is the pid prefix) AND a timestamp range
    (epoch-micro stripe stats). The oracle filters raw parquet, so pruning
    must be exactly transparent; the file prune is asserted to actually
    fire."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pred = [
        ("event_type", ["click", "purchase"]),
        ("ts", TS_LO_US, TS_HI_US),
    ]
    wh = tempfile.mkdtemp(prefix="orc_spark_gwh_")
    try:
        encode_table(
            spark, ev, wh, snapshot="gate_events_pruned",
            key_col="event_id", source_col="event_type", weight_col=None,
            salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
        )
        metrics: dict = {}
        dec = decode_table(
            spark, wh, "gate_events_pruned", predicate=pred, prune_metrics=metrics
        )
        out = _events_rollup(dec)
        out = spark.createDataFrame(out.collect(), out.schema)
        if not metrics.get("files_pruned"):
            raise AssertionError(f"event_type file pruning did not fire: {metrics}")
        return out
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def dsv2_events_scan(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 4_000,
) -> DataFrame:
    """The events_pruned_scan composite THROUGH the tokstripe FORMAT: the
    exact predicate every time-series consumer starts with — event_type
    IN-set AND an event-time range — reaches the engine via Catalyst's
    pushFilters as datetime probe values, which the reader translates to
    epoch counts at the stored unit (datasource._translate_ts; the ts range
    is a conservative prune hint, Spark keeps the exact filter). Planning-
    time file pruning is asserted in two links: Catalyst hands the
    event_type IN-set to the reader, which consumes it (it leaves Spark's
    residual filter), and for those filters the reader packs strictly
    fewer files into its partitions than a full scan. The oracle filters
    raw parquet, so translation + pruning must be exactly transparent."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual

    from .datasource import TokstripeReader, register

    register(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo = dt.datetime.fromtimestamp(TS_LO_US / 1e6, tz=dt.timezone.utc)
    hi = dt.datetime.fromtimestamp(TS_HI_US / 1e6, tz=dt.timezone.utc)
    wh = tempfile.mkdtemp(prefix="orc_spark_gwh_")
    try:
        encode_table(
            spark, ev, wh, snapshot="gate_dsv2_events",
            key_col="event_id", source_col="event_type", weight_col=None,
            salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
        )
        full = (
            spark.read.format("tokstripe")
            .option("path", wh).option("snapshot", "gate_dsv2_events")
            .load()
        )
        flt = full.where(
            F.col("event_type").isin("click", "purchase")
            & (F.col("ts") >= F.lit(lo))
            & (F.col("ts") <= F.lit(hi))
        )
        residual = [
            ln for ln in
            flt._jdf.queryExecution().optimizedPlan().toString().splitlines()
            if "Filter" in ln
        ]

        def planned_files(filters) -> int:
            reader = TokstripeReader(
                {"path": wh, "snapshot": "gate_dsv2_events"}, full.schema
            )
            list(reader.pushFilters(filters))
            return sum(len(p.files) for p in reader.partitions())

        n_full = planned_files([])
        n_flt = planned_files([
            In(("event_type",), ("click", "purchase")),
            GreaterThanOrEqual(("ts",), lo),
            LessThanOrEqual(("ts",), hi),
        ])
        out = _events_rollup(flt)
        out = spark.createDataFrame(out.collect(), out.schema)
        if any("event_type" in ln for ln in residual) or not n_flt < n_full:
            raise AssertionError(
                "format-level file pruning did not fire: residual filter "
                f"{residual}, {n_flt} of {n_full} files planned"
            )
        return out
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# 1997-06-30 00:00 UTC — ~25% of the lineitem fixture passes the composite
Q1_SHIP_HI_US = 867_628_800_000_000


def q1_warehouse(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 6_000,
) -> DataFrame:
    """TPC-H Q1 THROUGH the warehouse: encode `lineitem` (int32/int64,
    4 doubles, 2 strings, timestamp — the widest-typed fixture table) with
    l_returnflag as the partition prefix, decode under the composite pushed
    predicate l_returnflag IN ('A','R') AND l_shipdate <= 1997-06-30
    (IN-set file prune + epoch-micro stripe stats + exact row filter), and
    run the classic pricing aggregate over the DECODED rows. The DuckDB
    oracle computes the same from raw parquet, so the engine sits inside
    TPC-H's most-scanned query as the storage layer. Numerics per the
    oracle-parity rules: every double folds to BIGINT per row (floor-scale
    after the per-row product, which is order-deterministic IEEE) before
    SUM. File pruning is asserted to actually fire."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pred = [
        ("l_returnflag", ["A", "R"]),
        ("l_shipdate", None, Q1_SHIP_HI_US),
    ]
    wh = tempfile.mkdtemp(prefix="orc_spark_gwh_")
    try:
        encode_table(
            spark, li, wh, snapshot="gate_q1",
            key_col="l_orderkey", source_col="l_returnflag", weight_col=None,
            salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
        )
        metrics: dict = {}
        dec = decode_table(
            spark, wh, "gate_q1", predicate=pred, prune_metrics=metrics
        )
        disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        charge = disc_price * (1 + F.col("l_tax"))

        def micros(c):
            return F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")

        out = (
            dec.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(micros(F.col("l_quantity"))).cast("long").alias("sum_qty"),
                F.sum(micros(F.col("l_extendedprice"))).cast("long").alias("sum_base"),
                F.sum(micros(disc_price)).cast("long").alias("sum_disc_price"),
                F.sum(micros(charge)).cast("long").alias("sum_charge"),
                F.count(F.lit(1)).cast("long").alias("count_order"),
                F.expr("bit_xor(l_orderkey)").cast("long").alias("key_xor"),
            )
        )
        out = spark.createDataFrame(out.collect(), out.schema)
        if not metrics.get("files_pruned"):
            raise AssertionError(f"returnflag file pruning did not fire: {metrics}")
        return out
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def embeddings_warehouse_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 2_000,
) -> DataFrame:
    """embeddings table (list<float> payload, keyed on vec_id, no source)
    through the warehouse: per label, count + bit_xor of ids + the summed
    floor-scaled squared norm of every decoded vector. The norm is a left
    fold in double (same numerics as similarity._dot / the DuckDB
    list_reduce oracle), so ANY flipped mantissa bit in the float
    encode→decode path shifts norm_sum and fails the hash."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def rollup(dec: DataFrame) -> DataFrame:
        norm = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("embedding"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        return dec.groupBy("label").agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr("bit_xor(vec_id)").cast("long").alias("id_xor"),
            F.sum(F.floor(norm * 1_000_000).cast("long")).cast("long").alias("norm_sum"),
        )

    return _through_warehouse(
        spark, emb, "gate_embeddings", rollup,
        key_col="vec_id", source_col=None, weight_col=None,
        salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
    )


def documents_warehouse(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 400_000,
) -> DataFrame:
    """The RAW documents table (long free-text strings, hundreds of chars —
    a different string shape from the short ids/labels every other gate
    encodes) through the warehouse: the text column exercises the string
    DATA path's direct-vs-dictionary-vs-FSST choice on genuinely long
    values. The rollup hashes every decoded text (md5-prefix) and sums the
    hashes per (source, lang), so one flipped byte anywhere in a decoded
    string flips the value hash. weight_col=n_chars drives stripe sizing by
    actual string mass, not row count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rollup(dec: DataFrame) -> DataFrame:
        h = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("long")
        return dec.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(h % 1_000_003).cast("long").alias("text_hash_sum"),
            F.expr("bit_xor(doc_id)").cast("long").alias("id_xor"),
        )

    return _through_warehouse(
        spark, docs, "gate_documents", rollup,
        key_col="doc_id", source_col="source", weight_col="n_chars",
        salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
    )

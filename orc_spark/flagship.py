"""Flagship engine queries for the driver contract: encode→decode→verify
round-trips over tokens derived from the testdata `documents` table, plus a
codec-selection report.

`encode_roundtrip_summary` is the hard-gate entry: it returns per-source
aggregates computed FROM THE DECODED table (row counts, token counts, exact
token sums, commutative doc_id checksum lanes) plus the bit-equality verify
counters — all reproducible by a DuckDB oracle that re-derives the same
tokens from the raw documents parquet (the tokenizer is md5-prefix hashed
for exactly this reason, see tokenize.py). A wrong encode, decode, or
verify changes the value hash; the oracle's verify columns are literal 0s.
Every rollup has O(1) aggregation state (no collect_list), so the gate
query itself survives a 10^12-row source.
"""

from __future__ import annotations

import shutil
import tempfile

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import decode_table, encode_table, row_digest, verify_roundtrip
from .stripe import encode_stripe
from .tokenize import read_documents, tokens_from_documents

METRICS_SCHEMA = (
    "pid string, n_rows long, n_tokens long, enc_bytes long, "
    "bytes_per_token_f4 long, verify_missing long, verify_extra long"
)

SUMMARY_SCHEMA = (
    "source string, n_rows long, n_tokens long, token_sum long, "
    "doc_xor long, doc_sum long, verify_missing long, verify_extra long"
)

# prime modulus for the order-free doc_id checksum lane: h48 < 2^48 and
# h48 % p < 2^20, so even 10^12 rows sum to < 2^60 — no BIGINT overflow in
# either engine (DuckDB's HUGEINT sum is cast back down losslessly)
DOC_SUM_MOD = 1_000_003

PLAN_SCHEMA = (
    "column string, type string, encoding string, stream string, "
    "codec string, compression string, fsst boolean"
)


def encode_roundtrip_metrics(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Full pipeline on (doc_id, tokens, n_tok, source) derived from
    documents: salted repartition → mapInArrow encode → manifest commit →
    decode → bit-equality verify. Returns one row per committed partition
    with lineage + metrics; verify counts are repeated on each row."""
    wh = tempfile.mkdtemp(prefix="orc_spark_wh_")
    try:
        df = tokens_from_documents(read_documents(spark, sf_dir))
        manifest = encode_table(
            spark,
            df,
            wh,
            snapshot="flagship",
            salt_buckets=salt_buckets,
            stripe_tokens=stripe_tokens,
        )
        res = verify_roundtrip(df, decode_table(spark, wh, snapshot="flagship"))
        rows = [
            (
                pid,
                int(p["n_rows"]),
                int(p["n_tokens"]),
                int(p["enc_bytes"]),
                int(p["enc_bytes"] * 10_000 // max(p["n_tokens"], 1)),
                int(res["missing"]),
                int(res["extra"]),
            )
            for pid, p in sorted(manifest["partitions"].items())
        ]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return spark.createDataFrame(rows, METRICS_SCHEMA)


def summary_narrow_pass(decoded: DataFrame) -> DataFrame:
    """One narrow projection of the decoded table carrying everything both
    summary consumers need: per-source stat inputs + the verify row digest.
    ~50 bytes/row, so persisting it (instead of decoding the warehouse twice)
    is cheap even at corpus scale."""
    tok_sum = F.aggregate(
        "tokens", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    h = F.conv(F.substring(F.md5("doc_id"), 1, 12), 16, 10).cast("long")
    return decoded.select(
        F.col("source"),
        F.col("n_tok").cast("long").alias("_nt"),
        tok_sum.alias("_ts"),  # exact integer sum — order-free
        h.alias("_h"),
        row_digest(decoded.columns).alias("_rd"),
    )


def summary_aggregates(narrow: DataFrame) -> DataFrame:
    """Per-source rollup with O(1) aggregation state everywhere (commutative/
    associative — no collect_list of a 10^12-row source into one buffer): the
    doc_id checksum is a 48-bit xor lane + a mod-prime sum lane. A single
    added/dropped/altered doc_id flips doc_xor; duplicate-pair swaps that xor
    misses are caught by the sum lane and n_rows. test_plans.py asserts this
    stays a plain HashAggregate."""
    return narrow.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.sum("_ts").cast("long").alias("token_sum"),
        F.expr("bit_xor(_h)").cast("long").alias("doc_xor"),
        F.sum(F.pmod(F.col("_h"), F.lit(DOC_SUM_MOD)))
        .cast("long")
        .alias("doc_sum"),
    )


def encode_roundtrip_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Oracle-checkable round-trip: encode → decode → per-source aggregates
    of the DECODED rows. Every output value flows through the full engine
    (tokenize → salt → stripe encode → manifest → stripe decode), so the
    DuckDB value-hash comparison certifies the pipeline end to end."""
    wh = tempfile.mkdtemp(prefix="orc_spark_wh_")
    try:
        df = tokens_from_documents(read_documents(spark, sf_dir))
        encode_table(
            spark,
            df,
            wh,
            snapshot="flagship",
            salt_buckets=salt_buckets,
            stripe_tokens=stripe_tokens,
        )
        decoded = decode_table(spark, wh, snapshot="flagship")
        # ONE decode pass feeds both consumers (aggregates + verify): reduce
        # each decoded row to a narrow projection — per-source stats inputs
        # plus the verify row digest — and persist THAT (~50 bytes/row, not
        # the token payload), then aggregate and multiset-diff from it.
        narrow = summary_narrow_pass(decoded).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            agg_rows = summary_aggregates(narrow).collect()
            res = verify_roundtrip(
                df, decoded, decoded_digest=narrow.select("_rd")
            )
        finally:
            narrow.unpersist()
        rows = [
            (
                r["source"],
                int(r["n_rows"]),
                int(r["n_tokens"]),
                int(r["token_sum"]),
                int(r["doc_xor"]),
                int(r["doc_sum"]),
                int(res["missing"]),
                int(res["extra"]),
            )
            for r in agg_rows
        ]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return spark.createDataFrame(rows, SUMMARY_SCHEMA)


PRUNED_SCHEMA = (
    "source string, n_rows long, n_tokens long, token_sum long, "
    "doc_xor long, doc_sum long"
)


def _with_encoded(spark, sf_dir, snapshot, consume, salt_buckets, stripe_tokens):
    """Gate-query scaffold: derive tokens → encode into a temp warehouse →
    run `consume(wh)` → clean up. One place for the lifecycle all the
    warehouse-backed gate queries share."""
    wh = tempfile.mkdtemp(prefix="orc_spark_wh_")
    try:
        df = tokens_from_documents(read_documents(spark, sf_dir))
        encode_table(
            spark,
            df,
            wh,
            snapshot=snapshot,
            salt_buckets=salt_buckets,
            stripe_tokens=stripe_tokens,
        )
        return consume(wh)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def _checksum_summary(spark, consumer_df) -> DataFrame:
    """Collect the per-source checksum aggregates of any (doc_id, tokens,
    n_tok, source)-shaped DataFrame into a PRUNED_SCHEMA result — the shared
    tail of the pruned/export gate queries (ONE extraction list to keep in
    sync with the schema)."""
    agg_rows = summary_aggregates(summary_narrow_pass(consumer_df)).collect()
    rows = [
        (
            r["source"],
            int(r["n_rows"]),
            int(r["n_tokens"]),
            int(r["token_sum"]),
            int(r["doc_xor"]),
            int(r["doc_sum"]),
        )
        for r in agg_rows
    ]
    return spark.createDataFrame(rows, PRUNED_SCHEMA)


def pruned_scan_summary(
    spark: SparkSession,
    sf_dir: str,
    predicate: tuple | list = ("n_tok", 30, 70),
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
    require_file_pruning: bool = False,
    require_bloom_pruning: bool = False,
) -> DataFrame:
    """Predicate-pushdown gate: encode the derived tokens table, decode it
    back with a pushed predicate (file-level manifest prune + stripe-level
    footer-stats prune + exact row filter — pipeline.decode_table), and
    aggregate the SURVIVING rows per source with the same O(1)-state
    checksum lanes as the round-trip gate. The DuckDB oracle filters the
    re-derived tokens table directly, so a pruning bug that drops or leaks
    a single row anywhere flips the value hash. Registered three times in
    the driver contract: `pruned_scan` (int stats path, n_tok),
    `pruned_scan_ids` (string path: doc_id manifest ranges),
    `pruned_scan_multi` (conjunction: source IN-set × n_tok between — the
    composite search-argument path, with `require_file_pruning` asserting
    the manifest prune actually removed files, so the gate can't silently
    pass by decoding everything), and `point_lookup` (doc_id IN-set — the
    salt makes key ranges useless there, so `require_bloom_pruning`
    asserts the sidecar key blooms skipped files)."""

    def consume(wh):
        metrics: dict = {}
        decoded = decode_table(
            spark, wh, snapshot="pruned", predicate=predicate,
            prune_metrics=metrics,
        )
        out = _checksum_summary(spark, decoded)
        if require_file_pruning and not metrics.get("files_pruned"):
            raise AssertionError(
                f"file-level pruning did not fire: {metrics}"
            )
        if require_bloom_pruning and not metrics.get("files_bloom_pruned"):
            raise AssertionError(
                f"file-level BLOOM pruning did not fire: {metrics}"
            )
        return out

    return _with_encoded(spark, sf_dir, "pruned", consume, salt_buckets, stripe_tokens)


def delete_scan_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Merge-on-read delete gate (deletes.py): encode → `delete_where(n_tok
    BETWEEN 30 AND 70)` (keys found via the pruned scan, committed as a new
    snapshot sharing the parent's files) → decode the delete snapshot and
    aggregate the SURVIVING rows. The DuckDB oracle filters the re-derived
    tokens to NOT BETWEEN, so a delete that drops a survivor or resurrects
    a deleted row flips the value hash. In-gate cross-checks before the
    oracle sees anything:
      * `spark.read.format("tokstripe")` on the delete snapshot must see
        the same survivors (the format's per-task equality-delete merge);
      * time travel to the parent (`metadata.snapshot_as_of` one commit-log
        ordinal back) must still count EVERY row — deletes are snapshots,
        not mutations;
      * `maintenance.materialize_deletes` must rewrite to a delete-free
        manifest whose decode equals the survivors bit-for-bit."""
    from . import deletes as _deletes
    from .datasource import register
    from .maintenance import materialize_deletes
    from .metadata import snapshot_as_of
    from .warehouse import Warehouse

    def consume(wh):
        n_total = decode_table(spark, wh, snapshot="dels").count()
        res = _deletes.delete_where(spark, wh, ("n_tok", 30, 70), snapshot="dels")
        snap = res["snapshot_id"]
        if res["n_deleted"] <= 0:
            raise AssertionError("delete predicate matched no rows")
        out = _checksum_summary(
            spark, decode_table(spark, wh, snapshot=snap)
        )
        rows = sorted(map(tuple, out.collect()))
        register(spark)
        fmt = (
            spark.read.format("tokstripe")
            .option("path", wh).option("snapshot", snap).load()
        )
        if sorted(map(tuple, _checksum_summary(spark, fmt).collect())) != rows:
            raise AssertionError("tokstripe read of delete snapshot differs")
        parent = snapshot_as_of(wh, ordinal=len(Warehouse(wh).commit_log()) - 2)
        if decode_table(spark, wh, snapshot=parent).count() != n_total:
            raise AssertionError("time travel to pre-delete snapshot lost rows")
        mat = materialize_deletes(spark, wh, snapshot=snap)
        if mat.get("delete_files"):
            raise AssertionError("materialized snapshot still carries deletes")
        mdec = _checksum_summary(
            spark, decode_table(spark, wh, snapshot=mat["snapshot_id"])
        )
        if sorted(map(tuple, mdec.collect())) != rows:
            raise AssertionError("materialize_deletes changed the survivors")
        return out

    return _with_encoded(spark, sf_dir, "dels", consume, salt_buckets, stripe_tokens)


def wap_scan_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Write-audit-publish gate (branch-scoped writes + refs): encode →
    create branch `audit` → `delete_where(n_tok 20..40, branch='audit')` —
    CURRENT must still read EVERY row (the write landed on the branch
    only; asserted in-gate) — audit the branch snapshot, then PUBLISH by
    fast-forwarding CURRENT to the branch target. The oracle checks the
    published survivors, so a branch write that leaks into main early, or
    a publish that loses the branch's changes, flips the value hash."""
    from . import deletes as _deletes
    from .warehouse import Warehouse

    def consume(wh):
        w = Warehouse(wh)
        n_total = decode_table(spark, wh, snapshot="wap").count()
        w.set_ref("audit", "wap", kind="branch")
        res = _deletes.delete_where(
            spark, wh, ("n_tok", 20, 40), branch="audit"
        )
        if res["n_deleted"] <= 0:
            raise AssertionError("branch delete matched no rows")
        # isolation: main is untouched until publish
        if w.current_snapshot_id() != "wap":
            raise AssertionError("branch write moved CURRENT")
        if decode_table(spark, wh).count() != n_total:
            raise AssertionError("branch delete leaked into main")
        # audit the branch, then publish (fast-forward CURRENT)
        audited = decode_table(spark, wh, snapshot="audit")
        n_branch = audited.count()
        if n_branch != n_total - res["n_deleted"]:
            raise AssertionError("branch read shows wrong survivor count")
        w.rollback(w.resolve_snapshot("audit"))
        published = decode_table(spark, wh)  # CURRENT now = audited state
        if published.count() != n_branch:
            raise AssertionError("publish lost the branch's changes")
        return _checksum_summary(spark, published)

    return _with_encoded(spark, sf_dir, "wap", consume, salt_buckets, stripe_tokens)


def upsert_scan_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Merge-on-read UPSERT gate (deletes.upsert — the MERGE INTO analog):
    encode → derive `df_new` FROM THE DECODED warehouse (updated slice
    h48(doc_id)%10==3 with a 0-token appended; inserted slice %10==7 under
    new ids with tokens [1,2,3]) → upsert → aggregate the merged table.
    The DuckDB oracle recomputes the same merge from raw documents, so a
    reader that resurrects a replaced row, drops an inserted one, or
    leaks an old version through the seq scoping flips the value hash.
    In-gate: tokstripe format parity, and time travel to the parent
    still counts every original row."""
    from . import deletes as _deletes
    from .datasource import register
    from .metadata import snapshot_as_of
    from .textops import _h48
    from .warehouse import Warehouse

    def consume(wh):
        base = decode_table(spark, wh, snapshot="ups")
        n_total = base.count()
        h = _h48(F.col("doc_id")) % 10
        upd = (
            base.where(h == 3)
            .withColumn(
                "tokens", F.concat("tokens", F.array(F.lit(0).cast("int")))
            )
            .withColumn("n_tok", F.size("tokens").cast("int"))
        )
        ins = (
            base.where(h == 7)
            .select(
                F.concat("doc_id", F.lit("-n")).alias("doc_id"),
                F.array(
                    F.lit(1).cast("int"), F.lit(2).cast("int"),
                    F.lit(3).cast("int"),
                ).alias("tokens"),
                F.col("source"),
            )
            .withColumn("n_tok", F.size("tokens").cast("int"))
        )
        res = _deletes.upsert(spark, wh, upd.unionByName(ins), snapshot="ups")
        snap = res["snapshot_id"]
        if res["n_upserted"] <= 0:
            raise AssertionError("upsert wrote no keys")
        out = _checksum_summary(spark, decode_table(spark, wh, snapshot=snap))
        rows = sorted(map(tuple, out.collect()))
        register(spark)
        fmt = (
            spark.read.format("tokstripe")
            .option("path", wh).option("snapshot", snap).load()
        )
        if sorted(map(tuple, _checksum_summary(spark, fmt).collect())) != rows:
            raise AssertionError("tokstripe read of upsert snapshot differs")
        parent = snapshot_as_of(wh, ordinal=0)
        if decode_table(spark, wh, snapshot=parent).count() != n_total:
            raise AssertionError("time travel to pre-upsert snapshot lost rows")
        return out

    return _with_encoded(spark, sf_dir, "ups", consume, salt_buckets, stripe_tokens)


CDC_SCHEMA = (
    "change string, source string, n_rows long, n_tokens long, "
    "token_sum long, doc_xor long, doc_sum long"
)


def cdc_scan_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Changelog gate (cdc.py): encode → delete_where(n_tok 30..70) →
    upsert (update slice h%10==3 with a 0-token appended; insert slice
    %10==7 under '-e' ids with tokens [9]) → `changes_between` from the
    base ordinal → aggregate per (change, source). The DuckDB oracle
    recomputes the exact changelog — the delete commit's pre-images, the
    upsert's old-version deletes and new-version inserts — so a missing
    pre-image, a phantom delete for a brand-new key, or a wrong commit
    attribution flips the value hash. In-gate: replaying the changelog
    onto the base snapshot must reproduce the final table exactly."""
    from . import deletes as _deletes
    from .cdc import changes_between
    from .textops import _h48

    def consume(wh):
        d = _deletes.delete_where(spark, wh, ("n_tok", 30, 70),
                                  snapshot="cdc")["snapshot_id"]
        live = decode_table(spark, wh, snapshot=d)
        h = _h48(F.col("doc_id")) % 10
        upd = (
            live.where(h == 3)
            .withColumn("tokens", F.concat("tokens", F.array(F.lit(0).cast("int"))))
            .withColumn("n_tok", F.size("tokens").cast("int"))
        )
        ins = (
            live.where(h == 7)
            .select(
                F.concat("doc_id", F.lit("-e")).alias("doc_id"),
                F.array(F.lit(9).cast("int")).alias("tokens"),
                F.col("source"),
            )
            .withColumn("n_tok", F.size("tokens").cast("int"))
        )
        u = _deletes.upsert(spark, wh, upd.unionByName(ins), snapshot=d)[
            "snapshot_id"
        ]
        ch = changes_between(spark, wh, "cdc", u).persist()
        try:
            rows = (
                ch.groupBy("_change_type", "source")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum(F.size("tokens")).alias("n_tokens"),
                    F.sum(
                        F.aggregate(
                            "tokens", F.lit(0).cast("long"), lambda a, x: a + x
                        )
                    ).alias("token_sum"),
                    F.bit_xor(_h48(F.col("doc_id"))).alias("doc_xor"),
                    F.sum(_h48(F.col("doc_id")) % DOC_SUM_MOD).alias("doc_sum"),
                )
                .collect()
            )
            # replay invariant: base + changelog == final table
            base_d = decode_table(spark, wh, snapshot="cdc")
            dels = ch.where("_change_type = 'delete'").select("doc_id")
            inss = ch.where("_change_type = 'insert'").select(
                "doc_id", "tokens", "source", "n_tok"
            )
            replayed = (
                base_d.join(dels, "doc_id", "left_anti").unionByName(inss)
            )
            final = decode_table(spark, wh, snapshot=u)
            if replayed.exceptAll(final).count() or \
                    final.exceptAll(replayed).count():
                raise AssertionError("changelog replay != final table")
        finally:
            ch.unpersist()
        return spark.createDataFrame(
            [
                (
                    r["_change_type"], r["source"], int(r["n_rows"]),
                    int(r["n_tokens"]), int(r["token_sum"]),
                    int(r["doc_xor"]), int(r["doc_sum"]),
                )
                for r in rows
            ],
            CDC_SCHEMA,
        )

    return _with_encoded(spark, sf_dir, "cdc", consume, salt_buckets, stripe_tokens)


EVO_SCHEMA = (
    "source string, n_rows long, n_tokens long, token_sum long, "
    "langs long, doc_xor long, doc_sum long"
)


def schema_evolution_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Schema-evolution gate (evolution.py): encode → RENAME the payload
    column (tokens → toks; metadata-only, stripe footers keep the old
    stored name) and ADD a column (lang, null-filled in pre-add files) →
    UPSERT an inserted slice written under the NEW names with lang
    populated → aggregate the mixed table. Old-name stripes and new-name
    stripes resolve through the same field IDs; the DuckDB oracle
    recomputes the final table, so a misresolved rename, a wrong null
    fill, or a version leak flips the value hash. In-gate: tokstripe
    format parity on the evolved schema and time travel to the pre-
    evolution snapshot (old column name intact)."""
    from . import deletes as _deletes
    from .datasource import register
    from .evolution import evolve_schema
    from .metadata import snapshot_as_of
    from .textops import _h48

    def consume(wh):
        ev = evolve_schema(
            wh, snapshot="evo",
            rename={"tokens": "toks"}, add={"lang": "string"},
        )["snapshot_id"]
        base = decode_table(spark, wh, snapshot=ev)
        ins = (
            base.where(_h48(F.col("doc_id")) % 10 == 7)
            .select(
                F.concat("doc_id", F.lit("-e")).alias("doc_id"),
                F.array(F.lit(9).cast("int"), F.lit(9).cast("int")).alias("toks"),
                F.col("source"),
                F.lit(2).cast("int").alias("n_tok"),
                F.lit("xx").alias("lang"),
            )
        )
        res = _deletes.upsert(spark, wh, ins, snapshot=ev)
        snap = res["snapshot_id"]
        if res["n_upserted"] <= 0:
            raise AssertionError("evolution upsert wrote no keys")

        def agg(df):
            rows = (
                df.groupBy("source")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum(F.size("toks")).alias("n_tokens"),
                    F.sum(
                        F.aggregate(
                            "toks", F.lit(0).cast("long"), lambda a, x: a + x
                        )
                    ).alias("token_sum"),
                    F.count("lang").alias("langs"),
                    F.bit_xor(_h48(F.col("doc_id"))).alias("doc_xor"),
                    F.sum(_h48(F.col("doc_id")) % DOC_SUM_MOD).alias("doc_sum"),
                )
                .collect()
            )
            return spark.createDataFrame(
                [
                    (
                        r["source"], int(r["n_rows"]), int(r["n_tokens"]),
                        int(r["token_sum"]), int(r["langs"]),
                        int(r["doc_xor"]), int(r["doc_sum"]),
                    )
                    for r in rows
                ],
                EVO_SCHEMA,
            )

        out = agg(decode_table(spark, wh, snapshot=snap))
        rows = sorted(map(tuple, out.collect()))
        register(spark)
        fmt = (
            spark.read.format("tokstripe")
            .option("path", wh).option("snapshot", snap).load()
        )
        if sorted(map(tuple, agg(fmt).collect())) != rows:
            raise AssertionError("tokstripe read of evolved snapshot differs")
        pre = decode_table(spark, wh, snapshot=snapshot_as_of(wh, ordinal=0))
        if "tokens" not in pre.columns:
            raise AssertionError("time travel lost the pre-evolution schema")
        return out

    return _with_encoded(spark, sf_dir, "evo", consume, salt_buckets, stripe_tokens)


def dsv2_scan_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Data-source-format gate: encode → read back through
    `spark.read.format("tokstripe")` (orc_spark.datasource — the warehouse
    as a first-class Spark format) with a Catalyst WHERE whose filters
    reach the engine via `DataSourceReader.pushFilters` (planning-time
    file/bloom prune, stripe-stats skip, exact arrow row filter) →
    per-source checksum aggregates. The DuckDB oracle filters the
    re-derived tokens directly, so schema inference, pushdown translation,
    and the Arrow read path are all inside the value-hash gate."""
    from pyspark.sql import functions as FF

    from .datasource import register

    register(spark)

    def consume(wh):
        r = (
            spark.read.format("tokstripe")
            .option("path", wh)
            .option("snapshot", "dsv2")
            .load()
            .where(
                (FF.col("source") >= "src3")
                & (FF.col("n_tok") >= 30)
                & (FF.col("n_tok") <= 70)
            )
        )
        return _checksum_summary(spark, r)

    return _with_encoded(spark, sf_dir, "dsv2", consume, salt_buckets, stripe_tokens)


def orc_export_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Interchange-sink gate: encode → export_orc → read the standalone ORC
    files back with SPARK'S OWN ORC READER (orc-core, not our decoder) →
    per-source checksum aggregates. The DuckDB oracle re-derives the same
    aggregates from raw documents, so a single byte our ORC writer gets
    wrong anywhere in the container or streams flips the value hash — the
    reference reader is IN the gate loop."""
    from .pipeline import export_orc

    out = tempfile.mkdtemp(prefix="orc_spark_export_")

    def consume(wh):
        export_orc(spark, wh, out, snapshot="export").collect()
        return _checksum_summary(spark, spark.read.orc(f"{out}/*.orc"))

    try:
        return _with_encoded(
            spark, sf_dir, "export", consume, salt_buckets, stripe_tokens
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def orc_import_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Interchange-SOURCE gate, the mirror of orc_export_summary: write the
    derived tokens table as standard ORC with SPARK'S OWN ORC WRITER
    (orc-core, zstd), ingest those foreign ORC files through
    pipeline.import_orc (spark.read.orc → the exchange encode
    pipeline) into a fresh warehouse, decode, and aggregate per source.
    Export proves any ORC reader consumes the warehouse; THIS proves the
    warehouse consumes any ORC writer — a reference ORC user's existing
    files migrate in with one call. The DuckDB oracle re-derives the same
    aggregates from raw documents, so a bit lost anywhere in orc-core's
    write/read or our encode→decode flips the value hash."""
    from .pipeline import decode_table, import_orc

    orc_dir = tempfile.mkdtemp(prefix="orc_spark_import_src_")
    wh = tempfile.mkdtemp(prefix="orc_spark_import_wh_")
    try:
        df = tokens_from_documents(read_documents(spark, sf_dir))
        df.write.mode("overwrite").orc(orc_dir)
        import_orc(
            spark, orc_dir, wh, snapshot="import",
            salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
        )
        return _checksum_summary(spark, decode_table(spark, wh, "import"))
    finally:
        shutil.rmtree(orc_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


def compaction_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 500_000,
    mode: str = "concat",
) -> DataFrame:
    """Maintenance gate: split the derived tokens table into three epoch
    snapshots (the stream sink's one-snapshot-per-micro-batch shape), encode
    each, compact them into one snapshot (maintenance.compact_snapshots),
    EXPIRE the sources, then decode ONLY the compacted snapshot into the
    per-source checksum aggregates. The DuckDB oracle aggregates the full
    re-derived tokens table, so compaction must be exactly lossless — a
    dropped/duplicated stripe, a mis-merged manifest range, or a compacted
    file secretly sharing state with an expired source all flip the hash.
    The file-count assertion pins the point of the operator: up to 3 epoch
    files per pid must become exactly 1."""
    from .maintenance import compact_snapshots, expire_snapshots
    from .warehouse import Warehouse

    wh = tempfile.mkdtemp(prefix="orc_spark_compact_")
    try:
        df = tokens_from_documents(read_documents(spark, sf_dir))
        epoch = F.pmod(F.xxhash64("doc_id"), F.lit(3))
        snaps = [f"stream-{e:03d}" for e in range(3)]
        for e, s in enumerate(snaps):
            encode_table(
                spark, df.where(epoch == e), wh, snapshot=s,
                salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
            )
        n_src_files = sum(
            len(Warehouse(wh).read_manifest(s)["partitions"]) for s in snaps
        )
        m = compact_snapshots(spark, wh, snaps, "main", mode=mode)
        # every epoch need not hit every pid, so dest*3 bounds src from
        # above; collapse means strictly fewer dest files than source files
        if mode == "concat" and not (
            len(m["partitions"]) < n_src_files <= len(m["partitions"]) * 3
        ):
            raise AssertionError(
                f"compaction did not collapse files: {n_src_files} sources "
                f"-> {len(m['partitions'])} dest"
            )
        expire_snapshots(wh, snaps)
        return _checksum_summary(spark, decode_table(spark, wh, "main"))
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def vocab_top_tokens(
    spark: SparkSession,
    sf_dir: str,
    k: int = 50,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Vocabulary histogram THROUGH the warehouse: encode → decode →
    explode(tokens) → count per token id → top-k (count desc, token asc).
    The analytics consumer reads the engine's decoded output, so the gate
    covers engine-as-source, not just engine-as-roundtrip. Plan: explode is
    narrow over the decode scan; the count is one map-side-combined shuffle
    onto ≤ vocab (50k) keys; top-k is a single-partition sort of 50k rows."""

    def consume(wh):
        decoded = decode_table(spark, wh, snapshot="vocab", columns=["tokens"])
        from pyspark.sql import Window

        counts = (
            decoded.select(F.explode("tokens").alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("n"))
        )
        w = Window.orderBy(F.desc("n"), F.asc("token"))
        top = (
            counts.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select(
                F.col("token").cast("int").alias("token"),
                F.col("n").cast("long").alias("n"),
                F.col("rnk").cast("int").alias("rnk"),
            )
        )
        rows = [(r["token"], r["n"], r["rnk"]) for r in top.collect()]
        return spark.createDataFrame(rows, "token int, n long, rnk int")

    return _with_encoded(spark, sf_dir, "vocab", consume, salt_buckets, stripe_tokens)


def pack_warehouse(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = 512,
    salt_buckets: int = 8,
    stripe_tokens: int = 2_000_000,
) -> DataFrame:
    """Sequence packing THROUGH the warehouse — the op a training pipeline
    runs over the decoded corpus: encode → decode only (doc_id, source,
    n_tok) (column pruning: the tokens stream is never decompressed) →
    textops.pack_plan (one window cumsum per source, closed-form offsets,
    ONE shuffle on source — the same plan shape pack_sequences gates over
    raw documents). doc_id decodes as string, so the oracle orders by the
    same string key."""
    from .textops import pack_plan

    def consume(wh):
        dec = decode_table(
            spark, wh, snapshot="pack", columns=["doc_id", "source", "n_tok"]
        )
        out = pack_plan(dec, seq_len)
        return spark.createDataFrame(out.collect(), out.schema)

    return _with_encoded(spark, sf_dir, "pack", consume, salt_buckets, stripe_tokens)


def codec_plan_report(
    spark: SparkSession, sf_dir: str, probe_rows: int = 4096
) -> DataFrame:
    """The codec auto-selection decisions (SURVEY.md §2.4) on the derived
    tokens table: one row per (column, stream) with chosen encoding/codec/
    compression. The single-stripe probe runs EXECUTOR-side (limit →
    mapInArrow) — only the ~8 plan rows ever reach the driver, so the query
    is scale-safe: at 100 TB it still encodes exactly one probe stripe."""
    df = (
        tokens_from_documents(read_documents(spark, sf_dir))
        .orderBy("doc_id")
        .limit(probe_rows)
        .coalesce(1)  # one probe stripe → one plan-row batch
    )

    def probe(batches):
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        if tbl.num_rows == 0:
            return
        _, footer = encode_stripe(tbl)
        rows = []
        for col, meta in footer["columns"].items():
            for s in meta["streams"]:
                rows.append(
                    {
                        "column": col,
                        "type": meta["type"],
                        "encoding": meta["encoding"],
                        "stream": s["kind"],
                        "codec": s.get("codec", "bytes"),
                        "compression": s["comp"],
                        "fsst": bool(s.get("fsst", False)),
                    }
                )
        yield pa.RecordBatch.from_pylist(rows)

    return df.mapInArrow(probe, PLAN_SCHEMA)


META_GATE_SCHEMA = "snap string, n_rows long, n_tokens long"


def warehouse_snapshots_summary(
    spark: SparkSession,
    sf_dir: str,
    salt_buckets: int = 4,
    stripe_tokens: int = 500_000,
) -> DataFrame:
    """Metadata-tables gate (Iceberg `snapshots`/`files` analogs,
    metadata.py): encode the derived tokens table into TWO snapshots split
    by h48(doc_id) parity (the repo's portable md5-prefix hash, so DuckDB
    reproduces the split exactly), then answer from `snapshots_table`
    ALONE — no data file is opened, the numbers are the manifests'
    per-partition lineage metrics. The oracle recomputes both splits'
    row/token totals from the raw documents, so this hash-gates the
    bookkeeping the north rule requires every partition to record
    (n_rows/n_tokens lineage): a partition whose recorded counts drift
    from the data it actually encoded flips the hash. Also asserts the two
    metadata relations are mutually consistent (files_table sums == the
    snapshots_table row, per snapshot) and that commit-log order/status
    are right ('even' committed first, 'odd' is CURRENT)."""
    from .metadata import files_table, snapshots_table
    from .textops import _h48

    wh = tempfile.mkdtemp(prefix="orc_spark_meta_")
    try:
        df = tokens_from_documents(read_documents(spark, sf_dir))
        parity = F.pmod(_h48(F.col("doc_id")), F.lit(2))
        for par, snap in ((0, "even"), (1, "odd")):
            encode_table(
                spark, df.where(parity == par), wh, snapshot=snap,
                salt_buckets=salt_buckets, stripe_tokens=stripe_tokens,
            )
        snaps = {r["snapshot_id"]: r for r in snapshots_table(spark, wh).collect()}
        ftot = {
            r["snapshot_id"]: r
            for r in files_table(spark, wh, ["even", "odd"])
            .groupBy("snapshot_id")
            .agg(
                F.count("*").alias("n_files"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("enc_bytes").alias("enc_bytes"),
            )
            .collect()
        }
        if snaps["even"]["status"] != "committed" or snaps["odd"]["status"] != "current":
            raise AssertionError(f"snapshot status wrong: {snaps}")
        if snaps["even"]["ordinal"] >= snaps["odd"]["ordinal"]:
            raise AssertionError("commit-log order lost")
        for sid in ("even", "odd"):
            s, f = snaps[sid], ftot[sid]
            if (s["n_partitions"], s["n_rows"], s["n_tokens"], s["enc_bytes"]) != (
                f["n_files"], f["n_rows"], f["n_tokens"], f["enc_bytes"]
            ):
                raise AssertionError(
                    f"files_table disagrees with snapshots_table for {sid}: "
                    f"{s} vs {f}"
                )
        rows = [
            (sid, int(snaps[sid]["n_rows"]), int(snaps[sid]["n_tokens"]))
            for sid in ("even", "odd")
        ]
        return spark.createDataFrame(rows, META_GATE_SCHEMA)
    finally:
        shutil.rmtree(wh, ignore_errors=True)

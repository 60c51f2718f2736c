"""Merge-on-read overhead microbenchmark. Prints ONE JSON line.

Measures what the r5 row-level machinery costs at read time on the
canonical t-bench table (20k docs / 8.11M tokens at sf0.1, the same table
bench.py and BASELINE.md use), local[$SPARK_GRAFT_CPUS]:

  decode_clean        full decode+count of the base snapshot (baseline)
  decode_mor_inline   same read after delete_where removed ~1% of keys —
                      the per-task is_in mask (zero extra shuffle)
  decode_after_upsert read of an upsert snapshot (one scan, each file
                      masked by its seq-scoped delete set)
  cdc_small_delete    cdc.changes_between for one small delete commit
                      (pre-images via pruned IN-set point lookups)

Each wall is the median of 3 runs AFTER one warm-up decode (Python-worker
startup amortizes on a real cluster). Overheads are reported as ratios to
decode_clean so the numbers survive host-speed swings (BENCH.md's noisy-
neighbor caveat applies to absolutes, not ratios measured back-to-back).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DOCS_PER_SF = 200_000


def _sf() -> float:
    name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def main() -> None:
    import pyarrow.parquet as pq

    from orc_spark import deletes
    from orc_spark.cdc import changes_between
    from orc_spark.fixtures import tokens_arrow
    from orc_spark.pipeline import decode_table, encode_table
    from orc_spark.session import get_spark

    sf = _sf()
    n_docs = max(int(DOCS_PER_SF * sf), 200)
    os.environ.setdefault("ORC_SPARK_SHUFFLE_CHECKSUM", "false")
    spark = get_spark(cpus=CPUS, app_name="orc_spark_bench_mor")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="orc_spark_mor_")
    inp = os.path.join(work, "input.parquet")
    tbl = tokens_arrow(n_docs)
    pq.write_table(tbl, inp)
    n_tokens = int(tbl.column("n_tok").to_pandas().sum())
    wh = os.path.join(work, "wh")
    df = spark.read.parquet(inp)
    encode_table(spark, df, wh, snapshot="b0", salt_buckets=32)

    # ~1% of keys via an n_tok band (lognormal lengths: tune the band)
    lo, hi = 330, 340
    d1 = deletes.delete_where(spark, wh, ("n_tok", lo, hi), snapshot="b0")
    # upsert: rewrite the same ~1% slice with shifted tokens
    from pyspark.sql import functions as F

    upd = (
        decode_table(spark, wh, snapshot="b0", predicate=("n_tok", 200, 210))
        .withColumn("tokens", F.expr("transform(tokens, x -> CAST(x+1 AS INT))"))
    )
    u1 = deletes.upsert(spark, wh, upd, snapshot=d1["snapshot_id"])

    def wall(fn, n=3):
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        return round(statistics.median(runs), 3)

    decode_table(spark, wh, snapshot="b0").count()  # warm-up
    queries = {}
    queries["decode_clean"] = wall(
        lambda: decode_table(spark, wh, snapshot="b0").count()
    )
    queries["decode_mor_inline"] = wall(
        lambda: decode_table(spark, wh, snapshot=d1["snapshot_id"]).count()
    )
    queries["decode_after_upsert"] = wall(
        lambda: decode_table(spark, wh, snapshot=u1["snapshot_id"]).count()
    )
    queries["cdc_small_delete"] = wall(
        lambda: changes_between(
            spark, wh, "b0", d1["snapshot_id"]
        ).count()
    )
    base = queries["decode_clean"] or 1e-9
    ratios = {
        k: round(v / base, 3) for k, v in queries.items() if k != "decode_clean"
    }
    print(json.dumps({
        "metric": "mor_read_overhead",
        "value": queries["decode_mor_inline"],
        "unit": "sec",
        "queries": queries,
        "ratio_vs_clean": ratios,
        "n_deleted": d1["n_deleted"],
        "n_upserted": u1["n_upserted"],
        "sf": sf, "cpus": CPUS, "n_docs": n_docs, "n_tokens": n_tokens,
    }))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

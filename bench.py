"""Per-round benchmark. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {<phase/query>: sec, ...}, "sf": <sf>, ...extras}

Headline: the encode→decode→verify pipeline on the canonical tokens table at
the scale factor implied by $SPARK_GRAFT_SF_DIR (sf0.1 → 20,000 docs /
8.11M tokens — the exact t-bench table BASELINE.md measured the reference ORC
writer on, so bytes_per_token and tokens/sec are directly comparable), plus
wall times for representative operator queries over the testdata tables.

Each phase is timed warm: encode on the SECOND run (fresh snapshot, same
session), decode and verify after one untimed run each. A first run pays
Python-worker startup, allocator warm-up and the session's one-time job
set-up (the first mapInArrow job) that a long-running cluster job
amortizes away. The input is written in 8192-row groups, so the encode's
map job spreads over the cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DOCS_PER_SF = 200_000  # sf0.1 -> 20k docs: the BASELINE.md t-bench table


def _sf() -> float:
    name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def _rounded(v):
    if isinstance(v, dict):
        return {k: _rounded(x) for k, x in v.items()}
    return round(v, 4) if isinstance(v, float) else v


def disk_bytes(wh: str, manifest: dict) -> dict:
    """Bytes on disk of one encoded snapshot: its data files, their bloom
    sidecars, and the manifests plus commit log of the warehouse."""
    from orc_spark.warehouse import sidecar_file

    files = [p["file"] for p in manifest["partitions"].values()]
    meta = 0
    for root, _, names in os.walk(os.path.join(wh, "manifests")):
        meta += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return {
        "data_files": sum(os.path.getsize(f) for f in files),
        "sidecars": sum(
            os.path.getsize(sidecar_file(f))
            for f in files
            if os.path.exists(sidecar_file(f))
        ),
        "manifest_log": meta,
    }


def main() -> None:
    import pyarrow.parquet as pq

    from orc_spark import similarity, textops
    from orc_spark.fixtures import tokens_arrow
    from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip
    from orc_spark.relational import pricing_summary
    from orc_spark.session import get_spark

    sf = _sf()
    n_docs = max(int(DOCS_PER_SF * sf), 200)
    # this run ends in a full decode bit-equality verify, so the redundant
    # shuffle-checksum CPU pass is safely skipped (session.py)
    os.environ.setdefault("ORC_SPARK_SHUFFLE_CHECKSUM", "false")
    spark = get_spark(cpus=CPUS, app_name="orc_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="orc_spark_bench_")
    inp = os.path.join(work, "input.parquet")
    tbl = tokens_arrow(n_docs)
    pq.write_table(tbl, inp, row_group_size=8192)
    n_tokens = tbl.column("n_tok").to_pandas().sum()
    df = spark.read.parquet(inp)

    queries: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        queries[name] = round(time.perf_counter() - t0, 3)
        return out

    # bucket count per the pipeline capacity rule (S ~ bytes / (n_sources x
    # target-partition-size)) — task parallelism comes from num_partitions,
    # not from S, so a small-input bench should not fragment into 160 pids
    salt = 8
    # warm-up runs (snapshot w), then the timed runs (snapshot b)
    wh = os.path.join(work, "wh")
    encode_table(spark, df, wh, snapshot="w", salt_buckets=salt, stripe_tokens=4_000_000)
    decode_table(spark, wh, snapshot="w").count()
    assert verify_roundtrip(df, decode_table(spark, wh, snapshot="w"))["ok"]
    shutil.rmtree(wh)
    manifest = timed(
        "encode",
        lambda: encode_table(
            spark, df, wh, snapshot="b", salt_buckets=salt, stripe_tokens=4_000_000
        ),
    )
    disk = disk_bytes(wh, manifest)
    timed("decode", lambda: decode_table(spark, wh, snapshot="b").count())
    res = timed("verify", lambda: verify_roundtrip(df, decode_table(spark, wh, snapshot="b")))
    assert res["ok"], "bit-equality verify FAILED"

    # point lookup on the encoded warehouse: blooms prune non-matching
    # files at planning time, so this should be near-constant in table size
    # (the contrast with "decode" above is the pruning win)
    ids = [f"doc-{i:010d}" for i in (7, n_docs // 2, n_docs - 3)]
    timed(
        "point_lookup",
        lambda: decode_table(
            spark, wh, snapshot="b", predicate=[("doc_id", ids)]
        ).count(),
    )

    # representative operator queries over the driver testdata at this sf
    timed("dedup_exact", lambda: textops.dedup_exact(spark, SF_DIR).count())
    timed("minhash_signatures", lambda: textops.minhash_signatures(spark, SF_DIR).count())
    timed("simhash", lambda: textops.simhash32(spark, SF_DIR).count())
    timed("topk_cosine", lambda: similarity.topk_cosine(spark, SF_DIR).count())
    timed("pricing_summary", lambda: pricing_summary(spark, SF_DIR).count())

    enc_bytes = sum(p["enc_bytes"] for p in manifest["partitions"].values())
    total = round(queries["encode"] + queries["decode"] + queries["verify"], 3)
    print(
        json.dumps(
            {
                "metric": "encode_decode_verify_wall",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "cpus": CPUS,
                "n_docs": int(n_docs),
                "n_tokens": int(n_tokens),
                "enc_bytes": int(enc_bytes),
                "bytes_per_token": round(enc_bytes / int(n_tokens), 4),
                # the same snapshot on disk: stripe files, bloom sidecars,
                # manifests + commit log (enc_bytes counts blobs only)
                "disk_bytes": disk,
                "disk_bytes_per_token": {
                    k: round(v / int(n_tokens), 4) for k, v in disk.items()
                },
                "encode_tokens_per_s": round(int(n_tokens) / queries["encode"], 1),
                "decode_tokens_per_s": round(int(n_tokens) / queries["decode"], 1),
                # the timed encode's layers: map, plan and reduce walls,
                # task counts and summed task seconds per step
                "encode_phases": _rounded(manifest["encode_phases"]),
            }
        )
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

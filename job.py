"""spark-submit entry point for the encode pipeline (BASELINE.json:6
"submitted via spark-submit --py-files").

Usage (cluster):
  python -m zipfile -c engine.zip orc_spark/
  spark-submit --py-files engine.zip job.py \
      --input <parquet dir of (doc_id,tokens,n_tok,source)> \
      --warehouse <dir> --snapshot s1

Usage (sandbox, synthesizing the canonical input at the input_hint shape):
  python job.py --docs 20000 --warehouse /tmp/wh --cpus 8

Prints one JSON line of run metrics (tokens/sec, bytes/token, partitions).
Re-running with the same --snapshot resumes: a committed snapshot is
reported as is with no encode job, and a killed run's complete data files
are adopted so only the missing partitions encode before the one commit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _proc_pids(needle: str) -> list[int]:
    import glob

    pids = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if needle in cmd and "java" in cmd.split(" ", 1)[0]:
            pids.append(int(p.split("/")[2]))
    return pids


def _pin_cluster_processes(spark) -> None:
    """Benchmark-protocol CPU pinning for local-cluster runs (set by
    bench_scaling.py --mode cluster). A real N-executor cluster gives each
    executor its own cores and keeps the driver on a separate node; the
    single-box analog is: pin every executor JVM (and the Python codec
    workers it forks, which inherit affinity) to exactly the measured core
    budget, and pin the driver python + JVM (which also hosts the
    local-cluster Master/Worker RPC endpoints) to a fixed, disjoint core
    set that is IDENTICAL at both cluster sizes — so the scaling ratio
    compares executor fleets, not driver overhead. env:
      ORC_SPARK_PIN_EXECUTORS=0-3    cores for all executor backends
      ORC_SPARK_PIN_DRIVER=28-31     cores for the driver process tree
    Executors must be pinned BEFORE the first Python task so forked
    pyspark.daemon trees inherit the affinity."""
    import subprocess
    import time

    exec_cores = os.environ.get("ORC_SPARK_PIN_EXECUTORS")
    if not exec_cores:
        return
    master = spark.sparkContext.master
    expected = 1
    if master.startswith("local-cluster["):
        expected = int(master.split("[")[1].split(",")[0])
    app_id = spark.sparkContext.applicationId
    deadline = time.monotonic() + 90
    pids: list[int] = []
    while time.monotonic() < deadline:
        pids = [
            p
            for p in _proc_pids("CoarseGrainedExecutorBackend")
            if p in _proc_pids(app_id)
        ]
        if len(pids) >= expected:
            break
        time.sleep(0.5)
    if len(pids) < expected:
        raise RuntimeError(
            f"pinning: found {len(pids)} executor JVMs, expected {expected}"
        )
    for pid in pids:
        subprocess.run(
            ["taskset", "-a", "-pc", exec_cores, str(pid)],
            check=True, capture_output=True,
        )
    driver_cores = os.environ.get("ORC_SPARK_PIN_DRIVER")
    if driver_cores:
        # this python process + its direct java child (the driver JVM);
        # executor JVMs are the worker's children, not re-pinned here
        me = os.getpid()
        driver_pids = [me]
        for p in os.listdir("/proc"):
            if not p.isdigit() or int(p) in pids:
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if int(fh.read().split(")")[-1].split()[1]) == me:
                        driver_pids.append(int(p))
            except (OSError, ValueError, IndexError):
                continue
        for pid in driver_pids:
            subprocess.run(
                ["taskset", "-a", "-pc", driver_cores, str(pid)],
                check=True, capture_output=True,
            )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of (doc_id,tokens,n_tok,source)")
    ap.add_argument("--docs", type=int, help="synthesize canonical fixture table instead")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--snapshot", default="s1")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--salt-buckets", type=int, default=32)
    ap.add_argument("--stripe-tokens", type=int, default=4_000_000)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--verify", action="store_true", help="decode + bit-equality check")
    ap.add_argument(
        "--export-orc",
        metavar="DIR",
        help="after the encode, export the warehouse as standalone "
        "reference-readable ORC files into DIR (one multi-stripe file "
        "per partition)",
    )
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run one throwaway encode first (amortizes Python-worker/JIT "
        "startup, as a long-running cluster job would)",
    )
    args = ap.parse_args()
    if not args.input and not args.docs:
        ap.error("one of --input / --docs is required")

    from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip
    from orc_spark.session import get_spark

    if args.verify:
        # the run ends in a decode bit-equality verify, which subsumes the
        # shuffle-checksum pass (session.py keeps checksums on otherwise)
        os.environ.setdefault("ORC_SPARK_SHUFFLE_CHECKSUM", "false")
    spark = get_spark(cpus=args.cpus, app_name="orc_spark_encode")
    spark.sparkContext.setLogLevel("ERROR")
    _pin_cluster_processes(spark)

    if args.docs:
        import pyarrow.parquet as pq

        from orc_spark.fixtures import tokens_arrow

        inp = os.path.join(args.warehouse, "_input")
        os.makedirs(inp, exist_ok=True)
        f = os.path.join(inp, f"docs-{args.docs}.parquet")
        if not os.path.exists(f):
            pq.write_table(tokens_arrow(args.docs), f)
        args.input = inp

    df = spark.read.parquet(args.input)
    if args.warmup:
        import shutil

        wwh = os.path.join(args.warehouse, "_warmup")
        encode_table(
            spark, df, wwh, snapshot="warmup",
            salt_buckets=args.salt_buckets, stripe_tokens=args.stripe_tokens,
            num_partitions=args.partitions,
        )
        shutil.rmtree(wwh, ignore_errors=True)
    t0 = time.perf_counter()
    manifest = encode_table(
        spark,
        df,
        args.warehouse,
        snapshot=args.snapshot,
        salt_buckets=args.salt_buckets,
        stripe_tokens=args.stripe_tokens,
        num_partitions=args.partitions,
    )
    encode_s = time.perf_counter() - t0
    parts = manifest["partitions"]
    n_tokens = sum(p["n_tokens"] for p in parts.values())
    enc_bytes = sum(p["enc_bytes"] for p in parts.values())
    out = {
        "snapshot": args.snapshot,
        "cpus": args.cpus,
        "partitions": len(parts),
        "n_rows": sum(p["n_rows"] for p in parts.values()),
        "n_tokens": n_tokens,
        "enc_bytes": enc_bytes,
        "bytes_per_token": round(enc_bytes / max(n_tokens, 1), 4),
        "encode_s": round(encode_s, 3),
        "encode_tokens_per_s": round(n_tokens / encode_s, 1),
    }
    if args.verify:
        t1 = time.perf_counter()
        dec = decode_table(spark, args.warehouse, snapshot=args.snapshot)
        res = verify_roundtrip(df, dec)
        out["verify_s"] = round(time.perf_counter() - t1, 3)
        out["verify_ok"] = res["ok"]
    if args.export_orc:
        from orc_spark.pipeline import export_orc

        t2 = time.perf_counter()
        metas = export_orc(
            spark, args.warehouse, args.export_orc, snapshot=args.snapshot
        ).collect()
        out["export_s"] = round(time.perf_counter() - t2, 3)
        out["export_files"] = len(metas)
        out["export_bytes"] = sum(m["orc_bytes"] for m in metas)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

"""tokstripe benchmark: one closed-loop client against Spark local[nproc].

    python3 perfbench/run.py --workload {ingest,scan} --seed 42 \
        --seconds 22 --trace {0,1}

Run it from the repository root: the engine (`orc_spark/`) is imported from
the working directory, and every file the run writes (inputs, warehouses,
Spark and JVM scratch, traces) stays under `.perfbench/` there. The client
(this process) sends the next operation only after the previous one
returned and its result was checked against a model of the seeded inputs
(workloads.py); a failed or wrong operation is counted, never
fatal.

A run generates its inputs, warms the encode path up on a small corpus,
sets the workload up SETUP_REPEATS times, warms up the loop's other paths
and runs cycles for --seconds, at least MIN_CYCLES of them (four in a
traced run). Warm-up calls are checked, not timed.

stdout ends with two JSON lines. The first is the full report: the
end-to-end and layer numbers, the per-operation metrics the workload names
(`named`, each with its unit), each operation's sample count, median, tail
and first-vs-last-quarter drift, host controls and versions. The last is
{"correct", "attempted", "failed", "metrics"}, with the END_TO_END metrics
under --trace 0 and the PER_LAYER metrics under --trace 1. A traced run
keeps spans around the benchmark's calls into the engine, alternating traced
and plain cycles to measure their overhead, runs the layer probes
(layers.py) after the loop and writes its spans, with parent links and self
times, to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

SETUP_REPEATS = 3
MIN_CYCLES = 1

# name -> unit; BENCHMARK.json lists the same metrics (smoke.py checks).
# Besides set-up and size, it is the time of one operation kind (which kind
# depends on the workload: its `slots`) over that of the cycle's reference
# read, so a change of the host's speed from one run to the next, which
# moves both, cancels out (workloads.Bench.vs_reference).
END_TO_END = {
    "setup_s": "s",
    "bytes_per_token": "B/token",
    "bulk_vs_spark": "ratio",
}
_COLS = ("doc_id", "tokens", "n_tok", "source")
PER_LAYER = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "fixtures.gen_s": "s",
    "setup.encode_s": "s",
    "stripe.encode_stripe.mtok_s": "Mtok/s",
    **{f"stripe.encode_stripe.col.{c}.s": "s" for c in _COLS},
    "codecs.rlev2.encode.s": "s",
    "codecs.compression.compress.s": "s",
    "codecs.bloom.s": "s",
    "chooser.choose.s": "s",
    "chooser.fsst_kept_ratio": "ratio",
    **{f"chooser.codec.{c}.streams": "count" for c in ("rle2", "for", "bitpack", "fsst")},
    "pipeline.encode_table.s": "s",
    "pipeline.encode_table.unattributed_s": "s",
    **{f"spark.encode.{k}": "count" for k in ("jobs", "stages", "tasks", "tasks_failed")},
    "storage.enc_bytes": "B",
    "storage.files": "count",
    "storage.stripes": "count",
    "stripe.decode_stripe.mtok_s": "Mtok/s",
    **{f"stripe.decode_stripe.col.{c}.s": "s" for c in _COLS},
    "codecs.compression.decompress.s": "s",
    "codecs.rlev2.decode.s": "s",
    "blob_scan.s": "s",
    "stripe.footer_from_json.s": "s",
    "pipeline.decode_table.plan_s": "s",
    "pipeline.decode_table.exec_s": "s",
    "pipeline.plan_scan_files.s": "s",
    **{f"pipeline.plan_scan_files.{k}": "count"
       for k in ("files_total", "files_pruned", "files_bloom_pruned")},
    **{f"pipeline.decode.{k}": "count"
       for k in ("stripes_seen", "stripes_skipped", "stripes_bloom_skipped")},
    "lookup.rows_per_stripe_decoded": "ratio",
    "pipeline.verify_roundtrip.s": "s",
    "pipeline.verify.drilldowns": "count",
    "spark.verify.stages": "count",
    "datasource.read.s": "s",
    "datasource.partitions": "count",
    "datasource.vs_decode_table": "ratio",
    "datasource.vs_decode_table.base_s": "s",
    "deletes.delete_where.s": "s",
    "deletes.upsert.s": "s",
    "deletes.n_deleted": "count",
    "deletes.count_delete_keys.s": "s",
    "spark.mor_scan.stages": "count",
    "cdc.changes_between.s": "s",
    "cdc.rows_per_changed_key": "ratio",
    "warehouse.commit.s": "s",
    "warehouse.commit_log.s": "s",
    "warehouse.commit_log.len": "count",
    "warehouse.manifest_bytes": "B",
    "host.memcpy_gb_s": "GB/s",
    "host.spin_mops_s": "Mops/s",
    "host.nproc": "count",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "scan"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size multiplier (the smoke test runs 0.02)")
    ap.add_argument("--break-model", action="store_true",
                    help="expect one row too many, so the checks must fail")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    # every operation's output is checked against the model, which subsumes
    # the shuffle checksum pass (job.py --verify and bench.py skip it too)
    os.environ["ORC_SPARK_SHUFFLE_CHECKSUM"] = "false"
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ.setdefault("ORC_SPARK_EXTRA_CONF",
                          "spark.ui.showConsoleProgress=false;spark.ui.enabled=false")


def drift(xs: list[float]) -> float | None:
    """Median of the last quarter of a run-ordered series over the first's;
    None below four samples, where the quarters would be single samples."""
    if len(xs) < 4:
        return None
    k = len(xs) // 4
    return statistics.median(xs[-k:]) / statistics.median(xs[:k])


def tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    for q in (99, 90, 75):
        if len(xs) * (100 - q) / 100 >= 10:
            return q, statistics.quantiles(xs, n=100)[q - 1]
    return None


def end_to_end(b, wl, setup_walls: list[float]) -> dict:
    # the size the engine reported for the set-up encode, not the model's
    enc_bytes = b.enc_bytes.get("setup.encode", 0)
    return {
        "setup_s": statistics.median(setup_walls),
        "bytes_per_token": enc_bytes / wl.model.tokens,
        **{name: b.vs_reference(kind) for name, kind in wl.slots.items()},
    }


def op_table(b, traced: bool) -> dict:
    med = statistics.median
    ops = {}
    for kind, xs in b.samples.items():
        row = {"n": len(xs), "p50_s": med(xs), "max_s": max(xs), "drift_q4_q1": drift(xs)}
        t = tail(xs)
        if t:
            row[f"p{t[0]}_s"] = t[1]
        if any(b.tokens[kind]):
            row["mtok_s"] = med(n / dt / 1e6 for n, dt in zip(b.tokens[kind], xs))
        if traced:
            row["spark"] = {f: med(b.counts(f, kind))
                            for f in ("jobs", "stages", "tasks", "tasks_failed")}
        ops[kind] = row
    return ops


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "orc_spark", "__init__.py")):
        print(f"perfbench: no orc_spark/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    prepare_env(work)

    import layers
    import numpy
    import pyarrow
    import pyspark
    import workloads
    from tracer import ProcessTree, jsonable, stop_spark

    from orc_spark.session import get_spark

    tree = ProcessTree()
    tree.start()
    host = layers.host_control()
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus, app_name="perfbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        b = workloads.Bench(spark, work, args.seed, args.break_model,
                            traced=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](
            b, max(200, int(workloads.TBENCH_DOCS * args.scale)))
        wl.prepare()
        phases = {"prepare": time.perf_counter()}
        # the first call of each engine path pays JVM class loading and JIT
        # and the Python workers' imports, which a long-running job
        # amortizes: a small encode before the set-ups, and the workload's
        # warm-up after them, make those calls, checked but untimed and
        # untraced
        b.keep, b.tracer.enabled = False, False
        wl.warmup_encode()
        b.keep, b.tracer.enabled = True, bool(args.trace)
        setup_walls = []
        for r in range(SETUP_REPEATS):
            with b.span("setup", repeat=r) as rec:
                wl.setup()
            setup_walls.append(rec["t1"] - rec["t0"])
        phases["setup"] = time.perf_counter()
        b.keep, b.tracer.enabled = False, False
        wl.warmup()
        b.keep, b.tracer.enabled = True, bool(args.trace)
        phases["warmup"] = time.perf_counter()
        deadline = phases["warmup"] + args.seconds
        i = 1
        # MIN_CYCLES at least, four in a traced run, which traces them in the
        # order plain, traced, traced, plain (so a trend over the run does
        # not pass for tracing overhead); after that, a cycle starts only if
        # one as long as the last ends by the deadline, so the run keeps to
        # --seconds
        while (i <= (4 if args.trace else MIN_CYCLES)
               or time.perf_counter() + b.cycles[-1]["wall"] < deadline):
            b.cycle(wl, i, instrumented=bool(args.trace and i % 4 in (2, 3)))
            i += 1
        phases["loop"] = time.perf_counter()
        tree.stop()
        ops = op_table(b, bool(args.trace))
        e2e = end_to_end(b, wl, setup_walls)
        layer = {}
        if args.trace:
            walls = {f: [c["wall"] for c in b.cycles if c["instrumented"] == f]
                     for f in (True, False)}
            layer = {
                "session.start_s": session_start_s,
                "peak_rss_mb": tree.peak_mb(),
                **host,
                **layers.traced_layers(b, wl, cpus),
                "trace.overhead_ratio": statistics.median(walls[True])
                / statistics.median(walls[False]),
            }
        named = {
            **{k: (e2e[k], END_TO_END[k]) for k in ("setup_s", "bytes_per_token")},
            "peak_rss_mb": (tree.peak_mb(), "MB"),
            **{name: (ops[kind][stat], unit)
               for name, (kind, stat, unit) in wl.named.items()},
            "op_fail_ratio": (b.failed / b.attempted, "ratio"),
        }
        named = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "cycles": len(b.cycles),
            "attempted": b.attempted, "failed": b.failed, "setup_walls_s": setup_walls,
            "session_start_s": session_start_s,
            # wall of each phase of the run, in order, from its start
            "phases_s": {k: v - t0 for k, v in phases.items()},
            "versions": {"spark": spark.version, "pyspark": pyspark.__version__,
                         "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                         "python": platform.python_version()},
            "host": host,
            "input": {"docs": len(wl.model.doc_id), "tokens": wl.model.tokens,
                      "digest": wl.model.digest},
            "named": named, "end_to_end": e2e, "ops": ops, "layers": layer,
        }
        if args.trace:
            b.tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                          report=report)
    finally:
        tree.stop()
        stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
    chosen = layer if args.trace else e2e
    spec = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in spec.items()},
    }
    print(json.dumps(report, default=jsonable))
    print(json.dumps(result, default=jsonable))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory tuned for the encode pipeline.

local[N] in this sandbox; the same settings scale to a multi-executor cluster
(partition counts and Arrow batch sizes are what matter — see pipeline.py for
the scale notes).
"""

from __future__ import annotations

import ctypes
import os
import platform

from pyspark.sql import SparkSession

# ~3.4M tokens/batch at the canonical length mix (bigger batches = fewer
# JVM<->Python IPC round trips, more worker memory per batch); A/B runs set
# spark.sql.execution.arrow.maxRecordsPerBatch through ORC_SPARK_EXTRA_CONF
ARROW_BATCH_ROWS = 8192

# glibc's mallopt parameters (malloc.h) for the two variables below
_MALLOPT = {"MALLOC_TRIM_THRESHOLD_": -1, "MALLOC_MMAP_THRESHOLD_": -3}


def tune_malloc() -> None:
    """glibc tuning for the numpy codec work: without it, every large numpy
    temporary is a fresh mmap/munmap and concurrent page-fault zeroing
    serializes in the kernel (a measured 100x per-core collapse at 8
    processes); raising the mmap threshold so freed blocks recycle in the
    heap restored ~16x aggregate throughput. The variables are set
    before the JVM starts, so the Python workers Spark spawns inherit
    them; this process's glibc read its environment at start-up, so the
    same values reach it through mallopt (glibc only)."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str((1 << 31) - 1))
    if platform.libc_ver()[0] != "glibc":
        return
    mallopt = ctypes.CDLL(None).mallopt
    mallopt.argtypes = (ctypes.c_int, ctypes.c_int)
    mallopt.restype = ctypes.c_int
    for var, param in _MALLOPT.items():
        value = os.environ[var]
        # a malformed value is left out, as glibc leaves it out of the
        # environment; so is one past mallopt's C int, which would wrap
        if value.isdigit() and int(value) < 1 << 31:
            mallopt(param, int(value))


def get_spark(
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "orc_spark",
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    tune_malloc()
    # make orc_spark importable in executor Python workers (local mode inherits
    # the driver env; on a cluster use spark-submit --py-files engine.zip)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    # shuffle/spill to tmpfs when available — stands in for the node-local
    # NVMe a real executor would use (/tmp here is shared spinning disk, and
    # its contention noise would swamp CPU-scaling measurements)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    # ORC_SPARK_MASTER overrides the master URL — used by the scaling
    # protocol to run `local-cluster[N,1,mem]`, where each of the N
    # executors is its OWN JVM process (the honest single-box analog of an
    # N-executor cluster: per-executor GC/shuffle/feed threads, real netty
    # shuffle between JVMs, Python workers forked per executor).
    master = os.environ.get("ORC_SPARK_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    )
    if master.startswith("local-cluster"):
        builder = (
            builder.config(
                "spark.executor.memory",
                os.environ.get("ORC_SPARK_EXECUTOR_MEM", "3g"),
            )
            # 1-core executors: same GC-thread discipline as the driver
            # below, sized for the executor's single task slot
            .config(
                "spark.executor.extraJavaOptions",
                "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1",
            )
        )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    builder = (
        builder
        # the executor JVM co-resides with the Python codec workers, so its
        # background threads compete with the actual encode work. Measured at
        # pinned 4 cores (3 alternated pairs, 322M tokens, when the encode
        # still shuffled its rows): +3.5% encode throughput, neutral at 1
        # core. Components: GC threads capped (the default scales with cores
        # and steals codec-worker time), shuffle checksum optionally off
        # (see below), bigger shuffle buffers (fewer flush/fetch round trips
        # for the shuffles that remain: verify, joins, aggregations).
        #
        # Shuffle checksums stay ON by default: they are a plain run's only
        # detection of a corrupted shuffle block (an encode's input plan may
        # still shuffle, and so do joins and aggregations). Callers that
        # run the pipeline's own decode bit-equality verify (job.py
        # --verify, bench.py, bench_scaling.py) set
        # ORC_SPARK_SHUFFLE_CHECKSUM=false — there the checksum pass is a
        # redundant CPU cost, because verify catches any corruption
        # end-to-end (and with exact row counts, not just a fetch failure).
        .config(
            "spark.shuffle.checksum.enabled",
            os.environ.get("ORC_SPARK_SHUFFLE_CHECKSUM", "true"),
        )
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.reducer.maxSizeInFlight", "96m")
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={max(2, cpus // 8)} -XX:ConcGCThreads=1",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Catalyst push filters into the tokstripe Python data source
        # (orc_spark.datasource) — off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd shuffle blocks: ~2x smaller than lz4 — at cluster scale
        # shuffle bytes are network bytes (measured +22% encode throughput
        # at 4 pinned cores when the encode still shuffled its rows; the
        # encode's Arrow exchange files are not Spark shuffle blocks);
        # A/B runs set it through ORC_SPARK_EXTRA_CONF
        .config("spark.io.compression.codec", "zstd")
    )
    # benchmarking escape hatch: ORC_SPARK_EXTRA_CONF="k=v;k=v" applies
    # arbitrary Spark confs without code edits — LAST, so it overrides any
    # default above (A/B harnesses)
    for kv in os.environ.get("ORC_SPARK_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()

"""Physical-plan assertions: filters push to the parquet scan, projections
prune columns, small dims broadcast, and the encode pipeline runs no
shuffle. These guard the properties that matter at 100 TB — a regression
here is a silent 10-100x cost at scale even though results stay correct."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_nation_revenue_broadcasts_dims(spark):
    from orc_spark.relational import nation_revenue

    plan = _plan(nation_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation


def test_topk_cosine_broadcasts_queries(spark):
    from orc_spark.similarity import topk_cosine

    plan = _plan(topk_cosine(spark, SF_DIR))
    assert "Broadcast" in plan


def _jobs_and_sql(spark, group: str, fn):
    """Run `fn` under Spark job group `group`; return the group's jobs and
    the number of Spark SQL executions `fn` started, read once the
    listener bus has drained."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n0 = store.executionsCount()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = sorted((st.getJobInfo(j) for j in st.getJobIdsForGroup(group)),
                  key=lambda j: j.jobId)
    assert all(j.status == "SUCCEEDED" for j in jobs)
    return jobs, store.executionsCount() - n0


def _parquet_input(spark, path: str, n_docs: int, seed: int):
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from orc_spark.fixtures import tokens_arrow

    t = tokens_arrow(n_docs, seed=seed)
    pq.write_table(t, path, row_group_size=500)
    return spark.read.schema(from_arrow_schema(t.schema)).parquet(path)


def test_encode_of_parquet_runs_no_shuffle(spark, tmp_path):
    """An encode of a plain parquet input is two one-stage jobs, the map
    (each task reads its row groups with pyarrow) and the reduce (each
    task reads its pids' Arrow segments): no Spark shuffle, the token
    payload never becomes JVM rows, and neither job is a Spark SQL query
    (both are plain RDD jobs that return metadata dicts)."""
    from orc_spark.pipeline import encode_table

    df = _parquet_input(spark, str(tmp_path / "in.parquet"), 2000, 3)
    jobs, sql = _jobs_and_sql(
        spark, "encode-no-shuffle",
        lambda: encode_table(spark, df, str(tmp_path / "wh"), "s", salt_buckets=4),
    )
    assert len(jobs) == 2
    assert [len(j.stageIds) for j in jobs] == [1, 1]
    map_stage = spark.sparkContext.statusTracker().getStageInfo(jobs[0].stageIds[0])
    assert map_stage.numTasks == 4  # one per row group
    assert sql == 0


def test_concat_compaction_is_one_stage(spark, tmp_path):
    """Concat compaction packs its pids on the driver and copies them in
    one single-stage job: no shuffle and no Spark SQL query."""
    from orc_spark.maintenance import compact_snapshots
    from orc_spark.pipeline import encode_table

    wh = str(tmp_path / "wh")
    for i in range(2):
        df = _parquet_input(spark, str(tmp_path / f"in{i}.parquet"), 600, i)
        encode_table(spark, df, wh, f"e{i}", salt_buckets=4)
    out = {}
    jobs, sql = _jobs_and_sql(
        spark, "concat-one-stage",
        lambda: out.update(compact_snapshots(spark, wh, ["e0", "e1"], "c")),
    )
    assert len(jobs) == 1 and len(jobs[0].stageIds) == 1
    stage = spark.sparkContext.statusTracker().getStageInfo(jobs[0].stageIds[0])
    assert stage.numTasks == min(len(out["partitions"]), spark.sparkContext.defaultParallelism)
    assert sql == 0
    assert sum(p["n_rows"] for p in out["partitions"].values()) == 1200


def test_run_tasks_shares_the_sql_worker_pool(spark):
    """Spark pools Python workers by their environment: a run_tasks job
    must run in the same pool as a mapInArrow job, or a session that does
    both keeps (and first starts) two pools of workers."""
    import pyarrow as pa

    from orc_spark.pipeline import run_tasks

    def _pool_secret():
        """The secret of the worker pool the calling task runs in."""
        import os

        return os.environ["PYTHON_WORKER_FACTORY_SECRET"]

    rdd = {r["s"] for r in run_tasks(spark, [0, 1], lambda i: [{"s": _pool_secret()}])}

    def arrow_job(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"s": _pool_secret()}])

    sql = {r["s"] for r in spark.range(2, numPartitions=2).mapInArrow(arrow_job, "s string").collect()}
    assert len(rdd) == 1 and rdd == sql


def test_simhash_no_row_amplification(spark):
    """simhash32 must not multiply the exploded word table before its
    shuffle: the 32 per-bit votes are aggregate columns, not a ×32 join."""
    from orc_spark.textops import simhash32

    plan = _plan(simhash32(spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # map-side combinable


def test_minhash_no_row_amplification(spark):
    """minhash signatures: k hashes are k columns of the shingle row, not a
    ×k crossJoin; one keyed shuffle total."""
    from orc_spark.textops import minhash_signatures

    plan = _plan(minhash_signatures(spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_ivf_assign_aggregates_not_window(spark):
    """argmin via packed-long min aggregate: no Window, no Sort — a window
    would shuffle 16× the corpus and sort within every vec_id group."""
    from orc_spark.similarity import ivf_assign

    plan = _plan(ivf_assign(spark, SF_DIR))
    assert "Window" not in plan
    assert "Sort" not in plan
    assert "HashAggregate" in plan


def test_topk_cosine_prereduced_window(spark):
    """the final top-k window must be fed by a PARTIAL per-partition top-k
    (WindowGroupLimit), never the full sim table on n_queries tasks."""
    from orc_spark.similarity import topk_cosine

    df = topk_cosine(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan so all stages are visible
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # the pre-exchange top-k reduction


def test_ivf_topk_broadcast_probes_no_corpus_shuffle_for_search(spark):
    """the IVF search joins the corpus to the broadcast probe table and
    refines inside probed lists only: both search-side joins must be
    broadcast (a SortMergeJoin would shuffle the corpus per query batch),
    and the final top-k must keep topk_cosine's partial WindowGroupLimit
    pre-reduction."""
    from orc_spark.similarity import ivf_topk

    df = ivf_topk(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_codec_plan_report_no_driver_collect(spark):
    """codec_plan probe runs executor-side: the plan ends in mapInArrow over
    a 1-partition limit, with no toPandas/collect of the input."""
    from orc_spark.flagship import codec_plan_report

    df = codec_plan_report(spark, SF_DIR)
    plan = _plan(df)
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan or "ArrowEvalPython" in plan
    rows = df.collect()
    assert len(rows) >= 6  # one row per (column, stream)
    cols = {r["column"] for r in rows}
    assert {"doc_id", "tokens", "n_tok", "source"} <= cols


def test_summary_aggregates_bounded_state(spark):
    """the flagship gate query's per-source rollup must keep O(1) aggregation
    state: a collect_list of doc_ids would OOM one executor on a 10^12-row
    source. Plain HashAggregate, no ObjectHashAggregate/collect_list."""
    from orc_spark.flagship import summary_aggregates, summary_narrow_pass

    decoded = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(F.lit(1), F.lit(2)).alias("tokens"),
        F.lit(2).alias("n_tok"),
        F.col("source"),
    )
    plan = _plan(summary_aggregates(summary_narrow_pass(decoded)))
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan  # map-side combinable


def test_lsh_refined_pairs_bucket_join(spark):
    """the scale-safe near-dup refine joins per LSH bucket — an equi-join,
    never the all-pairs cartesian of embed_dup_pairs' small-scale oracle."""
    from orc_spark.similarity import lsh_refined_pairs

    plan = _plan(lsh_refined_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the per-bucket equi-join is present


def test_whole_stage_codegen_covers_textops(spark):
    from orc_spark.textops import quality_scores

    plan = _plan(quality_scores(spark, SF_DIR))
    assert "*(" in plan  # '*(n)' marks WholeStageCodegen spans
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    assert "ArrowEvalPython" not in plan  # no pandas UDFs in the JVM ops


def test_delete_read_plans(spark, tmp_path):
    """merge-on-read delete scan shape: a delete read must stay a pure
    mapInArrow scan (NO join, NO shuffle — each task loads its files'
    delete keys and masks inside the decode kernel). A regression here
    turns every delete-table scan into a 100-TB shuffle."""
    from orc_spark import deletes
    from orc_spark.pipeline import decode_table, encode_table

    wh = str(tmp_path / "wh_plan")
    df = (
        spark.range(300)
        .select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.array(F.lit(1).cast("int"), (F.col("id") % 7).cast("int")).alias("tokens"),
            F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )
    encode_table(spark, df, wh, snapshot="p0", salt_buckets=2, stripe_tokens=200)
    snap = deletes.delete_where(spark, wh, ("n_tok", 2, 2))["snapshot_id"]

    plan = _plan(decode_table(spark, wh, snapshot=snap))
    assert "Join" not in plan
    assert "Exchange" not in plan  # zero-shuffle scan


def test_upsert_read_plan_is_one_scan_without_shuffle(spark, tmp_path):
    """an upsert read whose files carry different seq-scoped delete sets is
    ONE mapInArrow scan (each file applies its own mask) — no union, no
    join and no shuffle."""
    from orc_spark import deletes
    from orc_spark.pipeline import decode_table, encode_table

    wh = str(tmp_path / "wh_plan_u")
    df = (
        spark.range(200)
        .select(
            F.format_string("d%05d", F.col("id")).alias("doc_id"),
            F.array(F.lit(1).cast("int")).alias("tokens"),
            F.lit("s0").alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )
    encode_table(spark, df, wh, snapshot="p0", salt_buckets=2, stripe_tokens=200)
    upd = decode_table(spark, wh).limit(5).withColumn(
        "tokens", F.array(F.lit(9).cast("int"))
    ).withColumn("n_tok", F.size("tokens").cast("int"))
    snap = deletes.upsert(spark, wh, upd, salt_buckets=2)["snapshot_id"]
    plan = _plan(decode_table(spark, wh, snapshot=snap))
    assert plan.count("MapInArrow") == 1
    assert "Union" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan

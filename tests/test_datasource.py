"""tokstripe Python Data Source: the warehouse as a first-class Spark
format. Read-path contract: results identical to decode_table / the raw
table for every filter shape, with PLANNING-TIME pruning visible in the
planned files and the task count. Write-path contract: atomic manifest commit, refusal of a committed
name in either save mode, and exactly-once streaming across checkpoint
replay."""

import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orc_spark.datasource import register
from orc_spark.fixtures import tokens_arrow
from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip
from orc_spark.warehouse import Warehouse


@pytest.fixture(scope="module")
def ds_wh(spark, tmp_path_factory):
    register(spark)
    wh = str(tmp_path_factory.mktemp("ds_wh"))
    df = spark.createDataFrame(tokens_arrow(2000, seed=42).to_pandas())
    encode_table(spark, df, wh, snapshot="s1", salt_buckets=4, stripe_tokens=20_000)
    return wh, df


def _fmt(spark, wh, **opts):
    r = spark.read.format("tokstripe").option("path", wh)
    for k, v in opts.items():
        r = r.option(k, v)
    return r


def test_full_scan_roundtrip(spark, ds_wh):
    wh, df = ds_wh
    got = _fmt(spark, wh).load()
    assert got.schema.simpleString() == df.schema.simpleString()
    assert got.exceptAll(df).count() == 0
    assert df.exceptAll(got).count() == 0


def test_pushed_filters_are_exact(spark, ds_wh):
    wh, df = ds_wh
    r = _fmt(spark, wh).load()
    cases = [
        lambda d: d.where(F.col("doc_id").isin("doc-0000001000", "doc-0000000042")),
        lambda d: d.where(F.col("source") == "books"),
        lambda d: d.where((F.col("n_tok") >= 100) & (F.col("n_tok") <= 200)),
        lambda d: d.where(F.col("n_tok") > 4000),   # strict: hint + residual
        lambda d: d.where(F.col("n_tok") < 3),
        lambda d: d.where((F.col("source") == "cc") & (F.col("n_tok") >= 50)),
    ]
    for i, c in enumerate(cases):
        got = c(r).drop("tokens")
        want = c(df).drop("tokens")
        assert got.exceptAll(want).count() == 0, i
        assert want.exceptAll(got).count() == 0, i


def _planned_files(wh, schema, *filters):
    """Data files the format's reader packs into its partitions after
    consuming `filters` (every one must be pushed)."""
    from orc_spark.datasource import TokstripeReader

    r = TokstripeReader({"path": wh}, schema)
    assert list(r.pushFilters(list(filters))) == []
    return [f for p in r.partitions() for f, *_ in p.files]


def test_planning_time_pruning_reduces_tasks(spark, ds_wh):
    from pyspark.sql.datasource import EqualTo

    wh, _ = ds_wh
    full = _fmt(spark, wh).load()
    n_full = full.rdd.getNumPartitions()
    n_point = full.where(F.col("doc_id") == "doc-0000001000").rdd.getNumPartitions()
    # source equality = partition-key prune (1 of 5 sources): pruned files
    # never enter a partition's bin
    books = _planned_files(wh, full.schema, EqualTo(("source",), "books"))
    every = _planned_files(wh, full.schema)
    assert len(set(every)) == len(every) == 20
    assert 0 < len(books) < len(every)
    assert all("pid=books#" in f for f in books)
    # point lookup = range + sidecar bloom prune down to the single
    # containing file, so one task
    assert n_point <= 2 and n_point < n_full
    # absent-but-in-range key: everything pruned at planning, 0 rows
    assert full.where(F.col("doc_id") == "doc-0000001000x").count() == 0


def test_narrowed_schema_reads_subset(spark, ds_wh):
    wh, df = ds_wh
    got = (
        spark.read.format("tokstripe")
        .option("path", wh)
        .schema("doc_id string, source string")
        .load()
    )
    assert got.columns == ["doc_id", "source"]
    want = df.select("doc_id", "source")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_batch_write_roundtrip_and_modes(spark, tmp_path):
    register(spark)
    wh = str(tmp_path / "wwh")
    df = spark.createDataFrame(tokens_arrow(800, seed=7).to_pandas())
    (
        df.repartition(4, "source")
        .write.format("tokstripe").mode("append")
        .option("path", wh).option("snapshot", "w1")
        .option("salt_buckets", "3").option("stripe_tokens", "20000")
        .save()
    )
    dec = decode_table(spark, wh, "w1")
    assert verify_roundtrip(df, dec)["ok"]
    man = Warehouse(wh).read_manifest("w1")
    assert man["layout"]["key_col"] == "doc_id"
    # append to a committed snapshot refuses
    with pytest.raises(Exception):
        df.write.format("tokstripe").mode("append").option("path", wh).option(
            "snapshot", "w1"
        ).save()
    # overwrite onto a committed snapshot refuses too, before any task
    # runs: w1's manifest and data files are byte-identical afterwards
    files = [Warehouse(wh).manifest_file("w1")]
    files += [p["file"] for p in man["partitions"].values()]
    before = {f: open(f, "rb").read() for f in files}
    with pytest.raises(Exception, match="already committed"):
        df.limit(100).write.format("tokstripe").mode("overwrite").option(
            "path", wh
        ).option("snapshot", "w1").save()
    assert {f: open(f, "rb").read() for f in files} == before
    assert decode_table(spark, wh, "w1").count() == 800
    # an overwrite to a fresh name commits as before
    df.limit(100).write.format("tokstripe").mode("overwrite").option(
        "path", wh
    ).option("snapshot", "w2").save()
    assert decode_table(spark, wh, "w2").count() == 100


@pytest.mark.parametrize("source_col", ["source", ""])
def test_format_writer_uses_encode_tables_pid_rule(spark, tmp_path, source_col):
    """One pid rule: a one-task format write names each pid as encode_table
    does, plus its task suffix, and puts the same rows in it."""
    register(spark)
    wh = str(tmp_path / "wh")
    df = spark.createDataFrame(tokens_arrow(600, seed=13).to_pandas())
    m = encode_table(spark, df, wh, "e", salt_buckets=3, source_col=source_col or None)
    (
        df.coalesce(1).write.format("tokstripe").mode("append")
        .option("path", wh).option("snapshot", "f")
        .option("salt_buckets", "3").option("source_col", source_col).save()
    )
    f = Warehouse(wh).read_manifest("f")
    assert {p: v["n_rows"] for p, v in f["partitions"].items()} == {
        f"{p}@w0": v["n_rows"] for p, v in m["partitions"].items()}
    assert f["layout"] == m["layout"]


def test_format_writers_refuse_unhashable_layout_before_any_task(spark, tmp_path):
    """A double key is refused when the writer is created: no Spark job runs
    under the write's job group and no data file is written."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from orc_spark.datasource import TokstripeStreamWriter

    register(spark)
    wh = str(tmp_path / "wh")
    df = spark.range(10).select(
        F.col("id").cast("double").alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit("s").alias("source"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("fmt-unhashable", "fmt-unhashable")
    try:
        with pytest.raises(Exception, match="ValueError.*key column 'doc_id' \\(double\\)"):
            df.write.format("tokstripe").mode("append").option("path", wh).option(
                "snapshot", "x").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fmt-unhashable")) == []
    assert [f for _, _, fs in os.walk(wh) for f in fs] == []
    schema = StructType([StructField("doc_id", DoubleType()), StructField("source", StringType())])
    with pytest.raises(ValueError, match="key column 'doc_id'"):
        TokstripeStreamWriter({"path": wh}, schema)


def test_failed_format_writer_task_cleans_up(tmp_path, monkeypatch):
    """A task whose input fails after two batches (both already written to
    its stage) leaves no exchange stage and no in-progress file."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from orc_spark import exchange
    from orc_spark.datasource import _encode_task

    monkeypatch.setattr(exchange, "MAP_CHUNK_BYTES", 1)
    t = tokens_arrow(300, seed=2)
    wh = str(tmp_path / "wh")
    exchange_dir = Warehouse(wh).exchange_dir

    def batches():
        for i, b in enumerate(t.to_batches(max_chunksize=50)):
            if i == 2:
                (stage,) = os.listdir(exchange_dir)
                # the first two batches are already in the task's map file
                assert len(os.listdir(os.path.join(exchange_dir, stage))) == 1
                raise RuntimeError("input failed")
            yield b

    with pytest.raises(RuntimeError, match="input failed"):
        _encode_task({"path": wh}, from_arrow_schema(t.schema), "f", batches())
    assert os.listdir(exchange_dir) == []
    assert not [f for _, _, fs in os.walk(wh) for f in fs if ".inprogress-" in f]


def test_write_then_read_format_with_bloom_point_lookup(spark, tmp_path):
    register(spark)
    wh = str(tmp_path / "bwh")
    df = spark.createDataFrame(tokens_arrow(600, seed=3).to_pandas())
    df.write.format("tokstripe").mode("append").option("path", wh).option(
        "snapshot", "b1"
    ).option("salt_buckets", "4").save()
    r = _fmt(spark, wh, snapshot="b1").load()
    got = r.where(F.col("doc_id") == "doc-0000000300")
    assert got.count() == 1
    assert got.rdd.getNumPartitions() <= 2


def test_stream_reader_tails_snapshots(spark, tmp_path):
    register(spark)
    wh = str(tmp_path / "tail_wh")
    t = tokens_arrow(400, seed=5)
    df = spark.createDataFrame(t.to_pandas())
    d1 = df.where(F.col("n_tok") % 2 == 0)
    d2 = df.where(F.col("n_tok") % 2 == 1)
    encode_table(spark, d1, wh, snapshot="t1", salt_buckets=2, stripe_tokens=50_000)

    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("tokstripe")
            .option("path", wh)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "tail_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    got1 = spark.read.parquet(out)
    assert verify_roundtrip(d1, got1)["ok"]

    # a second snapshot commits; the restarted stream consumes ONLY it
    encode_table(spark, d2, wh, snapshot="t2", salt_buckets=2, stripe_tokens=50_000)
    drain()
    got2 = spark.read.parquet(out)
    assert verify_roundtrip(df, got2)["ok"]  # union, no duplicates


def test_stream_writer_exactly_once(spark, tmp_path):
    register(spark)
    inp = tmp_path / "in"
    inp.mkdir()
    t = tokens_arrow(300, seed=9)
    pq.write_table(t.slice(0, 150), str(inp / "part-0.parquet"))
    pq.write_table(t.slice(150), str(inp / "part-1.parquet"))
    wh = str(tmp_path / "swh")
    orig = spark.createDataFrame(t.to_pandas())

    def run():
        q = (
            spark.readStream.schema(orig.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp))
            .writeStream.format("tokstripe")
            .option("path", wh)
            .option("snapshot", "sw")
            .option("salt_buckets", "2")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    w = Warehouse(wh)
    snaps = sorted(
        f[5:-5]
        for f in os.listdir(w.manifest_dir)
        if f.startswith("snap-sw-e")
    )
    assert len(snaps) >= 2  # one epoch per file
    dec = None
    for s in snaps:
        d = decode_table(spark, wh, snapshot=s)
        dec = d if dec is None else dec.unionAll(d)
    assert verify_roundtrip(orig, dec)["ok"]

    # replay with the same checkpoint: no new epochs, no duplicates
    run()
    snaps2 = sorted(
        f[5:-5]
        for f in os.listdir(w.manifest_dir)
        if f.startswith("snap-sw-e")
    )
    assert snaps2 == snaps
    assert verify_roundtrip(orig, dec)["ok"]


# ---------------------------------------------------------------------------
# r5: pushdown on foreign sessions, the no-pushdown fallback, and
# float/timestamp predicate translation
# ---------------------------------------------------------------------------

import datetime as dt

from orc_spark.datasource import (
    TokstripeDataSourceNoPushdown,
    TokstripeReader,
)


_FOREIGN_SESSION_SCRIPT = """
import sys
from pyspark.sql import SparkSession, functions as F

wh = sys.argv[1]
# a PLAIN session — none of the engine's get_spark confs, exactly the
# driver-harness condition that erred r4's dsv2_scan
# (spark.sql.python.filterPushdown.enabled defaults to false in 4.1)
spark = (
    SparkSession.builder.master("local[2]")
    .appName("foreign").getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "false"
from orc_spark.datasource import register
register(spark)
assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
got = (
    spark.read.format("tokstripe").option("path", wh).load()
    .where((F.col("source") == "books") & (F.col("n_tok") >= 100))
)
rows = got.count()
print("ROWS", rows)
assert rows > 0
"""


def test_register_enables_pushdown_on_foreign_session(spark, ds_wh):
    """A session created WITHOUT the engine's get_spark (Spark 4.1 defaults
    filterPushdown=false — the driver-harness condition that erred r4's
    dsv2_scan) must read the format after register() alone. Run in a
    subprocess: Spark's Python-datasource registry dedupes globally but
    resolves per-session, so an in-process foreign session cannot model
    the real first-registration path."""
    import subprocess
    import sys as _sys

    wh, df = ds_wh
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [_sys.executable, "-c", _FOREIGN_SESSION_SCRIPT, wh],
        cwd=repo, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n = int(out.stdout.split("ROWS")[1].split()[0])
    assert n == df.where((F.col("source") == "books") & (F.col("n_tok") >= 100)).count()


def test_fallback_reader_reads_unpruned_but_correct(spark, ds_wh):
    """If the conf can never be enabled, register() falls back to the
    reader WITHOUT pushFilters: every filter shape still returns correct
    rows (Spark evaluates them), files are simply not pruned. The registry
    is context-shared and 'tokstripe' is already taken, so the fallback
    registers here under a test-only name."""
    wh, df = ds_wh

    class _Fallback(TokstripeDataSourceNoPushdown):
        @classmethod
        def name(cls) -> str:
            return "tokstripe_nopd_test"

    ns = spark.newSession()
    ns.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    ns.dataSource.register(_Fallback)
    r = ns.read.format("tokstripe_nopd_test").option("path", wh).load()
    got = r.where((F.col("n_tok") >= 100) & (F.col("n_tok") <= 200))
    want = df.where((F.col("n_tok") >= 100) & (F.col("n_tok") <= 200))
    assert got.drop("tokens").exceptAll(want.drop("tokens")).count() == 0
    assert want.drop("tokens").exceptAll(got.drop("tokens")).count() == 0
    # no pushdown => the task count equals the full file count
    assert got.rdd.getNumPartitions() == r.rdd.getNumPartitions()


@pytest.fixture(scope="module")
def ev_wh(spark, tmp_path_factory):
    """Small events-shaped warehouse: int64 key, timestamp + double payload,
    event_type partition prefix."""
    import pandas as pd

    register(spark)
    wh = str(tmp_path_factory.mktemp("ev_wh"))
    n = 400
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [base + dt.timedelta(minutes=17 * i) for i in range(n)],
            "value": [((i * 37) % 100) / 7.0 - 3.0 for i in range(n)],
            "event_type": [["click", "view", "purchase"][i % 3] for i in range(n)],
        }
    )
    df = spark.createDataFrame(rows)
    encode_table(
        spark, df, wh, snapshot="e1",
        key_col="event_id", source_col="event_type", weight_col=None,
        salt_buckets=2, stripe_tokens=600,
    )
    return wh, df


def test_timestamp_filter_translation_units():
    """_translate_ts: datetime probes -> epoch hints at the stored unit,
    bounds rounded conservatively (lower floored, upper ceiled)."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    r = TokstripeReader.__new__(TokstripeReader)
    r._raw_types = {"ts": "timestamp[us, tz=UTC]", "tss": "timestamp[s]"}
    r._types = {"ts": "timestamp", "tss": "timestamp"}
    t = dt.datetime(2024, 1, 2, 3, 4, 5, 500_000, tzinfo=dt.timezone.utc)
    us = int(t.timestamp() * 1_000_000)
    got = r._translate_ts(GreaterThanOrEqual(attribute=("ts",), value=t))
    assert got == ("between", "ts", us, None)
    got = r._translate_ts(LessThan(attribute=("ts",), value=t))
    assert got == ("between", "ts", None, us)
    # seconds-unit column: lower bound floors, upper bound ceils (the .5 s)
    got = r._translate_ts(GreaterThanOrEqual(attribute=("tss",), value=t))
    assert got == ("between", "tss", us // 1_000_000, None)
    got = r._translate_ts(LessThan(attribute=("tss",), value=t))
    assert got == ("between", "tss", None, us // 1_000_000 + 1)
    # non-datetime probe on a ts column: not translated
    assert r._translate_ts(GreaterThanOrEqual(attribute=("ts",), value=5)) is None


def test_timestamp_and_float_filters_through_format(spark, ev_wh):
    """Timestamp range + double threshold through the FORMAT must equal the
    raw-table filter exactly (ts pushes as a conservative hint, Spark keeps
    the exact residual; float >=/<= are consumed exactly)."""
    wh, df = ev_wh
    lo = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    hi = dt.datetime(2024, 1, 3, 12, tzinfo=dt.timezone.utc)
    r = _fmt(spark, wh, snapshot="e1").load()
    cases = [
        lambda d: d.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))),
        lambda d: d.where(F.col("ts") > F.lit(lo)),
        lambda d: d.where(F.col("ts") < F.lit(hi)),
        lambda d: d.where(F.col("value") >= 2.5),
        lambda d: d.where((F.col("value") > -1.0) & (F.col("value") <= 3.25)),
        lambda d: d.where(
            F.col("event_type").isin("click") & (F.col("ts") >= F.lit(lo))
        ),
    ]
    for i, c in enumerate(cases):
        got, want = c(r), c(df)
        assert got.exceptAll(want).count() == 0, i
        assert want.exceptAll(got).count() == 0, i


def test_timestamp_filter_prunes_stripes_at_read(spark, ev_wh):
    """The ts hint must actually skip stripes: a range past the table's end
    plans >=1 partition per surviving file but decodes zero stripes (and a
    type-IN prune drops files at planning)."""
    wh, _ = ev_wh
    r = _fmt(spark, wh, snapshot="e1").load()
    n_full = r.rdd.getNumPartitions()
    far = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
    assert r.where(F.col("ts") >= F.lit(far)).count() == 0
    n_src = r.where(F.col("event_type") == "click").rdd.getNumPartitions()
    assert n_src < n_full


# ---------------------------------------------------------------------------
# r5: property fuzz of the pushFilters TRANSLATION layer — for random
# conjunctions over int key / string partition key / timestamp / double
# columns, the format read must equal the raw-table filter exactly (the
# three prune levels have their own fuzz in test_pruning_fuzz.py; this
# covers the Catalyst-filter -> engine-predicate translation above them).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_EV_BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _ev_ts(minutes: float) -> dt.datetime:
    return _EV_BASE + dt.timedelta(minutes=minutes)


_id_pred = st.one_of(
    st.tuples(st.just("id_in"), st.lists(st.integers(-5, 410), min_size=1, max_size=4)),
    st.tuples(st.just("id_range"), st.integers(-5, 410), st.integers(-5, 410)),
)
_type_pred = st.tuples(
    st.just("type_in"),
    st.lists(st.sampled_from(["click", "view", "purchase", "absent"]), min_size=1, max_size=3),
)
_ts_pred = st.tuples(
    st.just("ts_range"),
    st.one_of(st.none(), st.floats(-100, 8000, allow_nan=False)),
    st.one_of(st.none(), st.floats(-100, 8000, allow_nan=False)),
)
_val_pred = st.tuples(
    st.just("val_range"),
    st.one_of(st.none(), st.floats(-5, 15, allow_nan=False)),
    st.one_of(st.none(), st.floats(-5, 15, allow_nan=False)),
)


def _to_cond(p):
    kind = p[0]
    if kind == "id_in":
        return F.col("event_id").isin(*p[1])
    if kind == "id_range":
        lo, hi = sorted((p[1], p[2]))
        return (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
    if kind == "type_in":
        return F.col("event_type").isin(*p[1])
    if kind == "ts_range":
        c = None
        if p[1] is not None:
            c = F.col("ts") >= F.lit(_ev_ts(p[1]))
        if p[2] is not None:
            c2 = F.col("ts") <= F.lit(_ev_ts(p[2]))
            c = c2 if c is None else (c & c2)
        return c
    if kind == "val_range":
        c = None
        if p[1] is not None:
            c = F.col("value") > p[1]
        if p[2] is not None:
            c2 = F.col("value") <= p[2]
            c = c2 if c is None else (c & c2)
        return c
    raise AssertionError(kind)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(preds=st.lists(st.one_of(_id_pred, _type_pred, _ts_pred, _val_pred), min_size=1, max_size=3))
def test_format_pushdown_fuzz(spark, ev_wh, preds):
    wh, df = ev_wh
    conds = [c for c in (_to_cond(p) for p in preds) if c is not None]
    if not conds:
        return
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    got = _fmt(spark, wh, snapshot="e1").load().where(cond)
    want = df.where(cond)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

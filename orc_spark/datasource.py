"""`tokstripe` — the warehouse as a first-class Spark format via the Python
Data Source API (pyspark >= 4.1, `pyspark.sql.datasource`).

    from orc_spark.datasource import register
    register(spark)

    df = (spark.read.format("tokstripe")
          .option("path", warehouse).option("snapshot", "snap1").load()
          .where(F.col("doc_id").isin("7", "11")))      # pushed down

    (df2.write.format("tokstripe")
        .option("path", warehouse).option("snapshot", "snap2").save())

Read path — Catalyst's filter pushdown reaches the engine's three prune
levels through `DataSourceReader.pushFilters`:
  - planning time (driver): accepted filters run the manifest range prune +
    sidecar key-bloom prune (pipeline.plan_scan_files), so pruned files
    never become input partitions — Spark schedules NO task for them;
  - the read is decode_table's: `partitions()` plans with
    pipeline.plan_table (surviving files, each with its seq-scoped delete
    set) and packs them into the same size-balanced bins
    (pipeline.file_bins), one `InputPartition` per bin; `read()` runs
    pipeline.read_table_bin: stripe-stats skip, stripe-bloom skip, the
    exact arrow row filter, then the file's merge-on-read delete mask,
    whose keys the task loads once per delete set (planning never opens a
    delete file) — yielding Arrow RecordBatches straight into Spark's
    arrow ingestion;
  - filters fully handled here (EqualTo / In / >= / <= with int/str probes
    on scalar int/string columns, int/float probes on float/double columns)
    are consumed, so Spark does not re-evaluate them; strict < / > are used
    as conservative inclusive PRUNE HINTS and returned to Spark for the
    exact residual. Timestamp filters (Catalyst hands datetime probe
    values) are translated to epoch counts at the column's stored unit
    (stripe.py stores timestamps as epoch ints at the arrow unit) and
    pushed as PRUNE HINTS ONLY, bounds rounded conservatively (lower
    floored, upper ceiled) and the original filter always returned to
    Spark for exact evaluation — so a tz/unit mismatch can widen the scan
    but never change results; everything else is returned untouched.
  - column pruning: pass an explicit narrower `.schema(...)` and only those
    columns' streams are decompressed (the Python DS API does not forward
    Catalyst's column pruning, so the full-schema default decodes all
    columns; project with .schema for stream-level pruning).

Write path — each task is an in-task map and reduce over the encode
exchange (exchange.py): it clusters its rows by pid with encode_table's pid
rule into a stage of its own under the warehouse's exchange directory, then
streams each pid through the SAME stripe writer and tmp+atomic-rename data
files the pipeline uses (`_PidWriter`: stripe split at stripe_tokens,
key-sorted stripe content, stripe + sidecar blooms) as pid '<pid>@w<task>'.
The driver commits the collected partition metadata as one atomic manifest
(`DataSourceWriter.commit`) — Iceberg-style: data files are invisible until
the commit. Either save mode, `overwrite` too, refuses a committed
snapshot name before any task runs (a committed snapshot is never
rewritten). A failed task's writer removes its own temp file; a failed
job aborts by removing the data files its finished tasks' commit
messages name (`_remove_staged`), and nothing another write staged.
The writer does NOT reshuffle (Spark's DSv2 Python API cannot require a
distribution): every task writes its own pid@wN files, so
pre-`repartition(source, key)` upstream for one file per pid; without it
there are more, smaller files — same correctness, metadata still
O(#files). A key or source column the pid rule cannot hash is refused when
the writer is created, before any task runs.

Streaming — `writeStream.format("tokstripe")` gives exactly-once micro-batch
encode: each task stages files under a per-invocation unique snapshot name,
and `commit(messages, batchId)` publishes them as snapshot
`<snapshot>-e<batchId>`; the commit refuses a name that is already
committed, so a replayed epoch (driver restart) finds its commit refused
and DELETES its re-staged files instead of committing twice. `readStream`
tails committed snapshots as micro-batches (append semantics); with
`.option("mode", "cdc")` it becomes a CHANGELOG stream instead, emitted with `_change_type` / `_commit_snapshot` /
`_commit_ordinal` — the streaming twin of `cdc.changes_between`, same
offsets, exactly-once across restarts. Both modes plan through
cdc.plan_changes, the one rule for which commits change rows (the append
stream keeps only its insert tasks), and read size-balanced bins of those
tasks like the batch reader.

KNOWN UPSTREAM SHARP EDGE (Spark 4.1, `spark.sql.python.filterPushdown
.enabled`): use ONE action per `load()` when mixing filtered and
unfiltered reads of the same DataFrame. The JVM caches the Python read
plan on the relation's `PythonDataSourceV2.readInfo` field; a query WITH
pushable filters overwrites it (`setReadInfo`) with the pruned plan, and
a LATER action with no filters on the SAME loaded DataFrame reuses that
stale pruned plan (`getOrCreateReadInfo`) — returning the previous
query's filtered rows. Verified against this engine (filtered count then
unfiltered count on one `load()` returns the filtered count twice; a
fresh `load()` is always correct, and so is any second query that itself
carries filters, because the pushdown rule re-plans). Nothing the Python
reader can observe at plan or read time distinguishes the stale reuse —
the plan worker is simply never invoked for the second query. Pinned in
tests/test_deletes.py::test_upstream_readinfo_cache_pin so a Spark
upgrade that fixes it surfaces here.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def register(spark) -> None:
    """Register the format on `spark` — ANY session, not just the engine's
    get_spark. Spark 4.1 hard-fails a reader that overrides pushFilters when
    `spark.sql.python.filterPushdown.enabled` is false (its default) —
    [DATA_SOURCE_PUSHDOWN_DISABLED], not a silent no-pushdown — so enable
    the conf here (it is runtime-settable; verified on live sessions). If
    the session refuses the conf, register the fallback datasource whose
    reader does NOT override pushFilters: reads degrade to
    unpruned-but-correct (Spark evaluates every filter itself) instead of
    erroring. The registry is shared across sessions of one SparkContext
    (re-registering the name raises DATA_SOURCE_ALREADY_EXISTS), so a
    repeat register() is a no-op for the registry but still sets the
    session conf — which is per-session and the actual failure mode.

    Variant choice is made by the FIRST register() on a context (the
    registry is context-wide, the conf per-session), so a later session
    with the opposite conf state is handled explicitly: fallback-registered
    + pushdown-capable session reads correctly, just unpruned; pushdown-
    registered + a session whose conf cannot be enabled would hard-fail at
    read time, so register() raises the clear error up front."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        enabled = (
            str(spark.conf.get("spark.sql.python.filterPushdown.enabled")).lower()
            == "true"
        )
    except Exception:
        enabled = False
    ctx_id = id(spark.sparkContext)
    registered = _REGISTERED_VARIANT.get(ctx_id)
    if registered is None:
        try:
            spark.dataSource.register(
                TokstripeDataSource if enabled else TokstripeDataSourceNoPushdown
            )
            _REGISTERED_VARIANT[ctx_id] = enabled
        except Exception as e:  # registered by an earlier session: keep it
            if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
                raise
            # unknown earlier variant (registered outside this module's
            # bookkeeping, e.g. another process image): assume pushdown —
            # that is what every engine entry point registers when the conf
            # is settable, which it is on every session we have observed
            _REGISTERED_VARIANT[ctx_id] = True
            registered = True
    if registered is True and not enabled:
        raise RuntimeError(
            "the 'tokstripe' format was registered with filter pushdown on "
            "this SparkContext, but this session could not enable "
            "spark.sql.python.filterPushdown.enabled — reads from this "
            "session would fail with DATA_SOURCE_PUSHDOWN_DISABLED. Enable "
            "the conf on this session (it is runtime-settable) or create "
            "the session through orc_spark.session.get_spark."
        )


_REGISTERED_VARIANT: dict[int, bool] = {}


def _cores() -> int:
    """The cores this process may run on: its CPU affinity mask where the
    platform has one, as `nproc` counts them, else the host's count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


class TokstripeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tokstripe"

    def _warehouse(self):
        from .warehouse import Warehouse

        path = self.options.get("path")
        if not path:
            raise ValueError("tokstripe requires .option('path', <warehouse dir>)")
        return Warehouse(path)

    def schema(self):
        from .pipeline import _spark_type_str

        wh = self._warehouse()
        snapshot = wh.resolve_snapshot(self.options.get("snapshot"))
        manifest = wh.read_manifest(snapshot) if snapshot else None
        if not manifest:
            raise ValueError(
                f"no committed snapshot {snapshot!r} under {wh.path!r}"
            )
        cols = ", ".join(
            f"{n} {_spark_type_str(t)}" for n, t in manifest["schema"].items()
        )
        if self.options.get("mode") == "cdc":
            from .cdc import TAG_COLS

            # changelog stream (readStream + mode=cdc): table columns plus
            # change attribution, same shape as cdc.changes_between
            cols += ", " + TAG_COLS
        return cols

    def reader(self, schema: StructType) -> "TokstripeReader":
        return TokstripeReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "TokstripeWriter":
        return TokstripeWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "TokstripeStreamWriter":
        return TokstripeStreamWriter(self.options, schema)

    def streamReader(self, schema: StructType) -> "TokstripeStreamReader":
        return TokstripeStreamReader(self.options, schema)


class _BinPartition(InputPartition):
    def __init__(self, files: list):
        self.files = files  # one pipeline.file_bins bin of its reader's entries


class _TokstripeReaderBase(DataSourceReader):
    """Planning + execution shared by both reader variants. Does NOT
    override pushFilters — registered as-is (TokstripeReaderNoPushdown)
    when the session cannot enable Python filter pushdown; self._preds
    then stays empty and every file of the snapshot becomes a partition."""

    def __init__(self, options, schema: StructType):
        from .pipeline import _spark_type_str, check_columns
        from .warehouse import Warehouse

        if options.get("mode") == "cdc":
            raise ValueError(
                "mode='cdc' is a STREAM read (spark.readStream); the batch "
                "changelog is cdc.changes_between(spark, path, from, to)"
            )
        wh = Warehouse(options.get("path"))
        self._snapshot = wh.resolve_snapshot(options.get("snapshot"))
        manifest = wh.read_manifest(self._snapshot) if self._snapshot else None
        if not manifest or not manifest.get("partitions"):
            raise ValueError(
                f"no committed snapshot {self._snapshot!r} under {wh.path!r}"
            )
        self._manifest = manifest
        # the schema Spark asked for (defaults to schema(); may be a user-
        # narrowed subset => stream-level column pruning in decode_stripe)
        self._names = [f.name for f in schema.fields]
        check_columns(self._names, manifest["schema"])
        self._raw_types = dict(manifest["schema"])  # arrow strings keep ts unit
        self._types = {
            n: _spark_type_str(t) for n, t in manifest["schema"].items()
        }
        self._preds: list[tuple] = []       # exact: engine fully evaluates
        self._hint_preds: list[tuple] = []  # prune-only: Spark re-evaluates
        self._key_col = (manifest.get("layout") or {}).get("key_col", "doc_id")

    # -- planning ---------------------------------------------------------

    def _ts_scale(self, col: str) -> int | None:
        """Microseconds per stored epoch unit of timestamp column `col`
        (stripe.py encodes timestamps as epoch ints at the arrow unit).
        Datasource-written manifests carry the bare spark name 'timestamp'
        — Spark's arrow batches are always microseconds, so default us.
        Nanoseconds (finer than a datetime probe) are not translated."""
        import re

        m = re.match(r"timestamp\[(\w+)", self._raw_types.get(col, ""))
        unit = m.group(1) if m else "us"
        return {"s": 1_000_000, "ms": 1_000, "us": 1}.get(unit)

    @staticmethod
    def _ts_epoch(v, scale: int, round_up: bool) -> int:
        """datetime probe -> epoch count at the column's unit. Naive
        datetimes are session-local wall time (TimestampType.fromInternal);
        astimezone() attaches the process tz, which local-mode shares with
        the JVM session. Rounding is directional so a coarser stored unit
        only ever WIDENS the hint range (floor lower bounds, ceil upper)."""
        import datetime as _dt

        if v.tzinfo is None:
            v = v.astimezone()
        us = (v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)) // _dt.timedelta(
            microseconds=1
        )
        q, r = divmod(us, scale)
        return q + (1 if round_up and r else 0)

    def _pushable(self, f) -> str | None:
        """Single-segment column reference, scalar non-array type, probe
        values matching the column family (int/str for int/string columns,
        finite int/float for float/double) — else not pushable. Timestamps
        go through _translate_ts instead."""
        import math

        if len(f.attribute) != 1:
            return None
        col = f.attribute[0]
        t = self._types.get(col)
        if t is None or t.startswith("array") or t == "timestamp":
            return None
        if not hasattr(f, "value"):  # IsNull/IsNotNull/Not(...)
            return None
        # In.value arrives as a LIST from the pushdown worker (the API type
        # hint says tuple) — accept both or every IN-set is silently
        # rejected
        vals = f.value if isinstance(f.value, (tuple, list)) else (f.value,)
        if t in ("float", "double"):
            if not all(
                isinstance(v, (int, float))
                and not isinstance(v, bool)
                and math.isfinite(v)
                for v in vals
            ):
                return None
        elif not all(
            isinstance(v, (int, str)) and not isinstance(v, bool) for v in vals
        ):
            return None
        return col

    def _translate_ts(self, f) -> tuple | None:
        """Timestamp filter -> conservative inclusive prune-hint predicate
        over the stored epoch ints, or None. The caller ALWAYS yields the
        original filter back to Spark, so hints only skip files/stripes
        whose stats are disjoint from the widened range — rounding or tz
        slack can cost pruning, never rows."""
        import datetime as _dt

        if len(f.attribute) != 1 or not hasattr(f, "value"):
            return None
        col = f.attribute[0]
        if self._types.get(col) != "timestamp":
            return None
        scale = self._ts_scale(col)
        if scale is None:
            return None
        # In.value arrives as a LIST from the pushdown worker (the API type
        # hint says tuple) — accept both or every IN-set is silently
        # rejected
        vals = f.value if isinstance(f.value, (tuple, list)) else (f.value,)
        if not all(isinstance(v, _dt.datetime) for v in vals):
            return None
        if isinstance(f, (EqualTo, In)):
            lo = min(self._ts_epoch(v, scale, round_up=False) for v in vals)
            hi = max(self._ts_epoch(v, scale, round_up=True) for v in vals)
            return ("between", col, lo, hi)
        if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            return ("between", col, self._ts_epoch(f.value, scale, False), None)
        if isinstance(f, (LessThan, LessThanOrEqual)):
            return ("between", col, None, self._ts_epoch(f.value, scale, True))
        return None

    def partitions(self):
        from .pipeline import file_bins, file_sizes, plan_table

        entries = plan_table(self._manifest, self._preds + self._hint_preds)
        # the same size-balanced bins as decode_table, one InputPartition
        # each. The planner runs in a Python worker that cannot reach the
        # SparkContext, so the cores it may run on stand in for
        # defaultParallelism (equal under local[*])
        bins = file_bins(file_sizes(self._manifest), entries, _cores())
        # empty scan: the API needs >= 1 partition; an empty bin reads
        # nothing
        return [_BinPartition(b) for b in bins] or [_BinPartition([])]

    # -- execution (executor-side) ---------------------------------------

    def read(self, partition: _BinPartition):
        from .pipeline import read_table_bin

        yield from read_table_bin(
            partition.files, self._preds + self._hint_preds, self._names,
            self._key_col, self._raw_types,
        )


class TokstripeReaderNoPushdown(_TokstripeReaderBase):
    """Availability fallback: identical reads, no pushFilters override, so
    sessions that cannot enable spark.sql.python.filterPushdown.enabled
    still read the format (Spark applies all filters post-scan)."""


class TokstripeReader(_TokstripeReaderBase):
    def pushFilters(self, filters):
        for f in filters:
            col = self._pushable(f)
            if col is None:
                ts_hint = self._translate_ts(f)
                if ts_hint is not None:
                    self._hint_preds.append(ts_hint)
                yield f
            elif isinstance(f, EqualTo):
                self._preds.append(("in", col, [f.value]))
            elif isinstance(f, In):
                self._preds.append(("in", col, sorted(set(f.value))))
            elif isinstance(f, GreaterThanOrEqual):
                self._preds.append(("between", col, f.value, None))
            elif isinstance(f, LessThanOrEqual):
                self._preds.append(("between", col, None, f.value))
            elif isinstance(f, GreaterThan):
                # inclusive superset prunes; Spark applies the strict rest
                self._hint_preds.append(("between", col, f.value, None))
                yield f
            elif isinstance(f, LessThan):
                self._hint_preds.append(("between", col, None, f.value))
                yield f
            else:
                yield f


class TokstripeDataSourceNoPushdown(TokstripeDataSource):
    """Same format name, fallback reader (see register)."""

    def reader(self, schema: StructType) -> "TokstripeReaderNoPushdown":
        return TokstripeReaderNoPushdown(self.options, schema)


class TokstripeStreamReader(DataSourceStreamReader):
    """Tail the warehouse as a stream: each micro-batch covers the commits
    logged since the last one, planned by cdc.plan_changes — the same
    change tasks as the batch changelog, packed into size-balanced bins
    (pipeline.file_bins), one partition each. The default APPEND stream
    (Iceberg incremental-append-scan semantics) delivers only the insert
    tasks: every file of an append, an upsert's NEW files; delete, evolve,
    compaction and materialization commits deliver nothing (no
    retractions, no re-delivery of shared or rewritten files), and expired
    commits are skipped. With .option("mode", "cdc") it is a CHANGELOG
    stream: delete pre-images too, plus the `_change_type` /
    `_commit_snapshot` / `_commit_ordinal` columns, and an expired commit
    in range raises. Every commit's files are read under the field IDs of
    the snapshot the stream's schema was bound from (evolution.py).

    The offset is a single integer — a position in the warehouse's
    append-only commit log (Warehouse.commit_log), so checkpoints stay
    O(1) no matter how long the warehouse's tail grows. A logged snapshot
    is complete, logged once and never changes afterwards. Use
    .option("snapshot_prefix", ...)
    to tail one logical stream (e.g. a stream writer's '<name>-e' epochs)
    out of a shared warehouse — the prefix filter applies at planning,
    positions are warehouse-global."""

    def __init__(self, options, schema: StructType):
        from .cdc import TAG_NAMES

        self._wh_path = options.get("path")
        if not self._wh_path:
            raise ValueError("tokstripe requires .option('path', <warehouse dir>)")
        self._prefix = options.get("snapshot_prefix", "")
        self._cdc = options.get("mode") == "cdc"
        tags = TAG_NAMES if self._cdc else ()
        self._schema = {
            f.name: f.dataType.simpleString()
            for f in schema.fields if f.name not in tags
        }
        self._snapshot = options.get("snapshot")
        self._bound = self._bind()

    def _bind(self) -> dict | None:
        """The bound {name: field_id}, None on an empty warehouse (bound at
        the first planned batch); a user-schema name it lacks null-fills."""
        from .warehouse import current_ids

        wh = self._wh()
        snap = wh.resolve_snapshot(self._snapshot)
        m = wh.read_manifest(snap) if snap else None
        return {**dict.fromkeys(self._schema), **current_ids(m)} if m else None

    def _wh(self):
        from .warehouse import Warehouse

        return Warehouse(self._wh_path)

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        return {"pos": len(self._wh().commit_log())}

    def partitions(self, start: dict, end: dict):
        from .cdc import plan_changes
        from .pipeline import file_bins

        wh = self._wh()
        commits = list(enumerate(wh.commit_log()))[start["pos"]:end["pos"]]
        commits = [c for c in commits if c[1].startswith(self._prefix)]
        if self._bound is None:
            self._bound = self._bind()
        tasks = plan_changes(wh, commits, self._bound or {}, cdc=self._cdc)
        # planning runs in a Python worker: the cores it may run on stand
        # in for defaultParallelism, as in the batch reader
        bins = file_bins({t.file: t.size for t in tasks}, tasks, _cores())
        return [_BinPartition(b) for b in bins] or [_BinPartition([])]

    def read(self, partition: _BinPartition):
        from .cdc import read_tasks

        yield from read_tasks(partition.files, self._schema, self._cdc)

    def commit(self, end: dict) -> None:
        pass  # snapshots are durable; nothing to release


class _CommitMsg(WriterCommitMessage):
    def __init__(self, partitions: dict):
        self.partitions = partitions


def _layout(options, schema: StructType) -> dict:
    """The writer's encode layout from its options: source_col and
    weight_col "" mean none, and a weight column the frame lacks weighs
    every row 1. A key or source column the pid rule cannot hash raises
    ValueError (exchange.check_layout), so the writers' constructors refuse
    it before any task runs."""
    from .exchange import check_layout

    weight_col = options.get("weight_col", "n_tok") or None
    lay = {
        "key_col": options.get("key_col", "doc_id"),
        "source_col": options.get("source_col", "source") or None,
        "weight_col": weight_col if weight_col in schema.fieldNames() else None,
    }
    check_layout(schema, lay["key_col"], lay["source_col"])
    return lay


def _encode_task(options, schema: StructType, snapshot: str, batches):
    """Executor-side shared write path (batch + streaming): an in-task map
    and reduce over the encode exchange. The task clusters its rows by pid
    (exchange.map_task, the pid rule encode_table uses) into a stage of its
    own under the warehouse's exchange directory, then streams each pid's
    segments through the pipeline's stripe writer as '<pid>@w<task>'. The
    stage is removed whether or not the task succeeds. Returns the
    partition metadata dicts."""
    from pyspark import TaskContext

    from . import exchange
    from .pipeline import REDUCE_TIMERS, _make_encoder
    from .warehouse import Warehouse

    lay = _layout(options, schema)
    key_col = lay["key_col"]
    tid = TaskContext.get().partitionId() if TaskContext.get() else 0
    stage = os.path.join(
        Warehouse(options.get("path")).exchange_dir,
        f"{snapshot}-w{tid}-{uuid.uuid4().hex[:12]}",
    )
    os.makedirs(stage)
    try:
        segments = list(exchange.map_task(
            batches, tid, stage, int(options.get("salt_buckets", "32")),
            key_col, lay["source_col"], lay["weight_col"], frozenset(),
        ))
        encode = _make_encoder(
            options.get("path"), snapshot,
            int(options.get("stripe_tokens", "4000000")), key_col, lay["weight_col"],
        )
        metas = {}
        for units in exchange.plan_reduce(segments, None, set(), 1):
            groups = exchange.read_segments(units, key_col, {})
            for row in encode((f"{pid}@w{tid}", bs) for pid, bs in groups):
                metas[row["pid"]] = {k: v for k, v in row.items() if k not in REDUCE_TIMERS}
        return metas
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _commit(options, schema: StructType, snapshot: str, messages) -> None:
    """Publish the tasks' data files as one manifest for `snapshot`."""
    from .warehouse import Warehouse

    Warehouse(options.get("path")).commit(
        snapshot, {pid: p for m in messages if m is not None for pid, p in m.partitions.items()},
        {f.name: f.dataType.simpleString() for f in schema.fields},
        extra={"layout": _layout(options, schema)},
    )


def _remove_staged(messages) -> None:
    """Delete the data files (and their bloom sidecars) the tasks' commit
    messages name: a write or epoch that must not be published. Only this
    write's own files go; a failed task's writer has already removed its
    temp files, and vacuum_orphans reaps those of a killed process."""
    from .warehouse import sidecar_file

    files = [p["file"] for m in messages if m is not None for p in m.partitions.values()]
    for f in files + [sidecar_file(f) for f in files]:
        try:
            os.remove(f)
        except OSError:
            pass


class TokstripeWriter(DataSourceArrowWriter):
    """Batch writer: tasks write data files (atomic rename, idempotent under
    task retry — a retried partition regenerates the same (pid, task) file
    names), driver publishes ONE manifest in commit(). A committed
    snapshot name is refused in either save mode (the tasks would rename
    over its live files), before any task runs."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        from .warehouse import SnapshotExists, Warehouse

        self.options = dict(options)
        self.schema = schema
        self.snapshot = self.options.get("snapshot") or f"ds-{uuid.uuid4().hex[:12]}"
        _layout(self.options, schema)
        if self.snapshot in Warehouse(self.options.get("path")).commit_log():
            raise SnapshotExists(f"snapshot {self.snapshot!r} already committed; a committed "
                                 "snapshot is never rewritten, write a new snapshot name")

    def write(self, iterator):
        return _CommitMsg(
            _encode_task(self.options, self.schema, self.snapshot, iterator)
        )

    def commit(self, messages):
        _commit(self.options, self.schema, self.snapshot, messages)

    def abort(self, messages):
        _remove_staged(messages)


class TokstripeStreamWriter(DataSourceStreamArrowWriter):
    """Micro-batch sink with exactly-once across driver restarts: tasks
    stage data files under a unique per-invocation snapshot name; commit
    publishes them as '<snapshot>-e<batchId>'. The commit is the replay
    check: a replayed epoch, whose commit raises SnapshotExists (the name
    is committed), deletes its re-staged files instead of
    double-publishing."""

    def __init__(self, options, schema: StructType):
        self.options = dict(options)
        self.schema = schema
        self.base = self.options.get("snapshot", "stream")
        _layout(self.options, schema)

    def _epoch_snapshot(self, batch_id: int) -> str:
        return f"{self.base}-e{batch_id:06d}"

    def write(self, iterator):
        stage = f"{self.base}-stage-{uuid.uuid4().hex[:12]}"
        return _CommitMsg(
            _encode_task(self.options, self.schema, stage, iterator)
        )

    def commit(self, messages, batchId: int):
        from .warehouse import SnapshotExists

        try:
            _commit(self.options, self.schema, self._epoch_snapshot(batchId), messages)
        except SnapshotExists:
            # replayed epoch after restart: already published exactly once —
            # drop the re-staged files
            _remove_staged(messages)

    def abort(self, messages, batchId: int):
        _remove_staged(messages)

"""Spark pipeline: Arrow-exchange encode -> Iceberg-emulated commit; mirror
decode path; round-trip verifier.

Encode plan (exchange.py) — two one-stage jobs, no Spark shuffle:

  map job     one task per input split. A plain parquet scan (the
              optimized plan is a bare parquet relation) is read in the
              task with pyarrow, so its payload never becomes JVM rows;
              any other DataFrame comes through mapInArrow. pid =
              source + '#' + pmod(xxhash64(key), S), hashed in numpy
              (codecs/xxh64.py, bit-identical to Spark's xxhash64); rows
              cluster by pid in one stable sort and land in one Arrow IPC
              file per task under warehouse/exchange/, one segment per
              pid. Returns (pid, task, segment, tokens) dicts.
  driver      drops adopted pids (resume), splits pids heavier than
              max_pid_tokens into '@sub' pids, packs pids into
              num_partitions reduce tasks, heaviest first.
  reduce job  run_tasks (a plain RDD job, as is the map of a parquet
              input; no Catalyst plan, no Arrow round trip): task i
              memory-maps its pids' segments in map order and streams
              them, one pid at a time, through the stripe writer
              (_make_encoder): only the current pid is buffered, it is
              cut into stripes of stripe_tokens, rows re-sort by key per
              stripe and stream into the pid's parquet file (temp +
              atomic rename; idempotent under task retry). Stripe
              content and stripe boundaries depend only on the pid's own
              rows in map order: deterministic for a given input and
              input split, whatever the packing.
    -> collect tiny metadata dicts -> manifest commit (driver); the
       exchange directory is removed whether or not the encode succeeds

Decode plan — no shuffle, and no Spark file listing or schema inference
(the manifest already holds the file list and STRIPE_FILE_SCHEMA):

  plan_table (driver: manifest range + sidecar bloom prune, then each
             surviving file's seq-scoped delete set)
    -> file_bins                      those entries packed largest first
                                      into one size-balanced bin per task
                                      slot
    -> spark.range(n_bins).mapInArrow task i runs read_table_bin: opens bin
                                      i's files with pyarrow, streams their
                                      (blob, footer) row groups through the
                                      decode kernel, then masks each file
                                      by its delete set, whose keys the
                                      task loads once

Scale notes (designed for 10^12 rows / 1000 executors, tested on local[32]):
- the salt spreads each source over S buckets, defusing long-token-array skew
  (BASELINE.json:6); choose S so a bucket is a few GB: S ~ total_bytes /
  (n_sources * 4GiB).
- executors write data files directly (no shuffle, no driver funnel);
  only O(#segments) exchange rows and O(#partitions) metadata rows cross
  to the driver, like an Iceberg commit.
- stripes are flushed by token count, so blob sizes stay uniform despite
  skewed document lengths; a map task holds one chunk
  (exchange.MAP_CHUNK_BYTES) and a reduce task one pid's buffer (under
  stripe_tokens + one batch), regardless of partition size (streaming
  ParquetWriter per pid).
- decode is the mirror image: executors read data files directly, the
  driver ships only the bin list, and columns prune at the stream level
  (only requested columns' bytes are decompressed).
"""

from __future__ import annotations

import contextlib
import heapq
import itertools
import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import exchange
from .codecs import bloom as bloomc
from .evolution import column_maps, fill_type
from .stripe import decode_stripe, encode_stripe, footer_from_json, footer_to_json
from .warehouse import (
    APPEND, INT_TYPES, Warehouse, current_ids, parse_key, render_key, sidecar_file,
)

# a reduce task's per-pid seconds in encode_stripe + blooms, in file
# writes and in reading its segments, and its process CPU seconds from
# the pid's first row to its file's close (summed into the manifest's
# `encode_phases`, not kept per pid)
REDUCE_TIMERS = ("stripe_s", "write_s", "read_s", "cpu_s")

STRIPE_FILE_SCHEMA = pa.schema(
    [
        ("pid", pa.string()),
        ("stripe_id", pa.int64()),
        ("n_rows", pa.int64()),
        ("n_tokens", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("blob", pa.large_binary()),
        ("footer", pa.string()),
    ]
)


DEFAULT_STRIPE_TOKENS = 4_000_000  # ~8 MB encoded per stripe at ~2 B/token

# encode_table's default layout (its key, source and weight columns)
LAYOUT = {"key_col": "doc_id", "source_col": "source", "weight_col": "n_tok"}


def key_hashes(ids: pa.Array):
    """Vectorized bloom double-hashes of a stripe's key values; None for
    key types without a bloom hasher (float keys make no sense anyway)."""
    if isinstance(ids, pa.ChunkedArray):
        ids = ids.combine_chunks()
    if pa.types.is_string(ids.type) or pa.types.is_large_string(ids.type):
        return bloomc.hash_pairs_str_array(ids)
    if pa.types.is_integer(ids.type):
        return bloomc.hash_pairs_int(ids.cast(pa.int64()).to_numpy(zero_copy_only=False))
    return None


class _PidWriter:
    """The one writer of stripe data files: streams one pid's stripes into
    its snapshot data file (temp file + atomic rename at close) and keeps
    the file's key bloom and key range from the keys it writes. Used as a
    context manager, it removes its temp files if the block fails; the
    final file is never touched."""

    def __init__(self, warehouse_path: str, snapshot: str, pid: str, key_col: str = "doc_id"):
        self.pid = pid
        self.key_col = key_col
        self.final = Warehouse(warehouse_path).data_file(pid, snapshot)
        os.makedirs(os.path.dirname(self.final), exist_ok=True)
        self.tmp = self.final + f".inprogress-{uuid.uuid4().hex[:8]}"
        # no Parquet column statistics and no dictionary: no reader uses
        # them, and the statistics held min/max copies of each footer JSON
        self.writer = pq.ParquetWriter(
            self.tmp, STRIPE_FILE_SCHEMA, compression="none",
            write_statistics=False, use_dictionary=False,
        )
        self.stripes = 0
        self.n_rows = 0
        self.n_tokens = 0
        self.enc_bytes = 0
        self.min_doc = None
        self.max_doc = None
        # file-level key bloom (ORC BLOOM_FILTER analog, puffin-style
        # sidecar): fixed m so worker memory stays O(1) per writer, folded
        # to the file's key count at close; readers ignore it if over-full
        # (bloom_from_meta checks saturation)
        self.file_bloom = np.zeros(bloomc.FILE_BLOOM_BITS // 8, dtype=np.uint8)
        self.bloom_n = 0
        self.stripe_s = 0.0
        self.write_s = 0.0
        self.t0 = time.perf_counter()
        self.cpu0 = time.process_time()

    def __enter__(self) -> _PidWriter:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            with contextlib.suppress(OSError, pa.ArrowException):
                self.writer.close()
            for f in (self.tmp, sidecar_file(self.tmp)):
                with contextlib.suppress(OSError):  # never made, or renamed
                    os.remove(f)

    def _add_keys(self, keys):
        """Fold a stripe's keys into the file bloom and the key range;
        returns their bloom hashes (None for a key type without a
        hasher)."""
        hp = key_hashes(keys)
        if hp is not None:
            bloomc.bloom_insert(self.file_bloom, *hp)
            self.bloom_n += len(hp[0])
        # native-typed key range (str for doc_id, int for int keys): the
        # manifest file-pruning range test compares in the key's own order,
        # so integer keys don't fall into string collation. Null keys sort
        # last and are outside every range: min_max skips them
        mm = pc.min_max(keys)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is not None:
            self.min_doc = lo if self.min_doc is None else min(self.min_doc, lo)
            self.max_doc = hi if self.max_doc is None else max(self.max_doc, hi)
        return hp

    def write_stripe(self, tbl: pa.Table) -> None:
        # deterministic stripe CONTENT: order rows by doc_id here (vectorized
        # gather, exchange.take_rows) instead of a cluster-wide sortWithinPartitions('pid','doc_id')
        # — the JVM sort moves the full token payload and costs ~3x the
        # pid-only clustering sort (measured at 322M tokens: 7.8s vs 2.4s on
        # 16 cores). Stripe boundaries follow the order the rows arrive in
        # (map order); per-row decode equality is order-independent either
        # way.
        t0 = time.perf_counter()
        tbl = exchange.take_rows(tbl, pc.sort_indices(tbl.column(self.key_col)).to_numpy())
        blob, footer = encode_stripe(tbl)
        # key bloom: one vectorized hash pass feeds BOTH the stripe-level
        # bloom (stripe footer stats, sized to this stripe's rows) and the
        # file-level bloom (OR-accumulated, folded and written as a sidecar
        # at close)
        hp = self._add_keys(tbl.column(self.key_col))
        if hp is not None:
            h1, h2 = hp
            stats = footer["columns"][self.key_col].setdefault("stats", {})
            stats["bloom"] = bloomc.bloom_to_meta(
                bloomc.bloom_build(h1, h2, bloomc.stripe_bloom_bits(len(h1))),
                len(h1),
            )
        if "tokens" in footer["columns"]:
            n_tok = int(footer["columns"]["tokens"].get("stats", {}).get("n_values", 0))
        else:
            n_tok = tbl.num_rows  # generic tables meter throughput in rows
        row = pa.record_batch(
            [
                pa.array([self.pid]),
                pa.array([self.stripes], type=pa.int64()),
                pa.array([tbl.num_rows], type=pa.int64()),
                pa.array([n_tok], type=pa.int64()),
                pa.array([len(blob)], type=pa.int64()),
                pa.array([blob], type=pa.large_binary()),
                pa.array([footer_to_json(footer)]),
            ],
            schema=STRIPE_FILE_SCHEMA,
        )
        t1 = time.perf_counter()
        self.writer.write_batch(row)
        self.write_s += time.perf_counter() - t1
        self.stripe_s += t1 - t0
        self.stripes += 1
        self.n_rows += tbl.num_rows
        self.n_tokens += n_tok
        self.enc_bytes += len(blob)

    def copy_stripes(self, t: pa.Table) -> None:
        """Append stripe rows `t` of another stripe file verbatim (blob and
        footer bytes untouched), stripe_id renumbered. Only their key
        column is decoded, for the file bloom and key range."""
        for blob, footer in zip(t.column("blob"), t.column("footer")):
            keys = decode_stripe(blob.as_buffer(), footer_from_json(str(footer)), [self.key_col])
            self._add_keys(keys.column(0))
        ids = pa.array(np.arange(self.stripes, self.stripes + t.num_rows, dtype=np.int64))
        t = t.set_column(t.schema.get_field_index("stripe_id"), "stripe_id", ids)
        self.writer.write_table(t)
        self.stripes += t.num_rows
        self.n_rows += pc.sum(t["n_rows"]).as_py()
        self.n_tokens += pc.sum(t["n_tokens"]).as_py()
        self.enc_bytes += pc.sum(t["enc_bytes"]).as_py()

    def close(self) -> dict:
        t0 = time.perf_counter()
        self.writer.close()
        if self.bloom_n:
            # puffin-style sidecar, written BEFORE the data file becomes
            # visible: a committed data file implies its sidecar exists (a
            # crash in between leaves a harmless orphan sidecar). The
            # manifest stays O(200 bytes)/partition; planners read sidecars
            # only for files that survive range pruning.
            bits = bloomc.fold(self.file_bloom, bloomc.file_bloom_bits(self.bloom_n))
            with open(sidecar_file(self.tmp), "w") as fh:
                json.dump({"column": self.key_col, **bloomc.bloom_to_meta(bits, self.bloom_n)}, fh)
            os.replace(sidecar_file(self.tmp), sidecar_file(self.final))
        os.replace(self.tmp, self.final)  # atomic: file is complete or absent
        self.write_s += time.perf_counter() - t0
        return {
            "pid": self.pid,
            "file": self.final,
            "stripes": self.stripes,
            "n_rows": self.n_rows,
            "n_tokens": self.n_tokens,
            "enc_bytes": self.enc_bytes,
            "encode_s": time.perf_counter() - self.t0,
            # non-string keys (int event/vec ids) render via json.dumps so the
            # manifest's string-typed range carries them; file_matches
            # parses them back with the manifest schema's key type. A file
            # of null keys only has no range: "" (cannot exclude)
            "min_doc_id": render_key(self.min_doc),
            "max_doc_id": render_key(self.max_doc),
            "stripe_s": self.stripe_s,
            "write_s": self.write_s,
            "cpu_s": time.process_time() - self.cpu0,
        }


def _make_encoder(
    warehouse_path: str,
    snapshot: str,
    stripe_tokens: int,
    key_col: str = "doc_id",
    weight_col: str | None = "n_tok",
):
    """Sequential stripe writer: takes (pid, Arrow batch iterator) groups,
    each pid once (the exchange clusters rows by pid), streams each pid's
    rows into its own data file and yields the file's metadata dict
    (_PidWriter.close) as the pid ends. Only the current pid is buffered:
    it flushes when the buffer reaches stripe_tokens and when the pid's
    rows end, so a pid's stripe boundaries depend only on its own rows in
    map order. A pid without rows writes no file."""

    def flush(writer: _PidWriter, buf: list[pa.RecordBatch]) -> None:
        # split the buffer at stripe_tokens boundaries so stripe size has a
        # UNIFORM upper bound (stripe_tokens + one row) even when a single
        # Arrow batch delivers a multiple of the target — decode-side worker
        # memory is bounded by stripe size, so this must not scale with
        # batch luck
        tbl = pa.Table.from_batches(buf)
        csum = np.cumsum(exchange.weights(tbl, weight_col))
        start = 0
        while start < tbl.num_rows:
            base = int(csum[start - 1]) if start else 0
            end = min(
                int(np.searchsorted(csum, base + stripe_tokens, side="left")) + 1,
                tbl.num_rows,
            )
            writer.write_stripe(tbl.slice(start, end - start))
            start = end

    def encode_partition(groups):
        for pid, batches in groups:
            first = next(batches, None)
            if first is None:
                continue
            with _PidWriter(warehouse_path, snapshot, pid, key_col) as writer:
                buf, buffered = [], 0
                for batch in itertools.chain([first], batches):
                    buf.append(batch)
                    buffered += int(exchange.weights(batch, weight_col).sum())
                    if buffered >= stripe_tokens:
                        flush(writer, buf)
                        buf, buffered = [], 0
                if buf:
                    flush(writer, buf)
                meta = writer.close()
            yield meta

    return encode_partition


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    warehouse_path: str,
    snapshot: str,
    salt_buckets: int = 32,
    stripe_tokens: int = DEFAULT_STRIPE_TOKENS,
    num_partitions: int | None = None,
    resume: bool = True,
    max_pid_tokens: int | None = None,
    key_col: str = "doc_id",
    source_col: str | None = "source",
    weight_col: str | None = "n_tok",
) -> dict:
    """Encode a (doc_id, tokens, n_tok, source) DataFrame into the warehouse
    as snapshot `snapshot`, published by one commit; returns its manifest.
    Resumable: an already committed snapshot is returned unchanged and no
    job runs (a replayed stream batch, a re-run job); otherwise the
    complete data files a killed run of it left are adopted (`resume=False`
    re-encodes them) and only the missing partitions encode.
    `max_pid_tokens` enables the size-aware rebalance (SURVEY.md §2.2): a
    logical partition whose token mass exceeds it is split into
    ceil(mass/cap) `@sub` partitions by an independent hash of the key, so
    the per-pid bound becomes max(cap(1+ε), largest single row). The
    masses come from the map job over the FULL input — before the resume
    filter — so a resumed run derives the same pid names as the killed one.

    Any table encodes through the same path by naming its own layout:
    `key_col` (stripe sort + manifest min/max range; string or integral),
    `source_col` (pid prefix = partition key; None salts on the key alone)
    and `weight_col` (stripe sizing mass; None weighs every row 1). The
    layout is recorded in the manifest so decode-side pruning knows which
    columns the file-level ranges describe.

    `num_partitions` is the number of reduce (encode) tasks, one per task
    slot by default.

    The commit is an append on main (Warehouse.commit): it never
    conflicts, and carries CURRENT's field IDs by name.

    The manifest's `encode_phases` holds the map, plan and reduce walls
    and the summed task seconds of each named step (exchange.py)."""
    return encode_commit(
        spark, df, Warehouse(warehouse_path), snapshot, resume=resume,
        layout={"key_col": key_col, "source_col": source_col, "weight_col": weight_col},
        extra={}, ids=None, expect=APPEND, salt_buckets=salt_buckets,
        stripe_tokens=stripe_tokens, num_partitions=num_partitions,
        max_pid_tokens=max_pid_tokens,
    )


def encode_commit(
    spark: SparkSession, df: DataFrame, wh: Warehouse, snapshot: str, *,
    resume: bool, layout: dict, extra: dict, ids: dict | None, expect, **files,
) -> dict:
    """encode_table's body, with the inputs a rewrite of the table
    (maintenance.py) sets: its source's `layout` (a missing column takes
    encode_table's default), lineage in `extra`, and Warehouse.commit's
    `ids` and `expect`. `files` are encode_files' other arguments.
    Returns the manifest of a committed `snapshot` as is; otherwise adopts
    a killed run's valid files, encodes the missing pids and commits both
    once."""
    if snapshot in wh.commit_log():
        return wh.read_manifest(snapshot)
    layout = {**LAYOUT, **layout}
    adopted = {}
    if resume:
        for pid, f in wh.orphan_files(snapshot).items():
            v = wh.validate_data_file(f, key_col=layout["key_col"])
            if v is not None:
                adopted[pid] = {**v, "file": f, "adopted": True, "encode_s": 0.0}
    partitions, phases = encode_files(
        spark, df, wh.path, snapshot, skip=frozenset(adopted), **layout, **files
    )
    return wh.commit(
        snapshot, {**adopted, **partitions},
        {f.name: f.dataType.simpleString() for f in df.schema.fields},
        extra={"layout": layout, "encode_phases": phases, **extra}, ids=ids, expect=expect,
    )


def encode_files(
    spark: SparkSession, df: DataFrame, warehouse_path: str, snapshot: str, *,
    salt_buckets: int, stripe_tokens: int, num_partitions: int | None,
    max_pid_tokens: int | None, key_col: str, source_col: str | None,
    weight_col: str | None, skip: frozenset,
) -> tuple[dict, dict]:
    """encode_table's file-writing half, which commits nothing: the map,
    plan and reduce jobs write one data file per pid of `df` not in `skip`
    under `snapshot`'s file names. Returns ({pid: manifest entry},
    encode_phases)."""
    exchange.check_layout(df.schema, key_col, source_col)
    slots = spark.sparkContext.defaultParallelism
    stage = os.path.join(
        Warehouse(warehouse_path).exchange_dir, f"{snapshot}-{uuid.uuid4().hex[:12]}"
    )
    os.makedirs(stage)
    args = (stage, salt_buckets, key_col, source_col, weight_col, skip)
    try:
        t0 = time.perf_counter()
        splits = exchange.parquet_splits(df, slots)
        if splits is not None:
            # a plain parquet scan: each map task reads its row groups with
            # pyarrow, so the payload never becomes JVM rows
            target = _arrow_schema(spark, df)
            segments = run_tasks(
                spark, list(range(len(splits))),
                lambda i: exchange.map_task(exchange.read_split(splits[i], target), i, *args),
            )
        else:
            def run_map(batches):
                from pyspark import TaskContext

                rows = list(exchange.map_task(batches, TaskContext.get().partitionId(), *args))
                if rows:
                    yield pa.RecordBatch.from_pylist(rows)

            maps = df.mapInArrow(run_map, exchange.MAP_META_SCHEMA)
            segments = [r.asDict() for r in maps.collect()]
        t1 = time.perf_counter()
        bins = exchange.plan_reduce(
            segments, max_pid_tokens, skip, num_partitions or slots
        )
        t2 = time.perf_counter()
        encoder = _make_encoder(warehouse_path, snapshot, stripe_tokens, key_col, weight_col)

        def reduce_bin(units):
            read_s: dict[str, float] = {}
            for r in encoder(exchange.read_segments(units, key_col, read_s)):
                yield {**r, "read_s": read_s.get(r["pid"], 0.0)}

        rows = run_tasks(spark, bins, reduce_bin)
        t3 = time.perf_counter()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    tasks = {r["task"]: r for r in segments}
    phases = {
        "map_s": t1 - t0, "plan_s": t2 - t1, "reduce_s": t3 - t2,
        "map_tasks": len(tasks), "reduce_tasks": len(bins),
        "map": {k: sum(r[k] for r in tasks.values()) for k in exchange.MAP_TIMERS},
        "reduce": {k: sum(r[k] for r in rows) for k in REDUCE_TIMERS},
    }
    partitions = {}
    for r in rows:
        p = {k: v for k, v in r.items() if k not in REDUCE_TIMERS}
        p["tokens_per_s"] = p["n_tokens"] / p["encode_s"] if p["encode_s"] else None
        partitions[p["pid"]] = p
    return partitions, phases


def _arrow_schema(spark: SparkSession, df: DataFrame) -> pa.Schema:
    """The Arrow schema mapInArrow hands `df`'s rows to Python in:
    timestamps in the session time zone."""
    from pyspark.sql.pandas.types import to_arrow_schema

    tz = spark.conf.get("spark.sql.session.timeZone")
    sch = to_arrow_schema(df.schema)
    return pa.schema([
        f.with_type(pa.timestamp(f.type.unit, tz))
        if pa.types.is_timestamp(f.type) and f.type.tz else f
        for f in sch
    ])


_ARROW_TO_SPARK = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "string": "string",
    "large_string": "string",
    "float": "float",
    "double": "double",
}


def _spark_type_str(t: str) -> str:
    if t in _ARROW_TO_SPARK:
        return _ARROW_TO_SPARK[t]
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("list") or t.startswith("large_list"):
        if "double" in t:
            return "array<double>"
        if "float" in t:
            return "array<float>"
        return "array<int>"
    if t.startswith("array"):  # spark simpleString already
        return t
    return t


def normalize_predicates(predicate) -> list[tuple]:
    """Accepted predicate forms (conjunction semantics, ORC search-argument
    style):
      ("col", lo, hi)          — BETWEEN lo AND hi (inclusive); either bound
                                 may be None = unbounded on that side
      ("col", values)          — IN set (values: list/tuple/set)
      [pred, pred, ...]        — AND of the above
    Normalized to [("between", col, lo, hi) | ("in", col, sorted_values)]."""
    if predicate is None:
        return []
    preds = predicate if isinstance(predicate, list) else [predicate]
    out = []
    for p in preds:
        if len(p) == 3:
            if p[1] is None and p[2] is None:
                continue  # unbounded on both sides: no-op conjunct
            out.append(("between", p[0], p[1], p[2]))
        elif len(p) == 2 and isinstance(p[1], (list, tuple, set, frozenset)):
            if not p[1]:
                raise ValueError(f"empty IN-set predicate on {p[0]!r}")
            out.append(("in", p[0], sorted(set(p[1]))))
        else:
            raise ValueError(
                f"predicate {p!r} is neither (col, lo, hi) nor (col, values)"
            )
    return out


def _pred_matches_range(pred: tuple, mn, mx) -> bool:
    """Can any value in [mn, mx] satisfy the predicate? (The shared
    file-level and stripe-level pruning test — conservative by
    construction: stats only ever EXCLUDE.)"""
    if pred[0] == "between":
        lo, hi = pred[2], pred[3]
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
        return True
    return any(mn <= v <= mx for v in pred[2])


def file_matches(
    pid: str,
    part: dict,
    preds: list[tuple],
    key_col: str = "doc_id",
    source_col: str | None = "source",
    key_type: str | None = None,
) -> bool:
    """FILE-level pruning over driver-side manifest metadata (the Iceberg
    manifest-pruning analog): key-column (doc_id) predicates test the
    partition's [min_doc_id, max_doc_id] range (stripes are key-sorted, so
    it is tight); source-column predicates test the pid's source prefix —
    pid is source + '#' + bucket[@sub][@w<task>] (exchange.pid_groups /
    plan_reduce / the format writers), and no suffix contains '#', so
    rsplit recovers the source exactly.
    Source pruning is PARTITION-KEY pruning: an equality/IN predicate on
    source skips every non-matching file without opening it. `key_type`
    (the manifest schema's key type) parses its rendered key ranges back
    to their native order (parse_key) before the range test."""
    src = pid.rsplit("#", 1)[0]
    for p in preds:
        col = p[1]
        if col == key_col:
            mn, mx = part.get("min_doc_id"), part.get("max_doc_id")
            if key_type is not None:
                mn, mx = parse_key(mn, key_type), parse_key(mx, key_type)
            # "" or absent = no recorded range — cannot exclude, for EVERY
            # key type: compact_snapshots writes "" when a source partition
            # lacked a range, and adopted resume partitions may carry no
            # keys at all; comparing the "" sentinel as a real string range
            # would silently prune live rows
            if mn in ("", None) or mx in ("", None):
                continue
            if not _pred_matches_range(p, mn, mx):
                return False
        elif source_col is not None and col == source_col:
            if not _pred_matches_range(p, src, src):
                return False
    return True


def stripe_matches(footer: dict, col: str, lo, hi) -> bool:
    """Stripe-level predicate-pushdown test (ORC stripe-stats PPD): can any
    row of this stripe satisfy lo <= col <= hi? Conservative: stripes whose
    footer carries no min/max for `col` (strings, lists) always match."""
    return stripe_matches_pred(footer, ("between", col, lo, hi))


def stripe_matches_pred(footer: dict, pred: tuple) -> bool:
    """stripe_matches generalized to a normalized predicate (between/in)."""
    meta = footer["columns"].get(pred[1])
    if meta is None:
        return True
    st = meta.get("stats") or {}
    mn, mx = st.get("min"), st.get("max")
    if mn is None or mx is None:
        return True
    return _pred_matches_range(pred, mn, mx)


def stripe_bloom_matches(footer: dict, pred: tuple) -> bool:
    """Stripe-level bloom test for an IN-set predicate (ORC BLOOM_FILTER
    analog): can ANY of the probe values be in this stripe? Conservative —
    columns without a bloom in their footer stats always match."""
    meta = footer["columns"].get(pred[1])
    if meta is None:
        return True
    bl = (meta.get("stats") or {}).get("bloom")
    if not bl:
        return True
    is_str = footer["schema"].get(pred[1]) in ("string", "large_string")
    return bloomc.meta_might_contain(bl, pred[2], is_str)


def _row_mask(rb: pa.RecordBatch, preds: list[tuple]):
    """Exact row-level filter mask: AND of all conjuncts (arrow compute,
    no Python per row)."""
    mask = None
    for p in preds:
        c = rb.column(p[1])
        if pa.types.is_timestamp(c.type):
            # timestamp predicates are epoch counts at the column's unit
            # (the same integers the stripe stats carry)
            c = c.cast(pa.int64())
        if p[0] == "between":
            m = None
            if p[2] is not None:
                m = pc.greater_equal(c, p[2])
            if p[3] is not None:
                le = pc.less_equal(c, p[3])
                m = le if m is None else pc.and_(m, le)
        else:
            m = pc.is_in(c, value_set=pa.array(p[2], type=c.type))
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def decode_table(
    spark: SparkSession,
    warehouse_path: str,
    snapshot: str | None = None,
    columns: list[str] | None = None,
    predicate: tuple | list | None = None,
    prune_metrics: dict | None = None,
) -> DataFrame:
    """Read committed stripes back into the original rows. Column projection
    prunes at the stream level (untouched columns are never decompressed).

    `predicate` pushes a CONJUNCTION of filters down three levels, mirroring
    ORC's search-argument model on the Iceberg-style layout. Forms (see
    normalize_predicates): a single (col, lo, hi) between, a single
    (col, values) IN-set, or a list of either — ANDed together.
      1. FILE level — driver-side manifest metadata only (like Iceberg
         manifest pruning): doc_id predicates test each partition's
         [min_doc_id, max_doc_id] range (stripes are doc_id-sorted so it is
         tight); source predicates test the pid's source prefix — true
         partition-key pruning, since source is part of the mandated salt
         key. Pruned files are never opened.
      2. STRIPE level — stripes whose footer stats are disjoint from ANY
         conjunct are skipped before a single stream of the blob is
         decompressed (stripe_matches_pred).
      3. ROW level — surviving stripes are filtered exactly (arrow compute),
         so the result equals an unpruned decode + filter (pruning is
         transparent; the pruned_scan* gate queries certify this against
         the SQL oracle).
    Note the mandated salt ANTI-clusters doc_ids across partitions, so
    doc_id file pruning pays on source-prefixed id ranges (the salt
    preserves the source prefix), and stripe-level pruning pays where
    arrival order correlates with the predicate column — e.g. time-ordered
    corpora. Source predicates prune files regardless.

    `prune_metrics` (optional dict) records proof that pruning fired:
    'files_total'/'files_pruned' are filled immediately (driver-side);
    'stripes_seen'/'stripes_skipped' are Spark accumulators — read
    `.value` after an action on the returned DataFrame.

    This is the same table read as `spark.read.format("tokstripe")`:
    validation, then plan_table (files + each file's seq-scoped delete
    set, from the manifest alone), then one scan_bins of read_table_bin.
    Merge-on-read deletes (deletes.py) apply inside the decode kernel as
    an arrow `is_in` mask per file; each task loads the keys of each
    distinct delete set of its bin once, so the driver never opens a
    delete file and a task holds the delete keys of its bin's files."""
    wh = Warehouse(warehouse_path)
    snapshot = wh.resolve_snapshot(snapshot)
    manifest = wh.read_manifest(snapshot)
    if not manifest or not manifest["partitions"]:
        # distinct from "every file pruned" below: a snapshot with nothing
        # committed is a caller error, not an empty query result
        raise ValueError(f"no committed files for snapshot {snapshot}")
    schema = manifest["schema"]
    preds = normalize_predicates(predicate)
    for p in preds:
        if p[1] not in schema:
            raise ValueError(f"predicate column {p[1]!r} not in table schema")
        if _spark_type_str(schema[p[1]]).startswith("array"):
            raise ValueError(f"predicate on array column {p[1]!r} unsupported")
    names = columns or list(schema.keys())
    check_columns(names, schema)
    out_schema = ", ".join(f"{n} {_spark_type_str(schema[n])}" for n in names)
    entries = plan_table(manifest, preds, prune_metrics)
    if not entries:  # every partition pruned: empty result, no job
        return spark.createDataFrame([], ddl_type(spark, out_schema))
    accs = (None, None, None)
    if prune_metrics is not None:
        accs = tuple(spark.sparkContext.accumulator(0) for _ in range(3))
        prune_metrics.update(zip(
            ("stripes_seen", "stripes_skipped", "stripes_bloom_skipped"), accs
        ))
    key_col = (manifest.get("layout") or {}).get("key_col", "doc_id")
    bins = file_bins(file_sizes(manifest), entries, spark.sparkContext.defaultParallelism)
    return scan_bins(
        spark, bins,
        lambda b: read_table_bin(b, preds, names, key_col, schema, accs),
        out_schema,
    )


def check_columns(names: list[str], schema: dict) -> None:
    """Every requested column of a table read must be in the snapshot."""
    unknown = [n for n in names if n not in schema]
    if unknown:
        raise ValueError(f"columns {unknown} not in snapshot schema")


def plan_table(
    manifest: dict, preds: list[tuple], prune_metrics: dict | None = None
) -> list[tuple[str, tuple[str, ...], dict | None]]:
    """The planning half of every table read (decode_table, the tokstripe
    batch reader): (file, applicable delete set, column map) entries — the
    files plan_scan_files keeps when there are predicates, every committed
    file otherwise, each with its seq-scoped delete-file paths
    (deletes.applicable_deletes) and evolution.stored_names. Reads the
    manifest and, for key IN-sets, the sidecar blooms; never a delete file."""
    from . import deletes as _deletes

    maps = column_maps(manifest, current_ids(manifest))
    files = plan_scan_files(manifest, preds, prune_metrics) if preds else list(maps)
    dels_of = _deletes.applicable_deletes(manifest, files)
    return [(f, dels_of[f], maps[f]) for f in files]


def read_table_bin(
    entries: list[tuple[str, tuple[str, ...], dict | None]],
    preds: list[tuple],
    names: list[str],
    key_col: str = "doc_id",
    coltypes: dict[str, str] | None = None,
    accs: tuple = (None, None, None),
):
    """The executing half of every table read: decode one file_bins bin of
    plan_table entries through decode_file, each file masked by its delete
    set. Each distinct delete set loads once per call, in the worker — the
    per-task equality-delete merge Iceberg readers do — so a task holds the
    keys of its bin's delete sets, and a file with none loads nothing."""
    from . import deletes as _deletes

    keysets: dict[tuple[str, ...], pa.Array] = {}
    for path, appl, stored in entries:
        if appl and appl not in keysets:
            keysets[appl] = _deletes.load_delete_keys(list(appl), key_col)
        yield from decode_file(
            path, preds, names, keysets.get(appl), key_col, stored, coltypes, accs
        )


def plan_scan_files(
    manifest: dict, preds: list[tuple], prune_metrics: dict | None = None
) -> list[str]:
    """FILE-level scan planning over driver-side metadata, shared by
    decode_table and the tokstripe Python data source:
      1. manifest range/partition-key prune (file_matches) — pruned files
         are never opened;
      2. sidecar bloom prune for IN-set predicates on the key column (the
         salt makes key RANGES too wide to exclude anything, so the bloom
         is what makes point lookups skip files). Only files that survived
         range pruning pay the sidecar read — one small GET per file at
         object-store scale, the planning read Iceberg does for puffin.
    `preds` must already be normalized (normalize_predicates)."""
    schema = manifest["schema"]
    layout = manifest.get("layout") or {}
    key_col = layout.get("key_col", "doc_id")
    src_col = layout.get("source_col", "source")
    key_type = schema.get(key_col, "string")
    n_total = len(manifest["partitions"])
    files = [
        part["file"]
        for pid, part in manifest["partitions"].items()
        if file_matches(pid, part, preds, key_col, src_col, key_type)
    ]
    if prune_metrics is not None:
        prune_metrics["files_total"] = n_total
        prune_metrics["files_pruned"] = n_total - len(files)
    in_key = [p for p in preds if p[0] == "in" and p[1] == key_col]
    if in_key and files:
        key_is_str = key_type not in INT_TYPES
        survivors = []
        for f in files:
            keep = True
            try:
                with open(sidecar_file(f)) as fh:
                    meta = json.load(fh)
                if meta.get("column") == key_col:
                    keep = all(
                        bloomc.meta_might_contain(meta, p[2], key_is_str)
                        for p in in_key
                    )
            except (OSError, ValueError):
                pass  # no/unreadable sidecar: cannot exclude
            if keep:
                survivors.append(f)
        if prune_metrics is not None:
            prune_metrics["files_bloom_pruned"] = len(files) - len(survivors)
        files = survivors
    return files


def decode_blob_batches(
    batches,
    preds: list[tuple],
    read_cols: list[str],
    names: list[str],
    acc_seen=None,
    acc_skip=None,
    acc_bloom=None,
    stored: dict[str, str | None] | None = None,
    coltypes: dict[str, str] | None = None,
):
    """Decode a stream of (blob, footer) Arrow batches into RecordBatches of
    `names` columns, applying the executor-side half of predicate pushdown:
    stripe-stats skip, stripe-bloom skip (both BEFORE any stream of the blob
    is decompressed), then the exact arrow row filter. Shared by every
    stripe-file read through decode_file.

    `stored` is the file's column map (evolution.stored_names, one per
    file): read name -> the name the file stores it under, None for a
    column the file lacks, which null-fills (type from `coltypes`, the
    bound schema). The stripes are decoded under the stored names and
    renamed; stripe predicates translate the same way, once. A predicate
    on a column the file lacks cannot exclude a stripe and falls through to
    the exact row filter, where the null fill matches nothing."""
    spreds, decode_cols = preds, read_cols
    if stored is not None:
        spreds = [(p[0], stored[p[1]]) + tuple(p[2:]) for p in preds if stored[p[1]]]
        decode_cols = [stored[c] for c in read_cols if stored[c]]
        fill = [(c, fill_type(coltypes[c])) for c in read_cols if not stored[c]]
        out_names = [c for c in read_cols if stored[c]] + [c for c, _ in fill]
    for batch in batches:
        blobs = batch.column("blob")
        footers = batch.column("footer")
        for i in range(batch.num_rows):
            footer = footer_from_json(str(footers[i]))
            if acc_seen is not None:
                acc_seen.add(1)
            if spreds and not all(
                stripe_matches_pred(footer, p) for p in spreds
            ):
                if acc_skip is not None:
                    acc_skip.add(1)
                continue
            # STRIPE-level bloom: range stats passed, but an IN-set may
            # still miss every key in this stripe
            if spreds and not all(
                stripe_bloom_matches(footer, p)
                for p in spreds
                if p[0] == "in"
            ):
                if acc_skip is not None:
                    acc_skip.add(1)
                if acc_bloom is not None:
                    acc_bloom.add(1)
                continue
            rb = decode_stripe(blobs[i].as_buffer(), footer, columns=decode_cols)
            if stored is not None:
                nulls = [pa.nulls(footer["n_rows"], t) for _, t in fill]
                rb = pa.RecordBatch.from_arrays(
                    rb.columns + nulls, names=out_names
                ).select(read_cols)
            if preds:
                rb = rb.filter(_row_mask(rb, preds))
                if rb.num_rows == 0:
                    continue
                if read_cols != names:
                    rb = rb.select(names)
            yield rb


# Spark's own default split size (spark.sql.files.maxPartitionBytes): a bin
# grows past it only when there are fewer files than that many bins
MAX_BIN_BYTES = 128 << 20


def file_sizes(manifest: dict) -> dict[str, int]:
    """Data file -> its `enc_bytes`, the weight file_bins packs by."""
    return {p["file"]: p.get("enc_bytes") or 0 for p in manifest["partitions"].values()}


def pack_bins(size: dict, entries: list, n: int) -> list[list]:
    """Pack entries into `n` balanced bins: greedy largest-first by
    `size[entry[0]]` into the lightest bin (ties by entry[0], so the
    packing is deterministic)."""
    heap = [(0, i) for i in range(n)]
    bins: list[list] = [[] for _ in range(n)]
    for e in sorted(entries, key=lambda e: (-size.get(e[0], 0), e[0])):
        load, i = heapq.heappop(heap)
        bins[i].append(e)
        heapq.heappush(heap, (load + size.get(e[0], 0), i))
    return bins


def file_bins(size: dict[str, int], entries: list, slots: int) -> list[list]:
    """Pack entries whose first field is a data file into size-balanced
    bins, one Spark task each (pack_bins by `size[file]`).
    min(#entries, max(slots, total / MAX_BIN_BYTES)) bins — one per task
    slot, more only when bins would exceed Spark's split size."""
    total = sum(size.get(e[0], 0) for e in entries)
    return pack_bins(size, entries, min(len(entries), max(slots, -(-total // MAX_BIN_BYTES))))


def run_tasks(spark: SparkSession, items: list, fn) -> list[dict]:
    """Task i of one plain RDD job runs `fn(items[i])` in its Python
    worker; returns the dicts every task yielded, in task order. For jobs
    that hand back only metadata (the encode's map and reduce, concat
    compaction): no DataFrame, Catalyst plan, Arrow batches or Row objects,
    which cost a fixed ~0.04 s per job (BENCH.md §13).

    Work first, input last: the job is a `parallelize([], n)`, so a task's
    input is an empty partition, and the task runs `fn` before it drains
    that input. The input reaches a reused worker after its command, often
    ~40 ms later (a delayed-ACK stall on the JVM->worker socket, BENCH.md
    §16); a task that read it first would start its work that much later.
    (`parallelize(range(n))` reads its input before any engine code runs.)
    The drain stays: PySpark reuses a worker only if its input was
    consumed."""
    if not items:
        return []
    sc = spark.sparkContext
    # Spark pools Python workers by environment; its SQL runner (mapInArrow)
    # adds this variable when the conf is on. Without it here, these jobs
    # start and keep a second pool of workers (BENCH.md §13)
    if spark.conf.get("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled") == "true":
        sc.environment["SPARK_SIMPLIFIED_TRACEBACK"] = "1"

    def run(i, it):
        yield from fn(items[i])
        for _ in it:
            pass

    return sc.parallelize([], len(items)).mapPartitionsWithIndex(run).collect()


_DDL_TYPES: dict = {}  # DDL schema string -> its StructType, for the process


def ddl_type(spark: SparkSession, ddl: str):
    """The StructType of a DDL schema string. Spark parses DDL through the
    JVM (3.7-4.1 ms a call), so each string is parsed once per process."""
    t = _DDL_TYPES.get(ddl)
    if t is None:
        t = _DDL_TYPES[ddl] = spark._parse_ddl(ddl)
    return t


# output a scan task holds while it waits for its trigger (scan_bins)
TRIGGER_HOLD_BYTES = 32 << 20


def scan_bins(spark: SparkSession, bins: list, read_bin, schema: str) -> DataFrame:
    """The manifest-driven scan under every Spark read of stripe files that
    must return a DataFrame: task i of a `spark.range(len(bins))` runs
    `read_bin(bins[i])` in its Python worker and yields Arrow batches of
    `schema`. The manifest already holds the file list and
    STRIPE_FILE_SCHEMA, so building this DataFrame starts no Spark job — no
    file listing, no schema inference — and the blobs never pass through a
    JVM parquet scan. A job that only returns metadata uses run_tasks.

    Work first, input last: a task's one-row trigger input (its range row
    i) reaches a reused worker ~40 ms after the task starts (run_tasks
    says why), so the task does not wait for it; scan_task says what it
    does instead."""

    def run(batches):
        from pyspark import TaskContext

        yield from scan_task(bins, read_bin, TaskContext.get().partitionId(), batches)

    return spark.range(len(bins), numPartitions=len(bins)).mapInArrow(run, ddl_type(spark, schema))


def scan_task(bins: list, read_bin, part: int, batches):
    """One scan_bins task, given its partition id and its trigger batches.
    It reads the bin its partition id names and holds the output (up to
    TRIGGER_HOLD_BYTES), then drains the trigger. When the trigger is
    that id — always, unless the plan around the scan renumbers its
    partitions (a union after another input, a coalesce) — the held
    batches go out and the read goes on. Otherwise they are dropped, the
    task's accumulators get back the values they had before the read, and
    the task reads the bins its trigger names. So read_bin must be safe to
    stop early. The drain stays: PySpark reuses a worker only if its input
    was consumed."""
    from pyspark.accumulators import _accumulatorRegistry as registry

    before = {k: a._value for k, a in registry.items()}
    work = iter(read_bin(bins[part]) if part < len(bins) else ())
    held, size = [], 0
    for b in work:
        held.append(b)
        size += b.nbytes
        if size >= TRIGGER_HOLD_BYTES:
            break
    rows = [v for b in batches for v in b.column(0).to_pylist()]
    if rows == [part]:
        yield from held
        yield from work
        return
    del held, work
    for k, v in before.items():
        registry[k]._value = v
    for j in rows:
        yield from read_bin(bins[j])


def decode_file(
    path: str,
    preds: list[tuple],
    names: list[str],
    keyset: pa.Array | None = None,
    key_col: str = "doc_id",
    stored: dict[str, str | None] | None = None,
    coltypes: dict[str, str] | None = None,
    accs: tuple = (None, None, None),
):
    """Executor side of a stripe-file read: stream one data file's
    (blob, footer) row groups through decode_blob_batches (under its
    column map `stored`), then drop the rows whose `key_col` is in
    `keyset` (the keys of the file's merge-on-read delete set). Predicate
    and key columns not in `names` are decoded for the filters and
    dropped after."""
    nk = keyset is not None and key_col not in names
    inner = names + [key_col] if nk else names
    read_cols = list(dict.fromkeys(inner + [p[1] for p in preds]))
    with pq.ParquetFile(path) as pf:
        for rb in decode_blob_batches(
            pf.iter_batches(columns=["blob", "footer"]), preds, read_cols,
            inner, *accs, stored=stored, coltypes=coltypes,
        ):
            if keyset is not None:
                # null keys are kept: is_in(null)=null -> fill False ->
                # invert True (a null key equals no delete key, as in SQL)
                hit = pc.fill_null(pc.is_in(rb.column(key_col), value_set=keyset), False)
                rb = rb.filter(pc.invert(hit))
                if nk:
                    rb = rb.select(names)
            yield rb


EXPORT_META_SCHEMA = "pid string, stripes long, file string, n_rows long, orc_bytes long"


def export_orc(
    spark: SparkSession,
    warehouse_path: str,
    out_dir: str,
    snapshot: str | None = None,
) -> DataFrame:
    """Interchange sink: write the committed warehouse as reference-readable
    ORC files (orcexport.OrcFileWriter — liborc stream conventions,
    conformance-tested). One MULTI-STRIPE file per logical partition — the
    real ORC layout, O(#partitions) files rather than a file-per-stripe
    explosion — streamed executor-side stripe by stripe (memory stays one
    stripe) with tmp + atomic rename (idempotent under retry, same model as
    the encode sink); only O(#partitions) metadata rows return to the
    driver. A user of the reference ORC stack can consume the warehouse
    with any ORC reader after this — no engine code needed."""
    wh = Warehouse(warehouse_path)
    snapshot = wh.resolve_snapshot(snapshot)
    m = wh.read_manifest(snapshot) or {}
    # the exporter streams RAW stripe blobs, so snapshots whose correct
    # read requires merge-on-read state would export WRONG files: deleted
    # rows would resurrect, renamed columns would ship under per-file
    # stale names. Fold the state flat first: a rewrite writes current names.
    if m.get("delete_files"):
        raise ValueError(
            f"snapshot {snapshot!r} carries merge-on-read delete files — "
            "exporting raw stripes would resurrect deleted rows; run "
            "maintenance.materialize_deletes first"
        )
    entries = plan_table(m, []) if m else []
    if any(stored is not None for _, _, stored in entries):
        raise ValueError(
            f"snapshot {snapshot!r} has unmaterialized schema evolution — "
            "raw stripes store per-file WRITE-TIME column names; rewrite "
            "via compact_snapshots(mode='reencode') (or "
            "materialize_deletes) so every stream carries current names"
        )
    if not entries:
        raise ValueError(f"no committed files for snapshot {snapshot}")
    os.makedirs(out_dir, exist_ok=True)

    def export_bin(numbered):
        from .orcexport import OrcFileWriter

        # the output name is (pid, bin)-scoped: a retried task, or a scan
        # task that starts this bin and drops it (pipeline.scan_task),
        # regenerates the identical name (idempotent), and files of one pid
        # packed into different bins never race on a rename
        task_part, entries = numbered
        writers: dict[str, tuple[OrcFileWriter, str, str]] = {}
        metas = []

        def finish(pid: str) -> None:
            w, tmp, final = writers.pop(pid)
            n_rows, n_stripes = w.n_rows, len(w.stripes)
            w.close()
            os.replace(tmp, final)
            metas.append(
                {
                    "pid": pid,
                    "stripes": n_stripes,
                    "file": final,
                    "n_rows": n_rows,
                    "orc_bytes": os.path.getsize(final),
                }
            )

        def batches():
            for path, _, _ in entries:
                with pq.ParquetFile(path) as pf:
                    yield from pf.iter_batches(columns=["pid", "blob", "footer"])

        try:
            for batch in batches():
                for i in range(batch.num_rows):
                    pid = str(batch.column("pid")[i])
                    footer = footer_from_json(str(batch.column("footer")[i]))
                    rb = decode_stripe(batch.column("blob")[i].as_buffer(), footer)
                    if pid not in writers:
                        final = os.path.join(
                            out_dir, f"{pid.replace('/', '_')}-t{task_part}.orc"
                        )
                        tmp = final + f".inprogress-{uuid.uuid4().hex[:8]}"
                        writers[pid] = (OrcFileWriter(tmp), tmp, final)
                    writers[pid][0].add_stripe(rb)
            for pid in list(writers):
                finish(pid)
        finally:
            # a failed/retried task must not orphan its uuid-named temp
            # files (each attempt uses a fresh uuid, so nothing else would
            # ever clean them up) — drop any writer that did not finish
            for w, tmp, _ in writers.values():
                try:
                    w.fh.close()
                finally:
                    if os.path.exists(tmp):
                        os.remove(tmp)
        if metas:
            yield pa.RecordBatch.from_pylist(metas)

    bins = file_bins(file_sizes(m), entries, spark.sparkContext.defaultParallelism)
    return scan_bins(spark, list(enumerate(bins)), export_bin, EXPORT_META_SCHEMA)


def import_orc(
    spark: SparkSession,
    orc_path: str,
    warehouse_path: str,
    snapshot: str,
    **encode_kw,
) -> dict:
    """Interchange source, symmetric with export_orc: ingest standard ORC
    files — written by ANY conforming writer (liborc, Spark's orc-core, or
    this engine's own exporter) — into the warehouse through the same
    exchange encode pipeline. `spark.read.orc` (the JVM orc-core
    reader) does the container/stream decode with full predicate/schema
    handling; everything downstream (salting, rebalance, codec choice,
    resume, blooms) is exactly encode_table, so a reference ORC user's
    existing data migrates in with one call and no parquet detour.
    `encode_kw` forwards encode_table's layout/tuning knobs (key_col,
    source_col, weight_col, salt_buckets, stripe_tokens, ...); returns the
    committed manifest."""
    return encode_table(
        spark, spark.read.orc(orc_path), warehouse_path, snapshot, **encode_kw
    )


def _multiset_diff_counts(a: DataFrame, b: DataFrame, cols: list[str]) -> dict:
    """Exact multiset difference via union with +1/-1 tags — one shuffle and
    one pass over each side (semantically identical to symmetric exceptAll,
    the probe-verified pattern from SURVEY.md [PROBE-4], at half the cost)."""
    diff = (
        a.select(*cols).withColumn("_tag", F.lit(1))
        .unionAll(b.select(*cols).withColumn("_tag", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("_tag").alias("_d"))
        .where(F.col("_d") != 0)
    )
    row = diff.agg(
        F.coalesce(F.sum(F.when(F.col("_d") > 0, F.col("_d"))), F.lit(0)).alias("missing"),
        F.coalesce(F.sum(F.when(F.col("_d") < 0, -F.col("_d"))), F.lit(0)).alias("extra"),
    ).collect()[0]
    return {"missing": int(row["missing"]), "extra": int(row["extra"])}


def row_digest(cols: list[str]):
    """The verify row digest: xxhash64 over the row's JSON rendering.
    8 bytes/row cross the verify shuffle.

    The JSON pass is NOT optional: hashing raw columns directly makes
    nulls identity elements in xxhash64's fold, so whole collision CLASSES
    appear — ('a', NULL) == ('a', array()), [1, NULL] == [1],
    ('x', NULL) == (NULL, 'x') — exactly the shapes a PRESENT-stream
    decode bug would produce, silently passing the gate. JSON
    canonicalizes structure first, so only random 64-bit collisions
    remain, and those are sound for CORRUPTION detection in a multiset
    diff: collisions between two different correct rows cancel on both
    sides harmlessly; a corrupted row escapes only if its digest equals
    its own original's — 2^-64 per corrupted row, independent of corpus
    size (no birthday effect). On a digest mismatch the exact full-row
    diff re-runs anyway (verify_roundtrip)."""
    return F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))


def verify_roundtrip(
    original: DataFrame,
    decoded: DataFrame,
    decoded_digest: DataFrame | None = None,
) -> dict:
    """Bit-equality gate (BASELINE.json:15): per-row token-array equality.

    Hash-first: each side is reduced to an 8-byte xxhash64 row digest
    (row_digest above — JVM-side, narrow) BEFORE the multiset-diff
    shuffle, so the verify exchange moves 8 bytes/row instead of the full
    token payload (~100× less shuffle at typical document lengths; at 100 TB
    the verify shuffle would otherwise be 2× corpus bytes). On a digest
    mismatch the exact full-row multiset diff re-runs as the drilldown so
    reported missing/extra counts stay exact row counts, not digest counts.

    `decoded_digest` (a single `_rd` column) lets a caller that already
    materialized the decoded side's digests — e.g. the flagship summary,
    which persists one narrow pass over the decode — share that pass instead
    of decoding the warehouse a second time."""
    cols = decoded.columns

    def digested(df: DataFrame) -> DataFrame:
        return df.select(row_digest(cols).alias("_rd"))

    dec_d = decoded_digest if decoded_digest is not None else digested(decoded)
    res = _multiset_diff_counts(digested(original), dec_d, ["_rd"])
    if res["missing"] or res["extra"]:
        res = _multiset_diff_counts(original, decoded, cols)
    return {**res, "ok": res["missing"] == 0 and res["extra"] == 0}

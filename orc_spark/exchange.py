"""The encode exchange: rows reach their pid's encoder through Arrow files
in the warehouse instead of a Spark row shuffle.

  map     one task per input split. A plain parquet scan is read in the
          task with pyarrow (its row groups, packed by size); any other
          DataFrame arrives through `mapInArrow`. The task computes each
          row's pid in numpy (`pid_groups`), clusters its rows by pid with
          one stable argsort and one row gather (`take_rows`: the token
          lists are gathered over their offsets, not by Arrow's list
          take) and writes one Arrow IPC file under the exchange
          directory, one record batch (a segment) per pid per chunk. It
          returns one metadata dict per segment.
  plan    the driver sums each pid's token mass from those rows, splits
          pids heavier than `max_pid_tokens` into `@sub` pids, drops
          pids a resume adopted and packs the rest into reduce tasks,
          heaviest first (`plan_reduce`).
  reduce  task i memory-maps its pids' segments in map order
          (`read_segments`) and feeds them to the stripe encoder one pid
          at a time.

The tokstripe format writers (datasource.py) run the same map and reduce
inside each write task, with one reduce unit list and no resume.

The pid rule is Spark's `concat_ws('#', source, pmod(xxhash64(key), S))`
and the split rule `concat_ws('@', pid, pmod(xxhash64(key, 1), k))`, with
`codecs.xxh64` as the hash, so pid names are the same as a Spark
expression would give them (tests/test_exchange.py keeps that expression as
the oracle). Every function here is deterministic for a given input and
input split, so the reduce side sees each pid's rows in the same order on
every run.
"""

from __future__ import annotations

import os
import time
import uuid
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .codecs.xxh64 import HASHABLE, hash_int, xxhash64

MAP_META_SCHEMA = (
    "task long, file string, pid string, seg long, n_rows long, tokens long, "
    "read_s double, hash_s double, sort_s double, write_s double, cpu_s double"
)
# a map task's wall seconds per step, and its process CPU seconds (cpu_s)
MAP_TIMERS = ("read_s", "hash_s", "sort_s", "write_s", "cpu_s")

# Arrow bytes a map task clusters at once: one sort, one segment per pid
MAP_CHUNK_BYTES = 128 << 20

# source types whose cast to string Spark's concat_ws and Arrow's agree on
_SOURCE_TYPES = ("string", "tinyint", "smallint", "int", "bigint", "boolean")


def check_layout(schema, key_col: str, source_col: str | None) -> None:
    """Refuse, before any job runs, a layout the pid kernel cannot hash."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    if types.get(key_col) not in HASHABLE:
        raise ValueError(
            f"key column {key_col!r} ({types.get(key_col, 'missing')}) must be "
            f"one of {', '.join(HASHABLE)} to be hashed into a pid"
        )
    if source_col is not None and types.get(source_col) not in _SOURCE_TYPES:
        raise ValueError(
            f"source column {source_col!r} ({types.get(source_col, 'missing')}) "
            f"must be one of {', '.join(_SOURCE_TYPES)}"
        )


def pid_groups(
    tbl: pa.Table | pa.RecordBatch, salt: int, key_col: str, source_col: str | None
) -> tuple[np.ndarray, list[str]]:
    """(group of each row, pid name of each group): the pid of row i is
    names[groups[i]]. Groups are numbered in pid-code order, so a stable
    argsort of `groups` clusters the rows by pid and keeps their order."""
    bucket = np.mod(xxhash64(tbl.column(key_col)), salt)
    if source_col is None:
        src, labels = np.zeros(len(bucket), np.int64), [""]
    else:
        col = tbl.column(source_col)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if not (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)):
            col = col.cast(pa.string())
        enc = col.dictionary_encode()
        labels = enc.dictionary.to_pylist() + [None]
        # concat_ws skips a null source: its pid is the bare bucket
        src = enc.indices.fill_null(len(labels) - 1).to_numpy().astype(np.int64)
    codes, groups = np.unique(src * salt + bucket, return_inverse=True)
    names = [
        f"{b}" if labels[s] is None else f"{labels[s]}#{b}"
        for s, b in zip((codes // salt).tolist(), (codes % salt).tolist())
    ]
    return groups, names


def take_rows(tbl: pa.Table, order: np.ndarray) -> pa.Table:
    """tbl.take(order) with every column in one chunk. A list column of a
    numeric child with no nulls at either level is gathered over its
    offsets: each output row's values are one contiguous slice of the
    child, so the new child is one np.concatenate of those slices and the
    new offsets a cumsum of their lengths, about 3x faster than Arrow's
    generic list take on an 8192-row t-bench group. Any other column
    (lists with nulls, large or nested lists, strings, scalars) uses
    Arrow's take."""
    cols = []
    for col in tbl.columns:
        t = col.type
        if (
            pa.types.is_list(t)
            and (pa.types.is_integer(t.value_type) or pa.types.is_floating(t.value_type))
            and col.null_count == 0
            and not any(c.values.null_count for c in col.chunks)
        ):
            cols.append(_gather_list(col, order))
        else:
            cols.append(col.take(order).combine_chunks())
    return pa.Table.from_arrays(cols, schema=tbl.schema)


def _gather_list(col: pa.ChunkedArray, order: np.ndarray) -> pa.ListArray:
    chunks = col.chunks
    if not chunks:
        return pa.array([], type=col.type)
    vals = [c.values.to_numpy() for c in chunks]
    offs = [c.offsets.to_numpy() for c in chunks]
    starts = np.concatenate([o[:-1] for o in offs])[order]
    ends = np.concatenate([o[1:] for o in offs])[order]
    chunk = np.searchsorted(np.cumsum([len(c) for c in chunks]), order, side="right")
    new = np.zeros(len(order) + 1, dtype=np.int64)
    np.cumsum(ends - starts, out=new[1:])
    parts = [vals[c][s:e] for c, s, e in zip(chunk.tolist(), starts.tolist(), ends.tolist())]
    values = np.concatenate(parts) if parts else vals[0][:0]
    return pa.ListArray.from_arrays(
        pa.array(new.astype(np.int32)), pa.array(values, type=col.type.value_type),
        type=col.type,
    )


def sub_of(keys, k: int) -> np.ndarray:
    """Each row's sub-pid index under a k-way split: pmod(xxhash64(key, 1), k)."""
    h = xxhash64(keys).view(np.uint64)
    return np.mod(hash_int(np.ones(len(h), np.int64), h).view(np.int64), k)


def weights(tbl, weight_col: str | None) -> np.ndarray:
    """Token mass of each row (1 per row without a weight column)."""
    if weight_col is None:
        return np.ones(tbl.num_rows, np.int64)
    return np.asarray(pc.fill_null(tbl.column(weight_col), 0), dtype=np.int64)


def parquet_splits(df, slots: int) -> list[list[tuple[str, int]]] | None:
    """Map-task splits of a plain local parquet scan: its files' row groups
    packed by size into >= `slots` splits, or None when the optimized plan
    is anything but a bare parquet relation without partition columns (a
    projection, filter, join or partitioned table goes through mapInArrow),
    or when a file lacks one of its columns by exact name (Spark's own
    reader null-fills or matches case-insensitively there)."""
    from .pipeline import pack_bins

    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or not rel.partitionSchema().isEmpty()
    ):
        return None
    urls = [urlparse(u) for u in df.inputFiles()]
    if any(u.scheme not in ("", "file") for u in urls):
        return None
    size, cols = {}, set(df.columns)
    for u in urls:
        pf = pq.ParquetFile(unquote(u.path))
        if not cols <= set(pf.schema_arrow.names):
            return None
        for i in range(pf.metadata.num_row_groups):
            size[(unquote(u.path), i)] = pf.metadata.row_group(i).total_byte_size
    if not size:
        return None
    n = min(len(size), max(slots, -(-sum(size.values()) // MAP_CHUNK_BYTES)))
    return [sorted(e[0] for e in b) for b in pack_bins(size, [(u,) for u in size], n)]


def read_split(split: list[tuple[str, int]], target: pa.Schema):
    """The row groups of one parquet split as tables of the DataFrame's
    Arrow schema."""
    files = {}
    for path, rg in split:
        if path not in files:
            files[path] = pq.ParquetFile(path)
        yield files[path].read_row_group(rg, columns=target.names).cast(target)


def map_task(
    tables, task: int, stage: str, salt: int, key_col: str,
    source_col: str | None, weight_col: str | None, skip: frozenset,
):
    """One map task: cluster `tables` (an iterator of Arrow tables or
    batches) by pid, chunk by chunk (a stable argsort of the pid groups,
    then `take_rows`), into one IPC file of per-pid segments under
    `stage`. Rows of a pid in `skip` (adopted) are dropped. Yields
    one MAP_META_SCHEMA dict per segment; the task's timers repeat on each."""
    cpu0 = time.process_time()
    t = dict.fromkeys(MAP_TIMERS, 0.0)
    path = os.path.join(stage, f"map-{task:05d}-{uuid.uuid4().hex[:8]}.arrow")
    writer, rows, seg = None, [], 0
    chunk, nbytes = [], 0

    def cluster(chunk):
        nonlocal writer, seg
        tbl = pa.Table.from_batches(
            [b for c in chunk for b in (c.to_batches() if isinstance(c, pa.Table) else [c])]
        )
        if tbl.num_rows == 0:
            return
        t0 = time.perf_counter()
        groups, names = pid_groups(tbl, salt, key_col, source_col)
        t1 = time.perf_counter()
        t["hash_s"] += t1 - t0
        order = np.argsort(groups, kind="stable")
        tbl = take_rows(tbl, order)
        groups = groups[order]
        csum = np.r_[0, np.cumsum(weights(tbl, weight_col))]
        cuts = np.r_[0, np.flatnonzero(groups[1:] != groups[:-1]) + 1, len(groups)]
        rb = tbl.to_batches()[0]
        t2 = time.perf_counter()
        t["sort_s"] += t2 - t1
        for s, e in zip(cuts[:-1].tolist(), cuts[1:].tolist()):
            pid = names[groups[s]]
            if pid in skip:
                continue
            if writer is None:
                writer = pa.ipc.new_file(path, tbl.schema)
            writer.write_batch(rb.slice(s, e - s))
            rows.append({"task": task, "file": path, "pid": pid, "seg": seg,
                         "n_rows": e - s, "tokens": int(csum[e] - csum[s])})
            seg += 1
        t["write_s"] += time.perf_counter() - t2

    it = iter(tables)
    while True:
        t0 = time.perf_counter()
        b = next(it, None)
        t["read_s"] += time.perf_counter() - t0
        if b is None:
            break
        chunk.append(b)
        nbytes += b.nbytes
        if nbytes >= MAP_CHUNK_BYTES:
            cluster(chunk)
            chunk, nbytes = [], 0
    if chunk:
        cluster(chunk)
    if writer is not None:
        t0 = time.perf_counter()
        writer.close()
        t["write_s"] += time.perf_counter() - t0
    t["cpu_s"] = time.process_time() - cpu0
    for r in rows:
        yield {**r, **t}


def plan_reduce(
    segments, max_pid_tokens: int | None, skip: set, n_tasks: int
) -> list[list[tuple]]:
    """The driver's plan from the map rows: each pid's token mass, the
    split of every pid heavier than `max_pid_tokens` into ceil(mass/cap)
    `@sub` pids (each taken at mass/k), the pids in `skip` dropped, and the
    rest packed heaviest first into at most `n_tasks` reduce tasks. A
    reduce unit is (pid, sub, k, [(file, seg), ...] of its base pid in map
    order); sub and k are None for a pid that is not split."""
    from .pipeline import pack_bins

    segs: dict[str, list] = {}
    mass: dict[str, int] = {}
    for r in sorted(segments, key=lambda r: (r["task"], r["seg"])):
        segs.setdefault(r["pid"], []).append((r["file"], r["seg"]))
        mass[r["pid"]] = mass.get(r["pid"], 0) + r["tokens"]
    splits = {
        p: -(-m // max_pid_tokens)
        for p, m in mass.items()
        if max_pid_tokens and m > max_pid_tokens
    }
    units, load = [], {}
    for p in sorted(segs):
        k = splits.get(p)
        for name, sub in ([(f"{p}@{s}", s) for s in range(k)] if k else [(p, None)]):
            if name not in skip:
                units.append((name, sub, k, segs[p]))
                load[name] = mass[p] / (k or 1)
    return pack_bins(load, units, min(len(units), n_tasks))


def read_segments(units, key_col: str, read_s: dict):
    """Stream a reduce task's units as (pid, Arrow batches) groups: each
    unit's segments in map order, memory-mapped, a split unit keeping only
    its sub-pid's rows. Seconds spent here add to read_s[pid]."""
    files = {}

    def batches(name, sub, k, segs):
        for path, seg in segs:
            t0 = time.perf_counter()
            if path not in files:
                files[path] = pa.ipc.open_file(pa.memory_map(path))
            rb = files[path].get_batch(seg)
            if k:
                rb = rb.filter(pa.array(sub_of(rb.column(key_col), k) == sub))
            read_s[name] = read_s.get(name, 0.0) + time.perf_counter() - t0
            if rb.num_rows:
                yield rb

    for unit in units:
        yield unit[0], batches(*unit)

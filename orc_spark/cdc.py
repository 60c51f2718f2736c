"""Change-data-capture — the one answer to "which commits change rows".

Every reader of row changes plans through this module: the batch
changelog (`changes_between`), the tokstripe CDC stream
(`readStream.option("mode", "cdc")`) and the append stream (the default
`readStream`). Each commit's manifest records what it did
(`operation(m)`), and `plan_changes` reads that record one way for all of
them (Delta Lake's rule: the log entry, not a diff against a neighbour,
says what a commit changed):

  * append  — INSERTS every file of the commit;
  * upsert  — INSERTS only its new files (partition seq == the upsert's
    seq), plus the DELETE pre-images of the keys it replaced;
  * delete  — DELETE pre-images only (it shares its parent's files);
  * evolve / replace (compaction, materialization) change no logical
    rows and yield nothing.

DELETE pre-images are the rows as they were LAST VISIBLE: the commit's new
delete files (those its recorded parent — `delete_parent` /
`upsert_parent` — does not list) select keys out of the PARENT's files,
minus the keys the parent's own applicable deletes already hide. One size
rule, deletes.INLINE_DELETE_MAX, bounds the work: at most that many new
keys are loaded on the driver to bloom/range-prune the parent's files
(above it every parent file is a task) and prune each stripe in the
worker (above it the worker filters decoded rows with an exact `is_in`
mask). The keys load in the worker that reads the task, and the parent's
deletes load there only where they meet them, so a pre-image costs
memory in the commit's own key count, never in the parent's accumulated
deletes.

Every task reads under the BOUND schema (to_snapshot's, or the stream's):
the planner maps its file to the bound {name: field_id} through the IDs
of the manifest listing it (evolution.stored_names), so a renamed column
reads forward and a column the file lacks null-fills.

`changes_between(spark, wh, from_snapshot, to_snapshot)` returns every row
change committed AFTER `from_snapshot` up to and including `to_snapshot`,
as a DataFrame of the table's columns (in `to_snapshot`'s schema) plus:

    _change_type      'insert' | 'delete'  (an upsert's updated key emits
                      the old version as delete + the new as insert, the
                      classic changelog pair)
    _commit_snapshot  the snapshot that made the change
    _commit_ordinal   its commit-log position (the stream offset)

An EXPIRED snapshot (or expired parent) inside a changelog range is an
error — its pre-images are gone, exactly Iceberg's
incremental-read-past-expired failure; the append stream skips it.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import deletes as _deletes
from .warehouse import Warehouse, current_ids

NO_CHANGE = ("evolve", "replace")
TAG_COLS = "_change_type string, _commit_snapshot string, _commit_ordinal int"
TAG_NAMES = ["_change_type", "_commit_snapshot", "_commit_ordinal"]


def operation(m: dict) -> str:
    """How a snapshot came to be (Iceberg's snapshot operation): append
    (encode / stream / import), delete or upsert (deletes.py), evolve
    (evolution.py) or replace (compaction / materialization,
    maintenance.py)."""
    if m.get("compacted_from") or m.get("materialized_from"):
        return "replace"
    return m.get("operation") or "append"


class ChangeTask(NamedTuple):
    """One data file to decode for one commit's change."""

    file: str
    size: int                    # enc_bytes, for bin packing
    dels: tuple[str, ...]        # deletes applicable to `file` where it is read
    change: str                  # 'insert' | 'delete'
    snap: str
    ordinal: int
    stored: dict | None          # its column map (evolution.stored_names)
    key_col: str
    keys_from: tuple[str, ...] = ()  # pre-images: the commit's new delete files


def _tasks(m, files, bound, change, snap, ordinal, key_col, keys_from=()):
    from .evolution import column_maps
    from .pipeline import file_sizes

    size, maps = file_sizes(m), column_maps(m, bound)
    return [
        ChangeTask(f, size[f], appl, change, snap, ordinal, maps[f], key_col,
                   keys_from)
        for f, appl in _deletes.applicable_deletes(m, files).items()
    ]


def _pre_images(wh, m, bound, snap, ordinal, key_col) -> list[ChangeTask]:
    from .pipeline import plan_scan_files

    parent = m.get("delete_parent") or m.get("upsert_parent")
    pm = wh.read_manifest(parent) if parent else None
    if pm is None:
        raise ValueError(
            f"parent {parent!r} of {snap!r} is expired — CDC pre-images "
            "are gone"
        )
    old = set(_deletes.delete_files_of(pm))
    new = tuple(p for p in _deletes.delete_files_of(m) if p not in old)
    if not new:
        return []
    files = [p["file"] for p in pm["partitions"].values()]
    if _deletes.count_delete_keys(list(new)) <= _deletes.INLINE_DELETE_MAX:
        keys = _deletes.load_delete_keys(list(new), key_col).drop_null()
        files = plan_scan_files(pm, [("in", key_col, keys.to_pylist())]) \
            if len(keys) else []
    return _tasks(pm, files, bound, "delete", snap, ordinal, key_col, new)


def plan_changes(
    wh: Warehouse, commits, bound: dict, cdc: bool = True
) -> list[ChangeTask]:
    """The change tasks of `commits`, (ordinal, snapshot) commit-log
    entries, each file mapped to the `bound` {name: field_id} it is read
    under (see module docstring). `cdc=False` is the append stream's
    view: inserts only, and expired commits are skipped instead of
    raising."""
    tasks: list[ChangeTask] = []
    for ordinal, snap in commits:
        m = wh.read_manifest(snap)
        if m is None:
            if cdc:
                raise ValueError(
                    f"snapshot {snap!r} (ordinal {ordinal}) inside the CDC "
                    "range is expired — its row pre-images are gone"
                )
            continue
        op = operation(m)
        if op in NO_CHANGE:
            continue
        key_col = (m.get("layout") or {}).get("key_col", "doc_id")
        if cdc and op in ("delete", "upsert"):
            tasks += _pre_images(wh, m, bound, snap, ordinal, key_col)
        if op == "delete":
            continue
        files = [
            p["file"] for p in m["partitions"].values()
            if op != "upsert" or p.get("seq", 0) == m.get("seq")
        ]
        tasks += _tasks(m, files, bound, "insert", snap, ordinal, key_col)
    return tasks


def read_tasks(tasks, schema: dict, tag: bool = True):
    """Executor side of every change read: decode each task's file
    (pipeline.decode_file) into Arrow batches of the bound `schema` (name
    -> type) under its column map, then, with `tag`,
    append the TAG_NAMES columns. A pre-image keeps only its commit's keys
    the parent still showed; any other task drops its applicable
    deletes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .pipeline import decode_file

    names = list(schema)
    visible, masks = {}, {}

    def visible_keys(t):
        # the commit's new keys minus those the parent's deletes already
        # hide in this file, which load only where they meet the new keys
        if (t.keys_from, t.dels) not in visible:
            keys = _deletes.load_delete_keys(list(t.keys_from), t.key_col).drop_null()
            if t.dels and len(keys):
                gone = _deletes.load_delete_keys(list(t.dels), t.key_col, among=keys)
                keys = keys.filter(pc.invert(pc.is_in(keys, value_set=gone)))
            visible[t.keys_from, t.dels] = keys
        return visible[t.keys_from, t.dels]

    for t in tasks:
        preds, mask, keep = [], None, None
        if t.keys_from:
            keep = visible_keys(t)
            if not len(keep):
                continue
            if len(keep) <= _deletes.INLINE_DELETE_MAX:
                # few enough to prune stripes by stats and bloom
                preds, keep = [("in", t.key_col, keep.to_pylist())], None
        elif t.dels:
            # an insert's own commit's deletes are seq-scoped away from its
            # new files, so only unscoped (legacy) entries land here
            if t.dels not in masks:
                masks[t.dels] = _deletes.load_delete_keys(list(t.dels), t.key_col)
            mask = masks[t.dels]
        for rb in decode_file(
            t.file, preds, names, mask, t.key_col, t.stored, schema,
        ):
            if keep is not None:
                rb = rb.filter(pc.is_in(rb.column(t.key_col), value_set=keep))
            if tag:
                n = rb.num_rows
                rb = pa.RecordBatch.from_arrays(
                    rb.columns + [
                        pa.array([t.change] * n, pa.string()),
                        pa.array([t.snap] * n, pa.string()),
                        pa.array([t.ordinal] * n, pa.int32()),
                    ],
                    names=names + TAG_NAMES,
                )
            yield rb


def changes_between(
    spark: SparkSession,
    warehouse_path: str,
    from_snapshot: str,
    to_snapshot: str | None = None,
) -> DataFrame:
    """The changelog from (exclusive) `from_snapshot` to (inclusive)
    `to_snapshot` (default CURRENT): one manifest-driven scan of every
    change task in the range. See module docstring."""
    from .pipeline import _spark_type_str, file_bins, scan_bins

    wh = Warehouse(warehouse_path)
    to_snapshot = wh.resolve_snapshot(to_snapshot)
    from_snapshot = wh.resolve_snapshot(from_snapshot)
    log = wh.commit_log()
    try:
        i_from, i_to = log.index(from_snapshot), log.index(to_snapshot)
    except ValueError as e:
        raise ValueError(f"snapshot not in commit log: {e}") from None
    if i_from > i_to:
        raise ValueError(
            f"{from_snapshot!r} (ordinal {i_from}) is newer than "
            f"{to_snapshot!r} (ordinal {i_to})"
        )
    to_m = wh.read_manifest(to_snapshot)
    if not to_m:
        raise ValueError(f"no manifest for {to_snapshot!r}")
    if not wh.read_manifest(from_snapshot):
        raise ValueError(f"no manifest for {from_snapshot!r} (expired?)")
    schema = to_m["schema"]
    commits = list(enumerate(log))[i_from + 1:i_to + 1]
    tasks = plan_changes(wh, commits, current_ids(to_m))
    bins = file_bins(
        {t.file: t.size for t in tasks}, tasks,
        spark.sparkContext.defaultParallelism,
    )
    cols = ", ".join(f"{n} {_spark_type_str(t)}" for n, t in schema.items())
    return scan_bins(
        spark, bins, lambda b: read_tasks(b, schema), f"{cols}, {TAG_COLS}"
    )

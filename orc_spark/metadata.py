"""Iceberg-style metadata tables over a tokstripe warehouse.

Iceberg exposes table state as queryable relations (`tbl.snapshots`,
`tbl.files`, `tbl.history` — the inspection surface operators live on for
audits, cost accounting, and debugging); these are the engine's analogs,
built purely from the warehouse's commit log + per-snapshot JSON manifests.
Producing them costs O(metadata) driver-side work — one manifest read per
snapshot, never a data-file open — exactly like Iceberg metadata planning,
so they stay cheap at 10^12-row scale: manifest size tracks #partitions,
not #rows, and the engine caps partition count by design (salted pids).
Results come back as real DataFrames so they compose with the relational
surface (join a files table against prune metrics, filter snapshots by
size, feed a maintenance policy).

These relations also surface the per-partition lineage + throughput metrics
the encode pipeline records (n_rows / n_tokens / enc_bytes / encode_s /
tokens_per_s per pid — the north rule's "each partition records lineage
plus encode/decode throughput metrics"), making the bookkeeping itself
queryable and therefore gate-able: `warehouse_snapshots` (flagship.py)
hash-verifies these numbers against a DuckDB recomputation from the raw
input, so metric drift is a correctness failure, not a logging bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .cdc import operation
from .warehouse import Warehouse

SNAPSHOTS_SCHEMA = (
    "ordinal int, snapshot_id string, parent string, status string, "
    "operation string, n_partitions long, n_stripes long, n_rows long, "
    "n_tokens long, enc_bytes long, committed_at double"
)

FILES_SCHEMA = (
    "snapshot_id string, pid string, file string, stripes long, "
    "n_rows long, n_tokens long, enc_bytes long, encode_s double, "
    "tokens_per_s double, min_key string, max_key string"
)


def _opt_int(v):
    return int(v) if v is not None else None


def _opt_float(v):
    return float(v) if v is not None else None


def snapshots_table(spark: SparkSession, warehouse_path: str) -> DataFrame:
    """One row per commit-log entry, in commit order (Iceberg `snapshots` +
    `history` in one relation). `status` is 'current' for the snapshot
    CURRENT points at, 'committed' for other live snapshots, and 'expired'
    for log entries whose manifest has been removed by expire_snapshots —
    expired rows keep their ordinal (commit-log positions are stable: they
    are stream-reader offsets) but carry NULL counts."""
    wh = Warehouse(warehouse_path)
    current = wh.current_snapshot_id()
    rows = []
    for ordinal, snap in enumerate(wh.commit_log()):
        m = wh.read_manifest(snap)
        if m is None:
            rows.append((ordinal, snap, None, "expired",
                         None, None, None, None, None, None, None))
            continue
        parts = m.get("partitions", {})
        status = "current" if snap == current else "committed"
        rows.append((
            ordinal,
            snap,
            m.get("parent"),
            status,
            operation(m),
            len(parts),
            sum(int(p.get("stripes") or 0) for p in parts.values()),
            sum(int(p.get("n_rows") or 0) for p in parts.values()),
            sum(int(p.get("n_tokens") or 0) for p in parts.values()),
            sum(int(p.get("enc_bytes") or 0) for p in parts.values()),
            _opt_float(m.get("committed_at")),
        ))
    return spark.createDataFrame(rows, SNAPSHOTS_SCHEMA)


def files_table(
    spark: SparkSession,
    warehouse_path: str,
    snapshot: str | list[str] | None = None,
) -> DataFrame:
    """One row per (snapshot, pid) data file (Iceberg `files`). `snapshot`
    may be a name, a list of names, or None for the CURRENT snapshot.
    Key ranges come back as strings exactly as the manifest stores them
    (JSON-encoded for non-string key columns, '' when a partition recorded
    no range — the same cannot-exclude sentinel the pruner honors)."""
    wh = Warehouse(warehouse_path)
    if snapshot is None:
        snapshot = wh.current_snapshot_id()
        if snapshot is None:
            raise ValueError(f"no committed snapshot in {warehouse_path}")
    snaps = [snapshot] if isinstance(snapshot, str) else list(snapshot)
    snaps = [wh.resolve_snapshot(s) for s in snaps]
    rows = []
    for snap in snaps:
        m = wh.read_manifest(snap)
        if m is None:
            raise ValueError(f"snapshot {snap!r} has no manifest (expired?)")
        for pid in sorted(m.get("partitions", {})):
            p = m["partitions"][pid]
            rows.append((
                snap,
                pid,
                p.get("file"),
                _opt_int(p.get("stripes")),
                _opt_int(p.get("n_rows")),
                _opt_int(p.get("n_tokens")),
                _opt_int(p.get("enc_bytes")),
                _opt_float(p.get("encode_s")),
                _opt_float(p.get("tokens_per_s")),
                p.get("min_doc_id"),
                p.get("max_doc_id"),
            ))
    return spark.createDataFrame(rows, FILES_SCHEMA)


REFS_SCHEMA = (
    "name string, kind string, snapshot_id string, ordinal int, "
    "updated_at double"
)


def refs_table(spark: SparkSession, warehouse_path: str) -> DataFrame:
    """One row per named ref (Iceberg `refs`): name, tag|branch, target
    snapshot, its commit-log ordinal (NULL if the log somehow lacks it),
    and the ref's last update time. Pure driver-side metadata."""
    wh = Warehouse(warehouse_path)
    log = wh.commit_log()
    pos = {s: i for i, s in enumerate(log)}
    rows = [
        (name, r["kind"], r["snapshot"], pos.get(r["snapshot"]),
         float(r.get("updated_at") or 0.0))
        for name, r in wh.refs().items()
    ]
    return spark.createDataFrame(rows, REFS_SCHEMA)


def snapshot_as_of(
    warehouse_path: str,
    ordinal: int | None = None,
    timestamp: float | None = None,
) -> str:
    """Time travel (Iceberg `VERSION AS OF` / `TIMESTAMP AS OF`): resolve a
    commit-log ordinal, or the last snapshot committed at-or-before a unix
    `timestamp`, to its snapshot name — pass the result as `snapshot=` to
    decode_table / tokstripe. Pure metadata: the commit log orders
    snapshots, manifests carry `committed_at`. Merge-on-read deletes make
    this genuinely historical: a delete commits a NEW snapshot sharing the
    parent's data files (deletes.py), so the pre-delete ordinal still reads
    every row. Raises on expired targets (their data is gone) and on
    out-of-range requests."""
    if (ordinal is None) == (timestamp is None):
        raise ValueError("pass exactly one of ordinal / timestamp")
    wh = Warehouse(warehouse_path)
    log = wh.commit_log()
    if ordinal is not None:
        if not 0 <= ordinal < len(log):
            raise ValueError(f"ordinal {ordinal} out of range 0..{len(log) - 1}")
        snap = log[ordinal]
        if wh.read_manifest(snap) is None:
            raise ValueError(f"snapshot {snap!r} at ordinal {ordinal} is expired")
        return snap
    best = None
    for snap in log:
        m = wh.read_manifest(snap)
        if m is None:
            continue
        at = m.get("committed_at") or m.get("created_at") or 0.0
        if at <= timestamp:
            best = snap
    if best is None:
        raise ValueError(f"no snapshot committed at or before {timestamp}")
    return best

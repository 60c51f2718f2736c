"""Change-data-capture reads — the Iceberg changelog-scan analog.

`changes_between(spark, wh, from_snapshot, to_snapshot)` returns every row
change committed AFTER `from_snapshot` up to and including `to_snapshot`,
as a DataFrame of the table's columns (in `to_snapshot`'s schema — older
commits' files resolve through the evolution alias mapping) plus:

    _change_type      'insert' | 'delete'  (an upsert's updated key emits
                      the old version as delete + the new as insert, the
                      classic changelog pair)
    _commit_snapshot  the snapshot that made the change
    _commit_ordinal   its commit-log position (the stream offset)

Metadata does the planning, data reads stay bounded by what changed:

  * INSERTS of a commit = the data files it added (manifest diff against
    the previous visible commit) decoded directly — no full-table scan;
    an upsert's own seq-scoped delete never applies to them, so this is
    a plain decode of just the new files.
  * DELETES of a commit = the keys in its new delete files, emitted as
    the rows were LAST VISIBLE (decoded from the parent snapshot with an
    IN-set key predicate — bloom/range pruned point lookups, honoring the
    parent's own deletes). Delete keys load driver-side to build the
    predicate: fine for the operational deletes CDC serves; a delete of
    half the table is better consumed as a new base.
  * compaction / materialization / expiry / schema evolution / rollback
    commits change no logical rows and emit nothing; `stage` snapshots
    (upsert staging) are skipped — their rows emit through the upsert.
  * an EXPIRED snapshot inside the range is an error (its pre-images are
    gone), exactly Iceberg's incremental-read-past-expired failure.

Row-change semantics need the merge-on-read machinery (deletes.py) — on a
pre-deletes warehouse every commit is pure appends and CDC degrades to
"every commit's files are inserts", which is still exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .warehouse import Warehouse


def _to_schema_names(df: DataFrame, to_schema: dict, to_colmap: dict) -> DataFrame:
    """Rename/extend a parent-snapshot DataFrame into to_snapshot's schema:
    aliases rename forward, added columns null-fill, dropped columns drop."""
    cols = set(df.columns)
    out = []
    for n, t in to_schema.items():
        if n in cols:
            out.append(F.col(n))
            continue
        alias = next((a for a in (to_colmap or {}).get(n, ()) if a in cols), None)
        if alias is not None:
            out.append(F.col(alias).alias(n))
        else:
            from .pipeline import _spark_type_str

            out.append(F.lit(None).cast(_spark_type_str(t)).alias(n))
    return df.select(*out)


def changes_between(
    spark: SparkSession,
    warehouse_path: str,
    from_snapshot: str,
    to_snapshot: str | None = None,
) -> DataFrame:
    """The changelog from (exclusive) `from_snapshot` to (inclusive)
    `to_snapshot` (default CURRENT). See module docstring."""
    from . import deletes as _deletes

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
    to_schema = to_m["schema"]
    to_colmap = to_m.get("column_mapping")
    key_col = (to_m.get("layout") or {}).get("key_col", "doc_id")

    prev_snap = from_snapshot
    prev_m = wh.read_manifest(from_snapshot)
    if not prev_m:
        raise ValueError(f"no manifest for {from_snapshot!r} (expired?)")
    chunks: list[DataFrame] = []
    names = list(to_schema.keys())

    def tag(df, change, snap, ordinal):
        return df.select(
            *names,
            F.lit(change).alias("_change_type"),
            F.lit(snap).alias("_commit_snapshot"),
            F.lit(ordinal).alias("_commit_ordinal"),
        )

    for ordinal in range(i_from + 1, i_to + 1):
        snap = log[ordinal]
        m = wh.read_manifest(snap)
        if m is None:
            if snap.endswith("-stage"):
                continue  # upsert staging: rows emit through the dest
            raise ValueError(
                f"snapshot {snap!r} (ordinal {ordinal}) inside the CDC "
                "range is expired — its row pre-images are gone"
            )
        op = m.get("operation") or "append"
        if op in ("stage", "evolve") or m.get("compacted_from") \
                or m.get("materialized_from"):
            continue  # no logical row change

        # DELETES first (changelog order: old version out, new version in)
        prev_files = {p["file"] for p in prev_m["partitions"].values()}
        prev_dels = set(_deletes.delete_files_of(prev_m))
        new_dels = [
            p for p in _deletes.delete_files_of(m) if p not in prev_dels
        ]
        if new_dels:
            from .pipeline import decode_table

            keys = _deletes.load_delete_keys(new_dels, key_col).to_pylist()
            if keys:
                old = decode_table(
                    spark, warehouse_path, snapshot=prev_snap,
                    predicate=(key_col, keys),
                )
                chunks.append(
                    tag(_to_schema_names(old, to_schema, to_colmap),
                        "delete", snap, ordinal)
                )
        # INSERTS: the files this commit added
        new_files = [
            p["file"] for p in m["partitions"].values()
            if p["file"] not in prev_files
        ]
        if new_files:
            from .pipeline import scan_stripe_files

            # plain decode under to_snapshot's schema: its alias mapping
            # resolves older stored names, added columns null-fill
            ins = scan_stripe_files(
                spark, m, [(f, ()) for f in new_files], to_schema, names,
                colmap=to_colmap or None,
            )
            chunks.append(tag(ins, "insert", snap, ordinal))
        prev_snap, prev_m = snap, m

    if not chunks:
        from .pipeline import _spark_type_str

        empty = ", ".join(
            [f"{n} {_spark_type_str(t)}" for n, t in to_schema.items()]
            + ["_change_type string", "_commit_snapshot string",
               "_commit_ordinal int"]
        )
        return spark.createDataFrame([], empty)
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out

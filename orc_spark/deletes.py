"""Merge-on-read row-level deletes — the Iceberg v2 equality-delete analog.

Iceberg v2 deletes rows without rewriting data files: a delete commit
produces a NEW snapshot that references the SAME data files plus "delete
files" that readers merge at scan time (merge-on-read), and a later
rewrite materializes them. These are the engine's analogs, built on the
warehouse's manifest tree:

  * `delete_where(spark, wh, predicate)` never touches a data file. It
    computes the matching keys with a PRUNED scan (the predicate pushes
    down all three levels through `decode_table`, so only matching
    files/stripes are read), writes them as parquet delete files under
    `data/_deletes/`, and commits a NEW snapshot whose manifest shares the
    parent's `partitions` verbatim — zero data copy, exactly Iceberg's
    new-snapshot-same-files shape — with the accumulated `delete_files`
    list. The parent snapshot still reads the full table, so every delete
    is time-travelable (`metadata.snapshot_as_of`) and reversible
    (`Warehouse.rollback`).
  * Semantics are EQUALITY deletes on the table's layout key (Iceberg's
    equality delete files, not positional): every row whose key appears in
    a delete file is dropped at read time. On key-unique tables (the
    mandated doc_id layout) this is exact row deletion; on tables with
    duplicate keys it drops ALL rows of a matching key — Iceberg's
    documented equality-delete behavior, stated here so nobody is
    surprised.
  * `upsert(spark, wh, df_new)` is MERGE INTO on the layout key, built
    from the same two primitives Iceberg v2 uses: df_new encodes into NEW
    files at sequence number `max_seq + 1`, and its keys commit as a
    SEQ-SCOPED delete file ({'path','seq'} manifest entries) that readers
    merge only into files BELOW that seq — old versions vanish, the
    upsert's own files keep the new versions. `delete_where` writes the
    same {'path','seq'} entries, at a seq above every file the table
    holds then, so they apply to all of those files and to none a later
    upsert commits. Readers attach each
    file's applicable delete set to it (applicable_deletes), so mixed
    chains (delete → upsert → delete) read exactly in one scan.
  * Reads merge deletes one way. Every table read (`decode_table`, the
    tokstripe format) plans (file, applicable delete set) entries from the
    manifest alone; the task reading a file loads the keys of each
    distinct delete set of its bin once and drops matching rows with an
    arrow `is_in` mask inside the decode kernel — zero extra shuffle, no
    delete file opened on the driver, Iceberg's per-task equality-delete
    merge. The cost is memory: a task holds the delete keys of every file
    in its bin, so long delete chains are what `materialize_deletes` is
    for.
  * Every write here reads the table, so its one commit (on main, or on
    the branch for `branch=`) lands only if that ref's head is still the
    one the write read; otherwise it raises CommitConflict and publishes
    nothing (warehouse.py), so no concurrent write is silently lost.
  * Lifecycle is manifest-rooted like everything else: delete files are
    invisible until the manifest rename (a crash mid-`delete_where` leaves
    age-gated orphans that `vacuum_orphans` collects), `vacuum` treats
    manifest `delete_files` as reachable, `expire_snapshots` reference-
    checks shared files, and `compact_snapshots` refuses delete-bearing
    sources (blob concat would resurrect deleted rows) and points at
    `maintenance.materialize_deletes`, which rewrites through the full
    decode→encode pipeline and drops the delete files from the result.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import SparkSession, functions as F

from .warehouse import MAIN, Warehouse, check_ref_name

DELETES_DIRNAME = "_deletes"

# CDC's pre-image bound (cdc.py): a delete commit with at most this many
# new keys prunes its parent's files by them on the driver and its
# stripes by an IN predicate in the worker; above it every parent file is
# a task and the worker filters decoded rows exactly. Table reads do not
# use it: they always load delete keys per task.
INLINE_DELETE_MAX = 100_000


def deletes_dir(warehouse_path: str) -> str:
    return os.path.join(warehouse_path, "data", DELETES_DIRNAME)


def normalize_delete_entries(raw: list) -> list[tuple[str, int | None]]:
    """Manifest `delete_files` entries -> [(path, seq)]. Dict entries
    {'path','seq'} (what delete_where and upsert write) apply only to data
    files whose partition 'seq' is LOWER; a plain string entry has seq
    None = apply to EVERY data file. The seq scoping is Iceberg's, which is
    what lets an upsert's own new files carry the re-inserted keys the
    same commit deleted from the old files."""
    out: list[tuple[str, int | None]] = []
    for e in raw or []:
        if isinstance(e, str):
            out.append((e, None))
        else:
            out.append((e["path"], e.get("seq")))
    return out


def applicable_deletes(manifest: dict, files: list[str]) -> dict[str, tuple[str, ...]]:
    """Each data file's seq-scoped delete set: the delete-file paths a
    reader must merge into it (normalize_delete_entries' scoping rule — a
    plain entry applies to every file, a {'path','seq'} entry only to files
    whose partition seq is lower). Files of a delete-free manifest map to
    ()."""
    entries = normalize_delete_entries(manifest.get("delete_files") or [])
    seq_of = {p["file"]: p.get("seq", 0) for p in manifest["partitions"].values()}
    return {
        f: tuple(sorted(p for p, s in entries if s is None or s > seq_of.get(f, 0)))
        for f in files
    }


def delete_files_of(manifest: dict | None) -> list[str]:
    """Delete-file PATHS of a manifest (seq scoping stripped) — the
    reachability view expire/vacuum need."""
    return [p for p, _ in normalize_delete_entries(
        (manifest or {}).get("delete_files") or []
    )]


def max_seq(manifest: dict) -> int:
    """Highest sequence number in a manifest (partitions and delete
    entries); new upserts commit at max_seq + 1."""
    seqs = [p.get("seq", 0) for p in manifest.get("partitions", {}).values()]
    seqs += [s for _, s in normalize_delete_entries(
        manifest.get("delete_files") or []
    ) if s is not None]
    return max(seqs, default=0)


def count_delete_keys(files: list[str]) -> int:
    """Total rows across delete files from parquet footers only — an
    O(#files) sizing read (a commit's n_deleted, CDC's pre-image bound)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def load_delete_keys(files: list[str], key_col: str, among=None):
    """Materialize the delete-key column as ONE arrow array (in the worker
    for reads). Distinct not required —
    `is_in` semantics don't care about duplicates. With `among` (an arrow
    array), only those keys are kept, read batch by batch, so memory is
    bounded by `among` rather than by the delete files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    chunks, typ = [], None
    for f in files:
        with pq.ParquetFile(f) as pf:
            typ = pf.schema_arrow.field(key_col).type
            for b in pf.iter_batches(columns=[key_col]):
                k = b.column(0)
                chunks.append(
                    k if among is None else k.filter(pc.is_in(k, value_set=among))
                )
    # delete files of different writers may differ in the key field's
    # nullability, which concat_tables rejects: concatenate the arrays
    return pa.chunked_array(chunks, type=typ).combine_chunks()


def _write_delete_files(keys_df, warehouse_path: str, dest: str) -> list[str]:
    """Write a key DataFrame as parquet delete files under data/_deletes/:
    staged write, then atomic per-file renames to their final names. Files
    are invisible until some manifest lists them (a crash here leaves
    age-gated orphans for vacuum)."""
    ddir = deletes_dir(warehouse_path)
    os.makedirs(ddir, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=".staging-", dir=ddir)
    new_files: list[str] = []
    try:
        keys_df.write.mode("overwrite").parquet(staging)
        parts = sorted(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        for i, part in enumerate(parts):
            final = os.path.join(ddir, f"snap-{dest}-del-{i:05d}.parquet")
            os.replace(os.path.join(staging, part), final)
            new_files.append(final)
    finally:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    return new_files


def _base(wh: Warehouse, branch: str | None, snapshot: str | None) -> tuple[str, str | None, str]:
    """(ref, its head, the snapshot to read) of a write that reads the
    table: main and CURRENT, or `branch` and its head. An explicit
    `snapshot` is read instead of the head, and creates the branch at
    commit if it does not exist yet; the commit expects the head either
    way. A name no branch may take (check_ref_name; `main` among them) is
    refused."""
    if branch is None:
        head = wh.current_snapshot_id()
        return MAIN, head, head if snapshot is None else wh.resolve_snapshot(snapshot)
    check_ref_name(branch)
    r = wh.get_ref(branch)
    if r is not None and r["kind"] != "branch":
        raise ValueError(f"ref {branch!r} is a tag - tags are immutable")
    if r is None and snapshot is None:
        raise ValueError(
            f"branch {branch!r} does not exist - create it with "
            "Warehouse.set_ref(name, snapshot, kind='branch') or pass "
            "snapshot= to base the first branch write explicitly"
        )
    head = r and r["snapshot"]
    return branch, head, head if snapshot is None else wh.resolve_snapshot(snapshot)


def delete_where(
    spark: SparkSession,
    warehouse_path: str,
    predicate,
    snapshot: str | None = None,
    dest: str | None = None,
    branch: str | None = None,
) -> dict:
    """Commit a merge-on-read delete: a new snapshot `dest` (default
    `<root>-d<n>`, n = its commit-log ordinal) sharing `snapshot`'s data
    files, whose readers drop every row matching `predicate` (forms per
    normalize_predicates: key or any stat-tracked column, BETWEEN / IN /
    conjunction — evaluated once, now, against the snapshot being deleted
    from; rows are removed by key equality thereafter). Returns the
    committed manifest with `n_deleted` (distinct keys this call removed)
    added.

    A predicate matching nothing still commits `dest` (Iceberg also
    snapshots no-op deletes) with no new delete file.

    `branch=` makes this a BRANCH-SCOPED write (Iceberg branch commits):
    the base defaults to the branch's head, and the one commit lands on
    the branch, so CURRENT does not move — main readers never see the
    branch's deletes until someone fast-forwards (Warehouse.rollback to
    the branch target is the publish step of write-audit-publish). A head
    that moves while this runs raises CommitConflict (module docstring)."""
    wh = Warehouse(warehouse_path)
    ref, head, snapshot = _base(wh, branch, snapshot)
    manifest = wh.read_manifest(snapshot)
    if not manifest:
        raise ValueError(f"no manifest for snapshot {snapshot!r}")
    layout = manifest.get("layout") or {}
    key_col = layout.get("key_col", "doc_id")
    # RAW entries, scoping preserved: an inherited {'path','seq'} upsert
    # delete must stay seq-scoped in the child manifest
    parent_dels = list(manifest.get("delete_files") or [])
    if dest is None:
        # chain-stable default: strip the parent's own suffix so names stay
        # `<root>-d<n>` instead of growing `-d1-d2-…` without bound. n is
        # the ordinal this commit takes in the commit log, which every
        # commit advances — a no-match delete adds no delete file, so a
        # delete-file count would repeat the previous name
        dest = f"{_root(snapshot)}-d{len(wh.commit_log())}"
    if wh.read_manifest(dest):
        raise ValueError(f"snapshot {dest!r} already exists")

    from .pipeline import decode_table

    # pruned scan: only files/stripes that can match the predicate are read
    keys = decode_table(
        spark, warehouse_path, snapshot=snapshot, columns=[key_col],
        predicate=predicate,
    ).distinct()

    new_files = _write_delete_files(keys, warehouse_path, dest)
    n_deleted = count_delete_keys(new_files)
    if n_deleted == 0:
        for f in new_files:
            os.remove(f)
        new_files = []

    # seq-scope the new entries: they apply to every file that exists NOW
    # (all have seq <= max_seq) but not to files a LATER upsert commits at
    # a higher seq — otherwise re-inserting a once-deleted key would
    # silently resurrect the old delete. Exactly Iceberg's sequence rule.
    seq = max_seq(manifest) + 1
    out = wh.commit(
        dest,
        dict(manifest["partitions"]),  # shared verbatim — zero data copy
        dict(manifest["schema"]),
        extra={
            "layout": layout,
            "delete_files": parent_dels
            + [{"path": p, "seq": seq} for p in new_files],
            "operation": "delete",
            "delete_parent": snapshot,
        },
        ids=manifest,
        ref=ref,
        expect=head,
    )
    out["n_deleted"] = n_deleted
    return out


def update_where(
    spark: SparkSession,
    warehouse_path: str,
    predicate,
    set_exprs: dict,
    snapshot: str | None = None,
    dest: str | None = None,
    branch: str | None = None,
) -> dict:
    """UPDATE … SET … WHERE sugar over `upsert`: decode the matching rows
    (the predicate pushes down all three prune levels), apply `set_exprs`
    ({column: SQL expression string or Column}), and commit the result as
    a merge-on-read upsert — matching rows get new versions, nothing else
    is touched, no data file rewritten. Expressions must preserve column
    types (upsert enforces the schema). Returns the upsert manifest
    (`n_upserted` = rows updated)."""
    from .pipeline import decode_table

    wh = Warehouse(warehouse_path)
    base = _base(wh, branch, snapshot)  # the upsert expects this head
    df = decode_table(spark, warehouse_path, snapshot=base[2],
                      predicate=predicate)
    for c, e in set_exprs.items():
        if c not in df.columns:
            raise ValueError(f"SET column {c!r} not in schema {df.columns}")
        df = df.withColumn(c, F.expr(e) if isinstance(e, str) else e)
    return _upsert(spark, wh, df, base, dest)


def _root(snapshot: str) -> str:
    """Strip the delete/upsert suffix chain so default names stay
    `<root>-d<n>` / `<root>-u<n>` instead of growing without bound."""
    import re

    return re.sub(r"(-[du]\d+)+$", "", snapshot)


def upsert(
    spark: SparkSession,
    warehouse_path: str,
    df_new,
    snapshot: str | None = None,
    dest: str | None = None,
    salt_buckets: int = 32,
    stripe_tokens: int | None = None,
    branch: str | None = None,
) -> dict:
    """Merge-on-read UPSERT (Iceberg `MERGE INTO … WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT`, keyed on the table's layout key): commit a
    new snapshot `dest` (default `<root>-u<seq>`) where every row of
    `df_new` replaces the existing row with the same key (all rows of it,
    on duplicate-key tables — equality-delete semantics) and keys not
    present append. Zero rewrite of existing data: `df_new` encodes
    through the full encode pipeline into NEW files committed at
    sequence number `seq = max_seq(parent) + 1`, and one delete file of
    `df_new`'s keys is committed AT that seq — seq-scoped, so readers
    merge it into files BELOW seq (the old versions) but never into the
    upsert's own files (which carry the new versions). Reads merge each
    file's applicable delete set per task, like any delete (module
    docstring); `materialize_deletes` folds the chain flat.

    The new files are written under `dest`'s file names by the encode's
    file-writing half (pipeline.encode_files) and published with the
    delete file by dest's one commit, which also carries their
    `encode_phases`. Returns the committed manifest plus
    `n_upserted` (distinct keys written). `branch=` commits to a branch
    (see delete_where): CURRENT stays put, the branch advances. A head
    that moves while this runs raises CommitConflict, as for a delete."""
    wh = Warehouse(warehouse_path)
    return _upsert(spark, wh, df_new, _base(wh, branch, snapshot), dest,
                   salt_buckets, stripe_tokens)


def _upsert(spark, wh: Warehouse, df_new, base: tuple, dest: str | None, salt_buckets: int = 32,
            stripe_tokens: int | None = None) -> dict:
    from .pipeline import DEFAULT_STRIPE_TOKENS, LAYOUT, encode_files

    ref, head, snapshot = base
    manifest = wh.read_manifest(snapshot)
    if not manifest:
        raise ValueError(f"no manifest for snapshot {snapshot!r}")
    schema = {f.name: f.dataType.simpleString() for f in df_new.schema.fields}
    if schema != manifest["schema"]:
        raise ValueError(
            f"upsert schema {schema} != table schema {manifest['schema']}"
        )
    layout = manifest.get("layout") or {}
    key_col = layout.get("key_col", "doc_id")
    seq = max_seq(manifest) + 1
    if dest is None:
        dest = f"{_root(snapshot)}-u{seq}"
    if wh.read_manifest(dest):
        raise ValueError(f"snapshot {dest!r} already exists")
    parts, phases = encode_files(
        spark, df_new, wh.path, dest, salt_buckets=salt_buckets,
        stripe_tokens=stripe_tokens or DEFAULT_STRIPE_TOKENS, num_partitions=None,
        max_pid_tokens=None, skip=frozenset(), **{**LAYOUT, **layout},
    )

    new_files = _write_delete_files(
        df_new.select(key_col).distinct(), wh.path, dest
    )
    n_upserted = count_delete_keys(new_files)

    merged = dict(manifest["partitions"])  # parent files shared verbatim
    for pid, part in parts.items():
        merged[f"{pid}@u{seq}"] = {**part, "seq": seq}
    dels = list(manifest.get("delete_files") or [])
    dels += [{"path": p, "seq": seq} for p in new_files]

    out = wh.commit(
        dest,
        merged,
        dict(manifest["schema"]),
        extra={
            "layout": layout,
            "delete_files": dels,
            "operation": "upsert",
            "upsert_parent": snapshot,
            "seq": seq,
            "encode_phases": phases,
        },
        ids=manifest,  # written under the parent's schema (checked above)
        ref=ref,
        expect=head,
    )
    out["n_upserted"] = n_upserted
    return out

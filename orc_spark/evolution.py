"""Schema evolution — the Iceberg add/drop/rename-column analog, metadata
only: no data file is touched.

A column is its FIELD ID; its name is only a label (Iceberg's rule,
https://iceberg.apache.org/spec/#schema-evolution). Every manifest keeps
every schema version as {name: field_id} (`schemas`) and the current
one's index (`schema_id`); every file entry records the `schema_id` it
was written under, so the stripe footers' write-time names map to IDs
without touching a byte. IDs are table-wide (a new one is above every ID
of any manifest) and reach manifests only through Warehouse.commit: an
append (encode, stream sink, datasource writer) carries CURRENT's IDs
over by name, a materialize or reencode its source's (carry_ids), and
shared-files commits (delete, upsert, concat, evolve) keep their entries.

`evolve_schema` commits a NEW snapshot sharing the parent's files (and
delete files) with an evolved schema and its own IDs:

  * ADD — a fresh ID, even for a name dropped or renamed away before, so
    no older file holds it and readers null-fill it there.
  * RENAME — the ID stays, only the label changes; older files still store
    the column under its write-time name.
  * DROP — the ID retires (streams stay in old files, never decoded).
  * a new name that collides with a LIVE column is refused; layout
    columns (key/source/weight) cannot be dropped or renamed: the manifest
    ranges, pid prefixes and stripe sort are keyed to them.

Readers resolve on the driver, once per file: `stored_names` maps each
read name, through its ID in the bound schema (the snapshot read, or a
changelog's bound snapshot), to the name the file stores it under, or to
None (null-fill). It returns None when every name matches, which keeps
the plain decode_stripe path; otherwise decode_blob_batches renames once
per file (and translates stripe predicates once: a predicate on a column
the file lacks cannot skip a stripe and falls through to the exact row
filter, where the null fill matches nothing).
"""

from __future__ import annotations

import itertools

import pyarrow as pa

from .warehouse import Warehouse, current_ids

# spark type -> arrow type, for the null fill of a column a file lacks
_ARROW = {
    "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
    "bigint": pa.int64(), "float": pa.float32(), "double": pa.float64(),
    "string": pa.string(), "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us"),
}
# the types an ADD may give a column: fillable, and written by the stripe
# encoder (stripe._encode_column: lists of float/double or of int32 only)
ADD_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "timestamp", "array<int>", "array<float>", "array<double>",
)


def fill_type(spark_type: str) -> pa.DataType:
    """The arrow type of an all-null column of `spark_type`."""
    if spark_type in _ARROW:
        return _ARROW[spark_type]
    inner = spark_type[len("array<"):-1]
    if f"array<{inner}>" == spark_type and inner in _ARROW:
        return pa.list_(_ARROW[inner])
    raise TypeError(f"cannot null-fill a column of type {spark_type!r}")


def stored_names(bound: dict[str, int], file_ids: dict[str, int]) -> dict | None:
    """Read name -> the name a file stores that field under (None:
    null-fill), for the `bound` {name: field_id} read through a file
    written under `file_ids`; None when every name is stored as itself."""
    by_id = {f: n for n, f in file_ids.items()}
    out = {n: by_id.get(f) for n, f in bound.items()}
    return None if all(s == n for n, s in out.items()) else out


def column_maps(m: dict, bound: dict[str, int]) -> dict[str, dict | None]:
    """Each data file of manifest `m` -> its stored_names under `bound`."""
    return {
        p["file"]: stored_names(bound, m["schemas"][p["schema_id"]])
        for p in m["partitions"].values()
    }


def evolve_schema(
    warehouse_path: str,
    snapshot: str | None = None,
    dest: str | None = None,
    add: dict[str, str] | None = None,
    drop: list[str] | None = None,
    rename: dict[str, str] | None = None,
) -> dict:
    """Commit snapshot `dest` (default `<snapshot>-evN`) = `snapshot` with
    columns added (`{name: spark_type}`), dropped, and/or renamed
    (`{old: new}`). Pure metadata — same files, same delete files. Raises
    on layout-column changes, on a new name that collides with a live
    column and on an ADD type outside ADD_TYPES (see module docstring);
    raises CommitConflict if CURRENT moves while it runs."""
    add = add or {}
    drop = list(drop or [])
    rename = rename or {}
    wh = Warehouse(warehouse_path)
    head = wh.current_snapshot_id()
    snapshot = head if snapshot is None else wh.resolve_snapshot(snapshot)
    m = wh.read_manifest(snapshot)
    if not m:
        raise ValueError(f"no manifest for snapshot {snapshot!r}")
    schema = dict(m["schema"])
    layout = m.get("layout") or {}
    ids = current_ids(m)

    protected = {
        layout.get("key_col", "doc_id"),
        layout.get("source_col"),
        layout.get("weight_col"),
    } - {None}
    for c in list(rename) + drop:
        if c in protected:
            raise ValueError(
                f"column {c!r} is a layout column (key/source/weight) — "
                "pruning ranges, pid prefixes, and stripe sort are keyed "
                "to it; rewrite the table to change it"
            )
        if c not in schema:
            raise ValueError(f"column {c!r} not in schema {list(schema)}")
    bad = {n: t for n, t in add.items() if t not in ADD_TYPES}
    if bad:
        raise ValueError(f"cannot add {bad}: an added column's type must be "
                         f"one of {list(ADD_TYPES)}")
    live = set(schema) - set(drop) - set(rename)
    for n in list(add) + list(rename.values()):
        if n in live:
            raise ValueError(f"name {n!r} is a live column")
    overlap = set(add) & set(rename.values())
    if overlap or len(set(rename.values())) != len(rename):
        raise ValueError("conflicting new names in add/rename")

    kept = [n for n in schema if n not in drop]
    new_schema = {rename.get(n, n): schema[n] for n in kept} | add
    new_ids = {rename.get(n, n): ids[n] for n in kept} | dict(
        zip(add, itertools.count(wh.last_field_id() + 1))
    )

    if dest is None:
        n = 1
        while wh.read_manifest(f"{snapshot}-ev{n}"):
            n += 1
        dest = f"{snapshot}-ev{n}"
    elif wh.read_manifest(dest):
        raise ValueError(f"snapshot {dest!r} already exists")

    extra = {"layout": layout, "operation": "evolve", "evolve_parent": snapshot}
    if m.get("delete_files"):
        extra["delete_files"] = list(m["delete_files"])
    return wh.commit(dest, dict(m["partitions"]), new_schema, extra=extra, ids={
        "schemas": m["schemas"] + [new_ids], "schema_id": len(m["schemas"]),
    }, expect=head)

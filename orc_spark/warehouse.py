"""Iceberg-emulated warehouse: data files, JSON manifests and one commit log.

There is no Iceberg runtime in this sandbox (zero iceberg jars, network
blocked — SURVEY.md [PROBE-4]), so the Iceberg surface the north rule names
(BASELINE.json:6,14) is emulated with the same commit semantics Iceberg uses:

  warehouse/
    data/pid=<pid>/snap-<snapshot>.parquet   one file per logical partition,
                                             written by executors via
                                             temp-file + atomic rename
    manifests/snap-<snapshot>-<id>.json      manifest: per-partition lineage
                                             + encode metrics, under a name
                                             unique to its writer
    manifests/log/<ordinal:020d>.json        the commit log
    exchange/<snapshot>-<id>/map-*.arrow     an encode's per-pid Arrow
                                             segments (exchange.py)

The log (Delta Lake's, VLDB 2020) is the table's only state: numbered
entries {snapshot, parent, ref, op}, each created put-if-absent (temp file
+ `os.link`). `op` is `commit` (on ref main or a branch), `rollback`,
`branch` / `tag` (set_ref) or `drop` (delete_ref); a commit entry also
names its manifest file (`manifest`; an entry written before it did names
`snap-<snapshot>.json`). CURRENT, the refs, `commit_log()` (whose indexes
are the stream offsets) and each committed snapshot's manifest file are
folds over it (`Warehouse.state`). A warehouse without `log/` but with a
pre-log `COMMITLOG` is refused, not migrated.

Commits (BASELINE.json:6 "resumes from its last committed checkpoint"):
- a SNAPSHOT is the unit of commit: every write publishes it with ONE
  `commit`, which writes its manifest under a writer-unique name and then
  claims the log's next ordinal with an entry naming that file, a
  compare-and-swap (Warehouse.commit). The entry is the only commit
  point: a manifest no entry names (its writer died between the two) is
  not committed and holds nothing, so a re-run of the name commits at
  once; vacuum_orphans removes such a manifest;
- executors write data files idempotently (deterministic content, atomic
  rename), so task retries are safe;
- a re-run of a committed snapshot is a no-op (encode_table returns the
  manifest); a re-run of one that died before its commit ADOPTS the killed
  run's complete data files after validation (footer check) and encodes
  only the missing partitions, all in its single commit.

At 10^12-sequence scale the manifest stays driver-sized: one entry per logical
partition (e.g. 20k partitions x ~200 bytes), exactly like an Iceberg manifest
list; per-file stats live in the stripe footers inside the data files.
"""

from __future__ import annotations

import itertools
import json
import os
import tempfile
import time
import uuid

# a manifest's field IDs (evolution.py): its {name: field_id} schema
# versions and the index of the current one
ID_KEYS = ("schemas", "schema_id")

# integral key types, Spark's and Arrow's names (parse_key)
INT_TYPES = ("tinyint", "smallint", "int", "bigint", "int8", "int16", "int32", "int64")

# CURRENT's ref in the commit log
MAIN = "main"

# Warehouse.commit's `expect` for an append: no conflict check
APPEND = object()

# each log dir's fold (Warehouse.state) with the bytes of its entry 0 and
# its entry count: a log whose entry 0 changed (the warehouse was removed
# and made anew) is folded from the start
_LOGS: dict[str, tuple[bytes, int, dict[str, str], dict[str, dict]]] = {}


class SnapshotExists(ValueError):
    """A commit of a snapshot name that is already committed."""


class CommitConflict(ValueError):
    """A write that read the table lost its ref's head to another commit."""


def check_ref_name(name: str) -> None:
    """Refuse a name no tag or branch may take: empty, `main` (CURRENT's
    ref), one with a '/', or one that reads as a manifest's."""
    if "/" in name or name.startswith("snap-") or name in ("", MAIN):
        raise ValueError(f"bad ref name {name!r}")


def render_key(v) -> str:
    """A key-range bound as a manifest stores it: "" for no range (a file
    of null keys only, a source without one), a string key as is, any
    other (integral) key as its JSON text."""
    return "" if v is None else v if isinstance(v, str) else json.dumps(v)


def parse_key(s: str | None, key_type: str):
    """render_key's inverse for a key column of schema type `key_type`:
    the key's native value, or None for no recorded range."""
    if s in ("", None):
        return None
    return int(s) if key_type in INT_TYPES else s


def current_ids(m: dict) -> dict[str, int]:
    """{name: field_id} of the manifest's current schema."""
    if "schemas" not in m:
        raise ValueError(f"manifest {m.get('snapshot_id')!r} has no field IDs "
                         "(written before the table kept them); re-encode it")
    return m["schemas"][m["schema_id"]]


class Warehouse:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "manifests")
        # the commit log: one put-if-absent entry per commit or ref move
        self.log_dir = os.path.join(self.manifest_dir, "log")
        # an encode's Arrow exchange files (exchange.py), removed when it
        # ends; never listed by a planner or by orphan_files
        self.exchange_dir = os.path.join(path, "exchange")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def data_file(self, pid: str, snapshot: str) -> str:
        return os.path.join(self.data_dir, f"pid={pid}", f"snap-{snapshot}.parquet")

    def manifest_file(self, snapshot: str) -> str | None:
        """The manifest file the commit entry of `snapshot` names; None if
        no commit entry names it."""
        name = self.state()[1].get(snapshot)
        return None if name is None else os.path.join(self.manifest_dir, name)

    # -- manifests --------------------------------------------------------
    def _load(self, name: str) -> dict | None:
        try:
            with open(os.path.join(self.manifest_dir, name)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None  # expired

    def read_manifest(self, snapshot: str) -> dict | None:
        """A committed snapshot's manifest; None if `snapshot` is not
        committed or its manifest expired."""
        name = self.state()[1].get(snapshot)
        return None if name is None else self._load(name)

    def manifests(self) -> list[dict]:
        """Every committed manifest not expired, in commit order."""
        return [m for m in map(self._load, self.state()[1].values()) if m is not None]

    def last_field_id(self) -> int:
        """The largest field ID in any committed manifest: the last one
        handed out, on any branch (IDs are table-wide, so a changelog that
        crosses a rollback never reads one column as another)."""
        return max((f for m in self.manifests() for s in m.get("schemas", ())
                    for f in s.values()), default=0)

    def carry_ids(self, parent: dict | None, schema: dict) -> dict:
        """ID_KEYS of a commit of `schema` on `parent` (None: a fresh
        table): a name of the parent's current schema keeps its ID, a new
        name gets a fresh one; an unchanged mapping keeps the schema ID."""
        cur = current_ids(parent) if parent is not None else {}
        new = [n for n in schema if n not in cur]
        fresh = dict(zip(new, itertools.count(self.last_field_id() + 1))) if new else {}
        ids = {n: cur[n] if n in cur else fresh[n] for n in schema}
        if parent is not None and ids == cur:
            return {k: parent[k] for k in ID_KEYS}
        schemas = parent["schemas"] if parent is not None else []
        return {"schemas": schemas + [ids], "schema_id": len(schemas)}

    # -- the commit log ---------------------------------------------------
    def log_entry(self, ordinal: int) -> str:
        return os.path.join(self.log_dir, f"{ordinal:020d}.json")

    def state(self) -> tuple[int, dict[str, str], dict[str, dict]]:
        """The log read and folded: (its entry count, {snapshot: manifest
        file name} of its commit entries in ordinal order, {ref:
        {'snapshot', 'kind', 'updated_at'}} from each ref's newest entry;
        `main`'s head is CURRENT). Ordinals are dense and entries never
        change, so a process folds each entry once (_LOGS) and opens only
        those past the last it read."""
        try:
            with open(self.log_entry(0), "rb") as fh:
                first = fh.read()
        except FileNotFoundError:
            if os.path.exists(os.path.join(self.manifest_dir, "COMMITLOG")):
                raise ValueError(
                    f"warehouse {self.path!r} was written before the table kept "
                    "its commit log in manifests/log/; re-encode it") from None
            return 0, {}, {}
        seen, n, commits, heads = _LOGS.get(self.log_dir, (first, 0, {}, {}))
        n, commits, heads = (n, dict(commits), dict(heads)) if seen == first else (0, {}, {})
        while True:
            try:
                with open(self.log_entry(n)) as fh:
                    e = json.load(fh)
            except FileNotFoundError:
                break
            n += 1
            if e["op"] == "drop":
                heads.pop(e["ref"], None)
                continue
            if e["op"] == "commit":
                commits[e["snapshot"]] = e.get("manifest", f"snap-{e['snapshot']}.json")
            heads[e["ref"]] = {"snapshot": e["snapshot"], "updated_at": e["at"],
                               "kind": "tag" if e["op"] == "tag" else "branch"}
        _LOGS[self.log_dir] = (first, n, commits, heads)
        return n, dict(commits), {r: dict(h) for r, h in heads.items()}

    def commit_log(self) -> list[str]:
        """Snapshot names in commit order: the commit entries of the log, on
        any ref. A name's index is its stream offset and `_commit_ordinal`;
        an expired snapshot keeps its place (its manifest is gone)."""
        return list(self.state()[1])

    def current_snapshot_id(self) -> str | None:
        """CURRENT: the newest snapshot on ref main."""
        return self.state()[2].get(MAIN, {}).get("snapshot")

    def _append(self, entry_of) -> dict:
        """Create the log's next entry put-if-absent and return it.
        `entry_of(commits, heads)` validates against the log as read
        (state's view) and returns the entry's {snapshot, parent, ref, op,
        and a commit's manifest};
        a writer that loses the race for the ordinal re-reads the log and
        calls it again."""
        while True:
            n, commits, heads = self.state()
            entry = {**entry_of(commits, heads), "at": time.time()}
            os.makedirs(self.log_dir, exist_ok=True)
            if self._create(self.log_entry(n), entry):
                return entry

    def _create(self, path: str, obj) -> bool:
        """Write `obj` as JSON to `path` put-if-absent: temp file, then
        os.link, which, unlike os.replace, fails on an existing name.
        False if `path` exists."""
        fd, tmp = tempfile.mkstemp(dir=self.manifest_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(obj, fh)
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def commit(self, snapshot: str, partitions: dict[str, dict], schema: dict, extra: dict | None = None, ids: dict | None = None, ref: str = MAIN, expect=APPEND) -> dict:
        """Publish `snapshot` on `ref` (main or a branch): write its
        manifest under a name no other writer uses, then create the log
        entry that names it, the one commit point. Raises SnapshotExists
        (and changes nothing) if the name is committed. A writer killed
        between the two files leaves a manifest no entry names: it is not
        committed, and a re-run of the name commits at once. `partitions`
        maps pid -> {file, n_rows, n_tokens, enc_bytes, metrics…}.

        `expect`: the head of `ref` a write that read the table started
        from (None: no such ref yet); a moved head raises CommitConflict,
        naming the winner, and removes its manifest. An append (the
        default) never conflicts. The manifest's `parent` is the head it
        lands on (a branch's first commit: CURRENT).

        Field IDs (evolution.py) reach a manifest only here: those of `ids`
        (a shared-files commit's parent, carry_ids of a rewrite's source),
        by default the parent's carried by name (carry_ids), as suits an
        append. An entry without a `schema_id` gets the manifest's.
        """
        if ref != MAIN:
            check_ref_name(ref)
        path = os.path.join(self.manifest_dir, f"snap-{snapshot}-{uuid.uuid4().hex[:12]}.json")
        manifest = None

        def entry_of(commits, heads):
            nonlocal manifest
            if manifest is not None:  # lost the ordinal: build on the new head
                os.remove(path)
                manifest = None
            if snapshot in commits:
                raise SnapshotExists(f"snapshot {snapshot!r} is already committed")
            if heads.get(ref, {}).get("kind") == "tag":
                raise ValueError(f"ref {ref!r} is a tag - tags are immutable")
            head = heads.get(ref, {}).get("snapshot")
            if expect is not APPEND and head != expect:
                raise CommitConflict(f"{snapshot!r} was not committed: {head!r} became "
                                     f"the head of {ref!r} after this write read {expect!r}")
            parent = head if ref in heads else heads.get(MAIN, {}).get("snapshot")
            m_ids = ids or self.carry_ids(self.read_manifest(parent) if parent else None, schema)
            current_ids(m_ids)  # a parent without IDs fails here
            now = time.time()
            m = {
                "snapshot_id": snapshot, "parent": parent, "schema": schema, "created_at": now,
                "partitions": {pid: {"schema_id": m_ids["schema_id"], **p}
                               for pid, p in partitions.items()},
                **{k: m_ids[k] for k in ID_KEYS}, "committed_at": now, **(extra or {}),
            }
            self._create(path, m)
            manifest = m
            return {"snapshot": snapshot, "parent": parent, "ref": ref, "op": "commit",
                    "manifest": os.path.basename(path)}

        self._append(entry_of)
        return manifest

    # -- recovery ---------------------------------------------------------
    def orphan_files(self, snapshot: str) -> dict[str, str]:
        """{pid: data file} of this snapshot on disk — before its commit,
        the survivors of a killed run (rename is atomic, so they are
        complete)."""
        files = {d[4:]: self.data_file(d[4:], snapshot)
                 for d in os.listdir(self.data_dir) if d.startswith("pid=")}
        return {pid: f for pid, f in files.items() if os.path.exists(f)}

    def validate_data_file(self, path: str, key_col: str | None = None) -> dict | None:
        """Adopt-check for orphans: parquet readable, stripe rows well-formed.
        Returns summary metrics or None if invalid. With `key_col`, also
        recovers the file's key range from the stripe footers (stripes are
        key-sorted and their footers carry min/max stats), so an adopted
        partition participates in manifest range pruning like any other;
        when any stripe lacks the stats (e.g. a nullable key) the range is
        left as the "" cannot-exclude sentinel file_matches expects."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        try:
            t = pq.read_table(path, columns=["pid", "n_rows", "n_tokens", "enc_bytes"]
                              + (["footer"] if key_col else []))
            if t.num_rows == 0:
                return None
            out = {k: int(pc.sum(t[k]).as_py()) for k in ("n_rows", "n_tokens", "enc_bytes")}
            out["stripes"] = t.num_rows
            if key_col:
                st = [json.loads(f)["columns"].get(key_col, {}).get("stats") or {}
                      for f in t["footer"].to_pylist()]
                known = all(x.get("min") is not None and x.get("max") is not None for x in st)
                out["min_doc_id"] = render_key(min(x["min"] for x in st) if known else None)
                out["max_doc_id"] = render_key(max(x["max"] for x in st) if known else None)
            return out
        except Exception:
            return None

    def committed_files(self, snapshot: str) -> list[str]:
        m = self.read_manifest(snapshot)
        if not m:
            return []
        return [p["file"] for p in m["partitions"].values()]

    # -- named refs (Iceberg tags/branches) -------------------------------
    def set_ref(self, name: str, snapshot: str, kind: str = "tag") -> dict:
        """Create or move a named ref (Iceberg tag/branch) with one log
        entry. `kind='tag'` is an immutable bookmark (set_ref on an
        existing tag refuses — delete it first); `kind='branch'` is a
        movable head (set_ref or a commit on it advances it). Both PROTECT
        their snapshot from expire_snapshots (Iceberg retention semantics),
        and resolve anywhere a snapshot name goes (resolve_snapshot).
        `main` is CURRENT's ref, moved by rollback."""
        if kind not in ("tag", "branch"):
            raise ValueError(f"ref kind must be tag|branch, got {kind!r}")
        check_ref_name(name)

        def entry_of(commits, heads):
            if snapshot not in commits or self.read_manifest(snapshot) is None:
                raise ValueError(f"cannot ref {snapshot!r}: no manifest")
            existing = heads.get(name)
            if existing and existing["kind"] == "tag":
                raise ValueError(f"tag {name!r} already points at {existing['snapshot']!r} "
                                 "— tags are immutable, delete_ref first")
            if existing and existing["kind"] != kind:
                raise ValueError(f"ref {name!r} exists with kind {existing['kind']!r}")
            return {"snapshot": snapshot, "parent": heads.get(name, {}).get("snapshot"), "ref": name, "op": kind}

        e = self._append(entry_of)
        return {"snapshot": snapshot, "kind": kind, "updated_at": e["at"]}

    def get_ref(self, name: str) -> dict | None:
        return self.refs().get(name)

    def refs(self) -> dict[str, dict]:
        """{name: {'snapshot', 'kind', 'updated_at'}} of every tag and
        branch."""
        return {n: r for n, r in sorted(self.state()[2].items()) if n != MAIN}

    def delete_ref(self, name: str) -> None:
        def entry_of(commits, heads):
            if name == MAIN or name not in heads:
                raise ValueError(f"no ref {name!r}")
            return {"snapshot": None, "parent": heads.get(name, {}).get("snapshot"), "ref": name, "op": "drop"}

        self._append(entry_of)

    def resolve_snapshot(self, name: str | None) -> str | None:
        """A snapshot name, a ref name, or None (CURRENT) -> snapshot id.
        Committed snapshot names win over a same-named ref (refs cannot
        shadow data); any other name passes through, and a read of it
        finds no manifest."""
        _, commits, heads = self.state()
        if name is None:
            return heads.get(MAIN, {}).get("snapshot")
        if name in commits:
            return name
        if name != MAIN and name in heads:
            return heads[name]["snapshot"]
        return name

    def rollback(self, snapshot: str) -> None:
        """Move CURRENT to a committed snapshot (Iceberg
        `rollback_to_snapshot`) with one log entry on main; no file is
        touched, and rolled-past snapshots stay readable by name (and keep
        their commit-log ordinals) until expire_snapshots collects them.
        Undoes a merge-on-read delete (roll back to its parent), and
        publishes a branch (roll forward to its head)."""

        def entry_of(commits, heads):
            if snapshot not in commits or self.read_manifest(snapshot) is None:
                raise ValueError(f"cannot roll back to {snapshot!r}: no manifest")
            return {"snapshot": snapshot, "parent": heads.get(MAIN, {}).get("snapshot"), "ref": MAIN, "op": "rollback"}

        self._append(entry_of)


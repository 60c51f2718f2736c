"""Iceberg-emulated warehouse: data files + JSON snapshot/manifest commit log.

There is no Iceberg runtime in this sandbox (zero iceberg jars, network
blocked — SURVEY.md [PROBE-4]), so the Iceberg surface the north rule names
(BASELINE.json:6,14) is emulated with the same commit semantics Iceberg uses:

  warehouse/
    data/pid=<pid>/snap-<snapshot>.parquet   one file per logical partition,
                                             written by executors via
                                             temp-file + atomic rename
    manifests/snap-<snapshot>.json           manifest: per-partition lineage
                                             + encode metrics (committed
                                             atomically after the job)
    manifests/CURRENT                        pointer to the latest snapshot
    exchange/<snapshot>-<id>/map-*.arrow     an encode's per-pid Arrow
                                             segments (exchange.py); gone
                                             when the encode ends

Commits (BASELINE.json:6 "resumes from its last committed checkpoint"):
- a SNAPSHOT, not a partition, is the unit of commit: every write publishes
  its snapshot with ONE `commit`, which creates the manifest put-if-absent
  (temp file + `os.link`; an existing name raises SnapshotExists). A
  published manifest is never rewritten, so a reader sees a snapshot whole
  or not at all;
- executors write data files idempotently (deterministic content, atomic
  rename), so task retries are safe;
- a re-run of a committed snapshot is a no-op (encode_table returns the
  manifest); a re-run of one that died before its commit ADOPTS the killed
  run's complete data files after validation (footer check) and encodes
  only the missing partitions, all in its single commit. This is
  file-level recovery on top of Iceberg-style snapshots.

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

# a manifest's field IDs (evolution.py): its {name: field_id} schema
# versions and the index of the current one
ID_KEYS = ("schemas", "schema_id")

# integral key types, Spark's and Arrow's names (parse_key)
INT_TYPES = ("tinyint", "smallint", "int", "bigint", "int8", "int16", "int32", "int64")


class SnapshotExists(ValueError):
    """A commit of a snapshot name that already has a manifest."""


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
        # an encode's Arrow exchange files (exchange.py), removed when it
        # ends; never listed by a planner or by orphan_files
        self.exchange_dir = os.path.join(path, "exchange")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def data_file(self, pid: str, snapshot: str) -> str:
        return os.path.join(self.data_dir, f"pid={pid}", f"snap-{snapshot}.parquet")

    def manifest_file(self, snapshot: str) -> str:
        return os.path.join(self.manifest_dir, f"snap-{snapshot}.json")

    # -- snapshot log -----------------------------------------------------
    def current_snapshot_id(self) -> str | None:
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        return open(cur).read().strip()

    def read_manifest(self, snapshot: str) -> dict | None:
        f = self.manifest_file(snapshot)
        if not os.path.exists(f):
            return None
        return json.load(open(f))

    def last_field_id(self) -> int:
        """The largest field ID in any manifest: the last one handed out, on
        any branch (IDs are table-wide, so a changelog that crosses a
        rollback never reads one column as another)."""
        return max((
            f for n in os.listdir(self.manifest_dir)
            if n.startswith("snap-") and n.endswith(".json")
            for s in json.load(open(os.path.join(self.manifest_dir, n))).get("schemas", ())
            for f in s.values()
        ), default=0)

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

    def commit_log(self) -> list[str]:
        """Snapshot names in COMMIT order — the warehouse's tiny append-only
        sequence (manifests/COMMITLOG, one ~30-byte line per snapshot,
        appended by commit()). This is what lets a stream reader's offset be
        a single integer position instead of the full set of consumed names
        (which grows without bound on a long-tailed warehouse). Self-heals:
        committed manifests missing from the log (pre-log warehouses, a
        crash between manifest link and log append) are appended in
        sorted order on read; expired snapshots KEEP their line (positions
        already handed out as offsets must stay stable), and readers skip
        names whose manifest is gone. Duplicate lines (two healers racing)
        dedupe to first occurrence, so positions are stable once written."""
        logf = os.path.join(self.manifest_dir, "COMMITLOG")
        lines: list[str] = []
        seen: set[str] = set()
        if os.path.exists(logf):
            for ln in open(logf).read().splitlines():
                ln = ln.strip()
                if ln and ln not in seen:
                    seen.add(ln)
                    lines.append(ln)
        missing = sorted(
            f[len("snap-"):-len(".json")]
            for f in os.listdir(self.manifest_dir)
            if f.startswith("snap-") and f.endswith(".json")
            and f[len("snap-"):-len(".json")] not in seen
        )
        if missing:
            # heal is best-effort: a read-only consumer (stream reader on
            # storage mounted RO) must still get the full ordered list even
            # when it cannot persist the healed lines
            try:
                with open(logf, "a") as fh:
                    for name in missing:
                        fh.write(name + "\n")
            except OSError:
                pass
            lines.extend(missing)
        return lines

    def _log_commit(self, snapshot: str) -> None:
        # single short O_APPEND write: atomic on POSIX, no torn lines;
        # commit_log() de-duplicates on read
        with open(os.path.join(self.manifest_dir, "COMMITLOG"), "a") as fh:
            fh.write(snapshot + "\n")

    def commit(self, snapshot: str, partitions: dict[str, dict], schema: dict, extra: dict | None = None, advance_current: bool = True, ids: dict | None = None) -> dict:
        """Publish `snapshot`: create its manifest put-if-absent, append it
        to the commit log and advance CURRENT. Raises SnapshotExists (and
        changes nothing) if the snapshot already has a manifest, so of two
        writers committing one name exactly one wins, and a published
        manifest is never rewritten.

        `partitions` maps pid -> {file, n_rows, n_tokens, enc_bytes, metrics…}
        (the per-partition lineage + throughput rows the rule requires).
        `advance_current=False` commits without moving the CURRENT pointer —
        for a branch commit (deletes.py) that must not become the table's
        default read.

        Field IDs (evolution.py) reach a manifest only here: those of `ids`
        (a shared-files commit's parent, carry_ids of a rewrite's source),
        by default CURRENT's carried by name (carry_ids), as suits an
        append. An entry without a `schema_id` gets the manifest's.
        """
        parent = self.current_snapshot_id()
        if ids is None:
            ids = self.carry_ids(self.read_manifest(parent) if parent else None, schema)
        current_ids(ids)  # a parent without IDs fails here
        sid = ids["schema_id"]
        now = time.time()
        manifest = {
            "snapshot_id": snapshot,
            "parent": parent,
            "schema": schema,
            "created_at": now,
            "partitions": {
                pid: {"schema_id": sid, **p} for pid, p in partitions.items()
            },
            **{k: ids[k] for k in ID_KEYS},
            "committed_at": now,
            **(extra or {}),
        }
        fd, tmp = tempfile.mkstemp(dir=self.manifest_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(manifest, fh)
            # os.link, unlike os.replace, fails on an existing name: create-once
            os.link(tmp, self.manifest_file(snapshot))
        except FileExistsError:
            raise SnapshotExists(f"snapshot {snapshot!r} is already committed") from None
        finally:
            os.remove(tmp)
        self._log_commit(snapshot)
        if advance_current:
            fd, tmp = tempfile.mkstemp(dir=self.manifest_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as fh:
                fh.write(snapshot)
            os.replace(tmp, os.path.join(self.manifest_dir, "CURRENT"))
        return manifest

    # -- recovery ---------------------------------------------------------
    def orphan_files(self, snapshot: str) -> dict[str, str]:
        """{pid: data file} of this snapshot on disk — before its commit,
        the survivors of a killed run (rename is atomic, so they are
        complete)."""
        out = {}
        if not os.path.isdir(self.data_dir):
            return out
        for d in os.listdir(self.data_dir):
            if not d.startswith("pid="):
                continue
            f = self.data_file(d[4:], snapshot)
            if os.path.exists(f):
                out[d[4:]] = f
        return out

    def validate_data_file(self, path: str, key_col: str | None = None) -> dict | None:
        """Adopt-check for orphans: parquet readable, stripe rows well-formed.
        Returns summary metrics or None if invalid. With `key_col`, also
        recovers the file's key range from the stripe footers (stripes are
        key-sorted and their footers carry min/max stats), so an adopted
        partition participates in manifest range pruning like any other;
        when any stripe lacks the stats (e.g. a nullable key) the range is
        left as the "" cannot-exclude sentinel file_matches expects."""
        try:
            import pyarrow.parquet as pq

            cols = ["pid", "n_rows", "n_tokens", "enc_bytes"]
            if key_col:
                cols.append("footer")
            t = pq.read_table(path, columns=cols)
            if t.num_rows == 0:
                return None
            out = {
                "n_rows": int(sum(t.column("n_rows").to_pylist())),
                "n_tokens": int(sum(t.column("n_tokens").to_pylist())),
                "enc_bytes": int(sum(t.column("enc_bytes").to_pylist())),
                "stripes": t.num_rows,
            }
            if key_col:
                mn = mx = None
                for fj in t.column("footer").to_pylist():
                    st = (
                        json.loads(fj)["columns"].get(key_col, {}).get("stats")
                        or {}
                    )
                    smn, smx = st.get("min"), st.get("max")
                    if smn is None or smx is None:
                        mn = mx = None
                        break
                    mn = smn if mn is None else min(mn, smn)
                    mx = smx if mx is None else max(mx, smx)
                out["min_doc_id"], out["max_doc_id"] = render_key(mn), render_key(mx)
            return out
        except Exception:
            return None

    def committed_files(self, snapshot: str) -> list[str]:
        m = self.read_manifest(snapshot)
        if not m:
            return []
        return [p["file"] for p in m["partitions"].values()]

    # -- named refs (Iceberg tags/branches) -------------------------------
    def refs_dir(self) -> str:
        return os.path.join(self.manifest_dir, "refs")

    def set_ref(self, name: str, snapshot: str, kind: str = "tag") -> dict:
        """Create or move a named ref — the Iceberg tag/branch analog. A
        ref is one tiny JSON file (atomic tmp+rename, same discipline as
        CURRENT): {'snapshot', 'kind', 'updated_at'}. `kind='tag'` is an
        immutable bookmark (set_ref on an existing tag refuses — delete it
        first); `kind='branch'` is a movable head (set_ref advances it).
        Both PROTECT their snapshot from expire_snapshots, which is the
        operational point of tagging (Iceberg retention semantics).
        Resolution: decode_table / tokstripe / metadata accept a ref name
        anywhere a snapshot name goes (resolve_snapshot)."""
        if kind not in ("tag", "branch"):
            raise ValueError(f"ref kind must be tag|branch, got {kind!r}")
        if "/" in name or name.startswith("snap-") or not name:
            raise ValueError(f"bad ref name {name!r}")
        if self.read_manifest(snapshot) is None:
            raise ValueError(f"cannot ref {snapshot!r}: no manifest")
        existing = self.get_ref(name)
        if existing and existing["kind"] == "tag":
            raise ValueError(
                f"tag {name!r} already points at {existing['snapshot']!r} "
                "— tags are immutable, delete_ref first"
            )
        if existing and existing["kind"] != kind:
            raise ValueError(f"ref {name!r} exists with kind {existing['kind']!r}")
        os.makedirs(self.refs_dir(), exist_ok=True)
        ref = {"snapshot": snapshot, "kind": kind, "updated_at": time.time()}
        fd, tmp = tempfile.mkstemp(dir=self.refs_dir(), suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(ref, fh)
        os.replace(tmp, os.path.join(self.refs_dir(), name + ".json"))
        return ref

    def get_ref(self, name: str) -> dict | None:
        f = os.path.join(self.refs_dir(), name + ".json")
        if not os.path.exists(f):
            return None
        return json.load(open(f))

    def refs(self) -> dict[str, dict]:
        d = self.refs_dir()
        if not os.path.isdir(d):
            return {}
        return {
            f[:-len(".json")]: json.load(open(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
            if f.endswith(".json")
        }

    def delete_ref(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.refs_dir(), name + ".json"))
        except OSError:
            raise ValueError(f"no ref {name!r}") from None

    def resolve_snapshot(self, name: str | None) -> str | None:
        """A snapshot name, a ref name, or None (CURRENT) -> snapshot id.
        Committed snapshot names win over a same-named ref (refs cannot
        shadow data)."""
        if name is None:
            return self.current_snapshot_id()
        if self.read_manifest(name) is not None:
            return name
        ref = self.get_ref(name)
        return ref["snapshot"] if ref else name

    def rollback(self, snapshot: str) -> None:
        """Move CURRENT back to an earlier committed snapshot (Iceberg
        `rollback_to_snapshot`): pure pointer move, atomic tmp+rename, no
        file is touched — the rolled-past snapshots stay readable by name
        (and stay in the commit log; their ordinals are stream offsets)
        until expire_snapshots collects them. The natural undo for a
        merge-on-read delete: roll back to the delete's parent and every
        row is live again."""
        if self.read_manifest(snapshot) is None:
            raise ValueError(f"cannot roll back to {snapshot!r}: no manifest")
        fd, tmp = tempfile.mkstemp(dir=self.manifest_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            fh.write(snapshot)
        os.replace(tmp, os.path.join(self.manifest_dir, "CURRENT"))

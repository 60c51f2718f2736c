"""Warehouse maintenance: snapshot compaction and expiry.

The stream sink commits ONE snapshot per micro-batch epoch (streaming.py), so
a long-running ingest leaves the warehouse with many small per-epoch files
per pid: planning cost (manifest + bloom-sidecar reads) grows with file
count, and tiny stripes under-amortize their footers. These are the Iceberg
`rewrite_data_files` / `expire_snapshots` analogs for this layout.

`compact_snapshots` has two modes with very different costs:

- **concat** (default): per pid, the stripe rows of every source file are
  streamed into ONE dest file — blobs are copied verbatim; only the key
  column is decoded, to rebuild the merged file bloom at the size for the
  summed key count — and key ranges merge in the key's native order.
  Stripe count is preserved; what collapses is the FILE count —
  exactly the per-epoch fragmentation the stream sink creates. One Spark
  stage, no shuffle: the pid->files plan is O(#pids) driver metadata,
  packed by the sources' encoded bytes into one bin per task slot
  (pipeline.run_tasks); executors stream file-to-file, only metadata
  dicts return (same commit discipline as encode_table).
- **reencode**: decode the union of the source snapshots and push it back
  through the encode pipeline — full codec cost, but tiny stripes re-pack to
  `stripe_tokens` and codec choices re-fit the merged distribution. Use
  when stripes (not just files) are fragmented.

Both publish `dest_snapshot` with one create-once commit that carries its
`compacted_from` lineage, on main and only if CURRENT has not moved since
the compaction started (CommitConflict otherwise; warehouse.py), and a
re-run on a committed `dest_snapshot` returns it unchanged; source snapshots stay readable until
`expire_snapshots` removes them. Expiry reference-checks data files against
the surviving manifests because merge-on-read delete snapshots (deletes.py)
share their parent's files; `concat` refuses delete-bearing sources
(verbatim blob copy would resurrect deleted rows) — `materialize_deletes` /
`mode="reencode"` rewrite those through the full decode (deletes applied)
-> encode pipeline instead.

At 100 TB: concat tasks are pure streaming copies (memory = one Arrow row
group), one pid at a time, no shuffle, no driver funnel; expiry is a metadata
walk + delete fan-out. Both idempotent — a concat re-run returns the
committed dest, an expiry re-run is a no-op.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from .codecs import bloom as bloomc
from .pipeline import (
    DEFAULT_STRIPE_TOKENS,
    decode_table,
    encode_commit,
    key_hashes,
    pack_bins,
    run_tasks,
    stripe_file_writer,
    write_sidecar,
)
from .stripe import decode_stripe, footer_from_json
from .warehouse import Warehouse, current_ids, parse_key, render_key


def _load_source_manifests(wh: Warehouse, snapshots: list[str]) -> list[dict]:
    manifests = []
    for s in snapshots:
        m = wh.read_manifest(s)
        if m is None:
            raise ValueError(f"snapshot {s!r} has no manifest")
        manifests.append(m)
    schema0 = manifests[0]["schema"]
    layout0 = manifests[0].get("layout") or {}
    for s, m in zip(snapshots[1:], manifests[1:]):
        if m["schema"] != schema0:
            raise ValueError(f"snapshot {s!r} schema differs — cannot compact")
        if (m.get("layout") or {}) != layout0:
            raise ValueError(f"snapshot {s!r} layout differs — cannot compact")
    return manifests


def _sidecar_column(files: list[str]) -> str | None:
    """The key column every source file's sidecar blooms, or None when a
    source has no readable sidecar or they disagree. The merged file then
    gets no sidecar: planners simply cannot bloom-prune it, which is always
    conservative."""
    cols = set()
    for f in files:
        try:
            with open(f + ".bloom.json") as fh:
                cols.add(json.load(fh).get("column"))
        except (OSError, ValueError):
            return None
    return cols.pop() if len(cols) == 1 else None


def _insert_keys(bloom: np.ndarray, t: pa.Table, key_col: str) -> int:
    """Insert the keys of the stripe rows `t` into `bloom`, decoding only
    the key column; return how many. A sidecar exists only for a key type
    the writer could hash, so key_hashes has a hasher here."""
    n = 0
    for blob, footer in zip(t.column("blob"), t.column("footer")):
        keys = decode_stripe(blob.as_buffer(), footer_from_json(str(footer)), [key_col])
        bloomc.bloom_insert(bloom, *key_hashes(keys.column(0)))
        n += keys.num_rows
    return n


def _concat_pid(
    warehouse_path: str, dest_snapshot: str, pid: str, files: list[str]
) -> dict:
    """Stream one pid's source files into its single dest file, stripe rows
    copied verbatim (blob bytes untouched), stripe_id renumbered. Runs
    executor-side; memory = one parquet row group. Each source sidecar is
    sized for its own file's keys (bloom.file_bloom_bits), so the merged
    sidecar is rebuilt from the copied stripes' keys — only their key
    column is decoded — at the size for the summed key count."""
    wh = Warehouse(warehouse_path)
    final = wh.data_file(pid, dest_snapshot)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = final + f".inprogress-{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    stripes = n_rows = n_tokens = enc_bytes = 0
    key_col = _sidecar_column(files)
    bloom = np.zeros(bloomc.FILE_BLOOM_BITS // 8, dtype=np.uint8) if key_col else None
    n_keys = 0
    try:
        with stripe_file_writer(tmp) as w:
            for f in files:
                pf = pq.ParquetFile(f)
                for rg in range(pf.num_row_groups):
                    t = pf.read_row_group(rg)
                    k = t.num_rows
                    t = t.set_column(
                        t.schema.get_field_index("stripe_id"),
                        "stripe_id",
                        pa.array(
                            np.arange(stripes, stripes + k, dtype=np.int64)
                        ),
                    )
                    w.write_table(t)
                    stripes += k
                    n_rows += int(sum(t.column("n_rows").to_pylist()))
                    n_tokens += int(sum(t.column("n_tokens").to_pylist()))
                    enc_bytes += int(sum(t.column("enc_bytes").to_pylist()))
                    if key_col:
                        n_keys += _insert_keys(bloom, t, key_col)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise
    if key_col and n_keys:  # sidecar lands BEFORE data visible
        write_sidecar(final, key_col, bloomc.fold(bloom, bloomc.file_bloom_bits(n_keys)), n_keys)
    os.replace(tmp, final)
    return {
        "pid": pid,
        "file": final,
        "stripes": stripes,
        "n_rows": n_rows,
        "n_tokens": n_tokens,
        "enc_bytes": enc_bytes,
        "encode_s": time.perf_counter() - t0,
    }


def compact_snapshots(
    spark: SparkSession,
    warehouse_path: str,
    snapshots: list[str],
    dest_snapshot: str,
    mode: str = "concat",
    stripe_tokens: int = DEFAULT_STRIPE_TOKENS,
    salt_buckets: int = 32,
) -> dict:
    """Merge `snapshots` (in the given order — decode order is concat order,
    so keep them chronological) into one `dest_snapshot`. Returns the
    committed manifest. See module docstring for the concat/reencode
    tradeoff."""
    wh = Warehouse(warehouse_path)
    if not snapshots:
        raise ValueError("no source snapshots")
    if dest_snapshot in snapshots:
        raise ValueError("dest snapshot must not be a compaction source")
    if dest_snapshot in wh.commit_log():
        return wh.read_manifest(dest_snapshot)  # a re-run: the one commit already happened
    head = wh.current_snapshot_id()
    manifests = _load_source_manifests(wh, snapshots)
    schema = manifests[0]["schema"]
    layout = manifests[0].get("layout") or {}
    lineage = {"compacted_from": list(snapshots)}

    if mode == "reencode":
        dfs = [decode_table(spark, warehouse_path, s) for s in snapshots]
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        return encode_commit(  # resumable: a re-run adopts a killed run's files
            spark, df, wh, dest_snapshot, resume=True, layout=layout, extra=lineage,
            ids=wh.carry_ids(manifests[0], schema), expect=head, salt_buckets=salt_buckets,
            stripe_tokens=stripe_tokens, num_partitions=None, max_pid_tokens=None, key_blooms=True)
    if mode != "concat":
        raise ValueError(f"unknown compaction mode {mode!r}")
    for s, m in zip(snapshots, manifests):
        if m.get("delete_files"):
            raise ValueError(
                f"snapshot {s!r} carries merge-on-read delete files: concat "
                "copies blobs verbatim and would resurrect deleted rows — "
                "use maintenance.materialize_deletes (or mode='reencode') "
                "to rewrite it first"
            )
        if current_ids(m) != current_ids(manifests[0]):
            raise ValueError(
                f"snapshot {s!r} has a different schema/evolution state "
                "than the first source: concat copies blobs verbatim — "
                "use mode='reencode' to unify schemas"
            )

    # pid -> ordered source files + parsed key ranges (driver-side metadata
    # only: O(#pids), the same scale class as an Iceberg manifest rewrite)
    key_type = schema.get(layout.get("key_col", "doc_id"), "string")
    plan: dict[str, list[str]] = {}
    size: dict[str, int] = {}
    sid: dict[str, int] = {}
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    schemas = manifests[0]["schemas"]
    for m in manifests:
        for pid, part in m["partitions"].items():
            plan.setdefault(pid, []).append(part["file"])
            size[pid] = size.get(pid, 0) + (part.get("enc_bytes") or 0)
            # blobs keep their write-time names: a pid's sources share one
            # {name: field_id}, indexed in the first source's `schemas`
            ids = m["schemas"][part["schema_id"]]
            j = schemas.index(ids) if ids in schemas else -1
            if j < 0 or sid.setdefault(pid, j) != j:
                raise ValueError(f"pid {pid!r} has source files written under "
                                 "different schemas — use mode='reencode'")
            mn = parse_key(part.get("min_doc_id"), key_type)
            mx = parse_key(part.get("max_doc_id"), key_type)
            if mn is not None and mx is not None:
                lo[pid], hi[pid] = min(lo.get(pid, mn), mn), max(hi.get(pid, mx), mx)

    # one single-stage job: pids packed on the driver by their sources'
    # encoded bytes, one bin per task slot
    bins = pack_bins(size, list(plan.items()), min(len(plan), spark.sparkContext.defaultParallelism))
    parts = {}
    for d in run_tasks(
        spark, bins,
        lambda units: (_concat_pid(warehouse_path, dest_snapshot, p, fs) for p, fs in units),
    ):
        p = d["pid"]
        # "" = no recorded range (file_matches treats it as cannot-exclude)
        d["min_doc_id"], d["max_doc_id"] = render_key(lo.get(p)), render_key(hi.get(p))
        d["compacted"] = True
        d["schema_id"] = sid[p]
        parts[p] = d
    return wh.commit(dest_snapshot, parts, schema, extra={"layout": layout, **lineage}, ids=manifests[0], expect=head)


def materialize_deletes(
    spark: SparkSession,
    warehouse_path: str,
    snapshot: str | None = None,
    dest_snapshot: str | None = None,
    stripe_tokens: int = DEFAULT_STRIPE_TOKENS,
    salt_buckets: int = 32,
) -> dict:
    """Rewrite a delete-bearing snapshot into `dest_snapshot` with its
    merge-on-read deletes applied — the Iceberg
    `rewrite_data_files` pass that folds v2 delete files back into data
    files. decode_table applies the delete files during the scan, so this
    is exactly the reencode pipeline; the resulting manifest carries NO
    `delete_files` (the rows are physically gone) plus
    `materialized_from` lineage. The source snapshot stays readable (and
    still merge-on-read) until expired; its delete files become
    collectable once no surviving manifest references them. Cost: full
    decode+encode of the LIVE rows — pay it when the delete ratio or the
    per-read merge cost warrants, same calculus as Iceberg. Commits on
    main; raises CommitConflict if CURRENT moves while it runs."""
    wh = Warehouse(warehouse_path)
    head = wh.current_snapshot_id()
    snapshot = head if snapshot is None else wh.resolve_snapshot(snapshot)
    m = wh.read_manifest(snapshot)
    if not m:
        raise ValueError(f"no manifest for snapshot {snapshot!r}")
    dels = m.get("delete_files") or []
    if dest_snapshot is None:
        dest_snapshot = f"{snapshot}-mat"
    if wh.read_manifest(dest_snapshot):
        raise ValueError(f"snapshot {dest_snapshot!r} already exists")
    df = decode_table(spark, warehouse_path, snapshot=snapshot)
    return encode_commit(
        spark, df, wh, dest_snapshot, resume=True, layout=m.get("layout") or {},
        extra={"materialized_from": snapshot, "deletes_applied": len(dels)},
        ids=wh.carry_ids(m, m["schema"]), expect=head, salt_buckets=salt_buckets,
        stripe_tokens=stripe_tokens, num_partitions=None, max_pid_tokens=None, key_blooms=True)


def expire_snapshots(
    warehouse_path: str, expire: list[str], keep_current: bool = True
) -> dict:
    """Delete the listed snapshots' manifests, then every data file, bloom
    sidecar, and delete file of theirs that no SURVIVING manifest still
    references. Encode, stream, and compact write per-snapshot files, but
    merge-on-read delete snapshots (deletes.py) share their parent's data
    files verbatim — so expiry reference-checks against the remaining
    manifests (the same reachability root vacuum uses) instead of assuming
    exclusivity: expiring a delete's parent keeps the shared files alive
    for the child, expiring both collects them. Refuses to expire the
    CURRENT snapshot unless `keep_current=False` (after compaction, CURRENT
    is the dest snapshot, so expiring the sources is always safe).
    Idempotent: missing files are fine. Returns {'files_deleted': n,
    'snapshots': [...]}. At 100 TB the deletes fan out per object and the
    reference set is O(#partitions x #snapshots) manifest entries — driver
    metadata, same as Iceberg's expire-snapshots planning."""
    wh = Warehouse(warehouse_path)
    cur = wh.current_snapshot_id()
    expiring = set(expire)
    refd = {r["snapshot"]: name for name, r in wh.refs().items()}
    for s in expire:
        if keep_current and s == cur:
            raise ValueError(f"refusing to expire CURRENT snapshot {s!r}")
        if s in refd:
            raise ValueError(
                f"snapshot {s!r} is pinned by ref {refd[s]!r} — tags/"
                "branches protect retention (delete_ref first)"
            )
    doomed = [wh.read_manifest(s) for s in expire]
    # drop manifests first so the survivors' reference set is final
    n = 0
    for f in filter(None, map(wh.manifest_file, expire)):
        try:
            os.remove(f)
            n += 1
        except OSError:
            pass
    from .deletes import delete_files_of

    live = _reachable(wh)
    for m in doomed:
        cand = [f["file"] for f in (m or {}).get("partitions", {}).values()]
        cand += delete_files_of(m)
        for f in cand:
            if f in live:
                continue
            for path in (f, f + ".bloom.json"):
                try:
                    os.remove(path)
                    n += 1
                except OSError:
                    pass
    return {"files_deleted": n, "snapshots": list(expiring)}


def _reachable(wh: Warehouse) -> set[str]:
    """Every data and delete file (deletes.py) a committed manifest lists:
    the root of reachability for expiry and vacuum."""
    from .deletes import delete_files_of

    out: set[str] = set()
    for m in wh.manifests():
        out.update(p["file"] for p in m["partitions"].values())
        out.update(delete_files_of(m))
    return out


VACUUM_MIN_AGE_S = 3 * 24 * 3600.0  # Iceberg remove_orphan_files' default


def vacuum_orphans(
    warehouse_path: str,
    min_age_s: float = VACUUM_MIN_AGE_S,
) -> dict:
    """Remove-orphan-files (the Iceberg `remove_orphan_files` analog):
    delete data files, bloom sidecars and `*.inprogress-*` temps on disk
    that NO committed manifest references, once they are older than
    `min_age_s`.
    It defaults to 3 days (Iceberg's remove_orphan_files default) because
    a vacuum racing an encode — which publishes no manifest until its one
    commit — would otherwise delete the run's already-renamed data files
    and in-flight temps out from under it, and a killed run's files are
    what its re-run adopts; `min_age_s=0` is for tests only, safe solely
    when no encode can be running. A committed snapshot's manifest is
    never rewritten, so a file of it that the manifest does not list can
    never be adopted either: it goes like any other.

    So are a manifest no log entry names (warehouse.py: its writer died
    before its commit entry, or lost it), the files only it lists, and a
    commit's leftover `*.tmp`. An uncommitted manifest holds no name, so
    this is only a matter of space.

    An encode's exchange directory (exchange.py) is removed with its
    files once older than `min_age_s`: a running encode's is younger, and
    a finished one removes its own, so an old one was left by a killed
    driver.

    Committed files are never touched: the manifests the log's commit
    entries name are the root of reachability, exactly like Iceberg's
    metadata tree. Returns
    {'files_deleted', 'bytes_deleted'}."""
    wh = Warehouse(warehouse_path)
    now = time.time()
    deleted = bytes_deleted = 0

    def reap(full: str) -> None:
        nonlocal deleted, bytes_deleted
        try:
            if now - os.path.getmtime(full) < min_age_s:
                return
            sz = os.path.getsize(full)
            os.remove(full)
            deleted += 1
            bytes_deleted += sz
        except OSError:
            pass  # raced with a concurrent delete/rename

    named = set(wh.state()[1].values())
    for f in os.listdir(wh.manifest_dir):
        if f.endswith(".tmp") or (f.startswith("snap-") and f not in named):
            reap(os.path.join(wh.manifest_dir, f))
    committed = _reachable(wh)
    for root, _, files in os.walk(wh.data_dir):
        for f in files:
            full = os.path.join(root, f)
            if full not in committed and full[: -len(".bloom.json")] not in committed:
                reap(full)
    stages = os.listdir(wh.exchange_dir) if os.path.isdir(wh.exchange_dir) else []
    for name in stages:
        stage = os.path.join(wh.exchange_dir, name)
        try:
            if now - os.path.getmtime(stage) < min_age_s:
                continue
            files = [os.path.join(stage, f) for f in os.listdir(stage)]
            sizes = [os.path.getsize(f) for f in files]
        except OSError:
            continue  # its encode ended and removed it meanwhile
        shutil.rmtree(stage, ignore_errors=True)
        deleted += len(files)
        bytes_deleted += sum(sizes)
    return {"files_deleted": deleted, "bytes_deleted": bytes_deleted}


def _main() -> None:
    """spark-submit / python -m orc_spark.maintenance — the operational
    counterpart of job.py for warehouse upkeep:

      python -m orc_spark.maintenance --warehouse W \
          --compact stream-000,stream-001 --dest main \
          [--mode concat|reencode] [--expire-sources] [--cpus N]
    """
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--compact", required=True,
                    help="comma-separated source snapshot ids")
    ap.add_argument("--dest", required=True, help="destination snapshot id")
    ap.add_argument("--mode", choices=["concat", "reencode"], default="concat")
    ap.add_argument("--stripe-tokens", type=int, default=DEFAULT_STRIPE_TOKENS)
    ap.add_argument("--expire-sources", action="store_true",
                    help="delete the source snapshots after the dest commit")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    snaps = [s for s in args.compact.split(",") if s]
    spark = get_spark(cpus=args.cpus, app_name="orc_spark_maintenance")
    spark.sparkContext.setLogLevel("ERROR")
    m = compact_snapshots(
        spark, args.warehouse, snaps, args.dest,
        mode=args.mode, stripe_tokens=args.stripe_tokens,
    )
    out = {
        "dest": args.dest,
        "mode": args.mode,
        "partitions": len(m["partitions"]),
        "stripes": sum(p["stripes"] for p in m["partitions"].values()),
        "n_rows": sum(p["n_rows"] for p in m["partitions"].values()),
        "enc_bytes": sum(p["enc_bytes"] for p in m["partitions"].values()),
    }
    if args.expire_sources:
        out["expired"] = expire_snapshots(args.warehouse, snaps)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    _main()

"""Layer measurements: the host controls printed with every run, and what a
traced run adds after its closed loop. Those are single-thread replays of
the executor-side kernels on the run's own stripes, a planning replay, a
probe lookup, a forced blob scan, a probe round of the workloads' calls and
a commit replay, all on the workload's main snapshot."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from orc_spark import chooser, deletes
from orc_spark.codecs import bloom
from orc_spark.codecs import strings as scodec
from orc_spark.codecs.compression import compress, decompress
from orc_spark.codecs.rlev2 import decode_rlev2, encode_rlev2
from orc_spark.pipeline import normalize_predicates, plan_scan_files
from orc_spark.stripe import decode_stripe, encode_stripe, footer_from_json
from orc_spark.warehouse import Warehouse
from workloads import lookup

REPLAY_TOKENS = 2_000_000  # about a quarter of the t-bench corpus
INT_CODECS = ("rle2", "for", "bitpack")
PROBE_SALT = 1_000_003  # rng stream of the probes, apart from the cycles'

med = statistics.median


def host_control() -> dict:
    """Same-process memory-copy bandwidth and a pure-Python spin rate. This
    host's bandwidth swings >10x between windows (BENCH.md section 3), so
    they are printed with every run as diagnostics; they gate nothing."""
    src = np.ones(32 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    copies = []
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        copies.append(time.perf_counter() - t)
    n = 2_000_000
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    spin = time.perf_counter() - t
    return {
        "host.memcpy_gb_s": src.nbytes / med(copies) / 1e9,
        "host.spin_mops_s": n / spin / 1e6,
        "host.nproc": len(os.sched_getaffinity(0)),
    }


def _stripes(files: list[str]):
    """(blob, footer json) of the files' stripes, up to REPLAY_TOKENS."""
    tokens = 0
    for f in sorted(files):
        t = pq.read_table(f, columns=["blob", "footer", "n_tokens"])
        for blob, footer, n in zip(*(t.column(c).to_pylist() for c in ("blob", "footer", "n_tokens"))):
            yield blob, footer
            tokens += n
            if tokens >= REPLAY_TOKENS:
                return


def kernel_replay(files: list[str]) -> tuple[dict, dict]:
    """Replay the executor-side kernels on one thread over stored stripes:
    footer parse, decode (whole stripe, per column, per stream), then the
    re-encode of the decoded batch (whole stripe, per column, RLEv2, zstd,
    bloom, codec choice). Times are seconds summed over the replayed
    stripes. The second dict says how many tokens were replayed and whether
    every re-encode reproduced its stored blob byte for byte."""
    s: dict[str, float] = defaultdict(float)
    n: dict[str, int] = defaultdict(int)
    tokens, bitexact = 0, True

    def timed(key, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        s[key] += time.perf_counter() - t
        return out

    for blob, fjson in _stripes(files):
        footer = timed("stripe.footer_from_json.s", footer_from_json, fjson)
        cols = list(footer["columns"])
        rb = timed("decode", decode_stripe, blob, footer)
        for c in cols:
            timed(f"stripe.decode_stripe.col.{c}.s", decode_stripe, blob, footer, [c])
        raws = []
        for c, meta in footer["columns"].items():
            for st in meta["streams"]:
                raw = timed("codecs.compression.decompress.s", decompress,
                            blob[st["off"]: st["off"] + st["clen"]], st["comp"], st["rlen"])
                raws.append(raw)
                if st.get("codec") in INT_CODECS:
                    n[f"chooser.codec.{st['codec']}.streams"] += 1
                n["chooser.codec.fsst.streams"] += bool(st.get("fsst"))
                if c == "tokens" and st["kind"] == "DATA" and st.get("codec") == "rle2":
                    timed("codecs.rlev2.decode.s", decode_rlev2, raw, st["n"], st["signed"])
        blob2, _ = timed("encode", encode_stripe, rb)
        bitexact &= blob2 == blob
        for c in cols:
            timed(f"stripe.encode_stripe.col.{c}.s", encode_stripe, rb.select([c]))
        flat = rb.column("tokens").flatten().to_numpy()
        timed("codecs.rlev2.encode.s", encode_rlev2, flat, False)
        for raw in raws:
            timed("codecs.compression.compress.s", compress, raw, "zstd")
        h1, h2 = timed("codecs.bloom.s", bloom.hash_pairs_str_array, rb.column("doc_id"))
        timed("codecs.bloom.s", bloom.bloom_build, h1, h2, bloom.stripe_bloom_bits(len(h1)))
        timed("chooser.choose.s", chooser.choose_int, flat)
        timed("chooser.choose.s", chooser.choose_int,
              rb.column("n_tok").to_numpy().astype(np.int64))
        for c in ("doc_id", "source"):
            arr = rb.column(c)
            _, data = scodec.to_offsets_bytes(arr)
            sample = bytes(data[: chooser.FSST_SAMPLE])
            plan = timed("chooser.choose.s", chooser.choose_string,
                         len(arr), len(pc.unique(arr)), sample)
            n["fsst_tried"] += len(sample) >= 256
            n["fsst_kept"] += plan["fsst"]
        tokens += footer["columns"]["tokens"]["stats"]["n_values"]
    out = {k: v for k, v in s.items() if k not in ("decode", "encode")}
    out["stripe.decode_stripe.mtok_s"] = tokens / s["decode"] / 1e6
    out["stripe.encode_stripe.mtok_s"] = tokens / s["encode"] / 1e6
    for c in INT_CODECS + ("fsst",):
        out[f"chooser.codec.{c}.streams"] = n[f"chooser.codec.{c}.streams"]
    out["chooser.fsst_kept_ratio"] = n["fsst_kept"] / max(1, n["fsst_tried"])
    return out, {"tokens": tokens, "encode_s": s["encode"], "bitexact": bitexact}


def plan_replay(manifest: dict, keys: list[str], repeats: int = 5) -> dict:
    """Driver-side file planning of a key IN-set: range then sidecar-bloom
    pruning over the manifest."""
    preds = normalize_predicates(("doc_id", keys))
    walls, pm = [], {}
    for _ in range(repeats):
        pm = {}
        t = time.perf_counter()
        plan_scan_files(manifest, preds, pm)
        walls.append(time.perf_counter() - t)
    out = {"pipeline.plan_scan_files.s": med(walls)}
    for k in ("files_total", "files_pruned", "files_bloom_pruned"):
        out[f"pipeline.plan_scan_files.{k}"] = pm.get(k, 0)
    return out


def probe_lookup(b, wh: str, snapshot: str, key: str) -> dict:
    """One point lookup with decode_table's prune accumulators attached."""
    pm: dict = {}
    rows = b.op("probe.lookup", lambda: lookup(b, wh, snapshot, key, pm), [key]) or []
    acc = {k: pm[k].value if k in pm else 0
           for k in ("stripes_seen", "stripes_skipped", "stripes_bloom_skipped")}
    decoded = acc["stripes_seen"] - acc["stripes_skipped"]
    out = {f"pipeline.decode.{k}": v for k, v in acc.items()}
    out["lookup.rows_per_stripe_decoded"] = len(rows) / max(1, decoded)
    return out


def probe_round(b, wl) -> dict:
    """The same calls on every workload's main snapshot, so that each layer
    is measured on each workload, the ones no timed loop makes included: a
    verify, a full decode_table read, a read through the tokstripe format
    and a round of row-level changes (Bench.mutate: delete, upsert,
    merge-on-read read, CDC). Each runs twice, unless the loop ran it, and
    the layer time is the second call's, as the first pays the path's
    warm-up; a full read's is the median over the probe's and the loop's."""
    m = wl.model
    for _ in range(1 if b.samples.get("ingest.verify") else 2):
        b.verify("probe.verify", wl.df, wl.wh, wl.snapshot, m)
    b.full_read("probe.decode_table", wl.wh, m)
    b.format_read("probe0.format", wl.wh, m)
    b.format_read("probe.format", wl.wh, m)
    b.mutate("probe0", wl.wh, wl.snapshot, wl.table, m, PROBE_SALT)
    info = b.mutate("probe", wl.wh, wl.snapshot, wl.table, m, PROBE_SALT + 1)
    dels = deletes.delete_files_of(Warehouse(wl.wh).read_manifest(info["snapshot"]))
    walls = []
    for _ in range(5):
        t = time.perf_counter()
        deletes.count_delete_keys(dels)
        walls.append(time.perf_counter() - t)
    fmt = med(b.times("probe.format"))
    dec = med(b.times("scan.decode_table", "probe.decode_table"))
    return {
        "pipeline.verify_roundtrip.s": b.tracer.durations("pipeline.verify_roundtrip")[-1],
        "pipeline.verify.drilldowns": b.drilldowns,
        "spark.verify.stages": med(b.counts("stages", "probe.verify")),
        "datasource.read.s": fmt,
        "datasource.partitions": med(b.counts("max_stage_tasks", "probe.format")),
        "datasource.vs_decode_table": fmt / dec,
        "datasource.vs_decode_table.base_s": dec,
        "deletes.delete_where.s": med(b.times("probe.delete")),
        "deletes.upsert.s": med(b.times("probe.upsert")),
        "deletes.n_deleted": info["n_deleted"],
        "deletes.count_delete_keys.s": med(walls),
        "spark.mor_scan.stages": med(b.counts("stages", "probe.mor_read")),
        "cdc.changes_between.s": med(b.times("probe.cdc")),
        "cdc.rows_per_changed_key": info["cdc_rows"] / info["changed_keys"],
    }


def blob_scan(b, files: list[str], enc_bytes: int, repeats: int = 2) -> float:
    """The JVM parquet scan under every decode: read the blob and footer
    columns of the snapshot's files and nothing else."""

    def run():
        r = b.spark.read.parquet(*files).agg(
            F.sum(F.length("blob")), F.count("footer")).first()
        return int(r[0])

    for _ in range(repeats):
        b.op("probe.blob_scan", run, enc_bytes)
    return med(b.samples["probe.blob_scan"])


def commit_replay(wh: str, snapshot: str, scratch: str, repeats: int = 5) -> dict:
    """Re-commit the snapshot's manifest into a copy of the warehouse's
    manifest directory (so the commit log is as long as the run left it),
    and time the commit-log read."""
    src = Warehouse(wh)
    m = src.read_manifest(snapshot)
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.copytree(src.manifest_dir, os.path.join(scratch, "manifests"))
    w = Warehouse(scratch)
    commits, logs = [], []
    for r in range(repeats):
        t = time.perf_counter()
        w.commit(f"replay-{r}", dict(m["partitions"]), dict(m["schema"]),
                 extra={"operation": "replay"})
        commits.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.commit_log()
        logs.append(time.perf_counter() - t)
    return {
        "warehouse.commit.s": med(commits),
        "warehouse.commit_log.s": med(logs),
        "warehouse.commit_log.len": len(src.commit_log()),
        "warehouse.manifest_bytes": os.path.getsize(src.manifest_file(snapshot)),
    }


def traced_layers(b, wl, cpus: int) -> dict:
    """Every per-layer number of a traced run, from its spans and from
    probes run after its loop on the workload's main snapshot."""
    tr = b.tracer
    manifest = Warehouse(wl.wh).read_manifest(wl.snapshot)
    parts = list(manifest["partitions"].values())
    files = [p["file"] for p in parts]
    out = {
        "fixtures.gen_s": med(tr.durations("fixtures.tokens_arrow")),
        "setup.encode_s": med(b.samples["setup.encode"]),
        "pipeline.encode_table.s": med(tr.durations("pipeline.encode_table")),
        "storage.enc_bytes": sum(p["enc_bytes"] for p in parts),
        "storage.files": len(parts),
        "storage.stripes": sum(p["stripes"] for p in parts),
    }
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        out[f"spark.encode.{k}"] = med(b.counts(k, "setup.encode", "ingest.encode"))
    replay, info = kernel_replay(files)
    out.update(replay)
    b.op("probe.replay_bitexact", lambda: info["bitexact"], True)
    # the kernels' share of the encode wall if spread perfectly over the cores
    kernel_s = info["encode_s"] / info["tokens"] * wl.model.tokens / cpus
    out["pipeline.encode_table.unattributed_s"] = out["pipeline.encode_table.s"] - kernel_s
    keys = wl.model.keys(b.rng(PROBE_SALT), 3)
    out.update(plan_replay(manifest, keys))
    out.update(probe_lookup(b, wl.wh, wl.snapshot, keys[0]))
    out["pipeline.decode_table.plan_s"] = med(tr.durations("pipeline.decode_table"))
    out["pipeline.decode_table.exec_s"] = med(tr.durations("pipeline.decode_table.exec"))
    out["blob_scan.s"] = blob_scan(b, files, out["storage.enc_bytes"])
    out.update(probe_round(b, wl))
    out.update(commit_replay(wl.wh, wl.snapshot, b.path("commit-replay")))
    return out

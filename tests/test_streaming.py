"""Streaming ingestion: files arrive -> micro-batch encode -> snapshots in
the warehouse; decoded union equals everything ingested (bit-equality);
windowed watermarked stats run on the same stream."""

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orc_spark.fixtures import tokens_arrow
from orc_spark.pipeline import decode_table, verify_roundtrip
from orc_spark.streaming import (
    encode_stream,
    read_tokens_stream,
    running_source_totals,
    windowed_token_stats,
)
from orc_spark.warehouse import Warehouse


def test_stream_encode_exactly_once(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    t = tokens_arrow(300)
    pq.write_table(t.slice(0, 150), str(inp / "part-0.parquet"))
    pq.write_table(t.slice(150), str(inp / "part-1.parquet"))

    wh = str(tmp_path / "wh")
    q = encode_stream(
        read_tokens_stream(spark, str(inp)),
        wh,
        checkpoint=str(tmp_path / "ckpt"),
        salt_buckets=2,
        stripe_tokens=50_000,
    )
    q.awaitTermination(180)

    w = Warehouse(wh)
    snaps = sorted(
        f[5:-5]
        for f in os.listdir(w.manifest_dir)
        if f.startswith("snap-stream-")
    )
    assert len(snaps) >= 1
    # union of all streaming snapshots == everything ingested, bit-identical
    dec = None
    for s in snaps:
        d = decode_table(spark, wh, snapshot=s)
        dec = d if dec is None else dec.unionAll(d)
    orig = spark.createDataFrame(t.to_pandas())
    res = verify_roundtrip(orig, dec)
    assert res["ok"], res

    # re-running over the same input+checkpoint is a no-op (exactly-once)
    q2 = encode_stream(
        read_tokens_stream(spark, str(inp)),
        wh,
        checkpoint=str(tmp_path / "ckpt"),
        salt_buckets=2,
        stripe_tokens=50_000,
    )
    q2.awaitTermination(120)
    assert verify_roundtrip(orig, dec)["ok"]


def test_stream_restart_recovery_from_checkpoint(spark, tmp_path):
    """Exactly-once ACROSS a driver restart (verdict r3 item 8): kill a
    running continuous-trigger query mid-stream, restart a fresh query from
    the same checkpointLocation, and prove the warehouse ends with no
    missing and no duplicated rows — Spark replays the in-flight batch_id
    and encode_table's per-snapshot idempotence (a committed snapshot is
    returned as is, complete orphans adopted) makes the replay converge."""
    import time

    inp = tmp_path / "in_restart"
    inp.mkdir()
    t = tokens_arrow(400)
    for i in range(4):
        pq.write_table(t.slice(i * 100, 100), str(inp / f"part-{i}.parquet"))

    wh = str(tmp_path / "wh_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    w = Warehouse(wh)

    def committed_snaps():
        if not os.path.isdir(w.manifest_dir):
            return []
        return sorted(
            f[5:-5]
            for f in os.listdir(w.manifest_dir)
            if f.startswith("snap-stream-")
        )

    # phase 1: continuous trigger, one file per micro-batch; kill the query
    # as soon as the first snapshot commits (so later batches are pending
    # or in flight — the restart has real work left to do)
    q = encode_stream(
        read_tokens_stream(spark, str(inp)),
        wh,
        checkpoint=ckpt,
        salt_buckets=2,
        stripe_tokens=50_000,
        available_now=False,
    )
    deadline = time.monotonic() + 180
    while time.monotonic() < deadline and not committed_snaps():
        time.sleep(0.2)
    assert committed_snaps(), "no snapshot committed before kill"
    q.stop()  # mid-stream kill; batch in flight is abandoned uncommitted
    n_before = len(committed_snaps())
    assert n_before < 4, "kill landed after the whole backlog drained"

    # phase 2: fresh query, SAME checkpoint — drains the remainder
    q2 = encode_stream(
        read_tokens_stream(spark, str(inp)),
        wh,
        checkpoint=ckpt,
        salt_buckets=2,
        stripe_tokens=50_000,
    )
    q2.awaitTermination(180)

    snaps = committed_snaps()
    assert len(snaps) > n_before
    # no duplicates: committed row counts across snapshots sum exactly once
    total_rows = sum(
        p["n_rows"]
        for s in snaps
        for p in w.read_manifest(s)["partitions"].values()
    )
    assert total_rows == 400
    # no missing / no corruption: decoded union is bit-identical to input
    dec = None
    for s in snaps:
        d = decode_table(spark, wh, snapshot=s)
        dec = d if dec is None else dec.unionAll(d)
    orig = spark.createDataFrame(t.to_pandas())
    res = verify_roundtrip(orig, dec)
    assert res["ok"], res


def test_windowed_stats_stream(spark, tmp_path):
    import pyarrow as pa

    inp = tmp_path / "in2"
    inp.mkdir()
    t = tokens_arrow(100)
    import datetime

    ts = pa.array(
        [datetime.datetime(2024, 1, 1, 0, i % 5) for i in range(100)],
        type=pa.timestamp("us"),
    )
    pq.write_table(t.append_column("ts", ts), str(inp / "p.parquet"))
    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
        )
        .parquet(str(inp))
    )
    out = windowed_token_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("winstats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM winstats").collect()
    assert rows
    assert sum(r["n_docs"] for r in rows) == 100
    assert all(r["n_tokens"] > 0 for r in rows)


def test_running_source_totals_stateful(spark, tmp_path):
    """applyInPandasWithState: cumulative per-source totals must carry state
    ACROSS micro-batches (second batch's emission includes the first's
    counts) and end exactly equal to the batch ground truth."""
    inp = tmp_path / "in3"
    inp.mkdir()
    t = tokens_arrow(200)
    pq.write_table(t.slice(0, 100), str(inp / "part-0.parquet"))
    pq.write_table(t.slice(100), str(inp / "part-1.parquet"))

    stream = read_tokens_stream(spark, str(inp), max_files=1)  # 2 micro-batches
    q = (
        running_source_totals(stream)
        .writeStream.format("memory")
        .queryName("runtotals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM runtotals").collect()
    assert rows
    # last emission per source == exact batch totals over ALL ingested rows
    import collections

    last = {}
    for r in rows:  # memory sink appends in emission order
        last[r["source"]] = (r["total_docs"], r["total_tokens"])
    pdf = t.to_pandas()
    expect = {
        s: (int(g["doc_id"].count()), int(g["n_tok"].sum()))
        for s, g in pdf.groupby("source")
    }
    assert last == expect
    # state actually accumulated: some source must appear twice with growing
    # totals (two micro-batches over a shuffled table)
    seen = collections.Counter(r["source"] for r in rows)
    assert max(seen.values()) >= 2

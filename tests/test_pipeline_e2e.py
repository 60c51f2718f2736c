"""End-to-end Spark pipeline: encode -> warehouse -> decode -> bit-equality,
plus checkpoint/resume semantics (a committed snapshot returned as is, orphan
files from a killed run adopted, only missing partitions re-encoded)."""

import json
import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from orc_spark.fixtures import tokens_arrow
from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip
from orc_spark.warehouse import Warehouse

N_DOCS = 600
SALT = 4


@pytest.fixture(scope="module")
def input_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("input")
    pq.write_table(tokens_arrow(N_DOCS), str(p / "part-0.parquet"))
    return str(p)


@pytest.fixture(scope="module")
def encoded(spark, input_path, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    df = spark.read.parquet(input_path)
    manifest = encode_table(spark, df, wh, snapshot="s1", salt_buckets=SALT, stripe_tokens=100_000)
    return wh, df, manifest


def test_roundtrip_bit_equality(spark, encoded):
    wh, df, _ = encoded
    res = verify_roundtrip(df, decode_table(spark, wh))
    assert res == {"missing": 0, "extra": 0, "ok": True}


def test_manifest_lineage_and_metrics(encoded):
    wh, _, manifest = encoded
    assert manifest["snapshot_id"] == "s1"
    total = 0
    for pid, p in manifest["partitions"].items():
        assert p["file"].startswith(wh)
        assert os.path.exists(p["file"])
        assert p["n_tokens"] > 0 and p["enc_bytes"] > 0
        assert p["min_doc_id"] <= p["max_doc_id"]  # lineage: input row range
        assert p["tokens_per_s"] is None or p["tokens_per_s"] > 0
        total += p["n_rows"]
    assert total == N_DOCS


def test_size_gate_e2e(encoded):
    _, _, manifest = encoded
    ntok = sum(p["n_tokens"] for p in manifest["partitions"].values())
    nbytes = sum(p["enc_bytes"] for p in manifest["partitions"].values())
    assert nbytes / ntok <= 1.469


def test_projection_decode(spark, encoded):
    wh, df, _ = encoded
    dec = decode_table(spark, wh, columns=["doc_id", "n_tok"])
    assert dec.columns == ["doc_id", "n_tok"]
    assert dec.count() == N_DOCS


def test_resume_skips_committed_and_adopts_orphans(spark, encoded, tmp_path):
    """Simulate a killed run: some partitions written but not committed
    (orphans), the rest missing. Resume must adopt the orphans, re-encode
    ONLY the missing ones, and produce identical output; a re-run of the
    committed snapshot returns its manifest unchanged and starts no job."""
    wh1, df, m1 = encoded
    wh2 = str(tmp_path / "wh2")
    w2 = Warehouse(wh2)
    pids = sorted(m1["partitions"].keys())
    orphaned = pids[: 2 * len(pids) // 3]
    for pid in orphaned:
        dst = w2.data_file(pid, "s1")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(m1["partitions"][pid]["file"], dst)

    m2 = encode_table(spark, df, wh2, snapshot="s1", salt_buckets=SALT, stripe_tokens=100_000)

    assert set(m2["partitions"]) == set(pids)
    for pid in pids:  # adopted, not re-encoded; the rest encoded
        assert m2["partitions"][pid].get("adopted", False) is (pid in orphaned)
    res = verify_roundtrip(df, decode_table(spark, wh2))
    assert res["ok"]

    before = open(w2.manifest_file("s1"), "rb").read()
    sc = spark.sparkContext
    sc.setJobGroup("rerun-committed", "rerun-committed")
    try:
        m3 = encode_table(spark, df, wh2, snapshot="s1", salt_buckets=SALT,
                          stripe_tokens=100_000)
    finally:
        sc.setJobGroup("after-rerun", "after-rerun")
    assert list(sc.statusTracker().getJobIdsForGroup("rerun-committed")) == []
    assert open(w2.manifest_file("s1"), "rb").read() == before
    assert m3 == json.loads(before)


def test_second_snapshot_has_parent(spark, encoded):
    wh, df, _ = encoded
    m2 = encode_table(spark, df, wh, snapshot="s2", salt_buckets=SALT, stripe_tokens=100_000)
    assert m2["parent"] == "s1"
    assert Warehouse(wh).current_snapshot_id() == "s2"


def test_manifest_is_valid_json_on_disk(encoded):
    wh, _, _ = encoded
    m = json.load(open(Warehouse(wh).manifest_file("s1")))
    assert m["partitions"]


def test_format_writer_task_clusters_interleaved_pids(tmp_path, monkeypatch):
    """The format writer's task needs NO pid-sorted input: its in-task
    exchange clusters batches whose pids interleave fully, a pid spanning
    several map chunks and segments, into one file per pid holding exactly
    that pid's rows, cut into stripes of at most stripe_tokens plus one
    row."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from orc_spark import exchange
    from orc_spark.datasource import _encode_task
    from orc_spark.stripe import decode_stripe, footer_from_json

    monkeypatch.setattr(exchange, "MAP_CHUNK_BYTES", 2_000)

    def batch(rows):  # rows: list of (doc_id, tokens, source)
        return pa.record_batch(
            {
                "doc_id": pa.array([r[0] for r in rows]),
                "tokens": pa.array([r[1] for r in rows], type=pa.list_(pa.int32())),
                "n_tok": pa.array([len(r[1]) for r in rows], type=pa.int32()),
                "source": pa.array([r[2] for r in rows]),
            }
        )

    rng = np.random.RandomState(3)
    rows = [
        (f"d{i:04d}", rng.randint(0, 1000, rng.randint(1, 40)).tolist(), ["a", "b", "c"][i % 3])
        for i in range(300)
    ]
    rng.shuffle(rows)  # pids arrive fully interleaved
    batches = [batch(rows[i : i + 50]) for i in range(0, 300, 50)]
    # every batch is a map chunk of its own: each pid spans six segments
    assert all(b.nbytes >= exchange.MAP_CHUNK_BYTES for b in batches)

    stripe_tokens = 500
    metas = _encode_task(
        {"path": str(tmp_path), "salt_buckets": "1", "stripe_tokens": str(stripe_tokens)},
        from_arrow_schema(batches[0].schema), "t", iter(batches),
    )
    assert set(metas) == {"a#0@w0", "b#0@w0", "c#0@w0"}
    assert sum(m["n_rows"] for m in metas.values()) == len(rows)

    got = {}
    for pid, m in metas.items():
        t = pq.read_table(m["file"])
        assert m["stripes"] == t.num_rows >= 2
        for blob, fj in zip(t.column("blob").to_pylist(), t.column("footer").to_pylist()):
            stripe = decode_stripe(blob, footer_from_json(fj)).to_pylist()
            assert {r["source"] for r in stripe} == {pid[0]}
            n = [r["n_tok"] for r in stripe]
            assert sum(n) - max(n) <= stripe_tokens
            for r in stripe:
                got[r["doc_id"]] = (r["tokens"], r["source"])
    assert got == {d: (t_, s) for d, t_, s in rows}
    assert os.listdir(os.path.join(tmp_path, "exchange")) == []


def test_row_digest_distinguishes_null_shapes(spark):
    """The verify digest must distinguish the collision classes raw
    xxhash64 folds collapse (nulls are identity elements there): NULL vs
    empty array, dropped null elements, and column swaps — exactly the
    shapes a PRESENT-stream decode bug would produce (regression r3)."""
    from orc_spark.pipeline import row_digest

    df = spark.createDataFrame(
        [("a", None), ("a", []), ("a", [1, None]), ("a", [1])],
        "s string, arr array<int>",
    )
    digests = [r[0] for r in df.select(row_digest(["s", "arr"])).collect()]
    assert len(set(digests)) == 4
    df2 = spark.createDataFrame([("x", None), (None, "x")], "a string, b string")
    d2 = [r[0] for r in df2.select(row_digest(["a", "b"])).collect()]
    assert d2[0] != d2[1]


def test_generic_table_layouts_roundtrip(spark, tmp_path):
    """Any table encodes through the same pipeline by naming its layout:
    the events table (int64 key, timestamp/double payload, event_type as
    partition source) and the embeddings table (list<float> payload, no
    source) both roundtrip bit-equal, and file pruning works on the int
    key's native order (not string collation)."""
    wh = str(tmp_path / "wh")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    m = encode_table(
        spark, ev, wh, snapshot="ev",
        key_col="event_id", source_col="event_type", weight_col=None,
        stripe_tokens=500, salt_buckets=4,
    )
    assert m["layout"] == {
        "key_col": "event_id", "source_col": "event_type", "weight_col": None
    }
    dec = decode_table(spark, wh, "ev")
    assert dec.orderBy("event_id").collect() == ev.orderBy("event_id").collect()

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    encode_table(
        spark, emb, wh, snapshot="em",
        key_col="vec_id", source_col=None, weight_col=None,
        stripe_tokens=200, salt_buckets=2,
    )
    dec2 = decode_table(spark, wh, "em")
    assert dec2.orderBy("vec_id").collect() == emb.orderBy("vec_id").collect()

    # native int-key file pruning: an IN-set of 2 ids must not decode every
    # file (string collation over int ids would make ranges useless)
    ids = [r["event_id"] for r in ev.limit(2).collect()]
    pm = {}
    got = decode_table(spark, wh, "ev", predicate=[("event_id", ids)], prune_metrics=pm)
    assert got.count() == 2
    assert pm["files_pruned"] > 0

    # partition-key pruning on the generic source column
    etype = ev.first()["event_type"]
    pm2 = {}
    got2 = decode_table(spark, wh, "ev", predicate=[("event_type", [etype])], prune_metrics=pm2)
    assert got2.count() == ev.filter(F.col("event_type") == etype).count()
    assert pm2["files_pruned"] > 0


def test_sigkill_mid_encode_then_resume(spark, tmp_path):
    """The north rule's resume clause, tested for real: SIGKILL the whole
    process GROUP of a running `python job.py` encode (driver + JVM +
    Python workers — killing only the driver would orphan a JVM that keeps
    writing), then re-run the identical command. The resumed run must adopt
    the killed run's complete-but-uncommitted files and/or re-encode the
    rest, commit a full manifest, and decode bit-identically."""
    import signal
    import subprocess
    import sys as _sys
    import time as _time

    import pyarrow.parquet as pq

    from orc_spark.fixtures import tokens_arrow

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = str(tmp_path / "tokens.parquet")
    wh = str(tmp_path / "wh")
    df_t = tokens_arrow(150_000)  # ~60M tokens: encode outlives the kill poll
    pq.write_table(df_t, inp, row_group_size=8192)
    cmd = [
        _sys.executable, os.path.join(repo, "job.py"),
        "--input", inp, "--warehouse", wh,
        "--snapshot", "s1", "--cpus", "4",
    ]
    p = subprocess.Popen(
        cmd, cwd=repo, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    # kill as soon as at least one data file has been atomically renamed in
    deadline = _time.time() + 180
    while _time.time() < deadline:
        if glob.glob(f"{wh}/data/pid=*/snap-s1.parquet"):
            break
        if p.poll() is not None:
            pytest.fail("job finished before any data file appeared")
        _time.sleep(0.05)
    else:
        pytest.fail("no data file appeared within 180s")
    os.killpg(p.pid, signal.SIGKILL)
    p.wait()

    w = Warehouse(wh)
    survivors = w.orphan_files("s1")
    assert w.read_manifest("s1") is None  # killed before the single commit
    assert survivors, "kill landed before any complete file existed"

    out = subprocess.run(
        cmd, cwd=repo, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]

    m = w.read_manifest("s1")
    assert m is not None
    adopted = [p_ for p_ in m["partitions"].values() if p_.get("adopted")]
    assert adopted, "resume adopted none of the killed run's files"
    df = spark.createDataFrame(df_t.to_pandas())
    dec = decode_table(spark, wh, "s1")
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0

"""Key-column bloom filters: hashing determinism, filter math, and the
file-sidecar + stripe-footer pruning path in decode_table.

The correctness contract is transparency: a bloom may only SKIP work, never
change results — every e2e test here compares a bloom-pruned decode against
the unpruned decode + exact filter."""

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from orc_spark.codecs import bloom as B
from orc_spark.pipeline import decode_table, encode_table, stripe_bloom_matches


# -- hashing --------------------------------------------------------------

def test_scalar_and_array_string_hashes_agree():
    vals = [
        "", "a", "doc-0000012345", "x" * 7, "y" * 8, "z" * 9,
        "héllo wörld", "m" * 100, "prefix__AAAA__" + "s" * 20,
    ]
    h1a, h2a = B.hash_pairs_str_array(pa.array(vals, type=pa.string()))
    for i, v in enumerate(vals):
        s1, s2 = B.hash_pair_str_scalar(v)
        assert (s1, s2) == (int(h1a[i]), int(h2a[i])), v


def test_array_hash_handles_sliced_offsets():
    sl = pa.array(["aa", "bbq", "cc", "dd"]).slice(1, 2)
    h1s, _ = B.hash_pairs_str_array(sl)
    h1f, _ = B.hash_pairs_str_array(pa.array(["bbq", "cc"]))
    assert (h1s == h1f).all()


def test_middle_bytes_change_the_hash():
    # differ only at positions 8-11 of a 34-byte string — outside all three
    # fixed windows; the position-weighted byte sum must catch it
    a = "prefix__AAAA__" + "s" * 20
    b = "prefix__BBBB__" + "s" * 20
    assert B.hash_pair_str_scalar(a) != B.hash_pair_str_scalar(b)


def test_int_hash_scalar_vs_array_paths_agree():
    keys = [0, 1, -5, 2**62, 7919]
    h1a, h2a = B.hash_pairs_int(np.array(keys, dtype=np.int64))
    h1b, h2b = B.hash_pairs_probe(keys, is_string=False)
    assert (h1a == h1b).all() and (h2a == h2b).all()


# -- filter math ----------------------------------------------------------

def test_bloom_no_false_negatives_and_low_fpp():
    keys = np.arange(10_000, dtype=np.int64) * 7919
    h1, h2 = B.hash_pairs_int(keys)
    bits = B.bloom_build(h1, h2, B.stripe_bloom_bits(len(keys)))
    assert B.bloom_might_contain(bits, h1, h2).all()  # never a false negative
    probe = np.arange(1, 100_001, dtype=np.int64) * 7919 + 1
    fpp = B.bloom_might_contain(bits, *B.hash_pairs_int(probe)).mean()
    assert fpp < 0.03


def test_saturated_bloom_is_ignored():
    meta = B.bloom_to_meta(np.full(64, 0xFF, dtype=np.uint8), 1)
    assert B.bloom_from_meta(meta) is None
    assert B.meta_might_contain(meta, ["anything"], True)  # conservative


def test_meta_roundtrip_and_malformed_meta_conservative():
    h1, h2 = B.hash_pairs_probe(["k1", "k2"], True)
    bits = B.bloom_build(h1, h2, 512)
    meta = B.bloom_to_meta(bits, 2)
    assert B.meta_might_contain(meta, ["k1"], True)
    assert not B.meta_might_contain(meta, ["absent-key-xyz"], True)
    assert B.meta_might_contain({}, ["x"], True)
    assert B.meta_might_contain({"m": 1, "k": 99, "b64": ""}, ["x"], True)


def test_stripe_bloom_matches_footer_contract():
    h1, h2 = B.hash_pairs_probe(["d1", "d2"], True)
    bl = B.bloom_to_meta(B.bloom_build(h1, h2, 512), 2)
    footer = {
        "schema": {"doc_id": "string"},
        "columns": {"doc_id": {"stats": {"bloom": bl}}, "other": {}},
    }
    assert stripe_bloom_matches(footer, ("in", "doc_id", ["d1"]))
    assert not stripe_bloom_matches(footer, ("in", "doc_id", ["nope"]))
    # columns without a bloom are conservative
    assert stripe_bloom_matches(footer, ("in", "other", ["x"]))
    assert stripe_bloom_matches(footer, ("in", "missing", ["x"]))


# -- e2e pruning ----------------------------------------------------------

def _tokens_df(spark, n=3000):
    return (
        spark.range(n)
        .select(
            F.format_string("d%06d", (F.col("id") * 131) % n).alias("doc_id"),
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 40) + 5),
                lambda i: (i * 13 % 997).cast("int"),
            ).alias("tokens"),
            F.lit("s").alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


def _metrics_values(m):
    return {k: (v.value if hasattr(v, "value") else v) for k, v in m.items()}


@pytest.fixture(scope="module")
def bloom_wh(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("bloom_wh"))
    encode_table(
        spark, _tokens_df(spark), wh, snapshot="b1",
        salt_buckets=6, stripe_tokens=3_000,
    )
    return wh


def test_sidecars_written_per_data_file(bloom_wh):
    data = glob.glob(bloom_wh + "/data/pid=*/snap-b1.parquet")
    sides = glob.glob(bloom_wh + "/data/pid=*/snap-b1.parquet.bloom.json")
    assert len(data) == len(sides) > 0
    meta = json.load(open(sides[0]))
    assert meta["column"] == "doc_id" and meta["k"] == B.BLOOM_K


def test_point_lookup_prunes_files_and_stripes(spark, bloom_wh):
    # mid-range ids: every partition's [min,max] contains them, so any file
    # skipped is the bloom's doing
    ids = ["d001500", "d002222"]
    m = {}
    got = decode_table(
        spark, bloom_wh, "b1", predicate=[("doc_id", ids)], prune_metrics=m
    ).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(ids)
    mv = _metrics_values(m)
    assert mv["files_bloom_pruned"] > 0
    # surviving files hold several stripes; the ids live in ~2 of them
    assert mv["stripes_bloom_skipped"] > 0


def test_absent_in_range_ids_prune_everything(spark, bloom_wh):
    m = {}
    out = decode_table(
        spark, bloom_wh, "b1",
        predicate=[("doc_id", ["d001500x", "d002222y"])], prune_metrics=m,
    )
    assert out.count() == 0
    mv = _metrics_values(m)
    assert mv["files_pruned"] + mv["files_bloom_pruned"] == mv["files_total"]


def test_bloom_pruning_is_transparent(spark, bloom_wh):
    ids = ["d000042", "d001500", "d002999", "d000000"]
    pruned = decode_table(
        spark, bloom_wh, "b1", predicate=[("doc_id", ids)]
    )
    full = decode_table(spark, bloom_wh, "b1").where(F.col("doc_id").isin(ids))
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0


def test_missing_sidecars_still_correct(spark, bloom_wh):
    for s in glob.glob(bloom_wh + "/data/pid=*/snap-b1.parquet.bloom.json"):
        os.rename(s, s + ".hidden")
    try:
        ids = ["d001500", "d002222"]
        m = {}
        got = decode_table(
            spark, bloom_wh, "b1", predicate=[("doc_id", ids)], prune_metrics=m
        ).collect()
        assert sorted(r["doc_id"] for r in got) == sorted(ids)
        mv = _metrics_values(m)
        assert mv["files_bloom_pruned"] == 0  # nothing to prune with
        assert mv["stripes_bloom_skipped"] > 0  # stripe blooms still fire
    finally:
        for s in glob.glob(bloom_wh + "/data/pid=*/*.hidden"):
            os.rename(s, s[: -len(".hidden")])


def test_int_key_bloom_through_generic_layout(spark, tmp_path):
    wh = str(tmp_path / "intwh")
    df = spark.range(2000).select(
        (F.col("id") * 7).alias("event_id"),
        (F.col("id") % 3).cast("string").alias("etype"),
        (F.col("id") * 2).cast("double").alias("value"),
    )
    encode_table(
        spark, df, wh, snapshot="i1", salt_buckets=4, stripe_tokens=300,
        key_col="event_id", source_col="etype", weight_col=None,
    )
    m = {}
    got = decode_table(
        spark, wh, "i1", predicate=[("event_id", [7 * 500, 7 * 1500])],
        prune_metrics=m,
    ).collect()
    assert sorted(r["event_id"] for r in got) == [3500, 10500]
    mv = _metrics_values(m)
    assert mv["files_bloom_pruned"] + mv["stripes_bloom_skipped"] > 0
    # absent-but-in-range int keys
    m2 = {}
    assert (
        decode_table(
            spark, wh, "i1", predicate=[("event_id", [7 * 500 + 1])],
            prune_metrics=m2,
        ).count()
        == 0
    )

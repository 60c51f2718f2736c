"""What a stripe file costs on disk: the Parquet wrapper holds no column
statistics and no dictionary page, each bloom sidecar is sized to its
file's keys (not a fixed 1 Mbit), and concat compaction rebuilds the merged
sidecar for the union of its sources' keys."""

import glob
import json

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from orc_spark.codecs import bloom as B
from orc_spark.maintenance import compact_snapshots
from orc_spark.pipeline import encode_table
from orc_spark.stripe import decode_stripe, footer_from_json

SNAPS = ["e0", "e1", "e2"]


def _df(spark, epoch: int, n=600):
    return (
        spark.range(epoch * n, (epoch + 1) * n)
        .select(
            F.format_string("k%07d", F.col("id")).alias("doc_id"),
            F.transform(
                F.sequence(F.lit(1), (F.col("id") % 29) + 3),
                lambda i: ((i * 17 + F.col("id")) % 50257).cast("int"),
            ).alias("tokens"),
            F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stripe_files"))
    for e, s in enumerate(SNAPS):
        encode_table(spark, _df(spark, e), path, snapshot=s, salt_buckets=3,
                     stripe_tokens=3_000)
    compact_snapshots(spark, path, SNAPS, "merged")
    return path


def _files(wh, snap):
    files = sorted(glob.glob(f"{wh}/data/pid=*/snap-{snap}.parquet"))
    assert files
    return files


def _keys(f):
    t = pq.read_table(f, columns=["blob", "footer"])
    return [k for blob, footer in zip(t.column("blob"), t.column("footer"))
            for k in decode_stripe(blob.as_buffer(), footer_from_json(str(footer)),
                                   ["doc_id"]).column(0).to_pylist()]


def _sidecar(f):
    meta = json.load(open(f + ".bloom.json"))
    bits = B.bloom_from_meta(meta)
    assert bits is not None, "sidecar unreadable or saturated"
    return meta, bits


def test_stripe_files_have_no_parquet_stats_or_dictionary(wh):
    for f in _files(wh, SNAPS[0]) + _files(wh, "merged"):
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            cols = {md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i)
                    for i in range(md.num_columns)}
            for name in ("blob", "footer"):
                assert not cols[name].is_stats_set, (f, name)
                assert not cols[name].has_dictionary_page, (f, name)


def test_sidecars_are_sized_to_their_keys(wh):
    for f in _files(wh, SNAPS[1]):
        meta, bits = _sidecar(f)
        keys = _keys(f)
        assert meta["n"] == len(keys)
        assert meta["m"] == B.file_bloom_bits(len(keys)) < B.FILE_BLOOM_BITS
        assert B.bloom_fill(bits) <= 0.5
        h1, h2 = B.hash_pairs_probe(keys, True)
        assert B.bloom_might_contain(bits, h1, h2).all()


def test_merged_sidecar_covers_the_union_of_keys(wh):
    for f in _files(wh, "merged"):
        pid = f.split("/pid=")[1].split("/")[0]
        src = [g for s in SNAPS for g in glob.glob(f"{wh}/data/pid={pid}/snap-{s}.parquet")]
        assert len(src) == len(SNAPS)
        meta, bits = _sidecar(f)
        keys = _keys(f)
        assert sorted(keys) == sorted(k for g in src for k in _keys(g))
        assert meta["column"] == "doc_id" and meta["n"] == len(keys)
        assert meta["m"] == B.file_bloom_bits(len(keys))
        assert meta["m"] >= max(_sidecar(g)[0]["m"] for g in src)
        assert B.bloom_fill(bits) <= 0.5
        h1, h2 = B.hash_pairs_probe(keys, True)
        assert B.bloom_might_contain(bits, h1, h2).all()
        # the same filter a writer of the union would build at that size
        assert np.array_equal(bits, B.bloom_build(h1, h2, meta["m"]))


@pytest.mark.parametrize("n", [1, 51, 400, 5000])
def test_fold_equals_a_bloom_built_at_the_smaller_size(n):
    keys = [f"doc-{i:010d}" for i in range(n)]
    h1, h2 = B.hash_pairs_probe(keys, True)
    m = B.file_bloom_bits(n)
    big = B.bloom_build(h1, h2, B.FILE_BLOOM_BITS)
    assert np.array_equal(B.fold(big, m), B.bloom_build(h1, h2, m))
    assert B.fold(big, B.FILE_BLOOM_BITS) is big

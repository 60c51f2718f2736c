"""The stripe-file writer's lifecycle (pipeline._PidWriter): it owns its
temp files, so an aborted format write removes only the files its own
tasks staged, and a writer that fails, in the encode or in a concat copy,
leaves no temp file behind."""

import glob
import os

import pytest
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from orc_spark import pipeline
from orc_spark.datasource import TokstripeStreamWriter, TokstripeWriter, _CommitMsg
from orc_spark.fixtures import tokens_arrow
from orc_spark.maintenance import compact_snapshots
from orc_spark.pipeline import REDUCE_TIMERS, _make_encoder, _PidWriter, decode_table, encode_table
from orc_spark.warehouse import Warehouse, sidecar_file

SCHEMA = StructType([
    StructField("doc_id", StringType()), StructField("tokens", ArrayType(IntegerType())),
    StructField("n_tok", IntegerType()), StructField("source", StringType()),
])


def _temps(path):
    return glob.glob(os.path.join(path, "data", "*", "*.inprogress-*"))


def test_an_aborted_format_write_leaves_other_writers_alone(spark, tmp_path):
    path = str(tmp_path / "wh")
    t = tokens_arrow(300)
    mine = _PidWriter(path, "mine", "a#0")
    mine.write_stripe(t.slice(0, 100))
    other = _PidWriter(path, "other", "b#0")
    other.write_stripe(t.slice(100, 100))
    staged = other.close()
    msgs = [_CommitMsg({staged["pid"]: staged}), None]
    opts = {"path": path, "snapshot": "other"}
    TokstripeWriter(opts, SCHEMA, False).abort(msgs)
    TokstripeStreamWriter(opts, SCHEMA).abort(msgs, 0)
    # the aborted write's own files are gone ...
    assert not os.path.exists(staged["file"])
    assert not os.path.exists(sidecar_file(staged["file"]))
    # ... and the writer it did not start still closes and commits
    mine.write_stripe(t.slice(200))
    meta = mine.close()
    assert _temps(path) == []
    Warehouse(path).commit(
        "mine", {meta["pid"]: {k: v for k, v in meta.items() if k not in REDUCE_TIMERS}},
        {f.name: f.dataType.simpleString() for f in SCHEMA.fields},
    )
    got = decode_table(spark, path, "mine").select("doc_id").collect()
    assert sorted(r["doc_id"] for r in got) == sorted(t.column("doc_id").to_pylist()[:100]
                                                     + t.column("doc_id").to_pylist()[200:])


def test_a_failed_encode_leaves_no_temp_file(tmp_path, monkeypatch):
    path = str(tmp_path / "wh")
    real, calls = pipeline.encode_stripe, []

    def flaky(tbl):
        # the pid's first stripe is written, its second raises mid-file
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("encode_stripe failed")
        return real(tbl)

    monkeypatch.setattr(pipeline, "encode_stripe", flaky)
    encode = _make_encoder(path, "s", stripe_tokens=2_000)
    groups = [("a#0", iter(tokens_arrow(200).to_batches(max_chunksize=50)))]
    with pytest.raises(RuntimeError, match="encode_stripe failed"):
        list(encode(groups))
    assert len(calls) == 2
    assert glob.glob(os.path.join(path, "data", "*", "*")) == []


def test_a_failed_concat_leaves_no_temp_file(spark, tmp_path):
    path = str(tmp_path / "wh")
    df = spark.createDataFrame(tokens_arrow(300).to_pandas())
    for s in ("e0", "e1"):
        encode_table(spark, df, path, snapshot=s, salt_buckets=1, stripe_tokens=20_000)
    # the second source of every pid is unreadable: each copy fails after
    # its writer has copied the first source into its temp file
    bad = Warehouse(path).committed_files("e1")
    for f in bad:
        with open(f, "r+b") as fh:
            fh.truncate(os.path.getsize(f) // 2)
    with pytest.raises(Exception):
        compact_snapshots(spark, path, ["e0", "e1"], "merged")
    assert _temps(path) == []
    assert glob.glob(os.path.join(path, "data", "*", "snap-merged.parquet*")) == []
    assert "merged" not in Warehouse(path).commit_log()

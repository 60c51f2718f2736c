"""Stripe encode/decode: all column types, projection, nulls, dictionary
threshold behavior, and the size gate at stripe granularity."""

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from orc_spark import chooser
from orc_spark.codecs import fsst
from orc_spark.fixtures import tokens_arrow
from orc_spark.stripe import decode_stripe, encode_stripe, footer_from_json, footer_to_json


@pytest.fixture(scope="module")
def canonical():
    tbl = tokens_arrow(1000)
    batch = tbl.to_batches()[0]
    blob, footer = encode_stripe(batch)
    return tbl, batch, blob, footer


def test_roundtrip_all_columns(canonical):
    _, batch, blob, footer = canonical
    out = decode_stripe(blob, footer_from_json(footer_to_json(footer)))
    for name in batch.schema.names:
        assert out.column(name).cast(batch.column(name).type).equals(batch.column(name)), name


def test_encodings_match_reference_heuristics(canonical):
    """source (card 5) dictionary-encodes; doc_id (unique) does not — the
    0.8-threshold behavior observed from liborc (SURVEY.md [PROBE-1])."""
    _, _, _, footer = canonical
    assert footer["columns"]["source"]["encoding"] == "DICTIONARY"
    assert footer["columns"]["doc_id"]["encoding"] in ("DIRECT", "FSST")
    assert footer["columns"]["tokens"]["encoding"] == "DIRECT"  # ints never dict


def test_size_gate(canonical):
    """Compressed bytes <= reference liborc zstd B/tok on identical data."""
    _, _, blob, footer = canonical
    ntok = footer["columns"]["tokens"]["stats"]["n_values"]
    assert len(blob) / ntok <= 1.469, f"{len(blob)/ntok:.3f} B/tok > reference 1.469"


def test_projection_reads_only_requested(canonical):
    _, batch, blob, footer = canonical
    out = decode_stripe(blob, footer, columns=["n_tok", "source"])
    assert out.schema.names == ["n_tok", "source"]
    assert out.column("n_tok").cast(pa.int32()).equals(batch.column("n_tok"))


def test_nullable_columns():
    b = pa.RecordBatch.from_arrays(
        [
            pa.array([1, None, 3, None, 5] * 50, type=pa.int32()),
            pa.array(["a", None, "bb", "a", None] * 50),
            pa.array([[1, 2], [3], None, [], [5, 6, 7]] * 50, type=pa.list_(pa.int32())),
        ],
        ["i", "s", "l"],
    )
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer)
    for name in b.schema.names:
        assert out.column(name).cast(b.column(name).type).equals(b.column(name)), name


def test_all_null_column():
    b = pa.RecordBatch.from_arrays([pa.array([None] * 10, type=pa.int64())], ["x"])
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer)
    assert out.column("x").null_count == 10


def test_empty_batch():
    b = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.int32()), pa.array([], type=pa.string())], ["i", "s"]
    )
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer)
    assert out.num_rows == 0


def test_int64_and_negative_values():
    rng = np.random.RandomState(3)
    b = pa.RecordBatch.from_arrays(
        [pa.array(rng.randint(-(2**40), 2**40, 1000), type=pa.int64())], ["x"]
    )
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer)
    assert out.column("x").equals(b.column("x"))


def test_empty_and_null_token_lists_roundtrip():
    """Docs with zero tokens and null token arrays survive the stripe path."""
    import pyarrow as pa

    from orc_spark.stripe import decode_stripe, encode_stripe

    batch = pa.record_batch(
        {
            "doc_id": pa.array(["a", "b", "c", "d"]),
            "tokens": pa.array(
                [[1, 2, 3], [], None, [7]], type=pa.list_(pa.int32())
            ),
            "n_tok": pa.array([3, 0, None, 1], type=pa.int32()),
            "source": pa.array(["x", "x", "y", "y"]),
        }
    )
    blob, footer = encode_stripe(batch)
    out = decode_stripe(blob, footer)
    assert out.column(1).to_pylist() == [[1, 2, 3], [], None, [7]]
    assert out.column(2).to_pylist() == [3, 0, None, 1]


def _bits(arr: pa.Array) -> np.ndarray:
    np_vals = np.asarray(arr.to_numpy(zero_copy_only=False))
    return np_vals.view("u4" if np_vals.dtype == np.float32 else "u8")


def test_float_double_roundtrip_bit_exact():
    """float32/float64 columns decode BIT-identical — NaN payload, +/-inf,
    and -0.0 included (both float methods are lossless byte transforms)."""
    rng = np.random.RandomState(11)
    d = rng.normal(100, 3, 4096)
    d[1], d[2], d[3] = np.nan, np.inf, -0.0
    f = rng.normal(0, 1, 4096).astype(np.float32)
    b = pa.record_batch(
        {"d": pa.array(d, type=pa.float64()), "f": pa.array(f, type=pa.float32())}
    )
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer_from_json(footer_to_json(footer)))
    for c in ("d", "f"):
        assert out.column(c).type == b.column(c).type
        assert np.array_equal(_bits(out.column(c)), _bits(b.column(c)))
    # NaN in the stream must suppress the min/max stats (conservative pruning)
    assert footer["columns"]["d"]["stats"]["min"] is None
    assert footer["columns"]["f"]["stats"]["min"] is not None


def test_float_split_beats_raw_on_real_valued_data():
    """The chooser's cost trial picks byte-stream-split on real-number data
    and the encoded stream (post-zstd) is smaller than compressed raw."""
    from orc_spark import chooser
    from orc_spark.codecs.compression import compress
    from orc_spark.codecs.floats import encode_floats

    vals = np.random.RandomState(5).normal(1e4, 17.0, 8192)
    assert chooser.choose_float(vals)["method"] == "split"
    raw_c = len(compress(encode_floats(vals, "raw"), "zstd"))
    split_c = len(compress(encode_floats(vals, "split"), "zstd"))
    assert split_c < raw_c


def test_timestamp_roundtrip_and_delta_compression():
    """timestamp[us] columns ride the int pipeline: values roundtrip exactly
    (type preserved) and near-arithmetic streams land in ~0 bytes via DELTA."""
    n = 4096
    ts = (np.arange(n) * 1_000_003 + 1_700_000_000_000_000).astype("datetime64[us]")
    nullable = pa.array(
        [None if i % 9 == 0 else int(ts[i].astype("int64")) for i in range(n)],
        type=pa.int64(),
    ).cast(pa.timestamp("us"))
    b = pa.record_batch(
        {"ts": pa.array(ts, type=pa.timestamp("us")), "tsn": nullable}
    )
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer_from_json(footer_to_json(footer)))
    assert out.column("ts").equals(b.column("ts"))
    assert out.column("tsn").equals(b.column("tsn"))
    data = [s for s in footer["columns"]["ts"]["streams"] if s["kind"] == "DATA"][0]
    assert data["clen"] < n // 8  # DELTA collapsed the arithmetic stream
    # integer epoch stats exist for time-range stripe pruning
    assert footer["columns"]["ts"]["stats"]["min"] == int(ts[0].astype("int64"))


def test_list_float_roundtrip_bit_exact():
    """list<float> (the embeddings shape): values bit-identical, nulls and
    empty lists preserved, LENGTH+DATA layout like the token column."""
    rng = np.random.RandomState(7)
    rows = [rng.normal(0, 1, 16).astype(np.float32) for _ in range(300)]
    rows[5] = np.array([], dtype=np.float32)
    lst = [None if i % 50 == 0 else r.tolist() for i, r in enumerate(rows)]
    b = pa.record_batch({"emb": pa.array(lst, type=pa.list_(pa.float32()))})
    blob, footer = encode_stripe(b)
    out = decode_stripe(blob, footer_from_json(footer_to_json(footer)))
    got = out.column("emb")
    assert got.type == pa.list_(pa.float32())
    assert got.to_pylist() == b.column("emb").to_pylist()
    flat_a = np.asarray(b.column("emb").drop_null().flatten().to_numpy(zero_copy_only=False))
    flat_b = np.asarray(got.drop_null().flatten().to_numpy(zero_copy_only=False))
    assert np.array_equal(flat_a.view("u4"), flat_b.view("u4"))


# --- the FSST trial: run only where FSST can move the stripe -----------------

# sha256 over the blobs + footer JSON of tokens_arrow(2000, 42) grouped by
# source and sorted by doc_id, recorded before the trial moved to its own pass
TBENCH_STRIPES_SHA256 = "7476b97a16931698109225406eb1d3d31eb5d31fd2537ad765af2ff89b23a399"

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


@pytest.fixture
def trials(monkeypatch):
    """Samples passed to chooser.fsst_worthwhile (the real trial still runs)."""
    samples = []
    real = chooser.fsst_worthwhile

    def spy(sample):
        samples.append(sample)
        return real(sample)

    monkeypatch.setattr(chooser, "fsst_worthwhile", spy)
    return samples


def _stream_bytes(blob: bytes, col: dict) -> list[bytes]:
    return [blob[s["off"] : s["off"] + s["clen"]] for s in col["streams"]]


def test_tbench_stripes_byte_pinned_with_no_trial(trials):
    """doc_id and source are < 1% of every t-bench-shaped stripe, so no trial
    runs — and the bytes are exactly those of the one-pass encoder, whose
    trials on them never kept FSST."""
    tbl = tokens_arrow(2000, 42)
    h = hashlib.sha256()
    for src in sorted(set(tbl.column("source").to_pylist())):
        part = tbl.filter(pc.equal(tbl["source"], src)).sort_by("doc_id")
        blob, footer = encode_stripe(part.combine_chunks().to_batches()[0])
        h.update(blob)
        h.update(footer_to_json(footer).encode())
    assert h.hexdigest() == TBENCH_STRIPES_SHA256
    assert trials == []


def _documents_batch(n: int = 500) -> pa.RecordBatch:
    rng = np.random.RandomState(3)
    text = [" ".join(rng.choice(WORDS, rng.randint(10, 101))) for _ in range(n)]
    return pa.record_batch(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(["en", "de", "fr", "zh"], n)),
            "source": pa.array([f"src{i % 4}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
        }
    )


def test_documents_stripe_trials_only_text(trials):
    """The long free-text column is nearly the whole stripe and is trialed on
    its value bytes; lang and source (dictionary columns < 1%) are not."""
    batch = _documents_batch()
    encode_stripe(batch)
    payload = "".join(batch.column("text").to_pylist()).encode()
    assert trials == [payload[: chooser.FSST_SAMPLE]]


def test_kept_fsst_reencodes_only_that_column(monkeypatch):
    """A column whose trial keeps FSST is re-encoded with the trained table;
    every other column keeps its FSST-off streams byte for byte, laid out
    contiguously in schema order."""
    batch = _documents_batch()
    plain_blob, plain = encode_stripe(batch)
    monkeypatch.setattr(chooser, "fsst_worthwhile", fsst.train)
    blob, footer = encode_stripe(batch)
    assert footer["columns"]["text"]["encoding"] == "FSST"
    assert [s.get("fsst") for s in footer["columns"]["text"]["streams"]] == [None, True]
    offs = [s["off"] for c in footer["columns"].values() for s in c["streams"]]
    lens = [s["clen"] for c in footer["columns"].values() for s in c["streams"]]
    assert offs == list(np.cumsum([0] + lens[:-1])) and sum(lens) == len(blob)
    for name in ("doc_id", "lang", "source", "n_chars"):
        assert _stream_bytes(blob, footer["columns"][name]) == _stream_bytes(
            plain_blob, plain["columns"][name]
        ), name
    out = decode_stripe(blob, footer_from_json(footer_to_json(footer)))
    for name in batch.schema.names:
        assert out.column(name).cast(batch.column(name).type).equals(batch.column(name)), name


def test_dictionary_trial_samples_the_dictionary_blob(trials):
    """FSST on a dictionary column compresses the sorted dictionary blob, so
    the trial samples that blob, not the raw values: a 3-word dictionary
    (6 bytes) is under the 256-byte floor and never trains."""
    rng = np.random.RandomState(7)
    batch = pa.record_batch(
        {
            "id": pa.array(np.arange(2000), type=pa.int32()),
            "lang": pa.array(rng.choice(["en", "de", "fr"], 2000)),
        }
    )
    blob, footer = encode_stripe(batch)
    assert trials == [b"deenfr"]
    lang = footer["columns"]["lang"]
    assert lang["encoding"] == "DICTIONARY"
    assert [s.get("fsst") for s in lang["streams"] if s["kind"] == "DICTIONARY_DATA"] == [False]
    assert decode_stripe(blob, footer).column("lang").equals(batch.column("lang"))


def _share_batch(n_pad: int, pad: np.ndarray, n_rows: int = 400) -> pa.RecordBatch:
    """An id-like string column beside a list column holding n_pad values."""
    offs = np.full(n_rows + 1, n_pad, dtype=np.int32)
    offs[0] = 0
    return pa.record_batch(
        {
            "s": pa.array([f"key-{i:08d}" for i in range(n_rows)]),
            "pad": pa.ListArray.from_arrays(pa.array(offs), pa.array(pad[:n_pad])),
        }
    )


def test_trial_share_boundary(trials):
    """Bisect the pad size to two adjacent stripes: the string column holds
    at least FSST_MIN_SHARE of one (trial runs) and less of the other (trial
    skipped). Alone in a stripe, the same column always runs the trial."""
    pad = np.random.RandomState(0).randint(0, 1 << 20, 200_000).astype(np.int32)

    def share(n_pad: int) -> float:
        trials.clear()
        blob, footer = encode_stripe(_share_batch(n_pad, pad))
        assert footer["columns"]["s"]["encoding"] == "DIRECT"  # trial rejected FSST
        s_bytes = sum(s["clen"] for s in footer["columns"]["s"]["streams"])
        return s_bytes / len(blob)

    lo, hi = 0, len(pad)
    assert share(lo) >= chooser.FSST_MIN_SHARE > share(hi)
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if share(mid) >= chooser.FSST_MIN_SHARE:
            lo = mid
        else:
            hi = mid
    assert share(lo) >= chooser.FSST_MIN_SHARE and len(trials) == 1
    assert share(hi) < chooser.FSST_MIN_SHARE and trials == []
    trials.clear()
    encode_stripe(_share_batch(hi, pad).select(["s"]))
    assert len(trials) == 1

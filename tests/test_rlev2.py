"""RLEv2 round-trip tests: fixture distributions + hypothesis properties."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_spark.codecs.rlev2 import decode_rlev2, encode_rlev2
from orc_spark.fixtures import codec_stress_columns

I64 = np.iinfo(np.int64)


def roundtrip(a: np.ndarray, signed: bool) -> bytes:
    enc = encode_rlev2(a, signed)
    dec = decode_rlev2(enc, len(a), signed)
    assert np.array_equal(dec, a)
    return enc


@pytest.mark.parametrize("name", list(codec_stress_columns(100).keys()))
@pytest.mark.parametrize("signed", [True, False])
def test_stress_columns(name, signed):
    a = codec_stress_columns()[name]
    if not signed and a.min(initial=0) < 0:
        pytest.skip("unsigned mode requires non-negative values")
    roundtrip(a, signed)


@pytest.mark.parametrize(
    "arr",
    [
        np.array([], dtype=np.int64),
        np.array([0], dtype=np.int64),
        np.array([-1], dtype=np.int64),
        np.array([5, -9], dtype=np.int64),
        np.array([7, 7, 7], dtype=np.int64),  # min SHORT_REPEAT
        np.full(10, -3, dtype=np.int64),  # max SHORT_REPEAT
        np.full(11, 1, dtype=np.int64),  # just past SHORT_REPEAT
        np.full(513, 42, dtype=np.int64),  # block boundary + 1
        np.arange(512, dtype=np.int64),  # exactly one block, monotone
        np.arange(1024, 0, -1, dtype=np.int64),  # decreasing, two blocks
        np.array([I64.min, I64.max] * 300, dtype=np.int64),  # overflow guards
        np.array([I64.min, I64.min + 1, I64.max - 1, I64.max] * 200, dtype=np.int64),
        np.tile([0, 0, 0, 0, 0, 0, 0, 1 << 40], 64).astype(np.int64),  # patched
        np.r_[np.zeros(511), [1 << 50]].astype(np.int64),  # single huge gap -> dummies
    ],
)
def test_edges(arr):
    roundtrip(arr, True)
    if len(arr) == 0 or arr.min() >= 0:
        roundtrip(arr, False)


def test_sizes_close_to_liborc():
    """Observed liborc sizes (SURVEY.md [PROBE-1]); ours must be <= ~5% larger."""
    cols = codec_stress_columns()
    liborc = {
        "int_constant": 392,
        "int_increasing": 571,
        "int_small_range": 50196,
        "int_outliers": 60858,
        "int_random64": 400196,
    }
    for name, ref in liborc.items():
        enc = encode_rlev2(cols[name], True)
        assert len(enc) <= ref * 1.05, f"{name}: {len(enc)} vs liborc {ref}"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=I64.min, max_value=I64.max), max_size=2000),
    st.booleans(),
)
def test_property_roundtrip_int64(xs, signed):
    a = np.array(xs, dtype=np.int64)
    if not signed and len(a) and a.min() < 0:
        a = np.abs(a // 2)
    roundtrip(a, signed)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 31) - 1), max_size=2000))
def test_property_narrow_decode_matches_wide(xs):
    """dtype=int32 decode (the batched narrow path) must agree bit-for-bit
    with the generic int64 decode on any valid narrow stream."""
    a = np.array(xs, dtype=np.int64)
    enc = encode_rlev2(a, signed=False)
    d64 = decode_rlev2(enc, len(a), signed=False)
    d32 = decode_rlev2(enc, len(a), signed=False, dtype=np.int32)
    assert d32.dtype == np.int32
    assert np.array_equal(d64, a) and np.array_equal(d32, a)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=2000),
    st.integers(min_value=0, max_value=50256),
    st.integers(min_value=1, max_value=9),
)
def test_property_runs(n, v, runlen):
    """Runny data (token-id style) with repeated segments."""
    rng = np.random.RandomState(v % 97)
    segs = []
    total = 0
    while total < n:
        k = rng.randint(1, runlen + 1)
        segs.append(np.full(k, rng.randint(0, 50257)))
        total += k
    a = np.concatenate(segs)[:n].astype(np.int64) if segs else np.array([], dtype=np.int64)
    roundtrip(a, True)
    roundtrip(a, False)


def test_patched_base_cfb64_roundtrip():
    """pw=56 + pgw=8 packs patch entries into FULL 64-bit fields (cfb=64);
    the vectorized patch extraction must not rely on numpy's undefined
    shift-by-64 for the entry mask (regression: review r3)."""
    rng = np.random.default_rng(3)
    v = rng.integers(0, 16, 4096, dtype=np.int64)
    v[np.arange(0, 4096, 300)] += 1 << 58
    enc = encode_rlev2(v, signed=False)
    assert np.array_equal(decode_rlev2(enc, len(v), signed=False), v)
    enc_s = encode_rlev2(v, signed=True)
    assert np.array_equal(decode_rlev2(enc_s, len(v), signed=True), v)


def pin_corpus() -> list[tuple[str, np.ndarray, bool]]:
    """Seeded (name, stream, signed) cases that reach every encoder path:
    the narrow uint32 blocks, the int64 blocks, the scalar tail and every
    sub-encoding with its edge cases."""
    rng = np.random.default_rng(16)
    zipf = ((rng.zipf(1.2, 100_003) - 1) % 50257).astype(np.int32)
    perm = rng.permutation(50257).astype(np.int32)
    runs = np.repeat(rng.integers(0, 1 << 20, 700), rng.integers(1, 12, 700))
    gaps = np.zeros(4096, dtype=np.int64)
    gaps[np.arange(0, 4096, 300)] = 1 << 20  # patch gaps > 255: dummy entries
    cfb64 = rng.integers(0, 16, 4096, dtype=np.int64)
    cfb64[np.arange(0, 4096, 300)] += 1 << 58  # pw=56 + pgw=8
    fallback = rng.integers(0, 1 << 10, 1024, dtype=np.int64)
    fallback[np.r_[0:16, 300:315]] += 1 << 30  # 31 patches + 1 dummy: DIRECT
    spikes = rng.integers(0, 1 << 15, 5 * 512 + 77, dtype=np.int64)
    spikes[rng.integers(0, len(spikes), 90)] |= 1 << 24  # 18-25 patches/block
    cases = [
        ("zipf", zipf),
        ("zipf_tail", zipf[:1000]),
        ("permuted", perm[zipf]),
        ("uint16", zipf.astype(np.uint16)),
        ("lengths", np.clip(rng.lognormal(5.5, 1.0, 3000), 1, 8192).astype(np.int64)),
        ("wide_signed", rng.integers(I64.min, I64.max, 5000, dtype=np.int64, endpoint=True)),
        ("small_signed", rng.integers(-300, 300, 2049, dtype=np.int64)),
        ("runs", runs),
        ("constant", np.full(1537, 7, dtype=np.int64)),
        ("constant_neg", np.full(1024, -12345, dtype=np.int64)),
        ("up", np.arange(0, 3 * 512 * 7, 7, dtype=np.int64)),
        ("down", np.arange(5000, 5000 - 1100, -1, dtype=np.int64)),
        ("mono", np.cumsum(rng.integers(0, 50, 2000)).astype(np.int64)),
        ("mono32", np.cumsum(rng.integers(0, 50, 2000)).astype(np.int32)),
        ("mono_down", -np.cumsum(rng.integers(1, 50, 1500)).astype(np.int64)),
        ("gaps", gaps),
        ("gaps32", gaps.astype(np.int32)),
        ("fallback", fallback),
        ("fallback32", fallback.astype(np.int32)),
        ("up32", np.arange(0, 3 * 512 * 7, 7, dtype=np.int32)),
        ("down32", np.arange(5000, 5000 - 1100, -1, dtype=np.int32)),
        ("uint32_wide", rng.integers(0, 1 << 32, 1500, dtype=np.uint32)),
        ("cfb64", cfb64),
        ("spikes", spikes),
        ("spikes32", spikes.astype(np.int32)),
    ]
    cases += [(f"tiny{n}", rng.integers(-5, 60, n).astype(np.int64)) for n in range(0, 17)]
    cases += [(f"repeat{n}", np.full(n, 3, dtype=np.int64)) for n in (3, 10, 11, 16)]
    out = []
    for name, a in cases:
        out.append((name, a, True))
        if not len(a) or a.min() >= 0:
            out.append((name, a, False))
    return out


# sha256 over the length-prefixed encode_rlev2 output of pin_corpus(), as
# the vectorized block encoder before the narrow word-level rewrite stored it
RLEV2_CORPUS_SHA = "f511296bb86797db2cc527a27b36ce4fc939d9111d48f460690107f07261439c"


def corpus_sha() -> str:
    import hashlib

    h = hashlib.sha256()
    for name, a, signed in pin_corpus():
        enc = encode_rlev2(a, signed)
        h.update(f"{name}:{int(signed)}:{len(enc)}:".encode())
        h.update(enc)
    return h.hexdigest()


def test_encoder_bytes_are_pinned():
    """Encoder changes must store the same bytes: every case also round
    trips, and the whole corpus hashes to the pinned digest."""
    for name, a, signed in pin_corpus():
        roundtrip(a, signed)
    assert corpus_sha() == RLEV2_CORPUS_SHA

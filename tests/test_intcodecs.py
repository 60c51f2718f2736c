"""Frame-of-reference and standalone bit-pack stream codecs."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_spark.codecs.intcodecs import (
    decode_int_stream,
    encode_int_stream,
)
from orc_spark.fixtures import codec_stress_columns

I64 = np.iinfo(np.int64)


@pytest.mark.parametrize("codec", ["rle2", "for", "bitpack"])
@pytest.mark.parametrize("name", list(codec_stress_columns(100).keys()))
def test_stress(codec, name):
    a = codec_stress_columns()[name]
    for signed in {True, bool(a.min(initial=0) < 0)}:
        if not signed and a.min(initial=0) < 0:
            continue
        enc = encode_int_stream(a, codec, signed)
        dec = decode_int_stream(enc, len(a), codec, signed)
        assert np.array_equal(dec, a), (codec, name, signed)


def test_for_beats_bitpack_on_offset_data():
    """FOR's reason to exist: large common offset, small local range."""
    rng = np.random.RandomState(0)
    a = (10**12 + rng.randint(0, 100, 10_000)).astype(np.int64)
    f = encode_int_stream(a, "for", True)
    b = encode_int_stream(a, "bitpack", True)
    assert len(f) < len(b) * 0.3


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=I64.min // 2, max_value=I64.max // 2), max_size=600),
    st.sampled_from(["for", "bitpack"]),
)
def test_property(xs, codec):
    a = np.array(xs, dtype=np.int64)
    enc = encode_int_stream(a, codec, True)
    assert np.array_equal(decode_int_stream(enc, len(a), codec, True), a)


def test_chooser_runs_real_cost_trial():
    """choose_int must pick by measured size, not a hard-wired default:
    rle2 wins on runs/deltas; on incompressible white noise all three are
    within a few header bytes and rle2 keeps the tie."""
    import numpy as np

    from orc_spark.chooser import choose_int

    rng = np.random.RandomState(9)
    assert choose_int(np.arange(10_000, dtype=np.int64))["codec"] == "rle2"
    noise = rng.randint(0, 2**31, 10_000).astype(np.int64)
    assert choose_int(noise)["codec"] in ("rle2", "for", "bitpack")
    # the chosen codec must actually be the smallest on the trial sample
    from orc_spark.codecs.intcodecs import encode_int_stream

    plan = choose_int(noise)
    sizes = {
        c: len(encode_int_stream(noise[:4096], c, plan["signed"]))
        for c in ("rle2", "for", "bitpack")
    }
    assert sizes[plan["codec"]] == min(sizes.values())


def _encode_all_three(arr):
    """The trial choose_int ran before its closed forms: encode the sample
    with every codec and keep the smallest, rle2 first on ties."""
    from orc_spark.chooser import INT_TRIAL

    signed = bool(len(arr)) and int(arr.min()) < 0
    if len(arr) <= 16:
        return {"codec": "rle2", "signed": signed}
    if len(arr) > 3 * INT_TRIAL:
        third = INT_TRIAL // 3
        mid = (len(arr) - third) // 2
        sample = np.concatenate([arr[:third], arr[mid : mid + third], arr[-third:]])
    else:
        sample = arr[:INT_TRIAL]
    sizes = [(len(encode_int_stream(sample, c, signed)), c) for c in ("rle2", "for", "bitpack")]
    return {"codec": min(sizes, key=lambda s: s[0])[1], "signed": signed}


_int_arrays = st.one_of(
    st.lists(st.integers(min_value=I64.min, max_value=I64.max), max_size=5000),
    st.lists(st.integers(min_value=-300, max_value=300), min_size=17, max_size=5000),
    st.lists(st.integers(min_value=0, max_value=(1 << 40) - 1), max_size=5000),
    st.tuples(st.integers(min_value=I64.min, max_value=I64.max),
              st.integers(min_value=1, max_value=5000)).map(lambda t: [t[0]] * t[1]),
)


@settings(max_examples=150, deadline=None)
@given(_int_arrays, st.booleans())
def test_closed_form_lengths_equal_encoded_lengths(xs, signed):
    from orc_spark.codecs.intcodecs import encoded_len

    a = np.array(xs, dtype=np.int64)
    if not signed and len(a) and a.min() < 0:
        a = np.abs(a // 2)
    for codec in ("for", "bitpack"):
        assert encoded_len(a, codec, signed) == len(encode_int_stream(a, codec, signed))


@settings(max_examples=150, deadline=None)
@given(_int_arrays)
def test_choose_int_matches_the_encode_all_three_trial(xs):
    from orc_spark.chooser import choose_int

    a = np.array(xs, dtype=np.int64)
    assert choose_int(a) == _encode_all_three(a)
    if len(a):
        assert choose_int(a, (int(a.min()), int(a.max()))) == _encode_all_three(a)


@pytest.mark.parametrize("n", [17, 1000, 4096, 5000, 20_000])
def test_choose_int_matches_the_trial_on_shaped_streams(n):
    from orc_spark.chooser import choose_int

    rng = np.random.default_rng(n)
    streams = [
        ((rng.zipf(1.2, n) - 1) % 50257).astype(np.int32),
        10**12 + rng.integers(0, 100, n),  # for wins: large offset, tiny range
        rng.integers(0, 2**31, n),
        np.full(n, -5, dtype=np.int64),
        np.r_[np.zeros(n // 2), rng.integers(-(1 << 40), 1 << 40, n - n // 2)].astype(np.int64),
    ]
    for a in streams:
        assert choose_int(a) == _encode_all_three(a)

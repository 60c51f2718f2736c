"""Unit tests for the bit-packing kernels."""

import numpy as np
import pytest

from orc_spark.codecs.bitpack import (
    CLOSED_WIDTHS,
    bit_length,
    closest_width,
    decode_width,
    encode_width,
    pack,
    pack_many,
    packed_size,
    unpack,
    varpack_rows,
)


def test_closed_width_table():
    assert len(CLOSED_WIDTHS) == 32
    assert closest_width(0) == 1
    assert closest_width(17) == 17
    assert closest_width(25) == 26
    assert closest_width(33) == 40
    assert closest_width(64) == 64
    for w in CLOSED_WIDTHS:
        assert decode_width(encode_width(w)) == w


def test_bit_length_exact():
    vals = np.array(
        [0, 1, 2, 3, 7, 8, 184, 255, 256, 2**52 - 1, 2**52, 2**53, 2**63 - 1, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    expect = np.array([int(v).bit_length() for v in vals.tolist()])
    assert np.array_equal(bit_length(vals), expect)
    # small-value fast path (frexp) agrees with the searchsorted path
    small = np.arange(0, 100_000, dtype=np.uint64)
    expect = np.array([int(v).bit_length() for v in range(100_000)])
    assert np.array_equal(bit_length(small), expect)


@pytest.mark.parametrize("width", list(range(1, 65)))
def test_pack_unpack_roundtrip(width):
    rng = np.random.RandomState(width)
    n = 1000 + width  # misaligned sizes too
    hi = (1 << width) - 1
    vals = rng.randint(0, 2**62, n).astype(np.uint64) & np.uint64(hi)
    buf = pack(vals, width)
    assert len(buf) == packed_size(n, width)
    out = unpack(buf, n, width)
    assert np.array_equal(out, vals)


@pytest.mark.parametrize("width", [1, 3, 7, 9, 13, 16, 17, 23, 32, 40, 64])
def test_pack_aligned_matches_bool_path(width):
    """The shift-or lane fast path must produce identical bytes to the
    unpackbits path (it triggers at n >= 4096 with n*width % 64 == 0)."""
    rng = np.random.RandomState(width)
    n = 8192
    vals = rng.randint(0, 2**62, n).astype(np.uint64)
    fast = pack(vals, width)
    # force the slow path by packing in two unaligned halves is not equivalent;
    # instead recompute via unpackbits directly
    masked = vals & np.uint64((1 << width) - 1) if width < 64 else vals
    nbytes = 1 if width <= 8 else 2 if width <= 16 else 4 if width <= 32 else 8
    b = masked.astype(f">u{nbytes}").view(np.uint8).reshape(n, nbytes)
    bits = np.unpackbits(b, axis=1)[:, nbytes * 8 - width :]
    slow = np.packbits(bits.ravel()).tobytes()
    assert fast == slow


def test_pack_masks_high_bits():
    vals = np.array([0xFFFF, 0x1FF, 5], dtype=np.uint64)
    assert unpack(pack(vals, 8), 3, 8).tolist() == [0xFF, 0xFF, 5]


def test_varpack_rows_matches_pack():
    rng = np.random.RandomState(0)
    nrows = 200
    lens = rng.randint(0, 32, nrows)
    widths = np.array([CLOSED_WIDTHS[rng.randint(0, 32)] for _ in range(nrows)])
    vals = rng.randint(0, 2**62, int(lens.sum())).astype(np.uint64)
    blob, offs, blens = varpack_rows(vals, lens, widths)
    pos = 0
    for i in range(nrows):
        row = vals[pos : pos + lens[i]] & (
            np.uint64((1 << widths[i]) - 1) if widths[i] < 64 else np.uint64(2**64 - 1)
        )
        pos += lens[i]
        expect = pack(row, int(widths[i]))
        got = blob[offs[i] : offs[i] + blens[i]]
        assert got == expect, f"row {i}"


def test_pack_many_slices():
    rng = np.random.RandomState(1)
    blocks = rng.randint(0, 2**17, (64, 512)).astype(np.uint64)
    chunks = pack_many(blocks, 17)
    assert len(chunks) == 64
    for i, c in enumerate(chunks):
        assert c == pack(blocks[i], 17)


def test_empty():
    assert pack(np.array([], dtype=np.uint64), 8) == b""
    assert unpack(b"", 0, 8).tolist() == []


def test_lane_pack_unpack_roundtrip_large():
    """The 32-bit lane fast paths (pack for n>=4096, unpack gated by lane
    count) must be byte- and value-identical to the generic paths."""
    import numpy as np

    from orc_spark.codecs.bitpack import pack, unpack

    rng = np.random.RandomState(3)
    for w in (1, 2, 3, 4, 5, 7, 8, 11, 15, 16, 17, 23, 24, 26, 30, 32):
        n = 8192
        v = rng.randint(0, 2 ** min(w, 31), n).astype(np.uint64)
        blob = pack(v, w)
        assert len(blob) == (n * w + 7) // 8
        assert np.array_equal(unpack(blob, n, w), v), f"width {w}"


def test_lane_unpack_small_runs_match_generic():
    import numpy as np

    from orc_spark.codecs.bitpack import pack, unpack

    rng = np.random.RandomState(4)
    for w in (4, 8, 16, 32):  # small-P widths take the lane path at n=512
        v = rng.randint(0, 2 ** min(w, 31), 512).astype(np.uint64)
        assert np.array_equal(unpack(pack(v, w), 512, w), v)


def _bool_pack(vals: np.ndarray, width: int) -> bytes:
    """MSB-first packing through unpackbits: the oracle of the word paths."""
    v = vals.astype(np.uint64) & np.uint64((1 << width) - 1)
    b = v.astype(">u8").view(np.uint8).reshape(len(v), 8)
    return np.packbits(np.unpackbits(b, axis=1)[:, 64 - width :].ravel()).tobytes()


@pytest.mark.parametrize("width", [1, 3, 7, 8, 12, 15, 16, 17, 20, 24, 31, 32])
def test_word_pack_uint32_matches_bool_path(width):
    """The word-merging packer keeps uint32 input in uint32 while a merged
    unit fits 32 bits; with and without the mask, any length (padded to 64
    values internally) must give the bytes of the unpackbits path."""
    rng = np.random.RandomState(width)
    for n in (64, 100, 512, 4096 + 37):
        raw = rng.randint(0, 2**31, n).astype(np.uint32)
        fits = raw & np.uint32((1 << width) - 1) if width < 32 else raw
        want = _bool_pack(raw, width)
        assert pack(raw, width) == want
        assert pack(raw.astype(np.uint64), width) == want
        assert pack(fits, width, mask_values=False) == want

"""Vectorized big-endian bit-packing + the ORC closed-width table.

Bit layout matches ORC RLEv2 ([ORCv1], probe-confirmed in SURVEY.md Appendix A):
values are written MSB-first, consecutively, crossing byte boundaries; the final
partial byte is zero-padded on the right. All kernels are numpy-vectorized
(word shifts, unpackbits/packbits for short packs, strided byte windows for
unpacks) — no per-value Python.
"""

from __future__ import annotations

import bisect
import math

import numpy as np

# ORC's closed set of 32 widths for the 5-bit width field ([ORCv1] "Direct").
CLOSED_WIDTHS: tuple[int, ...] = tuple(range(1, 25)) + (26, 28, 30, 32, 40, 48, 56, 64)

_WIDTH_TO_CODE = {w: c for c, w in enumerate(CLOSED_WIDTHS)}

_POW2 = np.uint64(1) << np.arange(0, 64, dtype=np.uint64)  # 2^0 .. 2^63


def closest_width(w: int) -> int:
    """Round width up to the nearest entry of the closed table (min 1)."""
    if w <= 1:
        return 1
    return CLOSED_WIDTHS[bisect.bisect_left(CLOSED_WIDTHS, w)]


def encode_width(w: int) -> int:
    """5-bit code for an exact closed width."""
    return _WIDTH_TO_CODE[w]


def decode_width(code: int) -> int:
    return CLOSED_WIDTHS[code]


def bit_length(values: np.ndarray) -> np.ndarray:
    """Per-element bit length of a non-negative integer array (0 for 0).

    Exact for the full 64-bit range (no float log2 edge cases).
    """
    v = values if values.dtype.itemsize < 8 else values.astype(np.uint64, copy=False)
    if v.size > 1024 and (v.dtype.itemsize < 8 or int(v.max()) < (1 << 53)):
        # float64 represents integers < 2^53 exactly; frexp's exponent IS the
        # bit length (frexp(8) -> (0.5, 4); frexp(0) -> (0, 0)). ~10x faster
        # than searchsorted on large arrays.
        _, e = np.frexp(v.astype(np.float64))
        return e.astype(np.int64)
    # searchsorted(bins, x, 'right') == number of bins <= x, which IS
    # bit_length: x=0 -> 0, x=1 -> 1, x=184 -> 8, x >= 2^63 -> 64. Exact over
    # the full uint64 range, and one call: the cheap form for the per-block
    # arrays of the encoder, where numpy call overhead is the cost.
    return np.searchsorted(_POW2, v.astype(np.uint64, copy=False), side="right")


def bit_length_u8(values: np.ndarray) -> np.ndarray:
    """Per-element bit length as uint8 — the low-traffic kernel for the
    per-VALUE stats pass of the encoder (the hot loop at high core counts,
    where the box is DRAM-bound, not CPU-bound).

    For uint32 inputs below 2^24 the bit length is read straight off the
    float32 exponent field (float32 represents those integers exactly;
    biased exponent - 126 == bit_length, with 0 clamping to 0). That is one
    4-byte temp and three in-place passes instead of frexp's float64
    widening + mantissa array + int64 exponent: ~10x faster and ~5x less
    memory traffic, measured. Larger/wider inputs fall back to the exact
    generic path."""
    if values.size == 0:
        return np.empty(0, dtype=np.uint8)
    if values.dtype in (np.uint32, np.uint16, np.uint8) and int(values.max()) < (
        1 << 24
    ):
        bits = values.astype(np.float32).view(np.int32)
        np.right_shift(bits, 23, out=bits)
        np.subtract(bits, 126, out=bits)
        np.maximum(bits, 0, out=bits)  # value 0 -> exponent field 0 -> clamp
        return bits.astype(np.uint8)
    return bit_length(values).astype(np.uint8)


def _container(width: int) -> tuple[str, int]:
    if width <= 8:
        return ">u1", 1
    if width <= 16:
        return ">u2", 2
    if width <= 32:
        return ">u4", 4
    return ">u8", 8


def pack(values: np.ndarray, width: int, mask_values: bool = True) -> bytes:
    """Pack values at `width` bits, MSB-first (high bits above `width` masked).

    mask_values=False skips the masking copy — callers that derived `width`
    from the values' own max bit length (every DIRECT/DELTA/FOR path) pass
    False; only PATCHED_BASE low-bits packing relies on the mask to drop the
    patched high bits."""
    if len(values) == 0 or width == 0:
        return b""
    return _packed(values, width, mask_values).tobytes()


def _packed(values: np.ndarray, width: int, mask_values: bool) -> np.ndarray:
    """pack()'s bytes as a flat uint8 array (len(values) >= 1, width >= 1)."""
    n = len(values)
    if n >= 64:
        pad = -n % 64
        if pad:  # zero values past the end only add the zero tail bits
            values = np.concatenate([values, np.zeros(pad, dtype=values.dtype)])
        return _pack_words(values, width, mask_values)[: packed_size(n, width)]
    v = values.astype(np.uint64, copy=False)
    if width < 64 and mask_values:
        v = v & ((np.uint64(1) << np.uint64(width)) - np.uint64(1))
    dt, nbytes = _container(width)
    b = v.astype(dt).view(np.uint8).reshape(n, nbytes)
    bits = np.unpackbits(b, axis=1)[:, nbytes * 8 - width :]
    return np.packbits(bits.ravel())


def _pack_words(v: np.ndarray, w: int, mask_values: bool) -> np.ndarray:
    """Packed big-endian bytes (flat uint8) of len(v) % 64 == 0 values, in a
    few wide word passes (FastLanes' idea under ORC's fixed sequential bit
    order): adjacent values merge pairwise into 2w-, 4w-, ... bit units
    while a unit still fits a 64-bit word (one shift-or over half as many
    elements per level, in uint32 while the unit fits 32 bits, in place on
    fresh temporaries). A unit of whole bytes is then cut from its
    left-aligned word; two units that make one word plus whole bytes become
    a (word, left-aligned tail word) pair cut to size; any other unit width
    lane-packs into words (_pack_aligned)."""
    if v.dtype != np.uint32 or w > 32:
        v = v.astype(np.uint64, copy=False)
    u, U = v, w
    m = u.dtype.type((1 << w) - 1) if mask_values and w < 64 else None
    if m is not None and 2 * w > 64:
        u = u & m
    while 2 * U <= 64:
        hi, lo = u[0::2], u[1::2]
        if m is not None:  # the mask rides on the first merge
            hi, lo, m = hi & m, lo & m, None
            if 2 * U > 32 and hi.dtype != np.uint64:
                hi = hi.astype(np.uint64)
        else:
            hi = hi.astype(np.uint64) if 2 * U > 32 and hi.dtype != np.uint64 else hi.copy()
        hi <<= hi.dtype.type(U)
        hi |= lo
        u, U = hi, 2 * U
    u64 = np.uint64
    if U % 8 == 0:
        if U < 64:
            u = u << u64(64 - U)
        words = u.reshape(-1, 1)
    elif U % 4 == 0:
        a, b = u[0::2], u[1::2]
        words = np.empty((len(a), 2), dtype=u64)
        np.left_shift(a, u64(64 - U), out=words[:, 0])
        words[:, 0] |= b >> u64(2 * U - 64)
        np.left_shift(b, u64(128 - 2 * U), out=words[:, 1])
    else:
        return _pack_aligned(u, U).astype(">u8").view(np.uint8)
    nbytes = words.shape[1] * U // 8  # bytes per row of words
    b8 = words.astype(">u8").view(np.uint8).reshape(len(words), -1)
    return b8.reshape(-1) if nbytes == b8.shape[1] else b8[:, :nbytes].reshape(-1)


def _pack_aligned(v: np.ndarray, w: int) -> np.ndarray:
    """Shift-or lane packing into native uint64 words, no bool expansion.
    Requires len*w % 64 == 0.

    Values are striped into P = lcm(64,w)/w lanes whose bit offsets repeat
    every L = P*w/64 output words; each lane is 1-2 vectorized shift/or ops.
    O(n) work in <=128 numpy calls regardless of n.
    """
    n = len(v)
    P = math.lcm(64, w) // w
    L = (P * w) // 64
    nwords = (n * w) // 64
    # np.empty + first-writer stores: every word group has a known first
    # writer lane, which stores with `=` instead of `|=`, so there is no
    # whole-buffer zeroing pass (n % P == 0 is implied by the alignment
    # precondition)
    out = np.empty(nwords, dtype=np.uint64)
    written = [False] * L
    for r in range(P):
        sel = v[r::P]
        if not len(sel):
            break
        bo = r * w
        wi = bo // 64
        sh = 64 - w - (bo % 64)
        dst = out[wi::L][: len(sel)]
        if sh >= 0:
            if written[wi]:
                dst |= sel << np.uint64(sh)
            else:
                np.left_shift(sel, np.uint64(sh), out=dst)
                written[wi] = True
        else:
            dst |= sel >> np.uint64(-sh)  # wi already written (bits before bo)
            dst2 = out[wi + 1 :: L][: len(sel)]
            if written[wi + 1]:
                dst2 |= sel << np.uint64(64 + sh)
            else:
                np.left_shift(sel, np.uint64(64 + sh), out=dst2)
                written[wi + 1] = True
    return out


def packed_size(n: int, width: int) -> int:
    return (n * width + 7) // 8


def unpack(buf, n: int, width: int, dtype=np.uint64) -> np.ndarray:
    """Unpack `n` values of `width` bits from `buf` into a `dtype` array
    (uint64, or uint32 when width <= 32)."""
    if n == 0 or width == 0:
        return np.zeros(n, dtype=dtype)
    n8 = -(-n // 8) * 8
    src = np.zeros(n8 * width // 8 + 8, dtype=np.uint8)
    need = packed_size(n, width)
    src[:need] = np.frombuffer(buf, dtype=np.uint8, count=need)
    return unpack_groups(src, n8, width, dtype)[:n]


def unpack_groups(src: np.ndarray, n: int, w: int, dtype=np.uint64) -> np.ndarray:
    """Unpack n values (n % 8 == 0) of w bits from the flat uint8 array
    `src`, which holds their n*w/8 packed bytes followed by at least 8
    bytes of slack (any content).

    g = 8 / gcd(w, 8) consecutive values fill a whole number of bytes, so
    the value at phase k of every such group sits at one fixed bit of a
    window that starts at a fixed byte of the group. One strided,
    unaligned big-endian view (4-byte windows for w <= 25, else 8) per
    phase reads all of them: g passes of two ufuncs each (shift into a
    temporary, mask into the phase's output column), not a sweep of the
    word array per lane."""
    g = 8 // math.gcd(w, 8)
    gb = w * g // 8  # bytes per group
    ng = n // g
    out = np.empty((ng, g), dtype=dtype)
    tmp = np.empty(ng, dtype=dtype)
    bits = 32 if w <= 25 else 64
    win_dt = ">u4" if bits == 32 else ">u8"
    mask = dtype((1 << w) - 1)
    for k in range(g):
        r = (k * w) & 7
        off = (k * w) >> 3
        win = np.ndarray((ng,), dtype=win_dt, buffer=src, offset=off, strides=(gb,))
        if r + w <= bits:
            np.right_shift(win, dtype(bits - w - r), out=tmp, casting="unsafe")
            np.bitwise_and(tmp, mask, out=out[:, k])
        else:  # w > 57 at an odd bit phase: the value spans 9 bytes
            nxt = np.ndarray((ng,), dtype=np.uint8, buffer=src, offset=off + 8, strides=(gb,))
            hi = win << np.uint64(r)
            hi |= nxt >> np.uint8(8 - r)
            np.right_shift(hi, np.uint64(64 - w), out=out[:, k])
    return out.reshape(-1)


def varpack_rows(
    values: np.ndarray, row_lengths: np.ndarray, widths: np.ndarray
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Bulk-pack variable-width rows in one vectorized pass.

    Row i consists of row_lengths[i] consecutive entries of `values`, each
    packed at widths[i] bits (masked to them); every row starts on a 64-bit
    word of the blob, so a row's slice equals pack(row_values, widths[i]).
    Returns (blob, row_byte_offsets, row_byte_lengths). Word-level: an
    entry (<= 64 bits) lands in at most two words, so each entry is two
    shifts and two adds into the word array (its fields are disjoint, so
    add is or) — no per-bit expansion.
    """
    row_lengths = row_lengths.astype(np.int64, copy=False)
    widths = widths.astype(np.int64, copy=False)
    bits = row_lengths * widths
    row_words = (bits + 63) // 64
    word_off = np.cumsum(row_words) - row_words
    row_off, row_bytes = word_off * 8, (bits + 7) // 8
    E = len(values)
    if E == 0 or not row_words.sum():
        return b"", row_off, row_bytes
    w = np.repeat(widths, row_lengths)
    first = np.cumsum(row_lengths) - row_lengths
    bit = (np.arange(E, dtype=np.int64) - np.repeat(first, row_lengths)) * w
    q = np.repeat(word_off, row_lengths) + (bit >> 6)
    s = 64 - w - (bit & 63)  # left shift into word q; < 0 spills into q + 1
    u64 = np.uint64
    v = values.astype(u64, copy=False) & np.where(
        w < 64, (u64(1) << (w & 63).astype(u64)) - u64(1), u64(0xFFFFFFFFFFFFFFFF)
    )
    words = np.zeros(int(row_words.sum()), dtype=u64)
    np.add.at(words, q, (v >> np.maximum(-s, 0).astype(u64)) << np.maximum(s, 0).astype(u64))
    spill = np.flatnonzero(s < 0)
    if len(spill):
        np.add.at(words, q[spill] + 1, v[spill] << (64 + s[spill]).astype(u64))
    return words.astype(">u8").tobytes(), row_off, row_bytes


def pack_many(blocks: np.ndarray, width: int, mask_values: bool = True) -> list[memoryview]:
    """Pack each row of a 2-D array at `width` bits in ONE vectorized call.

    All rows share the same length L, so each packed chunk is exactly
    packed_size(L, width) bytes when L*width % 8 == 0 (true for L=512 and any
    closed width); caller must guarantee that. Returns one view per row of
    the packed buffer.
    """
    nb, L = blocks.shape
    if nb == 0:
        return []
    per = L * width
    assert per % 8 == 0, "pack_many requires byte-aligned rows"
    blob = memoryview(_packed(blocks.reshape(-1), width, mask_values))
    step = per // 8
    return [blob[i * step : (i + 1) * step] for i in range(nb)]

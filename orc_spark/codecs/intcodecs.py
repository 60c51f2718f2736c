"""Standalone integer stream codecs beyond RLEv2: frame-of-reference and
plain bit-packing, both named explicitly by the north rule (BASELINE.json:14).

Formats (ours — self-describing within the stripe footer, not ORC wire):

  BITPACK   [1B width code][packed values]            zigzag first if signed
  FOR       per 1024-block: [1B width code][uvarint(zigzag(base))][packed
            (value - base)]                            blocks chain until n

A unified dispatch (encode_int_stream/decode_int_stream) lets the chooser pick
per stream: 'rle2' | 'for' | 'bitpack'.
"""

from __future__ import annotations

import numpy as np

from .bitpack import bit_length, closest_width, decode_width, encode_width, pack, packed_size, unpack
from .rlev2 import decode_rlev2, encode_rlev2
from .varint import read_uvarint, unzigzag, write_uvarint, zigzag, zigzag_scalar, unzigzag_scalar

FOR_BLOCK = 1024


def encode_bitpack(arr: np.ndarray, signed: bool) -> bytes:
    a = np.ascontiguousarray(arr, dtype=np.int64)
    if len(a) == 0:
        return b""
    with np.errstate(over="ignore"):
        u = zigzag(a) if signed else a.view(np.uint64)
        w = closest_width(max(1, int(bit_length(u).max())))
    return bytes([encode_width(w)]) + pack(u, w, mask_values=False)


def decode_bitpack(buf, n: int, signed: bool) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    mv = memoryview(buf).cast("B")
    w = decode_width(mv[0])
    u = unpack(mv[1:], n, w)
    return unzigzag(u) if signed else u.view(np.int64)


def encode_for(arr: np.ndarray, signed: bool) -> bytes:
    """Frame-of-reference: per-block min subtraction then bit-pack."""
    a = np.ascontiguousarray(arr, dtype=np.int64)
    n = len(a)
    out = bytearray()
    with np.errstate(over="ignore"):
        for s in range(0, n, FOR_BLOCK):
            blk = a[s : s + FOR_BLOCK]
            base = int(blk.min())
            red = blk.view(np.uint64) - np.uint64(base & (2**64 - 1))
            w = closest_width(max(1, int(bit_length(red).max())))
            out.append(encode_width(w))
            write_uvarint(out, zigzag_scalar(base))
            out += pack(red, w, mask_values=False)
    return bytes(out)


def decode_for(buf, n: int, signed: bool) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    mv = memoryview(buf).cast("B")
    i = 0
    filled = 0
    with np.errstate(over="ignore"):
        while filled < n:
            w = decode_width(mv[i])
            i += 1
            zzb, i = read_uvarint(mv, i)
            base = unzigzag_scalar(zzb)
            L = min(FOR_BLOCK, n - filled)
            nb = packed_size(L, w)
            red = unpack(mv[i : i + nb], L, w)
            i += nb
            out[filled : filled + L] = red.view(np.int64) + np.int64(base)
            filled += L
    return out


def encoded_len(arr: np.ndarray, codec: str, signed: bool) -> int:
    """len(encode_int_stream(arr, codec, signed)) for 'bitpack' and 'for'
    (an unsigned stream is non-negative), in closed form from extremes
    alone: bitpack is 1 + ceil(n*w/8) and each FOR block of L values is
    1 + uvarint_len(zigzag(base)) + ceil(L*w/8)."""
    n = len(arr)
    if n == 0:
        return 0
    a = np.ascontiguousarray(arr, dtype=np.int64)
    if codec == "bitpack":
        lo, hi = int(a.min()), int(a.max())
        top = max(zigzag_scalar(lo), zigzag_scalar(hi)) if signed else hi
        return 1 + packed_size(n, closest_width(max(1, top.bit_length())))
    if codec != "for":
        raise ValueError(f"no closed-form length for codec {codec!r}")
    starts = np.arange(0, n, FOR_BLOCK)
    total = 0
    for s, lo, hi in zip(
        starts.tolist(),
        np.minimum.reduceat(a, starts).tolist(),
        np.maximum.reduceat(a, starts).tolist(),
    ):
        w = closest_width(max(1, (hi - lo).bit_length()))
        total += 1 + max(1, -(-zigzag_scalar(lo).bit_length() // 7))
        total += packed_size(min(FOR_BLOCK, n - s), w)
    return total


_ENCODERS = {
    "for": encode_for,
    "bitpack": encode_bitpack,
}
_DECODERS = {
    "rle2": decode_rlev2,
    "for": decode_for,
    "bitpack": decode_bitpack,
}


def encode_int_stream(
    arr, codec: str, signed: bool, bounds: tuple[int, int] | None = None
) -> bytes:
    """`bounds` = (min, max) of `arr` when known; rle2 uses them for its
    narrow check instead of scanning the stream again."""
    if codec == "rle2":
        return encode_rlev2(arr, signed, bounds)
    return _ENCODERS[codec](arr, signed)


def decode_int_stream(buf, n: int, codec: str, signed: bool, dtype=np.int64) -> np.ndarray:
    """dtype=np.int32 selects the narrow decode path (rle2 only) — caller
    must prove 0 <= min <= max < 2^31 from the stripe footer stats."""
    if dtype == np.int32 and codec == "rle2" and not signed:
        return decode_rlev2(buf, n, signed=False, dtype=np.int32)
    return _DECODERS[codec](buf, n, signed)

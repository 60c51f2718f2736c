"""Bloom filters for key-column point-lookup pruning.

ORC attaches BLOOM_FILTER streams to columns so IN/equality search arguments
can skip row groups whose min/max range is too wide to exclude ([ORCv1]
"Bloom Filter" streams). That is exactly the situation this engine's mandated
layout creates: the salt ANTI-clusters doc_ids across partitions, so every
partition's [min_key, max_key] range is wide and range stats exclude almost
nothing for an IN-set of specific ids. The bloom makes point lookups prune
again:

  - STRIPE level: each stripe footer carries a bloom over the key column,
    sized to the stripe's row count (m = next power of two >= 10 bits/key,
    k = 6 -> ~1% false positives). Tested before any stream of the stripe
    blob is decompressed.
  - FILE level: each data file gets one bloom in a puffin-style SIDECAR
    (warehouse.sidecar_file names it; tmp+atomic-rename like the data
    file). Its one writer, pipeline._PidWriter, ORs the keys of every
    stripe it writes — encoded, or copied verbatim by concat compaction,
    which decodes only their key column — into a fixed FILE_BLOOM_BITS
    filter (O(1) memory per writer) and folds it at close to the file's
    own stripe_bloom_bits(n), capped at FILE_BLOOM_BITS (`fold`). The
    manifest stays O(200 bytes)/partition; the planner reads sidecars only
    for files that survive range pruning (one small GET per file at
    object-store scale — the same planning read Iceberg does for puffin
    stats). Saturated blooms (fill > 1/2) are ignored by readers, so an
    over-full partition degrades to "no extra pruning", never to wrong
    results.

Hashing is deterministic across runs/processes (resume re-encodes a
partition and must reproduce the same bloom semantics) and engine-local (no
cross-engine oracle reproduces it — pruning is transparent, certified by the
gate queries). Both key types hash WITHOUT per-row Python:

  - integer keys: splitmix64 double-hash, vectorized uint64 numpy;
  - string keys: three 8-byte windows (head, middle, tail — zero-padded
    past the string's own bytes) + the length + a position-weighted byte
    sum (each byte times a 64-period splitmix-derived odd multiplier,
    segment-summed with one cumsum over the Arrow data buffer), all
    gathered vectorized from the offsets/data buffers and mixed through
    splitmix64. Any two keys differing in any byte hash apart unless the
    difference cancels in every window AND the weighted sum (64-byte-
    aligned swap patterns) — and a pathological collision only adds false
    positives (pruning is always conservative).

k probe positions come from double hashing h_i = h1 + i*h2 (Kirsch &
Mitzenmacher: two hashes generate k probes with no loss in the false-
positive bound). All bit math is uint64 numpy on power-of-two m.
"""

from __future__ import annotations

import base64

import numpy as np
import pyarrow as pa

BLOOM_K = 6
STRIPE_BITS_PER_KEY = 10
# a file bloom's size while its writer accumulates, and the cap of the
# folded sidecar: 1 Mbit = 128 KiB, ~100k keys/file at ~1% fpp
FILE_BLOOM_BITS = 1 << 20

_GAMMA = 0x9E3779B97F4A7C15
_C1 = 0xBF58476D1CE4E5B9
_C2 = 0x94D049BB133111EB
_SEED2 = 0xC2B2AE3D27D4EB4F
_M64 = (1 << 64) - 1


def _splitmix64_np(x: np.ndarray) -> np.ndarray:
    z = x + np.uint64(_GAMMA)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(_C1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_C2)
    return z ^ (z >> np.uint64(31))


def _splitmix64_py(x: int) -> int:
    z = (x + _GAMMA) & _M64
    z = ((z ^ (z >> 30)) * _C1) & _M64
    z = ((z ^ (z >> 27)) * _C2) & _M64
    return z ^ (z >> 31)


# -- integer keys ---------------------------------------------------------

def hash_pairs_int(values) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2|1) for int keys — vectorized (scalar ints go through the
    same numpy ops, so probe-side and build-side agree bit-for-bit)."""
    with np.errstate(over="ignore"):
        x = np.asarray(values, dtype=np.int64).astype(np.uint64)
        h1 = _splitmix64_np(x)
        h2 = _splitmix64_np(x ^ np.uint64(_SEED2)) | np.uint64(1)
    return h1, h2


# -- string keys ----------------------------------------------------------

# 64-period odd multipliers for the position-weighted byte sum
_MULT = np.array(
    [_splitmix64_py(i) | 1 for i in range(64)], dtype=np.uint64
)


def _windows_np(arr: pa.Array) -> tuple[np.ndarray, ...]:
    """Vectorized (w_head, w_mid, w_tail, length) uint64 windows straight
    from the Arrow string buffers — no per-row Python."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32, count=len(arr) + 1 + arr.offset)
    offs = offs[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    starts, ends = offs[:-1], offs[1:]
    lens = ends - starts
    rel = np.arange(8, dtype=np.int64)

    def window(pos: np.ndarray) -> np.ndarray:
        # 8 bytes at string-relative `pos`, zero past the string's end
        if len(data) == 0:
            return np.zeros(len(lens), dtype=np.uint64)
        idx = starts[:, None] + pos[:, None] + rel
        valid = (pos[:, None] + rel) < lens[:, None]
        b = data[np.minimum(idx, len(data) - 1)]
        b = np.where(valid, b, 0).astype(np.uint64)
        # little-endian combine
        return (b << (rel.astype(np.uint64) * np.uint64(8))).sum(
            axis=1, dtype=np.uint64
        )

    zero = np.zeros(len(lens), dtype=np.int64)
    head = window(zero)
    mid = window(np.maximum(zero, (lens - 8) // 2))
    tail = window(np.maximum(zero, lens - 8))

    # position-weighted byte sum: byte * MULT[pos_in_string % 64], segment-
    # summed via one cumsum (covers bytes the fixed windows miss)
    if len(data) and ends[-1] > starts[0]:
        sub = data[starts[0] : ends[-1]].astype(np.uint64)
        posrel = (
            np.arange(len(sub), dtype=np.int64) + starts[0] - np.repeat(starts, lens)
        )
        with np.errstate(over="ignore"):
            csum = np.concatenate(
                [np.zeros(1, np.uint64), np.cumsum(sub * _MULT[posrel & 63], dtype=np.uint64)]
            )
            wsum = csum[ends - starts[0]] - csum[starts - starts[0]]
    else:
        wsum = np.zeros(len(lens), dtype=np.uint64)
    return head, mid, tail, lens.astype(np.uint64), wsum


def hash_pairs_str_array(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    head, mid, tail, lens, wsum = _windows_np(arr)
    with np.errstate(over="ignore"):
        h = _splitmix64_np(head)
        h = _splitmix64_np(h ^ mid)
        h = _splitmix64_np(h ^ tail)
        h = _splitmix64_np(h ^ lens)
        h = _splitmix64_np(h ^ wsum)
        h2 = _splitmix64_np(h ^ np.uint64(_SEED2)) | np.uint64(1)
    return h, h2


def hash_pair_str_scalar(s: str) -> tuple[int, int]:
    """Python twin of hash_pairs_str_array for probe values — must agree
    bit-for-bit (regression-tested)."""
    b = s.encode("utf-8")
    L = len(b)

    def window(pos: int) -> int:
        w = b[pos : pos + 8]
        return int.from_bytes(w + b"\0" * (8 - len(w)), "little")

    wsum = 0
    for i, by in enumerate(b):
        wsum = (wsum + by * int(_MULT[i & 63])) & _M64
    h = _splitmix64_py(window(0))
    h = _splitmix64_py(h ^ window(max(0, (L - 8) // 2)))
    h = _splitmix64_py(h ^ window(max(0, L - 8)))
    h = _splitmix64_py(h ^ L)
    h = _splitmix64_py(h ^ wsum)
    h2 = _splitmix64_py(h ^ _SEED2) | 1
    return h, h2


def hash_pairs_probe(values, is_string: bool) -> tuple[np.ndarray, np.ndarray]:
    """Probe-side hashing of a (small) predicate value list."""
    if not is_string:
        return hash_pairs_int(list(values))
    pairs = [hash_pair_str_scalar(str(v)) for v in values]
    h1 = np.array([p[0] for p in pairs], dtype=np.uint64)
    h2 = np.array([p[1] for p in pairs], dtype=np.uint64)
    return h1, h2


# -- filter build / test --------------------------------------------------

def stripe_bloom_bits(n_keys: int) -> int:
    """Power-of-two m >= STRIPE_BITS_PER_KEY * n (min 512 bits)."""
    m = 512
    while m < STRIPE_BITS_PER_KEY * max(1, n_keys):
        m <<= 1
    return m


def file_bloom_bits(n_keys: int) -> int:
    """Sidecar m of a file of n keys: its stripe_bloom_bits, capped."""
    return min(stripe_bloom_bits(n_keys), FILE_BLOOM_BITS)


def fold(bits: np.ndarray, m_bits: int) -> np.ndarray:
    """The same filter at a smaller power-of-two m: probe indexes are
    (h1 + i*h2) mod m, and m divides len(bits)*8, so OR-ing the halves
    until m bits remain is exactly the bloom built at m."""
    while len(bits) * 8 > m_bits:
        half = len(bits) // 2
        bits = bits[:half] | bits[half:]
    return bits


def bloom_insert(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> None:
    """Set the k probe bits of every (h1, h2) pair in `bits` (uint8[m/8])."""
    m = np.uint64(len(bits) * 8)
    with np.errstate(over="ignore"):
        for i in range(BLOOM_K):
            idx = (h1 + np.uint64(i) * h2) % m
            np.bitwise_or.at(
                bits,
                (idx >> np.uint64(3)).astype(np.int64),
                np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)),
            )


def bloom_build(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    bloom_insert(bits, h1, h2)
    return bits


def bloom_might_contain(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Vectorized membership test -> bool[n] (True = possibly present)."""
    m = np.uint64(len(bits) * 8)
    out = np.ones(len(h1), dtype=bool)
    with np.errstate(over="ignore"):
        for i in range(BLOOM_K):
            idx = (h1 + np.uint64(i) * h2) % m
            byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
            out &= (byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
    return out


def bloom_fill(bits: np.ndarray) -> float:
    """Fraction of set bits (saturation; > 0.5 means readers ignore it)."""
    return float(np.unpackbits(bits).mean()) if len(bits) else 0.0


def bloom_to_meta(bits: np.ndarray, n_keys: int) -> dict:
    """JSON-serializable descriptor (stripe footer stats / sidecar file)."""
    return {
        "m": int(len(bits) * 8),
        "k": BLOOM_K,
        "n": int(n_keys),
        "b64": base64.b64encode(bits.tobytes()).decode("ascii"),
    }


def bloom_from_meta(meta: dict) -> np.ndarray | None:
    """Decode a descriptor; None when absent/saturated/malformed (callers
    fall back to no-bloom pruning — always conservative)."""
    if not meta or meta.get("k") != BLOOM_K:
        return None
    try:
        bits = np.frombuffer(base64.b64decode(meta["b64"]), dtype=np.uint8)
    except Exception:
        return None
    if len(bits) * 8 != meta.get("m") or bloom_fill(bits) > 0.5:
        return None
    return bits


def meta_might_contain(meta: dict, values, is_string: bool) -> bool:
    """Conservative file/stripe test: could ANY of `values` be present?
    True when the bloom is absent or saturated."""
    bits = bloom_from_meta(meta)
    if bits is None:
        return True
    h1, h2 = hash_pairs_probe(values, is_string)
    return bool(bloom_might_contain(bits, h1, h2).any())

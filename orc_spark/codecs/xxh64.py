"""Spark's `xxhash64` in numpy: XXH64 over a whole Arrow column at once.

Bit-identical to `org.apache.spark.sql.catalyst.expressions.XxHash64`:
strings hash their UTF-8 bytes (`hashUnsafeBytes`), byte/short/int values
hash as `hashInt` and bigint values as `hashLong`, and a null leaves the
running hash at its seed (Spark skips null children). Multi-argument
`xxhash64(a, b)` chains: b is hashed with a's hash as its seed, which is
what `hash_int(1, seed=xxhash64(key))` computes for `xxhash64(key, 1)`.

Strings are hashed column-wise: every row advances through the same XXH64
rounds (32-byte stripes, 8-byte words, one 4-byte word, single bytes) and a
row leaves a round's index set once its length is used up, so the Python
loop runs max(len) / 32 + 9 times, not once per row. Words load straight
from the Arrow data buffer through an unaligned stride-1 view.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SPARK_SEED = 42

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def _seeds(seed, n: int) -> np.ndarray:
    s = np.asarray(seed)
    s = s.astype(np.int64).view(np.uint64) if s.dtype != np.uint64 else s
    return np.broadcast_to(s, (n,)).copy()


def hash_int(values, seed=SPARK_SEED) -> np.ndarray:
    """Spark `XXH64.hashInt` of int32-range values (uint64 out)."""
    v = np.asarray(values, dtype=np.int64)
    h = _seeds(seed, len(v))
    with np.errstate(over="ignore"):
        h = h + P5 + np.uint64(4)
        h ^= (v & 0xFFFFFFFF).astype(np.uint64) * P1
        h = _rotl(h, 23) * P2 + P3
        return _fmix(h)


def hash_long(values, seed=SPARK_SEED) -> np.ndarray:
    """Spark `XXH64.hashLong` (uint64 out)."""
    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    h = _seeds(seed, len(v))
    with np.errstate(over="ignore"):
        h = h + P5 + np.uint64(8)
        h ^= _rotl(v * P2, 31) * P1
        h = _rotl(h, 27) * P1 + P4
        return _fmix(h)


def hash_utf8(arr: pa.Array, seed=SPARK_SEED) -> np.ndarray:
    """Spark `XXH64.hashUnsafeBytes` of each value's bytes (uint64 out;
    null slots hash like empty values — `xxhash64` masks them)."""
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        off_t = np.int64
    else:
        off_t = np.int32
    bufs = arr.buffers()
    n = len(arr)
    offs = np.frombuffer(bufs[1], dtype=off_t, count=arr.offset + n + 1)
    offs = offs[arr.offset:].astype(np.int64)
    raw = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    # zero tail so a word load at any in-bounds start stays in the buffer
    buf = np.concatenate([raw[: offs[-1]], np.zeros(8, np.uint8)])
    u64 = np.ndarray((len(buf) - 7,), "<u8", buf, 0, (1,))
    u32 = np.ndarray((len(buf) - 3,), "<u4", buf, 0, (1,))
    pos = offs[:-1].copy()
    lens = offs[1:] - offs[:-1]
    seed = _seeds(seed, n)
    h = seed + P5
    with np.errstate(over="ignore"):
        big = np.flatnonzero(lens >= 32)
        if len(big):
            s = seed[big]
            v = [s + P1 + P2, s + P2, s.copy(), s - P1]
            stripes = lens[big] // 32
            p = pos[big]
            for j in range(int(stripes.max())):
                a = np.flatnonzero(stripes > j)
                for lane in range(4):
                    w = u64[p[a] + 8 * lane]
                    v[lane][a] = _rotl(v[lane][a] + w * P2, 31) * P1
                p[a] += 32
            pos[big] = p
            hb = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for lane in v:
                hb = (hb ^ (_rotl(lane * P2, 31) * P1)) * P1 + P4
            h[big] = hb
        h += lens.astype(np.uint64)
        words = (lens & 31) >> 3
        for j in range(3):
            a = np.flatnonzero(words > j)
            h[a] = _rotl(h[a] ^ (_rotl(u64[pos[a]] * P2, 31) * P1), 27) * P1 + P4
            pos[a] += 8
        a = np.flatnonzero(lens & 4)
        h[a] = _rotl(h[a] ^ (u32[pos[a]].astype(np.uint64) * P1), 23) * P2 + P3
        pos[a] += 4
        for j in range(3):
            a = np.flatnonzero((lens & 3) > j)
            h[a] = _rotl(h[a] ^ (buf[pos[a]].astype(np.uint64) * P5), 11) * P1
            pos[a] += 1
        return _fmix(h)


HASHABLE = ("string", "tinyint", "smallint", "int", "bigint")


def xxhash64(arr, seed=SPARK_SEED) -> np.ndarray:
    """Spark's `xxhash64(col)` with `seed` (a scalar or per-row uint64) as
    int64, for string and integral columns; null rows keep the seed."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        h = hash_utf8(arr, seed)
    elif t in (pa.int8(), pa.int16(), pa.int32()):
        h = hash_int(arr.fill_null(0).to_numpy(), seed)
    elif t == pa.int64():
        h = hash_long(arr.fill_null(0).to_numpy(), seed)
    else:
        raise ValueError(f"xxhash64 has no kernel for {t}")
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        h = np.where(valid, h, _seeds(seed, len(arr)))
    return h.view(np.int64)

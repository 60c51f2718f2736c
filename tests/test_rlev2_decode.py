"""The RLEv2 decoder's wide-pass branches against a per-run oracle.

`oracle_decode` is the decoder as it was before full runs were decoded in
wide passes: every run decodes on its own, in the same per-run code the
decoder still uses for odd-length runs, over a plain unpackbits bit
reader. Every stream here also decodes through `dtype=np.int32` whenever
its values fit, and must equal the oracle's int64 output there too.
"""

import numpy as np
import pyarrow as pa
import pyarrow.orc as po
import pytest

from orc_spark import orcmeta
from orc_spark.codecs.bitpack import closest_width, encode_width, pack
from orc_spark.codecs.rlev2 import decode_rlev2, encode_rlev2
from orc_spark.fixtures import codec_stress_columns, tokens_arrow

CLOSED = (list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64])


def _unpack_bits(buf, n: int, w: int) -> np.ndarray:
    raw = np.frombuffer(bytes(buf), dtype=np.uint8, count=(n * w + 7) // 8)
    bits = np.unpackbits(raw)[: n * w].reshape(n, w).astype(np.uint64)
    return (bits << np.arange(w - 1, -1, -1, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)


def _uvarint(mv, i):
    r = s = 0
    while True:
        x = mv[i]
        i += 1
        r |= (x & 0x7F) << s
        if not x & 0x80:
            return r, i
        s += 7


def _unzz(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def oracle_decode(buf, n: int, signed: bool) -> tuple[np.ndarray, list]:
    """(int64 values, [(kind, width, length)] of the runs)."""
    out = np.empty(n, dtype=np.int64)
    mv = memoryview(buf).cast("B")
    runs = []
    i = filled = 0
    with np.errstate(over="ignore"):
        while filled < n:
            hdr = mv[i]
            kind = hdr >> 6
            if kind == 0:
                w = ((hdr >> 3) & 7) + 1
                L = (hdr & 7) + 3
                v = int.from_bytes(mv[i + 1 : i + 1 + w], "big")
                out[filled : filled + L] = _unzz(v) if signed else v
                i += 1 + w
                runs.append((0, 8 * w, L))
            elif kind == 1:
                w = CLOSED[(hdr >> 1) & 31]
                L = (((hdr & 1) << 8) | mv[i + 1]) + 1
                i += 2
                nb = (L * w + 7) // 8
                u = _unpack_bits(mv[i : i + nb], L, w)
                if signed:
                    out[filled : filled + L] = (u >> np.uint64(1)).view(np.int64) ^ -(
                        u & np.uint64(1)
                    ).view(np.int64)
                else:
                    out[filled : filled + L] = u.view(np.int64)
                i += nb
                runs.append((1, w, L))
            elif kind == 3:
                code = (hdr >> 1) & 31
                L = (((hdr & 1) << 8) | mv[i + 1]) + 1
                i += 2
                base, i = _uvarint(mv, i)
                base = _unzz(base) if signed else base
                fd, i = _uvarint(mv, i)
                fd = _unzz(fd)
                if code == 0:
                    seg = base + fd * np.arange(L, dtype=np.int64)
                else:
                    w = CLOSED[code]
                    nb = ((L - 2) * w + 7) // 8
                    d = _unpack_bits(mv[i : i + nb], L - 2, w).view(np.int64)
                    i += nb
                    deltas = np.r_[np.int64(fd), (-1 if fd < 0 else 1) * d]
                    seg = base + np.r_[np.int64(0), np.cumsum(deltas)]
                out[filled : filled + L] = seg
                runs.append((3, 0, L))
            else:
                w = CLOSED[(hdr >> 1) & 31]
                L = (((hdr & 1) << 8) | mv[i + 1]) + 1
                bw = (mv[i + 2] >> 5) + 1
                pw = CLOSED[mv[i + 2] & 31]
                pgw = (mv[i + 3] >> 5) + 1
                pll = mv[i + 3] & 31
                i += 4
                raw = int.from_bytes(mv[i : i + bw], "big")
                msb = 1 << (8 * bw - 1)
                base = -(raw & (msb - 1)) if raw & msb else raw
                i += bw
                nb = (L * w + 7) // 8
                vals = _unpack_bits(mv[i : i + nb], L, w)
                i += nb
                cfb = closest_width(pgw + pw)
                pos = 0
                for e in _unpack_bits(mv[i : i + (pll * cfb + 7) // 8], pll, cfb).tolist():
                    pos += e >> pw
                    vals[pos] |= np.uint64(((e & ((1 << pw) - 1)) << w) & ((1 << 64) - 1))
                i += (pll * cfb + 7) // 8
                out[filled : filled + L] = vals.view(np.int64) + np.int64(base)
                runs.append((2, w, L))
            filled += L
    assert filled == n
    return out, runs


def patched_run(low, base: int, patches: list, w: int, pw: int, pgw: int) -> bytes:
    """A PATCHED_BASE run written field by field ([ORCv1]): `low` at w
    bits, `base` in sign-magnitude, and (position, patch) entries."""
    L = len(low)
    bw = max(1, (abs(base).bit_length() + 8) // 8)
    mag = abs(base) | ((base < 0) << (8 * bw - 1))
    cfb = closest_width(pgw + pw)
    entries, prev = [], 0
    for p, v in patches:
        assert 0 <= p - prev < 1 << pgw and v < 1 << pw
        entries.append(((p - prev) << pw) | v)
        prev = p
    hdr = bytes([
        0x80 | (encode_width(w) << 1) | ((L - 1) >> 8), (L - 1) & 255,
        ((bw - 1) << 5) | encode_width(pw), ((pgw - 1) << 5) | len(entries),
    ])
    body = pack(np.asarray(low, dtype=np.uint64), w)
    plist = pack(np.array(entries, dtype=np.uint64), cfb) if entries else b""
    return hdr + mag.to_bytes(bw, "big") + body + plist


def check(buf: bytes, n: int, signed: bool, want: np.ndarray | None = None) -> list:
    """Decode `buf` both ways and against the oracle; returns the runs."""
    ref, runs = oracle_decode(buf, n, signed)
    if want is not None:
        assert np.array_equal(ref, want)
    got = decode_rlev2(buf, n, signed)
    assert got.dtype == np.int64 and np.array_equal(got, ref)
    if not signed and ref.min(initial=0) >= 0 and ref.max(initial=0) < 1 << 31:
        got32 = decode_rlev2(buf, n, False, dtype=np.int32)
        assert got32.dtype == np.int32 and np.array_equal(got32, ref.astype(np.int32))
    return runs


def tokenish(rng, n: int, w: int = 14) -> np.ndarray:
    """Token-id-like values: w-bit ids with a few wide outliers per block."""
    v = rng.integers(0, 1 << w, n, dtype=np.int64)
    out = rng.random(n) < 0.04
    v[out] += rng.integers(1 << w, 1 << (w + 3), int(out.sum()), dtype=np.int64)
    return v


def test_full_runs_off_the_512_grid():
    """A SHORT_REPEAT run and a DELTA run first: the full runs after them
    start off the 512-value grid, so their rows take the flat index."""
    rng = np.random.default_rng(1)
    parts = [np.full(5, 7), tokenish(rng, 2048), np.arange(20) * 3, tokenish(rng, 1024),
             rng.integers(0, 1 << 16, 512)]
    buf = b"".join(encode_rlev2(p.astype(np.int64), signed=False) for p in parts)
    want = np.concatenate(parts).astype(np.int64)
    runs = check(buf, len(want), False, want)
    kinds = [k for k, _, _ in runs]
    assert kinds[0] == 0 and 3 in kinds
    offsets = np.cumsum([0] + [L for _, _, L in runs])[:-1]
    off_grid = [o for (k, _, L), o in zip(runs, offsets) if k in (1, 2) and L == 512 and o % 512]
    assert off_grid  # the branch under test ran


def test_mixed_direct_and_patched_widths_in_one_stream():
    rng = np.random.default_rng(2)
    blocks = [tokenish(rng, 512, 14), rng.integers(0, 1 << 16, 512),
              tokenish(rng, 512, 15), rng.integers(0, 1 << 40, 512),
              tokenish(rng, 512, 7), rng.integers(0, 1 << 5, 512), tokenish(rng, 512, 14)]
    want = np.concatenate([blocks[k] for k in rng.permutation(len(blocks))]).astype(np.int64)
    buf = encode_rlev2(want, signed=False)
    runs = check(buf, len(want), False, want)
    full = {(k, w) for k, w, L in runs if L == 512}
    assert len({w for k, w in full if k == 1}) >= 2 and len({w for k, w in full if k == 2}) >= 2


def test_patch_lists_empty_and_64_bits_wide():
    """pll = 0 (a PATCHED_BASE run without patches) and cfb = 64 (pw = 56,
    pgw = 8), in full and odd-length runs of one stream."""
    rng = np.random.default_rng(3)
    low = rng.integers(0, 1 << 10, 512)
    plain = patched_run(low, 1000, [], 10, 3, 1)
    wide_p = [(0, (1 << 56) - 1), (200, 5), (455, 1 << 40), (511, 3)]
    wide = patched_run(low, 12, wide_p, 10, 56, 8)
    short = patched_run(low[:100], -7, [(3, 1 << 50)], 10, 56, 8)
    buf = plain + wide + short + plain
    runs = check(buf, 512 * 3 + 100, signed=True)
    assert [(k, L) for k, _, L in runs] == [(2, 512), (2, 512), (2, 100), (2, 512)]
    got = decode_rlev2(buf, 512 * 3 + 100, signed=True)
    assert np.array_equal(got[:512], low + 1000)
    assert got[512 + 200] == 12 + low[200] + (5 << 10)


def test_narrow_group_whose_patches_reach_past_32_bits():
    """w + pw > 32 in an int32 decode: a writer may declare a patch width
    wider than its patches need (here 28 + 8). The 32-bit path must give
    the int64 path's values."""
    rng = np.random.default_rng(4)
    low = rng.integers(0, 1 << 28, 512)
    pat = [(10, 3), (100, 7), (101, 1), (350, 4)]
    buf = patched_run(low, 5, pat, 28, 8, 8) * 3
    want = np.tile(low + 5, 3)
    for b in range(3):
        for p, v in pat:
            want[512 * b + p] += v << 28
    assert want.max() < 1 << 31
    check(buf, len(want), False, want)


def test_signed_streams():
    rng = np.random.default_rng(5)
    parts = [rng.integers(-(1 << 20), 1 << 20, 1024),  # DIRECT, zigzag
             -5000 + tokenish(rng, 1536),  # PATCHED_BASE, negative bases
             np.full(7, -3), rng.integers(-(1 << 62), 1 << 62, 512)]
    want = np.concatenate(parts).astype(np.int64)
    buf = b"".join(encode_rlev2(p.astype(np.int64), signed=True) for p in parts)
    runs = check(buf, len(want), True, want)
    assert {1, 2} <= {k for k, _, _ in runs}


def test_based_values_past_32_bits():
    """The int64 decode keeps a run's based values 32-bit only when no sum
    leaves [0, 2^32): bases just below 0 and just below 2^32 must widen."""
    rng = np.random.default_rng(6)
    for signed, base in ((True, -3), (True, -(1 << 33)), (False, (1 << 32) - 100),
                         (False, (1 << 32) + 5)):
        low = tokenish(rng, 1536)
        low[::512] = 0  # each block's minimum, so the run's base, is `base`
        want = base + low
        buf = encode_rlev2(want, signed=signed)
        runs = check(buf, len(want), signed, want)
        assert {k for k, _, _ in runs} == {2}


def _piece(rng, signed: bool) -> np.ndarray:
    kind = rng.integers(0, 7)
    n = int(rng.choice([3, 9, 100, 511, 512, 513, 1024, 2000]))
    lo = -(1 << 40) if signed else 0
    if kind == 0:
        return tokenish(rng, n, int(rng.integers(1, 20)))
    if kind == 1:
        return rng.integers(0, 1 << int(rng.integers(1, 62)), n)
    if kind == 2:
        return np.full(n, rng.integers(lo, 1 << 40))
    if kind == 3:
        return rng.integers(0, 50, 1) + np.arange(n) * int(rng.integers(0, 9))
    if kind == 4:
        v = rng.integers(0, 1 << int(rng.integers(1, 12)), n)
        v[rng.integers(0, n, 3)] += 1 << int(rng.integers(20, 60))
        return v + (int(rng.integers(lo, 1 << 30)) if signed else 0)
    if kind == 5:
        return rng.integers(lo, 1 << 31, n)
    return np.sort(rng.integers(0, 1 << 30, n))


@pytest.mark.parametrize("seed", range(6))
def test_random_streams_match_the_oracle(seed):
    """50 streams per seed, each a concatenation of independently encoded
    pieces of several shapes, so runs of every kind and length meet."""
    rng = np.random.default_rng(100 + seed)
    for _ in range(50):
        signed = bool(rng.integers(0, 2))
        parts = [_piece(rng, signed).astype(np.int64) for _ in range(rng.integers(1, 6))]
        buf = b"".join(encode_rlev2(p, signed=signed) for p in parts)
        want = np.concatenate(parts)
        check(buf, len(want), signed, want)


def _liborc_streams(tmp_path):
    """(raw DATA stream, n) of liborc-written int columns and the t-bench
    tokens child stream; liborc int streams are signed."""
    cols = codec_stress_columns()
    tables = {k: pa.array(v, type=pa.int64()) for k, v in cols.items() if v.dtype.kind in "iu"}
    out = []
    for name, arr in tables.items():
        f = str(tmp_path / f"{name}.orc")
        po.write_table(pa.table({"c": arr}), f, compression="uncompressed",
                       dictionary_key_size_threshold=0.8)
        for s in orcmeta.parse(f):
            out.append((orcmeta.stream_bytes(f, s, 1, "DATA"), s["rows"]))
    tbl = tokens_arrow(300, seed=5)
    f = str(tmp_path / "tokens.orc")
    po.write_table(tbl.select(["tokens"]), f, compression="uncompressed")
    flat = tbl["tokens"].combine_chunks().flatten()
    for s in orcmeta.parse(f):
        out.append((orcmeta.stream_bytes(f, s, 2, "DATA"), len(flat)))
    return out


def test_liborc_streams_match_the_oracle(tmp_path):
    streams = _liborc_streams(tmp_path)
    assert len(streams) >= 6
    for raw, n in streams:
        ref, _ = oracle_decode(raw, n, True)
        assert np.array_equal(decode_rlev2(raw, n, True), ref)

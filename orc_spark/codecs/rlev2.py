"""ORC RLEv2 integer codec — vectorized numpy encoder/decoder, from scratch.

Wire format per the public ORC v1 spec ([ORCv1]) and probe-confirmed against
liborc (SURVEY.md Appendix A/B):

  SHORT_REPEAT  00WWWRRR                      W+1 value byte-width, R+3 repeats
  DIRECT        01WWWWWL LLLLLLLL             closed 5-bit width, 9-bit len-1
  PATCHED_BASE  10WWWWWL LLLLLLLL BBBPPPPP GGGNNNNN
  DELTA         11WWWWWL LLLLLLLL             W=0 => fixed delta

The decoder parses any conformant stream (validated against golden vectors cut
from real liborc files in tests/test_rlev2_conformance.py). The encoder makes
its sub-encoding decision per 512-value block with all statistics computed
vectorized across blocks; only per-RUN header assembly touches Python ints
(~n/512 iterations, never per value).

Narrow fast path: an unsigned stream whose values fit 31 bits (token ids,
lengths) runs the whole pipeline in uint32. Its token blocks are almost all
PATCHED_BASE, so that path is the hot one, and it is built from a few wide
passes: one per-block histogram of the values' bit lengths (a bincount) gives
each block's patch width, patch count and max width; patch positions come
from one flat nonzero; low bits pack by merging adjacent values into wide
words (bitpack._pack_words); patch lists pack word-level (varpack_rows); and
the blocks' headers, low bits and patch lists are sliced out of those few
buffers into one flat join. tests/test_rlev2.py pins the encoder's bytes.

`signed=False` streams skip zigzag (our own extension, recorded in our stripe
footer; liborc int columns are always signed).
"""

from __future__ import annotations

import numpy as np

from .bitpack import (
    bit_length,
    bit_length_u8,
    closest_width,
    decode_width,
    encode_width,
    pack,
    pack_many,
    packed_size,
    unpack,
    unpack_u32,
    varpack_rows,
)
from .varint import (
    read_svarint,
    read_uvarint,
    unzigzag,
    write_svarint,
    write_uvarint,
    zigzag,
)

BLOCK = 512

# LUTs over actual widths 0..64 -> closed width / 5-bit code (vectorized map).
_CLOSED_LUT = np.array([closest_width(w) for w in range(65)], dtype=np.int64)
_CODE_LUT = np.array([encode_width(closest_width(w)) for w in range(65)], dtype=np.int64)


# LEB128 byte length of u is 1 + #steps <= u; a PATCHED_BASE base's byte
# count (magnitude plus sign bit, at most 8) is 1 + #steps <= |base|
_VARINT_STEPS = np.uint64(1) << np.arange(7, 64, 7, dtype=np.uint64)
_BASE_STEPS = np.uint64(1) << np.arange(7, 56, 8, dtype=np.uint64)


def _uvarint_len(u: np.ndarray) -> np.ndarray:
    """Byte length of the LEB128 encoding, vectorized (uint64 in)."""
    return 1 + np.searchsorted(_VARINT_STEPS, u, "right")


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def encode_rlev2(arr, signed: bool = True, bounds: tuple[int, int] | None = None) -> bytes:
    """Encode `arr` as an RLEv2 stream. `bounds` is (min, max) of `arr` when
    the caller already has them (stripe stats), saving a scan each."""
    a = np.ascontiguousarray(arr)
    n = len(a)
    if n == 0:
        return b""
    # narrow fast path: unsigned streams whose values fit 31 bits (token ids,
    # lengths) run the whole stats+pack pipeline in uint32 — half the memory
    # traffic, which is what the encoder is bound by at high core counts
    narrow = not signed and a.dtype in (np.int32, np.uint32, np.int16, np.uint16)
    if narrow:
        lo, hi = bounds if bounds is not None else (int(a.min()), int(a.max()))
        narrow = lo >= 0 and hi < (1 << 31)
    if narrow:
        a = a.view(np.uint32) if a.dtype == np.int32 else a.astype(np.uint32, copy=False)
    else:
        a = a.astype(np.int64, copy=False)
    nb = n // BLOCK
    pieces = _encode_full_blocks(a[: nb * BLOCK].reshape(nb, BLOCK), signed, narrow) if nb else []
    if n > nb * BLOCK:
        pieces.append(_encode_block_scalar(a[nb * BLOCK :].astype(np.int64), signed))
    return b"".join(pieces)


def _encode_full_blocks(M: np.ndarray, signed: bool, narrow: bool = False) -> list:
    """M: (B, 512) int64, or uint32 with values < 2^31 when narrow=True
    (then signed is False and every dtype-sensitive step stays 32-bit).
    Returns the blocks' encoded bytes as a list of buffers in block order,
    for the caller's one flat join."""
    B = M.shape[0]
    fd = np.zeros(B, dtype=np.int64)  # DELTA first delta
    w_dp = np.zeros(B, dtype=np.int64)  # DELTA packed width
    with np.errstate(over="ignore"):
        if narrow:
            zz = M  # uint32, already non-negative
        else:
            zz = zigzag(M) if signed else M.view(np.uint64)

        # bytes of each block under each sub-encoding, one row each: DELTA
        # fixed, DELTA packed, DIRECT, PATCHED_BASE; 1 << 30 = ineligible
        costs = np.full((4, B), 1 << 30, dtype=np.int64)
        zzmax = zz.max(axis=1)
        w_dir = _CLOSED_LUT[bit_length(zzmax)]
        costs[2] = 2 + 64 * w_dir  # 512*w/8

        # block min/max in the VALUE domain (narrow: zz IS M; wide signed:
        # zz is zigzagged, so take real extremes separately — wide is rare)
        base = M.min(axis=1)
        Mmax = zzmax.view(M.dtype) if (narrow or not signed) else M.max(axis=1)

        # --- DELTA eligibility + cost ------------------------------------
        # endpoint monotonicity screen BEFORE materializing the full (B, 511)
        # diff array: a monotone (or constant) block's first/last values ARE
        # its extremes, and per-block min/max already exist — so the screen
        # reads 2 columns instead of a strided sample (whose 64 B cache-line
        # stride would re-read the whole array from DRAM). No false
        # negatives; false positives just run the exact per-block diff.
        # Typical token streams: ~0 candidates, and then no DELTA work.
        first, last = M[:, 0], M[:, -1]
        cidx = np.flatnonzero(
            ((first == base) & (last == Mmax)) | ((first == Mmax) & (last == base))
        )
        diffsC = None  # full diffs for candidate blocks only
        if len(cidx):
            # narrow: diff on the int32 view (values < 2^31 so deltas fit
            # int32); uint32 diff would wrap on decreasing runs
            diffsC = np.diff((M.view(np.int32) if narrow else M)[cidx], axis=1)  # (C, 511)
            dminC = diffsC.min(axis=1)
            dmaxC = diffsC.max(axis=1)
            fdC = diffsC[:, 0].astype(np.int64)
            fd[cidx] = fdC
            # int64-overflow guard: diffs only trustworthy when the block's
            # value range fits in 63 bits (always true in narrow mode)
            range_ok = narrow or (
                Mmax[cidx].view(np.uint64) - base[cidx].view(np.uint64)
            ) < (np.uint64(1) << np.uint64(63))
            if narrow:
                first_enc = first[cidx].astype(np.uint64)
            else:
                first_enc = zigzag(first[cidx]) if signed else first[cidx].view(np.uint64)
            head = 2 + _uvarint_len(first_enc) + _uvarint_len(zigzag(fdC))
            const = (dminC == dmaxC) & range_ok
            costs[0, cidx[const]] = head[const]
            mono = ((dminC >= 0) | ((dmaxC <= 0) & (fdC < 0))) & range_ok & ~const
            if mono.any():
                k = np.flatnonzero(mono)
                dabs = np.abs(diffsC[k, 1:])
                dabs_max = (dabs.view(np.uint32) if narrow else dabs.view(np.uint64)).max(axis=1)
                w = _CLOSED_LUT[np.maximum(bit_length(dabs_max), 2)]  # width 1 invalid in DELTA
                w_dp[cidx[k]] = w
                costs[1, cidx[k]] = head[k] + (510 * w + 7) // 8

        # --- PATCHED_BASE estimate ---------------------------------------
        if narrow:
            reduced = M - base[:, None]  # uint32, exact (M >= base)
        else:
            reduced = M.view(np.uint64) - base[:, None].view(np.uint64)
        # per-value bit lengths straight to uint8 (float32-exponent kernel),
        # then one per-block histogram of them (a bincount over blr + 65*row):
        # its cumsum gives the rank-(BLOCK-32) order statistic, the max and
        # the count above any width without a partition or a second pass
        blr = bit_length_u8(reduced.reshape(-1)).reshape(B, BLOCK)
        cum = np.bincount(
            (blr + (np.arange(B, dtype=np.intp) * 65)[:, None]).reshape(-1),
            minlength=65 * B,
        ).reshape(B, 65).cumsum(axis=1)
        wp = _CLOSED_LUT[np.maximum((cum < BLOCK - 31).sum(axis=1), 1)]
        w100 = (cum < BLOCK).sum(axis=1)  # the largest bit length
        npatch = BLOCK - cum[np.arange(B), wp]  # values wider than wp (> 0 if w100 > wp)
        pw_est = _CLOSED_LUT[np.maximum(w100 - wp, 1)]
        # base bytes: big-endian magnitude plus a sign bit
        bw = 1 + np.searchsorted(_BASE_STEPS, base if narrow else np.abs(base).view(np.uint64), "right")
        cfb_est = _CLOSED_LUT[np.minimum(8 + pw_est, 64)]
        ok = (w100 > wp) & (npatch <= 31) & (wp + pw_est <= 64)
        if not narrow:
            ok &= base > np.iinfo(np.int64).min  # abs(base) overflow
        costs[3] = np.where(ok, 4 + bw + 64 * wp + (npatch * cfb_est + 7) // 8, 1 << 30)
        choice = np.argmin(costs, axis=0)

    out: list = [None] * B

    def direct(idx):
        # one pack call per width
        for w in np.unique(w_dir[idx]).tolist():
            g = idx[w_dir[idx] == w]
            hdr = bytes([0x40 | (encode_width(w) << 1) | 1, 0xFF])
            for i, body in zip(g.tolist(), pack_many(zz[g], w, mask_values=False)):
                out[i] = (hdr, body)

    dir_idx = np.flatnonzero(choice == 2)
    if len(dir_idx):
        direct(dir_idx)

    # DELTA fixed
    for i in np.flatnonzero(choice == 0).tolist():
        buf = bytearray([0xC0 | 1, 0xFF])
        _write_base(buf, int(M[i, 0]), signed)
        write_svarint(buf, int(fd[i]))
        out[i] = (buf,)

    # DELTA packed (delta-chosen blocks are always screen candidates, so
    # their full diff rows exist in diffsC)
    for i in np.flatnonzero(choice == 1).tolist():
        w = int(w_dp[i])
        buf = bytearray([0xC0 | (encode_width(w) << 1) | 1, 0xFF])
        _write_base(buf, int(M[i, 0]), signed)
        write_svarint(buf, int(fd[i]))
        dline = np.abs(diffsC[np.searchsorted(cidx, i), 1:])
        body = pack(dline.view(np.uint32) if narrow else dline.view(np.uint64), w, mask_values=False)
        out[i] = (buf, body)

    # PATCHED_BASE — fully vectorized across blocks: patch positions from
    # one flat nonzero pass (their per-block counts are the histogram's),
    # low bits via pack_many per width group, patch entries via one
    # word-level varpack_rows call. When every block is patched (the token
    # stream case) the block arrays are used in place, not copied.
    pat_idx = np.flatnonzero(choice == 3)
    if len(pat_idx):
        with np.errstate(over="ignore"):
            every = len(pat_idx) == B
            blrP = blr if every else blr[pat_idx]
            redP = reduced if every else reduced[pat_idx]
            wpP = wp[pat_idx]
            counts = npatch[pat_idx]
            pos = np.flatnonzero(blrP > wpP.astype(np.uint8)[:, None])
            prow, cols = pos // BLOCK, pos % BLOCK
            starts = np.cumsum(counts) - counts
            prev = np.empty_like(cols)
            prev[1:] = cols[:-1]
            prev[starts] = 0  # first patch's gap is its absolute index
            gaps = (cols - prev).astype(np.uint64)
            pv = redP.reshape(-1)[pos].astype(np.uint64) >> wpP[prow].astype(np.uint64)
            # gaps > 255 don't fit the 8-bit gap field: split with (255, 0)
            # dummy entries, exactly as the ORC writer does
            if bool((gaps > 255).any()):
                ndum = np.maximum(
                    (gaps.astype(np.int64) - 1) // 255, 0
                )
                e = ndum + 1
                ecum = np.cumsum(e) - e
                tot = int(e.sum())
                idx = np.repeat(np.arange(len(gaps)), e)
                pos_in = np.arange(tot) - np.repeat(ecum, e)
                lastd = pos_in == np.repeat(ndum, e)
                gaps = np.where(
                    lastd, gaps[idx] - np.uint64(255) * ndum[idx].astype(np.uint64),
                    np.uint64(255),
                )
                pv = np.where(lastd, pv[idx], np.uint64(0))
                prow = prow[idx]
                counts = np.add.reduceat(e, starts)
                starts = np.cumsum(counts) - counts
            maxgap = np.maximum.reduceat(gaps, starts)
            pw = _CLOSED_LUT[np.maximum(np.maximum.reduceat(bit_length(pv), starts), 1)]
            pgw = np.maximum(bit_length(maxgap), 1)
            ok = (counts <= 31) & (wpP + pw <= 64) & (pgw <= 8)
            # ineligible rows (gap needs dummy entries / width overflow): DIRECT
            if not ok.all():
                direct(pat_idx[~ok])
            okk = np.flatnonzero(ok)
            if len(okk):
                cfb = _CLOSED_LUT[pgw + pw]
                entries = (gaps << np.repeat(pw, counts).astype(np.uint64)) | pv
                eblob, eoff, elen = varpack_rows(
                    entries if len(okk) == len(ok) else entries[ok[prow]],
                    counts[okk], cfb[okk],
                )
                # pack() masks to width, so the patched high bits drop out
                # without a separate lowP = reduced & mask pass
                wpK = wpP[okk]
                low: list = [None] * len(okk)
                for w in np.unique(wpK).tolist():
                    g = np.flatnonzero(wpK == w)
                    rowsel = redP if len(g) == len(redP) else redP[okk[g]]
                    for gi, body in zip(g.tolist(), pack_many(rowsel, w)):
                        low[gi] = body
                # header (4 bytes) + base (bw bytes: big-endian magnitude,
                # MSB = sign), one 12-byte row per block, sliced to 4 + bw
                bwK = bw[pat_idx][okk]
                baseK = base[pat_idx][okk]
                pre = np.empty((len(okk), 12), dtype=np.uint8)
                pre[:, 0] = 0x80 | (_CODE_LUT[wpK] << 1) | 1
                pre[:, 1] = 0xFF
                pre[:, 2] = ((bwK - 1) << 5) | _CODE_LUT[pw[okk]]
                pre[:, 3] = ((pgw[okk] - 1) << 5) | counts[okk]
                mag = np.abs(baseK.astype(np.int64)).astype(np.uint64) | (
                    (baseK < 0).astype(np.uint64) << (8 * bwK - 1).astype(np.uint64)
                )
                pre[:, 4:] = (
                    (mag << (64 - 8 * bwK).astype(np.uint64)).astype(">u8").view(np.uint8).reshape(-1, 8)
                )
                pre_mv = memoryview(pre.reshape(-1))
                ent_mv = memoryview(eblob)
                ends = (eoff + elen).tolist()
                for k, (i, b, eo, ee) in enumerate(
                    zip(pat_idx[okk].tolist(), bwK.tolist(), eoff.tolist(), ends)
                ):
                    out[i] = (pre_mv[12 * k : 12 * k + 4 + b], low[k], ent_mv[eo:ee])

    return [p for blk in out for p in blk]


def _write_base(buf: bytearray, base: int, signed: bool) -> None:
    if signed:
        write_svarint(buf, base)
    else:
        write_uvarint(buf, base)


def _encode_block_scalar(block: np.ndarray, signed: bool) -> bytes:
    """Tail blocks (< 512 values) and tiny arrays."""
    L = len(block)
    vals = block.astype(np.int64, copy=False)
    with np.errstate(over="ignore"):
        zz = zigzag(vals) if signed else vals.view(np.uint64)
        range_ok = (
            int(vals.max()) - int(vals.min()) < 1 << 63 if L else True
        )
        if L >= 3 and range_ok and (vals == vals[0]).all():
            if L <= 10:
                # SHORT_REPEAT
                v = int(zz[0])
                w = max(1, (int(bit_length(np.array([v], dtype=np.uint64))[0]) + 7) // 8)
                hdr = ((w - 1) << 3) | (L - 3)
                return bytes([hdr]) + v.to_bytes(w, "big")
            buf = bytearray([0xC0 | ((L - 1) >> 8), (L - 1) & 0xFF])
            _write_base(buf, int(vals[0]), signed)
            write_svarint(buf, 0)
            return bytes(buf)
        if L >= 3 and range_ok:
            diffs = np.diff(vals)
            if diffs.min() == diffs.max():
                buf = bytearray([0xC0 | ((L - 1) >> 8), (L - 1) & 0xFF])
                _write_base(buf, int(vals[0]), signed)
                write_svarint(buf, int(diffs[0]))
                return bytes(buf)
            if (diffs >= 0).all() or ((diffs <= 0).all() and diffs[0] < 0):
                dabs = np.abs(diffs[1:]).view(np.uint64)
                w = closest_width(max(2, int(bit_length(dabs).max()) if len(dabs) else 2))
                w_dir = closest_width(max(1, int(bit_length(zz).max())))
                cost_delta = 4 + (max(0, L - 2) * w + 7) // 8
                cost_dir = 2 + (L * w_dir + 7) // 8
                if cost_delta < cost_dir:
                    buf = bytearray(
                        [0xC0 | (encode_width(w) << 1) | ((L - 1) >> 8), (L - 1) & 0xFF]
                    )
                    _write_base(buf, int(vals[0]), signed)
                    write_svarint(buf, int(diffs[0]))
                    return bytes(buf) + pack(dabs, w, mask_values=False)
        # DIRECT fallback
        w = closest_width(max(1, int(bit_length(zz).max())))
        hdr = bytes([0x40 | (encode_width(w) << 1) | ((L - 1) >> 8), (L - 1) & 0xFF])
        return hdr + pack(zz, w, mask_values=False)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def decode_rlev2(buf, n: int, signed: bool = True, dtype=np.int64) -> np.ndarray:
    """Decode `n` values from an RLEv2 stream (ours or liborc's).

    Two-phase batched decode: a light header scan collects every full
    512-value DIRECT / PATCHED_BASE run (the overwhelmingly common shapes
    from our encoder) into per-width groups, then each group is gathered and
    unpacked in ONE vectorized call — turning ~n/512 small unpack calls into
    a handful of large ones. Odd-length runs, SHORT_REPEAT, and DELTA decode
    inline as before, so any conformant stream (including liborc's) still
    parses. `dtype=np.int32` is the narrow output path for streams whose
    footer stats prove 0 <= min <= max < 2^31: half the output traffic and
    no int64 widening on the hot DIRECT path."""
    if dtype == np.int32 and signed:
        raise ValueError("narrow int32 decode requires an unsigned stream")
    out = np.empty(n, dtype=dtype)
    mv = memoryview(buf).cast("B")  # pa.Buffer memoryviews are signed by default
    i = 0
    filled = 0
    dir_runs: list[tuple[int, int, int]] = []  # (width, byte_off, out_off)
    pat_runs: list[tuple] = []  # (w, base, pw, pll, cfb, low_off, patch_off, out_off)
    with np.errstate(over="ignore"):
        while filled < n:
            hdr = mv[i]
            kind = hdr >> 6
            if kind == 0:  # SHORT_REPEAT
                w = ((hdr >> 3) & 7) + 1
                rep = (hdr & 7) + 3
                v = int.from_bytes(mv[i + 1 : i + 1 + w], "big")
                if signed:
                    v = (v >> 1) ^ -(v & 1)
                out[filled : filled + rep] = v
                filled += rep
                i += 1 + w
            elif kind == 1:  # DIRECT
                w = decode_width((hdr >> 1) & 0x1F)
                L = (((hdr & 1) << 8) | mv[i + 1]) + 1
                i += 2
                nbytes = packed_size(L, w)
                if L == BLOCK:
                    dir_runs.append((w, i, filled))
                else:
                    vals = unpack(mv[i : i + nbytes], L, w)
                    out[filled : filled + L] = (
                        unzigzag(vals) if signed else vals.view(np.int64)
                    )
                i += nbytes
                filled += L
            elif kind == 3:  # DELTA
                wcode = (hdr >> 1) & 0x1F
                L = (((hdr & 1) << 8) | mv[i + 1]) + 1
                i += 2
                if signed:
                    base, i = read_svarint(mv, i)
                else:
                    base, i = read_uvarint(mv, i)
                fd, i = read_svarint(mv, i)
                if wcode == 0:
                    seg = base + fd * np.arange(L, dtype=np.int64)
                else:
                    w = decode_width(wcode)
                    nbytes = packed_size(L - 2, w)
                    d = unpack(mv[i : i + nbytes], L - 2, w).view(np.int64)
                    i += nbytes
                    sign = -1 if fd < 0 else 1
                    deltas = np.empty(L - 1, dtype=np.int64)
                    deltas[0] = fd
                    deltas[1:] = sign * d
                    seg = np.empty(L, dtype=np.int64)
                    seg[0] = base
                    seg[1:] = base + np.cumsum(deltas)
                out[filled : filled + L] = seg
                filled += L
            else:  # PATCHED_BASE
                w = decode_width((hdr >> 1) & 0x1F)
                L = (((hdr & 1) << 8) | mv[i + 1]) + 1
                bw = ((mv[i + 2] >> 5) & 7) + 1
                pw = decode_width(mv[i + 2] & 0x1F)
                pgw = ((mv[i + 3] >> 5) & 7) + 1
                pll = mv[i + 3] & 0x1F
                i += 4
                raw = int.from_bytes(mv[i : i + bw], "big")
                msb = 1 << (bw * 8 - 1)
                base = -(raw & (msb - 1)) if raw & msb else raw
                i += bw
                nbytes = packed_size(L, w)
                cfb = closest_width(pgw + pw)
                pbytes = packed_size(pll, cfb) if pll else 0
                if L == BLOCK:
                    pat_runs.append((w, base, pw, pll, cfb, i, i + nbytes, filled))
                    i += nbytes + pbytes
                else:
                    vals = unpack(mv[i : i + nbytes], L, w)
                    i += nbytes
                    if pll:
                        entries = unpack(mv[i : i + pbytes], pll, cfb)
                        i += pbytes
                        gaps = (entries >> np.uint64(pw)).astype(np.int64)
                        patches = entries & ((np.uint64(1) << np.uint64(pw)) - np.uint64(1))
                        pos = np.cumsum(gaps)
                        vals[pos] |= patches << np.uint64(w)
                    out[filled : filled + L] = vals.view(np.int64) + np.int64(base)
                filled += L
    if filled != n:
        raise ValueError(f"RLEv2 stream decoded {filled} values, expected {n}")
    if dir_runs or pat_runs:
        _decode_batched(mv, out, dir_runs, pat_runs, signed)
    return out


def _extract_patches(buf8: np.ndarray, sel: list) -> tuple | None:
    """Vectorized patch-list extraction for a group of full PATCHED_BASE runs
    (the tail of the two-phase decode — previously a per-run Python loop of
    ~n/512 small unpack+cumsum calls, the last per-block loop on the decode
    hot path for outlier-heavy data).

    Every patch entry is a cfb-bit big-endian field at bit j*cfb of its run's
    byte-aligned patch list. All entries of all runs extract in one pass: an
    8-byte gather window per entry, big-endian u64 combine, shift/mask (cfb
    <= 40 always fits the top of the window; trailing window bytes past the
    field — including any clamped past the buffer end — are shifted out).
    Patch positions are per-run *inclusive* cumsums of the gap fields,
    computed as one segmented cumsum.

    Returns (run_row, pos, patches) concatenated over runs with pll > 0, or
    None when no run carries patches."""
    rows = np.array([k for k, r in enumerate(sel) if r[3]], dtype=np.int64)
    if not len(rows):
        return None
    pw = np.array([sel[k][2] for k in rows], dtype=np.int64)
    pll = np.array([sel[k][3] for k in rows], dtype=np.int64)
    cfb = np.array([sel[k][4] for k in rows], dtype=np.int64)
    poff = np.array([sel[k][6] for k in rows], dtype=np.int64)
    n_entries = int(pll.sum())
    rid = np.repeat(np.arange(len(rows)), pll)
    starts = np.r_[0, np.cumsum(pll)[:-1]]
    j = np.arange(n_entries, dtype=np.int64) - np.repeat(starts, pll)
    bitoff = j * cfb[rid]
    byte = poff[rid] + (bitoff >> 3)
    win = buf8[np.minimum(byte[:, None] + np.arange(8), len(buf8) - 1)]
    u = np.ascontiguousarray(win).view(">u8")[:, 0].astype(np.uint64)
    sh = (64 - cfb[rid] - (bitoff & 7)).astype(np.uint64)
    cfb_e = cfb[rid].astype(np.uint64)
    # cfb == 64 is reachable (e.g. pw=56 + pgw=8) and numpy's shift by the
    # full word width is UNDEFINED — build the mask branch-free without a
    # 64-bit shift. (sh stays safe: cfb=64 forces bitoff % 8 == 0, sh = 0.)
    mask = np.where(
        cfb_e >= 64,
        np.uint64(0xFFFFFFFFFFFFFFFF),
        (np.uint64(1) << (cfb_e & np.uint64(63))) - np.uint64(1),
    )
    entries = (u >> sh) & mask
    pw_e = pw[rid].astype(np.uint64)
    gaps = (entries >> pw_e).astype(np.int64)
    patches = entries & ((np.uint64(1) << pw_e) - np.uint64(1))
    c = np.cumsum(gaps)
    pos = c - np.repeat(c[starts] - gaps[starts], pll)
    return rows[rid], pos, patches


def _decode_batched(
    mv, out: np.ndarray, dir_runs: list, pat_runs: list, signed: bool
) -> None:
    """Vectorized execution of collected full-block runs: per width group,
    one fancy-index gather of the packed bytes + one unpack + one scatter.
    The narrow (int32 out, width <= 32, unsigned) groups stay in uint32 end
    to end — no int64 widening anywhere on the path."""
    buf8 = np.frombuffer(mv, dtype=np.uint8)
    narrow_out = out.dtype == np.int32 and not signed
    span = np.arange(BLOCK, dtype=np.int64)
    with np.errstate(over="ignore"):
        if dir_runs:
            dr = np.array(dir_runs, dtype=np.int64)
            for w in np.unique(dr[:, 0]):
                g = dr[dr[:, 0] == w]
                nbytes = packed_size(BLOCK, int(w))
                mat = buf8[g[:, 1, None] + np.arange(nbytes)]
                idx = (g[:, 2, None] + span).ravel()
                if narrow_out and w <= 32:
                    out[idx] = unpack_u32(mat.ravel(), len(g) * BLOCK, int(w)).view(
                        np.int32
                    )
                else:
                    vals = unpack(mat.ravel(), len(g) * BLOCK, int(w))
                    out[idx] = unzigzag(vals) if signed else vals.view(np.int64)
        if pat_runs:
            ws = np.array([r[0] for r in pat_runs], dtype=np.int64)
            for w in np.unique(ws):
                sel = [r for r in pat_runs if r[0] == w]
                nbytes = packed_size(BLOCK, int(w))
                starts = np.array([r[5] for r in sel], dtype=np.int64)
                mat = buf8[starts[:, None] + np.arange(nbytes)]
                bases = np.array([r[1] for r in sel], dtype=np.int64)
                # narrow patched path: values < 2^31 and base >= 0 (by the
                # caller's stats gate), so low bits, patches, and the base
                # addition all fit uint32 with no wrap. A foreign stream with
                # inaccurate footer stats could still carry w + pw > 32 (the
                # patch shift would overflow the uint32 lane), so such groups
                # fall back to the int64 path instead of decoding garbage.
                maxwp = max(int(r[0]) + (int(r[2]) if r[3] else 0) for r in sel)
                nrw = (
                    narrow_out
                    and w < 32
                    and maxwp <= 32
                    and bases.min(initial=0) >= 0
                )
                if nrw:
                    vals = unpack_u32(mat.ravel(), len(sel) * BLOCK, int(w)).reshape(
                        len(sel), BLOCK
                    )
                else:
                    vals = unpack(mat.ravel(), len(sel) * BLOCK, int(w)).reshape(
                        len(sel), BLOCK
                    )
                pr = _extract_patches(buf8, sel)
                if pr is not None:
                    rk, pos, patches = pr
                    flat = rk * BLOCK + pos  # unique positions: gaps are
                    # strictly positive within a run after the first entry,
                    # so fancy-index |= never double-writes
                    if nrw:
                        vals.ravel()[flat] |= patches.astype(np.uint32) << np.uint32(w)
                    else:
                        vals.ravel()[flat] |= patches << np.uint64(w)
                outs = np.array([r[7] for r in sel], dtype=np.int64)
                tgt = (outs[:, None] + span).ravel()
                if nrw:
                    res32 = vals + bases.astype(np.uint32)[:, None]
                    out[tgt] = res32.view(np.int32).ravel()
                else:
                    res = vals.view(np.int64) + bases[:, None]
                    out[tgt] = res.ravel()

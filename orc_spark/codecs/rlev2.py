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

The decoder mirrors it: a header scan walks the runs and keeps only the
offsets of full 512-value DIRECT / PATCHED_BASE runs, which then decode per
width group in a few wide passes (one row gather of their packed bodies,
bitpack.unpack_groups, base and patches added in place, rows written through
a (n/512, 512) view). tests/test_rlev2_decode.py checks it against a per-run
oracle.

`signed=False` streams skip zigzag (our own extension, recorded in our stripe
footer; liborc int columns are always signed).
"""

from __future__ import annotations

import numpy as np

from .bitpack import (
    CLOSED_WIDTHS,
    bit_length,
    bit_length_u8,
    closest_width,
    decode_width,
    encode_width,
    pack,
    pack_many,
    packed_size,
    unpack,
    unpack_groups,
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

    Two phases. A header scan walks the runs: a full 512-value DIRECT or
    PATCHED_BASE run (nearly every run our encoder writes) costs two table
    lookups and two list appends, and only its header and output offsets
    are kept; odd-length runs, SHORT_REPEAT and DELTA decode inline, so any
    conformant stream (liborc's too) still parses. _decode_full_runs then
    decodes the full runs in a few wide passes. `dtype=np.int32` is the
    narrow output path for streams whose footer stats prove
    0 <= min <= max < 2^31: half the output traffic, and the full runs'
    arithmetic stays 32-bit (modulo 2^32, which is what the int32 output
    keeps of any wider result)."""
    if dtype == np.int32 and signed:
        raise ValueError("narrow int32 decode requires an unsigned stream")
    out = np.empty(n, dtype=dtype)
    mv = memoryview(buf).cast("B")  # pa.Buffer memoryviews are signed by default
    i = 0
    filled = 0
    dir_hdr: list[int] = []  # header offsets of full DIRECT runs
    dir_at: list[int] = []  # ... and their output offsets
    pat_hdr: list[int] = []  # the same for full PATCHED_BASE runs
    pat_at: list[int] = []
    with np.errstate(over="ignore"):
        while filled < n:
            hdr = mv[i]
            if hdr & 0xC1 == 0x81 and mv[i + 1] == 255:  # full PATCHED_BASE
                pat_hdr.append(i)
                pat_at.append(filled)
                i += _BODY512[hdr] + _PATCH_TAIL[(mv[i + 2] << 8) | mv[i + 3]]
                filled += BLOCK
                continue
            if hdr & 0xC1 == 0x41 and mv[i + 1] == 255:  # full DIRECT
                dir_hdr.append(i)
                dir_at.append(filled)
                i += 2 + _BODY512[hdr]
                filled += BLOCK
                continue
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
                vals = unpack(mv[i : i + nbytes], L, w)
                out[filled : filled + L] = unzigzag(vals) if signed else vals.view(np.int64)
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
            else:  # PATCHED_BASE of fewer than 512 values
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
                vals = unpack(mv[i : i + nbytes], L, w)
                i += nbytes
                if pll:
                    cfb = closest_width(pgw + pw)
                    pbytes = packed_size(pll, cfb)
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
    if dir_hdr or pat_hdr:
        _decode_full_runs(mv, out, dir_hdr, dir_at, pat_hdr, pat_at, signed)
    return out


# header-scan tables: a full run's packed bytes (64 * its width) by its first
# header byte; a PATCHED_BASE run's other bytes (4 header bytes, base, patch
# list) by its third and fourth header bytes. pgw + pw > 64 is malformed:
# its entry width is clamped here and the stream refused in _decode_full_runs
_WIDTHS = np.array(CLOSED_WIDTHS, dtype=np.int64)  # 5-bit code -> width
_BODY512 = (64 * _WIDTHS[(np.arange(256) >> 1) & 31]).tolist()


def _patch_fields(b2: np.ndarray, b3: np.ndarray) -> tuple:
    """(bw, pw, pgw, pll, cfb) of PATCHED_BASE header bytes 3 and 4."""
    pw = _WIDTHS[b2 & 31]
    pgw = (b3 >> 5) + 1
    return (b2 >> 5) + 1, pw, pgw, b3 & 31, _CLOSED_LUT[np.minimum(pgw + pw, 64)]


_b = np.arange(1 << 16)
_bw, _, _, _pll, _cfb = _patch_fields(_b >> 8, _b & 255)
_PATCH_TAIL = (4 + _bw + (_pll * _cfb + 7) // 8).tolist()
del _b, _bw, _pll, _cfb


def _decode_full_runs(
    mv, out: np.ndarray, dir_hdr: list, dir_at: list, pat_hdr: list, pat_at: list,
    signed: bool,
) -> None:
    """Decode the full 512-value runs the header scan collected into `out`,
    per width group: the group's packed bodies are copied back to back
    (one row gather), unpacked at once (bitpack.unpack_groups), based (or
    unzigzagged) and written to their output rows. Rows on the 512-value
    grid are written through a (n/512, 512) view of `out`; a stream with
    odd-length runs before a full one takes a flat index instead. Then all
    patch entries of all PATCHED_BASE runs are read at once, one 8-byte
    window each, and added to their values (a patch's bits lie above the
    run's low bits, so adding them is or-ing them in)."""
    buf8 = np.zeros(len(mv) + 8, dtype=np.uint8)
    buf8[: len(mv)] = np.frombuffer(mv, dtype=np.uint8)
    narrow = out.dtype == np.int32  # unsigned; results modulo 2^32
    grid = out[: len(out) // BLOCK * BLOCK].reshape(-1, BLOCK)

    def place(at: np.ndarray, vals: np.ndarray) -> None:
        if not (at % BLOCK).any():
            grid[at // BLOCK] = vals
        else:
            out[(at[:, None] + np.arange(BLOCK)).ravel()] = vals.ravel()

    def runs(body: np.ndarray, w: int) -> np.ndarray:
        """(len(body), 512) values of the runs whose packed bits start at
        `body`, uint32 where they fit, else uint64."""
        nbytes = 64 * w
        src = np.empty(len(body) * nbytes + 8, dtype=np.uint8)
        rows = np.lib.stride_tricks.as_strided(
            buf8, (len(buf8) - nbytes + 1, nbytes), (1, 1), writeable=False
        )
        src[:-8].reshape(-1, nbytes)[:] = rows[body]
        dt = np.uint32 if w <= 32 else np.uint64
        return unpack_groups(src, len(body) * BLOCK, w, dt).reshape(-1, BLOCK)

    with np.errstate(over="ignore"):
        if dir_hdr:
            hdr = np.array(dir_hdr, dtype=np.int64)
            at = np.array(dir_at, dtype=np.int64)
            wv = _WIDTHS[(buf8[hdr] >> 1) & 31]
            for w in np.unique(wv).tolist():
                g = np.flatnonzero(wv == w)
                vals = runs(hdr[g] + 2, w)
                if signed:
                    vals = unzigzag(vals)
                elif w > 32:
                    vals = vals.view(np.int64)
                place(at[g], vals)
        if not pat_hdr:
            return
        hdr = np.array(pat_hdr, dtype=np.int64)
        at = np.array(pat_at, dtype=np.int64)
        wv = _WIDTHS[(buf8[hdr] >> 1) & 31]
        bw, pw, pgw, pll, cfb = _patch_fields(
            buf8[hdr + 2].astype(np.int64), buf8[hdr + 3].astype(np.int64)
        )
        if (pgw + pw > 64).any():
            raise ValueError("RLEv2 PATCHED_BASE patch entries wider than 64 bits")
        # the 8 bytes at every offset of the stream, big-endian
        win = np.ndarray((len(mv) + 1,), dtype=">u8", buffer=buf8, strides=(1,))
        raw = win[hdr + 4] >> (64 - 8 * bw).astype(np.uint64)
        msb = np.uint64(1) << (8 * bw - 1).astype(np.uint64)
        mag = (raw & (msb - np.uint64(1))).astype(np.int64)
        base = np.where(raw & msb, -mag, mag)
        body = hdr + 4 + bw
        for w in np.unique(wv).tolist():
            g = np.flatnonzero(wv == w)
            vals = runs(body[g], w)
            bg = base[g]
            # based low bits stay 32-bit when the output keeps only 32 bits
            # or when no sum leaves [0, 2^32)
            if narrow or (w < 32 and bg.min() >= 0 and int(bg.max()) + (1 << w) <= 1 << 32):
                if vals.dtype != np.uint32:
                    vals = vals.astype(np.uint32)
                vals += bg.astype(np.uint32)[:, None]
            elif vals.dtype == np.uint32:
                vals = vals + bg[:, None]
            else:
                vals = vals.view(np.int64)
                vals += bg[:, None]
            place(at[g], vals)
        has = np.flatnonzero(pll)
        if not len(has):
            return
        cnt = pll[has]
        rid = np.repeat(has, cnt)
        first = np.cumsum(cnt) - cnt
        bit = (np.arange(len(rid), dtype=np.int64) - np.repeat(first, cnt)) * cfb[rid]
        # an entry's cfb bits start at bit (bit & 7) of its window; cfb = 64
        # entries are byte-aligned, so every entry fits its window
        u = win[(body + 64 * wv)[rid] + (bit >> 3)].astype(np.uint64)
        entries = (u << (bit & 7).astype(np.uint64)) >> (64 - cfb[rid]).astype(np.uint64)
        pwr = pw[rid].astype(np.uint64)
        gaps = (entries >> pwr).astype(np.int64)
        patch = (entries & ((np.uint64(1) << pwr) - np.uint64(1))) << wv[rid].astype(np.uint64)
        c = np.cumsum(gaps)
        pos = at[rid] + c - np.repeat(c[first] - gaps[first], cnt)
        # positions in a run are distinct (gaps after its first are >= 1)
        out[pos] += patch.astype(np.uint32).view(np.int32) if narrow else patch.view(np.int64)

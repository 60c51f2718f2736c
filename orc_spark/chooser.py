"""Codec auto-selection — the 'optimizer' of this engine (SURVEY.md §2.4).

Decisions mirror the reference ORC writer's observed heuristics (SURVEY.md
[PROBE-1/2], gathered from liborc since /root/reference is empty):

- integers: RLEv2, never dictionary (liborc keeps every int probe DIRECT_V2).
  The per-<=512-run sub-encoding choice (short-repeat / direct / delta /
  patched-base) happens inside the RLEv2 encoder from run statistics, exactly
  as ORC's writer does. The standalone 'bitpack' and 'for' codecs are exposed
  and selectable, but cannot beat RLEv2 by more than the 2-byte run headers:
  RLEv2-DIRECT *is* bit-packing per 512 values, and PATCHED_BASE *is*
  frame-of-reference with outlier patching — so the default policy is 'rle2'
  and the others exist for completeness/benchmarking (BASELINE.json:14 names
  all of them as menu entries).
- strings: dictionary when distinct/total <= 0.8 (the Java ORC writer default
  `orc.dictionary.key.threshold=0.8`, probe-confirmed: 4-distinct strings
  dictionary-encode, 50k-distinct do not), else direct. FSST (our addition)
  is turned on by a cost trial on a sample of the payload it would compress
  (the sorted dictionary blob or the concatenated values): FSST must shrink
  the sample below 90% and beat plain zstd by 10% after the zstd wrapper.
  The trial runs only on columns holding at least FSST_MIN_SHARE of the
  stripe's encoded bytes (stripe.encode_stripe's second pass).
- every encoded stream then passes through maybe_compress (zstd) and keeps
  the wrapper only if it shrinks — the same role as ORC's block compression.
"""

from __future__ import annotations

import numpy as np

from .codecs import fsst
from .codecs.compression import compress

DICT_THRESHOLD = 0.8
FSST_GAIN = 0.90
# the FSST trial runs only on string columns holding at least this share of
# the stripe's encoded bytes: FSST at best removes the whole column, so a
# smaller column cannot move the stripe by 1%
FSST_MIN_SHARE = 0.01
FSST_VS_ZSTD = 0.90  # FSST must beat plain zstd by >=10% to be worth its CPU
FSST_SAMPLE = 1 << 13


INT_TRIAL = 4096  # values sampled for the per-stream codec cost trial


def choose_int(arr: np.ndarray, bounds: tuple[int, int] | None = None) -> dict:
    """Integer stream plan: codec + signedness (unsigned saves a zigzag bit).
    `bounds` = (min, max) of `arr` when the caller has them.

    The codec is picked by a cost trial on a sample of up to INT_TRIAL
    values: the smallest of rle2 / for / bitpack, preferring rle2 on ties
    (its per-512 sub-encoding adapts within the stream). rle2 is really
    encoded; for and bitpack sizes are closed forms of the sample's block
    extremes (intcodecs.encoded_len), equal to their encoded lengths. In
    practice rle2 wins almost always — RLEv2-DIRECT *is* bit-packing and
    PATCHED_BASE *is* frame-of-reference with patching — but the trial
    makes the selection observable and honest rather than hard-wired. On a
    t-bench token stream (200k values) the trial costs ~0.55 ms, 13-15% of
    that stream's RLEv2 encode (one thread, 4-core sandbox): most of it is
    the fixed per-call cost of encode_rlev2 on 8 blocks."""
    from .codecs.intcodecs import encoded_len
    from .codecs.rlev2 import encode_rlev2

    if not len(arr):
        return {"codec": "rle2", "signed": False}
    signed = (bounds[0] if bounds is not None else int(arr.min())) < 0
    if len(arr) <= 16:
        return {"codec": "rle2", "signed": signed}
    if len(arr) > 3 * INT_TRIAL:
        # head + middle + tail strides: an unrepresentative prefix (constant
        # or narrow-range head of a stream that widens later) can no longer
        # lock in 'for'/'bitpack' and inflate the full stream
        third = INT_TRIAL // 3
        mid = (len(arr) - third) // 2
        sample = np.concatenate([arr[:third], arr[mid : mid + third], arr[-third:]])
    else:
        sample = arr[:INT_TRIAL]
    best, best_len = "rle2", len(encode_rlev2(sample, signed))
    for codec in ("for", "bitpack"):
        ln = encoded_len(sample, codec, signed)
        if ln < best_len:
            best, best_len = codec, ln
    return {"codec": best, "signed": signed}


FLOAT_TRIAL = 4096  # values sampled for the raw-vs-split cost trial


def choose_float(arr) -> dict:
    """Float stream plan: 'raw' IEEE bytes vs 'split' byte-stream-split,
    picked by an actual zstd cost trial on a sample (same philosophy as
    choose_int: the selection is measured per stream, not hard-wired).
    Split usually wins on real-valued data (near-constant sign/exponent
    planes), raw on already-random or constant streams where planing buys
    nothing — the trial costs ~0.1% of stream encode."""
    from .codecs.floats import encode_floats

    if len(arr) <= 16:
        return {"method": "raw"}
    if len(arr) > 3 * FLOAT_TRIAL:
        third = FLOAT_TRIAL // 3
        mid = (len(arr) - third) // 2
        import numpy as np

        sample = np.concatenate([arr[:third], arr[mid : mid + third], arr[-third:]])
    else:
        sample = arr[:FLOAT_TRIAL]
    raw_c = len(compress(encode_floats(sample, "raw"), "zstd"))
    split_c = len(compress(encode_floats(sample, "split"), "zstd"))
    return {"method": "split" if split_c < raw_c else "raw"}


def string_encoding(n: int, n_distinct: int) -> str:
    """'dictionary' when distinct/total <= DICT_THRESHOLD, else 'direct'."""
    return "dictionary" if n > 0 and (n_distinct / n) <= DICT_THRESHOLD else "direct"


def choose_string(n: int, n_distinct: int, sample: bytes) -> dict:
    """Both string decisions in one plan: the encoding from cardinality and
    the FSST trial on `sample`, with the trained table riding along.
    stripe.encode_stripe makes the two decisions in separate passes (the
    trial only where the column's share of the stripe can matter); this
    one-shot form is what the per-stream kernel replay times."""
    table = fsst_worthwhile(sample)
    return {
        "encoding": string_encoding(n, n_distinct),
        "fsst": table is not None,
        "fsst_table": table,
    }


def fsst_worthwhile(sample: bytes) -> list[bytes] | None:
    """Train on a sample of the payload FSST would compress; return the
    table only if FSST pays AFTER the zstd wrapper every stream gets anyway.
    Cost-based: on id-like strings zstd alone is within ~4% of FSST+zstd,
    while on natural text FSST+zstd wins by ~27% — the trial measures
    exactly this on the sample. A trial is not free: on t-bench's 40
    stripes the 80 trials (doc_id and source, each 0.01-0.51% of its
    stripe) took 0.40 of 1.00 s of single-thread encode_stripe and kept
    FSST on none, which is why encode_stripe skips columns below
    FSST_MIN_SHARE."""
    if len(sample) < 256:
        return None
    sample = sample[:FSST_SAMPLE]
    table = fsst.train(sample)
    if not table:
        return None
    enc = fsst.compress(sample, table)
    if len(enc) >= len(sample) * FSST_GAIN:
        return None
    z = len(compress(sample, "zstd"))
    fz = len(compress(enc, "zstd"))
    return table if fz < z * FSST_VS_ZSTD else None

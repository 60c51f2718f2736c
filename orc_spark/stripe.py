"""Stripe builder/decoder: Arrow RecordBatch <-> encoded stripe blob + footer.

ORC-style columnar decomposition (SURVEY.md §1.2, [ORCv1]): rows transpose
into per-column streams inside each stripe —

  int32/int64 column      DATA (int codec)                [+ PRESENT if nulls]
  float/double column     DATA (IEEE raw | byte-stream-split)  [+ PRESENT]
  timestamp column        DATA (int codec over epoch counts)   [+ PRESENT]
  string column (direct)  LENGTH + DATA bytes             [+ PRESENT]
  string column (dict)    DATA (indices) + DICTIONARY_DATA + DICT_LENGTH
  list<int32> column      LENGTH + child DATA             [+ PRESENT]
  list<float> column      LENGTH + child float DATA       [+ PRESENT]

Every stream is independently wrapped by maybe_compress (zstd kept only when
it shrinks), enabling column pruning at decode: the decoder only touches the
streams of requested columns. The stripe footer is a JSON dict (schema,
per-column encodings, stream directory with offsets, value stats) — the
file-level analogue lives in warehouse.py manifests.

encode_stripe works in two passes. Pass 1 encodes every column with FSST
off (the dictionary-vs-direct rule and the zstd wrapper as above). Pass 2
runs chooser.fsst_worthwhile only on string columns holding at least
chooser.FSST_MIN_SHARE of the stripe's encoded bytes, and re-encodes a
column whose trial keeps FSST. Every other column keeps its pass-1 streams;
offsets are assigned after pass 2, in schema order.

Runs inside Spark Python workers (encode reduce tasks, decode bins) — all
kernels are the vectorized numpy codecs from orc_spark.codecs; no per-row
Python.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import chooser
from .codecs import strings as scodec
from .codecs.compression import decompress, maybe_compress
from .codecs.floats import decode_floats, encode_floats
from .codecs.intcodecs import decode_int_stream, encode_int_stream
from .codecs.present import decode_present, encode_present
from .codecs.rlev2 import decode_rlev2, encode_rlev2

FORMAT_VERSION = 1


class _Streams:
    """One column's encoded streams. Offsets are assigned when encode_stripe
    lays the columns out, so a column can be re-encoded without moving the
    others."""

    def __init__(self, column: str) -> None:
        self.column = column
        self.entries: list[dict] = []
        self.parts: list[bytes] = []

    def add(self, kind: str, raw: bytes, meta: dict) -> None:
        data, comp = maybe_compress(raw)
        self.entries.append(
            {
                "column": self.column,
                "kind": kind,
                "off": 0,
                "clen": len(data),
                "rlen": len(raw),
                "comp": comp,
                **meta,
            }
        )
        self.parts.append(data)

    @property
    def nbytes(self) -> int:
        return sum(map(len, self.parts))


def _strip_nulls(w: _Streams, arr: pa.Array) -> pa.Array:
    """Write the PRESENT stream of a column with nulls; return its values."""
    if arr.null_count:
        w.add("PRESENT", encode_present(~np.asarray(arr.is_null())), {})
        arr = arr.drop_null()
    return arr


def _int_stats(arr: np.ndarray, bounds: tuple[int, int] | None) -> dict:
    if len(arr) == 0:
        return {"min": None, "max": None, "sum": 0}
    return {"min": bounds[0], "max": bounds[1], "sum": int(arr.sum(dtype=np.int64))}


def _add_int_data(w: _Streams, np_vals: np.ndarray) -> tuple[int, int] | None:
    """Write the DATA stream; return the values' (min, max), found in one
    scan each and shared by the stats, the codec trial and the encoder."""
    bounds = (int(np_vals.min()), int(np_vals.max())) if len(np_vals) else None
    plan = chooser.choose_int(np_vals, bounds)
    raw = encode_int_stream(np_vals, plan["codec"], plan["signed"], bounds)
    w.add("DATA", raw, {"codec": plan["codec"], "signed": plan["signed"], "n": len(np_vals)})
    return bounds


def _encode_int_column(w: _Streams, arr: pa.Array, col_meta: dict) -> None:
    arr = _strip_nulls(w, arr)
    np_vals = np.ascontiguousarray(
        arr.cast(pa.int64()).to_numpy(zero_copy_only=False), dtype=np.int64
    )
    bounds = _add_int_data(w, np_vals)
    col_meta.update(encoding="DIRECT", stats=_int_stats(np_vals, bounds))


def _float_stats(arr: np.ndarray) -> dict:
    # NaN-poisoned min/max would prune WRONGLY (NaN compares false against
    # everything), so a stream containing NaN publishes no range — pruning
    # stays conservative, exactly like ORC's hasNull/statistics contract
    if len(arr) == 0 or bool(np.isnan(arr).any()):
        return {"min": None, "max": None, "n": int(len(arr))}
    return {"min": float(arr.min()), "max": float(arr.max()), "n": int(len(arr))}


def _add_float_data(w: _Streams, np_vals: np.ndarray) -> None:
    plan = chooser.choose_float(np_vals)
    raw = encode_floats(np_vals, plan["method"])
    w.add("DATA", raw, {"method": plan["method"], "n": len(np_vals)})


def _encode_float_column(w: _Streams, arr: pa.Array, col_meta: dict) -> None:
    arr = _strip_nulls(w, arr)
    np_vals = np.ascontiguousarray(arr.to_numpy(zero_copy_only=False))
    _add_float_data(w, np_vals)
    col_meta.update(encoding="DIRECT", stats=_float_stats(np_vals))


def _encode_string_column(
    w: _Streams, arr: pa.Array, col_meta: dict, table: list[bytes] | None = None
) -> bytes:
    """Encode with FSST off (table None) or with a trained FSST table.
    Returns the head of the byte payload FSST would compress — the sorted
    dictionary blob or the concatenated values — as the trial's sample."""
    arr = _strip_nulls(w, arr)
    n = len(arr)
    offs, data = scodec.to_offsets_bytes(arr)
    n_distinct = len(pc.unique(arr)) if n else 0
    use_fsst = table is not None
    if chooser.string_encoding(n, n_distinct) == "dictionary":
        parts, dict_size = scodec.encode_dictionary(arr, use_fsst, table)
        payload = parts["DICTIONARY_DATA"]
        w.add("DATA", parts["DATA"], {"codec": "rle2", "signed": False, "n": n})
        w.add("DICTIONARY_DATA", payload, {"fsst": use_fsst})
        w.add("DICT_LENGTH", parts["DICT_LENGTH"], {"codec": "rle2", "signed": False, "n": dict_size})
        col_meta.update(encoding="DICTIONARY", dict_size=dict_size)
    else:
        parts = scodec.encode_direct(arr, use_fsst, table)
        payload = parts["DATA"]
        w.add("LENGTH", parts["LENGTH"], {"codec": "rle2", "signed": False, "n": n})
        w.add("DATA", payload, {"fsst": use_fsst})
        col_meta.update(encoding="FSST" if use_fsst else "DIRECT")
    col_meta["stats"] = {"n_distinct": int(n_distinct), "bytes": int(len(data))}
    if len(arr) and not arr.null_count:
        # UTF-8 binary order == codepoint order, so these bounds are
        # consistent with both the arrow row filter and Python str compare —
        # they give string columns stripe-level range pruning
        mm = pc.min_max(arr)
        col_meta["stats"]["min"] = mm["min"].as_py()
        col_meta["stats"]["max"] = mm["max"].as_py()
    return payload[: chooser.FSST_SAMPLE]


def _encode_list_column(w: _Streams, arr: pa.Array, col_meta: dict) -> None:
    arr = _strip_nulls(w, arr)
    child_t = arr.type.value_type
    if pa.types.is_floating(child_t):
        # float child: LENGTH + float DATA (raw/split chosen per stream)
        lens = np.asarray(arr.value_lengths(), dtype=np.int64)
        flat = np.ascontiguousarray(arr.flatten().to_numpy(zero_copy_only=False))
        w.add("LENGTH", encode_rlev2(lens, signed=False), {"codec": "rle2", "signed": False, "n": len(lens)})
        _add_float_data(w, flat)
        col_meta.update(
            encoding="DIRECT",
            stats={**_float_stats(flat), "n_values": int(len(flat))},
        )
        return
    arr = arr.cast(pa.list_(pa.int32()))
    lens = np.asarray(arr.value_lengths(), dtype=np.int64)
    # keep the flattened tokens int32: encode_rlev2's narrow path runs the
    # whole stats+pack pipeline in uint32 (half the memory traffic of the
    # previous int64 widening — the dominant byte stream of the table)
    flat = np.ascontiguousarray(arr.flatten().to_numpy(zero_copy_only=False))
    w.add("LENGTH", encode_rlev2(lens, signed=False), {"codec": "rle2", "signed": False, "n": len(lens)})
    bounds = _add_int_data(w, flat)
    col_meta.update(encoding="DIRECT", stats={**_int_stats(flat, bounds), "n_values": int(len(flat))})


def _encode_column(
    name: str, arr: pa.Array, table: list[bytes] | None = None
) -> tuple[_Streams, dict, bytes | None]:
    """(streams, column footer, FSST trial sample — None unless a string)."""
    t = arr.type
    w = _Streams(name)
    col_meta: dict = {"type": str(t), "null_count": int(arr.null_count)}
    sample = None
    if pa.types.is_integer(t) or pa.types.is_timestamp(t):
        # timestamps ride the integer pipeline as their epoch counts (the
        # unit lives in the type string): time-ordered streams are exactly
        # where RLEv2 DELTA shines, and integer min/max stats make time-range
        # stripe pruning work unchanged ([ORCv1] encodes timestamps as
        # integer seconds+nanos for the same reason; one stream suffices at a
        # fixed unit)
        _encode_int_column(w, arr, col_meta)
    elif pa.types.is_floating(t):
        if t.bit_width < 32:
            raise TypeError(f"half-precision column {name!r} unsupported")
        _encode_float_column(w, arr, col_meta)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        sample = _encode_string_column(w, arr, col_meta, table)
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        _encode_list_column(w, arr, col_meta)
    else:
        raise TypeError(f"unsupported column type {t} for {name!r}")
    col_meta["streams"] = w.entries
    return w, col_meta, sample


def encode_stripe(batch: pa.RecordBatch) -> tuple[bytes, dict]:
    """Encode one RecordBatch into (blob, footer), in the two passes the
    module docstring describes."""
    arrays = {
        name: arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        for name, arr in zip(batch.schema.names, batch.columns)
    }
    encoded = {name: _encode_column(name, arr) for name, arr in arrays.items()}
    floor = chooser.FSST_MIN_SHARE * sum(w.nbytes for w, _, _ in encoded.values())
    for name, (w, _, sample) in encoded.items():
        if sample is not None and w.nbytes >= floor:
            table = chooser.fsst_worthwhile(sample)
            if table is not None:
                encoded[name] = _encode_column(name, arrays[name], table)
    pos = 0
    for w, _, _ in encoded.values():
        for entry, data in zip(w.entries, w.parts):
            entry["off"] = pos
            pos += len(data)
    footer = {
        "version": FORMAT_VERSION,
        "n_rows": batch.num_rows,
        "columns": {name: col_meta for name, (_, col_meta, _) in encoded.items()},
        "schema": {n: str(batch.schema.field(n).type) for n in batch.schema.names},
    }
    return b"".join(p for w, _, _ in encoded.values() for p in w.parts), footer


def _get_stream(blob: bytes, streams: list[dict], kind: str) -> tuple[bytes, dict] | None:
    for s in streams:
        if s["kind"] == kind:
            raw = decompress(blob[s["off"] : s["off"] + s["clen"]], s["comp"], s["rlen"])
            return raw, s
    return None


def _apply_present(vals: pa.Array, present: np.ndarray | None) -> pa.Array:
    if present is None:
        return vals
    n = len(present)
    if len(vals) == 0:
        return pa.nulls(n, vals.type)
    idx = np.full(n, -1, dtype=np.int64)
    idx[present] = np.arange(int(present.sum()))
    mask = pa.array(~present)
    taken = vals.take(pa.array(np.maximum(idx, 0), type=pa.int64()))
    return pc.if_else(mask, pa.nulls(n, taken.type), taken)


def decode_stripe(blob: bytes, footer: dict, columns: list[str] | None = None) -> pa.RecordBatch:
    """Decode (optionally a projection of) a stripe back to a RecordBatch."""
    n_rows = footer["n_rows"]
    names = columns if columns is not None else list(footer["columns"].keys())
    arrays = []
    fields = []
    for name in names:
        meta = footer["columns"][name]
        streams = meta["streams"]
        t = meta["type"]
        present = None
        p = _get_stream(blob, streams, "PRESENT")
        if p is not None:
            present = decode_present(p[0], n_rows)
        n_vals = n_rows if present is None else int(present.sum())
        if t.startswith("int") or t.startswith("uint"):
            raw, s = _get_stream(blob, streams, "DATA")
            vals = decode_int_stream(raw, s["n"], s["codec"], s["signed"])
            arr = pa.array(vals, type=pa.int64()).cast(getattr(pa, t)())
            arr = _apply_present(arr, present)
        elif t in ("float", "double"):
            raw, s = _get_stream(blob, streams, "DATA")
            dtype = "float32" if t == "float" else "float64"
            vals = decode_floats(raw, s["n"], s["method"], dtype)
            arr = pa.array(vals, type=pa.float32() if t == "float" else pa.float64())
            arr = _apply_present(arr, present)
        elif t.startswith("timestamp"):
            raw, s = _get_stream(blob, streams, "DATA")
            vals = decode_int_stream(raw, s["n"], s["codec"], s["signed"])
            m = re.match(r"timestamp\[(\w+)(?:,\s*tz=(.+))?\]", t)
            if not m:
                raise TypeError(f"unparseable timestamp type {t!r}")
            ts_t = pa.timestamp(m.group(1), m.group(2))
            arr = pa.array(vals, type=pa.int64()).cast(ts_t)
            arr = _apply_present(arr, present)
        elif t in ("string", "large_string"):
            if meta["encoding"] == "DICTIONARY":
                sd = {k: _get_stream(blob, streams, k) for k in ("DATA", "DICTIONARY_DATA", "DICT_LENGTH")}
                arr = scodec.decode_dictionary(
                    {k: v[0] for k, v in sd.items()},
                    n_vals,
                    meta["dict_size"],
                    sd["DICTIONARY_DATA"][1].get("fsst", False),
                )
            else:
                sd = {k: _get_stream(blob, streams, k) for k in ("LENGTH", "DATA")}
                arr = scodec.decode_direct(
                    {k: v[0] for k, v in sd.items()}, n_vals, sd["DATA"][1].get("fsst", False)
                )
            arr = arr.cast(pa.string() if t == "string" else pa.large_string())
            arr = _apply_present(arr, present)
        elif t.startswith("list") or t.startswith("large_list"):
            lraw, ls = _get_stream(blob, streams, "LENGTH")
            lens = decode_rlev2(lraw, ls["n"], signed=False)
            draw, ds = _get_stream(blob, streams, "DATA")
            if "method" in ds:  # float child (the DATA stream is a float codec)
                child = pa.float64() if "double" in t else pa.float32()
                dtype = "float64" if "double" in t else "float32"
                flat_f = decode_floats(draw, ds["n"], ds["method"], dtype)
                offs64 = np.zeros(len(lens) + 1, dtype=np.int64)
                offs64[1:] = np.cumsum(lens, dtype=np.int64)
                if offs64[-1] > np.iinfo(np.int32).max:
                    raise ValueError("stripe list column exceeds int32 offsets; lower stripe rows")
                arr = pa.ListArray.from_arrays(
                    pa.array(offs64.astype(np.int32), type=pa.int32()),
                    pa.array(flat_f, type=child),
                )
                arrays.append(_apply_present(arr, present))
                fields.append(pa.field(name, arrays[-1].type))
                continue
            # narrow decode: the footer stats prove the child values fit
            # int32, so the dominant stream never widens to int64 (half the
            # decode output traffic) — the stats gate keeps liborc-style
            # wide streams on the generic path
            st = meta.get("stats", {})
            narrow = (
                not ds["signed"]
                and st.get("min") is not None
                and st["min"] >= 0
                and st.get("max", 1 << 31) < (1 << 31)
            )
            flat = decode_int_stream(
                draw, ds["n"], ds["codec"], ds["signed"],
                dtype=np.int32 if narrow else np.int64,
            )
            offs64 = np.zeros(len(lens) + 1, dtype=np.int64)
            offs64[1:] = np.cumsum(lens, dtype=np.int64)
            if offs64[-1] > np.iinfo(np.int32).max:
                raise ValueError("stripe list column exceeds int32 offsets; lower stripe rows")
            arr = pa.ListArray.from_arrays(
                pa.array(offs64.astype(np.int32), type=pa.int32()),
                pa.array(
                    flat if flat.dtype == np.int32 else flat.astype(np.int32),
                    type=pa.int32(),
                ),
            )
            arr = _apply_present(arr, present)
        else:
            raise TypeError(f"unsupported column type {t} for {name!r}")
        arrays.append(arr)
        fields.append(pa.field(name, arr.type))
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def footer_to_json(footer: dict) -> str:
    return json.dumps(footer, separators=(",", ":"))


def footer_from_json(s: str) -> dict:
    return json.loads(s)

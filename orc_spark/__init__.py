"""orc_spark — a from-scratch PySpark-native columnar lightweight-compression engine.

Reproduces the capability surface specified by BASELINE.json (north rule): ORC
stripe-style per-column encoding (dictionary, RLEv2 short-repeat/direct/delta/
patched-base, FSST, bit-packing, frame-of-reference) with codec auto-selection,
over tables of pre-tokenized training sequences
``(doc_id string, tokens array<int32>, n_tok int32, source string)``.

The reference repository (/root/reference, snapshot of ugm616/orc) is empty —
a single ``README.md:1`` containing ``# orc`` — so behavioral parity is defined
against the reference ORC writer/reader (liborc via pyarrow.orc, and Spark's
bundled Java orc-core), per SURVEY.md.

Layers:
  codecs/    pure numpy encode/decode kernels (no Spark dependency)
  chooser    per-stream codec auto-selection from value statistics
  stripe     Arrow RecordBatch <-> encoded stripe blobs (runs in Python tasks)
  exchange   the encode's Arrow exchange: numpy pids, per-pid segments
  pipeline   Spark DataFrame pipeline: salted exchange -> encode -> warehouse
  warehouse  Iceberg-emulated snapshot/manifest commit log with resume
"""

__version__ = "0.1.0"

from . import worker as _worker

_worker.bootstrap()

"""The two workloads: seeded inputs from `orc_spark.fixtures`, a model of
every expected answer, and a set-up, a warm-up and one closed-loop cycle
each.

Sizes and layout follow bench.py: the t-bench corpus (20k docs, 8.11M tokens
at seed 42), salt 8, 4M-token stripes. Every table fits in RAM; the engine
has no block cache of its own, so there is no larger-than-cache case.

Every cycle starts and ends with REFERENCE, a read of the input through
Spark's own parquet reader that runs no engine code. Each workload maps the gating
end-to-end metrics (run.END_TO_END) to one of its operation kinds in
`slots`, and the per-operation metrics of the benchmark's specification to
theirs in `named`.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from orc_spark import cdc, datasource, deletes, fixtures
from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip
from tracer import Tracer, spark_counts

TBENCH_DOCS = fixtures.TIERS["t-bench"]
SALT = 8
STRIPE_TOKENS = 4_000_000
CANONICAL_SEED = 42
CANONICAL_ENC_BYTES = 11_099_806  # BASELINE.md: 1.3687 B/token
N_LOOKUPS = 3
WARMUP_DOCS = 400
REFERENCE = "spark.parquet_scan"


class Model:
    """What the operations must return, computed in the benchmark process
    from the generated Arrow table. `broken` adds a phantom row, so every check that
    uses the row count must fail (the smoke test's wrong expectation)."""

    def __init__(self, table: pa.Table, seed: int, broken: bool = False):
        self.doc_id = np.asarray(table.column("doc_id").to_pylist(), dtype=object)
        self.n_tok = table.column("n_tok").to_numpy().astype(np.int64)
        self.first = (
            pc.list_element(table.column("tokens"), 0).to_numpy().astype(np.int64)
        )
        self.rows = table.num_rows + int(broken)
        self.tokens = int(self.n_tok.sum())
        self.first_sum = int(self.first.sum())
        canonical = (seed, table.num_rows) == (CANONICAL_SEED, TBENCH_DOCS)
        # other inputs: the first encode fixes the size, later ones must match
        self.enc_bytes = CANONICAL_ENC_BYTES if canonical else None
        self.digest = hashlib.sha256(
            self.n_tok.tobytes() + self.first.tobytes()
        ).hexdigest()[:16]

    def keys(self, rng: np.random.Generator, k: int) -> list[str]:
        return self.doc_id[rng.choice(len(self.doc_id), k, replace=False)].tolist()


class Bench:
    """The closed-loop client. It runs one operation at a time, times it,
    checks its result against the model and counts it. A failed or wrong
    operation is counted and logged to stderr, never raised."""

    def __init__(self, spark, work: str, seed: int, break_model: bool, traced: bool):
        self.spark = spark
        self.tracer = Tracer(enabled=traced)
        self.span = self.tracer.span
        self.work = work
        self.seed = seed
        self.break_model = break_model
        self.attempted = 0
        self.failed = 0
        self.keep = True
        self.registered = False
        self.drilldowns = 0
        self.enc_bytes: dict[str, int] = {}
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.tokens: dict[str, list[int]] = defaultdict(list)
        self.groups: dict[str, list[str]] = defaultdict(list)
        self.cycles: list[dict] = []
        self._counts: dict[str, dict] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def rng(self, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, salt])

    def op(self, kind: str, fn, want, tokens: int = 0):
        """Run `fn` as one operation; `want` is the expected result or a
        predicate over it. While `keep` is off (the warm-up) operations are
        checked and counted like the rest; their times are dropped."""
        self.attempted += 1
        group = f"{kind}#{self.attempted}"
        self.spark.sparkContext.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            with self.span(kind, group=group):
                got = fn()
            ok = want(got) if callable(want) else got == want
        except Exception:
            traceback.print_exc()
            got, ok = None, False
        dt = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"perfbench: {kind} returned {got!r:.200}, expected "
                  f"{want!r:.200}", file=sys.stderr)
        if self.keep:
            self.samples[kind].append(dt)
            self.tokens[kind].append(tokens)
            self.groups[kind].append(group)
        return got

    def cycle(self, wl, i: int, instrumented: bool = False) -> None:
        """One cycle of the workload, its spans kept only if `instrumented`."""
        traced, self.tracer.enabled = self.tracer.enabled, instrumented
        try:
            with self.span("cycle", i=i) as rec:
                wl.cycle(i)
        finally:
            self.tracer.enabled = traced
        if self.keep:
            self.cycles.append({"instrumented": instrumented, "wall": rec["t1"] - rec["t0"]})

    def vs_reference(self, kind: str) -> float:
        """Median over cycles of the cycle's median time of `kind` over the
        mean of its REFERENCE reads. Every cycle runs the same number of
        operations of each kind."""
        n = len(self.cycles)

        def per_cycle(xs, c):
            k = len(xs) // n
            return xs[c * k:(c + 1) * k]

        ref, xs = self.samples[REFERENCE], self.samples[kind]
        return statistics.median(
            statistics.median(per_cycle(xs, c)) / statistics.mean(per_cycle(ref, c))
            for c in range(n))

    def times(self, *kinds: str) -> list[float]:
        return [t for k in kinds for t in self.samples.get(k, ())]

    def counts(self, field: str, *kinds: str) -> list:
        """One Spark count per timed operation of the given kinds."""
        sc = self.spark.sparkContext
        out = []
        for kind in kinds:
            for g in self.groups.get(kind, ()):
                if g not in self._counts:
                    self._counts[g] = spark_counts(sc, g)
                out.append(self._counts[g][field])
        return out

    def make_input(self, n_docs: int, name: str = "input"):
        """Generate the seeded corpus, write it as the Spark input (8k-row
        row groups, so the input scan is not one task; its schema given, so
        reading it starts no job) and model it."""
        with self.span("fixtures.tokens_arrow", docs=n_docs):
            table = fixtures.tokens_arrow(n_docs, self.seed)
        path = self.path(f"{name}.parquet")
        pq.write_table(table, path, row_group_size=8192)
        df = self.spark.read.schema(from_arrow_schema(table.schema)).parquet(path)
        return table, df, Model(table, self.seed, self.break_model)

    def encode(self, kind: str, df, wh: str, model: Model, snapshot: str):
        """encode_table of the input; `enc_bytes[kind]` keeps the size the
        engine reported, whether or not it matches the model."""

        def run():
            with self.span("pipeline.encode_table"):
                m = encode_table(self.spark, df, wh, snapshot=snapshot,
                                 salt_buckets=SALT, stripe_tokens=STRIPE_TOKENS)
            ps = m["partitions"].values()
            got = tuple(sum(p[k] for p in ps) for k in ("n_rows", "n_tokens", "enc_bytes"))
            self.enc_bytes[kind] = got[2]
            return got

        def check(got):
            if model.enc_bytes is None:
                model.enc_bytes = got[2]
            return got == (model.rows, model.tokens, model.enc_bytes)

        return self.op(kind, run, check, tokens=model.tokens)

    def verify(self, kind: str, df, wh: str, snapshot: str, model: Model):
        """decode_table of the snapshot, then verify_roundtrip against the
        input (job.py --verify)."""

        def run():
            with self.span("pipeline.decode_table"):
                dec = decode_table(self.spark, wh, snapshot=snapshot)
            with self.span("pipeline.verify_roundtrip"):
                res = verify_roundtrip(df, dec)
            self.drilldowns += bool(res["missing"] or res["extra"])
            return res["ok"]

        return self.op(kind, run, True, tokens=model.tokens)

    def full_read(self, kind: str, wh: str, model: Model) -> None:
        """A full decode_table read, checked by row count and sum of n_tok."""
        self.op(kind, lambda: totals(self, "pipeline.decode_table",
                                     lambda: decode_table(self.spark, wh)),
                (model.rows, model.tokens), tokens=model.tokens)

    def format_read(self, kind: str, wh: str, model: Model) -> None:
        """The same read through the tokstripe format."""
        if not self.registered:
            datasource.register(self.spark)
            self.registered = True
        self.op(kind, lambda: totals(self, "datasource.load", lambda: self.spark.read.format(
                    "tokstripe").option("path", wh).load()),
                (model.rows, model.tokens), tokens=model.tokens)

    def mutate(self, tag: str, wh: str, base: str, table: pa.Table, model: Model,
               i: int) -> dict:
        """One round of row-level changes on its own branch from the fixed
        `base` snapshot, so main and the delete-chain depth stay fixed while
        commits pile up in the log: delete ~0.5% of keys, upsert ~1% of rows
        (5% of them new keys) with shifted tokens, read the upsert snapshot
        in full (merge-on-read) and read the changes between the round's two
        commits."""
        spark = self.spark
        n = len(model.doc_id)
        n_del, n_ups = max(1, n // 200), max(2, n // 100)
        n_new = max(1, n_ups // 20)
        n_upd = n_ups - n_new
        pick = self.rng(i).choice(n, n_del + n_ups, replace=False)
        dele, upd, new = np.split(pick, [n_del, n_del + n_upd])
        br = f"{tag}{i}"
        d_snap, u_snap = f"{br}-d", f"{br}-u"
        self.op(f"{tag}.delete",
                lambda: deletes.delete_where(spark, wh, ("doc_id", model.doc_id[dele].tolist()),
                                             snapshot=base, dest=d_snap,
                                             branch=br)["n_deleted"],
                n_del)
        new_df = spark.createDataFrame(upsert_rows(table, upd, new))
        self.op(f"{tag}.upsert",
                lambda: deletes.upsert(spark, wh, new_df, dest=u_snap, branch=br,
                                       salt_buckets=SALT,
                                       stripe_tokens=STRIPE_TOKENS)["n_upserted"],
                n_ups)
        want = (
            model.rows - n_del + n_new,
            model.tokens - int(model.n_tok[dele].sum()) + int(model.n_tok[new].sum()),
            model.first_sum - int(model.first[dele].sum()) + n_upd
            + int(model.first[new].sum()) + n_new,
        )
        self.op(f"{tag}.mor_read", lambda: mor_read(self, wh, u_snap), want,
                tokens=want[1])
        changes = {"delete": n_upd, "insert": n_ups}
        self.op(f"{tag}.cdc", lambda: changed(self, wh, d_snap, u_snap), changes)
        return {"n_deleted": n_del, "cdc_rows": n_upd + n_ups, "changed_keys": n_ups,
                "snapshot": u_snap}


def totals(b: Bench, plan_span: str, make_df) -> tuple[int, int]:
    """(rows, sum of n_tok) of a lazily planned read; the call that returns
    the DataFrame and the action are separate spans."""
    with b.span(plan_span):
        df = make_df()
    with b.span(plan_span + ".exec"):
        r = df.agg(F.count(F.lit(1)), F.sum("n_tok")).first()
    return int(r[0]), int(r[1] or 0)


def upsert_rows(table: pa.Table, upd: np.ndarray, new: np.ndarray) -> pa.Table:
    """New versions of the `upd` rows (every token +1), then copies of the
    `new` rows under fresh keys."""
    t = table.take(pa.array(np.concatenate([upd, new])))
    toks = t.column("tokens").combine_chunks()
    offsets = np.r_[0, np.cumsum(toks.value_lengths().to_numpy())]
    shifted = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pc.add(toks.flatten(), 1).cast(pa.int32()),
    )
    ids = t.column("doc_id").to_pylist()
    ids[len(upd):] = [f"{k}-new" for k in ids[len(upd):]]
    return t.set_column(1, "tokens", shifted).set_column(
        0, "doc_id", pa.array(ids, pa.string()))


def mor_read(b: Bench, wh: str, snap: str) -> tuple[int, int, int]:
    """(rows, sum of n_tok, sum of first tokens) of a merge-on-read scan."""
    with b.span("pipeline.decode_table"):
        df = decode_table(b.spark, wh, snapshot=snap)
    with b.span("pipeline.decode_table.exec"):
        r = df.agg(F.count(F.lit(1)), F.sum("n_tok"),
                   F.sum(F.element_at("tokens", 1))).first()
    return tuple(int(x or 0) for x in r)


def changed(b: Bench, wh: str, frm: str, to: str) -> dict[str, int]:
    """Change rows by type between two consecutive commits."""
    with b.span("cdc.changes_between"):
        df = cdc.changes_between(b.spark, wh, frm, to)
    with b.span("cdc.changes_between.exec"):
        return {r[0]: r[1] for r in df.groupBy("_change_type").count().collect()}


def lookup(b: Bench, wh: str, snapshot: str, key: str, pm: dict | None = None) -> list[str]:
    """doc_ids of a point lookup; `pm` collects decode_table's prune
    accumulators."""
    with b.span("pipeline.decode_table"):
        df = decode_table(b.spark, wh, snapshot=snapshot, predicate=("doc_id", [key]),
                          prune_metrics=pm)
    with b.span("pipeline.decode_table.exec"):
        return [r[0] for r in df.select("doc_id").collect()]


class Workload:
    """A workload over a corpus of `n_docs` documents, set up in `wh`.
    `warmup_encode` encodes a small corpus once before the first set-up, so
    that set-up does not pay the encode path's first-call costs."""

    slots: dict[str, str] = {}
    named: dict[str, tuple[str, str, str]] = {}

    def __init__(self, b: Bench, n_docs: int):
        self.b, self.n_docs = b, n_docs
        self.wh = b.path("wh")

    def prepare(self) -> None:
        self.table, self.df, self.model = self.b.make_input(self.n_docs)

    def warmup_encode(self) -> None:
        _, df, model = self.b.make_input(WARMUP_DOCS, "warmup-input")
        self.b.encode("warmup.encode", df, self.b.path("warmup-wh"), model, "s")

    def reference(self) -> None:
        """Spark alone reading the input in full: count, Σn_tok and the
        tokens' list lengths, so every column is decoded."""
        m = self.model

        def run():
            r = self.df.agg(F.count(F.lit(1)), F.sum("n_tok"), F.sum(F.size("tokens"))).first()
            return tuple(int(x or 0) for x in r)

        self.b.op(REFERENCE, run, (m.rows, m.tokens, m.tokens), tokens=m.tokens)

    def setup(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        self.b.encode("setup.encode", self.df, self.wh, self.model, self.snapshot)

    def warmup(self) -> None:
        """The calls of a cycle whose first run is slow."""
        raise NotImplementedError


class Ingest(Workload):
    """The writer's path (job.py --verify) on the t-bench corpus. Set-up
    encodes the base table. A cycle encodes the corpus into a fresh
    warehouse, verifies it against the input and looks up seeded keys in it
    (read-your-write through the freshly written blooms)."""

    snapshot = "base"
    slots = {"bulk_vs_spark": "ingest.encode"}
    named = {"encode_mtok_s": ("ingest.encode", "mtok_s", "Mtok/s"),
             "verify_mtok_s": ("ingest.verify", "mtok_s", "Mtok/s"),
             "lookup_s.p50": ("ingest.lookup", "p50_s", "s")}

    fresh = None

    def warmup(self) -> None:
        """A verify of the base: set-up has run the encode, and a lookup runs
        as fast on its first call as later."""
        self.reference()
        self.b.verify("ingest.verify", self.df, self.wh, self.snapshot, self.model)

    def cycle(self, i: int) -> None:
        b, m = self.b, self.model
        self.reference()
        fresh = b.path(f"fresh{i}")
        b.encode("ingest.encode", self.df, fresh, m, "s")
        b.verify("ingest.verify", self.df, fresh, "s", m)
        for key in m.keys(b.rng(i), N_LOOKUPS):
            b.op("ingest.lookup", lambda: lookup(b, fresh, "s", key), [key])
        self.reference()
        if self.fresh:
            shutil.rmtree(self.fresh, ignore_errors=True)
        self.fresh = fresh


class Scan(Workload):
    """A training-loader mix over a warehouse encoded in set-up: a full
    decode_table read, a column-pruned read of doc_id, n_tok and source, and
    point lookups of seeded existing keys. The encode path does nothing
    here. The same full read through the tokstripe format runs in the traced
    run's probe round only (layers.probe_round): its first call alone costs
    about as much as a cycle."""

    snapshot = "s"
    slots = {"bulk_vs_spark": "scan.decode_table"}
    named = {"scan_mtok_s": ("scan.decode_table", "mtok_s", "Mtok/s"),
             "meta_scan_s.p50": ("scan.pruned", "p50_s", "s"),
             "lookup_s.p50": ("scan.lookup", "p50_s", "s")}

    def warmup(self) -> None:
        """The full read only: the pruned read and the lookups follow the
        same path and run as fast on their first call as later."""
        self.reference()
        self.b.full_read("scan.decode_table", self.wh, self.model)

    def cycle(self, i: int) -> None:
        b, m, spark, wh = self.b, self.model, self.b.spark, self.wh
        self.reference()
        b.full_read("scan.decode_table", wh, m)
        b.op("scan.pruned",
             lambda: totals(b, "pipeline.decode_table", lambda: decode_table(
                 spark, wh, columns=["doc_id", "n_tok", "source"])),
             (m.rows, m.tokens))
        for key in m.keys(b.rng(i), N_LOOKUPS):
            b.op("scan.lookup", lambda: lookup(b, wh, self.snapshot, key), [key])
        self.reference()


WORKLOADS = {"ingest": Ingest, "scan": Scan}

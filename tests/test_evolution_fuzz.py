"""Randomized schema-evolution chain fuzz: seeded sequences of
rename/add/drop interleaved with upserts, deletes, materializations and
reencode compactions, checked after every commit against a driver-side
model. The hard invariants: a renamed field keeps resolving across
mixed-name files and across rewrites, added columns null-fill exactly
until a write populates them, a dropped name that is added again (later
or in the same call, before or after a rewrite) is a NEW column that is
null in every row written before the add, drops never leak back, and
merge-on-read composes."""

import random

import pytest
from pyspark.sql import functions as F

from orc_spark import deletes
from orc_spark.evolution import evolve_schema
from orc_spark.maintenance import compact_snapshots, materialize_deletes
from orc_spark.pipeline import decode_table, encode_table

BASE_COLS = ["doc_id", "tokens", "source", "n_tok"]


def _base_rows(n=150):
    rng = random.Random(777)
    return [
        (
            f"d{i:05d}",
            [rng.randrange(99) for _ in range(rng.randrange(2, 8))],
            f"s{i % 3}",
            0,
        )
        for i in range(n)
    ]


OPS = ["rename", "add", "drop", "upsert", "delete", "materialize", "reencode",
       "readd"]


def test_random_evolution_chains(spark, tmp_path):
    for seed in (31337, 4242):
        _chain(spark, str(tmp_path / f"wh{seed}"), random.Random(seed))


def _chain(spark, wh, rng):
    rows = [(d, t, s, len(t)) for d, t, s, _ in _base_rows()]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, source string, n_tok int"
    )
    # weight_col=None frees n_tok for rename/drop
    encode_table(spark, df, wh, snapshot="f0", salt_buckets=2,
                 stripe_tokens=300, weight_col=None)
    # model: key -> {current-name: value}; schema: ordered {name: sparktype}
    schema = {"doc_id": "string", "tokens": "array<int>",
              "source": "string", "n_tok": "int"}
    model = {
        d: {"doc_id": d, "tokens": tuple(t), "source": s, "n_tok": n}
        for d, t, s, n in rows
    }
    snap = "f0"
    next_col = [0]
    next_key = [0]
    protected = {"doc_id", "source"}
    used = set(schema) - protected  # every name a column has ever had

    def new_name():
        # half the time a name an earlier (dropped or renamed) column had
        old = sorted(used - set(schema))
        if old and rng.random() < 0.5:
            return rng.choice(old)
        next_col[0] += 1
        used.add(f"c{next_col[0]}")
        return f"c{next_col[0]}"

    ops = [rng.choice(OPS) for _ in range(10)]
    for op in ("materialize", "reencode", "readd"):  # each at least once
        if op not in ops:
            ops.insert(rng.randrange(len(ops) + 1), op)
    for step, op in enumerate(ops):
        if op in ("materialize", "reencode") and not model:
            continue  # nothing left to rewrite
        if op == "rename":
            cands = [c for c in schema if c not in protected]
            old = rng.choice(cands)
            new = new_name()
            snap = evolve_schema(wh, snapshot=snap, rename={old: new})[
                "snapshot_id"
            ]
            schema = {new if k == old else k: v for k, v in schema.items()}
            for r in model.values():
                r[new] = r.pop(old)
        elif op in ("add", "readd"):
            free, drop = sorted(used - set(schema)), []
            if op == "add":
                new = new_name()
            elif free:
                new = rng.choice(free)
            else:  # drop a column and add its name back in the same call
                new = rng.choice([c for c in schema if c not in protected])
                drop = [new]
            snap = evolve_schema(wh, snapshot=snap, drop=drop,
                                 add={new: "int"})["snapshot_id"]
            schema.pop(new, None)
            schema[new] = "int"
            for r in model.values():
                r[new] = None
        elif op == "materialize":
            snap = materialize_deletes(spark, wh, snapshot=snap, salt_buckets=2,
                                       stripe_tokens=300)["snapshot_id"]
        elif op == "reencode":
            snap = compact_snapshots(spark, wh, [snap], f"r{step}",
                                     mode="reencode", salt_buckets=2,
                                     stripe_tokens=300)["snapshot_id"]
        elif op == "drop":
            cands = [c for c in schema if c not in protected]
            if len(cands) <= 1:
                continue
            col = rng.choice(cands)
            snap = evolve_schema(wh, snapshot=snap, drop=[col])["snapshot_id"]
            del schema[col]
            for r in model.values():
                del r[col]
        elif op == "delete":
            src = f"s{rng.randrange(3)}"
            res = deletes.delete_where(
                spark, wh, ("source", [src]), snapshot=snap
            )
            snap = res["snapshot_id"]
            doomed = [d for d, r in model.items() if r["source"] == src]
            assert res["n_deleted"] == len(doomed)
            for d in doomed:
                del model[d]
        else:  # upsert under the CURRENT schema (populates added columns)
            live = sorted(model)
            upd = rng.sample(live, min(len(live), 3))
            new_rows = []
            for d in upd + [f"k{next_key[0] + i}" for i in range(2)]:
                row = {"doc_id": d}
                for c, t in schema.items():
                    if c == "doc_id":
                        continue
                    if t == "array<int>":
                        row[c] = [rng.randrange(50)]
                    elif t == "int":
                        row[c] = rng.randrange(1000)
                    else:
                        row[c] = f"s{rng.randrange(3)}"
                new_rows.append(row)
            next_key[0] += 2
            sdf = spark.createDataFrame(
                [tuple(r[c] for c in schema) for r in new_rows],
                ", ".join(f"{c} {t}" for c, t in schema.items()),
            )
            res = deletes.upsert(spark, wh, sdf, snapshot=snap,
                                 salt_buckets=2, stripe_tokens=300)
            snap = res["snapshot_id"]
            for r in new_rows:
                model[r["doc_id"]] = {
                    c: tuple(r[c]) if isinstance(r[c], list) else r[c]
                    for c in schema
                }
        got = {}
        for r in decode_table(spark, wh, snapshot=snap).collect():
            d = r.asDict()
            got[d["doc_id"]] = {
                c: tuple(d[c]) if isinstance(d[c], list) else d[c]
                for c in schema
            }
        assert got == model, (
            f"step {step} op {op}: decode diverged "
            f"({len(got)} rows vs model {len(model)})"
        )

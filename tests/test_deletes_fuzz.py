"""Randomized delete/upsert chain fuzz: seeded op sequences over one
warehouse, checked after every op against a driver-side dict model of the
table — through both table-read surfaces (decode_table and the tokstripe
format). Catches seq-scoping mistakes (a delete leaking into later
upserts' files, an upsert resurrecting an older delete) that single-shot
tests can miss."""

import random

import pytest
from pyspark.sql import functions as F

from orc_spark import deletes
from orc_spark.datasource import register
from orc_spark.pipeline import decode_table, encode_table


def _base_rows(n=240):
    rng = random.Random(4242)
    rows = []
    for i in range(n):
        toks = [rng.randrange(500) for _ in range(rng.randrange(3, 24))]
        rows.append((f"d{i:05d}", toks, f"s{i % 4}", len(toks)))
    return rows


SCHEMA = "doc_id string, tokens array<int>, source string, n_tok int"


@pytest.fixture(scope="module")
def fuzz_wh(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("fuzz_wh"))
    df = spark.createDataFrame(_base_rows(), SCHEMA)
    encode_table(spark, df, wh, snapshot="f0", salt_buckets=4,
                 stripe_tokens=500)
    return wh


def _check(spark, wh, snap, model):
    register(spark)
    reads = {
        "decode_table": lambda: decode_table(spark, wh, snapshot=snap),
        "tokstripe": lambda: spark.read.format("tokstripe")
        .option("path", wh).option("snapshot", snap).load(),
    }
    for surface, read in reads.items():
        got = {
            r["doc_id"]: (tuple(r["tokens"]), r["source"], r["n_tok"])
            for r in read().collect()
        }
        assert got == model, (
            f"{surface} read diverged at {snap}: "
            f"{len(got)} rows vs model {len(model)}"
        )


def test_random_delete_upsert_chains(spark, fuzz_wh):
    rng = random.Random(99)
    model = {
        d: (tuple(t), s, n) for d, t, s, n in _base_rows()
    }
    snap = "f0"
    next_id = [0]
    for step in range(6):
        op = rng.choice(["delete_range", "delete_source", "upsert"])
        if op == "delete_range":
            lo = rng.randrange(3, 20)
            hi = lo + rng.randrange(1, 6)
            res = deletes.delete_where(
                spark, fuzz_wh, ("n_tok", lo, hi), snapshot=snap
            )
            doomed = {d for d, v in model.items() if lo <= v[2] <= hi}
            assert res["n_deleted"] == len(doomed)
            for d in doomed:
                del model[d]
        elif op == "delete_source":
            src = f"s{rng.randrange(5)}"  # may match nothing (s4)
            res = deletes.delete_where(
                spark, fuzz_wh, ("source", [src]), snapshot=snap
            )
            doomed = {d for d, v in model.items() if v[1] == src}
            assert res["n_deleted"] == len(doomed)
            for d in doomed:
                del model[d]
        else:
            live = sorted(model)
            upd = rng.sample(live, min(len(live), rng.randrange(2, 9)))
            rows = []
            for d in upd:
                toks = list(model[d][0]) + [900 + step]
                rows.append((d, toks, model[d][1], len(toks)))
            for _ in range(rng.randrange(1, 4)):
                d = f"n{next_id[0]:05d}"
                next_id[0] += 1
                toks = [rng.randrange(500) for _ in range(rng.randrange(2, 9))]
                rows.append((d, toks, f"s{rng.randrange(4)}", len(toks)))
            res = deletes.upsert(
                spark, fuzz_wh, spark.createDataFrame(rows, SCHEMA),
                snapshot=snap, salt_buckets=4, stripe_tokens=500,
            )
            assert res["n_upserted"] == len(rows)
            for d, t, s, n in rows:
                model[d] = (tuple(t), s, n)
        snap = res["snapshot_id"]
        _check(spark, fuzz_wh, snap, model)
    # the whole chain folds flat and still matches
    from orc_spark.maintenance import materialize_deletes

    mat = materialize_deletes(spark, fuzz_wh, snapshot=snap)
    _check(spark, fuzz_wh, mat["snapshot_id"], model)

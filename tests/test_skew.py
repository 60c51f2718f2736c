"""Skew handling: the salted pid must spread a pathologically skewed source
(one source = 90% of tokens, with some giant documents) evenly enough that
no single logical partition dominates — the property that keeps 1000-executor
runs from stalling on one straggler task (BASELINE.json:6). Every case runs
encode_table and reads the pids back from what it stored."""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orc_spark.pipeline import decode_file, encode_table

SALT = 16


def pid_rows(df, wh, **kw) -> dict[str, tuple[list[str], int]]:
    """encode_table of df, then each stored pid's (sorted doc_ids, Σ n_tok)."""
    m = encode_table(df.sparkSession, df, wh, snapshot="s", salt_buckets=SALT, **kw)
    out = {}
    for pid, part in m["partitions"].items():
        t = pa.Table.from_batches(list(decode_file(part["file"], [], ["doc_id", "n_tok"])))
        out[pid] = (sorted(t.column("doc_id").to_pylist()), int(pc.sum(t.column("n_tok")).as_py()))
    return out


@pytest.fixture(scope="module")
def skewed_df(spark, tmp_path_factory):
    rng = np.random.RandomState(7)
    n = 4000
    # 90% of docs in one source; lengths heavy-tailed with a few giants
    src = np.where(rng.rand(n) < 0.9, "cc", rng.choice(["web", "books"], n))
    lens = np.clip(rng.lognormal(5.5, 1.4, n).astype(int), 1, 60_000)
    tbl = pa.table(
        {
            "doc_id": pa.array([f"d{i:08d}" for i in range(n)]),
            "tokens": pa.array([[1] * 3 for _ in range(n)], type=pa.list_(pa.int32())),
            "n_tok": pa.array(lens, type=pa.int32()),
            "source": pa.array(src),
        }
    )
    p = tmp_path_factory.mktemp("skew")
    pq.write_table(tbl, str(p / "t.parquet"))
    return spark.read.parquet(str(p))


def test_salt_spreads_dominant_source(skewed_df, tmp_path):
    mass = {p: m for p, (_, m) in pid_rows(skewed_df, str(tmp_path)).items()}
    total = sum(mass.values())
    biggest = max(mass.values())
    # unsalted, the 'cc' partition would hold ~90%; salted, no pid should
    # hold more than a few times the ideal share
    n_cc_pids = len([p for p in mass if p.startswith("cc#")])
    assert n_cc_pids == SALT  # every salt bucket of the hot source is used
    assert biggest / total < 4 / SALT


def test_salt_is_deterministic(skewed_df, tmp_path):
    a = pid_rows(skewed_df, str(tmp_path / "a"))
    b = pid_rows(skewed_df, str(tmp_path / "b"))
    assert a == b


@pytest.fixture(scope="module")
def giant_doc_df(spark, tmp_path_factory):
    """Adversary salt alone cannot fix: one source is a burst of giant
    documents — every salt bucket of it is >2x the cap."""
    n_hot, n_cold = 2000, 4000
    tbl = pa.table(
        {
            "doc_id": pa.array(
                [f"h{i:08d}" for i in range(n_hot)]
                + [f"c{i:08d}" for i in range(n_cold)]
            ),
            "tokens": pa.array(
                [[1] * 3] * (n_hot + n_cold), type=pa.list_(pa.int32())
            ),
            "n_tok": pa.array(
                [40_000] * n_hot + [100] * n_cold, type=pa.int32()
            ),
            "source": pa.array(["hot"] * n_hot + ["cold"] * n_cold),
        }
    )
    p = tmp_path_factory.mktemp("giant")
    pq.write_table(tbl, str(p / "t.parquet"))
    return spark.read.parquet(str(p))


def test_rebalance_caps_pid_token_mass(giant_doc_df, tmp_path):
    cap = 1_000_000  # hot source: 80M tokens over 16 salt buckets = 5M each
    before = {p: m for p, (_, m) in pid_rows(giant_doc_df, str(tmp_path / "a")).items()}
    assert max(before.values()) > 2 * cap  # salt alone leaves >2x stragglers

    after = {p: m for p, (_, m) in pid_rows(
        giant_doc_df, str(tmp_path / "b"), max_pid_tokens=cap).items()}
    splits: dict[str, set] = {}
    for p in after:
        if "@" in p:
            base, sub = p.rsplit("@", 1)
            splits.setdefault(base, set()).add(int(sub))
    # every overweight pid was split by its ceil(mass/cap) factor
    assert splits and all(pid.startswith("hot#") for pid in splits)
    assert all(subs == set(range(-(-before[pid] // cap))) for pid, subs in splits.items())
    assert {p for p, m in before.items() if m > cap} == set(splits)
    # sub-salting is uniform, not exact bin packing: allow sampling slack
    # over the largest-single-doc floor
    assert max(after.values()) <= 1.8 * cap
    # underweight pids untouched; total mass conserved
    assert all(after[pid] == m for pid, m in before.items() if pid.startswith("cold#"))
    assert sum(after.values()) == sum(before.values())


def test_rebalance_is_deterministic(giant_doc_df, tmp_path):
    a = pid_rows(giant_doc_df, str(tmp_path / "a"), max_pid_tokens=1_000_000)
    b = pid_rows(giant_doc_df, str(tmp_path / "b"), max_pid_tokens=1_000_000)
    assert any("@" in p for p in a)
    assert a == b


def test_rebalance_resume_rederives_same_pids(giant_doc_df, tmp_path_factory):
    """Kill/resume with rebalance on: the pid masses come from the map job
    over the FULL input before the resume filter, so a resumed run derives
    identical split pid names and only re-encodes what is missing."""
    from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip
    from orc_spark.warehouse import Warehouse

    spark = giant_doc_df.sparkSession
    wh = str(tmp_path_factory.mktemp("rbres"))
    kwargs = dict(
        snapshot="rb",
        salt_buckets=SALT,
        stripe_tokens=500_000,
        max_pid_tokens=1_000_000,
    )
    m1 = encode_table(spark, giant_doc_df, wh, **kwargs)
    # simulate a killed run that wrote only a third of the partitions'
    # files and died before its commit: no manifest, no log entry
    w = Warehouse(wh)
    pids = sorted(m1["partitions"])
    kept = set(pids[: len(pids) // 3])
    import os
    import shutil

    shutil.rmtree(w.manifest_dir)
    for p in pids[len(pids) // 3 :]:
        os.remove(m1["partitions"][p]["file"])

    m2 = encode_table(spark, giant_doc_df, wh, **kwargs)
    assert set(m2["partitions"]) == set(pids)  # identical split pid names
    for p in pids:  # the survivors adopted, only the rest re-encoded
        assert m2["partitions"][p].get("adopted", False) is (p in kept)
    res = verify_roundtrip(giant_doc_df, decode_table(spark, wh, snapshot="rb"))
    assert res["ok"]


def test_rebalanced_encode_roundtrips(giant_doc_df, tmp_path_factory):
    """The split pids flow through encode -> manifest -> decode unchanged."""
    from orc_spark.pipeline import decode_table, encode_table, verify_roundtrip

    wh = str(tmp_path_factory.mktemp("rbwh"))
    spark = giant_doc_df.sparkSession
    manifest = encode_table(
        spark,
        giant_doc_df,
        wh,
        snapshot="rb",
        salt_buckets=SALT,
        stripe_tokens=500_000,
        max_pid_tokens=1_000_000,
    )
    # split pids use '@' (distinct from the salt's '#': a source name that
    # contains '#' must not make a split pid collide with a salt pid)
    assert any("@" in p for p in manifest["partitions"])
    assert all(
        p["n_tokens"] <= 1_800_000 for p in manifest["partitions"].values()
    )
    res = verify_roundtrip(giant_doc_df, decode_table(spark, wh, snapshot="rb"))
    assert res["ok"]

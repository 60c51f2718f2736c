"""Smoke test of the benchmark itself, at 2% of the corpus size:

    python3 -m pytest perfbench/smoke.py -q

(The file name keeps it out of a plain `pytest` run from the repository
root; named on the command line, pytest collects it.)

Checks the output contract BENCHMARK.json declares: every named metric
prints with its unit on every workload, --seed changes the inputs, a forced
wrong expectation lands in the failure count, and a directory that holds
only the benchmark (no engine) makes it exit non-zero without a result.
Every run starts its own Spark session, so this takes a few minutes.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(cwd, workload, seed, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "0.02", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@functools.lru_cache(maxsize=None)
def outputs(workload, seed, trace, *extra):
    """(report, result line) of one run in the repository; cached, so the
    tests share runs."""
    p = bench(ROOT, workload, seed, trace, *extra)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace, section):
    report, res = outputs(workload, 7, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert sorted(res["metrics"]) == sorted(m["name"] for m in SPEC[section])
    for m in SPEC[section]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert type(got["value"]) in (int, float), m["name"]
    for name, got in report["named"].items():
        assert got["unit"] and type(got["value"]) in (int, float), name


def test_seed_changes_the_inputs():
    a, _ = outputs(WORKLOADS[0], 7, 0)
    b, _ = outputs(WORKLOADS[0], 8, 0)
    assert a["input"]["digest"] != b["input"]["digest"]


def test_wrong_expectation_counts_as_failed():
    report, res = outputs("scan", 7, 0, "--break-model")
    assert res["correct"] is False and res["failed"] >= 1
    assert report["named"]["op_fail_ratio"]["value"] == res["failed"] / res["attempted"] > 0


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench(tmp_path, WORKLOADS[0], 42, 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""

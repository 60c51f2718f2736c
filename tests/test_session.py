"""orc_spark.session.tune_malloc, in a fresh process with no Spark: the
driver gets the glibc allocator thresholds its Python workers inherit."""

import os
import platform
import subprocess
import sys

import pytest

ROUNDS = """
import resource, sys
sys.path.insert(0, sys.argv[1])
import numpy as np

if sys.argv[2] == "tuned":
    import os
    from orc_spark.session import tune_malloc

    # a threshold set after start-up, which glibc itself never read
    os.environ.update(arg.split("=", 1) for arg in sys.argv[3:])

    tune_malloc()


def faults():
    f0 = resource.getrusage(resource.RUSAGE_SELF).ru_minflt
    a = np.empty(64 << 20, dtype=np.uint8)  # allocate, touch, free
    a.fill(1)
    del a
    return resource.getrusage(resource.RUSAGE_SELF).ru_minflt - f0


print(faults(), faults())
"""


@pytest.mark.skipif(platform.libc_ver()[0] != "glibc", reason="mallopt is glibc's")
def test_the_driver_reuses_freed_blocks_as_its_workers_do():
    # the process under test starts with glibc's defaults, as a driver does
    env = {k: v for k, v in os.environ.items() if not k.startswith("MALLOC_")}

    first, second = _rounds("default", env)
    assert second > first / 2  # untuned, every round maps and faults anew
    first, second = _rounds("tuned", env)
    assert first > 0 and second < first / 10


@pytest.mark.skipif(platform.libc_ver()[0] != "glibc", reason="mallopt is glibc's")
@pytest.mark.parametrize("value", ["1GiB", str((1 << 32) + (1 << 30))])
def test_a_threshold_mallopt_cannot_hold_is_left_out(value):
    """A malformed value, or one past a C int (which would wrap to 1 GiB
    here), is not applied: the rounds fault as without tuning."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("MALLOC_")}
    first, second = _rounds("tuned", env, f"MALLOC_MMAP_THRESHOLD_={value}")
    assert second > first / 2


def _rounds(mode: str, env: dict, *setenv: str) -> list[int]:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", ROUNDS, repo, mode, *setenv], env=env,
                         capture_output=True, text=True, timeout=120, check=True)
    return [int(x) for x in out.stdout.split()]

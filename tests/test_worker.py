"""orc_spark.worker: the Python-worker bootstrap, exercised in-process with no
Spark. The Spark-side check (a reused worker's task re-reads no zip
directory) is tests/test_scan.py::test_reused_worker_task_rereads_no_zip_directory."""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from orc_spark import worker  # importing the package ran bootstrap()


def _stdlib(method) -> bool:
    return method.__module__ == "zipimport"


def _count_freezes(monkeypatch) -> list:
    freezes = []
    monkeypatch.setattr(gc, "collect", lambda *a: 0)
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(1))
    return freezes


def _as_worker(monkeypatch):
    """Fake a PySpark worker environment; monkeypatch restores the stdlib
    invalidate_caches at teardown."""
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


def test_invalidation_reads_no_zip_directory_and_a_changed_zip_still_imports(
    tmp_path, monkeypatch
):
    _as_worker(monkeypatch)
    _count_freezes(monkeypatch)
    worker.bootstrap()
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zmod_first").X == 1
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod_first.py", "X = 1\n")
            z.writestr("zmod_second.py", "Y = 2\n")
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
        )
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("zmod_second").Y == 2
        assert reads == [str(archive)]  # re-read once, on the first lookup
    finally:
        sys.modules.pop("zmod_first", None)
        sys.modules.pop("zmod_second", None)


def test_bootstrap_is_inert_in_the_driver():
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert _stdlib(zipimport.zipimporter.invalidate_caches)


def test_bootstrap_is_inert_on_python_312(monkeypatch):
    _as_worker(monkeypatch)
    freezes = _count_freezes(monkeypatch)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    worker.bootstrap()
    assert _stdlib(zipimport.zipimporter.invalidate_caches)
    assert freezes == []


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="stdlib zipimport is lazy")
def test_bootstrap_twice_patches_once(monkeypatch):
    _as_worker(monkeypatch)
    freezes = _count_freezes(monkeypatch)
    worker.bootstrap()
    worker.bootstrap()
    assert not _stdlib(zipimport.zipimporter.invalidate_caches)
    assert freezes == [1]

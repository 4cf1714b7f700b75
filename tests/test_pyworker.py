"""The per-task zip re-read patch of ``fakepilot_spark.pyworker``.

Unit tests drive ``install`` on a temporary zip with the worker flag set by
hand; the Spark test asks real Python workers whether the patch is live.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from fakepilot_spark import pyworker

OLD_PYTHON = sys.version_info < (3, 13)


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def unpatched(monkeypatch):
    """Restores the stock ``invalidate_caches`` after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    assert not pyworker.active()
    return monkeypatch


@pytest.fixture
def archive(tmp_path, unpatched):
    """A zip on ``sys.path`` with an imported module and package (two
    zipimporters of one archive), and a counter of the directory reads made
    of it."""
    path = tmp_path / "shipped.zip"
    _write_zip(path, {
        "fp_shipped_a.py": "X = 1\n", "fp_pkg/__init__.py": "", "fp_pkg/early.py": "",
    })
    unpatched.syspath_prepend(str(path))
    for mod in ("fp_shipped_a", "fp_shipped_b", "fp_pkg", "fp_pkg.early", "fp_pkg.late"):
        unpatched.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("fp_shipped_a").X == 1
    importlib.import_module("fp_pkg.early")

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == str(path):
            reads.append(archive_path)
        return read_directory(archive_path)

    unpatched.setattr(zipimport, "_read_directory", counting)
    return path, reads


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.13 reads lazily")
def test_unchanged_archive_is_not_reread(archive, unpatched):
    path, reads = archive
    importlib.invalidate_caches()
    assert len(reads) == 2  # stock behaviour: every importer, every call

    unpatched.setattr(SparkFiles, "_is_running_on_worker", True)
    assert pyworker.install()
    importlib.invalidate_caches()  # records the stamp; importers share one read
    assert len(reads) == 3
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 3

    # rewritten archive (new size, new mtime): one re-read, and both
    # importers find the new modules
    _write_zip(path, {
        "fp_shipped_a.py": "X = 1\n", "fp_shipped_b.py": "Y = 2\n",
        "fp_pkg/__init__.py": "", "fp_pkg/early.py": "", "fp_pkg/late.py": "Z = 3\n",
    })
    importlib.invalidate_caches()
    assert len(reads) == 4
    assert importlib.import_module("fp_shipped_b").Y == 2
    assert importlib.import_module("fp_pkg.late").Z == 3
    importlib.invalidate_caches()
    assert len(reads) == 4


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.13 reads lazily")
def test_new_archive_on_path_is_read(tmp_path, unpatched):
    unpatched.setattr(SparkFiles, "_is_running_on_worker", True)
    assert pyworker.install()
    late = tmp_path / "late.zip"
    _write_zip(late, {"fp_late_c.py": "Z = 3\n"})
    unpatched.syspath_prepend(str(late))  # what an added --py-files does
    unpatched.delitem(sys.modules, "fp_late_c", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("fp_late_c").Z == 3


def test_noop_outside_workers(unpatched):
    assert not SparkFiles._is_running_on_worker
    assert not pyworker.install()
    assert not pyworker.active()


def test_noop_on_python_313(unpatched):
    unpatched.setattr(SparkFiles, "_is_running_on_worker", True)
    unpatched.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not pyworker.install()
    assert not pyworker.active()


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.13 reads lazily")
def test_second_install_is_noop(unpatched):
    unpatched.setattr(SparkFiles, "_is_running_on_worker", True)
    assert pyworker.install()
    patched = zipimport.zipimporter.invalidate_caches
    assert pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def _report_patch(batches):
    for pdf in batches:
        yield pdf.assign(active=pyworker.active(), pid=os.getpid())


def test_patch_active_in_spark_workers(spark):
    df = spark.range(0, 800, numPartitions=8)
    out = df.mapInPandas(
        _report_patch, "id long, active boolean, pid int"
    ).toPandas()
    assert sorted(out["id"]) == list(range(800))
    assert out["active"].eq(OLD_PYTHON).all(), out.groupby("pid")["active"].all()
    # this process, which is not a worker, stays unpatched
    assert not pyworker.active()

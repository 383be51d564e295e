"""Lazy zip directories (no Spark): after ``importlib.invalidate_caches()``
a zipimporter re-reads its archive only when a lookup needs it, once per
archive, and still sees a module written into the archive since."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import pdftableextractor_spark  # noqa: F401  (installs the gate)

ROOT = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zipped package ``zpkg`` with one module, importable; yields
    (archive path, list that records each ``_read_directory`` call)."""
    archive = tmp_path / "zpkg.zip"
    _write_zip(archive, {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(archive))
    yield archive, reads
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if str(archive) in k]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_invalidate_caches_reads_no_zip_directory(zip_pkg):
    _, reads = zip_pkg
    assert importlib.import_module("zpkg.a").X == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_module_added_to_the_archive_imports_after_invalidation(zip_pkg):
    archive, reads = zip_pkg
    importlib.import_module("zpkg.a")
    _write_zip(
        archive,
        {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n", "zpkg/b.py": "Y = 2\n"},
    )
    importlib.invalidate_caches()
    reads.clear()
    assert importlib.import_module("zpkg.b").Y == 2
    # the package's importer and the archive root's share one re-read
    assert reads == [str(archive)]


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads lazily on its own"
)
def test_unpickling_the_layout_udf_installs_the_gate():
    """What a worker does before its first task: unpickle the UDF
    command. That import alone must swap in the lazy directory reads."""
    from pyspark import cloudpickle

    from pdftableextractor_spark.operators.extract import _layout_udf

    command = cloudpickle.dumps((_layout_udf.func, _layout_udf.returnType))
    probe = (
        "import pickle, sys, zipimport\n"
        "def lazy():\n"
        "    return isinstance(vars(zipimport.zipimporter).get('_files'), property)\n"
        "before = lazy()\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print(before, lazy())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        input=command,
        capture_output=True,
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
        check=True,
    )
    assert out.stdout.decode().split() == ["False", "True"]

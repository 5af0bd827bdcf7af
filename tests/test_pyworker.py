"""lectura.pyworker: zip-importer directories are re-read only when the
archive changed, and PySpark workers that run lectura code carry the
wrapper."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from lectura import pyworker

PATCHED = sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(not PATCHED,
                                 reason="Python 3.13+ zipimport is lazy")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def zipped_module(tmp_path):
    """A zip holding one module, first on sys.path; sys.path, the
    importer caches and the modules it added are restored afterwards."""
    archive = str(tmp_path / "pyworker_probe.zip")
    _write_zip(archive, {"pyworker_probe_a": "X = 1\n"})
    path, importers = list(sys.path), dict(sys.path_importer_cache)
    modules = set(sys.modules)
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path[:] = path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(importers)
        for name in set(sys.modules) - modules:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._read_at.pop(archive, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archives passed to zipimport's directory read, in call order,
    counting the read that creating an importer makes."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_patch
def test_unchanged_archive_is_not_reread(zipped_module, reads):
    import pyworker_probe_a

    assert pyworker_probe_a.X == 1
    imported = reads.count(zipped_module)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zipped_module) == imported


@needs_patch
def test_rewritten_archive_is_reread(zipped_module, reads):
    import pyworker_probe_a  # noqa: F401

    imported = reads.count(zipped_module)
    _write_zip(zipped_module, {"pyworker_probe_a": "X = 1\n",
                               "pyworker_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    reread = reads.count(zipped_module)
    assert reread > imported
    import pyworker_probe_b

    assert pyworker_probe_b.Y == 2
    importlib.invalidate_caches()
    assert reads.count(zipped_module) == reread


def test_install_is_idempotent():
    method, read = zipimport.zipimporter.invalidate_caches, zipimport._read_directory
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is method
    assert zipimport._read_directory is read
    assert getattr(method, "_keeps_directory", False) is PATCHED


def test_spark_workers_keep_directories(spark):
    """Every task of the second run finds the wrapper installed in its
    worker and zip importers that a repeated invalidate leaves unread."""

    def report(batches):
        import importlib
        import sys
        import zipimport

        import lectura  # noqa: F401  what unpickling a lectura UDF does

        for _ in batches:
            pass
        importlib.invalidate_caches()
        read, n = zipimport._read_directory, [0]

        def counting(archive):
            n[0] += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(i, zipimport.zipimporter)
                   for i in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "patched": [sys.version_info < (3, 13)],
            "wrapped": [getattr(zipimport.zipimporter.invalidate_caches,
                                "_keeps_directory", False)],
            "zip_importers": [zips],
            "reads": [n[0]]})

    schema = ("patched boolean, wrapped boolean, zip_importers long, "
              "reads long")
    df = spark.range(0, 64, numPartitions=8)
    df.mapInPandas(report, schema).collect()
    rows = df.mapInPandas(report, schema).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.wrapped == r.patched
        if r.patched:
            assert r.zip_importers > 0
            assert r.reads == 0

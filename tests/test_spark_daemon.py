"""The worker daemon's zip-import cache (mcp_ocr_server_spark/spark_daemon).

Pins: after `importlib.invalidate_caches()` an unchanged archive is not
re-read, one read serves every importer of an archive, a rewritten or
missing archive is re-read and a rewritten one's new modules import,
Python >= 3.13 gets no patch, and Python workers of a `get_spark()`
session run with the patch installed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mcp_ocr_server_spark import spark_daemon


def _write_zip(path, files: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Patched importers; the list collects every archive directory read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        spark_daemon.invalidate_if_changed)
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding package `zdpkg` (two importers: the
    archive root and `zdpkg/`); its modules leave sys.modules after."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zdpkg/__init__.py": "", "zdpkg/a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.startswith("zdpkg")]:
        del sys.modules[name]


def _importers(path):
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == path]


def test_unchanged_archive_is_not_reread(reads, archive):
    assert importlib.import_module("zdpkg.a").VALUE == 1
    assert len(_importers(archive)) == 2
    reads.clear()
    importlib.invalidate_caches()
    # the first invalidation reads once for both importers ...
    assert reads.count(archive) == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    # ... and later ones none while the archive is unchanged
    assert archive not in reads


def test_rewritten_archive_is_reread_and_new_module_imports(reads, archive):
    assert importlib.import_module("zdpkg.a").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(archive, {"zdpkg/__init__.py": "", "zdpkg/a.py": "VALUE = 2\n",
                         "zdpkg/b.py": "VALUE = 3\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zdpkg.b").VALUE == 3
    del sys.modules["zdpkg.a"]
    assert importlib.import_module("zdpkg.a").VALUE == 2


def test_missing_archive_is_reread(reads, archive):
    importlib.import_module("zdpkg.a")
    importlib.invalidate_caches()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    assert archive in reads
    assert all(f._files == {} for f in _importers(archive))
    _write_zip(archive, {"zdpkg/__init__.py": "", "zdpkg/c.py": "VALUE = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zdpkg.c").VALUE == 4


def test_install_only_before_python_3_13(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    # setattr to itself so monkeypatch restores the stdlib method after
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    spark_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    monkeypatch.setattr(sys, "version_info", (3, 12, 1))
    spark_daemon.install()
    assert (zipimport.zipimporter.invalidate_caches
            is spark_daemon.invalidate_if_changed)


def test_spark_workers_fork_from_the_patched_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        from mcp_ocr_server_spark import spark_daemon as d

        patched = (zipimport.zipimporter.invalidate_caches
                   is d.invalidate_if_changed)
        yield patched, sys.version_info >= (3, 13)

    got = set(spark.sparkContext.parallelize(range(4), 4)
              .mapPartitions(probe).collect())
    # a worker that did not fork from the daemon module runs unpatched
    assert got == {(True, False)} or got == {(False, True)}, got

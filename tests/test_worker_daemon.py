"""The worker daemon's zipimport patch (textractssmlprocessor_spark.daemon):
an unchanged archive is not re-read, a rewritten one is."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from textractssmlprocessor_spark import daemon

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from Python 3.12; no patch",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Patched zipimporter with fresh caches; yields the list of archive
    directory reads."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(daemon, "_reads", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    return seen


@needs_patch
def test_unchanged_zip_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 1  # one read serves every importer of the archive
    for _ in range(5):
        for imp in importers:
            imp.invalidate_caches()
    assert len(reads) == 1
    assert all(imp.find_spec("a") is not None for imp in importers)


@needs_patch
def test_rewritten_zip_is_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    for imp in importers:
        imp.invalidate_caches()
    reads.clear()

    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})  # new size
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 1
    assert all(imp.find_spec("b") is not None for imp in importers)

    st = os.stat(archive)  # same size, new mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 2


def test_session_selects_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == daemon.__name__
    root = os.path.dirname(os.path.dirname(os.path.abspath(daemon.__file__)))
    assert root in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_session_sizes_the_codegen_cache(spark):
    from textractssmlprocessor_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark.sparkContext.getConf()
    assert int(conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_ENTRIES

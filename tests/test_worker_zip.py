"""Lazy zip-import invalidation on Python workers (session.
lazy_zip_invalidation): every PySpark task calls
``importlib.invalidate_caches()``, which on CPython < 3.12 re-reads the
whole central directory of every zipimporter's archive. The lazy form
re-reads only an archive whose (mtime, size) stamp changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from lucene_solr_spark.session import lazy_zip_invalidation


def _lazy_installed() -> bool:
    return bool(getattr(zipimport.zipimporter.invalidate_caches, "lazy", False))


@pytest.fixture
def restore_zipimporter(monkeypatch):
    """Whatever a test installs on zipimporter is undone afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    return monkeypatch


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ is lazy itself")
def test_rereads_only_a_changed_archive(tmp_path, restore_zipimporter):
    mp = restore_zipimporter
    archive = str(tmp_path / "lazymods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lazymod_a.py", "X = 1\n")
    mp.syspath_prepend(archive)
    mp.delitem(sys.modules, "lazymod_a", raising=False)
    mp.delitem(sys.modules, "lazymod_b", raising=False)
    reads: list[str] = []
    eager_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return eager_read(path)

    mp.setattr(zipimport, "_read_directory", counting_read)
    assert lazy_zip_invalidation() is True
    assert _lazy_installed()
    assert importlib.import_module("lazymod_a").X == 1
    importlib.invalidate_caches()  # first call stamps the importer
    reads.clear()

    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []  # unchanged archive: never re-read

    # rewrite in place: new size, and an mtime that surely differs
    st = os.stat(archive)
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lazymod_a.py", "X = 1\n")
        z.writestr("lazymod_b.py", "Y = 2\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("lazymod_b").Y == 2
    importlib.invalidate_caches()
    assert reads == [archive]  # re-stamped: no second read


def test_noop_from_cpython_312(restore_zipimporter):
    restore_zipimporter.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert lazy_zip_invalidation() is False
    assert not _lazy_installed()


def test_installed_on_workers_not_on_driver(spark):
    def probe(batches):
        import zipimport

        import lucene_solr_spark  # noqa: F401

        for _ in batches:
            yield pd.DataFrame({"lazy": [bool(getattr(
                zipimport.zipimporter.invalidate_caches, "lazy", False
            ))]})

    rows = spark.range(0, 2, 1, 2).mapInPandas(probe, "lazy boolean").collect()
    assert [r.lazy for r in rows] == [sys.version_info < (3, 12)] * 2
    # the driver imported the package too, and keeps eager invalidation
    assert "lucene_solr_spark" in sys.modules
    assert not _lazy_installed()

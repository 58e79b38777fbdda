"""zipimport directory cache (paddleocr_spark/_zipcache.py): an unchanged
archive is not re-read by ``importlib.invalidate_caches()``, a rewritten one
is, and every Python worker that runs a package UDF has the cache installed."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from paddleocr_spark import _zipcache

eager_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimport caches lazily; no replacement",
)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = tmp_path / "zc.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_mod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)


@eager_stdlib
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zc_mod_a").X == 1
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    importlib.invalidate_caches()  # first re-read records the signature
    assert reads.count(str(archive)) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zc_mod_b.py", "X = 2\n")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2
    assert importlib.import_module("zc_mod_b").X == 2


def test_install_follows_the_version_gate(monkeypatch):
    installed = zipimport.zipimporter.invalidate_caches
    assert (installed is _zipcache._invalidate_caches) == (sys.version_info < (3, 13))

    stdlib = _zipcache._stdlib_invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@eager_stdlib
def test_workers_run_the_replacement(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("boolean")
    def installed(ids: pd.Series) -> pd.Series:
        ok = zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
        return pd.Series(ok, index=ids.index)

    rows = spark.range(0, 64, numPartitions=16).select(installed("id")).collect()
    assert len(rows) == 64
    assert all(r[0] for r in rows)

"""The zip-directory guard that ``shipping`` installs: a reused Python
worker must not re-read an unchanged archive's directory on every
``importlib.invalidate_caches()``, and must still see a rewritten one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import cqu_bigdata_recommender_system_for_movies_spark  # noqa: F401 — installs the guard


def _write_package(archive, pkg: str, modules: list[str]) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for mod in modules:
            zf.writestr(f"{pkg}/{mod}.py", f"NAME = {mod!r}\n")


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    """(archive, package name, per-archive read log): a package imported
    from a zip under tmp_path, with every `_read_directory` call logged."""
    pkg = f"zguard_{tmp_path.name}"
    archive = str(tmp_path / f"{pkg}.zip")
    _write_package(archive, pkg, ["a"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{pkg}.a").NAME == "a"
    reads: list[str] = []
    real = zipimport._read_directory

    def logged(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", logged)
    yield archive, pkg, reads
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(zipped_package):
    archive, _pkg, reads = zipped_package
    importlib.invalidate_caches()  # each importer's first call records the stamp
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads


def test_rewritten_archive_is_reread(zipped_package):
    archive, pkg, reads = zipped_package
    importlib.invalidate_caches()
    _write_package(archive, pkg, ["a", "b"])  # in place: same inode
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module(f"{pkg}.b").NAME == "b"


def test_failed_stat_forgets_the_stamp(zipped_package, monkeypatch):
    """A call whose stat fails takes the original path, which may empty
    the importer; the next call must re-read even though the stat
    matches the recorded stamp again."""
    archive, _pkg, reads = zipped_package
    importlib.invalidate_caches()
    real_stat = os.stat

    def failing_stat(path, *args, **kwargs):
        if path == archive:
            raise PermissionError(path)
        return real_stat(path, *args, **kwargs)

    monkeypatch.setattr(os, "stat", failing_stat)
    importlib.invalidate_caches()
    monkeypatch.setattr(os, "stat", real_stat)
    del reads[:]
    importlib.invalidate_caches()
    assert archive in reads


def test_worker_skips_unchanged_pyspark_zip(spark):
    """Inside a live Python worker, once the engine package is imported,
    invalidate_caches() re-reads no archive directory at all — including
    the ~1,670-entry pyspark.zip every worker imports pyspark from."""
    from pyspark.sql.functions import pandas_udf

    from cqu_bigdata_recommender_system_for_movies_spark.shipping import (
        ensure_shipped,
    )

    ensure_shipped(spark)

    @pandas_udf("array<long>")
    def worker_reads(x: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        import cqu_bigdata_recommender_system_for_movies_spark  # noqa: F401

        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        on_path = any(a.endswith("pyspark.zip") for a in archives)
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory

        def logged(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = logged
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return pd.Series([[int(on_path), len(reads)]] * len(x))

    on_path, n_reads = spark.range(1).select(worker_reads("id").alias("r")).first().r
    assert on_path == 1, "pyspark.zip is not imported from in the worker"
    assert n_reads == 0


def test_context_with_a_reused_id_is_still_shipped(spark, monkeypatch):
    """CPython reuses a freed object's id(), so a restarted context can
    carry the id of a context the package was shipped to. The record is
    keyed by applicationId: the package still ships once to this one."""
    from cqu_bigdata_recommender_system_for_movies_spark import shipping

    sc = spark.sparkContext
    monkeypatch.setattr(shipping, "_SHIPPED_SESSIONS", {id(sc)})
    added: list[str] = []
    monkeypatch.setattr(sc, "addPyFile", added.append)
    shipping.ensure_shipped(spark)
    shipping.ensure_shipped(spark)
    assert len(added) == 1

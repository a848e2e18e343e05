"""The stat-stamped zip-importer cache installed on package import.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task; unpatched, every zip importer on ``sys.path`` then re-reads its
archive's whole directory. Importing ``pdfsearch_spark`` makes that re-read
happen only for an archive whose stat changed, so an unchanged archive costs
nothing and a rewritten one is still picked up.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import pdfsearch_spark


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "zipcache_mods.zip")
    path, importers, modules = list(sys.path), dict(sys.path_importer_cache), set(sys.modules)
    sys.path.insert(0, archive)
    yield archive
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(importers)
    for name in set(sys.modules) - modules:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zipcache_a": "X = 1\n"})
    assert importlib.import_module("zipcache_a").X == 1
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads

    # a rewritten archive is re-read, and its new module imports
    _write_zip(zip_on_path, {"zipcache_a": "X = 1\n", "zipcache_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zip_on_path in reads
    assert importlib.import_module("zipcache_b").Y == 2

    # installing twice keeps one wrapper
    installed = zipimport.zipimporter.invalidate_caches
    pdfsearch_spark._stat_stamp_zipimport()
    assert zipimport.zipimporter.invalidate_caches is installed

    # a vanished archive falls back to the stock behavior: empty, no raise
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[zip_on_path]._files == {}


def test_reused_worker_does_not_reread_zips(spark, engine):
    engine.search("hypertension", k=10).collect()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pdfsearch_spark  # noqa: F401  installs the stamped cache

        for _ in batches:
            pass
        # a worker forked for this very task read its zips before the
        # package was imported; that one stamping re-read is not counted
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        n_zip = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "zip_importers": [n_zip]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "reads long, zip_importers long")
        .collect()[0]
    )
    # pyspark itself is imported from pyspark.zip in the worker, so the
    # check is not vacuous: unpatched, every one of these importers re-reads
    assert row.zip_importers >= 1
    assert row.reads == 0

"""Python-worker set-up (vamana_spark._worker): the per-task zip re-read
is skipped for unchanged archives, and only inside PySpark workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from vamana_spark import _worker

_MOD = "vamana_zipprobe_m"


def _write_zip(path, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{_MOD}.py", body)


@pytest.fixture
def zip_reads(monkeypatch, tmp_path):
    """A zip on sys.path holding module v1, plus a counter of directory
    reads of that zip. Restores the stock invalidate_caches after."""
    # the wrapper depends on these zipimport internals: a Python upgrade
    # that drops them must fail here, not silently stop skipping
    assert callable(zipimport._read_directory)
    assert isinstance(zipimport._zip_directory_cache, dict)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker._stock_invalidate
    )
    monkeypatch.setattr(_worker, "_read_at", {})
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VERSION = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, _MOD, raising=False)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    sys.modules.pop(_MOD, None)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(zip_reads):
    archive, reads = zip_reads
    assert importlib.import_module(_MOD).VERSION == 1
    reads.clear()  # the import's own read
    # the stock method re-reads the directory on every call
    importlib.invalidate_caches()
    assert len(reads) == 1, "zipimport no longer re-reads in invalidate_caches"

    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_if_changed
    _worker.install()  # idempotent: no second layer of wrapping
    assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_if_changed
    assert _worker._stock_invalidate is not _worker._invalidate_if_changed

    importlib.invalidate_caches()  # first wrapped call: no signature yet
    assert len(reads) == 2
    importlib.invalidate_caches()  # unchanged archive: skipped
    importlib.invalidate_caches()
    assert len(reads) == 2

    # v2 differs in size, so the rewrite is seen even when it lands in
    # the same filesystem timestamp tick as v1
    _write_zip(archive, "VERSION = 2  # v2\n")
    importlib.invalidate_caches()
    assert len(reads) == 3
    del sys.modules[_MOD]
    assert importlib.import_module(_MOD).VERSION == 2
    importlib.invalidate_caches()
    assert len(reads) == 3


def test_removed_zip_takes_the_stock_path(zip_reads):
    archive, reads = zip_reads
    importlib.import_module(_MOD)
    reads.clear()
    _worker.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    os.remove(archive)
    importlib.invalidate_caches()  # stock: the read fails, cache entry dropped
    assert len(reads) == 2
    assert archive not in zipimport._zip_directory_cache


def test_installed_in_workers_only(spark):
    """A UDF that references a package function imports vamana_spark on
    the worker, which installs the wrapper there; later jobs see it
    installed, and the driver keeps the stock method."""

    def probe(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "installed": [
                    zipimport.zipimporter.invalidate_caches
                    is _worker._invalidate_if_changed
                ] * len(pdf),
            })

    df = spark.range(0, 64, numPartitions=4)
    for _ in range(2):
        got = df.mapInPandas(probe, "installed boolean").collect()
    assert len(got) == 64 and all(r.installed for r in got)
    assert zipimport.zipimporter.invalidate_caches is _worker._stock_invalidate

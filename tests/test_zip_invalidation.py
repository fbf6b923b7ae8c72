"""The package's zipimport hook: ``importlib.invalidate_caches()``, which
PySpark's worker calls before every task, re-reads a zip archive only
when the archive changed on disk."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import tits_spark  # noqa: F401  (installs the hook)

eager = (3, 10) <= sys.version_info[:2] < (3, 13)


def _write_zip(path, extra=False):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr("zpkg/sub/m.py", "X = 1\n")
        if extra:
            zf.writestr("zpkg/sub/new.py", "Y = 2\n")


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """A zip on sys.path with a nested package imported from it (so the
    importer cache holds one importer per package level), and a counter
    of ``zipimport._read_directory`` calls."""
    path = str(tmp_path / "zpkg.zip")
    _write_zip(path)
    monkeypatch.syspath_prepend(path)
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        monkeypatch.delitem(sys.modules, name)
    importlib.import_module("zpkg.sub.m")
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]


@pytest.mark.skipif(not eager, reason="only CPython 3.10-3.12 re-read eagerly")
def test_unchanged_zip_is_not_reread(zpkg):
    path, reads = zpkg
    importers = [k for k in sys.path_importer_cache if k.startswith(path)]
    assert len(importers) == 3  # the archive root, zpkg and zpkg/sub
    # the first invalidation after the importers were created stamps the
    # archive (one read, not one per importer); later ones read nothing
    importlib.invalidate_caches()
    assert reads == [path]
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_serves_its_new_module(zpkg):
    path, reads = zpkg
    importlib.invalidate_caches()
    _write_zip(path, extra=True)
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.new").Y == 2
    assert importlib.import_module("zpkg.sub.m").X == 1


def test_every_importer_over_a_rewritten_zip_sees_it(zpkg):
    path, reads = zpkg
    root = zipimport.zipimporter(path)
    sub = zipimport.zipimporter(f"{path}/zpkg/sub/")
    root.invalidate_caches()
    sub.invalidate_caches()
    new = f"{path}/zpkg/sub/new.py"
    with pytest.raises(OSError):
        sub.get_data(new)
    _write_zip(path, extra=True)
    del reads[:]
    root.invalidate_caches()
    sub.invalidate_caches()
    assert root.get_data(new) == sub.get_data(new) == b"Y = 2\n"
    assert sub.find_spec("zpkg.sub.new") is not None
    if eager:
        assert reads == [path]  # read once, adopted by the second importer


@pytest.mark.skipif(not eager, reason="only CPython 3.10-3.12 re-read eagerly")
def test_spark_workers_do_not_reread_zips(spark):
    """After an engine UDF has run, the per-task cache invalidation in a
    Python worker reads no zip directory."""
    from tits_spark.datagen import generate_quotes
    from tits_spark.operators.guess_lag import guess_lag

    quotes = generate_quotes(spark, n_ticks=400, seed=3, lag_ms={"FOLA": 30})
    assert guess_lag(quotes, max_ticks=256, nlags=4).count() > 0

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import tits_spark  # noqa: F401

        # what the worker's task prologue does (pyspark worker_util
        # setup_spark_files), in case this worker is new
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "zips": [zips], "reads": [len(reads)]})

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(probe, "pid long, zips long, reads long")
        .collect()
    )
    assert len(rows) == 8
    if not any(r["zips"] for r in rows):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [r["reads"] for r in rows] == [0] * 8, rows

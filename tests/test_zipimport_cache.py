"""Reused Python workers re-read an import archive only when it changed.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; on Python 3.11 the stock ``zipimporter.invalidate_caches`` then
re-reads the central directory of every archive on the worker path
(pyspark.zip, the py4j zip, the spark-core jar). ``nipper_spark``
installs a stat-checked method on import. Pins: an unchanged archive
is read at most once over two invalidations; a rewritten archive is
re-read and its new module imports; a missing archive follows the
stock behaviour; and in Spark, a reused worker's invalidation reads no
archive.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import nipper_spark  # noqa: F401  (installs the stat-checked method)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ zipimporter reads its directory lazily; nothing installed")


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    stock = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, {"zic_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("zic_mod_a", "zic_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_read_at_most_once(archive, reads):
    assert importlib.import_module("zic_mod_a").VALUE == "a"
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) <= 1


def test_rewritten_archive_is_reread_and_new_module_imports(archive, reads):
    importlib.import_module("zic_mod_a")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    del reads[:]
    _write_archive(archive, {"zic_mod_a": "VALUE = 'a'\n",
                             "zic_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zic_mod_b").VALUE == "b"


def test_missing_archive_follows_stock_behaviour(archive, reads):
    importlib.import_module("zic_mod_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    # a second call still tries the (missing) archive, as stock does
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_reused_worker_reads_no_archive():
    # defined here so it pickles by value: the workers cannot import
    # this test module
    def _archive_reads(batches):
        import importlib
        import zipimport

        import nipper_spark  # noqa: F401

        n = [0]
        stock = zipimport._read_directory

        def counting(path):
            n[0] += 1
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [n[0]],
                            "zips": [zips]})

    from nipper_spark.session import build_session
    spark = build_session("zipimport-cache-tests", master="local[4]",
                          shuffle_partitions=4)
    schema = "pid long, reads long, zips long"
    # 32 tasks on 4 slots run the probe on the workers the session
    # holds; a worker that runs the second job too has imported the
    # package before that job's invalidation. A worker started fresh
    # for the second job legitimately reads every archive, so only the
    # reused ones are pinned.
    first = spark.range(32, numPartitions=32) \
        .mapInPandas(_archive_reads, schema).collect()
    if not any(r.zips for r in first):
        pytest.skip("workers import nothing from an archive")
    second = spark.range(4, numPartitions=4) \
        .mapInPandas(_archive_reads, schema).collect()
    primed = {r.pid for r in first}
    reused = [r for r in second if r.pid in primed]
    assert reused, (first, second)
    assert [r.reads for r in reused] == [0] * len(reused), reused

"""engine.zipcache: PySpark's worker calls importlib.invalidate_caches()
before every task; on CPython 3.10/3.11 the stock
zipimporter.invalidate_caches re-reads the archive's whole directory
each time. The engine swaps in a stat-keyed version inside Python
workers only."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from engine import zipcache

eager_only = pytest.mark.skipif(
    not zipcache.eager_rereads(),
    reason="this interpreter's zipimporter already re-reads lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@eager_only
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, ["m1"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipcache.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    monkeypatch.syspath_prepend(arc)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        imp = sys.path_importer_cache[arc]
        assert isinstance(imp, zipimport.zipimporter)
        imp.invalidate_caches()  # first call: no stat on record yet
        n = reads.count(arc)
        importlib.invalidate_caches()  # the call PySpark makes per task
        imp.invalidate_caches()
        assert reads.count(arc) == n, "unchanged archive was re-read"
        assert zipimport._zip_directory_cache[arc] is imp._files

        _write_zip(arc, ["m1", "m2"])  # new size -> new stat
        importlib.invalidate_caches()
        assert reads.count(arc) == n + 1
        assert importlib.import_module("m2").NAME == "m2"

        # a vanished archive behaves as under the stock method: no
        # directory, dropped from the cache, re-read once it is back
        (tmp_path / "mods.zip").rename(tmp_path / "away.zip")
        imp.invalidate_caches()
        assert imp._files == {} and arc not in zipimport._zip_directory_cache
        (tmp_path / "away.zip").rename(tmp_path / "mods.zip")
        imp.invalidate_caches()
        assert "m2.py" in imp._files and reads.count(arc) == n + 3
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)
        zipimport._zip_directory_cache.pop(arc, None)


def test_install_skips_driver_and_lazy_interpreters(monkeypatch):
    # no task context here: the driver keeps the stock method
    assert zipcache.install_in_worker() is False
    assert zipimport.zipimporter.invalidate_caches is zipcache._STOCK
    # CPython 3.12+ (gh-103200) reads lazily through _get_files
    monkeypatch.setattr(zipimport.zipimporter, "_get_files",
                        lambda self: {}, raising=False)
    assert zipcache.eager_rereads() is False


@eager_only
def test_worker_has_stat_keyed_method_driver_keeps_stock(spark):
    from engine.analysis import with_tokens

    n = spark.sparkContext.defaultParallelism
    docs = spark.range(4 * n, numPartitions=n).selectExpr(
        "id AS doc_id", "concat('spark fox ', id) AS text")
    # an engine kernel task in the workers (the UDF imports engine)
    with_tokens(docs, use_udf=True).collect()

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "engine": "engine" in sys.modules,
            "method": zipimport.zipimporter.invalidate_caches.__module__,
        }])

    rows = (spark.range(4 * n, numPartitions=n)
            .mapInArrow(probe, "engine boolean, method string").collect())
    assert any(r.engine for r in rows), rows
    for r in rows:
        assert r.method == ("engine.zipcache" if r.engine else "zipimport")
    assert zipimport.zipimporter.invalidate_caches is zipcache._STOCK

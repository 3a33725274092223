"""zipcache: zip importers re-read their archive only when it changed, and
Python workers run with the patched method once they import the package."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from deepdoctection_spark import zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory was read, in order."""
    seen: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def on_path(monkeypatch):
    """The test's own sys.path and importer cache; modules it imports are
    dropped after."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    before = set(sys.modules)
    yield sys.path
    for name in set(sys.modules) - before:
        del sys.modules[name]


def test_package_import_installs_it():
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, {"wd_a": "X = 1"})
    imp = zipimport.zipimporter(arc)
    zipcache.invalidate_caches(imp)  # records the archive it read
    del reads[:]
    zipcache.invalidate_caches(imp)
    zipcache.invalidate_caches(imp)
    assert reads == []
    # the stock method re-reads on every call
    zipcache._stock_invalidate(imp)
    zipcache._stock_invalidate(imp)
    assert reads == [arc, arc]


def test_rewritten_archive_is_reread(tmp_path, reads, on_path):
    arc = str(tmp_path / "b.zip")
    _write_zip(arc, {"wd_b1": "X = 1"})
    on_path.insert(0, arc)
    assert importlib.import_module("wd_b1").X == 1
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []
    _write_zip(arc, {"wd_b1": "X = 1", "wd_b2": "Y = 2"})
    importlib.invalidate_caches()
    assert reads == [arc]
    assert importlib.import_module("wd_b2").Y == 2


def test_new_path_entry_gets_fresh_importer(tmp_path, on_path):
    first, second = str(tmp_path / "c1.zip"), str(tmp_path / "c2.zip")
    _write_zip(first, {"wd_c1": "X = 1"})
    _write_zip(second, {"wd_c2": "Y = 2"})
    on_path.insert(0, first)
    importlib.import_module("wd_c1")
    importlib.invalidate_caches()
    on_path.insert(0, second)  # what SparkContext.addPyFile does on a worker
    importlib.invalidate_caches()
    assert importlib.import_module("wd_c2").Y == 2


def test_missing_archive_behaves_as_stock(tmp_path):
    stock_arc, ours_arc = str(tmp_path / "s.zip"), str(tmp_path / "o.zip")
    for arc in (stock_arc, ours_arc):
        _write_zip(arc, {"wd_d": "X = 1"})
    stock = zipimport.zipimporter(stock_arc)
    ours = zipimport.zipimporter(ours_arc)
    zipcache.invalidate_caches(ours)
    os.remove(stock_arc)
    os.remove(ours_arc)
    zipcache._stock_invalidate(stock)
    zipcache.invalidate_caches(ours)
    for imp in (stock, ours):
        assert imp.find_spec("wd_d") is None
        assert imp.archive not in zipimport._zip_directory_cache
    # an archive that comes back is read again
    _write_zip(ours_arc, {"wd_d": "X = 1"})
    zipcache.invalidate_caches(ours)
    assert ours.find_spec("wd_d") is not None


def test_python_workers_run_the_patched_method(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        import deepdoctection_spark  # noqa: F401  (as every engine UDF does)

        owner = zipimport.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict({"owner": [owner] * b.num_rows})

    df = spark.range(8, numPartitions=4)
    for _ in range(2):  # the second run reuses the workers of the first
        rows = df.mapInArrow(probe, "owner string").collect()
        owners = {r.owner for r in rows}
        assert owners == {"deepdoctection_spark.zipcache"}

"""The package's lazy ``zipimporter.invalidate_caches`` (CPython 3.13's form,
backported in ``parquet_to_arrow_spark.__init__``): a pyspark worker's
per-task ``importlib.invalidate_caches()`` must not re-read pyspark.zip and
the spark-core jar, and a zip rewritten in place must still be picked up."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import parquet_to_arrow_spark


def _write_zip(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module zip_probe_a, on sys.path; its importer and the
    modules imported from it are dropped afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, zip_probe_a="X = 1\n")
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    for name in ("zip_probe_a", "zip_probe_b"):
        sys.modules.pop(name, None)


def test_invalidate_caches_does_not_reread_zip_archives(archive, monkeypatch):
    assert importlib.import_module("zip_probe_a").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    importlib.invalidate_caches()
    assert reads == []


def test_zip_rewritten_in_place_is_picked_up_after_invalidate(archive):
    assert importlib.import_module("zip_probe_a").X == 1

    _write_zip(archive, zip_probe_a="X = 1\n", zip_probe_b="Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zip_probe_b").Y == 2


def test_spark_workers_run_tasks_with_the_lazy_invalidate(spark):
    """Each worker imports the package when it unpickles an engine
    function; from then on every task it runs, in this job and the next,
    starts with the engine's invalidate_caches."""
    import pyarrow as pa

    def probe(batches):
        import zipimport as zi

        # refers to the package, as every engine function does, so the
        # worker imports it when it unpickles the probe
        assert parquet_to_arrow_spark.__version__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "invalidate": [zi.zipimporter.invalidate_caches.__module__] * b.num_rows,
                    "lazy_python": [sys.version_info < (3, 13)] * b.num_rows,
                }
            )

    df = spark.range(0, 8, 1, 4)
    schema = "invalidate string, lazy_python boolean"
    df.mapInArrow(probe, schema).collect()
    rows = df.mapInArrow(probe, schema).collect()
    assert len(rows) == 8
    for r in rows:
        if r.lazy_python:
            assert r.invalidate == parquet_to_arrow_spark.__name__

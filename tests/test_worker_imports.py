"""Zip archive directories are read once, not on every
``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task; before Python 3.13 each ``zipimporter`` then re-reads its
archive's central directory. ``kafka_sink_spark.session`` replaces that
method with one that re-reads an archive only when it changed.
"""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark import session  # noqa: E402

# Executor python workers can't import pytest test modules by name — ship
# this module's functions by value inside the task closure instead.
from pyspark import cloudpickle  # noqa: E402

cloudpickle.register_pickle_by_value(sys.modules[__name__])

REPLACED = sys.version_info < (3, 13)


class _CountReads:
    """Counts ``zipimport._read_directory`` calls while active."""

    def __enter__(self):
        self.reads = 0
        self._read = zipimport._read_directory

        def counting(archive):
            self.reads += 1
            return self._read(archive)

        zipimport._read_directory = counting
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self._read


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(not REPLACED, reason="Python >= 3.13 re-reads lazily itself")
def test_invalidate_reads_an_archive_only_after_it_changed(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    m1, m2 = f"zipmod_{tag}_1", f"zipmod_{tag}_2"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, [m1])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(m1).NAME == m1

        with _CountReads() as count:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        assert count.reads == 0

        _write_zip(archive, [m1, m2])
        with _CountReads() as count:
            importlib.invalidate_caches()
        assert count.reads == 1
        assert importlib.import_module(m2).NAME == m2

        with _CountReads() as count:
            importlib.invalidate_caches()
        assert count.reads == 0
    finally:
        for name in (m1, m2):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_313_replaces_nothing(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    read = zipimport._read_directory
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session._read_zip_directories_once()
    assert zipimport.zipimporter.invalidate_caches is method
    assert zipimport._read_directory is read


def _reads_across_invalidate(rows):
    """Runs in a Python worker: (zip importers, directory reads done by one
    ``importlib.invalidate_caches()``, rows)."""
    import kafka_sink_spark  # noqa: F401 - what unpickling a package function does

    n = sum(1 for _ in rows)
    importers = sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    with _CountReads() as count:
        importlib.invalidate_caches()
    yield importers, count.reads, n


@pytest.mark.skipif(not REPLACED, reason="Python >= 3.13 re-reads lazily itself")
def test_worker_task_does_not_reread_zip_directories(spark):
    rdd = spark.sparkContext.parallelize([0], 1)
    rdd.mapPartitions(_reads_across_invalidate).collect()
    [(importers, reads, n)] = rdd.mapPartitions(_reads_across_invalidate).collect()
    assert n == 1
    if importers == 0:
        pytest.skip("the Python worker imports nothing from a zip archive")
    assert reads == 0

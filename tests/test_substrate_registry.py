"""The substrate memo (kafka_sink_spark/substrates.py): one entry per
(builder, bound arguments), shared by positional and keyword calls, kept
per Spark application and frame plan, and torn down by ``clear_all()`` —
memoized frames unpersisted once, checkpoint blocks released — so the
bench's cold mode (SPARK_GRAFT_BENCH_COLD=1) really re-pays every build;
``report()`` counts each builder's builds, build seconds and hits."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark import substrates

CALLS: list[tuple] = []


class Frame:
    """Stands in for a persisted DataFrame: counts unpersist calls."""

    def __init__(self):
        self.unpersisted = 0

    def unpersist(self, blocking=False):
        self.unpersisted += 1


@substrates.memo
def _single(spark, sf_dir, n: int = 2):
    CALLS.append((sf_dir, n))
    return Frame()


@substrates.memo
def _pair(frame):
    return (Frame(), Frame())


@substrates.memo
def _ladder(spark, sf_dir):
    return [Frame(), Frame(), Frame()]


def _session(app_id: str) -> SparkSession:
    """A SparkSession standing for ``app_id``: the memo key reads only
    ``sparkContext.applicationId``; no ``_jsc``, so no RDDs to track."""
    s = object.__new__(SparkSession)
    s._sc = SimpleNamespace(applicationId=app_id, _jsc=None)
    return s


@pytest.fixture(autouse=True)
def _empty_memo():
    substrates.clear_all()
    CALLS.clear()
    yield


def test_second_call_returns_same_object_without_rebuilding():
    s = _session("app-1")
    first = _single(s, "/sf")
    assert _single(s, "/sf") is first
    assert CALLS == [("/sf", 2)]


def test_positional_and_keyword_calls_share_one_entry():
    s = _session("app-1")
    first = _single(s, "/sf")
    assert _single(s, sf_dir="/sf") is first
    assert _single(spark=s, sf_dir="/sf", n=2) is first
    assert _single(s, "/sf", 2) is first
    assert len(CALLS) == 1


def test_distinct_inputs_get_distinct_entries(spark):
    s = _session("app-1")
    base = _single(s, "/sf")
    assert _single(s, "/other") is not base  # sf_dir
    assert _single(s, "/sf", n=3) is not base  # parameter
    assert _single(_session("app-2"), "/sf") is not base  # applicationId
    assert len(CALLS) == 4

    # Frames key on their analyzed plan: a rebuilt identical plan hits, a
    # different plan misses.
    a = _pair(spark.range(3))
    assert _pair(spark.range(3)) is a
    assert _pair(spark.range(4)) is not a


def test_clear_all_unpersists_each_value_once_and_counts_entries():
    s = _session("app-1")
    single = _single(s, "/sf")
    pair = _pair(Frame())  # a non-frame argument is keyed by identity
    ladder = _ladder(s, "/sf")
    assert substrates.clear_all() == 3
    assert all(f.unpersisted == 1 for f in (single, *pair, *ladder))
    assert substrates.sizes() == {}
    assert _single(s, "/sf") is not single  # rebuilt after the clear


def test_sizes_reports_per_builder():
    s = _session("app-1")
    _single(s, "/a")
    _single(s, "/b")
    _ladder(s, "/a")
    assert substrates.sizes() == {
        "test_substrate_registry._single": 2,
        "test_substrate_registry._ladder": 1,
    }


def test_clear_all_without_active_session(monkeypatch):
    # bench and perfbench call clear_all() after spark.stop()
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    frame = _single(_session("app-1"), "/sf")
    assert substrates.clear_all() == 1
    assert frame.unpersisted == 1


def test_clear_all_releases_checkpoint_blocks(spark):
    """connected_components memoizes a localCheckpointed label table whose
    blocks no CacheManager entry owns; clear_all() must release them (and
    the per-round checkpoints behind them), not leave them for GC."""
    from kafka_sink_spark.extensions.dedup import connected_components

    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet())

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    before = persistent()
    labels = connected_components(pairs)
    assert sorted(map(tuple, labels.collect())) == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
    ]
    assert persistent() - before  # the build left checkpoint blocks
    assert substrates.clear_all() == 1
    after = persistent()
    assert not after - before
    assert len(after) <= len(before)


def test_report_counts_builds_seconds_and_hits():
    s = _session("app-1")
    _single(s, "/sf")
    first = substrates.report()["test_substrate_registry._single"]
    assert first["entries"] == first["builds"] == 1
    assert first["hits"] == 0
    assert first["build_s"] > 0

    _single(s, sf_dir="/sf")  # same bound arguments: a hit, no build
    second = substrates.report()["test_substrate_registry._single"]
    assert second == {**first, "hits": 1}
    assert CALLS == [("/sf", 2)]

    substrates.clear_all()
    assert substrates.report() == {}

"""Queryable metrics registry — the JMX-exposition equivalent (KAF-72/99).

The reference exposes per-``topic|ks.table`` counters and histograms
through the task's InstanceState, which JMX polls between batches
(SimpleEndToEndSimulacronIT.java:679-682 reads
``getRecordCounter(topic, "ks.table")``; :862-874 reads
``getBatchSizeHistogram`` / ``getBatchSizeInBytesHistogram``).  This
module is that queryable surface for the Spark pipeline: wire
``SinkMetricsRegistry.update`` as the listener's ``emit`` hook (or call
it with any SinkMetrics snapshot) and poll the registry from monitoring
code — same accessor names, same ``topic|ks.table`` addressing, plus a
flat dropwizard-style name view (``<topic>/<ks.table>/recordCount`` …)
for exporters that want one string per metric.
"""

from __future__ import annotations

from dataclasses import dataclass

from kafka_sink_spark.operators.cassandra_writer import Histogram


@dataclass(frozen=True)
class HistogramView:
    """Dropwizard-Histogram-shaped read model: update count + min/max/mean
    of the observed values plus the raw bucket counts."""

    count: int
    min: int | None
    max: int | None
    mean: float | None
    buckets: dict[int, int]


def _hist_view(h: Histogram | None) -> HistogramView:
    h = h or Histogram()
    return HistogramView(
        count=h.n,
        min=h.min,
        max=h.max,
        mean=h.sum / h.n if h.n else None,
        buckets=dict(h.buckets),
    )


class SinkMetricsRegistry:
    """Holds the latest SinkMetrics snapshot (and one per batch id) and
    answers the reference's InstanceState queries."""

    def __init__(self) -> None:
        self.latest: dict = {}
        self.by_batch: dict[int, dict] = {}

    # -- ingestion ---------------------------------------------------------

    def update(self, event: dict) -> None:
        """Listener ``emit`` hook: ``event`` is the per-batch record the
        SinkMetricsListener produces ({"batch_id", ..., "metrics": snapshot});
        a bare SinkMetrics snapshot dict is also accepted."""
        snapshot = event.get("metrics", event)
        self.latest = snapshot
        if "batch_id" in event:
            self.by_batch[event["batch_id"]] = snapshot

    # -- InstanceState accessor surface (KAF-72) ---------------------------

    @staticmethod
    def _key(topic: str, ks_table: str) -> str:
        return f"{topic}|{ks_table}"

    def get_record_counter(self, topic: str, ks_table: str) -> int:
        return self.latest.get("record_count", {}).get(self._key(topic, ks_table), 0)

    def get_failed_record_counter(self, topic: str, ks_table: str) -> int:
        return self.latest.get("failed_record_count", {}).get(
            self._key(topic, ks_table), 0
        )

    def get_batch_size_histogram(self, topic: str, ks_table: str) -> HistogramView:
        key = self._key(topic, ks_table)
        return _hist_view(self.latest.get("batch_size_histogram", {}).get(key))

    def get_batch_size_in_bytes_histogram(
        self, topic: str, ks_table: str
    ) -> HistogramView:
        key = self._key(topic, ks_table)
        return _hist_view(self.latest.get("batch_size_in_bytes_histogram", {}).get(key))

    def get_failed_with_unknown_topic(self) -> int:
        return self.latest.get("failed_with_unknown_topic", 0)

    def get_record_rate(self, topic: str, ks_table: str) -> float:
        """KAF-100 mean rate (records/s since metrics start)."""
        return self.latest.get("record_rate", {}).get(self._key(topic, ks_table), 0.0)

    # -- flat exposition view ---------------------------------------------

    def metric_names(self) -> list[str]:
        """Every exposed metric as ``<topic>/<ks.table>/<metricName>``
        (plus the global ``failedWithUnknownTopic``), sorted."""
        names = ["failedWithUnknownTopic"]
        # Both counters exist for every table the pipeline touched (the
        # reference registers them at setup, so a zero counter is still a
        # named metric); histograms appear once a write observed them.
        counter_keys = set(self.latest.get("record_count", {})) | set(
            self.latest.get("failed_record_count", {})
        )
        for key in counter_keys:
            topic, ks_table = key.split("|", 1)
            names.append(f"{topic}/{ks_table}/recordCount")
            names.append(f"{topic}/{ks_table}/failedRecordCount")
        for metric, attr in (
            ("batchSizeHistogram", "batch_size_histogram"),
            ("batchSizeInBytesHistogram", "batch_size_in_bytes_histogram"),
        ):
            for key in self.latest.get(attr, {}):
                topic, ks_table = key.split("|", 1)
                names.append(f"{topic}/{ks_table}/{metric}")
        return sorted(names)

    def value(self, name: str):
        """Resolve one flat metric name to its current value (int for
        counters, HistogramView for histograms)."""
        if name == "failedWithUnknownTopic":
            return self.get_failed_with_unknown_topic()
        topic, ks_table, metric = name.rsplit("/", 2)
        if metric == "recordCount":
            return self.get_record_counter(topic, ks_table)
        if metric == "failedRecordCount":
            return self.get_failed_record_counter(topic, ks_table)
        if metric == "batchSizeHistogram":
            return self.get_batch_size_histogram(topic, ks_table)
        if metric == "batchSizeInBytesHistogram":
            return self.get_batch_size_in_bytes_histogram(topic, ks_table)
        raise KeyError(name)


# ---------------------------------------------------------------------------
# Dropwizard/JMX-shaped export (KAF-72 exposition; the reference's metrics
# are codahale Counters/Histograms polled over JMX — the IT reads them via
# InstanceState, SimpleEndToEndSimulacronIT.java:636-682,859-874).  This
# bridge renders the registry as live metric objects with the codahale
# read API (getCount / getSnapshot().getMin()/getMax()/getMean()) plus JMX
# ObjectName-style addresses, so a dropwizard JmxReporter-equivalent (or
# any scraper) can export them without knowing the registry internals.
# ---------------------------------------------------------------------------

_JMX_DOMAIN = "kafka.sink.spark"


class CounterView:
    """codahale.metrics.Counter read surface, live over the registry."""

    def __init__(self, read):
        self._read = read

    def getCount(self) -> int:
        return self._read()

    get_count = getCount


class Snapshot:
    """codahale.metrics.Snapshot read surface (min/max/mean)."""

    def __init__(self, hist: HistogramView):
        self._h = hist

    def getMin(self):
        return self._h.min if self._h.min is not None else 0

    def getMax(self):
        return self._h.max if self._h.max is not None else 0

    def getMean(self):
        return self._h.mean if self._h.mean is not None else 0.0

    get_min, get_max, get_mean = getMin, getMax, getMean


class HistogramCounterView:
    """codahale.metrics.Histogram read surface, live over the registry."""

    def __init__(self, read):
        self._read = read

    def getCount(self) -> int:
        return self._read().count

    def getSnapshot(self) -> Snapshot:
        return Snapshot(self._read())

    get_count, get_snapshot = getCount, getSnapshot


class DropwizardBridge:
    """Live dropwizard-style metric set over a :class:`SinkMetricsRegistry`.

    ``register_table`` mirrors the reference's setup-time registration: the
    counters for a routed table exist (at zero) before the first batch, so
    an exporter scraping between batches sees stable names.  ``counters()``
    / ``histograms()`` return name → live view ({`<topic>/<ks.table>/
    <metric>`} + the global ``failedWithUnknownTopic``), and
    ``object_name`` renders the equivalent JMX ObjectName.
    """

    def __init__(self, registry: SinkMetricsRegistry) -> None:
        self._registry = registry
        self._tables: set[tuple[str, str]] = set()

    def register_table(self, topic: str, ks_table: str) -> None:
        self._tables.add((topic, ks_table))

    def _live_tables(self) -> set[tuple[str, str]]:
        seen = set(self._tables)
        for key in set(self._registry.latest.get("record_count", {})) | set(
            self._registry.latest.get("failed_record_count", {})
        ):
            topic, ks_table = key.split("|", 1)
            seen.add((topic, ks_table))
        return seen

    def counters(self) -> dict[str, CounterView]:
        reg = self._registry
        out: dict[str, CounterView] = {
            "failedWithUnknownTopic": CounterView(reg.get_failed_with_unknown_topic)
        }
        for topic, ks_table in sorted(self._live_tables()):
            out[f"{topic}/{ks_table}/recordCount"] = CounterView(
                lambda t=topic, k=ks_table: reg.get_record_counter(t, k)
            )
            out[f"{topic}/{ks_table}/failedRecordCount"] = CounterView(
                lambda t=topic, k=ks_table: reg.get_failed_record_counter(t, k)
            )
        return out

    def histograms(self) -> dict[str, HistogramCounterView]:
        reg = self._registry
        out: dict[str, HistogramCounterView] = {}
        for topic, ks_table in sorted(self._live_tables()):
            out[f"{topic}/{ks_table}/batchSizeHistogram"] = HistogramCounterView(
                lambda t=topic, k=ks_table: reg.get_batch_size_histogram(t, k)
            )
            out[
                f"{topic}/{ks_table}/batchSizeInBytesHistogram"
            ] = HistogramCounterView(
                lambda t=topic, k=ks_table: reg.get_batch_size_in_bytes_histogram(
                    t, k
                )
            )
        return out

    @staticmethod
    def object_name(metric: str) -> str:
        """JMX ObjectName for a flat metric name (the address a
        JmxReporter-equivalent would register the MBean under)."""
        if metric == "failedWithUnknownTopic":
            return f"{_JMX_DOMAIN}:type=sink-metrics,name=failedWithUnknownTopic"
        topic, ks_table, name = metric.rsplit("/", 2)
        ks, table = ks_table.split(".", 1)
        return (
            f"{_JMX_DOMAIN}:type=sink-metrics,topic={topic},"
            f"keyspace={ks},table={table},name={name}"
        )

    def export(self) -> dict[str, object]:
        """One scrape: ObjectName → current value (int for counters;
        {count,min,max,mean} for histograms)."""
        out: dict[str, object] = {}
        for name, c in self.counters().items():
            out[self.object_name(name)] = c.getCount()
        for name, h in self.histograms().items():
            s = h.getSnapshot()
            out[self.object_name(name)] = {
                "count": h.getCount(),
                "min": s.getMin(),
                "max": s.getMax(),
                "mean": s.getMean(),
            }
        return out

"""Micro-batch metrics exposition: the engine's equivalent of the
reference's JMX metrics registration.

The reference registers per-'topic|ks.table' metrics with Kafka Connect's
JMX domain (KAF-85, changelog/README.md:59) so operators can scrape
recordCount / failedRecordCount / batchSizeHistogram between batches
(SimpleEndToEndSimulacronIT.java:468-471,859-874).  SURVEY §2.8 maps that
surface to a StreamingQueryListener: on every query-progress event
``SinkMetricsListener`` looks up the record the stream committed for that
event's ``batchId`` in the shared
:class:`~kafka_sink_spark.streaming.registry.SinkMetrics` and emits it —
one exposition record per committed batch, exactly when the reference's
counters become observable.

The record is the batch's own SinkMetrics plus the counters as they stood
right after that batch was folded in, both made when the batch ended; the
listener bus is asynchronous, but a later batch cannot change either.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener

from kafka_sink_spark.streaming.registry import SinkMetrics


class SinkMetricsListener(StreamingQueryListener):
    """Emits one record per micro-batch progress event.

    ``emit`` receives ``{"query_id", "query_name", "batch_id", "timestamp",
    "num_input_rows", "metrics", "totals"}``: ``metrics`` is the batch's own
    SinkMetrics and ``totals`` the :meth:`SinkMetrics.counters` right after
    it. A batch whose record the shared SinkMetrics no longer keeps (it
    keeps the last ``numRecentProgressUpdates``) is not emitted. Exporter
    errors are swallowed so the listener bus never kills the query.
    """

    def __init__(
        self,
        metrics: SinkMetrics,
        emit: Callable[[dict], None],
        query_name: str | None = None,
    ) -> None:
        self.metrics = metrics
        self.emit = emit
        self.query_name = query_name

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if self.query_name is not None and p.name != self.query_name:
            return
        committed = self.metrics.batches.get(p.batchId)
        if committed is None:
            return
        batch, totals = committed
        try:
            self.emit(
                {
                    "query_id": str(p.id),
                    "query_name": p.name,
                    "batch_id": p.batchId,
                    "timestamp": p.timestamp,
                    "num_input_rows": p.numInputRows,
                    "metrics": batch,
                    "totals": totals,
                }
            )
        except Exception:
            pass  # exposition must never fail the stream

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

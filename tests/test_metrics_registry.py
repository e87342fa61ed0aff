"""Streaming metrics-exposition test: file-source stream → foreachBatch →
REAL cassandra writer (fake driver session) → SinkMetrics and the
DropwizardBridge over it, asserting the reference's counter/histogram
names and values after the run (KAF-72 accessor surface,
SimpleEndToEndSimulacronIT.java:636-682 + :859-874 batch histograms) and
their JMX-shaped export.

This is also the full physical end-to-end: decode → map → route →
write_routed's batching/frame accounting → metrics, in one stream.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import ColumnSpec, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.session import load_tables
from kafka_sink_spark.streaming.pipeline import SinkMetrics, start_sink_stream
from kafka_sink_spark.streaming.registry import DropwizardBridge

from tests.test_cassandra_writer import _factory_for, _read_log

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

RECORD_SCHEMA = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "key string, value string"
)


def _stage_records(spark, tmpdir: str) -> int:
    """events → Kafka-shaped records; every 10th to an unknown topic."""
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    records = events.select(
        F.when(F.col("event_id") % 10 == 0, F.lit("other"))
        .otherwise(F.lit("events"))
        .alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        # A modest key space so same-partition-key batching (W8) kicks in
        # and the batchSizeHistogram sees frames > 1; a sparse set of
        # unique (negative) keys forces standalone EXECUTE frames too.
        F.when(F.col("event_id") % 97 == 1, -F.col("event_id"))
        .otherwise(F.col("event_id") % 50)
        .cast("string")
        .alias("key"),
        F.col("props").alias("value"),
    )
    records.write.mode("overwrite").parquet(tmpdir)
    return records.where(F.col("topic") == "events").count()


@pytest.fixture(scope="module")
def stream_run(spark, tmp_path_factory):
    """One REAL stream run through the physical writer, shared by the
    accessor test and the bridge test below (both read the same run)."""
    tmp_path = tmp_path_factory.mktemp("metrics_stream")
    src = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    log_dir = str(tmp_path / "wire")
    os.makedirs(log_dir)
    n_good = _stage_records(spark, src)

    schema = TableSchema(
        "ks",
        "user_events",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig(
        "events", "ks", "user_events", parse_mapping("pk=key, kcol=value.k")
    )
    cfg = SinkConfig(tables=[table])

    from kafka_sink_spark.operators.cassandra_writer import write_routed

    factory = _factory_for(log_dir)

    def writer(routed, tbl, sch):
        return write_routed(routed, tbl, sch, cfg, factory)

    metrics = SinkMetrics()
    bridge = DropwizardBridge(metrics)
    # setup-time registration: counters exist (zero) before the first batch
    bridge.register_table("events", "ks.user_events")
    pre = bridge.counters()
    pre_counts = {name: view.getCount() for name, view in pre.items()}

    stream = spark.readStream.schema(RECORD_SCHEMA).parquet(src)
    q = start_sink_stream(
        spark,
        stream,
        cfg,
        {("ks", "user_events"): schema},
        ckpt,
        writer,
        value_schemas={"events": StructType([StructField("k", IntegerType())])},
        metrics=metrics,
        trigger_once=True,
    )
    assert q.awaitTermination(240)
    assert q.exception() is None
    return metrics, bridge, pre, pre_counts, n_good, log_dir


def test_registry_names_and_values_after_stream_run(stream_run):
    """After the stream run, SinkMetrics answers the reference's accessors
    (KAF-72), batch histograms (KAF-99) and flat metric names."""
    metrics, _, _, _, n_good, log_dir = stream_run

    # -- reference accessor surface (KAF-72) -------------------------------
    assert metrics.get_record_counter("events", "ks.user_events") == n_good
    assert metrics.get_failed_record_counter("events", "ks.user_events") == 0
    assert metrics.get_failed_with_unknown_topic() > 0
    assert metrics.get_record_rate("events", "ks.user_events") > 0

    # -- batch histograms (KAF-99) -----------------------------------------
    sizes = metrics.get_batch_size_histogram("events", "ks.user_events")
    assert sizes.n > 0
    # 50 keys over hundreds of records → real multi-statement frames.
    assert sizes.max > 1
    assert sum(frame * n for frame, n in sizes.buckets.items()) == n_good

    in_bytes = metrics.get_batch_size_in_bytes_histogram("events", "ks.user_events")
    # One update per statement, like the reference histogram.
    assert in_bytes.n == n_good
    assert in_bytes.min > 0 and in_bytes.max >= in_bytes.min
    mean = in_bytes.sum / in_bytes.n
    assert mean and in_bytes.min <= mean <= in_bytes.max

    # -- flat exposition names --------------------------------------------
    names = metrics.metric_names()
    assert names == [
        "events/ks.user_events/batchSizeHistogram",
        "events/ks.user_events/batchSizeInBytesHistogram",
        "events/ks.user_events/failedRecordCount",
        "events/ks.user_events/recordCount",
        "failedWithUnknownTopic",
    ]
    assert metrics.value("events/ks.user_events/recordCount") == n_good
    assert metrics.value("failedWithUnknownTopic") > 0
    assert metrics.value("events/ks.user_events/batchSizeHistogram").n == sizes.n

    # -- per-batch records + wire evidence --------------------------------
    assert metrics.batches  # records keyed by batch id
    wire = _read_log(log_dir)
    assert any(line.startswith("BATCH") for line in wire)
    assert any(line.startswith("EXECUTE") for line in wire)


def test_dropwizard_bridge_exports_names_and_values_after_stream_run(stream_run):
    """The JMX-shaped export: after the stream run, the DropwizardBridge
    exposes live codahale-style Counters/Histograms under the reference's
    metric names (recordCount, failedRecordCount, batchSizeHistogram,
    batchSizeInBytesHistogram per topic|ks.table + global
    failedWithUnknownTopic) and renders JMX ObjectNames for each."""
    _, bridge, pre, pre_counts, n_good, _ = stream_run
    # setup-time registration: counters existed (zero) before the first batch
    assert pre_counts["events/ks.user_events/recordCount"] == 0
    assert pre_counts["failedWithUnknownTopic"] == 0

    # -- live dropwizard views ---------------------------------------------
    counters = bridge.counters()
    assert counters["events/ks.user_events/recordCount"].getCount() == n_good
    assert counters["events/ks.user_events/failedRecordCount"].getCount() == 0
    assert counters["failedWithUnknownTopic"].getCount() > 0
    # the PRE-run views are live too (same SinkMetrics): zero → n_good
    assert pre["events/ks.user_events/recordCount"].getCount() == n_good

    hists = bridge.histograms()
    size_h = hists["events/ks.user_events/batchSizeHistogram"]
    snap = size_h.getSnapshot()
    assert size_h.getCount() > 0
    assert snap.getMax() > 1  # real multi-statement frames occurred
    assert snap.getMin() >= 1
    assert snap.getMin() <= snap.getMean() <= snap.getMax()
    bytes_h = hists["events/ks.user_events/batchSizeInBytesHistogram"]
    assert bytes_h.getCount() == n_good  # one update per statement
    assert bytes_h.getSnapshot().getMin() > 0

    # JMX ObjectName rendering + one-scrape export
    assert bridge.object_name("events/ks.user_events/recordCount") == (
        "kafka.sink.spark:type=sink-metrics,topic=events,"
        "keyspace=ks,table=user_events,name=recordCount"
    )
    assert bridge.object_name("failedWithUnknownTopic") == (
        "kafka.sink.spark:type=sink-metrics,name=failedWithUnknownTopic"
    )
    scrape = bridge.export()
    assert (
        scrape[
            "kafka.sink.spark:type=sink-metrics,topic=events,"
            "keyspace=ks,table=user_events,name=recordCount"
        ]
        == n_good
    )
    hist_val = scrape[
        "kafka.sink.spark:type=sink-metrics,topic=events,"
        "keyspace=ks,table=user_events,name=batchSizeInBytesHistogram"
    ]
    assert hist_val["count"] == n_good and hist_val["min"] > 0


def test_sink_metrics_accessors_read_its_own_counts():
    m = SinkMetrics()
    m.bump("t|ks.tbl", 7)
    m.bump("t|ks.tbl", 2, failed=True)
    assert m.get_record_counter("t", "ks.tbl") == 7
    assert m.get_failed_record_counter("t", "ks.tbl") == 2
    assert m.get_batch_size_histogram("t", "ks.tbl").n == 0
    assert "t/ks.tbl/recordCount" in m.metric_names()


def test_concurrent_commits_and_reads_lose_no_update():
    """Batches committing from many threads while readers list names and
    counters: every increment lands, and no reader sees a dict change
    size under it."""
    import threading

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    metrics, errors, done = SinkMetrics(), [], threading.Event()

    def committer(t):
        for i in range(200):
            batch = SinkMetrics()
            batch.bump(f"t{i % 7}|ks.tbl", 1)
            batch.bump(f"t{i % 5}|ks.tbl", 1, failed=True)
            batch.failed_with_unknown_topic += 1
            metrics.commit(batch, t * 1000 + i, keep=50)

    def reader():
        while not done.is_set():
            try:
                metrics.counters()
                metrics.metric_names()
            except Exception as exc:  # a lost race shows up here
                errors.append(exc)

    writers = [threading.Thread(target=committer, args=(t,)) for t in range(8)]
    readers = [threading.Thread(target=reader) for _ in range(2)]
    try:
        for th in writers + readers:
            th.start()
        for th in writers:
            th.join(timeout=60)
    finally:
        done.set()
        for th in readers:
            th.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in writers + readers)
    assert not errors
    assert metrics.failed_with_unknown_topic == 8 * 200
    assert sum(metrics.record_count.values()) == 8 * 200
    assert sum(metrics.failed_record_count.values()) == 8 * 200
    assert len(metrics.batches) == 50

"""End-to-end Structured Streaming shell tests: file-source stream →
foreachBatch sink pipeline → materialized output, with metrics and
error-policy behavior (SURVEY §2.8)."""

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import (
    ColumnSpec,
    ConfigError,
    SinkConfig,
    TableConfig,
    TableSchema,
)
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.session import load_tables
from kafka_sink_spark.streaming.pipeline import SinkMetrics, start_sink_stream

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

RECORD_SCHEMA = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "key string, value string"
)

V_SCHEMA = StructType([StructField("k", IntegerType())])


def _write_records(spark, tmpdir: str) -> int:
    """events → Kafka-shaped record parquet; every 10th record routed to an
    unconfigured topic."""
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    records = events.select(
        F.when(F.col("event_id") % 10 == 0, F.lit("other")).otherwise(
            F.lit("events")
        ).alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        F.col("props").alias("value"),
    )
    records.write.mode("overwrite").parquet(tmpdir)
    return records.count()


def _config() -> tuple[SinkConfig, dict, TableSchema]:
    schema = TableSchema(
        "ks", "user_events",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig(
        "events", "ks", "user_events", parse_mapping("pk=key, kcol=value.k")
    )
    cfg = SinkConfig(tables=[table])
    return cfg, {("ks", "user_events"): schema}, schema


def test_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "records")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_total = _write_records(spark, src)

    cfg, schemas, _ = _config()
    metrics = SinkMetrics()

    def writer(routed, table, schema):
        routed.select("pk", "kcol").write.mode("append").parquet(out_dir)

    stream = spark.readStream.schema(RECORD_SCHEMA).parquet(src)
    q = start_sink_stream(
        spark, stream, cfg, schemas, ckpt, writer,
        value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
    )
    q.awaitTermination(120)

    written = spark.read.parquet(out_dir)
    n_unknown = metrics.failed_with_unknown_topic
    assert n_unknown > 0
    assert written.count() == n_total - n_unknown
    assert metrics.record_count["events|ks.user_events"] == n_total - n_unknown
    # decode actually happened: kcol is typed and populated
    assert written.filter(F.col("kcol").isNotNull()).count() > 0

    # Restart from the same checkpoint with no new data → no duplicate writes
    # (offset bookkeeping = Spark checkpoint, replacing preCommit).
    q2 = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, schemas, ckpt, writer,
        value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_total - n_unknown


def test_stream_error_policy_all_commits(spark, tmp_path):
    src = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    _write_records(spark, src)
    cfg, schemas, _ = _config()
    cfg.ignore_errors = "All"
    metrics = SinkMetrics()

    def failing_writer(routed, table, schema):
        raise RuntimeError("simulated driver-side write failure")

    q = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, schemas, ckpt, failing_writer,
        value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
    )
    q.awaitTermination(120)  # completes despite writer failures
    assert q.exception() is None
    key = "events|ks.user_events"
    assert metrics.failed_record_count[key] > 0
    # The reference's recordCounter increments at the mapping stage, so
    # driver-failed records appear in BOTH counters
    # (SimpleEndToEndSimulacronIT.java:555-564: recordCounter=5 with 3
    # driver failures).  Everything mapped; everything failed the write.
    assert metrics.record_count[key] == metrics.failed_record_count[key]


def test_mapping_errors_divert_to_dead_letter(spark, tmp_path):
    """ignoreErrors=All: records whose value fails the typed decode are
    diverted to the error sink (DLQ) with the raw payload intact; healthy
    records are written; counts reconcile."""
    src = str(tmp_path / "records")
    out_dir = str(tmp_path / "out")
    dlq_dir = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")

    events = load_tables(spark, SF_DIR, ("events",))["events"]
    records = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        F.when(
            F.col("event_id") % 5 == 0, F.concat(F.lit("corrupt "), F.col("props"))
        ).otherwise(F.col("props")).alias("value"),
    )
    records.write.mode("overwrite").parquet(src)
    n_total = records.count()
    n_bad = records.filter(F.col("offset") % 5 == 0).count()

    cfg, schemas, _ = _config()
    cfg.ignore_errors = "All"
    metrics = SinkMetrics()

    def writer(routed, table, schema):
        routed.select("pk", "kcol").write.mode("append").parquet(out_dir)

    def dlq(bad, table):
        bad.select("topic", "offset", "value").write.mode("append").parquet(dlq_dir)

    q = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, schemas, ckpt, writer,
        value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
        error_sink=dlq,
    )
    q.awaitTermination(120)
    assert q.exception() is None

    written = spark.read.parquet(out_dir)
    dead = spark.read.parquet(dlq_dir)
    assert written.count() == n_total - n_bad
    assert dead.count() == n_bad
    assert metrics.failed_record_count["events|ks.user_events"] == n_bad
    assert metrics.record_count["events|ks.user_events"] == n_total - n_bad
    # DLQ keeps the raw payload for replay/inspection
    assert dead.filter(F.col("value").startswith("corrupt ")).count() == n_bad


def test_mapping_errors_fail_batch_under_driver_policy(spark, tmp_path):
    """ignoreErrors=Driver ignores WRITE errors but mapping errors still fail
    the batch (rewind) — the reference's asymmetric policy."""
    src = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    events.select(
        F.lit("events").alias("topic"), F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"), F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        F.lit("not json at all").alias("value"),
    ).write.mode("overwrite").parquet(src)
    cfg, schemas, _ = _config()
    cfg.ignore_errors = "Driver"

    q = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, schemas, ckpt, lambda df, t, s: None,
        value_schemas={"events": V_SCHEMA}, trigger_once=True,
    )
    with pytest.raises(Exception, match="failed mapping|StreamingQueryException"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))


def test_stream_error_policy_none_fails(spark, tmp_path):
    src = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    _write_records(spark, src)
    cfg, schemas, _ = _config()
    assert cfg.ignore_errors == "None"

    def failing_writer(routed, table, schema):
        raise RuntimeError("simulated driver-side write failure")

    q = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, schemas, ckpt, failing_writer,
        value_schemas={"events": V_SCHEMA}, trigger_once=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))


def test_invalid_mapping_fails_before_stream_starts(spark, tmp_path):
    """Fail-fast startup (SimpleEndToEndSimulacronIT.java:286-315): a mapping
    naming an unknown column raises from start_sink_stream itself, with no
    input at all, and no query is left running."""
    src = tmp_path / "records"
    src.mkdir()
    cfg, schemas, _ = _config()
    cfg.tables[0] = TableConfig(
        "events", "ks", "user_events", parse_mapping("pk=key, nosuch=value.k")
    )
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ConfigError, match="nosuch"):
        start_sink_stream(
            spark, spark.readStream.schema(RECORD_SCHEMA).parquet(str(src)),
            cfg, schemas, str(tmp_path / "ckpt"), lambda *a: None,
            value_schemas={"events": V_SCHEMA},
        )
    assert {q.id for q in spark.streams.active} == active


def test_avro_struct_mode_through_pipeline(spark):
    """S1 Struct/Avro mode wired into the micro-batch pipeline: an Avro
    schema JSON STRING in value_schemas selects decode_avro_records. Under
    ignoreErrors=All corrupt payloads divert to the DLQ (PERMISSIVE +
    corrupt flag) while null-value tombstones still route as DELETEs; under
    None and Driver a corrupt payload is a mapping error: the batch raises
    before any write, so Spark's retry rewinds the offsets."""
    from pyspark.sql.types import BinaryType, LongType, StringType
    from pyspark.sql.types import StructField as SF
    from pyspark.sql.types import StructType as ST
    from pyspark.sql.types import TimestampType

    from kafka_sink_spark.operators.writes import ROUTE_COL
    from kafka_sink_spark.sources.avro_python import encode
    from kafka_sink_spark.streaming.pipeline import process_micro_batch

    avro_schema = (
        '{"type":"record","name":"v","fields":[{"name":"k","type":"int"}]}'
    )
    rows = []
    n, n_corrupt, n_tomb = 30, 0, 0
    for i in range(n):
        if i % 7 == 3:
            payload, n_corrupt = b"\xff\xff\xff", n_corrupt + 1
        elif i % 5 == 0:
            payload, n_tomb = None, n_tomb + 1  # tombstone
        else:
            payload = encode(avro_schema, {"k": i * 10})
        rows.append(("events", 0, i, None, str(i).encode(), payload))
    rec_schema = ST([
        SF("topic", StringType()), SF("partition", LongType()),
        SF("offset", LongType()), SF("timestamp", TimestampType()),
        SF("key", BinaryType()), SF("value", BinaryType()),
    ])
    batch = spark.createDataFrame(rows, rec_schema).withColumn(
        "key", F.col("key").cast("string")
    )

    schema = TableSchema(
        "ks", "t",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig(
        "events", "ks", "t", parse_mapping("pk=key, kcol=value.k"),
        deletes_enabled=True,
    )
    schemas = {("ks", "t"): schema}

    # --- ignoreErrors=All: corrupt → DLQ, tombstones → DELETE ---
    cfg = SinkConfig(tables=[table])
    cfg.ignore_errors = "All"
    metrics = SinkMetrics()
    dlq = []
    out = process_micro_batch(
        batch, cfg, schemas,
        value_schemas={"events": avro_schema},
        metrics=metrics,
        error_sink=lambda bad, t: dlq.append(bad.count()),
    )
    routed = out["ks.t"]
    assert routed.count() == n - n_corrupt
    assert sum(dlq) == n_corrupt
    assert metrics.failed_record_count["events|ks.t"] == n_corrupt
    deletes = routed.filter(F.col(ROUTE_COL) == "DELETE").count()
    assert deletes == n_tomb
    good = routed.filter(F.col(ROUTE_COL) != "DELETE")
    assert good.filter(F.col("kcol") != F.col("pk") * 10).count() == 0

    # --- None (the default) and Driver: the batch raises before any write ---
    for policy in ("None", "Driver"):
        writes = []
        with pytest.raises(
            RuntimeError, match=rf"{n_corrupt} record.*failed mapping for events\|ks\.t"
        ):
            process_micro_batch(
                batch, SinkConfig(tables=[table], ignore_errors=policy), schemas,
                value_schemas={"events": avro_schema},
                writer=lambda routed, t, s: writes.append(t.table),
            )
        assert writes == []


# ---------------------------------------------------------------------------
# KAF-99/KAF-100 metrics + StreamingQueryListener exposition
# ---------------------------------------------------------------------------

# The histogram test drives the REAL executor write path (write_routed) with
# a fake driver session; executor workers can't import pytest test modules by
# name, so ship this module's classes by value inside the task closure.
from pyspark import cloudpickle  # noqa: E402

cloudpickle.register_pickle_by_value(sys.modules[__name__])


class _HistFakeFuture:
    def result(self):
        return None


class _HistFakeSession:
    """Minimal cassandra-driver Session lookalike (no logging needed)."""

    def prepare(self, cql):
        return cql

    def execute_async(self, stmt, params=None):
        return _HistFakeFuture()

    def execute_batch(self, stmts, consistency_level=None):
        return _HistFakeFuture()


def _user_keyed_records(spark, tmpdir: str) -> int:
    """events keyed by USER (many events per key) → the writer's run
    detection produces mixed frame sizes: full 32-statement batches,
    sub-32 remainders, and occasional singles."""
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    records = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").cast("string").alias("key"),
        F.col("props").alias("value"),
    )
    records.write.mode("overwrite").parquet(tmpdir)
    return records.count()


def test_batch_size_histograms_in_sink_metrics(spark, tmp_path):
    """KAF-99 parity through the full pipeline: a writer returning
    write_routed's stats feeds per-'topic|ks.table' batch-size and
    batch-bytes histograms in SinkMetrics, and the totals reconcile with
    recordCount. KAF-100: the failure/record rates are exposed."""
    src = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    n_total = _user_keyed_records(spark, src)

    cfg, schemas, _ = _config()
    metrics = SinkMetrics()
    from kafka_sink_spark.operators.cassandra_writer import write_routed

    def writer(routed, table, schema):
        return write_routed(routed, table, schema, cfg, lambda: _HistFakeSession())

    q = start_sink_stream(
        spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
        cfg, schemas, ckpt, writer,
        value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None

    key = "events|ks.user_events"
    size_hist = metrics.batch_size_histogram[key].buckets
    bytes_hist = metrics.batch_size_in_bytes_histogram[key].buckets
    # mixed sizes: full batches AND smaller frames both occur
    assert len(size_hist) > 1
    assert max(size_hist) == 32 and min(size_hist) >= 1
    # histogram mass reconciles with the record counter
    assert sum(sz * n for sz, n in size_hist.items()) == metrics.record_count[key]
    assert metrics.record_count[key] == n_total
    # bytes buckets are powers of two with one entry per STATEMENT (the
    # reference updates batchSizeInBytesHistogram per batch member)
    assert sum(bytes_hist.values()) == metrics.record_count[key]
    assert all(b == 0 or (b & (b - 1)) == 0 for b in bytes_hist)
    bstats = metrics.batch_size_in_bytes_histogram[key]
    assert bstats.n == metrics.record_count[key]
    assert 0 < bstats.min <= bstats.max
    # KAF-100 rates: events flowed, none failed
    assert metrics.record_rate(key) > 0
    assert metrics.failed_record_rate(key) == 0.0


def test_metrics_listener_emits_per_batch_snapshots(spark, tmp_path):
    """SURVEY §2.8 / KAF-85 equivalent: a StreamingQueryListener emits one
    record per committed micro-batch, with the stream's counters named by
    'topic|ks.table' as they stood after it."""
    import time as _time

    from kafka_sink_spark.streaming.listener import SinkMetricsListener

    src = str(tmp_path / "records")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_total = _write_records(spark, src)

    cfg, schemas, _ = _config()
    metrics = SinkMetrics()
    emitted = []
    listener = SinkMetricsListener(metrics, emit=emitted.append)
    spark.streams.addListener(listener)
    try:
        def writer(routed, table, schema):
            routed.select("pk", "kcol").write.mode("append").parquet(out_dir)

        q = start_sink_stream(
            spark, spark.readStream.schema(RECORD_SCHEMA).parquet(src),
            cfg, schemas, ckpt, writer,
            value_schemas={"events": V_SCHEMA}, metrics=metrics,
            trigger_once=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        # progress events are delivered asynchronously on the listener bus
        deadline = _time.time() + 30
        while not emitted and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    assert emitted, "no progress event captured within 30s"
    last = emitted[-1]
    assert last["batch_id"] >= 0
    totals = last["totals"]
    key = "events|ks.user_events"
    n_unknown = totals["failedWithUnknownTopic"]
    assert n_unknown > 0
    assert totals["events/ks.user_events/recordCount"] == n_total - n_unknown
    assert metrics.record_rate(key) > 0
    assert metrics.failed_record_rate(key) == 0.0


def _batch_files(spark, src: str, sizes: list[int], key_mod: int) -> list[list]:
    """One parquet file per batch, of ``sizes`` records each, dated so that
    a stream reading one file per trigger takes them in order; every 10th
    record to an unknown topic, keys ``offset % key_mod``."""
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    rows = events.select(
        F.when(F.col("event_id") % 10 == 0, F.lit("other")).otherwise(
            F.lit("events")
        ).alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        (F.col("event_id") % key_mod).cast("string").alias("key"),
        F.col("props").alias("value"),
    ).orderBy("offset").limit(sum(sizes)).collect()
    batches, start = [], 0
    for i, n in enumerate(sizes):
        batch = rows[start : start + n]
        start += n
        spark.createDataFrame(batch, RECORD_SCHEMA).coalesce(1).write.parquet(f"{src}/b{i}")
        for name in os.listdir(f"{src}/b{i}"):
            os.utime(f"{src}/b{i}/{name}", (1_000_000 + i, 1_000_000 + i))
        batches.append(batch)
    return batches


def test_listener_emits_each_batch_exact_record(spark, tmp_path):
    """Two batches of different sizes: for each batch id the listener emits
    exactly that batch's record count, unknown-topic count and histogram
    counts — not the running totals, and never a later batch's counts."""
    import math
    import time as _time
    from collections import Counter

    from kafka_sink_spark.operators.cassandra_writer import write_routed
    from kafka_sink_spark.streaming.listener import SinkMetricsListener

    src, ckpt = str(tmp_path / "records"), str(tmp_path / "ckpt")
    batches = _batch_files(spark, src, [20, 50], key_mod=4)
    cfg, schemas, _ = _config()
    metrics = SinkMetrics()
    emitted = []
    listener = SinkMetricsListener(metrics, emit=emitted.append)
    spark.streams.addListener(listener)
    try:
        def writer(routed, table, schema):
            return write_routed(routed, table, schema, cfg, lambda: _HistFakeSession())

        q = start_sink_stream(
            spark,
            spark.readStream.schema(RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"),
            cfg, schemas, ckpt, writer,
            value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        deadline = _time.time() + 30
        while len(emitted) < 2 and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    key = "events|ks.user_events"
    assert sorted(e["batch_id"] for e in emitted) == [0, 1]
    running = 0
    for event in sorted(emitted, key=lambda e: e["batch_id"]):
        rows = batches[event["batch_id"]]
        known = [r for r in rows if r["topic"] == "events"]
        frames = sum(math.ceil(n / 32) for n in Counter(r["key"] for r in known).values())
        m = event["metrics"]
        assert event["num_input_rows"] == len(rows)
        assert m.failed_with_unknown_topic == len(rows) - len(known)
        assert m.record_count == {key: len(known)}
        assert m.batch_size_histogram[key].n == frames
        assert m.batch_size_histogram[key].sum == len(known)
        assert m.batch_size_in_bytes_histogram[key].n == len(known)
        running += len(known)
        assert event["totals"]["events/ks.user_events/recordCount"] == running
    assert metrics.record_count[key] == running


def test_batch_records_kept_as_long_as_recent_progress(spark, tmp_path):
    """SinkMetrics keeps per-batch records for the last
    ``spark.sql.streaming.numRecentProgressUpdates`` batches, the setting
    that bounds ``query.recentProgress``; the totals still count every
    batch."""
    src, ckpt = str(tmp_path / "records"), str(tmp_path / "ckpt")
    batches = _batch_files(spark, src, [5, 6, 7, 8], key_mod=1000)
    cfg, schemas, _ = _config()
    metrics = SinkMetrics()
    conf = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.set(conf, "2")
    try:
        q = start_sink_stream(
            spark,
            spark.readStream.schema(RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"),
            cfg, schemas, ckpt, lambda routed, table, schema: None,
            value_schemas={"events": V_SCHEMA}, metrics=metrics, trigger_once=True,
        )
        q.awaitTermination(120)
    finally:
        spark.conf.unset(conf)
    assert q.exception() is None
    assert sorted(metrics.batches) == [2, 3]
    # every batch Spark still reports a progress for has its record
    assert {p.batchId for p in q.recentProgress} <= set(metrics.batches)
    key = "events|ks.user_events"
    known = [sum(r["topic"] == "events" for r in b) for b in batches]
    for bid in (2, 3):
        assert metrics.batches[bid][0].record_count[key] == known[bid]
    assert metrics.record_count[key] == sum(known)


def test_stream_crash_resume_from_checkpoint(spark, tmp_path):
    """Mid-stream failure recovery (SURVEY §2.8 at-least-once): the writer
    crashes on the SECOND micro-batch; the stream dies; a restart from the
    same checkpoint resumes at the failed batch — already-committed data is
    not reprocessed, the remaining batches complete, and the final output
    is exactly the full record set (idempotent writer => effectively-once
    here; Cassandra upserts give the same result on the real sink)."""
    src = str(tmp_path / "records")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    events = load_tables(spark, SF_DIR, ("events",))["events"]
    records = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        F.col("props").alias("value"),
    )
    # three ordered micro-batch files (maxFilesPerTrigger=1 -> one per batch)
    n_total = records.count()
    third = n_total // 3
    parts = [
        records.filter(F.col("offset") < third),
        records.filter((F.col("offset") >= third) & (F.col("offset") < 2 * third)),
        records.filter(F.col("offset") >= 2 * third),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")

    cfg, schemas, _ = _config()
    batches_seen = []

    def crashing_writer(routed, table, schema):
        batch_rows = routed.select("pk", "kcol")
        batches_seen.append(batch_rows.count())
        if len(batches_seen) == 2:
            raise RuntimeError("simulated executor loss on batch 2")
        batch_rows.write.mode("append").parquet(out_dir)

    def reader():
        return (
            spark.readStream.schema(RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )

    q = start_sink_stream(
        spark, reader(), cfg, schemas, ckpt, crashing_writer,
        value_schemas={"events": V_SCHEMA}, trigger_once=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    # batch 1 committed before the crash
    committed = spark.read.parquet(out_dir).count()
    assert committed == batches_seen[0]
    assert committed < n_total

    def healed_writer(routed, table, schema):
        routed.select("pk", "kcol").write.mode("append").parquet(out_dir)

    q2 = start_sink_stream(
        spark, reader(), cfg, schemas, ckpt, healed_writer,
        value_schemas={"events": V_SCHEMA}, trigger_once=True,
    )
    assert q2.awaitTermination(120)
    assert q2.exception() is None

    final = spark.read.parquet(out_dir)
    # resume replays ONLY the uncommitted batches: full set, no duplicates
    assert final.count() == n_total
    assert final.select("pk").distinct().count() == n_total


def test_multibatch_crash_error_matrix(spark, tmp_path):
    """r13 verdict ask #6 — the ignoreErrors/metrics parity under a REAL
    multi-batch crash, batch-by-batch (not just final state).

    Three micro-batches driven through the real checkpoint machinery, one
    availableNow run per batch file so every inter-batch boundary is a
    genuine checkpoint resume.  Batch 2 carries BOTH failure modes: one
    mapping-error record (unparseable value) and one poison row that makes
    the writer raise (the driver-error simulacron).

    Pinned reference semantics (SimpleEndToEndSimulacronIT.java:475-564):

    - ignoreErrors=Driver, mapping error (:430-470 asymmetry): the batch
      FAILS and rewinds — no DLQ row, no counter movement, committed
      offsets stay at batch 1;
    - restart from the SAME checkpoint under ignoreErrors=All: batch 2
      replays (at-least-once), batch 1 does NOT; the mapping error goes
      to the DLQ with the raw payload and counts ONLY in
      failedRecordCount (:495-507: recordCounter=2 of 3); the
      driver-failed rows count in BOTH counters (:555-564:
      recordCounter=5 with 3 driver failures) — at this engine's
      batch-grain write unit the whole routed batch is the failed write;
    - batch 3 then commits cleanly and only ITS offsets move: counters
      advance by exactly the batch-3 rows, the DLQ stays at one row.
    """
    src = str(tmp_path / "records")
    out_dir = str(tmp_path / "out")
    dlq_dir = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    key = "events|ks.user_events"

    events = load_tables(spark, SF_DIR, ("events",))["events"]
    base = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        F.col("props").alias("value"),
    ).limit(30).cache()
    rows = base.collect()
    b0, b1, b2 = rows[:10], rows[10:20], rows[20:30]
    # batch 2: one unparseable value (mapping error) + one poison pk the
    # writer refuses (driver error)
    b1[3] = b1[3].asDict()
    b1[3]["value"] = "corrupt " + (b1[3]["value"] or "")
    poison_pk = int(b1[7]["key"])
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        [r.asDict() if hasattr(r, "asDict") else r for r in rs],
        schema=RECORD_SCHEMA,
    )
    mk(b0).coalesce(1).write.parquet(f"{src}/b0")

    cfg, schemas, _ = _config()
    writer_calls = []

    def writer(routed, table, schema):
        batch = routed.select("pk", "kcol").collect()
        writer_calls.append(len(batch))
        if any(r["pk"] == poison_pk for r in batch):
            raise RuntimeError("simulated driver-side failure on poison pk")
        spark.createDataFrame(batch).write.mode("append").parquet(out_dir)

    def dlq(bad, table):
        bad.select("topic", "offset", "value").write.mode("append").parquet(dlq_dir)

    def run(policy, metrics):
        cfg.ignore_errors = policy
        q = start_sink_stream(
            spark,
            spark.readStream.schema(RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*"),
            cfg, schemas, ckpt, writer,
            value_schemas={"events": V_SCHEMA}, metrics=metrics,
            trigger_once=True, error_sink=dlq,
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass  # a failed batch surfaces via q.exception()
        return q

    # ---- batch 1 under Driver: clean commit ----
    m1 = SinkMetrics()
    q1 = run("Driver", m1)
    assert q1.exception() is None
    assert m1.record_count[key] == 10 and key not in m1.failed_record_count
    assert writer_calls == [10]

    # ---- batch 2 under Driver: the mapping error rewinds the batch ----
    mk(b1).coalesce(1).write.parquet(f"{src}/b1")
    m2 = SinkMetrics()
    q2 = run("Driver", m2)
    assert q2.exception() is not None
    assert "failed mapping" in str(q2.exception())
    # rewind: no counters moved, no DLQ, the writer never ran for batch 2
    assert key not in m2.record_count and key not in m2.failed_record_count
    assert not os.path.exists(dlq_dir)
    assert writer_calls == [10]
    assert spark.read.parquet(out_dir).count() == 10  # batch 1 only

    # ---- restart same checkpoint under All: batch 2 REPLAYS, batch 1
    # does not; DLQ + both-counter driver accounting ----
    m3 = SinkMetrics()
    q3 = run("All", m3)
    assert q3.exception() is None
    # at-least-once: exactly one more writer call, the 9 mapped rows
    assert writer_calls == [10, 9]
    dead = spark.read.parquet(dlq_dir)
    assert dead.count() == 1
    assert dead.filter(F.col("value").startswith("corrupt ")).count() == 1
    # mapping failure: failed only.  driver failure: BOTH counters.
    assert m3.record_count[key] == 9
    assert m3.failed_record_count[key] == 9 + 1
    assert spark.read.parquet(out_dir).count() == 10  # poison batch not written

    # ---- batch 3 under All: clean commit, counters advance by 10 only ----
    mk(b2).coalesce(1).write.parquet(f"{src}/b2")
    q4 = run("All", m3)
    assert q4.exception() is None
    assert writer_calls == [10, 9, 10]
    assert m3.record_count[key] == 9 + 10
    assert m3.failed_record_count[key] == 10  # unchanged by batch 3
    assert spark.read.parquet(dlq_dir).count() == 1  # unchanged
    assert spark.read.parquet(out_dir).count() == 20  # batches 1 + 3
    base.unpersist()

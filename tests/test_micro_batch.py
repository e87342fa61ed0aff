"""The single-pass micro-batch (``process_micro_batch``): error-policy
ordering on a two-table fan-out, persisted frames released on every exit,
and a bound on the Spark jobs one batch runs outside its writes."""

import os
import sys

import pytest
from pyspark.sql.types import IntegerType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import ColumnSpec, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.streaming.pipeline import SinkMetrics, process_micro_batch

RAW_KEY = "clicks|ks.raw_clicks"
TYPED_KEY = "clicks|ks.clicks_k"
N_CLICKS, N_UNKNOWN, N_BAD = 12, 2, 3
VALUE_SCHEMAS = {"clicks": StructType([StructField("k", IntegerType())])}


def _records(spark, with_errors: bool = True):
    """12 ``clicks`` records (every 4th value malformed JSON when
    ``with_errors``) and 2 on the unconfigured topic ``audit``."""
    rows = []
    for i in range(N_CLICKS):
        value = f'{{"k": {i * 10}}}'
        if with_errors and i % 4 == 1:
            value = value[:-3]
        rows.append(("clicks", 0, i, None, str(i), value))
    rows += [("audit", 0, N_CLICKS + i, None, "0", '{"k": 0}') for i in range(N_UNKNOWN)]
    return spark.createDataFrame(
        rows,
        "topic string, partition int, offset long, timestamp timestamp, "
        "key string, value string",
    )


def _config(policy: str):
    """One topic fanned out to two tables: ``raw_clicks`` maps the whole
    value (a malformed payload is its literal text, never an error);
    ``clicks_k`` maps the typed ``value.k`` (a malformed payload is a
    mapping error)."""
    raw = TableConfig("clicks", "ks", "raw_clicks", parse_mapping("pk=key, payload=value"))
    typed = TableConfig("clicks", "ks", "clicks_k", parse_mapping("pk=key, kcol=value.k"))
    schemas = {
        ("ks", "raw_clicks"): TableSchema(
            "ks", "raw_clicks",
            [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("payload", "string")],
        ),
        ("ks", "clicks_k"): TableSchema(
            "ks", "clicks_k",
            [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
        ),
    }
    cfg = SinkConfig(tables=[raw, typed])
    cfg.ignore_errors = policy
    return cfg, schemas


def _noop_writer(calls: list):
    def writer(routed, table, schema):
        calls.append(table.table)
        routed.write.format("noop").mode("overwrite").save()

    return writer


def _counting_error_sink(dead: list):
    def error_sink(bad, table):
        dead.append((table.table, bad.count()))

    return error_sink


@pytest.mark.parametrize("policy", ["None", "Driver"])
def test_mapping_error_raises_before_any_write(spark, policy):
    """Only the SECOND table hits mapping errors, yet no table is written:
    the counts are known before the first write, so a rewound batch leaves
    nothing half-written."""
    cfg, schemas = _config(policy)
    calls, dead = [], []
    with pytest.raises(RuntimeError, match=f"{N_BAD} record.*failed mapping for {TYPED_KEY}"):
        process_micro_batch(
            _records(spark), cfg, schemas, value_schemas=VALUE_SCHEMAS,
            writer=_noop_writer(calls), error_sink=_counting_error_sink(dead),
        )
    assert calls == []
    assert dead == []


def test_ignore_all_writes_both_tables_and_dead_letters_once(spark):
    """Under All both tables are written, the one table with mapping errors
    dead-letters them once, and SinkMetrics matches what the per-table
    pipeline reported on this input."""
    cfg, schemas = _config("All")
    calls, dead = [], []
    metrics = SinkMetrics()
    process_micro_batch(
        _records(spark), cfg, schemas, value_schemas=VALUE_SCHEMAS,
        writer=_noop_writer(calls), metrics=metrics, error_sink=_counting_error_sink(dead),
    )
    assert calls == ["raw_clicks", "clicks_k"]
    assert dead == [("clicks_k", N_BAD)]
    assert metrics.failed_with_unknown_topic == N_UNKNOWN
    assert metrics.record_count == {RAW_KEY: N_CLICKS, TYPED_KEY: N_CLICKS - N_BAD}
    assert metrics.failed_record_count == {TYPED_KEY: N_BAD}


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_no_persist_outlives_the_batch(spark):
    """Every frame a batch persists is released when it ends: on success,
    on a mapping-error raise, and on a writer raise."""
    # success
    cfg, schemas = _config("All")
    before = _persistent_rdds(spark)
    process_micro_batch(
        _records(spark), cfg, schemas, value_schemas=VALUE_SCHEMAS,
        writer=_noop_writer([]), error_sink=_counting_error_sink([]),
    )
    assert _persistent_rdds(spark) == before

    # mapping errors under None
    cfg, schemas = _config("None")
    with pytest.raises(RuntimeError, match="failed mapping"):
        process_micro_batch(
            _records(spark), cfg, schemas, value_schemas=VALUE_SCHEMAS,
            writer=_noop_writer([]),
        )
    assert _persistent_rdds(spark) == before

    # the writer reads the typed table's frame, then raises, under None
    def failing_writer(routed, table, schema):
        routed.count()
        if table.table == "clicks_k":
            raise RuntimeError("simulated driver-side write failure")

    with pytest.raises(RuntimeError, match="simulated"):
        process_micro_batch(
            _records(spark, with_errors=False), cfg, schemas,
            value_schemas=VALUE_SCHEMAS, writer=failing_writer,
        )
    assert _persistent_rdds(spark) == before


def test_bookkeeping_job_count(spark):
    """A two-table fan-out with mapping errors under All runs at most 9
    Spark jobs: the unknown-topic count (shuffle + result), the one count
    of the topic (cache fill + shuffle + result), the one table's
    dead-letter count (shuffle + result) and one noop write per table. The
    per-table pipeline this replaced ran 12 on the same batch (a
    mapping-error count per table with errors, and a fallback row count
    per written table); a reintroduced per-table count shows here."""
    MAX_JOBS = 9
    sc = spark.sparkContext
    cfg, schemas = _config("All")
    records = _records(spark)
    group = "test-bookkeeping-job-count"
    sc.setJobGroup(group, "one micro-batch")
    try:
        process_micro_batch(
            records, cfg, schemas, value_schemas=VALUE_SCHEMAS,
            writer=_noop_writer([]), error_sink=_counting_error_sink([]),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_JOBS

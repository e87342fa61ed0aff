"""The single-pass micro-batch (``process_micro_batch`` and the compiled
``SinkPlan`` a stream runs): error-policy ordering on a two-table fan-out,
persisted frames released on every exit, a bound on the Spark jobs one
batch runs outside its writes, fan-in, the py4j cost of a batch once the
plan is compiled, and the compiled plan's agreement with the DataFrame
wrappers."""

import datetime
import gc
import os
import re
import sys
import time
from collections import Counter

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import (
    CodecConfig,
    ColumnSpec,
    ConfigError,
    SinkConfig,
    TableConfig,
    TableSchema,
)
from kafka_sink_spark.mapping.compiler import compile_mapping
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.operators.records import decode_records
from kafka_sink_spark.operators.writes import add_ttl_writetime, route_writes
from kafka_sink_spark.sources.avro import decode_avro_records
from kafka_sink_spark.sources.avro_python import encode
from kafka_sink_spark.streaming.pipeline import (
    AVRO_CORRUPT,
    SinkMetrics,
    SinkPlan,
    process_micro_batch,
    split_mapping_errors,
)

# The write tasks unpickle this module's fake session; ship it by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

RAW_KEY = "clicks|ks.raw_clicks"
TYPED_KEY = "clicks|ks.clicks_k"
N_CLICKS, N_UNKNOWN, N_BAD = 12, 2, 3
VALUE_SCHEMAS = {"clicks": StructType([StructField("k", IntegerType())])}
RECORD_DDL = (
    "topic string, partition int, offset long, timestamp timestamp, key string, "
    "value string"
)
K_SCHEMA = StructType([StructField("k", IntegerType())])
AVRO_K = '{"type":"record","name":"v","fields":[{"name":"k","type":"int"}]}'
TS = datetime.datetime(2024, 1, 2, 3, 4, 5)
PK_KCOL = [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")]


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
    return spark.createDataFrame(rows, RECORD_DDL)


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
    """A two-table fan-out with mapping errors under All runs at most 7
    Spark jobs: the one count of the topic (cache fill + shuffle + result,
    which also counts the unknown-topic records), the one table's
    dead-letter count (shuffle + result) and one noop write per table. A
    separate unknown-topic count made 9; the per-table pipeline before
    that ran 12 on the same batch (a mapping-error count per table with
    errors, and a fallback row count per written table); a reintroduced
    count shows here."""
    MAX_JOBS = 7
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


@pytest.mark.parametrize("n", [0, 5])
def test_empty_and_all_unknown_batches_return(spark, n):
    """A batch with no records, and one whose records are all on an
    unconfigured topic, complete: the unknown-topic count (0 and N) is
    read once the topic's aggregate has run, each table's record count is
    0, and no table is handed to the writer (its frame is still
    returned)."""
    cfg, schemas = _config("None")
    rows = [("audit", 0, i, None, "0", '{"k": 0}') for i in range(n)]
    metrics = SinkMetrics()
    calls = []
    out = process_micro_batch(
        spark.createDataFrame(rows, RECORD_DDL), cfg, schemas, value_schemas=VALUE_SCHEMAS,
        writer=_noop_writer(calls), metrics=metrics,
    )
    assert metrics.failed_with_unknown_topic == n
    assert metrics.record_count == {RAW_KEY: 0, TYPED_KEY: 0}
    assert calls == []
    assert sorted(out) == ["ks.clicks_k", "ks.raw_clicks"]


def test_config_without_tables_is_rejected(spark):
    """A plan with no tables would run no action, so it is refused when
    built."""
    with pytest.raises(ConfigError, match="no tables"):
        SinkPlan(spark, spark.createDataFrame([], RECORD_DDL).schema, SinkConfig(tables=[]), {})


def test_fan_in_unions_every_topic_into_its_table(spark):
    """S3 fan-in: two topics with different mappings into one table. The
    returned frame of the table holds both topics' rows, unioned by column
    name (the raw topic's mapping has no ``v``)."""
    typed = TableConfig("a", "ks", "t", parse_mapping("pk=key, v=value.v"))
    raw = TableConfig("b", "ks", "t", parse_mapping("pk=key"))
    schemas = {
        ("ks", "t"): TableSchema(
            "ks", "t", [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")]
        )
    }
    records = spark.createDataFrame(
        [("a", 0, 0, None, "1", '{"v": 5}'), ("b", 0, 0, None, "2", "x")], RECORD_DDL
    )
    out = process_micro_batch(
        records, SinkConfig(tables=[typed, raw]), schemas,
        value_schemas={"a": StructType([StructField("v", IntegerType())])},
    )
    assert sorted(out) == ["ks.t"]
    assert sorted(tuple(r) for r in out["ks.t"].select("pk", "v").collect()) == [
        (1, 5), (2, None),
    ]


class _Done:
    def result(self):
        return None


class _NullSession:
    """A driver session that accepts every statement and keeps nothing."""

    def prepare(self, cql):
        return cql

    def execute_async(self, stmt, params=None):
        return _Done()

    def execute_batch(self, stmts, consistency_level=None):
        return _Done()


def _settle_py4j(spark):
    """Collect garbage, then wait for py4j's finalizer thread to send the
    queued releases of dropped JVM proxies, so a count window holds the
    releases of its own work and no earlier test's."""
    gc.collect()
    queue = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 30
    while queue and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.2)  # the release popped last is sent after the pop


def test_batch_after_the_first_stays_under_py4j_budget(spark, monkeypatch):
    """The stream's plan is compiled once: the second batch of a two-table
    fan-out (mapping errors dead-lettered, both tables written through
    ``write_routed``) makes at most 400 py4j round trips, counted on every
    thread. Rebuilding decode → mapping → route per batch made ~2,000."""
    from py4j import clientserver, java_gateway

    from kafka_sink_spark.operators.cassandra_writer import write_routed

    cfg, schemas = _config("All")
    records = _records(spark)
    plan = SinkPlan(spark, records.schema, cfg, schemas, value_schemas=VALUE_SCHEMAS)

    def writer(routed, table, schema):
        return write_routed(routed, table, schema, cfg, _NullSession)

    def batch():
        plan.run(records, writer=writer, error_sink=_counting_error_sink([]))

    batch()
    _settle_py4j(spark)
    calls = [0]
    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        send = cls.send_command

        def counted(self, *args, _send=send, **kwargs):
            calls[0] += 1
            return _send(self, *args, **kwargs)

        monkeypatch.setattr(cls, "send_command", counted)
    batch()
    _settle_py4j(spark)
    monkeypatch.undo()
    assert 0 < calls[0] <= 400, calls[0]


def _json_rows(values):
    return [("t", 0, i, TS, str(i), v) for i, v in enumerate(values)]


def _case(spark, name):
    """(records, table, columns, value schema, ignoreErrors) of one decode
    mode the compiled plan must agree with the DataFrame wrappers on."""
    k = [f'{{"k": {i}}}' for i in range(6)]
    if name == "json_literal":
        values = [v if i % 3 else "not json {" for i, v in enumerate(k)]
        return (
            spark.createDataFrame(_json_rows(values), RECORD_DDL),
            TableConfig("t", "ks", "tbl", parse_mapping("pk=key, kcol=value.k, raw=value")),
            PK_KCOL + [ColumnSpec("raw", "string")], K_SCHEMA, "None",
        )
    if name == "raw":
        return (
            spark.createDataFrame(_json_rows(["a", None, "c"]), RECORD_DDL),
            TableConfig("t", "ks", "tbl", parse_mapping("pk=key, payload=value")),
            [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("payload", "string")],
            None, "None",
        )
    if name == "header":
        rows = [r + ({"source": f"s{r[2]}"},) for r in _json_rows(k)]
        return (
            spark.createDataFrame(rows, RECORD_DDL + ", headers map<string,string>"),
            TableConfig("t", "ks", "tbl", parse_mapping("pk=key, kcol=value.k, src=header.source")),
            PK_KCOL + [ColumnSpec("src", "string")], K_SCHEMA, "None",
        )
    if name == "now":
        return (
            spark.createDataFrame(_json_rows(k), RECORD_DDL),
            TableConfig("t", "ks", "tbl", parse_mapping("pk=key, kcol=value.k, id=now()")),
            PK_KCOL + [ColumnSpec("id", "string")], K_SCHEMA, "None",
        )
    if name == "ttl_timestamp":
        values = [f'{{"k": {i}, "t": {i * 10 - 20}, "ts": {i * 1000}}}' for i in range(6)]
        vs = StructType(
            [StructField("k", IntegerType()), StructField("t", LongType()),
             StructField("ts", LongType())]
        )
        return (
            spark.createDataFrame(_json_rows(values), RECORD_DDL),
            TableConfig(
                "t", "ks", "tbl",
                parse_mapping("pk=key, kcol=value.k, __ttl=value.t, __timestamp=value.ts"),
                ttl_time_unit="MILLISECONDS",
            ),
            PK_KCOL, vs, "None",
        )
    if name == "locale_temporal":
        values = [f'{{"k": {i}, "amount": "1 23{i},5", "at": "2024-01-0{i + 1}T03:04:05"}}'
                  for i in range(6)]
        vs = StructType(
            [StructField("k", IntegerType()), StructField("amount", StringType()),
             StructField("at", StringType())]
        )
        return (
            spark.createDataFrame(_json_rows(values), RECORD_DDL),
            TableConfig(
                "t", "ks", "tbl", parse_mapping("pk=key, kcol=value.k, amount=value.amount, "
                                                "at=value.at"),
                codec=CodecConfig(locale="fr_FR"),
            ),
            PK_KCOL + [ColumnSpec("amount", "double"), ColumnSpec("at", "timestamp")],
            vs, "None",
        )
    if name == "provided":
        return (
            spark.createDataFrame(_json_rows(k), RECORD_DDL),
            TableConfig(
                "t", "ks", "tbl", parse_mapping("pk=key, kcol=value.k"),
                query="INSERT INTO ks.tbl(pk,kcol) VALUES (:pk,:kcol)", deletes_enabled=False,
            ),
            PK_KCOL, K_SCHEMA, "None",
        )
    # Avro: valid payloads, a tombstone (a DELETE) and, when permissive, a
    # corrupt payload (a mapping error, dead-lettered).
    payloads = [encode(AVRO_K, {"k": i}) for i in range(4)] + [None]
    if name == "avro_permissive":
        payloads.append(b"\xff\xff\xff")
    rows = [("t", 0, i, TS, str(i), p) for i, p in enumerate(payloads)]
    return (
        spark.createDataFrame(rows, RECORD_DDL.replace("value string", "value binary")),
        TableConfig("t", "ks", "tbl", parse_mapping("pk=key, kcol=value.k")),
        PK_KCOL, AVRO_K, "All" if name == "avro_permissive" else "None",
    )


def _wrapped(records, table, schema, vs, policy):
    """The same batch through the DataFrame wrappers."""
    if not isinstance(vs, str):
        decoded = decode_records(records, value_schema=vs)
    else:
        permissive = policy == "All"
        decoded = decode_avro_records(
            records, vs,
            options={"mode": "PERMISSIVE" if permissive else "FAILFAST"},
            corrupt_col=AVRO_CORRUPT if permissive else None,
        )
    good, _bad = split_mapping_errors(decoded, table, schema)
    mapped = compile_mapping(good, table, schema)
    return route_writes(add_ttl_writetime(mapped, table), table, schema)


@pytest.mark.parametrize(
    "name",
    ["json_literal", "raw", "avro_permissive", "avro_failfast", "header", "now",
     "ttl_timestamp", "locale_temporal", "provided"],
)
def test_compiled_plan_matches_dataframe_wrappers(spark, name):
    """The frame a stream's compiled plan hands the writer has the columns
    and the multiset of rows of the DataFrame wrappers on the same records,
    in every decode mode; the JSON payload is parsed once in it."""
    records, table, columns, vs, policy = _case(spark, name)
    schema = TableSchema("ks", "tbl", columns)
    cfg = SinkConfig(tables=[table], ignore_errors=policy)
    plan = SinkPlan(
        spark, records.schema, cfg, {("ks", "tbl"): schema},
        value_schemas={"t": vs} if vs is not None else None,
    )
    seen = {}

    def writer(routed, table, schema):
        seen["columns"] = routed.columns
        seen["rows"] = routed.collect()
        seen["plan"] = routed._jdf.queryExecution().executedPlan().toString()

    plan.run(records, writer=writer)
    expected = _wrapped(records, table, schema, vs, policy)
    assert seen["columns"] == expected.columns
    skip = {"id"} if name == "now" else set()

    def multiset(rows):
        return Counter(
            tuple(v for c, v in zip(seen["columns"], r) if c not in skip) for r in rows
        )

    assert multiset(seen["rows"]) == multiset(expected.collect())
    if name == "now":
        v1 = r"^[0-9a-f]{8}-[0-9a-f]{4}-1[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
        assert all(re.match(v1, r["id"]) for r in seen["rows"])
    assert seen["plan"].count("from_json") == (0 if vs is None or isinstance(vs, str) else 1)


FR_VALUES = [
    '{"a": "1 234,5", "b": "2,5", "at": "2024-01-02T03:04:05Z"}',
    '{"a": "abc", "b": "1", "at": "2024-01-02 03:04:05"}',
    '{"a": "3", "b": "zz", "at": "2024-01-02"}',
    '{"a": "x", "b": "7", "at": "not a time"}',
    '{"a": null, "b": null, "at": null}',
    '{"a": "-0,25", "b": "1 000", "at": "2024-02-29T12:00:00+01:00"}',
]


def _fr_fanout(spark):
    """(records, plan) of one fr_FR topic fanned out to two tables under
    All, each with a conversion that fails on some records: ``ks.amounts``
    maps the comma decimal ``a``; ``ks.events`` the comma decimal ``b`` and
    the ISO timestamp ``at``. The text key maps onto a text column."""
    fr = CodecConfig(locale="fr_FR")
    amounts = TableConfig("fr", "ks", "amounts", parse_mapping("pk=key, a=value.a"), codec=fr)
    events = TableConfig(
        "fr", "ks", "events", parse_mapping("pk=key, b=value.b, at=value.at"), codec=fr
    )
    pk = ColumnSpec("pk", "string", primary_key=True)
    schemas = {
        ("ks", "amounts"): TableSchema("ks", "amounts", [pk, ColumnSpec("a", "double")]),
        ("ks", "events"): TableSchema(
            "ks", "events", [pk, ColumnSpec("b", "double"), ColumnSpec("at", "timestamp")]
        ),
    }
    records = spark.createDataFrame(
        [("fr", 0, i, TS, str(i), v) for i, v in enumerate(FR_VALUES)], RECORD_DDL
    )
    vs = StructType([StructField(n, StringType()) for n in ("a", "b", "at")])
    plan = SinkPlan(
        spark, records.schema, SinkConfig(tables=[amounts, events], ignore_errors="All"),
        schemas, value_schemas={"fr": vs},
    )
    return records, plan


def test_two_tables_with_failing_conversions_on_one_topic(spark):
    """Under All, each table on the topic counts, dead-letters and drops
    its own failed conversions (record 3 fails both), and writes the rest;
    a dead letter carries the decoded columns, without the staged JSON
    parse or the cache's converted values and flags."""
    records, plan = _fr_fanout(spark)
    routed, dead = {}, {}

    def writer(frame, table, schema):
        mapped = [c.name for c in schema.columns] + ["_route"]
        routed[table.table] = sorted(tuple(r) for r in frame.select(*mapped).collect())

    def error_sink(bad, table):
        dead[table.table] = (bad.columns, sorted(r["offset"] for r in bad.collect()))

    metrics = SinkMetrics()
    plan.run(records, writer=writer, metrics=metrics, error_sink=error_sink)
    assert metrics.record_count == {"fr|ks.amounts": 4, "fr|ks.events": 4}
    assert metrics.failed_record_count == {"fr|ks.amounts": 2, "fr|ks.events": 2}
    columns = ["topic", "partition", "offset", "timestamp", "key", "value",
               "_value_parsed", "_value_literal"]
    assert dead == {"amounts": (columns, [1, 3]), "events": (columns, [2, 3])}
    at = datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert routed == {
        "amounts": [("0", 1234.5, "INSERT"), ("2", 3.0, "INSERT"), ("4", None, "DELETE"),
                    ("5", -0.25, "INSERT")],
        "events": [("0", 2.5, at, "INSERT"), ("1", 1.0, at, "INSERT"),
                   ("4", None, None, "DELETE"),
                   ("5", 1000.0, datetime.datetime(2024, 2, 29, 11, 0), "INSERT")],
    }


def test_each_conversion_runs_once_in_the_cache(spark):
    """Every job of a batch (the topic aggregate, each table's dead-letter
    count and write) shows each converting entry's conversion once, in the
    projection its topic persists: never in the filters or the mapping
    above the cache, where it would run again for every row it reads."""
    records, plan = _fr_fanout(spark)
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    marker = "test-each-conversion-runs-once"
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    sc.setJobDescription(marker)
    try:
        plan.run(records, writer=_noop_writer([]), error_sink=_counting_error_sink([]))
    finally:
        sc.setJobDescription(None)
        spark.conf.unset("spark.sql.ui.explainMode")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = store.executionsCount()
    executions = store.executionsList(max(0, n - 20), 20)
    plans = [
        executions.apply(i).physicalPlanDescription()
        for i in range(executions.size())
        if executions.apply(i).description() == marker
    ]
    assert len(plans) == 5  # aggregate, two dead-letter counts, two writes
    for text in plans:
        final = text.split("== Initial Plan ==")[0]  # AQE prints both
        assert final.count("translate(") == 2, final
        assert "translate(" not in final.split("InMemoryRelation")[0], final


def test_batch_of_another_schema_recompiles_the_plan(spark):
    """A plan compiled for JSON-string values meets a batch whose value is
    already a struct, with its columns in another order: it recompiles for
    that schema. Read through the stale plan, every struct would parse as
    malformed JSON and the batch would raise as mapping errors."""
    table = TableConfig("clicks", "ks", "clicks_k", parse_mapping("pk=key, kcol=value.k"))
    schema = TableSchema("ks", "clicks_k", PK_KCOL)
    cfg = SinkConfig(tables=[table])
    strings = spark.createDataFrame(_json_rows([]), RECORD_DDL)
    plan = SinkPlan(spark, strings.schema, cfg, {("ks", "clicks_k"): schema},
                    value_schemas=VALUE_SCHEMAS)
    structs = spark.createDataFrame(
        [(f'{{"k": {i * 10}}}', str(i), "clicks", 0, i, TS) for i in range(3)],
        "value string, key string, topic string, partition int, offset long, "
        "timestamp timestamp",
    ).withColumn("value", F.from_json("value", "k int"))
    out = plan.run(structs)
    assert plan.record_schema.simpleString() == structs.schema.simpleString()
    rows = out["ks.clicks_k"].select("pk", "kcol").collect()
    assert sorted(tuple(r) for r in rows) == [(0, 0), (1, 10), (2, 20)]

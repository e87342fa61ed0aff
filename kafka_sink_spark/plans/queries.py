"""The engine's query catalog: every operator from SURVEY.md §2 (connector
parity) plus the north-star extension operators, each as

- a Spark implementation  ``QUERIES[name](spark, sf_dir) -> DataFrame``
- a DuckDB oracle         ``ORACLES[name]`` (ANSI SQL over the same parquet)

The driver runs both at sf=0.01 and compares row count + schema + value hash,
so every aliased output column must match EXACTLY between the two.

Cross-engine determinism rules used throughout (see tests/test_entry_oracle.py):
- integer arithmetic wherever possible; float results rounded (6 dp) AFTER
  identical left-to-right computation order;
- hashing via md5 (bit-identical in both engines); 60-bit int digests via
  conv(substr(md5,1,15),16,10)  ⇔  ('0x'||substr(md5,1,15))::BIGINT;
- DuckDB CAST(double→int) ROUNDS while Spark truncates — oracles use
  trunc()/floor() explicitly, Spark sticks to integer ops;
- no timezone-dependent functions (session TZ pinned to UTC in Spark; oracle
  avoids to_timestamp/epoch-with-tz entirely).

The `events` table plays the Kafka topic (FIXTURES.md §4): key/value/headers
are derived deterministically from its columns; the derivation is replicated
verbatim in the oracle's CTEs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from kafka_sink_spark.config import CodecConfig, ColumnSpec, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.operators.writes import (
    ROUTE_COL,
    TTL_COL,
    WRITETIME_COL,
    apply_null_to_unset,
    cql_statement,
    partition_key_batches,
    replay_final_state,
)
from kafka_sink_spark.session import load_tables
from kafka_sink_spark.streaming.pipeline import process_micro_batch

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Record adapters: events → Kafka-record shape
# --------------------------------------------------------------------------


def _records(events: DataFrame, key, value, topic="events") -> DataFrame:
    """Standard Kafka record columns from the events table."""
    return events.select(
        (topic if not isinstance(topic, str) else F.lit(topic)).alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        key.alias("key"),
        value.alias("value"),
    )


def _k():
    """props payload field k as int (lazy: Columns need an active session)."""
    return F.get_json_object(F.col("props"), "$.k").cast("int")

V_SCHEMA_K = StructType([StructField("k", IntegerType())])


def _sink(records, table, schema, value_schema=None, key_schema=None) -> DataFrame:
    """The routed frame the sink's writer would get for ``table``:
    ``records`` through the stream's per-batch body (``process_micro_batch``
    with no writer) under ignoreErrors=All, so a record that fails mapping
    is dead-lettered, not written."""
    out = process_micro_batch(
        records,
        SinkConfig([table], ignore_errors="All"),
        {(table.keyspace, table.table): schema},
        {table.topic: value_schema},
        {table.topic: key_schema},
    )
    return out[f"{table.keyspace}.{table.table}"]


# --------------------------------------------------------------------------
# §2 parity: P1/P2/C1 — JSON value decode + projection + cast + T1 writetime
# --------------------------------------------------------------------------


@register(
    "sink_json_map",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS pk,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS kcol,
           epoch_us(ts) AS writetime,
           'INSERT' AS route
    FROM events
    """,
)
def sink_json_map(spark, sf_dir):
    """JSON value decode → field projection → cast → record-timestamp
    writetime (reference: JsonEndToEndCCMIT.java:124-141 + T1)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    records = _records(events, key=F.col("user_id").cast("string"), value=F.col("props"))
    schema = TableSchema(
        "ks", "user_events",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig("events", "ks", "user_events", parse_mapping("pk=key, kcol=value.k"))
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return routed.select(
        "pk", "kcol",
        F.col(WRITETIME_COL).alias("writetime"),
        F.col(ROUTE_COL).alias("route"),
    )


@register(
    "sink_literal_fallback",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CASE WHEN event_id % 3 = 0 THEN NULL
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS kcol,
           CASE WHEN event_id % 3 = 0 THEN '{broken ' || props
                ELSE '{"k":' || CAST(json_extract_string(props, '$.k') AS INTEGER) || '}'
           END AS raw
    FROM events
    """,
)
def sink_literal_fallback(spark, sf_dir):
    """JSON-or-literal decode: every 3rd record made non-JSON → whole string
    becomes the literal field (reference: MetadataCreatorTest.java:104-116)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.when(
        F.col("event_id") % 3 == 0, F.concat(F.lit("{broken "), F.col("props"))
    ).otherwise(F.col("props"))
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "raw_events",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("kcol", "int"),
            ColumnSpec("raw", "string"),
        ],
    )
    table = TableConfig(
        "events", "ks", "raw_events", parse_mapping("pk=key, kcol=value.k, raw=value")
    )
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return routed.select("pk", "kcol", "raw")


@register(
    "sink_delete_routing",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS kcol,
           CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'INSERT' END AS route,
           CASE WHEN event_type = 'error'
                THEN 'DELETE FROM ks.user_events WHERE pk=:pk'
                ELSE 'INSERT INTO ks.user_events(pk,kcol) VALUES (:pk,:kcol) USING TIMESTAMP :message_internal_timestamp'
           END AS cql
    FROM events
    """,
)
def sink_delete_routing(spark, sf_dir):
    """W4 delete-on-null + W1 CQL templates (reference: DeleteCCMIT.java:40-60,
    SimpleEndToEndSimulacronIT.java:91-101): 'error' events carry a null
    payload → DELETE; everything else upserts."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.when(F.col("event_type") == "error", F.lit('{"k": null}')).otherwise(
        F.col("props")
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "user_events",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig("events", "ks", "user_events", parse_mapping("pk=key, kcol=value.k"))
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return routed.select(
        "pk", "kcol",
        F.col(ROUTE_COL).alias("route"),
        cql_statement(table, schema).alias("cql"),
    )


@register(
    "sink_ttl_writetime",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           GREATEST(0, CAST(json_extract_string(props, '$.k') AS BIGINT) - 50) AS ttl_s,
           epoch_us(ts) AS writetime
    FROM events
    """,
)
def sink_ttl_writetime(spark, sf_dir):
    """T3 TTL matrix (reference: WriteTimestampAndTtlCCMIT.java:74-160):
    __ttl in MILLISECONDS → seconds, negative → 0; writetime defaults to the
    record timestamp in µs (T1)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.concat(
        F.lit('{"v": 1, "ttl": '), ((_k() - 50) * 1000).cast("string"), F.lit("}")
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "ttl_table",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    table = TableConfig(
        "events", "ks", "ttl_table",
        parse_mapping("pk=key, v=value.v, __ttl=value.ttl"),
        ttl_time_unit="MILLISECONDS",
    )
    vschema = StructType(
        [StructField("v", IntegerType()), StructField("ttl", LongType())]
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select(
        "pk", F.col(TTL_COL).alias("ttl_s"), F.col(WRITETIME_COL).alias("writetime")
    )


@register(
    "sink_timestamp_mapping",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) * 1000 + 7) * 1000000 AS writetime
    FROM events
    """,
)
def sink_timestamp_mapping(spark, sf_dir):
    """T2 (reference: WriteTimestampAndTtlCCMIT.java:297-416): __timestamp
    mapped from the payload, unit SECONDS → µs."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.concat(
        F.lit('{"v": 1, "tsv": '), (_k().cast("long") * 1000 + 7).cast("string"), F.lit("}")
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "ts_table",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    table = TableConfig(
        "events", "ks", "ts_table",
        parse_mapping("pk=key, v=value.v, __timestamp=value.tsv"),
        timestamp_time_unit="SECONDS",
    )
    vschema = StructType([StructField("v", IntegerType()), StructField("tsv", LongType())])
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select("pk", F.col(WRITETIME_COL).alias("writetime"))


@register(
    "sink_upsert_replay",
    oracle="""
    WITH m AS (
      SELECT user_id AS user_pk,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS kcol,
             epoch_us(ts) AS wt, event_id
      FROM events
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_pk ORDER BY wt DESC, event_id DESC) AS rn
      FROM m
    )
    SELECT CAST(user_pk AS BIGINT) AS user_pk, kcol
    FROM r WHERE rn = 1 AND kcol IS NOT NULL
    """,
)
def sink_upsert_replay(spark, sf_dir):
    """Final-state replay: per PK the highest-writetime write wins; a winning
    DELETE removes the row (at-least-once upsert semantics, SURVEY §2.8)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.when(F.col("event_type") == "error", F.lit('{"k": null}')).otherwise(
        F.col("props")
    )
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "user_latest",
        [ColumnSpec("user_pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig(
        "events", "ks", "user_latest", parse_mapping("user_pk=key, kcol=value.k")
    )
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return replay_final_state(routed, schema)


@register(
    "sink_counter_accrual",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_pk,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total,
           COUNT(*) AS hits
    FROM events GROUP BY user_id
    """,
)
def sink_counter_accrual(spark, sf_dir):
    """W3 counter accrual (reference: JsonEndToEndCCMIT.java:276-300): counter
    columns sum their mapped increments across all writes."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.concat(
        F.lit('{"k": '), _k().cast("string"), F.lit(', "one": 1}')
    )
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "user_counters",
        [
            ColumnSpec("user_pk", "bigint", primary_key=True),
            ColumnSpec("total", "bigint", counter=True),
            ColumnSpec("hits", "bigint", counter=True),
        ],
    )
    table = TableConfig(
        "events", "ks", "user_counters",
        parse_mapping("user_pk=key, total=value.k, hits=value.one"),
    )
    vschema = StructType([StructField("k", LongType()), StructField("one", LongType())])
    routed = _sink(records, table, schema, value_schema=vschema)
    return replay_final_state(routed, schema)


@register(
    "sink_null_to_unset",
    oracle="""
    WITH m AS (
      SELECT user_id,
             CASE WHEN event_id % 2 = 0
                  THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS a,
             CASE WHEN event_id % 2 = 1
                  THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS b,
             epoch_us(ts) AS wt, event_id
      FROM events
    )
    SELECT DISTINCT CAST(user_id AS BIGINT) AS user_pk,
           last_value(a IGNORE NULLS) OVER w AS a,
           last_value(b IGNORE NULLS) OVER w AS b
    FROM m
    WINDOW w AS (PARTITION BY user_id ORDER BY wt, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def sink_null_to_unset(spark, sf_dir):
    """W6 (reference: RawDataEndToEndCCMIT.java:181-196): a null bound value
    is UNSET — the prior cell survives. Final state = per-column last
    non-null write."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    a = F.when(F.col("event_id") % 2 == 0, _k().cast("string")).otherwise(F.lit("null"))
    b = F.when(F.col("event_id") % 2 == 1, _k().cast("string")).otherwise(F.lit("null"))
    value = F.concat(F.lit('{"a": '), a, F.lit(', "b": '), b, F.lit("}"))
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "user_ab",
        [
            ColumnSpec("user_pk", "bigint", primary_key=True),
            ColumnSpec("a", "int"),
            ColumnSpec("b", "int"),
        ],
    )
    table = TableConfig(
        "events", "ks", "user_ab", parse_mapping("user_pk=key, a=value.a, b=value.b")
    )
    vschema = StructType([StructField("a", IntegerType()), StructField("b", IntegerType())])
    routed = _sink(records, table, schema, value_schema=vschema)
    return apply_null_to_unset(routed, table, schema)


@register(
    "sink_batching",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS routing_key,
           COUNT(*) AS n_statements,
           CAST(CEIL(COUNT(*) / 32.0) AS BIGINT) AS n_frames
    FROM events GROUP BY user_id
    """,
)
def sink_batching(spark, sf_dir):
    """W8 partition-key batching (reference:
    SimpleEndToEndSimulacronIT.java:776-875): same-routing-key statements
    group into ≤32-statement unlogged batches."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    records = _records(events, key=F.col("user_id").cast("string"), value=F.col("props"))
    schema = TableSchema(
        "ks", "user_events",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig("events", "ks", "user_events", parse_mapping("pk=key, kcol=value.k"))
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return partition_key_batches(routed, schema, max_batch=32)


@register(
    "sink_topic_routing",
    oracle="""
    SELECT event_type AS topic,
           CASE WHEN event_type IN ('click','view','purchase','signup')
                THEN 'routed' ELSE 'unknown-topic' END AS status,
           COUNT(*) AS n_records
    FROM events GROUP BY event_type
    """,
)
def sink_topic_routing(spark, sf_dir):
    """S3 multi-topic fan-in + unknown-topic rejection (reference:
    StructEndToEndCCMIT.java:526-567; SimpleEndToEndSimulacronIT.java:740-755):
    records for unconfigured topics become handled errors, not writes."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    records = _records(
        events, key=F.col("event_id").cast("string"), value=F.col("props"),
        topic=F.col("event_type"),
    )
    configured = ["click", "view", "purchase", "signup"]
    return (
        records.withColumn(
            "status",
            F.when(F.col("topic").isin(configured), F.lit("routed")).otherwise(
                F.lit("unknown-topic")
            ),
        )
        .groupBy("topic", "status")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


@register(
    "sink_multi_table_fanout",
    oracle="""
    SELECT 'ks.t_by_event' AS table_name, COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_keys
    FROM events
    UNION ALL
    SELECT 'ks.t_by_user' AS table_name, COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_keys
    FROM events
    """,
)
def sink_multi_table_fanout(spark, sf_dir):
    """S4 single-topic multi-table fan-out (reference:
    StructEndToEndCCMIT.java:570-608): ONE record stream feeds two tables
    with independent mappings, in one micro-batch — the topic is decoded
    once and each table maps its own fields of it."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.to_json(F.struct(_k().alias("k"), F.col("user_id").alias("uid")))
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    s1 = TableSchema(
        "ks", "t_by_event",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    t1 = TableConfig("events", "ks", "t_by_event", parse_mapping("pk=key, kcol=value.k"))
    s2 = TableSchema(
        "ks", "t_by_user",
        [ColumnSpec("upk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    t2 = TableConfig("events", "ks", "t_by_user", parse_mapping("upk=value.uid, kcol=value.k"))
    vschema = StructType([StructField("k", IntegerType()), StructField("uid", LongType())])
    out = process_micro_batch(
        records,
        SinkConfig([t1, t2], ignore_errors="All"),
        {("ks", "t_by_event"): s1, ("ks", "t_by_user"): s2},
        {"events": vschema},
    )
    out1, out2 = out["ks.t_by_event"], out["ks.t_by_user"]

    r1 = out1.agg(
        F.lit("ks.t_by_event").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("pk").alias("n_keys"),
    )
    r2 = out2.agg(
        F.lit("ks.t_by_user").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("upk").alias("n_keys"),
    )
    return r1.unionByName(r2)


@register(
    "sink_headers",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk, event_type AS etype, value AS val
    FROM events
    """,
)
def sink_headers(spark, sf_dir):
    """P5 header projection (reference: HeadersCCMIT.java:119-242): headers
    addressed by name via the headers map, cast per target column."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    records = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        F.col("props").alias("value"),
        F.create_map(
            F.lit("h_type"), F.col("event_type"),
            F.lit("h_val"), events["value"].cast("string"),
        ).alias("headers"),
    )
    schema = TableSchema(
        "ks", "header_table",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("etype", "string"),
            ColumnSpec("val", "double"),
        ],
    )
    table = TableConfig(
        "events", "ks", "header_table",
        parse_mapping("pk=key, etype=header.h_type, val=header.h_val"),
    )
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return routed.select("pk", "etype", "val")


@register(
    "sink_json_key",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_pk,
           CAST(event_id AS BIGINT) AS seq,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS kcol
    FROM events
    """,
)
def sink_json_key(spark, sf_dir):
    """JSON key + JSON value in one record, decoded independently
    (reference: JsonEndToEndCCMIT.java:180-254)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    key = F.concat(
        F.lit('{"uid": '), F.col("user_id").cast("string"),
        F.lit(', "seq": '), F.col("event_id").cast("string"), F.lit("}"),
    )
    records = _records(events, key=key, value=F.col("props"))
    kschema = StructType([StructField("uid", LongType()), StructField("seq", LongType())])
    schema = TableSchema(
        "ks", "keyed",
        [
            ColumnSpec("user_pk", "bigint", primary_key=True),
            ColumnSpec("seq", "bigint", primary_key=True),
            ColumnSpec("kcol", "int"),
        ],
    )
    table = TableConfig(
        "events", "ks", "keyed",
        parse_mapping("user_pk=key.uid, seq=key.seq, kcol=value.k"),
    )
    routed = _sink(
        records, table, schema, value_schema=V_SCHEMA_K, key_schema=kschema
    )
    return routed.select("user_pk", "seq", "kcol")


@register(
    "sink_raw_values",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk, event_type AS etype
    FROM events
    """,
)
def sink_raw_values(spark, sf_dir):
    """Raw mode: bare key/value are THE fields, cast to the target types
    (reference: RawDataEndToEndCCMIT.java:48-59, 117-129)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    records = _records(
        events, key=F.col("event_id").cast("string"), value=F.col("event_type")
    )
    schema = TableSchema(
        "ks", "raw_table",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("etype", "string")],
    )
    table = TableConfig("events", "ks", "raw_table", parse_mapping("pk=key, etype=value"))
    routed = _sink(records, table, schema)
    return routed.select("pk", "etype")


@register("sink_now_timeuuid")  # no oracle: v1 UUIDs are nondeterministic
def sink_now_timeuuid(spark, sf_dir):
    """F1 now() (reference: NowFunctionCCMIT.java:43-80): fresh v1 timeuuid
    per column per row. Driver records a rows-only check."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    records = _records(events, key=F.col("event_id").cast("string"), value=F.col("props"))
    schema = TableSchema(
        "ks", "pk_value_with_timeuuid",
        [
            ColumnSpec("my_pk", "bigint", primary_key=True),
            ColumnSpec("loaded_at", "string"),
            ColumnSpec("loaded_at2", "string"),
        ],
    )
    table = TableConfig(
        "events", "ks", "pk_value_with_timeuuid",
        parse_mapping("my_pk=key, loaded_at=now(), loaded_at2=now()"),
    )
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return routed.select("my_pk", "loaded_at", "loaded_at2")


@register(
    "sink_now_timeuuid_invariants",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) AS n_valid_v1,
           COUNT(*) AS n_fresh_per_column,
           2 * COUNT(*) AS n_unique_total
    FROM events
    """,
)
def sink_now_timeuuid_invariants(spark, sf_dir):
    """F1 now() invariants, hash-verifiable: the VALUES of v1 timeuuids are
    nondeterministic (sink_now_timeuuid stays rows-only by physics), but the
    reference-pinned PROPERTIES are exact predictions (NowFunctionCCMIT.java:
    61-80): every generated value parses as RFC-4122 v1, the two now()
    columns of one row always differ (fresh per column per row), and all
    2·n generated values are globally unique. The oracle predicts each
    counter as the row count."""
    from kafka_sink_spark.functions.timeuuid import is_timeuuid

    # One aggregate over the 2·n exploded values, so the Arrow timeuuid
    # generation (the query's whole cost) runs once with nothing cached.
    # The per-row flags ride through the explode; counting them on pos == 0
    # only counts each row once.  Global uniqueness is a distinct count over
    # BOTH columns (a per-column distinct would miss a cross-column,
    # cross-row collision).
    out = QUERIES["sink_now_timeuuid"](spark, sf_dir)
    both_v1 = is_timeuuid(F.col("loaded_at")) & is_timeuuid(F.col("loaded_at2"))
    vals = out.select(
        both_v1.alias("_v1"),
        (F.col("loaded_at") != F.col("loaded_at2")).alias("_fresh"),
        F.posexplode(F.array("loaded_at", "loaded_at2")).alias("_pos", "u"),
    )
    first = F.col("_pos") == 0
    return vals.agg(
        F.count(F.when(first, 1)).alias("n_rows"),
        F.count(F.when(first & F.col("_v1"), 1)).alias("n_valid_v1"),
        F.count(F.when(first & F.col("_fresh"), 1)).alias("n_fresh_per_column"),
        F.count_distinct("u").cast("bigint").alias("n_unique_total"),
    )


@register(
    "sink_codec_temporals",
    oracle="""
    WITH k AS (
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv, ts
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS pk,
           date_trunc('second', ts) AS ts_from_secs,
           lpad(CAST(kv % 24 AS VARCHAR), 2, '0') || ':' ||
           lpad(CAST((kv * 7) % 60 AS VARCHAR), 2, '0') || ':' ||
           lpad(CAST((kv * 13) % 60 AS VARCHAR), 2, '0') || '.' ||
           lpad(CAST((kv * 37) % 1000 AS VARCHAR), 3, '0') AS time_str
    FROM k
    """,
)
def sink_codec_temporals(spark, sf_dir):
    """C5/C6 temporal codecs: numeric-since-epoch → timestamp and packed
    HHmmssSSS numeric → CQL time (reference: JsonEndToEndCCMIT.java:303-336)."""
    from kafka_sink_spark.functions import codecs

    events = load_tables(spark, sf_dir, ("events",))["events"]
    kv = _k().cast("long")
    packed = (
        (kv % 24) * 10000000 + ((kv * 7) % 60) * 100000 + ((kv * 13) % 60) * 1000
        + (kv * 37) % 1000
    )
    epoch_s = F.col("ts").cast("long")
    return events.select(
        F.col("event_id").cast("bigint").alias("pk"),
        codecs.epoch_to_timestamp(epoch_s, "SECONDS").alias("ts_from_secs"),
        codecs.time_nanos_to_string(
            codecs.hhmmss_numeric_to_time_nanos(packed)
        ).alias("time_str"),
    )


@register(
    "sink_codec_locale",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           round(value, 2) AS parsed
    FROM events
    """,
)
def sink_codec_locale(spark, sf_dir):
    """C3 locale-aware number parsing (reference:
    JsonEndToEndCCMIT.java:303-336, codec.locale=fr_FR): comma-decimal JSON
    strings map onto a ``double`` column through the sink path, which
    converts them under the topic's codec settings."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    fr_string = F.regexp_replace(F.round(F.col("value"), 2).cast("string"), r"\.", ",")
    records = _records(
        events, key=F.col("event_id").cast("string"),
        value=F.to_json(F.struct(fr_string.alias("v"))),
    )
    schema = TableSchema(
        "ks", "fr_values",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("parsed", "double")],
    )
    table = TableConfig(
        "events", "ks", "fr_values", parse_mapping("pk=key, parsed=value.v"),
        codec=CodecConfig(locale="fr_FR"),
    )
    vschema = StructType([StructField("v", StringType())])
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select("pk", "parsed")

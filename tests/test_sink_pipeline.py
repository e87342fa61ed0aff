"""End-to-end sink pipeline tests: decode → map → ttl/writetime → route →
final-state replay. Each scenario pins a reference integration test.
"""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_spark.config import (
    ColumnSpec,
    ConfigError,
    SinkConfig,
    TableConfig,
    TableSchema,
    parse_sink_config,
)
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.operators.records import decode_records
from kafka_sink_spark.operators.writes import (
    ROUTE_COL,
    ROUTE_DELETE,
    ROUTE_INSERT,
    TTL_COL,
    WRITETIME_COL,
    cql_statement,
    partition_key_batches,
    replay_final_state,
)
from kafka_sink_spark.streaming.pipeline import process_micro_batch

TS = datetime.datetime(2024, 1, 1, 0, 0, 0, tzinfo=datetime.timezone.utc)

RECORD_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", __import__("pyspark.sql.types", fromlist=["TimestampType"]).TimestampType()),
        StructField("key", StringType()),
        StructField("value", StringType()),
    ]
)


def records_df(spark, rows):
    return spark.createDataFrame(rows, RECORD_SCHEMA)


def routed_frame(records, table, schema, value_schema=None):
    """The frame the sink's writer gets for ``table``: one micro-batch
    through ``process_micro_batch`` with no writer."""
    out = process_micro_batch(
        records, SinkConfig([table]), {(table.keyspace, table.table): schema},
        value_schemas={table.topic: value_schema},
    )
    return out[f"{table.keyspace}.{table.table}"]


SMALL_SIMPLE = TableSchema(
    keyspace="ks",
    name="small_simple",
    columns=[
        ColumnSpec("bigintcol", "bigint", primary_key=True),
        ColumnSpec("booleancol", "boolean"),
        ColumnSpec("intcol", "int"),
    ],
)

VALUE_SCHEMA = StructType(
    [
        StructField("bigint", LongType()),
        StructField("boolean", StringType()),
        StructField("int", IntegerType()),
    ]
)


def test_json_value_mapping(spark):
    """Phase-1 slice: JSON value decode + projection + cast
    (reference: Main.java:28-48, JsonEndToEndCCMIT.java:124-141)."""
    table = TableConfig(
        topic="mytopic",
        keyspace="ks",
        table="small_simple",
        mapping=parse_mapping(
            "bigintcol=value.bigint, booleancol=value.boolean, intcol=value.int"
        ),
    )
    df = records_df(
        spark,
        [
            ("mytopic", 0, 1234, TS, "k1", '{"bigint": 1234567, "boolean": "true", "int": 42}'),
        ],
    )
    out = routed_frame(df, table, SMALL_SIMPLE, value_schema=VALUE_SCHEMA)
    row = out.collect()[0]
    assert row["bigintcol"] == 1234567
    assert row["booleancol"] is True
    assert row["intcol"] == 42
    assert row[ROUTE_COL] == ROUTE_INSERT
    # T1: record timestamp ms → writetime µs (WriteTimestampAndTtlCCMIT.java:46-70)
    assert row[WRITETIME_COL] == int(TS.timestamp() * 1_000_000)


def test_literal_fallback(spark):
    """Malformed JSON → whole string literal (MetadataCreatorTest.java:104-116)."""
    table = TableConfig(
        topic="t",
        keyspace="ks",
        table="tx",
        mapping=parse_mapping("pk=key, textcol=value"),
    )
    schema = TableSchema(
        keyspace="ks",
        name="tx",
        columns=[
            ColumnSpec("pk", "string", primary_key=True),
            ColumnSpec("textcol", "string"),
        ],
    )
    df = records_df(spark, [("t", 0, 1, TS, "k1", "{name: Mike}")])
    decoded = decode_records(df, value_schema=VALUE_SCHEMA)
    # whole-value in literal mode → the raw string
    from kafka_sink_spark.operators.records import VALUE_LITERAL, VALUE_PARSED

    row = decoded.select(VALUE_PARSED, VALUE_LITERAL).collect()[0]
    assert row[VALUE_PARSED] is None
    assert row[VALUE_LITERAL] == "{name: Mike}"


def test_raw_value_mapping(spark):
    """Raw mode: bare value column is the field (RawDataEndToEndCCMIT.java:48-59)."""
    table = TableConfig(
        topic="t",
        keyspace="ks",
        table="pk_value",
        mapping=parse_mapping("my_pk=key, my_value=value"),
    )
    schema = TableSchema(
        keyspace="ks",
        name="pk_value",
        columns=[
            ColumnSpec("my_pk", "bigint", primary_key=True),
            ColumnSpec("my_value", "boolean"),
        ],
    )
    df = records_df(spark, [("t", 0, 1, TS, "5725368", "true")])
    out = routed_frame(df, table, schema)
    row = out.collect()[0]
    assert row["my_pk"] == 5725368
    assert row["my_value"] is True


def test_delete_on_null(spark):
    """W4 (DeleteCCMIT.java:40-60): mapping covers all columns + null non-PK
    values → DELETE; with deletesEnabled=false → INSERT of nulls."""
    mapping = "my_pk=key, my_value=value.v"
    schema = TableSchema(
        keyspace="ks",
        name="pk_value",
        columns=[
            ColumnSpec("my_pk", "bigint", primary_key=True),
            ColumnSpec("my_value", "boolean"),
        ],
    )
    vschema = StructType([StructField("v", StringType())])
    df = records_df(
        spark,
        [
            ("t", 0, 1, TS, "1", '{"v": null}'),
            ("t", 0, 2, TS, "2", '{"v": "true"}'),
        ],
    )
    table = TableConfig(topic="t", keyspace="ks", table="pk_value", mapping=parse_mapping(mapping))
    out = routed_frame(df, table, schema, value_schema=vschema)
    routes = {r["my_pk"]: r[ROUTE_COL] for r in out.collect()}
    assert routes == {1: ROUTE_DELETE, 2: ROUTE_INSERT}

    table_nodel = TableConfig(
        topic="t", keyspace="ks", table="pk_value",
        mapping=parse_mapping(mapping), deletes_enabled=False,
    )
    out2 = routed_frame(df, table_nodel, schema, value_schema=vschema)
    routes2 = {r["my_pk"]: r[ROUTE_COL] for r in out2.collect()}
    assert routes2 == {1: ROUTE_INSERT, 2: ROUTE_INSERT}


def test_partial_mapping_never_deletes(spark):
    """Delete only fires when mapping covers ALL table columns."""
    schema = TableSchema(
        keyspace="ks",
        name="t3",
        columns=[
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("a", "int"),
            ColumnSpec("b", "int"),
        ],
    )
    vschema = StructType([StructField("a", IntegerType())])
    table = TableConfig(
        topic="t", keyspace="ks", table="t3", mapping=parse_mapping("pk=key, a=value.a")
    )
    df = records_df(spark, [("t", 0, 1, TS, "1", '{"a": null}')])
    out = routed_frame(df, table, schema, value_schema=vschema)
    assert out.collect()[0][ROUTE_COL] == ROUTE_INSERT


def test_ttl_units_and_negative(spark):
    """T3 matrix (WriteTimestampAndTtlCCMIT.java:74-160): 1_000_000 ms → 1000 s;
    -1000 → 0."""
    schema = TableSchema(
        keyspace="ks",
        name="t4",
        columns=[ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    vschema = StructType(
        [StructField("v", IntegerType()), StructField("ttlcol", LongType())]
    )
    table = TableConfig(
        topic="t",
        keyspace="ks",
        table="t4",
        mapping=parse_mapping("pk=key, v=value.v, __ttl=value.ttlcol"),
        ttl_time_unit="MILLISECONDS",
    )
    df = records_df(
        spark,
        [
            ("t", 0, 1, TS, "1", '{"v": 1, "ttlcol": 1000000}'),
            ("t", 0, 2, TS, "2", '{"v": 2, "ttlcol": -1000}'),
        ],
    )
    out = routed_frame(df, table, schema, value_schema=vschema)
    ttls = {r["pk"]: r[TTL_COL] for r in out.collect()}
    assert ttls == {1: 1000, 2: 0}


def test_timestamp_unit_negative_passthrough(spark):
    """T2 (WriteTimestampAndTtlCCMIT.java:353-416): __timestamp -1000 with
    MILLISECONDS → -1000000 µs (negative passes through)."""
    schema = TableSchema(
        keyspace="ks",
        name="t5",
        columns=[ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    vschema = StructType(
        [StructField("v", IntegerType()), StructField("tscol", LongType())]
    )
    table = TableConfig(
        topic="t",
        keyspace="ks",
        table="t5",
        mapping=parse_mapping("pk=key, v=value.v, __timestamp=value.tscol"),
        timestamp_time_unit="MILLISECONDS",
    )
    df = records_df(spark, [("t", 0, 1, TS, "1", '{"v": 1, "tscol": -1000}')])
    out = routed_frame(df, table, schema, value_schema=vschema)
    assert out.collect()[0][WRITETIME_COL] == -1_000_000


def test_static_table_ttl(spark):
    """T4 (WriteTimestampAndTtlCCMIT.java:244-265): table-level ttl."""
    schema = TableSchema(
        keyspace="ks",
        name="t6",
        columns=[ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    vschema = StructType([StructField("v", IntegerType())])
    table = TableConfig(
        topic="t", keyspace="ks", table="t6",
        mapping=parse_mapping("pk=key, v=value.v"), ttl=100,
    )
    df = records_df(spark, [("t", 0, 1, TS, "1", '{"v": 1}')])
    out = routed_frame(df, table, schema, value_schema=vschema)
    assert out.collect()[0][TTL_COL] == 100


def test_counter_replay(spark):
    """W3 accrual (JsonEndToEndCCMIT.java:276-300): two puts of {c3:3,c4:4}
    → c3=6, c4=8."""
    schema = TableSchema(
        keyspace="ks",
        name="mycounter",
        columns=[
            ColumnSpec("c1", "int", primary_key=True),
            ColumnSpec("c2", "int", primary_key=True),
            ColumnSpec("c3", "bigint", counter=True),
            ColumnSpec("c4", "bigint", counter=True),
        ],
    )
    vschema = StructType(
        [
            StructField("f1", IntegerType()),
            StructField("f2", IntegerType()),
            StructField("f3", IntegerType()),
            StructField("f4", IntegerType()),
        ]
    )
    table = TableConfig(
        topic="t",
        keyspace="ks",
        table="mycounter",
        mapping=parse_mapping("c1=value.f1, c2=value.f2, c3=value.f3, c4=value.f4"),
    )
    payload = '{"f1":1,"f2":2,"f3":3,"f4":4}'
    df = records_df(
        spark, [("t", 0, 1, TS, None, payload), ("t", 0, 2, TS, None, payload)]
    )
    routed = routed_frame(df, table, schema, value_schema=vschema)
    assert routed.collect()[0][ROUTE_COL] == "UPDATE_COUNTER"
    final = replay_final_state(routed, schema)
    row = final.collect()[0]
    assert (row["c1"], row["c2"], row["c3"], row["c4"]) == (1, 2, 6, 8)


def test_upsert_last_write_wins(spark):
    """At-least-once replay: highest writetime wins per PK; a winning DELETE
    removes the row."""
    schema = TableSchema(
        keyspace="ks",
        name="pk_value",
        columns=[
            ColumnSpec("my_pk", "bigint", primary_key=True),
            ColumnSpec("my_value", "boolean"),
        ],
    )
    vschema = StructType([StructField("v", StringType())])
    table = TableConfig(
        topic="t", keyspace="ks", table="pk_value",
        mapping=parse_mapping("my_pk=key, my_value=value.v"),
    )
    t0 = TS
    t1 = TS + datetime.timedelta(seconds=10)
    df = records_df(
        spark,
        [
            ("t", 0, 1, t0, "1", '{"v": "false"}'),
            ("t", 0, 2, t1, "1", '{"v": "true"}'),   # later write wins
            ("t", 0, 3, t0, "2", '{"v": "true"}'),
            ("t", 0, 4, t1, "2", '{"v": null}'),     # later delete removes
        ],
    )
    routed = routed_frame(df, table, schema, value_schema=vschema)
    final = replay_final_state(routed, schema)
    rows = {r["my_pk"]: r["my_value"] for r in final.collect()}
    assert rows == {1: True}


def test_cql_statement_shapes(spark):
    """W1/W4 template text (SimpleEndToEndSimulacronIT.java:91-101)."""
    schema = SMALL_SIMPLE
    table = TableConfig(
        topic="t", keyspace="ks", table="small_simple",
        mapping=parse_mapping(
            "bigintcol=key, booleancol=value.boolean, intcol=value.int"
        ),
    )
    vschema = StructType(
        [StructField("boolean", StringType()), StructField("int", IntegerType())]
    )
    df = records_df(
        spark,
        [
            ("t", 0, 1, TS, "1", '{"boolean": "true", "int": 7}'),
            ("t", 0, 2, TS, "2", '{"boolean": null, "int": null}'),
        ],
    )
    routed = routed_frame(df, table, schema, value_schema=vschema)
    stmts = {
        r["bigintcol"]: r["cql"]
        for r in routed.withColumn("cql", cql_statement(table, schema)).collect()
    }
    assert stmts[1] == (
        "INSERT INTO ks.small_simple(bigintcol,booleancol,intcol) VALUES "
        "(:bigintcol,:booleancol,:intcol) USING TIMESTAMP :message_internal_timestamp"
    )
    assert stmts[2] == "DELETE FROM ks.small_simple WHERE bigintcol=:bigintcol"


def test_partition_key_batching(spark):
    """W8 (SimpleEndToEndSimulacronIT.java:776-875): same-key statements batch,
    capped at 32."""
    schema = TableSchema(
        keyspace="ks",
        name="t7",
        columns=[ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    vschema = StructType([StructField("v", IntegerType())])
    table = TableConfig(
        topic="t", keyspace="ks", table="t7", mapping=parse_mapping("pk=key, v=value.v")
    )
    rows = [("t", 0, i, TS, str(i % 3), '{"v": 1}') for i in range(100)]
    df = records_df(spark, rows)
    routed = routed_frame(df, table, schema, value_schema=vschema)
    batches = partition_key_batches(routed, schema, max_batch=32)
    got = {r["routing_key"]: (r["n_statements"], r["n_frames"]) for r in batches.collect()}
    # keys 0,1: 34 and 33 statements → 2 frames; key 2: 33 → 2 frames
    assert got[0] == (34, 2)
    assert got[1] == (33, 2)
    assert got[2] == (33, 2)


def test_now_function_distinct_per_column(spark):
    """F1 (NowFunctionCCMIT.java:61-80): two now() columns differ in one row."""
    schema = TableSchema(
        keyspace="ks",
        name="pk_value_with_timeuuid",
        columns=[
            ColumnSpec("my_pk", "bigint", primary_key=True),
            ColumnSpec("loaded_at", "string"),
            ColumnSpec("loaded_at2", "string"),
        ],
    )
    table = TableConfig(
        topic="t", keyspace="ks", table="pk_value_with_timeuuid",
        mapping=parse_mapping("my_pk=key, loaded_at=now(), loaded_at2=now()"),
    )
    df = records_df(spark, [("t", 0, 1, TS, "1", "x")])
    out = routed_frame(df, table, schema)
    row = out.collect()[0]
    import re

    v1 = r"^[0-9a-f]{8}-[0-9a-f]{4}-1[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
    assert re.match(v1, row["loaded_at"])
    assert re.match(v1, row["loaded_at2"])
    assert row["loaded_at"] != row["loaded_at2"]


def test_now_function_timestamps_in_window(spark):
    """F1 (NowFunctionCCMIT.java:61-80): the embedded v1 timestamps are real
    clock readings — every generated uuid's 60-bit timestamp falls inside the
    generation window, and all 2·n values across rows AND columns are
    globally unique."""
    import uuid as uuid_mod

    schema = TableSchema(
        keyspace="ks",
        name="pk_value_with_timeuuid",
        columns=[
            ColumnSpec("my_pk", "bigint", primary_key=True),
            ColumnSpec("loaded_at", "string"),
            ColumnSpec("loaded_at2", "string"),
        ],
    )
    table = TableConfig(
        topic="t", keyspace="ks", table="pk_value_with_timeuuid",
        mapping=parse_mapping("my_pk=key, loaded_at=now(), loaded_at2=now()"),
    )
    df = records_df(spark, [("t", 0, i, TS, str(i), "x") for i in range(50)])
    t0 = uuid_mod.uuid1().time
    rows = routed_frame(df, table, schema).collect()
    t1 = uuid_mod.uuid1().time
    vals = [r["loaded_at"] for r in rows] + [r["loaded_at2"] for r in rows]
    assert len(set(vals)) == 2 * len(rows)
    for v in vals:
        u = uuid_mod.UUID(v)
        assert u.version == 1
        assert t0 <= u.time <= t1, (v, u.time, t0, t1)


def test_config_parse_roundtrip():
    cfg = parse_sink_config(
        {
            "topics": "mytopic",
            "contactPoints": "127.0.0.1",
            "loadBalancing.localDc": "dc1",
            "topic.mytopic.ks.small_simple.mapping": "bigintcol=key, intcol=value.int",
            "topic.mytopic.ks.small_simple.consistencyLevel": "QUORUM",
            "topic.mytopic.codec.locale": "fr_FR",
            "maxNumberOfRecordsInBatch": "16",
        }
    )
    assert cfg.max_number_of_records_in_batch == 16
    t = cfg.tables[0]
    assert (t.topic, t.keyspace, t.table) == ("mytopic", "ks", "small_simple")
    assert t.consistency_level == "QUORUM"
    assert t.codec.locale == "fr_FR"


def test_config_dotted_topic_name():
    """KAF-104: topic names with dots route correctly."""
    cfg = parse_sink_config(
        {"topic.t1.t2.t3.ks.tbl.mapping": "pk=key"}
    )
    t = cfg.tables[0]
    assert (t.topic, t.keyspace, t.table) == ("t1.t2.t3", "ks", "tbl")


def test_provided_query_requires_deletes_disabled():
    """ProvidedQueryCCMIT.java:132-163."""
    with pytest.raises(ConfigError, match="deletesEnabled"):
        parse_sink_config(
            {
                "topic.t.ks.tbl.mapping": "pk=key",
                "topic.t.ks.tbl.query": "INSERT INTO ks.tbl(pk) VALUES (:pk)",
            }
        )

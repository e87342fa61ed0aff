"""One conversion path: every mapped value converts to its column type through
``functions.codecs.convert`` under its topic's ``codec.*`` settings, and a
value that fails conversion is a mapping error under every ``ignoreErrors``
policy (reference: SURVEY.md §2.4 C1–C5; CassandraSinkTask.java:128-141).
Each case runs one micro-batch through ``process_micro_batch``."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from kafka_sink_spark.config import (
    CodecConfig,
    ColumnSpec,
    ConfigError,
    SinkConfig,
    TableConfig,
    TableSchema,
)
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.streaming.pipeline import (
    SinkMetrics,
    process_micro_batch,
    start_sink_stream,
)

RECORD_DDL = (
    "topic string, partition int, offset long, timestamp timestamp, key string, "
    "value string"
)
KEY = "t1|ks.t"


def _batch(spark, values):
    rows = [("t1", 0, i, None, str(i + 1), v) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, RECORD_DDL)


def _value_schema(**fields):
    return {"t1": StructType([StructField(n, t) for n, t in fields.items()])}


def _run(spark, values, mapping, columns, value_schema, policy="None", codec=None, calls=None):
    """One micro-batch of ``values`` on topic t1 into ks.t; returns the
    writer's rows by id, the dead-lettered offsets and the metrics. Each
    writer call appends its table to ``calls``."""
    calls = [] if calls is None else calls
    table = TableConfig("t1", "ks", "t", parse_mapping(mapping), codec=codec or CodecConfig())
    schema = TableSchema(
        "ks", "t", [ColumnSpec("id", "bigint", primary_key=True)] + columns
    )
    cfg = SinkConfig(tables=[table], ignore_errors=policy)
    written, dead = {}, []
    metrics = SinkMetrics()

    def writer(routed, table, schema):
        calls.append(table.table)
        # Timestamps as strings: a year past 9999 has no Python datetime.
        cols = [F.col(c).cast("string") if c.startswith("ts") else F.col(c)
                for c in ("id", *(c.name for c in columns))]
        written.update({r[0]: tuple(r[1:]) for r in routed.select(*cols).collect()})

    def error_sink(bad, table):
        dead.extend(r["offset"] for r in bad.collect())

    process_micro_batch(
        _batch(spark, values), cfg, {("ks", "t"): schema}, value_schemas=value_schema,
        writer=writer, metrics=metrics, error_sink=error_sink,
    )
    return written, sorted(dead), metrics


N_VALUES = ['{"id": 1, "n": "7"}', '{"id": 2, "n": "abc"}', '{"id": 3, "n": "9"}']
N_SCHEMA = _value_schema(id=LongType(), n=StringType())
N_COLUMN = [ColumnSpec("n", "int")]


def test_failed_conversion_is_dead_lettered_under_all(spark):
    """``"abc"`` onto an int column is a mapping error: records 1 and 3 are
    written, record 2 is dead-lettered and counted as failed."""
    written, dead, metrics = _run(
        spark, N_VALUES, "id=value.id, n=value.n", N_COLUMN, N_SCHEMA, policy="All"
    )
    assert written == {1: (7,), 3: (9,)}
    assert dead == [1]
    assert metrics.record_count == {KEY: 2}
    assert metrics.failed_record_count == {KEY: 1}


@pytest.mark.parametrize("policy", ["None", "Driver"])
def test_failed_conversion_raises_before_any_write(spark, policy):
    """Under None and Driver the batch raises on the driver, from the topic
    aggregate, before the writer is called."""
    calls = []
    with pytest.raises(RuntimeError, match=f"1 record\\(s\\) failed mapping for {KEY}"):
        _run(spark, N_VALUES, "id=value.id, n=value.n", N_COLUMN, N_SCHEMA, policy, calls=calls)
    assert calls == []


@pytest.mark.parametrize("policy", ["All", "None", "Driver"])
def test_non_numeric_ttl_is_a_mapping_error(spark, policy):
    """A ``__ttl`` source that is not a number fails its conversion like a
    mapped column does."""
    values = ['{"id": 1, "t": "60"}', '{"id": 2, "t": "soon"}', '{"id": 3, "t": "90"}']
    args = (spark, values, "id=value.id, __ttl=value.t", [],
            _value_schema(id=LongType(), t=StringType()), policy)
    if policy != "All":
        calls = []
        with pytest.raises(RuntimeError, match=f"1 record\\(s\\) failed mapping for {KEY}"):
            _run(*args, calls=calls)
        assert calls == []
        return
    written, dead, metrics = _run(*args)
    assert sorted(written) == [1, 3]
    assert dead == [1]
    assert metrics.failed_record_count == {KEY: 1}


TS_COLUMN = [ColumnSpec("ts", "timestamp")]


@pytest.mark.parametrize(
    "unit, expect",
    [(None, "2023-11-14 22:13:20"), ("SECONDS", "+55840-11-08 22:13:20")],
)
def test_codec_unit(spark, unit, expect):
    """codec.unit reads a number mapped onto a timestamp: milliseconds by
    default, seconds when set."""
    codec = CodecConfig() if unit is None else CodecConfig(unit=unit)
    written, _, _ = _run(
        spark, ['{"id": 1, "ts": 1700000000000}'], "id=value.id, ts=value.ts", TS_COLUMN,
        _value_schema(id=LongType(), ts=LongType()), codec=codec,
    )
    assert written == {1: (expect,)}


def test_codec_locale(spark):
    """codec.locale=fr_FR reads a comma decimal with space grouping."""
    written, _, _ = _run(
        spark, ['{"id": 1, "x": "1 234,5"}'], "id=value.id, x=value.x",
        [ColumnSpec("x", "double")], _value_schema(id=LongType(), x=StringType()),
        codec=CodecConfig(locale="fr_FR"),
    )
    assert written == {1: (1234.5,)}


def test_codec_timestamp_and_date_patterns(spark):
    """codec.timestamp and codec.date parse their columns by pattern."""
    written, _, _ = _run(
        spark, ['{"id": 1, "ts": "09/03/2018 17:12", "d": "09/03/2018"}'],
        "id=value.id, ts=value.ts, d=value.d",
        TS_COLUMN + [ColumnSpec("d", "date")],
        _value_schema(id=LongType(), ts=StringType(), d=StringType()),
        codec=CodecConfig(timestamp_pattern="dd/MM/yyyy HH:mm", date_pattern="dd/MM/yyyy"),
    )
    assert written == {1: ("2018-03-09 17:12:00", datetime.date(2018, 3, 9))}


def test_codec_time_zone(spark):
    """codec.timeZone places zone-less text: the same string read in UTC
    and in Europe/Paris gives two instants an hour apart; text with its own
    offset keeps it."""
    values = ['{"id": 1, "ts": "2018-03-09 17:12:32"}', '{"id": 2, "ts": "2018-03-09T17:12:32Z"}']
    got = {
        zone: _run(
            spark, values, "id=value.id, ts=value.ts", TS_COLUMN,
            _value_schema(id=LongType(), ts=StringType()), codec=CodecConfig(time_zone=zone),
        )[0]
        for zone in ("UTC", "Europe/Paris")
    }
    assert got["UTC"] == {1: ("2018-03-09 17:12:32",), 2: ("2018-03-09 17:12:32",)}
    assert got["Europe/Paris"] == {1: ("2018-03-09 16:12:32",), 2: ("2018-03-09 17:12:32",)}


A_VALUES = ['{"id": 1, "a": "[1,2,3]"}', '{"id": 2, "a": "nope"}']
A_ARGS = ("id=value.id, arr=value.a", [ColumnSpec("arr", "array<int>")],
          _value_schema(id=LongType(), a=StringType()))


@pytest.mark.parametrize("policy", ["All", "None"])
def test_json_array_string_onto_list(spark, policy):
    """C8 (RawDataEndToEndCCMIT.java:150-162): a JSON array string maps onto
    a list<int> column; text that is not a JSON array is a mapping error,
    dead-lettered under All and raised before any write under None."""
    if policy == "None":
        calls = []
        with pytest.raises(RuntimeError, match=f"1 record\\(s\\) failed mapping for {KEY}"):
            _run(spark, A_VALUES, *A_ARGS, policy=policy, calls=calls)
        assert calls == []
        return
    written, dead, metrics = _run(spark, A_VALUES, *A_ARGS, policy=policy)
    assert written == {1: ([1, 2, 3],)}
    assert dead == [1]
    assert metrics.failed_record_count == {KEY: 1}


def test_json_object_string_onto_udt_by_field_name(spark):
    """C11/C14: a JSON object string maps onto a UDT by field name, each
    member coerced to its type (int payload → text member,
    StructEndToEndCCMIT.java:240-247); text that is not a JSON object of
    that shape is a mapping error."""
    values = ['{"id": 1, "u": "{\\"b\\": 90, \\"a\\": 47}"}', '{"id": 2, "u": "{\\"a\\": \\"x\\"}"}']
    written, dead, _ = _run(
        spark, values, "id=value.id, u=value.u", [ColumnSpec("u", "struct<a:int,b:string>")],
        _value_schema(id=LongType(), u=StringType()), policy="All",
    )
    assert {k: tuple(v[0]) for k, v in written.items()} == {1: (47, "90")}
    assert dead == [1]


def test_struct_onto_udt_by_field_name(spark):
    """C11: a decoded struct maps onto a UDT by field name, each member
    converted to its type (int → text member); a member the struct lacks is
    null, and a null struct stays null. Spark's own struct cast pairs
    fields by position: it reads ``{"b": 90, "a": 47}`` as a=90, b='47'."""
    values = ['{"id": 1, "u": {"b": 90, "a": 47}}', '{"id": 2, "u": {"b": 5}}',
              '{"id": 3, "u": null}']
    u_type = StructType([StructField("b", LongType()), StructField("a", LongType())])
    written, dead, metrics = _run(
        spark, values, "id=value.id, u=value.u",
        [ColumnSpec("u", "struct<a:int,b:string,c:date>")],
        _value_schema(id=LongType(), u=u_type), policy="All",
    )
    assert {k: v[0] and tuple(v[0]) for k, v in written.items()} == {
        1: (47, "90", None), 2: (None, "5", None), 3: None,
    }
    assert dead == []
    assert metrics.failed_record_count == {}


def test_unconvertible_pair_fails_before_stream_starts(spark, tmp_path):
    """A mapped value of a type no conversion reads (a map onto a UDT) is
    refused when the stream's plan is compiled: ``ConfigError`` from
    ``start_sink_stream`` itself, naming the table, the column and both
    types, and no query starts."""
    src = tmp_path / "records"
    src.mkdir()
    table = TableConfig("t1", "ks", "t", parse_mapping("id=value.id, u=value.m"))
    schema = TableSchema(
        "ks", "t",
        [ColumnSpec("id", "bigint", primary_key=True), ColumnSpec("u", "struct<a:int,b:string>")],
    )
    active = {q.id for q in spark.streams.active}
    with pytest.raises(
        ConfigError, match=r"ks\.t: column u \(struct<a:int,b:string>\).*map<string,bigint>"
    ):
        start_sink_stream(
            spark, spark.readStream.schema(RECORD_DDL).parquet(str(src)),
            SinkConfig(tables=[table]), {("ks", "t"): schema}, str(tmp_path / "ckpt"),
            lambda *a: None,
            value_schemas=_value_schema(id=LongType(), m=MapType(StringType(), LongType())),
        )
    assert {q.id for q in spark.streams.active} == active


def test_number_onto_boolean_reads_nonzero_as_true(spark):
    """A number mapped onto a boolean column: nonzero → true
    (StructEndToEndCCMIT.java:234-238)."""
    values = ['{"id": 1, "n": 37}', '{"id": 2, "n": 0}', '{"id": 3, "n": null}']
    written, dead, _ = _run(
        spark, values, "id=value.id, b=value.n", [ColumnSpec("b", "boolean")],
        _value_schema(id=LongType(), n=LongType()),
    )
    assert written == {1: (True,), 2: (False,), 3: (None,)}
    assert dead == []

"""Source-layer tests: Kafka option construction/normalization and the gated
Avro decode path (the spark-avro jar is absent in this environment — the
gating itself is the behavior under test; struct-mode decode downstream of
from_avro is exercised with a pre-parsed struct column)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_sink_spark.config import parse_sink_config
from kafka_sink_spark.operators.records import VALUE_LITERAL, VALUE_PARSED, decode_records
from kafka_sink_spark.sources.avro import (
    AvroNotAvailable,
    avro_available,
    decode_avro_records,
)
from kafka_sink_spark.sources.kafka import kafka_source_options, normalize_kafka_records


def test_kafka_source_options():
    cfg = parse_sink_config(
        {
            "topic.t1.ks.a.mapping": "pk=key",
            "topic.t2.ks.b.mapping": "pk=key",
            "datastax-java-driver.kafka.max.poll.records": "5000",
        }
    )
    opts = kafka_source_options(cfg, "broker:9092")
    assert opts["subscribe"] == "t1,t2"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["includeHeaders"] == "true"
    assert opts["kafka.max.poll.records"] == "5000"  # consumer passthrough


def test_normalize_kafka_records(spark):
    raw = spark.createDataFrame(
        [("t", 0, 1, None, b"k1", b'{"a":1}', [("h1", b"v1")])],
        "topic string, partition int, offset long, timestamp timestamp, "
        "key binary, value binary, headers array<struct<key:string,value:binary>>",
    )
    rec = normalize_kafka_records(raw).collect()[0]
    assert rec["key"] == "k1" and rec["value"] == '{"a":1}'
    assert rec["headers"] == {"h1": "v1"}


def test_avro_jvm_path_gated_with_clear_error(spark):
    if avro_available(spark):
        pytest.skip("spark-avro jar present: the JVM path is live, no gate")
    rec = spark.createDataFrame([(b"x", b"y")], "key binary, value binary")
    with pytest.raises(AvroNotAvailable, match="spark-avro"):
        decode_avro_records(
            rec,
            '{"type":"record","name":"r","fields":[{"name":"a","type":"int"}]}',
            allow_python_fallback=False,
        )


def test_avro_jvm_path_decodes_wire_bytes(spark):
    """Self-certifies the PREFERRED from_avro path the day the environment
    ships the spark-avro jar (r8 verdict stretch): decodes the same real
    wire bytes the python-fallback test uses and must agree with it.
    Skipped (and visibly counted) while the jar is absent."""
    if not avro_available(spark):
        pytest.skip("spark-avro jar absent: JVM from_avro path unprovable here")
    from kafka_sink_spark.operators.records import KEY_PARSED, VALUE_PARSED
    from kafka_sink_spark.sources.avro_python import encode

    vschema = (
        '{"type":"record","name":"v","fields":['
        '{"name":"a","type":["null","int"]},{"name":"b","type":"string"}]}'
    )
    kschema = '{"type":"record","name":"k","fields":[{"name":"id","type":"long"}]}'
    rows = [
        (encode(kschema, {"id": 1}), encode(vschema, {"a": 5, "b": "x"})),
        (encode(kschema, {"id": 2}), encode(vschema, {"a": None, "b": "y"})),
    ]
    rec = spark.createDataFrame(rows, "key binary, value binary")
    # allow_python_fallback=False: this must be the JVM path or fail loudly
    out = decode_avro_records(
        rec, vschema, key_avro_schema=kschema, allow_python_fallback=False
    )
    got = {
        r[KEY_PARSED]["id"]: (r[VALUE_PARSED]["a"], r[VALUE_PARSED]["b"])
        for r in out.collect()
    }
    assert got == {1: (5, "x"), 2: (None, "y")}


def test_avro_python_fallback_decodes_wire_bytes(spark):
    """Without the jar, decode_avro_records must still decode REAL Avro
    binary via the pure-Python Arrow-batched codec — key and value."""
    from kafka_sink_spark.operators.records import KEY_PARSED, VALUE_PARSED
    from kafka_sink_spark.sources.avro_python import encode

    vschema = (
        '{"type":"record","name":"v","fields":['
        '{"name":"a","type":["null","int"]},{"name":"b","type":"string"}]}'
    )
    kschema = '{"type":"record","name":"k","fields":[{"name":"id","type":"long"}]}'
    rows = [
        (encode(kschema, {"id": 1}), encode(vschema, {"a": 5, "b": "x"})),
        (encode(kschema, {"id": 2}), encode(vschema, {"a": None, "b": "y"})),
    ]
    rec = spark.createDataFrame(rows, "key binary, value binary")
    out = decode_avro_records(rec, vschema, key_avro_schema=kschema)
    got = {
        r[KEY_PARSED]["id"]: (r[VALUE_PARSED]["a"], r[VALUE_PARSED]["b"])
        for r in out.collect()
    }
    assert got == {1: (5, "x"), 2: (None, "y")}


def test_avro_python_codec_roundtrip():
    """Wire-format round-trip across the full supported type surface."""
    import datetime
    from decimal import Decimal

    from kafka_sink_spark.sources.avro_python import decode, encode

    schema = {
        "type": "record", "name": "all", "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "raw", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "f4", "size": 4}},
            {"name": "e", "type": {"type": "enum", "name": "col",
                                   "symbols": ["RED", "GREEN"]}},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "u", "type": ["null", "string"]},
            {"name": "nested", "type": {"type": "record", "name": "inner",
                                        "fields": [{"name": "x", "type": "int"}]}},
            {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                     "precision": 20, "scale": 2}},
            {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
        ],
    }
    value = {
        "b": True, "i": -42, "l": 2**40 + 7, "f": 1.5, "d": -2.25,
        "s": "héllo", "raw": b"\x00\xff", "fx": b"abcd", "e": "GREEN",
        "arr": [1, -2, 3], "m": {"k1": "v1", "k2": "v2"}, "u": None,
        "nested": {"x": 9}, "dec": Decimal("12345678.90"),
        "dt": datetime.date(2020, 6, 15),
        "ts": datetime.datetime(2020, 6, 15, 12, 30, 45, 123456),
    }
    buf = encode(schema, value)
    got, pos = decode(schema, buf)
    assert pos == len(buf)
    assert got == value
    # negative ints / zigzag edges
    for n in (0, -1, 1, 63, -64, 64, 2**31 - 1, -(2**31), 2**62, -(2**62)):
        g, p = decode("long", encode("long", n))
        assert (g, p) == (n, len(encode("long", n)))


def test_avro_python_decodes_negative_count_blocks():
    """Avro writers may emit blocks with NEGATIVE counts followed by a byte
    size (for skipping); our encoder never does, but the decoder must."""
    from kafka_sink_spark.sources.avro_python import (
        _zigzag_encode,
        decode,
        encode,
    )

    items = [10, 20, 30]
    body = b"".join(encode("long", v) for v in items)
    buf = _zigzag_encode(-3) + _zigzag_encode(len(body)) + body + _zigzag_encode(0)
    got, pos = decode({"type": "array", "items": "long"}, buf)
    assert got == items and pos == len(buf)


def test_avro_schema_to_spark_types():
    from pyspark.sql import types as T

    from kafka_sink_spark.sources.avro_python import avro_schema_to_spark

    t = avro_schema_to_spark(
        '{"type":"record","name":"r","fields":['
        '{"name":"a","type":["null","long"]},'
        '{"name":"b","type":{"type":"array","items":"double"}},'
        '{"name":"c","type":{"type":"bytes","logicalType":"decimal",'
        '"precision":12,"scale":2}}]}'
    )
    assert t == T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.ArrayType(T.DoubleType())),
        T.StructField("c", T.DecimalType(12, 2)),
    ])


def test_struct_mode_decode(spark):
    """Mode 1 (what decoded Avro becomes): a struct value IS the parsed
    namespace; the literal channel stays null."""
    df = spark.createDataFrame(
        [(1, (5, "x"))], "key long, value struct<a:int,b:string>"
    )
    d = decode_records(df)
    row = d.select(VALUE_PARSED, VALUE_LITERAL).collect()[0]
    assert (row[0]["a"], row[0]["b"]) == (5, "x")
    assert row[1] is None


def test_avro_time_logical_types_stay_raw_ints():
    """ADVICE r2 (medium): time-millis/micros must decode to the RAW wire
    int (matching the declared LongType and from_avro) — a datetime.time
    would be Arrow-rescaled to microseconds, corrupting time-millis 1000x."""
    from kafka_sink_spark.sources.avro_python import decode, encode

    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
            {"name": "tu", "type": {"type": "long", "logicalType": "time-micros"}},
        ],
    }
    # 01:02:03 = 3723000 ms = 3723000000 us
    buf = encode(schema, {"tm": 3_723_000, "tu": 3_723_000_000})
    got, _ = decode(schema, buf)
    assert got == {"tm": 3_723_000, "tu": 3_723_000_000}
    # datetime.time fixture values still encode to the same wire ints
    import datetime

    buf2 = encode(schema, {
        "tm": datetime.time(1, 2, 3),
        "tu": datetime.time(1, 2, 3),
    })
    assert buf2 == buf


def test_avro_time_millis_through_dataframe_decode(spark):
    """End-to-end: a time-millis field survives the Arrow-batched DataFrame
    decode as the wire value, not 1000x it."""
    from kafka_sink_spark.sources.avro_python import decode_avro_column, encode

    schema = (
        '{"type":"record","name":"r","fields":['
        '{"name":"tm","type":{"type":"int","logicalType":"time-millis"}}]}'
    )
    df = spark.createDataFrame(
        [(encode(schema, {"tm": 3_723_000}),)], "value binary"
    )
    row = decode_avro_column(df, "value", schema).collect()[0]
    assert row["value"]["tm"] == 3_723_000


def test_avro_timestamp_encode_exact_integer_arithmetic():
    """ADVICE r2 (low): float .timestamp()*1e6 put ~1% of encodes off by one
    unit; sweep a dense microsecond range and a sample of epoch seconds to
    pin the exact-integer path."""
    import datetime

    from kafka_sink_spark.sources.avro_python import decode, encode

    ts_us = {"type": "long", "logicalType": "timestamp-micros"}
    ts_ms = {"type": "long", "logicalType": "timestamp-millis"}
    epoch = datetime.datetime(1970, 1, 1)
    for base in (0, 1_600_000_000, 4_102_444_800):  # 1970 / 2020 / 2100
        for us in range(0, 1000, 7):
            micros = base * 1_000_000 + us * 1001
            value = epoch + datetime.timedelta(microseconds=micros)
            got, _ = decode(ts_us, encode(ts_us, value))
            assert got == value, micros
            millis = micros // 1000 * 1000  # whole-millisecond instant
            mval = epoch + datetime.timedelta(microseconds=millis)
            gotm, _ = decode(ts_ms, encode(ts_ms, mval))
            assert gotm == mval, millis


def test_avro_fallback_matcher_only_catches_missing_source():
    """ADVICE r2 (low): only the missing-jar analysis error may demote the
    job to the Python codec; genuine schema/column errors propagate."""
    from kafka_sink_spark.sources.avro import _is_missing_avro_source

    assert _is_missing_avro_source(Exception(
        "[AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE] Cannot call the FROM_AVRO "
        "SQL function because the Avro data source is not loaded."
    ))
    assert _is_missing_avro_source(Exception(
        "Failed to find data source: avro."
    ))
    assert not _is_missing_avro_source(Exception(
        "[UNRESOLVED_COLUMN.WITH_SUGGESTION] A column or function parameter "
        "with name `value2` cannot be resolved."
    ))
    assert not _is_missing_avro_source(Exception(
        "Unrecognized token 'notjson': was expecting JSON"
    ))


def test_avro_genuine_error_propagates_not_fallback(spark):
    """A bad column reference inside the from_avro branch must raise, not
    silently fall back (here the jar IS absent, so the fallback branch is
    reached — the propagation test targets the matcher + a python-path
    schema error instead)."""
    import pytest as _pytest

    from kafka_sink_spark.sources.avro import decode_avro_records

    rec = spark.createDataFrame([(b"k", b"\x02")], "key binary, value binary")
    # Unsupported type name: the python path must surface the error.
    bad = '{"type":"record","name":"r","fields":[{"name":"a","type":"flub"}]}'
    with _pytest.raises(Exception, match="Avro type"):
        decode_avro_records(rec, bad).collect()


def test_avro_complex_union_spark_avro_semantics(spark):
    """Complex (non-[null,X]) unions follow spark-avro's SchemaConverters:
    {int,long} promotes to long, {float,double} to double, anything else
    becomes struct<member0, member1, ...> with one field set per value."""
    from pyspark.sql import types as T

    from kafka_sink_spark.sources.avro_python import (
        avro_schema_to_spark,
        decode,
        decode_avro_column,
        encode,
    )

    # type-promotion unions
    assert avro_schema_to_spark('["int","long"]') == T.LongType()
    assert avro_schema_to_spark('["null","float","double"]') == T.DoubleType()
    v, _ = decode(["int", "long"], encode(["int", "long"], 7))
    assert v == 7

    # complex union: string | record | null
    schema = [
        "null",
        "string",
        {"type": "record", "name": "r", "fields": [{"name": "x", "type": "int"}]},
    ]
    assert avro_schema_to_spark(schema) == T.StructType(
        [
            T.StructField("member0", T.StringType()),
            T.StructField("member1", T.StructType([T.StructField("x", T.IntegerType())])),
        ]
    )
    # decode wraps the matched branch into its member slot
    got, _ = decode(schema, encode(schema, "hello"))
    assert got == {"member0": "hello"}
    got, _ = decode(schema, encode(schema, {"x": 9}))
    assert got == {"member1": {"x": 9}}
    got, _ = decode(schema, encode(schema, None))
    assert got is None
    # member-dict form round-trips too (the decode twin)
    got, _ = decode(schema, encode(schema, {"member1": {"x": 4}}))
    assert got == {"member1": {"x": 4}}

    # end-to-end through the Arrow-batched DataFrame decode
    rec_schema = (
        '{"type":"record","name":"ev","fields":['
        '{"name":"u","type":["null","string",'
        '{"type":"record","name":"inner","fields":[{"name":"x","type":"int"}]}]}]}'
    )
    rows = [
        (encode(rec_schema, {"u": "abc"}),),
        (encode(rec_schema, {"u": {"member1": {"x": 5}}}),),
        (encode(rec_schema, {"u": None}),),
    ]
    df = spark.createDataFrame(rows, "value binary")
    out = [r["value"]["u"] for r in decode_avro_column(df, "value", rec_schema).collect()]
    assert out[0]["member0"] == "abc" and out[0]["member1"] is None
    assert out[1]["member1"]["x"] == 5 and out[1]["member0"] is None
    assert out[2] is None


def test_avro_named_type_references():
    """Real Schema Registry schemas define a record/enum/fixed once and
    reference it by name (or namespace-qualified fullname) later — including
    recursively. resolve_named_types handles all three forms."""
    from kafka_sink_spark.sources.avro_python import (
        avro_schema_to_spark,
        decode,
        encode,
    )

    # same record type used by two fields, referenced bare and by fullname
    sch = (
        '{"type":"record","name":"outer","namespace":"com.x","fields":['
        '{"name":"a","type":{"type":"record","name":"pt","namespace":"com.x",'
        '"fields":[{"name":"x","type":"int"},{"name":"y","type":"int"}]}},'
        '{"name":"b","type":"pt"},'
        '{"name":"c","type":["null","com.x.pt"]}]}'
    )
    value = {"a": {"x": 1, "y": 2}, "b": {"x": 3, "y": 4}, "c": {"x": 5, "y": 6}}
    got, pos = decode(sch, encode(sch, value))
    assert got == value
    t = avro_schema_to_spark(sch)
    assert t["a"].dataType == t["b"].dataType == t["c"].dataType

    # enum + fixed references
    sch2 = (
        '{"type":"record","name":"r","fields":['
        '{"name":"e1","type":{"type":"enum","name":"col","symbols":["R","G"]}},'
        '{"name":"e2","type":"col"},'
        '{"name":"f1","type":{"type":"fixed","name":"f4","size":4}},'
        '{"name":"f2","type":"f4"}]}'
    )
    v2 = {"e1": "G", "e2": "R", "f1": b"abcd", "f2": b"wxyz"}
    got2, _ = decode(sch2, encode(sch2, v2))
    assert got2 == v2

    # recursive type (linked list) — decode/encode follow the data
    sch3 = (
        '{"type":"record","name":"node","fields":['
        '{"name":"v","type":"long"},'
        '{"name":"next","type":["null","node"]}]}'
    )
    lst = {"v": 1, "next": {"v": 2, "next": {"v": 3, "next": None}}}
    got3, _ = decode(sch3, encode(sch3, lst))
    assert got3 == lst

    # unknown name is a loud error, not silent fallback
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown Avro type name"):
        decode(
            '{"type":"record","name":"r","fields":[{"name":"a","type":"nope"}]}',
            b"\x00",
        )


def test_avro_randomized_roundtrip_property():
    """Seeded random schema/value generator: every generated (schema, value)
    pair must round-trip encode→decode to identity. Covers nested records,
    arrays, maps, all union kinds, enums, fixed, logical types."""
    import random
    from decimal import Decimal

    from kafka_sink_spark.sources.avro_python import decode, encode

    rng = random.Random(0xA720)
    counter = [0]

    def gen_schema(depth):
        opts = ["int", "long", "string", "boolean", "double", "bytes"]
        if depth < 3:
            opts += ["record", "array", "map", "union", "enum", "fixed", "decimal"]
        kind = rng.choice(opts)
        counter[0] += 1
        n = counter[0]
        if kind == "record":
            return {
                "type": "record", "name": f"r{n}",
                "fields": [
                    {"name": f"f{i}", "type": gen_schema(depth + 1)}
                    for i in range(rng.randint(1, 3))
                ],
            }
        if kind == "array":
            return {"type": "array", "items": gen_schema(depth + 1)}
        if kind == "map":
            return {"type": "map", "values": gen_schema(depth + 1)}
        if kind == "union":
            variant = rng.choice(["nullable", "numeric", "complex"])
            if variant == "nullable":
                # Avro forbids immediate unions inside unions
                branch = gen_schema(depth + 1)
                while isinstance(branch, list):
                    branch = gen_schema(depth + 1)
                return ["null", branch]
            if variant == "numeric":
                return ["int", "long"]
            return ["null", "string", {"type": "fixed", "name": f"fx{n}", "size": 2}]
        if kind == "enum":
            return {"type": "enum", "name": f"e{n}", "symbols": ["A", "B", "C"]}
        if kind == "fixed":
            return {"type": "fixed", "name": f"fd{n}", "size": 3}
        if kind == "decimal":
            return {"type": "bytes", "logicalType": "decimal",
                    "precision": 20, "scale": 3}
        return kind

    def gen_value(schema):
        if isinstance(schema, list):  # union
            from kafka_sink_spark.sources.avro_python import _union_info

            kind, non_null, nullable = _union_info(schema)
            if nullable and rng.random() < 0.3:
                return None
            if kind == "long":
                return rng.randint(-(2**40), 2**40)
            if kind == "double":
                return rng.uniform(-1e6, 1e6)
            if kind == "complex":
                i = rng.randrange(len(non_null))
                return {f"member{i}": gen_value(non_null[i])}
            return gen_value(non_null[0])
        t = schema if isinstance(schema, str) else schema["type"]
        if t == "int":
            return rng.randint(-(2**31), 2**31 - 1)
        if t == "long":
            return rng.randint(-(2**62), 2**62)
        if t == "string":
            return "".join(rng.choice("abcxyzé日") for _ in range(rng.randint(0, 6)))
        if t == "boolean":
            return rng.random() < 0.5
        if t == "double":
            return rng.uniform(-1e9, 1e9)
        if t == "bytes":
            if isinstance(schema, dict) and schema.get("logicalType") == "decimal":
                return Decimal(rng.randint(-(2**60), 2**60)).scaleb(-schema["scale"])
            return bytes(rng.randrange(256) for _ in range(rng.randint(0, 5)))
        if t == "record":
            return {f["name"]: gen_value(f["type"]) for f in schema["fields"]}
        if t == "array":
            return [gen_value(schema["items"]) for _ in range(rng.randint(0, 4))]
        if t == "map":
            return {
                f"k{i}": gen_value(schema["values"]) for i in range(rng.randint(0, 4))
            }
        if t == "enum":
            return rng.choice(schema["symbols"])
        if t == "fixed":
            return bytes(rng.randrange(256) for _ in range(schema["size"]))
        raise AssertionError(t)

    for trial in range(300):
        schema = gen_schema(0)
        value = gen_value(schema)
        buf = encode(schema, value)
        got, pos = decode(schema, buf)
        assert pos == len(buf), (trial, schema)
        assert got == value, (trial, schema, value, got)


def test_avro_permissive_mode_nulls_corrupt_payloads(spark):
    """from_avro parse-mode parity in the fallback codec: PERMISSIVE turns a
    malformed payload (truncated buffer, trailing garbage) into a null
    struct; FAILFAST (default) raises — so one corrupt record can be routed
    to ignoreErrors instead of failing the job, by choice."""
    from kafka_sink_spark.sources.avro_python import decode_avro_column, encode

    sch = (
        '{"type":"record","name":"r","fields":['
        '{"name":"s","type":"string"},{"name":"n","type":"long"}]}'
    )
    good = encode(sch, {"s": "ok", "n": 7})
    rows = [(1, good), (2, good[:2]), (3, good + b"JUNK")]
    df = spark.createDataFrame(rows, "i long, value binary")

    out = {
        r["i"]: r["value"]
        for r in decode_avro_column(df, "value", sch, mode="PERMISSIVE").collect()
    }
    assert out[1]["s"] == "ok" and out[1]["n"] == 7
    assert out[2] is None and out[3] is None

    with pytest.raises(Exception):
        decode_avro_column(df, "value", sch).collect()  # FAILFAST default

    with pytest.raises(ValueError, match="FAILFAST or PERMISSIVE"):
        decode_avro_column(df, "value", sch, mode="lenient")

    # the decode_avro_records dispatch forwards the option like from_avro
    from kafka_sink_spark.sources.avro import decode_avro_records

    rec = spark.createDataFrame(
        [(b"k", good), (b"k", b"\xff")], "key binary, value binary"
    )
    from kafka_sink_spark.operators.records import VALUE_PARSED

    got = [
        r[VALUE_PARSED]
        for r in decode_avro_records(rec, sch, options={"mode": "PERMISSIVE"})
        .select(VALUE_PARSED).collect()
    ]
    assert {g["s"] if g else None for g in got} == {"ok", None}


def test_corrupt_flag_marks_key_and_value_payloads(spark):
    """``corrupt_col`` marks a record whose key or value payload was
    non-null and failed the PERMISSIVE decode; a null payload (a tombstone
    value, a keyless record) is not corrupt."""
    from kafka_sink_spark.sources.avro import decode_avro_records
    from kafka_sink_spark.sources.avro_python import encode

    sch = '{"type":"record","name":"r","fields":[{"name":"n","type":"long"}]}'
    ok = encode(sch, {"n": 7})
    rows = [
        (0, ok, ok),
        (1, b"\xff", ok),  # corrupt key
        (2, ok, b"\xff"),  # corrupt value
        (3, None, None),  # keyless tombstone
        (4, ok, None),  # tombstone
    ]
    rec = spark.createDataFrame(rows, "offset long, key binary, value binary")
    out = decode_avro_records(
        rec, sch, sch, options={"mode": "PERMISSIVE"}, corrupt_col="corrupt"
    )
    got = {r["offset"]: r["corrupt"] for r in out.select("offset", "corrupt").collect()}
    assert got == {0: False, 1: True, 2: True, 3: False, 4: False}

"""Second parity wave: the SURVEY §2 operators not covered by the first
catalog — provided-query mode (W5), quoted identifiers (P6), collection/UDT
codecs (C8-C14), decimal BASE64 (C16), schema defaults (C17), the
ignoreErrors policy (§2.8), and per-table consistency levels incl. the cloud
clamp (W7/S7).

Same contract as plans/queries.py: every entry is a Spark callable plus a
DuckDB oracle over the identical parquet inputs, with bit-identical outputs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from kafka_sink_spark.config import (
    ColumnSpec,
    SinkConfig,
    TableConfig,
    TableSchema,
    parse_sink_config,
)
from kafka_sink_spark.functions import codecs
from kafka_sink_spark.mapping.parser import parse_mapping
from kafka_sink_spark.operators.writes import WRITETIME_COL, cql_statement
from kafka_sink_spark.plans.queries import V_SCHEMA_K, _k, _records, _sink, register
from kafka_sink_spark.session import load_tables, spread_small_scan
from kafka_sink_spark.streaming.pipeline import SinkMetrics, process_micro_batch

# --------------------------------------------------------------------------
# W5 — provided-query mode
# --------------------------------------------------------------------------

_PROVIDED_QUERY = (
    "INSERT INTO ks.series(pk, seq, v) VALUES (:some_pk, :some_seq, :some_v) "
    "USING TTL :ttl_var"
)


@register(
    "sink_provided_query",
    oracle=f"""
    SELECT CAST(user_id AS BIGINT) AS some_pk,
           CAST(event_id AS BIGINT) AS some_seq,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS some_v,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) + 10 AS BIGINT) AS ttl_var,
           CAST(NULL AS BIGINT) AS writetime,
           '{_PROVIDED_QUERY}' AS cql
    FROM events
    """,
)
def sink_provided_query(spark, sf_dir):
    """W5 (reference: ProvidedQueryCCMIT.java:90-129, 167-193, 224-288):
    user-supplied CQL replaces statement generation; mapping targets are
    BOUND-VARIABLE names (arbitrary, no column validation); the record-
    timestamp auto-writetime is NOT applied (ProvidedQueryCCMIT.java:127-128);
    TTL flows only through the query's own USING TTL :var."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.concat(
        F.lit('{"seq": '), F.col("event_id").cast("string"),
        F.lit(', "v": '), _k().cast("string"),
        F.lit(', "ttlv": '), (_k().cast("long") + 10).cast("string"), F.lit("}"),
    )
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    # Bound-var "schema": the mapping targets, typed; PK role only drives the
    # (unused) route check. deletesEnabled=false is REQUIRED with a provided
    # query (ProvidedQueryCCMIT.java:132-163 — ConfigException otherwise).
    schema = TableSchema(
        "ks", "series",
        [
            ColumnSpec("some_pk", "bigint", primary_key=True),
            ColumnSpec("some_seq", "bigint"),
            ColumnSpec("some_v", "int"),
            ColumnSpec("ttl_var", "bigint"),
        ],
    )
    table = TableConfig(
        "events", "ks", "series",
        parse_mapping("some_pk=key, some_seq=value.seq, some_v=value.v, ttl_var=value.ttlv"),
        query=_PROVIDED_QUERY,
        deletes_enabled=False,
    )
    vschema = StructType(
        [
            StructField("seq", LongType()),
            StructField("v", IntegerType()),
            StructField("ttlv", LongType()),
        ]
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select(
        "some_pk", "some_seq", "some_v", "ttl_var",
        F.col(WRITETIME_COL).alias("writetime"),
        cql_statement(table, schema).alias("cql"),
    )


# --------------------------------------------------------------------------
# P6 — case-sensitive quoted identifiers (columns AND fields)
# --------------------------------------------------------------------------


@register(
    "sink_quoted_identifiers",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS "Quoted Col",
           CAST(event_id AS BIGINT) AS spaced
    FROM events
    """,
)
def sink_quoted_identifiers(spark, sf_dir):
    """P6 (reference: StructEndToEndCCMIT.java:611-668 KAF-83,
    RawDataEndToEndCCMIT.java:322-360 KAF-84): quoted mapping identifiers are
    case-sensitive and may contain spaces and dots — on both the column side
    ("Quoted Col") and the field side (value."Field.Dotted", a single field
    whose NAME contains dots, not nested traversal)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.concat(
        F.lit('{"Field.Dotted": '), _k().cast("string"),
        F.lit(', "With Space": '), F.col("event_id").cast("string"), F.lit("}"),
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    vschema = StructType(
        [
            StructField("Field.Dotted", IntegerType()),
            StructField("With Space", LongType()),
        ]
    )
    schema = TableSchema(
        "ks", "quoted",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("Quoted Col", "int"),
            ColumnSpec("spaced", "bigint"),
        ],
    )
    table = TableConfig(
        "events", "ks", "quoted",
        parse_mapping(
            'pk=key, "Quoted Col"=value."Field.Dotted", spaced=value."With Space"'
        ),
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select("pk", "`Quoted Col`", "spaced")


# --------------------------------------------------------------------------
# C8/C9/C10 — collection codecs
# --------------------------------------------------------------------------


@register(
    "sink_collection_codecs",
    oracle="""
    WITH k AS (
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS pk,
           CAST(4 AS INTEGER) AS list_len,
           CAST(kv AS INTEGER) AS list_first,
           array_to_string(list_sort(list_distinct(
             [CAST(kv AS INTEGER), CAST(kv % 5 AS INTEGER),
              CAST(kv AS INTEGER), CAST((kv * 2) % 7 AS INTEGER)])), ',') AS set_repr,
           '{"a":' || kv || ',"b":' || (kv * 2) || '}' AS map_json,
           '[[' || kv || '],[' || (kv + 1) || ']]' AS nested_json
    FROM k
    """,
)
def sink_collection_codecs(spark, sf_dir):
    """C8 JSON-array-string → list (RawDataEndToEndCCMIT.java:150-162),
    C9 array → set dedup+sort (StructEndToEndCCMIT.java:228-233) incl. nested
    list<set<int>>, C10 map construction (StructEndToEndCCMIT.java:225-226).
    The raw record value IS a JSON array string; the sink maps it onto a
    ``list<int>`` column. Collections are rendered canonically (sorted /
    JSON) so the value-hash is representation-stable across engines."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    # from_json is CodegenFallback: spread the single-row-group scan so the
    # per-row decode parallelizes.
    kv = _k().cast("long")
    raw = F.concat(
        F.lit("["), kv.cast("string"), F.lit(", "), (kv % 5).cast("string"),
        F.lit(", "), kv.cast("string"), F.lit(", "), ((kv * 2) % 7).cast("string"),
        F.lit("]"),
    )
    records = _records(
        spread_small_scan(events, spark), key=F.col("event_id").cast("string"), value=raw
    )
    schema = TableSchema(
        "ks", "collections",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("arr", "array<int>")],
    )
    table = TableConfig("events", "ks", "collections", parse_mapping("pk=key, arr=value"))
    routed = _sink(records, table, schema)
    arr = F.col("arr")
    kv = F.element_at(arr, 1).cast("long")
    nested = F.array(F.array(kv.cast("int"), kv.cast("int")), F.array((kv + 1).cast("int")))
    return routed.select(
        "pk",
        F.size(arr).alias("list_len"),
        F.element_at(arr, 1).alias("list_first"),
        F.array_join(
            F.transform(codecs.array_to_set(arr), lambda x: x.cast("string")), ","
        ).alias("set_repr"),
        F.to_json(F.create_map(F.lit("a"), kv, F.lit("b"), kv * 2)).alias("map_json"),
        F.to_json(codecs.nested_array_to_set(nested)).alias("nested_json"),
    )


# --------------------------------------------------------------------------
# C11/C12/C13/C14 — UDT / tuple construction
# --------------------------------------------------------------------------


@register(
    "sink_udt_codecs",
    oracle="""
    WITH k AS (
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS pk,
           CAST(kv AS INTEGER) AS u1,
           CAST(kv * 3 AS VARCHAR) AS u2,
           CAST(kv AS SMALLINT) AS t0,
           CAST(kv * 2 AS INTEGER) AS t1,
           CAST(kv * 3 AS INTEGER) AS t2
    FROM k
    """,
)
def sink_udt_codecs(spark, sf_dir):
    """C11 JSON-object → UDT by field name with C14 coercion (int payload →
    text UDT member, StructEndToEndCCMIT.java:240-247 `udt.newValue(47,"90")`),
    C12 ordered list → tuple/UDT by POSITION (`udtfromlist`,
    StructEndToEndCCMIT.java:202,247) with C2 per-slot truncation (int →
    smallint, `[37,96,90]` → `(37s,96,90)`). Strict arity (C13,
    StructToUDTCodec.java:47-87) is enforced at mapping-compile time."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    kv = _k().cast("long")
    # C11/C14: whole-value JSON object → struct<udtmem1:int,udtmem2:string>.
    value = F.concat(
        F.lit('{"udtmem1": '), kv.cast("string"),
        F.lit(', "udtmem2": '), (kv * 3).cast("string"), F.lit("}"),
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    vschema = StructType(
        [StructField("udtmem1", LongType()), StructField("udtmem2", LongType())]
    )
    schema = TableSchema(
        "ks", "udt_table",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("udtcol", "struct<udtmem1:int,udtmem2:string>"),
        ],
    )
    table = TableConfig(
        "events", "ks", "udt_table", parse_mapping("pk=key, udtcol=value")
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    # C12: ordered collection → tuple by position with per-slot casts (input
    # derived from the mapped column — the source record is already projected
    # away at this stage).
    kv2 = F.col("udtcol.udtmem1").cast("long")
    tup = codecs.list_to_udt(
        F.array(kv2, kv2 * 2, kv2 * 3), ["t0", "t1", "t2"], ["smallint", "int", "int"]
    )
    return routed.select(
        "pk",
        F.col("udtcol.udtmem1").alias("u1"),
        F.col("udtcol.udtmem2").alias("u2"),
        tup.getField("t0").alias("t0"),
        tup.getField("t1").alias("t1"),
        tup.getField("t2").alias("t2"),
    )


# --------------------------------------------------------------------------
# C16 — Connect Decimal logical type (BASE64 unscaled bytes)
# --------------------------------------------------------------------------


@register(
    "sink_decimal_base64",
    oracle="""
    WITH k AS (
      SELECT event_id,
             (CAST(json_extract_string(props, '$.k') AS BIGINT) - 50) * 100 + 7 AS unscaled
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS pk,
           CAST(unscaled AS BIGINT) AS unscaled,
           CAST(CAST(CAST(unscaled AS DOUBLE) / 100 AS DECIMAL(12,2)) AS DOUBLE) AS dec_val
    FROM k
    """,
)
def sink_decimal_base64(spark, sf_dir):
    """C16 (reference: AvroJsonConvertersTest.java:82-128): the Connect
    Decimal logical type arrives as BASE64 text of the unscaled big-endian
    two's-complement bytes. Round-trip: build the 4-byte representation
    (negatives exercise the sign path), decode via the codec, recover
    DECIMAL(12,2)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    unscaled = (_k().cast("long") - 50) * 100 + 7
    twos = (unscaled + F.lit(2**32)) % F.lit(2**32)  # 4-byte two's complement
    b64 = F.base64(F.unhex(F.lpad(F.conv(twos.cast("string"), 10, 16), 8, "0")))
    return events.select(
        F.col("event_id").cast("bigint").alias("pk"),
        unscaled.alias("unscaled"),
        # Decoded as exact DECIMAL(12,2) by the codec; rendered as double so
        # the driver's pandas hash sees the same dtype as the DuckDB oracle.
        codecs.base64_to_decimal(b64, 12, 2).cast("double").alias("dec_val"),
    )


# --------------------------------------------------------------------------
# S1/§1.2 — Struct mode over REAL Avro wire bytes (python codec fallback)
# --------------------------------------------------------------------------

_AVRO_VALUE_SCHEMA = (
    '{"type":"record","name":"ev","fields":['
    '{"name":"k","type":["null","long"]},'
    '{"name":"etype","type":"string"},'
    '{"name":"score","type":"double"}]}'
)


@register(
    "sink_avro_struct_decode",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS kcol,
           event_type AS etype,
           value AS score
    FROM events
    """,
)
def sink_avro_struct_decode(spark, sf_dir):
    """Struct/Avro decode mode over REAL wire bytes (SURVEY §1.2, reference:
    MetadataCreatorTest.java:45-66): each record's value is Avro-binary
    encoded executor-side (zigzag varints, union null index, IEEE doubles),
    then decoded back by the sink's Avro mode — from_avro when the
    spark-avro jar exists, else the pure-Python Arrow-batched wire codec —
    and mapped/routed by the same micro-batch body. The oracle reads the
    same fields straight from the parquet."""
    from pyspark.sql.types import BinaryType

    from kafka_sink_spark.sources.avro_python import encode

    events = load_tables(spark, sf_dir, ("events",))["events"]
    schema_json = _AVRO_VALUE_SCHEMA

    @F.pandas_udf(BinaryType())
    def avro_encode(k: pd.Series, etype: pd.Series, score: pd.Series) -> pd.Series:
        import json as _json

        sch = _json.loads(schema_json)  # parse ONCE per batch, not per row
        return pd.Series(
            [
                encode(
                    sch,
                    {
                        "k": None if pd.isna(kv) else int(kv),
                        "etype": e,
                        "score": float(s),
                    },
                )
                for kv, e, s in zip(k, etype, score)
            ]
        )

    k = F.when(F.col("event_id") % 4 == 0, F.lit(None).cast("long")).otherwise(
        _k().cast("long")
    )
    records = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        avro_encode(k, F.col("event_type"), F.col("value")).alias("value"),
    )
    schema = TableSchema(
        "ks", "avro_events",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("kcol", "int"),
            ColumnSpec("etype", "string"),
            ColumnSpec("score", "double"),
        ],
    )
    table = TableConfig(
        "events", "ks", "avro_events",
        parse_mapping("pk=key, kcol=value.k, etype=value.etype, score=value.score"),
        deletes_enabled=False,
    )
    routed = _sink(records, table, schema, value_schema=schema_json)
    return routed.select("pk", "kcol", "etype", "score")


# --------------------------------------------------------------------------
# C15 — DSE geo WKT / DateRange (validated string passthrough)
# --------------------------------------------------------------------------


@register(
    "sink_geo_wkt",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           'POINT (' || CAST(user_id AS VARCHAR) || ' '
           || CAST(event_id % 100 AS VARCHAR) || ')' AS pt,
           'LINESTRING (0 0, ' || CAST(user_id AS VARCHAR) || ' 2)' AS ls,
           '[1997-01 TO 1997-12]' AS dr
    FROM events
    WHERE event_id % 7 <> 0 AND event_id % 11 <> 0 AND event_id % 5 <> 0
    """,
)
def sink_geo_wkt(spark, sf_dir):
    """C15 (reference: StructEndToEndCCMIT.java:206-209, 262-280): DSE
    Point/LineString WKT and DateRange text land as VALIDATED passthrough
    strings — well-formed text flows through, malformed text (every 7th
    point unclosed, every 11th linestring empty, every 5th daterange
    garbage) fails its conversion, so the sink dead-letters that record as a
    mapping error. The validation is pure rlike inside the one mapping
    projection."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    uid = F.col("user_id").cast("string")
    pt = F.when(
        F.col("event_id") % 7 == 0, F.lit("POINT (1 2")  # unclosed -> invalid
    ).otherwise(
        F.concat(F.lit("POINT ("), uid, F.lit(" "),
                 (F.col("event_id") % 100).cast("string"), F.lit(")"))
    )
    ls = F.when(
        F.col("event_id") % 11 == 0, F.lit("LINESTRING ()")  # empty -> invalid
    ).otherwise(F.concat(F.lit("LINESTRING (0 0, "), uid, F.lit(" 2)")))
    dr = F.when(F.col("event_id") % 5 == 0, F.lit("not a range")).otherwise(
        F.lit("[1997-01 TO 1997-12]")
    )
    value = F.concat(
        F.lit('{"pt": "'), pt, F.lit('", "ls": "'), ls,
        F.lit('", "dr": "'), dr, F.lit('"}'),
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "geo_table",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("pt", "geo_point"),
            ColumnSpec("ls", "geo_linestring"),
            ColumnSpec("dr", "daterange"),
        ],
    )
    table = TableConfig(
        "events", "ks", "geo_table",
        parse_mapping("pk=key, pt=value.pt, ls=value.ls, dr=value.dr"),
        deletes_enabled=False,
    )
    vschema = StructType(
        [
            StructField("pt", StringType()),
            StructField("ls", StringType()),
            StructField("dr", StringType()),
        ]
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select("pk", "pt", "ls", "dr")


# --------------------------------------------------------------------------
# C17 — Connect schema defaults / missing optional fields
# --------------------------------------------------------------------------


@register(
    "sink_schema_defaults",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CASE WHEN event_id % 4 = 0 THEN 42
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS with_default,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS without_default
    FROM events
    """,
)
def sink_schema_defaults(spark, sf_dir):
    """C17 (reference: StructEndToEndCCMIT.java:346-376 missing optional field
    → unset/null; :441-462 Connect schema defaultValue 42 applied): every 4th
    record omits the optional field; the default-bearing column fills 42, the
    default-free column stays null."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.when(F.col("event_id") % 4 == 0, F.lit("{}")).otherwise(F.col("props"))
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "defaults_table",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("with_default", "int"),
            ColumnSpec("without_default", "int"),
        ],
    )
    table = TableConfig(
        "events", "ks", "defaults_table",
        parse_mapping("pk=key, with_default=value.k, without_default=value.k"),
    )
    routed = _sink(records, table, schema, value_schema=V_SCHEMA_K)
    return routed.select(
        "pk",
        codecs.with_default(F.col("with_default"), 42).alias("with_default"),
        "without_default",
    )


# --------------------------------------------------------------------------
# §2.8 — ignoreErrors policy (None / Driver / All)
# --------------------------------------------------------------------------


@register(
    "sink_error_policy",
    oracle="""
    WITH flags AS (
      SELECT CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS map_err,
             CASE WHEN event_id % 7 <> 0 AND event_id % 13 = 0 THEN 1 ELSE 0 END AS drv_err
      FROM events
    ), agg AS (
      SELECT SUM(map_err) AS m, SUM(drv_err) AS d, COUNT(*) - SUM(map_err) - SUM(drv_err) AS ok
      FROM flags
    )
    SELECT 'None' AS policy, CAST(ok AS BIGINT) AS n_written,
           CAST(0 AS BIGINT) AS n_skipped, CAST(m + d AS BIGINT) AS n_rewound FROM agg
    UNION ALL
    SELECT 'Driver', CAST(ok AS BIGINT), CAST(d AS BIGINT), CAST(m AS BIGINT) FROM agg
    UNION ALL
    SELECT 'All', CAST(ok AS BIGINT), CAST(m + d AS BIGINT), CAST(0 AS BIGINT) FROM agg
    """,
)
def sink_error_policy(spark, sf_dir):
    """ignoreErrors=None/Driver/All (reference: CassandraSinkTask.java:128-141,
    SimpleEndToEndSimulacronIT.java:475-564, KAF-200): None rewinds every
    failure; Driver ignores driver-side errors but rewinds mapping errors;
    All ignores everything (log+count only). Mapping errors are real: a
    non-numeric payload (every 7th record) that the sink dead-letters and
    counts as failed under All. Driver errors are modelled per written row
    with a deterministic write-failure flag (every 13th)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.when(F.col("event_id") % 7 == 0, F.lit('{"k": "oops"}')).otherwise(
        F.col("props")
    )
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "err_table",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("kcol", "int")],
    )
    table = TableConfig("events", "ks", "err_table", parse_mapping("pk=key, kcol=value.k"))
    metrics = SinkMetrics()
    routed = process_micro_batch(
        records,
        SinkConfig([table], ignore_errors="All"),
        {("ks", "err_table"): schema},
        {"events": V_SCHEMA_K},
        metrics=metrics,
    )["ks.err_table"]
    drv_err = F.col("_kafka_offset") % 13 == 0
    agg = routed.agg(
        F.lit(metrics.get_failed_record_counter("events", "ks.err_table"))
        .cast("bigint").alias("m"),
        F.count_if(drv_err).alias("d"),
        (F.count(F.lit(1)) - F.count_if(drv_err)).alias("ok"),
    )
    z = F.lit(0).cast("bigint")
    rows = [
        agg.select(
            F.lit("None").alias("policy"), F.col("ok").alias("n_written"),
            z.alias("n_skipped"), (F.col("m") + F.col("d")).alias("n_rewound"),
        ),
        agg.select(
            F.lit("Driver").alias("policy"), F.col("ok").alias("n_written"),
            F.col("d").alias("n_skipped"), F.col("m").alias("n_rewound"),
        ),
        agg.select(
            F.lit("All").alias("policy"), F.col("ok").alias("n_written"),
            (F.col("m") + F.col("d")).alias("n_skipped"), z.alias("n_rewound"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# W7/S7 — per-table consistency level + cloud clamp
# --------------------------------------------------------------------------

_CL_PROPS = {
    "topic.click.ks.t_click.mapping": "pk=key, kcol=value.k",
    "topic.click.ks.t_click.consistencyLevel": "QUORUM",
    "topic.view.ks.t_view.mapping": "pk=key, kcol=value.k",
}


@register(
    "sink_consistency_level",
    oracle="""
    SELECT 'standard' AS mode, 'ks.t_click' AS table_name, 'QUORUM' AS cl,
           COUNT(*) AS n_records
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'standard', 'ks.t_view', 'LOCAL_ONE', COUNT(*)
    FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT 'cloud', 'ks.t_click', 'QUORUM', COUNT(*)
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'cloud', 'ks.t_view', 'LOCAL_QUORUM', COUNT(*)
    FROM events WHERE event_type = 'view'
    """,
)
def sink_consistency_level(spark, sf_dir):
    """W7 per-table CL (reference: SimpleEndToEndSimulacronIT.java:685-737 —
    LOCAL_ONE vs QUORUM observed per bound statement; default LOCAL_ONE,
    sample:169-170) + S7 cloud clamp (CloudSniEndToEndIT.java:103 — secure
    bundle forces weak CLs up to LOCAL_QUORUM, explicit QUORUM stays)."""
    std = parse_sink_config(dict(_CL_PROPS))
    cloud = parse_sink_config(
        dict(_CL_PROPS, **{"cloud.secureConnectBundle": "/secure-connect.zip"})
    )
    cfg_rows = [
        (mode, f"{t.keyspace}.{t.table}", t.consistency_level, t.topic)
        for mode, cfg in (("standard", std), ("cloud", cloud))
        for t in cfg.tables
    ]
    cfg_df = spark.createDataFrame(cfg_rows, "mode string, table_name string, cl string, topic string")
    events = load_tables(spark, sf_dir, ("events",))["events"]
    counts = (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.col("event_type").alias("topic"))
        .agg(F.count(F.lit(1)).alias("n_records"))
    )
    return (
        counts.join(F.broadcast(cfg_df), "topic")
        .select("mode", "table_name", "cl", "n_records")
    )


# --------------------------------------------------------------------------
# W5 — provided-query collection mutations (list append, map entry update)
# --------------------------------------------------------------------------


@register(
    "sink_provided_list_append",
    oracle="""
    WITH m AS (
      SELECT user_id AS pk, event_id AS o,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS v
      FROM events
    )
    SELECT CAST(pk AS BIGINT) AS pk,
           CAST(to_json(array_agg(v ORDER BY o)) AS VARCHAR) AS v
    FROM m WHERE v IS NOT NULL GROUP BY pk
    """,
)
def sink_provided_list_append(spark, sf_dir):
    """W5 collection mutation (reference: ProvidedQueryCCMIT.java:196-221):
    ``UPDATE ... SET l = l + [:v]`` runs once per record, so the final list
    is every bound value in arrival order. replay_list_append materializes
    that accrual distributively (collect_list with partial merge)."""
    from kafka_sink_spark.operators.writes import replay_list_append

    events = load_tables(spark, sf_dir, ("events",))["events"]
    value = F.concat(F.lit('{"v": '), _k().cast("string"), F.lit("}"))
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "lists",
        [ColumnSpec("pk", "bigint", primary_key=True), ColumnSpec("v", "int")],
    )
    table = TableConfig(
        "events", "ks", "lists", parse_mapping("pk=key, v=value.v"),
        query="UPDATE ks.lists SET l = l + [:v] WHERE pk = :pk",
        deletes_enabled=False,
    )
    vschema = StructType([StructField("v", IntegerType())])
    routed = _sink(records, table, schema, value_schema=vschema)
    out = replay_list_append(routed, schema, "v")
    # The driver's pandas canonicalizer can't sort/hash list cells — render
    # the list as its JSON string (same text both engines).
    return out.select("pk", F.to_json(F.col("v")).alias("v"))


@register(
    "sink_provided_map_entries",
    oracle="""
    WITH m AS (
      SELECT user_id AS pk, event_type AS mk, event_id AS o,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(json_extract_string(props, '$.k') AS INTEGER)
             END AS mv
      FROM events
    ), w AS (
      SELECT pk, mk, mv,
             row_number() OVER (PARTITION BY pk, mk ORDER BY o DESC) AS rn
      FROM m
    ), f AS (
      SELECT pk, mk, mv FROM w WHERE rn = 1 AND mv IS NOT NULL
    )
    SELECT CAST(pk AS BIGINT) AS pk,
           CAST(to_json(array_agg(mk ORDER BY mk)) AS VARCHAR) AS mks,
           CAST(to_json(array_agg(mv ORDER BY mk)) AS VARCHAR) AS mvs
    FROM f GROUP BY pk
    """,
)
def sink_provided_map_entries(spark, sf_dir):
    """W5 map-entry mutation (reference: ProvidedQueryCCMIT.java:476-545):
    ``UPDATE ... SET m[:mk] = :mv`` — last write per (pk, entry key) wins and
    a null bound value (nullToUnset=false path) REMOVES the entry. Output as
    key-sorted parallel arrays for deterministic cross-engine compare."""
    from kafka_sink_spark.operators.writes import replay_map_entries

    events = load_tables(spark, sf_dir, ("events",))["events"]
    mv = F.when(F.col("event_type") == "error", F.lit(None).cast("int")).otherwise(_k())
    value = F.concat(
        F.lit('{"mk": "'), F.col("event_type"), F.lit('", "mv": '),
        F.coalesce(mv.cast("string"), F.lit("null")), F.lit("}"),
    )
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "maps",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("mk", "string"),
            ColumnSpec("mv", "int"),
        ],
    )
    table = TableConfig(
        "events", "ks", "maps", parse_mapping("pk=key, mk=value.mk, mv=value.mv"),
        query="UPDATE ks.maps SET m[:mk] = :mv WHERE pk = :pk",
        deletes_enabled=False, null_to_unset=False,
    )
    vschema = StructType(
        [StructField("mk", StringType()), StructField("mv", IntegerType())]
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    out = replay_map_entries(routed, schema, "mk", "mv")
    # JSON-render the parallel arrays so the driver's pandas hash can sort them.
    return out.select(
        "pk",
        F.to_json(F.col("mks")).alias("mks"),
        F.to_json(F.col("mvs")).alias("mvs"),
    )


@register(
    "sink_provided_udt_partial",
    oracle="""
    WITH m AS (
      SELECT user_id AS pk, event_id AS o,
             CASE WHEN event_type <> 'error'
                  THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS f1,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN upper(event_type) END AS f2
      FROM events
    ), w AS (
      SELECT pk,
             max_by(f1, CASE WHEN f1 IS NOT NULL THEN o END) AS f1,
             max_by(f2, CASE WHEN f2 IS NOT NULL THEN o END) AS f2
      FROM m GROUP BY pk
    )
    SELECT CAST(pk AS BIGINT) AS pk, f1 AS u_f1, f2 AS u_f2
    FROM w
    """,
)
def sink_provided_udt_partial(spark, sf_dir):
    """W5 partial non-frozen UDT update (reference:
    ProvidedQueryCCMIT.java:333-441): ``UPDATE ... SET u.f1 = :f1`` touches
    ONE field of a non-frozen UDT; with nullToUnset=true a null bound value
    leaves the field untouched. Final state is per-FIELD last-non-null — the
    same apply_null_to_unset aggregation at UDT-field granularity (each UDT
    field is a column in the replay model; the writer stage re-assembles the
    struct)."""
    from kafka_sink_spark.operators.writes import apply_null_to_unset

    events = load_tables(spark, sf_dir, ("events",))["events"]
    f1 = F.when(F.col("event_type") != "error", _k())
    f2 = F.when(
        F.col("event_type").isin("click", "purchase"), F.upper(F.col("event_type"))
    )
    value = F.concat(
        F.lit('{"f1": '), F.coalesce(f1.cast("string"), F.lit("null")),
        F.lit(', "f2": '),
        F.coalesce(F.concat(F.lit('"'), f2, F.lit('"')), F.lit("null")),
        F.lit("}"),
    )
    records = _records(events, key=F.col("user_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "udt_partial",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("u_f1", "int"),
            ColumnSpec("u_f2", "string"),
        ],
    )
    table = TableConfig(
        "events", "ks", "udt_partial",
        parse_mapping("pk=key, u_f1=value.f1, u_f2=value.f2"),
        query="UPDATE ks.udt_partial SET u.f1 = :u_f1, u.f2 = :u_f2 WHERE pk = :pk",
        deletes_enabled=False,
    )
    vschema = StructType(
        [StructField("f1", IntegerType()), StructField("f2", StringType())]
    )
    routed = _sink(records, table, schema, value_schema=vschema)
    return apply_null_to_unset(routed, table, schema)


# --------------------------------------------------------------------------
# S1/§1.2 — Struct mode over union-of-record + nested logical types
# --------------------------------------------------------------------------

_AVRO_UNION_SCHEMA = (
    '{"type":"record","name":"ev2","fields":['
    '{"name":"pk","type":"long"},'
    '{"name":"meta","type":["null",{"type":"record","name":"meta_t","fields":['
    '{"name":"amount","type":{"type":"bytes","logicalType":"decimal",'
    '"precision":12,"scale":2}},'
    '{"name":"day","type":{"type":"int","logicalType":"date"}},'
    '{"name":"at","type":{"type":"long","logicalType":"timestamp-micros"}},'
    '{"name":"tmillis","type":{"type":"int","logicalType":"time-millis"}}'
    "]}]}]}"
)


@register(
    "sink_avro_union_decode",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE CAST(CAST(user_id * 100 + 7 AS DOUBLE) / 100 AS DOUBLE)
           END AS amount,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE CAST(user_id AS INTEGER) END AS day_num,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE CAST(event_id * 1000000 + 123456 AS BIGINT) END AS at_micros,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE CAST(event_id % 86400000 AS BIGINT) END AS t_millis
    FROM events
    """,
)
def sink_avro_union_decode(spark, sf_dir):
    """Struct/Avro decode of a [null, record] union carrying nested logical
    types — decimal-on-bytes, date, timestamp-micros, time-millis — through
    ``decode_avro_records`` (reference: AvroJsonConvertersTest.java:82-159;
    StructEndToEndCCMIT nested-struct cases). It certifies the decoder alone
    and maps nothing; the sink's Avro mode uses the same from_avro /
    Python-codec dispatch. Every 4th record takes the null union branch.
    time-millis is the regression pin for the raw-int decode rule (a
    datetime.time here would be Arrow-rescaled 1000x); timestamp encode uses
    exact integer arithmetic."""
    import datetime as _dt
    from decimal import Decimal

    from pyspark.sql.types import BinaryType

    from kafka_sink_spark.sources.avro import decode_avro_records
    from kafka_sink_spark.sources.avro_python import encode

    events = load_tables(spark, sf_dir, ("events",))["events"]
    schema_json = _AVRO_UNION_SCHEMA

    @F.pandas_udf(BinaryType())
    def avro_encode(event_id: pd.Series, user_id: pd.Series) -> pd.Series:
        import json as _json

        sch = _json.loads(schema_json)  # parse ONCE per batch, not per row
        epoch = _dt.date(1970, 1, 1)
        out = []
        for eid, uid in zip(event_id, user_id):
            eid, uid = int(eid), int(uid)
            meta = (
                None
                if eid % 4 == 0
                else {
                    "amount": Decimal(uid * 100 + 7).scaleb(-2),
                    "day": epoch + _dt.timedelta(days=uid),
                    "at": _dt.datetime(1970, 1, 1)
                    + _dt.timedelta(microseconds=eid * 1_000_000 + 123456),
                    "tmillis": eid % 86_400_000,
                }
            )
            out.append(encode(sch, {"pk": eid, "meta": meta}))
        return pd.Series(out)

    records = events.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").cast("string").alias("key"),
        avro_encode(F.col("event_id"), F.col("user_id")).alias("value"),
    )
    decoded = decode_avro_records(records, schema_json)
    return decoded.select(
        F.col("value.pk").alias("pk"),
        F.col("value.meta.amount").cast("double").alias("amount"),
        F.datediff(
            F.col("value.meta.day"), F.lit("1970-01-01").cast("date")
        ).alias("day_num"),
        F.unix_micros(F.col("value.meta.at")).alias("at_micros"),
        F.col("value.meta.tmillis").alias("t_millis"),
    )


# --------------------------------------------------------------------------
# C15 — DateRange sub-day precision bounds (validated passthrough)
# --------------------------------------------------------------------------


@register(
    "sink_daterange_precision",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS pk,
           CASE event_id % 6
             WHEN 0 THEN '[2020-01-01T10:15 TO *]'
             WHEN 1 THEN '[2020-01-01T10:15:30.123 TO 2020-01-02]'
             WHEN 2 THEN '2020-06-15T23:59:59'
             WHEN 4 THEN '*'
           END AS dr
    FROM events
    WHERE event_id % 6 NOT IN (3, 5)
    """,
)
def sink_daterange_precision(spark, sf_dir):
    """C15 DateRange with sub-day precision (reference: StructEndToEndCCMIT
    DateRange cases accept hour/minute/second/millisecond bounds, e.g.
    '[2020-01-01T10:15 TO *]'): bounds at every precision level pass through;
    an unterminated range (case 3) and a 4-digit fractional second (case 5 —
    past the millisecond limit) fail validation, so the sink dead-letters
    those records. Validation is one rlike in the mapping projection."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    dr = (
        F.when(F.col("event_id") % 6 == 0, F.lit("[2020-01-01T10:15 TO *]"))
        .when(
            F.col("event_id") % 6 == 1,
            F.lit("[2020-01-01T10:15:30.123 TO 2020-01-02]"),
        )
        .when(F.col("event_id") % 6 == 2, F.lit("2020-06-15T23:59:59"))
        .when(F.col("event_id") % 6 == 3, F.lit("[2020-01-01T10 TO"))
        .when(F.col("event_id") % 6 == 4, F.lit("*"))
        .otherwise(F.lit("2020-01-01T10:15:30.1234"))
    )
    value = F.concat(F.lit('{"dr": "'), dr, F.lit('"}'))
    records = _records(events, key=F.col("event_id").cast("string"), value=value)
    schema = TableSchema(
        "ks", "dr_table",
        [
            ColumnSpec("pk", "bigint", primary_key=True),
            ColumnSpec("dr", "daterange"),
        ],
    )
    table = TableConfig(
        "events", "ks", "dr_table",
        parse_mapping("pk=key, dr=value.dr"),
        deletes_enabled=False,
    )
    vschema = StructType([StructField("dr", StringType())])
    routed = _sink(records, table, schema, value_schema=vschema)
    return routed.select("pk", "dr")

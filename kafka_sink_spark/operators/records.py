"""Record decode: Kafka record columns → mapped field namespaces.

The reference decodes each record's key and value independently into one of
three modes (reference:
sink/src/test/java/com/datastax/oss/kafka/sink/metadata/MetadataCreatorTest.java:45-155):

1. Struct (Connect/Avro schema) → typed fields
2. String that parses as JSON      → JSON fields
3. String that does NOT parse      → the whole string as ONE literal field
   ("shouldTreatStringLiterallyIfItIsIncorrectJSON", MetadataCreatorTest.java:104-116)
4. Anything else (raw primitive / bytes / list) → single ``__self`` pseudo-field
   (RawData.FIELD_NAME; reference: record/StructDataTest.java:43-46)

Spark-first realization: mode 1 is ``from_avro``/typed columns, modes 2–3 are
``from_json`` in PERMISSIVE mode with a corrupt-record column providing the
literal fallback, mode 4 is a plain ``cast``. All JVM-side, no Python UDFs —
the whole decode stays inside WholeStageCodegen.

Canonical record DataFrame (what ``spark.readStream.format("kafka")`` yields,
plus ``headers`` as a map):

    topic STRING, partition INT, offset LONG, timestamp TIMESTAMP,
    key STRING|BINARY|*, value STRING|BINARY|*, headers MAP<STRING, STRING>
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"

# Decoded namespace columns added to the record DataFrame.
KEY_PARSED = "_key_parsed"
KEY_LITERAL = "_key_literal"
VALUE_PARSED = "_value_parsed"
VALUE_LITERAL = "_value_literal"
HEADERS_MAP = "headers"

# The reference's pseudo-field for whole-raw-value (RawData.FIELD_NAME).
RAW_FIELD = "__self"


def quote(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, so a dot or other
    special character in it is not read as a field path."""
    return "`" + name.replace("`", "``") + "`"


def column(name: str) -> Column:
    """A column referenced by its exact name (see :func:`quote`)."""
    return F.col(quote(name))


def project(
    schema: StructType, add: dict[str, Column] | None = None, drop: tuple[str, ...] = ()
) -> list[Column]:
    """The select list of ``df.withColumns(add).drop(*drop)`` over a frame
    of ``schema``: every kept column by name (replaced in place when ``add``
    names it), then the new ones in ``add`` order. Name-based, so one list
    applies to every frame of that schema. When nothing is replaced or
    dropped, the kept columns are one ``*``: the same projection, and each
    select pays one py4j call per list entry."""
    add = dict(add or {})
    names = schema.fieldNames()
    if not (set(add) | set(drop)) & set(names):
        return [F.col("*")] + [c.alias(name) for name, c in add.items()]
    out = []
    for name in names:
        if name not in drop:
            out.append(add.pop(name).alias(name) if name in add else column(name))
    return out + [c.alias(name) for name, c in add.items()]


def decode_stages(
    schema: StructType,
    value_schema: StructType | None = None,
    key_schema: StructType | None = None,
) -> list[list[Column]]:
    """The select lists that decode a record frame of ``schema``, applied in
    order (see :func:`decode_records`): empty when nothing is decoded (raw
    mode on both sides), else at most two projections — the staged JSON
    parse, then the parsed/literal namespace columns."""
    types = {f.name: f.dataType for f in schema.fields}
    parse: dict[str, Column] = {}
    staged: list[StructField] = []  # the columns ``parse`` adds
    derive: dict[str, Column] = {}
    for col_name, side_schema, parsed_name, literal_name in (
        ("key", key_schema, KEY_PARSED, KEY_LITERAL),
        ("value", value_schema, VALUE_PARSED, VALUE_LITERAL),
    ):
        if col_name not in types:
            continue
        source = column(col_name)
        if isinstance(types[col_name], StructType):
            # Mode 1: already a typed struct (Avro path).
            derive[parsed_name] = source
            derive[literal_name] = F.lit(None).cast("string")
        elif side_schema is not None:
            schema_with_corrupt = StructType(
                list(side_schema.fields) + [StructField(CORRUPT_COL, StringType())]
            )
            raw_name = f"_{col_name}_parsed_raw"
            # Stage 1: parse once.
            staged.append(StructField(raw_name, schema_with_corrupt))
            parse[raw_name] = F.from_json(
                source.cast("string"),
                schema_with_corrupt,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            )
            # Stage 2: derive parsed/literal from the staged parse.
            raw = F.col(raw_name)
            is_corrupt = raw.getField(CORRUPT_COL).isNotNull()
            derive[parsed_name] = F.when(source.isNotNull() & ~is_corrupt, raw).otherwise(
                F.lit(None)
            )
            derive[literal_name] = F.when(
                source.isNotNull() & is_corrupt, source.cast("string")
            ).otherwise(F.lit(None))
        # Raw mode: no namespace columns; the compiler reads the bare column.
    if not parse:
        return [project(schema, derive)] if derive else []
    # Stage 2 drops the staged parse: nothing downstream reads it, and a
    # persisted decoded frame would otherwise hold each payload twice.
    parsed = StructType(list(schema.fields) + staged)
    return [project(schema, parse), project(parsed, derive, drop=tuple(parse))]


def decode_records(
    records: DataFrame,
    value_schema: StructType | None = None,
    key_schema: StructType | None = None,
) -> DataFrame:
    """Add decoded key/value namespace columns to a record DataFrame.

    - With a schema: JSON decode with literal fallback (modes 2-3).
      ``from_json`` in PERMISSIVE mode with ``columnNameOfCorruptRecord``
      yields the raw text in the corrupt column when the input is not valid
      JSON; that surfaces as the literal-fallback field while the parsed
      struct is nulled for such rows (MetadataCreatorTest.java:69-116).
    - Without a schema: raw mode — the bare column IS the single field
      (mode 4); whole-key/value mapping reads it directly.
    - If the key/value column is already a struct (the Avro/Connect path after
      ``from_avro``), it is used as the parsed namespace unchanged (mode 1).

    Keeps every original column (topic/partition/offset/timestamp/headers) so
    downstream stages can use record metadata (writetime, routing).

    Perf note: the raw ``from_json`` result is materialized under its own
    alias in a FIRST projection and only referenced (3×) in the second —
    CollapseProject refuses to inline a non-cheap multiply-referenced alias,
    so the JSON parse runs exactly once per record instead of once per
    referencing expression.
    """
    return apply_stages(records, decode_stages(records.schema, value_schema, key_schema))


def apply_stages(df: DataFrame, stages: list) -> DataFrame:
    """Apply decode stages in order: a select list is one projection; a
    callable (the Python Avro codec's ``mapInPandas``) maps the frame."""
    for stage in stages:
        df = stage(df) if callable(stage) else df.select(*stage)
    return df


def headers_from_entries(headers_array: Column) -> Column:
    """Kafka source headers come as ARRAY<STRUCT<key,value>>; the reference
    addresses them by name (HeadersCCMIT.java:119-242) → map for O(1) lookup."""
    return F.map_from_entries(headers_array)

"""Mapping compiler: parsed mapping entries → Spark Column select list.

This is the reference's RecordMapper "compiled per table at task start"
(reference: sink/src/main/java/com/datastax/oss/kafka/sink/CassandraSinkTask.java
flow pinned by CassandraSinkTaskTest.java:56-92) re-expressed declaratively:
the output is a plain ``df.select(...)`` list so Catalyst sees one projection —
column pruning and codegen apply to the whole mapping stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType, StructType

from kafka_sink_spark.config import ConfigError, TableConfig, TableSchema
from kafka_sink_spark.functions import codecs
from kafka_sink_spark.functions.timeuuid import now_timeuuid
from kafka_sink_spark.mapping.parser import (
    TIMESTAMP_TARGET,
    TTL_TARGET,
    MappingEntry,
    MappingError,
)
from kafka_sink_spark.operators import records as R

# Special targets → output column; their values convert to double (the
# unit conversion happens in operators.writes).
_SPECIAL = {TTL_TARGET: "_mapped_ttl", TIMESTAMP_TARGET: "_mapped_timestamp"}


def _source(
    types: dict[str, DataType], entry: MappingEntry, target: str | None
) -> tuple[Column, DataType]:
    """A mapping entry's source field on a decoded record frame whose columns
    have ``types``: its Column and its type. ``target`` is the type it maps
    onto, when known."""
    if entry.is_function:
        if entry.path != "now":
            # Whitelist is exactly [now()] (HeadersCCMIT.java:264).
            raise MappingError(f"unsupported function {entry.path}()")
        return now_timeuuid(), StringType()

    ns = entry.namespace
    if ns == "header":
        if R.HEADERS_MAP not in types:
            raise MappingError("record DataFrame has no headers column")
        return F.col(R.HEADERS_MAP).getItem(entry.path), types[R.HEADERS_MAP].valueType

    if ns not in types:
        raise MappingError(f"record DataFrame has no {ns} column")
    parsed = {"key": R.KEY_PARSED, "value": R.VALUE_PARSED}[ns]
    if entry.path == R.RAW_FIELD or parsed not in types:
        if entry.path in (None, R.RAW_FIELD):
            # Raw mode, or value.__self: the bare column (StructDataTest.java:43-46).
            return F.col(ns), types[ns]
        raise MappingError(
            f"mapping references {entry.source_name} but record {ns} was decoded in "
            f"raw mode; only bare '{ns}' or '{ns}.{R.RAW_FIELD}' is addressable"
        )
    fields = [f for f in types[parsed].fields if f.name != R.CORRUPT_COL]
    if entry.path is None:
        whole = F.col(parsed).dropFields(R.CORRUPT_COL)
        if target is None or target.strip().lower().startswith("struct"):
            return whole, StructType(fields)
        # Whole JSON key/value onto a non-struct column: valid JSON rows
        # render as JSON text, non-JSON rows fall back to the literal string
        # (mode-3 literal semantics, MetadataCreatorTest.java:104-116).
        literal = {"key": R.KEY_LITERAL, "value": R.VALUE_LITERAL}[ns]
        return F.coalesce(F.to_json(whole), F.col(literal)), StringType()
    field = next((f for f in fields if f.name == entry.path), None)
    if field is None:
        raise MappingError(f"mapping references {entry.source_name}, a field the {ns} lacks")
    return F.col(parsed).getField(entry.path), field.dataType


def conversions(
    record_schema: StructType, table: TableConfig, schema: TableSchema | None
) -> list[tuple[str, Column, Column | None]]:
    """Per mapping entry: its output column, its source value, and that value
    converted to its target type by ``codecs.convert`` under the table's
    codec settings — None when the source already has the target type
    (nothing to convert, so nothing can fail). A pair that no conversion
    can read is a ``ConfigError`` naming the entry."""
    types = {f.name: f.dataType for f in record_schema.fields}
    out = []
    for entry in table.mapping:
        name = _SPECIAL.get(entry.column, entry.column)
        if entry.column in _SPECIAL:
            target = "double"
        else:
            col_spec = schema.by_name.get(entry.column) if schema is not None else None
            target = None if col_spec is None else col_spec.spark_type
        source, source_type = _source(types, entry, target)
        if target is None or codecs.same_type(source_type, target):
            out.append((name, source, None))
            continue
        try:
            value = codecs.convert(source, source_type, target, table.codec)
        except ConfigError as e:
            raise ConfigError(
                f"{table.keyspace}.{table.table}: column {entry.column} ({target}) cannot "
                f"take {entry.source_name} ({source_type.simpleString()}): {e}"
            ) from None
        out.append((name, source, value))
    return out


def compile_mapping(
    df: DataFrame,
    table: TableConfig,
    schema: TableSchema | None = None,
) -> DataFrame:
    """Apply a table's mapping to a decoded record DataFrame: the one
    projection of :func:`mapping_columns`. The mapping is validated against
    the table once, when the sink starts (``TableConfig.validate_against``),
    not here."""
    return df.select(*mapping_columns(df.schema, table, schema))


def mapping_columns(
    record_schema: StructType,
    table: TableConfig,
    schema: TableSchema | None = None,
) -> list[Column]:
    """A table's mapping as the select list over a decoded record frame of
    ``record_schema``.

    Output columns: one per mapped target column. When ``schema`` is given,
    each value whose type differs from its table column's converts through
    ``codecs.convert`` with the table's ``codec.*`` settings (SURVEY §2.4
    C1–C5, C15); a value the conversion cannot read comes out null, and
    the sink flags that record as a mapping error. Special
    targets ``__ttl`` / ``__timestamp`` come out as ``_mapped_ttl`` /
    ``_mapped_timestamp`` doubles, converted the same way (the unit
    conversion happens in operators.writes).
    """
    values = conversions(record_schema, table, schema)
    return select_list(
        record_schema, [(name, src if v is None else v) for name, src, v in values]
    )


def select_list(record_schema: StructType, values: list[tuple[str, Column]]) -> list[Column]:
    """The mapping's select list over a frame of ``record_schema``: each
    ``(name, value)`` as its output column, then the record metadata columns
    as ``_kafka_*`` for the write stage (routing, record-timestamp
    writetime)."""
    select = [value.alias(name) for name, value in values]
    cols = set(record_schema.fieldNames())
    for meta in ("topic", "partition", "offset", "timestamp"):
        if meta in cols:
            select.append(F.col(meta).alias(f"_kafka_{meta}"))
    return select

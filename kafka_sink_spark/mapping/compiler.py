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
from pyspark.sql.types import StructType

from kafka_sink_spark.config import TableConfig, TableSchema
from kafka_sink_spark.functions.timeuuid import now_timeuuid
from kafka_sink_spark.mapping.parser import (
    TIMESTAMP_TARGET,
    TTL_TARGET,
    MappingEntry,
    MappingError,
)
from kafka_sink_spark.operators import records as R


def _namespace_expr(cols: set[str], entry: MappingEntry) -> Column:
    """Resolve a mapping entry's source field to a Column on a decoded
    record frame with columns ``cols``."""
    if entry.is_function:
        if entry.path != "now":
            # Whitelist is exactly [now()] (HeadersCCMIT.java:264).
            raise MappingError(f"unsupported function {entry.path}()")
        return now_timeuuid()

    ns = entry.namespace
    parsed = {"key": R.KEY_PARSED, "value": R.VALUE_PARSED}.get(ns)

    if ns == "header":
        if R.HEADERS_MAP not in cols:
            raise MappingError("record DataFrame has no headers column")
        return F.col(R.HEADERS_MAP).getItem(entry.path)

    if entry.path is None:
        # Whole key/value. Raw mode → the bare column. JSON mode: resolved in
        # compile_mapping (target-type aware: struct target gets the parsed
        # struct; scalar target gets JSON text with literal fallback for
        # non-JSON rows, MetadataCreatorTest.java:104-116).
        if parsed in cols:
            return F.col(parsed).dropFields(R.CORRUPT_COL)
        return F.col(ns)

    if entry.path == R.RAW_FIELD:
        # value.__self: the raw pseudo-field (StructDataTest.java:43-46).
        return F.col(ns)

    if parsed in cols:
        return F.col(parsed).getField(entry.path)
    raise MappingError(
        f"mapping references {entry.source_name} but record {ns} was decoded in "
        f"raw mode; only bare '{ns}' or '{ns}.{R.RAW_FIELD}' is addressable"
    )


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

    Output columns: one per mapped target column, cast to the table column's
    Spark type when ``schema`` is given (the codec layer's cast fast path —
    SURVEY §2.4 C1/C2). Special targets ``__ttl`` / ``__timestamp`` come out
    as ``_mapped_ttl`` / ``_mapped_timestamp`` raw (unit conversion happens in
    operators.writes). Record metadata columns ride along as ``_kafka_*``
    for the write stage (routing, record-timestamp writetime).
    """
    select: list[Column] = []
    cols = set(record_schema.fieldNames())
    for entry in table.mapping:
        expr = _namespace_expr(cols, entry)
        # Whole-key/value onto a NON-struct column in JSON-decode mode: valid
        # JSON rows render as JSON text, non-JSON rows fall back to the
        # literal string (mode-3 literal semantics).
        if not entry.is_function and entry.path is None and schema is not None:
            parsed = {"key": R.KEY_PARSED, "value": R.VALUE_PARSED}.get(entry.namespace)
            literal = {"key": R.KEY_LITERAL, "value": R.VALUE_LITERAL}.get(entry.namespace)
            col_spec = schema.by_name.get(entry.column)
            if (
                parsed in cols
                and col_spec is not None
                and not _is_struct_target(col_spec.spark_type)
            ):
                expr = F.coalesce(F.to_json(expr), F.col(literal))
        if entry.column == TTL_TARGET:
            select.append(expr.cast("double").alias("_mapped_ttl"))
            continue
        if entry.column == TIMESTAMP_TARGET:
            select.append(expr.cast("double").alias("_mapped_timestamp"))
            continue
        if schema is not None:
            col_spec = schema.by_name.get(entry.column)
            if col_spec is not None:
                target = col_spec.spark_type.strip().lower()
                if target in _GEO_TARGETS:
                    # C15 DSE geo/daterange: validated WKT / range-text
                    # passthrough (StructEndToEndCCMIT.java:206-209, 262-280).
                    from kafka_sink_spark.functions import codecs as _codecs

                    if target == "daterange":
                        expr = _codecs.daterange_passthrough(expr.cast("string"))
                    else:
                        expr = _codecs.wkt_passthrough(
                            expr.cast("string"), _GEO_TARGETS[target]
                        )
                else:
                    # UDT/tuple targets too: Spark casts struct-to-struct by
                    # field name, with per-field coercion (C11, C14).
                    expr = expr.cast(col_spec.spark_type)
        select.append(expr.alias(entry.column))

    for meta in ("topic", "partition", "offset", "timestamp"):
        if meta in cols:
            select.append(F.col(meta).alias(f"_kafka_{meta}"))
    return select


# C15 pseudo-types: declared in ColumnSpec.spark_type, stored as validated
# strings (see functions.codecs.wkt_passthrough / daterange_passthrough).
_GEO_TARGETS = {
    "geo_point": "point",
    "geo_linestring": "linestring",
    "geo_polygon": "polygon",
    "daterange": "daterange",
}


def _is_struct_target(spark_type: str) -> bool:
    return spark_type.strip().lower().startswith("struct")


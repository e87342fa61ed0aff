"""Avro (Connect Struct) decode path — mode 1 of the record model.

The reference's Struct mode receives Kafka Connect ``Struct`` values carrying
an Avro schema (SURVEY §1.2; reference:
sink/src/test/java/com/datastax/oss/kafka/sink/metadata/MetadataCreatorTest.java:45-66).
Spark-first equivalent: ``from_avro(value, schema_json)`` turns the binary
payload into a typed struct column, and ``decode_records`` then treats it as
the parsed namespace unchanged (mode-1 branch in operators/records.py).

The spark-avro data source is a separate jar (``org.apache.spark:spark-avro``)
that is NOT bundled in this container — ``decode_avro_records`` prefers
``from_avro`` (JVM, vectorized) and, when the jar is absent, falls back to
the pure-Python wire codec in ``sources/avro_python.py`` (Arrow-batched
``mapInPandas``; ~UDF speed, real Avro binary). The rest of the pipeline
(mapping, codecs, routing, writers) is schema-typed and identical for
JSON-parsed and Avro-parsed structs.
"""

from __future__ import annotations

import functools
import logging
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

logger = logging.getLogger(__name__)

# Marks a record whose key or value was null BEFORE the decode (a tombstone
# or a keyless record), not a corrupt payload.
_WAS_NULL = "__{}_was_null"


def _is_missing_avro_source(exc: Exception) -> bool:
    """True only for the 'spark-avro jar absent' analysis failure; genuine
    schema/column errors must propagate rather than silently demote the job
    to the ~100x-slower Python wire codec."""
    msg = str(exc)
    return (
        "AVRO_NOT_LOADED" in msg  # Spark 4.x error class
        or "FAILED_FIND_DATA_SOURCE" in msg
        or "Failed to find data source" in msg  # Spark 3.x wording
    )


class AvroNotAvailable(RuntimeError):
    """Raised when the spark-avro data source is not on the classpath."""


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro jar is loaded (from_avro usable)."""
    from pyspark.sql.avro.functions import from_avro

    schema = '{"type":"record","name":"probe","fields":[{"name":"a","type":"int"}]}'
    try:
        # Analysis (not execution) is enough to detect the missing source.
        df = spark.range(1).select(from_avro(F.lit(bytearray(b"\x02")), schema))
        df.schema  # forces analysis
        return True
    except Exception as exc:
        if _is_missing_avro_source(exc):
            return False
        raise


def decode_avro_records(
    records: DataFrame,
    value_avro_schema: str,
    key_avro_schema: str | None = None,
    options: dict[str, str] | None = None,
    allow_python_fallback: bool = True,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Replace binary key/value columns with Avro-decoded structs, then run
    the standard record decode (struct mode): the stages of
    :func:`avro_decode_stages`.

    ``value_avro_schema`` / ``key_avro_schema`` are Avro schema JSON strings
    (what the reference gets from Schema Registry). ``options`` passes
    through to ``from_avro`` (e.g. {"mode": "PERMISSIVE"}) and to the
    Python fallback, which honors the same parse modes.

    ``corrupt_col``: when set (meaningful with mode=PERMISSIVE), adds a
    boolean column marking records whose key or value payload was non-null
    but failed to decode — distinguishing corrupt records (ignoreErrors
    territory) from genuine null-value tombstones (delete-on-null routing).
    Works identically on the JVM and fallback paths, since both turn a
    corrupt payload into a null struct under PERMISSIVE.

    Decode path: ``from_avro`` when the spark-avro jar is loaded (JVM,
    vectorized — the 100 TB path); otherwise the pure-Python wire codec
    (sources/avro_python.py, Arrow-batched) unless ``allow_python_fallback``
    is False, in which case AvroNotAvailable is raised.
    """
    from kafka_sink_spark.operators.records import apply_stages

    stages = avro_decode_stages(
        records.schema,
        value_avro_schema,
        key_avro_schema,
        options,
        corrupt_col,
        jvm=use_from_avro(records.sparkSession, allow_python_fallback),
    )
    return apply_stages(records, stages)


def use_from_avro(spark: SparkSession, allow_python_fallback: bool = True) -> bool:
    """Pick the decode path: True for ``from_avro`` (the spark-avro jar is
    loaded), False for the Python wire codec; raises AvroNotAvailable when
    the jar is absent and the fallback is not allowed."""
    if avro_available(spark):
        return True
    if not allow_python_fallback:
        raise AvroNotAvailable(
            "the spark-avro data source is not loaded; add the "
            "org.apache.spark:spark-avro jar matching your Spark version "
            "(spark.jars.packages) to enable JVM Struct/Avro decode"
        )
    logger.warning(
        "spark-avro data source not loaded; falling back to the "
        "pure-Python Avro wire codec (Arrow-batched, ~100x slower — "
        "add org.apache.spark:spark-avro for the JVM path)"
    )
    return False


def avro_decode_stages(
    schema: StructType,
    value_avro_schema: str,
    key_avro_schema: str | None = None,
    options: dict[str, str] | None = None,
    corrupt_col: str | None = None,
    jvm: bool = True,
) -> list:
    """The stages of :func:`decode_avro_records` for a record frame of
    ``schema``, applied in order by ``operators.records.apply_stages``: the
    Avro decode (one ``from_avro`` projection when ``jvm``, else one
    ``mapInPandas`` per side), the corrupt flag, then the struct-mode
    record decode."""
    from kafka_sink_spark.operators.records import column, decode_stages, project
    from kafka_sink_spark.sources.avro_python import (
        avro_column_decoder,
        avro_schema_to_spark,
        resolve_named_types,
    )

    sides = {"value": value_avro_schema}
    if key_avro_schema is not None:
        sides["key"] = key_avro_schema
    was_null = {side: _WAS_NULL.format(side) for side in sides} if corrupt_col else {}
    flag = {name: column(side).isNull() for side, name in was_null.items()}

    def flagged(st: StructType) -> StructType:
        return StructType(list(st.fields) + [StructField(n, BooleanType()) for n in flag])

    stages: list = []
    if jvm:
        from pyspark.sql.avro.functions import from_avro

        decoded = {
            side: from_avro(column(side), avro_schema, options or {})
            for side, avro_schema in sides.items()
        }
        stages.append(project(schema, {**decoded, **flag}))
        out = flagged(
            StructType(
                [
                    StructField(f.name, avro_schema_to_spark(resolve_named_types(sides[f.name])))
                    if f.name in sides
                    else f
                    for f in schema.fields
                ]
            )
        )
    else:
        if flag:
            stages.append(project(schema, flag))
        out = flagged(schema)
        mode = (options or {}).get("mode", "FAILFAST")  # from_avro's parse mode
        for side, avro_schema in sides.items():
            decode_frame, out = avro_column_decoder(out, side, avro_schema, mode=mode)
            stages.append(decode_frame)
    if flag:
        corrupt = functools.reduce(
            operator.or_,
            (column(side).isNull() & ~F.col(name) for side, name in was_null.items()),
        )
        stages.append(project(out, {corrupt_col: corrupt}, drop=tuple(flag)))
        out = StructType(
            [f for f in out.fields if f.name not in flag]
            + [StructField(corrupt_col, BooleanType())]
        )
    return stages + decode_stages(out)

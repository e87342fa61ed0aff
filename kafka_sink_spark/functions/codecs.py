"""Scalar conversion library — the reference's dsbulk-codec layer as Spark
column expressions (SURVEY.md §2.4, C1–C17).

Everything here is a pure Column→Column function built from
``pyspark.sql.functions`` builtins, so conversions stay JVM-side.

:func:`convert` is the one place that decides how a mapped value becomes its
target column's type, under its topic's ``codec.*`` settings
(reference: sink/src/it/java/com/datastax/oss/kafka/sink/ccm/JsonEndToEndCCMIT.java:303-336).
Every conversion it builds yields null where the reference's codec would
fail, never a raised error, so the mapping can flag the failure per record.
"""

from __future__ import annotations

import functools
import re
from decimal import Decimal as PyDecimal

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    MapType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_sink_spark.config import LOCALE_SEPS, ConfigError

# --- the one conversion entry point ----------------------------------------

# C15 pseudo-types: declared in ColumnSpec.spark_type, stored as validated
# strings (see wkt_passthrough / daterange_passthrough).
GEO_TARGETS = {
    "geo_point": "point",
    "geo_linestring": "linestring",
    "geo_polygon": "polygon",
}
DATERANGE_TARGET = "daterange"


@functools.lru_cache(maxsize=64)
def _spark_type(target_type: str) -> DataType:
    return DataType.fromDDL(target_type)


def same_type(source_type: DataType, target_type: str) -> bool:
    """Whether a value of ``source_type`` already is of the column type
    ``target_type`` (nullability aside), so there is nothing to convert."""
    name = target_type.strip().lower()
    if name in GEO_TARGETS or name == DATERANGE_TARGET:
        return False
    return source_type.simpleString() == _spark_type(target_type).simpleString()


def convert(source: Column, source_type: DataType, target_type: str, codec) -> Column:
    """``source`` (of ``source_type``) as the column type ``target_type``,
    under the codec settings ``codec`` (a ``config.CodecConfig``):

    - numeric → timestamp: epoch in ``codec.unit`` (C5);
    - string → timestamp / date: ``codec.timestamp`` / ``codec.date``
      pattern, zone-less text read in ``codec.timeZone`` (C4);
    - string → number: ``codec.locale`` separators (C3);
    - string → array / map / struct: the text read as JSON (C8/C10/C11);
    - struct → struct (UDT): each target field by name, converted from the
      source field of that name; a field the source lacks is null (C11/C14);
    - geo / daterange: validated passthrough (C15);
    - anything else: ``try_cast`` (C1/C2).

    A value the conversion cannot read comes out null. A pair of types that
    no conversion reads (one Spark cannot cast) raises ``ConfigError``.
    """
    name = target_type.strip().lower()
    if name == DATERANGE_TARGET:
        return daterange_passthrough(source.try_cast("string"))
    if name in GEO_TARGETS:
        return wkt_passthrough(source.try_cast("string"), GEO_TARGETS[name])
    target = _spark_type(target_type)
    if isinstance(target, TimestampType) and isinstance(source_type, NumericType):
        return epoch_to_timestamp(source, codec.unit)
    if isinstance(source_type, StringType):
        if isinstance(target, TimestampType):
            return string_to_timestamp(source, codec.timestamp_pattern, codec.time_zone)
        if isinstance(target, DateType):
            return string_to_date(source, codec.date_pattern)
        if isinstance(target, NumericType):
            return parse_number_locale(source, codec.locale, target_type)
        if isinstance(target, (ArrayType, MapType, StructType)):
            return _parse_json(source, target)
    if isinstance(source_type, StructType) and isinstance(target, StructType):
        return _struct_by_name(source, source_type, target, codec)
    if not _can_try_cast(source_type, target):
        raise ConfigError(f"no conversion from {source_type.simpleString()} to {target_type}")
    return source.try_cast(target_type)


def _struct_by_name(source: Column, source_type: StructType, target: StructType, codec) -> Column:
    """A struct onto a struct (UDT) type, field by field by name: each
    target field from the source field of that name through :func:`convert`
    (as is when its type already matches), null when the source has no such
    field; a null source stays null. Spark's own struct cast pairs fields by
    position."""
    have = {f.name: f.dataType for f in source_type.fields}
    fields = []
    for field in target.fields:
        ddl = field.dataType.simpleString()
        if field.name not in have:
            value = F.lit(None).cast(field.dataType)
        elif same_type(have[field.name], ddl):
            value = source.getField(field.name)
        else:
            value = convert(source.getField(field.name), have[field.name], ddl, codec)
        fields.append(value.alias(field.name))
    return F.when(source.isNotNull(), F.struct(*fields))


def _can_try_cast(source_type: DataType, target: DataType) -> bool:
    """Whether Spark's ``try_cast`` accepts ``source_type`` → ``target``,
    asked of Spark's own cast rules (the analyzer rejects the rest)."""
    jvm = SparkContext._jvm
    to_jvm = jvm.org.apache.spark.sql.types.DataType.fromJson
    cast = jvm.org.apache.spark.sql.catalyst.expressions.Cast
    return cast.canTryCast(to_jvm(source_type.json()), to_jvm(target.json()))


# --- C1/C2: numeric width / boolean / string casts -------------------------
# ``try_cast`` to the table column's type, applied by :func:`convert`
# (reference: StructEndToEndCCMIT.java:86-224, JsonEndToEndCCMIT.java:109-158);
# a number onto a boolean reads nonzero as true (StructEndToEndCCMIT.java:234-238).


# --- C3: locale-aware string → number (codec.locale) -----------------------

# What a space-grouping locale accepts as its grouping separator.
_SPACES = " \t\n\x0b\f\r\u00a0\u202f"


def parse_number_locale(col: Column, locale: str = "en_US", target: str = "double") -> Column:
    """Numeric text in ``locale`` → the number type ``target``: grouping
    separators dropped, the decimal separator read as ``.``, then
    ``try_cast`` (exact for every integral and decimal type — no detour
    through a double). Text that is not a number comes out null.

    Space-grouping locales (fr_FR) accept any space as grouping; stripping
    whitespace for every locale would silently accept malformed input. One
    ``translate`` does both edits — all java.text.DecimalFormat does for
    plain numbers.
    """
    group, dec = LOCALE_SEPS[locale]
    text = F.translate(col, dec + (_SPACES if group.isspace() else group), ".")
    if dec == ".":
        # The cast rejects any grouping separator, so text it reads as it is
        # needs no translate: only grouped numbers pay for one (3x cheaper).
        return F.coalesce(col.try_cast(target), text.try_cast(target))
    return text.try_cast(target)


# --- C4/C5/C6: temporal conversions ---------------------------------------

# Text that carries its own zone: a Z, an offset or a zone id after the
# time of day (``17:12:32Z``, ``17:12:32.584+02:00``, ``17:12 Europe/Paris``).
_ZONED_TEXT = r":[0-9]{2}(\.[0-9]*)?\s*[^\s0-9.:]"
# Pattern letters that parse a zone or an offset.
_ZONE_LETTERS = re.compile(r"[VzOXxZ]")


def _lenient(pattern: str | None) -> bool:
    """The reference's named formatters parse as Spark's lenient ISO reader."""
    return pattern is None or pattern == "CQL_TIMESTAMP" or pattern.startswith("ISO_")


def string_to_timestamp(
    col: Column, pattern: str | None = None, time_zone: str = "UTC"
) -> Column:
    """C4: string → timestamp by pattern; None, CQL_TIMESTAMP and the ISO_*
    names use Spark's lenient ISO parsing (matches the reference defaults for
    ISO input). Text with no zone of its own is a wall-clock time in
    ``time_zone`` (codec.timeZone): the session-zone parse is re-read in it.
    """
    if _lenient(pattern):
        parsed = F.try_to_timestamp(col)
        zoned = col.rlike(_ZONED_TEXT)
    else:
        parsed = F.try_to_timestamp(col, F.lit(pattern))
        zoned = F.lit(bool(_ZONE_LETTERS.search(re.sub(r"'[^']*'", "", pattern))))
    local = F.to_utc_timestamp(F.from_utc_timestamp(parsed, F.current_timezone()), time_zone)
    return F.when(zoned, parsed).otherwise(local)


def string_to_date(col: Column, pattern: str | None = None) -> Column:
    if _lenient(pattern):
        return F.try_to_date(col)
    return F.try_to_date(col, pattern)


# codec.unit → microseconds per unit; NANOSECONDS divides instead.
_EPOCH_MICROS = {
    "MICROSECONDS": 1,
    "MILLISECONDS": 1_000,
    "SECONDS": 1_000_000,
    "MINUTES": 60_000_000,
    "HOURS": 3_600_000_000,
    "DAYS": 86_400_000_000,
}


def epoch_to_timestamp(col: Column, unit: str = "MILLISECONDS") -> Column:
    """C5: numeric-since-epoch → timestamp selected by codec.unit
    (reference: JsonEndToEndCCMIT.java:303-336, `vseconds: 1520611952`).
    Integer arithmetic throughout: nanoseconds floor-divide to microseconds
    (through a double, 1700000000000000999 ns would round up a microsecond),
    and a value past the timestamp range comes out null."""
    n = col.try_cast("long")
    if unit == "NANOSECONDS":
        micros = F.call_function("div", n - F.pmod(n, F.lit(1000)), F.lit(1000))
    elif unit in _EPOCH_MICROS:
        micros = F.try_multiply(n, F.lit(_EPOCH_MICROS[unit]))
    else:
        raise ValueError(f"unsupported epoch unit {unit}")
    return F.timestamp_micros(micros)


def hhmmss_numeric_to_time_nanos(col: Column) -> Column:
    """C6: HHmmssSSS-packed integer → nanos-of-day (CQL ``time``).

    Reference: ``171232584`` → ``17:12:32.584`` (JsonEndToEndCCMIT.java:320-335).
    Pure integer arithmetic — no UDF, no string round-trip.
    """
    n = col.cast("long")
    millis = n % 1000
    seconds = (n / 1000).cast("long") % 100
    minutes = (n / 100000).cast("long") % 100
    hours = (n / 10000000).cast("long")
    total_ms = ((hours * 3600 + minutes * 60 + seconds) * 1000 + millis).cast("long")
    return (total_ms * F.lit(1000000)).alias("time_nanos")


def time_nanos_to_string(nanos: Column) -> Column:
    """nanos-of-day → 'HH:mm:ss.SSS' display form."""
    ms = (nanos / 1e6).cast("long")
    h = (ms / 3600000).cast("long")
    m = (ms / 60000).cast("long") % 60
    s = (ms / 1000).cast("long") % 60
    frac = ms % 1000
    return F.concat(
        F.lpad(h.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(m.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(s.cast("string"), 2, "0"),
        F.lit("."),
        F.lpad(frac.cast("string"), 3, "0"),
    )


# --- C7: bytes → blob: BinaryType passthrough (StructDataTest.java:49-57) --

# --- C8/C10/C11: JSON text → list / map / UDT -----------------------------

_CORRUPT = "_corrupt_record"


def _parse_json(col: Column, target: DataType) -> Column:
    """JSON text → ``target`` (an array, map or struct type): raw value
    ``"[42, 37]"`` → list<int> (RawDataEndToEndCCMIT.java:150-162). Text
    that is not JSON of that shape comes out null; a struct is read with a
    corrupt-record field for that, since a PERMISSIVE parse alone yields a
    row of null fields."""
    if not isinstance(target, StructType):
        return F.from_json(col, target)
    parsed = F.from_json(
        col,
        StructType(target.fields + [StructField(_CORRUPT, StringType())]),
        {"columnNameOfCorruptRecord": _CORRUPT},
    )
    return F.when(parsed.getField(_CORRUPT).isNull(), parsed.dropFields(_CORRUPT))


# --- C9: array → set (dedup), nested variants -----------------------------


def array_to_set(col: Column) -> Column:
    """CQL set semantics: deduplicate; Cassandra sets are sorted — sort for a
    deterministic representation (StructEndToEndCCMIT.java:228-233)."""
    return F.array_sort(F.array_distinct(col))


def nested_array_to_set(col: Column) -> Column:
    """list<set<..>> — dedup each inner element."""
    return F.transform(col, lambda inner: F.array_sort(F.array_distinct(inner)))


# --- C12: ordered collection → UDT / tuple --------------------------------


def list_to_udt(col: Column, field_names: list[str], field_types: list[str]) -> Column:
    """Ordered collection → UDT by POSITION (`udtfromlist`,
    StructEndToEndCCMIT.java:202,247); also covers list → tuple (C12)."""
    fields = [
        col.getItem(i).cast(t).alias(name)
        for i, (name, t) in enumerate(zip(field_names, field_types))
    ]
    return F.struct(*fields)


# --- C16: decimal BASE64 vs NUMERIC (AvroJsonConvertersTest.java:82-159) ---


def base64_to_decimal(col: Column, precision: int, scale: int) -> Column:
    """Connect Decimal logical type: BASE64 text of the unscaled big-endian
    two's-complement bytes → DecimalType(p, s).

    Arbitrary width up to the DecimalType(38) domain (16 bytes): the hex form
    is sign-extended to whole 4-byte chunks and folded big-endian in exact
    decimal(38,0) arithmetic — conv() alone wraps at unsigned 64 bits, which
    would silently corrupt any unscaled value wider than 8 bytes. Negatives
    fold the bitwise complement then negate (x = -(~x + 1)), so every fold
    intermediate is bounded by the final magnitude and nothing overflows for
    any value that fits the target decimal at all. Inputs wider than 16 bytes
    exceed decimal(38) entirely and decode to null — and the whole ladder
    uses try_add/try_multiply/try_cast so a 16-byte value with a 39-digit
    magnitude (2^127 > 10^38-1) ALSO degrades to null instead of aborting
    the job under ANSI mode (Spark 4 default). Stays whole-stage codegen —
    no UDF.
    """
    raw = F.unbase64(col)
    hexed = F.hex(raw)  # uppercase, 2 chars per byte
    neg = F.conv(F.substring(hexed, 1, 2), 16, 10).cast("int") >= 128
    # Sign-extension (0x00 / 0xFF prefix bytes) preserves the two's-complement
    # value while making the length a multiple of 4 bytes.
    target_len = (F.ceil(F.length(hexed) / 8) * 8).cast("int")
    padded = F.call_function(
        "lpad", hexed, target_len, F.when(neg, F.lit("F")).otherwise(F.lit("0"))
    )
    chunks = F.regexp_extract_all(padded, F.lit("(.{8})"), 1)
    two32 = F.lit(4294967296).cast("decimal(20,0)")

    def fold(xform):
        return F.aggregate(
            chunks,
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, c: F.try_add(
                F.try_multiply(acc, two32),
                xform(F.conv(c, 16, 10).cast("decimal(38,0)")),
            ),
        )

    unsigned = fold(lambda v: v)
    complement = fold(lambda v: F.lit(4294967295).cast("decimal(38,0)") - v)
    # 0 - x, not unary minus: PySpark's negative() on decimal(38,0) rounds
    # the 38th digit away (it plans as a precision-capped multiply).
    magnitude = F.try_add(complement, F.lit(1).cast("decimal(1,0)"))
    signed = F.when(
        neg, F.try_subtract(F.lit(0).cast("decimal(38,0)"), magnitude)
    ).otherwise(unsigned)
    signed = F.when(F.length(raw) <= 16, signed)  # beyond decimal(38): null
    # Shift the scale by an exact decimal multiply (10^-scale literal):
    # decimal division would widen the result scale past precision 38 and
    # overflow under ANSI; multiplication keeps scale = s exactly.
    shifted = F.try_multiply(signed, F.lit(PyDecimal(1).scaleb(-scale)))
    # try_cast: a value too wide for the TARGET precision nulls out rather
    # than raising under ANSI (malformed-input rule, same as >16 bytes).
    return shifted.try_cast(f"decimal({precision},{scale})")


# --- C15: DSE geo WKT / DateRange (validated string passthrough) -----------

# The DSE geo types (Point/LineString/Polygon) and DateRange arrive as WKT /
# range text and are stored as-is by the reference (dsbulk codecs validate
# then parse; reference: StructEndToEndCCMIT.java:206-209, 262-280). Without
# a DSE target type system, the faithful OSS behavior is VALIDATED
# passthrough: well-formed text flows through trimmed, malformed text becomes
# null, which the sink counts as a failed conversion. All regex, all JVM.
_NUM = r"-?[0-9]+(\.[0-9]+)?"
_COORD = rf"{_NUM}\s+{_NUM}"
_COORD_LIST = rf"{_COORD}(\s*,\s*{_COORD})*"
WKT_PATTERNS = {
    "point": rf"^POINT\s*\(\s*{_COORD}\s*\)$",
    "linestring": rf"^LINESTRING\s*\(\s*{_COORD_LIST}\s*\)$",
    "polygon": rf"^POLYGON\s*\(\s*\(\s*{_COORD_LIST}\s*\)"
    rf"(\s*,\s*\(\s*{_COORD_LIST}\s*\))*\s*\)$",
}
# DSE DateRange bounds go down to millisecond precision (reference
# StructEndToEndCCMIT accepts e.g. '[2020-01-01T10:15 TO *]'), each finer
# unit optional: year[-month[-day[Thour[:min[:sec[.millis]]]]]] or '*'.
_DR_BOUND = (
    r"([0-9]{4}(-[0-9]{2}(-[0-9]{2}"
    r"(T[0-9]{2}(:[0-9]{2}(:[0-9]{2}(\.[0-9]{1,3})?)?)?)?)?)?|\*)"
)
DATERANGE_PATTERN = rf"^(\[{_DR_BOUND} TO {_DR_BOUND}\]|{_DR_BOUND})$"


def wkt_passthrough(col: Column, geo_type: str) -> Column:
    """C15 geo: keep syntactically valid WKT of the given type, null out the
    rest. ``geo_type`` ∈ point | linestring | polygon."""
    pattern = WKT_PATTERNS[geo_type]
    trimmed = F.trim(col)
    return F.when(F.upper(trimmed).rlike(pattern), trimmed)


def daterange_passthrough(col: Column) -> Column:
    """C15 DateRange: ``[lower TO upper]`` with year-through-millisecond
    precision bounds or ``*`` (open), or a single bound — validated
    passthrough."""
    trimmed = F.trim(col)
    return F.when(trimmed.rlike(DATERANGE_PATTERN), trimmed)


# --- C17: defaults / missing optional fields ------------------------------


def with_default(col: Column, default) -> Column:
    """Connect schema defaultValue applied when the field is absent/null
    (StructEndToEndCCMIT.java:441-462: optional int default 42)."""
    return F.coalesce(col, F.lit(default))

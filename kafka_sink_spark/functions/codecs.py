"""Scalar conversion library — the reference's dsbulk-codec layer as Spark
column expressions (SURVEY.md §2.4, C1–C17).

Everything here is a pure Column→Column function built from
``pyspark.sql.functions`` builtins so conversions stay JVM-side inside
WholeStageCodegen. Only the locale-aware number/temporal parsers (which Spark
cannot express — its casts are locale-fixed) drop to Arrow-batched pandas UDFs,
mirroring the reference's ``codec.locale`` setting
(reference: sink/src/it/java/com/datastax/oss/kafka/sink/ccm/JsonEndToEndCCMIT.java:303-336).
"""

from __future__ import annotations

from decimal import Decimal as PyDecimal

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

# --- C1/C2: numeric width / boolean / string casts -------------------------
# Plain `.cast(target)`, applied inline by the mapping compiler from table
# metadata (reference: StructEndToEndCCMIT.java:86-224,
# JsonEndToEndCCMIT.java:109-158).


def number_to_boolean(col: Column) -> Column:
    """Nonzero → true (reference codec semantics, StructEndToEndCCMIT.java:234-238)."""
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(col.cast("double") != 0.0)


# --- C3: locale-aware string<->number (codec.locale) -----------------------

_LOCALE_SEPS = {
    # locale → (grouping separator, decimal separator). Covers the locales the
    # reference tests exercise (fr_FR in JsonEndToEndCCMIT.java:310) plus
    # common ones; extend as needed.
    "en_US": (",", "."),
    "en_GB": (",", "."),
    "fr_FR": (" ", ","),  # narrow no-break space grouping
    "de_DE": (".", ","),
    "es_ES": (".", ","),
    "it_IT": (".", ","),
}


def parse_number_locale(col: Column, locale: str = "en_US") -> Column:
    """String → double honoring the locale's grouping/decimal separators.

    Space-grouping locales (fr_FR) also accept a regular space / NBSP /
    narrow-NBSP as grouping. Stays as a Column expression (translate + cast)
    — no UDF needed for the separator swap, which is all
    java.text.DecimalFormat does for plain numbers.
    """
    group, dec = _LOCALE_SEPS.get(locale, (",", "."))
    if group.isspace():
        # Only space-grouping locales treat whitespace as a separator;
        # stripping it for every locale would silently accept malformed input.
        cleaned = F.regexp_replace(col, r"[\s  ]", "")
    else:
        cleaned = F.regexp_replace(col, re_escape(group), "")
    if dec != ".":
        cleaned = F.regexp_replace(cleaned, re_escape(dec), ".")
    return cleaned.cast("double")


def format_number_locale(col: Column, locale: str = "en_US") -> Column:
    """Number → string per locale (reverse direction)."""
    group, dec = _LOCALE_SEPS.get(locale, (",", "."))

    def _fmt(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None or pd.isna(v):
                return None
            txt = f"{v:,}"
            return txt.replace(",", "\0").replace(".", dec).replace("\0", group)

        return s.map(one)

    return F.pandas_udf(_fmt, StringType())(col.cast(DoubleType()))


def re_escape(s: str) -> str:
    import re

    return re.escape(s)


# --- C4/C5/C6: temporal conversions ---------------------------------------


def string_to_timestamp(col: Column, pattern: str | None = None) -> Column:
    """C4: string → timestamp by pattern; None/CQL_TIMESTAMP/ISO names use
    Spark's lenient ISO parsing (matches the reference defaults for ISO input).
    """
    if pattern in (None, "CQL_TIMESTAMP", "ISO_ZONED_DATE_TIME", "ISO_INSTANT"):
        return F.to_timestamp(col)
    return F.to_timestamp(col, pattern)


def string_to_date(col: Column, pattern: str | None = None) -> Column:
    if pattern in (None, "ISO_LOCAL_DATE"):
        return F.to_date(col)
    return F.to_date(col, pattern)


def epoch_to_timestamp(col: Column, unit: str = "MILLISECONDS") -> Column:
    """C5: numeric-since-epoch → timestamp selected by codec.unit
    (reference: JsonEndToEndCCMIT.java:303-336, `vseconds: 1520611952`)."""
    n = col.cast("long")
    if unit == "SECONDS":
        return F.timestamp_seconds(n)
    if unit == "MILLISECONDS":
        return F.timestamp_millis(n)
    if unit == "MICROSECONDS":
        return F.timestamp_micros(n)
    if unit == "NANOSECONDS":
        return F.timestamp_micros((n / F.lit(1000)).cast("long"))
    raise ValueError(f"unsupported epoch unit {unit}")


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

# --- C8: JSON array string → typed array ----------------------------------


def json_array_to_list(col: Column, element_type: str = "int") -> Column:
    """Raw value '"[42, 37]"' → list<int> (RawDataEndToEndCCMIT.java:150-162)."""
    return F.from_json(col.cast("string"), f"array<{element_type}>")


# --- C9: array → set (dedup), nested variants -----------------------------


def array_to_set(col: Column) -> Column:
    """CQL set semantics: deduplicate; Cassandra sets are sorted — sort for a
    deterministic representation (StructEndToEndCCMIT.java:228-233)."""
    return F.array_sort(F.array_distinct(col))


def nested_array_to_set(col: Column) -> Column:
    """list<set<..>> — dedup each inner element."""
    return F.transform(col, lambda inner: F.array_sort(F.array_distinct(inner)))


# --- C10/C11/C12/C14: map & UDT construction ------------------------------


def map_to_udt(col: Column, field_names: list[str], field_types: list[str]) -> Column:
    """map<text, V> → struct(named fields) with per-field coercion (C11/C14).

    Missing map keys become null fields; extra keys are an error in the
    reference's strict StructToUDTCodec
    (reference: sink/src/main/java/com/datastax/oss/kafka/sink/codecs/StructToUDTCodec.java:47-87)
    — strictness enforced at validation time by the mapping compiler, not per
    row, to stay vectorized.
    """
    fields = [
        col.getItem(name).cast(t).alias(name)
        for name, t in zip(field_names, field_types)
    ]
    return F.struct(*fields)


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
# null (the mapping layer's null handling then applies). All regex, all JVM.
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

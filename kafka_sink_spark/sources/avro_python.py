"""Pure-Python Avro binary wire codec — the no-jar fallback for Struct mode.

The reference's Struct mode consumes Kafka Connect Structs deserialized from
Avro wire format (SURVEY §1.2; reference:
sink/src/test/java/com/datastax/oss/kafka/sink/metadata/MetadataCreatorTest.java:45-66).
The fast path is spark-avro's ``from_avro`` (JVM, vectorized); that jar is a
separate artifact and may be absent (it is in this container). This module
implements the Avro 1.x binary encoding directly — zigzag varints, IEEE
little-endian floats, length-prefixed bytes/strings, blocked arrays/maps,
union indexes — so the wire path stays REAL without the jar:

- ``decode``/``encode``: one datum ↔ bytes, schema-driven.
- ``avro_schema_to_spark``: Avro schema JSON → Spark DataType (for the
  decoded struct column).
- ``decode_avro_column``: DataFrame binary column → typed struct column via
  an Arrow-batched ``mapInPandas`` (python-side per-row decode, batch-level
  Arrow transfer — the documented slow path, ~UDF-speed, chosen ONLY when
  ``from_avro`` is unavailable).

Supported schema surface (what Connect converters emit): primitives,
record / enum / fixed / array / map / union, nested arbitrarily, plus the
common logical types (decimal on bytes/fixed, date, time-millis/micros,
timestamp-millis/micros). Unions follow spark-avro's SchemaConverters
semantics: [null, X] → nullable X; {int, long} → long; {float, double} →
double; anything else → struct<member0, member1, ...> with exactly the
matched branch's field set per value.
"""

from __future__ import annotations

import datetime as _dt
import json
import struct as _struct
from decimal import Decimal
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Binary primitives
# --------------------------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# --------------------------------------------------------------------------
# Schema-driven decode / encode
# --------------------------------------------------------------------------


def _norm_schema(schema: Any) -> Any:
    """Accept a JSON string or already-parsed schema object."""
    if isinstance(schema, str):
        try:
            parsed = json.loads(schema)
        except json.JSONDecodeError:
            return schema  # bare primitive name like "long"
        # Only complex schemas parse into containers; a bare type name like
        # "null" would json-parse into a non-schema scalar (None!) — keep the
        # original string for those.
        return parsed if isinstance(parsed, (dict, list)) else schema
    return schema


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _union_info(schema: list) -> tuple[str, list, bool]:
    """Classify a union the way spark-avro's SchemaConverters does:

    - ``simple``:  [null, X] → nullable X
    - ``long``:    {int, long} (± null) → LongType
    - ``double``:  {float, double} (± null) → DoubleType
    - ``complex``: anything else → struct<member0: T0, member1: T1, ...>
      over the non-null branches in order, one field set per value

    Returns (kind, non_null_branches, nullable).
    """
    branches = [_norm_schema(b) for b in schema]
    non_null = [b for b in branches if _type_name(b) != "null"]
    nullable = len(non_null) < len(branches)
    if len(non_null) <= 1:
        return "simple", non_null, nullable
    names = {_type_name(b) for b in non_null}
    if names == {"int", "long"}:
        return "long", non_null, nullable
    if names == {"float", "double"}:
        return "double", non_null, nullable
    return "complex", non_null, nullable


_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)


def resolve_named_types(schema: Any, env: dict | None = None) -> Any:
    """Replace string references to previously-defined named types (record /
    enum / fixed) with their definitions, per the Avro spec's named-type
    rules — real Schema Registry schemas routinely define a record once and
    reference it by (full)name later, including recursively.

    Mutates and returns the parsed schema object. Self-referential schemas
    produce self-referential dicts: decode/encode handle them naturally
    (recursion follows the data, which is finite); ``avro_schema_to_spark``
    cannot, because Spark has no recursive types.
    """
    env = {} if env is None else env
    schema = _norm_schema(schema)
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in env:
            return env[schema]
        raise ValueError(f"unknown Avro type name: {schema!r}")
    if isinstance(schema, list):
        return [resolve_named_types(b, env) for b in schema]
    t = schema.get("type")
    if isinstance(t, str) and t not in _PRIMITIVES and t in env:
        return env[t]  # {"type": "SomeRecord"} reference form
    if t in ("record", "enum", "fixed"):
        name = schema.get("name")
        if name:
            env[name] = schema
            ns = schema.get("namespace")
            if ns:
                env[f"{ns}.{name}"] = schema
        if t == "record":
            for f in schema.get("fields", ()):
                f["type"] = resolve_named_types(f["type"], env)
    elif t == "array":
        schema["items"] = resolve_named_types(schema["items"], env)
    elif t == "map":
        schema["values"] = resolve_named_types(schema["values"], env)
    return schema


def decode(schema: Any, buf: bytes, pos: int = 0) -> tuple[Any, int]:
    """Decode one datum at ``pos``; returns (value, next_pos). A JSON-string
    schema is name-resolved automatically; pre-parsed dict schemas with
    named references should pass through ``resolve_named_types`` first."""
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        schema = resolve_named_types(schema)
    else:
        schema = _norm_schema(schema)
    t = _type_name(schema)
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        v, pos = _zigzag_decode(buf, pos)
        return _apply_logical(schema, v), pos
    if t == "float":
        return _struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return _struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t in ("bytes", "string"):
        n, pos = _zigzag_decode(buf, pos)
        raw = bytes(buf[pos : pos + n])
        pos += n
        if t == "string":
            return raw.decode("utf-8"), pos
        return _apply_logical(schema, raw), pos
    if t == "fixed":
        n = schema["size"]
        raw = bytes(buf[pos : pos + n])
        return _apply_logical(schema, raw), pos + n
    if t == "enum":
        idx, pos = _zigzag_decode(buf, pos)
        return schema["symbols"][idx], pos
    if t == "union":
        idx, pos = _zigzag_decode(buf, pos)
        branch = _norm_schema(schema[idx])
        value, pos = decode(branch, buf, pos)
        kind, non_null, _ = _union_info(schema)
        if kind == "complex" and _type_name(branch) != "null":
            # spark-avro shape: struct<member0, member1, ...> with exactly
            # the matched branch's field set (member index counts non-null
            # branches in declaration order).
            member = sum(
                1
                for b in schema[:idx]
                if _type_name(_norm_schema(b)) != "null"
            )
            return {f"member{member}": value}, pos
        return value, pos
    if t == "array":
        out = []
        while True:
            count, pos = _zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:  # block with byte-size prefix
                count = -count
                _, pos = _zigzag_decode(buf, pos)
            for _ in range(count):
                v, pos = decode(schema["items"], buf, pos)
                out.append(v)
    if t == "map":
        out = {}
        while True:
            count, pos = _zigzag_decode(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                count = -count
                _, pos = _zigzag_decode(buf, pos)
            for _ in range(count):
                n, pos = _zigzag_decode(buf, pos)
                key = bytes(buf[pos : pos + n]).decode("utf-8")
                pos += n
                out[key], pos = decode(schema["values"], buf, pos)
    if t == "record":
        rec = {}
        for field in schema["fields"]:
            rec[field["name"]], pos = decode(field["type"], buf, pos)
        return rec, pos
    raise ValueError(f"unsupported Avro type: {t!r}")


def encode(schema: Any, value: Any) -> bytes:
    """Encode one datum to Avro binary (the test/fixture twin of decode)."""
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        schema = resolve_named_types(schema)
    else:
        schema = _norm_schema(schema)
    t = _type_name(schema)
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _zigzag_encode(_unapply_logical(schema, value))
    if t == "float":
        return _struct.pack("<f", value)
    if t == "double":
        return _struct.pack("<d", value)
    if t == "string":
        raw = value.encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if t == "bytes":
        raw = _unapply_logical(schema, value)
        return _zigzag_encode(len(raw)) + raw
    if t == "fixed":
        raw = _unapply_logical(schema, value)
        if len(raw) != schema["size"]:
            raise ValueError("fixed size mismatch")
        return raw
    if t == "enum":
        return _zigzag_encode(schema["symbols"].index(value))
    if t == "union":
        kind, _, _ = _union_info(schema)
        if (
            kind == "complex"
            and isinstance(value, dict)
            and len(value) == 1
            and next(iter(value)).startswith("member")
        ):
            # member-dict form (the decode twin of complex unions): the key
            # names the non-null branch to take.
            member = int(next(iter(value))[len("member") :])
            inner = next(iter(value.values()))
            seen = -1
            for idx, branch in enumerate(schema):
                if _type_name(_norm_schema(branch)) != "null":
                    seen += 1
                    if seen == member:
                        return _zigzag_encode(idx) + encode(branch, inner)
            raise ValueError(f"union has no member{member}")
        for idx, branch in enumerate(schema):
            if _matches(branch, value):
                return _zigzag_encode(idx) + encode(branch, value)
        raise ValueError(f"value {value!r} matches no union branch")
    if t == "array":
        if not value:
            return _zigzag_encode(0)
        body = b"".join(encode(schema["items"], v) for v in value)
        return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
    if t == "map":
        if not value:
            return _zigzag_encode(0)
        body = b""
        for k, v in value.items():
            raw = k.encode("utf-8")
            body += _zigzag_encode(len(raw)) + raw + encode(schema["values"], v)
        return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
    if t == "record":
        return b"".join(
            encode(f["type"], value.get(f["name"])) for f in schema["fields"]
        )
    raise ValueError(f"unsupported Avro type: {t!r}")


def _matches(branch: Any, value: Any) -> bool:
    branch = _norm_schema(branch)
    t = _type_name(branch)
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        logical = isinstance(branch, dict) and branch.get("logicalType")
        if logical:
            return isinstance(value, (_dt.date, _dt.datetime, _dt.time, int))
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t in ("string", "enum"):
        return isinstance(value, str)
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray, Decimal))
    if t == "array":
        return isinstance(value, list)
    if t in ("map", "record"):
        return isinstance(value, dict)
    return False


# --------------------------------------------------------------------------
# Logical types
# --------------------------------------------------------------------------

_EPOCH_DATE = _dt.date(1970, 1, 1)


def _apply_logical(schema: Any, base: Any) -> Any:
    if not isinstance(schema, dict):
        return base
    logical = schema.get("logicalType")
    if not logical:
        return base
    if logical == "decimal":
        unscaled = int.from_bytes(base, "big", signed=True)
        return Decimal(unscaled).scaleb(-schema.get("scale", 0))
    if logical == "date":
        return _EPOCH_DATE + _dt.timedelta(days=base)
    if logical in ("time-millis", "time-micros"):
        # Keep the raw wire int: avro_schema_to_spark declares LongType for
        # both (Spark's from_avro likewise surfaces the underlying int/long —
        # it has no time type), and a datetime.time here would be re-scaled
        # to microseconds by Arrow, corrupting time-millis values 1000x.
        return base
    if logical == "timestamp-millis":
        return _dt.datetime.fromtimestamp(base / 1e3, tz=_dt.timezone.utc).replace(
            tzinfo=None
        )
    if logical == "timestamp-micros":
        return _dt.datetime.fromtimestamp(base / 1e6, tz=_dt.timezone.utc).replace(
            tzinfo=None
        )
    return base


def _unapply_logical(schema: Any, value: Any) -> Any:
    if not isinstance(schema, dict):
        return value
    logical = schema.get("logicalType")
    if not logical:
        return value
    if logical == "decimal":
        scale = schema.get("scale", 0)
        unscaled = int(Decimal(value).scaleb(scale))
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(nbytes, "big", signed=True)
    if logical == "date":
        return (value - _EPOCH_DATE).days
    if logical == "time-millis":
        if isinstance(value, int):  # decode twin now yields raw wire ints
            return value
        td = _dt.datetime.combine(_dt.date.min, value) - _dt.datetime.min
        return td // _dt.timedelta(milliseconds=1)
    if logical == "time-micros":
        if isinstance(value, int):
            return value
        td = _dt.datetime.combine(_dt.date.min, value) - _dt.datetime.min
        return td // _dt.timedelta(microseconds=1)
    # Exact integer arithmetic: float .timestamp()*1e6 rounds, then int()
    # truncates, putting ~1% of values off by one unit; timedelta floor
    # division is exact over the full datetime range.
    if logical == "timestamp-millis":
        return (value.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
            milliseconds=1
        )
    if logical == "timestamp-micros":
        return (value.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
            microseconds=1
        )
    return value


# --------------------------------------------------------------------------
# Avro schema -> Spark type
# --------------------------------------------------------------------------


def avro_schema_to_spark(schema: Any) -> T.DataType:
    """Avro schema JSON → the Spark DataType ``from_avro`` would produce.
    Named-type references resolve first (recursive schemas are rejected by
    the Python recursion limit — Spark has no recursive types)."""
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        schema = resolve_named_types(schema)
    else:
        schema = _norm_schema(schema)
    t = _type_name(schema)
    if isinstance(schema, dict):
        logical = schema.get("logicalType")
        if logical == "decimal":
            return T.DecimalType(schema.get("precision", 38), schema.get("scale", 0))
        if logical == "date":
            return T.DateType()
        if logical in ("timestamp-millis", "timestamp-micros"):
            return T.TimestampType()
        if logical in ("time-millis", "time-micros"):
            return T.LongType()  # Spark has no TimeType pre-4.1 semantics here
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
        "enum": T.StringType(),
        "fixed": T.BinaryType(),
    }
    if t in prim:
        return prim[t]
    if t == "union":
        kind, non_null, _ = _union_info(schema)
        if kind == "simple":
            if not non_null:
                return T.NullType()
            return avro_schema_to_spark(non_null[0])
        if kind == "long":  # spark-avro promotes {int, long} to long
            return T.LongType()
        if kind == "double":  # and {float, double} to double
            return T.DoubleType()
        # complex union → struct<member0, member1, ...> (spark-avro shape)
        return T.StructType(
            [
                T.StructField(f"member{i}", avro_schema_to_spark(b))
                for i, b in enumerate(non_null)
            ]
        )
    if t == "array":
        return T.ArrayType(avro_schema_to_spark(schema["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_schema_to_spark(schema["values"]))
    if t == "record":
        return T.StructType(
            [
                T.StructField(f["name"], avro_schema_to_spark(f["type"]))
                for f in schema["fields"]
            ]
        )
    raise ValueError(f"unsupported Avro type: {t!r}")


# --------------------------------------------------------------------------
# DataFrame-level decode (Arrow-batched)
# --------------------------------------------------------------------------


def decode_avro_column(
    df: DataFrame, column: str, avro_schema_json: str, mode: str = "FAILFAST"
) -> DataFrame:
    """Replace binary ``column`` with its Avro-decoded struct.

    Arrow-batched ``mapInPandas``: per-row decode runs in Python (this IS
    the slow path — ``from_avro`` is ~10-100× faster when the jar exists),
    but data crosses the boundary as Arrow batches and the output schema is
    the exact struct ``from_avro`` would produce, so everything downstream
    (mapping, codecs, routing) is identical.

    ``mode`` mirrors ``from_avro``'s parse-mode option: FAILFAST (default,
    like from_avro) raises on the first malformed payload; PERMISSIVE turns
    a malformed payload into a null struct, so one corrupt record degrades
    to a skippable null row (ignoreErrors territory) instead of failing a
    100 TB job. Truncated buffers, bad union indexes, and invalid UTF-8 are
    all malformed; trailing garbage after a complete datum is also rejected.
    """
    decode_frame, _out_schema = avro_column_decoder(df.schema, column, avro_schema_json, mode)
    return decode_frame(df)


def avro_column_decoder(
    schema: T.StructType, column: str, avro_schema_json: str, mode: str = "FAILFAST"
) -> tuple[Callable[[DataFrame], DataFrame], T.StructType]:
    """:func:`decode_avro_column` for frames of ``schema``, built once:
    ``(decode, output schema)``, where ``decode(df)`` is the frame's
    ``mapInPandas``."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST or PERMISSIVE, got {mode!r}")
    schema_obj = resolve_named_types(avro_schema_json)
    spark_type = avro_schema_to_spark(schema_obj)
    out_fields = [
        f if f.name != column else T.StructField(column, spark_type)
        for f in schema.fields
    ]
    out_schema = T.StructType(out_fields)
    names = [f.name for f in out_fields]
    permissive = mode == "PERMISSIVE"

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            def _dec(raw):
                if raw is None:
                    return None
                try:
                    v, end = decode(schema_obj, bytes(raw))
                    if end != len(raw):
                        raise ValueError(
                            f"{len(raw) - end} trailing bytes after datum"
                        )
                    return v
                except Exception:
                    if permissive:
                        return None
                    raise

            pdf[column] = pdf[column].map(_dec)
            yield pdf[names]

    return (lambda df: df.mapInPandas(batches, schema=out_schema)), out_schema

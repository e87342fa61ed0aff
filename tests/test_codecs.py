"""Unit tests for the codec layer (SURVEY §2.4) and remaining config surface:
temporal patterns (C4), epoch units (C5), packed time (C6), sets (C9),
tuple construction and strict arity (C12/C13), decimal BASE64 sign
handling (C16), defaults (C17), and global write-tuning keys (W9-W11)."""

import datetime
import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_sink_spark.config import LOCALE_SEPS, ConfigError, parse_sink_config
from kafka_sink_spark.functions import codecs


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_string_to_timestamp_patterns(spark):
    """C4 (JsonEndToEndCCMIT.java:339-372): ISO default and explicit pattern."""
    iso = _one(spark, codecs.string_to_timestamp(F.lit("2018-03-09T17:12:32.584")))
    assert iso == datetime.datetime(2018, 3, 9, 17, 12, 32, 584000)
    pat = _one(
        spark,
        codecs.string_to_timestamp(F.lit("09/03/2018 17:12"), "dd/MM/yyyy HH:mm"),
    )
    assert pat == datetime.datetime(2018, 3, 9, 17, 12)
    d = _one(spark, codecs.string_to_date(F.lit("2018-03-09")))
    assert d == datetime.date(2018, 3, 9)


def test_epoch_units(spark):
    """C5 (JsonEndToEndCCMIT.java:303-336): codec.unit selects the epoch unit."""
    expect = datetime.datetime(2018, 3, 9, 16, 12, 32)
    s = _one(spark, codecs.epoch_to_timestamp(F.lit(1520611952), "SECONDS"))
    ms = _one(spark, codecs.epoch_to_timestamp(F.lit(1520611952000), "MILLISECONDS"))
    us = _one(spark, codecs.epoch_to_timestamp(F.lit(1520611952000000), "MICROSECONDS"))
    assert s == ms == us == expect
    day = datetime.datetime(1970, 1, 2)
    for n, unit in ((1440, "MINUTES"), (24, "HOURS"), (1, "DAYS")):
        assert _one(spark, codecs.epoch_to_timestamp(F.lit(n), unit)) == day


def test_epoch_nanoseconds_divide_exactly(spark):
    """C5 NANOSECONDS: 1700000000000000999 ns is 1700000000000000 µs; a
    division through a double rounds it up to ...001."""
    ts = codecs.epoch_to_timestamp(F.lit(1700000000000000999), "NANOSECONDS")
    assert _one(spark, F.unix_micros(ts)) == 1700000000000000


@pytest.mark.parametrize(
    "key, value",
    [("unit", "FORTNIGHTS"), ("locale", "xx_YY"), ("timeZone", "Mars/Olympus_Mons")],
)
def test_codec_settings_are_validated(key, value):
    """Each ``codec.*`` value the codecs cannot apply is refused when the
    config is parsed, not read as a default per row."""
    with pytest.raises(ConfigError, match=f"codec.{key}"):
        parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key", f"topic.t.codec.{key}": value})


def test_codec_settings_accept_every_documented_value():
    """All seven units, every supported locale, zone ids and offsets parse."""
    for unit in ("NANOSECONDS", "MICROSECONDS", "MILLISECONDS", "SECONDS", "MINUTES",
                 "HOURS", "DAYS"):
        parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key", "topic.t.codec.unit": unit})
    for locale in LOCALE_SEPS:
        parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key", "topic.t.codec.locale": locale})
    for zone in ("UTC", "Europe/Paris", "Z", "+02:00", "GMT-5"):
        parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key", "topic.t.codec.timeZone": zone})


def test_hhmmss_packed_time(spark):
    """C6: 171232584 → 17:12:32.584 (JsonEndToEndCCMIT.java:320-335)."""
    nanos = _one(spark, codecs.hhmmss_numeric_to_time_nanos(F.lit(171232584)))
    assert nanos == ((17 * 3600 + 12 * 60 + 32) * 1000 + 584) * 1_000_000
    s = _one(spark, codecs.time_nanos_to_string(F.lit(nanos)))
    assert s == "17:12:32.584"


def test_collections(spark):
    """C9: array → sorted distinct set, also nested."""
    assert _one(spark, codecs.array_to_set(F.array(F.lit(3), F.lit(1), F.lit(3)))) == [1, 3]
    nested = codecs.nested_array_to_set(
        F.array(F.array(F.lit(2), F.lit(2)), F.array(F.lit(5)))
    )
    assert _one(spark, nested) == [[2], [5]]


def test_udt_construction(spark):
    """C12: list→tuple by position, with per-slot coercion."""
    tup = _one(
        spark,
        codecs.list_to_udt(
            F.array(F.lit(37), F.lit(96), F.lit(90)),
            ["t0", "t1", "t2"],
            ["smallint", "int", "int"],
        ),
    )
    assert (tup["t0"], tup["t1"], tup["t2"]) == (37, 96, 90)


def test_struct_cast_strict_arity(spark):
    """C13 (StructToUDTCodecTest.java:66-81): field-count mismatch is rejected
    at plan time — Spark's struct cast enforces equal arity."""
    df = spark.range(1).select(
        F.struct(F.lit(1).alias("a"), F.lit(2).alias("b"), F.lit(3).alias("c")).alias("s")
    )
    with pytest.raises(AnalysisException):
        df.select(F.col("s").cast("struct<a:int,b:int>")).collect()


def test_base64_decimal_signs(spark):
    """C16: signed big-endian unscaled bytes, positive and negative."""
    import base64
    from decimal import Decimal

    for unscaled, scale, expect in (
        (1234, 2, Decimal("12.34")),
        (-1234, 2, Decimal("-12.34")),
        (7, 2, Decimal("0.07")),
        (-7, 2, Decimal("-0.07")),
    ):
        raw = unscaled.to_bytes(4, "big", signed=True)
        b64 = base64.b64encode(raw).decode()
        got = _one(spark, codecs.base64_to_decimal(F.lit(b64), 12, scale))
        assert got == expect, (unscaled, got)


def test_base64_decimal_wide(spark):
    """C16 beyond 8 bytes: Connect decimal(38,x) unscaled values are wider
    than a long — conv() alone wraps at unsigned 64 bits (the reference uses
    arbitrary-precision BigDecimal). Exercises 9..16-byte positives and
    negatives, minimal-width encodings, and the >16-byte null gate."""
    import base64
    from decimal import Context, Decimal

    ctx = Context(prec=50)  # default 28-digit context would round the expect
    cases = [
        # (unscaled, scale): chosen to need 9..16 bytes
        (2**72 + 12345, 6),
        (-(2**72) - 12345, 6),
        (12345678901234567890123456789, 2),       # 29 digits, 12 bytes
        (-12345678901234567890123456789, 2),
        (10**37 - 1, 0),                           # near the decimal(38) cap
        (-(10**37 - 1), 0),
        (2**63, 0),                                # just past long range
        (-(2**63) - 1, 0),
    ]
    for unscaled, scale in cases:
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        raw = unscaled.to_bytes(nbytes, "big", signed=True)
        b64 = base64.b64encode(raw).decode()
        got = _one(spark, codecs.base64_to_decimal(F.lit(b64), 38, scale))
        expect = Decimal(unscaled).scaleb(-scale, context=ctx)
        assert got == expect, (unscaled, scale, got)
    # Wider than 16 bytes exceeds the decimal(38) domain entirely -> null.
    too_wide = base64.b64encode((10**40).to_bytes(17, "big", signed=True)).decode()
    assert _one(spark, codecs.base64_to_decimal(F.lit(too_wide), 38, 0)) is None


def test_geo_wkt_passthrough(spark):
    """C15 (StructEndToEndCCMIT.java:206-209): valid WKT flows through
    trimmed; malformed text nulls out. Case-insensitive keyword, negative
    and fractional coordinates, polygon holes."""
    cases = {
        "point": [
            ("POINT (1 2)", True), ("  POINT (-1.5 2.25)  ", True),
            ("point (3 4)", True), ("POINT (1 2", False),
            ("POINT (1)", False), ("POINT (a b)", False), ("", False),
        ],
        "linestring": [
            ("LINESTRING (0 0, 1 1)", True),
            ("LINESTRING (0 0, 1 1, 2.5 -3)", True),
            ("LINESTRING ()", False), ("LINESTRING (0 0,)", False),
        ],
        "polygon": [
            ("POLYGON ((0 0, 4 0, 4 4, 0 0))", True),
            ("POLYGON ((0 0, 9 0, 9 9, 0 0), (1 1, 2 1, 2 2, 1 1))", True),
            ("POLYGON (0 0, 1 1)", False),
        ],
    }
    for geo_type, pairs in cases.items():
        for text, ok in pairs:
            got = _one(spark, codecs.wkt_passthrough(F.lit(text), geo_type))
            if ok:
                assert got == text.strip(), (geo_type, text, got)
            else:
                assert got is None, (geo_type, text, got)


def test_daterange_passthrough(spark):
    """C15 DateRange (StructEndToEndCCMIT.java:262-280): bounded ranges with
    year/month/day precision or open bounds, and single-bound form."""
    for text, ok in [
        ("[2020-01-01 TO 2020-12-31]", True),
        ("[2020-01 TO 2020-12]", True),
        ("[2020 TO *]", True),
        ("[* TO 2020-06]", True),
        ("2020-06-15", True),
        ("not a range", False),
        ("[2020-01-01 TO]", False),
        ("[TO 2020]", False),
        # sub-day precision bounds (ADVICE r2: StructEndToEndCCMIT also
        # accepts hour/minute/second/millisecond precision)
        ("[2020-01-01T10 TO *]", True),
        ("[2020-01-01T10:15 TO *]", True),
        ("[2020-01-01T10:15:30 TO 2020-01-02]", True),
        ("[2020-01-01T10:15:30.123 TO *]", True),
        ("2020-06-15T23:59:59.9", True),
        ("[* TO 2020-01-01T10:15]", True),
        ("2020-01-01T10:15:30.1234", False),  # >ms precision
        ("[2020-01-01T TO *]", False),  # dangling T
        ("[2020-01T10 TO *]", False),  # time requires a full date
    ]:
        got = _one(spark, codecs.daterange_passthrough(F.lit(text)))
        assert (got == text) if ok else (got is None), (text, got)


def test_with_default(spark):
    """C17 (StructEndToEndCCMIT.java:441-462): default 42 fills nulls only."""
    assert _one(spark, codecs.with_default(F.lit(None).cast("int"), 42)) == 42
    assert _one(spark, codecs.with_default(F.lit(7), 42)) == 7


def test_locale_number_roundtrip(spark):
    """C3: fr_FR and de_DE separators parse; en_US grouping strips."""
    assert _one(spark, codecs.parse_number_locale(F.lit("1 234,56"), "fr_FR")) == 1234.56
    assert _one(spark, codecs.parse_number_locale(F.lit("1.234,56"), "de_DE")) == 1234.56
    assert _one(spark, codecs.parse_number_locale(F.lit("1,234.56"), "en_US")) == 1234.56


def test_global_write_tuning_keys():
    """W9/W10/W11 + S5: global connection/write settings parse with the
    reference defaults (sample:35-61)."""
    cfg = parse_sink_config(
        {
            "topic.t.ks.tbl.mapping": "pk=key",
            "maxConcurrentRequests": "250",
            "compression": "Lz4",
            "queryExecutionTimeout": "45",
            "connectionPoolLocalSize": "8",
        }
    )
    assert cfg.max_concurrent_requests == 250
    assert cfg.compression == "Lz4"
    assert cfg.query_execution_timeout_s == 45
    assert cfg.connection_pool_local_size == 8
    # defaults
    dflt = parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key"})
    assert dflt.max_concurrent_requests == 500
    assert dflt.max_number_of_records_in_batch == 32
    assert dflt.query_execution_timeout_s == 30


def test_writer_bounds_reject_values_below_one():
    """maxNumberOfRecordsInBatch / maxConcurrentRequests below 1 would make
    the writer send nothing (a negative chunk step) or fail on the executor
    (a zero step, an empty in-flight window): both keys are rejected when
    the config is built, parsed or by hand, naming the key."""
    from kafka_sink_spark.config import SinkConfig

    for key in ("maxNumberOfRecordsInBatch", "maxConcurrentRequests"):
        for bad in ("0", "-1"):
            with pytest.raises(ConfigError, match=key):
                parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key", key: bad})
    with pytest.raises(ConfigError, match="maxNumberOfRecordsInBatch"):
        SinkConfig(tables=[], max_number_of_records_in_batch=0)
    with pytest.raises(ConfigError, match="maxConcurrentRequests"):
        SinkConfig(tables=[], max_concurrent_requests=-1)
    one = parse_sink_config(
        {
            "topic.t.ks.tbl.mapping": "pk=key",
            "maxNumberOfRecordsInBatch": "1",
            "maxConcurrentRequests": "1",
        }
    )
    assert one.max_number_of_records_in_batch == one.max_concurrent_requests == 1


def test_ignore_errors_rejects_unknown_policies():
    """ignoreErrors is matched by exact name, so a value outside
    None|Driver|All (``all``, ``Ignore``) would silently act as None: it is
    rejected when the config is built, parsed or by hand, naming the key."""
    from kafka_sink_spark.config import SinkConfig

    for bad in ("all", "Ignore", ""):
        with pytest.raises(ConfigError, match="ignoreErrors"):
            parse_sink_config({"topic.t.ks.tbl.mapping": "pk=key", "ignoreErrors": bad})
    with pytest.raises(ConfigError, match="ignoreErrors"):
        SinkConfig(tables=[], ignore_errors="driver")
    for good in ("None", "Driver", "All"):
        assert (
            parse_sink_config(
                {"topic.t.ks.tbl.mapping": "pk=key", "ignoreErrors": good}
            ).ignore_errors
            == good
        )


def test_cloud_mode_rules():
    """S7: bundle ⊕ contactPoints rejected; weak CLs clamp to LOCAL_QUORUM."""
    with pytest.raises(ConfigError, match="mutually exclusive"):
        parse_sink_config(
            {
                "topic.t.ks.tbl.mapping": "pk=key",
                "cloud.secureConnectBundle": "/b.zip",
                "contactPoints": "127.0.0.1",
            }
        )
    cfg = parse_sink_config(
        {
            "topic.t.ks.tbl.mapping": "pk=key",
            "cloud.secureConnectBundle": "/b.zip",
        }
    )
    assert cfg.tables[0].consistency_level == "LOCAL_QUORUM"


def test_scrub_order_and_sentinels(spark):
    """Redaction order is load-bearing: an email's digit run must be consumed
    by <EMAIL> (counted once, as an email), URLs with digits likewise; only
    free-standing runs >= 6 digits become <NUM>."""
    from kafka_sink_spark.extensions.text import scrub_counts, scrub_text

    s = ("write to bob123456@corp.example.org or visit "
         "https://ex.com/a123456789 order 987654321 code 12345")
    col = F.lit(s)
    counts = scrub_counts(col)
    row = spark.range(1).select(
        scrub_text(col).alias("t"),
        counts["email"].alias("e"), counts["url"].alias("u"),
        counts["digits"].alias("d"),
    ).collect()[0]
    assert (row.e, row.u, row.d) == (1, 1, 1), row
    assert row.t == "write to <EMAIL> or visit <URL> order <NUM> code 12345"


def test_base64_decimal_random_width_sweep(spark):
    """C16 property sweep (VERDICT r2 #5; reference
    AvroJsonConvertersTest.java:82-159): random 1..17-byte two's-complement
    inputs diffed against int.from_bytes. Contract: decode equals the exact
    unscaled integer when the width is <=16 bytes AND the magnitude fits
    decimal(38,0); anything wider or larger nulls out (never raises, even
    under ANSI mode)."""
    import base64
    import random
    from decimal import Decimal

    rng = random.Random(0xC16)
    cases = []
    for width in range(1, 18):
        for _ in range(12):
            raw = bytes(rng.randrange(256) for _ in range(width))
            cases.append(raw)
        # deterministic boundary values at every width
        cases.append(b"\x00" * width)                      # zero
        cases.append(b"\xff" * width)                      # -1
        cases.append(b"\x80" + b"\x00" * (width - 1))      # most negative
        cases.append(b"\x7f" + b"\xff" * (width - 1))      # most positive
    df = spark.createDataFrame(
        [(i, base64.b64encode(raw).decode()) for i, raw in enumerate(cases)],
        "i long, b64 string",
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", codecs.base64_to_decimal(F.col("b64"), 38, 0).alias("d")
        ).collect()
    }
    for i, raw in enumerate(cases):
        unscaled = int.from_bytes(raw, "big", signed=True)
        if len(raw) <= 16 and abs(unscaled) <= 10**38 - 1:
            expect = Decimal(unscaled)
        else:
            expect = None
        assert got[i] == expect, (i, len(raw), unscaled, got[i])


def test_base64_decimal_overflow_nulls_not_raises(spark):
    """A 16-byte magnitude past decimal(38) (2^127-5 has 39 digits) must
    decode to null, not abort the job under ANSI."""
    import base64

    v = 2**127 - 5
    b64 = base64.b64encode(v.to_bytes(16, "big", signed=True)).decode()
    assert _one(spark, codecs.base64_to_decimal(F.lit(b64), 38, 0)) is None
    # and a narrow target precision nulls an in-range-but-too-wide value
    b64b = base64.b64encode((10**15).to_bytes(8, "big", signed=True)).decode()
    assert _one(spark, codecs.base64_to_decimal(F.lit(b64b), 12, 2)) is None

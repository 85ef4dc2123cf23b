"""Unit tests for the pure-Python Avro container codec (E2,
AvroRecordWriterProvider.java:27-73 parity). Known-value byte checks pin
the binary encoding to the Apache Avro specification, so the round-trip
tests can't pass via mirrored encoder/decoder bugs."""

import datetime
import io

import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_sink_azure_kusto_spark.functions.avro_io import (
    _zigzag_decode,
    _zigzag_encode,
    avro_schema_for,
    decode_record,
    encode_record,
    read_container,
    sync_marker_for,
    write_container,
)


def test_zigzag_known_values():
    # Apache Avro spec, "Binary encoding / primitive types": int/long are
    # zigzag varints. These exact bytes appear in the spec's examples.
    assert _zigzag_encode(0) == b"\x00"
    assert _zigzag_encode(-1) == b"\x01"
    assert _zigzag_encode(1) == b"\x02"
    assert _zigzag_encode(-2) == b"\x03"
    assert _zigzag_encode(2) == b"\x04"
    assert _zigzag_encode(-64) == b"\x7f"
    assert _zigzag_encode(64) == b"\x80\x01"
    for n in (0, 1, -1, 63, -64, 64, 8191, -8192, 2**40, -(2**40)):
        assert _zigzag_decode(io.BytesIO(_zigzag_encode(n))) == n


def test_known_record_bytes():
    # {"a": long 1, "b": "foo"} per the spec: 0x02, then len=3 (0x06) "foo"
    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    assert encode_record(schema, {"a": 1, "b": "foo"}) == b"\x02\x06foo"


def test_nullable_union_bytes():
    # null-first union: None ⇒ index 0 (0x00) and nothing else;
    # value ⇒ index 1 (0x02) then the datum.
    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "a", "type": ["null", "long"]}],
    }
    assert encode_record(schema, {"a": None}) == b"\x00"
    assert encode_record(schema, {"a": 3}) == b"\x02\x06"


def test_schema_mapping_from_spark():
    spark_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("name", StringType(), True),
            StructField("ok", BooleanType(), False),
            StructField("score", DoubleType(), True),
            StructField("ts", TimestampType(), True),
        ]
    )
    avro = avro_schema_for(spark_schema)
    by_name = {f["name"]: f["type"] for f in avro["fields"]}
    assert by_name["id"] == "long"
    assert by_name["name"] == ["null", "string"]
    assert by_name["ok"] == "boolean"
    assert by_name["score"] == ["null", "double"]
    assert by_name["ts"] == ["null", {"type": "long", "logicalType": "timestamp-micros"}]


def test_record_roundtrip_all_types():
    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "b", "type": "boolean"},
            {"name": "by", "type": "bytes"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
        ],
    }
    rec = {
        "l": -(2**40),
        "i": 42,
        "d": 3.25,
        "f": 0.5,
        "s": None,
        "b": True,
        "by": b"\x00\xff",
        "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
        "dt": datetime.date(2024, 1, 2),
    }
    out = decode_record(schema, io.BytesIO(encode_record(schema, rec)))
    assert out["l"] == rec["l"] and out["i"] == 42
    assert out["d"] == 3.25 and out["f"] == 0.5
    assert out["s"] is None and out["b"] is True and out["by"] == b"\x00\xff"
    assert out["ts"] == rec["ts"] and out["dt"] == rec["dt"]


def test_container_roundtrip_multiblock():
    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "n", "type": "long"}],
    }
    records = [{"n": i} for i in range(7)]
    bio = io.BytesIO()
    assert write_container(records, schema, bio, block_records=2) == 7  # 4 blocks
    got_schema, got = read_container(bio.getvalue())
    assert got == records
    assert got_schema["fields"][0]["name"] == "n"


def test_container_magic_and_determinism():
    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "n", "type": "long"}],
    }
    bufs = []
    for _ in range(2):
        bio = io.BytesIO()
        write_container([{"n": 5}], schema, bio)
        bufs.append(bio.getvalue())
    assert bufs[0] == bufs[1]  # deterministic sync marker ⇒ identical files
    assert bufs[0][:4] == b"Obj\x01"
    assert len(sync_marker_for("x")) == 16


def test_unsupported_nested_type_raises():
    # r11: arrays/maps/structs are now SUPPORTED; the remaining rejects
    # are non-string map keys and genuinely unmapped Spark types
    from pyspark.sql.types import MapType

    with pytest.raises(NotImplementedError, match="map keys must be strings"):
        avro_schema_for(
            StructType([StructField("m", MapType(LongType(), LongType()), True)])
        )
    from pyspark.sql.types import DayTimeIntervalType

    with pytest.raises(NotImplementedError, match="unsupported Spark type"):
        avro_schema_for(
            StructType([StructField("d", DayTimeIntervalType(), True)])
        )


def test_count_container_records_matches_decode():
    from kafka_sink_azure_kusto_spark.functions.avro_io import count_container_records

    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "n", "type": "long"}, {"name": "s", "type": "string"}],
    }
    bio = io.BytesIO()
    write_container([{"n": i, "s": "x" * i} for i in range(23)], schema, bio,
                    block_records=5)
    blob = bio.getvalue()
    assert count_container_records(blob) == 23  # O(blocks), no decode
    assert len(read_container(blob)[1]) == 23


def test_decode_payload_avro_pure_python_fallback(spark):
    # decode_payload(fmt='avro') must work WITHOUT the spark-avro jar:
    # the jar probe routes to the Arrow-batched avro_io fallback, which
    # decodes bare binary records (the from_avro input shape) exactly.
    import json

    from kafka_sink_azure_kusto_spark.functions.encoders import decode_payload

    avro_schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
    out_schema = StructType(
        [StructField("a", LongType()), StructField("b", StringType())]
    )
    rows = [
        (0, encode_record(avro_schema, {"a": 7, "b": "x"})),
        (1, encode_record(avro_schema, {"a": -3, "b": None})),
        (2, None),  # NULL value → NULL payload fields
    ]
    df = spark.createDataFrame(rows, "row_id long, value binary")
    got = {
        r.row_id: r.payload
        for r in decode_payload(df, fmt="avro", schema=out_schema,
                                avro_schema_json=json.dumps(avro_schema)).collect()
    }
    assert got[0].a == 7 and got[0].b == "x"
    assert got[1].a == -3 and got[1].b is None
    assert got[2].a is None and got[2].b is None


# ------------------------------------------ codegen (expression) decode


def test_avro_codegen_decode_matches_python_codec(spark):
    """The r7 avro expression decoder must agree with decode_record on
    all supported primitives, multi-byte zigzag lengths/values (incl.
    negative longs), and empty/NULL bodies."""
    import io as _io
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DoubleType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_sink_azure_kusto_spark.functions.avro_io import (
        attach_avro_codegen_decode,
        avro_codegen_decodable,
        decode_record,
        encode_record,
    )

    schema = {
        "type": "record",
        "name": "T",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": "string"},
            {"name": "y", "type": "bytes"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
        ],
    }
    assert avro_codegen_decodable(schema)
    assert not avro_codegen_decodable(
        {"type": "record", "name": "U",
         "fields": [{"name": "x", "type": ["null", "long"]}]}
    )

    out_schema = StructType(
        [
            StructField("l", LongType()),
            StructField("i", LongType()),
            StructField("b", BooleanType()),
            StructField("s", StringType()),
            StructField("y", BinaryType()),
            StructField("d", DoubleType()),
            StructField("f", FloatType()),
        ]
    )
    recs = [
        {"l": 0, "i": 0, "b": False, "s": "", "y": b"", "d": 0.0, "f": 0.0},
        {"l": -1, "i": 63, "b": True, "s": "héllo", "y": b"\x00\xff",
         "d": 2.25, "f": -2.5},
        {"l": (1 << 62), "i": -(1 << 30), "b": True, "s": "x" * 300,
         "y": b"\x80" * 200, "d": -1e308, "f": 3.0e38},
        {"l": -(1 << 62), "i": 1, "b": False, "s": "日本語", "y": b"q",
         "d": 5e-324, "f": 1.4e-45},
    ]
    bodies = [encode_record(schema, r) for r in recs] + [None]
    df = spark.createDataFrame([(b,) for b in bodies], "value binary")
    rows = attach_avro_codegen_decode(
        df, F.col("value"), schema, out_schema
    ).select("value", "payload").collect()
    for row in rows:
        if row["value"] is None:
            assert row["payload"] is None
            continue
        expect = decode_record(schema, _io.BytesIO(bytes(row["value"])))
        got = row["payload"].asDict()
        for k in ("l", "i", "b", "s"):
            assert got[k] == expect[k], (k, expect, got)
        assert bytes(got["y"]) == expect["y"]
        for k in ("d", "f"):
            if math.isnan(expect[k]):
                assert math.isnan(got[k])
            else:
                assert got[k] == expect[k] or abs(got[k] - expect[k]) <= 1e-6 * abs(expect[k]), (
                    k, expect[k], got[k]
                )


def test_avro_codegen_nulls_overlength_slice(spark):
    """ADVICE r7 #1 (avro arm): a string/bytes length declaring more
    bytes than the body holds must NULL the field and starve the walk —
    substr's silent short slice would otherwise decode a truncated body
    to a non-NULL prefix, diverging from decode_record's error→NULL
    contract."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kafka_sink_azure_kusto_spark.functions.avro_io import (
        attach_avro_codegen_decode,
        encode_record,
    )

    schema = {
        "type": "record",
        "name": "T",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "l", "type": "long"},
        ],
    }
    out_schema = StructType(
        [StructField("s", StringType()), StructField("l", LongType())]
    )
    good = encode_record(schema, {"s": "hello", "l": 9})
    truncated = good[:3]  # declares len 5, holds 'he'; 'l' gone too
    df = spark.createDataFrame([(good,), (truncated,)], "value binary")
    rows = attach_avro_codegen_decode(
        df, F.col("value"), schema, out_schema
    ).select("payload").collect()
    assert rows[0]["payload"]["s"] == "hello"
    assert rows[0]["payload"]["l"] == 9
    assert rows[1]["payload"]["s"] is None  # NOT 'he'
    assert rows[1]["payload"]["l"] is None  # starved walk


def test_avro_codegen_quotes_field_names(spark):
    """An output field name is a string literal inside named_struct:
    a quote or backslash in it must be escaped, not end the literal."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kafka_sink_azure_kusto_spark.functions.avro_io import (
        attach_avro_codegen_decode,
        encode_record,
    )

    schema = {
        "type": "record",
        "name": "T",
        "fields": [
            {"name": "it's", "type": "long"},
            {"name": "back\\slash", "type": "string"},
        ],
    }
    out_schema = StructType(
        [
            StructField("it's", LongType()),
            StructField("back\\slash", StringType()),
            StructField("absent's", LongType()),
        ]
    )
    body = encode_record(schema, {"it's": -3, "back\\slash": "q"})
    df = spark.createDataFrame([(body,)], "value binary")
    out = attach_avro_codegen_decode(df, "value", schema, out_schema)
    assert out.schema["payload"].dataType == out_schema
    got = out.select("payload").collect()[0]["payload"].asDict()
    assert got == {"it's": -3, "back\\slash": "q", "absent's": None}


def test_decode_record_truncated_variable_width_raises():
    """ADVICE r10 #3: truncated string/bytes values must raise EOFError
    (the loud-reject contract the fixed-width float/double fix set),
    never silently return short data."""
    for typ, val in (("string", "hello"), ("bytes", b"hello")):
        schema = {
            "type": "record",
            "name": "T",
            "fields": [{"name": "f", "type": typ}],
        }
        good = encode_record(schema, {"f": val})
        assert decode_record(schema, io.BytesIO(good)) == {"f": val}
        with pytest.raises(EOFError, match="truncated"):
            decode_record(schema, io.BytesIO(good[:3]))


def test_container_snappy_crc_mismatch_rejected():
    """The Avro snappy framing's CRC32-of-uncompressed suffix is
    verified: a corrupted checksum rejects even when the compressed
    body itself inflates fine."""
    schema = {
        "type": "record",
        "name": "T",
        "fields": [{"name": "x", "type": "long"}],
    }
    bio = io.BytesIO()
    write_container([{"x": 1}, {"x": 2}], schema, bio, codec="snappy")
    data = bytearray(bio.getvalue())
    # the last 16 bytes are the sync marker; the 4 before it are the CRC
    data[-17] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        read_container(bytes(data))


def test_nested_record_array_map_roundtrip():
    """r11: nested structs / arrays / string-keyed maps — the reference
    writer serializes arbitrary Connect schemas through the Avro lib
    (AvroRecordWriterProvider.java:37), so nesting is parity surface."""
    from pyspark.sql.types import ArrayType, MapType

    st = StructType([
        StructField("id", LongType(), False),
        StructField("tags", ArrayType(StringType(), containsNull=False), False),
        StructField("scores", ArrayType(DoubleType(), containsNull=True), True),
        StructField("attrs", MapType(StringType(), LongType(), False), False),
        StructField("inner", StructType([
            StructField("a", StringType(), True),
            StructField("b", ArrayType(LongType(), False), False),
        ]), True),
    ])
    schema = avro_schema_for(st)
    recs = [
        {"id": 1, "tags": ["x", "y"], "scores": [1.5, None, 2.5],
         "attrs": {"k1": 10, "k2": 20}, "inner": {"a": "hi", "b": [1, 2, 3]}},
        {"id": 2, "tags": [], "scores": None, "attrs": {}, "inner": None},
    ]
    for r in recs:
        assert decode_record(schema, io.BytesIO(encode_record(schema, r))) == r
    bio = io.BytesIO()
    write_container(recs, schema, bio, codec="deflate")
    _, back = read_container(bio.getvalue())
    assert back == recs


def test_enum_and_fixed_types():
    es = {"type": "record", "name": "E", "fields": [
        {"name": "color",
         "type": {"type": "enum", "name": "C",
                  "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "mac", "type": {"type": "fixed", "name": "M", "size": 6}},
    ]}
    r = {"color": "GREEN", "mac": b"\x01\x02\x03\x04\x05\x06"}
    good = encode_record(es, r)
    assert decode_record(es, io.BytesIO(good)) == r
    with pytest.raises(EOFError, match="truncated fixed"):
        decode_record(es, io.BytesIO(good[:-2]))
    with pytest.raises(ValueError, match="not in symbols"):
        encode_record(es, {"color": "MAUVE", "mac": r["mac"]})
    with pytest.raises(ValueError, match="6"):
        encode_record(es, {"color": "RED", "mac": b"\x01"})
    # negative-count array blocks (spec: abs count + byte size) decode
    arr_schema = {"type": "record", "name": "A", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}}]}
    from kafka_sink_azure_kusto_spark.functions.avro_io import _zigzag_encode
    body = (_zigzag_encode(-2) + _zigzag_encode(2)
            + _zigzag_encode(7) + _zigzag_encode(9) + _zigzag_encode(0))
    assert decode_record(arr_schema, io.BytesIO(body)) == {"xs": [7, 9]}


def test_decimal_logical_type_roundtrip():
    """r11: Avro decimal logical type (bytes + two's-complement
    big-endian unscaled int) — the exact-precision path the Kusto
    decimal round-trip needs (SURVEY §7.4). Scale is preserved, inexact
    values reject loudly, negatives take minimal signed bytes."""
    import decimal

    from pyspark.sql.types import DecimalType

    D = decimal.Decimal
    st = StructType([
        StructField("amt", DecimalType(12, 2), False),
        StructField("opt", DecimalType(5, 0), True),
    ])
    schema = avro_schema_for(st)
    assert schema["fields"][0]["type"] == {
        "type": "bytes", "logicalType": "decimal",
        "precision": 12, "scale": 2,
    }
    cases = [
        (D("1234567890.12"), D("42")),
        (D("-0.01"), None),
        (D("0.00"), D("-99999")),
        (D("-9999999999.99"), D("0")),
    ]
    for amt, opt in cases:
        r = {"amt": amt, "opt": opt}
        back = decode_record(schema, io.BytesIO(encode_record(schema, r)))
        assert back == r
        assert back["amt"].as_tuple().exponent == -2  # scale preserved
    with pytest.raises(ValueError, match="does not fit scale"):
        encode_record(schema, {"amt": D("1.234"), "opt": None})
    with pytest.raises(EOFError, match="truncated decimal"):
        good = encode_record(schema, {"amt": D("12345678.90"), "opt": None})
        decode_record(schema, io.BytesIO(good[:2]))


def test_container_xz_roundtrip_and_corrupt_reject():
    schema = {"type": "record", "name": "R",
              "fields": [{"name": "a", "type": "long"},
                         {"name": "s", "type": "string"}]}
    recs = [{"a": i, "s": "v" * (i % 23)} for i in range(60)]
    bio = io.BytesIO()
    write_container(recs, schema, bio, block_records=16, codec="xz")
    data = bytearray(bio.getvalue())
    _, back = read_container(bytes(data))
    assert back == recs
    data[-30] ^= 0xFF  # inside the last compressed block
    with pytest.raises(ValueError):
        read_container(bytes(data))


def test_logical_type_family_roundtrip():
    """timestamp-millis / local-timestamp-* / time-millis / time-micros
    / uuid logical types round-trip through the value codec (externally
    produced OCFs carry these routinely; falling back to the raw base
    type would silently change semantics)."""
    import datetime as dt
    import io

    schema = {
        "type": "record",
        "name": "L",
        "fields": [
            {"name": "tsm", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "ltm", "type": {"type": "long", "logicalType": "local-timestamp-millis"}},
            {"name": "ltu", "type": {"type": "long", "logicalType": "local-timestamp-micros"}},
            {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
            {"name": "tu", "type": {"type": "long", "logicalType": "time-micros"}},
            {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
        ],
    }
    rec = {
        "tsm": dt.datetime(2024, 5, 17, 12, 34, 56, 789000),
        "ltm": dt.datetime(1969, 12, 31, 23, 59, 59, 1000),  # negative epoch
        "ltu": dt.datetime(2024, 5, 17, 12, 34, 56, 789123),
        "tm": dt.time(23, 59, 59, 250000),
        "tu": dt.time(0, 0, 0, 1),
        "u": "123e4567-e89b-12d3-a456-426614174000",
    }
    out = decode_record(schema, io.BytesIO(encode_record(schema, rec)))
    assert out == rec


def test_logical_type_loud_rejects():
    import datetime as dt
    import io

    import pytest

    ms = {"type": "record", "name": "M", "fields": [
        {"name": "t", "type": {"type": "long", "logicalType": "timestamp-millis"}}]}
    with pytest.raises(ValueError, match="sub-millisecond"):
        encode_record(ms, {"t": dt.datetime(2024, 1, 1, 0, 0, 0, 123)})

    tmm = {"type": "record", "name": "T", "fields": [
        {"name": "t", "type": {"type": "int", "logicalType": "time-millis"}}]}
    with pytest.raises(ValueError, match="sub-ms"):
        encode_record(tmm, {"t": dt.time(1, 2, 3, 500)})
    # out-of-day-range raw value loud-rejects on decode
    from kafka_sink_azure_kusto_spark.functions.avro_io import _zigzag_encode
    with pytest.raises(ValueError, match="out of day range"):
        decode_record(tmm, io.BytesIO(_zigzag_encode(86_400_000)))

    uu = {"type": "record", "name": "U", "fields": [
        {"name": "u", "type": {"type": "string", "logicalType": "uuid"}}]}
    with pytest.raises(ValueError):
        encode_record(uu, {"u": "not-a-uuid"})
    bad = encode_record(
        {"type": "record", "name": "S", "fields": [{"name": "u", "type": "string"}]},
        {"u": "also-not-a-uuid"},
    )
    with pytest.raises(ValueError):
        decode_record(uu, io.BytesIO(bad))

    # local-timestamp-* is WALL-CLOCK: a tz-aware input is ambiguous
    # and must loud-reject rather than silently storing the UTC
    # conversion (ADVICE r11 #4); a naive input with the same fields
    # encodes fine.
    aware = dt.datetime(2024, 5, 17, 12, 0, 0, tzinfo=dt.timezone(
        dt.timedelta(hours=5, minutes=30)))
    for logical in ("local-timestamp-millis", "local-timestamp-micros"):
        lt = {"type": "record", "name": "L", "fields": [
            {"name": "t", "type": {"type": "long", "logicalType": logical}}]}
        with pytest.raises(ValueError, match="tz-aware"):
            encode_record(lt, {"t": aware})
        enc = encode_record(lt, {"t": aware.replace(tzinfo=None)})
        assert decode_record(lt, io.BytesIO(enc))["t"] == dt.datetime(
            2024, 5, 17, 12, 0, 0)


def test_timestamp_millis_integer_passthrough():
    """Raw ints (pre-scaled) pass through the timestamp/time encoders
    unchanged, matching the base-type contract."""
    import datetime as dt
    import io

    schema = {"type": "record", "name": "P", "fields": [
        {"name": "t", "type": {"type": "long", "logicalType": "timestamp-millis"}}]}
    enc = encode_record(schema, {"t": 1_715_949_296_789})
    out = decode_record(schema, io.BytesIO(enc))
    assert out["t"] == dt.datetime(2024, 5, 17, 12, 34, 56, 789000)

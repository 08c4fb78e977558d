"""Avro binary decode (operators/avro.py) — the reference's test schema
and expected native value (avrologencodingextension
extension_test.go:24-37, testdata/schema1.avro) plus wire-level edge
cases: negative block counts, null unions, malformed isolation.

The schema is read from ``tests/data/schema1.avro``, a committed copy of
the package's documented transcription ``operators/avro.AVRO_LOG_SCHEMA``,
not the reference's own file. These tests therefore no longer check that
the package copy matches the reference bytes; they check the decoder
against that schema."""

from __future__ import annotations

import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_contrib_spark.operators.avro import (
    AVRO_LOG_SCHEMA,
    _reader,
    _zigzag_decode,
    _zigzag_encode,
    avro_encode,
    parse_avro,
    synthesize_avro_logs,
)

with open(os.path.join(os.path.dirname(__file__), "data", "schema1.avro")) as _f:
    REF_SCHEMA = json.load(_f)
# the exact native value extension_test.go:37 asserts
REF_VALUE = {
    "timestamp": 1697187201488000000,
    "message": "log message",
    "hostname": "host1",
    "count": 5,
    "levelEnum": "INFO",
    "severity": 1,
    "level": "warn",
    "properties": ["prop1", "prop2"],
    "nestedRecord": {"field1": 12, "field2": "val2"},
    "mapField": {},
}


def test_reference_schema_roundtrip():
    data = avro_encode(REF_SCHEMA, REF_VALUE)
    dec, kind = _reader(REF_SCHEMA)
    out, pos = dec(data, 0)
    assert kind == "record" and pos == len(data) and out == REF_VALUE


def test_negative_block_count_arrays_and_maps():
    # goavro-style writers may emit a negative count + block byte size
    schema = {"type": "array", "items": "long"}
    body = b"".join(_zigzag_encode(v) for v in (7, -3))
    data = _zigzag_encode(-2) + _zigzag_encode(len(body)) + body + _zigzag_encode(0)
    dec, _ = _reader(schema)
    assert dec(data, 0) == ([7, -3], len(data))


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(1 << 62), max_value=(1 << 62)))
def test_zigzag_roundtrip(v):
    enc = _zigzag_encode(v)
    got, pos = _zigzag_decode(enc, 0)
    assert got == v and pos == len(enc)


def test_spark_decode_types_nulls_and_malformed_isolation(spark):
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 3).alias("user_id"),
        F.lit("T").alias("event_type"),
    )
    payloads = synthesize_avro_logs(df)
    # corrupt one payload: decode must NULL that row's avro columns only
    corrupted = payloads.withColumn(
        "payload",
        F.when(F.col("event_id") == 13, F.lit(b"\xff\xff\xff")).otherwise(F.col("payload")),
    )
    out = parse_avro(corrupted, "payload", AVRO_LOG_SCHEMA)
    rows = {r["event_id"]: r for r in out.collect()}
    assert len(rows) == 20
    assert rows[13]["av_message"] is None and rows[13]["av_timestamp"] is None
    r1 = rows[1]
    assert r1["av_message"] == "m1" and isinstance(r1["av_timestamp"], int)
    assert r1["av_levelEnum"] == "INFO" and r1["av_level"] == "warn"
    assert rows[7]["av_level"] is None  # null-union branch
    assert rows[4]["av_properties"] == "[]" and rows[5]["av_mapField"] == "{}"
    assert rows[6]["av_properties"] == "[T,p2]" and rows[6]["av_mapField"] == "{k=T}"


def test_negative_map_key_length_raises_not_hangs():
    schema = {"type": "map", "values": "int"}
    dec, _ = _reader(schema)
    import pytest as _pytest

    # block count 1, then key length zigzag(-3): must raise, never loop
    with _pytest.raises((ValueError, IndexError)):
        dec(_zigzag_encode(1) + _zigzag_encode(-3) + b"\x05", 0)


@settings(max_examples=150, deadline=1000)
@given(st.binary(min_size=0, max_size=64))
def test_avro_decoder_never_hangs_on_arbitrary_bytes(raw):
    """The reference schema exercises every composite type; arbitrary bytes
    must either decode or raise — bounded time, no infinite block loops
    (the dec_map regression class)."""
    import struct as _struct

    dec, _ = _reader(REF_SCHEMA)
    try:
        dec(raw, 0)
    except (ValueError, IndexError, KeyError, _struct.error, UnicodeDecodeError, OverflowError):
        pass
    except MemoryError:
        pass

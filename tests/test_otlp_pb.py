"""OTLP protobuf logs decode (operators/otlp_pb.py) — proto wire subset
against the public opentelemetry-proto logs.proto/common.proto field
numbers: AnyValue oneof coverage, two's-complement int64 varints, unknown
field skipping, malformed-payload rejection."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
    _enc_varint,
    _ld,
    _tag,
    decode_logs_data,
    enc_any,
    enc_log_record,
    enc_logs_data,
    parse_otlp_pb_logs,
    synthesize_otlp_pb,
)


def _payload(**kw):
    rec = enc_log_record(1_000_000_000, kw.pop("body", "b"), **kw)
    return enc_logs_data([rec], {"service.name": "s"}, "scope")


def test_anyvalue_oneof_coverage():
    rec = enc_log_record(
        1_000_000_000,
        "body",
        attrs={
            "s": "str", "b": True, "f": False, "i": 42, "neg": -7,
            "d": 2.5, "raw": b"\xde\xad", "arr": [1, "two", False],
            "kv": {"y": 1, "x": "z"},
        },
    )
    row = decode_logs_data(enc_logs_data([rec]))[0]
    assert row["ol_attrs_csv"] == (
        "arr=[1,two,false],b=true,d=2.5,f=false,i=42,kv={x=z,y=1},neg=-7,raw=dead,s=str"
    )
    assert row["ol_ts_us"] == 1_000_000


def test_negative_int64_varint_is_twos_complement():
    # proto encodes int64 -1 as 10 bytes of two's complement, not zigzag
    raw = enc_any(-1)
    row = decode_logs_data(enc_logs_data([enc_log_record(0, "x", attrs={"n": -1})]))[0]
    assert row["ol_attrs_csv"] == "n=-1"
    assert len(raw) >= 11


def test_unknown_fields_are_skipped():
    # splice an unknown varint field (99) and an unknown fixed32 (98) into
    # a LogRecord — decode must ignore both and keep everything else
    rec = enc_log_record(2_000_000_000, "hello", 9, "INFO")
    rec += _tag(99, 0) + _enc_varint(12345)
    rec += _tag(98, 5) + struct.pack("<I", 7)
    row = decode_logs_data(enc_logs_data([rec]))[0]
    assert (row["ol_body"], row["ol_severity_text"]) == ("hello", "INFO")


def test_trace_span_ids_hex_and_scope_resource():
    rec = enc_log_record(0, "x", trace_id=bytes(range(16)), span_id=b"\xff" * 8)
    row = decode_logs_data(enc_logs_data([rec], {"k": "v", "a": 1}, "lib"))[0]
    assert row["ol_trace_id"] == "000102030405060708090a0b0c0d0e0f"
    assert row["ol_span_id"] == "ffffffffffffffff"
    assert row["ol_scope"] == "lib" and row["ol_resource_csv"] == "a=1,k=v"


def test_multiple_records_and_truncation_rejection(spark):
    r1, r2 = enc_log_record(0, "a"), enc_log_record(0, "b")
    good = enc_logs_data([r1, r2])
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:-3])), (3, None)], "id int, payload binary"
    )
    rows = parse_otlp_pb_logs(df, "payload").collect()
    assert sorted((r["id"], r["ol_body"]) for r in rows) == [(1, "a"), (1, "b")]


def test_synthesize_shape(spark):
    from pyspark.sql import functions as F

    df = spark.range(4).select(F.col("id").alias("event_id"), F.lit("T").alias("event_type"))
    out = parse_otlp_pb_logs(synthesize_otlp_pb(df, cols={"etype": "event_type"}), "payload")
    assert out.count() == 8  # two records per payload
    sev = {r["ol_severity_text"] for r in out.collect()}
    assert sev == {"INFO", "ERROR"}


def test_traces_decode_span_fields(spark):
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        decode_traces_data,
        enc_span,
        enc_traces_data,
        parse_otlp_pb_traces,
    )

    span = enc_span(
        trace_id=bytes(range(16)), span_id=b"\x01" * 8, name="GET /x",
        start_ns=5_000_000_000, end_ns=5_250_000_000, kind=3,
        parent_span_id=b"\x02" * 8, attrs={"http.status": 200}, status_code=2,
    )
    row = decode_traces_data(enc_traces_data([span], {"service.name": "s1"}))[0]
    assert row["sp_name"] == "GET /x" and row["sp_kind"] == 3
    assert row["sp_parent_span_id"] == "02" * 8
    assert (row["sp_start_us"], row["sp_end_us"]) == (5_000_000, 5_250_000)
    assert row["sp_status_code"] == 2
    assert row["sp_attrs_csv"] == "http.status=200"
    assert row["sp_resource_csv"] == "service.name=s1"
    # truncated payloads drop through the Spark path
    df = spark.createDataFrame(
        [(1, bytearray(enc_traces_data([span]))), (2, bytearray(b"\x0a\xff"))],
        "id int, payload binary",
    )
    assert parse_otlp_pb_traces(df, "payload").count() == 1


def test_metrics_decode_gauge_and_sum():
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        decode_metrics_data,
        enc_metric,
        enc_metrics_data,
        enc_number_dp,
    )

    g = enc_metric("cpu.load", "1", [enc_number_dp(1_000, 0.75, {"core": 0})], "gauge")
    s = enc_metric(
        "req.count", "1",
        [enc_number_dp(2_000, 42), enc_number_dp(3_000, 43)],
        "sum", temporality=2, monotonic=True,
    )
    rows = decode_metrics_data(enc_metrics_data([g, s]))
    assert len(rows) == 3
    gauge = next(r for r in rows if r["mt_type"] == "gauge")
    assert gauge["mt_value"] == 0.75 and gauge["mt_is_int"] is False
    assert gauge["mt_temporality"] is None and gauge["mt_attrs_csv"] == "core=0"
    sums = [r for r in rows if r["mt_type"] == "sum"]
    assert {r["mt_value"] for r in sums} == {42.0, 43.0}
    assert all(r["mt_monotonic"] and r["mt_temporality"] == 2 and r["mt_is_int"] for r in sums)


def test_histogram_packed_fields_roundtrip(spark):
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        parse_otlp_pb_histograms,
        synthesize_otlp_pb_histograms,
    )

    df = spark.range(6).select(
        F.col("id").alias("event_id"), F.lit("T").alias("event_type"),
        (F.col("id") * 1.5).alias("value"),
    )
    rows = {r["event_id"]: r for r in
            parse_otlp_pb_histograms(synthesize_otlp_pb_histograms(df), "payload").collect()}
    assert len(rows) == 6
    r = rows[3]
    assert r["hh_bucket_counts_csv"] == "3,1,0" and r["hh_bounds_csv"] == "1.0,5.0"
    assert r["hh_count"] == 4 and r["hh_sum"] == 4.5
    assert r["hh_name"] == "T.latency" and r["hh_temporality"] == 2


def test_exp_histogram_zigzag_and_negative_buckets():
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        decode_exp_histograms_data,
        enc_exp_hist_dp,
        enc_exp_histogram_metric,
        enc_metrics_data,
    )

    dp = enc_exp_hist_dp(
        1_000_000_000, 7, -1.5, scale=-4, zero_count=2,
        pos_offset=-17, pos_counts=[1, 0, 300],  # 300 needs a 2-byte varint
        neg_offset=3, neg_counts=[5],
    )
    row = decode_exp_histograms_data(
        enc_metrics_data([enc_exp_histogram_metric("m", [dp], temporality=1)])
    )[0]
    assert row["eh_scale"] == -4 and row["eh_pos_offset"] == -17
    assert row["eh_pos_counts_csv"] == "1,0,300"
    assert row["eh_neg_offset"] == 3 and row["eh_neg_counts_csv"] == "5"
    assert row["eh_temporality"] == 1 and row["eh_sum"] == -1.5


def test_jaeger_span_decode(spark):
    from opentelemetry_collector_contrib_spark.operators.jaeger_pb import (
        decode_jaeger_span,
        enc_jaeger_span,
        parse_jaeger_pb_spans,
    )

    s = enc_jaeger_span(
        bytes(range(16)), b"\x01" * 8, "op", 1_000_000, 500,
        parent_span_id=None, flags=2,
        tags={"neg": -5, "d": 1.5}, service="s1",
    )
    row = decode_jaeger_span(s)[0]
    assert row["jg_parent_span_id"] is None and row["jg_flags"] == 2
    assert row["jg_tags_csv"] == "d=1.5,neg=-5"  # negative int64 varint
    assert (row["jg_start_us"], row["jg_duration_us"]) == (1_000_000, 500)
    # spark path drops malformed payloads
    df = spark.createDataFrame(
        [(1, bytearray(s)), (2, bytearray(b"\x99\x99"))], "id int, payload binary"
    )
    got = parse_jaeger_pb_spans(df, "payload").collect()
    assert len(got) == 1 and got[0]["jg_service"] == "s1"


def test_review_fixes_duplicate_keys_bad_enums_and_none_values(spark):
    """Review regressions: duplicate attribute keys with mixed types must
    not TypeError the payload away; out-of-int32 enums must drop the
    payload inside the guard (not fail the task in Arrow conversion)."""
    import struct as _struct

    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        _enc_varint,
        _ld,
        _tag,
        decode_logs_data,
        enc_kv,
        enc_log_record,
        enc_logs_data,
        parse_otlp_pb_logs,
    )

    # duplicate key, int vs str values — must decode, sorted by key then value
    rec = enc_log_record(0, "b")
    rec += _ld(6, enc_kv("k", 1)) + _ld(6, enc_kv("k", "x")) + _ld(6, enc_kv("a", None))
    row = decode_logs_data(enc_logs_data([rec]))[0]
    assert row["ol_attrs_csv"] == "a=,k=1,k=x"

    # negative enums arrive as 10-byte two's-complement varints: -1 must
    # decode to -1 (valid int32), NOT drop the payload
    neg = enc_log_record(0, "negsev") + _tag(2, 0) + _enc_varint(-1)
    assert decode_logs_data(enc_logs_data([neg]))[0]["ol_severity_number"] == -1
    # a varint beyond int32 range must drop the payload INSIDE the guard
    # (reaching pandas->Arrow int32 conversion would fail the whole task)
    bad = _tag(1, 1) + _struct.pack("<Q", 0) + _tag(2, 0) + _enc_varint(1 << 40)
    bad += _ld(5, enc_kv("ignored", "x"))
    good = enc_log_record(0, "fine", 9)
    df = spark.createDataFrame(
        [(1, bytearray(enc_logs_data([bad]))), (2, bytearray(enc_logs_data([good])))],
        "id int, payload binary",
    )
    rows = parse_otlp_pb_logs(df, "payload").collect()
    assert [(r["id"], r["ol_body"]) for r in rows] == [(2, "fine")]


def test_fluent_bool_second_element_is_malformed(spark):
    from opentelemetry_collector_contrib_spark.operators.fluent import (
        decode_event,
        mp_encode,
        parse_fluent_forward,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_event(mp_encode(["tag", True, {"message": "m"}]))
    df = spark.createDataFrame(
        [(1, bytearray(mp_encode(["t", True, {"message": "m"}])))], "id int, payload binary"
    )
    assert parse_fluent_forward(df, "payload").count() == 0


# --- property: the wire readers terminate and fail boundedly on any bytes ----

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=96))
def test_proto_decoders_never_hang_or_crash_unexpectedly(raw):
    import struct as _struct

    from opentelemetry_collector_contrib_spark.operators import otlp_pb as m

    for dec in (
        m.decode_logs_data,
        m.decode_traces_data,
        m.decode_metrics_data,
        m.decode_histograms_data,
        m.decode_exp_histograms_data,
        m.decode_remote_write,
        m.decode_signalfx,
        m.decode_skywalking_segment,
    ):
        try:
            out = dec(raw)
            assert isinstance(out, list)
        except (ValueError, IndexError, KeyError, TypeError, AttributeError,
                MemoryError, OverflowError, _struct.error, UnicodeDecodeError):
            # all of these are inside _pb_map's per-payload guard -> the
            # payload drops; the property is that decode TERMINATES
            pass

    from opentelemetry_collector_contrib_spark.operators.jaeger_pb import decode_jaeger_span

    try:
        decode_jaeger_span(raw)
    except (ValueError, IndexError, KeyError, TypeError, AttributeError,
            MemoryError, OverflowError, _struct.error, UnicodeDecodeError):
        pass


def test_signalfx_datapoint_roundtrip_and_negatives():
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        decode_signalfx,
        enc_sfx_datapoint,
        enc_sfx_upload,
    )

    payload = enc_sfx_upload(
        [
            enc_sfx_datapoint("lat", 1.25, 1700000000000, 0, {"b": "2", "a": "1"}, source="web"),
            enc_sfx_datapoint("hits", -7, -1000, 3),
        ]
    )
    rows = decode_signalfx(payload)
    assert [r["sfx_metric"] for r in rows] == ["lat", "hits"]
    g, c = rows
    assert g["sfx_value"] == 1.25 and not g["sfx_is_int"] and g["sfx_source"] == "web"
    assert g["sfx_dims_csv"] == "a=1,b=2" and g["sfx_type"] == "GAUGE"
    # negative int64 varints (two's complement, NOT zigzag) round-trip
    assert c["sfx_value"] == -7.0 and c["sfx_is_int"] and c["sfx_ts_ms"] == -1000
    assert c["sfx_type"] == "CUMULATIVE_COUNTER" and c["sfx_dims_csv"] is None


def test_skywalking_segment_negative_parent_and_enums():
    from opentelemetry_collector_contrib_spark.operators.otlp_pb import (
        decode_skywalking_segment,
        enc_sw_segment,
        enc_sw_span,
    )

    seg = enc_sw_segment(
        "t" * 32, "s" * 32, "svc", "inst",
        [
            enc_sw_span(0, -1, 1000, 2000, "/root", span_type=0, layer=3,
                        is_error=True, tags={"b": "2", "a": "1"}),
            enc_sw_span(1, 0, 1100, 1900, "child", peer="db:3306", span_type=1, layer=1),
        ],
    )
    rows = decode_skywalking_segment(seg)
    assert len(rows) == 2
    root, child = rows
    assert root["sw_parent_span_id"] == -1 and root["sw_is_error"]
    assert root["sw_type"] == "Entry" and root["sw_layer"] == "Http"
    assert root["sw_tags_csv"] == "a=1,b=2"
    assert child["sw_peer"] == "db:3306" and child["sw_type"] == "Exit"
    assert child["sw_layer"] == "Database" and not child["sw_is_error"]
    assert all(r["sw_service"] == "svc" and r["sw_trace_id"] == "t" * 32 for r in rows)

"""carbon / collectd / firehose wire parsers against the reference's own
test tables: plaintext_parser_test.go:20-123 (value + timestamp dispatch,
4-part and bad-value errors) and :141-205 (parsePath tag cases),
collectd.go naming rules, receiver.go:75-89 envelope."""

from __future__ import annotations

import base64
import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.parse import (
    parse_carbon,
    parse_collectd_json,
    parse_firehose_envelope,
)

DATA_DIR = os.path.join(os.path.dirname(__file__), "data")


def _carbon(spark, *lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "body string")
    out = parse_carbon(df, "body").collect()
    return {r["body"]: r.asDict() for r in out}


def test_carbon_reference_value_and_timestamp_table(spark):
    rows = _carbon(
        spark,
        "tst.int 1 1582230020",
        "tst.dbl 3.14 1582230020",
        "tst.int.3tags;k0=v_0;k1=v_1;k2=v_2 128 1582230020",
        "tst.int.1tag;k0=v_0 1.23 1582230020",
        "more.than.3.parts 1.23 1582230000 1582230020",
        "nan.value xyz 1582230000",
        ";invalid=path 1.23 1582230000",
        "invalid.timestamp 1.23 xyz",
        "tst.floattimestamp 3.14 1582230020.5",
        "tst.floattimestampnofractionalpart 3.14 1582230020.",
    )
    r = rows["tst.int 1 1582230020"]
    assert (r["cb_name"], r["cb_value"], r["cb_is_int"]) == ("tst.int", 1.0, True)
    assert r["cb_ts_us"] == 1582230020_000000
    r = rows["tst.dbl 3.14 1582230020"]
    assert (r["cb_value"], r["cb_is_int"]) == (3.14, False)
    r = rows["tst.int.3tags;k0=v_0;k1=v_1;k2=v_2 128 1582230020"]
    assert r["cb_name"] == "tst.int.3tags"
    assert r["cb_tags_csv"] == "k0=v_0,k1=v_1,k2=v_2"
    assert rows["tst.int.1tag;k0=v_0 1.23 1582230020"]["cb_tags_csv"] == "k0=v_0"
    # error rows -> all-NULL (on_error=send)
    for bad in (
        "more.than.3.parts 1.23 1582230000 1582230020",
        "nan.value xyz 1582230000",
        ";invalid=path 1.23 1582230000",
        "invalid.timestamp 1.23 xyz",
    ):
        assert rows[bad]["cb_name"] is None and rows[bad]["cb_value"] is None
    # ParseFloat timestamp forms, incl. Go's trailing-dot acceptance
    assert rows["tst.floattimestamp 3.14 1582230020.5"]["cb_ts_us"] == 1582230020_500000
    assert rows["tst.floattimestampnofractionalpart 3.14 1582230020."]["cb_ts_us"] == (
        1582230020_000000
    )


def test_carbon_reference_parse_path_table(spark):
    rows = _carbon(
        spark,
        "no.tags; 1 2",
        "void.tags;;; 1 2",
        "invalid.tag;k0=v0;k1_v1 1 2",
        "empty.tag.value.middle;k0=;k1=v1 1 2",
        "empty.tag.value.end;k0=v0;k1= 1 2",
    )
    assert rows["no.tags; 1 2"]["cb_name"] == "no.tags"
    assert rows["no.tags; 1 2"]["cb_tags_csv"] is None
    assert rows["void.tags;;; 1 2"]["cb_name"] is None  # empty tags error
    assert rows["invalid.tag;k0=v0;k1_v1 1 2"]["cb_name"] is None  # one bad tag poisons
    assert rows["empty.tag.value.middle;k0=;k1=v1 1 2"]["cb_tags_csv"] == "k0=,k1=v1"
    assert rows["empty.tag.value.end;k0=v0;k1= 1 2"]["cb_tags_csv"] == "k0=v0,k1="


def test_collectd_naming_rules(spark):
    multi = (
        '[{"time": 10.25, "interval": 5.0, "host": "web1", "plugin": "if",'
        ' "plugin_instance": "eth0", "type": "if_octets", "type_instance": "",'
        ' "dstypes": ["derive", "derive"], "dsnames": ["rx", "tx"], "values": [1, 2]}]'
    )
    single = (
        '[{"time": 10.0, "type": "load", "type_instance": "shortterm",'
        ' "dstypes": ["gauge"], "dsnames": ["value"], "values": [0.5]}]'
    )
    df = spark.createDataFrame([(multi,), (single,), ("not json",)], "body string")
    rows = parse_collectd_json(df, "body").collect()
    names = sorted((r["cd_name"], r["cd_value"]) for r in rows)
    # >1 dsname appends .dsname; single dsname does not (collectd.go:156-182)
    assert names == [("if_octets.rx", 1.0), ("if_octets.tx", 2.0), ("load.shortterm", 0.5)]
    by_name = {r["cd_name"]: r for r in rows}
    assert by_name["if_octets.rx"]["cd_ts_us"] == 10_250000
    assert by_name["if_octets.rx"]["cd_host"] == "web1"
    assert by_name["load.shortterm"]["cd_plugin_instance"] is None
    assert len(rows) == 3  # non-JSON and non-array payloads drop


def test_firehose_envelope_decode(spark):
    data = base64.b64encode(b"hello world").decode()
    body = (
        '{"requestId": "ed4acda5", "timestamp": 1578090901599,'
        f' "records": [{{"data": "{data}"}}, {{"data": ""}}, {{"data": "!!!"}}]}}'
    )
    df = spark.createDataFrame([(body,)], "body string")
    rows = parse_firehose_envelope(df, "body").orderBy("fh_record_idx").collect()
    assert [r["fh_data"] for r in rows] == ["hello world", "", None]  # bad base64 -> NULL
    assert all(r["fh_request_id"] == "ed4acda5" for r in rows)
    assert rows[0]["fh_ts"].isoformat().startswith("2020-01-03T22:35:01.599")


def test_cloudwatch_subscription_skips_control_and_bad_gzip(spark):
    import gzip
    import json

    from opentelemetry_collector_contrib_spark.operators.parse import (
        parse_cloudwatch_subscription,
    )

    def env(mtype, n_events=2):
        return gzip.compress(json.dumps({
            "owner": "123", "logGroup": "/g", "logStream": "s",
            "subscriptionFilters": ["f"], "messageType": mtype,
            "logEvents": [
                {"id": str(i), "timestamp": 1700000000000 + i, "message": f"m{i}"}
                for i in range(n_events)
            ],
        }).encode(), mtime=0)

    df = spark.createDataFrame(
        [(1, bytearray(env("DATA_MESSAGE"))),
         (2, bytearray(env("CONTROL_MESSAGE"))),
         (3, bytearray(b"not gzip"))],
        "id int, payload binary",
    )
    rows = parse_cloudwatch_subscription(df, "payload").collect()
    # control + malformed contribute nothing; data envelope fans out per event
    assert sorted((r["id"], r["cw_event_id"], r["cw_message"]) for r in rows) == [
        (1, "0", "m0"), (1, "1", "m1")
    ]
    assert rows[0]["cw_ts"].isoformat().startswith("2023-11-14")


def test_vpc_flow_defaults_and_unset_markers(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import parse_vpc_flow_log

    good = "2 123456789010 eni-1a2b 10.0.0.1 10.0.0.2 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK"
    nodata = "2 123456789010 eni-1a2b - - - - - - - 1431280876 1431280934 - NODATA"
    short = "2 123456789010 eni-1a2b 10.0.0.1"
    df = spark.createDataFrame([(good,), (nodata,), (short,)], "body string")
    rows = {r["body"]: r for r in parse_vpc_flow_log(df, "body").collect()}
    g = rows[good]
    assert (g["fl_srcaddr"], g["fl_srcport"], g["fl_bytes"], g["fl_action"]) == (
        "10.0.0.1", 20641, 4249, "ACCEPT"
    )
    n = rows[nodata]
    assert n["fl_srcaddr"] is None and n["fl_packets"] is None
    assert n["fl_log_status"] == "NODATA" and n["fl_start"] == 1431280876
    s = rows[short]
    assert s["fl_version"] is None and s["fl_action"] is None


def test_alb_access_log_reference_fixture(spark):
    """Parse ALB access-log lines in the shape of the reference's
    alb_al_valid_logs.log fixture (elb-access-log/testdata) — including the
    IPv6 client and the 3-extra-trailing-fields variant newer ALB versions
    append. The lines in tests/data/alb_access_log.log are written from the
    AWS ALB access-log format documentation (its HTTPS example entry); they
    are not the reference's own bytes."""
    from opentelemetry_collector_contrib_spark.operators.parse import parse_alb_access_log

    with open(os.path.join(DATA_DIR, "alb_access_log.log")) as f:
        lines = [(ln,) for ln in f.read().splitlines()]
    lines.append(("http 2023-04-01T12:00:00Z alb",))  # alb_al_insufficient_fields.log
    df = spark.createDataFrame(lines, "body string")
    rows = parse_alb_access_log(df, "body").collect()
    good = [r for r in rows if r["alb_type"] is not None]
    assert len(good) == 3 and len(rows) == 4
    for r in good:
        assert r["alb_elb_status_code"] == 200
        assert r["alb_request_processing_time"] == 0.086
        assert r["alb_method"] == "GET" and r["alb_protocol"] == "HTTP/1.1"
        assert r["alb_url"] == "https://www.example.com:443/"
        assert r["alb_actions_executed"] == "authenticate,forward"
        assert r["alb_domain_name"] == "www.example.com"
    ipv6 = [r for r in good if r["alb_client"].startswith("[fe80")]
    assert len(ipv6) == 1 and ipv6[0]["alb_client"] == "[fe80::202:b3ff:fe1e:8329]:443"


def test_cloudtrail_records_parse(spark):
    import gzip
    import json

    from opentelemetry_collector_contrib_spark.operators.parse import parse_cloudtrail

    env = {"Records": [{
        "eventVersion": "1.08", "eventTime": "2023-11-14T22:13:20Z",
        "eventSource": "s3.amazonaws.com", "eventName": "GetObject",
        "awsRegion": "eu-west-1", "sourceIPAddress": "1.2.3.4",
        "userAgent": "cli", "userIdentity": {"type": "Root", "arn": "a", "accountId": "42"},
        "requestID": "r1", "eventID": "e1", "readOnly": True, "eventType": "AwsApiCall",
    }]}
    df = spark.createDataFrame(
        [(1, bytearray(gzip.compress(json.dumps(env).encode(), mtime=0))),
         (2, bytearray(b"junk"))],
        "id int, payload binary",
    )
    rows = parse_cloudtrail(df, "payload").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["ct_source"], r["ct_name"], r["ct_read_only"]) == ("s3.amazonaws.com", "GetObject", True)
    assert r["ct_identity_type"] == "Root" and r["ct_error_code"] is None
    assert r["ct_ts"].isoformat().startswith("2023-11-14T22:13:20")


def test_s3_access_log_reference_fixture(spark):
    """Parse S3 server access-log lines in the shape of the reference's
    valid_s3_access_log.log fixture (s3-access-log/testdata). The lines in
    tests/data/s3_access_log.log are written from the example log in the
    AWS S3 server access-log format documentation; they are not the
    reference's own bytes."""
    from opentelemetry_collector_contrib_spark.operators.parse import parse_s3_access_log

    with open(os.path.join(DATA_DIR, "s3_access_log.log")) as f:
        lines = [(ln,) for ln in f.read().splitlines() if ln.strip()]
    lines.append(("too short line",))
    df = spark.createDataFrame(lines, "body string")
    rows = parse_s3_access_log(df, "body").collect()
    good = [r for r in rows if r["s3_bucket"] is not None]
    assert len(good) == len(lines) - 1
    r = next(x for x in good if x["s3_operation"] == "REST.GET.VERSIONING")
    assert r["s3_bucket"] == "amzn-s3-demo-bucket1"
    assert r["s3_http_status"] == 200 and r["s3_error_code"] is None
    assert r["s3_key"] is None  # '-' unset
    assert r["s3_bytes_sent"] == 113 and r["s3_object_size"] is None
    assert r["s3_total_time_ms"] == 7 and r["s3_turn_around_time_ms"] is None
    assert r["s3_user_agent"] == "S3Console/0.4"
    assert r["s3_ts"].isoformat().startswith("2019-02-06T00:00:38")
    bad = [x for x in rows if x["s3_bucket"] is None]
    assert len(bad) == 1 and bad[0]["s3_ts"] is None


def test_s3_garbage_bracket_time_yields_null_not_job_abort(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import parse_s3_access_log

    line = ('o b [not-a-date] 1.2.3.4 req RID OP key "GET / HTTP/1.1" 200 - 1 2 3 4'
            ' "-" "ua" -')
    df = spark.createDataFrame([(line,)], "body string")
    r = parse_s3_access_log(df, "body").first()
    assert r["s3_bucket"] == "b" and r["s3_ts"] is None  # ANSI-safe NULL


def test_waf_nfw_gcp_parsers_shapes(spark):
    """Compact shape checks for the WAF / Network Firewall / GCP LogEntry
    JSON parsers (the full field matrix is oracle-gated in the registry)."""
    from opentelemetry_collector_contrib_spark.operators.parse import (
        parse_gcp_log_entry,
        parse_network_firewall_log,
        parse_waf_log,
    )

    waf = ('{"timestamp": 1700000000000, "webaclId": "acl", "action": "BLOCK",'
           ' "terminatingRuleId": "r1", "terminatingRuleType": "REGULAR",'
           ' "httpRequest": {"clientIp": "9.9.9.9", "country": "DE",'
           ' "headers": [{"name": "B", "value": "2"}, {"name": "A", "value": "1"}],'
           ' "uri": "/x", "httpMethod": "POST"}, "responseCodeSent": 403}')
    r = parse_waf_log(spark.createDataFrame([(waf,), ("junk",)], "body string"), "body").collect()
    good = next(x for x in r if x["waf_acl_id"] is not None)
    assert good["waf_headers_csv"] == "A=1,B=2" and good["waf_response_code"] == 403
    assert sum(1 for x in r if x["waf_acl_id"] is None) == 1

    nfw = ('{"firewall_name": "fw", "availability_zone": "az",'
           ' "event_timestamp": "1700000000", "event": {"event_type": "alert",'
           ' "flow_id": 7, "src_ip": "1.1.1.1", "src_port": 1, "dest_ip": "2.2.2.2",'
           ' "dest_port": 2, "proto": "TCP",'
           ' "alert": {"action": "blocked", "signature": "SIG", "severity": 2}}}')
    n = parse_network_firewall_log(
        spark.createDataFrame([(nfw,)], "body string"), "body"
    ).first()
    assert n["nf_alert_signature"] == "SIG" and n["nf_pkts"] is None
    assert n["nf_ts"].isoformat().startswith("2023-11-14")

    gcp = ('{"logName": "l", "timestamp": "2024-01-02T03:04:05Z",'
           ' "jsonPayload": {"deep": {"x": 1}}, "severity": "debug"}')
    g = parse_gcp_log_entry(spark.createDataFrame([(gcp,)], "body string"), "body").first()
    assert g["gl_body"] == '{"deep":{"x":1}}' and g["gl_is_text"] is False
    assert g["gl_severity"] == "DEBUG"

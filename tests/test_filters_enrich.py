"""Filter / enrich operator golden tests (reference patterns:
ProcessorFilterNativeUnittest.cpp, plugins/processor/*_test.go)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import enrich, filters


@pytest.fixture()
def logs(spark):
    rows = [
        (0, "ERROR", "db timeout", "10.1.2.3", "prod"),
        (1, "INFO", "ok", "10.1.9.9", "prod"),
        (2, "ERROR", "disk full", "192.168.0.1", "dev"),
        (3, "WARN", "slow query", "10.2.0.1", "dev"),
    ]
    return spark.createDataFrame(rows, "id int, level string, msg string, ip string, env string")


# --- filters ------------------------------------------------------------------

def test_condition_tree_and_or_not(logs):
    expr = {"and": [{"key": "level", "regex": "ERROR|WARN"},
                    {"not": {"key": "env", "equals": "dev"}}]}
    assert [r.id for r in filters.filter_expression(logs, expr).collect()] == [0]


def test_filter_rule_all_must_match(logs):
    out = filters.filter_rule(logs, ["level", "env"], ["ERROR", "prod"])
    assert [r.id for r in out.collect()] == [0]


def test_include_exclude(logs):
    inc = filters.filter_include_exclude(logs, include={"level": "ERROR"})
    assert sorted(r.id for r in inc.collect()) == [0, 2]
    exc = filters.filter_include_exclude(logs, exclude={"env": "dev"})
    assert sorted(r.id for r in exc.collect()) == [0, 1]


def test_pick_and_drop_keys(logs):
    assert filters.pick_keys(logs, include=["id", "level"]).columns == ["id", "level"]
    assert "msg" not in filters.drop_keys(logs, ["msg"]).columns


def test_filter_key_regex(logs):
    assert filters.filter_key_regex(logs, "(id|level)").columns == ["id", "level"]


def test_rate_limit_per_key(spark):
    rows = [(i, "a" if i < 7 else "b") for i in range(10)]
    df = spark.createDataFrame(rows, "seq int, k string")
    out = filters.rate_limit(df, ["k"], limit=3, order_by=["seq"])
    got = sorted((r.k, r.seq) for r in out.collect())
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 7), ("b", 8), ("b", 9)]


def test_fields_with_condition_first_match_wins(logs):
    cases = [
        filters.ConditionCase({"key": "level", "equals": "ERROR"}, add_fields={"sev": "2"}),
        filters.ConditionCase({"key": "level", "regex": ".*"}, add_fields={"sev": "0"}),
    ]
    out = {r.id: r.sev for r in filters.fields_with_condition(logs, cases).collect()}
    assert out == {0: "2", 1: "0", 2: "2", 3: "0"}


def test_fields_with_condition_drop_if_not_match(logs):
    cases = [filters.ConditionCase({"key": "level", "equals": "ERROR"}, add_fields={"x": "1"})]
    assert filters.fields_with_condition(logs, cases, drop_if_not_match=True).count() == 2


# --- enrich -------------------------------------------------------------------

def test_add_fields_ignore_if_exist(logs):
    out = enrich.add_fields(logs, {"env": "OVERRIDE", "dc": "us-1"}, ignore_if_exist=True)
    r = out.first()
    assert r.env == "prod" and r.dc == "us-1"
    out2 = enrich.add_fields(logs, {"env": "OVERRIDE"}, ignore_if_exist=False)
    assert out2.first().env == "OVERRIDE"


def test_rename(logs):
    out = enrich.rename_fields(logs, {"msg": "message"})
    assert "message" in out.columns and "msg" not in out.columns
    with pytest.raises(KeyError):
        enrich.rename_fields(logs, {"nope": "x"}, no_key_error=True)


def test_dict_map_expr_and_broadcast(logs):
    mapping = {"prod": "dc-east", "staging": "dc-west"}
    # tiny dict → map-literal expression. Reference semantics
    # (processor_dict_map.go:148-186): unmapped NON-NULL values ("dev") pass
    # through unchanged — Missing does NOT fire for them.
    out = enrich.dict_map(logs, "env", mapping, "dc", missing="unknown")
    vals = {r.id: r.dc for r in out.collect()}
    assert vals == {0: "dc-east", 1: "dc-east", 2: None, 3: None}
    # force broadcast-join path
    out2 = enrich.dict_map(logs, "env", mapping, "dc", missing="unknown", max_expr_size=0)
    assert {r.id: r.dc for r in out2.collect()} == vals


def test_dict_map_missing_fires_only_on_absent_key(spark):
    """processor_dict_map.go:173-183: HandleMissing/Missing applies when the
    SourceKey is ABSENT from the event (null column); with a pre-existing
    DestKey, Mode decides whether Missing overwrites it."""
    from loongcollector_spark.operators.enrich import dict_map

    df = spark.createDataFrame(
        [("a", "old1"), (None, "old2"), (None, None), ("zz", "old3")],
        "k string, dest string",
    )
    for cutoff in (64, 0):  # literal-map and broadcast-join paths
        over = {r.dest for r in dict_map(
            df, "k", {"a": "A"}, "dest", missing="MISS", mode="overwrite",
            max_expr_size=cutoff).collect()}
        assert over == {"A", "MISS", "old3"}  # null src → MISS (both rows)
        fill = [r.dest for r in dict_map(
            df, "k", {"a": "A"}, "dest", missing="MISS", mode="fill",
            max_expr_size=cutoff).collect()]
        assert sorted(fill, key=str) == ["MISS", "old1", "old2", "old3"]


def test_dict_map_drop_missing(logs):
    out = enrich.dict_map(logs, "env", {"prod": "x"}, "dc", keep_missing=False)
    assert sorted(r.id for r in out.collect()) == [0, 1]


def test_geo_lookup(spark, logs):
    geo = spark.createDataFrame([("10.1", "us-east"), ("10.2", "us-west")], "ip_prefix string, region string")
    out = enrich.geo_lookup(logs, "ip", geo, prefix_len=2)
    got = {r.id: r.region for r in out.collect()}
    assert got == {0: "us-east", 1: "us-east", 2: None, 3: "us-west"}


def test_appender_env_substitution(logs):
    out = enrich.appender(logs, "msg", "|host={{HOST}}", env={"HOST": "h1"})
    assert out.first().msg.endswith("|host=h1")


def test_string_replace_and_desensitize(spark):
    df = spark.createDataFrame([(0, "password=hunter2&u=bob")], "id int, content string")
    rep = enrich.string_replace(df, "content", r"password=\w+", "password=***")
    assert rep.first().content == "password=***&u=bob"
    des = enrich.desensitize(df, "content", r"password=", r"\w+", method="const", replacement="XXX")
    assert des.first().content == "password=XXX&u=bob"
    md5v = enrich.desensitize(df, "content", r"password=", r"[^&]+", method="md5").first().content
    import hashlib

    assert md5v == f"password={hashlib.md5(b'hunter2').hexdigest()}&u=bob"


def test_desensitize_md5_multi_window_and_groups(spark):
    """The split-and-rebuild JVM path must mask EVERY window (re.sub parity)
    and keep group indexing right when the user's begin-regex carries its own
    capture groups."""
    import hashlib

    h = lambda v: hashlib.md5(v.encode()).hexdigest()  # noqa: E731
    df = spark.createDataFrame(
        [
            ("key=aa&key=bb&tail",),
            ("no windows here",),
            (None,),
            ("key=zz",),  # window at end: trailing empty segment must survive
        ],
        "content string",
    )
    # begin regex contains a capture group on purpose
    out = enrich.desensitize(df, "content", r"(k|K)ey=", r"[^&]+", method="md5")
    got = [r.content for r in out.collect()]
    assert got == [
        f"key={h('aa')}&key={h('bb')}&tail",
        "no windows here",
        None,
        f"key={h('zz')}",
    ]


def test_md5_base64_roundtrip(spark):
    df = spark.createDataFrame([(0, "hello")], "id int, content string")
    assert enrich.md5_field(df, "content", "h").first().h == "5d41402abc4b2a76b9719d911017c592"
    enc = enrich.base64_encode(df, "content", "b64")
    assert enc.first().b64 == "aGVsbG8="
    dec = enrich.base64_decode(enc, "b64", "plain")
    assert dec.first().plain == "hello"


def test_pack_json(spark):
    df = spark.createDataFrame([(1, "a", "b")], "id int, x string, y string")
    out = enrich.pack_json(df, ["x", "y"], "packed", drop_packed=True)
    assert out.first().packed == '{"x":"a","y":"b"}'
    assert "x" not in out.columns


def test_log_to_metric(spark):
    df = spark.createDataFrame(
        [(1, "cpu_usage", "0.93", "host1", "prod")],
        "id int, mname string, mval string, host string, env string",
    )
    r = enrich.log_to_metric(df, ["host", "env"], "mname", "mval").first()
    assert r["__name__"] == "cpu_usage" and abs(r["__value__"] - 0.93) < 1e-9
    assert r["__labels__"] == "env#$#prod|host#$#host1"  # sorted k#$#v, | joined


def test_log_to_metric_invalid_name_dropped(spark):
    df = spark.createDataFrame([(1, "bad name!", "1", "h")], "id int, mname string, mval string, host string")
    assert enrich.log_to_metric(df, ["host"], "mname", "mval").count() == 0


def test_geo_cidr_longest_prefix(spark):
    # overlapping networks: the /16 inside the /8 must win for its range
    from loongcollector_spark.operators.enrich import geo_cidr_lookup

    nets = spark.createDataFrame(
        [("10.0.0.0/8", "broad"), ("10.1.0.0/16", "narrow")],
        "cidr string, tag string",
    )
    df = spark.createDataFrame(
        [("10.1.2.3",), ("10.200.0.1",), ("11.0.0.1",), ("bogus",)], "ip string"
    )
    out = geo_cidr_lookup(df, "ip", nets, longest_prefix=True)
    got = {r.ip: r.tag for r in out.collect()}
    assert got == {"10.1.2.3": "narrow", "10.200.0.1": "broad",
                   "11.0.0.1": None, "bogus": None}


def test_geo_cidr_plan_is_broadcast(spark):
    from loongcollector_spark.operators.enrich import geo_cidr_lookup

    nets = spark.createDataFrame([("10.0.0.0/8", "x")], "cidr string, tag string")
    df = spark.createDataFrame([("10.1.2.3",)], "ip string")
    plan = geo_cidr_lookup(df, "ip", nets)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # equi-join on bucket, not BNLJ


def test_otel_metric_shape_histogram_and_summary(spark):
    from loongcollector_spark.operators.enrich import otel_metric_shape

    payload = (
        '{"resourceMetrics":[{"resource":{"attributes":[{"key":"host","value":{"stringValue":"h1"}}]},'
        '"scopeMetrics":[{"metrics":['
        '{"name":"lat","histogram":{"dataPoints":[{"attributes":[],"timeUnixNano":"1000","sum":6.5,'
        '"count":"4","explicitBounds":[0.5,1.0],"bucketCounts":["1","2","1"]}]}},'
        '{"name":"q","summary":{"dataPoints":[{"attributes":[],"timeUnixNano":"2000","sum":9.0,"count":"3",'
        '"quantileValues":[{"quantile":0.5,"value":2.0},{"quantile":0.99,"value":4.0}]}]}},'
        '{"name":"up","gauge":{"dataPoints":[{"attributes":[{"key":"iface","value":{"stringValue":"eth0"}}],'
        '"timeUnixNano":"3000","asInt":"7"}]}}'
        "]}]}]}"
    )
    df = spark.createDataFrame([(payload,)], "body string")
    rows = {(r["__name__"], r["__labels__"]): (r["__time_nano__"], r["__value__"])
            for r in otel_metric_shape(df, "body").collect()}
    # histogram: sum + count + cumulative le buckets (1, 1+2, 1+2+1)
    assert rows[("lat_sum", "host#$#h1")] == (1000, 6.5)
    assert rows[("lat_count", "host#$#h1")] == (1000, 4.0)
    assert rows[("lat_bucket", "host#$#h1|le#$#0.5")] == (1000, 1.0)
    assert rows[("lat_bucket", "host#$#h1|le#$#1")] == (1000, 3.0)
    assert rows[("lat_bucket", "host#$#h1|le#$#+Inf")] == (1000, 4.0)
    # summary: sum + count + quantile rows
    assert rows[("q_sum", "host#$#h1")] == (2000, 9.0)
    assert rows[("q_count", "host#$#h1")] == (2000, 3.0)
    assert rows[("q", "host#$#h1|quantile#$#0.5")] == (2000, 2.0)
    assert rows[("q", "host#$#h1|quantile#$#0.99")] == (2000, 4.0)
    # gauge asInt + data-point attribute label
    assert rows[("up", "host#$#h1|iface#$#eth0")] == (3000, 7.0)
    assert len(rows) == 10


def test_otel_metric_branch_pruning(spark):
    """branches= narrows the from_json schema to the requested metric
    families: selected families produce identical rows to the full parse,
    pruned families vanish, bad names raise."""
    import pytest as _pt

    from loongcollector_spark.operators.enrich import (
        _OTLP_BRANCHES,
        _otlp_metrics_schema,
        otel_metric_shape,
    )

    # every pruned DDL stays bracket-balanced and Spark-parsable
    from pyspark.sql.types import StructType

    for b in _OTLP_BRANCHES:
        ddl = _otlp_metrics_schema((b,))
        assert ddl.count("<") == ddl.count(">")
        StructType.fromDDL(ddl)

    payload = (
        '{"resourceMetrics":[{"resource":{"attributes":[{"key":"host","value":{"stringValue":"h1"}}]},'
        '"scopeMetrics":[{"metrics":['
        '{"name":"lat","histogram":{"dataPoints":[{"attributes":[],"timeUnixNano":"1000","sum":6.5,'
        '"count":"4","explicitBounds":[0.5,1.0],"bucketCounts":["1","2","1"]}]}},'
        '{"name":"up","gauge":{"dataPoints":[{"attributes":[],"timeUnixNano":"3000","asInt":"7"}]}}'
        "]}]}]}"
    )
    df = spark.createDataFrame([(payload,)], "body string")
    full = {(r["__name__"], r["__labels__"]): (r["__time_nano__"], r["__value__"])
            for r in otel_metric_shape(df, "body").collect()}
    only_hist = {(r["__name__"], r["__labels__"]): (r["__time_nano__"], r["__value__"])
                 for r in otel_metric_shape(df, "body", branches=["histogram"]).collect()}
    assert only_hist == {k: v for k, v in full.items() if k[0].startswith("lat")}
    only_gauge = {r["__name__"] for r in
                  otel_metric_shape(df, "body", branches=["gauge"]).collect()}
    assert only_gauge == {"up"}
    with _pt.raises(ValueError, match="unknown otel metric branches"):
        otel_metric_shape(df, "body", branches=["bogus"])


def test_otel_metric_omitted_attributes(spark):
    # proto3 JSON omits empty arrays: missing attributes must yield the
    # resource labels (or empty labels), never null
    from loongcollector_spark.operators.enrich import otel_metric_shape

    payload = (
        '{"resourceMetrics":[{"resource":{},' 
        '"scopeMetrics":[{"metrics":[{"name":"g","gauge":{"dataPoints":'
        '[{"timeUnixNano":"5","asDouble":1.5}]}}]}]}]}'
    )
    df = spark.createDataFrame([(payload,)], "body string")
    r = otel_metric_shape(df, "body").first()
    assert r["__name__"] == "g" and r["__labels__"] == "" and r["__value__"] == 1.5


def test_otel_trace_parse_spans(spark):
    from loongcollector_spark.operators.enrich import otel_trace_parse

    payload = (
        '{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name",'
        '"value":{"stringValue":"cart"}}]},"scopeSpans":[{"scope":{"name":"lib","version":"1.0"},'
        '"spans":['
        '{"traceId":"0AF7651916CD43DD8448EB211C80319C","spanId":"B7AD6B7169203331",'
        '"parentSpanId":"","name":"checkout","kind":"SPAN_KIND_SERVER",'
        '"startTimeUnixNano":"1000000","endTimeUnixNano":"3000000",'
        '"attributes":[{"key":"http.status_code","value":{"intValue":"200"}},'
        '{"key":"a","value":{"stringValue":"z"}}],'
        '"status":{"code":"STATUS_CODE_ERROR","message":"boom"}},'
        '{"traceId":"t2","spanId":"s2","name":"fast","kind":"3",'
        '"startTimeUnixNano":"5000"}'
        "]}]}]}"
    )
    df = spark.createDataFrame([(payload,)], "body string")
    rows = {r.name: r for r in otel_trace_parse(df, "body").collect()}
    r = rows["checkout"]
    assert r.traceID == "0af7651916cd43dd8448eb211c80319c"
    assert r.kind == "server" and r.statusCode == "ERROR" and r.statusMessage == "boom"
    assert (r.start, r.end, r.duration) == ("1000", "3000", "2000")
    assert r.attribute == '{"a":"z","http.status_code":"200"}'
    assert r.resource == '{"service.name":"cart"}'
    assert r.otlp_name == "lib" and r.otlp_version == "1.0"
    r2 = rows["fast"]
    assert r2.kind == "client" and r2.statusCode == "UNSET"
    assert r2.end == r2.start == "5" and r2.duration == "0"
    assert r2.parentSpanID == "" and r2.attribute == "{}"


def test_otel_trace_duplicate_attrs_and_big_timestamps(spark):
    # last-wins on duplicate attribute keys (Go map semantics, not an
    # exception); nano->micro division is integer-exact beyond 2^53
    from loongcollector_spark.operators.enrich import otel_trace_parse

    payload = (
        '{"resourceSpans":[{"resource":{},"scopeSpans":[{"spans":[{'
        '"traceId":"t","spanId":"s","name":"n","kind":"1",'
        '"startTimeUnixNano":"1723882000000000999",'
        '"endTimeUnixNano":"1723882000000001999",'
        '"attributes":[{"key":"k","value":{"stringValue":"a"}},'
        '{"key":"k","value":{"stringValue":"b"}}]}]}]}]}'
    )
    df = spark.createDataFrame([(payload, "preexisting")], "body string, name string")
    r = otel_trace_parse(df, "body").first()
    assert r.attribute == '{"k":"b"}'
    assert (r.start, r.end, r.duration) == ("1723882000000000", "1723882000000001", "1")
    assert r.name == "n"  # span field owns the conflicting column name


def test_otel_log_parse_decode_shape(spark):
    """ConvertOtlpLogV1 decode: per-record fields, body scalar kinds, sorted
    attr JSON, empty attribute sets omitted (null), record-level defaults."""
    import json

    from loongcollector_spark.operators.enrich import otel_log_parse

    payload = json.dumps({"resourceLogs": [{
        "resource": {"attributes": [{"key": "svc", "value": {"stringValue": "web"}}]},
        "scopeLogs": [{"logRecords": [
            {"timeUnixNano": "1700000000000000000", "severityNumber": "9",
             "severityText": "INFO", "body": {"stringValue": "hello"},
             "attributes": [{"key": "k", "value": {"intValue": "7"}},
                            {"key": "a", "value": {"boolValue": True}}]},
            {"body": {"intValue": "42"}},
        ]}]}]})
    rows = otel_log_parse(
        spark.createDataFrame([(1, payload)], "id int, body string"), "body"
    ).orderBy(F.desc("time_unix_nano")).collect()
    assert len(rows) == 2
    full, bare = rows
    assert (full.severity_number, full.severity_text, full.content) == ("9", "INFO", "hello")
    assert json.loads(full.attributes) == {"a": "true", "k": "7"}
    assert json.loads(full.resources) == {"svc": "web"}
    assert (bare.time_unix_nano, bare.severity_number, bare.content) == ("0", "0", "42")
    assert bare.attributes is None  # empty set -> field omitted (null)


def test_dict_map_mode_fill_and_overwrite(spark):
    """processor_dict_map Mode (processor_dict_map.go:66,137-144): with an
    existing DestKey, 'overwrite' replaces on hit, 'fill' keeps the old
    value; on a miss with no Missing handling the old value survives in
    both modes."""
    from loongcollector_spark.operators.enrich import dict_map

    df = spark.createDataFrame(
        [("a", "old1"), ("zz", "old2")], "k string, dest string"
    )
    over = {r.k: r.dest for r in dict_map(
        df, "k", {"a": "new"}, "dest", mode="overwrite").collect()}
    assert over == {"a": "new", "zz": "old2"}
    fill = {r.k: r.dest for r in dict_map(
        df, "k", {"a": "new"}, "dest", mode="fill").collect()}
    assert fill == {"a": "old1", "zz": "old2"}
    # broadcast-join path (dict larger than the literal-map cutoff)
    big = {f"k{i}": f"v{i}" for i in range(100)} | {"a": "new"}
    overj = {r.k: r.dest for r in dict_map(
        df, "k", big, "dest", mode="overwrite").collect()}
    assert overj == {"a": "new", "zz": "old2"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fill.*overwrite"):
        dict_map(df, "k", {"a": "x"}, "dest", mode="bogus")


def test_encrypt_cbc_reference_layout(spark):
    """AES-CBC reference parity: hex output, no IV prefix, PKCS7 sizing,
    aes_decrypt round-trips when the IV is re-prepended."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.enrich import encrypt_fields

    key_hex = "30313233343536373839616263646566"  # b"0123456789abcdef"
    df = spark.createDataFrame([("hello world",)], "v string")
    enc = encrypt_fields(df, ["v"], key_hex, mode="CBC", output="hex")
    ct = enc.first().v
    assert len(ct) == 32 and ct == ct.lower()  # 11B + PKCS7 -> one block, hex
    rt = enc.select(
        F.expr(
            f"cast(aes_decrypt(unhex('{'00'*16}' || v), unhex('{key_hex}'), "
            "'CBC', 'PKCS') as string)"
        ).alias("pt")
    ).first().pt
    assert rt == "hello world"


def test_dict_map_join_path_dest_equals_source(spark):
    """The native default DestKey == SourceKey must work on BOTH physical
    paths (the broadcast-join path used to rename away its own join key)."""
    from loongcollector_spark.operators.enrich import dict_map

    df = spark.createDataFrame([("a",), ("zz",)], "k string")
    small = {r.k for r in dict_map(df, "k", {"a": "A"}, "k").collect()}
    big_map = {f"k{i}": f"v{i}" for i in range(100)} | {"a": "A"}
    big = {r.k for r in dict_map(df, "k", big_map, "k").collect()}
    assert small == big == {"A", "zz"}  # hit replaced, miss keeps original


def test_dict_map_keep_missing_consistent_across_paths(spark):
    """keep_missing=False drops rows whose LOOKUP missed — identically on
    the literal-map and broadcast-join paths, even when DestKey pre-exists."""
    from loongcollector_spark.operators.enrich import dict_map

    df = spark.createDataFrame(
        [("a", "old1"), ("b", None), ("zz", "old2")],
        "k string, dest string",
    )
    small = sorted(
        (r.k, r.dest)
        for r in dict_map(df, "k", {"a": "A"}, "dest", keep_missing=False).collect()
    )
    big_map = {f"k{i}": f"v{i}" for i in range(100)} | {"a": "A"}
    big = sorted(
        (r.k, r.dest)
        for r in dict_map(df, "k", big_map, "dest", keep_missing=False).collect()
    )
    assert small == big == [("a", "A")]  # only the hit row survives; overwrite wins


def test_encrypt_cbc_multibyte_octet_sizing(spark):
    """Ciphertext sizing must use UTF-8 BYTE length, not character length:
    a CJK plaintext whose byte length far exceeds its char length used to be
    silently truncated by the IV-strip substr (review r5 finding)."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.enrich import encrypt_fields

    key_hex = "30313233343536373839616263646566"
    plain = "你好世界" * 5  # 20 chars, 60 UTF-8 bytes -> 64-byte ciphertext
    df = spark.createDataFrame([(plain,)], "v string")
    enc = encrypt_fields(df, ["v"], key_hex, mode="CBC", output="hex")
    ct = enc.first().v
    assert len(ct) == 128  # 64 bytes of hex — nothing truncated
    rt = enc.select(
        F.expr(
            f"cast(aes_decrypt(unhex('{'00'*16}' || v), unhex('{key_hex}'), "
            "'CBC', 'PKCS') as string)"
        ).alias("pt")
    ).first().pt
    assert rt == plain


def test_string_unquote_go_error_paths(spark):
    """Go strconv.Unquote reject/accept parity for the rare escapes the
    vectorized fast path can't decode: \\U beyond U+10FFFF and octal > 255
    are syntax errors (keep the ORIGINAL value,
    processor_string_replace.go:112-115); surrogate-range \\u decodes to
    U+FFFD (utf8.EncodeRune parity). One mixed batch exercises fast path
    + slow path + bad rows together."""
    from loongcollector_spark.operators.enrich import string_unquote

    rows = [
        ('"\\UFFFFFFFF"',),   # > MaxRune -> error -> original kept
        ('"\\777"',),          # octal 511 > 255 -> error -> original kept
        ('"\\ud800"',),        # surrogate -> U+FFFD
        ('"\\U0001F600"',),    # valid astral rune via slow path
        ('"\\u0041\\102"',),   # fast path: \\u and small octal
        ('"plain"',),          # fast path, no escapes
        (None,),
    ]
    df = spark.createDataFrame(rows, "v string")
    got = [r.v for r in string_unquote(df, "v").collect()]
    assert got == [
        '"\\UFFFFFFFF"',
        '"\\777"',
        "�",
        "\U0001F600",
        "AB",
        "plain",
        None,
    ]


def test_anchor_expand_json_reads_one_parse(spark):
    """anchor's JSON expansion reads each key from one from_json map of the
    span: a duplicate key gives its first value, and a key holding '.' is
    that literal key (get_json_object read "b.c" as the path b -> c)."""
    df = spark.createDataFrame(
        [(0, 'pre {"a":1,"a":2,"b.c":3,"b":{"c":4}} post'), (1, "none"), (2, None)],
        "id int, s string",
    )
    out = enrich.anchor(df, "s", "pre ", " post", "span", expand_json=True,
                        json_keys=["a", "b.c", "zz"])
    rows = out.orderBy("id").collect()
    assert [(r["a"], r["b.c"], r["zz"]) for r in rows] == [("1", "3", None)] + [(None,) * 3] * 2
    assert out.columns == ["id", "s", "span", "a", "b.c", "zz"]

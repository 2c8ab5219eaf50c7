"""Parser golden tests — the reference's JSON-in/JSON-out unit pattern
(core/unittest/processor/ProcessorParse*Unittest.cpp): build a tiny frame
from inline fixtures, run ONE operator, compare rows + failure semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.grok import GrokCycleError, compile_grok, expand_grok, parse_grok
from loongcollector_spark.operators.parse_apsara import parse_apsara
from loongcollector_spark.operators.parse_common import RAW_LOG_KEY, ParserOptions
from loongcollector_spark.operators.parse_delimiter import parse_delimiter, split_to_rows
from loongcollector_spark.operators.parse_json import expand_json, parse_json
from loongcollector_spark.operators.parse_kv import parse_key_value
from loongcollector_spark.operators.parse_regex import parse_regex
from loongcollector_spark.operators.parse_time import parse_timestamp, strptime_to_spark


def lines_df(spark, *lines: str):
    return spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "id int, content string")


# --- regex (ProcessorParseRegexNativeUnittest pattern) -----------------------

NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+)'
NGINX_KEYS = ["remote_addr", "time_local", "method", "url", "protocol", "status", "body_bytes"]
GOOD = '::1 - - [18/Jul/2022:07:28:01 +0000] "GET /hello/loong HTTP/1.1" 404 153'
BAD = "not an access line"


def test_parse_regex_success(spark):
    df = parse_regex(lines_df(spark, GOOD), "content", NGINX, NGINX_KEYS, full_match=False)
    row = df.first()
    assert row.asDict() == {
        "id": 0, "content": None, "remote_addr": "::1", "time_local": "18/Jul/2022:07:28:01 +0000",
        "method": "GET", "url": "/hello/loong", "protocol": "HTTP/1.1", "status": "404",
        "body_bytes": "153",
    }


def test_key_equal_to_source_key(spark):
    """A key named like the source takes its extracted value on success; the
    source rules then apply to that value: it is kept only with
    keep_source_on_success. Other keys read the original source."""
    regex_df = lines_df(spark, "ab cd", "zz", None)
    json_df = lines_df(spark, '{"content":"x","b":"y"}', "zz", None)
    for opts, kept in ((ParserOptions(), None), (ParserOptions(keep_source_on_success=True), True)):
        rows = parse_regex(regex_df, "content", r"(\w+) (\w+)", ["content", "b"], opts,
                           full_match=False).orderBy("id").collect()
        assert [tuple(r) for r in rows] == [
            (0, "ab" if kept else None, "cd"), (1, "zz", None), (2, None, None)]
        rows = parse_json(json_df, "content", ["content", "b"], opts).orderBy("id").collect()
        assert [tuple(r) for r in rows] == [
            (0, "x" if kept else None, "y"), (1, "zz", None), (2, None, None)]


def test_parse_regex_fail_keep_source(spark):
    df = parse_regex(lines_df(spark, GOOD, BAD), "content", NGINX, NGINX_KEYS,
                     ParserOptions(keep_source_on_fail=True), full_match=False)
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 2
    assert rows[1].method is None and rows[1].content == BAD
    assert rows[0].content is None  # source dropped on success by default


def test_parse_regex_fail_erase(spark):
    df = parse_regex(lines_df(spark, GOOD, BAD), "content", NGINX, NGINX_KEYS,
                     ParserOptions(keep_source_on_fail=False, copy_raw_log=False), full_match=False)
    assert df.count() == 1  # ShouldEraseEvent (CommonParserOptions.cpp:100-118)


def test_parse_regex_copy_raw_log(spark):
    df = parse_regex(lines_df(spark, GOOD, BAD), "content", NGINX, NGINX_KEYS,
                     ParserOptions(keep_source_on_fail=False, copy_raw_log=True), full_match=False)
    rows = {r.id: r for r in df.collect()}
    assert rows[1][RAW_LOG_KEY] == BAD and rows[1].content is None
    assert rows[0][RAW_LOG_KEY] is None


def test_parse_regex_keep_source_on_success(spark):
    df = parse_regex(lines_df(spark, GOOD), "content", NGINX, NGINX_KEYS,
                     ParserOptions(keep_source_on_success=True), full_match=False)
    assert df.first().content == GOOD


def test_whole_line_fastpath(spark):
    df = parse_regex(lines_df(spark, GOOD), "content", "(.*)", ["raw"])
    assert df.first().raw == GOOD


# --- json (ProcessorParseJsonNativeUnittest pattern) -------------------------

def test_parse_json_top_level_restringified(spark):
    df = parse_json(lines_df(spark, '{"key1":"value1","key2":2}'), "content", keys=["key1", "key2"])
    row = df.first()
    assert row.key1 == "value1" and row.key2 == "2"  # numbers restringified


def test_parse_json_nested_not_expanded(spark):
    df = parse_json(lines_df(spark, '{"a":{"b":1},"c":"x"}'), "content", keys=["a", "c"])
    row = df.first()
    assert row.c == "x"
    assert '"b"' in row.a  # nested object stays one stringified value


def test_parse_json_failure_matrix(spark):
    df = parse_json(lines_df(spark, "{bad json", '{"k":"v"}'), "content", keys=["k"],
                    options=ParserOptions(keep_source_on_fail=False, copy_raw_log=False))
    assert df.count() == 1


# leading bytes JSON does not count as whitespace, non-objects, comments and
# malformed objects: the "{" gate must agree with an ungated from_json
_JSON_EDGE = [
    '\ufeff{"a":"1"}', '\x0b{"a":"1"}', '\xa0{"a":"1"}', '\x00{"a":"1"}', '[{"a":"1"}]',
    "null", "", '/*c*/{"a":"1"}', "{'a':'1'}", '{"a":"1"} tail', None,
    ' \t\n\r{"a":"1"}', '{"a":{"b":2}}', "\n{}",
]


def test_parse_json_gate_matches_ungated(spark):
    df = spark.createDataFrame(list(enumerate(_JSON_EDGE)), "id int, content string")
    want = {r.id: r.m for r in df.select(
        "id", F.from_json("content", "map<string,string>").alias("m")).collect()}
    keep = ParserOptions(keep_source_on_success=True)
    got = {r.id: r.m for r in parse_json(df, "content", map_column="m", options=keep).collect()}
    assert got == want
    got = {r.id: r.m for r in expand_json(df, "content", map_column="m", options=keep).collect()}
    assert got == want
    assert [want[i] is not None for i in range(len(_JSON_EDGE))].count(True) == 5


def test_expand_json_depth2(spark):
    df = expand_json(lines_df(spark, '{"a":{"b":"1","c":"2"},"d":"x"}'), "content",
                     expand_depth=2, connector="_")
    m = df.first().expanded
    assert m == {"a_b": "1", "a_c": "2", "d": "x"}


# --- delimiter (ProcessorParseDelimiterNativeUnittest pattern) ---------------

def test_delimiter_basic(spark):
    df = parse_delimiter(lines_df(spark, "123\t2022-08-08\tbuy\t10000"), "content",
                         "\t", ["uid", "time", "method", "value"])
    r = df.first()
    assert (r.uid, r.time, r.method, r.value) == ("123", "2022-08-08", "buy", "10000")


def test_delimiter_short_row(spark):
    keys = ["uid", "time", "method", "value"]
    strict = parse_delimiter(lines_df(spark, "123\t2022"), "content", "\t", keys,
                             options=ParserOptions(keep_source_on_fail=False, copy_raw_log=False))
    assert strict.count() == 0
    lax = parse_delimiter(lines_df(spark, "123\t2022"), "content", "\t", keys, allow_shortened=True)
    r = lax.first()
    assert r.uid == "123" and r.value is None


def test_delimiter_overflow_extend(spark):
    df = parse_delimiter(lines_df(spark, "a,b,c,d,e"), "content", ",", ["k0", "k1"],
                         overflow="extend", max_extend_columns=4)
    r = df.first()
    assert r.k0 == "a" and r["__column2__"] == "c" and r["__column4__"] == "e"
    # naming per ProcessorParseDelimiterNative.cpp:338


def test_delimiter_overflow_keep_rejoins(spark):
    df = parse_delimiter(lines_df(spark, "a,b,c,d"), "content", ",", ["k0", "k1"], overflow="keep")
    assert df.first().k1 == "b,c,d"


def test_delimiter_quoted_csv(spark):
    df = parse_delimiter(lines_df(spark, 'x,"y,z",w'), "content", ",", ["a", "b", "c"], quote='"')
    r = df.first()
    assert (r.a, r.b, r.c) == ("x", "y,z", "w")


def test_split_to_rows(spark):
    df = split_to_rows(lines_df(spark, "l1\nl2\nl3"), "content")
    assert [r.content for r in df.orderBy("content").collect()] == ["l1", "l2", "l3"]


# --- key/value ---------------------------------------------------------------

def test_key_value_basic(spark):
    df = parse_key_value(lines_df(spark, "a:1\tb:2"), "content", "\t", ":", keys=["a", "b"])
    r = df.first()
    assert r.a == "1" and r.b == "2"


def test_key_value_no_separator_prefix(spark):
    df = parse_key_value(lines_df(spark, "a:1\torphan"), "content", "\t", ":",
                         no_separator_key_prefix="no_separator_key_")
    m = df.first().kv
    assert m["a"] == "1" and m["no_separator_key_2"] == "orphan"


# --- timestamp ---------------------------------------------------------------

def test_strptime_compiler():
    assert strptime_to_spark("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    assert strptime_to_spark("%d/%b/%Y:%H:%M:%S") == "dd/MMM/yyyy:HH:mm:ss"


def test_parse_timestamp(spark):
    df = parse_timestamp(lines_df(spark, "2022-08-08 12:30:00"), "content",
                         "%Y-%m-%d %H:%M:%S", source_timezone="Asia/Shanghai")
    ts = df.first()["__event_time__"]
    assert ts.hour == 4  # UTC+8 shifted to UTC


# --- apsara ------------------------------------------------------------------

def test_parse_apsara(spark):
    line = "[2024-01-01 12:00:00.123456]\t[INFO]\t[12345]\tkey1:val1\tkey2:val2"
    r = parse_apsara(lines_df(spark, line), "content").first()
    assert r["__LEVEL__"] == "INFO"
    assert r.fields["key1"] == "val1" and r.fields["key2"] == "val2"
    assert r.apsara_time.year == 2024


# --- grok --------------------------------------------------------------------

def test_grok_expand_and_types():
    regex, caps = compile_grok("%{IP:client} %{WORD:method} %{NUMBER:bytes:int}")
    assert [c[0] for c in caps] == ["client", "method", "bytes"]
    assert dict(caps)["bytes"] == "long"


def test_grok_cycle_detection():
    with pytest.raises(GrokCycleError):
        expand_grok("%{A}", {"A": "%{B}", "B": "%{A}"})


def test_grok_first_match_wins(spark):
    df = parse_grok(
        lines_df(spark, "10.0.0.1 GET /index.html 15824 0.043", "ERROR something broke"),
        "content",
        match=[
            "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} %{NUMBER:bytes:int} %{NUMBER:duration:float}",
            "%{LOGLEVEL:level} %{GREEDYDATA:msg}",
        ],
    )
    rows = {r.id: r for r in df.collect()}
    assert rows[0].client == "10.0.0.1" and rows[0].bytes == 15824 and abs(rows[0].duration - 0.043) < 1e-9
    assert rows[0].level is None
    assert rows[1].level == "ERROR" and rows[1].msg == "something broke"


def test_grok_nested_pattern_group_indexing(spark):
    # IPORHOST nests IP/HOSTNAME — decapture must keep group indexes aligned
    df = parse_grok(lines_df(spark, "10.1.2.3 hello"), "content",
                    match=["%{IPORHOST:host} %{WORD:w}"])
    r = df.first()
    assert r.host == "10.1.2.3" and r.w == "hello"


def test_grok_engines_equivalent(spark):
    # the single regex pass and the per-key path (taken by lines that hold
    # the U+0000 group separator) give the same rows, including the "" vs
    # null distinction (matched row + non-participating group -> "")
    lines = [
        '93.180.71.3 - frank [17/May/2015:08:05:32 +0000] "GET /x HTTP/1.1" 304 1200 "-" "curl/7.1"',
        '10.2.3.4 - - [17/May/2015:08:05:33 +0000] "HEAD /y.html HTTP/1.0" 200 - "r" "a"',
        "garbage line with no structure",
        None,
    ]
    expected = [
        ("93.180.71.3", "-", "frank", "17/May/2015:08:05:32 +0000", "GET", "/x", "1.1", "",
         "304", "1200", '"-"', '"curl/7.1"'),
        ("10.2.3.4", "-", "-", "17/May/2015:08:05:33 +0000", "HEAD", "/y.html", "1.0", "",
         "200", "", '"r"', '"a"'),
        (None,) * 12,
        (None,) * 12,
    ]
    fields = ["clientip", "ident", "auth", "timestamp", "verb", "request", "httpversion",
              "rawrequest", "response", "bytes", "referrer", "agent"]
    for prefix in ("", "\x00"):
        rows = [(i, None if l is None else prefix + l) for i, l in enumerate(lines)]
        df = spark.createDataFrame(rows, "id long, content string")
        out = parse_grok(df, "content", match=["%{COMBINEDAPACHELOG}"])
        assert out.columns == ["id", "content", *fields]
        got = [tuple(r[f] for f in fields) for r in out.orderBy("id").collect()]
        assert got == expected, repr(prefix)


def test_grok_library_breadth():
    # every bundled name compiles standalone in both regex dialects
    import re as _re

    from loongcollector_spark.operators.grok import BUILTIN_PATTERNS, compile_grok, _to_python

    assert len(BUILTIN_PATTERNS) >= 100
    for name in BUILTIN_PATTERNS:
        regex, _ = compile_grok("%{" + name + "}")
        _re.compile(_to_python(regex))


def test_parse_delimiter_quoted_empty_fields(spark):
    # empty CSV fields must hold position (univocity maps them to null, which
    # previously got filtered out and shifted every later field left)
    from loongcollector_spark.operators.parse_delimiter import parse_delimiter

    df = spark.createDataFrame([("a,,c",), ('x,"",z',)], "content string")
    out = parse_delimiter(
        df, "content", ",", ["k1", "k2", "k3"], quote='"',
        options=ParserOptions(keep_source_on_success=True),
    )
    rows = sorted([(r.k1, r.k2, r.k3) for r in out.collect()])
    assert rows == [("a", "", "c"), ("x", "", "z")]


def test_parse_prometheus_lines(spark):
    # TextParser surface: labels + escapes, +Inf/NaN, explicit timestamp,
    # comments/blank/garbage dropped, scrape-default timestamp fallback
    from loongcollector_spark.operators.parse_prometheus import parse_prometheus

    lines = [
        'http_requests_total{method="post",code="200"} 1027 1395066363000',
        'node_load1 0.5',
        'bucket{le="+Inf"} 144320',
        'weird{msg="a\\"b\\\\c\\nd"} NaN',
        '# HELP http_requests_total The total number of HTTP requests.',
        '',
        'not a metric line !!',
    ]
    df = spark.createDataFrame([(l,) for l in lines], "content string")
    out = parse_prometheus(df, "content", default_ts_ms=1700000000000)
    rows = {r["__name__"]: r for r in out.collect()}
    assert set(rows) == {"http_requests_total", "node_load1", "bucket", "weird"}
    r = rows["http_requests_total"]
    assert r["__labels__"] == "code#$#200|method#$#post"
    assert r["__value__"] == 1027.0 and r["__time_nano__"] == 1395066363000 * 1_000_000
    assert rows["node_load1"]["__time_nano__"] == 1700000000000 * 1_000_000
    assert rows["bucket"]["labels_map"] == {"le": "+Inf"}
    import math

    assert math.isnan(rows["weird"]["__value__"])
    assert rows["weird"]["labels_map"]["msg"] == 'a"b\\c\nd'


def test_prom_relabel_actions(spark):
    from loongcollector_spark.operators.parse_prometheus import (
        RelabelConfig, parse_prometheus, prom_relabel,
    )

    lines = [
        'up{job="api",instance="h1:9100"} 1',
        'up{job="db",instance="h2:9100"} 0',
        'scrape_duration{job="api",tmp_x="y"} 3',
    ]
    df = spark.createDataFrame([(l,) for l in lines], "content string")
    parsed = parse_prometheus(df, "content")
    out = prom_relabel(parsed, [
        RelabelConfig(action="keep", source_labels=["job"], regex="api"),
        RelabelConfig(action="replace", source_labels=["instance"],
                      regex="([^:]+):.*", target_label="host"),
        RelabelConfig(action="labeldrop", regex="tmp_.*"),
    ])
    rows = {r["__name__"]: r for r in out.collect()}
    assert set(rows) == {"up", "scrape_duration"}  # job=db dropped
    assert rows["up"]["labels_map"]["host"] == "h1"
    assert "tmp_x" not in rows["scrape_duration"]["labels_map"]
    assert rows["scrape_duration"]["__labels__"] == "job#$#api"


def test_grok_nested_alias_group_index(spark):
    # finding: nested aliased sub-patterns (URIHOST contains %{...:port})
    # must map to the RIGHT regex group in the JVM engine — group numbers
    # follow group-open order, not capture-creation order
    df = lines_df(spark, "example.com:8080 GET")
    out = parse_grok(df, "content", match=["%{URIHOST:hostport} %{WORD:verb}"])
    r = out.first()
    assert r.hostport == "example.com:8080"
    assert r.port == "8080"
    assert r.verb == "GET"


def test_grok_captureless_pattern_arrow(spark):
    # a capture-less fallback pattern in the Match list only consumes the
    # rows it matches
    df = lines_df(spark, "2024-02-01T10:00:00Z bare timestamp line", "no match here")
    out = parse_grok(
        df, "content",
        match=["%{IPORHOST:h} %{WORD:w} %{NOTSPACE:a} %{NOTSPACE:b} %{NOTSPACE:c} %{NOTSPACE:d}",
               "%{TIMESTAMP_ISO8601}"],
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[0].h is None  # matched by the capture-less pattern: no fields
    assert rows[1].h is None


def test_grok_arrow_with_special_column_names(spark):
    # DDL-special column names like the file source's '__tag__:__path__'
    # pass through unchanged
    df = spark.createDataFrame(
        [("10.0.0.1 - u [17/May/2015:08:05:32 +0000] \"GET /x HTTP/1.1\" 200 5 \"-\" \"a\"", "/var/log/x")],
        ["content", "__tag__:__path__"],
    )
    out = parse_grok(df, "content", match=["%{COMBINEDAPACHELOG}"])
    r = out.first()
    assert r["__tag__:__path__"] == "/var/log/x" and r["clientip"] == "10.0.0.1"


# --- grok exotic families (round 3) ------------------------------------------

_EXOTIC_CASES = [
    # (pattern, line, {field: expected})
    (
        "S3_ACCESS_LOG",
        '79a5 mybucket [06/Feb/2019:00:00:38 +0000] 192.0.2.3 79a5 3E57427F3E '
        'REST.GET.VERSIONING mykey "GET /mybucket?versioning HTTP/1.1" 200 - '
        '113 - 7 - "-" "S3Console/0.4" -',
        {"bucket": "mybucket", "clientip": "192.0.2.3", "verb": "GET",
         "response": 200, "bytes": 113, "request_time_ms": 7},
    ),
    (
        "SQUID3",
        "1426235101.405 342 192.0.2.1 TCP_MISS/200 12920 GET "
        "http://example.com/page - HIER_DIRECT/93.184.216.34 text/html",
        {"cache_result": "TCP_MISS", "status_code": "200",
         "request_method": "GET", "content_type": "text/html"},
    ),
    (
        "MONGO3_LOG",
        "2014-11-03T18:28:32.450-0500 I NETWORK [initandlisten] waiting for "
        "connections on port 27017",
        {"severity": "I", "component": "NETWORK", "context": "initandlisten"},
    ),
    (
        "RT_FLOW2",
        "RT_FLOW_SESSION_CREATE: session created 192.0.2.1/1024->198.51.100.2/80 "
        "junos-http 10.0.0.1/5000->198.51.100.2/80 snat dnat 6 policy1 trust "
        "untrust 1234 wan",
        {"event": "RT_FLOW_SESSION_CREATE", "src-ip": "192.0.2.1",
         "dst-port": "80", "policy-name": "policy1", "session-id": "1234"},
    ),
    (
        "CISCOFW106023",
        'Deny tcp src outside:192.0.2.9/50026 dst inside:198.51.100.7/443 by '
        'access-group "OUTSIDE" [0x5063b82f, 0x0]',
        {"action": "Deny", "protocol": "tcp", "src_interface": "outside",
         "dst_ip": "198.51.100.7", "policy_id": "OUTSIDE"},
    ),
    (
        "ELB_ACCESS_LOG",
        "2015-05-13T23:39:43.945958Z my-elb 192.0.2.0:2817 10.0.0.1:80 "
        '0.000073 0.001048 0.000057 200 200 0 29 "GET http://example.com:80/ HTTP/1.1"',
        {"elb": "my-elb", "clientip": "192.0.2.0", "clientport": 2817,
         "backendip": "10.0.0.1", "response": 200, "bytes": 29, "verb": "GET"},
    ),
    (
        "RUBY_LOGGER",
        "W, [2017-01-13T13:01:13.123456 #1234]  WARN -- myapp: hello world",
        {"pid": "1234", "loglevel": "WARN", "progname": "myapp",
         "message": "hello world"},
    ),
    (
        "REDISMONLOG",
        '1339518083.107412 [0 127.0.0.1:60866] "GET" foo',
        {"database": "0", "client": "127.0.0.1", "command": "GET",
         "params": "foo"},
    ),
    (
        "POSTGRESQL",
        "2024-02-17 10:11:12 UTC alice db1-conn 4242",
        {"user_id": "alice", "connection_id": "db1-conn", "pid": "4242"},
    ),
    (
        "NETSCREENSESSIONLOG",
        'Feb 17 10:11:12 fw1 ns5: NetScreen device_id=ns5 [Root]system-notification: '
        'start_time="2024-02-17 10:10:00" duration=3 policy_id=320001 service=http '
        'proto=6 src zone=Trust dst zone=Untrust action=Permit sent=100 rcvd=200 '
        'src=10.0.0.1 dst=198.51.100.9 src_port=1024 dst_port=80 '
        'src-xlated ip=10.0.0.1 port=1024 dst-xlated ip=198.51.100.9 port=80 '
        'session_id=4321 reason=Close - TCP FIN',
        {"device_id": "ns5", "policy_id": "320001", "action": "Permit",
         "src_ip": "10.0.0.1", "session_id": "4321"},
    ),
]


def test_grok_exotic_family_headliners(spark):
    """Each new pattern family (aws/squid/mongodb/junos/firewall/rails/ruby/
    redis/postgresql) extracts its contract fields on a representative line."""
    for pattern, line, expect in _EXOTIC_CASES:
        df = lines_df(spark, line)
        out = parse_grok(df, "content", match=["%{" + pattern + "}"])
        r = out.first()
        for field, want in expect.items():
            got = r[field]
            assert got == want, f"{pattern}.{field}: {got!r} != {want!r}"


def test_grok_alternation_last_nonempty_alias(spark):
    """NAGIOSLOGLINE: repeated aliases across alternation branches resolve to
    the last NON-EMPTY occurrence (processor_grok.go:146-153 skips empty
    captures) — a WARNING match must fill nagios_message even though later
    branches also alias it."""
    df = lines_df(
        spark,
        "[1427925600] Warning: check timed out",
        "[1427925600] SERVICE ALERT: host1;http;CRITICAL;HARD;3;refused",
    )
    out = parse_grok(df, "content", match=["%{NAGIOSLOGLINE}"])
    rows = out.orderBy("id").collect()
    assert rows[0]["nagios_message"] == "check timed out"
    assert rows[1]["nagios_type"] == "SERVICE ALERT"
    assert rows[1]["nagios_hostname"] == "host1"
    assert rows[1]["nagios_state"] == "CRITICAL"
    assert rows[1]["nagios_attempt"] == "3"
    assert rows[1]["nagios_message"] == "refused"


def test_grok_bind9_duplicate_alias(spark):
    """BIND9 aliases `query` twice; last non-empty occurrence (the actual
    query) wins, matching the reference's ordered-append contract."""
    df = lines_df(
        spark,
        "17-Feb-2024 23:06:56 queries: info: client 192.0.2.55#1204 "
        "(foo.example): query: bar.example IN A (10.0.0.1)",
    )
    out = parse_grok(df, "content", match=["%{BIND9}"])
    r = out.first()
    assert r["query"] == "bar.example"
    assert r["clientip"] == "192.0.2.55"
    assert r["querytype"] == "A"


def test_grok_library_covers_reference_families():
    """Every %{NAME} referenced inside our shipped bodies resolves and
    compiles; the headliner of each reference bundle
    (example_config/processor_grok_patterns/) is present."""
    import re as _re

    from loongcollector_spark.operators.grok import compile_grok, _to_python
    from loongcollector_spark.operators.grok_patterns import GROK_LIBRARY

    ref = _re.compile(r"%\{([A-Z0-9_]+)(?::[^}]*)?\}")
    for name, body in GROK_LIBRARY.items():
        for used in ref.findall(body):
            assert used in GROK_LIBRARY, f"{name} references undefined %{{{used}}}"
        regex, _ = compile_grok("%{" + name + "}")
        _re.compile(_to_python(regex))

    headliners = {
        "aws": ["S3_ACCESS_LOG", "ELB_ACCESS_LOG", "CLOUDFRONT_ACCESS_LOG"],
        "bind": ["BIND9"],
        "bro": ["BRO_HTTP", "BRO_DNS", "BRO_CONN"],
        "exim": ["EXIM_MSGID", "EXIM_FLAGS", "EXIM_DATE", "EXIM_QT"],
        "firewall": ["NETSCREENSESSIONLOG", "CISCO_TAGGED_SYSLOG",
                     "CISCOFW106001", "CISCOFW106014", "CISCOFW106023",
                     "CISCOFW106100", "CISCOFW302013_302014_302015_302016"],
        "grok-patterns": ["COMBINEDAPACHELOG", "SYSLOGLINE", "URI"],
        "haproxy": ["HAPROXYHTTP"],
        "httpd": ["HTTPD_COMBINEDLOG", "HTTPD_ERRORLOG"],
        "java": ["CATALINALOG", "TOMCATLOG", "JAVASTACKTRACEPART"],
        "junos": ["RT_FLOW1", "RT_FLOW2", "RT_FLOW3"],
        "linux-syslog": ["SYSLOG5424LINE", "CRONLOG"],
        "mongodb": ["MONGO_LOG", "MONGO_SLOWQUERY", "MONGO3_LOG"],
        "nagios": ["NAGIOSLOGLINE"],
        "postgresql": ["POSTGRESQL"],
        "rails": ["RAILS3"],
        "redis": ["REDISLOG", "REDISMONLOG"],
        "ruby": ["RUBY_LOGGER"],
        "squid": ["SQUID3"],
        "bacula": ["BACULA_LOG_NEW_VOLUME", "BACULA_LOG_JOBEND"],
    }
    for family, names in headliners.items():
        for n in names:
            assert n in GROK_LIBRARY, f"{family} headliner {n} missing"


def test_apsara_ordered_duplicate_keys(spark):
    """Opt-in fidelity path: duplicate keys preserved in insertion order as
    array<struct<key,value>> (the reference's ordered content list,
    core/models/LogEvent.h:115-121); the map column stays last-wins."""
    from loongcollector_spark.operators.parse_apsara import parse_apsara

    line = "[2024-01-01 12:00:00.123456]\t[INFO]\tk:first\tother:x\tk:second"
    df = spark.createDataFrame([(line,)], "content string")
    out = parse_apsara(df, "content", ordered_pairs_column="pairs").first()
    assert [(p.key, p.value) for p in out.pairs] == [
        ("k", "first"), ("other", "x"), ("k", "second"),
    ]
    assert out.fields["k"] == "second"  # map fast path: last-wins
    # default call shape unchanged (no pairs column)
    assert "pairs" not in parse_apsara(df, "content").columns


def test_grok_pattern_dir_loads_reference_bundle(spark):
    """CustomPatternDir parity: the reference's own shipped pattern files
    (example_config/processor_grok_patterns) load in their on-disk format
    and ALL 318 names compile under BOTH regex dialects — Onigmo-exclusive
    syntax (\\h hex class, mid-pattern (?m) dotall) is translated at load
    time by translate_onigmo. A loaded pattern then actually parses a line
    end-to-end."""
    import os

    ref_dir = "/root/reference/example_config/processor_grok_patterns"
    if not os.path.isdir(ref_dir):
        pytest.skip("reference checkout not present")
    from loongcollector_spark.operators.grok import (
        compile_grok_full,
        load_pattern_dir,
        parse_grok,
    )

    pats = load_pattern_dir(ref_dir)
    assert len(pats) >= 300
    bad = []
    for name in sorted(pats):
        try:
            compile_grok_full("%{" + name + "}", dictionary=pats)
        except Exception:
            bad.append(name)
    assert bad == [], bad

    # end-to-end with the REFERENCE's own SQUID3 definition
    df = lines_df(
        spark,
        "1426235101.405 342 192.0.2.1 TCP_MISS/200 12920 GET "
        "http://example.com/page - HIER_DIRECT/93.184.216.34 text/html",
    )
    r = parse_grok(df, "content", match=["%{SQUID3}"], dictionary=pats).first()
    assert (r["cache_result"], r["status_code"]) == ("TCP_MISS", "200")


def test_grok_onigmo_translation_semantics(spark):
    """The load-time Onigmo translation preserves SEMANTICS, not just
    compilability: \\h is Onigmo's HEX class (rails RUUID `\\h{32}` must
    match 32 hex digits and must NOT match PCRE horizontal whitespace),
    and Ruby's mid-pattern (?m) means DOTALL (rails RAILS3HEAD) so the
    multi-line RAILS3 composite matches a real Rails request block."""
    import os
    import re

    ref_dir = "/root/reference/example_config/processor_grok_patterns"
    if not os.path.isdir(ref_dir):
        pytest.skip("reference checkout not present")
    from loongcollector_spark.operators.grok import (
        load_pattern_dir,
        parse_grok,
        translate_onigmo,
    )

    # unit: the translation itself
    assert translate_onigmo(r"\h{2}") == "[0-9a-fA-F]{2}"
    assert translate_onigmo(r"\H+") == "[^0-9a-fA-F]+"
    assert translate_onigmo(r"\\h") == r"\\h"  # escaped backslash-h untouched
    assert translate_onigmo(r"(?m)a.b") == "(?s:a.b)"
    assert re.fullmatch(translate_onigmo(r"(?m)a.b"), "a\nb")

    pats = load_pattern_dir(ref_dir)
    assert re.fullmatch(pats["RUUID"], "0123456789abcdefABCDEF0123456789")
    assert not re.fullmatch(pats["RUUID"], " " * 32)

    rails = (
        'Started GET "/users/1" for 192.0.2.77 at 2024-01-15 10:00:00 +0000\n'
        "Processing by UsersController#show as HTML\n"
        "Completed 200 OK in 12ms (Views: 7.0ms | ActiveRecord: 2.1ms)"
    )
    df = spark.createDataFrame([(rails,)], "content string")
    r = parse_grok(df, "content", match=["%{RAILS3}"], dictionary=pats).first()
    assert (r["verb"], r["clientip"], r["response"]) == ("GET", "192.0.2.77", "200")


def test_grok_pattern_path_accepts_single_file():
    """CustomPatternDir pointing at one FILE loads it (the reference stats
    the path and globs only directories); a missing path raises instead of
    silently loading nothing."""
    import os

    import pytest as _pytest

    from loongcollector_spark.operators.grok import load_pattern_dir

    f = "/root/reference/example_config/processor_grok_patterns/squid"
    if not os.path.exists(f):
        _pytest.skip("reference checkout not present")
    pats = load_pattern_dir(f)
    assert "SQUID3" in pats and len(pats) == 1
    with _pytest.raises(FileNotFoundError):
        load_pattern_dir("/nonexistent/pattern/path")


def test_key_value_expand_keys(spark):
    from loongcollector_spark.operators.parse_kv import parse_key_value

    df = spark.createDataFrame([("a=1;b=2",), ("a=3;c=4",)], "content string")
    out = parse_key_value(df, "content", ";", "=", expand_keys=True)
    assert {"a", "b", "c"} <= set(out.columns)
    rows = sorted((r.a, r.b, r.c) for r in out.collect())
    assert rows == [("1", "2", None), ("3", None, "4")]


class TestMultilineRules:
    """Start/Continue/End combos (ProcessorSplitMultilineLogStringNative
    .cpp:160-300) — block boundaries per mode, unmatched handling."""

    def _df(self, spark, *lines):
        return spark.createDataFrame(
            [("f", i, l) for i, l in enumerate(lines)],
            "file string, off long, content string",
        )

    def _run(self, spark, lines, **kw):
        from loongcollector_spark.operators.multiline import merge_multiline_rules

        out = merge_multiline_rules(
            self._df(spark, *lines), "content", "file", "off", **kw
        )
        return [r.content for r in out.orderBy("off").collect()]

    def test_end_only(self, spark):
        # trailing lines after the last end-match are UNMATCHED, emitted
        # line-by-line (HandleUnmatchLogs at EOF,
        # ProcessorSplitMultilineLogStringNative.cpp:295-308)
        got = self._run(
            spark, ["a", "b", "END 1", "c", "END 2", "tail1", "tail2"],
            end_pattern=r"^END.*",
        )
        assert got == ["a\nb\nEND 1", "c\nEND 2", "tail1", "tail2"]

    def test_end_only_discard_drops_trailing(self, spark):
        got = self._run(
            spark, ["a", "END 1", "tail1", "tail2"],
            end_pattern=r"^END.*", unmatched="discard",
        )
        assert got == ["a\nEND 1"]

    def test_continue_only_is_ignored(self, spark):
        # StartPattern and EndPattern empty but ContinuePattern set →
        # the reference ignores the multiline config entirely
        # (MultilineOptions.cpp:125-138; the split processor is only
        # inserted when IsMultiline(), InputFile.cpp:217)
        import warnings as _w

        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            got = self._run(
                spark, ["  lead-cont", "head1", "  c1", "  c2"],
                continue_pattern=r"^\s+.*",
            )
        assert got == ["  lead-cont", "head1", "  c1", "  c2"]
        assert any("ignore" in str(x.message) for x in rec)

    def test_start_and_end(self, spark):
        got = self._run(
            spark,
            ["noise", "BEGIN x", "mid", "END x", "between", "BEGIN y", "END y"],
            start_pattern=r"^BEGIN.*", end_pattern=r"^END.*",
        )
        assert got == ["noise", "BEGIN x\nmid\nEND x", "between", "BEGIN y\nEND y"]

    def test_start_and_end_nested_start_absorbed(self, spark):
        # while a block is open only the End pattern is consulted
        # (.cpp:231-250): a second BEGIN inside the block does NOT split
        got = self._run(
            spark,
            ["BEGIN a", "BEGIN b", "mid", "END a"],
            start_pattern=r"^BEGIN.*", end_pattern=r"^END.*",
        )
        assert got == ["BEGIN a\nBEGIN b\nmid\nEND a"]

    def test_start_and_end_unterminated_is_unmatched(self, spark):
        # trailing open block goes through HandleUnmatchLogs
        # (.cpp:295-308): line-by-line, not merged
        got = self._run(
            spark,
            ["BEGIN a", "END a", "BEGIN b", "dangling"],
            start_pattern=r"^BEGIN.*", end_pattern=r"^END.*",
        )
        assert got == ["BEGIN a\nEND a", "BEGIN b", "dangling"]
        got = self._run(
            spark,
            ["BEGIN a", "END a", "BEGIN b", "dangling"],
            start_pattern=r"^BEGIN.*", end_pattern=r"^END.*",
            unmatched="discard",
        )
        assert got == ["BEGIN a\nEND a"]

    def test_start_and_end_both_match_toggles(self, spark):
        # a line matching BOTH patterns opens when closed and closes when
        # open (start checked outside, end checked inside a block)
        got = self._run(
            spark,
            ["XBOTHX 1", "mid", "XBOTHX 2", "noise", "BEGIN z", "XBOTHX 3"],
            start_pattern=r"BOTH|^BEGIN", end_pattern=r"BOTH|^END",
        )
        assert got == ["XBOTHX 1\nmid\nXBOTHX 2", "noise", "BEGIN z\nXBOTHX 3"]

    def test_start_and_continue(self, spark):
        # block = start-match + run of continue-matches; a line matching
        # neither flushes the block and is itself unmatched; a start-match
        # flushes and opens a new block (.cpp:253-283); trailing open
        # block is emitted (no end pattern, .cpp:297-303)
        got = self._run(
            spark,
            ["noise", "H1", "  c1", "  c2", "tail", "H2", "H3", "  c3"],
            start_pattern=r"^H\d", continue_pattern=r"^\s+.*",
        )
        assert got == ["noise", "H1\n  c1\n  c2", "tail", "H2", "H3\n  c3"]

    def test_start_continue_end_drops_continue(self, spark):
        # all three set → ContinuePattern ignored with a warning
        # (MultilineOptions.cpp:139-151) → start+end semantics
        import warnings as _w

        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            got = self._run(
                spark,
                ["BEGIN a", "zzz", "END a"],
                start_pattern=r"^BEGIN.*", continue_pattern=r"^\s+.*",
                end_pattern=r"^END.*",
            )
        assert got == ["BEGIN a\nzzz\nEND a"]
        assert any("ContinuePattern ignored" in str(x.message) for x in rec)

    def test_continue_and_end(self, spark):
        # block = run of continue-matches + one closer; matched iff the
        # closer matches end (.cpp:218-230); a standalone end-match is a
        # matched single (.cpp:189-194); trailing run unmatched
        got = self._run(
            spark,
            ["  c1", "  c2", "END 1", "noise", "END solo", "  c3", "bad",
             "  c4"],
            continue_pattern=r"^\s+.*", end_pattern=r"^END.*",
        )
        assert got == ["  c1\n  c2\nEND 1", "noise", "END solo", "  c3",
                       "bad", "  c4"]

    def test_continue_and_end_discard(self, spark):
        # discard drops unmatched lines but KEEPS matched singles
        got = self._run(
            spark,
            ["  c1", "END 1", "noise", "END solo", "  c3", "bad"],
            continue_pattern=r"^\s+.*", end_pattern=r"^END.*",
            unmatched="discard",
        )
        assert got == ["  c1\nEND 1", "END solo"]

    def test_start_and_end_discard(self, spark):
        got = self._run(
            spark,
            ["noise", "BEGIN x", "END x", "between"],
            start_pattern=r"^BEGIN.*", end_pattern=r"^END.*",
            unmatched="discard",
        )
        assert got == ["BEGIN x\nEND x"]

    def test_start_only_delegates(self, spark):
        got = self._run(
            spark, ["H1", "t1", "H2", "t2"], start_pattern=r"^H\d",
        )
        assert got == ["H1\nt1", "H2\nt2"]

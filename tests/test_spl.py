"""SPL subset compiler — cases mirror core/unittest/spl/SplUnittest.cpp.

Reference coverage table (VERDICT r4 #6). Every SplUnittest.cpp case and
every construct family from the benchmark corpus spl.txt is either mirrored
by a green test here or explicitly mapped N/A:

| reference case (core/unittest/spl/)            | here                                        |
|-------------------------------------------------|---------------------------------------------|
| TestInit (:73, commented out upstream)          | test_spl_init_quota_contract                 |
| TestWhere (:92)                                 | test_spl_where                               |
| TestExtend json_extract (:149)                  | test_spl_extend_json_extract                 |
| TestJsonParse (:197)                            | test_spl_parse_json_dynamic_keys             |
| TestRegexParse (:266)                           | test_spl_parse_regexp                        |
| TestRegexCSV (:337)                             | test_spl_parse_csv                           |
| TestRegexKV (:413)                              | test_spl_parse_kv_regexp_and_delims          |
| TestTag project-rename "__tag__:x" (:488)       | test_spl_project_rename_and_chain — column   |
|                                                  | rename only; the reference ALSO re-groups    |
|                                                  | events by tag value (logGroupList.size()==2),|
|                                                  | which is group-buffer mechanics Spark doesn't|
|                                                  | need: N/A (grouping is a groupBy downstream) |
| TestMultiParse .let/$ref branches (:560,        | test_spl_multi_statement_branches            |
|   commented out upstream)                       |                                              |
| TestZeroTime date_parse/to_unixtime/cast (:655) | test_spl_date_parse_time_chain               |
| spl.txt: parse-regexp (?P<name>) w/o `as`       | test_spl_parse_regexp_named_groups           |
| spl.txt: parse-json -prefix= / -path=           | test_spl_parse_json_prefix_and_path          |
| spl.txt: parse-csv -delim/-quote/-strict        | test_spl_parse_csv_flags                     |
| spl.txt: parse-kv -kv-sep/-prefix/-mode         | test_spl_parse_kv_flags                      |
| SplBenchmark.cpp throughput loops               | N/A here — covered by bench.py spl_* queries |

The closed prebuilt engine's expression language is Presto's; the commonly
used Presto function families are translated to Spark SQL with PRESTO
semantics by _translate_expr (test_translate_expr_presto_function_table +
test_spl_presto_semantics_e2e cover the mappings: url_extract_*,
literal-delimiter split/split_part, NULL-on-no-match regexp_extract, MySQL
%-date patterns, date_add/date_diff units, to_hex/hash composition, bitwise
fns, approx_distinct/arbitrary aggregates). Presto names outside the table
pass through to Spark SQL, whose surface covers most of the remainder;
anything neither mapped nor shared remains the declared subset
(operators/spl.py module docstring)."""

from __future__ import annotations

import pytest

from loongcollector_spark.operators.spl import SplError, compile_spl


def lines(spark, *vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, content string")


def test_spl_where(spark):
    # SplUnittest TestWhere: "* | where content='value_3_0'"
    df = lines(spark, "value_1_0", "value_3_0", "value_3_0")
    out = compile_spl(df, "* | where content='value_3_0'")
    assert out.count() == 2


def test_spl_extend_json_extract(spark):
    # TestExtend: json_extract over nested body -> "1"/"2" as JSON text
    df = lines(spark, '{"body": {"a": 1, "b": 2}}')
    out = compile_spl(
        df, "* | extend a=json_extract(content, '$.body.a'), b=json_extract(content, '$.body.b')"
    )
    r = out.first()
    assert r.a == "1" and r.b == "2"


def test_spl_parse_json_dynamic_keys(spark):
    # TestJsonParse: per-row key sets union into columns, absent -> null
    df = lines(spark, '{"a1":"bbbb","c":"d"}', '{"a1":"ccc","c1":"d1"}')
    out = compile_spl(df, "* | parse-json content ")
    rows = {r.id: r for r in out.collect()}
    assert rows[0].a1 == "bbbb" and rows[0].c == "d" and rows[0].c1 is None
    assert rows[1].a1 == "ccc" and rows[1].c1 == "d1" and rows[1].c is None


def test_spl_parse_regexp(spark):
    # TestRegexParse: '(\S+)\s+(\w+)' as ip, method
    df = lines(spark, "10.0.0.1 GET /index", "10.0.0.2 POST /form")
    out = compile_spl(df, r"* | parse-regexp content, '(\S+)\s+(\w+)' as ip, method")
    rows = {r.id: r for r in out.collect()}
    assert rows[0].ip == "10.0.0.1" and rows[0].method == "GET"
    assert rows[1].ip == "10.0.0.2" and rows[1].method == "POST"


def test_spl_parse_csv(spark):
    # TestCsvParse: parse-csv content as x, y, z
    df = lines(spark, "a,b,c", '1,"q,uoted",3')
    out = compile_spl(df, "* | parse-csv content as x, y, z")
    rows = {r.id: r for r in out.collect()}
    assert (rows[0].x, rows[0].y, rows[0].z) == ("a", "b", "c")
    assert (rows[1].x, rows[1].y, rows[1].z) == ("1", "q,uoted", "3")


def test_spl_parse_kv_regexp_and_delims(spark):
    # TestParseKv: -regexp '(\w+)=(\w+)' over k1=v1&k2=v2?k3=v3
    df = lines(spark, "k1=v1&k2=v2?k3=v3")
    out = compile_spl(df, r"* | parse-kv -regexp content, '(\w+)=(\w+)'")
    r = out.first()
    assert (r.k1, r.k2, r.k3) == ("v1", "v2", "v3")
    out2 = compile_spl(df, "* | parse-kv -delims='&?' content")
    r2 = out2.first()
    assert (r2.k1, r2.k2, r2.k3) == ("v1", "v2", "v3")


def test_spl_project_rename_and_chain(spark):
    # TestTag-ish: parse-json | project-rename "__tag__:taiye2"=a1
    df = lines(spark, '{"a1":"x"}')
    out = compile_spl(df, '* | parse-json content | project-rename "__tag__:taiye2"=a1')
    assert out.first()["__tag__:taiye2"] == "x"


def test_spl_date_parse_time_chain(spark):
    # SplUnittest time chain: date_parse + to_unixtime + cast + project-away
    df = lines(spark, '{"time":"2024-02-01T10:30:00","k":"v"}')
    out = compile_spl(
        df,
        "* | parse-json content "
        "| extend ts=date_parse(time, '%Y-%m-%dT%H:%i:%S')"
        "| extend __time__=cast(to_unixtime(ts) as INTEGER)-28800"
        "| project-away ts| project-away content",
    )
    r = out.first()
    assert "content" not in out.columns and "ts" not in out.columns
    import calendar

    expected = calendar.timegm((2024, 2, 1, 10, 30, 0)) - 28800
    assert r["__time__"] == expected


def test_spl_rejects_multi_statement(spark):
    df = lines(spark, "x")
    with pytest.raises(SplError):
        compile_spl(df, "* | where content='a'; * | where content='b'")
    with pytest.raises(SplError):
        compile_spl(df, "* | sort content")


def test_spl_concat_operator_and_quoted_as(spark):
    # '||' must not split stages; a quoted regex containing ' as ' must not
    # terminate the parse-regexp pattern early
    df = lines(spark, "x as y")
    out = compile_spl(df, "* | extend joined = content || '!' | parse-regexp content, '(\\w+) as (\\w+)' as left, right")
    r = out.first()
    assert r.joined == "x as y!"
    assert (r.left, r.right) == ("x", "y")


# --- round 3: explicit keys, sampled discovery, multi-statement ------------------


def test_spl_parse_json_explicit_keys_no_discovery(spark, monkeypatch):
    """'parse-json col as k1, k2' must build the plan with ZERO discovery
    jobs — the 100 TB path (keys are part of the plan, like the reference's
    per-config field lists)."""
    from loongcollector_spark.operators import parse_kv

    def boom(*a, **k):  # pragma: no cover - should never run
        raise AssertionError("discovery job ran despite explicit keys")

    monkeypatch.setattr(parse_kv, "discover_keys", boom)
    df = lines(spark, '{"a1":"x","c":"d"}', '{"a1":"y"}')
    out = compile_spl(df, "* | parse-json content as a1, missing")
    rows = out.orderBy("id").collect()
    assert [r.a1 for r in rows] == ["x", "y"]
    # explicitly-listed-but-absent key projects as null (per-row contract)
    assert all(r.missing is None for r in rows)
    # 'c' was NOT discovered — proof no discovery scan happened
    assert "c" not in out.columns


def test_spl_parse_kv_explicit_keys(spark):
    df = lines(spark, "k1=v1&k2=v2?k3=v3")
    out = compile_spl(df, "* | parse-kv -delims='&?' content as k1, k3")
    r = out.first()
    assert (r.k1, r.k3) == ("v1", "v3")
    assert "k2" not in out.columns


def test_spl_sampled_discovery(spark):
    """sample_rows bounds the discovery scan; keys only in later rows are
    missed — documented trade-off of the sampled mode."""
    df = lines(spark, '{"early":"1"}', '{"early":"2","late":"3"}')
    full = compile_spl(df, "* | parse-json content")
    assert {"early", "late"} <= set(full.columns)
    sampled = compile_spl(df, "* | parse-json content", sample_rows=1)
    assert "early" in sampled.columns and "late" not in sampled.columns


def test_spl_multi_statement_branches(spark):
    """Mirrors SplUnittest.cpp TestMultiParse: .let bindings + $ref emission,
    two result branches with independent parse stages."""
    from loongcollector_spark.operators.spl import compile_spl_multi

    df = lines(
        spark,
        '{"type":"kv","message":"k1=v1&k2=v2?k3=v3"}',
        '{"type":"csv","message":"a,b,c"}',
    )
    script = """.let src = * | parse-json content as type, message;
.let ds1 = $src | where type = 'kv' | parse-kv -delims='&?' message as k1, k2, k3;
$ds1;
.let ds2 = $src | where type = 'csv' | parse-csv message as x, y, z;
$ds2;
"""
    branches = compile_spl_multi(df, script)
    assert [n for n, _ in branches] == ["ds1", "ds2"]
    named = dict(branches)
    r1 = named["ds1"].first()
    assert (r1.k1, r1.k2, r1.k3) == ("v1", "v2", "v3")
    r2 = named["ds2"].first()
    assert (r2.x, r2.y, r2.z) == ("a", "b", "c")
    assert named["ds1"].count() == 1 and named["ds2"].count() == 1


def test_spl_multi_statement_anonymous_and_extra_stages(spark):
    from loongcollector_spark.operators.spl import compile_spl_multi

    df = lines(spark, "a", "b", "c")
    branches = compile_spl_multi(
        df,
        ".let all = * | extend n = 1; $all | where content <> 'a'; * | limit 1;",
    )
    assert [n for n, _ in branches] == ["all", "result1"]
    assert branches[0][1].count() == 2
    assert branches[1][1].count() == 1


def test_spl_multi_statement_errors(spark):
    from loongcollector_spark.operators.spl import compile_spl_multi

    df = lines(spark, "a")
    with pytest.raises(SplError, match="undefined"):
        compile_spl_multi(df, "$nope;")
    with pytest.raises(SplError, match="no result branch"):
        compile_spl_multi(df, ".let x = * | limit 1;")
    with pytest.raises(SplError, match="compile_spl_multi"):
        compile_spl(df, "* | limit 1; * | limit 2;")


def test_spl_stats_by(spark):
    df = lines(spark, "a", "a", "b")
    out = compile_spl(
        df, "* | stats count() as n, min(id) as first_id by content | sort by content"
    )
    rows = [(r.content, r.n, r.first_id) for r in out.collect()]
    assert rows == [("a", 2, 0), ("b", 1, 2)]


def test_spl_stats_global_and_sort_desc(spark):
    df = lines(spark, "x", "y", "z")
    assert compile_spl(df, "* | stats count() as n").first().n == 3
    out = compile_spl(df, "* | sort by id desc | limit 2")
    assert [r.id for r in out.collect()] == [2, 1]


def test_spl_stats_errors(spark):
    df = lines(spark, "a")
    with pytest.raises(SplError, match="as"):
        compile_spl(df, "* | stats count() by content")
    with pytest.raises(SplError, match="sort"):
        compile_spl(df, "* | sort")


def test_spl_init_quota_contract(spark):
    """ProcessorSPL::Init fidelity (ProcessorSPL.cpp:35-101): Script
    mandatory + query-size cap reject the config; TimeoutMilliSeconds /
    MaxMemoryBytes warn-and-default on invalid values (never abort)."""
    from loongcollector_spark.operators.spl import (
        SPL_DEFAULT_MAX_MEMORY_BYTES,
        SPL_DEFAULT_TIMEOUT_MILLS,
        SPL_QUERY_MAX_SIZE,
        compile_spl_multi,
        validate_spl_config,
    )

    with pytest.raises(SplError, match="Script is missing"):
        validate_spl_config({})
    with pytest.raises(SplError, match="Script is missing"):
        validate_spl_config({"Script": "   "})
    with pytest.raises(SplError, match="query_max_size"):
        validate_spl_config({"Script": "* | where " + "x" * SPL_QUERY_MAX_SIZE})

    # warn-default semantics: invalid quota values normalize, never raise
    got = validate_spl_config(
        {"Script": "* | limit 1", "TimeoutMilliSeconds": "abc", "MaxMemoryBytes": -5}
    )
    assert got["timeout_mills"] == SPL_DEFAULT_TIMEOUT_MILLS
    assert got["max_memory_bytes"] == SPL_DEFAULT_MAX_MEMORY_BYTES
    got = validate_spl_config(
        {"Script": "* | limit 1", "TimeoutMilliSeconds": 250, "MaxMemoryBytes": "1024"}
    )
    assert (got["timeout_mills"], got["max_memory_bytes"]) == (250, 1024)

    # the size cap also guards direct compile entry points
    df = lines(spark, "x")
    big = "* | where content != '" + "y" * SPL_QUERY_MAX_SIZE + "'"
    with pytest.raises(SplError, match="too large"):
        compile_spl(df, big)
    with pytest.raises(SplError, match="too large"):
        compile_spl_multi(df, big)


def test_spl_native_config_translation(spark):
    """A reference processor_spl block translates through the native table
    (Init-validated) and runs; a Script-less block is rejected at load."""
    from loongcollector_spark.config import _native_processor

    name, params = _native_processor(
        {"Type": "processor_spl", "Script": "* | extend up = upper(content)"}
    )
    assert name == "spl"
    from loongcollector_spark.pipeline import PROCESSORS

    out = PROCESSORS[name](lines(spark, "abc"), **params)
    assert out.first().up == "ABC"

    with pytest.raises(SplError):
        _native_processor({"Type": "processor_spl"})


# --- round 5: spl.txt flag families -------------------------------------------


def test_spl_parse_regexp_named_groups(spark):
    # spl.txt:4 — (?P<name>) groups carry the keys, no `as` clause
    df = lines(spark, "10.0.0.1 GET /index.html")
    out = compile_spl(df, r"* | parse-regexp content, '(?P<ip>\S+)\s+(?P<method>\w+)'")
    r = out.first()
    assert (r.ip, r.method) == ("10.0.0.1", "GET")
    # a pattern with no named groups and no `as` is a config error
    with pytest.raises(SplError):
        compile_spl(df, r"* | parse-regexp content, '(\S+)'")
    # the JVM reads the pattern, so Java-only syntax (\h) works; every key
    # is '' when the pattern does not match and NULL for a NULL input
    df = lines(spark, "abc 12", "zz", None)
    out = compile_spl(df, r"* | parse-regexp content, '(?<w>\w+)\h(?<n>\d+)'")
    assert [(r.w, r.n) for r in out.orderBy("id").collect()] == [
        ("abc", "12"), ("", ""), (None, None)]
    # an invalid pattern, or more keys than groups, fails the compile
    with pytest.raises(SplError):
        compile_spl(df, r"* | parse-regexp content, '(?<w>\w+'")
    with pytest.raises(SplError):
        compile_spl(df, r"* | parse-regexp content, '(\w+)' as a, b")


def test_spl_parse_json_reads_one_map(spark):
    """parse-json reads every key from one from_json map, as the parse_json
    processor does: a duplicate key gives its first value (get_json_object
    gives the same), and a key holding '.' is read as that literal key, not
    as a JSON path. ``-path`` walks members only."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.parse_json import parse_json

    df = lines(spark, '{"a":1,"a":2}', '{"d.e":5,"d":{"e":6}}')
    assert df.select(F.get_json_object("content", "$.a")).first()[0] == "1"
    for out in (compile_spl(df, "* | parse-json content"),
                compile_spl(df, '* | parse-json content as a, "d.e"'),
                parse_json(df, "content", keys=["a", "d.e"])):
        rows = out.orderBy("id").collect()
        assert [r["a"] for r in rows] == ["1", None]
        assert [r["d.e"] for r in rows] == [None, "5"]
    out = compile_spl(df, "* | parse-json -path='$.d' content as e")
    assert [r.e for r in out.orderBy("id").collect()] == [None, "6"]
    with pytest.raises(SplError):
        compile_spl(df, "* | parse-json -path='$.d[0]' content")


def test_spl_parse_json_prefix_and_path(spark):
    # spl.txt:6-8 — -prefix= namespaces the expanded keys; -path= expands
    # the object at a JSON path
    df = lines(spark, '{"a": "1", "body": {"x": "7", "y": "8"}}')
    out = compile_spl(df, "* | parse-json -prefix='p_' content as a")
    assert out.first().p_a == "1"
    out = compile_spl(df, "* | parse-json -path='$.body' content")
    r = out.first()
    assert (r.x, r.y) == ("7", "8")
    assert "__spl_json_path__" not in out.columns
    out = compile_spl(df, "* | parse-json -prefix='b_' -path='$.body' content as x")
    assert out.first().b_x == "7"


def test_spl_parse_csv_flags(spark):
    # spl.txt:9-13 — -delim / -quote / -strict
    df = lines(spark, "a;b;c")
    out = compile_spl(df, "* | parse-csv -delim=';' content as x, y, z")
    assert tuple(out.first()[k] for k in ("x", "y", "z")) == ("a", "b", "c")
    # custom quote char
    df = lines(spark, "-quoted;stays- ;b;c".replace(" ;", ";"))
    out = compile_spl(df, "* | parse-csv -quote='-' -delim=';' content as x, y, z")
    assert out.first().x == "quoted;stays"
    # escape-decoded delimiter: tab via \x09 and via \t
    df = lines(spark, "a\tb\tc")
    for d in (r"\x09", r"\t"):
        out = compile_spl(df, f"* | parse-csv -delim='{d}' content as x, y, z")
        assert out.first().y == "b"
    # -strict: arity mismatch -> every output null; exact arity -> parsed
    df = lines(spark, "a,b,c")
    strict2 = compile_spl(df, "* | parse-csv -strict content as ip, time").first()
    assert (strict2.ip, strict2.time) == (None, None)
    strict4 = compile_spl(
        df, "* | parse-csv -strict content as ip, time, host, extra"
    ).first()
    assert strict4.ip is None and strict4.extra is None
    strict3 = compile_spl(df, "* | parse-csv -strict content as ip, time, host").first()
    assert (strict3.ip, strict3.time, strict3.host) == ("a", "b", "c")
    # strict counts quoted separators as content, not field breaks
    df = lines(spark, '"a,a",b,c')
    ok = compile_spl(df, "* | parse-csv -strict content as ip, time, host").first()
    assert (ok.ip, ok.time, ok.host) == ("a,a", "b", "c")


def test_spl_parse_kv_flags(spark):
    # spl.txt:15-18 — -kv-sep / -prefix / -mode='preserve'
    df = lines(spark, "k1:v1&k2:v2?k3:v3")
    out = compile_spl(df, "* | parse-kv -kv-sep=':' -delims='&?' content")
    r = out.first()
    assert (r.k1, r.k2, r.k3) == ("v1", "v2", "v3")
    out = compile_spl(df, "* | parse-kv -kv-sep=':' -prefix='prefix_' -delims='&?' content")
    assert out.first().prefix_k2 == "v2"
    # -mode='preserve' keeps a pre-existing column's value; default
    # overwrite replaces on hit, keeps old on miss
    df2 = spark.createDataFrame([("k1=new", "old", "keepme")], "content string, k1 string, k9 string")
    pres = compile_spl(df2, "* | parse-kv -mode='preserve' -delims='&' content as k1, k9").first()
    assert (pres.k1, pres.k9) == ("old", "keepme")
    over = compile_spl(df2, "* | parse-kv -delims='&' content as k1, k9").first()
    assert (over.k1, over.k9) == ("new", "keepme")


def test_spl_parse_regexp_lookbehind_with_named_groups(spark):
    """Lookbehind syntax must survive the (?P<)/(?<) spelling translation:
    '(?<=' / '(?<!' are NOT named groups (review r5 finding — the blind
    replace used to emit '(?P<=' and crash re.compile)."""
    df = lines(spark, "[warn] disk low", "[info] ok")
    out = compile_spl(df, r"* | parse-regexp content, '(?<=\[)(?<lvl>\w+)(?=\])'")
    assert [r.lvl for r in out.collect()] == ["warn", "info"]
    # Python spelling + lookahead mix still works
    out2 = compile_spl(df, r"* | parse-regexp content, '(?P<lvl>(?<=\[)\w+)'")
    assert [r.lvl for r in out2.collect()] == ["warn", "info"]


def test_translate_expr_presto_function_table():
    """Pure-translation table: Presto dialect -> Spark SQL text (the SLS SPL
    expression language is Presto's; ProcessorSPL.h embeds that engine)."""
    from loongcollector_spark.operators.spl import _translate_expr as T

    table = {
        "json_extract_scalar(props, '$.k')": "get_json_object(props, '$.k')",
        "strpos(s, 'c') + 1": "instr(s, 'c') + 1",
        "split(host, '.')": "split(host, '\\\\.')",
        "split_part(host, '.', 2)": "try_element_at(split(host, '\\\\.'), 2)",
        "regexp_extract(m, 'x')":
            "case when regexp_like(m, 'x') then regexp_extract(m, 'x', 0) end",
        "url_extract_host(u)": "parse_url(u, 'HOST')",
        "url_extract_parameter(u, 'id')": "parse_url(u, 'QUERY', 'id')",
        "date_format(ts, '%H:%i')": "date_format(ts, 'HH:mm')",
        "date_add('day', 1, ts)": "timestampadd(day, 1, ts)",
        "date_diff('hour', a, b)": "timestampdiff(hour, a, b)",
        "to_hex(md5(to_utf8(s)))": "upper(md5(encode(s, 'utf-8')))",
        "to_hex(sha256(to_utf8(s)))": "upper(sha2(encode(s, 'utf-8'), 256))",
        "to_hex(from_hex('0a'))": "hex(unhex('0a'))",
        "bitwise_and(a, bitwise_or(b, 3))": "(a & (b | 3))",
        "bitwise_not(x)": "(~x)",
        "contains(arr, 'x')": "array_contains(arr, 'x')",
        "arbitrary(v)": "any_value(v)",
        "approx_distinct(uid)": "approx_count_distinct(uid)",
        "cast(uid as varchar)": "cast(uid as string)",
        "json_array_get(j, 2)": "get_json_object(j, '$[2]')",
        "json_parse(s)": "(s)",
        "is_nan(v)": "isnan(v)",
        "infinity()": "double('Infinity')",
        # literal backslashes survive the SQL-literal layer (Presto
        # literals are verbatim; Spark's parser would eat single ones)
        r"regexp_extract(m, '(\d+)', 1)":
            r"case when regexp_like(m, '(\\d+)') "
            r"then regexp_extract(m, '(\\d+)', 1) end",
        # Presto random(n) is a uniform integer in [0,n); Spark rand(n)
        # would treat n as a SEED (review r5 finding)
        "random()": "rand()",
        "random(100)": "cast(floor(rand() * (100)) as bigint)",
        # Presto quoted identifiers must become backtick identifiers —
        # Spark's default parser reads "x" as a string LITERAL
        '"event type" = \'error\'': "`event type` = 'error'",
        # '' doubling inside literals: still ONE literal to the scanners,
        # and a literal-delimiter split stays literal (regex-escaped)
        "split(s, 'a''.')": "split(s, 'a''\\\\.')",
        # round-5 widening: common Presto names Spark spells differently
        "from_base64(s)": "unbase64(s)",
        "to_base64(b)": "base64(b)",
        "array_agg(v)": "collect_list(v)",
        "format('%s=%d', k, v)": "format_string('%s=%d', k, v)",
        "zip(a, b)": "arrays_zip(a, b)",
        "repeat(x, 3)": "array_repeat(x, 3)",
        "regexp_split(s, ',+')": "split(s, ',+')",  # stays a REGEX split
        "day_of_year(ts)": "dayofyear(ts)",
        "week(ts)": "weekofyear(ts)",
        "element_at(arr, 9)": "try_element_at(arr, 9)",  # NULL past end
        "day_of_week(ts)": "((dayofweek(ts) + 5) % 7 + 1)",  # ISO Mon=1
        "from_unixtime(t)": "timestamp_seconds(t)",  # Presto: TIMESTAMP
        "split_to_map(s, '&', '=')": "str_to_map(s, '&', '=')",
        "split_to_map(s, '.', ':')": "str_to_map(s, '\\\\.', ':')",
        "truncate(x)": "(sign(x) * floor(abs(x)))",
        "to_iso8601(ts)": "date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss.SSS')",
        "strpos(s, '.', 1)": "coalesce(locate('.', s), 0)",
        "strpos(s, '.', 3)":
            "coalesce(locate('.', s, nullif(locate('.', s, "
            "nullif(locate('.', s), 0) + 1), 0) + 1), 0)",
        "try(cast(s as bigint))": "try_cast(s as bigint)",
        "try(element_at(arr, 9))": "try_element_at(arr, 9)",
        # corpus-driven widening (core/unittest/spl/spl.txt inventory)
        "day_of_month(ts)": "dayofmonth(ts)",
        "all_match(a, x -> x > 0)": "forall(a, x -> x > 0)",
        "any_match(a, x -> x > 0)": "exists(a, x -> x > 0)",
        "none_match(a, x -> x > 0)": "(not exists(a, x -> x > 0))",
        "reduce(a, 0, (s, x) -> s + x, s -> s)":
            "aggregate(a, 0, (s, x) -> s + x, s -> s)",
        "bitwise_logical_shift_right(x, 2, 64)":
            "shiftrightunsigned(x, 2, 64)",
        "millisecond(ts)": "cast(date_format(ts, 'SSS') as int)",
        "year_of_week(ts)": "year(date_add(date_trunc('week', ts), 3))",
        "from_base('ff', 16)": "cast(conv('ff', 16, 10) as bigint)",
        "to_base(255, 16)": "lower(conv(cast(255 as string), 10, 16))",
        "is_infinite(x)": "(abs(x) = double('Infinity'))",
        "array_max(a)":
            "(case when exists(a, __e -> __e is null) then null "
            "else array_max(a) end)",
        "bit_count(x, 64)": "bit_count(x)",
        "bit_count(x, 8)": "bit_count((x) & 255)",
        "strrpos(s, '.')":
            "(case when locate(reverse('.'), reverse(s)) = 0 then 0 else "
            "length(s) - locate(reverse('.'), reverse(s)) - length('.') + 2 end)",
        # non-calls pass through
        "CASE WHEN a > 1 THEN 'x' ELSE 'y' END":
            "CASE WHEN a > 1 THEN 'x' ELSE 'y' END",
        "coalesce(a, b) || '-' || upper(c)":
            "coalesce(a, b) || '-' || upper(c)",
    }
    for presto, spark_sql in table.items():
        assert T(presto) == spark_sql, presto


def test_spl_presto_semantics_e2e(spark):
    """Live-Spark parity with Presto's DOCUMENTED behavior for every mapped
    function family: url_extract_* (incl. PORT, which Spark's parse_url
    lacks), literal-delimiter split/split_part (NULL past last field),
    regexp_extract NULL-on-no-match + group-0 default, MySQL date patterns,
    timestampadd/diff, hash/hex composition, bitwise fns, bare-varchar cast."""
    import hashlib

    from loongcollector_spark.operators.spl import compile_spl

    df = spark.createDataFrame(
        [("https://u:p@api.example.com:8443/v1/items?id=42&x=1#frag",
          "a.b.c", '{"k": 7}', "2024-03-05 07:09:11")],
        "url string, host string, props string, ts_s string")
    out = compile_spl(df, r"""*
     | extend h = url_extract_host(url), p = url_extract_path(url),
         port = url_extract_port(url), qid = url_extract_parameter(url, 'id'),
         proto = url_extract_protocol(url), frag = url_extract_fragment(url)
     | extend part2 = split_part(host, '.', 2), part9 = split_part(host, '.', 9),
         parts = split(host, '.')
     | extend pos = strpos(host, 'b'), miss = strpos(host, 'zz'),
         nomatch = regexp_extract(host, 'zz'),
         k = regexp_extract(props, '"k": (\d+)', 1)
     | extend ts = date_parse(ts_s, '%Y-%m-%d %H:%i:%s')
     | extend hh = date_format(ts, '%H:%i'),
         nextday = date_add('day', 1, date_trunc('day', ts)),
         dh = date_diff('hour', date_trunc('day', ts), ts)
     | extend md = lower(to_hex(md5(to_utf8(host)))),
         sh = to_hex(sha256(to_utf8(host)))
     | extend band = bitwise_and(12, 10), shl = bitwise_left_shift(1, 4)
     | extend uid = cast(7 as varchar), jag = json_array_get('[10,20,30]', 1)
    """).first()
    assert (out.h, out.p, out.port) == ("api.example.com", "/v1/items", 8443)
    assert (out.qid, out.proto, out.frag) == ("42", "https", "frag")
    assert (out.part2, out.part9) == ("b", None)  # Presto: NULL past end
    assert out.parts == ["a", "b", "c"]           # literal '.', not regex
    assert (out.pos, out.miss) == (3, 0)          # 1-based; 0 when absent
    assert out.nomatch is None and out.k == "7"   # NULL on no-match
    assert str(out.ts) == "2024-03-05 07:09:11" and out.hh == "07:09"
    assert str(out.nextday) == "2024-03-06 00:00:00" and out.dh == 7
    assert out.md == hashlib.md5(b"a.b.c").hexdigest()
    assert out.sh == hashlib.sha256(b"a.b.c").hexdigest().upper()
    assert (out.band, out.shl) == (8, 16)
    assert (out.uid, out.jag) == ("7", "20")


def test_spl_presto_edge_semantics(spark):
    """Review-r5 edge fixes, live on Spark:

    * random(n) draws uniform INTEGERS in [0, n) (Presto), never seeded
      doubles (Spark rand(n) treats the arg as a seed).
    * regexp_extract distinguishes matched-but-empty capture ('') from
      no-match (NULL) — nullif conflated them.
    * MySQL %-specifiers with names (%M/%a/%b/%W) map to the NAME patterns;
      an unmappable specifier raises SplError at plan time instead of
      silently emitting a different field.
    * strpos 3-arg (instance) raises SplError instead of a plan-time
      AnalysisException from instr.
    * Presto double-quoted identifiers reach Spark as backtick identifiers
      (default parser would read "x" as a string literal).
    * '' doubling inside literals survives every scanner layer.
    """
    df = spark.createDataFrame(
        [("key=val", "2024-03-05 07:09:11")], "s string, ts_s string")

    r = compile_spl(df, "* | extend b = random(100), b0 = random()").first()
    assert isinstance(r.b, int) and 0 <= r.b < 100
    assert isinstance(r.b0, float) and 0.0 <= r.b0 < 1.0

    r = compile_spl(df, r"""* | extend emptycap = regexp_extract(s, 'key=(\w*)x?', 1),
        nomatch = regexp_extract(s, 'zz=(\w+)', 1)""").first()
    assert r.emptycap == "val" and r.nomatch is None
    r = compile_spl(df, r"* | extend e = regexp_extract(s, '=(q*)', 1)").first()
    assert r.e == ""  # matched, group captured empty -> '' (not NULL)

    r = compile_spl(df, """* | extend ts = date_parse(ts_s, '%Y-%m-%d %H:%i:%s')
        | extend mon = date_format(ts, '%M'), dow = date_format(ts, '%a'),
                 pct = date_format(ts, '%d%%')""").first()
    assert (r.mon, r.dow, r.pct) == ("March", "Tue", "05%")
    with pytest.raises(SplError, match="unsupported MySQL datetime"):
        compile_spl(df, "* | extend x = date_format(ts_s, '%w')")

    df_occ = spark.createDataFrame([("a.b.c.d",)], "t string")
    r = compile_spl(df_occ, """* | extend p1 = strpos(t, '.', 1),
        p2 = strpos(t, '.', 2), p3 = strpos(t, '.', 3),
        p9 = strpos(t, '.', 4), miss = strpos(t, 'z', 2)""").first()
    assert (r.p1, r.p2, r.p3) == (2, 4, 6)
    assert r.p9 == 0 and r.miss == 0   # fewer than n occurrences -> 0
    with pytest.raises(SplError, match="strpos.*instance"):
        compile_spl(df, "* | extend p = strpos(s, 'e', n)")  # non-literal

    r = compile_spl(df, """* | extend ok = try(cast('12' as bigint)),
        bad = try(cast('x' as bigint))""").first()
    assert r.ok == 12 and r.bad is None
    with pytest.raises(SplError, match="try"):
        compile_spl(df, "* | extend v = try(1/0)")

    df2 = spark.createDataFrame([("error", 1)], "`event type` string, id int")
    out = compile_spl(df2, """* | where "event type" = 'error'
        | extend t2 = upper("event type") | project id, t2""")
    assert out.first().t2 == "ERROR"
    assert compile_spl(df2, '* | where "event type" = \'nope\'').count() == 0

    df3 = spark.createDataFrame([("xa'.y", )], "s string")
    r = compile_spl(df3, "* | extend parts = split(s, 'a''.')").first()
    assert r.parts == ["x", "y"]  # literal 3-char delimiter a'. , not regex


def test_spl_presto_widened_functions_e2e(spark):
    """Round-5 widened Presto surface, live on Spark: base64 round-trip,
    element_at NULL past end (ANSI element_at would throw), ISO day_of_week,
    timestamp-typed from_unixtime, literal-delimiter split_to_map,
    toward-zero truncate, to_iso8601, array_agg in stats."""
    df = spark.createDataFrame(
        [("2024-03-05 07:09:11", "a=1&b=2", -2.7)], "ts_s string, kv string, x double")
    r = compile_spl(df, """*
      | extend ts = date_parse(ts_s, '%Y-%m-%d %H:%i:%s')
      | extend b64 = to_base64(to_utf8('hi')), rt = from_utf8(from_base64(to_base64(to_utf8('hi')))),
          arr = repeat('z', 2), third = element_at(split(kv, '&'), 9),
          dow = day_of_week(ts), sun = day_of_week(date_parse('2024-03-03', '%Y-%m-%d')),
          ut = from_unixtime(to_unixtime(ts)),
          m = split_to_map(kv, '&', '='),
          tr = truncate(x), iso = to_iso8601(ts),
          fmt = format('%s/%d', 'p', 5)""").first()
    assert r.b64 == "aGk=" and r.rt == "hi"
    assert r.arr == ["z", "z"] and r.third is None
    assert r.dow == 2 and r.sun == 7      # 2024-03-05 is Tuesday; 03-03 Sunday
    assert str(r.ut) == "2024-03-05 07:09:11"  # TIMESTAMP, not string
    assert r.m == {"a": "1", "b": "2"}
    assert r.tr == -2.0                    # toward zero, not floor's -3
    assert r.iso == "2024-03-05T07:09:11.000"
    assert r.fmt == "p/5"

    agg = compile_spl(
        spark.createDataFrame([("g", 1), ("g", 2)], "g string, v int"),
        "* | stats array_agg(v) as vs by g").first()
    assert sorted(agg.vs) == [1, 2]


def test_spl_corpus_function_families_e2e(spark):
    """Functions appearing in the reference's SPL benchmark corpus
    (core/unittest/spl/spl.txt), live on Spark with Presto semantics."""
    df = spark.createDataFrame(
        [("a.b.c", "2024-03-05 07:09:11.250", '{"k": [1, 2], "o": {"x": 1, "y": 2}}')],
        "s string, ts_s string, j string")
    r = compile_spl(df, """*
      | extend ts = date_parse(ts_s, '%Y-%m-%d %H:%i:%s.%f')
      | extend dom = day_of_month(ts), ms = millisecond(ts),
          isoyr = year_of_week(ts),
          last = strrpos(s, '.'), none = strrpos(s, 'z'),
          fb = from_base('ff', 16), tb = to_base(255, 16),
          fin = is_finite(1.5), inf = is_infinite(cast('Infinity' as double)),
          sc1 = is_json_scalar('1'), sc2 = is_json_scalar(j),
          ja = json_size(j, '$.k'), jo = json_size(j, '$.o'),
          jsc = json_size(j, '$.o.x'), jmiss = json_size(j, '$.zz'),
          hasv = json_array_contains('[1,2,3]', 2),
          am = all_match(sequence(1, 3), x -> x > 0),
          nm = none_match(sequence(1, 3), x -> x > 5),
          red = reduce(sequence(1, 4), 0, (acc, x) -> acc + x, acc -> acc)""").first()
    assert (r.dom, r.ms, r.isoyr) == (5, 250, 2024)
    assert (r.last, r.none) == (4, 0)
    assert (r.fb, r.tb) == (255, "ff")
    assert (r.fin, r.inf) == (True, True)
    assert (r.sc1, r.sc2) == (True, False)
    assert (r.ja, r.jo, r.jsc, r.jmiss) == (2, 2, 0, None)
    assert r.hasv is True
    assert (r.am, r.nm, r.red) == (True, True, 10)

    # Presto null rules + 2-arg bit_count over the same corpus inventory
    r2 = compile_spl(df, """*
      | extend amax = array_max(array(1, 2, 3)),
          anull = array_max(array(1, null, 3)),
          aavg = array_average(array(1, null, 4)),
          aempty = array_average(array(cast(null as int))),
          nrm = array_normalize(array(3.0, 4.0), 2),
          nrm0 = array_normalize(array(0.0, 0.0), 2),
          nrmn = array_normalize(array(1.0, cast(null as double)), 2),
          nrmp0 = array_normalize(array(5.0, 12.0), 0),
          bc8 = bit_count(-1, 8), bc64 = bit_count(-1, 64)""").first()
    assert (r2.amax, r2.anull) == (3, None)     # Presto: NULL if any null
    assert (r2.aavg, r2.aempty) == (2.5, None)  # nulls skipped / all-null
    assert r2.nrm == [0.6, 0.8] and r2.nrm0 == [0.0, 0.0]
    assert r2.nrmn is None                      # NULL if any element null
    assert r2.nrmp0 == [5.0, 12.0]              # p = 0 -> identity
    assert (r2.bc8, r2.bc64) == (8, 64)         # bits-bit two's complement

    # silent-divergence traps fail at plan time, not with wrong values
    for bad in ("xxhash64(to_utf8(s))", "hmac_sha256(s, s)",
                "combinations(sequence(1, 3), 2)", "bit_count(1, n)",
                "array_normalize(array(1.0), -2)"):
        with pytest.raises(SplError, match="processor_spl"):
            compile_spl(df.selectExpr("s", "2 as n"), f"* | extend z = {bad}")


def test_spl_stats_presto_aggregates(spark):
    """approx_distinct/arbitrary map to approx_count_distinct/any_value and
    run inside the stats stage's groupBy."""
    from loongcollector_spark.operators.spl import compile_spl

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 5)], "g string, v int")
    rows = {r.g: r for r in compile_spl(
        df, "* | stats approx_distinct(v) as nd, arbitrary(g) as any_g,"
            " count() as n by g").collect()}
    assert rows["a"].nd == 2 and rows["a"].n == 3 and rows["a"].any_g == "a"
    assert rows["b"].nd == 1 and rows["b"].n == 1

"""E2E parity: the reference's shipped pipeline YAMLs, loaded UNMODIFIED.

Mirrors test/e2e/test_cases/ scenarios: each example_config/data_pipelines/
*.yaml is translated by config.spec_from_native, fed the sample lines its own
header comment documents, run through run_pipeline, and the per-sink output
is read back and checked against the "After Process" expectation in the same
comment. Network flushers (flusher_sls) are overridden to a local parquet
twin; flusher_stdout maps to the console sink.

The tests that read the shipped YAMLs skip when the reference checkout is
absent; the rest build their configs inline and always run.
"""

from __future__ import annotations

import os

import pytest

REF_DIR = "/root/reference/example_config/data_pipelines"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF_DIR), reason="reference example_config not present"
)


def _run_yaml(spark, tmp_path, yaml_name, lines, line_offset=False, sink="sls"):
    from loongcollector_spark.config import load_native_config
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources.files import read_log_files

    out_dir = str(tmp_path / "out")
    spec, paths = load_native_config(
        f"{REF_DIR}/{yaml_name}",
        sink_overrides={sink: {"format": "parquet", "path": out_dir}},
    )
    assert paths == ["/home/test-log/*.log"]  # parsed verbatim from the YAML
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    (log_dir / "a.log").write_text("\n".join(lines) + "\n")
    df = read_log_files(spark, str(log_dir), line_offset=line_offset)
    res = run_pipeline(df, spec)
    return spec, res, out_dir


@needs_ref
def test_nginx_regex_yaml(spark, tmp_path):
    line = (
        '::1 - - [18/Jul/2022:07:28:01 +0000] "GET /hello/ilogtail HTTP/1.1" '
        '404 153 "-" "curl/7.74.0" "-"'
    )
    spec, res, out = _run_yaml(spark, tmp_path, "nginx-regex.yaml", [line, "garbage"])
    assert [p[0] for p in spec.processors] == ["parse_regex"]
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # KeepSourceIfParseError default keeps the bad row
    good = next(r for r in rows if r.status == "404")
    assert (good.remote_addr, good.method, good.url, good.protocol) == (
        "::1", "GET", "/hello/ilogtail", "HTTP/1.1"
    )
    assert good.time_local == "18/Jul/2022:07:28:01"
    assert (good.body_bytes_sent, good.http_user_agent) == ("153", "curl/7.74.0")


@needs_ref
def test_file_json_yaml(spark, tmp_path):
    spec, res, out = _run_yaml(
        spark, tmp_path, "file-json.yaml", ['{"key1":"value1","key2":2}']
    )
    assert [p[0] for p in spec.processors] == ["expand_json"]
    r = spark.read.parquet(out).first()
    assert r.expanded["key1"] == "value1"
    assert r.expanded["key2"] == "2"
    assert "content" not in r.asDict() or r.content is None  # KeepSource: false


@needs_ref
def test_file_delimiter_yaml(spark, tmp_path):
    spec, res, out = _run_yaml(
        spark, tmp_path, "file-delimiter.yaml", ["123\t2022-08-08\tbuy\t10000"]
    )
    r = spark.read.parquet(out).first()
    assert (r.uid, r.time, r.method, r.value) == ("123", "2022-08-08", "buy", "10000")


@needs_ref
def test_file_grok_yaml(spark, tmp_path):
    spec, res, out = _run_yaml(
        spark,
        tmp_path,
        "file-grok.yaml",
        ["10.0.0.0 GET /index.html 15824 0.043", "no match here ???"],
        sink="stdout",  # file-grok.yaml ships only a stdout flusher
    )
    rows = spark.read.parquet(out).collect()
    # IgnoreParseFailure: false drops the unmatched line
    assert len(rows) == 1
    r = rows[0]
    assert (r.client, r.method, r.request, r.bytes, r.duration) == (
        "10.0.0.0", "GET", "/index.html", "15824", "0.043"
    )


@needs_ref
def test_multiline_java_stack_yaml(spark, tmp_path):
    # NB: single space before '[' — the YAML's header comment shows two
    # spaces, which its own SplitRegex (':\\d+\\s\\[') does not match; the
    # shipped regex is the contract we honor
    lines = [
        "2022-08-09 14:47:17 [ main:1 ] - [ ERROR ] com.aliyun.NullPointerTest"
        ".main(NullPointerTest.java:13) Param Error",
        "java.lang.NullPointerException",
        "\tat com.aliyun.NullPointerTest.main(NullPointerTest.java:11)",
        "2022-08-09 14:47:18 [ main:1 ] - [ INFO ] done",
    ]
    spec, res, out = _run_yaml(
        spark, tmp_path, "multiline_java_stack_trace-split_log_regex.yaml",
        lines, line_offset=True,
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # two headers -> two merged events
    stack = next(r.content for r in rows if "NullPointerException" in r.content)
    assert stack == "\n".join(lines[:3])


def test_input_level_multiline_block(spark, tmp_path):
    """input_file's own Multiline block (StartPattern+EndPattern) inserts
    the split processor up front, mirroring InputFile.cpp:217; reference-
    exact Start+End semantics: nested starts absorbed, unterminated
    trailing block replayed line-by-line through the unmatched path."""
    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources.files import read_log_files

    out = str(tmp_path / "ml_out")
    doc = {
        "inputs": [
            {
                "Type": "input_file",
                "FilePaths": ["/ignored/*.log"],
                "Multiline": {
                    "Mode": "custom",
                    "StartPattern": r"^BEGIN.*",
                    "EndPattern": r"^END.*",
                },
            }
        ],
        "flushers": [
            {"Type": "flusher_file", "FilePath": out},
        ],
    }
    spec, paths = spec_from_native(
        doc, sink_overrides={"file": {"format": "parquet", "path": out}}
    )
    assert spec.processors[0][0] == "merge_multiline_rules"
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    (log_dir / "a.log").write_text(
        "BEGIN tx\nBEGIN nested\nmid\nEND tx\nBEGIN dangling\ntail\n"
    )
    df = read_log_files(spark, str(log_dir), line_offset=True)
    run_pipeline(df, spec)
    contents = sorted(r.content for r in spark.read.parquet(out).collect())
    assert contents == sorted(
        ["BEGIN tx\nBEGIN nested\nmid\nEND tx", "BEGIN dangling", "tail"]
    )


@needs_ref
def test_stdout_flusher_maps_to_console_and_fanout_delivers_all(spark, tmp_path):
    # every flusher gets every event: the sls parquet twin and the stdout
    # console sink both report delivery
    spec, res, out = _run_yaml(
        spark, tmp_path, "file-delimiter.yaml", ["1\t2\t3\t4", "5\t6\t7\t8"]
    )
    assert set(spec.sinks) == {"sls", "stdout"}
    assert spec.sinks["stdout"].format == "console"  # flusher_stdout prints
    assert res["sls"]["delivered"] and res["stdout"]["delivered"]
    assert spark.read.parquet(out).count() == 2


def test_native_flusher_file_delivers_jsonline(spark, tmp_path):
    """flusher_file runs the converter chain before writing — the sink must
    serialize (jsonline), not crash on a multi-column text write."""
    import json

    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline

    out = str(tmp_path / "file_out")
    spec, _ = spec_from_native(
        {
            "inputs": [{"Type": "input_file", "FilePaths": ["/x/*.log"]}],
            "processors": [{"Type": "processor_json", "SourceKey": "content"}],
            "flushers": [{"Type": "flusher_file", "FileName": out}],
        }
    )
    df = spark.createDataFrame([('{"a":"1","b":{"c":"2"}}',)], "content string")
    res = run_pipeline(df, spec)
    assert res["file"]["delivered"]
    import glob

    lines = [
        ln
        for f in sorted(glob.glob(f"{out}/part*"))
        for ln in open(f).read().splitlines()
        if ln.strip()
    ]
    assert len(lines) == 1
    obj = json.loads(lines[0])
    # ExpandDepth absent = reference's 0 = unlimited -> nested keys flatten
    assert obj["expanded"]["a"] == "1"
    assert obj["expanded"]["b_c"] == "2"
    # processor_json defaults KeepSource TRUE (processor_json.go:112)
    assert obj["content"] == '{"a":"1","b":{"c":"2"}}'


def test_native_duplicate_flusher_names():
    from loongcollector_spark.config import spec_from_native

    spec, _ = spec_from_native(
        {
            "flushers": [
                {"Type": "flusher_file", "FileName": "/a"},
                {"Type": "flusher_file", "FileName": "/b"},
            ]
        }
    )
    assert set(spec.sinks) == {"file", "file_2"}
    assert spec.sinks["file"].path == "/a" and spec.sinks["file_2"].path == "/b"


def test_native_split_char_default_newline():
    from loongcollector_spark.config import _native_processor

    name, kwargs = _native_processor(
        {"Type": "processor_split_char", "SourceKey": "content",
         "SplitKeys": ["a", "b"]}
    )
    assert kwargs["separator"] == "\n"  # split_char.go:186 init default


@needs_ref
def test_native_yaml_streaming(spark, tmp_path):
    """The shipped file-delimiter YAML runs as a Structured Streaming query
    (text file stream -> processor chain -> per-batch sink delivery)."""
    from loongcollector_spark.streaming.pipeline import run_native_streaming

    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "a.log").write_text("123\t2022-08-08\tbuy\t10000\n9\t2023-01-01\tsell\t5\n")
    out = str(tmp_path / "stream_out")
    res = run_native_streaming(
        spark,
        f"{REF_DIR}/file-delimiter.yaml",
        str(src),
        out,
        str(tmp_path / "ckpt"),
        sink_overrides={"sls": {"format": "parquet", "path": str(tmp_path / "sls_out")}},
    )
    assert not res["active"]
    rows = {r.uid: r for r in spark.read.parquet(str(tmp_path / "sls_out")).collect()}
    assert set(rows) == {"123", "9"}
    assert rows["123"].method == "buy" and rows["9"].value == "5"


def test_native_enrich_filter_processor_translations(spark, tmp_path):
    """The broader Go processor set translates and runs: rename, add_fields,
    split_key_value, strptime, filter_regex, desensitize, drop — one native
    config chaining them, checked end-to-end."""
    import json as _json

    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline

    out = str(tmp_path / "out")
    spec, _ = spec_from_native(
        {
            "processors": [
                {"Type": "processor_split_key_value", "SourceKey": "content",
                 "Delimiter": ";", "Separator": "="},
                {"Type": "processor_rename", "SourceKeys": ["content"],
                 "DestKeys": ["raw"]},
                {"Type": "processor_add_fields",
                 "Fields": {"env": "prod", "raw": "clobbered"},
                 "IgnoreIfExist": True},
                {"Type": "processor_filter_regex",
                 "Include": {"raw": ".*level=(INFO|ERROR).*"},
                 "Exclude": {"raw": ".*drop=yes.*"}},
                {"Type": "processor_desensitize", "SourceKey": "raw",
                 "Method": "const", "Match": "regex", "RegexBegin": "card=",
                 "RegexContent": "\\d+", "ReplaceString": "****"},
                {"Type": "processor_strptime", "SourceKey": "when",
                 "Format": "%Y-%m-%d %H:%M:%S"},
                {"Type": "processor_drop", "DropKeys": ["kv"]},
            ],
            "flushers": [{"Type": "flusher_file", "FileName": out}],
        }
    )
    df = spark.createDataFrame(
        [
            ("level=INFO;card=1234;when=x",),
            ("level=ERROR;drop=yes;card=5678;when=y",),
            ("level=DEBUG;when=z",),
        ],
        "content string",
    ).selectExpr("content", "'2024-02-17 10:11:12' as when")
    res = run_pipeline(df, spec)
    assert res["file"]["delivered"]
    import glob

    rows = [
        _json.loads(ln)
        for f in sorted(glob.glob(f"{out}/part*"))
        for ln in open(f).read().splitlines()
        if ln.strip()
    ]
    # include keeps INFO/ERROR, exclude drops drop=yes -> one survivor
    assert len(rows) == 1
    r = rows[0]
    assert "content" not in r and r["raw"].startswith("level=INFO")
    assert r["env"] == "prod" and r["raw"] != "clobbered"  # IgnoreIfExist
    assert "card=****" in r["raw"]  # desensitized
    assert "kv" not in r  # dropped map column
    # __event_time__ is an internal (dunder) column: present on the frame,
    # correctly excluded from the serialized contents — check the mapping
    from loongcollector_spark.config import _native_processor

    name, kwargs = _native_processor(
        {"Type": "processor_strptime", "SourceKey": "when",
         "Format": "%Y-%m-%d %H:%M:%S"}
    )
    assert name == "parse_timestamp"
    assert kwargs == {"source_key": "when", "source_format": "%Y-%m-%d %H:%M:%S"}


def test_native_desensitize_full_match_default(spark):
    """Match defaults to 'full' in the reference: the WHOLE value is
    replaced exactly once (no doubled replacement from an empty trailing
    match), and md5 mode hashes the whole content."""
    import hashlib

    from loongcollector_spark.config import _native_processor
    from loongcollector_spark.pipeline import PROCESSORS

    df = spark.createDataFrame([("secret-value",)], "content string")
    name, kwargs = _native_processor(
        {"Type": "processor_desensitize", "SourceKey": "content",
         "Method": "const", "ReplaceString": "****"}
    )
    assert PROCESSORS[name](df, **kwargs).first().content == "****"
    name, kwargs = _native_processor(
        {"Type": "processor_desensitize", "SourceKey": "content",
         "Method": "md5"}
    )
    got = PROCESSORS[name](df, **kwargs).first().content
    assert got == hashlib.md5(b"secret-value").hexdigest()
    # Method=const (the default) with no ReplaceString is an Init error in
    # the reference (processor_desensitize.go:65-66) — refuse to load it
    # instead of fabricating a mask
    with pytest.raises(ValueError, match="ReplaceString must be non-empty"):
        _native_processor(
            {"Type": "processor_desensitize", "SourceKey": "content"}
        )


def test_native_gotime_translation(spark):
    """processor_gotime Go layouts translate through go_layout_to_strptime
    and reformat end-to-end (gotime.go:33-54)."""
    from loongcollector_spark.config import _native_processor
    from loongcollector_spark.pipeline import PROCESSORS

    name, kwargs = _native_processor(
        {"Type": "processor_gotime", "SourceKey": "t",
         "SourceFormat": "2006-01-02 15:04:05",
         "DestKey": "euro", "DestFormat": "02/01/2006 15:04"}
    )
    assert name == "reformat_time"
    assert kwargs["source_format"] == "%Y-%m-%d %H:%M:%S"
    assert kwargs["dest_format"] == "%d/%m/%Y %H:%M"
    df = spark.createDataFrame([("2024-02-17 10:11:12",)], "t string")
    out = PROCESSORS[name](df, **kwargs).first()
    assert out.euro == "17/02/2024 10:11"


@needs_ref
def test_native_streaming_multiline_across_restart(spark, tmp_path):
    """multiline_java_stack_trace-split_log_regex.yaml runs in STREAMING:
    the stateful cross-batch merge (streaming/multiline.py) sessionizes the
    line stream, and the streaming checkpoint makes a restart process only
    the new file — merged-block counts add up with no duplicates."""
    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    hdr1 = ("2022-08-09 14:47:17 [ main:1 ] - [ ERROR ] com.aliyun."
            "NullPointerTest.main(NullPointerTest.java:13) Param Error")
    hdr2 = "2022-08-09 14:47:18 [ main:1 ] - [ INFO ] done"
    hdr3 = "2022-08-09 14:47:19 [ main:1 ] - [ WARN ] later"
    (logs / "a.log").write_text(
        hdr1 + "\njava.lang.NullPointerException\n\tat com.aliyun."
        "NullPointerTest.main(NullPointerTest.java:11)\n" + hdr2 + "\n"
    )

    def run():
        return run_native_streaming(
            spark,
            f"{REF_DIR}/multiline_java_stack_trace-split_log_regex.yaml",
            str(logs), out, ckpt,
            sink_overrides={"sls": {"format": "parquet", "path": out}},
            timeout_sec=120.0,
        )

    run()
    rows1 = spark.read.parquet(out).collect()
    assert len(rows1) == 2  # two headers -> two merged events
    stack = next(r.content for r in rows1 if "NullPointerException" in r.content)
    assert stack.count("\n") == 2  # header + 2 stack lines merged

    # restart with a NEW file: checkpoint skips a.log, merges only b.log
    (logs / "b.log").write_text(hdr3 + "\n\tat one.more(Line.java:1)\n")
    run()
    rows2 = spark.read.parquet(out).collect()
    assert len(rows2) == 3  # +1 merged block, no duplicates of batch 0
    assert any(r.content == hdr3 + "\n\tat one.more(Line.java:1)" for r in rows2)


def test_native_streaming_start_end_multiline(spark, tmp_path):
    """A Start+End Multiline YAML runs as a streaming query on the stateful
    automaton (streaming_merge_rules): blocks span start..end inclusive,
    lines outside blocks are unmatched singles, and an unterminated
    trailing block replays line-by-line at the drain-end flush
    (HandleUnmatchLogs, ProcessorSplitMultilineLogStringNative.cpp:295-308)
    — matching the batch operator's reference-exact semantics."""
    import yaml

    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text(
        "loose\nB one\nmid\nE two\nB dangling\ntail\n"
    )
    out = str(tmp_path / "out")
    cfg = tmp_path / "ml.yaml"
    cfg.write_text(yaml.safe_dump({
        "inputs": [{"Type": "input_file", "FilePaths": [str(logs / "*.log")],
                    "Multiline": {"StartPattern": "^B.*", "EndPattern": "^E.*"}}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    }))
    run_native_streaming(
        spark, str(cfg), str(logs), str(tmp_path / "fanout"),
        str(tmp_path / "ckpt"),
        sink_overrides={"file": {"format": "parquet", "path": out}},
        flush_timeout_ms=100,
        timeout_sec=120.0,
    )
    got = sorted(r.content for r in spark.read.parquet(out).collect())
    assert got == ["B dangling", "B one\nmid\nE two", "loose", "tail"]


def test_native_streaming_java_regex_multiline(spark, tmp_path):
    """A StartPattern in Java-only regex syntax (``\\h``) runs as a stream:
    the patterns are matched in the JVM in both modes, so the stream gives
    the batch runner's blocks."""
    import yaml

    from loongcollector_spark.config import load_native_config
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources.files import read_log_files
    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text(
        "head\n2024-01-01 a\n  at x\n\t2025 b\ntail y\n"
    )
    cfg = tmp_path / "ml.yaml"
    cfg.write_text(yaml.safe_dump({
        "inputs": [{"Type": "input_file", "FilePaths": [str(logs / "*.log")],
                    "Multiline": {"StartPattern": r"^\h*\d{4}"}}],
        "flushers": [{"Type": "flusher_file", "FilePath": str(tmp_path)}],
    }))

    def sink(name):
        return {"file": {"format": "parquet", "path": str(tmp_path / name)}}

    spec, _ = load_native_config(str(cfg), sink_overrides=sink("batch"))
    run_pipeline(read_log_files(spark, str(logs), line_offset=True), spec)
    run_native_streaming(
        spark, str(cfg), str(logs), str(tmp_path / "fanout"),
        str(tmp_path / "ckpt"), sink_overrides=sink("stream"),
        flush_timeout_ms=100, timeout_sec=120.0,
    )
    batch, stream = (
        sorted(r.content for r in spark.read.parquet(str(tmp_path / n)).collect())
        for n in ("batch", "stream")
    )
    assert batch == ["\t2025 b\ntail y", "2024-01-01 a\n  at x", "head"]
    assert stream == batch


def test_native_gotime_epoch_and_location():
    from loongcollector_spark.config import _native_processor

    name, kwargs = _native_processor(
        {"Type": "processor_gotime", "SourceKey": "t",
         "SourceFormat": "seconds", "DestKey": "iso",
         "DestFormat": "2006-01-02 15:04:05", "DestLocation": 8}
    )
    assert kwargs["source_format"] == "seconds"
    assert kwargs["dest_timezone"] == "GMT+8"
    with pytest.raises(ValueError, match="non-padded"):
        _native_processor(
            {"Type": "processor_gotime", "SourceKey": "t",
             "SourceFormat": "2006-1-2 15:4:5", "DestKey": "x",
             "DestFormat": "2006-01-02"}
        )


def test_native_enrich_chain_example_loads_and_runs(spark, tmp_path):
    """examples/native_enrich_chain.yaml (the round-4 widened plugin set in
    reference-native shape) loads via load_native_config and runs e2e on a
    synthetic log file."""
    from loongcollector_spark.config import load_native_config
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sinks import SinkSpec
    from loongcollector_spark.sources.files import read_log_files

    spec, paths = load_native_config("examples/native_enrich_chain.yaml")
    assert [n for n, _ in spec.processors] == [
        "parse_delimiter", "dict_map", "string_replace", "anchor_multi",
        "md5", "fields_with_condition", "drop_last_key",
    ]

    log = tmp_path / "events.log"
    log.write_text(
        "cn-hangzhou|/v2/item|u1|500|boot trace=[t0] ok\n"
        "eu-west|/health|u2|200|boot trace=[t1] ok\n"
    )
    out_dir = tmp_path / "out"
    spec.sinks = {k: SinkSpec(name=k, path=str(out_dir / k), format="parquet")
                  for k in spec.sinks}
    run_pipeline(read_log_files(spark, str(log)), spec)
    import duckdb

    got = duckdb.sql(
        f"SELECT zone, severity, trace_id, content FROM '{out_dir}/**/*.parquet' ORDER BY zone"
    ).fetchall()
    assert len(got) == 2
    by_zone = {r[0]: r for r in got}
    assert by_zone["east"][1] == "error" and by_zone["east"][2] == "t0"
    # eu-west is a NON-NULL unmapped region: the reference passes the event
    # through unchanged (processor_dict_map.go:169 `return`), so zone stays
    # absent (null) — Missing fires only for an absent SourceKey.
    assert by_zone[None][1] is None
    assert all(r[3] is None for r in got)  # drop_last_key nulled the raw line


def test_native_parser_family_translations(spark):
    """processor_csv / split_string / split_log_string / parse_apsara_native
    / parse_timestamp_native / log_to_sls_metric / otel_* translate to the
    registry and run columnar — the last shipped plugin types with
    implemented operators but no YAML path (round 5)."""
    from loongcollector_spark.config import _native_processor
    from loongcollector_spark.pipeline import PROCESSORS

    # processor_csv -> parse_csv (processor_csv.go:30-49)
    name, kw = _native_processor(
        {"Type": "processor_csv", "SourceKey": "line",
         "SplitKeys": ["a", "b"], "PreserveOthers": True})
    assert name == "parse_csv" and kw["sep"] == ","
    df = spark.createDataFrame([('1,"x,y",z',)], "line string")
    r = PROCESSORS[name](df, **kw).first()
    assert (r.a, r.b, r._decode_preserve_) == ("1", "x,y", "z")
    with pytest.raises(ValueError, match="invalid separator"):
        _native_processor({"Type": "processor_csv", "SplitSep": "ab"})

    # processor_split_string -> split_string_fields (split_string.go:60-110):
    # non-expand overflow keeps the UNSPLIT remainder
    name, kw = _native_processor(
        {"Type": "processor_split_string", "SourceKey": "line",
         "SplitSep": "|", "SplitKeys": ["x", "y"]})
    assert name == "split_string_fields"
    r = PROCESSORS[name](
        spark.createDataFrame([("a|b|c|d",)], "line string"), **kw).first()
    assert (r.x, r.y, r._split_preserve_) == ("a", "b", "c|d")
    # expand variant: prefix-numbered fields (:93-96)
    name, kw = _native_processor(
        {"Type": "processor_split_string", "SourceKey": "line",
         "SplitSep": "|", "SplitKeys": ["x"], "ExpandOthers": True,
         "ExpandKeyPrefix": "e_"})
    r = PROCESSORS[name](
        spark.createDataFrame([("a|b|c",)], "line string"), **kw).first()
    assert (r.x, r.e_1, r.e_2) == ("a", "b", "c")

    # processor_split_log_string -> one row per piece, empties dropped
    # (split_log_string.go:93-97)
    name, kw = _native_processor(
        {"Type": "processor_split_log_string", "SplitKey": "content"})
    out = PROCESSORS[name](
        spark.createDataFrame([("l1\nl2\n",)], "content string"), **kw)
    assert [r.content for r in out.collect()] == ["l1", "l2"]

    # processor_parse_apsara_native + Timezone
    # (ProcessorParseApsaraNative.cpp:52-70): wall clock read in GMT+08:00
    name, kw = _native_processor(
        {"Type": "processor_parse_apsara_native", "SourceKey": "content",
         "Timezone": "GMT+08:00"})
    assert name == "parse_apsara" and kw["timezone"] == "GMT+08:00"
    df = spark.createDataFrame(
        [("[2024-01-01 12:00:00.123456]\t[INFO]\tk:v",)], "content string")
    r = PROCESSORS[name](df, **kw).first()
    assert str(r.apsara_time) == "2024-01-01 04:00:00.123456"
    # invalid Timezone form is warn-ignored (PARAM_WARNING_IGNORE)
    _, kw2 = _native_processor(
        {"Type": "processor_parse_apsara_native", "SourceKey": "content",
         "Timezone": "UTC+8"})
    assert kw2["timezone"] is None

    # processor_parse_timestamp_native + SourceYear (TimeUtil.cpp:134-137)
    name, kw = _native_processor(
        {"Type": "processor_parse_timestamp_native", "SourceKey": "t",
         "SourceFormat": "%m-%d %H:%M:%S", "SourceYear": 2023})
    assert name == "parse_timestamp"
    df = spark.createDataFrame([("02-17 10:11:12",)], "t string")
    r = PROCESSORS[name](df, **kw).first()
    assert str(r["__event_time__"]) == "2023-02-17 10:11:12"
    with pytest.raises(ValueError, match="nondeterministic"):
        _native_processor(
            {"Type": "processor_parse_timestamp_native", "SourceKey": "t",
             "SourceFormat": "%m", "SourceYear": 0})

    # processor_log_to_sls_metric: one metric row per MetricValues pair,
    # ms epoch normalized to ns (go:255-333)
    name, kw = _native_processor(
        {"Type": "processor_log_to_sls_metric",
         "MetricLabelKeys": ["host"],
         "MetricValues": {"n1": "v1", "n2": "v2"},
         "CustomMetricLabels": {"dc": "us"},
         "MetricTimeKey": "t"})
    assert name == "log_to_metric"
    df = spark.createDataFrame(
        [("h1", "cpu", "1.5", "mem", "2.5", "1700000000000")],
        "host string, n1 string, v1 string, n2 string, v2 string, t string")
    rows = {r["__name__"]: r for r in PROCESSORS[name](df, **kw).collect()}
    assert set(rows) == {"cpu", "mem"}
    assert rows["cpu"]["__labels__"] == "dc#$#us|host#$#h1"
    assert rows["cpu"]["__time_nano__"] == 1700000000000 * 10**6
    assert rows["mem"]["__value__"] == 2.5

    # otel processors: json rides the from_json expansion, protobuf and
    # empty Format are plan-time errors (processor_otel_trace.go:43-50)
    name, _ = _native_processor(
        {"Type": "processor_otel_trace", "SourceKey": "body",
         "Format": "json"})
    assert name == "otel_trace_parse"
    with pytest.raises(ValueError, match="Format field is empty"):
        _native_processor({"Type": "processor_otel_trace", "SourceKey": "b"})
    with pytest.raises(ValueError, match="gated"):
        _native_processor({"Type": "processor_otel_metric", "SourceKey": "b",
                           "Format": "protobuf"})


def test_native_aggregators_section(spark, tmp_path):
    """The aggregators block translates onto the spec: logstore_router ->
    first-match routes with full-anchored regexes (aggregator_router.go:
    97-106), shardhash -> shard keys/count/connector, content_value_group ->
    sink partition columns, base/default/context -> no plan effect, unknown
    -> plan-time error."""
    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline

    out_a = str(tmp_path / "store_a")
    out_def = str(tmp_path / "out_def")
    spec, _ = spec_from_native(
        {
            "processors": [
                {"Type": "processor_split_key_value", "SourceKey": "content",
                 "Delimiter": ";", "Separator": "="},
            ],
            "aggregators": [
                {"Type": "aggregator_base"},
                {"Type": "aggregator_shardhash", "SourceKeys": ["level"],
                 "ShardCount": 4, "Connector": "#"},
                {"Type": "aggregator_logstore_router", "SourceKey": "level",
                 "RouterRegex": ["ERR.*"], "RouterLogstore": ["store_a"]},
            ],
            "flushers": [{"Type": "flusher_file", "FileName": out_def}],
        },
        sink_overrides={"store_a": {"format": "parquet", "path": out_a}},
    )
    assert spec.route_mode == "first_match"
    assert spec.shard_keys == ("level",) and spec.shard_count == 4
    assert spec.shard_connector == "#"
    df = spark.createDataFrame(
        [("level=ERROR;m=boom",), ("level=INFO;m=fine",), ("m=nolevel",)],
        "content string",
    )
    res = run_pipeline(df, spec)
    assert res["store_a"]["delivered"]
    routed = spark.read.parquet(out_a).collect()
    # full-anchored ERR.* matches only the ERROR row
    assert [r.level for r in routed] == ["ERROR"]
    # no-match AND missing-key rows both land on the default sink
    # (aggregator_router.go:119-127 DropDisMatch=false)
    import json as _json
    defaults = [
        _json.loads(line)
        for part in __import__("pathlib").Path(out_def).rglob("part-*")
        for line in part.read_text().splitlines()
    ]
    assert {d.get("level") for d in defaults} == {"INFO", None}

    # DropDisMatch drops non-matching rows instead
    spec2, _ = spec_from_native(
        {
            "aggregators": [
                {"Type": "aggregator_logstore_router", "SourceKey": "level",
                 "RouterRegex": ["ERR.*"], "RouterLogstore": ["store_a"],
                 "DropDisMatch": True},
            ],
            "flushers": [{"Type": "flusher_stdout"}],
        },
        sink_overrides={"store_a": {"format": "memory"}},
    )
    assert spec2.drop_dismatch is True

    # content_value_group -> partition columns on file sinks
    spec3, _ = spec_from_native(
        {
            "aggregators": [
                {"Type": "aggregator_content_value_group",
                 "GroupKeys": ["env", "svc"]},
            ],
            "flushers": [{"Type": "flusher_file", "FileName": str(tmp_path / "x")}],
        },
        sink_overrides={"file": {"format": "parquet", "path": str(tmp_path / "x")}},
    )
    assert spec3.sinks["file"].partition_by == ("env", "svc")

    # mismatched regex/logstore counts and untranslatable aggregators fail
    # at plan time
    with pytest.raises(ValueError, match="router regex count"):
        spec_from_native({"aggregators": [
            {"Type": "aggregator_logstore_router", "RouterRegex": ["a", "b"],
             "RouterLogstore": ["only"]}], "flushers": []})
    with pytest.raises(ValueError, match="no Spark translation"):
        spec_from_native({"aggregators": [
            {"Type": "aggregator_skywalking"}], "flushers": []})


def test_native_translation_review_fixes(spark):
    """Round-5 review fixes: anchored '^'-prefixed router regexes, Go
    zero-value ExpandKeyPrefix, empty-SplitSep Init error, log_to_metric
    field-repeat Init check + incoming __labels__ merge, %%Y escape in
    SourceYear detection."""
    from loongcollector_spark.config import _native_processor, spec_from_native
    from loongcollector_spark.operators import enrich
    from loongcollector_spark.operators.route import Condition
    from loongcollector_spark.pipeline import PROCESSORS

    # '^'-prefixed regex stays a FULL match (aggregator_router.go:106)
    df = spark.createDataFrame([("ERROR",), ("ERR",)], "level string")
    matched = df.filter(
        Condition(content_key="level", content_regex="^ERR").to_column()
    ).collect()
    assert [r.level for r in matched] == ["ERR"]

    # ExpandKeyPrefix zero value: overflow fields named '1','2' (Go :92-95)
    name, kw = _native_processor(
        {"Type": "processor_split_string", "SourceKey": "line",
         "SplitSep": "|", "SplitKeys": ["x"], "ExpandOthers": True})
    r = PROCESSORS[name](
        spark.createDataFrame([("a|b|c",)], "line string"), **kw).first()
    assert (r.x, r["1"], r["2"]) == ("a", "b", "c")
    name, kw = _native_processor(
        {"Type": "processor_csv", "SourceKey": "line",
         "SplitKeys": ["a"], "PreserveOthers": True, "ExpandOthers": True})
    r = PROCESSORS[name](
        spark.createDataFrame([("p,q,r",)], "line string"), **kw).first()
    assert (r.a, r["1"], r["2"]) == ("p", "q", "r")

    # empty SplitSep fails at plan time (split_string.go:49-51)
    with pytest.raises(ValueError, match="no split separator"):
        _native_processor({"Type": "processor_split_string",
                           "SourceKey": "line", "SplitSep": ""})

    # errFieldRepeated: label key colliding with a custom label
    with pytest.raises(ValueError, match="repeated"):
        enrich.log_to_metric(
            spark.createDataFrame([("h", "n", "1")], "host string, n string, v string"),
            ["host"], metric_values={"n": "v"}, custom_labels={"host": "dc"})

    # incoming __labels__ merges into the output (go:187-215); a malformed
    # entry or a key repeating MetricLabelKeys drops the log
    df = spark.createDataFrame(
        [("region#$#eu", "h1", "cpu", "1.5"),
         ("badentry", "h2", "cpu", "2.5"),
         ("host#$#dup", "h3", "cpu", "3.5")],
        "__labels__ string, host string, mname string, mval string")
    rows = enrich.log_to_metric(df, ["host"], "mname", "mval").collect()
    assert len(rows) == 1
    assert rows[0]["__labels__"] == "host#$#h1|region#$#eu"

    # %%Y is literal text, not a year specifier
    from loongcollector_spark.operators.parse_time import parse_timestamp
    df = spark.createDataFrame([("%Y 02-17 10:11:12",)], "t string")
    r = parse_timestamp(df, "t", "%%Y %m-%d %H:%M:%S", source_year=2023).first()
    assert str(r["__event_time__"]) == "2023-02-17 10:11:12"

    # grouped packs partition TEXT sinks too (flusher_file default shape)
    spec3, _ = spec_from_native(
        {"aggregators": [{"Type": "aggregator_content_value_group",
                          "GroupKeys": ["env"]}],
         "flushers": [{"Type": "flusher_file", "FileName": "/tmp/x"}]})
    assert spec3.sinks["file"].partition_by == ("env",)


def test_native_translation_review_fixes_round2(spark, tmp_path):
    """Second review pass over the parity-fix commit: YAML-null
    ExpandKeyPrefix, incoming-__labels__ duplicate-key parity, SPL
    pseudo-numeric p, and serialize_rows partition-column edge cases."""
    from loongcollector_spark.config import _native_processor
    from loongcollector_spark.operators import enrich
    from loongcollector_spark.operators.spl import SplError, compile_spl
    from loongcollector_spark.pipeline import PROCESSORS
    from loongcollector_spark.sinks import SinkSpec, serialize_rows

    # explicit YAML null == the Go zero value "" (overflow names '1','2')
    name, kw = _native_processor(
        {"Type": "processor_split_string", "SourceKey": "line",
         "SplitSep": "|", "SplitKeys": ["x"], "ExpandOthers": True,
         "ExpandKeyPrefix": None})
    r = PROCESSORS[name](
        spark.createDataFrame([("a|b",)], "line string"), **kw).first()
    assert r["1"] == "b"
    _, kw = _native_processor(
        {"Type": "processor_csv", "SourceKey": "line", "SplitKeys": ["a"],
         "PreserveOthers": True, "ExpandOthers": True,
         "ExpandKeyPrefix": None})
    assert kw["expand_key_prefix"] == ""

    # incoming __labels__ key colliding with a CUSTOM label key passes and
    # both entries land in the wire format (go:100-117 metricLabelKeysMap
    # never holds custom keys; :304-306 appends custom labels unconditionally)
    df = spark.createDataFrame(
        [("dc#$#eu", "h1", "cpu", "1.5")],
        "__labels__ string, host string, mname string, mval string")
    rows = enrich.log_to_metric(
        df, ["host"], "mname", "mval", custom_labels={"dc": "us"}).collect()
    assert rows[0]["__labels__"] == "dc#$#eu|dc#$#us|host#$#h1"
    # an empty __labels__ entry (trailing '|') drops the log, like the Go's
    # len(kv)!=2 branch on split('', '#$#')
    df2 = spark.createDataFrame(
        [("a#$#1|", "h1", "cpu", "1.5")],
        "__labels__ string, host string, mname string, mval string")
    assert enrich.log_to_metric(df2, ["host"], "mname", "mval").count() == 0

    # Python-float-but-not-SQL literals ('inf', '1_5') fail at plan time
    vdf = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    for bad_p in ("inf", "nan", "1_5", "other_col"):
        with pytest.raises(SplError, match="literal numeric p"):
            compile_spl(vdf, f"* | extend n = array_normalize(v, {bad_p})")

    # a partition column named 'value' must not collide with the serialized
    # column; a missing partition column fails with the sink name
    df3 = spark.createDataFrame([("a", "x")], "value string, msg string")
    out = serialize_rows(
        df3, SinkSpec("s", encoding="jsonline", partition_by=("value",)))
    assert out.columns == ["_value", "value"]
    with pytest.raises(ValueError, match="sink 's'.*not in frame"):
        serialize_rows(
            df3, SinkSpec("s", encoding="jsonline", partition_by=("nope",)))


def test_native_container_stdio_inner_processors(spark, tmp_path):
    """input_container_stdio mirrors InputContainerStdio::CreateInnerProcessors
    (InputContainerStdio.cpp:299-365): container parse → BY_FLAG partial
    merge → user Multiline regex merge, translated from an unmodified-shape
    YAML doc. Mirrors the input_container_stdio_multiline e2e case: P-flagged
    containerd chunks concatenate with no separator keeping the FIRST chunk's
    _time_/_source_, stderr is droppable, and the flag-merged logical lines
    then merge again under the user StartPattern."""
    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources.files import read_log_files

    out = str(tmp_path / "out")
    doc = {
        "inputs": [
            {
                "Type": "input_container_stdio",
                "IgnoringStderr": True,
                "Multiline": {"StartPattern": r"\[\w+\].*"},
            }
        ],
        "flushers": [{"Type": "flusher_sls"}],
    }
    spec, _ = spec_from_native(
        doc, sink_overrides={"sls": {"format": "parquet", "path": out}}
    )
    assert [p[0] for p in spec.processors] == [
        "parse_container_log",
        "merge_by_flag",
        "merge_multiline_rules",
    ]

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "c.log").write_text(
        "2024-01-01T10:00:00.1Z stdout P [A] hel\n"
        "2024-01-01T10:00:00.2Z stdout P lo wo\n"
        "2024-01-01T10:00:00.3Z stdout F rld\n"
        "2024-01-01T10:00:01.0Z stderr F dropped\n"
        "2024-01-01T10:00:02.0Z stdout F   continuation of A\n"
        "2024-01-01T10:00:03.0Z stdout F [B] second\n"
    )
    df = read_log_files(spark, str(logs), line_offset=True)
    run_pipeline(df, spec)
    got = sorted(r.content for r in spark.read.parquet(out).collect())
    # flag merge: "[A] hel"+"lo wo"+"rld" (no separator, first chunk's tag);
    # regex merge: the F-only continuation joins block A with '\n'
    assert got == ["[A] hello world\n  continuation of A", "[B] second"]


def test_native_merge_by_flag_keeps_first_fields(spark, tmp_path):
    """MergeEvents keeps logEvents[0] intact (ProcessorMergeMultilineLogNative
    .cpp MergeEvents): the merged row carries the FIRST chunk's _time_ and
    _source_, and the partial flag column is consumed."""
    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources.files import read_log_files

    out = str(tmp_path / "out")
    doc = {
        "inputs": [{"Type": "input_container_stdio"}],
        "flushers": [{"Type": "flusher_sls"}],
    }
    spec, _ = spec_from_native(
        doc, sink_overrides={"sls": {"format": "parquet", "path": out}}
    )
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "c.log").write_text(
        "2024-01-01T10:00:00.1Z stdout P a-\n"
        "2024-01-01T10:00:00.9Z stderr F b\n"
    )
    df = read_log_files(spark, str(logs), line_offset=True)
    run_pipeline(df, spec)
    (row,) = spark.read.parquet(out).collect()
    assert row.content == "a-b"
    assert row._time_ == "2024-01-01T10:00:00.1Z"  # first chunk's fields
    assert row._source_ == "stdout"
    assert "__is_partial__" not in row.asDict()


def test_native_merge_multiline_log_native_param_errors():
    """MergeType is mandatory and only flag|regex are valid
    (ProcessorMergeMultilineLogNative.cpp:50-75 PARAM_ERROR)."""
    from loongcollector_spark.config import _native_processor

    with pytest.raises(ValueError, match="MergeType"):
        _native_processor({"Type": "processor_merge_multiline_log_native"})
    with pytest.raises(ValueError, match="MergeType"):
        _native_processor(
            {"Type": "processor_merge_multiline_log_native",
             "MergeType": "json"}
        )
    name, params = _native_processor(
        {"Type": "processor_merge_multiline_log_native", "MergeType": "flag"}
    )
    assert name == "merge_by_flag"
    assert params["partial_flag_col"] == "__is_partial__"
    name, params = _native_processor(
        {
            "Type": "processor_merge_multiline_log_native",
            "MergeType": "regex",
            "StartPattern": r"^\[",
        }
    )
    assert name == "merge_multiline_rules"
    assert params["start_pattern"] == r"^\["


def test_native_docker_stdout_multiline(spark, tmp_path):
    """Mirrors test/e2e/test_cases/input_docker_stdout_multiline: docker
    json-file lines parsed (one trailing \\n stripped per complete line),
    then merged under BeginLineRegex — expected content 'today\\nhello'
    with _source_=stdout and the FIRST line's _time_ (the case.feature
    kv expectations; MergeEvents keeps logEvents[0])."""
    from loongcollector_spark.config import spec_from_native
    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources.files import read_log_files

    out = str(tmp_path / "out")
    doc = {
        "inputs": [
            {
                "Type": "input_container_stdio",
                "Format": "docker_json-file",
                "Multiline": {"StartPattern": "today.*"},
            }
        ],
        "flushers": [{"Type": "flusher_sls"}],
    }
    spec, _ = spec_from_native(
        doc, sink_overrides={"sls": {"format": "parquet", "path": out}}
    )
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "c.log").write_text(
        '{"log":"today\\n","stream":"stdout","time":"2024-01-01T10:00:00.1Z"}\n'
        '{"log":"hello\\n","stream":"stdout","time":"2024-01-01T10:00:00.2Z"}\n'
        '{"log":"today\\n","stream":"stdout","time":"2024-01-01T10:00:00.3Z"}\n'
        '{"log":"world\\n","stream":"stdout","time":"2024-01-01T10:00:00.4Z"}\n'
    )
    df = read_log_files(spark, str(logs), line_offset=True)
    run_pipeline(df, spec)
    got = sorted(
        (r.content, r._time_, r._source_)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("today\nhello", "2024-01-01T10:00:00.1Z", "stdout"),
        ("today\nworld", "2024-01-01T10:00:00.3Z", "stdout"),
    ]

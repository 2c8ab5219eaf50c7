"""Config loader: the reference's YAML/JSON pipeline shape → PipelineSpec."""

from __future__ import annotations

import json

from loongcollector_spark.config import load_spec, spec_from_dict

DOC = {
    "name": "nginx",
    "processors": [
        ["parse_regex", {"source_key": "line", "pattern": "(\\d+)", "keys": ["status"]}],
    ],
    "routes": [
        {"sink": "errors", "content_key": "status", "content_regex": "5\\d\\d"},
        {"sink": "tagged", "tag_key": "env", "tag_value": "prod", "discard_tag": True},
    ],
    "default_sink": "rest",
    "shard_keys": ["source"],
    "shard_count": 8,
    "tags": {"env": "prod"},
    "sinks": {"errors": {"format": "parquet", "path": "/tmp/x", "compression": "zstd"}},
}


def test_spec_from_dict():
    spec = spec_from_dict(DOC)
    assert spec.name == "nginx"
    assert spec.processors[0][0] == "parse_regex"
    assert spec.routes[0].sink == "errors"
    assert spec.routes[0].condition.content_regex == "5\\d\\d"
    assert spec.routes[1].condition.discard_tag is True
    assert spec.default_sink == "rest"
    assert spec.shard_count == 8
    assert spec.sinks["errors"].compression == "zstd"


def test_load_spec_json(tmp_path):
    p = tmp_path / "pipe.json"
    p.write_text(json.dumps(DOC))
    spec = load_spec(str(p))
    assert spec.name == "nginx" and len(spec.routes) == 2


def test_route_without_condition_always_matches():
    spec = spec_from_dict({"name": "x", "routes": [{"sink": "all"}]})
    assert spec.routes[0].condition is None


def test_example_nginx_pipeline_runs(spark, tmp_path):
    """The shipped nginx example (parity with the reference's
    example_config/data_pipelines/nginx-regex.yaml) loads and executes
    end-to-end on rendered sequences; web-family rows parse and route."""
    import json as _json

    from pyspark.sql import functions as F

    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sinks import SinkSpec
    from loongcollector_spark.sources import generate_sequences, render_lines

    doc = _json.loads(open("examples/nginx_pipeline.json").read())
    spec = spec_from_dict(doc)
    spec.sinks.clear()
    for s in ("errors", "access", "unparsed"):
        spec.sinks[s] = SinkSpec(name=s, path=str(tmp_path / s))

    seqs = render_lines(generate_sequences(spark, 2000, partitions=4))
    res = run_pipeline(seqs, spec)
    web = seqs.filter(F.col("source").startswith("web")).count()
    got_access = spark.read.parquet(str(tmp_path / "access"))
    got_err_rows = spark.read.parquet(str(tmp_path / "errors")).count()
    assert got_access.count() + got_err_rows == web
    assert "status_class" in got_access.columns
    assert got_access.filter(F.col("__pipeline__") == "nginx-regex").count() == got_access.count()
    assert res["unparsed"]["delivered"]


def test_native_kafka_flusher_mapping():
    from loongcollector_spark.config import spec_from_native

    spec, paths = spec_from_native(
        {
            "inputs": [{"Type": "input_file", "FilePaths": ["/x/*.log"]}],
            "flushers": [
                {"Type": "flusher_kafka_v2", "Brokers": ["b1:9092", "b2:9092"],
                 "Topic": "access-log"},
            ],
        }
    )
    s = spec.sinks["kafka_v2"]
    assert s.format == "kafka"
    assert s.options["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert s.options["topic"] == "access-log"
    assert paths == ["/x/*.log"]


def test_example_native_yaml_loads():
    from loongcollector_spark.config import load_native_config

    spec, paths = load_native_config("examples/native_squid_kafka.yaml")
    assert paths == ["/var/log/squid/access.log*"]
    assert [p[0] for p in spec.processors] == ["parse_grok", "rename"]
    assert spec.sinks["kafka_v2"].format == "kafka"
    assert spec.sinks["kafka_v2"].options["topic"] == "squid-access"
    assert spec.sinks["file"].encoding == "jsonline"


def test_native_processor_default_is_identity(spark):
    """processor_default (processor_default.go:36-41) translates to a no-op
    stage: the pipeline output equals its input."""
    from loongcollector_spark.config import _native_processor
    from loongcollector_spark.pipeline import PROCESSORS

    name, params = _native_processor({"Type": "processor_default"})
    assert name == "noop"
    df = spark.createDataFrame([(1, "x")], "id long, content string")
    out = PROCESSORS[name](df, **params)
    assert sorted(map(tuple, out.collect())) == [(1, "x")]


def test_native_enrich_processor_translations(spark):
    """Round-4 native-translation widening: every Go enrich/filter plugin
    with an existing operator translates and runs (param names per the Go
    config structs)."""
    from loongcollector_spark.config import _native_processor
    from loongcollector_spark.pipeline import PROCESSORS

    df = spark.createDataFrame(
        [(1, "hello", "x=1", "eyJrIjoidiJ9", "payload [42] end", "a", "b")],
        "id long, content string, raw string, b64 string, anchored string, f1 string, f2 string",
    )

    def run(ptype, params, frame=df):
        name, kw = _native_processor({"Type": ptype, **params})
        return PROCESSORS[name](frame, **kw)

    out = run("processor_appender", {"Key": "content", "Value": "!"})
    assert out.first().content == "hello!"

    out = run("processor_md5", {"SourceKey": "content", "MD5Key": "cmd5"})
    assert len(out.first().cmd5) == 32

    out = run("processor_base64_decoding", {"SourceKey": "b64", "NewKey": "dec"})
    assert out.first().dec == '{"k":"v"}'
    edge = spark.createDataFrame(
        [(0, "aGVsbG8="), (1, "xxxxx"), (2, "{"), (3, None), (4, "aGVs\r\nbG8=\n")],
        "id int, b64 string",
    )
    out = run("processor_base64_decoding", {"SourceKey": "b64", "NewKey": "dec"}, edge)
    assert [r.dec for r in out.orderBy("id").collect()] == ["hello", None, None, None, "hello"]

    out = run("processor_base64_encoding", {"SourceKey": "content", "NewKey": "enc"})
    assert out.first().enc

    out = run("processor_dict_map", {
        "SourceKey": "content", "MapDict": {"hello": "greeting"},
        "DestKey": "kind", "HandleMissing": True, "Missing": "other"})
    assert out.first().kind == "greeting"

    out = run("processor_string_replace", {
        "SourceKey": "content", "Method": "const", "Match": "ell",
        "ReplaceString": "ipp"})
    assert out.first().content == "hippo"

    out = run("processor_packjson", {
        "SourceKeys": ["f1", "f2"], "DestKey": "packed", "KeepSource": False})
    row = out.first()
    assert '"f1":"a"' in row.packed and "f1" not in out.columns

    out = run("processor_anchor", {
        "SourceKey": "anchored",
        "Anchors": [{"Start": "[", "Stop": "]", "FieldName": "num"}]})
    assert out.first().num == "42"

    out = run("processor_drop_last_key", {"Include": ["f1", "f2"], "DropKey": "raw"})
    assert out.first().raw is None  # both include keys present -> dropped

    out = run("processor_filter_key_regex", {"Match": "f\\d"})
    assert sorted(out.columns) == ["f1", "f2"]

    out = run("processor_rate_limit", {"Fields": ["f1"], "Limit": "1/s"})
    assert out.count() == 1

    out = run("processor_fields_with_condition", {
        "DropIfNotMatchCondition": False,
        "Switch": [{
            "Case": {"RelationOperator": "contains",
                     "FieldConditions": {"content": "hell"}},
            "Actions": [{"Type": "processor_add_fields",
                         "Fields": {"sev": "hot"}}],
        }]})
    assert out.first().sev == "hot"

    out = run("processor_encrypt", {
        "SourceKeys": ["f1"],
        "EncryptionParameters": {"Key": "30313233343536373839616263646566"}})
    ct = out.first().f1
    # reference layout (processor_encrypt.go): hex ciphertext, PKCS7 block
    # size, explicit zero-IV NOT prepended -> one 16-byte block for "a"
    assert ct != "a" and len(ct) == 32 and ct == ct.lower()
    ct2 = run("processor_encrypt", {
        "SourceKeys": ["f1"],
        "EncryptionParameters": {"Key": "30313233343536373839616263646566"}}).first().f1
    assert ct2 == ct  # fixed IV -> deterministic, like the reference default


def test_encrypt_key_file_must_be_json_object(tmp_path):
    """processor_encrypt KeyFilePath is json.Unmarshal'd into
    EncryptionParameters (processor_encrypt.go:160-167) — a JSON array or
    bare string must raise a config error, not an AttributeError."""
    import pytest as _pytest

    from loongcollector_spark.config import _native_processor

    hexkey = "30313233343536373839616263646566"
    f = tmp_path / "key.json"
    for bad in (f'["{hexkey}"]', f'"{hexkey}"', "42"):
        f.write_text(bad)
        with _pytest.raises(ValueError, match="JSON object"):
            _native_processor({
                "Type": "processor_encrypt", "SourceKeys": ["f1"],
                "EncryptionParameters": {"KeyFilePath": str(f)}})
    f.write_text(f'{{"Key": "{hexkey}", "IV": "{"00" * 16}"}}')
    name, kw = _native_processor({
        "Type": "processor_encrypt", "SourceKeys": ["f1"],
        "EncryptionParameters": {"KeyFilePath": str(f)}})
    assert name == "encrypt" and kw["key"] == hexkey and kw["iv_hex"] == "00" * 16

"""End-to-end pipeline: generate → multi-format parse → enrich → route →
shard → per-sink checkpointed writes + metrics rollup.

This is the M0 slice from SURVEY.md §7.2 — one Spark job = one collector
pipeline, verified by per-sink aggregate-count equality against independent
recomputation plus per-row token-array equality on a sample (BASELINE.json
correctness contract)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.route import Condition, Route
from loongcollector_spark.pipeline import PipelineSpec, run_pipeline
from loongcollector_spark.sinks import SinkSpec
from loongcollector_spark.sources import expected_tokens, generate_sequences, render_lines

NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
NGINX_KEYS = [
    "remote_addr", "time_local", "method", "url", "protocol",
    "status", "body_bytes_sent", "http_referer", "http_user_agent", "http_x_forwarded_for",
]

TIER_MAP = {
    "web-01": "edge", "web-02": "edge", "web-03": "edge", "web-04": "edge",
    "app-01": "svc", "app-02": "svc",
    "sys-01": "infra",
}


def flagship_spec() -> PipelineSpec:
    return PipelineSpec(
        name="flagship",
        processors=[
            ("parse_regex", {
                "source_key": "line", "pattern": NGINX, "keys": NGINX_KEYS,
                "full_match": False,
                "options": {"keep_source_on_fail": True, "keep_source_on_success": True},
            }),
            ("parse_json", {
                "source_key": "line", "keys": ["method", "path", "status", "bytes", "level"],
                "options": {"keep_source_on_fail": True, "keep_source_on_success": True},
            }),
            ("parse_delimiter", {
                "source_key": "line", "separator": "\t",
                "keys": ["uid", "time", "d_method", "value", "d_level"],
                "options": {"keep_source_on_fail": True, "keep_source_on_success": True},
            }),
            ("dict_map", {"source_key": "source", "mapping": TIER_MAP,
                          "dest_key": "tier", "missing": "other"}),
        ],
        routes=[
            Route("errors", Condition(content_key="status", content_regex="5\\d\\d")),
            Route("web", Condition(content_key="source", content_regex="web-.*")),
            Route("app", Condition(content_key="source", content_regex="app-.*")),
        ],
        tags={"__hostname__": "test-host", "pipeline": "flagship"},
        shard_keys=("source", "doc_id"),
        shard_count=8,
    )


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sinks"))
    df = render_lines(generate_sequences(spark, 3000, partitions=8))
    spec = flagship_spec()
    spec.sinks = {
        s: SinkSpec(name=s, path=os.path.join(base, s))
        for s in ("errors", "web", "app", "default")
    }
    res = run_pipeline(df, spec, checkpoint=True, run_id="t1")
    return df, res, base


def test_sink_counts_match_independent_oracle(spark, pipeline_result):
    df, res, base = pipeline_result
    # independent recomputation of routing with plain expressions
    status = F.when(
        F.col("source").startswith("web"),
        F.regexp_extract("line", r'" (\d+) \d+ "', 1),
    ).otherwise(F.get_json_object("line", "$.status"))
    truth = (
        df.withColumn("st", status)
        .withColumn(
            "sink",
            F.when(F.col("st").rlike("^5\\d\\d$"), "errors")
            .when(F.col("source").startswith("web"), "web")
            .when(F.col("source").startswith("app"), "app")
            .otherwise("default"),
        )
        .groupBy("sink").count()
    )
    expected = {r.sink: r["count"] for r in truth.collect()}
    for sink in ("errors", "web", "app", "default"):
        assert res[sink]["rows"] == expected.get(sink, 0), sink
    assert sum(expected.values()) == 3000


def test_rollup_matches_sink_rows(pipeline_result):
    _, res, _ = pipeline_result
    rollup = res["metrics_rollup"]
    by_sink: dict[str, int] = {}
    for r in rollup:
        by_sink[r["__sink__"]] = by_sink.get(r["__sink__"], 0) + r["rows"]
    for sink in ("errors", "web", "app", "default"):
        assert by_sink.get(sink, 0) == res[sink]["rows"]
    assert all(r["tokens"] > 0 and r["bytes"] == 4 * r["tokens"] for r in rollup)


def test_stage_counters(pipeline_result):
    _, res, _ = pipeline_result
    counters = {c["label.plugin"]: c for c in res["stage_counters"]}
    assert counters["flagship.in"]["value.in_events_total"] == 3000
    assert counters["flagship.routed"]["value.in_events_total"] == 3000


def test_token_array_equality_per_sink(spark, pipeline_result):
    """Per-row token-array equality vs the recomputation oracle on written
    sink data (the BASELINE.json invariant)."""
    _, res, base = pipeline_result
    out = spark.read.parquet(os.path.join(base, "web", "data"))
    sample = out.select("doc_id", "tokens").limit(20).collect()
    assert sample
    for r in sample:
        assert list(expected_tokens(r.doc_id)) == list(r.tokens)


def test_resume_skips_committed(spark, pipeline_result):
    df, first, base = pipeline_result
    spec = flagship_spec()
    spec.sinks = {
        s: SinkSpec(name=s, path=os.path.join(base, s))
        for s in ("errors", "web", "app", "default")
    }
    res2 = run_pipeline(df, spec, checkpoint=True, run_id="t2")
    for sink in ("errors", "web", "app", "default"):
        assert res2[sink]["written_buckets"] == 0
        assert res2[sink]["skipped_buckets"] == first[sink]["written_buckets"]
    # the stage counters are observed even though no bucket was rewritten
    counters = {c["label.plugin"]: c for c in res2["stage_counters"]}
    assert counters["flagship.in"]["value.in_events_total"] == 3000
    # data unchanged after no-op resume
    total = sum(
        spark.read.parquet(os.path.join(base, s, "data")).count()
        for s in ("errors", "web", "app", "default")
    )
    assert total == 3000


def test_lineage_verify_sink_detects_tamper(spark, tmp_path):
    """verify_sink: clean audit passes; deleting one bucket's data is
    detected as a manifest/data mismatch (the RangeCheckpoint audit trail)."""
    import shutil

    from pyspark.sql import functions as F

    from loongcollector_spark import lineage
    from loongcollector_spark.operators.aggregate import shard_hash
    from loongcollector_spark.sources import generate_sequences

    base = str(tmp_path / "sink")
    df = shard_hash(generate_sequences(spark, 1200, partitions=4),
                    ["source", "doc_id"], 8, repartition=False)
    lineage.checkpointed_write(df, base, run_id="audit")
    rep = lineage.verify_sink(spark, base)
    assert rep["ok"] and rep["rows"] == 1200 and rep["buckets"] == 8

    victim = sorted(
        p for p in (tmp_path / "sink" / "data").iterdir() if p.name.startswith("__bucket__=")
    )[0]
    shutil.rmtree(victim)
    rep2 = lineage.verify_sink(spark, base)
    assert not rep2["ok"]
    assert any(m["problem"] == "manifest without data" for m in rep2["mismatches"])


def test_sink_converter_encodings(spark, tmp_path):
    import json

    from loongcollector_spark.sinks import SinkSpec, serialize_rows, write_sink

    df = spark.createDataFrame(
        [("hello", "web", 7, 100)], "msg string, svc string, n int, ts long"
    )
    # custom_single: {"time": t, "contents": {...}, "tags": {...}}
    s1 = serialize_rows(df, SinkSpec("s", encoding="custom_single",
                                     tag_columns=("svc",), time_column="ts")).first()[0]
    obj = json.loads(s1)
    assert obj == {"time": 100, "contents": {"msg": "hello", "n": "7"}, "tags": {"svc": "web"}}
    # flatten/jsonline: one flat object + time
    s2 = serialize_rows(df, SinkSpec("s", encoding="jsonline",
                                     tag_columns=("svc",), time_column="ts")).first()[0]
    assert json.loads(s2) == {"msg": "hello", "n": 7, "svc": "web", "time": 100}
    # a content column literally named "time" must not duplicate the
    # protocol time key (the reference flattens into one map; protocol wins)
    tdf = spark.createDataFrame([("x", 5, 100)], "msg string, time int, ts long")
    s2b = serialize_rows(tdf, SinkSpec("s", encoding="jsonline",
                                       time_column="ts")).first()[0]
    assert s2b.count('"time"') == 1
    assert json.loads(s2b) == {"msg": "x", "time": 100}
    # raw
    s3 = serialize_rows(df, SinkSpec("s", encoding="raw", raw_column="msg")).first()[0]
    assert s3 == "hello"
    # influxdb line protocol from metric-shaped rows
    mdf = spark.createDataFrame(
        [("req_total", "host#$#h1|type#$#click", 5.0, 1000)],
        "__name__ string, __labels__ string, __value__ double, __time_nano__ long",
    )
    s4 = serialize_rows(mdf, SinkSpec("s", encoding="influxdb")).first()[0]
    assert s4 == "req_total,host=h1,type=click value=5.0 1000"
    # end-to-end: encoded sink writes newline-separated text
    out = str(tmp_path / "enc_sink")
    write_sink(df, SinkSpec("s", format="text", path=out, encoding="jsonline",
                            tag_columns=("svc",), time_column="ts"))
    import glob

    lines = []
    for f in glob.glob(out + "/part-*"):
        lines += open(f).read().splitlines()
    assert [json.loads(l) for l in lines] == [{"msg": "hello", "n": 7, "svc": "web", "time": 100}]


def test_lineage_resume_on_file_uri(spark, tmp_path):
    """Checkpoint-resume against a file: URI exercises the Hadoop-FS
    manifest path (the cluster form: manifests live on the SINK's
    filesystem, not the driver's local disk)."""
    from loongcollector_spark import lineage
    from loongcollector_spark.operators.aggregate import shard_hash
    from loongcollector_spark.sources import generate_sequences

    base = "file://" + str(tmp_path / "uri_sink")
    df = shard_hash(generate_sequences(spark, 800, partitions=4),
                    ["source", "doc_id"], 8, repartition=False)
    first = lineage.checkpointed_write(df, base, run_id="u1")
    assert first["written_buckets"] == 8 and first["rows"] == 800
    # manifests are really on the target fs
    assert len(lineage.committed_buckets(base, spark)) == 8
    # resume: everything committed -> no-op
    again = lineage.checkpointed_write(df, base, run_id="u2")
    assert again["written_buckets"] == 0 and again["skipped_buckets"] == 8
    # drop one manifest -> exactly that bucket rewritten
    import os as _os

    victims = sorted(
        f for f in _os.listdir(tmp_path / "uri_sink" / "_lineage") if f.endswith(".json")
    )
    _os.remove(tmp_path / "uri_sink" / "_lineage" / victims[3])
    third = lineage.checkpointed_write(df, base, run_id="u3")
    assert third["written_buckets"] == 1 and third["skipped_buckets"] == 7
    rep = lineage.verify_sink(spark, base)
    assert rep["ok"] and rep["rows"] == 800


def test_read_log_files_tags_and_multiline(spark, tmp_path):
    """input_file batch analogue: path tag, topic regex, per-file offsets
    feeding the multiline merger across files."""
    from loongcollector_spark.operators.multiline import merge_multiline_rules
    from loongcollector_spark.sources.files import PATH_TAG, read_log_files

    d = tmp_path / "logs" / "app-a"
    d.mkdir(parents=True)
    (d / "one.log").write_text("ERROR boom\n  at A\n  at B\nERROR again\n")
    d2 = tmp_path / "logs" / "app-b"
    d2.mkdir()
    (d2 / "two.log").write_text("ERROR other\n  at C\n")

    df = read_log_files(
        spark, str(tmp_path / "logs"), topic_format=r"/(app-[^/]+)/", line_offset=True
    )
    assert set(df.columns) == {"content", PATH_TAG, "__topic__", "__offset__"}
    assert {r["__topic__"] for r in df.collect()} == {"app-a", "app-b"}

    merged = merge_multiline_rules(
        df, "content", file_col=PATH_TAG, offset_col="__offset__",
        start_pattern=r"^ERROR",
    )
    blocks = sorted(r.content for r in merged.collect())
    assert blocks == ["ERROR again", "ERROR boom\n  at A\n  at B", "ERROR other\n  at C"]


def test_sink_otlp_log_encoding(spark):
    import json

    from loongcollector_spark.sinks import SinkSpec, serialize_rows

    df = spark.createDataFrame(
        [("payload text", "web", "INFO", 100)],
        "msg string, svc string, level string, ts long",
    )
    s = serialize_rows(df, SinkSpec("s", encoding="otlp_log", raw_column="msg",
                                    tag_columns=("svc",), time_column="ts")).first()[0]
    obj = json.loads(s)
    assert obj["timeUnixNano"] == "100000000000"
    assert obj["body"] == {"stringValue": "payload text"}
    assert {a["key"]: a["value"]["stringValue"] for a in obj["attributes"]} == {
        "level": "INFO", "svc": "web"
    }


def test_kafka_records_shape_and_gating(spark):
    """flusher_kafka_v2 twin: kafka_records emits (value, topic, key) as one
    pure projection — encoded value, dynamic __topic__, __shardhash__ key —
    and write_sink(format='kafka') fails with the --packages remedy when the
    connector jar is absent (this sandbox)."""
    import json

    import pytest as _pytest

    from loongcollector_spark.operators.route import dynamic_topic
    from loongcollector_spark.operators.aggregate import shard_hash
    from loongcollector_spark.sinks import SinkSpec, kafka_records, write_sink

    df = spark.createDataFrame(
        [("hello", "web", 100), ("bye", "app", 200)], "msg string, svc string, ts long"
    )
    routed = shard_hash(dynamic_topic(df, "logs_%{svc}"), ["svc"], 16, repartition=False)
    recs = kafka_records(
        routed, SinkSpec("k", format="kafka", time_column="ts")
    )
    assert recs.columns == ["value", "topic", "key"]
    rows = {r.topic: r for r in recs.collect()}
    assert set(rows) == {"logs_web", "logs_app"}
    v = json.loads(rows["logs_web"].value)  # encoding defaulted to jsonline
    assert v == {"msg": "hello", "svc": "web", "time": 100}
    assert rows["logs_web"].key is not None
    # no Exchange: pure projection off the scan
    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # gated delivery: clear remedy, not a raw classpath error
    with _pytest.raises(RuntimeError, match="--packages"):
        write_sink(routed, SinkSpec("k", format="kafka",
                                    options={"kafka.bootstrap.servers": "b:9092"}))

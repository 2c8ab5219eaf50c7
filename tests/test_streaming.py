"""Streaming pipeline tests: file-source micro-batches through the same
processor chain + router, checkpoint-resume, and the stateful token bucket.

Mirrors the reference's e2e pattern (test/e2e/test_cases/: boot env, apply a
pipeline config, generate input, assert per-sink counts/fields)."""

from __future__ import annotations

import pandas as pd
import pytest

from loongcollector_spark.operators.route import Condition, Route
from loongcollector_spark.pipeline import PipelineSpec
from loongcollector_spark.sources import generate_sequences, render_lines
from loongcollector_spark.streaming import run_streaming_pipeline, streaming_rate_limit
from loongcollector_spark.streaming.pipeline import drain_available_now

SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string, line string"


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_in"))
    rendered = render_lines(generate_sequences(spark, 2000, partitions=4))
    rendered.write.mode("overwrite").parquet(base)
    return base


def _spec() -> PipelineSpec:
    return PipelineSpec(
        name="stream",
        processors=[
            ("parse_json", {"source_key": "line", "keys": ["method", "status", "level"],
                            "options": {"keep_source_on_fail": True,
                                        "keep_source_on_success": True}}),
            ("dict_map", {"source_key": "source",
                          "mapping": {"web-01": "edge", "app-01": "svc"},
                          "dest_key": "tier", "missing": "other"}),
        ],
        routes=[
            Route("web", Condition(content_key="source", content_regex="web-.*")),
            Route("app", Condition(content_key="source", content_regex="app-.*")),
        ],
        shard_keys=("source", "doc_id"),
        shard_count=8,
    )


def test_streaming_matches_batch(spark, stream_input, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    res = run_streaming_pipeline(
        spark, stream_input, SCHEMA, _spec(), out, ckpt, available_now=True
    )
    assert not res["active"]
    assert set(res["sinks"]) == {"web", "app", "default"}

    batch = spark.read.parquet(stream_input)
    for sink, fam in [("web", "web"), ("app", "app")]:
        got = spark.read.parquet(f"{out}/{sink}")
        expect = batch.filter(batch.source.startswith(fam)).count()
        assert got.count() == expect
        assert "tier" in got.columns and "__bucket__" in got.columns
    # default sink gets the sys-* family
    got_default = spark.read.parquet(f"{out}/default").count()
    assert got_default == batch.filter(batch.source.startswith("sys")).count()


def test_streaming_resume_no_duplicates(spark, stream_input, tmp_path):
    """Restarting with the same checkpoint reprocesses nothing (offset commit
    semantics of the reference's file checkpoints)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_streaming_pipeline(spark, stream_input, SCHEMA, _spec(), out, ckpt)
    first = spark.read.parquet(f"{out}/web").count()
    run_streaming_pipeline(spark, stream_input, SCHEMA, _spec(), out, ckpt)
    assert spark.read.parquet(f"{out}/web").count() == first


def test_streaming_replay_idempotent(spark, stream_input, tmp_path):
    """Replaying micro-batches (fresh checkpoint, same output) must not
    duplicate rows: per-batch-id overwrite directories make redelivery
    idempotent — the RangeCheckpoint replay semantics."""
    out = str(tmp_path / "out")
    run_streaming_pipeline(
        spark, stream_input, SCHEMA, _spec(), out, str(tmp_path / "ck1")
    )
    first = spark.read.parquet(f"{out}/web").count()
    # fresh checkpoint = the engine re-delivers everything with the same
    # starting batch ids; a plain append sink would double the rows
    run_streaming_pipeline(
        spark, stream_input, SCHEMA, _spec(), out, str(tmp_path / "ck2")
    )
    assert spark.read.parquet(f"{out}/web").count() == first


def test_streaming_rate_limit_token_bucket(spark, tmp_path):
    """Per-key bucket: burst of 3 at t=0 passes 3; after a 2s gap at rate
    3/s the bucket refills fully, passing 3 more."""
    rows = [
        {"k": key, "ts": float(t), "n": i}
        for key in ("a", "b")
        for i, t in enumerate([0.0, 0.0, 0.0, 0.1, 0.2, 5.0, 5.0, 5.0, 5.1])
    ]
    src = tmp_path / "rl_in"
    src.mkdir()
    pd.DataFrame(rows).to_parquet(str(src / "p.parquet"))
    src = str(src)
    stream = (
        spark.readStream.format("parquet")
        .schema("k string, ts double, n long")
        .load(src)
    )
    limited = streaming_rate_limit(stream, ["k"], "3/s", ts_col="ts")
    out = str(tmp_path / "rl_out")
    q = (
        limited.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 120)
    got = spark.read.parquet(out).toPandas()
    # per key: 3 pass at t≈0 (burst), bucket empty until refill; at t=5 the
    # bucket is full again (capped at burst=3) → 3 more pass = 6 per key
    assert sorted(got.groupby("k").size().to_dict().items()) == [("a", 6), ("b", 6)]


def test_streaming_multiline_cross_batch(spark, tmp_path):
    """A block whose head is in micro-batch 1 and tail in micro-batch 2 is
    merged via GroupState; the final pending block flushes on timeout... here
    we assert the cross-batch merge by feeding two files-as-batches
    (maxFilesPerTrigger=1) and checking only CLOSED blocks are emitted."""
    import pandas as pd

    from loongcollector_spark.streaming.multiline import streaming_merge_rules

    src = tmp_path / "ml_in"
    src.mkdir()
    # batch 1: start A (offset 0) + continuation; batch 2: continuation of A,
    # then start B closing A
    pd.DataFrame(
        {"file": ["f"] * 2, "offset": [0, 1], "line": ["START a", "cont1"]}
    ).to_parquet(str(src / "b1.parquet"))
    pd.DataFrame(
        {"file": ["f"] * 3, "offset": [2, 3, 4], "line": ["cont2", "START b", "tail"]}
    ).to_parquet(str(src / "b2.parquet"))

    stream = (
        spark.readStream.format("parquet")
        .schema("file string, offset long, line string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    # short flush timeout so the trailing pending block's read-timeout fires
    # inside the drain (drain_available_now stops at quiescence)
    merged = streaming_merge_rules(
        stream, "line", "file", "offset", r"^START", flush_timeout_ms=200
    )
    out = str(tmp_path / "ml_out")
    q = (
        merged.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ml_ck"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 120)
    got = {r["offset"]: r["line"] for r in spark.read.parquet(out).collect()}
    # block A (head offset 0) spans both micro-batches and closes when START b
    # arrives; block B is flushed when the availableNow drain ends the query —
    # the reference's flush-on-stop (FlushOutStore, plugin_runner_v1.go:395-405)
    assert got[0] == "START a\ncont1\ncont2"
    assert got[3] == "START b\ntail"
    assert len(got) == 2


def test_streaming_windowed_rollup_watermark(spark, tmp_path):
    """Watermarked tumbling-window rollup: the watermark persists in the
    checkpoint across restarts, and a row older than it is DROPPED (bounded
    state); fresh rows keep updating their window."""
    from datetime import datetime, timedelta

    from loongcollector_spark.streaming.rollup import streaming_windowed_rollup

    src = tmp_path / "roll_in"
    src.mkdir()
    ckpt = str(tmp_path / "roll_ckpt")
    schema = "ts timestamp, source string, n_tok int"
    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    def run():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        rolled = streaming_windowed_rollup(
            stream, "ts", "source", tokens_col="n_tok",
            window_duration="1 minute", watermark="2 minutes",
        )
        updates = []

        def sink(batch_df, batch_id):
            updates.extend(batch_df.collect())

        q = (
            rolled.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, 120)
        return {
            (str(r.window_start), r.source): (r.rows, r.tokens) for r in updates
        }

    # run 1: two windows; final watermark = 10:20 - 2min = 10:18
    write_batch("b1", [
        (t0, "web", 5), (t0 + timedelta(seconds=30), "web", 5),
        (t0 + timedelta(minutes=20), "web", 7),
    ])
    got1 = run()
    assert got1[("2024-01-01 10:00:00", "web")] == (2, 10)
    assert got1[("2024-01-01 10:20:00", "web")] == (1, 7)

    # run 2 (same checkpoint): a 10:00:40 row is older than the persisted
    # watermark -> dropped, its window never re-emitted; the fresh row lands
    write_batch("b2", [
        (t0 + timedelta(seconds=40), "web", 100),
        (t0 + timedelta(minutes=21), "web", 7),
    ])
    got2 = run()
    assert ("2024-01-01 10:00:00", "web") not in got2  # late row dropped
    assert got2[("2024-01-01 10:21:00", "web")] == (1, 7)


def test_spl_explicit_keys_streaming_safe(spark, tmp_path):
    """compile_spl with explicit 'as' keys builds on a STREAMING DataFrame —
    no plan-time discovery job (discovery would need collect(), illegal on a
    stream). The 100 TB/streaming path is the explicit-key form."""
    import json

    from loongcollector_spark.operators.spl import SplError, compile_spl

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(
            json.dumps({"content": json.dumps({"lvl": lvl, "n": i})})
            for i, lvl in enumerate(["INFO", "ERROR", "INFO"])
        )
    )
    stream = (
        spark.readStream.schema("content string").json(str(src))
    )
    assert stream.isStreaming
    out = compile_spl(
        stream,
        "* | parse-json content as lvl, n | where lvl = 'ERROR' | project n",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("spl_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 60)
    rows = spark.sql("select * from spl_stream").collect()
    assert [r.n for r in rows] == ["1"]
    # the discovery form must fail loudly on a stream, not silently scan
    import pyspark.errors

    with pytest.raises(Exception):
        compile_spl(stream, "* | parse-json content")


def test_syslog_socket_input_twin(spark, tmp_path):
    """Network-input twin (plugins/input/syslog): lines from a TCP socket
    stream through the RFC3164 decode into a memory sink — priority split
    into facility/severity, program/pid extracted, bad lines kept raw."""
    import socket
    import threading
    import time as _time

    from loongcollector_spark.sources.network import (
        parse_syslog_rfc3164,
        read_socket_lines,
    )

    lines = [
        "<34>Oct 11 22:14:15 host1 su[123]: 'su root' failed on /dev/pts/8",
        "<13>Feb  5 17:32:18 web02 nginx: GET /index.html 200",
        "not a syslog line at all",
    ]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            _time.sleep(8)  # keep the connection up across the micro-batch

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = read_socket_lines(spark, "127.0.0.1", port)
    decoded = parse_syslog_rfc3164(stream)
    q = (
        decoded.writeStream.format("memory")
        .queryName("syslog_in")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 45
        while _time.time() < deadline:
            if spark.sql("select * from syslog_in").count() >= 3:
                break
            _time.sleep(1)
        rows = {r.content: r for r in spark.sql("select * from syslog_in").collect()}
    finally:
        q.stop()
        srv.close()
    assert len(rows) == 3
    su = rows["'su root' failed on /dev/pts/8"]
    assert (su.priority, su.facility, su.severity) == (34, 4, 2)
    assert (su.hostname, su.program, su.pid) == ("host1", "su", "123")
    ngx = rows["GET /index.html 200"]
    assert (ngx.priority, ngx.facility, ngx.severity) == (13, 1, 5)
    assert ngx.pid is None
    bad = rows["not a syslog line at all"]
    assert (bad.priority, bad.facility, bad.severity) == (-1, -1, -1)
    assert bad.hostname is None


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Watermarked streaming dedup: a same-content re-delivery inside the
    delay is dropped, distinct content passes; state is keyed on the content
    hash so different doc_ids with equal text still collapse."""
    import json

    from loongcollector_spark.streaming.dedup import streaming_exact_dedup

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"doc_id": "a", "text": "same words", "ts": "2024-01-01T00:00:00"},
        {"doc_id": "b", "text": "same words", "ts": "2024-01-01T00:01:00"},
        {"doc_id": "c", "text": "other words", "ts": "2024-01-01T00:02:00"},
    ]
    (src / "batch.json").write_text("\n".join(json.dumps(r) for r in rows))
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema("doc_id string, text string, ts string")
        .json(str(src))
        .withColumn("event_time", F.to_timestamp("ts"))
    )
    out = streaming_exact_dedup(stream, "text", "event_time", delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 60)
    got = {r.doc_id for r in spark.sql("select * from dedup_stream").collect()}
    assert got == {"a", "c"}  # b = duplicate content within the watermark


def test_syslog_tagless_line_still_parses(spark):
    """Tag-less RFC3164 lines (no 'program: ' part) keep pri/timestamp/
    hostname — matching the reference's rfc3164 parser tolerance (batch
    form of the decode; the column logic is identical in streaming)."""
    from loongcollector_spark.sources.network import parse_syslog_rfc3164

    df = spark.createDataFrame(
        [("<13>Feb  5 17:32:18 web02 starting up now",)], "content string"
    )
    r = parse_syslog_rfc3164(df).first()
    assert (r.priority, r.facility, r.severity) == (13, 1, 5)
    assert r.hostname == "web02"
    assert r.content == "starting up now"
    assert r.pid is None


def test_streaming_kv_expand_keys_frozen_schema(spark, tmp_path):
    """expand_keys discovery freezes on the FIRST micro-batch: a later batch
    carrying a brand-new key still writes the same projected column set
    (per-batch re-discovery would give each batch=<id> directory its own
    schema; ADVICE r3)."""
    from loongcollector_spark.streaming import run_streaming_pipeline
    from loongcollector_spark.sinks import SinkSpec

    src = tmp_path / "kv_in"
    src.mkdir()
    pd.DataFrame({"line": ["a=1;b=2", "a=3;b=4"], "source": ["s1", "s1"]}
                 ).to_parquet(str(src / "b1.parquet"))
    pd.DataFrame({"line": ["a=5;z=9"], "source": ["s2"]}
                 ).to_parquet(str(src / "b2.parquet"))

    out = str(tmp_path / "kv_out")
    spec = PipelineSpec(
        name="kvfreeze",
        processors=[
            ("parse_key_value", {"source_key": "line", "pair_delimiter": ";",
                                 "kv_separator": "=", "expand_keys": True}),
            ("drop", {"keys": ["kv"]}),  # parquet sink: drop the map col
        ],
        routes=[Route("all", None)],
        route_mode="fanout",
        shard_keys=(),
        sinks={"all": SinkSpec(name="all", path=out)},
    )
    run_streaming_pipeline(
        spark, str(src), "line string, source string", spec, str(tmp_path / "base"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    # the CALLER's spec stays clean (freeze state lives in the run's private
    # copy — ADVICE r4: a spec reused across datasets must not carry stale
    # frozen keys); the freeze shows up as identical per-batch schemas below
    assert "keys" not in spec.processors[0][1]
    import glob
    import pyarrow.parquet as pq

    dirs = sorted(glob.glob(out + "/batch=*"))
    assert len(dirs) >= 2
    schemas = {tuple(sorted(pq.read_schema(f).names))
               for d in dirs for f in glob.glob(d + "/*.parquet")}
    assert schemas == {("a", "b", "line", "source")}  # novel key z not projected


def test_token_bucket_batch_replay_matches_streaming(spark, tmp_path):
    """The oracle-paired batch twin (token_bucket_admit) and the stateful
    streaming operator admit the SAME rows when the stream is split into
    multiple micro-batches: bucket state carries across batches, so the
    admit set is a property of the event history, not the batching."""
    from loongcollector_spark.streaming.rate_limit import token_bucket_admit

    rows = [
        {"k": key, "ts": float(t), "n": i}
        for key in ("a", "b")
        for i, t in enumerate(
            [0.0, 0.2, 0.4, 0.6, 2.0, 2.1, 2.2, 7.0, 7.1, 7.2, 7.3, 30.0]
        )
    ]
    src = tmp_path / "rp_in"
    src.mkdir()
    # three files -> three micro-batches (maxFilesPerTrigger=1), event time
    # strictly increasing across files so state continuity is what's tested
    import pandas as _pd

    for fi in range(3):
        _pd.DataFrame(rows[len(rows) * fi // 3 : len(rows) * (fi + 1) // 3]).to_parquet(
            str(src / f"p{fi}.parquet")
        )
    stream = (
        spark.readStream.format("parquet")
        .schema("k string, ts double, n long")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    limited = streaming_rate_limit(stream, ["k"], "2/s", ts_col="ts")
    out = str(tmp_path / "rp_out")
    q = (
        limited.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "rp_ckpt"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 120)
    streamed = {(r.k, r.n) for r in spark.read.parquet(out).collect()}

    batch_df = spark.createDataFrame(
        [(r["k"], r["ts"], r["n"]) for r in rows], "k string, ts double, n long"
    )
    replayed = {
        (r.k, r.n)
        for r in token_bucket_admit(batch_df, ["k"], "2/s", ts_col="ts").collect()
    }
    assert streamed == replayed
    assert 0 < len(replayed) < len(rows)  # the limit actually dropped rows


def test_time_bounded_dedup_admit_algebra(spark):
    """time_bounded_dedup_admit: first arrival admits; duplicates within
    the delay of the LAST ADMITTED row drop; a re-delivery later than the
    delay re-admits and restarts the clock."""
    from loongcollector_spark.streaming.dedup import time_bounded_dedup_admit

    rows = [
        ("x", 0.0, 0),    # admit (first)
        ("x", 5.0, 1),    # drop (5 <= 10 after 0)
        ("x", 9.0, 2),    # drop (9 <= 10 after 0)
        ("x", 11.0, 3),   # admit (11 > 10 after 0)
        ("x", 20.0, 4),   # drop (9 after 11)
        ("x", 22.0, 5),   # admit (11 after 11)
        ("y", 1.0, 6),    # admit (first of its key)
    ]
    df = spark.createDataFrame(rows, "k string, ts double, n long")
    got = {
        r.n
        for r in time_bounded_dedup_admit(df, ["k"], ts_col="ts", delay_sec=10.0).collect()
    }
    assert got == {0, 3, 5, 6}


def test_streaming_session_rollup_gap_and_merge(spark, tmp_path):
    """session_window sessionization: rows within the gap merge into one
    session — INCLUDING across restarts via the checkpointed state store —
    and a quiet period splits sessions. Append mode: a session emits once
    the watermark passes its end (finalized), so open sessions survive in
    state between runs."""
    from datetime import datetime, timedelta

    from loongcollector_spark.streaming.rollup import streaming_session_rollup

    src = tmp_path / "sess_in"
    src.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")
    schema = "ts timestamp, user string"
    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        sess = streaming_session_rollup(
            stream, ["user"], "ts", gap="2 minutes", watermark="5 minutes"
        )
        updates = []

        def sink(batch_df, batch_id):
            updates.extend(batch_df.collect())

        q = (
            sess.writeStream.outputMode("append")  # session windows emit on
            .foreachBatch(sink)                    # finalization only
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, 120)
        return {
            (r.user, str(r.session_start)): (str(r.session_end), r.events)
            for r in updates
        }

    write_batch("b1", [
        (t0, "u1"), (t0 + timedelta(minutes=1), "u1"),          # one session
        (t0 + timedelta(minutes=10), "u1"),                      # gap -> new
        (t0, "u2"),
    ])
    got1 = run()
    # watermark = 10:10 - 5min = 10:05 -> only sessions ending before it
    # finalize; session end = last event + gap
    assert got1[("u1", "2024-01-01 10:00:00")] == ("2024-01-01 10:03:00", 2)
    assert got1[("u2", "2024-01-01 10:00:00")] == ("2024-01-01 10:02:00", 1)
    assert ("u1", "2024-01-01 10:10:00") not in got1  # still open in state

    # run 2, same checkpoint: 10:11 overlaps u1's OPEN 10:10 session -> the
    # state store merges them; nothing finalizes yet (watermark 10:06)
    write_batch("b2", [(t0 + timedelta(minutes=11), "u1")])
    got2 = run()
    assert got2 == {}

    # run 3: a late-morning row pushes the watermark past the merged
    # session's end -> it emits ONCE, merged across both earlier runs
    write_batch("b3", [(t0 + timedelta(minutes=30), "u1")])
    got3 = run()
    assert got3[("u1", "2024-01-01 10:10:00")] == ("2024-01-01 10:13:00", 2)


def test_streaming_log_rotation_exactly_once(spark, tmp_path):
    """Mirrors test/e2e/test_cases/reader_log_rotate: logrotate renames the
    live file to app.log.<N> and a fresh live app.log appears; every rotated
    generation must be collected exactly once — no loss, no duplication —
    across collector restarts. The reference survives the rename by tracking
    dev+inode (core/file_server's rotation queue); the Spark graft's
    contract is the atomic-rename pattern: the checkpointed file stream
    watches the ROTATED names (`app.log.*`) — renaming INTO the glob is the
    rotation event, each rotated file is immutable and read exactly once,
    and the live file is invisible until it rotates."""
    import yaml

    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = tmp_path / "rotate.yaml"
    cfg.write_text(yaml.safe_dump({
        "inputs": [{"Type": "input_file",
                    "FilePaths": [str(logs / "app.log.*")]}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    }))

    def run():
        return run_native_streaming(
            spark, str(cfg), str(logs / "app.log.*"), str(tmp_path / "fanout"),
            ckpt,
            sink_overrides={"file": {"format": "parquet", "path": out}},
            timeout_sec=120.0,
        )

    # generation 1: lines land in the live file (outside the glob), then
    # logrotate renames it into the watched namespace
    live = logs / "app.log"
    live.write_text("gen1-a\ngen1-b\n")
    live.rename(logs / "app.log.1")
    run()
    got1 = sorted(r.content for r in spark.read.parquet(out).collect())
    assert got1 == ["gen1-a", "gen1-b"]

    # generation 2: a fresh live file rotates; resume from the checkpoint —
    # generation 1 must NOT re-read even though its path still matches
    live.write_text("gen2-a\n")
    live.rename(logs / "app.log.2")
    run()
    got2 = sorted(r.content for r in spark.read.parquet(out).collect())
    assert got2 == ["gen1-a", "gen1-b", "gen2-a"]


def test_streaming_unterminated_final_line_flushes(spark, tmp_path):
    """Mirrors test/e2e/test_cases/reader_flush_timeout: the reference
    flushes a final line that never received its newline once the flush
    timeout fires (LogFileReader's read-timeout path). The graft's
    whole-file stream is the availableNow analogue — EOF IS the flush — so
    an unterminated trailing line must still become an event (only a
    trailing newline's empty remainder is dropped)."""
    import yaml

    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text("done-line\npending-line-no-newline")
    out = str(tmp_path / "out")
    cfg = tmp_path / "flush.yaml"
    cfg.write_text(yaml.safe_dump({
        "inputs": [{"Type": "input_file", "FilePaths": [str(logs / "*.log")]}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    }))
    run_native_streaming(
        spark, str(cfg), str(logs), str(tmp_path / "fanout"),
        str(tmp_path / "ckpt"),
        sink_overrides={"file": {"format": "parquet", "path": out}},
        timeout_sec=120.0,
    )
    got = sorted(r.content for r in spark.read.parquet(out).collect())
    assert got == ["done-line", "pending-line-no-newline"]


def test_streaming_flusher_file_keeps_every_micro_batch(spark, tmp_path):
    """A native flusher_file sink (jsonline text) writes each micro-batch to
    its own batch=<id> directory, like the parquet/json/csv sinks: with one
    file per trigger, both batches' lines survive."""
    import glob
    import json
    import os

    import yaml

    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text("a1\na2")
    (logs / "b.log").write_text("b1")
    os.utime(logs / "b.log", (os.path.getmtime(logs / "a.log") + 5,) * 2)
    out = str(tmp_path / "out")
    cfg = tmp_path / "file.yaml"
    cfg.write_text(yaml.safe_dump({
        "inputs": [{"Type": "input_file", "FilePaths": [str(logs / "*.log")]}],
        "flushers": [{"Type": "flusher_file", "FileName": out}],
    }))
    run_native_streaming(
        spark, str(cfg), str(logs), str(tmp_path / "fanout"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1, timeout_sec=120.0,
    )
    lines = [
        json.loads(line)["content"]
        for f in glob.glob(os.path.join(out, "**", "part-*"), recursive=True)
        for line in open(f).read().splitlines()
    ]
    assert sorted(lines) == ["a1", "a2", "b1"]
    assert len(glob.glob(os.path.join(out, "batch=*"))) == 2


def test_streaming_container_stdio_flag_merge_across_runs(spark, tmp_path):
    """Mirrors test/e2e/test_cases/input_container_stdio_multiline on the
    tail source: an unmodified input_container_stdio YAML runs as a
    streaming query — container parse feeds the stateful BY_FLAG merge, and
    a partial chunk whose closing F chunk arrives in a LATER run (appended
    to the same live file) merges across the checkpointed restart, keeping
    the first chunk's _time_/_source_."""
    import yaml

    from loongcollector_spark.streaming.pipeline import run_native_streaming

    logs = tmp_path / "logs"
    logs.mkdir()
    out = str(tmp_path / "out")
    cfg = tmp_path / "stdio.yaml"
    cfg.write_text(yaml.safe_dump({
        "inputs": [{"Type": "input_container_stdio",
                    "FilePaths": [str(logs / "*.log")]}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    }))

    def run():
        return run_native_streaming(
            spark, str(cfg), str(logs / "*.log"), str(tmp_path / "fanout"),
            str(tmp_path / "ckpt"),
            sink_overrides={"file": {"format": "parquet", "path": out}},
            tail=True,
            flush_timeout_ms=3_600_000,  # merge state must NOT timeout-flush
            timeout_sec=120.0,
            settle_sec=0.0,  # no flush expected — stop at quiescence
        )

    live = logs / "app.log"
    live.write_text(
        "2024-01-01T10:00:00.1Z stdout F complete\n"
        "2024-01-01T10:00:00.2Z stdout P pend-"
        "\n"
    )
    run()
    got1 = sorted(
        (r.content, r._source_)
        for r in spark.read.parquet(out).collect()
    )
    assert got1 == [("complete", "stdout")]  # partial held in GroupState

    with live.open("a") as f:
        f.write("2024-01-01T10:00:00.9Z stderr F ing\n")
    run()
    got2 = sorted(
        (r.content, r._time_, r._source_)
        for r in spark.read.parquet(out).collect()
    )
    assert got2 == [
        ("complete", "2024-01-01T10:00:00.1Z", "stdout"),
        # merged across runs; fields from the FIRST (P) chunk
        ("pend-ing", "2024-01-01T10:00:00.2Z", "stdout"),
    ]


def test_streaming_flag_merge_cross_batch_and_end_flush(spark, tmp_path):
    """BY_FLAG GroupState twin of the cross-batch test: a partial run whose
    closing F chunk arrives in the next micro-batch merges across batches
    keeping the FIRST chunk's extra fields; a trailing partial run with no
    closing chunk flushes when the drain ends — MergeLogsByFlag's
    end-of-group flush (ProcessorMergeMultilineLogNative.cpp:154-157)."""
    import pandas as pd

    from loongcollector_spark.streaming.multiline import streaming_merge_by_flag

    src = tmp_path / "bf_in"
    src.mkdir()
    pd.DataFrame(
        {"file": ["f"] * 2, "offset": [0, 1], "line": ["a-", "b-"],
         "part": [True, True], "tag": ["t0", "t1"]}
    ).to_parquet(str(src / "b1.parquet"))
    pd.DataFrame(
        {"file": ["f"] * 3, "offset": [2, 3, 4], "line": ["c", "solo", "pend"],
         "part": [False, False, True], "tag": ["t2", "t3", "t4"]}
    ).to_parquet(str(src / "b2.parquet"))

    stream = (
        spark.readStream.format("parquet")
        .schema("file string, offset long, line string, part boolean, tag string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    merged = streaming_merge_by_flag(
        stream, "line", "file", "offset", "part", flush_timeout_ms=100
    )
    out = str(tmp_path / "bf_out")
    q = (
        merged.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "bf_ck"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 120)
    got = {r["offset"]: (r["line"], r["tag"]) for r in spark.read.parquet(out).collect()}
    assert got[0] == ("a-b-c", "t0")  # cross-batch, first chunk's tag, no sep
    assert got[3] == ("solo", "t3")
    assert got[4] == ("pend", "t4")  # end-of-drain flush of the pending run
    assert len(got) == 3


def _run_rules_stream(spark, tmp_path, batches, tag, **rules):
    """Feed line batches (one parquet file per micro-batch) through
    streaming_merge_rules and return {offset: block}."""
    import pandas as pd

    from loongcollector_spark.streaming.multiline import streaming_merge_rules

    src = tmp_path / f"in_{tag}"
    src.mkdir()
    off = 0
    for i, lines in enumerate(batches):
        pd.DataFrame({
            "file": ["f"] * len(lines),
            "offset": list(range(off, off + len(lines))),
            "line": lines,
        }).to_parquet(str(src / f"b{i}.parquet"))
        off += len(lines)
    stream = (
        spark.readStream.format("parquet")
        .schema("file string, offset long, line string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    merged = streaming_merge_rules(
        stream, "line", "file", "offset", flush_timeout_ms=100, **rules
    )
    out = str(tmp_path / f"out_{tag}")
    q = (
        merged.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, 120)
    return {r["offset"]: r["line"] for r in spark.read.parquet(out).collect()}


def test_streaming_rules_start_end(spark, tmp_path):
    """Start+End across micro-batches: the block spans start..end inclusive
    even when the end arrives in a later batch; a line matching BOTH only
    toggles once; an unterminated trailing block replays UNMATCHED
    line-by-line at the drain flush (.cpp:295-308), unlike start-only."""
    got = _run_rules_stream(
        spark, tmp_path,
        [["x", "B a", "mid"], ["E z", "B d", "t"]],
        "se", start_pattern="^B", end_pattern="^E",
    )
    assert got == {0: "x", 1: "B a\nmid\nE z", 4: "B d", 5: "t"}


def test_streaming_rules_continue_end(spark, tmp_path):
    """Continue+End: a run of continue-matches + ONE closer — merged iff the
    closer matches end (.cpp:218-230); a standalone end-match is a matched
    single (.cpp:189-194); a run closed by a plain line replays unmatched."""
    got = _run_rules_stream(
        spark, tmp_path,
        [["C a", "C b"], ["E fin", "E solo", "C bad", "plain", "last"]],
        "ce", continue_pattern="^C", end_pattern="^E",
    )
    assert got == {
        0: "C a\nC b\nE fin",  # run closed by end — merged across batches
        3: "E solo",           # standalone end-match: matched single
        4: "C bad",            # run closed by a non-end line:
        5: "plain",            #   HandleUnmatchLogs line-by-line
        6: "last",             # plain standalone: unmatched single
    }


def test_streaming_rules_end_only(spark, tmp_path):
    """End-only: every line absorbs (isPartialLog sticks, .cpp:166-170);
    lines after the last end-match replay unmatched at the flush."""
    got = _run_rules_stream(
        spark, tmp_path,
        [["a", "E1"], ["b", "c", "E2", "tail"]],
        "eo", end_pattern=r"^E\d",
    )
    assert got == {0: "a\nE1", 2: "b\nc\nE2", 5: "tail"}


def test_streaming_rules_start_continue(spark, tmp_path):
    """Start+Continue: block = start + run of continue-matches; the first
    line matching neither flushes the block and is itself unmatched; the
    trailing open block flushes MERGED (.cpp:253-283)."""
    got = _run_rules_stream(
        spark, tmp_path,
        [["S a", "C b"], ["C c", "x", "S d", "C e"]],
        "sc", start_pattern="^S", continue_pattern="^C",
    )
    assert got == {0: "S a\nC b\nC c", 3: "x", 4: "S d\nC e"}


def test_streaming_rules_discard_and_normalization(spark, tmp_path):
    """unmatched='discard' drops HandleUnmatchLogs lines;
    Start+Continue+End drops ContinuePattern (MultilineOptions.cpp:139-151)."""
    got = _run_rules_stream(
        spark, tmp_path,
        [["x", "B a", "C mid", "E z", "tail"]],
        "dn", start_pattern="^B", continue_pattern="^C", end_pattern="^E",
        unmatched="discard",
    )
    # continue dropped -> start+end; 'x'/'tail' discarded; C mid absorbed
    assert got == {1: "B a\nC mid\nE z"}


def test_native_streaming_reader_kwargs_validated_all_branches(spark, tmp_path):
    """Every run_native_streaming branch must OWN the reader kwargs
    (input_format / max_files_per_trigger) instead of forwarding them into
    start_fanout_query (TypeError): a non-text input_format raises a clear
    ValueError on the flag-merge, multiline, and bare-tail branches alike."""
    import yaml

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text("x\n")
    out = str(tmp_path / "out")

    _n = iter(range(10))

    def cfg(body):
        p = tmp_path / f"c{next(_n)}.yaml"
        p.write_text(yaml.safe_dump(body))
        return str(p)

    flag_yaml = cfg({
        "inputs": [{"Type": "input_container_stdio",
                    "FilePaths": [str(logs / "*.log")]}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    })
    ml_yaml = cfg({
        "inputs": [{"Type": "input_file", "FilePaths": [str(logs / "*.log")],
                    "Multiline": {"StartPattern": r"\d.*"}}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    })
    plain_yaml = cfg({
        "inputs": [{"Type": "input_file", "FilePaths": [str(logs / "*.log")]}],
        "flushers": [{"Type": "flusher_file", "FilePath": out}],
    })
    from loongcollector_spark.streaming.pipeline import run_native_streaming

    for yml, tail in (
        (flag_yaml, False),
        (ml_yaml, False),
        (plain_yaml, True),
        (plain_yaml, False),
    ):
        with pytest.raises(ValueError, match="input_format"):
            run_native_streaming(
                spark, yml, str(logs / "*.log"), str(tmp_path / "fan"),
                str(tmp_path / "ck"), input_format="json", tail=tail,
            )


# --- one multiline automaton: batch and stream give the same rows -----------

MERGE_SCHEMA = "file string, offset long, line string, tag string, part boolean"


def run_merge_streams(spark, tmp_path, batches, merges):
    """Write each of ``batches`` (lists of MERGE_SCHEMA row tuples) as one
    parquet file per micro-batch, run every ``merges`` entry (name ->
    stream -> merged stream) as its own availableNow query, two at a time
    (more contend for four local cores and finish later), and return
    name -> output rows sorted by (file, offset)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow = pa.schema([("file", pa.string()), ("offset", pa.int64()),
                       ("line", pa.string()), ("tag", pa.string()),
                       ("part", pa.bool_())])
    src = tmp_path / f"src_{uuid.uuid4().hex[:8]}"
    src.mkdir()
    for i, rows in enumerate(batches):
        path = str(src / f"b{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(arrow.names, r)) for r in rows], arrow), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # file-source order
    stream = (spark.readStream.schema(MERGE_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = {}
    names = list(merges)
    # two state partitions: these inputs are a few dozen rows, and each
    # micro-batch runs one Python task per partition
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        for i in range(0, len(names), 2):
            running = {}
            for name in names[i:i + 2]:
                qname = f"ml_{name}_{uuid.uuid4().hex[:8]}"
                running[name] = (qname, merges[name](stream).writeStream
                                 .format("memory").queryName(qname)
                                 .trigger(availableNow=True).start())
            for name, (qname, q) in running.items():
                # settle_sec=None: stop once every pending block has flushed
                drain_available_now(q, 120, settle_sec=None)
                out[name] = sorted((tuple(r) for r in spark.table(qname).collect()),
                                   key=lambda r: (r[0], r[1]))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    return out


# The NULL-line contract: a NULL line matches no pattern, adds nothing to a
# merged block, and is a NULL event when unmatched; a NULL partial flag
# counts as not partial.
NULL_LINES = ["S a", None, "c", "S b", "d"]
NULL_CASES = {
    "start": (dict(start_pattern="^S"),
              [(0, "S a\nc"), (3, "S b\nd")]),
    "start_continue": (dict(start_pattern="^S", continue_pattern="^c"),
                       [(0, "S a"), (1, None), (2, "c"), (3, "S b"), (4, "d")]),
    "start_end": (dict(start_pattern="^c", end_pattern="^d"),
                  [(0, "S a"), (1, None), (2, "c\nS b\nd")]),
    "end": (dict(end_pattern="^c"),
            [(0, "S a\nc"), (3, "S b"), (4, "d")]),
    "continue_end": (dict(continue_pattern="^c", end_pattern="^d"),
                     [(0, "S a"), (1, None), (2, "c"), (3, "S b"), (4, "d")]),
}
FLAG_LINES = [("a", True), ("b", None), ("c", False), ("d", False)]
FLAG_EXPECTED = [(0, "ab"), (2, "c"), (3, "d")]


def _null_rows():
    return [("f", i, line, f"t{i}", None) for i, line in enumerate(NULL_LINES)]


def _flag_rows():
    return [("f", i, line, f"t{i}", p) for i, (line, p) in enumerate(FLAG_LINES)]


def test_multiline_null_lines_batch(spark):
    """Batch: every rule mode keeps NULL lines (start+end and continue+end
    used to drop the ones outside a block), and BY_FLAG reads a NULL flag as
    not partial."""
    from loongcollector_spark.operators.multiline import (
        merge_by_flag,
        merge_multiline_rules,
    )

    df = spark.createDataFrame(_null_rows(), MERGE_SCHEMA).drop("part")
    for name, (rules, want) in NULL_CASES.items():
        out = merge_multiline_rules(df, "line", "file", "offset", **rules)
        got = sorted((r.offset, r.line) for r in out.collect())
        assert got == want, name
    flags = spark.createDataFrame(_flag_rows(), MERGE_SCHEMA)
    got = sorted((r.offset, r.line)
                 for r in merge_by_flag(flags, "line", "file", "offset", "part").collect())
    assert got == FLAG_EXPECTED


def test_streaming_multiline_null_lines(spark, tmp_path):
    """Stream: the same NULL inputs give the batch rows (NULL lines used to
    add an empty line to a block, or kill the query with a TypeError), the
    NULL lines split across micro-batches."""
    from loongcollector_spark.streaming.multiline import (
        streaming_merge_by_flag,
        streaming_merge_rules,
    )

    def rules(kw):
        return lambda s: streaming_merge_rules(
            s.drop("part"), "line", "file", "offset", flush_timeout_ms=100, **kw)

    merges = {name: rules(kw) for name, (kw, _) in NULL_CASES.items()}
    merges["flag"] = lambda s: streaming_merge_by_flag(
        s, "line", "file", "offset", "part", flush_timeout_ms=100)
    rows = _null_rows()
    flag_rows = [(f"g{r[0]}",) + r[1:] for r in _flag_rows()]
    got = run_merge_streams(
        spark, tmp_path, [rows[:2] + flag_rows[:1], rows[2:] + flag_rows[1:]], merges)
    for name, (_, want) in NULL_CASES.items():
        assert [(r[1], r[2]) for r in got[name] if r[0] == "f"] == want, name
        # a merged block keeps its first line's tag, a single its own
        assert all(r[3] == f"t{r[1]}" for r in got[name]), name
    assert [(r[1], r[2]) for r in got["flag"] if r[0] == "gf"] == FLAG_EXPECTED


def test_multiline_rejects_bad_unmatched(spark, tmp_path):
    """The shared normalization rejects an unmatched value other than
    single_line / discard, in batch and in streaming alike."""
    from loongcollector_spark.operators.multiline import merge_multiline_rules
    from loongcollector_spark.streaming.multiline import streaming_merge_rules

    df = spark.createDataFrame(_null_rows(), MERGE_SCHEMA)
    with pytest.raises(ValueError, match="unmatched"):
        merge_multiline_rules(df, "line", "file", "offset", "^S", unmatched="drop")
    stream = spark.readStream.schema(MERGE_SCHEMA).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="unmatched"):
        streaming_merge_rules(stream, "line", "file", "offset", "^S", unmatched="Discard")


# --- one Router: the stream delivers what run_pipeline delivers -------------

ROUTER_SCHEMA = "id int, event_type string, env string, level string"
ROUTER_ROWS = [
    (0, "LOG", "prod", "ERROR"),
    (1, "LOG", "dev", "INFO"),
    (2, "METRIC", "prod", "INFO"),
    (3, "METRIC", "dev", None),
    (4, "LOG", None, "ERROR"),
]


@pytest.fixture(scope="module")
def router_input(spark, tmp_path_factory):
    """ROUTER_ROWS as one parquet file: one availableNow micro-batch."""
    base = str(tmp_path_factory.mktemp("router_in"))
    spark.createDataFrame(ROUTER_ROWS, ROUTER_SCHEMA).coalesce(1).write.mode("overwrite").parquet(base)
    return base


def _stream_sink_rows(spark, base, sink):
    """(columns, rows) a streamed sink wrote, without the batch=<id> column."""
    df = spark.read.parquet(f"{base}/{sink}").drop("batch")
    return set(df.columns), sorted((r.asDict() for r in df.collect()), key=repr)


def test_streaming_fanout_discards_tag(spark, router_input, tmp_path):
    """DiscardingTag (Condition.h:28-73) in the stream: a sink reached only
    by a discarding route gets no tag column; a sink reached by a discarding
    and a keeping route keeps the tag only on rows the keeping route
    matched."""
    spec = PipelineSpec(
        name="discard",
        routes=[
            Route("prod", Condition(tag_key="env", tag_value="prod", discard_tag=True)),
            Route("mix", Condition(tag_key="env", tag_value="prod", discard_tag=True)),
            Route("mix", Condition(event_type="METRIC")),
        ],
        route_mode="fanout",
        shard_keys=(),
        metrics_tokens_col=None,
    )
    out = str(tmp_path / "out")
    res = run_streaming_pipeline(
        spark, router_input, ROUTER_SCHEMA, spec, out, str(tmp_path / "ckpt")
    )
    assert res["sinks"] == ["prod", "mix"]
    cols, rows = _stream_sink_rows(spark, out, "prod")
    assert "env" not in cols
    assert sorted(r["id"] for r in rows) == [0, 2]
    _, rows = _stream_sink_rows(spark, out, "mix")
    assert {r["id"]: r["env"] for r in rows} == {0: None, 2: "prod", 3: "dev"}


ERRORS = Condition(content_key="level", content_regex="ERROR")
PROD_DISCARD = Condition(tag_key="env", tag_value="prod", discard_tag=True)
ROUTER_CASES = {
    "first_match_default": dict(
        routes=[Route("errors", ERRORS), Route("prod", Condition(tag_key="env", tag_value="prod"))],
        default_sink="rest",
    ),
    "first_match_drop_dismatch": dict(
        routes=[Route("errors", ERRORS)], default_sink="rest", drop_dismatch=True
    ),
    "first_match_no_default": dict(routes=[Route("errors", ERRORS)], default_sink=None),
    "fanout_mixed_discard": dict(
        routes=[Route("mix", PROD_DISCARD), Route("mix", Condition(event_type="METRIC")),
                Route("errors", ERRORS)],
        route_mode="fanout",
    ),
    "fanout_unconditional": dict(
        routes=[Route("all", None), Route("prod", PROD_DISCARD)], route_mode="fanout"
    ),
}


@pytest.mark.parametrize("case", list(ROUTER_CASES))
def test_streaming_router_matches_batch(spark, router_input, tmp_path, case):
    """run_pipeline and the foreachBatch runner deliver the same rows and
    columns to the same sinks: they share one Router."""
    import os

    from loongcollector_spark.pipeline import run_pipeline

    spec = PipelineSpec(name=case, shard_keys=(), metrics_tokens_col=None,
                        **ROUTER_CASES[case])
    batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
    res = run_pipeline(spark.read.parquet(router_input), spec, output_base=batch_out)
    sres = run_streaming_pipeline(
        spark, router_input, ROUTER_SCHEMA, spec, stream_out, str(tmp_path / "ckpt")
    )
    sinks = sres["sinks"]
    assert sorted(sinks) == sorted(os.listdir(batch_out)) == sorted(os.listdir(stream_out))
    assert set(sinks) <= set(res)
    for sink in sinks:
        df = spark.read.parquet(f"{batch_out}/{sink}")
        want = set(df.columns), sorted((r.asDict() for r in df.collect()), key=repr)
        assert _stream_sink_rows(spark, stream_out, sink) == want, sink

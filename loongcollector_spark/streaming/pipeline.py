"""Streaming pipeline runner: readStream → processor chain → foreachBatch fan-out.

One streaming query per pipeline (the reference runs one processor/flusher
thread-group per pipeline config, core/runner/ProcessorRunner.cpp:89-183).
The micro-batch is the PipelineEventGroup analogue: within ``foreachBatch``
the routed batch is persisted once and each sink writes its slice. Sink
selection, slicing and sink specs come from the batch runner's Router
(``pipeline.sink_names`` / ``sink_frames`` / ``sink_spec``), so first_match,
DropDisMatch, fanout and DiscardingTag deliver the same rows in both runners.
Spark's streaming checkpoint stands in for the reference's file-offset
checkpoints (core/checkpoint/CheckPointManager.h) so a restarted query
resumes exactly where it stopped, no duplicate and no missing micro-batch.
"""

from __future__ import annotations

import dataclasses
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loongcollector_spark.pipeline import (
    PipelineSpec,
    compile_pipeline,
    private_spec_copy,
    sink_frames,
    sink_names,
    sink_spec,
)
from loongcollector_spark.sinks import SinkSpec, write_sink


def drain_available_now(
    query, timeout_sec: float | None = 300.0, settle_sec: float | None = 0.0
) -> None:
    """Drain an availableNow query to completion and STOP it.

    A plan containing a stateful operator with ProcessingTimeTimeout
    (applyInPandasWithState — the multiline/flag mergers) never
    self-terminates under Trigger.AvailableNow: Spark's
    shouldRunAnotherBatch answers true whenever a processing-time timeout
    is configured, so the query keeps scheduling EMPTY micro-batches
    forever (measured: 137 batches in 120 s on a 3-row input). A bare
    ``awaitTermination(timeout)`` therefore always burns the full timeout
    AND leaks a spinning query into the shared session.

    This helper waits for genuine quiescence instead: the query is stopped
    after three consecutive completed batches with zero input rows and
    zero state updates/removals — by then all data batches have run and
    any due state timeout (the drain-end flush) has fired and emptied or
    settled the state. Stateless plans terminate on their own and return
    through the ``awaitTermination`` fast path.

    ``settle_sec``: minimum quiet time after the last busy batch before
    stopping — set it just above the operator's flush timeout so a
    pending block's read-timeout flush is guaranteed to fire before the
    drain stops (the native runner passes flush_timeout_ms + 1 s).
    Operators with PERSISTENT state (streaming dedup, token buckets)
    should pass 0: their state never empties and a grace period only
    delays the stop. ``None`` is the loss-proof AUTO mode: stop at
    quiescence only once the state store is EMPTY — a pending multiline
    block keeps the query alive until its flush timeout fires and the
    flushed block is written, whatever that timeout is; the price is
    that persistent-state plans burn the full ``timeout_sec`` (pass an
    explicit settle when you know the operator)."""
    import time as _time

    deadline = _time.time() + (timeout_sec or 300.0)
    idle = 0
    last_batch = None
    last_busy = _time.time()
    state_rows = 0
    while _time.time() < deadline:
        if query.awaitTermination(0.5):
            return  # stateless plan: availableNow terminated on its own
        p = query.lastProgress
        if not p:
            continue
        bid = p.get("batchId")
        if bid == last_batch:
            continue  # same batch as last poll — nothing new completed
        last_batch = bid
        ops = p.get("stateOperators") or []
        busy = p.get("numInputRows", 0) or any(
            o.get("numRowsUpdated", 0) or o.get("numRowsRemoved", 0)
            for o in ops
        )
        state_rows = sum(o.get("numRowsTotal", 0) or 0 for o in ops)
        if busy:
            idle = 0
            last_busy = _time.time()
        else:
            idle += 1
        if idle >= 3:
            if settle_sec is None:
                if state_rows == 0:
                    break
            elif (_time.time() - last_busy) >= settle_sec:
                break
    query.stop()


def start_fanout_query(
    stream: DataFrame,
    spec: PipelineSpec,
    output_base: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    timeout_sec: float | None = 300.0,
    settle_sec: float | None = None,
) -> dict[str, Any]:
    """foreachBatch delivery over an already-built streaming DataFrame, in
    either route mode: compile the processor chain per micro-batch, persist
    the routed frame once, write each ``pipeline.sink_frames`` slice — the
    batch runner's Router — with replay-idempotent batch directories.
    ``settle_sec`` — see drain_available_now. The default (None) is the
    loss-proof auto mode: a pending stateful block (multiline merge)
    holds the drain open until its flush timeout fires; pass the
    operator's flush timeout for a faster bounded stop, or 0 for
    persistent-state operators (dedup, token bucket) whose state never
    empties."""
    # per-query private copy: frozen kv-expand keys persist across THIS
    # query's micro-batches (schema-stable batch=<id> dirs) without leaking
    # into the caller's spec object (reused specs would carry stale keys)
    spec = private_spec_copy(spec)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = compile_pipeline(batch_df, spec).persist()
        try:
            for name, frame in sink_frames(routed, spec).items():
                write_sink(frame, _micro_batch_sink(sink_spec(spec, name, output_base), batch_id))
        finally:
            routed.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        drain_available_now(query, timeout_sec, settle_sec=settle_sec)
    return {
        "query_id": str(query.id),
        "active": query.isActive,
        "sinks": sink_names(spec),
    }


def _micro_batch_sink(sink: SinkSpec, batch_id: int) -> SinkSpec:
    """A sink's spec for one micro-batch's delivery."""
    if sink.format == "iceberg":
        # per-micro-batch delivery must accumulate: force append (write_sink
        # honors mode; createOrReplace would keep only the last batch).
        # Replay-idempotence for iceberg comes from its own snapshot
        # commits, not batch directories.
        return dataclasses.replace(sink, mode="append")
    if sink.path and sink.format not in ("kafka", "noop", "console", "memory"):
        # every format write_sink saves at a path, a flusher_file sink's
        # encoded text too. EXACTLY-ONCE on micro-batch replay: each trigger
        # writes its own batch=<id> directory with overwrite — a replayed
        # batch id rewrites the same directory instead of appending
        # duplicates (foreachBatch may re-deliver the last uncommitted batch
        # after a crash; plain `append` would double those rows — the
        # reference's analogue is the RangeCheckpoint commit-after-send
        # replay path, FlusherSLS.cpp:588-591)
        return dataclasses.replace(
            sink, path=os.path.join(sink.path, f"batch={batch_id}"), mode="overwrite"
        )
    return sink


def run_streaming_pipeline(
    spark: SparkSession,
    input_path: str,
    schema: str,
    spec: PipelineSpec,
    output_base: str,
    checkpoint_dir: str,
    *,
    input_format: str = "parquet",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: float | None = 300.0,
) -> dict[str, Any]:
    """Run the pipeline as a Structured Streaming query over a file source.

    ``available_now=True`` drains everything present then stops (the batch-
    equivalent trigger, used by tests); otherwise the query keeps tailing
    ``input_path`` like the reference's file watcher and must be stopped by
    the caller.
    """
    reader = spark.readStream.format(input_format).schema(schema)
    if max_files_per_trigger:
        # bounded process queue analogue (BoundedProcessQueue.h): cap work per trigger
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_path)
    return start_fanout_query(
        stream, spec, output_base, checkpoint_dir,
        available_now=available_now, timeout_sec=timeout_sec,
    )


def _native_line_stream(
    spark: SparkSession,
    input_path: str,
    tail: bool,
    exact_offsets: bool,
    flush_timeout_ms: int,
    kwargs: dict,
) -> DataFrame:
    """The line source of run_native_streaming: one row per line in
    ``content`` plus PATH_TAG, the shape batch read_log_files yields. Pops
    the reader kwargs it owns (``input_format``, ``max_files_per_trigger``)
    so they don't crash start_fanout_query. One of three readers:

    - ``tail=True``: the log_tail source; real byte offsets in
      ``__offset__`` order lines exactly (it bounds work per trigger by
      max_partition_bytes, so max_files_per_trigger does not apply).
    - ``exact_offsets`` (a multiline merge follows): each file is read as
      ONE row (``wholetext``) and posexploded into lines, so ``__offset__``
      is the exact per-file line number however the scan splits — the
      reference's LogFileReader also walks a file sequentially. The final
      trailing newline is discarded (LogFileReader contract, noted in
      ProcessorSplitMultilineLogStringNative.cpp "Presumption" comment); a
      whole log file per row bounds memory at max-file-size per task, fine
      for rotated log files.
    - otherwise the plain line-splitting text stream, so a large file is
      never one row."""
    from loongcollector_spark.sources.files import PATH_TAG

    input_format = kwargs.pop("input_format", "text")
    if input_format != "text":
        raise ValueError(
            "native streaming reads raw text lines; "
            f"input_format={input_format!r} is not applicable"
        )
    max_files = kwargs.pop("max_files_per_trigger", None)
    if tail:
        from loongcollector_spark.sources.tail import tail_log_files

        return tail_log_files(spark, input_path, flush_timeout_ms=flush_timeout_ms)
    reader = spark.readStream.format("text").option("wholetext", exact_offsets)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    raw = reader.load(input_path).select(
        F.col("value").alias("content"), F.col("_metadata.file_path").alias(PATH_TAG)
    )
    if not exact_offsets:
        return raw
    lines = F.split(F.col("content"), "\n")
    lines = F.when(
        F.element_at(lines, -1) == "", F.slice(lines, 1, F.size(lines) - 1)
    ).otherwise(lines)
    return raw.select(
        PATH_TAG, F.posexplode(lines).alias("__offset__", "content")
    ).select(PATH_TAG, F.col("__offset__").cast("long").alias("__offset__"), "content")


def run_native_streaming(
    spark: SparkSession,
    config_path: str,
    input_path: str,
    output_base: str,
    checkpoint_dir: str,
    sink_overrides: dict | None = None,
    flush_timeout_ms: int = 5_000,
    tail: bool = False,
    **kwargs: Any,
) -> dict[str, Any]:
    """Run an UNMODIFIED reference pipeline YAML as a streaming query: the
    input_file source becomes a text file stream (each line one event in
    ``content`` with the file path tag, like the batch read_log_files; see
    _native_line_stream for its three readers), processors/flushers come
    from config.spec_from_native, and delivery rides the foreachBatch
    fan-out above — the closest Spark shape to the reference's
    file-watcher → processor thread-group → flusher chain.

    Multiline YAMLs (processor_split_log_regex, a Multiline block, or the
    container BY_FLAG merge) run through the one stateful cross-batch
    automaton (streaming/multiline.py) with the batch operator's semantics
    and output shape: the file stream becomes per-line rows with exact
    per-file offsets, row-wise prefix stages run (only the container parse
    before BY_FLAG; a regex merge must come first), the automaton holds
    each file's pending block in GroupState (flushed when a later line
    closes it, by the ``flush_timeout_ms`` timer, or by the availableNow
    drain), and the merged events feed the remaining processor chain. A
    second multiline merge in the chain is rejected.

    ``input_path`` overrides the YAML's FilePaths (those point at the
    reference host's /home/test-log); pass the directory/glob to tail.

    ``tail=True`` swaps the text streams (atomic-rename contract: a file
    is immutable once read) for the log_tail data source
    (sources/tail.py): per-file BYTE-offset checkpoints, rotation tracked
    by dev:inode, appended lines re-collected from the recorded offset,
    and ``flush_timeout_ms`` doubling as the reference's read-timeout
    flush of a never-terminated final line — full LogFileReader semantics
    over a live, growing log directory."""
    from loongcollector_spark.config import load_native_config
    from loongcollector_spark.pipeline import PROCESSORS
    from loongcollector_spark.streaming.multiline import (
        streaming_merge_by_flag,
        streaming_merge_rules,
    )

    spec, _ = load_native_config(config_path, sink_overrides=sink_overrides)

    merges = {
        "merge_by_flag": streaming_merge_by_flag,
        "merge_multiline_rules": streaming_merge_rules,
    }
    ml_idx = next(
        (i for i, (name, _) in enumerate(spec.processors) if name in merges),
        None,
    )
    if ml_idx is not None:
        name, params = spec.processors[ml_idx]
        if name == "merge_by_flag":
            # container partial-chunk merge (input_container_stdio's inner
            # BY_FLAG stage): per-row prefix processors (the container
            # parse that produces __is_partial__) run on the line stream
            row_wise = {"parse_container_log", "noop", "rename", "add_fields"}
            bad = [n for n, _ in spec.processors[:ml_idx] if n not in row_wise]
            if bad:
                raise NotImplementedError(
                    f"processors {bad} before merge_by_flag are not supported "
                    "in streaming (only per-row stages may precede the "
                    "stateful flag merge)"
                )
        elif ml_idx != 0:
            raise NotImplementedError(
                "a multiline processor after other processors is not "
                "supported in streaming (the reference inserts it first, "
                "InputFile.cpp:217)"
            )
        if any(n in merges for n, _ in spec.processors[ml_idx + 1:]):
            raise NotImplementedError(
                "a second multiline merge chains two stateful operators in "
                "one streaming query; use the batch runner "
                "(read_log_files(line_offset=True) + run_pipeline)"
            )
    stream = _native_line_stream(
        spark, input_path, tail, ml_idx is not None, flush_timeout_ms, kwargs
    )
    if ml_idx is not None:
        for pname, pparams in spec.processors[:ml_idx]:
            stream = PROCESSORS[pname](stream, **pparams)
        # the stream emits the batch's (file, offset, line, *rest) shape and
        # always carries the other columns, so keep_fields has no stream twin
        params = {k: v for k, v in params.items() if k != "keep_fields"}
        stream = merges[name](stream, flush_timeout_ms=flush_timeout_ms, **params)
        spec = dataclasses.replace(
            spec, processors=list(spec.processors[ml_idx + 1:])
        )
        # drain-end flush: give the merge's read-timeout room to fire
        kwargs.setdefault("settle_sec", flush_timeout_ms / 1000.0 + 1.0)
    return start_fanout_query(stream, spec, output_base, checkpoint_dir, **kwargs)

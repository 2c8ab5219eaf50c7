"""Structured Streaming face of the pipeline (the reference's native mode).

The reference IS a streaming engine: file tailing with checkpointed offsets
(core/file_server/, core/checkpoint/), size/count/timeout-driven flush
(core/collection_pipeline/batch/FlushStrategy.h), and stateful token-bucket
rate limiting (plugins/processor/ratelimit/token_bucket.go:33-61). Our batch
graft covers the relational semantics; this module covers the streaming
execution mode with the idiomatic Spark mapping:

| reference | here |
|---|---|
| file tail + offset checkpoint | ``readStream`` file source + checkpointLocation |
| flush timeout | trigger interval (``processingTime``/``availableNow``) |
| Router fan-out to flushers | ``foreachBatch`` conditional per-sink writes |
| token-bucket rate limit | ``applyInPandasWithState`` per-key bucket state |
| periodic self-monitoring rollup | watermarked tumbling-window aggregation (``streaming_windowed_rollup``) |
| per-key activity sessionization | native ``session_window`` gap-merge aggregation (``streaming_session_rollup``) |
| (training pipeline) live exact dedup | watermark-bounded ``dropDuplicatesWithinWatermark`` (``streaming_exact_dedup``) |
| native pipeline YAML in stream mode | ``run_native_streaming`` |
"""

from loongcollector_spark.streaming.dedup import streaming_exact_dedup
from loongcollector_spark.streaming.multiline import streaming_merge_rules
from loongcollector_spark.streaming.pipeline import (
    run_native_streaming,
    run_streaming_pipeline,
)
from loongcollector_spark.streaming.rate_limit import streaming_rate_limit
from loongcollector_spark.streaming.rollup import (
    streaming_session_rollup,
    streaming_windowed_rollup,
)

__all__ = [
    "run_streaming_pipeline",
    "run_native_streaming",
    "streaming_rate_limit",
    "streaming_merge_rules",
    "streaming_session_rollup",
    "streaming_windowed_rollup",
    "streaming_exact_dedup",
]

"""Pipeline compiler: declarative config → one composed DataFrame graph.

The reference parses a YAML/JSON pipeline (inputs → processors → aggregators
→ flushers) into plugin instance vectors plus a Router table at Init
(core/collection_pipeline/CollectionPipeline.cpp:76-120; Go twin
pluginmanager/logstore_config.go:306+). Our Init compiles the same shape of
spec into a chained DataFrame expression; Catalyst then owns fusion and
physical planning (the reference fuses by construction; whole-stage codegen
does it for us).

One pipeline spec = ONE Spark job graph:
    read → parse stages → enrich/filter stages → route tag → shard-hash
    repartition → per-sink writes + per-(source,sink) metrics rollup
with per-stage self-monitoring counters riding the same action
(metrics.MetricsRegistry) and checkpoint-resumable bucket writes
(lineage.checkpointed_write).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark import lineage
from loongcollector_spark.metrics import MetricsRegistry
from loongcollector_spark.operators import aggregate as agg_ops
from loongcollector_spark.operators import enrich, filters, multiline, route
from loongcollector_spark.operators.grok import parse_grok
from loongcollector_spark.operators.parse_apsara import parse_apsara
from loongcollector_spark.operators.parse_common import ParserOptions
from loongcollector_spark.operators.parse_delimiter import (
    parse_csv,
    parse_delimiter,
    split_string,
    split_string_fields,
    split_to_rows,
)
from loongcollector_spark.operators.parse_json import expand_json, parse_json
from loongcollector_spark.operators.parse_kv import parse_key_value
from loongcollector_spark.operators.parse_regex import parse_regex
from loongcollector_spark.operators.parse_time import parse_timestamp, reformat_time
from loongcollector_spark.operators.parse_container import (
    parse_container_log as _parse_container_log,
)
from loongcollector_spark.operators.parse_prometheus import (
    parse_prometheus as _parse_prometheus,
)
from loongcollector_spark.operators.spl import spl_processor as _spl_processor
from loongcollector_spark.sinks import SinkSpec, write_sink

# Processor registry — the PluginRegistry analogue. Each entry is
# (DataFrame, **params) -> DataFrame.
PROCESSORS: dict[str, Callable[..., DataFrame]] = {
    # processor_default (processor_default.go:36-41): identity passthrough
    "noop": lambda df, **_: df,
    "parse_regex": parse_regex,
    "parse_json": parse_json,
    "expand_json": expand_json,
    "parse_delimiter": parse_delimiter,
    "parse_csv": parse_csv,
    "parse_container_log": _parse_container_log,
    "parse_prometheus": _parse_prometheus,
    "parse_key_value": parse_key_value,
    "parse_apsara": parse_apsara,
    "parse_timestamp": parse_timestamp,
    "reformat_time": reformat_time,
    "parse_grok": parse_grok,
    "split_string": split_string,
    "split_string_fields": split_string_fields,
    "split_to_rows": split_to_rows,
    "merge_multiline": multiline.merge_multiline_rules,
    "merge_multiline_rules": multiline.merge_multiline_rules,
    "merge_by_flag": multiline.merge_by_flag,
    "filter_expression": filters.filter_expression,
    "filter_rule": filters.filter_rule,
    "filter_include_exclude": filters.filter_include_exclude,
    "filter_key_regex": filters.filter_key_regex,
    "fields_with_condition": filters.fields_with_condition,
    "rate_limit": filters.rate_limit,
    "rate_limit_sampled": filters.rate_limit_sampled_by_key,
    "drop": filters.drop_keys,
    "drop_last_key": filters.drop_last_key,
    "pick_keys": filters.pick_keys,
    "add_fields": enrich.add_fields,
    "rename": enrich.rename_fields,
    "dict_map": enrich.dict_map,
    "geo_lookup": enrich.geo_lookup,
    "cloud_meta": enrich.cloud_meta,
    "anchor": enrich.anchor,
    "anchor_multi": enrich.anchor_multi,
    "appender": enrich.appender,
    "string_replace": enrich.string_replace,
    "string_unquote": enrich.string_unquote,
    "desensitize": enrich.desensitize,
    "md5": enrich.md5_field,
    "base64_encode": enrich.base64_encode,
    "base64_decode": enrich.base64_decode,
    "encrypt": enrich.encrypt_fields,
    "pack_json": enrich.pack_json,
    "log_to_metric": enrich.log_to_metric,
    "otel_span_shape": enrich.otel_span_shape,
    "otel_metric_shape": enrich.otel_metric_shape,
    "otel_trace_parse": enrich.otel_trace_parse,
    "otel_log_parse": enrich.otel_log_parse,
    "geo_cidr_lookup": enrich.geo_cidr_lookup,
    "geo_mmdb_lookup": enrich.geo_mmdb_lookup,
    "dynamic_topic": route.dynamic_topic,
    "spl": _spl_processor,
}


@dataclass
class PipelineSpec:
    """Declarative pipeline config (the YAML shape, as Python data)."""

    name: str
    processors: Sequence[tuple[str, Mapping[str, Any]]] = ()
    routes: Sequence[route.Route] = ()
    route_mode: str = "first_match"  # first_match | fanout
    default_sink: str | None = route.DEFAULT_SINK
    drop_dismatch: bool = False
    shard_keys: Sequence[str] = ("source", "doc_id")
    shard_count: int = 16
    shard_connector: str = "_"  # aggregator_shardhash Connector
    tags: Mapping[str, str] = field(default_factory=dict)  # processor_tag
    sinks: Mapping[str, SinkSpec] = field(default_factory=dict)
    metrics_source_col: str = "source"
    metrics_tokens_col: str | None = "n_tok"


def private_spec_copy(spec: PipelineSpec) -> PipelineSpec:
    """Copy a spec with its processor param dicts duplicated, so runtime
    state compile_pipeline writes back (frozen kv expand keys) stays private
    to one run/query and a spec object reused across datasets never carries
    stale frozen keys."""
    import dataclasses

    return dataclasses.replace(
        spec, processors=[(n, dict(p)) for n, p in spec.processors]
    )


def compile_pipeline(
    df: DataFrame, spec: PipelineSpec, metrics: MetricsRegistry | None = None
) -> DataFrame:
    """Apply processors + tag injection + routing + shard hashing; returns the
    routed DataFrame (``__sink__``, ``__bucket__``, ``__shardhash__`` cols)."""
    metrics = metrics or MetricsRegistry()
    out = metrics.observe_counts(df, f"{spec.name}.in")

    for proc_name, params in spec.processors:
        if proc_name not in PROCESSORS:
            raise KeyError(f"unknown processor {proc_name!r}")
        kwargs = dict(params)
        if "options" in kwargs and isinstance(kwargs["options"], Mapping):
            kwargs["options"] = ParserOptions(**kwargs["options"])
        if (
            proc_name == "parse_key_value"
            and kwargs.get("expand_keys")
            # None = not yet frozen; a frozen EMPTY list must stay frozen
            # (an empty batch 0 re-triggering discovery would give batch 1
            # a different column set — the exact divergence freezing exists
            # to prevent)
            and kwargs.get("keys") is None
            and isinstance(params, dict)
        ):
            # Freeze dynamic key discovery on the spec: foreachBatch
            # re-compiles the chain per micro-batch, and per-batch
            # discovery would give each batch=<id> directory its own
            # column set. Discover against THIS frame once, then write
            # the list back so every later compile projects identically.
            from loongcollector_spark.operators.parse_kv import discover_keys

            probe = PROCESSORS[proc_name](
                out, **{**kwargs, "expand_keys": False}
            )
            frozen = discover_keys(
                probe, F.map_keys(F.col(kwargs.get("map_column", "kv"))), kwargs.get("sample_rows")
            )
            if frozen:
                # only freeze a decision backed by data: an empty probe
                # frame (streaming batch 0 before files land) OR a batch
                # whose kv maps all happen to be empty says nothing about
                # the key set — leave discovery open so a later batch with
                # real pairs can still expand. Trade-off: a no-pairs batch 0
                # is then written without kv columns while later batches
                # carry them — read multi-batch sink dirs with
                # mergeSchema=true if batch 0 can legitimately contain
                # zero k=v pairs. NB: this writes into the
                # spec's params dict so foreachBatch re-compiles project
                # identically — run_pipeline/start_fanout_query hand
                # compile_pipeline a PRIVATE spec copy so the caller's
                # object never carries frozen state across datasets.
                params["keys"] = frozen
                kwargs["keys"] = frozen
        out = PROCESSORS[proc_name](out, **kwargs)

    # tag injection (processor_tag_native / ProcessorTag)
    if spec.tags:
        out = enrich.add_fields(out, spec.tags, ignore_if_exist=False)

    if spec.route_mode == "first_match":
        out = route.route_first_match(
            out, spec.routes, default_sink=spec.default_sink, drop_dismatch=spec.drop_dismatch
        )
    # fanout mode routes at write time (sink_frames) from the cached parent

    if spec.shard_keys:
        out = agg_ops.shard_hash(
            out, spec.shard_keys, spec.shard_count,
            connector=spec.shard_connector, repartition=False
        )
    out = metrics.observe_counts(out, f"{spec.name}.routed")
    return out


def sink_names(spec: PipelineSpec) -> list[str]:
    """The Router's sinks (Router.cpp:50-82): every route's sink, then the
    default. Fanout has no default sink (a row matching no route goes
    nowhere), and DropDisMatch drops first-match misses instead of
    delivering them (aggregator_router.go:119-135)."""
    names = list(dict.fromkeys(r.sink for r in spec.routes))
    if (
        spec.route_mode == "first_match"
        and spec.default_sink
        and not spec.drop_dismatch
        and spec.default_sink not in names
    ):
        names.append(spec.default_sink)
    return names


def sink_frames(routed: DataFrame, spec: PipelineSpec) -> dict[str, DataFrame]:
    """Each sink's slice of the routed frame, in ``sink_names`` order. The
    caller persists ``routed``: every slice scans that one cached parent."""
    if spec.route_mode == "fanout":
        return route.route_fanout(routed, spec.routes)
    return {
        name: routed.filter(F.col(route.SINK_COLUMN) == name) for name in sink_names(spec)
    }


def sink_spec(spec: PipelineSpec, name: str, output_base: str | None) -> SinkSpec:
    """The configured sink, else parquet under ``output_base``, else noop."""
    if name in spec.sinks:
        return spec.sinks[name]
    if output_base is not None:
        return SinkSpec(name=name, path=f"{output_base}/{name}")
    return SinkSpec(name=name, format="noop")


def run_pipeline(
    df: DataFrame,
    spec: PipelineSpec,
    output_base: str | None = None,
    metrics: MetricsRegistry | None = None,
    checkpoint: bool = False,
    run_id: str = "run",
) -> dict[str, Any]:
    """Execute the pipeline: write every sink + the metrics rollup table.
    Returns {sink: counters, "metrics": rollup rows, "elapsed_sec": ...}."""
    metrics = metrics or MetricsRegistry()
    t0 = time.time()
    spec = private_spec_copy(spec)  # freeze state must not leak to the caller
    routed = compile_pipeline(df, spec, metrics).persist()
    try:
        per_sink = sink_frames(routed, spec)

        def deliver(sink_name: str, sink_df: DataFrame) -> Any:
            sink = sink_spec(spec, sink_name, output_base)
            if checkpoint and sink.format == "parquet" and sink.path:
                return lineage.checkpointed_write(
                    sink_df, sink.path, run_id=run_id, tokens_col=spec.metrics_tokens_col
                )
            return write_sink(sink_df, sink)

        # Materialize the cache once, and with it the observed counters, in
        # one full scan: concurrent sinks would each build it, and a sink's
        # filtered scan may report no observed counters (a checkpointed
        # resume that scans only its pending buckets reports none).
        routed.count()
        # checkpointed writes toggle session-level conf (partitionOverwriteMode)
        # inside a context manager — not safe across concurrent driver threads
        if checkpoint or len(per_sink) < 2:
            results = {name: deliver(name, sdf) for name, sdf in per_sink.items()}
        else:
            # The reference flushes every sink from its own runner thread
            # (FlusherRunner); Spark's scheduler likewise accepts concurrent
            # jobs from driver threads — each sink scans the cached routed
            # parent, so the per-sink jobs overlap instead of running
            # back-to-back.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(len(per_sink), 8)) as pool:
                futures = {
                    name: pool.submit(deliver, name, sdf) for name, sdf in per_sink.items()
                }
                results = {name: fut.result() for name, fut in futures.items()}

        # headline rollup: per (source, sink) rows/bytes/tokens, salted —
        # exported as data, like the reference's self-monitoring metric
        # records (pluginmanager/metric_export.go:40-62)
        if spec.metrics_tokens_col and spec.route_mode == "first_match":
            rollup = agg_ops.sink_metrics(
                routed,
                source_col=spec.metrics_source_col,
                tokens_col=spec.metrics_tokens_col,
            )
            results["metrics_rollup"] = [r.asDict() for r in rollup.collect()]
            if output_base is not None and results["metrics_rollup"]:
                # empty-input pipelines produce an empty rollup;
                # createDataFrame on [] cannot infer a schema and would fail
                # the whole run AFTER every sink already delivered
                spark = routed.sparkSession
                spark.createDataFrame(results["metrics_rollup"]).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{output_base}/_metrics")
    finally:
        routed.unpersist()

    results["elapsed_sec"] = time.time() - t0
    results["stage_counters"] = metrics.export()
    return results

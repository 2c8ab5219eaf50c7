"""Self-monitoring counters, mirroring the reference's per-plugin metrics.

The reference stamps every processor/flusher with counters
(core/monitor/metric_constants/MetricConstants.h:56-83; e.g. parser counters at
core/plugin/processor/ProcessorParseRegexNative.cpp:95-98):

    in_events_total, in_size_bytes, out_events_total, discarded_events_total,
    out_failed_events_total, out_key_not_found_events_total,
    out_successful_events_total, total_process_time_ms

Spark-first mapping: each pipeline stage registers a ``pyspark.sql.Observation``
(zero extra passes — metrics ride the same job), and the registry exports the
same labeled-record shape as the reference's metric_export
(pluginmanager/metric_export.go:40-62). Time-based counters here are wall
clock per job; per-layer time is measured by perfbench's traced run
(``--trace 1``), which ablates the pipeline prefix by prefix.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

IN_EVENTS_TOTAL = "in_events_total"
IN_SIZE_BYTES = "in_size_bytes"
OUT_EVENTS_TOTAL = "out_events_total"
OUT_SUCCESSFUL_EVENTS_TOTAL = "out_successful_events_total"
OUT_FAILED_EVENTS_TOTAL = "out_failed_events_total"
OUT_KEY_NOT_FOUND_EVENTS_TOTAL = "out_key_not_found_events_total"
DISCARDED_EVENTS_TOTAL = "discarded_events_total"


@dataclass
class MetricsRegistry:
    """Collects per-stage Observations; ``export()`` after the job action."""

    observations: dict[str, Observation] = field(default_factory=dict)
    static: dict[str, dict[str, Any]] = field(default_factory=dict)

    def observe(self, df: DataFrame, stage: str, *metrics: Column) -> DataFrame:
        """Attach named aggregate metrics to a stage; free-riding on the job."""
        obs = Observation(stage)
        self.observations[stage] = obs
        return df.observe(obs, *metrics)

    def observe_counts(
        self, df: DataFrame, stage: str, size_col: str | None = None
    ) -> DataFrame:
        metrics = [F.count(F.lit(1)).alias(IN_EVENTS_TOTAL)]
        if size_col is not None:
            metrics.append(F.sum(F.length(F.col(size_col))).alias(IN_SIZE_BYTES))
        return self.observe(df, stage, *metrics)

    def record(self, stage: str, **values: Any) -> None:
        """Driver-side counters (e.g. wall-clock, rows written per sink)."""
        self.static.setdefault(stage, {}).update(values)

    def export(self) -> list[dict[str, Any]]:
        """Labeled records like the reference's metric_export shape:
        [{"label.plugin": stage, "value.<counter>": n, ...}]. Call it after
        the action that ran the observed plan: an observation's ``get``
        waits for that job, and its failure reaches the caller."""
        records: list[dict[str, Any]] = []
        for stage, obs in self.observations.items():
            vals = dict(obs.get)
            records.append({"label.plugin": stage, **{f"value.{k}": v for k, v in vals.items()}})
        for stage, vals in self.static.items():
            records.append({"label.plugin": stage, **{f"value.{k}": v for k, v in vals.items()}})
        return records

    def get(self, stage: str) -> dict[str, Any]:
        if stage in self.observations:
            return dict(self.observations[stage].get)
        return dict(self.static.get(stage, {}))

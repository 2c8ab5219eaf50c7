"""Routing / fan-out — the reference's defining dataflow operator.

Two distinct semantics, both reproduced:

1. C++ ``Router`` (core/collection_pipeline/route/Router.cpp:50-82): each
   flusher has an optional ``Condition``; a group is delivered to EVERY
   matching flusher (fan-out DUPLICATION). Conditions are event-type equality
   or tag equality, optionally discarding the matched tag on delivery
   (Condition.h:28-73). Spark: per-sink ``filter`` views over ONE routed
   DataFrame — Spark's immutability makes the reference's
   copy-minimization a no-op.

2. ``aggregator_logstore_router`` (aggregator_router.go:97-135): first
   full-regex-match over a content key WINS (single-sink demux); non-matching
   rows go to a default sink or are dropped (``DropDisMatch``). Spark: one
   ``when`` cascade producing a ``__sink__`` column — exactly one sink per
   row, so the downstream write can partition by sink with no duplication.

The operators here only label and slice. The runner owns the cached parent:
``pipeline.sink_frames`` (shared by ``run_pipeline`` and the streaming
``foreachBatch`` body) slices a routed frame the runner persisted once and
releases after its last sink.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINK_COLUMN = "__sink__"
DEFAULT_SINK = "default"


@dataclass(frozen=True)
class Condition:
    """Route condition (Condition.h:28-73): one of event_type / tag / regex."""

    event_type: str | None = None
    tag_key: str | None = None
    tag_value: str | None = None
    content_key: str | None = None
    content_regex: str | None = None
    discard_tag: bool = False

    def to_column(self) -> Column:
        conds: list[Column] = []
        if self.event_type is not None:
            conds.append(F.col("event_type") == self.event_type)
        if self.tag_key is not None:
            conds.append(F.col(self.tag_key) == F.lit(self.tag_value))
        if self.content_key is not None:
            # router regex is a FULL match (aggregator_router.go:106 —
            # the leftmost match must span the whole value). Wrap
            # unconditionally: a user-supplied leading '^' would otherwise
            # downgrade to a prefix match; nested anchors inside (?:...)
            # stay valid and keep full-match semantics.
            pat = "^(?:" + (self.content_regex or "") + ")$"
            conds.append(F.col(self.content_key).rlike(pat))
        if not conds:
            return F.lit(True)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out


@dataclass(frozen=True)
class Route:
    sink: str
    condition: Condition | None = None  # None = always match


def route_fanout(df: DataFrame, routes: Sequence[Route]) -> dict[str, DataFrame]:
    """C++ Router semantics: every matching sink receives the row. Returns
    per-sink filter views of ``df``; persist ``df`` first so the N sinks
    scan one upstream computation."""
    out: dict[str, DataFrame] = {}
    # multiple routes may target the same sink — the Router delivers a row to
    # a flusher when ANY of its conditions match, so OR them (a dict overwrite
    # here would silently drop rows matching only the later condition)
    for sink, sink_routes in _routes_by_sink(routes).items():
        cond = _any_condition(sink_routes)
        sink_df = df if cond is None else df.filter(cond)
        drop_tags = {
            r.condition.tag_key
            for r in sink_routes
            if r.condition and r.condition.discard_tag and r.condition.tag_key
        }
        for tag in sorted(drop_tags):
            # per-row fidelity for mixed routes to one sink: a row that also
            # matched a NON-discarding route keeps its tag (the reference
            # discards the tag per matched route, not per sink); only when
            # every route to the sink discards it does the column vanish.
            # Columnar divergence (documented): a row matching both a
            # discarding and a keeping route is delivered ONCE with the tag
            # kept, where the reference's per-route delivery would emit it
            # twice (with and without).
            keepers = [
                r
                for r in sink_routes
                if r.condition is None
                or not (r.condition.discard_tag and r.condition.tag_key == tag)
            ]
            if not keepers:
                sink_df = sink_df.drop(tag)
            else:
                keep_cond = _any_condition(keepers)
                if keep_cond is not None:
                    sink_df = sink_df.withColumn(
                        tag, F.when(keep_cond, F.col(tag))
                    )
        out[sink] = sink_df
    return out


def _routes_by_sink(routes: Sequence[Route]) -> dict[str, list[Route]]:
    by_sink: dict[str, list[Route]] = {}
    for r in routes:
        by_sink.setdefault(r.sink, []).append(r)
    return by_sink


def _any_condition(sink_routes: Sequence[Route]) -> Column | None:
    """OR of all route conditions for one sink; None = unconditional."""
    if any(r.condition is None for r in sink_routes):
        return None
    cols = [r.condition.to_column() for r in sink_routes]  # type: ignore[union-attr]
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def route_first_match(
    df: DataFrame,
    routes: Sequence[Route],
    default_sink: str | None = DEFAULT_SINK,
    drop_dismatch: bool = False,
    sink_column: str = SINK_COLUMN,
) -> DataFrame:
    """logstore_router semantics: first matching route wins; one __sink__
    label per row. No shuffle — the sink column is just another expression;
    the writer partitions by it. ``drop_dismatch`` drops rows no route
    matched, whatever ``default_sink`` is (aggregator_router.go:119-135)."""
    expr: Column = F.lit(None if drop_dismatch else default_sink).cast("string")
    for r in reversed(routes):
        cond = r.condition.to_column() if r.condition else F.lit(True)
        expr = F.when(cond, F.lit(r.sink)).otherwise(expr)
    out = df.withColumn(sink_column, expr)
    if drop_dismatch:
        out = out.filter(F.col(sink_column).isNotNull())
    return out


def dynamic_topic(df: DataFrame, pattern: str, dest: str = "__topic__") -> DataFrame:
    """kafka-v2 dynamic topic ``%{content.field}`` formatting
    (flusher_kafka_v2.go:104, pkg/fmtstr/format_topic.go:18): compile the
    pattern into a concat expression at plan time."""
    import re

    parts: list[Column] = []
    pos = 0
    for m in re.finditer(r"%\{(?:content\.)?([A-Za-z0-9_.]+)\}", pattern):
        if m.start() > pos:
            parts.append(F.lit(pattern[pos : m.start()]))
        parts.append(F.coalesce(F.col(m.group(1)).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(pattern):
        parts.append(F.lit(pattern[pos:]))
    return df.withColumn(dest, F.concat(*parts) if parts else F.lit(pattern))

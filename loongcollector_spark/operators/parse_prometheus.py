"""Prometheus exposition-text parsing + relabeling —
``ProcessorPromParseMetricNative`` / ``ProcessorPromRelabelMetricNative``.

Reference: the prometheus input's inner processors parse scraped exposition
text line-by-line into metric events (core/plugin/processor/inner/
ProcessorPromParseMetricNative.cpp:27-66 via prometheus/labels/TextParser)
and apply relabel configs (ProcessorPromRelabelMetricNative, the standard
Prometheus relabel_config actions). The scrape loop itself is a connector
(out of scope); the parsing/relabel SEMANTICS are re-expressed here as pure
column expressions.

Line grammar handled: ``name{l1="v1",...} value [timestamp_ms]`` with
optional label set and timestamp, ``# HELP``/``# TYPE``/blank lines skipped,
label-value escapes (\\\\, \\", \\n), and the special values +Inf/-Inf/NaN.
One match of the line pattern per row gives the name, the label body, the
value and the timestamp (``parse_regex.match_parts``); the label pairs are
then read with ``regexp_extract_all``.

Output shape matches the repo's metric convention (log_to_metric /
otel_metric_shape): ``__name__``, ``__labels__`` (sorted 'k#$#v' entries
joined by '|'), ``__value__`` double, ``__time_nano__`` long; plus a
``labels_map``
map column kept for relabeling.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.enrich import METRIC_LABEL_SEP
from loongcollector_spark.operators.parse_common import keep_where
from loongcollector_spark.operators.parse_regex import group, match_parts, matched

_LINE_RE = (
    r"^\s*([a-zA-Z_:][a-zA-Z0-9_:]*)\s*(?:\{(.*)\})?\s*(\S+)(?:\s+(-?\d+))?\s*$"
)
_LABEL_RE = r'([a-zA-Z_][a-zA-Z0-9_]*)\s*=\s*"((?:\\.|[^"\\])*)"'
_PARTS = "__prom_parts__"


def _unescape(v: Column) -> Column:
    # \\ -> \, \" -> ", \n -> newline (TextParser escape set); the double
    # backslash resolves last via a sentinel so '\\n' stays a literal 'n'
    s = F.replace(v, F.lit("\\\\"), F.lit("\x00"))
    s = F.replace(s, F.lit('\\"'), F.lit('"'))
    s = F.replace(s, F.lit("\\n"), F.lit("\n"))
    return F.replace(s, F.lit("\x00"), F.lit("\\"))


def _prom_value(raw: Column) -> Column:
    return (
        F.when(raw == "+Inf", F.lit(float("inf")))
        .when(raw == "-Inf", F.lit(float("-inf")))
        .when(raw == "Inf", F.lit(float("inf")))
        .when(raw == "NaN", F.lit(float("nan")))
        .otherwise(raw.try_cast("double"))
    )


def parse_prometheus(
    df: DataFrame,
    source_key: str,
    default_ts_ms: int | None = None,
    keep_labels_map: bool = True,
) -> DataFrame:
    """Parse one exposition line per row into a metric row; comment/blank/
    unparseable lines are dropped (TextParser.ParseLine returning false).
    ``default_ts_ms`` is the scrape-timestamp fallback for lines without an
    explicit timestamp (PROMETHEUS_SCRAPE_TIMESTAMP metadata)."""
    parts = F.col(_PARTS)
    name, label_body, raw_value, raw_ts = (group(parts, i) for i in range(1, 5))
    keys = F.regexp_extract_all(label_body, F.lit(_LABEL_RE), 1)
    vals = F.transform(
        F.regexp_extract_all(label_body, F.lit(_LABEL_RE), 2), _unescape
    )
    value = _prom_value(raw_value)
    ok = matched(parts, 4) & value.isNotNull()
    ts_nano = F.when(raw_ts != "", raw_ts.cast("long") * 1_000_000).otherwise(
        F.lit(default_ts_ms * 1_000_000 if default_ts_ms is not None else None).cast("long")
    )
    staged = df.withColumn(_PARTS, match_parts(F.col(source_key), _LINE_RE, 4, full_match=False))
    out = (
        keep_where(staged, ok)  # the matched lines with a readable value
        .withColumn("__name__", name)
        .withColumn("labels_map", F.map_from_arrays(keys, vals))
        .withColumn("__labels__", render_labels(F.col("labels_map")))
        .withColumn("__value__", value)
        .withColumn("__time_nano__", ts_nano)
        .drop(source_key, _PARTS)
    )
    if not keep_labels_map:
        out = out.drop("labels_map")
    return out


def render_labels(labels_map: Column) -> Column:
    """map -> the SLS label wire format: sorted 'k#$#v' entries joined by
    '|' (helper.MetricLabels.String, pkg/helper/log_helper.go:209-225)."""
    return F.array_join(
        F.sort_array(
            F.transform(
                F.map_entries(labels_map),
                lambda e: F.concat(e["key"], F.lit("#$#"), e["value"]),
            )
        ),
        METRIC_LABEL_SEP,
    )


@dataclass(frozen=True)
class RelabelConfig:
    """One prometheus relabel_config (the actions
    ProcessorPromRelabelMetricNative applies)."""

    action: str = "replace"  # replace | keep | drop | labeldrop | labelkeep
    source_labels: Sequence[str] = field(default_factory=tuple)
    separator: str = ";"
    regex: str = "(.*)"
    target_label: str | None = None
    replacement: str = "$1"


def prom_relabel(df: DataFrame, configs: Sequence[RelabelConfig]) -> DataFrame:
    """Apply relabel configs in order over the ``labels_map`` column (regexes
    are FULL-anchored, as prometheus anchors them). ``__labels__`` is
    re-rendered at the end. ``__name__`` participates via the virtual
    ``__name__`` source label."""
    out = df
    for cfg in configs:
        anchored = f"^(?:{cfg.regex})$"
        if cfg.action in ("keep", "drop"):
            m = _named_source(out, cfg).rlike(anchored)
            out = out.filter(m if cfg.action == "keep" else ~m)
        elif cfg.action == "replace":
            if not cfg.target_label:
                raise ValueError("replace action needs target_label")
            src = _named_source(out, cfg)
            matched = src.rlike(anchored)
            newval = F.regexp_replace(src, anchored, cfg.replacement)
            if cfg.target_label == "__name__":
                out = out.withColumn(
                    "__name__", F.when(matched, newval).otherwise(F.col("__name__"))
                )
            else:
                updated = F.map_concat(
                    F.map_filter(
                        F.col("labels_map"), lambda k, v: k != cfg.target_label
                    ),
                    F.map_from_arrays(
                        F.array(F.lit(cfg.target_label)), F.array(newval)
                    ),
                )
                out = out.withColumn(
                    "labels_map",
                    F.when(matched, updated).otherwise(F.col("labels_map")),
                )
        elif cfg.action in ("labeldrop", "labelkeep"):
            keep_expr = (
                (lambda k, v: ~k.rlike(anchored))
                if cfg.action == "labeldrop"
                else (lambda k, v: k.rlike(anchored))
            )
            out = out.withColumn(
                "labels_map", F.map_filter(F.col("labels_map"), keep_expr)
            )
        else:
            raise ValueError(f"unsupported relabel action {cfg.action!r}")
    return out.withColumn("__labels__", render_labels(F.col("labels_map")))


def _named_source(df: DataFrame, cfg: RelabelConfig) -> Column:
    cols = []
    for l in cfg.source_labels:
        if l == "__name__":
            cols.append(F.coalesce(F.col("__name__"), F.lit("")))
        else:
            cols.append(F.coalesce(F.col("labels_map").getItem(l), F.lit("")))
    if not cols:
        return F.lit("")
    return F.concat_ws(cfg.separator, *cols)

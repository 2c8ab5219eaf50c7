"""Container runtime log decoding — ``processor_parse_container_log_native``.

Reference (core/plugin/processor/inner/ProcessorParseContainerLogNative.cpp):

- containerd text (lines 176-258): ``<time> <stdout|stderr> [P|F ]<content>``
  — time is everything before the first space, the source must be
  stdout/stderr, and a single-char P/F tag followed by the delimiter marks a
  partial/full chunk (``P`` feeds the BY_FLAG multiline merger; a lone ``P``
  or ``PP 1`` after the source is ordinary content, lines 227-242).
- docker json-file (lines 464-525): ``{"log": ..., "stream": ..., "time":
  ...}`` with ONE trailing newline stripped from the log content.

Outputs the reference's field names: ``_time_``, ``_source_``, ``content``
(parsed content replaces the source), plus ``__is_partial__`` for the
merge_by_flag stage. Failure semantics: invalid lines keep their original
content untouched (``keep_source_on_fail``, the default, line 189) or are
dropped; ``ignore_stdout``/``ignore_stderr`` drop the matching stream.

Spark-first: both formats are pure column expressions (split / from_json),
staged once per row; the decode fuses into the scan under whole-stage
codegen, and dropped rows leave through ``keep_where`` above the staging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import keep_where, scratch_column

TIME_KEY = "_time_"
SOURCE_KEY = "_source_"
CONTENT_KEY = "content"
PARTIAL_KEY = "__is_partial__"

CONTAINERD_TEXT = "containerd_text"
DOCKER_JSON = "docker_json-file"


def parse_container_log(
    df: DataFrame,
    source_key: str = "content",
    fmt: str = CONTAINERD_TEXT,
    ignore_stdout: bool = False,
    ignore_stderr: bool = False,
    keep_source_on_fail: bool = True,
) -> DataFrame:
    src = F.col(source_key)
    # the split / from_json is staged once in a scratch column that the
    # verdict, the dropped streams and every output field read
    tmp = scratch_column(df, "__container_parts__")
    parts = F.col(tmp)
    if fmt == CONTAINERD_TEXT:
        parsed = F.split(src, " ", 3)
        time_v = F.try_element_at(parts, F.lit(1))
        source_v = F.try_element_at(parts, F.lit(2))
        rest = F.try_element_at(parts, F.lit(3))
        ok = (
            src.isNotNull()
            & (F.size(parts) == 3)
            & source_v.isin("stdout", "stderr")
        )
        is_part = rest.startswith("P ")
        is_full = rest.startswith("F ")
        content_v = F.when(is_part | is_full, F.substring(rest, 3, 1 << 30)).otherwise(rest)
        partial_v = F.coalesce(is_part, F.lit(False))
    elif fmt == DOCKER_JSON:
        parsed = F.from_json(src, "log string, stream string, time string")
        time_v = parts["time"]
        source_v = parts["stream"]
        ok = (
            src.isNotNull()
            & parts.isNotNull()
            & source_v.isin("stdout", "stderr")
        )
        # docker appends one newline per complete line — strip exactly one
        # (\z = absolute end: Java's $ also matches BEFORE a final newline,
        # which would strip two)
        content_v = F.regexp_replace(parts["log"], "\\n\\z", "")
        partial_v = F.lit(False)
    else:
        raise ValueError(f"unknown container log format {fmt!r}")

    out = df.withColumn(tmp, parsed)
    if not keep_source_on_fail or ignore_stdout or ignore_stderr:
        keep = F.lit(keep_source_on_fail) | ok
        if ignore_stdout:
            keep &= ~ok | (source_v != "stdout")
        if ignore_stderr:
            keep &= ~ok | (source_v != "stderr")
        out = keep_where(out, keep)
    # one projection: every field reads the source column before CONTENT_KEY
    # replaces it
    out = out.withColumns({
        TIME_KEY: F.when(ok, time_v),
        SOURCE_KEY: F.when(ok, source_v),
        PARTIAL_KEY: F.when(ok, partial_v).otherwise(F.lit(False)),
        CONTENT_KEY: F.when(ok, content_v).otherwise(src if keep_source_on_fail else F.lit(None)),
    })
    if source_key != CONTENT_KEY:
        out = out.drop(source_key)
    return out.drop(tmp)

"""Timestamp parsing — ``processor_parse_timestamp_native`` /
``processor_strptime`` / ``processor_gotime``.

Reference: strptime-format parse of SourceKey (incl. sub-second ``%f``),
timezone shift, sets the event time
(core/plugin/processor/ProcessorParseTimestampNative.cpp:44-52,188-202;
plugins/processor/strptime/strptime.go:41-77; gotime adds reformat into a
DestKey, plugins/processor/gotime/processor_gotime.go:33-54).

Spark-first: strptime directives are translated to Spark datetime patterns at
plan time (a tiny compiler, like the reference's Init-time format setup), then
``to_timestamp`` / ``date_format`` / ``to_utc_timestamp`` run JVM-side.
Nanosecond tails beyond microseconds are kept in a separate int column
(Spark timestamps are µs, mirrored by the reference's separate ns field,
core/models/PipelineEvent.h:76-77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import keep_where

EVENT_TIME = "__event_time__"

_STRPTIME_TO_SPARK = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%M": "mm", "%S": "ss", "%j": "DDD",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%z": "xx", "%Z": "zz", "%p": "a", "%I": "hh",
    "%f": "SSSSSS", "%%": "%",
}


def strptime_to_spark(fmt: str) -> str:
    """Compile a strptime format to a Spark datetime pattern (plan-time)."""
    out: list[str] = []
    i = 0
    literal: list[str] = []

    def flush() -> None:
        if literal:
            text = "".join(literal)
            if any(c.isalpha() for c in text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            literal.clear()

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            if directive in _STRPTIME_TO_SPARK:
                flush()
                out.append(_STRPTIME_TO_SPARK[directive])
                i += 2
                continue
        literal.append(fmt[i])
        i += 1
    flush()
    return "".join(out)


def parse_timestamp(
    df: DataFrame,
    source_key: str,
    source_format: str,
    source_timezone: str | None = None,
    dest: str = EVENT_TIME,
    keep_on_fail: bool = True,
    source_year: int | None = None,
) -> DataFrame:
    """Parse SourceKey with a strptime format into an event-time column.

    ``source_year`` is the native SourceYear (TimeUtil.cpp Strptime mode 1,
    :134-137): when the format carries no year specifier, fill that year
    instead of the epoch default; a format that already has %Y/%y wins
    (:128-131 'already got year information'). Mode 2 (SourceYear=0, deduce
    from the machine clock) is nondeterministic and rejected upstream."""
    spark_fmt = strptime_to_spark(source_format)
    src = F.col(source_key)
    # strip literal '%%' pairs first so an escaped '%%Y' (literal text) does
    # not count as a year specifier
    fmt_specs = source_format.replace("%%", "")
    if source_year and not any(y in fmt_specs for y in ("%Y", "%y")):
        spark_fmt = "yyyy " + spark_fmt
        src = F.concat(F.lit(f"{int(source_year)} "), src)
    # try_to_timestamp: malformed values null out instead of failing the
    # whole job under ANSI mode (the reference logs and keeps the event)
    ts = F.try_to_timestamp(src, F.lit(spark_fmt))
    if source_timezone:
        ts = F.to_utc_timestamp(ts, source_timezone)
    out = df.withColumn(dest, ts)
    return out if keep_on_fail else keep_where(out, F.col(dest).isNotNull())


def reformat_time(
    df: DataFrame,
    source_key: str,
    source_format: str,
    dest_key: str,
    dest_format: str,
    source_timezone: str | None = None,
    dest_timezone: str | None = None,
    keep_source: bool = True,
) -> DataFrame:
    """processor_gotime: parse + reformat into DestKey with tz conversion.
    ``source_format`` may also be one of the gotime fixed epoch patterns
    'seconds'/'milliseconds'/'microseconds' (gotime.go:36), parsing the
    column as a numeric unix timestamp at that resolution."""
    src = F.col(source_key)
    if source_format == "seconds":
        ts = F.timestamp_seconds(src.try_cast("long"))
    elif source_format == "milliseconds":
        ts = F.timestamp_millis(src.try_cast("long"))
    elif source_format == "microseconds":
        ts = F.timestamp_micros(src.try_cast("long"))
    else:
        ts = F.try_to_timestamp(src, F.lit(strptime_to_spark(source_format)))
    if source_timezone:
        ts = F.to_utc_timestamp(ts, source_timezone)
    if dest_timezone:
        ts = F.from_utc_timestamp(ts, dest_timezone)
    out = df.withColumn(dest_key, F.date_format(ts, strptime_to_spark(dest_format)))
    if not keep_source and source_key != dest_key:
        out = out.drop(source_key)
    return out


_GO_LAYOUT_TOKENS = [
    # longest-first so "2006" wins over "06", "15" over "1", "05" over "5"
    ("2006", "%Y"), ("01", "%m"), ("02", "%d"), ("15", "%H"),
    ("04", "%M"), ("05", "%S"), ("06", "%y"),
    ("January", "%B"), ("Jan", "%b"), ("Monday", "%A"), ("Mon", "%a"),
    ("PM", "%p"), ("pm", "%p"), ("03", "%I"),
    ("-0700", "%z"), ("Z0700", "%z"), ("MST", "%Z"),
    (".000000", ".%f"), (".000", ".%f"),
]


GO_EPOCH_FORMATS = ("seconds", "milliseconds", "microseconds")


def go_layout_to_strptime(layout: str) -> str:
    """Go reference-time layout ("2006-01-02 15:04:05") -> strptime format —
    the conversion processor_gotime configs need to ride reformat_time
    (which speaks strptime; gotime.go:33-54 speaks Go layouts). The fixed
    epoch formats ('seconds'/'milliseconds'/'microseconds') pass through
    untouched — reformat_time handles them natively. Non-padded Go tokens
    ("1","2","3","4","5") have no strptime equivalent; a digit surviving
    conversion raises instead of silently parsing every row to null."""
    if layout in GO_EPOCH_FORMATS:
        return layout
    out = layout
    for go, c in _GO_LAYOUT_TOKENS:
        out = out.replace(go, c)
    import re as _re

    residue = _re.sub(r"%.", "", out)
    if _re.search(r"\d", residue):
        raise ValueError(
            f"unsupported (non-padded?) Go layout token in {layout!r} -> {out!r}; "
            "use the zero-padded reference-time forms (2006, 01, 02, 15, 04, 05)"
        )
    return out

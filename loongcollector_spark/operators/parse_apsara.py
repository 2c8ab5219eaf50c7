"""Apsara log format parser — ``processor_parse_apsara_native``.

Reference (core/plugin/processor/ProcessorParseApsaraNative.cpp): lines like

    [2024-01-01 12:00:00.123456]\t[INFO]\t[12345]\t[cls:42]\tkey1:val1\tkey2:val2

microsecond time prefix in brackets, then tab-separated fields, trailing
``key:value`` pairs. Duplicate keys are tolerated by the reference's ordered
content list (core/models/LogEvent.h:115-121, the SLS log-reduce contract);
two mappings are offered:

- ``map_column`` (fast path): duplicates collapse last-wins — a map column
  prunes/serializes cheaply but cannot hold ordered repeats;
- ``ordered_pairs_column`` (opt-in fidelity path): the raw
  ``array<struct<key,value>>`` in insertion order, duplicates preserved —
  exactly the reference's ordered content list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import ParserOptions, apply_parser_options
from loongcollector_spark.operators.parse_regex import group, match_parts, matched

# one match reads the bracketed time, the first known [LEVEL] after it
# (an empty group when there is none) and the tail after the time
APSARA_RE = (
    r"^\[(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(?:\.\d+)?)\]"
    r"(?=(?:(?s:.*?)\[(INFO|WARNING|WARN|ERROR|DEBUG|FATAL)\])?)((?s:.*))"
)
_PARTS = "__apsara_parts__"


def parse_apsara(
    df: DataFrame,
    source_key: str,
    map_column: str = "fields",
    time_column: str = "apsara_time",
    level_column: str = "__LEVEL__",
    ordered_pairs_column: str | None = None,
    timezone: str | None = None,
    options: ParserOptions | None = None,
) -> DataFrame:
    """``timezone`` is the native Timezone param ("GMT+08:00" form,
    ProcessorParseApsaraNative.cpp:52-70 / ParseLogTimeZoneOffsetSecond):
    the log's wall-clock time is interpreted in that zone and normalized,
    the columnar analogue of the offset subtraction."""
    options = options or ParserOptions()
    parts = F.col(_PARTS)
    time_str = group(parts, 1)
    # trailing key:value fields: tab-separated, split at the first ':', kept
    # when the key is non-empty and holds no '['
    pairs = F.filter(
        F.transform(F.split(group(parts, 3), "\t"), lambda p: F.split(p, ":", 2)),
        lambda kv: (F.size(kv) == 2) & (F.get(kv, 0) != "") & ~F.get(kv, 0).contains("["),
    )
    entries = F.transform(
        pairs, lambda kv: F.struct(F.get(kv, 0).alias("key"), F.get(kv, 1).alias("value"))
    )
    extracted = {
        time_column: (
            F.to_utc_timestamp(F.to_timestamp(time_str), timezone)
            if timezone else F.to_timestamp(time_str)
        ),
        level_column: group(parts, 2),
        map_column: F.map_from_entries(entries),
    }
    if ordered_pairs_column:
        extracted[ordered_pairs_column] = entries
    out = df.withColumn(_PARTS, match_parts(F.col(source_key), APSARA_RE, 3, full_match=False))
    return apply_parser_options(out, source_key, matched(parts, 3), extracted, options).drop(_PARTS)

"""Network input twins over Spark's own streaming sources.

The reference's network inputs (plugins/input/{syslog,httpserver,udpserver})
are connector territory Spark already owns (SURVEY §2.1); this module adds
the thin decode layer so a socket/file stream carries the same fields the
reference's inputs emit:

- ``read_socket_lines`` — TCP line stream (Spark's socket source; use the
  kafka/file sources in production — the socket source is single-connection
  and unreplayable, exactly like the reference's plain TCP syslog listener).
- ``parse_syslog_rfc3164`` — the decode the syslog input applies per
  datagram (plugins/input/syslog/parser.go:28-118): PRI header split into
  priority / facility (pri>>3) / severity (pri&7), timestamp, hostname,
  program tag, content, all read from one match of the pattern per row
  (``parse_regex.match_parts``). Unparseable lines keep the raw payload in
  ``content`` with -1 numeric fields (newDefaultParser behavior).

Everything is pure column expressions — the decode composes with any
processor chain in batch or streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_regex import group, match_parts, matched

# <PRI>MMM dd HH:MM:SS hostname [program[pid]: ] message — the tag part is
# OPTIONAL: the reference's rfc3164 parser ends the tag at ':' or ' ' and
# still extracts pri/timestamp/hostname for tag-less lines
_RFC3164 = (
    r"^<(\d{1,3})>"
    r"([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(\S+) "
    r"(?:([^:\[\s]+)(?:\[(\d+)\])?: )?"
    r"(.*)$"
)
_PARTS = "__syslog_parts__"


def read_socket_lines(
    spark: SparkSession, host: str, port: int, line_col: str = "content"
) -> DataFrame:
    """One row per received line (streaming). Testing/demo transport —
    production syslog should land in kafka/files first (at-least-once)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", line_col)
    )


def parse_syslog_rfc3164(
    df: DataFrame, source_key: str = "content"
) -> DataFrame:
    """RFC3164 decode as the syslog input performs it (parser.go:106-118):
    matched lines split into priority/facility/severity/timestamp/hostname/
    program/pid/content; unmatched lines keep the raw line as content with
    -1 priority/facility/severity (parser.go:44-50 defaults)."""
    src = F.col(source_key)
    parts = F.col(_PARTS)
    ok = matched(parts, 6)
    pri = group(parts, 1).try_cast("int")
    fields = {
        "priority": F.when(ok, pri).otherwise(F.lit(-1)),
        "facility": F.when(ok, F.shiftright(pri, 3)).otherwise(F.lit(-1)),
        "severity": F.when(ok, pri.bitwiseAND(F.lit(7))).otherwise(F.lit(-1)),
        "syslog_timestamp": F.when(ok, group(parts, 2)),
        "hostname": F.when(ok, group(parts, 3)),
        "program": F.when(ok, group(parts, 4)),
        "pid": F.when(ok, F.nullif(group(parts, 5), F.lit(""))),
        source_key: F.when(ok, group(parts, 6)).otherwise(src),
    }
    out = df.withColumn(_PARTS, match_parts(src, _RFC3164, 6, full_match=False))
    return out.withColumns(fields).drop(_PARTS)

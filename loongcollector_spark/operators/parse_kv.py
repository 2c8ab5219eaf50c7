"""Key/value splitting — ``processor_split_key_value``.

Reference (plugins/processor/split/keyvalue/key_value_splitter.go:29-48):
split SourceKey into pairs by ``Delimiter``, each pair into key/value by
``Separator``; quote handling; pairs without a separator get
``no_separator_key_prefix``; empty keys get ``empty_key_prefix``.

Spark-first: ``str_to_map`` is the single-expression JVM path for the common
case; the prefixing edge cases are an array-of-structs transform (still pure
JVM expressions).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_key_value(
    df: DataFrame,
    source_key: str,
    pair_delimiter: str = "\t",
    kv_separator: str = ":",
    map_column: str = "kv",
    keys: list[str] | None = None,
    no_separator_key_prefix: str | None = None,
    expand_keys: bool = False,
    sample_rows: int | None = None,
) -> DataFrame:
    """``expand_keys=True`` additionally projects every discovered key to a
    top-level column (the reference emits flat log fields, not a nested map;
    key_value_splitter.go:110-130). Discovery is a plan-time distinct-scan of
    the map keys — bound it with ``sample_rows`` or pass ``keys`` explicitly
    on the 100 TB path (same trade as SPL's parse-kv stage)."""
    src = F.col(source_key)
    if no_separator_key_prefix is None:
        m: Column = F.str_to_map(
            src, F.lit(re.escape(pair_delimiter)), F.lit(re.escape(kv_separator))
        )
    else:
        # each pair split once at its first separator; a pair without one
        # is [pair] and becomes the value of a prefixed positional key
        kvs = F.transform(
            F.split(src, re.escape(pair_delimiter)),
            lambda p: F.split(p, re.escape(kv_separator), 2),
        )

        def to_entry(kv: Column, i: Column) -> Column:
            key = F.when(F.size(kv) == 2, F.get(kv, 0)).otherwise(
                F.concat(F.lit(no_separator_key_prefix), (i + 1).cast("string"))
            )
            return F.struct(key.alias("key"), F.element_at(kv, -1).alias("value"))

        m = F.map_from_entries(F.transform(kvs, to_entry))

    out = df.withColumn(map_column, m)
    project = list(keys or [])
    if expand_keys and not project:
        project = discover_keys(out, F.map_keys(F.col(map_column)), sample_rows)
    for k in project:
        out = out.withColumn(k, F.try_element_at(F.col(map_column), F.lit(k)))
    return out


def discover_keys(
    df: DataFrame, keys: Column, sample_rows: int | None = None
) -> list[str]:
    """Plan-time distinct-scan of an ``array<string>`` keys column (sorted):
    ``map_keys`` of a parsed map, or ``json_object_keys`` of a JSON column.
    Every stage with a dynamic key set calls it: ``parse_key_value``, SPL's
    parse-json and parse-kv, and the streaming foreachBatch runner, which
    discovers ONCE and freezes the projected column set instead of
    re-discovering per micro-batch (which would give each batch=<id>
    output directory its own schema). ``sample_rows`` scans only the first
    N rows."""
    src = df.limit(sample_rows) if sample_rows else df
    return sorted(
        r.k for r in src.select(F.explode(keys).alias("k")).distinct().collect()
    )

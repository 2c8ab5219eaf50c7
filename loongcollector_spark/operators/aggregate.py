"""Grouping / batching / partitioning — the reference's aggregator family.

The reference's "aggregators" are group-by + batch assembly, not numeric
folds (SURVEY.md §2.5): pack into bounded LogGroups (aggregator_base), group
by content keys (aggregator_content_value_group), shard-hash partitioning
(aggregator_shardhash), metadata grouping (aggregator_metadata_group).
Numeric aggregation lives in the self-monitoring metric layer — which in our
graft is the per-(source, sink) rows/bytes/tokens rollup.

Scale notes:
- shard_hash uses ``xxhash64`` (same family as the reference's xxhash,
  aggregator_shardhash.go:157-161) → ``pmod`` bucket column + repartition on
  it: one shuffle, perfectly balanced by construction.
- Every numeric rollup is one ``groupBy().agg()`` of algebraic aggregates.
  Spark's partial ``HashAggregate`` runs below the single exchange, so a hot
  key of the Zipf-skewed ``source`` collapses map-side to one row per task
  and never reaches one reducer as raw rows.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PACK_ID = "__pack_id__"
SHARD_HASH = "__shardhash__"


def with_pack_id(df: DataFrame, group_size: int = 1024) -> DataFrame:
    """Stamp ``__pack_id__`` (aggregator_base.go:139-147 / FlusherSLS.cpp:
    1174-1181): a per-partition batch id. Spark mapping: partition id +
    intra-partition batch ordinal — unique, stable per task attempt."""
    seq = F.monotonically_increasing_id()  # partition-id << 33 | per-part seq
    return df.withColumn(
        PACK_ID,
        F.concat_ws(
            "-",
            F.spark_partition_id().cast("string"),
            F.floor((seq.bitwiseAND(F.lit((1 << 33) - 1))) / group_size).cast("string"),
        ),
    )


def shard_hash(
    df: DataFrame,
    source_keys: Sequence[str],
    shard_count: int = 16,
    connector: str = "_",
    bucket_column: str = "__bucket__",
    repartition: bool = True,
) -> DataFrame:
    """aggregator_shardhash (aggregator_shardhash.go:64-210): bucket =
    hash(values joined by connector) % shard_count (power of two); each row
    also gets a ``__shardhash__`` tag (md5 of the joined key, as the
    reference tags groups). Repartitioning on the bucket gives co-located
    writes per shard — the north rule's repartition keyed on
    (source, doc_id hash)."""
    if shard_count & (shard_count - 1):
        raise ValueError("shard_count must be a power of 2")
    joined = F.concat_ws(connector, *[F.col(k).cast("string") for k in source_keys])
    out = df.withColumn(
        bucket_column, F.pmod(F.xxhash64(joined), F.lit(shard_count)).cast("int")
    ).withColumn(SHARD_HASH, F.md5(joined))
    if repartition:
        out = out.repartition(shard_count, F.col(bucket_column))
    return out


def content_value_group(
    df: DataFrame,
    group_keys: Sequence[str],
    aggs: Mapping[str, Column] | None = None,
) -> DataFrame:
    """aggregator_content_value_group (…go:66-181): one output group per
    distinct GroupKeys tuple; group tags = the key values. Default payload
    mirrors the batch counters (rows per group)."""
    aggs = aggs or {"rows": F.count(F.lit(1))}
    return df.groupBy(*group_keys).agg(*[c.alias(n) for n, c in aggs.items()])


def metadata_group(
    df: DataFrame,
    metadata_keys: Sequence[str],
    max_events: int | None = None,
    drop_oversize: bool = False,
) -> DataFrame:
    """aggregator_metadata_group (…go:39-232): group by metadata keys with a
    GroupMaxEventLength cap. The reference SPLITS an over-full group into
    successive emitted groups (Add/Flush cycle); batch analogue: a
    ``__group_seq__`` column numbering each cap-sized slice per key — the
    writer emits one group per (keys, seq). ``drop_oversize=True`` instead
    discards rows beyond the first slice (DropOversizeEvent)."""
    out = df
    if max_events:
        from pyspark.sql import Window

        w = Window.partitionBy(*metadata_keys).orderBy(F.lit(1))
        out = out.withColumn("__grp_rn__", F.row_number().over(w))
        if drop_oversize:
            out = out.filter(F.col("__grp_rn__") <= max_events)
        else:
            out = out.withColumn(
                "__group_seq__", ((F.col("__grp_rn__") - 1) / max_events).cast("int")
            )
        out = out.drop("__grp_rn__")
    return out


def broadcast_count_join(
    df: DataFrame, keys: Sequence[str], cnt_col: str, prefix: str
) -> DataFrame:
    """Attach the exact per-key row count as ``cnt_col`` via a NULL-SAFE
    broadcast join (groupBy groups null keys; a plain equi-join would never
    match them back). Shared by the hot-key-safe rate-limit and
    metadata-group variants — the fact table never shuffles."""
    cnts = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias(cnt_col)
    )
    renamed = cnts
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"{prefix}{k}__")
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"{prefix}{k}__"))
        cond = c if cond is None else (cond & c)
    from pyspark.sql.functions import broadcast

    return df.join(broadcast(renamed), cond, "left").drop(
        *[f"{prefix}{k}__" for k in keys]
    )


def metadata_group_hashed(
    df: DataFrame,
    metadata_keys: Sequence[str],
    max_events: int,
    id_expr: Column,
    drop_oversize: bool = False,
) -> DataFrame:
    """Hot-key-safe metadata_group: the exact form's row_number window puts a
    hot key's whole partition through one task. Instead, slice each key into
    ``ceil(cnt/max_events)`` hash-buckets of ~max_events rows:
    ``__group_seq__ = pmod(xxhash64(id), n_groups)`` — order-insensitive,
    deterministic on retry, and the fact table only pays a broadcast-joined
    count, never a key-partitioned sort. Slices are ~max_events (hash
    variance), not exact — the DropOversize twin keeps slice 0 only."""
    out = broadcast_count_join(df, list(metadata_keys), "__mg_cnt__", "__mg_")
    n_groups = F.greatest(
        F.ceil(F.col("__mg_cnt__") / max_events).cast("long"), F.lit(1)
    )
    seq = F.pmod(F.xxhash64(id_expr), n_groups).cast("int")
    if drop_oversize:
        out = out.withColumn("__group_seq__", seq).filter(F.col("__group_seq__") == 0)
    else:
        out = out.withColumn("__group_seq__", seq)
    return out.drop("__mg_cnt__")


def context_group(
    df: DataFrame,
    source_col: str,
    order_col: str,
    max_log_count: int = 1024,
) -> DataFrame:
    """aggregator_context (plugins/aggregator/context/aggregator_context.go:
    38-60,100-180): per-source LogGroup pools where each source carries its
    OWN pack-id sequence — pack id = source-derived prefix + '-' + hex seq
    (util.NewPackIDPrefix / NewLogTagForPackID), groups capped at
    MaxLogCount logs, logs within a group in arrival order.

    Spark mapping: one window shuffle keyed by source (the reference
    serializes per source under a lock — same contract), rows ordered by
    ``order_col`` (the file offset / arrival order), seq = ordinal div
    max_log_count + 1, monotone and gapless PER SOURCE across the whole
    batch. The prefix is md5(source) instead of the reference's
    fnv(host+now) — deterministic across retries, which a distributed replay
    needs (the reference's is process-unique instead).

    Scale note: one source = one task here. A source hot enough to overflow
    a task should be sharded upstream (shard_hash) — the reference has the
    same serialization point."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(F.col(order_col))
    rn = F.row_number().over(w)
    seq = (F.floor((rn - 1) / max_log_count) + 1).cast("long")
    prefix = F.upper(F.substring(F.md5(F.col(source_col).cast("string")), 1, 16))
    return df.withColumn("__pack_seq__", seq).withColumn(
        PACK_ID, F.concat(prefix, F.lit("-"), F.upper(F.hex(seq)))
    )


def sink_metrics(
    df: DataFrame,
    source_col: str = "source",
    sink_col: str = "__sink__",
    tokens_col: str = "n_tok",
    bytes_expr: Column | None = None,
) -> DataFrame:
    """The graft's headline rollup: per (source, sink) rows/bytes/tokens —
    the reference's per-pipeline self-monitoring counters re-expressed as a
    first-class output table. One groupBy: the partial aggregate below its
    exchange collapses each hot source map-side."""
    bytes_expr = bytes_expr if bytes_expr is not None else F.col(tokens_col).cast("long") * 4
    return df.groupBy(source_col, sink_col).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(bytes_expr).alias("bytes"),
        F.sum(F.col(tokens_col).cast("long")).alias("tokens"),
    )

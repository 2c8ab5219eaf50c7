"""Corpus mixing/sampling operators: temperature-based stratum resampling
and per-source document caps.

These extend the deterministic hash-gated sampling family
(`functions.text.stratified_sample`) with the two remaining recipe steps a
pretraining data mix needs:

- ``temperature_resample``: the XLM-R / mC4 multilingual rebalancing rule —
  sample strata (languages, sources) with probability proportional to
  ``p_s ** alpha``; with ``alpha < 1`` low-resource strata are boosted to
  acceptance rate 1.0 and high-resource strata are downsampled.
- ``source_cap_keepers``: a hard per-source document cap (the C4 per-host /
  Dolma per-domain cap), selected deterministically by hash order with a
  two-stage gate so the exact top-K rank only ever runs over ~``over*cap``
  candidate rows per source, never the full corpus.

Reference tie-in: both are rate/cap gates in the collector sense —
``plugins/processor/ratelimit/processor_rate_limit.go`` drops events past a
per-key rate; these are the corpus-curation twins where the "key" is a
stratum and the admission decision must be deterministic and replayable by
an external engine (md5 gates, not RNG — same rationale as
``stratified_sample``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import keep_where, scratch_column


def _id_bucket(id_col: Column, buckets: int) -> Column:
    """md5(id) mod buckets — replayable in DuckDB as
    ``('0x' || substr(md5(id), 1, 15))::BIGINT % buckets``."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10)
        .cast("long")
        % buckets
    )


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Temperature-resample strata: keep a row of stratum ``s`` with
    acceptance rate ``r_s = (n_s ** (alpha-1)) / max_m(n_m ** (alpha-1))``
    (so the rarest stratum keeps everything and a stratum X-times larger
    keeps ``X**(alpha-1)`` of itself — the XLM-R/mC4 rule with the overall
    scale normalized so ``max r = 1``; the corpus total cancels out of the
    ratio so only per-stratum counts enter).

    Determinism/replayability: the admit gate is ``md5(id) % buckets <
    floor(r_s * buckets)`` — no RNG, reproducible across runs and engines.
    With the default ``alpha=0.5`` the whole rate expression is
    ``sqrt(min_n / n_s)``: IEEE-754 ``sqrt`` and division are correctly
    rounded, so Spark and any external replay engine (DuckDB) compute the
    bit-identical double and the floor gate never diverges. Other alphas go
    through ``pow`` whose last-ulp rounding is libm-specific; they are
    supported but a cross-engine oracle should stick to 0.5 (or a rate
    rounded to a few decimals).

    Scale shape: one map-side-combined groupBy over the (bounded) stratum
    key space, a 1-row global min, a broadcast join of the tiny rate table
    back onto the scan, and a per-row filter. No wide exchange of data rows,
    no driver collect.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n_s"))
    if alpha == 0.5:
        # exact-replay fast path: sqrt/div only (correctly rounded IEEE ops)
        min_n = counts.agg(F.min("_n_s").alias("_min_n"))
        rates = counts.crossJoin(F.broadcast(min_n)).select(
            strata_col,
            F.sqrt(F.col("_min_n").cast("double") / F.col("_n_s")).alias("_rate"),
        )
    else:
        pw = counts.select(
            strata_col,
            F.col("_n_s"),
            F.pow(F.col("_n_s").cast("double"), F.lit(alpha - 1.0)).alias("_w"),
        )
        mx = pw.agg(F.max("_w").alias("_max_w"))
        rates = pw.crossJoin(F.broadcast(mx)).select(
            strata_col, (F.col("_w") / F.col("_max_w")).alias("_rate")
        )
    gated = df.join(F.broadcast(rates), on=strata_col, how="inner")
    out = gated.filter(
        _id_bucket(F.col(id_col), buckets) < F.floor(F.col("_rate") * buckets)
    )
    return out.drop("_rate")


def source_cap_keepers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    cap: int,
    over: int = 4,
) -> DataFrame:
    """Keep at most ``cap`` documents per ``key_col`` group (per-host cap of
    C4, per-domain cap of Dolma), chosen deterministically as the ``cap``
    smallest ``(md5(id), id)`` values within each group.

    Two-stage gate so the exact rank never sees the full corpus:

    1. **Hash pre-gate** (scan-side filter): admit iff the 60-bit md5
       prefix ``conv(substr(md5(id),1,15),16,10) <
       floor(min(1, over*cap/n_k) * 2^60)`` using the per-key counts from
       one map-side-combined groupBy. This passes ~``over*cap`` rows per
       key regardless of group size — a hot key with 10^9 docs contributes
       ~``over*cap`` rows to the next stage instead of 10^9.
    2. **Exact rank** over the survivors:
       ``row_number() over (partition by key order by md5(id), id) <= cap``.

    The composition is deterministic and engine-replayable (the oracle
    replays BOTH stages). The gate threshold is a cut in the SAME order the
    rank uses (lexicographic md5 hex == numeric order of the 60-bit
    prefix; prefix ties are admitted or dropped together, so the admitted
    set is downward-closed under the (md5, id) rank order). Hence the
    result EQUALS the unconditional top-``cap`` whenever stage 1 admits
    >= cap rows for the key; the under-admission probability at ``over=4``
    is the lower Chernoff tail of Binomial(n_k, 4*cap/n_k) below cap —
    < 1e-9 for cap >= 20. Keys with ``n_k <= over*cap`` take rate 1 (gate
    disabled: every 60-bit prefix < 2^60), so small groups are always
    exact.

    Scale shape: tiny count aggregate + broadcast rate join + per-row
    filter, then ONE exchange of only the ~``over*cap``-per-key survivors
    for the window. No global sort, no skew hotspot (the window partition
    size is bounded by the gate, not by the group size).
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    counts = df.groupBy(key_col).agg(F.count("*").alias("_n_k"))
    rates = counts.select(
        key_col,
        F.least(
            F.lit(1.0),
            F.lit(float(over * cap)) / F.col("_n_k").cast("double"),
        ).alias("_gate_rate"),
    )
    # md5 is staged once per row and both the gate and the rank read it; a
    # Filter (or the join condition's inferred not-null test) would be pushed
    # below the staging and hash every row again
    md5 = scratch_column(df, "_md5")
    prefix60 = F.conv(F.substring(F.col(md5), 1, 15), 16, 10).cast("long")
    joined = df.withColumn(md5, F.md5(F.col(id_col).cast("string"))).join(
        F.broadcast(rates), on=key_col, how="inner"
    )
    gated = keep_where(
        joined, prefix60 < F.floor(F.col("_gate_rate") * F.lit(float(1 << 60)))
    ).drop("_gate_rate")
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(F.col(md5), F.col(id_col))
    return (
        gated.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk", md5)
    )


def unimax_allocation(
    df: DataFrame,
    strata_col: str,
    n_tok_col: str,
    budget: int,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and More
    Effective Language Sampling"): distribute a total token ``budget`` over
    strata (languages/sources) as UNIFORMLY as possible subject to a
    per-stratum repetition cap of ``max_epochs`` passes over its corpus.
    Greedy rule, smallest stratum first: give each stratum
    ``min(cap_s, remaining // strata_left)`` tokens — a stratum too small to
    absorb an equal share is capped at ``max_epochs`` epochs and its unused
    share rolls over to the larger strata.

    All arithmetic is INTEGER (floor division), so the allocation is exact
    and bit-identical in any replay engine — no float accumulation.

    Returns one row per stratum: (strata_col, corpus_tokens, cap_tokens,
    alloc_tokens, epochs_used) where ``epochs_used = alloc / corpus``
    (<= max_epochs; > 1 means the trainer repeats that stratum).

    Scale shape: ONE map-side-combined groupBy over the bounded stratum key
    space; the greedy recurrence is inherently sequential in the number of
    STRATA (not rows), so it runs driver-side over the L aggregated rows —
    the same treatment as the IVF centroid artifact (functions/similarity).
    L is |languages| or |sources| (10s-100s), never corpus-sized.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be positive, got {max_epochs}")
    agg = (
        df.groupBy(strata_col)
        .agg(F.sum(F.col(n_tok_col).cast("long")).alias("corpus_tokens"))
        .orderBy("corpus_tokens", strata_col)
        .collect()
    )
    remaining = int(budget)
    out_rows = []
    left = len(agg)
    for r in agg:
        corpus = int(r["corpus_tokens"])
        cap = corpus * max_epochs
        alloc = min(cap, remaining // left)
        remaining -= alloc
        left -= 1
        out_rows.append((r[strata_col], corpus, cap, alloc))
    spark = df.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    # Preserve the caller's strata type (int lang ids, etc.) — a hard-coded
    # string field would silently coerce and change the join/union schema.
    strata_field = df.schema[strata_col]
    alloc_df = spark.createDataFrame(
        out_rows,
        schema=StructType(
            [
                StructField(
                    strata_col, strata_field.dataType, strata_field.nullable
                ),
                StructField("corpus_tokens", LongType(), False),
                StructField("cap_tokens", LongType(), False),
                StructField("alloc_tokens", LongType(), False),
            ]
        ),
    )
    return alloc_df.withColumn(
        "epochs_used",
        F.round(
            F.col("alloc_tokens").cast("double") / F.col("corpus_tokens"), 4
        )
        + F.lit(0.0),
    )


def unimax_resample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_tok_col: str,
    budget: int,
    max_epochs: int = 4,
    buckets: int = 1_000_000,
    alloc: DataFrame | None = None,
) -> DataFrame:
    """Single-epoch materialization of a UniMax allocation: keep documents
    of stratum ``s`` at rate ``min(1, alloc_s / corpus_s)`` behind the same
    deterministic md5 gate as ``stratified_sample``/``temperature_resample``
    (strata whose allocation spans multiple epochs keep everything — the
    repetition multiplier lives in ``epochs_used`` for the trainer).

    The rate is ONE correctly-rounded double division of two exact integers,
    so the floor gate replays bit-identically cross-engine. Scale shape:
    tiny allocation artifact broadcast-joined onto the scan + per-row
    filter — no wide exchange. Pass a precomputed ``alloc`` (the
    ``unimax_allocation`` result the caller already holds) to skip the
    internal full-corpus aggregation."""
    if alloc is None:
        alloc = unimax_allocation(df, strata_col, n_tok_col, budget, max_epochs)
    rates = alloc.select(
        strata_col,
        F.least(
            F.lit(1.0),
            F.col("alloc_tokens").cast("double")
            / F.col("corpus_tokens").cast("double"),
        ).alias("_rate"),
    )
    gated = df.join(F.broadcast(rates), on=strata_col, how="inner")
    out = gated.filter(
        _id_bucket(F.col(id_col), buckets) < F.floor(F.col("_rate") * buckets)
    )
    return out.drop("_rate")

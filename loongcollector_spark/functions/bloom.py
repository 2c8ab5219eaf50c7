"""Broadcast Bloom-filter membership — join-free benchmark decontamination.

The contamination scan in ``operators/token_ops.py`` matches K known
benchmark patterns in one Arrow pass; that works while the benchmark suite
is small enough to inline. This module is the scale path for the other
regime — a benchmark/blocklist corpus with millions-to-billions of n-grams,
where the standard design (shuffle-join the 100 TB corpus' shingles against
a benchmark-shingle table) pays a full exchange of the big side. A Bloom
bitset of the benchmark shingles is built ONCE (bounded, tiny next to the
corpus), broadcast to every executor, and membership is tested map-side —
the corpus never shuffles at all.

Determinism/replayability: each gram is hashed ONCE with Spark's
xxhash64, and both positions come from that hash (its low and high 32-bit
halves, mod ``m_bits``), so an external engine can rebuild the identical
bitset and replay membership EXACTLY — including the false positives,
which are a deterministic function of (benchmark set, m_bits). DuckDB
oracle shape (``xxhash64_sql`` from ``sources/sql_oracle.py``)::

    h  = xxhash64_sql(g)
    p1 = h mod m                          -- pmod: non-negative
    p2 = (h >>> 32) mod m
    hit(g) := p1 IN bits AND p2 IN bits   -- bits = distinct p1 ∪ p2 of the
                                          --        benchmark shingles

k=2 hash functions: false-positive rate (1 - e^{-2n/m})^2; at the default
m=2^18 with n=10^4 benchmark shingles that is ~0.5%, and honesty about FPs
is the point — the oracle reproduces every one of them.

Reference tie-in: the collector's static filter chain
(``core/plugin/processor/ProcessorFilterNative.cpp``) is the per-event
include/exclude twin; this is the corpus-scale set-membership version where
the "config" (benchmark set) is too large to inline in the plan.

Scale notes (documented, not speculative): the driver-side build collects
DISTINCT bit positions — bounded by ``m_bits`` (2^18 default = at most
262k longs ≈ 2 MB; the packed bitset itself is 32 KiB). For a benchmark
suite needing m ≥ 2^30, swap the collect for a per-partition numpy-bitset
OR tree-reduce (the positions never materialize as rows); the membership
side is unchanged — the bitset rides to executors once per job either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_positions(h: Column, m_bits: int) -> tuple[Column, Column]:
    """The two bit positions of a gram whose xxhash64 is ``h``:
    ``pmod(h, m_bits)`` and ``pmod(h >>> 32, m_bits)``."""
    m = F.lit(m_bits).cast("long")
    return F.pmod(h, m), F.pmod(F.shiftrightunsigned(h, 32), m)


def build_bloom_bits(
    bench: DataFrame, grams_col: str, m_bits: int = 1 << 18
) -> np.ndarray:
    """Packed uint8 bitset (little-bit-endian within a byte: bit ``p`` is
    ``bits[p >> 3] & (1 << (p & 7))``) of every position of every gram in
    ``bench[grams_col]`` (array<string> per row).

    One narrow explode + a DISTINCT bounded by ``m_bits`` — the only
    exchange in the build is over unique positions, never over grams."""
    h = bench.select(F.explode(grams_col).alias("g")).select(
        F.xxhash64("g").alias("h")
    )
    pos = (
        h.select(F.explode(F.array(*bloom_positions(F.col("h"), m_bits))).alias("p"))
        .distinct()
        .toPandas()["p"]
        .to_numpy(dtype=np.int64)
    )
    bits = np.zeros((m_bits + 7) >> 3, dtype=np.uint8)
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits


def bloom_hits_expr(bits: np.ndarray, m_bits: int):
    """Returns a callable mapping two array<long> position columns to the
    count of grams whose BOTH positions are set — one numpy pipeline per
    Arrow batch (flatten + gather + reduceat), no per-row Python.

    The bitset is captured in the UDF closure: cloudpickled once into the
    task binary and shared by every batch an executor processes."""
    from pyspark.sql.functions import pandas_udf

    if len(bits) != (m_bits + 7) >> 3:
        raise ValueError(
            f"bitset/m_bits mismatch: len(bits)={len(bits)} but m_bits="
            f"{m_bits} needs {(m_bits + 7) >> 3} bytes"
        )

    @pandas_udf("long")
    def hits(p1s: pd.Series, p2s: pd.Series) -> pd.Series:
        lengths = p1s.map(lambda v: 0 if v is None else len(v)).to_numpy(
            dtype=np.int64
        )
        out = np.zeros(len(p1s), dtype=np.int64)
        if lengths.sum() == 0:
            return pd.Series(out)
        f1 = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in p1s if v is not None and len(v)]
        )
        f2 = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in p2s if v is not None and len(v)]
        )
        hit = (
            (bits[f1 >> 3] >> (f1 & 7).astype(np.uint8)) & 1
        ) & ((bits[f2 >> 3] >> (f2 & 7).astype(np.uint8)) & 1)
        starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])[lengths > 0]
        seg = np.add.reduceat(hit.astype(np.int64), starts.astype(np.int64))
        out[lengths > 0] = seg
        return pd.Series(out)

    return hits


def bloom_decontaminate(
    corpus: DataFrame,
    grams_col: str,
    id_col: str,
    bench: DataFrame,
    bench_grams_col: str | None = None,
    m_bits: int = 1 << 18,
) -> DataFrame:
    """Flag corpus rows whose gram array (array<string>) hits the Bloom
    bitset of the benchmark grams: returns
    ``(id_col, n_grams:long, n_hits:long)`` for rows with >= 1 hit.

    The corpus side is a pure scan→project→filter: gram hashing is JVM
    ``transform``s, the membership test is the broadcast-bitset pandas UDF,
    and nothing about the corpus is ever exchanged (the output is a filter
    of the input rows, not an aggregate)."""
    bench_grams_col = bench_grams_col or grams_col
    bits = build_bloom_bits(bench, bench_grams_col, m_bits)
    g = F.col(grams_col)
    # The UDF is semantically deterministic, but letting Catalyst treat it
    # as such pushes the `n_hits > 0` filter below the projection and
    # re-evaluates the whole hash+membership pipeline TWICE (once for the
    # filter, once for the output). asNondeterministic() is purely an
    # optimizer barrier here: one ArrowEvalPython, one gram-hash transform.
    hits = bloom_hits_expr(bits, m_bits).asNondeterministic()
    # Stage the hash array in its own projection so each gram is hashed
    # once: CollapseProject declines to inline a non-cheap expression that
    # is referenced twice above (once per position transform), and Spark
    # does not CSE inside higher-order functions.
    staged = corpus.select(
        F.col(id_col),
        F.size(g).cast("long").alias("n_grams"),
        F.transform(g, lambda x: F.xxhash64(x)).alias("_h"),
    )
    p1 = F.transform("_h", lambda h: bloom_positions(h, m_bits)[0])
    p2 = F.transform("_h", lambda h: bloom_positions(h, m_bits)[1])
    flagged = staged.select(id_col, "n_grams", hits(p1, p2).alias("n_hits"))
    return flagged.filter(F.col("n_hits") > 0)

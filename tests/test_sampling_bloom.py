"""Tests for the round-5 sampling/mixing ops (temperature resample,
per-source cap) and the broadcast Bloom-filter decontamination."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from loongcollector_spark.functions import text as tx
from loongcollector_spark.functions.bloom import (
    bloom_decontaminate,
    bloom_positions,
    build_bloom_bits,
)
from loongcollector_spark.functions.sampling import (
    source_cap_keepers,
    temperature_resample,
)
from loongcollector_spark.sources.tables import load_table


# ---------------------------------------------------------------- temperature


def test_temperature_rates_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_resample(docs, "lang", "doc_id", alpha=0.5)
    n_in = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_kept = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rarest = min(n_in, key=n_in.get)
    # the rarest stratum keeps everything (rate 1.0)
    assert n_kept[rarest] == n_in[rarest]
    # every stratum's realized keep fraction is <= its quota ceiling-ish:
    # the md5 gate admits floor(rate*B)/B of buckets uniformly, so realized
    # fractions track sqrt(min/n) — check ordering: bigger strata keep a
    # smaller FRACTION (monotone in rate)
    fracs = {k: n_kept.get(k, 0) / n_in[k] for k in n_in}
    ordered = sorted(n_in, key=n_in.get)
    for a, b in zip(ordered, ordered[1:]):
        if n_in[a] < n_in[b]:
            assert fracs[a] >= fracs[b] - 0.15  # hash noise tolerance


def test_temperature_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r["doc_id"] for r in temperature_resample(docs, "lang", "doc_id").select("doc_id").collect())
    b = sorted(r["doc_id"] for r in temperature_resample(docs, "lang", "doc_id").select("doc_id").collect())
    assert a == b and len(a) > 0


def test_temperature_alpha_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        temperature_resample(docs, "lang", "doc_id", alpha=1.5)
    # alpha=1 keeps the natural distribution: every rate is 1.0
    kept = temperature_resample(docs, "lang", "doc_id", alpha=1.0)
    assert kept.count() == docs.count()


# ------------------------------------------------------------------- cap


def test_source_cap_exact_when_gate_open(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cap = 5
    kept = source_cap_keepers(docs, "source", "doc_id", cap=cap)
    per = kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] <= cap for r in per)
    # group sizes (25) exceed over*cap (20) so the stage-1 gate ACTIVATES —
    # but because it cuts in the same md5-prefix order the rank uses, the
    # result must still be EXACTLY the cap smallest (md5, id) of each group
    rows = docs.select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    ).collect()
    want = {}
    for r in rows:
        want.setdefault(r["source"], []).append((r["h"], r["doc_id"]))
    expect = set()
    for s, lst in want.items():
        for h, d in sorted(lst)[:cap]:
            expect.add((s, d))
    got = {(r["source"], r["doc_id"]) for r in kept.select("source", "doc_id").collect()}
    assert got == expect


def test_source_cap_gate_bounds_candidates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # lang groups are larger than over*cap -> the stage-1 gate activates;
    # result stays deterministic and <= cap per group
    kept = source_cap_keepers(docs, "lang", "doc_id", cap=3, over=2)
    per = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per and all(v <= 3 for v in per.values())
    again = source_cap_keepers(docs, "lang", "doc_id", cap=3, over=2)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


# ------------------------------------------------------------------ bloom


def test_bloom_bits_positions_roundtrip(spark):
    df = spark.createDataFrame(
        [(["alpha beta gamma delta eps"],), (["zeta eta theta iota kappa"],)],
        "grams: array<string>",
    )
    m = 1 << 12
    bits = build_bloom_bits(df, "grams", m)
    assert bits.dtype == np.uint8 and len(bits) == m >> 3
    g = df.select(F.explode("grams").alias("g"))
    p1, p2 = bloom_positions(F.xxhash64("g"), m)
    pos = g.select(p1.alias("p1"), p2.alias("p2")).collect()
    for r in pos:
        for p in (r["p1"], r["p2"]):
            assert bits[p >> 3] & (1 << (p & 7))


def test_bloom_self_hits_complete(spark, sf_dir):
    """Every benchmark doc must flag itself with n_hits >= its own gram
    count (Bloom filters have no false negatives)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "grams", tx.word_ngrams(F.col("text"), 5)
    )
    bench = docs.filter(F.col("doc_id") % 3 == 0).filter(F.size("grams") > 0)
    out = bloom_decontaminate(docs, "grams", "doc_id", bench)
    flagged = {r["doc_id"]: (r["n_grams"], r["n_hits"]) for r in out.collect()}
    for r in bench.select("doc_id", F.size("grams").alias("n")).collect():
        assert r["doc_id"] in flagged
        n_grams, n_hits = flagged[r["doc_id"]]
        assert n_hits == n_grams  # every own shingle is in the filter


def test_bloom_deterministic_false_positives(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "grams", tx.word_ngrams(F.col("text"), 5)
    )
    bench = docs.filter(F.col("doc_id") % 5 == 0).filter(F.size("grams") > 0)
    a = {(r["doc_id"], r["n_hits"]) for r in bloom_decontaminate(docs, "grams", "doc_id", bench).collect()}
    b = {(r["doc_id"], r["n_hits"]) for r in bloom_decontaminate(docs, "grams", "doc_id", bench).collect()}
    assert a == b and a


def test_bloom_no_shuffle_on_corpus_side(spark, sf_dir):
    """The corpus side of the decontamination must be scan -> project ->
    filter: no Exchange in the plan after the bitset is built."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "grams", tx.word_ngrams(F.col("text"), 5)
    )
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    out = bloom_decontaminate(docs, "grams", "doc_id", bench)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ----------------------------------------------------------------- plan shape


def test_temperature_broadcasts_rate_table(spark, sf_dir):
    """The stratum-rate table must reach the corpus via a broadcast join —
    a SortMergeJoin here would shuffle the whole corpus on the stratum key
    (skewed by construction: strata ARE the hot keys)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_resample(docs, "lang", "doc_id", alpha=0.5)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_cap_single_corpus_exchange(spark, sf_dir):
    """source_cap_keepers may exchange corpus rows exactly ONCE (the
    bounded-survivor window); the rate table rides a broadcast. More than
    one hashpartitioning over the id/key columns means the gate failed to
    keep the rank input bounded."""
    docs = load_table(spark, sf_dir, "documents")
    kept = source_cap_keepers(docs, "source", "doc_id", cap=5)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exchanges: one for the count aggregate (bounded key space), one for
    # the window over gate survivors — the raw corpus is never exchanged
    # more than once
    n_corpus_exchanges = plan.count("Exchange hashpartitioning(source")
    assert n_corpus_exchanges <= 2, plan


# ------------------------------------------------------ one gram hash


def test_bloom_xxh64_no_false_negatives(spark, sf_dir):
    """The xxhash64 filter keeps the Bloom guarantee when the benchmark
    side is a separately built DataFrame (not a filter of the corpus):
    every benchmark doc flags itself with n_hits == its own gram count."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "grams", tx.word_ngrams(F.col("text"), 5)
    )
    rows = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .filter(F.size("grams") > 0)
        .select("doc_id", "text")
        .collect()
    )
    bench = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], docs.select("doc_id", "text").schema
    ).withColumn("grams", tx.word_ngrams(F.col("text"), 5))
    out = bloom_decontaminate(docs, "grams", "doc_id", bench)
    flagged = {r["doc_id"]: (r["n_grams"], r["n_hits"]) for r in out.collect()}
    for r in bench.select("doc_id", F.size("grams").alias("n")).collect():
        assert flagged[r["doc_id"]] == (r["n"], r["n"])


def test_bloom_hashes_each_gram_once(spark, sf_dir):
    """The corpus side evaluates ONE xxhash64 per gram: both positions
    read the staged hash array, never a second hash of the gram."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "grams", tx.word_ngrams(F.col("text"), 5)
    )
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    out = bloom_decontaminate(docs, "grams", "doc_id", bench)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("xxhash64(") == 1, plan


def test_hashed_ngram_buckets_match_xxh64_model(spark):
    """Buckets are pmod(xxhash64(gram), B) over the unigrams then the
    space-joined bigrams, exactly as the Python XXH64 model computes them."""
    from tests.xxh64_model import pmod_bucket

    text = "the cat sat on the mat"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        tx.hashed_ngram_buckets(F.col("text"), 64, (1, 2)).alias("b")
    ).first()["b"]
    ws = text.split()
    grams = ws + [f"{x} {y}" for x, y in zip(ws, ws[1:])]
    assert got == [pmod_bucket(g, 64) for g in grams]


# -------------------------------------------------------------------- unimax


def test_unimax_allocation_conservation_and_caps(spark, sf_dir):
    from loongcollector_spark.functions.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    total = int(docs.agg(F.sum("n_chars")).collect()[0][0])
    budget = total * 2 // 5
    rows = unimax_allocation(
        docs, "lang", "n_chars", budget, max_epochs=3
    ).collect()
    assert all(r.alloc_tokens <= r.cap_tokens for r in rows)
    assert all(r.cap_tokens == 3 * r.corpus_tokens for r in rows)
    assert all(r.epochs_used <= 3.0 for r in rows)
    # full conservation: budget is spent exactly (or all caps bind)
    spent = sum(r.alloc_tokens for r in rows)
    caps = sum(r.cap_tokens for r in rows)
    assert spent == min(budget, caps)


def test_unimax_uncapped_allocations_nondecreasing(spark, sf_dir):
    """Greedy smallest-first: the equal share can only grow as capped
    strata roll budget over, so allocations ordered by corpus size are
    non-decreasing."""
    from loongcollector_spark.functions.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    rows = unimax_allocation(
        docs, "lang", "n_chars", budget=10_000_000, max_epochs=2
    ).orderBy("corpus_tokens", "lang").collect()
    allocs = [r.alloc_tokens for r in rows]
    assert allocs == sorted(allocs)


def test_unimax_huge_budget_binds_every_cap(spark, sf_dir):
    from loongcollector_spark.functions.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    rows = unimax_allocation(
        docs, "lang", "n_chars", budget=1 << 60, max_epochs=2
    ).collect()
    assert all(r.alloc_tokens == r.cap_tokens for r in rows)
    assert all(abs(r.epochs_used - 2.0) < 1e-9 for r in rows)


def test_unimax_resample_rates_and_determinism(spark, sf_dir):
    from loongcollector_spark.functions.sampling import (
        unimax_allocation,
        unimax_resample,
    )

    docs = load_table(spark, sf_dir, "documents")
    total = int(docs.agg(F.sum("n_chars")).collect()[0][0])
    budget = total // 3
    kept = unimax_resample(
        docs, "lang", "doc_id", "n_chars", budget, max_epochs=3
    )
    k1 = {r.lang: r.n for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    k2 = {r.lang: r.n for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert k1 == k2  # md5 gate, no RNG
    alloc = {
        r.lang: r
        for r in unimax_allocation(
            docs, "lang", "n_chars", budget, max_epochs=3
        ).collect()
    }
    n_docs = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for lang, a in alloc.items():
        rate = min(1.0, a.alloc_tokens / a.corpus_tokens)
        if rate >= 1.0:
            assert k1.get(lang, 0) == n_docs[lang]  # multi-epoch keeps all
        else:
            # md5 gate tracks the target rate within binomial noise
            # (4-sigma bound — at sf0.001 a language has only ~70 docs)
            n = n_docs[lang]
            tol = 4.0 * (rate * (1.0 - rate) / n) ** 0.5 + 0.01
            assert abs(k1.get(lang, 0) / n - rate) < tol


def test_unimax_allocation_preserves_strata_dtype(spark):
    """The allocation artifact must carry the CALLER's strata type — an int
    lang id stays int (regression: a hard-coded string schema coerced 2 to
    '2', changing the join/union schema downstream)."""
    from loongcollector_spark.functions.sampling import (
        unimax_allocation,
        unimax_resample,
    )

    docs = spark.createDataFrame(
        [(i, i % 3, 100 + i) for i in range(60)],
        "doc_id int, lang int, n_chars int",
    )
    alloc = unimax_allocation(docs, "lang", "n_chars", budget=3000)
    assert dict(alloc.dtypes)["lang"] == "int"
    assert {r.lang for r in alloc.collect()} == {0, 1, 2}
    # and the precomputed-alloc path joins it back without implicit casts
    kept = unimax_resample(
        docs, "lang", "doc_id", "n_chars", budget=3000, alloc=alloc
    )
    assert dict(kept.dtypes)["lang"] == "int"
    assert kept.count() > 0


def test_unimax_validation(spark, sf_dir):
    from loongcollector_spark.functions.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        unimax_allocation(docs, "lang", "n_chars", budget=0)
    with pytest.raises(ValueError):
        unimax_allocation(docs, "lang", "n_chars", budget=10, max_epochs=0)

"""The DuckDB-SQL replicas must be bit-exact: the F1 generator vs numpy, and
Spark's XXH64 vs Spark itself."""

from __future__ import annotations

import duckdb
import hypothesis.strategies as st
import numpy as np
from hypothesis import HealthCheck, given, settings

from loongcollector_spark.sources.sql_oracle import f1_cte, hash_long_sql, xxhash64_sql
from loongcollector_spark.sources.synthetic import (
    SOURCES,
    VOCAB_SIZE,
    _n_tok,
    _row_key,
    _source_idx,
    _splitmix64,
)
from tests.xxh64_model import xxhash64, xxhash64_longs

N = 20_000
SEED = 42


def test_sql_f1_matches_numpy_generator():
    sql = f"WITH {f1_cte(N, SEED, (0, 2, 5))} SELECT * FROM f1 ORDER BY i"
    con = duckdb.connect()
    rows = con.sql(sql).fetchall()
    assert len(rows) == N

    ids = np.arange(N, dtype=np.int64)
    want_src = np.asarray(SOURCES)[_source_idx(ids, SEED)]
    want_ntok = _n_tok(ids, SEED)
    keys = _row_key(ids, SEED)
    with np.errstate(over="ignore"):
        want = {
            p: (_splitmix64(keys + np.uint64(p + 1)) % np.uint64(VOCAB_SIZE)).astype(np.int64)
            for p in (0, 2, 5)
        }

    got_src = np.array([r[1] for r in rows])
    got_ntok = np.array([r[2] for r in rows])
    assert (got_src == want_src).all()
    assert (got_ntok == want_ntok).all()
    for col, p in ((3, 0), (4, 2), (5, 5)):
        got = np.array([r[col] for r in rows])
        assert (got == want[p]).all(), f"token position {p} diverged"


# --- Spark's XXH64 replayed in DuckDB -------------------------------------
# Strings span every XXH64 code path by UTF-8 byte length: empty, 1-7
# (byte/word tail only), 8-31 (8-byte lanes) and >= 32 (32-byte stripes),
# over 1- to 4-byte UTF-8 characters.
_UTF8 = "ab z" + "éß" + "日本" + "😀🎉"
_strings = st.tuples(
    st.just(""),
    st.text(alphabet="abcxyz ", min_size=1, max_size=7),
    st.text(alphabet=_UTF8, min_size=1, max_size=3),
    st.text(alphabet="abcxyz ", min_size=8, max_size=31),
    st.text(alphabet=_UTF8, min_size=8, max_size=20),
    st.text(alphabet=_UTF8, min_size=32, max_size=70),
    st.lists(st.text(alphabet=_UTF8, max_size=40), max_size=10),
).map(lambda t: [*t[:-1], *t[-1]])
_long = st.one_of(
    st.integers(-(1 << 63), (1 << 63) - 1),
    st.sampled_from([0, -1, 1, -(1 << 63), (1 << 63) - 1, 42]),
)
_XXH_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@settings(**_XXH_SETTINGS)
@given(_strings)
def test_xxhash64_sql_matches_spark(spark, strs):
    """xxhash64_sql (DuckDB), the Python model and Spark's F.xxhash64 agree
    bit for bit on every string."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(strs)), "i int, s string")
    got_spark = [r.h for r in df.orderBy("i").select(F.xxhash64("s").alias("h")).collect()]
    (got_duck,) = duckdb.connect().execute(
        f"SELECT list_transform(?::VARCHAR[], s -> {xxhash64_sql('s')})", [strs]
    ).fetchone()
    assert got_spark == [xxhash64(s) for s in strs], strs
    assert list(got_duck) == got_spark, strs


@settings(**_XXH_SETTINGS)
@given(
    st.lists(st.tuples(_long, _long), min_size=1, max_size=20),
    st.lists(st.tuples(_long, _long, _long), min_size=1, max_size=20),
)
def test_hash_long_sql_chain_matches_spark(spark, pairs, triples):
    """hash_long_sql chained per column equals F.xxhash64(a, b[, c]) on
    longs, negative and extreme ones included."""
    from pyspark.sql import functions as F

    rows = [(i, a, b, None) for i, (a, b) in enumerate(pairs)]
    rows += [(len(pairs) + i, a, b, c) for i, (a, b, c) in enumerate(triples)]
    df = spark.createDataFrame(rows, "i int, a long, b long, c long")
    h = F.when(F.col("c").isNull(), F.xxhash64("a", "b")).otherwise(F.xxhash64("a", "b", "c"))
    got_spark = [r.h for r in df.orderBy("i").select(h.alias("h")).collect()]
    two = hash_long_sql("t[2]", hash_long_sql("t[1]", "42"))
    three = hash_long_sql("t[3]", two)
    (got_duck,) = duckdb.connect().execute(
        "SELECT list_transform(?::BIGINT[][], t -> "
        f"CASE WHEN len(t) = 2 THEN {two} ELSE {three} END)",
        [[list(p) for p in pairs] + [list(t) for t in triples]],
    ).fetchone()
    want = [xxhash64_longs(*p) for p in pairs] + [xxhash64_longs(*t) for t in triples]
    assert got_spark == want
    assert list(got_duck) == want

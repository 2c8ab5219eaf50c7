"""DuckDB-SQL replica of the deterministic F1 generator (synthetic.py).

The tokenized-sequence table is a pure function of the row index, so the
driver's DuckDB oracle can regenerate it IN SQL and verify the flagship
tokenized queries end-to-end — per-row source/n_tok/header-token equality is
bit-exact (validated against numpy over 100k rows: splitmix64 via HUGEINT
arithmetic with 32-bit multiply splitting, u01 double division, pow(u,3)
floor, and cumulative-weight searchsorted all agree).

This is the strongest form of the north rule's "token-array equality vs the
reference output": the oracle recomputes the expected tokens from seed alone.

It also replays Spark's xxhash64 (``xxhash64_sql``, ``hash_long_sql``), the
one gram hash of the MinHash/SimHash/Bloom/bucket-feature queries.
"""

from __future__ import annotations

import numpy as np

from loongcollector_spark.sources.synthetic import (
    MAX_TOK,
    MIN_TOK,
    SOURCE_WEIGHTS,
    SOURCES,
    VOCAB_SIZE,
    _LEVELS,
    _METHODS,
    _STATUS,
)

_M64 = 18446744073709551616  # 2^64


def _mul64(a: str, b: str) -> str:
    """(a*b) mod 2^64 over HUGEINT without overflowing signed 128-bit."""
    return (
        f"(( ({a}) % 4294967296) * ({b} % 4294967296) "
        f"+ ((( ({a}) % 4294967296) * ({b} // 4294967296) "
        f"+ (({a}) // 4294967296) * ({b} % 4294967296)) % 4294967296) * 4294967296) % {_M64}"
    )


def _xorshift(x: str, s: int) -> str:
    return f"CAST(xor(CAST(({x}) AS UBIGINT), CAST(({x}) AS UBIGINT) >> {s}) AS HUGEINT)"


def splitmix64_sql(x: str) -> str:
    """Full splitmix64 finalizer of a u64-as-HUGEINT SQL expression."""
    x1 = f"((({x}) + 11400714819323198485) % {_M64})"
    x2 = _xorshift(x1, 30)
    x3 = _mul64(x2, "13787848793156543929")
    x4 = _xorshift(x3, 27)
    x5 = _mul64(x4, "10723151780598845931")
    return _xorshift(x5, 31)


# --- Spark's XXH64 (seed 42) in DuckDB SQL --------------------------------
# The gram hashes of MinHash, SimHash, Bloom and the bucket features are
# Spark's xxhash64, so the oracles replay it here. Two DuckDB 1.0 costs set
# the shape:
# - HUGEINT arithmetic costs ~17x UBIGINT arithmetic, and XXH64 runs a
#   dozen 64-bit multiplies per 8-byte lane. So every value stays a UBIGINT
#   in [0, 2^64), and multiplies split at 32 bits so that no step
#   overflows (DuckDB raises on overflow instead of wrapping; its `<<` on
#   UBIGINT also raises once bit 63 would be set, so left shifts are
#   multiplies too).
# - A lambda nested in a lambda costs bind time exponential in the depth
#   (a 20-deep let chain took seconds to bind), while list_transform calls
#   chained on a one-element list bind linearly. So every multi-step value
#   is a chain (`_chain`) and lambda nesting stays at a fixed small depth.
_U64 = 0xFFFFFFFFFFFFFFFF
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _u(c: int) -> str:
    return f"{c}::UBIGINT"


def _umul(a: str, c: int) -> str:
    """(a * c) mod 2^64 for a UBIGINT SQL name ``a`` and a constant ``c``:
    32-bit halves, every partial product below 2^64."""
    lo, hi = c & 0xFFFFFFFF, c >> 32
    ll = f"(({a} % 4294967296) * {_u(lo)})"
    mid = (
        f"((({a} % 4294967296) * {_u(hi)}) % 4294967296"
        f" + (({a} >> 32) * {_u(lo)}) % 4294967296 + ({ll} >> 32)) % 4294967296"
    )
    return f"(({mid}) * 4294967296 + {ll} % 4294967296)"


def _uadd(a: str, b: str) -> str:
    """(a + b) mod 2^64 for UBIGINT SQL names/literals."""
    return (
        f"(CASE WHEN {a} > {_u(_U64)} - {b} THEN {a} - ({_u(_U64)} - {b}) - 1 "
        f"ELSE {a} + {b} END)"
    )


def _rotl(x: str, r: int) -> str:
    return f"(({x} % {_u(1 << (64 - r))}) * {_u(1 << r)} + ({x} >> {64 - r}))"


def _pipe(lst: str, name: str, *steps) -> str:
    """``lst`` mapped through ``steps`` (functions of one SQL name), as
    chained list_transform calls rather than nested lambdas."""
    for f in steps:
        lst = f"list_transform({lst}, {name} -> {f(name)})"
    return lst


def _chain(x: str, name: str, *steps) -> str:
    return f"{_pipe(f'[{x}]', name, *steps)}[1]"


# _chain steps of XXH64's round(0, lane): rotl(lane * P2, 31) * P1
_ROUND0 = (lambda v: _umul(v, _XP2), lambda v: _umul(_rotl(v, 31), _XP1))
# _chain steps of XXH64's avalanche, then the signed BIGINT Spark returns
_AVALANCHE = (
    lambda v: _umul(f"xor({v}, {v} >> 33)", _XP2),
    lambda v: _umul(f"xor({v}, {v} >> 29)", _XP3),
    lambda v: f"xor({v}, {v} >> 32)",
    lambda v: (
        f"CAST(CAST({v} AS HUGEINT) - CASE WHEN {v} >= {1 << 63} "
        f"THEN {1 << 64} ELSE 0 END AS BIGINT)"
    ),
)


def _lanes_le(hx: str, off: str, nbytes: int) -> str:
    """Little-endian unsigned read of ``nbytes`` bytes at 0-based byte
    offset ``off`` from the hex string ``hx``."""
    parts = " || ".join(
        f"substr({hx}, 2 * ({off}) + {2 * i + 1}, 2)" for i in reversed(range(nbytes))
    )
    return f"CAST('0x' || {parts} AS UBIGINT)"


def xxhash64_sql(s: str, seed: int = 42) -> str:
    """DuckDB expression equal to Spark's ``xxhash64(s)`` (BIGINT) for a
    VARCHAR expression ``s``: XXH64 over its UTF-8 bytes with ``seed``
    (Spark's is 42). Bytes are read from ``hex(encode(s))``; the 32-byte
    stripe loop and the 8-byte lane loop are list_reduce calls with the
    start state prepended. About 50 us per short string in DuckDB 1.0 on
    a 4-vCPU x86 host: hash DISTINCT strings in their own CTE and join
    the hashes back."""
    hx, n = "xh", "(len(xh) // 2)"
    m = 1 << 64
    v0 = "[" + ", ".join(
        _u(v % m) for v in (seed + _XP1 + _XP2, seed + _XP2, seed, seed - _XP1)
    ) + "]"
    stripes = (
        f"list_transform(range({n} // 32), xs -> ["
        + ", ".join(_lanes_le(hx, f"32 * xs + {8 * k}", 8) for k in range(4))
        + "])"
    )
    # one stripe: round(acc[i], lane[i]) on all four accumulators
    rnd4 = _pipe(
        "list_transform(range(1, 5), xi -> [xa[xi], "
        + _umul("xl[xi]", _XP2) + "])",
        "xr",
        lambda p: _uadd(f"{p}[1]", f"{p}[2]"),
        lambda v: _umul(_rotl(v, 31), _XP1),
    )
    acc = f"list_reduce(list_prepend({v0}, {stripes}), (xa, xl) -> {rnd4})"
    # converge: sum of rotated accumulators, then fold in round(0, acc[i])
    rot = ", ".join(
        _rotl(f"xw[{k}]", r) for k, r in ((1, 1), (2, 7), (3, 12), (4, 18))
    )
    merge_step = _chain(
        "xor(xm, xq)", "xv",
        lambda v: _umul(v, _XP1), lambda v: _uadd(v, _u(_XP4)),
    )
    merged = _chain(
        acc, "xw",
        lambda w: (
            f"list_prepend(list_reduce([{rot}], (xm, xq) -> {_uadd('xm', 'xq')}), "
            f"{_pipe(w, 'xv', *_ROUND0)})"
        ),
        lambda w: f"list_reduce({w}, (xm, xq) -> {merge_step})",
    )
    lane_step = _chain(
        "xk", "xv",
        *_ROUND0,
        lambda v: f"xor(xb, {v})",
        lambda v: _umul(_rotl(v, 27), _XP1),
        lambda v: _uadd(v, _u(_XP4)),
    )
    lanes = (
        f"list_transform(range({n} % 32 // 8), xj -> "
        f"{_lanes_le(hx, f'{n} // 32 * 32 + 8 * xj', 8)})"
    )
    word_step = _chain(
        _lanes_le(hx, f"{n} // 8 * 8", 4), "xv",
        lambda v: _umul(v, _XP1),
        lambda v: f"xor(xst, {v})",
        lambda v: _umul(_rotl(v, 23), _XP2),
        lambda v: _uadd(v, _u(_XP3)),
    )
    byte_step = _chain(
        "xy", "xv",
        lambda v: _umul(v, _XP5),
        lambda v: f"xor(xd, {v})",
        lambda v: _umul(_rotl(v, 11), _XP1),
    )
    tail = (
        f"list_transform(range({n} % 4), xt -> "
        f"{_lanes_le(hx, f'{n} - {n} % 4 + xt', 1)})"
    )
    body = _chain(
        f"CASE WHEN {n} >= 32 THEN {merged} ELSE {_u((seed + _XP5) % m)} END",
        "xst",
        lambda h: _uadd(h, f"{n}::UBIGINT"),
        lambda h: f"list_reduce(list_prepend({h}, {lanes}), (xb, xk) -> {lane_step})",
        lambda h: f"CASE WHEN {n} % 8 >= 4 THEN {word_step} ELSE {h} END",
        lambda h: f"list_reduce(list_prepend({h}, {tail}), (xd, xy) -> {byte_step})",
        *_AVALANCHE,
    )
    return f"list_transform([hex(encode({s}))], {hx} -> {body})[1]"


def hash_long_sql(v: str, seed: str) -> str:
    """DuckDB expression equal to one step of Spark's multi-column
    ``xxhash64(a, b, ...)``: XXH64's hashLong of the BIGINT ``v`` seeded
    with the BIGINT ``seed`` (the previous column's hash; 42 for the
    first). ``F.xxhash64(a, b)`` is ``hash_long_sql(b, hash_long_sql(a,
    '42'))``."""
    def unsigned(x: str) -> str:
        return f"CAST((CAST({x} AS HUGEINT) + {1 << 64}) % {1 << 64} AS UBIGINT)"

    start = f"CAST((CAST({seed} AS HUGEINT) + {1 << 64} + {_XP5 + 8}) % {1 << 64} AS UBIGINT)"
    return _chain(
        unsigned(v), "hv",
        *_ROUND0,
        lambda x: f"xor({start}, {x})",
        lambda x: _umul(_rotl(x, 27), _XP1),
        lambda x: _uadd(x, _u(_XP4)),
        *_AVALANCHE,
    )


def _xor_const(a: str, c: int) -> str:
    return f"CAST(xor(CAST(({a}) AS UBIGINT), CAST({c} AS UBIGINT)) AS HUGEINT)"


def _sql_str_array(vals) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


def f1_cte(n_rows: int, seed: int = 42, token_positions: tuple[int, ...] = (0, 2, 5)) -> str:
    """WITH-clause SQL producing `f1(i, source, n_tok, t{p}...)` identical to
    generate_sequences(spark, n_rows, seed) header fields. token_positions are
    0-based header indices (token j lives at stream offset j+1)."""
    cum = np.cumsum(SOURCE_WEIGHTS)
    cum_sql = "[" + ", ".join(repr(float(c)) for c in cum) + "]"
    src_salt = 0xA5A5A5A5 + seed
    ntok_salt = 0x5EED5EED + seed
    keymul = seed * 0x10001
    tok_cols = ",\n  ".join(
        f"CAST({splitmix64_sql(f'(row_key + {p + 1}) % {_M64}')} % {VOCAB_SIZE} AS INT) AS t{p}"
        for p in token_positions
    )
    return f"""
ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range({n_rows})),
g AS (SELECT i,
  {splitmix64_sql(_xor_const('i', src_salt))} AS src_h,
  {splitmix64_sql(_xor_const('i', ntok_salt))} AS ntok_h,
  {splitmix64_sql(f'(i + {keymul}) % {_M64}')} AS row_key
FROM ids),
g2 AS (SELECT i, row_key,
  len(list_filter({cum_sql}, c -> c <= CAST(src_h AS DOUBLE) / 18446744073709551616.0)) AS src_idx_raw,
  CAST({MIN_TOK} + floor(({MAX_TOK} - {MIN_TOK}) * power(CAST(ntok_h AS DOUBLE) / 18446744073709551616.0, 3)) AS INT) AS n_tok
FROM g),
f1 AS (SELECT i,
  {_sql_str_array(SOURCES)}[least(src_idx_raw, {len(SOURCES) - 1}) + 1] AS source,
  n_tok,
  {tok_cols}
FROM g2)"""


def f1_tokens_cte(n_rows: int, seed: int = 42) -> str:
    """WITH-clause SQL producing ``f1t(i, doc_id, source, n_tok, tokens)``
    with the FULL token list per row — token j (0-based) is
    splitmix64(row_key + j + 1) % VOCAB_SIZE, replayed inside a DuckDB list
    lambda. The strongest oracle form: the verifier regenerates every token
    of every sequence from seed alone and then re-runs the operator's
    semantics over them in SQL."""
    cum = np.cumsum(SOURCE_WEIGHTS)
    cum_sql = "[" + ", ".join(repr(float(c)) for c in cum) + "]"
    src_salt = 0xA5A5A5A5 + seed
    ntok_salt = 0x5EED5EED + seed
    keymul = seed * 0x10001
    tok_j = splitmix64_sql(f"(row_key + j + 1) % {_M64}")
    return f"""
ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range({n_rows})),
g AS (SELECT i,
  {splitmix64_sql(_xor_const('i', src_salt))} AS src_h,
  {splitmix64_sql(_xor_const('i', ntok_salt))} AS ntok_h,
  {splitmix64_sql(f'(i + {keymul}) % {_M64}')} AS row_key
FROM ids),
g2 AS (SELECT i, row_key,
  len(list_filter({cum_sql}, c -> c <= CAST(src_h AS DOUBLE) / 18446744073709551616.0)) AS src_idx_raw,
  CAST({MIN_TOK} + floor(({MAX_TOK} - {MIN_TOK}) * power(CAST(ntok_h AS DOUBLE) / 18446744073709551616.0, 3)) AS INT) AS n_tok
FROM g),
g3 AS (SELECT i, row_key, n_tok,
  {_sql_str_array(SOURCES)}[least(src_idx_raw, {len(SOURCES) - 1}) + 1] AS source
FROM g2),
f1t AS MATERIALIZED (SELECT i,
  source || '-' || lpad(CAST(i AS VARCHAR), 12, '0') AS doc_id,
  source, n_tok,
  list_transform(range(0, n_tok), j -> CAST({tok_j} % {VOCAB_SIZE} AS INT)) AS tokens
FROM g3)"""


def contamination_oracle(
    n_rows: int, patterns: list[list[int]], seed: int = 42
) -> str:
    """Oracle for queries.contamination_token_hits: regenerate the full token
    streams, then find the FIRST occurrence (0-based) of each benchmark
    pattern via a list-lambda scan (DuckDB list slices are 1-based inclusive:
    tokens[i : i+m-1] is the m-token window starting at i)."""
    m = len(patterns[0])
    if any(len(p) != m for p in patterns):
        raise ValueError("all patterns must share one length")
    # per-pattern branch with an element-wise conjunction (no slice allocs;
    # the AND short-circuits on the first token, so the scan is ~one integer
    # compare per position instead of an m-slice equality)
    branches = []
    for k, p in enumerate(patterns):
        cond = " AND ".join(f"f.tokens[i + {j}] = {t}" for j, t in enumerate(p))
        branches.append(
            f"""SELECT {k} AS pattern_id, f.doc_id,
         CAST(list_filter(range(1, len(f.tokens) - {m} + 2),
                          i -> {cond})[1] - 1 AS INT) AS match_pos
  FROM f1t f"""
        )
    union = "\n  UNION ALL\n  ".join(branches)
    return f"""
WITH {f1_tokens_cte(n_rows, seed)},
hits AS (
  {union})
SELECT pattern_id, doc_id, match_pos
FROM hits WHERE match_pos IS NOT NULL
"""


def benchmark_patterns(
    rows: list[int], m: int = 3, seed: int = 42
) -> list[list[int]]:
    """Deterministic 'benchmark set' for the decontamination fixture: the
    first m tokens of the given row indices (numpy replay of the generator —
    each pattern provably occurs in its origin row at position 0)."""
    from loongcollector_spark.sources.synthetic import _row_key, _splitmix64

    out = []
    for r in rows:
        key = _row_key(np.array([r], dtype=np.int64), seed)[0]
        with np.errstate(over="ignore"):
            toks = [
                int(_splitmix64(np.array([key + np.uint64(j + 1)], dtype=np.uint64))[0]
                    % np.uint64(VOCAB_SIZE))
                for j in range(m)
            ]
        out.append(toks)
    return out


def token_native_rollup_oracle(n_rows: int = 5000, seed: int = 42) -> str:
    """Oracle for queries.token_native_parse_rollup: route on status/level
    extracted straight from header tokens, roll up per (source, sink)."""
    status_arr = _sql_str_array([str(s) for s in _STATUS])
    level_arr = _sql_str_array(list(_LEVELS))
    return f"""
WITH {f1_cte(n_rows, seed, (0, 2, 5))},
fields AS (
  SELECT source, n_tok,
         {status_arr}[(t2 % {len(_STATUS)}) + 1] AS status,
         {level_arr}[(t5 % {len(_LEVELS)}) + 1] AS level
  FROM f1),
routed AS (
  SELECT source, n_tok,
         CASE WHEN regexp_full_match(status, '5\\d\\d') THEN 'errors'
              WHEN regexp_full_match(level, 'WARN|ERROR') THEN 'warns'
              ELSE 'default' END AS sink
  FROM fields)
SELECT source, sink, COUNT(*) AS rows, CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM routed GROUP BY source, sink
"""


def tokenized_pipeline_oracle(n_rows: int = 5000, seed: int = 42) -> str:
    """Oracle for queries.tokenized_pipeline_e2e: detok render emits JSON
    lines only for the app-* family, so parse_json yields `level` there and
    NULL elsewhere; route ERROR -> errors, web-* -> web, else default."""
    level_arr = _sql_str_array(list(_LEVELS))
    return f"""
WITH {f1_cte(n_rows, seed, (5,))},
fields AS (
  SELECT source, n_tok,
         CASE WHEN source LIKE 'app-%'
              THEN {level_arr}[(t5 % {len(_LEVELS)}) + 1] END AS level
  FROM f1),
routed AS (
  SELECT source, n_tok,
         CASE WHEN level = 'ERROR' THEN 'errors'
              WHEN source LIKE 'web-%' THEN 'web'
              ELSE 'default' END AS sink
  FROM fields)
SELECT source, sink, COUNT(*) AS rows, CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM routed GROUP BY source, sink
"""

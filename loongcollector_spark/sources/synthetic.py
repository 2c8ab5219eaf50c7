"""Deterministic synthetic tokenized-sequence table (FIXTURES.md F1).

The north-rule input: ``(doc_id:string, tokens:array<int32>, n_tok:int32,
source:string)``. Every column is a pure function of the row index ``i``
(seeded splitmix64), and ``i`` is recoverable from ``doc_id`` — so ANY worker
(or an oracle in a test) can recompute the exact expected token array for a
row it holds, giving us the per-row token-array equality check the baseline
demands without shipping golden files.

Mirrors the reference's deterministic mock inputs (`plugins/input/mock/`,
`test/e2e/test_cases/input_mock_log/case.feature`) but vectorized: generation
runs as ``mapInPandas`` over ``spark.range`` — numpy end to end, no per-row
Python.

Skew: ``source`` is Zipfian over 16 values with the head source holding ~40%
of rows (FIXTURES.md F1), so every rollup's map-side partial aggregation
meets a hot key by construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 50257
MIN_TOK, MAX_TOK = 8, 2048
DEFAULT_SEED = 42

SOURCES = (
    "web-01", "web-02", "web-03", "web-04", "web-05", "web-06", "web-07", "web-08",
    "app-01", "app-02", "app-03", "app-04",
    "sys-01", "sys-02", "sys-03", "sys-04",
)
# Zipfian-ish weights, head source ~40% of rows (exercises skew).
SOURCE_WEIGHTS = np.array(
    [0.40, 0.12, 0.08, 0.06, 0.05, 0.04, 0.035, 0.03,
     0.028, 0.026, 0.024, 0.022, 0.02, 0.019, 0.018, 0.028]
)
_CUMW = np.cumsum(SOURCE_WEIGHTS)

_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_SRC_SALT = np.uint64(0xA5A5A5A5)
_NTOK_SALT = np.uint64(0x5EED5EED)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays (public algorithm)."""
    with np.errstate(over="ignore"):
        x = (x + _GOLDEN).astype(np.uint64)
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        x = x ^ (x >> np.uint64(31))
    return x


def _u01(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float64) / float(2**64)


def _source_idx(i: np.ndarray, seed: int) -> np.ndarray:
    h = _splitmix64(i.astype(np.uint64) ^ (_SRC_SALT + np.uint64(seed)))
    return np.searchsorted(_CUMW, _u01(h), side="right").clip(0, len(SOURCES) - 1)


def _n_tok(i: np.ndarray, seed: int) -> np.ndarray:
    h = _splitmix64(i.astype(np.uint64) ^ (_NTOK_SALT + np.uint64(seed)))
    u = _u01(h)
    # cubic skew toward short sequences ("log-normal-ish", 8..2048)
    return (MIN_TOK + np.floor((MAX_TOK - MIN_TOK) * u**3)).astype(np.int32)


def _row_key(i: np.ndarray, seed: int) -> np.ndarray:
    return _splitmix64(i.astype(np.uint64) + np.uint64(seed) * np.uint64(0x10001))


def _tokens_flat(row_keys: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Token stream for many rows at once: token[j] of row r is
    splitmix64(row_key[r] + j + 1) % VOCAB_SIZE. Fully vectorized."""
    total = int(lengths.sum())
    rep_keys = np.repeat(row_keys, lengths)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    intra = np.arange(total, dtype=np.uint64) - np.repeat(starts, lengths).astype(np.uint64)
    with np.errstate(over="ignore"):
        elem_key = rep_keys + intra + np.uint64(1)
    return (_splitmix64(elem_key) % np.uint64(VOCAB_SIZE)).astype(np.int32)


def _gen_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    src_idx = _source_idx(ids, seed)
    sources = np.asarray(SOURCES)[src_idx]
    n_tok = _n_tok(ids, seed)
    keys = _row_key(ids, seed)
    flat = _tokens_flat(keys, n_tok)
    tokens = np.split(flat, np.cumsum(n_tok)[:-1])
    doc_id = pd.Series(sources) + "-" + pd.Series(ids).astype(str).str.zfill(12)
    return pd.DataFrame(
        {"doc_id": doc_id, "tokens": tokens, "n_tok": n_tok, "source": sources}
    )


def generate_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = DEFAULT_SEED,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation of the F1 table."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_rows, numPartitions=parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(pdf["id"].to_numpy(dtype=np.int64), seed)

    return base.mapInPandas(gen, schema=_SCHEMA)


def generate_sequences_head(
    spark: SparkSession,
    n_rows: int,
    head: int = 8,
    seed: int = DEFAULT_SEED,
    partitions: int | None = None,
) -> DataFrame:
    """F1 table with ``tokens`` truncated to the first ``head`` entries.
    token[j] = splitmix64(row_key + j + 1) % V depends only on (row, j), so
    the header tokens are IDENTICAL to ``generate_sequences``'s — this is the
    cheap generator for parse-oriented benchmarks where the tail payload
    isn't exercised. ``n_tok`` still reports the full length."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_rows, numPartitions=parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if not len(ids):
                continue
            keys = _row_key(ids, seed)
            with np.errstate(over="ignore"):
                head_m = np.stack(
                    [
                        (_splitmix64(keys + np.uint64(j + 1)) % np.uint64(VOCAB_SIZE)).astype(np.int32)
                        for j in range(head)
                    ],
                    axis=1,
                )
            src = np.asarray(SOURCES)[_source_idx(ids, seed)]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(src) + "-" + pd.Series(ids).astype(str).str.zfill(12),
                    "tokens": list(head_m),
                    "n_tok": _n_tok(ids, seed),
                    "source": src,
                }
            )

    return base.mapInPandas(gen, schema=_SCHEMA)


def doc_index(doc_id: str) -> int:
    """Recover the row index from a doc_id (``{source}-{i:012d}``)."""
    return int(doc_id.rsplit("-", 1)[1])


def expected_tokens(doc_id: str, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Oracle: recompute the exact token array for one doc_id."""
    i = np.array([doc_index(doc_id)], dtype=np.int64)
    n = _n_tok(i, seed)
    return _tokens_flat(_row_key(i, seed), n)


# ---------------------------------------------------------------------------
# Detokenized render: turn header tokens into parseable log lines (F2-F5).
# The first tokens of each sequence deterministically select field values, so
# a parser stage can extract fields and a test can recompute the golden values
# straight from the token array (parse output ⇄ token equality round trip).
# ---------------------------------------------------------------------------

_METHODS = np.asarray(["GET", "POST", "PUT", "DELETE", "HEAD"])
_PATHS = np.asarray(["/index.html", "/api/v1/items", "/hello/loong", "/static/app.js", "/health"])
_STATUS = np.asarray([200, 200, 200, 301, 404, 500])
_LEVELS = np.asarray(["INFO", "WARN", "ERROR", "DEBUG"])


def _pick(values, token: Column) -> Column:
    """``values[token mod len(values)]`` as a string (pmod: a floor modulo,
    like numpy's ``%``)."""
    table = F.array(*[F.lit(str(v)) for v in values])
    return F.get(table, F.pmod(token, F.lit(len(values))))


def render_lines(df: DataFrame) -> DataFrame:
    """Attach a detokenized, format-varied log line per row (format keyed by
    source family: web→nginx access line, app→JSON object, sys→TSV).

    The line is built from the first 8 tokens with Catalyst expressions
    (``element_at``, ``pmod``, ``concat``, ``when`` on the source family), so
    it fuses into whole-stage codegen and starts no Python worker. Field j
    of a line reads token t[j] as in FIXTURES.md F2-F5: method t0 mod 5,
    path t1 mod 5, status t2 mod 6, bytes t3 mod 100000, level t5 mod 4,
    uid t6 mod 10000, ip 10+t7 mod 200 . 0 . t2 mod 256 . t3 mod 256. A line
    whose format reads a token the row lacks is NULL."""
    t = [F.try_element_at(F.col("tokens"), F.lit(j + 1)) for j in range(8)]
    # fields that several formats read are computed once, in their own
    # projection: repeating their code in each format would push the fused
    # stage's generated method past the size HotSpot JIT-compiles
    fields = {
        "__method__": _pick(_METHODS, t[0]),
        "__path__": _pick(_PATHS, t[1]),
        "__status__": _pick(_STATUS, t[2]),
        "__bytes__": F.pmod(t[3], F.lit(100000)).cast("string"),
        "__level__": _pick(_LEVELS, t[5]),
    }
    method, path, status, nbytes, level = (F.col(c) for c in fields)
    uid = F.pmod(t[6], F.lit(10000)).cast("string")
    ip = F.concat(
        (F.pmod(t[7], F.lit(200)) + 10).cast("string"), F.lit(".0."),
        F.pmod(t[2], F.lit(256)).cast("string"), F.lit("."),
        F.pmod(t[3], F.lit(256)).cast("string"),
    )
    nginx = F.concat(
        ip, F.lit(' - - [18/Jul/2022:07:28:01 +0000] "'), method, F.lit(" "), path,
        F.lit(' HTTP/1.1" '), status, F.lit(" "), nbytes, F.lit(' "-" "curl/7.74.0" "-"'),
    )
    jsonl = F.concat(
        F.lit('{"method":"'), method, F.lit('","path":"'), path, F.lit('","status":'), status,
        F.lit(',"bytes":'), nbytes, F.lit(',"level":"'), level, F.lit('"}'),
    )
    delim = F.concat(
        uid, F.lit("\t2022-08-08\t"), method, F.lit("\t"), nbytes, F.lit("\t"), level,
    )
    family = F.substring_index(F.col("source"), "-", 1)
    line = F.when(family == "web", nginx).when(family == "app", jsonl).otherwise(delim)
    return df.withColumns(fields).withColumn("line", line).drop(*fields)

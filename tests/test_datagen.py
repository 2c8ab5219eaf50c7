"""Synthetic tokenized-sequence table: determinism + per-row token oracle.

Mirrors the reference's deterministic mock-input strategy
(plugins/input/mock/, test/e2e/test_cases/input_mock_log/case.feature)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from loongcollector_spark.sources import expected_tokens, generate_sequences, render_lines
from loongcollector_spark.sources.synthetic import _LEVELS, _METHODS, _PATHS, _STATUS, SOURCES


def test_schema_and_invariants(spark):
    df = generate_sequences(spark, 500, partitions=4)
    assert [f.name for f in df.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]
    rows = df.collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert r.n_tok == len(r.tokens)
        assert 8 <= r.n_tok <= 2048
        assert r.source in SOURCES
        assert r.doc_id.startswith(r.source)


def test_token_oracle_roundtrip(spark):
    """Any worker can recompute the exact token array from doc_id alone —
    the per-row token-array equality invariant from BASELINE.json."""
    rows = generate_sequences(spark, 200, partitions=4).collect()
    for r in rows[::7]:
        assert list(expected_tokens(r.doc_id)) == list(r.tokens)


def test_determinism_across_partitioning(spark):
    a = generate_sequences(spark, 300, partitions=2).orderBy("doc_id").collect()
    b = generate_sequences(spark, 300, partitions=7).orderBy("doc_id").collect()
    assert a == b


def test_zipf_skew_head_source(spark):
    counts = dict(
        generate_sequences(spark, 5000, partitions=8)
        .groupBy("source").count().collect()
    )
    head = counts.get("web-01", 0)
    assert 0.33 <= head / 5000 <= 0.47  # ~40% head share (FIXTURES.md F1)


def test_render_formats(spark):
    df = render_lines(generate_sequences(spark, 300, partitions=4))
    fam = df.withColumn("fam", F.split("source", "-")[0])
    web = fam.filter("fam = 'web'").select("line").first().line
    app = fam.filter("fam = 'app'").select("line").first().line
    sys = fam.filter("fam = 'sys'").select("line").first().line
    assert '"-" "curl/7.74.0" "-"' in web
    assert app.startswith("{") and '"method":' in app
    assert sys.count("\t") == 4


def _render_lines_np(t: np.ndarray, fam: np.ndarray) -> pd.Series:
    """Golden F2-F5 formula in numpy: (n,8) int64 header-token matrix +
    source family -> one log line per row."""
    method = pd.Series(_METHODS[t[:, 0] % len(_METHODS)])
    path = pd.Series(_PATHS[t[:, 1] % len(_PATHS)])
    status = pd.Series(_STATUS[t[:, 2] % len(_STATUS)]).astype(str)
    nbytes = pd.Series(t[:, 3] % 100000).astype(str)
    level = pd.Series(_LEVELS[t[:, 5] % len(_LEVELS)])
    uid = pd.Series(t[:, 6] % 10000).astype(str)
    ip = (pd.Series(10 + t[:, 7] % 200).astype(str) + ".0." + pd.Series(t[:, 2] % 256).astype(str)
          + "." + pd.Series(t[:, 3] % 256).astype(str))
    nginx = (ip + ' - - [18/Jul/2022:07:28:01 +0000] "' + method + " " + path + ' HTTP/1.1" '
             + status + " " + nbytes + ' "-" "curl/7.74.0" "-"')
    jsonl = ('{"method":"' + method + '","path":"' + path + '","status":' + status
             + ',"bytes":' + nbytes + ',"level":"' + level + '"}')
    delim = uid + "\t2022-08-08\t" + method + "\t" + nbytes + "\t" + level
    return pd.Series(np.where(fam == "web", nginx, np.where(fam == "app", jsonl, delim)))


def test_render_matches_numpy_formula(spark):
    """render_lines' JVM expressions equal the F2-F5 numpy formula on every
    row of all three source families."""
    rows = render_lines(generate_sequences(spark, 2000, partitions=4)).select(
        "source", F.slice("tokens", 1, 8).alias("head"), "line").toPandas()
    fam = rows["source"].str.split("-").str[0].to_numpy()
    assert set(fam) == {"web", "app", "sys"}
    want = _render_lines_np(np.vstack(rows["head"].to_numpy()).astype(np.int64), fam)
    assert rows["line"].tolist() == want.tolist()


def test_head_generator_matches_full_generator_head(spark):
    """generate_sequences_head is byte-identical to generate_sequences on
    doc_id/source/n_tok and the first `head` tokens (the probe-input contract)."""
    from pyspark.sql import functions as F

    from loongcollector_spark.sources.synthetic import (
        generate_sequences,
        generate_sequences_head,
    )

    full = (
        generate_sequences(spark, 300, partitions=4)
        .select("doc_id", F.slice("tokens", 1, 8).alias("tokens"), "n_tok", "source")
    )
    head = generate_sequences_head(spark, 300, head=8, partitions=4)
    a = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"]) for r in full.collect()}
    b = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"]) for r in head.collect()}
    assert a == b

"""Driver contract: entry() smoke, queries()/oracle_sql() consistency, and a
fast oracle spot-check at sf0.001 (the full sf0.01 sweep runs via
tools/check_oracles.py and the driver)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from loongcollector_spark.functions import dedup
from loongcollector_spark.queries import QUERIES
from tools.check_oracles import table_hash

SF = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"source", "sink", "rows", "chars", "tokens"}


def test_registry_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 30
    assert set(oracles) <= set(qs)
    # every query documents what it demonstrates
    assert all(QUERIES[n].doc for n in qs)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


# spot-check a representative subset at sf0.001 to keep test time sane
SPOT = [
    "flagship_pipeline_rollup",
    "router_first_match",
    "dict_map_missing_default",
    "dedup_ngram_jaccard",
    "ann_cosine_top10",
    "salted_source_rollup",
    "syslog_rfc3164_parse",
    "pick_drop_keys_projection",
    "tag_route_rollup",
    # the xxhash64 gram-hash family, replayed by sources/sql_oracle XXH64
    "dedup_minhash_lsh",
    "fuzzy_contamination_minhash",
    "dedup_simhash",
    "dedup_simhash_multirot",
    "dedup_cluster_keepers",
    "bloom_contamination_flags",
    "dsir_importance_weights",
    "quality_classifier_gate",
    "lm_perplexity_buckets",
]


@pytest.mark.parametrize("name", SPOT)
def test_oracle_spot(spark, duck, name):
    q = QUERIES[name]
    sdf = q.spark(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    dedup.release_persisted()
    ddf = duck.sql(q.sql)
    drows = [tuple(r) for r in ddf.fetchall()]
    assert sorted(sdf.columns) == sorted(list(ddf.columns))
    assert len(srows) == len(drows)
    assert table_hash(sdf.columns, srows) == table_hash(list(ddf.columns), drows)


def test_new_parse_queries_are_shuffle_free(spark):
    """Container/prometheus/SPL parse queries must compile to pure
    projection+filter plans: zero exchanges, fused into the scan."""
    from loongcollector_spark.queries import QUERIES

    for name in ("parse_container_stdio", "prom_parse_relabel",
                 "spl_pipeline_extract", "syslog_rfc3164_parse",
                 "pick_drop_keys_projection"):
        plan = (
            QUERIES[name]
            .spark(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:800]}"

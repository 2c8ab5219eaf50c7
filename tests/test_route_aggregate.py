"""Routing, aggregation, multiline, metrics, lineage tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loongcollector_spark import lineage
from loongcollector_spark.metrics import MetricsRegistry
from loongcollector_spark.operators import aggregate as agg
from loongcollector_spark.operators import multiline, route


@pytest.fixture()
def events(spark):
    rows = [
        (0, "LOG", "prod", "checkout failed"),
        (1, "LOG", "dev", "ok"),
        (2, "METRIC", "prod", "cpu=1"),
        (3, "LOG", "prod", "payment ok"),
    ]
    return spark.createDataFrame(rows, "id int, event_type string, env string, content string")


# --- routing ------------------------------------------------------------------

def test_route_fanout_duplication(events):
    routes = [
        route.Route("sink_a", route.Condition(tag_key="env", tag_value="prod", discard_tag=True)),
        route.Route("sink_b", route.Condition(event_type="METRIC")),
        route.Route("sink_all", None),
    ]
    out = route.route_fanout(events, routes)
    assert sorted(r.id for r in out["sink_a"].collect()) == [0, 2, 3]
    assert "env" not in out["sink_a"].columns  # DiscardingTag (Condition.h:28-73)
    assert [r.id for r in out["sink_b"].collect()] == [2]
    assert out["sink_all"].count() == 4  # always-match duplicates rows


def test_route_fanout_mixed_discard_keeps_tag_per_row(events):
    """A sink fed by both a discarding and a non-discarding route: rows that
    matched the keeping route retain the tag value, rows delivered only by
    the discarding route get null — per-route discard semantics
    (Condition.h:28-73) approximated per row in the columnar model."""
    routes = [
        route.Route("mix", route.Condition(tag_key="env", tag_value="prod", discard_tag=True)),
        route.Route("mix", route.Condition(event_type="METRIC")),
    ]
    out = route.route_fanout(events, routes)["mix"]
    assert "env" in out.columns
    vals = {r.id: r.env for r in out.collect()}
    # id=2 is METRIC (keeping route) -> tag kept even though it is also prod;
    # prod-only rows lose the tag value
    assert vals[2] == "prod"
    assert all(v is None for i, v in vals.items() if i != 2)


def test_route_first_match_wins(events):
    routes = [
        route.Route("errors", route.Condition(content_key="content", content_regex=".*failed.*")),
        route.Route("prod", route.Condition(tag_key="env", tag_value="prod")),
    ]
    out = route.route_first_match(events, routes)
    got = {r.id: r["__sink__"] for r in out.collect()}
    assert got == {0: "errors", 1: "default", 2: "prod", 3: "prod"}


def test_route_full_match_semantics(events):
    # logstore router regex is a FULL match (aggregator_router.go:106)
    routes = [route.Route("x", route.Condition(content_key="content", content_regex="ok"))]
    got = {r.id: r["__sink__"] for r in route.route_first_match(events, routes).collect()}
    assert got == {0: "default", 1: "x", 2: "default", 3: "default"}


def test_route_drop_dismatch(events):
    routes = [route.Route("x", route.Condition(tag_key="env", tag_value="prod"))]
    out = route.route_first_match(events, routes, default_sink=None, drop_dismatch=True)
    assert sorted(r.id for r in out.collect()) == [0, 2, 3]


@pytest.mark.parametrize("mode,raises", [
    ("fanout", False), ("first_match", False), ("first_match", True),
])
def test_run_pipeline_releases_routed_cache(spark, events, mode, raises):
    """run_pipeline persists the routed frame and releases it on every exit,
    in both route modes and when a sink raises."""
    from loongcollector_spark.pipeline import PipelineSpec, run_pipeline
    from loongcollector_spark.sinks import SinkSpec

    sinks = {s: SinkSpec(name=s, format="noop") for s in ("metric", "prod", "default")}
    if raises:
        # no spark-sql-kafka connector on the test classpath: write_sink raises
        sinks["prod"] = SinkSpec(name="prod", format="kafka", options={"topic": "t"})
    spec = PipelineSpec(
        name="cache",
        routes=[
            route.Route("metric", route.Condition(event_type="METRIC")),
            route.Route("prod", route.Condition(tag_key="env", tag_value="prod")),
        ],
        route_mode=mode,
        shard_keys=(),
        metrics_tokens_col=None,
        sinks=sinks,
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    if raises:
        with pytest.raises(RuntimeError, match="kafka"):
            run_pipeline(events, spec)
    else:
        run_pipeline(events, spec)
    assert jsc.getPersistentRDDs().size() == before


def test_dynamic_topic(events):
    out = route.dynamic_topic(events, "logs_%{env}_v1")
    assert out.first()["__topic__"] == "logs_prod_v1"


# --- aggregate ----------------------------------------------------------------

def test_shard_hash_buckets_deterministic(spark):
    df = spark.range(1000).withColumn("k", F.col("id").cast("string"))
    out = agg.shard_hash(df, ["k"], shard_count=8, repartition=False)
    buckets = out.select("__bucket__").distinct().collect()
    assert all(0 <= r["__bucket__"] < 8 for r in buckets)
    a = {r.id: r["__bucket__"] for r in out.collect()}
    b = {r.id: r["__bucket__"] for r in agg.shard_hash(df, ["k"], 8, repartition=False).collect()}
    assert a == b
    with pytest.raises(ValueError):
        agg.shard_hash(df, ["k"], shard_count=6)


def test_content_value_group(events):
    out = agg.content_value_group(events, ["env"])
    assert {r.env: r.rows for r in out.collect()} == {"prod": 3, "dev": 1}


def test_salted_agg_matches_plain(spark):
    df = spark.range(5000).select(
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("n"),
    )
    salted = agg.salted_agg(
        df, ["source"],
        {"rows": ("count", F.lit(1)), "tok": ("sum", F.col("n")),
         "mx": ("max", F.col("n")), "avg_n": ("avg", F.col("n"))},
        salt_expr=F.xxhash64("doc_id"), salt_buckets=8,
    )
    plain = df.groupBy("source").agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n").alias("tok"),
        F.max("n").alias("mx"), F.avg("n").alias("avg_n"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_pack_id_stamping(spark):
    df = agg.with_pack_id(spark.range(100).repartition(4), group_size=10)
    rows = df.collect()
    assert all("-" in r["__pack_id__"] for r in rows)


def test_metadata_group_cap(spark):
    df = spark.createDataFrame([(i, "g") for i in range(10)], "id int, g string")
    assert agg.metadata_group(df, ["g"], max_events=3, drop_oversize=True).count() == 3


# --- multiline ----------------------------------------------------------------

STACK = [
    ("f", 0, "2024-01-01 10:00:00 [ERROR] boom"),
    ("f", 1, "  at com.foo.Bar(Bar.java:1)"),
    ("f", 2, "  at com.foo.Baz(Baz.java:2)"),
    ("f", 3, "2024-01-01 10:00:01 [INFO] fine"),
    ("f", 4, "2024-01-01 10:00:02 [ERROR] again"),
    ("f", 5, "  at com.foo.Qux(Qux.java:3)"),
]
START = r"\d+-\d+-\d+\s\d+:\d+:\d+\s\[.*"


def test_merge_multiline(spark):
    df = spark.createDataFrame(STACK, "file string, offset long, line string")
    out = multiline.merge_multiline_rules(df, "line", "file", "offset", START)
    rows = sorted(out.collect(), key=lambda r: r.offset)
    assert len(rows) == 3
    assert rows[0].line.count("\n") == 2 and "Baz.java" in rows[0].line
    assert rows[1].line == "2024-01-01 10:00:01 [INFO] fine"


def test_merge_multiline_unmatched_modes(spark):
    data = [("f", 0, "orphan1"), ("f", 1, "orphan2")] + [
        ("f", o + 10, l) for _, o, l in STACK[:3]
    ]
    df = spark.createDataFrame(data, "file string, offset long, line string")
    single = multiline.merge_multiline_rules(df, "line", "file", "offset", START, unmatched="single_line")
    assert single.count() == 3  # 2 orphans single-line + 1 merged block
    disc = multiline.merge_multiline_rules(df, "line", "file", "offset", START, unmatched="discard")
    assert disc.count() == 1


def test_merge_by_flag(spark):
    data = [("f", 0, "par", True), ("f", 1, "tial", True), ("f", 2, " end", False),
            ("f", 3, "whole", False)]
    df = spark.createDataFrame(data, "file string, offset long, line string, partial boolean")
    out = sorted(multiline.merge_by_flag(df, "line", "file", "offset", "partial").collect(),
                 key=lambda r: r.offset)
    assert [r.line for r in out] == ["partial end", "whole"]


# --- metrics ------------------------------------------------------------------

def test_observed_counters(spark):
    reg = MetricsRegistry()
    df = spark.range(100).withColumn("s", F.lit("x"))
    observed = reg.observe_counts(df, "stage1", size_col="s")
    observed.write.format("noop").mode("overwrite").save()
    got = reg.get("stage1")
    assert got["in_events_total"] == 100 and got["in_size_bytes"] == 100


def test_metrics_export_raises_observation_failure():
    """export() lets an observation's failure reach the caller instead of
    reporting the stage with no counters. A stub stands in for the
    Observation: the real one's ``get`` blocks until its job has run."""

    class FailingObservation:
        @property
        def get(self):
            raise RuntimeError("observed job failed")

    reg = MetricsRegistry(observations={"stage1": FailingObservation()})
    with pytest.raises(RuntimeError, match="observed job failed"):
        reg.export()


# --- lineage / checkpoint resume ----------------------------------------------

def test_checkpointed_write_resume(spark, tmp_path):
    base = str(tmp_path / "out")
    df = (
        spark.range(200)
        .select(
            F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
            (F.col("id") % 5).cast("int").alias("n_tok"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("__bucket__"),
        )
    )
    r1 = lineage.checkpointed_write(df, base, run_id="r1")
    assert r1["written_buckets"] == 4 and r1["rows"] == 200

    # simulate partial failure: delete 2 manifests (their data must be rewritten)
    import os

    for b in (1, 3):
        os.remove(os.path.join(base, "_lineage", f"bucket-{b:05d}.json"))
    r2 = lineage.checkpointed_write(df, base, run_id="r2")
    assert r2["written_buckets"] == 2 and r2["skipped_buckets"] == 2

    back = spark.read.parquet(os.path.join(base, "data"))
    assert back.count() == 200  # no dups, no missing
    assert back.select("doc_id").distinct().count() == 200
    manifests = lineage.read_manifests(base)
    assert len(manifests) == 4 and sum(m["rows"] for m in manifests) == 200
    runs = {m["run_id"] for m in manifests}
    assert runs == {"r1", "r2"}


def test_metadata_group_split_sequences(spark):
    """Over-full groups split into cap-sized slices (reference Add/Flush
    cycle), not dropped, when drop_oversize is False."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators import aggregate as agg

    df = spark.createDataFrame([("g", i) for i in range(7)], "g string, i int")
    out = agg.metadata_group(df, ["g"], max_events=3, drop_oversize=False)
    seqs = [r["__group_seq__"] for r in out.collect()]
    assert out.count() == 7
    assert sorted(set(seqs)) == [0, 1, 2]
    from collections import Counter

    assert sorted(Counter(seqs).values(), reverse=True) == [3, 3, 1]


def test_context_group_per_source_pack_sequences(spark):
    # aggregator_context.go Add/Flush contract: every source owns a gapless
    # 1..N pack sequence; packs are filled in arrival (offset) order
    from loongcollector_spark.operators.aggregate import context_group

    rows = [(s, i) for s in ("fileA", "fileB") for i in range(25)]
    df = spark.createDataFrame(rows, "source string, offset long")
    out = context_group(df, "source", "offset", max_log_count=10).collect()

    by_source = {}
    for r in out:
        by_source.setdefault(r.source, []).append((r.offset, r["__pack_seq__"], r["__pack_id__"]))
    for src, recs in by_source.items():
        recs.sort()
        seqs = [s for _, s, _ in recs]
        # offset order maps to pack order: 10+10+5
        assert seqs == [1] * 10 + [2] * 10 + [3] * 5
        prefixes = {p.split("-")[0] for _, _, p in recs}
        assert len(prefixes) == 1  # one prefix per source
        assert {p.split("-")[1] for _, _, p in recs} == {"1", "2", "3"}
    # distinct sources get distinct prefixes
    assert len({recs[0][2].split("-")[0] for recs in by_source.values()}) == 2


def test_rate_limit_sampled_hot_key(spark):
    from loongcollector_spark.operators.filters import rate_limit_sampled

    rows = [("hot", i) for i in range(10000)] + [("cold", i) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, id long")
    out = rate_limit_sampled(df, ["k"], 100, F.col("id"))
    got = {r[0]: r[1] for r in out.groupBy("k").count().collect()}
    assert got["cold"] == 50  # under-limit keys untouched
    assert 50 <= got["hot"] <= 200  # ~limit via hash slice
    # deterministic across runs
    a = sorted(r.id for r in out.filter(F.col("k") == "hot").collect())
    b = sorted(r.id for r in rate_limit_sampled(df, ["k"], 100, F.col("id"))
               .filter(F.col("k") == "hot").collect())
    assert a == b
    # the fact table must NOT shuffle: only broadcast exchange on its path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_metadata_group_hashed_bounded_slices(spark):
    from loongcollector_spark.operators.aggregate import metadata_group_hashed

    rows = [("a", i) for i in range(1000)] + [("b", i) for i in range(30)]
    df = spark.createDataFrame(rows, "k string, id long")
    out = metadata_group_hashed(df, ["k"], 100, F.col("id"))
    sizes = {(r.k, r["__group_seq__"]): r["count"]
             for r in out.groupBy("k", "__group_seq__").count().collect()}
    a_sizes = [v for (k, _), v in sizes.items() if k == "a"]
    assert len(a_sizes) == 10 and sum(a_sizes) == 1000
    assert max(a_sizes) <= 200  # ~100 per slice, hash variance bounded
    assert sizes[("b", 0)] == 30  # small key: single slice
    dropped = metadata_group_hashed(df, ["k"], 100, F.col("id"), drop_oversize=True)
    assert dropped.filter(F.col("k") == "b").count() == 30


def test_rate_limit_window_group_limit_pushdown(spark):
    # the exact form relies on WindowGroupLimit: a Partial pass below the
    # Exchange caps each map task at `limit` rows per key, so hot keys do
    # not ship their full volume through one reducer
    from loongcollector_spark.operators.filters import rate_limit

    df = spark.range(1000).withColumn("k", (F.col("id") % 3).cast("string"))
    plan = rate_limit(df, ["k"], 10, order_by=["id"])._jdf.queryExecution().executedPlan().toString()
    partial_idx = plan.find("WindowGroupLimit")
    assert partial_idx != -1 and "Partial" in plan


def test_rate_limit_sampled_null_keys_kept(spark):
    # null-keyed rows must find their count through the null-safe join
    # (a plain equi-join silently dropped them all)
    from loongcollector_spark.operators.filters import rate_limit_sampled

    rows = [(None, i) for i in range(40)] + [("k", i) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, id long")
    out = rate_limit_sampled(df, ["k"], 100, F.col("id"))
    got = {r[0]: r[1] for r in out.groupBy("k").count().collect()}
    assert got[None] == 40 and got["k"] == 10


def test_metadata_group_hashed_null_keys_capped(spark):
    from loongcollector_spark.operators.aggregate import metadata_group_hashed

    rows = [(None, i) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, id long")
    out = metadata_group_hashed(df, ["k"], 100, F.col("id"))
    n_slices = out.select("__group_seq__").distinct().count()
    assert n_slices == 5  # ceil(500/100) hash slices, not one uncapped blob


def test_route_fanout_multi_route_same_sink(spark):
    # Router delivers to a flusher when ANY of its conditions match —
    # two routes targeting one sink must OR, not first-wins
    from loongcollector_spark.operators.route import Condition, Route, route_fanout

    df = spark.createDataFrame(
        [("error", "a"), ("warn", "b"), ("info", "c")], "level string, msg string"
    )
    out = route_fanout(df, [
        Route("alerts", Condition(tag_key="level", tag_value="error")),
        Route("alerts", Condition(tag_key="level", tag_value="warn")),
        Route("all", None),
    ])
    assert sorted(r.level for r in out["alerts"].collect()) == ["error", "warn"]
    assert out["all"].count() == 3
    # unconditional route on a sink wins over any conditional sibling
    out2 = route_fanout(df, [
        Route("mix", Condition(tag_key="level", tag_value="error")),
        Route("mix", None),
    ])
    assert out2["mix"].count() == 3

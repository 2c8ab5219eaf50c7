"""Plan-quality assertions — the scan/join shapes the 100 TB design relies on.

These freeze the physical-plan properties the module docstrings claim:
column pruning + predicate pushdown reaching the parquet scan, broadcast
joins on small dimensions, and whole-stage codegen on the JVM parse path.
A regression that silently de-optimizes a plan (e.g. a UDF blocking
pushdown, a join losing its broadcast hint) fails here rather than
surfacing as a 100× slowdown on real data.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_and_pushes_down(spark):
    """A filtered projection over parquet must push the filter and read only
    the referenced columns (ReadSchema narrow, PushedFilters non-empty)."""
    from pyspark.sql import functions as F

    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "IsNotNull(lang)" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read and "n_chars" in read and "lang" in read
    assert "text" not in read  # the wide column stays unread


def test_dict_map_broadcasts_small_side(spark):
    """dict_map's lookup join must be a BroadcastHashJoin — the fact table
    never shuffles for a small dimension."""
    from loongcollector_spark.operators.enrich import dict_map
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    mapping = {"en": "english", "de": "german", "zh": "chinese"}
    out = dict_map(docs, "lang", mapping, "lang_name", missing="other")
    plan = _plan(out)
    # inline maps compile to a when/element_at chain or a broadcast join —
    # either way no SortMergeJoin / shuffle may appear
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_geo_cidr_join_broadcasts(spark):
    """The CIDR interval join is an /8-bucketed broadcast equi-join: the
    fact side must not shuffle."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.enrich import geo_cidr_lookup
    from loongcollector_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").withColumn(
        "ip",
        F.concat_ws(
            ".",
            (F.col("event_id") % 200 + 10).cast("string"),
            F.lit("0"), F.lit("0"), F.lit("1"),
        ),
    )
    nets = spark.createDataFrame(
        [("10.0.0.0/10", "net-a"), ("100.0.0.0/15", "net-b")],
        "cidr string, net string",
    )
    out = geo_cidr_lookup(ev, "ip", nets)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parse_chain_stays_in_codegen(spark):
    """The JVM parse path (regex extract + json + filters) must fuse into
    whole-stage codegen — no Python evaluation node in the plan."""
    from loongcollector_spark.operators.parse_regex import parse_regex
    from loongcollector_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    out = parse_regex(ev, "props", r'"k": (\d+)', ["kval"])
    plan = _plan(out)
    # "*(n) " prefixes mark whole-stage-codegen subtrees in executedPlan
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_pack_chunks_single_exchange(spark):
    """Per-shard packing must be ONE hash exchange: the window sorts inside
    the source partitioning and the (source, chunk_id) rollup reuses it —
    no second shuffle, no global total-order sort."""
    from loongcollector_spark.operators.token_ops import token_pack_chunks

    df = spark.createDataFrame(
        [("d1", 5, "s"), ("d2", 3, "t")], "doc_id string, n_tok int, source string"
    )
    out = (
        token_pack_chunks(df, chunk_len=4, partition_by="source")
        .groupBy("source", "chunk_id")
        .count()
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_repeated_substrings_shuffles_only_partials(spark):
    """The inverted index must shuffle (hash, count) partials once — a
    partial_count aggregate before the single exchange, never the token
    arrays."""
    from loongcollector_spark.operators.token_ops import token_repeated_substrings

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4])], "doc_id string, tokens array<int>"
    )
    out = token_repeated_substrings(df, w=3)
    plan = _plan(out)
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "partial" in plan.lower()


def test_pii_redact_stays_in_codegen(spark):
    """PII masking is pure regexp column work — no Python eval node."""
    from loongcollector_spark.functions import text as tx
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a@b.co",)], "text string")
    out = df.select(tx.pii_redact(F.col("text")).alias("red"))
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_correction_zero_exchange(spark):
    """RefinedWeb line correction is per-row array work — it must fuse into
    the scan with NO exchange and no Python eval node."""
    from loongcollector_spark.functions import text as tx
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = tx.line_correction(docs, "text", "doc_id")
    plan = _plan(out)
    assert plan.count("Exchange") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_span_dedup_three_linear_exchanges(spark):
    """C4 span dedup must cost exactly its three declared linear shuffles
    (span-key window, per-doc reconstruction, spine join) — no global sort,
    no extra exchange sneaking in."""
    from loongcollector_spark.functions import text as tx
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = tx.c4_span_dedup(docs, "text", "doc_id")
    plan = _plan(out)
    assert plan.count("Exchange") == 3
    assert "rangepartitioning" not in plan.lower()


def test_pq_topk_zero_exchange_before_cut(spark):
    """PQ/ADC scoring fuses into the scan: both cuts are TakeOrdered
    (per-partition top-k + driver merge), so the WHOLE plan has zero
    exchanges and no Python eval node."""
    from pyspark.sql import functions as F

    from loongcollector_spark.functions import similarity
    from loongcollector_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    out = similarity.pq_topk(
        emb, "embedding", "vec_id", q, k=5,
        m_subspaces=8, n_codes=8, exclude_id=0,
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 0
    assert plan.count("TakeOrderedAndProject") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_html_strip_zero_exchange(spark):
    """html_strip is a scan-fused regexp chain: extracting text for every
    doc must introduce NO Exchange — one projection over the scan."""
    from pyspark.sql import functions as F

    from loongcollector_spark.functions.text import html_strip
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    q = docs.select("doc_id", html_strip(F.col("text")).alias("t"))
    assert "Exchange" not in _plan(q)


def test_url_canonical_blocklist_scan_side(spark):
    """url_canonicalize + domain_blocklist_filter stay scan-side: the
    filtered projection has no Exchange and no join — the blocklist is a
    plan-time literal isin, not a join relation."""
    from pyspark.sql import functions as F

    from loongcollector_spark.functions.text import (
        domain_blocklist_filter,
        url_canonicalize,
    )
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        F.concat(F.lit("http://h"), F.col("doc_id").cast("string"),
                 F.lit(".example.com/p")).alias("url"),
    )
    q = domain_blocklist_filter(
        docs.select("doc_id", url_canonicalize(F.col("url")).alias("url")),
        "url", ["blocked.com"],
    )
    plan = _plan(q)
    assert "Exchange" not in plan and "Join" not in plan


_NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
_KEEP = {"keep_source_on_fail": True, "keep_source_on_success": True}
_LOGPIPE_PROCESSORS = [
    ("parse_regex", {"source_key": "line", "pattern": _NGINX,
                     "keys": ["remote_addr", "time_local", "method", "url", "protocol", "status",
                              "body_bytes_sent", "http_referer", "http_user_agent",
                              "http_x_forwarded_for"],
                     "full_match": False, "options": _KEEP}),
    ("parse_json", {"source_key": "line", "keys": ["method", "path", "status", "bytes", "level"],
                    "options": _KEEP}),
    ("parse_delimiter", {"source_key": "line", "separator": "\t",
                         "keys": ["uid", "time", "d_method", "value", "d_level"], "options": _KEEP}),
    ("dict_map", {"source_key": "source", "mapping": {"web-01": "edge", "app-01": "svc"},
                  "dest_key": "tier", "missing": "other"}),
]
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF")


def test_logpipe_front_half_runs_in_jvm(spark):
    """The flagship chain from tokens to parsed fields (detok render, nginx
    regex, json, delimiter, dict_map, route, shard) has no Python node, and
    the regex parser scans each row with exactly one regexp_replace."""
    from loongcollector_spark.operators.route import Condition, Route
    from loongcollector_spark.pipeline import PipelineSpec, compile_pipeline
    from loongcollector_spark.sources import render_lines

    seqs = spark.createDataFrame(
        [("web-01-0", list(range(8)), 8, "web-01"), ("app-01-1", list(range(9)), 9, "app-01")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    spec = PipelineSpec(
        name="logpipe", processors=_LOGPIPE_PROCESSORS,
        routes=[Route("errors", Condition(content_key="status", content_regex=r"5\d\d"))],
    )
    plan = _plan(compile_pipeline(render_lines(seqs), spec))
    assert not [n for n in _PYTHON_NODES if n in plan]
    assert plan.count("regexp_replace(") == 1


def _max_method_bytes(df) -> int:
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return max(seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size()))


def test_parse_stage_stays_jit_compilable(spark):
    """HotSpot does not JIT-compile a method over 8000 bytecode bytes, and a
    fused stage runs in one such method: past the limit the render + regex
    stage ran about 6x slower. Keep the generated code of detok render +
    nginx regex, and of render + COMBINEDAPACHELOG grok, under it."""
    from loongcollector_spark.operators.grok import parse_grok
    from loongcollector_spark.operators.parse_common import ParserOptions
    from loongcollector_spark.operators.parse_regex import parse_regex
    from loongcollector_spark.sources import render_lines

    params = dict(_LOGPIPE_PROCESSORS[0][1])
    params["options"] = ParserOptions(**params["options"])
    seqs = spark.createDataFrame(
        [("web-01-0", list(range(8)), 8, "web-01")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert _max_method_bytes(parse_regex(render_lines(seqs), **params)) < 8000
    grok = parse_grok(render_lines(seqs), "line", match=["%{COMBINEDAPACHELOG}"])
    assert _max_method_bytes(grok) < 8000


def test_grok_one_regex_pass_per_pattern(spark):
    """Each grok pattern of the Match list is one regexp_replace in the plan,
    and the chain stays free of Python nodes."""
    from loongcollector_spark.operators.grok import parse_grok

    df = spark.createDataFrame([("x",)], "content string")
    out = parse_grok(df, "content", match=["%{COMMONAPACHELOG}", "%{COMBINEDAPACHELOG}"])
    plan = _plan(out)
    assert not [n for n in _PYTHON_NODES if n in plan]
    assert plan.count("regexp_replace(") == 2


def test_capture_patterns_matched_once(spark):
    """Syslog, Prometheus, Apsara and both SPL parse-regexp forms read every
    capture group of their pattern from one match: one regexp_replace in
    the plan and no regexp_extract."""
    from loongcollector_spark.operators.parse_apsara import parse_apsara
    from loongcollector_spark.operators.parse_prometheus import parse_prometheus
    from loongcollector_spark.operators.spl import compile_spl
    from loongcollector_spark.sources.network import parse_syslog_rfc3164

    df = spark.createDataFrame([("x",)], "content string")
    for out in (
        parse_syslog_rfc3164(df),
        parse_prometheus(df, "content"),
        parse_apsara(df, "content"),
        compile_spl(df, r"* | parse-regexp content, '(\w+) (\w+)' as a, b"),
        compile_spl(df, r"* | parse-regexp content, '(?<a>\w+)\h(?<b>\w+)'"),
    ):
        plan = _plan(out)
        assert plan.count("regexp_replace(") == 1 and "regexp_extract(" not in plan, plan


def _hashing_nodes(plan: str) -> set[str]:
    """Distinct plan nodes that evaluate xxhash64. A cached subtree is
    printed once per scan of it, with identical text, so the set counts
    each node once."""
    return {ln.split("+- ", 1)[-1] for ln in plan.split("\n") if "xxhash64(" in ln}


@pytest.mark.parametrize("n_rotations", [1, 4])
def test_simhash_gram_hashes_once_below_persisted_signature(spark, n_rotations):
    """simhash_near_dups hashes grams in ONE plan node, below the persisted
    signature, whatever the rotation count: the rotation self-join reads
    the cached (id, sig) relation, and no Filter above the explode
    re-evaluates the gram-hash expression."""
    from loongcollector_spark.functions import dedup
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = dedup.simhash_near_dups(
        docs, "text", "doc_id", n=2, max_hamming=3, n_rotations=n_rotations
    )
    plan = _plan(out)
    dedup.release_persisted()
    lines = plan.split("\n")
    cached = min(i for i, ln in enumerate(lines) if "InMemoryRelation" in ln)
    assert all(i > cached for i, ln in enumerate(lines) if "xxhash64(" in ln)
    nodes = _hashing_nodes(plan)
    assert len(nodes) == 1 and next(iter(nodes)).startswith("Project "), nodes


@pytest.mark.parametrize("builder", ["dsir_importance", "quality_classifier_logodds"])
def test_bucket_features_hash_each_gram_once(spark, builder):
    """The DSIR and classifier feature scans hash grams in one Project: the
    empty-doc filter reads the persisted features instead of being pushed
    below the hashing projection."""
    from pyspark.sql import functions as F

    from loongcollector_spark.functions import dedup, text as tx
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = getattr(tx, builder)(docs, "text", "doc_id", F.col("lang") == "en")
    plan = _plan(out)
    dedup.release_persisted()
    nodes = _hashing_nodes(plan)
    assert len(nodes) == 1 and next(iter(nodes)).startswith("Project "), nodes


def test_multiline_patterns_matched_once_in_jvm(spark, tmp_path):
    """The streaming multiline merge matches each configured pattern once,
    as a Catalyst RLike below the GroupState node (the step function only
    reads booleans), and a batch BY_FLAG merge shuffles once."""
    from loongcollector_spark.operators.multiline import merge_by_flag
    from loongcollector_spark.streaming.multiline import streaming_merge_rules

    schema = "file string, offset long, line string, part boolean"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    merged = streaming_merge_rules(
        stream, "line", "file", "offset",
        start_pattern=r"^\h*\d{4}", continue_pattern=r"^\s+at ",
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        merged._jdf.queryExecution(), "simple"
    )
    state_node = plan.index("FlatMapGroupsInPandasWithState")
    assert plan.count("RLIKE(") == 2
    for pattern in (r"^\h*\d{4}", r"^\s+at "):
        assert plan.count(f", {pattern})") == 1
        assert plan.index(f", {pattern})") > state_node
    assert not [n for n in _PYTHON_NODES if n in plan]

    flags = spark.createDataFrame([("f", 0, "a", True)], schema)
    assert _plan(merge_by_flag(flags, "line", "file", "offset", "part")).count("Exchange") == 1


@pytest.mark.parametrize("mode", ["first_match", "fanout"])
def test_sink_frames_scan_the_persisted_routed_frame(spark, mode):
    """Every sink slice of a persisted routed frame reads the cache, in both
    route modes: the runner persists once and no slice recomputes the
    processor chain."""
    from loongcollector_spark.operators.route import Condition, Route
    from loongcollector_spark.pipeline import (
        PipelineSpec,
        compile_pipeline,
        sink_frames,
        sink_names,
    )

    df = spark.createDataFrame(
        [(0, "LOG", "prod"), (1, "METRIC", "dev")], "id int, event_type string, env string"
    )
    spec = PipelineSpec(
        name="plan",
        routes=[
            Route("prod", Condition(tag_key="env", tag_value="prod", discard_tag=True)),
            Route("prod", Condition(event_type="METRIC")),
            Route("all", None),
        ],
        route_mode=mode,
        shard_keys=(),
        metrics_tokens_col=None,
    )
    routed = compile_pipeline(df, spec).persist()
    try:
        frames = sink_frames(routed, spec)
        assert list(frames) == sink_names(spec)
        for name, frame in frames.items():
            assert "InMemoryTableScan" in _plan(frame), name
    finally:
        routed.unpersist()

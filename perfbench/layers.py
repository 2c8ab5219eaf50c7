"""The traced run: per-layer metrics, measured from outside the package.

Two instruments, both in the benchmark's own files:

- prefix ablation: each prefix of the workload's chain of public calls is
  materialized with a noop write, and a layer's self time is the difference
  between consecutive prefixes (parse, enrich and route fuse into one Spark
  stage, so this is the only way to split them);
- spans around ``run_pipeline`` and around each sink, lineage-stats and
  rollup call inside it, recorded by temporarily wrapping those public
  functions for the traced runs only.

Spark's own counters come from ``sparkstats``. Every per-layer metric is
reported on every workload; a layer the workload does not run reads 0.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import spans
import sparkstats
from workloads import GROK_PROCESSORS, LOGPIPE_PROCESSORS, MINHASH

PER_LAYER = [
    "sources.scan_s", "sources.render_s", "sources.render_py_s", "sources.render_arrow_mb",
    "parse_regex.self_s", "parse_regex.ok_ratio", "parse_json.self_s", "parse_json.ok_ratio",
    "parse_delimiter.self_s", "parse_delimiter.ok_ratio",
    "grok.self_s", "grok.py_s", "grok.ok_ratio",
    "enrich.self_s", "route.self_s", "pipeline.cache_s", "pipeline.cache_mb",
    "sinks.self_s", "sinks.write_mb", "sinks.files", "lineage.stats_s", "lineage.manifests",
    "aggregate.rollup_s",
    "dedup.grams_s", "dedup.grams", "dedup.sig_s", "dedup.band_s", "dedup.pairs",
    "dedup.pair_precision", "dedup.cc_s", "dedup.cc_jobs", "dedup.keep_s",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.gc_s", "spark.tasks", "spark.py_s",
    "trace.overhead_ratio", "trace.unattributed_ratio", "scale.eff_1to4",
]
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_precision": "ratio", "_1to4": "ratio"}

# Sized so that a traced invocation of the largest workload ends well
# within its time budget on a 4-vCPU host.
PAIRS = 2  # untraced/traced run pairs
PREFIX_REPS = 2


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


class _TimedCollect:
    """Stands in for a DataFrame whose only use is ``.collect()``."""

    def __init__(self, df, tracer: spans.Tracer, name: str):
        self.df, self.tracer, self.name = df, tracer, name

    def collect(self):
        with self.tracer.span(self.name):
            return self.df.collect()


@contextmanager
def traced(tracer: spans.Tracer, on_rollup=None):
    """Wrap ``run_pipeline`` and the sink, lineage-stats and rollup calls it
    makes. ``on_rollup()`` is called when the rollup is built, while the
    routed cache is still held."""
    from loongcollector_spark import lineage, pipeline
    from loongcollector_spark.operators import aggregate

    def timed_call(name, fn):
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return wrapper

    def timed_collect(name, fn, hook=None):
        def wrapper(*a, **kw):
            if hook is not None:
                hook()
            return _TimedCollect(fn(*a, **kw), tracer, name)
        return wrapper

    saved = [(pipeline, "run_pipeline"), (pipeline, "write_sink"), (lineage, "checkpointed_write"),
             (lineage, "bucket_stats"), (aggregate, "sink_metrics")]
    originals = [getattr(mod, attr) for mod, attr in saved]
    pipeline.run_pipeline = timed_call("run", originals[0])
    pipeline.write_sink = timed_call("sink", originals[1])
    lineage.checkpointed_write = timed_call("sink", originals[2])
    lineage.bucket_stats = timed_collect("lineage.stats", originals[3])
    aggregate.sink_metrics = timed_collect("rollup", originals[4], on_rollup)
    try:
        yield
    finally:
        for (mod, attr), fn in zip(saved, originals):
            setattr(mod, attr, fn)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _apply(df, processors):
    from loongcollector_spark.operators.parse_common import ParserOptions
    from loongcollector_spark.pipeline import PROCESSORS

    for name, params in processors:
        kw = dict(params)
        if "options" in kw:
            kw["options"] = ParserOptions(**kw["options"])
        df = PROCESSORS[name](df, **kw)
    return df


def _route(df, spec):
    from loongcollector_spark.operators import aggregate, route

    routed = route.route_first_match(df, spec.routes, default_sink=spec.default_sink)
    return aggregate.shard_hash(routed, spec.shard_keys, spec.shard_count, repartition=False)


def prefix_times(stats: sparkstats.SparkStats, prefixes: list[tuple[str, object]]) -> tuple[dict, dict]:
    """Median time to build and noop-write each cumulative prefix (building
    the plan is part of a layer's cost), and the SQL metrics of its last
    materialization. Repetitions are interleaved so that drift on the host
    spreads over all prefixes."""
    times: dict[str, list[float]] = {name: [] for name, _ in prefixes}
    metrics: dict[str, list[dict]] = {}
    for _ in range(PREFIX_REPS):
        for name, build in prefixes:
            stats.executions_since_last(with_metrics=False)
            t0 = time.perf_counter()
            noop_write(build())
            times[name].append(time.perf_counter() - t0)
            metrics[name] = stats.executions_since_last()
    return {k: statistics.median(v) for k, v in times.items()}, metrics


def overhead_pairs(runner, tracer: spans.Tracer, on_rollup=None) -> dict:
    """Alternate untraced and traced runs; Spark counters come from the
    untraced ones and spans from the traced ones. The last traced run's
    output is kept for inspection."""
    untraced, traced_walls, counters, per_run_spans = [], [], [], []

    def plain():
        wall, _ = runner.attempt("trace_untraced", with_metrics=True)
        untraced.append(wall)
        r = runner.runs[-1]
        counters.append({f"spark.{k}": r[k] for k in ("shuffle_read_mb", "spill_mb", "gc_s", "tasks", "py_s")})

    def with_spans():
        tracer.clear()
        # spans are recorded around the run only, not around its check
        wall, out = runner.attempt("trace_traced", keep=True, around=lambda: traced(tracer, on_rollup))
        traced_walls.append(wall)
        per_run_spans.append(list(tracer.spans))
        outs.append(out)

    # the order alternates so that the JIT's progress cancels in the medians
    outs: list = []
    for i in range(PAIRS):
        for step in (plain, with_spans)[:: 1 if i % 2 == 0 else -1]:
            step()
    for out in outs[:-1]:
        runner.wl.cleanup(out)
    out = outs[-1]
    return {"untraced": untraced, "traced": traced_walls, "counters": counters,
            "spans": per_run_spans, "last_out": out}


def _span_metrics(per_run_spans: list[list[spans.Span]]) -> dict[str, float]:
    """Per-run medians of sink self time, lineage-stats and rollup time, and
    of ``before_sinks``: from the start of ``run_pipeline`` to its first sink
    call (compile, persist and count of the routed output)."""
    out: dict[str, list[float]] = {}
    for run in per_run_spans:
        t = spans.Tracer()
        t.spans = run
        out.setdefault("sinks.self_s", []).append(spans.self_time(t.named("sink"), t.named("lineage.stats")))
        out.setdefault("lineage.stats_s", []).append(spans.length(t.named("lineage.stats")))
        out.setdefault("aggregate.rollup_s", []).append(spans.length(t.named("rollup")))
        if t.named("run") and t.named("sink"):
            first_sink = min(s for s, _ in t.named("sink"))
            out.setdefault("before_sinks", []).append(first_sink - t.named("run")[0][0])
    return {k: statistics.median(v) for k, v in out.items()}


def _ok_ratios(df, conds: dict) -> dict[str, float]:
    """Rows for which each condition holds ÷ all rows, in one pass."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("__n"),
                 *[F.count(F.when(c, 1)).alias(k) for k, c in conds.items()]).first()
    return {k: row[k] / row["__n"] for k in conds}


def _source_metrics(p: dict, pm: dict) -> dict[str, float]:
    return {
        "sources.scan_s": p["scan"],
        "sources.render_s": p["render"] - p["scan"],
        "sources.render_py_s": sparkstats.summed(pm["render"], sparkstats.PY_TIME),
        "sources.render_arrow_mb": (sparkstats.summed(pm["render"], sparkstats.PY_SENT)
                                    + sparkstats.summed(pm["render"], sparkstats.PY_RECV)) / 2**20,
    }


def _grok_metrics(p: dict, pm: dict) -> dict[str, float]:
    """The grok prefix runs after the render prefix; both call Python."""
    py = {k: sparkstats.summed(pm[k], sparkstats.PY_TIME) for k in ("render", "grok")}
    return {"grok.self_s": p["grok"] - p["render"], "grok.py_s": py["grok"] - py["render"]}


def trace_logpipe(runner, new_session) -> dict[str, float]:
    from pyspark.sql import functions as F

    from loongcollector_spark.sources import render_lines

    wl, stats = runner.wl, runner.stats
    cache_mb: list[float] = []
    pairs = overhead_pairs(runner, spans.Tracer(), lambda: cache_mb.append(stats.storage_mb()))
    wl.cleanup(pairs["last_out"])
    read = lambda: wl.spark.read.parquet(wl.path)  # noqa: E731
    procs = LOGPIPE_PROCESSORS
    prefixes = [
        ("scan", read),
        ("render", lambda: render_lines(read())),
        ("parse_regex", lambda: _apply(render_lines(read()), procs[:1])),
        ("parse_json", lambda: _apply(render_lines(read()), procs[:2])),
        ("parse_delimiter", lambda: _apply(render_lines(read()), procs[:3])),
        ("enrich", lambda: _apply(render_lines(read()), procs[:4])),
        ("route", lambda: _route(_apply(render_lines(read()), procs), wl.spec)),
        # not in the chain: the other regex engine on the same lines
        ("grok", lambda: _apply(render_lines(read()), GROK_PROCESSORS)),
    ]
    p, pm = prefix_times(stats, prefixes)
    m = _span_metrics(pairs["spans"])
    m.update(_source_metrics(p, pm))
    m.update(_grok_metrics(p, pm))
    m.update({
        "parse_regex.self_s": p["parse_regex"] - p["render"],
        "parse_json.self_s": p["parse_json"] - p["parse_regex"],
        "parse_delimiter.self_s": p["parse_delimiter"] - p["parse_json"],
        "enrich.self_s": p["enrich"] - p["parse_delimiter"],
        "route.self_s": p["route"] - p["enrich"],
        # run_pipeline compiles, persists and counts before its first sink
        "pipeline.cache_s": m.pop("before_sinks") - p["route"],
        "pipeline.cache_mb": statistics.median(cache_mb),
    })
    # grok reads the line column the other parsers leave in place
    m.update(_ok_ratios(_apply(_apply(render_lines(read()), procs[:3]), GROK_PROCESSORS), {
        "parse_regex.ok_ratio": F.col("remote_addr").isNotNull(),
        "parse_json.ok_ratio": F.col("path").isNotNull(),
        "parse_delimiter.ok_ratio": F.col("uid").isNotNull(),
        "grok.ok_ratio": F.col("clientip").isNotNull(),
    }))
    layer_sum = p["route"] + m["pipeline.cache_s"] + m["sinks.self_s"] + m["aggregate.rollup_s"]
    _finish(m, pairs, layer_sum)
    m["scale.eff_1to4"] = scale_efficiency(runner, statistics.median(pairs["untraced"]), new_session)
    return m


def trace_dedup(runner, new_session) -> dict[str, float]:
    from pyspark.sql import functions as F

    from loongcollector_spark.functions import dedup

    wl, stats = runner.wl, runner.stats
    pairs = overhead_pairs(runner, spans.Tracer())
    m = archive_facts(pairs["last_out"])
    wl.cleanup(pairs["last_out"])
    read = lambda: wl.spark.read.parquet(wl.path)  # noqa: E731

    def grams():
        return read().select(F.col("doc_id").alias("id"),
                             dedup.hashed_shingles(F.col("text"), MINHASH["n"]).alias("gh"))

    def banded():
        return dedup.minhash_lsh_from_gram_hashes(grams(), MINHASH["num_hashes"], MINHASH["bands"])

    prefixes = [
        ("scan", read),
        ("grams", grams),
        ("sig", lambda: dedup.minhash_signatures(grams(), MINHASH["num_hashes"])),
        ("band", banded),
    ]
    p, _ = prefix_times(stats, prefixes)
    dedup.release_persisted()
    m["dedup.grams"] = float(grams().select(F.sum(F.size("gh"))).first()[0])

    cand = banded().select("id_a", "id_b").persist()
    found = cand.toPandas().to_numpy()
    dedup.release_persisted()
    m["dedup.pairs"] = float(len(found))
    m["dedup.pair_precision"] = planted_pairs(wl.docs, found) / max(len(found), 1)

    # connected components and keepers over the cached candidate pairs, so
    # neither includes the band join; their order alternates so that the
    # JIT's progress between them cancels in the median
    sc = wl.spark.sparkContext
    cc, keep = [], []

    def time_cc(i):
        sc.setJobGroup(f"cc-{i}", "connected_components")
        t0 = time.perf_counter()
        noop_write(dedup.connected_components(cand))
        cc.append(time.perf_counter() - t0)
        m["dedup.cc_jobs"] = float(len(sc.statusTracker().getJobIdsForGroup(f"cc-{i}")))
        sc.setJobGroup("trace", "trace")

    def time_keep(i):
        t0 = time.perf_counter()
        noop_write(dedup.dedup_keepers(read(), cand, "doc_id"))
        keep.append(time.perf_counter() - t0)

    for i in range(PREFIX_REPS):
        for step in (time_cc, time_keep)[:: 1 if i % 2 == 0 else -1]:
            step(i)
            dedup.release_persisted()
    cand.unpersist()
    m.update({
        "sources.scan_s": p["scan"],
        "dedup.grams_s": p["grams"] - p["scan"],
        "dedup.sig_s": p["sig"] - p["grams"],
        "dedup.band_s": p["band"] - p["sig"],
        "dedup.cc_s": statistics.median(cc),
        "dedup.keep_s": statistics.median(keep) - statistics.median(cc),
    })
    m.update(_span_metrics(pairs["spans"]))
    # The decisions reach the sink uncomputed: its stats job first computes
    # the keepers join, which dedup.keep_s already accounts for.
    m["lineage.stats_s"] -= m["dedup.keep_s"]
    layer_sum = p["band"] + statistics.median(keep) + m["lineage.stats_s"] + m["sinks.self_s"]
    _finish(m, pairs, layer_sum)
    return m


def archive_facts(base: str) -> dict[str, float]:
    """Bytes and files a checkpointed sink wrote under ``base``, and its
    lineage manifests."""
    import glob
    import os

    data = glob.glob(f"{base}/**/data/*/*.parquet", recursive=True)
    return {
        "sinks.write_mb": sum(os.path.getsize(f) for f in data) / 2**20,
        "sinks.files": float(len(data)),
        "lineage.manifests": float(len(glob.glob(f"{base}/**/_lineage/bucket-*.json", recursive=True))),
    }


def planted_pairs(docs: dict, found) -> int:
    """How many candidate pairs (rows of id_a, id_b) were planted together."""
    group = dict(zip(docs["ids"].tolist(), docs["group"].tolist()))
    return int(sum(group[a] == group[b] for a, b in found.tolist()))


def _finish(m: dict, pairs: dict, layer_sum: float) -> None:
    untraced = statistics.median(pairs["untraced"])
    traced_wall = statistics.median(pairs["traced"])
    m["trace.overhead_ratio"] = untraced / traced_wall  # traced ÷ untraced seq/s
    m["trace.unattributed_ratio"] = 1 - layer_sum / traced_wall
    for name in pairs["counters"][0]:
        m[name] = statistics.median(c[name] for c in pairs["counters"])


def scale_efficiency(runner, wall_n: float, new_session) -> float:
    """Restart the context on one task slot, time the same job once, and
    return t(local[1]) / (n * t(local[n])). The JVM stays up, so its JIT and
    Spark's generated-code cache are already warm; only the Python workers
    start again."""
    import host

    runner.wl.spark.stop()
    runner.wl.spark = new_session(1)
    runner.stats = sparkstats.SparkStats(runner.wl.spark)
    wall_1, _ = runner.attempt("scale")
    return wall_1 / (host.nproc() * wall_n)


TRACERS = {"logpipe": trace_logpipe, "dedup_curate": trace_dedup}


def trace(runner, new_session) -> dict[str, float]:
    """Every per-layer metric for the runner's workload; ``new_session(cores)``
    starts a fresh session (used for the one-slot scaling pass)."""
    m = {name: 0.0 for name in PER_LAYER}
    got = TRACERS[runner.wl.name](runner, new_session)
    unknown = set(got) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"trace produced undeclared metrics {sorted(unknown)}")
    m.update(got)
    return m

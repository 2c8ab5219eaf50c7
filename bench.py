"""Benchmark: end-to-end flagship pipeline throughput plus per-query timings.

Prints ONE JSON line:
  {"metric": "pipeline_sequences_per_sec", "value": N, "unit": "seq/s",
   "queries": {name: median seconds, ...}, "sf": S, "host": {...}, ...}

Headline: the flagship collector pipeline over a synthetic F1 table sized to
the sf: detok render (Catalyst expressions) -> nginx regex, JSON and
delimiter parse -> dict_map enrich -> first-match route -> shard hash -> noop
sinks plus the per-(source, sink) rollup (one groupBy). Sinks are noop, as in the
reference's file-to-blackhole benchmark
(test/benchmark/.../performance_file_to_blackhole_loongcollector).

Every timing is ``tools/rehearse.measure``: one warm-up run (it JIT-compiles
the generated stages), then the median of 3 timed runs, each with its load
average, shuffle MB and tasks per stage. The session is sized from the host.

Env (deployment settings): SPARK_GRAFT_SF_DIR (the sf directory),
SPARK_GRAFT_CPUS (task slots; default every CPU of the host).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from loongcollector_spark.operators.route import Condition, Route
from loongcollector_spark.pipeline import PipelineSpec
from loongcollector_spark.sinks import SinkSpec

NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
NGINX_KEYS = [
    "remote_addr", "time_local", "method", "url", "protocol",
    "status", "body_bytes_sent", "http_referer", "http_user_agent", "http_x_forwarded_for",
]
_KEEP = {"keep_source_on_fail": True, "keep_source_on_success": True}

# The flagship pipeline; tools/rehearse.py times the same spec at
# local[1] and local[nproc].
FLAGSHIP = PipelineSpec(
    name="bench",
    processors=[
        ("parse_regex", {"source_key": "line", "pattern": NGINX, "keys": NGINX_KEYS,
                         "full_match": False, "options": _KEEP}),
        ("parse_json", {"source_key": "line", "keys": ["method", "path", "status", "bytes", "level"],
                        "options": _KEEP}),
        ("parse_delimiter", {"source_key": "line", "separator": "\t",
                             "keys": ["uid", "time", "d_method", "value", "d_level"], "options": _KEEP}),
        ("dict_map", {"source_key": "source",
                      "mapping": {"web-01": "edge", "web-02": "edge", "app-01": "svc", "sys-01": "infra"},
                      "dest_key": "tier", "missing": "other"}),
    ],
    routes=[
        Route("errors", Condition(content_key="status", content_regex=r"5\d\d")),
        Route("web", Condition(content_key="source", content_regex="web-.*")),
        Route("app", Condition(content_key="source", content_regex="app-.*")),
    ],
    shard_keys=("source", "doc_id"),
    shard_count=64,
    sinks={s: SinkSpec(name=s, format="noop") for s in ("errors", "web", "app", "default")},
)

# Token-native variant: the same route/shard/rollup with fields read straight
# from header tokens (no detok render, no regex), the fast path that
# pre-tokenized input makes possible.
NATIVE = PipelineSpec(name="bench_native", processors=[], routes=FLAGSHIP.routes,
                      shard_keys=FLAGSHIP.shard_keys, shard_count=FLAGSHIP.shard_count, sinks=FLAGSHIP.sinks)


def main() -> None:
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    import rehearse
    from pyspark.sql import functions as F

    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.queries import QUERIES
    from loongcollector_spark.sources import render_lines

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or rehearse.NPROC)
    sf = _sf_of(sf_dir)
    load_avg = rehearse.host.loadavg()
    work = os.path.join(rehearse.STATE, "bench-work")
    spark = rehearse.start_session(work, cpus)

    n_rows = max(int(5_000_000 * sf), 20_000)
    d = os.path.join(rehearse.INPUTS, str(n_rows))
    os.makedirs(d, exist_ok=True)
    rehearse.sequences(spark, n_rows, d)
    seqs = spark.read.parquet(os.path.join(d, "sequences.parquet"))
    tokens = seqs.agg(F.sum("n_tok")).first()[0]

    def rows_of(res: dict) -> int:
        return sum(r["rows"] for r in res["metrics_rollup"])

    pipe = rehearse.measure(spark, lambda: rows_of(run_pipeline(render_lines(seqs), FLAGSHIP, checkpoint=False)))
    native = rehearse.measure(
        spark, lambda: rows_of(run_pipeline(_token_native_parse(seqs), NATIVE, checkpoint=False)))
    query_runs = {name: rehearse.measure(spark, lambda: q.spark(spark, sf_dir)) for name, q in QUERIES.items()}
    facts = rehearse.host_facts(spark)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)

    sec = pipe["wall_s"]["median"]
    out = {
        "metric": "pipeline_sequences_per_sec",
        "value": round(pipe["rows_out"] / sec, 1),
        "unit": "seq/s",
        "queries": {name: r["wall_s"]["median"] for name, r in query_runs.items()},
        "query_runs": query_runs,
        "sf": sf,
        "pipeline": {
            "rows": pipe["rows_out"],
            "tokens": tokens,
            "tokens_per_sec": round(tokens / sec, 1),
            "flagship": pipe,
            "token_native": native,
            "token_native_sequences_per_sec": round(native["rows_out"] / native["wall_s"]["median"], 1),
        },
        "host": {**facts, "cpus": cpus, "load_avg": load_avg},
        **_scaling(rehearse),
    }
    print(json.dumps(out))


def _scaling(rehearse) -> dict:
    """The rehearsal's flagship family (local[1] vs local[nproc]), embedded
    only when it was measured on this host."""
    try:
        with open(rehearse.RECORD) as fh:
            record = json.load(fh)
    except FileNotFoundError:
        return {"scaling": None, "scaling_reason": "no .bench_state/rehearsal.json"}
    if not rehearse.same_host(record["host"]):
        return {"scaling": None, "scaling_reason": f"rehearsal.json was measured on another host: {record['host']}"}
    if "flagship" not in record["families"]:
        return {"scaling": None, "scaling_reason": "rehearsal.json has no flagship family"}
    return {"scaling": {"host": record["host"], **record["families"]["flagship"]}}


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _token_native_parse(seqs):
    from loongcollector_spark.operators.token_ops import TokenField, token_field_extract
    from loongcollector_spark.sources.synthetic import _LEVELS, _METHODS, _STATUS

    return token_field_extract(
        seqs,
        "tokens",
        {
            "method": TokenField(position=0, vocab=list(_METHODS)),
            "status": TokenField(position=2, vocab=[str(s) for s in _STATUS]),
            "level": TokenField(position=5, vocab=list(_LEVELS)),
        },
    )


if __name__ == "__main__":
    sys.exit(main())

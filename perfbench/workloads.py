"""The workloads, as the package's users would call it: one ``run`` is one
complete job on the seeded input, ``check`` verifies its output.

- ``logpipe``: the flagship collector chain over the F1 table, noop sinks and
  the salted per-(source, sink) rollup;
- ``dedup_curate``: MinHash+LSH candidates and connected-component keepers
  over documents with planted duplicates, the keep decisions archived with a
  checkpointed write and lineage manifests.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import shutil

import checks
import inputs

NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
NGINX_KEYS = [
    "remote_addr", "time_local", "method", "url", "protocol",
    "status", "body_bytes_sent", "http_referer", "http_user_agent", "http_x_forwarded_for",
]
KEEP = {"keep_source_on_fail": True, "keep_source_on_success": True}
LOGPIPE_PROCESSORS = [
    ("parse_regex", {"source_key": "line", "pattern": NGINX, "keys": NGINX_KEYS,
                     "full_match": False, "options": KEEP}),
    ("parse_json", {"source_key": "line", "keys": ["method", "path", "status", "bytes", "level"],
                    "options": KEEP}),
    ("parse_delimiter", {"source_key": "line", "separator": "\t",
                         "keys": ["uid", "time", "d_method", "value", "d_level"], "options": KEEP}),
    ("dict_map", {"source_key": "source",
                  "mapping": {"web-01": "edge", "web-02": "edge", "app-01": "svc", "sys-01": "infra"},
                  "dest_key": "tier", "missing": "other"}),
]
GROK_PROCESSORS = [("parse_grok", {"source_key": "line", "match": ["%{COMBINEDAPACHELOG}"]})]

# Input sizes. On a 4-vCPU host a warm run takes 3-7 s, most of it the
# fixed cost of a job's many Spark stages, and one invocation of a workload
# (set-up, warm-up, measured window, checks) takes 30-90 s, so that a full
# comparison of two commits fits its time limit.
SIZES = {"logpipe": 36_000, "dedup_curate": 4_000}
MINHASH = {"n": 3, "num_hashes": 32, "bands": 8}
ARCHIVE_BUCKETS = 16
ORACLE = "_expected.pkl"  # beside the input: what the workload's check expects
# The JIT keeps shaving time off a run for many runs, so no run is ever
# "steady". Each workload makes a fixed number of warm-up runs and at least
# ``min_timed_runs`` timed runs, so that every invocation measures the same
# points of that curve, whatever the host's speed.


def prepare(workload: str, seed: int, cache_dir: str, n_files: int) -> tuple[str, dict]:
    """Build (or reuse) the seeded input of a workload and the expected
    values its check compares against; returns the input's path and facts
    (rows, tokens, bytes). Both are built before the driver process starts,
    so neither is part of its set-up. The cache key includes a digest of the
    generator's and the checks' source, so a change to either never reuses
    old inputs."""
    digest = hashlib.sha1()
    for mod in (inputs, checks):
        with open(mod.__file__, "rb") as fh:
            digest.update(fh.read())
    path = os.path.join(cache_dir, f"{workload}-s{seed}-n{SIZES[workload]}-{digest.hexdigest()[:10]}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        n = SIZES[workload]
        if workload == "dedup_curate":
            docs = inputs.make_docs(n, seed)
            facts = inputs.write_docs(tmp, docs, n_files)
            oracle = {k: docs[k] for k in ("ids", "group", "exact", "near")}
            oracle["recall_floor"] = checks.near_recall_floor(docs, MINHASH["num_hashes"], MINHASH["bands"])
        else:
            facts = inputs.write_f1(tmp, n, seed, n_files)
            oracle = checks.expected_rollup(n, seed)
        with open(os.path.join(tmp, "_facts.json"), "w") as fh:
            json.dump(facts, fh)
        with open(os.path.join(tmp, ORACLE), "wb") as fh:
            pickle.dump(oracle, fh)
        os.replace(tmp, path)
    with open(os.path.join(path, "_facts.json")) as fh:
        return path, json.load(fh)


def load_oracle(path: str):
    with open(os.path.join(path, ORACLE), "rb") as fh:
        return pickle.load(fh)


class Logpipe:
    name = "logpipe"
    warmup_runs = 2
    min_timed_runs = 3

    def __init__(self, spark, path: str, seed: int, work_dir: str):
        from loongcollector_spark.operators.route import Condition, Route
        from loongcollector_spark.pipeline import PipelineSpec
        from loongcollector_spark.sinks import SinkSpec

        self.spark, self.path, self.seed = spark, path, seed
        self.spec = PipelineSpec(
            name="logpipe",
            processors=LOGPIPE_PROCESSORS,
            routes=[
                Route("errors", Condition(content_key="status", content_regex=r"5\d\d")),
                Route("web", Condition(content_key="source", content_regex="web-.*")),
                Route("app", Condition(content_key="source", content_regex="app-.*")),
            ],
            shard_keys=("source", "doc_id"),
            shard_count=64,
            sinks={s: SinkSpec(name=s, format="noop") for s in ("errors", "web", "app", "default")},
        )
        self.expected = load_oracle(path)

    def source(self):
        from loongcollector_spark.sources import render_lines

        return render_lines(self.spark.read.parquet(self.path))

    def run(self, k: int):
        from loongcollector_spark.pipeline import run_pipeline

        return run_pipeline(self.source(), self.spec)

    def check(self, out) -> list[str]:
        return checks.check_logpipe(out["metrics_rollup"], self.expected)

    def cleanup(self, out) -> None:
        pass


class DedupCurate:
    name = "dedup_curate"
    warmup_runs = 1
    min_timed_runs = 2

    def __init__(self, spark, path: str, seed: int, work_dir: str):
        self.spark, self.path, self.seed = spark, path, seed
        self.out_dir = os.path.join(work_dir, "dedup_out")
        spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
        self.docs = load_oracle(path)  # planted groups, no texts

    def run(self, k: int):
        """Candidates, keepers, and the (doc_id, cluster_id, is_keeper)
        decisions written bucketed by doc_id with lineage manifests."""
        from loongcollector_spark import lineage
        from loongcollector_spark.functions import dedup
        from loongcollector_spark.operators.aggregate import shard_hash

        base = os.path.join(self.out_dir, f"run-{k}")
        shutil.rmtree(base, ignore_errors=True)
        docs = self.spark.read.parquet(self.path)
        pairs = dedup.minhash_lsh_candidates(docs, "text", "doc_id", **MINHASH)
        decisions = shard_hash(dedup.dedup_keepers(docs, pairs, "doc_id"), ["doc_id"],
                               ARCHIVE_BUCKETS, repartition=False)
        lineage.checkpointed_write(decisions, base, run_id=f"run-{k}", tokens_col=None)
        dedup.release_persisted()
        return base

    def check(self, base: str) -> list[str]:
        import pyarrow.dataset as ds

        from loongcollector_spark.lineage import verify_sink

        audit = verify_sink(self.spark, base, tokens_col=None)
        problems = [] if audit["ok"] else [f"lineage mismatches {audit['mismatches'][:3]}"]
        files = glob.glob(f"{base}/data/*/*.parquet")
        out = ds.dataset(files, format="parquet").to_table(
            columns=["doc_id", "cluster_id", "is_keeper"]).to_pandas()
        return problems + checks.check_dedup(out, self.docs, self.docs["recall_floor"])

    def cleanup(self, base: str) -> None:
        shutil.rmtree(base, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Logpipe, DedupCurate)}


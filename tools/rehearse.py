"""Scale rehearsals: one table of job families and one measuring loop.

    python tools/rehearse.py [family ...]

With no family named, every family runs. Each family times its entries at
two points 4x apart, the first being the base of every ratio:

- a scale family runs two input sizes on ``local[nproc]``;
- a slot family runs one input size on ``local[1]`` and ``local[nproc]``,
  restarting the session in process in between.

Sessions are sized from the host by ``perfbench/worker.start_session``.
Every entry gets one warm-up run and RUNS timed runs; shuffle bytes and
tasks per stage come from Spark's status store (``perfbench/sparkstats``),
and so do each run's summed task run, task CPU and JVM GC times (the stage
data's ``executorRunTime``, ``executorCpuTime`` and ``jvmGcTime``): run
time that is neither CPU nor GC is time the tasks waited.
Inputs are generated once per size under ``.bench_state/inputs/``. The
record, with the facts of the host it was measured on, is merged family by
family into ``.bench_state/rehearsal.json``; a record from another host is
replaced, not merged.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable, Union

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import host  # noqa: E402
import sparkstats  # noqa: E402
import worker  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from loongcollector_spark.functions import dedup, sampling  # noqa: E402
from loongcollector_spark.functions import text as tx  # noqa: E402
from loongcollector_spark.operators import filters, token_ops  # noqa: E402
from loongcollector_spark.pipeline import run_pipeline  # noqa: E402
from loongcollector_spark.queries import QUERIES, _chunked_docs  # noqa: E402
from loongcollector_spark.sources import generate_sequences, render_lines  # noqa: E402
from loongcollector_spark.sources.synthetic import generate_sequences_head  # noqa: E402
from loongcollector_spark.sources.tail import tail_log_files  # noqa: E402
from loongcollector_spark.streaming.pipeline import drain_available_now  # noqa: E402

STATE = os.path.join(ROOT, ".bench_state")
INPUTS = os.path.join(STATE, "inputs")
RECORD = os.path.join(STATE, "rehearsal.json")
RUNS = 3
NPROC = host.nproc()


class MissingStat(RuntimeError):
    """Spark's status store reported no task or stage figures for a run."""


# ---------------------------------------------------------------------------
# The measuring loop
# ---------------------------------------------------------------------------


def _act(out: object) -> int | None:
    """Finish a job inside the timed window: a DataFrame is written to the
    noop sink; a row count (the job already ran) is passed through."""
    if isinstance(out, DataFrame):
        out.write.format("noop").mode("overwrite").save()
        return None
    return out


def _task_times(sc, stages: list[int]) -> dict:
    """Task run, CPU and GC seconds summed over ``stages`` (their last
    attempts), from the status store's stage data. A stage evicted past
    spark.ui.retainedStages is left out, as in ``tasks_per_stage``."""
    store = sc._jsc.sc().statusStore()
    run = cpu = gc = 0.0
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        run += st.executorRunTime() / 1e3
        cpu += st.executorCpuTime() / 1e9
        gc += st.jvmGcTime() / 1e3
    return {"task_run_s": run, "task_cpu_s": cpu, "task_gc_s": gc}


def _spark_figures(stats: sparkstats.SparkStats, before: dict) -> dict:
    after = stats.executor_totals()
    stages = sorted({s for e in stats.executions_since_last(with_metrics=False) for s in e["stages"]})
    # A stage skipped because its shuffle output was reused ran no task; past
    # spark.ui.retainedStages the status store evicts such stages first, so
    # they may be missing here.
    tasks = stats.tasks_per_stage(stages)
    # A run that did work ran tasks in some SQL stage. Without them the byte
    # deltas below would read as 0 MB of shuffle instead of as unknown.
    if after["tasks"] <= before["tasks"] or not tasks:
        raise MissingStat(f"tasks {before['tasks']:.0f} -> {after['tasks']:.0f}, stages {stages}")
    return {
        "shuffle_read_mb": (after["shuffle_read_b"] - before["shuffle_read_b"]) / 2**20,
        "shuffle_write_mb": (after["shuffle_write_b"] - before["shuffle_write_b"]) / 2**20,
        "tasks_per_stage": tasks,
        **_task_times(stats.sc, stages),
    }


def measure(spark, job: Callable[[], object]) -> dict:
    """One warm-up run of ``job``, then RUNS timed runs, each followed by
    ``dedup.release_persisted()``. ``job()`` returns a DataFrame (written to
    the noop sink inside the timed window), an output row count, or None.
    Shuffle figures are the median over the timed runs; task run, CPU and
    GC times are listed per timed run; tasks per stage and the output rows
    are the last run's."""
    stats = sparkstats.SparkStats(spark)
    t0 = time.perf_counter()
    _act(job())
    warmup_s = time.perf_counter() - t0
    dedup.release_persisted()
    runs = []
    for _ in range(RUNS):
        before = stats.executor_totals()
        stats.executions_since_last(with_metrics=False)
        t0 = time.perf_counter()
        rows = _act(job())
        wall = time.perf_counter() - t0
        load = host.loadavg()[0]
        dedup.release_persisted()
        runs.append({"wall_s": wall, "load_1m": load, "rows_out": rows, **_spark_figures(stats, before)})
    walls = [r["wall_s"] for r in runs]
    return {
        "wall_s": {"median": statistics.median(walls), "min": min(walls), "max": max(walls)},
        "runs_s": walls,
        "warmup_s": warmup_s,
        "load_1m": [r["load_1m"] for r in runs],
        "shuffle_read_mb": statistics.median(r["shuffle_read_mb"] for r in runs),
        "shuffle_write_mb": statistics.median(r["shuffle_write_mb"] for r in runs),
        **{k: [r[k] for r in runs] for k in ("task_run_s", "task_cpu_s", "task_gc_s")},
        "tasks_per_stage": runs[-1]["tasks_per_stage"],
        "rows_out": runs[-1]["rows_out"],
    }


def host_facts(spark) -> dict:
    return {
        "nproc": NPROC,
        "mem_total_mb": round(host.mem_total_mb()),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": spark.version,
    }


def same_host(facts: dict) -> bool:
    """Whether a record's host facts describe this host."""
    return facts["nproc"] == NPROC and facts["mem_total_mb"] == round(host.mem_total_mb())


# ---------------------------------------------------------------------------
# Input makers: maker(spark, rows, dir) writes one table into dir once
# ---------------------------------------------------------------------------


def _todo(path: str) -> bool:
    return not os.path.exists(os.path.join(path, "_SUCCESS"))


def _range(spark, rows: int):
    return spark.range(rows, numPartitions=4 * NPROC)


def _read(spark, d: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(d, f"{table}.parquet"))


_WORDS = (
    "the of and to in is was for on that with as his they at be this from have "
    "or by one had not but what all were when we there can an your which their "
    "said if do will each about how up out them then she many some so these "
    "would other into has more her two like him see time could no make than "
    "first been its who now people my made over did down only way find use may "
    "water long little very after words called just where most know get through "
    "back much before go good new write our used me man too any day same right "
    "look think also around another came come work three word must because does "
    "part even place well such here take why things help put years different "
    "away again off went old number great tell men say small every found still "
    "between name should home big give air line set own under read last never "
    "us left end along while might next sound below saw something thought both "
    "few those always looked show large often together asked house world going "
    "want school important until form food keep children feet land side without "
    "boy once animals life enough took sometimes four head above kind began "
    "almost live page got earth need far hand high year mother light parts "
    "country father let night following picture being study second eyes soon "
    "times story boys since white days ever paper hard near sentence better "
    "best across during today others however sure means knew its told young sun "
    "thing whole hear example heard several change answer room against top "
    "turned learn point city play toward five using himself usually money seen "
    "didn't car morning I'm body upon family later turn move face door cut done "
    "group true half red fish plants living black eat short United States run "
).split()


def _dup_seed():
    """20 % of doc ids share the seed of the preceding multiple of 10, so
    exact and near duplicate rules have cross-document work at every size."""
    doc = F.col("doc_id")
    return F.when(doc % 10 < 2, doc - doc % 10).otherwise(doc)


def documents(spark, rows: int, d: str) -> None:
    """(doc_id, text, lang, source, n_chars): 40-120 words drawn by hash
    from a fixed English vocabulary, a zipf-ish source mix. The registry's
    document queries read this table as ``{sf_dir}/documents.parquet``."""
    path = os.path.join(d, "documents.parquet")
    if not _todo(path):
        return
    seed = _dup_seed()
    words = F.array(*[F.lit(w) for w in _WORDS])
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), 40 + F.pmod(F.xxhash64(seed), F.lit(81))),
        lambda i: F.element_at(words, (F.pmod(F.xxhash64(seed * 131 + i), F.lit(len(_WORDS))) + 1).cast("int")),
    ))
    lang = F.element_at(F.array(*map(F.lit, ("en", "en", "en", "zh", "de"))),
                        (F.pmod(F.xxhash64(F.col("doc_id") + 7), F.lit(5)) + 1).cast("int"))
    # half the rows on src0/src1, the rest spread over src0..src7
    source = F.concat(F.lit("src"), F.when(F.col("doc_id") % 4 < 2, F.col("doc_id") % 2)
                      .otherwise(F.pmod(F.xxhash64("doc_id"), F.lit(8))).cast("string"))
    (_range(spark, rows).select(F.col("id").alias("doc_id"))
     .select("doc_id", text.alias("text"), lang.alias("lang"), source.alias("source"))
     .withColumn("n_chars", F.length("text"))
     .write.mode("overwrite").parquet(path))


def tokens(spark, rows: int, d: str) -> None:
    """(doc_id string, tokens): 24-64 token ids below 50k, duplicated like
    the documents' text."""
    path = os.path.join(d, "tokens.parquet")
    if not _todo(path):
        return
    seed = _dup_seed()
    toks = F.transform(F.sequence(F.lit(1), 24 + F.pmod(F.xxhash64(seed), F.lit(41))),
                       lambda i: F.pmod(F.xxhash64(seed * 131 + i), F.lit(50_000)).cast("int"))
    (_range(spark, rows).select(F.col("id").alias("doc_id"))
     .select(F.col("doc_id").cast("string").alias("doc_id"), toks.alias("tokens"))
     .write.mode("overwrite").parquet(path))


def pack_shards(rows: int) -> int:
    """Shards grow with the rows, so each shard's sequential best-fit fold
    packs about 8k documents at every size."""
    return max(64, rows // 8192)


def lengths(spark, rows: int, d: str) -> None:
    """(doc_id, n_tok, shard) of F1 sequences: packing reads lengths only."""
    path = os.path.join(d, "lengths.parquet")
    if _todo(path):
        (generate_sequences_head(spark, rows, head=1, partitions=4 * NPROC)
         .select("doc_id", "n_tok",
                 F.pmod(F.xxhash64("doc_id"), F.lit(pack_shards(rows))).cast("string").alias("shard"))
         .write.mode("overwrite").parquet(path))


def byte_tokens(spark, rows: int, d: str) -> None:
    """(doc_id, t): the 32 head tokens of F1 sequences reduced to a 256-symbol
    alphabet, the byte-level BPE shape."""
    path = os.path.join(d, "byte_tokens.parquet")
    if _todo(path):
        (generate_sequences_head(spark, rows, head=32, partitions=4 * NPROC)
         .select("doc_id", F.transform("tokens", lambda x: (x % 256).cast("int")).alias("t"))
         .write.mode("overwrite").parquet(path))


def boilerplate(spark, rows: int, d: str) -> None:
    """(id, text): every doc opens with one 5-word phrase, so its three
    3-gram shingles have document frequency ``rows``, then 6 words unique
    to the doc."""
    path = os.path.join(d, "boilerplate.parquet")
    if _todo(path):
        tail = [F.concat(F.lit(f"w{j}_"), F.col("id").cast("string")) for j in range(6)]
        (_range(spark, rows)
         .select("id", F.concat(F.lit("subscribe to our daily newsletter "), F.concat_ws(" ", *tail)).alias("text"))
         .write.mode("overwrite").parquet(path))


def hot_keys(spark, rows: int, d: str) -> None:
    """(id, k): 80 % of rows on key "hot", the rest spread over 10k keys."""
    path = os.path.join(d, "hot_keys.parquet")
    if _todo(path):
        (_range(spark, rows)
         .withColumn("k", F.when(F.col("id") % 5 < 4, F.lit("hot"))
                     .otherwise(F.concat(F.lit("k"), (F.col("id") % 10000).cast("string"))))
         .write.mode("overwrite").parquet(path))


def sequences(spark, rows: int, d: str) -> None:
    """The F1 tokenized-sequence table the flagship pipeline reads."""
    path = os.path.join(d, "sequences.parquet")
    if _todo(path):
        generate_sequences(spark, rows, partitions=4 * NPROC).write.mode("overwrite").parquet(path)


def logs(spark, rows: int, d: str) -> None:
    """``rows`` log lines of about 55 bytes across 8 files."""
    path = os.path.join(d, "logs")
    if not _todo(path):
        return
    os.makedirs(path, exist_ok=True)
    for i in range(8):
        with open(os.path.join(path, f"app-{i}.log"), "w") as fh:
            fh.writelines(f"2024-01-01T10:{j % 60:02d}:{i:02d}Z stdout F msg type={j % 7} seq={j:09d}\n"
                          for j in range(i, rows, 8))
    open(os.path.join(path, "_SUCCESS"), "w").close()


# ---------------------------------------------------------------------------
# Entries: job(spark, dir, rows) -> DataFrame | row count | None
# ---------------------------------------------------------------------------


def minhash_cross_candidates(spark, d, rows):
    """Cross-corpus decontamination against a fixed benchmark: the 240-char
    prefixes of doc ids below 10k, the same rows at every corpus size."""
    docs = _read(spark, d, "documents")
    bench = docs.filter(F.col("doc_id") < 10_000).select("doc_id", F.substring("text", 1, 240).alias("text"))
    return dedup.minhash_cross_candidates(docs, bench, "text", "doc_id", n=3, num_hashes=32, bands=8).count()


def c4_span_dedup(spark, d, rows):
    return tx.c4_span_dedup(_chunked_docs(_read(spark, d, "documents"), 3), "text", "doc_id")


def token_substring_dedup(spark, d, rows):
    return token_ops.token_substring_dedup(_read(spark, d, "tokens"), w=4)


def pack_chunks(spark, d, rows):
    return token_ops.token_pack_chunks(_read(spark, d, "lengths"), chunk_len=2048, partition_by="shard")


def pack_bestfit(spark, d, rows):
    return token_ops.token_pack_bestfit(_read(spark, d, "lengths"), capacity=2048, shard_col="shard")


def token_pair_counts(spark, d, rows):
    return token_ops.token_pair_counts(_read(spark, d, "byte_tokens"), tokens_col="t", top_k=64)


def token_bpe_merge(spark, d, rows):
    return token_ops.token_bpe_merge(_read(spark, d, "byte_tokens"), (7, 13), 256, tokens_col="t")


def bpe_train_2rounds(spark, d, rows):
    """Two count-pick-rewrite rounds, each spilled to parquet: the
    materialization a deployment that survives executor loss pays."""
    return token_ops.bpe_train(_read(spark, d, "byte_tokens"), 2, tokens_col="t", start_id=256,
                               spill_dir=os.path.join(d, "bpe_spill"))[1]


def unimax_resample(spark, d, rows):
    return sampling.unimax_resample(_read(spark, d, "documents"), "lang", "doc_id", "n_chars",
                           budget=rows * 100, max_epochs=3)


def ngram_pairs(cut: int | None):
    """The inverted-index n-gram join with shingles of document frequency
    above ``cut`` dropped (None keeps them all: O(rows^2) pairs here)."""
    def job(spark, d, rows):
        return dedup.ngram_jaccard_pairs(_read(spark, d, "boilerplate"), "text", "id", n=3,
                                         threshold=0.0, max_shingle_df=cut).count()

    job.__name__ = f"ngram_jaccard_pairs_max_df_{cut}"
    return job


def minhash_lsh_candidates(spark, d, rows):
    return dedup.minhash_lsh_candidates(_read(spark, d, "boilerplate"), "text", "id").count()


def rate_limit_window(spark, d, rows):
    return filters.rate_limit(_read(spark, d, "hot_keys"), ["k"], 100, order_by=["id"])


def rate_limit_sampled(spark, d, rows):
    return filters.rate_limit_sampled(_read(spark, d, "hot_keys"), ["k"], 100, F.col("id"))


def flagship(spark, d, rows):
    """bench.py's flagship pipeline; returns the rows its rollup counted."""
    import bench  # bench.py imports this module in its main()

    res = run_pipeline(render_lines(_read(spark, d, "sequences")), bench.FLAGSHIP, checkpoint=False)
    return sum(r["rows"] for r in res["metrics_rollup"])


def _drain(df: DataFrame, d: str) -> None:
    ckpt = tempfile.mkdtemp(dir=d)
    try:
        q = (df.writeStream.format("noop").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        drain_available_now(q)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def log_tail(spark, d, rows):
    """The tail source: file bytes read in Python workers, 4 MiB chunks, so
    each of the 8 files splits across slots."""
    _drain(tail_log_files(spark, os.path.join(d, "logs", "*.log"), max_partition_bytes=4 * 2**20), d)


def text_stream(spark, d, rows):
    """Spark's own text file stream over the same files, for comparison."""
    _drain(spark.readStream.format("text").load(os.path.join(d, "logs", "*.log")), d)


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------

Entry = Union[str, Callable]  # a registry query name, or a job function


@dataclass(frozen=True)
class Family:
    inputs: tuple[Callable, ...]
    entries: tuple[Entry, ...]
    points: tuple[tuple[int, int], tuple[int, int]]  # (input rows, task slots), base first


def scales(rows: int) -> tuple[tuple[int, int], tuple[int, int]]:
    return (rows, NPROC), (4 * rows, NPROC)


def slots(rows: int) -> tuple[tuple[int, int], tuple[int, int]]:
    return (rows, 1), (rows, NPROC)


FAMILIES: dict[str, Family] = {
    "funnel": Family((documents,), ("corpus_curation_pipeline", "dedup_exact", "dsir_importance_weights",
                                    "dedup_minhash_lsh", "dedup_simhash"), scales(62_500)),
    "mix": Family((documents,), ("temperature_sample_mix", "source_cap_rank_gate", "quality_classifier_gate",
                                 "bloom_contamination_flags"), scales(125_000)),
    "decontam": Family((documents,), (minhash_cross_candidates,), scales(125_000)),
    "span": Family((documents, tokens), (c4_span_dedup, token_substring_dedup, "curation_funnel_v2"),
                   scales(62_500)),
    "pack": Family((lengths,), (pack_chunks, pack_bestfit), scales(1_000_000)),
    "bpe": Family((byte_tokens, documents), (token_pair_counts, token_bpe_merge, bpe_train_2rounds,
                                             unimax_resample), scales(250_000)),
    "dedup_skew": Family((boilerplate,), (ngram_pairs(None), ngram_pairs(1024), ngram_pairs(256),
                                          ngram_pairs(64), minhash_lsh_candidates), scales(2_500)),
    "rate_limit_skew": Family((hot_keys,), (rate_limit_window, rate_limit_sampled), scales(2_000_000)),
    "flagship": Family((sequences,), (flagship,), slots(250_000)),
    "tail": Family((logs,), (log_tail, text_stream), slots(2_000_000)),
}


def entry_name(entry: Entry) -> str:
    return entry if isinstance(entry, str) else entry.__name__


def entry_job(entry: Entry) -> Callable:
    if isinstance(entry, str):
        query = QUERIES[entry].spark
        return lambda spark, d, rows: query(spark, d)
    return entry


def _label(point: tuple[int, int]) -> str:
    return f"rows={point[0]} local[{point[1]}]"


def _ratio(points, base: dict, other: dict) -> dict:
    b, o = base["wall_s"]["median"], other["wall_s"]["median"]
    out = {
        "base": _label(points[0]),
        "vs": _label(points[1]),
        "wall_x": o / b,
        # no ratio over a base that shuffled nothing
        "shuffle_write_x": other["shuffle_write_mb"] / base["shuffle_write_mb"] if base["shuffle_write_mb"] else None,
    }
    slots_x = points[1][1] / points[0][1]
    if slots_x != 1:
        out["per_slot_efficiency"] = b / (slots_x * o)
    return out


def run_family(fam: Family, session: Callable, input_dir: str, points=None) -> dict:
    """Every entry of ``fam`` at both points (``fam.points`` unless given).
    ``session(cores)`` returns a session with that many task slots."""
    points = points or fam.points
    started = time.perf_counter()
    entries: dict[str, list[dict]] = {entry_name(e): [] for e in fam.entries}
    for rows, cores in points:
        spark = session(cores)
        d = os.path.join(input_dir, str(rows))
        os.makedirs(d, exist_ok=True)
        for make in fam.inputs:
            make(spark, rows, d)
        for e in fam.entries:
            job = entry_job(e)
            rec = {"rows_in": rows, "master": spark.sparkContext.master,
                   **measure(spark, lambda: job(spark, d, rows))}
            entries[entry_name(e)].append(rec)
            print(f"[{_label((rows, cores))}] {entry_name(e)}: median {rec['wall_s']['median']:.2f} s, "
                  f"shuffle write {rec['shuffle_write_mb']:.1f} MB", flush=True)
    return {
        "points": [{"rows": r, "cores": c} for r, c in points],
        "entries": entries,
        "ratios": {name: _ratio(points, *recs) for name, recs in entries.items()},
        "wall_s": time.perf_counter() - started,
    }


def start_session(work_dir: str, cores: int):
    # as perfbench/run.py does: the session's Python workers import the package
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return worker.start_session(work_dir, cores)


class Sessions:
    """The one live session, restarted in process when a point asks for
    another number of task slots; the JVM stays up."""

    def __init__(self, work_dir: str):
        self.work_dir, self.spark, self.cores = work_dir, None, None

    def __call__(self, cores: int):
        if cores != self.cores:
            self.stop()
            self.spark, self.cores = start_session(self.work_dir, cores), cores
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = self.cores = None


def main(names: list[str]) -> int:
    unknown = sorted(set(names) - set(FAMILIES))
    if unknown:
        print(f"unknown families {unknown}; choose from {sorted(FAMILIES)}", file=sys.stderr)
        return 2
    work = os.path.join(STATE, "work")
    sessions = Sessions(work)
    try:
        facts = host_facts(sessions(NPROC))
        try:
            with open(RECORD) as fh:
                record = json.load(fh)
        except FileNotFoundError:
            record = None
        if record is None or not same_host(record["host"]):
            record = {"record": "rehearsal", "families": {}}
        record.update(host=facts, runs_per_entry=RUNS, warmups_per_entry=1)
        for name in names or FAMILIES:
            record["families"][name] = run_family(FAMILIES[name], sessions, INPUTS)
            record["wall_s"] = sum(f["wall_s"] for f in record["families"].values())
            with open(RECORD, "w") as fh:
                json.dump(record, fh, indent=1)
    finally:
        sessions.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({n: record["families"][n]["ratios"] for n in names or FAMILIES}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

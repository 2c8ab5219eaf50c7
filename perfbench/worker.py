"""One Spark driver process of the benchmark: start a session sized from the
host, run the workload as a closed loop (one client, each run starting after
the previous one ends), check every output, and write the runs to a JSON file.

Usage: python3 perfbench/worker.py <job.json> <result.json>

The job names the workload, seed, input path, work directory, mode (``timed``
or ``trace``) and the seconds to measure. ``run.py`` starts this process and
times its set-up from outside.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

import host
import layers
import sparkstats
from workloads import WORKLOADS


def start_session(work_dir: str, cores: int | None = None):
    """A local session with every size taken from the host: task slots,
    shuffle partitions, driver heap, and scratch space inside ``work_dir``."""
    from loongcollector_spark.session import get_spark

    cores = cores or host.nproc()
    heap = host.driver_heap_mb(host.mem_total_mb())
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=str(2 * cores),
        extra_conf={
            # a ceiling only: the heap grows as the job needs it, so the
            # process tree's peak RSS follows the memory the job uses
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
            # Python workers inherit these: one thread each, so nproc
            # workers stay within nproc cores.
            "spark.executorEnv.OMP_NUM_THREADS": "1",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs, checks and records one workload's runs."""

    def __init__(self, wl, stats: sparkstats.SparkStats):
        self.wl, self.stats = wl, stats
        self.runs: list[dict] = []

    def attempt(self, phase: str, keep: bool = False, with_metrics: bool = False, around=nullcontext):
        """One run: time it, read Spark's counters for it, check its output.
        Returns (wall seconds, output); the output is cleaned up unless
        ``keep``. ``with_metrics`` also reads the runs' SQL metrics.
        ``around()`` is a context manager entered around the run alone, not
        around its check."""
        k = len(self.runs)
        before = self.stats.executor_totals()
        self.stats.executions_since_last(with_metrics=False)
        cpu0 = host.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        out, error = None, None
        try:
            with around():
                out = self.wl.run(k)
        except Exception:
            error = traceback.format_exc(limit=8)
        wall = time.perf_counter() - t0
        ended_at = time.time()
        cpu = host.tree_cpu_s(os.getpid()) - cpu0
        after = self.stats.executor_totals()
        execs = self.stats.executions_since_last(with_metrics)
        if error is None:
            try:
                problems = self.wl.check(out)
            except Exception:
                problems = [traceback.format_exc(limit=8)]
        else:
            problems = [error]
        self.runs.append({
            "phase": phase,
            "wall_s": wall,
            "cpu_s": cpu,
            "ended_at": ended_at,
            "shuffle_mb": (after["shuffle_write_b"] - before["shuffle_write_b"]) / 2**20,
            "shuffle_read_mb": (after["shuffle_read_b"] - before["shuffle_read_b"]) / 2**20,
            "gc_s": after["gc_s"] - before["gc_s"],
            "tasks": after["tasks"] - before["tasks"],
            "spill_mb": sparkstats.summed(execs, sparkstats.SPILL) / 2**20,
            "py_s": sparkstats.summed(execs, sparkstats.PY_TIME),
            "ok": not problems,
            "problems": problems[:5],
            "tasks_per_stage": self.stats.tasks_per_stage(sorted({s for e in execs for s in e["stages"]})),
        })
        if out is not None and not keep:
            self.wl.cleanup(out)
        return wall, out


def main(job_path: str, result_path: str) -> int:
    with open(job_path) as fh:
        job = json.load(fh)
    spark = start_session(job["work_dir"])
    wl = WORKLOADS[job["workload"]](spark, job["input"], job["seed"], job["work_dir"])
    runner = Runner(wl, sparkstats.SparkStats(spark))
    result: dict = {"runs": runner.runs}

    runner.attempt("first")
    for _ in range(wl.warmup_runs):
        runner.attempt("warmup")

    if job["mode"] == "trace":
        result["layers"] = layers.trace(runner, lambda cores: start_session(job["work_dir"], cores))
    else:
        end = time.perf_counter() + job["seconds"]
        timed = 0
        while timed < wl.min_timed_runs or time.perf_counter() < end:
            runner.attempt("timed")
            timed += 1
    wl.spark.stop()
    with open(result_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))

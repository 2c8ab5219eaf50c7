"""Benchmark entry point.

    python3 perfbench/run.py --workload logpipe --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the workload's seeded input (cached
under ``.perfbench/``), then starts one Spark driver process (``worker.py``):
a closed loop of one client on ``local[nproc]``. With ``--trace 0`` it reports
the end-to-end metrics; with ``--trace 1`` the driver runs traced and it
reports the per-layer metrics.

Standard output ends with two JSON lines: the full self-describing record,
then the result ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import workloads  # noqa: E402

BUDGET_S = 160  # the driver process is stopped by then, leaving time to clean up
INPUT_CACHE_KEEP = 6  # seeded inputs kept on disk between runs
END_TO_END_UNITS = {"seq_per_cpu_s": "seq/cpu_s", "busy_cores": "cores", "setup_s": "s",
                    "peak_rss_mb": "MB", "shuffle_mb": "MB"}


def source_sha1() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "loongcollector_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def prune_inputs(cache: str) -> None:
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime)
    for old in entries[:-INPUT_CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def stop_group(pgid: int) -> None:
    """Stop every process left in a driver's process group and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not host.group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while host.group_members(pgid) and time.time() < end:
            time.sleep(0.05)
    if host.group_members(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def run_driver(job: dict, tmp: str, deadline: float) -> dict:
    """Start one worker.py process, sample its tree's memory, and return its
    result with ``setup_s`` (spawn until the first run ended) and
    ``peak_rss_mb``."""
    job_path = os.path.join(tmp, "job.json")
    result_path = os.path.join(tmp, "result.json")
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    local = os.path.join(job["work_dir"], "spark-local")
    os.makedirs(local, exist_ok=True)
    # Every JVM (Spark's launcher too) skips its /tmp perf-data file, so
    # nothing is written outside the checkout.
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable, TMPDIR=local,
               SPARK_LOCAL_DIRS=local, OMP_NUM_THREADS="1", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    log_path = os.path.join(tmp, "worker.log")
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), job_path, result_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            with host.PeakRss(proc.pid) as rss:
                rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"driver {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(result_path) as fh:
        result = json.load(fh)
    result["setup_s"] = result["runs"][0]["ended_at"] - spawned
    result["peak_rss_mb"] = rss.peak_mb
    result["peak_rss_by_command_mb"] = rss.peak_by_command
    return result


def metrics_of(driver: dict, rows: int, trace: bool) -> dict[str, dict]:
    """The reported metrics with units: per-layer ones from a traced driver,
    else the end-to-end ones from its timed runs."""
    if trace:
        import layers

        return {k: {"value": v, "unit": layers.unit_of(k)} for k, v in driver["layers"].items()}
    timed = [r for r in driver["runs"] if r["phase"] == "timed"]
    if not timed:
        raise RuntimeError("no timed run finished within the measured window")
    values = {
        "seq_per_cpu_s": statistics.median(rows / r["cpu_s"] for r in timed),
        # CPU seconds per wall second: falls when work that ran in parallel
        # comes to wait (serial sinks, fewer partitions, a new barrier),
        # which leaves the CPU time per row unchanged
        "busy_cores": statistics.median(r["cpu_s"] / r["wall_s"] for r in timed),
        "setup_s": driver["setup_s"],
        "peak_rss_mb": driver["peak_rss_mb"],
        "shuffle_mb": statistics.median(r["shuffle_mb"] for r in timed),
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def wall_throughput(driver: dict, rows: int) -> dict[str, dict]:
    """Rows per wall second of the timed runs (median). Reported in the
    record; it is gated through its factors ``seq_per_cpu_s`` and
    ``busy_cores``, because on a host whose hypervisor steals CPU it swings
    far more between invocations than the CPU-time figure does."""
    walls = [r["wall_s"] for r in driver["runs"] if r["phase"] in ("timed", "trace_untraced")]
    return {"seq_per_s": {"value": statistics.median(rows / w for w in walls), "unit": "seq/s"}}


def result_line(runs: list[dict], metrics: dict) -> dict:
    """The last line of the output: every run attempted counts, and a run
    fails if it raised or its output check found a problem."""
    failed = sum(not r["ok"] for r in runs)
    return {"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}


def phase_walls(driver: dict) -> dict[str, list[float]]:
    walls: dict[str, list[float]] = {}
    for r in driver["runs"]:
        walls.setdefault(f"{r['phase']}_wall_s", []).append(r["wall_s"])
        walls.setdefault(f"{r['phase']}_cpu_s", []).append(r["cpu_s"])
    return walls


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "loongcollector_spark")):
        print(f"perfbench: no loongcollector_spark package beside {HERE}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(state, "inputs")
    tmp = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        nproc = host.nproc()
        path, facts = workloads.prepare(args.workload, args.seed, cache, n_files=2 * nproc)
        prune_inputs(cache)
        load_before, cpu_before = host.loadavg(), host.cpu_times()
        job = {"workload": args.workload, "seed": args.seed, "input": path,
               "work_dir": os.path.join(tmp, "work"), "seconds": args.seconds,
               "mode": "trace" if args.trace else "timed"}
        driver = run_driver(job, tmp, started + BUDGET_S)
        cpu_after = host.cpu_times()

        runs = driver["runs"]
        result = result_line(runs, metrics_of(driver, facts["rows"], bool(args.trace)))
        timed = [r for r in runs if r["phase"] in ("timed", "trace_untraced")]
        record = {
            "record": "perfbench",
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "closed_loop": {"clients": 1, "master": f"local[{nproc}]"},
            "metrics": {**result["metrics"], **wall_throughput(driver, facts["rows"]),
                        "fail_ratio": {"value": result["failed"] / len(runs), "unit": "ratio"}},
            "inputs": facts,
            "host": {
                "nproc": nproc,
                "mem_total_mb": round(host.mem_total_mb()),
                "driver_heap_mb": host.driver_heap_mb(host.mem_total_mb()),
                "load_before": load_before,
                "load_after": host.loadavg(),
                "cpu_steal_share": host.steal_share(cpu_before, cpu_after),
            },
            "git_commit": git_commit(),
            "source_sha1": source_sha1(),
            "setup_s": driver["setup_s"],
            "peak_rss_mb": driver["peak_rss_mb"],
            "peak_rss_by_command_mb": driver["peak_rss_by_command_mb"],
            "runs": phase_walls(driver),
            "tasks_per_stage": timed[-1]["tasks_per_stage"] if timed else [],
            "failures": [p for r in runs for p in r["problems"]][:5],
            "elapsed_s": time.time() - started,
        }
        print(json.dumps(record))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

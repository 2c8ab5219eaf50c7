"""The result line and its metrics match what BENCHMARK.json declares."""

import json
import os

import layers
import run
from conftest import ROOT

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(ok: bool, phase: str = "timed", wall: float = 2.0) -> dict:
    return {"phase": phase, "wall_s": wall, "cpu_s": 4 * wall, "ok": ok, "shuffle_mb": 0.5,
            "problems": [] if ok else ["x"]}


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["command"][:2] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_end_to_end_result_line():
    driver = {"runs": [_run(True, "first", 9.0), _run(True, "warmup", 3.0), _run(True), _run(False, wall=4.0)],
              "setup_s": 30.5, "peak_rss_mb": 2100.0}
    line = run.result_line(driver["runs"], run.metrics_of(driver, 1000, trace=False))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 4, 1)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    # medians over the two timed runs (2 s wall / 8 cpu-s and 4 s / 16 cpu-s)
    assert line["metrics"]["seq_per_cpu_s"]["value"] == (1000 / 8 + 1000 / 16) / 2
    assert line["metrics"]["busy_cores"]["value"] == 4.0
    assert run.wall_throughput(driver, 1000)["seq_per_s"]["value"] == (1000 / 2 + 1000 / 4) / 2
    assert all(v["value"] != 0 for v in line["metrics"].values())
    assert "\n" not in json.dumps(line)


def test_trace_result_line_has_every_per_layer_metric():
    driver = {"runs": [_run(True, "first")], "layers": {name: 1.0 for name in layers.PER_LAYER}}
    line = run.result_line(driver["runs"], run.metrics_of(driver, 1000, trace=True))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want

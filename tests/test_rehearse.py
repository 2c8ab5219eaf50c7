"""tools/rehearse.py: the table resolves, the loop yields a pinned record
schema for both kinds of family, and a missing Spark figure raises."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import rehearse  # noqa: E402
from loongcollector_spark.queries import QUERIES  # noqa: E402

ENTRY_FIELDS = {"rows_in", "master", "wall_s", "runs_s", "warmup_s", "load_1m", "shuffle_read_mb",
                "shuffle_write_mb", "task_run_s", "task_cpu_s", "task_gc_s", "tasks_per_stage", "rows_out"}


def test_every_entry_resolves():
    assert set(rehearse.FAMILIES) == {"funnel", "mix", "decontam", "span", "pack", "bpe", "dedup_skew",
                                      "rate_limit_skew", "flagship", "tail"}
    for name, fam in rehearse.FAMILIES.items():
        (r0, c0), (r1, c1) = fam.points
        assert ((r1, c1) == (4 * r0, c0) == (r1, rehearse.NPROC)) or ((r1, c0, c1) == (r0, 1, rehearse.NPROC)), name
        assert all(callable(make) for make in fam.inputs), name
        for e in fam.entries:
            assert e in QUERIES if isinstance(e, str) else callable(e), (name, e)
            assert callable(rehearse.entry_job(e))
        names = [rehearse.entry_name(e) for e in fam.entries]
        assert len(set(names)) == len(names), name


@pytest.mark.parametrize("family, entry, points", [
    ("mix", "temperature_sample_mix", ((200, 4), (800, 4))),
    ("flagship", "flagship", ((300, 1), (300, 4))),
])
def test_loop_record_schema(spark, tmp_path, family, entry, points):
    fam = rehearse.FAMILIES[family]
    one = rehearse.Family(fam.inputs, tuple(e for e in fam.entries if rehearse.entry_name(e) == entry), points)
    rec = rehearse.run_family(one, lambda cores: spark, str(tmp_path), points)

    assert set(rec) == {"points", "entries", "ratios", "wall_s"}
    assert rec["points"] == [{"rows": r, "cores": c} for r, c in points]
    assert list(rec["entries"]) == [entry]
    for (rows, _), run in zip(points, rec["entries"][entry]):
        assert set(run) == ENTRY_FIELDS
        assert run["rows_in"] == rows
        assert set(run["wall_s"]) == {"median", "min", "max"}
        assert len(run["runs_s"]) == len(run["load_1m"]) == rehearse.RUNS
        # every timed run ran tasks on the CPU; GC may take no time
        for key in ("task_run_s", "task_cpu_s", "task_gc_s"):
            assert len(run[key]) == rehearse.RUNS and all(t >= 0 for t in run[key]), key
        assert all(t > 0 for t in run["task_run_s"] + run["task_cpu_s"]), run
        assert run["tasks_per_stage"] and all(t > 0 for t in run["tasks_per_stage"])
        assert run["shuffle_read_mb"] >= 0 and run["shuffle_write_mb"] >= 0
    ratio = rec["ratios"][entry]
    assert (ratio["base"], ratio["vs"]) == tuple(f"rows={r} local[{c}]" for r, c in points)
    slot_family = points[0][1] != points[1][1]
    assert set(ratio) == {"base", "vs", "wall_x", "shuffle_write_x"} | ({"per_slot_efficiency"} if slot_family else set())
    if slot_family:  # the flagship counts its rows through the rollup
        assert [run["rows_out"] for run in rec["entries"][entry]] == [points[0][0]] * 2

    facts = rehearse.host_facts(spark)
    assert set(facts) == {"nproc", "mem_total_mb", "driver_memory", "spark"}
    assert rehearse.same_host(facts)
    assert not rehearse.same_host({**facts, "nproc": facts["nproc"] + 1})


@pytest.mark.parametrize("method, fake", [
    ("executor_totals", lambda self: {"shuffle_write_b": 0.0, "shuffle_read_b": 0.0, "gc_s": 0.0, "tasks": 0.0}),
    ("tasks_per_stage", lambda self, stages: []),
])
def test_missing_spark_stat_raises(spark, monkeypatch, method, fake):
    """A run with no task or stage figures raises instead of reading as 0 MB."""
    monkeypatch.setattr(rehearse.sparkstats.SparkStats, method, fake)
    with pytest.raises(rehearse.MissingStat):
        rehearse.measure(spark, lambda: spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count())

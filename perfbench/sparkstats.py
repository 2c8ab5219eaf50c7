"""Spark's own counters, read in-process from the driver's status stores.

These are the stores the monitoring REST API serves
(``/api/v1/applications/<id>/executors`` and ``.../sql/<execution>``); reading
them through the py4j gateway needs no UI port. Executor totals give shuffle
bytes, GC time and task counts; SQL executions give per-node metrics such as
Python worker time and spill, plus the stages each execution ran.
"""

from __future__ import annotations

import re

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
# The SQL metrics the trace reads; others are left unparsed.
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SPILL = "spill size"
WANTED = (PY_TIME, PY_SENT, PY_RECV, SPILL)

_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number: bytes for sizes, seconds
    for times, the count otherwise. Summary metrics read as
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable metric {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    if unit:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return num


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._last_execution_id()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def executor_totals(self) -> dict[str, float]:
        self.drain()
        out = {"shuffle_write_b": 0.0, "shuffle_read_b": 0.0, "gc_s": 0.0, "tasks": 0.0}
        for e in _iter(self._jsc.statusStore().executorList(True)):
            out["shuffle_write_b"] += e.totalShuffleWrite()
            out["shuffle_read_b"] += e.totalShuffleRead()
            out["gc_s"] += e.totalGCTime() / 1000
            out["tasks"] += e.totalTasks()
        return out

    def _last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def executions_since_last(self, with_metrics: bool = True) -> list[dict]:
        """SQL executions finished since the previous call: their stage ids
        and job count, and with ``with_metrics`` their summed WANTED metrics."""
        self.drain()
        execs = self._sql.executionsList()
        out = []
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._seen:
                break
            metrics: dict[str, float] = {}
            values = self._sql.executionMetrics(eid) if with_metrics else None
            for node in _iter(self._sql.planGraph(eid).allNodes()) if with_metrics else ():
                for m in _iter(node.metrics()):
                    if m.name() not in WANTED:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = metrics.get(m.name(), 0.0) + parse_metric(v.get())
            stages = sorted(int(s) for s in _iter(ex.stages()))
            out.append({"id": eid, "metrics": metrics, "stages": stages, "jobs": ex.jobs().size()})
        if out:
            self._seen = out[0]["id"]
        return out[::-1]

    def tasks_per_stage(self, stages: list[int]) -> list[int]:
        tracker = self.sc.statusTracker()
        out = []
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                out.append(info.numTasks)
        return out

    def storage_mb(self) -> float:
        """Memory held by cached blocks (persisted DataFrames)."""
        return sum(r.memSize() for r in self._jsc.getRDDStorageInfo()) / 2**20


def summed(executions: list[dict], name: str) -> float:
    return sum(ex["metrics"].get(name, 0.0) for ex in executions)

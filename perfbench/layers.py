"""Per-layer tracing from the benchmark's side of the engine's API.

Spans are taken around calls into the engine's public functions:
``catalog.load_table`` (layer ``catalog``), each registered query
callable (``operators``: the DataFrame build, catalog time included),
the planner phases of the built DataFrame (``catalyst``) and the
noop-sink write (``execution``). Every span also sets the Spark job
group ``<layer>|<query>|<pass>``, so the jobs, stages and tasks that
Spark's event log records can be charged to the layer that caused
them.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# Session confs that make Spark write a plain-JSON event log.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
PHASES = ("analysis", "optimization", "planning")
_MB = 1024 * 1024


class Tracer:
    """Span durations per (query, pass, layer), kept in memory."""

    def __init__(self) -> None:
        self.seconds: dict[tuple[str, str, str], float] = defaultdict(float)
        self.calls: dict[tuple[str, str, str], int] = defaultdict(int)
        self.sc = None
        # The query and pass being traced; None between traced runs,
        # when spans record nothing.
        self.query = self.pass_ = None
        self._groups: list[str] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, layer: str):
        if self.query is None:
            yield
            return
        group = f"{layer}|{self.query}|{self.pass_}"
        self._groups.append(group)
        self._set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            key = (self.query, self.pass_, layer)
            self.seconds[key] += time.perf_counter() - t0
            self.calls[key] += 1
            self._groups.pop()
            self._set_group(self._groups[-1] if self._groups else None)

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def phases(self, df) -> dict[str, float]:
        """Force physical planning of ``df`` and return the seconds of
        each planner phase its QueryExecution recorded."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        recorded = qe.tracker().phases()
        out = {}
        for name in PHASES:
            opt = recorded.get(name)
            out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        return out


def group_stats(event_log: str) -> dict[str, dict[str, float]]:
    """Sum Spark's job, stage and task records per job group."""
    stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str | None] = {}
    with open(event_log) as f:
        for line in f:
            # Skip SQL plan events (large) without parsing them.
            if not line.startswith('{"Event":"SparkListener'):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                stats[_group(ev)]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev)
            elif kind == "SparkListenerStageCompleted":
                stats[stage_group.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                s = stats[stage_group.get(ev["Stage ID"])]
                s["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    s["failed_tasks"] += 1
                m = ev.get("Task Metrics")
                if not m:
                    continue
                shuffle_read = m["Shuffle Read Metrics"]
                s["executor_run_s"] += m["Executor Run Time"] / 1e3
                s["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                s["jvm_gc_s"] += m["JVM GC Time"] / 1e3
                s["input_mb"] += m["Input Metrics"]["Bytes Read"] / _MB
                s["input_rows"] += m["Input Metrics"]["Records Read"]
                s["output_mb"] += m["Output Metrics"]["Bytes Written"] / _MB
                s["shuffle_read_mb"] += (
                    shuffle_read["Remote Bytes Read"] + shuffle_read["Local Bytes Read"]
                ) / _MB
                s["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                )
                s["spill_mb"] += m["Disk Bytes Spilled"] / _MB
    return stats


def _group(ev: dict) -> str | None:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id")

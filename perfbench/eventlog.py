"""Spans kept in memory, and a parser that turns a Spark event log into
per-call layer figures.

Every public call the benchmark makes runs under a Spark job group named
after its span (``Tracer.span``), so the event log attributes each job,
task and SQL execution to the call that caused it. ``EventLog`` reads the
log that ``spark.eventLog.enabled`` writes (plain JSON lines, one directory
per application) and sums, per job-group prefix:

- task metrics: executor run/CPU/GC time, shuffle bytes and fetch wait,
  spill, failed tasks (input bytes are left out: the task "Bytes Read"
  counter misses local-filesystem parquet reads; the scan node's "size of
  files read" is used instead);
- SQL metrics by plan node and metric name (for example the
  ``ArrowEvalPython`` node's "time to run Python workers");
- node counts of the final adaptive plan of each SQL execution.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags Spark jobs with the span name.

    The span name is the Spark job group, so jobs started inside the span
    can be found in the event log; nested spans restore the outer group on
    exit. With no ``sc`` only wall times are recorded."""

    def __init__(self, sc=None) -> None:  # noqa: ANN001
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent)
        self._stack.append(name)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self.sc is not None:
                if parent is None:
                    self.sc.setJobGroup("", "")
                else:
                    self.sc.setJobGroup(parent, parent)

    def seconds(self, prefix: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name.startswith(prefix)]


@dataclass
class _Exec:
    group: str = ""
    plan: dict | None = None
    # accumulator id -> (node name, metric name, metric type)
    metrics: dict = field(default_factory=dict)


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    """Parsed event log of one Spark application."""

    def __init__(self, path: Path) -> None:
        files = [path] if path.is_file() else sorted(
            (p for p in path.iterdir() if p.name.startswith("events_")),
            key=lambda p: int(p.name.split("_")[1]),
        )
        self.job_group: dict[int, str] = {}
        self.job_times: dict[int, list[float]] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[tuple[int, dict, bool]] = []  # (stage, metrics, failed)
        self.acc_updates: dict[int, float] = {}
        self.execs: dict[int, _Exec] = {}
        for f in files:
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    # -- ingestion -----------------------------------------------------
    def _plan(self, ex: _Exec, plan: dict) -> None:
        ex.plan = plan
        for node in _walk(plan):
            for m in node.get("metrics", []):
                ex.metrics[m["accumulatorId"]] = (
                    node["nodeName"], m["name"], m["metricType"]
                )

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = e["Job ID"]
            self.job_group[job] = props.get("spark.jobGroup.id") or ""
            self.job_times[job] = [e["Submission Time"] / 1e3, 0.0]
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = job
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                ex = self.execs.setdefault(int(exec_id), _Exec())
                ex.group = ex.group or self.job_group[job]
        elif kind == "SparkListenerJobEnd":
            self.job_times[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            self.tasks.append(
                (e["Stage ID"], e.get("Task Metrics") or {}, bool(info.get("Failed")))
            )
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    self._acc(acc["ID"], acc.get("Update"))
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            ex = self.execs.setdefault(e["executionId"], _Exec())
            self._plan(ex, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(self.execs.setdefault(e["executionId"], _Exec()), e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            ex = self.execs.setdefault(e["executionId"], _Exec())
            for m in e.get("sqlPlanMetrics", []):
                ex.metrics.setdefault(m["accumulatorId"], ("", m["name"], m["metricType"]))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                self._acc(acc_id, value)

    def _acc(self, acc_id: int, value) -> None:  # noqa: ANN001
        try:
            self.acc_updates[acc_id] = self.acc_updates.get(acc_id, 0.0) + float(value)
        except (TypeError, ValueError):
            pass

    # -- queries -------------------------------------------------------
    def jobs(self, prefix: str) -> list[int]:
        return [j for j, g in self.job_group.items() if g.startswith(prefix)]

    def task_totals(self, prefix: str) -> dict[str, float]:
        """Task metrics summed over every job of the group prefix."""
        jobs = set(self.jobs(prefix))
        out = {
            "tasks": 0.0, "failed_tasks": 0.0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0.0,
            "fetch_wait_s": 0.0, "spill_bytes": 0.0,
        }
        for stage, m, failed in self.tasks:
            if self.stage_job.get(stage) not in jobs:
                continue
            out["tasks"] += 1
            out["failed_tasks"] += failed
            out["run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
        return out

    def _execs(self, prefix: str) -> list[_Exec]:
        return [ex for ex in self.execs.values() if ex.group.startswith(prefix)]

    def sql_metric(self, prefix: str, node: str, name: str) -> float:
        """Sum of one SQL metric over plan nodes whose name starts with
        ``node``; timings in seconds, sizes in bytes, sums as counts."""
        total = 0.0
        for ex in self._execs(prefix):
            for acc_id, (node_name, metric, mtype) in ex.metrics.items():
                if metric != name or not node_name.startswith(node):
                    continue
                v = self.acc_updates.get(acc_id, 0.0)
                if mtype == "timing":
                    v /= 1e3
                elif mtype == "nsTiming":
                    v /= 1e9
                total += v
        return total

    def plan_counts(self, prefix: str) -> dict[str, int]:
        """Node counts over the final plans of the group's SQL executions."""
        out = {"scan_nodes": 0, "reused_exchanges": 0, "python_nodes": 0}
        for ex in self._execs(prefix):
            if ex.plan is None:
                continue
            for n in _walk(ex.plan):
                name = n["nodeName"]
                if "Scan" in name:
                    out["scan_nodes"] += 1
                elif name.startswith("ReusedExchange"):
                    out["reused_exchanges"] += 1
                elif "EvalPython" in name or "MapInPandas" in name or "FlatMapGroupsInPandas" in name:
                    out["python_nodes"] += 1
        return out


def find_log(log_dir: Path, app_id: str) -> Path:
    """The event log of ``app_id`` under ``log_dir`` (file or v2 dir)."""
    for p in log_dir.iterdir():
        if app_id in p.name and not p.name.endswith(".inprogress"):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")

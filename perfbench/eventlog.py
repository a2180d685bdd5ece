"""Spark's own stage and plan metrics, read back from an uncompressed,
non-rolling event log.

Jobs are selected by a local property the benchmark sets around its own
calls (`PHASE_PROP`); every job Spark launches for that call, including
the AQE shuffle-map jobs, carries it. Plan metrics are summed from the
per-task accumulator updates of those jobs' stages, plus the driver-side
updates of their SQL executions, and attributed to plan nodes through the
latest plan each execution reported (the AQE final plan).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PHASE_PROP = "perfbench.phase"
_SQL = "org.apache.spark.sql.execution.ui."
KERNEL_NODES = ("MapInArrow", "MapInPandas")


def _walk(info: dict, ancestors: tuple, out: list) -> bool:
    """Flatten a sparkPlanInfo tree into out[(node, ancestors, has_kernel
    below)]; returns whether a Python kernel node is in this subtree."""
    below = False
    idx = len(out)
    out.append(None)
    for child in info.get("children", []):
        below |= _walk(child, ancestors + (info["nodeName"],), out)
    out[idx] = (info, ancestors, below)
    return below or info["nodeName"] in KERNEL_NODES


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, dict] = {}  # execution id -> latest plan info
        self.driver_updates: dict[int, dict[int, float]] = defaultdict(dict)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "phase": props.get(PHASE_PROP),
                "execution": props.get("spark.sql.execution.id"),
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si:
                self.stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "start": si["Submission Time"] / 1000.0,
                    "end": si["Completion Time"] / 1000.0,
                }
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            self.tasks[e["Stage ID"]].append({
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "fetch_wait_ms": tm.get("Shuffle Read Metrics", {}).get(
                    "Fetch Wait Time", 0),
                "shuffle_write_ns": tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Write Time", 0),
                "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                "output_bytes": tm.get("Output Metrics", {}).get(
                    "Bytes Written", 0),
                "accums": {
                    a["ID"]: float(a["Update"])
                    for a in ti.get("Accumulables", [])
                    if "Update" in a and _is_number(a["Update"])
                },
            })
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.driver_updates[e["executionId"]][acc_id] = float(value)

    def phase_jobs(self, prefix: str) -> list[int]:
        return sorted(j for j, info in self.jobs.items()
                      if (info["phase"] or "").startswith(prefix))

    def metrics(self, job_ids: list[int]) -> "PhaseMetrics":
        return PhaseMetrics(self, job_ids)


def _is_number(v) -> bool:
    try:
        float(v)
        return True
    except (TypeError, ValueError):
        return False


class PhaseMetrics:
    """Stage and plan metrics summed over a set of jobs."""

    def __init__(self, log: EventLog, job_ids: list[int]):
        self.jobs = [log.jobs[j] for j in job_ids]
        stage_ids = sorted({s for j in self.jobs for s in j["stages"]
                            if s in log.tasks})
        self.stage_tasks = {s: log.tasks[s] for s in stage_ids}
        self.tasks = [t for s in stage_ids for t in log.tasks[s]]
        executions = {int(j["execution"]) for j in self.jobs
                      if j["execution"] is not None}
        # accumulator id -> (node info, metric name, ancestors, kernel below)
        self.accums: dict[int, tuple] = {}
        for ex in executions:
            nodes: list = []
            if ex in log.plans:
                _walk(log.plans[ex], (), nodes)
            for info, ancestors, below in nodes:
                for m in info.get("metrics", []):
                    self.accums[m["accumulatorId"]] = (
                        info["nodeName"], m["name"], ancestors, below)
        self.values: dict[int, float] = defaultdict(float)
        for t in self.tasks:
            for acc_id, upd in t["accums"].items():
                self.values[acc_id] += upd
        for ex in executions:
            for acc_id, v in log.driver_updates.get(ex, {}).items():
                self.values[acc_id] += v

    def task_sum(self, key: str, tasks: list[dict] | None = None) -> float:
        return float(sum(t[key] for t in (self.tasks if tasks is None else tasks)))

    def _ids(self, metric: str | None, node) -> set[int]:
        return {a for a, (name, m, anc, below) in self.accums.items()
                if (metric is None or m == metric) and node(name, anc, below)}

    def plan(self, metric: str, node=lambda name, anc, below: True,
             tasks: list[dict] | None = None) -> float:
        """Sum of one plan metric over the nodes `node` accepts; over all
        tasks plus driver-side updates, or only over `tasks`."""
        ids = self._ids(metric, node)
        if tasks is None:
            return sum(self.values.get(a, 0.0) for a in ids)
        return sum(t["accums"].get(a, 0.0) for t in tasks for a in ids)

    def tasks_touching(self, node, tasks: list[dict] | None = None,
                       exclude: list[dict] = ()) -> list[dict]:
        """Tasks (of `tasks`, default all, less `exclude`) that updated any
        metric of a node `node` accepts."""
        ids = self._ids(None, node)
        skip = {id(t) for t in exclude}
        return [t for t in (self.tasks if tasks is None else tasks)
                if id(t) not in skip and ids & t["accums"].keys()]

    def kernel_stage_skew(self) -> float:
        """max / median task run time of the stage with the most Python
        kernel time."""
        ids = {a for a, (name, m, _anc, _b) in self.accums.items()
               if name in KERNEL_NODES and m == "time to run Python workers"}
        best, best_t = None, -1.0
        for sid, tasks in self.stage_tasks.items():
            t = sum(task["accums"].get(a, 0.0) for task in tasks for a in ids)
            if t > best_t:
                best, best_t = sid, t
        if best is None or best_t <= 0:
            return 0.0
        runs = [t["run_ms"] for t in self.stage_tasks[best]]
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0

"""Reader for an uncompressed Spark event log.

Spark writes one JSON event per line when ``spark.eventLog.enabled``
is true and ``spark.eventLog.compress`` is false. This module folds
the jobs, stages, tasks and SQL plans of such a log into counters and
attributes every job to the job group it ran under
(``sc.setJobGroup``) and to the innermost traced layer (the local
property :data:`LAYER_PROP` that :mod:`perfbench.spans` sets).
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

LAYER_PROP = "perfbench.layer"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

# Task-level sums kept per stage; names are the counters' own.
TASK_FIELDS = (
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "spill_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "output_rows",
)


@dataclass
class Job:
    group: str | None
    layer: str | None
    execution_id: int | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> number of completed attempts
    stages: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    stage_tasks: dict[int, dict[str, int]] = field(
        default_factory=lambda: defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    )
    # SQL execution id -> the last physical plan Spark reported for it
    plans: dict[int, dict] = field(default_factory=dict)

    @classmethod
    def read(cls, path: str) -> EventLog:
        log = cls()
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                log._fold(json.loads(line))
        return log

    def _fold(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                group=props.get("spark.jobGroup.id"),
                layer=props.get(LAYER_PROP),
                execution_id=int(exec_id) if exec_id is not None else None,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            self.stages[ev["Stage Info"]["Stage ID"]] += 1
        elif kind == "SparkListenerTaskEnd":
            self._fold_task(ev)
        elif kind in (_SQL_START, _SQL_AQE):
            self.plans[ev["executionId"]] = ev["sparkPlanInfo"]

    def _fold_task(self, ev: dict) -> None:
        acc = self.stage_tasks[ev["Stage ID"]]
        acc["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        acc["run_ms"] += m.get("Executor Run Time", 0)
        acc["cpu_ns"] += m.get("Executor CPU Time", 0)
        acc["gc_ms"] += m.get("JVM GC Time", 0)
        acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        inp = m.get("Input Metrics") or {}
        acc["input_bytes"] += inp.get("Bytes Read", 0)
        acc["input_rows"] += inp.get("Records Read", 0)
        out = m.get("Output Metrics") or {}
        acc["output_bytes"] += out.get("Bytes Written", 0)
        acc["output_rows"] += out.get("Records Written", 0)

    def stage_owner(self) -> dict[int, int]:
        """Completed stage id -> the first job that lists it. A stage
        shared by several jobs runs once, in the first of them; later
        jobs skip it."""
        owner: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for sid in self.jobs[job_id].stage_ids:
                if sid in self.stages:
                    owner.setdefault(sid, job_id)
        return owner

    def counters(self, groups: set[str], layer: str | None = None) -> dict[str, int]:
        """Job, stage, task and plan counters over the jobs whose job
        group is in ``groups`` and, if ``layer`` is given, that ran
        inside that layer."""
        jobs = {
            j
            for j, job in self.jobs.items()
            if job.group in groups and (layer is None or job.layer == layer)
        }
        out = dict.fromkeys(TASK_FIELDS, 0)
        out["jobs"] = len(jobs)
        out["stages"] = 0
        for sid, job_id in self.stage_owner().items():
            if job_id in jobs:
                out["stages"] += self.stages[sid]
                for k, v in self.stage_tasks[sid].items():
                    out[k] += v
        execs = {self.jobs[j].execution_id for j in jobs} - {None}
        out.update(plan_counts(self.plans[e] for e in sorted(execs) if e in self.plans))
        return out

    def jobs_by_layer(self, groups: set[str]) -> dict[str | None, int]:
        out: dict[str | None, int] = defaultdict(int)
        for job in self.jobs.values():
            if job.group in groups:
                out[job.layer] += 1
        return dict(out)


def plan_counts(plans) -> dict[str, int]:
    """Exchange, broadcast, cached-scan and Python-eval nodes in the
    final (post-AQE) plans. A reused exchange is not counted again,
    and the plan under a cached relation counts once however often
    it is scanned."""
    counts = {
        "exchanges": 0,
        "broadcast_exchanges": 0,
        "inmemory_scans": 0,
        "python_evals": 0,
    }
    seen_cached: set[str] = set()

    def walk(node: dict) -> None:
        name = node.get("nodeName", "")
        if name == "ReusedExchange":
            return
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "BroadcastExchange":
            counts["broadcast_exchanges"] += 1
        elif _PYTHON_NODE.search(name):
            counts["python_evals"] += 1
        if name == "InMemoryTableScan":
            counts["inmemory_scans"] += 1
            key = json.dumps(node.get("children", []), sort_keys=True)
            if key in seen_cached:
                return
            seen_cached.add(key)
        for child in node.get("children", []):
            walk(child)

    for plan in plans:
        walk(plan)
    return counts

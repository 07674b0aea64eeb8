"""Tracing from outside the engine: spans around each call into a
layer, Catalyst phase times and plan-node counts, and Spark scheduler
and storage metrics read from the Spark driver's own REST API."""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any

SPAN_FIELDS = ("id", "parent", "kind", "name", "start", "end", "duration_s", "attrs")


@dataclass
class Span:
    id: str
    parent: str | None
    kind: str  # workload | setup | pass | op | layer
    name: str
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration_s(self) -> float:
        return self.end - self.start

    def record(self) -> dict[str, Any]:
        rec = asdict(self)
        rec["duration_s"] = self.duration_s
        return rec


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.
    A disabled tracer still times its blocks but keeps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, kind: str, name: str, parent: Span | None = None, **attrs: Any):
        self._next += 1
        sp = Span(f"s{self._next}", parent.id if parent else None, kind, name, time.perf_counter(), attrs=attrs)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self.spans.append(sp)

    def records(self) -> list[dict[str, Any]]:
        return [s.record() for s in self.spans]


# -- Catalyst ---------------------------------------------------------------

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def plan_counts(plan: str) -> dict[str, int]:
    """Operator counts in a physical plan's tree string (the plan of a
    cached relation, printed under its scan, is counted too)."""
    names = Counter(m.group(1) for line in plan.splitlines() if (m := _NODE.match(line)))
    return {
        "exchanges": names["Exchange"],
        "sort_merge_joins": names["SortMergeJoin"],
        "broadcast_joins": names["BroadcastHashJoin"] + names["BroadcastNestedLoopJoin"],
        "python_nodes": sum(n for k, n in names.items() if _PYTHON_NODE.search(k)),
        "inmem_scans": names["InMemoryTableScan"],
    }


def plan_phases(query_execution) -> dict[str, float]:
    """Seconds spent in each Catalyst phase, from the QueryExecution's
    planning tracker (analysis ran when the DataFrame was built)."""
    phases = query_execution.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# -- Spark REST API ------------------------------------------------------------

_MB = 1 << 20


class SparkRest:
    """Read-only client for the Spark driver's monitoring API on localhost."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the status store shows no running job: the REST
        view lags the scheduler by a listener-bus hop."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not self.sc.statusTracker().getActiveJobsIds() and not self.get("/jobs?status=running"):
                return
            time.sleep(0.05)

    def jobs(self) -> list[dict[str, Any]]:
        return self.get("/jobs")

    def stage_metrics(self, job_list: list[dict[str, Any]], stages: list[dict[str, Any]]) -> dict[str, float]:
        """Totals over every stage these jobs ran (``stages`` is the
        ``/stages`` listing; skipped stages ran nothing), including
        per-task scheduler delay."""
        ids = {sid for j in job_list for sid in j["stageIds"]}
        tot = Counter()
        for st in stages:
            if st["stageId"] not in ids or st["status"] in ("SKIPPED", "PENDING"):
                continue
            tot["stages"] += 1
            tot["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            tot["failed_tasks"] += st["numFailedTasks"]
            tot["task_run_s"] += st["executorRunTime"] / 1e3
            tot["task_cpu_s"] += st["executorCpuTime"] / 1e9
            tot["gc_s"] += st["jvmGcTime"] / 1e3
            tot["shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
            tot["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
            tot["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / _MB
            tasks = self.get(f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=100000")
            tot["sched_delay_s"] += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
        return {k: float(tot[k]) for k in (
            "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
            "sched_delay_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}

    def storage(self) -> tuple[float, int]:
        """(resident MB, cached RDD count) from the storage tab."""
        rdds = self.get("/storage/rdd")
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / _MB, len(rdds)

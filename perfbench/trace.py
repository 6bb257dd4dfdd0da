"""Request tracing for the benchmark's traced run.

Spans are recorded around calls the benchmark makes into the engine's
public functions; nothing inside ``opensearch_spark`` is instrumented.
Counts come from Spark's status tracker (jobs, stages and tasks of the
job group the benchmark sets per request), from the executed physical
plan (Exchange nodes, leaf-scan output rows) and from a counter on the
py4j client (commands sent to the JVM).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time
from typing import Dict, List, Optional

SPAN_KEYS = ("id", "name", "rid", "parent", "start", "end", "jobs", "self_ms")


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    only yields, so the untraced run pays one generator per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, rid: Optional[str] = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "jobs": None,  # Spark jobs the span started, where counted
        }
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a child span of the open one."""

        def traced(*args, **kwargs):
            if not self._stack:  # an untraced request of the traced run
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def current_rid(self) -> Optional[str]:
        return self._stack[-1]["rid"] if self._stack else None

    def finish(self) -> List[dict]:
        """Spans ordered by id, each with its self time: its duration
        minus the time its direct children cover."""
        child_ms: Dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child_ms[sp["parent"]] = child_ms.get(sp["parent"], 0.0) + (
                    sp["end"] - sp["start"]
                ) * 1e3
        out = sorted(self.spans, key=lambda s: s["id"])
        for sp in out:
            sp["self_ms"] = (sp["end"] - sp["start"]) * 1e3 - child_ms.get(sp["id"], 0.0)
        return out


def span_ms(sp: dict) -> float:
    return (sp["end"] - sp["start"]) * 1e3


class Py4jCounter:
    """Counts commands sent through the session's py4j client."""

    def __init__(self, sc):
        client = sc._gateway._gateway_client
        self.count = 0
        send = client.send_command

        def counted(*args, **kwargs):
            self.count += 1
            return send(*args, **kwargs)

        client.send_command = counted


class JobGroups:
    """Job, stage and task counts per job group from the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> List[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def counts(self, job_ids) -> Dict[str, int]:
        stages = tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                # a skipped stage (shuffle output reused) runs no task
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def plan_counts(df) -> Dict[str, int]:
    """Exchange nodes and leaf-scan output rows of ``df``'s executed plan.

    Under adaptive execution the final plan is walked; query stages are
    unwrapped so the exchanges and scans inside them are counted."""
    exchanges = scan_rows = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls.endswith("ExchangeExec"):
            exchanges += 1
            if cls == "ReusedExchangeExec":
                continue  # its subtree ran once, where it was first planned
        children = node.children()
        n = children.size()
        if n == 0:
            metrics = node.metrics()
            if metrics.contains("numOutputRows"):
                scan_rows += int(metrics.apply("numOutputRows").value())
        for i in range(n):
            todo.append(children.apply(i))
    return {"exchanges": exchanges, "scan_rows": scan_rows}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total

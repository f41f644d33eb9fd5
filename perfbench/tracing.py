"""Spans recorded around calls into the program, their self times, and the
parser that turns a Spark event log into per-call task/SQL figures.

A span is ``(id, parent, name, trace, start_ns, end_ns)``; ids are local
to one ``Tracer`` and rebased when spans from worker processes are merged.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_FIELDS = ("id", "parent", "name", "trace", "start_ns", "end_ns")


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str = ""):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((sid, parent, name, trace, time.perf_counter_ns(), 0))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[sid]
            self.spans[sid] = s[:5] + (time.perf_counter_ns(),)

    def merge(self, spans: list[tuple]) -> None:
        """Append spans recorded by another Tracer (e.g. in a worker),
        re-parenting their roots under the currently open span."""
        base = len(self.spans)
        outer = self._stack[-1] if self._stack else -1
        for sid, parent, name, trace, start, end in spans:
            self.spans.append(
                (sid + base, parent + base if parent >= 0 else outer, name, trace, start, end)
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": SPAN_FIELDS, "spans": self.spans}, f)


def self_times(spans: list[tuple]) -> dict[int, int]:
    """Span id -> duration minus the part of it that its children cover
    (children's intervals are clipped to the parent and merged, so
    overlapping children, e.g. from parallel workers, count once)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for sid, parent, _n, _t, start, end in spans:
        if parent >= 0:
            kids.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _p, _n, _t, start, end in spans:
        covered = 0
        cur_s = cur_e = None
        for s, e in sorted(kids.get(sid, [])):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def self_by_name(spans: list[tuple]) -> dict[str, float]:
    """Total self time in seconds per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sid, _p, name, *_ in spans:
        out[name] = out.get(name, 0.0) + st[sid] / 1e9
    return out


def durations_ms(spans: list[tuple], name: str) -> list[float]:
    return [(e - s) / 1e6 for _i, _p, n, _t, s, e in spans if n == name]


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (0 for no values)."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * (len(v) - 1)))))]


# --- Spark event log -------------------------------------------------------

CALL_PROPERTY = "perfbench.call"
ARROW_IN = "data sent to Python workers"
ARROW_OUT = "data returned from Python workers"
ROWS_OUT = "number of output rows"
FILES_READ = "size of files read"


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    accums: dict[int, int]  # accumulator id -> this task's update
    named: dict[str, int]  # accumulator name -> this task's update (summed)


@dataclass
class EventLog:
    job_call: dict[int, str] = field(default_factory=dict)  # job id -> call
    job_sql: dict[int, int] = field(default_factory=dict)  # job id -> sql execution id
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    plans: dict[int, list[dict]] = field(default_factory=dict)  # sql id -> every plan version
    driver_accums: dict[int, int] = field(default_factory=dict)  # accumulator id -> summed update

    def jobs(self, call: str) -> list[int]:
        return [j for j, c in self.job_call.items() if c == call]

    def call_tasks(self, call: str) -> list[Task]:
        jobs = set(self.jobs(call))
        return [t for t in self.tasks if self.stage_job.get(t.stage) in jobs]

    def call_sql(self, call: str) -> list[int]:
        return sorted({self.job_sql[j] for j in self.jobs(call) if j in self.job_sql})


def _events(log_dir: str):
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and os.path.basename(p).startswith(("events_", "local-"))),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0),
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = e["Job ID"]
            log.job_call[job] = props.get(CALL_PROPERTY, "")
            if props.get("spark.sql.execution.id") is not None:
                log.job_sql[job] = int(props["spark.sql.execution.id"])
            for s in e["Stage IDs"]:
                log.stage_job[s] = job
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            accums, named = {}, {}
            for a in e["Task Info"].get("Accumulables", []):
                try:
                    upd = int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                accums[a["ID"]] = upd
                named[a.get("Name", "")] = named.get(a.get("Name", ""), 0) + upd
            log.tasks.append(Task(
                stage=e["Stage ID"],
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                accums=accums,
                named=named,
            ))
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            log.plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, upd in e["accumUpdates"]:
                log.driver_accums[acc] = log.driver_accums.get(acc, 0) + upd
    return log


def _plan_nodes(plan: dict):
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(node.get("children", []))


def _below_exchange(node: dict) -> bool:
    return any(
        n is not node and any(k in n["nodeName"] for k in ("Exchange", "ShuffleQueryStage", "AQEShuffleRead"))
        for n in _plan_nodes(node)
    )


def _call_nodes(log: EventLog, call: str):
    for sql in log.call_sql(call):
        for plan in log.plans.get(sql, []):
            yield from _plan_nodes(plan)


def _metric_ids(node: dict, name: str) -> list[int]:
    return [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == name]


def scan_bytes(log: EventLog, call: str, location: str) -> int:
    """Bytes of files the call's parquet scans of ``location`` selected
    (the scan node's driver-side "size of files read"), summed over every
    scan: a call that scans the corpus twice counts it twice."""
    ids = {
        acc
        for node in _call_nodes(log, call)
        if node["nodeName"].startswith("Scan") and location in node.get("metadata", {}).get("Location", "")
        for acc in _metric_ids(node, FILES_READ)
    }
    return sum(log.driver_accums.get(acc, 0) for acc in ids)


def python_map_rows(log: EventLog, call: str) -> dict[str, int]:
    """Rows out of the Python map nodes of one call's queries, split by
    whether the node reads from a shuffle (the mega branch of
    ``route_and_extract`` repartitions before extracting) or straight from
    the scan."""
    out = {"shuffled": 0, "direct": 0}
    ids: dict[int, str] = {}
    for node in _call_nodes(log, call):
        if node["nodeName"] == "MapInPandas":
            for acc in _metric_ids(node, ROWS_OUT):
                ids[acc] = "shuffled" if _below_exchange(node) else "direct"
    for t in log.call_tasks(call):
        for acc, side in ids.items():
            out[side] += t.accums.get(acc, 0)
    return out


def call_summary(log: EventLog, call: str) -> dict:
    """Task and SQL figures for every Spark job one benchmark call ran."""
    tasks = log.call_tasks(call)
    py = [t for t in tasks if t.named.get(ARROW_IN, 0) > 0]
    run_s = [t.run_ms / 1000 for t in py]
    p50 = statistics.median(run_s) if run_s else 0.0
    mx = max(run_s) if run_s else 0.0
    return {
        "spark_jobs": len(log.jobs(call)),
        "tasks": len(tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "arrow_in_mb": sum(t.named.get(ARROW_IN, 0) for t in tasks) / 1e6,
        "arrow_out_mb": sum(t.named.get(ARROW_OUT, 0) for t in tasks) / 1e6,
        "python_tasks": len(py),
        "task_s_p50": p50,
        "task_s_max": mx,
        "straggler_ratio": mx / p50 if p50 else 0.0,
    }

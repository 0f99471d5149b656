"""Pure metric arithmetic: percentiles, interval unions, event-log parsing
and per-layer attribution.  No Spark import, so the rules are unit-tested
on small synthetic inputs (test_stats.py)."""

from __future__ import annotations

import json
import re
import statistics
from collections.abc import Iterable

TAIL_BEYOND = 10


def tail(values: Iterable[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that still has ``TAIL_BEYOND``
    samples above it: ``(value, percentile, n)``.

    With n samples sorted ascending, the sample at 0-based index
    ``n - TAIL_BEYOND - 1`` has exactly ``TAIL_BEYOND`` samples after
    it.  Fewer than ``2 * TAIL_BEYOND + 1`` samples put that index at or
    below the median, so the rule never reports less than the median: a
    short run has no tail it can measure, and says so through the
    percentile."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    med = statistics.median(xs)
    k = n - TAIL_BEYOND - 1
    if k < 0 or xs[k] <= med:
        return med, 50.0, n
    return xs[k], round(100.0 * (k + 1) / n, 2), n


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def covered_by(intervals, windows) -> float:
    """Length of the union of ``intervals`` that lies inside the union of
    ``windows`` (windows of one layer never overlap in a closed loop,
    so clipping to each window and summing is exact)."""
    return sum(union_length(clip(intervals, lo, hi)) for lo, hi in windows)


# -- Spark event log ---------------------------------------------------------


class EventLog:
    """The parts of a Spark event log the per-layer metrics need.

    Job times are epoch seconds (Spark writes milliseconds); task
    durations stay in Spark's units (ms, CPU ns).  Jobs carry their
    job group (set by the benchmark around each call), their SQL
    execution id and their tasks; SQL executions carry the output path
    of any file write in their physical plan; streaming progress events
    carry the per-trigger phase durations."""

    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.sql: dict[int, dict] = {}
        self.progress: list[dict] = []
        self.file_accums: set[int] = set()
        self.sql_files: dict[int, int] = {}

    def add_lines(self, lines: Iterable[str]) -> None:
        """Add the events of a JSON-lines event log."""
        for line in lines:
            if line.strip():
                self.add(json.loads(line))

    def add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            job = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1e3,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "sql": int(sql_id) if sql_id not in (None, "") else None,
                "tasks": [],
            }
            self.jobs[job["id"]] = job
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = job["id"]
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(self.stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics") or {}
            if job is None or not m:
                return
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            job["tasks"].append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0),
                "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[ev["executionId"]] = {
                "write_path": write_path(ev.get("physicalPlanDescription", "")),
            }
            self._file_metrics(ev.get("sparkPlanInfo"))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._file_metrics(ev.get("sparkPlanInfo"))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            exec_id = ev.get("executionId")
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in self.file_accums:
                    self.sql_files[exec_id] = self.sql_files.get(exec_id, 0) + value
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = ev.get("progress") or {}
            self.progress.append({
                "timestamp": p.get("timestamp"),
                "durations": p.get("durationMs") or {},
                "state_rows": sum(
                    s.get("numRowsTotal", 0) for s in p.get("stateOperators") or []
                ),
            })

    def _file_metrics(self, plan: dict | None) -> None:
        """Record the accumulator ids of every scan's "number of files
        read" metric; their driver-side updates give files scanned."""
        stack = [plan] if plan else []
        while stack:
            node = stack.pop()
            for metric in node.get("metrics", []):
                if metric.get("name") == "number of files read":
                    self.file_accums.add(metric["accumulatorId"])
            stack.extend(node.get("children", []))

    def files_read(self, sql_id: int | None) -> int:
        """Files the scans of one SQL execution read."""
        return self.sql_files.get(sql_id, 0)

    def finished_jobs(self) -> list[dict]:
        return [j for j in self.jobs.values() if j["end"] is not None]


_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\n]+)"
)


def write_path(plan_text: str) -> str | None:
    """Output location of a file write in a formatted physical-plan
    description (the ``Arguments:`` of its ``Execute
    InsertIntoHadoopFsRelationCommand`` node), else None."""
    m = _WRITE.search(plan_text)
    return m.group(1).strip() if m else None


def attribute(jobs: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """Assign each job to the innermost span that caused it.

    A job tagged with one of our job groups belongs to that op's span or
    the innermost of its descendants holding the job's submission time.
    An untagged job (one submitted from a thread the group does not
    reach, such as a streaming query's) goes to the innermost span of
    any op holding its submission time: a closed loop runs one call at
    a time, so that span is unique.  Jobs outside every span are left
    out."""
    by_group = {s["group"]: s for s in spans if s.get("group")}
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def innermost(span, t):
        for c in children.get(span["id"], []):
            if c["start"] <= t <= c["end"]:
                return innermost(c, t)
        return span

    out: dict[int, list[dict]] = {}
    for job in jobs:
        t = job["start"]
        span = by_group.get(job.get("group"))
        if span is None:
            roots = [s for s in children.get(None, []) if s["start"] <= t <= s["end"]]
            if not roots:
                continue
            span = roots[0]
        span = innermost(span, t)
        out.setdefault(span["id"], []).append(job)
    return out


def job_summary(jobs: list[dict], time_s: float, windows) -> dict[str, float]:
    """The Q set for one layer: its jobs, their task totals and the
    driver-side time not covered by any of its jobs."""
    tasks = [t for j in jobs for t in j["tasks"]]
    task_s = sum(t["run_ms"] for t in tasks) / 1e3
    busy = covered_by(
        [(j["start"], j["end"]) for j in jobs if j["end"] is not None], windows
    )
    longest = max((t["run_ms"] for t in tasks), default=0) / 1e3
    return {
        "time_s": time_s,
        "jobs": float(len(jobs)),
        "task_s": task_s,
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 2**20,
        "eff_par": task_s / time_s if time_s > 0 else 0.0,
        "driver_gap_s": max(time_s - busy, 0.0),
        "max_task_share": longest / time_s if time_s > 0 else 0.0,
        "busy_s": busy,
    }

"""Per-op layer metrics from a Spark event log.

The traced run writes Spark's own event log (plain JSON lines:
``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and hands this module the wall-clock window of every op it timed. Jobs are
attributed to an op by their ``spark.jobGroup.id`` property (the harness
sets one group per op) and otherwise by submission time inside the op's
window, which catches jobs submitted from threads that do not carry the
group, such as a streaming query's micro-batches. Stages and tasks follow
their job.

Per op this yields the scheduling layer (jobs, stages, tasks, job-busy time
as the union of job intervals, and the driver gap: wall time with no job
running), the executor layer (task run/CPU/GC time, input rows, shuffle,
spill and output bytes) and the Python/Arrow boundary (the SQL metrics that
Python-evaluating operators publish, summed over task updates).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metric name in the event log -> (layer metric, unit kind)
PY_METRICS = {
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.returned_mb",
}
MB = 1024.0 * 1024.0
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class OpWindow:
    """One timed op: its job group and wall-clock window in epoch ms."""

    group: str
    start_ms: float
    end_ms: float


@dataclass
class _Job:
    start_ms: float
    end_ms: float | None
    group: str | None
    op: int | None = None


@dataclass
class OpLayers:
    """Layer metrics of one op."""

    wall_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_busy_s: float = 0.0
    exec: dict = field(default_factory=dict)
    py: dict = field(default_factory=dict)

    @property
    def gap_s(self) -> float:
        return max(0.0, self.wall_s - self.job_busy_s)


EXEC_KEYS = (
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.input_rows",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.output_mb",
)


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _task_exec(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "exec.run_s": tm.get("Executor Run Time", 0) / 1e3,
        "exec.cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "exec.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "exec.input_rows": tm.get("Input Metrics", {}).get("Records Read", 0),
        "exec.shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        )
        / MB,
        "exec.shuffle_write_mb": tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        / MB,
        "exec.spill_mb": tm.get("Disk Bytes Spilled", 0) / MB,
        "exec.output_mb": tm.get("Output Metrics", {}).get("Bytes Written", 0) / MB,
    }


def _py_value(kind: str, metric_type: str, update: float) -> float:
    if kind.endswith("_mb"):
        return update / MB
    if metric_type == "nsTiming":
        return update / 1e9
    return update / 1e3  # "timing" metrics are milliseconds


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        kind = PY_METRICS.get(m.get("name"))
        if kind:
            out[int(m["accumulatorId"])] = (kind, m.get("metricType", "timing"))
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def op_layers(events: list[dict], windows: list[OpWindow]) -> list[OpLayers]:
    """Layer metrics for each window, in the order given."""
    by_group = {w.group: i for i, w in enumerate(windows)}
    ops = [OpLayers(wall_s=(w.end_ms - w.start_ms) / 1e3) for w in windows]
    for o in ops:
        o.exec = dict.fromkeys(EXEC_KEYS, 0.0)
        o.py = dict.fromkeys(PY_METRICS.values(), 0.0)

    def window_of(t_ms: float) -> int | None:
        for i, w in enumerate(windows):
            if w.start_ms <= t_ms <= w.end_ms:
                return i
        return None

    jobs: dict[int, _Job] = {}
    stage_job: dict[int, int] = {}
    py_accs: dict[int, tuple[str, str]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = _Job(e["Submission Time"], None, props.get("spark.jobGroup.id"))
            job.op = by_group.get(job.group)
            if job.op is None:
                job.op = window_of(job.start_ms)
            jobs[e["Job ID"]] = job
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind in _SQL_PLAN_EVENTS:
            _plan_metrics(e.get("sparkPlanInfo", {}), py_accs)
        elif kind == "SparkListenerStageSubmitted":
            op = _op_of_stage(e["Stage Info"]["Stage ID"], stage_job, jobs)
            if op is not None:
                ops[op].stages += 1
        elif kind == "SparkListenerTaskEnd":
            op = _op_of_stage(e["Stage ID"], stage_job, jobs)
            if op is None:
                continue
            o = ops[op]
            o.tasks += 1
            for k, v in _task_exec(e.get("Task Metrics") or {}).items():
                o.exec[k] += v
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                hit = py_accs.get(acc.get("ID"))
                if hit and acc.get("Update") is not None:
                    o.py[hit[0]] += _py_value(hit[0], hit[1], float(acc["Update"]))

    spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    for job in jobs.values():
        if job.op is None:
            continue
        w = windows[job.op]
        ops[job.op].jobs += 1
        # a job with no end event ran until its op's window closed
        end = job.end_ms if job.end_ms is not None else w.end_ms
        spans[job.op].append((max(job.start_ms, w.start_ms), min(end, w.end_ms)))
    for o, s in zip(ops, spans):
        o.job_busy_s = union_length(s) / 1e3
    return ops


def _op_of_stage(stage_id: int, stage_job: dict[int, int], jobs: dict[int, _Job]):
    job = jobs.get(stage_job.get(stage_id))
    return job.op if job else None


def summarize(ops: list[OpLayers], cores: int, passes: int) -> dict[str, float]:
    """Per-pass scheduling, driver, executor and Python-boundary metrics."""
    per = 1.0 / max(1, passes)
    wall = sum(o.wall_s for o in ops)
    busy = sum(o.job_busy_s for o in ops)
    gap = sum(o.gap_s for o in ops)
    out = {
        "sched.jobs": sum(o.jobs for o in ops) * per,
        "sched.stages": sum(o.stages for o in ops) * per,
        "sched.tasks": sum(o.tasks for o in ops) * per,
        "sched.job_busy_s": busy * per,
        "driver.gap_s": gap * per,
        "driver.gap_share": gap / wall if wall else 0.0,
    }
    for k in EXEC_KEYS:
        out[k] = sum(o.exec[k] for o in ops) * per
    cpu = sum(o.exec["exec.cpu_s"] for o in ops)
    out["exec.cpu_util"] = cpu / (busy * cores) if busy else 0.0
    for k in PY_METRICS.values():
        out[k] = sum(o.py[k] for o in ops) * per
    return out

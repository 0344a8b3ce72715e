"""spark-graft benchmark: closed-loop workloads, one client, one process.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 --seconds 26 --trace 0

Workloads: ``catalog_sf0.1``, ``catalog_sf1``, ``ann_stream_sf1`` (see
perfbench/README.md). The run sets the engine up (``setup_s`` counts from
process start to the end of the first job), runs one warm-up pass of the
workload's ops on small inputs, then the whole number of measured passes
(at least one) that comes closest to ``--seconds``, one op after the other,
checks every result, and prints two lines on stdout: a record of what ran
(versions, cores, seed choices, per-op timings, checks) and, last, the
result ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the session also writes Spark's event log, the returned plans' Catalyst
phase times are read, and the metrics are the per-layer ones; the record
line then carries the traced run's end-to-end values too, so the tracing
overhead is the difference to an untraced run (``perfbench/overhead.py``).

Inputs are the tables under ``perfbench/inputs`` and the sf1 replica that
``data.py`` builds once per checkout under ``.bench_build/perfbench``; all
scratch files of a run live there as well and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np
import pandas as pd

import data
import eventlog
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_s": "s",
    "peak_rss_mb": "MB",
}
# Per-layer metrics of the traced run, per measured pass (see README.md).
PER_LAYER = {
    "session.build_s": "s",
    "queries.fn_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.job_busy_s": "s",
    "driver.gap_s": "s",
    "driver.gap_share": "ratio",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_rows": "count",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.output_mb": "MB",
    "exec.cpu_util": "ratio",
    "py.init_s": "s",
    "py.run_s": "s",
    "py.sent_mb": "MB",
    "py.returned_mb": "MB",
}
CATALYST = ("analysis", "optimization", "planning")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _gateway_proc():
    """The JVM process PySpark launched, or None."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _stop_engine(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (the Python worker daemons) have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    proc = _gateway_proc()
    if proc is None:
        return
    pids = _descendants(proc.pid)
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _tail(values: list[float]) -> dict:
    """The highest percentile, up to p90, with at least ten samples beyond it."""
    n = len(values)
    q = min(0.9, 1.0 - 10.0 / n) if n else 0.0
    if q < 0.5:
        return {"n": n, "percentile": None, "value_s": None}
    return {"n": n, "percentile": round(100 * q, 1), "value_s": float(np.quantile(values, q))}


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    """sha256 over the package's .py files: identifies the code when the
    checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "postgres_etl_pipeline_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


class Harness:
    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.cores = _cores()
        self.records: list[dict] = []

    # -- session ---------------------------------------------------------
    def session_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp} "
                "-XX:-UsePerfData"
            ),
        }
        if self.args.trace:
            logdir = os.path.join(self.tmp, "eventlog")
            os.makedirs(logdir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + logdir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def build_session(self):
        from postgres_etl_pipeline_spark.session import build_session

        return build_session(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.session_conf(),
        )

    def check_engine(self, spark) -> None:
        """Check that the session runs a job. Warming the engine further
        (compiling its hot paths, starting the Python workers) is left to
        the workload's own ops."""
        n = spark.range(self.cores).count()
        if n != self.cores:
            raise RuntimeError(f"engine check counted {n} rows, expected {self.cores}")

    # -- ops -------------------------------------------------------------
    def run_op(self, spark, op, pass_index: int) -> None:
        from pyspark.sql import DataFrame

        group = f"op{len(self.records)}"
        sc = spark.sparkContext
        sc.setJobGroup(group, op.name)
        rec = {"op": op.name, "kind": op.kind, "pass": pass_index, "group": group}
        t0 = time.time()
        p0 = time.perf_counter()
        result = None
        try:
            ret = op.call()
            rec["call_s"] = time.perf_counter() - p0
            result = ret.toPandas() if isinstance(ret, DataFrame) else ret
        except Exception:  # an op that raises is counted as failed, run goes on
            rec["error"] = traceback.format_exc(limit=3)
            traceback.print_exc()
        rec["dur_s"] = time.perf_counter() - p0
        rec.setdefault("call_s", rec["dur_s"])
        rec["start_ms"], rec["end_ms"] = t0 * 1e3, time.time() * 1e3
        if self.args.trace and isinstance(result, pd.DataFrame):
            rec["phases_ms"] = _catalyst_phases(ret)
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["rows_written"] = op.rows_written if "error" not in rec else 0
        rec["_result"], rec["_check"] = result, op.check
        self.records.append(rec)

    def check_results(self) -> None:
        for rec in self.records:
            result, check = rec.pop("_result"), rec.pop("_check")
            if "error" in rec or check is None:
                continue
            try:
                why = check(result)
            except Exception:
                why = traceback.format_exc(limit=3)
            if why:
                rec["check_failed"] = why
                print(f"check failed: {rec['op']}: {why}", file=sys.stderr)


def _catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations recorded on a DataFrame's query execution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def end_to_end(records: list[dict]) -> dict:
    ok = [r for r in records if "error" not in r and "check_failed" not in r]
    durs = [r["dur_s"] for r in records]
    reads = [r["dur_s"] for r in records if r["kind"] == "read"]
    return {
        "ops_per_s": len(ok) / sum(durs),
        "read_p50_s": statistics.median(reads),
    }


def layer_metrics(
    h: Harness, records: list[dict], logdir: str, build_s: float, passes: int
) -> tuple[dict, dict]:
    (log,) = os.listdir(logdir)  # one session per run
    events = eventlog.read_events(os.path.join(logdir, log))
    windows = [eventlog.OpWindow(r["group"], r["start_ms"], r["end_ms"]) for r in records]
    ops = eventlog.op_layers(events, windows)
    per = 1.0 / passes
    out = {
        "session.build_s": build_s,
        "queries.fn_s": sum(r["call_s"] for r in records) * per,
    }
    for phase in CATALYST:
        out[f"catalyst.{phase}_ms"] = (
            sum(r.get("phases_ms", {}).get(phase, 0.0) for r in records) * per
        )
    out.update(eventlog.summarize(ops, h.cores, passes))
    detail = {
        "per_op": [
            {
                "op": r["op"],
                "wall_s": o.wall_s,
                "jobs": o.jobs,
                "job_busy_s": o.job_busy_s,
                "gap_s": o.gap_s,
                "exec_run_s": o.exec["exec.run_s"],
            }
            for r, o in zip(records, ops)
        ],
        "streaming": streaming_progress(events, windows, passes),
    }
    return out, detail


def streaming_progress(events: list[dict], windows, passes: int) -> dict:
    """Micro-batch progress inside the measured op windows, from the
    QueryProgressEvent records that Spark's listener bus also writes to the
    event log (what a StreamingQueryListener receives)."""
    from datetime import datetime

    batches = []
    for e in events:
        if not e.get("Event", "").endswith("StreamingQueryListener$QueryProgressEvent"):
            continue
        p = e.get("progress", {})
        t_ms = datetime.fromisoformat(p["timestamp"]).timestamp() * 1e3
        if not any(w.start_ms <= t_ms <= w.end_ms for w in windows):
            continue
        rows = sum(src.get("numInputRows", 0) for src in p.get("sources", ()))
        batches.append((rows, p.get("durationMs", {}).get("triggerExecution", 0) / 1e3))
    if not batches:
        return {}
    secs = sum(b[1] for b in batches)
    return {
        "streaming.batches": len(batches) / passes,
        "streaming.batch_p50_s": statistics.median(b[1] for b in batches),
        "streaming.rows_per_s": sum(b[0] for b in batches) / secs if secs else 0.0,
    }


def op_kind_detail(records: list[dict]) -> dict:
    """Per op name: count and total seconds; plus write throughput."""
    out: dict = {}
    for r in records:
        d = out.setdefault(r["op"], {"n": 0, "total_s": 0.0})
        d["n"] += 1
        d["total_s"] += r["dur_s"]
    writes = [r for r in records if r["rows_written"]]
    if writes:
        out["ingest_rows_per_s"] = sum(r["rows_written"] for r in writes) / sum(
            r["dur_s"] for r in writes
        )
    return out


def run(args) -> tuple[dict, dict]:
    age = _process_age_s()
    p_start = time.perf_counter() - age
    tmp = os.path.join(CACHE, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    import tempfile

    tempfile.tempdir = None  # pick up TMPDIR
    sys.path.insert(0, ROOT)
    try:
        return _run(args, tmp, p_start)
    finally:
        from pyspark.sql import SparkSession

        _stop_engine(SparkSession.getActiveSession())
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: str, p_start: float) -> tuple[dict, dict]:
    import postgres_etl_pipeline_spark  # noqa: F401  (fail fast without the package)

    h = Harness(args, tmp)
    digest = data.inputs_digest()
    # building sf1 (first run in a checkout only) is kept off the set-up clock
    tb = time.perf_counter()
    dirs = data.ensure_inputs(ROOT, CACHE, digest)
    inputs_build_s = time.perf_counter() - tb
    wl = workloads.make(args.workload, dirs, CACHE, ROOT, digest)
    data.verify(wl.sf_dir, wl.sf)
    process_s = time.perf_counter() - p_start - inputs_build_s
    t0 = time.perf_counter()
    spark = h.build_session()  # launches the JVM
    build_s = time.perf_counter() - t0
    h.check_engine(spark)
    setup_s = time.perf_counter() - p_start - inputs_build_s
    workdir = os.path.join(tmp, "work")
    os.makedirs(workdir)
    wl.start(spark, workdir)

    # a warm-up pass on small inputs (results checked, timings not used): a
    # fresh JVM compiles its hot paths during its first tens of seconds; left
    # in the measured passes, that cost lands on whichever catalog ops the
    # seed put first, and it makes the ANN cycle's times swing with the load
    # on the host
    for op in wl.make_pass(args.seed, 0, warm=True).ops:
        h.run_op(spark, op, -1)
    passes: list[dict] = []
    m0 = time.perf_counter()
    while True:
        pass_t0 = time.perf_counter()
        ps = wl.make_pass(args.seed, 1 + len(passes))
        for op in ps.ops:
            h.run_op(spark, op, len(passes))
        passes.append({"choices": ps.choices, "wall_s": time.perf_counter() - pass_t0})
        # the whole number of passes closest to --seconds: a pass that would
        # end past it by more than half a pass is not started
        elapsed = time.perf_counter() - m0
        if elapsed + elapsed / len(passes) / 2 >= args.seconds:
            break
    wall = time.perf_counter() - m0

    h.check_results()
    try:
        final = wl.final_checks()
    except Exception:
        final = [traceback.format_exc(limit=3)]
    if final:
        # the final exactness check belongs to the last search of the run
        last = [r for r in h.records if r["kind"] == "read"][-1]
        last.setdefault("check_failed", "; ".join(final))

    jvm = _gateway_proc()
    hwm_kb = {"python": _vm_hwm_kb("self"), "jvm": _vm_hwm_kb(jvm.pid) if jvm else 0}
    peak_kb = sum(hwm_kb.values())
    e2e = {"setup_s": setup_s}
    measured = [r for r in h.records if r["pass"] >= 0]
    e2e.update(end_to_end(measured))
    e2e["peak_rss_mb"] = peak_kb / 1024.0
    durs = [r["dur_s"] for r in measured]

    import pyspark

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": h.cores,
        "spark_cores": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "sf": wl.sf,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
        "inputs_sha256": digest,
    }
    failed = [r for r in h.records if "error" in r or "check_failed" in r]
    detail = {
        "setup_process_s": process_s,
        "session_build_s": build_s,
        "inputs_build_s": inputs_build_s,
        "peak_rss_mb": {k: v / 1024.0 for k, v in hwm_kb.items()},
        "passes": passes,
        "measured_s": wall,
        "ops": [
            {k: r[k] for k in ("op", "pass", "dur_s", "call_s")}
            | ({"failed": r.get("error") or r["check_failed"]} if r in failed else {})
            for r in h.records
        ],
        "failed_ratio": len(failed) / len(h.records),
        "op_p50_s": statistics.median(durs),
        "op_tail": _tail(durs),
        "read_tail": _tail([r["dur_s"] for r in measured if r["kind"] == "read"]),
        "by_op": op_kind_detail(measured),
    }
    if args.trace:
        detail["end_to_end_traced"] = e2e
        spark.stop()  # flushes the event log
        metrics, layers = layer_metrics(
            h, measured, os.path.join(tmp, "eventlog"), build_s, len(passes)
        )
        layers["untracked"] = {k: v for k, v in metrics.items() if k not in PER_LAYER}
        detail["layers"] = layers
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {
        "correct": not failed,
        "attempted": len(h.records),
        "failed": len(failed),
        "metrics": out,
    }
    return {"meta": meta, "detail": detail}, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # stdout carries only the two result lines: everything else the run,
    # Spark or the JVM print goes to stderr
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    record, result = run(args)
    line = json.dumps(record, default=str) + "\n" + json.dumps(result) + "\n"
    os.write(real_stdout, line.encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())

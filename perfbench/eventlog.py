"""Spark's own event log, switched on from outside the engine, parsed into
per-window layer totals (the per-layer ledger).

The logger is attached to the running SparkContext only for the traced
passes, so one process can time the same passes with and without it.
``zstandard`` is not installed, so the log is written uncompressed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 2**20

# Python SQL metrics as Spark 4 names them in task accumulables.
PY_TIME = "time to run Python workers"  # milliseconds
PY_SENT = "data sent to Python workers"  # bytes
PY_RECV = "data returned from Python workers"  # bytes
WRITTEN_FILES = "number of written files"


class EventLog:
    """An EventLoggingListener added to a live context; ``close`` detaches
    it and returns the parsed events."""

    def __init__(self, spark, directory: str):
        os.makedirs(directory, exist_ok=True)
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        jvm = sc._jvm
        conf = self._jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        self.directory = directory
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._jsc.applicationId(),
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(directory)}"),
            conf,
            self._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def close(self) -> list[dict]:
        # The listener bus is asynchronous: drain it before detaching.
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        events = []
        for path in sorted(glob.glob(os.path.join(self.directory, "*"))):
            if os.path.isfile(path) and not os.path.basename(path).startswith("."):
                with open(path) as f:
                    events.extend(json.loads(line) for line in f if line.strip())
        return events


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def _empty() -> dict[str, float]:
    return dict.fromkeys(
        [
            "jobs", "stages", "tasks", "task_run_s", "jvm_cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
            "output_mb", "output_files", "py_worker_s", "py_sent_mb", "py_recv_mb",
        ],
        0.0,
    )


def ledger(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Totals of Spark work per ``(t0, t1)`` window (epoch seconds).  Jobs
    and stages belong to the window holding their submission time; tasks
    follow their stage; driver-side SQL metric updates follow the SQL
    execution that posted them."""
    out = [_empty() for _ in windows]

    def where(ms: float | None) -> int | None:
        if ms is None:
            return None
        for i, (t0, t1) in enumerate(windows):
            if t0 * 1000 <= ms <= t1 * 1000:
                return i
        return None

    stage_win: dict[int, int] = {}
    exec_win: dict[int, int] = {}
    names: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            i = where(e.get("Submission Time"))
            if i is not None:
                out[i]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            i = where(info.get("Submission Time"))
            if i is not None:
                stage_win[info["Stage ID"]] = i
                out[i]["stages"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _plan_metric_names(e.get("sparkPlanInfo", {}), names)
            i = where(e.get("time"))
            if i is not None:
                exec_win[e["executionId"]] = i
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e.get("sparkPlanInfo", {}), names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            i = exec_win.get(e.get("executionId"))
            if i is not None:
                for acc_id, value in e.get("accumUpdates", []):
                    if names.get(acc_id) == WRITTEN_FILES:
                        out[i]["output_files"] += float(value)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        i = stage_win.get(e["Stage ID"])
        if i is None:
            continue
        w, m = out[i], e.get("Task Metrics") or {}
        w["tasks"] += 1
        w["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        w["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        w["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        w["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        sw = m.get("Shuffle Write Metrics", {})
        w["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        sr = m.get("Shuffle Read Metrics", {})
        w["shuffle_read_mb"] += (
            sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        ) / MB
        w["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
        w["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
        for acc in e["Task Info"].get("Accumulables", []):
            name = acc.get("Name")
            if name not in (PY_TIME, PY_SENT, PY_RECV, WRITTEN_FILES):
                continue
            # SQL metric updates are logged as strings, internal ones as numbers.
            upd = float(acc.get("Update", 0))
            if name == PY_TIME:
                w["py_worker_s"] += upd / 1e3
            elif name == PY_SENT:
                w["py_sent_mb"] += upd / MB
            elif name == PY_RECV:
                w["py_recv_mb"] += upd / MB
            elif name == WRITTEN_FILES:
                w["output_files"] += upd
    return out


def jobs_by_group(events: list[dict]) -> dict[str, int]:
    """Spark jobs per job group (the traced batch passes tag each job with
    its query's name)."""
    out: dict[str, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                out[group] = out.get(group, 0) + 1
    return out


def layer_metrics(led: list[dict], walls: list[float]) -> dict[str, float]:
    """Median over passes of the Spark, Python and sources layer totals."""
    med = statistics.median
    cores = len(os.sched_getaffinity(0))

    def m(key: str) -> float:
        return med([w[key] for w in led])

    return {
        "spark.jobs": m("jobs"),
        "spark.stages": m("stages"),
        "spark.tasks": m("tasks"),
        "spark.task_run_s": m("task_run_s"),
        "spark.jvm_cpu_s": m("jvm_cpu_s"),
        "spark.gc_s": m("gc_s"),
        "spark.core_util": med(
            [w["task_run_s"] / (t * cores) for w, t in zip(led, walls)]
        ),
        "spark.shuffle_write_mb": m("shuffle_write_mb"),
        "spark.shuffle_read_mb": m("shuffle_read_mb"),
        "spark.spill_mb": m("spill_mb"),
        "python.worker_s": m("py_worker_s"),
        "python.arrow_sent_mb": m("py_sent_mb"),
        "python.arrow_recv_mb": m("py_recv_mb"),
        "sources.input_mb": m("input_mb"),
        "sources.output_mb": m("output_mb"),
        "sources.output_files": m("output_files"),
    }

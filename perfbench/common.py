"""Shared plumbing: the run's scratch directory, the host-speed
calibration, spans, RSS sampling, percentiles and an orderly Spark
shutdown.

Everything the benchmark writes lives under ``perfbench/.work/`` (deleted
when the run ends) or ``perfbench/out/`` (the traced run's ledger).
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
FIXTURES = os.path.join(BENCH_DIR, "fixtures")
OUT_DIR = os.path.join(BENCH_DIR, "out")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every temp, spill and warehouse path at ``work`` and make the
    engine importable from Spark's Python workers.  Must run before
    pyspark is imported: the JVM reads these at launch."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Without the repo root on PYTHONPATH, Python workers cannot unpickle
    # engine closures (ModuleNotFoundError) when run outside the root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={work}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # The traced run attributes every job of a pass; keep them all.
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def host_speed_s(samples: int = 5) -> list[float]:
    """Seconds the host takes, ``samples`` times over, for a fixed numpy
    workload on every core (chains of 300x300 matrix products; numpy
    releases the GIL, so the threads run in parallel).  Taken while no
    engine process runs, it follows how fast the shared host is right now."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    a = np.random.default_rng(0).random((300, 300))

    def chain(_):
        x = a
        for _ in range(20):
            x = (x @ a) / 300.0
        return x

    out = []
    with ThreadPoolExecutor(cpu_count()) as ex:
        for _ in range(samples):
            t = time.perf_counter()
            list(ex.map(chain, range(2 * cpu_count())))
            out.append(time.perf_counter() - t)
    return out


def end_to_end(walls: list[float], latencies: list[float]) -> dict[str, float]:
    """The timed part's end-to-end metrics: the median pass wall time, and
    the median and upper quartile (linear interpolation) of the per-query
    or per-micro-batch latencies."""
    if len(latencies) > 1:
        q = statistics.quantiles(latencies, n=4, method="inclusive")
    else:
        q = latencies * 3
    return {"wall_s": statistics.median(walls), "query_s_p50": q[1], "query_s_p75": q[2]}


class Tracer:
    """In-memory spans: name, layer, start, end, parent.  Durations are
    always measured (the workloads need them); spans are kept only while
    tracing is on (not ``paused``), and written out once at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {"name": name, "layer": layer, **attrs}
        parent = self._stack[-1] if self._stack else None
        rec["id"], rec["parent"] = len(self.spans), parent
        kept = self.enabled
        if kept:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = rec["t0"] + rec["dur"]
            if kept:
                self._stack.pop()

    @contextmanager
    def paused(self):
        """Keep no spans and run no tracing hooks inside this block: the
        untraced passes a traced run compares itself with."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def add(self, name: str, layer: str, t0: float, dur: float, parent: int | None,
            **attrs) -> int | None:
        """Record a span measured elsewhere (a micro-batch, its phases)."""
        if not self.enabled:
            return None
        rec = {"name": name, "layer": layer, "id": len(self.spans), "parent": parent,
               "t0": t0, "t1": t0 + dur, "dur": dur, **attrs}
        self.spans.append(rec)
        return rec["id"]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(s["dur"] - c, 0.0)
        return out


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, whichever of its threads forked them."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants, from /proc
    (psutil is not available).  Proportional set size, so the pages forked
    Python workers share with their daemon are counted once."""
    kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return kb / 1024


class RssSampler(threading.Thread):
    """Samples the process tree's RSS and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak_mb = interval, 0.0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    child process (JVM, Python worker daemon) has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (kids := _children(os.getpid())) and time.time() < deadline:
        for k in kids:
            try:
                os.waitpid(k, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for k in _children(os.getpid()):
        os.kill(k, 9)
        try:
            os.waitpid(k, 0)
        except ChildProcessError:
            pass


def remove_tree(path: str) -> None:
    """Delete ``path``, then its parent if that is left empty."""
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(path))
    except OSError:
        pass  # not empty: another run is using it

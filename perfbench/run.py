"""flumeline benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload batch_relational --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  llm_pipeline      LLM-data registry queries (CEP, export round-trip, graph)
  stream_stateful   a seeded event backlog drained through three stateful jobs
  batch_relational  relational registry queries: the JVM-bound bypass for
                    Python-worker changes.  Not in BENCHMARK.json (its runs
                    do not fit the benchmark's time budget beside the other
                    two); run it by hand when a change needs its bypass check.

``--trace 0`` prints the end-to-end metrics, scaled to a nominal host
(see ``REF_HOST_S``; the measured times are printed on stderr beside them).  ``--trace 1`` repeats the
timed part with Spark's event log attached and spans kept, prints the
per-layer metrics, and writes the spans and the ledger to
``perfbench/out/``.  Outputs are checked in both modes; every failed check
or exception counts in ``failed``.  The last stdout line is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("batch_relational", "llm_pipeline", "stream_stateful")
STREAM_JOBS = ("tumble", "keyed", "rjoin")

END_TO_END = ["setup_s", "wall_s", "query_s_p50", "query_s_p75"]
UNITS = {"setup_s": "s", "wall_s": "s", "query_s_p50": "s", "query_s_p75": "s"}

# End-to-end times are reported for a nominal host on which
# ``common.host_speed_s`` takes REF_HOST_S: each measured time is scaled by
# REF_HOST_S over the median calibration of its run.  The calibration runs
# before the engine starts and after it has stopped, so the engine cannot
# move it.  Hosts that share their cores with other machines drift in speed
# by up to 2x over minutes; the calibration follows that drift, and runs of
# one program agree several times closer after scaling.
REF_HOST_S = 0.25


# The end-to-end metric (and workload) each per-layer metric should move;
# a later change that claims a gain names both.  Keys are name prefixes.
MOVES = {
    "session.": "setup_s on every workload",
    "queries.": "wall_s and query_s_p75, mostly on llm_pipeline",
    "spark.jobs": "wall_s on llm_pipeline",
    "spark.stages": "wall_s on llm_pipeline",
    "spark.tasks": "wall_s on llm_pipeline",
    "spark.task_run_s": "query_s_p50 and wall_s on llm_pipeline and stream_stateful",
    "spark.jvm_cpu_s": "query_s_p50 and wall_s on llm_pipeline and stream_stateful",
    "spark.gc_s": "query_s_p50 and wall_s on llm_pipeline and stream_stateful",
    "spark.core_util": "query_s_p50 and wall_s on llm_pipeline and stream_stateful",
    "spark.shuffle": "query_s_p75 on llm_pipeline (q_k_core) and stream_stateful",
    "spark.spill_mb": "query_s_p75 on llm_pipeline and stream_stateful",
    "python.": "wall_s on llm_pipeline; query_s_p75 and wall_s on stream_stateful",
    "sources.": "wall_s on llm_pipeline",
    "streaming.": "wall_s, query_s_p50 and query_s_p75 on stream_stateful",
    "process.": "none: memory, reported so that work moved into memory shows",
    "trace.": "none: the cost of tracing itself",
    "host.": "none: the host's speed during the run, which scales the end-to-end times",
    "query.": "query_s_p50 and query_s_p75 on the workload that runs the query",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit; each workload prints all of
    them, with 0 for a layer it does not run."""
    from perfbench.batch import LLM

    names = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "queries.spark_fn_s": "s",
        "queries.action_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_run_s": "s",
        "spark.jvm_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.core_util": "ratio",
        "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB",
        "python.worker_s": "s",
        "python.arrow_sent_mb": "MB",
        "python.arrow_recv_mb": "MB",
        "sources.input_mb": "MB",
        "sources.output_mb": "MB",
        "sources.output_files": "count",
        "streaming.events_per_s": "1/s",
        "process.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        "host.speed_s": "s",
    }
    for j in STREAM_JOBS:
        p = f"streaming.{j}."
        names.update({
            p + "batch_ms_p50": "ms",
            p + "add_batch_ms_p50": "ms",
            p + "plan_ms_p50": "ms",
            p + "commit_ms_p50": "ms",
            p + "events_per_s": "1/s",
            p + "state_rows": "count",
            p + "state_mb": "MB",
            p + "state_commit_ms": "partition-ms",
            p + "dropped_late": "count",
            p + "growth": "ratio",
            p + "speedup_vs_1core": "ratio",
        })
    names["streaming.rjoin.state_files"] = "count"
    names["streaming.rjoin.sink_s"] = "s"
    for q in LLM:
        names[f"query.{q}.s"] = "s"
    return names


class Context:
    """What a workload needs: the session, the tracer, its inputs, and the
    attempted/failed counters behind ``failed``."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.fixtures = common.FIXTURES
        self.attempted = self.failed = 0

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        print(f"# FAILED {what}: {type(exc).__name__}: {exc}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    # Stopped from outside: still stop Spark and delete the scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    host = common.host_speed_s()  # before any engine process starts
    t_start = time.perf_counter()
    work = os.path.join(common.BENCH_DIR, ".work", f"run-{os.getpid()}")
    common.prepare_env(work)
    tracer = common.Tracer(trace)
    # Only the traced run reports memory; sampling /proc would add noise
    # to the end-to-end timings.
    rss = common.RssSampler() if trace else None
    if rss is not None:
        rss.start()
    spark = ctx = None
    try:
        with tracer.span("run", "run", workload=args.workload, seed=args.seed):
            with tracer.span("session.start", "session"):
                from my_flink_1_10_2_spark.session import get_spark

                spark = get_spark(app_name=f"perfbench-{args.workload}")
                spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t_start
            ctx = Context(spark, tracer, args.seed, work)
            with tracer.span(args.workload, "workload"):
                if args.workload == "stream_stateful":
                    from perfbench.stream import StreamWorkload

                    wl = StreamWorkload(ctx)
                else:
                    from perfbench.batch import BatchWorkload

                    wl = BatchWorkload(ctx, args.workload)
                warm = wl.warmup()
                e2e, layers, details = wl.measure(args.seconds, trace)
    finally:
        if ctx is not None:
            spark = ctx.spark  # the stream workload may have restarted it
        if spark is not None:
            common.stop_spark(spark)
        peak = rss.stop() if rss is not None else 0.0
        common.remove_tree(work)

    host_s = median(host + common.host_speed_s())  # every engine process has ended
    e2e["setup_s"] = start_s + warm
    measured, scale = dict(e2e), REF_HOST_S / host_s
    e2e = {n: v * scale for n, v in e2e.items()}
    if trace:
        layers.update({"session.start_s": start_s, "session.warmup_s": warm,
                       "process.peak_rss_mb": peak, "host.speed_s": host_s})
        units = per_layer_names()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
        os.makedirs(common.OUT_DIR, exist_ok=True)
        out = os.path.join(common.OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "end_to_end": e2e,
                    "end_to_end_measured": measured,
                    "moves": MOVES,
                    "self_time_s": tracer.self_times(),
                    **details,
                    "spans": tracer.spans,
                },
                f,
                indent=1,
                default=str,
            )
        print(f"# spans and ledger written to {os.path.relpath(out, common.ROOT)}", file=sys.stderr)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": UNITS[n]} for n in END_TO_END}
    for n, m in metrics.items():
        print(f"# {args.workload} {n} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"# measured {measured}, host_speed_s {host_s:.4f}", file=sys.stderr)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

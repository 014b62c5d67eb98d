"""Per-query profiler for optimization work (guide §1).

For each named query: warm-run once, then time a noop-sink run while
counting Spark jobs/stages/tasks via the status tracker, and write
``.explain("formatted")`` to plans/<tag>/<name>_<suffix>.txt.
``pinned`` is the number of persistent RDDs the first run leaves behind
(blocks an operator failed to release), counted before the cleanup.

Usage:
  python tools/profile_query.py [--sf DIR] [--runs N] [--plans TAG:SUFFIX] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="TAG:SUFFIX, e.g. r11:before")
    args = ap.parse_args()

    from my_flink_1_10_2_spark.queries import all_queries
    from my_flink_1_10_2_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()

    # warm JVM + python workers, same as bench.py
    reg["q_full_sort"].spark_fn(spark, args.sf).count()
    spark.range(1000).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def cleanup() -> None:
        for r in list(sc._jsc.getPersistentRDDs().values()):
            r.unpersist()
        spark.catalog.clearCache()

    cleanup()  # the warm-up's pins must not count as the first query's

    out = {}
    for name in args.queries:
        q = reg[name]
        if args.plans:
            tag, suffix = args.plans.split(":")
            plan_dir = os.path.join(_REPO, "plans", tag)
            os.makedirs(plan_dir, exist_ok=True)
            df = q.spark_fn(spark, args.sf)
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(
                    df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    )
                )
            cleanup()
        samples = []
        jobs = stages = tasks = pinned = 0
        for r in range(args.runs):
            group = f"prof_{name}_{r}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            q.spark_fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            job_ids = tracker.getJobIdsForGroup(group)
            if r == 0:
                pinned = len(sc._jsc.getPersistentRDDs())
                jobs = len(job_ids)
                for j in job_ids:
                    ji = tracker.getJobInfo(j)
                    if ji is None:
                        continue
                    stages += len(ji.stageIds)
                    for s in ji.stageIds:
                        si = tracker.getStageInfo(s)
                        if si is not None:
                            tasks += si.numTasks
            sc.setJobGroup("cleanup", "cleanup")
            cleanup()
        samples.sort()
        out[name] = {
            "median_s": round(samples[len(samples) // 2], 3),
            "samples": [round(s, 3) for s in samples],
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "pinned": pinned,
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()

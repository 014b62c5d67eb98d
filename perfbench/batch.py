"""Batch workloads: registry queries through ``Query.spark_fn``.

A warm-up pass runs every query once, collects its result and checks it
against the registry oracle on DuckDB over the same parquet files; the
timed passes then run each query from the ``spark_fn`` call to a finished
noop write (which forces every output column), in a seeded order.
"""

from __future__ import annotations

import contextlib
import os
import random
from statistics import median

# TPC-H, TPC-DS, join, window, aggregate and sketch queries from the
# ``bench.py`` headline: JVM, Catalyst and shuffle bound; Python idle.
RELATIONAL = [
    "q1_pricing_summary",
    "q21_waiting_suppliers",
    "ds_rollup_geo_report",
    "q_join_broadcast_star",
    "q_asof_join",
    "q_window_rank",
    "q_session_window",
    "q_grouping_sets",
    "q_kmv_distinct_parts",
    "q_copurchase_affinity",
]

# LLM-data queries from the headline: CEP (Python workers), an export
# round-trip (container writers and readers) and a graph iteration (a
# driver loop of small jobs).
LLM = [
    "q_cep_v_shape",
    "q_tfrecord_roundtrip",
    "q_k_core",
]

# Whole passes in a timed part: one per this many seconds of ``--seconds``
# (a fixed count, so every run of a workload is equally warm).
NOMINAL_PASS_S = {"batch_relational": 5.0, "llm_pipeline": 5.0}

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


class _Collected:
    """A collected result behind the ``toPandas`` the compare rule calls."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def assert_same(got, want) -> None:
    """The repository's oracle rule (``tests/conftest.py``): same columns,
    same row multiset, doubles within 0.01 absolute.  Raises AssertionError."""
    from tests.conftest import assert_same_results

    assert_same_results(_Collected(got), want)


def _release(spark) -> None:
    """Drop blocks a query left persisted, as ``bench.py`` does, so each
    query runs without the previous one's block-manager pressure."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    spark.catalog.clearCache()


class BatchWorkload:
    def __init__(self, ctx, workload: str):
        from my_flink_1_10_2_spark.queries import all_queries

        self.ctx, self.workload = ctx, workload
        self._current = ""  # the query running now, for the write observer
        reg = all_queries()
        names = RELATIONAL if workload == "batch_relational" else LLM
        self.queries = [reg[n] for n in names]

    # -- warm-up + output check ---------------------------------------------

    def warmup(self) -> float:
        """Run and check every query once; returns the engine time spent
        (spark_fn + collect), which counts as set-up.  The oracle and the
        compare are untimed."""
        import duckdb

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.fixtures}/{t}.parquet')"
            )
        engine_s = 0.0
        with tr.span("warmup", "run"):
            for q in self.queries:
                ctx.attempted += 1
                try:
                    with tr.span(q.name, "query"):
                        with tr.span("spark_fn", "queries") as s1:
                            df = q.spark_fn(spark, ctx.fixtures)
                        with tr.span("action", "operators") as s2:
                            pdf = df.toPandas()
                        _release(spark)
                        engine_s += s1["dur"] + s2["dur"]
                        with tr.span("verify", "verify"):
                            want = con.execute(q.oracle).fetchdf()
                            assert_same(pdf, want)
                except Exception as exc:  # counted, reported, never dropped
                    ctx.fail(q.name, exc)
        con.close()
        return engine_s

    # -- timed passes -----------------------------------------------------------

    def run_pass(self, order: list, traced: bool = False) -> dict:
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        per_query: dict[str, tuple[float, float]] = {}
        writes: list = []
        observe = self._observed_writes(writes) if traced else contextlib.nullcontext()
        with tr.span("pass", "pass") as sp, observe:
            for q in order:
                ctx.attempted += 1
                self._current = q.name
                if traced:  # tags each Spark job in the event log with its query
                    spark.sparkContext.setJobGroup(q.name, q.name)
                try:
                    with tr.span(q.name, "query"):
                        with tr.span("spark_fn", "queries") as s1:
                            df = q.spark_fn(spark, ctx.fixtures)
                        with tr.span("action", "operators") as s2:
                            df.write.format("noop").mode("overwrite").save()
                    per_query[q.name] = (s1["dur"], s2["dur"])
                except Exception as exc:
                    ctx.fail(q.name, exc)
                finally:
                    _release(spark)
        # An observation of a query that failed before its action never fills.
        done = [obs.get for name, obs in writes if name in per_query]
        return {
            "wall": sp["dur"], "t0": sp["t0"], "t1": sp["t1"], "queries": per_query,
            "written_files": sum(m["files"] for m in done),
            "written_mb": sum(m["bytes"] or 0 for m in done) / 2**20,
        }

    @contextlib.contextmanager
    def _observed_writes(self, writes: list):
        """Count the files and bytes the container writers of ``sources``
        report in their shard manifests (``DataFrame.observe``): they write
        from Python workers, which Spark's output metrics do not see."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from my_flink_1_10_2_spark.sources import tfrecord

        orig = tfrecord.write_tfrecords

        def write_tfrecords(*args, **kwargs):
            obs = Observation()
            writes.append((self._current, obs))
            return orig(*args, **kwargs).observe(
                obs, F.count(F.lit(1)).alias("files"), F.sum("n_bytes").alias("bytes")
            )

        tfrecord.write_tfrecords = write_tfrecords
        try:
            yield
        finally:
            tfrecord.write_tfrecords = orig

    def passes(self, n: int, traced: bool = False) -> list[dict]:
        """``n`` whole passes, each in a fresh seeded order."""
        rng = random.Random(self.ctx.seed)
        out = []
        for _ in range(n):
            order = list(self.queries)
            rng.shuffle(order)
            out.append(self.run_pass(order, traced))
        return out

    def measure(self, seconds: float, trace: bool):
        """End-to-end metrics from untraced passes; with ``trace``, the same
        passes again with spans, job groups, write observers and the event
        log, for the per-layer metrics."""
        from perfbench.common import end_to_end
        from perfbench.eventlog import EventLog, jobs_by_group, layer_metrics, ledger

        ctx = self.ctx
        n = max(1, int(seconds // NOMINAL_PASS_S[self.workload]))
        with ctx.tracer.paused():
            passes = self.passes(n)
        times = [fn + act for p in passes for fn, act in p["queries"].values()]
        e2e = end_to_end([p["wall"] for p in passes], times)
        if not trace:
            return e2e, {}, {}
        log = EventLog(ctx.spark, os.path.join(ctx.work, "eventlog"))
        traced = self.passes(n, traced=True)
        events = log.close()
        led = ledger(events, [(p["t0"], p["t1"]) for p in traced])
        for w, p in zip(led, traced):
            w["output_files"] += p["written_files"]
            w["output_mb"] += p["written_mb"]
        walls = [p["wall"] for p in traced]
        layers = layer_metrics(led, walls)
        layers["trace.overhead_s"] = median(walls) - e2e["wall_s"]
        layers["queries.spark_fn_s"] = median(
            [sum(fn for fn, _ in p["queries"].values()) for p in traced]
        )
        layers["queries.action_s"] = median(
            [sum(act for _, act in p["queries"].values()) for p in traced]
        )
        for q in self.queries:
            runs = [sum(p["queries"][q.name]) for p in traced if q.name in p["queries"]]
            if runs:
                layers[f"query.{q.name}.s"] = median(runs)
        return e2e, layers, {"ledger": led, "jobs_by_query": jobs_by_group(events)}

"""stream_stateful: a seeded event backlog drained through three stateful
streaming jobs, one after another, each with ``availableNow`` and one file
per micro-batch (a closed loop: each micro-batch starts when the previous
one commits).

- ``tumble``: keyed tumbling-window count/sum behind a watermark
  (``KeyedStream.tumble`` -> ``WindowedStream.aggregate``; JVM state store).
- ``keyed``: ``KeyedStream.running_agg`` (``applyInPandasWithState``:
  Python workers plus state).
- ``rjoin``: a left ``RetractionJoin`` of purchases onto views (parquet
  ``StateDir`` state).

The backlog is generated with pyarrow before any timer starts.  Each sink
is checked against DuckDB over the generated files.
"""

from __future__ import annotations

import contextlib
import os
import time
from datetime import datetime
from statistics import median

import numpy as np

from perfbench import common

MB = 2**20
US = 1_000_000
T0_US = 1_700_000_000 * US  # event time of the first file
SPAN_S = 60  # event-time seconds covered by one file
WINDOW_S = 10  # tumbling window size
DELAY_S = 6  # watermark delay (bounded out-of-orderness)
JITTER_S = 2  # on-time jitter; < DELAY_S / 2, so on-time events are never late
LATE_SHARE = 0.01  # events placed at least three windows behind the watermark
USERS = 400
ZIPF_S = 1.1

# Backlog size of the timed drain and of the warm-up drain (files, events
# per file).
BACKLOG = (3, 2000)
WARMUP_BACKLOG = (1, 500)
# Whole drains in a timed part: one per this many seconds of ``--seconds``.
NOMINAL_DRAIN_S = 10.0

JOBS = ("tumble", "keyed", "rjoin")
# triggerExecution's phases in the order a micro-batch runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


# -- input generation ---------------------------------------------------------


def _unique_us(ts: np.ndarray) -> np.ndarray:
    """Nudge equal timestamps apart by microseconds, so per-key event-time
    order (and with it every running sum) is unambiguous."""
    order = np.argsort(ts, kind="stable")
    s = ts[order]
    bump = np.maximum.accumulate(s - np.arange(len(s))) + np.arange(len(s))
    out = np.empty_like(ts)
    out[order] = bump
    return out


def generate(root: str, seed: int, n_files: int, per_file: int) -> dict:
    """Write ``events/``, ``views/`` and ``purchases/`` parquet backlogs
    under ``root``; return the counts the checks need."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, USERS + 1) ** ZIPF_S
    weights /= weights.sum()
    user_ids = rng.permutation(USERS) + 1

    def users(n: int) -> np.ndarray:
        return user_ids[rng.choice(USERS, size=n, p=weights)]

    def times(f: int, n: int) -> np.ndarray:
        base = T0_US + f * SPAN_S * US + np.sort(rng.integers(0, SPAN_S * US, n))
        return base + rng.integers(-JITTER_S * US, JITTER_S * US + 1, n)

    # events: on-time with jitter, plus a late share from the third file on,
    # far enough behind to be late under either watermark a batch may use
    # (its predecessor's or its own).  Spark counts dropped rows after the
    # partial aggregation, so each late event of a file gets its own window.
    ev_ts, ev_file, late = [], [], 0
    for f in range(n_files):
        ts = times(f, per_file)
        if f >= 2:
            n_late = max(1, int(per_file * LATE_SHARE))
            behind = T0_US + ((f - 1) * SPAN_S - DELAY_S - 3 * WINDOW_S) * US
            behind -= behind % (WINDOW_S * US)  # a window boundary
            ts[rng.choice(per_file, n_late, replace=False)] = (
                behind - np.arange(n_late) * WINDOW_S * US
                - rng.integers(1, WINDOW_S * US, n_late)
            )
            late += n_late
        ev_ts.append(ts)
        ev_file.append(np.full(per_file, f))
    ts_all = _unique_us(np.concatenate(ev_ts))
    n_ev = len(ts_all)
    files = np.concatenate(ev_file)
    ev = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "user_id": users(n_ev).astype(np.int64),
        "ts": ts_all,
        "event_type": rng.choice(["view", "click", "cart", "purchase"], n_ev),
        "value": rng.integers(1, 100_000, n_ev) / 100.0,
    }

    # views and purchases: purchases mostly reference earlier views, some a
    # view that arrives one file later (retracted null-padding), some none
    n_v, n_p = per_file // 2, per_file // 4
    views, purchases = [], []
    for f in range(n_files):
        v_id = f * n_v + np.arange(n_v, dtype=np.int64)
        views.append({"v_id": v_id, "v_user": users(n_v).astype(np.int64),
                      "v_ts": times(f, n_v)})
        kind = rng.random(n_p)
        ref = rng.integers(0, (f + 1) * n_v, n_p)  # a view seen so far
        ahead = (f + 1) * n_v + rng.integers(0, n_v, n_p)  # the next file
        ref = np.where((kind > 0.8) & (f + 1 < n_files), ahead, ref)
        ref = np.where(kind > 0.9, -1 - rng.integers(0, 1000, n_p), ref)  # never
        purchases.append({
            "p_id": f * n_p + np.arange(n_p, dtype=np.int64),
            "p_view": ref.astype(np.int64),
            "p_user": users(n_p).astype(np.int64),
            "p_ts": times(f, n_p),
            "p_amount": rng.integers(100, 50_000, n_p) / 100.0,
        })

    ts_type = pa.timestamp("us", tz="UTC")  # withWatermark rejects TIMESTAMP_NTZ

    def write(name: str, f: int, cols: dict) -> None:
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        arrays = {
            k: pa.array(v, type=ts_type) if k.endswith("ts") else pa.array(v)
            for k, v in cols.items()
        }
        path = os.path.join(d, f"part-{f:05d}.parquet")
        pq.write_table(pa.table(arrays), path)
        # The file source orders new files by modification time.
        os.utime(path, (1_600_000_000 + f, 1_600_000_000 + f))

    for f in range(n_files):
        sel = files == f
        write("events", f, {k: v[sel] for k, v in ev.items()})
        write("views", f, views[f])
        write("purchases", f, purchases[f])
    return {
        "root": root,
        "files": n_files,
        "events": n_ev,
        "late": late,
        "join_events": n_files * (n_v + n_p),
    }


def schema(name: str):
    """Spark schema of a generated backlog directory."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    cols = {
        "events": [("event_id", LongType()), ("user_id", LongType()),
                   ("ts", TimestampType()), ("event_type", StringType()),
                   ("value", DoubleType())],
        "views": [("v_id", LongType()), ("v_user", LongType()), ("v_ts", TimestampType())],
        "purchases": [("p_id", LongType()), ("p_view", LongType()), ("p_user", LongType()),
                      ("p_ts", TimestampType()), ("p_amount", DoubleType())],
    }[name]
    return StructType([StructField(n, t) for n, t in cols])


# -- output checks -------------------------------------------------------------


def _epoch_us(pdf):
    import pandas as pd

    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = [None if pd.isna(x) else pd.Timestamp(x).value // 1000 for x in pdf[c]]
    return pdf


def _files(root: str, name: str) -> str:
    return (
        f"(SELECT *, CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INT) AS f "
        f"FROM read_parquet('{root}/{name}/*.parquet', filename = true))"
    )


def oracle(backlog: dict) -> dict:
    """Expected sinks, from DuckDB over the generated files."""
    import duckdb

    root, w, d = backlog["root"], WINDOW_S * US, DELAY_S * US
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW e AS SELECT * EXCLUDE (filename), epoch_us(ts) AS t "
        f"FROM {_files(root, 'events')}"
    )
    # watermark of file f: the earlier files' max event time minus the delay
    con.execute(f"""
        CREATE VIEW marked AS
        WITH fm AS (SELECT f, max(t) AS mx FROM e GROUP BY f),
             wm AS (SELECT a.f, max(b.mx) - {d} AS wm FROM fm a LEFT JOIN fm b ON b.f < a.f GROUP BY a.f)
        SELECT e.*, t - (t % {w}) AS ws,
               wm.wm IS NOT NULL AND t - (t % {w}) + {w} <= wm.wm AS late
        FROM e JOIN wm USING (f)""")
    tumble = con.execute(f"""
        SELECT ws AS window_start, ws + {w} AS window_end, user_id,
               count(*) AS n, sum(value) AS total
        FROM marked WHERE NOT late GROUP BY ws, user_id
        HAVING ws + {w} <= (SELECT max(t) FROM e) - {d}""").fetchdf()
    dropped = con.execute("SELECT count(*) FROM marked WHERE late").fetchone()[0]
    keyed = con.execute("""
        SELECT event_id, user_id, t AS ts, event_type, value,
               sum(value) OVER (PARTITION BY user_id ORDER BY f, t
                                ROWS UNBOUNDED PRECEDING) AS running_sum
        FROM e""").fetchdf()
    rjoin = con.execute(f"""
        SELECT p.* EXCLUDE (filename, f), v.* EXCLUDE (filename, f)
        FROM {_files(root, 'purchases')} p LEFT JOIN {_files(root, 'views')} v
          ON p.p_view = v.v_id""").fetchdf()
    con.close()
    return {"tumble": tumble, "keyed": keyed, "rjoin": _epoch_us(rjoin), "dropped": dropped}


def check(job: str, got, want: dict, backlog: dict, dropped: int) -> None:
    """Raise AssertionError if a sink differs from its oracle."""
    from perfbench.batch import assert_same

    got = _epoch_us(got)
    if job == "tumble" and not dropped == backlog["late"] == want["dropped"]:
        raise AssertionError(
            f"dropped_late: spark={dropped} generator={backlog['late']} "
            f"oracle={want['dropped']}"
        )
    if job == "rjoin":  # materialise the +I/-D changelog as a multiset
        import pandas as pd

        from my_flink_1_10_2_spark.streaming.retraction_join import apply_changelog

        rows = got.astype(object).where(got.notna(), None).to_dict("records")
        got = pd.DataFrame([dict(r) for r in apply_changelog(rows)], columns=want[job].columns)
    assert_same(got, want[job])


# -- the three jobs ---------------------------------------------------------------


class StreamWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n_backlog = 0
        self.warm_backlog: dict = {}

    def _backlog(self, files: int, per_file: int, seed: int) -> dict:
        self.n_backlog += 1
        root = os.path.join(self.ctx.work, f"backlog{self.n_backlog}")
        backlog = generate(root, seed, files, per_file)
        backlog["want"] = oracle(backlog)
        return backlog

    def _build(self, job: str, backlog: dict, sink, state: str):
        """The job's stream up to its sink (driver-side plan build only)."""
        from pyspark.sql import functions as F

        from my_flink_1_10_2_spark.streaming import StreamExecutionEnvironment

        env = StreamExecutionEnvironment(self.ctx.spark)
        root = backlog["root"]
        if job == "rjoin":
            views = env.from_files(f"{root}/views", schema("views"))
            purchases = env.from_files(f"{root}/purchases", schema("purchases"))
            rj = purchases.retract_join(views, on=[("p_view", "v_id")], how="left",
                                        state_dir=state)
            return lambda ckpt: rj.run(sink, checkpoint=ckpt)
        events = env.from_files(f"{root}/events", schema("events"))
        if job == "tumble":
            out = (
                events.assign_timestamps_and_watermarks("ts", f"{DELAY_S} seconds")
                .key_by("user_id")
                .tumble("ts", f"{WINDOW_S} seconds")
                .aggregate(F.count("*").alias("n"), F.sum("value").alias("total"))
            )
        else:
            out = events.key_by("user_id").running_agg("value", "ts", "sum")
        return lambda ckpt: out.for_each_batch(sink, checkpoint=ckpt)

    def drain(self, job: str, backlog: dict) -> dict:
        """Drain ``backlog`` through one job with fresh checkpoint and state
        dirs inside the run's scratch dir, deleted afterwards, and check the
        sink's output."""
        import pyarrow as pa

        ctx, tr = self.ctx, self.ctx.tracer
        work = os.path.join(ctx.work, f"{job}-{time.monotonic_ns()}")
        ckpt, state = os.path.join(work, "ckpt"), os.path.join(work, "state")
        parts: list = []
        sink_s = [0.0]

        def sink(batch_df, batch_id):
            t = time.perf_counter()
            parts.append(batch_df.toArrow())
            sink_s[0] += time.perf_counter() - t

        ctx.attempted += 1
        rec: dict = {"job": job}
        try:
            with tr.span(job, "streaming") as sp:
                with tr.span("spark_fn", "queries") as s1:
                    start = self._build(job, backlog, sink, state)
                with tr.span("drain", "streaming") as s2, self._state_spans(job):
                    q = start(ckpt)
            rec.update(wall=sp["dur"], build=s1["dur"], drain=s2["dur"], t0=sp["t0"],
                       t1=sp["t1"], sink_s=sink_s[0])
            rec.update(self._progress(job, q, backlog, state, s2))
            with tr.span("verify", "verify"):
                if not parts:
                    raise AssertionError(f"{job}: sink received no rows")
                got = pa.concat_tables(parts).to_pandas()
                check(job, got, backlog["want"], backlog, rec["dropped_late"])
        except Exception as exc:  # counted, reported, never dropped
            ctx.fail(f"stream job {job}", exc)
        finally:
            common.remove_tree(work)
        return rec

    @contextlib.contextmanager
    def _state_spans(self, job: str):
        """In traced runs, time each StateDir write (the rjoin state commit)
        with a span around the call into the state module."""
        if job != "rjoin" or not self.ctx.tracer.enabled:
            yield
            return
        from my_flink_1_10_2_spark.streaming.state_dir import StateDir

        tr, orig = self.ctx.tracer, StateDir.write_batch

        def write_batch(sd, df, index):
            with tr.span("state_dir.write_batch", "state_dir", batch=index):
                return orig(sd, df, index)

        StateDir.write_batch = write_batch
        try:
            yield
        finally:
            StateDir.write_batch = orig

    def _progress(self, job: str, q, backlog: dict, state: str, drain_span: dict) -> dict:
        """Per-micro-batch phases from ``recentProgress``.  Input is counted
        from the generator: ``numInputRows`` over-counts when foreachBatch
        scans a batch more than once."""
        tr = self.ctx.tracer
        progress = q.recentProgress
        batches = [p for p in progress if p.numInputRows > 0]
        dur = [p.durationMs for p in batches]
        out = {
            "batch_ms": [d.get("triggerExecution", 0) for d in dur],
            "add_batch_ms": [d.get("addBatch", 0) for d in dur],
            "plan_ms": [d.get("queryPlanning", 0) for d in dur],
            "commit_ms": [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur],
            "dropped_late": sum(
                s.numRowsDroppedByWatermark for p in progress for s in p.stateOperators
            ),
            "events": backlog["join_events" if job == "rjoin" else "events"],
        }
        for p, d in zip(batches, dur):
            t0 = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            mb = tr.add(f"batch {p.batchId}", "micro_batch", t0,
                        d.get("triggerExecution", 0) / 1e3, drain_span.get("id"))
            for phase in PHASES:  # durationMs carries no start times: laid end to end
                tr.add(phase, f"micro_batch.{phase}", t0, d.get(phase, 0) / 1e3, mb)
                t0 += d.get(phase, 0) / 1e3
        if batches and batches[-1].stateOperators:
            last = batches[-1].stateOperators
            out["state_rows"] = sum(s.numRowsTotal for s in last)
            out["state_mb"] = sum(s.memoryUsedBytes for s in last) / MB
            # commitTimeMs is summed over state-store partitions, so it can
            # exceed the batch's wall time.
            out["state_commit_ms"] = [sum(s.commitTimeMs for s in p.stateOperators) for p in batches]
        if job == "rjoin" and tr.enabled:
            out.update(self._state_dir_stats(state))
        return out

    def _state_dir_stats(self, state: str) -> dict:
        """Files, bytes and live rows of the rjoin ``StateDir``.  Rows come
        from the parquet footers of the manifest's live dirs, so the traced
        pass runs no Spark job of the benchmark's own."""
        import glob

        import pyarrow.parquet as pq

        from my_flink_1_10_2_spark.streaming.state_dir import StateDir

        files, size, rows = 0, 0, 0
        for side, name in (("left", "purchases"), ("right", "views")):
            path = os.path.join(state, side)
            for root, _dirs, names in os.walk(path):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
            for d in StateDir(self.ctx.spark, path, schema(name)).live_dirs():
                for f in glob.glob(os.path.join(path, d, "**", "*.parquet"), recursive=True):
                    rows += pq.ParquetFile(f).metadata.num_rows
        return {"state_files": files, "state_mb": size / MB, "state_rows": rows}

    # -- workload -----------------------------------------------------------------

    def warmup(self) -> float:
        """Drain a small backlog through every job (checked); returns the
        engine time, which counts as set-up."""
        files, per_file = WARMUP_BACKLOG
        backlog = self.warm_backlog = self._backlog(files, per_file, self.ctx.seed + 7919)
        engine_s = 0.0
        with self.ctx.tracer.span("warmup", "run"):
            for job in JOBS:
                rec = self.drain(job, backlog)
                engine_s += rec.get("wall", 0.0)
        return engine_s

    def run_pass(self, backlog: dict) -> dict:
        with self.ctx.tracer.span("pass", "pass") as sp:
            jobs = {job: self.drain(job, backlog) for job in JOBS}
        drain = sum(r.get("wall", 0.0) for r in jobs.values())
        return {"wall": drain, "t0": sp["t0"], "t1": sp["t1"], "jobs": jobs}

    def measure(self, seconds: float, trace: bool):
        """End-to-end metrics from an untraced drain of the backlog; with
        ``trace``, the same drain again with spans, StateDir hooks and the
        event log, then one ``local[1]`` drain, for the per-layer metrics."""
        from perfbench.common import end_to_end

        backlog = self._backlog(*BACKLOG, self.ctx.seed)
        n = max(1, int(seconds // NOMINAL_DRAIN_S))
        with self.ctx.tracer.paused():
            passes = [self.run_pass(backlog) for _ in range(n)]
        pooled = [b / 1e3 for p in passes for r in p["jobs"].values() for b in r.get("batch_ms", [])]
        e2e = end_to_end([p["wall"] for p in passes], pooled)
        if not trace:
            return e2e, {}, {}
        from perfbench.eventlog import EventLog, layer_metrics, ledger

        log = EventLog(self.ctx.spark, os.path.join(self.ctx.work, "eventlog"))
        traced = [self.run_pass(backlog) for _ in range(n)]
        led = ledger(log.close(), [(p["t0"], p["t1"]) for p in traced])
        walls = [p["wall"] for p in traced]
        layers = layer_metrics(led, walls)
        layers["trace.overhead_s"] = median(walls) - e2e["wall_s"]
        layers["queries.spark_fn_s"] = median(
            [sum(r.get("build", 0.0) for r in p["jobs"].values()) for p in traced]
        )
        layers["queries.action_s"] = median(
            [sum(r.get("drain", 0.0) for r in p["jobs"].values()) for p in traced]
        )
        events = sum(r["events"] for r in traced[0]["jobs"].values() if "events" in r)
        layers["streaming.events_per_s"] = events / median(walls)
        single = self._one_core_drains(backlog)
        for job in JOBS:
            r = traced[0]["jobs"][job]
            if "batch_ms" not in r:
                continue
            p = f"streaming.{job}."
            bms = r["batch_ms"]
            # Growth skips the first micro-batch, which pays for creating
            # the state store or StateDir rather than for the state it holds.
            # On the 3-file backlog it is the third batch over the second.
            grown = bms[1:] or bms
            q = max(1, len(grown) // 4)
            layers.update({
                p + "batch_ms_p50": median(bms),
                p + "add_batch_ms_p50": median(r["add_batch_ms"]),
                p + "plan_ms_p50": median(r["plan_ms"]),
                p + "commit_ms_p50": median(r["commit_ms"]),
                p + "events_per_s": r["events"] / r["drain"],
                p + "state_rows": r.get("state_rows", 0),
                p + "state_mb": r.get("state_mb", 0.0),
                p + "dropped_late": r["dropped_late"],
                p + "growth": median(grown[-q:]) / median(grown[:q]),
            })
            if job in single:  # the same first file, from empty state, both warm
                layers[p + "speedup_vs_1core"] = single[job] / bms[0]
            if "state_commit_ms" in r:
                layers[p + "state_commit_ms"] = median(r["state_commit_ms"])
        rj = traced[0]["jobs"]["rjoin"]
        layers["streaming.rjoin.state_files"] = rj.get("state_files", 0)
        layers["streaming.rjoin.sink_s"] = rj.get("sink_s", 0.0)
        windows = [(p["t0"], p["t1"]) for p in traced]
        writes = [
            s["dur"] for s in self.ctx.tracer.spans
            if s["layer"] == "state_dir" and any(t0 <= s["t0"] <= t1 for t0, t1 in windows)
        ]
        if writes:
            layers["streaming.rjoin.state_commit_ms"] = median(writes) * 1e3
        streams = {
            job: {k: v for k, v in r.items() if k not in ("t0", "t1")}
            for job, r in traced[0]["jobs"].items()
        }
        return e2e, layers, {"ledger": led, "streams": streams}

    def _one_core_drains(self, backlog: dict) -> dict:
        """First-batch latency of each job on ``local[1]``, over the
        backlog's first file (traced run only).  The new session first
        drains the warm-up backlog, as the ``local[nproc]`` one did, so the
        ratio compares core counts rather than a cold start with a warm one."""
        import shutil

        from my_flink_1_10_2_spark.session import get_spark

        first = {"root": os.path.join(self.ctx.work, "backlog-1core")}
        for name in ("events", "views", "purchases"):
            os.makedirs(os.path.join(first["root"], name))
            src = os.path.join(backlog["root"], name, "part-00000.parquet")
            shutil.copy2(src, os.path.join(first["root"], name))
        want = oracle(first)
        first.update(want=want, late=want["dropped"], events=len(want["keyed"]),
                     join_events=len(want["rjoin"]))
        self.ctx.spark.stop()
        self.ctx.spark = get_spark(app_name="perfbench-1core", master="local[1]")
        self.ctx.spark.sparkContext.setLogLevel("ERROR")
        with self.ctx.tracer.span("local[1] warmup", "run"):
            for job in JOBS:
                self.drain(job, self.warm_backlog)
        with self.ctx.tracer.span("local[1]", "pass"):
            recs = {job: self.drain(job, first) for job in JOBS}
        return {job: r["batch_ms"][0] for job, r in recs.items() if r.get("batch_ms")}

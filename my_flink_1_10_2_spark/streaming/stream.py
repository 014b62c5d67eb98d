"""DataStream-like fluent API compiled to Structured Streaming.

Reference surface → Spark mapping (SURVEY §2):
  - env.addSource / readTextFile / socketTextStream
      (StreamExecutionEnvironment.java:1517,1062,1396) → ``readStream``
  - DataStream.map/flatMap/filter (DataStream.java:588,632,731)
      → select/where (declarative, codegen'd)
  - assignTimestampsAndWatermarks (BoundedOutOfOrdernessTimestampExtractor.java:32)
      → ``withWatermark`` (bounded out-of-orderness is the one Spark model)
  - keyBy().window().aggregate (WindowedStream.java)
      → ``groupBy(window(...), key).agg``
  - keyBy().process(ProcessFunction) (KeyedProcessOperator.java)
      → ``applyInPandasWithState`` (timers ≈ state timeouts)
  - side outputs (SingleOutputStreamOperator.java:399)
      → filter-split in foreachBatch
  - print/addSink (DataStream.java:1001,1318)
      → writeStream sinks (console/memory/foreachBatch/files)

Retraction story: streaming group-aggs emit changelogs in the reference
(BaseRow.java:40-47 ACCUMULATE/RETRACT).  Spark's `update`/`complete`
output modes carry the same information; `with_change_flag` materializes
an explicit ``__change`` column in foreachBatch for sinks that need
deltas (SURVEY §7.2 step 6).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _col(e):
    return e if isinstance(e, Column) else F.expr(e)


class StreamExecutionEnvironment:
    """Streaming entry point (ref: StreamExecutionEnvironment.java)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_rate(self, rows_per_second: int = 100) -> "Stream":
        return Stream(
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .load()
        )

    def from_files(self, path: str, schema, fmt: str = "parquet", max_files_per_trigger: int = 1) -> "Stream":
        """File-based source with per-trigger pacing — the test harness's
        deterministic replacement for a Kafka source."""
        reader = (
            self.spark.readStream.format(fmt)
            .schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
        )
        return Stream(reader.load(path))

    def from_batches(self, batches: list[DataFrame], path: str) -> "Stream":
        """Ordered micro-batch replay: batch *i* of ``batches`` arrives as
        micro-batch *i* — the event-time-order contract that replayed
        watermarks, sentinel flushes and carried state depend on.

        Each batch is written (one job, ``coalesce(1)``) as exactly one
        parquet file in ``path``, named by its list position and given a
        strictly increasing mtime (the file source orders micro-batches
        by modification time, and consecutive writes can share a clock
        tick).  Re-staging the same list into the same ``path`` yields the
        same file names, so a checkpointed query restarted on it skips the
        files it already committed.  A watermark sentinel is just one more
        DataFrame in the list; every batch must share ``batches[0]``'s
        schema."""
        stage = os.path.join(path, "_stage")
        base = time.time() - 3600
        try:
            for i, batch in enumerate(batches):
                batch.coalesce(1).write.mode("overwrite").parquet(f"{stage}/b{i}")
                (part,) = glob.glob(f"{stage}/b{i}/part-*.parquet")
                dst = os.path.join(path, f"batch-{i:05d}.parquet")
                os.replace(part, dst)
                os.utime(dst, (base + i, base + i))
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return self.from_files(path, batches[0].schema)

    def socket_text_stream(self, host: str, port: int) -> "Stream":
        """(ref: StreamExecutionEnvironment.socketTextStream:1396)"""
        return Stream(
            self.spark.readStream.format("socket")
            .option("host", host)
            .option("port", port)
            .load()
        )


class Stream:
    """Possibly-unbounded stream (ref: DataStream.java:1)."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- row-level ----------------------------------------------------------
    def select(self, *exprs) -> "Stream":
        return Stream(self.df.select(*[_col(e) for e in exprs]))

    map = select

    def filter(self, predicate) -> "Stream":
        return Stream(self.df.filter(_col(predicate)))

    def flat_map(self, generator_expr) -> "Stream":
        """1→N via a generator expression (explode & friends)."""
        return Stream(self.df.select("*", _col(generator_expr)))

    def union(self, other: "Stream") -> "Stream":
        return Stream(self.df.unionByName(other.df))

    def join(self, other: "Stream") -> "JoinedStreams":
        """Fluent windowed stream join (ref: DataStream.join →
        JoinedStreams.java:128 where/equalTo, :170 window, :272 apply):

            a.join(b).where("uid").equal_to("user_id")
             .window("ts", "ts2", "1 minute").apply("uid", "a.v", "b.v")
        """
        return JoinedStreams(self, other)

    def co_group(self, other: "Stream") -> "CoGroupedStreams":
        """Fluent windowed coGroup (ref: DataStream.coGroup →
        CoGroupedStreams.java:1 — per key+window, BOTH groups are handed
        to the apply function, including one-sided groups)."""
        return CoGroupedStreams(self, other)

    def project(self, *fields) -> "Stream":
        """Positional or named projection (ref: DataStream.project:1278 —
        the reference selects tuple fields by index)."""
        cols = [
            self.df.columns[f] if isinstance(f, int) else f for f in fields
        ]
        return Stream(self.df.select(*cols))

    # -- physical partitioning (ref: DataStream.java shuffle:1212,
    # rebalance:1246, rescale:1270, global:1297, forward:1224,
    # partitionCustom:1137; Spark exchanges are the direct analogs) -------
    def shuffle(self, num_partitions: int | None = None) -> "Stream":
        """Random redistribution (ref: DataStream.shuffle:1212).  Spark's
        keyless repartition is round-robin rather than random — the same
        uniform-balance contract without the RNG."""
        df = self.df.repartition(num_partitions) if num_partitions else self.df.repartition()
        return Stream(df)

    def rebalance(self, num_partitions: int | None = None) -> "Stream":
        """Round-robin redistribution (ref: DataStream.rebalance:1246)."""
        return self.shuffle(num_partitions)

    def rescale(self, num_partitions: int) -> "Stream":
        """Local scale-down (ref: DataStream.rescale:1270) — `coalesce`
        merges partitions without a full shuffle, the same
        locality-preserving contract."""
        return Stream(self.df.coalesce(num_partitions))

    def global_(self) -> "Stream":
        """Everything to one task (ref: DataStream.global:1297).  The
        single-partition bottleneck is intentional there and here —
        prefer keyed ops at scale."""
        return Stream(self.df.repartition(1))

    def forward(self) -> "Stream":
        """Identity partitioning (ref: DataStream.forward:1224) — a
        no-op: Spark already chains narrow stages without an exchange."""
        return self

    def partition_custom(self, expr, num_partitions: int) -> "Stream":
        """Partition by an expression's hash (ref:
        DataStream.partitionCustom:1137)."""
        return Stream(self.df.repartition(num_partitions, _col(expr)))

    # -- event time ---------------------------------------------------------
    def assign_timestamps_and_watermarks(self, ts_col: str, max_out_of_orderness: str) -> "Stream":
        """Bounded out-of-orderness watermark (ref:
        BoundedOutOfOrdernessTimestampExtractor.java:70 — wm = maxTs − delay;
        Spark implements exactly this)."""
        return Stream(self.df.withWatermark(ts_col, max_out_of_orderness))

    with_watermark = assign_timestamps_and_watermarks

    def assign_ascending_timestamps(self, ts_col: str) -> "Stream":
        """Monotonic event time (ref: DataStream.assignAscendingTimestamps
        :894 / AscendingTimestampExtractor.java) — a zero-delay
        watermark."""
        return Stream(self.df.withWatermark(ts_col, "0 seconds"))

    # -- keyed ops ----------------------------------------------------------
    def key_by(self, *keys) -> "KeyedStream":
        return KeyedStream(self.df, list(keys))

    # -- non-keyed (windowAll) windows --------------------------------------
    # ref: DataStream.windowAll / AllWindowedStream.java:1 — window
    # assignment without a key.  Spark-first this is simply a groupBy on
    # the window column alone; unlike the reference (which funnels all
    # rows through one subtask), the partial aggregation stays
    # parallel — only |windows| rows cross the final exchange.
    def tumble_all(self, ts_col: str, size: str) -> "WindowedStream":
        """Non-keyed tumbling window (ref: DataStream.timeWindowAll:579)."""
        return WindowedStream(self.df, [], F.window(ts_col, size), ts_col)

    def hop_all(self, ts_col: str, size: str, slide: str) -> "WindowedStream":
        """Non-keyed sliding window (ref: DataStream.timeWindowAll(size, slide))."""
        return WindowedStream(self.df, [], F.window(ts_col, size, slide), ts_col)

    def session_all(self, ts_col: str, gap: str) -> "WindowedStream":
        """Non-keyed session window (ref: AllWindowedStream +
        EventTimeSessionWindows)."""
        return WindowedStream(self.df, [], F.session_window(ts_col, gap), ts_col)

    def count_window_all(self, n: int, value_col: str, ts_col: str) -> "Stream":
        """Non-keyed count window (ref: DataStream.countWindowAll:612 —
        GlobalWindows + CountTrigger(n)).  Like the reference, the
        counting is inherently serial, so rows route through a single
        constant key; use the keyed variant whenever a key exists."""
        keyed = KeyedStream(self.df.withColumn("__all", F.lit(0)), ["__all"])
        out = keyed.count_window(n, value_col, ts_col)
        return Stream(out.df.drop("__all"))

    def connect(self, other: "Stream") -> "ConnectedStreams":
        """Pair this stream with another for shared-state co-processing
        (ref: DataStream.connect:257)."""
        return ConnectedStreams(self, other)

    def connect_broadcast(
        self, control_df: DataFrame, fold: Callable[[dict, DataFrame], dict]
    ) -> "BroadcastConnectedStream":
        """Connect with a broadcast control side (ref:
        DataStream.broadcast(stateDesc):430)."""
        return BroadcastConnectedStream(self, control_df, fold)

    def drop_duplicates(self, keys: list[str], within_watermark: bool = False) -> "Stream":
        """Streaming keep-first dedup (ref:
        DeduplicateKeepFirstRowFunction.java:34).  With a watermark set,
        state is evicted as event time advances (the reference's state
        TTL); ``within_watermark`` uses Spark's
        ``dropDuplicatesWithinWatermark`` relaxation."""
        if within_watermark:
            return Stream(self.df.dropDuplicatesWithinWatermark(keys))
        return Stream(self.df.dropDuplicates(keys))

    # -- joins --------------------------------------------------------------
    def interval_join(
        self,
        other: "Stream",
        key: tuple[str, str],
        time: tuple[str, str],
        lower: str,
        upper: str,
    ) -> "Stream":
        """Stream-stream interval join (ref: TimeBoundedStreamJoin.java:52)
        — both sides must carry watermarks; Spark bounds state from the
        interval condition exactly like the reference's cleanup timers."""
        from my_flink_1_10_2_spark.operators.joins import interval_join as _ij

        return Stream(_ij(self.df, other.df, key, time, lower, upper))

    def retract_join(
        self,
        other: "Stream",
        on: list[tuple[str, str]],
        how: str = "inner",
        state_dir: str | None = None,
    ):
        """Unbounded stream-stream join with retractions (ref:
        StreamingJoinOperator.java:37) — no watermark required on either
        side; OUTER results are null-padded eagerly and retracted
        (``__change='-D'``) when a late match arrives.  Returns a
        :class:`RetractionJoin`; call ``.run(sink_fn)`` to execute."""
        from my_flink_1_10_2_spark.streaming.retraction_join import RetractionJoin

        return RetractionJoin(self.df, other.df, on, how, state_dir)

    def lookup_join(self, static_df: DataFrame, on, how: str = "left") -> "Stream":
        """Lookup (dimension) join: stream × static table (ref:
        LookupJoinRunner.java).  Spark re-plans the static side per
        micro-batch — the same freshness model as the reference's
        per-record lookup with caching; broadcast keeps it shuffle-free.
        The hint is size-gated (`operators.hints.dim`) so an
        unexpectedly large lookup table degrades to a shuffle join
        instead of an executor OOM."""
        from my_flink_1_10_2_spark.operators.hints import dim

        return Stream(self.df.join(dim(static_df), on, how))

    # -- sinks --------------------------------------------------------------
    def to_memory_sink(
        self,
        name: str | None = None,
        output_mode: str = "append",
        await_termination: bool = True,
    ):
        """Run the stream into an in-memory table (test/queryable-state
        substitute, SURVEY §2.10) using availableNow (process everything,
        then stop).  Returns (query, table_name)."""
        name = name or f"sink_{uuid.uuid4().hex[:8]}"
        q = (
            self.df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if await_termination:
            q.awaitTermination()
        return q, name

    def for_each_batch(self, fn: Callable[[DataFrame, int], None], checkpoint: str | None = None):
        """foreachBatch sink (ref: addSink/TwoPhaseCommitSinkFunction —
        exactly-once via Spark's checkpoint + idempotent batch writes).

        Without ``checkpoint`` the run uses a throwaway checkpoint that is
        removed when the availableNow run ends, so it cannot resume after
        a restart; pass ``checkpoint=`` to make the run resumable."""
        owned = checkpoint is None
        if owned:
            checkpoint = tempfile.mkdtemp(prefix="fl_ckpt_")
        try:
            q = (
                self.df.writeStream.foreachBatch(fn)
                .trigger(availableNow=True)
                .option("checkpointLocation", checkpoint)
                .start()
            )
            q.awaitTermination()
            return q
        finally:
            if owned:
                shutil.rmtree(checkpoint, ignore_errors=True)

    def for_each_batch_with_late_split(
        self,
        ts_col: str,
        allowed_lateness_seconds: float,
        on_time_fn: Callable[[DataFrame, int], None],
        late_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """allowedLateness + sideOutputLateData (ref:
        WindowedStream.java:158,177): rows older than the observed
        event-time high-water mark minus the allowance are routed to
        ``late_fn`` (the dead-letter side output) instead of silently
        dropping; everything else flows to ``on_time_fn``.

        The high-water mark is the running max event time across batches
        — the same quantity Spark's watermark tracks — held in the
        foreachBatch closure (driver-side, one timestamp: O(1) state).
        """
        import datetime as _dt

        hwm: dict[str, object] = {"max_ts": None}
        delta = _dt.timedelta(seconds=allowed_lateness_seconds)

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            prev = hwm["max_ts"]
            batch_df = batch_df.persist()
            try:
                if prev is not None:
                    threshold = prev - delta
                    late = batch_df.filter(F.col(ts_col) < F.lit(threshold))
                    on_time = batch_df.filter(F.col(ts_col) >= F.lit(threshold))
                else:
                    late = batch_df.limit(0)
                    on_time = batch_df
                late_fn(late, batch_id)
                on_time_fn(on_time, batch_id)
                mx = batch_df.agg(F.max(ts_col).alias("m")).first()["m"]
                if mx is not None and (prev is None or mx > prev):
                    hwm["max_ts"] = mx
            finally:
                batch_df.unpersist()

        return self.for_each_batch(handle, checkpoint)

    def assign_punctuated(
        self,
        assigner: "AssignerWithPunctuatedWatermarks",
        on_time_fn: Callable[[DataFrame, int], None],
        late_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """The reference's per-record assigner API shape (ref:
        AssignerWithPunctuatedWatermarks.java — extractTimestamp +
        checkAndGetNextWatermark per element), lowered onto the
        marker-row machinery below.  The assigner's two methods return
        COLUMN expressions, so the per-record logic runs JVM-side."""
        ts = assigner.extract_timestamp(self.df)
        with_ts = self.df.withColumn("__punct_ts", ts)
        wm = assigner.check_and_get_next_watermark(
            with_ts, F.col("__punct_ts")
        )
        return Stream(
            with_ts.withColumn("__punct_wm", wm)
        ).for_each_batch_with_punctuated_watermarks(
            "__punct_wm", "__punct_ts", on_time_fn, late_fn, checkpoint
        )

    def for_each_batch_with_punctuated_watermarks(
        self,
        wm_col: str,
        ts_col: str,
        on_time_fn: Callable[[DataFrame, int], None],
        late_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """Punctuated watermarks (ref: AssignerWithPunctuatedWatermarks
        .java — checkAndGetNextWatermark per record): event time advances
        only from MARKER rows, not from every element's timestamp.

        ``wm_col`` is a column that is non-null exactly on marker rows
        and carries the watermark they announce (build it upstream with
        ``F.when(is_marker, ts)``).  Per micro-batch, rows with
        ``ts_col`` ≤ the highest watermark announced by any PREVIOUS
        batch route to ``late_fn`` (side output); then the high-water
        mark absorbs this batch's markers.  Like the reference, a stream
        with no markers never advances event time and nothing is late.

        State is one timestamp in the foreachBatch closure — O(1), the
        same footprint as the bounded-delay variant above.
        """
        hwm: dict[str, object] = {"wm": None}

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            batch_df = batch_df.persist()
            try:
                wm = hwm["wm"]
                if wm is not None:
                    late = batch_df.filter(F.col(ts_col) <= F.lit(wm))
                    on_time = batch_df.filter(F.col(ts_col) > F.lit(wm))
                else:
                    late = batch_df.limit(0)
                    on_time = batch_df
                late_fn(late, batch_id)
                on_time_fn(on_time, batch_id)
                mx = batch_df.agg(F.max(wm_col).alias("m")).first()["m"]
                if mx is not None and (wm is None or mx > wm):
                    hwm["wm"] = mx
            finally:
                batch_df.unpersist()

        return self.for_each_batch(handle, checkpoint)

    def rowtime_sort(
        self,
        ts_col: str,
        max_out_of_orderness_seconds: float,
        emit_fn: Callable[[DataFrame, int], None],
        secondary: list[str] | None = None,
        checkpoint: str | None = None,
    ):
        """Event-time (rowtime) sort (ref: StreamExecTemporalSort.scala,
        RowTimeSortOperator.java): buffer rows until the watermark passes
        their timestamp, then emit them in (rowtime, secondary) order;
        rows arriving behind the watermark are dropped as late.

        Spark's streaming ``orderBy`` is unsupported, so the buffer lives
        in a parquet state directory (the RocksDB analog) and each
        emission is a distributed sort of the ready slice.  Driver state
        is one timestamp (the event-time high-water mark).
        """
        import datetime as _dt
        import shutil as _sh

        delay = _dt.timedelta(seconds=max_out_of_orderness_seconds)
        state_root = tempfile.mkdtemp(prefix="fl_sort_state_")
        st: dict[str, object] = {"max_ts": None, "cur": None}
        order_cols = [ts_col, *(secondary or [])]

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            prev_max = st["max_ts"]
            wm_prev = None if prev_max is None else prev_max - delay
            fresh = (
                batch_df
                if wm_prev is None
                else batch_df.filter(F.col(ts_col) >= F.lit(wm_prev))
            )
            if st["cur"] is not None:
                buf = spark.read.schema(batch_df.schema).parquet(st["cur"])
                allbuf = buf.unionByName(fresh)
            else:
                allbuf = fresh
            mx = allbuf.agg(F.max(ts_col).alias("m")).first()["m"]
            if mx is None:
                return
            if prev_max is None or mx > prev_max:
                st["max_ts"] = mx
            wm = st["max_ts"] - delay
            ready = allbuf.filter(F.col(ts_col) <= F.lit(wm)).orderBy(
                *order_cols
            )
            emit_fn(ready, batch_id)
            nxt = f"{state_root}/v{batch_id}"
            allbuf.filter(F.col(ts_col) > F.lit(wm)).write.mode(
                "overwrite"
            ).parquet(nxt)
            old = st["cur"]
            st["cur"] = nxt
            if old is not None:
                _sh.rmtree(old, ignore_errors=True)

        try:
            q = self.for_each_batch(handle, checkpoint)
            # End of a bounded stream = final +Inf watermark
            # (ref: Watermark.MAX_WATERMARK emitted on input close):
            # flush whatever is still buffered, in order.
            if st["cur"] is not None:
                rem = (
                    self.df.sparkSession.read.schema(self.df.schema)
                    .parquet(st["cur"])
                    .orderBy(*order_cols)
                )
                emit_fn(rem, -1)
            return q
        finally:
            _sh.rmtree(state_root, ignore_errors=True)

    def with_change_flag(self) -> "Stream":
        """Attach the retraction-convention column for update-mode sinks
        (ref: BaseRow.java:40-47): downstream consumers treat every row as
        an upsert keyed on the grouping columns (__change='+U')."""
        return Stream(self.df.withColumn("__change", F.lit("+U")))

    def iterate(
        self,
        step: Callable[[DataFrame], DataFrame],
        feedback_predicate,
        emit_fn: Callable[[DataFrame, int], None],
        max_iterations: int = 1000,
        checkpoint: str | None = None,
    ):
        """Streaming iterations (ref: DataStream.iterate() DataStream.java:534,
        IterativeStream.closeWith IterativeStream.java:1): records produced
        by ``step`` that satisfy ``feedback_predicate`` re-enter the loop
        head; the rest leave the iteration and reach ``emit_fn``.

        Structured Streaming's plan is an acyclic DAG, so the feedback edge
        is driven per micro-batch: each arriving batch runs ``step``
        repeatedly — matching rows feed back, non-matching rows are emitted
        — until the feedback set is empty or ``max_iterations`` is hit
        (the reference bounds loops with a feedback *timeout* instead;
        a superstep cap is the deterministic spelling of the same guard).

        Scale: the loop body is ordinary distributed DataFrame work; each
        superstep persists its feedback set (usually a small, shrinking
        fraction of the batch) and nothing ever collects to the driver.
        Lineage is cut every few supersteps with ``localCheckpoint`` —
        the same guard the batch iterators use (operators/iterate.py).
        """
        pred = (
            F.expr(feedback_predicate)
            if isinstance(feedback_predicate, str)
            else feedback_predicate
        )

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            current = batch_df
            for superstep in range(max_iterations):
                if current.isEmpty():
                    break
                out = step(current)
                fb = out.filter(pred)
                exits = out.filter(~pred)
                if superstep % 5 == 4:
                    # cut the per-superstep lineage growth (plan depth is
                    # O(supersteps) otherwise — the iterate.py guard)
                    fb = fb.localCheckpoint(eager=True)
                emit_fn(exits, batch_id)
                current = fb
            else:
                if not current.isEmpty():
                    raise RuntimeError(
                        f"iteration did not converge within {max_iterations} "
                        "supersteps (reference analog: feedback timeout)"
                    )

        return self.for_each_batch(handle, checkpoint)


class BroadcastConnectedStream:
    """Control-stream broadcast (ref: DataStream.broadcast(stateDesc)
    :430, BroadcastConnectedStream.java:1): a low-throughput control
    stream whose latest state must be visible to every task processing
    the data stream.

    Spark expression: the data stream runs in foreachBatch; each
    micro-batch first folds any new control rows into the (tiny,
    driver-held) broadcast state, then processes the data batch with a
    fresh broadcast of that state — the micro-batch analog of the
    reference's broadcast-state element ordering. State size must stay
    broadcast-small, the same contract the reference imposes.
    """

    def __init__(self, data: "Stream", control_df: DataFrame, fold: Callable[[dict, DataFrame], dict]):
        self.data = data
        self.control_df = control_df  # batch DataFrame re-read per micro-batch
        self.fold = fold
        self.state: dict = {}

    def process(self, fn: Callable[[DataFrame, dict, int], None], checkpoint: str | None = None):
        """``fn(batch_df, broadcast_state, batch_id)`` — broadcast_state
        is the folded control state as of this batch."""

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # control side is a (small) table re-read every batch — the
            # stream-static pattern; a streaming control side would fold
            # only its new rows here instead.
            self.state = self.fold(self.state, self.control_df)
            fn(batch_df, dict(self.state), batch_id)

        return self.data.for_each_batch(handle, checkpoint)


class ConnectedStreams:
    """Two streams sharing keyed state (ref: ConnectedStreams.java:1,
    DataStream.connect:257).

    Spark expression: both inputs are tagged with ``__side`` (0 = first,
    1 = second), schemas are unified by name (missing columns null), and
    the union feeds one keyed stateful operator — so a CoProcessFunction
    sees interleaved elements of both inputs with shared per-key state,
    exactly the reference's semantics. At scale this is one shuffle of
    the unioned stream; no extra state copies."""

    SIDE = "__side"

    def __init__(self, first: "Stream", second: "Stream"):
        a = first.df.withColumn(self.SIDE, F.lit(0))
        b = second.df.withColumn(self.SIDE, F.lit(1))
        self.df = a.unionByName(b, allowMissingColumns=True)

    def key_by(self, *keys) -> "KeyedStream":
        """Keyed co-stream: downstream ``process`` receives batches whose
        rows carry ``__side`` to dispatch processElement1/processElement2
        (ref: CoProcessFunction.java)."""
        return KeyedStream(self.df, [str(k) for k in keys])

    def map(self, fn_first, fn_second) -> "Stream":
        """CoMap (ref: ConnectedStreams.map): per-side Column expressions
        merged into one output."""
        side = F.col(self.SIDE)
        out = self.df.withColumn(
            "co_mapped", F.when(side == 0, _col(fn_first)).otherwise(_col(fn_second))
        )
        return Stream(out)


class KeyedStream:
    """Stream partitioned by key (ref: KeyedStream.java:116)."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self.df = df
        self.keys = keys

    def aggregate(self, *agg_exprs) -> Stream:
        """Unbounded per-key running aggregate (ref: GroupAggFunction.java:44)
        — run in ``update``/``complete`` output mode."""
        return Stream(self.df.groupBy(*self.keys).agg(*[_col(e) for e in agg_exprs]))

    def _rolling_by(self, value_col: str, ts_col: str, agg) -> Stream:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*self.keys)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        best = agg(F.struct(*self.df.columns), F.col(value_col)).over(w)
        return Stream(self.df.select(best.alias("__best")).select("__best.*"))

    def min_by(self, value_col: str, ts_col: str) -> Stream:
        """Rolling minBy (ref: KeyedStream.minBy:1129 — for every input
        record, emit the element whose `value_col` is minimal so far).
        One window-shuffle on the keys; the frame is computed JVM-side
        (native `min_by` over a running frame)."""
        return self._rolling_by(value_col, ts_col, F.min_by)

    def max_by(self, value_col: str, ts_col: str) -> Stream:
        """Rolling maxBy (ref: KeyedStream.maxBy:1163)."""
        return self._rolling_by(value_col, ts_col, F.max_by)

    def tumble(self, ts_col: str, size: str) -> "WindowedStream":
        return WindowedStream(self.df, self.keys, F.window(ts_col, size), ts_col)

    def hop(self, ts_col: str, size: str, slide: str) -> "WindowedStream":
        return WindowedStream(self.df, self.keys, F.window(ts_col, size, slide), ts_col)

    def session(self, ts_col: str, gap: str) -> "WindowedStream":
        return WindowedStream(self.df, self.keys, F.session_window(ts_col, gap), ts_col)

    def running_agg(
        self, value_col: str, ts_col: str, how: str = "sum"
    ) -> Stream:
        """Streaming OVER aggregate — per-row running sum/count/min/max
        over ROWS UNBOUNDED PRECEDING in event-time order (ref:
        StreamExecOverAggregate.scala:56,
        AbstractRowTimeUnboundedPrecedingOver.java:265).

        State = the accumulator (O(1) per key); each micro-batch sorts
        its rows by `ts_col`, folds them into the accumulator and emits
        every input row extended with `running_<how>`. Rows must arrive
        in event-time order across batches (watermark + ordered replay —
        same caveat as the reference's rowtime over-window, which also
        buffers per timestamp)."""
        import pandas as _pd

        if how not in ("sum", "count", "min", "max"):
            raise ValueError(f"unsupported running aggregate: {how}")
        keys = self.keys
        out_col = f"running_{how}"
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in self.df.schema.fields
        ) + f", {out_col} double"

        def fn(key, pdf_iter, state):
            acc = state.get[0] if state.exists else None
            new = _pd.concat(list(pdf_iter), ignore_index=True)
            new = new.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
            vals = new[value_col].astype("float64")
            if how == "sum":
                run = vals.cumsum() + (acc or 0.0)
                acc = float(run.iloc[-1]) if len(run) else acc
            elif how == "count":
                run = _pd.Series(range(1, len(vals) + 1), dtype="float64") + (acc or 0.0)
                acc = float(run.iloc[-1]) if len(run) else acc
            elif how == "min":
                run = vals.cummin()
                if acc is not None:
                    run = run.clip(upper=acc)
                acc = float(run.iloc[-1]) if len(run) else acc
            else:
                run = vals.cummax()
                if acc is not None:
                    run = run.clip(lower=acc)
                acc = float(run.iloc[-1]) if len(run) else acc
            state.update((acc,))
            out = new.copy()
            out[out_col] = run
            yield out

        return Stream(
            self.df.groupBy(*keys).applyInPandasWithState(
                fn, out_schema, "acc double", "append", "NoTimeout"
            )
        )

    def count_window(self, n: int, value_col: str, ts_col: str) -> Stream:
        """Count-based tumbling window over the stream (ref:
        KeyedStream.countWindow:643 — GlobalWindows + CountTrigger).

        Emits (keys..., w_id, cnt, sum_value) once a key accumulates `n`
        rows; the in-flight window (cnt, partial sum, window index) is
        the only state — O(1) per key, exactly the reference's
        count-trigger accumulator. Rows are folded in event-time order
        within each batch; cross-batch order follows arrival (same
        caveat as the reference's processing-order count windows).
        """
        import pandas as _pd

        keys = self.keys
        # iterate `keys` (not schema field order): emitted tuples are in
        # key order, so the schema must be too or columns misalign
        key_fields = ", ".join(
            f"{k} {self.df.schema[k].dataType.simpleString()}" for k in keys
        )
        out_schema = f"{key_fields}, w_id long, cnt long, sum_value double"

        def fn(key, pdf_iter, state):
            w_id, cnt, acc = state.get if state.exists else (0, 0, 0.0)
            rows = _pd.concat(list(pdf_iter), ignore_index=True)
            rows = rows.sort_values(ts_col, kind="mergesort")
            out = []
            for v in rows[value_col].astype("float64"):
                cnt += 1
                acc += v
                if cnt == n:
                    out.append((*key, w_id, cnt, acc))
                    w_id, cnt, acc = w_id + 1, 0, 0.0
            state.update((w_id, cnt, acc))
            if out:
                yield _pd.DataFrame(
                    out, columns=[*keys, "w_id", "cnt", "sum_value"]
                )

        return Stream(
            self.df.groupBy(*keys).applyInPandasWithState(
                fn,
                out_schema,
                "w_id long, cnt long, sum_value double",
                "append",
                "NoTimeout",
            )
        )

    def count_window_slide(
        self, size: int, slide: int, value_col: str, ts_col: str
    ) -> Stream:
        """Sliding count window (ref: KeyedStream.countWindow(size,
        slide) KeyedStream.java:653 — GlobalWindows + CountEvictor(size)
        + CountTrigger(slide)): every ``slide`` records per key, emit an
        aggregate over the last ``size`` records.

        State per key is the ring buffer of the newest ``size-1`` values
        plus the record counter — O(size), the same bound as the
        reference's CountEvictor.  Emits (keys..., fire_seq, cnt,
        sum_value); early windows with < size rows fire too.
        """
        import pandas as _pd

        keys = self.keys
        key_fields = ", ".join(
            f"{k} {self.df.schema[k].dataType.simpleString()}" for k in keys
        )
        out_schema = f"{key_fields}, fire_seq long, cnt long, sum_value double"

        def fn(key, pdf_iter, state):
            pos, buf = state.get if state.exists else (0, [])
            buf = list(buf or [])
            rows = _pd.concat(list(pdf_iter), ignore_index=True)
            rows = rows.sort_values(ts_col, kind="mergesort")
            out = []
            for v in rows[value_col].astype("float64"):
                buf.append(float(v))
                if len(buf) > size:
                    buf.pop(0)
                pos += 1
                if pos % slide == 0:
                    out.append((*key, pos, len(buf), sum(buf)))
            state.update((pos, buf))
            if out:
                yield _pd.DataFrame(
                    out, columns=[*keys, "fire_seq", "cnt", "sum_value"]
                )

        return Stream(
            self.df.groupBy(*keys).applyInPandasWithState(
                fn,
                out_schema,
                "pos long, buf array<double>",
                "append",
                "NoTimeout",
            )
        )

    def as_queryable_state(
        self, name: str, *agg_exprs
    ) -> "QueryableStateHandle":
        """Queryable-state substitute (ref: KeyedStream.asQueryableState
        :1005, flink-queryable-state/): expose the latest per-key
        aggregate for point lookups from outside the job.

        The keyed aggregate runs in ``complete`` mode into an in-memory
        sink table named ``name``; :meth:`QueryableStateHandle.get` is
        the client-side point query.  (On a cluster the same surface
        would back onto a Delta/parquet sink — the memory sink is the
        local-mode analog, per SURVEY §2.10.)
        """
        agg = self.df.groupBy(*self.keys).agg(*[_col(e) for e in agg_exprs])
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        return QueryableStateHandle(self.df.sparkSession, name, self.keys, query)

    def top_n(self, n: int, order_col: str, desc: bool = True) -> Stream:
        """Incremental streaming Top-N per key (ref: StreamExecRank.scala:53
        AppendFast strategy — AppendOnlyTopNFunction.java:222: append-only
        input, keep a per-key n-element buffer, re-emit on change).

        State = the current top-n rows (pickled buffer, like streaming
        CEP); each micro-batch merges its rows and emits the key's full
        refreshed top-n snapshot with a `rank` column (the reference
        emits retract+insert pairs; consumers here take the latest
        snapshot per key — changelog semantics via `__change`-style
        convention documented in SURVEY §2.10).

        Scale: state is O(n) per key — the exact property that makes the
        reference's AppendFast strategy cheap — and only changed keys
        emit.
        """
        import pickle

        import pandas as _pd

        keys = self.keys
        schema_src = self.df.schema
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema_src.fields
        ) + ", rank int"

        def fn(key, pdf_iter, state):
            buf = (
                pickle.loads(bytes(state.get[0]))
                if state.exists and state.get[0] is not None
                else None
            )
            new = _pd.concat(list(pdf_iter), ignore_index=True)
            full = _pd.concat([buf, new], ignore_index=True) if buf is not None else new
            full = full.sort_values(
                order_col, ascending=not desc, kind="mergesort"
            ).head(n).reset_index(drop=True)
            state.update((pickle.dumps(full),))
            out = full.copy()
            out["rank"] = range(1, len(out) + 1)
            yield out

        return Stream(
            self.df.groupBy(*keys).applyInPandasWithState(
                fn, out_schema, "buffer binary", "append", "NoTimeout"
            )
        )

    def process(self, func, state_schema, output_schema, timeout: str = "NoTimeout") -> Stream:
        """Keyed stateful ProcessFunction (ref: KeyedProcessOperator.java,
        InternalTimerService.java) → ``applyInPandasWithState``.

        ``func(key, pdf_iter, state)`` with a GroupState handle; timers map
        to state timeouts (ProcessingTimeTimeout / EventTimeTimeout).
        """
        return Stream(
            self.df.groupBy(*self.keys).applyInPandasWithState(
                func, output_schema, state_schema, "append", timeout
            )
        )


class QueryableStateHandle:
    """Client handle for :meth:`KeyedStream.as_queryable_state` — point
    queries against the latest committed per-key aggregate (ref:
    flink-queryable-state/ QueryableStateClient semantics)."""

    def __init__(self, spark, name: str, keys: list[str], query):
        self.spark = spark
        self.name = name
        self.keys = keys
        self.query = query

    def get(self, *key_values):
        """Point lookup: latest aggregate row for `key_values`, or None."""
        df = self.spark.table(self.name)
        for k, v in zip(self.keys, key_values):
            df = df.where(F.col(k) == F.lit(v))
        rows = df.collect()
        return rows[0] if rows else None

    def snapshot(self) -> DataFrame:
        """Whole-state scan (every key's latest aggregate)."""
        return self.spark.table(self.name)

    def stop(self):
        self.query.stop()


class WindowedStream:
    """Keyed windowed stream (ref: WindowedStream.java)."""

    def __init__(
        self, df: DataFrame, keys: list[str], window_col: Column, ts_col: str | None = None
    ):
        self.df = df
        self.keys = keys
        self.window_col = window_col.alias("w")
        self.ts_col = ts_col

    def aggregate(self, *agg_exprs) -> Stream:
        agg = self.df.groupBy(self.window_col, *self.keys).agg(
            *[_col(e) for e in agg_exprs]
        )
        flat = agg.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *[c for c in agg.columns if c != "w"],
        )
        return Stream(flat)

    def _grouped(self):
        return self.df.withColumn("w", self.window_col).groupBy("w", *self.keys)

    def reduce(self, fn) -> Stream:
        """ReduceFunction over the window's rows (ref: WindowedStream.java
        reduce — pairwise fold in arrival order; here event-time order by
        the window's `ts_col`, the deterministic refinement).  `fn(a, b)`
        takes and returns row dicts with the input schema; output is one
        row per (key, window) plus window_start/window_end.

        Scale: applyInPandas per (key, window) group — groups are bounded
        by the window size, shuffled once on their natural grouping key.
        """
        import functools

        data_cols = self.df.columns
        ts = self.ts_col
        out_schema = ", ".join(
            ["window_start timestamp", "window_end timestamp"]
            + [f"{c} {t}" for c, t in self.df.dtypes]
        )

        def run(key, pdf):
            import pandas as pd

            pdf = pdf.sort_values(ts) if ts else pdf.sort_values(data_cols)
            rows = pdf[data_cols].to_dict("records")
            acc = functools.reduce(fn, rows)
            acc = {"window_start": pdf["w"].iloc[0]["start"],
                   "window_end": pdf["w"].iloc[0]["end"], **acc}
            return pd.DataFrame([acc])

        return Stream(self._grouped().applyInPandas(run, out_schema))

    def fold(self, initial: dict, fn, schema: str) -> Stream:
        """Deprecated-in-reference fold (WindowedStream.java fold):
        ``fn(acc, row) -> acc`` starting from ``initial``; output columns
        = ``schema`` plus window bounds."""
        data_cols = self.df.columns
        ts = self.ts_col

        def run(key, pdf):
            import pandas as pd

            pdf = pdf.sort_values(ts) if ts else pdf.sort_values(data_cols)
            acc = dict(initial)
            for row in pdf[data_cols].to_dict("records"):
                acc = fn(acc, row)
            acc = {"window_start": pdf["w"].iloc[0]["start"],
                   "window_end": pdf["w"].iloc[0]["end"], **acc}
            return pd.DataFrame([acc])

        out_schema = f"window_start timestamp, window_end timestamp, {schema}"
        return Stream(self._grouped().applyInPandas(run, out_schema))

    def process(self, fn, schema: str) -> Stream:
        """ProcessWindowFunction (ref: WindowedStream.java process,
        ProcessWindowFunction.java — the whole window's rows as an
        iterable plus the window metadata).  ``fn(keys: tuple, window:
        dict[start,end], pdf) -> pdf`` may emit any number of rows;
        ``schema`` describes the output columns."""
        n_keys = len(self.keys)

        def run(key, pdf):
            w = pdf["w"].iloc[0]
            window = {"start": w["start"], "end": w["end"]}
            return fn(tuple(key[1 : n_keys + 1]), window, pdf.drop(columns=["w"]))

        return Stream(self._grouped().applyInPandas(run, schema))

    def apply(self, fn, schema: str) -> Stream:
        """WindowFunction (ref: WindowedStream.java apply) — same contract
        as :meth:`process` without timer access (none exists in either
        engine's window path)."""
        return self.process(fn, schema)


class JoinedStreams:
    """ref: JoinedStreams.java:128 (where), :170 (window), :272 (apply)
    — inner equi-join of two streams within the same tumbling/sliding
    window, expressed as a native join on (key, window) so Catalyst
    plans an ordinary shuffled/broadcast hash join (plus watermark-state
    bounds when the inputs are streaming)."""

    def __init__(self, left: Stream, right: Stream):
        self.left = left
        self.right = right
        self.left_keys: list[str] = []
        self.right_keys: list[str] = []
        self._win: tuple[str, str, str, str | None] | None = None

    def where(self, *cols: str) -> "JoinedStreams":
        self.left_keys = list(cols)
        return self

    def equal_to(self, *cols: str) -> "JoinedStreams":
        self.right_keys = list(cols)
        return self

    def window(
        self, left_ts: str, right_ts: str, size: str, slide: str | None = None
    ) -> "JoinedStreams":
        self._win = (left_ts, right_ts, size, slide)
        return self

    def apply(self, *select_exprs) -> Stream:
        if not self.left_keys or len(self.left_keys) != len(self.right_keys):
            raise ValueError("join needs where(...) and equal_to(...) of equal arity")
        if self._win is None:
            raise ValueError("join needs window(left_ts, right_ts, size)")
        lts, rts, size, slide = self._win
        # window assignment happens as a projection on each side (the
        # reference assigns windows before the join too); the join is
        # then a plain equi-join on (keys..., window struct), which
        # Catalyst plans as an ordinary hash join.
        wl = F.window(lts, size, slide) if slide else F.window(lts, size)
        wr = F.window(rts, size, slide) if slide else F.window(rts, size)
        a = self.left.df.withColumn("__wa", wl).alias("a")
        b = self.right.df.withColumn("__wb", wr).alias("b")
        cond = F.col("a.__wa") == F.col("b.__wb")
        for lk, rk in zip(self.left_keys, self.right_keys):
            cond = cond & (F.col(f"a.{lk}") == F.col(f"b.{rk}"))
        joined = a.join(b, cond)
        # keys are equal by construction — drop the right-side copies so
        # the common Flink pattern where("uid").equal_to("uid") (same
        # column name on both sides) yields unambiguous output
        for lk, rk in zip(self.left_keys, self.right_keys):
            if lk == rk:
                joined = joined.drop(F.col(f"b.{rk}"))
        if select_exprs:
            joined = joined.select(*[_col(e) for e in select_exprs])
        else:
            joined = joined.drop("__wa", "__wb")
        return Stream(joined)


class CoGroupedStreams:
    """ref: CoGroupedStreams.java:1 — unlike join, BOTH per-key window
    groups reach the apply function, including one-sided ones; backed by
    Spark's native cogroup + applyInPandas."""

    def __init__(self, left: Stream, right: Stream):
        self._j = JoinedStreams(left, right)

    def where(self, *cols: str) -> "CoGroupedStreams":
        self._j.where(*cols)
        return self

    def equal_to(self, *cols: str) -> "CoGroupedStreams":
        self._j.equal_to(*cols)
        return self

    def window(
        self, left_ts: str, right_ts: str, size: str, slide: str | None = None
    ) -> "CoGroupedStreams":
        self._j.window(left_ts, right_ts, size, slide)
        return self

    def apply(self, fn, schema: str) -> Stream:
        """``fn(key: tuple, left_pdf, right_pdf) -> pdf`` per (key,
        window) pair; `key` ends with the window Row (start/end)."""
        j = self._j
        if not j.left_keys or len(j.left_keys) != len(j.right_keys):
            raise ValueError("co_group needs where(...) and equal_to(...) of equal arity")
        if j._win is None:
            raise ValueError("co_group needs window(left_ts, right_ts, size)")
        lts, rts, size, slide = j._win
        wl = F.window(lts, size, slide) if slide else F.window(lts, size)
        wr = F.window(rts, size, slide) if slide else F.window(rts, size)
        lg = j.left.df.withColumn("__w", wl).groupBy(*j.left_keys, "__w")
        rg = j.right.df.withColumn("__w", wr).groupBy(*j.right_keys, "__w")

        def run(key, l_pdf, r_pdf):
            return fn(
                tuple(key),
                l_pdf.drop(columns=["__w"], errors="ignore"),
                r_pdf.drop(columns=["__w"], errors="ignore"),
            )

        return Stream(lg.cogroup(rg).applyInPandas(run, schema))


class AssignerWithPunctuatedWatermarks:
    """API-shape parity with the reference's per-record punctuated
    assigner (ref: flink-streaming-java/.../functions/timestamps/
    AssignerWithPunctuatedWatermarks.java): subclass and override both
    methods with COLUMN expressions — the per-record decision runs
    JVM-side, applied through :meth:`Stream.assign_punctuated`.

    - ``extract_timestamp(df)`` → the event-time Column
      (extractTimestamp)
    - ``check_and_get_next_watermark(df, ts)`` → a Column that is
      non-null exactly on watermark-announcing records and carries the
      announced watermark (checkAndGetNextWatermark returning null =
      no watermark)
    """

    def extract_timestamp(self, df: DataFrame):
        raise NotImplementedError("override with a Column expression")

    def check_and_get_next_watermark(self, df: DataFrame, ts):
        raise NotImplementedError("override with a Column expression")

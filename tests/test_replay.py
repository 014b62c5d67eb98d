"""Ordered micro-batch replay (``StreamExecutionEnvironment.from_batches``)
and the throwaway checkpoints of the availableNow sinks.

``from_batches`` is the replay contract every graded streaming query
stands on: batch *i* arrives as micro-batch *i*, a far-future sentinel
batch flushes the watermarked tail, and re-staging into the same path
yields the same file names (a checkpointed restart skips committed
files by name)."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from my_flink_1_10_2_spark.streaming import StreamExecutionEnvironment

# (k, event time in seconds) per batch; 20-second tumbling windows put
# each batch in its own window
BATCHES = [[(1, 5), (2, 15)], [(3, 25)], [(4, 45), (5, 55)]]
SENTINEL = [(-1, 1_000_000_000)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, s long").select(
        "k", F.timestamp_seconds("s").alias("ts")
    )


def _replay(spark, path, sentinel=True):
    batches = [_df(spark, rows) for rows in BATCHES]
    if sentinel:
        batches.append(_df(spark, SENTINEL))
    return StreamExecutionEnvironment(spark).from_batches(batches, path)


def _windows(spark, path, sentinel):
    out = []
    (
        _replay(spark, path, sentinel)
        .with_watermark("ts", "0 seconds")
        .tumble_all("ts", "20 seconds")
        .aggregate(F.count(F.lit(1)).alias("n"))
        .for_each_batch(
            lambda df, _bid: out.extend(
                df.select(F.col("window_start").cast("long"), "n").collect()
            )
        )
    )
    return sorted(tuple(r) for r in out)


def test_from_batches_replays_one_batch_per_micro_batch(spark, tmp_path):
    seen = {}

    def sink(df, bid):
        rows = sorted(map(tuple, df.select("k", F.col("ts").cast("long")).collect()))
        if rows:
            seen[bid] = rows

    path = str(tmp_path / "replay")
    _replay(spark, path).for_each_batch(sink)
    assert [seen[b] for b in sorted(seen)] == [*BATCHES, SENTINEL]

    names = sorted(os.listdir(path))
    assert len(names) == len(BATCHES) + 1
    _replay(spark, path)  # re-staging keeps the names a restart relies on
    assert sorted(os.listdir(path)) == names


def test_from_batches_sentinel_flushes_watermarked_tail(spark, tmp_path):
    flushed = _windows(spark, str(tmp_path / "with"), sentinel=True)
    assert flushed == [(0, 2), (20, 1), (40, 2)]
    # without the sentinel the last window never passes the watermark
    held = _windows(spark, str(tmp_path / "without"), sentinel=False)
    assert held == [(0, 2), (20, 1)]


def test_throwaway_checkpoints_are_removed(spark, tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    env = StreamExecutionEnvironment(spark)

    _replay(spark, str(tmp_path / "a")).for_each_batch(lambda df, bid: None)
    own = tmp_path / "own_ckpt"
    _replay(spark, str(tmp_path / "b")).for_each_batch(
        lambda df, bid: None, checkpoint=str(own)
    )
    assert own.is_dir()  # a caller-supplied checkpoint is kept

    left = env.from_batches(
        [spark.createDataFrame([(1, "a")], "lk long, lv string")], str(tmp_path / "l")
    )
    right = env.from_batches(
        [spark.createDataFrame([(1, "x")], "rk long, rv string")], str(tmp_path / "r")
    )
    rj = left.retract_join(right, on=[("lk", "rk")])
    try:
        rj.run(lambda df, bid: None)
    finally:
        rj.cleanup()

    leaked = glob.glob(str(tmp / "fl_ckpt_*")) + glob.glob(str(tmp / "fl_join_ckpt_*"))
    assert leaked == []

"""Contiguous-range shard assignment for the export writers — the
decide-on-keys / move-payload-once split (optimization guide §8).

Every shard writer (webdataset / tfrecord / wet / jsonl.zst / arrow-ipc /
npy) packs samples into fixed-size shards by global key rank:
``shard = (rank - 1) div samples_per_shard`` under ``ORDER BY key``.
The original shape ran :func:`operators.rank.global_rank` over the FULL
payload rows — a range exchange of the payload, a full-payload
localCheckpoint pin, and the offsets machinery on wide rows — before the
``groupBy(shard)`` exchange into the write kernel moved the payload a
second time.

Every decision here depends only on the KEY column, so the payload only
needs to travel once: rank the keys-only projection, collect the shard
BOUNDARY keys (the keys at ranks S, 2S, ... — N/S values, metadata-scale:
8 MB per billion samples at S=1000), broadcast them, and compute each
row's shard map-side by vectorized binary search.  The payload then
crosses exactly one exchange — the caller's ``groupBy(shard)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def assign_contiguous_shards(
    df: DataFrame,
    key_col: str,
    samples_per_shard: int,
    shard_col: str = "__shard",
) -> DataFrame:
    """Attach ``shard_col`` = ``(global_rank(key) - 1) div
    samples_per_shard`` (ascending key order) without ever shuffling the
    payload columns.

    ``key_col`` must be non-null and UNIQUE (the writers' sample-key
    contract; global_rank's total-order requirement made the same
    assumption).  For a key with rank ``r``, the number of boundary keys
    strictly below it is exactly ``(r - 1) div S`` — uniqueness makes
    rank order and key order isomorphic — so a left-side binary search
    over the boundaries reproduces the rank arithmetic bit-for-bit.

    Driver footprint: one ``N div S`` row collect + broadcast (the shard
    count is metadata-scale by construction — it is also the number of
    output files).
    """
    from my_flink_1_10_2_spark.operators.iterate import released_on_exit
    from my_flink_1_10_2_spark.operators.rank import global_rank

    spark = df.sparkSession
    # the keys-only rank machinery pins a (narrow) lazy checkpoint;
    # nothing derived from it survives past the collect — release it
    with released_on_exit(spark):
        ranked = global_rank(
            df.select(key_col), [F.asc(key_col)], rank_col="__rk"
        )
        bounds = sorted(
            r[0]
            for r in ranked.where(F.col("__rk") % samples_per_shard == 0)
            .select(key_col)
            .collect()
        )
    if not bounds:
        return df.withColumn(shard_col, F.lit(0).cast("bigint"))
    bc = spark.sparkContext.broadcast(bounds)

    @pandas_udf("long")
    def _shard_of(keys):
        import numpy as np
        import pandas as pd

        b = bc.value
        try:
            arr = np.asarray(b, dtype="int64")
            vals = keys.to_numpy(dtype="int64", copy=False)
        except (TypeError, ValueError, OverflowError):
            arr = np.asarray(b, dtype=object)
            vals = keys.to_numpy(dtype=object, copy=False)
        return pd.Series(
            np.searchsorted(arr, vals, side="left").astype("int64")
        )

    return df.withColumn(shard_col, _shard_of(F.col(key_col)))

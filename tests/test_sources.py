"""Connector-surface tests (SURVEY §2.1): format roundtrips, bounded
sources, and the two-phase-commit sink's idempotence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from my_flink_1_10_2_spark import sources
from tests.conftest import SF_DIR


@pytest.fixture
def sample(spark):
    return sources.read_parquet(spark, f"{SF_DIR}/nation.parquet")


def _assert_same_rows(a, b):
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_from_elements(spark):
    df = sources.from_elements(spark, [(1, "a"), (2, "b")], schema="id INT, s STRING")
    assert df.count() == 2
    assert [f.name for f in df.schema.fields] == ["id", "s"]


def test_csv_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "nation_csv")
    sources.write_csv(sample, path)
    back = sources.read_csv(spark, path, schema=sample.schema)
    _assert_same_rows(sample, back)


def test_json_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "nation_json")
    sources.write_json(sample, path)
    back = sources.read_json(spark, path, schema=sample.schema)
    _assert_same_rows(sample, back)


def test_orc_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "nation_orc")
    sources.write_orc(sample, path)
    back = sources.read_orc(spark, path)
    _assert_same_rows(sample, back)


def test_text_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "nation_txt")
    sources.write_text(sample.select(F.col("n_name").alias("value")), path)
    back = sources.read_text(spark, path)
    assert sorted(r.value for r in back.collect()) == sorted(
        r.n_name for r in sample.collect()
    )


def test_partitioned_parquet_prunes(spark, tmp_path):
    """Directory partitioning must enable partition pruning at read."""
    from my_flink_1_10_2_spark.plans import explain_str

    path = str(tmp_path / "orders_part")
    orders = sources.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    sources.write_parquet(orders, path, partition_by=["o_orderstatus"])
    back = sources.read_parquet(spark, path).where(F.col("o_orderstatus") == "F")
    plan = explain_str(back)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    assert back.count() == orders.where(F.col("o_orderstatus") == "F").count()


def test_transactional_sink_idempotence(spark, tmp_path):
    """Replayed batch ids must not double-write (ref:
    TwoPhaseCommitSinkFunction.java:77 recovery semantics)."""
    written = []
    sink = sources.TransactionalForeachBatchSink(
        lambda df, bid: written.append(bid), str(tmp_path / "manifest")
    )
    df = spark.range(3)
    sink(df, 0)
    sink(df, 1)
    sink(df, 0)  # replay after simulated failure
    assert written == [0, 1]
    # a fresh sink instance over the same manifest still skips
    sink2 = sources.TransactionalForeachBatchSink(
        lambda df, bid: written.append(bid), str(tmp_path / "manifest")
    )
    sink2(df, 1)
    sink2(df, 2)
    assert written == [0, 1, 2]


def test_rate_source_and_memory_sink(spark):
    stream = sources.rate_source(spark, rows_per_second=50)
    assert stream.isStreaming
    q = sources.memory_sink(stream, "rate_smoke")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.table("rate_smoke").columns == ["timestamp", "value"]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with
    ZERO Exchange nodes — the co-located join the 100 TB layout is
    built around."""
    from my_flink_1_10_2_spark.plans import num_shuffles, sort_merge_join_count

    orders = sources.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    lineitem = sources.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    sources.write_bucketed(
        orders, "orders_b", 8, "o_orderkey", path=str(tmp_path / "orders_b")
    )
    sources.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", 8, "o_orderkey", path=str(tmp_path / "lineitem_b"),
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("orders_b")
            .join(spark.table("lineitem_b"), "o_orderkey")
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert num_shuffles(joined) <= 1  # only the final groupBy exchange
        assert sort_merge_join_count(joined) == 1
        # correctness unchanged
        want = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy("o_orderstatus").agg(F.sum("l_quantity").alias("q"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_sequence_file_roundtrip(spark, sample, tmp_path):
    """SequenceFile via the RDD bridge (ref: flink-formats/
    flink-sequence-file/) — the one legitimately-RDD connector."""
    path = str(tmp_path / "nation_seq")
    kv = sample.select(F.col("n_nationkey").alias("key"), F.col("n_name").alias("value"))
    sources.write_sequence_file(kv, path)
    back = sources.read_sequence_file(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        (str(r.key), r.value) for r in kv.collect()
    )


def test_compressed_text_roundtrip(spark, sample, tmp_path):
    """gzip-compressed text write + transparent decompressing read
    (ref: flink-formats/flink-compress/)."""
    import glob

    path = str(tmp_path / "nation_txt_gz")
    sources.write_text(
        sample.select(F.col("n_name").alias("value")), path, compression="gzip"
    )
    assert glob.glob(f"{path}/*.gz"), "expected gzip part files"
    back = sources.read_text(spark, path)
    assert sorted(r.value for r in back.collect()) == sorted(
        r.n_name for r in sample.collect()
    )

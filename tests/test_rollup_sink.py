"""Streaming incremental aggregation: additive bucketed rollup store."""

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.plans.rollup import rollup_single_pass
from siddhi_io_cdc_spark.sources.polling import register_cdc_poll
from siddhi_io_cdc_spark.streaming.rollup_sink import (
    foreach_batch_rollup,
    merge_rollup_batch,
    read_rollup,
)


def _rollup_state(spark, store, gs):
    return {
        (r.k, r.granularity_sec, r.bucket_start): (r.sum_value, r.n_events, r.min_value, r.max_value)
        for r in read_rollup(spark, store, ["k"], gs).collect()
    }


def _batch_state(df, gs):
    return {
        (r.k, r.granularity_sec, r.bucket_start): (r.sum_value, r.n_events, r.min_value, r.max_value)
        for r in rollup_single_pass(df, "t", ["k"], "v", gs).collect()
    }


def test_merged_batches_equal_one_shot_rollup(spark, tmp_path):
    store = str(tmp_path / "store")
    gs = (10, 100)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id AS t", "CAST(id % 3 AS STRING) AS k", "CAST(id % 7 AS DOUBLE) AS v"
    )
    # three micro-batches with interleaved/overlapping buckets
    merge_rollup_batch(spark, store, mk(0, 40), "t", ["k"], "v", granularity=10)
    merge_rollup_batch(spark, store, mk(40, 95), "t", ["k"], "v", granularity=10)
    merge_rollup_batch(spark, store, mk(95, 200), "t", ["k"], "v", granularity=10)
    assert _rollup_state(spark, store, gs) == _batch_state(mk(0, 200), gs)


def test_merge_is_partition_pruned(spark, tmp_path):
    store = str(tmp_path / "store")
    big = spark.range(0, 1000).selectExpr(
        "id AS t", "CAST(id % 3 AS STRING) AS k", "CAST(1 AS DOUBLE) AS v"
    )
    merge_rollup_batch(spark, store, big, "t", ["k"], "v", granularity=10, num_buckets=16)
    buckets = {d for d in os.listdir(store) if d.startswith("__bucket=")}
    assert len(buckets) > 4  # groups spread across many buckets
    # A one-group batch touches exactly the buckets it hashes into: record
    # per-bucket mtimes and check untouched dirs are untouched.
    before = {d: os.path.getmtime(os.path.join(store, d)) for d in buckets}
    tiny = spark.createDataFrame([(5, "0", 1.0)], "t long, k string, v double")
    merge_rollup_batch(spark, store, tiny, "t", ["k"], "v", granularity=10, num_buckets=16)
    after = {d: os.path.getmtime(os.path.join(store, d)) for d in buckets}
    changed = [d for d in buckets if before[d] != after[d]]
    assert len(changed) == 1  # exactly the one touched bucket rewritten


def test_empty_batch_leaves_store_unchanged(spark, tmp_path):
    """A zero-row micro-batch after a non-empty one is a no-op, not a
    schema-inference failure on an empty staging directory."""
    store = str(tmp_path / "store")
    gs = (10, 100)
    batch = spark.range(0, 50).selectExpr(
        "id AS t", "CAST(id % 3 AS STRING) AS k", "CAST(id % 7 AS DOUBLE) AS v"
    )
    merge_rollup_batch(spark, store, batch, "t", ["k"], "v", granularity=10)
    before = _rollup_state(spark, store, gs)
    merge_rollup_batch(spark, store, batch.where("false"), "t", ["k"], "v", granularity=10)
    assert _rollup_state(spark, store, gs) == before == _batch_state(batch, gs)


def test_streaming_cdc_poll_to_rollup_store(spark, tmp_path):
    tbl, store = str(tmp_path / "tbl"), str(tmp_path / "store")
    os.makedirs(tbl)

    def append(ids):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "k": pa.array([str(i % 2) for i in ids], pa.string()),
                    "v": pa.array([float(i % 5) for i in ids], pa.float64()),
                }
            ),
            os.path.join(tbl, f"p-{time.time_ns()}.parquet"),
        )

    append(range(0, 30))
    register_cdc_poll(spark)
    q = (
        spark.readStream.format("cdc-poll")
        .option("path", tbl)
        .option("pollingColumn", "id")
        .option("startFrom", "earliest")
        .load()
        .writeStream.foreachBatch(
            foreach_batch_rollup(spark, store, "id", ["k"], "v", granularity=10)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        append(range(30, 75))
        q.processAllAvailable()
    finally:
        q.stop()
    df = spark.createDataFrame(
        [(i, str(i % 2), float(i % 5)) for i in range(75)], "t long, k string, v double"
    )
    assert _rollup_state(spark, store, (10, 100)) == _batch_state(df, (10, 100))


def test_replayed_batch_not_double_counted(spark, tmp_path):
    store = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a", 2.0), (15, "a", 3.0)], "t long, k string, v double")
    fb = foreach_batch_rollup(spark, store, "t", ["k"], "v", granularity=10)
    fb(df, 0)
    fb(df, 0)  # crash-restart redelivery of the SAME batch id
    state = _rollup_state(spark, store, (10,))
    assert state == {("a", 10, 0): (2.0, 1, 2.0, 2.0), ("a", 10, 10): (3.0, 1, 3.0, 3.0)}
    fb(df, 1)  # a genuinely new batch still applies
    state = _rollup_state(spark, store, (10,))
    assert state[("a", 10, 0)] == (4.0, 2, 2.0, 2.0)

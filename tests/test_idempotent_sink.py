"""Exactly-once foreachBatch sink: replayed batch ids must not duplicate."""

from __future__ import annotations

import os

from pyspark.sql import Row


def test_replayed_batch_id_is_skipped(spark, tmp_path):
    from nyuki_spark.streaming.sink import committed_batches, idempotent_parquet_sink

    out = str(tmp_path / "sink")
    write = idempotent_parquet_sink(out)
    write(spark.createDataFrame([Row(v=1), Row(v=2)]), 0)
    write(spark.createDataFrame([Row(v=3)]), 1)
    # crash-replay of batch 1 with (hypothetically re-computed) same data:
    write(spark.createDataFrame([Row(v=3)]), 1)
    # One write task per task slot: an 8-partition batch writes at most
    # defaultParallelism part files, and all of its rows.
    wide = spark.range(100, 180, numPartitions=8).selectExpr("CAST(id AS INT) AS v")
    write(wide, 2)
    parts = [f for f in os.listdir(f"{out}/batch_id=2") if f.startswith("part-")]
    assert 1 <= len(parts) <= min(8, spark.sparkContext.defaultParallelism)
    # ...and its replay is skipped like any other committed id.
    write(spark.createDataFrame([Row(v=-1)]), 2)
    assert committed_batches(out) == [0, 1, 2]
    got = spark.read.parquet(out)
    assert sorted(r.v for r in got.collect()) == [1, 2, 3, *range(100, 180)]
    # batch_id is a readable partition column (audit trail)
    assert sorted(r.batch_id for r in got.select("batch_id").distinct().collect()) == [0, 1, 2]


def test_streaming_end_to_end_exactly_once(spark, tmp_path):
    """Full pipeline: replayed stream -> idempotent sink; sink content equals
    the batch answer even though foreachBatch may retry."""
    import shutil
    import tempfile

    from nyuki_spark.catalog import load_table
    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.sink import idempotent_parquet_sink

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type"
    )
    scratch = tempfile.mkdtemp(prefix="nyuki-sink-")
    try:
        sdf = replay_stream(spark, events, n_chunks=3, scratch_dir=scratch)
        out = str(tmp_path / "out")
        q = (
            sdf.writeStream.foreachBatch(idempotent_parquet_sink(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(out)
        assert got.count() == events.count()
        assert got.select("event_id").distinct().count() == events.count()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

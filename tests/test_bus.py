"""Bus source/sink tests: subscribe, publish, replay-from-checkpoint.

The replay test is the reference's core bus guarantee (store-and-forward:
missed messages are delivered after reconnect, nothing is delivered
twice): restarting the subscription from its checkpoint must consume
exactly the segments published while it was down.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyuki_spark.sources.bus import (
    _MAX_PARTITION_BYTES,
    _OFFSET_STRIDE,
    _plan,
    publish_rows,
    register_bus,
)


def _drain(spark, root, checkpoint, topic=None):
    """Run the bus subscription to exhaustion; return collected rows.

    foreachBatch sink: unlike the memory sink it supports restart from an
    existing checkpoint, which is exactly what the replay test exercises.
    """
    reader = spark.readStream.format("nyuki_bus").option("path", root)
    if topic:
        reader = reader.option("topic", topic)
    collected = []
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return collected


def test_batch_read_and_topic_filter(spark, tmp_path):
    register_bus(spark)
    root = str(tmp_path / "bus")
    publish_rows(root, "orders", [{"id": 1}, {"id": 2}])
    publish_rows(root, "alerts", [{"sev": "hi"}])
    df = spark.read.format("nyuki_bus").option("path", root).load()
    assert df.count() == 3
    assert df.where(F.col("topic") == "orders").count() == 2
    only = spark.read.format("nyuki_bus").option("path", root).option("topic", "alerts").load()
    assert [r.topic for r in only.collect()] == ["alerts"]


def test_stream_replay_from_checkpoint(spark, tmp_path):
    register_bus(spark)
    root = str(tmp_path / "bus")
    cp = str(tmp_path / "cp")
    publish_rows(root, "orders", [{"id": 1}, {"id": 2}])
    first = _drain(spark, root, cp)
    assert len(first) == 2

    # Broker keeps receiving while the consumer is down...
    publish_rows(root, "orders", [{"id": 3}])
    publish_rows(root, "alerts", [{"sev": "low"}])
    # ...and on reconnect, exactly the missed segments are delivered.
    second = _drain(spark, root, cp)
    assert len(second) == 2
    payloads = sorted(r.payload for r in second)
    assert payloads == ['{"id": 3}', '{"sev": "low"}']


def test_publish_via_writer_roundtrip(spark, tmp_path):
    register_bus(spark)
    root = str(tmp_path / "bus")
    df = spark.createDataFrame(
        [("orders", '{"id": 9}'), ("alerts", '{"sev": "mid"}')], "topic string, payload string"
    )
    df.write.format("nyuki_bus").option("path", root).mode("append").save()
    back = spark.read.format("nyuki_bus").option("path", root).load()
    assert sorted((r.topic, r.payload) for r in back.collect()) == [
        ("alerts", '{"sev": "mid"}'),
        ("orders", '{"id": 9}'),
    ]


def test_kafka_wire_batch_schema_and_offsets(spark, tmp_path):
    """wire=kafka emits the exact Spark Kafka-connector schema, with
    monotonic per-topic offsets and decodable binary values."""
    from nyuki_spark.sources.bus import KAFKA_SCHEMA, kafka_wire_to_bus
    from pyspark.sql.types import _parse_datatype_string

    register_bus(spark)
    root = str(tmp_path / "bus")
    publish_rows(root, "orders", [{"id": 1}, {"id": 2}])
    publish_rows(root, "orders", [{"id": 3}])  # second segment
    publish_rows(root, "alerts", [{"sev": "hi"}])
    df = (
        spark.read.format("nyuki_bus")
        .option("path", root)
        .option("wire", "kafka")
        .load()
    )
    assert df.schema == _parse_datatype_string(KAFKA_SCHEMA)
    rows = df.collect()
    assert len(rows) == 4
    assert all(r.key is None and r.timestampType == 0 and r.partition == 0 for r in rows)
    order_offsets = sorted(r.offset for r in rows if r.topic == "orders")
    assert order_offsets == sorted(set(order_offsets))  # strictly monotonic
    assert order_offsets[-1] > order_offsets[0]  # later segment sorts later
    # Both orders segments are read by one packed partition; each keeps
    # its own index, so offset = seg_idx * stride + line.
    assert df.rdd.getNumPartitions() == 2  # one per topic
    assert order_offsets == [0, 1, _OFFSET_STRIDE]
    assert [r.offset for r in rows if r.topic == "alerts"] == [0]
    # the adapter restores the bus row shape pipelines are written against
    bus = kafka_wire_to_bus(df)
    assert bus.columns == ["topic", "payload"]
    assert sorted(r.payload for r in bus.where("topic = 'orders'").collect()) == [
        '{"id": 1}',
        '{"id": 2}',
        '{"id": 3}',
    ]


def _seg(topic: str, i: int, size: int) -> tuple[str, int, int]:
    return (os.path.join(topic, f"{i:020d}.jsonl"), i, size)


def test_plan_packs_consecutive_segments_per_topic():
    """30 small segments of one topic plus one of another plan as two
    read partitions, each in publish order."""
    segs = [_seg("orders", i, 100) for i in range(30)] + [_seg("alerts", 0, 50)]
    plan = _plan(segs)
    assert plan == [
        [(rel, idx) for rel, idx, _ in segs[:30]],
        [(segs[30][0], 0)],
    ]
    assert _plan([]) == []


def test_plan_splits_at_segment_boundary_past_cap():
    """A partition closes before the segment that would push it past the
    cap; the split never cuts a segment."""
    mb = 1 << 20
    segs = [_seg("events", i, 50 * mb) for i in range(5)]
    plan = _plan(segs)
    assert [[idx for _, idx in p] for p in plan] == [[0, 1], [2, 3], [4]]
    # Exactly at the cap still fits.
    exact = [_seg("events", 0, _MAX_PARTITION_BYTES - mb), _seg("events", 1, mb)]
    assert len(_plan(exact)) == 1


def test_plan_oversized_segment_gets_own_partition():
    big = _MAX_PARTITION_BYTES + 1
    segs = [_seg("events", 0, 10), _seg("events", 1, big), _seg("events", 2, 10)]
    plan = _plan(segs)
    assert [[idx for _, idx in p] for p in plan] == [[0], [1], [2]]


def test_batch_read_packs_segments_into_one_partition(spark, tmp_path):
    register_bus(spark)
    root = str(tmp_path / "bus")
    for i in range(30):
        publish_rows(root, "orders", [{"id": i}])
    df = spark.read.format("nyuki_bus").option("path", root).load()
    assert df.rdd.getNumPartitions() == 1
    # Rows come back in publish order from the one task.
    assert [r.payload for r in df.collect()] == [f'{{"id": {i}}}' for i in range(30)]
    # An empty bus still reads as one (empty) partition.
    empty = spark.read.format("nyuki_bus").option("path", str(tmp_path / "none")).load()
    assert empty.rdd.getNumPartitions() == 1 and empty.count() == 0


def test_stream_progress_carries_phase_durations(spark, tmp_path):
    """The listener keeps each batch's full durationMs map, so a bus
    drain's progress shows its addBatch and walCommit phases."""
    import time

    from nyuki_spark.plans.api import _progress_event
    from nyuki_spark.streaming.listener import MetricsListener

    register_bus(spark)
    root = str(tmp_path / "bus")
    publish_rows(root, "orders", [{"id": 1}, {"id": 2}])
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        assert len(_drain(spark, root, str(tmp_path / "cp"))) == 2
        # Listener events arrive asynchronously after the query ends.
        deadline = time.monotonic() + 30
        while not any(p.num_input_rows for p in listener.progress):
            assert time.monotonic() < deadline, "no progress event with rows"
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    data = [p for p in listener.progress if p.num_input_rows]
    for p in data:
        assert {"addBatch", "walCommit", "triggerExecution"} <= set(p.phase_ms)
        # ...and the HTTP /progress event shape carries the same map.
        assert _progress_event(p)["phase_ms"] == p.phase_ms


def test_kafka_wire_stream_and_sink_adapter(spark, tmp_path):
    """Streaming in wire=kafka + publishing back through bus_to_kafka_wire:
    the full pipeline shape a real broker deployment would use."""
    from nyuki_spark.sources.bus import bus_to_kafka_wire, kafka_wire_to_bus

    register_bus(spark)
    root = str(tmp_path / "bus")
    out_root = str(tmp_path / "bus_out")
    publish_rows(root, "events", [{"n": 1}, {"n": 2}])
    sdf = (
        spark.readStream.format("nyuki_bus")
        .option("path", root)
        .option("wire", "kafka")
        .load()
    )
    q = (
        kafka_wire_to_bus(sdf)
        .writeStream.format("nyuki_bus")
        .option("path", out_root)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.format("nyuki_bus").option("path", out_root).load()
    assert sorted(r.payload for r in got.collect()) == ['{"n": 1}', '{"n": 2}']
    # sink-side adapter produces the shape format("kafka") writes need
    wire = bus_to_kafka_wire(got)
    assert wire.columns == ["key", "value", "topic"]
    assert wire.schema["value"].dataType.typeName() == "binary"


def test_mid_replay_kill_then_restart_exactly_once(spark, tmp_path):
    """The store-and-forward contract under a CRASH, not a graceful stop
    (r4 VERDICT ask): the consumer dies when its sink throws mid-replay —
    after some batches committed, with delivered-but-uncommitted data in
    flight. On restart from the same checkpoint, Structured Streaming
    re-runs the killed batch with the SAME batch id and offsets (the bus
    offset = consumed-segment count, so exactly the unseen segments
    re-deliver), and the idempotent batch-id-keyed sink turns that
    at-least-once redelivery into exactly-once rows at the sink."""
    import json

    from nyuki_spark.streaming.sink import committed_batches, idempotent_parquet_sink

    register_bus(spark)
    root = str(tmp_path / "bus")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")
    marker = tmp_path / "crashed_once"
    base = idempotent_parquet_sink(out)

    def poisoned(df, batch_id):
        # Inject exactly one crash, the first time the batch carrying
        # {"id": 3} is delivered — after the offset WAL, before the sink
        # write: the worst-placed failure for a naive sink.
        if not marker.exists() and any(
            json.loads(r.payload).get("id") == 3 for r in df.collect()
        ):
            marker.touch()
            raise RuntimeError("injected mid-replay crash")
        base(df, batch_id)

    def run():
        q = (
            spark.readStream.format("nyuki_bus")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(poisoned)
            .outputMode("append")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    publish_rows(root, "orders", [{"id": 1}, {"id": 2}])
    run()  # batch 0 commits cleanly
    assert committed_batches(out) == [0]

    # Broker receives more while the consumer is live, then the sink
    # crashes on delivery: the query dies with batch 1 offset-logged but
    # uncommitted.
    publish_rows(root, "orders", [{"id": 3}])
    publish_rows(root, "alerts", [{"id": 4}])
    with pytest.raises(Exception, match="injected mid-replay crash"):
        run()
    assert committed_batches(out) == [0], "crashed batch must not commit"

    # Restart from the checkpoint: the same batch id re-delivers the same
    # segments; the idempotent sink writes it once.
    run()
    got = spark.read.parquet(out)
    ids = sorted(json.loads(r.payload)["id"] for r in got.collect())
    assert ids == [1, 2, 3, 4], f"exactly-once violated: {ids}"
    assert committed_batches(out) == [0, 1]


def test_stateful_crash_after_state_commit_then_restart(spark, tmp_path):
    """Dedup-to-sink under a crash that lands AFTER the batch's state was
    committed: the sink function runs the batch (``df.collect()`` executes
    the stateful stage, which commits its state version) and then throws,
    so the batch is in the offset log but not the commit log. The restart
    re-runs it and re-commits a state version that already exists on disk
    (through the checkpoint manager's rename) before the coalesced sink
    write. Every unique event must reach the sink once, a duplicate in the
    next batch must still be dropped by the restored state, every state
    partition must keep its delta files and both checksum files, and the
    re-commits must leave no temp file in the checkpoint (the runner
    removes them before a start and after a stop)."""
    import re

    from nyuki_spark.streaming.dedup import dedup_within_watermark
    from nyuki_spark.streaming.runner import run_foreach_batch
    from nyuki_spark.streaming.sink import idempotent_parquet_sink

    register_bus(spark)
    root = str(tmp_path / "bus")
    cp = tmp_path / "cp"
    out = str(tmp_path / "out")
    marker = tmp_path / "crashed_once"
    base = idempotent_parquet_sink(out)

    def crash_after_state_commit(df, batch_id):
        rows = df.collect()
        if not marker.exists() and any(r.event_id == "c" for r in rows):
            marker.touch()
            raise RuntimeError("injected crash after state commit")
        base(df, batch_id)

    def run():
        raw = spark.readStream.format("nyuki_bus").option("path", root).load()
        events = (
            raw.select(F.from_json("payload", "event_id string, ts_ms long").alias("e"))
            .select("e.*")
            .withColumn("ts", F.timestamp_millis("ts_ms"))
        )
        run_foreach_batch(
            dedup_within_watermark(events, ["event_id"], "ts", "10 seconds"),
            crash_after_state_commit,
            str(cp),
        )

    def temp_files():
        return sorted(str(p) for p in cp.rglob("*") if re.search(r"\.tmp(\.crc)?$", p.name))

    t0 = 1_700_000_000_000

    def ev(event_id, dt_ms):
        return {"event_id": event_id, "ts_ms": t0 + dt_ms}

    publish_rows(root, "ev", [ev("a", 0), ev("b", 1)])
    run()
    publish_rows(root, "ev", [ev("c", 2), ev("a", 3)])
    with pytest.raises(Exception, match="injected crash after state commit"):
        run()
    # The crashed batch is offset-logged, not committed, yet its state
    # version is already on disk.
    crashed = max(int(f) for f in os.listdir(cp / "offsets") if f.isdigit())
    assert not (cp / "commits" / str(crashed)).exists()
    assert (cp / "state" / "0" / "0" / f"{crashed + 1}.delta").exists()
    run()  # restart: the crashed batch re-runs on its committed state
    assert not temp_files(), f"checkpoint temp files left: {temp_files()}"
    publish_rows(root, "ev", [ev("b", 4), ev("d", 5)])  # b: dup within watermark
    run()
    assert not temp_files(), f"checkpoint temp files left: {temp_files()}"

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == ["a", "b", "c", "d"], f"exactly-once violated: {got}"
    commits = {int(f) for f in os.listdir(cp / "commits") if f.isdigit()}
    part_dirs = [d for d in (cp / "state" / "0").iterdir() if d.name.isdigit()]
    assert part_dirs
    for part in part_dirs:
        names = set(os.listdir(part))
        versions = {int(m.group(1)) for n in names if (m := re.fullmatch(r"(\d+)\.delta", n))}
        assert versions, f"no state deltas in {part}: {sorted(names)}"
        for v in versions:
            assert f".{v}.delta.crc" in names, f"Hadoop .crc missing in {part}"
            assert f"{v}.delta.crc" in names, f"checkpoint checksum missing in {part}"
        # Every committed batch's state version is on disk.
        assert {b + 1 for b in commits} <= versions


# -- loopback TCP broker (r6 next-round #5) -----------------------------------


def _drain_tcp(spark, address, checkpoint, topic=None):
    """Same contract as _drain, but subscribed to the live TCP broker."""
    reader = spark.readStream.format("nyuki_bus").option("broker", address)
    if topic:
        reader = reader.option("topic", topic)
    collected = []
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return collected


def _require_loopback():
    from nyuki_spark.sources.broker import loopback_available

    if not loopback_available():
        pytest.skip(
            "loopback TCP blocked in this sandbox: bind/connect on "
            "127.0.0.1 raised OSError (probe in sources/broker.py:"
            "loopback_available) — the file-segment transport tests "
            "above still cover the offset/replay contract"
        )


def test_tcp_broker_subscribe_checkpoint_replay(spark, tmp_path):
    """The full bus cycle over a REAL socket: publish to a TCP broker,
    subscribe (worker-side fetches over loopback connections), stop,
    publish more while the consumer is down, restart from the same
    checkpoint -> exactly the missed messages arrive, once."""
    import json as _json

    from nyuki_spark.sources.broker import BusBroker, BusBrokerClient

    _require_loopback()
    register_bus(spark)
    broker = BusBroker()
    try:
        client = BusBrokerClient(broker.address)
        for i in (1, 2):
            client.publish("orders", _json.dumps({"id": i}))
        cp = str(tmp_path / "cp_tcp")
        first = _drain_tcp(spark, broker.address, cp)
        assert sorted(r.payload for r in first) == ['{"id": 1}', '{"id": 2}']

        # Broker keeps receiving while the consumer is down...
        client.publish("orders", _json.dumps({"id": 3}))
        client.publish("alerts", _json.dumps({"sev": "low"}))
        # ...and the checkpoint replays exactly the unconsumed suffix.
        second = _drain_tcp(spark, broker.address, cp)
        assert sorted(r.payload for r in second) == ['{"id": 3}', '{"sev": "low"}']
        assert {r.topic for r in second} == {"orders", "alerts"}

        # Third drain: nothing new -> nothing delivered (offsets hold).
        assert _drain_tcp(spark, broker.address, cp) == []
    finally:
        broker.close()


def test_tcp_broker_topic_filter_and_concurrent_fetch(spark, tmp_path):
    """Topic-filtered subscription over the wire; multi-topic fetches run
    from worker processes (one loopback connection per partition)."""
    import json as _json

    from nyuki_spark.sources.broker import BusBroker, BusBrokerClient

    _require_loopback()
    register_bus(spark)
    broker = BusBroker()
    try:
        client = BusBrokerClient(broker.address)
        for i in range(20):
            client.publish("orders", _json.dumps({"id": i}))
            client.publish("alerts", _json.dumps({"sev": i}))
        got = _drain_tcp(
            spark, broker.address, str(tmp_path / "cp_f"), topic="alerts"
        )
        assert len(got) == 20
        assert {r.topic for r in got} == {"alerts"}
    finally:
        broker.close()

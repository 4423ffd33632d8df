"""Message-bus source/sink as a Spark 4 Python DataSource.

The reference subscribes to broker topics (MQTT/XMPP) and publishes JSON
events; a persistence buffer replays missed messages after reconnect
(upstream `nyuki/bus/` — mount empty, SURVEY.md §0). This module maps that
surface onto Structured Streaming's source contract:

- transport: a directory of immutable JSON-lines segment files per topic
  (``<root>/<topic>/<seq>.jsonl``) — a stand-in broker any test can write
  to; swap Kafka in production (same downstream pipeline code).
- subscription: ``spark.readStream.format("nyuki_bus")`` — the stream
  reader's offset is the count of segment files consumed per topic, so
  restart-from-checkpoint replays exactly the unseen segments: the
  reference's store-and-forward replay IS the offset contract here.
- read planning: one planner (:func:`_plan`) serves batch and stream
  reads. Consecutive segments of one topic share a read partition (one
  Python-worker task) until the next segment would push it past 128 MB,
  the default of Spark's file-source ``spark.sql.files.maxPartitionBytes``
  — so a micro-batch costs one read task per topic, as Spark's Kafka
  source plans one task per topic-partition offset range. Each segment
  keeps its own index inside the partition, so ``wire=kafka`` offsets and
  timestamps do not depend on how segments were packed.
- publish: ``df.write.format("nyuki_bus")`` appends new segments (one per
  partition, commit-numbered) — at-least-once per partition, deduped
  downstream by :mod:`nyuki_spark.streaming.dedup` like any bus consumer.

Rows: (topic string, payload string) — payloads stay schema-less JSON
strings exactly as on the reference bus; pipelines apply ``from_json``
with their per-topic schema at the edge (SURVEY.md §1.1).

Kafka wire parity: with ``option("wire", "kafka")`` the same source emits
rows in the exact schema of Spark's built-in Kafka connector (key/value
binary, topic, partition, offset, timestamp, timestampType), so moving a
pipeline to a real broker is `format("nyuki_bus") -> format("kafka")` plus
broker options — zero changes downstream. :func:`kafka_wire_to_bus` /
:func:`bus_to_kafka_wire` adapt between the two row shapes at the edges.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = [
    "BusDataSource",
    "register_bus",
    "publish_rows",
    "kafka_wire_to_bus",
    "bus_to_kafka_wire",
    "KAFKA_SCHEMA",
]

SCHEMA = "topic string, payload string"

# The exact row schema of Spark's built-in Kafka connector (column names,
# order, and types from the Structured Streaming + Kafka integration guide).
# ``option("wire", "kafka")`` makes this source emit it so downstream code
# is already wire-compatible with `format("kafka")`.
KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)

# Synthetic per-topic offsets: segment index * stride + line number. Strictly
# monotonic within a topic (Kafka's actual guarantee); NOT dense — same as a
# compacted Kafka topic, so consumers must not assume offset arithmetic.
_OFFSET_STRIDE = 1 << 20

# Byte cap of one read partition: the default of Spark's
# spark.sql.files.maxPartitionBytes, fixed here rather than an option.
_MAX_PARTITION_BYTES = 128 << 20


def _read_segment_kafka(root: str, rel: str, seg_idx: int):
    import datetime

    topic = rel.split(os.sep, 1)[0]
    path = os.path.join(root, rel)
    ts = datetime.datetime.fromtimestamp(os.path.getmtime(path), datetime.timezone.utc)
    with open(path, encoding="utf-8") as fh:
        for line_no, line in enumerate(fh):
            line = line.strip()
            if line:
                # key=None (unkeyed publish), partition 0 (one partition per
                # topic in the file transport), timestampType 0 = CreateTime.
                yield (
                    None,
                    line.encode("utf-8"),
                    topic,
                    0,
                    seg_idx * _OFFSET_STRIDE + line_no,
                    ts,
                    0,
                )


def _topic_segments(root: str) -> dict[str, list[str]]:
    """topic -> sorted segment filenames. Segment names are monotonic
    (time-prefixed), so within a topic the sorted order is publish order
    and a count is a valid offset — per-topic, exactly like Kafka
    partition offsets, so a topic appearing later can't shift another
    topic's consumed prefix."""
    out: dict[str, list[str]] = {}
    if os.path.isdir(root):
        for topic in sorted(os.listdir(root)):
            tdir = os.path.join(root, topic)
            if os.path.isdir(tdir):
                out[topic] = sorted(f for f in os.listdir(tdir) if f.endswith(".jsonl"))
    return out


def _segment_name() -> str:
    """Monotonic segment filename: files published after a directory
    listing always sort after everything in that listing."""
    return f"{time.time_ns():020d}_{uuid.uuid4().hex[:8]}.jsonl"


def _read_segment(root: str, rel: str):
    topic = rel.split(os.sep, 1)[0]
    with open(os.path.join(root, rel), encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield (topic, line)


def _sized(root: str, topic: str, files: list[str], start: int = 0):
    """(rel, seg_idx, size) for the segments ``files[start:]`` of ``topic``
    — the planner's input."""
    for idx, fname in enumerate(files[start:], start=start):
        rel = os.path.join(topic, fname)
        yield rel, idx, os.path.getsize(os.path.join(root, rel))


def _plan(segments) -> list[list[tuple[str, int]]]:
    """Pack ``(rel, seg_idx, size)`` triples, given in publish order, into
    read partitions of ``(rel, seg_idx)`` pairs. Consecutive segments of
    one topic share a partition until the next segment would push it past
    ``_MAX_PARTITION_BYTES``; a segment larger than that gets a partition
    of its own. No partition is empty."""
    plan: list[list[tuple[str, int]]] = []
    topic, used = None, 0
    for rel, seg_idx, size in segments:
        seg_topic = rel.split(os.sep, 1)[0]
        if not plan or seg_topic != topic or used + size > _MAX_PARTITION_BYTES:
            plan.append([])
            topic, used = seg_topic, 0
        plan[-1].append((rel, seg_idx))
        used += size
    return plan


class _SegmentsPartition(InputPartition):
    """One read task: ``segments`` is a list of (rel, seg_idx), read in order."""

    def __init__(self, segments: list[tuple[str, int]]):
        self.segments = segments


def _read_partition(root: str, partition: _SegmentsPartition, kafka_wire: bool):
    for rel, seg_idx in partition.segments:
        if kafka_wire:
            yield from _read_segment_kafka(root, rel, seg_idx)
        else:
            yield from _read_segment(root, rel)


class _BusBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]
        self.topic = options.get("topic")
        self.kafka_wire = options.get("wire") == "kafka"

    def partitions(self):
        plan = _plan(
            seg
            for topic, files in _topic_segments(self.root).items()
            if not self.topic or topic == self.topic
            for seg in _sized(self.root, topic, files)
        )
        # Spark hands a batch read that plans no partition one partition of
        # None; an empty bus plans one partition with no segments instead.
        return [_SegmentsPartition(p) for p in plan] or [_SegmentsPartition([])]

    def read(self, partition):
        yield from _read_partition(self.root, partition, self.kafka_wire)


class _BusStreamReader(DataSourceStreamReader):
    """Offset = {"topics": {topic: consumed-segment-count}} — per-topic
    counters over immutable, monotonically-named segments: the same
    contract as Kafka per-partition offsets. A topic created after the
    subscription started enters the offset map at 0 and replays fully.
    """

    def __init__(self, options):
        self.root = options["path"]
        self.topic = options.get("topic")
        self.kafka_wire = options.get("wire") == "kafka"

    def _counts(self) -> dict[str, list[str]]:
        segs = _topic_segments(self.root)
        if self.topic:
            segs = {t: f for t, f in segs.items() if t == self.topic}
        return segs

    def initialOffset(self):
        return {"topics": {}}

    def latestOffset(self):
        return {"topics": {t: len(fs) for t, fs in self._counts().items()}}

    def partitions(self, start: dict, end: dict):
        segs = self._counts()
        start_t = start.get("topics", {})
        plan = _plan(
            seg
            for topic, n_end in end.get("topics", {}).items()
            for seg in _sized(
                self.root, topic, segs.get(topic, [])[:n_end], start_t.get(topic, 0)
            )
        )
        return [_SegmentsPartition(p) for p in plan]

    def read(self, partition):
        yield from _read_partition(self.root, partition, self.kafka_wire)

    def commit(self, end: dict) -> None:
        # Checkpoint WAL owns progress; the transport needs no ack. The
        # reference's broker-side buffer trim happens here for a real bus.
        pass


class _TopicRangePartition(InputPartition):
    def __init__(self, topic: str, start: int, end: int):
        self.topic = topic
        self.start = start
        self.end = end


class _BusSocketStreamReader(DataSourceStreamReader):
    """The same offset/replay contract as :class:`_BusStreamReader`, but
    over a LIVE TCP broker (``option("broker", "host:port")`` —
    :mod:`nyuki_spark.sources.broker`) instead of segment files: offsets
    are per-topic message counts served by the broker's ``offsets`` verb,
    and each micro-batch fetches exactly [start, end) per topic over a
    worker-side socket. Both readers plan one partition per topic range
    of a batch (the segment reader splits a range only past 128 MB), as
    Spark's Kafka source plans one task per topic-partition range; a real
    broker's partition count would fan this out. Restart-from-checkpoint
    replays the unconsumed suffix only, exercised over the wire in
    tests/test_bus.py.
    """

    def __init__(self, options):
        self.address = options["broker"]
        self.topic = options.get("topic")

    def _client(self):
        from nyuki_spark.sources.broker import BusBrokerClient

        return BusBrokerClient(self.address)

    def initialOffset(self):
        return {"topics": {}}

    def latestOffset(self):
        topics = self._client().offsets()
        if self.topic:
            topics = {t: n for t, n in topics.items() if t == self.topic}
        return {"topics": topics}

    def partitions(self, start: dict, end: dict):
        start_t = start.get("topics", {})
        out = []
        for topic, n_end in end.get("topics", {}).items():
            n_start = start_t.get(topic, 0)
            if n_end > n_start:
                out.append(_TopicRangePartition(topic, n_start, n_end))
        return out

    def read(self, partition):
        # Runs in the worker process: a fresh loopback connection per
        # fetch (the client holds only host/port — picklable).
        msgs = self._client().fetch(partition.topic, partition.start, partition.end)
        for payload in msgs:
            yield (partition.topic, payload)

    def commit(self, end: dict) -> None:
        pass  # checkpoint WAL owns progress; a real broker trims here


class _BusCommit(WriterCommitMessage):
    def __init__(self, rel: str | None):
        self.rel = rel


class _BusWriter(DataSourceWriter):
    def __init__(self, options):
        self.root = options["path"]
        self.default_topic = options.get("topic", "events")

    def write(self, iterator):
        # One segment per task, staged under a uuid name; commit renames
        # nothing (files are already final) — publishes are at-least-once,
        # consumers dedup, matching the reference bus contract.
        rows = list(iterator)
        if not rows:
            return _BusCommit(None)
        by_topic: dict[str, list[str]] = {}
        for row in rows:
            topic = getattr(row, "topic", None) or self.default_topic
            payload = getattr(row, "payload", None)
            if payload is None:  # kafka-wire shape: binary value column
                payload = row.value.decode("utf-8")
            by_topic.setdefault(topic, []).append(payload)
        rel = None
        for topic, payloads in by_topic.items():
            tdir = os.path.join(self.root, topic)
            os.makedirs(tdir, exist_ok=True)
            rel = os.path.join(tdir, _segment_name())
            with open(rel, "w", encoding="utf-8") as fh:
                fh.write("\n".join(payloads) + "\n")
        return _BusCommit(rel)

    def commit(self, messages):
        pass

    def abort(self, messages):
        for m in messages:
            if m is not None and m.rel and os.path.exists(m.rel):
                os.remove(m.rel)


class _BusStreamWriter(DataSourceStreamWriter):
    """Streaming publish: same segment-per-task append as the batch writer.

    Per-microbatch at-least-once — a batch retried after a partial failure
    re-appends its segments (abort best-effort-removes them first);
    consumers dedup, the bus contract. Exactly-once would need the batchId
    written into the segment name plus idempotent rename, which the
    reference bus doesn't promise either.
    """

    def __init__(self, options):
        self._inner = _BusWriter(options)

    def write(self, iterator):
        return self._inner.write(iterator)

    def commit(self, messages, batchId) -> None:
        pass

    def abort(self, messages, batchId) -> None:
        self._inner.abort(messages)


class BusDataSource(DataSource):
    """``format("nyuki_bus")`` — options: path (root dir), topic (filter)."""

    @classmethod
    def name(cls) -> str:
        return "nyuki_bus"

    def schema(self) -> str:
        return KAFKA_SCHEMA if self.options.get("wire") == "kafka" else SCHEMA

    def reader(self, schema: StructType):
        return _BusBatchReader(self.options)

    def streamReader(self, schema: StructType):
        if self.options.get("broker"):
            return _BusSocketStreamReader(self.options)
        return _BusStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _BusWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _BusStreamWriter(self.options)


def register_bus(spark) -> None:
    spark.dataSource.register(BusDataSource)


def kafka_wire_to_bus(df):
    """Adapt a Kafka-schema stream (this source with ``wire=kafka``, or the
    real ``format("kafka")``) to the bus row shape (topic, payload) so
    pipelines written against the bus schema run unchanged on a broker.
    Pure Column cast — no Python per row.
    """
    from pyspark.sql import functions as F

    return df.select(
        F.col("topic"), F.col("value").cast("string").alias("payload")
    )


def bus_to_kafka_wire(df):
    """Adapt (topic, payload) rows to the shape Kafka's sink expects
    (topic + binary key/value; key stays null for unkeyed publish)."""
    from pyspark.sql import functions as F

    return df.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("payload").cast("binary").alias("value"),
        F.col("topic"),
    )


def publish_rows(root: str, topic: str, payloads: list[dict]) -> str:
    """Driver-side publish helper (the test double's 'broker client')."""
    tdir = os.path.join(root, topic)
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, _segment_name())
    with open(path, "w", encoding="utf-8") as fh:
        for p in payloads:
            fh.write(json.dumps(p) + "\n")
    return path

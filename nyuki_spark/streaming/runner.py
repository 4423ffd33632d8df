"""Run a finite streaming query to completion and hand back a batch result.

``availableNow`` processes every pending micro-batch then stops — the
Structured Streaming idiom for "drain the backlog". Used by tests, by the
live registry ids, and by the trigger router's unit mode.

The live-query contract (:func:`run_live`, used by every ``*_live`` id):

- *Scratch lifetime.* ``run_live`` makes one scratch dir, replays the
  source into it, hands it to the query for checkpoints, sinks and fold
  state, and deletes it on every exit, success or failure.
- *Sentinels flow through the filters.* A finite replay in append mode
  holds its tail in state until the watermark passes it, so the replay
  ends with far-future flush rows (``flush_df``). They must reach the
  EventTimeWatermark node: Catalyst pushes a deterministic filter below
  it, down to the scan, so a filter that drops the sentinel pins the
  watermark below every real window or timer. Keep the sentinel's type
  in any in-stream filter and drop the sentinel rows only from the
  drained result.
- *Pin rule.* The result is pinned with ``localCheckpoint(eager=True)``
  before the scratch dir goes: it truncates lineage to executor blocks
  with no file dependency. A ``cache()`` is not enough — once evicted
  or cleared, a recount re-reads files that no longer exist.
- *Views.* :func:`run_to_table` drops its own memory-sink view before it
  returns; the returned DataFrame still reads the sink. Callers neither
  name sinks nor drop views.
- *Bounded drains.* Every drain waits at most ``DRAIN_TIMEOUT_S``; on
  timeout it stops every query it waited on and raises ``TimeoutError``.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nyuki_spark.streaming.replay import replay_stream

__all__ = [
    "await_drain",
    "remove_orphan_temp_files",
    "run_append_foreach_batch",
    "run_foreach_batch",
    "run_live",
    "run_to_table",
    "stream_parallelism",
]

DRAIN_TIMEOUT_S = 300


@contextlib.contextmanager
def stream_parallelism(spark: SparkSession):
    """Optionally pin the state-store partition count for the duration of
    a streaming START (r12, guide §2.6 — MEASURED, then parameterised).

    Stateful operators hash-partition their state by
    ``spark.sql.shuffle.partitions`` AT QUERY START (AQE never re-plans a
    streaming stage), so this is the one knob that sizes the state fold.
    The r12 A/B at sf0.1 (BENCH_full_r12_before vs subset_after1) showed
    that deriving it from ``defaultParallelism`` (32 on the bench rig) is
    a LOSS at test scale: every extra state partition pays a state-store
    load+commit per micro-batch (stream_tumbling_live 2.8 -> 9.1 s,
    stream_session_live 3.7 -> 10.1 s at 8 -> 32 partitions) while the
    Python CEP folds it was meant to widen moved within noise — per-key
    work, not fold parallelism, is their cost. So the default is to
    leave the session conf alone (results are partitioning-independent
    either way: state is keyed, per-key folds see the same rows); a real
    cluster deployment, where per-partition commit cost amortises over
    far more data per batch, sets NYUKI_STREAM_PARTITIONS explicitly
    (~1-2x total cores) and gets the pinned width for exactly one START.
    """
    n = os.environ.get("NYUKI_STREAM_PARTITIONS")
    if not n:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def await_drain(queries: list) -> None:
    """Wait until every started availableNow query in ``queries`` has
    terminated, all within one shared bound, ``DRAIN_TIMEOUT_S``. On
    timeout, or if waiting raises, stop every one of them: reading a sink
    now would return a silently-partial result, and the caller is about to
    delete files under the live queries (r4 code review). A timeout raises
    ``TimeoutError``."""
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    drained = False
    try:
        for q in queries:
            # awaitTermination rejects a zero timeout; 1 ms is the floor.
            if not q.awaitTermination(max(0.001, deadline - time.monotonic())):
                raise TimeoutError(
                    f"streaming drain exceeded {DRAIN_TIMEOUT_S}s for {q.name or q.id}"
                )
        drained = True
    finally:
        if not drained:
            for q in queries:
                q.stop()


def run_to_table(
    sdf: DataFrame,
    mode: str = "complete",
    name: str | None = None,
) -> DataFrame:
    """Execute streaming DataFrame ``sdf`` with an availableNow trigger into
    an in-memory sink; returns the sink's rows as a batch DataFrame.

    ``complete`` mode keeps full aggregate state and rewrites the sink each
    batch — on a finite replay the final table equals the batch answer
    (stream/batch parity). ``append`` emits only watermark-closed results:
    the right mode to *observe* eviction semantics.

    The sink's temp view ``name`` is dropped before this returns, on every
    exit: the returned DataFrame's plan holds the sink itself, so it still
    reads every row, while the catalog no longer pins them.
    """
    spark = SparkSession.getActiveSession()
    if name is None:
        name = f"nyuki_sink_{uuid.uuid4().hex[:12]}"
    try:
        # The conf stays pinned through the drain: a streaming query
        # captures shuffle-partition count when its FIRST batch is
        # constructed, which happens asynchronously after start() —
        # restoring only after termination removes the race.
        with stream_parallelism(spark):
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            await_drain([q])
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


# A checkpoint file's temp name while it is written (".<name>.<uuid>.tmp")
# and Hadoop's checksum of that temp file (".<temp name>.crc").
_CHECKPOINT_TMP = re.compile(
    r"\..+\.[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\.tmp(\.crc)?"
)


def remove_orphan_temp_files(checkpoint_dir: str) -> None:
    """Delete the temp files a state commit left under
    ``<checkpoint_dir>/state``.

    ``FileSystemBasedCheckpointFileManager`` (session.py) writes each state
    file to a temp name and renames it into place. When that version is
    committed a second time — a restart after a crash that followed the
    state commit, or a ``foreachBatch`` function that runs its DataFrame
    twice — the rename onto the existing file fails on the local
    filesystem, Spark ignores the failure (the existing file is the same
    version) and the temp file and its ``.crc`` stay behind; state
    maintenance never deletes them. Call this only while no query runs on
    the checkpoint: before a (re)start, or after the query stopped.
    """
    for root, _dirs, files in os.walk(os.path.join(checkpoint_dir, "state")):
        for name in files:
            if _CHECKPOINT_TMP.fullmatch(name):
                os.remove(os.path.join(root, name))


def run_foreach_batch(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Drain a streaming DataFrame in APPEND mode through
    ``foreachBatch(fn)`` — the shape of a per-micro-batch fold into
    caller-owned state. Orphan checkpoint temp files are removed before
    the query starts and after it stops, however the drain ends."""
    remove_orphan_temp_files(checkpoint_dir)
    q = (
        sdf.writeStream.foreachBatch(fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_drain([q])
    finally:
        remove_orphan_temp_files(checkpoint_dir)


def run_append_foreach_batch(
    sdf: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain a streaming DataFrame in APPEND mode through a foreachBatch
    parquet sink and return the written rows as a batch DataFrame.

    This is the production-shaped counterpart of :func:`run_to_table`'s
    complete-mode memory sink: only watermark-closed results are emitted,
    each exactly once, and they land in files — the path whose throughput
    actually matters at scale (complete mode rewrites O(state) rows per
    micro-batch by construction; append writes O(emitted)).
    """
    spark = SparkSession.getActiveSession()

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    run_foreach_batch(sdf, sink, checkpoint_dir)
    return spark.read.parquet(out_dir)


def run_live(
    spark: SparkSession,
    source: DataFrame,
    query: Callable[[DataFrame, str], DataFrame],
    *,
    n_chunks: int = 4,
    flush_df: DataFrame | list[DataFrame] | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Replay ``source`` as a stream, drain it through ``query`` and return
    the pinned batch result (the live-query contract in the module
    docstring).

    ``query(sdf, scratch)`` gets the replayed stream and the scratch dir
    (for checkpoints, sinks and fold state), drains through
    :func:`run_to_table`, :func:`run_append_foreach_batch` or
    :func:`run_foreach_batch`, and returns the final batch DataFrame.
    ``n_chunks``, ``flush_df`` and ``order_col`` go to
    :func:`~nyuki_spark.streaming.replay.replay_stream`.
    """
    scratch = tempfile.mkdtemp(prefix="nyuki-live-")
    try:
        sdf = replay_stream(
            spark,
            source,
            n_chunks=n_chunks,
            scratch_dir=scratch,
            flush_df=flush_df,
            order_col=order_col,
        )
        return query(sdf, scratch).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

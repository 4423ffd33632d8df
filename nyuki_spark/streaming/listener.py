"""Progress/metrics reporting — the reference's workflow instance reports.

The reference pushes per-instance progress over websocket/REST and
persists per-task reports (SURVEY.md §2.9); the engine equivalent is a
StreamingQueryListener: every micro-batch emits a progress event with
rows/sec, batch duration, and state-store metrics, which this listener
collects into queryable rows — observability as a table, consistent with
everything else in the engine.
"""

from __future__ import annotations

import threading
from collections import deque
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["MetricsListener", "PROGRESS_CAP"]

# Progress entries a listener keeps: one per micro-batch of every query on
# the session, so an unbounded list grows for as long as the session runs
# (a 1 s trigger adds 86,400 a day). At a few hundred bytes an entry the
# cap bounds the buffer to a few MB; older entries are dropped first.
PROGRESS_CAP = 10_000


@dataclass
class _Progress:
    query_id: str
    name: str | None
    batch_id: int
    num_input_rows: int
    batch_duration_ms: int
    # Summed over the batch's stateful operators (0 for stateless
    # queries): the state-store footprint the scale argument rests on —
    # rows held vs rows evicted by the watermark, and bytes in the store
    # provider (HDFS-backed map or RocksDB).
    state_rows: int = 0
    state_memory_bytes: int = 0
    state_rows_dropped_by_watermark: int = 0
    # Per-operator breakdown [(operatorName, rows, bytes)] — how a
    # multi-stateful query (stream-stream join -> windowed rollup) is
    # attributed: which operator's store dominates decides the tuning
    # lever (join watermark delay vs rollup window size).
    state_by_operator: list = None  # type: ignore[assignment]
    # The batch's full durationMs map: triggerExecution plus its phases
    # (latestOffset, getBatch, queryPlanning, addBatch, walCommit,
    # commitOffsets) — where a micro-batch's fixed cost goes.
    phase_ms: dict = None  # type: ignore[assignment]


class MetricsListener(StreamingQueryListener):
    """Collects per-batch progress for every streaming query on the session.

    Attach with ``spark.streams.addListener(listener)``; read
    ``listener.progress`` (a list snapshot) or ``listener.to_df(spark)``
    (DataFrame — report-as-a-table, joinable/aggregatable like any other
    source).

    Only the last :data:`PROGRESS_CAP` entries are kept. Each entry also
    has an absolute sequence number (0 for the first ever recorded), which
    :meth:`events_since` uses as a cursor that stays valid as old entries
    are dropped.
    """

    def __init__(self) -> None:
        self._buf: deque[_Progress] = deque(maxlen=PROGRESS_CAP)
        self._seen = 0  # entries ever recorded; the next one's sequence number
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: list[str] = []

    @property
    def progress(self) -> list[_Progress]:
        """The kept entries, oldest first (a copy: safe to iterate while
        the listener thread appends)."""
        with self._lock:
            return list(self._buf)

    def clear(self) -> None:
        """Drop the kept entries; sequence numbers keep counting."""
        with self._lock:
            self._buf.clear()

    def events_since(self, since: int) -> tuple[int, list[_Progress]]:
        """Entries after the ``since``-th ever recorded, as ``(start,
        entries)`` where ``start`` is the first entry's sequence number.
        ``since`` is clamped to the recorded count; a cursor older than
        the oldest kept entry resumes there."""
        with self._lock:
            oldest = self._seen - len(self._buf)
            start = min(max(since, oldest), self._seen)
            return start, list(self._buf)[start - oldest:]

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        phase_ms = dict(p.durationMs or {})
        entry = _Progress(
            query_id=str(p.id),
            name=p.name,
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            batch_duration_ms=phase_ms.get("triggerExecution", 0),
            state_rows=sum(o.numRowsTotal for o in ops),
            state_memory_bytes=sum(o.memoryUsedBytes for o in ops),
            state_rows_dropped_by_watermark=sum(
                o.numRowsDroppedByWatermark for o in ops
            ),
            state_by_operator=[
                (
                    getattr(o, "operatorName", None) or f"op{i}",
                    o.numRowsTotal,
                    o.memoryUsedBytes,
                )
                for i, o in enumerate(ops)
            ],
            phase_ms=phase_ms,
        )
        with self._lock:
            self._buf.append(entry)
            self._seen += 1

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def to_df(self, spark: SparkSession) -> DataFrame:
        schema = (
            "query_id string, name string, batch_id long, "
            "num_input_rows long, batch_duration_ms long, "
            "state_rows long, state_memory_bytes long, "
            "state_rows_dropped_by_watermark long"
        )
        rows = [
            (
                p.query_id, p.name, p.batch_id, p.num_input_rows,
                p.batch_duration_ms, p.state_rows, p.state_memory_bytes,
                p.state_rows_dropped_by_watermark,
            )
            for p in self.progress
        ]
        return spark.createDataFrame(rows, schema=schema)

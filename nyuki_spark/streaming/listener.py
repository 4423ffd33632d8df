"""Progress/metrics reporting — the reference's workflow instance reports.

The reference pushes per-instance progress over websocket/REST and
persists per-task reports (SURVEY.md §2.9); the engine equivalent is a
StreamingQueryListener: every micro-batch emits a progress event with
rows/sec, batch duration, and state-store metrics, which this listener
collects into queryable rows — observability as a table, consistent with
everything else in the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["MetricsListener"]


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
    ``listener.progress`` (list) or ``listener.to_df(spark)`` (DataFrame —
    report-as-a-table, joinable/aggregatable like any other source).
    """

    def __init__(self) -> None:
        self.progress: list[_Progress] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        phase_ms = dict(p.durationMs or {})
        self.progress.append(
            _Progress(
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
        )

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

"""Trigger router: topic -> pipeline instantiation.

The reference's workflow engine maps bus topics to workflow templates via a
triggers collection (upstream `nyuki/workflow/` triggers; mount empty,
SURVEY.md §0): an event arriving on a topic instantiates the mapped DAG.

Engine equivalent: a routing table ``{topic: pipeline_fn}`` applied to a
stream carrying a ``topic`` column. Two execution modes:

- ``one query per trigger`` (``start_all``): each pipeline is its own
  writeStream with its own checkpoint — independent failure/backpressure
  domains, the deployment shape for long-lived triggers.
- ``single-query router`` (``route_batch`` via foreachBatch): one stream,
  per-batch fan-out to each pipeline — cheaper for many small triggers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyuki_spark.streaming.runner import remove_orphan_temp_files

__all__ = ["TriggerRouter"]

PipelineFn = Callable[[DataFrame], DataFrame]
SinkFn = Callable[[str, DataFrame], None]


@dataclass
class TriggerRouter:
    """Routes events to per-topic pipelines (nyuki trigger semantics)."""

    triggers: dict[str, PipelineFn] = field(default_factory=dict)

    def add_trigger(self, topic: str, pipeline: PipelineFn) -> None:
        self.triggers[topic] = pipeline

    def remove_trigger(self, topic: str) -> None:
        self.triggers.pop(topic, None)

    def route_batch(self, df: DataFrame, topic_col: str, sink: SinkFn) -> None:
        """Fan one (micro-)batch out to every matching pipeline."""
        for topic, pipeline in self.triggers.items():
            matched = df.where(F.col(topic_col) == topic)
            sink(topic, pipeline(matched))

    def foreach_batch(self, topic_col: str, sink: SinkFn):
        """Adapter for ``writeStream.foreachBatch`` — single-query mode."""

        def _fn(batch_df: DataFrame, batch_id: int) -> None:
            self.route_batch(batch_df, topic_col, sink)

        return _fn

    def start_all(
        self,
        sdf: DataFrame,
        topic_col: str,
        sink_for: Callable[[str], SinkFn],
        checkpoint_root: str,
        available_now: bool = False,
    ) -> list:
        """One writeStream per trigger (independent checkpoints). Each
        query starts after its checkpoint's orphan temp files are removed
        (:func:`~nyuki_spark.streaming.runner.remove_orphan_temp_files`)."""
        queries = []
        for topic, pipeline in self.triggers.items():
            out = pipeline(sdf.where(F.col(topic_col) == topic))
            sink = sink_for(topic)
            checkpoint = f"{checkpoint_root}/{topic}"
            remove_orphan_temp_files(checkpoint)
            writer = (
                out.writeStream.outputMode("append")
                .option("checkpointLocation", checkpoint)
                .foreachBatch(lambda df, _id, t=topic, s=sink: s(t, df))
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            queries.append(writer.start())
        return queries

"""Structured Streaming surface — the reference's native domain.

The reference (optiflows/nyuki, SURVEY.md §0.1) is an event-bus stream
processor: JSON events on topics trigger workflow DAGs. This package
re-expresses that model on Structured Streaming:

- :mod:`replay`   — file-replay source: replays any batch table as a
  micro-batched stream (the test double for the bus source).
- :mod:`runner`   — run a finite streaming query to a batch result
  (availableNow trigger + memory/foreachBatch sink), and ``run_live``,
  the one live-query helper behind every ``*_live`` registry id.
- :mod:`windows`  — tumbling / sliding / session window aggregations that
  work identically on batch and streaming DataFrames (parity by
  construction).
- :mod:`dedup`    — streaming dedup (state-bounded via watermark).
- :mod:`router`   — trigger routing: topic -> pipeline (nyuki triggers).
- :mod:`stateful` — custom stateful ops (join-with-timeout, sleep) via
  applyInPandasWithState.
- :mod:`listener` — progress/metrics reporting (nyuki instance reports).

Live-query contract (details in :mod:`runner`): ``run_live`` owns one
scratch dir per run and deletes it on every exit; flush sentinels must flow
through in-stream filters to reach the watermark and are dropped only from
the drained result; the result is pinned with ``localCheckpoint(eager=True)``,
never ``cache()``; ``run_to_table`` drops its own memory-sink view; every
drain is bounded and stops its queries on timeout.
"""

from nyuki_spark.streaming.replay import replay_stream  # noqa: F401
from nyuki_spark.streaming.runner import run_live, run_to_table  # noqa: F401
from nyuki_spark.streaming.windows import (  # noqa: F401
    tumbling_agg,
    sliding_agg,
    session_agg,
)

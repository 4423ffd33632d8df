"""Exactly-once ``foreachBatch`` sinks.

``foreachBatch`` gives at-least-once by itself: after a crash between the
user function and the checkpoint commit, Structured Streaming re-runs the
batch with the SAME ``batch_id``. Exactly-once is recovered by making the
write idempotent on that id — the standard public pattern (Structured
Streaming programming guide, "foreachBatch" section): write each batch to
a ``batch_id=N``-keyed location, skip ids already committed, let readers
see only committed data.

At 100 TB this shape also solves file management: each micro-batch is one
directory whose size tracks the trigger interval, and downstream
:func:`nyuki_spark.sources.layout.compact` folds cold batch dirs into
target-size files.

All commit-census checks go through Spark's Hadoop FileSystem layer
(:mod:`nyuki_spark.functions.fsutil` — r8 verdict #3): ``os.listdir``
would silently restrict the idempotent-replay check to driver-local
paths, breaking it on the hdfs://s3a:// stores the sink exists for.
Local behavior is byte-identical (the Path resolves to the local FS).

Write rule: one write task per task slot. Each batch is written through
``coalesce(sparkContext.defaultParallelism)``, so a batch writes at most
``defaultParallelism`` part files, whatever the partition count of the
plan feeding it. ``coalesce`` is narrow: in a stateful query each state
partition still loads and commits its own store, in sequence inside one
slot's task, instead of one short task per state partition queueing for
the slots. It never adds partitions, so a batch that already has fewer is
written as it is.
"""

from __future__ import annotations

from nyuki_spark.functions.fsutil import fs_exists, list_subdirs

__all__ = ["idempotent_parquet_sink", "committed_batches"]


def idempotent_parquet_sink(out_dir: str):
    """A ``foreachBatch`` function writing each micro-batch to
    ``out_dir/batch_id=N/`` exactly once.

    Replayed batch ids are skipped iff the previous attempt fully committed
    (Spark's ``_SUCCESS`` marker); a partially-written dir from a crashed
    attempt is simply overwritten. Reading ``out_dir`` with
    ``spark.read.parquet`` sees ``batch_id`` as a partition column — an
    audit trail for free.
    """

    def write(df, batch_id: int) -> None:
        target = f"{out_dir.rstrip('/')}/batch_id={batch_id}"
        if fs_exists(df.sparkSession, f"{target}/_SUCCESS"):
            return  # this id already committed: replay after a crash
        slots = df.sparkSession.sparkContext.defaultParallelism
        df.coalesce(slots).write.mode("overwrite").parquet(target)

    return write


def committed_batches(out_dir: str, spark=None) -> list[int]:
    """Batch ids with a completed commit under ``out_dir``.

    ``spark`` defaults to the active session (the census is a driver-side
    metadata walk: one listStatus on ``out_dir`` + one existence probe
    per batch dir — bounded by batch count, never data-sized).
    """
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "committed_batches needs a SparkSession (pass spark=) — "
                "the commit census goes through the Hadoop FS layer so "
                "object-store sinks work"
            )
    base = out_dir.rstrip("/")
    out = []
    for d in list_subdirs(spark, base):
        if d.startswith("batch_id=") and fs_exists(
            spark, f"{base}/{d}/_SUCCESS"
        ):
            out.append(int(d.split("=", 1)[1]))
    return sorted(out)

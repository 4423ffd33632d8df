"""Catalyst's size estimate of a DataFrame, read without running a job."""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["size_estimate"]


def size_estimate(df: DataFrame) -> int | None:
    """Bytes Catalyst estimates for ``df``'s optimized plan, or None when
    the estimate is unknown: not positive, or not readable (a session
    whose JVM plan objects are out of reach). The estimate comes from
    file sizes for scans and propagated stats elsewhere; no job is run.
    Callers treat None as "no hint" and take their safe default."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return size if size > 0 else None

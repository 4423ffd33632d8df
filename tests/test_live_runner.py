"""The live-query helper (streaming/runner.py:run_live): scratch lifetime,
the pin rule and the bounded drain, checked on small inputs so they stay
in the default run."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from nyuki_spark.queries import REGISTRY
from nyuki_spark.streaming import runner


def _live_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "nyuki-live-*")))


def test_run_live_result_outlives_scratch_and_cache(spark):
    """A result read from files under the scratch dir stays readable after
    run_live deleted that dir, even with every cache cleared: the pin is a
    localCheckpoint, not a cache that a recount would refill from the
    deleted files."""
    seen = {}

    def query(sdf, scratch):
        seen["scratch"] = scratch
        out = f"{scratch}/out"
        runner.run_append_foreach_batch(sdf, out, f"{scratch}/ckpt")
        return spark.read.parquet(out)

    src = spark.range(40).selectExpr("id", "id % 7 AS k")
    res = runner.run_live(spark, src, query, n_chunks=2)
    assert not os.path.exists(seen["scratch"])
    spark.catalog.clearCache()
    assert sorted(r.id for r in res.collect()) == list(range(40))
    assert res.count() == 40


def test_router_drain_timeout_stops_queries(spark, sf_dir, monkeypatch):
    """A stuck route fails loudly: the router id's drain hits the bound,
    every router query is stopped and the scratch dir is gone."""
    monkeypatch.setattr(runner, "DRAIN_TIMEOUT_S", 0)
    before = _live_dirs()
    with pytest.raises(TimeoutError, match="streaming drain exceeded"):
        REGISTRY["stream_router_live"].run(spark, sf_dir)
    assert spark.streams.active == []
    assert _live_dirs() <= before

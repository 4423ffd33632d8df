"""Execution gate: EVERY registry entry must actually run before it counts.

Round-3 lesson: ``mm_image_stats``/``mm_audio_stats`` were registered with
docstrings claiming "oracle-verified" but crashed at execution with a
``PicklingError`` — the oracle/canon suites surfaced it, but only because
those queries happened to be oracle-backed. This gate closes the hole for
*all* 147+ registry ids, including engine_fn-only queries with no oracle:
``run(spark, sf0.001).limit(1).collect()`` forces closure pickling, schema
resolution, and at least one partition of real execution per query. A query
that cannot survive this must not be registered.

Kept deliberately cheap (limit-1 at the smallest SF) so it stays in the
default ``pytest tests/`` loop; full-result correctness lives in
``test_declared_oracle.py`` / ``test_driver_canon.py``.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from nyuki_spark.catalog import TABLES
from nyuki_spark.queries import REGISTRY

ALL_IDS = sorted(REGISTRY)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _nyuki_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "nyuki-*")))


@pytest.mark.parametrize("qid", ALL_IDS)
def test_query_executes(qid, spark, sf_dir):
    live = "_live" in qid
    if live:
        views, dirs = _temp_views(spark), _nyuki_dirs()
    df = REGISTRY[qid].run(spark, sf_dir)
    # .limit(1).collect() still submits the job: closures pickle, the plan
    # compiles, and one partition executes — exactly what the r3 bug needed.
    df.limit(1).collect()
    if live:
        # A live id cleans up after itself (streaming/runner.py contract):
        # no running query, no leftover sink view (fixture tables are
        # registered by Query.run itself), no scratch dir.
        assert spark.streams.active == []
        assert _temp_views(spark) - views - set(TABLES) == set()
        assert _nyuki_dirs() - dirs == set()


def test_register_rejects_uninferrable_pure_sql():
    """A pure-SQL registration whose text matches no fixture table must
    fail AT REGISTER TIME (import time), not silently register all ten
    fixture views — the round-4 fallback re-opened a sliver of the
    round-1 blast-radius bug (one unreadable table poisoning queries
    that never touch it)."""
    from nyuki_spark.queries.registry import register

    with pytest.raises(AssertionError, match="table inference"):
        register("___no_table_words", "SELECT 1 AS x")
    assert "___no_table_words" not in REGISTRY

    # Explicit tables= is the sanctioned escape hatch.
    q = register("___no_table_words", "SELECT 1 AS x", tables=())
    try:
        assert q.tables == ()
    finally:
        REGISTRY.pop("___no_table_words", None)

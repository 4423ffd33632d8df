"""Query registry plumbing (see ``nyuki_spark.queries``).

**The pin rule.** An engine function that reads an intermediate more than
once pins it, and the only pin is ``DataFrame.localCheckpoint``:

- The pin's lifetime is the DataFrame's. Its blocks are released when the
  pinned frame (and every frame built on it) becomes unreachable, so
  nothing a query pins outlives the query, and no caller has to clear
  Spark's cache after the engine. ``persist()``/``cache()`` are not
  used: they register the plan in Spark's CacheManager, which holds it
  until someone clears it.
- It is eager (``localCheckpoint()``) when the function itself runs an
  action on the pinned frame before it returns (a ``has_dups``/
  ``isEmpty``/``count`` probe, a per-step ``collect``) or removes the
  frame's inputs before it returns (a dropped table, a deleted scratch
  dir), and lazy (``localCheckpoint(eager=False)``) otherwise: the first
  job that reads it fills it. One exception: a pin whose only read
  inside the function is an ``isEmpty`` probe that decides whether the
  frame is read again may be lazy, because the probe fills it and an
  eager pin would cost a job of its own (``_capped_shared_counts``'
  hot-key census).
- A local checkpoint gives up lineage: its blocks live only in the
  executors' block managers, so a lost executor fails the job instead of
  recomputing the lost partitions.

A pin is kept only where an isolated A/B shows it saving time, or where
the result must outlive its inputs.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nyuki_spark.catalog import TABLES, configure_session, register_tables

__all__ = ["Query", "REGISTRY", "register", "SWEEP_INTERMEDIATES"]

# qid -> (spark, sf_dir) -> DataFrame: plan fragments that a query runs
# but that reach neither its returned frame nor a pin — a driver-side loop
# that collects each step, or a stage written to disk and read back — so
# the registry plan sweep can inspect them too (r5 advice: eager
# engine_fns must not dodge the scale-killer sweep). The sweep records
# every pinned frame's plan itself; a pin needs no entry here. The sweep
# applies the owning query's allowlist to each builder's plan.
SWEEP_INTERMEDIATES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def _infer_tables(*sqls: str | None) -> tuple[str, ...]:
    """Fixture tables a query references, by word-matching its SQL texts.

    Registering only these keeps one unreadable table from failing queries
    that never touch it (the round-1 blast-radius bug: a bad ``events``
    read zeroed even orders-only queries). Over-matching (a column named
    like a table) is harmless — it registers one extra view.
    """
    words: set[str] = set()
    for s in sqls:
        if s:
            words.update(re.findall(r"[a-z_]+", s.lower()))
    return tuple(t for t in TABLES if t in words)


@dataclass(frozen=True)
class Query:
    """One declared query.

    - ``engine_sql``: Spark SQL text (runs through Catalyst unchanged).
    - ``engine_fn``: DataFrame program; takes (spark, sf_dir) *after* the
      catalog is registered. Preferred over ``engine_sql`` when set — used
      where the idiomatic Spark execution differs from the declared SQL
      (as-of rewrite) or where the operator is not SQL (pandas-UDF kNN).
    - ``oracle_sql``: DuckDB twin. None -> driver records rows-only check.
    - ``category``: SURVEY.md §2 bucket, for reporting.
    - ``suite``: "declared" (the 61 in SURVEY.md Appendix A — the set
      BASELINE.md's numbers cover, and what bench.py times) or "extension".
    - ``tables``: fixture tables to register as temp views before running.
      None -> inferred from the SQL texts; engine_fn-only queries load
      their own tables via ``load_table`` and need none registered.
    """

    id: str
    engine_sql: str | None = None
    oracle_sql: str | None = None
    engine_fn: Callable[[SparkSession, str], DataFrame] | None = field(
        default=None, repr=False
    )
    category: str = ""
    doc: str = ""
    suite: str = "declared"
    tables: tuple[str, ...] | None = None

    def run(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        # The caller's session is often NOT ours (the driver harness builds
        # a virgin one) — configure it before anything touches parquet.
        configure_session(spark)
        tables = self.tables
        if tables is None:
            tables = _infer_tables(self.engine_sql, self.oracle_sql)
            # A pure-SQL query whose inference finds nothing is rejected at
            # register() time, so this path only ever under-registers for
            # engine_fn queries (which load their own tables).
        register_tables(spark, sf_dir, tables)
        if self.engine_fn is not None:
            return self.engine_fn(spark, sf_dir)
        assert self.engine_sql is not None, f"{self.id}: no engine side"
        return spark.sql(self.engine_sql)

    def runner(self) -> Callable[[SparkSession, str], DataFrame]:
        """A self-contained (spark, sf_dir) callable for __spark_entry__."""
        return lambda spark, sf_dir: self.run(spark, sf_dir)


REGISTRY: dict[str, Query] = {}


def register(
    id: str,
    sql: str | None = None,
    *,
    engine: str | None = None,
    oracle: str | None = None,
    engine_fn: Callable[[SparkSession, str], DataFrame] | None = None,
    category: str = "",
    doc: str = "",
    suite: str = "declared",
    tables: tuple[str, ...] | None = None,
) -> Query:
    """Register a query. ``sql`` sets both sides (portable text); ``engine``/
    ``oracle`` set dialect-specific twins."""
    if sql is not None:
        engine = engine if engine is not None else sql
        oracle = oracle if oracle is not None else sql
    # Fail LOUDLY at register time (import time, so any test run catches it)
    # if a pure-SQL query would fall through table inference: the round-4
    # fallback silently registered ALL fixture tables, re-opening a sliver
    # of the round-1 blast-radius bug (one unreadable table failing
    # queries that never touch it).
    if engine_fn is None and tables is None:
        assert _infer_tables(engine, oracle), (
            f"{id}: table inference found no fixture table in the SQL — "
            "pass tables=(...) explicitly"
        )
    q = Query(
        id=id,
        engine_sql=engine,
        oracle_sql=oracle,
        engine_fn=engine_fn,
        category=category,
        doc=doc,
        suite=suite,
        tables=tables,
    )
    assert id not in REGISTRY, f"duplicate query id {id}"
    REGISTRY[id] = q
    return q

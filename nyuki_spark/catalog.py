"""Fixture-table catalog: parquet -> temp views with type normalisation.

The reference's data model is schema-less JSON events on bus topics
(SURVEY.md §1.1); the engine's is typed DataFrames. This module is the
boundary: it loads the driver's parquet tables and fixes the one type the
raw files cannot express portably — ``events.ts`` is parquet
TIMESTAMP(NANOS,false), which Spark reads (only) as a long under
``spark.sql.legacy.parquet.nanosAsLong=true``. We convert with **integer**
``ts DIV 1000`` -> ``timestamp_micros`` so the truncation matches DuckDB's
native ns->us truncation bit-for-bit (float division rounds up on some rows
and diverges by 1 us — verified, FIXTURES.md).

Schemas are read once per table file. ``spark.read.parquet`` infers a
schema by running a Spark job over the file's footer: loading perfbench's
``documents`` took 71.7 ms that way against 12.5 ms given its schema
(medians of 30 alternating loads, 4-core VM), and the gated ``llm_dedup``
loop loads the same files on every execution. So
``load_table`` keeps each regular file's inferred schema under
``(realpath, st_ino, st_mtime_ns, st_size)`` and reads it again with
``spark.read.schema``: a file rewritten or replaced at the same path
changes the key and is inferred afresh. The memo keeps at most
``_SCHEMA_MEMO_MAX`` (64) files, dropping the oldest entry first: a
process that loads many scratch tables stays bounded. Directories are
inferred on every load. Inference runs under the confs
``configure_session`` has just set (``nanosAsLong`` decides ``events.ts``),
and only file metadata crosses loads: no data, plan or result.

At scale: the tables here are plain parquet directories; on a real cluster
the same ``register_tables`` points at object-store URIs, and Spark's
vectorized parquet reader + partition/rowgroup pruning apply unchanged.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

__all__ = [
    "TABLES",
    "configure_session",
    "load_table",
    "register_tables",
    "DEFAULT_SF_DIR",
]

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Inferred schemas by table file (see the module docstring), oldest first.
_SCHEMA_MEMO_MAX = 64
_SCHEMAS: dict[tuple, StructType] = {}


def configure_session(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable confs to *any* SparkSession.

    The driver harness (and any real embedding application) passes its OWN
    session into the query callables — one built without our
    ``get_session()`` factory. Every conf the engine depends on for
    correctness is a SQL conf, hence settable on a live session:

    - ``nanosAsLong`` — without it, reading ``events.parquet``
      (TIMESTAMP NANOS) throws [PARQUET_TYPE_ILLEGAL];
    - ``timeZone=UTC`` — without it, DATE_TRUNC/EXTRACT silently shift
      away from the UTC-written fixtures (wrong answers, not errors);
    - Arrow + AQE + broadcast threshold — performance posture.

    Builder-time confs are skipped, never attempted: non-SQL keys
    (``spark.ui.*``, driver memory) and the static SQL keys in
    ``STATIC_SQL_CONF`` (the codegen cache size). A session built without
    ``get_session`` runs with Spark's value for those. Idempotent and cheap
    (a handful of py4j conf.set calls), so every entry point calls it
    unconditionally.
    """
    from nyuki_spark.session import ENGINE_CONF, STATIC_SQL_CONF

    for key, value in ENGINE_CONF.items():
        if not key.startswith("spark.sql.") or key in STATIC_SQL_CONF:
            continue  # builder-time only
        try:
            spark.conf.set(key, value)
        except Exception:
            # A session may pin some conf as static/modifiable=false in
            # exotic deployments; one unsettable knob must not take down
            # queries that don't depend on it.
            pass


def _schema_key(path: str) -> tuple | None:
    """The memo key of a table file, or None for anything but a regular
    file (a directory's footers are re-read on every load)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.realpath(path), st.st_ino, st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, applying type normalisation where needed.

    A table file's schema is inferred once and then passed back with
    ``spark.read.schema`` (module docstring)."""
    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key is not None:
            if len(_SCHEMAS) >= _SCHEMA_MEMO_MAX:
                _SCHEMAS.pop(next(iter(_SCHEMAS)))
            _SCHEMAS[key] = schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        # ns-as-long -> microsecond timestamp; integer DIV (see module doc).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Register fixture tables as temp views; returns the DataFrames.

    The first load of a table file reads its footer eagerly, so
    registration is cheap but NOT free — and a corrupt/unreadable table
    fails here, at registration. Callers therefore pass only the
    ``tables`` their query actually references (``Query.run`` infers
    them), so one bad table cannot poison unrelated queries.
    """
    configure_session(spark)
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

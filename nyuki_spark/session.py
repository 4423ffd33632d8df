"""SparkSession factory with the engine's verified configuration.

Every config below is load-bearing (validated against the driver fixtures —
see FIXTURES.md):

- ``spark.sql.session.timeZone=UTC`` — fixture timestamps are written UTC;
  the DuckDB oracle reads them UTC; any other zone shifts DATE_TRUNC/EXTRACT.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is parquet
  TIMESTAMP(NANOS) which Spark 4.x refuses to read natively
  ([PARQUET_TYPE_ILLEGAL]); with this flag it arrives as a long and the
  catalog converts with integer ``ts DIV 1000`` -> ``timestamp_micros`` so
  both engines truncate ns->us identically.
- Arrow execution on — all collection paths and pandas UDFs cross the
  Python<->JVM boundary through Arrow batches (row-wise py4j collection of
  100k rows measurably stalls for minutes).
- AQE on (coalesce partitions + skew join) — at 100 TB this is what re-plans
  shuffles at runtime; at test scale it coalesces the tiny shuffles.
- ``spark.sql.streaming.checkpointFileManagerClass`` =
  ``FileSystemBasedCheckpointFileManager`` — Spark's default manager
  commits every state delta, its ``.crc`` and its checkpoint checksum file
  with ``FileContext.rename``. Without libhadoop, Hadoop's local
  FileContext checks source and destination for symlinks by forking two
  ``readlink`` processes per rename (1,320 forks in a 12 s run of a
  3 s-trigger bus subscription on 8 state partitions). This manager writes
  a temp file and calls ``FileSystem.rename`` instead: an atomic POSIX
  rename on local disk, an atomic namenode rename on HDFS, no fork. It is
  also the manager Spark itself falls back to for every store without
  FileContext support. Checkpoint checksums (``<v>.delta.crc``) and
  Hadoop's ``.crc`` files are written as before.

Scale posture: shuffle partitions default to 32 on local[32] test rigs, but
the factory honours ``NYUKI_SHUFFLE_PARTITIONS`` so a real cluster deployment
sets it to ~2-3x total executor cores. AQE then coalesces/splits at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "ENGINE_CONF"]

# Configuration shared by every entry point (tests, bench, driver harness).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/part at test SFs) stay under
    # this threshold -> broadcast hash joins without hints.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Streaming: file-replay sources in tests produce few, small batches.
    "spark.sql.streaming.schemaInference": "false",
    # Checkpoint/state commits by FileSystem.rename, not FileContext.rename
    # (no forked `readlink` per file; see the module docstring).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.shuffle.partitions": os.environ.get("NYUKI_SHUFFLE_PARTITIONS", "32"),
    # Self-describing UI is useless headless; saves startup time.
    "spark.ui.enabled": "false",
    # Builder-time only (configure_session skips non-spark.sql.* keys): in
    # local mode the driver JVM IS the executor, and Spark's 1g default
    # heap OOMs a 32-thread run long before the 128 GiB box is busy —
    # observed on the r4 full-suite bench (streaming sliding-window Expand
    # at sf0.1). Sized so the sf1 (6 M-row lineitem) validation also fits;
    # a real cluster sets executor memory through spark-submit instead.
    "spark.driver.memory": os.environ.get("NYUKI_DRIVER_MEMORY", "24g"),
}


def _ship_worker_tuneup() -> None:
    """Put the repo root (which holds ``sitecustomize.py``) on the env
    PYTHONPATH BEFORE the JVM launches, so Python workers import the
    zipimport mtime guard at interpreter startup (guide §4 — see the
    sitecustomize module docstring for the measured 154 ms/task win).

    PySpark's worker factory builds the worker PYTHONPATH as
    ``sparkPythonPath + the JVM process env PYTHONPATH``, and the JVM
    inherits this process's environment at gateway launch — so this is
    a no-op if a session (hence the JVM) already exists, and harmless if
    the driver was launched some other way (workers then simply run
    stock, correctness unaffected)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.exists(os.path.join(root, "sitecustomize.py")):
        return
    current = os.environ.get("PYTHONPATH", "")
    if root in current.split(os.pathsep):
        return
    os.environ["PYTHONPATH"] = (
        f"{current}{os.pathsep}{root}" if current else root
    )


def get_session(
    app_name: str = "nyuki-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same entry point serves tests, bench, and a real cluster (where
    ``master`` is supplied by spark-submit and must be left None).
    """
    _ship_worker_tuneup()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    # r13 (VERDICT #5): state-store provider knob for the streaming
    # family. Default leaves Spark's HDFS-backed provider alone; set
    # NYUKI_STREAM_STATE_PROVIDER=rocksdb (or a full provider class name)
    # to A/B RocksDB at identical chunk fidelity. Read at call time so
    # separate bench processes can flip it without code edits.
    provider = os.environ.get("NYUKI_STREAM_STATE_PROVIDER")
    if provider:
        if provider.lower() == "rocksdb":
            provider = (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        conf["spark.sql.streaming.stateStore.providerClass"] = provider
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark

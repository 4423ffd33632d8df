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
A streaming deployment that wants RocksDB state passes
``spark.sql.streaming.stateStore.providerClass`` through ``extra_conf``
(``BASELINE.md`` has the HDFS-vs-RocksDB A/B: RocksDB holds 2-9x less state
memory and is mostly 10-50% slower).

Driver start-up from a class-data-sharing archive
-------------------------------------------------
A fresh driver JVM loads ~14k Spark/Hadoop classes from 287 jars before the
first query can run: about half of process-start-to-first-result (~10 s
without an archive, ~5 s with one, on a 4-core VM). When ``get_session``
launches the JVM it passes, through ``spark.driver.defaultJavaOptions``
(Spark puts it before ``extraJavaOptions``, so a caller's heap flags still
apply), a JDK 17 AppCDS archive of the classes an engine session loads.
The archive holds class metadata only: no data, no plans, no results.

- *Where and how big.* ``$XDG_CACHE_HOME/nyuki_spark`` (default
  ``~/.cache/nyuki_spark``), one ``jvm-<key>.jsa`` of ~160-230 MB. The key
  hashes the JDK (``java.home`` and its ``release`` file) and the Spark jar
  list (names, sizes, mtimes; the JVM itself rejects an archive whose jars
  changed). Publishing a key's archive deletes the archives of other keys.
- *How it is built.* A run that finds no archive records its loaded classes
  (``-XX:DumpLoadedClassList``, 0.5-0.7 s slower). At interpreter exit, once
  that JVM has exited, one ``java -Xshare:dump`` (30-60 s, output in
  ``jvm-<key>.dump.log``) turns the list into the archive, with exactly the
  classpath and module flags read from the live JVM, and publishes it by
  rename (test processes run concurrently). A dump that fails or passes
  ``_DUMP_TIMEOUT_S`` leaves ``jvm-<key>.failed``, and later runs start
  without an archive and never dump again; delete the marker to retry.
  Later runs start with ``-XX:SharedArchiveFile=<archive> -Xshare:auto``;
  a missing, corrupt or stale archive makes the JVM start without it.
- *Why the conf-dir redirect is load-bearing.* CDS refuses a non-empty
  directory on the classpath, and Spark puts ``$SPARK_CONF_DIR`` there.
  When that dir holds nothing but ``*.template`` files (it then configures
  nothing), ``SPARK_CONF_DIR`` is pointed at the empty
  ``<cache>/nyuki_spark/conf``. A conf dir with a real file is left in
  place and no CDS flag is added.
- JVM log lines go to stderr (``-Xlog:disable -Xlog:all=warning:stderr``):
  HotSpot prints warnings, such as a rejected archive, on stdout, where
  ``bench.py`` and ``perfbench`` print their one result line.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


# HotSpot logs warnings on stdout by default; send them to stderr.
_JVM_LOG_OPTS = "-Xlog:disable -Xlog:all=warning:stderr"
# JVM input arguments that shape the module graph: the archive dump
# repeats the live JVM's exactly.
_MODULE_OPTS = (
    "--add-modules",
    "--add-opens",
    "--add-exports",
    "--add-reads",
    "--enable-native-access",
    "--limit-modules",
    "--patch-module",
    "--module-path",
    "--upgrade-module-path",
)
# Bounds on the at-exit archive build: the building run's JVM exit, then
# the dump (30-60 s on a 4-core VM).
_JVM_EXIT_TIMEOUT_S = 60.0
_DUMP_TIMEOUT_S = 300.0


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "nyuki_spark")


def _java_home() -> str | None:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME``, else the
    ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _archive_key(spark_home: str) -> str | None:
    """Hash of what the archive is valid for: the JDK and the Spark jars.
    Reads files only; forks no ``java -version``."""
    java_home = _java_home()
    if java_home is None:
        return None
    h = hashlib.sha256(f"{os.path.realpath(java_home)}\n".encode())
    release = os.path.join(java_home, "release")
    if os.path.exists(release):
        with open(release, "rb") as fh:
            h.update(fh.read())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for entry in sorted(it, key=lambda e: e.name):
            st = entry.stat()
            h.update(f"{entry.name}\t{st.st_size}\t{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _only_templates(conf_dir: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def _class_data_sharing() -> tuple[list[str], _ArchiveBuild | None]:
    """Driver JVM options that start from this key's archive, or that
    record the class list which builds it, and the pending build if so.
    No options when the conf dir holds a real file, the cache dir cannot
    be written, or this key's dump failed before."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not _only_templates(conf_dir):
        return [], None
    cache = _cache_dir()
    try:
        key = _archive_key(spark_home)
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return [], None
    if key is None or os.listdir(empty_conf):
        return [], None
    archive = os.path.join(cache, f"jvm-{key}.jsa")
    build = None
    if os.path.exists(archive):
        opts = [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]
    elif os.path.exists(_ArchiveBuild.marker(archive)) or _ArchiveBuild.pending:
        return [], None
    else:
        build = _ArchiveBuild(archive)
        opts = [f"-XX:DumpLoadedClassList={build.classlist}"]
    os.environ["SPARK_CONF_DIR"] = empty_conf
    return opts, build


class _ArchiveBuild:
    """A run that records its class list. At interpreter exit, once the
    JVM has exited, it dumps the archive from that list and publishes it
    by rename, or leaves the key's failure marker."""

    pending = False  # at most one recording JVM per process

    def __init__(self, archive: str):
        self.archive = archive
        self.classlist = f"{archive}.{os.getpid()}.classlist"
        self.tmp = f"{archive}.{os.getpid()}.tmp"
        self.command: list[str] | None = None
        self.proc = None
        _ArchiveBuild.pending = True

    @staticmethod
    def marker(archive: str) -> str:
        return archive[: -len(".jsa")] + ".failed"

    def attach(self, spark: SparkSession) -> None:
        """Read the dump's command line from the live JVM and schedule the
        dump; the archive must match its classpath and module flags."""
        jvm = spark.sparkContext._jvm
        args = list(
            jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        )
        self.proc = getattr(SparkContext._gateway, "proc", None)
        if f"-XX:DumpLoadedClassList={self.classlist}" not in args or self.proc is None:
            _remove(self.classlist)
            return
        modules = [a for a in args if a.split("=", 1)[0] in _MODULE_OPTS]
        self.command = [
            os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
            "-Xshare:dump",
            f"-XX:SharedClassListFile={self.classlist}",
            f"-XX:SharedArchiveFile={self.tmp}",
            "-cp",
            jvm.System.getProperty("java.class.path"),
            *modules,
        ]
        atexit.register(self.run)

    def run(self) -> None:
        try:
            if not self._jvm_exited():
                return
            failure = self._dump()
            if failure is None:
                _publish(self.tmp, self.archive)
            else:
                with open(self.marker(self.archive), "w") as fh:
                    fh.write(failure + "\n")
        except OSError:
            pass
        finally:
            _remove(self.tmp)
            _remove(self.classlist)

    def _jvm_exited(self) -> bool:
        """Stop the recording JVM if the program left it running: the
        class list is complete only once it has exited."""
        if self.proc.poll() is None:
            # Still running, so it is the process's current gateway JVM.
            sc = SparkContext._active_spark_context
            if sc is not None:
                try:
                    sc.stop()
                except Py4JError:
                    pass  # closing stdin below ends the JVM either way
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=_JVM_EXIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                return False
        return True

    def _dump(self) -> str | None:
        """Run the dump; None on success, else why it failed."""
        log = self.archive[: -len(".jsa")] + ".dump.log"
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    self.command,
                    stdin=subprocess.DEVNULL,
                    stdout=out,
                    stderr=subprocess.STDOUT,
                    timeout=_DUMP_TIMEOUT_S,
                ).returncode
            except subprocess.TimeoutExpired:
                return f"dump timed out after {_DUMP_TIMEOUT_S:g} s"
        return None if rc == 0 else f"dump exited {rc}; see {log}"


def _publish(tmp: str, archive: str) -> None:
    """Rename ``tmp`` onto ``archive`` and delete other keys' archives:
    one archive per cache dir."""
    os.replace(tmp, archive)
    for other in glob.glob(os.path.join(os.path.dirname(archive), "jvm-*.jsa")):
        if other != archive:
            _remove(other)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def get_session(
    app_name: str = "nyuki-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same entry point serves tests, bench, and a real cluster (where
    ``master`` is supplied by spark-submit and must be left None).
    ``extra_conf`` overrides ``ENGINE_CONF`` key by key, e.g. a RocksDB
    ``spark.sql.streaming.stateStore.providerClass``. A JVM launched here
    starts from the class-data-sharing archive (module docstring).
    """
    _ship_worker_tuneup()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    build = None
    # Only a launch of a new JVM can take start-up options.
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        java_opts, build = _class_data_sharing()
        user_opts = conf.get("spark.driver.defaultJavaOptions")
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            [_JVM_LOG_OPTS, *java_opts, *([user_opts] if user_opts else [])]
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if build is not None:
        build.attach(spark)
    return spark

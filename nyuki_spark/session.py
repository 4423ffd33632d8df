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
- ``spark.sql.codegen.cache.maxEntries=1000`` — Spark keeps each
  whole-stage class it compiles (Janino) in an LRU cache keyed by the
  generated source, 100 entries by default. One pass of the four
  ``llm_dedup`` benchmark ids compiles 109 classes in a fresh JVM, so the
  default cache evicted them within the pass and every later pass
  recompiled 42-69 of them (counted with ``CodegenMetrics``'
  compilation-time histogram, 2 task threads, perfbench seed-5 inputs).
  At 1000 entries a repeat pass compiles none, and perfbench's peak RSS
  did not move. Only generated code crosses executions: no data, plan or
  result. It is a static SQL conf
  (``spark.conf.isModifiable`` is False): the JVM's first session fixes
  it, so it is set at build time only, and ``STATIC_SQL_CONF`` lists it
  so that ``catalog.configure_session`` never tries it on a live session.

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
first query can run: about half of process-start-to-first-result (~2.9 s
to ``getOrCreate`` without an archive, ~1.6 s with one, on a 4-core VM).
When ``get_session`` launches the JVM it passes, through
``spark.driver.defaultJavaOptions`` (Spark puts it before
``extraJavaOptions``, so a caller's heap flags still apply), a JDK 17
dynamic class-data-sharing archive of the classes an engine session
loads, layered over the JDK's own base archive. The archive holds class
metadata only: no data, no plans, no results.

- *Where and how big.* ``$XDG_CACHE_HOME/nyuki_spark`` (default
  ``~/.cache/nyuki_spark``), one ``driver-<key>.jsa`` of ~140-185 MB. The
  key hashes the JDK (``java.home`` and its ``release`` file) and the
  Spark jar list (names, sizes, mtimes; the JVM itself rejects an archive
  whose jars changed). Publishing a key's archive deletes the
  ``driver-*.jsa`` archives of other keys. Files of other names in that
  dir, such as the static ``jvm-<key>.jsa`` archives of earlier versions,
  are neither read nor deleted.
- *How it is built.* The JVM of a run that finds no archive writes one
  itself when it exits (``-XX:ArchiveClassesAtExit=<archive>.<pid>.tmp``;
  ``getOrCreate`` and the first query are ~1.5 s slower, the exit ~5 s).
  Its ~600 per-class ``[cds]`` skip warnings are turned off; ``[cds]``
  errors still reach stderr. At interpreter exit ``get_session``'s hook
  stops the JVM if the program left it running, waits for it to exit,
  and publishes the file by rename (test processes run concurrently). A
  JVM that exits non-zero or without the file leaves
  ``driver-<key>.failed``, and later runs start without an archive and
  never build again; delete the marker to retry. A JVM still running
  after ``_JVM_EXIT_TIMEOUT_S`` is killed, its partial file removed and
  the marker left. Later runs start with
  ``-XX:SharedArchiveFile=<archive> -Xshare:auto``; a missing, corrupt or
  stale archive makes the JVM start without it.
- *A refused archive is rebuilt once.* Right after the launch,
  ``get_session`` reads the driver JVM's ``/proc/<pid>/maps``: an archive
  the JVM mapped is listed there. One that is not (a corrupt file, or an
  archive recorded over another classpath, which HotSpot refuses with
  ``[cds,dynamic] Unable to use shared archive``) is deleted, leaving
  ``driver-<key>.rejected``, so the next run builds a new one. If the JVM
  refuses that one too, it is deleted and ``driver-<key>.failed`` stops
  further builds: at most one rebuild per key. Where there is no
  ``/proc``, the check cannot tell and keeps the archive. A dump output
  (``driver-<key>.jsa.<pid>.tmp``) whose process is dead, left by a
  building run killed by a signal before its ``atexit``, is removed by
  the next ``get_session``.
- *Flight recordings.* JFR works with the archive, started at launch
  (``-XX:StartFlightRecording``) or on a live JVM (``jcmd <pid>
  JFR.start``). In the one run that builds the archive, the JDK turns
  off a launch-time recording ("JFR will be disabled during CDS
  dumping", on stderr); ``jcmd JFR.start`` still records there.
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
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

__all__ = ["get_session", "ENGINE_CONF", "STATIC_SQL_CONF"]

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
    # Static: a pass of repeated plan shapes outgrows the default 100
    # (see the module docstring).
    "spark.sql.codegen.cache.maxEntries": "1000",
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

# The ``spark.sql.*`` keys of ENGINE_CONF that only a session builder can
# set: Spark raises on a runtime set of a static conf.
STATIC_SQL_CONF: frozenset[str] = frozenset({"spark.sql.codegen.cache.maxEntries"})


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
# Bound on a building run's JVM exit, which includes writing the archive
# (~5 s on a 4-core VM).
_JVM_EXIT_TIMEOUT_S = 60.0


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


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's live process
    return True


def _remove_dead_builds(archive: str) -> None:
    """Remove dump outputs of building processes that died before their
    ``atexit`` ran."""
    for path in glob.glob(f"{glob.escape(archive)}.*.tmp"):
        pid = path[len(archive) + 1 : -len(".tmp")]
        if pid.isdigit() and not _pid_alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(path)


def _class_data_sharing() -> tuple[list[str], _ArchiveBuild | None]:
    """Driver JVM options that start from this key's archive, or that
    write it at exit, and the pending build if so. No options when the
    conf dir holds a real file, the cache dir cannot be written, or this
    key's build failed before."""
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
    archive = os.path.join(cache, f"driver-{key}.jsa")
    _remove_dead_builds(archive)
    build = None
    if os.path.exists(archive):
        opts = [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]
    elif os.path.exists(_ArchiveBuild.marker(archive)) or _ArchiveBuild.pending:
        return [], None
    else:
        build = _ArchiveBuild(archive)
        # The dump's per-class skip warnings would fill stderr; keep errors.
        opts = [f"-XX:ArchiveClassesAtExit={build.tmp}", "-Xlog:cds=error:stderr"]
    os.environ["SPARK_CONF_DIR"] = empty_conf
    return opts, build


class _ArchiveBuild:
    """A run whose JVM writes the archive as it exits. At interpreter
    exit, once that JVM has exited, the archive is published by rename,
    or the key's failure marker is left."""

    pending = False  # at most one building JVM per process

    def __init__(self, archive: str):
        self.archive = archive
        self.tmp = f"{archive}.{os.getpid()}.tmp"
        self.proc = None
        _ArchiveBuild.pending = True

    @staticmethod
    def marker(archive: str) -> str:
        return archive[: -len(".jsa")] + ".failed"

    def attach(self) -> None:
        self.proc = getattr(SparkContext._gateway, "proc", None)
        if self.proc is not None:
            atexit.register(self.run)

    def run(self) -> None:
        try:
            failure = self._wait_for_jvm_exit()
            if failure is None:
                _publish(self.tmp, self.archive)
            else:
                with open(self.marker(self.archive), "w") as fh:
                    fh.write(failure + "\n")
        except OSError:
            pass
        finally:
            _remove(self.tmp)

    def _wait_for_jvm_exit(self) -> str | None:
        """Stop the building JVM if the program left it running and wait
        for its exit, which writes the archive; None once the archive is
        complete, else why it is not."""
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
                self.proc.kill()
                self.proc.wait()
                return f"the JVM did not exit within {_JVM_EXIT_TIMEOUT_S:g} s"
        if self.proc.returncode != 0 or not os.path.exists(self.tmp):
            return f"the JVM exited {self.proc.returncode} without an archive"
        return None


def _publish(tmp: str, archive: str) -> None:
    """Rename ``tmp`` onto ``archive`` and delete other keys' archives:
    one archive per cache dir."""
    os.replace(tmp, archive)
    for other in glob.glob(os.path.join(os.path.dirname(archive), "driver-*.jsa")):
        if other != archive:
            _remove(other)


def _drop_if_refused(spark: SparkSession, archive: str) -> None:
    """Delete ``archive`` if the JVM just launched with it did not map it
    (a mapped archive is listed in the JVM's ``/proc/<pid>/maps``; the
    JDK's base archive maps either way). The first refusal per key leaves ``.rejected`` so that the next run
    rebuilds; a refusal of the rebuilt archive leaves ``.failed``."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as fh:
            if os.path.realpath(archive) in fh.read():
                return
    except OSError:
        return  # no /proc: cannot tell, so keep it
    rejected = archive[: -len(".jsa")] + ".rejected"
    try:
        if os.path.exists(rejected):
            with open(_ArchiveBuild.marker(archive), "w") as fh:
                fh.write("the JVM refused the archive again after one rebuild\n")
        else:
            open(rejected, "w").close()
        _remove(archive)
    except OSError:
        pass


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
    cds_opts: list[str] = []
    # Only a launch of a new JVM can take start-up options.
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        user_opts = conf.get("spark.driver.defaultJavaOptions")
        cds_opts, build = _class_data_sharing()
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            [_JVM_LOG_OPTS, *cds_opts, *([user_opts] if user_opts else [])]
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if build is not None:
        build.attach()
    for opt in cds_opts:
        if opt.startswith("-XX:SharedArchiveFile="):
            _drop_if_refused(spark, opt.split("=", 1)[1])
    return spark

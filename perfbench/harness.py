"""Run environment, Spark session lifecycle and resource sampling.

Everything a run writes goes under one work directory inside the checkout:
Spark's local and temp dirs, the warehouse, the event log, streaming
checkpoints (the engine makes them with ``tempfile``) and the fixtures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

__all__ = [
    "AB_KNOBS",
    "pin_environment",
    "host_probe",
    "at_reference_speed",
    "Session",
    "RssSampler",
    "environment_record",
]

# Environment switches that exist only while an A/B is open. A run with any
# of them set would not measure the default engine, so it is refused.
AB_KNOBS = (
    "NYUKI_STREAM_STATE_PROVIDER",
    "NYUKI_STREAM_PARTITIONS",
    "NYUKI_LSH_GRAM_BLOCK",
    "NYUKI_CC_DRIVER_MAX_EDGES",
)

# Pinned settings: shuffle partitions as bench.py sets them, and a driver
# heap that fits a 16 GB machine shared with other work (the engine's 24g
# default does not). The heap starts at its full size with every page
# touched: a heap that grows on demand, or whose pages become resident as
# they are first used, makes the JVM's resident memory differ by a fifth
# from run to run.
SHUFFLE_PARTITIONS = "8"
DRIVER_MEMORY = "2g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def task_threads() -> int:
    """Spark task threads (``local[N]``): half the CPUs. A task of a Python
    UDF stage keeps its JVM thread and its Python worker busy at once, so
    this is the most that runs without threads queueing for a CPU. On a
    4-core shared virtual machine, ``local[4]`` was no faster on
    ``llm_dedup`` than ``local[2]`` (median latency 2611 ms against
    2584 ms over eight alternating runs each) and its runs spread 0.35
    against 0.19 (interquartile range / median)."""
    return max(1, cpu_count() // 2)


# host_probe()'s reading on an idle 4-vCPU Xeon (Sapphire Rapids) KVM guest.
# The host's other tenants slow every CPU of such a guest by up to half
# within minutes, and the program slows more than the probe's
# single-threaded loop: its work also waits on thread wake-ups and
# hand-offs between CPUs. Over 30 llm_dedup runs in three ten-seed sets,
# one of which crossed from a quiet to a busy host, the log-log slope of
# raw time on probe time was 1.28 for latency and 1.21 for set-up, and
# PROBE_EXPONENT 1.4 left the smallest spread (interquartile range /
# median) in the crossing set: latency 0.55 raw, 0.20 at exponent 1, 0.05
# at 1.4; set-up 0.58 raw, 0.07 at 1.4.
PROBE_REF_S = 0.018
PROBE_EXPONENT = 1.4


def _probe_loop() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i
    return time.perf_counter() - t0


def host_probe() -> float:
    """The machine's speed now: the seconds a fixed pure-Python loop takes,
    the median of three on each CPU this process may use, averaged over
    the CPUs (about 0.2 s in all). Call it while the engine runs no job, so
    that it reads the machine and not the program under test."""
    cpus = sorted(os.sched_getaffinity(0))
    per_cpu = []
    try:
        for cpu in cpus:
            os.sched_setaffinity(0, {cpu})
            per_cpu.append(statistics.median(_probe_loop() for _ in range(3)))
    finally:
        os.sched_setaffinity(0, set(cpus))
    return statistics.mean(per_cpu)


def at_reference_speed(value: float, probe_s: float) -> float:
    """A time measured while ``host_probe`` read ``probe_s``, brought to
    the machine's speed when it reads ``PROBE_REF_S``."""
    return value * (PROBE_REF_S / probe_s) ** PROBE_EXPONENT


def pin_environment(work_dir: str) -> dict[str, str]:
    """Fix the engine's environment for this process and the JVM it starts.
    Raises ``RuntimeError`` if an A/B knob is set."""
    set_knobs = [k for k in AB_KNOBS if os.environ.get(k)]
    if set_knobs:
        raise RuntimeError(f"refusing to run with A/B knobs set: {', '.join(set_knobs)}")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(task_threads()),
        "NYUKI_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "NYUKI_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    tempfile.tempdir = tmp
    return pinned


class Session:
    """One Spark driver JVM and session, started and stopped as a unit:
    the JVM is launched fresh, so set-up time includes its launch."""

    def __init__(self, work_dir: str, event_log: bool):
        self.work_dir = work_dir
        self.event_log_dir = os.path.join(work_dir, "eventlog") if event_log else None
        self.spark = None

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self):
        from nyuki_spark import session

        self.spark = session.get_session("nyuki-perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between the
    forked Python workers counted once across them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the resident memory (PSS) of a process tree, the driver JVM
    and the Python processes it forks, on a background thread; keeps the
    peak of the total and of each part."""

    def __init__(self, root_pid: int | None, period_s: float = 0.25):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        if self.root_pid is None:
            return
        kids = _children()
        jvm = _pss_bytes(self.root_pid)
        python, todo = 0, list(kids.get(self.root_pid, ()))
        while todo:
            pid = todo.pop()
            python += _pss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_bytes = max(self.peak_bytes, jvm + python)
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_python_bytes = max(self.peak_python_bytes, python)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)

    @property
    def peak_parts_mb(self) -> dict[str, float]:
        return {"jvm": self.peak_jvm_bytes / 2**20, "python": self.peak_python_bytes / 2**20}


def _git_head(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")) or shutil.which("git") is None:
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (subprocess.SubprocessError, OSError):
        return None
    return out.stdout.strip() or None


def environment_record(root: str, spark, pinned: dict[str, str]) -> dict:
    """What a reader needs to compare two artifacts: machine, versions, env."""
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": cpu_count(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_head": _git_head(root),
        "pinned_env": {k: v for k, v in pinned.items() if k.startswith(("SPARK_GRAFT", "NYUKI"))},
        "timestamp_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }

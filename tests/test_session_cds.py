"""The driver JVM's class-data-sharing archive (see ``nyuki_spark/session.py``).

Every case starts a session in a subprocess with its own
``XDG_CACHE_HOME`` and must give a working session, a correct
``SUM(id)``, and exactly one line on stdout: the line the child prints.
"""

from __future__ import annotations

import glob
import json
import mmap
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from nyuki_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os, subprocess, sys
sys.path.insert(0, {root!r})
from nyuki_spark import session
{patch}
spark = session.get_session("cds-test", extra_conf={conf!r})
jvm = spark.sparkContext._jvm
pid = jvm.ProcessHandle.current().pid()
{after}
args = [str(a) for a in
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
total = spark.range(1000).selectExpr("SUM(id) AS s").collect()[0].s
print(json.dumps({{
    "sum": total,
    "args": args,
    "pid": pid,
    "py_pid": os.getpid(),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "class_path_head": jvm.System.getProperty("java.class.path").split(":")[0],
}}))
spark.stop()
"""

CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xshare")


def _run(
    cache: str,
    patch: str = "",
    conf: dict[str, str] | None = None,
    stdout_noise: str | None = None,
    after: str = "",
    **env_overrides,
) -> tuple[dict, str]:
    """Run one child session; returns its printed record and its stderr.
    ``after`` runs between ``get_session`` and the query. Stdout lines
    that contain ``stdout_noise`` are not counted."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")
    }
    env.update(
        XDG_CACHE_HOME=cache,
        SPARK_GRAFT_CPUS="1",
        NYUKI_DRIVER_MEMORY="1g",
        **env_overrides,
    )
    child = CHILD.format(root=REPO_ROOT, patch=patch, conf=conf, after=after)
    out = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(cache),
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [
        line
        for line in out.stdout.splitlines()
        if stdout_noise is None or stdout_noise not in line
    ]
    assert len(lines) == 1, f"stdout must be one line, got {lines!r}"
    record = json.loads(lines[0])
    assert record["sum"] == 499500
    return record, out.stderr


def _cds_args(record: dict) -> list[str]:
    return [a for a in record["args"] if a.startswith(CDS_FLAGS)]


def _key() -> str:
    return session._archive_key(session._find_spark_home())


def _archive(cache: str) -> str:
    return os.path.join(cache, "nyuki_spark", f"driver-{_key()}.jsa")


def _building(record: dict, archive: str) -> bool:
    # The dump output is named after the Python process, not the JVM.
    return _cds_args(record) == [f"-XX:ArchiveClassesAtExit={archive}.{record['py_pid']}.tmp"]


@pytest.fixture(scope="module")
def built(tmp_path_factory) -> tuple[str, dict, dict]:
    """A cache dir whose first run built this key's archive, which
    replaced another key's archive, next to a static archive of this key
    from an earlier version; returns the cache dir and the records of the
    building run and of a run that used the archive."""
    cache = str(tmp_path_factory.mktemp("built") / "cache")
    os.makedirs(os.path.join(cache, "nyuki_spark"))
    for name in ("driver-0000000000000000.jsa", f"jvm-{_key()}.jsa"):
        with open(os.path.join(cache, "nyuki_spark", name), "wb") as fh:
            fh.write(b"\0" * 4096)
    first, stderr = _run(cache)
    # The dump's per-class [cds] skip warnings stay off stderr.
    assert "[cds]" not in stderr
    second, _ = _run(cache)
    return cache, first, second


def test_missing_archive_is_built_after_exit_and_used_next(built):
    cache, first, second = built
    archive = _archive(cache)
    assert _building(first, archive)
    assert first["class_path_head"] == os.path.join(cache, "nyuki_spark", "conf") + "/"
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(archive), f"jvm-{_key()}.jsa"]
    )
    # Used, and mapped: a refused archive would have been deleted.
    assert _cds_args(second) == [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]
    assert os.path.exists(archive)


def test_static_archive_of_this_key_is_neither_read_nor_deleted(built):
    cache, first, second = built
    static = os.path.join(cache, "nyuki_spark", f"jvm-{_key()}.jsa")
    with open(static, "rb") as fh:
        assert fh.read() == b"\0" * 4096
    for record in (first, second):
        assert not any(static in arg for arg in record["args"])


# Child code (for ``after``): three small queries.
QUERIES = (
    "for _ in range(3):\n"
    "    assert spark.range(10).selectExpr('SUM(id) AS s').collect()[0].s == 45\n"
)


def _jcmd(*command: str) -> str:
    """Child code (for ``after``) that runs ``jcmd <its JVM> <command>``."""
    jcmd = os.path.join(session._java_home(), "bin", "jcmd")
    return (
        f"out = subprocess.run([{jcmd!r}, str(pid), *{list(command)!r}],"
        " capture_output=True, text=True)\n"
        "assert out.returncode == 0 and 'Could not' not in out.stdout, out\n"
    )


def test_flight_recording_at_launch_keeps_the_archive(built, tmp_path):
    # A launch-time recording on a static AppCDS archive crashed JDK 17.0.20
    # (SIGSEGV in KlassFactory::check_shared_class_file_load_hook). JFR
    # prints its start-up lines on stdout whatever -Xlog says, so they are
    # not counted.
    cache, _, _ = built
    archive = _archive(cache)
    mtime = os.stat(archive).st_mtime_ns
    recording = tmp_path / "launch.jfr"
    jfr = f"-XX:StartFlightRecording=name=launch,filename={recording}"
    record, _ = _run(
        cache,
        conf={"spark.driver.extraJavaOptions": jfr},
        stdout_noise="[jfr,startup]",
        # Stopping the recording writes its file before the child exits.
        after=QUERIES + _jcmd("JFR.stop", "name=launch"),
    )
    assert jfr in record["args"]
    assert f"-XX:SharedArchiveFile={archive}" in record["args"]
    assert os.stat(archive).st_mtime_ns == mtime
    assert recording.stat().st_size > 0


def test_flight_recording_started_by_jcmd_on_an_archived_driver(built, tmp_path):
    # `jcmd <pid> JFR.start` crashed a driver running from a static AppCDS
    # archive (same SIGSEGV); queries must keep running after it.
    cache, _, _ = built
    archive = _archive(cache)
    recording = tmp_path / "jcmd.jfr"
    record, _ = _run(
        cache,
        after=_jcmd("JFR.start", "name=live", "settings=profile", f"filename={recording}")
        + QUERIES
        + _jcmd("JFR.stop", "name=live"),
    )
    assert f"-XX:SharedArchiveFile={archive}" in record["args"]
    assert os.path.exists(archive)
    assert recording.stat().st_size > 0


def test_corrupt_archive_still_gives_a_session(tmp_path):
    cache = str(tmp_path / "cache")
    archive = _archive(cache)
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as fh:
        fh.write(os.urandom(1 << 20))
    record, _ = _run(cache)
    assert f"-XX:SharedArchiveFile={archive}" in record["args"]
    # Refused: deleted so that the next run rebuilds it, once.
    rejected = archive[: -len(".jsa")] + ".rejected"
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(rejected)]
    )


def _spark_in_process(pid: int):
    """Enough of a SparkSession for ``_drop_if_refused``: its JVM is ``pid``."""
    handle = SimpleNamespace(pid=lambda: pid)
    jvm = SimpleNamespace(ProcessHandle=SimpleNamespace(current=lambda: handle))
    return SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))


def test_archive_refused_after_its_rebuild_stops_builds(tmp_path):
    # This test process stands in for the JVM: a file it maps is listed
    # in its /proc/<pid>/maps as a mapped archive is in the JVM's.
    spark = _spark_in_process(os.getpid())
    archive = str(tmp_path / "driver-aaaa.jsa")
    rejected = str(tmp_path / "driver-aaaa.rejected")
    (tmp_path / "driver-aaaa.jsa").write_bytes(b"mapped" * 1024)
    with open(archive, "rb") as fh, mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ):
        session._drop_if_refused(spark, archive)
    assert sorted(os.listdir(tmp_path)) == ["driver-aaaa.jsa"]

    session._drop_if_refused(spark, archive)
    assert sorted(os.listdir(tmp_path)) == ["driver-aaaa.rejected"]

    # The rebuilt archive is refused too: no third build.
    (tmp_path / "driver-aaaa.jsa").write_bytes(b"rebuilt")
    session._drop_if_refused(spark, archive)
    assert sorted(os.listdir(tmp_path)) == ["driver-aaaa.failed", "driver-aaaa.rejected"]
    assert "refused" in open(session._ArchiveBuild.marker(archive)).read()
    assert os.path.exists(rejected)


def test_dead_build_litter_is_removed(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    archive = _archive(str(tmp_path))
    os.makedirs(os.path.dirname(archive))
    # A failure marker keeps this process from starting a build of its own.
    open(session._ArchiveBuild.marker(archive), "w").close()
    dead = subprocess.Popen(["true"])
    dead.wait()
    litter = f"{archive}.{dead.pid}.tmp"
    live = f"{archive}.{os.getpid()}.tmp"
    for path in (litter, live):
        open(path, "w").close()

    assert session._class_data_sharing() == ([], None)
    assert [p for p in (litter, live) if os.path.exists(p)] == [live]


def test_rejected_archive_warning_stays_off_stdout(tmp_path):
    # A dynamic archive recorded over another classpath: HotSpot rejects it
    # with a [warning][cds,dynamic] line, which must go to stderr. The
    # refused archive is deleted, rebuilt once, and the rebuilt one is used.
    cache = str(tmp_path / "cache")
    archive = _archive(cache)
    os.makedirs(os.path.dirname(archive))
    jars = os.path.join(session._find_spark_home(), "jars")
    launcher = glob.glob(os.path.join(jars, "spark-launcher_*.jar"))[0]
    java = os.path.join(session._java_home(), "bin", "java")
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={archive}", "-cp", launcher,
         "org.apache.spark.launcher.Main"],
        capture_output=True,
        timeout=60,
    )
    assert os.path.exists(archive)
    refused, stderr = _run(cache)
    assert "Unable to use shared archive" in stderr
    assert f"-XX:SharedArchiveFile={archive}" in refused["args"]
    rejected = archive[: -len(".jsa")] + ".rejected"
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(rejected)]
    )

    rebuilding, _ = _run(cache)
    assert _building(rebuilding, archive)
    assert os.path.exists(archive)

    using, stderr = _run(cache)
    assert _cds_args(using) == [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]
    assert "Unable to use shared archive" not in stderr
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(archive), os.path.basename(rejected)]
    )


def test_conf_dir_with_a_real_file_gets_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    cache = str(tmp_path / "cache")
    record, _ = _run(cache, SPARK_CONF_DIR=str(conf))
    assert _cds_args(record) == []
    assert record["conf_dir"] == str(conf)
    assert record["class_path_head"] == f"{conf}/"
    assert not os.path.exists(cache)


def test_unwritable_cache_dir_gets_no_archive(tmp_path):
    # A regular file where the cache dir should be: nothing can be created
    # under it, even by root (for whom mode bits do not stop a write).
    cache = tmp_path / "cache"
    cache.write_text("")
    record, _ = _run(str(cache))
    assert _cds_args(record) == []
    assert record["conf_dir"] is None


def test_failed_dump_leaves_marker_and_is_not_retried(tmp_path):
    # The building JVM does not exit in time: it is killed mid-dump, its
    # partial archive removed and the key marked failed.
    cache = str(tmp_path / "cache")
    archive = _archive(cache)
    marker = archive[: -len(".jsa")] + ".failed"

    first, _ = _run(cache, patch="session._JVM_EXIT_TIMEOUT_S = 0.01")
    assert _building(first, archive)
    assert "did not exit" in open(marker).read()
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(marker)]
    )
    assert not session._pid_alive(first["pid"])

    second, _ = _run(cache)
    assert _cds_args(second) == []
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(marker)]
    )


def test_publish_renames_and_keeps_one_archive(tmp_path):
    archive = str(tmp_path / "driver-aaaa.jsa")
    tmp = f"{archive}.123.tmp"
    for name in ("driver-bbbb.jsa", "driver-cccc.jsa", "jvm-bbbb.jsa"):
        (tmp_path / name).write_bytes(b"old")
    (tmp_path / "driver-bbbb.failed").write_text("kept\n")
    with open(tmp, "wb") as fh:
        fh.write(b"new")
    inode = os.stat(tmp).st_ino
    session._publish(tmp, archive)
    assert os.stat(archive).st_ino == inode
    # Static archives of earlier versions are not this version's to delete.
    assert sorted(os.listdir(tmp_path)) == [
        "driver-aaaa.jsa", "driver-bbbb.failed", "jvm-bbbb.jsa"
    ]


@pytest.mark.parametrize("templates_only", [True, False])
def test_only_templates(tmp_path, templates_only):
    (tmp_path / "spark-env.sh.template").write_text("")
    if not templates_only:
        (tmp_path / "log4j2.properties").write_text("")
    assert session._only_templates(str(tmp_path)) is templates_only
    assert session._only_templates(str(tmp_path / "missing"))

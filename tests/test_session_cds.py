"""The driver JVM's class-data-sharing archive (see ``nyuki_spark/session.py``).

Every case starts a session in a subprocess with its own
``XDG_CACHE_HOME`` and must give a working session, a correct
``SUM(id)``, and exactly one line on stdout: the line the child prints.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from nyuki_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os, sys
sys.path.insert(0, {root!r})
from nyuki_spark import session
{patch}
spark = session.get_session("cds-test")
jvm = spark.sparkContext._jvm
args = [str(a) for a in
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
total = spark.range(1000).selectExpr("SUM(id) AS s").collect()[0].s
print(json.dumps({{
    "sum": total,
    "args": args,
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "class_path_head": jvm.System.getProperty("java.class.path").split(":")[0],
}}))
spark.stop()
"""

CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:DumpLoadedClassList", "-Xshare")


def _run(cache: str, patch: str = "", **env_overrides) -> tuple[dict, str]:
    """Run one child session; returns its printed record and its stderr."""
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
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(root=REPO_ROOT, patch=patch)],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(cache),
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, f"stdout must be one line, got {lines!r}"
    record = json.loads(lines[0])
    assert record["sum"] == 499500
    return record, out.stderr


def _cds_args(record: dict) -> list[str]:
    return [a for a in record["args"] if a.startswith(CDS_FLAGS)]


def _archive(cache: str) -> str:
    key = session._archive_key(session._find_spark_home())
    return os.path.join(cache, "nyuki_spark", f"jvm-{key}.jsa")


def test_missing_archive_is_built_after_exit_and_used_next(tmp_path):
    # Starts next to another key's archive, which the new one replaces.
    cache = str(tmp_path / "cache")
    os.makedirs(os.path.join(cache, "nyuki_spark"))
    other = os.path.join(cache, "nyuki_spark", "jvm-0000000000000000.jsa")
    with open(other, "wb") as fh:
        fh.write(b"\0" * 4096)
    archive = _archive(cache)

    first, _ = _run(cache)
    assert [a.split("=")[0] for a in _cds_args(first)] == ["-XX:DumpLoadedClassList"]
    assert first["class_path_head"] == os.path.join(cache, "nyuki_spark", "conf") + "/"
    left = sorted(os.listdir(os.path.join(cache, "nyuki_spark")))
    assert left == ["conf", os.path.basename(archive)[:-4] + ".dump.log", os.path.basename(archive)]

    second, _ = _run(cache)
    assert _cds_args(second) == [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]


def test_corrupt_archive_still_gives_a_session(tmp_path):
    cache = str(tmp_path / "cache")
    archive = _archive(cache)
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as fh:
        fh.write(os.urandom(1 << 20))
    record, _ = _run(cache)
    assert f"-XX:SharedArchiveFile={archive}" in record["args"]


def test_rejected_archive_warning_stays_off_stdout(tmp_path):
    # A dynamic archive recorded over another classpath: HotSpot rejects it
    # with a [warning][cds,dynamic] line, which must go to stderr.
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
    _, stderr = _run(cache)
    assert "Unable to use shared archive" in stderr


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
    cache = str(tmp_path / "cache")
    archive = _archive(cache)
    marker = archive[: -len(".jsa")] + ".failed"
    log = archive[: -len(".jsa")] + ".dump.log"

    first, _ = _run(cache, patch="session._DUMP_TIMEOUT_S = 0.01")
    assert [a.split("=")[0] for a in _cds_args(first)] == ["-XX:DumpLoadedClassList"]
    assert "timed out" in open(marker).read()
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", os.path.basename(marker), os.path.basename(log)]
    )
    log_mtime = os.stat(log).st_mtime_ns

    second, _ = _run(cache)
    assert _cds_args(second) == []
    assert os.stat(log).st_mtime_ns == log_mtime


def test_publish_renames_and_keeps_one_archive(tmp_path):
    archive = str(tmp_path / "jvm-aaaa.jsa")
    tmp = f"{archive}.123.tmp"
    for name in ("jvm-bbbb.jsa", "jvm-cccc.jsa"):
        (tmp_path / name).write_bytes(b"old")
    (tmp_path / "jvm-bbbb.failed").write_text("kept\n")
    with open(tmp, "wb") as fh:
        fh.write(b"new")
    inode = os.stat(tmp).st_ino
    session._publish(tmp, archive)
    assert os.stat(archive).st_ino == inode
    assert glob.glob(str(tmp_path / "*.jsa")) == [archive]
    assert sorted(os.listdir(tmp_path)) == ["jvm-aaaa.jsa", "jvm-bbbb.failed"]


@pytest.mark.parametrize("templates_only", [True, False])
def test_only_templates(tmp_path, templates_only):
    (tmp_path / "spark-env.sh.template").write_text("")
    if not templates_only:
        (tmp_path / "log4j2.properties").write_text("")
    assert session._only_templates(str(tmp_path)) is templates_only
    assert session._only_templates(str(tmp_path / "missing"))

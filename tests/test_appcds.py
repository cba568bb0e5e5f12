"""The driver JVM's class-data-sharing archive (session.py, appcds.py): a
first session dumps it and promotes it after its process ends, the next
maps it, a truncated or stale archive still gives a working session, a
live conf dir keeps Spark's launch, and stdout stays the program's.

Every case runs a fresh interpreter (the archive only applies when a
process launches its JVM) with ``XDG_CACHE_HOME`` under the test's tmp dir.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from etl_ch_destination_spark import appcds
from etl_ch_destination_spark.session import LOCALFS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION = f"""
import json, os, sys
sys.path.insert(0, {REPO!r})
from etl_ch_destination_spark.session import _jvm_loads_localfs, get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf=json.loads(sys.argv[1]))
again = get_spark(master="local[1]", shuffle_partitions=1)
result = {{
    "n": spark.range(5).count(),
    "java_options": spark.conf.get("spark.driver.extraJavaOptions", ""),
    "classpath": spark._jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep),
    "loads_localfs": _jvm_loads_localfs(),
    "file_impl": again.conf.get("spark.hadoop.fs.file.impl", "stock"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe": spark.conf.get("spark.graft.probe", None),
    "jvm_pid": spark.sparkContext._gateway.proc.pid,
}}
with open(sys.argv[2], "w") as f:
    json.dump(result, f)
"""


def _session(cache, tmp, extra_conf=None, env=None):
    """Run SESSION in a fresh interpreter; (process, result dict)."""
    out = os.path.join(tmp, "result.json")
    proc = subprocess.run(
        [sys.executable, "-c", SESSION, json.dumps(extra_conf or {}), out],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "XDG_CACHE_HOME": str(cache), **(env or {})},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out) as f:
        return proc, json.load(f)


def _archives(cache):
    return sorted(glob.glob(os.path.join(cache, "spark-graft", "cds", "*")))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache whose first session dumped the archive."""
    cache = tmp_path_factory.mktemp("cache")
    proc, result = _session(cache, tmp_path_factory.mktemp("dump"))
    yield cache, proc, result
    shutil.rmtree(cache, ignore_errors=True)  # ~180 MB per archive


def _class_source(log, name):
    with open(log) as f:
        line = next(line for line in f if f" {name} source: " in line)
    return line.split(" source: ")[1].strip()


def test_first_session_dumps_and_promotes_the_archive(dumped):
    cache, proc, result = dumped
    assert result["n"] == 5
    assert "-XX:ArchiveClassesAtExit=" in result["java_options"]
    (archive,) = _archives(cache)  # promoted, no temp file left behind
    assert archive.endswith(".jsa") and appcds.whole(archive)
    assert proc.stdout == ""
    with pytest.raises(ProcessLookupError):  # the dumping JVM is gone too
        os.kill(result["jvm_pid"], 0)


def test_next_session_maps_the_archive_and_keeps_the_callers_options(
    dumped, tmp_path, monkeypatch
):
    cache, _, _ = dumped
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    (archive,) = _archives(cache)
    log = str(tmp_path / "class-load.log")
    caller = f"-Xlog:class+load=info:file={log}"
    proc, result = _session(cache, tmp_path, {"spark.driver.extraJavaOptions": caller})

    assert result["java_options"].endswith(" " + caller)
    assert f"-XX:SharedArchiveFile={archive}" in result["java_options"]
    assert _class_source(log, "org.apache.spark.SparkContext") == "shared objects file (top)"
    # the staged jar comes first, and a session rebuilt in this JVM binds it
    assert result["classpath"][0] == appcds.staged_jar(LOCALFS_JAR)
    assert result["loads_localfs"]
    assert result["file_impl"] == "sparkgraft.localfs.NioLocalFileSystem"
    assert result["conf_dir"] is None  # set for the launch only
    assert proc.stdout == ""
    assert _archives(cache) == [archive]


def test_stale_archive_still_starts_and_keeps_stdout_empty(dumped, tmp_path, monkeypatch):
    # an archive dumped for another classpath, under this classpath's key
    cache, _, _ = dumped
    (archive,) = _archives(cache)
    jar = str(tmp_path / "caller.jar")
    shutil.copyfile(LOCALFS_JAR, jar)
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    planned = appcds.plan(LOCALFS_JAR, jar, "")
    os.remove(planned.dump)  # the claim: this process dumps nothing
    stale = planned.archive
    assert stale != archive
    shutil.copyfile(archive, stale)

    log = str(tmp_path / "class-load.log")
    proc, result = _session(
        cache,
        tmp_path,
        {
            "spark.driver.extraClassPath": jar,
            "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}",
        },
    )
    assert result["n"] == 5
    assert f"-XX:SharedArchiveFile={stale}" in result["java_options"]
    assert _class_source(log, "org.apache.spark.SparkContext") != "shared objects file (top)"
    assert proc.stdout == ""
    os.remove(stale)


def test_truncated_archive_still_starts_and_is_replaced(dumped, tmp_path):
    cache, _, _ = dumped
    (archive,) = _archives(cache)
    os.chmod(archive, 0o644)
    os.truncate(archive, 1 << 20)  # the JVM dies with SIGBUS mapping this
    assert not appcds.whole(archive)

    proc, result = _session(cache, tmp_path)
    assert result["n"] == 5
    assert "-XX:ArchiveClassesAtExit=" in result["java_options"]
    assert proc.stdout == ""
    assert _archives(cache) == [archive]
    assert appcds.whole(archive)


def test_live_conf_dir_keeps_sparks_launch(tmp_path, monkeypatch):
    cache, conf = tmp_path / "cache", tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe on\n")
    _, result = _session(cache, tmp_path, env={"SPARK_CONF_DIR": str(conf)})
    assert result["probe"] == "on"  # the launch read the caller's conf dir
    assert result["conf_dir"] == str(conf)
    assert "cds" not in result["java_options"] and "Archive" not in result["java_options"]
    assert result["classpath"][0] == LOCALFS_JAR
    assert _archives(cache) == []

    # the same bound for a live file in $SPARK_HOME/conf
    home = tmp_path / "spark-home"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "log4j2.properties").write_text("")
    (home / "jars").symlink_to(os.path.join(_find_spark_home(), "jars"))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    assert appcds.plan(LOCALFS_JAR, "", "") is None
    (home / "conf" / "log4j2.properties").rename(home / "conf" / "log4j2.properties.template")
    assert appcds.plan(LOCALFS_JAR, "", "") is not None


def test_dead_owners_temp_archives_go_and_a_live_dump_is_not_repeated(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    first = appcds.plan(LOCALFS_JAR, "", "")  # claims the dump for this process
    assert os.path.isfile(first.dump)
    os.remove(first.dump)

    dead = subprocess.Popen(["true"])
    dead.wait()
    live = subprocess.Popen(["sleep", "60"])
    try:
        stale = f"{first.archive}.{dead.pid}.tmp"
        other = os.path.join(os.path.dirname(first.archive), f"x.jsa.{dead.pid}.tmp")
        running = f"{first.archive}.{live.pid}.tmp"
        for path in (stale, other, running):
            open(path, "w").close()
        # another live process is dumping this key: start as Spark does
        assert appcds.plan(LOCALFS_JAR, "", "") is None
        assert not os.path.exists(stale) and not os.path.exists(other)
        assert os.path.exists(running)
    finally:
        live.kill()
        live.wait()
    # its owner gone, the temp file goes and this process claims the dump
    assert appcds.plan(LOCALFS_JAR, "", "").dump == first.dump
    assert not os.path.exists(running)

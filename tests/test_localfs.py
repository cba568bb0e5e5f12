"""The vendored local filesystem (session.get_spark binds ``file://`` to it):
both Hadoop APIs resolve to it, what it creates has the stock modes, the
sticky bit still lands, the jar (or its staged copy) comes first on the
driver classpath, and the committed jar is the build of its sources."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from etl_ch_destination_spark import appcds
from etl_ch_destination_spark.session import LOCALFS_CONF, LOCALFS_JAR, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hadoop(spark):
    jvm = spark._jvm
    return jvm, spark._jsparkSession.sessionState().newHadoopConf()


def _local_fs(spark):
    jvm, conf = _hadoop(spark)
    return jvm, jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def test_both_hadoop_apis_resolve_to_the_vendored_classes(spark):
    jvm, conf = _hadoop(spark)
    _, fs = _local_fs(spark)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri(), conf)
    assert fs.getClass().getName() == LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    assert (
        fc.getDefaultFileSystem().getClass().getName()
        == LOCALFS_CONF["spark.hadoop.fs.AbstractFileSystem.file.impl"]
    )


def test_written_files_and_directories_keep_the_stock_modes(spark, tmp_path):
    jvm, conf = _hadoop(spark)
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    table, out, ckpt = (str(tmp_path / n) for n in ("table", "out", "ckpt"))
    df = spark.range(40).selectExpr("id", "id % 4 AS part")
    df.write.partitionBy("part").parquet(table)
    (
        spark.readStream.schema(df.schema)
        .parquet(table)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out)
        .awaitTermination()
    )
    assert spark.read.parquet(out).count() == 40

    modes = {}
    for root, dirs, files in os.walk(tmp_path):
        for name in dirs + files:
            path = os.path.join(root, name)
            modes[os.path.relpath(path, tmp_path)] = stat.S_IMODE(os.stat(path).st_mode)
    want_file, want_dir = 0o666 & ~umask, 0o777 & ~umask
    wrong = {
        p: oct(m)
        for p, m in modes.items()
        if m != (want_dir if os.path.isdir(tmp_path / p) else want_file)
    }
    assert not wrong, wrong
    assert any(p.endswith(".crc") for p in modes)  # checksums are still written
    assert any(p.startswith("ckpt/offsets/") for p in modes)


def test_set_permission_maps_every_bit_and_keeps_the_sticky_bit(spark, tmp_path):
    jvm, fs = _local_fs(spark)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    target = tmp_path / "d"
    target.mkdir()
    path = jvm.org.apache.hadoop.fs.Path(str(target))
    for mode in (0o751, 0o640, 0o404, 0o000, 0o777, 0o1777):
        fs.setPermission(path, perm(mode))
        assert stat.S_IMODE(os.stat(target).st_mode) == mode, oct(mode)
    assert os.stat(target).st_mode & stat.S_ISVTX


def test_get_spark_puts_the_jar_before_a_callers_classpath(spark, monkeypatch, tmp_path):
    # the conftest session's JVM already holds the jar, so get_spark binds it
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    extra = {"spark.driver.extraClassPath": "/caller/a.jar"}

    local = get_spark(master="local[1]", extra_conf=extra)._options
    assert local["spark.driver.extraClassPath"] == LOCALFS_JAR + os.pathsep + "/caller/a.jar"
    assert all(local[k] == v for k, v in LOCALFS_CONF.items())

    cluster = get_spark(master="spark://host:7077", extra_conf=extra)._options
    assert cluster["spark.driver.extraClassPath"] == "/caller/a.jar"
    assert not set(LOCALFS_CONF) & set(cluster)

    # a JVM this call launches gets the jar's staged copy first, and the
    # archive's flags before the caller's JVM options
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    extra["spark.driver.extraJavaOptions"] = "-Dcaller=1"
    fresh = get_spark(master="local[1]", extra_conf=extra)._options
    assert fresh["spark.driver.extraClassPath"] == (
        appcds.staged_jar(LOCALFS_JAR) + os.pathsep + "/caller/a.jar"
    )
    assert "-XX:ArchiveClassesAtExit=" in fresh["spark.driver.extraJavaOptions"]
    assert fresh["spark.driver.extraJavaOptions"].endswith(" -Dcaller=1")


def test_get_spark_in_a_jvm_started_without_the_jar_keeps_the_stock_binding(tmp_path):
    # a stock session starts the JVM; get_spark then builds in that JVM
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from etl_ch_destination_spark.session import get_spark
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate().stop()
spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.range(3).write.parquet({str(tmp_path)!r} + "/t")
n = spark.read.parquet({str(tmp_path)!r} + "/t").count()
print(spark.conf.get("spark.hadoop.fs.file.impl", "stock"), n)
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["stock", "3"]


def test_committed_jar_is_the_build_of_its_sources(tmp_path):
    built = str(tmp_path / "localfs.jar")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "build_localfs.py"), "--out", built],
        check=True,
        capture_output=True,
    )

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    want, got = classes(LOCALFS_JAR), classes(built)
    assert sorted(got) == sorted(want)
    stale = [n for n in want if got[n] != want[n]]
    assert not stale, f"rebuild the jar (python tools/build_localfs.py): {stale}"

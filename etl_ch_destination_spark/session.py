"""SparkSession factory (SURVEY.md §7 Phase 0).

Scale notes (100 TB design): on a real cluster the same builder is used
with ``master`` unset (picked up from spark-submit), AQE handles
post-shuffle coalescing + skew joins at runtime, and
``spark.sql.shuffle.partitions`` should be ~2-3x total executor cores
(here sized for local[32]). Session timezone is pinned to UTC because
fixture timestamps are naive (FIXTURES.md) and ClickHouse DateTime is
timezone-naive at rest.

Python worker daemon: local sessions built here run their Python workers
under ``_vendor/worker_daemon/spark_graft_daemon.py`` (registered with
Spark's ``spark.python.daemon.module``; its directory is prepended to
``spark.executorEnv.PYTHONPATH``). PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
before every task, which on CPython 3.11 makes each zipimporter re-parse
its archive: ``pyspark.zip`` and the ``spark-core`` jar, ~165 ms per task
before any user code runs. The daemon skips the re-read while an
archive's file is unchanged. Sessions built elsewhere (the driver
harness's own) keep Spark's default daemon and behave the same.

Local filesystem: the same local sessions bind ``file://`` to
``_vendor/localfs/`` (the jar goes first on ``spark.driver.extraClassPath``;
``fs.file.impl`` serves ``FileSystem``, which Spark's file writers use, and
``fs.AbstractFileSystem.file.impl`` serves ``FileContext``, which streaming
checkpoints and state stores use). Without the native Hadoop library,
``RawLocalFileSystem.setPermission`` forks ``chmod`` through
``Shell.execCommand``, and Hadoop calls it for every data file, every
``.crc`` file and every directory a write creates: 161 forks per warm
perfbench ``etl_load`` unit. The vendored classes set the same mode
in-process with ``Files.setPosixFilePermissions`` (a checksummed create
and close went from ~7.4 ms to ~2.7 ms on a 4-core host); only a mode
with the sticky bit still forks. Sessions built elsewhere (the driver
harness's own, ``tools/driver_sim.py``), and sessions rebuilt in a JVM that
was started without the jar, keep Spark's binding. Rebuild the jar with
``python tools/build_localfs.py`` after editing its sources.

JVM start-up: when a local session launches the driver JVM, it starts
that JVM from a JDK 17 dynamic class-data-sharing archive (``appcds.py``).
Loading and verifying the ~17,600 classes a session touches from
``$SPARK_HOME/jars`` is most of a cold start; mapped from the archive, the
driver's start fell from 4.7-6.1 s to 2.4-3.2 s on a 4-core host. The
archive is built on first use: with none for this classpath yet, this
process claims the dump with an empty temp file named by its pid, and the
JVM runs with ``-XX:ArchiveClassesAtExit`` to that file and writes it when
it exits (12-30 s, 180-220 MB); at exit this process closes the gateway's
stdin, waits for the JVM (up to ``appcds.DUMP_WAIT_S``, then kills it and
drops the file) and renames the finished file to ``<key>.jsa`` with
``os.replace``. While another live process holds the claim, a launch
starts as Spark starts it, so concurrent first runs dump once. Later
launches map the archive with ``-XX:SharedArchiveFile``. The JVM takes
an archive only for the exact classpath it was dumped with, so the key
is the java binary plus every classpath entry with its size and mtime.
An archive is checked against its own header before every use (the JVM
crashes on a truncated one instead of rejecting it) and is dumped again
when the check fails. CDS logging stays off stdout, which belongs to the
program; CDS errors go to stderr.

- Conf dir bound: Spark's launcher always puts the conf dir on the
  classpath, and a dump fails on a non-empty directory. When
  ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds only
  ``*.template`` files (which Spark never reads), the launch gets the
  engine's own empty conf dir. Otherwise, and when a caller passes its own
  sharing flags, a directory or wildcard classpath entry, or a variable
  through which the launcher adds classpath entries, the JVM starts
  exactly as Spark starts it, without an archive.
- Cache: ``$XDG_CACHE_HOME/spark-graft``, else ``~/.cache/spark-graft``
  (never a run's ``TMPDIR``, which a run may delete). It holds the local
  filesystem jar staged by content hash (``jars/``, so checkouts with the
  same jar share one classpath and one archive), the empty ``conf/`` and
  ``cds/<key>.jsa``: one archive per key, 180-220 MB each. Temp archives whose
  owning process is dead are removed at the next start. Archives of keys
  no longer in use (after an upgrade of Spark, the JDK or the jar) stay
  until the directory is removed by hand. With the cache root not
  writable, no archive is used.

Sessions built elsewhere (the driver harness's own, ``tools/driver_sim.py``),
sessions whose JVM is already running, and cluster masters start as before.
"""

from __future__ import annotations

import os
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from etl_ch_destination_spark import appcds

DEFAULT_SHUFFLE_PARTITIONS = 32

WORKER_DAEMON_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "_vendor", "worker_daemon"
)
WORKER_DAEMON_MODULE = "spark_graft_daemon"

LOCALFS_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "_vendor", "localfs"
)
LOCALFS_JAR = os.path.join(LOCALFS_DIR, "spark-graft-localfs.jar")
LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "sparkgraft.localfs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "sparkgraft.localfs.NioLocalFs",
}

# Spark's generated-class cache (default 100 entries). One bench.py suite
# pass (priming + 72 keys, sf0.1) compiles 1,215 distinct classes and a
# second pass 44 more; at 100 entries every pass recompiles most of them
# (a perfbench etl_load unit needs 66 and recompiled ~60). 2048 holds a
# whole pass.
CODEGEN_CACHE_ENTRIES = 2048


def _pin_os_utc() -> None:
    """Pin the Python process timezone to UTC.

    Non-Arrow ``DataFrame.collect()`` converts TimestampType through the
    driver's OS timezone; on a non-UTC host, timestamp-returning
    oracle-checked queries would drift from DuckDB's naive timestamps
    even with the Spark session timezone pinned.
    """
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        if hasattr(time, "tzset"):
            time.tzset()


def _jvm_loads_localfs() -> bool:
    """True unless this process already runs a JVM without the jar (the
    vendored one or its staged copy, ``appcds.staged_jar``).

    ``spark.driver.extraClassPath`` only reaches a JVM that the builder
    launches; a session rebuilt in a JVM that an earlier session started
    keeps that JVM's classpath, where the classes would not load.
    """
    jvm = SparkContext._jvm
    if jvm is None:
        return True
    classpath = jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep)
    return LOCALFS_JAR in classpath or appcds.staged_jar(LOCALFS_JAR) in classpath


def get_spark(
    app_name: str = "etl-ch-destination-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    UTC session time, Arrow enabled for the pandas-UDF paths. A local
    master runs its Python workers under the engine's daemon, binds
    ``file://`` to the vendored local filesystem and starts a fresh driver
    JVM from the class-data-sharing archive (module docstring); a caller's
    ``spark.executorEnv.PYTHONPATH``, ``spark.driver.extraClassPath`` and
    ``spark.driver.extraJavaOptions`` are kept, after the daemon's
    directory, the jar and the archive's flags.
    """
    _pin_os_utc()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    conf = dict(extra_conf or {})
    worker_path = conf.pop("spark.executorEnv.PYTHONPATH", "")
    driver_path = conf.pop("spark.driver.extraClassPath", "")
    java_options = conf.pop("spark.driver.extraJavaOptions", "")
    launch = None
    if master.startswith("local"):
        # the daemon file, the jar and the archive exist on this host only:
        # a cluster master keeps Spark's own daemon, binding and JVM start
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        worker_path = os.pathsep.join(p for p in (WORKER_DAEMON_DIR, worker_path) if p)
        if _jvm_loads_localfs():
            if SparkContext._gateway is None:
                launch = appcds.plan(LOCALFS_JAR, driver_path, java_options)
            jar = LOCALFS_JAR
            if launch:
                jar = launch.jar
                java_options = " ".join(p for p in (launch.java_options, java_options) if p)
            driver_path = os.pathsep.join(p for p in (jar, driver_path) if p)
            for k, v in LOCALFS_CONF.items():
                builder = builder.config(k, v)
    if worker_path:
        builder = builder.config("spark.executorEnv.PYTHONPATH", worker_path)
    if driver_path:
        builder = builder.config("spark.driver.extraClassPath", driver_path)
    if java_options:
        builder = builder.config("spark.driver.extraJavaOptions", java_options)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return appcds.start(builder, launch) if launch else builder.getOrCreate()


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin engine-required session state on an externally-provided session.

    The driver harness passes its own SparkSession to ``queries()``
    callables. Idempotent; set once per session here rather than
    per-table-load so concurrent readers never race on session confs
    (VERDICT r1 "What's wrong" #5):

    - UTC session + OS timezone: naive fixture timestamps hash-match the
      DuckDB oracle only under UTC.
    - ``nanosAsLong``: the ``events`` fixture stores TIMESTAMP(NANOS),
      which Spark's vectorized parquet reader otherwise rejects.
    """
    _pin_os_utc()
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark

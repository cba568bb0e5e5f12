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
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

WORKER_DAEMON_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "_vendor", "worker_daemon"
)
WORKER_DAEMON_MODULE = "spark_graft_daemon"

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


def get_spark(
    app_name: str = "etl-ch-destination-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    UTC session time, Arrow enabled for the pandas-UDF paths. A local
    master runs its Python workers under the engine's daemon (module
    docstring); a caller's ``spark.executorEnv.PYTHONPATH`` is kept, after
    the daemon's directory.
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
    if master.startswith("local"):
        # the daemon file exists on this host only: executors of a cluster
        # master keep Spark's own daemon
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        worker_path = os.pathsep.join(p for p in (WORKER_DAEMON_DIR, worker_path) if p)
    if worker_path:
        builder = builder.config("spark.executorEnv.PYTHONPATH", worker_path)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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

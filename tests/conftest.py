"""Shared pytest fixtures: one local SparkSession for the whole run,
smoke-scale fixture dir (sf0.001), plan-string helper."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_ch_destination_spark.pbcompat import PB_SITE_DIR, ensure_protobuf
    from etl_ch_destination_spark.session import get_spark

    extra_conf = {}
    if ensure_protobuf():
        # workers are fresh interpreters: the sitecustomize hook in
        # PB_SITE_DIR re-applies the protobuf shim at worker start so
        # transformWithStateInPandas' state protocol loads there too.
        # Must be in the JVM's inherited env BEFORE the gateway launches:
        # the streaming driver-side python runner builds its PYTHONPATH
        # from the JVM env, not from spark.executorEnv.
        os.environ["PYTHONPATH"] = (
            PB_SITE_DIR + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
        extra_conf["spark.executorEnv.PYTHONPATH"] = PB_SITE_DIR
    s = get_spark(
        "etl-ch-destination-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf=extra_conf,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def plan_of(df, mode: str = "formatted") -> str:
    """Capture df.explain output as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def rows_set(df, cols=None):
    """Order-insensitive row multiset as sorted tuples of strings."""
    sel = df.select(*cols) if cols else df
    return sorted(tuple(str(v) for v in r) for r in sel.collect())

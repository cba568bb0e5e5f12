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


def degenerate_events_dir(rows):
    """A temp dir holding events.parquet built from (event_id, ts,
    user_id, event_type, value, props) tuples."""
    # single FILE like the driver fixture (catalog.load_table sniffs
    # the events footer with the single-file layout)
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="degenerate_events")
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(tmp, "events.parquet"))
    return tmp


def oracle_rows(key, sf_dir):
    """DuckDB oracle rows of key `agg_<key>` over `sf_dir`'s events."""
    import duckdb

    from etl_ch_destination_spark.registry import all_oracles

    con = duckdb.connect()
    path = os.path.join(sf_dir, "events.parquet")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    out = con.execute(all_oracles()["agg_" + key]).fetchall()
    con.close()
    return out

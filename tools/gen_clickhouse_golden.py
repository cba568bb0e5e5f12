#!/usr/bin/env python
"""Regenerate tests/golden_clickhouse.sql — the pinned ClickHouse SQL
surface (fixture-table DDL, JDBC batched-INSERT statements, tokenized
HTTP/raw insert heads). tests/test_sinks.py compares generated output
against the checked-in file byte-for-byte; rerun this script and
review the diff whenever the type map or clause layout changes ON
PURPOSE."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN_PATH = os.path.join(REPO, "tests", "golden_clickhouse.sql")


def render() -> str:
    from pyspark.sql.types import StructType

    from etl_ch_destination_spark.schemas import TABLE_SCHEMAS, TABLES
    from etl_ch_destination_spark.sink.clickhouse import (
        dedup_token,
        fixture_ddl,
        insert_sql,
        jdbc_insert_statement,
    )

    out = [
        "-- GOLDEN: generated ClickHouse SQL surface (DDL + insert statements).",
        "-- Pinned by tests/test_sinks.py::test_clickhouse_sql_surface_golden_file;",
        "-- regenerate with: python tools/gen_clickhouse_golden.py",
    ]
    for t in TABLES:
        schema = TABLE_SCHEMAS[t]
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        cols = [f.name for f in schema.fields]
        out += [
            "",
            f"-- ==== {t} ====",
            fixture_ddl(t) + ";",
            "",
            "-- JDBC batched insert (Spark JdbcUtils, default dialect):",
            jdbc_insert_statement(t, cols) + ";",
            "",
            "-- HTTP/raw-statement tokenized insert head (block 0 of batch-0001):",
            insert_sql(t, cols, token=dedup_token(t, "batch-0001", 0)) + ";",
        ]
    return "\n".join(out) + "\n"


def main() -> int:
    from etl_ch_destination_spark.session import get_spark

    spark = get_spark(app_name="gen-clickhouse-golden", master="local[2]")
    try:
        text = render()
    finally:
        spark.stop()
    with open(GOLDEN_PATH, "w") as f:
        f.write(text)
    print(f"wrote {GOLDEN_PATH} ({len(text)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

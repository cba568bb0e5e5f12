#!/usr/bin/env python
"""Driver-contract simulator — STRICTER than tools/check_parity.py.

check_parity mirrors the external driver's comparison (row count +
schema kinds + order-insensitive values) from the repo root. This tool
simulates the CONTRACT conditions the driver adds around that
comparison, the ones repo-root runs cannot catch:

- runs with an arbitrary working directory (pass --cwd /tmp) — the
  worker-cwd import trap: local-mode Python workers put the DRIVER'S
  cwd on sys.path, so a worker-side closure that references package
  code by module reference only works from the repo root; the package
  registers itself for by-value pickling once, in
  etl_ch_destination_spark/__init__.py, and this run proves it;
- builds its own plain SparkSession with a NON-UTC session timezone
  and default confs (probes ensure_session_defaults);
- compares HEX-STRICT: every float is compared on its exact bit
  pattern (float.hex), not through the driver's laxer hasher — so a
  1-ulp cross-engine drift fails here even if the driver would pass;
- flags DTYPE drift (int64 vs float64) that the driver's hasher
  coerces away — e.g. DuckDB widening SUM(BIGINT) to HUGEINT, which
  pandas lands as float64 (fix: CAST the oracle back to BIGINT);
- calls every query twice (idempotence — effectful keys must be
  re-runnable).

Usage:
  python tools/driver_sim.py --keys k1,k2          # specific keys
  python tools/driver_sim.py --sample 12 --seed 4  # deterministic sample
  (run it with cwd OUTSIDE the repo for the full worker-import probe;
   the tool re-execs itself from --cwd when given)
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

NON_UTC_TZS = [
    "Asia/Tokyo",
    "America/Chicago",
    "Europe/Berlin",
    "Australia/Sydney",
    "Pacific/Auckland",
]


def canon(v, pd):
    try:
        if v is None or pd.isna(v):
            return ""
    except (TypeError, ValueError):  # arrays etc.
        pass
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
        ts = pd.Timestamp(v)
        return ts.date().isoformat() if ts == ts.normalize() else ts.isoformat()
    return str(v)


def norm(df, pd):
    df = df.sort_index(axis=1).copy()
    dtypes = {c: str(df[c].dtype) for c in df.columns}
    for c in df.columns:
        df[c] = df[c].map(lambda v: canon(v, pd))
    return df.sort_values(list(df.columns)).reset_index(drop=True), dtypes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--keys", default="")
    ap.add_argument("--sample", type=int, default=0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--cwd", default="")
    ap.add_argument("--tz", default="")
    args = ap.parse_args()

    if args.cwd and os.path.realpath(os.getcwd()) != os.path.realpath(args.cwd):
        os.chdir(args.cwd)
    if os.path.realpath(os.getcwd()) == os.path.realpath(REPO):
        print(
            "WARNING: running from the repo root — the worker-cwd import "
            "trap is NOT being probed (pass --cwd /tmp)",
            file=sys.stderr,
        )
    sys.path.insert(0, REPO)

    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    tz = args.tz or NON_UTC_TZS[args.seed % len(NON_UTC_TZS)]
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    entry_rows = E.entry(spark).collect()
    assert len(entry_rows) >= 0
    qs, oracles = E.queries(), E.oracle_sql()

    if args.keys:
        keys = [k for k in args.keys.split(",") if k]
    else:
        keys = sorted(k for k in qs if k in oracles)
        if args.sample:
            import hashlib

            keys.sort(
                key=lambda k: hashlib.md5(f"{args.seed}:{k}".encode()).hexdigest()
            )
            keys = keys[: args.sample]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    failures = []
    for k in keys:
        if k not in oracles:
            print(f"SKIP {k}: rows-only key")
            continue
        try:
            sp1 = qs[k](spark, args.sf).toPandas()
            sp2 = qs[k](spark, args.sf).toPandas()  # idempotence
            orc = con.execute(oracles[k]).fetchdf()
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            failures.append((k, f"raised: {exc}"))
            print(f"FAIL {k}: raised {exc}")
            continue
        # idempotence must hold on VALUES, not just row counts — a
        # scratch-path contamination that keeps the count but changes
        # values (ADVICE r4) has to trip here
        a, da = norm(sp1, pd)
        a2, _ = norm(sp2, pd)
        if len(a) != len(a2) or not a.equals(a2):
            failures.append(
                (k, f"non-idempotent: run1 ({len(a)} rows) != run2 ({len(a2)} rows)")
            )
            continue
        b, db = norm(orc, pd)
        if list(a.columns) != list(b.columns):
            failures.append((k, f"columns {list(a.columns)} != {list(b.columns)}"))
        elif len(a) != len(b):
            failures.append((k, f"rows {len(a)} != {len(b)}"))
        elif not a.equals(b):
            dtype_notes = [
                f"{c}: spark={da[c]} duck={db[c]}"
                for c in a.columns
                if da[c] != db[c]
            ]
            hint = f" [dtype drift: {', '.join(dtype_notes)}]" if dtype_notes else ""
            failures.append((k, f"hex-strict value mismatch{hint}"))
        if failures and failures[-1][0] == k:
            print(f"FAIL {k}: {failures[-1][1]}")
        else:
            print(f"OK   {k}: {len(a)} rows (tz={tz})")

    print(f"\n{len(keys) - len(failures)} ok, {len(failures)} fail of {len(keys)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

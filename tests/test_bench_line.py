"""bench.py's one stdout line must fit a 2,000-char capture of the stdout
tail whatever the per-key times are."""

from __future__ import annotations

import json

import bench
from etl_ch_destination_spark.catalog import DEFAULT_SF_DIR


def test_stdout_seconds_precision():
    assert bench.stdout_seconds(0.1234) == 0.12
    assert bench.stdout_seconds(1.26) == 1.3
    assert bench.stdout_seconds(99.94) == 99.9
    assert json.dumps(bench.stdout_seconds(99.99)) == "100"
    assert bench.stdout_seconds(-1.0) == -1.0


def test_worst_case_line_fits_with_every_key():
    for v in (99.99, 99.94, 9.99, 0.999, 0.99, 999.94, 9999.4):
        timings = {k: v for k in bench.BENCH_KEYS}
        suite = round(v * len(timings), 3)
        line = bench.stdout_line(timings, suite, DEFAULT_SF_DIR, 12.345)
        assert len(line) <= 1990, (v, len(line))
        assert set(json.loads(line)["queries"]) == set(bench.BENCH_KEYS)

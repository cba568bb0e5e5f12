"""Spark jobs per product key: each job of a small batch ETL is mostly
fixed cost, so the number of jobs a key starts is part of its plan.

Every ``etl_load`` benchmark key is run under its own job group and the
group's jobs are counted. The counts are pinned: an extra action that
only stages or lists shows up here before it shows up in a timing. All
three loads re-read what they wrote under the schema they wrote (no
footer-inference job), and the two verify reports count batch stamps
without a distinct aggregate, whose ``Expand`` plans a second exchange
(and one more job)."""

from __future__ import annotations

import pytest

from tests.conftest import plan_of

# Jobs per key at sf0.001 under the test session (local[4], AQE on).
# job_incremental_etl: one min/max aggregate (2 jobs under AQE), three
# increments of one count+bookmark aggregate each (2 jobs), two appends
# (runs 1 and 2; run 3 finds nothing new) and the report's collect.
# stream_foreachbatch_sink: its micro-batch jobs run under the stream's
# own job group, so only the re-read report's jobs count here.
JOBS_PER_KEY = {
    "job_batch_etl": 6,
    "job_corpus_curate": 4,
    "job_incremental_etl": 12,
    "stream_foreachbatch_sink": 2,
}

# The confs the counts depend on, set for the test and restored after.
PLAN_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
}


@pytest.fixture
def plan_conf(spark):
    saved = {k: spark.conf.get(k, None) for k in PLAN_CONF}
    for k, v in PLAN_CONF.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("key", sorted(JOBS_PER_KEY))
def test_etl_key_job_count(spark, sf_dir, plan_conf, key):
    from etl_ch_destination_spark.registry import all_queries

    sc = spark.sparkContext
    group = f"etl_plan:{key}"
    sc.setJobGroup(group, key)
    try:
        df = all_queries()[key](spark, sf_dir)
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == JOBS_PER_KEY[key]
    if key in ("job_batch_etl", "job_corpus_curate"):
        assert "Expand" not in plan_of(df)

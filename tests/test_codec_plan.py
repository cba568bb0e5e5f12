"""The plan of a codec round trip: ``_staged`` writes the encoded blocks
(the one Spark action before the decode) and reads them back under the
known block frame, and the decode runs over the staged files' own splits,
one task per file, with no exchange in between."""

from __future__ import annotations

import os

import pytest

from tests.conftest import plan_of

WIRE_KEYS = (
    "scan_rowbinary_import",
    "scan_native_import",
    "scan_avro_import",
    "scan_protobuf_import",
    "scan_kafka_import",
)


def _sql_executions(spark) -> dict[int, str]:
    """job id -> physical plan of the SQL execution that ran it."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store fills asynchronously
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    out = {}
    for e in conv.asJava(spark._jsparkSession.sharedState().statusStore().executionsList()):
        for job in conv.asJava(e.jobs()).keySet():
            out[int(job)] = e.physicalPlanDescription()
    return out


@pytest.mark.parametrize("key", WIRE_KEYS)
def test_round_trip_is_one_write_then_one_decode_stage(spark, sf_dir, key, monkeypatch):
    from etl_ch_destination_spark.queries import sources_sinks
    from etl_ch_destination_spark.registry import all_queries

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    real = sources_sinks._staged
    staged = {}

    def spy(spark, path, blocks):
        staged["path"] = path
        sc.setJobGroup(f"{key}:staged", "staged")
        try:
            return real(spark, path, blocks)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(sources_sinks, "_staged", spy)
    try:
        df = all_queries()[key](spark, sf_dir)
        sc.setJobGroup(f"{key}:decode", "decode")
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # _staged runs the write and nothing else: every job it starts is a
    # job of the one write execution (an encode spread adds its shuffle's
    # map stage as a job of that write), none infers a schema or lists.
    write_jobs = tracker.getJobIdsForGroup(f"{key}:staged")
    plans = _sql_executions(spark)
    assert write_jobs and all(j in plans for j in write_jobs), "a job outside the write"
    assert len({plans[j] for j in write_jobs}) == 1
    assert "InsertIntoHadoopFsRelationCommand" in plans[write_jobs[0]]

    # the decode plan reads the staged files straight into the Python stage
    plan = plan_of(df)
    assert "MapInPandas" in plan and "Scan parquet" in plan
    assert "Exchange" not in plan

    # ... in one stage, one task per staged file
    parts = [n for n in os.listdir(staged["path"]) if n.startswith("part-")]
    (job,) = tracker.getJobIdsForGroup(f"{key}:decode")
    (stage,) = tracker.getJobInfo(job).stageIds
    assert tracker.getStageInfo(stage).numTasks == len(parts)

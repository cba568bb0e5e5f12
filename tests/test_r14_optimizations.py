"""Focused gates for the round-14 optimization changes: each test pins
the EQUIVALENCE of an optimized operator's internals against its
pre-optimization form (or a first-principles reference), so a future
refactor can't silently change what the optimized path computes.
"""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ------------------------------------------------------------------
# catalog.parallelize_codec_scan — bytes-proportional fan-out
# ------------------------------------------------------------------


def test_codec_scan_fanout_proportional_and_capped(spark):
    from etl_ch_destination_spark.catalog import parallelize_codec_scan

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny table (nation: a few KB) must NOT fan out to the full
    # session parallelism — that regression cost scan_warc_import 7×
    tiny = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    assert parallelize_codec_scan(tiny, spark).rdd.getNumPartitions() <= 2
    # a bigger table gets more tasks, still capped at the session cap
    big = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    got = parallelize_codec_scan(big, spark, bytes_per_task=16 * 1024)
    n = got.rdd.getNumPartitions()
    assert 1 <= n <= n_parts
    # one wave: never more tasks than cores, however small the task size
    cores = spark.sparkContext.defaultParallelism
    assert n <= cores
    widest = parallelize_codec_scan(big, spark, bytes_per_task=1)
    assert widest.rdd.getNumPartitions() == min(n_parts, cores)
    # rows survive the round-robin untouched
    assert got.count() == big.count()


# ------------------------------------------------------------------
# sink/kafka.crc32c — slice-by-8 must equal the bitwise definition
# ------------------------------------------------------------------


def _crc32c_bitwise(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
    return crc ^ 0xFFFFFFFF


def test_crc32c_slice_by_8_known_answer_and_equivalence():
    from etl_ch_destination_spark.sink.kafka import crc32c

    # RFC 3720 known-answer vector
    assert crc32c(b"123456789") == 0xE3069283
    rnd = __import__("random").Random(14)
    for length in (0, 1, 7, 8, 9, 15, 16, 17, 63, 64, 65, 1000):
        data = bytes(rnd.randrange(256) for _ in range(length))
        assert crc32c(data) == _crc32c_bitwise(data), length


# ------------------------------------------------------------------
# ops/pq coarse quantizer — pure-function determinism
# ------------------------------------------------------------------


def test_coarse_kmeans_deterministic_and_assign_consistent():
    import numpy as np

    from etl_ch_destination_spark.ops import pq

    rs = np.random.RandomState(7)
    x = rs.randn(200, 16)
    c1 = pq.coarse_kmeans(x, k=4, seed=42)
    c2 = pq.coarse_kmeans(x.copy(), k=4, seed=42)
    assert (c1 == c2).all()  # bit-identical: pure function of (x, seed)
    a = pq.coarse_assign(x, c1)
    assert a.shape == (200,) and a.min() >= 0 and a.max() < 4
    # assignment is the true argmin
    d2 = ((x[:, None, :] - c1[None, :, :]) ** 2).sum(axis=2)
    assert (a == d2.argmin(axis=1)).all()
    with pytest.raises(ValueError):
        pq.coarse_kmeans(np.empty((0, 4)), k=2, seed=1)


# ------------------------------------------------------------------
# graph._copurchase_edges — collect_set pair expansion ≡ the old
# distinct self-join
# ------------------------------------------------------------------


def test_copurchase_edges_equal_self_join_form(spark):
    from etl_ch_destination_spark.queries.graph import _copurchase_edges

    new = _copurchase_edges(spark, SF_DIR)
    lp = (
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = lp.alias("a"), lp.alias("b")
    old = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


# ------------------------------------------------------------------
# llm_dedup_embedding — numpy cogroup scoring ≡ the HOF-fold join,
# bit for bit (ids AND float64 cos_sim bits)
# ------------------------------------------------------------------


def test_dedup_embedding_cogroup_bit_identical_to_hof(spark):
    from etl_ch_destination_spark.ops.similarity import dot, l2_norm
    from etl_ch_destination_spark.queries.llm_dedup_extra import (
        COS_MIN,
        EMB_BLOCKS,
        llm_dedup_embedding,
    )

    got = {
        (r["id_a"], r["id_b"]): struct.pack("<d", r["cos_sim"])
        for r in llm_dedup_embedding(spark, SF_DIR).collect()
    }

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("va"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    ref_rows = (
        a.join(b, F.col("ida") < F.col("idb"))
        .withColumn(
            "cos_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= COS_MIN)
        .select("ida", "idb", "cos_sim")
        .collect()
    )
    ref = {
        (r["ida"], r["idb"]): struct.pack("<d", r["cos_sim"]) for r in ref_rows
    }
    assert got == ref  # exact pair set AND bit-identical doubles
    assert EMB_BLOCKS >= 1

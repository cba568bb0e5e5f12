"""Focused gates for the round-15 optimization changes: each test pins
the EQUIVALENCE of an optimized operator's internals against its
pre-optimization form (or a first-principles reference), so a future
refactor can't silently change what the optimized path computes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ------------------------------------------------------------------
# sink/kafka — the inlined single-byte-varint decode branches must fall
# through to the general zigzag path (the shared encoder's fast path and
# its reference loop are pinned in tests/test_wire.py)
# ------------------------------------------------------------------


def test_kafka_parse_fastpath_handles_multibyte_varints():
    """A batch whose record-level varints need the MULTI-BYTE general
    path (long key/value, large timestamp delta, many records for a
    2-byte offset delta) must round-trip exactly — proving the inlined
    single-byte branch falls through correctly."""
    from etl_ch_destination_spark.sink import kafka as K

    recs = [
        # (ts, key, value, headers): key/value > 63 bytes => 2-byte
        # zigzag lengths; ts spread => multi-byte ts_delta varints
        (1_000_000 + i * 100_003, bytes([i % 251]) * 100, b"v" * 200,
         [(b"hk" * 40, b"hv" * 50)])
        for i in range(300)  # offset_delta up to 299 => 2-byte varint
    ]
    buf = K.encode_batch(7, 1_000_000, recs)
    base, parsed, end = K.parse_batch(buf, 0)
    assert end == len(buf) and base == 7 and len(parsed) == 300
    for i, (off, ts, key, value, headers) in enumerate(parsed):
        assert off == 7 + i
        assert ts == recs[i][0]
        assert key == recs[i][1] and value == recs[i][2]
        assert headers == {"hk" * 40: b"hv" * 50}
    # truncated varint still raises the validating error
    with pytest.raises(ValueError):
        K.parse_batch(buf[:-1], 0)


# ------------------------------------------------------------------
# ops/pq.coarse_assign — row chunking must not move any assignment
# ------------------------------------------------------------------


def test_coarse_assign_chunked_equals_direct():
    import numpy as np

    from etl_ch_destination_spark.ops import pq

    rng = np.random.RandomState(7)
    # per_row = 8*64*8 = 4096 bytes -> step = 8192 rows; 20k rows
    # exercises three chunks including a ragged tail
    x = rng.randn(20_000, 64)
    cents = rng.randn(8, 64)
    direct = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    got = pq.coarse_assign(x, cents)
    assert got.shape == (20_000,)
    assert (got == direct).all()
    assert pq.coarse_assign(x[:0], cents).shape == (0,)


# ------------------------------------------------------------------
# llm_dedup_embedding — LEFT-side tiling of the cogroup scorer must be
# bit-identical to the untiled dense pass (same per-pair fold order)
# ------------------------------------------------------------------


def test_embedding_tiled_dots_bit_identical_to_dense():
    import numpy as np

    rng = np.random.RandomState(11)
    na_, nb_, d = 1300, 700, 8  # > TILE=512 so the loop actually tiles
    va = rng.randn(na_, d)
    vb = rng.randn(nb_, d)
    dense = np.zeros((na_, nb_))
    for i in range(d):
        dense = dense + va[:, i][:, None] * vb[:, i][None, :]
    TILE = 512
    tiled = np.empty_like(dense)
    for t0 in range(0, na_, TILE):
        t1 = min(t0 + TILE, na_)
        vat = va[t0:t1]
        dots = np.zeros((t1 - t0, nb_))
        for i in range(d):
            dots = dots + vat[:, i][:, None] * vb[:, i][None, :]
        tiled[t0:t1] = dots
    assert (dense == tiled).all()  # bitwise — no tolerance


# ------------------------------------------------------------------
# ops/neardup — the int-array verify path computes the same scores the
# unthresholded run does: running at max_dist=1.0 and filtering is the
# exact reference for the thresholded run (pair set AND doubles)
# ------------------------------------------------------------------


def test_near_dedup_threshold_only_filters(spark):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.ops.neardup import near_duplicate_pairs

    docs = load_table(spark, SF_DIR, "documents").limit(400)
    maxd = 0.8
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_dist"]
        for r in near_duplicate_pairs(docs, max_jaccard_distance=maxd).collect()
    }
    ref = {
        (r["id_a"], r["id_b"]): r["jaccard_dist"]
        for r in near_duplicate_pairs(docs, max_jaccard_distance=1.0)
        .filter(F.col("jaccard_dist") <= maxd)
        .collect()
    }
    assert got == ref  # exact doubles, exact pair set


def test_near_dedup_int_cast_is_exact(spark):
    """Shingle hashes are 28-bit by construction — the array<int>
    verify-side cast can never truncate."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.ops.neardup import shingle_hashes

    docs = load_table(spark, SF_DIR, "documents").limit(200)
    mx = (
        docs.select(F.array_max(shingle_hashes(F.col("text"), 3)).alias("m"))
        .agg(F.max("m"))
        .collect()[0][0]
    )
    assert mx is not None and mx < 2**28


# ------------------------------------------------------------------
# llm_char_ngram_entropy — histogram form vs a first-principles
# Python reference (same integers, same single IEEE division)
# ------------------------------------------------------------------


def test_char_ngram_entropy_matches_python_reference(spark):
    from collections import Counter

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.llm_training import (
        llm_char_ngram_entropy,
    )

    got = {
        r["doc_id"]: (r["n_grams"], r["n_distinct"], r["entropy_bits"])
        for r in llm_char_ngram_entropy(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    checked = 0
    for row in docs[:50]:
        text = row["text"]
        if len(text) < 3:
            assert row["doc_id"] not in got
            continue
        counts = Counter(text[i : i + 3] for i in range(len(text) - 2))
        n = sum(counts.values())
        num = sum(c * ((n // c).bit_length() - 1) for c in counts.values())
        expect = (n, len(counts), float(num) / float(n))
        assert got[row["doc_id"]] == expect, row["doc_id"]
        checked += 1
    assert checked > 10


# ------------------------------------------------------------------
# graph — closed_triangles is the same enumeration triangle_counts
# aggregates (count(tri) == sum(per-node)/3 on a known graph)
# ------------------------------------------------------------------


def test_closed_triangles_count_matches_per_node_sum(spark):
    from etl_ch_destination_spark.queries.graph import (
        closed_triangles,
        triangle_counts,
    )

    edges = [(u, v) for u in range(1, 6) for v in range(u + 1, 6)]  # K5
    edges += [(5, 6), (6, 7)]  # pendant path
    e = spark.createDataFrame(edges, "u long, v long")
    tri, _deg = closed_triangles(e)
    n_tri = tri.count()
    per_node_sum = (
        triangle_counts(e).agg(F.sum("n_triangles")).collect()[0][0] or 0
    )
    assert n_tri == 10  # C(5,3)
    assert per_node_sum == 3 * n_tri


# ------------------------------------------------------------------
# ops/similarity.ivf_topk — numpy-Lloyd build: full probe still equals
# brute force is pinned in test_llm.py; here pin determinism of the
# literal-centroid assignment (two plans, same lists)
# ------------------------------------------------------------------


def test_ivf_assignment_deterministic_across_invocations(spark):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.ops.similarity import ivf_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).limit(8)
    a = sorted(
        map(tuple, ivf_topk(emb, queries, k=3, n_clusters=8, n_probe=3).collect())
    )
    b = sorted(
        map(tuple, ivf_topk(emb, queries, k=3, n_clusters=8, n_probe=3).collect())
    )
    assert a == b and len(a) > 0

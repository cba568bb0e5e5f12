"""tools/stress.py: every gate at its boundary, the session-conf
restore, the --only spine table, and one small in-process sweep."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tools import stress

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a subprocess environment without the heap override
ENV = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}


def _fails(gate, results, factors):
    return gate({str(k): v for k, v in results.items()}, factors)


def test_gated_keys_are_pinned():
    assert stress.GATED == (
        "q1", "join_agg", "neardup", "vocab_score", "ngram_novelty",
        "line_dedup", "substr_dedup", "cc", "pagerank", "triangles",
        "semdedup", "sim_exact", "sim_lsh", "bfs", "tri_approx",
        "sim_ivfpq", "linkpred", "stream_fbatch", "stream_session",
        "asof", "tdigest", "avro_encode", "avro_decode",
        "protobuf_encode", "protobuf_decode", "warc_encode", "warc_decode",
        "kafka_encode", "kafka_decode", "tlog_replay",
    )


@pytest.mark.parametrize(
    "key,floor",
    [("ann_recall_lsh", 0.9), ("ann_recall_ivf", 0.5), ("ann_recall_ivfpq", 0.5)],
)
def test_recall_floor_at_largest_factor(key, floor):
    at_floor = {"ann_recall_lsh": 0.9, "ann_recall_ivf": 0.5, "ann_recall_ivfpq": 0.5}
    low = {**at_floor, key: floor - 0.0001}
    # only the largest factor is gated
    assert _fails(stress.gate_recall, {1: low, 2: at_floor}, [1, 2]) == []
    fails = _fails(stress.gate_recall, {1: at_floor, 2: low}, [1, 2])
    assert len(fails) == 1 and fails[0].startswith(f"{key}@2x")


def test_linearity_slack_and_short_key_exemption():
    def fails(a, b, key="q1", factors=(1, 2)):
        results = {k: {} for k in factors}
        results[factors[-2]][key] = a
        results[factors[-1]][key] = b
        return _fails(stress.gate_linearity, results, list(factors))

    # 2× rows × 2.0 slack: a 4× wall ratio passes, anything above fails
    assert fails(1.0, 4.0) == []
    assert len(fails(1.0, 4.01)) == 1
    # the two largest factors are compared: 10→30 allows 6×
    assert fails(1.0, 6.0, factors=(1, 10, 30)) == []
    assert len(fails(1.0, 6.01, factors=(1, 10, 30))) == 1
    # under 2 s at the top factor is exempt, however steep
    assert fails(0.1, 1.99) == []
    assert len(fails(0.1, 2.0)) == 1
    # keys outside GATED are recorded, never gated
    assert fails(0.1, 50.0, key="topk_global") == []
    assert fails(0.1, 50.0, key="tdigest_fixed8") == []


def test_round_count_gates():
    def fails(gate, key, r1, r2):
        return _fails(gate, {1: {key: r1}, 2: {key: r2}}, [1, 2])

    assert fails(stress.gate_cc_rounds, "cc_rounds", 5, 8) == []
    assert len(fails(stress.gate_cc_rounds, "cc_rounds", 5, 9)) == 1
    assert fails(stress.gate_bfs_rounds, "bfs_rounds", 5, 6) == []
    assert len(fails(stress.gate_bfs_rounds, "bfs_rounds", 5, 7)) == 1


def test_stream_state_ingest_and_amortization():
    def fails(s2, e2, f2=2, s1=100, e1=300):
        results = {
            1: {"stream_state_rows": s1, "stream_fbatch_evps": e1},
            f2: {"stream_state_rows": s2, "stream_fbatch_evps": e2},
        }
        return _fails(stress.gate_streaming, results, [1, f2])

    # state within 0.8-1.2× the rows ratio (2×: 160..240 rows)
    assert fails(160, 300) == [] and fails(240, 300) == []
    assert "state rows" in fails(159, 300)[0]
    assert "state rows" in fails(241, 300)[0]
    # ingest holds ≥ 1/3 of the smaller factor's events/s
    assert fails(200, 100) == []
    assert "collapsed" in fails(200, 99)[0]
    # amortization: ≥ 1.5× events/s, only once the rows ratio is ≥ 3
    assert fails(300, 450, f2=3) == []
    assert "amortizing" in fails(300, 449, f2=3)[0]
    assert fails(200, 301) == []


def test_tdigest_bound_at_every_factor():
    ok = {"tdigest_centroids": 3072, "tdigest_centroid_bound": 3072}
    over = {"tdigest_centroids": 3073, "tdigest_centroid_bound": 3072}
    assert _fails(stress.gate_tdigest, {1: ok, 2: ok}, [1, 2]) == []
    fails = _fails(stress.gate_tdigest, {1: over, 2: ok}, [1, 2])
    assert len(fails) == 1 and "at 1x" in fails[0]


def test_replicate_shifts_keys_before_content_rules(spark):
    df = spark.createDataFrame([(1, "a")], "k long, v string")

    def tag(copy):
        return F.concat(F.col("k").cast("string"), F.lit("/"), copy.cast("string"))

    out = stress.replicate(df, 2, {"k": 10}, {"v": tag})
    assert sorted(map(tuple, out.collect())) == [(11, "11/1"), (21, "21/2")]
    assert stress.replicate(df, 1, {"k": 10}, {"v": tag}) is df


@pytest.mark.parametrize("before", [None, "before"])
def test_session_conf_restores_previous_value(spark, before):
    key = "spark.etl_ch.test.stress_conf"
    if before is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, before)
    with stress.session_conf(spark, {key: "inside"}):
        assert spark.conf.get(key) == "inside"
    assert spark.conf.get(key, None) == before
    with pytest.raises(RuntimeError):
        with stress.session_conf(spark, {key: "inside"}):
            raise RuntimeError("spine failed")
    assert spark.conf.get(key, None) == before
    spark.conf.unset(key)


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "stress.py"), *args],
        capture_output=True, text=True, env=ENV, timeout=120,
    )


def test_only_names_come_from_the_spine_table():
    assert list(stress.SPINES) == [
        "q1", "join_agg", "topk_global", "neardup", "vocab_score",
        "ngram_novelty", "line_dedup", "substr_dedup", "semdedup",
        "pagerank", "triangles", "bfs", "tri_approx", "linkpred",
        "bpe_vocab_rounds", "cc", "sim", "asof", "streaming", "tdigest",
        "avro", "protobuf", "warc", "kafka", "tlog",
    ]
    helped = _cli("--help")
    assert helped.returncode == 0
    assert ",".join(stress.SPINES) in "".join(helped.stdout.split())
    # an unknown name is a usage error before any session starts
    bad = _cli("--only", "q1,kafak")
    assert bad.returncode == 2
    assert "kafak" in bad.stderr and ",".join(stress.SPINES) in bad.stderr


def test_import_leaves_driver_heap_alone():
    out = subprocess.run(
        [sys.executable, "-c",
         "import os; from tools import stress; "
         "print(os.environ.get('SPARK_GRAFT_DRIVER_MEM'))"],
        capture_output=True, text=True, env=ENV, cwd=REPO, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "None"


def test_run_in_process_small_sweep(spark, sf_dir):
    results = stress.run(
        spark, sf_dir, (1, 2), runs=1, only=("q1", "linkpred", "kafka", "tdigest", "tlog")
    )
    keys = {
        "rows", "q1", "linkpred", "kafka_encode", "kafka_decode",
        "tdigest_fixed8", "tdigest", "tdigest_centroids", "tdigest_centroid_bound",
        "tlog_commits", "tlog_stage", "tlog_replay", "tlog_ckpt_read",
    }
    assert set(results) == {"1", "2"}
    assert set(results["1"]) == keys and set(results["2"]) == keys
    assert results["2"]["rows"] == 2 * results["1"]["rows"] > 0
    assert results["1"]["tlog_commits"] == 200 and results["2"]["tlog_commits"] == 400
    assert results["2"]["tdigest_centroid_bound"] == 3 * 16 * 128
    assert [m for gate in stress.GATES for m in gate(results, [1, 2])] == []

#!/usr/bin/env python
"""Benchmark runner (driver contract + BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; per query: one
warm-up run (JIT/codegen/FS cache), then N_RUNS timed runs with the
Spark SQL cache CLEARED BEFORE EVERY TIMED RUN — each timed run pays
the full cold plan, so an op that persist()s an intermediate can never
hide its featurize cost behind the warm-up run's cache (VERDICT r2
"What's wrong" #1). Median (p50) is the per-key number; p95 over the
same runs is emitted alongside for noise visibility. Execution sinks
into `format("noop")` so the full plan runs without driver-side
transfer costing the measurement; a JVM GC is requested between keys
so one key's garbage doesn't bill the next key's runs.

Prints exactly ONE COMPACT JSON line to stdout:
  {"metric": "suite_wall_sec", "value": N, "unit": "sec",
   "queries": {...medians...}, "sf": ...}
The driver captures only the LAST 2,000 characters of stdout
(BENCH_r04 had "parsed": null because the old single line carried
per-key p95s + config and overflowed that window, truncating its own
head). The compact line stays well under the window; the full detail
(p95s, config, protocol, raw samples) goes to the BENCH_DETAIL.json
sidecar next to this script instead of stdout.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: one representative per cost class (scan, Q1-shape agg,
# big joins incl. salted, windows, per-key top-n, global sort+rank,
# exploding text agg, vector search, sessionization, streaming sink).
BENCH_KEYS = [
    "scan_parquet",
    "agg_groupby_multi",
    "join_inner_equi",
    "join_skew_salted",
    "join_asof",
    "join_interval_bins",
    "win_ranking",
    "limit_by",
    "sort_multikey",
    "dedup_by_key_latest",
    "llm_tfidf_terms",
    "llm_sim_topk_exact",
    "llm_dedup_near",
    "llm_dedup_simhash",
    "llm_dedup_clusters",
    "llm_dedup_embedding",
    "llm_decontaminate",
    "llm_quality_score",
    "llm_repetition_filter",
    "llm_chunk_overlap",
    "llm_unigram_logprob",
    "llm_bigram_surprisal",
    "llm_cross_dedup",
    "llm_line_dedup",
    "agg_quantile_state",
    "agg_quantiles_weighted",
    "agg_interval_length_sum",
    "llm_ngram_novelty",
    "agg_rank_corr",
    "rpt_active_users",
    "sink_shard_balanced",
    "agg_window_funnel",
    "agg_state_merge",
    "win_sessionize",
    "stream_session_gap",
    "stream_foreachbatch_sink",
    # round-5 additions: TTL rewrite (write-heavy), value-spine KS
    # statistic, zero-shuffle winnowing (HOF-heavy)
    "sink_ttl_expire",
    "agg_ks_test",
    "llm_fingerprint_winnow",
    # composed TPC-H-shaped reports (§2.12) — the end-to-end workload
    "rpt_revenue_forecast",
    "rpt_shipping_priority",
    "rpt_local_supplier_volume",
    "rpt_product_profit",
    "rpt_large_volume_orders",
    # round-7 additions: bigram-LM joins (corpus → type-table agg
    # chain), trigram-explode entropy (heaviest exchange of the batch),
    # six-moment rolling window
    "llm_bigram_kneser_ney",
    "llm_char_ngram_entropy",
    "ts_rolling_corr",
    # round-8 additions: degree-ordered triangle enumeration (the
    # wedge-join graph workload, ~41M candidates at sf0.1), the
    # composed six-stage curation funnel, and the MATTR zero-shuffle
    # HOF fold
    "graph_triangle_count",
    "rpt_filter_funnel",
    "llm_mattr_diversity",
    # round-9 additions: iterative integer PageRank (3 staged
    # message-passing rounds over the co-purchase edges), the staged
    # basket self-join with broadcast marginals, and the bigram-explode
    # PMI pipeline over the staged pair table
    "graph_pagerank",
    "rpt_basket_pairs",
    "llm_pmi_collocations",
    # round-10 additions: SemDeDup (map-side Voronoi assignment +
    # intra-cluster cosine self-join), multi-source BFS (4 staged
    # frontier rounds), ROUGE clipped-overlap (double explode →
    # composite-key join → per-pair agg)
    "llm_semdedup",
    "graph_bfs_distance",
    "llm_rouge_overlap",
    # round-11 additions: capped-center link prediction (the staged
    # common-neighbor join), DOULION sampled triangle estimate (the
    # declared approximate scale path next to graph_triangle_count),
    # and IVF-PQ ANN (coarse lists + ADC scoring + exact re-rank)
    "graph_jaccard_linkpred",
    "graph_triangle_approx",
    "llm_sim_topk_ivfpq",
    # round-13 additions: the deterministic t-digest (group x shard
    # window build + centroid-only exchanges), the int64 hex-grid
    # rollup (map-side codegen + one grid-bounded agg), and the Avro
    # container round trip (the suite's Python-wire-format
    # representative: Arrow-batched encode -> parquet stage -> decode)
    "agg_quantile_tdigest",
    "geo_h3_hexgrid",
    "scan_avro_import",
    # round-14 additions (VERDICT r13 #2): the two r13 keys registered
    # without bench rows — the k-ring explode-scatter smooth over the
    # hex grid, and the streamed t-digest state rollup (availableNow
    # micro-batches + epoch-partitioned state + flat centroid merge)
    "geo_h3_kring_smooth",
    "stream_tdigest_state",
    # round-14 new-key representatives: the protobuf wire codec round
    # trip and the Delta-checkpoint snapshot read (staging + manifest
    # replay + pruned data scan)
    "scan_protobuf_import",
    "scan_table_log_checkpoint",
    # round-14 continuation representatives: the WARC corpus-ingest
    # round trip (record-gzip encode -> stage -> strict parse, the
    # Common Crawl path), the change-data-feed read (cdc staging +
    # action replay + change-proportional scans), the integer-dyadic
    # Holt-Winters recursion (bucket aggregate + per-series
    # applyInPandas), and the streaming commit-protocol sink
    # (availableNow micro-batches, one atomic txn commit per epoch)
    "scan_warc_import",
    "scan_table_log_cdf",
    "ts_holt_winters",
    "stream_table_log_sink",
    # late round-14 continuation: the Kafka RecordBatch round trip
    # (CRC32C + zigzag records — the interpreter-bound wire hot loop)
    # and the MergeTree sparse-index range read (granule staging +
    # mark-file pruning + residual scan)
    "scan_kafka_import",
    "scan_mergetree_primary_index",
]

N_RUNS = 5

# Discarded pre-suite priming: run a few representative plan shapes
# (hash agg, shuffle join, window) before any timed key. Per-key
# warm-up alone is not enough early in JVM life — C2 JIT compiles the
# codegen/shuffle hot paths incrementally, so without priming the
# FIRST keys in suite order pay JIT cost the later keys don't (r3
# driver run: agg_groupby_multi, 2nd in order, measured 2.09x its
# recorded baseline while identical code benched 1.1x mid-suite).
PRIME_KEYS = ["agg_groupby_multi", "join_inner_equi", "win_ranking"]
PRIME_ROUNDS = 2

# Host-drift calibration (r15, VERDICT r14 #2): a fixed, deterministic
# single-task CPU reference timed alongside the suite so round-over-
# round comparisons can be drift-normalized. This host's speed moved
# 20-60% between driver-run eras (10 UNTOUCHED r14 keys "regressed"
# ×1.4-1.95 on identical code); without an in-band reference those
# statuses are noise. The spin is half interpreted Python, half a
# single-partition JVM codegen aggregate — the two substrates the
# suite's keys run on — with pinned iteration counts, run after the
# JIT priming (so it measures the same warmed state the keys see) and
# NEVER counted into suite_wall_sec or any queries entry. Methodology
# of the timed keys is byte-identical to r14.
CALIB_PY_ITERS = 3_000_000
CALIB_JVM_ROWS = 30_000_000
CALIB_RUNS = 3


def _calib_once(spark) -> float:
    t0 = time.monotonic()
    x = 0
    for _ in range(CALIB_PY_ITERS):  # interpreted-Python reference
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    # single-task JVM codegen reference (1 partition => 1 task)
    spark.range(0, CALIB_JVM_ROWS, 1, 1).selectExpr(
        "sum(pmod(id * 2654435761, 1000003)) AS s"
    ).collect()
    return time.monotonic() - t0


def _spawn_cpu_load(n: int) -> list:
    """Background busy-loop processes for --contended runs: measures
    how each key degrades when the host is not idle (the driver's
    bench host runs concurrent work; BASELINE.md records the deltas so
    a driver-run p95 excursion can be read against an expected range
    instead of a blanket noise band)."""
    import subprocess

    procs = []
    for _ in range(n):
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", "while True: pass"],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        )
    return procs


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--contended",
        type=int,
        default=0,
        metavar="N",
        help="co-schedule N busy-loop processes during the timed section",
    )
    ap.add_argument(
        "--keys", default="", help="comma-separated subset of BENCH_KEYS"
    )
    args = ap.parse_args()
    bench_keys = (
        [k for k in args.keys.split(",") if k] if args.keys else BENCH_KEYS
    )

    # Pre-flight idle check (round-12 protocol lesson): a bench run
    # started seconds after a heavy job ends still reads 20-30% hot —
    # the 1-minute load average is the tell (observed: ivfpq 6.84 s at
    # load 6 vs 5.42/5.60 once load < 2). Recorded in the sidecar so a
    # flagged row is never mistaken for a plan regression; stderr warns
    # but doesn't abort (the driver's own runs land where they land).
    load1 = os.getloadavg()[0]
    if not args.contended and load1 > 2.0:
        print(
            f"WARN bench started at load1={load1:.1f} (>2): timings will "
            "read hot; re-run after the host drains for idle-pair rows",
            file=sys.stderr,
        )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")

    from etl_ch_destination_spark.session import get_spark

    spark = get_spark(
        "etl-ch-destination-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(shuffle),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from etl_ch_destination_spark.registry import all_queries

    queries = all_queries()

    # prime the JVM (JIT/codegen/shuffle machinery) before any timing
    for _ in range(PRIME_ROUNDS):
        for key in PRIME_KEYS:
            spark.catalog.clearCache()
            queries[key](spark, sf_dir).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()

    # drift reference: median of CALIB_RUNS fixed-work spins (post-
    # priming, pre-timing; excluded from suite_wall_sec and queries)
    calib_sec = round(
        statistics.median(_calib_once(spark) for _ in range(CALIB_RUNS)), 3
    )

    load_procs = _spawn_cpu_load(args.contended) if args.contended else []

    timings: dict[str, float] = {}
    p95s: dict[str, float] = {}
    for key in bench_keys:
        fn = queries[key]

        def run() -> float:
            # cold path every time: no timed run may ride a previous
            # run's (or the warm-up's) persisted intermediates
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return time.monotonic() - t0

        try:
            run()  # warm-up (JIT, code cache, FS cache)
            samples = sorted(run() for _ in range(N_RUNS))
            timings[key] = round(statistics.median(samples), 3)
            p95s[key] = round(
                samples[min(len(samples) - 1, int(0.95 * len(samples)))], 3
            )
        except Exception as exc:  # a broken key must not zero the whole bench
            print(f"bench {key} failed: {exc}", file=sys.stderr)
            timings[key] = -1.0
        spark.catalog.clearCache()
        # ask the JVM to collect between keys so one key's garbage
        # doesn't surface as GC pauses billed to the next key
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    for p in load_procs:
        p.terminate()
    for p in load_procs:  # reap — terminate() alone leaves zombies
        try:
            p.wait(timeout=10)
        except Exception:
            p.kill()
            try:
                # a process stuck in uninterruptible sleep (D state)
                # survives SIGKILL until its syscall returns; don't let
                # it hold the bench's stdout summary hostage (ADVICE r6)
                p.wait(timeout=10)
            except Exception:
                print(f"load proc {p.pid} did not exit after kill", file=sys.stderr)

    ok = {k: v for k, v in timings.items() if v >= 0}
    suite = round(sum(ok.values()), 3)
    detail = {
        "metric": "suite_wall_sec",
        "value": suite,
        "unit": "sec",
        "queries": timings,
        "queries_p95": p95s,
        "sf": sf_dir,
        "calib_sec": calib_sec,
        "config": {
            "master": f"local[{cpus}]",
            "shuffle_partitions": int(shuffle),
            "aqe": True,
            "runs": N_RUNS,
            "protocol": (
                "discarded pre-suite JIT priming; then per key: warm-up + "
                "median of N_RUNS cold runs (cache cleared before each)"
            ),
            "os_cpus": os.cpu_count(),
            "contended_load_procs": args.contended,
            "load1_at_start": round(load1, 2),
        },
    }
    # full detail (p95s, config) to the sidecar — NOT stdout; the
    # driver's tail capture is 2,000 chars and must see a complete line.
    # Contended / subset runs get their own mode-named sidecar so an
    # idle subset run is never mislabeled as contended and neither can
    # clobber the canonical idle full-suite record (ADVICE r5).
    if not args.contended and not args.keys:
        sidecar = "BENCH_DETAIL.json"
    elif args.contended:
        sidecar = "BENCH_DETAIL_contended.json"
    else:
        sidecar = "BENCH_DETAIL_subset.json"
    with open(os.path.join(REPO, sidecar), "w") as f:
        json.dump(detail, f, indent=1)
    compact = {
        "metric": "suite_wall_sec",
        "value": suite,
        "unit": "sec",
        # stdout carries 2-decimal timings (10 ms granularity — plenty
        # for per-key baseline comparison); the 3-decimal medians and
        # p95s live in the sidecar. At 56 keys the 3-decimal line
        # outgrew the old 1500-char self-check.
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf_dir,
        "calib_sec": calib_sec,
    }
    line = json.dumps(compact, separators=(",", ":"))
    # The driver's tail capture is 2,000 chars and this line is the
    # LAST thing printed, so the hard bound is a complete line within
    # the final 2,000 chars. At 72 keys the full line measures ~1955
    # chars; if a slow-era run ever pushes it past the margin, drop the
    # calibration field from STDOUT first (it stays in the sidecar)
    # rather than risking a truncated-head parse like BENCH_r04's.
    if len(line) > 1990:
        del compact["calib_sec"]
        line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1990, f"bench stdout line too long: {len(line)}"
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

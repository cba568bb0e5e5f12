"""The benchmark's workloads and the per-key metric names.

A unit is one pass over a workload's keys, each key called through
``registry.all_queries()`` and driven to completion by the unit's action:
``noop`` writes the result to Spark's no-op sink, ``collect`` brings it
back to the benchmark so it can be checked. Why each workload was chosen
is recorded beside it in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    action: str  # "noop" or "collect"
    sf: float | None = None  # scale factor of the generated inputs
    warmup: int = 0  # untimed units between set-up and the timed phase


# Input scales. The fixtures' sf0.1 does not fit the run budget (about a
# minute per run, 15 s of it timed): there one wire pass takes ~30 s and one
# load cycle ~10 s on a 4-core host. A load cycle is ~36 small jobs whose
# cost barely grows with the input (~7 s a cycle at both sf0.02 and sf0.05),
# so etl_load runs at sf0.05. The codec stages grow with the input, so
# wire_roundtrip runs at sf0.01. There the codec's share of executor time
# is as at sf0.1 (~0.9), but its stages, sized at 64 KB of input per task,
# run ~50 tasks a pass instead of ~250, so fewer cores are busy.
#
# Warm-up. A load cycle builds many small plans whose generated classes the
# JVM's JIT keeps compiling for several cycles after the first: on a 4-core
# host the cycles after set-up took 8.2, 7.0 and 6.0 s (14, 9 and 6 s of JIT)
# before levelling off near 5 s (2-4 s of JIT). Timing them would measure how
# fast the JIT catches up on a shared host, so etl_load runs two untimed
# units first. Wire passes run 6-8 s from the first one after set-up, with no
# trend past it; the median of three timed units drops a slower first pass.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_load",
            (
                "job_batch_etl",
                "job_corpus_curate",
                "job_incremental_etl",
                "stream_foreachbatch_sink",
            ),
            # Each key returns the verify report it computed by re-reading
            # what it loaded; collecting it lets every unit check the load.
            "collect",
            sf=0.05,
            warmup=2,
        ),
        Workload(
            "wire_roundtrip",
            (
                "scan_rowbinary_import",
                "scan_native_import",
                "scan_avro_import",
                "scan_protobuf_import",
                "scan_kafka_import",
            ),
            "noop",
            sf=0.01,
        ),
    )
}

# The query surface (JVM exchange, aggregate, join and window work, no wire
# codec) is not a timed workload: one pass costs ~23 s cold and 8-10 s
# warm, and its units keep speeding up for five passes as the JIT compiles
# Spark's planner, so a steady figure would take minutes per run. Traced
# runs still time each of its keys once.
QUERY_PROBE = Workload(
    "query_mix",
    (
        "agg_groupby_multi",
        "join_inner_equi",
        "join_skew_salted",
        "join_asof",
        "win_ranking",
        "sort_multikey",
        "rpt_shipping_priority",
        "rpt_product_profit",
        "rpt_large_volume_orders",
        "agg_quantile_tdigest",
        "llm_dedup_clusters",
        "graph_pagerank",
    ),
    "noop",
)

# Per-key span names; keys not listed here report as queries.<key>_s.
KEY_METRIC = {
    "job_batch_etl": "jobs.batch_etl_s",
    "job_corpus_curate": "jobs.curate_corpus_s",
    "job_incremental_etl": "jobs.incremental_etl_s",
    "stream_foreachbatch_sink": "streaming.foreach_batch_s",
}

# jobs/batch_etl.py runs its steps as separate Spark jobs, named by call
# site: the JSON writer is the extract, the partitioned parquet writer and
# the broadcast build of its enrich join are the load, and the benchmark's
# collect of the re-read report is the verify.
def batch_etl_step(call_site: str) -> str:
    op = call_site.split(" at ")[0].strip()
    if op == "json":
        return "extract"
    if op == "parquet" or "withThreadLocalCaptured" in op:
        return "load"
    return "verify"


def key_metric(key: str) -> str:
    return KEY_METRIC.get(key, f"queries.{key}_s")


def all_keys() -> list[str]:
    return [k for w in (*WORKLOADS.values(), QUERY_PROBE) for k in w.keys]


CATALOG_TABLES = ("lineitem", "orders", "events", "documents")

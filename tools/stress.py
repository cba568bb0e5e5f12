#!/usr/bin/env python
"""Scaling stress: replicate the fixture tables in-memory N× and
measure how the headline plans scale with input size on fixed cores.

This does NOT synthesize new fixture data for correctness gates — the
oracle gate always runs on the driver's parquet. It answers one
question the fixtures alone can't: *is wall-clock linear in rows for
the shapes we claim are scan/shuffle-bound?* A plan with an accidental
quadratic term (all-pairs join, unpartitioned sort) shows super-linear
growth here long before a cluster run would.

Replication: `explode(sequence(1, N))` per row with the copy index
mixed into the join/group keys where uniqueness matters — row count
scales exactly N×, key cardinality scales with it, value domains stay
fixture-realistic (`replicate`).

Layout: `SPINES` maps each `--only` name to a spine function. A spine
takes one `Factor` (session, replication factor, timed-run count and
the base tables, loaded once for the whole sweep) and returns the
entries it adds to that factor's row. `GATES` are pure functions of
`(results, factors)` that return failure messages. `run()` is the
whole sweep and can be called in-process on any session.

Usage: python tools/stress.py [--factors 1,10,30] [--runs 3] [--only q1,cc]
(fixture dir from $SPARK_GRAFT_SF_DIR). Prints one JSON line:
{"factor": {"q1": sec, "join_agg": sec, ...}}; a failed gate prints a
FAIL line on stderr and exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window as W  # noqa: E402

from etl_ch_destination_spark.ops.staging import STAGING_DIR_CONF  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGING = os.path.join(tempfile.gettempdir(), "stress_staging")
AQE_INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
KEY_STRIDE = 10_000_000  # per-copy offset of an integral key
EVENT_ID_STRIDE = 100_000_000


def replicate(
    df: DataFrame,
    n: int,
    strides: dict[str, int],
    content: dict[str, Callable] | None = None,
) -> DataFrame:
    """N× ``df``: each row once per copy index 1..n. ``strides`` shifts
    each integral key by copy·stride so key cardinality scales too;
    ``content`` rewrites a column as a function of its row and the copy
    index column (applied after the key shifts, so a rule reads the
    shifted keys). n == 1 returns ``df`` unchanged."""
    if n == 1:
        return df
    out = df.withColumn("__copy", F.explode(F.sequence(F.lit(1), F.lit(n))))
    copy = F.col("__copy")
    for key, stride in strides.items():
        out = out.withColumn(key, F.col(key) + copy.cast("long") * F.lit(stride))
    for col, rule in (content or {}).items():
        out = out.withColumn(col, rule(copy))
    return out.drop("__copy")


@contextlib.contextmanager
def session_conf(spark: SparkSession, settings: dict[str, str]):
    """Set session confs for the body, then put back each previous
    value, or unset it if it had none — also when the body raises, so
    an override never leaks into later spines or factors (it would
    silently skew their timings)."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def time_action(fn: Callable[[], object], runs: int) -> float:
    """Median wall seconds of ``runs`` calls to ``fn`` after one
    warm-up call."""
    fn()
    walls = []
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return round(statistics.median(walls), 3)


def drain(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass(frozen=True)
class Factor:
    """One spine's input: the session, the replication factor, the
    timed-run count and the base tables (see `load_tables`)."""

    spark: SparkSession
    n: int
    runs: int
    tables: dict[str, DataFrame]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The fixture tables the spines replicate, loaded once per sweep.

    The fixture parquet is one row group = one scan split; a 100 TB
    table arrives in thousands of splits. Spread the scan so the
    measured slope reflects the multi-core plan, not the fixture's
    single-task scan stage (the repartition cost is included in every
    timing, so this is conservative)."""
    from etl_ch_destination_spark.catalog import load_table, parallelize_scan

    def scan(name: str, *cols: str) -> DataFrame:
        df = load_table(spark, sf_dir, name)
        return parallelize_scan(df.select(*cols) if cols else df, spark)

    return {
        "lineitem": scan("lineitem"),
        "orders": scan("orders"),
        "customer": scan("customer"),
        "events": scan("events"),
        "documents": scan("documents", "doc_id", "text"),
        "warc_documents": scan("documents", "doc_id", "text", "lang", "source"),
        "embeddings": scan("embeddings", "vec_id", "embedding"),
    }


def _lineitem(f: Factor) -> DataFrame:
    return replicate(f.tables["lineitem"], f.n, {"l_orderkey": KEY_STRIDE})


def _orders(f: Factor) -> DataFrame:
    return replicate(f.tables["orders"], f.n, {"o_orderkey": KEY_STRIDE})


def _events(f: Factor) -> DataFrame:
    """N× events with DISJOINT user/event id spaces per copy —
    sessions, asof-match groups, and state rows all scale exactly N×
    by construction (shared by the streaming, asof and kafka spines)."""
    return replicate(
        f.tables["events"], f.n, {"event_id": EVENT_ID_STRIDE, "user_id": KEY_STRIDE}
    )


def _docs(f: Factor) -> DataFrame:
    """N× corpus with CONSTANT duplicate density: every copy gets a
    disjoint vocabulary (copy index suffixed onto every word), so
    cross-copy shingles never collide and the near-dup pair
    structure replicates instead of growing quadratically — the
    measured slope is the pipeline's, not the duplicate
    semantics'."""

    def text(copy):
        return F.array_join(
            F.transform(
                F.split("text", " "),
                lambda w: F.concat(w, F.lit("_"), copy.cast("string")),
            ),
            " ",
        )

    return replicate(
        f.tables["documents"], f.n, {"doc_id": KEY_STRIDE}, {"text": text}
    )


def _vectors(f: Factor) -> DataFrame:
    """N× corpus with a deterministic per-copy DIRECTION jitter.

    Plain replication duplicates every vector exactly (cosine ties
    across copies → degenerate neighbor sets) and pure scaling is
    cosine-invariant; adding sin(vec_id·13 + copy·7 + i)·0.05 per
    dimension (vec_id is the copy's shifted id) perturbs directions
    reproducibly, so the replicated corpus has a realistic (non-tied)
    neighborhood structure while staying a pure function of (row,
    copy)."""

    def embedding(copy):
        return F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + F.sin(
                F.col("vec_id").cast("double") * 13.0
                + copy.cast("double") * 7.0
                + i.cast("double")
            )
            * F.lit(0.05),
        )

    return replicate(
        f.tables["embeddings"], f.n, {"vec_id": KEY_STRIDE}, {"embedding": embedding}
    )


def _graph_edges(f: Factor) -> DataFrame:
    """The engine's co-purchase edge build over disjoint graph copies:
    order AND part keys offset per copy, so nodes and edges both scale
    N× while degree structure stays fixture-real."""
    from etl_ch_destination_spark.queries.graph import copurchase_edges

    li = replicate(
        f.tables["lineitem"], f.n, {"l_orderkey": KEY_STRIDE, "l_partkey": KEY_STRIDE}
    )
    return copurchase_edges(li)


SPINES: dict[str, Callable[[Factor], dict]] = {}


def spine(fn: Callable[[Factor], dict]) -> Callable[[Factor], dict]:
    SPINES[fn.__name__] = fn
    return fn


@spine
def q1(f: Factor) -> dict:
    from etl_ch_destination_spark.queries._util import disc_price, dsum, money

    df = (
        _lineitem(f)
        .filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity"), "sum_qty"),
            dsum(disc_price(), "sum_disc_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return {"q1": time_action(lambda: drain(df), f.runs)}


@spine
def join_agg(f: Factor) -> dict:
    from etl_ch_destination_spark.queries._util import disc_price, dsum

    li, o = _lineitem(f), _orders(f)
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(dsum(disc_price(), "revenue"), F.count(F.lit(1)).alias("n"))
    )
    return {"join_agg": time_action(lambda: drain(df), f.runs)}


@spine
def topk_global(f: Factor) -> dict:
    df = (
        _lineitem(f)
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(10)
    )
    return {"topk_global": time_action(lambda: drain(df), f.runs)}


@spine
def neardup(f: Factor) -> dict:
    from etl_ch_destination_spark.ops.neardup import near_duplicate_pairs

    d = _docs(f)
    return {"neardup": time_action(lambda: drain(near_duplicate_pairs(d)), f.runs)}


@spine
def vocab_score(f: Factor) -> dict:
    # the llm_word_rarity / llm_unigram_logprob spine: explode →
    # vocabulary agg → join-back → per-doc agg. _docs gives each copy
    # a disjoint vocabulary, so vocabulary cardinality scales N× with
    # the corpus — the worst case for the join-back (no cross-copy key
    # sharing to amortize).
    w = _docs(f).select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tok = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("m"))
    vocab = tok.groupBy("word").agg(F.sum("m").alias("n"))
    df = (
        tok.join(vocab, "word")
        .groupBy("doc_id")
        .agg(F.sum("m").alias("n_words"), F.min("n").alias("min_n"))
    )
    return {"vocab_score": time_action(lambda: drain(df), f.runs)}


@spine
def ngram_novelty(f: Factor) -> dict:
    # the llm_ngram_novelty spine: trigram explode → shingle
    # first-owner agg → TWO per-doc aggregates left-joined on doc_id
    # (never a join back on the shingle key — the round-4 rewrite).
    # _docs keeps per-copy vocabularies disjoint, so the shingle index
    # cardinality scales N×.
    dd = _docs(f).filter(F.size(F.split("text", " ")) >= 3)
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        )
    )
    sh = dd.select("doc_id", F.explode(shingles).alias("shingle"))
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("fd"))
    novel = owner.groupBy(F.col("fd").alias("doc_id")).agg(F.count(F.lit(1)).alias("nn"))
    df = per_doc.join(novel, "doc_id", "left")
    return {"ngram_novelty": time_action(lambda: drain(df), f.runs)}


@spine
def line_dedup(f: Factor) -> dict:
    # the llm_line_dedup spine: block explode → first-occurrence
    # window on the block hash → doc_id reassembly. The heaviest
    # corpus pass (both exchanges carry ~token volume); slope
    # here is the whole C4-cleaning cost model.
    LINE_W = 10
    words = F.split("text", " ")
    nb = F.expr(f"(size(split(text, ' ')) + {LINE_W} - 1) div {LINE_W}")
    rows = _docs(f).select(
        "doc_id",
        words.alias("w"),
        F.size(words).alias("nw"),
        F.explode(F.sequence(F.lit(0), nb - 1)).alias("bi"),
    )
    start = F.col("bi") * LINE_W + 1
    end = F.least((F.col("bi") + 1) * LINE_W, F.col("nw"))
    btxt = F.array_join(F.slice(F.col("w"), start, end - start + 1), " ")
    blocks = rows.select("doc_id", "bi", btxt.alias("btxt"))
    win = W.partitionBy(F.md5("btxt")).orderBy("doc_id", "bi")
    df = (
        blocks.withColumn("rn", F.row_number().over(win))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
    )
    return {"line_dedup": time_action(lambda: drain(df), f.runs)}


@spine
def substr_dedup(f: Factor) -> dict:
    # the llm_dedup_substring spine: strided char-shingle
    # hashing -> duplicate-hash aggregate -> hash-key join-back
    # (the round-8 char-level dedup axis). Both exchanges carry
    # ~len/stride rows; _docs keeps per-copy texts disjoint so
    # shared-substring structure replicates and the slope is the
    # pipeline's.
    from etl_ch_destination_spark.queries.llm_filters import SUBSTR_GRAM, SUBSTR_STEP

    dd = _docs(f).filter(F.length("text") >= SUBSTR_GRAM)
    starts = F.sequence(F.lit(1), F.length("text") - (SUBSTR_GRAM - 1), F.lit(SUBSTR_STEP))
    hashes = F.transform(starts, lambda i: F.md5(F.col("text").substr(i, F.lit(SUBSTR_GRAM))))
    sh = dd.select("doc_id", F.explode(F.array_distinct(hashes)).alias("h"))
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    df = (
        sh.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return {"substr_dedup": time_action(lambda: drain(df), f.runs)}


@spine
def semdedup(f: Factor) -> dict:
    # SemDeDup with K ∝ n (8 per 1× copy): per-cluster size
    # stays constant, so the intra-cluster pair stage is LINEAR
    # in rows; the Voronoi assignment is O(n·K) — the published
    # recipe's own assignment cost (flat KMeans/Voronoi) — and
    # crosses into the broadcast-join + max(struct) regime
    # above K=32, exercising the cluster-scale code path the
    # fixture key (K=8, HOF literals) never reaches.
    from etl_ch_destination_spark.ops.similarity import semdedup_flags

    corpus = _vectors(f).persist()
    corpus.count()
    t = time_action(
        lambda: drain(semdedup_flags(corpus, n_clusters=8 * f.n, tau=0.4)), f.runs
    )
    corpus.unpersist(blocking=False)
    return {"semdedup": t}


# The graph spines run in DURABLE staging mode: the replicated edge
# list outgrows executor storage at 30× (localCheckpoint OOMed — the
# pagerank spine caught it), which is precisely the spill-to-table
# path ops/staging.py prescribes for cluster-scale inputs.
DURABLE = {STAGING_DIR_CONF: STAGING}


def _partitions_per_data(f: Factor) -> dict[str, str]:
    # partitions ∝ data (the production rule, SCALE.md): the wedge
    # exchange carries ~41M rows per 1× copy, so scale the split count
    # with the factor to keep per-task sort state heap-sized; AQE
    # coalesces the small stages back.
    return {**DURABLE, AQE_INITIAL_PARTITIONS: str(max(256, 32 * f.n))}


@spine
def pagerank(f: Factor) -> dict:
    # the graph_pagerank spine: measures the 3-iteration staged
    # message-passing rounds end-to-end including edge derivation.
    from etl_ch_destination_spark.queries.graph import pagerank_ranks

    e = _graph_edges(f)
    with session_conf(f.spark, DURABLE):
        return {"pagerank": time_action(lambda: drain(pagerank_ranks(e)), f.runs)}


@spine
def triangles(f: Factor) -> dict:
    # the graph_triangle_count spine: disjoint graph copies, so the
    # measured slope isolates the degree-ordered enumeration's
    # O(m^1.5) wedge bound (Suri & Vassilvitskii): an unoriented
    # sum(d²) wedge join would blow the linearity gate well inside
    # 10→30×. Durable staging for the edge + oriented tables.
    #
    # Partition sizing (this spine's own 30× catch): the wedge
    # exchange carries ~1.2B rows at 30×; at the session's toy
    # 32 shuffle partitions that is ~38M rows (~1 GB of sort
    # state) PER TASK × 32 concurrent tasks — OOM on the shared
    # 8g local heap, where the step-wise plan ran fine. The fix
    # is the production one (partitions ∝ data, SCALE.md):
    # raise AQE's initialPartitionNum so heavy exchanges split
    # into heap-sized sorts while AQE coalescing keeps the small
    # stages at few partitions.
    from etl_ch_destination_spark.queries.graph import triangle_counts

    e = _graph_edges(f)
    with session_conf(f.spark, _partitions_per_data(f)):
        return {"triangles": time_action(lambda: drain(triangle_counts(e)), f.runs)}


@spine
def bfs(f: Factor) -> dict:
    # graph_bfs_distance spine (VERDICT r10 #6): disjoint graph
    # copies — per-round work is |E|-bounded so wall must be
    # linear, and because every copy is the same fixture graph
    # the multi-source diameter is copy-invariant: the
    # convergence loop must pay the SAME round count at every
    # factor (gated like cc_rounds). Durable staging for the
    # per-round frontier tables.
    from etl_ch_destination_spark.queries.graph import bfs_distances_with_rounds

    e = _graph_edges(f)
    rounds: list[int] = []

    def run():
        dist, r = bfs_distances_with_rounds(e)
        rounds.append(r)
        drain(dist)

    with session_conf(f.spark, DURABLE):
        t = time_action(run, f.runs)
    return {"bfs": t, "bfs_rounds": max(rounds)}


@spine
def tri_approx(f: Factor) -> dict:
    # graph_triangle_approx spine (VERDICT r10 #5): the DOULION
    # sampler is a zero-shuffle map-side filter; the exact
    # enumeration then runs on the p-sparsified graph, scaling
    # the wedge exchange by ~p^1.5 — this is the declared scale
    # path where the exact spine is disk-bound at 100×, so THIS
    # spine is the one that must fit in scratch there. Same
    # partitions-∝-data sizing as the exact triangle spine.
    from etl_ch_destination_spark.queries.graph import (
        doulion_sampled_edges,
        triangle_counts,
    )

    e = _graph_edges(f)

    def run():
        drain(
            triangle_counts(doulion_sampled_edges(e)).agg(
                F.expr("coalesce(sum(n_triangles) div 3, 0)").alias("t")
            )
        )

    with session_conf(f.spark, _partitions_per_data(f)):
        return {"tri_approx": time_action(run, f.runs)}


@spine
def linkpred(f: Factor) -> dict:
    # graph_jaccard_linkpred spine: disjoint graph copies, so
    # the degree-capped center join's candidate count scales
    # linearly (per-copy candidates are copy-invariant); an
    # uncapped enumeration would blow the gate on the hub deg²
    # term well inside 10→30×.
    from etl_ch_destination_spark.queries.graph import jaccard_linkpred_scores

    e = _graph_edges(f)
    with session_conf(f.spark, DURABLE):
        return {
            "linkpred": time_action(lambda: drain(jaccard_linkpred_scores(e)), f.runs)
        }


@spine
def bpe_vocab_rounds(f: Factor) -> dict:
    # the llm_bpe_learn spine: the corpus collapses ONCE into
    # the (word, freq) vocabulary and every BPE round iterates
    # on that reduction only. _docs gives each copy a disjoint
    # vocabulary, so vocab cardinality scales N× — the
    # iteration's worst case. Fixed 4 rounds: the slope
    # measured is per-iteration cost vs vocab size.
    from etl_ch_destination_spark.queries.llm_corpus import _bpe_apply_merge

    d = _docs(f)

    def run():
        vocab = (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .select("freq", F.split(F.col("w"), "").alias("syms"))
        )
        work = vocab.localCheckpoint(eager=True)
        for _ in range(4):
            best = (
                work.filter(F.size("syms") >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("l"),
                                F.element_at("syms", i + F.lit(1)).alias("r"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
                .limit(1)
                .collect()
            )[0]
            work = work.select(
                "freq", _bpe_apply_merge(F.col("syms"), best.l, best.r).alias("syms")
            ).localCheckpoint(eager=True)

    return {"bpe_vocab_rounds": time_action(run, f.runs)}


@spine
def cc(f: Factor) -> dict:
    # the llm_dedup_clusters spine ALONE: alternating
    # large-star/small-star connected components over a
    # materialized near-dup edge set (edge generation is the
    # `neardup` spine; separating them isolates the iterative
    # graph cost AND its rounds-to-converge, the O(log n)
    # claim). _docs keeps per-copy vocabularies disjoint, so
    # components replicate per copy — edge count and component
    # count both scale N×, component SHAPE stays fixture-realistic.
    from etl_ch_destination_spark.ops.components import connected_components
    from etl_ch_destination_spark.ops.neardup import near_duplicate_pairs

    edges = near_duplicate_pairs(_docs(f)).localCheckpoint(eager=True)
    rounds: list[int] = []

    def run():
        stats: dict = {}
        drain(connected_components(edges, src="id_a", dst="id_b", stats=stats))
        rounds.append(stats["rounds"])

    t = time_action(run, f.runs)
    return {"cc": t, "cc_rounds": max(rounds), "cc_edges": edges.count()}


@spine
def sim(f: Factor) -> dict:
    # ANN vs exact: recall AND latency under row scaling (VERDICT r3
    # next-round #5: prove the approximate paths hold their recall
    # floor as the corpus grows, not just their slope).
    from etl_ch_destination_spark.ops.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
    )

    K = 10
    corpus = _vectors(f).persist()
    corpus.count()  # materialize once; all paths read the same frame
    queries = f.tables["embeddings"].filter(F.col("vec_id") < 16)

    def collect_topk(fn) -> dict[int, set]:
        out: dict[int, set] = {}
        for r in fn(corpus, queries, K).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = collect_topk(brute_force_topk)

    def recall_of(approx: dict[int, set]) -> float:
        per_q = [
            len(exact[q] & approx.get(q, set())) / max(1, len(exact[q])) for q in exact
        ]
        return round(sum(per_q) / len(per_q), 4)

    def timed(fn) -> float:
        return time_action(lambda: drain(fn(corpus, queries, K)), f.runs)

    row = {
        "vec_rows": corpus.count(),
        "ann_recall_lsh": recall_of(collect_topk(ann_topk)),
        # IVF probes 8-of-16 cells, the config of the pytest recall
        # floor: the fixture's isotropic unit vectors are IVF's worst
        # case (no cluster structure → recall ≈ probed-mass fraction),
        # so its floor is 0.5 where LSH holds 0.9; real embedding
        # corpora cluster and close the gap. Full-probe ≡ brute force
        # is the correctness gate (tests/test_llm.py).
        "ann_recall_ivf": recall_of(
            collect_topk(lambda c, q, k: ivf_topk(c, q, k, n_probe=8))
        ),
        # IVF-PQ (VERDICT r10 #7): recall is bounded above by its
        # probed-mass fraction (n_probe=6 of 8 lists = 0.75 on this
        # worst-case isotropic fixture) times the ADC-shortlist hit
        # rate; the exact re-rank only fixes ordering, never the
        # candidate set — so the stress floor is the IVF one (0.5),
        # while the pytest gate holds the fixture-scale 0.8 floor.
        "ann_recall_ivfpq": recall_of(collect_topk(ivfpq_topk)),
        "sim_exact": timed(brute_force_topk),
        "sim_lsh": timed(ann_topk),
        "sim_ivf": timed(ivf_topk),
        "sim_ivfpq": timed(ivfpq_topk),
    }
    corpus.unpersist(blocking=False)
    return row


@spine
def asof(f: Factor) -> dict:
    # ASOF-join spine: the union+window merge idiom (ops/asof.py)
    # end-to-end at 1×/10×/30× — the §2.3 custom operator family's
    # stress row. Disjoint user spaces make the per-key sorted-window
    # state copy-invariant: wall must scale ~linearly in rows (one
    # keyed exchange + one per-user sorted pass; the merge-join cost
    # model, never a range-join blowup).
    from etl_ch_destination_spark.ops.asof import asof_join
    from etl_ch_destination_spark.ops.dedup import latest_by_key

    ev = _events(f)
    cols = ("event_id", "user_id", "ts", "value")
    views = ev.filter(F.col("event_type") == "view").select(*cols)
    purch = latest_by_key(
        ev.filter(F.col("event_type") == "purchase").select(*cols),
        ["user_id", "ts"],
        [F.desc("event_id")],
    ).select("user_id", "ts", "value")
    return {
        "asof": time_action(
            lambda: drain(asof_join(views, purch, keys=["user_id"], ts="ts", how="left")),
            f.runs,
        )
    }


@spine
def streaming(f: Factor) -> dict:
    # streaming spine (VERDICT r11 #6): §2.9 was the one family with no
    # 1×/10×/30× row. Replay events replicated with DISJOINT user/event
    # spaces (sessions and state rows scale exactly N× by construction)
    # through the two stateful shapes: the foreachBatch batched-insert
    # ingest (throughput) and the session_window aggregation (state
    # store). The staged replay keeps the FILE count constant across
    # factors, so every factor pays the same number of micro-batches
    # with N× bigger batches — state cadence fixed, state size the
    # scaled variable, exactly a Kafka topic carrying N× the traffic
    # into the same trigger schedule.
    from etl_ch_destination_spark.catalog import scratch_dir
    from etl_ch_destination_spark.streaming import pipeline as spipe
    from etl_ch_destination_spark.streaming.replay import read_staged_stream

    spark, n = f.spark, f.n
    N_SLICES = 6
    # Scale WITHIN-batch parallelism with batch size (the r10
    # triangle-spine "partitions ∝ data" rule, applied to the
    # replay read): maxFilesPerTrigger=1 makes each micro-batch
    # one staged file, and at 300× that file is ~51 MB — under
    # the default 128 MB maxPartitionBytes, so the WHOLE 5M-row
    # batch ran as ONE task end-to-end (scan→stamp→sink write
    # has no exchange) and fbatch collapsed super-linearly
    # (12.8 → 92 s for 3× rows, caught by the gate in the
    # first r13 run). 8 MB splits a factor-N batch into ~N×
    # size/8MB tasks: 30× stays 1 task (r12 rows unchanged),
    # 100× → ~3, 300× → ~7 — micro-batch COUNT still constant,
    # exactly a Kafka consumer whose partition count follows
    # topic volume.
    with session_conf(spark, {"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)}):
        ev0 = f.tables["events"]
        evr = _events(f)
        # time-RANGE slicing (parallel — no global window): slice
        # bounds come from the 1× table, identical for every copy.
        b = ev0.agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        ).collect()[0]
        span = max(b["hi"] - b["lo"] + 1, 1)
        slice_col = F.least(
            F.floor((F.unix_micros("ts") - F.lit(b["lo"])) * F.lit(N_SLICES) / F.lit(span)),
            F.lit(N_SLICES - 1),
        ).cast("int")
        staged = scratch_dir(f"stress_stream/{n}x")
        shutil.rmtree(staged, ignore_errors=True)
        sliced = evr.withColumn("__slice", slice_col)
        for i in range(N_SLICES):
            (
                sliced.filter(F.col("__slice") == i)
                .drop("__slice")
                .coalesce(1)
                .write.mode("append")
                .parquet(staged)
            )

        def run_fbatch():
            out = scratch_dir(f"stress_stream/{n}x_sink")
            ck = scratch_dir(f"stress_stream/{n}x_ckpt")
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(ck, ignore_errors=True)
            spipe.foreach_batch_load(read_staged_stream(spark, staged), out, ck).awaitTermination()

        state_rows: list[int] = []

        def run_session():
            ck = scratch_dir(f"stress_stream/{n}x_ckpt2")
            shutil.rmtree(ck, ignore_errors=True)
            q = (
                spipe.session_gap(read_staged_stream(spark, staged))
                .writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            prog = q.lastProgress
            if prog and prog.get("stateOperators"):
                state_rows.append(prog["stateOperators"][0]["numRowsTotal"])

        n_events = evr.count()
        t_fb = time_action(run_fbatch, f.runs)
        row = {
            "stream_events": n_events,
            "stream_fbatch": t_fb,
            "stream_session": time_action(run_session, f.runs),
            "stream_fbatch_evps": round(t_fb and n_events / t_fb),
            # r15 (VERDICT r14 #10): per-epoch wall — the
            # micro-batch count is CONSTANT across factors
            # (N_SLICES staged files, maxFilesPerTrigger=1),
            # so this row shows the ~fixed trigger/commit
            # overhead amortizing as batches grow N×
            "stream_sec_per_epoch": round(t_fb / N_SLICES, 3),
            "stream_state_rows": max(state_rows, default=0),
        }
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(scratch_dir(f"stress_stream/{n}x_sink"), ignore_errors=True)
    return row


@spine
def tdigest(f: Factor) -> dict:
    # t-digest build spine (round 13): the agg_quantile_tdigest
    # per-shard digest build — the ONE scale question the key leaves
    # open is shard sizing. At the fixture's FIXED 8 shards,
    # per-(grp, shard) window partitions grow ∝ rows (24 partitions
    # total — the memory wall the docstring warns about); with shards
    # ∝ factor (the production rule: shard count follows
    # cluster/data), partition size stays constant and the build
    # should track rows linearly. Both are measured; the scaled form
    # is linearity-GATED, and the centroid bound |grp|×|shards|×δ is
    # asserted exactly (a sketch whose state grows with ROWS is not a
    # sketch).
    li = _lineitem(f)
    TD_DELTA, TD_BASE_SHARDS = 128, 8

    def td_state(shards: int) -> DataFrame:
        src = li.select(
            F.col("l_returnflag").alias("grp"),
            (F.col("l_orderkey") % shards).alias("shard"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
        )
        w_rank = W.partitionBy("grp", "shard").orderBy("cents")
        return (
            src.select(
                "grp",
                "shard",
                "cents",
                F.row_number().over(w_rank).alias("rn"),
                F.count(F.lit(1)).over(W.partitionBy("grp", "shard")).alias("n"),
            )
            .withColumn(
                "bucket",
                F.expr(
                    f"CAST(({TD_DELTA} * (2 * CAST(rn AS BIGINT) - 1)) div (2 * n) AS BIGINT)"
                ),
            )
            .groupBy("grp", "shard", "bucket")
            .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("w"))
        )

    scaled = TD_BASE_SHARDS * f.n
    return {
        "tdigest_fixed8": time_action(lambda: drain(td_state(TD_BASE_SHARDS)), f.runs),
        "tdigest": time_action(lambda: drain(td_state(scaled)), f.runs),
        "tdigest_centroids": td_state(scaled).count(),
        "tdigest_centroid_bound": 3 * scaled * TD_DELTA,
    }


def _codec_roundtrip(f: Factor, name: str, blocks: DataFrame, decode: Callable) -> dict:
    """Time a codec stager's blocks stored as parquet (``<name>_encode``),
    then the stored blocks decoded through ``decode_blocks`` with the
    per-record values dropped (``<name>_decode``): ``decode(payload)``
    returns the payload's records and must match its ``block_rows``.
    The blocks are read back with ``read_blocks``, as the codec keys
    read theirs, so the decode times the plan those keys run."""
    from etl_ch_destination_spark.sink.wire import decode_blocks, read_blocks

    path = os.path.join(STAGING, f"{name}_{f.n}x")
    encode = time_action(lambda: blocks.write.mode("overwrite").parquet(path), f.runs)
    counted = decode_blocks(
        read_blocks(f.spark, path), lambda payload: [(1,)] * len(decode(payload)), "n bigint"
    )
    return {f"{name}_encode": encode, f"{name}_decode": time_action(lambda: drain(counted), f.runs)}


@spine
def avro(f: Factor) -> dict:
    # Avro codec spine (round 14, VERDICT r13 #2): the suite's slowest
    # bench key (scan_avro_import, 8.86 s at sf0.1) claims
    # "embarrassingly parallel — scales with file count"; this
    # measures it instead of asserting it. Distributed encode (one
    # DEFLATE container file per 8192-row slice via mapInPandas) →
    # parquet store → block-parallel VALIDATING decode (full value
    # decode + schema/sync/consumption checks). Both stages are pure
    # per-file Python with no exchange anywhere, so wall-clock must
    # track rows linearly on fixed cores; a super-linear slope here
    # would mean hidden driver-side or single-task work in the codec
    # path.
    from etl_ch_destination_spark.sink.avro import avro_blocks, avro_schema, decode_container

    o = _orders(f)
    src = o.select(
        F.col("o_orderkey").cast("long"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(12,2)"),
        F.col("o_orderdate").cast("timestamp"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.substring("o_orderpriority", 1, 10))
        .alias("note"),
    )
    expected = avro_schema(src.schema)
    blocks = avro_blocks(src, rows_per_file=8192, objects_per_block=2048, codec="deflate")
    return _codec_roundtrip(
        f, "avro", blocks, lambda payload: decode_container(payload, expected)
    )


@spine
def protobuf(f: Factor) -> dict:
    # Protobuf codec spine (round 14): same question as the avro spine
    # for the round-14 wire format — encode (one length-delimited
    # stream file per 8192-row slice via mapInPandas) → parquet store
    # → validating decode, both pure per-file Python with no exchange;
    # wall-clock must track rows linearly on fixed cores.
    from etl_ch_destination_spark.sink.protobuf import decode_stream, pb_schema, protobuf_blocks

    c = replicate(f.tables["customer"], f.n, {"c_custkey": KEY_STRIDE})
    src = c.select(
        F.col("c_custkey").cast("long"),
        F.col("c_name"),
        (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long").alias("bal_cents"),
        F.col("c_nationkey").cast("long"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        (F.col("c_mktsegment") == "AUTOMOBILE").alias("is_auto"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    sch = pb_schema(
        [
            (1, "c_custkey", "int64", False),
            (2, "c_name", "string", False),
            (3, "bal_cents", "sint64", False),
            (4, "c_nationkey", "fixed32", False),
            (5, "segment", "string", True),
            (6, "is_auto", "bool", False),
            (7, "bal", "double", False),
        ]
    )
    blocks = protobuf_blocks(src, sch, rows_per_file=8192)
    return _codec_roundtrip(f, "protobuf", blocks, lambda payload: decode_stream(sch, payload))


@spine
def warc(f: Factor) -> dict:
    # WARC codec spine (round 14): the Common Crawl ingest path of
    # scan_warc_import — record-at-time gzip encode (one member per
    # record, warcinfo + request records interleaved) → parquet store
    # → inflate + strict-framing parse + HTTP-envelope split. Both
    # stages are pure per-file Python over independent WARC files with
    # no exchange; wall-clock must track rows linearly on fixed cores
    # or the "one task per WARC file" claim is wrong.
    from etl_ch_destination_spark.sink.warc import (
        parse_http_response,
        parse_warc,
        split_gzip_members,
        warc_files,
    )

    dw = replicate(f.tables["warc_documents"], f.n, {"doc_id": KEY_STRIDE})

    def decode(payload):
        # block_rows counts response records only
        bodies = []
        for member in split_gzip_members(payload):
            for hdrs, rec in parse_warc(member):
                if hdrs["warc-type"] != "response":
                    continue
                status, _hh, body = parse_http_response(rec)
                if status != 200 or not body:
                    raise ValueError("bad response record")
                bodies.append(body)
        return bodies

    blocks = warc_files(dw, docs_per_file=256, request_every=5)
    return _codec_roundtrip(f, "warc", blocks, decode)


@spine
def kafka(f: Factor) -> dict:
    # Kafka RecordBatch v2 spine (round 14): segment encode (batch
    # headers + CRC32C + zigzag records) → parquet store → strict
    # decode incl. the per-batch CRC pass. Pure per-segment Python, no
    # exchange — linear on fixed cores or the claim is wrong. CRC32C
    # is the interpreter-bound hot loop, exactly like a broker-less
    # tiered-storage consumer.
    from etl_ch_destination_spark.sink.kafka import kafka_segments, parse_segment

    src = _events(f).select(
        F.expr("unix_millis(ts)").alias("ts_ms"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.concat(
            F.col("event_id").cast("string"),
            F.lit("|"),
            (F.col("value").cast("decimal(12,2)") * 100).cast("long").cast("string"),
        )
        .cast("binary")
        .alias("value"),
        F.col("event_type").alias("hdr_src"),
    )
    blocks = kafka_segments(src, records_per_batch=512, batches_per_segment=8)
    return _codec_roundtrip(f, "kafka", blocks, parse_segment)


@spine
def tlog(f: Factor) -> dict:
    # transaction-log replay spine (round 14): the table-log family's
    # scale axis is COMMIT COUNT, not data volume (replay touches only
    # the manifest). Generate a churn history of 200×n commits (each
    # removes one file and adds two — the compaction-debt pattern),
    # measure (a) the relational full replay (scan_table_log's
    # table_log_snapshot) and (b) the checkpoint read path (parquet
    # state + empty tail). Replay must stay ~linear in commits; the
    # checkpoint read must stay FLAT — the reason the checkpoint path
    # exists. Commits are fsynced put-if-absent writes, so the log
    # starts empty and the staging wall is reported (not gated).
    from etl_ch_destination_spark.sink.table_log import (
        add_action,
        commit,
        table_log_snapshot,
    )

    spark = f.spark
    n_commits = 200 * f.n
    root = os.path.join(STAGING, f"tlog_{f.n}x")
    tlog_dir = os.path.join(root, "_log")
    shutil.rmtree(root, ignore_errors=True)

    t0 = time.monotonic()
    for v in range(n_commits):
        # churn: retire one of the previous commit's files
        retire = [{"remove": {"path": f"f-{2 * (v - 1)}", "dataChange": True}}] if v else []
        commit(tlog_dir, v, [
            *retire,
            add_action(f"f-{2 * v}", 1000, v * 10, v * 10 + 9),
            add_action(f"f-{2 * v + 1}", 1000, v * 10, v * 10 + 9),
        ])
    row = {
        "tlog_commits": n_commits,
        "tlog_stage": round(time.monotonic() - t0, 3),
        "tlog_replay": time_action(
            lambda: drain(table_log_snapshot(spark, tlog_dir, n_commits - 1)), f.runs
        ),
    }
    # checkpoint path: collapse the live set once, then read it
    ckpt_path = os.path.join(root, "ckpt.parquet")
    table_log_snapshot(spark, tlog_dir, n_commits - 1).write.mode("overwrite").parquet(ckpt_path)
    row["tlog_ckpt_read"] = time_action(lambda: drain(spark.read.parquet(ckpt_path)), f.runs)
    return row


def run(
    spark: SparkSession,
    sf_dir: str,
    factors: Iterable[int],
    runs: int,
    only: Iterable[str],
) -> dict[str, dict]:
    """Run the spines named in ``only`` (all when empty) at every
    factor; returns ``{str(factor): row}``."""
    only = set(only)
    tables = load_tables(spark, sf_dir)
    results: dict[str, dict] = {}
    for n in factors:
        f = Factor(spark, n, runs, tables)
        row: dict = {"rows": _lineitem(f).count()}
        for name, fn in SPINES.items():
            if not only or name in only:
                row.update(fn(f))
        results[str(n)] = row
        spark.catalog.clearCache()
        # Reclaim the factor's durable staging tables: standalone
        # stage() calls (pagerank/triangle/BFS seams) write one parquet
        # table each under stress_staging and nothing deletes them —
        # a 1/10/30/100 sweep otherwise accumulates tens of GB and the
        # 100× factor's shuffle then hits ENOSPC (observed round 10).
        shutil.rmtree(STAGING, ignore_errors=True)
    return results


def gate_recall(results: dict, factors: list[int]) -> list[str]:
    # recall gate at the LARGEST factor: the approximate paths must
    # hold ≥0.9 of exact top-k as the corpus scales, or the scale
    # story is only a latency story. LSH holds the 0.9 product floor;
    # IVF's floor on THIS fixture is 0.5 (isotropic vectors — see the
    # recall comment in the sim spine).
    top = str(max(factors))
    if "ann_recall_lsh" not in results[top]:
        return []
    return [
        f"{key}@{top}x = {results[top][key]} < {floor}"
        for key, floor in (
            ("ann_recall_lsh", 0.9),
            ("ann_recall_ivf", 0.5),
            ("ann_recall_ivfpq", 0.5),
        )
        if results[top][key] < floor
    ]


# LINEARITY gate (VERDICT r5 #5 / r6 #3): between the two largest
# measured factors, wall-clock for every scan/shuffle-bound spine
# must grow at most linearly in rows × a 2.0 noise/log-term slack
# (log factors: sort depth, CC round count, AQE re-planning). A
# quadratic term (all-pairs join, unpartitioned sort) shows up as
# ratio >> factor-ratio long before the slack matters: e.g. 30→100×
# all-pairs costs 11× rows-ratio. Keys faster than 2 s at the top
# factor are scheduling-overhead-bound — slope is meaningless
# there, so they are exempt (recorded, not gated).
GATED = (
    "q1", "join_agg", "neardup", "vocab_score", "ngram_novelty",
    "line_dedup", "substr_dedup", "cc", "pagerank", "triangles",
    "semdedup", "sim_exact", "sim_lsh", "bfs", "tri_approx",
    "sim_ivfpq", "linkpred", "stream_fbatch", "stream_session",
    "asof", "tdigest", "avro_encode", "avro_decode",
    "protobuf_encode", "protobuf_decode", "warc_encode", "warc_decode",
    "kafka_encode", "kafka_decode", "tlog_replay",
)


def gate_linearity(results: dict, factors: list[int]) -> list[str]:
    if len(factors) < 2:
        return []
    f1, f2 = sorted(factors)[-2:]
    rows_ratio = f2 / f1
    fails = []
    for key in GATED:
        a, b = results[str(f1)].get(key), results[str(f2)].get(key)
        if a is None or b is None or b < 2.0 or a <= 0:
            continue
        ratio = b / a
        if ratio > rows_ratio * 2.0:
            fails.append(
                f"super-linear {key}: {f1}x={a}s -> {f2}x={b}s "
                f"(ratio {ratio:.1f} > {rows_ratio:.1f}x rows * 2.0 slack)"
            )
    return fails


def _round_growth(
    results: dict, factors: list[int], key: str, slack: int, claim: str
) -> list[str]:
    if len(factors) < 2 or key not in results[str(max(factors))]:
        return []
    f1, f2 = sorted(factors)[-2:]
    r1, r2 = results[str(f1)].get(key), results[str(f2)].get(key)
    if r1 is not None and r2 is not None and r2 > r1 + slack:
        return [f"{key} grew {r1} -> {r2} between {f1}x and {f2}x ({claim})"]
    return []


def gate_cc_rounds(results: dict, factors: list[int]) -> list[str]:
    # CC round-count gate: rounds must grow LOGARITHMICALLLY — allow
    # +3 rounds over the smaller factor, never proportionally.
    return _round_growth(results, factors, "cc_rounds", 3, "log-round claim violated")


def gate_streaming(results: dict, factors: list[int]) -> list[str]:
    # streaming state-store gate (VERDICT r11 #6): disjoint user spaces
    # scale session state EXACTLY N×; a deviation means the state store
    # is either leaking (never evicting merged sessions) or dropping
    # state. And ingest throughput must not collapse: events/s at the
    # top factor holds ≥1/3 of the smaller factor's (the linearity
    # gate's slack, expressed in the spine's native unit).
    if len(factors) < 2 or "stream_state_rows" not in results[str(max(factors))]:
        return []
    f1, f2 = sorted(factors)[-2:]
    rows_ratio = f2 / f1
    fails = []
    s1 = results[str(f1)].get("stream_state_rows")
    s2 = results[str(f2)].get("stream_state_rows")
    if s1 and s2 and not (0.8 * rows_ratio <= s2 / s1 <= 1.2 * rows_ratio):
        fails.append(
            f"stream state rows grew {s1} -> {s2} between {f1}x "
            f"and {f2}x (expected ~{rows_ratio:.0f}x: disjoint user "
            "spaces scale session state exactly with rows)"
        )
    e1 = results[str(f1)].get("stream_fbatch_evps")
    e2 = results[str(f2)].get("stream_fbatch_evps")
    if e1 and e2 and e2 < e1 / 3:
        fails.append(
            f"stream ingest collapsed: {e1} ev/s at {f1}x -> "
            f"{e2} ev/s at {f2}x (floor: 1/3)"
        )
    # r15 per-epoch amortization gate (VERDICT r14 #10): the
    # micro-batch COUNT is constant across factors, so the ~0.4 s
    # trigger/commit fixed cost per epoch must AMORTIZE as batches
    # grow — throughput must RISE with batch size, not merely
    # avoid collapse. Measured this round: 43.9k -> 279k -> 663k
    # ev/s at 1x/10x/30x (epoch wall 0.38 -> 0.60 -> 0.75 s for
    # 30x the rows); the 1.5 floor sits 1.6-4x under the measured
    # consecutive-factor ratios.
    if e1 and e2 and f2 / f1 >= 3 and e2 < e1 * 1.5:
        fails.append(
            f"per-epoch overhead not amortizing: {e1} ev/s at "
            f"{f1}x -> {e2} ev/s at {f2}x (constant epoch count "
            "should make throughput rise >=1.5x per >=3x rows)"
        )
    return fails


def gate_tdigest(results: dict, factors: list[int]) -> list[str]:
    # t-digest state-bound gate (round 13): the sketch's state must
    # stay ≤ |groups| × |shards| × δ AT EVERY factor — state growing
    # with rows instead of shards would mean the bucket rule leaks.
    fails = []
    for f in factors:
        c = results[str(f)].get("tdigest_centroids")
        bound = results[str(f)].get("tdigest_centroid_bound")
        if c is not None and bound is not None and c > bound:
            fails.append(
                f"tdigest centroids {c} > bound {bound} at {f}x "
                "(sketch state must scale with shards, never rows)"
            )
    return fails


def gate_bfs_rounds(results: dict, factors: list[int]) -> list[str]:
    # BFS round-count gate: disjoint copies of the same fixture graph
    # have a copy-invariant multi-source diameter, so the convergence
    # loop must pay the SAME round count at every factor (±1 for
    # source-set mod-shift variation across copies). Proportional
    # growth means the loop is re-reaching already-settled nodes.
    return _round_growth(
        results, factors, "bfs_rounds", 1, "copy-invariant diameter claim violated"
    )


GATES = (
    gate_recall,
    gate_linearity,
    gate_cc_rounds,
    gate_streaming,
    gate_tdigest,
    gate_bfs_rounds,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,10,30")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--only",
        default="",
        help="comma list of spine names to run (default: all): " + ",".join(SPINES),
    )
    args = ap.parse_args()
    factors = [int(x) for x in args.factors.split(",")]
    only = {s for s in args.only.split(",") if s}
    unknown = sorted(only - SPINES.keys())
    if unknown:
        ap.error(f"unknown spine(s) {','.join(unknown)}; valid names: {','.join(SPINES)}")

    # Production-parity heap for the stress JVM (overridable via env): the
    # bench/test default of 8g across local[32] is 0.25 GB/core — 16-30×
    # below any real executor config (4-8 GB/core) — and at 30× replicated
    # input the triangle spine's repeated runs exhaust the execution pool
    # there (UNABLE_TO_ACQUIRE across back-to-back 1.2B-row wedge
    # exchanges) even though every single run fits. 16g = 0.5 GB/core is
    # still conservative vs production; timings are not memory-bound below
    # that, so recorded medians stay comparable across rounds. Set here,
    # not at import, so importing this module never changes the heap a
    # later session in the same process asks for.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from etl_ch_destination_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    results = run(spark, SF_DIR, factors, args.runs, only)
    print(json.dumps(results))
    rc = 0
    for gate in GATES:
        for msg in gate(results, factors):
            print(f"FAIL {msg}", file=sys.stderr)
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())

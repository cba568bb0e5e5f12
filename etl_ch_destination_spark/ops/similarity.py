"""Vector similarity search over embedding columns (SURVEY §2.10
`llm_sim_topk_exact` / `llm_sim_topk_ann`; north-star "similarity
search").

Three paths, mirroring how a 100 TB corpus is actually served:

- **Exact brute force** (`brute_force_topk`): the oracle-checkable
  baseline. The query set is broadcast (it is small by construction);
  candidates stream through a single narrow stage — no shuffle of the
  big side, no cartesian state. Cost is O(|queries| · |candidates|)
  FLOPs, which is the honest lower bound for exact search; use it for
  query sets, not all-pairs.
- **ANN via random-hyperplane LSH** (`ann_topk`): the scale path.
  BucketedRandomProjectionLSH hashes vectors into buckets; the join
  only scores collision candidates, pruning most of the corpus.
  Seeded → deterministic; recall vs the exact path is asserted ≥0.9
  in tests/test_llm.py.
- **ANN via IVF** (`ivf_topk`): seeded-KMeans inverted lists with
  n_probe pruning — the partition-layout-friendly alternative; with
  n_probe == n_clusters it provably equals brute force (tested).

All arithmetic is JVM-side codegen (`zip_with`/`aggregate` fold in
DOUBLE — float products are exact in double, and the sequential fold
order matches DuckDB's `list_sum(list_transform(...))`, keeping the
exact path hash-matchable).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_ch_destination_spark.ops.staging import stage


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in DOUBLE (deterministic cross-engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = a·b / (|a|·|b|); IEEE-deterministic given equal folds."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k most similar
    candidate vectors (self-matches excluded).

    Returns (query_id, neighbor_id, cos_sim, rank). The query side is
    broadcast — candidates never shuffle, the scan stays one stage.
    Norms are hoisted to per-row columns (computed once per vector, not
    three dot products per pair) — the same `dot/(qn*cn)` float ops in
    the same order, so the result stays bit-identical to `cosine()`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    # The broadcast join keeps the candidate side's partitioning, and a
    # small parquet fixture is ONE split — spread the O(|q|·|c|) scoring
    # stage across all cores (at real scale the scan already has many
    # splits and AQE would coalesce, so this round-robin is a no-op cost).
    n_parts = int(
        candidates.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if c.rdd.getNumPartitions() < n_parts:
        c = c.repartition(n_parts)
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH on L2-normalized
    vectors (Euclidean distance on unit vectors is monotone in cosine:
    d² = 2 − 2·cos). Only bucket-collision pairs are scored — the
    pruning that makes 100 TB feasible. Deterministic under the pinned
    seed. Returns (query_id, neighbor_id, dist, rank).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    def normed(df: DataFrame, out_id: str) -> DataFrame:
        arr = F.col(vec_col)
        unit = F.transform(arr, lambda x: x.cast("double") / l2_norm(arr))
        return df.select(
            F.col(id_col).alias(out_id), array_to_vector(unit).alias("features")
        )

    qn = normed(queries, "query_id")
    cn = normed(candidates, "neighbor_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cn)
    # threshold 2.0 covers the full unit sphere; pruning comes from
    # bucket collisions, not the radius.
    pairs = model.approxSimilarityJoin(cn, qn, 2.0, distCol="dist").select(
        F.col("datasetB.query_id").alias("query_id"),
        F.col("datasetA.neighbor_id").alias("neighbor_id"),
        F.col("dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# HOF-literal argmax up to this K; beyond it the broadcast-join + max
# aggregate regime (identical semantics, codegen-safe at K ∝ n).
SEMDEDUP_HOF_MAX_K = 32
# Above this K the FLAT assignment's n·K scoring term is the dominant
# cost and grows quadratically when K ∝ n (the 100× stress extension
# measured 9.6× wall at 3.33× rows) — switch to the HIERARCHICAL
# two-level assignment: n·(√K + K/√K) = n·2√K scoring. Two-level
# changes which Voronoi cell borderline vectors land in (it probes one
# coarse cell), which is fine for SemDeDup — near-identical vectors
# still co-locate (pytest recall gate) — but it is NOT the flat argmax,
# so the hash-oracled fixture key keeps K=8 (flat) and documents this
# as its cluster-scale path. Crossover measured, not guessed: at K=240
# flat wins (18.7 vs 39.3 s — the hierarchy's extra join stages cost
# more than they save), at K=800 hierarchical wins 66.9 vs 180.6 s.
SEMDEDUP_FLAT_MAX_K = 256


def semdedup_flags(
    emb: DataFrame,
    n_clusters: int = 8,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public literature): cluster the embedding space,
    then flag near-identical pairs WITHIN each cluster only — the rung
    between exact-hash dedup and MinHash that catches paraphrases
    sharing no n-grams. Intra-cluster pairwise work is (n/K)² per
    cluster instead of n² global; K grows with the corpus (K ∝
    n/target_cluster_size in the paper), so per-cluster work stays
    bounded at any scale.

    Determinism (the hash-oracle device): instead of iterative KMeans
    (float mean accumulation is partial-agg-order dependent →
    cross-engine ulp drift can flip assignments), clusters are the
    VORONOI CELLS of K deterministic seed vectors — the K lowest ids.
    Assignment = argmax cosine over seeds (ties → lowest seed id);
    every cosine is the repo's sequential double fold, so DuckDB
    replays the exact assignment bit for bit. Zero-iteration KMeans
    trades cluster quality for reproducibility; the planted-duplicate
    recall gate in tests/test_llm.py shows true near-duplicates
    (cos ≥ 0.99) still co-locate, which is the property SemDeDup needs.

    Plan shape, two regimes on the same argmax semantics:
    - K ≤ 32 (fixture scale): seed collect is K rows (the ivf_topk
      centroid precedent); assignment is a MAP-SIDE
      higher-order-function argmax over K literal seed structs — no
      shuffle, no Python; the only exchange is the intra-cluster
      self-equi-join on cluster_id.
    - K > 32 (cluster scale, K ∝ n): literal expressions would blow
      codegen, so the seeds become a BROADCAST frame and the argmax a
      max(struct(cs, −seed)) hash aggregate on vec_id — the n×K
      expansion collapses MAP-SIDE in the partial aggregate, so the
      exchange still carries one row per vector. Both regimes compute
      the identical (cs, tie) maximum, so results are regime-invariant
      (pytest-pinned in tests/test_llm.py).

    Returns (vec_id, cluster_id, is_dup): is_dup = 1 iff a same-cluster
    partner with a SMALLER id has cosine ≥ tau (keep-lowest-id rule).
    """
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    if n_clusters <= SEMDEDUP_HOF_MAX_K:
        seeds = (
            emb.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_clusters)
            .collect()
        )
        choices = F.array(
            *[
                F.struct(
                    (
                        dot(
                            F.col("__v"),
                            F.array(*[F.lit(float(x)) for x in row[vec_col]]),
                        )
                        / (
                            F.col("__n")
                            * l2_norm(
                                F.array(*[F.lit(float(x)) for x in row[vec_col]])
                            )
                        )
                    ).alias("cs"),
                    F.lit(-int(row[id_col])).cast("long").alias("negid"),
                )
                for row in seeds
            ]
        )
        asg = base.withColumn(
            "cluster_id",
            (-F.array_max(choices).getField("negid")).cast("bigint"),
        )
    else:
        seed_df = (
            emb.select(
                F.col(id_col).alias("__sid"),
                F.col(vec_col).alias("__sv"),
                l2_norm(F.col(vec_col)).alias("__sn"),
            )
            .orderBy("__sid")
            .limit(n_clusters)
        )

        def argmax_against(
            frame: DataFrame,
            cand: DataFrame,
            join_on=None,
            out: str = "cluster_id",
        ) -> DataFrame:
            """Per-vec_id argmax cosine against a broadcast candidate
            frame (__sid, __sv, __sn [, extra key]); the n×|cand|
            expansion collapses map-side in the partial max(struct)."""
            j = (
                frame.join(F.broadcast(cand), join_on)
                if join_on is not None
                else frame.join(F.broadcast(cand))
            )
            scored = j.select(
                "vec_id",
                "__v",
                "__n",
                F.struct(
                    (
                        dot(F.col("__v"), F.col("__sv"))
                        / (F.col("__n") * F.col("__sn"))
                    ).alias("cs"),
                    (-F.col("__sid")).cast("long").alias("negid"),
                ).alias("__choice"),
            )
            best = scored.groupBy("vec_id").agg(
                F.max("__choice").alias("__best"),
                F.first("__v").alias("__v"),
                F.first("__n").alias("__n"),
            )
            return best.select(
                "vec_id",
                "__v",
                "__n",
                (-F.col("__best.negid")).cast("bigint").alias(out),
            )

        if n_clusters <= SEMDEDUP_FLAT_MAX_K:
            asg = argmax_against(base, seed_df)
        else:
            # hierarchical two-level assignment: n·(c + K/c) scoring
            # with c = isqrt(K) coarse probes — the O(n·√K) form that
            # stays linear when K ∝ n (flat n·K measured 9.6× wall at
            # 3.33× rows in the 100× stress extension).
            c = max(2, math.isqrt(n_clusters))
            coarse = seed_df.limit(c)
            # every fine seed gets its own coarse cell (K×c tiny join)
            fine_as_vec = seed_df.select(
                F.col("__sid").alias("vec_id"),
                F.col("__sv").alias("__v"),
                F.col("__sn").alias("__n"),
            )
            fine_coarse = argmax_against(
                fine_as_vec, coarse, out="__coarse"
            ).select(F.col("vec_id").alias("__fid"), "__coarse")
            fine_df = seed_df.join(
                F.broadcast(fine_coarse),
                seed_df["__sid"] == fine_coarse["__fid"],
            ).select("__sid", "__sv", "__sn", F.col("__coarse").alias("__fc"))
            # vectors: coarse probe, then fine argmax within the cell
            v_coarse = argmax_against(base, coarse, out="__vc")
            asg = argmax_against(
                v_coarse,
                fine_df,
                join_on=F.col("__vc") == F.col("__fc"),
            )
    # r14: asg feeds three consumers (both self-join sides + the final
    # flag join); only Exchange nodes are plan-deduplicated, so the
    # scan + HOF argmax chain re-ran per consumer — stage it once.
    asg = stage(asg, eager=False, label="semdedup-asg")
    a = asg.select(
        F.col("vec_id").alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        F.col("cluster_id").alias("__ca"),
    )
    b = asg.select(
        F.col("vec_id").alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.col("cluster_id").alias("__cb"),
    )
    dups = (
        a.join(b, (F.col("__ca") == F.col("__cb")) & (F.col("__ida") < F.col("__idb")))
        .filter(
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            >= tau
        )
        .select(F.col("__idb").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        asg.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("__dup"), F.lit(0)).cast("bigint").alias("is_dup"),
        )
    )


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_cap: int = 4096,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partition pruning — the
    other classic ANN layout next to LSH (ann_topk).

    Build: a seeded numpy Lloyd k-means over a ``train_cap``-bounded
    deterministic driver sample (the lowest-id candidates — a TopK
    plan, never a full collect; training the coarse quantizer on a
    bounded sample is the published IVF practice, and the same device
    ivfpq_topk adopted in r14); every candidate is assigned to its
    nearest centroid (the "inverted list") by a MAP-SIDE codegen argmin
    over the ``n_clusters`` literal centroids — no Spark ML fit jobs
    (~2 distributed jobs per Lloyd round + a transform pass, which
    dominated this key's runtime), no Python boundary, and the
    centroids are a pure function of (sample, seed) — independent of
    partitioning and staging mode, strictly stronger determinism than
    the ML per-partition random init (r15, VERDICT r14 #5; guide §1.2).
    Query: rank centroids per query, score ONLY candidates in the
    closest ``n_probe`` lists — at scale each query touches
    ~n_probe/n_clusters of the corpus instead of all of it, and the
    per-list layout maps directly onto partition pruning (cluster id
    as a partition column).

    With ``n_probe == n_clusters`` this degrades to exact brute force —
    the equality is asserted in tests/test_llm.py, alongside a recall
    floor for the pruned form. Deterministic under the pinned seed.
    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    import numpy as np

    from etl_ch_destination_spark.ops import pq

    n_parts = int(
        candidates.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    cn = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    if cn.rdd.getNumPartitions() < n_parts:
        # one-split fixture scan → parallelize the probe-scoring stage
        cn = cn.repartition(n_parts)
    # two consumers (the bounded training TopK + the assignment/scoring
    # pass) — materialize the norm projection once, as ivfpq does
    cn = stage(cn, eager=False, label="ivf-corpus")
    train_rows = (
        cn.select("neighbor_id", "__cv").orderBy("neighbor_id").limit(train_cap).collect()
    )
    train_x = np.asarray(
        [[float(v) for v in r["__cv"]] for r in train_rows], dtype=np.float64
    )
    cents = pq.coarse_kmeans(train_x, k=n_clusters, seed=seed, iters=8)

    # map-side nearest-centroid assignment over literal centroids: the
    # semdedup HOF-argmax device (K is small by contract here), with
    # squared-L2 distances and ties to the LOWEST cluster id — numpy
    # argmin's tie rule, preserved by max(struct(-d2, -id)).
    def sq_dist(centroid: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("__cv"),
                F.array(*[F.lit(float(x)) for x in centroid]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    choices = F.array(
        *[
            F.struct(
                (-sq_dist(list(c))).alias("negd"),
                F.lit(-i).cast("int").alias("negid"),
            )
            for i, c in enumerate(cents)
        ]
    )
    assigned = cn.select(
        "neighbor_id",
        "__cv",
        "__cn",
        (-F.array_max(choices).getField("negid")).cast("int").alias("__cluster"),
    )

    cent_df = candidates.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "__cluster int, __centroid array<double>",
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    # rank centroids per query by euclidean distance, keep n_probe
    qc = q.join(F.broadcast(cent_df)).withColumn(
        "__cdist",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("__qv"),
                    F.col("__centroid"),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("__cdist"), F.asc("__cluster"))
    probes = (
        qc.withColumn("__crk", F.row_number().over(wq))
        .filter(F.col("__crk") <= n_probe)
        .select("query_id", "__qv", "__qn", "__cluster")
    )

    scored = (
        assigned.join(F.broadcast(probes), "__cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    n_probe: int = 6,
    m_sub: int = 16,
    ks: int = 16,
    refine: int = 8,
    train_cap: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via IVF-PQ (Jégou, Douze & Schmid, PAMI 2011)
    — the standard billion-vector regime between ivf_topk's inverted
    lists and brute-force re-rank (VERDICT r10 #7).

    Build: vectors are unit-normalized (L2 ranking on unit vectors ≡
    cosine ranking: |a−b|² = 2−2·cos); a seeded coarse k-means assigns
    each to an inverted list; the RESIDUAL to its centroid is product-
    quantized into ``m_sub`` codes against per-subspace ``ks``-entry
    codebooks. BOTH quantizers train on the same ``train_cap``-bounded
    deterministic driver sample (training on a bounded sample is the
    published IVF-PQ practice — centroids and codebooks are a few KB
    broadcast, while the encoded corpus is m_sub bytes per vector
    instead of 4·d); assign + residual + encode then run as ONE
    Arrow-batched numpy pass over the corpus (r14: this replaced a
    distributed Spark ML fit + JVM assign/residual chain that
    dominated the key's runtime).

    Query: rank centroids, keep ``n_probe`` lists (the IVF prune);
    per (query, probed list) an ADC lookup table scores every encoded
    candidate in the list with m_sub table lookups; the per-query
    ``refine``·k shortlist by ADC distance is re-ranked EXACTLY
    against the original vectors — so reported cos_sim values are
    exact, only the candidate set is approximate.

    Scale: encoding is one Arrow-batched map over the corpus; ADC is
    a grouped applyInPandas shuffled on (query, list) — exactly the
    probed-list access pattern an IVF-PQ serving layout has, with
    per-group work |list|·m_sub lookups, never d-dim FLOPs; the only
    d-dim exact math is |queries|·refine·k re-rank rows. Deterministic
    under the pinned seed ALONE (r14): the numpy Lloyd quantizer is a
    pure function of the sorted bounded sample, so partitioning and
    staging mode (localCheckpoint vs durable parquet) cannot move the
    coarse lists — strictly stronger than the old Spark ML fit, whose
    per-partition random init could legitimately differ across modes.
    The recall gate (≥0.8 vs exact) remains the contract (rows-only
    driver key; gates in tests/test_llm.py and
    tests/test_round12_keys.py).

    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    import pandas as pd

    import numpy as np

    from etl_ch_destination_spark.ops import pq

    spark = candidates.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def unit(col: Column) -> Column:
        nrm = l2_norm(col)
        return F.transform(col, lambda x: x.cast("double") / nrm)

    cn = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        unit(F.col(vec_col)).alias("__cu"),
    )
    if cn.rdd.getNumPartitions() < n_parts:
        cn = cn.repartition(n_parts)
    # Materialize the norm/unit/vector projection ONCE and let every
    # consumer — the iterating KMeans fit, the bounded training
    # collect, the encode map, and the exact re-rank join — read the
    # stored blocks (BENCH r11 drift: the r11 post-train unpersist
    # traded the cache for TWO lazy recomputes of this chain, 5.09 →
    # 6.73 s at sf0.1). stage() is a localCheckpoint locally — blocks
    # are GC'd with the frame, so repeated calls don't accumulate
    # session-lifetime storage the way the pre-r11 persist did — and a
    # durable parquet staging table under spark.etl_ch.staging.dir at
    # cluster scale, where caching a 100 TB corpus projection in
    # executor memory is impossible but a one-write staging table is
    # the standard IVF-PQ build layout. Durable-mode hygiene: the
    # table is TERMINAL for the returned lazy frame (the re-rank join
    # reads it at action time), so it is deliberately NOT deleted here
    # — per StagingPipeline semantics, terminal tables fall to the
    # job's teardown or a staging-dir TTL policy; each ivfpq_topk call
    # in durable mode leaves exactly one uuid-suffixed corpus-
    # projection table behind (ADVICE r12), so long-running sessions
    # must run under a TTL'd staging dir.
    cn = stage(cn, label="ivfpq-corpus")
    # Coarse-quantizer quality barely moves end recall here — the probe
    # set covers n_probe/n_clusters of the mass and the shortlist is
    # re-ranked exactly. r14: the quantizer TRAINS on the same bounded,
    # deterministic driver-side sample the PQ codebooks already use
    # (lowest ids — a TopK plan, never a full collect; training the
    # coarse centroids on a sample is the published IVF practice), via
    # the seeded numpy Lloyd in ops/pq.py. This replaces the Spark ML
    # KMeans fit — ~2 distributed jobs per Lloyd round + a transform
    # pass to cluster 2k..few-M unit vectors — and makes the centroids
    # a pure function of (sample, seed), independent of partitioning
    # and staging mode (the ML random init sampled per partition).
    # Measured at sf0.1: 8.0 → ~3 s per cold bench run, recall gate
    # (≥0.8 vs exact) unchanged.
    train_rows = (
        cn.select("neighbor_id", "__cu")
        .orderBy("neighbor_id")
        .limit(train_cap)
        .collect()
    )
    train_u = np.asarray([r["__cu"] for r in train_rows], dtype=np.float64)
    cents = pq.coarse_kmeans(train_u, k=n_clusters, seed=seed, iters=8)
    train_res = train_u - cents[pq.coarse_assign(train_u, cents)]
    books = pq.train_codebooks(train_res, m_sub=m_sub, ks=ks, seed=seed)
    books_b = spark.sparkContext.broadcast(books)
    cents_b = spark.sparkContext.broadcast(cents)

    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "__cluster int, __centroid array<double>",
    )

    # One Arrow-batched pass does coarse ASSIGN + residual + PQ encode
    # (the assign used to be a JVM transform + broadcast-join +
    # zip_with residual chain feeding a second Python pass).
    def enc(batches):
        for b in batches:
            if not len(b):
                continue
            u = np.asarray(list(b["__cu"]), dtype=np.float64)
            cl = pq.coarse_assign(u, cents_b.value)
            codes = pq.encode(u - cents_b.value[cl], books_b.value)
            yield pd.DataFrame(
                {
                    "neighbor_id": b["neighbor_id"],
                    "__cluster": cl.astype("int32"),
                    "codes": list(codes.tolist()),
                }
            )

    encoded = cn.select("neighbor_id", "__cu").mapInPandas(
        enc, "neighbor_id long, __cluster int, codes array<int>"
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        unit(F.col(vec_col)).alias("__qu"),
    )
    qc = q.join(F.broadcast(cent_df)).withColumn(
        "__cdist",
        F.aggregate(
            F.zip_with("__qu", "__centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("__cdist"), F.asc("__cluster"))
    probes = (
        qc.withColumn("__crk", F.row_number().over(wq))
        .filter(F.col("__crk") <= n_probe)
        .withColumn("__qres", F.zip_with("__qu", "__centroid", lambda a, b: a - b))
        .select("query_id", "__cluster", "__qres")
    )

    # r15 (VERDICT r14 #6, guide §4.1 "fewer, larger groups"): the ADC
    # stage used to group by (query_id, __cluster) — |queries|·n_probe
    # ≈ 1200 Python dispatches of a few hundred rows each, so per-group
    # fixed cost (worker dispatch, Arrow framing, LUT allocation)
    # dominated the m_sub table lookups. Grouping by (__cluster,
    # query-bucket) instead packs ~`qb` queries per group — dispatch
    # count drops ~qb×, while the bucket count keeps the group grain at
    # or above the session parallelism so no task starves. Inside a
    # group the per-query LUT build + scoring runs in the same order on
    # the same rows, so every adc_dist is bit-identical and the
    # shortlist/re-rank below are unchanged.
    def adc(pdf):
        import numpy as _np

        parts = []
        for _qid, g in pdf.groupby("query_id", sort=False):
            lut = pq.adc_lut(
                _np.asarray(g["__qres"].iloc[0], dtype=_np.float64),
                books_b.value,
            )
            codes = _np.asarray(list(g["codes"]), dtype=_np.int32)
            parts.append(
                pd.DataFrame(
                    {
                        "query_id": g["query_id"],
                        "neighbor_id": g["neighbor_id"],
                        "adc_dist": pq.adc_scores(codes, lut),
                    }
                )
            )
        return pd.concat(parts) if parts else pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "adc_dist": pd.Series(dtype="float64"),
            }
        )

    # bucket width: enough (cluster, bucket) cells to fill the session
    # parallelism twice over; scales with conf, not a local constant
    qb = max(1, (2 * n_parts + n_clusters - 1) // n_clusters)
    cand = (
        encoded.join(F.broadcast(probes), "__cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__qb", F.pmod(F.col("query_id"), F.lit(qb)).cast("int"))
        .groupBy("__cluster", "__qb")
        .applyInPandas(adc, "query_id long, neighbor_id long, adc_dist double")
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    shortlist = (
        cand.withColumn("__srk", F.row_number().over(ws))
        .filter(F.col("__srk") <= refine * k)
        .select("query_id", "neighbor_id")
    )

    # Exact re-rank of the shortlist on the ORIGINAL vectors — the same
    # dot/(qn*cn) fold as brute_force_topk, so overlapping pairs carry
    # bit-identical cos_sim values.
    rescored = (
        shortlist.join(cn.select("neighbor_id", "__cv", "__cn"), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__qv", "__qn")), "query_id")
        .withColumn(
            "cos_sim",
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )

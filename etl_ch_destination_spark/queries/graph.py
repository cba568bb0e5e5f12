"""Graph operators over relational edge sets (SURVEY §2.13, round-8
batch): triangle counting and degree statistics on the part
co-purchase graph (parts appearing in the same order — the classic
market-basket graph, ~116k edges / 2000 nodes at sf0.01).

Both keys are pure DataFrame compositions (no Python workers) and
fully hash-oracled: the algorithms are deterministic functions of the
edge set, so DuckDB replays them with the same joins.

Scale notes (100 TB): triangle enumeration uses the degree-ordered
orientation of Suri & Vassilvitskii, "Counting Triangles and the Curse
of the Last Reducer" (WWW 2011, public literature): orienting every
edge from its lower-(degree, id) endpoint to the higher one bounds
per-node out-degree by O(sqrt(m)), so the wedge self-join produces
O(m^1.5) candidates TOTAL instead of sum(d^2) concentrated on hub
nodes — the skew-killer that makes web-scale triangle counting
feasible. Every step is an equi-join or hash aggregate on node keys;
nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ch_destination_spark.catalog import load_table
from etl_ch_destination_spark.ops.components import connected_components
from etl_ch_destination_spark.ops.staging import stage
from etl_ch_destination_spark.registry import query

TRI_TOP = 100  # per-node triangle report size


# Shared edge-set definition: distinct undirected part pairs co-occurring
# in an order, canonical u < v. The SQL and DataFrame forms must stay in
# lockstep — both keys and their oracles derive from this.
_SQL_EDGES = """
    lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY node)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`copurchase_edges` of the fixture lineitem table."""
    return copurchase_edges(load_table(spark, sf_dir, "lineitem"))


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v) between parts that
    share an order, from any frame with ``l_orderkey``/``l_partkey``
    (the graph keys pass the fixture table, tools/stress.py its
    replicated copies).

    r14 optimization (guide §2.4 "remove shuffles outright"): the old
    form deduped (order, part), SELF-JOINED on the order key and
    deduped the pairs — one distinct exchange + one join exchange +
    one final distinct. Orders are bounded (TPC-H: ≤ 7 lines/order),
    so the within-order pair expansion fits in one aggregate instead:
    collect the order's distinct part SET (one exchange on
    l_orderkey, partial-agg map-side), sort it, and emit all u < v
    pairs map-side from the sorted array (≤ C(7,2) = 21 structs per
    order), then the same final distinct. Same edge set — per-order
    distinct pairs with u < v are exactly what the self-join emitted —
    with the join and one full exchange of the (o, p) projection
    gone. The SQL oracle keeps the self-join form; both compute the
    identical set."""
    lp = lineitem.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    sets = lp.groupBy("o").agg(F.sort_array(F.collect_set("p")).alias("ps"))
    return (
        sets.select(F.explode(_center_pair_structs("ps", ("u", "v"))).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )


def closed_triangles(
    e: DataFrame, stage_input: bool = True
) -> tuple[DataFrame, DataFrame]:
    """The degree-ordered enumeration's CLOSED-WEDGE frame: returns
    ``(tri, deg)`` where ``tri`` holds one row (s, a, b) per triangle
    (each triangle exactly once — see graph_triangle_count) and ``deg``
    is the shared degree frame. Split out of ``triangle_counts`` (r15,
    guide §1.2 "don't compute things you throw away") so consumers
    that only need the GLOBAL count — graph_triangle_approx's DOULION
    estimate — can aggregate ``tri`` directly instead of paying the
    per-node corner explode + hash agg + degree join and then summing
    it back down to one number."""
    # the edge frame feeds the degree aggregate AND the orientation
    # join — materialize it once instead of rebuilding the co-purchase
    # self-join per consumer
    if stage_input:
        e = stage(e, eager=False, label="tri-edges")
    deg = _degrees(e)
    du, dv = deg.alias("du"), deg.alias("dv")
    ed = (
        e.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select("u", "v", F.col("du.d").alias("d_u"), F.col("dv.d").alias("d_v"))
    )
    u_first = (F.col("d_u") < F.col("d_v")) | (
        (F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("d_v")).otherwise(F.col("d_u")).alias("dt"),
    )
    o = stage(o, eager=False, label="tri-oriented")  # read by o1/o2/closer
    # r14: pin the wedge self-join's parallelism. AQE coalesces the
    # join's input exchanges by INPUT bytes (~20 MB of oriented edges
    # → 1-2 post-shuffle partitions), but this join's cost is its
    # OUTPUT — O(m^1.5) wedge candidates — which input-sized
    # coalescing cannot see, so the whole enumeration collapsed onto
    # one or two tasks. An explicit repartition by the join key at the
    # session's shuffle parallelism is preserved by AQE, both join
    # sides reuse the one exchange, and the width scales with the
    # session conf (cluster-sized in production), not a local constant.
    n_parts = int(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ow = o.repartition(n_parts, "s")
    o1, o2, oc = ow.alias("o1"), ow.alias("o2"), o.alias("oc")
    wedges = (
        o1.join(o2, F.col("o1.s") == F.col("o2.s"))
        .filter(
            (F.col("o1.dt") < F.col("o2.dt"))
            | ((F.col("o1.dt") == F.col("o2.dt")) & (F.col("o1.t") < F.col("o2.t")))
        )
        .select(
            F.col("o1.s").alias("s"),
            F.col("o1.t").alias("a"),
            F.col("o2.t").alias("b"),
        )
    )
    tri = wedges.join(
        oc, (F.col("a") == F.col("oc.s")) & (F.col("b") == F.col("oc.t"))
    ).select(wedges["s"], wedges["a"], wedges["b"])
    return tri, deg


def triangle_counts(e: DataFrame, stage_input: bool = True) -> DataFrame:
    """Per-node triangle participation over a canonical undirected edge
    frame ``(u, v)`` with u < v, distinct — the degree-ordered
    enumeration described in graph_triangle_count's docstring, exposed
    on an arbitrary edge set so tests can pin it on known graphs.
    Returns ``(node, d, n_triangles)``; nodes in no triangle are
    absent. Callers that already staged ``e`` pass
    ``stage_input=False`` — re-staging an already-checkpointed frame
    is a wasted write+read cycle of the full edge list."""
    tri, deg = closed_triangles(e, stage_input=stage_input)
    corners = tri.select(
        F.explode(F.array(F.col("s"), F.col("a"), F.col("b"))).alias("node")
    )
    cnt = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    return cnt.join(deg, "node").select("node", "d", "n_triangles")


@query(
    "graph_triangle_count",
    f"""
    WITH {_SQL_EDGES},
    o AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN dv.d ELSE du.d END AS dt
      FROM e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    w AS (
      SELECT o1.s AS s, o1.t AS a, o2.t AS b
      FROM o o1 JOIN o o2 ON o1.s = o2.s
      WHERE (o1.dt < o2.dt) OR (o1.dt = o2.dt AND o1.t < o2.t)
    ),
    tri AS (SELECT w.s, w.a, w.b FROM w JOIN o ON o.s = w.a AND o.t = w.b),
    corners AS (SELECT unnest([s, a, b]) AS node FROM tri),
    cnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY node)
    SELECT cnt.node AS part_key, deg.d AS degree, cnt.n_triangles
    FROM cnt JOIN deg ON deg.node = cnt.node
    ORDER BY cnt.n_triangles DESC, part_key
    LIMIT {TRI_TOP}
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation counts on the part co-purchase
    graph — top {TRI_TOP} parts by triangle count (graph clustering /
    community-density signal; each triangle counts once at each of its
    three corners).

    Algorithm: degree-ordered triangle enumeration (Suri &
    Vassilvitskii, WWW 2011). Each undirected edge is oriented from
    its lower-(degree, node) endpoint to the higher one — a total
    order, so every triangle is enumerated EXACTLY once as a wedge
    (s→a, s→b with a before b in the same order) closed by the
    oriented edge a→b. The orientation bounds out-degrees by
    O(sqrt(m)), so the wedge join emits O(m^1.5) candidates total and
    no reducer sees a hub's full neighborhood — the published fix for
    the "curse of the last reducer" at web scale.

    Plan: edge build (one self-join on l_orderkey), degree aggregate,
    two broadcast-or-shuffle equi-joins to orient, the wedge self-join
    on the source node, and the closing equi-join on (a, b) — all
    hash joins on int keys, no Python, no driver collection. The
    oriented edge set feeds three consumers, so it is staged once
    (localCheckpoint locally, durable staging table at cluster scale).
    """
    cnt = triangle_counts(_copurchase_edges(spark, sf_dir))
    return (
        cnt.select(
            F.col("node").alias("part_key"),
            F.col("d").alias("degree"),
            "n_triangles",
        )
        .orderBy(F.desc("n_triangles"), "part_key")
        .limit(TRI_TOP)
    )


TRI_SAMPLE_DEN = 4        # DOULION keep-probability p = 1/TRI_SAMPLE_DEN
_TRI_U28 = 268435456      # 2^28 — md5-prefix uniform denominator


def doulion_sampled_edges(e: DataFrame, den: int = TRI_SAMPLE_DEN) -> DataFrame:
    """DOULION edge sparsifier: keep each edge with probability 1/den,
    decided by md5-prefix hash thresholding (the sample_weighted_hash
    recipe) — deterministic per edge, independent of partitioning and
    rerun, and replayable verbatim by the DuckDB oracle."""
    u28 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("u").cast("string"),
                    F.lit(":"),
                    F.col("v").cast("string"),
                    F.lit(":tri1"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    return e.filter(u28 * den < _TRI_U28)


@query(
    "graph_triangle_approx",
    f"""
    WITH {_SQL_EDGES},
    es AS MATERIALIZED (
      SELECT u, v FROM e
      WHERE CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || ':' ||
                                     CAST(v AS VARCHAR) || ':tri1'),
                                 1, 7)) AS BIGINT)
            * {TRI_SAMPLE_DEN} < {_TRI_U28}
    ),
    degs AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
             FROM (SELECT u AS node FROM es UNION ALL SELECT v FROM es)
             GROUP BY node),
    o AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND es.u < es.v)
                  THEN es.u ELSE es.v END AS s,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND es.u < es.v)
                  THEN es.v ELSE es.u END AS t,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND es.u < es.v)
                  THEN dv.d ELSE du.d END AS dt
      FROM es
      JOIN degs du ON du.node = es.u
      JOIN degs dv ON dv.node = es.v
    ),
    w AS (
      SELECT o1.s AS s, o1.t AS a, o2.t AS b
      FROM o o1 JOIN o o2 ON o1.s = o2.s
      WHERE (o1.dt < o2.dt) OR (o1.dt = o2.dt AND o1.t < o2.t)
    ),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM w JOIN o ON o.s = w.a AND o.t = w.b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM es) AS sampled_edges,
           t AS sampled_triangles,
           CAST(t * {TRI_SAMPLE_DEN ** 3} AS BIGINT) AS est_triangles
    FROM tri
    """,
)
def graph_triangle_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate GLOBAL triangle count via DOULION edge sparsification
    (Tsourakakis, Kang, Miller & Faloutsos, KDD 2009, public
    literature) — the declared scale path next to the exact
    graph_triangle_count (VERDICT r10 #5): keep each edge with
    probability p, count triangles exactly on the sparsified graph,
    scale by 1/p³ (an unbiased estimator; relative std ≈
    sqrt((1/p³−1)/T) ≈ 1.2% at sf0.01's T=413,718 with p=1/4).

    The coin flips are md5-prefix hash thresholds, NOT rng — the draw
    is a deterministic pure function of the edge, so the estimate
    replays bit-for-bit across engines and the key carries a full
    hash oracle (the estimator itself is integer: count × 4³).
    tests/test_graph.py additionally gates the estimate within ±20%
    of the exact count at two SFs.

    Scale: the exact path's wedge exchange is O(m^1.5) and becomes
    disk-bound at 100× (stated in BASELINE.md); sampling at p scales
    that exchange by ~p^1.5 (8× fewer wedge candidates at p=1/4,
    64× at p=1/16 — p is the knob) while the sparsification itself is
    a zero-shuffle map-side filter composed into the edge build.
    """
    es = stage(
        doulion_sampled_edges(_copurchase_edges(spark, sf_dir)),
        eager=False,
        label="tri-sampled-edges",
    )
    tri, _deg = closed_triangles(es, stage_input=False)
    edges_row = es.agg(
        F.count(F.lit(1)).cast("bigint").alias("sampled_edges"),
        F.lit(1).alias("__k"),
    )
    # r15 (guide §1.2): the estimate needs ONE number — the closed-
    # wedge count — which the oracle also computes as COUNT(*) over
    # the closure join. The old form ran the full per-node pipeline
    # (corner explode ×3, per-node hash agg, degree join) and then
    # summed the per-node counts back down via sum div 3; counting the
    # triangle frame directly is the identical integer (each triangle
    # contributed exactly 3 corners) with three operators fewer.
    tri_row = tri.agg(
        F.count(F.lit(1)).cast("bigint").alias("sampled_triangles"),
        F.lit(1).alias("__k"),
    )
    return edges_row.join(tri_row, "__k").select(
        "sampled_edges",
        "sampled_triangles",
        (F.col("sampled_triangles") * TRI_SAMPLE_DEN**3)
        .cast("bigint")
        .alias("est_triangles"),
    )


@query(
    "graph_degree_stats",
    f"""
    WITH {_SQL_EDGES}
    SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS degree_log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(d) AS min_degree,
           MAX(d) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS sum_degree
    FROM deg
    GROUP BY 1
    ORDER BY 1
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph as a
    log2-bucket histogram (the standard first look at a graph's skew —
    a power-law tail here is what motivates the degree-ordered
    orientation in graph_triangle_count). Bucket = floor(log2(degree))
    computed EXACTLY as bitlength(d) − 1 (binary-string length — the
    repo-wide whole-bit identity; float log2 could misround at powers
    of two). One aggregate over the degree table; nothing leaves the
    executors."""
    deg = _degrees(_copurchase_edges(spark, sf_dir))
    bucket = (F.length(F.conv(F.col("d"), 10, 2)) - F.lit(1)).cast("bigint")
    return (
        deg.groupBy(bucket.alias("degree_log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
            F.sum("d").cast("bigint").alias("sum_degree"),
        )
        .orderBy("degree_log2_bucket")
    )


PR_SCALE = 1_000_000  # rank fixed-point: parts-per-million
PR_ITERS = 3          # unrolled power iterations (oracle mirrors each)


@query(
    "graph_pagerank",
    f"""
    WITH {_SQL_EDGES},
    e2 AS (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v AS src, u AS dst FROM e),
    ed AS (SELECT e2.src, e2.dst, deg.d
           FROM e2 JOIN deg ON deg.node = e2.src),
    r1 AS (
      SELECT dst AS node,
             150000 + 85 * SUM({PR_SCALE} // d) // 100 AS rank
      FROM ed GROUP BY dst
    ),
    r2 AS (
      SELECT ed.dst AS node,
             150000 + 85 * SUM(r1.rank // ed.d) // 100 AS rank
      FROM ed JOIN r1 ON r1.node = ed.src GROUP BY ed.dst
    ),
    r3 AS (
      SELECT ed.dst AS node,
             150000 + 85 * SUM(r2.rank // ed.d) // 100 AS rank
      FROM ed JOIN r2 ON r2.node = ed.src GROUP BY ed.dst
    )
    SELECT r3.node, CAST(r3.rank AS BIGINT) AS rank_ppm,
           CAST(deg.d AS BIGINT) AS degree
    FROM r3 JOIN deg ON deg.node = r3.node
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph ({PR_ITERS} power
    iterations, damping 0.85 — Page et al. 1999, public literature) in
    DETERMINISTIC FIXED-POINT arithmetic: ranks live as integer
    parts-per-million, each node's outgoing contribution is
    rank div degree (integer floor division) and the update is
    0.15·SCALE + (85·Σcontrib) div 100 — every operation is exact
    int64, so the result is independent of partial-aggregation order
    and hash-matches the oracle's identical integer recurrence (a
    float PageRank cannot: parallel double sums drift). Every node has
    degree ≥ 1 by construction (it exists because an edge does), so
    there is no dangling-mass term.

    Plan: the degree-annotated directed edge list is STAGED once and
    reused by all iterations; each iteration is one equi-join
    (edges × ranks on src) plus one hash agg on dst — the textbook
    O(|E|)-per-round message-passing shape. Iterations are a fixed
    unrolled constant, lineage stays O(1) via the staging seam (the
    ops/components.py discipline). At 100 TB: partition edges by src
    once, and every round reuses that layout."""
    return pagerank_ranks(_copurchase_edges(spark, sf_dir))


def pagerank_ranks(e: DataFrame) -> DataFrame:
    """graph_pagerank's integer recurrence over an arbitrary canonical
    undirected edge frame ``(u, v)`` (u < v, distinct) so tests can pin
    it on known graphs. Returns ``(node, rank_ppm, degree)``.

    The per-iteration edges⋈ranks join carries a SHUFFLE_HASH hint:
    the rank frame is |nodes| and GROWS with the graph, so letting the
    optimizer broadcast it works at fixture scale and then blows the
    driver at 30× (the stress spine caught exactly that) — the hint
    pins the scale-safe plan at every size."""
    e2 = e.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg = _degrees(e).select(
        F.col("node").alias("src"), F.col("d").alias("d")
    )
    # r14: pin the staged edge frame's layout to hash(src) at the
    # session's shuffle width BEFORE checkpointing — AQE otherwise
    # finalizes the build join at a coalesced input-sized width, and
    # every subsequent iteration both runs that narrow and re-plans its
    # rank exchange to match. localCheckpoint preserves the output
    # partitioning, so each iteration's src-join reuses it and only the
    # (small) rank side shuffles.
    n_parts = int(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ed = stage(
        e2.join(deg.hint("shuffle_hash"), "src").repartition(n_parts, "src"),
        label="pagerank_edges",
    )
    rank = None
    for _ in range(PR_ITERS):
        if rank is None:
            contrib = ed.select(
                "dst", F.expr(f"{PR_SCALE} div d").alias("c")
            )
        else:
            r_src = rank.select(
                F.col("node").alias("src"), F.col("rank").alias("r_in")
            )
            contrib = ed.join(r_src.hint("shuffle_hash"), "src").select(
                "dst", F.expr("r_in div d").alias("c")
            )
        rank = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(150000)
                + F.expr("85 * sum(c) div 100")
            ).alias("rank")
        )
    degn = _degrees(e)
    return rank.join(degn.hint("shuffle_hash"), "node").select(
        "node",
        F.col("rank").cast("bigint").alias("rank_ppm"),
        F.col("d").cast("bigint").alias("degree"),
    )


KCORE_K = 64      # core threshold: survivors need >= K surviving neighbors
KCORE_ROUNDS = 8  # unrolled peeling rounds (fixed point asserted in pytest)


def _kcore_sql() -> str:
    """Unrolled k-core peeling oracle, generated from the same
    constants the Spark loop uses: round i recomputes degrees over the
    surviving edge set and keeps nodes with degree >= K."""
    parts = [
        f"WITH {_SQL_EDGES}, e0 AS MATERIALIZED (SELECT u, v FROM e)"
    ]
    # MATERIALIZED is load-bearing: each round references the previous
    # edge set three times (two degree-union arms + the peel join);
    # un-materialized CTEs inline, so an 8-round unroll would expand to
    # 3^8 scans of the base table (DuckDB ran out of file handles).
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e{i - 1}
            UNION ALL SELECT v AS node FROM e{i - 1})
      GROUP BY node
    ),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
    e{i} AS MATERIALIZED (
      SELECT p.u, p.v FROM e{i - 1} p
      JOIN k{i} a ON a.node = p.u
      JOIN k{i} b ON b.node = p.v
    )"""
        )
    parts.append(
        f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS node FROM e{KCORE_ROUNDS}
          UNION ALL SELECT v AS node FROM e{KCORE_ROUNDS})
    GROUP BY node
    """
    )
    return "".join(parts)


@query("graph_kcore", _kcore_sql())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k = KCORE_K = 64 — sized to bite at every
    fixture SF: each graph's bottom degree decile peels and cascades
    to a fixed point within 2 rounds, leaving a non-trivial core) of
    the part co-purchase
    graph — the standard dense-subgraph extractor (Seidman 1983,
    public literature; spam/boilerplate cluster mining in web-graph
    curation): repeatedly delete nodes with fewer than k surviving
    neighbors until stable. The k-core is UNIQUE, so the result is
    order-independent; both engines run the IDENTICAL {KCORE_ROUNDS}
    unrolled peeling rounds (the oracle is generated from the same
    constants), and the pytest gate asserts the fixture reaches the
    fixed point well inside that budget — so the answer is the true
    core, not a truncation artifact.

    Plan: per round, one degree aggregate over the surviving edges +
    two semi-join-shaped keep filters; the edge frame is STAGED every
    round (the ops/components.py lineage discipline — plan size stays
    O(1) in rounds, superseded stages reclaimed by the pipeline at
    cluster scale). Peeling is O(|E|) per round and the round count is
    small in practice (cores shrink geometrically)."""
    return kcore_subgraph(_copurchase_edges(spark, sf_dir))


def kcore_subgraph(e: DataFrame) -> DataFrame:
    """graph_kcore's peeling loop over an arbitrary canonical
    undirected edge frame — exposed for known-graph tests. Returns the
    surviving (node, core_degree) frame after KCORE_ROUNDS rounds."""
    cur = stage(e, label="kcore_e0")
    for i in range(KCORE_ROUNDS):
        deg = _degrees(cur).filter(F.col("d") >= KCORE_K).select("node")
        keep_u = deg.select(F.col("node").alias("u"))
        keep_v = deg.select(F.col("node").alias("v"))
        cur = stage(
            cur.join(keep_u, "u", "left_semi").join(keep_v, "v", "left_semi"),
            label=f"kcore_e{i + 1}",
        )
    return (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )


BFS_SOURCE_MOD = 97   # sources = graph nodes with node % 97 == 0
BFS_MAX_ROUNDS = 12   # convergence-loop safety cap (VERDICT r10 #6)


def _bfs_sql() -> str:
    """Multi-source BFS oracle unrolled to the SAME safety cap as the
    Spark convergence loop: round i extends every reached node's
    distance to its neighbors (+1) and keeps the per-node MIN —
    min-combining is order-independent, so the unrolled relational
    form equals level-synchronous BFS exactly. Rounds past the
    fixpoint are identities (t_i = t_{{i-1}}), so the cap-unrolled
    oracle equals the convergence-terminated Spark result EXACTLY
    regardless of when Spark stops: both compute t_cap, Spark just
    skips the no-op rounds. MATERIALIZED for the kcore reason (each
    ti is read twice; inlined CTEs would compound to 2^R scans)."""
    parts = [
        f"""WITH {_SQL_EDGES},
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e
    ),
    t0 AS MATERIALIZED (
      SELECT node, CAST(0 AS BIGINT) AS dist
      FROM deg WHERE node % {BFS_SOURCE_MOD} = 0
    )"""
    ]
    for i in range(1, BFS_MAX_ROUNDS + 1):
        parts.append(
            f""",
    t{i} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM t{i - 1}
        UNION ALL
        SELECT a.dst AS node, t.dist + 1 AS dist
        FROM t{i - 1} t JOIN adj a ON a.src = t.node
      ) GROUP BY node
    )"""
        )
    parts.append(f"\n    SELECT node, dist FROM t{BFS_MAX_ROUNDS}")
    return "".join(parts)


@query("graph_bfs_distance", _bfs_sql())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the part co-purchase graph —
    "how many co-purchase hops from the nearest seed part" (the
    reachability / influence-radius primitive behind recommendation
    spread and contamination-blast-radius queries). Sources are the
    graph nodes ≡ 0 (mod {BFS_SOURCE_MOD}).

    CONVERGENCE-TERMINATED (VERDICT r10 #6): rounds run until no
    node's distance improves — detected by a monotone (reached-count,
    sum-of-dists) pair collected as ONE driver row per round (count
    only grows, dists only shrink, so the pair is stationary iff the
    round was a fixpoint) — with a {BFS_MAX_ROUNDS}-round safety cap.
    A fixed unroll silently under-reaches once graph diameter grows
    past the budget at scale; the loop instead pays exactly
    diameter+1 rounds (3 at sf0.001-0.1, measured) wherever the
    diameter lands. Unreached nodes are absent (their distance
    exceeds the cap, stated rather than faked as NULL).

    Determinism: the per-round combine is MIN over int64 distances —
    associative, commutative, partial-agg-order independent — so the
    distributed form equals sequential BFS exactly, and the
    cap-unrolled oracle equals the early-stopped loop exactly
    (post-fixpoint rounds are identities).

    Plan: per round one equi-join (reached ⋈ adjacency on the source
    node) + one min-combine hash agg; the reached frame is STAGED per
    round (ops/components.py lineage discipline — O(1) plan size in
    rounds, superseded rounds reclaimable at cluster scale). Frontier
    work is bounded by |E| per round; at 100 TB this is the textbook
    Pregel-as-joins shape, all JVM-side; the 1-row convergence probe
    per round is the same device as ops/components.py's CC counter."""
    return bfs_distances(_copurchase_edges(spark, sf_dir))


def bfs_distances(e: DataFrame, max_rounds: int = BFS_MAX_ROUNDS) -> DataFrame:
    """graph_bfs_distance's convergence loop over an arbitrary
    canonical undirected edge frame — exposed for known-graph tests.
    See ``bfs_distances_with_rounds`` for the round counter."""
    return bfs_distances_with_rounds(e, max_rounds)[0]


def bfs_distances_with_rounds(
    e: DataFrame, max_rounds: int = BFS_MAX_ROUNDS
) -> tuple[DataFrame, int]:
    """Level-synchronous multi-source BFS run to FIXPOINT (or the
    ``max_rounds`` safety cap). Returns ``(distances, rounds_run)``
    where ``rounds_run`` counts executed propagation rounds including
    the final no-change round that proved convergence.

    The convergence probe collects one (count, sum) row per round:
    per-node distances are monotone non-increasing and the reached
    set monotone growing under min-combine, so (COUNT(*), SUM(dist))
    is stationary between rounds iff the distance map is."""
    e = stage(e, eager=False, label="bfs_edges")
    adj = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    # r14: checkpoint the adjacency pre-partitioned on the per-round
    # join key at session width (see pagerank_edges note) — rounds then
    # reuse the layout instead of re-exchanging the edge side narrow.
    n_parts = int(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    adj = stage(
        adj.repartition(n_parts, "src"), eager=False, label="bfs_adj"
    )
    dist = (
        _degrees(e)
        .filter(F.col("node") % BFS_SOURCE_MOD == 0)
        .select("node", F.lit(0).cast("bigint").alias("dist"))
    )
    dist = stage(dist, eager=False, label="bfs_t0")

    def probe(df: DataFrame) -> tuple[int, int]:
        row = df.select(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        return (row["n"] or 0, row["s"] or 0)

    prev = probe(dist)
    rounds = 0
    for i in range(1, max_rounds + 1):
        prop = dist.join(adj, dist["node"] == adj["src"]).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = stage(
            dist.unionAll(prop)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist")),
            eager=False,
            label=f"bfs_t{i}",
        )
        rounds = i
        cur = probe(dist)
        if cur == prev:
            break
        prev = cur
    return dist, rounds


LP_CENTER_CAP = 64   # common-neighbor centers capped at this degree
LP_MIN_CN = 2        # candidate pairs need >= 2 common neighbors
LP_TOP = 200         # report size


def _linkpred_sql() -> str:
    return f"""
    WITH {_SQL_EDGES},
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e
    ),
    centers AS MATERIALIZED (
      SELECT a.src AS center, a.dst AS leaf
      FROM adj a JOIN deg d ON d.node = a.src AND d.d <= {LP_CENTER_CAP}
    ),
    cn AS (
      SELECT x.leaf AS a, y.leaf AS b,
             CAST(COUNT(*) AS BIGINT) AS common_n
      FROM centers x JOIN centers y
        ON x.center = y.center AND x.leaf < y.leaf
      GROUP BY x.leaf, y.leaf
      HAVING COUNT(*) >= {LP_MIN_CN}
    ),
    nonedge AS (
      SELECT cn.a, cn.b, cn.common_n
      FROM cn ANTI JOIN e ON e.u = cn.a AND e.v = cn.b
    )
    SELECT a, b, common_n,
           da.d AS deg_a, db.d AS deg_b,
           CAST(common_n AS DOUBLE) / (da.d + db.d - common_n) AS jaccard
    FROM nonedge
    JOIN deg da ON da.node = a
    JOIN deg db ON db.node = b
    ORDER BY common_n DESC, a, b
    LIMIT {LP_TOP}
    """


@query("graph_jaccard_linkpred", _linkpred_sql())
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor / Jaccard scoring
    (Liben-Nowell & Kleinberg 2003, public literature) on the part
    co-purchase graph: the top {LP_TOP} NON-edges ranked by shared
    neighborhood — "parts that should co-sell but don't yet", the
    recommendation-candidate primitive.

    Scale discipline: common-neighbor enumeration goes through CENTER
    nodes, and a hub center contributes deg² candidate pairs — so
    centers are capped at degree ≤ {LP_CENTER_CAP} (the
    document-frequency-cap device from llm_dedup_ngram_jaccard; hubs
    connect everything and carry no signal, exactly like boilerplate
    shingles). The Jaccard denominator uses FULL degrees, so the score
    is the standard cn/(|Γa|+|Γb|−cn) over capped-center common
    neighbors — deterministic, and the ONE float division sits on
    exact int64 counts. Existing edges are removed by an anti-join.

    Plan: adjacency + degree derive from the staged edge set; the
    candidate pairs expand MAP-SIDE from each center's sorted leaf set
    (bounded fan-out cap² per center — r15, one aggregate instead of a
    center-keyed self-join); then one (a, b) hash agg, one anti-join,
    two degree joins, and a bounded top-{LP_TOP}."""
    return jaccard_linkpred_scores(_copurchase_edges(spark, sf_dir))


def _center_pair_structs(
    col: str, names: tuple[str, str] = ("a", "b")
) -> "F.Column":
    """All a < b pairs of a SORTED array column, as structs — the
    map-side expansion shared by the common-neighbor keys (r15) and
    the co-purchase edge build (r14): per-group pair fan-out is
    bounded (≤ C(cap, 2)), so one collect_set aggregate replaces a
    self-equi-join's two exchange+sort sides outright (guide §2.4).
    ``names`` are the struct's two field names."""
    return F.flatten(
        F.transform(
            col,
            lambda x, i: F.transform(
                F.slice(
                    col,
                    i + F.lit(2),
                    F.greatest(F.size(col) - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(x.alias(names[0]), y.alias(names[1])),
            ),
        )
    )


def jaccard_linkpred_scores(e: DataFrame) -> DataFrame:
    """graph_jaccard_linkpred's scoring pipeline over an arbitrary
    canonical undirected edge frame — exposed for known-graph tests
    and the tools/stress.py linkpred spine.

    r15 (guide §2.4): the common-neighbor enumeration used to
    self-join the (center, leaf) frame on the center key; centers are
    degree-capped (≤ LP_CENTER_CAP), so the per-center pair expansion
    is bounded and runs MAP-SIDE from each center's sorted leaf set —
    one groupBy(center) aggregate instead of the self-join's two
    exchange+sort sides. Identical (a < b, common-center count) pairs;
    the SQL oracle keeps the self-join form and the hash parity pins
    the equivalence (same-session A/B at sf0.1: 3.79 → 3.38 s)."""
    e = stage(e, eager=False, label="lp_edges")
    deg = _degrees(e)
    adj = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    small = deg.filter(F.col("d") <= LP_CENTER_CAP).select(
        F.col("node").alias("center")
    )
    centers = adj.join(small, adj["src"] == small["center"]).select(
        "center", F.col("dst").alias("leaf")
    )
    sets = centers.groupBy("center").agg(
        F.sort_array(F.collect_set("leaf")).alias("ls")
    )
    cn = (
        sets.select(F.explode(_center_pair_structs("ls")).alias("e"))
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_n"))
        .filter(F.col("common_n") >= LP_MIN_CN)
    )
    nonedge = cn.join(
        e, (cn["a"] == e["u"]) & (cn["b"] == e["v"]), "left_anti"
    )
    da = deg.select(F.col("node").alias("__na"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("__nb"), F.col("d").alias("deg_b"))
    scored = (
        nonedge.join(da, F.col("a") == F.col("__na"))
        .join(db, F.col("b") == F.col("__nb"))
        .select(
            "a",
            "b",
            "common_n",
            "deg_a",
            "deg_b",
            (
                F.col("common_n").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_n"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("common_n"), "a", "b").limit(LP_TOP)


CC_ORACLE_ROUNDS = 12  # min-label flooding unroll cap for the oracle


def _cc_label_sql(rounds: int = CC_ORACLE_ROUNDS) -> str:
    """Min-label-flooding oracle for connected components, unrolled to
    ``rounds`` hops: round i takes every node's min over its own label
    and its neighbors' labels. The component label (= the component's
    minimum node id) is a pure function of the graph, so once the
    flood reaches fixpoint further rounds are identities — the
    cap-unrolled form equals the true labels whenever the cap covers
    the graph's eccentricity from each component minimum.
    tests/test_round11_keys.py proves the cap is PAST fixpoint on the
    fixture (rounds-1 ≡ rounds), so the oracle is the true labeling,
    not a truncation artifact. MATERIALIZED for the kcore reason."""
    parts = [
        f"""WITH {_SQL_EDGES},
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e
    ),
    t0 AS MATERIALIZED (SELECT node, node AS lbl FROM deg)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    t{i} AS MATERIALIZED (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM t{i - 1}
        UNION ALL
        SELECT a.dst AS node, t.lbl FROM t{i - 1} t JOIN adj a ON a.src = t.node
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"\n    SELECT node, CAST(lbl AS BIGINT) AS component FROM t{rounds}"
    )
    return "".join(parts)


@query("graph_connected_components", _cc_label_sql())
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph: every node
    labeled with the MINIMUM node id of its component — the canonical,
    partition-independent component id (the same contract
    ops/components.py serves for dedup clustering, here exposed as a
    first-class graph key over the relational edge set).

    Spark side runs alternating/fused large-star–small-star
    (Kiveris et al., SoCC 2014, public literature): O(log n) rounds of
    two grouped shuffles each, converging to component minima
    REGARDLESS of graph diameter — the device that makes CC safe on
    chain-shaped graphs where min-label flooding would pay diameter
    rounds. The oracle floods min labels for {CC_ORACLE_ROUNDS} hops —
    a different algorithm arriving at the same unique labeling (both
    compute the component minimum), which is exactly what makes the
    label hash-comparable across engines; the pytest cap gate proves
    the flood reaches fixpoint inside the unroll on every fixture SF.

    Plan: per star round one groupBy(node).min + a re-join over the
    staged edge set (lineage truncated per round); convergence is a
    fingerprint counter, no row data driver-side. At 100 TB this is
    the published MapReduce-CC shape — round count log in the largest
    component, per-round cost two exchanges of the edge list."""
    return connected_components(
        _copurchase_edges(spark, sf_dir), src="u", dst="v"
    ).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


@query(
    "graph_clustering_coeff",
    f"""
    WITH {_SQL_EDGES},
    o AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN dv.d ELSE du.d END AS dt
      FROM e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    w AS (
      SELECT o1.s AS s, o1.t AS a, o2.t AS b
      FROM o o1 JOIN o o2 ON o1.s = o2.s
      WHERE (o1.dt < o2.dt) OR (o1.dt = o2.dt AND o1.t < o2.t)
    ),
    tri AS (SELECT w.s, w.a, w.b FROM w JOIN o ON o.s = w.a AND o.t = w.b),
    corners AS (SELECT unnest([s, a, b]) AS node FROM tri),
    cnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY node)
    SELECT deg.node AS part_key,
           deg.d AS degree,
           CAST(COALESCE(cnt.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(2 * COALESCE(cnt.n_triangles, 0) AS DOUBLE)
             / (deg.d * (deg.d - 1)) AS clustering
    FROM deg LEFT JOIN cnt ON cnt.node = deg.node
    WHERE deg.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (Watts & Strogatz 1998, public
    literature) per node of the part co-purchase graph:
    c(v) = 2·T(v) / (d(v)·(d(v)−1)) for every node with degree ≥ 2,
    where T(v) is the node's triangle participation — the standard
    community-density / recommendation-neighborhood-cohesion signal
    next to the raw triangle counts.

    Determinism: T and d are exact int64 (the degree-ordered
    enumeration of graph_triangle_count); the ONE float operation is
    the final IEEE division of 2T by d(d−1) — both int64-exact and far
    below 2^53, so both engines compute the identical double and the
    key carries a full hash oracle. Nodes outside any triangle get
    c = 0 via the left join (absent, not faked, from triangle_counts).

    Plan: the edge set is staged ONCE and feeds both the degree
    aggregate and the triangle enumeration (the O(m^1.5) wedge bound —
    see graph_triangle_count's scale story); the coefficient is a
    broadcast-or-shuffle left join of two node-keyed aggregates.
    Nothing here adds exchange cost beyond the triangle spine the
    stress harness already gates at 1/10/30×."""
    e = stage(
        _copurchase_edges(spark, sf_dir), eager=False, label="clcoef-edges"
    )
    deg = _degrees(e)
    tri = triangle_counts(e, stage_input=False).select("node", "n_triangles")
    nt = F.coalesce(F.col("n_triangles"), F.lit(0))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("d").alias("degree"),
            nt.cast("bigint").alias("n_triangles"),
            (
                (nt * 2).cast("double")
                / (F.col("d") * (F.col("d") - F.lit(1)))
            ).alias("clustering"),
        )
    )


# Adamic-Adar weight table: w(d) = round(1e12 / ln d) for the capped
# center degrees, precomputed ONCE here so both engines consume the
# same exact integer literals — neither engine evaluates ln() at query
# time (libm rounding is not bit-identical across engines; a pinned
# integer table is — the MSS_C z-constant device, vectorized).
import math as _math

AA_SCALE = 10**12
AA_W = {d: int(round(AA_SCALE / _math.log(d)))
        for d in range(2, LP_CENTER_CAP + 1)}


def _adamic_adar_sql() -> str:
    values = ", ".join(f"({d}, {w})" for d, w in sorted(AA_W.items()))
    return f"""
    WITH {_SQL_EDGES},
    aa_w(wd, w) AS (SELECT * FROM (VALUES {values})),
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e
    ),
    centers AS MATERIALIZED (
      SELECT a.src AS center, a.dst AS leaf, aa_w.w AS w
      FROM adj a
      JOIN deg d ON d.node = a.src AND d.d <= {LP_CENTER_CAP}
      JOIN aa_w ON aa_w.wd = d.d
    ),
    cn AS (
      SELECT x.leaf AS a, y.leaf AS b,
             CAST(COUNT(*) AS BIGINT) AS common_n,
             CAST(SUM(x.w) AS BIGINT) AS aa_micro
      FROM centers x JOIN centers y
        ON x.center = y.center AND x.leaf < y.leaf
      GROUP BY x.leaf, y.leaf
      HAVING COUNT(*) >= {LP_MIN_CN}
    ),
    nonedge AS (
      SELECT cn.a, cn.b, cn.common_n, cn.aa_micro
      FROM cn ANTI JOIN e ON e.u = cn.a AND e.v = cn.b
    )
    SELECT a, b, common_n, aa_micro,
           CAST(aa_micro AS DOUBLE) / {AA_SCALE} AS adamic_adar
    FROM nonedge
    ORDER BY aa_micro DESC, a, b
    LIMIT {LP_TOP}
    """


@query("graph_adamic_adar", _adamic_adar_sql())
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, public
    literature) on the part co-purchase graph — the OTHER standard
    common-neighbor score next to graph_jaccard_linkpred, with the
    opposite philosophy: instead of normalizing by the CANDIDATES'
    degrees, each common neighbor z contributes 1/ln(deg z), so rare
    shared neighbors dominate and ubiquitous ones are discounted —
    the difference between "both bought with the same niche adapter"
    and "both bought with batteries".

    Determinism: a float Σ 1/ln(d) is parallel-summation
    order-sensitive AND libm-dependent — unhashable across engines.
    The weights are instead a PINNED integer table
    w(d) = round(10¹²/ln d), d ≤ {LP_CENTER_CAP}, computed once at
    module import and inlined into both plans as literals; the score
    accumulates in exact int64 micro-units and pays ONE final IEEE
    division for presentation. Quantization error is 5e-13 per term —
    invisible at score scale, and the ORDERING is pinned on the
    integer column itself.

    Plan: identical shape and skew discipline to
    graph_jaccard_linkpred (capped centers bound the pair fan-out at
    cap²; the weight table rides the center join as a broadcast
    literal dim); one (a,b) hash agg, the existing-edge anti-join,
    and a bounded top-{LP_TOP}."""
    e = stage(_copurchase_edges(spark, sf_dir), eager=False, label="aa_edges")
    deg = _degrees(e)
    w_dim = F.broadcast(
        e.sparkSession.createDataFrame(
            sorted(AA_W.items()), "wd bigint, w bigint"
        )
    )
    adj = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    small = deg.filter(F.col("d") <= LP_CENTER_CAP)
    centers = (
        adj.join(small, adj["src"] == small["node"])
        .join(w_dim, small["d"] == w_dim["wd"])
        .select(F.col("src").alias("center"), F.col("dst").alias("leaf"), "w")
    )
    # r15: same map-side pair expansion as jaccard_linkpred_scores —
    # the Adamic-Adar weight is a per-CENTER constant, so it rides the
    # collect_set aggregate (min == the single value) and the pair sum
    # Σ w(center) over common centers is unchanged.
    sets = centers.groupBy("center").agg(
        F.sort_array(F.collect_set("leaf")).alias("ls"),
        F.min("w").alias("w"),
    )
    cn = (
        sets.select(F.explode(_center_pair_structs("ls")).alias("e"), "w")
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_n"),
            F.sum("w").cast("bigint").alias("aa_micro"),
        )
        .filter(F.col("common_n") >= LP_MIN_CN)
    )
    nonedge = cn.join(
        e, (cn["a"] == e["u"]) & (cn["b"] == e["v"]), "left_anti"
    )
    return (
        nonedge.select(
            "a", "b", "common_n", "aa_micro",
            (F.col("aa_micro").cast("double") / AA_SCALE).alias("adamic_adar"),
        )
        .orderBy(F.col("aa_micro").desc(), "a", "b")
        .limit(LP_TOP)
    )

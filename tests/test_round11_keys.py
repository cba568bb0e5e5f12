"""Round-11 key gates (VERDICT r10 #5/#6/#7): DOULION approximate
triangle counting, convergence-terminated BFS (covered in
test_round10_keys/test_property updates), IVF-PQ ANN."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import degenerate_events_dir, oracle_rows


def test_triangle_approx_within_20pct_of_exact(spark, sf_dir):
    """DOULION (Tsourakakis et al., KDD'09) with p=1/4 is unbiased with
    relative std ≈ sqrt((1/p³−1)/T) ≈ 2.2% at sf0.001's T=125,968 —
    gate the md5-thresholded deterministic draw at ±20%, nine sigma
    out, so a broken sampler or scaler fails loudly while the exact
    draw stays stable by construction."""
    from etl_ch_destination_spark.queries.graph import (
        TRI_SAMPLE_DEN,
        _copurchase_edges,
        graph_triangle_approx,
        triangle_counts,
    )

    exact = (
        triangle_counts(_copurchase_edges(spark, sf_dir))
        .agg(F.expr("sum(n_triangles) div 3").alias("t"))
        .collect()[0]["t"]
    )
    row = graph_triangle_approx(spark, sf_dir).collect()[0]
    assert row["est_triangles"] == row["sampled_triangles"] * TRI_SAMPLE_DEN**3
    assert exact > 0
    rel_err = abs(row["est_triangles"] - exact) / exact
    assert rel_err <= 0.20, (row["est_triangles"], exact, rel_err)


def test_triangle_approx_sampler_rate_and_determinism(spark, sf_dir):
    """The md5-prefix edge draw keeps ~1/den of edges (binomial, gated
    at ±35% of the expectation for den=4 on ≥8k edges) and is a pure
    function of the edge: re-running yields the IDENTICAL edge set."""
    from etl_ch_destination_spark.queries.graph import (
        TRI_SAMPLE_DEN,
        _copurchase_edges,
        doulion_sampled_edges,
    )

    e = _copurchase_edges(spark, sf_dir)
    n_edges = e.count()
    s1 = {(r["u"], r["v"]) for r in doulion_sampled_edges(e).collect()}
    s2 = {(r["u"], r["v"]) for r in doulion_sampled_edges(e).collect()}
    assert s1 == s2
    expect = n_edges / TRI_SAMPLE_DEN
    assert 0.65 * expect <= len(s1) <= 1.35 * expect, (len(s1), expect)


def _known_edges(spark, pairs):
    return spark.createDataFrame(pairs, "u bigint, v bigint")


def test_cc_key_matches_union_find(spark, sf_dir):
    """graph_connected_components: the star-contraction labels equal a
    sequential union-find over the collected edge set (bounded collect
    — TEST ONLY), with every label the component's minimum node id."""
    from etl_ch_destination_spark.queries.graph import (
        _copurchase_edges,
        graph_connected_components,
    )

    edges = [(r["u"], r["v"]) for r in
             _copurchase_edges(spark, sf_dir).collect()]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expect = {}
    for node in parent:
        expect[node] = find(node)
    got = {r["node"]: r["component"]
           for r in graph_connected_components(spark, sf_dir).collect()}
    assert got == expect


def test_cc_oracle_cap_is_past_fixpoint(sf_dir):
    """The min-label-flooding oracle's unroll cap must be PAST the
    fixture fixpoint: rounds-1 and rounds yield identical labelings,
    so the shipped oracle is the true component labeling rather than a
    truncation artifact."""
    import duckdb

    from etl_ch_destination_spark.queries.graph import (
        CC_ORACLE_ROUNDS,
        _cc_label_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    a = sorted(con.execute(_cc_label_sql(CC_ORACLE_ROUNDS - 1)).fetchall())
    b = sorted(con.execute(_cc_label_sql(CC_ORACLE_ROUNDS)).fetchall())
    assert a == b


def test_clustering_coeff_known_graph(spark):
    """Triangle {1,2,3} plus pendant edge 3-4: c(1)=c(2)=1 (their whole
    neighborhood is connected), c(3)=1/3 (one of three possible pairs),
    node 4 (degree 1) excluded by the d>=2 contract."""
    from etl_ch_destination_spark.ops.staging import stage
    from etl_ch_destination_spark.queries.graph import (
        _degrees,
        triangle_counts,
    )

    e = stage(
        _known_edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)]),
        eager=False, label="clcoef-test",
    )
    deg = _degrees(e)
    tri = triangle_counts(e).select("node", "n_triangles")
    nt = F.coalesce(F.col("n_triangles"), F.lit(0))
    got = {
        r["part_key"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("d").alias("degree"),
            nt.cast("bigint").alias("n_triangles"),
            ((nt * 2).cast("double")
             / (F.col("d") * (F.col("d") - F.lit(1)))).alias("clustering"),
        )
        .collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, 1.0 / 3.0),
    }


def test_clustering_coeff_key_bounds_and_zero_rows(spark, sf_dir):
    """Key-level invariants at fixture scale: every coefficient is in
    [0, 1], triangle-free nodes carry an explicit 0, and the row set
    is exactly the degree>=2 node set."""
    from etl_ch_destination_spark.queries.graph import (
        _copurchase_edges,
        _degrees,
        graph_clustering_coeff,
    )

    rows = graph_clustering_coeff(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["clustering"] <= 1.0
        assert r["degree"] >= 2
        if r["n_triangles"] == 0:
            assert r["clustering"] == 0.0
    n_deg2 = (
        _degrees(_copurchase_edges(spark, sf_dir))
        .filter(F.col("d") >= 2)
        .count()
    )
    assert len(rows) == n_deg2


def test_vocab_growth_monotone_and_totals(spark, sf_dir):
    """Heaps curve invariants: both cumulative series are strictly
    positive and non-decreasing in bucket order; the final point
    equals the corpus totals (all tokens, full distinct vocabulary)."""
    from etl_ch_destination_spark.queries.llm_corpus import llm_vocab_growth

    rows = sorted(
        llm_vocab_growth(spark, sf_dir).collect(), key=lambda r: r["bucket"]
    )
    assert rows
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_tokens"] >= prev["cum_tokens"] > 0
        assert cur["cum_vocab"] >= prev["cum_vocab"] > 0
        assert cur["prefix_docs"] > prev["prefix_docs"]
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    )
    assert rows[-1]["cum_tokens"] == docs.count()
    assert rows[-1]["cum_vocab"] == docs.select("word").distinct().count()


def test_zipf_slope_is_negative_and_sums_consistent(spark, sf_dir):
    """A natural-ish frequency distribution must fit a negative dyadic
    slope; n_terms is the (top-capped) vocabulary size and the five
    integer sums satisfy the Cauchy-Schwarz guard (positive variance
    denominator)."""
    from etl_ch_destination_spark.queries.llm_corpus import (
        ZIPF_TOP_R,
        llm_zipf_slope,
    )

    row = llm_zipf_slope(spark, sf_dir).collect()[0]
    vocab = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.length("text") > 0)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        .count()
    )
    assert row["n_terms"] == min(ZIPF_TOP_R, vocab)
    assert row["n_terms"] * row["sxx"] - row["sx"] * row["sx"] > 0
    assert row["zipf_slope"] < 0.0


def test_footer_stats_match_full_scan(spark, sf_dir):
    """The footer-derived stats must equal a full data scan — the
    soundness invariant stats-based pruning rests on."""
    from etl_ch_destination_spark.queries.sources_sinks import (
        FOOTER_STATS_COLS,
        scan_parquet_footer_stats,
    )

    got = {
        r["column_name"]: (
            r["n_values"], r["n_nulls"], r["min_v"], r["max_v"]
        )
        for r in scan_parquet_footer_stats(spark, sf_dir).collect()
    }
    assert set(got) == set(FOOTER_STATS_COLS)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for col in FOOTER_STATS_COLS:
        exp = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(col).isNull().cast("long")).alias("nulls"),
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
        ).collect()[0]
        assert got[col] == (exp["n"], exp["nulls"], exp["lo"], exp["hi"]), col


def test_soundex_known_vectors(spark):
    """The twelve canonical American-Soundex vectors (NARA standard
    examples incl. the h/w-transparency and head-H/W edge cases:
    Ashcraft=A261, Wright=W623, Honeyman=H555)."""
    from etl_ch_destination_spark.queries.scalars_string import (
        _SDX_FROM,
        _SDX_TO,
    )

    cases = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Wright": "W623", "White": "W300",
        "Whitney": "W350", "Jackson": "J250", "a": "A000",
    }
    df = spark.createDataFrame([(w,) for w in cases], "word string")
    su = F.upper(F.regexp_replace("word", "[^A-Za-z]", ""))
    head = F.substring(su, 1, 1)
    coll = F.translate(F.regexp_replace(su, "[HW]", ""), _SDX_FROM, _SDX_TO)
    for d in "0123456":
        coll = F.regexp_replace(coll, f"{d}+", d)
    df = df.withColumn("__head", head).withColumn("__coll", coll)
    body = F.when(F.col("__head").isin("H", "W"), F.col("__coll")).otherwise(
        F.substring(F.col("__coll"), 2, 1000000)
    )
    got = {
        r["word"]: r["sdx"]
        for r in df.select(
            "word",
            F.concat(
                F.col("__head"),
                F.substring(
                    F.concat(F.regexp_replace(body, "0", ""), F.lit("000")),
                    1, 3,
                ),
            ).alias("sdx"),
        ).collect()
    }
    assert got == cases


def test_soundex_key_shape(spark, sf_dir):
    """Key-level: every part-name word gets a head letter + 3 digits."""
    import re

    from etl_ch_destination_spark.queries.scalars_string import str_soundex

    rows = str_soundex(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert re.fullmatch(r"[A-Z][0-9]{3}", r["soundex"]), r


def test_week_modes_known_dates(spark):
    """MySQL-WEEK()-documented vectors for modes 0/1 (the semantics CH
    toWeek documents) plus ISO week/year on the year-boundary date."""
    from etl_ch_destination_spark.queries.scalars_date import (
        date_week_modes,
    )

    import datetime as dt
    import os
    import tempfile

    rows = [
        (1, dt.datetime(1995, 1, 1)),   # Sunday    -> m0=1, m1=0, iso 52/1994
        (2, dt.datetime(1995, 1, 2)),   # Monday    -> m0=1, m1=1
        (3, dt.datetime(1995, 12, 31)), # Sunday    -> m0=53, m1=52
        (4, dt.datetime(1997, 1, 1)),   # Wednesday -> m0=0, m1=1, iso 1/1997
        (5, dt.datetime(2000, 2, 29)),  # leap      -> m0=9, m1=9
    ]
    tmp = tempfile.mkdtemp(prefix="weekmodes")
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate timestamp"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    got = {
        r["o_orderkey"]: (
            r["week_mode0"], r["week_mode1"], r["iso_week"], r["iso_year"]
        )
        for r in date_week_modes(spark, tmp).collect()
    }
    assert got == {
        1: (1, 0, 52, 1994),
        2: (1, 1, 1, 1995),
        3: (53, 52, 52, 1995),
        4: (0, 1, 1, 1997),
        5: (9, 9, 9, 2000),
    }


def test_two_sample_keys_degenerate_inputs_null_on_both_engines(spark):
    """Round-12 generalization of the ADVICE r11 guard pass: the
    two-sample stats keys (welch/student t, KS) on a fixture with
    zero within-group variance (all values tied per group) must emit
    the SAME row on both engines — NULL statistic, no ANSI
    DIVIDE_BY_ZERO. Groups are purchase/view (the TT_GROUP pair)."""
    import datetime as dt

    from etl_ch_destination_spark.queries.aggregations_ch import (
        agg_student_ttest,
        agg_welch_ttest,
    )

    t0 = dt.datetime(2024, 1, 1)
    tied = degenerate_events_dir(
        [
            (1, t0, 1, "purchase", 3.0, "{}"),
            (2, t0, 2, "purchase", 3.0, "{}"),
            (3, t0, 3, "view", 9.0, "{}"),
            (4, t0, 4, "view", 9.0, "{}"),
        ]
    )
    for key, fn in (("welch_ttest", agg_welch_ttest),
                    ("student_ttest", agg_student_ttest)):
        got = [tuple(r) for r in fn(spark, tied).collect()]
        want = oracle_rows(key, tied)
        assert got == want, (key, got, want)
        assert got[0][-1] is None, (key, got)  # statistic NULL, not Inf


def test_two_sample_keys_negative_rounded_variance_clamped(spark):
    """Round-12 sqrt-clamp proof on a CONSTRUCTED failure: three
    identical huge values (777129422 cents each) make the
    double-space variance term sa2/na − (sa1/na)² round to −128.0
    even though the exact variance is 0 — unclamped, Spark returns
    NaN while DuckDB sqrt() THROWS 'Out of Range'. With the
    GREATEST(0, ·) clamp both engines emit the SAME row: a NULL
    statistic."""
    import datetime as dt

    from etl_ch_destination_spark.queries.aggregations_ch import (
        agg_student_ttest,
        agg_welch_ttest,
    )

    t0 = dt.datetime(2024, 1, 1)
    # cents = 777129422 (inside the keys' DECIMAL(9,0) domain); three
    # identical values round the hi/lo-split variance term to -128.0
    big = 7771294.22
    rows = []
    for i in range(3):
        rows.append((i, t0, i, "purchase", big, "{}"))
    for i in range(3, 6):
        rows.append((i, t0, i, "view", 7.0, "{}"))
    d = degenerate_events_dir(rows)
    for key, fn in (("welch_ttest", agg_welch_ttest),
                    ("student_ttest", agg_student_ttest)):
        got = [tuple(r) for r in fn(spark, d).collect()]
        want = oracle_rows(key, d)
        assert got == want, (key, got, want)
        stat = got[0][-1]
        assert stat is None or stat == stat, (key, got)  # never NaN

"""Semantic gates for the ClickHouse aggregate signatures
(queries/aggregations_ch.py): uniqUpTo saturation, topKWeighted
ranking vs a Python reference, deltaSum vs a sequential replay; and
the exact-statistics family built on queries/_util's recipes — the
two-sample t tests, the χ² association keys, ANOVA and Kruskal-Wallis
against Python replays, identities and degenerate inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import degenerate_events_dir, oracle_rows


def test_uniq_upto_caps_against_exact(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import (
        UNIQ_UPTO_N,
        agg_uniq_upto,
    )

    e = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = agg_uniq_upto(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.users_upto == min(exact[r.event_type], UNIQ_UPTO_N + 1)
        assert r.users_upto_5 == min(exact[r.event_type], 6)
    # the fixture must exercise the saturated branch of the small cap
    assert any(r.users_upto_5 == 6 for r in rows)


def test_topk_weighted_matches_python_reference(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import (
        TOPK_W,
        agg_topk_weighted,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sums = (
        li.groupBy("l_returnflag", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("w")
        )
        .collect()
    )
    by_group: dict = {}
    for r in sums:
        by_group.setdefault(r.l_returnflag, []).append((r.l_suppkey, r.w))
    want = {
        g: [
            s
            for s, _ in sorted(items, key=lambda t: (-t[1], t[0]))[:TOPK_W]
        ]
        for g, items in by_group.items()
    }
    got: dict = {}
    for r in agg_topk_weighted(spark, sf_dir).collect():
        got.setdefault(r.l_returnflag, {})[r.rank] = r.l_suppkey
        assert 1 <= r.rank <= TOPK_W
    assert {g: [d[i] for i in sorted(d)] for g, d in got.items()} == want


def test_delta_sum_matches_sequential_replay(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import agg_delta_sum

    e = load_table(spark, sf_dir, "events")
    sample_users = [r.user_id for r in e.select("user_id").distinct().limit(5).collect()]
    rows = (
        e.filter(F.col("user_id").isin(sample_users))
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    want = {}
    for u, evs in series.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        vq = [math.floor(v * 1_000_000.0) for _, _, v in evs]
        want[u] = sum(max(b - a, 0) for a, b in zip(vq, vq[1:]))
    got = {
        r.user_id: r.delta_sum_micros
        for r in agg_delta_sum(spark, sf_dir).collect()
        if r.user_id in series
    }
    assert got == want
    # a counter that resets must report only its increases
    for u, evs in series.items():
        if any(b < a for (_, _, a), (_, _, b) in zip(evs, evs[1:])):
            assert got[u] >= 0
            break


def test_linreg_matches_python_reference(spark, sf_dir):
    """Slope/intercept equal a least-squares replay over the SAME
    cent-quantized series (exact integer moments in Python)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import agg_linreg

    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select("l_returnflag", "l_quantity", "l_extendedprice").collect()
    mom: dict = {}
    for r in rows:
        xq = math.floor(r.l_quantity * 100.0)
        yq = math.floor(r.l_extendedprice * 100.0)
        m = mom.setdefault(r.l_returnflag, [0, 0, 0, 0, 0])
        m[0] += 1
        m[1] += xq
        m[2] += yq
        m[3] += xq * xq
        m[4] += xq * yq
    got = {r.l_returnflag: r for r in agg_linreg(spark, sf_dir).collect()}
    assert set(got) == set(mom)
    for flag, (n, sx, sy, sxx, sxy) in mom.items():
        nd, sxd, syd, sxxd, sxyd = float(n), float(sx), float(sy), float(sxx), float(sxy)
        slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
        intercept = (syd - slope * sxd) / (100.0 * nd)
        assert got[flag].n == n
        assert got[flag].slope == slope
        assert got[flag].intercept == intercept
        # the fit is non-degenerate (denominator nonzero, finite result)
        assert math.isfinite(got[flag].slope)


def test_bounding_ratio_matches_endpoint_replay(spark, sf_dir):
    """Endpoints and slope equal a sequential per-user replay over the
    same (ts, event_id) total order and micro-quantized values."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import agg_bounding_ratio

    e = load_table(spark, sf_dir, "events")
    rows = e.select("user_id", "ts", "event_id", "value").collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    want = {}
    for u, evs in series.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        t0, t1 = evs[0][0], evs[-1][0]
        span = int((t1 - t0).total_seconds() * 1_000_000)
        if span <= 0:
            continue
        dv = math.floor(evs[-1][2] * 1e6) - math.floor(evs[0][2] * 1e6)
        want[u] = (span, dv, float(dv) / (float(span) / 1e6))
    got = {
        r.user_id: (r.span_micros, r.dv_micros, r.rate_per_sec)
        for r in agg_bounding_ratio(spark, sf_dir).collect()
    }
    assert got == want


def test_moving_median_matches_sequential_replay(spark, sf_dir):
    """Window medians equal a per-user sequential replay (lower middle
    of the sorted 5-point frame, micro-quantized)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.timeseries import (
        MOVMED_FRAME,
        ts_moving_median,
    )

    e = load_table(spark, sf_dir, "events")
    sample = [r.user_id for r in e.select("user_id").distinct().limit(4).collect()]
    rows = (
        e.filter(F.col("user_id").isin(sample))
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    want = {}
    for u, evs in series.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        vq = [math.floor(v * 1e6) for _, _, v in evs]
        for i, (_, eid, _) in enumerate(evs):
            frame = sorted(vq[max(0, i - MOVMED_FRAME): i + 1])
            want[(u, eid)] = (len(frame), frame[(len(frame) + 1) // 2 - 1])
    got = {
        (r.user_id, r.event_id): (r.n_window, r.median_micros)
        for r in ts_moving_median(spark, sf_dir).collect()
        if r.user_id in sample
    }
    assert got == want


def test_entropy_gini_matches_counter_replay(spark, sf_dir):
    """Gini and whole-bit entropy equal a Counter replay, and both
    move the right way: a uniform distribution scores higher than a
    concentrated one on both measures."""
    from collections import Counter

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import agg_entropy_gini

    e = load_table(spark, sf_dir, "events")
    counts: dict = {}
    for r in e.select("event_type", "user_id").collect():
        counts.setdefault(r.event_type, Counter())[r.user_id] += 1
    got = {r.event_type: r for r in agg_entropy_gini(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for et, c in counts.items():
        n = sum(c.values())
        gini = 1.0 - float(sum(v * v for v in c.values())) / (float(n) * float(n))
        bits = float(sum(v * ((n // v).bit_length() - 1) for v in c.values())) / float(n)
        assert got[et].n_events == n
        assert got[et].n_users == len(c)
        assert got[et].gini == gini
        assert got[et].entropy_bits == bits
        # bounds: gini in [0, 1), dyadic entropy within 1 bit of Shannon
        assert 0.0 <= gini < 1.0
        shannon = -sum(
            (v / n) * math.log2(v / n) for v in c.values()
        )
        assert bits <= shannon + 1e-9 and bits >= shannon - 1.0


def test_gap_report_matches_sequential_replay(spark, sf_dir):
    """Reported gaps equal a per-user sequential scan: every silence
    over the threshold, attributed to the event that ended it."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.timeseries import GAP_MICROS, ts_gap_report

    e = load_table(spark, sf_dir, "events")
    rows = e.select("user_id", "ts", "event_id").collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id))
    epoch = __import__("datetime").datetime(1970, 1, 1)
    want = {}
    for u, evs in series.items():
        evs.sort()
        tqs = [int((t - epoch).total_seconds() * 1_000_000) for t, _ in evs]
        for (t_prev, (_, _)), (t_cur, (_, eid)) in zip(
            zip(tqs, evs), zip(tqs[1:], evs[1:])
        ):
            gap = t_cur - t_prev
            if gap > GAP_MICROS:
                want[(u, eid)] = (gap, gap // GAP_MICROS)
    got = {
        (r.user_id, r.event_id): (r.gap_micros, r.gap_days)
        for r in ts_gap_report(spark, sf_dir).collect()
    }
    assert got == want
    assert all(g > GAP_MICROS for g, _ in got.values())


def test_heavy_hitters_cms_bounds_and_merge_equals_single_pass(spark, sf_dir):
    """agg_heavy_hitters_cms gates: (a) CMS never underestimates
    (overcount >= 0) and stays within eps*N with margin; (b) per-day
    shard sketches merged by the pure-Python ops/cms.py merger are
    BYTE-IDENTICAL to the one-pass sketch over the same data (CMS merge
    is exact counter addition — the rollup-forever property); (c) the
    reported true counts match an exact recount; (d) the Python V1
    reader's estimates equal the JVM's own estimateCount bit-exactly
    (pins the byte-format assumption against Spark's implementation)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.ops.cms import SparkCMS
    from etl_ch_destination_spark.queries.aggregations_ch import (
        CMS_CONF,
        CMS_EPS,
        CMS_SEED,
        agg_heavy_hitters_cms,
    )

    rep = agg_heavy_hitters_cms(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in rep:
        assert r.true_n == exact[r.user_id]
        assert r.overcount >= 0
        assert r.overcount <= CMS_EPS * n_total  # the eps*N guarantee

    cms_agg = F.count_min_sketch(
        "user_id", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
    )
    single_bytes = bytes(ev.agg(cms_agg.alias("sk")).head().sk)
    single = SparkCMS.from_bytes(single_bytes)
    for r in rep:
        assert single.estimate_long(int(r.user_id)) == r.est_n

    # (b) shard-and-merge == one pass, byte-for-byte
    shards = (
        ev.withColumn("__shard", F.to_date("ts"))
        .groupBy("__shard")
        .agg(cms_agg.alias("sk"))
        .collect()
    )
    assert len(shards) > 1, "fixture should span multiple days"
    parsed = [SparkCMS.from_bytes(bytes(s.sk)) for s in shards]
    merged = parsed[0]
    for p in parsed[1:]:
        merged = merged.merge(p)
    assert merged.to_bytes() == single_bytes

    # (d) reader matches the JVM's own estimates on raw heavy/light ids
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(single_bytes)
    jsk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    assert int(jsk.totalCount()) == single.total_count == n_total
    probe_ids = [int(r.user_id) for r in rep] + [-1, 0, 10**12 + 7]
    for uid in probe_ids:
        assert single.estimate_long(uid) == int(jsk.estimateCount(uid))


def test_cms_reader_roundtrip_and_guards(spark, sf_dir):
    """ops/cms.py unit gates: byte round-trip, geometry-mismatch merge
    refusal, and the operator's empty-input guard (ADVICE r5: no
    AttributeError when the source yields no rows)."""
    import pytest as _pytest

    from etl_ch_destination_spark.ops.cms import SparkCMS
    from etl_ch_destination_spark.queries.aggregations_ch import (
        agg_heavy_hitters_cms,
    )

    df = spark.range(0, 500).select((F.col("id") % 11).alias("v"))
    b1 = bytes(
        df.agg(
            F.count_min_sketch("v", F.lit(0.01), F.lit(0.9), F.lit(7)).alias("sk")
        ).head().sk
    )
    sk1 = SparkCMS.from_bytes(b1)
    assert sk1.to_bytes() == b1
    for v in range(11):
        assert sk1.estimate_long(v) >= 500 // 11

    b2 = bytes(
        df.agg(
            F.count_min_sketch("v", F.lit(0.1), F.lit(0.9), F.lit(7)).alias("sk")
        ).head().sk
    )
    with _pytest.raises(ValueError, match="incompatible"):
        sk1.merge(SparkCMS.from_bytes(b2))

    # empty-input guard: declared schema, zero rows, no crash
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        import pyarrow.parquet as pq

        # single-file parquet like the driver fixtures (load_table
        # sniffs the footer of a plain file, not a Spark directory)
        src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        pq.write_table(src.slice(0, 0), os.path.join(td, "events.parquet"))
        out = agg_heavy_hitters_cms(spark, td)
        assert out.columns == ["user_id", "true_n", "est_n", "overcount"]
        assert out.count() == 0


# --- exact-statistics family: two-sample t, association, ANOVA/KW ---


def test_chi2_cells_do_not_wrap_int64_at_1e10_events(spark):
    """The shared χ² cell on a 2×2 table holding 1.5e10 events: o·n
    reaches 9e19, r·c 8.1e19 and r·c·n 1.2e30, past int64 (an int64
    product throws ARITHMETIC_OVERFLOW under ANSI). Widened to
    decimal(38,0), every term equals a Python replay of the same IEEE
    steps: exact integers, one rounding each to double, one division,
    floor. The largest square, 8.1e37, sits below the 10^38 ceiling
    that the next test crosses."""
    from etl_ch_destination_spark.queries._util import (
        chi2_term_e6,
        contingency_margins,
    )

    g = 10**9
    cells = [(0, 0, 3 * g), (0, 1, 3 * g), (1, 0, 6 * g), (1, 1, 3 * g)]
    o = spark.createDataFrame(cells, "a int, b int, o_ab bigint")
    terms = contingency_margins(o).select(chi2_term_e6().alias("t"))
    got = sorted(r.t for r in terms.collect())

    n = sum(c for _, _, c in cells)
    r = {a: sum(c for x, _, c in cells if x == a) for a in (0, 1)}
    col = {b: sum(c for _, y, c in cells if y == b) for b in (0, 1)}
    want = sorted(
        math.floor(float((o_ab * n - r[a] * col[b]) ** 2)
                   / float(r[a] * col[b] * n) * 1000000)
        for a, b, o_ab in cells
    )
    assert got == want == [
        66666666666666, 99999999999999, 99999999999999, 150000000000000
    ]


def test_chi2_cell_past_decimal38_square_throws(spark):
    """The shared χ² cell's remaining ceiling: the square stays
    decimal(38,0), so it needs |o·n − r·c| < 10^19. The 1.5e10-event
    table 6e9, 1.5e9, 1.5e9, 6e9 has o·n − r·c = 3.375e19 and a square
    of 1.1e39; the cell throws NUMERIC_VALUE_OUT_OF_RANGE under ANSI
    instead of returning a wrong term."""
    from etl_ch_destination_spark.queries._util import (
        chi2_term_e6,
        contingency_margins,
    )

    g = 10**9 // 2
    cells = [(0, 0, 12 * g), (0, 1, 3 * g), (1, 0, 3 * g), (1, 1, 12 * g)]
    o = spark.createDataFrame(cells, "a int, b int, o_ab bigint")
    terms = contingency_margins(o).select(chi2_term_e6().alias("t"))
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        terms.collect()


def test_student_ttest_matches_python_replay(spark, sf_dir):
    """agg_student_ttest vs a textbook pooled-variance replay on the
    collected cents values (statistics.stdev-free: exact integer
    moments in Python, one float expression at the end)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import (
        TT_GROUP_A,
        TT_GROUP_B,
        agg_student_ttest,
    )

    r = agg_student_ttest(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TT_GROUP_A, TT_GROUP_B)
    )
    rows = ev.select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("x"),
    ).collect()
    xa = [row.x for row in rows if row.event_type == TT_GROUP_A]
    xb = [row.x for row in rows if row.event_type == TT_GROUP_B]
    na, nb = len(xa), len(xb)
    assert (r.n_a, r.n_b, r.dof) == (na, nb, na + nb - 2)
    sa1, sa2 = sum(xa), sum(v * v for v in xa)
    sb1, sb2 = sum(xb), sum(v * v for v in xb)
    ssq = (sa2 - sa1 / na * sa1) + (sb2 - sb1 / nb * sb1)
    t = (sa1 / na - sb1 / nb) / (
        (ssq / (na + nb - 2) * (1 / na + 1 / nb)) ** 0.5
    )
    assert abs(r.student_t - t) <= 1e-9 * max(1.0, abs(t))


def test_association_family_consistent(spark, sf_dir):
    """theilsU / cramersVBiasCorrected / contingency over the same
    contingency table: all in [0, 1], bias-corrected V <= raw V, and
    the chi-squared intermediates agree across the family."""
    from etl_ch_destination_spark.queries.aggregations_ch import (
        agg_contingency_coef,
        agg_cramers_v,
        agg_cramers_v_bc,
        agg_theils_u,
    )

    u = agg_theils_u(spark, sf_dir).collect()[0]
    assert 0.0 <= u["theils_u_bits"] <= 1.0
    assert u["sx_bits"] >= u["sxy_bits"] >= 0

    v_bc = agg_cramers_v_bc(spark, sf_dir).collect()[0]
    v = agg_cramers_v(spark, sf_dir).collect()[0]
    c = agg_contingency_coef(spark, sf_dir).collect()[0]
    assert 0.0 <= v_bc["cramers_v_bc"] <= 1.0
    assert 0.0 <= c["contingency_c"] <= 1.0
    assert v_bc["cramers_v_bc"] <= v["cramers_v"] + 1e-12
    assert v_bc["chi2_e6"] == v["chi2_e6"] == c["chi2_e6"]
    assert v_bc["n"] == u["n"] == c["n"]


def test_theils_u_marginal_sum_identity(spark, sf_dir):
    """Sx must equal the true marginal surprisal sum Σ_a r_a·bits(n div
    r_a) — replayed driver-side from the raw contingency table (the
    first form summed per-row-class via a min-column guard, which
    silently drops marginals on sparse tables; the cell-wise identity
    form cannot)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import agg_theils_u

    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy(F.col("event_type").alias("a"), (F.col("user_id") % 4).alias("b"))
        .agg(F.count(F.lit(1)).alias("o_ab"))
        .collect()
    )
    n = sum(r["o_ab"] for r in cells)
    r_a: dict = {}
    for r in cells:
        r_a[r["a"]] = r_a.get(r["a"], 0) + r["o_ab"]
    want_sx = sum(ra * ((n // ra).bit_length() - 1) for ra in r_a.values())
    got = agg_theils_u(spark, sf_dir).collect()[0]
    assert got["sx_bits"] == want_sx
    assert got["n"] == n


def test_anova_oneway_matches_numpy_reference(spark, sf_dir):
    """The ANOVA F statistic must match a float64 numpy re-derivation
    from the same exact cents to ~1e-12 relative (the engines share
    one pinned expression tree; numpy associates differently, hence a
    tolerance rather than hex), with the classic identities: SSB ≥ 0,
    SSW > 0, and SSB + SSW = total sum of squares."""
    import numpy as np

    from etl_ch_destination_spark.queries.aggregations_ch import (
        ANOVA_GROUPS,
        agg_anova_oneway,
    )

    row = agg_anova_oneway(spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    groups = {
        g: np.array(
            [r["cents"] for r in ev.filter(F.col("event_type") == g).collect()],
            dtype=np.float64,
        )
        for g in ANOVA_GROUPS
    }
    allv = np.concatenate(list(groups.values()))
    n, k = len(allv), len(groups)
    ssb = sum(len(v) * (v.mean() - allv.mean()) ** 2 for v in groups.values())
    ssw = sum(((v - v.mean()) ** 2).sum() for v in groups.values())
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == k and row["n_total"] == n
    assert row["ss_between"] >= 0 and row["ss_within"] > 0
    assert abs(row["f_stat"] - f_ref) <= 1e-9 * max(1.0, abs(f_ref))
    total = ((allv - allv.mean()) ** 2).sum()
    assert abs((row["ss_between"] + row["ss_within"]) - total) <= 1e-6 * total


def test_kruskal_wallis_matches_scipy_style_reference(spark, sf_dir):
    """H (tie-corrected) must match a from-scratch float64 rank-based
    re-derivation (average ranks over the pooled sample) to ~1e-9
    relative, with 0 < C <= 1 and H >= 0."""
    import numpy as np

    from etl_ch_destination_spark.queries.aggregations_ch import (
        ANOVA_GROUPS,
        agg_kruskal_wallis,
    )

    row = agg_kruskal_wallis(spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    data = [(r["event_type"], r["cents"]) for r in ev.collect()]
    allv = np.array([c for _, c in data], dtype=np.float64)
    order = np.argsort(allv, kind="mergesort")
    ranks = np.empty(len(allv))
    sorted_v = allv[order]
    i = 0
    while i < len(sorted_v):
        j = i
        while j + 1 < len(sorted_v) and sorted_v[j + 1] == sorted_v[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    n = len(allv)
    # ranks is row-aligned (the tie loop wrote through `order`)
    by_g: dict[str, list[float]] = {}
    for idx, (g, _) in enumerate(data):
        by_g.setdefault(g, []).append(ranks[idx])
    h = 12.0 / (n * (n + 1)) * sum(
        (np.sum(v)) ** 2 / len(v) for v in map(np.array, by_g.values())
    ) - 3 * (n + 1)
    _, counts = np.unique(allv, return_counts=True)
    c = 1 - np.sum(counts.astype(np.float64) ** 3 - counts) / (
        float(n) ** 3 - n
    )
    assert set(by_g) == set(ANOVA_GROUPS)
    assert row["k"] == len(ANOVA_GROUPS) and row["n_total"] == n
    assert 0 < row["tie_correction"] <= 1
    assert row["h_stat"] >= 0
    assert abs(row["tie_correction"] - c) <= 1e-9
    ref = h / c
    assert abs(row["h_corrected"] - ref) <= 1e-9 * max(1.0, abs(ref))


def test_stats_keys_degenerate_inputs_null_on_both_engines(spark):
    """ADVICE r11: empty groups / all-tied values are exactly the
    inputs the fixture never exercises — unguarded, ANSI Spark throws
    DIVIDE_BY_ZERO while DuckDB quietly emits NULL. With the NULLIF
    guards both engines must return the SAME row, NULLs included."""
    import datetime as dt

    from etl_ch_destination_spark.queries.aggregations_ch import (
        agg_anova_oneway,
        agg_kruskal_wallis,
    )

    t0 = dt.datetime(2024, 1, 1)

    # Case 1: only two of the five groups present (empty groups), all
    # values IDENTICAL (zero within-variance, C = 0).
    tied = degenerate_events_dir(
        [
            (1, t0, 1, "click", 5.0, "{}"),
            (2, t0, 2, "click", 5.0, "{}"),
            (3, t0, 3, "view", 5.0, "{}"),
        ],
    )
    for key, fn in (("anova_oneway", agg_anova_oneway),
                    ("kruskal_wallis", agg_kruskal_wallis)):
        got = [tuple(r) for r in fn(spark, tied).collect()]
        want = oracle_rows(key, tied)
        assert got == want, (key, got, want)
        # the degenerate statistic itself must be NULL, not Inf/NaN
        assert got[0][-1] is None, (key, got)

    # Case 2: all five groups present, all values tied — isolates the
    # C=0 tie-correction path with every per-group term well-defined.
    all_groups_tied = degenerate_events_dir(
        [
            (i, t0, i, g, 7.0, "{}")
            for i, g in enumerate(
                ["click", "error", "purchase", "signup", "view"] * 2
            )
        ],
    )
    got = [tuple(r) for r in agg_kruskal_wallis(spark, all_groups_tied).collect()]
    want = oracle_rows("kruskal_wallis", all_groups_tied)
    assert got == want, (got, want)
    row = got[0]
    assert row[3] == 0.0   # tie_correction C = 0 when every value ties
    assert row[4] is None  # h_corrected = H/0 -> NULL on both engines

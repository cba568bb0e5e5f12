"""Invariant gates for the round-2 session-2 additions that would
otherwise be covered only by oracle parity: each key gets the one
property that would break first if its implementation drifted."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cume_pct_bounds_and_monotonicity(spark, sf_dir):
    from etl_ch_destination_spark.queries.windows import win_cume_pct

    df = win_cume_pct(spark, sf_dir).cache()
    bad = df.filter(
        (F.col("pct_rank") < 0) | (F.col("pct_rank") > 1)
        | (F.col("cume") <= 0) | (F.col("cume") > 1)
        | (F.col("cume") < F.col("pct_rank"))  # cume_dist ≥ percent_rank always
    )
    assert bad.count() == 0
    # max order in each class closes the distribution at exactly 1.0
    tops = df.groupBy("o_orderpriority").agg(F.max("cume").alias("m"))
    assert all(r.m == 1.0 for r in tops.collect())
    df.unpersist()


def test_unpivot_melts_every_metric_once(spark, sf_dir):
    from etl_ch_destination_spark.queries.aggregations import agg_unpivot

    rows = agg_unpivot(spark, sf_dir).collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r.o_orderpriority, set()).add(r.metric)
    assert all(v == {"n_orders", "sum_total"} for v in per_key.values())


def test_corr_exact_in_range_and_stable_under_repartition(spark, sf_dir):
    """|corr| ≤ 1, and the value is BIT-identical when the input
    partitioning changes — the whole point of exact-sum correlation."""
    from etl_ch_destination_spark.queries.aggregations import agg_corr_exact

    base = {r.l_returnflag: r.corr_qty_price for r in agg_corr_exact(spark, sf_dir).collect()}
    assert all(-1.0 <= v <= 1.0 for v in base.values())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        again = {
            r.l_returnflag: r.corr_qty_price for r in agg_corr_exact(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == again  # exact equality, not approx


def test_weighted_median_is_a_crossing_point(spark, sf_dir):
    """At the reported median price, cumulative weight must reach half
    the total, and strictly-below prices must not."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations import agg_weighted_median

    med = {r.l_returnflag: r.weighted_median_price
           for r in agg_weighted_median(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    for flag, m in med.items():
        grp = li.filter(F.col("l_returnflag") == flag)
        tot = grp.agg(F.sum(F.col("l_quantity").cast("decimal(12,2)"))).collect()[0][0]
        at = grp.filter(F.col("l_extendedprice") <= m).agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        ).collect()[0][0]
        below = grp.filter(F.col("l_extendedprice") < m).agg(
            F.coalesce(F.sum(F.col("l_quantity").cast("decimal(12,2)")), F.lit(0))
        ).collect()[0][0]
        assert 2 * at >= tot
        assert 2 * below < tot


def test_mad_nonnegative_and_bounded_by_range(spark, sf_dir):
    from etl_ch_destination_spark.queries.aggregations import agg_mad_robust

    for r in agg_mad_robust(spark, sf_dir).collect():
        assert 0 <= r.mad_qty <= 50  # l_quantity domain is [1, 50]


def test_url_funcs_components_reassemble(spark, sf_dir):
    from etl_ch_destination_spark.queries.scalars_string import url_funcs

    rows = url_funcs(spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        assert r.proto == "https"
        assert r.host.endswith(".example.com")
        assert r.path == f"/docs/{r.doc_id}"
        assert r.lang_param  # query param extracted non-empty


def test_arrow_batch_udf_matches_builtin(spark, sf_dir):
    """mapInArrow result must equal the pure-JVM expression form."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.udfs import udf_arrow_batch

    got = {r.event_id: (r.value_bucket, r.abs_value)
           for r in udf_arrow_batch(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.event_id: (r.vb, r.av)
        for r in ev.select(
            "event_id",
            F.floor(F.col("value") / 10.0).cast("int").alias("vb"),
            F.abs("value").alias("av"),
        ).collect()
    }
    assert got == want


def test_pii_scrub_leaves_no_pii(spark, sf_dir):
    from etl_ch_destination_spark.queries.llm_text import llm_pii_scrub

    df = llm_pii_scrub(spark, sf_dir)
    leaked = df.filter(
        F.col("scrubbed").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    )
    assert leaked.count() == 0
    assert df.filter(~F.col("scrubbed").contains("<EMAIL>")).count() == 0


def test_incremental_dedup_disjoint_from_index_and_first_wins(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.llm_text import llm_dedup_incremental

    out = llm_dedup_incremental(spark, sf_dir).cache()
    assert out.filter(F.col("doc_id") < 250).count() == 0  # batch rows only
    # one survivor per content hash
    assert out.groupBy("content_hash").count().filter("count > 1").count() == 0
    # no survivor's hash exists in the seen index
    d = load_table(spark, sf_dir, "documents")
    seen = (
        d.filter(F.col("doc_id") < 250)
        .select(F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("content_hash"))
        .distinct()
    )
    assert out.join(seen, "content_hash", "inner").count() == 0
    out.unpersist()


def test_zip_explode_positions_are_dense(spark, sf_dir):
    from etl_ch_destination_spark.queries.scalars_complex import arr_zip_explode

    df = arr_zip_explode(spark, sf_dir)
    per_doc = df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi")
    )
    bad = per_doc.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n")))
    assert bad.count() == 0


def test_batch_etl_report_matches_source_totals(spark, sf_dir):
    """The ETL verification report's global totals equal the source's
    (enriched) totals — nothing lost or duplicated end to end."""
    from etl_ch_destination_spark.catalog import load_table, scratch_dir
    from etl_ch_destination_spark.jobs.batch_etl import run_batch_etl

    rep = run_batch_etl(spark, sf_dir, scratch_dir("test_batch_etl_totals"))
    got = rep.agg(F.sum("n_events")).collect()[0][0]
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    want = ev.join(c, "user_id").count()
    assert got == want


def test_ks_test_matches_brute_force_ecdf(spark, sf_dir):
    """agg_ks_test's cross-multiplied integer D numerator must equal a
    brute-force ECDF max-difference replay exactly."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import (
        TT_GROUP_A,
        TT_GROUP_B,
        agg_ks_test,
    )

    r = agg_ks_test(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TT_GROUP_A, TT_GROUP_B)
    )
    rows = ev.select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("x"),
    ).collect()
    xa = sorted(row.x for row in rows if row.event_type == TT_GROUP_A)
    xb = sorted(row.x for row in rows if row.event_type == TT_GROUP_B)
    na, nb = len(xa), len(xb)
    assert (r.n_a, r.n_b) == (na, nb)
    import bisect

    best = 0
    for v in set(xa) | set(xb):
        ca = bisect.bisect_right(xa, v)
        cb = bisect.bisect_right(xb, v)
        best = max(best, abs(ca * nb - cb * na))
    assert r.d_num == best
    assert abs(r.ks_d - best / (na * nb)) <= 1e-15


def test_winnow_fingerprints_match_python_replay_and_guarantee(spark, sf_dir):
    """llm_fingerprint_winnow vs a reference Python winnower on real
    docs (exact equality), plus the winnowing GUARANTEE: two docs
    sharing a >= w + k - 1 = 11-char substring share a fingerprint."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.llm_dedup_extra import (
        WINNOW_W,
        llm_fingerprint_winnow,
    )

    def ref_winnow(text: str):
        n_src = max(len(text) - 7, 1)
        grams = []
        for i in range(n_src):
            acc = 0
            for j in range(8):
                c = text[i + j] if i + j < len(text) else ""
                acc = acc * 31 + (ord(c) if c else 0)
            grams.append(acc)
        if len(grams) >= WINNOW_W:
            fps = {
                min(grams[i : i + WINNOW_W])
                for i in range(len(grams) - WINNOW_W + 1)
            }
        else:
            fps = set(grams)
        xor = 0
        for f in fps:
            xor ^= f
        return len(grams), len(fps), min(fps), xor

    got = {
        r.doc_id: r
        for r in llm_fingerprint_winnow(spark, sf_dir).limit(50).collect()
    }
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([int(k) for k in got]))
        .collect()
    }
    assert len(texts) == len(got)
    for doc_id, r in got.items():
        n_grams, n_fp, fp_min, fp_xor = ref_winnow(texts[doc_id])
        assert (r.n_grams, r.n_fp, r.fp_min, r.fp_xor) == (
            n_grams, n_fp, fp_min, fp_xor,
        ), doc_id

    # guarantee: a shared 11-char substring forces a shared fingerprint
    shared = "qwertzuiopa"  # 11 chars = w + k - 1
    a = "xx" + shared + "yy distinct tail one"
    b = "completely other head " + shared + " zz"
    fa = ref_winnow(a)
    fb = ref_winnow(b)

    def fp_set(text):
        n_src = max(len(text) - 7, 1)
        grams = []
        for i in range(n_src):
            acc = 0
            for j in range(8):
                c = text[i + j] if i + j < len(text) else ""
                acc = acc * 31 + (ord(c) if c else 0)
            grams.append(acc)
        if len(grams) >= WINNOW_W:
            return {
                min(grams[i : i + WINNOW_W])
                for i in range(len(grams) - WINNOW_W + 1)
            }
        return set(grams)

    assert fp_set(a) & fp_set(b), (fa, fb)


def test_corr_matrix_matches_numpy(spark, sf_dir):
    """agg_corr_matrix vs numpy corrcoef on the collected cents values
    (population formula cancels in Pearson r): every pair within 1e-9."""
    import numpy as np

    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.aggregations_ch import agg_corr_matrix

    got = {r.l_returnflag: r for r in agg_corr_matrix(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    pdf = li.select(
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
        (F.col("l_discount").cast("decimal(12,4)") * 10000)
        .cast("long")
        .alias("z"),
    ).toPandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        m = np.corrcoef(np.vstack([grp["x"], grp["y"], grp["z"]]))
        r = got[flag]
        assert r.n == len(grp)
        assert abs(r.corr_qty_price - m[0, 1]) < 1e-9
        assert abs(r.corr_qty_disc - m[0, 2]) < 1e-9
        assert abs(r.corr_price_disc - m[1, 2]) < 1e-9


def test_lttb_downsample_matches_reference_and_invariants(spark, sf_dir):
    """ts_downsample_lttb vs the shared pure-Python reference run on
    the driver-collected series: EXACT (pos, ts, cents) equality per
    event_type, endpoints always kept, positions strictly increasing,
    output size min(LTTB_POINTS, series length)."""
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.timeseries_extra import (
        LTTB_POINTS,
        lttb_select,
        ts_downsample_lttb,
    )

    got: dict = {}
    for r in ts_downsample_lttb(spark, sf_dir).collect():
        got.setdefault(r.event_type, []).append((r.pos, r.ts_us, r.cents))
    for v in got.values():
        v.sort()

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
        "event_id",
    ).collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.ts_us, r.event_id, r.cents))

    assert set(got) == set(series)
    for et, pts in series.items():
        pts.sort()
        ts_us = [p[0] for p in pts]
        cents = [p[2] for p in pts]
        idx = lttb_select(ts_us, cents, LTTB_POINTS)
        expect = [(i, ts_us[i], cents[i]) for i in idx]
        assert got[et] == sorted(expect), et
        # invariants
        poss = [p[0] for p in got[et]]
        assert poss[0] == 0 and poss[-1] == len(pts) - 1
        assert all(b > a for a, b in zip(poss, poss[1:]))
        assert len(poss) == min(LTTB_POINTS, len(pts))

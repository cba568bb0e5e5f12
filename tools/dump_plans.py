"""Generate PLANS.md: formatted physical plans for the headline
queries, annotated with the scale property each plan must exhibit.

The pytest suite (tests/test_plans.py, tests/test_plan_audit.py)
*asserts* these properties; this artifact makes them reviewable
without running Spark.

Usage: python tools/dump_plans.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# key -> what a reviewer should verify in the plan
ANNOTATIONS: dict[str, str] = {
    "scan_parquet": (
        "Filter and projection reach the parquet scan: `PushedFilters` "
        "carries the predicate, `ReadSchema` lists only the projected "
        "columns. At 100 TB this is the difference between reading 3 "
        "columns of a few row groups and reading everything."
    ),
    "agg_groupby_multi": (
        "Flagship TPC-H-Q1 shape: partial `HashAggregate` before the "
        "exchange, final after — map-side combine bounds shuffle volume "
        "by |groups|, not |rows|. One whole-stage-codegen span covers "
        "scan→project→partial-agg."
    ),
    "join_inner_equi": (
        "Equi-join on the natural keys: AQE picks broadcast for the "
        "small side at fixture scale; at 100 TB the same plan degrades "
        "gracefully to `SortMergeJoin` on the shuffled keys — no code "
        "change, Catalyst decides from stats."
    ),
    "join_broadcast_dim": (
        "`BroadcastHashJoin` (asserted in pytest): the dimension table "
        "ships to every executor once; the fact side never shuffles."
    ),
    "join_skew_salted": (
        "Hot customer keys are salted into `SALT_BUCKETS` sub-keys "
        "before the shuffle; the dim side explodes to match. No single "
        "reducer owns a whole hot key."
    ),
    "join_asof": (
        "As-of join via union+window (ops/asof.py): one shuffle on the "
        "join key, `last(ignorenulls)` over a key-partitioned window — "
        "never a per-row range probe."
    ),
    "win_ranking": (
        "`Window` is partitioned by the grouping key — work distributes "
        "across |keys| tasks; no global single-task sort."
    ),
    "limit_by": (
        "`WindowGroupLimit` (asserted in pytest): Spark's group-limit "
        "pushdown keeps only k rows per key per partition before the "
        "shuffle — the ClickHouse `LIMIT n BY` shape without a full sort."
    ),
    "sort_multikey": (
        "Global sort+rank via `ops/rank.py`: `RangePartitioning` sorts, "
        "per-partition `row_number` plus cumulative offsets (one "
        "bounded-by-#partitions collect) produce the global rank — no "
        "unpartitioned window over base rows."
    ),
    "topk_global": (
        "`TakeOrderedAndProject` (asserted in pytest): O(k) heap per "
        "partition + O(k) merge at the driver; never a full sort."
    ),
    "dedup_by_key_latest": (
        "ReplacingMergeTree-FINAL idiom: one shuffle on the key, "
        "total-ordered window with tiebreaker, `rn=1` filter — "
        "deterministic under AQE retries."
    ),
    "llm_tfidf_terms": (
        "Explode→count→`WindowGroupLimit` per language: the doc-frequency "
        "aggregate is map-side-combined; no all-terms collect."
    ),
    "llm_sim_topk_exact": (
        "Brute-force cosine (the oracle baseline): query side broadcast, "
        "candidate side streamed; norm hoisted out of the pair loop. The "
        "scale path is llm_sim_topk_ann / llm_sim_topk_ivf."
    ),
    "llm_dedup_simhash": (
        "SimHash: explode token hashes → ONE hash aggregate with 60 "
        "conditional sums (map-side partial collapses to one row per doc "
        "before the shuffle) → flat bit-pack projection. All "
        "whole-stage-codegen; shuffle is O(docs × 60 longs)."
    ),
    "win_sessionize": (
        "Sessionization: lag + running-sum windows both partitioned by "
        "user_id — ONE shuffle, per-user sorts bounded by per-user event "
        "counts; the per-session aggregate reuses the partitioning."
    ),
    "agg_window_funnel": (
        "windowFunnel exists-chain: per-level equi-joins on user_id over "
        "step-FILTERED events (pushed to the scan), per-anchor state "
        "bounded at one row via min-time greedy, tiny-side broadcasts at "
        "fixture scale. No per-user event-list collection anywhere."
    ),
    "llm_dedup_near": (
        "MinHash+LSH banding, pure codegen (round 3): minhash "
        "signatures are array_min over universal-hash permutations of "
        "md5-derived shingle hashes; candidates come from a self "
        "EQUI-join on the posexploded (band, minhash) key — never a "
        "cartesian of documents; exact Jaccard via hashed-set "
        "intersect on the joined-back feature arrays. No MLlib stage, "
        "no persisted intermediates (the cold path is the measured "
        "path), one ReuseExchange-deduplicated featurize subtree."
    ),
    "llm_dedup_embedding": (
        "EXACT cosine-threshold join as the triangle block-pair "
        "decomposition: both sides replicate to their (p1, p2) block "
        "pairs via a broadcast of the P(P+1)/2 pair dimension, then "
        "ONE composite-key shuffle equi-join — O(n·P) shuffle volume, "
        "(n/P)² scoring per task, no corpus broadcast, no NLJ "
        "(plan-audited; the NLJ allow-list entry was removed in r3)."
    ),
    "llm_decontaminate": (
        "Benchmark decontamination: the tiny distinct eval gram-hash "
        "set BROADCASTS (BroadcastExchange on the bench side, "
        "BroadcastHashJoin), so the overlap check is a map-side stage "
        "over the exploded corpus grams — corpus rows never shuffle; "
        "only per-doc hit counts reach the final aggregate exchange."
    ),
    "rpt_revenue_forecast": (
        "TPC-H Q6 shape, the scan-efficiency benchmark: ALL four "
        "predicates appear in `PushedFilters`, `ReadSchema` carries "
        "only the 4 referenced columns, and the aggregate collapses to "
        "a 1-row exchange. At 100 TB this plan reads a fraction of the "
        "table and shuffles bytes, not gigabytes."
    ),
    "rpt_shipping_priority": (
        "TPC-H Q3 shape: segment-filtered customer broadcast, ONE "
        "fact-fact shuffle (orders ⋈ lineitem), partial+final agg on "
        "the composite key, `TakeOrderedAndProject` for the top-10 — "
        "O(k) driver memory, deterministic via the l_orderkey "
        "tiebreaker."
    ),
    "rpt_local_supplier_volume": (
        "TPC-H Q5 shape, 6-table star: supplier/nation/region/customer "
        "all resolve as `BroadcastHashJoin`; lineitem ⋈ orders is the "
        "only exchange pair. The co-location predicate "
        "(c_nationkey = s_nationkey) is a post-broadcast filter, not "
        "an extra shuffle."
    ),
    "ts_resample_ohlc": (
        "OHLC downsample: ONE Exchange on (series, bucket) feeds both "
        "window sorts AND the final HashAggregate (grouping keys = "
        "window partition keys — no second shuffle). Open/close come "
        "from ROW_NUMBER over the unique (ts, event_id) order, never "
        "an engine-defined first()."
    ),
    "ts_interpolate": (
        "Gap interpolation: the ordered windows run over the AGGREGATED "
        "bucket spine (cardinality = span/width, not row count) — the "
        "only unpartitioned windows allowed are bounded-by-construction "
        "ones like this. The heavy stage is the bucket aggregate with "
        "map-side partials."
    ),
    "dim_scd2_history": (
        "SCD2 stitching: one union (no shuffle) + ONE windowed shuffle "
        "on the dimension key; the lead() frame is bounded per key by "
        "the number of versions. The change-detection aggregate shows "
        "partial+final HashAggregate."
    ),
    "rpt_corpus_curation": (
        "Composed LLM-pipeline report: content-hash dedup window (one "
        "shuffle on a uniform 128-bit key), codegen'd string/array "
        "scoring, then partial+final agg on the small (lang, source) "
        "grid. No Python anywhere in the plan."
    ),
    "llm_repetition_filter": (
        "Repetition quality filter (round 4): ZERO exchanges — the "
        "top-word count is the longest equal-run in array_sort(words) "
        "via one linear HOF fold, bigram stats are zip_with + "
        "array_distinct, so the whole operator fuses into the corpus "
        "scan's projection stage. The first-draft explode→groupBy→join "
        "plan (2 shuffles + a join) was rewritten away."
    ),
    "llm_chunk_overlap": (
        "Sliding-window chunking (round 4): pure map-side "
        "explode(sequence) + slice over the one split array — zero "
        "exchanges; fan-out bounded by ~n_words/stride per doc. This "
        "is the narrow stage that feeds the tokenizer at 100 TB."
    ),
    "llm_unigram_logprob": (
        "Vocabulary-join spine (round 4): explode → partial+final "
        "vocabulary HashAggregate → shuffle equi-join back on `word` → "
        "per-doc HashAggregate; the corpus total rides a 1-row "
        "condition-free broadcast (allow-listed, O(rows)). Verify NO "
        "data×data nested loop and exactly 4 hash exchanges; at web "
        "scale a document-frequency floor makes the vocabulary "
        "broadcastable, deleting the join-back exchange."
    ),
    "llm_cross_dedup": (
        "Priority-source dedup (round 4): ONE exchange on the uniform "
        "128-bit content hash feeding row_number AND the per-hash "
        "window counts over the same partitioning — verify a single "
        "`Exchange hashpartitioning(content_hash)` with two Window "
        "operators above it and no self-join."
    ),
    "llm_line_dedup": (
        "C4 span-level dedup (round 4): block explode -> ONE exchange "
        "on the uniform block hash (first-occurrence row_number) -> "
        "one exchange back to doc_id for in-order reassembly. Verify "
        "exactly two hash exchanges and no join — survivorship is a "
        "window, and the reassembly is a sorted-collect aggregate."
    ),
    "rpt_training_mixture": (
        "Curation funnel (round 4): the dedup window's content-hash "
        "exchange dominates; the raw and survivor per-source "
        "aggregates are tiny, and the final per-source join "
        "broadcasts. Quality flags and split assignment stay fused in "
        "the map-side projection under the window."
    ),
    "rpt_waiting_orders": (
        "TPC-H Q21 shape: the 'late shipment' frame feeds both the "
        "driving side and the sole-blame `LeftAnti`; the multi-supplier "
        "test is `LeftSemi` on l_orderkey with the supplier inequality "
        "as a residual join predicate — three hash joins on the same "
        "key, zero cartesians."
    ),
    "join_interval_bins": (
        "Interval-overlap rewritten as an EQUI-join (round 4): both "
        "sides explode to covered week buckets and hash-join on "
        "(priority, week) with a.k < b.k as a residual — NO "
        "BroadcastNestedLoopJoin / CartesianProduct anywhere in the "
        "plan, where the naive theta self-join would be per-key "
        "quadratic. The exact overlap predicate and the distinct run "
        "on candidates only; candidate count is bounded by bucket "
        "co-occupancy (the bucket width knob), so the same plan holds "
        "when the interval table is 10^6x larger."
    ),
    "llm_bigram_surprisal": (
        "Model-apply shape (round 4): the bigram fan-out appears on "
        "both the train branch (the (w1, w2) count aggregate + per-"
        "head window) and the apply branch — Catalyst RECOMPUTES the "
        "fan-out rather than materializing it, the right call because "
        "Generate-over-scan is a zero-shuffle codegen stage and the "
        "join is the only exchange that matters. At fixture scale AQE "
        "broadcasts one side; at 100 TB stats flip it to a shuffled "
        "hash join on (w1, w2) — the model side is Zipf-bounded "
        "(distinct bigrams grow sublinearly in corpus size), so the "
        "apply join's reduce side is model-sized, not corpus-sized. "
        "Whole-bit surprisal is codegen integer math — no UDF, no "
        "float log."
    ),
    "llm_ngram_novelty": (
        "Shingle first-occurrence index (post-rewrite): trigram "
        "Generate fans out map-side, the owner min-aggregate and the "
        "per-doc count are BOTH |docs|/|shingles|-sized aggregates, and "
        "the only join is a LEFT join of two per-doc frames on doc_id — "
        "the exploded frame is never re-shuffled on the shingle key "
        "(that form measured 2x slower at sf0.1)."
    ),
    "agg_quantiles_weighted": (
        "Exact weighted quantiles: one exchange on the group key shared "
        "by the cumulative-weight window, the per-group total window, "
        "and the final aggregate; the threshold compare is pure int64 "
        "(1000*cumw >= q*totw), so no float boundary exists to disagree "
        "across engines."
    ),
    "agg_mannwhitney_u": (
        "Pooled-rank statistic WITHOUT a row-level global window: the "
        "rank sum reduces to per-(value, group) counts joined to a "
        "cumulative count over the DISTINCT-VALUE spine (bounded by the "
        "cents domain <= 49002 rows at ANY data size). The single "
        "unpartitioned window in the plan runs over that fixed-size "
        "spine, never the row count."
    ),
    "rpt_pareto_suppliers": (
        "Global running revenue share via ops/rank.with_global_cumsum: "
        "value-range bucket assignment baked in as literals, parallel "
        "per-bucket cumulative windows, broadcast per-bucket offsets — "
        "SUM OVER (ORDER BY) semantics with no single-task exchange "
        "over base rows; the 80%% flag is an integer cross-multiply."
    ),
    "dict_get_lookup": (
        "ClickHouse dictGet as a ZERO-JOIN codegen projection: the "
        "25-entry dictionary is a literal map in the expression tree, "
        "so the plan is Scan -> Project, no build side, no exchange — "
        "asserted join-free in tests/test_relational_round4.py."
    ),

    "sink_ttl_expire": (
        "TTL expire-and-rewrite: the collected cutoff is applied as a "
        "LITERAL predicate, so `PushedFilters` carries the ts bound "
        "into BOTH parquet scans (the expiry filter and the survivor "
        "re-read) — at 100 TB with ts-ordered parts this is partition "
        "pruning, mirroring a server TTL merge touching only "
        "out-of-deadline parts. The per-type survivor aggregate is "
        "broadcast into the totals join (no fact-table shuffle)."
    ),
    "agg_quantile_kll": (
        "Mergeable-sketch two-level aggregate: per-shard KLL partials "
        "collapse map-side (partial `objHashAggregate` before the "
        "exchange), the merge shuffles |keys|x|shards| kilobyte "
        "sketches — never the raw measure column. Same shape as the "
        "HLL key; the quantile extraction is a scalar projection over "
        "|keys| rows."
    ),
    "agg_student_ttest": (
        "Two-group exact-moment aggregate + 1-row x 1-row reshape: one "
        "partial/final HashAggregate pair over the filtered scan "
        "(`PushedFilters` carries the event_type IN filter), then a "
        "single-row cross join — the only 'cartesian' is 1x1, "
        "exempted by size in the plan audit. The cost is the scan."
    ),
    "agg_ks_test": (
        "Value-spine statistic (the Mann-Whitney form): per-value "
        "conditional counts aggregate map-side; only the bounded "
        "cents-domain spine (<= 49k rows at ANY data size) crosses the "
        "single-partition ordered window; the final max is a 1-row "
        "aggregate. Raw rows never see a global window."
    ),
    "llm_fingerprint_winnow": (
        "Zero-shuffle winnowing: gram hashing, window-min selection, "
        "and the xor/min folds are STAGED PROJECTIONS over aliased "
        "columns (grams, fps) — CollapseProject keeps each non-cheap "
        "alias as one evaluation per row; the inlined-tree form "
        "re-ran the chain per output column (350 s vs ~1 s at sf0.1). "
        "No exchange beyond the scan-spread repartition, no Python."
    ),
    "agg_corr_matrix": (
        "corrMatrix in one pass: a single partial/final HashAggregate "
        "pair computes all nine exact-decimal moments map-side — the "
        "matrix costs one scan regardless of pair count; the per-pair "
        "Pearson finalization is a scalar projection over |groups| "
        "rows."
    ),
    "win_ignore_nulls": (
        "Three IGNORE-NULLS frames (forward-fill, 1-PRECEDING "
        "NULL-skipping lag, whole-partition first) share ONE window "
        "sort in a single WindowExec — one user_id shuffle, O(1) "
        "running state per frame."
    ),
    "str_multi_search": (
        "Multi-needle bank in one codegen projection — any-hit, "
        "count, first-index, and min-position all derive from the "
        "same four instr() subexpressions; one scan, no shuffle."
    ),
    "llm_bigram_kneser_ney": (
        "The corpus collapses ONCE into the bigram-type table (the "
        "explode + first HashAggregate); every later exchange — the "
        "w1/w2 context aggregates and their join-backs — carries "
        "|bigram types| rows, never corpus rows, and the 1-row type "
        "total broadcasts. The TakeOrdered top-K is O(K) per "
        "partition."
    ),
    "llm_char_ngram_entropy": (
        "One corpus-sized exchange (the (doc, gram) HashAggregate "
        "after the trigram explode); the doc_id window exchange and "
        "final per-doc aggregate reuse each other's partitioning. "
        "Dyadic bit-length entropy keeps the whole pipeline in "
        "codegen — no ln, no Python."
    ),
    "ts_rolling_corr": (
        "All six correlation moments come from ONE WindowExec frame "
        "(single l_suppkey exchange + one sort) — no self-join, no "
        "second window; the correlation itself is a scalar projection "
        "assembling exact int64 moments."
    ),
    "graph_triangle_count": (
        "Degree-ordered triangle enumeration: every join is a hash "
        "equi-join on int node keys (orientation joins, the wedge "
        "self-join on the source node, the closing (a,b) probe) — no "
        "CartesianProduct anywhere; the wedge join is bounded "
        "O(m^1.5) by the orientation. The oriented edge set scans a "
        "checkpoint (staged once for its three consumers)."
    ),
    "join_ip_cidr": (
        "Longest-prefix match WITHOUT a range join: the probe side is "
        "a map-side literal explode (one masked key per dictionary "
        "prefix length), the dictionary is a BroadcastHashJoin, and "
        "the winner is a WindowGroupLimit over ≤|lens| candidate rows "
        "per probe. The fact side never shuffles."
    ),
    "join_lateral_topn": (
        "Correlated LATERAL ORDER BY + LIMIT decorrelated by Catalyst "
        "into WindowGroupLimit row_number ≤ K with a PARTIAL pass "
        "before the exchange — each map task keeps at most K rows per "
        "customer, so the shuffle carries O(customers·K), not all "
        "orders."
    ),
    "rpt_attribution": (
        "First/last-touch attribution as ONE µs-RANGE WindowExec "
        "frame per user (min/max/count of the nullable view-time "
        "column) — a single user_id exchange; no view×purchase "
        "interval join, no row fan-out."
    ),
    "graph_pagerank": (
        "Three unrolled integer power iterations, each one "
        "`ShuffledHashJoin` (the SHUFFLE_HASH hint — the |nodes| rank "
        "frame GROWS with the graph, so letting AQE broadcast it OOMs "
        "the driver at 30×; the stress spine caught it) plus one dst "
        "hash aggregate over the STAGED degree-annotated edge list — "
        "lineage stays O(1) in iterations, no exchange carries more "
        "than edge-sized rows."
    ),
    "rpt_basket_pairs": (
        "The deduped (order, brand) basket projection is STAGED once "
        "and feeds three consumers (marginals, basket count, the "
        "self-equi-join) as stored-block scans; the pair expansion is "
        "bounded by C(brands_in_order, 2) and the only non-broadcast "
        "joins key on the order id."
    ),
    "llm_pmi_collocations": (
        "The bigram explode is consumed EXACTLY once: the (x, y) pair "
        "table is staged, and the marginals aggregate over THAT "
        "(c(x) = Σ_y c(x,y)) rather than re-exploding the corpus; "
        "total/marginal frames broadcast back. One corpus-sized "
        "exchange in the whole plan."
    ),
    "ts_outlier_iqr": (
        "Exact interpolated quartiles without rank-probe joins: the "
        "tiny per-group probe frame BROADCASTS onto the ranked spine "
        "and a conditional MAX harvests all four probe rows in one "
        "aggregate — the plan audit caught the 4-join draft at 6 "
        "shuffles; this form is 3."
    ),
    "scan_dpp_join": (
        "`dynamicpruningexpression` in the fact scan's "
        "PartitionFilters (asserted in pytest): the dim filter's key "
        "set prunes fact partition directories at RUNTIME — 1 of 3 "
        "directories read; at 100 TB this is the star-join scan "
        "optimization."
    ),
    "llm_semdedup": (
        "SemDeDup: the Voronoi assignment is MAP-SIDE (HOF argmax over "
        "K literal seeds — zero exchanges before the cluster self-join); "
        "the only shuffles are the cluster_id equi-join and the dup-flag "
        "left join. Never an all-pairs plan: pairwise work is bounded "
        "per cluster."
    ),
    "geo_haversine_join": (
        "`BroadcastNestedLoopJoin` over the BOUNDED 25-row site dim "
        "(the canonical small-dim geo join), distances fused into "
        "map-side codegen, then ONE partial-agg min(struct) hash "
        "aggregate — the 25x expansion collapses map-side, so the "
        "exchange carries one row per point."
    ),
    "graph_bfs_distance": (
        "Pregel-as-joins: per round one equi-join (frontier x adjacency) "
        "+ one MIN-combine hash aggregate with map-side partials; the "
        "frontier is staged per round so the static plan stays O(1) in "
        "rounds (lineage truncation)."
    ),
    "llm_image_dedup_phash": (
        "Perceptual-hash dedup: the decode+hash stage is a linear "
        "Arrow-batched `mapInPandas` scan with NO shuffle; the only "
        "exchange is the phash window pair (cluster size + keep rank) — "
        "at 100 TB phash is the partition key the dedup write buckets by."
    ),
    "graph_triangle_approx": (
        "DOULION: the p=1/4 md5-threshold sparsifier is a zero-shuffle "
        "map-side Filter fused into the staged edge build — the wedge "
        "exchange downstream carries ~p^1.5 of the exact key's rows; "
        "the estimate reshape is a 1-row x 1-row join."
    ),
    "graph_connected_components": (
        "Star-contraction CC: the final frame is a staged (lineage-"
        "truncated) labeling — per star round two grouped exchanges of "
        "the edge list ran during construction, O(log n) rounds, "
        "convergence probed by fingerprint counters (no row data "
        "driver-side)."
    ),
    "graph_clustering_coeff": (
        "The triangle spine's exchanges (degree agg, orient joins, "
        "wedge self-join, corner agg) over the STAGED-once edge set, "
        "plus one node-keyed left join — no new heavy shape beyond the "
        "gated triangle evidence; the coefficient division is map-side "
        "codegen."
    ),
    "graph_jaccard_linkpred": (
        "Degree-capped (<=64) centers bound the common-neighbor "
        "candidate join at cap^2 per center — the equi-join on the "
        "center key never sees a hub's full neighborhood; then one "
        "(a,b) hash agg, an anti-join against existing edges, two "
        "degree joins, and a bounded top-200 TakeOrdered."
    ),
    "agg_kruskal_wallis": (
        "No row-level global window: ranks reduce to the <=49k-row "
        "cents value spine (per-(value,group) counts, cumulative "
        "window over the DISTINCT-value spine, one value-keyed "
        "equi-join); the 1-row x 1-row moments-x-tie reshape is the "
        "welch shape."
    ),
    "win_drawdown": (
        "The running-max window runs on the nation-by-day AGGREGATE "
        "(~25 x days rows), never on fact cardinality: one hash "
        "aggregate after the fact->dim equi-joins (nation "
        "BroadcastHashJoin; customer a keyed shuffle), then the "
        "window exchange carries only the aggregate. Drawdown math "
        "is integer end-to-end (decimal(38,0) widening before the "
        "x1e4 product)."
    ),
    "ts_sma_crossover": (
        "Same fact->dim + nation-by-day aggregate spine as "
        "win_drawdown; then three window passes over ONE tiny "
        "per-nation sort (two ROWS-frame sums + lag) — no float "
        "anywhere: SMA comparison is cross-multiplied rolling sums "
        "widened through decimal(38,0)."
    ),
    "llm_dedup_bloom_prefilter": (
        "The set-bit table (bounded by the 2^20-bit space) is "
        "BROADCAST to the probe side — the Bloom membership test is a "
        "BroadcastHashJoin on position + a k-hit count, never a "
        "corpus-sized shuffle; only the prefiltered survivors reach "
        "the exact semi-join."
    ),
    "scan_virtual_columns": (
        "_metadata.file_name/row_index resolved INSIDE the parquet "
        "scan node (constant metadata columns, no extra pass); one "
        "hash aggregate per file group."
    ),
    "agg_quantile_tdigest": (
        "Per-shard digest build = ONE window sort over group x shard "
        "partitions + a hash aggregate collapsing to <= delta "
        "centroids per (group, shard); every exchange after the build "
        "carries centroid rows (|groups| x |shards| x delta, "
        "kilobytes), never raw data — the CH quantileTDigestState/"
        "Merge rollup shape. The estimator is window functions over "
        "<= delta rows per group."
    ),
    "scan_avro_import": (
        "Encode and decode are both Arrow-batched mapInPandas over "
        "independent container files — zero exchanges in either leg "
        "beyond the parquet scan of the staged blocks; the Python "
        "work is the wire protocol itself (per-row byte encoding is "
        "inherent at the egress/ingress boundary, not a hot-path UDF)."
    ),
    "geo_h3_hexgrid": (
        "Cell assignment is pure int64 map-side codegen (no float, no "
        "trig, no join); ONE partial+final hash aggregate keyed by "
        "(hq, hr) — the exchange carries cell rows bounded by the "
        "grid, not points."
    ),
    "scan_avro_evolution": (
        "Same block-parallel mapInPandas shape as scan_avro_import; "
        "the resolution work (writer-only discard, int->long "
        "promotion, reader default) happens per record inside the "
        "Arrow batch — no extra plan nodes, no exchange."
    ),
    "stream_tdigest_state": (
        "A REAL streaming query: per micro-batch, the digest build is "
        "a window over that batch only and the state write overwrites "
        "its own epoch=<id> partition with <= delta centroid rows per "
        "(type, batch) — idempotent under checkpoint replay; the "
        "final merge shuffles centroids, never events. The captured "
        "plan is the post-stream rollup over the state table."
    ),
    "stream_tdigest_compact": (
        "State maintenance over the same replay: both merge levels "
        "and the estimate touch ONLY centroid rows (<= groups × "
        "batches × delta in, <= 2 × groups × delta out); the "
        "half-ranking window runs over |batches| distinct tags — a "
        "bounded manifest, 6 rows here. The captured plan is the "
        "compaction + estimate over the state table."
    ),
    "geo_h3_kring_smooth": (
        "Points collapse to cells FIRST; the 6-offset neighbor "
        "scatter is an explode over CELL rows (a projection — no "
        "nested-loop join node), and the ring rollup + LEFT self-join "
        "are grid-bounded hash exchanges. The h3kRing smoothing "
        "contract with zero point-cardinality work after the first "
        "aggregate."
    ),
    "scan_protobuf_import": (
        "Round-14 wire-format key: both halves are mapInPandas over "
        "independent length-delimited stream files — the plan shows "
        "scan → ArrowEvalPython-style Python stages with NO exchange "
        "anywhere; file count is the parallelism unit, exactly the "
        "scan_avro_import shape. A JVM spark-protobuf jar is the "
        "drop-in production fast path for the same plan position."
    ),
    "scan_table_log": (
        "Delta-style log scan: the action-log replay touches only "
        "manifest rows (a text scan of the commit files + one window "
        "over |files| rows — kilobytes at any scale), file pruning "
        "happens BEFORE data I/O (pruned files never appear in the "
        "parquet scan's file list — asserted via inputFiles() in "
        "tests), and the data read is a plain multi-path parquet scan "
        "with the key predicate pushed into the surviving files' row "
        "groups (PushedFilters)."
    ),
    "agg_window_funnel_dedup": (
        "strict_deduplication funnel: the base exists-chain equi-joins "
        "on user_id plus two LEFT ANTI joins for the interrupt checks "
        "— every join is SMJ/SHJ keyed on user_id with the time range "
        "as the join residual (no BroadcastNestedLoopJoin/Cartesian "
        "node), exchanges carry the per-user funnel-event slice, and "
        "the level rollup is two tiny aggregates. 5 hash exchanges "
        "total (allowance-pinned in test_plan_audit)."
    ),
    "agg_window_funnel_increase": (
        "strict_increase funnel over hour-truncated event times: the "
        "truncation folds into the scan projection, then the exact "
        "base-funnel join shape — two user_id equi-joins with range "
        "residuals, a semi-join for level 3, one level rollup. "
        "Coarse-clock tie handling costs nothing at plan level."
    ),
    "scan_protobuf_evolution": (
        "Both evolution directions are mapInPandas over independent "
        "stream files (fwd: v1 reader skipping unknown v2 tags; bwd: "
        "v2 reader defaulting absent fields) unioned — still no "
        "exchange anywhere; the union is plan-level concatenation of "
        "two embarrassingly-parallel scans."
    ),
    "scan_table_log_travel": (
        "Version diff: two manifest replays (|files| rows each), then "
        "parquet scans of ONLY the removed and added files feeding a "
        "hash EXCEPT ALL — I/O bounded by the commit's own footprint; "
        "no full-table scan node appears for a diff regardless of "
        "table size."
    ),
    "scan_table_log_checkpoint": (
        "Checkpoint read path: the snapshot resolves from the "
        "checkpoint PARQUET (columnar manifest rows) + a text scan of "
        "only the tail commits, listed on the driver and read by "
        "explicit path — the v0/v1 JSON is never opened; data I/O is "
        "a plain multi-path parquet scan of the live files with "
        "partial aggregation before the exchange."
    ),
    "agg_sequence_next_node": (
        "One exchange on user_id shared by BOTH row_number specs "
        "(forward and reverse order over the same partition key), an "
        "early rn<=3 OR rnd<=3 filter so the per-user aggregate sees "
        "at most 6 rows per user, then a 6-column conditional agg + "
        "tiny count rollup — bounded per-user state at any history "
        "length."
    ),
    "agg_sequence_match_time": (
        "The time-bounded pattern as ONE LeftSemi join keyed on "
        "user_id with the (t1, t1+1h] bound as the join residual — "
        "no per-user event fold, no cartesian; then distinct-users "
        "left join + single count aggregate."
    ),
    "geo_h3_polyfill": (
        "Grid enumeration is two chained explodes of literal "
        "sequences from one row (generators — no join node), the "
        "bbox/parity filter is constant-folded integer math, and the "
        "coverage join is a broadcast hash join between two "
        "cell-cardinality sides; points are scanned exactly once "
        "into the cell aggregate."
    ),
    "scan_iceberg_manifest": (
        "Two-level manifest-chain scan: the snapshot walk and both "
        "pruning levels happen over driver-side bounded metadata "
        "(Avro manifest rows — never data); the captured plan is a "
        "plain multi-path parquet scan of ONLY the level-2 survivors "
        "with the key predicate pushed into their row groups."
    ),
    "scan_table_log_dv": (
        "Deletion vectors: clean files scan plain; DV'd files scan "
        "with _metadata.row_index and a LEFT ANTI hash join against "
        "the position sidecar keyed on (file path, row index) — "
        "deleted positions shuffle only against the DV'd files' "
        "rows, clean files never join."
    ),
    "rpt_time_to_convert": (
        "Conversion latency: events collapse to one row per user "
        "BEFORE anything expensive (two user-keyed aggregates + one "
        "range-residual equi-join), segment resolves by broadcast, "
        "and the quantile machinery (per-segment sort window + two "
        "sparse rank-probe joins) runs over converted USERS, not "
        "events."
    ),
    "llm_pack_sequences": (
        "The global prefix sum runs TWO-PHASE: range repartition, "
        "partition-local cumulative window, then the per-partition "
        "totals (|partitions| rows) take the only global window and "
        "broadcast back — no data row passes a SinglePartition "
        "exchange; the naive formulation would funnel the corpus "
        "through one task."
    ),
    "llm_dataset_shuffle": (
        "Epoch reshuffle: the 3-epoch fan-out is a literal-array "
        "explode (projection, no join node); position windows "
        "partition by (epoch, shard) — |epochs|×|shards| independent "
        "sort groups, never a global sort; the epoch-0 reference is "
        "a doc_id-partitioned window, not a self-join."
    ),
    "scan_warc_import": (
        "Common Crawl ingest shape: encode and decode are both "
        "mapInPandas over independent record-gzipped WARC files — "
        "the plan shows scan → Python stages with NO exchange "
        "anywhere; one task per WARC file is exactly how a 100 TB "
        "crawl estate is read, and the warc stress spine measures "
        "the claim (sublinear 100→300×)."
    ),
    "scan_table_log_cdf": (
        "Change data feed: action replay touches only the manifest "
        "(a text scan of just the commits in the version range, by "
        "explicit path); change rows come from "
        "exactly the files the log names — cdc files for the UPDATE "
        "commit, the one removed file for the DELETE — so the union "
        "of scans is proportional to CHANGE volume, never table "
        "size. No node in the plan reads an untouched slice."
    ),
    "sink_table_log_write": (
        "Destination-side commit writer: data writes are ordinary "
        "parquet jobs; each transaction publishes as ONE linked JSON "
        "file (put-if-absent — kilobytes at any scale). The captured "
        "plan is the read-back through the standard log replay: a "
        "multi-path parquet scan of the live files the snapshot "
        "names, restated partitions included."
    ),
    "stream_table_log_sink": (
        "Streaming commit-protocol sink: per micro-batch one parquet "
        "write + one atomic txn commit; the captured plan is the "
        "log-mediated read-back — a multi-path scan of exactly the "
        "committed epoch files with partial aggregation before the "
        "exchange. The replayed epoch adds no file (txn probe skips), "
        "which the oracle totals prove by value."
    ),
    "scan_iceberg_pos_delete": (
        "Positional deletes: data files scan with _metadata "
        "file_path/row_index virtual columns and one LEFT ANTI hash "
        "join against the delete files keyed (file_path, pos) — "
        "delete-side volume is proportional to deleted rows, AQE "
        "broadcasts it while small; no value predicate appears "
        "because position, not content, addresses the rows."
    ),
    "scan_hudi_timeline": (
        "Hudi timeline scan: instants and commit metadata replay "
        "driver-side over the bounded .hoodie listing; the plan is a "
        "plain multi-path parquet scan of the latest live file slice "
        "per file group — the inflight commit's staged file and the "
        "superseded/replaced slices never enter the scan's file "
        "list."
    ),
    "ts_holt_winters": (
        "Events collapse to the dense (group × hour) spine in ONE "
        "hash aggregate; the sequential recursion runs per-series "
        "inside applyInPandas over already-aggregated buckets — "
        "millions of independent series parallelize across groups at "
        "100 TB while each pays O(hours), not O(events). The 1-row "
        "bounds frame rides a broadcast."
    ),
    "agg_min_sample_size": (
        "Power analysis: one broadcast dim join (segment onto "
        "orders) + one 5-group aggregate with partial aggregation "
        "before the exchange — the cost IS the scan; the z-constant "
        "is a pinned literal so no quantile function executes at "
        "query time."
    ),
    "graph_adamic_adar": (
        "Same skew discipline as graph_jaccard_linkpred: capped "
        "centers bound the common-neighbor fan-out at cap² per "
        "center; the pinned 1/ln-weight table joins as a broadcast "
        "literal dim; one (a,b) hash aggregate accumulates the "
        "integer score, then the existing-edge anti-join and a "
        "bounded top-k."
    ),
    "agg_quantile_ddsketch": (
        "Relative-error sketch: the γ-bucket assignment is a "
        "104-comparison integer fold in whole-stage codegen (no "
        "transcendental call — the boundary table is literal); the "
        "exchange carries (type, bucket) counts bounded by "
        "|types|×104 rows, never values; windows and the final "
        "rollup run over that bounded frame."
    ),
    "sink_iceberg_commit": (
        "Writer side: data writes are ordinary partitioned parquet "
        "jobs; manifests/list/metadata are driver-side Avro+JSON "
        "kilobytes with put-if-absent publication. The captured plan "
        "is the read-back: version hint → metadata → manifest chain "
        "resolved driver-side, then a multi-path scan of exactly the "
        "live snapshot's files."
    ),
    "scan_table_log_vacuum": (
        "Vacuum replays the action log driver-side (|actions| rows) "
        "to the retained versions' live-file union; deletion is one "
        "filesystem call per garbage file — cost ∝ garbage, not "
        "table. The captured plan is the post-vacuum snapshot scan, "
        "identical to scan_table_log's read path."
    ),
    "rpt_ab_test_readout": (
        "One scan → one |metrics|-group aggregate with conditional "
        "per-variant moment sums (no pivot join, no second pass); "
        "partial aggregation precedes the exchange, and the "
        "variant-assignment md5 is map-side codegen. The z/lift "
        "arithmetic runs over |metrics| rows."
    ),
    "scan_table_log_column_map": (
        "Column mapping: the rename/drop is one metadata line; the "
        "plan is a plain parquet scan whose ReadSchema lists ONLY "
        "the mapped physical columns — the dropped column's bytes "
        "are never read (projection pushdown driven by the mapping)."
    ),
    "scan_kafka_import": (
        "RecordBatch v2 ingest: encode and decode are mapInPandas "
        "over independent log segments — no exchange; per-batch "
        "CRC32C is the only full-body pass, matching the broker's "
        "own validation cost. The kafka stress spine measures the "
        "per-segment parallel claim (sublinear 10→30×)."
    ),
    "scan_kafka_compacted": (
        "Same wire bytes, table semantics: per-segment parallel "
        "decode, then ONE user-keyed latest-wins window (the "
        "dedup_by_key_latest exchange) with tombstones filtered "
        "after ranking — per-key state, not per-record replay."
    ),
    "scan_kafka_schema_registry": (
        "Confluent framing: per-record magic + schema-id lookup + "
        "writer→reader Avro resolution all inside the per-segment "
        "mapInPandas — the registry map is a driver constant shipped "
        "in the closure; no exchange anywhere."
    ),
    "scan_mergetree_primary_index": (
        "Sparse-index read: primary.idx (one int64 mark per granule) "
        "binary-searched driver-side selects the surviving granule "
        "span; the plan scans ONLY those granule files with the "
        "range predicate pushed down as the exact refinement — "
        "pruned granules never appear in inputFiles()."
    ),
    "stream_scd2_apply": (
        "Incremental SCD2: per batch, the merge touches the batch's "
        "change rows plus touched users' CURRENT rows (closed "
        "history passes through untouched); state versions advance "
        "per epoch so replays rewrite instead of corrupt. The "
        "captured plan is the final state read."
    ),
    "job_backfill_partitions": (
        "Backfill: the audit reads |partitions| counts against the "
        "write-time manifest; recompute touches ONLY the damaged "
        "partitions (healthy files byte-identical — gated by mtime). "
        "The captured plan is the healed partitioned read with "
        "partition discovery."
    ),
    "llm_video_scene_detect": (
        "Scene cuts: PVID demux is the narrow per-file map of "
        "sample_frames; the cut comparison is one lag() window per "
        "video over (doc, frame-digest) tuples — pixels never "
        "shuffle; segment accounting runs over frame rows bounded "
        "per video."
    ),
    "scan_mergetree_projection": (
        "Projection selection: both candidates are costed from their "
        "MARK FILES alone (kilobytes); the plan scans only the chosen "
        "date-sorted projection's surviving granule span with the "
        "range predicate as the exact refinement — the key-sorted "
        "copy contributes zero I/O to this query."
    ),
    "rpt_attribution_shapley": (
        "Shapley attribution: one purchase aggregate + one user-keyed "
        "join/agg collapses events to ≤7 mask-count rows; the "
        "8-subset characteristic function and the 12-term coalition "
        "algebra are literal-dim broadcasts over single-digit row "
        "counts — exponential in CHANNELS, constant in data."
    ),
    "rpt_kaplan_meier": (
        "Survival curve: one user-keyed lead() window builds the "
        "episode frame; risk sets and the O(k²) ordered product fold "
        "run over |distinct hour-durations| rows (bounded by the "
        "observation window), never episodes. The cumulative product "
        "is an ORDERED list fold — deterministic IEEE sequence, not "
        "a parallel reduction."
    ),
    "agg_hll_deterministic": (
        "Pinned HLL: map-side md5 projection, one (grp, register) "
        "aggregate bounded by |groups|×256 rows, then 256-element "
        "ordered folds — the exchange carries registers, never "
        "values; merge is register-wise MAX (order-free). No libm "
        "call: the ln table and alpha are literals."
    ),
}

HEADER = """# PLANS — physical-plan evidence for the headline queries

Generated by `tools/dump_plans.py` (re-run after plan-affecting
changes). Each section: the scale property the plan must exhibit, then
`df.explain("formatted")` output captured at {sf}. The properties
marked "asserted in pytest" are enforced by tests/test_plans.py and
tests/test_plan_audit.py; this file exists so a reviewer can check the
plans without running Spark.
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"))
    args = ap.parse_args()

    from etl_ch_destination_spark.registry import all_queries
    from etl_ch_destination_spark.session import get_spark

    spark = get_spark()
    queries = all_queries()
    out = [HEADER.format(sf=args.sf)]
    for key, note in ANNOTATIONS.items():
        df = queries[key](spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## `{key}`\n\n{note}\n\n```\n{buf.getvalue().rstrip()}\n```\n")
    with open(args.out, "w") as f:
        f.write("".join(out))
    print(f"wrote {args.out} ({len(ANNOTATIONS)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Regenerate PLANS.md — filtered `.explain('formatted')` excerpts for the
headline queries. Usage: python tools/dump_plans.py [sf_dir]"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PICKS = {
    "q1_pricing_summary": "pushed date filter, map-side partial agg",
    "q5_region_revenue": "all dims broadcast; facts never shuffle for the dims",
    "top_parts_per_brand": "broadcast part join; rollup + window",
    "minhash_lsh_pairs": "band self-join + shuffle-hash verify; no corpus broadcast",
    "embedding_ann_ivf": "literal-centroid map-side argmax; corpus never shuffles vectors",
    "dedup_exact": "shuffle carries (hash, id), not documents",
    "q8_market_share": "all 7 dims broadcast; fact joins without shuffling for dims",
    "events_following_1h": "bin-bucketed range join: hash join, no nested loop",
    "benchmark_contamination": "collision join on 8-byte hash; documents never move",
    "psi_metric_extraction": "pruned from_json: zero exchanges before the sort",
    "asof_last_click": "as-of via union+window: ONE exchange, no Join node",
    "tfidf_top_terms": "vocab-sized df relation; N broadcast as 1-row agg",
    "bm25_search": "postings filtered before the shuffle; stats broadcast",
    "hypertable_rollup": "one scan expands 3 grouping sets map-side",
    "repetition_signals": "single tagged explode; one (id,unit) shuffle",
    "q2_min_cost_supplier": "decorrelated scalar subquery; dims broadcast",
    "embedding_near_dups": "capped blocks: exact path + block-scoped LSH route, shuffle-hash verify",
    "embedding_ann_lsh_multiprobe": "query side explodes probe keys; corpus keeps one map-side bucket",
    "corpus_filter_pipeline": "ALL gates in one scan; only shuffle is the sha2-digest dedup",
    "salted_skew_join": "5 hot keys scattered across 8 salts before the join",
    "source_quality_rollup": "distinct on 32-byte digests, never document text",
    "duplicate_detection": "capped diff: window top-K+1 ranks, bounded collect_list, digest-keyed",
    "embedding_ann_pq": "ADC linear scan: corpus reads (id, codes) only; queries broadcast with LUTs",
    "embedding_ann_ivfpq": "coarse probe prunes buckets; PQ codes score; no vector past encode",
    "embedding_ann_ivfadc": "residual codes + literal lookup tables; same probe join as ivfpq",
    "embedding_filtered_ann_ivf": "label predicate pushed to scan; quantizer over filtered rows only",
    "semantic_dedup": "trained cells block the pairs; vectors join by id via shuffle-hash",
    "bloom_semi_join": "bloom positions broadcast; fact filtered map-side before any exchange",
    "embedding_ann_sq8": "stats broadcast 1-row; encode+reconstruct+score inside the corpus scan",
    "pagerank_top_nodes": "3 unrolled iterations: edges⋈ranks shuffle joins; node count broadcast",
    "sampled_quantiles": "5% hash-sample filter inside the scan; window sort sees the sample only",
    "quantiles_error_eval": "estimate + selection-exact baseline; bucket counts shuffle, not values",
    "prefix_filter_similar": "candidate join on int64 postings w/ inline length filter; shuffle-hash verify",
    "dedup_masked_text": "spans broadcast into the docs scan; hash exchanges carry (doc,pos)/(wh) only",
    "embedding_ann_nsw": "salted cell-scoped kNN build (AQE-exempt repartition); beam hops join ids",
    "embedding_ann_bq": "codes-only corpus projection; XOR+popcount pool; refine hydrates pool only",
    "perplexity_quality_bands": "int64 bigram-key joins; integer micro-nat NLL; selection terciles",
    "bpe_segmented_corpus": "learned merges applied as literal replaces inside the scan; per-doc agg",
    "hybrid_search_rrf": "two top-N legs; fusion is a tiny full-outer + ordered head",
    "knn_label_propagation": "literal seed rides the scan: zero exchanges, zero joins",
    "hll_distinct_events": "64-key exchange of partial maxes; the merge IS the sketch union",
    "funnel_conversion": "user_id co-partitioned step chain; monotonically shrinking joins",
    "event_transitions": "whale guard (broadcast anti) before the ONE user window; type-matrix window after",
    "pps_weighted_sample": "pi and HT reweight inside the scan; no exchange, no join",
    "mmr_rerank": "pool + pairwise sims distributed; greedy on the collected head",
    "quality_classifier_scores": "model row broadcast; codegen'd fold in the scan; zero hash exchange",
    "coordinated_sample_join": "both scans filtered to the coordinated 5% before the join",
    "personalized_pagerank": "seeded teleport: same unrolled edges\u22c8ranks joins; seeds broadcast",
    "hits_hub_authority": "4 persisted half-steps; global max broadcast for each rescale",
    "kcore_trade_graph": "3 peel rounds: degree agg + two semi-joins vs persisted survivors",
    "weighted_median_price": "bucket weight-sums shuffle; picked buckets broadcast to 2nd pass",
    "holt_linear_forecast": "daily pre-agg feeds FlatMapGroupsInPandas; raw events never regroup",
    "search_mrr_eval": "3 inverted-index BM25 legs; relevance is map-side token conjunction",
    "community_detection_lpa": "3 voting rounds on the sparse name graph; labels persisted per round",
    "bellman_ford_fastest_supply": "min-plus relaxations; relationship-aggregated edges persisted",
    "embedding_ann_refined": "candidate pool + query vecs broadcast into the exact-refine corpus scan",
    "duplicated_spans": "exchanges carry (doc, pos, 8-byte wh); island merge windows per doc",
    "dsir_importance_weights": "lambda literal folds in the raw scan; zero hash exchange below the sort",
    "phrase_search": "phrase relation broadcast; postings probed by hash join",
    "token_entropy": "sorted-run entropy entirely inside the scan; no token exchange",
    "containment_near_dups": "df-capped postings self-join on int64 shingle keys; fanout <= cap^2",
    "item_cooccurrence_topk": "basket-capped pair join; marginals broadcast; catalog-sized after pairing",
    "item_graph_triangles": "oriented wedge: two edge-keyed joins; each triangle counted once",
    "symspell_name_matches": "deletion-variant equi-join on (block, int64 vh); exact verify on candidates",
    "position_attribution": "one user window both sides; co-keyed (user, journey) join; int credits",
    "rolling_median_7d": "x7 explode of hash-only daily rows; exact percentile per (user, day)",
    "feature_correlations": "one moment scan, zero keyed exchange; DECIMAL(38,0) exact sums",
    "snapshot_table_diff": "one co-keyed full outer join; comparisons map-side",
    "ks_price_drift": "value pre-agg shrinks to distinct support before the single global cumsum",
    "stratified_quota_sample": "counts agg + |sources| allocation broadcast; per-source top-quota window",
    "wordpiece_segmented_corpus": "vocab literals fold inside the scan; only exchange is the per-doc agg",
    "cusum_changepoints": "daily rollup + per-type reference join; two stacked type-keyed windows",
    "part_supplier_hhi": "two part-keyed aggregates; exact integer squares; TakeOrdered top-25",
    "rolling_wau_7d": "x7 map-side day fanout; exact two-phase distinct per day",
    "curriculum_buckets": "exact_ntile: bucket-count array prefix-sum; windows partitioned by bucket",
    "rfm_segments": "three range-partitioned ntile passes; no partition-less Window anywhere",
    "gini_concentration": "distributed rank: bucket offsets one collected row; per-bucket windows",
    "line_dedup_boilerplate": "lines hash inside the scan; exchanges carry (hash)/(hash,count) only",
    "kmv_set_algebra": "two k-bounded synopses; algebra on one row; exact twin pays the user exchange",
    "tokenizer_fertility_eval": "vocab-sized BPE train; literal-merge segmentation in the scan",
    "nearest_centroid_accuracy": "label x dim integer partial sums; centroids broadcast; map-side argmax",
    "epoch_shuffle_order": "x2 epoch fanout map-side; one (epoch, shard) exchange = output parallelism",
    "pareto_customers": "rank+cumsum via log-scale bucketed prefix arrays; no partition-less Window",
    "pareto_frontier_parts": "two-level running max: bucket prefix maxima broadcast; partitioned range frame",
    "sorted_neighborhood_matches": "ASCII-prefix proxy ranks; rank+offset equi-join, no theta join",
    "cm_heavy_hitters": "exact top-20 via TakeOrderedAndProject; CM table fixed 4x512",
    "classifier_auc_eval": "midranks from per-score counts; bucket-partitioned running count",
    "whale_guarded_transitions": "broadcast whale set filters before the user window",
    "t_closeness_profile": "class x band grid (value-bounded); per-class cumulative window",
    "cs_heavy_hitters": "signed d*w=2560-group exchange; exact 5-value median; sketch broadcast",
    "fellegi_sunter_patterns": "(brand,size) block self-join; pattern rollup <= 8 x weights groups",
    "fellegi_sunter_em": "distributed pattern agg; EM over <= 8 rows of driver state",
    "kaplan_meier_retention": "one user-keyed agg; curve folded on the duration-bounded array",
    "hll_distinct_users_by_type": "|types| x 64 partial-max exchange; per-group regime dispatch",
    "logrank_first_event_groups": "one user window + duration-bounded ordered fold",
    "shapley_channel_attribution": "journey window + 16-mask broadcast map; constant-work game eval",
    "zipf_exponent_fit": "vocab-sized tf exchange; top-200 TakeOrdered; one-row ordered folds",
    "token_burstiness_topk": "(token, doc) tf relation; exact-int dispersion; TakeOrdered top-25",
    "cm_join_size_estimate": "two d x w sketch builds; estimate joins d x w relations only",
    "weighted_sample_without_replacement": "A-ES keys inside the scan; TakeOrdered top-k; posexplode rank",
    "seasonal_naive_mase": "one daily rollup; date-joined lags on the calendar-bounded relation",
    "l_diversity_profile": "one QI-tuple groupBy; threshold fanout over the class-count relation",
    "fd_confidence_profile": "attribute-pair cell aggregate; determinant rollup of cells only",
    "session_gap_curve": "ONE user window prices all thresholds; map-side CASE fanout",
    "split_leakage_neardups": "banded LSH pair plan + map-side split labels; doc_id joins only",
    "hll_union_events": "two 64-key register builds; merge is a 64-key max; one-row algebra",
    "pca_top_component": "mapInPandas int Gram partials -> 4,161-group agg; 4,096 cells collected once",
    "naive_bayes_cv_folds": "one tokenization; fold models by count subtraction; doc-partitioned argmax",
    "isotonic_urgency_by_value": "bin-bounded minimax joins; no sequential PAV state",
    "runs_test_daily_revenue": "day-bounded median + lag window; one-row runs statistics",
    "mcnemar_langid_vs_nb": "doc_id-keyed paired equi-joins; discordant cells one row",
    "ece_classifier_calibration": "shared bounded-sample training; one scoring scan into 10 bins",
    "gains_lift_deciles": "shared trained vector; 10x10 bucket self-join after one scan",
    "conformal_interval_price": "two map-side scans; bucketed residual-quantile selection",
    "logreg_weights": "training = ONE TakeOrdered sample collect; numpy GD driver-side",
    "markov_next_event_accuracy": "whale-guarded user window; |types|-row prediction broadcast",
    "frequent_event_sequences": "whale guard before the path window; |types|^3 support agg",
    "session_entry_exit_bounce": "guarded sessionization: gap flag + session id share one sort",
    "page_hinkley_drift": "exact trunc-div running mean; TakeOrdered top-10",
    "good_turing_unseen_mass": "one trigram-hash count exchange; 6-row N_r relation after",
    "ngram_novelty_rate": "int64 gram hashes only; DISTINCT train side before the probe join",
    "pr_curve_classifier": "shared trained vector; 20-bin scan + bin-bounded cumulative",
    "kruskal_wallis_priority": "distinct-cents rank walk; 5-row ordered fold; one-row H",
    "brown_forsythe_priority": "group-partitioned median walk; medians broadcast; exact-moment ANOVA",
    "effect_sizes_urgent_vs_low": "one conditional-moment scan + dominance-pair walk; one row",
    "time_decay_attribution": "co-keyed (user, journey) join; per-journey weight window; int credits",
    "nelson_aalen_hazard": "one user-keyed agg; hazard folded on the duration-bounded array",
    "hosmer_lemeshow_classifier": "exact micro-int expected sums; 10-bin ordered fold",
    "ks_statistic_classifier": "distinct-score CDF walk; TakeOrdered(1) argmax",
    "mutual_info_feature_rank": "3 map-side category rollups; bounded margin joins; ordered folds",
    "ar2_forecast_daily": "day-bounded lag windows; one-row exact moments; 7 unrolled steps",
    "esd_outliers_daily": "5 chained TakeOrdered(1) + anti-join rounds on the daily relation",
    "binseg_changepoints_daily": "day-bounded prefix sums; segment-partitioned level 2; TakeOrdered argmaxes",
    "flesch_reading_ease": "regexp counts inside the scan; |sources| rollup, no explode",
    "leave_one_source_out_vocab": "DISTINCT (source, token); token-hash spread join carries ints only",
    "search_map_eval": "3 postings-filtered BM25 legs; AP folds on bounded pools",
    "mixture_temperature_weights": "|sources| count rollup; sqrt-rendered temperature; one-row partition fn",
    "mcc_classifier_confusion": "one scoring scan to a 4-cell confusion row; exact int MCC products",
    "dup_rate_by_source": "sha2 in the scan; distinct exchange carries 32-byte hashes",
    "global_clustering_coefficient": "oriented 2-join triangles + degree agg; exact wedge halving",
    "degree_assortativity_items": "degree relation joined twice on int keys; exact Pearson moments",
    "embedding_norm_profile": "exact micro^2 fold inside the scan; |labels| rollup",
    "hurst_rescaled_range": "(w, block)-keyed exact-int deviations; 3-row log-log fit",
    "contrastive_negative_pairs": "256-pool TakeOrdered broadcast; anchor-partitioned top-k",
    "wasserstein_price_drift": "distinct-cents EDF walk; exact gap x step sums; one row",
    "hellinger_tvd_drift": "1-row bounds broadcast; 20-bin exact counts; ordered BC fold",
    "aipw_doubly_robust": "memoized propensity + 1-row OLS coefs broadcast; two scans total",
    "regression_discontinuity_spend": "bandwidth filter prunes the dim scan; one conditional-moment row",
    "raking_ipf_weights": "star join to 25 cells; 8 partitioned-window half-steps on constants",
    "theta_method_forecast": "daily pre-agg feeds FlatMapGroupsInPandas; SES + exact OLS drift",
    "croston_intermittent_demand": "sparse demand relation only; per-key O(points) integer state",
    "periodogram_daily_revenue": "day-bounded t-index; x14 k-grid broadcast; exact HUGEINT sums",
    "burrows_delta_sources": "one filtered explode; |sources| x 16 z-grid; pair join on words",
    "platt_recalibrated_ece": "bounded-sample (a,b) fit; ONE scan scores both calibrations",
    "capture_recapture_distinct": "two hash-distinct passes; overlap equi-join; 1-row Chapman",
    "embedding_isotropy_profile": "64-dim partial sums per label; exact micro^2; one division",
    "grid_dbscan_clusters": "one bin+count pass; <=256-cell bounded collect; driver union-find",
    "matrix_profile_daily": "calendar-bounded half-pair BNLJ, repartitioned probe; exact int dists",
    "textrank_keywords": "doc-keyed positional pairs; vocab-bounded 3-iteration rank joins",
    "join_key_skew_profile": "three keyed aggregates collapsing to 1-row skew summaries",
    "qlm_dirichlet_search": "term-filtered postings; 3-row term stats broadcast; TakeOrdered",
    "cdc_chunk_dedup": "chunking entirely inside the scan; exchange carries (source, len, hash)",
    "forecast_model_mase": "two FlatMapGroupsInPandas fits + two window selections; |types|x7 joins",
    "mediation_baron_kenny": "one equi-join scan to a single exact-moment row",
    "iv_wald_estimate": "spend rollup + dim scan; 1-row Wald algebra",
    "huber_irls_regression": "bounded TakeOrdered sample collect; one residual scan",
    "ppmi_top_axis": "positional pair shuffle -> <=48x48 cells; bounded collect iteration",
    "pass_at_k_estimate": "one user-keyed aggregate; 3-row estimator summary",
    "self_bleu_diversity": "shingle explode; reference hashes broadcast; micro-int means",
    "randomized_response_estimate": "one scan, hash-uniform coins inside it, 1-row inversion",
    "negative_binomial_fit": "daily rollup -> |types| exact-moment rows",
    "plsa_topic_terms": (
        "ONE tokenization feeding doc totals + sparse counts; 64-row "
        "P(w|z) broadcast per EM round; topics as columns, no explode"
    ),
    "propensity_stratified_ate": "one customer scan -> 5 stratum rows; 1-row ATE fold",
    "cronbach_alpha_embedding": "per-dim moment aggregate; 64-item variance fold, one row",
    "mann_whitney_drift": (
        "r13 EDF rewrite: distinct-cents walk via range-bucketed prefix "
        "sums — bucket-partitioned Window, no partition-less sort"
    ),
    "holt_residual_breaches": (
        "one keyed day-rollup exchange; per-key integer residual walk in "
        "applyInPandas; |types| rows out (streaming monitor's batch twin)"
    ),
    "dedup_cluster_sizes": "digest-keyed exchange (never text); two map-side partial rollups",
    "interarrival_exponential_fit": (
        "(type,user)-partitioned lag window — millions of small "
        "partitions, no hot sort; map-side moments to |types| rows"
    ),
    "srm_check": "user-keyed enrollment aggregate; day rollup; one exact division",
    "obf_group_sequential": "day-bounded cumulative moments via bounded_window; 1-row K broadcast",
    "brier_decomposition": "one scoring scan -> 10 bins; ordered two-sum fold; 1-row output",
    "gumbel_block_maxima": "(type,day) rollup -> (type,block) max -> |types| moment rows",
    "mean_excess_pot": "5-row literal threshold grid broadcast into one fact scan",
    "event_study_did": "dims broadcast into one fact scan; |years|x2 cells; 1-row baseline broadcast",
}

KEEP = re.compile(
    r"Scan parquet|PushedFilters: \[[^\]]|BroadcastHashJoin|SortMergeJoin|"
    r"ShuffledHashJoin|Exchange|HashAggregate|Window|ArrowEvalPython|"
    r"FlatMapGroupsInPandas|TakeOrderedAndProject"
)


def main() -> None:
    from dawis_spark.session import get_spark
    from dawis_spark import queries as q

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plans", shuffle_partitions=32)
    out = [
        "# PLANS — physical-plan evidence for the headline queries\n",
        "Generated by tools/dump_plans.py (`.explain('formatted')`, sf0.1,",
        "local[32]). Lines filtered to scans/joins/exchanges so the shape is",
        "readable; full plans reproduce with the tool.\n",
    ]
    for name, note in PICKS.items():
        df = q.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        lines = [l.rstrip() for l in buf.getvalue().splitlines() if KEEP.search(l)]
        out += [f"## {name}\n\n_{note}_\n", "```", *lines[:28], "```\n"]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()

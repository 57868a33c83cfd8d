"""Physical-plan regression guards.

PLANS.md documents the plan shapes we ship; these tests pin the
load-bearing properties so a refactor can't silently regress them —
pushdown reaching the scan, dims broadcasting, single-scan compositions
staying single-scan. Asserted on the executed plan at sf0.001 (plan
shape, not timing, so the smallest data suffices — broadcast decisions
below are AQE-independent: dims are far under the static threshold).
"""

from dawis_spark import queries as q
from dawis_spark.catalog import register_testdata

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    register_testdata(spark, SF_DIR)
    df = q.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_reaches_parquet_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q5_dims_broadcast_not_sortmerge(spark):
    plan = _plan(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_filter_single_scan(spark):
    plan = _plan(spark, "corpus_filter_pipeline")
    assert plan.count("Scan parquet") == 1


def test_source_quality_rollup_no_self_join(spark):
    plan = _plan(spark, "source_quality_rollup")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_range_join_stays_hash_no_nested_loop(spark):
    plan = _plan(spark, "events_following_1h")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_top_k_uses_take_ordered(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan


def test_capped_duplicate_diff_uses_bounded_window_plan(spark):
    """The capped duplicate-diff default must never materialize a group's
    full id list: the plan ranks ids with a window (sort-based, spills)
    and only the rn <= K+1 survivors reach the collect_list aggregate."""
    plan = _plan(spark, "duplicate_detection")
    assert "row_number" in plan
    assert "collect_list" in plan  # bounded: fed by the rn filter
    # the parity opt-in keeps the whole-group collect_list and no window
    parity = _plan(spark, "duplicate_detection_parity")
    assert "row_number" not in parity


def test_pq_adc_scan_shapes(spark):
    """The PQ family's load-bearing physical properties: the flat ADC
    scan pairs via broadcast nested-loop (deliberate — a linear scan has
    no equi-key; the broadcast side is the queries), and IVFPQ replaces
    it with an equi-join on the coarse bucket id. Neither sort-merges."""
    flat = _plan(spark, "embedding_ann_pq")
    assert "BroadcastNestedLoopJoin" in flat
    assert "SortMergeJoin" not in flat
    ivfpq = _plan(spark, "embedding_ann_ivfpq")
    assert "BroadcastHashJoin" in ivfpq
    assert "BroadcastNestedLoopJoin" not in ivfpq
    assert "SortMergeJoin" not in ivfpq


def test_filtered_ivf_pushes_label_filter_to_scan(spark):
    # composed filtered ANN: the label predicate must reach the parquet
    # scan (row-group pruning BEFORE any vector compute), and the IVF
    # probe join must stay a broadcast of the bucketed query side
    plan = _plan(spark, "embedding_filtered_ann_ivf")
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_broadcast_threshold_split_pinned(spark):
    # session.py ships a conservative 16 MiB STATIC broadcast cap (the
    # planner's file-size estimate broadcast a 6M-row pruned fact at
    # 64 MiB — a build-side OOM at cluster scale) and a generous 64 MiB
    # AQE runtime cap (exact post-shuffle sizes). A config edit that
    # collapses the split regresses sf1 q5/q2/q18 3.5x — pin both values.
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(
        16 * 1024 * 1024
    )
    assert spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ) == str(64 * 1024 * 1024)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_ngram_hydration_joins_stay_shuffle_hash(spark):
    # the pair-id -> shingle-set hydration joins carry a corpus-sized
    # relation on both sides: they must stay SHUFFLE_HASH (hinted in
    # operators/dedup.py) — broadcast would ship the corpus, sort-merge
    # would pay two wide sorts for nothing
    plan = _plan(spark, "ngram_jaccard_topk")
    assert "ShuffledHashJoin [id_a" in plan
    assert "ShuffledHashJoin [id_b" in plan


def test_kmv_single_bounded_exchange(spark):
    # KMV's selling point: map-side k-truncation (_kmv_partial) means ONE
    # hash exchange carrying <= k hashes per key per task — a second
    # exchange (or a groupBy on (key, pid)) would mean the truncation
    # regressed to post-shuffle, i.e. exact-count-distinct shuffle volume
    from dawis_spark.catalog import register_testdata
    from dawis_spark.operators.sketches import kmv_distinct

    register_testdata(spark, SF_DIR)
    df = kmv_distinct(spark.table("events"), ["event_type"], "user_id", 64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan


def test_bloom_probe_filters_before_any_exchange(spark):
    """The bloom probe's value is map-side pruning: the membership test
    must sit inside the fact scan stage (a Filter with the forall
    predicate below the first Exchange), not after a shuffle."""
    from dawis_spark.operators.bloomjoin import bloom_build, bloom_probe

    register_testdata(spark, SF_DIR)
    keys = spark.table("supplier").select("s_suppkey").limit(5)
    bloom = bloom_build(keys, "s_suppkey", m=128, d=2)
    probed = bloom_probe(spark.table("lineitem"), "l_suppkey", bloom, m=128, d=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the filter references the broadcast bloom array, and the fact side
    # reaches it without a shuffle exchange in between
    fact_side = plan.split("Scan parquet")[0]
    assert "forall" in plan
    assert "Exchange hashpartitioning" not in fact_side


def test_classifier_is_single_scan_no_shuffle(spark):
    """Classifier inference must stay inside the document scan: one
    parquet scan, no hash-partition exchange anywhere (the only allowed
    exchanges are the broadcast of the model row and the final sort)."""
    plan = _plan(spark, "quality_classifier_scores")
    assert plan.count("Scan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_pagerank_inlines_node_count_no_cartesian(spark):
    """The iteration joins shuffle edge/rank relations; the node count
    is driver-collected once and inlined as a literal (r15 — it used to
    ride a 1-row crossJoin broadcast, one build job per iteration), so
    the plan must carry NEITHER a cartesian product NOR the nested-loop
    join the old crossJoin produced."""
    plan = _plan(spark, "pagerank_top_nodes")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sampled_quantiles_sample_predicate_inside_scan_stage(spark):
    """The 5% hash-sample filter must evaluate before the window sort's
    exchange — the whole point is that the sort sees only the sample."""
    plan = _plan(spark, "sampled_quantiles")
    # the filter appears under the scan (same stage), i.e. before the
    # first hashpartitioning exchange in the plan text for that subtree
    assert "% 1000000) < 50000" in plan.replace("\n", " ")


def test_selection_quantiles_sort_only_chosen_buckets(spark):
    """rank_quantiles_select's big win: the full-data exchanges are the
    bucket-count aggregation (map-side partial, group×bucket-bounded)
    and the candidate filter join must be a broadcast (picked buckets),
    so the row_number sort only ever sees chosen-bucket rows."""
    from dawis_spark.operators.sketches import rank_quantiles_select

    register_testdata(spark, SF_DIR)
    df = spark.table("lineitem")
    out = rank_quantiles_select(df, ["l_returnflag"], "l_extendedprice", [50, 99])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan          # picked-bucket semi filter
    assert "CartesianProduct" not in plan
    # one in-bucket rank window, and the twice-referenced ``chosen``
    # relation reads from cache (its count-scan lineage prints under an
    # InMemoryTableScan, not as a second live scan pipeline)
    import re
    assert len(re.findall(r"Window \[row_number", plan)) == 1
    assert "InMemoryTableScan" in plan


def test_dsir_scoring_is_single_scan_no_shuffle(spark):
    # DSIR scoring must stay the classifier plan: the lambda literal
    # folds inside the raw-corpus scan; the only exchange allowed is the
    # final presentation sort. (Training runs eagerly before the plan is
    # built — the returned DF is scoring only.)
    plan = _plan(spark, "dsir_importance_weights")
    body = plan.split("Sort")[-1]  # below the orderBy: the scoring scan
    assert body.count("Scan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_refine_pool_and_queries_broadcast_into_corpus_scan(spark):
    # IndexRefineFlat: the candidate pool and the query vectors must
    # BROADCAST into the corpus (id, vec) fetch — a raw embedding must
    # never cross a shuffle exchange in the refine stage.
    plan = _plan(spark, "embedding_ann_refined")
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_phrase_relation_broadcasts_into_postings(spark):
    # the config-sized phrase relation must broadcast; the postings side
    # must not be broadcast or sort-merge joined against it
    plan = _plan(spark, "phrase_search")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_shares_key_partitioning_across_stages(spark):
    # bounds agg, spine join and the LOCF window all key on user_id: the
    # plan must not degenerate into a nested-loop/cartesian spine
    plan = _plan(spark, "gapfill_daily_user_value")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicated_spans_shuffles_hashes_not_bodies(spark):
    # the frequency semi join must stay a hash join on the 8-byte window
    # hash; document text must be pruned out before any exchange (the
    # exchanges carry (doc_id, pos, wh) only)
    plan = _plan(spark, "duplicated_spans")
    assert "SortMergeJoin" not in plan or "text" not in plan.split("SortMergeJoin")[1][:400]
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg[:200]
        assert "text#" not in head, head


def test_ivm_changed_keys_broadcast_never_sortmerge(spark):
    # the delta rule's retract/re-derive passes must probe the view with
    # the BROADCAST tick-sized key set; a sort-merge there would shuffle
    # history every tick
    plan = _plan(spark, "incremental_join_2ticks")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_trend_slopes_single_pass_no_join(spark):
    # five sufficient statistics in one aggregation: no join, no window,
    # one fact scan
    plan = _plan(spark, "trend_slopes")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_token_entropy_no_exchange_before_sort(spark):
    # sorted-run entropy is entirely map-side: the only exchange is the
    # presentation orderBy's range partitioning
    plan = _plan(spark, "token_entropy")
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Scan parquet") == 1


def test_prefix_filter_candidates_join_postings_not_arrays(spark):
    """The AllPairs candidate join must run on prefix-token POSTINGS —
    (id, size, int64 key) rows — with the id-order and length filters
    applied AT the join, and shingle arrays hydrated only afterwards
    via the hinted shuffle-hash verify joins. A regression that
    hydrates arrays before candidate generation (or broadcasts the
    corpus) turns the exact join quadratic in bytes at 100 TB."""
    import re

    plan = _plan(spark, "prefix_filter_similar")
    # candidate join keyed on the composite (df, hash) int64 postings key,
    # with the AllPairs length filter, the PPJoin positional filter
    # (r16: least(sz - p) bound) and the id-order filter all inline in
    # the join condition
    key_join = re.search(
        r"Join \[key#\d+L\], \[key#\d+L\], Inner, \w+, "
        r"\(+greatest\(sz_a.*least\(\(sz_a#\d+ - p_a"
        r".*id_a#\d+L < id_b#\d+L",
        plan,
    )
    assert key_join, "candidate join on postings key (with length+positional filters) missing"
    # posting relations feeding it carry no shingle arrays — since the
    # r15 persist of the prefix postings they arrive as cached
    # (id, size, prefix-position, key) quadruples (the size() is
    # computed BELOW the cache point), still array-free
    assert re.search(
        r"InMemoryTableScan \[id_a#\d+L, sz_a#\d+, p_a#\d+, key#\d+L\]", plan
    )
    assert re.search(
        r"InMemoryTableScan \[id_b#\d+L, sz_b#\d+, p_b#\d+, key#\d+L\]", plan
    )
    # verification hydrates by pair id via shuffle-hash, never broadcast
    assert "ShuffledHashJoin [id_a" in plan
    assert "ShuffledHashJoin [id_b" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mask_spans_tokens_never_cross_hash_exchange(spark):
    """dedup_masked_text: the only hash exchanges are the window-hash
    frequency count and the (doc_id, pos) island merge — 8-byte rows.
    Document bodies/token arrays must never hash-partition: the span
    relation (tiny, maximal merged runs) broadcasts into the docs scan
    and masking is a map-side expression."""
    import re

    plan = _plan(spark, "dedup_masked_text")
    # spans broadcast into the docs side (left outer on doc id)
    assert re.search(r"Join \[doc_id#\d+L\], \[doc_id#\d+L\], LeftOuter", plan)
    # island-merge window's exchange carries (doc_id, pos) only
    assert re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L, \d+\), ENSURE_REQUIREMENTS[^\n]*\n"
        r"\s*\+- Project \[doc_id#\d+L, pos#\d+L?\]",
        plan,
    )
    # no hash exchange ever carries the text column or token arrays
    assert not re.search(r"Exchange hashpartitioning\([^)]*(text|__t)#", plan)


def test_nsw_build_salted_and_no_cartesian(spark):
    """NSW graph build must stay cell-scoped and SALTED: the sf1
    rehearsal caught the bare cid join capping parallelism at the cell
    count, and then AQE's size-based coalescing collapsing the exchange
    under the heavy scoring fold — so the edge-build inputs must arrive
    via AQE-exempt REPARTITION_BY_NUM exchanges on (cid, salt). The
    only nested-loop allowed is the 16-row salt fan-out broadcast
    (the pagerank single-row-crossJoin shape); no CartesianProduct."""
    plan = _plan(spark, "embedding_ann_nsw")
    assert "CartesianProduct" not in plan
    assert "REPARTITION_BY_NUM" in plan


def test_logreg_iteration_shapes(spark):
    """The trainer's two per-round jobs must keep their shapes: margin
    scoring is a fold against LITERAL weights inside the scan (no
    explode, no join); the gradient job's only hash exchange is the
    (dim+1)-key integer aggregation with map-side partials."""
    from pyspark.sql import functions as F

    from dawis_spark.operators.logreg import _xs_expr, margin_expr

    register_testdata(spark, SF_DIR)
    emb = spark.table("embeddings")
    w = [0.01] * 65
    scored = emb.select(F.expr(margin_expr("embedding", w)).alias("m"))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode in the scoring path
    assert "Exchange hashpartitioning" not in plan

    grad = (
        emb.select(
            F.expr("cast(0.1 as double)").alias("__r"),
            F.posexplode(F.expr(_xs_expr("embedding"))).alias("__d", "__x"),
        )
        .select("__d", F.expr("cast(round(__r * __x * 1000000) as bigint)").alias("__g"))
        .groupBy("__d")
        .agg(F.sum("__g").alias("__g"))
    )
    gplan = grad._jdf.queryExecution().executedPlan().toString()
    assert gplan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in gplan  # map-side combine before the 65-key exchange


def test_hll_exchange_is_partial_max_on_64_keys(spark):
    """The HLL register build must combine map-side: the only hash
    exchange carries (j, partial-max) pairs, never raw hashes."""
    from dawis_spark.operators.sketches import hll_registers

    register_testdata(spark, SF_DIR)
    regs = hll_registers(spark.table("events"), "event_id")
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan


def test_funnel_no_cartesian_and_user_copartitioned(spark):
    """Funnel steps chain on user_id joins; nothing may degrade to a
    nested-loop over the fact table."""
    plan = _plan(spark, "funnel_conversion")
    assert "CartesianProduct" not in plan
    # every hash exchange in the step chain is on user_id
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert "user_id" in m.group(1)


def test_transitions_single_user_window_exchange(spark):
    """The path-pairs window is the only shuffle that moves EVENT ROWS;
    the whale guard's exchanges carry (user_id, count) pairs only, and
    later aggregations are event-type-cardinality-sized. Asserted by
    payload: exactly one user_id exchange segment carries ts/event_type
    columns."""
    plan = _plan(spark, "event_transitions")
    segs = plan.split("Exchange hashpartitioning(user_id")[1:]
    assert segs, "expected a user_id-keyed window exchange"
    row_moving = [s for s in segs if "ts#" in s[:400] or "event_type#" in s[:400]]
    assert len(row_moving) == 1, f"{len(row_moving)} event-row exchanges"
    assert "CartesianProduct" not in plan


def test_pps_sample_zero_exchange_before_aggregate(spark):
    """PPS inclusion + HT reweight evaluate inside the scan."""
    from dawis_spark.operators.sketches import pps_sample

    register_testdata(spark, SF_DIR)
    docs = spark.table("documents").selectExpr("doc_id", "n_chars as w")
    s = pps_sample(docs, "doc_id", "w", 2100)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_containment_exchanges_carry_hashes_not_text(spark):
    # the postings self-join must shuffle (doc_id, int64 h) only — a doc
    # body crossing the shingle exchange would be corpus-bytes x df fanout
    plan = _plan(spark, "containment_near_dups")
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg[:200], seg[:200]


def test_symspell_candidates_join_on_variant_hash(spark):
    # candidate generation must be an equi-join keyed by the int64
    # variant hash, not a theta/cartesian over names; levenshtein runs
    # only above the join
    plan = _plan(spark, "symspell_name_matches")
    assert "CartesianProduct" not in plan
    assert "vh#" in plan  # the variant-hash key reaches the join
    lev_pos = plan.find("levenshtein")
    join_pos = max(plan.find("ShuffledHashJoin"), plan.find("SortMergeJoin"),
                   plan.find("BroadcastHashJoin"))
    assert lev_pos != -1 and join_pos != -1


def test_attribution_join_is_co_keyed_on_user_journey(spark):
    # the purchase<->touch join must key on BOTH user_id and journey —
    # a user-only key would fan out every touch to every purchase
    plan = _plan(spark, "position_attribution")
    assert "CartesianProduct" not in plan
    import re
    m = re.search(r"HashJoin \[(user_id#\d+L?), (journey#\d+L?)\]", plan)
    assert m, "expected a 2-key (user_id, journey) hash join"


def test_rolling_median_fanout_is_map_side(spark):
    # the x7 explode must happen before (below) the (user, day) exchange
    # and no window function is used at all; r15: the observed-day gate
    # rides the SAME aggregate (MAX(o=0)) — no join of any kind and only
    # ONE events scan may remain
    plan = _plan(spark, "rolling_median_7d")
    assert "Window" not in plan
    assert "Generate explode" in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") <= 2  # one tree node + its detail


def test_feature_correlations_zero_keyed_exchange(spark):
    # one moment aggregate: the only exchange is the 1-row partial-agg
    # gather (SinglePartition); no hashpartitioning anywhere
    plan = _plan(spark, "feature_correlations")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" in plan


def test_graph_iterations_no_cartesian_and_persisted_state(spark):
    """PPR/HITS/k-core/BFS: every iteration joins on node keys — no plan
    may degrade to a cartesian/nested-loop over edges, and the reused
    per-iteration state (survivors, half-step scores, edges) must come
    from InMemoryRelation, not a recomputed prefix (the exponential-
    re-evaluation bug the HITS persist fixed)."""
    for name in (
        "personalized_pagerank",
        "hits_hub_authority",
        "kcore_trade_graph",
        "bfs_hop_distribution",
        "community_detection_lpa",
        "bellman_ford_fastest_supply",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "InMemoryTableScan" in plan, name


def test_weighted_median_second_pass_is_bucket_filtered(spark):
    """weighted_median_select: the full-data exchange carries bucket
    WEIGHT SUMS; the value sort happens only after the broadcast
    picked-bucket semi filter (second pass touches chosen buckets)."""
    plan = _plan(spark, "weighted_median_price")
    assert "CartesianProduct" not in plan
    # the chosen-bucket relation reaches the candidates scan as a broadcast
    assert "BroadcastHashJoin" in plan


def test_holt_shuffles_daily_aggregates_not_raw_events(spark):
    """holt_linear: the applyInPandas group exchange must sit on TOP of
    the daily pre-aggregate — partial_sum before the event_type hash
    exchange — so the pandas stage receives (type, day, cents) rows,
    never raw events."""
    plan = _plan(spark, "holt_linear_forecast")
    assert "FlatMapGroupsInPandas" in plan
    # tree text prints children BELOW the pandas node: the daily
    # aggregate (partial_sum + final HashAggregate) must feed it
    below = plan.split("FlatMapGroupsInPandas", 1)[1]
    assert "partial_sum" in below and "HashAggregate" in below
    assert below.count("Scan parquet") == 1


def _partitionless_windows(plan: str) -> list[str]:
    """Window nodes with an empty partition spec — the ones WindowExec
    warns about and that single-partition the whole input. A partitioned
    node prints ``Window [funcs], [partSpec], [orderSpec]`` (three
    bracket groups); an unpartitioned-with-order one prints only
    ``[funcs], [orderSpec]`` — distinguished from partitionBy-without-
    orderBy (``[funcs], [partSpec]``) by the ASC/DESC markers only sort
    specs carry."""
    out = []
    for line in plan.splitlines():
        s = line.strip()
        i = s.find("Window [")
        if i < 0:
            continue
        segs = s[i:].split("], [")
        if len(segs) >= 3:
            continue
        if len(segs) == 2 and not (" ASC" in segs[1] or " DESC" in segs[1]):
            continue
        out.append(s[i : i + 110])
    return out


# Partition-less windows ADJUDICATED as scale-safe: their window input is
# bounded by something other than data size (distinct VALUES of a bounded
# domain, a candidate pool, a top-k/limit result, a time spine) — a 100x
# data scale-up grows the windowed relation sublinearly or not at all.
# Anything NOT in this dict that plans a partition-less window over a
# data-sized relation is the r8/r10 failure class and fails the pin.
# EMPTY since r14: every adjudication now lives in code — the query
# itself calls plans.bounded.{bounded_window,register_bounded} at plan
# build, naming its bound class and window count. The dict (and the
# freeze test below) remain as the structural guarantee that prose
# adjudications can never come back.
_PARTITIONLESS_WINDOW_WHITELIST: dict[str, str] = {}


def test_whole_inventory_has_no_unadjudicated_partitionless_windows(spark):
    """The r8/r10 verdict class, pinned INVENTORY-WIDE: a Window with no
    partition spec moves its whole input to one task (WindowExec's 'No
    Partition Defined' WARN) — the single-sort face-plant at 100 TB.
    curriculum_buckets / rfm_segments / gini_concentration (r10) and
    pareto_customers / pareto_frontier_parts / sorted_neighborhood_matches
    / cm_heavy_hitters / classifier_auc_eval (r11) were rewritten onto
    range_partitioned_ranks / TakeOrdered; this test compiles EVERY
    inventory query and fails on any partition-less window outside the
    adjudicated bounded-input whitelist, so the class cannot regrow."""
    from dawis_spark.plans.bounded import (
        BOUNDED_WINDOW_REGISTRY,
        registered_window_count,
    )

    flagged = {}
    for name in q.QUERIES:
        plan = _plan(spark, name)
        bad = _partitionless_windows(plan)
        if bad:
            flagged[name] = bad
        spark.catalog.clearCache()
    # plan-build-time adjudications (dawis_spark/plans/bounded.py) union
    # with the FROZEN legacy prose list — new queries must use the former.
    # Registry adjudications are COUNT-aware (r14, closes the r13
    # query-granular hole): a query may plan at most as many
    # partition-less Window nodes as it registered, so a later
    # unregistered window can't ride an earlier adjudication. The prose
    # whitelist stays query-granular — one more reason it must shrink.
    unadjudicated = {}
    for n, hits in flagged.items():
        if n in _PARTITIONLESS_WINDOW_WHITELIST:
            continue
        if n in BOUNDED_WINDOW_REGISTRY:
            if len(hits) <= registered_window_count(n):
                continue
            unadjudicated[n] = (
                f"{len(hits)} partition-less windows, only"
                f" {registered_window_count(n)} registered: {hits[0]}"
            )
            continue
        unadjudicated[n] = hits[0]
    assert not unadjudicated, unadjudicated
    # keep the whitelist honest: entries whose queries no longer plan a
    # partition-less window should be removed, not accumulate
    stale = set(_PARTITIONLESS_WINDOW_WHITELIST) - set(flagged)
    assert not stale, f"whitelist entries no longer needed: {stale}"


# The legacy prose whitelist as of round 13, after the eight
# "distinct cents (value-bounded domain)" EDF-walk entries were migrated
# onto range_partitioned_ranks (stats.value_cum_walk). FROZEN: the prose
# dict may only SHRINK from here — a new query needing a bounded global
# window must route through plans/bounded.py's bounded_window(), which
# registers the adjudication at plan-build time. This pin is what makes
# the r12 verdict's "stop the whitelist's growth structurally" ask
# enforceable rather than aspirational.
_WHITELIST_FROZEN_R13: frozenset = frozenset(
    {
        "perplexity_quality_bands",
        "hybrid_search_rrf",
        "frequent_event_sequences",
        "benford_first_digit",
        "stratified_quota_sample",
        "wordpiece_vocab",
        "ks_statistic_classifier",
        "rank_biased_overlap",
        "bootstrap_ci_order_value",
        "spearman_daily_rev_orders",
        "acf_daily_revenue",
        "ljung_box_daily_revenue",
        "granger_orders_to_revenue",
        "runs_test_daily_revenue",
        "page_hinkley_drift",
        "hurst_rescaled_range",
        "ar2_forecast_daily",
        "binseg_changepoints_daily",
        "conformal_interval_price",
        "fdr_bh_nation_urgency",
        "ccf_orders_vs_revenue",
        "search_mrr_eval",
        "search_ndcg_eval",
        "search_map_eval",
        "spc_xbar_breaches",
        "msprt_sequential_monitor",
        "bca_ci_order_value",
        "plsa_topic_terms",
        "ltv_projection_curve",
        "periodogram_daily_revenue",
        "matrix_profile_daily",
    }
)


def test_partitionless_whitelist_is_frozen():
    """Monotone non-increase, enforced: no name may ever be ADDED to the
    prose whitelist again (removals are fine — that's the goal). New
    bounded-window queries carry their adjudication in code via
    bounded_window() instead."""
    extras = set(_PARTITIONLESS_WINDOW_WHITELIST) - _WHITELIST_FROZEN_R13
    assert not extras, (
        f"prose whitelist grew: {sorted(extras)} — route new bounded"
        " global windows through dawis_spark.plans.bounded.bounded_window"
    )


def test_bounded_window_rejects_unknown_class_and_empty_reason(spark):
    # the spark fixture makes the test order-independent: Window.orderBy
    # inside bounded_window needs an active SparkContext, which a
    # standalone run of this test would otherwise not have (ADVICE r13)
    import pytest as _pytest

    from dawis_spark.plans.bounded import (
        BOUNDED_WINDOW_REGISTRY,
        bounded_window,
    )

    with _pytest.raises(ValueError, match="unknown bound class"):
        bounded_window("some_query", "it-is-fine-trust-me", "reason", "c")
    with _pytest.raises(ValueError, match="explicit reason"):
        bounded_window("some_query", "day-spine", "  ", "c")
    spec = bounded_window(
        "__test_probe__", "day-spine", "one row per day in the window", "c"
    )
    # rebuild-idempotent: the same (class, reason) re-registers into the
    # same slot; a SECOND distinct window needs its own reason (or
    # register_bounded n_windows) and raises the adjudicated node count
    bounded_window(
        "__test_probe__", "day-spine", "one row per day in the window", "c"
    )
    from dawis_spark.plans.bounded import (
        register_bounded,
        registered_window_count,
    )

    assert registered_window_count("__test_probe__") == 1
    register_bounded(
        "__test_probe__", "candidate-pool", "top-k fused pool", n_windows=2
    )
    assert registered_window_count("__test_probe__") == 3
    ((cls, _), _) = BOUNDED_WINDOW_REGISTRY["__test_probe__"]
    assert cls == "day-spine"
    del BOUNDED_WINDOW_REGISTRY["__test_probe__"]
    # the returned spec chains like any WindowSpec
    spec.rowsBetween(-1, 0)


def test_whale_guard_broadcasts_whale_set_in_query(spark):
    # the guard's whole point: the hot-key set reaches the events scan
    # as a broadcast, never a data-sized shuffle join
    plan = _plan(spark, "whale_guarded_transitions")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cs_heavy_hitters_take_ordered_and_broadcast_sketch(spark):
    plan = _plan(spark, "cs_heavy_hitters")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_fellegi_sunter_no_cartesian_product(spark):
    # (brand, size) equi-block join over the distinct-record catalog —
    # a cartesian/BNLJ here would be the quadratic face-plant the sf1
    # rehearsal caught in the row-level form
    plan = _plan(spark, "fellegi_sunter_patterns")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_customers_offsets_inlined(spark):
    # r15: the bucket-offset relation (<= 1024 exact integers) is
    # collected at plan-build and inlined as a literal array — the
    # per-row offset lookup is element_at on that literal, so NO join
    # (hash or shuffle) may exist for the offsets; the pooled revenue
    # total and customer count are the walk's own literals, so no join
    # remains at all
    plan = _plan(spark, "pareto_customers")
    assert "element_at" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_nb_chain_single_tokenization_and_no_text_in_exchanges(spark):
    """The naive-Bayes train tokenization feeds ONE materialized count
    exchange that its multiple consumers (tl/vt/seen) REUSE — the plan
    must show exchange reuse after execution, not re-tokenize per
    consumer — and no raw ``text`` column may cross a hash exchange
    (text stays map-side; only (lang, token, count) shuffles)."""
    register_testdata(spark, SF_DIR)
    df = q.QUERIES["naive_bayes_langid"](spark, SF_DIR)
    df.collect()  # adaptive-final plan shows ReusedExchange only post-run
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg[:300], seg[:300]


def test_mcnemar_paired_join_is_doc_keyed_equi_join(spark):
    """McNemar pairs the two classifiers' predictions per document: the
    pairing must be doc_id equi-joins (hash/broadcast), never a theta
    or cartesian pairing, and text stays out of every exchange."""
    plan = _plan(spark, "mcnemar_langid_vs_nb")
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(doc_id") >= 1
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg[:300], seg[:300]


def test_logreg_training_collect_is_sample_bounded(spark):
    """The classifier family's training collect must be the bounded
    TakeOrdered of the lowest-id sample — the plan form of the
    sample_limit discipline (a full-input collect here is the r11
    scale-killer)."""
    from pyspark.sql import functions as F

    from dawis_spark.operators.logreg import _xs_expr

    register_testdata(spark, SF_DIR)
    emb = spark.table("embeddings")
    sample = (
        emb.select(
            F.col("vec_id").alias("__id"),
            F.expr(_xs_expr("embedding")).alias("__xs"),
            F.expr("cast(label as double)").alias("__y"),
        )
        .orderBy("__id")
        .limit(q._LOGREG_SAMPLE_LIMIT)
    )
    plan = sample._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_matrix_profile_repartitioned_probe_and_exact_ints(spark):
    # the O(days^2) nested-loop pair scan must parallelize: the probe
    # side is explicitly repartitioned (an Exchange above the window
    # walk) and the build side broadcasts — a single-partition BNLJ
    # was the 25s -> 12s fix recorded in SCALE.md
    plan = _plan(spark, "matrix_profile_daily")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning(t" in plan


def test_burrows_delta_word_grid_broadcast(spark):
    # the |sources| x 16 grid builds from a broadcast word relation and
    # broadcast per-word stats — no data-sized shuffle after the one
    # filtered token explode
    plan = _plan(spark, "burrows_delta_sources")
    assert "BroadcastHashJoin" in plan


def test_textrank_rank_iterations_join_on_int_free_vocab(spark):
    # three unrolled rank iterations: edges⋈ranks hash joins, never a
    # cartesian; the pair source shuffles on doc_id only
    plan = _plan(spark, "textrank_keywords")
    assert "CartesianProduct" not in plan


def test_qlm_term_filter_before_shuffle(spark):
    # the postings explode is filtered to the 3 query terms directly
    # above the Generate, inside the scan stage — the inverted-index
    # posture (only matching (doc, token) rows reach the tf exchange)
    plan = _plan(spark, "qlm_dirichlet_search")
    i_filter = plan.index("IN (spark,hash,window)")
    i_gen = plan.index("Generate explode")
    assert i_filter < i_gen  # filter consumes the explode pre-shuffle

"""Query inventory, part 6/6 (definition order preserved from the pre-split queries.py; see _registry.REGISTRY_ORDER).

Retrieval eval tail, causal designs (IPW/AIPW/IV/RDD/mediation), privacy (DP/randomized response), reliability, LM eval matrix.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawis_spark.functions.folds import ordered_sum
from dawis_spark.queries._fragments import (
    DAILY_REV_ORDERS_CTE,
    bm25_ctes,
    daily_rev_orders,
)
from dawis_spark.queries._registry import query
from dawis_spark.queries.q01_spine_dedup_ann import (
    _TXT,
    _VEC,
)
from dawis_spark.queries.q02_corpus_quality_classifiers import (
    _ITEM_DUCK,
    _ITEM_SPARK,
    _LOGREG_SAMPLE_LIMIT,
    _LOGREG_Y_SPARK,
    _logreg_chain_ctes,
    _trained_logreg_w,
)
from dawis_spark.queries.q03_graph_linkage_search import (
    _BOOT_A,
    _BOOT_B,
    _BOOT_C,
    _IR_K,
    _IR_QUERIES,
    _bootstrap_weight_case,
)
from dawis_spark.queries.q05_timeseries_stats import (
    _loo_vocab_oracle,
)

@query("leave_one_source_out_vocab", oracle=_loo_vocab_oracle())
def leave_one_source_out_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out VOCABULARY ABLATION: for each source, how
    many token types exist ONLY there — i.e. the exact vocabulary the
    corpus loses if that source is dropped from the mix. The data-
    ablation question ('what does each source uniquely contribute?')
    answered in ONE pass instead of |sources| corpus rebuilds: a type
    vanishes under leave-one-out removal iff its source-spread is 1.
    Complements source_mixture_weights (how much) and dsir (how
    relevant) with WHAT'S IRREPLACEABLE.

    Exactness: distinct (source, token) pairs and per-token source
    spreads are exact integers; shares pay one division each.

    Scale: one explode collapsed by DISTINCT to the (source, token)
    relation; the spread count and the join back are token-hash-keyed
    shuffles carrying only (token, small ints); output is |sources|
    rows."""
    toks = _TXT.tokens("text", "spark")
    tok = (
        spark.table("documents")
        .selectExpr("source", f"explode({toks}) AS token")
        .distinct()
    )
    spread = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources")
    )
    scored = tok.join(spread.hint("shuffle_hash"), "token")
    tot = spread.agg(F.count(F.lit(1)).cast("bigint").alias("vocab_all"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("exclusive_types"),
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_types",
            "exclusive_types",
            "ROUND(CAST(exclusive_types AS DOUBLE) / n_types, 6)"
            " AS exclusive_share",
            "vocab_all",
            "ROUND(CAST(exclusive_types AS DOUBLE) / vocab_all, 6)"
            " AS vocab_loss_if_removed",
        )
        .orderBy("source")
    )


def _map_eval_oracle(k1: float, b: float, k: int) -> str:
    parts = []
    for qid, terms in _IR_QUERIES:
        rel_pred = " AND ".join(f"list_contains(__toks, '{t}')" for t in terms)
        parts.append(
            f"""
SELECT * FROM (
{bm25_ctes(terms, k1, b, "scored")},
top AS (
  SELECT doc_id, ROUND(SUM(contrib), 6) AS bm25
  FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT {k}
),
rk AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM top
),
rel AS (SELECT doc_id, ({rel_pred}) AS rel FROM base),
nrel AS (SELECT CAST(COUNT(*) FILTER (rel) AS BIGINT) AS n_relevant FROM rel),
walk AS (
  SELECT rk.rank, rel.rel,
         SUM(CASE WHEN rel.rel THEN 1 ELSE 0 END)
           OVER (ORDER BY rk.rank) AS cumrel
  FROM rk JOIN rel USING (doc_id)),
apn AS (
  SELECT COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           COALESCE(list(CAST(cumrel AS DOUBLE) / rank ORDER BY rank), [])),
           (a, e) -> a + e), 0.0) AS ap_num
  FROM walk WHERE rel)
SELECT {qid} AS query_id, nrel.n_relevant,
       ROUND(ap_num / GREATEST(LEAST(nrel.n_relevant, {k}), 1), 6)
         AS ap_at_{k}
FROM apn CROSS JOIN nrel
)"""
        )
    u = " UNION ALL ".join(parts)
    return f"""
WITH u AS ({u}),
m AS (
  SELECT ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(ap_at_{k} ORDER BY query_id)), (a, e) -> a + e)
           / COUNT(*), 6) AS map_at_{k}
  FROM u)
SELECT u.query_id, u.n_relevant, u.ap_at_{k}, m.map_at_{k}
FROM u CROSS JOIN m ORDER BY u.query_id
"""


@query("search_map_eval", oracle=_map_eval_oracle(1.2, 0.75, _IR_K))
def search_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Average Precision for the BM25 retriever: per query,
    AP@20 = (sum over relevant hits of precision-at-that-rank) /
    min(R, 20) against exact AND-containment ground truth, plus the
    across-query MAP — the rank-quality summary that rewards putting
    ALL relevant documents early, where MRR only scores the first
    (search_mrr_eval) and nDCG needs graded labels (search_ndcg_eval).
    Query 3 has zero relevant docs and pins the AP = 0 empty-fold path.

    Determinism: precision terms cumrel/rank are single divisions of
    exact integers; the AP sum is a rank-ordered fold over the
    bounded candidate pool; per-query APs round to 6 BEFORE the MAP
    mean (a query_id-ordered fold over 3 values).

    Scale: identical plan shape to the MRR eval — postings-filtered
    BM25 top-k, map-side relevance conjunction, k-row-bounded
    aggregates; MAP is a 3-row fold."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "search_map_eval",
        "candidate-pool",
        "rank + cumulative-precision pairs over six per-query BM25 candidate pools",
        n_windows=12,
    )
    from pyspark.sql import Window

    from dawis_spark.operators.corpus import bm25_scores_multi

    docs = spark.table("documents")
    toks = _TXT.tokens("text", "spark")
    # ONE persisted tokenization feeds every query's relevance predicate
    # (each per-term array_contains otherwise carries its own tokens()
    # call, and each query evaluated the relevance relation twice:
    # ground-truth walk + n_relevant aggregate) AND, since r15's second
    # pass, all three BM25 pipelines (bm25_scores otherwise re-tokenized
    # the corpus per query x per internal consumer)
    tokall = docs.select("doc_id", F.expr(toks).alias("__toks")).persist()
    ranked_by_qid = bm25_scores_multi(
        docs, "doc_id", "text", list(_IR_QUERIES), k1=1.2, b=0.75,
        top_n=_IR_K, tokens=tokall,
    )
    out = None
    for qid, terms in _IR_QUERIES:
        ranked = ranked_by_qid[qid].select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .alias("rank"),
        )
        rel_pred = F.expr(
            " AND ".join(f"array_contains(__toks, '{t}')" for t in terms)
        )
        rel = tokall.select("doc_id", rel_pred.alias("rel"))
        nrel = rel.agg(
            F.sum(F.when(F.col("rel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_relevant")
        )
        walk = (
            ranked.join(rel, "doc_id")
            .withColumn(
                "cumrel",
                F.sum(F.when(F.col("rel"), 1).otherwise(0)).over(
                    Window.orderBy("rank")
                ),
            )
            .filter("rel")
        )
        apn = walk.agg(
            F.coalesce(
                F.expr(ordered_sum("CAST(cumrel AS DOUBLE) / rank", "rank")),
                F.lit(0.0),
            ).alias("ap_num")
        )
        row = apn.crossJoin(F.broadcast(nrel)).selectExpr(
            f"{qid} AS query_id",
            "n_relevant",
            f"ROUND(ap_num / GREATEST(LEAST(n_relevant, {_IR_K}), 1), 6)"
            f" AS ap_at_{_IR_K}",
        )
        out = row if out is None else out.unionAll(row)
    # persisted: the 3-row AP relation feeds the MAP fold AND the final
    # join — each re-evaluation re-ran all three BM25 pipelines
    out = out.persist()
    m = out.agg(
        F.expr(
            f"ROUND({ordered_sum(f'ap_at_{_IR_K}', 'query_id')} / COUNT(*), 6)"
        ).alias(f"map_at_{_IR_K}")
    )
    return out.crossJoin(F.broadcast(m)).orderBy("query_id")


_TEMP_ALPHA_SQRT = True  # alpha = 0.5 rendered as sqrt (IEEE-exact)

_TEMP_MIX_ORACLE = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM per),
p AS (
  SELECT source, n_docs, CAST(n_docs AS DOUBLE) / n AS p_raw
  FROM per CROSS JOIN tot),
z AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(sqrt(p_raw) ORDER BY source)), (a, e) -> a + e) AS denom
  FROM p)
SELECT source, n_docs,
       ROUND(p_raw, 6) AS p_natural,
       ROUND(sqrt(p_raw) / denom, 6) AS w_temperature,
       ROUND(sqrt(p_raw) / denom / p_raw, 4) AS upsample_factor
FROM p CROSS JOIN z ORDER BY source
"""


@query("mixture_temperature_weights", oracle=_TEMP_MIX_ORACLE)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights (alpha = 0.5) for the source
    mix: w_s = p_s^alpha / sum p^alpha — the standard multilingual/
    multi-source rebalancing rule (alpha < 1 upsamples the tail so
    small sources are seen, without the uniform mix's heavy repetition
    of tiny ones). source_mixture_weights reports the NATURAL mix;
    this computes the TRAINING mix and each source's upsample factor —
    the number a data loader actually consumes.

    Determinism: alpha = 0.5 is rendered as sqrt (IEEE correctly-
    rounded, engine-identical — a pow(x, 0.5) could differ in ulp);
    the partition function is a source-ordered fold; each weight pays
    fixed divisions of identical doubles.

    Scale: one map-side count rollup to |sources| rows; everything
    after is source-cardinality-bounded."""
    per = spark.table("documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").cast("bigint").alias("n"))
    p = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source", "n_docs", "CAST(n_docs AS DOUBLE) / n AS p_raw"
    )
    z = p.agg(
        F.expr(ordered_sum("sqrt(p_raw)", "source")).alias("denom")
    )
    return (
        p.crossJoin(F.broadcast(z))
        .selectExpr(
            "source",
            "n_docs",
            "ROUND(p_raw, 6) AS p_natural",
            "ROUND(sqrt(p_raw) / denom, 6) AS w_temperature",
            "ROUND(sqrt(p_raw) / denom / p_raw, 4) AS upsample_factor",
        )
        .orderBy("source")
    )


def _mcc_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT CAST(v.y AS INT) AS y,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
conf AS (
  SELECT CAST(SUM(CASE WHEN p >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN p >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN p < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN p < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scF)
SELECT tp, fp, fn, tn,
       ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
       ROUND(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision_,
       ROUND(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall_,
       ROUND(2.0 * tp / nullif(2.0 * tp + fp + fn, 0), 6) AS f1,
       ROUND(CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE)
             / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
                         * (tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc
FROM conf
"""


@query("mcc_classifier_confusion", oracle=_mcc_oracle(64, 3, 1.0))
def mcc_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion panel at the p >= 0.5 operating point for the trained
    quality classifier: tp/fp/fn/tn, accuracy/precision/recall/F1, and
    MATTHEWS CORRELATION — the confusion-matrix correlation that stays
    honest under class imbalance where accuracy and F1 both inflate
    (the single number a gate comparison should rank by; pr_curve
    sweeps the thresholds, THIS reads the default one in depth).

    Determinism: shared trained vector; the four cells are exact
    integers off one scan; every ratio pays one division; the MCC
    numerator/denominator are exact DECIMAL38/HUGEINT products cast
    once. Scale: one scoring scan to a single 4-cell row."""
    from dawis_spark.operators.logreg import margin_expr

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-(round({margin_expr('embedding', w)}, 6)))), 6)"
    conf = emb.selectExpr(
        f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p"
    ).agg(
        F.expr("CAST(SUM(CASE WHEN p >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("tp"),
        F.expr("CAST(SUM(CASE WHEN p >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("fp"),
        F.expr("CAST(SUM(CASE WHEN p < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("fn"),
        F.expr("CAST(SUM(CASE WHEN p < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("tn"),
    )
    return conf.selectExpr(
        "tp", "fp", "fn", "tn",
        "ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy",
        "ROUND(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision_",
        "ROUND(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall_",
        "ROUND(2.0 * tp / nullif(2.0 * tp + fp + fn, 0), 6) AS f1",
        "ROUND(CAST(CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)"
        " / sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
        "             * (tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc",
    )


_DUP_RATE_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate
FROM documents GROUP BY source ORDER BY source
"""


@query("dup_rate_by_source", oracle=_DUP_RATE_ORACLE)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate RATE per source — the per-feed dedup health
    report (which sources are syndication/mirror-heavy?) that
    dedup_exact's global pass doesn't break out. The ranking a mix
    designer reads next to mixture weights: a 30%-dup source
    contributes less unique signal than its row count claims.

    Scale: Spark dedups on sha2-256 of the text so the distinct
    exchange carries 32-byte hashes, never documents (the oracle
    counts DISTINCT text directly — equal up to hash collision,
    i.e. exactly at any realistic corpus size)."""
    return (
        spark.table("documents")
        .select("source", F.sha2(F.col("text"), 256).alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("h").cast("bigint").alias("n_distinct"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_distinct",
            "ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 6) AS dup_rate",
        )
        .orderBy("source")
    )


# shared item-graph edge CTE (the item_graph_triangles construction):
# baskets capped at 128 items, co-occurrence threshold >= 6, oriented i<j
_ITEM_EDGE_CTE = f"""
b0 AS (
  SELECT DISTINCT user_id, {_ITEM_DUCK} AS item FROM events
  WHERE {_ITEM_DUCK} IS NOT NULL),
bn AS (SELECT user_id, COUNT(*) AS n FROM b0 GROUP BY user_id),
b AS (SELECT b0.user_id, b0.item FROM b0 JOIN bn USING (user_id)
      WHERE bn.n <= 128),
e AS (
  SELECT a.item AS i, b2.item AS j
  FROM b a JOIN b b2 ON a.user_id = b2.user_id AND a.item < b2.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 6)
"""

_GCC_ORACLE = f"""
WITH {_ITEM_EDGE_CTE},
tri AS (
  SELECT ab.i AS x, ab.j AS y, bc.j AS z
  FROM e ab JOIN e bc ON ab.j = bc.i
  JOIN e ac ON ac.i = ab.i AND ac.j = bc.j),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT i AS node FROM e UNION ALL SELECT j FROM e) GROUP BY 1),
w AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(CAST(d AS HUGEINT) * (d - 1)) / 2 AS BIGINT) AS wedges
  FROM deg),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS triangles FROM tri),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, triangles, wedges,
       ROUND(CAST(3 * triangles AS DOUBLE) / nullif(wedges, 0), 6) AS global_cc
FROM w, t, m
"""


@query("global_clustering_coefficient", oracle=_GCC_ORACLE)
def global_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the item
    co-occurrence graph: 3*triangles / wedges — what fraction of
    connected triples close. item_graph_triangles counts PER-NODE
    closure; this is the one-number graph-cohesion summary next to it
    (high transitivity = community structure; low = hub-and-spoke),
    on the same oriented-edge construction so each triangle is
    counted once.

    Exactness: triangle and wedge counts are exact integers (wedges =
    sum d(d-1)/2 over the symmetrized degree relation — d(d-1) is
    even, so the halving is exact); one division. Scale: the standard
    oriented two-join triangle plan (edge-count-bound) plus a
    node-keyed degree aggregate."""
    from dawis_spark.operators.cooccur import item_baskets

    bsk = item_baskets(spark.table("events"), _ITEM_SPARK, 128)
    edges = (
        bsk.alias("a")
        .join(
            bsk.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 6)
        .select("i", "j")
        .persist()
    )
    ab = edges.select(F.col("i").alias("x"), F.col("j").alias("y"))
    bc = edges.select(F.col("i").alias("y"), F.col("j").alias("z"))
    ac = edges.select(F.col("i").alias("x"), F.col("j").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    deg = (
        edges.select(F.col("i").alias("node"))
        .unionAll(edges.select(F.col("j").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    w = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (
            F.sum(F.col("d").cast("decimal(38,0)") * (F.col("d") - 1)) / 2
        ).cast("bigint").alias("wedges"),
    )
    t = tri.agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        w.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "n_nodes",
            "n_edges",
            "triangles",
            "wedges",
            "ROUND(CAST(3 * triangles AS DOUBLE) / nullif(wedges, 0), 6)"
            " AS global_cc",
        )
    )


_ASSORT_ORACLE = f"""
WITH {_ITEM_EDGE_CTE},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT i AS node FROM e UNION ALL SELECT j FROM e) GROUP BY 1),
de AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM (SELECT i, j FROM e UNION ALL SELECT j, i FROM e) ed(i, j)
  JOIN deg du ON du.node = ed.i JOIN deg dv ON dv.node = ed.j),
mo AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
         SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
         SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
         SUM(CAST(dy AS HUGEINT) * dy) AS syy
  FROM de)
SELECT CAST(n AS BIGINT) AS n_edge_ends,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                      * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0), 6)
         AS assortativity
FROM mo
"""


@query("degree_assortativity_items", oracle=_ASSORT_ORACLE)
def degree_assortativity_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the item co-occurrence
    graph: the Pearson correlation of endpoint degrees over the
    symmetrized edge list — positive = hubs link hubs (assortative
    social shape), negative = hubs link leaves (disassortative
    catalog/web shape). The structural summary next to transitivity
    and the k-core profile on the same graph.

    Exactness: degree moments over edge ends are exact
    HUGEINT/DECIMAL38 integers; r pays the standard two-sqrt one-
    division Pearson expression (the spearman machinery's shape).

    Scale: degree aggregate + two node-keyed joins of the edge list
    against the degree relation — edge-count-bound exchanges carrying
    ints only."""
    from dawis_spark.operators.cooccur import item_baskets

    bsk = item_baskets(spark.table("events"), _ITEM_SPARK, 128)
    edges = (
        bsk.alias("a")
        .join(
            bsk.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 6)
        .select("i", "j")
        .persist()
    )
    deg = (
        edges.select(F.col("i").alias("node"))
        .unionAll(edges.select(F.col("j").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ed = edges.unionAll(edges.select(F.col("j").alias("i"), F.col("i").alias("j")))
    de = (
        ed.join(deg.withColumnRenamed("node", "i").withColumnRenamed("d", "dx"), "i")
        .join(deg.withColumnRenamed("node", "j").withColumnRenamed("d", "dy"), "j")
        .select("dx", "dy")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mo = de.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d38("dx")).alias("sx"),
        F.sum(d38("dy")).alias("sy"),
        F.sum(d38("dx") * F.col("dy")).alias("sxy"),
        F.sum(d38("dx") * F.col("dx")).alias("sxx"),
        F.sum(d38("dy") * F.col("dy")).alias("syy"),
    )
    return mo.selectExpr(
        "CAST(n AS BIGINT) AS n_edge_ends",
        "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / nullif(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))"
        "          * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0), 6)"
        " AS assortativity",
    )


_NORM_MICRO_SPARK = (
    "aggregate(transform(embedding, v ->"
    " CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)),"
    " CAST(0 AS DECIMAL(38,0)), (a, e) -> a + CAST(e AS DECIMAL(38,0)) * e)"
)
_NORM_MICRO_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS HUGEINT),"
    " list_transform(embedding, v ->"
    " CAST(CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS HUGEINT)"
    " * CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))),"
    " (a, e) -> a + e)"
)

_NORM_PROFILE_ORACLE = f"""
WITH per AS (
  SELECT label, {_NORM_MICRO_DUCK} AS sq FROM embeddings),
agg AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(sq) AS s, MIN(sq) AS lo, MAX(sq) AS hi
  FROM per GROUP BY 1)
SELECT label, n,
       ROUND(CAST(s AS DOUBLE) / n / 1000000000000.0, 6) AS mean_sq_norm,
       ROUND(sqrt(CAST(lo AS DOUBLE) / 1000000000000.0), 6) AS min_norm,
       ROUND(sqrt(CAST(hi AS DOUBLE) / 1000000000000.0), 6) AS max_norm
FROM agg ORDER BY label
"""


_CAPREC_ORACLE = """
WITH a AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
b AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_overlap
      FROM a JOIN b USING (text)),
counts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
         (SELECT m_overlap FROM m) AS m_overlap,
         (SELECT CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents)
           AS n_distinct_true)
SELECT n_a, n_b, m_overlap, n_distinct_true,
       ROUND(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) / (m_overlap + 1) - 1, 2)
         AS n_hat_chapman,
       ROUND(abs(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) / (m_overlap + 1) - 1
                 - n_distinct_true) / n_distinct_true, 6) AS rel_err
FROM counts
"""


@query("capture_recapture_distinct", oracle=_CAPREC_ORACLE)
def capture_recapture_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the DISTINCT-document
    population from two deterministic overlapping samples (doc_id % 2
    and % 3 strata): N_hat = (n_a+1)(n_b+1)/(m+1) - 1 — the ecology
    estimator repurposed for data engineering: when two independently
    collected crawls/feeds overlap, the overlap rate alone bounds how
    much of the underlying corpus either has seen, WITHOUT scanning a
    third time. Sits beside the sketch family (kmv/hll estimate
    distincts of what you HAVE; capture-recapture extrapolates to what
    you HAVEN'T), with the true distinct count and relative error
    reported for calibration.

    Exactness: sample membership and all four counts are exact
    integers; one double division (+1 Chapman correction keeps it
    finite when the overlap is empty).

    Scale: two hash-distinct passes and one equi-join on the text key
    — at 100 TB the text key would be its 128-bit hash (the dedup
    family's standing reduction), making every exchange hash-width."""
    docs = spark.table("documents")
    a = docs.filter(F.expr("doc_id % 2 = 0")).select("text").distinct()
    b = docs.filter(F.expr("doc_id % 3 = 0")).select("text").distinct()
    m = a.join(b, "text").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_overlap")
    )
    counts = (
        a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))))
        .crossJoin(F.broadcast(m))
        .crossJoin(
            F.broadcast(
                docs.agg(
                    F.countDistinct("text").cast("bigint").alias(
                        "n_distinct_true"
                    )
                )
            )
        )
    )
    return counts.selectExpr(
        "n_a",
        "n_b",
        "m_overlap",
        "n_distinct_true",
        "ROUND(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) / (m_overlap + 1) - 1, 2)"
        " AS n_hat_chapman",
        "ROUND(abs(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) / (m_overlap + 1) - 1"
        " - n_distinct_true) / n_distinct_true, 6) AS rel_err",
    )


_ISO_SV_DUCK = (
    "list_transform(range(1, 65), i ->"
    " CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT))"
)
_ISO_ORACLE = f"""
WITH per AS (
  SELECT label, {_ISO_SV_DUCK} AS sv, {_NORM_MICRO_DUCK} AS sq
  FROM embeddings),
dims AS (
  SELECT label, u.i AS dim, CAST(SUM(sv[u.i]) AS HUGEINT) AS s_d
  FROM per, unnest(range(1, 65)) u(i) GROUP BY 1, 2),
meanvec AS (
  SELECT label, SUM(s_d * s_d) AS msq FROM dims GROUP BY 1),
norms AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n, SUM(sq) AS ssq
  FROM per GROUP BY 1)
SELECT n.label, n.n,
       ROUND(CAST(m.msq AS DOUBLE) / (CAST(n.n AS DOUBLE) * CAST(n.ssq AS DOUBLE)),
             6) AS isotropy
FROM norms n JOIN meanvec m USING (label)
ORDER BY n.label
"""


@query("embedding_isotropy_profile", oracle=_ISO_ORACLE)
def embedding_isotropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding (an)isotropy: ||sum v||^2 / (n * sum ||v||^2)
    — the expected cosine between the mean direction and the cloud, ~0
    for a well-spread (isotropic) embedding space and -> 1 when all
    vectors collapse onto one direction. The standard representation-
    collapse diagnostic (anisotropic spaces break cosine ANN recall
    and similarity thresholds calibrated on isotropic assumptions);
    reads beside embedding_norm_profile as the second vector-column
    sanity gate.

    Exactness: per-dimension sums and per-vector squared norms are
    exact integers in micro^2 units (the norm-profile discipline);
    ||sum v||^2 is an exact sum of squared HUGEINTs; ONE double
    division per label.

    Scale: one scan; the exchange carries 64 per-dimension partial
    sums per label — constant width; output |labels| rows."""
    per = spark.table("embeddings").selectExpr(
        "label",
        "transform(embedding, x ->"
        " CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS sv",
        f"{_NORM_MICRO_SPARK} AS sq",
    )
    dims = (
        per.select(
            "label", F.posexplode("sv").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s_d"))
    )
    meanvec = dims.groupBy("label").agg(
        F.sum(F.col("s_d") * F.col("s_d")).alias("msq")
    )
    norms = per.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sq").alias("ssq"),
    )
    return (
        norms.join(meanvec, "label")
        .selectExpr(
            "label",
            "n",
            "ROUND(CAST(msq AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)), 6) AS isotropy",
        )
        .orderBy("label")
    )


_DB_G = 16  # grid resolution per axis
# core-cell rule: density >= _DB_DENS x the mean cell density (scale-free
# — an absolute count threshold degenerates to all-core as data grows)
_DB_DENS = 2
# shared integral-division bin expression (the hellinger discipline):
# Spark `div` / DuckDB `//`
_DB_BIN = (
    "CASE WHEN hi{ax} = lo{ax} THEN 0 ELSE"
    " LEAST(CAST(({v} - lo{ax}) * {g} {divop} (hi{ax} - lo{ax}) AS INT),"
    f" {_DB_G - 1}) END"
)


def _dbscan_oracle() -> str:
    binx = _DB_BIN.format(ax="x", v="x", g=_DB_G, divop="//")
    biny = _DB_BIN.format(ax="y", v="y", g=_DB_G, divop="//")
    return f"""
WITH RECURSIVE pts AS (
  SELECT CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS x,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS y
  FROM embeddings),
bounds AS (
  SELECT CAST(MIN(x) AS HUGEINT) AS lox, CAST(MAX(x) AS HUGEINT) AS hix,
         CAST(MIN(y) AS HUGEINT) AS loy, CAST(MAX(y) AS HUGEINT) AS hiy
  FROM pts),
binned AS (
  SELECT {binx} AS cx, {biny} AS cy
  FROM pts CROSS JOIN bounds),
cells AS (
  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_pts
  FROM binned GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n_pts) AS HUGEINT) AS n_total FROM cells),
core AS (
  SELECT cx, cy, n_pts, CAST(cx * {_DB_G} + cy AS BIGINT) AS lbl
  FROM cells CROSS JOIN tot
  WHERE CAST(n_pts AS HUGEINT) * {_DB_G * _DB_G} >= {_DB_DENS} * n_total),
reach(cx, cy, lbl) AS (
  SELECT cx, cy, lbl FROM core
  UNION
  SELECT a.cx, a.cy, r.lbl
  FROM core a JOIN reach r
    ON abs(a.cx - r.cx) <= 1 AND abs(a.cy - r.cy) <= 1),
labeled AS (
  SELECT c.cx, c.cy, c.n_pts, MIN(r.lbl) AS lbl
  FROM core c JOIN reach r ON r.cx = c.cx AND r.cy = c.cy
  GROUP BY 1, 2, 3)
SELECT lbl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_pts) AS BIGINT) AS n_points
FROM labeled GROUP BY 1 ORDER BY cluster
"""


@query("grid_dbscan_clusters", oracle=_dbscan_oracle())
def grid_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN density clustering of the embedding cloud projected
    onto its first two coordinates: micro-integer points binned into a
    16x16 grid, cells at >= 2x the mean cell density are CORE (a
    scale-free rule — an absolute count degenerates to all-core as the
    corpus grows), and core cells merge
    into clusters as 8-neighborhood CONNECTED COMPONENTS (cluster id =
    the component's minimum cell id) — the density-based, k-free
    complement to kmeans_clusters: DBSCAN finds arbitrarily-shaped
    dense regions and leaves sparse cells as noise instead of forcing
    them into the nearest centroid.

    Exactness: bin edges from exact integer min/max with shared
    integral division (the hellinger discipline); components are exact
    (driver-side union-find over the cell relation == the oracle's
    transitive-closure recursive CTE — both reach the true fixpoint,
    unlike a fixed-round label walk); no floats anywhere.

    Scale: ONE data-sized pass (project + bin + count); the classic
    cell-based DBSCAN reduction means everything after runs on the
    <= 256-cell grid relation — a DOCUMENTED BOUNDED COLLECT (the
    fellegi_sunter/markov_removal class: constant-size model state,
    never data-sized) followed by driver union-find; noise cells
    simply never enter the core relation."""
    import pandas as pd

    binx = _DB_BIN.format(ax="x", v="x", g=_DB_G, divop="div")
    biny = _DB_BIN.format(ax="y", v="y", g=_DB_G, divop="div")
    pts = spark.table("embeddings").selectExpr(
        "CAST(ROUND(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000)"
        " AS BIGINT) AS x",
        "CAST(ROUND(CAST(element_at(embedding, 2) AS DOUBLE) * 1000000)"
        " AS BIGINT) AS y",
    )
    bounds = pts.agg(
        F.expr("CAST(MIN(x) AS DECIMAL(38,0))").alias("lox"),
        F.expr("CAST(MAX(x) AS DECIMAL(38,0))").alias("hix"),
        F.expr("CAST(MIN(y) AS DECIMAL(38,0))").alias("loy"),
        F.expr("CAST(MAX(y) AS DECIMAL(38,0))").alias("hiy"),
    )
    cells = (
        pts.crossJoin(F.broadcast(bounds))
        .selectExpr(f"{binx} AS cx", f"{biny} AS cy")
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pts"))
    )
    tot = cells.agg(
        F.expr("CAST(SUM(n_pts) AS DECIMAL(38,0))").alias("n_total")
    )
    # bounded collect: <= _DB_G^2 = 256 grid cells by construction
    core = [
        (r["cx"], r["cy"], r["n_pts"])
        for r in cells.crossJoin(F.broadcast(tot))
        .filter(
            F.expr(
                f"CAST(n_pts AS DECIMAL(38,0)) * {_DB_G * _DB_G}"
                f" >= {_DB_DENS} * n_total"
            )
        )
        .collect()
    ]
    parent: dict[tuple, tuple] = {(cx, cy): (cx, cy) for cx, cy, _ in core}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    idx = {(cx, cy) for cx, cy, _ in core}
    for cx, cy, _ in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb in idx:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    comp: dict[tuple, list] = {}
    for cx, cy, n in core:
        comp.setdefault(find((cx, cy)), []).append(n)
    rows = [
        (int(rcx * _DB_G + rcy), len(ns), int(sum(ns)))
        for (rcx, rcy), ns in comp.items()
    ]
    # a pandas frame enters through Arrow as a local relation (see
    # logreg_weights)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["cluster", "n_cells", "n_points"]),
        "cluster bigint, n_cells bigint, n_points bigint",
    ).orderBy("cluster")


@query("embedding_norm_profile", oracle=_NORM_PROFILE_ORACLE)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding NORM profile: mean squared L2 norm plus the
    min/max norm — the first sanity check on any ingested vector
    column (unnormalized mixtures break cosine ANN; a zero-norm row
    breaks everything) and the drift probe when an upstream encoder
    changes. Complements the ANN recall evals, which all ASSUME norms
    are sane.

    Determinism: each vector's squared norm is an EXACT integer in
    micro^2 units (round(v * 1e6) per coordinate, fixed left-to-right
    fold over the array — no float accumulation across rows); the
    per-label sum/min/max are exact; display pays one division (+
    sqrt for the extremes).

    Scale: one map-side scan collapsing to |labels| rows."""
    per = spark.table("embeddings").selectExpr(
        "label", f"{_NORM_MICRO_SPARK} AS sq"
    )
    agg = per.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sq").alias("s"),
        F.min("sq").alias("lo"),
        F.max("sq").alias("hi"),
    )
    return agg.selectExpr(
        "label",
        "n",
        "ROUND(CAST(s AS DOUBLE) / n / 1000000000000.0, 6) AS mean_sq_norm",
        "ROUND(sqrt(CAST(lo AS DOUBLE) / 1000000000000.0), 6) AS min_norm",
        "ROUND(sqrt(CAST(hi AS DOUBLE) / 1000000000000.0), 6) AS max_norm",
    ).orderBy("label")


_CVM_ORACLE = """
WITH tagged AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS ib
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
per_v AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS na_v, CAST(SUM(ib) AS BIGINT) AS nb_v
  FROM tagged GROUP BY 1),
walked AS (
  SELECT na_v, nb_v,
         SUM(na_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(nb_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM per_v),
tot AS (
  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a_i, CAST(SUM(nb_v) AS BIGINT) AS n_b_i
  FROM per_v),
terms AS (
  SELECT CAST(na_v + nb_v AS HUGEINT)
           * (CAST(cum_a AS HUGEINT) * n_b_i - CAST(cum_b AS HUGEINT) * n_a_i)
           * (CAST(cum_a AS HUGEINT) * n_b_i - CAST(cum_b AS HUGEINT) * n_a_i)
           AS term,
         n_a_i, n_b_i
  FROM walked CROSS JOIN tot)
SELECT CAST(n_a_i AS BIGINT) AS n_a, CAST(n_b_i AS BIGINT) AS n_b,
       ROUND(CAST(SUM(term) AS DOUBLE)
             / (CAST(n_a_i + n_b_i AS DOUBLE) * (n_a_i + n_b_i)
                * n_a_i * n_b_i), 6) AS t_cvm
FROM terms GROUP BY n_a_i, n_b_i
"""


@query("cramer_von_mises_drift", oracle=_CVM_ORACLE)
def cramer_von_mises_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic between the URGENT and
    LOW order-value distributions — the INTEGRATED squared EDF gap
    that completes the drift panel: ks_price_drift takes the supremum
    (sensitive to one big local gap), mann_whitney tests location,
    THIS accumulates many small gaps across the whole support (the
    shape-change detector the supremum misses). Tie-adapted EDF form
    over the distinct-cents walk.

    Exactness: all terms exact DECIMAL38/HUGEINT through the full sum;
    ONE double division (operators/stats.py:cramer_von_mises).
    Scale: the value-bounded distinct-cents walk."""
    from dawis_spark.operators.stats import cramer_von_mises

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return cramer_von_mises(o, "cents", "o_orderpriority", "1-URGENT", "5-LOW")


_ADK_ORACLE = """
WITH gv AS (
  SELECT o_orderpriority AS g, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
per_v AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t_v FROM gv GROUP BY 1),
pooled AS (
  SELECT v, t_v,
         SUM(t_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
  FROM per_v),
groups AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM gv GROUP BY 1),
grid AS (
  SELECT groups.g, pooled.v, pooled.t_v, pooled.b, groups.n_g,
         COALESCE(gv.c, 0) AS c
  FROM pooled CROSS JOIN groups
  LEFT JOIN gv ON gv.g = groups.g AND gv.v = pooled.v),
tot AS (SELECT CAST(MAX(b) AS BIGINT) AS n FROM pooled),
scored AS (
  SELECT g, v, t_v, b, n_g,
         SUM(c) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM grid),
terms AS (
  SELECT g, v, n,
         CAST(CAST(t_v AS HUGEINT)
              * (CAST(n AS HUGEINT) * m - CAST(n_g AS HUGEINT) * b)
              * (CAST(n AS HUGEINT) * m - CAST(n_g AS HUGEINT) * b) AS DOUBLE)
           / CAST(CAST(b AS HUGEINT) * (n - b) AS DOUBLE)
           / CAST(n_g AS DOUBLE) AS t_term
  FROM scored CROSS JOIN tot WHERE b < n),
folded AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(t_term ORDER BY g, v)), (a, e) -> a + e) AS s
  FROM terms)
SELECT (SELECT CAST(COUNT(*) AS INT) FROM groups) AS k_groups,
       n AS n_rows, ROUND(s / CAST(n AS DOUBLE), 6) AS a2_akn
FROM folded CROSS JOIN tot
"""


@query("anderson_darling_priorities", oracle=_ADK_ORACLE)
def anderson_darling_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample Anderson–Darling A2_akN across ALL FIVE order
    priorities (Scholz & Stephens 1987, no continuity correction) —
    the tail-weighted member that completes the EDF panel: KS =
    supremum, CvM = integrated, AD = integrated with 1/(H(1-H))
    weighting that amplifies TAIL discrepancies (exactly where price
    distributions drift first), generalized to k groups in one pass.

    Exactness: grid numerators exact DECIMAL38/HUGEINT; one division
    per grid cell; (g, v)-ordered fold (operators/stats.py:
    anderson_darling_k).

    Scale: the grid is distinct-cents x 5; per-group cumulative
    windows are group-PARTITIONED over it."""
    from dawis_spark.operators.stats import anderson_darling_k

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return anderson_darling_k(o, "cents", "o_orderpriority")


_W1_ORACLE = """
WITH tagged AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS ib
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
per_v AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS na_v, CAST(SUM(ib) AS BIGINT) AS nb_v
  FROM tagged GROUP BY 1),
walked AS (
  SELECT v,
         SUM(na_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(nb_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         LEAD(v, 1) OVER (ORDER BY v) AS v_next
  FROM per_v),
tot AS (
  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a_i, CAST(SUM(nb_v) AS BIGINT) AS n_b_i
  FROM per_v),
terms AS (
  SELECT CAST(v_next - v AS HUGEINT)
           * abs(CAST(cum_a AS HUGEINT) * n_b_i - CAST(cum_b AS HUGEINT) * n_a_i)
           AS term,
         n_a_i, n_b_i
  FROM walked CROSS JOIN tot WHERE v_next IS NOT NULL)
SELECT CAST(n_a_i AS BIGINT) AS n_a, CAST(n_b_i AS BIGINT) AS n_b,
       ROUND(CAST(SUM(term) AS DOUBLE)
             / (CAST(n_a_i AS DOUBLE) * n_b_i * 100), 6) AS w1
FROM terms GROUP BY n_a_i, n_b_i
"""


@query("wasserstein_price_drift", oracle=_W1_ORACLE)
def wasserstein_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the URGENT and
    LOW order-value distributions — the magnitude-weighted member that
    completes the EDF drift panel: ks_price_drift reports the WORST
    EDF gap, cramer_von_mises_drift the integrated SQUARED gap, this
    query the integrated gap against the VALUE axis, so the statistic
    reads in currency units ("how many dollars of transport separate
    the two distributions") — the one a cost-aware drift gate can
    threshold directly.

    Exactness: per distinct cent value the EDF-gap numerator
    |cum_a*n_b - cum_b*n_a| and the step width are exact
    DECIMAL38/HUGEINT; one final division (by n_a*n_b*100, folding the
    cents->currency conversion into the same division)
    (operators/stats.py:wasserstein_1d).

    Scale: the same distinct-value ordered walk as the CvM/KS legs —
    value-bounded, not row-bounded; everything before it is a map-side
    keyed aggregate."""
    from dawis_spark.operators.stats import wasserstein_1d

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return wasserstein_1d(
        o, "cents", "o_orderpriority", "1-URGENT", "5-LOW", unit_div=100
    )


_HELL_BINS = 20
_HELL_ORACLE = f"""
WITH tagged AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS ib
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
bounds AS (
  SELECT CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi
  FROM tagged),
binned AS (
  SELECT ia, ib,
         CASE WHEN hi = lo THEN 0 ELSE
           LEAST(CAST((CAST(v AS HUGEINT) - lo) * {_HELL_BINS}
                      // (CAST(hi AS HUGEINT) - lo) AS INT),
                 {_HELL_BINS - 1}) END AS b
  FROM tagged CROSS JOIN bounds),
per_b AS (
  SELECT b, CAST(SUM(ia) AS BIGINT) AS na_b, CAST(SUM(ib) AS BIGINT) AS nb_b
  FROM binned GROUP BY 1),
tot AS (
  SELECT CAST(SUM(na_b) AS BIGINT) AS n_a_i, CAST(SUM(nb_b) AS BIGINT) AS n_b_i
  FROM per_b),
terms AS (
  SELECT b, n_a_i, n_b_i,
         abs(CAST(na_b AS HUGEINT) * n_b_i - CAST(nb_b AS HUGEINT) * n_a_i)
           AS tvd_num,
         sqrt(CAST(CAST(na_b AS HUGEINT) * nb_b AS DOUBLE)) AS bc_term
  FROM per_b CROSS JOIN tot),
agg AS (
  SELECT n_a_i, n_b_i,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         SUM(tvd_num) AS tvd_s,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(bc_term ORDER BY b)), (a, e) -> a + e) AS bc_s
  FROM terms GROUP BY 1, 2)
SELECT CAST(n_a_i AS BIGINT) AS n_a, CAST(n_b_i AS BIGINT) AS n_b,
       n_occ AS n_bins_occupied,
       ROUND(CAST(tvd_s AS DOUBLE)
             / (2.0 * CAST(n_a_i AS DOUBLE) * n_b_i), 6) AS tvd,
       ROUND(bc_s / (SQRT(CAST(n_a_i AS DOUBLE))
                     * SQRT(CAST(n_b_i AS DOUBLE))), 6) AS bhattacharyya,
       ROUND(SQRT(GREATEST(1.0 - bc_s / (SQRT(CAST(n_a_i AS DOUBLE))
                     * SQRT(CAST(n_b_i AS DOUBLE))), 0.0)), 6) AS hellinger
FROM agg
"""


@query("hellinger_tvd_drift", oracle=_HELL_ORACLE)
def hellinger_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-space divergence pair between the URGENT and LOW order
    value distributions over 20 shared equal-width bins: total
    variation distance (the tightest bound on how much ANY event's
    probability can differ — the certificate number) and Hellinger
    distance (the bounded symmetric f-divergence that, unlike the KL
    family behind psi_value_drift, never diverges on empty bins). The
    binned complement to the EDF panel (KS/CvM/AD/W1): EDF statistics
    answer "did it drift", the histogram pair answers "by how much, in
    probability mass".

    Exactness: bin edges from the pooled exact integer min/max
    (two-phase broadcast); TVD exact until one division; Bhattacharyya
    pays one sqrt per occupied bin over exact integer products, summed
    in a bin-ordered fold (operators/stats.py:hellinger_tvd).

    Scale: two scans (1-row bounds, then bin counts) collapsing to 20
    rows; constant-size tail."""
    from dawis_spark.operators.stats import hellinger_tvd

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return hellinger_tvd(
        o, "cents", "o_orderpriority", "1-URGENT", "5-LOW", n_bins=_HELL_BINS
    )


_FRIEDMAN_ORACLE = """
WITH cell AS (
  SELECT date_trunc('day', ts) AS blk, event_type AS tr,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
ktot AS (SELECT COUNT(DISTINCT tr) AS k0 FROM cell),
complete AS (
  SELECT blk FROM cell GROUP BY blk
  HAVING COUNT(*) = (SELECT k0 FROM ktot)),
cells AS (SELECT cell.* FROM cell JOIN complete USING (blk)),
ranked AS (
  SELECT blk, tr,
         CAST(2 * (COALESCE(COUNT(*) OVER (PARTITION BY blk ORDER BY x
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
              + (COUNT(*) OVER (PARTITION BY blk, x) - 1) AS BIGINT) AS r2
  FROM cells),
per_tr AS (
  SELECT tr, CAST(SUM(r2) AS HUGEINT) AS r2_j,
         CAST(COUNT(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY 1),
a4t AS (SELECT SUM(CAST(r2 AS HUGEINT) * r2) AS a4 FROM ranked),
kn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(MAX(n_blocks) AS BIGINT) AS n
  FROM per_tr),
s2t AS (
  SELECT k, n,
         SUM((r2_j - CAST(n AS HUGEINT) * (k + 1))
             * (r2_j - CAST(n AS HUGEINT) * (k + 1))) AS s2
  FROM per_tr CROSS JOIN kn GROUP BY k, n)
SELECT CAST(k AS INT) AS k_treatments, CAST(n AS BIGINT) AS n_blocks,
       ROUND(CAST((k - 1) * s2 AS DOUBLE)
             / nullif(CAST(a4 - CAST(n AS HUGEINT) * k * (k + 1) * (k + 1)
                           AS DOUBLE), 0), 6) AS q_stat
FROM s2t CROSS JOIN a4t
"""


@query("friedman_event_types", oracle=_FRIEDMAN_ORACLE)
def friedman_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the event types differ in daily revenue
    when each DAY ranks the types internally? The blocked
    nonparametric ANOVA — kruskal_wallis treats rows as independent
    and would confuse a global weekday/seasonal level with a
    between-type difference; Friedman blocks the per-day level out so
    only the within-day ordering counts (the repeated-measures test a
    dashboard comparison of per-type daily series actually needs).
    Incomplete days (missing a type) are dropped — the classical
    complete-block requirement.

    Exactness: within-day average ranks are doubled dyadics via a
    RANGE-frame strictly-smaller count (deterministic under ties); Q's
    numerator and tie-corrected denominator are exact integers in
    doubled-rank units; ONE division
    (operators/stats.py:friedman_test).

    Scale: one (day, type) rollup; rank windows PARTITIONED by day;
    everything after is |days| x |types| bounded."""
    from dawis_spark.operators.stats import friedman_test

    e = spark.table("events").select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    return friedman_test(e, "day", "event_type", "cents")


# ---------------------------------------------------------------------------
# Statistical process control: individuals chart + Western Electric rules
# ---------------------------------------------------------------------------

# Individuals (X) chart limits from the moving range: sigma_hat =
# mean(|x_t - x_{t-1}|) / d2 with d2(n=2) = 1.128 (the classical
# Shewhart individuals-chart estimator). mu and sigma are ONE-ROW
# doubles computed from exact integer cent sums; every zone comparison
# is the same expression string on both engines so the booleans are
# bit-identical.
_SPC_X = "CAST(rev AS DOUBLE)"
_SPC_SIDE = (
    f"CASE WHEN {_SPC_X} > mu THEN 1 WHEN {_SPC_X} < mu THEN -1 ELSE 0 END"
)
_SPC_B3 = (
    f"CASE WHEN {_SPC_X} > mu + 3 * sigma OR {_SPC_X} < mu - 3 * sigma"
    " THEN 1 ELSE 0 END"
)
_SPC_A2 = f"CASE WHEN {_SPC_X} > mu + 2 * sigma THEN 1 ELSE 0 END"
_SPC_U2 = f"CASE WHEN {_SPC_X} < mu - 2 * sigma THEN 1 ELSE 0 END"
_SPC_A1 = f"CASE WHEN {_SPC_X} > mu + sigma THEN 1 ELSE 0 END"
_SPC_U1 = f"CASE WHEN {_SPC_X} < mu - sigma THEN 1 ELSE 0 END"
_SPC_UNITS = f"ROUND(({_SPC_X} - mu) / sigma, 4)"

_SPC_ORACLE = f"""
WITH {DAILY_REV_ORDERS_CTE},
lagd AS (
  SELECT d, rev, LAG(rev) OVER (ORDER BY d) AS prev FROM daily),
lim AS (
  SELECT CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
         CAST(SUM(ABS(rev - prev)) AS DOUBLE)
           / CAST(COUNT(prev) AS DOUBLE) / 1.128 AS sigma
  FROM lagd),
zoned AS (
  SELECT d, rev,
         {_SPC_SIDE} AS side, {_SPC_B3} AS b3, {_SPC_A2} AS a2,
         {_SPC_U2} AS u2, {_SPC_A1} AS a1, {_SPC_U1} AS u1,
         {_SPC_UNITS} AS sigma_units
  FROM daily CROSS JOIN lim),
ruled AS (
  SELECT d, rev, sigma_units, b3 AS rule1,
         CASE WHEN COUNT(*) OVER w9 = 9 AND ABS(SUM(side) OVER w9) = 9
              THEN 1 ELSE 0 END AS rule2,
         CASE WHEN SUM(a2) OVER w3 >= 2 OR SUM(u2) OVER w3 >= 2
              THEN 1 ELSE 0 END AS rule3,
         CASE WHEN SUM(a1) OVER w5 >= 4 OR SUM(u1) OVER w5 >= 4
              THEN 1 ELSE 0 END AS rule4
  FROM zoned
  WINDOW w9 AS (ORDER BY d ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         w3 AS (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w5 AS (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
SELECT d AS day, rev AS rev_cents, sigma_units, rule1, rule2, rule3, rule4
FROM ruled
WHERE rule1 + rule2 + rule3 + rule4 > 0
ORDER BY day
"""


@query("spc_xbar_breaches", oracle=_SPC_ORACLE)
def spc_xbar_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals control chart on daily revenue with the four
    Western Electric run rules: (1) a point beyond 3 sigma, (2) nine
    consecutive points on one side of the center line, (3) two of three
    consecutive beyond 2 sigma on the same side, (4) four of five
    consecutive beyond 1 sigma on the same side. Control limits use the
    moving-range estimator sigma = mean|x_t - x_{t-1}| / 1.128, the
    standard individuals-chart calibration that survives slow drift
    better than the global stddev. The SPC complement to CUSUM (small
    persistent shifts) and Page-Hinkley (streaming drift): WE rules are
    what a human reads off the chart on a monitoring dashboard.

    Exactness: daily revenue is exact cents; mu/sigma are one-row
    doubles from exact integer sums; every zone flag and run-rule count
    is a shared expression string over those doubles, then exact
    integer window sums — bit-identical engines.

    Scale: one fact-table rollup to the calendar-bounded daily series
    (whitelisted window class); limits are a broadcast one-row
    relation; rules are constant-width (<= 9 row) frames over |days|
    rows."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "spc_xbar_breaches",
        "day-spine",
        "WE-rule frames over the day-bounded daily series",
        n_windows=2,
    )

    from pyspark.sql import Window

    daily = daily_rev_orders(spark).select("d", "rev")
    wd = Window.orderBy("d")
    lagd = daily.select("d", "rev", F.lag("rev").over(wd).alias("prev"))
    lim = lagd.agg(
        F.expr("CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)").alias(
            "mu"
        ),
        F.expr(
            "CAST(SUM(ABS(rev - prev)) AS DOUBLE)"
            " / CAST(COUNT(prev) AS DOUBLE) / 1.128"
        ).alias("sigma"),
    )
    zoned = daily.crossJoin(F.broadcast(lim)).selectExpr(
        "d",
        "rev",
        f"{_SPC_SIDE} AS side",
        f"{_SPC_B3} AS b3",
        f"{_SPC_A2} AS a2",
        f"{_SPC_U2} AS u2",
        f"{_SPC_A1} AS a1",
        f"{_SPC_U1} AS u1",
        f"{_SPC_UNITS} AS sigma_units",
    )
    w9 = wd.rowsBetween(-8, 0)
    w3 = wd.rowsBetween(-2, 0)
    w5 = wd.rowsBetween(-4, 0)
    ruled = zoned.select(
        F.col("d").alias("day"),
        F.col("rev").alias("rev_cents"),
        "sigma_units",
        F.col("b3").alias("rule1"),
        F.when(
            (F.count(F.lit(1)).over(w9) == 9)
            & (F.abs(F.sum("side").over(w9)) == 9),
            1,
        )
        .otherwise(0)
        .alias("rule2"),
        F.when(
            (F.sum("a2").over(w3) >= 2) | (F.sum("u2").over(w3) >= 2), 1
        )
        .otherwise(0)
        .alias("rule3"),
        F.when(
            (F.sum("a1").over(w5) >= 4) | (F.sum("u1").over(w5) >= 4), 1
        )
        .otherwise(0)
        .alias("rule4"),
    )
    return ruled.filter(
        F.col("rule1") + F.col("rule2") + F.col("rule3") + F.col("rule4") > 0
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Always-valid sequential testing (mSPRT) + frequentist power planning
# ---------------------------------------------------------------------------

# Mixture SPRT for a two-sample mean difference under a normal mixture
# prior on the effect (tau^2 = s2/100): at cumulative arm sizes n0/n1,
# V = s2*(1/n0 + 1/n1) and the log e-value is
#   ln L = 0.5*ln(V/(V+tau^2)) + dm^2*tau^2 / (2*V*(V+tau^2)).
# The always-valid p-value is min over time of 1/L, i.e.
# exp(-running_max(ln L)) clamped to 1 — monitoring it continuously
# never inflates alpha (the optional-stopping guarantee the fixed-n
# z-test lacks).
_MSPRT_V = "(s2 * (1.0 / n0 + 1.0 / n1))"
_MSPRT_T2 = "(s2 / 100)"
_MSPRT_LNL = (
    f"(0.5 * ln({_MSPRT_V} / ({_MSPRT_V} + {_MSPRT_T2}))"
    f" + dm * dm * {_MSPRT_T2}"
    f" / (2 * {_MSPRT_V} * ({_MSPRT_V} + {_MSPRT_T2})))"
)
_MSPRT_DM = (
    "(CAST(cs1 AS DOUBLE) / CAST(cn1 AS DOUBLE)"
    " - CAST(cs0 AS DOUBLE) / CAST(cn0 AS DOUBLE))"
)
_MSPRT_S2 = (
    "(CAST(nn * sxx - sx * sx AS DOUBLE)"
    " / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))"
)

_MSPRT_ORACLE = f"""
WITH darm AS (
  SELECT o_orderdate AS d, CAST(o_custkey % 2 AS INT) AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)) AS s_i
  FROM orders GROUP BY 1, 2),
s2t AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)) AS sx,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)
             * CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)) AS sxx
  FROM orders),
byday AS (
  SELECT d,
         CAST(SUM(CASE WHEN arm = 0 THEN n_i ELSE 0 END) AS BIGINT) AS dn0,
         SUM(CASE WHEN arm = 0 THEN s_i ELSE 0 END) AS ds0,
         CAST(SUM(CASE WHEN arm = 1 THEN n_i ELSE 0 END) AS BIGINT) AS dn1,
         SUM(CASE WHEN arm = 1 THEN s_i ELSE 0 END) AS ds1
  FROM darm GROUP BY 1),
cum AS (
  SELECT d,
         SUM(dn0) OVER w AS cn0, SUM(ds0) OVER w AS cs0,
         SUM(dn1) OVER w AS cn1, SUM(ds1) OVER w AS cs1
  FROM byday
  WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)),
lnl AS (
  SELECT d, cn0, cn1, dm, {_MSPRT_LNL} AS ln_l
  FROM (
    SELECT d, cn0, cn1, CAST(cn0 AS DOUBLE) AS n0, CAST(cn1 AS DOUBLE) AS n1,
           {_MSPRT_DM} AS dm, {_MSPRT_S2} AS s2
    FROM cum CROSS JOIN s2t
    WHERE cn0 > 0 AND cn1 > 0))
SELECT d AS day, CAST(cn0 AS BIGINT) AS n_ctrl, CAST(cn1 AS BIGINT) AS n_treat,
       ROUND(dm, 4) AS mean_diff_cents,
       ROUND(ln_l, 6) AS log_e_value,
       ROUND(LEAST(1.0, exp(-MAX(ln_l) OVER
             (ORDER BY d ROWS UNBOUNDED PRECEDING))), 6) AS p_always_valid
FROM lnl ORDER BY day
"""


@query("msprt_sequential_monitor", oracle=_MSPRT_ORACLE)
def msprt_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitor: a mixture SPRT (normal
    mixture prior on the effect, tau^2 = s2/100) over the daily
    cumulative per-arm order-value sums, reporting the log e-value and
    the running always-valid p-value exp(-max ln L). This is the
    'peeking-safe' companion to the fixed-horizon z-test: a dashboard
    can read p_always_valid every day and stop the moment it crosses
    alpha without inflating the false-positive rate, which the
    classical test family (welch_ttest_order_value etc.) cannot offer.

    Exactness: per-day per-arm counts/sums and the pooled second moment
    are exact integers (HUGEINT/decimal cents); cumulative sums are
    exact integer window sums; V, tau^2, ln L are shared expression
    strings over one-time double casts; the running max of ln L is
    order-independent — bit-identical engines.

    Scale: one (day, arm) fact rollup, pivoted to |days| rows;
    cumulative and running-max windows ride the calendar-bounded daily
    series (whitelisted class); the second-moment relation is one
    broadcast row."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "msprt_sequential_monitor",
        "day-spine",
        "cumulative/running-max over the day-bounded daily series",
        n_windows=2,
    )

    from pyspark.sql import Window

    cents = "CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))"
    darm = (
        spark.table("orders")
        .groupBy(
            F.col("o_orderdate").alias("d"),
            F.expr("CAST(o_custkey % 2 AS INT)").alias("arm"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum(F.expr(cents)).alias("s_i"),
        )
    )
    s2t = spark.table("orders").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nn"),
        F.sum(F.expr(cents)).alias("sx"),
        F.sum(F.expr(f"{cents} * {cents}")).alias("sxx"),
    )
    byday = darm.groupBy("d").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n_i")).otherwise(0))
        .cast("bigint")
        .alias("dn0"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("s_i")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("ds0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_i")).otherwise(0))
        .cast("bigint")
        .alias("dn1"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("s_i")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("ds1"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = byday.select(
        "d",
        F.sum("dn0").over(w).alias("cn0"),
        F.sum("ds0").over(w).alias("cs0"),
        F.sum("dn1").over(w).alias("cn1"),
        F.sum("ds1").over(w).alias("cs1"),
    )
    lnl = (
        cum.crossJoin(F.broadcast(s2t))
        .filter((F.col("cn0") > 0) & (F.col("cn1") > 0))
        .selectExpr(
            "d",
            "cn0",
            "cn1",
            "CAST(cn0 AS DOUBLE) AS n0",
            "CAST(cn1 AS DOUBLE) AS n1",
            f"{_MSPRT_DM} AS dm",
            f"{_MSPRT_S2} AS s2",
        )
        .selectExpr("d", "cn0", "cn1", "dm", f"{_MSPRT_LNL} AS ln_l")
    )
    return lnl.select(
        F.col("d").alias("day"),
        F.col("cn0").alias("n_ctrl"),
        F.col("cn1").alias("n_treat"),
        F.round("dm", 4).alias("mean_diff_cents"),
        F.round("ln_l", 6).alias("log_e_value"),
        F.round(
            F.least(F.lit(1.0), F.exp(-F.max("ln_l").over(w))), 6
        ).alias("p_always_valid"),
    ).orderBy("day")


# Power planning off the observed metric moments: at per-arm size n,
# se = sqrt(2*s2/n), z = mde/se, power = Phi(z - z_crit). Phi comes from
# the same A&S 7.1.26 erfc polynomial as the p-value helpers
# (1 - Phi(|x|) = 0.5*poly(tt)*exp(-az^2), az = |x|/sqrt(2)) with an
# explicit sign branch so negative arguments are exact mirrors.
_POW_X = "(mde / sqrt(2 * s2 / CAST(n_per_arm AS DOUBLE)) - 1.959963985)"
_POW_E = (
    "(((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt"
    " - 0.284496736) * tt + 0.254829592) * tt * exp(-(az * az)))"
)
_POW_PHI = f"(CASE WHEN x >= 0 THEN 1 - {_POW_E} / 2 ELSE {_POW_E} / 2 END)"

_POWER_ORACLE = f"""
WITH s2t AS (
  SELECT CAST(nn AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) / CAST(nn AS DOUBLE) AS mean_cents,
         CAST(nn * sxx - sx * sx AS DOUBLE)
           / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)) AS s2
  FROM (
    SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)) AS sx,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)
               * CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)) AS sxx
    FROM orders)),
grid AS (
  SELECT CAST(n_per_arm AS BIGINT) AS n_per_arm
  FROM (VALUES (1000), (2000), (5000), (10000), (20000), (50000),
               (100000), (200000)) AS g(n_per_arm)),
xs AS (
  SELECT n_per_arm, mean_cents, s2, 0.02 * mean_cents AS mde
  FROM grid CROSS JOIN s2t),
zz AS (SELECT n_per_arm, mean_cents, mde, s2, {_POW_X} AS x FROM xs),
az1 AS (SELECT *, abs(x) / sqrt(2) AS az FROM zz),
tt1 AS (SELECT *, 1 / (1 + 0.3275911 * az) AS tt FROM az1)
SELECT n_per_arm,
       ROUND(mde, 4) AS mde_cents,
       ROUND(sqrt(2 * s2 / CAST(n_per_arm AS DOUBLE)), 4) AS se_cents,
       ROUND({_POW_PHI}, 6) AS power
FROM tt1 ORDER BY n_per_arm
"""


@query("ab_power_curve", oracle=_POWER_ORACLE)
def ab_power_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning from observed moments: for a 2% relative
    MDE on mean order value, the two-sample z-test power at a grid of
    per-arm sample sizes (se = sqrt(2*s2/n), power = Phi(mde/se -
    z_0.975)). The design-time companion to the readout queries: CUPED
    tells you how much variance you removed, this tells you how many
    units the NEXT experiment needs.

    Exactness: the metric moments are one-row exact integers; the grid
    is a literal relation; se/z/Phi are shared expression strings with
    the A&S erfc polynomial and an explicit sign branch — bit-identical
    engines.

    Scale: one fact-table moment scan; everything after is the 8-row
    literal grid cross-joined with a broadcast one-row relation."""
    s2t = (
        spark.table("orders")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("nn"),
            F.sum(
                F.expr("CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))")
            ).alias("sx"),
            F.sum(
                F.expr(
                    "CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))"
                    " * CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))"
                )
            ).alias("sxx"),
        )
        .selectExpr(
            "CAST(sx AS DOUBLE) / CAST(nn AS DOUBLE) AS mean_cents",
            "CAST(nn * sxx - sx * sx AS DOUBLE)"
            " / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)) AS s2",
        )
    )
    grid = spark.createDataFrame(
        [(n,) for n in (1000, 2000, 5000, 10000, 20000, 50000, 100000, 200000)],
        "n_per_arm bigint",
    )
    return (
        grid.crossJoin(F.broadcast(s2t))
        .selectExpr("n_per_arm", "mean_cents", "s2", "0.02 * mean_cents AS mde")
        .selectExpr("n_per_arm", "mean_cents", "mde", "s2", f"{_POW_X} AS x")
        .selectExpr("*", "abs(x) / sqrt(2) AS az")
        .selectExpr("*", "1 / (1 + 0.3275911 * az) AS tt")
        .selectExpr(
            "n_per_arm",
            "ROUND(mde, 4) AS mde_cents",
            "ROUND(sqrt(2 * s2 / CAST(n_per_arm AS DOUBLE)), 4) AS se_cents",
            f"ROUND({_POW_PHI}, 6) AS power",
        )
        .orderBy("n_per_arm")
    )


# ---------------------------------------------------------------------------
# Inclusion-dependency (foreign-key) discovery across the warehouse schema
# ---------------------------------------------------------------------------

# Candidate (child, parent) column pairs: the declared TPC-H-ish keys plus
# the behavioral/corpus links a profiler should PROVE rather than assume,
# and one deliberate reverse direction (does every part appear in
# lineitem?) so the output shows a non-trivial containment < 1 case.
_IND_PAIRS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("embeddings", "vec_id", "documents", "doc_id"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
]


def _ind_oracle() -> str:
    legs = []
    for ct, cc, pt, pc in _IND_PAIRS:
        legs.append(f"""
SELECT '{ct}.{cc}' AS child_col, '{pt}.{pc}' AS parent_col,
       n_child_values, n_contained,
       ROUND(CAST(n_contained AS DOUBLE) / CAST(n_child_values AS DOUBLE), 6)
         AS containment,
       CASE WHEN n_contained = n_child_values THEN 1 ELSE 0 END AS is_inclusion
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child_values,
         CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contained
  FROM (SELECT DISTINCT {cc} AS k FROM {ct} WHERE {cc} IS NOT NULL) c
  LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt} WHERE {pc} IS NOT NULL) p
    ON c.k = p.k)""")
    return (
        "\nUNION ALL\n".join(legs) + "\nORDER BY child_col, parent_col"
    )


@query("inclusion_dependency_profile", oracle=_ind_oracle())
def inclusion_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery (FK profiling): for each candidate
    (child, parent) column pair, the distinct-value containment
    |child ∩ parent| / |child| and an is_inclusion verdict. The
    schema-profiling primitive behind referential-integrity checks and
    join-graph inference — dq_integrity_checks asserts the declared
    keys, this one MEASURES candidate keys, including behavioral links
    (events.user_id -> customer) and a deliberate reverse direction
    (part -> lineitem) whose containment < 1 is informative, not a bug.

    Exactness: distinct counts and containment counts are exact
    integers off hash aggregates; the ratio is one shared double
    division rounded at 6.

    Scale: per pair, two distinct aggregates (map-side partial) and one
    hash join on an integer key; small parents (nation/region) broadcast
    under AQE; the union output is |pairs| rows. No pair materializes
    anything wider than the distinct key sets — at 100 TB the heavy
    pairs are the fact-table keys, which is a single shuffle each on an
    already-compact int64 column."""
    # one distinct set per (table, column) (r15): four columns appear in
    # TWO pairs each (l_partkey/p_partkey both directions, c_custkey and
    # n_nationkey as repeated parents) — the before plan re-ran their
    # distinct aggregates once per pair (40 scans). Reused sets are
    # persisted (distinct-key-cardinality-bounded); single-use sets are
    # not (nothing to share). Identical rows by construction.
    from collections import Counter

    uses = Counter()
    for ct, cc, pt, pc in _IND_PAIRS:
        uses[(ct, cc)] += 1
        uses[(pt, pc)] += 1
    dsets: dict = {}

    def _dset(t: str, c: str):
        if (t, c) not in dsets:
            d = (
                spark.table(t)
                .filter(F.col(c).isNotNull())
                .select(F.col(c).alias("k"))
                .distinct()
            )
            dsets[(t, c)] = d.persist() if uses[(t, c)] > 1 else d
        return dsets[(t, c)]

    results = None
    for ct, cc, pt, pc in _IND_PAIRS:
        child = _dset(ct, cc)
        parent = _dset(pt, pc).withColumn("hit", F.lit(1))
        leg = (
            child.join(parent, "k", "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child_values"),
                F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_contained"),
            )
            .select(
                F.lit(f"{ct}.{cc}").alias("child_col"),
                F.lit(f"{pt}.{pc}").alias("parent_col"),
                "n_child_values",
                "n_contained",
                F.round(
                    F.col("n_contained").cast("double")
                    / F.col("n_child_values").cast("double"),
                    6,
                ).alias("containment"),
                F.when(
                    F.col("n_contained") == F.col("n_child_values"), 1
                )
                .otherwise(0)
                .alias("is_inclusion"),
            )
        )
        results = leg if results is None else results.unionByName(leg)
    return results.orderBy("child_col", "parent_col")


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted treatment effect (observational causal readout)
# ---------------------------------------------------------------------------

# Hajek (self-normalized) IPW means with propensities from the SHARED
# trained logistic model (treatment = the label the classifier family
# already predicts, covariates = the embedding). Weighted contributions
# are integer-scaled (milli-units for y/p, micro-units for 1/p) so the
# sums are exact and order-independent; clipping at [0.05, 0.95] is the
# standard positivity guard.
_IPW_PC = "CASE WHEN p < 0.05 THEN 0.05 WHEN p > 0.95 THEN 0.95 ELSE p END"
_IPW_TWY = "CAST(round(yv / pc * 1000) AS BIGINT)"
_IPW_TW = "CAST(round(1.0 / pc * 1000000) AS BIGINT)"
_IPW_CWY = "CAST(round(yv / (1 - pc) * 1000) AS BIGINT)"
_IPW_CW = "CAST(round(1.0 / (1 - pc) * 1000000) AS BIGINT)"
_IPW_MU1 = "(CAST(s_twy AS DOUBLE) * 1000 / CAST(s_tw AS DOUBLE))"
_IPW_MU0 = "(CAST(s_cwy AS DOUBLE) * 1000 / CAST(s_cw AS DOUBLE))"


def _ipw_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT v.vec_id, CAST(v.y AS INT) AS t,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
jo AS (
  SELECT t, CAST(d.n_chars AS DOUBLE) AS yv, {_IPW_PC} AS pc
  FROM scF JOIN documents d ON d.doc_id = scF.vec_id),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS n_treat,
         CAST(SUM(CASE WHEN t = 1 THEN {_IPW_TWY} ELSE 0 END) AS BIGINT) AS s_twy,
         CAST(SUM(CASE WHEN t = 1 THEN {_IPW_TW} ELSE 0 END) AS BIGINT) AS s_tw,
         CAST(SUM(CASE WHEN t = 0 THEN {_IPW_CWY} ELSE 0 END) AS BIGINT) AS s_cwy,
         CAST(SUM(CASE WHEN t = 0 THEN {_IPW_CW} ELSE 0 END) AS BIGINT) AS s_cw,
         CAST(SUM(CASE WHEN t = 1 THEN CAST(yv AS BIGINT) ELSE 0 END) AS BIGINT) AS sy1,
         CAST(SUM(CASE WHEN t = 0 THEN CAST(yv AS BIGINT) ELSE 0 END) AS BIGINT) AS sy0
  FROM jo)
SELECT n, n_treat,
       ROUND({_IPW_MU1}, 4) AS mu_treat_ipw,
       ROUND({_IPW_MU0}, 4) AS mu_ctrl_ipw,
       ROUND({_IPW_MU1} - {_IPW_MU0}, 4) AS ate_ipw,
       ROUND(CAST(sy1 AS DOUBLE) / CAST(n_treat AS DOUBLE)
             - CAST(sy0 AS DOUBLE) / CAST(n - n_treat AS DOUBLE), 4) AS ate_naive
FROM agg
"""


@query("ipw_treatment_effect", oracle=_ipw_oracle(64, 3, 1.0))
def ipw_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of the
    binary document label on document length, with propensities from
    the SHARED trained logistic model (embedding covariates). Reports
    the Hajek self-normalized IPW arm means, the IPW ATE, and the naive
    difference-in-means for contrast — the observational-causal
    companion to cuped (randomized) and diff_in_diff (parallel trends):
    IPW is what you reach for when assignment was NOT randomized but
    the confounders are measured.

    Exactness: propensity scoring replays the oracle's round-6 margin
    fold against the shared bounded-sample weights; clipped weights and
    weighted contributions are integer-scaled (milli/micro units) so
    every sum is exact and order-independent; the two Hajek ratios and
    the naive difference are shared expression strings — bit-identical
    engines.

    Scale: training is memoized and bounded (_LOGREG_SAMPLE_LIMIT);
    scoring + weighting is ONE scan of embeddings joined to documents
    on the key (broadcast-or-shuffle on int64); the output is one row
    of exact integer sums."""
    from dawis_spark.operators.logreg import margin_expr

    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-({margin_expr('embedding', w)}))), 6)"
    scored = spark.table("embeddings").select(
        "vec_id",
        F.expr(f"cast({_LOGREG_Y_SPARK} as int)").alias("t"),
        F.expr(p).alias("p"),
    )
    jo = (
        scored.join(
            spark.table("documents").select("doc_id", "n_chars"),
            F.col("doc_id") == F.col("vec_id"),
        )
        .selectExpr("t", "CAST(n_chars AS DOUBLE) AS yv", f"{_IPW_PC} AS pc")
    )
    agg = jo.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(t) AS BIGINT)").alias("n_treat"),
        F.expr(
            f"CAST(SUM(CASE WHEN t = 1 THEN {_IPW_TWY} ELSE 0 END) AS BIGINT)"
        ).alias("s_twy"),
        F.expr(
            f"CAST(SUM(CASE WHEN t = 1 THEN {_IPW_TW} ELSE 0 END) AS BIGINT)"
        ).alias("s_tw"),
        F.expr(
            f"CAST(SUM(CASE WHEN t = 0 THEN {_IPW_CWY} ELSE 0 END) AS BIGINT)"
        ).alias("s_cwy"),
        F.expr(
            f"CAST(SUM(CASE WHEN t = 0 THEN {_IPW_CW} ELSE 0 END) AS BIGINT)"
        ).alias("s_cw"),
        F.expr(
            "CAST(SUM(CASE WHEN t = 1 THEN CAST(yv AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("sy1"),
        F.expr(
            "CAST(SUM(CASE WHEN t = 0 THEN CAST(yv AS BIGINT) ELSE 0 END)"
            " AS BIGINT)"
        ).alias("sy0"),
    )
    return agg.selectExpr(
        "n",
        "n_treat",
        f"ROUND({_IPW_MU1}, 4) AS mu_treat_ipw",
        f"ROUND({_IPW_MU0}, 4) AS mu_ctrl_ipw",
        f"ROUND({_IPW_MU1} - {_IPW_MU0}, 4) AS ate_ipw",
        "ROUND(CAST(sy1 AS DOUBLE) / CAST(n_treat AS DOUBLE)"
        " - CAST(sy0 AS DOUBLE) / CAST(n - n_treat AS DOUBLE), 4) AS ate_naive",
    )


# ---------------------------------------------------------------------------
# AIPW doubly-robust treatment effect (propensity + outcome model)
# ---------------------------------------------------------------------------

# Per-arm outcome models are closed-form simple OLS of y = n_chars on the
# micro-scaled first embedding coordinate; slope/intercept come from exact
# integer moment sums (round-12 slope: the micro x-axis shrinks the unit
# slope by 1e6, so 12 decimals keep ~8 significant digits), and every
# per-row DR contribution is rounded to milli-units before the exact sum.
_AIPW_B = (
    "ROUND(CAST(n{t} * sxy{t} - sx{t} * sy{t} AS DOUBLE)"
    " / CAST(n{t} * sxx{t} - sx{t} * sx{t} AS DOUBLE), 12)"
)
_AIPW_A = "ROUND((CAST(sy{t} AS DOUBLE) - b{t} * CAST(sx{t} AS DOUBLE)) / n{t}, 6)"
_AIPW_M = "ROUND(a{t} + b{t} * x, 6)"
_AIPW_T1 = "CAST(round((m1 + t * (yv - m1) / pc) * 1000) AS BIGINT)"
_AIPW_T0 = "CAST(round((m0 + (1 - t) * (yv - m0) / (1 - pc)) * 1000) AS BIGINT)"
_AIPW_SUMS = """
         CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(t) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN t = 1 THEN x ELSE 0 END) AS {BIG}) AS sx1,
         CAST(SUM(CASE WHEN t = 1 THEN CAST(yv AS BIGINT) ELSE 0 END) AS {BIG}) AS sy1,
         CAST(SUM(CASE WHEN t = 1 THEN x * CAST(yv AS BIGINT) ELSE 0 END) AS {BIG}) AS sxy1,
         CAST(SUM(CASE WHEN t = 1 THEN x * x ELSE 0 END) AS {BIG}) AS sxx1,
         CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN t = 0 THEN x ELSE 0 END) AS {BIG}) AS sx0,
         CAST(SUM(CASE WHEN t = 0 THEN CAST(yv AS BIGINT) ELSE 0 END) AS {BIG}) AS sy0,
         CAST(SUM(CASE WHEN t = 0 THEN x * CAST(yv AS BIGINT) ELSE 0 END) AS {BIG}) AS sxy0,
         CAST(SUM(CASE WHEN t = 0 THEN x * x ELSE 0 END) AS {BIG}) AS sxx0
"""


def _aipw_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT v.vec_id, CAST(v.y AS INT) AS t,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p,
         CAST(ROUND(CAST(v.xs[1] AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM v, wlF),
jo AS MATERIALIZED (
  SELECT t, CAST(d.n_chars AS DOUBLE) AS yv, {_IPW_PC} AS pc, x
  FROM scF JOIN documents d ON d.doc_id = scF.vec_id),
moments AS (
  SELECT {_AIPW_SUMS.format(BIG='HUGEINT')}
  FROM jo),
coefs AS (
  SELECT n_all, n_t, b1, b0,
         {_AIPW_A.format(t='1')} AS a1,
         {_AIPW_A.format(t='0')} AS a0
  FROM (SELECT *, {_AIPW_B.format(t='1')} AS b1, {_AIPW_B.format(t='0')} AS b0
        FROM moments)),
scored AS (
  SELECT jo.t, jo.yv, jo.pc, c.n_all, c.n_t, c.b1, c.b0, m1, m0
  FROM (SELECT jo.*, {_AIPW_M.format(t='1')} AS m1, {_AIPW_M.format(t='0')} AS m0
        FROM jo CROSS JOIN coefs c) jo CROSS JOIN coefs c),
agg AS (
  SELECT MAX(n_all) AS n, MAX(n_t) AS n_treat,
         MAX(b1) AS slope_treat, MAX(b0) AS slope_ctrl,
         CAST(SUM({_AIPW_T1}) AS BIGINT) AS s1,
         CAST(SUM({_AIPW_T0}) AS BIGINT) AS s0
  FROM scored)
SELECT n, n_treat,
       ROUND(slope_treat * 1000000, 6) AS slope_treat_per_unit,
       ROUND(slope_ctrl * 1000000, 6) AS slope_ctrl_per_unit,
       ROUND(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 4) AS mu_treat_dr,
       ROUND(CAST(s0 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 4) AS mu_ctrl_dr,
       ROUND(CAST(s1 - s0 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 4) AS ate_aipw
FROM agg
"""


@query("aipw_doubly_robust", oracle=_aipw_oracle(64, 3, 1.0))
def aipw_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented IPW (doubly-robust) average treatment effect of the
    binary document label on document length: the SHARED trained
    logistic propensity (ipw_treatment_effect's) AUGMENTED with
    per-arm outcome regressions (closed-form simple OLS of n_chars on
    the first embedding coordinate). AIPW is consistent if EITHER
    model is right and has strictly lower asymptotic variance than IPW
    when both are — the estimator a production causal pipeline
    actually ships once it has both a propensity and an outcome model.

    Exactness: propensities replay the shared round-6 margin fold; the
    OLS moments are exact HUGEINT/DECIMAL38 sums of micro-scaled
    integers, collapsed to round-12 slopes / round-6 intercepts
    (identical IEEE chains both engines); every per-row DR term is
    rounded to milli-units before the exact integer sum; three final
    divisions.

    Scale: training memoized + bounded (_LOGREG_SAMPLE_LIMIT); the
    moment pass and the scoring pass are each ONE scan of the
    embeddings-documents equi-join (the 1-row coefficient relation
    broadcasts back); output is one row of exact sums."""
    from dawis_spark.operators.logreg import margin_expr

    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-({margin_expr('embedding', w)}))), 6)"
    scored = spark.table("embeddings").select(
        "vec_id",
        F.expr(f"cast({_LOGREG_Y_SPARK} as int)").alias("t"),
        F.expr(p).alias("p"),
        F.expr(
            "CAST(ROUND(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000)"
            " AS BIGINT)"
        ).alias("x"),
    )
    jo = (
        scored.join(
            spark.table("documents").select("doc_id", "n_chars"),
            F.col("doc_id") == F.col("vec_id"),
        )
        .selectExpr(
            "t", "CAST(n_chars AS DOUBLE) AS yv", f"{_IPW_PC} AS pc", "x"
        )
    )
    moments = jo.selectExpr("*").agg(
        *[
            F.expr(e.strip().rstrip(","))
            for e in _AIPW_SUMS.format(BIG="DECIMAL(38,0)").split(",\n")
            if e.strip()
        ]
    )
    coefs = moments.selectExpr(
        "n_all",
        "n_t",
        f"{_AIPW_B.format(t='1')} AS b1",
        f"{_AIPW_B.format(t='0')} AS b0",
        "sx1", "sy1", "n1", "sx0", "sy0", "n0",
    ).selectExpr(
        "n_all",
        "n_t",
        "b1",
        "b0",
        f"{_AIPW_A.format(t='1')} AS a1",
        f"{_AIPW_A.format(t='0')} AS a0",
    )
    scored2 = jo.crossJoin(F.broadcast(coefs)).selectExpr(
        "t",
        "yv",
        "pc",
        "n_all",
        "n_t",
        "b1",
        "b0",
        f"{_AIPW_M.format(t='1')} AS m1",
        f"{_AIPW_M.format(t='0')} AS m0",
    )
    agg = scored2.agg(
        F.max("n_all").alias("n"),
        F.max("n_t").alias("n_treat"),
        F.max("b1").alias("slope_treat"),
        F.max("b0").alias("slope_ctrl"),
        F.expr(f"CAST(SUM({_AIPW_T1}) AS BIGINT)").alias("s1"),
        F.expr(f"CAST(SUM({_AIPW_T0}) AS BIGINT)").alias("s0"),
    )
    return agg.selectExpr(
        "n",
        "n_treat",
        "ROUND(slope_treat * 1000000, 6) AS slope_treat_per_unit",
        "ROUND(slope_ctrl * 1000000, 6) AS slope_ctrl_per_unit",
        "ROUND(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 4)"
        " AS mu_treat_dr",
        "ROUND(CAST(s0 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 4)"
        " AS mu_ctrl_dr",
        "ROUND(CAST(s1 - s0 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 4)"
        " AS ate_aipw",
    )


# ---------------------------------------------------------------------------
# Propensity-score stratification ATE (the third propensity design)
# ---------------------------------------------------------------------------

_STRAT_BIN = "LEAST(CAST(FLOOR(p * 5) AS INT), 4)"
_STRAT_ATE_TERM = (
    "CAST(n_s AS DOUBLE) / n_tot"
    " * (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)"
)


def _strat_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT v.vec_id, CAST(v.y AS INT) AS t,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
jo AS (
  SELECT {_STRAT_BIN} AS s, t, CAST(d.n_chars AS BIGINT) AS yv
  FROM scF JOIN documents d ON d.doc_id = scF.vec_id),
strata AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(t) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(t) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN t = 1 THEN yv ELSE 0 END) AS BIGINT) AS sy1,
         CAST(SUM(CASE WHEN t = 0 THEN yv ELSE 0 END) AS BIGINT) AS sy0
  FROM jo GROUP BY 1),
ok AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ok)
SELECT s AS stratum, n_s, n1 AS n_treat, n0 AS n_ctrl,
       ROUND(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 4)
         AS stratum_effect,
       ROUND({_STRAT_ATE_TERM}, 4) AS weighted_term,
       ROUND((SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(ROUND({_STRAT_ATE_TERM}, 4) ORDER BY s)), (a, e) -> a + e)
              FROM ok CROSS JOIN tot), 4) AS ate_stratified
FROM ok CROSS JOIN tot
ORDER BY s
"""


@query("propensity_stratified_ate", oracle=_strat_oracle(64, 3, 1.0))
def propensity_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score STRATIFICATION estimate of the label effect on
    document length: the shared trained propensities cut into five
    fixed-width strata, per-stratum difference-in-means, and the
    size-weighted total — the third propensity design next to
    ipw_treatment_effect (weighting) and aipw_doubly_robust
    (augmentation): stratification is the diagnostic-friendly one (you
    READ the per-stratum effects to see where overlap holds; strata
    missing either arm drop out, which the output makes visible).

    Exactness: propensities replay the shared round-6 fold; stratum
    sums are exact integers; each stratum effect is one double chain
    rounded at 4, and the total folds the ROUNDED terms in stratum
    order on both engines.

    Scale: memoized bounded training; one scoring scan collapsing to
    <= 5 strata rows."""
    from dawis_spark.operators.logreg import margin_expr

    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-({margin_expr('embedding', w)}))), 6)"
    scored = spark.table("embeddings").select(
        "vec_id",
        F.expr(f"cast({_LOGREG_Y_SPARK} as int)").alias("t"),
        F.expr(p).alias("p"),
    )
    jo = scored.join(
        spark.table("documents").select("doc_id", "n_chars"),
        F.col("doc_id") == F.col("vec_id"),
    ).selectExpr(f"{_STRAT_BIN} AS s", "t", "CAST(n_chars AS BIGINT) AS yv")
    strata = jo.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum("t").cast("bigint").alias("n1"),
        F.expr("CAST(COUNT(*) - SUM(t) AS BIGINT)").alias("n0"),
        F.expr(
            "CAST(SUM(CASE WHEN t = 1 THEN yv ELSE 0 END) AS BIGINT)"
        ).alias("sy1"),
        F.expr(
            "CAST(SUM(CASE WHEN t = 0 THEN yv ELSE 0 END) AS BIGINT)"
        ).alias("sy0"),
    )
    ok = strata.filter("n1 > 0 AND n0 > 0")
    tot = ok.agg(F.sum("n_s").cast("bigint").alias("n_tot"))
    ate = (
        ok.crossJoin(F.broadcast(tot))
        .selectExpr("s", f"ROUND({_STRAT_ATE_TERM}, 4) AS wterm")
        .agg(
            F.expr(ordered_sum("wterm", "s")).alias("ate_raw")
        )
        .selectExpr("ROUND(ate_raw, 4) AS ate_stratified")
    )
    return (
        ok.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ate))
        .selectExpr(
            "s AS stratum",
            "n_s",
            "n1 AS n_treat",
            "n0 AS n_ctrl",
            "ROUND(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 4)"
            " AS stratum_effect",
            f"ROUND({_STRAT_ATE_TERM}, 4) AS weighted_term",
            "ate_stratified",
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# Cronbach's alpha (internal-consistency reliability of a vector scale)
# ---------------------------------------------------------------------------

_CRON_K = 8  # items: the first 8 embedding coordinates
_CRON_ALPHA = (
    f"(CAST({_CRON_K} AS DOUBLE) / ({_CRON_K} - 1))"
    " * (1.0 - CAST(sum_item_var AS DOUBLE) / total_var)"
)


def _cron_oracle() -> str:
    items = ", ".join(
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000) AS BIGINT)"
        f" AS x{i}"
        for i in range(_CRON_K)
    )
    tot = " + ".join(f"x{i}" for i in range(_CRON_K))
    var_legs = ",\n         ".join(
        f"CAST(SUM(CAST(x{i} AS HUGEINT) * x{i}) AS HUGEINT) AS sxx{i},"
        f" CAST(SUM(x{i}) AS HUGEINT) AS sx{i}"
        for i in range(_CRON_K)
    )
    item_vars = " + ".join(
        f"CAST(n * sxx{i} - sx{i} * sx{i} AS DOUBLE)" for i in range(_CRON_K)
    )
    return f"""
WITH it AS (SELECT {items} FROM embeddings),
wide AS (SELECT *, ({tot}) AS xt FROM it),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         {var_legs},
         CAST(SUM(CAST(xt AS HUGEINT) * xt) AS HUGEINT) AS sxxt,
         CAST(SUM(xt) AS HUGEINT) AS sxt
  FROM wide),
vars AS (
  SELECT CAST(n AS BIGINT) AS n_rows,
         ({item_vars}) AS sum_item_var,
         CAST(n * sxxt - sxt * sxt AS DOUBLE) AS total_var
  FROM mom)
SELECT n_rows,
       ROUND(CAST(sum_item_var AS DOUBLE) / total_var, 6) AS var_ratio,
       ROUND({_CRON_ALPHA}, 6) AS cronbach_alpha
FROM vars
"""


@query("cronbach_alpha_embedding", oracle=_cron_oracle())
def cronbach_alpha_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the first 8 embedding coordinates treated
    as a measurement scale: alpha = k/(k-1) * (1 - sum(item var) /
    var(total)) — the classical internal-consistency reliability
    coefficient (survey scales, multi-judge rubrics, ensembled quality
    raters). Near 0 for independent coordinates (a healthy random
    embedding basis — this doubles as an independence check beside
    embedding_isotropy_profile) and -> 1 when items redundantly
    measure one factor.

    Exactness: items are micro-scaled exact integers; every variance
    numerator is the cleared-denominator exact form n*Sxx - Sx^2
    (cancelling 1/n^2 in the ratio); one division + the k/(k-1)
    constant chain, round 6.

    Scale: one scan collapsing to a single moment row (8 + 1 variance
    legs wide)."""
    items = ", ".join(
        "CAST(ROUND(CAST(element_at(embedding, "
        f"{i + 1}) AS DOUBLE) * 1000000) AS BIGINT) AS x{i}"
        for i in range(_CRON_K)
    )
    tot = " + ".join(f"x{i}" for i in range(_CRON_K))
    d38 = "DECIMAL(38,0)"
    wide = (
        spark.table("embeddings")
        .selectExpr(*_split_top_level(items))
        .selectExpr("*", f"({tot}) AS xt")
    )
    aggs = [F.expr(f"CAST(COUNT(*) AS {d38})").alias("n")]
    for i in range(_CRON_K):
        aggs.append(
            F.expr(f"CAST(SUM(CAST(x{i} AS {d38}) * x{i}) AS {d38})").alias(
                f"sxx{i}"
            )
        )
        aggs.append(F.expr(f"CAST(SUM(x{i}) AS {d38})").alias(f"sx{i}"))
    aggs.append(
        F.expr(f"CAST(SUM(CAST(xt AS {d38}) * xt) AS {d38})").alias("sxxt")
    )
    aggs.append(F.expr(f"CAST(SUM(xt) AS {d38})").alias("sxt"))
    mom = wide.agg(*aggs)
    item_vars = " + ".join(
        f"CAST(n * sxx{i} - sx{i} * sx{i} AS DOUBLE)" for i in range(_CRON_K)
    )
    vars_ = mom.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        f"({item_vars}) AS sum_item_var",
        "CAST(n * sxxt - sxt * sxt AS DOUBLE) AS total_var",
    )
    return vars_.selectExpr(
        "n_rows",
        "ROUND(CAST(sum_item_var AS DOUBLE) / total_var, 6) AS var_ratio",
        f"ROUND({_CRON_ALPHA}, 6) AS cronbach_alpha",
    )


def _split_top_level(s: str) -> list[str]:
    """Split a comma-joined SQL projection list at top-level commas
    (commas inside parens belong to function args; commas inside
    single-quoted string literals — e.g. ``',' AS sep`` — belong to the
    literal). Doubled-quote escaping (``''``) reads as close+reopen,
    which toggles the flag twice and stays in-literal — correct."""
    out, depth, cur, in_str = [], 0, [], False
    for ch in s:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        if ch == "," and depth == 0 and not in_str:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


# ---------------------------------------------------------------------------
# Instrumental-variable (Wald) estimate
# ---------------------------------------------------------------------------

_IV_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
jo AS (
  SELECT CAST(c.c_nationkey % 2 AS INT) AS z,
         CASE WHEN c.c_acctbal > 5000 THEN 1 ELSE 0 END AS x,
         COALESCE(s.y, 0) AS y
  FROM customer c LEFT JOIN spend s ON s.k = c.c_custkey),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(z) AS HUGEINT) AS sz,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(z * x) AS HUGEINT) AS szx,
         CAST(SUM(CAST(z AS HUGEINT) * y) AS HUGEINT) AS szy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM jo)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(CAST(n * szx - sz * sx AS DOUBLE)
             / CAST(n * sz - sz * sz AS DOUBLE), 6) AS first_stage,
       ROUND((CAST(n * szy - sz * sy AS DOUBLE)
              / CAST(n * szx - sz * sx AS DOUBLE)) / 100, 4) AS beta_iv,
       ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sx - sx * sx AS DOUBLE)) / 100, 4) AS beta_ols
FROM mom
"""


@query("iv_wald_estimate", oracle=_IV_ORACLE)
def iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable (Wald) estimate of the high-balance
    effect on customer spend, instrumented by nation parity:
    beta_IV = Cov(Z,Y)/Cov(Z,X), reported beside the first-stage
    strength Cov(Z,X)/Var(Z) and the naive OLS slope — the last
    member of the identification-strategy family (randomized: cuped;
    parallel trends: diff_in_diff; measured confounding: ipw/aipw;
    threshold: regression_discontinuity; UNMEASURED confounding with
    an instrument: IV). A weak first stage flags the estimate as
    untrustworthy, which is why it is a first-class output column.

    Exactness: Z and X are binary so every covariance numerator is an
    exact cleared-denominator integer (z^2 = z, x^2 = x); three
    identical double-chain ratios, cents folded into the division.

    Scale: one spend rollup + one dimension scan collapsing to a
    single moment row."""
    spend = spark.table("orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
        .cast("bigint")
        .alias("y")
    )
    jo = (
        spark.table("customer")
        .join(spend, F.col("k") == F.col("c_custkey"), "left")
        .selectExpr(
            "CAST(c_nationkey % 2 AS INT) AS z",
            "CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS x",
            "COALESCE(y, 0) AS y",
        )
    )
    d38 = "DECIMAL(38,0)"
    mom = jo.agg(
        F.expr(f"CAST(COUNT(*) AS {d38})").alias("n"),
        F.expr(f"CAST(SUM(z) AS {d38})").alias("sz"),
        F.expr(f"CAST(SUM(x) AS {d38})").alias("sx"),
        F.expr(f"CAST(SUM(y) AS {d38})").alias("sy"),
        F.expr(f"CAST(SUM(z * x) AS {d38})").alias("szx"),
        F.expr(f"CAST(SUM(CAST(z AS {d38}) * y) AS {d38})").alias("szy"),
        F.expr(f"CAST(SUM(CAST(x AS {d38}) * y) AS {d38})").alias("sxy"),
    )
    return mom.selectExpr(
        "CAST(n AS BIGINT) AS n_customers",
        "ROUND(CAST(n * szx - sz * sx AS DOUBLE)"
        " / CAST(n * sz - sz * sz AS DOUBLE), 6) AS first_stage",
        "ROUND((CAST(n * szy - sz * sy AS DOUBLE)"
        " / CAST(n * szx - sz * sx AS DOUBLE)) / 100, 4) AS beta_iv",
        "ROUND((CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sx - sx * sx AS DOUBLE)) / 100, 4) AS beta_ols",
    )


# ---------------------------------------------------------------------------
# Huber-IRLS robust regression (bounded-sample trajectory)
# ---------------------------------------------------------------------------

_HUB_K = 20_000_000  # fixed Huber threshold, cents
_HUB_ITERS = 3
_HUB_SAMPLE = 4096
_HUB_X = "CAST(datediff(o_orderdate, TIMESTAMP '1995-01-01') AS BIGINT)"
_HUB_X_DUCK = (
    "CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)"
)
_HUB_Y = "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"
_HUB_B0 = (
    "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / CAST(n * sxx - sx * sx AS DOUBLE), 6)"
)
_HUB_A0 = "ROUND((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n, 4)"
_HUB_W6 = (
    "CASE WHEN r = 0 THEN 1000000"
    f" ELSE LEAST(1000000, CAST(FLOOR({_HUB_K} * 1000000.0 / abs(r) + 0.5)"
    " AS BIGINT)) END"
)
_HUB_BW = (
    "ROUND((CAST(nw AS DOUBLE) * CAST(sxyw AS DOUBLE)"
    " - CAST(sxw AS DOUBLE) * CAST(syw AS DOUBLE))"
    " / (CAST(nw AS DOUBLE) * CAST(sxxw AS DOUBLE)"
    " - CAST(sxw AS DOUBLE) * CAST(sxw AS DOUBLE)), 6)"
)
_HUB_AW = "ROUND((CAST(syw AS DOUBLE) - b * CAST(sxw AS DOUBLE)) / nw, 4)"


def _huber_oracle() -> str:
    rounds = []
    for t in range(1, _HUB_ITERS + 1):
        rounds.append(f"""
hw{t} AS (
  SELECT s.x, s.y, {_HUB_W6} AS w6
  FROM (SELECT x, y, ROUND(y - (c.a + c.b * x), 6) AS r
        FROM samp, h{t - 1} c) s(x, y, r)),
hm{t} AS (
  SELECT CAST(SUM(w6) AS HUGEINT) AS nw,
         CAST(SUM(w6 * x) AS HUGEINT) AS sxw,
         CAST(SUM(w6 * y) AS HUGEINT) AS syw,
         CAST(SUM(w6 * x * x) AS HUGEINT) AS sxxw,
         CAST(SUM(w6 * x * y) AS HUGEINT) AS sxyw
  FROM hw{t}),
h{t} AS (
  SELECT b, {_HUB_AW} AS a
  FROM (SELECT {_HUB_BW} AS b, nw, sxw, syw FROM hm{t}))""")
    return f"""
WITH samp AS (
  SELECT {_HUB_X_DUCK} AS x, {_HUB_Y} AS y
  FROM orders ORDER BY o_orderkey LIMIT {_HUB_SAMPLE}),
m0 AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM samp),
h0 AS (
  SELECT b, {_HUB_A0} AS a
  FROM (SELECT {_HUB_B0} AS b, n, sx, sy FROM m0)),
{','.join(rounds)},
full_r AS (
  SELECT ROUND({_HUB_Y} - (c.a + c.b * {_HUB_X_DUCK}), 6) AS r
  FROM orders, h{_HUB_ITERS} c)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample,
       (SELECT ROUND(a / 100, 4) FROM h{_HUB_ITERS}) AS intercept_huber,
       (SELECT ROUND(b, 6) FROM h{_HUB_ITERS}) AS slope_cents_per_day,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       ROUND(CAST(SUM(CASE WHEN abs(r) > {_HUB_K} THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS outlier_share
FROM full_r
"""


@query("huber_irls_regression", oracle=_huber_oracle())
def huber_irls_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber-weighted robust line fit of order value against time: OLS
    init then 3 IRLS rounds with micro-integer Huber weights
    (w = min(1, k/|resid|), fixed k = 200k-dollar threshold) on the
    4096 lowest-orderkey sample (the logreg/kmeans bounded-training
    discipline), then ONE distributed pass scoring the full corpus for
    the share of Huber-outlier orders. Robust regression is what
    ols_price_regression should become when heavy tails are real —
    the slope stops chasing whale orders (theil_sen gets robustness
    from medians; Huber keeps OLS efficiency on the inliers).

    Exactness: the whole IRLS trajectory uses exact integer moments
    and shared HALF-UP double chains (operators/stats.py:
    huber_irls_fit == the CTE chain, bit-equal); the full-corpus
    residual pass reuses the same rounded coefficients.

    Scale: training is one bounded TakeOrdered collect + driver
    arithmetic (constant at any corpus size); the outlier share is one
    map-side scan."""
    from dawis_spark.operators.stats import huber_irls_fit

    rows = (
        spark.table("orders")
        .selectExpr("o_orderkey", f"{_HUB_X} AS x", f"{_HUB_Y} AS y")
        .orderBy("o_orderkey")
        .limit(_HUB_SAMPLE)
        .collect()
    )
    a, b = huber_irls_fit(
        [r["x"] for r in rows],
        [r["y"] for r in rows],
        iterations=_HUB_ITERS,
        k=_HUB_K,
    )
    # CAST the injected literals: Spark parses bare decimal literals as
    # DECIMAL (not DOUBLE), which would split the output dtype vs DuckDB
    al, bl = f"CAST({a!r} AS DOUBLE)", f"CAST({b!r} AS DOUBLE)"
    full = spark.table("orders").selectExpr(
        f"ROUND({_HUB_Y} - ({al} + {bl} * {_HUB_X}), 6) AS r"
    )
    return full.agg(
        F.expr(f"CAST({len(rows)} AS BIGINT)").alias("n_sample"),
        F.expr(f"ROUND({al} / 100, 4)").alias("intercept_huber"),
        F.expr(f"ROUND({bl}, 6)").alias("slope_cents_per_day"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_total"),
        F.expr(
            f"ROUND(CAST(SUM(CASE WHEN abs(r) > {_HUB_K} THEN 1 ELSE 0 END)"
            " AS DOUBLE) / COUNT(*), 6)"
        ).alias("outlier_share"),
    )


# ---------------------------------------------------------------------------
# Mediation analysis (Baron–Kenny product-of-coefficients)
# ---------------------------------------------------------------------------

# cleared-denominator covariance numerators (exact integers), combined in
# identical double chains; X is the binary label so Sxx == Sx
_MED_C = {
    "cxx": "(n * sx - sx * sx)",
    "cmm": "(n * smm - sm * sm)",
    "cxm": "(n * sxm - sx * sm)",
    "cxy": "(n * sxy - sx * sy)",
    "cmy": "(n * smy - sm * sy)",
}
_MED_DET = (
    "(CAST({cxx} AS DOUBLE) * CAST({cmm} AS DOUBLE)"
    " - CAST({cxm} AS DOUBLE) * CAST({cxm} AS DOUBLE))"
).format(**_MED_C)
_MED_CP = (
    "ROUND((CAST({cxy} AS DOUBLE) * CAST({cmm} AS DOUBLE)"
    " - CAST({cmy} AS DOUBLE) * CAST({cxm} AS DOUBLE)) / " + _MED_DET + ", 6)"
).format(**_MED_C)
_MED_B = (
    "ROUND((CAST({cmy} AS DOUBLE) * CAST({cxx} AS DOUBLE)"
    " - CAST({cxy} AS DOUBLE) * CAST({cxm} AS DOUBLE)) / " + _MED_DET + ", 6)"
).format(**_MED_C)
_MED_A = (
    "ROUND(CAST(sm1 AS DOUBLE) / n1 - CAST(sm0 AS DOUBLE) / n0, 6)"
)

_MED_ORACLE = f"""
WITH jo AS (
  SELECT CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS x,
         CAST(ROUND(CAST(e.embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS m,
         CAST(d.n_chars AS BIGINT) AS y
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(m) AS HUGEINT) AS sm,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(m * m) AS HUGEINT) AS smm,
         CAST(SUM(x * m) AS HUGEINT) AS sxm,
         CAST(SUM(x * y) AS HUGEINT) AS sxy,
         CAST(SUM(m * y) AS HUGEINT) AS smy,
         CAST(SUM(x) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(x) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN x = 1 THEN m ELSE 0 END) AS HUGEINT) AS sm1,
         CAST(SUM(CASE WHEN x = 0 THEN m ELSE 0 END) AS HUGEINT) AS sm0
  FROM jo),
coefs AS (
  SELECT CAST(n AS BIGINT) AS n_docs,
         {_MED_A} AS a_path,
         {_MED_B} AS b_path,
         {_MED_CP} AS c_prime
  FROM mom)
SELECT n_docs,
       ROUND(a_path / 1000000, 6) AS a_path_units,
       ROUND(b_path * 1000000, 6) AS b_path_units,
       c_prime,
       ROUND(a_path * b_path, 6) AS indirect_effect,
       ROUND(c_prime + a_path * b_path, 6) AS total_effect,
       ROUND(a_path * b_path / nullif(c_prime + a_path * b_path, 0), 6)
         AS prop_mediated
FROM coefs
"""


@query("mediation_baron_kenny", oracle=_MED_ORACLE)
def mediation_baron_kenny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron–Kenny mediation decomposition of the document label's
    effect on length THROUGH the first embedding coordinate: a-path =
    the label's effect on the mediator (difference in means), b-path +
    c' from the two-regressor OLS of length on (label, mediator),
    indirect effect = a*b, total = c' + a*b, with the proportion
    mediated — the causal-PATH question the ipw/aipw/rd family can't
    answer (THAT something works vs THROUGH WHAT it works). a/b are
    also reported in per-unit terms (the mediator is micro-scaled).

    Exactness: all nine moments are exact HUGEINT/DECIMAL38 sums; the
    covariance numerators are exact cleared-denominator integers; the
    2x2 solve and every derived effect are shared double chains
    rounded at 6.

    Scale: ONE scan of the embeddings-documents equi-join collapsing
    to a single moment row; constant tail."""
    jo = (
        spark.table("embeddings")
        .join(
            spark.table("documents").select("doc_id", "n_chars"),
            F.col("doc_id") == F.col("vec_id"),
        )
        .selectExpr(
            "CASE WHEN label < 5 THEN 1 ELSE 0 END AS x",
            "CAST(ROUND(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000)"
            " AS BIGINT) AS m",
            "CAST(n_chars AS BIGINT) AS y",
        )
    )
    d38 = "DECIMAL(38,0)"
    mom = jo.agg(
        F.expr(f"CAST(COUNT(*) AS {d38})").alias("n"),
        F.expr(f"CAST(SUM(x) AS {d38})").alias("sx"),
        F.expr(f"CAST(SUM(m) AS {d38})").alias("sm"),
        F.expr(f"CAST(SUM(y) AS {d38})").alias("sy"),
        F.expr(f"CAST(SUM(CAST(m AS {d38}) * m) AS {d38})").alias("smm"),
        F.expr(f"CAST(SUM(x * m) AS {d38})").alias("sxm"),
        F.expr(f"CAST(SUM(x * y) AS {d38})").alias("sxy"),
        F.expr(f"CAST(SUM(CAST(m AS {d38}) * y) AS {d38})").alias("smy"),
        F.expr("CAST(SUM(x) AS BIGINT)").alias("n1"),
        F.expr("CAST(COUNT(*) - SUM(x) AS BIGINT)").alias("n0"),
        F.expr(
            f"CAST(SUM(CASE WHEN x = 1 THEN m ELSE 0 END) AS {d38})"
        ).alias("sm1"),
        F.expr(
            f"CAST(SUM(CASE WHEN x = 0 THEN m ELSE 0 END) AS {d38})"
        ).alias("sm0"),
    )
    coefs = mom.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        f"{_MED_A} AS a_path",
        f"{_MED_B} AS b_path",
        f"{_MED_CP} AS c_prime",
    )
    return coefs.selectExpr(
        "n_docs",
        "ROUND(a_path / 1000000, 6) AS a_path_units",
        "ROUND(b_path * 1000000, 6) AS b_path_units",
        "c_prime",
        "ROUND(a_path * b_path, 6) AS indirect_effect",
        "ROUND(c_prime + a_path * b_path, 6) AS total_effect",
        "ROUND(a_path * b_path / nullif(c_prime + a_path * b_path, 0), 6)"
        " AS prop_mediated",
    )


# ---------------------------------------------------------------------------
# Iterative proportional fitting (raking) of survey-style cell weights
# ---------------------------------------------------------------------------

_RAKE_ITERS = 4
# one raking half-step: rescale every cell weight so the WEIGHTED margin
# along `dim` hits the uniform target; W is the micro-scaled weight, S the
# current weighted margin sum — one double multiply + divide, then back to
# an exact integer (the shared-expression discipline: identical chain both
# engines)
_RAKE_STEP = (
    "CAST(ROUND(CAST({W} AS DOUBLE)"
    " * (CAST(n_tot AS DOUBLE) * 1000000 / {k})"
    " / CAST({S} AS DOUBLE)) AS BIGINT)"
)


def _rake_oracle(iters: int) -> str:
    steps = []
    prev = "w0"
    for t in range(1, iters + 1):
        steps.append(f"""
r{t} AS (
  SELECT r, p, c, n_tot, n_r, n_p,
         {_RAKE_STEP.format(W='w', S=f'SUM(c * w) OVER (PARTITION BY r)', k='n_r')} AS w
  FROM {prev}),
c{t} AS (
  SELECT r, p, c, n_tot, n_r, n_p,
         {_RAKE_STEP.format(W='w', S=f'SUM(c * w) OVER (PARTITION BY p)', k='n_p')} AS w
  FROM r{t})""")
        prev = f"c{t}"
    return f"""
WITH cells AS (
  SELECT r_name AS r, o_orderpriority AS p,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation   ON n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  GROUP BY 1, 2),
dims AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tot,
         CAST(COUNT(DISTINCT r) AS BIGINT) AS n_r,
         CAST(COUNT(DISTINCT p) AS BIGINT) AS n_p
  FROM cells),
w0 AS (
  SELECT r, p, c, n_tot, n_r, n_p, CAST(1000000 AS BIGINT) AS w
  FROM cells CROSS JOIN dims),
{','.join(steps)}
SELECT r AS region, p AS priority, c AS n_cell,
       ROUND(CAST(w AS DOUBLE) / 1000000, 6) AS weight,
       ROUND(CAST(c AS DOUBLE) * w / 1000000, 2) AS weighted_count
FROM {prev}
ORDER BY region, priority
"""


def _rake_spark_steps(df: DataFrame, iters: int) -> DataFrame:
    from pyspark.sql import Window

    for _ in range(iters):
        for dim_col, k in (("r", "n_r"), ("p", "n_p")):
            win = Window.partitionBy(dim_col)
            df = (
                df.withColumn(
                    "s_margin", F.sum(F.col("c") * F.col("w")).over(win)
                )
                .withColumn(
                    "w", F.expr(_RAKE_STEP.format(W="w", S="s_margin", k=k))
                )
                .drop("s_margin")
            )
    return df


@query("raking_ipf_weights", oracle=_rake_oracle(_RAKE_ITERS))
def raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of region x priority cell
    weights toward UNIFORM marginal targets — the survey/panel
    reweighting primitive (and the training-data mixing companion to
    mixture_sampled_corpus: raking answers 'what per-cell weights make
    this corpus look like the target marginals' without flattening the
    joint structure the cells carry). 4 full iterations = 8 alternating
    row/column half-steps; IPF converges geometrically, and the fixed
    iteration count makes the trajectory replayable.

    Exactness: cell counts exact; weights live as micro-scaled integers
    and each half-step is the SAME shared expression string both
    engines — one double multiply + divide + round back to integer —
    so the whole 8-step trajectory is bit-identical; display pays two
    final divisions.

    Scale: the star join to build cells is fact-sized (dims broadcast);
    everything after runs on the |regions| x |priorities| = 25-row cell
    relation — partitioned windows over a constant-size table."""
    cells = (
        spark.table("orders")
        .join(
            spark.table("customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            spark.table("nation"),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            spark.table("region"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("r"), F.col("o_orderpriority").alias("p")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # persisted (r15): the |regions| x |priorities| = 25-row cell
        # relation feeds the marginal-dims aggregate AND the w0 grid —
        # without it the fact-sized star join ran once per consumer
        # (16 scans in the before plan)
        .persist()
    )
    dims = cells.agg(
        F.sum("c").cast("bigint").alias("n_tot"),
        F.countDistinct("r").cast("bigint").alias("n_r"),
        F.countDistinct("p").cast("bigint").alias("n_p"),
    )
    w0 = cells.crossJoin(F.broadcast(dims)).withColumn(
        "w", F.expr("CAST(1000000 AS BIGINT)")
    )
    out = _rake_spark_steps(w0, _RAKE_ITERS)
    return out.selectExpr(
        "r AS region",
        "p AS priority",
        "c AS n_cell",
        "ROUND(CAST(w AS DOUBLE) / 1000000, 6) AS weight",
        "ROUND(CAST(c AS DOUBLE) * w / 1000000, 2) AS weighted_count",
    ).orderBy("region", "priority")


# ---------------------------------------------------------------------------
# Regression discontinuity: local linear fit on both sides of a cutoff
# ---------------------------------------------------------------------------

_RD_CUT = 450000  # acctbal cutoff, cents
_RD_BW = 200000  # local bandwidth, cents
# side-parameterized closed-form OLS of y (order-spend cents) on the
# centered running variable z = acctbal_cents - cutoff, within the window
_RD_B = (
    "ROUND(CAST(n{s} * szy{s} - sz{s} * sy{s} AS DOUBLE)"
    " / CAST(n{s} * szz{s} - sz{s} * sz{s} AS DOUBLE), 9)"
)
_RD_A = "ROUND((CAST(sy{s} AS DOUBLE) - b{s} * CAST(sz{s} AS DOUBLE)) / n{s}, 4)"
_RD_SUMS = """
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         CAST(SUM(CASE WHEN s = 1 THEN z ELSE 0 END) AS {BIG}) AS szr,
         CAST(SUM(CASE WHEN s = 1 THEN y ELSE 0 END) AS {BIG}) AS syr,
         CAST(SUM(CASE WHEN s = 1 THEN z * y ELSE 0 END) AS {BIG}) AS szyr,
         CAST(SUM(CASE WHEN s = 1 THEN z * z ELSE 0 END) AS {BIG}) AS szzr,
         CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         CAST(SUM(CASE WHEN s = 0 THEN z ELSE 0 END) AS {BIG}) AS szl,
         CAST(SUM(CASE WHEN s = 0 THEN y ELSE 0 END) AS {BIG}) AS syl,
         CAST(SUM(CASE WHEN s = 0 THEN z * y ELSE 0 END) AS {BIG}) AS szyl,
         CAST(SUM(CASE WHEN s = 0 THEN z * z ELSE 0 END) AS {BIG}) AS szzl
"""

_RD_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
win AS (
  SELECT CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) - {_RD_CUT} AS z,
         COALESCE(s.y, 0) AS y,
         CASE WHEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) >= {_RD_CUT}
              THEN 1 ELSE 0 END AS s
  FROM customer c LEFT JOIN spend s ON s.k = c.c_custkey
  WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
        BETWEEN {_RD_CUT - _RD_BW} AND {_RD_CUT + _RD_BW - 1}),
moments AS (
  SELECT {_RD_SUMS.format(BIG='HUGEINT')}
  FROM win),
coefs AS (
  SELECT nl, nr, bl, br,
         {_RD_A.format(s='l')} AS al,
         {_RD_A.format(s='r')} AS ar
  FROM (SELECT *, {_RD_B.format(s='l')} AS bl, {_RD_B.format(s='r')} AS br
        FROM moments))
SELECT CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       ROUND(al / 100, 4) AS intercept_left,
       ROUND(ar / 100, 4) AS intercept_right,
       ROUND(bl, 9) AS slope_left, ROUND(br, 9) AS slope_right,
       ROUND((ar - al) / 100, 4) AS rd_estimate
FROM coefs
"""


@query("regression_discontinuity_spend", oracle=_RD_ORACLE)
def regression_discontinuity_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate of the jump in customer
    order spend at an account-balance cutoff (4500.00, +/- 2000.00
    bandwidth): separate local LINEAR fits on each side of the cutoff,
    RD estimate = the difference of the two intercepts AT the cutoff —
    the quasi-experimental design for threshold-assigned treatments
    (credit limits, eligibility scores) where neither randomization
    (cuped), parallel trends (diff_in_diff), nor measured confounding
    (ipw/aipw) applies. Slopes are reported so the reader can see the
    counterfactual trend lines.

    Exactness: the running variable and outcome are exact integer
    cents; all five OLS moments per side are exact HUGEINT/DECIMAL38
    conditional sums from ONE pass; slopes round-9, intercepts round-4
    (identical IEEE chains both engines). Window membership uses
    integer-cent bounds, so both engines cut identically.

    Scale: the spend rollup is one custkey-shuffled aggregate of the
    fact table; the bandwidth filter prunes the dimension scan before
    the (broadcastable) join; moments collapse map-side to one row."""
    spend = spark.table("orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
        .cast("bigint")
        .alias("y")
    )
    cents = "CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)"
    win = (
        spark.table("customer")
        .filter(
            F.expr(
                f"{cents} BETWEEN {_RD_CUT - _RD_BW} AND {_RD_CUT + _RD_BW - 1}"
            )
        )
        .join(spend, F.col("k") == F.col("c_custkey"), "left")
        .selectExpr(
            f"{cents} - {_RD_CUT} AS z",
            "COALESCE(y, 0) AS y",
            f"CASE WHEN {cents} >= {_RD_CUT} THEN 1 ELSE 0 END AS s",
        )
    )
    moments = win.agg(
        *[
            F.expr(e.strip().rstrip(","))
            for e in _RD_SUMS.format(BIG="DECIMAL(38,0)").split(",\n")
            if e.strip()
        ]
    )
    coefs = moments.selectExpr(
        "nl",
        "nr",
        f"{_RD_B.format(s='l')} AS bl",
        f"{_RD_B.format(s='r')} AS br",
        "szl", "syl", "szr", "syr",
    ).selectExpr(
        "nl",
        "nr",
        "bl",
        "br",
        f"{_RD_A.format(s='l')} AS al",
        f"{_RD_A.format(s='r')} AS ar",
    )
    return coefs.selectExpr(
        "CAST(nl AS BIGINT) AS n_left",
        "CAST(nr AS BIGINT) AS n_right",
        "ROUND(al / 100, 4) AS intercept_left",
        "ROUND(ar / 100, 4) AS intercept_right",
        "ROUND(bl, 9) AS slope_left",
        "ROUND(br, 9) AS slope_right",
        "ROUND((ar - al) / 100, 4) AS rd_estimate",
    )


# ---------------------------------------------------------------------------
# Offline bandit policy replay: UCB1 over daily event-type rewards
# ---------------------------------------------------------------------------

_UCB_K = 5  # arm slots: the K alphabetically-first event types


def _ucb_uj(j: int) -> str:
    """UCB index of arm j at selection time (r.t plays done): round-6
    of exact-int mean + gmax-scaled exploration. The round-6 fold
    absorbs last-ulp libm ln/sqrt differences between engines."""
    return (
        f"round(CAST(r.cs{j} AS DOUBLE) / r.n{j}"
        f" + CAST(i.gmax AS DOUBLE)"
        f" * sqrt(2 * ln(CAST(r.t AS DOUBLE)) / r.n{j}), 6)"
    )


def _ucb_oracle() -> str:
    k = _UCB_K
    # lowest-index argmax over the K UCB indexes, as a CASE chain
    branches = []
    for j in range(1, k):
        conds = " AND ".join(
            f"{_ucb_uj(j)} >= {_ucb_uj(m)}" for m in range(j + 1, k + 1)
        )
        branches.append(f"WHEN {conds} THEN {j}")
    argmax = f"CASE {' '.join(branches)} ELSE {k} END"
    ch = f"(CASE WHEN i.t <= {k} THEN CAST(i.t AS INT) ELSE ({argmax}) END)"
    rw = (
        f"(CASE {ch} "
        + " ".join(f"WHEN {j} THEN i.r{j}" for j in range(1, k + 1))
        + " END)"
    )
    n_updates = ",\n         ".join(
        f"r.n{j} + CASE WHEN {ch} = {j} THEN 1 ELSE 0 END" for j in range(1, k + 1)
    )
    cs_updates = ",\n         ".join(
        f"r.cs{j} + CASE WHEN {ch} = {j} THEN i.r{j} ELSE CAST(0 AS BIGINT) END"
        for j in range(1, k + 1)
    )
    n_cols = ", ".join(f"n{j}" for j in range(1, k + 1))
    cs_cols = ", ".join(f"cs{j}" for j in range(1, k + 1))
    zeros_n = ", ".join("CAST(0 AS BIGINT)" for _ in range(k))
    piv = ",\n         ".join(
        f"MAX(CASE WHEN j = {j} THEN rmu END) AS r{j}" for j in range(1, k + 1)
    )
    cb = ", ".join(
        f"SUM(r{j}) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)"
        for j in range(1, k + 1)
    )
    return f"""
WITH RECURSIVE ar AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
arms AS (
  SELECT event_type, j FROM (
    SELECT event_type,
           CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS INT) AS j
    FROM (SELECT DISTINCT event_type FROM ar))
  WHERE j <= {k}),
piv AS (
  SELECT d,
         {piv}
  FROM (SELECT d, j, (s * 1000000) // c AS rmu
        FROM ar JOIN arms USING (event_type))
  GROUP BY d HAVING COUNT(*) = {k}),
gm AS (SELECT CAST(MAX(GREATEST(r1, r2, r3, r4, r5)) AS BIGINT) AS gmax
       FROM piv),
ix AS (
  SELECT d, r1, r2, r3, r4, r5, gmax,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
         CAST(GREATEST({cb}) AS BIGINT) AS best
  FROM piv CROSS JOIN gm),
rec(t, ch, {n_cols}, {cs_cols}, rw, cum) AS (
  SELECT CAST(0 AS BIGINT), CAST(0 AS INT), {zeros_n}, {zeros_n},
         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT i.t, {ch},
         {n_updates},
         {cs_updates},
         {rw},
         r.cum + {rw}
  FROM rec r JOIN ix i ON i.t = r.t + 1)
SELECT r.t AS step, i.d AS day, a.event_type AS chosen_arm,
       r.rw AS reward_micro, r.cum AS cum_reward_micro,
       i.best AS best_fixed_micro, i.best - r.cum AS regret_micro
FROM rec r JOIN ix i ON i.t = r.t JOIN arms a ON a.j = r.ch
WHERE r.t >= 1 ORDER BY step
"""


@query("ucb1_replay_daily", oracle=_ucb_oracle())
def ucb1_replay_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline UCB1 bandit replay: each day the policy picks one
    event-type 'arm' by the UCB1 index (exact-integer mean reward in
    micro-cents + a gmax-scaled exploration bonus), observes that arm's
    daily mean value, and updates its state; reported against the
    best-fixed-arm-in-hindsight cumulative so the last column IS the
    regret curve. The offline policy-evaluation primitive behind
    'would an adaptive allocator have beaten our static mix' — the
    sequential counterpart of the one-shot mixture_temperature_weights.

    Exactness: daily rewards are floor-div integer micro-cents (Python
    // == DuckDB //); the replay state (plays, reward sums, cumulative)
    is exact integers; only the UCB index is a double, computed by the
    SAME round-6 expression both engines so the argmax trajectory is
    identical (the holt_winters recursive-state discipline).

    Scale: the distributed part is one (event_type, day) fact rollup;
    the replay walks the collected |days| x K matrix — calendar x
    catalog bounded (the markov_removal bounded-collect precedent), so
    constant in corpus size; the oracle replays it as a recursive CTE
    carrying the K-arm state as columns."""
    import math

    import pandas as pd

    k = _UCB_K
    daily = (
        spark.table("events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)"))
            .cast("bigint")
            .alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        .collect()
    )
    arms = sorted({r["event_type"] for r in daily})[:k]
    aidx = {a: j for j, a in enumerate(arms)}
    by_day: dict = {}
    for r in daily:
        if r["event_type"] in aidx:
            by_day.setdefault(r["d"], {})[r["event_type"]] = (
                r["s"] * 1000000
            ) // r["c"]
    days = sorted(d for d, m in by_day.items() if len(m) == k)
    mat = [[by_day[d][a] for a in arms] for d in days]
    gmax = max(x for row in mat for x in row)

    def _r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    n = [0] * k
    cs = [0] * k
    cum = 0
    cb = [0] * k
    rows = []
    for t, (d, rs) in enumerate(zip(days, mat), 1):
        if t <= k:
            ch = t
        else:
            us = [
                _r6(cs[j] / n[j] + gmax * math.sqrt(2 * math.log(t - 1) / n[j]))
                for j in range(k)
            ]
            ch = us.index(max(us)) + 1
        rw = rs[ch - 1]
        n[ch - 1] += 1
        cs[ch - 1] += rw
        cum += rw
        for j in range(k):
            cb[j] += rs[j]
        best = max(cb)
        rows.append((t, d, arms[ch - 1], rw, cum, best, best - cum))
    cols = [
        "step", "day", "chosen_arm", "reward_micro", "cum_reward_micro",
        "best_fixed_micro", "regret_micro",
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols),
        "step bigint, day timestamp, chosen_arm string, reward_micro bigint,"
        " cum_reward_micro bigint, best_fixed_micro bigint, regret_micro bigint",
    ).orderBy("step")


# ---------------------------------------------------------------------------
# LexRank-style extractive salience: top sentence per document
# ---------------------------------------------------------------------------

_LEX_SCALE = 10**12  # fixed-point score unit (the PageRank scaled-int trick)


_LEX_ORACLE = f"""
WITH sarr AS (
  SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS sa FROM documents),
sents AS (
  SELECT doc_id, CAST(u.pos AS INT) AS sidx, sa[u.pos] AS sent
  FROM sarr, unnest(range(1, len(sa) + 1)) u(pos)
  WHERE trim(sa[u.pos]) <> ''),
ns AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_s FROM sents GROUP BY 1),
tok AS (
  SELECT DISTINCT doc_id, sidx, w.w AS w
  FROM sents, unnest(regexp_extract_all(lower(sent), '[a-z]+')) w(w)),
edges AS (
  SELECT a.doc_id, a.sidx AS sf, b.sidx AS st,
         CAST(COUNT(*) AS BIGINT) AS ov
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w = b.w
                        AND a.sidx <> b.sidx
  GROUP BY 1, 2, 3),
rs AS (
  SELECT doc_id, sf, CAST(SUM(ov) AS BIGINT) AS rowsum
  FROM edges GROUP BY 1, 2),
s0 AS (
  SELECT s.doc_id, s.sidx, {_LEX_SCALE} // n.n_s AS score, n.n_s
  FROM sents s JOIN ns n USING (doc_id)),
it1 AS (
  SELECT s.doc_id, s.sidx,
         (15 * {_LEX_SCALE}) // (100 * s.n_s)
           + COALESCE(c.csum, CAST(0 AS BIGINT)) AS score, s.n_s
  FROM s0 s LEFT JOIN (
    SELECT e.doc_id, e.st,
           CAST(SUM((85 * p.score * e.ov) // (100 * r.rowsum)) AS BIGINT)
             AS csum
    FROM edges e
    JOIN s0 p ON p.doc_id = e.doc_id AND p.sidx = e.sf
    JOIN rs r ON r.doc_id = e.doc_id AND r.sf = e.sf
    GROUP BY 1, 2) c ON c.doc_id = s.doc_id AND c.st = s.sidx),
it2 AS (
  SELECT s.doc_id, s.sidx,
         (15 * {_LEX_SCALE}) // (100 * s.n_s)
           + COALESCE(c.csum, CAST(0 AS BIGINT)) AS score, s.n_s
  FROM it1 s LEFT JOIN (
    SELECT e.doc_id, e.st,
           CAST(SUM((85 * p.score * e.ov) // (100 * r.rowsum)) AS BIGINT)
             AS csum
    FROM edges e
    JOIN it1 p ON p.doc_id = e.doc_id AND p.sidx = e.sf
    JOIN rs r ON r.doc_id = e.doc_id AND r.sf = e.sf
    GROUP BY 1, 2) c ON c.doc_id = s.doc_id AND c.st = s.sidx),
ranked AS (
  SELECT doc_id, sidx, n_s, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, sidx) AS rk
  FROM it2)
SELECT doc_id, CAST(n_s AS BIGINT) AS n_sentences,
       sidx AS top_sentence_idx, score AS top_score_scaled
FROM ranked WHERE rk = 1 ORDER BY doc_id
"""


@query("lexrank_top_sentences", oracle=_LEX_ORACLE)
def lexrank_top_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LexRank-style extractive salience: per document, sentences form a
    graph weighted by distinct-word overlap; two damped power-iteration
    steps (d = 0.85) from a uniform vector rank them, and the top
    sentence per doc is reported — the extractive-summarization
    primitive (pick the sentence most central to its own document)
    that complements rake_keyphrases (term-level) with sentence-level
    salience.

    Exactness: overlap counts, row sums, and scores are exact integers
    — scores in 1e-12 fixed point with floor-div transitions (the
    PageRank scaled-int discipline), so both engines walk the identical
    trajectory and the final ROW_NUMBER tie-break (score DESC, sidx) is
    deterministic.

    Scale: sentence split and tokenization are map-side; the overlap
    self-join shuffles on (doc_id, word) and every relation after is
    per-doc bounded (sentence pairs within one document); the ranking
    window is PARTITIONED by doc_id. Nothing global, nothing
    quadratic across documents."""
    docs = spark.table("documents")
    sents = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"[.!?]+")).alias(
                "pos0", "sent"
            ),
        )
        .filter(F.trim(F.col("sent")) != "")
        .select(
            "doc_id", (F.col("pos0") + 1).cast("int").alias("sidx"), "sent"
        )
    )
    ns = sents.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    tok = (
        sents.select(
            "doc_id",
            "sidx",
            F.explode(
                F.expr("regexp_extract_all(lower(sent), '[a-z]+', 0)")
            ).alias("w"),
        )
        .distinct()
    )
    a = tok.alias("a")
    b = tok.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.sidx") != F.col("b.sidx")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.sidx").alias("sf"),
            F.col("b.sidx").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("ov"))
        # persisted (r15): edges feeds the row sums AND both power-iteration
        # contributions — three end-to-end re-evaluations of the (doc, word)
        # overlap self-join per pass otherwise. Sentence-pair-bounded.
        .persist()
    )
    rs = edges.groupBy("doc_id", "sf").agg(
        F.sum("ov").cast("bigint").alias("rowsum")
    )

    def _iterate(prev: DataFrame) -> DataFrame:
        # persist the iteration state (r15): prev feeds the contribution
        # join AND the keep-score left join — without this iteration 1's
        # whole lineage is evaluated twice inside iteration 2 (the
        # bfs/nsw 2^iterations lesson). Sentence-count-bounded.
        prev = prev.persist()
        contrib = (
            edges.join(
                prev.select(
                    F.col("doc_id").alias("p_doc"),
                    F.col("sidx").alias("p_sidx"),
                    F.col("score").alias("p_score"),
                ),
                (F.col("p_doc") == F.col("doc_id"))
                & (F.col("p_sidx") == F.col("sf")),
            )
            .join(
                rs.select(
                    F.col("doc_id").alias("r_doc"),
                    F.col("sf").alias("r_sf"),
                    "rowsum",
                ),
                (F.col("r_doc") == F.col("doc_id"))
                & (F.col("r_sf") == F.col("sf")),
            )
            .groupBy("doc_id", "st")
            .agg(
                F.sum(
                    F.expr("(85 * p_score * ov) DIV (100 * rowsum)")
                )
                .cast("bigint")
                .alias("csum")
            )
        )
        return prev.join(
            contrib.select(
                F.col("doc_id").alias("c_doc"),
                F.col("st").alias("c_st"),
                "csum",
            ),
            (F.col("c_doc") == F.col("doc_id"))
            & (F.col("c_st") == F.col("sidx")),
            "left",
        ).select(
            "doc_id",
            "sidx",
            F.expr(
                f"(15 * {_LEX_SCALE}) DIV (100 * n_s)"
                " + COALESCE(csum, CAST(0 AS BIGINT))"
            ).alias("score"),
            "n_s",
        )

    s0 = sents.join(ns, "doc_id").select(
        "doc_id",
        "sidx",
        F.expr(f"{_LEX_SCALE} DIV n_s").alias("score"),
        "n_s",
    )
    it2 = _iterate(_iterate(s0))
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("sidx")
    )
    return (
        it2.withColumn("rk", F.row_number().over(wdoc))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("n_s").alias("n_sentences"),
            F.col("sidx").alias("top_sentence_idx"),
            F.col("score").alias("top_score_scaled"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BCa bootstrap CI (bias-corrected + accelerated) for the mean order value
# ---------------------------------------------------------------------------

# Jackknife acceleration for the MEAN has a closed form: with
# u_i = n*x_i - S the leave-one-out deviations are u_i / (n(n-1)), and
# the n(n-1) factor cancels in a = sum(u^3) / (6*sum(u^2)^1.5) — so the
# acceleration needs only per-row integer-scaled v = round(u/1e6)
# moments, no second pass. z0 uses the A&S 26.2.23 inverse-normal
# rational approximation; the adjusted alphas go through the same
# A&S 7.1.26 erfc polynomial as the p-value helpers.
_BCA_SCALE = 1000000.0


def _phi_from(x: str, az: str, tt: str) -> str:
    e = (
        f"(((((1.061405429 * {tt} - 1.453152027) * {tt} + 1.421413741) * {tt}"
        f" - 0.284496736) * {tt} + 0.254829592) * {tt} * exp(-({az} * {az})))"
    )
    return f"(CASE WHEN {x} >= 0 THEN 1 - {e} / 2 ELSE {e} / 2 END)"


_BCA_STAGES = [
    ("p0", "CAST(cb AS DOUBLE) / {B}"),
    (
        "pp",
        "CASE WHEN p0 < 1.0 / {B} THEN 1.0 / {B}"
        " WHEN p0 > ({B} - 1.0) / {B} THEN ({B} - 1.0) / {B} ELSE p0 END",
    ),
    ("pl", "least(pp, 1 - pp)"),
    ("tq", "sqrt(-2 * ln(pl))"),
    (
        "zq",
        "tq - (2.515517 + 0.802853 * tq + 0.010328 * tq * tq)"
        " / (1 + 1.432788 * tq + 0.189269 * tq * tq"
        " + 0.001308 * tq * tq * tq)",
    ),
    ("z0", "CASE WHEN pp < 0.5 THEN -zq ELSE zq END"),
    (
        "acc",
        "CAST(sv3 AS DOUBLE) / (6 * power(CAST(sv2 AS DOUBLE), 1.5))",
    ),
    (
        "xl",
        "z0 + (z0 - 1.959963985) / (1 - acc * (z0 - 1.959963985))",
    ),
    (
        "xh",
        "z0 + (z0 + 1.959963985) / (1 - acc * (z0 + 1.959963985))",
    ),
    ("azl", "abs(xl) / sqrt(2)"),
    ("azh", "abs(xh) / sqrt(2)"),
    ("ttl", "1 / (1 + 0.3275911 * azl)"),
    ("tth", "1 / (1 + 0.3275911 * azh)"),
    ("al", _phi_from("xl", "azl", "ttl")),
    ("ah", _phi_from("xh", "azh", "tth")),
    ("rlo", "greatest(1, least({B}, CAST(floor(al * {B}) AS INT) + 1))"),
    ("rhi", "greatest(1, least({B}, CAST(floor(ah * {B}) AS INT) + 1))"),
]


def _bca_oracle() -> str:
    u = f"(((o_orderkey * {_BOOT_B} + t.b) % {_TXT.MOD}) * {_BOOT_A} + {_BOOT_C}) % {_TXT.MOD}"
    w = _bootstrap_weight_case(f"(({u}))")
    chain = "onerow0"
    stages_sql = []
    for i, (col, expr) in enumerate(_BCA_STAGES):
        nxt = f"onerow{i + 1}"
        stages_sql.append(
            f"{nxt} AS (SELECT *, {expr.format(B=_BOOT_B)} AS {col}"
            f" FROM {chain})"
        )
        chain = nxt
    stages_joined = ",\n".join(stages_sql)
    return f"""
WITH base AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM base),
vm AS (
  SELECT CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sv2,
         CAST(SUM(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS sv3
  FROM (
    SELECT CAST(round(CAST(n * cents - s AS DOUBLE) / {_BCA_SCALE})
                AS BIGINT) AS v
    FROM base CROSS JOIN mom)),
expanded AS (
  SELECT t.b AS b, {w} AS w, cents
  FROM base, range(0, {_BOOT_B}) t(b)),
reps AS (
  SELECT b, CAST(SUM(w * cents) AS BIGINT) AS num, CAST(SUM(w) AS BIGINT) AS den
  FROM expanded GROUP BY b),
ranked AS (
  SELECT b, num, den,
         ROW_NUMBER() OVER (ORDER BY CAST(num AS DOUBLE) / den, b) AS rk
  FROM reps),
onerow0 AS (
  SELECT n, s, sv2, sv3,
         CAST(SUM(CASE WHEN CAST(num AS DOUBLE) / den
                            < CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM ranked CROSS JOIN mom CROSS JOIN vm
  GROUP BY n, s, sv2, sv3),
{stages_joined}
SELECT ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS point_cents,
       ROUND(z0, 6) + 0 AS z0,
       ROUND(acc, 6) + 0 AS acceleration,
       ROUND(al, 6) AS alpha_lo,
       ROUND(ah, 6) AS alpha_hi,
       ROUND(MIN(CASE WHEN rk = rlo THEN CAST(num AS DOUBLE) / den END), 6)
         AS ci_lo_cents,
       ROUND(MIN(CASE WHEN rk = rhi THEN CAST(num AS DOUBLE) / den END), 6)
         AS ci_hi_cents,
       CAST({_BOOT_B} AS BIGINT) AS n_replicates
FROM ranked CROSS JOIN {chain}
GROUP BY s, n, z0, acc, al, ah, rlo, rhi
"""


@query("bca_ci_order_value", oracle=_bca_oracle())
def bca_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCa (bias-corrected, accelerated) bootstrap CI for mean order
    value — the second-order-accurate upgrade of the percentile CI in
    bootstrap_ci_order_value: z0 corrects median bias of the replicate
    distribution (share of replicates below the point estimate through
    the inverse normal), and the jackknife acceleration 'a' corrects
    for skewness of the influence values; the adjusted alpha levels
    then index the SAME deterministic Poisson-bootstrap replicates.

    Exactness: replicate sums are exact integers (shared Poisson
    weights); the closed-form jackknife uses integer-scaled deviation
    moments (the n(n-1) factor cancels, so only v = round(u/1e6)
    matters); every double step — inverse normal, acceleration, Phi,
    rank selection — is a shared expression string; the final
    endpoints are exact-rank picks over the B=64 replicates.

    Scale: identical to the Poisson bootstrap — one x64 map-side
    fanout into a 64-group aggregate plus one moment scan; everything
    past that is a one-row expression chain and a 64-row rank
    selection."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "bca_ci_order_value",
        "replicates",
        "percentile rank over the B=64 replicate relation",
        n_windows=1,
    )

    from pyspark.sql import Window

    base = spark.table("orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mom = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    vm = (
        base.crossJoin(F.broadcast(mom))
        .selectExpr(
            f"CAST(round(CAST(n * cents - s AS DOUBLE) / {_BCA_SCALE})"
            " AS BIGINT) AS v"
        )
        .agg(
            F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("sv2"),
            F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v * v")).alias("sv3"),
        )
    )
    u = f"(((o_orderkey * {_BOOT_B} + b) % {_TXT.MOD}) * {_BOOT_A} + {_BOOT_C}) % {_TXT.MOD}"
    expanded = base.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        F.expr(_bootstrap_weight_case(f"(({u}))")).alias("w"),
        "cents",
    )
    reps = expanded.groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("num"),
        F.sum("w").cast("bigint").alias("den"),
    )
    ranked = reps.select(
        "b",
        "num",
        "den",
        F.row_number()
        .over(
            Window.orderBy(
                F.col("num").cast("double") / F.col("den"), F.col("b")
            )
        )
        .alias("rk"),
    )
    onerow = (
        ranked.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(vm))
        .groupBy("n", "s", "sv2", "sv3")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN CAST(num AS DOUBLE) / den"
                    " < CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("cb")
        )
    )
    for col, expr in _BCA_STAGES:
        onerow = onerow.selectExpr(
            "*", f"{expr.format(B=_BOOT_B)} AS {col}"
        )
    return (
        ranked.crossJoin(F.broadcast(onerow))
        .groupBy("s", "n", "z0", "acc", "al", "ah", "rlo", "rhi")
        .agg(
            F.round(
                F.min(
                    F.when(
                        F.col("rk") == F.col("rlo"),
                        F.col("num").cast("double") / F.col("den"),
                    )
                ),
                6,
            ).alias("ci_lo_cents"),
            F.round(
                F.min(
                    F.when(
                        F.col("rk") == F.col("rhi"),
                        F.col("num").cast("double") / F.col("den"),
                    )
                ),
                6,
            ).alias("ci_hi_cents"),
        )
        .selectExpr(
            "ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS point_cents",
            "ROUND(z0, 6) + 0 AS z0",
            "ROUND(acc, 6) + 0 AS acceleration",
            "ROUND(al, 6) AS alpha_lo",
            "ROUND(ah, 6) AS alpha_hi",
            "ci_lo_cents",
            "ci_hi_cents",
            f"CAST({_BOOT_B} AS BIGINT) AS n_replicates",
        )
    )


# ---------------------------------------------------------------------------
# Quantile treatment effects across the experiment arms
# ---------------------------------------------------------------------------

_QTE_GRID = "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]"

_QTE_ORACLE = f"""
WITH per AS (
  SELECT quantile_cont(CASE WHEN o_custkey % 2 = 0 THEN o_totalprice END,
                       {_QTE_GRID}) AS q0,
         quantile_cont(CASE WHEN o_custkey % 2 = 1 THEN o_totalprice END,
                       {_QTE_GRID}) AS q1
  FROM orders)
SELECT ROUND(0.1 * u.pos, 1) AS quantile,
       ROUND(q0[u.pos], 6) AS q_ctrl,
       ROUND(q1[u.pos], 6) AS q_treat,
       ROUND(q1[u.pos] - q0[u.pos], 6) AS qte
FROM per, unnest(range(1, 10)) u(pos)
ORDER BY quantile
"""


@query("quantile_treatment_effects", oracle=_QTE_ORACLE)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-decile difference between the
    treatment and control order-value distributions (arms by the same
    deterministic custkey split as CUPED/mSPRT). The distributional
    readout the mean-based family can't see — a treatment that helps
    the p20 while hurting the p90 has ATE ~ 0 but a strongly
    non-constant QTE curve.

    Exactness: Spark ``percentile`` and DuckDB ``quantile_cont`` use
    the same linear interpolation on the sorted values (the
    percentiles_by_type precedent); deciles, endpoints, and effects are
    rounded at the same precision.

    Scale: one aggregate with two exact interpolated percentile
    evaluations — at 100 TB swap percentile -> percentile_approx
    (t-digest, mergeable, bounded memory), same plan shape; the exact
    form is the oracle-checkable baseline. Everything after is a 9-row
    literal expansion."""
    per = spark.table("orders").agg(
        F.expr(
            "percentile(CASE WHEN o_custkey % 2 = 0 THEN o_totalprice END,"
            f" array{_QTE_GRID.replace('[', '(').replace(']', ')')})"
        ).alias("q0"),
        F.expr(
            "percentile(CASE WHEN o_custkey % 2 = 1 THEN o_totalprice END,"
            f" array{_QTE_GRID.replace('[', '(').replace(']', ')')})"
        ).alias("q1"),
    )
    return (
        per.select(
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("pos"),
            "q0",
            "q1",
        )
        .selectExpr(
            "ROUND(0.1 * pos, 1) AS quantile",
            "ROUND(element_at(q0, pos), 6) AS q_ctrl",
            "ROUND(element_at(q1, pos), 6) AS q_treat",
            "ROUND(element_at(q1, pos) - element_at(q0, pos), 6) AS qte",
        )
        .orderBy("quantile")
    )


# ---------------------------------------------------------------------------
# PLSA topic model: fixed-point EM over the documents corpus
# ---------------------------------------------------------------------------

_PLSA_K = 4          # topics
_PLSA_V = 64         # vocabulary (top-df terms)
_PLSA_S = 1000000    # probability fixed-point scale
_PLSA_ITERS = 2      # EM iterations
_PLSA_TOP = 5        # reported terms per topic


def _plsa_den() -> str:
    return " + ".join(f"w{z} * p{z}" for z in range(1, _PLSA_K + 1))


def _plsa_oracle() -> str:
    k, S = _PLSA_K, _PLSA_S
    # init: P(z|d) uniform; P(w|z) proportional to 1 + [(widx-1) % k == z-1]
    # (normalizer 80 = V + V/k), strictly positive and symmetric-breaking
    w0 = ",\n         ".join(
        f"CAST(((1 + CASE WHEN (widx - 1) % {k} = {z - 1} THEN 1 ELSE 0 END)"
        f" * {S}) // {_PLSA_V + _PLSA_V // k} AS BIGINT) AS w{z}"
        for z in range(1, k + 1)
    )
    p0 = ", ".join(f"CAST({S // k} AS BIGINT) AS p{z}" for z in range(1, k + 1))
    its = []
    prev_w, prev_p = "pwz0", "pzd0"
    den = _plsa_den()
    for i in range(1, _PLSA_ITERS + 1):
        nqs = ",\n         ".join(
            f"c.n * ((w{z} * p{z} * {S}) // ({den})) AS nq{z}"
            for z in range(1, k + 1)
        )
        swz = ", ".join(
            f"CAST(SUM(nq{z}) AS BIGINT) AS s{z}" for z in range(1, k + 1)
        )
        tz = ", ".join(
            f"CAST(SUM(s{z}) AS BIGINT) AS t{z}" for z in range(1, k + 1)
        )
        wup = ",\n         ".join(
            f"GREATEST(1, (s{z} * {S}) // t{z}) AS w{z}"
            for z in range(1, k + 1)
        )
        sd = ", ".join(
            f"CAST(SUM(nq{z}) AS BIGINT) AS d{z}" for z in range(1, k + 1)
        )
        dtot = " + ".join(f"d{z}" for z in range(1, k + 1))
        pup = ",\n         ".join(
            f"GREATEST(1, (d{z} * {S}) // ({dtot})) AS p{z}"
            for z in range(1, k + 1)
        )
        its.append(f"""
jo{i} AS (
  SELECT c.doc_id, c.widx, c.n,
         {nqs}
  FROM cnt c JOIN {prev_p} p USING (doc_id) JOIN {prev_w} w USING (widx)),
swz{i} AS (SELECT widx, {swz} FROM jo{i} GROUP BY widx),
tz{i} AS (SELECT {tz} FROM swz{i}),
pwz{i} AS (
  SELECT widx,
         {wup}
  FROM swz{i} CROSS JOIN tz{i}),
pzd{i} AS (
  SELECT doc_id,
         {pup}
  FROM (SELECT doc_id, {sd} FROM jo{i} GROUP BY doc_id))""")
        prev_w, prev_p = f"pwz{i}", f"pzd{i}"
    unpiv = "\nUNION ALL\n".join(
        f"SELECT {z} AS topic, term, w{z} AS p FROM {prev_w}"
        f" JOIN vocab USING (widx)"
        for z in range(1, k + 1)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, w.w AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z]+')) w(w)),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY 1),
vocab AS (
  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS INT) AS widx
  FROM (SELECT * FROM df ORDER BY df DESC, term LIMIT {_PLSA_V})),
cnt AS (
  SELECT t.doc_id, v.widx, CAST(COUNT(*) AS BIGINT) AS n
  FROM tok t JOIN vocab v USING (term) GROUP BY 1, 2),
pwz0 AS (
  SELECT widx,
         {w0}
  FROM vocab),
pzd0 AS (
  SELECT doc_id, {p0} FROM (SELECT DISTINCT doc_id FROM cnt)),
{','.join(its)},
unpiv AS ({unpiv}),
ranked AS (
  SELECT topic, term, p,
         ROW_NUMBER() OVER (PARTITION BY topic ORDER BY p DESC, term) AS rank
  FROM unpiv)
SELECT topic, CAST(rank AS INT) AS rank, term, p AS p_w_given_z_scaled
FROM ranked WHERE rank <= {_PLSA_TOP} ORDER BY topic, rank
"""


@query("plsa_topic_terms", oracle=_plsa_oracle())
def plsa_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLSA topic model over the documents corpus: {k} topics, {it} EM
    iterations, top-{top} terms per topic by P(w|z). The E-step
    responsibilities q(z|d,w) and both M-step normalizations run in
    1e-6 fixed point with floor division (strictly positive via a
    GREATEST(1, ...) floor), from a deterministic symmetry-breaking
    init — so the whole EM trajectory is exact integers and the two
    engines walk it bit-for-bit. The topic-modeling primitive the
    corpus-analysis family lacked: mixture weights say how much each
    SOURCE contributes, PLSA says what latent THEMES the text itself
    clusters into.

    Scale: tokenization is map-side; the vocabulary is a top-{v}
    TakeOrdered (catalog-bounded); per EM iteration ONE join of the
    sparse (doc, term) count matrix with the doc-keyed P(z|d) relation
    (shuffle on doc_id) and the broadcast {v}-row P(w|z) relation —
    the E and both M sums are single aggregates over the nnz relation
    with all k topics carried as columns (no explode, no per-topic
    scan). At 100 TB: nnz is linear in corpus size, state is
    |docs| x k + |vocab| x k.""".format(
        k=_PLSA_K, it=_PLSA_ITERS, top=_PLSA_TOP, v=_PLSA_V
    )
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "plsa_topic_terms",
        "vocab-limit",
        "vocab index over the limit(64) TakeOrdered result, re-planned"
        " per EM-round branch (60 nodes, all vocab-bounded)",
        n_windows=60,
    )
    from pyspark.sql import Window

    k, S = _PLSA_K, _PLSA_S
    tok = spark.table("documents").select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    df_ = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    # vocab (64 rows) and the sparse count matrix persist: the corpus
    # tokenization otherwise re-runs once per EM-branch reference of
    # either (measured as the dominant slice of this query's plan)
    vocab = (
        df_.orderBy(F.col("df").desc(), "term")
        .limit(_PLSA_V)
        .select(
            "term",
            "df",
            F.row_number()
            .over(Window.orderBy(F.col("df").desc(), "term"))
            .cast("int")
            .alias("widx"),
        )
        .select("term", "widx")
        .persist()
    )
    cnt = (
        tok.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "widx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    pwz = vocab.selectExpr(
        "widx",
        *[
            f"CAST(((1 + CASE WHEN (widx - 1) % {k} = {z - 1} THEN 1 ELSE 0"
            f" END) * {S}) DIV {_PLSA_V + _PLSA_V // k} AS BIGINT) AS w{z}"
            for z in range(1, k + 1)
        ],
    )
    pzd = cnt.select("doc_id").distinct().selectExpr(
        "doc_id",
        *[f"CAST({S // k} AS BIGINT) AS p{z}" for z in range(1, k + 1)],
    )
    den = _plsa_den()
    for _ in range(_PLSA_ITERS):
        # per-iteration persist of the responsibility-weighted nnz
        # relation: it feeds the topic sums, the topic totals AND the
        # next doc posterior — three re-evaluations of the whole EM
        # prefix per pass without it (nnz-sized state, the
        # iterative-algorithm budget the graph family already pays)
        jo = (
            cnt.join(pzd, "doc_id")
            .join(F.broadcast(pwz), "widx")
            .selectExpr(
                "doc_id",
                "widx",
                "n",
                *[
                    f"n * ((w{z} * p{z} * {S}) DIV ({den})) AS nq{z}"
                    for z in range(1, k + 1)
                ],
            )
            .persist()
        )
        swz = jo.groupBy("widx").agg(
            *[
                F.sum(f"nq{z}").cast("bigint").alias(f"s{z}")
                for z in range(1, k + 1)
            ]
        )
        # topic totals read off jo directly (sum of per-widx sums ==
        # plain sum — identical bigints), so swz is referenced once
        tz = jo.agg(
            *[
                F.sum(f"nq{z}").cast("bigint").alias(f"t{z}")
                for z in range(1, k + 1)
            ]
        )
        pwz = swz.crossJoin(F.broadcast(tz)).selectExpr(
            "widx",
            *[
                f"GREATEST(1, (s{z} * {S}) DIV t{z}) AS w{z}"
                for z in range(1, k + 1)
            ],
        )
        dtot = " + ".join(f"d{z}" for z in range(1, k + 1))
        pzd = (
            jo.groupBy("doc_id")
            .agg(
                *[
                    F.sum(f"nq{z}").cast("bigint").alias(f"d{z}")
                    for z in range(1, k + 1)
                ]
            )
            .selectExpr(
                "doc_id",
                *[
                    f"GREATEST(1, (d{z} * {S}) DIV ({dtot})) AS p{z}"
                    for z in range(1, k + 1)
                ],
            )
        )
    # single-pass unpivot: one explode over a k-struct array instead of k
    # unioned legs, so the final P(w|z) relation (and the vocab join) is
    # evaluated once, not k times — identical row multiset
    legs = F.array(
        *[
            F.struct(
                F.lit(z).alias("topic"), F.col(f"w{z}").alias("p")
            )
            for z in range(1, k + 1)
        ]
    )
    unpiv = (
        pwz.join(F.broadcast(vocab), "widx")
        .select(F.explode(legs).alias("s"), "term")
        .select(F.col("s.topic").alias("topic"), "term", F.col("s.p").alias("p"))
    )
    wtop = Window.partitionBy("topic").orderBy(F.col("p").desc(), "term")
    return (
        unpiv.withColumn("rank", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rank") <= _PLSA_TOP)
        .select(
            "topic", "rank", "term", F.col("p").alias("p_w_given_z_scaled")
        )
        .orderBy("topic", "rank")
    )


# ---------------------------------------------------------------------------
# Cohort LTV projection from pooled retention x ARPU
# ---------------------------------------------------------------------------

# Month index = year*12 + month (exact ints both engines); a cohort is a
# customer's first-order month; age = months since cohort. Pooled over
# all cohorts OBSERVABLE at each age (cohort + age <= max month) so late
# cohorts don't bias the tail downward.
_LTV_RET = "(CAST(act AS DOUBLE) / CAST(den AS DOUBLE))"
_LTV_ARPU = "(CAST(rev AS DOUBLE) / 100.0 / CAST(act AS DOUBLE))"

_LTV_ORACLE = f"""
WITH om AS (
  SELECT o_custkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx
  FROM orders),
first AS (
  SELECT o_custkey, MIN(midx) AS m0 FROM om GROUP BY 1),
mx AS (SELECT MAX(midx) AS maxm FROM om),
coh AS (
  SELECT m0, CAST(COUNT(*) AS BIGINT) AS sz FROM first GROUP BY 1),
aged AS (
  SELECT om.o_custkey, f.m0, om.midx - f.m0 AS age, om.cents
  FROM om JOIN first f USING (o_custkey)),
act_rev AS (
  SELECT age, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS act,
         CAST(SUM(cents) AS BIGINT) AS rev
  FROM aged GROUP BY 1),
denom AS (
  SELECT a.age, CAST(SUM(c.sz) AS BIGINT) AS den
  FROM (SELECT DISTINCT age FROM aged) a
  JOIN coh c ON c.m0 + a.age <= (SELECT maxm FROM mx)
  GROUP BY 1),
curve AS (
  SELECT age, act, den,
         ROUND({_LTV_RET}, 6) AS retention,
         ROUND({_LTV_ARPU}, 4) AS arpu,
         {_LTV_RET} * {_LTV_ARPU} AS inc
  FROM act_rev JOIN denom USING (age))
SELECT age, act AS n_active, den AS n_observable,
       retention, arpu,
       ROUND(inc, 4) AS incremental_ltv,
       ROUND(SUM(inc) OVER (ORDER BY age ROWS UNBOUNDED PRECEDING), 4)
         AS cumulative_ltv
FROM curve ORDER BY age
"""


@query("ltv_projection_curve", oracle=_LTV_ORACLE)
def ltv_projection_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value curve from pooled cohort retention and
    ARPU: per month-of-age, the share of observable cohort customers
    still ordering, their average revenue, and the cumulative expected
    value per acquired customer (sum of retention x ARPU over age).
    The projection layer on top of cohort_retention /
    weekly_retention_cohorts: those describe each cohort, this pools
    them into the per-customer value curve an acquisition decision
    actually uses, with the observability guard (cohort + age <= max
    month) so young cohorts don't drag the tail.

    Exactness: month indexes, active counts, observable denominators,
    and revenue are exact integers; retention/ARPU/increments are
    shared expression strings; the cumulative sum runs in explicit age
    order (ROWS frame) so both engines accumulate identically.

    Scale: one customer-keyed first-order aggregate, one age rollup,
    and a months x months observability join — everything after the
    fact scans is calendar-bounded (|ages| <= |months| rows); the
    cumulative window rides that bounded relation (whitelisted
    class)."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "ltv_projection_curve",
        "day-spine",
        "cumulative LTV over the month-bounded age curve",
        n_windows=1,
    )

    from pyspark.sql import Window

    om = spark.table("orders").selectExpr(
        "o_custkey",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
        "CAST(EXTRACT(year FROM o_orderdate) * 12"
        " + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx",
    )
    # ONE persisted (customer, month) aggregate rides every consumer
    # (r15): first-month, cohort sizes, max month, the per-age
    # activity/revenue rollup and the observability denominator each
    # re-evaluated the orders scan end-to-end (~7 scans per pass). A
    # customer has one row per active month, so per-age count(*) over
    # this relation IS the old countDistinct(o_custkey) (and drops the
    # distinct-aggregate Expand), and sum of pre-summed cents is the
    # same exact bigint.
    cm = (
        om.groupBy("o_custkey", "midx")
        .agg(F.sum("cents").alias("cents"))
        .persist()
    )
    first = cm.groupBy("o_custkey").agg(F.min("midx").alias("m0"))
    mx = cm.agg(F.max("midx").alias("maxm"))
    coh = first.groupBy("m0").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    aged = cm.join(first, "o_custkey").select(
        "o_custkey", "m0", (F.col("midx") - F.col("m0")).alias("age"), "cents"
    )
    act_rev = aged.groupBy("age").agg(
        F.count(F.lit(1)).cast("bigint").alias("act"),
        F.sum("cents").cast("bigint").alias("rev"),
    )
    denom = (
        aged.select("age")
        .distinct()
        .crossJoin(F.broadcast(mx))
        .join(
            F.broadcast(coh),
            F.col("m0") + F.col("age") <= F.col("maxm"),
        )
        .groupBy("age")
        .agg(F.sum("sz").cast("bigint").alias("den"))
    )
    curve = act_rev.join(denom, "age").selectExpr(
        "age",
        "act",
        "den",
        f"ROUND({_LTV_RET}, 6) AS retention",
        f"ROUND({_LTV_ARPU}, 4) AS arpu",
        f"{_LTV_RET} * {_LTV_ARPU} AS inc",
    )
    w = Window.orderBy("age").rowsBetween(Window.unboundedPreceding, 0)
    return (
        curve.select(
            "age",
            F.col("act").alias("n_active"),
            F.col("den").alias("n_observable"),
            "retention",
            "arpu",
            F.round("inc", 4).alias("incremental_ltv"),
            F.round(F.sum("inc").over(w), 4).alias("cumulative_ltv"),
        )
        .orderBy("age")
    )


# ---------------------------------------------------------------------------
# Randomized response (Warner forced-choice) — local-privacy estimator
# ---------------------------------------------------------------------------

# two deterministic hash-uniform draws per respondent (the DP-histogram
# replay convention: swap for a real RNG in production; the estimator,
# inversion, and error accounting are what the query verifies)
_RR_U1 = (
    "((c_custkey * 1103515245 + 12345) % 1000000007)"
)
_RR_U2 = (
    "((c_custkey * 69069 + 1) % 1000000007)"
)
_RR_TRUTH = "(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)"
# with prob 1/2 answer truthfully, else answer a fair coin
_RR_REPORT = (
    f"(CASE WHEN {_RR_U1} * 2 < 1000000007 THEN {_RR_TRUTH}"
    f" WHEN {_RR_U2} * 2 < 1000000007 THEN 1 ELSE 0 END)"
)

_RR_ORACLE = f"""
WITH rep AS (
  SELECT {_RR_TRUTH} AS truth, {_RR_REPORT} AS report
  FROM customer),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(report) AS BIGINT) AS n_yes,
         CAST(SUM(truth) AS BIGINT) AS n_true
  FROM rep)
SELECT n, n_yes,
       ROUND(CAST(n_yes AS DOUBLE) / n, 6) AS p_observed,
       ROUND(2.0 * CAST(n_yes AS DOUBLE) / n - 0.5, 6) AS pi_hat_rr,
       ROUND(CAST(n_true AS DOUBLE) / n, 6) AS pi_true,
       ROUND(abs(2.0 * CAST(n_yes AS DOUBLE) / n - 0.5
             - CAST(n_true AS DOUBLE) / n), 6) AS abs_err
FROM agg
"""


@query("randomized_response_estimate", oracle=_RR_ORACLE)
def randomized_response_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner forced-choice randomized response over a sensitive
    customer attribute (acctbal > 5000): each respondent answers
    truthfully with probability 1/2, otherwise flips a fair coin; the
    population rate is recovered by inverting the mechanism, pi_hat =
    2*p_obs - 1/2. The LOCAL-privacy member of the privacy family
    (k_anonymity/l_diversity/t_closeness audit a released table;
    dp_noisy_histogram perturbs aggregates; RR perturbs at the SOURCE
    so the raw data is never sensitive), with the true rate and
    estimator error reported for calibration.

    Determinism: both coin flips are hash-uniform integer draws (the
    dp_noisy_histogram replay convention — a production run swaps in a
    real RNG; the inversion algebra is what this verifies); counts are
    exact, three display divisions.

    Scale: one scan collapsing to a single row."""
    rep = spark.table("customer").selectExpr(
        f"{_RR_TRUTH} AS truth", f"{_RR_REPORT} AS report"
    )
    agg = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("report").cast("bigint").alias("n_yes"),
        F.sum("truth").cast("bigint").alias("n_true"),
    )
    return agg.selectExpr(
        "n",
        "n_yes",
        "ROUND(CAST(n_yes AS DOUBLE) / n, 6) AS p_observed",
        "ROUND(2.0 * CAST(n_yes AS DOUBLE) / n - 0.5, 6) AS pi_hat_rr",
        "ROUND(CAST(n_true AS DOUBLE) / n, 6) AS pi_true",
        "ROUND(abs(2.0 * CAST(n_yes AS DOUBLE) / n - 0.5"
        " - CAST(n_true AS DOUBLE) / n), 6) AS abs_err",
    )


# ---------------------------------------------------------------------------
# Negative-binomial method-of-moments fit for overdispersed counts
# ---------------------------------------------------------------------------

_NB_M = "(CAST(s AS DOUBLE) / n)"
_NB_V = "(CAST(n * s2 - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))"

_NBFIT_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS HUGEINT) AS s,
         CAST(SUM(c * c) AS HUGEINT) AS s2
  FROM daily GROUP BY 1)
SELECT event_type, n AS n_days,
       ROUND({_NB_M}, 4) AS mean_daily,
       ROUND({_NB_V}, 4) AS var_daily,
       CASE WHEN {_NB_V} > {_NB_M} THEN 1 ELSE 0 END AS overdispersed,
       CASE WHEN {_NB_V} > {_NB_M}
            THEN ROUND({_NB_M} * {_NB_M} / ({_NB_V} - {_NB_M}), 4) END AS r_nb,
       CASE WHEN {_NB_V} > {_NB_M}
            THEN ROUND({_NB_M} / {_NB_V}, 6) END AS p_nb
FROM mom ORDER BY event_type
"""


@query("negative_binomial_fit", oracle=_NBFIT_ORACLE)
def negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of daily event counts
    per type: r = m^2/(v - m), p = m/v when variance exceeds the mean
    — the MODEL the overdispersion_event_counts screen says you need
    (a Poisson rate under-states the tail of bursty counts; NB's r
    parameter quantifies the burstiness, and a capacity plan sized off
    the fitted NB tail is the standard fix). Under-dispersed types
    report NULL parameters rather than a nonsense fit.

    Exactness: moments are exact HUGEINT/DECIMAL38 sums; mean/variance
    and both parameters are shared cleared-denominator double chains;
    round-4/6 display.

    Scale: one daily rollup (calendar x types) then a types-sized
    moment aggregate."""
    daily = (
        spark.table("events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    return mom.selectExpr(
        "event_type",
        "n AS n_days",
        f"ROUND({_NB_M}, 4) AS mean_daily",
        f"ROUND({_NB_V}, 4) AS var_daily",
        f"CASE WHEN {_NB_V} > {_NB_M} THEN 1 ELSE 0 END AS overdispersed",
        f"CASE WHEN {_NB_V} > {_NB_M}"
        f" THEN ROUND({_NB_M} * {_NB_M} / ({_NB_V} - {_NB_M}), 4) END AS r_nb",
        f"CASE WHEN {_NB_V} > {_NB_M}"
        f" THEN ROUND({_NB_M} / {_NB_V}, 6) END AS p_nb",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Differentially-private histogram release (deterministic Laplace replay)
# ---------------------------------------------------------------------------

# Laplace(b = 1/eps) noise by inverse CDF over a hash-uniform
# u in (0, 1): v = u - 0.5, noise = -b * sign(v) * ln(1 - 2|v|).
# Deterministic by design so the release pipeline is TESTABLE — a
# production run swaps the hash for a real RNG; everything else
# (sensitivity, clamping, accounting) is what this query verifies.
_DP_EPS = 0.5
_DP_U = (
    f"(CAST((CAST(n_nationkey AS BIGINT) * {_BOOT_A} + {_BOOT_C})"
    f" % {_TXT.MOD} + 1 AS DOUBLE) / ({_TXT.MOD} + 1))"
)
_DP_NOISE = (
    f"(-(1.0 / {_DP_EPS}) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END"
    " * ln(1 - 2 * abs(u - 0.5)))"
)

_DP_ORACLE = f"""
WITH cnts AS (
  SELECT n_nationkey, n_name, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2),
noised AS (
  SELECT n_name, true_count, {_DP_NOISE} AS noise
  FROM (SELECT n_nationkey, n_name, true_count, {_DP_U} AS u FROM cnts))
SELECT n_name, true_count,
       ROUND(noise, 6) AS noise,
       CAST(GREATEST(0, CAST(round(CAST(true_count AS DOUBLE) + noise)
                             AS BIGINT)) AS BIGINT) AS released_count,
       {_DP_EPS} AS epsilon
FROM noised ORDER BY n_name
"""


@query("dp_noisy_histogram", oracle=_DP_ORACLE)
def dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release simulation: the per-nation order
    histogram with Laplace(1/eps) noise (count sensitivity 1), rounded
    and clamped at zero, with the epsilon accounting column — the
    release side of the privacy family (k_anonymity / l_diversity /
    t_closeness measure the RAW table's risk; this is the noised
    publication path). Noise is drawn by inverse CDF over a
    hash-uniform so the whole release replays deterministically — the
    testability property a DP pipeline needs in CI; production swaps
    the hash for a real RNG and keeps every other step.

    Exactness: counts exact; u, the Laplace inverse CDF, rounding, and
    clamping are shared expression strings — bit-identical engines.

    Scale: one three-table join into a |nations|-row aggregate; the
    noise is a map-side expression on 25 rows."""
    cnts = (
        spark.table("orders")
        .join(
            spark.table("customer"), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(spark.table("nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    return (
        cnts.selectExpr(
            "n_nationkey", "n_name", "true_count", f"{_DP_U} AS u"
        )
        .selectExpr("n_name", "true_count", f"{_DP_NOISE} AS noise")
        .selectExpr(
            "n_name",
            "true_count",
            "ROUND(noise, 6) AS noise",
            "CAST(GREATEST(0, CAST(round(CAST(true_count AS DOUBLE) + noise)"
            " AS BIGINT)) AS BIGINT) AS released_count",
            f"{_DP_EPS} AS epsilon",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Cross-source perplexity matrix (unigram LM of each source scoring each)
# ---------------------------------------------------------------------------

# Laplace-smoothed unigram model per source: p(term | m) =
# (cnt_m + 1) / (tot_m + V). Per-term log contributions are
# integer-scaled micro-nats (round(-ln p * 1e6)) so the corpus sums are
# exact and order-independent; perplexity exponentiates the exact mean.
_XPPL_P = "((CAST(cnt_m AS DOUBLE) + 1) / (CAST(tot_m AS DOUBLE) + vv))"
_XPPL_C = f"CAST(round(-ln({_XPPL_P}) * 1000000) AS BIGINT)"

_XPPL_ORACLE = f"""
WITH tok AS (
  SELECT source, w.w AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z]+')) w(w)),
cnts AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2),
tots AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnts GROUP BY 1),
vv AS (
  SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vv FROM cnts),
pairs AS (
  SELECT e.source AS eval_source, m.source AS model_source,
         e.term, e.cnt AS cnt_e,
         COALESCE(cm.cnt, 0) AS cnt_m, m.tot AS tot_m, vv.vv AS vv
  FROM cnts e
  CROSS JOIN tots m
  CROSS JOIN vv
  LEFT JOIN cnts cm ON cm.source = m.source AND cm.term = e.term),
ce AS (
  SELECT eval_source, model_source,
         CAST(SUM(cnt_e) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt_e * {_XPPL_C}) AS BIGINT) AS ce_micro
  FROM pairs GROUP BY 1, 2)
SELECT eval_source, model_source, n_tokens, ce_micro,
       ROUND(exp(CAST(ce_micro AS DOUBLE) / 1000000.0
                 / CAST(n_tokens AS DOUBLE)), 4) AS perplexity
FROM ce ORDER BY eval_source, model_source
"""


@query("cross_source_perplexity", oracle=_XPPL_ORACLE)
def cross_source_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source perplexity matrix: a Laplace-smoothed unigram LM per
    source scores every source's text (including its own), giving the
    |sources|^2 matrix whose diagonal is self-perplexity and whose
    off-diagonal asymmetries say which sources are 'surprising' to
    which — the LM-eval companion to source_js_divergence (symmetric,
    distribution-level) for mixture decisions: a source with high
    perplexity under every OTHER model adds diversity; one with low
    cross-perplexity everywhere is redundant.

    Exactness: term counts and totals are exact; each term's
    -ln p is integer-scaled to micro-nats by a shared round expression,
    so the corpus-level sums are exact and order-independent; only the
    final exp/ROUND is a float, from identical inputs.

    Scale: tokenization map-side; the model relation is (source, term)
    — vocab x |sources| bounded; the matrix join is a term-keyed left
    join fanned out over |sources| models (small constant), no row
    explosion beyond nnz x |sources|."""
    tok = spark.table("documents").select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    cnts = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tots = cnts.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    vv = cnts.agg(F.countDistinct("term").cast("double").alias("vv"))
    e = cnts.select(
        F.col("source").alias("eval_source"),
        "term",
        F.col("cnt").alias("cnt_e"),
    )
    m = tots.select(
        F.col("source").alias("model_source"), F.col("tot").alias("tot_m")
    )
    cm = cnts.select(
        F.col("source").alias("cm_source"),
        F.col("term").alias("cm_term"),
        F.col("cnt").alias("cnt_m_raw"),
    )
    pairs = (
        e.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(vv))
        .join(
            cm,
            (F.col("cm_source") == F.col("model_source"))
            & (F.col("cm_term") == F.col("term")),
            "left",
        )
        .selectExpr(
            "eval_source",
            "model_source",
            "cnt_e",
            "COALESCE(cnt_m_raw, 0) AS cnt_m",
            "tot_m",
            "vv",
        )
    )
    ce = pairs.groupBy("eval_source", "model_source").agg(
        F.sum("cnt_e").cast("bigint").alias("n_tokens"),
        F.sum(F.expr(f"cnt_e * {_XPPL_C}")).cast("bigint").alias("ce_micro"),
    )
    return ce.selectExpr(
        "eval_source",
        "model_source",
        "n_tokens",
        "ce_micro",
        "ROUND(exp(CAST(ce_micro AS DOUBLE) / 1000000.0"
        " / CAST(n_tokens AS DOUBLE)), 4) AS perplexity",
    ).orderBy("eval_source", "model_source")




# ---------------------------------------------------------------------------
# Sample-ratio-mismatch guardrail (r13)
# ---------------------------------------------------------------------------

# chi-square(1) critical value at alpha = 0.05 — the industry SRM gate
_SRM_CRIT = 3.841459

_SRM_ORACLE = f"""
WITH enroll AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         MIN(date_trunc('day', ts)) AS day
  FROM events GROUP BY 1, 2),
counts AS (
  SELECT day,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM enroll GROUP BY 1)
SELECT day, n_a, n_b,
       ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)
         AS chi2,
       CAST(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
            > {_SRM_CRIT} AS INT) AS srm_flag
FROM counts ORDER BY day
"""


@query("srm_check", oracle=_SRM_ORACLE)
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch guardrail — the FIRST check every
    experimentation platform runs before reading any metric: per
    enrollment day (a user's first event day), do the deterministic
    hash arms hold the designed 50/50 split? chi2 = (n_a - n_b)^2 / n
    (the two-cell goodness-of-fit collapses to this exactly); a flagged
    day means assignment, logging, or bot traffic is broken and every
    downstream readout (cuped, mSPRT, power) is void — which is why
    this belongs beside them in the inventory rather than inside one.

    Exactness: enrollment day is an exact MIN; counts exact; chi2 is
    exact-int/exact-int with ONE division; the flag compares that one
    quotient to a shared literal — bit-identical engines.

    Scale: one user-keyed aggregate (the exchange carries user ids),
    one day-keyed rollup to calendar-bounded rows. Nothing else."""
    enroll = (
        spark.table("events")
        .groupBy(
            "user_id", (F.col("user_id") % 2).cast("int").alias("arm")
        )
        .agg(F.min(F.date_trunc("day", "ts")).alias("day"))
    )
    counts = enroll.groupBy("day").agg(
        F.sum((F.col("arm") == 0).cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("arm") == 1).cast("int")).cast("bigint").alias("n_b"),
    )
    chi2 = "CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)"
    return counts.selectExpr(
        "day",
        "n_a",
        "n_b",
        f"ROUND({chi2}, 6) AS chi2",
        f"CAST({chi2} > {_SRM_CRIT} AS INT) AS srm_flag",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Event-study (dynamic DiD) coefficients (r13)
# ---------------------------------------------------------------------------

_ESD_CUT = 1999  # the diff_in_diff_region_value period boundary, as a year

_ESD_CELLS = """
  SELECT CAST(year(o_orderdate) - {cut} AS BIGINT) AS rel_year,
         CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END AS t,
         CAST(ROUND(o_totalprice * 100, 0) AS {big}) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
"""

_ESD_ORACLE = f"""
WITH base AS ({_ESD_CELLS.format(cut=_ESD_CUT, big='HUGEINT')}),
cells AS (
  SELECT rel_year,
         CAST(SUM(t) AS BIGINT) AS n_treat,
         CAST(SUM(1 - t) AS BIGINT) AS n_ctrl,
         SUM(v * t) AS s_t, SUM(v * (1 - t)) AS s_c
  FROM base GROUP BY 1),
gaps AS (
  SELECT rel_year, n_treat, n_ctrl,
         CAST(s_t AS DOUBLE) / n_treat - CAST(s_c AS DOUBLE) / n_ctrl AS gap
  FROM cells),
baseline AS (SELECT gap AS g0 FROM gaps WHERE rel_year = -1)
SELECT rel_year, n_treat, n_ctrl,
       ROUND(gap, 4) AS gap_cents,
       ROUND(gap - g0, 4) AS coef_cents
FROM gaps CROSS JOIN baseline ORDER BY rel_year
"""


@query("event_study_did", oracle=_ESD_ORACLE)
def event_study_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study (dynamic DiD) around the 1999 'rollout' that
    diff_in_diff_region_value collapses to a single contrast: per
    relative year k, the treated-minus-control order-value gap
    normalized to the k = -1 baseline (the standard event-study
    normalization). The PRE-period coefficients are the parallel-trends
    diagnostic the single-number DiD silently assumes — flat pre-coefs
    license the design; a pre-trend voids it. Dynamic post-coefs show
    whether the effect builds, jumps, or decays.

    Exactness: per-(rel_year, arm) sums are exact HUGEINT/DECIMAL38
    cents; each gap pays two divisions of exact ints; the baseline is
    subtracted as the identical double both engines computed.

    Scale: dims broadcast into the one fact scan; the cell rollup is
    map-side partial to |years| x 2; the baseline joins back as a
    broadcast single row."""
    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    r = spark.table("region")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            (F.year("o_orderdate") - F.lit(_ESD_CUT))
            .cast("bigint")
            .alias("rel_year"),
            (F.col("r_name") == "ASIA").cast("int").alias("t"),
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))").alias(
                "v"
            ),
        )
    )
    cells = base.groupBy("rel_year").agg(
        F.sum("t").cast("bigint").alias("n_treat"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_ctrl"),
        F.sum(F.col("v") * F.col("t")).alias("s_t"),
        F.sum(F.col("v") * (1 - F.col("t"))).alias("s_c"),
    )
    gaps = cells.selectExpr(
        "rel_year",
        "n_treat",
        "n_ctrl",
        "CAST(s_t AS DOUBLE) / n_treat - CAST(s_c AS DOUBLE) / n_ctrl AS gap",
    )
    baseline = gaps.filter(F.col("rel_year") == -1).select(
        F.col("gap").alias("g0")
    )
    return (
        gaps.crossJoin(F.broadcast(baseline))
        .selectExpr(
            "rel_year",
            "n_treat",
            "n_ctrl",
            "ROUND(gap, 4) AS gap_cents",
            "ROUND(gap - g0, 4) AS coef_cents",
        )
        .orderBy("rel_year")
    )


# ---------------------------------------------------------------------------
# O'Brien-Fleming group-sequential boundary replay (r13)
# ---------------------------------------------------------------------------

# Continuous-monitoring OBF constant for two-sided alpha ~= 0.05: the
# z-scale boundary is C * sqrt(K / k) at look k of K. C = 2.24 is the
# standard large-K approximation (Lan-DeMets alpha-spending literature);
# exact per-K calibration is a numerical-integration table, out of scope
# — the OPERATOR is the boundary replay, the constant is a config knob.
_OBF_C = 2.24

# shared z expression over the one-time double casts of the cumulative
# exact-integer moments (population variances; Welch-style SE)
_OBF_Z = (
    "(sa / na - sb / nb) / sqrt("
    " (qa / na - (sa / na) * (sa / na)) / na"
    " + (qb / nb - (sb / nb) * (sb / nb)) / nb)"
)

_OBF_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(user_id % 2 AS INT) AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS HUGEINT)) AS HUGEINT) AS s_d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS HUGEINT)
                  * CAST(ROUND(value * 100, 0) AS HUGEINT)) AS HUGEINT) AS q_d
  FROM events GROUP BY 1, 2),
wide AS (
  SELECT day,
         CAST(SUM(CASE WHEN arm = 0 THEN n_d END) AS BIGINT) AS na_d,
         SUM(CASE WHEN arm = 0 THEN s_d END) AS sa_d,
         SUM(CASE WHEN arm = 0 THEN q_d END) AS qa_d,
         CAST(SUM(CASE WHEN arm = 1 THEN n_d END) AS BIGINT) AS nb_d,
         SUM(CASE WHEN arm = 1 THEN s_d END) AS sb_d,
         SUM(CASE WHEN arm = 1 THEN q_d END) AS qb_d
  FROM daily GROUP BY 1),
cum AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
         CAST(SUM(na_d) OVER w AS DOUBLE) AS na,
         CAST(SUM(sa_d) OVER w AS DOUBLE) AS sa,
         CAST(SUM(qa_d) OVER w AS DOUBLE) AS qa,
         CAST(SUM(nb_d) OVER w AS DOUBLE) AS nb,
         CAST(SUM(sb_d) OVER w AS DOUBLE) AS sb,
         CAST(SUM(qb_d) OVER w AS DOUBLE) AS qb
  FROM wide
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk FROM wide)
SELECT day, k,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND({_OBF_Z}, 6) AS z,
       ROUND({_OBF_C} * sqrt(CAST(kk AS DOUBLE) / k), 6) AS boundary,
       CAST(abs({_OBF_Z}) > {_OBF_C} * sqrt(CAST(kk AS DOUBLE) / k) AS INT)
         AS crossed
FROM cum CROSS JOIN tot ORDER BY day
"""


@query("obf_group_sequential", oracle=_OBF_ORACLE)
def obf_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential boundary replay over the hash-
    split arms' event values: per day k of K, the accumulated-data z
    against the OBF boundary C*sqrt(K/k) — conservative early, nominal
    late. The FIXED-HORIZON member of the sequential-testing pair
    (msprt_sequential_monitor is the always-valid anytime member): OBF
    needs K up front and spends alpha along a schedule; mSPRT never
    does. Running both against the same arms is the standard platform
    cross-check.

    Exactness: daily and cumulative per-arm (n, s, q) are exact
    HUGEINT/DECIMAL38 cents; z and the boundary are shared expression
    strings over one-time double casts — bit-identical engines.

    Scale: one (day, arm) keyed rollup is the only row-scale exchange;
    the cumulative walk runs on the day-bounded daily relation through
    bounded_window (plans/bounded.py — the r13 plan-build-time
    adjudication: 'day-spine', one row per observation day)."""
    from pyspark.sql import Window

    from dawis_spark.plans.bounded import bounded_window

    cents = F.expr("CAST(ROUND(value * 100, 0) AS DECIMAL(38,0))")
    daily = (
        spark.table("events")
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            (F.col("user_id") % 2).cast("int").alias("arm"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_d"),
            F.sum(cents).alias("s_d"),
            F.sum(cents * cents).alias("q_d"),
        )
    )
    wide = daily.groupBy("day").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n_d"))).cast("bigint").alias("na_d"),
        F.sum(F.when(F.col("arm") == 0, F.col("s_d"))).alias("sa_d"),
        F.sum(F.when(F.col("arm") == 0, F.col("q_d"))).alias("qa_d"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_d"))).cast("bigint").alias("nb_d"),
        F.sum(F.when(F.col("arm") == 1, F.col("s_d"))).alias("sb_d"),
        F.sum(F.when(F.col("arm") == 1, F.col("q_d"))).alias("qb_d"),
    )
    w = bounded_window(
        "obf_group_sequential",
        "day-spine",
        "one row per observation day (~30 here; years at most)",
        "day",
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = wide.select(
        "day",
        F.row_number()
        .over(
            bounded_window(
                "obf_group_sequential",
                "day-spine",
                "one row per observation day (~30 here; years at most)",
                "day",
            )
        )
        .cast("bigint")
        .alias("k"),
        F.sum("na_d").over(w).cast("double").alias("na"),
        F.sum("sa_d").over(w).cast("double").alias("sa"),
        F.sum("qa_d").over(w).cast("double").alias("qa"),
        F.sum("nb_d").over(w).cast("double").alias("nb"),
        F.sum("sb_d").over(w).cast("double").alias("sb"),
        F.sum("qb_d").over(w).cast("double").alias("qb"),
    )
    tot = wide.agg(F.count(F.lit(1)).cast("bigint").alias("kk"))
    bexpr = f"{_OBF_C} * sqrt(CAST(kk AS DOUBLE) / k)"
    return (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr(
            "day",
            "k",
            "CAST(na AS BIGINT) AS n_a",
            "CAST(nb AS BIGINT) AS n_b",
            f"ROUND({_OBF_Z}, 6) AS z",
            f"ROUND({bexpr}, 6) AS boundary",
            f"CAST(abs({_OBF_Z}) > {bexpr} AS INT) AS crossed",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Brier score decomposition (r13 — classifier calibration family)
# ---------------------------------------------------------------------------


def _brier_decomp_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT CAST(v.y AS INT) AS y,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
bins AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS b,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS k_b,
         AVG(p) AS mp
  FROM scF GROUP BY 1),
ntot AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(k_b) AS BIGINT) AS k
  FROM bins),
terms AS (
  SELECT b,
         CAST(n_b AS DOUBLE) / n
           * (mp - CAST(k_b AS DOUBLE) / n_b)
           * (mp - CAST(k_b AS DOUBLE) / n_b) AS rel_t,
         CAST(n_b AS DOUBLE) / n
           * (CAST(k_b AS DOUBLE) / n_b - CAST(k AS DOUBLE) / n)
           * (CAST(k_b AS DOUBLE) / n_b - CAST(k AS DOUBLE) / n) AS res_t,
         n, k
  FROM bins CROSS JOIN ntot),
folded AS (
  SELECT n, k,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(rel_t ORDER BY b)), (a, e) -> a + e) AS rel,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(res_t ORDER BY b)), (a, e) -> a + e) AS res
  FROM terms GROUP BY n, k),
brier AS (SELECT AVG((p - y) * (p - y)) AS bs FROM scF)
SELECT n AS n_docs,
       ROUND(bs, 6) AS brier_score,
       ROUND(rel, 6) AS reliability,
       ROUND(res, 6) AS resolution,
       ROUND(CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n), 6)
         AS uncertainty,
       ROUND(rel - res + CAST(k AS DOUBLE) / n
             * (1.0 - CAST(k AS DOUBLE) / n), 6) AS binned_brier
FROM folded CROSS JOIN brier
"""


@query("brier_decomposition", oracle=_brier_decomp_oracle(64, 3, 1.0))
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the trained
    quality classifier: brier = RELIABILITY - RESOLUTION + UNCERTAINTY
    over the decile bins (exactly, for bin-mean forecasts — the
    binned_brier column carries the identity so the readout is
    self-checking; the raw brier differs only by within-bin variance).
    This answers WHY a Brier score is bad where
    ece_classifier_calibration only says THAT calibration is off:
    reliability isolates miscalibration (fixable by Platt — see
    platt_recalibrated_ece), resolution is the discrimination the model
    actually has, uncertainty is the base-rate floor no model beats.

    Determinism: the ECE discipline verbatim — round-6 scores from the
    shared trained vector (no retrain), exact bin counts, per-bin means
    of identical doubles, both decomposition sums folded in bin order.

    Scale: one scoring scan collapsing to 10 bins + a 1-row Brier
    aggregate; training memoized and sample-bounded."""
    from dawis_spark.operators.logreg import margin_expr

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-(round({margin_expr('embedding', w)}, 6)))), 6)"
    scored = emb.selectExpr(
        f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p"
    )
    bins = scored.selectExpr(
        "LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS b", "y", "p"
    ).groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("k_b"),
        F.avg("p").alias("mp"),
    )
    nn = bins.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.sum("k_b").cast("bigint").alias("k"),
    )
    terms = bins.crossJoin(F.broadcast(nn)).selectExpr(
        "b",
        "CAST(n_b AS DOUBLE) / n * (mp - CAST(k_b AS DOUBLE) / n_b)"
        " * (mp - CAST(k_b AS DOUBLE) / n_b) AS rel_t",
        "CAST(n_b AS DOUBLE) / n"
        " * (CAST(k_b AS DOUBLE) / n_b - CAST(k AS DOUBLE) / n)"
        " * (CAST(k_b AS DOUBLE) / n_b - CAST(k AS DOUBLE) / n) AS res_t",
        "n",
        "k",
    )
    folded = terms.groupBy("n", "k").agg(
        F.expr(ordered_sum("rel_t", "b")).alias("rel"),
        F.expr(ordered_sum("res_t", "b")).alias("res"),
    )
    brier = scored.agg(
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("bs")
    )
    unc = "CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n)"
    return folded.crossJoin(F.broadcast(brier)).selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "ROUND(bs, 6) AS brier_score",
        "ROUND(rel, 6) AS reliability",
        "ROUND(res, 6) AS resolution",
        f"ROUND({unc}, 6) AS uncertainty",
        f"ROUND(rel - res + {unc}, 6) AS binned_brier",
    )

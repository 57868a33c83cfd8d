"""Item co-occurrence similarity — the "users who touched X also touched
Y" recommender primitive (item-item collaborative filtering, Amazon-style)
over the events stream's item attribute.

Pipeline: distinct (user, item) baskets -> within-user item pairs ->
(i, j) co-user counts -> cosine normalization co / sqrt(n_i * n_j) ->
deterministic top-k neighbors per item. The cosine is exact-int /
(IEEE-sqrt * IEEE-sqrt): sqrt and division are correctly rounded, so
Spark and DuckDB agree to the bit (same discipline note as
operators/profile.py — no ln/pow anywhere).

Scale shape: the basket relation shuffles once on user_id; pair
generation is a within-partition self-join per user whose output is
sum-of-basket-size-squared — the classic blowup. The guard is the same
size-based routing the near-dup family uses (operators/pairs.py's
capped_blocks): baskets larger than ``max_basket`` are DROPPED before
pairing (a power user who touched everything carries no similarity
signal and quadratic cost — standard practice in production co-occurrence
jobs). The cap is part of the operator's definition, so the oracle
replays it. Everything after pairing is item-catalog-sized: (i, j)
counts, item marginals, and a per-item top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def item_baskets(
    events: DataFrame, item_expr: str, max_basket: int
) -> DataFrame:
    """Distinct (user_id, item) with baskets larger than ``max_basket``
    removed (cap replayed in the oracle)."""
    b = (
        events.select("user_id", F.expr(item_expr).alias("item"))
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    n = b.groupBy("user_id").agg(F.count("*").alias("__bn"))
    return (
        b.join(n, "user_id")
        .filter(F.col("__bn") <= max_basket)
        .drop("__bn")
    )


def cooccurrence_topk(
    events: DataFrame,
    item_expr: str,
    k: int = 5,
    max_basket: int = 128,
    min_co: int = 2,
) -> DataFrame:
    """Top-``k`` cosine neighbors per item: (item, neighbor, co_users,
    cosine, rank). Ties broken (cosine DESC, co_users DESC, neighbor ASC)
    so the result is replayable."""
    # persisted: the basket relation feeds BOTH pair sides and the item
    # marginals — three end-to-end re-evaluations of the events scan +
    # JSON extraction + distinct + size guard without it (the r16
    # before-plan showed 24 events scans in this one query)
    b = item_baskets(events, item_expr, max_basket).persist()
    left = b.alias("a")
    right = b.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count("*").cast("bigint").alias("co_users"))
        .filter(F.col("co_users") >= min_co)
    )
    marg = b.groupBy("item").agg(F.count("*").cast("bigint").alias("n_u"))
    # explode-based symmetrization (the r15 graph trick): one evaluation
    # of the quadratic basket self-join feeds both directions — the old
    # 2-leg union ran the whole pair build twice
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("i"), F.col("j")),
                F.struct(F.col("j").alias("i"), F.col("i").alias("j")),
            )
        ).alias("__p"),
        "co_users",
    ).select(F.col("__p.i").alias("i"), F.col("__p.j").alias("j"), "co_users")
    scored = (
        sym.join(marg.withColumnRenamed("item", "i").withColumnRenamed("n_u", "n_i"), "i")
        .join(marg.withColumnRenamed("item", "j").withColumnRenamed("n_u", "n_j"), "j")
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            "co_users",
            F.round(
                F.col("co_users")
                / (F.sqrt(F.col("n_i")) * F.sqrt(F.col("n_j"))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.desc("co_users"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("item", "rank")
    )


def cooccurrence_oracle_sql(
    item_expr_duck: str, k: int = 5, max_basket: int = 128, min_co: int = 2
) -> str:
    return f"""
WITH b0 AS (
  SELECT DISTINCT user_id, {item_expr_duck} AS item FROM events
  WHERE {item_expr_duck} IS NOT NULL),
bn AS (SELECT user_id, COUNT(*) AS n FROM b0 GROUP BY user_id),
b AS (SELECT b0.user_id, b0.item FROM b0 JOIN bn USING (user_id)
      WHERE bn.n <= {max_basket}),
pairs AS (
  SELECT a.item AS i, b2.item AS j, CAST(COUNT(*) AS BIGINT) AS co_users
  FROM b a JOIN b b2 ON a.user_id = b2.user_id AND a.item < b2.item
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_co}),
marg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_u FROM b GROUP BY item),
sym AS (
  SELECT i, j, co_users FROM pairs
  UNION ALL SELECT j AS i, i AS j, co_users FROM pairs),
scored AS (
  SELECT s.i AS item, s.j AS neighbor, s.co_users,
         ROUND(s.co_users / (sqrt(mi.n_u) * sqrt(mj.n_u)), 6) AS cosine
  FROM sym s JOIN marg mi ON s.i = mi.item JOIN marg mj ON s.j = mj.item),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY item ORDER BY cosine DESC, co_users DESC, neighbor ASC) AS rank
  FROM scored)
SELECT item, neighbor, co_users, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k} ORDER BY item, rank
"""

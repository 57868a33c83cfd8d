"""Shared query fragments: one definition per relation that several
inventory queries build.

Each fragment keeps its Spark builder next to the oracle SQL text it must
equal, so a twin pair is reviewed in one place. A fragment computes one
relation; a caller renames its columns with a ``select`` on the result.
A query that needs a different relation keeps its own code.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dawis_spark.functions import text as _TXT

# ---------------------------------------------------------------------------
# ANN recall@k: exact top-k left-joined to an approximate top-k
# ---------------------------------------------------------------------------


def exact_topk(emb: DataFrame, k: int) -> DataFrame:
    """The ground truth of the ANN recall evals: exact cosine top-k of the
    queries ``vec_id < 10`` over ``emb``, as (query_id, neighbor_id).
    SQL twin: ``_embedding_topk_oracle(k, 10)``."""
    from dawis_spark.operators.similarity import brute_force_topk

    return brute_force_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), id_col="vec_id",
        vec_col="embedding", k=k,
    ).select("query_id", "neighbor_id")


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per query, how many exact top-k neighbours the approximate top-k
    found: (query_id, hits, recall_at_k), ordered by query_id. The join
    is a left join, so a query with no approximate neighbours reports
    hits = 0. SQL twin: ``ann_recall_sql``."""
    a = approx.select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    joined = exact.join(
        a,
        (exact["query_id"] == a["a_qid"]) & (exact["neighbor_id"] == a["a_nid"]),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("a_nid").cast("bigint").alias("hits"),
            F.round(F.count("a_nid").cast("double") / F.lit(k), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def recall_sql(
    exact: str, legs: Sequence[tuple[str, str, str]], columns: Sequence[str]
) -> str:
    """The recall template: ``exact`` (top-k SQL) as ``exact_r e``, each
    leg ``(cte, alias, sql)`` an approximate top-k left-joined on
    (query_id, neighbor_id), and ``columns`` aggregated per query."""
    ctes = "".join(
        f",\n{cte} AS (SELECT * FROM ({sql.strip()}))" for cte, _, sql in legs
    )
    joins = "".join(
        f"LEFT JOIN {cte} {a}\n"
        f"  ON e.query_id = {a}.query_id AND e.neighbor_id = {a}.neighbor_id\n"
        for cte, a, _ in legs
    )
    cols = ",\n".join(f"  {c}" for c in columns)
    return f"""
WITH exact_r AS (SELECT * FROM ({exact.strip()})){ctes}
SELECT e.query_id,
{cols}
FROM exact_r e
{joins}GROUP BY e.query_id ORDER BY e.query_id
"""


def recall_col(alias: str, k: int, name: str) -> str:
    """recall@k of one ``recall_sql`` leg, rounded as ``recall_at_k`` does."""
    return f"ROUND(CAST(COUNT({alias}.neighbor_id) AS DOUBLE) / {k}, 6) AS {name}"


def ann_recall_sql(exact: str, approx: str, k: int) -> str:
    """SQL twin of ``recall_at_k``: (query_id, hits, recall_at_k)."""
    return recall_sql(
        exact,
        [("approx_r", "a", approx)],
        [
            "CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits",
            recall_col("a", k, "recall_at_k"),
        ],
    )


# ---------------------------------------------------------------------------
# Daily series
# ---------------------------------------------------------------------------

DAILY_REV_ORDERS_CTE = """
daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1)
"""


def daily_rev_orders(spark: SparkSession) -> DataFrame:
    """Daily order revenue in cents and order count: (d, rev, cnt).
    SQL twin: ``DAILY_REV_ORDERS_CTE``."""
    return (
        spark.table("orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("bigint")
            .alias("rev"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )


DAILY_TYPE_CENTS_SQL = """SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2"""


def daily_type_cents(spark: SparkSession) -> DataFrame:
    """Per event type and day, the summed value in cents:
    (event_type, day, v). SQL twin: ``DAILY_TYPE_CENTS_SQL``."""
    return (
        spark.table("events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
    )


# ---------------------------------------------------------------------------
# Trade graph: customers and suppliers joined by the lines they traded.
# Node ids are int64, even = customer 2k, odd = supplier 2k+1.
# ---------------------------------------------------------------------------

TRADE_EDGES_CTES = """pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)"""


def trade_lines(spark: SparkSession) -> DataFrame:
    """lineitem joined to its order: one row per traded line."""
    return spark.table("lineitem").join(
        spark.table("orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )


def trade_nodes() -> list[Column]:
    """A traded line's customer node ``c`` and supplier node ``s``."""
    return [
        (F.col("o_custkey") * 2).alias("c"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ]


def trade_edges(spark: SparkSession) -> DataFrame:
    """The symmetrized customer<->supplier trade graph, one (src, dst) row
    per direction of each distinct pair. SQL twin: ``TRADE_EDGES_CTES``."""
    pairs = trade_lines(spark).select(*trade_nodes()).distinct()
    # symmetrize with one explode: a 2-leg union evaluates the
    # lineitem-orders distinct-pair join twice at materialization
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def trade_seeds_cte(nation: int) -> str:
    """The ``seeds`` CTE: one nation's customers as trade-graph nodes."""
    return f"""seeds AS (
  SELECT c_custkey * 2 AS node FROM customer WHERE c_nationkey = {nation}
)"""


def trade_seeds(spark: SparkSession, nation: int) -> DataFrame:
    """One nation's customers as trade-graph nodes: (node).
    SQL twin: ``trade_seeds_cte``."""
    return (
        spark.table("customer")
        .filter(F.col("c_nationkey") == nation)
        .select((F.col("c_custkey") * 2).alias("node"))
    )


# ---------------------------------------------------------------------------
# BM25 leg (oracle side; the Spark side is operators/corpus.bm25_scores)
# ---------------------------------------------------------------------------


def bm25_ctes(terms: Sequence[str], k1: float, b: float, scored: str) -> str:
    """The Okapi BM25 CTE chain over ``documents`` for a bag-of-words
    query: base, dl, stats, tk, tf, dfq, and ``scored`` with one
    (doc_id, contrib) row per matched term."""
    toks = _TXT.tokens("text", "duck")
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""WITH base AS (SELECT doc_id, {toks} AS __toks FROM documents),
dl AS (SELECT doc_id, CAST(len(__toks) AS DOUBLE) AS dl FROM base),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
tk AS (SELECT doc_id, unnest(__toks) AS token FROM base),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM tk
  WHERE token IN ({term_list}) GROUP BY doc_id, token
),
dfq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df_t FROM tf GROUP BY token),
{scored} AS (
  SELECT tf.doc_id,
         ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
           * (tf * ({k1} + 1))
           / (tf + {k1} * (1 - {b} + {b} * dl.dl / avgdl)) AS contrib
  FROM tf JOIN dfq USING (token) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)"""

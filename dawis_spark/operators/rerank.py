"""MMR diversified re-ranking (Carbonell & Goldstein 1998, "The use of
MMR, diversity-based reranking") — the standard head-of-list
diversification every production retrieval stack runs between ANN
retrieval and the user: greedily pick the document maximizing
λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s), trading relevance
against redundancy with what is already shown.

Scale shape: MMR is a HEAD operator — it runs on a bounded top-N
candidate pool per query (N ≈ 100), never the corpus. The distributed
work is (a) the pool retrieval (any ANN family here) and (b) the pool's
pairwise similarities (N² per query, data-parallel across queries); the
greedy selection itself is O(k·N) per query on the collected pool —
driver-side by design and bounded by construction, the same adjudicated
boundary as quantizer training (similarity.py:_collect_train_sample).
At 1000 queries × N=100 the collect is 100k integers-rows; selections
return to the cluster as a literal relation for the eval joins.

Determinism contract: relevance and pool-pairwise cosines are rounded
to 6 digits then scaled to integer MICRO-UNITS; λ = 0.7 enters as the
integer pair (7, 3) (λ×10, (1−λ)×10), so every MMR score is the exact
integer 7·rel_micro − 3·maxsim_micro and the greedy trajectory is
bit-replayable in any engine (ties: score desc, doc id asc). DuckDB
replays all k steps as unrolled CTEs (queries._mmr_oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawis_spark.functions import vectors as V

MICRO = "cast(round(cosine * 1000000, 0) as bigint)"


def mmr_pool(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_pool: int,
) -> DataFrame:
    """Top-``n_pool`` exact-cosine candidates per query with integer
    micro-unit relevance: (query_id, did, rel_micro)."""
    from dawis_spark.operators.similarity import brute_force_topk

    return brute_force_topk(
        corpus=corpus, queries=queries, id_col=id_col, vec_col=vec_col, k=n_pool
    ).select(
        "query_id",
        F.col("neighbor_id").alias("did"),
        F.expr(MICRO).alias("rel_micro"),
    )


def mmr_pool_pairs(
    pool: DataFrame, corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Pairwise pool-member similarities per query: (query_id, a, b,
    sim_micro) with a < b. The pool relation is head-sized, so both
    hydration joins broadcast it; the corpus contributes vectors by id
    without moving."""
    v = corpus.select(F.col(id_col).alias("did"), F.col(vec_col).alias("vec"))
    pa = F.broadcast(pool.select("query_id", F.col("did").alias("a"))).join(
        v.select(F.col("did").alias("a"), F.col("vec").alias("a_vec")), "a"
    )
    pb = F.broadcast(pool.select("query_id", F.col("did").alias("b"))).join(
        v.select(F.col("did").alias("b"), F.col("vec").alias("b_vec")), "b"
    )
    cos = V.cosine("a_vec", "b_vec", "spark")
    return (
        pa.join(pb, "query_id")
        .filter(F.col("a") < F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.expr(
                f"cast(round(round({cos}, 6) * 1000000, 0) as bigint)"
            ).alias("sim_micro"),
        )
    )


def mmr_select(
    pool_rows: list[tuple[int, int, int]],
    pair_rows: list[tuple[int, int, int, int]],
    k: int,
    lam10: int = 7,
) -> list[tuple[int, int, int, int]]:
    """Exact integer greedy MMR on the collected pool.

    Returns (query_id, rank, did, mmr_score_scaled) where the score is
    lam10·rel_micro − (10−lam10)·maxsim_micro (units: 10 × micro-cosine).
    """
    from collections import defaultdict

    rel: dict[int, dict[int, int]] = defaultdict(dict)
    for qid, did, r in pool_rows:
        rel[qid][did] = r
    sim: dict[int, dict[tuple[int, int], int]] = defaultdict(dict)
    for qid, a, b, s in pair_rows:
        sim[qid][(a, b)] = s
        sim[qid][(b, a)] = s
    out: list[tuple[int, int, int, int]] = []
    mu10 = 10 - lam10
    for qid in sorted(rel):
        selected: list[int] = []
        remaining = dict(rel[qid])
        for rank in range(1, k + 1):
            if not remaining:
                break
            best_did, best_score = None, None
            for did in sorted(remaining):
                ms = max((sim[qid].get((did, s), 0) for s in selected), default=0)
                score = lam10 * remaining[did] - mu10 * ms
                if best_score is None or score > best_score:
                    best_did, best_score = did, score
            out.append((qid, rank, best_did, best_score))
            selected.append(best_did)
            del remaining[best_did]
    return out


def mmr_rerank(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_pool: int = 20,
    lam10: int = 7,
    pool: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end MMR: distributed pool + pairwise sims, exact integer
    greedy on the collected head, selections back as a DataFrame:
    (query_id, rank, did, mmr_score_scaled).

    ``pool``/``pairs`` optionally supply precomputed (persisted)
    relations with the exact ``mmr_pool``/``mmr_pool_pairs`` schemas, so
    a caller that also consumes them (the diversity eval) computes the
    brute-force pool once. When built here, the pool is persisted: it
    feeds both hydration legs of the pairs join AND the driver collect —
    three end-to-end brute-force evaluations otherwise (bounded
    n_queries x n_pool rows, the operator's own collect budget)."""
    if pool is None:
        pool = mmr_pool(corpus, queries, id_col, vec_col, n_pool).persist()
    if pairs is None:
        pairs = mmr_pool_pairs(pool, corpus, id_col, vec_col)
    pool_rows = [
        (int(r[0]), int(r[1]), int(r[2])) for r in pool.collect()
    ]  # bounded: n_queries * n_pool
    pair_rows = [
        (int(r[0]), int(r[1]), int(r[2]), int(r[3])) for r in pairs.collect()
    ]  # bounded: n_queries * n_pool^2 / 2
    sel = mmr_select(pool_rows, pair_rows, k, lam10)
    # a pandas frame enters through Arrow as a local relation; a row list
    # is a Python RDD, one task per core on every execution
    return spark.createDataFrame(
        pd.DataFrame(sel, columns=["query_id", "rank", "did", "mmr_score_scaled"]),
        "query_id bigint, rank int, did bigint, mmr_score_scaled bigint",
    )

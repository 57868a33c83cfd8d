"""Semi-supervised kNN label propagation — stamp labels onto an
unlabeled corpus from a small labeled seed set by embedding similarity.

The canonical training-data-pipeline move (Fang et al. 2023 "Data
Selection for Language Models via Importance Resampling" uses bag
models; FineWeb-Edu / Llama-3 quality pipelines use exactly this shape
with an embedding classifier): a few thousand human- or LLM-labeled
documents, and a corpus of billions to label. The kNN form (Cover &
Hart 1967; label propagation per Zhu & Ghahramani 2002, one hop) takes
each unlabeled document's k nearest labeled neighbors by cosine and
votes — majority count, summed-similarity tie-break, then lowest label.

Scale shape: the LABELED side is small by construction (labeling is the
expensive resource), so it rides into the corpus scan as a literal /
broadcast — the corpus is never shuffled, never joined, and each task
scores its rows against the in-memory seed in one pass (the IVF
centroid-literal discipline, similarity.py:_ivf_assign). Per-row work is
m seed cosines + an in-row top-k sort of m structs: no exchange at any
point, the output is one row per input row. Seeds beyond the literal
cap (similarity.py MAX_CENTROID_LITERALS) would take the bit-identical
numpy mapInPandas path exactly like `_ivf_assign_numpy`; seeds beyond
driver memory (~10^6) would first coarse-quantize the seed (IVF) and
vote over the probed cells only — both documented tiers, same output
contract.

Determinism contract (the repo's oracle-gate requirement): cosines are
sequential-double and rounded HALF_UP to 6 digits in both engines;
vote scores sum 6-digit cosines in integer MICRO-UNITS (bigint), so the
vote total is addition-order invariant; ties break (votes desc,
score_micro desc, label asc).

Reference parity: the reference has no embedding ops — this extends the
match/enrichment family (reference processors/enrichment: stamp derived
columns from a small config-sized relation onto a big table) to learned
labels, as SURVEY §2's beyond-reference pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import vectors as V
from dawis_spark.operators.similarity import _py_norm_sq

# Tier split (the `_ivf_assign` discipline): small seeds inline as a SQL
# literal; beyond NUMPY_TIER_LITERALS doubles the bit-identical Arrow
# mapInPandas tier takes over — interpreted higher-order lambdas pay
# ~100ns/element, so a 200-seed x 64-dim vote is already ~4x faster in
# the vectorized tier (measured at sf0.1). Both tiers produce identical
# rows (parity-tested).
NUMPY_TIER_LITERALS = 4_096


def collect_seed(
    seed: DataFrame, id_col: str, vec_col: str, label_col: str, limit: int = 1024
) -> list[tuple[int, int, list[float]]]:
    """Driver-side seed materialization — BOUNDED by construction (the
    labeled set is the scarce resource; ``limit`` guards a mis-pointed
    input, the `_collect_train_sample` discipline). Deterministic order
    by id."""
    rows = (
        seed.select(F.col(id_col), F.col(label_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(limit)
        .collect()
    )
    return [(int(r[0]), int(r[1]), [float(x) for x in r[2]]) for r in rows]


def _seed_literals(
    seed_rows: list[tuple[int, int, list[float]]]
) -> tuple[str, str, str, str]:
    """(sid_array, lbl_array, vec_array_of_arrays, norm_array) literals.

    Seed norms are precomputed here ONCE: python's left-to-right float
    sum replays the engines' sequential list-fold bit-for-bit (same IEEE
    double adds in the same order), and sqrt is correctly rounded
    everywhere — so baking sqrt(sum x^2) into the literal is exact while
    saving a 64-op norm recomputation per (row, seed) pair."""
    import math

    sid = "array(" + ", ".join(str(s) for s, _, _ in seed_rows) + ")"
    lbl = "array(" + ", ".join(str(l) for _, l, _ in seed_rows) + ")"
    vecs = V.double_array(v for _, _, v in seed_rows)
    norms = V.double_array(math.sqrt(_py_norm_sq(v)) for _, _, v in seed_rows)
    return sid, lbl, vecs, norms


def knn_label_propagation(
    targets: DataFrame,
    seed_rows: list[tuple[int, int, list[float]]],
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """(target_id, predicted_label, votes, score_micro): majority label of
    the k nearest seed vectors by 6-digit-rounded cosine.

    Entire computation is one projection inside the target scan:
    per-row affinity transform over the seed literal, in-row top-k via
    ``array_sort`` on (negcosine, sid) structs, in-row vote argmax via
    ``array_max`` on (votes, score_micro, -label) structs. Zero
    exchanges, zero joins (asserted by tests/test_plan_properties.py)."""
    n_lit = sum(len(v) for _, _, v in seed_rows)
    if n_lit > NUMPY_TIER_LITERALS:
        return _knn_label_propagation_numpy(targets, seed_rows, id_col, vec_col, k)
    sid_lit, lbl_lit, vec_lit, norm_lit = _seed_literals(seed_rows)
    m = len(seed_rows)
    # cosine = dot / (row_norm * seed_norm): the row norm is hoisted to
    # one per-row column and seed norms ride in the literal, so the
    # per-pair work is the 64-op dot plus one multiply-divide (a ~3x cut
    # vs recomputing both norms inside every pair, measured at sf0.1)
    dot = V.dot("vec", f"element_at({vec_lit}, i + 1)", "spark")
    cos = f"({dot} / (__tn * element_at({norm_lit}, i + 1)))"
    cands = (
        f"slice(array_sort(transform(sequence(0, {m - 1}), i -> named_struct("
        f"'negc', -round({cos}, 6), "
        f"'sid', element_at({sid_lit}, i + 1), "
        f"'lbl', element_at({lbl_lit}, i + 1)))), 1, {k})"
    )
    # per-candidate integer micro-unit weight: cosine is already rounded
    # to 6 digits, so round(x * 1e6) is an exact integer -> order-free sum
    vote_stats = (
        "transform(array_distinct(transform(__cands, x -> x.lbl)), l -> named_struct("
        "'votes', cast(size(filter(__cands, x -> x.lbl = l)) as bigint), "
        "'score_micro', aggregate(__cands, cast(0 as bigint), "
        "(s, x) -> s + (case when x.lbl = l "
        "then cast(round(-x.negc * 1000000, 0) as bigint) else cast(0 as bigint) end)), "
        "'neglbl', -l))"
    )
    return (
        targets.select(
            F.col(id_col).alias("target_id"), F.col(vec_col).alias("vec")
        )
        .withColumn("__tn", F.expr(f"sqrt({V.norm_sq('vec', 'spark')})"))
        .withColumn("__cands", F.expr(cands))
        .withColumn("__best", F.expr(f"array_max({vote_stats})"))
        .select(
            "target_id",
            F.expr("-__best.neglbl").alias("predicted_label"),
            F.col("__best.votes").alias("votes"),
            F.col("__best.score_micro").alias("score_micro"),
        )
    )


def _knn_label_propagation_numpy(
    targets: DataFrame,
    seed_rows: list[tuple[int, int, list[float]]],
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Arrow tier: same output as the literal path to the bit. Cosines
    fold dimensions left-to-right (vectorized across rows — the
    `_ivf_assign_numpy` parity discipline), HALF_UP rounding, micro-unit
    integer votes, ties (cos desc, sid asc) via stable argsort over the
    id-sorted seed. Still strictly map-side: the seed ships inside the
    closure; targets never leave their partition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sids = np.array([s for s, _, _ in seed_rows], dtype=np.int64)
    lbls = np.array([l for _, l, _ in seed_rows], dtype=np.int64)
    S = np.array([v for _, _, v in seed_rows], dtype=np.float64)  # (m, dim)
    assert np.all(np.diff(sids) > 0), "collect_seed orders by id"
    snorm = np.sqrt(V.np_norm_sq(S))
    in_schema = targets.select(F.col(id_col)).schema
    out_schema = T.StructType(
        [
            T.StructField("target_id", in_schema[0].dataType, True),
            T.StructField("predicted_label", T.IntegerType(), True),
            T.StructField("votes", T.LongType(), True),
            T.StructField("score_micro", T.LongType(), True),
        ]
    )
    sel = targets.select(
        F.col(id_col).alias("target_id"), F.col(vec_col).alias("vec")
    )

    def vote(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )  # (n, dim)
            n = len(pdf)
            tn = np.sqrt(V.np_norm_sq(X))
            cos6 = V.np_round6(V.np_dot(X, S) / (tn[:, None] * snorm[None, :]))
            micro = (np.sign(cos6) * np.floor(np.abs(cos6) * 1e6 + 0.5)).astype(
                np.int64
            )
            topk = np.argsort(-micro, axis=1, kind="stable")[:, :k]
            pred = np.empty(n, dtype=np.int64)
            votes = np.empty(n, dtype=np.int64)
            score = np.empty(n, dtype=np.int64)
            for i in range(n):
                cand_l = lbls[topk[i]]
                cand_m = micro[i, topk[i]]
                best = None
                for l in np.unique(cand_l):
                    mask = cand_l == l
                    key = (int(mask.sum()), int(cand_m[mask].sum()), -int(l))
                    if best is None or key > best[0]:
                        best = (key, int(l))
                pred[i], votes[i], score[i] = best[1], best[0][0], best[0][1]
            yield pd.DataFrame(
                {
                    "target_id": pdf["target_id"].to_numpy(),
                    "predicted_label": pred.astype(np.int32),
                    "votes": votes,
                    "score_micro": score,
                }
            )

    return sel.mapInPandas(vote, out_schema)


def propagation_accuracy(
    predictions: DataFrame,
    truth: DataFrame,
    id_col: str,
    label_col: str,
    baseline_label: int,
) -> DataFrame:
    """One-row self-eval: holdout accuracy of the propagated labels vs
    the withheld true labels, beside the majority-class baseline the
    propagation must beat to be worth running. All counts bigint; the
    two accuracies are single exact divisions rounded to 4."""
    joined = predictions.join(
        truth.select(
            F.col(id_col).alias("target_id"),
            F.col(label_col).alias("true_label"),
        ),
        "target_id",
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.sum(
            F.when(F.col("predicted_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("predicted_label") == F.col("true_label"), 1).otherwise(0)
            )
            / F.count("*"),
            4,
        ).alias("accuracy"),
        F.round(
            F.sum(
                F.when(F.col("true_label") == F.lit(baseline_label), 1).otherwise(0)
            )
            / F.count("*"),
            4,
        ).alias("baseline_accuracy"),
    )

"""Distributed logistic-regression TRAINING — the learning half of the
quality-classifier story (operators/classifier.py ships inference with a
pluggable weight vector; fasttext-style gates in CCNet/RedPajama/FineWeb
are exactly such trained linear models).

Full-batch gradient descent with a fixed iteration count, deterministic
end to end — the pagerank/kmeans discipline applied to model training:

* **Per-row math is rounded before aggregation.** margin and residual
  round to 6 digits; each per-dimension gradient contribution scales to
  an INTEGER (micro units) so the gradient sum is exact int64 in any
  partitioning — no float summation-order drift (the LM/trend-slopes
  integer-sufficient-statistics discipline).
* **Training is EAGER like train_kmeans**: each iteration aggregates
  the 65 gradient integers, collects them (config-sized — the weight
  vector IS driver state in every trainer), applies the update in
  HALF_UP-rounded arithmetic matching SQL round(), and re-injects the
  new weights as literals into the next iteration's scoring fold.
* **Scoring is the inference plan**: a sequential fold over the vector
  against a literal/broadcast weight array inside the scan — no explode
  in the margin path; only the gradient aggregation explodes (65 rows
  per example, partial-aggregated map-side to a 65-key exchange).

The DuckDB oracle replays every iteration: weights live as a
(dim, weight) relation per round, margins use the same sequential
fold, and the update uses the same expression shape — bit-identical
trajectories (exp() is the one libm call; its input is pre-rounded so
a 1-ulp engine difference cannot survive the post-round, the same
convention the PMI/perplexity operators use for ln()).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import vectors as V


def _half_up6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _xs_expr(vec_col: str) -> str:
    """Feature array: vector dims cast to double + bias feature 1.0."""
    return (
        f"concat(transform({vec_col}, x -> cast(x as double)), "
        f"array(cast(1.0 as double)))"
    )


def margin_expr(vec_col: str, w: list[float]) -> str:
    """round-6 margin of the example against literal weights (the
    last weight is the bias)."""
    xs = _xs_expr(vec_col)
    return f"round({V.dot(xs, V.double_array(w), 'spark')}, 6)"


def _np_half_up6(a):
    """Vectorized HALF_UP round to 6 digits — the numpy twin of
    ``_half_up6`` (same floor(abs*1e6 + 0.5) formulation, so the sampled
    driver-side trajectory is bit-equal to the distributed one)."""
    import numpy as np

    return np.copysign(np.floor(np.abs(a) * 1e6 + 0.5) / 1e6, a)


def _np_half_up_int64(a):
    """Vectorized HALF_UP round to integer (SQL ``round(x)`` + bigint
    cast), as exact int64."""
    import numpy as np

    return (np.copysign(np.floor(np.abs(a) + 0.5), a)).astype(np.int64)


def _collect_train_sample(
    data: DataFrame, id_col: str, vec_col: str, y_expr: str, limit: int
):
    """(X, y) numpy training sample: the ``limit`` lowest-id examples,
    X = (n, dim+1) float64 with the bias feature appended (the same
    ``_xs_expr`` the distributed path scores with), y = (n,) float64.
    Deterministic (id-ordered prefix — the train_kmeans discipline,
    similarity.py) so the DuckDB oracle replays the identical
    trajectory; below the limit this is the whole input. One TakeOrdered
    job; driver memory is limit x (dim+2) x 8 bytes."""
    import numpy as np

    rows = (
        data.select(
            F.col(id_col).alias("__id"),
            F.expr(_xs_expr(vec_col)).alias("__xs"),
            F.expr(f"cast({y_expr} as double)").alias("__y"),
        )
        .orderBy("__id")
        .limit(limit)
        .collect()
    )
    if not rows:
        return None, None
    X = np.array([r["__xs"] for r in rows], dtype=np.float64)
    y = np.array([r["__y"] for r in rows], dtype=np.float64)
    return X, y


def _train_numpy(X, y, iterations: int, lr: float) -> list[float]:
    """Full-batch GD on a driver-side sample, mirroring the distributed
    trajectory op for op: dim-sequential left-fold margins from 0.0,
    HALF_UP round-6 margin and residual, per-dimension integer-micro
    gradient sums in exact int64, HALF_UP round-6 weight update."""
    import numpy as np

    n, d1 = X.shape
    w = [0.0] * d1
    for _ in range(iterations):
        margin = _np_half_up6(V.np_dot(X, np.array([w]))[:, 0])
        r = _np_half_up6(1.0 / (1.0 + np.exp(-margin)) - y)
        g = [int(_np_half_up_int64((r * X[:, d]) * 1000000.0).sum()) for d in range(d1)]
        w = [_half_up6(w[j] - lr * (g[j] / 1e6) / n) for j in range(d1)]
    return w


def logreg_train(
    data: DataFrame,
    vec_col: str,
    y_expr: str,
    dim: int,
    iterations: int = 3,
    lr: float = 1.0,
    id_col: str | None = None,
    sample_limit: int | None = None,
) -> list[float]:
    """Learn ``dim + 1`` weights (bias last) by ``iterations`` rounds of
    full-batch GD from zero init. ``y_expr``: SQL expr yielding the 0/1
    double label. Returns the weight list (driver-side, config-sized).

    With ``sample_limit`` (requires ``id_col``): train on the
    ``sample_limit`` lowest-id examples, collected once and iterated
    driver-side in numpy — the train_kmeans sample discipline
    (similarity.py ``sample_limit``). This is the 100 TB path: one
    bounded TakeOrdered collect instead of ``iterations`` full-input
    scans, then score the full corpus distributed with the returned
    weights. The numpy loop replays the exact integer-micro trajectory,
    so when the sample covers the input the two paths are bit-equal
    (pinned by test_logreg_sampled_path_matches_distributed)."""
    if sample_limit is not None:
        if id_col is None:
            raise ValueError("sample_limit requires id_col")
        X, y = _collect_train_sample(data, id_col, vec_col, y_expr, sample_limit)
        if X is None:
            return [0.0] * (dim + 1)
        return _train_numpy(X, y, iterations, lr)
    n = data.count()
    w = [0.0] * (dim + 1)
    for _ in range(iterations):
        resid = (
            f"round(1.0 / (1.0 + exp(-({margin_expr(vec_col, w)}))) "
            f"- ({y_expr}), 6)"
        )
        grads = (
            data.select(
                F.expr(resid).alias("__r"),
                F.posexplode(F.expr(_xs_expr(vec_col))).alias("__d", "__x"),
            )
            .select(
                "__d",
                F.expr(
                    "cast(round(__r * __x * 1000000) as bigint)"
                ).alias("__g"),
            )
            .groupBy("__d")
            .agg(F.sum("__g").alias("__g"))
            .collect()
        )
        g = {r["__d"]: r["__g"] for r in grads}
        w = [
            _half_up6(w[j] - lr * (g.get(j, 0) / 1e6) / n)
            for j in range(dim + 1)
        ]
    return w


def auc_accuracy(
    data: DataFrame,
    vec_col: str,
    y_expr: str,
    w: list[float],
) -> DataFrame:
    """Exact tie-aware ROC AUC (midrank rank-sum form — integers until
    the final division) + accuracy at threshold 0, one row:
    (n, n_pos, auc, accuracy).

    Midranks WITHOUT the data-sized partition-less row_number window the
    r10 formulation used: per-distinct-score counts (one hash
    aggregate), then a running count over the score order from
    range_partitioned_ranks(sum_cols) — for a score s with cnt_less rows
    strictly below and cnt tied rows, min+max rank = 2*cnt_less + cnt +
    1, so the positive-class rank-sum needs only the (s, cnt, pos)
    relation, never per-row ranks. Exchanges carry distinct scores with
    counts; every window in the plan is bucket-partitioned."""
    from dawis_spark.operators.sketches import range_partitioned_ranks

    scored = data.select(
        F.expr(f"cast({y_expr} as int)").alias("y"),
        F.expr(margin_expr(vec_col, w)).alias("s"),
    )
    per_s = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    ranked = range_partitioned_ranks(
        per_s, "s", [], out_col="__r", sum_cols=[("cum_cnt", "cnt")]
    )[0]
    # mr2 = min_rank + max_rank of the tie group; rank-sum over the
    # positive class = sum(pos * mr2) / 2 (kept doubled: integers)
    rs = ranked.select(
        "pos",
        "cnt",
        (2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1).alias("mr2"),
        ((F.col("s") > 0).cast("int")).alias("pred_pos"),
    ).agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("pos") * F.col("mr2")).cast("bigint").alias("possum2"),
        F.sum(
            F.when(F.col("pred_pos") == 1, F.col("pos")).otherwise(
                F.col("cnt") - F.col("pos")
            )
        )
        .cast("bigint")
        .alias("correct"),
    )
    return rs.select(
        "n",
        "n_pos",
        F.round(
            (
                F.col("possum2").cast("double")
                - F.col("n_pos").cast("double") * (F.col("n_pos").cast("double") + 1)
            )
            / (
                2.0
                * F.col("n_pos").cast("double")
                * (F.col("n") - F.col("n_pos")).cast("double")
            ),
            6,
        ).alias("auc"),
        F.round(F.col("correct").cast("double") / F.col("n"), 6).alias("accuracy"),
    )


def platt_fit(
    margins, y, iterations: int = 3, lr: float = 0.5
) -> tuple[float, float]:
    """Platt scaling on a driver-side sample: fit (a, b) so that
    sigmoid(a*m + b) calibrates the round-6 margins ``m`` against the
    0/1 labels ``y`` — full-batch GD from (1, 0) with the exact
    integer-micro gradient discipline of ``_train_numpy``, so a DuckDB
    CTE chain replays the identical (a, b) trajectory:

        z  = round6(a*m + b)
        r  = round6(sigmoid(z) - y)
        ga = sum(int64(round(r * m * 1e6)));  gb = sum(int64(round(r * 1e6)))
        a' = round6(a - lr * (ga/1e6) / n);   b' likewise

    Two parameters, so the sample that bounds logreg training bounds
    this a fortiori; scoring with (a, b) stays a one-scan distributed
    expression."""
    import numpy as np

    m = np.asarray(margins, dtype=np.float64)
    yv = np.asarray(y, dtype=np.float64)
    n = len(m)
    a, b = 1.0, 0.0
    for _ in range(iterations):
        z = _np_half_up6(a * m + b)
        r = _np_half_up6(1.0 / (1.0 + np.exp(-z)) - yv)
        ga = int(_np_half_up_int64(r * m * 1000000.0).sum())
        gb = int(_np_half_up_int64(r * 1000000.0).sum())
        a = _half_up6(a - lr * (ga / 1e6) / n)
        b = _half_up6(b - lr * (gb / 1e6) / n)
    return a, b

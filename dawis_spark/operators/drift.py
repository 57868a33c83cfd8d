"""Distribution-drift diagnostics — exact two-sample Kolmogorov–Smirnov
and a Benford first-digit profile.

Complements operators/textstats.py's Jensen–Shannon source drift (which
bins; JS needs log so it rides on the repo's integer-log machinery) with
the BINLESS drift test: the two-sample KS statistic
``sup_v |F_a(v) - F_b(v)|`` — the standard "did this feed's distribution
move" monitor a warehouse runs between yesterday's and today's load.

Exactness: the naive form compares float CDFs. Here the sup runs over
the INTEGER cross-multiplied form ``|c_a * n_b - c_b * n_a|`` (c = running
counts at each distinct value of the merged support), so the argmax is
decided in int64 and both engines pick the identical location; the
statistic itself is one final division. Bounds: c <= n <= 1e12 rows
would overflow — at that cardinality per-key counts are already
aggregated, and n_a*n_b stays < 2^63 for n < 3e9 per side; beyond that
the operator documents sampling (hash_sample_pred) as the guard.

Scale shape: one groupBy(value) pre-aggregate (map-side combine) makes
the window input DISTINCT-VALUE-sized, then a single global ordered
window computes both running counts. A global window is a one-partition
sort — correct here because distinct support after pre-aggregation is
catalog-scale (prices, scores, counts), not row-scale; for truly
continuous high-NDV columns callers pre-round to measurement precision
(cents here) first, which is also what makes the statistic reproducible.

Benford: the first-significant-digit frequency profile against Benford
expectations — the classic fabricated-numbers screen. Expected
frequencies are 9 LITERAL constants (no log at query time); deviations
are per-digit rows, so no cross-row float accumulation exists at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dawis_spark.functions.folds import left_sum
from dawis_spark.operators.stats import (
    total_lit,
    two_sample_counts,
    two_sample_tagged,
    value_cum_walk,
)

# log10(1 + 1/d) for d = 1..9, rounded to 9 digits — literals, not
# computed at query time (ln/log are not cross-engine bit-stable).
BENFORD_P = {
    1: 0.301029996,
    2: 0.176091259,
    3: 0.124938737,
    4: 0.096910013,
    5: 0.079181246,
    6: 0.066946790,
    7: 0.057991947,
    8: 0.051152522,
    9: 0.045757491,
}


def ks_two_sample(
    df: DataFrame, value_cents: str, side_col: str, side_a: str, side_b: str
) -> DataFrame:
    """One-row result: (n_a, n_b, ks, ks_at) — the exact two-sample KS
    statistic between the ``side_a`` and ``side_b`` populations of
    ``value_cents`` (an integer-snapped measure column) and the lowest
    value where the sup is attained."""
    per_v = two_sample_counts(
        two_sample_tagged(df, value_cents, side_col, side_a, side_b)
    )
    walked, n, (n_a, n_b) = value_cum_walk(per_v, "v", ["na_v", "nb_v"])
    cum = walked.select(
        "v",
        F.col("cum_na_v").alias("ca"),
        F.col("cum_nb_v").alias("cb"),
        total_lit(n_a, n).alias("n_a"),
        total_lit(n_b, n).alias("n_b"),
    )
    scored = cum.select(
        "v",
        "n_a",
        "n_b",
        F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias(
            "num"
        ),
    )
    return (
        scored.orderBy(F.desc("num"), F.asc("v"))
        .limit(1)
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("num") / (F.col("n_a") * F.col("n_b")), 6).alias("ks"),
            F.round(F.col("v") / 100.0, 2).alias("ks_at"),
        )
    )


def ks_oracle_sql(
    table: str, value_cents_sql: str, side_col: str, side_a: str, side_b: str
) -> str:
    return f"""
WITH tagged AS (
  SELECT {value_cents_sql} AS v,
         CASE WHEN {side_col} = '{side_a}' THEN 1 ELSE 0 END AS ia,
         CASE WHEN {side_col} = '{side_b}' THEN 1 ELSE 0 END AS ib
  FROM {table}
  WHERE {side_col} IN ('{side_a}', '{side_b}')),
per_v AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS na_v, CAST(SUM(ib) AS BIGINT) AS nb_v
  FROM tagged GROUP BY v),
cum AS (
  SELECT v,
         SUM(na_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(na_v) OVER () AS n_a, SUM(nb_v) OVER () AS n_b
  FROM per_v),
scored AS (
  SELECT v, n_a, n_b, abs(ca * n_b - cb * n_a) AS num FROM cum)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(CAST(num AS DOUBLE) / (n_a * n_b), 6) AS ks,
       ROUND(v / 100.0, 2) AS ks_at
FROM scored ORDER BY num DESC, v ASC LIMIT 1
"""


def benford_profile(df: DataFrame, col: str) -> DataFrame:
    """(digit, n, observed, expected, deviation) for first significant
    digits 1..9 of ``col``. Per-digit rows only — no cross-row float
    accumulation; observed is exact-int/exact-int."""
    d = F.expr(
        f"cast(substring(cast(cast(round(abs({col}) * 100, 0) as bigint) as string), 1, 1) as int)"
    )
    base = (
        df.select(d.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    exp_expr = "CASE digit " + " ".join(
        f"WHEN {k} THEN cast({v!r} as double)" for k, v in BENFORD_P.items()
    ) + " END"
    tot = Window.partitionBy()
    return (
        base.withColumn("observed", F.round(F.col("n") / F.sum("n").over(tot), 6))
        .withColumn("expected", F.expr(exp_expr))
        .withColumn(
            "deviation", F.round(F.col("observed") - F.col("expected"), 6)
        )
        .orderBy("digit")
    )


def benford_oracle_sql(table: str, col: str) -> str:
    whens = " ".join(f"WHEN {k} THEN {v!r}" for k, v in BENFORD_P.items())
    return f"""
WITH base AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT CAST(substring(CAST(CAST(ROUND(abs({col}) * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
    FROM {table})
  WHERE digit >= 1 GROUP BY digit)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS observed,
       CASE digit {whens} END AS expected,
       ROUND(ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) - CASE digit {whens} END, 6) AS deviation
FROM base ORDER BY digit
"""


def psi_from_counts(ref_counts: list[int], cur_counts: list[int]) -> float:
    """PSI over aligned bin-count vectors with the standard 1e-6 floor
    on empty-side bins — the SAME formula the psi_value_drift oracle
    evaluates in SQL ((q - p) * ln(q / p) summed in bin order), shared
    by the batch query's semantics and the streaming monitor
    (streaming/drift.py) so batch equivalence is equality of one
    function applied to one pair of histograms."""
    import math

    n_ref = sum(ref_counts)
    n_cur = sum(cur_counts)
    pq = [
        (max(r / n_ref, 1e-6), max(c / n_cur, 1e-6))
        for r, c in zip(ref_counts, cur_counts)
    ]
    return left_sum((q - p) * math.log(q / p) for p, q in pq)


def bin_index(x: float, lo: float, hi: float, n_bins: int) -> int:
    """The batch query's bin rule: least(greatest(floor((x - lo) /
    (hi - lo) * n_bins), 0), n_bins - 1) — clamped equal-width bins on
    the REFERENCE extrema, shared by the streaming monitor.

    A degenerate reference histogram (hi == lo: a constant-valued
    reference window) is routed explicitly instead of raising
    ZeroDivisionError per row in the streaming monitor: x <= lo -> bin
    0, x > lo -> the top bin — exactly where the batch expression's
    float division lands them (-inf/NaN floor-casts clamp to 0, +inf
    clamps to n_bins - 1)."""
    import math

    if hi == lo:
        return 0 if x <= lo else n_bins - 1
    b = int(math.floor((x - lo) / (hi - lo) * n_bins))
    return min(max(b, 0), n_bins - 1)

"""Query inventory, part 5/6 (definition order preserved from the pre-split queries.py; see _registry.REGISTRY_ORDER).

Time-series panel (periodogram/matrix profile/trend tests), drift panel (EDF family), text readability, corpus diversity.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawis_spark.functions.folds import left_sum, ordered_sum
from dawis_spark.queries._fragments import (
    DAILY_REV_ORDERS_CTE,
    DAILY_TYPE_CENTS_SQL,
    daily_rev_orders,
    daily_type_cents,
)
from dawis_spark.queries._registry import query
from dawis_spark.queries.q01_spine_dedup_ann import (
    _TS,
    _TXT,
    _VEC,
    _kmeans_c1_ctes,
)
from dawis_spark.queries.q02_corpus_quality_classifiers import (
    _LOGREG_SAMPLE_LIMIT,
    _LOGREG_Y_SPARK,
    _PLATT_ITERS,
    _PLATT_LR,
    _journeys,
    _logreg_chain_ctes,
    _platt_chain_ctes,
    _trained_logreg_w,
    _trained_platt_ab,
)
from dawis_spark.queries.q03_graph_linkage_search import (
    _BOOT_A,
    _BOOT_B,
    _BOOT_C,
    _stats,
)
from dawis_spark.queries.q04_sketches_stats_forecast import (
    _BH_AZ,
    _BH_P,
    _BH_TT,
    _CROSTON_THR,
    _CUPED_CUTOFF,
    _NB_CTES,
    _OLS2_B0,
    _OLS2_B1,
    _OLS2_B2,
    _OLS2_SSE,
    _OLS2_STAT_CASTS,
    _croston_oracle,
)

@query("croston_intermittent_demand", oracle=_croston_oracle())
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast over the SPARSE daily
    series of high-value events (value >= 200) per event type: SES of
    the nonzero demand sizes and SES of the inter-arrival intervals,
    rate = size_hat / interval_hat. For series that are mostly zero
    (spare parts, rare conversions, incident counts) plain SES decays
    toward zero between demands and systematically under-forecasts;
    Croston's split estimator is the standard fix — this is the
    forecaster the holt/theta family hands over to when the series
    goes sparse.

    Exactness: both SES states are micro-scaled integers under the
    dyadic truncating recursion; day offsets are exact integer
    date-diffs from the global first event day; two final divisions
    (operators/forecast.py:croston).

    Scale: the demand relation is (key x demand-days) — SPARSER than
    the calendar; one hash exchange, O(points) per key, 1-row output
    per key."""
    from dawis_spark.operators.forecast import croston

    ev = spark.table("events")
    first_day = ev.agg(
        F.date_trunc("day", F.min(F.date_trunc("day", "ts"))).alias("d_first")
    )
    dm = (
        ev.filter(F.col("value") >= F.lit(_CROSTON_THR))
        .crossJoin(F.broadcast(first_day))
        .groupBy(
            "event_type",
            F.expr("datediff(date_trunc('day', ts), d_first)").alias("d0"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        croston(dm, "event_type", "d0", "c")
        .orderBy("event_type")
    )


_PGRAM_K = 14
_PGRAM_ORACLE = f"""
WITH daily AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev,
         ROW_NUMBER() OVER (ORDER BY o_orderdate) - 1 AS t,
         COUNT(*) OVER () AS n
  FROM orders GROUP BY o_orderdate),
grid AS (
  SELECT kk.k, d.rev, d.n,
         CAST(ROUND(cos(2 * pi() * kk.k * d.t / d.n) * 1000000) AS BIGINT) AS c6,
         CAST(ROUND(sin(2 * pi() * kk.k * d.t / d.n) * 1000000) AS BIGINT) AS s6
  FROM daily d CROSS JOIN range(1, {_PGRAM_K + 1}) kk(k)),
sums AS (
  SELECT k, CAST(MAX(n) AS BIGINT) AS n_days,
         SUM(CAST(rev AS HUGEINT) * c6) AS sc,
         SUM(CAST(rev AS HUGEINT) * s6) AS ss
  FROM grid GROUP BY 1)
SELECT CAST(k AS INT) AS k, n_days,
       ROUND(CAST(n_days AS DOUBLE) / k, 2) AS period_days,
       ROUND((CAST(sc AS DOUBLE) / 100000000.0 / n_days)
             * (CAST(sc AS DOUBLE) / 100000000.0 / n_days)
             + (CAST(ss AS DOUBLE) / 100000000.0 / n_days)
             * (CAST(ss AS DOUBLE) / 100000000.0 / n_days), 4) AS power
FROM sums ORDER BY k
"""


@query("periodogram_daily_revenue", oracle=_PGRAM_ORACLE)
def periodogram_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of daily revenue at integer
    frequencies k = 1..14: power_k = |n^-1 * sum_t x_t e^(-2pi i k
    t/n)|^2 in squared currency units — the frequency-domain
    complement to acf_daily_revenue (a weekly cycle shows as a ridge
    at period ~7, i.e. k ~ n/7) and the principled input to choosing
    holt_winters' season length m.

    Determinism: the trig basis is rounded to micro units per (t, k)
    cell BEFORE the sums, so both engines sum exact HUGEINT/DECIMAL38
    products (revenue cents x micro-cos) — summation order vanishes;
    the two squares and divisions are identical double chains.
    (Math.cos vs libm cos can differ by ~1 ulp, which only matters if
    a cell lands within 1e-10 of a .5 micro boundary — the standing
    round-6 transcendental discipline used by the perplexity family.)

    Scale: the daily series is calendar-bounded; the k-grid multiplies
    it by a CONSTANT 14 — one map-side expand + one 14-group exact
    aggregate; no shuffle wider than 14 rows."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "periodogram_daily_revenue",
        "day-spine",
        "t-index + n over the day-bounded daily series",
        n_windows=2,
    )
    daily = (
        spark.table("orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("bigint")
            .alias("rev")
        )
    )
    from pyspark.sql import Window as _W

    indexed = daily.select(
        "rev",
        (F.row_number().over(_W.orderBy("o_orderdate")) - 1).alias("t"),
        F.count(F.lit(1)).over(_W.partitionBy()).alias("n"),
    )
    grid = indexed.crossJoin(
        F.broadcast(
            spark.range(1, _PGRAM_K + 1).select(F.col("id").cast("int").alias("k"))
        )
    ).selectExpr(
        "k",
        "rev",
        "n",
        "CAST(ROUND(cos(2 * pi() * k * t / n) * 1000000) AS BIGINT) AS c6",
        "CAST(ROUND(sin(2 * pi() * k * t / n) * 1000000) AS BIGINT) AS s6",
    )
    sums = grid.groupBy("k").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("c6")).alias("sc"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("s6")).alias("ss"),
    )
    return sums.selectExpr(
        "CAST(k AS INT) AS k",
        "n_days",
        "ROUND(CAST(n_days AS DOUBLE) / k, 2) AS period_days",
        "ROUND((CAST(sc AS DOUBLE) / 100000000.0 / n_days)"
        " * (CAST(sc AS DOUBLE) / 100000000.0 / n_days)"
        " + (CAST(ss AS DOUBLE) / 100000000.0 / n_days)"
        " * (CAST(ss AS DOUBLE) / 100000000.0 / n_days), 4) AS power",
    ).orderBy("k")


_MP_M = 7  # subsequence length (one week)
_MP_TOPK = 5

_MP_ORACLE = f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1),
ix AS (
  SELECT d, rev, ROW_NUMBER() OVER (ORDER BY d) - 1 AS t FROM daily),
win AS (
  SELECT t, d, {', '.join(f'w{k}' for k in range(_MP_M))}
  FROM (SELECT t, d,
               {', '.join(f'LEAD(rev, {k}) OVER (ORDER BY t) AS w{k}'
                          for k in range(_MP_M))}
        FROM ix)
  WHERE w{_MP_M - 1} IS NOT NULL),
halfpairs AS (
  SELECT a.t AS ta, b.t AS tb,
         ({' + '.join(f'CAST(a.w{k} - b.w{k} AS HUGEINT) * (a.w{k} - b.w{k})'
                      for k in range(_MP_M))}) AS dist
  FROM win a JOIN win b ON b.t >= a.t + {_MP_M}),
dists AS (
  SELECT w.t, w.d, MIN(p.dist) AS mp
  FROM (SELECT ta AS t, dist FROM halfpairs
        UNION ALL SELECT tb AS t, dist FROM halfpairs) p
  JOIN win w ON w.t = p.t
  GROUP BY 1, 2),
discords AS (
  SELECT 'discord' AS kind,
         CAST(ROW_NUMBER() OVER (ORDER BY mp DESC, t) AS INT) AS rank,
         t, d, mp
  FROM dists ORDER BY mp DESC, t LIMIT {_MP_TOPK}),
motifs AS (
  SELECT 'motif' AS kind,
         CAST(ROW_NUMBER() OVER (ORDER BY mp ASC, t) AS INT) AS rank,
         t, d, mp
  FROM dists ORDER BY mp ASC, t LIMIT {_MP_TOPK})
SELECT kind, rank, CAST(t AS BIGINT) AS t, d AS day,
       CAST(mp AS DOUBLE) AS mp_dist
FROM (SELECT * FROM discords UNION ALL SELECT * FROM motifs)
ORDER BY kind, rank
"""


@query("matrix_profile_daily", oracle=_MP_ORACLE)
def matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of the daily revenue series with week-long (m=7)
    subsequences under exact integer Euclidean distance: per window,
    the squared distance to its NEAREST non-overlapping neighbor; the
    top-5 DISCORDS (largest profile — the week least like any other,
    the strongest anomaly primitive in the UCR lineage) and top-5
    MOTIFS (smallest — the most repeated weekly pattern). Complements
    the pointwise detectors (MAD/ESD/CUSUM flag single days; the
    matrix profile flags anomalous SHAPES).

    Exactness: distances are exact HUGEINT/DECIMAL38 sums of squared
    cent differences — min/rank over exact integers, no floats until
    the display cast.

    Scale: the all-pairs join is O(days^2) in the CALENDAR-bounded
    series (the kendall_tau adjudication: ~5.7M pairs for 2400 days,
    constant in row count at 100 TB); windows ride one ordered walk."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "matrix_profile_daily",
        "day-spine",
        "per-branch leads + top-k ranks over the day-bounded daily series (the O(days^2) BNLJ probe re-plans the spine per branch)",
        n_windows=22,
    )

    from pyspark.sql import Window as _W

    daily = daily_rev_orders(spark).select("d", "rev")
    ix = daily.select(
        "d", "rev", (F.row_number().over(_W.orderBy("d")) - 1).alias("t")
    )
    lead_w = _W.orderBy("t")
    win = ix.select(
        "t",
        "d",
        *[F.lead("rev", k).over(lead_w).alias(f"w{k}") for k in range(_MP_M)],
    ).filter(F.col(f"w{_MP_M - 1}").isNotNull())
    dist_expr = " + ".join(
        f"CAST(a.w{k} - b.w{k} AS DECIMAL(38,0)) * (a.w{k} - b.w{k})"
        for k in range(_MP_M)
    )
    # the ordered-walk output is ONE partition; spread the probe side so
    # the nested-loop pair scan parallelizes across cores (width follows
    # the session's parallelism, not a constant — r16 VERDICT item 4)
    a = win.repartition(
        spark.sparkContext.defaultParallelism, "t"
    ).alias("a")
    b = win.selectExpr(
        "t AS tb", *[f"w{k}" for k in range(_MP_M)]
    ).alias("b")
    halfpairs = a.join(F.broadcast(b), F.expr(f"b.tb >= a.t + {_MP_M}")).select(
        F.expr("a.t").alias("ta"),
        F.col("tb"),
        F.expr(dist_expr).alias("dist"),
    )
    # one explode instead of a 2-leg union: each half-pair contributes
    # to BOTH endpoints' profiles in a single evaluation of the O(days^2)
    # nested-loop probe (the union re-ran it twice) — identical rows
    both = halfpairs.select(
        F.explode(
            F.array(
                F.struct(F.col("ta").alias("t"), F.col("dist")),
                F.struct(F.col("tb").alias("t"), F.col("dist")),
            )
        ).alias("s")
    ).select("s.t", "s.dist")
    # persisted: the day-bounded profile feeds the discord AND motif
    # rankings
    dists = (
        both.groupBy("t")
        .agg(F.min("dist").alias("mp"))
        .join(win.select("t", "d"), "t")
        .persist()
    )
    discords = (
        dists.orderBy(F.desc("mp"), "t")
        .limit(_MP_TOPK)
        .select(
            F.lit("discord").alias("kind"),
            F.row_number()
            .over(_W.orderBy(F.desc("mp"), "t"))
            .cast("int")
            .alias("rank"),
            "t",
            "d",
            "mp",
        )
    )
    motifs = (
        dists.orderBy(F.asc("mp"), "t")
        .limit(_MP_TOPK)
        .select(
            F.lit("motif").alias("kind"),
            F.row_number()
            .over(_W.orderBy(F.asc("mp"), "t"))
            .cast("int")
            .alias("rank"),
            "t",
            "d",
            "mp",
        )
    )
    return (
        discords.unionByName(motifs)
        .selectExpr(
            "kind",
            "rank",
            "CAST(t AS BIGINT) AS t",
            "d AS day",
            "CAST(mp AS DOUBLE) AS mp_dist",
        )
        .orderBy("kind", "rank")
    )


def _mase_oracle() -> str:
    from dawis_spark.operators.forecast import (
        holt_oracle_ctes,
        theta_oracle_ctes,
    )

    return f"""
WITH RECURSIVE alldaily AS (
  {DAILY_TYPE_CENTS_SQL}),
cut AS (SELECT MAX(day) - INTERVAL 7 DAY AS cutoff FROM alldaily),
train AS (
  SELECT a.* FROM alldaily a CROSS JOIN cut WHERE a.day <= cutoff),
test AS (
  SELECT a.event_type, CAST(date_diff('day', cutoff, a.day) AS INT) AS h, a.v
  FROM alldaily a CROSS JOIN cut WHERE a.day > cutoff),
{holt_oracle_ctes('train', 'event_type', 'day', 'v', 7)},
{theta_oracle_ctes('train', 'event_type', 'day', 'v', 7)},
lastv AS (
  SELECT event_type, v AS lv
  FROM (SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day DESC) AS rn
        FROM train) WHERE rn = 1),
snv AS (
  SELECT event_type, CAST(8 - rn AS INT) AS h, v AS sv
  FROM (SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day DESC) AS rn
        FROM train) WHERE rn <= 7),
scale AS (
  SELECT event_type,
         CAST(SUM(abs(v - pv)) AS DOUBLE) / COUNT(*) AS sc
  FROM (SELECT event_type, v,
               LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS pv
        FROM train)
  WHERE pv IS NOT NULL GROUP BY 1),
fc AS (
  SELECT t.event_type, t.h, 'naive1' AS model,
         CAST(l.lv AS DOUBLE) AS f, t.v
  FROM test t JOIN lastv l USING (event_type)
  UNION ALL
  SELECT t.event_type, t.h, 'snaive7', CAST(s.sv AS DOUBLE), t.v
  FROM test t JOIN snv s ON s.event_type = t.event_type AND s.h = t.h
  UNION ALL
  SELECT t.event_type, t.h, 'holt', CAST(hl.forecast AS DOUBLE), t.v
  FROM test t JOIN holt hl ON hl.k = t.event_type AND hl.h = t.h
  UNION ALL
  SELECT t.event_type, t.h, 'theta', CAST(th.forecast AS DOUBLE), t.v
  FROM test t JOIN theta th ON th.k = t.event_type AND th.h = t.h),
mae AS (
  SELECT event_type, model,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         SUM(abs(f - v)) / COUNT(*) AS mae
  FROM fc GROUP BY 1, 2)
SELECT m.event_type, m.model, m.n_test,
       ROUND(m.mae, 4) AS mae_cents,
       ROUND(m.mae / s.sc, 6) AS mase
FROM mae m JOIN scale s USING (event_type)
ORDER BY m.event_type, m.model
"""


@query("forecast_model_mase", oracle=_mase_oracle())
def forecast_model_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-model leaderboard on a 7-day holdout: naive-1 (last
    value), seasonal-naive-7, Holt linear, and Theta(0,2) all forecast
    the final week of daily event totals per type; scored by MAE and
    MASE (MAE over the in-sample naive-1 MAE — Hyndman's scale-free
    skill score, < 1 = beats naive). The model-SELECTION readout the
    forecaster family was missing: holt_backtest_mae diagnoses one
    model across origins, this ranks the four models against each
    other on the same holdout.

    Exactness: all four forecasts are exact integers (the holt/theta
    shared trajectories; naive legs are selections); MAE sums |int -
    int| values exactly per (type, model) group before two divisions.

    Scale: one daily rollup; holt/theta run on calendar-bounded
    applyInPandas groups; naive legs are two window selections; all
    joins are |types| x 7 relations."""
    from dawis_spark.operators.forecast import holt_linear, theta_forecast
    from pyspark.sql import Window as _W

    alldaily = daily_type_cents(spark)
    cut = alldaily.agg(
        F.expr("MAX(day) - INTERVAL 7 DAY").alias("cutoff")
    )
    wcut = alldaily.crossJoin(F.broadcast(cut))
    train = wcut.filter(F.col("day") <= F.col("cutoff")).select(
        "event_type", "day", "v"
    )
    test = wcut.filter(F.col("day") > F.col("cutoff")).selectExpr(
        "event_type", "CAST(datediff(day, cutoff) AS INT) AS h", "v"
    )
    holt = holt_linear(train, "event_type", "day", "v", horizon=7).selectExpr(
        "event_type", "h", "CAST(forecast AS DOUBLE) AS f", "'holt' AS model"
    )
    theta = theta_forecast(
        train, "event_type", "day", "v", horizon=7
    ).selectExpr(
        "event_type", "h", "CAST(forecast AS DOUBLE) AS f", "'theta' AS model"
    )
    rn = _W.partitionBy("event_type").orderBy(F.desc("day"))
    ranked = train.select(
        "event_type", "v", F.row_number().over(rn).alias("rn")
    )
    naive1 = (
        ranked.filter(F.col("rn") == 1)
        .crossJoin(
            F.broadcast(spark.range(1, 8).selectExpr("CAST(id AS INT) AS h"))
        )
        .selectExpr(
            "event_type", "h", "CAST(v AS DOUBLE) AS f", "'naive1' AS model"
        )
    )
    snaive = ranked.filter(F.col("rn") <= 7).selectExpr(
        "event_type",
        "CAST(8 - rn AS INT) AS h",
        "CAST(v AS DOUBLE) AS f",
        "'snaive7' AS model",
    )
    fc = holt.unionByName(theta).unionByName(naive1).unionByName(snaive)
    lagw = _W.partitionBy("event_type").orderBy("day")
    scale = (
        train.select(
            "event_type", "v", F.lag("v").over(lagw).alias("pv")
        )
        .filter(F.col("pv").isNotNull())
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.abs(F.col("v") - F.col("pv"))).cast("double")
                / F.count(F.lit(1))
            ).alias("sc")
        )
    )
    mae = (
        fc.join(test, ["event_type", "h"])
        .groupBy("event_type", "model")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            (
                F.sum(F.abs(F.col("f") - F.col("v"))) / F.count(F.lit(1))
            ).alias("mae"),
        )
    )
    return (
        mae.join(F.broadcast(scale), "event_type")
        .selectExpr(
            "event_type",
            "model",
            "n_test",
            "ROUND(mae, 4) AS mae_cents",
            "ROUND(mae / sc, 6) AS mase",
        )
        .orderBy("event_type", "model")
    )


# Mann-Kendall statistics over (s BIGINT, var_s DOUBLE) columns —
# shared strings; z applies the standard continuity correction.
_MK_Z = (
    "(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(var_s)"
    " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(var_s)"
    " ELSE 0.0 END)"
)

_MK_ORACLE = f"""
WITH {{DAILY}},
pairs AS (
  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.d < b.d),
nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM daily),
ties AS (
  SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS HUGEINT), 0) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM daily GROUP BY rev)
  WHERE t > 1),
vs AS (
  SELECT s, CAST(n AS BIGINT) AS n_days,
         CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18 AS var_s
  FROM pairs CROSS JOIN nn CROSS JOIN ties),
zs AS (SELECT n_days, s, var_s, {_MK_Z} AS z FROM vs)
SELECT n_days, s AS s_stat, ROUND(var_s, 4) AS var_s,
       ROUND(z, 6) AS z_score, ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
"""


def _mk_oracle() -> str:
    return (
        _MK_ORACLE.replace("{DAILY}", DAILY_REV_ORDERS_CTE)
        .replace("{P}", _BH_P)
        .replace("{TT}", _BH_TT)
        .replace("{AZ}", _BH_AZ)
    )


@query("mann_kendall_daily_revenue", oracle=_mk_oracle())
def mann_kendall_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily revenue — the
    nonparametric significance companion to theil_sen_trends (which
    estimates the slope this test decides is real): S = sum of
    pairwise sign comparisons, tie-corrected variance
    [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18, continuity-corrected z, and
    the A&S normal p.

    Exactness: S and both variance terms are exact integers (the sign
    sum off a day-bounded pair join, the tie term off a value-keyed
    count); var pays one double cast, z/p are shared expression
    strings — identical engines.

    Scale: the O(days^2) pair join is calendar-bounded (the theil_sen
    adjudication), never row-scale; everything else is one row."""
    daily = daily_rev_orders(spark).select("d", "rev")
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    pairs = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tie_term")
        )
    )
    vs = (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "s",
            "CAST(n AS BIGINT) AS n_days",
            "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18 AS var_s",
        )
    )
    return (
        vs.selectExpr("n_days", "s", "var_s", f"{_MK_Z} AS z")
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_days",
            "s AS s_stat",
            "ROUND(var_s, 4) AS var_s",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


# Restricted (single-lag) OLS strings over the same sufficient-statistic
# column names the _OLS2_* strings use; b1r/b0r are staged columns.
_OLS1_B1 = "((n * s1y - s1 * sy) / (n * s11 - s1 * s1))"
_OLS1_B0 = "((sy - b1r * s1) / n)"
_OLS1_SSE = (
    "(syy - 2 * (b0r * sy + b1r * s1y)"
    " + (b0r * b0r * n + b1r * b1r * s11 + 2 * b0r * b1r * s1))"
)
_GRANGER_F = "(((sse_r - sse_u) * (n - 3)) / sse_u)"

_GRANGER_ORACLE = f"""
WITH {{DAILY}},
lagged AS (
  SELECT CAST(rev AS HUGEINT) AS y,
         CAST(LAG(rev) OVER (ORDER BY d) AS HUGEINT) AS y1,
         CAST(LAG(cnt) OVER (ORDER BY d) AS HUGEINT) AS x1
  FROM daily),
obs AS (SELECT y, y1, x1 FROM lagged WHERE y1 IS NOT NULL),
stats AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n0,
         SUM(y1) AS s1_i, SUM(x1) AS s2_i,
         SUM(y1*y1) AS s11_i, SUM(x1*x1) AS s22_i, SUM(y1*x1) AS s12_i,
         SUM(y) AS sy_i, SUM(y*y) AS syy_i,
         SUM(y1*y) AS s1y_i, SUM(x1*y) AS s2y_i
  FROM obs),
d AS (SELECT {{CASTS}} FROM stats),
coef AS (
  SELECT *, {{B0}} AS b0, {{B1}} AS b1, {{B2}} AS b2, {_OLS1_B1} AS b1r
  FROM d),
coef2 AS (SELECT *, {_OLS1_B0} AS b0r FROM coef),
sses AS (
  SELECT n, b1, b2, {{SSE_U}} AS sse_u, {_OLS1_SSE} AS sse_r FROM coef2),
fs AS (
  SELECT CAST(n AS BIGINT) AS n_obs,
         ROUND(b1, 6) AS coef_rev_lag1, ROUND(b2, 6) AS coef_orders_lag1,
         ROUND(sse_u, 4) AS sse_unrestricted, ROUND(sse_r, 4) AS sse_restricted,
         {_GRANGER_F} AS f, sqrt({_GRANGER_F}) AS z
  FROM sses)
SELECT n_obs, coef_rev_lag1, coef_orders_lag1, sse_unrestricted,
       sse_restricted, ROUND(f, 6) AS f_stat, ROUND({{P}}, 6) AS p_value
FROM (SELECT * , {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM fs))
"""


def _granger_oracle() -> str:
    return (
        _GRANGER_ORACLE.replace("{DAILY}", DAILY_REV_ORDERS_CTE)
        .replace("{CASTS}", _OLS2_STAT_CASTS)
        .replace("{B0}", _OLS2_B0)
        .replace("{B1}", _OLS2_B1)
        .replace("{B2}", _OLS2_B2)
        .replace("{SSE_U}", _OLS2_SSE)
        .replace("{P}", _BH_P)
        .replace("{TT}", _BH_TT)
        .replace("{AZ}", _BH_AZ)
    )


@query("granger_orders_to_revenue", oracle=_granger_oracle())
def granger_orders_to_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality screen (one lag): does yesterday's ORDER COUNT
    improve today's revenue prediction beyond yesterday's revenue?
    Compares the two-feature OLS y_t ~ y_{t-1} + x_{t-1} against the
    restricted y_t ~ y_{t-1}; F = (SSE_r - SSE_u)(n-3)/SSE_u with 1
    numerator dof, p via the F(1,df) = t^2 identity and the A&S
    normal approximation (df in the hundreds+ here — same
    approximation discipline as welch_ttest). The lead/lag companion
    to ccf_orders_vs_revenue that answers 'is the lead PREDICTIVE'.

    Exactness: the ten sufficient statistics are exact DECIMAL(38,0)
    integers off ONE aggregate of the lagged day-bounded series; both
    regressions' coefficients and SSEs reuse the ols_price_regression
    expression strings (_OLS2_*/_OLS1_*) over the same doubles —
    bit-identical engines.

    Scale: the lag window rides the calendar-bounded daily series
    (whitelisted class); everything after is one 10-number row."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "granger_orders_to_revenue",
        "day-spine",
        "lag over the day-bounded daily series",
        n_windows=1,
    )
    from pyspark.sql import Window

    daily = daily_rev_orders(spark)
    w = Window.orderBy("d")
    dd = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    obs = (
        daily.select(
            F.col("rev").alias("y0"),
            F.lag("rev").over(w).alias("y1_0"),
            F.lag("cnt").over(w).alias("x1_0"),
        )
        .filter(F.col("y1_0").isNotNull())
        .select(
            dd("y0").alias("y"), dd("y1_0").alias("y1"), dd("x1_0").alias("x1")
        )
    )
    stats = obs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n0"),
        F.sum("y1").alias("s1_i"),
        F.sum("x1").alias("s2_i"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11_i"),
        F.sum(F.col("x1") * F.col("x1")).alias("s22_i"),
        F.sum(F.col("y1") * F.col("x1")).alias("s12_i"),
        F.sum("y").alias("sy_i"),
        F.sum(F.col("y") * F.col("y")).alias("syy_i"),
        F.sum(F.col("y1") * F.col("y")).alias("s1y_i"),
        F.sum(F.col("x1") * F.col("y")).alias("s2y_i"),
    )
    d = stats.selectExpr(*_OLS2_STAT_CASTS.split(", "))
    coef = d.select(
        "*",
        F.expr(_OLS2_B0).alias("b0"),
        F.expr(_OLS2_B1).alias("b1"),
        F.expr(_OLS2_B2).alias("b2"),
        F.expr(_OLS1_B1).alias("b1r"),
    ).withColumn("b0r", F.expr(_OLS1_B0))
    sses = coef.select(
        "n",
        "b1",
        "b2",
        F.expr(_OLS2_SSE).alias("sse_u"),
        F.expr(_OLS1_SSE).alias("sse_r"),
    )
    fs = sses.selectExpr(
        "CAST(n AS BIGINT) AS n_obs",
        "ROUND(b1, 6) AS coef_rev_lag1",
        "ROUND(b2, 6) AS coef_orders_lag1",
        "ROUND(sse_u, 4) AS sse_unrestricted",
        "ROUND(sse_r, 4) AS sse_restricted",
        f"{_GRANGER_F} AS f",
        f"sqrt({_GRANGER_F}) AS z",
    )
    return (
        fs.selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_obs",
            "coef_rev_lag1",
            "coef_orders_lag1",
            "sse_unrestricted",
            "sse_restricted",
            "ROUND(f, 6) AS f_stat",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


# Single-feature log-log OLS over (n, sx, sy, sxx, sxy) doubles from
# ordered folds — Heaps' law V = k * N^beta linearized as
# ln V = ln k + beta ln N.
_HEAPS_BETA = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
_HEAPS_K = f"exp((sy - {_HEAPS_BETA} * sx) / n)"

_HEAPS_ORACLE = f"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
toks AS (
  SELECT CAST(doc_id * 10 // (m + 1) AS INT) AS b, t FROM (
    SELECT doc_id, m, unnest(string_split(lower(text), ' ')) AS t
    FROM documents CROSS JOIN mx)
  WHERE t <> ''),
per_bt AS (SELECT b, t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
tok_first AS (SELECT t, MIN(b) AS fb FROM per_bt GROUP BY 1),
bucket_new AS (
  SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS new_vocab
  FROM tok_first GROUP BY 1),
bucket_tok AS (SELECT b, CAST(SUM(c) AS BIGINT) AS n_tok FROM per_bt GROUP BY 1),
cum AS (
  SELECT a.b,
         CAST(SUM(bt.n_tok) AS BIGINT) AS cum_tokens,
         CAST(SUM(COALESCE(bn.new_vocab, 0)) AS BIGINT) AS cum_vocab
  FROM bucket_tok a
  JOIN bucket_tok bt ON bt.b <= a.b
  LEFT JOIN bucket_new bn ON bn.b = bt.b
  GROUP BY 1),
pts AS (
  SELECT b, cum_tokens, cum_vocab,
         ln(CAST(cum_tokens AS DOUBLE)) AS lx,
         ln(CAST(cum_vocab AS DOUBLE)) AS ly
  FROM cum),
fit AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(lx ORDER BY b)), (a, e) -> a + e) AS sx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(ly ORDER BY b)), (a, e) -> a + e) AS sy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(lx * lx ORDER BY b)), (a, e) -> a + e) AS sxx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(lx * ly ORDER BY b)), (a, e) -> a + e) AS sxy
  FROM pts)
SELECT b AS bucket, cum_tokens, cum_vocab,
       ROUND({_HEAPS_K}, 4) AS heaps_k,
       ROUND({_HEAPS_BETA}, 6) AS heaps_beta
FROM pts CROSS JOIN fit ORDER BY bucket
"""


@query("heaps_law_vocab_growth", oracle=_HEAPS_ORACLE)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) = k*N^beta over ten
    cumulative corpus prefixes (doc_id order) — the companion to
    zipf_exponent_fit (they are two views of the same heavy tail) and
    the capacity-planning curve a tokenizer/dedup pipeline consults
    ('how much NEW vocabulary will the next 10 TB bring').

    The cumulative-distinct trick: cumulative vocabulary at prefix b =
    count of tokens whose FIRST-occurrence bucket <= b — one min-bucket
    aggregate per token instead of a distinct-count per prefix, so the
    10 prefixes cost one pass.

    Exactness: prefix token/vocab counts are exact integers off
    bucket-bounded joins; the log-log OLS uses bucket-sorted ordered
    folds and shared expression strings for k/beta — identical engines.

    Scale: token relations are vocabulary-sized (the tokenizer-family
    discipline); the prefix self-join is 10x10; the fit folds 10
    doubles."""
    mx = spark.table("documents").agg(F.max("doc_id").alias("m"))
    toks = (
        spark.table("documents")
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("CAST(doc_id * 10 div (m + 1) AS INT)").alias("b"),
            F.explode(F.split(F.lower("text"), " ")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    per_bt = toks.groupBy("b", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tok_first = per_bt.groupBy("t").agg(F.min("b").alias("fb"))
    bucket_new = tok_first.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_vocab")
    )
    bucket_tok = per_bt.groupBy("b").agg(
        F.sum("c").cast("bigint").alias("n_tok")
    )
    a = bucket_tok.select(F.col("b").alias("ab"))
    cum = (
        a.join(F.broadcast(bucket_tok), F.col("b") <= F.col("ab"))
        .join(F.broadcast(bucket_new), "b", "left")
        .groupBy("ab")
        .agg(
            F.sum("n_tok").cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_vocab"), F.lit(0)))
            .cast("bigint")
            .alias("cum_vocab"),
        )
        .select(F.col("ab").alias("b"), "cum_tokens", "cum_vocab")
    )
    pts = cum.select(
        "b",
        "cum_tokens",
        "cum_vocab",
        F.log(F.col("cum_tokens").cast("double")).alias("lx"),
        F.log(F.col("cum_vocab").cast("double")).alias("ly"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.expr(ordered_sum("lx", "b")).alias("sx"),
        F.expr(ordered_sum("ly", "b")).alias("sy"),
        F.expr(ordered_sum("lx * lx", "b")).alias("sxx"),
        F.expr(ordered_sum("lx * ly", "b")).alias("sxy"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .selectExpr(
            "b AS bucket",
            "cum_tokens",
            "cum_vocab",
            f"ROUND({_HEAPS_K}, 4) AS heaps_k",
            f"ROUND({_HEAPS_BETA}, 6) AS heaps_beta",
        )
        .orderBy("bucket")
    )


# Simplified silhouette per point over (a, b) distance columns — the
# centroid-distance variant (a = distance to own centroid, b = nearest
# OTHER centroid), shared string.
_SIL_S = "(CASE WHEN greatest(a, b) <= 0 THEN 0.0 ELSE (b - a) / greatest(a, b) END)"


def _silhouette_oracle(k: int, dim: int) -> str:
    cos = _VEC.cosine_null("v.vec", "fc.cvec", "duck")
    return f"""
WITH {_kmeans_c1_ctes(k, dim)},
scored AS (
  SELECT v.vec_id, fc.cid,
         coalesce(round({cos}, 6), -2.0) AS cos6
  FROM v CROSS JOIN c1 fc),
own AS (
  SELECT vec_id, cid AS own_cid, 1 - cos6 AS a FROM (
    SELECT vec_id, cid, cos6,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos6 DESC, cid) AS rn
    FROM scored)
  WHERE rn = 1),
bs AS (
  SELECT s.vec_id, MIN(1 - s.cos6) AS b
  FROM scored s JOIN own o ON o.vec_id = s.vec_id AND s.cid <> o.own_cid
  GROUP BY 1),
sil AS (
  SELECT own.own_cid AS cid, {_SIL_S} AS s
  FROM own JOIN bs ON bs.vec_id = own.vec_id)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(AVG(s), 6) AS mean_silhouette
FROM sil GROUP BY 1 ORDER BY 1
"""


@query("kmeans_silhouette_simplified", oracle=_silhouette_oracle(8, 64))
def kmeans_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-distance) silhouette per k-means cluster —
    the cluster-quality readout kmeans_cohesion (within-SSE only)
    cannot give: s = (b - a)/max(a, b) with a = cosine distance to the
    own centroid and b = to the nearest OTHER centroid, so clusters
    that are tight but not separated score low. The O(n*k)
    centroid-distance form replaces the O(n^2) pairwise silhouette —
    the only variant that exists at corpus scale.

    Determinism: the same trained round-6 centroids as kmeans_clusters
    (oracle replays training); per-point cosines round to 6 before the
    argmax/min, so a/b/s are identical doubles; the per-cluster mean
    is the one order-dependent float reduce — error ~n*eps against the
    round-6 margin (the KDE adjudication; at 1e9-point clusters move
    the rounding to 4).

    Scale: one map-side k-fan-out against literal centroids, collapsed
    by vec_id then by cid — exchanges carry (point, 2 doubles) and the
    k-row result."""
    from dawis_spark.operators.similarity import _cent_literals, train_kmeans

    emb = spark.table("embeddings")
    cents = train_kmeans(emb, "vec_id", "embedding", k=8, iterations=1)
    cent_rows = sorted((int(c), [float(x) for x in vec]) for c, vec in cents)
    # ONE map-side pass (r15): the per-point affinity ARRAY against the
    # literal centroids yields own cluster, a and b in a single
    # projection — the old k-fan-out crossJoin + per-point window +
    # two id-keyed joins re-evaluated the scored relation twice and
    # shuffled by vec_id three times for values that are a pure
    # function of the point's own affinity vector. Identical doubles:
    # cosines round to 6 BEFORE the argmax exactly as before;
    # array_position takes the FIRST max (ties -> lowest cid, the old
    # window order); b = 1 - max over the other cids (1-x is monotone,
    # so min-distance == max-cosine).
    cent_lit, cid_lit = _cent_literals(cent_rows)
    k_c = len(cent_rows)
    cos = _VEC.cosine_null("vec", "c", "spark")
    affs = f"transform({cent_lit}, c -> coalesce(round({cos}, 6), cast(-2.0 as double)))"
    sil = (
        emb.select("vec_id", F.col("embedding").alias("vec"))
        .withColumn("__affs", F.expr(affs))
        .withColumn("__own", F.expr("cast(array_position(__affs, array_max(__affs)) as int)"))
        .selectExpr(
            f"element_at({cid_lit}, __own) AS cid",
            "cast(1 as double) - array_max(__affs) AS a",
            "cast(1 as double) - array_max(concat(slice(__affs, 1, __own - 1), "
            f"slice(__affs, __own + 1, {k_c}))) AS b",
        )
        .selectExpr("cid", f"{_SIL_S} AS s")
    )
    return (
        sil.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
        .orderBy("cid")
    )


# Dispersion statistics over per-group (n, s, q) exact integers:
# D = var/mean = (n*q - s^2) / ((n-1) * n * mean) ... written against the
# one-cast doubles (n, s, nv) with nv = n*q - s^2.
_OD_MEAN = "(s / n)"
_OD_VAR = "(nv / (n * (n - 1)))"
_OD_D = f"({_OD_VAR} / {_OD_MEAN})"
_OD_CHI2 = f"((n - 1) * {_OD_D})"
_OD_Z = f"(({_OD_CHI2} - (n - 1)) / sqrt(2 * (n - 1)))"

_OD_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
per AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n_i,
         SUM(CAST(c AS HUGEINT)) AS s_i,
         SUM(CAST(c AS HUGEINT) * c) AS q_i
  FROM daily GROUP BY 1),
d AS (
  SELECT event_type, CAST(n_i AS DOUBLE) AS n, CAST(s_i AS DOUBLE) AS s,
         CAST(n_i * q_i - s_i * s_i AS DOUBLE) AS nv
  FROM per),
zs AS (
  SELECT event_type, CAST(n AS BIGINT) AS n_days,
         ROUND({_OD_MEAN}, 4) AS mean_daily, ROUND({_OD_VAR}, 4) AS var_daily,
         ROUND({_OD_D}, 6) AS dispersion, {_OD_Z} AS z
  FROM d)
SELECT event_type, n_days, mean_daily, var_daily, dispersion,
       ROUND(z, 6) AS z_score, ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
ORDER BY event_type
"""


def _od_oracle() -> str:
    return (
        _OD_ORACLE.replace("{P}", _BH_P)
        .replace("{TT}", _BH_TT)
        .replace("{AZ}", _BH_AZ)
    )


@query("overdispersion_event_counts", oracle=_od_oracle())
def overdispersion_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion screen on daily event counts per type:
    dispersion index D = var/mean, the chi-square dispersion statistic
    (n-1)*D, and its normal-approximation p — the 'is a Poisson model
    even admissible' gate before rate-based alerting (a bursty type
    with D >> 1 needs negative-binomial thresholds, which is exactly
    what anomaly_mad_daily's robust bands approximate).

    Exactness: daily counts and the (n, s, q) sufficient statistics
    are exact integers; D/chi2/z/p are shared expression strings over
    one-time double casts — identical engines.

    Scale: one keyed day-rollup (the exchange carries daily counts),
    then a type-keyed aggregate to |types| rows."""
    daily = (
        spark.table("events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    dd = F.col("c").cast("decimal(38,0)")
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_i"),
        F.sum(dd).alias("s_i"),
        F.sum(dd * dd).alias("q_i"),
    )
    d = per.selectExpr(
        "event_type",
        "CAST(n_i AS DOUBLE) AS n",
        "CAST(s_i AS DOUBLE) AS s",
        "CAST(n_i * q_i - s_i * s_i AS DOUBLE) AS nv",
    )
    return (
        d.selectExpr(
            "event_type",
            "CAST(n AS BIGINT) AS n_days",
            f"ROUND({_OD_MEAN}, 4) AS mean_daily",
            f"ROUND({_OD_VAR}, 4) AS var_daily",
            f"ROUND({_OD_D}, 6) AS dispersion",
            f"{_OD_Z} AS z",
        )
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "event_type",
            "n_days",
            "mean_daily",
            "var_daily",
            "dispersion",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
        .orderBy("event_type")
    )


# Order-statistic ranks for the distribution-free median CI (normal
# approximation to Binomial(n, 1/2), z = 1.959964): shared strings over
# the one-row n.
_MCI_LO = "CAST(floor((n + 1) / 2.0 - 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2) AS BIGINT)"
_MCI_MED = "CAST(floor((n + 1) / 2.0) AS BIGINT)"
_MCI_HI = "CAST(ceil((n + 1) / 2.0 + 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2) AS BIGINT)"

_MCI_ORACLE = f"""
WITH vals AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1),
nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
ranks AS (
  SELECT 'lo' AS which, {_MCI_LO} AS r FROM nn
  UNION ALL SELECT 'median', {_MCI_MED} FROM nn
  UNION ALL SELECT 'hi', {_MCI_HI} FROM nn),
cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vals),
sel AS (
  SELECT which, r, MIN(v) AS val
  FROM ranks JOIN cum ON cum.cum >= ranks.r
  GROUP BY 1, 2)
SELECT (SELECT n FROM nn) AS n_orders,
       MAX(CASE WHEN which = 'median' THEN val END) AS median_cents,
       MAX(CASE WHEN which = 'lo' THEN val END) AS ci_lo_cents,
       MAX(CASE WHEN which = 'hi' THEN val END) AS ci_hi_cents,
       MAX(CASE WHEN which = 'lo' THEN r END) AS rank_lo,
       MAX(CASE WHEN which = 'hi' THEN r END) AS rank_hi
FROM sel
"""


@query("median_ci_order_value", oracle=_MCI_ORACLE)
def median_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN order
    value by binomial order statistics: the CI endpoints are the
    sample values at ranks (n+1)/2 -/+ 1.96*sqrt(n)/2 — exact-rank
    selection, no resampling, so it costs one value rollup instead of
    bootstrap_ci_order_value's B replicates (its cross-check: the two
    intervals should agree).

    Exactness: rank targets come from one shared sqrt expression over
    the exact count; selection walks exact-integer cumulative counts
    over the distinct-value relation — no other float paths.

    Scale: the value rollup is distinct-cents-bounded (the
    weighted_median adjudication); the cumulative window runs over
    that value relation, not rows, and the rank probe is a 3-row
    broadcast join."""
    vals = (
        spark.table("orders")
        .groupBy(
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    walk, n_v, (n,) = _stats.value_cum_walk(vals, "v", ["c"])
    nn = _stats.total_lit(n, n_v)
    ranks = spark.range(1).select(nn.alias("n")).selectExpr(
        f"stack(3, 'lo', {_MCI_LO}, 'median', {_MCI_MED}, 'hi', {_MCI_HI})"
        " AS (which, r)"
    )
    cum = walk.select("v", F.col("cum_c").alias("cum"))
    sel = (
        F.broadcast(ranks)
        .join(cum, F.col("cum") >= F.col("r"))
        .groupBy("which", "r")
        .agg(F.min("v").alias("val"))
    )
    return sel.agg(
        nn.alias("n_orders"),
        F.max(F.when(F.col("which") == "median", F.col("val"))).alias(
            "median_cents"
        ),
        F.max(F.when(F.col("which") == "lo", F.col("val"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("which") == "hi", F.col("val"))).alias("ci_hi_cents"),
        F.max(F.when(F.col("which") == "lo", F.col("r"))).alias("rank_lo"),
        F.max(F.when(F.col("which") == "hi", F.col("r"))).alias("rank_hi"),
    )


# Two-sample mean difference over the one-row conditional sums (all
# doubles cast once from exact ints) — shared by the observed statistic
# and every permutation replicate.
_PERM_DIFF = "(s1 / n1 - s2 / n2)"

_PERM_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderstatus AS g
  FROM orders WHERE o_orderstatus IN ('F', 'O')),
obs AS (
  SELECT CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(SUM(CASE WHEN g = 'F' THEN cents ELSE 0 END) AS DOUBLE) AS s1,
         CAST(SUM(CASE WHEN g = 'O' THEN cents ELSE 0 END) AS DOUBLE) AS s2
  FROM base),
expanded AS (
  SELECT t.b AS b,
         CASE WHEN ((((o_orderkey * {{B}} + t.b) % {{MOD}}) * {{A}} + {{C}}) % {{MOD}}) < {{HALF}} THEN 0 ELSE 1 END AS pg,
         cents
  FROM base, range(0, {{B}}) t(b)),
reps AS (
  SELECT b,
         CAST(SUM(CASE WHEN pg = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(SUM(CASE WHEN pg = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(SUM(CASE WHEN pg = 0 THEN cents ELSE 0 END) AS DOUBLE) AS s1,
         CAST(SUM(CASE WHEN pg = 1 THEN cents ELSE 0 END) AS DOUBLE) AS s2
  FROM expanded GROUP BY b),
extreme AS (
  SELECT CAST(SUM(CASE WHEN abs({_PERM_DIFF})
                       >= abs((SELECT {_PERM_DIFF} FROM obs))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM reps)
SELECT CAST(n1 AS BIGINT) AS n_f, CAST(n2 AS BIGINT) AS n_o,
       ROUND({_PERM_DIFF}, 4) AS observed_diff_cents,
       CAST({{B}} AS INT) AS n_replicates, n_extreme,
       ROUND(CAST(n_extreme + 1 AS DOUBLE) / ({{B}} + 1), 6) AS p_value
FROM obs CROSS JOIN extreme
"""


def _perm_oracle() -> str:
    return (
        _PERM_ORACLE.replace("{B}", str(_BOOT_B))
        .replace("{MOD}", str(_TXT.MOD))
        .replace("{HALF}", str(_TXT.MOD // 2))
        .replace("{A}", str(_BOOT_A))
        .replace("{C}", str(_BOOT_C))
    )


@query("permutation_test_order_value", oracle=_perm_oracle())
def permutation_test_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation (random-relabeling) test for the F-vs-O order-value
    mean difference — the resampling cross-check of
    welch_ttest_order_value that needs NO normality or variance
    assumptions: 64 deterministic hash relabelings (the Poisson-
    bootstrap LCG discipline, reduced-before-multiplied so keys never
    wrap), p = (#replicates at least as extreme + 1)/(B + 1).

    Exactness: every replicate's group sums are exact integers off one
    map-side x64 fanout; the mean-difference string (_PERM_DIFF) is
    shared, so the >= comparisons run over identical doubles.

    Scale: fixed x64 fanout into a 64-group partial aggregate — the
    shuffle carries 128 rows per partition regardless of data size
    (the bootstrap_ci shape)."""
    base = (
        spark.table("orders")
        .filter(F.col("o_orderstatus").isin(["F", "O"]))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
            F.col("o_orderstatus").alias("g"),
        )
    )
    obs = base.agg(
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(F.col("g") == "F", F.col("cents")).otherwise(0))
        .cast("double")
        .alias("s1"),
        F.sum(F.when(F.col("g") == "O", F.col("cents")).otherwise(0))
        .cast("double")
        .alias("s2"),
    )
    # NB: the LCG's LOW BIT is parity(o_orderkey*64 + b) — per replicate
    # that is constant, which would empty one group in every replicate
    # (% 2 keeps none of the multiplier's mixing). Split the full-range
    # mixed value against MOD/2 instead.
    pg = (
        f"CASE WHEN ((((o_orderkey * {_BOOT_B} + b) % {_TXT.MOD})"
        f" * {_BOOT_A} + {_BOOT_C}) % {_TXT.MOD}) < {_TXT.MOD // 2}"
        " THEN 0 ELSE 1 END"
    )
    expanded = base.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).selectExpr("b", f"{pg} AS pg", "cents")
    reps = expanded.groupBy("b").agg(
        F.sum(F.when(F.col("pg") == 0, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(F.col("pg") == 1, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(F.col("pg") == 0, F.col("cents")).otherwise(0))
        .cast("double")
        .alias("s1"),
        F.sum(F.when(F.col("pg") == 1, F.col("cents")).otherwise(0))
        .cast("double")
        .alias("s2"),
    )
    obs_d = obs.selectExpr(
        "n1 AS on1", "n2 AS on2", f"{_PERM_DIFF} AS obs_diff"
    )
    extreme = (
        reps.crossJoin(F.broadcast(obs_d))
        .agg(
            F.sum(
                F.expr(f"CASE WHEN abs({_PERM_DIFF}) >= abs(obs_diff)"
                       " THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_extreme")
        )
    )
    return (
        obs_d.crossJoin(F.broadcast(extreme))
        .selectExpr(
            "CAST(on1 AS BIGINT) AS n_f",
            "CAST(on2 AS BIGINT) AS n_o",
            "ROUND(obs_diff, 4) AS observed_diff_cents",
            f"CAST({_BOOT_B} AS INT) AS n_replicates",
            "n_extreme",
            f"ROUND(CAST(n_extreme + 1 AS DOUBLE) / ({_BOOT_B} + 1), 6)"
            " AS p_value",
        )
    )


_MSTAT_ITERS = 15


def _mstat_oracle() -> str:
    its = []
    prev = "sv0"
    for t in range(1, _MSTAT_ITERS + 1):
        its.append(
            f"""sw{t} AS MATERIALIZED (
  SELECT m.t AS s,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(m.p * v.v ORDER BY m.f)), (a, b) -> a + b) AS w
  FROM pm m JOIN {prev} v ON v.s = m.f GROUP BY m.t),
sn{t} AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list(w ORDER BY s)), (a, b) -> a + b) AS z
  FROM sw{t}),
sv{t} AS (SELECT s, w / z AS v FROM sw{t} CROSS JOIN sn{t})"""
        )
        prev = f"sv{t}"
    iter_ctes = ",\n".join(its)
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
cnt AS (
  SELECT event_type AS f, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
rowt AS (SELECT f, CAST(SUM(c) AS BIGINT) AS rt FROM cnt GROUP BY 1),
pm AS MATERIALIZED (
  SELECT cnt.f, cnt.t, CAST(c AS DOUBLE) / CAST(rt AS DOUBLE) AS p
  FROM cnt JOIN rowt USING (f)),
states AS MATERIALIZED (SELECT DISTINCT f AS s FROM pm),
k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS kk FROM states),
sv0 AS (SELECT s, 1.0 / kk AS v FROM states CROSS JOIN k),
{iter_ctes}
SELECT s AS event_type, ROUND(v, 6) AS stationary_prob
FROM sv{_MSTAT_ITERS} ORDER BY event_type
"""


@query("markov_stationary_distribution", oracle=_mstat_oracle())
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — where
    the event_transitions matrix says user attention settles in the
    long run (the equilibrium complement to markov_next_event_accuracy's
    one-step prediction), by 15 power iterations v <- P^T v with
    per-iteration renormalization.

    Exactness: transition probabilities are one identical double
    division of exact counts, made in Spark; every matvec and the
    normalizer are left folds from 0.0 (``folds.left_sum``, by
    from-state within target, by state across), the order of the
    oracle's unrolled ``list_reduce`` CTEs, so the driver and the
    oracle walk the same float sequence — the PCA power-iteration
    discipline applied to a |types| x |types| stochastic matrix. The
    6-digit rounding stays a Spark projection (HALF_UP).

    Scale: the per-user sequence window and the (from, to) count
    aggregate are the only row-scale stages (same shape as
    event_transitions; the whale guard applies upstream when key mass
    demands it). The |types|^2 transition matrix is collected once and
    the iterations run on the driver."""
    import pandas as pd
    from pyspark.sql import Window

    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = spark.table("events").select(
        "event_type", F.lead("event_type").over(by_user).alias("nxt")
    )
    cnt = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("f"), F.col("nxt").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rowt = cnt.groupBy("f").agg(F.sum("c").cast("bigint").alias("rt"))
    pm = cnt.join(F.broadcast(rowt), "f").select(
        "f",
        "t",
        (F.col("c").cast("double") / F.col("rt").cast("double")).alias("p"),
    )
    rows = pm.collect()
    into: dict = {}
    for r in rows:
        into.setdefault(r["t"], []).append((r["f"], r["p"]))
    states = {r["f"] for r in rows}
    v = {s: 1.0 / float(len(states)) for s in states}
    # the oracle's inner joins: a from-state missing from v contributes
    # nothing, and the next v holds only the targets reached
    for _ in range(_MSTAT_ITERS):
        w = {}
        for t, col in into.items():
            terms = sorted((f, p) for f, p in col if f in v)
            if terms:
                w[t] = left_sum(p * v[f] for f, p in terms)
        z = left_sum(x for _, x in sorted(w.items()))
        v = {s: x / z for s, x in w.items()}
    # a pandas frame goes through Arrow into one partition (see
    # pca_top_component)
    return (
        spark.createDataFrame(
            pd.DataFrame(list(v.items()), columns=["s", "v"]), "s string, v double"
        )
        .select(
            F.col("s").alias("event_type"),
            F.round("v", 6).alias("stationary_prob"),
        )
        .orderBy("event_type")
    )


# Delete-one-group jackknife over (g, r_i doubles): SE from the
# group-sorted folds of pseudo-value moments.
_JK_SE = "sqrt((g - 1) / g * (sr2 - sr * sr / g))"

_JK_ORACLE = f"""
WITH per_nation AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k1
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS nn, CAST(SUM(k1) AS BIGINT) AS kk
  FROM per_nation),
pseudo AS (
  SELECT n_name,
         CAST(kk - k1 AS DOUBLE) / CAST(nn - n1 AS DOUBLE) AS r_i
  FROM per_nation CROSS JOIN tot),
folds AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS g,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(r_i ORDER BY n_name)), (a, b) -> a + b) AS sr,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(r_i * r_i ORDER BY n_name)), (a, b) -> a + b) AS sr2
  FROM pseudo)
SELECT CAST(g AS INT) AS n_groups,
       ROUND(CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS urgent_ratio,
       ROUND(sr / g, 6) AS jackknife_mean,
       ROUND({_JK_SE}, 6) AS jackknife_se
FROM folds CROSS JOIN tot
"""


@query("jackknife_urgent_ratio", oracle=_JK_ORACLE)
def jackknife_urgent_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the global
    urgent-order ratio, deleting one nation at a time — the
    cluster-robust uncertainty a plain binomial SE understates when
    observations are correlated within groups (the companion caveat to
    proportion_ztest's i.i.d. assumption, and the cheap-deterministic
    alternative to the bootstrap for ratio statistics).

    Exactness: all 25 leave-one-out ratios are one identical double
    division of exact integer complements (totals minus the group);
    the pseudo-value moments come from name-sorted ordered folds and
    the SE is a shared expression string.

    Scale: one fact-dim join to 25 nation rows; everything after is
    nation-bounded."""
    per_nation = (
        spark.table("orders")
        .join(
            F.broadcast(spark.table("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(spark.table("nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n1"),
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("int"))
            .cast("bigint")
            .alias("k1"),
        )
    )
    tot = per_nation.agg(
        F.sum("n1").cast("bigint").alias("nn"),
        F.sum("k1").cast("bigint").alias("kk"),
    )
    pseudo = per_nation.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "nn",
        "kk",
        (
            (F.col("kk") - F.col("k1")).cast("double")
            / (F.col("nn") - F.col("n1")).cast("double")
        ).alias("r_i"),
    )
    folds = pseudo.agg(
        F.count(F.lit(1)).cast("double").alias("g"),
        F.max("nn").alias("nn"),
        F.max("kk").alias("kk"),
        F.expr(ordered_sum("r_i", "n_name")).alias("sr"),
        F.expr(ordered_sum("r_i * r_i", "n_name")).alias("sr2"),
    )
    return folds.selectExpr(
        "CAST(g AS INT) AS n_groups",
        "ROUND(CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS urgent_ratio",
        "ROUND(sr / g, 6) AS jackknife_mean",
        f"ROUND({_JK_SE}, 6) AS jackknife_se",
    )


# Chao1 (bias-corrected) and Good-Turing unseen mass over the exact
# frequency-of-frequencies integers.
_CHAO1 = (
    "(CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1)"
    " / (2 * (CAST(f2 AS DOUBLE) + 1)))"
)

_CHAO1_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents),
ct AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks WHERE t <> '' GROUP BY 1),
fof AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM ct)
SELECT n_tokens, v_obs, f1, f2,
       ROUND({_CHAO1}, 4) AS chao1_estimate,
       ROUND(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS unseen_mass
FROM fof
"""


@query("chao1_vocab_estimate", oracle=_CHAO1_ORACLE)
def chao1_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate + Good-Turing unseen probability
    mass from the token frequency-of-frequencies — 'how much vocabulary
    does the corpus NOT show yet', the nonparametric cross-check of
    heaps_law_vocab_growth's extrapolation (and the classic smoothing
    mass the bigram LM family discounts by). Bias-corrected form
    V + f1(f1-1)/(2(f2+1)), defined even with no doubletons.

    Exactness: the frequency-of-frequencies relation is exact integers;
    the estimates pay one shared-string double expression each.

    Scale: one tokenization into a vocabulary-sized count relation,
    then a 4-number aggregate."""
    toks = (
        spark.table("documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    ct = toks.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    fof = ct.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_obs"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("bigint").alias("f2"),
    )
    return fof.selectExpr(
        "n_tokens",
        "v_obs",
        "f1",
        "f2",
        f"ROUND({_CHAO1}, 4) AS chao1_estimate",
        "ROUND(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS unseen_mass",
    )


# PSI terms over per-bin (p, q) doubles cast once from exact counts;
# empty-side bins take the standard 1e-6 floor (same constant both
# engines, so the branch is deterministic).
_PSI_P = "greatest(CAST(c_ref AS DOUBLE) / CAST(n_ref AS DOUBLE), 1e-6)"
_PSI_Q = "greatest(CAST(c_cur AS DOUBLE) / CAST(n_cur AS DOUBLE), 1e-6)"
_PSI_TERM = f"(({_PSI_Q} - {_PSI_P}) * ln({_PSI_Q} / {_PSI_P}))"

_PSI_ORACLE = f"""
WITH o AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderdate >= TIMESTAMP '{{CUT}}' THEN 1 ELSE 0 END AS cur
  FROM orders),
ext AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM o WHERE cur = 0),
binned AS (
  SELECT least(greatest(CAST(floor((x - mn) / (mx - mn) * 10) AS INT), 0), 9)
           AS b, cur
  FROM o CROSS JOIN ext),
cells AS (
  SELECT b,
         CAST(SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
  FROM binned GROUP BY 1),
tot AS (
  SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref, CAST(SUM(c_cur) AS BIGINT) AS n_cur
  FROM cells),
terms AS (
  SELECT b, c_ref, c_cur, n_ref, n_cur, {_PSI_TERM} AS term
  FROM cells CROSS JOIN tot)
SELECT b AS bin, c_ref, c_cur, ROUND(term, 6) AS psi_term,
       ROUND((SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(term ORDER BY b)), (a, e) -> a + e) FROM terms), 6)
         AS psi_total
FROM terms ORDER BY bin
"""


def _psi_oracle() -> str:
    return _PSI_ORACLE.replace("{CUT}", _CUPED_CUTOFF)


@query("psi_value_drift", oracle=_psi_oracle())
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution across
    the 1999 period boundary — THE model-monitoring drift number
    (PSI < 0.1 stable, > 0.25 retrain): reference-period deciles of the
    value range, (q - p) * ln(q / p) per bin, with the standard 1e-6
    floor for empty bins. The actionable-scalar companion to
    ks_price_drift (a p-value) and source_js_divergence (symmetric,
    source axis).

    Exactness: bin counts are exact integers off one scan (bin edges
    from the reference extrema, shared expression); each term pays
    identical double divisions + one ln; the total is a bin-sorted
    ordered fold.

    Scale: one scan into a 10-bin x 2-period cell relation; everything
    after is bin-bounded."""
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    o = spark.table("orders").select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderdate") >= cutoff).cast("int").alias("cur"),
    )
    ext = o.filter("cur = 0").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    binned = o.crossJoin(F.broadcast(ext)).selectExpr(
        "least(greatest(CAST(floor((x - mn) / (mx - mn) * 10) AS INT), 0), 9)"
        " AS b",
        "cur",
    )
    cells = binned.groupBy("b").agg(
        F.sum(F.when(F.col("cur") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_ref"),
        F.sum(F.when(F.col("cur") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_cur"),
    )
    tot = cells.agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    terms = cells.crossJoin(F.broadcast(tot)).selectExpr(
        "b", "c_ref", "c_cur", f"{_PSI_TERM} AS term"
    )
    total = terms.agg(
        F.expr(ordered_sum("term", "b")).alias("psi_total")
    )
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            F.col("b").alias("bin"),
            "c_ref",
            "c_cur",
            F.round("term", 6).alias("psi_term"),
            F.round("psi_total", 6).alias("psi_total"),
        )
        .orderBy("bin")
    )


# Cochran-Armitage trend z over the one-row folded statistics: with
# integer scores s_i, T = sum k_i*s_i, E[T] = K/N * sum n_i*s_i,
# Var = K(N-K)/(N(N-1)) * (sum n_i*s_i^2 - (sum n_i*s_i)^2 / N) — all
# exact integers until the final casts.
_CA_Z = (
    "((t - CAST(kk AS DOUBLE) / nn * s1)"
    " / sqrt(CAST(kk AS DOUBLE) * (nn - kk) / (nn * (nn - 1))"
    " * (s2 - s1 * s1 / nn)))"
)

_CA_ORACLE = f"""
WITH rows_ AS (
  SELECT CAST(ROUND(l_discount * 100, 0) AS HUGEINT) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem),
per AS (
  SELECT s, CAST(COUNT(*) AS HUGEINT) AS n_i,
         CAST(SUM(y) AS HUGEINT) AS k_i
  FROM rows_ GROUP BY 1),
folded AS (
  SELECT CAST(SUM(n_i) AS HUGEINT) AS nn_i, CAST(SUM(k_i) AS HUGEINT) AS kk_i,
         CAST(SUM(k_i * s) AS HUGEINT) AS t_i,
         CAST(SUM(n_i * s) AS HUGEINT) AS s1_i,
         CAST(SUM(n_i * s * s) AS HUGEINT) AS s2_i,
         CAST(COUNT(*) AS INT) AS n_levels
  FROM per),
d AS (
  SELECT n_levels, CAST(nn_i AS BIGINT) AS n_rows, kk_i AS kk,
         CAST(nn_i AS DOUBLE) AS nn, CAST(t_i AS DOUBLE) AS t,
         CAST(s1_i AS DOUBLE) AS s1, CAST(s2_i AS DOUBLE) AS s2
  FROM folded),
zs AS (SELECT n_levels, n_rows, {_CA_Z} AS z FROM d)
SELECT n_levels, n_rows, ROUND(z, 6) AS z_score,
       ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
"""


def _ca_oracle() -> str:
    return (
        _CA_ORACLE.replace("{P}", _BH_P)
        .replace("{TT}", _BH_TT)
        .replace("{AZ}", _BH_AZ)
    )


@query("cochran_armitage_trend", oracle=_ca_oracle())
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend-in-proportions test: does the return rate
    rise MONOTONICALLY with the discount level? The dose-response
    significance test that chi-square independence dilutes (chi2 sees
    any deviation; CA concentrates power on the ordered trend the
    discount levels actually carry) — the hypothesis companion to
    decision_stump_discount (which finds the best CUT) and
    isotonic_urgency_by_value (which fits the SHAPE).

    Exactness: T, its expectation, and the variance are exact HUGEINT/
    DECIMAL(38,0) sums over the 11 discount levels (integer scores =
    discount points); one double cast each, shared z/p strings.

    Scale: one value-keyed aggregate to 11 rows, then a one-row fold."""
    rows_ = spark.table("lineitem").select(
        F.expr("CAST(ROUND(l_discount * 100, 0) AS DECIMAL(38,0))").alias("s"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    per = rows_.groupBy("s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_i"),
        F.sum("y").cast("decimal(38,0)").alias("k_i"),
    )
    folded = per.agg(
        F.sum("n_i").alias("nn_i"),
        F.sum("k_i").alias("kk_i"),
        F.sum(F.col("k_i") * F.col("s")).alias("t_i"),
        F.sum(F.col("n_i") * F.col("s")).alias("s1_i"),
        F.sum(F.col("n_i") * F.col("s") * F.col("s")).alias("s2_i"),
        F.count(F.lit(1)).cast("int").alias("n_levels"),
    )
    d = folded.selectExpr(
        "n_levels",
        "CAST(nn_i AS BIGINT) AS n_rows",
        "kk_i AS kk",
        "CAST(nn_i AS DOUBLE) AS nn",
        "CAST(t_i AS DOUBLE) AS t",
        "CAST(s1_i AS DOUBLE) AS s1",
        "CAST(s2_i AS DOUBLE) AS s2",
    )
    return (
        d.selectExpr("n_levels", "n_rows", f"{_CA_Z} AS z")
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_levels",
            "n_rows",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


_MRE_ITERS = 25
_MRE_CHANNELS = ["click", "error", "signup", "view"]  # non-conversion types


def _mre_oracle() -> str:
    ch_list = ", ".join(f"('{c}')" for c in _MRE_CHANNELS)
    its = []
    prev = "mp0"
    for t in range(1, _MRE_ITERS + 1):
        its.append(
            f"""mp{t} AS MATERIALIZED (
  SELECT tv.v AS v, tv.frm AS s,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(tv.p * x.pv ORDER BY tv.tgt)), (a, b) -> a + b) AS pv
  FROM tv JOIN (
    SELECT v, s AS tgt, pv FROM {prev}
    UNION ALL SELECT v, 'CONV', CAST(1.0 AS DOUBLE) FROM variants
    UNION ALL SELECT v, 'DROP', CAST(0.0 AS DOUBLE) FROM variants
  ) x ON x.v = tv.v AND x.tgt = tv.tgt
  GROUP BY 1, 2)"""
        )
        prev = f"mp{t}"
    iter_ctes = ",\n".join(its)
    return f"""
WITH firstp AS (
  SELECT user_id, MIN(ROW(ts, event_id)) AS fp
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
kept AS (
  SELECT e.user_id, e.ts, e.event_id, e.event_type
  FROM events e LEFT JOIN firstp f USING (user_id)
  WHERE f.fp IS NULL OR ROW(e.ts, e.event_id) <= f.fp),
seq AS (
  SELECT user_id, event_type AS frm,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM kept),
trans AS (
  SELECT 'START' AS frm, frm AS tgt FROM seq WHERE rn = 1
  UNION ALL
  SELECT frm, CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END
  FROM seq WHERE frm <> 'purchase' AND nxt IS NOT NULL
  UNION ALL
  SELECT frm, 'DROP' FROM seq WHERE frm <> 'purchase' AND nxt IS NULL),
cnt AS (SELECT frm, tgt, CAST(COUNT(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2),
rowt AS (SELECT frm, CAST(SUM(c) AS BIGINT) AS rt FROM cnt GROUP BY 1),
pm AS (
  SELECT cnt.frm, cnt.tgt, CAST(c AS DOUBLE) / CAST(rt AS DOUBLE) AS p
  FROM cnt JOIN rowt USING (frm)),
variants AS (SELECT v FROM (VALUES ('base'), {ch_list}) t(v)),
tv AS MATERIALIZED (
  SELECT v, frm,
         CASE WHEN tgt = v THEN 'DROP' ELSE tgt END AS tgt,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(p ORDER BY tgt)), (a, b) -> a + b) AS p
  FROM pm CROSS JOIN variants
  WHERE frm <> v
  GROUP BY 1, 2, 3),
mp0 AS (SELECT DISTINCT v, frm AS s, CAST(0.0 AS DOUBLE) AS pv FROM tv),
{iter_ctes},
cvr AS (SELECT v, pv FROM mp{_MRE_ITERS} WHERE s = 'START'),
base AS (SELECT pv AS base_cvr FROM cvr WHERE v = 'base'),
re AS (
  SELECT v AS channel, 1 - pv / base_cvr AS removal_effect, base_cvr
  FROM cvr CROSS JOIN base WHERE v <> 'base'),
tot AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list(removal_effect ORDER BY channel)), (a, b) -> a + b) AS sre
  FROM re)
SELECT channel, ROUND(base_cvr, 6) AS base_cvr,
       ROUND(removal_effect, 6) AS removal_effect,
       ROUND(removal_effect / sre, 6) AS attribution_share
FROM re CROSS JOIN tot ORDER BY channel
"""


@query("markov_removal_attribution", oracle=_mre_oracle())
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect multi-touch attribution — the third member
    of the MTA trio (position_attribution: heuristic;
    shapley_channel_attribution: cooperative-game): absorb journeys at
    the first purchase, estimate P(conversion) from the journey Markov
    chain, re-estimate with each channel's inbound edges redirected to
    the DROP absorber and its outbound rows removed, and attribute by
    normalized removal effect 1 - P_minus_c/P_base.

    Mechanics: all five chains (base + four removals) are built TOGETHER
    — the transition matrix is crossed with a 5-row variant relation and
    modified map-side per variant; the 25 absorption iterations then run
    driver-side on the COLLECTED matrix (bounded model state, the
    kmeans-quantizer discipline — relational iterations over a 30-row
    relation are pure job overhead) with CONV=1/DROP=0 boundaries.

    Exactness: transition probabilities are identical double divisions
    of exact counts; the per-variant edge merge and every iteration
    matvec are ordered folds (by target within state) — the stationary-
    distribution discipline extended to absorbing chains.

    Scale: the per-user sequence window and the (frm, tgt) count
    aggregate are the only row-scale stages; everything after is
    (variants x states)-bounded. The 6-digit rounding is a Spark
    projection (HALF_UP) over a pandas frame (see pca_top_component)."""
    import pandas as pd
    from pyspark.sql import Window

    e = spark.table("events")
    firstp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("fp"))
    )
    kept = (
        e.join(firstp, "user_id", "left")
        .filter(
            F.col("fp").isNull()
            | (F.struct("ts", "event_id") <= F.col("fp"))
        )
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = kept.select(
        F.col("event_type").alias("frm"),
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    trans = (
        seq.filter("rn = 1").select(F.lit("START").alias("frm"), F.col("frm").alias("tgt"))
        .unionByName(
            seq.filter("frm <> 'purchase' AND nxt IS NOT NULL").select(
                "frm",
                F.when(F.col("nxt") == "purchase", "CONV")
                .otherwise(F.col("nxt"))
                .alias("tgt"),
            )
        )
        .unionByName(
            seq.filter("frm <> 'purchase' AND nxt IS NULL").select(
                "frm", F.lit("DROP").alias("tgt")
            )
        )
    )
    cnt = trans.groupBy("frm", "tgt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rowt = cnt.groupBy("frm").agg(F.sum("c").cast("bigint").alias("rt"))
    pm = cnt.join(F.broadcast(rowt), "frm").select(
        "frm",
        "tgt",
        (F.col("c").cast("double") / F.col("rt").cast("double")).alias("p"),
    )
    variants = spark.createDataFrame(
        [("base",)] + [(c,) for c in _MRE_CHANNELS], "v string"
    )
    tv = (
        pm.crossJoin(F.broadcast(variants))
        .filter(F.col("frm") != F.col("v"))
        .select(
            "v",
            "frm",
            F.when(F.col("tgt") == F.col("v"), "DROP")
            .otherwise(F.col("tgt"))
            .alias("tgt2"),
            "tgt",
            "p",
        )
        .groupBy("v", "frm", F.col("tgt2").alias("tgt"))
        .agg(
            F.expr(ordered_sum("p", "tgt")).alias("p")
        )
    )
    # Absorption iterations run DRIVER-SIDE on the collected matrix —
    # bounded model state (variants x states^2 <= ~150 doubles, the
    # kmeans-quantizer collect discipline): 25 relational iterations
    # over a 30-row relation cost ~25 shuffle jobs of pure overhead
    # (measured 21 s at sf0.01); the same folds in Python are
    # microseconds and BIT-IDENTICAL (sorted-by-target left folds =
    # the oracle's list_reduce ORDER BY tgt).
    rows = tv.collect()
    by_vs: dict = {}
    for r in rows:
        by_vs.setdefault((r["v"], r["frm"]), []).append((r["tgt"], r["p"]))
    pv = {k: 0.0 for k in by_vs}
    for _ in range(_MRE_ITERS):
        new_pv = {}
        for (v, s), edges in by_vs.items():
            new_pv[(v, s)] = left_sum(
                p
                * (
                    1.0
                    if tgt == "CONV"
                    else 0.0 if tgt == "DROP" else pv.get((v, tgt), 0.0)
                )
                for tgt, p in sorted(edges)
            )
        pv = new_pv
    base_cvr = pv[("base", "START")]
    res = []
    for c in _MRE_CHANNELS:
        res.append((c, 1.0 - pv[(c, "START")] / base_cvr))
    res.sort()
    sre = left_sum(re_c for _, re_c in res)
    pdf = pd.DataFrame(res, columns=["channel", "re"]).assign(
        base_cvr=base_cvr, sre=sre
    )
    return (
        spark.createDataFrame(
            pdf, "channel string, re double, base_cvr double, sre double"
        )
        .select(
            "channel",
            F.round("base_cvr", 6).alias("base_cvr"),
            F.round("re", 6).alias("removal_effect"),
            F.round(F.col("re") / F.col("sre"), 6).alias("attribution_share"),
        )
        .orderBy("channel")
    )


_CONF_YHAT = "(b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE))"
_CONF_R = f"CAST(ROUND(abs(CAST(y AS DOUBLE) - {_CONF_YHAT}), 0) AS BIGINT)"

_CONF_ORACLE = f"""
WITH obs AS (
  SELECT l_orderkey % 4 = 0 AS cal,
         CAST(l_quantity AS HUGEINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS HUGEINT) AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS HUGEINT) AS y
  FROM lineitem),
stats AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n0,
         SUM(x1) AS s1_i, SUM(x2) AS s2_i,
         SUM(x1*x1) AS s11_i, SUM(x2*x2) AS s22_i, SUM(x1*x2) AS s12_i,
         SUM(y) AS sy_i, SUM(y*y) AS syy_i,
         SUM(x1*y) AS s1y_i, SUM(x2*y) AS s2y_i
  FROM obs WHERE NOT cal),
d AS (SELECT {{CASTS}} FROM stats),
coef AS (SELECT n AS n_train, {{B0}} AS b0, {{B1}} AS b1, {{B2}} AS b2 FROM d),
resid AS (
  SELECT {_CONF_R} AS r_cents
  FROM obs CROSS JOIN coef WHERE cal),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM resid),
ranked AS (
  SELECT r_cents, ROW_NUMBER() OVER (ORDER BY r_cents) AS rk FROM resid),
q AS (
  SELECT r_cents AS q90_cents
  FROM ranked CROSS JOIN nn
  WHERE rk = (90 * (n_cal - 1)) // 100 + 1),
cov AS (
  SELECT CAST(SUM(CASE WHEN r_cents <= q90_cents THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in
  FROM resid CROSS JOIN q)
SELECT CAST(n_train AS BIGINT) AS n_train, n_cal,
       ROUND(b1, 6) AS cents_per_qty, ROUND(b2, 6) AS cents_per_disc_pt,
       q90_cents,
       ROUND(CAST(n_in AS DOUBLE) / CAST(n_cal AS DOUBLE), 6) AS coverage
FROM coef CROSS JOIN nn CROSS JOIN q CROSS JOIN cov
"""


def _conformal_oracle() -> str:
    return (
        _CONF_ORACLE.replace("{CASTS}", _OLS2_STAT_CASTS)
        .replace("{B0}", _OLS2_B0)
        .replace("{B1}", _OLS2_B1)
        .replace("{B2}", _OLS2_B2)
    )


@query("conformal_interval_price", oracle=_conformal_oracle())
def conformal_interval_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price regression:
    train the two-feature OLS on 3/4 of lineitem (hash split), take the
    nearest-rank 90th percentile of absolute calibration residuals as
    the interval half-width, and report the realized calibration
    coverage — the distribution-free 'how wrong can this model be'
    guarantee (~90% of future rows fall within +/- q90 under
    exchangeability) that the OLS point fit alone cannot give.

    Exactness: coefficients reuse the ols_price_regression strings
    (bit-identical doubles from exact-integer sufficient statistics);
    residuals quantize to cents BEFORE ranking, so the quantile
    selection and the coverage comparisons are pure integer work.

    Scale: two scans (train moments; calibration residuals) that each
    collapse map-side; the residual quantile uses the bucketed
    two-pass selection (rank_quantiles_select), never a single-task
    sort; coverage is one more map-side aggregate."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "conformal_interval_price",
        "bucket-counts",
        "rank_quantiles_select cumulative bucket counts (<= 1024 rows; constant group key constant-folded out of the spec)",
        n_windows=2,
    )

    from dawis_spark.operators.sketches import rank_quantiles_select

    obs = spark.table("lineitem").select(
        (F.col("l_orderkey") % 4 == 0).alias("cal"),
        F.col("l_quantity").cast("decimal(38,0)").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    train = obs.filter(~F.col("cal"))
    stats = train.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n0"),
        F.sum("x1").alias("s1_i"),
        F.sum("x2").alias("s2_i"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11_i"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22_i"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12_i"),
        F.sum("y").alias("sy_i"),
        F.sum(F.col("y") * F.col("y")).alias("syy_i"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y_i"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y_i"),
    )
    coef = stats.selectExpr(*_OLS2_STAT_CASTS.split(", ")).selectExpr(
        "n AS n_train",
        f"{_OLS2_B0} AS b0",
        f"{_OLS2_B1} AS b1",
        f"{_OLS2_B2} AS b2",
    )
    # persisted: the residual relation is consumed ~4x per action — the
    # selection operator's stats aggregate, its bucket counts, its
    # picked-bucket re-scan, and the coverage aggregate each re-evaluate
    # the calibration scan + the train-moments broadcast otherwise.
    # Calibration-row-scale (one int + three constant doubles per row),
    # the same budget class as the walk's bucketed persist.
    resid = (
        obs.filter("cal")
        .crossJoin(F.broadcast(coef))
        .selectExpr(f"{_CONF_R} AS r_cents", "n_train", "b1", "b2")
        .persist()
    )
    q = rank_quantiles_select(
        resid.select(F.lit(1).alias("k"), "r_cents"), ["k"], "r_cents", [90]
    ).select(F.col("value").alias("q90_cents"), F.col("n").alias("n_cal"))
    cov = (
        resid.crossJoin(F.broadcast(q))
        .agg(
            F.max("n_train").alias("n_train"),
            F.max("b1").alias("b1"),
            F.max("b2").alias("b2"),
            F.max("q90_cents").alias("q90_cents"),
            F.max("n_cal").alias("n_cal"),
            F.sum((F.col("r_cents") <= F.col("q90_cents")).cast("int"))
            .cast("bigint")
            .alias("n_in"),
        )
    )
    return cov.selectExpr(
        "CAST(n_train AS BIGINT) AS n_train",
        "CAST(n_cal AS BIGINT) AS n_cal",
        "ROUND(b1, 6) AS cents_per_qty",
        "ROUND(b2, 6) AS cents_per_disc_pt",
        "q90_cents",
        "ROUND(CAST(n_in AS DOUBLE) / CAST(n_cal AS DOUBLE), 6) AS coverage",
    )


def _ece_oracle(dim: int, iters: int, lr: float) -> str:
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
ntot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM bins),
gaps AS (
  SELECT b, CAST(n_b AS DOUBLE) / n * abs(mp - CAST(k_b AS DOUBLE) / n_b)
           AS wgap,
         abs(mp - CAST(k_b AS DOUBLE) / n_b) AS gap
  FROM bins CROSS JOIN ntot),
brier AS (SELECT AVG((p - y) * (p - y)) AS bs FROM scF)
SELECT (SELECT n FROM ntot) AS n_docs,
       ROUND(bs, 6) AS brier_score,
       ROUND((SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(wgap ORDER BY b)), (a, e) -> a + e) FROM gaps), 6)
         AS ece,
       ROUND((SELECT MAX(gap) FROM gaps), 6) AS mce
FROM brier
"""


@query("ece_classifier_calibration", oracle=_ece_oracle(64, 3, 1.0))
def ece_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar calibration metrics for the trained quality classifier —
    Brier score, Expected Calibration Error (decile-binned, count-
    weighted |confidence - accuracy|), and Maximum Calibration Error:
    the one-number summaries of what classifier_calibration_curve shows
    as a picture (ECE is what a retraining gate thresholds on).

    Determinism: scores replay the exact logreg trajectory and round to
    6 before binning (the calibration-curve discipline), so bins and
    per-bin gaps are identical; the ECE sum is a bucket-sorted ordered
    fold; Brier's AVG over per-row identical doubles differs only in
    summation order (~n*eps against the round-6 margin).

    Scale: training shared via _trained_logreg_w (bounded-sample,
    memoized — no retrain); one more scan collapsing to 10 bins plus a
    1-row Brier aggregate."""
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
    nn = bins.agg(F.sum("n_b").cast("bigint").alias("n"))
    gaps = bins.crossJoin(F.broadcast(nn)).selectExpr(
        "b",
        "CAST(n_b AS DOUBLE) / n * abs(mp - CAST(k_b AS DOUBLE) / n_b) AS wgap",
        "abs(mp - CAST(k_b AS DOUBLE) / n_b) AS gap",
        "n",
    )
    agg = gaps.agg(
        F.max("n").alias("n_docs"),
        F.expr(ordered_sum("wgap", "b")).alias("ece"),
        F.max("gap").alias("mce"),
    )
    brier = scored.agg(
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("bs")
    )
    return agg.crossJoin(F.broadcast(brier)).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round("bs", 6).alias("brier_score"),
        F.round("ece", 6).alias("ece"),
        F.round("mce", 6).alias("mce"),
    )


# decile-binned ECE legs over a named round-6 score column, shared by the
# before/after sides of the Platt query (the _ece_oracle shape)
_ECE_BINS = """
bins_{tag} AS (
  SELECT LEAST(CAST(FLOOR({score} * 10) AS INT), 9) AS b,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS k_b,
         AVG({score}) AS mp
  FROM {rel} GROUP BY 1),
ece_{tag} AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(n_b AS DOUBLE) / nt.n
                * abs(mp - CAST(k_b AS DOUBLE) / n_b) ORDER BY b)),
         (a, e) -> a + e) AS ece
  FROM bins_{tag}, (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM bins_{tag}) nt
  GROUP BY nt.n)
"""


def _platt_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
mt AS MATERIALIZED (
  SELECT round({dot}, 6) AS m, vt.y
  FROM vt, wlF),
{_platt_chain_ctes(_PLATT_ITERS, _PLATT_LR)},
mF AS MATERIALIZED (
  SELECT round({dot}, 6) AS m, CAST(v.y AS INT) AS y
  FROM v, wlF),
scored AS MATERIALIZED (
  SELECT y,
         round(1.0 / (1.0 + exp(-m)), 6) AS p_raw,
         round(1.0 / (1.0 + exp(-(round(pf.a * m + pf.b, 6)))), 6) AS p_cal
  FROM mF, p{_PLATT_ITERS} pf),
{_ECE_BINS.format(tag='raw', score='p_raw', rel='scored')},
{_ECE_BINS.format(tag='cal', score='p_cal', rel='scored')}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n_docs,
       (SELECT round(a, 6) FROM p{_PLATT_ITERS}) AS a_platt,
       (SELECT round(b, 6) FROM p{_PLATT_ITERS}) AS b_platt,
       ROUND((SELECT ece FROM ece_raw), 6) AS ece_before,
       ROUND((SELECT ece FROM ece_cal), 6) AS ece_after
"""


@query("platt_recalibrated_ece", oracle=_platt_oracle(64, 3, 1.0))
def platt_recalibrated_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt-scaling recalibration of the shared quality classifier:
    fit sigmoid(a*m + b) over the trained margins on the SAME bounded
    lowest-id sample the classifier trains on (3 GD rounds from
    (1, 0)), then report decile-binned ECE before vs after over the
    full corpus — the standard post-hoc calibration repair
    (ece_classifier_calibration MEASURES miscalibration; this query
    FIXES it and quantifies the gain, which is what a serving gate
    actually deploys).

    Exactness: margins replay the shared round-6 fold; the (a, b)
    trajectory is the logreg integer-micro gradient discipline in two
    dimensions (operators/logreg.py:platt_fit = the CTE chain
    _platt_chain_ctes, bit-equal); both scores round to 6 before
    binning; ECE sums are bin-ordered folds.

    Scale: both fits are memoized, bounded-sample, driver-side
    (constant cost at any corpus size); the full-corpus pass is ONE
    scan scoring two expressions and collapsing to 2 x 10 bins."""
    from dawis_spark.operators.logreg import margin_expr

    w = _trained_logreg_w(spark, sf_dir)
    a, b = _trained_platt_ab(spark, sf_dir)
    m = margin_expr("embedding", w)
    scored = spark.table("embeddings").selectExpr(
        f"cast({_LOGREG_Y_SPARK} as int) AS y",
        f"round(1.0 / (1.0 + exp(-({m}))), 6) AS p_raw",
        f"round(1.0 / (1.0 + exp(-(round({a!r} * ({m}) + {b!r}, 6)))), 6)"
        " AS p_cal",
    )

    def ece_of(col: str) -> DataFrame:
        bins = scored.selectExpr(
            f"LEAST(CAST(FLOOR({col} * 10) AS INT), 9) AS b",
            "y",
            f"{col} AS p",
        ).groupBy("b").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("y").cast("bigint").alias("k_b"),
            F.avg("p").alias("mp"),
        )
        nn = bins.agg(F.sum("n_b").cast("bigint").alias("n"))
        gaps = bins.crossJoin(F.broadcast(nn)).selectExpr(
            "b",
            "CAST(n_b AS DOUBLE) / n * abs(mp - CAST(k_b AS DOUBLE) / n_b)"
            " AS wgap",
            "n",
        )
        return gaps.agg(
            F.max("n").alias("n_docs"),
            F.expr(ordered_sum("wgap", "b")).alias("ece"),
        )

    before = ece_of("p_raw").selectExpr("n_docs", "ece AS ece_b")
    after = ece_of("p_cal").selectExpr("ece AS ece_a")
    return (
        before.crossJoin(F.broadcast(after))
        .selectExpr(
            "CAST(n_docs AS BIGINT) AS n_docs",
            f"ROUND({a!r}, 6) AS a_platt",
            f"ROUND({b!r}, 6) AS b_platt",
            "ROUND(ece_b, 6) AS ece_before",
            "ROUND(ece_a, 6) AS ece_after",
        )
    )


def _gains_oracle(dim: int, iters: int, lr: float) -> str:
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
         CAST(SUM(y) AS BIGINT) AS k_b
  FROM scF GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(k_b) AS BIGINT) AS k
  FROM bins),
cum AS (
  SELECT a.b, a.n_b, a.k_b,
         CAST(SUM(x.n_b) AS BIGINT) AS cum_n,
         CAST(SUM(x.k_b) AS BIGINT) AS cum_k
  FROM bins a JOIN bins x ON x.b >= a.b
  GROUP BY 1, 2, 3)
SELECT b AS score_decile, n_b, k_b,
       ROUND(CAST(cum_k AS DOUBLE) / k, 6) AS cum_capture,
       ROUND((CAST(cum_k AS DOUBLE) / k) / (CAST(cum_n AS DOUBLE) / n), 6)
         AS lift
FROM cum CROSS JOIN tot ORDER BY b DESC
"""


@query("gains_lift_deciles", oracle=_gains_oracle(64, 3, 1.0))
def gains_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table for the trained quality classifier:
    walking score bins from the most-confident down, what fraction of
    all positives is captured (gain) and at what multiple of random
    targeting (lift) — the 'how deep do I have to go' curve a triage or
    labeling-budget decision reads, complementing AUC (rank quality)
    and ECE (probability quality).

    Determinism: same round-6 scores and FLOOR bins as the calibration
    family; cumulative counts are exact integers off a 10x10
    bucket-bounded self-join — no ordered float folds needed.

    Scale: training shared via _trained_logreg_w (bounded-sample,
    memoized — no retrain); one scoring scan collapsing to 10 bins;
    everything after is bin-bounded."""
    from dawis_spark.operators.logreg import margin_expr

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-(round({margin_expr('embedding', w)}, 6)))), 6)"
    bins = (
        emb.selectExpr(f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p")
        .selectExpr("LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS b", "y")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("y").cast("bigint").alias("k_b"),
        )
    )
    tot = bins.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.sum("k_b").cast("bigint").alias("k"),
    )
    a = bins.select(
        F.col("b").alias("ab"),
        F.col("n_b").alias("a_n"),
        F.col("k_b").alias("a_k"),
    )
    cum = (
        a.join(F.broadcast(bins), F.col("b") >= F.col("ab"))
        .groupBy("ab", "a_n", "a_k")
        .agg(
            F.sum("n_b").cast("bigint").alias("cum_n"),
            F.sum("k_b").cast("bigint").alias("cum_k"),
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("ab").alias("score_decile"),
            F.col("a_n").alias("n_b"),
            F.col("a_k").alias("k_b"),
            F.round(F.col("cum_k").cast("double") / F.col("k"), 6).alias(
                "cum_capture"
            ),
            F.round(
                (F.col("cum_k").cast("double") / F.col("k"))
                / (F.col("cum_n").cast("double") / F.col("n")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("score_decile").desc())
    )


# Wald-Wolfowitz runs statistics over one-row exact integers (r = runs,
# n1 = ups, n2 = downs): mu = 2 n1 n2/(n1+n2) + 1,
# var = 2 n1 n2 (2 n1 n2 - n1 - n2) / ((n1+n2)^2 (n1+n2-1)).
_RUNS_MU = "(2.0 * n1 * n2 / (n1 + n2) + 1)"
_RUNS_VAR = (
    "(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
    " / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))"
)
_RUNS_Z = f"((r - {_RUNS_MU}) / sqrt({_RUNS_VAR}))"

_RUNS_ORACLE = f"""
WITH {{DAILY}},
moves AS (
  SELECT d, CASE WHEN rev > LAG(rev) OVER (ORDER BY d) THEN 1
                 WHEN rev < LAG(rev) OVER (ORDER BY d) THEN -1 END AS s
  FROM daily),
signs AS (
  SELECT d, s, LAG(s) OVER (ORDER BY d) AS prev
  FROM (SELECT d, s FROM moves WHERE s IS NOT NULL)),
agg AS (
  SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(SUM(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)
              AS DOUBLE) AS r
  FROM signs),
zs AS (
  SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
         CAST(r AS BIGINT) AS n_runs,
         ROUND({_RUNS_MU}, 4) AS expected_runs, {_RUNS_Z} AS z
  FROM agg)
SELECT n_up, n_down, n_runs, expected_runs,
       ROUND(z, 6) AS z_score, ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
"""


def _runs_oracle() -> str:
    return (
        _RUNS_ORACLE.replace("{DAILY}", DAILY_REV_ORDERS_CTE)
        .replace("{P}", _BH_P)
        .replace("{TT}", _BH_TT)
        .replace("{AZ}", _BH_AZ)
    )


@query("runs_test_daily_revenue", oracle=_runs_oracle())
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the up/down moves of daily revenue —
    'are the daily directions RANDOM': too few runs = sticky momentum,
    too many = mean-reverting oscillation. The direction-randomness
    companion to Ljung-Box (magnitude autocorrelation) and Mann-Kendall
    (monotone trend): together the three cover level, direction, and
    memory of a series.

    Exactness: ups, downs, and run count are exact integers off the
    day-ordered lag windows; mu/var/z/p are shared expression strings
    over one-time double casts — identical engines.

    Scale: the lag windows ride the calendar-bounded daily series
    (whitelisted class); everything after is one row."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "runs_test_daily_revenue",
        "day-spine",
        "sign + value lags over the day-bounded daily series",
        n_windows=2,
    )
    from pyspark.sql import Window

    daily = daily_rev_orders(spark).select("d", "rev")
    w = Window.orderBy("d")
    moves = daily.select(
        "d",
        F.when(F.col("rev") > F.lag("rev").over(w), 1)
        .when(F.col("rev") < F.lag("rev").over(w), -1)
        .alias("s"),
    ).filter(F.col("s").isNotNull())
    signs = moves.select("d", "s", F.lag("s").over(w).alias("prev"))
    agg = signs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("double")
        .alias("n2"),
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1)
            .otherwise(0)
        )
        .cast("double")
        .alias("r"),
    )
    return (
        agg.selectExpr(
            "CAST(n1 AS BIGINT) AS n_up",
            "CAST(n2 AS BIGINT) AS n_down",
            "CAST(r AS BIGINT) AS n_runs",
            f"ROUND({_RUNS_MU}, 4) AS expected_runs",
            f"{_RUNS_Z} AS z",
        )
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_up",
            "n_down",
            "n_runs",
            "expected_runs",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


def _mcnemar_oracle() -> str:
    toks = _TXT.tokens("text", "duck")
    scores = _TS.language_scores_sql("text", "duck")
    score_sel = ", ".join(
        f"ROUND({e}, 6) AS {name}" for name, e in scores.items()
    )
    langs = list(_TS.STOPWORDS)
    greatest = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    hpred = "CASE WHEN " + greatest + " <= 0 THEN 'und' "
    hpred += " ".join(
        f"WHEN score_{l} = {greatest} THEN '{l}'" for l in langs
    )
    hpred += " ELSE 'und' END"
    z = "((abs(b - c) - 1) / sqrt(nullif(CAST(b + c AS DOUBLE), 0)))"
    return f"""
WITH {_NB_CTES},
ht AS (SELECT doc_id, {toks} AS __toks FROM ev),
hp AS (
  SELECT doc_id, {hpred} AS h_pred
  FROM (SELECT doc_id, {score_sel} FROM ht) x),
cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN p.predicted = d.lang THEN 1 ELSE 0 END)
              AS BIGINT) AS nb_correct,
         CAST(SUM(CASE WHEN h.h_pred = d.lang THEN 1 ELSE 0 END)
              AS BIGINT) AS heur_correct,
         CAST(SUM(CASE WHEN h.h_pred = d.lang AND p.predicted <> d.lang
                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN h.h_pred <> d.lang AND p.predicted = d.lang
                  THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM ev d JOIN pred p USING (doc_id) JOIN hp h USING (doc_id)),
zs AS (
  SELECT n_docs, nb_correct, heur_correct, b AS heur_only, c AS nb_only,
         {z} AS z
  FROM cells)
SELECT n_docs, nb_correct, heur_correct, heur_only, nb_only,
       ROUND(z, 6) AS z_score, ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
""".replace("{P}", _BH_P).replace("{TT}", _BH_TT).replace("{AZ}", _BH_AZ)


@query("mcnemar_langid_vs_nb", oracle=_mcnemar_oracle())
def mcnemar_langid_vs_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: is the LEARNED naive-Bayes language
    classifier actually better than the stopword heuristic ON THE SAME
    held-out documents? Accuracy deltas alone ignore pairing; McNemar
    compares only the DISCORDANT documents (heuristic-right/NB-wrong vs
    the converse), chi-square with continuity correction — THE paired
    model-comparison primitive every 'replace the heuristic with a
    model' decision needs.

    Determinism: both classifiers are the existing deterministic
    pipelines (round-6 heuristic scores with fixed tie-break order; the
    NB argmax with the (score DESC, lang ASC) tiebreak); the discordant
    counts are exact integers and z/p are shared expression strings.

    Scale: the NB model relations are vocabulary-sized, the heuristic
    is map-side, and the paired join is keyed by doc_id — everything
    after the predictions is one row."""
    from dawis_spark.operators.textstats import language_id
    from dawis_spark.queries.q04_sketches_stats_forecast import (
        nb_langid_predictions,
    )

    ev, nb_pred = nb_langid_predictions(spark)
    hp = language_id(ev, "doc_id", "text").select(
        "doc_id", F.col("lang_pred").alias("h_pred")
    )
    cells = (
        ev.select("doc_id", F.col("lang").alias("actual"))
        .join(nb_pred, "doc_id")
        .join(hp, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("predicted") == F.col("actual")).cast("int"))
            .cast("bigint")
            .alias("nb_correct"),
            F.sum((F.col("h_pred") == F.col("actual")).cast("int"))
            .cast("bigint")
            .alias("heur_correct"),
            F.sum(
                (
                    (F.col("h_pred") == F.col("actual"))
                    & (F.col("predicted") != F.col("actual"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("b"),
            F.sum(
                (
                    (F.col("h_pred") != F.col("actual"))
                    & (F.col("predicted") == F.col("actual"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("c"),
        )
    )
    return (
        cells.selectExpr(
            "n_docs",
            "nb_correct",
            "heur_correct",
            "b AS heur_only",
            "c AS nb_only",
            "((abs(b - c) - 1) / sqrt(nullif(CAST(b + c AS DOUBLE), 0))) AS z",
        )
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_docs",
            "nb_correct",
            "heur_correct",
            "heur_only",
            "nb_only",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


# ---------------------------------------------------------------------------
# Round-12 additions: sequential drift (Page-Hinkley), Good-Turing unseen
# mass, and train/eval n-gram novelty
# ---------------------------------------------------------------------------

_PH_ORACLE = f"""
WITH {DAILY_REV_ORDERS_CTE},
ix AS (
  SELECT d, rev,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         SUM(rev) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM daily),
dev AS (SELECT d, rev, t, cum, rev - (cum // t) AS dv FROM ix),
m AS (
  SELECT d, t, cum, (cum // t) AS xbar,
         SUM(dv) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
  FROM dev),
st AS (
  SELECT d, cum, xbar, mt,
         mt - MIN(mt) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM m)
SELECT d AS day, CAST(ph AS BIGINT) AS ph_stat_cents,
       CAST(xbar AS BIGINT) AS cum_mean_cents,
       ph * 50 > cum AS alarm
FROM st ORDER BY ph DESC, d LIMIT 10
"""


@query("page_hinkley_drift", oracle=_PH_ORACLE)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential change detection on daily revenue — the
    online-monitoring classic beside CUSUM (cusum_changepoints) and PSI
    (psi_value_drift): m_t accumulates deviations from the RUNNING mean
    and the PH statistic m_t - min m_i spikes when the level shifts up.
    The alarm thresholds the statistic against 2% of cumulative revenue
    (exact integer cross-multiplication ph*50 > cum — scale-free, no
    tuned absolute lambda). Top-10 days by statistic.

    Exactness: running mean is exact trunc-div (Spark div == DuckDB //),
    deviations/cumulative sums are exact bigint cents; no floats
    anywhere.

    Scale: the running windows ride the calendar-bounded daily relation
    (whitelisted class); output is TakeOrdered top-10."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "page_hinkley_drift",
        "day-spine",
        "running mean/min/index over the day-bounded daily series",
        n_windows=3,
    )
    from pyspark.sql import Window

    daily = daily_rev_orders(spark).select("d", "rev")
    wo = Window.orderBy("d")
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    ix = daily.select(
        "d",
        "rev",
        F.row_number().over(wo).alias("t"),
        F.sum("rev").over(wc).alias("cum"),
    )
    dev = ix.selectExpr("d", "t", "cum", "rev - (cum div t) AS dv")
    m = dev.select(
        "d",
        "cum",
        F.expr("cum div t").alias("xbar"),
        F.sum("dv").over(wc).alias("mt"),
    )
    st = m.select(
        "d",
        "cum",
        "xbar",
        (F.col("mt") - F.min("mt").over(wc)).alias("ph"),
    )
    return (
        st.select(
            F.col("d").alias("day"),
            F.col("ph").cast("bigint").alias("ph_stat_cents"),
            F.col("xbar").cast("bigint").alias("cum_mean_cents"),
            (F.col("ph") * 50 > F.col("cum")).alias("alarm"),
        )
        .orderBy(F.desc("ph_stat_cents"), "day")
        .limit(10)
    )


# Frequency-of-frequencies over word TRIGRAM types (non-distinct two-level
# hashes): the synthetic corpus's unigram vocabulary is dense (31 types,
# min count 26 at sf0.01 — no rare band), while trigram types have the
# long tail Good-Turing is about (9k+ hapaxes at sf0.01).
_GT_TOK_SPARK = _TXT.shingle_hashes("text", 3, "spark", distinct=False)
_GT_TOK_DUCK = _TXT.shingle_hashes("text", 3, "duck", distinct=False)

_GT_ORACLE = f"""
WITH tf AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT unnest({_GT_TOK_DUCK}) AS t FROM documents) GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tf),
nr AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_types
       FROM tf WHERE c <= 6 GROUP BY 1),
body AS (
  SELECT a.r, a.n_types,
         CAST((a.r * a.n_types * 1000000) // tot.n AS BIGINT) AS mass_ppm,
         ROUND((a.r + 1.0) * b.n_types / a.n_types, 6) AS r_star
  FROM nr a LEFT JOIN nr b ON b.r = a.r + 1, tot
  WHERE a.r <= 5),
unseen AS (
  SELECT CAST(0 AS BIGINT) AS r, CAST(NULL AS BIGINT) AS n_types,
         CAST((nr.n_types * 1000000) // tot.n AS BIGINT) AS mass_ppm,
         CAST(NULL AS DOUBLE) AS r_star
  FROM nr, tot WHERE nr.r = 1)
SELECT * FROM unseen UNION ALL SELECT * FROM body ORDER BY r
"""


@query("good_turing_unseen_mass", oracle=_GT_ORACLE)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing frequency estimation over the corpus's word
    TRIGRAM types (Good 1953; Gale & Sampson 1995): the frequency-of-
    frequencies table N_r for r <= 5, the GT-smoothed adjusted count
    r* = (r+1) N_{r+1} / N_r, and — as the r = 0 row — the MISSING MASS
    N_1/N, the probability the next trigram is an unseen type. The
    companion to chao1_vocab_estimate (how many types are missing) and
    heaps_law_vocab_growth (how fast they arrive): this one prices how
    much probability a LM should reserve for them. Trigrams rather than
    unigrams because GT lives on the rare band (N_1, N_2, ...) and this
    corpus's unigram vocabulary has none.

    Exactness: trigram identity is the dual-rendered NON-distinct
    two-level polynomial hash (multiset — occurrence counts, not doc
    frequency); counts and mass_ppm are exact integers (ppm via trunc
    div); r_star pays one rounded division.

    Scale: one trigram-type-count exchange carrying int64 hashes, then
    everything is the <= 6-row frequency-of-frequencies relation."""
    tf = (
        spark.table("documents")
        .select(F.explode(F.expr(_GT_TOK_SPARK)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = tf.agg(F.sum("c").cast("bigint").alias("n"))
    nr = (
        tf.filter(F.col("c") <= 6)
        .groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    )
    nxt = nr.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("n_next"))
    body = (
        nr.filter(F.col("r") <= 5)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "r",
            "n_types",
            "CAST((r * n_types * 1000000) div n AS BIGINT) AS mass_ppm",
            "ROUND((r + 1.0) * n_next / n_types, 6) AS r_star",
        )
    )
    unseen = (
        nr.filter(F.col("r") == 1)
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(0 AS BIGINT) AS r",
            "CAST(NULL AS BIGINT) AS n_types",
            "CAST((n_types * 1000000) div n AS BIGINT) AS mass_ppm",
            "CAST(NULL AS DOUBLE) AS r_star",
        )
    )
    return unseen.unionByName(body).orderBy("r")


_NOV_SH_SPARK = _TXT.shingle_hashes("text", 3, "spark")
_NOV_SH_DUCK = _TXT.shingle_hashes("text", 3, "duck")

_NOVELTY_ORACLE = f"""
WITH tg AS (
  SELECT DISTINCT unnest({_NOV_SH_DUCK}) AS g
  FROM documents WHERE doc_id % 4 <> 0),
eg AS (
  SELECT source, unnest({_NOV_SH_DUCK}) AS g
  FROM documents WHERE doc_id % 4 = 0),
j AS (
  SELECT eg.source, CASE WHEN tg.g IS NULL THEN 1 ELSE 0 END AS novel
  FROM eg LEFT JOIN tg ON eg.g = tg.g)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(novel) AS BIGINT) AS novel_grams,
       ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty_rate
FROM j GROUP BY source ORDER BY source
"""


@query("ngram_novelty_rate", oracle=_NOVELTY_ORACLE)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval 3-gram NOVELTY per source: what fraction of the
    held-out quarter's distinct word trigrams (per doc) never occur in
    the training 3/4 — the memorization/novelty audit next to
    benchmark_contamination (same machinery, opposite question: overlap
    you WANT low there, novelty you want HIGH here) and a standard
    eval-set hygiene check for LLM data splits.

    Determinism: trigram identity is the dual-rendered two-level
    polynomial hash (functions/text.shingle_hashes — each char hashed
    once, int64 exact in both engines); counts are exact integers.

    Scale: exchanges carry int64 gram hashes only (never text); the
    train side collapses to DISTINCT grams before the join; the
    eval-vs-train probe is a hash-keyed shuffle join; output is
    |sources| rows."""
    docs = spark.table("documents")
    tg = (
        docs.filter(F.col("doc_id") % 4 != 0)
        .select(F.explode(F.expr(_NOV_SH_SPARK)).alias("g"))
        .distinct()
        .withColumn("seen", F.lit(True))
    )
    eg = docs.filter(F.col("doc_id") % 4 == 0).select(
        "source", F.explode(F.expr(_NOV_SH_SPARK)).alias("g")
    )
    j = eg.join(tg.hint("shuffle_hash"), "g", "left")
    novel = F.when(F.col("seen").isNull(), 1).otherwise(0)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(novel).cast("bigint").alias("novel_grams"),
            F.round(F.sum(novel) / F.count(F.lit(1)), 6).alias("novelty_rate"),
        )
        .orderBy("source")
    )


def _pr_curve_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT CAST(v.y AS INT) AS y,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
bins AS (
  SELECT LEAST(CAST(FLOOR(p * 20) AS INT), 19) AS b,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS k_b
  FROM scF GROUP BY 1),
tot AS (SELECT CAST(SUM(k_b) AS BIGINT) AS k FROM bins),
cum AS (
  SELECT a.b,
         CAST(SUM(x.n_b) AS BIGINT) AS n_ge,
         CAST(SUM(x.k_b) AS BIGINT) AS tp
  FROM bins a JOIN bins x ON x.b >= a.b GROUP BY 1),
pr AS (
  SELECT b, n_ge, tp,
         CAST(tp AS DOUBLE) / n_ge AS prec,
         CAST(tp AS DOUBLE) / k AS rec
  FROM cum CROSS JOIN tot)
SELECT ROUND(CAST(b AS DOUBLE) / 20.0, 2) AS threshold, n_ge, tp,
       ROUND(prec, 6) AS precision_,
       ROUND(rec, 6) AS recall_,
       ROUND(2 * prec * rec / nullif(prec + rec, 0), 6) AS f1
FROM pr ORDER BY b
"""


@query("pr_curve_classifier", oracle=_pr_curve_oracle(64, 3, 1.0))
def pr_curve_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 threshold sweep for the trained quality
    classifier — 20 score thresholds, each row scoring 'gate at p >=
    threshold': the operating-point picker that completes the
    classifier eval family (AUC = ranking, calibration/ECE =
    probability quality, gains/lift = budget depth, THIS = the actual
    cut a production quality gate ships).

    Determinism: same round-6 scores and shared trained vector
    (_trained_logreg_w — no retrain) as the calibration family; bins
    and cumulative counts are exact integers off the 20x20
    bucket-bounded self-join; ratios are single rounded divisions with
    a nullif(0) F1 guard.

    Scale: one scoring scan into 20 bins; everything after is
    bin-bounded."""
    from dawis_spark.operators.logreg import margin_expr

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-({margin_expr('embedding', w)}))), 6)"
    bins = (
        emb.selectExpr(f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p")
        .selectExpr("LEAST(CAST(FLOOR(p * 20) AS INT), 19) AS b", "y")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("y").cast("bigint").alias("k_b"),
        )
    )
    tot = bins.agg(F.sum("k_b").cast("bigint").alias("k"))
    a = bins.select(F.col("b").alias("ab"))
    cum = (
        a.join(F.broadcast(bins), F.col("b") >= F.col("ab"))
        .groupBy("ab")
        .agg(
            F.sum("n_b").cast("bigint").alias("n_ge"),
            F.sum("k_b").cast("bigint").alias("tp"),
        )
    )
    pr = cum.crossJoin(F.broadcast(tot)).selectExpr(
        "ab AS b",
        "n_ge",
        "tp",
        "CAST(tp AS DOUBLE) / n_ge AS prec",
        "CAST(tp AS DOUBLE) / k AS rec",
    )
    return pr.selectExpr(
        "ROUND(CAST(b AS DOUBLE) / 20.0, 2) AS threshold",
        "n_ge",
        "tp",
        "ROUND(prec, 6) AS precision_",
        "ROUND(rec, 6) AS recall_",
        "ROUND(2 * prec * rec / nullif(prec + rec, 0), 6) AS f1",
    ).orderBy("threshold")


# Hurst R/S: per-(w, block) rescaled range uses EXACT-integer numerators:
# cumdev*w = w*cs - pos*s (bigint), D = w*sxx - s^2 (decimal38/HUGEINT),
# so rs = (max-min cumdev*w) / sqrt(D) pays exactly one double division
# + IEEE sqrt per block — identical in both engines.
_HURST_WS = (8, 16, 32)

_HURST_SLOPE = (
    "round((np * sxy - sx * sy) / nullif(np * sxx2 - sx * sx, 0), 6)"
)

_HURST_ORACLE = f"""
WITH {DAILY_REV_ORDERS_CTE},
ix AS (
  SELECT rev AS x, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily),
blk AS (
  SELECT w.w, (t - 1) // w.w AS block, ((t - 1) % w.w) + 1 AS pos, x
  FROM ix, (SELECT unnest([{", ".join(str(w) for w in _HURST_WS)}]) AS w) w),
bstat AS (
  SELECT w, block, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(x) AS BIGINT) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM blk GROUP BY 1, 2),
full_b AS (SELECT * FROM bstat WHERE cnt = w),
dev AS (
  SELECT b.w, b.block,
         b.w * SUM(r.x) OVER (PARTITION BY b.w, b.block ORDER BY r.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - r.pos * b.s AS cd
  FROM blk r JOIN full_b b ON r.w = b.w AND r.block = b.block),
rng AS (
  SELECT w, block, CAST(MAX(cd) - MIN(cd) AS BIGINT) AS r_scaled
  FROM dev GROUP BY 1, 2),
rs AS (
  SELECT g.w, g.block,
         round(r.r_scaled / sqrt(CAST(nullif(g.w * g.sxx - CAST(g.s AS HUGEINT) * g.s, 0) AS DOUBLE)), 6) AS rs
  FROM full_b g JOIN rng r ON g.w = r.w AND g.block = r.block),
per_w AS (
  SELECT w, CAST(COUNT(rs) AS BIGINT) AS n_blocks,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(rs ORDER BY block)), (a, e) -> a + e) / COUNT(rs), 6)
           AS rs_mean
  FROM rs WHERE rs IS NOT NULL GROUP BY 1),
pts AS (SELECT w, n_blocks, rs_mean, ln(CAST(w AS DOUBLE)) AS lx,
               ln(rs_mean) AS ly FROM per_w),
fit AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS np,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lx ORDER BY w)), (a, e) -> a + e) AS sx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ly ORDER BY w)), (a, e) -> a + e) AS sy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lx * ly ORDER BY w)), (a, e) -> a + e) AS sxy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lx * lx ORDER BY w)), (a, e) -> a + e) AS sxx2
  FROM pts)
SELECT p.w, p.n_blocks, p.rs_mean, {_HURST_SLOPE} AS hurst
FROM pts p CROSS JOIN fit ORDER BY p.w
"""


@query("hurst_rescaled_range", oracle=_HURST_ORACLE)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis over
    daily revenue (Hurst 1951; Mandelbrot & Wallis 1969): split the
    series into full blocks of w in {8, 16, 32} days, per block compute
    the range of cumulative mean-deviations over the block's std, and
    fit ln(mean R/S) against ln(w) — H ~ 0.5 is a memoryless walk,
    H > 0.5 long-range persistence, H < 0.5 mean reversion. The
    long-memory diagnostic beside Ljung-Box (short-lag autocorrelation)
    and Mann-Kendall (monotone trend).

    Exactness: per-block cumulative deviations are EXACT bigints
    (w*cumsum - pos*sum), the variance numerator w*sxx - s^2 is exact
    DECIMAL(38,0)/HUGEINT; each block pays ONE double division + IEEE
    sqrt, rounded to 6 before the block-ordered mean fold; the 3-point
    log-log OLS runs on ordered folds — bit-identical engines.

    Scale: the day-index window rides the calendar-bounded daily
    relation (whitelisted class); blocks are (w, block)-keyed; the fit
    is a 3-row relation."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "hurst_rescaled_range",
        "day-spine",
        "per-scale day indexes over the day-bounded daily series",
        n_windows=4,
    )
    from pyspark.sql import Window

    daily = daily_rev_orders(spark).select("d", F.col("rev").alias("x"))
    ix = daily.select("x", F.row_number().over(Window.orderBy("d")).alias("t"))
    ws = ", ".join(str(w) for w in _HURST_WS)
    blk = ix.selectExpr(
        f"explode(array({ws})) AS w", "t", "x"
    ).selectExpr("w", "(t - 1) div w AS block", "((t - 1) % w) + 1 AS pos", "x")
    bstat = blk.groupBy("w", "block").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(
            F.expr("cast(x as decimal(38,0)) * cast(x as decimal(38,0))")
        ).alias("sxx"),
    )
    full_b = bstat.filter(F.col("cnt") == F.col("w"))
    wb = Window.partitionBy("w", "block").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = (
        blk.join(full_b.select("w", "block", "s", "sxx"), ["w", "block"])
        .withColumn("cs", F.sum("x").over(wb))
        .selectExpr("w", "block", "s", "sxx", "w * cs - pos * s AS cd")
    )
    rng = dev.groupBy("w", "block", "s", "sxx").agg(
        (F.max("cd") - F.min("cd")).cast("bigint").alias("r_scaled")
    )
    rs = rng.selectExpr(
        "w",
        "block",
        "round(r_scaled / sqrt(cast(nullif("
        "w * sxx - cast(s as decimal(38,0)) * s, 0) as double)), 6) AS rs",
    ).filter(F.col("rs").isNotNull())
    per_w = rs.groupBy("w").agg(
        F.count("rs").cast("bigint").alias("n_blocks"),
        F.expr(f"round({ordered_sum('rs', 'block')} / count(rs), 6)").alias(
            "rs_mean"
        ),
    )
    pts = per_w.selectExpr(
        "w", "n_blocks", "rs_mean",
        "ln(cast(w as double)) AS lx", "ln(rs_mean) AS ly",
    )
    fit = pts.agg(
        F.expr("cast(count(*) as double)").alias("np"),
        F.expr(ordered_sum("lx", "w")).alias("sx"),
        F.expr(ordered_sum("ly", "w")).alias("sy"),
        F.expr(ordered_sum("lx * ly", "w")).alias("sxy"),
        F.expr(ordered_sum("lx * lx", "w")).alias("sxx2"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .selectExpr("w", "n_blocks", "rs_mean", f"{_HURST_SLOPE} AS hurst")
        .orderBy("w")
    )


from dawis_spark.operators.stats import (  # noqa: E402
    ANOVA_ETA2 as _BF_ETA2,
    ANOVA_F as _BF_F,
    ANOVA_SSB as _BF_SSB,
    ANOVA_SSW as _BF_SSW,
    ES_D as _ES_D,
    ES_G as _ES_G,
    KW_H as _KW_H,
    KW_HC as _KW_HC,
)

_KW_ORACLE = f"""
WITH gv AS (
  SELECT o_orderpriority AS g, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS n_gv
  FROM orders GROUP BY 1, 2),
per_v AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS t_v FROM gv GROUP BY 1),
ranked AS (
  SELECT v, t_v,
         COALESCE(SUM(t_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM per_v),
per_g AS (
  SELECT g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
         SUM((2 * (r.before + 1) + (r.t_v - 1)) / 2.0 * n_gv) AS r_g
  FROM gv JOIN ranked r USING (v) GROUP BY 1),
ties AS (
  SELECT CAST(SUM(t_v) AS BIGINT) AS n_i,
         SUM(CAST(t_v AS HUGEINT) * t_v * t_v - t_v) AS tie_cubes
  FROM ranked),
terms AS (SELECT g, r_g * r_g / n_g AS t_g FROM per_g),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_i,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t_g ORDER BY g)),
                     (acc, e) -> acc + e) AS sum_t
  FROM terms),
d AS (
  SELECT k_i, n_i, CAST(n_i AS DOUBLE) AS n, sum_t,
         CAST(tie_cubes AS DOUBLE) AS tie_cubes_d
  FROM folded, ties)
SELECT CAST(k_i AS INT) AS k_groups, CAST(n_i AS BIGINT) AS n_rows,
       ROUND({_KW_H}, 6) AS h, ROUND({_KW_HC}, 6) AS h_tie_corrected
FROM d
"""


@query("kruskal_wallis_priority", oracle=_KW_ORACLE)
def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across ALL FIVE order priorities — the k-group
    rank test that sits between mann_whitney_drift (2 groups, ranks)
    and anova_order_value_priority (k groups, means): 'does order value
    differ across ANY priority' without normality assumptions.

    Exactness: average tie ranks are .5-exact dyadics, rank sums exact
    dyadic*int accumulations, tie cubes exact HUGEINT/DECIMAL38; H and
    its tie correction are shared expression strings over the same
    doubles (operators/stats.py:KW_H/KW_HC).

    Scale: one (group, value) aggregate, then the distinct-cents rank
    walk (value-bounded domain — the mann_whitney adjudication) and a
    5-row ordered fold."""
    from dawis_spark.operators.stats import kruskal_wallis

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return kruskal_wallis(o, "cents", "o_orderpriority")


_BF_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS g, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
  FROM orders),
gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
cum AS (
  SELECT g, v, c,
         COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         SUM(c) OVER (PARTITION BY g) AS n_g
  FROM gv),
pos AS (SELECT *, (n_g + 1) // 2 AS lo, n_g // 2 + 1 AS hi FROM cum),
vlo AS (SELECT g, MIN(v) AS vlo FROM pos
        WHERE before < lo AND lo <= before + c GROUP BY 1),
vhi AS (SELECT g, MIN(v) AS vhi FROM pos
        WHERE before < hi AND hi <= before + c GROUP BY 1),
med AS (SELECT g, CAST(vlo + vhi AS BIGINT) AS m2
        FROM vlo JOIN vhi USING (g)),
dev AS (
  SELECT base.g AS g, CAST(ABS(2 * base.v - med.m2) AS HUGEINT) AS d
  FROM base JOIN med USING (g)),
per AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n_g, SUM(d) AS s_g,
         SUM(d * d) AS q_g
  FROM dev GROUP BY 1),
terms AS (
  SELECT g, n_g, s_g, q_g,
         CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS t_g
  FROM per),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_i, SUM(n_g) AS n_i, SUM(s_g) AS s_i,
         SUM(q_g) AS q_i,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t_g ORDER BY g)),
                     (acc, e) -> acc + e) AS sum_tg
  FROM terms),
d2 AS (
  SELECT k_i, n_i, CAST(k_i AS DOUBLE) AS k, CAST(n_i AS DOUBLE) AS n,
         CAST(q_i AS DOUBLE) AS q,
         CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS ss_over_n,
         sum_tg
  FROM folded)
SELECT CAST(k_i AS INT) AS k_groups, CAST(n_i AS BIGINT) AS n_rows,
       ROUND({_BF_SSB}, 4) AS ssb, ROUND({_BF_SSW}, 4) AS ssw,
       ROUND({_BF_F}, 6) AS f_stat, ROUND({_BF_ETA2}, 6) AS eta_squared
FROM d2
"""


@query("brown_forsythe_priority", oracle=_BF_ORACLE)
def brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance: does order-value SPREAD
    differ across priorities? ANOVA's equal-variance assumption gets
    its own test (the median-centred Levene variant — robust to the
    heavy-tailed price distribution); run it before trusting
    anova_order_value_priority's F.

    Exactness: per-group medians are exact order statistics on the
    doubled-median trick (|2x - 2m| stays integer, even-count medians
    included); the deviation ANOVA reuses anova_oneway's exact-moment
    ordered fold verbatim.

    Scale: the median walk is group-partitioned over distinct cents
    (value-bounded); medians broadcast back; one exact-moment
    aggregate ends it."""
    from dawis_spark.operators.stats import brown_forsythe

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return brown_forsythe(o, "o_orderpriority", "cents")


_ES_ORACLE = f"""
WITH tagged AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS ib
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
moments AS (
  SELECT CAST(SUM(ia) AS HUGEINT) AS na_i, CAST(SUM(ib) AS HUGEINT) AS nb_i,
         SUM(CAST(v AS HUGEINT) * ia) AS sa_i,
         SUM(CAST(v AS HUGEINT) * ib) AS sb_i,
         SUM(CAST(v AS HUGEINT) * v * ia) AS qa_i,
         SUM(CAST(v AS HUGEINT) * v * ib) AS qb_i
  FROM tagged),
per_v AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS na_v, CAST(SUM(ib) AS BIGINT) AS nb_v
  FROM tagged GROUP BY 1),
walked AS (
  SELECT na_v, nb_v,
         COALESCE(SUM(nb_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b_before
  FROM per_v),
pairs AS (
  SELECT SUM(CAST(na_v AS HUGEINT) * b_before) AS gt_pairs,
         SUM(CAST(na_v AS HUGEINT) * nb_v) AS eq_pairs
  FROM walked)
SELECT CAST(na_i AS BIGINT) AS n_a, CAST(nb_i AS BIGINT) AS n_b,
       ROUND(CAST(sa_i AS DOUBLE) / na_i - CAST(sb_i AS DOUBLE) / nb_i, 4)
         AS mean_diff,
       ROUND({_ES_D}, 6) AS cohens_d,
       ROUND({_ES_G}, 6) AS hedges_g,
       ROUND(CAST(gt_pairs - (na_i * nb_i - gt_pairs - eq_pairs) AS DOUBLE)
             / CAST(na_i * nb_i AS DOUBLE), 6) AS cliffs_delta
FROM moments, pairs
"""


@query("effect_sizes_urgent_vs_low", oracle=_ES_ORACLE)
def effect_sizes_urgent_vs_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample EFFECT SIZES for URGENT vs LOW order values: Cohen's
    d (pooled-sd standardized mean difference), Hedges' g (the
    small-sample correction), and Cliff's delta (ordinal dominance,
    the effect-size twin of mann_whitney_drift's U). Significance
    tests say 'is there a difference'; at warehouse n everything is
    significant — these say HOW BIG.

    Exactness: moments and dominance pair counts are exact
    HUGEINT/DECIMAL38 integers (the rank trick counts a>b pairs with
    no quadratic pass); d and g are shared fixed expressions
    (operators/stats.py:ES_D/ES_G); delta is one division.

    Scale: one conditional-moment scan + the distinct-cents walk
    (value-bounded domain); output is one row."""
    from dawis_spark.operators.stats import two_sample_effect_sizes

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return two_sample_effect_sizes(
        o, "cents", "o_orderpriority", "1-URGENT", "5-LOW"
    )


_GTEST_ORACLE = """
WITH cells AS (
  SELECT event_type AS r, isodow(ts) AS c, CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2),
rows_m AS (SELECT r, CAST(SUM(obs) AS BIGINT) AS row_n FROM cells GROUP BY 1),
cols_m AS (SELECT c, CAST(SUM(obs) AS BIGINT) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
scored AS (
  SELECT rm.r, cm.c, CAST(COALESCE(obs, 0) AS BIGINT) AS obs, row_n, col_n, n
  FROM rows_m rm CROSS JOIN cols_m cm
  LEFT JOIN cells ON cells.r = rm.r AND cells.c = cm.c
  CROSS JOIN tot),
terms AS (
  SELECT r, c,
         CASE WHEN obs > 0 THEN
           2.0 * CAST(obs AS DOUBLE)
               * ln(CAST(CAST(obs AS HUGEINT) * n AS DOUBLE)
                    / CAST(CAST(row_n AS HUGEINT) * col_n AS DOUBLE))
         ELSE 0.0 END AS g_term
  FROM scored)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS BIGINT) AS dof,
       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(g_term ORDER BY r, c)), (acc, e) -> acc + e), 6) AS g2
FROM terms
"""


@query("g_test_independence_dow", oracle=_GTEST_ORACLE)
def g_test_independence_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test for event_type x ISO-weekday — the
    log-likelihood sibling of chi_square_independence on the same
    table: G = 2*sum obs*ln(obs/expected) behaves better on sparse
    tables and is ADDITIVE across table partitions (so a per-shard
    G-test sums to the global one — the property that matters for a
    distributed monitoring rollup; Pearson chi-square has no such
    decomposition).

    Exactness/scale: identical construction to the chi-square query —
    exact-integer complete contingency (zero cells contribute 0 via
    the 0*ln(0) convention), one ln per cell, ordered (row, col) fold;
    |types| x 7 cells end-to-end."""
    from dawis_spark.operators.stats import g_test_independence

    e = spark.table("events").select(
        "event_type", (F.weekday("ts") + 1).alias("dow")
    )
    return g_test_independence(e, "event_type", "dow")


@query(
    "linear_attribution",
    oracle=_journeys.linear_attribution_oracle_sql("purchase"),
)
def linear_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (even-split) multi-touch attribution — the maximum-
    entropy baseline of the MTA family (asof_last_click = last-touch,
    position_attribution = U-shaped, time_decay_attribution = recency,
    shapley/markov = data-driven): every touch of a converting journey
    earns value/n. Integer-ppm weights with the flooring remainder on
    the first touch keep every credit an exact BIGINT micro-unit.
    Scale: one user-hashed journey-index exchange; co-keyed
    touch<->conversion join; event-type-sized output."""
    return _journeys.linear_attribution(
        spark.table("events"), "purchase"
    ).orderBy("touch_type")


@query(
    "time_decay_attribution",
    oracle=_journeys.time_decay_oracle_sql("purchase", 7),
)
def time_decay_attribution_credit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-decay multi-touch attribution with a 7-day DISCRETE
    half-life: a touch's weight halves for every full week between it
    and the conversion it feeds — the recency-weighted model between
    last-click (all recency) and linear (none). Discrete halving keeps
    weights exact integers (continuous 2^(-dt/hl) pays an
    engine-specific pow ulp exactly where a rounding boundary can
    flip); per-journey normalization is one exact floor-division per
    touch, sub-cent remainders dropped (documented in
    operators/journeys.py).

    Scale: same shape as the other MTA models — one user-hashed
    exchange, co-keyed join, per-journey window on the co-partitioned
    key, event-type-sized output."""
    return _journeys.time_decay_attribution(
        spark.table("events"), "purchase", half_life_days=7
    ).orderBy("touch_type")


_NA_ORACLE = """
WITH du AS (
  SELECT user_id, date_trunc('day', ts) AS day FROM events),
pu AS (SELECT user_id, MIN(day) AS fd, MAX(day) AS ld FROM du GROUP BY 1),
hz AS (SELECT MAX(day) AS h FROM du),
dur AS (
  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS duration,
         (ld <= h - INTERVAL 1 DAY) AS churn
  FROM pu, hz),
g AS (
  SELECT duration, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM dur GROUP BY 1),
arr AS (
  SELECT list(struct_pack(duration := duration, c := c, d := d)
              ORDER BY duration) AS a,
         CAST(SUM(c) AS BIGINT) AS N
  FROM g),
idx AS (SELECT UNNEST(range(1, len(a) + 1)) AS i, a, N FROM arr),
folded AS (
  SELECT CAST(a[i].duration AS BIGINT) AS duration,
         N - list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(a[1:i-1], x -> x.c)), (p, q) -> p + q) AS at_risk,
         a[i].d AS churned, a[i].c - a[i].d AS censored,
         list_reduce(
           list_prepend(struct_pack(h := CAST(0.0 AS DOUBLE),
                                    seen := CAST(0 AS BIGINT)),
                        list_transform(a[1:i],
                          x -> struct_pack(h := CAST(x.d AS DOUBLE), seen := x.c))),
           (acc, x) -> struct_pack(
             h := acc.h + x.h / CAST(N - acc.seen AS DOUBLE),
             seen := acc.seen + x.seen)).h AS h_raw
  FROM idx)
SELECT duration, at_risk, churned, censored,
       ROUND(h_raw, 9) AS cum_hazard,
       ROUND(exp(-h_raw), 9) AS survival_na
FROM folded
ORDER BY duration
"""


@query("nelson_aalen_hazard", oracle=_NA_ORACLE)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard over user lifetimes (Nelson 1972;
    Aalen 1978) — the additive twin of kaplan_meier_retention on the
    same right-censored duration relation: H(t) = sum_{t_i <= t}
    d_i/n_i, with the Fleming-Harrington survival transform
    exp(-H(t)) alongside (the better small-risk-set estimator of the
    same curve KM estimates by products).

    Exactness: identical censoring/duration machinery to KM (exact
    bigint d_i, n_i); the hazard is a LEFT FOLD of one-division terms
    over the duration-sorted array with the (derived-first, counter-
    last) struct-accumulator field order the KM oracle pinned for
    DuckDB's list_reduce; ROUND(,9) on output; exp is evaluated on the
    identical folded double in both engines (the kde precedent).

    Scale: one user-keyed aggregate, then the duration-bounded fold —
    no partition-less window, nothing row-scale past the first
    exchange."""
    e = spark.table("events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    pu = e.groupBy("user_id").agg(
        F.min("day").alias("fd"), F.max("day").alias("ld")
    )
    hz = e.agg(F.max("day").alias("h"))
    dur = pu.crossJoin(F.broadcast(hz)).select(
        F.datediff("ld", "fd").cast("bigint").alias("duration"),
        F.expr("ld <= h - interval 1 days").alias("churn"),
    )
    g = dur.groupBy("duration").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("churn"), 1).otherwise(0)).cast("bigint").alias("d"),
    )
    arr = g.agg(
        F.sort_array(F.collect_list(F.struct("duration", "c", "d"))).alias("a"),
        F.sum("c").cast("bigint").alias("N"),
    )
    rows = arr.select(
        F.explode(
            F.expr(
                "transform(a, (x, i) -> struct("
                "x.duration AS duration, "
                "N - aggregate(slice(a, 1, i), cast(0 as bigint), "
                "(p, y) -> p + y.c) AS at_risk, "
                "x.d AS churned, x.c - x.d AS censored, "
                "aggregate(slice(a, 1, i + 1), "
                "named_struct('seen', cast(0 as bigint), 'h', cast(0.0 as double)), "
                "(acc, y) -> named_struct('seen', acc.seen + y.c, "
                "'h', acc.h + y.d / cast(N - acc.seen as double))).h "
                "AS h_raw))"
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.duration").alias("duration"),
        F.col("r.at_risk").alias("at_risk"),
        F.col("r.churned").alias("churned"),
        F.col("r.censored").alias("censored"),
        F.round("r.h_raw", 9).alias("cum_hazard"),
        F.round(F.exp(-F.col("r.h_raw")), 9).alias("survival_na"),
    ).orderBy("duration")


def _hl_oracle(dim: int, iters: int, lr: float) -> str:
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
         CAST(SUM(y) AS BIGINT) AS o_b,
         CAST(SUM(CAST(ROUND(p * 1000000, 0) AS BIGINT)) AS BIGINT) AS e_micro
  FROM scF GROUP BY 1),
terms AS (
  SELECT b, n_b, o_b, e_micro,
         CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE) AS e,
         (o_b - CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE))
           * (o_b - CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE))
           / nullif(CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)
                    * (1.0 - CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)
                             / n_b), 0) AS t
  FROM bins),
hl AS (
  SELECT CAST(COUNT(*) AS BIGINT) - 2 AS dof,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY b)),
                     (a, e) -> a + e) AS hl_raw
  FROM terms)
SELECT ROUND(CAST(b AS DOUBLE) / 10.0, 1) AS bin_lo, n_b,
       o_b AS observed, ROUND(e, 4) AS expected,
       ROUND(hl_raw, 6) AS hl_stat, dof
FROM terms CROSS JOIN hl ORDER BY b
"""


@query("hosmer_lemeshow_classifier", oracle=_hl_oracle(64, 3, 1.0))
def hosmer_lemeshow_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the trained quality
    classifier: per probability bin, observed positives vs the sum of
    predicted probabilities, with HL chi-square = sum (O-E)^2/(E(1-E/n))
    over bins (dof = bins-2). ECE asks 'how FAR off is the calibration
    on average'; HL asks 'is the miscalibration STATISTICALLY
    significant' — the pair a model-validation report prints together.
    Fixed-width decile bins (the ECE/gains discipline) rather than the
    classical equal-count deciles, so the bin edges are score-defined
    constants, not data-order artifacts — documented variant.

    Determinism: shared trained vector (_trained_logreg_w — no
    retrain); expected counts are EXACT integer micro-sums
    (round(p*1e6) per row — p is already round-6 so the micro value is
    exact), so E carries no float-accumulation order; the HL sum is a
    bin-ordered fold.

    Scale: one scoring scan into 10 bins; bin-bounded after."""
    from dawis_spark.operators.logreg import margin_expr

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-(round({margin_expr('embedding', w)}, 6)))), 6)"
    bins = (
        emb.selectExpr(f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p")
        .selectExpr("LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS b", "y", "p")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("y").cast("bigint").alias("o_b"),
            F.sum(F.expr("CAST(ROUND(p * 1000000, 0) AS BIGINT)"))
            .cast("bigint")
            .alias("e_micro"),
        )
    )
    terms = bins.selectExpr(
        "b",
        "n_b",
        "o_b",
        "CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE) AS e",
        "(o_b - CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE))"
        " * (o_b - CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE))"
        " / nullif(CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)"
        "          * (1.0 - CAST(e_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)"
        "                   / n_b), 0) AS t",
    )
    hl = terms.agg(
        (F.count(F.lit(1)).cast("bigint") - 2).alias("dof"),
        F.expr(ordered_sum("t", "b")).alias("hl_raw"),
    )
    return (
        terms.crossJoin(F.broadcast(hl))
        .selectExpr(
            "ROUND(CAST(b AS DOUBLE) / 10.0, 1) AS bin_lo",
            "n_b",
            "o_b AS observed",
            "ROUND(e, 4) AS expected",
            "ROUND(hl_raw, 6) AS hl_stat",
            "dof",
        )
        .orderBy("bin_lo")
    )


def _ks_clf_oracle(dim: int, iters: int, lr: float) -> str:
    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT CAST(v.y AS INT) AS y,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
per_p AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p, CAST(SUM(y) AS BIGINT) AS k_p
  FROM scF GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_p) AS BIGINT) AS nn, CAST(SUM(k_p) AS BIGINT) AS pp
  FROM per_p),
walk AS (
  SELECT p,
         SUM(k_p) OVER (ORDER BY p DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_k,
         SUM(n_p) OVER (ORDER BY p DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM per_p),
scored AS (
  SELECT p, CAST(cum_k AS DOUBLE) / pp
            - CAST(cum_n - cum_k AS DOUBLE) / (nn - pp) AS diff,
         nn, pp
  FROM walk CROSS JOIN tot)
SELECT nn AS n_docs, pp AS positives,
       ROUND(diff, 6) AS ks_stat, p AS at_threshold
FROM scored ORDER BY diff DESC, p DESC LIMIT 1
"""


@query("ks_statistic_classifier", oracle=_ks_clf_oracle(64, 3, 1.0))
def ks_statistic_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation statistic for the trained quality
    classifier: max over thresholds of TPR - FPR — the credit-scoring
    industry's standard single-number separation measure, read off the
    same score distribution AUC integrates (AUC = average separation,
    KS = worst-case-best separation; pr_curve = the operating points
    between). Returns the statistic AND the score threshold achieving
    it.

    Determinism: shared trained vector, round-6 scores; cumulative
    positive/negative counts are exact integers over the distinct-score
    walk; TPR/FPR pay one division each; the argmax orders identical
    doubles with a (diff, p) tie-break.

    Scale: one scoring scan collapses to the distinct rounded-score
    relation; the descending cumulative walk rides value_cum_walk's
    range-bucketed prefix sums (r13 — no partition-less window, the
    same rewrite as the EDF drift family) and ends in TakeOrdered(1)."""
    from dawis_spark.operators.logreg import margin_expr
    from dawis_spark.operators.stats import total_lit, value_cum_walk

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-(round({margin_expr('embedding', w)}, 6)))), 6)"
    per_p = (
        emb.selectExpr(f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p")
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_p"),
            F.sum("y").cast("bigint").alias("k_p"),
        )
    )
    walk, n_v, (pp, nn) = value_cum_walk(per_p, "p", ["k_p", "n_p"], desc=True)
    scored = walk.select(
        "p",
        F.col("cum_k_p").alias("cum_k"),
        F.col("cum_n_p").alias("cum_n"),
        total_lit(nn, n_v).alias("nn"),
        total_lit(pp, n_v).alias("pp"),
    ).selectExpr(
        "p",
        "CAST(cum_k AS DOUBLE) / pp"
        " - CAST(cum_n - cum_k AS DOUBLE) / (nn - pp) AS diff",
        "nn",
        "pp",
    )
    return (
        scored.orderBy(F.desc("diff"), F.desc("p"))
        .limit(1)
        .selectExpr(
            "nn AS n_docs",
            "pp AS positives",
            "ROUND(diff, 6) AS ks_stat",
            "p AS at_threshold",
        )
    )


_MI_FEATURES_SPARK = [
    ("status", "o_orderstatus"),
    ("month", "CAST(MONTH(o_orderdate) AS STRING)"),
    ("price_band", "CAST(LEAST(CAST(o_totalprice AS BIGINT) div 50000, 5) AS STRING)"),
]
_MI_FEATURES_DUCK = [
    ("status", "o_orderstatus"),
    ("month", "CAST(MONTH(o_orderdate) AS VARCHAR)"),
    ("price_band", "CAST(LEAST(CAST(o_totalprice AS BIGINT) // 50000, 5) AS VARCHAR)"),
]
_MI_Y = "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"

_MI_ORACLE = f"""
WITH long AS (
  {" UNION ALL ".join(
      f"SELECT '{name}' AS feature, {expr} AS level, {_MI_Y} AS y FROM orders"
      for name, expr in _MI_FEATURES_DUCK
  )}),
cells AS (
  SELECT feature, level, y, CAST(COUNT(*) AS BIGINT) AS c
  FROM long GROUP BY 1, 2, 3),
lv AS (SELECT feature, level, CAST(SUM(c) AS BIGINT) AS c_lv
       FROM cells GROUP BY 1, 2),
ym AS (SELECT feature, y, CAST(SUM(c) AS BIGINT) AS c_y
       FROM cells GROUP BY 1, 2),
nm AS (SELECT feature, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
terms AS (
  SELECT c.feature, c.level, c.y,
         CAST(c.c AS DOUBLE) / nm.n
           * ln(CAST(CAST(c.c AS HUGEINT) * nm.n AS DOUBLE)
                / CAST(CAST(lv.c_lv AS HUGEINT) * ym.c_y AS DOUBLE)) AS mi_t
  FROM cells c
  JOIN lv USING (feature, level) JOIN ym USING (feature, y)
  JOIN nm USING (feature)),
hy AS (
  SELECT feature,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(-(CAST(c_y AS DOUBLE) / n) * ln(CAST(c_y AS DOUBLE) / n)
                ORDER BY y)), (a, e) -> a + e) AS h_y
  FROM ym JOIN nm USING (feature) GROUP BY 1),
mi AS (
  SELECT feature,
         CAST(COUNT(DISTINCT level) AS BIGINT) AS n_levels,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(mi_t ORDER BY level, y)), (a, e) -> a + e) AS mi_raw
  FROM terms GROUP BY 1)
SELECT mi.feature, mi.n_levels, ROUND(mi_raw, 6) AS mi_nats,
       ROUND(mi_raw / nullif(h_y, 0), 6) AS info_gain_ratio
FROM mi JOIN hy USING (feature)
ORDER BY mi_nats DESC, feature
"""


@query("mutual_info_feature_rank", oracle=_MI_ORACLE)
def mutual_info_feature_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information FEATURE RANKING against the urgency label:
    which of (order status, order month, price band) carries the most
    information about '1-URGENT'? The filter-method feature-selection
    pass a classifier pipeline runs before training — MI in nats plus
    the label-entropy-normalized gain ratio (comparable across
    features with different level counts). categorical_association
    profiles ONE pair in depth; this ranks MANY features on one scan
    each.

    Exactness: all cell/margin counts exact integers (zero cells
    contribute 0 to MI by the 0*ln(0) convention — no completion
    needed, unlike chi-square); each term pays one ln of an
    exact-integer ratio; per-feature sums are (level, y)-ordered folds;
    the final ranking orders identical doubles with a feature
    tie-break.

    Scale: one union scan per feature (3 scans of one column each,
    map-side collapsed to category-bounded cells); margins join
    feature-keyed bounded relations; output is |features| rows."""
    e = spark.table("orders")
    long = None
    for name, expr in _MI_FEATURES_SPARK:
        part = e.selectExpr(
            f"'{name}' AS feature", f"{expr} AS level", f"{_MI_Y} AS y"
        )
        long = part if long is None else long.unionAll(part)
    cells = long.groupBy("feature", "level", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lv = cells.groupBy("feature", "level").agg(
        F.sum("c").cast("bigint").alias("c_lv")
    )
    ym = cells.groupBy("feature", "y").agg(
        F.sum("c").cast("bigint").alias("c_y")
    )
    nm = cells.groupBy("feature").agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        cells.join(lv, ["feature", "level"])
        .join(ym, ["feature", "y"])
        .join(F.broadcast(nm), "feature")
        .selectExpr(
            "feature",
            "level",
            "y",
            "CAST(c AS DOUBLE) / n"
            " * ln(CAST(CAST(c AS DECIMAL(38,0)) * n AS DOUBLE)"
            "      / CAST(CAST(c_lv AS DECIMAL(38,0)) * c_y AS DOUBLE)) AS mi_t",
        )
    )
    hy = (
        ym.join(F.broadcast(nm), "feature")
        .selectExpr(
            "feature",
            "y",
            "-(CAST(c_y AS DOUBLE) / n) * ln(CAST(c_y AS DOUBLE) / n) AS h_t",
        )
        .groupBy("feature")
        .agg(
            F.expr(ordered_sum("h_t", "y")).alias("h_y")
        )
    )
    mi = terms.groupBy("feature").agg(
        F.countDistinct("level").cast("bigint").alias("n_levels"),
        F.expr(ordered_sum("mi_t", "level", "y")).alias("mi_raw"),
    )
    return (
        mi.join(hy, "feature")
        .selectExpr(
            "feature",
            "n_levels",
            "ROUND(mi_raw, 6) AS mi_nats",
            "ROUND(mi_raw / nullif(h_y, 0), 6) AS info_gain_ratio",
        )
        .orderBy(F.desc("mi_nats"), "feature")
    )


# AR(2) normal equations solved by Cramer's rule: rows of the design
# moment matrix are (m, su, sv | sy), (su, suu, suv | suy),
# (sv, suv, svv | svy). Shared det-expression strings evaluated by both
# engines over the SAME doubles cast once from exact-integer moments.
_AR2_DET = "(m*(suu*svv - suv*suv) - su*(su*svv - suv*sv) + sv*(su*suv - suu*sv))"
_AR2_C = "(sy*(suu*svv - suv*suv) - su*(suy*svv - suv*svy) + sv*(suy*suv - suu*svy))"
_AR2_P1 = "(m*(suy*svv - suv*svy) - sy*(su*svv - suv*sv) + sv*(su*svy - suy*sv))"
_AR2_P2 = "(m*(suu*svy - suy*suv) - su*(su*svy - suy*sv) + sy*(su*suv - suu*sv))"
_AR2_H = 7


def _ar2_oracle() -> str:
    steps = ["s1 AS (SELECT c0, p1, p2, c0 + p1*xn + p2*xnm1 AS f, xn AS fp FROM coef)"]
    for h in range(2, _AR2_H + 1):
        steps.append(
            f"s{h} AS (SELECT c0, p1, p2, c0 + p1*f + p2*fp AS f, f AS fp FROM s{h-1})"
        )
    outs = " UNION ALL ".join(
        f"SELECT {h} AS h, ROUND(f / 100, 2) AS forecast, ROUND(p1, 6) AS phi1,"
        f" ROUND(p2, 6) AS phi2, ROUND(c0, 4) AS intercept_cents FROM s{h}"
        for h in range(1, _AR2_H + 1)
    )
    return f"""
WITH {DAILY_REV_ORDERS_CTE},
ix AS (
  SELECT rev AS x, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily),
lagged AS (
  SELECT x AS y,
         lag(x, 1) OVER (ORDER BY t) AS u,
         lag(x, 2) OVER (ORDER BY t) AS v
  FROM ix),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m_i,
         SUM(CAST(u AS HUGEINT)) AS su_i, SUM(CAST(v AS HUGEINT)) AS sv_i,
         SUM(CAST(y AS HUGEINT)) AS sy_i,
         SUM(CAST(u AS HUGEINT) * u) AS suu_i,
         SUM(CAST(v AS HUGEINT) * v) AS svv_i,
         SUM(CAST(u AS HUGEINT) * v) AS suv_i,
         SUM(CAST(u AS HUGEINT) * y) AS suy_i,
         SUM(CAST(v AS HUGEINT) * y) AS svy_i
  FROM lagged WHERE u IS NOT NULL AND v IS NOT NULL),
seeds AS (
  SELECT CAST(MAX(CASE WHEN t = (SELECT MAX(t) FROM ix) THEN x END) AS DOUBLE) AS xn,
         CAST(MAX(CASE WHEN t = (SELECT MAX(t) FROM ix) - 1 THEN x END) AS DOUBLE) AS xnm1
  FROM ix),
md AS (
  SELECT CAST(m_i AS DOUBLE) AS m, CAST(su_i AS DOUBLE) AS su,
         CAST(sv_i AS DOUBLE) AS sv, CAST(sy_i AS DOUBLE) AS sy,
         CAST(suu_i AS DOUBLE) AS suu, CAST(svv_i AS DOUBLE) AS svv,
         CAST(suv_i AS DOUBLE) AS suv, CAST(suy_i AS DOUBLE) AS suy,
         CAST(svy_i AS DOUBLE) AS svy
  FROM mom),
coef AS (
  SELECT {_AR2_C} / nullif({_AR2_DET}, 0) AS c0,
         {_AR2_P1} / nullif({_AR2_DET}, 0) AS p1,
         {_AR2_P2} / nullif({_AR2_DET}, 0) AS p2,
         xn, xnm1
  FROM md, seeds),
{", ".join(steps)}
SELECT * FROM ({outs}) ORDER BY h
"""


@query("ar2_forecast_daily", oracle=_ar2_oracle())
def ar2_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) autoregressive fit + 7-day recursive forecast over daily
    revenue — the classical Box-Jenkins member of the forecast family
    (holt_linear = trend smoothing, holt_winters = seasonal smoothing,
    THIS = lag regression: tomorrow as a linear function of the last
    two days). Coefficients come from the exact normal equations
    (OLS with intercept on x_{{t-1}}, x_{{t-2}}), solved by Cramer's
    rule.

    Determinism: all nine moments are exact HUGEINT/DECIMAL38
    integers; the three 3x3 determinants are SHARED expression strings
    over doubles cast once (_AR2_DET/_AR2_C/_AR2_P1/_AR2_P2); the
    recursive forecast is SEVEN UNROLLED SELECT steps (not a fold —
    sidestepping DuckDB's list_reduce struct-update hazard entirely),
    each one fixed multiply-add chain.

    Scale: the lag windows ride the calendar-bounded daily relation
    (whitelisted class); the moment aggregate is one row; the unrolled
    forecast is 7 one-row selects."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "ar2_forecast_daily",
        "day-spine",
        "8 backtest folds x (t-index, lag legs) over the day-bounded daily series",
        n_windows=28,
    )
    from pyspark.sql import Window

    daily = daily_rev_orders(spark).select("d", F.col("rev").alias("x"))
    wt = Window.orderBy("d")
    ix = daily.select("x", F.row_number().over(wt).alias("t"))
    wl = Window.orderBy("t")
    lagged = ix.select(
        F.col("x").alias("y"),
        F.lag("x", 1).over(wl).alias("u"),
        F.lag("x", 2).over(wl).alias("v"),
    ).filter("u IS NOT NULL AND v IS NOT NULL")
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = lagged.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m_i"),
        F.sum(d38("u")).alias("su_i"),
        F.sum(d38("v")).alias("sv_i"),
        F.sum(d38("y")).alias("sy_i"),
        F.sum(d38("u") * F.col("u")).alias("suu_i"),
        F.sum(d38("v") * F.col("v")).alias("svv_i"),
        F.sum(d38("u") * F.col("v")).alias("suv_i"),
        F.sum(d38("u") * F.col("y")).alias("suy_i"),
        F.sum(d38("v") * F.col("y")).alias("svy_i"),
    )
    tmax = ix.agg(F.max("t").alias("tmax"))
    seeds = (
        ix.crossJoin(F.broadcast(tmax))
        .filter(F.col("t") >= F.col("tmax") - 1)
        .agg(
            F.max(
                F.when(F.col("t") == F.col("tmax"), F.col("x"))
            ).cast("double").alias("xn"),
            F.max(
                F.when(F.col("t") == F.col("tmax") - 1, F.col("x"))
            ).cast("double").alias("xnm1"),
        )
    )
    md = mom.selectExpr(
        "CAST(m_i AS DOUBLE) AS m",
        "CAST(su_i AS DOUBLE) AS su",
        "CAST(sv_i AS DOUBLE) AS sv",
        "CAST(sy_i AS DOUBLE) AS sy",
        "CAST(suu_i AS DOUBLE) AS suu",
        "CAST(svv_i AS DOUBLE) AS svv",
        "CAST(suv_i AS DOUBLE) AS suv",
        "CAST(suy_i AS DOUBLE) AS suy",
        "CAST(svy_i AS DOUBLE) AS svy",
    )
    coef = md.crossJoin(F.broadcast(seeds)).selectExpr(
        f"{_AR2_C} / nullif({_AR2_DET}, 0) AS c0",
        f"{_AR2_P1} / nullif({_AR2_DET}, 0) AS p1",
        f"{_AR2_P2} / nullif({_AR2_DET}, 0) AS p2",
        "xn",
        "xnm1",
    )
    step = coef.selectExpr(
        "c0", "p1", "p2", "c0 + p1*xn + p2*xnm1 AS f", "xn AS fp"
    )
    out = None
    for h in range(1, _AR2_H + 1):
        if h > 1:
            step = step.selectExpr(
                "c0", "p1", "p2", "c0 + p1*f + p2*fp AS f", "f AS fp"
            )
        row = step.selectExpr(
            f"{h} AS h",
            "ROUND(f / 100, 2) AS forecast",
            "ROUND(p1, 6) AS phi1",
            "ROUND(p2, 6) AS phi2",
            "ROUND(c0, 4) AS intercept_cents",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("h")


# generalized-ESD studentized deviate over the remaining set's exact
# moments: R = |x - s/m| / sqrt((m*q - s*s) / (m*(m-1))) — shared
# string, all operands doubles cast once from exact integers.
_ESD_R = "(abs(x - s / m) / sqrt((m * q - s * s) / (m * (m - 1.0))))"
_ESD_K = 5


def _esd_oracle() -> str:
    parts = [f"WITH {DAILY_REV_ORDERS_CTE}", "rem0 AS (SELECT d, rev AS x FROM daily)"]
    outs = []
    for r in range(1, _ESD_K + 1):
        parts.append(
            f"""st{r} AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS q
  FROM rem{r-1})"""
        )
        parts.append(
            f"""out{r} AS (
  SELECT d, x, {_ESD_R} AS r_stat
  FROM rem{r-1}, st{r}
  ORDER BY {_ESD_R} DESC, d LIMIT 1)"""
        )
        parts.append(
            f"rem{r} AS (SELECT * FROM rem{r-1} "
            f"WHERE d NOT IN (SELECT d FROM out{r}))"
        )
        outs.append(
            f"SELECT {r} AS round, d AS day, x AS rev_cents,"
            f" ROUND(r_stat, 6) AS r_stat FROM out{r}"
        )
    return ",\n".join(parts) + "\nSELECT * FROM (" + " UNION ALL ".join(outs) + ") ORDER BY round"


@query("esd_outliers_daily", oracle=_esd_oracle())
def esd_outliers_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner 1983) top-5 outlier walk over daily
    revenue: iteratively remove the most extreme studentized deviate
    and RECOMPUTE mean/sd on what remains — the masking-proof
    multi-outlier procedure (a single z/MAD pass underestimates spread
    when several outliers inflate it together; anomaly_mad_daily and
    hampel_outliers_daily are the single-pass members). Emits each
    round's day and its R statistic; the consumer thresholds against
    lambda(alpha, n) offline (no t-quantile inverse in either engine —
    documented boundary).

    Determinism: per-round moments are exact HUGEINT/DECIMAL38; R is a
    shared expression string over once-cast doubles; the per-round
    argmax orders identical doubles with a day tie-break.

    Scale: all five rounds chain anti-joins on the calendar-bounded
    daily relation — one declarative plan, no driver loop, nothing
    row-scale after the first aggregate."""
    daily = (
        daily_rev_orders(spark)
        .select("d", F.col("rev").alias("x"))
        # persisted: every round references the survivor chain TWICE
        # (moment agg + candidate scan) and each chain hangs off this
        # relation — without the persist the orders scan re-executes
        # O(2^rounds) times (measured 5.4 s -> the persist makes the
        # walk linear in rounds over a 366-row cached relation)
        .persist()
    )
    remaining = daily
    out = None
    for r in range(1, _ESD_K + 1):
        st = remaining.agg(
            F.count(F.lit(1)).cast("double").alias("m"),
            F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            .cast("double")
            .alias("q"),
        )
        cand = remaining.crossJoin(F.broadcast(st)).selectExpr(
            "d", "x", f"{_ESD_R} AS r_stat"
        )
        # one-row persist per round: the pick feeds both the output row
        # and the next round's anti-join — without it each reference
        # replays the whole prior chain
        picked = cand.orderBy(F.desc("r_stat"), "d").limit(1).persist()
        row = picked.selectExpr(
            f"{r} AS round",
            "d AS day",
            "x AS rev_cents",
            "ROUND(r_stat, 6) AS r_stat",
        )
        out = row if out is None else out.unionAll(row)
        remaining = remaining.join(
            picked.select("d"), "d", "left_anti"
        )
    return out.orderBy("round")


# binary-segmentation between-segment SS gain for a split after local
# position td of a segment with nd points / sd total: the one-step
# k-means objective drop. All operands doubles cast once from exact
# integer cumulative sums; identical expression both engines.
_BS_GAIN = "((csd * nd - sd * td) * (csd * nd - sd * td) / (nd * td * (nd - td)))"

_BINSEG_ORACLE = f"""
WITH {DAILY_REV_ORDERS_CTE},
ix AS (
  SELECT d, rev AS x, ROW_NUMBER() OVER (ORDER BY d) AS t,
         SUM(rev) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM daily),
tot AS (SELECT CAST(MAX(t) AS BIGINT) AS n, CAST(MAX(cs) AS HUGEINT) AS s FROM ix),
g1 AS (
  SELECT d, t,
         CAST(cs AS DOUBLE) AS csd, CAST(t AS DOUBLE) AS td,
         CAST(s AS DOUBLE) AS sd, CAST(n AS DOUBLE) AS nd
  FROM ix CROSS JOIN tot WHERE t < n),
pick1 AS (
  SELECT d, t, {_BS_GAIN} AS gain FROM g1
  ORDER BY {_BS_GAIN} DESC, t LIMIT 1),
seg AS (
  SELECT ix.d, ix.x, ix.t, (ix.t <= pick1.t) AS left_seg
  FROM ix CROSS JOIN pick1),
seg_ix AS (
  SELECT d, left_seg,
         ROW_NUMBER() OVER (PARTITION BY left_seg ORDER BY t) AS tl,
         SUM(x) OVER (PARTITION BY left_seg ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         COUNT(*) OVER (PARTITION BY left_seg) AS n_seg,
         SUM(x) OVER (PARTITION BY left_seg) AS s_seg
  FROM seg),
g2 AS (
  SELECT d, tl,
         CAST(cs AS DOUBLE) AS csd, CAST(tl AS DOUBLE) AS td,
         CAST(s_seg AS DOUBLE) AS sd, CAST(n_seg AS DOUBLE) AS nd
  FROM seg_ix WHERE tl < n_seg),
pick2 AS (
  SELECT d, {_BS_GAIN} AS gain FROM g2
  ORDER BY {_BS_GAIN} DESC, d LIMIT 1)
SELECT * FROM (
  SELECT 1 AS level, d AS split_day, ROUND(gain, 4) AS gain FROM pick1
  UNION ALL
  SELECT 2 AS level, d AS split_day, ROUND(gain, 4) AS gain FROM pick2
) ORDER BY level
"""


@query("binseg_changepoints_daily", oracle=_BINSEG_ORACLE)
def binseg_changepoints_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint detection (top 2 splits) on
    daily revenue: level 1 picks the split maximizing the
    between-segment sum-of-squares gain over the whole series; level 2
    re-runs the same criterion inside the two halves and reports the
    better — the offline changepoint complement to cusum_changepoints'
    sequential detector and page_hinkley_drift's online one (binseg is
    what PELT/ruptures reduce to at depth 1-2).

    Determinism: cumulative sums and totals are exact integers; the
    gain is a shared expression string over once-cast doubles
    (_BS_GAIN); argmaxes order identical doubles with positional
    tie-breaks.

    Scale: the level-1 prefix-sum window rides the calendar-bounded
    daily relation (whitelisted class); level 2 windows are
    PARTITIONED by segment; both argmaxes are TakeOrdered(1)."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "binseg_changepoints_daily",
        "day-spine",
        "prefix sums per split level over the day-bounded daily series",
        n_windows=5,
    )
    from pyspark.sql import Window

    daily = daily_rev_orders(spark).select("d", F.col("rev").alias("x"))
    wt = Window.orderBy("d")
    ix = daily.select(
        "d",
        "x",
        F.row_number().over(wt).alias("t"),
        F.sum("x").over(wt.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
    )
    tot = ix.agg(
        F.max("t").cast("bigint").alias("n"),
        F.max("cs").cast("decimal(38,0)").alias("s"),
    )
    g1 = (
        ix.crossJoin(F.broadcast(tot))
        .filter("t < n")
        .selectExpr(
            "d",
            "t",
            "CAST(cs AS DOUBLE) AS csd",
            "CAST(t AS DOUBLE) AS td",
            "CAST(s AS DOUBLE) AS sd",
            "CAST(n AS DOUBLE) AS nd",
        )
    )
    pick1 = (
        g1.selectExpr("d", "t", f"{_BS_GAIN} AS gain")
        .orderBy(F.desc("gain"), "t")
        .limit(1)
    )
    seg = ix.crossJoin(
        F.broadcast(pick1.select(F.col("t").alias("t1")))
    ).select("d", "x", "t", (F.col("t") <= F.col("t1")).alias("left_seg"))
    ws = Window.partitionBy("left_seg").orderBy("t")
    wsa = Window.partitionBy("left_seg")
    seg_ix = seg.select(
        "d",
        "left_seg",
        F.row_number().over(ws).alias("tl"),
        F.sum("x").over(ws.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        F.count(F.lit(1)).over(wsa).alias("n_seg"),
        F.sum("x").over(wsa).alias("s_seg"),
    )
    g2 = seg_ix.filter("tl < n_seg").selectExpr(
        "d",
        "tl",
        "CAST(cs AS DOUBLE) AS csd",
        "CAST(tl AS DOUBLE) AS td",
        "CAST(s_seg AS DOUBLE) AS sd",
        "CAST(n_seg AS DOUBLE) AS nd",
    )
    pick2 = (
        g2.selectExpr("d", f"{_BS_GAIN} AS gain")
        .orderBy(F.desc("gain"), "d")
        .limit(1)
    )
    lvl1 = pick1.selectExpr(
        "1 AS level", "d AS split_day", "ROUND(gain, 4) AS gain"
    )
    lvl2 = pick2.selectExpr(
        "2 AS level", "d AS split_day", "ROUND(gain, 4) AS gain"
    )
    return lvl1.unionAll(lvl2).orderBy("level")


# Flesch Reading Ease on source-aggregated counts: one shared formula
# string over exact-integer word/sentence/syllable-group sums (decimal
# literals multiply doubles — safe; only decimal/decimal DIVISION is
# the engine-divergence trap, and both divisions here are cast-double).
_FLESCH = (
    "206.835 - 1.015 * (CAST(w AS DOUBLE) / GREATEST(s, 1))"
    " - 84.6 * (CAST(y AS DOUBLE) / GREATEST(w, 1))"
)

_FLESCH_ORACLE = f"""
WITH per_doc AS (
  SELECT source,
         len({{toks}}) AS w_d,
         len(regexp_extract_all(text, '[.!?]+')) AS s_d,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y_d
  FROM documents),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w_d) AS BIGINT) AS w,
         CAST(SUM(s_d) AS BIGINT) AS s,
         CAST(SUM(y_d) AS BIGINT) AS y
  FROM per_doc GROUP BY 1)
SELECT source, n_docs, w AS words, s AS sentences, y AS syllable_groups,
       ROUND(CAST(w AS DOUBLE) / GREATEST(s, 1), 4) AS words_per_sentence,
       ROUND(CAST(y AS DOUBLE) / GREATEST(w, 1), 4) AS syllables_per_word,
       ROUND({_FLESCH}, 4) AS flesch_reading_ease
FROM agg ORDER BY source
"""


def _flesch_oracle() -> str:
    return _FLESCH_ORACLE.format(toks=_TXT.tokens("text", "duck"))


@query("flesch_reading_ease", oracle=_flesch_oracle())
def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per source (Flesch 1948): 206.835 -
    1.015*(words/sentences) - 84.6*(syllables/words), with syllables
    approximated by vowel-group runs ([aeiouy]+ — the standard cheap
    proxy) and sentences by terminal-punctuation runs. The readability
    member of the text-quality family: quality_scores gates junk,
    perplexity gates unnaturalness, THIS profiles difficulty — a
    training-mix lever (children's text vs legalese) LLM data curricula
    cut on.

    Determinism: all three counts are exact integers from the same
    regex semantics in both engines (simple character classes — no
    engine-divergent syntax); the formula is one shared expression
    string paying two cast-double divisions.

    Scale: one documents scan collapsing map-side to |sources| rows;
    the counting is regexp work inside codegen, no explode, no
    shuffle wider than the source rollup."""
    toks = _TXT.tokens("text", "spark")
    per_doc = spark.table("documents").selectExpr(
        "source",
        f"size({toks}) AS w_d",
        "regexp_count(text, '[.!?]+') AS s_d",
        "regexp_count(lower(text), '[aeiouy]+') AS y_d",
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w_d").cast("bigint").alias("w"),
        F.sum("s_d").cast("bigint").alias("s"),
        F.sum("y_d").cast("bigint").alias("y"),
    )
    return agg.selectExpr(
        "source",
        "n_docs",
        "w AS words",
        "s AS sentences",
        "y AS syllable_groups",
        "ROUND(CAST(w AS DOUBLE) / GREATEST(s, 1), 4) AS words_per_sentence",
        "ROUND(CAST(y AS DOUBLE) / GREATEST(w, 1), 4) AS syllables_per_word",
        f"ROUND({_FLESCH}, 4) AS flesch_reading_ease",
    ).orderBy("source")


def _loo_vocab_oracle() -> str:
    toks = _TXT.tokens("text", "duck")
    return f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({toks}) AS token FROM documents),
spread AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_sources FROM tok GROUP BY 1),
scored AS (
  SELECT t.source, s.n_sources FROM tok t JOIN spread s USING (token)),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_all FROM spread)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS exclusive_types,
       ROUND(CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS exclusive_share,
       vocab_all,
       ROUND(CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / vocab_all, 6) AS vocab_loss_if_removed
FROM scored CROSS JOIN tot
GROUP BY source, vocab_all ORDER BY source
"""




# ---------------------------------------------------------------------------
# Per-user inter-arrival exponential fit (r13)
# ---------------------------------------------------------------------------

_IAF_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY event_type, user_id ORDER BY ts, event_id) AS g
  FROM events),
mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(CAST(g AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(g AS HUGEINT) * g) AS HUGEINT) AS q
  FROM gaps WHERE g IS NOT NULL GROUP BY 1)
SELECT event_type, n_gaps,
       ROUND(CAST(s AS DOUBLE) / (n_gaps * 1000000.0), 4) AS mean_gap_s,
       ROUND(3600.0 * 1000000.0 * n_gaps / CAST(s AS DOUBLE), 6)
         AS lambda_per_hour,
       ROUND(sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) / CAST(s AS DOUBLE), 6)
         AS cv
FROM mom ORDER BY event_type
"""


@query("interarrival_exponential_fit", oracle=_IAF_ORACLE)
def interarrival_exponential_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival profile with the exponential-fit
    diagnostics: the MLE rate (lambda = 1/mean gap, in events/hour) and
    the coefficient of variation — CV = 1 exactly for a Poisson
    process, > 1 for bursty arrivals, < 1 for regular ones. The CV is
    the one-number 'is per-user activity memoryless' screen a capacity
    model or a bot detector thresholds on BEFORE trusting any
    Poisson-based anomaly rule (anomaly_seasonal_daily assumes one).

    Exactness: gaps are exact microsecond integers (unix_micros both
    engines); the (n, s, q) moments stay exact DECIMAL/HUGEINT; mean,
    lambda, and CV = sqrt(n*q - s^2)/s each pay one double op at the
    end — shared formulations, bit-identical engines.

    Scale: the lag window is partitioned by (event_type, user_id) —
    millions of small partitions, never a hot global sort; the moment
    rollup is map-side partial to |types| rows. One exchange of
    (type, user)-keyed rows end-to-end."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    gaps = (
        spark.table("events")
        .select(
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    g38 = F.col("g").cast("decimal(38,0)")
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(g38).alias("s"),
        F.sum(g38 * g38).alias("q"),
    )
    return mom.selectExpr(
        "event_type",
        "n_gaps",
        "ROUND(CAST(s AS DOUBLE) / (n_gaps * 1000000.0), 4) AS mean_gap_s",
        "ROUND(3600.0 * 1000000.0 * n_gaps / CAST(s AS DOUBLE), 6)"
        " AS lambda_per_hour",
        "ROUND(sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) / CAST(s AS DOUBLE),"
        " 6) AS cv",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Extreme-value pair: Gumbel block maxima + mean-excess plot (r13)
# ---------------------------------------------------------------------------

_GBM_BLOCK_DAYS = 5
_GBM_RET_T = 12  # return period, in blocks
_GBM_GAMMA = 0.5772156649  # Euler-Mascheroni

# method-of-moments Gumbel over the one-row (n, m, sd) doubles
_GBM_BETA = "(sd * sqrt(6.0) / pi())"
_GBM_MU = f"(m - {_GBM_GAMMA} * {_GBM_BETA})"
# 1e0 (not 1.0): Spark parses a bare 1.0 literal as DECIMAL, so
# 1.0 - 1.0/12 would be decimal arithmetic there and double in DuckDB —
# a 6th-decimal divergence that ROUND(,4) amplifies through the rl chain
_GBM_RL = (
    f"({_GBM_MU} - {_GBM_BETA}"
    f" * ln(-ln(1e0 - 1e0 / {_GBM_RET_T})))"
)

_GBM_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', date_trunc('day', ts))
              AS BIGINT) AS d0,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
blocks AS (
  SELECT event_type, d0 // {_GBM_BLOCK_DAYS} AS blk,
         CAST(MAX(v) AS BIGINT) AS mx
  FROM daily GROUP BY 1, 2),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(mx AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS q
  FROM blocks GROUP BY 1),
d AS (
  SELECT event_type, n_blocks, CAST(n_blocks AS DOUBLE) AS n,
         CAST(s AS DOUBLE) / n_blocks AS m,
         sqrt(CAST(n_blocks * q - s * s AS DOUBLE)
              / (CAST(n_blocks AS DOUBLE) * (n_blocks - 1))) AS sd
  FROM mom)
SELECT event_type, n_blocks,
       ROUND(m, 4) AS mean_max_cents,
       ROUND(sd, 4) AS sd_max_cents,
       ROUND({_GBM_MU}, 4) AS gumbel_mu,
       ROUND({_GBM_BETA}, 4) AS gumbel_beta,
       ROUND({_GBM_RL}, 4) AS return_level_{_GBM_RET_T}
FROM d ORDER BY event_type
"""


@query("gumbel_block_maxima", oracle=_GBM_ORACLE)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) fit over 5-day block maxima of daily revenue per
    event type, by method of moments (beta = sd*sqrt(6)/pi, mu = mean -
    gamma*beta), plus the 12-block return level mu - beta*
    ln(-ln(1 - 1/T)) — 'the daily revenue spike to expect once per T
    blocks'. Extreme-value theory is the capacity-
    planning member of the forecasting family: Holt/theta predict the
    CENTER of tomorrow, this bounds the TAIL (what the peak day will
    cost), which is what batch sizing and alert thresholds actually
    need. The classical caveat is documented, not hidden: MoM on few
    blocks is a point estimate, not an interval.

    Exactness: block maxima and (n, s, q) are exact HUGEINT/DECIMAL38
    integers; mean/sd and the mu/beta/return-level chain are SHARED
    expression strings over one-time double casts — identical engines.

    Scale: one (type, day) rollup, one (type, block) max, one moment
    aggregate — everything after the first exchange is calendar-
    bounded."""
    daily = (
        spark.table("events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d0"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
    )
    blocks = daily.groupBy(
        "event_type", F.expr(f"d0 div {_GBM_BLOCK_DAYS}").alias("blk")
    ).agg(F.max("v").cast("bigint").alias("mx"))
    mx38 = F.col("mx").cast("decimal(38,0)")
    mom = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(mx38).alias("s"),
        F.sum(mx38 * mx38).alias("q"),
    )
    d = mom.selectExpr(
        "event_type",
        "n_blocks",
        "CAST(n_blocks AS DOUBLE) AS n",
        "CAST(s AS DOUBLE) / n_blocks AS m",
        "sqrt(CAST(n_blocks * q - s * s AS DOUBLE)"
        " / (CAST(n_blocks AS DOUBLE) * (n_blocks - 1))) AS sd",
    )
    return d.selectExpr(
        "event_type",
        "n_blocks",
        "ROUND(m, 4) AS mean_max_cents",
        "ROUND(sd, 4) AS sd_max_cents",
        f"ROUND({_GBM_MU}, 4) AS gumbel_mu",
        f"ROUND({_GBM_BETA}, 4) AS gumbel_beta",
        f"ROUND({_GBM_RL}, 4) AS return_level_{_GBM_RET_T}",
    ).orderBy("event_type")


_MEP_THRESHOLDS = [10_000_000, 20_000_000, 30_000_000, 40_000_000, 50_000_000]

_MEP_ORACLE = f"""
WITH v AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
u AS (SELECT UNNEST(ARRAY{_MEP_THRESHOLDS}) AS u_cents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
ex AS (
  SELECT u_cents,
         CAST(COUNT(*) AS BIGINT) AS n_exceed,
         CAST(SUM(CAST(cents - u_cents AS HUGEINT)) AS HUGEINT) AS s_excess
  FROM u JOIN v ON v.cents > u.u_cents
  GROUP BY 1)
SELECT u_cents, n_exceed,
       ROUND(CAST(s_excess AS DOUBLE) / n_exceed, 4) AS mean_excess_cents,
       ROUND(CAST(n_exceed AS DOUBLE) / MAX(n), 6) AS exceed_rate
FROM ex CROSS JOIN tot
GROUP BY u_cents, n_exceed, s_excess ORDER BY u_cents
"""


@query("mean_excess_pot", oracle=_MEP_ORACLE)
def mean_excess_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold mean-excess plot over order values: for
    each threshold u, E[X - u | X > u] and the exceedance rate — THE
    diagnostic of extreme-value theory's other half (gumbel_block_maxima
    fits maxima; POT fits exceedances): a mean-excess curve that rises
    linearly in u indicates a heavy (Pareto-type) tail whose slope maps
    to the GPD shape parameter, a flat curve an exponential tail, a
    falling curve a bounded one. Read it before trusting any revenue
    tail extrapolation.

    Exactness: thresholds are shared literals; excess sums are exact
    HUGEINT/DECIMAL38; one division per row.

    Scale: the threshold relation (5 rows) broadcasts into ONE fact
    scan (a theta-join on a literal grid — never a shuffle); output is
    |thresholds| rows."""
    v = spark.table("orders").select(
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents")
    )
    u = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t).cast("bigint") for t in _MEP_THRESHOLDS])
        ).alias("u_cents")
    )
    tot = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ex = (
        F.broadcast(u)
        .join(v, v.cents > F.col("u_cents"))
        .groupBy("u_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exceed"),
            F.sum(
                (F.col("cents") - F.col("u_cents")).cast("decimal(38,0)")
            ).alias("s_excess"),
        )
    )
    return (
        ex.crossJoin(F.broadcast(tot))
        .selectExpr(
            "u_cents",
            "n_exceed",
            "ROUND(CAST(s_excess AS DOUBLE) / n_exceed, 4) AS mean_excess_cents",
            "ROUND(CAST(n_exceed AS DOUBLE) / n, 6) AS exceed_rate",
        )
        .orderBy("u_cents")
    )


_LDU_ORACLE = """
WITH base AS (
  SELECT CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 10 AS INT)
           AS digit
  FROM orders),
counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS observed,
       0.1 AS expected,
       ROUND(ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) - 0.1, 6)
         AS deviation
FROM counts ORDER BY digit
"""


@query("last_digit_uniformity", oracle=_LDU_ORACLE)
def last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digit uniformity screen over order-value cents — the tail
    companion of benford_first_digit: leading digits follow Benford on
    organically-scaled data, but TRAILING digits of genuine fine-
    grained amounts should be UNIFORM (0.1 each); spikes at 0/5 betray
    rounding, binning, or fabricated values. Same per-digit row shape
    as the Benford screen so the two read side by side.

    Exactness: digits are exact integer mod; observed shares are
    exact-int/exact-int single divisions; no cross-row float paths
    (the benford adjudication: the share window is over 10 rows).

    Scale: one scan, 10 aggregate keys; the total-share window runs on
    the 10-row digit relation."""
    base = spark.table("orders").select(
        F.expr(
            "CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 10 AS INT)"
        ).alias("digit")
    )
    counts = base.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("nn"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "digit",
            "n",
            "ROUND(CAST(n AS DOUBLE) / nn, 6) AS observed",
            "0.1 AS expected",
            "ROUND(ROUND(CAST(n AS DOUBLE) / nn, 6) - 0.1, 6) AS deviation",
        )
        .orderBy("digit")
    )

"""Query inventory, part 7 (round-14 additions; definition order of parts
1-6 is frozen in _registry.REGISTRY_ORDER — new parts append after).

Round-14 families: ordered-alternative and unit-root/randomness tests
(Jonckheere-Terpstra, ADF, turning points, PACF, spectral entropy),
EVT tail-index completion (Hill), experimentation hygiene (TOST
equivalence, delta-method ratio CI, A/A calibration FPR), classifier
fairness audit, context-budget truncation loss, and region-trade
modularity.

Conventions are the package's (see queries/__init__): exact integer
cents, ROUND(x, 6) on both sides, ordered folds for float reductions,
shared expression strings between the Spark plan and the DuckDB oracle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dawis_spark.functions.folds import ordered_sum
from dawis_spark.plans.bounded import register_bounded
from dawis_spark.queries._fragments import DAILY_REV_ORDERS_CTE
from dawis_spark.queries._registry import query
from dawis_spark.queries.q04_sketches_stats_forecast import (
    _BH_AZ,
    _BH_P,
    _BH_TT,
)

_CENTS = "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative test (priority vs order value)
# ---------------------------------------------------------------------------

_JT_GROUPS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_JT_K = len(_JT_GROUPS)

# 2*JT per distinct value: sum over ordered pairs i<j of
# 2*c_j*before_i + c_j*c_i (the tie half-credit carried as an integer
# by doubling) — exact DECIMAL38/HUGEINT, summed over the walk.
_JT2_TERMS = " + ".join(
    f"CAST(c{j} AS {{big}}) * (2 * (cum_c{i} - c{i}) + c{i})"
    for i in range(1, _JT_K + 1)
    for j in range(i + 1, _JT_K + 1)
)

# null moments (Hollander & Wolfe tie-corrected variance), one shared
# double-expression string over the exact integer sums:
#   nn     = N,       sn2  = sum n_i^2
#   snn25  = sum n_i (n_i - 1)(2 n_i + 5)   (groups)
#   snn2   = sum n_i (n_i - 1)(n_i - 2)
#   snn1   = sum n_i (n_i - 1)
#   stt25 / stt2 / stt1 = the same three sums over tie-group sizes t_v
_JT_MU = "(CAST(nn AS DOUBLE) * nn - CAST(sn2 AS DOUBLE)) / 4"
_JT_VAR = (
    "((CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)"
    " - CAST(snn25 AS DOUBLE) - CAST(stt25 AS DOUBLE)) / 72"
    " + CAST(snn2 AS DOUBLE) * CAST(stt2 AS DOUBLE)"
    "   / (36.0 * nn * (nn - 1) * (nn - 2))"
    " + CAST(snn1 AS DOUBLE) * CAST(stt1 AS DOUBLE)"
    "   / (8.0 * nn * (nn - 1)))"
)
_JT_Z = f"(CAST(jt2 AS DOUBLE) / 2 - {_JT_MU}) / sqrt({_JT_VAR})"


def _jt_group_moment_exprs(big: str) -> str:
    """snn*/sn2 from the five group-size columns n1..n5 (k is a literal
    5, so these are closed 5-term expressions, not aggregates)."""
    sn2 = " + ".join(f"CAST(n{i} AS {big}) * n{i}" for i in range(1, _JT_K + 1))
    snn1 = " + ".join(
        f"CAST(n{i} AS {big}) * (n{i} - 1)" for i in range(1, _JT_K + 1)
    )
    snn2 = " + ".join(
        f"CAST(n{i} AS {big}) * (n{i} - 1) * (n{i} - 2)"
        for i in range(1, _JT_K + 1)
    )
    snn25 = " + ".join(
        f"CAST(n{i} AS {big}) * (n{i} - 1) * (2 * n{i} + 5)"
        for i in range(1, _JT_K + 1)
    )
    nn = " + ".join(f"n{i}" for i in range(1, _JT_K + 1))
    return (
        f"CAST({nn} AS BIGINT) AS nn, ({sn2}) AS sn2, ({snn1}) AS snn1,"
        f" ({snn2}) AS snn2, ({snn25}) AS snn25"
    )


def _jt_oracle() -> str:
    cases = ",\n         ".join(
        f"CAST(SUM(CASE WHEN g = '{g}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i+1}"
        for i, g in enumerate(_JT_GROUPS)
    )
    cums = ", ".join(
        f"SUM(c{i}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING"
        f" AND CURRENT ROW) AS cum_c{i}"
        for i in range(1, _JT_K + 1)
    )
    t = " + ".join(f"c{i}" for i in range(1, _JT_K + 1))
    nsums = ", ".join(
        f"CAST(SUM(c{i}) AS BIGINT) AS n{i}" for i in range(1, _JT_K + 1)
    )
    return f"""
WITH vals AS (SELECT {_CENTS} AS v, o_orderpriority AS g FROM orders),
per_v AS (SELECT v, {cases} FROM vals GROUP BY v),
walk AS (SELECT *, {cums} FROM per_v),
jt AS (SELECT SUM({_JT2_TERMS.format(big="HUGEINT")}) AS jt2 FROM walk),
ties AS (
  SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS stt1,
         SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS stt2,
         SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS stt25
  FROM (SELECT ({t}) AS t FROM per_v)),
grp AS (SELECT {nsums} FROM per_v),
moms AS (SELECT {_jt_group_moment_exprs("HUGEINT")} FROM grp)
SELECT nn AS n_rows, CAST({_JT_K} AS INT) AS k_groups,
       ROUND(CAST(jt2 AS DOUBLE) / 2, 1) AS jt_stat,
       ROUND({_JT_MU}, 4) AS mean_null,
       ROUND({_JT_VAR}, 4) AS var_null,
       ROUND({_JT_Z}, 6) AS z_score
FROM jt, ties, moms
"""


@query("jonckheere_terpstra_priority", oracle=_jt_oracle())
def jonckheere_terpstra_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: does order value
    trend MONOTONICALLY across the ordered priority grades? Kruskal-
    Wallis (kruskal_wallis_priority) asks "any difference"; JT spends
    its power on the ordered alternative a priority scheme implies, so
    it detects a monotone drift KW dilutes across k-1 dof. The
    statistic is the sum over ordered group pairs of Mann-Whitney U
    counts; z uses the Hollander-Wolfe tie-corrected null variance.

    Determinism: JT is carried DOUBLED (tie half-credits become integer)
    as an exact DECIMAL38/HUGEINT sum over the distinct-value walk; all
    null-moment sums are exact integers; mu/var/z are one shared
    expression string evaluated on identical integers in both engines.

    Scale: the only data-sized exchanges are the distinct-cents groupBy
    and value_cum_walk's two-level prefix sum (equi-depth buckets, no
    partition-less window, whale-proof by default — SCALE.md r14); the
    pair arithmetic is a closed 10-term expression per distinct value;
    everything after is one 1-row aggregate over the walk."""
    from dawis_spark.operators.stats import total_lit, value_cum_walk

    src = spark.table("orders").selectExpr(
        f"{_CENTS} AS v", "o_orderpriority AS g"
    )
    per_v = src.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == g, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i+1}")
            for i, g in enumerate(_JT_GROUPS)
        ]
    )
    walk, n_v, sizes = value_cum_walk(
        per_v, "v", [f"c{i}" for i in range(1, _JT_K + 1)]
    )
    # ONE aggregate over the walk: the doubled JT sum, the tie-group
    # moments (the walk carries c1..c5 through) and the group sizes
    # n1..n5, which are the walk's totals (NULL on empty input)
    t = " + ".join(f"c{i}" for i in range(1, _JT_K + 1))
    return (
        walk.selectExpr("*", f"({t}) AS t")
        .agg(
            F.expr(f"SUM({_JT2_TERMS.format(big='DECIMAL(38,0)')})").alias("jt2"),
            F.expr("SUM(CAST(t AS DECIMAL(38,0)) * (t - 1))").alias("stt1"),
            F.expr("SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2))").alias(
                "stt2"
            ),
            F.expr(
                "SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5))"
            ).alias("stt25"),
            *[total_lit(n, n_v).alias(f"n{i}") for i, n in enumerate(sizes, 1)],
        )
        .selectExpr("*", *_jt_group_moment_exprs("DECIMAL(38,0)").split(", "))
        .selectExpr(
            "nn AS n_rows",
            f"CAST({_JT_K} AS INT) AS k_groups",
            "ROUND(CAST(jt2 AS DOUBLE) / 2, 1) AS jt_stat",
            f"ROUND({_JT_MU}, 4) AS mean_null",
            f"ROUND({_JT_VAR}, 4) AS var_null",
            f"ROUND({_JT_Z}, 6) AS z_score",
        )
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (EVT family: gumbel_block_maxima and
# mean_excess_pot measure the tail; Hill names its exponent)
# ---------------------------------------------------------------------------

_HILL_K = 100


def _hill_oracle(k: int) -> str:
    return f"""
WITH top AS (SELECT {_CENTS} AS v FROM orders ORDER BY v DESC LIMIT {k + 1}),
rn AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn FROM top),
thr AS (SELECT v AS vt FROM rn WHERE rn = {k + 1}),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_top,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_sort(list(CAST(v AS DOUBLE))),
                              x -> ln(x))), (a, b) -> a + b) AS slog
      FROM rn WHERE rn <= {k})
SELECT k_top, vt AS threshold_cents,
       ROUND(slog - k_top * ln(vt), 6) AS sum_log_excess,
       ROUND(k_top / (slog - k_top * ln(vt)), 6) AS hill_alpha
FROM s, thr
"""


@query("hill_tail_index", oracle=_hill_oracle(_HILL_K))
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill (1975) tail-index estimator over the top-k order statistics
    of order value: alpha = k / sum(ln(x_i / x_(k+1))) — the canonical
    "how heavy is this tail" number. Completes the EVT family:
    gumbel_block_maxima fits block maxima, mean_excess_pot diagnoses
    the threshold, Hill names the power-law EXPONENT the tail decays
    with (alpha <= 2 means infinite variance — the regime where mean-
    based monitoring silently breaks).

    Determinism: the top-(k+1) VALUES are a deterministic multiset
    (ties within equal values are interchangeable); the log sum is an
    ordered fold over the sorted top-k; both engines evaluate the same
    closed form on the same k+1 integers.

    Scale: TakeOrdered(k+1) — a per-partition heap plus a k+1-row
    driver merge, no global sort; everything after is a 101-row
    relation."""
    register_bounded(
        "hill_tail_index",
        "vocab-limit",
        f"row_number over the top-{_HILL_K + 1} TakeOrdered result",
        n_windows=1,
    )
    top = (
        spark.table("orders")
        .selectExpr(f"{_CENTS} AS v")
        .orderBy(F.desc("v"))
        .limit(_HILL_K + 1)
    )
    rn = top.withColumn("rn", F.row_number().over(Window.orderBy(F.desc("v"))))
    # ONE aggregate over the ranked 101-row relation (a second filter
    # branch would re-plan the window node — one pass needs only one)
    s = rn.agg(
        F.expr(
            f"CAST(SUM(CASE WHEN rn <= {_HILL_K} THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("k_top"),
        F.expr(
            f"aggregate(array_sort(collect_list(CASE WHEN rn <= {_HILL_K}"
            " THEN CAST(v AS DOUBLE) END)),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + ln(x))"
        ).alias("slog"),
        F.expr(f"MAX(CASE WHEN rn = {_HILL_K + 1} THEN v END)").alias("vt"),
    )
    return s.selectExpr(
        "k_top",
        "vt AS threshold_cents",
        "ROUND(slog - k_top * ln(vt), 6) AS sum_log_excess",
        "ROUND(k_top / (slog - k_top * ln(vt)), 6) AS hill_alpha",
    )


# ---------------------------------------------------------------------------
# Turning-points randomness test (companion of runs_test: sign runs test
# level randomness, turning points test LOCAL extremum frequency)
# ---------------------------------------------------------------------------

_TP_Z = (
    "(CAST(n_turning AS DOUBLE) - 2.0 * (n_days - 2) / 3)"
    " / sqrt((16.0 * n_days - 29) / 90)"
)


def _turning_points_oracle() -> str:
    return f"""
WITH {DAILY_REV_ORDERS_CTE},
tp AS (
  SELECT rev,
         LAG(rev) OVER (ORDER BY d) AS prv,
         LEAD(rev) OVER (ORDER BY d) AS nxt
  FROM daily),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CASE WHEN (prv < rev AND rev > nxt)
                         OR (prv > rev AND rev < nxt)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
  FROM tp),
zs AS (SELECT n_days, n_turning, {_TP_Z} AS z FROM agg)
SELECT n_days, n_turning,
       ROUND(2 * CAST(n_days - 2 AS DOUBLE) / 3, 4) AS expected_turning,
       ROUND(z, 6) AS z_score, ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
""".replace("{P}", _BH_P).replace("{TT}", _BH_TT).replace("{AZ}", _BH_AZ)


@query("turning_points_test", oracle=_turning_points_oracle())
def turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test on the daily revenue series: count
    STRICT local extrema (y[t-1] < y[t] > y[t+1] or the mirror — tied
    neighbours are not turning points, the documented convention);
    under iid randomness E[T] = 2(n-2)/3, Var = (16n-29)/90. Where
    runs_test_daily_revenue reads sign runs around the median (level
    randomness), this reads oscillation FREQUENCY — too few turning
    points means trend/momentum, too many means alternation (negative
    autocorrelation).

    Determinism: the extremum flags are exact integer comparisons on
    integer cents; E/Var/z/p are shared expression strings (the A&S
    erf polynomial for the two-sided p, the repo's normal-CDF form).

    Scale: the lag/lead pair rides ONE window over the calendar-bounded
    daily relation (day-spine, registered at plan build); output is a
    single row."""
    register_bounded(
        "turning_points_test",
        "day-spine",
        "lag/lead over the day-bounded daily series",
        n_windows=1,
    )
    daily = (
        spark.table("orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.expr(_CENTS)).cast("bigint").alias("rev"),
        )
    )
    w = Window.orderBy("o_orderdate")
    tp = daily.select(
        F.col("rev"),
        F.lag("rev").over(w).alias("prv"),
        F.lead("rev").over(w).alias("nxt"),
    )
    agg = tp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(
            (
                ((F.col("prv") < F.col("rev")) & (F.col("rev") > F.col("nxt")))
                | ((F.col("prv") > F.col("rev")) & (F.col("rev") < F.col("nxt")))
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_turning"),
    )
    return (
        agg.selectExpr("n_days", "n_turning", f"{_TP_Z} AS z")
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_days",
            "n_turning",
            "ROUND(2 * CAST(n_days - 2 AS DOUBLE) / 3, 4) AS expected_turning",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


# ---------------------------------------------------------------------------
# Dickey-Fuller unit-root statistic (no augmentation, drift-only model)
# ---------------------------------------------------------------------------

_ADF_DEN = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
_ADF_B = f"(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / {_ADF_DEN}"
_ADF_A = "(CAST(sy AS DOUBLE) - b * sx) / n"
_ADF_SSR = (
    "CAST(syy AS DOUBLE) + n * a * a + b * b * CAST(sxx AS DOUBLE)"
    " - 2 * a * CAST(sy AS DOUBLE) - 2 * b * CAST(sxy AS DOUBLE)"
    " + 2 * a * b * CAST(sx AS DOUBLE)"
)
_ADF_SE = f"sqrt((ssr / (n - 2)) * n / {_ADF_DEN})"


def _adf_oracle() -> str:
    return f"""
WITH {DAILY_REV_ORDERS_CTE},
lagged AS (
  SELECT rev, LAG(rev) OVER (ORDER BY d) AS prv FROM daily),
pairs AS (
  SELECT CAST(prv AS BIGINT) AS x, CAST(rev - prv AS BIGINT) AS y
  FROM lagged WHERE prv IS NOT NULL),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs),
fit AS (SELECT *, {_ADF_B} AS b FROM sums),
fit2 AS (SELECT *, {_ADF_A} AS a FROM fit),
fit3 AS (SELECT *, {_ADF_SSR} AS ssr FROM fit2)
SELECT n AS n_obs, ROUND(b, 6) AS beta,
       ROUND({_ADF_SE}, 6) AS se_beta,
       ROUND(b / {_ADF_SE}, 6) AS df_stat,
       ROUND(1 + b, 6) AS rho
FROM fit3
"""


@query("adf_unit_root_daily", oracle=_adf_oracle())
def adf_unit_root_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root statistic for daily revenue (drift-only
    model, no augmentation lags — documented simplification): regress
    delta-y on y[t-1]; df_stat = beta / se(beta). A df_stat near 0
    (rho near 1) says the series is a RANDOM WALK — the case where
    every mean-reverting monitor (SPC, CUSUM on levels) false-alarms
    forever and differencing is mandatory before forecasting. The
    forecaster family (ar2/holt/theta) assumes this was checked; now
    it is checkable in-engine. Critical values are model-specific
    tables (report the statistic, not a p).

    Determinism: x/y are exact integer cents; the five moment sums are
    exact DECIMAL38/HUGEINT; b/a/SSR/se are one shared expression
    chain evaluated on identical integers.

    Scale: one lag window over the calendar-bounded daily relation
    (day-spine, registered), one map-side-partial moment aggregate,
    one output row."""
    register_bounded(
        "adf_unit_root_daily",
        "day-spine",
        "lag over the day-bounded daily series",
        n_windows=1,
    )
    daily = (
        spark.table("orders")
        .groupBy("o_orderdate")
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("rev"))
    )
    w = Window.orderBy("o_orderdate")
    pairs = (
        daily.select(
            F.col("rev"), F.lag("rev").over(w).alias("prv")
        )
        .filter(F.col("prv").isNotNull())
        .selectExpr("CAST(prv AS BIGINT) AS x", "CAST(rev - prv AS BIGINT) AS y")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    return (
        sums.selectExpr("*", f"{_ADF_B} AS b")
        .selectExpr("*", f"{_ADF_A} AS a")
        .selectExpr("*", f"{_ADF_SSR} AS ssr")
        .selectExpr(
            "n AS n_obs",
            "ROUND(b, 6) AS beta",
            f"ROUND({_ADF_SE}, 6) AS se_beta",
            f"ROUND(b / {_ADF_SE}, 6) AS df_stat",
            "ROUND(1 + b, 6) AS rho",
        )
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation via Durbin-Levinson (companion of acf: the AR
# order chooser)
# ---------------------------------------------------------------------------

_PACF_M = 6


def _dl_layers(m: int) -> list[list[str]]:
    """Durbin-Levinson recursion as chained SELECT layers over columns
    r1..rm: phi_{k,k} = (r_k - sum_j phi_{k-1,j} r_{k-j}) /
    (1 - sum_j phi_{k-1,j} r_j), then phi_{k,j} = phi_{k-1,j} -
    phi_{k,k} phi_{k-1,k-j}. Emitted as IDENTICAL expression strings
    for the Spark plan and the DuckDB oracle, so the float trajectory
    is engine-identical on identical r_k inputs."""
    layers: list[list[str]] = [["r1 AS p1_1"]]
    for k in range(2, m + 1):
        sub = " + ".join(f"p{k-1}_{j} * r{k-j}" for j in range(1, k))
        den = " + ".join(f"p{k-1}_{j} * r{j}" for j in range(1, k))
        layers.append([f"(r{k} - ({sub})) / (1 - ({den})) AS p{k}_{k}"])
        layers.append(
            [
                f"p{k-1}_{j} - p{k}_{k} * p{k-1}_{k-j} AS p{k}_{j}"
                for j in range(1, k)
            ]
        )
    return layers


def _pacf_oracle(m: int) -> str:
    # unrounded rho per lag — the acf oracle construction minus its
    # final ROUND (q03._acf_oracle; operators/stats._acf_terms twin)
    lag_selects = "\n  UNION ALL ".join(
        f"SELECT {k} AS lag, x, x{k} AS xl FROM leads WHERE x{k} IS NOT NULL"
        for k in range(1, m + 1)
    )
    lead_cols = ", ".join(
        f"LEAD(rev, {k}) OVER (ORDER BY d) AS x{k}" for k in range(1, m + 1)
    )
    rcols = ", ".join(
        f"MAX(CASE WHEN lag = {k} THEN rho END) AS r{k}" for k in range(1, m + 1)
    )
    ctes, prev = [], "rwide"
    for i, layer in enumerate(_dl_layers(m)):
        ctes.append(f"lvl{i} AS (SELECT *, {', '.join(layer)} FROM {prev})")
        prev = f"lvl{i}"
    unpivot = "\nUNION ALL ".join(
        f"SELECT {k} AS lag, ROUND(p{k}_{k}, 6) AS pacf FROM {prev}"
        for k in range(1, m + 1)
    )
    return f"""
WITH {DAILY_REV_ORDERS_CTE},
leads AS (SELECT d, rev AS x, {lead_cols} FROM daily),
gstats AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(CAST(rev AS HUGEINT)) AS s,
         SUM(CAST(rev AS HUGEINT) * rev) AS sxx
  FROM daily),
long AS ({lag_selects}),
per_lag AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS HUGEINT) * xl) AS sxy,
         SUM(CAST(x AS HUGEINT)) AS sh, SUM(CAST(xl AS HUGEINT)) AS st
  FROM long GROUP BY lag),
rho AS (
  SELECT lag,
         CAST(n*n*sxy - n*s*(sh + st) + n_pairs*s*s AS DOUBLE)
           / CAST(n*n*sxx - n*s*s AS DOUBLE) AS rho
  FROM per_lag CROSS JOIN gstats),
rwide AS (SELECT {rcols} FROM rho),
{','.join(ctes)}
SELECT lag, pacf FROM ({unpivot}) ORDER BY lag
"""


@query("pacf_daily_revenue", oracle=_pacf_oracle(_PACF_M))
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1..6 via the
    Durbin-Levinson recursion — the AR-ORDER chooser acf can't be:
    PACF at lag k is the correlation left after regressing out lags
    1..k-1, so an AR(p) series cuts off after lag p (the diagnostic
    that justifies ar2_forecast_daily's p = 2 instead of assuming it).

    Determinism: the rho_k inputs are the acf operator's exact-integer
    construction (one DECIMAL38/HUGEINT division each, engine-
    identical); the recursion is emitted as the SAME chained expression
    strings into both engines, so every intermediate phi is the same
    IEEE double on both sides.

    Scale: all 6 leads ride ONE window over the calendar-bounded daily
    series (day-spine, registered); the recursion runs on a ONE-ROW
    relation of 6 doubles — free."""
    from dawis_spark.operators.stats import _acf_terms

    register_bounded(
        "pacf_daily_revenue",
        "day-spine",
        "lags over the day-bounded daily series",
        n_windows=1,
    )
    daily = (
        spark.table("orders")
        .groupBy("o_orderdate")
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("rev"))
    )
    terms = _acf_terms(daily, "o_orderdate", "rev", _PACF_M)
    wide = terms.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("rho"))).alias(f"r{k}")
            for k in range(1, _PACF_M + 1)
        ]
    )
    for layer in _dl_layers(_PACF_M):
        wide = wide.selectExpr("*", *layer)
    stack = ", ".join(f"{k}, ROUND(p{k}_{k}, 6)" for k in range(1, _PACF_M + 1))
    return wide.selectExpr(
        f"stack({_PACF_M}, {stack}) AS (lag, pacf)"
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Spectral entropy of the daily-revenue periodogram
# ---------------------------------------------------------------------------

_SE_K = 14
_SE_POWER = (
    "(CAST(sc AS DOUBLE) / 100000000.0 / n_days)"
    " * (CAST(sc AS DOUBLE) / 100000000.0 / n_days)"
    " + (CAST(ss AS DOUBLE) / 100000000.0 / n_days)"
    " * (CAST(ss AS DOUBLE) / 100000000.0 / n_days)"
)


def _spectral_entropy_oracle() -> str:
    return f"""
WITH daily AS (
  SELECT CAST(SUM({_CENTS}) AS BIGINT) AS rev,
         ROW_NUMBER() OVER (ORDER BY o_orderdate) - 1 AS t,
         COUNT(*) OVER () AS n
  FROM orders GROUP BY o_orderdate),
grid AS (
  SELECT kk.k, d.rev, d.n,
         CAST(ROUND(cos(2 * pi() * kk.k * d.t / d.n) * 1000000) AS BIGINT) AS c6,
         CAST(ROUND(sin(2 * pi() * kk.k * d.t / d.n) * 1000000) AS BIGINT) AS s6
  FROM daily d CROSS JOIN range(1, {_SE_K + 1}) kk(k)),
sums AS (
  SELECT k, CAST(MAX(n) AS BIGINT) AS n_days,
         SUM(CAST(rev AS HUGEINT) * c6) AS sc,
         SUM(CAST(rev AS HUGEINT) * s6) AS ss
  FROM grid GROUP BY 1),
pw AS (SELECT k, {_SE_POWER} AS p FROM sums),
tot AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(p ORDER BY k)), (a, b) -> a + b) AS ptot
  FROM pw),
ent AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(-(p / ptot) * ln(p / ptot) ORDER BY k)),
           (a, b) -> a + b) AS h,
         MAX(p / ptot) AS max_share
  FROM pw CROSS JOIN tot)
SELECT CAST({_SE_K} AS INT) AS n_freqs,
       ROUND(h / ln({_SE_K}), 6) AS spectral_entropy,
       ROUND(max_share, 6) AS dominant_share
FROM ent
"""


@query("spectral_entropy_daily", oracle=_spectral_entropy_oracle())
def spectral_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of the daily-revenue periodogram:
    H = -sum q_k ln q_k / ln K over the k = 1..14 power shares — ONE
    number for "how concentrated is this series' rhythm" (near 0 = a
    single dominant cycle, near 1 = white noise), where the
    periodogram query reports the whole ridge. The standard
    forecastability screen (tsfeatures' entropy) run before choosing
    between seasonal (holt_winters) and aperiodic (theta) forecasters.

    Determinism: the per-(t, k) trig basis is rounded to micro units
    before the exact integer sums (the periodogram discipline); the
    power normalization and both entropy reductions are k-ordered
    folds of identical doubles.

    Scale: one map-side x14 expand of the calendar-bounded daily
    series, a 14-group exact aggregate, then 14-row arithmetic."""
    register_bounded(
        "spectral_entropy_daily",
        "day-spine",
        "t-index + n over the day-bounded daily series",
        n_windows=2,
    )
    daily = (
        spark.table("orders")
        .groupBy("o_orderdate")
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("rev"))
    )
    indexed = daily.select(
        "rev",
        (F.row_number().over(Window.orderBy("o_orderdate")) - 1).alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    grid = indexed.crossJoin(
        F.broadcast(
            spark.range(1, _SE_K + 1).select(F.col("id").cast("int").alias("k"))
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
    pw = sums.selectExpr("k", f"{_SE_POWER} AS p")
    # ONE collected k-ordered 14-struct array feeds every fold (a
    # second pw branch would re-plan the day-spine windows)
    lst = pw.agg(
        F.expr("array_sort(collect_list(struct(k, p)))").alias("ps")
    )
    ent = (
        lst.selectExpr(
            "ps",
            "aggregate(ps, CAST(0.0 AS DOUBLE), (a, e) -> a + e.p) AS ptot",
        )
        .selectExpr(
            "aggregate(ps, CAST(0.0 AS DOUBLE),"
            " (a, e) -> a - (e.p / ptot) * ln(e.p / ptot)) AS h",
            "aggregate(ps, CAST(0.0 AS DOUBLE),"
            " (a, e) -> greatest(a, e.p)) / ptot AS max_share",
        )
    )
    return ent.selectExpr(
        f"CAST({_SE_K} AS INT) AS n_freqs",
        f"ROUND(h / ln({_SE_K}), 6) AS spectral_entropy",
        "ROUND(max_share, 6) AS dominant_share",
    )


# ---------------------------------------------------------------------------
# TOST equivalence test (two one-sided tests: "provably no worse",
# the decision welch_ttest's null can never grant)
# ---------------------------------------------------------------------------

_TOST_MARGIN_PCT = 0.02  # relative margin: 2% of the control mean

_TOST_MEAN0 = "CAST(s0 AS DOUBLE) / n0"
_TOST_MEAN1 = "CAST(s1 AS DOUBLE) / n1"
_TOST_V0 = "(CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)"
_TOST_V1 = "(CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)"
_TOST_SE = f"sqrt(({_TOST_V0}) / n0 + ({_TOST_V1}) / n1)"
# one-sided upper-tail p from the two-sided A&S form: P(Z > z)
_TOST_P1 = "CASE WHEN z__ >= 0 THEN p2__ / 2 ELSE 1 - p2__ / 2 END"


def _tost_oracle() -> str:
    def one_sided(z_col: str, out: str) -> str:
        return (
            f"(SELECT {_TOST_P1.replace('z__', z_col).replace('p2__', 'p2')} AS {out}"
            f" FROM (SELECT {z_col}, {_BH_P} AS p2"
            f"       FROM (SELECT {z_col}, az, {_BH_TT} AS tt"
            f"             FROM (SELECT {z_col}, abs({z_col}) / sqrt(2) AS az"
            f"                   FROM zs))))"
        )

    return f"""
WITH arms AS (
  SELECT CAST(o_custkey % 2 AS INT) AS arm, {_CENTS} AS v FROM orders),
mom AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         SUM(CASE WHEN arm = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s0,
         SUM(CASE WHEN arm = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS ss0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         SUM(CASE WHEN arm = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1,
         SUM(CASE WHEN arm = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS ss1
  FROM arms),
zs AS (
  SELECT n0, n1,
         {_TOST_MEAN0} AS m0, {_TOST_MEAN1} AS m1,
         ({_TOST_MEAN1}) - ({_TOST_MEAN0}) AS diff,
         {_TOST_MARGIN_PCT} * ({_TOST_MEAN0}) AS marg,
         (({_TOST_MEAN1}) - ({_TOST_MEAN0})
          + {_TOST_MARGIN_PCT} * ({_TOST_MEAN0})) / ({_TOST_SE}) AS zl,
         ({_TOST_MARGIN_PCT} * ({_TOST_MEAN0})
          - (({_TOST_MEAN1}) - ({_TOST_MEAN0}))) / ({_TOST_SE}) AS zu
  FROM mom),
pl AS {one_sided('zl', 'p_lower')},
pu AS {one_sided('zu', 'p_upper')}
SELECT n0 AS n_ctrl, n1 AS n_treat,
       ROUND(m0, 4) AS mean_ctrl_cents, ROUND(m1, 4) AS mean_treat_cents,
       ROUND(diff, 4) AS diff_cents, ROUND(marg, 4) AS margin_cents,
       ROUND(zl, 6) AS z_lower, ROUND(zu, 6) AS z_upper,
       ROUND(GREATEST(p_lower, p_upper), 6) AS p_tost,
       CAST(CASE WHEN GREATEST(p_lower, p_upper) < 0.05 THEN 1 ELSE 0 END
            AS INT) AS equivalent
FROM zs, pl, pu
"""


@query("tost_equivalence_value", oracle=_tost_oracle())
def tost_equivalence_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) on the hash-split order-
    value arms: two one-sided z tests against a +/-2%-of-control
    margin; EQUIVALENT iff max(p_lower, p_upper) < 0.05. The decision
    welch_ttest_order_value structurally cannot grant — failing to
    reject the null is NOT evidence of no effect; TOST inverts the
    burden, which is what a "safe to ship the cheaper variant" or
    "dedup did not hurt quality" call actually needs.

    Determinism: arm moments are exact integer sums off one scan;
    margin/z/p are shared expression strings (A&S one-sided form);
    the relative margin is computed from the control mean — the
    standard relative-equivalence-bound convention, documented.

    Scale: one map-side conditional-moment scan to a single row."""
    arms = spark.table("orders").selectExpr(
        "CAST(o_custkey % 2 AS INT) AS arm", f"{_CENTS} AS v"
    )
    mom = arms.agg(
        F.expr("CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("n0"),
        F.expr("SUM(CASE WHEN arm = 0 THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END)").alias("s0"),
        F.expr("SUM(CASE WHEN arm = 0 THEN CAST(v AS DECIMAL(38,0)) * v ELSE 0 END)").alias("ss0"),
        F.expr("CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("n1"),
        F.expr("SUM(CASE WHEN arm = 1 THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END)").alias("s1"),
        F.expr("SUM(CASE WHEN arm = 1 THEN CAST(v AS DECIMAL(38,0)) * v ELSE 0 END)").alias("ss1"),
    )
    zs = mom.selectExpr(
        "n0",
        "n1",
        f"{_TOST_MEAN0} AS m0",
        f"{_TOST_MEAN1} AS m1",
        f"({_TOST_MEAN1}) - ({_TOST_MEAN0}) AS diff",
        f"{_TOST_MARGIN_PCT} * ({_TOST_MEAN0}) AS marg",
        f"(({_TOST_MEAN1}) - ({_TOST_MEAN0})"
        f" + {_TOST_MARGIN_PCT} * ({_TOST_MEAN0})) / ({_TOST_SE}) AS zl",
        f"({_TOST_MARGIN_PCT} * ({_TOST_MEAN0})"
        f" - (({_TOST_MEAN1}) - ({_TOST_MEAN0}))) / ({_TOST_SE}) AS zu",
    )
    withp = (
        zs.selectExpr("*", "abs(zl) / sqrt(2) AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr("*", f"{_BH_P} AS p2")
        .selectExpr(
            "* EXCEPT (az, tt, p2)",
            f"{_TOST_P1.replace('z__', 'zl').replace('p2__', 'p2')} AS p_lower",
        )
        .selectExpr("*", "abs(zu) / sqrt(2) AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr("*", f"{_BH_P} AS p2")
        .selectExpr(
            "* EXCEPT (az, tt, p2)",
            f"{_TOST_P1.replace('z__', 'zu').replace('p2__', 'p2')} AS p_upper",
        )
    )
    return withp.selectExpr(
        "n0 AS n_ctrl",
        "n1 AS n_treat",
        "ROUND(m0, 4) AS mean_ctrl_cents",
        "ROUND(m1, 4) AS mean_treat_cents",
        "ROUND(diff, 4) AS diff_cents",
        "ROUND(marg, 4) AS margin_cents",
        "ROUND(zl, 6) AS z_lower",
        "ROUND(zu, 6) AS z_upper",
        "ROUND(GREATEST(p_lower, p_upper), 6) AS p_tost",
        "CAST(CASE WHEN GREATEST(p_lower, p_upper) < 0.05 THEN 1 ELSE 0 END"
        " AS INT) AS equivalent",
    )


# ---------------------------------------------------------------------------
# Delta-method CI for a clustered ratio metric (revenue per order with
# customer as the randomization unit)
# ---------------------------------------------------------------------------

_DM_R = "CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE)"
_DM_VY = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m) / (m - 1)"
_DM_VN = "(CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / m) / (m - 1)"
_DM_CV = "(CAST(syn AS DOUBLE) - CAST(sy AS DOUBLE) * sn / m) / (m - 1)"
_DM_SE = (
    f"sqrt((({_DM_VY}) - 2 * ({_DM_R}) * ({_DM_CV})"
    f" + ({_DM_R}) * ({_DM_R}) * ({_DM_VN})) / m)"
    f" / (CAST(sn AS DOUBLE) / m)"
)


def _delta_ratio_oracle() -> str:
    return f"""
WITH per_c AS (
  SELECT o_custkey, SUM(CAST({_CENTS} AS HUGEINT)) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(y) AS sy, SUM(CAST(n AS HUGEINT)) AS sn,
         SUM(y * y) AS syy, SUM(CAST(n AS HUGEINT) * n) AS snn,
         SUM(y * n) AS syn
  FROM per_c)
SELECT m AS m_customers,
       ROUND({_DM_R}, 6) AS ratio_cents,
       ROUND({_DM_SE}, 6) AS se_ratio,
       ROUND(({_DM_R}) - 1.96 * ({_DM_SE}), 6) AS ci_lo,
       ROUND(({_DM_R}) + 1.96 * ({_DM_SE}), 6) AS ci_hi
FROM mom
"""


@query("delta_method_ratio_ci", oracle=_delta_ratio_oracle())
def delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for REVENUE PER ORDER with CUSTOMER as the
    analysis unit — the ratio-metric variance every order-level t-test
    silently gets wrong (orders within a customer are correlated;
    treating them as iid understates the variance). se(Y-bar/N-bar) ~
    sqrt((var_y - 2 R cov + R^2 var_n) / m) / mean_n over customer-
    level totals — the standard cluster-randomized ratio-metric form
    (Deng et al., KDD 2018 shape).

    Determinism: per-customer totals are exact integers; the five
    moment sums are exact DECIMAL38/HUGEINT; R/var/cov/se/CI are one
    shared expression chain on identical integers.

    Scale: one customer-keyed aggregate (map-side partial), one 1-row
    moment reduce; nothing else."""
    per_c = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(f"SUM(CAST({_CENTS} AS DECIMAL(38,0)))").alias("y"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    mom = per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.expr("SUM(y)").alias("sy"),
        F.expr("SUM(CAST(n AS DECIMAL(38,0)))").alias("sn"),
        F.expr("SUM(y * y)").alias("syy"),
        F.expr("SUM(CAST(n AS DECIMAL(38,0)) * n)").alias("snn"),
        F.expr("SUM(y * n)").alias("syn"),
    )
    return mom.selectExpr(
        "m AS m_customers",
        f"ROUND({_DM_R}, 6) AS ratio_cents",
        f"ROUND({_DM_SE}, 6) AS se_ratio",
        f"ROUND(({_DM_R}) - 1.96 * ({_DM_SE}), 6) AS ci_lo",
        f"ROUND(({_DM_R}) + 1.96 * ({_DM_SE}), 6) AS ci_hi",
    )


# ---------------------------------------------------------------------------
# A/A calibration: false-positive rate of the z-test over K null splits
# ---------------------------------------------------------------------------

_AA_K = 32
# portable integer mix, high-bit arm assignment: the LOW bit of any
# (k * odd + c) mod 2^32 is linear in k's parity — useless as a split —
# so the arm reads the HIGH bit instead. (custkey % 2^31) * 2654435761
# stays under 2^63 (no overflow in either engine's int64).
_AA_ARM = (
    "CAST(CASE WHEN ((o_custkey % 2147483648) * 2654435761 + s * 40503)"
    " % 4294967296 >= 2147483648 THEN 1 ELSE 0 END AS INT)"
)
_AA_Z = (
    "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
    " / sqrt(((CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0"
    "      + ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)"
)


def _aa_calibration_oracle() -> str:
    return f"""
WITH per_c AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cn,
         SUM(CAST({_CENTS} AS HUGEINT)) AS cs,
         SUM(CAST({_CENTS} AS HUGEINT) * {_CENTS}) AS css
  FROM orders GROUP BY 1),
grid AS (
  SELECT s.s, {_AA_ARM} AS arm, cn, cs, css
  FROM per_c CROSS JOIN (SELECT unnest(range({_AA_K})) AS s) s),
mom AS (
  SELECT s,
         CAST(SUM(CASE WHEN arm = 0 THEN cn ELSE 0 END) AS BIGINT) AS n0,
         SUM(CASE WHEN arm = 0 THEN cs ELSE 0 END) AS s0,
         SUM(CASE WHEN arm = 0 THEN css ELSE 0 END) AS ss0,
         CAST(SUM(CASE WHEN arm = 1 THEN cn ELSE 0 END) AS BIGINT) AS n1,
         SUM(CASE WHEN arm = 1 THEN cs ELSE 0 END) AS s1,
         SUM(CASE WHEN arm = 1 THEN css ELSE 0 END) AS ss1
  FROM grid GROUP BY s),
zs AS (SELECT s, {_AA_Z} AS z FROM mom)
SELECT CAST({_AA_K} AS INT) AS k_splits,
       CAST(SUM(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       ROUND(CAST(SUM(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END) AS DOUBLE)
             / {_AA_K}, 6) AS fpr,
       ROUND(MAX(abs(z)), 6) AS max_abs_z,
       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(abs(z) ORDER BY s)), (a, b) -> a + b) / {_AA_K}, 6)
         AS mean_abs_z
FROM zs
"""


@query("aa_calibration_fpr", oracle=_aa_calibration_oracle())
def aa_calibration_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A CALIBRATION harness: run the Welch z-test on K = 32 NULL
    splits of order value (deterministic hash re-randomizations of the
    same population) and report the realized false-positive rate at
    alpha = 0.05. The pre-flight every experimentation platform runs
    before trusting a single A/B readout: an FPR far from 5% means the
    unit of analysis, the variance formula, or the assignment hash is
    broken (srm_check audits ONE split's balance; this audits the TEST
    ITSELF across many).

    Determinism: split arms come from a portable integer mix (high-bit
    read — documented in _AA_ARM: the low bit of a linear mix is
    parity, not randomness); per-split moments are exact integer sums;
    z is a shared expression; the mean |z| is a split-ordered fold.

    Scale: ONE scan map-side-expanded x32 into a 64-group exact
    aggregate — constant factor, no extra shuffle; everything after is
    32 rows."""
    # pre-aggregate the value moments per CUSTOMER (the split unit)
    # BEFORE the x32 expansion: the arm depends only on custkey, and
    # integer sums are associative, so the per-split moments — and the
    # z's — are the exact same integers at 1/orders-per-customer the
    # expanded volume (measured sf1: 11.1 s -> see SCALE.md r14)
    per_c = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.expr(f"SUM(CAST({_CENTS} AS DECIMAL(38,0)))").alias("cs"),
            F.expr(f"SUM(CAST({_CENTS} AS DECIMAL(38,0)) * {_CENTS})").alias(
                "css"
            ),
        )
    )
    grid = per_c.crossJoin(
        F.broadcast(
            spark.range(_AA_K).select(F.col("id").cast("int").alias("s"))
        )
    ).selectExpr("s", f"{_AA_ARM} AS arm", "cn", "cs", "css")
    mom = grid.groupBy("s").agg(
        F.expr("CAST(SUM(CASE WHEN arm = 0 THEN cn ELSE 0 END) AS BIGINT)").alias("n0"),
        F.expr("SUM(CASE WHEN arm = 0 THEN cs ELSE 0 END)").alias("s0"),
        F.expr("SUM(CASE WHEN arm = 0 THEN css ELSE 0 END)").alias("ss0"),
        F.expr("CAST(SUM(CASE WHEN arm = 1 THEN cn ELSE 0 END) AS BIGINT)").alias("n1"),
        F.expr("SUM(CASE WHEN arm = 1 THEN cs ELSE 0 END)").alias("s1"),
        F.expr("SUM(CASE WHEN arm = 1 THEN css ELSE 0 END)").alias("ss1"),
    )
    zs = mom.selectExpr("s", f"{_AA_Z} AS z")
    return zs.agg(
        F.expr(f"CAST({_AA_K} AS INT)").alias("k_splits"),
        F.expr(
            "CAST(SUM(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_false_pos"),
        F.expr(
            "ROUND(CAST(SUM(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END)"
            f" AS DOUBLE) / {_AA_K}, 6)"
        ).alias("fpr"),
        F.expr("ROUND(MAX(abs(z)), 6)").alias("max_abs_z"),
        F.expr(f"ROUND({ordered_sum('abs(z)', 's')} / {_AA_K}, 6)").alias(
            "mean_abs_z"
        ),
    )


# ---------------------------------------------------------------------------
# Context-budget truncation loss (what a context-length cap costs)
# ---------------------------------------------------------------------------

_TRUNC_LENGTHS = [16, 32, 64, 128, 256]


def _truncation_oracle() -> str:
    from dawis_spark.functions import text as _TXT

    toks = _TXT.tokens("text", "duck")
    ls = ", ".join(str(x) for x in _TRUNC_LENGTHS)
    return f"""
WITH n AS (SELECT CAST(len({toks}) AS BIGINT) AS nt FROM documents),
grid AS (SELECT l.l, nt FROM n CROSS JOIN (SELECT unnest([{ls}]) AS l) l)
SELECT CAST(l AS INT) AS context_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN nt > l THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_truncated,
       CAST(SUM(nt) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN nt > l THEN nt - l ELSE 0 END) AS BIGINT)
         AS tokens_lost,
       ROUND(CAST(SUM(CASE WHEN nt > l THEN nt - l ELSE 0 END) AS DOUBLE)
             / SUM(nt), 6) AS frac_lost
FROM grid GROUP BY l ORDER BY context_len
"""


@query("context_truncation_loss", oracle=_truncation_oracle())
def context_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget planning curve: for each candidate sequence length
    L, how many documents exceed it and what fraction of the corpus'
    tokens a hard truncation at L throws away. THE first table a
    pretraining-data owner reads when choosing packing length
    (doc_packing_shards consumes the L this query justifies): too
    short burns tail tokens, too long burns padding — this prices the
    first half; the packer's fill rate prices the second.

    Determinism: whitespace token counts (the token_counts convention,
    shared tokenizer expression); everything is exact integer sums per
    literal L.

    Scale: one tokenize-and-count scan (counts only — token arrays
    never leave the map side), expanded by a CONSTANT |L| grid into a
    5-group exact aggregate."""
    from dawis_spark.functions import text as _TXT

    toks = _TXT.tokens("text", "spark")
    n = spark.table("documents").selectExpr(f"CAST(size({toks}) AS BIGINT) AS nt")
    ls = ", ".join(str(x) for x in _TRUNC_LENGTHS)
    grid = n.selectExpr("nt", f"explode(array({ls})) AS l")
    return (
        grid.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(SUM(CASE WHEN nt > l THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("docs_truncated"),
            F.expr("CAST(SUM(nt) AS BIGINT)").alias("tokens_total"),
            F.expr(
                "CAST(SUM(CASE WHEN nt > l THEN nt - l ELSE 0 END) AS BIGINT)"
            ).alias("tokens_lost"),
        )
        .selectExpr(
            "CAST(l AS INT) AS context_len",
            "n_docs",
            "docs_truncated",
            "tokens_total",
            "tokens_lost",
            "ROUND(CAST(tokens_lost AS DOUBLE) / tokens_total, 6) AS frac_lost",
        )
        .orderBy("context_len")
    )


# ---------------------------------------------------------------------------
# Modularity of the region partition over the customer-supplier trade
# graph (is trade actually regional?)
# ---------------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
sided AS (
  SELECT rc.r_name AS rc, rs.r_name AS rs
  FROM pairs
  JOIN customer ON c = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region rc ON nc.n_regionkey = rc.r_regionkey
  JOIN supplier ON s = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN region rs ON ns.n_regionkey = rs.r_regionkey),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM sided),
per_r AS (
  SELECT r_name,
         CAST(SUM(CASE WHEN rc = r_name AND rs = r_name THEN 1 ELSE 0 END)
              AS BIGINT) AS intra_edges,
         CAST(SUM(CASE WHEN rc = r_name THEN 1 ELSE 0 END)
              + SUM(CASE WHEN rs = r_name THEN 1 ELSE 0 END) AS BIGINT)
           AS degree_endpoints
  FROM sided CROSS JOIN (SELECT r_name FROM region) r
  GROUP BY r_name),
contrib AS (
  SELECT r_name, intra_edges, degree_endpoints, m_edges,
         CAST(intra_edges AS DOUBLE) / m_edges
         - (CAST(degree_endpoints AS DOUBLE) / (2 * m_edges))
           * (CAST(degree_endpoints AS DOUBLE) / (2 * m_edges)) AS contribution
  FROM per_r CROSS JOIN m),
q AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(contribution ORDER BY r_name)), (a, b) -> a + b) AS q_mod
  FROM contrib)
SELECT r_name, intra_edges, degree_endpoints, m_edges,
       ROUND(contribution, 6) AS contribution,
       ROUND(q_mod, 6) AS q_modularity
FROM contrib CROSS JOIN q ORDER BY r_name
"""


@query("region_trade_modularity", oracle=_MODULARITY_ORACLE)
def region_trade_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the GIVEN region partition over the
    customer-supplier trade graph: Q = sum_r (e_rr/m - (d_r/2m)^2) —
    does trade concentrate inside regions beyond what degrees alone
    predict? Positive contribution = a region trades with itself;
    Q near 0 = geography doesn't structure the graph. The partition-
    quality primitive community_detection_lpa LACKS a score for — here
    scored for the one partition the schema itself defines.

    Determinism: all edge/degree counts are exact integers off the
    deduplicated pair relation; contributions are one shared division
    chain; Q is a region-ordered fold.

    Scale: the distinct (cust, supp) pair build is the graph family's
    standard edge exchange; region sides come from broadcast dimension
    joins (nation/region are tiny); the region grid is a 5-row
    broadcast cross join — the per-edge work is a constant-width
    conditional sum into 5 groups."""
    pairs = (
        spark.table("lineitem")
        .join(
            spark.table("orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    nc = (
        spark.table("customer")
        .join(
            F.broadcast(spark.table("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(spark.table("region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("c_custkey").alias("c"), F.col("r_name").alias("rc"))
    )
    ns = (
        spark.table("supplier")
        .join(
            F.broadcast(spark.table("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(spark.table("region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("s_suppkey").alias("s"), F.col("r_name").alias("rs"))
    )
    sided = pairs.join(nc, "c").join(F.broadcast(ns), "s").select("rc", "rs")
    # ONE row-scale pass (r15): per_r is persisted (5 rows) and m_edges is
    # read off it via the exact degree identity sum(degree_endpoints) =
    # 2m (every edge has exactly one rc and one rs inside the 5-name grid
    # — both sides come off INNER region joins), so the separate count
    # pass and the 2-4 end-to-end re-evaluations of the pair build that
    # the m/contrib/q consumers paid (68 scans in the before plan) are
    # gone. Same exact integers.
    per_r = (
        sided.crossJoin(F.broadcast(spark.table("region").select("r_name")))
        .groupBy("r_name")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN rc = r_name AND rs = r_name"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("intra_edges"),
            F.expr(
                "CAST(SUM(CASE WHEN rc = r_name THEN 1 ELSE 0 END)"
                " + SUM(CASE WHEN rs = r_name THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("degree_endpoints"),
        )
        .persist()
    )
    m = per_r.agg(
        F.expr("CAST(SUM(degree_endpoints) DIV 2 AS BIGINT)").alias("m_edges")
    )
    contrib = per_r.crossJoin(F.broadcast(m)).selectExpr(
        "r_name",
        "intra_edges",
        "degree_endpoints",
        "m_edges",
        "CAST(intra_edges AS DOUBLE) / m_edges"
        " - (CAST(degree_endpoints AS DOUBLE) / (2 * m_edges))"
        "   * (CAST(degree_endpoints AS DOUBLE) / (2 * m_edges))"
        " AS contribution",
    )
    q = contrib.agg(
        F.expr(ordered_sum("contribution", "r_name")).alias("q_mod")
    )
    return (
        contrib.crossJoin(F.broadcast(q))
        .selectExpr(
            "r_name",
            "intra_edges",
            "degree_endpoints",
            "m_edges",
            "ROUND(contribution, 6) AS contribution",
            "ROUND(q_mod, 6) AS q_modularity",
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# Classifier fairness audit: per-source error-rate gaps of the trained
# quality classifier (equalized-odds / demographic-parity panel)
# ---------------------------------------------------------------------------


def _fairness_oracle(dim: int, iters: int, lr: float) -> str:
    from dawis_spark.queries.q01_spine_dedup_ann import _VEC
    from dawis_spark.queries.q02_corpus_quality_classifiers import (
        _LOGREG_SAMPLE_LIMIT,
        _logreg_chain_ctes,
    )

    dot = _VEC.dot("xs", "wl", "duck")
    return f"""
WITH {_logreg_chain_ctes(dim, iters, lr, _LOGREG_SAMPLE_LIMIT)},
wlF AS (SELECT list(weight ORDER BY dim) AS wl FROM w{iters}),
scF AS MATERIALIZED (
  SELECT v.vec_id, CAST(v.y AS INT) AS y,
         round(1.0 / (1.0 + exp(-(round({dot}, 6)))), 6) AS p
  FROM v, wlF),
per AS (
  SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN p >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN p >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN p < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN p < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scF JOIN documents d ON scF.vec_id = d.doc_id
  GROUP BY d.source),
rates AS (
  SELECT source, n_docs, tp, fp, fn, tn,
         CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS tpr,
         CAST(fp AS DOUBLE) / nullif(fp + tn, 0) AS fpr,
         CAST(tp + fp AS DOUBLE) / n_docs AS sel
  FROM per),
gaps AS (
  SELECT MAX(tpr) - MIN(tpr) AS tpr_gap,
         MAX(fpr) - MIN(fpr) AS fpr_gap,
         MAX(sel) - MIN(sel) AS sel_gap
  FROM rates)
SELECT source, n_docs, tp, fp, fn, tn,
       ROUND(tpr, 6) AS tpr, ROUND(fpr, 6) AS fpr,
       ROUND(sel, 6) AS selection_rate,
       ROUND(tpr_gap, 6) AS tpr_gap,
       ROUND(fpr_gap, 6) AS fpr_gap,
       ROUND(sel_gap, 6) AS selection_gap
FROM rates CROSS JOIN gaps ORDER BY source
"""


@query("classifier_fairness_gaps", oracle=_fairness_oracle(64, 3, 1.0))
def classifier_fairness_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the trained quality classifier BY
    SOURCE: per-source confusion cells, TPR / FPR / selection rate,
    and the max-min gaps — equalized odds (TPR/FPR gaps) and
    demographic parity (selection gap) in one panel. The question a
    quality-filtering pipeline must answer before deploying the gate:
    does the filter reject good documents from one source at a higher
    rate than another? A large TPR gap means the mix AFTER filtering
    is biased even if the mix before it was not.

    Determinism: the shared trained vector (no retrain — the classifier
    family's memoized sample-bounded weights); cells are exact integers
    off one scoring scan; rates and gaps are shared division strings.

    Scale: one scoring scan joined to the doc dimension on vec_id
    (both sides key-partitioned), collapsing to |sources| rows; gaps
    are a 1-row reduce broadcast back."""
    from dawis_spark.operators.logreg import margin_expr
    from dawis_spark.queries.q02_corpus_quality_classifiers import (
        _LOGREG_Y_SPARK,
        _trained_logreg_w,
    )

    emb = spark.table("embeddings")
    w = _trained_logreg_w(spark, sf_dir)
    p = f"round(1.0 / (1.0 + exp(-(round({margin_expr('embedding', w)}, 6)))), 6)"
    scored = emb.selectExpr(
        "vec_id", f"cast({_LOGREG_Y_SPARK} as int) AS y", f"{p} AS p"
    )
    per = (
        scored.join(
            spark.table("documents").select(
                F.col("doc_id").alias("vec_id"), "source"
            ),
            "vec_id",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("CAST(SUM(CASE WHEN p >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("tp"),
            F.expr("CAST(SUM(CASE WHEN p >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("fp"),
            F.expr("CAST(SUM(CASE WHEN p < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("fn"),
            F.expr("CAST(SUM(CASE WHEN p < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("tn"),
        )
    )
    rates = per.selectExpr(
        "source",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        "CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS tpr",
        "CAST(fp AS DOUBLE) / nullif(fp + tn, 0) AS fpr",
        "CAST(tp + fp AS DOUBLE) / n_docs AS sel",
    )
    gaps = rates.agg(
        F.expr("MAX(tpr) - MIN(tpr)").alias("tpr_gap"),
        F.expr("MAX(fpr) - MIN(fpr)").alias("fpr_gap"),
        F.expr("MAX(sel) - MIN(sel)").alias("sel_gap"),
    )
    return (
        rates.crossJoin(F.broadcast(gaps))
        .selectExpr(
            "source",
            "n_docs",
            "tp",
            "fp",
            "fn",
            "tn",
            "ROUND(tpr, 6) AS tpr",
            "ROUND(fpr, 6) AS fpr",
            "ROUND(sel, 6) AS selection_rate",
            "ROUND(tpr_gap, 6) AS tpr_gap",
            "ROUND(fpr_gap, 6) AS fpr_gap",
            "ROUND(sel_gap, 6) AS selection_gap",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cumulative SRM watch — the oracle-backed batch twin of the streaming
# monitor (streaming/srmmon.py), the forecastmon <-> holt_residual
# pairing applied to the seventh detector
# ---------------------------------------------------------------------------

_SRMW_MIN_N = 100
_SRMW_CRIT = 3.841459  # chi-square(1) upper 0.05 (the srm_check literal)
_SRMW_CHI2 = (
    "CAST((cum_n_a - cum_n_b) * (cum_n_a - cum_n_b) AS DOUBLE)"
    " / (cum_n_a + cum_n_b)"
)


def _srm_watch_oracle() -> str:
    return f"""
WITH enroll AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         MIN(date_trunc('day', ts)) AS day
  FROM events GROUP BY user_id, arm),
daily AS (
  SELECT day,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM enroll GROUP BY day),
cum AS (
  SELECT day, n_a, n_b,
         CAST(SUM(n_a) OVER w AS BIGINT) AS cum_n_a,
         CAST(SUM(n_b) OVER w AS BIGINT) AS cum_n_b
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))
SELECT day, cum_n_a, cum_n_b,
       ROUND({_SRMW_CHI2}, 6) AS chi2,
       CAST(CASE WHEN cum_n_a + cum_n_b >= {_SRMW_MIN_N}
                  AND {_SRMW_CHI2} > {_SRMW_CRIT}
            THEN 1 ELSE 0 END AS INT) AS srm_flag
FROM cum ORDER BY day
"""


@query("srm_cumulative_watch", oracle=_srm_watch_oracle())
def srm_cumulative_watch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sample-ratio-mismatch walk over cumulative enrollments:
    per enrollment day, the cumulative arm totals and the RUNNING
    two-cell chi-square against the designed 50/50 split, gated on
    min_n = 100 cumulative enrollments (tiny totals cross on noise).
    srm_check flags individual DAYS whose split broke; this walks the
    cumulative ratio — the exact decision the streaming monitor
    (streaming/srmmon.py, srm_closed_form) replays per micro-batch, so
    the two stay equivalent BY SHARED DEFINITION, with this query as
    the DuckDB-oracle-backed member of the pair (the forecastmon <->
    holt_residual_breaches pairing, applied to detector #7; pinned in
    tests/test_round14_ops.py by feeding the monitor this query's
    daily rollups).

    Determinism: enrollment day is an exact MIN; all counts and
    cumulative sums exact integers; chi2 is one shared division
    string; the flag compares that quotient to shared literals.

    Scale: one user-keyed aggregate, one day-keyed rollup to a
    calendar-bounded relation, one day-spine cumulative window
    (registered); output is |days| rows."""
    register_bounded(
        "srm_cumulative_watch",
        "day-spine",
        "cumulative arm totals over the day-bounded enrollment series",
        n_windows=1,
    )
    enroll = (
        spark.table("events")
        .groupBy("user_id", (F.col("user_id") % 2).cast("int").alias("arm"))
        .agg(F.min(F.date_trunc("day", "ts")).alias("day"))
    )
    daily = enroll.groupBy("day").agg(
        F.sum((F.col("arm") == 0).cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("arm") == 1).cast("int")).cast("bigint").alias("n_b"),
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "day",
        F.sum("n_a").over(w).cast("bigint").alias("cum_n_a"),
        F.sum("n_b").over(w).cast("bigint").alias("cum_n_b"),
    )
    return cum.selectExpr(
        "day",
        "cum_n_a",
        "cum_n_b",
        f"ROUND({_SRMW_CHI2}, 6) AS chi2",
        f"CAST(CASE WHEN cum_n_a + cum_n_b >= {_SRMW_MIN_N}"
        f" AND {_SRMW_CHI2} > {_SRMW_CRIT} THEN 1 ELSE 0 END AS INT)"
        " AS srm_flag",
    ).orderBy("day")

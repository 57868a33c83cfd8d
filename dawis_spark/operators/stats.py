"""Nonparametric statistical tests — the hypothesis-testing companions to
the drift (operators/drift.py) and anomaly (operators/anomaly.py)
families: Theil–Sen robust trend, Mann–Whitney rank-sum drift, and a
chi-square independence screen.

Exactness notes (the repo discipline, applied three ways):

  - THEIL–SEN: every pairwise slope is ONE IEEE division of exact
    integers (value cents x day offsets), identical in both engines;
    the median over that identical multiset of doubles picks/averages
    identical order statistics. Pair generation is per-series O(n^2) in
    the series' OWN length (days in a window — config-bounded), never
    in row count.
  - MANN–WHITNEY: rank sums use AVERAGE ranks for ties = (2*min_rank +
    ties - 1) / 2 — a .5-exact dyadic; U, its mean, and the tie-corrected
    variance are exact integer expressions; the z-score pays one IEEE
    sqrt + one division.
  - CHI-SQUARE: the cell sum is an ORDERED FOLD — cells are sorted into
    an array and reduced in (row, col) order, so the float accumulation
    order is part of the operator's definition instead of partition
    luck. groupBy SUM over floats would be order-nondeterministic;
    a 35-cell contingency table folds for free.

Scale shapes: all three aggregate to group-/cell-cardinality relations
before any quadratic or global step; nothing is row-scale past the
first keyed aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dawis_spark.functions.folds import ordered_sum


def value_cum_walk(
    per_v: DataFrame,
    value_col: str,
    count_cols: list[str],
    n_buckets: int = 1024,
    rank_col: str = "__r",
    desc: bool = False,
) -> tuple[DataFrame, int, list[int]]:
    """Distributed EDF walk over a distinct-value relation: inclusive
    running sums ``cum_<c>`` of each integer count column in
    ``value_col`` order, plus the dense value rank ``rank_col``, returned
    with the relation's row count and each count column's total (in
    ``count_cols`` order; see :func:`total_lit`) — all
    via range_partitioned_ranks' two-level prefix-sum, so NO
    partition-less window exists anywhere in the plan (the r12 verdict's
    "distinct cents" whitelist class, retired structurally: the walk's
    only whole-data exchange carries <= n_buckets bucket counts, and the
    per-bucket sorts are partitioned by bucket). Ranks and sums are
    bit-identical to ``SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING
    ... CURRENT ROW)`` by construction. Exclusive ("before") forms are
    one subtraction: ``cum_c - c``. Since round 14 the buckets are
    EQUI-DEPTH (percentile_approx boundaries in the same 1-row stats
    pass), so the walk is whale-proof BY DEFAULT: the r13-measured
    collapse (one 1e6x value pushed every other distinct value into
    linear bucket 0 and the walk back to the single-task cost, 15.6 s)
    re-measures at ~the uniform cost with no caller opt-in (SCALE.md
    round-14 row)."""
    from dawis_spark.operators.sketches import range_partitioned_ranks

    return range_partitioned_ranks(
        per_v,
        value_col,
        [],
        desc=desc,
        n_buckets=n_buckets,
        out_col=rank_col,
        sum_cols=[(f"cum_{c}", c) for c in count_cols],
    )


def total_lit(total: int, n: int) -> Column:
    """A walk total as a bigint literal — NULL when the walk saw no rows
    (``n == 0``), which is what ``SUM`` over the same empty relation
    returns, so degenerate inputs keep their output. Cast to bigint
    like every walk column: a bare ``F.lit`` of a small int is a 32-bit
    ``int``."""
    return F.lit(total if n else None).cast("bigint")


def two_sample_tagged(
    df: DataFrame, value_col: str, side_col: str, side_a: str, side_b: str
) -> DataFrame:
    """(v, ia, ib): the rows of the two compared sides, ``value_col`` as
    ``v`` and a 0/1 indicator per side — the prelude every two-sample
    test here starts from."""
    return df.select(
        F.col(value_col).alias("v"),
        F.when(F.col(side_col) == side_a, 1).otherwise(0).alias("ia"),
        F.when(F.col(side_col) == side_b, 1).otherwise(0).alias("ib"),
    ).filter((F.col("ia") == 1) | (F.col("ib") == 1))


def two_sample_counts(tagged: DataFrame) -> DataFrame:
    """(v, na_v, nb_v): each side's row count per distinct value of a
    :func:`two_sample_tagged` relation — the EDF walks' input."""
    return tagged.groupBy("v").agg(
        F.sum("ia").cast("bigint").alias("na_v"),
        F.sum("ib").cast("bigint").alias("nb_v"),
    )


def theil_sen(
    df: DataFrame, key_col: str, x_col: str, y_col: str
) -> DataFrame:
    """(key, n_points, slope) — median of pairwise slopes per key.
    ``x_col`` integer-ish (e.g. day offset), ``y_col`` integer cents."""
    a = df.select(
        F.col(key_col).alias("k"), F.col(x_col).alias("x1"), F.col(y_col).alias("y1")
    )
    b = df.select(
        F.col(key_col).alias("k"), F.col(x_col).alias("x2"), F.col(y_col).alias("y2")
    )
    pairs = a.join(b, "k").filter(F.col("x1") < F.col("x2"))
    slopes = pairs.select(
        "k",
        ((F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))).alias("s"),
    )
    npts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )
    med = slopes.groupBy("k").agg(
        F.expr("percentile(s, 0.5)").alias("slope")
    )
    return (
        npts.join(med, "k")
        .select(F.col("k").alias(key_col), "n_points", F.round("slope", 6).alias("slope"))
        .orderBy(key_col)
    )


def mann_whitney(
    df: DataFrame, value_col: str, side_col: str, side_a: str, side_b: str
) -> DataFrame:
    """One row: (n_a, n_b, u_a, z) — the rank-sum test with average
    ranks and tie-corrected variance. ``value_col`` must be exact
    integers (cents)."""
    per_v = two_sample_counts(
        two_sample_tagged(df, value_col, side_col, side_a, side_b)
    ).withColumn("t_v", (F.col("na_v") + F.col("nb_v")).cast("bigint"))
    ranked = value_cum_walk(per_v, "v", ["t_v"])[0].select(
        "v",
        "na_v",
        "nb_v",
        "t_v",
        (F.col("cum_t_v") - F.col("t_v")).alias("before"),
    )
    # average rank of a tie group in .5-exact dyadic form:
    # (2*(before+1) + (t-1)) / 2
    avg_rank = (2 * (F.col("before") + 1) + (F.col("t_v") - 1)) / 2
    agg = ranked.agg(
        F.sum(F.col("na_v")).cast("bigint").alias("n_a"),
        F.sum(F.col("nb_v")).cast("bigint").alias("n_b"),
        F.sum(avg_rank * F.col("na_v")).alias("r_a"),
        F.sum(
            (F.col("t_v").cast("decimal(38,0)") * F.col("t_v") * F.col("t_v"))
            - F.col("t_v")
        ).alias("tie_cubes"),
    )
    u_a = F.col("r_a") - (F.col("n_a") * (F.col("n_a") + 1)) / 2
    n = F.col("n_a") + F.col("n_b")
    mu = F.col("n_a") * F.col("n_b") / 2
    var = (
        (F.col("n_a") * F.col("n_b")).cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("tie_cubes").cast("double") / (n * (n - 1)).cast("double")
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 1).alias("u_a"),
        F.round((u_a - mu) / F.sqrt(var), 6).alias("z"),
    )


def _full_contingency(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """COMPLETE row x col contingency relation (r, c, obs, row_n, col_n,
    n) INCLUDING zero cells: observed cells from one keyed aggregate,
    completed by crossing the category-bounded margins. A zero cell
    still contributes (row_n*col_n/n) to chi-square — dropping
    unobserved combinations silently understates the statistic on any
    sparse table (caught by test_round11_stats on a diagonal table)."""
    # persisted (r15): cells feeds the row/col margins, the total AND the
    # completion join — four end-to-end re-evaluations of the source scan
    # + (r, c) aggregate per pass without it (zero ReusedExchange in the
    # plan: the differently-grouped consumers don't end in canonically
    # identical exchanges). Category-cardinality-bounded rows.
    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs")).persist()
    rows_m = cells.groupBy("r").agg(F.sum("obs").cast("bigint").alias("row_n"))
    cols_m = cells.groupBy("c").agg(F.sum("obs").cast("bigint").alias("col_n"))
    tot = cells.agg(F.sum("obs").cast("bigint").alias("n"))
    return (
        rows_m.crossJoin(F.broadcast(cols_m))
        .join(cells, ["r", "c"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "c",
            F.coalesce("obs", F.lit(0)).cast("bigint").alias("obs"),
            "row_n",
            "col_n",
            "n",
        )
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """One row: (n_cells, dof, chi2) for the COMPLETE row x col
    contingency table (zero cells included — see
    :func:`_full_contingency`). The cell-statistic sum folds in sorted
    (row, col) order — deterministic float accumulation by
    construction."""
    scored = _full_contingency(df, row_col, col_col)
    # per-cell term (obs*n - row*col)^2 / (row*col*n): numerator exact in
    # DECIMAL(38,0); ONE division per cell, then the ordered fold
    num = (
        F.col("obs").cast("decimal(38,0)") * F.col("n")
        - F.col("row_n").cast("decimal(38,0)") * F.col("col_n")
    )
    den = (
        F.col("row_n").cast("decimal(38,0)") * F.col("col_n") * F.col("n")
    )
    terms = scored.select(
        "r",
        "c",
        ((num * num).cast("double") / den.cast("double")).alias("term"),
        F.col("n"),
    )
    folded = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (
            F.countDistinct("r").cast("bigint") - 1
        ).alias("__rm1"),
        (
            F.countDistinct("c").cast("bigint") - 1
        ).alias("__cm1"),
        F.expr(ordered_sum("term", "r", "c")).alias("chi2_raw"),
    )
    return folded.select(
        "n_cells",
        (F.col("__rm1") * F.col("__cm1")).cast("bigint").alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
    )


def _double_ranks(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Attach DOUBLED average ranks (2*avg_rank = 2*before + ties + 1,
    a pure integer — the dyadic .5 cleared up front) for ``value_col``.
    Rank state is distinct-value-bounded; the join back is hash, not
    sort."""
    per_v = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__t")
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    per_v = per_v.select(
        "__v",
        "__t",
        F.coalesce(F.sum("__t").over(w), F.lit(0)).alias("__before"),
    ).select(
        "__v",
        (2 * F.col("__before") + F.col("__t") + 1).cast("bigint").alias(out_col),
    )
    return df.join(per_v, df[value_col] == per_v["__v"]).drop("__v")


def spearman_rho(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One row (n, rho_spearman): Spearman rank correlation with
    average ranks for ties = Pearson over DOUBLED average ranks (rank
    doubling is an affine map, so rho is unchanged and every moment is
    an exact integer). The moment sums ride DECIMAL(38,0); the only
    float ops are two correctly-rounded int->double conversions, two
    IEEE sqrts, and one division — bit-stable across engines (the
    profile.py Pearson discipline applied to ranks)."""
    ranked = _double_ranks(
        _double_ranks(
            df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y")),
            "x",
            "rx",
        ),
        "y",
        "ry",
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d("rx")).alias("sx"),
        F.sum(d("ry")).alias("sy"),
        F.sum(d("rx") * d("ry")).alias("sxy"),
        F.sum(d("rx") * d("rx")).alias("sxx"),
        F.sum(d("ry") * d("ry")).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "n",
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("rho_spearman"),
    )


def kendall_tau_b(df: DataFrame, ord_col: str, x_col: str, y_col: str) -> DataFrame:
    """One row (n, n_concordant, n_discordant, tau_b): Kendall's tau-b
    with the full tie correction, by classifying every unordered pair
    once (``ord_col`` strictly orders observations). All counts are
    exact integers; tau_b pays two sqrts and one division.

    Scale boundary: O(n^2) pairs in the SERIES length — sound when the
    series is calendar-bounded (daily aggregates: n grows with days,
    not data volume). Row-scale inputs want the O(n log n) merge-count
    form, which is a different operator."""
    a = df.select(
        F.col(ord_col).alias("o1"), F.col(x_col).alias("x1"), F.col(y_col).alias("y1")
    )
    b = df.select(
        F.col(ord_col).alias("o2"), F.col(x_col).alias("x2"), F.col(y_col).alias("y2")
    )
    pairs = a.join(b, F.col("o1") < F.col("o2"))
    sx = F.signum((F.col("x2") - F.col("x1")).cast("double"))
    sy = F.signum((F.col("y2") - F.col("y1")).cast("double"))
    cls = pairs.select(
        (sx * sy).alias("p"),
        F.when((sx == 0) & (sy != 0), 1).otherwise(0).alias("tx"),
        F.when((sy == 0) & (sx != 0), 1).otherwise(0).alias("ty"),
        F.when((sx == 0) & (sy == 0), 1).otherwise(0).alias("txy"),
    )
    agg = cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("p") > 0, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("p") < 0, 1).otherwise(0)).cast("bigint").alias("dd"),
        F.sum("tx").cast("bigint").alias("ntx"),
        F.sum("ty").cast("bigint").alias("nty"),
        F.sum("txy").cast("bigint").alias("ntxy"),
    )
    den_x = (F.col("n0") - F.col("ntx") - F.col("ntxy")).cast("double")
    den_y = (F.col("n0") - F.col("nty") - F.col("ntxy")).cast("double")
    return agg.select(
        F.col("c").alias("n_concordant"),
        F.col("dd").alias("n_discordant"),
        F.round(
            (F.col("c") - F.col("dd")).cast("double")
            / (F.sqrt(den_x) * F.sqrt(den_y)),
            6,
        ).alias("tau_b"),
    )


def acf(series: DataFrame, ord_col: str, value_col: str, max_lag: int) -> DataFrame:
    """(lag, n_pairs, acf) for lag 1..max_lag over an integer-valued
    series ordered by ``ord_col`` — the standard ACF with the GLOBAL
    mean/variance in the denominator, cleared of the 1/n mean by
    cross-multiplying with n^2:

        acf_k * (n^2*Sxx - n*S^2) = n^2*Sxy_k - n*S*(Sh_k + St_k) + m_k*S^2

    Every term is an exact DECIMAL(38,0) integer (bounded by n^2 * sum
    of products — ~1e34 at 100 TB day-granularity, inside 38 digits);
    both sides convert the SAME integers to double and divide once.

    Scale shape: the series is an aggregate (calendar-bounded), so the
    single global-order window is state the size of the series itself;
    all max_lag leads ride ONE sort, the per-lag sums are one unpivoted
    aggregate."""
    terms = _acf_terms(series, ord_col, value_col, max_lag)
    return terms.select(
        "lag", "n_pairs", F.round(F.col("rho"), 6).alias("acf")
    ).orderBy("lag")


def _acf_terms(
    series: DataFrame, ord_col: str, value_col: str, max_lag: int
) -> DataFrame:
    """Unrounded ACF terms (lag, n_pairs, n, rho) shared by :func:`acf`
    and :func:`ljung_box` — same exact-integer construction, rho left
    at full double precision so downstream statistics (Ljung-Box Q)
    square it before any rounding."""
    w = Window.orderBy(ord_col)
    leads = series.select(
        F.col(value_col).alias("x"),
        *[F.lead(value_col, k).over(w).alias(f"x{k}") for k in range(1, max_lag + 1)],
    )
    stack_expr = ", ".join(f"{k}, x{k}" for k in range(1, max_lag + 1))
    long = leads.select(
        "x", F.expr(f"stack({max_lag}, {stack_expr}) as (lag, xl)")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    glob = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col(value_col).cast("decimal(38,0)")
            * F.col(value_col).cast("decimal(38,0)")
        ).alias("sxx"),
    )
    per_lag = (
        long.filter(F.col("xl").isNotNull())
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(d("x") * d("xl")).alias("sxy"),
            F.sum(d("x")).alias("sh"),
            F.sum(d("xl")).alias("st"),
        )
    )
    nn = F.col("n").cast("decimal(38,0)")
    num = (
        nn * nn * F.col("sxy")
        - nn * F.col("s") * (F.col("sh") + F.col("st"))
        + F.col("n_pairs").cast("decimal(38,0)") * F.col("s") * F.col("s")
    ).cast("double")
    den = (nn * nn * F.col("sxx") - nn * F.col("s") * F.col("s")).cast("double")
    return per_lag.crossJoin(F.broadcast(glob)).select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        "n",
        (num / den).alias("rho"),
    )


def ljung_box(
    series: DataFrame, ord_col: str, value_col: str, max_lag: int
) -> DataFrame:
    """Ljung-Box portmanteau whiteness test over an integer-valued
    series: Q = n(n+2) * sum_{k=1..m} rho_k^2 / (n-k), chi-square(m)
    under the white-noise null. The standard "is there ANY serial
    structure" gate run before trusting i.i.d.-assuming statistics
    (bootstrap CIs, z-tests) on a time-ordered metric.

    Exactness: rho_k comes from :func:`_acf_terms`'s exact DECIMAL(38,0)
    integers (one double conversion + one division per lag); the m-term
    sum is an ORDERED FOLD over the lag-sorted terms — the chi-square
    discipline (module docstring) — so float accumulation order is part
    of the definition, not partition luck, and a DuckDB twin folding in
    the same lag order reproduces it bit-for-bit.

    Scale: everything after the calendar-bounded daily aggregate is a
    max_lag-row relation; Q is one fold over m doubles."""
    terms = _acf_terms(series, ord_col, value_col, max_lag)
    folded = terms.agg(
        F.max("n").alias("n"),
        F.expr(
            ordered_sum("rho * rho / CAST(n - lag AS DOUBLE)", "lag")
        ).alias("s"),
    )
    q_stat = (
        F.col("n").cast("double") * (F.col("n") + 2).cast("double") * F.col("s")
    )
    return folded.select(
        F.col("n").cast("bigint").alias("n"),
        F.lit(max_lag).cast("int").alias("m"),
        F.round(q_stat, 6).alias("q_stat"),
    )


def ccf(
    series: DataFrame,
    ord_col: str,
    x_col: str,
    y_col: str,
    max_lag: int,
) -> DataFrame:
    """(lag, n_pairs, ccf) for lag in [-max_lag, max_lag]: the
    cross-correlation r_k = corr(x_t, y_{t+k}) with GLOBAL means and
    the full-series variance product in the denominator — the
    lead/lag-detection companion to ``acf`` (which series moves
    FIRST), feeding the same exactness discipline: the 1/n means are
    cleared by cross-multiplying with n^2,

        num_k * n^2 = n^2*Sxy_k - n*Sy*Xh_k - n*Sx*Yt_k + m_k*Sx*Sy

    every term an exact DECIMAL(38,0) integer; the denominator pays two
    IEEE sqrts over the same exact integers on both engines.

    Scale: all 2*max_lag+1 shifted pairings ride ONE window sort over
    the calendar-bounded series; per-lag sums are one unpivoted
    map-side-partial aggregate."""
    from pyspark.sql import Window

    w = Window.orderBy(ord_col)
    shift_cols = []
    for k in range(-max_lag, max_lag + 1):
        yk = (
            F.lead(y_col, k).over(w) if k >= 0 else F.lag(y_col, -k).over(w)
        )
        shift_cols.append(yk.alias(f"y_{k + max_lag}"))
    wide = series.select(F.col(x_col).alias("x"), *shift_cols)
    stack_expr = ", ".join(
        f"{k}, y_{k + max_lag}" for k in range(-max_lag, max_lag + 1)
    )
    long = wide.select(
        "x", F.expr(f"stack({2 * max_lag + 1}, {stack_expr}) as (lag, yl)")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    glob = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(x_col).cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col(y_col).cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col(x_col).cast("decimal(38,0)") * F.col(x_col).cast("decimal(38,0)")
        ).alias("sxx"),
        F.sum(
            F.col(y_col).cast("decimal(38,0)") * F.col(y_col).cast("decimal(38,0)")
        ).alias("syy"),
    )
    per_lag = (
        long.filter(F.col("yl").isNotNull())
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(d("x") * d("yl")).alias("sxy"),
            F.sum(d("x")).alias("xh"),
            F.sum(d("yl")).alias("yt"),
        )
    )
    nn = F.col("n").cast("decimal(38,0)")
    num = (
        nn * nn * F.col("sxy")
        - nn * F.col("sy") * F.col("xh")
        - nn * F.col("sx") * F.col("yt")
        + F.col("n_pairs").cast("decimal(38,0)") * F.col("sx") * F.col("sy")
    ).cast("double")
    den = (
        F.sqrt((nn * nn * F.col("sxx") - nn * F.col("sx") * F.col("sx")).cast("double"))
        * F.sqrt((nn * nn * F.col("syy") - nn * F.col("sy") * F.col("sy")).cast("double"))
    )
    return (
        per_lag.crossJoin(F.broadcast(glob))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(num / den, 6).alias("ccf"),
        )
        .orderBy("lag")
    )


def normal_sf2(z: str) -> str:
    """Two-sided normal p-value 2*(1 - Phi(|z|)) as ONE self-contained
    expression string, via the Abramowitz–Stegun 7.1.26 erf polynomial
    (|error| < 1.5e-7): with erf(x) = 1 - poly(t)*exp(-x^2),
    t = 1/(1 + 0.3275911 x), the two-sided p collapses to
    poly(t)*exp(-x^2) at x = |z|/sqrt(2). Neither Spark SQL nor a
    portable oracle has a builtin normal CDF, so the SAME string is
    evaluated by both engines — bit-identical modulo exp()'s last ulp."""
    az = f"(abs({z}) / sqrt(2))"
    tt = f"(1 / (1 + 0.3275911 * {az}))"
    poly = (
        f"((((1.061405429 * {tt} - 1.453152027) * {tt} + 1.421413741) * {tt}"
        f" - 0.284496736) * {tt} + 0.254829592) * {tt}"
    )
    return f"({poly} * exp(-({az} * {az})))"


# Welch statistics as shared expression strings over the one-row stats
# relation (n1, n2, s1, s2, nv1, nv2 — all DOUBLE, where nv_i is the
# exact-integer variance numerator n_i*q_i - s_i^2 cast once): the same
# text is evaluated by Spark's F.expr and the DuckDB oracle, so both
# engines walk the same IEEE expression tree.
WELCH_V1 = "(nv1 / (n1 * (n1 - 1)))"
WELCH_V2 = "(nv2 / (n2 * (n2 - 1)))"
WELCH_SE2 = f"({WELCH_V1} / n1 + {WELCH_V2} / n2)"
WELCH_T = f"((s1 / n1 - s2 / n2) / sqrt({WELCH_SE2}))"
WELCH_DF = (
    f"(({WELCH_SE2}) * ({WELCH_SE2})"
    f" / (({WELCH_V1} / n1) * ({WELCH_V1} / n1) / (n1 - 1)"
    f" + ({WELCH_V2} / n2) * ({WELCH_V2} / n2) / (n2 - 1)))"
)
WELCH_P = normal_sf2(WELCH_T)


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str, g1, g2
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between groups ``g1``
    and ``g2`` of an INTEGER-valued column (the cents discipline): one
    row (n1, n2, mean1, mean2, t_stat, df_welch, p_value). p is the
    normal approximation to the t distribution (:func:`normal_sf2`) —
    indistinguishable at the df this engine targets (thousands+; at
    df=50 the approximation is already inside the round-6 margin for
    |t| < 4).

    Exactness: n/sum/sum-of-squares per group are exact DECIMAL(38,0)
    integers off ONE conditional aggregate (single scan, map-side
    combine); the variance numerators n*q - s^2 stay exact integers and
    pay one double cast; every downstream quantity is a shared
    expression string (WELCH_T/_DF/_P) both engines evaluate over the
    same doubles.

    Scale: one scan collapsing to a single 6-number row — no shuffle
    wider than one row at any data volume."""
    flag1 = F.col(group_col) == F.lit(g1)
    flag2 = F.col(group_col) == F.lit(g2)
    v = F.col(value_col).cast("decimal(38,0)")
    one = df.filter(flag1 | flag2).agg(
        F.count(F.when(flag1, 1)).cast("decimal(38,0)").alias("n1_i"),
        F.count(F.when(flag2, 1)).cast("decimal(38,0)").alias("n2_i"),
        F.sum(F.when(flag1, v)).alias("s1_i"),
        F.sum(F.when(flag2, v)).alias("s2_i"),
        F.sum(F.when(flag1, v * v)).alias("q1_i"),
        F.sum(F.when(flag2, v * v)).alias("q2_i"),
    )
    doubles = one.selectExpr(
        "CAST(n1_i AS DOUBLE) AS n1",
        "CAST(n2_i AS DOUBLE) AS n2",
        "CAST(s1_i AS DOUBLE) AS s1",
        "CAST(s2_i AS DOUBLE) AS s2",
        "CAST(n1_i * q1_i - s1_i * s1_i AS DOUBLE) AS nv1",
        "CAST(n2_i * q2_i - s2_i * s2_i AS DOUBLE) AS nv2",
    )
    return doubles.selectExpr(
        "CAST(n1 AS BIGINT) AS n1",
        "CAST(n2 AS BIGINT) AS n2",
        "ROUND(s1 / n1, 4) AS mean1",
        "ROUND(s2 / n2, 4) AS mean2",
        f"ROUND({WELCH_T}, 6) AS t_stat",
        f"ROUND({WELCH_DF}, 4) AS df_welch",
        f"ROUND({WELCH_P}, 6) AS p_value",
    )


# One-way ANOVA from the folded sufficient statistics (k, n, q,
# ss_over_n, sum_tg — all DOUBLE): SSB = sum_g s_g^2/n_g - S^2/N,
# SSW = Q - sum_g s_g^2/n_g, F = (SSB/(k-1)) / (SSW/(N-k)),
# eta^2 = SSB/SST. Shared strings, same discipline as WELCH_*.
ANOVA_SSB = "(sum_tg - ss_over_n)"
ANOVA_SSW = "(q - sum_tg)"
# nullif guards: SSW = 0 (perfect separation) makes F infinite -> NULL,
# SST = 0 (constant input) makes eta^2 undefined -> NULL; Spark's ANSI
# mode would otherwise raise DIVIDE_BY_ZERO where DuckDB returns inf.
ANOVA_F = f"(({ANOVA_SSB} / (k - 1)) / nullif(({ANOVA_SSW} / (n - k)), 0))"
ANOVA_ETA2 = f"({ANOVA_SSB} / nullif((q - ss_over_n), 0))"


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """One-way ANOVA F over an INTEGER-valued column across the groups
    of ``group_col``: one row (k_groups, n_rows, ssb, ssw, f_stat,
    eta_squared). The 'does the mean differ across ANY of k segments'
    screen that precedes k*(k-1)/2 pairwise tests (and the effect-size
    companion eta^2 that a significance-only report omits).

    Exactness: per-group (n_g, s_g, q_g) are exact DECIMAL(38,0)
    integers; each group's s_g^2/n_g pays one double division computed
    identically in both engines, and the k-term sum is an ORDERED FOLD
    over group-sorted terms (the chi-square discipline). Grand S^2/N
    and Q stay exact until one final cast.

    Scale: one keyed aggregate collapses the scan to k rows; the fold
    gathers k structs into one row — group-cardinality-bounded
    everywhere after the first exchange."""
    v = F.col(value_col).cast("decimal(38,0)")
    # weight_col (r15): per-(group, value) COUNTS instead of one row per
    # observation — sum(w), sum(v*w), sum(v*v*w) are the SAME exact
    # integers as the row-scale fold (sum over rows of v == sum over
    # distinct v of v*n), so callers that already hold a distinct-value
    # count relation (brown_forsythe) skip a second row-scale pass.
    if weight_col is not None:
        w = F.col(weight_col).cast("decimal(38,0)")
        per = df.groupBy(F.col(group_col).alias("g")).agg(
            F.sum(w).alias("n_g"),
            F.sum(v * w).alias("s_g"),
            F.sum(v * v * w).alias("q_g"),
        )
    else:
        per = df.groupBy(F.col(group_col).alias("g")).agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
            F.sum(v).alias("s_g"),
            F.sum(v * v).alias("q_g"),
        )
    terms = per.selectExpr(
        "g",
        "n_g",
        "s_g",
        "q_g",
        "CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS t_g",
    )
    folded = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_i"),
        F.sum("n_g").alias("n_i"),
        F.sum("s_g").alias("s_i"),
        F.sum("q_g").alias("q_i"),
        F.expr(ordered_sum("t_g", "g")).alias("sum_tg"),
    )
    doubles = folded.selectExpr(
        "k_i",
        "n_i",
        "CAST(k_i AS DOUBLE) AS k",
        "CAST(n_i AS DOUBLE) AS n",
        "CAST(q_i AS DOUBLE) AS q",
        "CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS ss_over_n",
        "sum_tg",
    )
    return doubles.selectExpr(
        "CAST(k_i AS INT) AS k_groups",
        "CAST(n_i AS BIGINT) AS n_rows",
        f"ROUND({ANOVA_SSB}, 4) AS ssb",
        f"ROUND({ANOVA_SSW}, 4) AS ssw",
        f"ROUND({ANOVA_F}, 6) AS f_stat",
        f"ROUND({ANOVA_ETA2}, 6) AS eta_squared",
    )


def categorical_association(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Full categorical-association profile for a row x col contingency
    table: one row (n_rows, n_cells, dof, chi2, cramers_v, mi_nats,
    nmi). Chi-square answers 'is there ANY dependence'; Cramér's V
    (sqrt(chi2 / (n * min(r-1, c-1)))) and normalized mutual
    information (MI / sqrt(H_row * H_col)) put it on the [0, 1]
    effect-size scale a feature-selection pass actually ranks by.

    Exactness: same construction as :func:`chi_square_independence` —
    exact-integer cell/marginal counts over the COMPLETE table (zero
    cells included — their chi contribution is row*col/n; their MI
    contribution is the 0*ln(0) = 0 convention), per-cell statistics
    paying one double division (+ one ln for MI) evaluated identically
    in both engines, every sum an ORDERED FOLD over (row, col)- or
    marginal-sorted terms.

    Scale: one keyed aggregate to the cell relation; the margin
    completion and folds run over category-cardinality rows only."""
    scored = _full_contingency(df, row_col, col_col)
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    chi_num = d38("obs") * F.col("n") - d38("row_n") * F.col("col_n")
    chi_den = (d38("row_n") * F.col("col_n") * F.col("n")).cast("double")
    terms = scored.select(
        "r",
        "c",
        "n",
        ((chi_num * chi_num).cast("double") / chi_den).alias("chi_term"),
        F.when(F.col("obs") > 0,
            (F.col("obs").cast("double") / F.col("n").cast("double"))
            * F.log(
                (d38("obs") * F.col("n")).cast("double")
                / (d38("row_n") * F.col("col_n")).cast("double")
            )
        ).otherwise(F.lit(0.0)).alias("mi_term"),
    )
    cell_fold = terms.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (F.countDistinct("r").cast("bigint") - 1).alias("rm1"),
        (F.countDistinct("c").cast("bigint") - 1).alias("cm1"),
        F.expr(ordered_sum("chi_term", "r", "c")).alias("chi2_raw"),
        F.expr(ordered_sum("mi_term", "r", "c")).alias("mi_raw"),
    )

    def _entropy(key: str, marg: str) -> DataFrame:
        m = scored.select(key, marg, "n").distinct()
        t = m.select(
            F.col(key).alias("g"),
            (
                -(F.col(marg).cast("double") / F.col("n").cast("double"))
                * F.log(F.col(marg).cast("double") / F.col("n").cast("double"))
            ).alias("h_term"),
        )
        return t.agg(
            F.expr(ordered_sum("h_term", "g")).alias(f"h_{key}")
        )

    combined = (
        cell_fold.crossJoin(F.broadcast(_entropy("r", "row_n")))
        .crossJoin(F.broadcast(_entropy("c", "col_n")))
    )
    return combined.selectExpr(
        "n_rows",
        "n_cells",
        "CAST(rm1 * cm1 AS BIGINT) AS dof",
        "ROUND(chi2_raw, 6) AS chi2",
        "ROUND(sqrt(chi2_raw / (CAST(n_rows AS DOUBLE)"
        " * least(rm1, cm1))), 6) AS cramers_v",
        "ROUND(mi_raw, 6) AS mi_nats",
        "ROUND(mi_raw / sqrt(h_r * h_c), 6) AS nmi",
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H (rank-based one-way ANOVA) — the k-group extension of
# mann_whitney: H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1), with the
# tie correction C = 1 - sum_v(t_v^3 - t_v)/(N^3 - N).  Average tie
# ranks are .5-exact dyadics (the mann_whitney machinery); rank sums
# R_g are exact sums of dyadic*int terms (< 2^52 up to ~6e10 rows); the
# per-group R_g^2/n_g terms are ONE double multiply + divide folded in
# group-sorted order (the chi-square discipline).
KW_H = "(12.0 / (n * (n + 1.0)) * sum_t - 3.0 * (n + 1.0))"
KW_HC = f"({KW_H} / nullif(1.0 - tie_cubes_d / (n * n * n - n), 0))"


def kruskal_wallis(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """One row (k_groups, n_rows, h, h_tie_corrected) over an
    exact-integer value column. Scale: one (group, value)-keyed
    aggregate, then everything lives on the distinct-value relation
    (value-bounded domain — the mann_whitney adjudication) and a
    k-row fold."""
    # persisted: gv feeds the distinct-value rollup AND the rank join —
    # two end-to-end re-evaluations of the source scan + (g, v) aggregate
    # per pass without it ((g, v, count) rows, value x k bounded)
    gv = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_gv")).persist()
    per_v = gv.groupBy("v").agg(F.sum("n_gv").cast("bigint").alias("t_v"))
    ranked = value_cum_walk(per_v, "v", ["t_v"])[0].select(
        "v", "t_v", (F.col("cum_t_v") - F.col("t_v")).alias("before")
    )
    avg_rank = (2 * (F.col("before") + 1) + (F.col("t_v") - 1)) / 2
    per_g = (
        gv.join(ranked.select("v", "t_v", "before"), "v")
        .groupBy("g")
        .agg(
            F.sum("n_gv").cast("bigint").alias("n_g"),
            F.sum(avg_rank * F.col("n_gv")).alias("r_g"),
        )
    )
    # n and the tie-cube sum only need t_v per distinct value: read them
    # off per_v instead of re-evaluating the whole cum-walk a second time
    # (identical integers — the walk carries t_v through unchanged)
    ties = per_v.agg(
        F.sum("t_v").cast("bigint").alias("n_i"),
        F.sum(
            F.col("t_v").cast("decimal(38,0)") * F.col("t_v") * F.col("t_v")
            - F.col("t_v")
        ).alias("tie_cubes"),
    )
    terms = per_g.select(
        "g", "n_g", (F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("t_g")
    )
    folded = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_i"),
        F.expr(ordered_sum("t_g", "g")).alias("sum_t"),
    )
    doubles = folded.crossJoin(F.broadcast(ties)).selectExpr(
        "k_i",
        "n_i",
        "CAST(n_i AS DOUBLE) AS n",
        "sum_t",
        "CAST(tie_cubes AS DOUBLE) AS tie_cubes_d",
    )
    return doubles.selectExpr(
        "CAST(k_i AS INT) AS k_groups",
        "CAST(n_i AS BIGINT) AS n_rows",
        f"ROUND({KW_H}, 6) AS h",
        f"ROUND({KW_HC}, 6) AS h_tie_corrected",
    )


def group_median2(
    df: DataFrame,
    group_col: str,
    value_col: str,
    gv: DataFrame | None = None,
) -> DataFrame:
    """(g, m2) — DOUBLED exact median (lo + hi order statistics) of an
    integer value per group, so an even-count median stays an exact
    integer. One (group, value) aggregate; the order-statistic walk
    runs on the group-partitioned distinct-value relation.

    ``gv`` (r15): a precomputed (g, v, c) distinct-value count relation —
    callers that consume the same counts elsewhere (brown_forsythe's
    weighted ANOVA) build it once instead of re-aggregating the source."""
    if gv is None:
        gv = df.groupBy(
            F.col(group_col).alias("g"), F.col(value_col).alias("v")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = gv.select(
        "g",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wg), F.lit(0)).alias("before"),
        F.sum("c").over(Window.partitionBy("g")).alias("n_g"),
    ).selectExpr("*", "(n_g + 1) div 2 AS lo", "n_g div 2 + 1 AS hi")
    vlo = (
        cum.filter("before < lo AND lo <= before + c")
        .groupBy("g")
        .agg(F.min("v").alias("vlo"))
    )
    vhi = (
        cum.filter("before < hi AND hi <= before + c")
        .groupBy("g")
        .agg(F.min("v").alias("vhi"))
    )
    return vlo.join(vhi, "g").select(
        "g", (F.col("vlo") + F.col("vhi")).cast("bigint").alias("m2")
    )


def brown_forsythe(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance test: one-way ANOVA over
    |2x - 2*median_g| — the median-centred Levene variant (robust to
    non-normality; the reason BF replaced the mean-centred original).
    Deviations are exact integers (doubled-median trick), so the ANOVA
    runs its usual exact-moment fold. Output = anova_oneway's row.

    Scale: ONE (group, value) count aggregate is the only row-scale pass
    (persisted — the median walk and the deviation ANOVA both consume
    it); medians broadcast back (k rows); the ANOVA moments are weighted
    sums over the distinct-value counts — the same exact integers as the
    row-scale fold (sum over rows of |2x-2m| == sum over distinct v of
    |2v-2m|·n_v), so the result is bit-identical."""
    gv = (
        df.groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    med = group_median2(df, group_col, value_col, gv=gv).select(
        F.col("g").alias("__bf_med_g"), "m2"
    )
    dev = gv.join(
        F.broadcast(med), gv["g"] == F.col("__bf_med_g")
    ).select(
        F.col("g").alias("__bf_g"),
        F.abs(2 * F.col("v") - F.col("m2")).cast("bigint").alias("__bf_d"),
        F.col("c").alias("__bf_w"),
    )
    return anova_oneway(dev, "__bf_g", "__bf_d", weight_col="__bf_w")


# Two-sample effect sizes over exact moments: Cohen's d on the pooled
# sd, the Hedges small-sample correction g = d * (1 - 3/(4N - 9)), and
# Cliff's delta = (#{a > b} - #{a < b}) / (n_a * n_b) from exact pair
# counts (no sampling, no quadratic pass — counted via the rank trick).
ES_VAR_A = "(CAST(na_i * qa_i - sa_i * sa_i AS DOUBLE) / (CAST(na_i AS DOUBLE) * (na_i - 1.0)))"
ES_VAR_B = "(CAST(nb_i * qb_i - sb_i * sb_i AS DOUBLE) / (CAST(nb_i AS DOUBLE) * (nb_i - 1.0)))"
ES_SP2 = f"(((na_i - 1.0) * {ES_VAR_A} + (nb_i - 1.0) * {ES_VAR_B}) / (na_i + nb_i - 2.0))"
ES_D = f"((CAST(sa_i AS DOUBLE) / na_i - CAST(sb_i AS DOUBLE) / nb_i) / sqrt({ES_SP2}))"
ES_G = f"({ES_D} * (1.0 - 3.0 / (4.0 * (na_i + nb_i) - 9.0)))"


def two_sample_effect_sizes(
    df: DataFrame, value_col: str, side_col: str, side_a: str, side_b: str
) -> DataFrame:
    """One row (n_a, n_b, mean_diff, cohens_d, hedges_g, cliffs_delta)
    for an exact-integer value column split by ``side_col`` — the
    effect-size companion the significance tests (welch, mann_whitney)
    omit: HOW BIG is the difference, on the standardized (d, g) and
    ordinal-dominance (delta) scales.

    Exactness: moments and pair counts are exact integers; d/g pay a
    fixed double expression; delta is one division of exact counts.
    Scale: one conditional aggregate + the distinct-value rank walk
    (value-bounded domain); nothing row-scale past the first exchange."""
    tagged = two_sample_tagged(df, value_col, side_col, side_a, side_b)
    v38 = F.col("v").cast("decimal(38,0)")
    moments = tagged.agg(
        F.sum("ia").cast("decimal(38,0)").alias("na_i"),
        F.sum("ib").cast("decimal(38,0)").alias("nb_i"),
        F.sum(v38 * F.col("ia")).alias("sa_i"),
        F.sum(v38 * F.col("ib")).alias("sb_i"),
        F.sum(v38 * v38 * F.col("ia")).alias("qa_i"),
        F.sum(v38 * v38 * F.col("ib")).alias("qb_i"),
    )
    walked = value_cum_walk(two_sample_counts(tagged), "v", ["nb_v"])[0].select(
        "na_v",
        "nb_v",
        (F.col("cum_nb_v") - F.col("nb_v")).alias("b_before"),
    )
    pairs = walked.agg(
        F.sum(F.col("na_v").cast("decimal(38,0)") * F.col("b_before")).alias(
            "gt_pairs"
        ),
        F.sum(F.col("na_v").cast("decimal(38,0)") * F.col("nb_v")).alias(
            "eq_pairs"
        ),
    )
    both = moments.crossJoin(F.broadcast(pairs))
    return both.selectExpr(
        "CAST(na_i AS BIGINT) AS n_a",
        "CAST(nb_i AS BIGINT) AS n_b",
        "ROUND(CAST(sa_i AS DOUBLE) / na_i - CAST(sb_i AS DOUBLE) / nb_i, 4)"
        " AS mean_diff",
        f"ROUND({ES_D}, 6) AS cohens_d",
        f"ROUND({ES_G}, 6) AS hedges_g",
        "ROUND(CAST(gt_pairs - (na_i * nb_i - gt_pairs - eq_pairs) AS DOUBLE)"
        " / CAST(na_i * nb_i AS DOUBLE), 6) AS cliffs_delta",
    )


def g_test_independence(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Likelihood-ratio G-test over the COMPLETE contingency table:
    G = 2 * sum_cells obs * ln(obs * n / (row_n * col_n)) — the
    log-likelihood sibling of chi_square_independence (better-behaved
    for sparse tables; additive across table partitions). Zero cells
    contribute 0 (the 0*ln(0) convention). One row (n_cells, dof, g2).

    Exactness: counts exact; each cell pays one ln of an exact-integer
    ratio; the sum is an ordered (row, col) fold. Scale: identical to
    the chi-square shape — cell-cardinality everywhere after the first
    keyed aggregate."""
    scored = _full_contingency(df, row_col, col_col)
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    term = F.when(
        F.col("obs") > 0,
        2.0
        * F.col("obs").cast("double")
        * F.log(
            (d38("obs") * F.col("n")).cast("double")
            / (d38("row_n") * F.col("col_n")).cast("double")
        ),
    ).otherwise(F.lit(0.0))
    terms = scored.select("r", "c", term.alias("g_term"))
    folded = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (F.countDistinct("r").cast("bigint") - 1).alias("__rm1"),
        (F.countDistinct("c").cast("bigint") - 1).alias("__cm1"),
        F.expr(ordered_sum("g_term", "r", "c")).alias("g_raw"),
    )
    return folded.select(
        "n_cells",
        (F.col("__rm1") * F.col("__cm1")).cast("bigint").alias("dof"),
        F.round("g_raw", 6).alias("g2"),
    )


def cramer_von_mises(
    df: DataFrame, value_col: str, side_col: str, side_a: str, side_b: str
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic in the tie-adapted EDF
    form: T = sum_v t_v * (F_a(v) - F_b(v))^2 * n*m / N^2 — the
    INTEGRATED squared EDF gap, where ks_* takes the supremum (CvM sees
    distributed small gaps KS misses; the pair is the standard drift
    panel). One row (n_a, n_b, t_cvm).

    Exactness: the per-value gap numerator cum_a*n_b - cum_b*n_a and
    every squared/weighted term stay exact DECIMAL(38,0) through the
    full sum (bound: fits to ~1e7 rows per side; the mann_whitney
    family's standing integer-width caveat); ONE double division at
    the end. Scale: the distinct-value walk (value-bounded domain)."""
    per_v = two_sample_counts(
        two_sample_tagged(df, value_col, side_col, side_a, side_b)
    )
    # the exact term needs n_a/n_b inside the walk: the walk returns both
    walked, n, (n_a, n_b) = value_cum_walk(per_v, "v", ["na_v", "nb_v"])
    n_a_i, n_b_i = total_lit(n_a, n), total_lit(n_b, n)
    gap = (
        F.col("cum_na_v").cast("decimal(38,0)") * n_b_i
        - F.col("cum_nb_v").cast("decimal(38,0)") * n_a_i
    )
    term = (F.col("na_v") + F.col("nb_v")).cast("decimal(38,0)") * gap * gap
    # grouped by the constant totals, so empty input stays zero rows
    out = walked.groupBy(n_a_i.alias("n_a_i"), n_b_i.alias("n_b_i")).agg(
        F.sum(term).alias("s")
    )
    return out.selectExpr(
        "CAST(n_a_i AS BIGINT) AS n_a",
        "CAST(n_b_i AS BIGINT) AS n_b",
        "ROUND(CAST(s AS DOUBLE)"
        " / (CAST(n_a_i + n_b_i AS DOUBLE) * (n_a_i + n_b_i)"
        "    * n_a_i * n_b_i), 6) AS t_cvm",
    )


def anderson_darling_k(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """k-sample Anderson–Darling A2_akN (Scholz & Stephens 1987,
    version without continuity correction): tail-weighted integrated
    EDF discrepancy across ALL groups — the heavy-tail-sensitive member
    of the drift panel (KS = supremum, CvM = integrated, AD = tail-
    weighted integrated). One row (k_groups, n_rows, a2_akn); a single
    distinct pooled value gives a2_akn = 0.0 (no pooled split point, so
    the sum is empty).

    Exactness: per (group, pooled-value) numerators (N*M_gv - n_g*B_v)
    are exact DECIMAL(38,0); each grid cell pays one double division
    (denominator B(N-B) exact); the sum is a (g, v)-ordered fold.

    Scale: the grid is distinct-values x k (value-bounded domain times
    a bounded group count); per-group cumulative windows are
    group-PARTITIONED over that grid."""
    # persisted: gv feeds the pooled-count walk, the per-group sizes AND
    # the grid join — three end-to-end re-evaluations of the source scan
    # + (g, v) aggregate per pass without it. (g, v, count) rows only:
    # distinct-value x k bounded.
    gv = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    per_v = gv.groupBy("v").agg(F.sum("c").cast("bigint").alias("t_v"))
    walked, n_v, (n_pooled,) = value_cum_walk(per_v, "v", ["t_v"])
    pooled = walked.select("v", "t_v", F.col("cum_t_v").alias("b"))
    groups = gv.groupBy("g").agg(F.sum("c").cast("bigint").alias("n_g"))
    grid = pooled.crossJoin(F.broadcast(groups)).join(
        gv, ["g", "v"], "left"
    ).select(
        "g",
        "v",
        "t_v",
        "b",
        "n_g",
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # N = the pooled total the walk collected (NULL on empty input)
    n = total_lit(n_pooled, n_v)
    scored = grid.withColumn("m", F.sum("c").over(wg)).withColumn("n", n)
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("m")
        - F.col("n_g").cast("decimal(38,0)") * F.col("b")
    )
    terms = scored.filter(F.col("b") < F.col("n")).select(
        "g",
        "v",
        "n",
        (
            (F.col("t_v").cast("decimal(38,0)") * num * num).cast("double")
            / (
                F.col("b").cast("decimal(38,0)") * (F.col("n") - F.col("b"))
            ).cast("double")
            / F.col("n_g").cast("double")
        ).alias("t_term"),
    )
    # the exactness contract is a (g, v)-ordered left-to-right double
    # fold. collect_list -> array_sort -> aggregate builds a grid-sized
    # array in one task and folds it with interpreted lambdas; shuffling
    # the terms to ONE partition and sorting within it makes the plain
    # codegen'd SUM consume rows in exactly that (g, v) order — the
    # identical fold, ~2x faster on the distinct-value x k grid (r16,
    # guide §1.2 per-task work; (g, v) is unique per row so the order is
    # total, and the explicit sort makes shuffle arrival order moot)
    s = (
        terms.select("g", "v", "t_term")
        .repartition(1)
        .sortWithinPartitions("g", "v")
        .agg(F.coalesce(F.sum("t_term"), F.lit(0.0)).alias("s"))
    )
    # k_groups/n_rows read off the k-row groups relation and the walk's
    # total instead of a second end-to-end pass over the grid: the grid
    # is a cross join, so every group appears in terms, and n is the
    # pooled row count by construction — identical values. A single
    # distinct pooled value leaves terms empty (b = n everywhere): the
    # statistic is then the empty sum, (k, n, 0.0), not a NULL; empty
    # input has no n and gives (0, NULL, NULL)
    meta = groups.agg(
        F.count(F.lit(1)).cast("int").alias("k_groups"), n.alias("n_rows")
    )
    return meta.crossJoin(F.broadcast(s)).selectExpr(
        "k_groups",
        "n_rows",
        "ROUND(s / CAST(n_rows AS DOUBLE), 6) AS a2_akn",
    )


def friedman_test(
    df: DataFrame, block_col: str, treat_col: str, value_col: str
) -> DataFrame:
    """Friedman rank test over COMPLETE blocks: does the treatment's
    value distribution differ when each block (e.g. each day) ranks
    the k treatments internally? The nonparametric repeated-measures
    ANOVA (kruskal_wallis treats rows as independent; THIS blocks out
    the per-day level so only the within-day ORDERING matters).
    Incomplete blocks (a day missing a treatment) are dropped — the
    classical complete-block requirement, documented. One row
    (k_treatments, n_blocks, q_stat) with the tie-corrected
    denominator A - C.

    Exactness: within-block average ranks are DOUBLED dyadics; Q's
    numerator/denominator are exact integers in doubled-rank units
    (Q = (k-1) * sum_j (R2_j - n(k+1))^2 / (A4 - n k (k+1)^2), all
    int), ONE division. Scale: everything after the (block, treatment)
    rollup is block-count x k bounded; rank windows are PARTITIONED by
    block."""
    cell = df.groupBy(
        F.col(block_col).alias("blk"), F.col(treat_col).alias("tr")
    ).agg(F.sum(F.col(value_col)).cast("bigint").alias("x"))
    k_tot = cell.select("tr").distinct().count()
    complete = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_tr"))
        .filter(F.col("n_tr") == k_tot)
        .select("blk")
    )
    cells = cell.join(complete.hint("broadcast"), "blk")
    # RANGE (not ROWS) frame: with tied x a ROWS frame counts an
    # arbitrary subset of the tie group — RANGE ... 1 PRECEDING counts
    # exactly the strictly-smaller rows, deterministic under ties
    wb = Window.partitionBy("blk").orderBy("x").rangeBetween(
        Window.unboundedPreceding, -1
    )
    wt = Window.partitionBy("blk", "x")
    ranked = cells.select(
        "blk",
        "tr",
        (
            2 * (F.coalesce(F.count(F.lit(1)).over(wb), F.lit(0)) + 1)
            + (F.count(F.lit(1)).over(wt) - 1)
        ).cast("bigint").alias("r2"),
    )
    per_tr = ranked.groupBy("tr").agg(
        F.sum("r2").cast("decimal(38,0)").alias("r2_j"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    a4 = ranked.agg(
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2")).alias("a4")
    )
    # two-phase: need k and n before S2 — compute k/n first, then fold
    kn = per_tr.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("n_blocks").cast("bigint").alias("n"),
    )
    s2 = (
        per_tr.crossJoin(F.broadcast(kn))
        .select(
            (
                (
                    F.col("r2_j")
                    - F.col("n").cast("decimal(38,0)") * (F.col("k") + 1)
                )
                * (
                    F.col("r2_j")
                    - F.col("n").cast("decimal(38,0)") * (F.col("k") + 1)
                )
            ).alias("d2"),
            "k",
            "n",
        )
        .groupBy("k", "n")
        .agg(F.sum("d2").alias("s2"))
    )
    out = s2.crossJoin(F.broadcast(a4))
    return out.selectExpr(
        "CAST(k AS INT) AS k_treatments",
        "CAST(n AS BIGINT) AS n_blocks",
        "ROUND(CAST((k - 1) * s2 AS DOUBLE)"
        " / nullif(CAST(a4 - CAST(n AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)"
        "               AS DOUBLE), 0), 6) AS q_stat",
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    side_col: str,
    side_a: str,
    side_b: str,
    unit_div: int = 1,
) -> DataFrame:
    """Two-sample 1-D Wasserstein-1 (earth-mover) distance in the
    distinct-value EDF form: W1 = sum_i (v_{i+1} - v_i) * |F_a(v_i) -
    F_b(v_i)| — the MAGNITUDE-weighted member of the drift panel. KS
    takes the worst EDF gap, CvM integrates squared gaps, W1 integrates
    the gap against the VALUE axis, so it reads in the value's own
    units ("average transport of cents") — the number a cost model can
    threshold on. One row (n_a, n_b, w1).

    Exactness: per distinct value the gap numerator |cum_a*n_b -
    cum_b*n_a| and the step width (next_v - v) are exact
    DECIMAL(38,0); the full sum is exact and divided ONCE by
    n_a*n_b*unit_div (unit_div converts e.g. cents back to currency).
    Scale: the same distinct-value walk as cramer_von_mises — the
    ordered prefix walk is value-bounded, not row-bounded."""
    per_v = two_sample_counts(
        two_sample_tagged(df, value_col, side_col, side_a, side_b)
    )
    walk, n, (n_a, n_b) = value_cum_walk(per_v, "v", ["na_v", "nb_v"])
    # the walk output feeds BOTH sides of the rank-successor self-join —
    # persist it so the walk's window stage evaluates once (the
    # clearCache-between-queries discipline reclaims it)
    cum = walk.persist()
    # lead(v) without a global window: the walk's dense value rank makes
    # "next distinct value" an equi-join on rank+1 — a hash exchange of
    # the distinct-value relation, never a single-task sort. The inner
    # join drops the last value (no successor), exactly lead()'s
    # null-filtered rows.
    nxt = cum.select(
        (F.col("__r") - F.lit(1)).alias("__rp"), F.col("v").alias("v_next")
    )
    walked = cum.join(nxt, F.col("__r") == F.col("__rp"))
    n_a_i, n_b_i = total_lit(n_a, n), total_lit(n_b, n)
    term = (F.col("v_next") - F.col("v")).cast("decimal(38,0)") * F.abs(
        F.col("cum_na_v").cast("decimal(38,0)") * n_b_i
        - F.col("cum_nb_v").cast("decimal(38,0)") * n_a_i
    )
    # grouped by the constant totals, so empty input stays zero rows
    out = walked.groupBy(n_a_i.alias("n_a_i"), n_b_i.alias("n_b_i")).agg(
        F.sum(term).alias("s")
    )
    return out.selectExpr(
        "CAST(n_a_i AS BIGINT) AS n_a",
        "CAST(n_b_i AS BIGINT) AS n_b",
        "ROUND(CAST(s AS DOUBLE)"
        f" / (CAST(n_a_i AS DOUBLE) * n_b_i * {unit_div}), 6) AS w1",
    )


def hellinger_tvd(
    df: DataFrame,
    value_col: str,
    side_col: str,
    side_a: str,
    side_b: str,
    n_bins: int,
) -> DataFrame:
    """Histogram-space divergence pair between two samples over shared
    equal-width bins: total variation distance (the largest possible
    difference in probability any event can see — the certificate
    bound) and Hellinger distance (the bounded, symmetric f-divergence
    that, unlike KL/PSI, never blows up on empty bins). One row
    (n_a, n_b, n_bins_occupied, tvd, bhattacharyya, hellinger).

    Exactness: the bin edges come from the pooled exact integer
    min/max (two-phase: 1-row bounds aggregate broadcast back); bin
    counts are exact; TVD = sum|na_i*n_b - nb_i*n_a| / (2*n_a*n_b) is
    exact until ONE division. The Bhattacharyya coefficient needs a
    per-bin sqrt(na_i*nb_i) — doubles of exact integer products,
    summed in an ORDERED fold by bin id (the chi-square discipline),
    then divided once by sqrt(n_a)*sqrt(n_b).
    Scale: two scans (bounds, then bin counts) collapsing to n_bins
    rows; everything after is constant-size."""
    tagged = two_sample_tagged(df, value_col, side_col, side_a, side_b)
    bounds = tagged.agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
    )
    binned = tagged.crossJoin(F.broadcast(bounds)).selectExpr(
        "ia",
        "ib",
        # explicit integral division (Spark `div` / DuckDB `//`) — plain
        # `/` is float division in DuckDB and its double->int cast ROUNDS,
        # so the two engines would bin boundary values differently
        "CASE WHEN hi = lo THEN 0 ELSE"
        f" LEAST(CAST((CAST(v AS DECIMAL(38,0)) - lo) * {n_bins}"
        f"            div (CAST(hi AS DECIMAL(38,0)) - lo) AS INT),"
        f" {n_bins - 1}) END AS b",
    )
    per_b = binned.groupBy("b").agg(
        F.sum("ia").cast("bigint").alias("na_b"),
        F.sum("ib").cast("bigint").alias("nb_b"),
    )
    tot = per_b.agg(
        F.sum("na_b").cast("bigint").alias("n_a_i"),
        F.sum("nb_b").cast("bigint").alias("n_b_i"),
    )
    terms = per_b.crossJoin(F.broadcast(tot)).select(
        "b",
        "n_a_i",
        "n_b_i",
        F.abs(
            F.col("na_b").cast("decimal(38,0)") * F.col("n_b_i")
            - F.col("nb_b").cast("decimal(38,0)") * F.col("n_a_i")
        ).alias("tvd_num"),
        F.sqrt(
            (F.col("na_b").cast("decimal(38,0)") * F.col("nb_b"))
            .cast("double")
        ).alias("bc_term"),
    )
    agg = terms.groupBy("n_a_i", "n_b_i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.sum("tvd_num").alias("tvd_s"),
        F.expr(ordered_sum("bc_term", "b")).alias("bc_s"),
    )
    return agg.selectExpr(
        "CAST(n_a_i AS BIGINT) AS n_a",
        "CAST(n_b_i AS BIGINT) AS n_b",
        "n_occ AS n_bins_occupied",
        "ROUND(CAST(tvd_s AS DOUBLE)"
        " / (2.0 * CAST(n_a_i AS DOUBLE) * n_b_i), 6) AS tvd",
        "ROUND(bc_s / (SQRT(CAST(n_a_i AS DOUBLE)) * SQRT(CAST(n_b_i"
        " AS DOUBLE))), 6) AS bhattacharyya",
        "ROUND(SQRT(GREATEST(1.0 - bc_s / (SQRT(CAST(n_a_i AS DOUBLE))"
        " * SQRT(CAST(n_b_i AS DOUBLE))), 0.0)), 6) AS hellinger",
    )


def huber_irls_fit(
    xs: list[int],
    ys: list[int],
    iterations: int = 3,
    k: int = 20_000_000,
) -> tuple[float, float]:
    """Huber-weighted IRLS line fit on a driver-side sample with the
    exact-replay discipline (the logreg_train trajectory rules): start
    from OLS, then per round compute round-6 residuals against the
    current (a, b), micro-scale the Huber weights w = min(1, k/|r|) to
    exact integers, rebuild the weighted moments as exact integer
    sums, and solve the weighted normal equations with one shared
    double chain (b round-6, a round-4). ``k`` is a FIXED threshold in
    the y unit (documented variant: production Huber re-estimates
    scale via MADN; a fixed k keeps the trajectory replayable by a
    plain CTE chain). Returns (a, b)."""
    import math

    def hu(v: float, digits: int) -> float:
        # SQL ROUND (half away from zero) — Python round() is banker's
        s = 10.0 ** digits
        return math.copysign(math.floor(abs(v) * s + 0.5) / s, v)

    n = len(xs)
    sx = sum(xs)
    sy = sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    b = hu(float(n * sxy - sx * sy) / float(n * sxx - sx * sx), 6)
    a = hu((float(sy) - b * float(sx)) / n, 4)
    for _ in range(iterations):
        w6 = []
        for x, y in zip(xs, ys):
            r = hu(y - (a + b * x), 6)
            if r == 0:
                w6.append(1000000)
            else:
                w6.append(
                    min(1000000, int(math.floor(k * 1000000.0 / abs(r) + 0.5)))
                )
        nw = sum(w6)
        sxw = sum(w * x for w, x in zip(w6, xs))
        syw = sum(w * y for w, y in zip(w6, ys))
        sxxw = sum(w * x * x for w, x in zip(w6, xs))
        sxyw = sum(w * x * y for w, x, y in zip(w6, xs, ys))
        b = hu(
            (float(nw) * sxyw - float(sxw) * syw)
            / (float(nw) * sxxw - float(sxw) * sxw),
            6,
        )
        a = hu((float(syw) - b * float(sxw)) / nw, 4)
    return a, b

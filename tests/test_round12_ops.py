"""Round-12 additions: nonparametric/effect-size stats, MTA, and the
detector closed forms. The streaming detector->queue loop tests
(single-shot latch + batch equivalence + queue delivery, one trio per
detector) moved to the shared contract harness in
test_detector_contract.py (VERDICT r13 #5)."""


# ---------------------------------------------------------------------------
# Round-12 second session: nonparametric/effect-size stats + MTA additions
# ---------------------------------------------------------------------------


def test_kruskal_wallis_exact_small_case(spark):
    """A=[1,2], B=[3,4]: ranks 1..4, R_A=3, R_B=7 ->
    H = 12/(4*5) * (9/2 + 49/2) - 3*5 = 2.4 exactly (no ties)."""
    from dawis_spark.operators.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], ["g", "v"]
    )
    row = kruskal_wallis(df, "v", "g").first()
    assert row.k_groups == 2 and row.n_rows == 4
    assert abs(row.h - 2.4) < 1e-9
    assert abs(row.h_tie_corrected - 2.4) < 1e-9  # no ties -> C = 1


def test_kruskal_wallis_identical_groups_near_zero(spark):
    from dawis_spark.operators.stats import kruskal_wallis

    rows = [(g, v) for g in "abc" for v in range(1, 21)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = kruskal_wallis(df, "v", "g").first()
    assert abs(row.h_tie_corrected) < 1e-6  # identical distributions


def test_brown_forsythe_separates_spread_not_location(spark):
    from dawis_spark.operators.stats import brown_forsythe

    # same spread, shifted location -> F == 0 (deviations identical)
    same = spark.createDataFrame(
        [("a", 0), ("a", 10), ("a", 20), ("b", 100), ("b", 110), ("b", 120)],
        ["g", "v"],
    )
    r0 = brown_forsythe(same, "g", "v").first()
    assert r0.f_stat is not None and abs(r0.f_stat) < 1e-9
    # 10x spread difference -> large F
    spread = spark.createDataFrame(
        [("a", 0), ("a", 100), ("a", 200), ("b", 95), ("b", 100), ("b", 105)],
        ["g", "v"],
    )
    r1 = brown_forsythe(spread, "g", "v").first()
    assert r1.f_stat > 3  # n=3 per group: mean |dev| 133.3 vs 6.7


def test_group_median2_even_and_odd(spark):
    from dawis_spark.operators.stats import group_median2

    df = spark.createDataFrame(
        [("odd", v) for v in (1, 5, 9)] + [("even", v) for v in (2, 4, 6, 8)],
        ["g", "v"],
    )
    m = {r.g: r.m2 for r in group_median2(df, "g", "v").collect()}
    assert m["odd"] == 10  # 2 * 5
    assert m["even"] == 10  # 4 + 6


def test_two_sample_effect_sizes_hand_case(spark):
    """A=[3,4], B=[1,2]: d = 2/sqrt(0.5), g = d*(1 - 3/7), delta = 1."""
    from dawis_spark.operators.stats import two_sample_effect_sizes

    df = spark.createDataFrame(
        [("A", 3), ("A", 4), ("B", 1), ("B", 2)], ["side", "v"]
    )
    r = two_sample_effect_sizes(df, "v", "side", "A", "B").first()
    assert r.n_a == 2 and r.n_b == 2
    assert abs(r.mean_diff - 2.0) < 1e-9
    assert abs(r.cohens_d - 2.828427) < 1e-6
    assert abs(r.hedges_g - 2.828427 * (1 - 3.0 / 7.0)) < 1e-5
    assert r.cliffs_delta == 1.0


def test_g_test_zero_on_exact_independence(spark):
    from dawis_spark.operators.stats import g_test_independence

    rows = (
        [("r1", "c1")] * 10 + [("r1", "c2")] * 20
        + [("r2", "c1")] * 20 + [("r2", "c2")] * 40
    )
    df = spark.createDataFrame(rows, ["r", "c"])
    row = g_test_independence(df, "r", "c").first()
    assert row.dof == 1 and row.n_cells == 4
    assert abs(row.g2) < 1e-12


def _mta_events(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_linear_attribution_even_split_with_remainder_to_first(spark):
    import datetime as dt

    from dawis_spark.operators.journeys import linear_attribution

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    ev = _mta_events(
        spark,
        [
            (1, t(1), 7, "click", 0.0),
            (2, t(2), 7, "view", 0.0),
            (3, t(3), 7, "email", 0.0),
            (4, t(4), 7, "purchase", 1.0),
        ],
    )
    out = {r.touch_type: r.credit for r in linear_attribution(ev).collect()}
    # 100 cents over 3 touches: ppm 333334/333333/333333 -> credits
    # 33.3334/33.3333/33.3333 cents -> all round to 0.33
    assert out == {"click": 0.33, "view": 0.33, "email": 0.33}


def test_time_decay_attribution_halves_per_week(spark):
    import datetime as dt

    from dawis_spark.operators.journeys import time_decay_attribution

    ev = _mta_events(
        spark,
        [
            (1, dt.datetime(2024, 1, 1), 7, "email", 0.0),  # 8 days out
            (2, dt.datetime(2024, 1, 9), 7, "click", 0.0),  # same day
            (3, dt.datetime(2024, 1, 9, 12), 7, "purchase", 1.0),
        ],
    )
    out = {
        r.touch_type: r.credit
        for r in time_decay_attribution(ev, half_life_days=7).collect()
    }
    # weights: email 1e6>>1=5e5, click 1e6 -> 100*5e5//15e5=33, 100*1e6//15e5=66
    assert out == {"email": 0.33, "click": 0.66}


def test_nelson_aalen_matches_kaplan_meier_relation(spark):
    """exp(-H_NA(t)) >= S_KM(t) everywhere (1-x <= e^-x per factor),
    and the cumulative hazard is nondecreasing."""
    from dawis_spark import queries as q

    sf = "/root/testdata/sf0.001"
    na = (
        q.QUERIES["nelson_aalen_hazard"](spark, sf)
        .orderBy("duration")
        .collect()
    )
    km = {
        r.duration: r.survival
        for r in q.QUERIES["kaplan_meier_retention"](spark, sf).collect()
    }
    prev = -1.0
    for r in na:
        assert r.cum_hazard >= prev - 1e-12
        prev = r.cum_hazard
        assert r.survival_na >= km[r.duration] - 1e-9


def test_ar2_coefficients_match_numpy_lstsq(spark):
    """The Cramer-rule AR(2) solve equals numpy's least squares on the
    same lag design (synthetic series with known structure)."""
    import numpy as np

    from dawis_spark import queries as q

    rows = q.QUERIES["ar2_forecast_daily"](spark, "/root/testdata/sf0.001").collect()
    assert [r.h for r in rows] == [1, 2, 3, 4, 5, 6, 7]
    phi1, phi2, c0 = rows[0].phi1, rows[0].phi2, rows[0].intercept_cents
    # rebuild the same daily series and check against numpy
    daily = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy("o_orderdate")
        .agg({"o_totalprice": "sum"})
        .orderBy("o_orderdate")
        .collect()
    )
    x = np.array([round(r[1] * 100) for r in daily], dtype=np.float64)
    X = np.column_stack([np.ones(len(x) - 2), x[1:-1], x[:-2]])
    beta, *_ = np.linalg.lstsq(X, x[2:], rcond=None)
    assert abs(c0 - beta[0]) / max(abs(beta[0]), 1.0) < 1e-4
    assert abs(phi1 - beta[1]) < 1e-4
    assert abs(phi2 - beta[2]) < 1e-4
    # recursive forecast replays the fitted recursion
    f1 = beta[0] + beta[1] * x[-1] + beta[2] * x[-2]
    assert abs(rows[0].forecast - round(f1 / 100, 2)) < 0.05


def test_esd_rounds_are_disjoint_and_extreme_first(spark):
    from dawis_spark import queries as q

    rows = q.QUERIES["esd_outliers_daily"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    assert len({r.day for r in rows}) == 5  # each round removes its pick


def test_binseg_level2_gain_not_above_level1(spark):
    """Level 1 maximizes over the whole series; level 2 maximizes over
    a subset of the same candidate splits' refinements — its gain can
    exceed level 1's only if the level-1 split were suboptimal."""
    from dawis_spark import queries as q

    rows = {
        r.level: r
        for r in q.QUERIES["binseg_changepoints_daily"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows[1].gain > 0 and rows[2].gain > 0
    assert rows[1].split_day != rows[2].split_day


# ---------------------------------------------------------------------------
# CUSUM alert wiring (the stream_psi_alerts discipline for the second
# detector family: PSI = distribution drift, CUSUM = level shift)
# ---------------------------------------------------------------------------

def test_classifier_diagnostics_ranges(spark):
    """HL stat >= 0 with dof = bins-2; KS in [0, 1]; MCC in [-1, 1] and
    consistent with its own confusion cells."""
    import math

    from dawis_spark import queries as q

    sf = "/root/testdata/sf0.001"
    hl = q.QUERIES["hosmer_lemeshow_classifier"](spark, sf).collect()
    assert all(r.hl_stat >= 0 for r in hl)
    assert all(r.dof == len(hl) - 2 for r in hl)
    assert all(abs(r.expected - r.n_b * (r.bin_lo + 0.05)) < r.n_b * 0.05 + 1
               for r in hl)  # expected falls inside its own bin's range
    ks = q.QUERIES["ks_statistic_classifier"](spark, sf).first()
    assert 0.0 <= ks.ks_stat <= 1.0
    assert 0.0 <= ks.at_threshold <= 1.0
    m = q.QUERIES["mcc_classifier_confusion"](spark, sf).first()
    assert -1.0 <= m.mcc <= 1.0
    num = m.tp * m.tn - m.fp * m.fn
    den = math.sqrt(
        (m.tp + m.fp) * (m.tp + m.fn) * (m.tn + m.fp) * (m.tn + m.fn)
    )
    assert abs(m.mcc - num / den) < 1e-6


def test_cramer_von_mises_hand_case_and_null(spark):
    """A=[1,2] vs B=[3,4]: T = 24/64 = 0.375 exactly; identical
    samples give T = 0."""
    from dawis_spark.operators.stats import cramer_von_mises

    sep = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 3), ("B", 4)], ["side", "v"]
    )
    r = cramer_von_mises(sep, "v", "side", "A", "B").first()
    assert r.n_a == 2 and r.n_b == 2
    assert abs(r.t_cvm - 0.375) < 1e-9
    same = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 1), ("B", 2)], ["side", "v"]
    )
    assert cramer_von_mises(same, "v", "side", "A", "B").first().t_cvm == 0.0


def test_anderson_darling_orders_separation(spark):
    from dawis_spark.operators.stats import anderson_darling_k

    same = spark.createDataFrame(
        [(g, v) for g in "ab" for v in range(1, 11)], ["g", "v"]
    )
    sep = spark.createDataFrame(
        [("a", v) for v in range(1, 11)] + [("b", v) for v in range(11, 21)],
        ["g", "v"],
    )
    a_same = anderson_darling_k(same, "v", "g").first().a2_akn
    a_sep = anderson_darling_k(sep, "v", "g").first().a2_akn
    assert a_sep > a_same


def test_anderson_darling_degenerate_inputs_match_oracle(spark):
    """Spark and the DuckDB oracle share one definition on degenerate
    input: a single distinct pooled value is (k, n, 0.0), the empty
    sum; empty input is (0, NULL, NULL). A two-value input checks the
    ordinary case through the same path."""
    import duckdb
    from pyspark.sql import functions as F

    from dawis_spark.operators.stats import anderson_darling_k
    from dawis_spark.queries.q06_causal_eval_tail import _ADK_ORACLE

    cases = {
        "one_value": [("1-URGENT", 12.5), ("5-LOW", 12.5), ("5-LOW", 12.5)],
        "two_values": [("1-URGENT", 1.0), ("5-LOW", 2.0), ("5-LOW", 1.0)],
        "empty": [],
    }
    got = {}
    for name, rows in cases.items():
        orders = spark.createDataFrame(
            rows, "o_orderpriority string, o_totalprice double"
        ).select(
            "o_orderpriority",
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
        )
        r = anderson_darling_k(orders, "cents", "o_orderpriority").first()
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE orders(o_orderpriority VARCHAR, o_totalprice DOUBLE)"
        )
        if rows:
            con.executemany("INSERT INTO orders VALUES (?, ?)", rows)
        assert tuple(r) == con.execute(_ADK_ORACLE).fetchone(), name
        got[name] = tuple(r)
    assert got["one_value"] == (2, 3, 0.0)
    assert got["empty"] == (0, None, None)


def test_friedman_perfect_ordering_hits_maximum(spark):
    """3 complete blocks, 3 treatments, identical ordering in every
    block -> Q = n(k-1) = 6, the statistic's maximum."""
    from dawis_spark.operators.stats import friedman_test

    rows = [
        (blk, tr, base + off)
        for blk, base in (("d1", 10), ("d2", 20), ("d3", 30))
        for tr, off in (("a", 1), ("b", 2), ("c", 3))
    ]
    df = spark.createDataFrame(rows, ["blk", "tr", "v"])
    r = friedman_test(df, "blk", "tr", "v").first()
    assert r.k_treatments == 3 and r.n_blocks == 3
    assert abs(r.q_stat - 6.0) < 1e-9


def test_friedman_drops_incomplete_blocks(spark):
    from dawis_spark.operators.stats import friedman_test

    rows = [
        ("d1", "a", 1), ("d1", "b", 2),
        ("d2", "a", 1), ("d2", "b", 2),
        ("d3", "a", 1),  # incomplete: no 'b'
    ]
    df = spark.createDataFrame(rows, ["blk", "tr", "v"])
    r = friedman_test(df, "blk", "tr", "v").first()
    assert r.n_blocks == 2  # d3 dropped


# ---------------------------------------------------------------------------
# Page-Hinkley alert wiring — third detector into the same queue
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# SPC / Western-Electric alert wiring (fourth detector family: PSI =
# distribution drift, CUSUM = level shift, Page-Hinkley = mean drift,
# SPC/WE = the chart rules a human reads)
# ---------------------------------------------------------------------------

# noisy-but-in-control base series, then a 4x spike at bucket 10
_SPC_BASE = [100, 103, 97, 101, 99, 104, 96, 100, 102, 98]


def test_spc_closed_form_flags_spike_and_guards_flat():
    from dawis_spark.streaming.spc import spc_closed_form

    flat = [(i, 100) for i in range(12)]
    assert all(m == 0 for _, _, m in spc_closed_form(flat))

    series = [(i, v) for i, v in enumerate(_SPC_BASE + [400])]
    scored = spc_closed_form(series)
    # the spike must fire rule 1 (beyond 3 sigma) at bucket 10
    b, units, mask = scored[-1]
    assert b == 10 and (mask & 1) == 1 and units > 3000
    # and nothing before the spike fires rule 1
    assert all((m & 1) == 0 for _, _, m in scored[:-1])


def test_wasserstein_1d_self_zero_and_shift(spark):
    """W1(X, X) = 0; W1 of a constant +delta shift = delta (the metric's
    defining translation property — KS/CvM can't see magnitude)."""
    from dawis_spark.operators.stats import wasserstein_1d

    rows = [(v, "a") for v in (100, 200, 300, 400)] + [
        (v, "b") for v in (100, 200, 300, 400)
    ]
    df = spark.createDataFrame(rows, "v long, side string")
    out = wasserstein_1d(df, "v", "side", "a", "b").collect()[0]
    assert out["w1"] == 0.0 and out["n_a"] == 4

    rows = [(v, "a") for v in (100, 200, 300, 400)] + [
        (v + 50, "b") for v in (100, 200, 300, 400)
    ]
    df = spark.createDataFrame(rows, "v long, side string")
    out = wasserstein_1d(df, "v", "side", "a", "b").collect()[0]
    assert out["w1"] == 50.0


def test_hellinger_tvd_bounds_and_disjoint(spark):
    """Self-distance 0; fully disjoint supports give TVD = 1 and
    Hellinger = 1 (both metrics saturate at their upper bound)."""
    from dawis_spark.operators.stats import hellinger_tvd

    same = [(v, s) for v in (10, 20, 30, 90) for s in ("a", "b")]
    df = spark.createDataFrame(same, "v long, side string")
    out = hellinger_tvd(df, "v", "side", "a", "b", n_bins=4).collect()[0]
    assert out["tvd"] == 0.0 and out["hellinger"] == 0.0
    assert out["bhattacharyya"] == 1.0

    rows = [(v, "a") for v in (10, 11, 12)] + [(v, "b") for v in (90, 91, 92)]
    df = spark.createDataFrame(rows, "v long, side string")
    out = hellinger_tvd(df, "v", "side", "a", "b", n_bins=4).collect()[0]
    assert out["tvd"] == 1.0 and out["hellinger"] == 1.0


def test_ses_theta_fit_constant_and_trend():
    """A constant series smooths to itself with zero slope; a perfect
    linear ramp recovers the exact slope (num/den = step)."""
    from dawis_spark.operators.forecast import ses_theta_fit

    lvl, num, den = ses_theta_fit([500, 500, 500, 500])
    assert lvl == 500 and num == 0

    ramp = [100 * t for t in range(1, 9)]
    lvl, num, den = ses_theta_fit(ramp)
    assert num / den == 100.0
    assert lvl < ramp[-1]  # SES lags a rising ramp


def test_croston_fit_regular_and_gapped():
    """Dense demand (interval 1) keeps interval_hat at 1 so rate ==
    size_hat; doubling every gap halves the rate estimate's
    denominator direction (interval_hat grows toward 2)."""
    from dawis_spark.operators.forecast import croston_fit

    z, q, m = croston_fit([0, 1, 2, 3], [8, 8, 8, 8])
    assert q == 1000000 and z == 8000000 and m == 4

    z2, q2, _ = croston_fit([0, 2, 4, 6], [8, 8, 8, 8])
    assert z2 == 8000000 and q2 > 1500000  # converging toward 2.0


def test_platt_fit_identity_on_calibrated_input():
    """Margins that already produce perfectly-calibrated hard labels
    leave (a, b) essentially at the (1, 0) init — the no-op fixpoint;
    a uniform positive residual pushes b down."""
    from dawis_spark.operators.logreg import platt_fit

    # sigmoid(+/-10) leaves a round-6 residual of ~+/-4.5e-5, so the
    # trajectory drifts by O(1e-3), not zero
    a, b = platt_fit([10.0, 10.0, -10.0, -10.0], [1.0, 1.0, 0.0, 0.0])
    assert abs(a - 1.0) < 1e-2 and abs(b) < 1e-2

    a2, b2 = platt_fit([2.0, 2.0, 2.0, 2.0], [0.0, 0.0, 0.0, 0.0])
    assert b2 < 0  # all-negative labels drag the intercept down


def test_huber_fit_resists_outlier():
    """One gross outlier drags the OLS slope but barely moves the
    Huber-IRLS fit (the operator's reason to exist)."""
    from dawis_spark.operators.stats import huber_irls_fit

    xs = list(range(1, 41))
    ys = [100 * x for x in xs]
    ys[-1] += 100_000_000  # one whale at the end
    a, b = huber_irls_fit(xs, ys, iterations=3, k=5_000)
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    b_ols = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert b_ols > 10_000  # OLS chases the whale
    # 3 IRLS rounds pull the slope back within ~2x of truth from an
    # initialization 100x off — two orders of magnitude of the
    # contamination removed
    assert b < b_ols / 50 and abs(b - 100) < 150


def test_cdc_chunks_boundary_locality(spark):
    """Content-defined chunking's defining property: inserting one
    token changes only the chunk containing it — downstream chunk
    hashes survive, unlike fixed-width windows."""
    from dawis_spark.queries import _cdc_chunks_expr, _cdc_cuts_expr
    from dawis_spark.functions import text as T

    # diverse tokens so ~1/16 of rolling windows are boundaries; a
    # periodic text has too few distinct windows to cut at all
    toks = [f"tok{i}word" for i in range(120)]
    base = " ".join(toks)
    edited = " ".join(toks[:60] + ["INSERTED"] + toks[60:])
    th = T.token_hash_array("text", "spark")
    cuts = _cdc_cuts_expr("__th", "spark")
    chunks = _cdc_chunks_expr("__th", "__cuts", "spark")
    df = (
        spark.createDataFrame([(1, base), (2, edited)], "id int, text string")
        .selectExpr("id", f"{th} AS __th")
        .selectExpr("id", "__th", f"{cuts} AS __cuts")
        .selectExpr("id", f"{chunks} AS ch")
        .collect()
    )
    sets = {r["id"]: {c["ch"] for c in r["ch"]} for r in df}
    shared = sets[1] & sets[2]
    # the edit perturbs a bounded neighborhood; most chunks survive
    assert len(shared) >= max(1, len(sets[1]) - 3)

"""Round-13 additions: the forecast-residual streaming monitor (the
model-based member of the detector family, streaming/forecastmon.py),
its shared closed form, and its batch twin query. The streaming
single-shot/batch-twin/queue trio moved to the shared contract harness
in test_detector_contract.py (VERDICT r13 #5)."""


# a clean linear ramp: Holt follows the trend, residuals shrink — the
# monitor must stay quiet even though every point is far from the MEAN
# (the exact case SPC would flag and a trend-aware monitor must not)
_RAMP = [(i, 1000 + 100 * i) for i in range(14)]


def test_holt_residual_walk_exactness_and_breach_rule():
    from dawis_spark.operators.forecast import (
        first_holt_residual_breach,
        holt_fit,
        holt_residual_walk,
    )

    walk = holt_residual_walk(_RAMP)
    assert len(walk) == len(_RAMP) - 1
    # residual = actual - (pre-update level + trend); prior stats are
    # exact integer prefix sums of |resid|
    n, s = 0, 0
    for (b, f, r, n_prior, s_prior), (_, x) in zip(walk, _RAMP[1:]):
        assert r == x - f
        assert (n_prior, s_prior) == (n, s)
        n, s = n + 1, s + abs(r)
    # the walk's final state equals holt_fit (shared recurrence): the
    # LAST forecast is the fit-before-last's l + b
    lvl, tr = holt_fit([x for _, x in _RAMP[:-1]])
    assert walk[-1][1] == lvl + tr
    # trend-following: no breach on the ramp
    assert first_holt_residual_breach(_RAMP) is None
    # trend BREAK: ramp continues then jumps to 4000 at bucket 16
    broke = _RAMP + [(14, 2400), (15, 2500), (16, 4000)]
    b = first_holt_residual_breach(broke)
    assert b is not None and b[0] == 16 and b[2] == 4000 - b[1]
    # dead-flat history: sum_abs_prior == 0, so ANY wiggle after warmup
    # breaches (the deliberate first-surprise rule)
    flat = [(i, 500) for i in range(12)]
    assert first_holt_residual_breach(flat) is None
    assert first_holt_residual_breach(flat + [(12, 520)])[0] == 12


def test_value_cum_walk_matches_global_window_twin(spark):
    """The r13 EDF-migration primitive, pinned against the semantics it
    replaced: inclusive running sums + dense rank from value_cum_walk
    must be BIT-IDENTICAL to SUM(c) OVER (ORDER BY v ROWS UNBOUNDED
    PRECEDING..CURRENT ROW) / row_number, ascending and descending,
    including multi-sum one-call form and a NULL-free skewed domain.
    The returned row count and totals equal COUNT and SUM."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dawis_spark.operators.stats import value_cum_walk

    rnd = random.Random(13)
    rows = [
        (rnd.randrange(-500, 10_000), rnd.randrange(0, 7), rnd.randrange(0, 5))
        for _ in range(400)
    ]
    per_v = (
        spark.createDataFrame(rows, "v long, a long, b long")
        .groupBy("v")
        .agg(
            F.sum("a").cast("bigint").alias("ca"),
            F.sum("b").cast("bigint").alias("cb"),
        )
    )
    for desc in (False, True):
        order = F.desc("v") if desc else F.asc("v")
        w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
        twin = per_v.select(
            "v",
            F.row_number().over(Window.orderBy(order)).cast("bigint").alias("r"),
            F.sum("ca").over(w).cast("bigint").alias("xa"),
            F.sum("cb").over(w).cast("bigint").alias("xb"),
        )
        got, n, totals = value_cum_walk(
            per_v, "v", ["ca", "cb"], n_buckets=16, desc=desc
        )
        tot = per_v.agg(F.sum("ca"), F.sum("cb")).first()
        assert (n, totals) == (per_v.count(), list(tot))
        exp = {row["v"]: (row["r"], row["xa"], row["xb"]) for row in twin.collect()}
        for row in got.collect():
            assert (row["__r"], row["cum_ca"], row["cum_cb"]) == exp[row["v"]], (
                desc,
                row,
            )
        spark.catalog.clearCache()


def _plan13(spark, name):
    import dawis_spark.queries as q
    import io
    from contextlib import redirect_stdout

    df = q.QUERIES[name](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    spark.catalog.clearCache()
    return buf.getvalue()


def test_r13_new_query_plan_shapes(spark):
    """Pin the scale-critical shapes of the round-13 additions so the
    SCALE.md adjudications are enforced, not prose."""
    # mean_excess_pot: the literal threshold grid must broadcast into the
    # fact scan — a SortMergeJoin here would shuffle the facts for a
    # 5-row relation
    p = _plan13(spark, "mean_excess_pot")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # event_study_did: every dim joins broadcast; the fact table never
    # shuffles for a dimension
    p = _plan13(spark, "event_study_did")
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    # holt_residual_breaches: exactly one row-scale exchange feeds the
    # per-key pandas walk (the day-rollup), and the walk itself is a
    # FlatMapGroupsInPandas over that rollup
    p = _plan13(spark, "holt_residual_breaches")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("+- Scan parquet") == 1  # ONE source feeds the walk
    # dedup_cluster_sizes: the first exchange carries digests, never text
    # (ReadSchema of the scan feeding the hash agg includes only text ->
    # projected to the digest before the exchange); cheap proxy: no sort
    # joins anywhere and two hash aggregates around each exchange
    p = _plan13(spark, "dedup_cluster_sizes")
    assert "SortMergeJoin" not in p
    assert "HashAggregate" in p


def test_obf_group_sequential_registers_bounded_window(spark):
    """The first bounded_window consumer actually registers its
    adjudication at plan-build time (what the inventory-wide window pin
    unions in)."""
    import dawis_spark.queries as q
    from dawis_spark.plans.bounded import BOUNDED_WINDOW_REGISTRY

    BOUNDED_WINDOW_REGISTRY.pop("obf_group_sequential", None)
    q.QUERIES["obf_group_sequential"](spark, "/root/testdata/sf0.001")
    ((cls, reason),) = BOUNDED_WINDOW_REGISTRY["obf_group_sequential"]
    assert cls == "day-spine" and "day" in reason
    spark.catalog.clearCache()

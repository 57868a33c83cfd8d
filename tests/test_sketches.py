"""KMV distinct-count sketch: exact-below-k path, partition-layout
invariance (the k-smallest combine is associative), and estimator
quality on a larger synthetic cardinality."""

from pyspark.sql import functions as F


def _kmv(spark, n_values, n_rows_per, k, n_parts):
    from dawis_spark.operators.sketches import kmv_distinct

    df = (
        spark.range(n_values * n_rows_per)
        .select(
            F.lit("g").alias("grp"),
            (F.col("id") % n_values).alias("val"),
        )
        .repartition(n_parts)
    )
    return kmv_distinct(df, ["grp"], "val", k=k).collect()[0]


def test_kmv_exact_below_k(spark):
    row = _kmv(spark, n_values=40, n_rows_per=3, k=64, n_parts=8)
    # fewer distinct values than k: the sketch IS the exact distinct set
    assert row["n_kept"] == 40
    assert row["kth_hash"] is None
    assert row["estimate"] == 40.0


def test_kmv_partition_layout_invariant(spark):
    # k smallest of per-partition k-smallest == global k smallest, so the
    # result must not depend on how rows are scattered across tasks
    rows = [
        _kmv(spark, n_values=5000, n_rows_per=2, k=64, n_parts=p)
        for p in (1, 7, 32)
    ]
    assert len({r["kth_hash"] for r in rows}) == 1
    assert len({r["estimate"] for r in rows}) == 1


def test_kmv_estimate_quality(spark):
    # KMV standard error is ~1/sqrt(k); allow 4 sigma at k=64 (12.5%/σ)
    row = _kmv(spark, n_values=5000, n_rows_per=2, k=64, n_parts=16)
    assert row["n_kept"] == 64
    assert abs(row["estimate"] - 5000) / 5000 < 0.5


def test_kmv_set_ops_exact_when_sets_small(spark):
    # both sketches exhaustive (sets < k): every figure is exact
    from dawis_spark.operators.sketches import kmv_set_ops, kmv_sets

    rows = [("a", v) for v in range(10)] + [("b", v) for v in range(5, 20)]
    df = spark.createDataFrame(rows, "grp string, val int")
    sk = kmv_sets(df, ["grp"], "val", k=64)
    a = sk.filter("grp = 'a'").select(F.col("hs").alias("hs_a"))
    b = sk.filter("grp = 'b'").select(F.col("hs").alias("hs_b"))
    out = kmv_set_ops(a.crossJoin(b), "hs_a", "hs_b", 64).collect()[0]
    # |A|=10, |B|=15, inter {5..9} = 5, union = 20
    assert out["est_union"] == 20.0
    assert out["est_intersection"] == 5.0
    assert out["est_jaccard"] == 0.25


def test_weighted_sketch_builds_match_per_occurrence(spark):
    """cm_sketch/cs_sketch built from a pre-counted (value, count)
    relation must be cell-for-cell identical to the per-occurrence
    build: a value's d (row, bucket, sign) cells depend only on the
    value, so sum(weight) == count of occurrences and
    sum(sign * weight) == sum of per-occurrence signs (the r15
    one-tokenize-pass rewrite of the heavy-hitter queries rides this)."""
    from dawis_spark.operators.sketches import cm_sketch, cs_sketch

    rows = [(f"v{i % 17}",) for i in range(300) for _ in range(i % 7 + 1)]
    df = spark.createDataFrame(rows, ["v"]).repartition(5)
    counts = df.groupBy("v").agg(F.count(F.lit(1)).alias("n"))

    occ_cm = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cm_sketch(df, "v", d=4, w=64).collect()
    }
    wt_cm = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cm_sketch(counts, "v", d=4, w=64, weight_col="n").collect()
    }
    assert occ_cm == wt_cm

    occ_cs = {
        (r["row"], r["bucket"]): r["ssum"]
        for r in cs_sketch(df, "v", d=5, w=64).collect()
    }
    wt_cs = {
        (r["row"], r["bucket"]): r["ssum"]
        for r in cs_sketch(counts, "v", d=5, w=64, weight_col="n").collect()
    }
    assert occ_cs == wt_cs


def test_array_lit_round_trips_exactly(spark):
    """The one-call string literal keeps every value bit-exact: doubles
    through ``repr`` and Spark's correctly rounded string->double cast
    (subnormals, extremes, signed zero, infinities, NaN), bigints at
    both ends of their range, and the empty list (``split`` of an empty
    string would give one empty element)."""
    import math

    from dawis_spark.operators.sketches import array_lit

    doubles = [i / 1024 for i in range(1, 1024)] + [
        -1.5, 0.1, 1 / 3, -0.0, 5e-324, -5e-324,
        1.7976931348623157e308, -1.7976931348623157e308,
        math.inf, -math.inf, math.nan,
    ]
    bigints = [2**63 - 1, -(2**63 - 1), 0, -7, 1024]
    row = spark.range(1).select(
        array_lit(doubles, "double").alias("d"),
        array_lit(bigints, "bigint").alias("b"),
        array_lit([], "double").alias("ed"),
        array_lit([], "bigint").alias("eb"),
    ).first()
    assert len(row["d"]) == len(doubles)
    for got, want in zip(row["d"], doubles):
        if math.isnan(want):
            assert math.isnan(got)
        else:
            assert got == want and math.copysign(1, got) == math.copysign(1, want)
    assert row["b"] == bigints
    assert row["ed"] == [] and row["eb"] == []


def _edf_walk(spark, n_buckets):
    from dawis_spark.operators.sketches import range_partitioned_ranks

    df = spark.range(3000).selectExpr("id AS k", "(id * 7919) % 2003 AS v")
    return range_partitioned_ranks(
        df, "v", ["k"], n_buckets=n_buckets, out_col="r", sum_cols=[("cum", "v")]
    )[0]


def test_edf_walk_array_literals_fold_to_constants(spark):
    """The split + cast of each array literal is constant-folded: the
    optimized plan carries literal arrays, so no row parses a string."""
    plan = _edf_walk(spark, 64)._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at([" in plan
    assert "split(" not in plan


def test_edf_walk_build_py4j_calls_do_not_grow_with_buckets(spark):
    """One walk's build makes O(log n_buckets) py4j calls, not
    O(n_buckets): per-element literals made about 20k calls at
    n_buckets=1024 against about 1.2k at 16. What remains of the
    difference is the six extra binary-search projections (about 100
    calls each), so fewer than one extra call per extra bucket."""
    import gc

    import py4j.clientserver as cs
    from py4j import protocol

    _edf_walk(spark, 16)  # warm up session-level lookups
    spark.catalog.clearCache()
    orig = cs.ClientServerConnection.send_command
    n_sent = [0]
    # py4j's finalizer thread sends these deletes of freed proxies through
    # the same method, on its own schedule: they are not the build's calls
    delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command):
        if not command.startswith(delete):
            n_sent[0] += 1
        return orig(self, command)

    calls = {}
    cs.ClientServerConnection.send_command = counting
    # freed Python proxies send py4j delete commands; collect garbage
    # outside the counted window so no earlier build's objects land in it
    gc.disable()
    try:
        for nb in (16, 1024):
            gc.collect()
            n_sent[0] = 0
            walk = _edf_walk(spark, nb)
            calls[nb] = n_sent[0]
            del walk
            spark.catalog.clearCache()
    finally:
        gc.enable()
        cs.ClientServerConnection.send_command = orig
    assert calls[1024] - calls[16] < 1024 - 16, calls

"""Round-11 operator tests: range_partitioned_ranks extensions (sum_col
running sums, NULL sort-key routing) and the journey whale guard."""

import random

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_range_partitioned_ranks_sum_col_matches_global_running_sum(spark):
    from dawis_spark.operators.sketches import range_partitioned_ranks

    rng = random.Random(11)
    rows = [(i, rng.choice([1, 2, 2, 3, 5, 5, 5, 900, 10**7])) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(7)
    for desc in (False, True):
        ranked, n, totals = range_partitioned_ranks(
            df, "v", ["k"], desc=desc, n_buckets=16, out_col="r",
            sum_cols=[("cum", "v")],
        )
        assert (n, totals) == (len(rows), [sum(v for _, v in rows)])
        got = {r["k"]: (r["r"], r["cum"]) for r in ranked.collect()}
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        w = Window.orderBy(*order)
        want = {
            r["k"]: (r["r"], r["cum"])
            for r in df.select(
                "k",
                F.row_number().over(w).alias("r"),
                F.sum("v")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("cum"),
            ).collect()
        }
        assert got == want


def test_range_partitioned_ranks_null_values_match_window_null_order(spark):
    """ADVICE r10: NULL sort keys must land where Spark's window puts
    them — FIRST for ASC, LAST for DESC — not silently in bucket 0."""
    from dawis_spark.operators.sketches import range_partitioned_ranks

    rows = [(0, None), (1, 5), (2, None), (3, 1), (4, 9), (5, 1)]
    df = spark.createDataFrame(rows, "k int, v int").repartition(3)
    for desc in (False, True):
        got = {
            r["k"]: r["r"]
            for r in range_partitioned_ranks(
                df, "v", ["k"], desc=desc, n_buckets=4, out_col="r"
            )[0].collect()
        }
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        want = {
            r["k"]: r["r"]
            for r in df.select(
                "k", F.row_number().over(Window.orderBy(*order)).alias("r")
            ).collect()
        }
        assert got == want, desc


def test_whale_guard_flags_by_share_and_count(spark):
    from dawis_spark.operators.journeys import whale_guard, whale_keys

    # key 1 holds 12/20 events (60%); key 2 holds 5; keys 3..5 one each
    rows = [(1,)] * 12 + [(2,)] * 5 + [(3,), (4,), (5,)]
    df = spark.createDataFrame(
        [(k, i) for i, (k,) in enumerate(rows)], "user_id int, event_id int"
    )
    # share threshold 25% -> only key 1; exact boundary: key 2 at 25%
    # exactly is NOT a whale (strict >)
    ks = {
        r["user_id"]: r["n_events"]
        for r in whale_keys(df, ["user_id"], max_share=(25, 100)).collect()
    }
    assert ks == {1: 12}
    # absolute threshold 4 -> keys 1 and 2
    ks2 = {
        r["user_id"]
        for r in whale_keys(df, ["user_id"], max_events=4).collect()
    }
    assert ks2 == {1, 2}
    flagged = whale_guard(df, ["user_id"], max_share=(25, 100))
    got = {
        (r["user_id"], r["is_whale"]) for r in flagged.select("user_id", "is_whale").distinct().collect()
    }
    assert got == {(1, True), (2, False), (3, False), (4, False), (5, False)}
    # row count preserved
    assert flagged.count() == 20


def test_guarded_journey_queries_audit_survives_all_whale_corpus(spark):
    """The four production journey queries + the guard demo all route
    through the whale guard with the n_whales audit column; on a corpus
    where EVERY user is a whale (sf0.001: 15 users, all > 0.8%), each
    must return exactly one NULL-measure row still carrying n_whales —
    the audit cannot vanish when the guard filtered everything
    (round-11 ADVICE fix, generalized to the whole family)."""
    import dawis_spark.queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    for name in [
        "event_transitions",
        "frequent_event_sequences",
        "session_entry_exit_bounce",
        "markov_next_event_accuracy",
        "whale_guarded_transitions",
    ]:
        rows = q.QUERIES[name](spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 1, name
        d = rows[0].asDict()
        assert d.pop("n_whales") == 15, name
        assert all(v is None for v in d.values()), name


def test_whale_guard_broadcasts_whale_set(spark):
    from dawis_spark.operators.journeys import whale_guard

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(100)], "user_id int, event_id int"
    )
    plan = (
        whale_guard(df, ["user_id"], max_share=(1, 5))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_partitioned_ranks_log_scale_identical_ranks(spark):
    """Equi-depth boundaries (which retired the former ``log_scale``
    flag) keep ranks and running sums bit-identical to the global
    window, including under a whale value that collapses linear buckets."""
    from dawis_spark.operators.sketches import range_partitioned_ranks

    import random

    rng = random.Random(23)
    rows = [(i, rng.randrange(1, 1000)) for i in range(400)] + [
        (400, 10**12),  # the whale
        (401, 0),
    ]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(7)
    for desc in (False, True):
        got = {
            r["k"]: (r["r"], r["cum"])
            for r in range_partitioned_ranks(
                df, "v", ["k"], desc=desc, n_buckets=16,
                out_col="r", sum_cols=[("cum", "v")],
            )[0].collect()
        }
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        w = Window.orderBy(*order)
        want = {
            r["k"]: (r["r"], r["cum"])
            for r in df.select(
                "k",
                F.row_number().over(w).alias("r"),
                F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
            ).collect()
        }
        assert got == want, desc


def test_stream_whale_alerts_cross_batch_and_batch_equivalence(spark, tmp_path):
    """Single-shot crossing alerts accumulate across micro-batches, and
    (no TTL) the alerted key set equals the batch whale_keys(max_events)
    over the union of delivered rows — the guard's batch-equivalence
    discipline."""
    from pyspark.sql import types as T

    from dawis_spark.operators.journeys import whale_keys
    from dawis_spark.streaming.stream import staging_stream
    from dawis_spark.streaming.whales import stream_whale_alerts

    staging = str(tmp_path / "staging")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.StringType()),
        ]
    )

    def tick(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(staging)
        q = (
            stream_whale_alerts(
                staging_stream(spark, staging, schema), "user_id", max_events=3
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # tick 1: u1 x3 (at threshold, NOT over), u2 x1
    tick([(i, "u1") for i in range(3)] + [(100, "u2")])
    assert spark.read.parquet(sink).count() == 0  # 3 > 3 is false
    # tick 2: u1 one more (crosses, alerts once), u2 x3 (crosses at 4)
    tick([(4, "u1")] + [(101 + i, "u2") for i in range(3)])
    rows = {r["user_id"]: r["n_events"] for r in spark.read.parquet(sink).collect()}
    assert rows == {"u1": 4, "u2": 4}
    # tick 3: both keys keep flowing — latched, no re-alerts
    tick([(200, "u1"), (201, "u2"), (202, "u3")])
    assert spark.read.parquet(sink).count() == 2
    # batch equivalence on the union of all delivered rows
    all_rows = spark.read.parquet(staging)
    batch = {
        r["user_id"] for r in whale_keys(all_rows, ["user_id"], max_events=3).collect()
    }
    assert batch == set(rows)


def test_count_sketch_exact_when_collision_free(spark):
    """With w large relative to the distinct-value count, no two values
    share a cell in any row, so every per-row estimate (and hence the
    median) equals the true count exactly — and the sketch is UNBIASED
    where count-min in the same regime is merely tight."""
    from dawis_spark.operators.sketches import cs_estimate, cs_sketch

    rows = [(f"v{i % 20}",) for i in range(200) for _ in range(i % 20 + 1)]
    df = spark.createDataFrame(rows, ["v"]).repartition(5)
    truth = {
        r["v"]: r["c"]
        for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()
    }
    sk = cs_sketch(df, "v", d=5, w=4096)
    est = cs_estimate(sk, df.select("v").distinct(), "v", d=5, w=4096)
    got = {r["v"]: r["cs_estimate"] for r in est.collect()}
    assert got == truth

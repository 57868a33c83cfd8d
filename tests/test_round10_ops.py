"""Round-10 additions: ADVICE hardening (int64 overflow guards, general
per-grade nDCG ideal, hits() parameter validation)."""

import pyspark.sql.functions as F
import pytest


def test_hits_rejects_zero_iterations(spark):
    from dawis_spark.operators.graph import hits

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="iterations >= 1"):
        hits(edges, iterations=0)


def test_ndcg_ideal_expr_matches_explicit_ranking(spark):
    """The per-grade-level closed form must equal the DCG of an explicit
    ideal ranking (descending grades, discount W[r]) for a 3-level grade
    histogram — the case the old g*cw_full + (cw_both - cw_full) formula
    scored wrong (it graded every partial as 1)."""
    from dawis_spark.queries import _NDCG_CUMW, _NDCG_K, _NDCG_W, _ndcg_ideal_expr

    cumw_arr = ", ".join(f"{w}D" for w in _NDCG_CUMW)
    g = 3
    expr = _ndcg_ideal_expr(
        g,
        lambda e: (
            f"element_at(array({cumw_arr}), cast(least({e}, {_NDCG_K}) as int) + 1)"
        ),
    )
    cases = [  # (n_grade3, n_grade2_exclusive, n_grade1_exclusive)
        (2, 3, 4),
        (0, 1, 2),
        (5, 9, 20),  # spills past K at every level
        (0, 0, 0),
    ]
    for n3, n2, n1 in cases:
        row = spark.sql(
            f"SELECT {expr} AS idcg FROM (SELECT CAST({n3 + n2 + n1} AS BIGINT)"
            f" AS n_ge_1, CAST({n3 + n2} AS BIGINT) AS n_ge_2,"
            f" CAST({n3} AS BIGINT) AS n_ge_3)"
        ).collect()[0]
        ideal_grades = [3] * n3 + [2] * n2 + [1] * n1
        expected = sum(
            gr * w for gr, w in zip(ideal_grades[:_NDCG_K], _NDCG_W)
        )
        assert abs(row["idcg"] - expected) < 1e-9, (n3, n2, n1)


def test_ndcg_ideal_expr_g2_matches_legacy_form(spark):
    """For two-term queries the histogram form must reproduce the old
    g*cw_full + (cw_both - cw_full) values exactly (oracle stability)."""
    from dawis_spark.queries import _NDCG_CUMW, _NDCG_K, _ndcg_ideal_expr

    cumw_arr = ", ".join(f"{w}D" for w in _NDCG_CUMW)
    expr = _ndcg_ideal_expr(
        2,
        lambda e: (
            f"element_at(array({cumw_arr}), cast(least({e}, {_NDCG_K}) as int) + 1)"
        ),
    )
    for n_full, n_partial in [(0, 0), (1, 0), (0, 4), (3, 2), (7, 9)]:
        row = spark.sql(
            f"SELECT {expr} AS idcg FROM (SELECT"
            f" CAST({n_full + n_partial} AS BIGINT) AS n_ge_1,"
            f" CAST({n_full} AS BIGINT) AS n_ge_2)"
        ).collect()[0]
        cw_full = _NDCG_CUMW[min(n_full, _NDCG_K)]
        cw_both = _NDCG_CUMW[min(n_full + n_partial, _NDCG_K)]
        legacy = 2 * cw_full + (cw_both - cw_full)
        assert abs(row["idcg"] - legacy) < 1e-12


def test_bootstrap_and_contrastive_hashes_survive_huge_keys(spark):
    """ADVICE r8: the pre-fix expressions overflowed int64 for keys past
    ~1.3e8 (bootstrap) / ~3.4e9 (contrastive) — silent wrap in Spark vs
    an error in DuckDB. The reduce-before-multiply forms stay in-range
    and non-negative for keys far beyond 100 TB scale."""
    from dawis_spark.functions import text as _TXT
    from dawis_spark.queries import _BOOT_A, _BOOT_B, _BOOT_C, _NEG_A1, _NEG_A2

    big = 10**12  # ~1e12 orderkeys / doc_ids
    u = (
        f"(((o_orderkey * {_BOOT_B} + b) % {_TXT.MOD}) * {_BOOT_A}"
        f" + {_BOOT_C}) % {_TXT.MOD}"
    )
    h = (
        f"({_NEG_A1} * (anchor_id % {_TXT.MOD})"
        f" + {_NEG_A2} * (neg_id % {_TXT.MOD})) % {_TXT.MOD}"
    )
    row = spark.sql(
        f"SELECT {u} AS u, {h} AS h FROM (SELECT CAST({big} AS BIGINT)"
        f" AS o_orderkey, CAST(63 AS BIGINT) AS b,"
        f" CAST({big} AS BIGINT) AS anchor_id,"
        f" CAST({big + 7} AS BIGINT) AS neg_id)"
    ).collect()[0]
    # python ints are unbounded: the exact values Spark MUST reproduce
    exp_u = (((big * _BOOT_B + 63) % _TXT.MOD) * _BOOT_A + _BOOT_C) % _TXT.MOD
    exp_h = (_NEG_A1 * (big % _TXT.MOD) + _NEG_A2 * ((big + 7) % _TXT.MOD)) % _TXT.MOD
    assert row["u"] == exp_u and row["u"] >= 0
    assert row["h"] == exp_h and row["h"] >= 0
    # and the intermediate products provably fit int64
    assert (_TXT.MOD - 1) * _BOOT_A + _BOOT_C < 2**63
    assert _NEG_A1 * (_TXT.MOD - 1) + _NEG_A2 * (_TXT.MOD - 1) < 2**63


def test_range_partitioned_ranks_match_global_row_number(spark):
    import random

    from pyspark.sql import Window
    from dawis_spark.operators.sketches import range_partitioned_ranks

    rng = random.Random(7)
    # heavy ties + whales: the bucket boundaries must never split a tie
    rows = [(i, rng.choice([1, 2, 2, 3, 5, 5, 5, 900, 10**7])) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(7)
    for desc in (False, True):
        got = {
            r["k"]: r["r"]
            for r in range_partitioned_ranks(
                df, "v", ["k"], desc=desc, n_buckets=16, out_col="r"
            )[0].collect()
        }
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        want = {
            r["k"]: r["r"]
            for r in df.select(
                "k", F.row_number().over(Window.orderBy(*order)).alias("r")
            ).collect()
        }
        assert got == want


def test_exact_ntile_matches_window_ntile(spark):
    import random

    from pyspark.sql import Window
    from dawis_spark.operators.sketches import exact_ntile

    rng = random.Random(13)
    for n, k in [(500, 10), (501, 10), (7, 3), (2, 5), (30, 3)]:
        rows = [(i, rng.randrange(0, 20)) for i in range(n)]
        df = spark.createDataFrame(rows, ["k", "v"]).repartition(5)
        got = {
            r["k"]: r["t"]
            for r in exact_ntile(
                df, "v", ["k"], k, n_buckets=8, out_col="t"
            ).collect()
        }
        want = {
            r["k"]: r["t"]
            for r in df.select(
                "k", F.ntile(k).over(Window.orderBy("v", "k")).alias("t")
            ).collect()
        }
        assert got == want, (n, k)


def test_hll_linear_counting_branch_small_cardinality(spark):
    import math

    from dawis_spark.operators.sketches import (
        HLL_LC,
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    df = spark.range(0, 12).selectExpr("id AS v")
    row = hll_estimate(hll_registers(df, "v")).collect()[0]
    assert row["method"] == "linear"
    assert row["v_empty"] > 0
    # est must equal the literal-table lookup, and the table must equal
    # m*ln(m/v) to the literal's precision
    assert row["est"] == round(HLL_LC[row["v_empty"]], 4)
    v = row["v_empty"]
    assert abs(HLL_LC[v] - HLL_M * math.log(HLL_M / v)) < 1e-9
    # linear counting is near-exact in this regime: within 30% of truth
    assert abs(row["est"] - 12) / 12 < 0.3


def test_hll_linear_branch_parity_with_duckdb_oracle(spark):
    import duckdb

    from dawis_spark.operators.sketches import hll_estimate, hll_registers, hll_oracle_sql

    df = spark.range(0, 12).selectExpr("id AS v")
    got = hll_estimate(hll_registers(df, "v")).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS v FROM range(0, 12)")
    want = con.execute(hll_oracle_sql("t", "v")).fetchone()
    assert (got["v_empty"], got["s_scaled"], got["est_raw"], got["method"], got["est"]) == want


def test_hll_raw_branch_unchanged_at_scale(spark):
    from dawis_spark.operators.sketches import hll_estimate, hll_registers

    df = spark.range(0, 50_000).selectExpr("id AS v")
    row = hll_estimate(hll_registers(df, "v")).collect()[0]
    assert row["method"] == "raw"
    assert row["est"] == row["est_raw"]


def test_line_dedup_boilerplate_shares_consistent(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["line_dedup_boilerplate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "at least one source"
    for r in rows:
        assert 0 <= r["boiler_instances"] <= r["lines_total"]
        assert r["distinct_lines"] <= r["lines_total"]
        assert r["docs_affected"] <= r["n_docs"]
        assert abs(r["removed_frac"] - round(r["boiler_instances"] / r["lines_total"], 6)) < 1e-9


def test_kmv_set_algebra_bounds(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    r = q.QUERIES["kmv_set_algebra"](spark, "/root/testdata/sf0.001").collect()[0]
    assert 0.0 <= r["est_jaccard"] <= 1.0
    assert 0.0 <= r["exact_jaccard"] <= 1.0
    assert r["exact_inter"] <= r["exact_union"]
    # k=128 synopsis: union estimate within 3 sigma ~ 3/sqrt(127) ~ 27%
    assert abs(r["err_union"]) < 0.27
    # jaccard estimate in the right neighbourhood (loose: sketch + small sf)
    assert abs(r["est_jaccard"] - r["exact_jaccard"]) < 0.25


def test_tokenizer_fertility_bounds(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["tokenizer_fertility_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        # every word is at least one subword; 8 merges can't exceed
        # character-level segmentation (< ~20 subwords/word here)
        assert 1.0 <= r["fertility"] < 20.0
        assert r["subwords"] >= r["words"]
        assert r["bytes_per_subword"] > 0


def test_nearest_centroid_separates_labels(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["nearest_centroid_accuracy"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    total = sum(r["n_test"] for r in rows)
    # the 20% id-hash slice is fully covered, once each
    import duckdb

    n_test = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "WHERE vec_id % 5 = 0"
    ).fetchone()[0]
    assert total == n_test
    for r in rows:
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["n_correct"] <= r["n_test"]
    # NOTE: the synthetic labels do NOT generalize (held-out NCC ~ random
    # even for a numpy reference — train-set eval hits 43% by centroid
    # memorization). The query's job is to SURFACE that honestly, so no
    # separation floor is asserted here; determinism is covered by the
    # DuckDB oracle gate.


def test_epoch_shuffle_dense_and_distinct_permutations(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata
    from dawis_spark.queries import _SHUF_EPOCHS, _SHUF_SHARDS

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["epoch_shuffle_order"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == _SHUF_EPOCHS * _SHUF_SHARDS
    assert all(r["dense_ok"] for r in rows)
    per_epoch = {}
    for r in rows:
        per_epoch.setdefault(r["epoch"], 0)
        per_epoch[r["epoch"]] += r["n_docs"]
    # every epoch covers the full corpus exactly once
    assert len(set(per_epoch.values())) == 1
    # shard assignment differs between epochs (different permutation):
    # counts per shard can't be identical across epochs for ALL shards
    by_shard = {(r["epoch"], r["shard"]): r["n_docs"] for r in rows}
    assert any(
        by_shard[(0, s)] != by_shard[(1, s)] for s in range(_SHUF_SHARDS)
    )


def test_zipf_fit_sane(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    r = q.QUERIES["zipf_exponent_fit"](spark, "/root/testdata/sf0.001").collect()[0]
    # the sf0.001 synthetic vocabulary is tiny (~31 distinct tokens);
    # the fit just needs enough points to be meaningful
    assert r["n_top"] >= 10
    # a frequency-ranked curve slopes down: s_hat positive, fit real
    assert 0.0 < r["s_hat"] < 5.0
    assert 0.0 <= r["r2"] <= 1.0 + 1e-9


def test_token_burstiness_matches_python_reference(spark):
    import collections

    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata
    from dawis_spark.functions import text as TXT

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["token_burstiness_topk"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 25
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.table("documents").select("doc_id", "text").collect()
    ]
    n_docs = len(docs)
    counts: dict = collections.defaultdict(lambda: collections.Counter())
    tok_rows = spark.table("documents").selectExpr(
        "doc_id", TXT.tokens("text", "spark") + " AS toks"
    ).collect()
    for r in tok_rows:
        for t in r["toks"]:
            counts[t][r["doc_id"]] += 1
    for r in rows[:5]:
        cs = counts[r["token"]]
        s = sum(cs.values())
        qq = sum(c * c for c in cs.values())
        assert r["total_tf"] == s
        assert r["docs_with"] == len(cs)
        expected = round((n_docs * qq - s * s) / (n_docs * s), 6)
        assert abs(r["dispersion"] - expected) < 1e-9
        assert r["overdispersed"] == (n_docs * qq - s * s > n_docs * s)


def test_cm_join_size_never_underestimates(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    r = q.QUERIES["cm_join_size_estimate"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    # CM inner product is a one-sided estimator
    assert r["cm_join_size"] >= r["exact_join_size"]
    assert r["rel_overestimate"] >= 0
    # w=512 buckets on a few hundred users: estimate in the right decade
    assert r["cm_join_size"] <= 3 * max(r["exact_join_size"], 1)


def test_weighted_sample_prefers_heavy_docs(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["weighted_sample_without_replacement"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 100
    assert [r["rk"] for r in rows] == list(range(1, 101))
    assert all(0.0 < r["key_r"] <= 1.0 for r in rows)
    # size-biased inclusion: sampled docs are longer than average
    sample_mean = sum(r["w_tokens"] for r in rows) / len(rows)
    pop = spark.table("documents").selectExpr(
        "avg(size(split(lower(text), '[^a-z0-9]+'))) AS m"
    ).collect()[0]["m"]
    assert sample_mean > pop * 0.9  # loose: must not be size-blind-low


def test_seasonal_naive_mase_positive_and_finite(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["seasonal_naive_mase"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["n_test"] <= 7
        assert r["n_train"] > r["n_test"]
        assert r["mae_naive_cents"] >= 0
        assert r["mae_insample_cents"] > 0
        # mase recombines from the two reported MAEs (to rounding slack)
        assert abs(
            r["mase"] - r["mae_naive_cents"] / r["mae_insample_cents"]
        ) < 1e-3
        assert 0 <= r["mase"] < 100


def test_l_diversity_monotone_in_threshold(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["l_diversity_profile"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["l_threshold"] for r in rows] == [2, 3, 5]
    # raising l can only expose more classes/rows
    for a, b in zip(rows, rows[1:]):
        assert b["classes_below"] >= a["classes_below"]
        assert b["rows_at_risk"] >= a["rows_at_risk"]
        assert b["risk_frac"] >= a["risk_frac"]
    for r in rows:
        assert 0.0 <= r["risk_frac"] <= 1.0


def test_fd_confidence_bounds_and_violations(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["fd_confidence_profile"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_values"]
        assert r["n_majority"] <= r["n_rows"]
        assert r["violations"] == r["n_rows"] - r["n_majority"]
        assert 0.0 < r["fd_confidence"] <= 1.0
        if r["n_values"] == 1:
            assert r["fd_confidence"] == 1.0 and r["violations"] == 0


def test_session_gap_curve_monotone(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    rows = q.QUERIES["session_gap_curve"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["gap_limit_s"] for r in rows] == [600, 1800, 3600]
    # a larger timeout can only merge sessions, never create them
    for a, b in zip(rows, rows[1:]):
        assert b["n_sessions"] <= a["n_sessions"]
    n_users = spark.table("events").selectExpr(
        "count(distinct user_id) AS n"
    ).collect()[0]["n"]
    for r in rows:
        assert r["n_sessions"] >= n_users
        assert r["sessions_per_user"] >= 1.0


def test_split_leakage_pairs_straddle_and_subset(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    leaks = q.QUERIES["split_leakage_neardups"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    all_pairs = {
        (r["id_a"], r["id_b"])
        for r in q.QUERIES["minhash_lsh_pairs"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for r in leaks:
        assert r["split_a"] != r["split_b"]
        assert (r["id_a"], r["id_b"]) in all_pairs
        assert r["jaccard"] >= 0.2


def test_hll_union_inclusion_exclusion(spark):
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    r = q.QUERIES["hll_union_events"](spark, "/root/testdata/sf0.001").collect()[0]
    # union of sets can't be smaller than either input estimate
    assert r["est_union"] >= max(r["est_view"], r["est_purchase"]) - 1e-9
    assert r["est_inter"] >= 0
    assert r["exact_inter"] <= r["exact_union"]
    # m=64 raw estimator: union within ~3 sigma (39%)
    assert abs(r["err_union"]) < 0.4

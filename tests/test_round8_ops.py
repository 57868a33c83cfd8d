"""Round-8 additions: the NSW graph-ANN family (operators/nsw.py) and
the watermark-lateness equivalence for the streaming windowed aggs."""

from pyspark.sql import functions as F


def _toy_corpus(spark):
    # two tight clusters + one outlier; dim 4 keeps the kNN obvious
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.98, 0.0, 0.01, 0.0]),
        (3, [0.97, 0.01, 0.01, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.99, 0.01, 0.0]),
        (12, [0.0, 0.98, 0.0, 0.01]),
        (20, [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_nsw_edges_are_symmetric_and_degree_bounded(spark):
    from dawis_spark.operators.nsw import nsw_edges
    from dawis_spark.operators.similarity import _ivf_assign, train_kmeans

    df = _toy_corpus(spark)
    cents = sorted(
        (int(c), list(v))
        for c, v in train_kmeans(df, "vec_id", "embedding", k=2, iterations=1)
    )
    assigned = _ivf_assign(df, "vec_id", "embedding", cents, "id", "vec", 1)
    edges = nsw_edges(assigned, m=2).collect()
    pairs = {(r["src"], r["dst"]) for r in edges}
    # symmetrized: every edge has its reverse
    assert all((d, s) in pairs for s, d in pairs)
    # no self loops
    assert all(s != d for s, d in pairs)
    # out-degree bounded by m + incoming symmetrization (<= 2m here,
    # and never more than cell size - 1)
    from collections import Counter

    deg = Counter(s for s, _ in pairs)
    assert max(deg.values()) <= 4


def test_nsw_finds_in_cluster_neighbors(spark):
    from dawis_spark.operators.nsw import nsw_ann_topk

    df = _toy_corpus(spark)
    out = nsw_ann_topk(
        df,
        df.filter(F.col("vec_id") == 0),
        "vec_id",
        "embedding",
        k=3,
        n_centroids=2,
        n_probe=2,
        m=2,
        beam=5,
        hops=2,
    ).collect()
    got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # the three cluster-mates of vector 0, nearest first
    assert got == [1, 3, 2] or set(got) == {1, 2, 3}
    # ranks contiguous from 1, cosines non-increasing
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]
    cs = [r["cosine"] for r in sorted(out, key=lambda r: r["rank"])]
    assert cs == sorted(cs, reverse=True)


def test_nsw_empty_quantizer_returns_typed_empty(spark):
    from dawis_spark.operators.nsw import nsw_ann_topk

    df = _toy_corpus(spark).limit(0)
    out = nsw_ann_topk(
        df, df, "vec_id", "embedding", k=3, n_centroids=2, centroids=[]
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "neighbor_id",
        "cosine",
        "rank",
    ]


def test_nsw_deterministic_across_partitionings(spark):
    from dawis_spark.operators.nsw import nsw_ann_topk

    df = _toy_corpus(spark)
    qs = df.filter(F.col("vec_id") < 11)

    def run(parts):
        out = nsw_ann_topk(
            df.repartition(parts),
            qs,
            "vec_id",
            "embedding",
            k=3,
            n_centroids=2,
            n_probe=2,
            m=2,
            beam=5,
            hops=2,
        ).collect()
        return sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in out)

    assert run(1) == run(7)


def test_perplexity_bands_training_slice_scores_best(spark):
    from dawis_spark.operators.lm import perplexity_bands

    # train on src 'ref': docs 1-3 share the reference phrasing, doc 10
    # is gibberish relative to it, doc 20 is a single token (no bigram)
    rows = [
        (1, "the cat sat on the mat", "ref"),
        (2, "the cat sat on the rug", "ref"),
        (3, "the dog sat on the mat", "ref"),
        (10, "zyx qwv plk mnb vcx asd", "web"),
        (20, "solo", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {
        r["id"]: r
        for r in perplexity_bands(
            df, "doc_id", "text", "source = 'ref'"
        ).collect()
    }
    assert len(out) == 5
    # in-distribution docs have strictly lower NLL than the gibberish one
    assert max(out[i]["nll_micro"] for i in (1, 2, 3)) < out[10]["nll_micro"]
    assert out[10]["band"] == "tail"
    # the no-bigram doc gets the typed 'na' row
    assert out[20]["band"] == "na"
    assert out[20]["n_trans"] == 0 and out[20]["nll_micro"] is None
    # ppl is the documented function of the integer NLL
    import math

    r1 = out[1]
    assert r1["ppl"] == round(math.exp(r1["nll_micro"] / 1e6), 4)


def test_perplexity_bands_partition_order_invariant(spark):
    from dawis_spark.operators.lm import perplexity_bands

    rows = [
        (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 5} end", f"s{i % 3}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")

    def run(parts):
        out = perplexity_bands(
            df.repartition(parts), "doc_id", "text", "source = 's0'"
        ).collect()
        return sorted(
            (r["id"], r["n_trans"], r["nll_micro"], r["band"]) for r in out
        )

    assert run(1) == run(13)


def test_bq_codes_flip_under_negation_and_hamming_zero_on_self(spark):
    from dawis_spark.operators.bq import bq_code_expr, bq_hamming_expr

    vec = [0.5, -0.2, 0.3, -0.4] * 16  # 64 dims, no zeros
    df = spark.createDataFrame([(vec, [-v for v in vec])], "a array<double>, b array<double>")
    ca = bq_code_expr("a", 64, "spark")
    cb = bq_code_expr("b", 64, "spark")
    row = df.selectExpr(f"{ca} as ca", f"{cb} as cb").collect()[0]
    # every word stays unsigned-32-range (the no-sign-bit packing contract)
    assert all(0 <= w < 2**32 for w in row["ca"] + row["cb"])
    scored = spark.createDataFrame(
        [(row["ca"], row["cb"]), (row["ca"], row["ca"])],
        "x array<bigint>, y array<bigint>",
    ).selectExpr(bq_hamming_expr("x", "y", 64, "spark") + " as h").collect()
    # negation flips every sign bit; self-distance is 0
    assert scored[0]["h"] == 64
    assert scored[1]["h"] == 0


def test_bq_topk_exact_when_pool_is_whole_corpus(spark):
    from dawis_spark.operators.bq import bq_topk
    from dawis_spark.operators.similarity import brute_force_topk

    rows = [(i, [((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = df.filter("vec_id < 3")
    # refine_factor large enough that the pool is the entire corpus:
    # the exact re-rank must then equal brute force exactly
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in bq_topk(df, qs, "vec_id", "embedding", 5, 10, 64).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(df, qs, "vec_id", "embedding", 5).collect()
    )
    assert got == want


def test_bpe_train_matches_reference_implementation(spark):
    from collections import Counter

    from dawis_spark.operators.bpe import bpe_train

    text = (
        "low low low low low lower lower newest newest newest "
        "newest newest newest widest widest widest"
    )
    docs = spark.createDataFrame([(1, text), (2, "low lower newest")],
                                 "doc_id bigint, text string")
    words = Counter((text + " low lower newest").split())

    # straight-line reference: same counting (every adjacent position)
    # and same greedy merge
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in words.items()}
    want = []
    for _ in range(6):
        pc = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] = pc.get((sym[i], sym[i + 1]), 0) + c
        mx = max(pc.values())
        a, b = min(p for p, c in pc.items() if c == mx)
        want.append((a, b, mx))
        new_vocab = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab

    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, "text", n_merges=6).collect()
    ]
    assert got == want


def test_bpe_segment_compresses_with_learned_merges(spark):
    from dawis_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame(
        [(1, "banana banana bandana"), (2, "banana")],
        "doc_id bigint, text string",
    )
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, "text", n_merges=5).collect()
    ]
    out = {r["id"]: r for r in bpe_segment(docs, "doc_id", "text", merges).collect()}
    # segmentation never splits below 1 symbol per word and merges
    # strictly reduce symbol counts vs raw chars (+ end marker)
    assert out[1]["n_tokens"] == 3
    raw_symbols = sum(len(w) + 1 for w in "banana banana bandana".split())
    assert out[1]["n_subwords"] < raw_symbols
    assert out[2]["n_tokens"] == 1


def test_rrf_fusion_properties(spark):
    from dawis_spark.operators.fusion import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id bigint, ra int"
    )
    b = spark.createDataFrame(
        [(3, 1), (4, 2)], "id bigint, rb int"
    )
    out = {r["id"]: r for r in rrf_fuse(a, b, "ra", "rb", k=60, top_n=10).collect()}
    # doc 3 appears in both lists: its score is the sum of both terms
    # and dominates every single-list doc
    assert out[3]["rrf_score"] == round(1 / 63 + 1 / 61, 6)
    assert out[3]["rrf_score"] > max(out[1]["rrf_score"], out[4]["rrf_score"])
    # single-list docs keep a NULL rank on the missing side
    assert out[1]["rb"] is None and out[4]["ra"] is None
    # rank-only: scores depend on ranks, not on any raw score scale
    assert out[1]["rrf_score"] == round(1 / 61, 6)


def test_logreg_learns_separable_toy_data(spark):
    from dawis_spark.operators.logreg import auc_accuracy, logreg_train

    # linearly separable on dim 0
    rows = [(i, [1.0 if i % 2 else -1.0] + [0.0] * 3, i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    y = "case when label = 1 then cast(1.0 as double) else cast(0.0 as double) end"
    w = logreg_train(df, "embedding", y, dim=4, iterations=5)
    # dim-0 weight dominates and points toward the positive class
    assert w[0] > 0.5
    assert all(abs(x) < 1e-6 for x in w[1:4])
    row = auc_accuracy(df, "embedding", y, w).collect()[0]
    assert row["auc"] == 1.0
    assert row["accuracy"] == 1.0


def test_logreg_training_partition_order_invariant(spark):
    from dawis_spark.operators.logreg import logreg_train

    rows = [
        (i, [((i * 13 + j * 7) % 9 - 4) / 4.0 for j in range(6)], i % 3)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    y = "case when label < 2 then cast(1.0 as double) else cast(0.0 as double) end"
    w1 = logreg_train(df.repartition(1), "embedding", y, dim=6, iterations=3)
    w2 = logreg_train(df.repartition(17), "embedding", y, dim=6, iterations=3)
    assert w1 == w2


def test_logreg_sampled_path_matches_distributed(spark):
    """The driver-side numpy sampled trainer (sample_limit — the
    train_kmeans discipline) replays the distributed integer-micro
    trajectory BIT-EQUAL: covering sample == full-batch path, and a
    binding cap == the full-batch path run on exactly the id-ordered
    prefix. This is what lets the DuckDB oracle's vt CTE stay a simple
    ORDER BY vec_id LIMIT n."""
    from dawis_spark.operators.logreg import logreg_train

    rows = [
        (i, [((i * 13 + j * 7) % 9 - 4) / 4.0 for j in range(6)], i % 3)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    y = "case when label < 2 then cast(1.0 as double) else cast(0.0 as double) end"
    full = logreg_train(df, "embedding", y, dim=6, iterations=3)
    covering = logreg_train(
        df, "embedding", y, dim=6, iterations=3, id_col="vec_id", sample_limit=500
    )
    assert covering == full
    capped = logreg_train(
        df, "embedding", y, dim=6, iterations=3, id_col="vec_id", sample_limit=30
    )
    prefix = logreg_train(
        df.filter("vec_id < 30"), "embedding", y, dim=6, iterations=3
    )
    assert capped == prefix
    assert capped != full  # the cap actually binds on this input


def test_logreg_classifier_family_trains_once(spark):
    """The five classifier queries share ONE trained weight vector via
    the _trained_logreg_w memo — a second query (or a second call to
    the same query) must not retrain. Pins the bounded sample cap too:
    every training call the family makes passes sample_limit."""
    import dawis_spark.queries as q
    from dawis_spark.catalog import register_testdata
    from dawis_spark.operators import logreg as lr_mod

    register_testdata(spark, "/root/testdata/sf0.001")
    q._LOGREG_W_CACHE.clear()
    calls = []
    orig = lr_mod.logreg_train

    def counting(*a, **kw):
        calls.append(kw)
        return orig(*a, **kw)

    lr_mod.logreg_train = counting
    try:
        q.QUERIES["logreg_weights"](spark, "/root/testdata/sf0.001").collect()
        q.QUERIES["gains_lift_deciles"](spark, "/root/testdata/sf0.001").collect()
        q.QUERIES["ece_classifier_calibration"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    finally:
        lr_mod.logreg_train = orig
    assert len(calls) == 1
    assert calls[0]["sample_limit"] == q._LOGREG_SAMPLE_LIMIT


def test_labelprop_votes_and_tiebreaks(spark):
    from dawis_spark.operators.labelprop import knn_label_propagation

    # seed: two axis clusters with labels 3 (dim0) and 7 (dim1), plus one
    # stray label-9 seed on dim2
    seed_rows = [
        (0, 3, [1.0, 0.0, 0.0, 0.0]),
        (1, 3, [0.9, 0.1, 0.0, 0.0]),
        (2, 7, [0.0, 1.0, 0.0, 0.0]),
        (3, 7, [0.1, 0.9, 0.0, 0.0]),
        (4, 9, [0.0, 0.0, 1.0, 0.0]),
    ]
    targets = spark.createDataFrame(
        [
            (100, [1.0, 0.05, 0.0, 0.0]),   # clearly cluster 3
            (101, [0.05, 1.0, 0.0, 0.0]),   # clearly cluster 7
            (102, [0.0, 0.0, 0.0, 1.0]),    # orthogonal to every seed
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {
        r["target_id"]: r
        for r in knn_label_propagation(
            targets, seed_rows, "vec_id", "embedding", k=3
        ).collect()
    }
    assert out[100]["predicted_label"] == 3 and out[100]["votes"] == 2
    assert out[101]["predicted_label"] == 7 and out[101]["votes"] == 2
    # all-zero cosines: every label ties at k=3 -> 2 votes for the two
    # 2-seed labels, tie broken to the LOWEST label
    assert out[102]["predicted_label"] == 3
    assert out[102]["score_micro"] == 0


def test_labelprop_plan_zero_exchange_zero_join(spark):
    from dawis_spark.operators.labelprop import collect_seed, knn_label_propagation

    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    emb = spark.table("embeddings")
    seed_rows = collect_seed(
        emb.filter("vec_id < 50"), "vec_id", "embedding", "label"
    )
    preds = knn_label_propagation(
        emb.filter("vec_id >= 50"), seed_rows, "vec_id", "embedding", k=5
    )
    plan = preds._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_mmr_select_prefers_diversity():
    from dawis_spark.operators.rerank import mmr_select

    # query pool: docs 1,2 nearly identical high-relevance; doc 3 slightly
    # less relevant but orthogonal. Plain top-2 = {1,2}; MMR must pick 3
    # second: 7*rel - 3*maxsim => doc2: 7*990000-3*999000 = 3933000,
    # doc3: 7*900000-3*0 = 6300000.
    pool = [(0, 1, 1000000), (0, 2, 990000), (0, 3, 900000)]
    pairs = [(0, 1, 2, 999000), (0, 1, 3, 0), (0, 2, 3, 0)]
    out = mmr_select(pool, pairs, k=2)
    assert [(r, d) for _, r, d, _ in out] == [(1, 1), (2, 3)]
    assert out[0][3] == 7 * 1000000  # step 1: pure relevance
    assert out[1][3] == 7 * 900000


def test_mmr_select_tiebreak_lowest_did():
    from dawis_spark.operators.rerank import mmr_select

    pool = [(0, 9, 500000), (0, 4, 500000)]
    out = mmr_select(pool, [], k=1)
    assert out[0][2] == 4  # equal scores -> lowest doc id


def test_mmr_rerank_end_to_end(spark):
    from dawis_spark.operators.rerank import mmr_rerank

    # docs 1 and 2: equally relevant (cos 0.9 to the query) and mutually
    # near-identical; doc 3: same 0.9 relevance but on the OTHER side of
    # the query (mutual sim to doc 1 only ~0.62). Plain top-2 by
    # (cosine, id) is {1, 2}; MMR must swap the redundant 2 for 3:
    # step 2 scores 7*0.9 - 3*1.0 = 3.3 (doc 2) vs 7*0.9 - 3*0.62 = 4.44.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.4359, 0.0, 0.0]),
        (2, [0.9, 0.4359, 0.001, 0.0]),
        (3, [0.9, -0.4359, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = mmr_rerank(
        spark,
        corpus,
        corpus.filter("vec_id = 0"),
        "vec_id",
        "embedding",
        k=2,
        n_pool=4,
    ).collect()
    picks = [r["did"] for r in sorted(out, key=lambda r: r["rank"])]
    assert picks == [1, 3]


def test_pps_sample_deterministic_and_capped(spark):
    from dawis_spark.operators.sketches import pps_sample

    rows = [(i, 1 + (i * 37) % 200) for i in range(400)] + [(1000, 10_000)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")

    def run(parts):
        return sorted(
            (r["doc_id"], r["pi_ppm"], r["ht_micro"])
            for r in pps_sample(df.repartition(parts), "doc_id", "w", 2100).collect()
        )

    a, b = run(1), run(11)
    assert a == b and len(a) > 0
    got = dict((d, (p, h)) for d, p, h in a)
    # the huge-weight row is a certain pick with exact unit HT weight
    assert got[1000] == (1_000_000, 1_000_000)
    # every HT reweight is the documented function of pi
    assert all(h == round(1e12 / p) for p, h in got.values())


def test_pps_ht_estimator_is_weight_exact_for_certain_rows(spark):
    from dawis_spark.operators.sketches import pps_sample

    # all rows certain (w*scale >= 1e6): the HT total must equal the
    # exact total -- the estimator's unbiasedness collapses to identity
    rows = [(i, 500 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    s = pps_sample(df, "doc_id", "w", 2100)
    from pyspark.sql import functions as F2

    got = s.agg(
        F2.sum(F2.col("w") * F2.col("ht_micro")).alias("est"),
        F2.count("*").alias("n"),
    ).collect()[0]
    assert got["n"] == 50
    assert got["est"] == sum(w for _, w in rows) * 1_000_000


def test_hll_registers_merge_is_elementwise_max(spark):
    from dawis_spark.operators.sketches import hll_registers

    df = spark.range(0, 2000).selectExpr("id AS v")
    a = df.filter("v < 1200")
    b = df.filter("v >= 1200")
    full = {r["j"]: r["r"] for r in hll_registers(df, "v").collect()}
    ra = {r["j"]: r["r"] for r in hll_registers(a, "v").collect()}
    rb = {r["j"]: r["r"] for r in hll_registers(b, "v").collect()}
    merged = {j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)}
    assert merged == full


def test_hll_estimate_within_theory(spark):
    import math

    from dawis_spark.operators.sketches import hll_estimate, hll_registers

    df = spark.range(0, 50_000).selectExpr("id AS v")
    est = hll_estimate(hll_registers(df, "v")).collect()[0]["est"]
    # 3 sigma of the m=64 raw estimator (1.04/sqrt(64) ~ 13% per sigma)
    assert abs(est - 50_000) / 50_000 < 3 * 1.04 / math.sqrt(64)


def test_hll_deterministic_across_partitionings(spark):
    from dawis_spark.operators.sketches import hll_estimate, hll_registers

    df = spark.range(0, 5000).selectExpr("id AS v")
    e1 = hll_estimate(hll_registers(df.repartition(1), "v")).collect()[0]
    e2 = hll_estimate(hll_registers(df.repartition(13), "v")).collect()[0]
    assert e1 == e2


def test_gapfill_interp_interior_and_trailing(spark):
    import datetime as dt

    from dawis_spark.operators.gapfill import gapfill_interp

    d = dt.date
    rows = [
        ("a", d(2024, 1, 1), 10.0),
        ("a", d(2024, 1, 4), 40.0),   # gap days 2,3 -> 20, 30
        ("a", d(2024, 1, 6), 20.0),   # gap day 5 -> 30
    ]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {
        r["day"].isoformat() if hasattr(r["day"], "isoformat") else str(r["day"]): r
        for r in gapfill_interp(df, ["k"], "day", "v").collect()
    }
    assert out["2024-01-02"]["filled"] == 20.0 and out["2024-01-02"]["is_gap"]
    assert out["2024-01-03"]["filled"] == 30.0
    assert out["2024-01-05"]["filled"] == 30.0
    assert out["2024-01-01"]["filled"] == 10.0 and not out["2024-01-01"]["is_gap"]


def test_gapfill_interp_trailing_gap_carries_forward(spark):
    import datetime as dt

    from dawis_spark.operators.gapfill import gapfill_interp

    # value present at min and an interior day, absent at the max-day
    # row only when max comes from another key? spine is per-key min..max
    # so trailing gaps need an observed later bucket with NULL value:
    # simulate via explicit NULL row
    d = dt.date
    rows = [
        ("a", d(2024, 1, 1), 10.0),
        ("a", d(2024, 1, 3), None),
    ]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {str(r["day"]): r for r in gapfill_interp(df, ["k"], "day", "v").collect()}
    assert out["2024-01-02"]["filled"] == 10.0  # no next obs -> LOCF
    assert out["2024-01-03"]["filled"] == 10.0


def test_labelprop_tiers_bit_identical(spark):
    from dawis_spark.operators.labelprop import (
        _knn_label_propagation_numpy,
        collect_seed,
        knn_label_propagation,
    )
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    emb = spark.table("embeddings")
    seed = collect_seed(emb.filter("vec_id < 40"), "vec_id", "embedding", "label")
    targets = emb.filter("vec_id >= 40")
    # 40 x 64 = 2560 < tier threshold -> the public path is the literal
    lit = sorted(
        tuple(r) for r in knn_label_propagation(
            targets, seed, "vec_id", "embedding", k=5
        ).collect()
    )
    np_ = sorted(
        tuple(r) for r in _knn_label_propagation_numpy(
            targets, seed, "vec_id", "embedding", k=5
        ).collect()
    )
    assert lit == np_


# --- journey analytics (operators/journeys.py) -----------------------------


def _journey_events(spark):
    # one user, two journeys: [view, click, signup, purchase(10.00)],
    # then [view, purchase(5.00)], then a trailing un-converted click
    rows = [
        (1, "2024-01-01 00:00:01", 7, "view", 0.0),
        (2, "2024-01-01 00:00:02", 7, "click", 0.0),
        (3, "2024-01-01 00:00:03", 7, "signup", 0.0),
        (4, "2024-01-01 00:00:04", 7, "purchase", 10.0),
        (5, "2024-01-01 00:00:05", 7, "view", 0.0),
        (6, "2024-01-01 00:00:06", 7, "purchase", 5.0),
        (7, "2024-01-01 00:00:07", 7, "click", 0.0),
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_position_attribution_u_shape_and_remainder(spark):
    from dawis_spark.operators.journeys import position_attribution

    out = {
        r["touch_type"]: r.asDict()
        for r in position_attribution(_journey_events(spark)).collect()
    }
    # journey 1 (n=3): view=first 40%, click=middle 20%, signup=last 40%
    # journey 2 (n=1): view=100%
    assert out["click"]["credit"] == 2.0  # 20% of 10.00
    assert out["signup"]["credit"] == 4.0  # 40% of 10.00
    assert out["view"]["credit"] == 9.0  # 4.00 + 5.00
    # trailing un-converted click is NOT attributed
    assert out["click"]["touches"] == 1
    assert out["view"]["journeys"] == 2


def test_position_attribution_weights_sum_to_one(spark):
    # n=4 journey: middles get floor(200000/2)=100000 each, no remainder;
    # n=5: floor(200000/3)=66666 -> remainder 2 ppm lands on first touch
    rows = [
        (i, f"2024-01-01 00:00:0{i}", 1, t, v)
        for i, (t, v) in enumerate(
            [("view", 0.0), ("click", 0.0), ("view", 0.0), ("click", 0.0),
             ("signup", 0.0), ("purchase", 100.0)],
            start=1,
        )
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    from dawis_spark.operators.journeys import position_attribution

    total = sum(
        r["credit"] for r in position_attribution(df).collect()
    )
    assert abs(total - 100.0) < 1e-9  # exact: integer ppm sums to 1e6


def test_frequent_sequences_counts_and_order(spark):
    from dawis_spark.operators.journeys import frequent_sequences

    out = frequent_sequences(_journey_events(spark), 3, 10).collect()
    seqs = {r["seq"]: r["support"] for r in out}
    assert seqs["view>click>signup"] == 1
    assert len(out) == 5  # 7 events -> 5 complete trigrams
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-6


# --- profiling (operators/profile.py) ---------------------------------------


def test_column_profile_counts_nulls_and_ndv(spark):
    from dawis_spark.operators.profile import column_profile

    df = spark.createDataFrame(
        [(1.0, 2.0), (1.0, None), (3.5, 2.0)], "a double, b double"
    )
    out = {r["col_name"]: r.asDict() for r in column_profile(df, ["a", "b"]).collect()}
    assert out["a"]["n_rows"] == 3 and out["a"]["n_null"] == 0
    assert out["a"]["ndv"] == 2 and out["a"]["mean_v"] == round((1 + 1 + 3.5) / 3, 6)
    assert out["b"]["n_null"] == 1 and out["b"]["ndv"] == 1
    assert out["b"]["min_v"] == 2.0 and out["b"]["max_v"] == 2.0


def test_pearson_matrix_exact_signs(spark):
    from dawis_spark.operators.profile import pearson_matrix

    # y = 2x (r=1), z = -x (r=-1 with x), w uncorrelated-ish
    rows = [(float(i), 2.0 * i, -1.0 * i) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {(r["col_x"], r["col_y"]): r["r"] for r in pearson_matrix(df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0


def test_pearson_matrix_partitioning_invariant(spark):
    from dawis_spark.operators.profile import pearson_matrix

    rows = [(float(i % 7), float((i * 13) % 11)) for i in range(500)]
    df = spark.createDataFrame(rows, "a double, b double")
    r1 = pearson_matrix(df.repartition(1), ["a", "b"]).collect()[0]["r"]
    r32 = pearson_matrix(df.repartition(32), ["a", "b"]).collect()[0]["r"]
    assert r1 == r32  # exact integer moments: no accumulation-order drift


# --- item co-occurrence (operators/cooccur.py) -------------------------------


def _basket_events(spark):
    # users 1,2 share items 10,20; user 3 only item 10; user 4 is a
    # 3-item power basket used by the cap test
    rows = []
    eid = 0
    for u, items in [(1, [10, 20]), (2, [10, 20]), (3, [10]), (4, [10, 20, 30])]:
        for it in items:
            rows.append((eid, "2024-01-01 00:00:01", u, "click", 1.0, '{"k": %d}' % it))
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_cooccurrence_cosine_exact(spark):
    from dawis_spark.operators.cooccur import cooccurrence_topk

    out = cooccurrence_topk(
        _basket_events(spark), "cast(get_json_object(props, '$.k') as int)",
        k=5, max_basket=128, min_co=2,
    ).collect()
    by = {(r["item"], r["neighbor"]): r for r in out}
    # co(10,20)=3 users; n_10=4, n_20=3 -> cos = 3/sqrt(12)
    import math
    assert by[(10, 20)]["co_users"] == 3
    assert by[(10, 20)]["cosine"] == round(3 / math.sqrt(4 * 3), 6)
    # symmetric orientation present
    assert (20, 10) in by
    # min_co=2 drops the (10,30)/(20,30) single-user pairs
    assert (10, 30) not in by


def test_cooccurrence_basket_cap_drops_power_users(spark):
    from dawis_spark.operators.cooccur import cooccurrence_topk

    out = cooccurrence_topk(
        _basket_events(spark), "cast(get_json_object(props, '$.k') as int)",
        k=5, max_basket=2, min_co=2,
    ).collect()
    by = {(r["item"], r["neighbor"]): r for r in out}
    # user 4 (3 items) excluded everywhere: co(10,20) falls to 2, n_10=3
    import math
    assert by[(10, 20)]["co_users"] == 2
    assert by[(10, 20)]["cosine"] == round(2 / math.sqrt(3 * 2), 6)


# --- containment near-dups (operators/dedup.py) ------------------------------


def test_containment_asymmetric_subset(spark):
    from dawis_spark.operators.dedup import containment_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),                          # contained in 2
        (2, base + " lambda mu nu xi omicron pi rho sigma"),
        (3, "completely different words entirely unrelated content here today"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "doc_id", "text", shingle_k=3, df_cap=10,
            min_inter=1, min_containment=0.5, top=10,
        ).collect()
    }
    # doc 1's shingles are all in doc 2 -> containment 1.0 that way only
    assert out[(1, 2)] == 1.0
    # reverse direction diluted by doc 2's extra shingles
    assert (2, 1) not in out or out[(2, 1)] < 1.0
    assert not any(3 in p for p in out)


def test_containment_df_cap_drops_boilerplate(spark):
    from dawis_spark.operators.dedup import containment_pairs

    # the same boilerplate sentence in every doc; df_cap=2 < 3 docs kills
    # those shingles, so no pair survives min_inter
    rows = [(i, "common boiler plate sentence shared by every document") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = containment_pairs(
        df, "doc_id", "text", shingle_k=3, df_cap=2,
        min_inter=1, min_containment=0.1, top=10,
    ).collect()
    assert out == []


# --- coreset selection (operators/similarity.py) ------------------------------


def test_coreset_balanced_keeps_every_cell(spark):
    from dawis_spark.operators.similarity import cluster_balanced_coreset

    df = _toy_corpus(spark)
    out = cluster_balanced_coreset(df, "vec_id", "embedding", k_cells=2, m_per_cell=2).collect()
    cells = {}
    for r in out:
        cells.setdefault(r["cell"], []).append(r)
    # both cells represented, each capped at 2, rank 1 is most central
    assert len(cells) == 2
    for rows in cells.values():
        assert len(rows) <= 2
        assert rows[0]["rank"] == 1
        assert all(
            rows[i]["centrality"] >= rows[i + 1]["centrality"]
            for i in range(len(rows) - 1)
        )


def test_coreset_empty_corpus(spark):
    from dawis_spark.operators.similarity import cluster_balanced_coreset

    df = _toy_corpus(spark).filter("vec_id < 0")
    assert cluster_balanced_coreset(df, "vec_id", "embedding", 2, 2).collect() == []


# --- triangle counting (operators/graph.py) ----------------------------------


def test_triangle_counts_exact(spark):
    from dawis_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    df = spark.createDataFrame(edges, "i int, j int")
    out = {r["item"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_no_triangles(spark):
    from dawis_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(1, 2), (3, 4)], "i int, j int")
    assert triangle_counts(df).collect() == []


# --- fuzzy edit-distance matching (operators/dedup.py) ------------------------


def test_edit_distance_pairs_distinct_names_with_counts(spark):
    from dawis_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "red bolt", "A"),
        (2, "red belt", "A"),   # dist 1 from red bolt
        (5, "red bolt", "A"),   # duplicate name -> counted, not re-paired
        (3, "red bolt", "B"),   # different block -> no cross-block pair
        (4, "completely other", "A"),  # length filter prunes
    ]
    df = spark.createDataFrame(rows, "id bigint, name string, blk string")
    out = edit_distance_pairs(df, "id", "name", "blk", max_dist=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["text_a"], r["text_b"], r["dist"]) == ("red belt", "red bolt", 1)
    assert (r["n_a"], r["n_b"]) == (1, 2)  # "red bolt" appears twice in A


def test_edit_distance_block_cap_on_distinct_names(spark):
    from dawis_spark.operators.dedup import edit_distance_pairs

    # block A has 4 DISTINCT names (over cap 3); block B has 2
    rows = [(i, f"name {i}", "A") for i in range(4)] + [
        (10, "same name", "B"), (11, "same namx", "B")]
    df = spark.createDataFrame(rows, "id bigint, name string, blk string")
    out = edit_distance_pairs(df, "id", "name", "blk", 2, max_block_rows=3).collect()
    assert [(r["text_a"], r["text_b"]) for r in out] == [("same name", "same namx")]


# --- snapshot table diff (operators/diff.py) ----------------------------------


def test_table_diff_classifies_and_lists_columns(spark):
    from dawis_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 25.0), (4, "d", 40.0), (3, "c", None)],
        "k bigint, s string, v double",
    )
    out = {r["k"]: r for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    # key 1 unchanged -> absent; key 3 null==null unchanged -> absent
    assert 1 not in out and 3 not in out
    assert out[2]["status"] == "changed" and out[2]["changed_cols"] == "s,v"
    assert out[4]["status"] == "added" and out[4]["changed_cols"] == ""


def test_table_diff_null_to_value_is_change(spark):
    from dawis_spark.operators.diff import table_diff

    old = spark.createDataFrame([(1, None)], "k bigint, v double")
    new = spark.createDataFrame([(1, 5.0)], "k bigint, v double")
    out = table_diff(old, new, ["k"], ["v"]).collect()
    assert out[0]["status"] == "changed" and out[0]["changed_cols"] == "v"


# --- equi-width histogram (operators/profile.py) ------------------------------


def test_histogram_buckets_exact_boundaries(spark):
    from dawis_spark.operators.profile import equi_width_histogram

    df = spark.createDataFrame([(float(i),) for i in range(0, 101)], "v double")
    out = equi_width_histogram(df, "v", 4).collect()
    assert [r["bucket"] for r in out] == [0, 1, 2, 3]
    # 0..100 cents-exact: [0,25) [25,50) [50,75) [75,100] -> 25,25,25,26
    assert [r["n"] for r in out] == [25, 25, 25, 26]
    assert out[0]["lo_v"] == 0.0 and out[-1]["hi_v"] == 100.0


def test_histogram_constant_column_single_bucket(spark):
    from dawis_spark.operators.profile import equi_width_histogram

    df = spark.createDataFrame([(5.0,)] * 7, "v double")
    out = equi_width_histogram(df, "v", 10).collect()
    assert len(out) == 1 and out[0]["bucket"] == 0 and out[0]["n"] == 7


# --- drift diagnostics (operators/drift.py) -----------------------------------


def test_ks_identical_distributions_zero(spark):
    from dawis_spark.operators.drift import ks_two_sample

    rows = [(v, s) for v in [100, 200, 300] for s in ["a", "b"]]
    df = spark.createDataFrame(rows, "v_cents bigint, side string")
    r = ks_two_sample(df, "v_cents", "side", "a", "b").collect()[0]
    assert r["ks"] == 0.0 and r["n_a"] == 3 and r["n_b"] == 3


def test_ks_disjoint_distributions_one(spark):
    from dawis_spark.operators.drift import ks_two_sample

    rows = [(100, "a"), (200, "a"), (1000, "b"), (2000, "b")]
    df = spark.createDataFrame(rows, "v_cents bigint, side string")
    r = ks_two_sample(df, "v_cents", "side", "a", "b").collect()[0]
    assert r["ks"] == 1.0
    assert r["ks_at"] == 2.0  # lowest value attaining the sup (200 cents)


def test_benford_shares_sum_to_one(spark):
    from dawis_spark.operators.drift import benford_profile

    df = spark.createDataFrame(
        [(float(v),) for v in [1, 12, 13, 25, 37, 41, 58, 69, 77, 92, 105]], "v double"
    )
    out = benford_profile(df, "v").collect()
    assert abs(sum(r["observed"] for r in out) - 1.0) < 1e-5
    assert all(r["digit"] in range(1, 10) for r in out)
    one = [r for r in out if r["digit"] == 1][0]
    assert one["n"] == 4  # 1, 12, 13, 105


# --- rolling median / pareto (queries-level helpers) ---------------------------


def test_rolling_median_even_count_is_exact_dyadic(spark):
    # the design claim: an even-count median of integer cents is x.5 —
    # exactly representable, so no display rounding exists to disagree on
    df = spark.createDataFrame(
        [(1000,), (2001,), (3000,), (4000,)], "c bigint"
    )
    m = df.selectExpr("percentile(c, 0.5) as m").collect()[0]["m"]
    assert m == 2500.5


def test_rolling_median_query_schema(spark):
    from dawis_spark import queries as q

    res = q.QUERIES["rolling_median_7d"](spark, "/root/testdata/sf0.001")
    assert res.columns == ["user_id", "day", "med_cents", "n_days"]
    rows = res.limit(5).collect()
    assert all(r["n_days"] >= 4 for r in rows)


# --- SymSpell deletion-neighborhood matching -----------------------------------


def test_deletion_variants_parity_and_size(spark):
    from dawis_spark.functions.text import deletion_variants
    import duckdb

    for s in ["abc", "ab", "a", "hello"]:
        d = duckdb.sql(
            f"SELECT {deletion_variants('t', 2, 'duck')} AS v FROM (SELECT '{s}' AS t)"
        ).fetchall()[0][0]
        sp = (
            spark.createDataFrame([(s,)], "t string")
            .selectExpr(f"{deletion_variants('t', 2, 'spark')} as v")
            .collect()[0]["v"]
        )
        assert sorted(d) == sorted(sp)
        L = len(s)
        assert len(set(d)) <= 1 + L + L * (L - 1) // 2


def test_symspell_equals_exhaustive(spark):
    from dawis_spark.operators.dedup import edit_distance_pairs, symspell_pairs

    rows = [
        (1, "red bolt", "A"), (2, "red belt", "A"), (3, "red bolts", "A"),
        (4, "green gear", "A"), (5, "green year", "A"), (6, "red bolt", "B"),
        (7, "rad bolt", "B"), (8, "entirely unlike", "B"),
    ]
    df = spark.createDataFrame(rows, "id bigint, name string, blk string")
    exhaustive = sorted(
        (r["blk"], r["text_a"], r["text_b"], r["dist"])
        for r in edit_distance_pairs(df, "id", "name", "blk", 2).collect()
    )
    sym = sorted(
        (r["blk"], r["text_a"], r["text_b"], r["dist"])
        for r in symspell_pairs(df, "id", "name", "blk", 2).collect()
    )
    assert sym == exhaustive and len(sym) >= 3


# --- table fingerprints / IQR fences -------------------------------------------


def test_fingerprint_order_independent(spark):
    from dawis_spark import queries as q

    # partition layout must not change the fingerprint
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(100)], "k bigint, s string"
    )
    from dawis_spark.queries import _fingerprint_exprs
    h = _fingerprint_exprs("t", ["k", "s"], "spark")
    f1 = df.repartition(1).selectExpr(f"{h} as h").agg(F.expr("sum(h) % 1000000007")).collect()[0][0]
    f32 = df.repartition(32).selectExpr(f"{h} as h").agg(F.expr("sum(h) % 1000000007")).collect()[0][0]
    assert f1 == f32


def test_fingerprint_detects_single_cell_change(spark):
    from dawis_spark.queries import _fingerprint_exprs

    h = _fingerprint_exprs("t", ["k", "s"], "spark")
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, s string")
    b = spark.createDataFrame([(1, "x"), (2, "z")], "k bigint, s string")
    fa = a.selectExpr(f"{h} as h").agg(F.expr("sum(h) % 1000000007")).collect()[0][0]
    fb = b.selectExpr(f"{h} as h").agg(F.expr("sum(h) % 1000000007")).collect()[0][0]
    assert fa != fb


def test_iqr_fences_flag_known_outlier(spark):
    # tight cluster + one far point: exactly one outlier above the fence
    rows = [(i, "2024-01-01 00:00:01", 1, "t", v) for i, v in enumerate(
        [10.0, 10.1, 10.2, 10.3, 10.4, 10.5, 10.6, 10.7, 99.0]
    )]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    from pyspark.sql import functions as FF
    v = df.select("event_type", FF.round(FF.col("value") * 100, 0).cast("bigint").alias("c"))
    q1, q3 = v.selectExpr("percentile(c, 0.25) q1", "percentile(c, 0.75) q3").collect()[0]
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    n_out = v.filter((FF.col("c") < lo) | (FF.col("c") > hi)).count()
    assert n_out == 1


# --- CUSUM closed form ----------------------------------------------------------


def test_cusum_closed_form_matches_recursion(spark):
    # S_t = max(0, S_{t-1} + x_t) == cum_t - min(0, running_min(cum_t))
    import itertools
    xs = [3, -5, 2, 2, 2, -10, 4, 4]
    s_rec, out_rec = 0, []
    for x in xs:
        s_rec = max(0, s_rec + x)
        out_rec.append(s_rec)
    cums = list(itertools.accumulate(xs))
    out_closed = [c - min(0, min(cums[: i + 1])) for i, c in enumerate(cums)]
    assert out_rec == out_closed


def test_cusum_query_flags_shift(spark):
    from dawis_spark import queries as q

    out = q.QUERIES["cusum_changepoints"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "full series must be non-empty"
    assert {"event_type", "day", "cusum_scaled", "breached"} == set(out.columns)
    assert all(r["cusum_scaled"] >= 0 for r in rows)


# --- WordPiece greedy segmentation ----------------------------------------------


def test_wordpiece_greedy_longest_match_first(spark):
    from dawis_spark.operators.wordpiece import segment_corpus

    df = spark.createDataFrame([(1, "tabletop tab le")], "doc_id bigint, text string")
    # vocab prefers the longest piece at each position: 'table'(5) then 'top'
    out = segment_corpus(df, "doc_id", "text", ["table", "top", "tab", "le"]).collect()[0]
    # tabletop -> table+top (2); tab -> tab (1); le -> le (1)
    assert out["n_words"] == 3 and out["n_subwords"] == 4


def test_wordpiece_single_char_fallback(spark):
    from dawis_spark.operators.wordpiece import segment_corpus

    df = spark.createDataFrame([(1, "xyz")], "doc_id bigint, text string")
    out = segment_corpus(df, "doc_id", "text", ["qq"]).collect()[0]
    assert out["n_subwords"] == 3  # x, y, z singles


# --- exact-math unit probes for the analytics tail ------------------------------


def test_gini_known_values(spark):
    from pyspark.sql import Window

    # perfectly equal distribution -> G = 0; one-holder -> G -> (n-1)/n
    def gini(vals):
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "k int, x bigint")
        rk = df.select("x", F.row_number().over(Window.orderBy("x", "k")).alias("r"))
        m = rk.agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
            F.sum(F.col("r").cast("decimal(38,0)") * F.col("x")).alias("srx"),
        ).collect()[0]
        n, sx, srx = m["n"], m["sx"], int(m["srx"])
        return (2 * srx - (n + 1) * sx) / (n * sx)

    assert gini([5, 5, 5, 5]) == 0.0
    assert abs(gini([0, 0, 0, 100]) - 0.75) < 1e-12


def test_hhi_monopoly_is_one(spark):
    # single supplier -> HHI 1; two equal suppliers -> 0.5
    rows = [(1, 10, 30.0), (2, 10, 30.0), (2, 20, 30.0)]
    df = spark.createDataFrame(rows, "l_partkey bigint, l_suppkey bigint, l_quantity double")
    qs = df.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round("l_quantity", 0).cast("bigint")).alias("q"))
    agg = qs.groupBy("l_partkey").agg(
        F.sum("q").alias("qt"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("sq2"))
    out = {r["l_partkey"]: float(r["sq2"]) / (r["qt"] * r["qt"]) for r in agg.collect()}
    assert out[1] == 1.0 and out[2] == 0.5


def test_association_lift_identity(spark):
    # lift(i->j) == lift(j->i); confidence(i->j) = co/n_i exactly
    # (query-shape probe on literal baskets)
    b = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10)], "basket bigint, item int"
    )
    nb = b.select("basket").distinct().count()
    marg = {r["item"]: r["n"] for r in b.groupBy("item").agg(F.count("*").alias("n")).collect()}
    co = (
        b.alias("x").join(b.alias("y"),
            (F.col("x.basket") == F.col("y.basket")) & (F.col("x.item") != F.col("y.item")))
        .groupBy(F.col("x.item").alias("i"), F.col("y.item").alias("j"))
        .agg(F.count("*").alias("n_ij")).collect()
    )
    by = {(r["i"], r["j"]): r["n_ij"] for r in co}
    lift_ij = by[(10, 20)] * nb / (marg[10] * marg[20])
    lift_ji = by[(20, 10)] * nb / (marg[20] * marg[10])
    assert lift_ij == lift_ji
    assert by[(10, 20)] / marg[10] == 2 / 3  # confidence 10->20


# --- statistical tests (operators/stats.py) --------------------------------------


def test_theil_sen_exact_line(spark):
    from dawis_spark.operators.stats import theil_sen

    df = spark.createDataFrame(
        [("a", i, 3 * i + 7) for i in range(6)] + [("a", 6, 999)],  # one outlier
        "k string, x bigint, y bigint",
    )
    out = theil_sen(df, "k", "x", "y").collect()[0]
    assert out["slope"] == 3.0  # median slope shrugs off the outlier


def test_mann_whitney_symmetric_no_shift(spark):
    from dawis_spark.operators.stats import mann_whitney

    rows = [(v, "a") for v in [10, 20, 30, 40]] + [(v, "b") for v in [10, 20, 30, 40]]
    df = spark.createDataFrame(rows, "v bigint, side string")
    out = mann_whitney(df, "v", "side", "a", "b").collect()[0]
    assert out["z"] == 0.0  # identical distributions -> U at its mean
    assert out["u_a"] == 8.0  # n_a*n_b/2


def test_chi2_independent_table_is_zero(spark):
    from dawis_spark.operators.stats import chi_square_independence

    # perfectly proportional table -> chi2 == 0
    rows = [("x", 1)] * 4 + [("x", 2)] * 8 + [("y", 1)] * 2 + [("y", 2)] * 4
    df = spark.createDataFrame(rows, "r string, c int")
    out = chi_square_independence(df, "r", "c").collect()[0]
    assert out["chi2"] == 0.0 and out["dof"] == 1


# --- JL projection ----------------------------------------------------------------


def test_jl_projection_deterministic_and_partition_invariant(spark):
    from dawis_spark.operators.jl import jl_project

    df = _toy_corpus(spark)
    p1 = {r["vec_id"]: r["proj"] for r in jl_project(df.repartition(1), "vec_id", "embedding", 4, 2).collect()}
    p8 = {r["vec_id"]: r["proj"] for r in jl_project(df.repartition(8), "vec_id", "embedding", 4, 2).collect()}
    assert p1 == p8
    # hand-check one component: s(i,0) = 1-2*((i*53)%2) = [1,-1,1,-1]
    v = [1.0, 0.0, 0.0, 0.0]
    assert p1[0][0] == 1.0  # only i=0 contributes, sign +1


def test_jl_recall_reasonable_on_clusters(spark):
    from dawis_spark.operators.jl import jl_project
    from dawis_spark.operators.similarity import brute_force_topk

    df = _toy_corpus(spark)
    p = jl_project(df, "vec_id", "embedding", 4, 4)  # same-dim projection: rotation-ish
    exact = brute_force_topk(df, df, "vec_id", "embedding", k=2).collect()
    proj = brute_force_topk(p, p, "vec_id", "proj", k=2).collect()
    assert len(exact) == len(proj)


def test_cusum_query_matches_closed_form_helper(spark):
    # batch SQL path == the integer helper the streaming monitor uses
    from dawis_spark import queries as q
    from dawis_spark.streaming.cusum import cusum_closed_form

    out = q.QUERIES["cusum_changepoints"](spark, "/root/testdata/sf0.001")
    rows = [r for r in out.collect() if r["event_type"] == "click"]
    daily = (
        spark.table("events")
        .where("event_type = 'click'")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("v"))
        .orderBy("day")
        .collect()
    )
    series = [(i, int(r["v"])) for i, r in enumerate(daily)]
    want = [s for _, s, _ in cusum_closed_form(series)]
    got = [r["cusum_scaled"] for r in sorted(rows, key=lambda r: r["day"])]
    assert got == want


# --- round-8 third-session batch: OPH, skyline, bootstrap, EWMA, negatives ---


def test_pareto_frontier_matches_quadratic(spark):
    from dawis_spark import queries as q

    got = {
        (r["p_partkey"], r["price_cents"], r["p_size"])
        for r in q.QUERIES["pareto_frontier_parts"](spark, "/root/testdata/sf0.001").collect()
    }
    parts = [
        (r["p_partkey"], int(round(r["p_retailprice"] * 100)), r["p_size"])
        for r in spark.table("part").collect()
    ]
    want = set()
    for pk, price, size in parts:
        dominated = any(
            (qp <= price and qs >= size and (qp < price or qs > size))
            for _, qp, qs in parts
        )
        if not dominated:
            want.add((pk, price, size))
    assert got == want and len(got) > 0


def test_oph_signature_is_bin_min_when_occupied(spark):
    # a text whose shingle hashes occupy every bin has NO borrowed slots:
    # each slot must equal the true min of its residue class
    from dawis_spark.functions import text as TXT
    from dawis_spark.operators.oph import oph_signature

    text = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame([(1, text)], "id int, text string")
    sh_expr = TXT.shingle_hashes("text", 3, "spark")
    row = df.selectExpr(
        f"{sh_expr} AS sh", f"{oph_signature(f'({sh_expr})', 8, 'spark')} AS sig"
    ).collect()[0]
    bins = {}
    for h in row["sh"]:
        bins.setdefault(h % 8, []).append(h)
    for i in range(8):
        if i in bins:
            assert row["sig"][i] == min(bins[i])


def test_oph_identical_texts_full_agreement(spark):
    from dawis_spark.operators.oph import oph_near_duplicates

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    out = oph_near_duplicates(df, "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == 1.0 and out[0]["slots_eq"] == 8 and out[0]["oph_est"] == 1.0


def test_bootstrap_poisson_weights_mean_near_one(spark):
    # the hash-Poisson weights must average ~1 (each replicate resamples
    # n items in expectation) — a distributional check on the inverse CDF
    from dawis_spark import queries as q
    from dawis_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    n = spark.table("orders").count()
    out = q.QUERIES["bootstrap_ci_order_value"](spark, "/root/testdata/sf0.001").collect()[0]
    assert out["ci_lo_cents"] <= out["point_cents"] <= out["ci_hi_cents"]
    assert out["n_replicates"] == 64
    # determinism: a second run is bit-identical
    out2 = q.QUERIES["bootstrap_ci_order_value"](spark, "/root/testdata/sf0.001").collect()[0]
    assert out == out2
    assert n > 0


def test_ewma_matches_python_replay(spark):
    from dawis_spark import queries as q

    out = q.QUERIES["ewma_daily_smoothing"](spark, "/root/testdata/sf0.001")
    rows = [r for r in out.collect() if r["event_type"] == "click"]
    daily = (
        spark.table("events")
        .where("event_type = 'click'")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("v"))
        .collect()
    )
    by_day = {r["day"]: int(r["v"]) for r in daily}
    import datetime

    for r in rows:
        num = den = 0
        for o in range(16):
            src = r["day"] - datetime.timedelta(days=o)
            if src in by_day:
                w = 1 << (15 - o)
                num += by_day[src] * w
                den += w
        assert den > 0
        assert abs(r["ewma_cents"] - round(num / den, 6)) < 1e-9


def test_contrastive_negatives_shape(spark):
    from dawis_spark import queries as q

    rows = q.QUERIES["contrastive_negative_pairs"](spark, "/root/testdata/sf0.001").collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    src = {r["doc_id"]: r["source"] for r in spark.table("documents").collect()}
    for a, rs in by_anchor.items():
        assert sorted(r["rk"] for r in rs) == [1, 2, 3, 4]
        assert len({r["neg_id"] for r in rs}) == 4
        for r in rs:
            assert src[r["neg_id"]] != src[a]


def test_lsh_detection_curve_bounds(spark):
    from dawis_spark import queries as q

    rows = q.QUERIES["lsh_detection_curve"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["bucket"] <= 9
        assert 0 <= r["n_detected"] <= r["n_pairs"]
        assert abs(r["detect_rate"] - round(r["n_detected"] / r["n_pairs"], 6)) < 1e-9


def test_kcore_peel_hand_graph(spark):
    # path a-b-c-d plus triangle e-f-g: 2-core should keep only the triangle
    from dawis_spark.operators.graph import kcore_peel

    und = [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], ["src", "dst"]
    )
    rows = kcore_peel(edges, k=2, iterations=3).collect()
    assert {r["node"]: r["degree"] for r in rows} == {5: 2, 6: 2, 7: 2}


def test_bfs_hops_hand_graph(spark):
    from dawis_spark.operators.graph import bfs_hops

    und = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    rows = bfs_hops(edges, seeds, max_hops=3).collect()
    assert {r["node"]: r["hops"] for r in rows} == {1: 0, 2: 1, 3: 2, 4: 3}


def test_spearman_matches_scipy_free_formula(spark):
    from dawis_spark.operators.stats import spearman_rho

    # y = x^2 on positive x is a perfect monotone map -> rho exactly 1
    data = [(i, i * i) for i in range(1, 20)]
    df = spark.createDataFrame(data, ["x", "y"])
    row = spearman_rho(df, "x", "y").collect()[0]
    assert row["n"] == 19 and abs(row["rho_spearman"] - 1.0) < 1e-9
    # reversal -> exactly -1
    df2 = spark.createDataFrame([(i, -i * i) for i in range(1, 20)], ["x", "y"])
    assert abs(spearman_rho(df2, "x", "y").collect()[0]["rho_spearman"] + 1.0) < 1e-9


def test_spearman_ties_average_ranks(spark):
    from dawis_spark.operators.stats import spearman_rho

    # hand-computed: x = [1,2,2,3], y = [10,20,20,40]
    # doubled avg ranks x: [2,5,5,8]; y: [2,5,5,8] -> rho = 1
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 20), (3, 40)], ["x", "y"]
    )
    assert abs(spearman_rho(df, "x", "y").collect()[0]["rho_spearman"] - 1.0) < 1e-9


def test_kendall_tau_b_hand_case(spark):
    from dawis_spark.operators.stats import kendall_tau_b

    # x=[1,2,3,4], y=[1,3,2,4]: 5 concordant, 1 discordant, no ties
    # tau = (5-1)/6
    df = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 3), (3, 3, 2), (4, 4, 4)], ["o", "x", "y"]
    )
    row = kendall_tau_b(df, "o", "x", "y").collect()[0]
    assert row["n_concordant"] == 5 and row["n_discordant"] == 1
    assert abs(row["tau_b"] - round(4 / 6, 6)) < 1e-9


def test_acf_constant_and_alternating(spark):
    from dawis_spark.operators.stats import acf

    # alternating +-1 around mean 0: acf(1) = -1, acf(2) = +1 (up to the
    # truncated-overlap bias of the standard estimator)
    n = 40
    df = spark.createDataFrame(
        [(i, 100 if i % 2 == 0 else -100) for i in range(n)], ["t", "v"]
    )
    rows = {r["lag"]: r for r in acf(df, "t", "v", max_lag=2).collect()}
    assert rows[1]["n_pairs"] == n - 1 and rows[2]["n_pairs"] == n - 2
    # standard estimator scales by (n-k)/n through the truncated sum
    assert abs(rows[1]["acf"] - round(-(n - 1) / n, 6)) < 1e-9
    assert abs(rows[2]["acf"] - round((n - 2) / n, 6)) < 1e-9


def test_holt_linear_hand_trace(spark):
    from dawis_spark.operators.forecast import holt_linear, _tdiv

    vals = [100, 120, 90, 150, 130]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], ["k", "t", "v"]
    )
    rows = holt_linear(df, "k", "t", "v", horizon=3).collect()
    lvl, tr = vals[0], 0
    for x in vals[1:]:
        ln = _tdiv(x + 3 * (lvl + tr), 4)
        tr = _tdiv((ln - lvl) + 7 * tr, 8)
        lvl = ln
    got = {r["h"]: r for r in rows}
    assert sorted(got) == [1, 2, 3]
    for h in (1, 2, 3):
        assert got[h]["forecast"] == lvl + h * tr
        assert got[h]["level"] == lvl and got[h]["trend"] == tr
        assert got[h]["n_points"] == len(vals)


def test_tdiv_matches_duckdb_trunc_semantics():
    import duckdb

    from dawis_spark.operators.forecast import _tdiv

    for a in (-9, -7, -1, 0, 1, 7, 9):
        for b in (2, 3, 8):
            assert _tdiv(a, b) == duckdb.sql(f"SELECT {a} // {b}").fetchone()[0]


def test_k_anonymity_hand_case(spark):
    from dawis_spark.operators.profile import k_anonymity_profile

    # groups: (a: 3 rows), (b: 1 row) -> below k=2: 1 group / 1 row
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",)], ["qi"]
    )
    rows = {r["k"]: r for r in k_anonymity_profile(df, ["qi"], [2, 4]).collect()}
    assert rows[2]["n_groups"] == 2 and rows[2]["n_groups_below"] == 1
    assert rows[2]["n_rows_below"] == 1
    assert abs(rows[2]["pct_rows_below"] - 25.0) < 1e-9
    assert rows[4]["n_groups_below"] == 2 and rows[4]["n_rows_below"] == 4


def test_nprobe_curve_monotone(spark):
    from dawis_spark import queries as q

    rows = q.QUERIES["ivf_nprobe_recall_curve"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    recalls = [r["mean_recall"] for r in rows]
    assert all(b >= a for a, b in zip(recalls, recalls[1:]))
    assert all(0.0 <= r <= 1.0 for r in recalls)


def test_search_mrr_eval_bounds_and_empty_query(spark):
    from dawis_spark import queries as q

    rows = {r["query_id"]: r for r in q.QUERIES["search_mrr_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()}
    assert sorted(rows) == [1, 2, 3]
    # query 3 is constructed to have zero AND-relevant docs
    assert rows[3]["n_relevant"] == 0
    assert rows[3]["first_rel_rank"] == 0 and rows[3]["reciprocal_rank"] == 0.0
    for r in rows.values():
        assert 0.0 <= r["reciprocal_rank"] <= 1.0
        assert 0.0 <= r["p_at_5"] <= 1.0
        assert 0.0 <= r["recall_at_20"] <= 1.0
        if r["first_rel_rank"] > 0:
            assert abs(r["reciprocal_rank"] - round(1 / r["first_rel_rank"], 6)) < 1e-9


def test_weighted_median_hand_case(spark):
    from dawis_spark.operators.sketches import weighted_median_select

    # values 1..4 with weights 1,1,1,10 -> total 13, T=7 -> median 4;
    # and weights 5,1,1,1 -> total 8, T=4 -> median 1
    df1 = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 3, 1), ("a", 4, 10),
         ("b", 1, 5), ("b", 2, 1), ("b", 3, 1), ("b", 4, 1)],
        ["k", "v", "w"],
    )
    rows = {r["k"]: r for r in weighted_median_select(df1, ["k"], "v", "w").collect()}
    assert rows["a"]["median_value"] == 4 and rows["a"]["total_w"] == 13
    assert rows["b"]["median_value"] == 1 and rows["b"]["total_w"] == 8


def test_weighted_median_uniform_weights_is_lower_median(spark):
    from dawis_spark.operators.sketches import weighted_median_select

    df = spark.createDataFrame([("g", v, 1) for v in [10, 20, 30, 40]], ["k", "v", "w"])
    # even count, lower median -> 20 (cumw 2 >= T=(4+1)div 2=2)
    assert weighted_median_select(df, ["k"], "v", "w").collect()[0]["median_value"] == 20


def test_label_propagation_two_components(spark):
    from dawis_spark.operators.graph import label_propagation

    # two disjoint triangles: each converges to its min node id
    und = [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], ["src", "dst"]
    )
    rows = {r["node"]: r["label"] for r in label_propagation(edges, 3).collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_hampel_flags_spike_not_trend(spark):
    import datetime

    from dawis_spark.operators.anomaly import hampel_outliers

    d0 = datetime.date(2024, 1, 1)
    # smooth ramp with one spike at day 7
    vals = [100, 102, 104, 106, 108, 110, 112, 900, 116, 118, 120, 122, 124, 126, 128]
    rows = [("a", d0 + datetime.timedelta(days=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "day", "v"])
    out = hampel_outliers(df, "k", "day", "v", half_window=3).collect()
    flagged_days = {r["day"] for r in out}
    spike_day = d0 + datetime.timedelta(days=7)
    assert spike_day in {d.date() if hasattr(d, "date") else d for d in flagged_days}
    for r in out:
        day = r["day"].date() if hasattr(r["day"], "date") else r["day"]
        assert day == spike_day, f"false positive at {day}"


def test_trimmed_mean_matches_sorted_definition(spark):
    import random

    from dawis_spark.operators.sketches import trimmed_mean_select

    rng = random.Random(7)
    vals = [rng.randrange(0, 10000) for _ in range(237)] + [10**9]  # one whale
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    row = trimmed_mean_select(df, ["k"], "v", 5, 95).collect()[0]
    n = len(vals)
    t_lo = (5 * (n - 1)) // 100 + 1
    t_hi = (95 * (n - 1)) // 100 + 1
    kept = sorted(vals)[t_lo - 1 : t_hi]
    assert row["n"] == n and row["kept_n"] == len(kept)
    assert row["trimmed_sum"] == sum(kept)
    assert abs(row["trimmed_mean"] - round(sum(kept) / len(kept), 6)) < 1e-9
    # the whale is trimmed: mean stays in the body's range
    assert row["trimmed_mean"] < 10000


def test_trimmed_mean_tie_heavy_at_cutoff(spark):
    from dawis_spark.operators.sketches import trimmed_mean_select

    # many ties exactly at both cutoffs
    vals = [1] * 30 + [2] * 40 + [3] * 30
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    row = trimmed_mean_select(df, ["k"], "v", 5, 95).collect()[0]
    n = 100
    t_lo = (5 * 99) // 100 + 1   # 5
    t_hi = (95 * 99) // 100 + 1  # 95
    kept = sorted(vals)[t_lo - 1 : t_hi]
    assert row["trimmed_sum"] == sum(kept) and row["kept_n"] == len(kept)


def test_bellman_ford_hand_graph(spark):
    from dawis_spark.operators.graph import bellman_ford

    # 1 -2-> 2 -3-> 3; direct 1 -10-> 3: path through 2 wins (5 < 10)
    e = [(1, 2, 2), (2, 3, 3), (1, 3, 10)]
    edges = spark.createDataFrame(e, ["src", "dst", "w"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    rows = {r["node"]: r["dist"] for r in bellman_ford(edges, seeds, 3).collect()}
    assert rows == {1: 0, 2: 2, 3: 5}


def test_ccf_symmetric_identity(spark):
    from dawis_spark.operators.stats import ccf

    # y == x: ccf(0) = 1 exactly; ccf(k) == ccf(-k) by symmetry of x with itself
    vals = [(i, 100 + ((i * 37) % 50), 100 + ((i * 37) % 50)) for i in range(60)]
    df = spark.createDataFrame(vals, ["t", "x", "y"])
    rows = {r["lag"]: r for r in ccf(df, "t", "x", "y", max_lag=3).collect()}
    assert abs(rows[0]["ccf"] - 1.0) < 1e-9
    for k in (1, 2, 3):
        assert rows[k]["n_pairs"] == 60 - k and rows[-k]["n_pairs"] == 60 - k
        assert abs(rows[k]["ccf"] - rows[-k]["ccf"]) < 1e-9


def test_rake_phrase_segmentation_and_scores(spark):
    from dawis_spark.operators.rake import rake_keyphrases

    # "deep learning" appears twice (deg/freq rewards the collocation);
    # stopwords split phrases; 1-word runs are dropped by min_phrase_len
    docs = spark.createDataFrame(
        [
            (1, "deep learning is the deep learning method"),
            (2, "shallow parsing and deep learning"),
        ],
        ["doc_id", "text"],
    )
    rows = rake_keyphrases(docs, "doc_id", "text", top_n=5).collect()
    by_phrase = {r["phrase"]: r for r in rows}
    assert "deep learning" in by_phrase
    dl = by_phrase["deep learning"]
    # standalone twice (doc1 pre-'is', doc2); the third lives inside
    # 'deep learning method', a distinct phrase
    assert dl["n_occurrences"] == 2 and dl["n_words"] == 2
    assert "deep learning method" in by_phrase
    # the longer collocation outscores its prefix (deg rewards length)
    assert by_phrase["deep learning method"]["score"] > dl["score"]
    # segmentation check: 'is'/'the'/'and' never appear inside any phrase
    for p in by_phrase:
        assert not ({"is", "the", "and", "of"} & set(p.split()))


def test_winsorized_mean_matches_sorted_definition(spark):
    import random

    from dawis_spark.operators.sketches import trimmed_mean_select

    rng = random.Random(11)
    vals = [rng.randrange(0, 10000) for _ in range(181)] + [10**9, -(10**9)]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    row = trimmed_mean_select(df, ["k"], "v", 5, 95).collect()[0]
    n = len(vals)
    t_lo = (5 * (n - 1)) // 100 + 1
    t_hi = (95 * (n - 1)) // 100 + 1
    sv = sorted(vals)
    q_lo, q_hi = sv[t_lo - 1], sv[t_hi - 1]
    winsored = [q_lo if i < t_lo - 1 else (q_hi if i > t_hi - 1 else v)
                for i, v in enumerate(sv)]
    assert row["winsor_sum"] == sum(winsored)
    assert abs(row["winsor_mean"] - round(sum(winsored) / n, 6)) < 1e-9
    # both whales clipped: mean back in the body's range
    assert 0 <= row["winsor_mean"] <= 10000


def test_search_ndcg_bounds_and_perfect_ranking_case(spark):
    from dawis_spark import queries as q

    rows = {r["query_id"]: r for r in q.QUERIES["search_ndcg_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()}
    assert sorted(rows) == [1, 2, 3]
    for r in rows.values():
        assert 0.0 <= r["ndcg"] <= 1.0 + 1e-9
        assert r["dcg"] <= r["idcg"] + 1e-9
        if r["idcg"] > 0:
            assert abs(r["ndcg"] - round(r["dcg"] / r["idcg"], 6)) < 1e-6

"""Similarity search over embedding columns (array<float>).

Beyond-reference capability (BASELINE.json north star). Two paths:

  - brute-force cosine top-k: exact baseline. Plan: broadcast the (small)
    query set against the corpus — a map-side nested loop with no shuffle
    of the corpus — then per-query top-k via window. This is the right
    exact plan at any corpus size as long as the QUERY side is broadcastable.

  - LSH-bucketed ANN (sign-random-projection / SimHash for cosine,
    Charikar 2002): corpus and queries hash to sign-pattern buckets
    map-side; candidates equi-join on bucket; exact cosine only on
    candidates. At 100 TB this turns the O(N x Q) scan into a bucket join —
    the standard trade: recall < 1 for a ~buckets-fold cost cut.

Projection vectors are deterministic pseudo-random (index arithmetic), so
results are reproducible and the DuckDB oracle can generate the identical
planes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dawis_spark.functions import vectors as V
from dawis_spark.functions.folds import left_sum
from dawis_spark.operators.pairs import capped_blocks, self_pairs, verify


def _cosine_col() -> F.Column:
    return F.round(F.expr(V.cosine("q_vec", "c_vec", "spark")), 6)


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, neighbor_id, cosine) rows per query,
    ranked by cosine descending then neighbor_id: the top-k tail every
    nearest-neighbour index ends in. A NULL cosine ranks last."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def top_k_sql(rel: str, k: int) -> str:
    """DuckDB text of ``top_k`` over the relation ``rel``, ordered by
    query_id and rank."""
    return f"""SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM {rel}
) WHERE rank <= {k}
ORDER BY query_id, rank"""


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k. ``queries`` must be small (it is broadcast).

    Output: (query_id, neighbor_id, cosine) with deterministic tie-break
    on neighbor_id after 6-digit rounding.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine_col().alias("cosine"))
    )
    return top_k(scored, k)


def projection_plane_expr(
    plane: int, dim: int, dialect: str, invert: bool = False
) -> str:
    """Deterministic pseudo-random hyperplane: component i of plane p is
    ``((i*37 + p*101) % 17) - 8`` — integer-valued, identical in any engine.
    Returns the SQL for sign(dot(vec, plane)) as a '0'/'1' string;
    ``invert`` flips the bit (used to build Hamming-1 probe keys)."""
    if dialect == "spark":
        dot = (
            f"aggregate(sequence(0, {dim - 1}), cast(0 as double), "
            f"(s, i) -> s + cast(vec[i] as double) * (((i * 37 + {plane} * 101) % 17) - 8))"
        )
    else:
        dot = (
            f"list_reduce(list_prepend(cast(0 as double), "
            f"list_transform(range(1, {dim} + 1), "
            f"i -> cast(vec[i] as double) * ((((i - 1) * 37 + {plane} * 101) % 17) - 8))), "
            f"(s, v) -> s + v)"
        )
    hi, lo = ("'0'", "'1'") if invert else ("'1'", "'0'")
    return f"(case when {dot} >= 0 then {hi} else {lo} end)"


def lsh_bucket_expr(n_planes: int, dim: int, dialect: str) -> str:
    """Concatenated sign bits -> bucket key string."""
    bits = [projection_plane_expr(p, dim, dialect) for p in range(n_planes)]
    if dialect == "spark":
        return "concat(" + ", ".join(bits) + ")"
    return " || ".join(bits)


def lsh_probe_keys(n_planes: int, dim: int, dialect: str) -> list[str]:
    """Multi-probe key set (Lv et al. 2007, Hamming radius 1 for sign-LSH):
    the vector's own bucket plus every key with exactly one bit flipped —
    n_planes+1 expressions. Probing the Hamming-1 neighborhood recovers
    near-duplicates that straddle a single hyperplane, the dominant recall
    loss of sign-random-projection."""

    def key(flip: int | None) -> str:
        bits = [
            projection_plane_expr(p, dim, dialect, invert=(p == flip))
            for p in range(n_planes)
        ]
        if dialect == "spark":
            return "concat(" + ", ".join(bits) + ")"
        return " || ".join(bits)

    return [key(None)] + [key(p) for p in range(n_planes)]


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: exact cosine only within the query's LSH bucket.

    Scale path: bucket assignment is map-side on both relations; the only
    shuffle is the equi-join on bucket. Recall tuned by n_planes (fewer
    planes = bigger buckets = higher recall & cost). ``multi_probe`` unions
    the query's Hamming-1 neighbor buckets (n_planes extra probes per
    query): recall rises toward exact at ~(n_planes+1)x the candidate
    cost — still map-side + one equi-join; only the (small) QUERY side
    fans out, the corpus keeps one bucket per row.
    """
    bucket = lsh_bucket_expr(n_planes, dim, "spark")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
    ).withColumn("bucket", F.expr(bucket)).withColumnsRenamed({"vec": "c_vec"})
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vec")
    )
    if multi_probe:
        keys = "array(" + ", ".join(lsh_probe_keys(n_planes, dim, "spark")) + ")"
        q = q.withColumn("bucket", F.explode(F.expr(keys)))
    else:
        q = q.withColumn("bucket", F.expr(bucket))
    q = q.withColumnsRenamed({"vec": "q_vec"})
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine_col().alias("cosine"))
    )
    if multi_probe:
        # a neighbor can share several probed buckets with the query.
        # repartition by query_id FIRST: the dedup aggregate is then
        # satisfied by hash(query_id) and the rank window below reuses
        # the same partitioning — ONE exchange instead of the
        # distinct-then-window pair (r15, guide §2.4)
        scored = scored.repartition("query_id").dropDuplicates()
    return top_k(scored, k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    max_block_rows: int | None = None,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking group —
    the dedup-family entry for semantic near-dups.

    Scale shape: blocking (label / cluster id / LSH bucket) bounds the
    pair count; pair generation runs over bare (block, id) rows and the
    vectors join back via SHUFFLE_HASH on the pair ids — the vector
    relation is corpus-sized so it must never broadcast, and norms are
    hoisted so each vector's magnitude is computed once, not per pair.

    ``max_block_rows``: per-block pair budget. Blocks above the cap route
    through sign-random-projection LSH *within the block* (pairs must
    share the block AND a sign-pattern bucket) instead of all-pairs; with
    a cap set the output gains a ``pair_method`` ('exact' | 'lsh') flag.
    """
    nsq = V.norm_sq("vec", "spark")
    # persisted: the normed relation feeds both verify sides, the block
    # sizing, and the hot-block bucket hash — up to 7 end-to-end
    # re-evaluations of the corpus lineage per pass without it (in
    # semantic_dedup that lineage includes the per-row centroid argmax).
    # Corpus-sized state with vectors: persist (spills to disk), never
    # broadcast — the same budget the shingle-hash relations pay.
    v = corpus.select(
        F.col(block_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    ).withColumn("nrm", F.sqrt(F.expr(nsq))).persist()
    bucket = lsh_bucket_expr(n_planes, dim, "spark")

    def hot_pairs(big: DataFrame) -> DataFrame:
        # Hot blocks: sign-LSH bucket within the block (map-side hash on
        # both sides; pairing only within (block, bucket) keeps the
        # quadratic capped). persisted: both sides of the within-bucket
        # pair join read it — the n_planes x dim sign-projection fold
        # would otherwise run twice per hot-block row. Bare (g, bucket,
        # id) rows.
        bucketed = (
            big.join(v.select("id", "vec"), "id")
            .withColumn("bucket", F.expr(bucket))
            .select("g", "bucket", "id")
            .persist()
        )
        return (
            self_pairs(bucketed, ["g", "bucket"], "id")
            .select("g", "id_a", "id_b")
            .distinct()
        )

    pairs = capped_blocks(v.select("g", "id"), "id", max_block_rows, hot_pairs)
    cos = F.round(
        F.expr(V.dot("vec_a", "vec_b", "spark")) / (F.col("nrm_a") * F.col("nrm_b")), 6
    )
    return (
        verify(pairs, v, "id", ["vec", "nrm"])
        .select(
            F.col("g").alias(block_col),
            "id_a",
            "id_b",
            cos.alias("cosine"),
            *pairs.columns[3:],  # pair_method, when capped
        )
        .filter(F.col("cosine") >= threshold)
    )


# ivf_ann_topk embeds the centroid set as SQL literals; each double costs
# ~25 chars of expression text, so cap the element count well below any
# parser/codegen limit (1024 centroids x 768 dims would be ~20 MB of SQL).
MAX_CENTROID_LITERALS = 100_000


def _ivf_assign_numpy(
    df,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    id_alias: str,
    vec_alias: str,
    top_n: int,
):
    """Large-codebook coarse assignment: same contract as the literal path
    but the codebook ships to executors as a numpy array inside an
    Arrow-batched ``mapInPandas`` closure instead of a SQL literal — the
    production-quantizer shape (e.g. 4096 centroids x 1024 dims = 4M
    doubles) that would blow the codegen literal budget. Still strictly
    map-side: no shuffle, no crossJoin row inflation, embeddings never
    leave their partition.

    Bit-parity with the literal path: the dot/norm accumulations iterate
    dimensions in ascending order (the same left-to-right double fold as
    functions/vectors.dot), rounding is HALF_UP like Spark's round(), and
    ties break to the lowest codebook index — so both paths pick identical
    cids, not just approximately-equal ones."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cents = np.array([v for _, v in cent_rows], dtype=np.float64)  # (C, dim)
    cent_norm = np.sqrt(V.np_norm_sq(cents))
    in_schema = df.schema
    out_schema = T.StructType(
        [
            T.StructField(id_alias, in_schema[id_col].dataType, True),
            T.StructField(vec_alias, in_schema[vec_col].dataType, True),
            T.StructField("cid", T.IntegerType(), True),
        ]
    )
    sel = df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_alias]])
            denom = np.sqrt(V.np_norm_sq(mat))[:, None] * cent_norm[None, :]
            safe = np.where(denom == 0.0, 1.0, denom)
            aff = np.where(denom == 0.0, -2.0, V.np_round6(V.np_dot(mat, cents) / safe))
            if top_n == 1:
                pick = np.argmax(aff, axis=1)  # first max == lowest index
                yield pd.DataFrame(
                    {
                        id_alias: pdf[id_alias].to_numpy(),
                        vec_alias: pdf[vec_alias],
                        "cid": cids[pick].astype(np.int32),
                    }
                )
            else:
                order = np.argsort(-aff, axis=1, kind="stable")[:, :top_n]
                n = len(pdf)
                yield pd.DataFrame(
                    {
                        id_alias: np.repeat(pdf[id_alias].to_numpy(), top_n),
                        vec_alias: pdf[vec_alias].iloc[
                            np.repeat(np.arange(n), top_n)
                        ].to_numpy(),
                        "cid": cids[order.ravel()].astype(np.int32),
                    }
                )

    return sel.mapInPandas(assign, out_schema)


def _ivf_assign(
    df,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    id_alias: str,
    vec_alias: str,
    top_n: int,
    use_numpy: bool | None = None,
):
    """(id, vec, cid) with each row's ``top_n`` nearest centroids by
    6-digit-rounded cosine (map-side argmax over literal centroids, the
    IVF coarse assignment shared by ivf_ann_topk and ivfpq_ann_topk).

    Affinity array: per-row cosine against every centroid, evaluated
    entirely inside codegen. coalesce(-2.0): a zero-norm vector divides
    by zero -> NULL cosine; -2.0 sits below any valid cosine so such
    rows keep a deterministic assignment (lowest cid) instead of being
    silently dropped by a NULL array_position, and in the multi-probe
    path null-affinity centroids sort LAST, not first.

    Codebooks over ``MAX_CENTROID_LITERALS`` doubles (a production coarse
    quantizer, e.g. 4096 x 1024) exceed what codegen literals tolerate and
    automatically take the bit-identical numpy map-side path
    (``_ivf_assign_numpy``) — same output, same no-shuffle plan shape."""
    # use_numpy=True is the corpus-side default the call sites opt into:
    # the literal-SQL path evaluates the per-centroid cosine as interpreted
    # higher-order lambdas (never codegen), ~4x slower per pass than the
    # bit-identical Arrow numpy path (measured r16, 16x64 codebook). The
    # literal path stays the default for SMALL inputs (query sides, a few
    # rows) where one Python-worker round trip costs more than it saves,
    # and remains forced for codebooks past the literal budget.
    if use_numpy is None:
        use_numpy = sum(len(v) for _, v in cent_rows) > MAX_CENTROID_LITERALS
    if use_numpy:
        return _ivf_assign_numpy(
            df, id_col, vec_col, cent_rows, id_alias, vec_alias, top_n
        )
    cent_lit, cid_lit = _cent_literals(cent_rows)
    n_cent = len(cent_rows)
    aff = (
        f"transform({cent_lit}, c -> coalesce("
        f"round({V.cosine_null('vec', 'c', 'spark')}, 6), cast(-2.0 as double)))"
    )
    base = df.select(
        F.col(id_col).alias(id_alias), F.col(vec_col).alias("vec")
    ).withColumn("__affs", F.expr(aff))
    if top_n == 1:
        # argmax with lowest-index tie-break == highest aff, then cid asc
        pick = F.expr(
            f"element_at({cid_lit}, "
            f"cast(array_position(__affs, array_max(__affs)) as int))"
        )
        return base.select(id_alias, F.col("vec").alias(vec_alias), pick.alias("cid"))
    ranked = (
        f"slice(array_sort(transform(sequence(0, {n_cent - 1}), "
        f"i -> named_struct('negaff', -__affs[i], 'i', i))), 1, {top_n})"
    )
    return base.select(
        id_alias,
        F.col("vec").alias(vec_alias),
        F.explode(F.expr(ranked)).alias("__p"),
    ).select(
        id_alias,
        vec_alias,
        F.expr(f"element_at({cid_lit}, __p.i + 1)").alias("cid"),
    )


def ivf_ann_topk(
    corpus,
    queries,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned_corpus=None,
):
    """IVF approximate NN: bucket corpus by nearest centroid; per query,
    probe the ``n_probe`` nearest centroids' buckets only.

    ``assigned_corpus`` (optional): a pre-computed ``_ivf_assign(corpus,
    ..., "neighbor_id", "c_vec", 1)`` relation for THESE centroids —
    callers sweeping a search parameter over one fixed quantizer (the
    n_probe recall curve) persist the assignment once instead of paying
    the per-row centroid affinity fold once per sweep point. Pure
    plan-sharing: the rows are identical to what this function would
    compute itself.

    EAGER at construction time unless ``centroids`` is supplied: the coarse
    quantizer is TRAINED when this function is CALLED (one k-means round
    via ``train_kmeans`` — deterministic init + 6-digit rounding, so an
    oracle can replay it; an untrained first-C quantizer gives lopsided
    buckets on skewed embeddings). Training runs Spark jobs over the
    corpus and snapshots the centroids (later corpus changes do not move
    them). Callers that already hold the centroid list (cached quantizer)
    pass ``centroids=[(cid, vector), ...]`` and the function stays fully
    lazy.

    Plan shape at scale: the centroid set is config-sized (driver-resident,
    embedded as a literal double array — the IVF coarse quantizer is always
    driver-resident in practice, cf. FAISS); codebooks past
    ``MAX_CENTROID_LITERALS`` doubles transparently switch to the numpy
    map-side assignment. Bucket assignment is a pure map-side
    argmax over a ``transform(...)`` affinity array: NO crossJoin row
    inflation, NO window shuffle — the corpus never shuffles by vector.
    The probe search broadcasts the (small) bucketed query side, so the
    only exchanges in the whole plan carry (query_id, neighbor_id, cosine)
    triples, never embeddings. Cost ~ n_probe/C of brute force.
    """
    if centroids is None:
        centroids = train_kmeans(corpus, id_col, vec_col, k=n_centroids, iterations=1)
    cent_rows = sorted((int(c), list(v)) for c, v in centroids)
    if not cent_rows:
        # No quantizer -> no buckets -> empty result (typed like the output)
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    corpus_b = (
        assigned_corpus
        if assigned_corpus is not None
        else _ivf_assign(
            corpus, id_col, vec_col, cent_rows, "neighbor_id", "c_vec", 1,
            use_numpy=True,
        )
    )
    queries_b = _ivf_assign(queries, id_col, vec_col, cent_rows, "query_id", "q_vec", n_probe)
    # cosine_null: degenerate (zero-norm) members yield NULL scores —
    # never an ANSI DIVIDE_BY_ZERO mid-query. The NULL rows rank last
    # (DESC puts NULLs last), so they are kept when a query has fewer
    # than k scored candidates.
    pair_cos = V.cosine_null("q_vec", "c_vec", "spark")
    scored = (
        F.broadcast(queries_b)
        .join(corpus_b, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(pair_cos), 6).alias("cosine"),
        )
        # a neighbor can appear via several probed buckets; repartition
        # by query_id first so the dedup aggregate AND the rank window
        # below share one exchange (r15, guide §2.4)
        .repartition("query_id")
        .dropDuplicates()
    )
    return top_k(scored, k)


def kmeans_assign(
    corpus,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
):
    """(id, cid): nearest centroid by cosine, computed as a map-side argmax
    over literal centroid arrays (same machinery as ivf_ann_topk's coarse
    quantizer — the centroid set is config-sized). Cosines are rounded to
    6 digits BEFORE the argmax and ties break to the lowest cid, so the
    assignment is bit-reproducible in any engine. Delegates to
    ``_ivf_assign`` and so inherits the numpy map-side path for codebooks
    past the literal budget."""
    cent_rows = sorted((int(c), list(v)) for c, v in centroids)
    return _ivf_assign(
        corpus, id_col, vec_col, cent_rows, "id", "vec", 1, use_numpy=True
    )


TRAIN_SAMPLE_LIMIT = 1 << 18  # 262144 vectors, the FAISS-guidance ballpark


def _collect_train_sample(corpus, id_col: str, vec_col: str, limit: int):
    """(n, dim) float64 sample matrix: the ``limit`` lowest-id vectors.
    Deterministic (id-ordered prefix) so the DuckDB oracle can replay
    training; below the limit — every test scale factor — this is the
    whole corpus and sampling is a no-op.

    Driver memory bound: limit x dim x 8 bytes float64 (plus Row
    overhead during collect) — 262144 x 64 -> ~134 MB, 262144 x 1024 ->
    ~2.1 GB. Lower ``sample_limit`` for high-dim corpora; FAISS guidance
    (~256 vectors per centroid) rarely needs more than tens of
    thousands."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy("id")
        .limit(limit)
        .collect()
    )
    if not rows:
        return None
    return np.array([row["vec"] for row in rows], dtype=np.float64)


def train_kmeans(
    corpus,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 2,
    sample_limit: int = TRAIN_SAMPLE_LIMIT,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over an embedding column — trains the coarse
    quantizer that ivf_ann_topk's ``centroids=`` parameter consumes.

    Quantizer TRAINING runs driver-side on a bounded deterministic
    sample (the ``sample_limit`` lowest-id vectors — FAISS-style: train
    on a driver-sized sample, assign the full corpus distributed). The
    k x dim centroid matrix is config-sized either way; what changed
    from the earlier distributed-Lloyd formulation is only WHERE the
    O(sample x k) arithmetic runs — a numpy loop beats a Spark job per
    iteration by ~50x at every sample size that fits a driver, and at
    100 TB full-corpus Lloyd per iteration was the wrong plan anyway.
    ASSIGNMENT (kmeans_assign) stays a distributed map-side argmax.

    Determinism for the oracle: init is the k lowest-id vectors; cosine
    is the same dim-sequential fold the SQL rendering uses (bit-equal
    per row); every centroid component rounds half-up to 6 digits after
    each update, so summation-order drift in the averages cannot flip a
    later assignment. Empty clusters keep their previous centroid.
    """
    import numpy as np

    X = _collect_train_sample(corpus, id_col, vec_col, sample_limit)
    if X is None:
        return []  # empty corpus -> no quantizer (callers emit empty)
    k_eff = min(k, X.shape[0])
    C = V.np_round6(X[:k_eff].copy())
    xnorm = np.sqrt(V.np_norm_sq(X))
    for _ in range(iterations):
        denom = xnorm[:, None] * np.sqrt(V.np_norm_sq(C))[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = V.np_round6(V.np_dot(X, C) / denom)
        cos[~np.isfinite(cos)] = -2.0  # zero-norm -> NULL -> coalesce(-2.0)
        asg = np.argmax(cos, axis=1)  # first max == lowest cid tie-break
        for cid in range(C.shape[0]):
            members = X[asg == cid]
            if len(members):
                C[cid] = V.np_round6(members.mean(axis=0))
    return [(cid, [float(x) for x in C[cid]]) for cid in range(C.shape[0])]


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze, Schmid 2011: "Product Quantization
# for Nearest Neighbor Search") — the 100 TB ANN memory path: vectors
# compress to M small codes (dim*4 bytes -> M bytes, e.g. 256 B -> 4 B),
# and search scans codes with per-query lookup tables (ADC), never raw
# vectors.
# ---------------------------------------------------------------------------


def _pq_slice(vec: str, m: int, ds: int) -> str:
    return f"slice({vec}, {m * ds + 1}, {ds})"


def _pq_cb_literal(book: list[tuple[int, list[float]]]) -> str:
    """array<array<double>> literal for one subspace's codebook, index
    j+1 == code j (codes are dense 0..Ks-1 by construction)."""
    return V.double_array(cv for _, cv in sorted(book))


def _pq_assign_exprs(vec: str, books, ds: int) -> list[str]:
    """Per-subspace nearest-code expression: argmin of 6-digit-rounded
    L2^2 against the literal sub-codebook, first-position (lowest code)
    tie-break — bit-reproducible in any engine (same rationale as the
    IVF argmax)."""
    out = []
    for m, book in enumerate(books):
        cb = _pq_cb_literal(book)
        dists = (
            f"transform({cb}, c -> round("
            f"{V.l2_sq(_pq_slice(vec, m, ds), 'c', 'spark')}, 6))"
        )
        out.append(
            f"cast(array_position({dists}, array_min({dists})) as int) - 1"
        )
    return out


def pq_train(
    corpus,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 4,
    n_codes: int = 16,
    iterations: int = 1,
    sample_limit: int = TRAIN_SAMPLE_LIMIT,
) -> list[list[tuple[int, list[float]]]]:
    """Train per-subspace codebooks: Lloyd's k-means on each dim/M slice
    with L2 distance. Deterministic like train_kmeans (init = slices of
    the n_codes lowest-id vectors, rounded-6 l2 distances, first-code
    tie-break, 6-digit half-up rounding after every update) so a DuckDB
    oracle can replay training.

    Like train_kmeans, TRAINING runs driver-side on the bounded
    ``sample_limit`` lowest-id sample (numpy, ~50x faster than a Spark
    job per iteration and the right shape at 100 TB — FAISS trains
    codebooks on a sample too); ENCODE stays a distributed map-side
    expression over the full corpus. The M x Ks x ds codebook matrix is
    config-sized either way."""
    import numpy as np

    X = _collect_train_sample(corpus, id_col, vec_col, sample_limit)
    if X is None:
        raise ValueError("pq_train: empty corpus")
    dim = X.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    ds = dim // n_subspaces
    nc = min(n_codes, X.shape[0])
    books_np = [
        V.np_round6(X[:nc, m * ds : (m + 1) * ds].copy())
        for m in range(n_subspaces)
    ]
    for _ in range(iterations):
        for m in range(n_subspaces):
            sl = X[:, m * ds : (m + 1) * ds]
            cb = books_np[m]
            # first min == lowest code tie-break
            asg = np.argmin(V.np_round6(V.np_l2_sq(sl, cb)), axis=1)
            for j in range(cb.shape[0]):
                members = sl[asg == j]
                if len(members):
                    cb[j] = V.np_round6(members.mean(axis=0))
    return [
        [(j, [float(x) for x in cb[j]]) for j in range(cb.shape[0])]
        for cb in books_np
    ]


def _pq_code_exprs(books) -> tuple[str, str]:
    """(codes_sql, xsq_sql) over a column named ``vec``; xsq_sql reads the
    ``__codes`` column produced by codes_sql. xsq comes from a literal
    norm table of the ROUNDED sub-centroids (left-to-right python fold ==
    the engines' aggregate fold); it is the squared norm of the
    RECONSTRUCTION — subspaces are orthogonal coordinate blocks, so the
    cross terms are exactly zero."""
    ds = len(books[0][0][1])
    codes = "array(" + ", ".join(_pq_assign_exprs("vec", books, ds)) + ")"
    normtab = V.double_array(
        [_py_norm_sq(cv) for _, cv in sorted(book)] for book in books
    )
    n_sub = len(books)
    xsq = (
        f"aggregate(sequence(0, {n_sub - 1}), cast(0 as double), "
        f"(acc, m) -> acc + element_at(element_at({normtab}, m + 1), "
        f"element_at(__codes, m + 1) + 1))"
    )
    return codes, xsq


def _pq_codes_col(vec_col: str, books, cent_rows=None, cid_col: str | None = None):
    """array<int> PQ code column — Arrow-batched numpy evaluator of the
    same argmin-of-rounded-L2 definition ``_pq_assign_exprs`` renders in
    SQL (bit-parity asserted in tests; the SQL form remains the oracle's
    replay). The SQL form is a nested higher-order-function chain
    (aggregate-over-zip_with inside transform inside array_position),
    which Spark evaluates as interpreted lambdas per row — measured
    ~0.27 ms/row at 4x16x16; the batched numpy argmin is the guide §4.2
    shape and 2-4x faster while producing identical codes: the L2
    accumulation iterates dimensions in ascending order (the same
    left-to-right double fold as functions/vectors.l2_sq), rounding is
    HALF_UP like Spark round(), and np.argmin's first-min matches the
    array_position(.., array_min(..)) lowest-code tie-break.

    With ``cent_rows``/``cid_col``, codes are computed on the RESIDUAL
    ``vec - centroid[cid]`` (the IVFADC encode) — the elementwise double
    subtraction is IEEE-identical to the SQL ``zip_with(vec, cent, (x, y)
    -> cast(x as double) - y)`` it replaces, without materializing the
    residual column."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ds = len(books[0][0][1])
    cbs = [
        np.array([cv for _, cv in sorted(book)], dtype=np.float64)
        for book in books
    ]
    n_sub = len(cbs)
    cmat = None
    if cent_rows is not None:
        max_cid = max(c for c, _ in cent_rows)
        cmat = np.zeros((max_cid + 1, len(cent_rows[0][1])), dtype=np.float64)
        for c, v in cent_rows:
            cmat[c] = v

    def _codes(mat):
        out = np.empty((mat.shape[0], n_sub), dtype=np.int32)
        for m, cb in enumerate(cbs):
            sl = mat[:, m * ds : (m + 1) * ds]
            out[:, m] = np.argmin(V.np_round6(V.np_l2_sq(sl, cb)), axis=1)
        return out

    if cmat is None:

        def _batch(vecs):
            if not len(vecs):
                return pd.Series([], dtype=object)
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            return pd.Series(list(_codes(mat)))

        # asNondeterministic: the §4.4 optimizer fence (same rationale as
        # dedup._shingle_hashes_col) — posexplode consumers carry an
        # implicit size(codes)>0 filter that Catalyst otherwise pushes
        # below the projection, evaluating the encoder twice per row.
        udf = F.pandas_udf(_batch, T.ArrayType(T.IntegerType())).asNondeterministic()
        return udf(vec_col)

    def _batch_resid(vecs, cids):
        if not len(vecs):
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        mat = mat - cmat[cids.to_numpy()]
        return pd.Series(list(_codes(mat)))

    udf = F.pandas_udf(_batch_resid, T.ArrayType(T.IntegerType())).asNondeterministic()
    return udf(vec_col, cid_col)


def pq_encode(corpus, id_col: str, vec_col: str, books) -> "DataFrame":
    """(id, codes, xsq): M nearest-code ids per vector plus the squared
    norm of the reconstruction. Map-side only (codes via the Arrow numpy
    evaluator, xsq a literal-table lookup fold over the codes); at scale
    this is the write path that shrinks an embedding table ~dim*4/M
    fold."""
    _, xsq = _pq_code_exprs(books)
    return (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("__codes", _pq_codes_col("vec", books))
        .select("id", F.col("__codes").alias("codes"), F.expr(xsq).alias("xsq"))
    )


def _py_norm_sq(cv: list[float]) -> float:
    return left_sum(x * x for x in cv)


def pq_topk(
    corpus,
    queries,
    id_col: str,
    vec_col: str,
    k: int = 5,
    books=None,
):
    """PQ asymmetric-distance top-k (ADC linear scan, Jegou et al. §4.1):
    approximate cosine = sum_m lut[m][code_m] / (|q| * sqrt(xsq)), where
    each query's lut[m][j] = <q_m, codebook[m][j]> is computed once per
    query against the literal codebooks.

    Plan shape at scale: the corpus side reads ONLY (id, codes) — M
    small ints per row instead of dim floats, the whole point of PQ; the
    query side (lut tables attached map-side) broadcasts; the join emits
    (query_id, neighbor_id, cosine) triples, and per-pair work is M
    array lookups + adds inside codegen. No shuffle of the corpus at
    any point."""
    if books is None:
        books = pq_train(corpus, id_col, vec_col)
    enc = pq_encode(corpus, id_col, vec_col, books).select(
        F.col("id").alias("neighbor_id"), "codes", "xsq"
    )
    lut, qn = _pq_query_exprs(books)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("vec")).select(
        "query_id", F.expr(lut).alias("__lut"), F.expr(qn).alias("__qn")
    )
    scored = (
        enc.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(_pq_ip_expr(len(books))) / F.expr("nullif(__qn * sqrt(xsq), 0)"),
                6,
            ).alias("cosine"),
        )
    )
    return top_k(scored, k)


def _pq_query_exprs(books) -> tuple[str, str]:
    """(lut_sql, qnorm_sql) over a column named ``vec``: the per-query ADC
    lookup tables (<query-slice, sub-centroid> inner products against the
    literal codebooks) and the query norm."""
    ds = len(books[0][0][1])
    luts = ", ".join(
        f"transform({_pq_cb_literal(book)}, c -> "
        f"{V.dot(_pq_slice('vec', m, ds), 'c', 'spark')})"
        for m, book in enumerate(books)
    )
    return f"array({luts})", f"sqrt({V.norm_sq('vec', 'spark')})"


def _pq_ip_expr(n_sub: int) -> str:
    """Approximate inner product: fold the ``__lut`` tables over the
    ``codes`` column in ascending subspace order."""
    return (
        f"aggregate(sequence(0, {n_sub - 1}), cast(0 as double), "
        f"(acc, m) -> acc + element_at(element_at(__lut, m + 1), "
        f"element_at(codes, m + 1) + 1))"
    )


def ivfpq_ann_topk(
    corpus,
    queries,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    books=None,
    centroids: list[tuple[int, list[float]]] | None = None,
):
    """IVF + PQ composed (FAISS IVFPQ shape, non-residual variant): the
    coarse quantizer restricts candidates to ``n_probe`` probed buckets,
    and candidate scoring is PQ asymmetric distance over the codes — the
    full production ANN pipeline where neither stage touches raw corpus
    vectors after encode.

    Non-residual: codes quantize the raw vectors, not (x - centroid), so
    the codebooks are shared with pq_topk/pq_encode and the DuckDB oracle
    replays one training. (FAISS's residual variant trades that sharing
    for finer quantization; the plan shape is identical.)

    Plan: corpus -> map-side coarse argmax + PQ encode (one scan, no
    shuffle); queries -> probe explode + LUT build, broadcast; equi-join
    on cid; distinct (a neighbor can reach a query via several probed
    buckets); per-query top-k window over (query_id, neighbor_id, cosine)
    triples. Cost ~ n_probe/C of pq_topk's linear ADC scan.

    Coarse quantizer default: TRAINED (one k-means round via
    ``train_kmeans``, deterministic init + 6-digit rounding, so an oracle
    can replay it) — an untrained first-C quantizer gives lopsided buckets
    on skewed real embeddings, and one giant probe bucket re-creates brute
    force. Training is EAGER at call time (k-means jobs over the corpus,
    FAISS's train-offline shape); pass ``centroids=`` to reuse a cached
    quantizer and stay lazy."""
    if books is None:
        books = pq_train(corpus, id_col, vec_col)
    if centroids is None:
        centroids = train_kmeans(corpus, id_col, vec_col, k=n_centroids, iterations=1)
    cent_rows = sorted((int(c), list(v)) for c, v in centroids)
    _, xsq = _pq_code_exprs(books)
    enc = (
        _ivf_assign(
            corpus, id_col, vec_col, cent_rows, "neighbor_id", "vec", 1,
            use_numpy=True,
        )
        .withColumn("__codes", _pq_codes_col("vec", books))
        .select(
            "neighbor_id",
            "cid",
            F.col("__codes").alias("codes"),
            F.expr(xsq).alias("xsq"),
        )
    )
    lut, qn = _pq_query_exprs(books)
    q = _ivf_assign(
        queries, id_col, vec_col, cent_rows, "query_id", "vec", n_probe
    ).select("query_id", "cid", F.expr(lut).alias("__lut"), F.expr(qn).alias("__qn"))
    scored = (
        F.broadcast(q)
        .join(enc, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(_pq_ip_expr(len(books))) / F.expr("nullif(__qn * sqrt(xsq), 0)"),
                6,
            ).alias("cosine"),
        )
        # multi-probe dedup + rank window share one query_id exchange
        .repartition("query_id")
        .dropDuplicates()
    )
    return top_k(scored, k)


def _cent_literals(cent_rows):
    cid_lit = "array(" + ", ".join(str(c) for c, _ in cent_rows) + ")"
    return V.double_array(vec for _, vec in cent_rows), cid_lit


def _py_dot(a, b) -> float:
    return left_sum(x * y for x, y in zip(a, b))


def ivfpq_residual_ann_topk(
    corpus,
    queries,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
):
    """True FAISS IVFADC: PQ codes quantize the RESIDUAL (x - coarse
    centroid of x), giving finer quantization around each centroid than
    the non-residual variant — the codebook only has to cover a
    bucket-radius ball, not the whole space.

    Scoring decomposes exactly (subspaces are coordinate blocks):
      <q, x^>  = <q, c> + <q, r^>            (qc term + residual LUT)
      |x^|^2   = |c|^2 + 2<c, r^> + |r^|^2
    so per corpus row everything but the M codes is a literal lookup:
    |c|^2 per bucket, and a per-(bucket, subspace, code) table of
    2<c_m, r_mj> + |r_mj|^2 built driver-side from the (config-sized)
    centroids x codebooks. Per pair the cost is still M lookups + adds.

    Plan shape is IDENTICAL to ivfpq_ann_topk (one corpus scan: coarse
    argmax + residual encode, broadcast probed queries, equi-join on
    cid); training adds one pass to materialize residuals. Residual
    training means the codebooks are NOT shared with pq_topk — the trade
    the FAISS design makes for quality.

    Coarse quantizer default: TRAINED one-round k-means (same rationale
    and determinism as ivfpq_ann_topk) — eager at call time; pass
    ``centroids=`` to reuse a cached quantizer.
    """
    if centroids is None:
        centroids = train_kmeans(corpus, id_col, vec_col, k=n_centroids, iterations=1)
    cent_rows = sorted((int(c), list(v)) for c, v in centroids)
    cent_lit, cid_lit = _cent_literals(cent_rows)
    posci = f"cast(array_position({cid_lit}, cid) as int)"
    my_cent = f"element_at({cent_lit}, {posci})"
    rvec = f"zip_with(vec, {my_cent}, (x, y) -> cast(x as double) - y)"

    assigned = _ivf_assign(
        corpus, id_col, vec_col, cent_rows, "neighbor_id", "vec", 1,
        use_numpy=True,
    )
    residuals = assigned.select(
        F.col("neighbor_id").alias("id"), F.expr(rvec).alias("vec")
    )
    # train on NON-centroid rows: a vector that IS a centroid has a zero
    # residual, and with deterministic lowest-id init the first-C-as-
    # centroids default would otherwise seed every code at the origin
    # (one live code after Lloyd, 15 empty) — degenerate codebooks
    cid_set = ", ".join(str(c) for c, _ in cent_rows)
    train_df = residuals.filter(F.expr(f"id NOT IN ({cid_set})"))
    books = pq_train(train_df, "id", "vec", n_subspaces, n_codes)
    ds = len(books[0][0][1])

    # per-(bucket, subspace, code): 2<c_m, r_mj> + |r_mj|^2 ; per bucket:
    # |c|^2 — python folds mirror the engines' left-to-right aggregates
    resq_lit = V.double_array(
        [
            [
                2.0 * _py_dot(cvec[m * ds:(m + 1) * ds], cv) + _py_norm_sq(cv)
                for _, cv in sorted(book)
            ]
            for m, book in enumerate(books)
        ]
        for _, cvec in cent_rows
    )
    cnorm_lit = V.double_array(_py_norm_sq(cvec) for _, cvec in cent_rows)
    xsq = (
        f"element_at({cnorm_lit}, {posci}) + "
        f"aggregate(sequence(0, {n_subspaces - 1}), cast(0 as double), "
        f"(acc, m) -> acc + element_at(element_at(element_at({resq_lit}, {posci}), m + 1), "
        f"element_at(codes, m + 1) + 1))"
    )
    # residual + codes in one Arrow numpy pass (bit-identical to the old
    # __rv zip_with + _pq_assign_exprs interpreted chain — see _pq_codes_col)
    enc = assigned.withColumn(
        "codes", _pq_codes_col("vec", books, cent_rows=cent_rows, cid_col="cid")
    ).select("neighbor_id", "cid", "codes", F.expr(xsq).alias("xsq"))

    lut, qn = _pq_query_exprs(books)  # LUT of <q_m, r_mj> over raw q slices
    qc = V.dot("vec", my_cent, "spark")
    q = _ivf_assign(
        queries, id_col, vec_col, cent_rows, "query_id", "vec", n_probe
    ).select(
        "query_id",
        "cid",
        F.expr(lut).alias("__lut"),
        F.expr(qn).alias("__qn"),
        F.expr(qc).alias("__qc"),
    )
    ip = f"__qc + {_pq_ip_expr(n_subspaces)}"
    scored = (
        F.broadcast(q)
        .join(enc, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(ip) / F.expr("nullif(__qn * sqrt(xsq), 0)"), 6).alias(
                "cosine"
            ),
        )
        # multi-probe dedup + rank window share one query_id exchange
        .repartition("query_id")
        .dropDuplicates()
    )
    return top_k(scored, k)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    threshold: float = 0.3,
    max_block_rows: int | None = 300,
    iterations: int = 1,
    dim: int = 64,
    n_planes: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with the trained k-means coarse quantizer, then
    mark every vector whose cosine to ANY lower-id vector in the same
    cluster reaches ``threshold`` as a duplicate (pairwise-lower-id
    semantics — the paper keeps one representative per epsilon-ball;
    lowest-id is the deterministic stand-in for its random choice).

    Output: (id, cid, keep) for every corpus row; ``keep = false`` rows
    are the semantic duplicates a pipeline would drop.

    Scale shape: clustering IS the blocking — pairs only form within a
    cluster, and clusters above ``max_block_rows`` route through
    block-scoped sign-LSH (embedding_near_dup_pairs), so no cluster ever
    goes all-pairs unbounded. The k x dim centroid matrix rides the
    driver (config-sized); vectors never shuffle for assignment (map-side
    argmax) and pair verification joins vectors by id via shuffle-hash.
    At 100 TB this is exactly the FAISS-style recipe: coarse-quantize
    once, dedup within cells.
    """
    centroids = train_kmeans(corpus, id_col, vec_col, k=k, iterations=iterations)
    if not centroids:
        # Empty corpus: kmeans_assign would render an empty array() literal.
        from pyspark.sql.types import BooleanType, IntegerType

        spark = corpus.sparkSession
        schema = corpus.select(id_col).schema
        schema = schema.add("cid", IntegerType()).add("keep", BooleanType())
        return spark.createDataFrame([], schema=schema)
    # kmeans_assign already carries the vector through its map-side
    # argmax, so (id, vec, cid) comes out of ONE projection — the old
    # corpus.join(asg, id) re-joined the corpus to itself by id, a full
    # extra shuffle for columns the assign never dropped (r15)
    # persisted: the assigned relation feeds the pair generator (which
    # references it for block sizes and both pair sides) AND the final
    # keep join — the executed plan otherwise ran the Arrow assignment
    # twice end-to-end (r16; same discipline as nsw's persisted assign)
    blocked = kmeans_assign(corpus, id_col, vec_col, centroids).select(
        F.col("id").alias(id_col), F.col("vec").alias(vec_col), "cid"
    ).persist()
    pairs = embedding_near_dup_pairs(
        blocked,
        id_col,
        vec_col,
        "cid",
        threshold,
        max_block_rows,
        n_planes=n_planes,
        dim=dim,
    )
    dups = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        blocked.select(id_col, "cid")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cid",
            F.col("__dup").isNull().alias("keep"),
        )
    )


# --- Scalar quantization (SQ8) --------------------------------------------
#
# FAISS's IndexScalarQuantizer(QT_8bit) shape: per-dimension [lo, hi]
# range, each component stored as one uint8 level q = floor((x - lo) /
# (hi - lo) * 255 + 0.5). 4x smaller than float32 (8x vs float64) with
# near-exact recall at moderate dim — the cheap middle ground between
# raw-vector brute force and PQ's aggressive codebooks. Scoring is
# asymmetric (ADC-style): the RAW query against per-dimension
# RECONSTRUCTED corpus levels, so quantization error enters once, not
# twice.
#
# Scale shape: the stats row (2 x dim doubles) is a broadcast single-row
# relation computed with one map-side-partial min/max aggregation;
# encode and reconstruct-and-score run inside the corpus scan's codegen
# stage (no UDF, no shuffle); only (id, score) pairs reach the top-k
# exchange. All arithmetic is fixed-fold-order IEEE double + exact floor
# — bit-reproducible in the DuckDB oracle like the PQ/KMV families.


def sq8_stats(corpus: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Single-row (lo: array<double>, hi: array<double>) per-dimension
    range — partial min/max aggregation map-side, 2*dim doubles total."""
    lo = F.array(
        *[F.min(F.expr(f"cast({vec_col}[{i}] as double)")) for i in range(dim)]
    ).alias("lo")
    hi = F.array(
        *[F.max(F.expr(f"cast({vec_col}[{i}] as double)")) for i in range(dim)]
    ).alias("hi")
    return corpus.agg(lo, hi)


def _sq8_encode_expr(vec_col: str, dim: int, dialect: str) -> str:
    """Array of the dim uint8 levels; a degenerate dimension (hi == lo)
    encodes to 0 and reconstructs to lo exactly."""
    if dialect == "spark":
        return (
            f"transform(sequence(0, {dim - 1}), i -> "
            f"case when hi[i] = lo[i] then 0 else "
            f"cast(floor((cast({vec_col}[i] as double) - lo[i]) "
            f"/ (hi[i] - lo[i]) * 255.0 + 0.5) as int) end)"
        )
    return (
        f"list_transform(range(1, {dim} + 1), i -> "
        f"case when hi[i] = lo[i] then 0 else "
        f"cast(floor((cast({vec_col}[i] as double) - lo[i]) "
        f"/ (hi[i] - lo[i]) * 255.0 + 0.5) as int) end)"
    )


def _sq8_decode_expr(codes_col: str, dim: int, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"transform(sequence(0, {dim - 1}), i -> "
            f"lo[i] + cast({codes_col}[i] as double) * (hi[i] - lo[i]) / 255.0)"
        )
    return (
        f"list_transform(range(1, {dim} + 1), i -> "
        f"lo[i] + cast({codes_col}[i] as double) * (hi[i] - lo[i]) / 255.0)"
    )


def sq8_encode(
    corpus: DataFrame, id_col: str, vec_col: str, stats: DataFrame, dim: int
) -> DataFrame:
    """(id, codes: array<int>) — the stored form. One map-side pass."""
    return (
        corpus.select(id_col, vec_col)
        .crossJoin(F.broadcast(stats))
        .select(id_col, F.expr(_sq8_encode_expr(vec_col, dim, "spark")).alias("codes"))
    )


def sq8_topk(
    codes: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric top-k over SQ8 codes: reconstruct each corpus vector
    from its levels inside the scan, cosine against the raw broadcast
    queries, window top-k. Output (query_id, neighbor_id, cosine, rank)
    — same contract as brute_force_topk so recall self-evals compose."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    recon = (
        codes.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.expr(_sq8_decode_expr("codes", dim, "spark")).alias("c_vec"),
        )
    )
    scored = (
        F.broadcast(q)
        .crossJoin(recon)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(V.cosine("q_vec", "c_vec", "spark")), 6).alias("cosine"),
        )
    )
    return top_k(scored, k)


def sq8_oracle_ctes(table: str, id_col: str, vec_col: str, dim: int) -> str:
    """DuckDB replay: CTE chain ending in ``sq8_recon(neighbor_id,
    c_vec)`` — stats, encode, reconstruct, identical arithmetic."""
    lo = ", ".join(f"min(cast({vec_col}[{i + 1}] as double))" for i in range(dim))
    hi = ", ".join(f"max(cast({vec_col}[{i + 1}] as double))" for i in range(dim))
    return f"""sq8_stats AS (
  SELECT [{lo}] AS lo, [{hi}] AS hi FROM {table}
),
sq8_codes AS (
  SELECT {id_col}, {_sq8_encode_expr(vec_col, dim, 'duck')} AS codes
  FROM {table} CROSS JOIN sq8_stats
),
sq8_recon AS (
  SELECT {id_col} AS neighbor_id, {_sq8_decode_expr('codes', dim, 'duck')} AS c_vec
  FROM sq8_codes CROSS JOIN sq8_stats
)"""


def refine_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact re-ranking of an ANN candidate set (the FAISS
    ``IndexRefineFlat`` shape): any first-stage retriever (IVFPQ, LSH,
    SQ8 — anything emitting (query_id, neighbor_id)) proposes a
    candidate pool of ~k*refine_factor per query; this stage rescores
    ONLY those pairs with exact cosine over the raw vectors and keeps
    the true top-k. Quantization error then costs recall only when a
    true neighbor misses the pool entirely — ordering mistakes inside
    the pool are corrected for free.

    Plan: the candidate set is queries x pool-sized (config-scale), so
    it BROADCASTS into a single corpus scan — the corpus-side vector
    fetch is a map-side hash probe, no exchange carries a raw vector.
    The query vectors broadcast the same way. At 100 TB the cost over
    the first stage is one more corpus scan projecting (id, vec) —
    or zero extra scans when the corpus is cached/bucketed by id.
    Output: (query_id, neighbor_id, cosine, rank), exact scores.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    rer = (
        F.broadcast(candidates.select("query_id", "neighbor_id"))
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _cosine_col().alias("cosine"))
    )
    return top_k(rer, k)


def ivfpq_refine_topk(
    corpus,
    queries,
    id_col: str,
    vec_col: str,
    k: int = 5,
    refine_factor: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    books=None,
    centroids: list[tuple[int, list[float]]] | None = None,
):
    """IVFPQ retrieval + exact refinement (FAISS ``IndexRefineFlat``
    over ``IndexIVFPQ``): stage 1 scans PQ codes in the probed buckets
    and keeps the top k*refine_factor per query by ADC score; stage 2
    re-scores exactly and keeps the true top-k among them. This is the
    standard production recipe for "PQ compression with near-exact
    quality": the code budget buys the scan, the refine pass buys back
    the ordering. Both stages reuse the production operators unchanged.
    """
    cand = ivfpq_ann_topk(
        corpus,
        queries,
        id_col,
        vec_col,
        k=k * refine_factor,
        n_centroids=n_centroids,
        n_probe=n_probe,
        books=books,
        centroids=centroids,
    )
    return refine_exact(cand, corpus, queries, id_col, vec_col, k=k)


def kmeans_cohesion(
    corpus,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Per-cluster quality summary of a trained k-means clustering:
    (cid, n, mean_cos, cohesion) where cohesion = sum(1 - cos(x, c)) —
    the cosine analogue of inertia, in the SAME affinity the assignment
    argmax uses (a Euclidean inertia would score a clustering the
    assigner never optimized). This is the self-eval that tunes k and
    iterations for semantic_dedup / IVF the way ann_recall_* tunes
    n_probe: falling cohesion with rising k shows the quantizer still
    under-fits the corpus's cluster structure.

    Scale: one map-side pass (literal-centroid argmax + cosine, both
    inside codegen) and a k-row aggregate; vectors never shuffle.
    Zero-norm vectors score -2.0 (the assignment's NULL convention) so
    they depress cohesion loudly instead of vanishing.
    """
    cent_rows = sorted((int(c), list(v)) for c, v in centroids)
    cent_lit, cid_lit = _cent_literals(cent_rows)
    posci = f"cast(array_position({cid_lit}, cid) as int)"
    my_cent = f"element_at({cent_lit}, {posci})"
    cosa = (
        f"coalesce(round({V.cosine_null('vec', my_cent, 'spark')}, 6), -2.0)"
    )
    assigned = _ivf_assign(
        corpus, id_col, vec_col, cent_rows, "id", "vec", 1, use_numpy=True
    )
    return (
        assigned.select("cid", F.expr(cosa).alias("__cosa"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__cosa"), 6).alias("mean_cos"),
            F.round(F.sum(1.0 - F.col("__cosa")), 6).alias("cohesion"),
        )
    )


def cluster_balanced_coreset(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k_cells: int = 8,
    m_per_cell: int = 40,
    iterations: int = 1,
) -> DataFrame:
    """Cluster-balanced coreset selection: train the deterministic
    k-means quantizer (bounded driver-side sample, train_kmeans), assign
    the full corpus map-side, and keep the ``m_per_cell`` most central
    vectors PER CELL — the stratified data-selection pattern (SemDeDup /
    DSIR-adjacent "prototypicality" sampling) that preserves cluster
    coverage where a global top-m would collapse onto the densest mode.

    Output: (cell, vec_id, centrality, rank) — centrality is the
    6-rounded cosine to the OWN cell centroid, rank its within-cell
    order (centrality DESC, id ASC — replayable).

    Scale shape: assignment is the shared map-side argmax over literal
    centroids (numpy tier above MAX_CENTROID_LITERALS); the ONLY
    exchange is the per-cell top-m window, hashed on k_cells keys whose
    per-cell sort Spark lowers to TakeOrdered-style bounded heaps under
    the rank filter. Output is k_cells x m_per_cell — config-sized.
    """
    cents = train_kmeans(corpus, id_col, vec_col, k=k_cells, iterations=iterations)
    if not cents:
        return corpus.sparkSession.createDataFrame(
            [], "cell int, vec_id bigint, centrality double, rank int"
        )
    assigned = _ivf_assign(
        corpus, id_col, vec_col, cents, "vec_id", "vec", 1, use_numpy=True
    )
    cent_lit = V.double_array(vec for _, vec in sorted(cents))
    own = f"element_at({cent_lit}, cast(cid as int) + 1)"
    aff = (
        f"coalesce(round({V.cosine_null('vec', own, 'spark')}, 6), "
        f"cast(-2.0 as double))"
    )
    w = Window.partitionBy("cell").orderBy(F.desc("centrality"), F.asc("vec_id"))
    return (
        assigned.withColumn("centrality", F.expr(aff))
        .select(
            F.col("cid").cast("int").alias("cell"), "vec_id", "centrality"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= m_per_cell)
        .orderBy("cell", "rank")
    )

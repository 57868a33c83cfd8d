"""Deduplication operators — exact and near-duplicate, designed for 100 TB.

Beyond-reference capability (BASELINE.json north star): a training-data
pipeline needs document dedup as a first-class operator family. All hashing
is the engine-portable arithmetic from functions/text.py.

Scale design:
  - exact: one groupBy on a 64-bit-ish content hash — a single shuffle of
    (hash, id), never of the document bodies.
  - MinHash/LSH: signatures are computed map-side (O(K x shingles) per doc,
    all codegen); candidate generation explodes K/bands band-hashes per doc
    and self-joins on the band bucket — the classic shuffle-light LSH plan
    (Broder 1997; Leskovec/Rajaraman/Ullman ch.3). Only candidate PAIRS pay
    the exact-Jaccard verification.
  - SimHash: one explode + groupBy(doc) with map-side partial aggregation.

The pair operators' candidate self-joins, verification joins and
capped-block router are operators/pairs.py; this module supplies the
shingle-hash relation and the candidate generators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT
from dawis_spark.operators.pairs import capped_blocks, self_pairs, verify


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread a narrow input across the workers before CPU-heavy per-row
    work (hashing). A small corpus read from one parquet file arrives as
    ONE partition — repartitioning a few MB is free and unlocks N-way
    hashing.

    An EXPLICIT ``min_parts`` is honored on any master (the caller asked
    for that layout); the automatic guard fires only in local mode (where
    the one-file/one-partition trap lives). On a real cluster a 100 TB
    scan already has thousands of partitions and a blind ``repartition``
    would ADD a full corpus shuffle, so without ``min_parts`` the plan is
    returned untouched there. No ``df.rdd.getNumPartitions()`` probe —
    that materializes the physical plan per call, which is measurable
    overhead on small queries. (Local caveat: the repartition targets
    defaultParallelism even if the input already had more partitions —
    acceptable for local test corpora, which arrive as one parquet file.)"""
    spark = df.sparkSession
    if min_parts is not None:
        return df.repartition(min_parts)
    if not spark.sparkContext.master.startswith("local"):
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def _shingle_hashes_col(text_col: str, shingle_k: int):
    """array<bigint> shingle-hash column — Arrow-batched numpy evaluator of
    the same definition functions/text.shingle_hashes renders for SQL
    (parity asserted in tests; the SQL form remains the oracle).

    Marked non-deterministic (it is in fact pure — this is the guide's
    §4.4 optimizer fence): callers filter on properties of the returned
    array (``size(sh) > 0``), and Catalyst pushes such filters below the
    ``ensure_parallelism`` exchange while keeping the original projection
    above it, evaluating this — the most expensive UDF in the dedup
    family — TWICE per branch (measured: two ArrowEvalPython nodes per
    scan in every shingle-family plan, r15 before-plans). The
    non-deterministic mark pins one evaluation per branch."""
    import pandas as pd
    from pyspark.sql import types as T

    def _batch(texts):
        return pd.Series(TXT.np_shingle_hashes_batch(list(texts), shingle_k))

    udf = F.pandas_udf(_batch, T.ArrayType(T.LongType())).asNondeterministic()
    return udf(text_col)


def shingle_relation(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, sh): each document's distinct word-``shingle_k`` hashes, spread
    across the workers first. A document shorter than ``shingle_k`` words
    has an empty ``sh``; callers that need a non-empty set filter
    ``size(sh) > 0`` themselves."""
    return ensure_parallelism(df).select(
        F.col(id_col), _shingle_hashes_col(text_col, shingle_k).alias("sh")
    )


def exact_duplicate_groups(
    df: DataFrame, id_col: str, value_col: str, max_diff_ids: int | None = None
) -> DataFrame:
    """A2-shaped duplicate detection: rows whose ``value_col`` appears on
    more than one id; ``diff`` = comma-joined OTHER ids of the group
    (reference metatags.py:277-377 formats it exactly so).

    Scale: groupBy on sha2(value) — the shuffle key is a 64-byte digest,
    never the (possibly document-sized) value itself. ``first(v)`` rides
    along, but partial aggregation reduces it to one value per (mapper,
    distinct hash) before the exchange, so value bytes on the wire are
    bounded by distinct-count, not row-count. Exact duplicates share one
    value by definition, so ``first`` is THE group's value. (sha2-256
    collisions merging distinct values: negligible by construction.)

    ``max_diff_ids``: the reference's diff format is QUADRATIC in group
    size (every member lists every other member) — a 10x group-size
    growth costs 100x output bytes (measured: the sf1 rehearsal's
    duplicate_detection emits ~626M id references, 84 s of a 309 s
    suite). Setting a cap lists only the first K sorted other-ids per
    row (deterministic), bounding output linearly in row count; None
    keeps exact reference parity.

    The capped plan is bounded end-to-end, not just at the output: the
    first K sorted other-ids of any member depend only on the group's
    K+1 smallest ids, so a window ``row_number`` (sort-based, spills to
    disk) selects those and ``collect_list`` aggregates at most K+1
    elements per group — a hot value with millions of members never
    materializes its full id list anywhere. The parity path (None)
    keeps the whole-group ``collect_list``, which is inherently
    unbounded because the FORMAT is; that is why parity is the opt-in,
    not the default.
    """
    keyed = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(value_col).alias("v"),
        F.sha2(F.col(value_col).cast("string"), 256).alias("__h"),
    )
    if max_diff_ids is None:
        groups = (
            keyed.groupBy("__h")
            .agg(
                F.sort_array(F.collect_list("id")).alias("ids"),
                F.first("v").alias("v"),
            )
            .filter(F.size("ids") > 1)
        )
        return (
            groups.select(F.explode("ids").alias(id_col), F.col("v").alias(value_col), "ids")
            .select(
                F.col(id_col),
                F.col(value_col),
                F.array_join(F.array_remove("ids", F.col(id_col)), ", ").alias("diff"),
            )
        )
    from pyspark.sql import Window

    w = Window.partitionBy("__h")
    ranked = keyed.select(
        "id",
        "v",
        "__h",
        F.row_number().over(w.orderBy("id")).alias("__rn"),
        F.count(F.lit(1)).over(w).alias("__n"),
    ).filter(F.col("__n") > 1)
    top = (
        ranked.filter(F.col("__rn") <= max_diff_ids + 1)
        .groupBy("__h")
        .agg(F.sort_array(F.collect_list("id")).alias("__top"))
    )
    return ranked.join(top, "__h").select(
        F.col("id").alias(id_col),
        F.col("v").alias(value_col),
        F.array_join(
            F.slice(F.array_remove("__top", F.col("id")), 1, max_diff_ids), ", "
        ).alias("diff"),
    )


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content (hash-groupBy dedup).

    The shuffle carries (content hash, id) only; survivors re-join the full
    rows, so wide document bodies never shuffle twice.
    """
    keyed = df.select(
        F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]), 256).alias(
            "__h"
        ),
        F.col(id_col),
    )
    keep = keyed.groupBy("__h").agg(F.min(id_col).alias(id_col)).drop("__h")
    return df.join(keep, id_col, "left_semi")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_perms: int = 8, shingle_k: int = 3
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures — map-side only."""
    return (
        shingle_relation(df, id_col, text_col, shingle_k)
        .filter(F.size("sh") > 0)
        .select(F.col(id_col), F.expr(TXT.minhash_sig("sh", n_perms, "spark")).alias("sig"))
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.

    Plan shape: explode to (band_idx, band_key, id), self-join per bucket,
    distinct. The join key includes band_idx so buckets of different bands
    never cross. At scale the bucket join is the only shuffle and AQE
    handles skewed buckets (e.g. boilerplate-heavy corpora).

    ``extra_keys``: additional columns of ``sig_df`` appended to the bucket
    join key and carried into the output — used for block-scoped LSH
    (candidates must share the blocking group AND a band bucket).
    """
    band_cols = []
    for b in range(bands):
        parts = [
            f"cast(sig[{b * rows_per_band + r}] as string)" for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr("concat_ws(':', " + ", ".join(parts) + ")").alias("key"),
            )
        )
    keys = list(extra_keys)
    exploded = sig_df.select(
        *keys, F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(*keys, id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return (
        self_pairs(exploded, [*keys, "band", "key"], id_col)
        .select(*keys, "id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perms: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded candidates
    -> exact Jaccard verification >= threshold. Returns (id_a, id_b,
    jaccard) with jaccard rounded to 6 digits."""
    rows_per_band = n_perms // bands
    # ONE shingle-hash relation feeds signatures, candidates and the
    # verification join. It is consumed three times, so persist it:
    # (id, hash array) is ~1-2 orders smaller than the documents and
    # spills to disk if it outgrows memory — far cheaper than re-hashing
    # the corpus per consumer (plan-level exchange reuse does not fire
    # across these differently-projected consumers).
    hashes = shingle_relation(df, id_col, text_col, shingle_k).persist()
    sigs = hashes.filter(F.size("sh") > 0).select(
        F.col(id_col), F.expr(TXT.minhash_sig("sh", n_perms, "spark")).alias("sig")
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    jac = TXT.jaccard("sh_a", "sh_b", "spark")
    return (
        verify(cands, hashes, id_col, ["sh"])
        .select("id_a", "id_b", F.round(F.expr(jac), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash) — per-token polynomial hashes, bit-majority vote.

    Explode + groupBy(id) keeps the aggregation partial/map-side; the
    per-bit sums are plain SUM(CASE ...) so the whole thing is codegen.
    """
    toks = TXT.tokens(text_col, "spark")
    h = TXT.char_hash("tok", "spark")
    df = ensure_parallelism(df)
    tok_hashes = df.select(
        F.col(id_col), F.explode(F.expr(toks)).alias("tok")
    ).select(F.col(id_col), F.expr(h).alias("h"))
    bit_sums = tok_hashes.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1)") == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    combine = " + ".join(
        f"(case when b{b} > 0 then cast({1 << b} as bigint) else 0 end)"
        for b in range(bits)
    )
    return bit_sums.select(F.col(id_col), F.expr(combine).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    shingle_k: int = 3,
    max_block_rows: int | None = None,
    n_perms: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs WITHIN a blocking group.

    Blocking (``group_col``) bounds the quadratic blow-up: at 100 TB you
    never all-pairs the corpus — you block (by source, language, length
    bucket, or an LSH band) and pair within blocks.

    ``max_block_rows`` is the per-block pair budget: one hot block (a
    boilerplate-heavy domain) would still degenerate to O(n²) pairs, so
    blocks larger than the cap are routed through block-scoped MinHash LSH
    (candidates must share the block AND a band bucket) instead of
    all-pairs. With a cap set, the output gains a ``pair_method`` column
    ('exact' | 'lsh') flagging which pairs came from the approximate path
    (recall < 1 there). Default None = exact everywhere, no extra column.

    Empty-shingle docs (text shorter than ``shingle_k``) are excluded on
    BOTH routes — they have no n-grams, so no defined Jaccard; filtering
    them up front keeps the exact and LSH routes consistent instead of
    flipping behavior at the ``max_block_rows`` boundary.
    """
    # Persisted: consumed by both verify sides (and the hot-block signature
    # relation when a cap is set) — (id, hash array) is 1-2 orders smaller
    # than the documents and far cheaper to cache than to re-hash per
    # consumer.
    hashes = (
        shingle_relation(df, id_col, text_col, shingle_k)
        .filter(F.size("sh") > 0)
        .persist()
    )
    rows_per_band = n_perms // bands

    def hot_pairs(big: DataFrame) -> DataFrame:
        # Persisted (r15): both sides of the banded bucket self-join read
        # this relation, and the two join legs do NOT end in canonically-
        # identical exchanges (measured: zero ReusedExchange in the plan) —
        # without the persist the n_perms-element MinHash fold ran once per
        # side. Hot-block rows only, (g, id, sig[n_perms]) — the signature-
        # relation budget the family already pays. The same persist inside
        # lsh_candidate_pairs itself measured NEUTRAL for the minhash/oph
        # callers (their fold is cheaper relative to the cache-read cost of
        # the 4x-wider exploded band relation), so the fix stays local.
        sig = F.expr(TXT.minhash_sig("sh", n_perms, "spark")).alias("sig")
        big_sigs = (
            big.join(hashes, id_col)  # hashes is already empty-shingle-filtered
            .select("g", F.col(id_col), sig)
            .persist()
        )
        return lsh_candidate_pairs(big_sigs, id_col, bands, rows_per_band, extra_keys=("g",))

    # Pair generation may still propose pairs with an empty-shingle member;
    # the verify inner join against the FILTERED hash relation drops them —
    # identically on the exact and LSH routes.
    ids = df.select(F.col(group_col).alias("g"), F.col(id_col))
    pairs = capped_blocks(ids, id_col, max_block_rows, hot_pairs)
    jac = TXT.jaccard("sh_a", "sh_b", "spark")
    return verify(pairs, hashes, id_col, ["sh"]).select(
        F.col("g").alias(group_col),
        "id_a",
        "id_b",
        F.round(F.expr(jac), 6).alias("jaccard"),
        *pairs.columns[3:],  # pair_method, when capped
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, cluster_id) for every node in ``pairs`` — cluster_id is the
    minimum id reachable through the pair graph. The capstone of the
    near-dup pipeline: LSH/Jaccard emit PAIRS, but keep-one-per-cluster
    dedup needs the transitive closure (A~B, B~C => one cluster).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; converges
    in O(graph diameter) rounds. Duplicate clusters are near-cliques
    (diameter 2-3), so 3-4 rounds settle real corpora; ``max_iterations``
    bounds adversarial chains. The O(log n) large-star/small-star variant
    (Kiveris et al. 2014) drops in here if million-node chains appear.

    Scale: each round is one shuffle join (edges x labels) + one groupBy
    on node id — both partition by the same key, so AQE reuses the
    layout. Labels persist per round and the previous round unpersists;
    every few rounds the lineage is truncated (localCheckpoint) so plan
    depth stays bounded. Convergence check is a driver-side count of
    changed labels (an aggregate, not a collect of the data).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    backing = labels  # the persisted DF the current `labels` reads from
    try:
        for i in range(max_iterations):
            nbr_min = (
                edges.join(labels, edges["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = (
                labels.join(nbr_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                    (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                        "__changed"
                    ),
                )
            )
            if (i + 1) % 5 == 0:
                new_labels = new_labels.localCheckpoint(eager=False)
            new_labels = new_labels.persist()
            # the convergence probe materializes EVERY partition of
            # new_labels' cache (a limit(1) probe would stop early and
            # leave holes); only then is the previous round's backing
            # store safe to drop — unpersisting it earlier forces a full
            # lineage recompute every round, quadratic work
            changed = new_labels.filter("__changed").count()
            backing.unpersist()
            backing = new_labels
            labels = new_labels.drop("__changed")
            if changed == 0:
                break
        # Eager checkpoint of the converged labels: truncates the
        # O(rounds)-deep join lineage so every downstream action reads the
        # materialized blocks instead of re-running the iteration, and
        # lets this function release its own persists instead of leaking
        # them to the caller. One extra pass over a (node, label) relation
        # — cheap next to even a single propagation round.
        result = labels.select(
            F.col("id"), F.col("label").alias("cluster_id")
        ).localCheckpoint(eager=True)
        backing.unpersist()
        return result
    finally:
        edges.unpersist()


def keep_one_per_cluster(
    corpus: DataFrame,
    clusters: DataFrame,
    id_col: str,
) -> DataFrame:
    """Materialize the dedup decision: keep exactly one document per
    duplicate cluster (the one whose id IS the cluster_id — connected
    components labels each cluster with its minimum member id, so the
    canonical keeper needs no extra ranking pass) plus every document
    that belongs to no cluster.

    ``clusters`` is connected_components output: (id, cluster_id).

    Scale: one left join corpus x clusters on id — the cluster relation
    is only the CLUSTERED docs (orders smaller than the corpus for any
    real dup rate), so AQE broadcast-downgrades it when small and the
    corpus never reshuffles otherwise beyond the id hash join. The
    survivor predicate is a map-side filter.
    """
    cl = clusters.select(
        F.col("id").alias(id_col), F.col("cluster_id")
    )
    joined = corpus.select(id_col).join(cl, id_col, "left")
    return joined.filter(
        F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id"))
    ).select(
        F.col(id_col),
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    t_num: int = 2,
    t_den: int = 10,
) -> DataFrame:
    """EXACT similarity join via prefix filtering (the AllPairs/SSJoin
    family — Chaudhuri et al. 2006, Bayardo et al. 2007): every pair
    with n-gram Jaccard ≥ t_num/t_den is found, with NO all-pairs and
    NO LSH recall loss.

    The filter: order each document's shingle set by ascending document
    frequency (rarest first) and keep only the first
    |x| - ceil(t·|x|) + 1 tokens; any pair with |x∩y| ≥ ceil(t·|x|)
    must share a prefix token, so the inverted-index self-join over
    PREFIX tokens proposes a candidate superset — rare-first ordering
    makes that superset small, because frequent tokens (the quadratic
    offenders of a plain token self-join) are pushed out of prefixes.

    Ordering trick: the global rarest-first rank needs no global sort —
    the composite key ``df * MOD + h`` IS the (df, h) lexicographic
    order as one int64 (df < 2^29 corpora; h < MOD), so per-document
    ``array_sort`` delivers the canonical order map-side.

    Scale shape: one df-count aggregation (vocab-sized), one shuffle
    join tokens⋈df (vocab keys), candidate generation shuffles only
    PREFIX postings, and verification joins hash arrays by pair id
    (operators/pairs.verify). Completeness is exact; tested by
    equivalence against the all-pairs verify.

    Output: (id_a, id_b, jaccard) with jaccard ≥ t, ids ordered.
    """
    hashes = (
        shingle_relation(df, id_col, text_col, shingle_k)
        .filter(F.size("sh") > 0)
        .persist()
    )
    tok = hashes.select(id_col, F.explode("sh").alias("h"))
    dft = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df_t"))
    keyed = tok.join(dft, "h").select(
        id_col, (F.col("df_t") * TXT.MOD + F.col("h")).alias("key")
    )
    plen = (
        f"size(ks) - cast(({t_num} * size(ks) + {t_den} - 1) div {t_den} "
        f"as int) + 1"
    )
    # persisted: both sides of the candidate self-join read this relation;
    # without it the df-count aggregate + df join + per-doc collect_list
    # sort run twice end-to-end (the prefix postings are a strict subset
    # of the token postings, so this is smaller state than the already-
    # persisted hash relation)
    prefixes = (
        keyed.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("key")).alias("ks"))
        .select(
            id_col,
            F.size("ks").alias("sz"),
            F.posexplode(F.expr(f"slice(ks, 1, {plen})")).alias("p", "key"),
        )
        .persist()
    )
    # length filter (AllPairs): J >= t implies min|.|/max|.| >= t, so a
    # size-mismatched candidate can be dropped BEFORE the distinct and
    # the array hydration — integer-exact, no recall loss
    # positional filter (PPJoin, Xiao et al. 2008): a shared prefix token
    # at 0-based positions (p_a, p_b) of the df-sorted arrays bounds the
    # overlap by min(sz_a - p_a, sz_b - p_b) — every common token sits at
    # or after the FIRST shared position, and if the true overlap meets
    # the J >= t requirement inter >= ceil(t_num*(sz_a+sz_b)/(t_num+t_den))
    # then the pair's first-shared-token row passes the bound, so the
    # distinct keeps every qualifying pair (exact, no recall loss;
    # measured: 596k -> 325k candidate pairs at sf0.1, true pairs
    # unchanged at 256)
    alpha = F.expr(
        f"cast(({t_num} * (sz_a + sz_b) + {t_num} + {t_den} - 1) "
        f"div ({t_num} + {t_den}) as int)"
    )
    cand = (
        prefixes.select(
            F.col(id_col).alias("id_a"),
            F.col("sz").alias("sz_a"),
            F.col("p").alias("p_a"),
            "key",
        )
        .join(
            prefixes.select(
                F.col(id_col).alias("id_b"),
                F.col("sz").alias("sz_b"),
                F.col("p").alias("p_b"),
                "key",
            ),
            "key",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.lit(t_num) * F.greatest("sz_a", "sz_b")
            <= F.lit(t_den) * F.least("sz_a", "sz_b")
        )
        .filter(
            F.least(
                F.col("sz_a") - F.col("p_a"), F.col("sz_b") - F.col("p_b")
            )
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    jac = TXT.jaccard("sh_a", "sh_b", "spark")
    return (
        verify(cand, hashes, id_col, ["sh"])
        .select("id_a", "id_b", F.round(F.expr(jac), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= t_num / t_den)
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window_k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): find
    every maximal token span whose ``window_k``-token windows ALL occur
    at least ``min_occurrences`` times across the corpus (within-doc
    repeats count — the paper's suffix-array semantics flags any
    repeated substring, not only cross-document ones). The paper builds
    a suffix array; the distributed re-expression is rolling window
    hashes + a frequency join — the standard trade (suffix arrays don't
    shard; window hashes shuffle 8 bytes per token).

    Stages: (1) map-side positioned rolling hashes, one (doc, pos, wh)
    row per window — bodies never leave the scan; (2) frequency count
    per wh + semi join back (both shuffle only 8-byte hashes);
    (3) per-doc gaps-and-islands merge of consecutive duplicated
    positions into maximal spans (window per doc, state bounded by doc
    length). Hash collisions (~n_windows²/2M) can bridge two spans or
    flag a singleton; exact span verification would re-read the two
    bodies — the standard post-filter, omitted as the FP rate at corpus
    scale stays below shingle-MinHash's by construction.

    Output: (id, span_start, span_end, n_windows) with token offsets,
    0-based, ``span_end`` exclusive: span length = span_end -
    span_start = n_windows + window_k - 1.
    """
    from pyspark.sql import Window

    th = TXT.token_hash_array(text_col, "spark")
    wh = TXT.window_hash_structs("__th", window_k, "spark")
    # persisted: the positioned window-hash relation feeds the frequency
    # count AND the duplicate semi-join — tokenize + rolling hashes ran
    # twice per pass without it ((id, pos, wh) rows only, never text)
    windows = (
        docs.select(F.col(id_col), F.expr(th).alias("__th"))
        .select(id_col, F.explode(F.expr(wh)).alias("w"))
        .select(id_col, F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
        .persist()
    )
    freq = windows.groupBy("wh").agg(F.count(F.lit(1)).alias("__n"))
    dup = windows.join(
        freq.filter(F.col("__n") >= min_occurrences).select("wh"),
        "wh",
        "left_semi",
    )
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    islands = dup.withColumn("__grp", F.col("pos") - rn)
    return (
        islands.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window_k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__grp")
    )


def mask_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Remove flagged duplicated spans from the token stream — the
    REMOVAL half of Lee et al. 2021 (duplicated_spans finds repeated
    substrings; training pipelines then cut them out rather than drop
    whole documents). ``spans``: (id, span_start, span_end) token
    offsets from ``duplicated_spans``.

    Output: (id, n_before, n_after, clean_text) where clean_text is the
    document's canonical token stream (lowercased, single-spaced — the
    same normalization the span offsets were computed on) minus every
    token covered by a span. Documents with no spans pass through with
    n_before = n_after.

    Scale: spans are collect_list'd per doc (span counts are small by
    construction — maximal merged runs), the join keys on the doc id,
    and masking is one map-side expression over the doc's own token
    array; no token crosses an exchange.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = TXT.tokens(text_col, "spark")
    keep = (
        "case when size(__t) = 0 then array() else "
        "filter(sequence(0, size(__t) - 1), i -> __spans is null or "
        "not exists(__spans, s -> i >= s.span_start and i < s.span_end)) end"
    )
    return (
        docs.join(sp, id_col, "left")
        .select(id_col, F.expr(toks).alias("__t"), "__spans")
        .withColumn("__keep", F.expr(keep))
        .select(
            id_col,
            F.size("__t").cast("bigint").alias("n_before"),
            F.size("__keep").cast("bigint").alias("n_after"),
            F.expr(
                "array_join(transform(__keep, i -> __t[i]), ' ')"
            ).alias("clean_text"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    df_cap: int = 20,
    min_inter: int = 5,
    min_containment: float = 0.8,
    top: int = 100,
) -> DataFrame:
    """ASYMMETRIC near-duplication: containment C(A->B) = |S_A n S_B| /
    |S_A| over the shingle space — catches a doc EMBEDDED in a larger one
    (quote farms, wrapper boilerplate), which symmetric Jaccard misses
    because the union washes the small side out (Broder's containment
    sketch problem, here exact over postings).

    The quadratic guard is DOCUMENT-FREQUENCY capping, not blocking:
    shingles appearing in more than ``df_cap`` docs are dropped before
    the postings self-join (a boilerplate shingle shared by thousands of
    docs carries no containment specificity but df^2 join fanout — the
    standard stop-shingle filter). Both the intersection counts AND the
    denominators |S_A| are computed over the SAME capped space, so the
    metric is self-consistent and the oracle replays it exactly.

    Scale shape: postings (hash-only) shuffle once on the shingle key
    with per-key fanout <= df_cap^2; the (a, b) intersection aggregate
    and the size join are pair-/doc-keyed. Output is thresholded and
    deterministically top-limited. No text crosses an exchange after
    the map-side hash fold.
    """
    # ONE evaluation of the shingle UDF: the posting relation feeds the
    # df-count pass and the capped-postings join — without the persist
    # each consumer re-runs the Python hashing end-to-end (measured: 24
    # ArrowEvalPython nodes in the r15 before-plan; 2 after). (id, h)
    # rows only — the same hash-not-text footprint the docstring
    # promises for exchanges. (explode of an empty/null array yields no
    # rows, so the oracle's len(sh) > 0 gate is implicit.)
    sh = (
        shingle_relation(df, id_col, text_col, shingle_k)
        .select(F.col(id_col), F.explode("sh").alias("h"))
        .persist()
    )
    rare = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= df_cap)
        .select("h")
    )
    # The df-cap stays a groupBy+join (not a window count) deliberately:
    # a hot boilerplate shingle must go through partial aggregation —
    # reduced to one row per mapper before the exchange — and hot keys
    # never reach the join output at all, so no downstream task ever
    # materializes a hot shingle's postings.
    #
    # r16 restructure (guide §2.4, §3): the capped postings fold into ONE
    # per-shingle group relation instead of feeding a postings self-join.
    # collect_list here is bounded by construction — only shingles with
    # total occurrence count <= df_cap survive `rare`, so every group
    # holds <= df_cap ids. Pairs are then generated map-side from each
    # group (fanout <= df_cap^2, same bound as the old join) and the
    # denominators |S_A| fall out of the same relation — this removes the
    # self-join's two shuffles of the postings, the separate fsz pass and
    # one persist (r15 driver bench: 7.67 s at 32 cores, scaling 0.11;
    # the self-join over the cached postings was the dominant piece).
    # Multiplicities are preserved exactly: collect_list keeps duplicate
    # ids, pair expansion counts mult_a x mult_b per shingle and the
    # size explode counts total occurrences — the oracle's COUNT(*)
    # semantics digit-for-digit.
    # ensure_parallelism before the persist: the group relation is tiny
    # in BYTES (ids only) but the pair expansion below fans out x df_cap^2
    # in CPU — AQE's advisory sizing sees the pre-explode bytes and
    # coalesces the cached relation to one partition, serializing the
    # expansion (measured: 3.2 s single-task warm pass vs 1.4 s parallel
    # at 32 cores). Local-mode-only repartition; on a cluster the
    # relation keeps its shuffle width and the expansion is already
    # parallel.
    grp = (
        ensure_parallelism(
            sh.join(rare, "h")
            .groupBy("h")
            .agg(F.collect_list(id_col).alias("ids"))
        )
        .persist()
    )
    fsz = (
        grp.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, x -> "
                "transform(filter(ids, y -> y != x), y -> struct(x, y))))"
            )
        ).alias("pr")
    ).select(F.col("pr.x").alias("id_a"), F.col("pr.y").alias("id_b"))
    inter = (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
        .filter(F.col("inter") >= min_inter)
    )
    return (
        inter.join(fsz.withColumnRenamed(id_col, "id_a"), "id_a")
        .select(
            "id_a",
            "id_b",
            "inter",
            F.round(F.col("inter") / F.col("sz"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
        .orderBy(F.desc("containment"), "id_a", "id_b")
        .limit(top)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_dist: int = 2,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Blocked fuzzy matching by exact Levenshtein distance — the
    entity-resolution primitive for SHORT strings (product names, URLs,
    author fields) where shingle/MinHash machinery has nothing to grip.

    Matching runs over the DISTINCT-STRING CATALOG per block, not over
    rows: a row-level self-join squares the ROW count (the sf1 rehearsal
    measured an 18e9-pair enumeration on tiled parts before this
    rewrite), while distinct names are vocabulary-sized — the catalog
    barely grows when the data tiles 10x. Output is
    (block, text_a, text_b, dist, n_a, n_b) with occurrence counts;
    id-level pairs, when a caller wants them, are a map-back equi-join
    on the matched strings (output-bound by construction, the same
    adjudication as prefix_filter_similar).

    Inside a block the LENGTH FILTER ``abs(len_a - len_b) <= max_dist``
    (an edit-distance lower bound) prunes inside the join condition, and
    the distance is the engines' native integer levenshtein —
    deterministic, no floats anywhere. ``max_block_rows``: blocks whose
    DISTINCT-name catalog still exceeds the cap are dropped (documented,
    oracle-replayable) — the escalation path beyond that is SymSpell
    deletion-neighborhood blocking, not a bigger cap.

    Scale shape: one exchange to build the (block, name) catalog with
    counts (map-side combine), one exchange on the block key for the
    catalog self-join; pair fanout <= (distinct names)^2 per block.
    """
    names = (
        df.select(
            F.col(block_col).alias("g"),
            F.col(text_col).alias("t"),
        )
        .groupBy("g", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("ln", F.length("t"))
    )
    if max_block_rows is not None:
        sizes = names.groupBy("g").agg(F.count(F.lit(1)).alias("__bn"))
        names = (
            names.join(sizes, "g").filter(F.col("__bn") <= max_block_rows).drop("__bn")
        )
    a2 = names.select(
        F.col("g"),
        F.col("t").alias("t_a"),
        F.col("n").alias("n_a"),
        F.col("ln").alias("ln_a"),
    )
    b2 = names.select(
        F.col("g"),
        F.col("t").alias("t_b"),
        F.col("n").alias("n_b"),
        F.col("ln").alias("ln_b"),
    )
    return (
        a2.join(
            b2,
            (a2["g"] == b2["g"])
            & (a2["t_a"] < b2["t_b"])
            & (F.abs(a2["ln_a"] - b2["ln_b"]) <= max_dist),
        )
        .withColumn("dist", F.levenshtein("t_a", "t_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            a2["g"].alias(block_col),
            F.col("t_a").alias("text_a"),
            F.col("t_b").alias("text_b"),
            F.col("dist").cast("int").alias("dist"),
            "n_a",
            "n_b",
        )
        .orderBy(block_col, "text_a", "text_b")
    )


def symspell_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy matching via SYMMETRIC-DELETE (SymSpell) candidate
    generation — the scale path edit_distance_pairs' docstring points
    at, with the SAME output contract (block, text_a, text_b, dist,
    n_a, n_b on the distinct-name catalog).

    Instead of an all-pairs catalog self-join (quadratic in distinct
    names per block), each name emits its <= max_dist deletion
    neighborhood (functions/text.deletion_variants — recall-COMPLETE
    for levenshtein <= max_dist) and candidates are an EQUI-join on the
    (block, variant-hash) key; only candidates pay the exact
    levenshtein verification. Variant hashing keeps the exchange
    skinny (int64, not strings); hash collisions can only ADD
    candidates, never lose one, and verification removes them.

    Scale shape: postings = names x neighborhood-size (1 + L + C(L,2)),
    map-side codegen; ONE exchange on (block, variant-hash) whose
    per-key fanout is the number of names sharing a variant — the
    blocking key edit distance actually induces, instead of a size cap
    hoping names stay few. The equality with the exhaustive result is
    pinned by using the all-pairs SQL as this operator's oracle.
    """
    names = (
        df.select(F.col(block_col).alias("g"), F.col(text_col).alias("t"))
        .groupBy("g", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("ln", F.length("t"))
    )
    vh = TXT.char_hash("v", "spark")
    post = names.select(
        "g",
        "t",
        "n",
        "ln",
        F.explode(F.expr(TXT.deletion_variants("t", max_dist, "spark"))).alias("v"),
    ).select("g", "t", "n", "ln", F.expr(vh).alias("vh"))
    a2 = post.select(
        F.col("g"),
        F.col("vh"),
        F.col("t").alias("t_a"),
        F.col("n").alias("n_a"),
        F.col("ln").alias("ln_a"),
    )
    b2 = post.select(
        F.col("g"),
        F.col("vh"),
        F.col("t").alias("t_b"),
        F.col("n").alias("n_b"),
        F.col("ln").alias("ln_b"),
    )
    cands = (
        a2.join(
            b2.hint("shuffle_hash"),
            (a2["g"] == b2["g"])
            & (a2["vh"] == b2["vh"])
            & (a2["t_a"] < b2["t_b"])
            & (F.abs(a2["ln_a"] - b2["ln_b"]) <= max_dist),
        )
        .select(
            a2["g"].alias("g"), "t_a", "t_b", "n_a", "n_b"
        )
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("t_a", "t_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("g").alias(block_col),
            F.col("t_a").alias("text_a"),
            F.col("t_b").alias("text_b"),
            F.col("dist").cast("int").alias("dist"),
            "n_a",
            "n_b",
        )
        .orderBy(block_col, "text_a", "text_b")
    )

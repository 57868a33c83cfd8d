"""Query inventory, part 4/6 (definition order preserved from the pre-split queries.py; see _registry.REGISTRY_ORDER).

Line dedup, sketches (KMV/CM/HLL), tokenizers (BPE/WordPiece), classical stats (ANOVA/OLS/NB), forecasting (Holt/theta/Croston).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawis_spark.functions.folds import left_sum, ordered_sum
from dawis_spark.queries._fragments import (
    DAILY_REV_ORDERS_CTE,
    DAILY_TYPE_CENTS_SQL,
    daily_rev_orders,
    daily_type_cents,
)
from dawis_spark.queries._registry import query
from dawis_spark.queries.q01_spine_dedup_ann import (
    _LINED,
    _TXT,
    _VEC,
    _doc_near_dups,
    _lsh_pairs_oracle,
)
from dawis_spark.queries.q02_corpus_quality_classifiers import (
    _bpe_chain_ctes,
    _with_whale_audit,
)

_LINE_DEDUP_K = 5  # a line repeated across >= K documents is boilerplate


def _line_dedup_oracle() -> str:
    h = _TXT.char_hash("line", "duck")
    return f"""
WITH lined AS (
  SELECT doc_id, source, trim(l) AS line
  FROM (SELECT doc_id, source, unnest(string_split({_LINED}, chr(10))) AS l
        FROM documents)
  WHERE trim(l) != ''),
lh AS (SELECT doc_id, source, {h} AS h FROM lined),
freq AS (SELECT h, COUNT(*) AS freq FROM lh GROUP BY h)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS lines_total,
       CAST(COUNT(DISTINCT lh.h) AS BIGINT) AS distinct_lines,
       CAST(SUM(CASE WHEN freq >= {_LINE_DEDUP_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS boiler_instances,
       CAST(COUNT(DISTINCT CASE WHEN freq >= {_LINE_DEDUP_K} THEN doc_id END)
         AS BIGINT) AS docs_affected,
       ROUND(CAST(SUM(CASE WHEN freq >= {_LINE_DEDUP_K} THEN 1 ELSE 0 END)
         AS DOUBLE) / COUNT(*), 6) AS removed_frac
FROM lh JOIN freq USING (h)
GROUP BY source ORDER BY source
"""


@query("line_dedup_boilerplate", oracle=_line_dedup_oracle())
def line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level corpus deduplication (Wenzek et al. 2020
    §3.1: hash every line, drop lines repeated across the corpus —
    the boilerplate killer for nav bars / cookie banners / footers that
    document-level dedup never sees). Lines derive from the shared
    _LINED break rules; a line repeated in >= 5 documents is
    boilerplate; per-source report of instances removed, documents
    touched, and removed share.

    Scale: the line explode is map-side; lines hash to int64 inside the
    scan so the ONLY data-sized exchanges carry (hash) and (hash, count)
    — never line text (the containment-family discipline). The
    frequency join keys on the hash; the rollup is source-keyed with
    map-side partials. At 100 TB the freq relation is
    distinct-line-bounded and the hot boilerplate hashes are exactly the
    keys AQE's skew split handles."""
    h = _TXT.char_hash("line", "spark")
    lines_expr = (
        f"filter(transform(split({_LINED}, '\\n'), l -> trim(l)), l -> l != '')"
    )
    lined = spark.table("documents").select(
        "doc_id", "source", F.explode(F.expr(lines_expr)).alias("line")
    )
    # persisted: the hashed-line relation feeds BOTH the frequency count
    # and the report join — without it the document split + line hashing
    # runs twice per pass. (doc_id, source, h) only: line text never
    # persists, matching the exchange discipline in the docstring.
    lh = lined.select(
        "doc_id", "source", F.expr(h).cast("bigint").alias("h")
    ).persist()
    freq = lh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    boiler = F.when(F.col("freq") >= _LINE_DEDUP_K, 1).otherwise(0)
    return (
        lh.join(freq, "h")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("lines_total"),
            F.countDistinct("h").cast("bigint").alias("distinct_lines"),
            F.sum(boiler).cast("bigint").alias("boiler_instances"),
            F.countDistinct(
                F.when(F.col("freq") >= _LINE_DEDUP_K, F.col("doc_id"))
            )
            .cast("bigint")
            .alias("docs_affected"),
            F.round(F.sum(boiler) / F.count(F.lit(1)), 6).alias("removed_frac"),
        )
        .orderBy("source")
    )


_KMV_SET_K = 128
_KMV_SET_A, _KMV_SET_B = "view", "purchase"


def _kmv_set_oracle() -> str:
    from dawis_spark.operators.sketches import MOD as _SK_MOD
    from dawis_spark.operators.sketches import kmv_arrays_oracle_ctes

    src = (
        "(SELECT event_type, user_id FROM events "
        f"WHERE event_type IN ('{_KMV_SET_A}', '{_KMV_SET_B}'))"
    )
    k = _KMV_SET_K
    return f"""
WITH {kmv_arrays_oracle_ctes(src, ['event_type'], 'user_id', k, 'ks')},
ab AS (SELECT
  (SELECT hs FROM ks WHERE event_type = '{_KMV_SET_A}') AS a,
  (SELECT hs FROM ks WHERE event_type = '{_KMV_SET_B}') AS b),
syn AS (SELECT list_sort(list_distinct(a || b))[1:{k}] AS u, a, b FROM ab),
m AS (SELECT len(u) AS nu, u[len(u)] AS kth,
             len(list_filter(u, x -> list_contains(a, x)
                                 AND list_contains(b, x))) AS ni
      FROM syn),
est AS (SELECT nu, ni,
               CASE WHEN nu >= {k}
                    THEN ROUND(CAST({k - 1} AS DOUBLE) * {_SK_MOD} / kth, 6)
                    ELSE CAST(nu AS DOUBLE) END AS est_union,
               CAST(ni AS DOUBLE) / nu AS rho
        FROM m),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
              CAST(SUM(CASE WHEN ha AND hb THEN 1 ELSE 0 END) AS BIGINT)
                AS exact_inter
       FROM (SELECT user_id,
                    BOOL_OR(event_type = '{_KMV_SET_A}') AS ha,
                    BOOL_OR(event_type = '{_KMV_SET_B}') AS hb
             FROM events
             WHERE event_type IN ('{_KMV_SET_A}', '{_KMV_SET_B}')
             GROUP BY user_id))
SELECT CAST({k} AS BIGINT) AS k,
       est_union, exact_union,
       ROUND((est_union - exact_union) / exact_union, 4) AS err_union,
       ROUND(rho, 6) AS est_jaccard,
       ROUND(CAST(exact_inter AS DOUBLE) / exact_union, 6) AS exact_jaccard,
       ROUND(rho * est_union, 6) AS est_intersection, exact_inter
FROM est, ex
"""


@query("kmv_set_algebra", oracle=_kmv_set_oracle())
def kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA (Beyer et al. 2007 §4): estimate
    |A ∪ B|, |A ∩ B| and Jaccard between two user sets (viewers vs
    purchasers) from their k-minimum-value synopses alone — the
    combined sketch K = k smallest of A ∪ B, ρ = |{h ∈ K : h ∈ A ∧
    h ∈ B}| / |K| estimates Jaccard, ρ · n̂(K) the intersection. The
    audience-overlap primitive that works when the sets live on
    different clusters and only k int64s can cross. Exact counts
    computed alongside as the self-eval.

    Scale: each synopsis builds with the kmv_distinct plan (map-side
    k-truncation via kmv_sets, k-bounded exchange); the algebra itself
    (kmv_set_ops) touches 2k int64s on one row. The exact twin pays a
    user-cardinality exchange — exactly the cost the sketch avoids."""
    from dawis_spark.operators.sketches import kmv_set_ops, kmv_sets

    k = _KMV_SET_K
    ev = (
        spark.table("events")
        .filter(F.col("event_type").isin(_KMV_SET_A, _KMV_SET_B))
        .select("event_type", "user_id")
    )
    sk = kmv_sets(ev, ["event_type"], "user_id", k=k)
    a = sk.filter(F.col("event_type") == _KMV_SET_A).select(F.col("hs").alias("a"))
    b = sk.filter(F.col("event_type") == _KMV_SET_B).select(F.col("hs").alias("b"))
    est = kmv_set_ops(a.crossJoin(b), "a", "b", k)
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == _KMV_SET_A).alias("ha"),
            F.max(F.col("event_type") == _KMV_SET_B).alias("hb"),
        )
    )
    ex = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum((F.col("ha") & F.col("hb")).cast("int"))
        .cast("bigint")
        .alias("exact_inter"),
    )
    return est.crossJoin(ex).select(
        F.lit(k).cast("bigint").alias("k"),
        "est_union",
        "exact_union",
        F.round(
            (F.col("est_union") - F.col("exact_union")) / F.col("exact_union"), 4
        ).alias("err_union"),
        "est_jaccard",
        F.round(
            F.col("exact_inter").cast("double") / F.col("exact_union"), 6
        ).alias("exact_jaccard"),
        "est_intersection",
        "exact_inter",
    )


def _fertility_oracle(n_merges: int) -> str:
    toks = _TXT.tokens("text", "duck")
    init = (
        "concat(' ', array_to_string(list_append("
        "list_transform(range(1, length(word) + 1), "
        "j -> substr(word, j, 1)), '</w>'), '  '), ' ')"
    )
    segs = []
    for t in range(1, n_merges + 1):
        segs.append(f"""
fseg{t} AS MATERIALIZED (
  SELECT id, replace(s, ' ' || b.p1 || '  ' || b.p2 || ' ',
                        ' ' || b.p1 || b.p2 || ' ') AS s
  FROM fseg{t - 1}, b{t} b
)""")
    return f"""
WITH {_bpe_chain_ctes(n_merges)},
fseg0 AS (
  SELECT id, {init} AS s
  FROM (SELECT doc_id AS id, unnest({toks}) AS word FROM documents)
),
{','.join(segs)},
perdoc AS (
  SELECT id, COUNT(*) AS n_words,
         CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT) AS n_subwords
  FROM fseg{n_merges} GROUP BY id),
meta AS (SELECT doc_id AS id, source, strlen(text) AS nbytes
         FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_subwords) AS BIGINT) AS subwords,
       ROUND(CAST(SUM(n_subwords) AS DOUBLE) / SUM(n_words), 6) AS fertility,
       ROUND(CAST(SUM(nbytes) AS DOUBLE) / SUM(n_subwords), 6)
         AS bytes_per_subword
FROM perdoc JOIN meta USING (id)
GROUP BY source ORDER BY source
"""


@query("tokenizer_fertility_eval", oracle=_fertility_oracle(8))
def tokenizer_fertility_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY self-eval per source: subwords-per-word and
    bytes-per-subword under the corpus-trained 8-merge BPE — the
    standard tokenizer-quality report (fertility near 1 = merges cover
    the domain; a high-fertility source costs proportionally more
    sequence length per byte of training data, the number that sizes a
    pretraining budget per data source).

    Scale: training is the vocabulary-sized bpe_learned_merges plan;
    application is the map-side literal-merge-table segmentation of
    bpe_segmented_corpus; the extra work here is one broadcast-joined
    doc-meta projection and a source-keyed rollup."""
    from dawis_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.table("documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, "text", n_merges=8).collect()
    ]
    perdoc = bpe_segment(docs, "doc_id", "text", merges)
    meta = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        F.octet_length("text").alias("nbytes"),
    )
    return (
        perdoc.join(meta, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("words"),
            F.sum("n_subwords").cast("bigint").alias("subwords"),
            F.round(F.sum("n_subwords") / F.sum("n_tokens"), 6).alias(
                "fertility"
            ),
            F.round(F.sum("nbytes") / F.sum("n_subwords"), 6).alias(
                "bytes_per_subword"
            ),
        )
        .orderBy("source")
    )


_NCC_SCALE = 1_000_000  # per-component int scaling for order-free sums
_NCC_DIM = 64
_NCC_TEST_MOD = 5  # vec_id % 5 == 0 -> test split (20%)


def _ncc_oracle() -> str:
    cos = _VEC.cosine("e.embedding", "c.cvec", "duck")
    return f"""
WITH train AS (
  SELECT label, embedding FROM embeddings WHERE vec_id % {_NCC_TEST_MOD} != 0),
comps AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {_NCC_SCALE}, 0)
              AS BIGINT) AS xs
  FROM train),
sums AS (
  SELECT label, dim, CAST(SUM(xs) AS BIGINT) AS s, COUNT(*) AS n
  FROM comps GROUP BY label, dim),
cents AS (
  SELECT label AS clabel,
         list(CAST(s AS DOUBLE) / (n * {_NCC_SCALE}.0) ORDER BY dim) AS cvec
  FROM sums GROUP BY label),
test AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE vec_id % {_NCC_TEST_MOD} = 0),
scored AS (
  SELECT e.vec_id, e.label, c.clabel, ROUND({cos}, 6) AS cos
  FROM test e CROSS JOIN cents c),
pred AS (
  SELECT vec_id, label,
         (array_agg(clabel ORDER BY cos DESC, clabel))[1] AS predicted
  FROM scored GROUP BY vec_id, label)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END)
         AS DOUBLE) / COUNT(*), 6) AS accuracy
FROM pred GROUP BY label ORDER BY label
"""


@query("nearest_centroid_accuracy", oracle=_ncc_oracle())
def nearest_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid (Rocchio) classifier over the embedding
    table with a deterministic 80/20 id-hash split: per-label centroids
    from the train slice, cosine-argmax prediction on the test slice,
    per-label accuracy — the 5-minute baseline every embedding-quality
    audit starts with (if NCC can't separate the labels, the embeddings
    won't carry a downstream classifier either). On THIS synthetic
    corpus the audit's finding is negative: held-out accuracy sits at
    the random baseline (~7-10%) while train-set eval reaches ~43% —
    the labels are memorizable but not linearly generalizable, exactly
    the signal this query exists to surface before anyone trains on it.

    Engine-exactness: centroid sums are ORDER-FREE exact integers
    (components scale by 1e6 and round to bigint before summing — the
    logreg/graph discipline), so the centroid doubles are identical in
    any partitioning and both engines; cosines round to 6 digits before
    the argmax with ties to the lowest label (kmeans_assign discipline).

    Scale: the centroid build explodes to (label, dim) keys — a
    labels x dim bounded exchange of integer partial sums; the centroid
    relation (labels x dim doubles) broadcasts; scoring is a map-side
    cross of each test vector with k centroid rows and a per-vector
    argmax — no vector ever shuffles."""
    cos = _VEC.cosine("embedding", "cvec", "spark")
    emb = spark.table("embeddings")
    train = emb.filter(F.col("vec_id") % _NCC_TEST_MOD != 0)
    comps = train.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * _NCC_SCALE, 0)
        .cast("bigint")
        .alias("xs"),
    )
    sums = comps.groupBy("label", "dim").agg(
        F.sum("xs").cast("bigint").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cents = (
        sums.select(
            F.col("label").alias("clabel"),
            "dim",
            (F.col("s").cast("double") / (F.col("n") * float(_NCC_SCALE))).alias(
                "cv"
            ),
        )
        .groupBy("clabel")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(dim, cv))), e -> e.cv)")
            .alias("cvec")
        )
    )
    test = emb.filter(F.col("vec_id") % _NCC_TEST_MOD == 0).select(
        "vec_id", "label", "embedding"
    )
    scored = test.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "clabel", F.round(F.expr(cos), 6).alias("cos")
    )
    pred = scored.groupBy("vec_id", "label").agg(
        F.expr(
            "element_at(transform(array_sort(collect_list("
            "struct(cos * -1 AS negcos, clabel))), e -> e.clabel), 1)"
        ).alias("predicted")
    )
    hit = F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
    return (
        pred.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.sum(hit) / F.count(F.lit(1)), 6).alias("accuracy"),
        )
        .orderBy("label")
    )


_SHUF_EPOCHS = 2
_SHUF_SHARDS = 8


def _epoch_shuffle_oracle() -> str:
    from dawis_spark.operators.sketches import _int_mix

    h = _int_mix(f"(doc_id * 31 + 1000003 * e)")
    return f"""
WITH expanded AS (
  SELECT doc_id, e.e AS epoch, {h} AS h
  FROM documents, range(0, {_SHUF_EPOCHS}) e(e)),
placed AS (
  SELECT epoch, h % {_SHUF_SHARDS} AS shard, h, doc_id FROM expanded),
pos AS (
  SELECT epoch, shard,
         ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id)
           AS position
  FROM placed)
SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(position) AS BIGINT) AS max_pos,
       (CAST(MAX(position) AS BIGINT) = COUNT(*)) AS dense_ok
FROM pos GROUP BY epoch, shard ORDER BY epoch, shard
"""


@query("epoch_shuffle_order", oracle=_epoch_shuffle_oracle())
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE for training reproducibility: each
    (doc, epoch) gets a uniformized integer hash; shard = h mod 8,
    within-shard order = (h, doc_id) — so every epoch is a different
    but fully reproducible permutation, any shard is readable
    independently, and a crashed run resumes at an exact (epoch, shard,
    position). This is the data-ordering contract pretraining loaders
    (e.g. deterministic samplers over packed shards) rely on; the
    verification rollup asserts positions are dense 1..n per shard.

    Scale: the epoch fanout is a map-side x2 explode; the only exchange
    hash-partitions by (epoch, shard) — exactly the parallelism of the
    output shards — and the per-shard window sorts shard-sized slices
    (corpus/16 rows each). No global sort anywhere."""
    from dawis_spark.operators.sketches import _int_mix
    from pyspark.sql import Window

    h = _int_mix(f"(doc_id * 31 + 1000003 * e)")
    placed = (
        spark.table("documents")
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(_SHUF_EPOCHS - 1))).alias("e"),
        )
        .select(
            F.col("e").cast("int").alias("epoch"),
            "doc_id",
            F.expr(h).alias("h"),
        )
        .withColumn("shard", (F.col("h") % _SHUF_SHARDS).cast("int"))
    )
    w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    pos = placed.withColumn("position", F.row_number().over(w))
    return (
        pos.groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("position").cast("bigint").alias("max_pos"),
            (F.max("position").cast("bigint") == F.count(F.lit(1))).alias(
                "dense_ok"
            ),
        )
        .orderBy("epoch", "shard")
    )


_ZIPF_TOP = 200


def _zipf_oracle() -> str:
    toks = _TXT.tokens("text", "duck")

    def fold(term: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(ps, e -> {term})), (a, v) -> a + v)"
        )

    return f"""
WITH tk AS (SELECT unnest({toks}) AS token FROM documents),
tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY token),
top AS (SELECT token, freq FROM tf ORDER BY freq DESC, token LIMIT {_ZIPF_TOP}),
arr AS (
  SELECT list_transform(
           list_sort(list(struct_pack(nf := -freq, token := token))),
           e -> ln(CAST(-e.nf AS DOUBLE))) AS ys
  FROM top),
pairs AS (
  SELECT len(ys) AS n,
         list_transform(range(1, len(ys) + 1),
           i -> struct_pack(x := ln(CAST(i AS DOUBLE)), y := ys[i])) AS ps
  FROM arr),
sums AS (
  SELECT CAST(n AS DOUBLE) AS n,
         {fold('e.x')} AS sx, {fold('e.y')} AS sy,
         {fold('e.x * e.x')} AS sxx, {fold('e.y * e.y')} AS syy,
         {fold('e.x * e.y')} AS sxy
  FROM pairs)
SELECT CAST(n AS BIGINT) AS n_top,
       ROUND(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6) AS s_hat,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM sums
"""


@query("zipf_exponent_fit", oracle=_zipf_oracle())
def zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus token distribution: least-squares fit
    of ln(freq) on ln(rank) over the top-200 terms — the one-number
    summary of vocabulary health (natural text sits near s = 1;
    markedly lower = templated/synthetic text, higher = degenerate
    repetition). Reports s_hat, the intercept, and the fit's R².

    Engine-exactness: the five regression sums fold SEQUENTIALLY over
    the rank-sorted top-200 array gathered onto one row — the nDCG/BM25
    ordered-fold discipline — and the closed forms render identically,
    so both engines produce the same doubles before rounding.

    Scale: one token-count aggregate (vocabulary-sized exchange), a
    top-200 TakeOrdered, then O(200) arithmetic on a single row."""
    toks = _TXT.tokens("text", "spark")
    tf = (
        spark.table("documents")
        .select(F.explode(F.expr(toks)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), "token").limit(_ZIPF_TOP)
    arr = top.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(cast(-freq as bigint)"
            " as nf, token))), e -> ln(cast(-e.nf as double)))"
        ).alias("ys")
    )
    pairs = arr.select(
        F.expr("size(ys)").alias("n0"),
        F.expr(
            "transform(sequence(1, size(ys)), i -> struct("
            "ln(cast(i as double)) as x, element_at(ys, i) as y))"
        ).alias("ps"),
    )

    def fold(term: str) -> str:
        return (
            f"aggregate(ps, cast(0.0 as double), (a, e) -> a + ({term}))"
        )

    sums = pairs.select(
        F.col("n0").cast("double").alias("n"),
        F.expr(fold("e.x")).alias("sx"),
        F.expr(fold("e.y")).alias("sy"),
        F.expr(fold("e.x * e.x")).alias("sxx"),
        F.expr(fold("e.y * e.y")).alias("syy"),
        F.expr(fold("e.x * e.y")).alias("sxy"),
    )
    b = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    return sums.select(
        F.col("n").cast("bigint").alias("n_top"),
        F.round(F.expr(f"-{b}"), 6).alias("s_hat"),
        F.round(F.expr(f"(sy - {b} * sx) / n"), 6).alias("intercept"),
        F.round(
            F.expr(
                "(n * sxy - sx * sy) * (n * sxy - sx * sy)"
                " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
            6,
        ).alias("r2"),
    )


_BURST_TOP = 25


def _burstiness_oracle() -> str:
    toks = _TXT.tokens("text", "duck")
    return f"""
WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tk AS (SELECT doc_id, unnest({toks}) AS token FROM documents),
percell AS (
  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY token, doc_id),
stats AS (
  SELECT token,
         CAST(COUNT(*) AS BIGINT) AS docs_with,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM percell GROUP BY token)
SELECT token, s AS total_tf, docs_with,
       ROUND(CAST(n_docs * CAST(q AS HUGEINT) - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
             / (n_docs * s), 6)
         AS dispersion,
       (n_docs * CAST(q AS HUGEINT) - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
          > n_docs * CAST(s AS HUGEINT)) AS overdispersed
FROM stats, nd
ORDER BY total_tf DESC, token LIMIT {_BURST_TOP}
"""


@query("token_burstiness_topk", oracle=_burstiness_oracle())
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token BURSTINESS (variance-to-mean dispersion index over per-doc
    counts, zeros included) for the top-25 corpus terms — Church &
    Gale's burstiness: D ~ 1 means Poisson-spread usage, D >> 1 means
    the term clumps into few documents (keyword stuffing / boilerplate
    / topical islands — a spam signal quality filters act on).

    Exactness: D = (N·Σc² − (Σc)²) / (N·Σc) is computed entirely in
    exact integer arithmetic with ONE final division, and the
    overdispersion flag is a pure integer comparison — partition-order
    invariant in both engines.

    Scale: one (token, doc) aggregate (the tf relation every retrieval
    query already builds), a vocabulary-sized stats rollup, TakeOrdered
    top-25. The doc count broadcasts as a 1-row aggregate."""
    toks = _TXT.tokens("text", "spark")
    docs = spark.table("documents")
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    percell = (
        docs.select("doc_id", F.explode(F.expr(toks)).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = percell.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_with"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    # the N·Σc² − (Σc)² difference is computed in decimal(38,0) (HUGEINT
    # in the oracle): a hot token with s > ~3e9 would silently wrap the
    # int64 s·s in Spark while DuckDB errors — the same engine-parity
    # overflow class the bootstrap/contrastive hashes fixed. Exact for
    # s < 1e19 (a 100 TB corpus tops out ~1e12 for the hottest term).
    sd = F.col("s").cast("decimal(38,0)")
    qd = F.col("q").cast("decimal(38,0)")
    diff = F.col("n_docs") * qd - sd * sd
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "token",
            F.col("s").alias("total_tf"),
            "docs_with",
            F.round(
                diff.cast("double") / (F.col("n_docs") * F.col("s")),
                6,
            ).alias("dispersion"),
            (diff > (F.col("n_docs") * sd)).alias("overdispersed"),
        )
        .orderBy(F.desc("total_tf"), "token")
        .limit(_BURST_TOP)
    )


_CMJ_D, _CMJ_W = 4, 512
_CMJ_A, _CMJ_B = "view", "purchase"


def _cm_join_oracle() -> str:
    from dawis_spark.operators.sketches import cm_oracle_ctes

    side_a = f"(SELECT user_id FROM events WHERE event_type = '{_CMJ_A}')"
    side_b = f"(SELECT user_id FROM events WHERE event_type = '{_CMJ_B}')"
    return f"""
WITH {cm_oracle_ctes(side_a, 'user_id', _CMJ_D, _CMJ_W, 'cma')},
{cm_oracle_ctes(side_b, 'user_id', _CMJ_D, _CMJ_W, 'cmb')},
per_row AS (
  SELECT a.row, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS ip
  FROM cma a JOIN cmb b ON a.row = b.row AND a.bucket = b.bucket
  GROUP BY a.row),
est AS (SELECT CAST(MIN(ip) AS BIGINT) AS cm_join_size FROM per_row),
ex AS (
  SELECT CAST(SUM(fa.n * fb.n) AS BIGINT) AS exact_join_size
  FROM (SELECT user_id, COUNT(*) AS n FROM {side_a} GROUP BY user_id) fa
  JOIN (SELECT user_id, COUNT(*) AS n FROM {side_b} GROUP BY user_id) fb
    ON fa.user_id = fb.user_id)
SELECT CAST({_CMJ_D} AS BIGINT) AS d, CAST({_CMJ_W} AS BIGINT) AS w,
       cm_join_size, exact_join_size,
       ROUND(CAST(cm_join_size - exact_join_size AS DOUBLE)
             / exact_join_size, 4) AS rel_overestimate
FROM est, ex
"""


@query("cm_join_size_estimate", oracle=_cm_join_oracle())
def cm_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from Count-Min sketches (the AMS/CM inner
    product, Alon-Matias-Szegedy 1996; Cormode & Muthukrishnan 2005
    §4.2): |R ⋈ S on key| = Σ_v f_R(v)·f_S(v), estimated per sketch row
    as Σ_b R[i][b]·S[i][b] and taken as the MIN over the d rows — never
    an underestimate, within ε·|R|·|S| w.h.p. The cardinality-estimation
    primitive a cost-based optimizer (or an admission controller
    deciding whether a join is runnable at all) consults BEFORE paying
    the join: here viewer-stream ⋈ purchase-stream on user_id. The
    exact twin is the realized self-eval.

    Scale: each sketch build is a d×w-bounded exchange regardless of
    input size; the estimate joins two d×w relations. The exact twin
    pays two user-keyed aggregates + a join — the cost the sketch
    consults without paying."""
    from dawis_spark.operators.sketches import cm_sketch

    ev = spark.table("events")
    a = ev.filter(F.col("event_type") == _CMJ_A).select("user_id")
    b = ev.filter(F.col("event_type") == _CMJ_B).select("user_id")
    # ONE scan per side (r15): the sketch rides the same persisted
    # user-keyed frequency relation the exact twin consumes (a key's
    # d buckets depend only on the key — sum(n) == per-occurrence count),
    # instead of each side paying a second events scan for the build.
    fa = a.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_a")).persist()
    fb = b.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_b")).persist()
    ska = cm_sketch(fa, "user_id", d=_CMJ_D, w=_CMJ_W, weight_col="n_a")
    skb = cm_sketch(fb, "user_id", d=_CMJ_D, w=_CMJ_W, weight_col="n_b")
    per_row = (
        ska.alias("a")
        .join(
            skb.alias("b"),
            (F.col("a.row") == F.col("b.row"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.row"))
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("bigint").alias("ip"))
    )
    est = per_row.agg(F.min("ip").cast("bigint").alias("cm_join_size"))
    ex = (
        fa.join(fb, "user_id")
        .agg(
            F.sum(F.col("n_a") * F.col("n_b"))
            .cast("bigint")
            .alias("exact_join_size")
        )
    )
    return est.crossJoin(ex).select(
        F.lit(_CMJ_D).cast("bigint").alias("d"),
        F.lit(_CMJ_W).cast("bigint").alias("w"),
        "cm_join_size",
        "exact_join_size",
        F.round(
            (F.col("cm_join_size") - F.col("exact_join_size")).cast("double")
            / F.col("exact_join_size"),
            4,
        ).alias("rel_overestimate"),
    )


_AES_K = 100


def _aes_oracle() -> str:
    from dawis_spark.operators.sketches import _int_mix

    toks = _TXT.tokens("text", "duck")
    u = f"(({_int_mix('doc_id * 13 + 7')}) % 1000000 + 1) / 1000001.0"
    return f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len({toks}) AS BIGINT) AS w_tokens,
         {u} AS u
  FROM documents),
keyed AS (
  SELECT doc_id, source, w_tokens,
         ROUND(exp(ln(u) / w_tokens), 6) AS key_r
  FROM base WHERE w_tokens > 0)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY key_r DESC, doc_id) AS BIGINT) AS rk,
       doc_id, source, w_tokens, key_r
FROM keyed ORDER BY key_r DESC, doc_id LIMIT {_AES_K}
"""


@query("weighted_sample_without_replacement", oracle=_aes_oracle())
def weighted_sample_without_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006 A-ES): every document draws key = u^(1/w) from a
    hash-uniform u and its token-count weight; the global top-k by key
    IS a weighted sample without replacement — the one-pass,
    merge-friendly design for 'give me exactly 100 documents, long ones
    proportionally more often' (PPS/Poisson sampling only bounds the
    EXPECTED size; A-ES hits k exactly). Deterministic: u is the
    uniformized id hash (reproducible across runs/engines/partitions),
    keys round to 6 digits before ranking with doc_id tie-breaks.

    Scale: key evaluation rides the scan; the only reduction is a top-k
    (TakeOrdered — per-partition heaps, no global sort). The k-th key
    threshold makes the sample mergeable across shards: union the
    per-shard top-k and re-take k."""
    from dawis_spark.operators.sketches import _int_mix

    toks = _TXT.tokens("text", "spark")
    u = f"(({_int_mix('doc_id * 13 + 7')}) % 1000000 + 1) / 1000001.0"
    keyed = (
        spark.table("documents")
        .select(
            "doc_id",
            "source",
            F.expr(f"cast(size({toks}) as bigint)").alias("w_tokens"),
            F.expr(u).alias("u"),
        )
        .filter(F.col("w_tokens") > 0)
        .select(
            "doc_id",
            "source",
            "w_tokens",
            F.round(F.expr("exp(ln(u) / w_tokens)"), 6).alias("key_r"),
        )
    )
    top = keyed.orderBy(F.desc("key_r"), "doc_id").limit(_AES_K)
    # rank the k-bounded head via a sorted-array posexplode, NOT a
    # partition-less row_number window (the round-10 no-WindowExec-WARN
    # discipline; k = 100 structs on one row)
    arr = top.agg(
        F.expr(
            "array_sort(collect_list(struct(-key_r AS nk, doc_id, source,"
            " w_tokens, key_r)))"
        ).alias("a")
    )
    return (
        arr.select(F.posexplode("a").alias("p", "s"))
        .select(
            (F.col("p") + 1).cast("bigint").alias("rk"),
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.source").alias("source"),
            F.col("s.w_tokens").alias("w_tokens"),
            F.col("s.key_r").alias("key_r"),
        )
        .orderBy("rk")
    )


_MASE_H = 7  # test horizon: the trailing week


_MASE_ORACLE = f"""
WITH daily AS (
  {DAILY_TYPE_CENTS_SQL}),
mx AS (SELECT MAX(day) AS maxd FROM daily),
test AS (
  SELECT t.event_type, CAST(ABS(t.v - p.v) AS BIGINT) AS ae
  FROM daily t JOIN daily p
    ON t.event_type = p.event_type AND p.day = t.day - INTERVAL 7 DAY
  CROSS JOIN mx WHERE t.day > mx.maxd - INTERVAL {_MASE_H} DAY),
train AS (
  SELECT t.event_type, CAST(ABS(t.v - p.v) AS BIGINT) AS ae
  FROM daily t JOIN daily p
    ON t.event_type = p.event_type AND p.day = t.day - INTERVAL 1 DAY
  CROSS JOIN mx WHERE t.day <= mx.maxd - INTERVAL {_MASE_H} DAY),
te AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
              CAST(SUM(ae) AS BIGINT) AS sae_test FROM test GROUP BY 1),
tr AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train,
              CAST(SUM(ae) AS BIGINT) AS sae_train FROM train GROUP BY 1)
SELECT event_type, n_train, n_test,
       ROUND(CAST(sae_test AS DOUBLE) / n_test, 4) AS mae_naive_cents,
       ROUND(CAST(sae_train AS DOUBLE) / n_train, 4) AS mae_insample_cents,
       ROUND((CAST(sae_test AS DOUBLE) / n_test)
             / (CAST(sae_train AS DOUBLE) / n_train), 6) AS mase
FROM te JOIN tr USING (event_type) ORDER BY event_type
"""


@query("seasonal_naive_mase", oracle=_MASE_ORACLE)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (Hyndman & Koehler 2006) of the SEASONAL-NAIVE forecast
    (y_hat(d) = y(d-7)) over the trailing week, scaled by the in-sample
    one-step naive MAE — the scale-free forecast-accuracy yardstick the
    Holt/STL family should be judged against: MASE < 1 beats the naive
    random walk; a seasonal-naive MASE near 1 says the series has no
    exploitable weekly structure beyond level persistence. Absolute
    errors are exact integer cents; date-JOINED lags (day = day - 7),
    not row lags, so calendar gaps can't silently misalign the
    comparison — two final divisions per row.

    Scale: one daily rollup (the exchange every forecast query already
    pays), two self-joins on (type, day) over the calendar-bounded daily
    relation, and a |types|-keyed aggregate."""
    daily = daily_type_cents(spark)
    mx = daily.agg(F.max("day").alias("maxd"))
    d = daily.crossJoin(F.broadcast(mx))
    t7 = d.alias("t").join(
        daily.alias("p"),
        (F.col("t.event_type") == F.col("p.event_type"))
        & (F.col("p.day") == F.expr("t.day - INTERVAL 7 DAY")),
    )
    test = t7.filter(
        F.expr(f"t.day > maxd - INTERVAL {_MASE_H} DAY")
    ).select(
        F.col("t.event_type").alias("event_type"),
        F.abs(F.col("t.v") - F.col("p.v")).cast("bigint").alias("ae"),
    )
    t1 = d.alias("t").join(
        daily.alias("p"),
        (F.col("t.event_type") == F.col("p.event_type"))
        & (F.col("p.day") == F.expr("t.day - INTERVAL 1 DAY")),
    )
    train = t1.filter(
        F.expr(f"t.day <= maxd - INTERVAL {_MASE_H} DAY")
    ).select(
        F.col("t.event_type").alias("event_type"),
        F.abs(F.col("t.v") - F.col("p.v")).cast("bigint").alias("ae"),
    )
    te = test.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum("ae").cast("bigint").alias("sae_test"),
    )
    tr = train.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.sum("ae").cast("bigint").alias("sae_train"),
    )
    return (
        te.join(tr, "event_type")
        .select(
            "event_type",
            "n_train",
            "n_test",
            F.round(F.col("sae_test").cast("double") / F.col("n_test"), 4).alias(
                "mae_naive_cents"
            ),
            F.round(
                F.col("sae_train").cast("double") / F.col("n_train"), 4
            ).alias("mae_insample_cents"),
            F.round(
                (F.col("sae_test").cast("double") / F.col("n_test"))
                / (F.col("sae_train").cast("double") / F.col("n_train")),
                6,
            ).alias("mase"),
        )
        .orderBy("event_type")
    )


_LDIV_THRESHOLDS = [2, 3, 5]


_LDIV_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer),
classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l
  FROM qi GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n FROM classes)
SELECT t.l AS l_threshold,
       CAST(SUM(CASE WHEN c.l < t.l THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below,
       CAST(SUM(CASE WHEN c.l < t.l THEN c.n_rows ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       ROUND(CAST(SUM(CASE WHEN c.l < t.l THEN c.n_rows ELSE 0 END)
             AS DOUBLE) / MIN(tot.n), 6) AS risk_frac
FROM classes c CROSS JOIN (SELECT unnest([{', '.join(map(str, _LDIV_THRESHOLDS))}]) AS l) t
CROSS JOIN tot
GROUP BY t.l ORDER BY t.l
"""


@query("l_diversity_profile", oracle=_LDIV_ORACLE)
def l_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity risk profile (Machanavajjhala et al. 2007) — the
    k-anonymity companion: a class of identical quasi-identifiers
    (nation, market segment) is safe only if its SENSITIVE attribute
    (balance band) takes at least l distinct values; k-anonymity alone
    passes a class of 1000 rows that all share one salary band, and
    this is the query that catches it. Per l in {2, 3, 5}: classes
    below l and the row fraction exposed to homogeneity attacks.

    Scale: one groupBy over the QI tuple (count + count-distinct of the
    sensitive attribute) is the only row-scale shuffle; the threshold
    fan-out runs over the class-count relation."""
    classes = (
        spark.table("customer")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("bal_band").cast("bigint").alias("l"),
        )
    )
    tot = classes.agg(F.sum("n_rows").cast("bigint").alias("n"))
    fan = classes.crossJoin(F.broadcast(tot)).select(
        "n_rows",
        "l",
        "n",
        F.explode(
            F.array(*[F.lit(t) for t in _LDIV_THRESHOLDS])
        ).alias("l_threshold"),
    )
    below = F.when(F.col("l") < F.col("l_threshold"), 1).otherwise(0)
    rows_below = F.when(
        F.col("l") < F.col("l_threshold"), F.col("n_rows")
    ).otherwise(0)
    return (
        fan.groupBy("l_threshold")
        .agg(
            F.sum(below).cast("bigint").alias("classes_below"),
            F.sum(rows_below).cast("bigint").alias("rows_at_risk"),
            F.round(F.sum(rows_below).cast("double") / F.min("n"), 6).alias(
                "risk_frac"
            ),
        )
        .orderBy("l_threshold")
    )


_FD_ORACLE = """
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang),
per_det AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS n_majority,
         CAST(COUNT(*) AS BIGINT) AS n_values
  FROM cells GROUP BY source)
SELECT source, n_rows, n_values, n_majority,
       CAST(n_rows - n_majority AS BIGINT) AS violations,
       ROUND(CAST(n_majority AS DOUBLE) / n_rows, 6) AS fd_confidence
FROM per_det ORDER BY source
"""


@query("fd_confidence_profile", oracle=_FD_ORACLE)
def fd_confidence_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery (the g3-error of
    Kivinen & Mannila 1995, the measure FD profilers like Metanome's
    TANE report): does source -> lang hold? Per determinant value: the
    majority dependent's share (fd_confidence = 1 means the FD holds
    exactly there; violations counts the rows a repair would touch).
    The data-profiling primitive that turns 'we think every source is
    monolingual' into a measured, alertable number.

    Scale: one (source, lang) cell aggregate — the exchange is bounded
    by the attribute-pair cardinality, never rows — then a
    determinant-keyed rollup of the cell relation."""
    cells = (
        spark.table("documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        cells.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.max("n").cast("bigint").alias("n_majority"),
        )
        .select(
            "source",
            "n_rows",
            "n_values",
            "n_majority",
            (F.col("n_rows") - F.col("n_majority"))
            .cast("bigint")
            .alias("violations"),
            F.round(
                F.col("n_majority").cast("double") / F.col("n_rows"), 6
            ).alias("fd_confidence"),
        )
        .orderBy("source")
    )


_GAP_THRESHOLDS_S = [600, 1800, 3600]


_GAP_CURVE_ORACLE = f"""
WITH ordered AS (
  SELECT user_id,
         CAST(date_diff('second', lag(ts) OVER w, ts) AS BIGINT) AS gap_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
t AS (SELECT unnest([{', '.join(map(str, _GAP_THRESHOLDS_S))}]) AS gap_limit_s)
SELECT t.gap_limit_s,
       CAST(u.n_users + SUM(CASE WHEN o.gap_s > t.gap_limit_s THEN 1 ELSE 0 END)
         AS BIGINT) AS n_sessions,
       ROUND(CAST(u.n_users + SUM(CASE WHEN o.gap_s > t.gap_limit_s
             THEN 1 ELSE 0 END) AS DOUBLE) / u.n_users, 4)
         AS sessions_per_user
FROM ordered o CROSS JOIN t CROSS JOIN users u
WHERE o.gap_s IS NOT NULL
GROUP BY t.gap_limit_s, u.n_users ORDER BY t.gap_limit_s
"""


@query("session_gap_curve", oracle=_GAP_CURVE_ORACLE)
def session_gap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session count as a function of the inactivity threshold (10/30/60
    minutes) — the evidence behind choosing a session timeout: sessions
    = users + gaps exceeding the threshold, so ONE user-ordered window
    pass prices every candidate simultaneously (each threshold is a
    map-side CASE over the same gap column; no per-threshold re-window).
    The elbow of this curve is where the 30-minute industry default
    comes from — or doesn't, for this corpus.

    Scale: the single (user) window exchange the journey family already
    pays, then a 3-key rollup; thresholds fan out map-side."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        spark.table("events")
        .select(
            "user_id",
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
            .cast("bigint")
            .alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    users = spark.table("events").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    fan = gaps.crossJoin(F.broadcast(users)).select(
        "gap_s",
        "n_users",
        F.explode(
            F.array(*[F.lit(t) for t in _GAP_THRESHOLDS_S])
        ).alias("gap_limit_s"),
    )
    breaks = F.when(F.col("gap_s") > F.col("gap_limit_s"), 1).otherwise(0)
    return (
        fan.groupBy("gap_limit_s", "n_users")
        .agg(F.sum(breaks).alias("nb"))
        .select(
            "gap_limit_s",
            (F.col("n_users") + F.col("nb")).cast("bigint").alias("n_sessions"),
            F.round(
                (F.col("n_users") + F.col("nb")).cast("double")
                / F.col("n_users"),
                4,
            ).alias("sessions_per_user"),
        )
        .orderBy("gap_limit_s")
    )


def _split_leakage_oracle(threshold: float) -> str:
    pairs = _lsh_pairs_oracle(threshold).strip().rstrip()
    # strip the trailing ORDER BY so the pair relation composes as a CTE
    pairs = pairs[: pairs.rindex("ORDER BY")]
    h = _TXT.char_hash("concat('split', cast(doc_id as varchar))", "duck")
    return f"""
WITH pairs AS ({pairs}),
sp AS (
  SELECT doc_id,
         CASE WHEN ({h}) % 100 < 90 THEN 'train'
              WHEN ({h}) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b, p.jaccard
FROM pairs p JOIN sp sa ON p.id_a = sa.doc_id
             JOIN sp sb ON p.id_b = sb.doc_id
WHERE sa.split != sb.split
ORDER BY p.id_a, p.id_b
"""


@query("split_leakage_neardups", oracle=_split_leakage_oracle(0.2))
def split_leakage_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval SPLIT LEAKAGE audit: near-duplicate pairs (the
    MinHash+LSH pipeline, Jaccard >= 0.2) that STRADDLE the 90/5/5
    hash-split boundaries — each one is an eval document whose
    near-copy sits in training, i.e. a measured leak that inflates eval
    metrics (the within-corpus complement of benchmark_contamination,
    which only checks against an external benchmark). The canonical
    fix ordering — dedup BEFORE splitting — is exactly what this query
    verifies or indicts.

    Scale: the near-dup relation is the banded minhash_lsh_pairs plan
    (band-bucket self-join, candidates-only verify); split labels
    evaluate map-side from the id hash (zero extra exchange — the join
    back to splits keys on doc_id)."""
    from dawis_spark.operators.corpus import hash_split

    docs = spark.table("documents")
    pairs = _doc_near_dups(spark)
    sp = hash_split(
        docs.select("doc_id"), "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def _hll_union_oracle() -> str:
    from dawis_spark.operators.sketches import (
        HLL_B,
        HLL_LC,
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_NUM,
        _hll_j_rho,
    )

    j, rho = _hll_j_rho("user_id", "duck", numeric=True)

    def regs(src: str, prefix: str) -> str:
        return (
            f"{prefix} AS (SELECT j, MAX(rho) AS r FROM ("
            f"SELECT {j} AS j, {rho} AS rho FROM {src}) GROUP BY j)"
        )

    lc_arr = ", ".join(repr(x) for x in HLL_LC)

    def est(regs_cte: str, prefix: str) -> str:
        return f"""{prefix}_agg AS (
  SELECT CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_empty,
         CAST(SUM(1::BIGINT << ({HLL_B} - r))
              + ({HLL_M} - COUNT(*)) * {1 << HLL_B} AS BIGINT) AS s_scaled
  FROM {regs_cte}),
{prefix} AS (
  SELECT ROUND(CASE WHEN v_empty > 0
                     AND {HLL_NUM!r} / s_scaled <= {HLL_LC_THRESHOLD!r}
               THEN ([{lc_arr}])[CAST(v_empty AS INT) + 1]
               ELSE {HLL_NUM!r} / s_scaled END, 4) AS est
  FROM {prefix}_agg)"""

    a = "(SELECT user_id FROM events WHERE event_type = 'view')"
    b = "(SELECT user_id FROM events WHERE event_type = 'purchase')"
    return f"""
WITH {regs(a, 'ra')},
{regs(b, 'rb')},
ru AS (SELECT j, MAX(r) AS r FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
       GROUP BY j),
{est('ra', 'ea')},
{est('rb', 'eb')},
{est('ru', 'eu')},
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
              CAST(SUM(CASE WHEN ha AND hb THEN 1 ELSE 0 END) AS BIGINT)
                AS exact_inter
       FROM (SELECT user_id, BOOL_OR(event_type = 'view') AS ha,
                    BOOL_OR(event_type = 'purchase') AS hb
             FROM events WHERE event_type IN ('view', 'purchase')
             GROUP BY user_id))
SELECT ea.est AS est_view, eb.est AS est_purchase, eu.est AS est_union,
       ROUND(GREATEST(ea.est + eb.est - eu.est, 0.0), 4) AS est_inter,
       exact_union, exact_inter,
       ROUND((eu.est - exact_union) / exact_union, 4) AS err_union
FROM ea, eb, eu, ex
"""


@query("hll_union_events", oracle=_hll_union_oracle())
def hll_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET MERGEABILITY as a first-class operation: the union of two
    audiences is the ELEMENT-WISE MAX of their register vectors (the
    property that makes HLL the warehouse sketch — per-segment sketches
    roll up to any grouping without rescanning), and the intersection
    falls out by inclusion-exclusion (clamped at 0 — the estimator's
    known weakness for small overlaps, which the exact twin prices).
    The KMV flavor of this algebra is kmv_set_algebra; HLL trades its
    per-element arrays for 64 fixed registers.

    Scale: each register build is the 64-key partial-max exchange; the
    merge is a 128-row union + 64-key max; estimates are one row each."""
    from dawis_spark.operators.sketches import hll_estimate, hll_registers

    ev = spark.table("events")
    ra = hll_registers(
        ev.filter(F.col("event_type") == "view").select("user_id"),
        "user_id",
        numeric=True,
    )
    rb = hll_registers(
        ev.filter(F.col("event_type") == "purchase").select("user_id"),
        "user_id",
        numeric=True,
    )
    ru = ra.unionAll(rb).groupBy("j").agg(F.max("r").alias("r"))
    ea = hll_estimate(ra).select(F.col("est").alias("est_view"))
    eb = hll_estimate(rb).select(F.col("est").alias("est_purchase"))
    eu = hll_estimate(ru).select(F.col("est").alias("est_union"))
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "view").alias("ha"),
            F.max(F.col("event_type") == "purchase").alias("hb"),
        )
    )
    ex = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum((F.col("ha") & F.col("hb")).cast("int"))
        .cast("bigint")
        .alias("exact_inter"),
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(ex)
        .select(
            "est_view",
            "est_purchase",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_view") + F.col("est_purchase") - F.col("est_union"),
                    F.lit(0.0),
                ),
                4,
            ).alias("est_inter"),
            "exact_union",
            "exact_inter",
            F.round(
                (F.col("est_union") - F.col("exact_union")) / F.col("exact_union"),
                4,
            ).alias("err_union"),
        )
    )


# Fellegi-Sunter field weights in integer MILLI-BITS, literal at
# authoring time (like _WILSON_Z — never computed at query time, so both
# engines sum identical bigints). agree = round(1000*log2(m/u)),
# disagree = round(1000*log2((1-m)/(1-u))) for per-field (m, u):
#   name_sim (lev<=2):     m=0.90 u=0.05 ->  +4170 / -3248
#   type_eq:               m=0.80 u=0.10 ->  +3000 / -2170
#   price_sim (<=100 ct):  m=0.85 u=0.05 ->  +4087 / -2663
_FS_W = {
    "name": (4170, -3248),
    "type": (3000, -2170),
    "price": (4087, -2663),
}
_FS_LINK, _FS_POSSIBLE = 5000, 0  # milli-bit thresholds


def _fs_weight_sql(field: str, agree_expr: str) -> str:
    a, d = _FS_W[field]
    return f"CASE WHEN {agree_expr} THEN {a} ELSE {d} END"


def _fs_oracle() -> str:
    pat = {
        "name": "levenshtein(a.p_name, b.p_name) <= 2",
        "type": "a.p_type = b.p_type",
        "price": "abs(a.pc - b.pc) <= 100",
    }
    agree_cols = ", ".join(
        f"CAST({expr} AS BOOLEAN) AS {f}_agree" for f, expr in pat.items()
    )
    wsum = " + ".join(_fs_weight_sql(f, f"{f}_agree") for f in _FS_W)
    all_w = sum(_FS_W[f][0] for f in _FS_W)
    return f"""
WITH recs AS (
  SELECT p_name, p_brand, p_type, p_size,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS pc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2, 3, 4, 5),
cross_pairs AS (
  SELECT {agree_cols}, a.n * b.n AS mult
  FROM recs a JOIN recs b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND (a.p_name, a.p_type, a.pc) < (b.p_name, b.p_type, b.pc)),
same_pairs AS (
  SELECT TRUE AS name_agree, TRUE AS type_agree, TRUE AS price_agree,
         n * (n - 1) / 2 AS mult
  FROM recs WHERE n > 1),
pairs AS (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs),
scored AS (
  SELECT *, CAST({wsum} AS BIGINT) AS weight_milli FROM pairs)
SELECT name_agree, type_agree, price_agree,
       CAST(SUM(mult) AS BIGINT) AS n_pairs,
       weight_milli,
       CASE WHEN weight_milli >= {_FS_LINK} THEN 'link'
            WHEN weight_milli >= {_FS_POSSIBLE} THEN 'possible'
            ELSE 'non-match' END AS decision
FROM scored
GROUP BY name_agree, type_agree, price_agree, weight_milli
ORDER BY weight_milli DESC, name_agree, type_agree, price_agree
"""


def _fs_pairs_df(spark: SparkSession) -> DataFrame:
    """Blocked candidate pairs over the DISTINCT-RECORD part catalog:
    (name_agree, type_agree, price_agree, mult) — cross-record pairs
    weight n_a*n_b, identical-record pairs the closed form n*(n-1)/2
    (see fellegi_sunter_patterns for the scale adjudication)."""
    recs = (
        spark.table("part")
        .groupBy(
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("pc"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    a, b = recs.alias("a"), recs.alias("b")
    tup_a = F.struct(F.col("a.p_name"), F.col("a.p_type"), F.col("a.pc"))
    tup_b = F.struct(F.col("b.p_name"), F.col("b.p_type"), F.col("b.pc"))
    cross_pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (tup_a < tup_b),
    ).select(
        (F.levenshtein("a.p_name", "b.p_name") <= 2).alias("name_agree"),
        (F.col("a.p_type") == F.col("b.p_type")).alias("type_agree"),
        (F.abs(F.col("a.pc") - F.col("b.pc")) <= 100).alias("price_agree"),
        (F.col("a.n") * F.col("b.n")).alias("mult"),
    )
    same_pairs = recs.filter(F.col("n") > 1).select(
        F.lit(True).alias("name_agree"),
        F.lit(True).alias("type_agree"),
        F.lit(True).alias("price_agree"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias("mult"),
    )
    return cross_pairs.unionByName(same_pairs)


@query("fellegi_sunter_patterns", oracle=_fs_oracle())
def fellegi_sunter_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI-SUNTER probabilistic record linkage (Fellegi & Sunter
    1969) — the scoring layer on top of this repo's blocking operators
    (attribute blocks, symspell deletions, sorted neighborhoods): every
    within-block candidate pair gets an agreement VECTOR over three
    comparison fields and a match weight Σ log2(m_f/u_f) (agreements)
    + Σ log2((1-m_f)/(1-u_f)) (disagreements); pairs classify into
    link / possible / non-match by thresholds. Output is the classic
    agreement-PATTERN frequency table (<= 2^3 x weights rows — what the
    EM step of a production linker consumes to re-estimate m/u), not
    the raw pair list.

    Exactness: weights are literal integer milli-bits summed as
    bigints; decisions are integer threshold compares — no float
    anywhere (the m/u logs are authoring-time constants, like the
    Wilson z).

    Scale: pairs come from (brand, size) equi-join BLOCKS over the
    DISTINCT-RECORD catalog with multiplicities (the fuzzy family's
    discipline — identical records collapse to one row carrying n, so
    pair counts weight by n_a*n_b and identical-record pairs are the
    closed form n*(n-1)/2, never enumerated): within-block work is
    quadratic in distinct-ENTITY diversity, not row count — the sf1
    tiling rehearsal is ~1x where the row-level form was 40x. The
    pattern rollup's exchange carries <= 8 x |distinct weights|
    groups."""
    pairs = _fs_pairs_df(spark)
    w = None
    for f in _FS_W:
        ag, dg = _FS_W[f]
        term = F.when(F.col(f"{f}_agree"), F.lit(ag)).otherwise(F.lit(dg))
        w = term if w is None else w + term
    scored = pairs.withColumn("weight_milli", w.cast("bigint"))
    return (
        scored.groupBy("name_agree", "type_agree", "price_agree", "weight_milli")
        .agg(F.sum("mult").cast("bigint").alias("n_pairs"))
        .select(
            "name_agree",
            "type_agree",
            "price_agree",
            "n_pairs",
            "weight_milli",
            F.when(F.col("weight_milli") >= _FS_LINK, F.lit("link"))
            .when(F.col("weight_milli") >= _FS_POSSIBLE, F.lit("possible"))
            .otherwise(F.lit("non-match"))
            .alias("decision"),
        )
        .orderBy(F.desc("weight_milli"), "name_agree", "type_agree", "price_agree")
    )


_FS_EM_ITERS = 8
_FS_EM_INIT = {"p": 0.1, "m": 0.8, "u": 0.2}
_FS_FIELDS = ("name", "type", "price")


def _fs_pair_ctes() -> str:
    """The distinct-record blocked pair CTEs shared by the FS oracles,
    ending in ``pairs(name_agree, type_agree, price_agree, mult)``."""
    pat = {
        "name": "levenshtein(a.p_name, b.p_name) <= 2",
        "type": "a.p_type = b.p_type",
        "price": "abs(a.pc - b.pc) <= 100",
    }
    agree_cols = ", ".join(
        f"CAST({expr} AS BOOLEAN) AS {f}_agree" for f, expr in pat.items()
    )
    return f"""recs AS (
  SELECT p_name, p_brand, p_type, p_size,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS pc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2, 3, 4, 5),
cross_pairs AS (
  SELECT {agree_cols}, a.n * b.n AS mult
  FROM recs a JOIN recs b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND (a.p_name, a.p_type, a.pc) < (b.p_name, b.p_type, b.pc)),
same_pairs AS (
  SELECT TRUE AS name_agree, TRUE AS type_agree, TRUE AS price_agree,
         n * (n - 1) / 2 AS mult
  FROM recs WHERE n > 1),
pairs AS (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs)"""


def _fs_em_oracle() -> str:
    """Unrolled EM replay: per-iteration E-step weight CTE + ordered-fold
    M-step CTE, ending with the post-training E-step posteriors joined to
    the learned parameter row."""
    order = "name_agree, type_agree, price_agree"

    def a_expr(it: str, which: str) -> str:
        # which: 'm' (match class, scaled by p) or 'u' (scaled by 1-p)
        lead = f"{it}.p" if which == "m" else f"(1.0 - {it}.p)"
        terms = [
            f"CASE WHEN {f}_agree THEN {it}.{which}_{f} "
            f"ELSE 1.0 - {it}.{which}_{f} END"
            for f in _FS_FIELDS
        ]
        e = lead
        for t in terms:
            e = f"({e} * {t})"
        return e

    def fold(term: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list({term} ORDER BY {order})), (acc, e) -> acc + e)"
        )

    init_cols = ", ".join(
        [f"CAST({_FS_EM_INIT['p']!r} AS DOUBLE) AS p"]
        + [f"CAST({_FS_EM_INIT['m']!r} AS DOUBLE) AS m_{f}" for f in _FS_FIELDS]
        + [f"CAST({_FS_EM_INIT['u']!r} AS DOUBLE) AS u_{f}" for f in _FS_FIELDS]
    )
    ctes = [
        _fs_pair_ctes(),
        f"""pat AS (
  SELECT name_agree, type_agree, price_agree, CAST(SUM(mult) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2, 3)""",
        f"it0 AS (SELECT {init_cols})",
    ]
    for k in range(1, _FS_EM_ITERS + 1):
        prev = f"it{k - 1}"
        a = a_expr("it", "m")
        b = a_expr("it", "u")
        ctes.append(
            f"""w{k} AS (
  SELECT pat.*, ROUND({a} / ({a} + {b}), 9) AS w
  FROM pat, {prev} it)"""
        )
        agg_cols = [
            f"{fold('CAST(n AS DOUBLE) * w')} AS W",
            f"{fold('CAST(n AS DOUBLE) * (1.0 - w)')} AS L",
        ]
        for f in _FS_FIELDS:
            agg_cols.append(
                f"{fold(f'CASE WHEN {f}_agree THEN CAST(n AS DOUBLE) * w ELSE 0.0 END')} AS Wm_{f}"
            )
            agg_cols.append(
                f"{fold(f'CASE WHEN {f}_agree THEN CAST(n AS DOUBLE) * (1.0 - w) ELSE 0.0 END')} AS Lu_{f}"
            )
        out_cols = ["ROUND(W / (W + L), 9) AS p"]
        out_cols += [f"ROUND(Wm_{f} / W, 9) AS m_{f}" for f in _FS_FIELDS]
        out_cols += [f"ROUND(Lu_{f} / L, 9) AS u_{f}" for f in _FS_FIELDS]
        ctes.append(
            f"""it{k} AS (
  SELECT {', '.join(out_cols)}
  FROM (SELECT {', '.join(agg_cols)} FROM w{k}) agg)"""
        )
    # post-training E-step: posteriors under the learned params
    a = a_expr("it", "m")
    b = a_expr("it", "u")
    last = f"it{_FS_EM_ITERS}"
    params = ", ".join(
        ["it.p AS p_match"]
        + [f"it.m_{f} AS m_{f}" for f in _FS_FIELDS]
        + [f"it.u_{f} AS u_{f}" for f in _FS_FIELDS]
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT pat.name_agree, pat.type_agree, pat.price_agree, pat.n AS n_pairs,
       ROUND({a} / ({a} + {b}), 9) AS posterior,
       {params}
FROM pat, {last} it
ORDER BY pat.name_agree, pat.type_agree, pat.price_agree
"""


@query("fellegi_sunter_em", oracle=_fs_em_oracle())
def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM estimation of the Fellegi-Sunter m/u/p parameters (Winkler
    1988) — the learning step the fellegi_sunter_patterns docstring
    points at: the agreement-PATTERN frequency table is EM's sufficient
    statistic, so after the distributed pair/pattern aggregation the
    whole fit runs over <= 2^3 rows of config-sized state (the
    logreg/kmeans trainer discipline: the heavy pass is distributed,
    the parameter updates are driver state replayed exactly).

    Determinism: every E-step weight and every updated parameter is
    ROUND(x, 9) HALF_UP; products are fixed left-associated; M-step
    sums are ORDERED FOLDS over the (name, type, price)-sorted pattern
    list — float accumulation order is part of the definition, so the
    DuckDB replay (unrolled per-iteration CTEs) is bit-identical. The
    posteriors' final ROUND(x, 9) is a Spark projection over a pandas
    frame (see pca_top_component).
    Output: per-pattern posterior match probability under the learned
    parameters + the learned (p, m_f, u_f) on every row."""
    import math

    import pandas as pd

    pat_rows = (
        _fs_pairs_df(spark)
        .groupBy("name_agree", "type_agree", "price_agree")
        .agg(F.sum("mult").cast("bigint").alias("n"))
        .collect()
    )
    pats = sorted(
        (bool(r["name_agree"]), bool(r["type_agree"]), bool(r["price_agree"]), int(r["n"]))
        for r in pat_rows
    )

    def r9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    p = _FS_EM_INIT["p"]
    m = {f: _FS_EM_INIT["m"] for f in _FS_FIELDS}
    u = {f: _FS_EM_INIT["u"] for f in _FS_FIELDS}

    def e_step():
        ws = []
        for gn, gt, gp, n in pats:
            g = {"name": gn, "type": gt, "price": gp}
            a = p
            for f in _FS_FIELDS:
                a = a * (m[f] if g[f] else 1.0 - m[f])
            b = 1.0 - p
            for f in _FS_FIELDS:
                b = b * (u[f] if g[f] else 1.0 - u[f])
            ws.append(a / (a + b))
        return ws

    for _ in range(_FS_EM_ITERS):
        ws = [r9(w) for w in e_step()]
        W = left_sum(float(n) * w for (_, _, _, n), w in zip(pats, ws))
        L = left_sum(float(n) * (1.0 - w) for (_, _, _, n), w in zip(pats, ws))
        new_m, new_u = {}, {}
        for i, f in enumerate(_FS_FIELDS):
            gsel = [pt[i] for pt in pats]
            new_m[f] = r9(
                left_sum(
                    float(n) * w if g else 0.0
                    for (_, _, _, n), w, g in zip(pats, ws, gsel)
                )
                / W
            )
            new_u[f] = r9(
                left_sum(
                    float(n) * (1.0 - w) if g else 0.0
                    for (_, _, _, n), w, g in zip(pats, ws, gsel)
                )
                / L
            )
        p, m, u = r9(W / (W + L)), new_m, new_u
    pdf = pd.DataFrame(
        pats, columns=["name_agree", "type_agree", "price_agree", "n_pairs"]
    ).assign(
        posterior=e_step(),
        p_match=p,
        **{f"m_{f}": m[f] for f in _FS_FIELDS},
        **{f"u_{f}": u[f] for f in _FS_FIELDS},
    )
    return (
        spark.createDataFrame(
            pdf,
            "name_agree boolean, type_agree boolean, price_agree boolean, "
            "n_pairs bigint, posterior double, p_match double, "
            "m_name double, m_type double, m_price double, "
            "u_name double, u_type double, u_price double",
        )
        .withColumn("posterior", F.round("posterior", 9))
        .orderBy("name_agree", "type_agree", "price_agree")
    )


def _cs_oracle(top_n: int, d: int, w: int) -> str:
    from dawis_spark.operators.sketches import (
        _cm_bucket,
        _cm_coeffs,
        _cs_sign,
        _cs_sign_coeffs,
        _kmv_round,
        _KMV_ROUNDS,
        cs_oracle_ctes,
    )

    toks = _TXT.tokens("text", "duck")
    h = _TXT.char_hash("cast(tok as varchar)", "duck")
    probe_chain = [f"probe_h0 AS (SELECT tok, {h} AS h FROM top)"]
    src = "probe_h0"
    for n, (a, b) in enumerate(_KMV_ROUNDS):
        probe_chain.append(
            f"probe_h{n + 1} AS (SELECT tok, {_kmv_round('h', a, b)} AS h FROM {src})"
        )
        src = f"probe_h{n + 1}"
    cells = " UNION ALL ".join(
        f"SELECT tok, {i} AS row, CAST({_cm_bucket('h', a, b, w)} AS INT) AS bucket,"
        f" CAST({_cs_sign('h', sa, sb)} AS BIGINT) AS s FROM {src}"
        for i, ((a, b), (sa, sb)) in enumerate(
            zip(_cm_coeffs(d), _cs_sign_coeffs(d))
        )
    )
    mid = (d + 1) // 2
    return f"""
WITH occ AS (
  SELECT unnest({toks}) AS tok FROM documents
),
{cs_oracle_ctes('occ', 'tok', d, w)},
exact AS (SELECT tok, COUNT(*) AS exact_count FROM occ GROUP BY tok),
top AS (
  SELECT tok, exact_count FROM (
    SELECT *, row_number() OVER (ORDER BY exact_count DESC, tok) AS rn FROM exact
  ) WHERE rn <= {top_n}
),
{", ".join(probe_chain)},
probe_cells AS ({cells}),
est AS (
  SELECT p.tok,
         CAST(list_sort(list(p.s * COALESCE(cs.ssum, 0)))[{mid}] AS BIGINT)
           AS cs_estimate
  FROM probe_cells p LEFT JOIN cs USING (row, bucket)
  GROUP BY p.tok
)
SELECT t.tok AS token, CAST(t.exact_count AS BIGINT) AS exact_count,
       e.cs_estimate,
       e.cs_estimate - t.exact_count AS signed_err
FROM top t JOIN est e ON e.tok = t.tok
ORDER BY t.exact_count DESC, token
"""


@query("cs_heavy_hitters", oracle=_cs_oracle(20, 5, 512))
def cs_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-SKETCH heavy hitters (Charikar et al. 2002) — the UNBIASED
    companion to cm_heavy_hitters: colliding tokens add +-1 signs
    instead of stacking, so the per-row estimates scatter around the
    truth and the exact d-value median (never a percentile
    approximation) recovers it; signed_err shows the two-sided error
    count-min structurally cannot produce (its overestimate column is
    always >= 0). Same fixed 5x512-cell footprint regardless of
    vocabulary size; the exact side exists only to score the sketch.

    Scale: the only row-scale exchange carries d*w = 2560 signed-count
    groups; the top-20 is TakeOrderedAndProject; the sketch broadcasts
    into the probe join. ONE tokenize pass (r15): the exact top-20 and
    the sketch both ride the persisted vocabulary-bounded count
    relation — a token's d (bucket, sign) cells depend only on the
    token, so sum(sign * count) is cell-identical to one sign per
    occurrence."""
    from dawis_spark.operators.sketches import cs_estimate, cs_sketch

    toks = _TXT.tokens("text", "spark")
    occ = spark.table("documents").select(F.explode(F.expr(toks)).alias("tok"))
    exact = (
        occ.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .persist()
    )
    top = (
        exact.orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(20)
        .select("tok", "exact_count")
    )
    sk = cs_sketch(exact, "tok", d=5, w=512, weight_col="exact_count")
    est = cs_estimate(sk, top.select("tok"), "tok", d=5, w=512)
    return (
        top.join(est, "tok")
        .select(
            F.col("tok").alias("token"),
            "exact_count",
            "cs_estimate",
            (F.col("cs_estimate") - F.col("exact_count")).alias("signed_err"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )


def _hll_by_oracle() -> str:
    from dawis_spark.operators.sketches import hll_oracle_sql_by

    return f"""
WITH {hll_oracle_sql_by("events", ["event_type"], "user_id", numeric=True)},
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1)
SELECT e.event_type, h.method, h.est, e.exact_users,
       ROUND((h.est - e.exact_users) / e.exact_users, 4) AS rel_err
FROM hll_by h JOIN exact e USING (event_type)
ORDER BY e.event_type
"""


@query("hll_distinct_users_by_type", oracle=_hll_by_oracle())
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HyperLogLog: distinct users PER EVENT TYPE from per-key
    64-register synopses (operators/sketches.hll_registers_by) — the
    GROUP BY companion to hll_distinct_events. At 100 TB this replaces
    a per-group COUNT(DISTINCT)'s (group, user)-cardinality exchange
    with |groups| x 64 partial-max rows; the per-group estimator
    auto-dispatches linear-counting vs raw exactly like the global form
    (small groups take 'linear'). The exact side exists only to score
    the sketch per group (expected |err| ~ 1.04/sqrt(64))."""
    from dawis_spark.operators.sketches import hll_estimate_by, hll_registers_by

    ev = spark.table("events")
    est = hll_estimate_by(
        hll_registers_by(ev, ["event_type"], "user_id", numeric=True),
        ["event_type"],
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "method",
            "est",
            "exact_users",
            F.round(
                (F.col("est") - F.col("exact_users")) / F.col("exact_users"), 4
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


_KM_ORACLE = """
WITH du AS (
  SELECT user_id, date_trunc('day', ts) AS day FROM events),
pu AS (SELECT user_id, MIN(day) AS fd, MAX(day) AS ld FROM du GROUP BY 1),
hz AS (SELECT MAX(day) AS h FROM du),
dur AS (
  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS duration,
         (ld <= h - INTERVAL 1 DAY) AS churn
  FROM pu, hz),
g AS (
  SELECT duration, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM dur GROUP BY 1),
arr AS (
  SELECT list(struct_pack(duration := duration, c := c, d := d)
              ORDER BY duration) AS a,
         CAST(SUM(c) AS BIGINT) AS N
  FROM g),
idx AS (SELECT UNNEST(range(1, len(a) + 1)) AS i, a, N FROM arr)
SELECT CAST(a[i].duration AS BIGINT) AS duration,
       N - list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(a[1:i-1], x -> x.c)), (p, q) -> p + q) AS at_risk,
       a[i].d AS churned, a[i].c - a[i].d AS censored,
       ROUND(list_reduce(
         list_prepend(struct_pack(s := CAST(1.0 AS DOUBLE),
                                  seen := CAST(0 AS BIGINT)),
                      list_transform(a[1:i],
                        x -> struct_pack(s := CAST(x.d AS DOUBLE), seen := x.c))),
         (acc, x) -> struct_pack(
           s := acc.s * (1.0 - x.s / CAST(N - acc.seen AS DOUBLE)),
           seen := acc.seen + x.seen)).s, 9)
         AS survival
FROM idx
ORDER BY duration
"""


@query("kaplan_meier_retention", oracle=_KM_ORACLE)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve over user lifetimes (Kaplan & Meier
    1958) — right-censored retention, the survival-analysis member of
    the time-series family: a user's lifetime is first-to-last active
    day; users still active within 1 day of the corpus horizon are
    CENSORED (their true lifetime is unknown — dropping them is the
    classic retention-bias mistake this estimator exists to fix; the
    1-day window fits this synthetic feed's density — every user is
    active almost daily — production retention uses weeks).

    DuckDB-replay note: the oracle's running-product fold keeps the
    DERIVED field first and the counter last in its struct accumulator —
    DuckDB 1.0's list_reduce mis-evaluates struct fields that read an
    EARLIER-updated field (verified: (seen, s) order diverges from the
    left fold at >= 3 elements; (s, seen) matches exactly).
    S(t) = prod_{t_i <= t} (1 - d_i / n_i) over event times, with
    censored users leaving the risk set without contributing a death.

    Exactness: d_i, n_i are exact bigints; each factor is ONE division;
    the running product is a LEFT FOLD over the duration-sorted array
    with a (seen, s) struct accumulator — float multiplication order is
    part of the definition (the chi-square ordered-fold discipline), so
    both engines walk the identical sequence; ROUND(,9) only on output.

    Scale: one user-keyed aggregate (the only row-scale exchange); the
    curve itself lives on the duration-bounded relation (<= observation
    window in days), folded through one <= |durations|-struct array —
    no partition-less window, no quadratic anything."""
    e = spark.table("events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    pu = e.groupBy("user_id").agg(
        F.min("day").alias("fd"), F.max("day").alias("ld")
    )
    hz = e.agg(F.max("day").alias("h"))
    dur = pu.crossJoin(F.broadcast(hz)).select(
        F.datediff("ld", "fd").cast("bigint").alias("duration"),
        F.expr("ld <= h - interval 1 days").alias("churn"),
    )
    g = dur.groupBy("duration").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("churn"), 1).otherwise(0)).cast("bigint").alias("d"),
    )
    arr = g.agg(
        F.sort_array(F.collect_list(F.struct("duration", "c", "d"))).alias("a"),
        F.sum("c").cast("bigint").alias("N"),
    )
    rows = arr.select(
        F.explode(
            F.expr(
                "transform(a, (x, i) -> struct("
                "x.duration AS duration, "
                "N - aggregate(slice(a, 1, i), cast(0 as bigint), "
                "(p, y) -> p + y.c) AS at_risk, "
                "x.d AS churned, x.c - x.d AS censored, "
                "round(aggregate(slice(a, 1, i + 1), "
                "named_struct('seen', cast(0 as bigint), 's', cast(1.0 as double)), "
                "(acc, y) -> named_struct('seen', acc.seen + y.c, "
                "'s', acc.s * (1.0 - y.d / cast(N - acc.seen as double)))).s, 9) "
                "AS survival))"
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.duration").alias("duration"),
        F.col("r.at_risk").alias("at_risk"),
        F.col("r.churned").alias("churned"),
        F.col("r.censored").alias("censored"),
        F.col("r.survival").alias("survival"),
    ).orderBy("duration")


_LOGRANK_ORACLE = """
WITH du AS (
  SELECT user_id, ts, event_id, event_type, date_trunc('day', ts) AS day
  FROM events),
first_ev AS (
  SELECT user_id, event_type AS fe FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM du) WHERE rn = 1),
pu AS (
  SELECT du.user_id, MIN(day) AS fd, MAX(day) AS ld,
         BOOL_OR(f.fe = 'view') AS g1
  FROM du JOIN first_ev f ON f.user_id = du.user_id
  GROUP BY du.user_id),
hz AS (SELECT MAX(day) AS h FROM du),
dur AS (
  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS duration,
         (ld <= h - INTERVAL 1 DAY) AS churn, g1
  FROM pu, hz),
g AS (
  SELECT duration,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN churn AND g1 THEN 1 ELSE 0 END) AS BIGINT) AS d1
  FROM dur GROUP BY 1),
arr AS (
  SELECT list(struct_pack(e := CAST(d AS DOUBLE), v := CAST(d1 AS DOUBLE),
                          seen := c, seen1 := c1) ORDER BY duration) AS a,
         CAST(SUM(c) AS BIGINT) AS N, CAST(SUM(c1) AS BIGINT) AS N1,
         CAST(SUM(d1) AS BIGINT) AS O1
  FROM g),
folded AS (
  SELECT N, N1, O1,
         list_reduce(
           list_prepend(struct_pack(e := CAST(0.0 AS DOUBLE),
                                    v := CAST(0.0 AS DOUBLE),
                                    seen := CAST(0 AS BIGINT),
                                    seen1 := CAST(0 AS BIGINT)), a),
           (acc, x) -> struct_pack(
             e := acc.e + x.e * (CAST(N1 - acc.seen1 AS DOUBLE)
                                 / CAST(N - acc.seen AS DOUBLE)),
             v := acc.v + CASE WHEN (N - acc.seen) > 1 THEN
               ((x.e * (CAST(N1 - acc.seen1 AS DOUBLE)
                        / CAST(N - acc.seen AS DOUBLE)))
                * (1.0 - CAST(N1 - acc.seen1 AS DOUBLE)
                         / CAST(N - acc.seen AS DOUBLE)))
               * (CAST((N - acc.seen) - CAST(x.e AS BIGINT) AS DOUBLE)
                  / CAST((N - acc.seen) - 1 AS DOUBLE))
               ELSE 0.0 END,
             seen := acc.seen + x.seen,
             seen1 := acc.seen1 + x.seen1)) AS f
  FROM arr)
SELECT N AS n_users, N1 AS n_group1, O1 AS observed1,
       ROUND(f.e, 6) AS expected1,
       ROUND(f.v, 6) AS variance,
       ROUND(CASE WHEN f.v > 0.0
             THEN (CAST(O1 AS DOUBLE) - f.e) * (CAST(O1 AS DOUBLE) - f.e) / f.v
             ELSE 0.0 END, 6) AS chi2
FROM folded
"""


@query("logrank_first_event_groups", oracle=_LOGRANK_ORACLE)
def logrank_first_event_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK test (Mantel 1966) — do two user cohorts churn at the
    same rate? The hypothesis-test companion to kaplan_meier_retention:
    group 1 = users whose deterministic FIRST event (ts, event_id
    order) is a 'view'; at each pooled lifetime the observed group-1
    churns compare against the hypergeometric expectation d_t*n1_t/n_t,
    variance d_t*(n1/n)*(1-n1/n)*(n-d)/(n-1); chi2 = (O-E)^2/V with
    1 dof.

    Exactness: all counts and risk sets are exact bigints maintained as
    prefix sums inside ONE left fold over the duration-sorted array
    (the Kaplan-Meier accumulator extended with the group dimension);
    per-duration E and V terms are fixed-order float expressions of
    those integers, accumulated in fold order — both engines walk the
    identical sequence; ROUND(,6) only on output.

    Scale: one user window for the first event + one user-keyed
    aggregate (the row-scale exchanges); the test statistic folds over
    the duration-bounded relation. Same 1-day censor window and DuckDB
    list_reduce field-order note as kaplan_meier_retention (derived
    accumulations first, counters last)."""
    from pyspark.sql import Window

    e = spark.table("events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    pu = e.groupBy("user_id").agg(
        F.min("day").alias("fd"),
        F.max("day").alias("ld"),
        (
            F.min(F.struct("ts", "event_id", "event_type")).getField("event_type")
            == "view"
        ).alias("g1"),
    )
    hz = e.agg(F.max("day").alias("h"))
    dur = pu.crossJoin(F.broadcast(hz)).select(
        F.datediff("ld", "fd").cast("bigint").alias("duration"),
        F.expr("ld <= h - interval 1 days").alias("churn"),
        "g1",
    )
    g = dur.groupBy("duration").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("churn"), 1).otherwise(0)).cast("bigint").alias("d"),
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("churn") & F.col("g1"), 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
    )
    arr = g.agg(
        F.sort_array(
            F.collect_list(F.struct("duration", "c", "d", "c1", "d1"))
        ).alias("a"),
        F.sum("c").cast("bigint").alias("N"),
        F.sum("c1").cast("bigint").alias("N1"),
        F.sum("d1").cast("bigint").alias("O1"),
    )
    fold = (
        "aggregate(a, named_struct("
        "'seen', cast(0 as bigint), 'seen1', cast(0 as bigint), "
        "'e', cast(0.0 as double), 'v', cast(0.0 as double)), "
        "(acc, y) -> named_struct("
        "'seen', acc.seen + y.c, "
        "'seen1', acc.seen1 + y.c1, "
        "'e', acc.e + cast(y.d as double) * (cast(N1 - acc.seen1 as double) "
        "/ cast(N - acc.seen as double)), "
        "'v', acc.v + case when (N - acc.seen) > 1 then "
        "((cast(y.d as double) * (cast(N1 - acc.seen1 as double) "
        "/ cast(N - acc.seen as double))) "
        "* (1.0 - cast(N1 - acc.seen1 as double) "
        "/ cast(N - acc.seen as double))) "
        "* (cast((N - acc.seen) - y.d as double) "
        "/ cast((N - acc.seen) - 1 as double)) "
        "else 0.0 end))"
    )
    return arr.select(
        F.col("N").alias("n_users"),
        F.col("N1").alias("n_group1"),
        F.col("O1").alias("observed1"),
        F.expr(f"round(({fold}).e, 6)").alias("expected1"),
        F.expr(f"round(({fold}).v, 6)").alias("variance"),
        F.expr(
            f"round(case when ({fold}).v > 0.0 then "
            f"(cast(O1 as double) - ({fold}).e) "
            f"* (cast(O1 as double) - ({fold}).e) / ({fold}).v "
            "else 0.0 end, 6)"
        ).alias("chi2"),
    )


_SHAP_BITS = {"click": 1, "error": 2, "signup": 4, "view": 8}
_SHAP_W24 = [6, 2, 2, 6]  # s!(k-1-s)!/k! * 24 for |S| = 0..3, k = 4


def _shapley_oracle() -> str:
    bit_expr = " + ".join(
        f"CASE WHEN BOOL_OR(event_type = '{t}') THEN {b} ELSE 0 END"
        for t, b in _SHAP_BITS.items()
    )
    w_arr = ", ".join(str(w) for w in _SHAP_W24)
    chans = ", ".join(f"('{t}', {b})" for t, b in _SHAP_BITS.items())
    return f"""
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
  FROM events),
j AS (
  SELECT user_id, journey,
         CAST({bit_expr} AS INT) AS mask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM e GROUP BY user_id, journey),
m AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS conv
  FROM j GROUP BY mask),
vm AS (
  SELECT MAP(list(mask ORDER BY mask),
             list(CAST(conv AS DOUBLE) / n ORDER BY mask)) AS v,
         CAST(SUM(n) AS BIGINT) AS n_journeys,
         CAST(SUM(conv) AS BIGINT) AS n_conversions
  FROM m),
ch(channel, bit) AS (VALUES {chans})
SELECT ch.channel,
       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(0, 16), s -> CASE WHEN (s & ch.bit) = 0 THEN
           CAST(([{w_arr}])[bit_count(CAST(s AS BIGINT)) + 1] AS DOUBLE)
           * (COALESCE(map_extract(vm.v, s | ch.bit)[1], 0.0)
              - COALESCE(map_extract(vm.v, s)[1], 0.0))
           ELSE 0.0 END)), (a, b) -> a + b) / 24.0, 6) AS shapley,
       vm.n_journeys, vm.n_conversions
FROM ch, vm
ORDER BY ch.channel
"""


@query("shapley_channel_attribution", oracle=_shapley_oracle())
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE multi-touch attribution (Shapley 1953 applied to
    marketing journeys) — the game-theoretic companion to the U-shaped
    position_attribution: journeys (purchase-delimited via the journey
    index of operators/journeys.py) become coalitions of the channels
    they touched; v(S) is the empirical conversion rate of journeys
    whose touch-set is EXACTLY S; each channel's credit is the exact
    Shapley sum over the 2^4 = 16 subsets with the classic
    s!(k-1-s)!/k! weights carried as INTEGER 24ths ([6,2,2,6]) and ONE
    final /24 — the weights are exact, every v is one division, and
    the subset sum is an ordered fold over the fixed literal mask
    sequence, so both engines walk identical float sequences.

    Scale: one user-window pass (the journey index) + one
    (user, journey)-keyed aggregate are the row-scale exchanges; the
    value function lives on a 16-row mask relation that collapses to a
    single broadcast map — the Shapley evaluation is constant work
    regardless of data size."""
    from pyspark.sql import Window

    from dawis_spark.operators.journeys import with_journey_index

    e = with_journey_index(spark.table("events"), "purchase")
    bit = None
    for t, b in _SHAP_BITS.items():
        term = F.when(F.max((F.col("event_type") == t).cast("int")) == 1, b).otherwise(0)
        bit = term if bit is None else bit + term
    j = e.groupBy("user_id", "journey").agg(
        bit.cast("int").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    m = j.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("conv"),
    )
    vm = m.agg(
        F.expr(
            "map_from_arrays(array_sort(collect_list(mask)), "
            "transform(array_sort(collect_list(struct(mask, "
            "cast(conv as double) / n AS v))), x -> x.v))"
        ).alias("v"),
        F.sum("n").cast("bigint").alias("n_journeys"),
        F.sum("conv").cast("bigint").alias("n_conversions"),
    )
    chans = spark.createDataFrame(
        sorted(_SHAP_BITS.items()), "channel string, bit int"
    )
    w_arr = ", ".join(str(w) for w in _SHAP_W24)
    fold = (
        "aggregate(sequence(0, 15), cast(0.0 as double), (acc, s) -> acc + "
        "case when (s & bit) = 0 then "
        f"cast(element_at(array({w_arr}), bit_count(cast(s as bigint)) + 1) as double) "
        "* (coalesce(element_at(v, s | bit), 0.0) "
        "- coalesce(element_at(v, s), 0.0)) else 0.0 end)"
    )
    return (
        chans.crossJoin(F.broadcast(vm))
        .select(
            "channel",
            F.round(F.expr(fold) / 24.0, 6).alias("shapley"),
            "n_journeys",
            "n_conversions",
        )
        .orderBy("channel")
    )


_TCLOSE_TOP = 20
_TCLOSE_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band
  FROM customer),
cls AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM qi GROUP BY 1, 2),
cb AS (
  SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS c
  FROM qi GROUP BY 1, 2, 3),
g AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS gc FROM qi GROUP BY 1),
gm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(gc) AS BIGINT) AS n FROM g),
gcum AS (
  SELECT band, CAST(SUM(gc) OVER (ORDER BY band
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_g,
    ROW_NUMBER() OVER (ORDER BY band) AS bi
  FROM g),
grid AS (
  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_rows,
         gcum.band, gcum.cum_g, gcum.bi
  FROM cls CROSS JOIN gcum),
cum AS (
  SELECT grid.*, COALESCE(cb.c, 0) AS c,
         CAST(SUM(COALESCE(cb.c, 0)) OVER (
           PARTITION BY grid.c_nationkey, grid.c_mktsegment
           ORDER BY grid.band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
  FROM grid LEFT JOIN cb
    ON cb.c_nationkey = grid.c_nationkey
   AND cb.c_mktsegment = grid.c_mktsegment
   AND cb.band = grid.band),
emd AS (
  SELECT c_nationkey, c_mktsegment, n_rows,
         CAST(SUM(CASE WHEN bi < (SELECT m FROM gm)
                  THEN ABS(cum_c * (SELECT n FROM gm) - cum_g * n_rows)
                  ELSE 0 END) AS BIGINT) AS num
  FROM cum GROUP BY 1, 2, 3)
SELECT c_nationkey, c_mktsegment, n_rows,
       ROUND(CASE WHEN gm.m <= 1 THEN 0.0
             ELSE CAST(num AS DOUBLE) / ((gm.m - 1) * n_rows * gm.n) END, 6)
         AS t_closeness
FROM emd, gm
ORDER BY t_closeness DESC, c_nationkey, c_mktsegment
LIMIT {_TCLOSE_TOP}
"""


@query("t_closeness_profile", oracle=_TCLOSE_ORACLE)
def t_closeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian 2007) — the third leg of
    the privacy trio beside k_anonymity_customers and
    l_diversity_profile: a QI class leaks even when diverse if its
    SENSITIVE-attribute distribution differs from the corpus-wide one
    (skewness attack); t is the Earth Mover's Distance between the
    class's ordinal balance-band distribution and the global one —
    EMD over an ordered domain = mean |cumulative difference|
    (Σ_{i<m} |P_cum(i) - Q_cum(i)| / (m-1)).

    Exactness: each cumulative difference is the INTEGER
    cum_c*N - cum_g*n_class over a common denominator (n_class*N), so
    the whole EMD is one bigint sum and ONE final division — exact for
    N < 3e9 (|cum_c*N| <= N^2 < 2^63). The top-|t| classes surface
    first (skewed-but-diverse classes l-diversity passes).

    Scale: one row-scale shuffle (the QI x band aggregate); the grid is
    classes x bands (QI-cardinality x a VALUE-BOUNDED ~11-band domain);
    the per-class cumulative window partitions by class; the global
    band cumulative uses the sorted-array prefix trick over <= m structs
    — no partition-less window anywhere."""
    from pyspark.sql import Window

    qi = spark.table("customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    cls = qi.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    cb = qi.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g = qi.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("gc"))
    # global band cumulative + (m, N) via the sorted-array prefix trick
    # (bounded: <= m structs on one row; no partition-less window)
    gcum = (
        g.agg(F.sort_array(F.collect_list(F.struct("band", "gc"))).alias("__a"))
        .select(
            F.expr("size(__a)").alias("m"),
            F.expr("aggregate(__a, cast(0 as bigint), (acc, x) -> acc + x.gc)").alias(
                "n"
            ),
            F.explode(
                F.expr(
                    "transform(__a, (s, i) -> struct(s.band AS band, "
                    "cast(i + 1 as bigint) AS bi, "
                    "aggregate(slice(__a, 1, i + 1), cast(0 as bigint), "
                    "(acc, x) -> acc + x.gc) AS cum_g))"
                )
            ).alias("__s"),
        )
        .select("m", "n", "__s.band", "__s.bi", "__s.cum_g")
    )
    grid = cls.crossJoin(F.broadcast(gcum))
    joined = grid.join(
        cb, ["c_nationkey", "c_mktsegment", "band"], "left"
    ).withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    wc = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = joined.withColumn("cum_c", F.sum("c").over(wc).cast("bigint"))
    emd = cum.groupBy("c_nationkey", "c_mktsegment", "n_rows", "m", "n").agg(
        F.sum(
            F.when(
                F.col("bi") < F.col("m"),
                F.abs(F.col("cum_c") * F.col("n") - F.col("cum_g") * F.col("n_rows")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("num")
    )
    return (
        emd.select(
            "c_nationkey",
            "c_mktsegment",
            "n_rows",
            F.round(
                F.when(F.col("m") <= 1, F.lit(0.0)).otherwise(
                    F.col("num")
                    / ((F.col("m") - 1) * F.col("n_rows") * F.col("n"))
                ),
                6,
            ).alias("t_closeness"),
        )
        .orderBy(F.desc("t_closeness"), "c_nationkey", "c_mktsegment")
        .limit(_TCLOSE_TOP)
    )


_WHALE_TRANS_SQL = """
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM counts),
whales AS (SELECT user_id FROM counts, tot WHERE c * 1000 > t * 8),
nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_whales FROM whales),
kept AS (
  SELECT e.* FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM whales w WHERE w.user_id = e.user_id)),
ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM kept),
pairs AS (
  SELECT event_type AS src, next_type AS dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2),
outdeg AS (SELECT src, CAST(SUM(n) AS BIGINT) AS total FROM pairs GROUP BY 1)
SELECT q.src, q.dst, q.n, q.prob, nw.n_whales
FROM nw LEFT JOIN (
  SELECT p.src, p.dst, p.n, ROUND(CAST(p.n AS DOUBLE) / o.total, 4) AS prob
  FROM pairs p JOIN outdeg o ON p.src = o.src) q ON TRUE
ORDER BY q.src, q.dst
"""


@query("whale_guarded_transitions", oracle=_WHALE_TRANS_SQL)
def whale_guarded_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_transitions behind the journey WHALE GUARD
    (operators/journeys.py — the skew mitigation SCALE.md's zipf
    adjudication prescribes for the per-user sequence windows): users
    holding > 0.8% of all events (exact integer share test,
    c * 1000 > total * 8) are flagged by a broadcast whale set — the
    set is share-bounded (<= 125 keys CAN exceed 0.8%), so the guard
    adds no data-sized shuffle — and excluded from the
    Window.partitionBy(user_id) path sort; the transition matrix is
    computed over the remaining organic users, with the whale count
    carried on every row as the audit column (LEFT-joined FROM the
    audit relation, so an ALL-whale corpus — observed at sf0.001 —
    still reports one NULL-measure row with n_whales instead of an
    empty relation). At 100 TB this is the difference between one bot
    key single-tasking the journey window and the window's per-key
    parallelism holding (SCALE.md zipf rehearsal: guarded form flat at
    sf1skew)."""
    from pyspark.sql import Window

    from dawis_spark.operators.journeys import whale_guard, whale_keys

    e = spark.table("events").select("user_id", "event_type", "ts", "event_id")
    share = (8, 1000)
    nw = whale_keys(e, ["user_id"], max_share=share).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_whales")
    )
    kept = whale_guard(e, ["user_id"], max_share=share).filter(~F.col("is_whale"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        kept.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("src"))
    trans = pairs.select(
        "src", "dst", "n", F.round(F.col("n") / total, 4).alias("prob")
    )
    return _with_whale_audit(trans, nw).orderBy("src", "dst")


def _ljung_box_oracle(max_lag: int) -> str:
    lag_selects = "\n  UNION ALL ".join(
        f"SELECT {k} AS lag, x, x{k} AS xl FROM leads WHERE x{k} IS NOT NULL"
        for k in range(1, max_lag + 1)
    )
    lead_cols = ", ".join(
        f"LEAD(rev, {k}) OVER (ORDER BY d) AS x{k}" for k in range(1, max_lag + 1)
    )
    return f"""
WITH {DAILY_REV_ORDERS_CTE},
leads AS (SELECT rev AS x, {lead_cols} FROM daily),
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
rhos AS (
  SELECT lag, n,
         CAST(n*n*sxy - n*s*(sh + st) + n_pairs*s*s AS DOUBLE)
           / CAST(n*n*sxx - n*s*s AS DOUBLE) AS rho
  FROM per_lag CROSS JOIN gstats)
SELECT CAST(MAX(n) AS BIGINT) AS n, CAST({max_lag} AS INT) AS m,
       ROUND((CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) + 2 AS DOUBLE))
             * list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list(rho * rho / CAST(n - lag AS DOUBLE) ORDER BY lag)),
                 (s, t) -> s + t), 6) AS q_stat
FROM rhos
"""


@query("ljung_box_daily_revenue", oracle=_ljung_box_oracle(10))
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (m=10) on daily revenue — the 'is
    there ANY serial structure' gate that decides whether the
    i.i.d.-assuming members of the hypothesis suite (bootstrap CIs,
    proportion z-tests) may be applied to a time-ordered metric, and
    the standard residual-whiteness check after fitting the Holt/STL
    forecasters: Q = n(n+2) * sum_k rho_k^2/(n-k) ~ chi2(m) under the
    white-noise null.

    Exactness: rho_k from acf's exact DECIMAL(38,0) integers; the
    m-term sum is an ordered lag-sorted fold (the chi-square
    discipline), so both engines accumulate in the same order.

    Scale: one calendar-bounded daily aggregate; the lead window and
    everything after ride the day-bounded series (whitelisted class);
    Q itself is a fold over m=10 doubles
    (operators/stats.py:ljung_box)."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "ljung_box_daily_revenue",
        "day-spine",
        "lags over the day-bounded daily series",
        n_windows=1,
    )
    from dawis_spark.operators.stats import ljung_box

    daily = daily_rev_orders(spark).select("d", "rev")
    return ljung_box(daily, "d", "rev", max_lag=10)


# Closed-form two-feature OLS (normal equations, Cramer's rule), written
# ONCE as SQL expression strings evaluated by BOTH engines (F.expr on the
# Spark side) over identical exact-integer sufficient statistics — same
# expression tree + same IEEE doubles in = bit-identical coefficients out.
_OLS2_DET = "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
_OLS2_B0 = (
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
    f" / {_OLS2_DET}"
)
_OLS2_B1 = (
    "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
    f" / {_OLS2_DET}"
)
_OLS2_B2 = (
    "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"
    f" / {_OLS2_DET}"
)
_OLS2_SSE = (
    "(syy - 2*(b0*sy + b1*s1y + b2*s2y)"
    " + (b0*b0*n + b1*b1*s11 + b2*b2*s22"
    " + 2*(b0*b1*s1 + b0*b2*s2 + b1*b2*s12)))"
)
_OLS2_R2 = f"(1 - {_OLS2_SSE} / (syy - sy*sy/n))"

_OLS2_STAT_CASTS = (
    "CAST(n0 AS DOUBLE) AS n, CAST(s1_i AS DOUBLE) AS s1,"
    " CAST(s2_i AS DOUBLE) AS s2, CAST(s11_i AS DOUBLE) AS s11,"
    " CAST(s22_i AS DOUBLE) AS s22, CAST(s12_i AS DOUBLE) AS s12,"
    " CAST(sy_i AS DOUBLE) AS sy, CAST(syy_i AS DOUBLE) AS syy,"
    " CAST(s1y_i AS DOUBLE) AS s1y, CAST(s2y_i AS DOUBLE) AS s2y"
)

_OLS2_ORACLE = f"""
WITH obs AS (
  SELECT CAST(l_quantity AS HUGEINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS HUGEINT) AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS HUGEINT) AS y
  FROM lineitem),
stats AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n0,
         SUM(x1) AS s1_i, SUM(x2) AS s2_i,
         SUM(x1*x1) AS s11_i, SUM(x2*x2) AS s22_i, SUM(x1*x2) AS s12_i,
         SUM(y) AS sy_i, SUM(y*y) AS syy_i,
         SUM(x1*y) AS s1y_i, SUM(x2*y) AS s2y_i
  FROM obs),
d AS (SELECT {_OLS2_STAT_CASTS} FROM stats),
coef AS (
  SELECT n, s1, s2, s11, s22, s12, sy, syy, s1y, s2y,
         {_OLS2_B0} AS b0, {_OLS2_B1} AS b1, {_OLS2_B2} AS b2
  FROM d)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND(b0, 6) AS intercept_cents,
       ROUND(b1, 6) AS cents_per_qty,
       ROUND(b2, 6) AS cents_per_disc_pt,
       ROUND({_OLS2_R2}, 6) AS r2
FROM coef
"""


@query("ols_price_regression", oracle=_OLS2_ORACLE)
def ols_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS via normal equations — extendedprice_cents ~
    quantity + discount_pct over lineitem, solved closed-form with
    Cramer's rule from ten sufficient statistics. The multiple-
    regression counterpart to theil_sen (robust single-slope): the
    workhorse 'fit a plane to a fact table' primitive a feature
    pipeline runs per segment.

    Exactness: every sufficient statistic is an exact integer sum
    (cents x quantity x discount-points in DECIMAL(38,0)/HUGEINT —
    syy ~ 1e26 at 1e12 rows, inside 38 digits); both engines convert
    the SAME integers to double once and then evaluate the SAME
    expression strings (_OLS2_B0/..., F.expr here, plain SQL there),
    so the coefficient doubles are bit-identical — no tolerance.

    Scale: ONE map-side-combined aggregate over the fact scan collapses
    any data volume to a single 10-number row; the solve is O(1) on
    that row. No shuffle wider than one row ever happens."""
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x1 = d(F.col("l_quantity"))
    x2 = d(F.round(F.col("l_discount") * 100, 0))
    y = d(F.round(F.col("l_extendedprice") * 100, 0))
    stats = spark.table("lineitem").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n0"),
        F.sum(x1).alias("s1_i"),
        F.sum(x2).alias("s2_i"),
        F.sum(x1 * x1).alias("s11_i"),
        F.sum(x2 * x2).alias("s22_i"),
        F.sum(x1 * x2).alias("s12_i"),
        F.sum(y).alias("sy_i"),
        F.sum(y * y).alias("syy_i"),
        F.sum(x1 * y).alias("s1y_i"),
        F.sum(x2 * y).alias("s2y_i"),
    )
    doubles = stats.selectExpr(*_OLS2_STAT_CASTS.split(", "))
    coef = doubles.select(
        "*",
        F.expr(_OLS2_B0).alias("b0"),
        F.expr(_OLS2_B1).alias("b1"),
        F.expr(_OLS2_B2).alias("b2"),
    )
    return coef.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(F.col("b0"), 6).alias("intercept_cents"),
        F.round(F.col("b1"), 6).alias("cents_per_qty"),
        F.round(F.col("b2"), 6).alias("cents_per_disc_pt"),
        F.expr(f"ROUND({_OLS2_R2}, 6)").alias("r2"),
    )


_KDE_G = "mn + i * (mx - mn) / 20"
_KDE_H = "(mx - mn) / 10"
_KDE_U = "(x - g) / h"
_KDE_K = f"0.75 * (1 - ({_KDE_U}) * ({_KDE_U}))"

_KDE_ORACLE = f"""
WITH o AS (SELECT o_totalprice AS x FROM orders),
ext AS (SELECT MIN(x) AS mn, MAX(x) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM o),
grid AS (
  SELECT CAST(i AS INT) AS i, {_KDE_G} AS g, {_KDE_H} AS h, n
  FROM ext, range(0, 21) t(i)),
hits AS (
  SELECT grid.i, grid.g, grid.h, grid.n, {_KDE_K} AS k
  FROM o JOIN grid ON abs({_KDE_U}) < 1)
SELECT i, ROUND(g, 6) AS grid_x, CAST(COUNT(*) AS BIGINT) AS n_win,
       ROUND(SUM(k), 3) AS kernel_mass,
       ROUND(1000000 * SUM(k) / (n * h), 6) AS density_ppm
FROM hits GROUP BY i, g, h, n ORDER BY i
"""


@query("kde_totalprice_density", oracle=_KDE_ORACLE)
def kde_totalprice_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epanechnikov kernel density estimate of order totalprice at a
    21-point grid — the smooth-density companion to
    totalprice_histogram (hard bins) and kde-free iqr_outlier_fences:
    what a profiling UI plots as the distribution curve. Bandwidth
    h = range/10, kernel K(u) = 0.75(1-u^2) on |u| < 1.

    Exactness: grid points, bandwidth, and every per-row kernel term
    come from ONE shared expression string per quantity (_KDE_G/_H/_K,
    F.expr here = oracle text there) over the same parquet doubles, so
    per-row terms are bit-identical; only the summation order differs
    (error ~n*eps*mass ~ 3e-7 at sf0.1 against a 5e-4 rounding margin).

    Scale: the grid is a broadcast 21-row relation; the scan streams
    once through a broadcast nested-loop membership filter (each row
    hits <= 3 grid windows at h = range/10) and collapses map-side to
    a 21-group aggregate — the exchange carries 21 rows regardless of
    data volume."""
    o = spark.table("orders").select(F.col("o_totalprice").alias("x"))
    ext = o.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    grid = ext.select(
        F.explode(F.sequence(F.lit(0), F.lit(20))).alias("i"), "mn", "mx", "n"
    ).selectExpr(
        "CAST(i AS INT) AS i", f"{_KDE_G} AS g", f"{_KDE_H} AS h", "n"
    )
    hits = (
        o.crossJoin(F.broadcast(grid))
        .filter(F.expr(f"abs({_KDE_U}) < 1"))
        .selectExpr("i", "g", "h", "n", f"{_KDE_K} AS k")
    )
    return (
        hits.groupBy("i", "g", "h", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_win"),
            F.sum("k").alias("mass"),
        )
        .selectExpr(
            "i",
            "ROUND(g, 6) AS grid_x",
            "n_win",
            "ROUND(mass, 3) AS kernel_mass",
            "ROUND(1000000 * mass / (n * h), 6) AS density_ppm",
        )
        .orderBy("i")
    )


def _stump_h(p: str) -> str:
    """Binary entropy with the 0*ln(0) guard, as a shared expression
    string (same text evaluated by both engines)."""
    return (
        f"CASE WHEN {p} <= 0 OR {p} >= 1 THEN 0.0 "
        f"ELSE -(({p}) * ln({p}) + (1 - ({p})) * ln(1 - ({p}))) END"
    )


_STUMP_PP = "(CAST(p_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))"
_STUMP_PL = "(CAST(plft AS DOUBLE) / CAST(nlft AS DOUBLE))"
_STUMP_PR = "(CAST(p_tot - plft AS DOUBLE) / CAST(n_tot - nlft AS DOUBLE))"
_STUMP_WL = "(CAST(nlft AS DOUBLE) / CAST(n_tot AS DOUBLE))"
_STUMP_WR = "(CAST(n_tot - nlft AS DOUBLE) / CAST(n_tot AS DOUBLE))"
_STUMP_GAIN = (
    f"{_stump_h(_STUMP_PP)} - {_STUMP_WL} * ({_stump_h(_STUMP_PL)})"
    f" - {_STUMP_WR} * ({_stump_h(_STUMP_PR)})"
)

_STUMP_ORACLE = f"""
WITH per_v AS (
  SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS n_v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos_v
  FROM lineitem GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_v) AS BIGINT) AS n_tot,
         CAST(SUM(pos_v) AS BIGINT) AS p_tot
  FROM per_v),
lefts AS (
  SELECT t.v AS t,
         CAST(SUM(p.n_v) AS BIGINT) AS nlft,
         CAST(SUM(p.pos_v) AS BIGINT) AS plft
  FROM per_v t JOIN per_v p ON p.v <= t.v GROUP BY 1)
SELECT t AS disc_pt_threshold, nlft AS n_left, plft AS pos_left,
       ROUND({_STUMP_GAIN}, 6) AS info_gain
FROM lefts CROSS JOIN tot WHERE nlft < n_tot ORDER BY t
"""


@query("decision_stump_discount", oracle=_STUMP_ORACLE)
def decision_stump_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 decision tree (stump) over l_discount predicting the
    'R' returnflag: information gain of every candidate split
    x <= t vs x > t — the greedy-split primitive inside any
    tree/boosting trainer and the feature-importance screen a data
    pipeline runs before committing a column to a model.

    Exactness: all split counts are exact integers from one
    value-keyed aggregate + an 11x11 bounded self-join (no window, no
    prefix-sum over data); the entropy/gain arithmetic is a shared
    expression string (_STUMP_GAIN) both engines evaluate over the
    same doubles — only ln's last-ulp may differ, absorbed by
    round 6.

    Scale: the fact scan collapses map-side to |distinct values| rows
    (11 here; any real feature is binned to O(100) first); everything
    after is value-bounded. This is the stump the curriculum/quality
    families would call per feature."""
    per_v = (
        spark.table("lineitem")
        .groupBy(
            F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("v")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v"),
            F.sum((F.col("l_returnflag") == "R").cast("int"))
            .cast("bigint")
            .alias("pos_v"),
        )
    )
    tot = per_v.agg(
        F.sum("n_v").cast("bigint").alias("n_tot"),
        F.sum("pos_v").cast("bigint").alias("p_tot"),
    )
    t_side = per_v.select(F.col("v").alias("t"))
    lefts = (
        t_side.join(F.broadcast(per_v), per_v.v <= t_side.t)
        .groupBy("t")
        .agg(
            F.sum("n_v").cast("bigint").alias("nlft"),
            F.sum("pos_v").cast("bigint").alias("plft"),
        )
    )
    return (
        lefts.crossJoin(F.broadcast(tot))
        .filter(F.col("nlft") < F.col("n_tot"))
        .selectExpr(
            "t AS disc_pt_threshold",
            "nlft AS n_left",
            "plft AS pos_left",
            f"ROUND({_STUMP_GAIN}, 6) AS info_gain",
        )
        .orderBy("disc_pt_threshold")
    )


# Per-(doc, lang) log-posterior, written once and evaluated by both
# engines over identically-named columns. Unseen tokens contribute
# exactly 0 to the seen-sum (ln(0+1)=0 would anyway), so the only
# per-lang correction is the -TF(d)*ln(T_l+V) smoothing denominator.
_NB_SCORE = (
    "ln(d_l) - ln(d) + COALESCE(seen_s, CAST(0 AS DOUBLE))"
    " - tf_tot * ln(t_l + v)"
)

# CTE chain ending in ev(actual docs) + pred(doc_id, predicted) — shared
# by the confusion-matrix oracle and the McNemar paired-comparison oracle.
_NB_CTES = f"""train AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
ev AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
ttok AS (
  SELECT lang, t FROM (
    SELECT lang, unnest(string_split(lower(text), ' ')) AS t FROM train)
  WHERE t <> ''),
ct AS (SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2),
tl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t_l FROM ct GROUP BY 1),
vt AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM ct),
pri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_l FROM train GROUP BY 1),
dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM train),
langs AS (
  SELECT pri.lang, d_l, t_l, v, d
  FROM pri JOIN tl USING (lang) CROSS JOIN vt CROSS JOIN dtot),
etok AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM ev)
  WHERE t <> '' GROUP BY 1, 2),
etot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_tot FROM etok GROUP BY 1),
seen AS (
  SELECT e.doc_id, ct.lang, SUM(e.tf * ln(ct.c + 1)) AS seen_s
  FROM etok e JOIN ct ON e.t = ct.t GROUP BY 1, 2),
scored AS (
  SELECT etot.doc_id, l.lang, {_NB_SCORE} AS score
  FROM etot CROSS JOIN langs l
  LEFT JOIN seen s ON s.doc_id = etot.doc_id AND s.lang = l.lang),
pred AS (
  SELECT doc_id, lang AS predicted FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang ASC) AS rn
    FROM scored)
  WHERE rn = 1)"""

_NB_ORACLE = f"""
WITH {_NB_CTES}
SELECT d.lang AS actual, p.predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM ev d JOIN pred p USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def nb_langid_predictions(spark: SparkSession):
    """Shared naive-Bayes language-ID derivation: (held-out docs,
    per-doc argmax predictions). naive_bayes_langid consumes it as a
    confusion matrix; q05's mcnemar_langid_vs_nb pairs the SAME
    predictions against the stopword heuristic — extracting it keeps
    the two queries' model relations definitionally identical instead
    of copy-synchronized (the r13 registry-split leftover).

    Plan shape (the part both callers inherit): the model is a
    (lang x vocab) relation, the eval join shuffles token keys, the
    doc x lang fan-out broadcasts |langs| rows, and the argmax window
    is partitioned BY doc."""
    from pyspark.sql import Window

    docs = spark.table("documents")
    train = docs.filter(F.col("doc_id") % 4 != 0)
    ev = docs.filter(F.col("doc_id") % 4 == 0)

    def tok(df, keep):
        return (
            df.select(*keep, F.explode(F.split(F.lower("text"), " ")).alias("t"))
            .filter(F.col("t") != "")
        )

    ct = (
        tok(train, ["lang"])
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tl = ct.groupBy("lang").agg(F.sum("c").cast("bigint").alias("t_l"))
    vt = ct.agg(F.countDistinct("t").cast("bigint").alias("v"))
    pri = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("d_l")
    )
    dtot = train.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    langs = (
        pri.join(tl, "lang").crossJoin(F.broadcast(vt)).crossJoin(F.broadcast(dtot))
    )
    etok = (
        tok(ev, ["doc_id"])
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    etot = etok.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("tf_tot"))
    seen = (
        etok.join(ct, "t")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.log(F.col("c") + 1)).alias("seen_s"))
    )
    scored = (
        etot.crossJoin(F.broadcast(langs))
        .join(seen, ["doc_id", "lang"], "left")
        .selectExpr("doc_id", "lang", f"{_NB_SCORE} AS score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted"))
    )
    return ev, pred


@query("naive_bayes_langid", oracle=_NB_ORACLE)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained on 3/4 of the corpus (Laplace
    smoothing) and evaluated as a confusion matrix on the held-out
    quarter — a LEARNED language classifier next to the fixed
    stopword-ratio heuristic (langid_confusion_matrix): the full
    train/apply/eval ML loop expressed relationally.

    Determinism: both engines tokenize with the same split, build the
    same exact-integer count model, and evaluate the same score string
    (_NB_SCORE); the per-(doc,lang) seen-token sum is the one
    order-nondeterministic float reduce, and it only matters at exact
    argmax ties, which the (score DESC, lang ASC) tiebreak resolves
    identically for any difference above ulp noise.

    Scale: the model is a (lang x vocab) relation — sublinear in corpus
    size; the eval-token/model join shuffles int-hashable (token) keys;
    the doc x lang fan-out is a |langs|-constant broadcast cross join;
    the argmax window is partitioned BY doc. Nothing single-partitions
    and no text crosses an exchange after tokenization."""
    ev, pred = nb_langid_predictions(spark)
    return (
        ev.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


# Two-proportion pooled z (nation vs rest-of-world), then the two-sided
# p-value via the Abramowitz-Stegun 7.1.26 erf polynomial — a closed
# form both engines evaluate from the SAME expression strings, since
# neither Spark SQL nor a portable oracle has a builtin normal CDF.
# For a two-sided test, p = 2*(1 - Phi(|z|)) = 1 - erf(|z|/sqrt(2)),
# and with the A&S form erf(x) = 1 - poly(t)*exp(-x^2), that collapses
# to p = poly(t)*exp(-x^2), t = 1/(1 + 0.3275911*x) (|error| < 1.5e-7).
_BH_Z = (
    "(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1 / CAST(n1 AS DOUBLE) + 1 / CAST(n2 AS DOUBLE)))"
)
_BH_AZ = "abs(z) / sqrt(2)"
_BH_TT = "1 / (1 + 0.3275911 * az)"
_BH_P = (
    "((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt"
    " - 0.284496736) * tt + 0.254829592) * tt * exp(-(az * az))"
)
_BH_CRIT = "CAST(rn AS DOUBLE) / CAST(m AS DOUBLE) * 0.05"

_BH_ORACLE = f"""
WITH per_nation AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k1
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS nn, CAST(SUM(k1) AS BIGINT) AS kk,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM per_nation),
base AS (
  SELECT n_name, n1, k1, nn - n1 AS n2, kk - k1 AS k2, m
  FROM per_nation CROSS JOIN tot
  JOIN nation ON n_nationkey = c_nationkey),
zs AS (SELECT n_name, n1, k1, m, {_BH_Z} AS z FROM base),
ps AS (
  SELECT n_name, n1, k1, m, z, {_BH_P} AS p
  FROM (SELECT *, {_BH_TT} AS tt
        FROM (SELECT *, {_BH_AZ} AS az FROM zs))),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p, n_name) AS rn FROM ps),
flagged AS (
  SELECT *, CASE WHEN p <= {_BH_CRIT} THEN 1 ELSE 0 END AS pass_i
  FROM ranked)
SELECT n_name, n1 AS n_orders, k1 AS n_urgent,
       ROUND(z, 6) AS z_score, ROUND(p, 6) AS p_value,
       CAST(rn AS INT) AS p_rank,
       CAST(MAX(pass_i) OVER (ORDER BY rn
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS INT)
         AS rejected
FROM flagged ORDER BY p_rank
"""


@query("fdr_bh_nation_urgency", oracle=_BH_ORACLE)
def fdr_bh_nation_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over 25 simultaneous hypothesis
    tests — per-nation urgent-order share vs the rest of the world,
    two-proportion pooled z each, then the step-up procedure (reject
    all ranks <= max{i : p_(i) <= i/m * alpha}, alpha=0.05). The
    multiple-comparisons discipline every per-segment screening query
    in the suite (proportion_ztest run per group) actually requires.

    Determinism: counts are exact integers off one fact-dim join; z,
    the A&S-7.1.26 p-value, and the BH threshold are shared expression
    strings (_BH_Z/_BH_P/_BH_CRIT) — bit-identical modulo exp()'s last
    ulp, absorbed by round 6 and irrelevant to the step-up comparisons
    at any realistic margin.

    Scale: the orders-customer join is the canonical co-partitioned
    fact-dim shuffle; everything after is a 25-row relation, so the
    rank/step-up windows are nation-bounded (whitelisted class)."""
    from dawis_spark.plans.bounded import register_bounded

    register_bounded(
        "fdr_bh_nation_urgency",
        "category-domain",
        "rank/step-up over the 25-row nation test relation",
        n_windows=2,
    )

    from pyspark.sql import Window

    per_nation = (
        spark.table("orders")
        .join(
            spark.table("customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n1"),
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("int"))
            .cast("bigint")
            .alias("k1"),
        )
    )
    tot = per_nation.agg(
        F.sum("n1").cast("bigint").alias("nn"),
        F.sum("k1").cast("bigint").alias("kk"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    base = (
        per_nation.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(spark.table("nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .selectExpr(
            "n_name", "n1", "k1", "nn - n1 AS n2", "kk - k1 AS k2", "m"
        )
    )
    ps = (
        base.selectExpr("n_name", "n1", "k1", "m", f"{_BH_Z} AS z")
        .selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr("n_name", "n1", "k1", "m", "z", f"{_BH_P} AS p")
    )
    ranked = ps.withColumn(
        "rn", F.row_number().over(Window.orderBy("p", "n_name"))
    ).withColumn(
        "pass_i",
        F.expr(f"CASE WHEN p <= {_BH_CRIT} THEN 1 ELSE 0 END"),
    )
    wrej = (
        Window.orderBy("rn").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return ranked.select(
        "n_name",
        F.col("n1").alias("n_orders"),
        F.col("k1").alias("n_urgent"),
        F.round("z", 6).alias("z_score"),
        F.round("p", 6).alias("p_value"),
        F.col("rn").cast("int").alias("p_rank"),
        F.max("pass_i").over(wrej).cast("int").alias("rejected"),
    ).orderBy("p_rank")


from dawis_spark.operators.stats import (
    ANOVA_ETA2 as _ANOVA_ETA2,
    ANOVA_F as _ANOVA_F,
    ANOVA_SSB as _ANOVA_SSB,
    ANOVA_SSW as _ANOVA_SSW,
    WELCH_DF as _WELCH_DF,
    WELCH_P as _WELCH_P,
    WELCH_T as _WELCH_T,
)

_CENTS_O = "CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)"

_WELCH_ORACLE = f"""
WITH one AS (
  SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS HUGEINT) AS n1_i,
         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS HUGEINT) AS n2_i,
         SUM(CASE WHEN o_orderstatus = 'F' THEN {_CENTS_O} END) AS s1_i,
         SUM(CASE WHEN o_orderstatus = 'O' THEN {_CENTS_O} END) AS s2_i,
         SUM(CASE WHEN o_orderstatus = 'F' THEN {_CENTS_O} * {_CENTS_O} END) AS q1_i,
         SUM(CASE WHEN o_orderstatus = 'O' THEN {_CENTS_O} * {_CENTS_O} END) AS q2_i
  FROM orders WHERE o_orderstatus IN ('F', 'O')),
d AS (
  SELECT CAST(n1_i AS DOUBLE) AS n1, CAST(n2_i AS DOUBLE) AS n2,
         CAST(s1_i AS DOUBLE) AS s1, CAST(s2_i AS DOUBLE) AS s2,
         CAST(n1_i * q1_i - s1_i * s1_i AS DOUBLE) AS nv1,
         CAST(n2_i * q2_i - s2_i * s2_i AS DOUBLE) AS nv2
  FROM one)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND(s1 / n1, 4) AS mean1, ROUND(s2 / n2, 4) AS mean2,
       ROUND({_WELCH_T}, 6) AS t_stat,
       ROUND({_WELCH_DF}, 4) AS df_welch,
       ROUND({_WELCH_P}, 6) AS p_value
FROM d
"""


@query("welch_ttest_order_value", oracle=_WELCH_ORACLE)
def welch_ttest_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: do finished ('F') and open
    ('O') orders differ in mean value? The two-sample mean-comparison
    companion to proportion_ztest (shares) and mann_whitney_drift
    (distribution shift) — Welch rather than pooled Student because
    segment variances are never equal in practice.

    Exactness: one conditional exact-integer aggregate (cents
    discipline); t, the Welch-Satterthwaite df, and the A&S-7.1.26
    normal p-value are shared expression strings evaluated by both
    engines over the same doubles (operators/stats.py:welch_ttest).

    Scale: single scan collapsing map-side to one 6-number row — no
    exchange wider than one row."""
    from dawis_spark.operators.stats import welch_ttest

    o = spark.table("orders").select(
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return welch_ttest(o, "o_orderstatus", "cents", "F", "O")


_ANOVA_ORACLE = f"""
WITH per AS (
  SELECT o_orderpriority AS g, CAST(COUNT(*) AS HUGEINT) AS n_g,
         SUM({_CENTS_O}) AS s_g,
         SUM({_CENTS_O} * {_CENTS_O}) AS q_g
  FROM orders GROUP BY 1),
terms AS (
  SELECT g, n_g, s_g, q_g,
         CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS t_g
  FROM per),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_i,
         SUM(n_g) AS n_i, SUM(s_g) AS s_i, SUM(q_g) AS q_i,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(t_g ORDER BY g)), (acc, e) -> acc + e) AS sum_tg
  FROM terms),
d AS (
  SELECT k_i, n_i, CAST(k_i AS DOUBLE) AS k, CAST(n_i AS DOUBLE) AS n,
         CAST(q_i AS DOUBLE) AS q,
         CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS ss_over_n,
         sum_tg
  FROM folded)
SELECT CAST(k_i AS INT) AS k_groups, CAST(n_i AS BIGINT) AS n_rows,
       ROUND({_ANOVA_SSB}, 4) AS ssb, ROUND({_ANOVA_SSW}, 4) AS ssw,
       ROUND({_ANOVA_F}, 6) AS f_stat,
       ROUND({_ANOVA_ETA2}, 6) AS eta_squared
FROM d
"""


@query("anova_order_value_priority", oracle=_ANOVA_ORACLE)
def anova_order_value_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean order value differ across the five
    order priorities? The k-group generalization of
    welch_ttest_order_value — the screen run BEFORE k*(k-1)/2 pairwise
    tests (which fdr_bh_nation_urgency then corrects), with eta^2 as
    the effect size a significance-only report omits.

    Exactness: per-group exact-integer sufficient statistics; each
    group's s^2/n pays one identical double division and the k-term
    sum is an ordered group-sorted fold; F/eta^2 are shared expression
    strings (operators/stats.py:anova_oneway).

    Scale: one keyed aggregate to k=5 rows; everything after is
    group-cardinality-bounded."""
    from dawis_spark.operators.stats import anova_oneway

    o = spark.table("orders").select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    return anova_oneway(o, "o_orderpriority", "cents")


_ASSOC_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS r, l_linestatus AS c, CAST(COUNT(*) AS BIGINT) AS obs
  FROM lineitem GROUP BY 1, 2),
rows_m AS (SELECT r, CAST(SUM(obs) AS BIGINT) AS row_n FROM cells GROUP BY 1),
cols_m AS (SELECT c, CAST(SUM(obs) AS BIGINT) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
scored AS (
  SELECT rm.r, cm.c, CAST(COALESCE(obs, 0) AS BIGINT) AS obs, row_n, col_n, n
  FROM rows_m rm CROSS JOIN cols_m cm
  LEFT JOIN cells ON cells.r = rm.r AND cells.c = cm.c
  CROSS JOIN tot),
terms AS (
  SELECT r, c, n,
         CAST((CAST(obs AS HUGEINT) * n - CAST(row_n AS HUGEINT) * col_n)
              * (CAST(obs AS HUGEINT) * n - CAST(row_n AS HUGEINT) * col_n) AS DOUBLE)
           / CAST(CAST(row_n AS HUGEINT) * col_n * n AS DOUBLE) AS chi_term,
         CASE WHEN obs > 0 THEN
           (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(CAST(obs AS HUGEINT) * n AS DOUBLE)
                / CAST(CAST(row_n AS HUGEINT) * col_n AS DOUBLE))
         ELSE 0.0 END AS mi_term
  FROM scored),
cell_fold AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COUNT(DISTINCT r) - 1 AS BIGINT) AS rm1,
         CAST(COUNT(DISTINCT c) - 1 AS BIGINT) AS cm1,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(chi_term ORDER BY r, c)), (acc, e) -> acc + e) AS chi2_raw,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(mi_term ORDER BY r, c)), (acc, e) -> acc + e) AS mi_raw
  FROM terms),
hr AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(-(CAST(row_n AS DOUBLE) / CAST(n AS DOUBLE))
                * ln(CAST(row_n AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY r)),
         (acc, e) -> acc + e) AS h_r
  FROM (SELECT DISTINCT r, row_n, n FROM scored)),
hc AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(-(CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
                * ln(CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY c)),
         (acc, e) -> acc + e) AS h_c
  FROM (SELECT DISTINCT c, col_n, n FROM scored))
SELECT n_rows, n_cells, CAST(rm1 * cm1 AS BIGINT) AS dof,
       ROUND(chi2_raw, 6) AS chi2,
       ROUND(sqrt(chi2_raw / (CAST(n_rows AS DOUBLE) * least(rm1, cm1))), 6)
         AS cramers_v,
       ROUND(mi_raw, 6) AS mi_nats,
       ROUND(mi_raw / sqrt(h_r * h_c), 6) AS nmi
FROM cell_fold CROSS JOIN hr CROSS JOIN hc
"""


@query("categorical_association_profile", oracle=_ASSOC_ORACLE)
def categorical_association_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size profile for the returnflag x linestatus association:
    chi-square (is there ANY dependence), Cramér's V and normalized
    mutual information (how MUCH, on [0, 1]) in one pass — what a
    feature-selection/profiling sweep ranks categorical column pairs
    by, complementing feature_correlations (numeric) and
    chi_square_independence (significance only).

    Exactness: exact-integer cells/marginals; per-cell chi/MI terms pay
    one double division (+ln) evaluated identically in both engines;
    every sum is an ordered fold (operators/stats.py:
    categorical_association).

    Scale: one keyed aggregate to the 6-cell contingency relation;
    marginal windows and folds are cell-/category-bounded."""
    from dawis_spark.operators.stats import categorical_association

    li = spark.table("lineitem").select("l_returnflag", "l_linestatus")
    return categorical_association(li, "l_returnflag", "l_linestatus")


# Per-(doc, lang) log-posterior for the fold model — same shape as
# _NB_SCORE but over the LEAVE-ONE-FOLD-OUT parameters (t_l, v, d_l, d
# are per-fold). Written once, evaluated by both engines.
_NBCV_SCORE = (
    "ln(d_l) - ln(d) + COALESCE(seen_s, CAST(0 AS DOUBLE))"
    " - tf_tot * ln(t_l + v)"
)

_NBCV_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(doc_id % 4 AS INT) AS fold, lang, t FROM (
    SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS t
    FROM documents)
  WHERE t <> ''),
ctf AS (
  SELECT fold, lang, t, CAST(COUNT(*) AS BIGINT) AS c_f
  FROM toks GROUP BY 1, 2, 3),
ct_tot AS (
  SELECT lang, t, CAST(SUM(c_f) AS BIGINT) AS c_tot FROM ctf GROUP BY 1, 2),
fold_l AS (
  SELECT fold, lang, CAST(SUM(c_f) AS BIGINT) AS f_l FROM ctf GROUP BY 1, 2),
tot_l AS (SELECT lang, CAST(SUM(c_tot) AS BIGINT) AS tl_all FROM ct_tot GROUP BY 1),
tok_tot AS (SELECT t, CAST(SUM(c_tot) AS BIGINT) AS tt FROM ct_tot GROUP BY 1),
tok_f AS (
  SELECT fold, t, CAST(SUM(c_f) AS BIGINT) AS tf_cnt FROM ctf GROUP BY 1, 2),
v_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS va FROM tok_tot),
v_only AS (
  SELECT f.fold, CAST(COUNT(*) AS BIGINT) AS vo
  FROM tok_f f JOIN tok_tot USING (t) WHERE f.tf_cnt = tok_tot.tt
  GROUP BY 1),
folds AS (SELECT DISTINCT CAST(doc_id % 4 AS INT) AS fold FROM documents),
v_f AS (
  SELECT folds.fold, va - COALESCE(vo, 0) AS v
  FROM folds CROSS JOIN v_all LEFT JOIN v_only ON v_only.fold = folds.fold),
d_fold AS (
  SELECT CAST(doc_id % 4 AS INT) AS fold, lang,
         CAST(COUNT(*) AS BIGINT) AS df_l
  FROM documents GROUP BY 1, 2),
d_tot AS (SELECT lang, CAST(SUM(df_l) AS BIGINT) AS dt_l FROM d_fold GROUP BY 1),
langs AS (
  SELECT folds.fold, d_tot.lang,
         dt_l - COALESCE(df_l, 0) AS d_l,
         tl_all - COALESCE(f_l, 0) AS t_l,
         v
  FROM folds CROSS JOIN d_tot
  JOIN tot_l ON tot_l.lang = d_tot.lang
  JOIN v_f ON v_f.fold = folds.fold
  LEFT JOIN d_fold ON d_fold.fold = folds.fold AND d_fold.lang = d_tot.lang
  LEFT JOIN fold_l ON fold_l.fold = folds.fold AND fold_l.lang = d_tot.lang),
d_train AS (
  SELECT fold, CAST(SUM(d_l) AS BIGINT) AS d FROM langs GROUP BY 1),
etok AS (
  SELECT doc_id, fold, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, fold, t FROM toks) GROUP BY 1, 2, 3),
etot AS (
  SELECT doc_id, fold, CAST(SUM(tf) AS BIGINT) AS tf_tot
  FROM etok GROUP BY 1, 2),
seen AS (
  SELECT e.doc_id, ct_tot.lang,
         SUM(e.tf * ln(ct_tot.c_tot - COALESCE(ctf.c_f, 0) + 1)) AS seen_s
  FROM etok e
  JOIN ct_tot ON ct_tot.t = e.t
  LEFT JOIN ctf ON ctf.fold = e.fold AND ctf.lang = ct_tot.lang
                AND ctf.t = e.t
  WHERE ct_tot.c_tot - COALESCE(ctf.c_f, 0) > 0
  GROUP BY 1, 2),
scored AS (
  SELECT etot.doc_id, etot.fold, l.lang, {_NBCV_SCORE} AS score
  FROM etot
  JOIN langs l ON l.fold = etot.fold
  JOIN d_train ON d_train.fold = etot.fold
  LEFT JOIN seen s ON s.doc_id = etot.doc_id AND s.lang = l.lang),
pred AS (
  SELECT doc_id, fold, lang AS predicted FROM (
    SELECT doc_id, fold, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang ASC) AS rn
    FROM scored)
  WHERE rn = 1)
SELECT p.fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.lang = p.predicted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(CAST(SUM(CASE WHEN d.lang = p.predicted THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


@query("naive_bayes_cv_folds", oracle=_NBCV_ORACLE)
def naive_bayes_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-fold cross-validated naive Bayes language ID — per-fold
    held-out accuracy, the variance-aware upgrade of the single-split
    naive_bayes_langid eval. The k models are NEVER trained
    separately: one tokenization pass builds per-(fold, lang, token)
    counts, and fold f's training counts are the TOTALS MINUS fold f's
    (the leave-one-out subtraction trick) — per-fold vocabulary size
    and priors likewise by subtraction, so k-fold CV costs one corpus
    scan plus vocabulary-sized arithmetic instead of k scans.

    Determinism: same discipline as naive_bayes_langid — exact-integer
    count models, shared score string (_NBCV_SCORE), (score DESC, lang
    ASC) argmax tiebreak; the per-(doc,lang) seen-sum is the one float
    reduce and only matters at exact argmax ties.

    Scale: model relations are folds x vocabulary-sized (4x the langid
    model), never corpus-sized; the eval-token/model join shuffles
    token keys; the doc x lang fan-out is |langs|-bounded; the argmax
    window is partitioned by doc."""
    from pyspark.sql import Window

    docs = spark.table("documents").withColumn(
        "fold", (F.col("doc_id") % 4).cast("int")
    )
    toks = docs.select(
        "doc_id",
        "fold",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("t"),
    ).filter(F.col("t") != "")

    # persisted: ctf feeds ct_tot, fold_l, tok_f AND the c_train left
    # join — four consumers, each otherwise re-running the corpus
    # tokenize+explode+count end-to-end (the before-plan showed 40
    # parquet scans of documents). folds x langs x vocabulary rows —
    # bounded model state, the r15 persist discipline (r16, guide §2.4)
    ctf = toks.groupBy("fold", "lang", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_f")
    ).persist()
    ct_tot = ctf.groupBy("lang", "t").agg(
        F.sum("c_f").cast("bigint").alias("c_tot")
    )
    fold_l = ctf.groupBy("fold", "lang").agg(
        F.sum("c_f").cast("bigint").alias("f_l")
    )
    tot_l = ct_tot.groupBy("lang").agg(
        F.sum("c_tot").cast("bigint").alias("tl_all")
    )
    tok_tot = ct_tot.groupBy("t").agg(F.sum("c_tot").cast("bigint").alias("tt"))
    tok_f = ctf.groupBy("fold", "t").agg(
        F.sum("c_f").cast("bigint").alias("tf_cnt")
    )
    v_all = tok_tot.agg(F.count(F.lit(1)).cast("bigint").alias("va"))
    v_only = (
        tok_f.join(tok_tot, "t")
        .filter(F.col("tf_cnt") == F.col("tt"))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vo"))
    )
    folds = docs.select("fold").distinct()
    v_f = (
        folds.crossJoin(F.broadcast(v_all))
        .join(F.broadcast(v_only), "fold", "left")
        .select(
            "fold",
            (F.col("va") - F.coalesce(F.col("vo"), F.lit(0))).alias("v"),
        )
    )
    d_fold = docs.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_l")
    )
    d_tot = d_fold.groupBy("lang").agg(F.sum("df_l").cast("bigint").alias("dt_l"))
    langs = (
        folds.crossJoin(F.broadcast(d_tot))
        .join(F.broadcast(tot_l), "lang")
        .join(F.broadcast(v_f), "fold")
        .join(F.broadcast(d_fold), ["fold", "lang"], "left")
        .join(F.broadcast(fold_l), ["fold", "lang"], "left")
        .select(
            "fold",
            "lang",
            (F.col("dt_l") - F.coalesce(F.col("df_l"), F.lit(0))).alias("d_l"),
            (F.col("tl_all") - F.coalesce(F.col("f_l"), F.lit(0))).alias("t_l"),
            "v",
        )
    )
    d_train = langs.groupBy("fold").agg(F.sum("d_l").cast("bigint").alias("d"))

    # persisted: the eval-side per-doc term counts feed etot AND the
    # c_train model join — one tokenize pass instead of two (per-doc
    # DISTINCT tokens, ~an order smaller than the raw token stream)
    etok = toks.groupBy("doc_id", "fold", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    ).persist()
    etot = etok.groupBy("doc_id", "fold").agg(
        F.sum("tf").cast("bigint").alias("tf_tot")
    )
    c_train = (
        etok.join(ct_tot, "t")
        .join(ctf, ["fold", "lang", "t"], "left")
        .select(
            "doc_id",
            "fold",
            "lang",
            "tf",
            (F.col("c_tot") - F.coalesce(F.col("c_f"), F.lit(0))).alias("c_tr"),
        )
        .filter(F.col("c_tr") > 0)
    )
    seen = c_train.groupBy("doc_id", "lang").agg(
        F.sum(F.col("tf") * F.log(F.col("c_tr") + 1)).alias("seen_s")
    )
    scored = (
        etot.join(F.broadcast(langs), "fold")
        .join(F.broadcast(d_train), "fold")
        .join(seen, ["doc_id", "lang"], "left")
        .selectExpr("doc_id", "fold", "lang", f"{_NBCV_SCORE} AS score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fold", F.col("lang").alias("predicted"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("actual") == F.col("predicted")).cast("int"))
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "fold",
            "n_docs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("fold")
    )


_PCA_SCALE = 1_000_000
_PCA_ITERS = 12

# Covariance entry from the exact-integer moments (shared string shape):
# C_ij = (n*S_ij - m_i*m_j) / (n^2 * scale^2), the integer numerator cast
# to double ONCE in both engines.
_PCA_C = (
    "CAST(n_i * s_ij - m_i * m_j AS DOUBLE)"
    " / (CAST(n_i AS DOUBLE) * CAST(n_i AS DOUBLE)"
    f" * {_PCA_SCALE}.0 * {_PCA_SCALE}.0)"
)


def _pca_oracle() -> str:
    its = []
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        its.append(
            f"""w{t} AS MATERIALIZED (
  SELECT m.i AS i,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(m.c * v.v ORDER BY m.j)), (a, b) -> a + b) AS w
  FROM mat m JOIN {prev} v ON v.i = m.j GROUP BY m.i),
n{t} AS (
  SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list(w * w ORDER BY i)), (a, b) -> a + b)) AS nr
  FROM w{t}),
v{t} AS (SELECT i, w / nr AS v FROM w{t} CROSS JOIN n{t})"""
        )
        prev = f"v{t}"
    iter_ctes = ",\n".join(its)
    return f"""
WITH comps AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {_PCA_SCALE}, 0)
              AS HUGEINT) AS q
  FROM embeddings),
moms AS (
  SELECT i, SUM(q) AS m_i, CAST(COUNT(*) AS HUGEINT) AS n_i
  FROM comps GROUP BY i),
sij AS (
  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s_ij
  FROM comps a JOIN comps b USING (vec_id) GROUP BY 1, 2),
mat AS MATERIALIZED (
  SELECT s.i, s.j, {_PCA_C} AS c
  FROM (SELECT i, j, s_ij FROM sij) s
  JOIN (SELECT i, m_i, n_i FROM moms) mm ON mm.i = s.i
  JOIN (SELECT i AS ji, m_i AS m_j FROM moms) mj ON mj.ji = s.j),
v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS v FROM moms),
{iter_ctes},
ref AS (
  SELECT (list(CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END
               ORDER BY abs(v) DESC, i))[1] AS sgn
  FROM v{_PCA_ITERS})
SELECT CAST(v.i AS INT) AS component,
       ROUND(v.v * sgn, 6) AS loading,
       ROUND(nr, 6) AS eigenvalue
FROM v{_PCA_ITERS} v CROSS JOIN n{_PCA_ITERS} CROSS JOIN ref
ORDER BY component
"""


@query("pca_top_component", oracle=_pca_oracle())
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance by 12
    power iterations: per-dimension loading + the dominant
    eigenvalue. The spectral profile an embedding pipeline checks
    before trusting cosine geometry (anisotropy = one direction
    hogging variance degrades every ANN family upstream), and the
    whitening/JL companion to embedding_ann_jl.

    Exactness — iterative float linear algebra made bit-identical:
    components quantize to ints (x * 1e6, the nearest_centroid
    discipline) so the 64x64 covariance comes from EXACT integer
    moments paying one double cast per entry; every matvec and norm in
    the 12 iterations is a left fold from 0.0 (``folds.left_sum``, by j
    within row, by i across rows), the order of the oracle's unrolled
    ``list_reduce`` CTEs. Python floats are IEEE doubles and
    ``math.sqrt`` is correctly rounded, so the driver and the oracle
    accumulate the same values and the loadings agree bit-for-bit
    regardless of convergence state. Sign is fixed by the max-|loading|
    component (ties by smallest index). The 6-digit rounding stays a
    Spark projection (HALF_UP; Python's ``round`` is half-even).

    Scale: the Gram pass is a mapInPandas integer accumulator — each
    Arrow batch contributes one exact int64 Q^T Q (values fit: q <=
    ~1e6 scaled, so a 10k-row batch partial is <= ~3e15 << 2^63) plus
    the moment vector, and the exchange carries batches x 4,161 rows of
    partial integers, never vectors (the quantizer stays JVM-side so no
    Python rounding can diverge from the oracle's). The earlier
    explode-to-pairs formulation was 64x the scan volume — measured 7x
    for 10x data at sf1; the accumulator's linear part is just the
    batch matmul. The 4,096-cell covariance is dimension-bounded: it is
    collected once and the iterations run on the driver (MLlib's
    computePrincipalComponents shape: Gramian distributed, solve
    local); nothing downstream of the first aggregate sees data
    volume."""
    import math

    import pandas as pd

    emb = spark.table("embeddings")
    qvec = emb.select(
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)"
            f" * {_PCA_SCALE}, 0) AS BIGINT))"
        ).alias("q")
    )

    def gram_partials(it):
        import numpy as np

        for pdf in it:
            Q = np.array(pdf["q"].tolist(), dtype=np.int64)
            if Q.size == 0:
                continue
            G = Q.T @ Q
            s = Q.sum(axis=0)
            dim = Q.shape[1]
            ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(dim), [-1]]),
                    "j": np.concatenate(
                        [jj.ravel(), np.full(dim, -1), [-1]]
                    ),
                    "v": np.concatenate([G.ravel(), s, [Q.shape[0]]]),
                }
            )

    partials = qvec.mapInPandas(gram_partials, "i int, j int, v long")
    sums = partials.groupBy("i", "j").agg(
        F.sum(F.col("v").cast("decimal(38,0)")).alias("v")
    )
    n_row = sums.filter("i = -1 AND j = -1").select(F.col("v").alias("n_i"))
    moms = (
        sums.filter("i >= 0 AND j = -1")
        .select("i", F.col("v").alias("m_i"))
        .crossJoin(F.broadcast(n_row))
    )
    sij = sums.filter("i >= 0 AND j >= 0").select(
        "i", "j", F.col("v").alias("s_ij")
    )
    mat = (
        sij.join(F.broadcast(moms), "i")
        .join(
            F.broadcast(moms.select(F.col("i").alias("j"), F.col("m_i").alias("m_j"))),
            "j",
        )
        .selectExpr("i", "j", f"{_PCA_C} AS c")
    )
    # the Gram is a full dim x dim square, so every column j is a row i
    rows: dict = {}
    for r in mat.collect():
        rows.setdefault(r["i"], []).append((r["j"], r["c"]))
    v = {i: 0.125 for i in rows}
    nr = 0.0
    for _ in range(_PCA_ITERS):
        w = {
            i: left_sum(c * v[j] for j, c in sorted(row))
            for i, row in rows.items()
        }
        nr = math.sqrt(left_sum(x * x for _, x in sorted(w.items())))
        v = {i: x / nr for i, x in w.items()}
    ref = min(v.items(), key=lambda iv: (-abs(iv[1]), iv[0]), default=(0, 0.0))
    sgn = -1.0 if ref[1] < 0 else 1.0
    # a pandas frame crosses through Arrow as one partition; a row list
    # is parallelized into one task per core, seconds per run at
    # local[32]
    return (
        spark.createDataFrame(
            pd.DataFrame(
                {"i": list(v), "v": list(v.values()), "sgn": sgn, "nr": nr}
            ),
            "i int, v double, sgn double, nr double",
        )
        .select(
            F.col("i").cast("int").alias("component"),
            F.round(F.col("v") * F.col("sgn"), 6).alias("loading"),
            F.round("nr", 6).alias("eigenvalue"),
        )
        .orderBy("component")
    )


# Equal-width value bins shared by the isotonic fit (same string both
# engines; mn/mx/x are columns in scope).
_ISO_B = "least(CAST(floor((x - mn) / (mx - mn) * 20) AS INT), 19)"

_ISO_ORACLE = f"""
WITH o AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders),
ext AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM o),
bins AS (
  SELECT {_ISO_B} AS b, CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS k_b
  FROM o CROSS JOIN ext GROUP BY 1),
ivals AS (
  SELECT j.b AS j, k.b AS k,
         CAST(SUM(p.n_b) AS BIGINT) AS sn, CAST(SUM(p.k_b) AS BIGINT) AS sk
  FROM bins j JOIN bins k ON j.b <= k.b
  JOIN bins p ON p.b BETWEEN j.b AND k.b
  GROUP BY 1, 2),
inner_min AS (
  SELECT i.b AS i, v.j,
         MIN(CAST(v.sk AS DOUBLE) / CAST(v.sn AS DOUBLE)) AS min_mean
  FROM bins i JOIN ivals v ON v.j <= i.b AND v.k >= i.b
  GROUP BY 1, 2),
iso AS (SELECT i, MAX(min_mean) AS iso_rate FROM inner_min GROUP BY 1)
SELECT b AS bin, n_b, k_b,
       ROUND(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS raw_rate,
       ROUND(iso_rate, 6) AS iso_rate
FROM bins JOIN iso ON iso.i = bins.b ORDER BY bin
"""


@query("isotonic_urgency_by_value", oracle=_ISO_ORACLE)
def isotonic_urgency_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of the urgent-order
    share on order value, over 20 equal-width value bins — the
    shape-constrained dose-response fit (and the calibration method
    behind isotonic score recalibration, the step up from
    classifier_calibration_curve's raw reliability diagram). Computed
    by the minimax characterization iso(i) = max_{j<=i} min_{k>=i}
    mean(y[j..k]) instead of the sequential pool-adjacent-violators
    stack — pure relational algebra, no order-dependent state.

    Exactness: interval sums are exact integers off a bin-bounded
    triple join; each interval mean pays one identical double
    division; min/max over identical double multisets are
    order-insensitive, so no fold discipline is even needed.

    Scale: one scan collapses to <= 20 bins; intervals are <= 210
    rows and the minimax joins are bin-bounded — constant beyond the
    first aggregate."""
    o = spark.table("orders").select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    ext = o.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    bins = (
        o.crossJoin(F.broadcast(ext))
        .selectExpr(f"{_ISO_B} AS b", "y")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("y").cast("bigint").alias("k_b"),
        )
    )
    j = bins.select(F.col("b").alias("j"))
    k = bins.select(F.col("b").alias("k"))
    p = bins.select(F.col("b").alias("pb"), "n_b", "k_b")
    ivals = (
        j.join(F.broadcast(k), F.col("j") <= F.col("k"))
        .join(
            F.broadcast(p),
            (F.col("pb") >= F.col("j")) & (F.col("pb") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            F.sum("n_b").cast("bigint").alias("sn"),
            F.sum("k_b").cast("bigint").alias("sk"),
        )
    )
    i_side = bins.select(F.col("b").alias("i"))
    inner_min = (
        i_side.join(
            F.broadcast(ivals),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(
            F.min(F.col("sk").cast("double") / F.col("sn").cast("double")).alias(
                "min_mean"
            )
        )
    )
    iso = inner_min.groupBy("i").agg(F.max("min_mean").alias("iso_rate"))
    return (
        bins.join(F.broadcast(iso), bins.b == iso.i)
        .select(
            F.col("b").alias("bin"),
            "n_b",
            "k_b",
            F.round(
                F.col("k_b").cast("double") / F.col("n_b").cast("double"), 6
            ).alias("raw_rate"),
            F.round("iso_rate", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


_CUPED_CUTOFF = "1999-01-01 00:00:00"

# CUPED statistics over the pooled exact-integer moments (cnum/cden are
# the covariance/variance numerators n*Sxy - Sx*Sy and n*Sxx - Sx^2 cast
# to double once) and the per-arm exact sums (n_a, sx_a, sy_a doubles).
_CUPED_THETA = "(cnum / cden)"
_CUPED_ADJ = f"(sy_a / n_a - {_CUPED_THETA} * (sx_a / n_a - sx / n))"
_CUPED_CORR2 = "(cnum * cnum / (cden * vyn))"

_CUPED_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(o_custkey % 2 AS INT) AS arm,
         SUM(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_CUTOFF}'
             THEN CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT) ELSE 0 END) AS x,
         SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_CUTOFF}'
             THEN CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT) ELSE 0 END) AS y
  FROM orders GROUP BY 1, 2),
arms AS (
  SELECT arm, CAST(COUNT(*) AS HUGEINT) AS n_a_i,
         SUM(x) AS sx_a_i, SUM(y) AS sy_a_i,
         SUM(x*x) AS sxx_a_i, SUM(x*y) AS sxy_a_i, SUM(y*y) AS syy_a_i
  FROM per_cust GROUP BY 1),
pooled AS (
  SELECT CAST(SUM(n_a_i) AS HUGEINT) AS n_i,
         SUM(sx_a_i) AS sx_i, SUM(sy_a_i) AS sy_i,
         SUM(sxx_a_i) AS sxx_i, SUM(sxy_a_i) AS sxy_i, SUM(syy_a_i) AS syy_i
  FROM arms),
d AS (
  SELECT arm, CAST(n_a_i AS DOUBLE) AS n_a, CAST(sx_a_i AS DOUBLE) AS sx_a,
         CAST(sy_a_i AS DOUBLE) AS sy_a,
         CAST(n_i AS DOUBLE) AS n, CAST(sx_i AS DOUBLE) AS sx,
         CAST(n_i * sxy_i - sx_i * sy_i AS DOUBLE) AS cnum,
         CAST(n_i * sxx_i - sx_i * sx_i AS DOUBLE) AS cden,
         CAST(n_i * syy_i - sy_i * sy_i AS DOUBLE) AS vyn
  FROM arms CROSS JOIN pooled)
SELECT arm, CAST(n_a AS BIGINT) AS n_units,
       ROUND(sy_a / n_a, 4) AS mean_post_cents,
       ROUND({_CUPED_ADJ}, 4) AS mean_adjusted_cents,
       ROUND({_CUPED_THETA}, 6) AS theta,
       ROUND({_CUPED_CORR2}, 6) AS variance_reduction
FROM d ORDER BY arm
"""


@query("cuped_adjusted_arm_means", oracle=_CUPED_ORACLE)
def cuped_adjusted_arm_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout: per-customer
    post-period revenue adjusted by pre-period revenue
    (y' = y - theta*(x - mean(x)), theta = cov(x,y)/var(x) pooled),
    arms assigned by the deterministic custkey hash split. The
    experimentation-platform primitive that shrinks metric variance by
    corr(x,y)^2 — reported alongside the adjustment so the readout
    shows WHY the adjusted CI is tighter.

    Exactness: per-customer period sums and all cross-moments are
    exact integers (cents discipline); theta, the adjusted means, and
    the variance-reduction ratio are shared expression strings over
    one-time double casts of those integers — bit-identical engines.

    Scale: one keyed aggregate to customer grain (the canonical
    pre-aggregation), one conditional aggregate to 2 arm rows, pooled
    moments by exact-integer arm sums — nothing wider than 2 rows
    after the customer rollup."""
    cents = F.expr("CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))")
    pre = F.col("o_orderdate") < F.lit(_CUPED_CUTOFF).cast("timestamp")
    per_cust = (
        spark.table("orders")
        .groupBy(
            "o_custkey", (F.col("o_custkey") % 2).cast("int").alias("arm")
        )
        .agg(
            F.sum(F.when(pre, cents).otherwise(F.lit(0).cast("decimal(38,0)")))
            .alias("x"),
            F.sum(F.when(~pre, cents).otherwise(F.lit(0).cast("decimal(38,0)")))
            .alias("y"),
        )
    )
    arms = per_cust.groupBy("arm").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_a_i"),
        F.sum("x").alias("sx_a_i"),
        F.sum("y").alias("sy_a_i"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_a_i"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_a_i"),
        F.sum(F.col("y") * F.col("y")).alias("syy_a_i"),
    )
    pooled = arms.agg(
        F.sum("n_a_i").alias("n_i"),
        F.sum("sx_a_i").alias("sx_i"),
        F.sum("sy_a_i").alias("sy_i"),
        F.sum("sxx_a_i").alias("sxx_i"),
        F.sum("sxy_a_i").alias("sxy_i"),
        F.sum("syy_a_i").alias("syy_i"),
    )
    d = arms.crossJoin(F.broadcast(pooled)).selectExpr(
        "arm",
        "CAST(n_a_i AS DOUBLE) AS n_a",
        "CAST(sx_a_i AS DOUBLE) AS sx_a",
        "CAST(sy_a_i AS DOUBLE) AS sy_a",
        "CAST(n_i AS DOUBLE) AS n",
        "CAST(sx_i AS DOUBLE) AS sx",
        "CAST(n_i * sxy_i - sx_i * sy_i AS DOUBLE) AS cnum",
        "CAST(n_i * sxx_i - sx_i * sx_i AS DOUBLE) AS cden",
        "CAST(n_i * syy_i - sy_i * sy_i AS DOUBLE) AS vyn",
    )
    return d.selectExpr(
        "arm",
        "CAST(n_a AS BIGINT) AS n_units",
        "ROUND(sy_a / n_a, 4) AS mean_post_cents",
        f"ROUND({_CUPED_ADJ}, 4) AS mean_adjusted_cents",
        f"ROUND({_CUPED_THETA}, 6) AS theta",
        f"ROUND({_CUPED_CORR2}, 6) AS variance_reduction",
    ).orderBy("arm")


# 2x2 DiD cell names: t = in-region (treated), p = post-period. The
# one-row relation carries per-cell doubles (nTP, sTP, nvTP) with
# nv = n*q - s^2 exact-int variance numerators.
_DID_EST = "((s11/n11 - s10/n10) - (s01/n01 - s00/n00))"
_DID_SE = (
    "sqrt(nv00/(n00*(n00-1))/n00 + nv01/(n01*(n01-1))/n01"
    " + nv10/(n10*(n10-1))/n10 + nv11/(n11*(n11-1))/n11)"
)
_DID_Z = f"({_DID_EST} / {_DID_SE})"

_DID_ORACLE = f"""
WITH base AS (
  SELECT CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END AS t,
         CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_CUTOFF}' THEN 1 ELSE 0 END AS p,
         CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT) AS v
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey),
cells AS (
  SELECT t, p, CAST(COUNT(*) AS HUGEINT) AS n_i, SUM(v) AS s_i,
         SUM(v*v) AS q_i
  FROM base GROUP BY 1, 2),
one AS (
  SELECT
    MAX(CASE WHEN t=0 AND p=0 THEN CAST(n_i AS DOUBLE) END) AS n00,
    MAX(CASE WHEN t=0 AND p=1 THEN CAST(n_i AS DOUBLE) END) AS n01,
    MAX(CASE WHEN t=1 AND p=0 THEN CAST(n_i AS DOUBLE) END) AS n10,
    MAX(CASE WHEN t=1 AND p=1 THEN CAST(n_i AS DOUBLE) END) AS n11,
    MAX(CASE WHEN t=0 AND p=0 THEN CAST(s_i AS DOUBLE) END) AS s00,
    MAX(CASE WHEN t=0 AND p=1 THEN CAST(s_i AS DOUBLE) END) AS s01,
    MAX(CASE WHEN t=1 AND p=0 THEN CAST(s_i AS DOUBLE) END) AS s10,
    MAX(CASE WHEN t=1 AND p=1 THEN CAST(s_i AS DOUBLE) END) AS s11,
    MAX(CASE WHEN t=0 AND p=0 THEN CAST(n_i*q_i - s_i*s_i AS DOUBLE) END) AS nv00,
    MAX(CASE WHEN t=0 AND p=1 THEN CAST(n_i*q_i - s_i*s_i AS DOUBLE) END) AS nv01,
    MAX(CASE WHEN t=1 AND p=0 THEN CAST(n_i*q_i - s_i*s_i AS DOUBLE) END) AS nv10,
    MAX(CASE WHEN t=1 AND p=1 THEN CAST(n_i*q_i - s_i*s_i AS DOUBLE) END) AS nv11
  FROM cells),
zs AS (
  SELECT CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n_orders,
         ROUND(s00/n00, 4) AS mean_ctrl_pre, ROUND(s01/n01, 4) AS mean_ctrl_post,
         ROUND(s10/n10, 4) AS mean_treat_pre, ROUND(s11/n11, 4) AS mean_treat_post,
         ROUND({_DID_EST}, 4) AS did_cents, ROUND({_DID_SE}, 4) AS se_cents,
         {_DID_Z} AS z
  FROM one)
SELECT n_orders, mean_ctrl_pre, mean_ctrl_post, mean_treat_pre, mean_treat_post,
       did_cents, se_cents, ROUND(z, 6) AS z_score,
       ROUND({{P}}, 6) AS p_value
FROM (SELECT *, {{TT}} AS tt FROM (SELECT *, {{AZ}} AS az FROM zs))
"""


def _did_oracle() -> str:
    return _DID_ORACLE.replace("{P}", _BH_P).replace("{TT}", _BH_TT).replace(
        "{AZ}", _BH_AZ
    )


@query("diff_in_diff_region_value", oracle=_did_oracle())
def diff_in_diff_region_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the ASIA-region order-value
    shift across the 1999 period boundary: (treat_post - treat_pre) -
    (ctrl_post - ctrl_pre), with the large-sample SE from the four
    cell variances and the A&S normal p — the panel-data causal
    companion to cuped_adjusted_arm_means (which handles randomized
    splits; DiD handles the observational region 'rollout').

    Exactness: the 2x2 cells carry exact-integer (n, s, q) off one
    fact-dim join; means, the DiD contrast, its SE, z, and p are
    shared expression strings over one-time double casts — identical
    engines.

    Scale: the orders->customer->nation->region join broadcasts the
    dims; one conditional aggregate collapses to a single row."""
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    r = spark.table("region")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            (F.col("r_name") == "ASIA").cast("int").alias("t"),
            (F.col("o_orderdate") >= cutoff).cast("int").alias("p"),
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(38,0))").alias(
                "v"
            ),
        )
    )
    cells = base.groupBy("t", "p").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_i"),
        F.sum("v").alias("s_i"),
        F.sum(F.col("v") * F.col("v")).alias("q_i"),
    )
    picks = []
    for t in (0, 1):
        for p in (0, 1):
            cond = f"t = {t} AND p = {p}"
            picks += [
                F.expr(f"MAX(CASE WHEN {cond} THEN CAST(n_i AS DOUBLE) END)")
                .alias(f"n{t}{p}"),
                F.expr(f"MAX(CASE WHEN {cond} THEN CAST(s_i AS DOUBLE) END)")
                .alias(f"s{t}{p}"),
                F.expr(
                    f"MAX(CASE WHEN {cond} THEN"
                    " CAST(n_i*q_i - s_i*s_i AS DOUBLE) END)"
                ).alias(f"nv{t}{p}"),
            ]
    one = cells.agg(*picks)
    zs = one.selectExpr(
        "CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n_orders",
        "ROUND(s00/n00, 4) AS mean_ctrl_pre",
        "ROUND(s01/n01, 4) AS mean_ctrl_post",
        "ROUND(s10/n10, 4) AS mean_treat_pre",
        "ROUND(s11/n11, 4) AS mean_treat_post",
        f"ROUND({_DID_EST}, 4) AS did_cents",
        f"ROUND({_DID_SE}, 4) AS se_cents",
        f"{_DID_Z} AS z",
    )
    return (
        zs.selectExpr("*", f"{_BH_AZ} AS az")
        .selectExpr("*", f"{_BH_TT} AS tt")
        .selectExpr(
            "n_orders",
            "mean_ctrl_pre",
            "mean_ctrl_post",
            "mean_treat_pre",
            "mean_treat_post",
            "did_cents",
            "se_cents",
            "ROUND(z, 6) AS z_score",
            f"ROUND({_BH_P}, 6) AS p_value",
        )
    )


# Beta-binomial method-of-moments prior over the per-group rates
# (mu/s2 from ordered folds; shared strings over k, sum_p, sum_p2).
_EB_MU = "(sum_p / k)"
_EB_S2 = "((sum_p2 - sum_p * sum_p / k) / (k - 1))"
_EB_COMMON = f"({_EB_MU} * (1 - {_EB_MU}) / {_EB_S2} - 1)"
_EB_ALPHA = f"({_EB_MU} * {_EB_COMMON})"
_EB_BETA = f"((1 - {_EB_MU}) * {_EB_COMMON})"

_EB_ORACLE = f"""
WITH per_nation AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS k1
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1),
rates AS (
  SELECT n_name, n1, k1, CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p_i
  FROM per_nation),
prior AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(p_i ORDER BY n_name)), (a, b) -> a + b) AS sum_p,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(p_i * p_i ORDER BY n_name)), (a, b) -> a + b) AS sum_p2
  FROM rates)
SELECT n_name, n1 AS n_orders, k1 AS n_urgent,
       ROUND(p_i, 6) AS raw_rate,
       ROUND((CAST(k1 AS DOUBLE) + {_EB_ALPHA})
             / (CAST(n1 AS DOUBLE) + {_EB_ALPHA} + {_EB_BETA}), 6)
         AS shrunk_rate,
       ROUND({_EB_ALPHA}, 4) AS alpha, ROUND({_EB_BETA}, 4) AS beta
FROM rates CROSS JOIN prior ORDER BY n_name
"""


@query("eb_shrunk_urgent_rates", oracle=_EB_ORACLE)
def eb_shrunk_urgent_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation urgent-order rates under
    a beta-binomial prior fitted by method of moments across the 25
    nations — the 'rank small-sample segments honestly' primitive
    (raw rates overrank tiny-n segments; shrunk rates pull them
    toward the prior mean in proportion to their evidence), the
    estimation companion to fdr_bh_nation_urgency's testing.

    Exactness: per-nation counts are exact integers; each rate pays
    one identical double division; the prior's mean/variance come
    from name-sorted ordered folds and alpha/beta/shrinkage are
    shared expression strings — identical engines.

    Scale: one co-partitioned fact-dim join to a 25-row relation;
    the prior fold and the broadcast-back are nation-bounded."""
    per_nation = (
        spark.table("orders")
        .join(
            F.broadcast(spark.table("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(spark.table("nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n1"),
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("int"))
            .cast("bigint")
            .alias("k1"),
        )
    )
    rates = per_nation.select(
        "n_name",
        "n1",
        "k1",
        (F.col("k1").cast("double") / F.col("n1").cast("double")).alias("p_i"),
    )
    prior = rates.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.expr(ordered_sum("p_i", "n_name")).alias("sum_p"),
        F.expr(ordered_sum("p_i * p_i", "n_name")).alias("sum_p2"),
    )
    return (
        rates.crossJoin(F.broadcast(prior))
        .selectExpr(
            "n_name",
            "n1 AS n_orders",
            "k1 AS n_urgent",
            "ROUND(p_i, 6) AS raw_rate",
            f"ROUND((CAST(k1 AS DOUBLE) + {_EB_ALPHA})"
            f" / (CAST(n1 AS DOUBLE) + {_EB_ALPHA} + {_EB_BETA}), 6)"
            " AS shrunk_rate",
            f"ROUND({_EB_ALPHA}, 4) AS alpha",
            f"ROUND({_EB_BETA}, 4) AS beta",
        )
        .orderBy("n_name")
    )


def _hw_oracle(horizon: int) -> str:
    from dawis_spark.operators.forecast import holt_winters_oracle_ctes

    return f"""
WITH RECURSIVE daily AS (
  {DAILY_TYPE_CENTS_SQL}),
{holt_winters_oracle_ctes('daily', 'event_type', 'day', 'v', 7, horizon)}
SELECT k AS event_type, h, forecast AS forecast_cents,
       level AS level_cents, trend AS trend_cents,
       seasonal AS seasonal_cents, n_points
FROM hw ORDER BY event_type, h
"""


@query("holt_winters_forecast", oracle=_hw_oracle(7))
def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple-exponential, weekly period) on
    daily event totals with a 7-day forecast fan — the seasonal step up
    from holt_linear_forecast: forecast(h) = level + h*trend +
    seasonal(phase of n+h), so the day-of-week shape the DOW
    seasonality index measures descriptively is carried into the
    forecast. Dyadic weights (alpha 1/4, beta 1/8, gamma 1/4) keep the
    whole (level, trend, 7-slot seasonal) state in truncating integer
    cents, replayed bit-for-bit by a recursive CTE carrying the
    seasonal slots as columns.

    Scale: same honest applyInPandas boundary as holt_linear_forecast
    — the trunc-div recurrence is sequential per series; the shuffle
    carries (event_type, day, cents) daily aggregates, groups are
    catalog-bounded, per-group state is O(m=7)
    (operators/forecast.py:holt_winters)."""
    from dawis_spark.operators.forecast import holt_winters

    daily = daily_type_cents(spark)
    out = holt_winters(daily, "event_type", "day", "v", m=7, horizon=7)
    return out.select(
        "event_type",
        "h",
        F.col("forecast").alias("forecast_cents"),
        F.col("level").alias("level_cents"),
        F.col("trend").alias("trend_cents"),
        F.col("seasonal").alias("seasonal_cents"),
        "n_points",
    ).orderBy("event_type", "h")


_CUBE_ORACLE = """
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
         AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS HUGEINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, flag, status
"""


@query("cube_revenue_flag_status", oracle=_CUBE_ORACLE)
def cube_revenue_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup of lineitem revenue over (returnflag, linestatus):
    all four grouping-set levels (detail, each single-dim margin, grand
    total) in ONE pass, disambiguated by grouping_id — the
    multi-margin companion to rollup_acctbal (hierarchical ROLLUP).
    NULL placeholder rows are coalesced to 'ALL' so the margin rows
    are self-describing (gid keeps them distinct from any literal).

    Exactness: pure exact-integer counting/summing — no float paths.

    Scale: COUNT and the exact-decimal SUM are decomposable, so the
    detail (flag, status) aggregate — a handful of groups — is computed
    FIRST in one partial-aggregated pass, and the CUBE expands over that
    tiny relation instead of quadrupling every lineitem row through the
    decimal aggregation (r16, guide §2.3 "aggregate before you shuffle":
    Expand ×4 over the fact scan was the whole cost — 2.0 s -> 0.85 s
    warm at sf0.1; identical results for any data, NULL detail keys
    included, because re-cubing partial sums is algebraically the same
    cube)."""
    li = spark.table("lineitem")
    detail = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS DECIMAL(38,0))")
        ).alias("__rev"),
    )
    return (
        detail.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("__n").cast("bigint").alias("n_items"),
            F.sum("__rev").cast("bigint").alias("revenue_cents"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "gid",
            "n_items",
            "revenue_cents",
        )
        .orderBy("gid", "flag", "status")
    )


_HBT_ORIGINS = 3  # rolling origins, one week apart


def _hbt_oracle(horizon: int) -> str:
    from dawis_spark.operators.forecast import holt_oracle_ctes

    return f"""
WITH RECURSIVE daily AS (
  {DAILY_TYPE_CENTS_SQL}),
origins AS (
  SELECT o.o AS origin, MAX(day) - INTERVAL (7 * o.o) DAY AS cutoff
  FROM daily, range(1, {_HBT_ORIGINS + 1}) o(o) GROUP BY o.o),
hb_daily AS (
  SELECT event_type || '|' || CAST(origin AS VARCHAR) AS ck, day, v
  FROM daily JOIN origins ON day <= cutoff),
{holt_oracle_ctes('hb_daily', 'ck', 'day', 'v', horizon)},
fc AS (
  SELECT CAST(string_split(k, '|')[1] AS VARCHAR) AS event_type,
         CAST(string_split(k, '|')[2] AS INT) AS origin, h, forecast
  FROM holt),
joined AS (
  SELECT f.origin, f.h, abs(f.forecast - d.v) AS abs_err
  FROM fc f
  JOIN origins o ON o.origin = f.origin
  JOIN daily d ON d.event_type = f.event_type
              AND d.day = o.cutoff + INTERVAL (f.h) DAY)
SELECT origin, h, CAST(COUNT(*) AS BIGINT) AS n_series,
       ROUND(CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         AS mae_cents
FROM joined GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("holt_backtest_mae", oracle=_hbt_oracle(7))
def holt_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the Holt linear forecaster: re-fit on
    the series truncated one/two/three weeks before the end, forecast
    the next 7 days, and score MAE against the actuals per (origin,
    horizon) — the time-series cross-validation that turns
    holt_linear_forecast from 'a forecast' into 'a forecaster with a
    measured error curve' (and the honest input to choosing it over
    seasonal_naive_mase's yardstick).

    Mechanics: all origins refit in ONE applyInPandas pass by crossing
    the daily series with the 3-row origin relation and compositing
    (event_type, origin) into the series key — k x |origins| small
    groups, no per-origin job. The oracle replays the same composite
    keys through the shared recursive-CTE generator.

    Exactness: forecasts and actuals are exact integer cents, |err|
    exact; MAE pays one double division per output row.

    Scale: the crossed series multiplies the day-bounded daily
    relation by a 3-row broadcast — still calendar-bounded; the
    forecast/actual join is keyed on (event_type, day)."""
    from dawis_spark.operators.forecast import holt_linear

    daily = daily_type_cents(spark)
    origins = (
        daily.agg(F.max("day").alias("mx"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(_HBT_ORIGINS))).alias("origin"),
            "mx",
        )
        .select(
            "origin",
            F.expr("mx - make_interval(0, 0, 0, 7 * origin)").alias("cutoff"),
        )
    )
    hb_daily = (
        daily.crossJoin(F.broadcast(origins))
        .filter(F.col("day") <= F.col("cutoff"))
        .select(
            F.concat_ws("|", "event_type", F.col("origin").cast("string")).alias(
                "ck"
            ),
            "day",
            "v",
        )
    )
    fc = holt_linear(hb_daily, "ck", "day", "v", horizon=7).select(
        F.split("ck", "\\|").getItem(0).alias("event_type"),
        F.split("ck", "\\|").getItem(1).cast("int").alias("origin"),
        "h",
        "forecast",
    )
    joined = (
        fc.join(F.broadcast(origins), "origin")
        .join(
            daily,
            (F.col("day") == F.expr("cutoff + make_interval(0, 0, 0, h)"))
            & (daily.event_type == fc.event_type),
        )
        .select("origin", "h", F.abs(F.col("forecast") - F.col("v")).alias("abs_err"))
    )
    return (
        joined.groupBy("origin", "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_series"),
            F.round(
                F.sum("abs_err").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mae_cents"),
        )
        .orderBy("origin", "h")
    )


_THETA_ORACLE = f"""
WITH RECURSIVE daily AS (
  {DAILY_TYPE_CENTS_SQL}),
{{CTES}}
SELECT k AS event_type, h, forecast AS forecast_cents,
       level AS ses_level_cents, slope AS slope_cents_per_day, n_points
FROM theta ORDER BY event_type, h
"""


def _theta_oracle() -> str:
    from dawis_spark.operators.forecast import theta_oracle_ctes

    return _THETA_ORACLE.format(
        CTES=theta_oracle_ctes("daily", "event_type", "day", "v", 7)
    )


@query("theta_method_forecast", oracle=_theta_oracle())
def theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Theta(0,2) forecast of daily event totals, 7 days ahead
    per event type — the M3-competition-winning simple combination that
    sits between holt_linear_forecast (recursive trend) and
    seasonal_naive: SES supplies the local level, HALF the global OLS
    drift supplies the trend, which empirically damps Holt's tendency
    to over-extrapolate.

    Exactness: the SES state is the holt_linear dyadic truncating
    integer recursion (alpha = 1/4); the drift adds round(num * (h - 1
    + 4) / (2 * den)) computed from the EXACT rational OLS slope, the
    same expression in the pandas fit and the recursive-CTE twin
    (operators/forecast.py:theta_forecast).

    Scale: one hash exchange of calendar-bounded daily aggregates;
    O(days) integer state per key inside the honest applyInPandas
    boundary; h-row fan-out per key."""
    from dawis_spark.operators.forecast import theta_forecast

    daily = daily_type_cents(spark)
    return (
        theta_forecast(daily, "event_type", "day", "v", horizon=7)
        .select(
            "event_type",
            "h",
            F.col("forecast").alias("forecast_cents"),
            F.col("level").alias("ses_level_cents"),
            F.col("slope").alias("slope_cents_per_day"),
            "n_points",
        )
        .orderBy("event_type", "h")
    )


_CROSTON_THR = 200.0
_CROSTON_ORACLE = f"""
WITH RECURSIVE dm AS (
  SELECT event_type,
         date_diff('day',
                   (SELECT MIN(date_trunc('day', ts)) FROM events),
                   date_trunc('day', ts)) AS d0,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value >= {_CROSTON_THR} GROUP BY 1, 2),
{{CTES}}
SELECT k AS event_type, n_points, size_hat, interval_hat, rate
FROM croston_out ORDER BY event_type
"""


def _croston_oracle() -> str:
    from dawis_spark.operators.forecast import croston_oracle_ctes

    return _CROSTON_ORACLE.format(
        CTES=croston_oracle_ctes("dm", "event_type", "d0", "c")
    )




# ---------------------------------------------------------------------------
# Holt one-step-residual breach profile (the batch twin of the streaming
# forecast-surprise monitor, streaming/forecastmon.py)
# ---------------------------------------------------------------------------

_HRB_K_MILLI = 3000  # breach at |resid| > 3.000 x trailing mean |resid|
_HRB_MIN_RESID = 8

_HRB_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type AS k,
         CAST(date_diff('day', DATE '2024-01-01', date_trunc('day', ts))
              AS BIGINT) AS d0,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
ix AS (
  SELECT k, d0, x,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY d0) AS t,
         COUNT(*) OVER (PARTITION BY k) AS n
  FROM daily),
rec(k, t, n, l, b, d0, f, r) AS (
  SELECT k, t, n, x, CAST(0 AS BIGINT), d0,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM ix WHERE t = 1
  UNION ALL
  SELECT i.k, i.t, i.n,
         (i.x + 3 * (p.l + p.b)) // 4,
         (((i.x + 3 * (p.l + p.b)) // 4) - p.l + 7 * p.b) // 8,
         i.d0, p.l + p.b, i.x - (p.l + p.b)
  FROM rec p JOIN ix i ON i.k = p.k AND i.t = p.t + 1),
walk AS (
  SELECT k, t, n, d0, f, r, CAST(t - 2 AS BIGINT) AS n_prior,
         CAST(COALESCE(SUM(abs(r)) OVER (PARTITION BY k ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS s_prior
  FROM rec WHERE t >= 2),
breach AS (
  SELECT k, MIN(t) AS bt FROM walk
  WHERE n_prior >= {_HRB_MIN_RESID}
    AND abs(r) * n_prior * 1000 > {_HRB_K_MILLI} * s_prior
  GROUP BY k),
summary AS (
  SELECT k, CAST(MAX(n) AS BIGINT) AS n_days,
         CAST(COUNT(*) AS BIGINT) AS n_resid,
         CAST(SUM(abs(r)) AS BIGINT) AS sum_abs_resid,
         CAST(MAX(abs(r)) AS BIGINT) AS max_abs_resid
  FROM walk GROUP BY k)
SELECT s.k AS event_type, s.n_days, s.n_resid, s.sum_abs_resid,
       s.max_abs_resid,
       CAST(COALESCE(w.d0, -1) AS BIGINT) AS breach_bucket,
       CAST(COALESCE(w.r, 0) AS BIGINT) AS breach_resid_cents,
       CAST(COALESCE(w.n_prior, -1) AS BIGINT) AS breach_n_prior
FROM summary s
LEFT JOIN breach ON breach.k = s.k
LEFT JOIN walk w ON w.k = breach.k AND w.t = breach.bt
ORDER BY event_type
"""


@query("holt_residual_breaches", oracle=_HRB_ORACLE)
def holt_residual_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Holt one-step-residual profile + first forecast-
    surprise breach — the BATCH TWIN of the streaming forecast monitor
    (streaming/forecastmon.py): both sides call the same all-integer
    ``holt_residual_walk`` / ``first_holt_residual_breach`` closed form
    (operators/forecast.py), so "would this series have alerted, and
    when" is answerable offline with identical arithmetic. A breach is
    |resid| > 3 x the trailing mean absolute one-step residual after an
    8-residual warmup; no-breach keys carry the -1/-0 sentinels
    (NULL-free output keeps both engines' dtypes integer — the hashing
    convention).

    Exactness: the Holt recurrence, residuals, and the breach cross-
    multiplication are exact BIGINT end-to-end (trunc-div discipline,
    operators/forecast.py:_tdiv); the oracle replays the identical
    recurrence as a recursive CTE. NO floats anywhere in the output.

    Scale: one keyed day-rollup (the only row-scale exchange), then an
    applyInPandas walk per key over its calendar-bounded daily series —
    the holt_linear_forecast shape; output is |event_types| rows.
    Reference: the cron'd threshold checks in
    /root/reference/modules/aggregation/custom (monitor->alert), here
    model-based instead of fixed-threshold."""
    import pandas as pd

    from dawis_spark.operators.forecast import (
        first_holt_residual_breach,
        holt_residual_walk,
    )

    daily = (
        spark.table("events")
        .groupBy(
            F.col("event_type"),
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d0"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )

    out_schema = (
        "event_type string, n_days bigint, n_resid bigint, "
        "sum_abs_resid bigint, max_abs_resid bigint, breach_bucket bigint, "
        "breach_resid_cents bigint, breach_n_prior bigint"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d0")
        series = [(int(d), int(x)) for d, x in zip(pdf["d0"], pdf["x"])]
        if len(series) < 2:
            # no residuals exist; the oracle's walk CTE (t >= 2) drops
            # such keys too — keep the relations identical
            return pd.DataFrame(
                {
                    c: pd.Series(dtype="int64" if c != "event_type" else "object")
                    for c in (
                        "event_type n_days n_resid sum_abs_resid "
                        "max_abs_resid breach_bucket breach_resid_cents "
                        "breach_n_prior"
                    ).split()
                }
            )
        resids = holt_residual_walk(series)
        breach = first_holt_residual_breach(
            series, k_milli=_HRB_K_MILLI, min_resid=_HRB_MIN_RESID
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(series)],
                "n_resid": [len(resids)],
                "sum_abs_resid": [sum(abs(r) for _, _, r, _, _ in resids)],
                "max_abs_resid": [
                    max((abs(r) for _, _, r, _, _ in resids), default=0)
                ],
                "breach_bucket": [breach[0] if breach else -1],
                "breach_resid_cents": [breach[2] if breach else 0],
                "breach_n_prior": [breach[3] if breach else -1],
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(walk, out_schema)
        .orderBy("event_type")
    )

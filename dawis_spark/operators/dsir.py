"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The data-selection pass of an LLM pipeline: given a small TARGET corpus
(the distribution you want more of) and a large RAW corpus, score every
raw document by its log importance ratio under hashed-n-gram bag models,

    log w(x) = sum_b c_b(x) * [ log p_tgt(b) - log p_raw(b) ],

then resample raw docs with probability proportional to w. Features are
hashed unigram + bigram buckets (the paper's construction, feature
hashing per Weinberger et al. 2009) with add-one smoothing on both
bucket models.

Scale shape mirrors operators/classifier.py: MODEL ESTIMATION is two
bucket-count aggregations whose exchanges are m-bounded (explode +
groupBy(bucket) keeps partial aggregation map-side, so each task ships
at most m rows, never one row per token); the two m-sized count vectors
ride the driver (config-scale) and fuse into a single log-ratio literal
array. SCORING is then one codegen'd fold inside the raw-corpus scan —
no shuffle, no UDF, no per-token join. The final resampling step is the
caller's: deterministic top-k by weight, or Gumbel-noise top-k for the
paper's stochastic variant — both are an ORDER BY over doc-level scores.

Determinism for the oracle: token/bigram hashing is the shared
dual-rendered family (functions/text.char_hash + the classifier's
uniformizing rounds); lambda components round HALF-UP to 6 digits (the
quantizer-training convention), so DuckDB can replay estimation in SQL
and the per-doc fold adds identical doubles in identical order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT
from dawis_spark.functions import vectors as V
from dawis_spark.operators.classifier import _buckets_expr, _ROUNDS

MOD = TXT.MOD


def feature_buckets_expr(text_col: str, m: int, dialect: str) -> str:
    """Hashed unigram + bigram bucket array of a text column (one entry
    per occurrence, order: all unigrams then all bigrams)."""
    toks = TXT.tokens(text_col, dialect)
    uni = _buckets_expr(toks, m, dialect)
    th = TXT.token_hash_array(text_col, dialect)
    if dialect == "spark":
        # Bind the raw token-hash array ONCE via a one-element transform
        # stage: unigram buckets are the same char hashes the bigram
        # combine consumes, so deriving both from the bound `h` halves
        # the O(len) per-token hash folds per evaluation (the
        # expression-blowup lesson; values identical by construction —
        # same hashes, same mixing rounds, same mod).
        uni = "h"
        for a, b in _ROUNDS:
            uni = f"transform({uni}, __x -> (__x * __x + {a} * __x + {b}) % {MOD})"
        uni = f"transform({uni}, __x -> __x % {m})"
        bg = (
            f"case when size(h) < 2 then array() else "
            f"transform(sequence(0, size(h) - 2), i -> (h[i] * 131 + h[i + 1]) % {MOD}) end"
        )
        for a, b in _ROUNDS:
            bg = f"transform({bg}, __x -> (__x * __x + {a} * __x + {b}) % {MOD})"
        bg = f"transform({bg}, __x -> __x % {m})"
        return f"(transform(array({th}), h -> concat({uni}, {bg})))[0]"
    bg = (
        f"flatten(list_transform([{th}], h -> "
        f"list_transform(range(1, greatest(len(h) - 1, 0) + 1), "
        f"i -> (h[i] * 131 + h[i + 1]) % {MOD})))"
    )
    for a, b in _ROUNDS:
        bg = f"list_transform({bg}, __x -> (__x * __x + {a} * __x + {b}) % {MOD})"
    bg = f"list_transform({bg}, __x -> __x % {m})"
    return f"list_concat({uni}, {bg})"


def doc_features(
    docs: DataFrame, id_cols: list[str], text_col: str, m: int
) -> DataFrame:
    """(``*id_cols``, __feats) — the hashed feature-bucket array per
    document, as a DataFrame so callers that both train AND score over
    the same corpus can persist ONE tokenize+hash pass and feed it to
    ``dsir_train``/``dsir_scores`` instead of re-evaluating the
    feature expression per consumer."""
    feats = feature_buckets_expr(text_col, m, "spark")
    return docs.select(*id_cols, F.expr(feats).alias("__feats"))


def _bucket_counts(
    docs: DataFrame | None,
    text_col: str,
    m: int,
    features: DataFrame | None = None,
) -> list[int]:
    """m-vector of feature-occurrence counts over ``docs`` (driver-side
    result, m-bounded by partial aggregation)."""
    src = (
        features
        if features is not None
        else doc_features(docs, [], text_col, m)
    )
    rows = (
        src.select(F.explode(F.col("__feats")).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    out = [0] * m
    for r in rows:
        out[r["b"]] = r["c"]
    return out


def dsir_train(
    target: DataFrame | None,
    raw: DataFrame | None,
    text_col: str,
    m: int = 1024,
    target_features: DataFrame | None = None,
    raw_features: DataFrame | None = None,
) -> list[float]:
    """Log importance-ratio vector lambda[b] = log p_tgt(b) - log
    p_raw(b) with add-one smoothing, each component rounded half-up to
    6 digits (oracle-replayable). ``*_features`` optionally supply a
    precomputed (persisted) ``doc_features`` relation so the corpus is
    tokenized+hashed once across train and score."""
    import math

    def _r6(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    ct = _bucket_counts(target, text_col, m, features=target_features)
    cr = _bucket_counts(raw, text_col, m, features=raw_features)
    t_tot, r_tot = sum(ct), sum(cr)
    return [
        _r6(
            math.log((ct[b] + 1.0) / (t_tot + m))
            - math.log((cr[b] + 1.0) / (r_tot + m))
        )
        for b in range(m)
    ]


def dsir_scores(
    raw: DataFrame,
    id_col: str,
    text_col: str,
    lam: list[float],
    m: int = 1024,
    features: DataFrame | None = None,
) -> DataFrame:
    """(id, n_feats, log_ir) per raw document: one map-side fold of the
    literal lambda array over the doc's feature buckets — the scoring
    plan is the classifier's (zero shuffle, zero UDF). Resampling is the
    caller's ORDER BY. ``features`` optionally supplies a precomputed
    (id, __feats) relation (see ``doc_features``)."""
    lam_lit = V.double_array(lam)
    if features is None:
        features = doc_features(raw, [id_col], text_col, m)
    return (
        features.select(id_col, "__feats")
        .select(
            id_col,
            F.size("__feats").cast("bigint").alias("n_feats"),
            F.round(
                F.expr(
                    f"aggregate(__feats, cast(0 as double), "
                    f"(s, b) -> s + {lam_lit}[b])"
                ),
                6,
            ).alias("log_ir"),
        )
    )

"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Beyond-reference capability (BASELINE.json north star) for training-data
pipelines. Everything is built-in Spark SQL expressions (codegen, no
Python): these run map-side at any scale — the only cost is the scan.

Heuristics are deliberately simple & deterministic (stopword ratios,
punctuation ratios, polynomial fingerprints) so the DuckDB oracle renders
the identical definition via functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT

# Tiny per-language stopword inventories (public common words).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "y", "en", "que", "los", "se"),
    "de": ("der", "die", "das", "und", "zu", "den", "von", "mit"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
}

# A BPE-ish segmentation: letter runs, digit runs, single other non-space.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _stopword_ratio_expr(lang: str, dialect: str) -> str:
    """share of tokens that are stopwords of ``lang`` (over token count)."""
    toks = "__toks"
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    if dialect == "spark":
        hits = f"size(filter({toks}, t -> array_contains(array({words}), t)))"
        total = f"size({toks})"
    else:
        hits = f"len(list_filter({toks}, t -> list_contains([{words}], t)))"
        total = f"len({toks})"
    return f"(cast({hits} as double) / cast(greatest({total}, 1) as double))"


def language_scores_sql(text_col: str, dialect: str) -> dict[str, str]:
    """Per-language stopword-ratio expressions keyed ``score_<lang>``.
    Callers wrap them in a SELECT that binds ``__toks``."""
    return {
        f"score_{lang}": _stopword_ratio_expr(lang, dialect) for lang in STOPWORDS
    }


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """n-gram/stopword heuristic language ID.

    Output: (id, score_en..score_fr, lang_pred) — argmax with a fixed
    tie-break order (the STOPWORDS key order).
    """
    toks = TXT.tokens(text_col, "spark")
    scores = language_scores_sql(text_col, "spark")
    scored = df.select(
        F.col(id_col), F.expr(toks).alias("__toks")
    ).select(
        F.col(id_col),
        *[F.round(F.expr(e), 6).alias(name) for name, e in scores.items()],
    )
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier languages win ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)
    return scored.withColumn("lang_pred", pred)


def quality_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Length / punctuation / stopword quality heuristics + composite score.

    Columns: n_chars_obs, n_tokens, avg_token_len, punct_ratio,
    stop_ratio_en, quality (all rounded for oracle parity).
    quality = clamp01(0.3*min(n_tokens/100,1) + 0.4*(1-punct_ratio)
              + 0.3*min(stop_ratio_en*4, 1))

    ``extra_cols`` ride along unchanged — callers that need source/text
    next to the scores stay single-scan instead of self-joining the
    corpus back on id (which at scale is a corpus-sized join).
    """
    toks = TXT.tokens(text_col, "spark")
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.length(text_col).alias("n_chars_obs"),
        F.expr(toks).alias("__toks"),
        F.expr(f"length(regexp_replace({text_col}, '[a-zA-Z0-9\\\\s]', ''))").alias(
            "__punct"
        ),
    )
    stop = _stopword_ratio_expr("en", "spark")
    out = base.select(
        F.col(id_col),
        *extra_cols,
        "n_chars_obs",
        F.size("__toks").alias("n_tokens"),
        F.round(
            F.expr(
                "aggregate(__toks, cast(0 as bigint), (s, t) -> s + length(t)) "
                "/ cast(greatest(size(__toks), 1) as double)"
            ),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.col("__punct") / F.greatest(F.col("n_chars_obs"), F.lit(1)), 6
        ).alias("punct_ratio"),
        F.round(F.expr(stop), 6).alias("stop_ratio_en"),
    )
    quality = (
        0.3 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.4 * (1.0 - F.col("punct_ratio"))
        + 0.3 * F.least(F.col("stop_ratio_en") * 4.0, F.lit(1.0))
    )
    return out.withColumn("quality", F.round(quality, 6))


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex segment count."""
    toks = TXT.tokens(text_col, "spark")
    # Spark SQL string literals process backslash escapes; double them so
    # the regex arrives intact (DuckDB standard strings don't escape).
    spark_regex = TOKEN_REGEX.replace("\\", "\\\\")
    return df.select(
        F.col(id_col),
        F.expr(f"size({toks})").alias("ws_tokens"),
        F.expr(
            f"size(regexp_extract_all(lower({text_col}), '{spark_regex}', 0))"
        ).alias("bpe_tokens"),
    )


def fingerprint(
    df: DataFrame, id_col: str, text_col: str, vectorized: bool = True
) -> DataFrame:
    """Rolling polynomial hash of the whitespace-normalized document.

    Normalization: lower + collapse runs of whitespace to one space + trim,
    so formatting-only variants collide (the point of a fingerprint).

    Two equivalent evaluators of the SAME definition (tests assert bit
    equality): the SQL higher-order fold (oracle-parity rendering, used by
    the DuckDB oracle) and an Arrow-batched numpy UDF (~3x faster on whole
    documents — HOFs evaluate interpreted, one lambda step per character).
    """
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    normed = df.select(F.col(id_col), F.expr(norm).alias("__norm"))
    if not vectorized:
        h = TXT.char_hash("__norm", "spark")
        return normed.select(F.col(id_col), F.expr(h).alias("fingerprint"))

    import pandas as pd
    from pyspark.sql import types as T

    def _np_hash(texts):
        return pd.Series(TXT.np_char_hash_batch(list(texts)), dtype="int64")

    np_hash = F.pandas_udf(_np_hash, T.LongType())
    return normed.select(F.col(id_col), np_hash("__norm").alias("fingerprint"))


def normalized_text_sql(text_col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    return f"trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Repetition / boilerplate signals (Gopher-style, Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------

def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, ngram_n: int = 2
) -> DataFrame:
    """Within-document repetition signals used by Gopher/MassiveText-style
    quality filtering: fraction of tokens that are repeats, weight of the
    single most frequent token, and fraction of word n-grams that recur.

    Output: (id, n_tokens, dup_token_frac, top_token_frac, dup_ngram_frac),
    fractions rounded to 6 for oracle parity.

    Precondition: ``id_col`` is unique per input row. Every signal is
    computed per row, so duplicate ids give one output row per input row
    with the same id; they are not merged into one document. Callers
    that may hold duplicates must aggregate the text per id first.

    Scale: ENTIRELY map-side since r16 (the token_entropy run-length
    shape): each document sorts its OWN token array and its OWN n-gram
    multiset, and every per-unit count is a run length of the sorted
    array — identical integers to the old explode + groupBy(id, unit)
    counts, with NO token ever leaving the scan. The previous shape
    shipped one tagged unit STRING per token per doc through a
    corpus-sized exchange (its own docstring flagged the cost); docs
    with zero tokens emit no row, exactly as the groupBy form dropped
    them.
    """
    toks = TXT.tokens(text_col, "spark")
    sh = TXT.shingles("__toks", ngram_n, "spark")

    def _runs(st_ref: str, n_expr: str) -> str:
        # run lengths from run starts (the entropy_from_runs gap walk);
        # empty-array guard: sequence(0, -1) counts DOWN and would index
        # the empty starts array (same guard as run_starts_sql)
        return (
            f"case when size({st_ref}) = 0 then array() else "
            f"transform(sequence(0, size({st_ref}) - 1), "
            f"j -> (case when j < size({st_ref}) - 1 then {st_ref}[j + 1] "
            f"else {n_expr} end) - {st_ref}[j]) end"
        )

    def _dup_sum(runs: str) -> str:
        return (
            f"aggregate({runs}, cast(0 as bigint), "
            f"(acc, c) -> acc + (case when c > 1 then cast(c as bigint) "
            f"else cast(0 as bigint) end))"
        )

    base = (
        df.select(F.col(id_col), F.expr(toks).alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(
            id_col,
            F.expr("array_sort(__toks)").alias("__ts"),
            F.expr(f"array_sort({sh})").alias("__gs"),
        )
        .select(
            id_col,
            F.expr("size(__ts)").alias("__nt"),
            F.expr("size(__gs)").alias("__ng"),
            F.expr(run_starts_sql("__ts", "spark")).alias("__tst"),
            F.expr(run_starts_sql("__gs", "spark")).alias("__gst"),
        )
        .select(
            id_col,
            "__nt",
            "__ng",
            F.expr(_runs("__tst", "__nt")).alias("__trl"),
            F.expr(_runs("__gst", "__ng")).alias("__grl"),
        )
    )
    return base.select(
        F.col(id_col),
        F.col("__nt").cast("bigint").alias("n_tokens"),
        F.round(
            F.expr(_dup_sum("__trl")).cast("double")
            / F.greatest(F.col("__nt").cast("bigint"), F.lit(1)),
            6,
        ).alias("dup_token_frac"),
        F.round(
            F.expr("array_max(__trl)").cast("double")
            / F.greatest(F.col("__nt").cast("bigint"), F.lit(1)),
            6,
        ).alias("top_token_frac"),
        F.round(
            F.expr(_dup_sum("__grl")).cast("double")
            / F.greatest(F.col("__ng").cast("bigint"), F.lit(1)),
            6,
        ).alias("dup_ngram_frac"),
    )


# ---------------------------------------------------------------------------
# Line-level cleaning signals (C4-style, Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

def line_stats_sql(text_col: str, dialect: str, min_words: int = 3) -> dict[str, str]:
    """Dual-rendered per-document line-filter counters over newline-split
    text: C4 keeps lines that end in terminal punctuation AND have at
    least ``min_words`` words; we expose both predicates separately so
    callers can recombine. Keys: n_lines, n_short_lines, n_unpunct_lines,
    n_kept_lines."""
    if dialect == "spark":
        lines = f"filter(split({text_col}, '\\n'), l -> trim(l) != '')"
        nwords = "size(filter(split(trim(l), ' '), w -> w != ''))"
        punct = "rtrim(l) rlike '[.!?\"]$'"
        size_, filter_ = "size", "filter"
    else:
        lines = (
            f"list_filter(string_split({text_col}, chr(10)), l -> trim(l) != '')"
        )
        nwords = "len(list_filter(string_split(trim(l), ' '), w -> w != ''))"
        punct = "regexp_matches(rtrim(l), '[.!?\"]$')"
        size_, filter_ = "len", "list_filter"
    short = f"{nwords} < {min_words}"
    return {
        "n_lines": f"{size_}({lines})",
        "n_short_lines": f"{size_}({filter_}({lines}, l -> {short}))",
        "n_unpunct_lines": f"{size_}({filter_}({lines}, l -> not ({punct})))",
        "n_kept_lines": (
            f"{size_}({filter_}({lines}, l -> ({punct}) and not ({short})))"
        ),
    }


def line_quality(
    df: DataFrame, id_col: str, text_col: str, min_words: int = 3
) -> DataFrame:
    """C4-style line-filter counters + kept-line ratio per document.

    Entirely array expressions inside whole-stage codegen — map-side at
    any scale, the only cost is the scan. The DuckDB oracle renders the
    identical definition via line_stats_sql(dialect='duckdb')."""
    stats = line_stats_sql(text_col, "spark", min_words)
    cols = [F.expr(e).cast("bigint").alias(k) for k, e in stats.items()]
    return df.select(F.col(id_col), *cols).withColumn(
        "kept_line_frac",
        F.round(
            F.col("n_kept_lines").cast("double")
            / F.greatest(F.col("n_lines"), F.lit(1)),
            6,
        ),
    )


def sorted_tokens_sql(text_col: str, dialect: str) -> str:
    """Sorted token array — the run-length preprocusor for entropy."""
    toks = TXT.tokens(text_col, dialect)
    return (
        f"array_sort({toks})" if dialect == "spark" else f"list_sort({toks})"
    )


def run_starts_sql(s_ref: str, dialect: str) -> str:
    """0-based offsets where a new distinct token's run begins in the
    SORTED token array ``s_ref`` (must be a simple column reference)."""
    if dialect == "spark":
        # empty-array guard: sequence(0, -1) counts DOWN ([0, -1]) and
        # the lambda would index the empty array
        return (
            f"case when size({s_ref}) = 0 then array() else "
            f"filter(sequence(0, size({s_ref}) - 1), "
            f"i -> i = 0 or {s_ref}[i] != {s_ref}[i - 1]) end"
        )
    return (
        f"list_filter(range(0, len({s_ref})), "
        f"i -> i = 0 or {s_ref}[i + 1] != {s_ref}[i])"
    )


def entropy_from_runs_sql(st_ref: str, n_expr: str, dialect: str) -> str:
    """Shannon entropy (nats) from run starts + total count: run lengths
    are start-to-start gaps; H = -sum (c/n) ln(c/n). ``st_ref`` must be
    a simple reference; empty docs yield 0.0."""
    if dialect == "spark":
        lens = (
            f"transform(sequence(0, size({st_ref}) - 1), "
            f"j -> (case when j < size({st_ref}) - 1 then {st_ref}[j + 1] "
            f"else {n_expr} end) - {st_ref}[j])"
        )
        return (
            f"case when {n_expr} = 0 then cast(0.0 as double) else "
            f"-aggregate({lens}, cast(0.0 as double), "
            f"(acc, c) -> acc + (c / cast({n_expr} as double)) "
            f"* ln(c / cast({n_expr} as double))) end"
        )
    lens = (
        f"list_transform(range(0, len({st_ref})), "
        f"j -> (CASE WHEN j < len({st_ref}) - 1 THEN {st_ref}[j + 2] "
        f"ELSE {n_expr} END) - {st_ref}[j + 1])"
    )
    return (
        f"CASE WHEN {n_expr} = 0 THEN 0.0 ELSE "
        f"-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({lens}, c -> (c / CAST({n_expr} AS DOUBLE)) "
        f"* ln(c / CAST({n_expr} AS DOUBLE)))), (acc, v) -> acc + v) END"
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_distinct, entropy, norm_entropy) per document:
    Shannon entropy of the unigram distribution in nats, plus the
    [0, 1]-normalized form H / ln(n_distinct) (NULL when every token is
    identical — no spread to normalize). Low entropy at normal length
    flags keyword-stuffed / template pages the Gopher repetition
    signals (repetition_stats) approach from the other side: those count
    the top token, this integrates the whole distribution.

    Scale: ENTIRELY map-side — sort the doc's own token array, read run
    lengths off the sorted array, fold; no token ever leaves the scan
    (the explode + groupBy(doc, token) formulation ships one row per
    distinct token per doc — a corpus-sized exchange this avoids).
    Per-doc cost is the in-memory sort of that doc's tokens, the same
    bound every other per-doc text operator here carries.
    """
    s = sorted_tokens_sql(text_col, "spark")
    st = run_starts_sql("__s", "spark")
    ent = entropy_from_runs_sql("__st", "size(__s)", "spark")
    return (
        df.select(id_col, F.expr(s).alias("__s"))
        .withColumn("__st", F.expr(st))
        .select(
            id_col,
            F.expr("size(__s)").cast("bigint").alias("n_tokens"),
            F.expr("size(__st)").cast("bigint").alias("n_distinct"),
            F.round(F.expr(ent), 6).alias("entropy"),
            F.round(
                F.expr(ent) / F.expr("nullif(ln(size(__st)), 0.0)"), 6
            ).alias("norm_entropy"),
        )
    )

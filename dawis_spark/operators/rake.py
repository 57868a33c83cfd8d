"""RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
Extraction from Individual Documents") — the classic unsupervised
keyphrase scorer: candidate phrases are maximal stopword-free token
runs; each word scores deg(w)/freq(w) over the corpus (deg = summed
length of the phrases it appears in, rewarding words that live in long
collocations); a phrase scores the sum of its words' scores.

PORTABILITY DISCIPLINE — no regex phrase splitting: RAKE is usually
implemented by splitting text on a stopword/punctuation regex, whose
dialect differs between engines (Java regex vs RE2 vs DuckDB). Instead
the phrase segmentation is POSITIONAL: tokenize (the shared tokens()
helper), flag stopwords/punctuation, and define phrase_id as the
running count of separator tokens before each position (a per-doc
cumulative sum over token position). Consecutive keepable tokens share
a phrase_id — exactly the maximal-run semantics, expressed in
engine-neutral relational ops.

EXACTNESS: freq and deg are exact integers; word_score = deg/freq is
ONE IEEE division rounded to 9 digits; a phrase's score folds its
words' scores in POSITION ORDER (the chi-square ordered-fold trick),
so float accumulation order is part of the operator's definition and
both engines produce the same bits.

Scale shape: one tokenize+posexplode scan (hash-only (doc, pos, token)
rows), one cumulative window PER DOCUMENT (bounded by document length,
embarrassingly parallel across docs), one word-stats aggregate
(vocab-bounded), one phrase re-aggregate. No driver state, no
quadratic step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT
from dawis_spark.functions.folds import ordered_sum
from dawis_spark.operators.textstats import STOPWORDS

# separators: the tiny public per-language stopword inventory (en) plus
# standalone punctuation tokens (non-letter tokens from the tokenizer)
RAKE_STOPS: tuple[str, ...] = STOPWORDS["en"]


def _sep_pred(col: str, dialect: str) -> str:
    words = ", ".join(f"'{w}'" for w in RAKE_STOPS)
    if dialect == "spark":
        return f"({col} IN ({words}) OR {col} NOT RLIKE '^[a-z]')"
    return f"({col} IN ({words}) OR NOT regexp_matches({col}, '^[a-z]'))"


def rake_keyphrases(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_phrase_len: int = 2,
    max_phrase_len: int = 4,
    top_n: int = 15,
) -> DataFrame:
    """Corpus-level top keyphrases: (phrase, n_words, n_occurrences,
    score). Phrases of min..max words ranked by RAKE score desc, phrase
    asc."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.expr(TXT.tokens(text_col, "spark"))).alias("pos", "tok"),
    ).withColumn("is_sep", F.expr(_sep_pred("tok", "spark")).cast("int"))
    w = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = (
        toks.withColumn("phrase_id", F.sum("is_sep").over(w))
        .filter(F.col("is_sep") == 0)
        .select("doc", "phrase_id", "pos", "tok")
    )
    plen = ph.groupBy("doc", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    words = ph.join(plen, ["doc", "phrase_id"]).filter(
        (F.col("plen") >= min_phrase_len) & (F.col("plen") <= max_phrase_len)
    )
    wstats = words.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    scored_words = wstats.select(
        "tok",
        F.round(F.col("deg").cast("double") / F.col("freq"), 9).alias("wscore"),
    )
    phrases = (
        words.join(scored_words, "tok")
        .groupBy("doc", "phrase_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), e -> e.tok)"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.expr(ordered_sum("wscore", "pos")).alias("pscore"),
        )
    )
    return (
        phrases.groupBy("phrase", "n_words")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.round(F.max("pscore"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(top_n)
    )


def rake_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    min_phrase_len: int = 2,
    max_phrase_len: int = 4,
    top_n: int = 15,
) -> str:
    toks = TXT.tokens(text_col, "duck")
    sep = _sep_pred("tok", "duck")
    return f"""
WITH tk AS (
  SELECT doc, pos, tok,
         CASE WHEN {sep} THEN 1 ELSE 0 END AS is_sep
  FROM (
    SELECT {id_col} AS doc,
           CAST(unnest(range(0, len(__toks))) AS INT) AS pos,
           unnest(__toks) AS tok
    FROM (SELECT {id_col}, {toks} AS __toks FROM {table}))),
ph AS (
  SELECT doc, pos, tok,
         SUM(is_sep) OVER (PARTITION BY doc ORDER BY pos) AS phrase_id
  FROM tk QUALIFY is_sep = 0),
plen AS (
  SELECT doc, phrase_id, COUNT(*) AS plen FROM ph GROUP BY doc, phrase_id),
words AS (
  SELECT ph.doc, ph.phrase_id, ph.pos, ph.tok, plen.plen
  FROM ph JOIN plen USING (doc, phrase_id)
  WHERE plen BETWEEN {min_phrase_len} AND {max_phrase_len}),
wstats AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg
  FROM words GROUP BY tok),
sw AS (
  SELECT tok, ROUND(CAST(deg AS DOUBLE) / freq, 9) AS wscore FROM wstats),
phr AS (
  SELECT w.doc, w.phrase_id,
         list_reduce(
           list_prepend('', list_transform(
             list_sort(list(struct_pack(pos := w.pos, tok := w.tok))),
             e -> e.tok)),
           (a, b) -> CASE WHEN a = '' THEN b ELSE a || ' ' || b END)
           AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list_transform(
             list_sort(list(struct_pack(pos := w.pos, s := sw.wscore))),
             e -> e.s)),
           (acc, v) -> acc + v) AS pscore
  FROM words w JOIN sw USING (tok)
  GROUP BY w.doc, w.phrase_id),
agg AS (
  SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         ROUND(MAX(pscore), 6) AS score
  FROM phr GROUP BY phrase, n_words)
SELECT phrase, n_words, n_occurrences, score
FROM agg ORDER BY score DESC, phrase LIMIT {top_n}
"""

"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the tokenizer-
construction half of the LLM data pipeline (token counting and chunking
already exist; this learns the vocabulary those consume).

Classic BPE trains on WORD-TYPE frequencies, not the raw corpus: the
corpus collapses to a (word, count) relation first (vocabulary-sized —
Zipf keeps this in the low millions even at 100 TB, which is exactly
why Sennrich's reference implementation does the same), then T merge
rounds each (1) count adjacent symbol pairs weighted by word count,
(2) pick the most frequent pair (ties: lexicographically smallest — the
determinism knob reference implementations leave to dict order), and
(3) merge that pair in every word, greedy left-to-right.

Distributed re-expression, fully engine-replayable:

* **Symbol state as a spaced string.** Each word's symbol sequence is
  kept as ``' sym1  sym2  ... '`` — every symbol wrapped in its own
  leading/trailing space (tokens are whitespace-split, so symbols can
  never contain a space). Applying merge (a, b) is then ONE built-in
  ``replace(s, ' a  b ', ' ab ')``: left-to-right non-overlapping
  replacement IS the classic greedy merge, including the aaa-run case
  (verified identical in Spark and DuckDB), and the wrap invariant
  (1 outer / 2 inner spaces) is preserved by construction. No UDF, no
  per-row Python — the merge pass is whole-stage-codegen string work.

* **Per-round shuffle is vocabulary-sized.** Pair counting explodes
  each word type's current symbols (weighted by count) and aggregates
  map-side; the argmax row is collected (training is EAGER, see
  bpe_train) and re-injected as literals into the next round's
  replace. The word relation is persisted per round because every
  subsequent round re-reads it.

* **Pair counting matches the reference**: every adjacent position
  counts (a run 'aaa' counts pair (a,a) twice), while the merge is
  greedy non-overlapping — the same asymmetry as Sennrich's
  implementation.

Output of ``bpe_train``: the merge table (step, left, right,
pair_count) — the artifact a tokenizer ships."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT

END_MARK = "</w>"


def _word_types(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt): corpus word-type frequencies."""
    toks = TXT.tokens(text_col, "spark")
    return (
        docs.select(F.explode(F.expr(toks)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_spaced(word: str) -> str:
    """SQL expr: characters + end-of-word marker, space-wrapped."""
    chars = (
        f"transform(sequence(1, length({word})), "
        f"j -> substring({word}, j, 1))"
    )
    return (
        f"concat(' ', concat_ws('  ', "
        f"concat({chars}, array('{END_MARK}'))), ' ')"
    )


def _pairs_expr() -> str:
    """Adjacent symbol pairs of the spaced string column ``s``."""
    return (
        "transform(sequence(0, size(split(trim(s), '  ')) - 2), "
        "i -> struct(split(trim(s), '  ')[i] AS p1, "
        "split(trim(s), '  ')[i + 1] AS p2))"
    )


def _sql_quote(sym: str) -> str:
    return sym.replace("\\", "\\\\").replace("'", "\\'")


def bpe_train(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (step, left, right, pair_count) ordered by step.

    EAGER, like train_kmeans: each round runs one vocabulary-sized pair
    aggregation and collects the single argmax row to the driver — the
    merge table is driver-resident state in every real tokenizer
    trainer (it ships as merges.txt), bounded at n_merges rows. The
    chosen pair is re-injected as string LITERALS into the next round's
    replace, so the word relation's lineage grows by one codegen'd
    replace per round (a lazily-unrolled formulation instead nests the
    argmax subtree into every later round — the logical plan grows
    exponentially and hit Spark's 2 GiB plan-string cap at round 8)."""
    spark = docs.sparkSession
    words = (
        _word_types(docs, text_col)
        .select("cnt", F.expr(_initial_spaced("word")).alias("s"))
        .persist()
    )
    merge_rows: list[tuple[int, str, str, int]] = []
    cached = [words]
    for step in range(1, n_merges + 1):
        top = (
            words.select("cnt", F.explode(F.expr(_pairs_expr())).alias("p"))
            .groupBy("p.p1", "p.p2")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("p1"), F.asc("p2"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        merge_rows.append((step, r["p1"], r["p2"], r["pair_count"]))
        lq, rq = _sql_quote(r["p1"]), _sql_quote(r["p2"])
        # keep ancestors cached until the end: the child's cache fills
        # lazily on the NEXT round's collect, and an unpersisted parent
        # would force the whole replace chain to recompute from the scan
        words = words.select(
            "cnt",
            F.expr(
                f"replace(s, ' {lq}  {rq} ', ' {lq}{rq} ')"
            ).alias("s"),
        ).persist()
        cached.append(words)
    for df in cached:
        df.unpersist()
    # a pandas frame enters through Arrow as a local relation
    return spark.createDataFrame(
        pd.DataFrame(merge_rows, columns=["step", "left", "right", "pair_count"]),
        "step int, left string, right string, pair_count bigint",
    )


def bpe_segment(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merge_rows: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge table to documents: per-token subword
    counts — (id, n_tokens, n_subwords). Merges apply in training
    order, each a codegen'd replace over the spaced symbol string;
    entirely map-side (the merge table is a driver-side list, exactly
    like a shipped tokenizer's merges.txt)."""
    toks = TXT.tokens(text_col, "spark")
    base = docs.select(
        F.col(id_col).alias("id"), F.explode(F.expr(toks)).alias("word")
    ).select("id", F.expr(_initial_spaced("word")).alias("s"))
    for left, right in merge_rows:
        lq = left.replace("'", "\\'")
        rq = right.replace("'", "\\'")
        base = base.withColumn(
            "s",
            F.expr(
                f"replace(s, concat(' ', '{lq}', '  ', '{rq}', ' '), "
                f"concat(' ', '{lq}', '{rq}', ' '))"
            ),
        )
    return (
        base.select("id", F.size(F.split(F.trim("s"), "  ")).alias("ns"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("ns").cast("bigint").alias("n_subwords"),
        )
    )

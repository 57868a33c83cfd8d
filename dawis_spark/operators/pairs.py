"""Pair generation for the near-duplicate family: candidate id pairs, then
verification of each pair against a per-id side relation.

This is the candidate -> verify shape of set-similarity joins (SSJoin,
Chaudhuri et al. 2006). The callers (``operators/dedup.py``
``minhash_near_duplicates``, ``ngram_jaccard_pairs``,
``prefix_filter_pairs``; ``operators/oph.py`` ``oph_near_duplicates``;
``operators/similarity.py`` ``embedding_near_dup_pairs``) differ only in
how they propose pairs and how they score them. Each caller keeps its
score expression, threshold and extra columns; the join mechanics live
here.

Pairs are always ``(…, id_a, id_b)`` with ``id_a < id_b``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def self_pairs(keyed: DataFrame, keys: Sequence[str], id_col: str) -> DataFrame:
    """(*keys, id_a, id_b): every two rows of ``keyed`` that agree on
    ``keys``, once each (``id_a < id_b``). One equi self-join: the keys
    are the blocking (a block, a band bucket, a sign pattern), so the
    pair count is the sum of squared key-group sizes. A row pair that
    shares several keys comes out once per key; a caller that needs
    each pair once adds ``.distinct()``."""
    keys = list(keys)
    return (
        keyed.select(*keys, F.col(id_col).alias("id_a"))
        .join(keyed.select(*keys, F.col(id_col).alias("id_b")), keys)
        .filter(F.col("id_a") < F.col("id_b"))
    )


def verify(
    pairs: DataFrame, side: DataFrame, id_col: str, cols: Sequence[str]
) -> DataFrame:
    """``pairs`` with ``side``'s ``cols`` joined onto both ids: each
    column ``c`` arrives as ``c_a`` (the row of ``id_a``) and ``c_b``.

    Both joins are SHUFFLE_HASH on the pair id. The side relation (hash
    arrays, signatures, vectors) is smaller than the corpus but still
    corpus-sized, so it must never broadcast: a broadcast has to fit in
    every executor's memory. Shuffling it by id partitions the build
    side, and the candidate pairs (narrow rows) shuffle alongside;
    shuffle_hash skips the sort a merge join would pay on the wide side
    rows. A pair whose id is missing from ``side`` is dropped."""

    def suffixed(sfx: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(f"id_{sfx}"), *[F.col(c).alias(f"{c}_{sfx}") for c in cols]
        )

    return pairs.join(suffixed("a").hint("shuffle_hash"), "id_a").join(
        suffixed("b").hint("shuffle_hash"), "id_b"
    )


def capped_blocks(
    ids: DataFrame,
    id_col: str,
    cap: int | None,
    hot_pairs: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Candidate pairs within blocks under a per-block pair budget.

    ``ids`` holds ``(g, id_col)``: the block key ``g`` of every id. With
    ``cap=None`` every block pairs exactly: ``(g, id_a, id_b)``. With a
    cap, blocks of at most ``cap`` rows still pair exactly, and the
    ``(g, id_col)`` rows of larger blocks go to ``hot_pairs``, which
    returns ``(g, id_a, id_b)`` from an approximate route (LSH within the
    block). One hot block, such as a boilerplate-heavy domain, would
    otherwise degenerate to O(n²) pairs. The output then gains
    ``pair_method``: ``'exact'`` or ``'lsh'`` (recall < 1 there)."""
    if cap is None:
        return self_pairs(ids, ["g"], id_col)
    sizes = ids.groupBy("g").agg(F.count(F.lit(1)).alias("__bn"))
    # persisted: the size-tagged id relation routes BOTH the small-block
    # all-pairs legs (id_a and id_b sides) AND the hot-block route: four
    # end-to-end evaluations of the sizing aggregate without it. Bare
    # (g, id, count) rows.
    tagged = ids.join(sizes, "g").persist()
    small = tagged.filter(F.col("__bn") <= cap).select("g", id_col)
    big = tagged.filter(F.col("__bn") > cap).select("g", id_col)
    return (
        self_pairs(small, ["g"], id_col)
        .withColumn("pair_method", F.lit("exact"))
        .unionByName(hot_pairs(big).withColumn("pair_method", F.lit("lsh")))
    )

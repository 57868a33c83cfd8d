"""One-permutation hashing (OPH) MinHash signatures with rotation
densification.

Classic MinHash (operators/dedup.minhash_signatures) evaluates K
permutations over every shingle hash: O(K * shingles) arithmetic per
document. OPH (Li, Owen & Zhang, "One Permutation Hashing", NIPS 2012)
hashes each shingle ONCE and partitions the hash space into K bins; the
signature slot for bin i is the minimum hash landing in that bin —
O(shingles + K) per document, a K-fold saving in the map-side hot loop
that dominates MinHash cost at corpus scale. Empty bins (small documents)
are filled by rotation densification (Shrivastava & Li, "Densifying One
Permutation Hashing via Rotation for Fast Near Neighbor Search", ICML
2014): borrow the next non-empty bin to the right (cyclically), offset by
j*C for a borrow distance of j so borrowed values from different
distances do not collide spuriously.

Like functions/text.py, every fragment has one mathematical definition
and two renderings (Spark SQL and DuckDB), so the engine query and its
oracle share structure rather than coincidence. Pure integer arithmetic
mod 1e9+7; every intermediate < 2^63.

Scale: the whole signature is a single codegen'd array expression — no
shuffle, no Python. Densification scans K bins per slot in the worst
case (K^2 = 64 coalesce terms for K=8), constant per document.

Reference behavior parity: the reference engine exposes only classic
MinHash-style dedup (see SURVEY.md §2); OPH is a beyond-reference scale
path for the same near-dup semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT
from dawis_spark.operators.dedup import lsh_candidate_pairs, shingle_relation
from dawis_spark.operators.pairs import verify

MOD = TXT.MOD
# borrow offset: any constant coprime-ish spread; collisions between a
# genuine bin minimum and a borrowed value would need h1 = h2 + j*C mod MOD
_C = 1_000_003


def oph_signature(sh_expr: str, k_bins: int, dialect: str) -> str:
    """Densified OPH signature (array of ``k_bins`` bigints) over a
    distinct-shingle-hash array expression.

    ``sh_expr`` must be a simple reference (it is repeated per bin).
    Requires a non-empty hash array (filter ``size > 0`` upstream); with
    at least one occupied bin the cyclic coalesce always terminates.
    """
    if dialect == "spark":
        bins = (
            f"transform(sequence(0, {k_bins - 1}), i -> "
            f"array_min(filter({sh_expr}, x -> x % {k_bins} = i)))"
        )
        slots = []
        for i in range(k_bins):
            terms = []
            for j in range(k_bins):
                idx = (i + j) % k_bins  # 0-based
                terms.append(f"__b[{idx}]" if j == 0 else f"(__b[{idx}] + {j * _C}) % {MOD}")
            slots.append("coalesce(" + ", ".join(terms) + ")")
        # bind the bin array ONCE via the one-element transform wrapper
        return f"(transform(array({bins}), __b -> array({', '.join(slots)})))[0]"
    bins = (
        f"list_transform(range(0, {k_bins}), i -> "
        f"list_min(list_filter({sh_expr}, x -> x % {k_bins} = i)))"
    )
    slots = []
    for i in range(k_bins):
        terms = []
        for j in range(k_bins):
            idx = (i + j) % k_bins + 1  # 1-based
            terms.append(f"__b[{idx}]" if j == 0 else f"(__b[{idx}] + {j * _C}) % {MOD}")
        slots.append("coalesce(" + ", ".join(terms) + ")")
    return f"(list_transform([{bins}], __b -> [{', '.join(slots)}]))[1]"


def oph_signatures(
    df: DataFrame, id_col: str, text_col: str, k_bins: int = 8, shingle_k: int = 3
) -> DataFrame:
    """(id, sig array<bigint>) OPH signatures — map-side only, one hash
    pass over the shingles (vs K passes for classic MinHash)."""
    return (
        shingle_relation(df, id_col, text_col, shingle_k)
        .filter(F.size("sh") > 0)
        .select(F.col(id_col), F.expr(oph_signature("sh", k_bins, "spark")).alias("sig"))
    )


def oph_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_bins: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    shingle_k: int = 3,
) -> DataFrame:
    """OPH signatures -> banded LSH candidates -> exact-Jaccard verify.

    Same output contract as minhash_near_duplicates (id_a, id_b, jaccard)
    plus ``slots_eq``/``oph_est`` — the per-pair signature agreement that
    estimates Jaccard, kept in the output so the operator carries its own
    estimator diagnostic.

    Scale: identical plan shape to the classic pipeline (band-bucket
    self-join is the only shuffle; verification is operators/pairs.verify)
    — only the map-side signature cost drops K-fold.
    """
    rows_per_band = k_bins // bands
    # hash array and signature ride ONE PERSISTED relation: the two
    # band-join legs and both verification sides all consume `sigs`, so
    # persisting the signature relation itself (rather than just the
    # hash relation, as before r15's second pass) evaluates the k_bins
    # coalesce-chain signature fold ONCE at materialization instead of
    # once per consumer — and verification still pays two id-keyed
    # joins (one per pair side) instead of four (candidate ids are a
    # subset of the size>0 ids by construction, so filtering the join
    # side too changes nothing)
    sigs = (
        shingle_relation(df, id_col, text_col, shingle_k)
        .filter(F.size("sh") > 0)
        .select(
            F.col(id_col), "sh",
            F.expr(oph_signature("sh", k_bins, "spark")).alias("sig"),
        )
        .persist()
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    jac = TXT.jaccard("sh_a", "sh_b", "spark")
    slots_eq = (
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> case when x = y then 1 else 0 end), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    return (
        verify(cands, sigs, id_col, ["sh", "sig"])
        .select(
            "id_a",
            "id_b",
            F.round(F.expr(jac), 6).alias("jaccard"),
            F.expr(slots_eq).alias("slots_eq"),
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("oph_est", F.round(F.col("slots_eq") / k_bins, 6))
    )

"""Distinct-count sketches — KMV (k-minimum-values) cardinality
estimation, the bounded-state answer to COUNT(DISTINCT) at 100 TB.

An exact distinct count shuffles every (key, value) pair; the KMV
synopsis (Bar-Yossef et al. 2002, "Counting distinct elements in a data
stream"; Beyer et al. 2007, "On synopses for approximate distinct-value
estimation") keeps only the k smallest distinct hash values per group
and estimates n̂ = (k-1) * M / h_(k), where h_(k) is the k-th smallest
hash and M the hash range. State per group is k int64s, the combine is
"k smallest of a union of k-smallest sets" — associative and exactly
mergeable, and the map-side truncation stage (``_kmv_partial``) applies
it BEFORE the exchange, so only k-bounded hash sets cross the wire.

Why KMV and not HyperLogLog here: the estimator quality is comparable at
equal state (KMV needs ~k = 1/ε² like HLL's m), but KMV's arithmetic is
pure int64 ordering + one division — bit-reproducible in any engine —
while HLL's leading-zero registers hang on floating log2/bit-width
primitives that Spark and DuckDB round differently. The repo's oracle
gate (value-hash parity against DuckDB) makes determinism a feature
requirement, exactly like the MinHash/PQ families (functions/text.py
design notes).

Values are hashed with the shared polynomial rolling hash
(functions/text.char_hash, mod M = 1e9+7) so both engines compute
identical hash sets. Hash collisions fold distinct values together and
bias n̂ low by ~n²/2M — negligible below ~10⁵ distinct per group at this
M; the self-eval query (kmv_distinct_users) records the realized error
against the exact count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dawis_spark.functions import text as TXT

MOD = TXT.MOD


# Uniformizing finalizer (dialect-neutral arithmetic): two
# quadratic-affine rounds h <- (h² + a·h + b) mod M. The raw polynomial
# hash is NOT uniform on short inputs (decimal ids land in tight bands
# ~31^len wide), which wrecks an order-statistics estimator — KMV reads
# cardinality off the k-th smallest value, so hashes must be
# equidistributed over [0, M). One affine round maps a tight band to an
# arithmetic progression (still structured); the square term breaks the
# progression, and two rounds measure indistinguishable from uniform in
# the estimator (empirically ±10% at k=64 across n = 150..50k, matching
# the 1/√k theory). All intermediates < 2^60.5: exact int64 under ANSI
# mode in both engines. Applied in separate projections because the
# input re-appears 3× per round (nesting would cube the expression).
_KMV_ROUNDS = ((48271, 11), (69621, 137))


def _kmv_round(expr: str, a: int, b: int) -> str:
    return f"(({expr}) * ({expr}) + {a} * ({expr}) + {b}) % {MOD}"


def _kmv_partial(df: DataFrame, key_cols: list[str], k: int) -> DataFrame:
    """Map-side k-smallest truncation: emit at most k (keys, __h) rows
    per key per TASK, so the exchange that follows is genuinely
    k-bounded.

    This is the stage declarative aggregation cannot express: Spark's
    partial collect_set ships each task's FULL per-key distinct set to
    the reducer (truncation in the agg expression runs post-shuffle), so
    a naive groupBy-collect_set KMV shuffles the same volume as an exact
    count-distinct — exactly what the sketch exists to avoid. One
    Arrow-batched mapInPandas pass holds a per-key sorted array capped
    at k (state ≤ keys×k per task, no worse than the partial-agg buffers
    it replaces) and the final merge aggregates ≤ tasks×k rows per key.
    The k-smallest combine is associative, so truncating early changes
    nothing downstream (test: partition-layout invariance)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [df.schema[c] for c in key_cols]
        + [T.StructField("__h", T.LongType(), True)]
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        state: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for keys, grp in pdf.groupby(key_cols, sort=False, dropna=False):
                ks = keys if isinstance(keys, tuple) else (keys,)
                hs = grp["__h"].to_numpy()
                cur = state.get(ks)
                merged = np.unique(hs) if cur is None else np.union1d(cur, hs)
                state[ks] = merged[:k]
        if state:
            yield pd.DataFrame(
                [[*ks, int(h)] for ks, hs in state.items() for h in hs],
                columns=[*key_cols, "__h"],
            )

    return df.mapInPandas(run, schema)


def kmv_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-key KMV distinct-count estimate: (keys..., n_kept, kth_hash,
    estimate).

    Plan shape: values hash map-side (whole-stage codegen, the shared
    polynomial hash); ``_kmv_partial`` truncates to the k smallest
    distinct hashes per key INSIDE each task, so the only exchange
    carries ≤ k hashes per key per task and the final merge
    (``array_sort(collect_set(..))[:k]``) aggregates ≤ tasks×k rows per
    key — no group ever materializes its full distinct set anywhere.

    Estimate: exact count (= n_kept) while a group holds fewer than k
    distinct hashes, else (k-1) * M / h_(k) rounded to 6 digits — the
    unbiased KMV estimator, identical arithmetic in the DuckDB oracle.
    """
    h = TXT.char_hash(f"cast({value_col} as string)", "spark")
    hashed = df.select(*key_cols, F.expr(h).cast("bigint").alias("__h"))
    for a, b in _KMV_ROUNDS:
        hashed = hashed.select(
            *key_cols, F.expr(_kmv_round("__h", a, b)).alias("__h")
        )
    merged = (
        _kmv_partial(hashed, key_cols, k)
        .groupBy(*key_cols)
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("__hs"))
    )
    kth = F.element_at("__hs", k)
    return merged.select(
        *key_cols,
        F.size("__hs").alias("n_kept"),
        F.when(F.size("__hs") >= k, kth).alias("kth_hash"),
        F.when(F.size("__hs") >= k, F.round(F.lit(float(k - 1)) * MOD / kth, 6))
        .otherwise(F.size("__hs").cast("double"))
        .alias("estimate"),
    )


def kmv_oracle_sql(
    table: str, key_cols: list[str], value_col: str, k: int
) -> str:
    """DuckDB replay of kmv_distinct as a CTE chain ending in
    ``kmv(keys..., n_kept, kth_hash, estimate)``: same hash, same
    k-smallest set, same estimator arithmetic. The two-level partition
    combine collapses (k smallest of per-partition k-smallest == global
    k smallest)."""
    h = TXT.char_hash(f"cast({value_col} as varchar)", "duck")
    keys = ", ".join(key_cols)
    mix_ctes = ""
    src = "kmv_hashed"
    for n, (a, b) in enumerate(_KMV_ROUNDS):
        mix_ctes += (
            f"kmv_mix{n} AS (\n  SELECT {keys}, {_kmv_round('h', a, b)} AS h"
            f" FROM {src}\n),\n"
        )
        src = f"kmv_mix{n}"
    return f"""
kmv_hashed AS (
  SELECT {keys}, {h} AS h FROM {table}
),
{mix_ctes}kmv_sets AS (
  SELECT {keys}, list_sort(list(DISTINCT h))[1:{k}] AS hs
  FROM {src} GROUP BY {keys}
),
kmv AS (
  SELECT {keys},
    len(hs) AS n_kept,
    CASE WHEN len(hs) >= {k} THEN hs[{k}] END AS kth_hash,
    CASE WHEN len(hs) >= {k}
         THEN round(CAST({k - 1} AS DOUBLE) * {MOD} / hs[{k}], 6)
         ELSE CAST(len(hs) AS DOUBLE) END AS estimate
  FROM kmv_sets
)"""


def kmv_arrays_oracle_ctes(
    table: str, key_cols: list[str], value_col: str, k: int, prefix: str
) -> str:
    """DuckDB replay of ``kmv_sets`` (char-hash path): CTE chain ending
    in ``{prefix}(keys..., hs)``."""
    h = TXT.char_hash(f"cast({value_col} as varchar)", "duck")
    keys = ", ".join(key_cols)
    ctes = f"{prefix}_hashed AS (\n  SELECT {keys}, {h} AS h FROM {table}\n)"
    src = f"{prefix}_hashed"
    for n, (a, b) in enumerate(_KMV_ROUNDS):
        ctes += (
            f",\n{prefix}_mix{n} AS (\n  SELECT {keys}, "
            f"{_kmv_round('h', a, b)} AS h FROM {src}\n)"
        )
        src = f"{prefix}_mix{n}"
    return (
        f"{ctes},\n{prefix} AS (\n"
        f"  SELECT {keys}, list_sort(list(DISTINCT h))[1:{k}] AS hs\n"
        f"  FROM {src} GROUP BY {keys}\n)"
    )


# --- Count-Min sketch (Cormode & Muthukrishnan 2005) ----------------------
#
# Bounded-state frequency estimation: d hash rows x w counter buckets.
# Every occurrence increments one bucket per row; a point estimate is the
# MIN of a value's d buckets — never an underestimate, overestimate
# bounded by n/w with probability 1 - (1/2)^d. The sketch build is one
# groupBy over (row, bucket) — d*w bounded cells regardless of input
# cardinality, vs an exact count's value-cardinality shuffle. Same
# deterministic dual-rendered hashing as KMV, so the DuckDB oracle
# replays the sketch cell-for-cell.

def _cm_coeffs(d: int) -> list[tuple[int, int]]:
    """Pairwise-independent-style row coefficients (a odd, b spread) —
    the same deterministic family as minhash_coeffs."""
    return [(2 * i + 3, 97 * i + 13) for i in range(d)]


def _cm_bucket(h_expr: str, a: int, b: int, w: int) -> str:
    return f"(({a} * ({h_expr}) + {b}) % {MOD}) % {w}"


def cm_sketch(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the d x w counter table: (row, bucket, cnt).

    Plan shape: values hash map-side (shared polynomial hash + the KMV
    uniformizing rounds — count-min's error bound also assumes spread
    hashes); each input row explodes to d (row, bucket) cells and ONE
    aggregation reduces them — the exchange carries at most d*w groups.

    ``weight_col``: build from a PRE-COUNTED relation (one row per
    distinct value carrying its occurrence count) instead of one row
    per occurrence. A value's d cells depend only on the value, so
    summing weights is cell-for-cell identical to counting occurrences
    — it just hashes each distinct value once instead of once per
    occurrence (and lets a caller that already paid the exact count
    reuse it instead of re-scanning the source).
    """
    h = TXT.char_hash(f"cast({value_col} as string)", "spark")
    wcols = [F.col(weight_col).alias("__w")] if weight_col else []
    hashed = df.select(F.expr(h).cast("bigint").alias("__h"), *wcols)
    keep = ["__w"] if weight_col else []
    for a, b in _KMV_ROUNDS:
        hashed = hashed.select(F.expr(_kmv_round("__h", a, b)).alias("__h"), *keep)
    cells = [
        F.struct(
            F.lit(i).alias("row"),
            F.expr(_cm_bucket("__h", a, b, w)).cast("int").alias("bucket"),
        )
        for i, (a, b) in enumerate(_cm_coeffs(d))
    ]
    exploded = hashed.select(F.explode(F.array(*cells)).alias("c"), *keep)
    cnt = (
        F.sum("__w").cast("bigint") if weight_col else F.count(F.lit(1))
    )
    return exploded.groupBy(
        F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    ).agg(cnt.alias("cnt"))


def cm_estimate(
    sketch: DataFrame, queries: DataFrame, value_col: str, d: int = 4, w: int = 512
) -> DataFrame:
    """Point-estimate counts for the values in ``queries``: (value,
    cm_estimate). The sketch is d*w rows — always broadcastable; the min
    over a value's d cells is a tiny groupBy."""
    h = TXT.char_hash(f"cast({value_col} as string)", "spark")
    q = queries.select(
        F.col(value_col), F.expr(h).cast("bigint").alias("__h")
    )
    for a, b in _KMV_ROUNDS:
        q = q.select(value_col, F.expr(_kmv_round("__h", a, b)).alias("__h"))
    cells = [
        F.struct(
            F.lit(i).alias("row"),
            F.expr(_cm_bucket("__h", a, b, w)).cast("int").alias("bucket"),
        )
        for i, (a, b) in enumerate(_cm_coeffs(d))
    ]
    probes = q.select(
        value_col, F.explode(F.array(*cells)).alias("c")
    ).select(value_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_estimate"))
    )


def cm_oracle_ctes(
    table_cte: str, value_col: str, d: int, w: int, prefix: str = "cm"
) -> str:
    """DuckDB replay: CTE chain ending in ``{prefix}(row, bucket, cnt)``.
    ``table_cte`` must expose one row per occurrence with ``value_col``;
    ``prefix`` lets two sketches coexist in one oracle (join-size
    estimation builds one per join side)."""
    h = TXT.char_hash(f"cast({value_col} as varchar)", "duck")
    chain = [f"{prefix}_h0 AS (SELECT {h} AS h FROM {table_cte})"]
    src = f"{prefix}_h0"
    for n, (a, b) in enumerate(_KMV_ROUNDS):
        chain.append(
            f"{prefix}_h{n + 1} AS (SELECT {_kmv_round('h', a, b)} AS h FROM {src})"
        )
        src = f"{prefix}_h{n + 1}"
    rows = " UNION ALL ".join(
        f"SELECT {i} AS row, CAST({_cm_bucket('h', a, b, w)} AS INT) AS bucket FROM {src}"
        for i, (a, b) in enumerate(_cm_coeffs(d))
    )
    chain.append(f"{prefix}_cells AS ({rows})")
    chain.append(
        f"{prefix} AS (SELECT row, bucket, COUNT(*) AS cnt"
        f" FROM {prefix}_cells GROUP BY row, bucket)"
    )
    return ",\n".join(chain)


def _cs_sign_coeffs(d: int) -> list[tuple[int, int]]:
    """Sign-hash row coefficients — a DISTINCT deterministic family from
    the bucket coefficients (independence of bucket and sign hashes is
    what makes count-sketch unbiased)."""
    return [(2 * i + 5, 131 * i + 29) for i in range(d)]


def _cs_sign(h_expr: str, a: int, b: int) -> str:
    """+1/-1 from the low bit of an affine rehash."""
    return f"(1 - 2 * (((({a} * ({h_expr}) + {b}) % {MOD}) % 2)))"


def cs_sketch(
    df: DataFrame,
    value_col: str,
    d: int = 5,
    w: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """COUNT-SKETCH (Charikar, Chen & Farach-Colton 2002): the SIGNED
    d x w table (row, bucket, ssum) where each occurrence adds its row's
    +-1 sign — the two-sided companion to cm_sketch: colliding values
    cancel in expectation instead of stacking, so the median estimator
    is UNBIASED (count-min never undercounts but always overcounts).

    Same plan shape as cm_sketch: hash map-side, explode to d cells,
    ONE aggregation whose exchange carries at most d*w groups.

    ``weight_col``: build from a pre-counted (value, count) relation —
    a value's d (bucket, sign) cells depend only on the value, so
    sum(sign * count) is cell-for-cell identical to summing one sign
    per occurrence (see cm_sketch)."""
    if d % 2 == 0:
        raise ValueError("cs_sketch needs odd d (exact median)")
    h = TXT.char_hash(f"cast({value_col} as string)", "spark")
    wcols = [F.col(weight_col).alias("__w")] if weight_col else []
    hashed = df.select(F.expr(h).cast("bigint").alias("__h"), *wcols)
    keep = ["__w"] if weight_col else []
    for a, b in _KMV_ROUNDS:
        hashed = hashed.select(F.expr(_kmv_round("__h", a, b)).alias("__h"), *keep)
    signs = _cs_sign_coeffs(d)
    cells = [
        F.struct(
            F.lit(i).alias("row"),
            F.expr(_cm_bucket("__h", a, b, w)).cast("int").alias("bucket"),
            F.expr(_cs_sign("__h", sa, sb)).cast("bigint").alias("s"),
        )
        for i, ((a, b), (sa, sb)) in enumerate(zip(_cm_coeffs(d), signs))
    ]
    exploded = hashed.select(F.explode(F.array(*cells)).alias("c"), *keep)
    ssum = (
        F.sum(F.col("c.s") * F.col("__w")) if weight_col else F.sum("c.s")
    )
    return exploded.groupBy(
        F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    ).agg(ssum.cast("bigint").alias("ssum"))


def cs_estimate(
    sketch: DataFrame, queries: DataFrame, value_col: str, d: int = 5, w: int = 512
) -> DataFrame:
    """Unbiased point estimates: (value, cs_estimate) with cs_estimate =
    median over rows i of sign_i(v) * cell(i, bucket_i(v)) — the exact
    (d+1)/2-th order statistic of d values via a sorted d-array, never a
    percentile approximation. The sketch broadcasts (d*w rows)."""
    if d % 2 == 0:
        raise ValueError("cs_estimate needs odd d (exact median)")
    h = TXT.char_hash(f"cast({value_col} as string)", "spark")
    q = queries.select(F.col(value_col), F.expr(h).cast("bigint").alias("__h"))
    for a, b in _KMV_ROUNDS:
        q = q.select(value_col, F.expr(_kmv_round("__h", a, b)).alias("__h"))
    signs = _cs_sign_coeffs(d)
    cells = [
        F.struct(
            F.lit(i).alias("row"),
            F.expr(_cm_bucket("__h", a, b, w)).cast("int").alias("bucket"),
            F.expr(_cs_sign("__h", sa, sb)).cast("bigint").alias("s"),
        )
        for i, ((a, b), (sa, sb)) in enumerate(zip(_cm_coeffs(d), signs))
    ]
    probes = q.select(value_col, F.explode(F.array(*cells)).alias("c")).select(
        value_col,
        F.col("c.row").alias("row"),
        F.col("c.bucket").alias("bucket"),
        F.col("c.s").alias("s"),
    )
    mid = (d + 1) // 2
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .withColumn("__e", F.col("s") * F.coalesce(F.col("ssum"), F.lit(0)))
        .groupBy(value_col)
        .agg(
            F.element_at(F.array_sort(F.collect_list("__e")), mid)
            .cast("bigint")
            .alias("cs_estimate")
        )
    )


def cs_oracle_ctes(
    table_cte: str, value_col: str, d: int, w: int, prefix: str = "cs"
) -> str:
    """DuckDB replay: CTE chain ending in ``{prefix}(row, bucket, ssum)``."""
    h = TXT.char_hash(f"cast({value_col} as varchar)", "duck")
    chain = [f"{prefix}_h0 AS (SELECT {h} AS h FROM {table_cte})"]
    src = f"{prefix}_h0"
    for n, (a, b) in enumerate(_KMV_ROUNDS):
        chain.append(
            f"{prefix}_h{n + 1} AS (SELECT {_kmv_round('h', a, b)} AS h FROM {src})"
        )
        src = f"{prefix}_h{n + 1}"
    rows = " UNION ALL ".join(
        f"SELECT {i} AS row, CAST({_cm_bucket('h', a, b, w)} AS INT) AS bucket,"
        f" CAST({_cs_sign('h', sa, sb)} AS BIGINT) AS s FROM {src}"
        for i, ((a, b), (sa, sb)) in enumerate(
            zip(_cm_coeffs(d), _cs_sign_coeffs(d))
        )
    )
    chain.append(f"{prefix}_cells AS ({rows})")
    chain.append(
        f"{prefix} AS (SELECT row, bucket, CAST(SUM(s) AS BIGINT) AS ssum"
        f" FROM {prefix}_cells GROUP BY row, bucket)"
    )
    return ",\n".join(chain)


def kmv_sets(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 128,
    pre_hashed: bool = False,
) -> DataFrame:
    """Per-key KMV synopsis as the raw k-smallest hash ARRAY: (keys...,
    hs) — the mergeable form that set-operation estimators consume
    (Beyer et al. 2007 §4: union/intersection/Jaccard of two sets from
    the k smallest of their sketch union). Same map-side-truncated
    combine as kmv_distinct (``_kmv_partial``: ≤ k hashes per key per
    task cross the exchange).

    ``pre_hashed``: the value column already holds mod-M polynomial
    hashes (e.g. shingle hashes) — skip the char hash, apply only the
    uniformizing rounds."""
    if pre_hashed:
        hashed = df.select(
            *key_cols, F.col(value_col).cast("bigint").alias("__h")
        )
    else:
        h = TXT.char_hash(f"cast({value_col} as string)", "spark")
        hashed = df.select(*key_cols, F.expr(h).cast("bigint").alias("__h"))
    for a, b in _KMV_ROUNDS:
        hashed = hashed.select(
            *key_cols, F.expr(_kmv_round("__h", a, b)).alias("__h")
        )
    return (
        _kmv_partial(hashed, key_cols, k)
        .groupBy(*key_cols)
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("hs"))
    )


def kmv_set_ops(
    pairs: DataFrame, a_col: str, b_col: str, k: int
) -> DataFrame:
    """Append KMV union/intersection/Jaccard estimates to a DataFrame of
    sketch pairs (columns ``a_col``/``b_col`` holding k-smallest arrays).

    merged = k smallest of the sketch union is itself the KMV sketch of
    A ∪ B, so |A∪B| falls out of the usual estimator; the fraction ρ of
    merged elements present in BOTH input sketches estimates Jaccard,
    and ρ·|A∪B| the intersection (Beyer et al. 2007). When merged holds
    fewer than k hashes both sketches were exhaustive and every figure
    is exact."""
    merged = f"slice(array_sort(array_distinct(concat({a_col}, {b_col}))), 1, {k})"
    ke = f"size(__m)"
    inter = (
        f"size(filter(__m, x -> array_contains({a_col}, x) "
        f"AND array_contains({b_col}, x)))"
    )
    return (
        pairs.withColumn("__m", F.expr(merged))
        .withColumn(
            "est_union",
            F.when(
                F.expr(ke) >= k,
                F.round(
                    F.lit(float(k - 1)) * MOD / F.element_at("__m", k), 6
                ),
            ).otherwise(F.expr(ke).cast("double")),
        )
        .withColumn("__rho", F.expr(inter) / F.expr(ke))
        .withColumn("est_jaccard", F.round("__rho", 6))
        .withColumn(
            "est_intersection", F.round(F.col("__rho") * F.col("est_union"), 6)
        )
        .drop("__m", "__rho")
    )


# --- Deterministic-sample quantiles ---------------------------------------
#
# Quantile estimation from a HASH-DEFINED Bernoulli sample: a row is in
# the sample iff uniformized_hash(row_id) % 1e6 < rate_ppm. Unlike
# rand()-based sampling the membership set is a pure function of the
# data, so (a) the estimate is reproducible across runs, partitionings
# and engines — the DuckDB oracle replays the exact sample — and (b)
# samples of different tables are coordinated (same ids ⇒ same rows),
# the property join-aware samplers (Join Synopses, Acharya et al. 1999)
# rely on. Quantiles are NEAREST-RANK (lower): value at 1-based rank
# floor(p·(n-1)/100)+1 — integer rank arithmetic and an exact data value,
# no interpolation, hence bit-parity where interpolated quantile_cont
# would differ by final-ulp association.
#
# Scale shape: the sample predicate evaluates inside the scan (codegen,
# no shuffle); everything after — per-group sort for row_number — runs
# on the rate_ppm fraction only. Error of a p-quantile from an n-row
# sample is O(sqrt(p(1-p)/n)) quantile-fraction units; at 1e6 sampled
# rows the p50 is within ±0.05% of the true rank. A mergeable sketch
# (GK/KLL/t-digest) is the streaming-grade alternative when a single
# pass with bounded memory matters more than engine-exact replay.


def hash_sample_pred(id_expr: str, rate_ppm: int, dialect: str) -> str:
    """Boolean SQL: row is in the deterministic sample (rate_ppm/1e6)."""
    cast_t = "string" if dialect == "spark" else "varchar"
    h = TXT.char_hash(f"cast({id_expr} as {cast_t})", dialect)
    return f"({_mixed_sql(h, dialect)}) % 1000000 < {rate_ppm}"


def _mixed_sql(expr: str, dialect: str = "spark") -> str:
    """The KMV uniformizing rounds as ONE scalar expression with the
    input BOUND through one-element transform stages. Each round
    references its input 3x, so naive textual nesting would evaluate the
    input (an O(len) char-hash fold at most call sites) 9x per row —
    the expression-blowup lesson the _KMV_ROUNDS projections encode,
    here for call sites that need a single predicate instead of extra
    projections."""
    if dialect == "spark":
        out = f"array({expr})"
        for a, b in _KMV_ROUNDS:
            out = f"transform({out}, __x -> (__x * __x + {a} * __x + {b}) % {MOD})"
        return f"({out})[0]"
    out = f"[{expr}]"
    for a, b in _KMV_ROUNDS:
        out = f"list_transform({out}, __x -> (__x * __x + {a} * __x + {b}) % {MOD})"
    return f"({out})[1]"


def rank_quantiles(
    df: DataFrame, key_cols: list[str], value_col: str, pcts: list[int]
) -> DataFrame:
    """Nearest-rank quantiles per key: (keys..., pct, n, value).

    Plan: one row_number window (sort within each key partition) + a
    count aggregate, joined on the computed target rank. Run it on the
    hash sample, not the raw table — the sort is the expensive part and
    it should see only sampled rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(value_col)
    ranked = (
        df.select(*key_cols, value_col)
        .withColumn("__rn", F.row_number().over(w))
    )
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    targets = (
        counts.select(
            *key_cols,
            "n",
            F.explode(F.array(*[F.lit(p) for p in pcts])).alias("pct"),
        )
        .withColumn("__t", F.expr("(pct * (n - 1)) div 100 + 1"))
    )
    cond = [targets[c] == ranked[c] for c in key_cols] + [
        targets["__t"] == ranked["__rn"]
    ]
    return targets.join(ranked, cond).select(
        *[targets[c] for c in key_cols],
        "pct",
        "n",
        F.col(value_col).alias("value"),
    )


def rank_quantile_ctes(
    src_cte: str, key_cols: list[str], value_col: str, pcts: list[int], prefix: str
) -> str:
    """DuckDB replay ending in ``{prefix}(keys..., pct, n, value)``."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"t.{c} = r.{c}" for c in key_cols)
    plist = ", ".join(str(p) for p in pcts)
    return f"""{prefix}_ranked AS (
  SELECT {keys}, {value_col},
         row_number() OVER (PARTITION BY {keys} ORDER BY {value_col}) AS rn
  FROM {src_cte}
),
{prefix}_counts AS (
  SELECT {keys}, COUNT(*) AS n FROM {src_cte} GROUP BY {keys}
),
{prefix}_targets AS (
  SELECT {keys}, n, pct, (pct * (n - 1)) // 100 + 1 AS t
  FROM {prefix}_counts CROSS JOIN (SELECT unnest([{plist}]) AS pct)
),
{prefix} AS (
  SELECT {', '.join(f't.{c}' for c in key_cols)}, t.pct, t.n,
         r.{value_col} AS value
  FROM {prefix}_targets t JOIN {prefix}_ranked r ON {on} AND t.t = r.rn
)"""


def rank_quantiles_select(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    pcts: list[int],
    n_buckets: int = 1024,
) -> DataFrame:
    """Distributed selection: the same nearest-rank quantiles as
    ``rank_quantiles`` (identical values by construction — both return
    the t-th smallest), without its scalability flaw.

    The window form partitions the sort BY GROUP KEY, so its parallelism
    equals the group count — three return-flags means three tasks sort
    a 100 TB table's worth of rows. Selection instead:

      1. per-group min/max/count — one map-side-partial aggregate;
      2. range-bucket every row into ``n_buckets`` equal-width buckets
         and count per (group, bucket) — the only full-data exchange
         carries group×bucket COUNTS, not rows;
      3. walk the cumulative counts (group×bucket-sized, window over a
         tiny relation) to find, for each target rank t, its bucket and
         the residual offset within it;
      4. re-scan ONLY the rows of chosen buckets (a broadcast semi
         filter — a vanishing fraction for any non-degenerate value
         distribution) and row_number within (group, bucket): the sort
         touches bucket-sized slices with parallelism group×bucket.

    Degenerate distributions (a bucket holding most of a group — e.g.
    near-constant values) degrade toward the window form's cost but
    never past it. This is the classic two-pass distributed selection
    (Blum et al. selection networks adapted to range partitioning; the
    same shape Spark's approxQuantile uses with sketches instead of an
    exact second pass).
    """
    _, _, chosen, candidates = _rank_select_core(
        df, key_cols, value_col, pcts, n_buckets
    )
    ch, ca = chosen.alias("__ch"), candidates.alias("__ca")
    ccond = [F.col(f"__ch.{c}") == F.col(f"__ca.{c}") for c in key_cols] + [
        F.col("__ch.__b") == F.col("__ca.__b"),
        F.col("__ch.__off") == F.col("__ca.__rnb"),
    ]
    return ch.join(ca, ccond).select(
        *[F.col(f"__ch.{c}") for c in key_cols],
        F.col("__ch.pct").alias("pct"),
        F.col("__ch.n").alias("n"),
        F.col(f"__ca.{value_col}").alias("value"),
    )


def _rank_select_core(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    pcts: list[int],
    n_buckets: int = 1024,
    with_sums: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared selection walk behind ``rank_quantiles_select`` and
    ``trimmed_mean_select``: returns (stats, bcounts, chosen,
    candidates). With ``with_sums`` the (group, bucket) count relation
    also carries the exact per-bucket value sum AND is persisted — it
    then feeds both the cumulative rank walk and a moment consumer
    without re-running the full-data bucketing scan (the trimmed-mean
    path derives sums-below-cutoff from it arithmetically instead of
    paying a fourth source scan)."""
    from pyspark.sql import Window

    src = df.select(*key_cols, value_col)
    stats = src.groupBy(*key_cols).agg(
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
        F.count(F.lit(1)).alias("n"),
    )
    bexpr = (
        f"case when __hi = __lo then 0 else least({n_buckets - 1}, "
        f"cast(floor((cast({value_col} as double) - cast(__lo as double)) "
        f"/ (cast(__hi as double) - cast(__lo as double)) * {n_buckets}) as int)) end"
    )
    bucketed = (
        src.join(F.broadcast(stats), key_cols)
        .withColumn("__b", F.expr(bexpr))
        .select(*key_cols, value_col, "__b")
    )
    baggs = [F.count(F.lit(1)).alias("__bc")]
    if with_sums:
        baggs.append(
            F.sum(F.col(value_col).cast("decimal(38,0)")).alias("__bs")
        )
    bcounts = bucketed.groupBy(*key_cols, "__b").agg(*baggs)
    if with_sums:
        # group x bucket-bounded rows; consumed by the rank walk AND the
        # moment reader — without materialization each consumer re-runs
        # the full-data bucketing scan
        bcounts = bcounts.persist()
    wcum = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bcounts.withColumn("__cum", F.sum("__bc").over(wcum))
    targets = (
        stats.select(
            *key_cols,
            "n",
            F.explode(F.array(*[F.lit(p) for p in pcts])).alias("pct"),
        )
        .withColumn("__t", F.expr("(pct * (n - 1)) div 100 + 1"))
    )
    # bucket containing rank t: smallest __b with cum >= t
    tcond = [targets[c] == cum[c] for c in key_cols] + [
        targets["__t"] <= cum["__cum"]
    ]
    chosen = (
        targets.join(cum, tcond)
        .groupBy(*[targets[c] for c in key_cols], "pct", "n", "__t")
        .agg(F.min(F.struct("__b", "__cum", "__bc")).alias("__sel"))
        .select(
            *key_cols,
            "pct",
            "n",
            "__t",
            F.col("__sel.__b").alias("__b"),
            (F.col("__t") - (F.col("__sel.__cum") - F.col("__sel.__bc")))
            .alias("__off"),
        )
    )
    # ``chosen`` (groups x pcts rows) feeds BOTH the picked-bucket filter
    # and the final offset join; without materialization Spark would
    # recompute its lineage — including the full bucket-count scan — once
    # per branch
    chosen = chosen.persist()
    picked_buckets = chosen.select(*key_cols, "__b").distinct()
    wb = Window.partitionBy(*key_cols, "__b").orderBy(value_col)
    candidates = (
        bucketed.join(F.broadcast(picked_buckets), [*key_cols, "__b"])
        .withColumn("__rnb", F.row_number().over(wb))
    )
    if with_sums:
        # the trimmed-mean path reads candidates twice (cut values +
        # partial-bucket moments); without materialization each consumer
        # re-runs the picked-bucket source rescan
        candidates = candidates.persist()
    return stats, bcounts, chosen, candidates


def array_lit(vals: list, elem_type: str) -> Column:
    """A literal ``array<elem_type>`` (``double`` or ``bigint``) built
    with ONE py4j call, however long ``vals`` is.

    ``F.lit(list)`` expands to ``array(lit(v0), lit(v1), ...)`` — one
    py4j round trip per element, and a numpy array is no cheaper (its
    py4j converter sets each element with its own call). The EDF walk
    inlines four ~n_buckets arrays per build (percentile fractions,
    boundaries, offsets, one per summed column): ~4k round trips at
    n_buckets=1024, most of a walk's driver-side build time. Here the
    values travel as ONE comma-joined string literal that Spark splits
    and casts. ``repr`` round-trips every double exactly (and Spark's
    string->double cast is correctly rounded, ``inf``/``nan`` included);
    bigints are exact decimal text. ConstantFolding collapses the
    split + cast into one array ``Literal`` in the optimized plan, so no
    row ever parses the string. (A SQL ``array(1.5D, ...)`` text is also
    one call, but parsing it holds far more driver heap.)"""
    conv = float if elem_type == "double" else int
    if not vals:
        # split("") yields [""], not []
        return F.array().cast(f"array<{elem_type}>")
    text = ",".join(repr(conv(v)) for v in vals)
    return F.split(F.lit(text), ",").cast(f"array<{elem_type}>")


def range_partitioned_ranks(
    df: DataFrame,
    value_col: str,
    tie_cols: list[str],
    desc: bool = False,
    n_buckets: int = 1024,
    out_col: str = "__rank",
    sum_cols: list[tuple[str, str]] | None = None,
) -> tuple[DataFrame, int, list[int]]:
    """Exact global dense row-numbering WITHOUT a single-partition sort.

    ``row_number() OVER (ORDER BY value, ties)`` moves the whole relation
    to one task (Spark's "No Partition Defined for Window" warning — the
    driver-node face-plant at 100 TB). This is the distributed
    equivalent, the two-level prefix-sum every external sort-rank uses:

      1. one map-side-partial aggregate: global count + the i/n_buckets
         ``percentile_approx`` boundary quantiles (1 row, broadcast);
      2. range-bucket every row into ``n_buckets`` EQUI-DEPTH buckets
         on ``value_col`` (binary search over the broadcast boundary
         array) — map-side, monotone in the sort key so bucket order IS
         rank order and ties (same value) never straddle buckets;
      3. per-bucket counts (<= n_buckets rows) -> each bucket's rank
         offset by a prefix-sum computed on the DRIVER from the
         collected count relation (r15; <= n_buckets exact-integer rows)
         — deliberately not a window, so no partition-less WindowExec
         node exists anywhere in the plan, and no bucket-count exchange
         / broadcast join exists in the per-action plan either. Each
         offset array (like the boundary array and the percentile
         fractions) is inlined with ``array_lit``: ONE py4j call
         carrying a comma-joined string that Spark splits and casts,
         constant-folded to a literal array in the optimized plan, so
         no row parses it (``F.lit(list)`` paid one call per element);
      4. row_number within each bucket (parallelism = populated
         buckets, each sorting ~n/n_buckets rows) + broadcast offset.

    Ranks are IDENTICAL to the global window's by construction. The one
    residual hot-bucket shape is TIE MASS: a single value holding x% of
    all rows puts that x% in one bucket, which no monotone bucketing can
    split (standing adjudication, same as rank_quantiles_select).

    ``desc=True`` ranks by ``value_col`` descending (tie columns stay
    ascending, matching ``ORDER BY v DESC, ties``). ``sum_cols`` is a
    list of ``(out_col, src_col)`` pairs, each emitting the running
    cumulative sum of ``src_col`` in rank order (inclusive of the
    current row — ``SUM(src) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)``), computed the same two-level way: per-bucket totals
    prefix-summed on the driver + a partitioned within-bucket running
    sum. All pairs ride the one bucket-count collect (the EDF drift
    panel needs two — cum_a and cum_b — per walk). A summed column must
    be integer-typed (the prefix sums are exact bigint — the
    cents-integer discipline every cumulative query here uses).

    Returns ``(ranked, n, totals)``: the ranked relation, the input's
    row count and each summed column's grand total (in ``sum_cols``
    order) — plain ints the walk collects on the driver anyway, so a
    caller that needs a total inlines it as a bigint literal instead of
    aggregating the input a second time (and broadcast-joining the
    1-row result back). On empty input ``n`` is 0 and every total 0.

    Buckets are EQUI-DEPTH (round 14): boundaries are the
    ``percentile_approx`` quantiles of ``value_col`` at i/n_buckets,
    computed in the SAME single-pass stats aggregate that already
    gathers the row count. Since round 15 that 1-row aggregate is
    collected to the driver at plan-build time and inlined as a literal
    (ADVICE r14 medium): a recomputed partition can never be bucketed
    against a different sketch evaluation than the offsets were built
    from, which the in-plan broadcast could not guarantee under
    partition loss. Each bucket then
    holds ~n/n_buckets rows (± the sketch's 1/accuracy rank error and
    tie mass — ties can never straddle a monotone bucketing) for ANY
    value distribution: a whale value six decades beyond the body, a
    zipf tail, a shifted tight cluster — the r13 equal-width plan's
    measured whale collapse (SCALE.md: one 1e6x value pushed the whole
    body into bucket 0 and the walk back to the single-task cost)
    cannot happen by construction. Row assignment is a 10-step unrolled
    binary search (chained projections, ``try_element_at`` on the
    broadcast boundary array — O(log n_buckets) per row, no O(n_buckets)
    array scan in the hot path). Quantile sketch error only moves COARSE
    boundaries; ranks/sums stay bit-identical to the global window.

    NULL handling: NULL ``value_col`` rows are routed to the bucket that
    matches Spark's window NULL ordering — bucket 0 for ascending (ASC =
    NULLS FIRST) and the last bucket for descending (DESC = NULLS LAST).
    This falls out of the search itself: a NULL value never satisfies a
    boundary comparison, so its ascending boundary count is 0 (bucket 0
    ascending, n_buckets-1 after the descending flip). A NULL summed
    value contributes 0 to the running sum and the total (as SUM
    ignores NULLs).
    """
    from pyspark.sql import Window

    n_bnd = n_buckets - 1
    stats_aggs = [F.count(F.lit(1)).alias("__n")]
    if n_bnd > 0:
        # sketch accuracy 2*n_buckets (was a flat 10000): boundary
        # precision only moves COARSE bucket edges — ranks and sums are
        # invariant to the boundary values by construction — and the
        # rank error bound n/accuracy = half an ideal bucket keeps every
        # bucket within ~2x of n/n_buckets (measured: max 282 vs ideal
        # 146 at sf0.1). The sketch build was the dominant plan-build
        # cost of every EDF-walk caller (2.9 s -> 0.9 s per walk, r16).
        stats_aggs.append(
            F.percentile_approx(
                F.col(value_col).cast("double"),
                array_lit([i / n_buckets for i in range(1, n_buckets)], "double"),
                max(2 * n_buckets, 2048),
            ).alias("__bnd")
        )
    # Boundary derivation is RECOMPUTE-STABLE (r15, ADVICE medium): the
    # 1-row stats aggregate is collected to the driver ONCE at plan-build
    # time and the boundary array is inlined as a literal. With the old
    # in-plan crossJoin(broadcast(stats)), a lost/evicted partition of
    # ``bucketed`` recomputed after bcounts/offsets were taken could be
    # re-bucketed against a DIFFERENT percentile_approx evaluation
    # (sketch merges are not order-deterministic), silently corrupting
    # ranks on exactly the large-cluster target this operator exists
    # for. A literal cannot drift; ranks and sums are invariant to the
    # boundary values by construction either way. Side effect: one
    # BroadcastNestedLoopJoin and one broadcast build disappear from
    # every caller's plan.
    stats_row = df.agg(*stats_aggs).collect()[0]
    n_total = int(stats_row["__n"])
    bnd_vals = list(stats_row["__bnd"]) if (
        n_bnd > 0 and stats_row["__bnd"] is not None
    ) else None
    # ``bucketed`` feeds BOTH the bucket-count collect and the ranked
    # output; without materialization each reference re-evaluates the
    # full input lineage — and CHAINED calls (rfm's three ntile passes)
    # multiply that re-evaluation per pass (measured 11x on rfm at
    # sf0.1). The walk's own input is read twice (the stats collect and
    # this persist) and is not persisted here: persisting it in place
    # of the callers' inputs measured slower on cold_build. Honest
    # footprint note: this persist is INPUT-ROW-scale (not node-bounded
    # like the graph iterations) and lives until the caller's action
    # completes and the cache is cleared — bench.py and the correctness
    # harness call spark.catalog.clearCache() between queries for
    # exactly this reason; long-lived sessions chaining many ranked
    # relations should do the same.
    joined_stats = df
    if n_bnd > 0 and bnd_vals is not None:
        # __bs = |{boundaries <= v}| via unrolled binary search over the
        # LITERAL boundary array: each step is its own projection
        # (withColumn) so the expression tree stays LINEAR in step count
        # — nesting the accumulator inline would triple it per level.
        # try_element_at returns NULL past the array end, and a NULL
        # comparison never increments, which also gives NULL values the
        # window's NULL ordering for free (see docstring).
        bnd_lit = array_lit(bnd_vals, "double")
        vd = F.col(value_col).cast("double")
        joined_stats = joined_stats.withColumn("__bs", F.lit(0))
        step = 1 << (n_bnd.bit_length() - 1)
        while step >= 1:
            hit = F.try_element_at(bnd_lit, F.col("__bs") + step) <= vd
            joined_stats = joined_stats.withColumn(
                "__bs",
                F.when(hit, F.col("__bs") + step).otherwise(F.col("__bs")),
            )
            step >>= 1
        bcol = (n_bnd - F.col("__bs")) if desc else F.col("__bs")
    else:
        # n_buckets == 1, or every value NULL / empty input (NULL
        # boundary array): everything lands in one bucket, exactly as
        # the old NULL-__bnd search produced bucket 0 (asc) and the
        # desc flip mapped it to the last bucket.
        bcol = F.lit(n_bnd) if (desc and bnd_vals is None and n_bnd > 0) else F.lit(0)
    bucketed = (
        joined_stats.withColumn("__b", bcol.cast("int"))
        .drop("__bs")
        .persist()
    )
    pairs = list(sum_cols or [])
    baggs = [F.count(F.lit(1)).alias("__bc")]
    for i, (_, src) in enumerate(pairs):
        baggs.append(
            F.coalesce(F.sum(src).cast("bigint"), F.lit(0)).alias(f"__bs{i}")
        )
    # Per-bucket offsets are collected once at plan-build time (r15):
    # <= n_buckets rows of exact integer counts/sums — the same bounded
    # driver state class as the boundary array, and recompute-stable for
    # the same reason (counts are deterministic; nothing depends on
    # sketch evaluation order). The prefix sums fold in ascending-__b
    # order exactly as the old in-plan sort_array/transform did, and the
    # per-row offset lookup becomes a literal element_at — the bucket-
    # count exchange, the collect_list aggregate and the broadcast join
    # disappear from every ACTION's plan (they were re-run per pass and
    # per downstream reference). This collect also materializes the
    # ``bucketed`` persist, so the build pays what the first action
    # used to.
    brows = sorted(
        bucketed.groupBy("__b").agg(*baggs).collect(),
        key=lambda r: r["__b"],
    )
    off_vals = [0] * n_buckets
    soff_vals = [[0] * n_buckets for _ in pairs]
    cum = 0
    cums = [0] * len(pairs)
    for r in brows:
        b = int(r["__b"])
        off_vals[b] = cum
        cum += int(r["__bc"])
        for i in range(len(pairs)):
            soff_vals[i][b] = cums[i]
            cums[i] += int(r[f"__bs{i}"])

    order = [F.desc(value_col) if desc else F.asc(value_col)] + [
        F.asc(c) for c in tie_cols
    ]
    w_in = Window.partitionBy("__b").orderBy(*order)
    out = [
        *df.columns,
        (F.col("__off") + F.col("__rnb")).cast("bigint").alias(out_col),
    ]
    joined = (
        bucketed.withColumn(
            "__off", F.element_at(array_lit(off_vals, "bigint"), F.col("__b") + 1)
        )
        .withColumn("__rnb", F.row_number().over(w_in))
    )
    for i in range(len(pairs)):
        joined = joined.withColumn(
            f"__soff{i}",
            F.element_at(array_lit(soff_vals[i], "bigint"), F.col("__b") + 1),
        )
    for i, (out_name, src) in enumerate(pairs):
        joined = joined.withColumn(
            f"__rsb{i}",
            F.coalesce(
                F.sum(src)
                .over(w_in.rowsBetween(Window.unboundedPreceding, 0))
                .cast("bigint"),
                F.lit(0),
            ),
        )
        out.append(
            (F.col(f"__soff{i}") + F.col(f"__rsb{i}")).cast("bigint").alias(out_name)
        )
    return joined.select(*out), n_total, cums


def exact_ntile(
    df: DataFrame,
    value_col: str,
    tie_cols: list[str],
    k: int,
    desc: bool = False,
    out_col: str = "__ntile",
    n_buckets: int = 1024,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY value [DESC], ties)`` without the
    single-partition sort: global ranks from
    ``range_partitioned_ranks``, then the closed-form ntile bucket —
    with n rows, base = n div k and rem = n mod k, the first ``rem``
    tiles hold base+1 rows:

        r <= rem*(base+1):  tile = (r-1) div (base+1) + 1
        otherwise:          tile = rem + (r - rem*(base+1) - 1) div base + 1

    Bit-identical to the window ntile for every (n, k) — including
    n < k, where base = 0 makes the first branch cover all rows."""
    ranked, n, _ = range_partitioned_ranks(
        df, value_col, tie_cols, desc=desc, n_buckets=n_buckets, out_col="__r"
    )
    nn = f"CAST({n} AS BIGINT)"
    tile = (
        f"case when __r <= ({nn} % {k}) * ({nn} div {k} + 1) "
        f"then (__r - 1) div ({nn} div {k} + 1) + 1 "
        f"else ({nn} % {k}) + (__r - ({nn} % {k}) * ({nn} div {k} + 1) - 1) "
        f"div ({nn} div {k}) + 1 end"
    )
    return ranked.withColumn(out_col, F.expr(tile).cast("int")).drop("__r")


# --- Probability-proportional-to-size (PPS) sampling + Horvitz-Thompson --
#
# Weighted sampling for training-data mixtures: each document enters the
# sample with probability proportional to a per-ROW weight (here token
# count — classic size-proportional "pps" design; in a quality pipeline
# the weight is a quality/importance score, the DSIR/DoReMi move), and
# downstream totals are recovered UNBIASEDLY from the sample with the
# Horvitz-Thompson estimator sum(y_i / pi_i) (Horvitz & Thompson 1952).
# PPS is the variance-optimal design for estimating totals: big (or
# high-weight) documents are near-certain picks, the long tail is
# thinned, and the HT reweighting undoes the tilt exactly.
#
# Determinism contract: inclusion is hash-defined (the hash_sample_pred
# discipline — reproducible across runs/engines/partitionings, same-id
# coordination across tables, refresh-stable under appends), and the
# inclusion probability is INTEGER ppm: pi_ppm = least(1e6, w * scale).
# HT terms are integer micro-units: round(1e12 / pi_ppm) — pick a scale
# with a prime factor outside {2, 5} (the queries use 2100 = 2^2*3*5^2*7)
# and the quotient can never land on an exact .5 (3/7 never divide 2e12),
# so half-up vs half-even rounding cannot split engines, and the
# estimator total is an order-free bigint sum.
#
# Scale shape: pi and the inclusion predicate evaluate inside the scan
# (codegen, zero shuffle); the HT totals are one map-side-partial global
# aggregate. Nothing anywhere is corpus-sized but the scan itself.


def pps_pi_ppm(weight_expr: str, scale_ppm: int) -> str:
    """Integer inclusion probability in ppm: least(1e6, weight*scale)."""
    return f"least(1000000, cast({weight_expr} as bigint) * {scale_ppm})"


def pps_sample(
    df: DataFrame,
    id_col: str,
    weight_expr: str,
    scale_ppm: int,
) -> DataFrame:
    """Rows sampled with pi = min(1, weight*scale_ppm/1e6): input columns
    + (pi_ppm, ht_micro) where ht_micro = round(1e12/pi_ppm) is the
    integer micro-unit HT reweight (1e6 == weight 1.0)."""
    pi = pps_pi_ppm(weight_expr, scale_ppm)
    # integer-key codegen path (id columns are int64 here; see
    # int_hash_sample_pred for why the char fold costs 10-60x)
    pred = f"({_int_mix(f'({id_col}) * 31 + 4001')}) % 1000000 < __pi_ppm"
    return (
        df.withColumn("__pi_ppm", F.expr(pi))
        .where(F.expr(pred))
        .withColumn(
            "ht_micro",
            F.expr("cast(round(1000000000000.0 / __pi_ppm, 0) as bigint)"),
        )
        .withColumnRenamed("__pi_ppm", "pi_ppm")
    )


def pps_oracle_sample_sql(
    table: str, id_col: str, weight_expr: str, scale_ppm: int
) -> str:
    """DuckDB replay of the sampled relation (id, weight, pi_ppm, ht_micro)."""
    u = _int_mix(f"({id_col}) * 31 + 4001")
    return f"""
SELECT {id_col}, __w AS w,
       least(1000000, CAST(__w AS BIGINT) * {scale_ppm}) AS pi_ppm,
       CAST(ROUND(1000000000000.0 / least(1000000, CAST(__w AS BIGINT) * {scale_ppm}), 0) AS BIGINT) AS ht_micro
FROM (SELECT {id_col}, {weight_expr} AS __w, {u} AS __u FROM {table})
WHERE __u % 1000000 < least(1000000, CAST(__w AS BIGINT) * {scale_ppm})
"""


# --- HyperLogLog (integer-exact registers) --------------------------------
#
# The KMV section's design note rejects HLL because leading-zero /
# log2 primitives usually ride on floats that engines round apart. This
# implementation removes that hazard and makes HLL replayable to the
# bit (Flajolet et al. 2007):
#   - register index and suffix come from two SALTED uniformized
#     polynomial hashes (shared with KMV), j = h_j % 64 and
#     s = h_s % 2^24 — so the suffix is near-uniform on its 24 bits
#     (1e9+7 / 2^24 ~ 60 wraps) instead of inheriting the modulus bias
#     a single hash split would have;
#   - rho = leading-zero rank of s = 25 - length(bin(s)) — STRING
#     length of the binary rendering, integer-exact and identical in
#     Spark and DuckDB (both print minimal binary);
#   - the harmonic denominator S = sum 2^-rho is kept as the exact
#     integer S_scaled = sum 2^(25-rho) (dyadic rationals scaled by
#     2^25), so the only float op in the whole estimator is the final
#     literal/S_scaled division.
# Raw-regime estimator only (alpha_m * m^2 / S): the small-range linear
# counting branch (m * ln(m/V)) would reintroduce a transcendental at
# exactly the scale where the KMV sketch is the better tool anyway —
# documented boundary, the self-eval prices the realized error.
#
# Scale shape: hashes and rho evaluate inside the scan; the only
# exchange carries (j, partial-max) for 64 register keys — max() is the
# HLL merge, so partial aggregation IS the sketch union, the same
# bounded-exchange property as KMV. Mergeability across shards =
# element-wise register max (tested).

HLL_M = 64
HLL_W_BITS = 24
HLL_B = HLL_W_BITS + 1  # max rho
# alpha_64 * m^2 * 2^B precomputed to ONE double literal: the estimator
# is a single division away from the integer S_scaled.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_NUM = float(HLL_ALPHA * HLL_M * HLL_M * (1 << HLL_B))
# Linear-counting branch (Whang et al. 1990; the standard HLL small-range
# correction): est = m * ln(m / v_empty) when the raw estimate falls
# under 2.5m and empty registers exist. v_empty has the FINITE domain
# {1..m}, so the one transcendental becomes m precomputed decimal
# literals both engines parse to the same double — the same trick as the
# nDCG discount table. Index v -> m*ln(m/v); index 0 unused (v_empty = 0
# always dispatches raw).
import math as _math  # noqa: E402

HLL_LC = [0.0] + [
    round(HLL_M * _math.log(HLL_M / v), 10) for v in range(1, HLL_M + 1)
]
HLL_LC_THRESHOLD = 2.5 * HLL_M


def _int_mix(expr: str) -> str:
    """The KMV uniformizing rounds inlined as plain arithmetic over an
    int64 base expression — the codegen fast path for NUMERIC inputs
    (the int_hash_sample_pred note: a higher-order fold is interpreted
    outside whole-stage codegen; integer keys don't need characters).
    Textual nesting triples the base per round (9 copies after 2) —
    harmless for a handful of int ops."""
    x = f"((({expr}) % {MOD} + {MOD}) % {MOD})"
    for a, b in _KMV_ROUNDS:
        x = f"(({x}) * ({x}) + {a} * ({x}) + {b}) % {MOD}"
    return x


def _hll_j_rho(
    value_expr: str, dialect: str, numeric: bool = False
) -> tuple[str, str]:
    if numeric:
        # salted integer bases replace the 'j|'/'s|' string prefixes;
        # everything stays inside codegen (measured 22x on the sf1
        # events scan vs the per-character fold: 14.6 s -> 0.67 s warm)
        hj = _int_mix(f"({value_expr}) * 31 + 1009")
        hs = _int_mix(f"({value_expr}) * 31 + 2003")
    else:
        cat = (
            f"concat('j|', cast({value_expr} as string))"
            if dialect == "spark"
            else f"'j|' || cast({value_expr} as varchar)"
        )
        cat_s = (
            f"concat('s|', cast({value_expr} as string))"
            if dialect == "spark"
            else f"'s|' || cast({value_expr} as varchar)"
        )
        hj = _mixed_sql(TXT.char_hash(cat, dialect), dialect)
        hs = _mixed_sql(TXT.char_hash(cat_s, dialect), dialect)
    j = f"(({hj}) % {HLL_M})"
    s = f"(({hs}) % {1 << HLL_W_BITS})"
    rho = (
        f"(case when ({s}) = 0 then {HLL_B} "
        f"else {HLL_B} - length(bin({s})) end)"
    )
    return j, rho


def hll_registers(
    df: DataFrame, value_expr: str, numeric: bool = False
) -> DataFrame:
    """(j, r): per-register max rho. The groupBy(j) partial max is the
    sketch union — the exchange carries at most 64 rows per task.
    ``numeric=True`` takes the integer-salt codegen path (identical
    structure, different — equally uniform — hash)."""
    j, rho = _hll_j_rho(value_expr, "spark", numeric)
    return (
        df.select(F.expr(j).alias("j"), F.expr(rho).alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One-row HLL estimate from a (j, r) register relation:
    (v_empty, s_scaled, est_raw, method, est). ``method`` records the
    regime the estimator auto-dispatched to: 'linear' (small-range
    correction — raw estimate under 2.5m with empty registers, est from
    the m-entry literal table HLL_LC) or 'raw' (alpha_m * m^2 / S).
    Both branches are engine-exact: the dispatch predicate compares a
    literal/int division against a literal, and the linear-counting
    value is a table lookup."""
    lc_arr = ", ".join(f"{x!r}D" for x in HLL_LC)
    return (
        regs.agg(
            (F.lit(HLL_M) - F.count("*")).cast("bigint").alias("v_empty"),
            (
                F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_B} - r)"))
                + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << HLL_B)
            )
            .cast("bigint")
            .alias("s_scaled"),
        )
        .select(
            "v_empty",
            "s_scaled",
            (F.lit(HLL_NUM) / F.col("s_scaled")).alias("__raw"),
        )
        .select(
            "v_empty",
            "s_scaled",
            F.round("__raw", 4).alias("est_raw"),
            F.expr(
                f"case when v_empty > 0 and __raw <= {HLL_LC_THRESHOLD!r} "
                "then 'linear' else 'raw' end"
            ).alias("method"),
            F.round(
                F.expr(
                    f"case when v_empty > 0 and __raw <= {HLL_LC_THRESHOLD!r} "
                    f"then element_at(array({lc_arr}), cast(v_empty as int) + 1) "
                    "else __raw end"
                ),
                4,
            ).alias("est"),
        )
    )


def hll_registers_by(
    df: DataFrame, key_cols: list[str], value_expr: str, numeric: bool = False
) -> DataFrame:
    """(keys..., j, r): PER-KEY register relations — the grouped form of
    hll_registers. The exchange carries at most |keys| x 64 rows (one
    partial max per key x register per task), replacing a per-key
    COUNT(DISTINCT)'s value-cardinality shuffle with a fixed 64-register
    synopsis per group — the GROUP BY companion the dashboard rollups
    want at 100 TB."""
    j, rho = _hll_j_rho(value_expr, "spark", numeric)
    return (
        df.select(*key_cols, F.expr(j).alias("j"), F.expr(rho).alias("rho"))
        .groupBy(*key_cols, "j")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate_by(regs: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key HLL estimates from a grouped (keys..., j, r) register
    relation: (keys..., v_empty, method, est) — same raw/linear-counting
    auto-dispatch as hll_estimate, applied per group (small groups take
    the linear-counting branch, big ones the raw estimator — both
    engine-exact)."""
    lc_arr = ", ".join(f"{x!r}D" for x in HLL_LC)
    pred = f"case when v_empty > 0 and __raw <= {HLL_LC_THRESHOLD!r} "
    return (
        regs.groupBy(*key_cols)
        .agg(
            (F.lit(HLL_M) - F.count("*")).cast("bigint").alias("v_empty"),
            (
                F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_B} - r)"))
                + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << HLL_B)
            )
            .cast("bigint")
            .alias("s_scaled"),
        )
        .select(
            *key_cols,
            "v_empty",
            (F.lit(HLL_NUM) / F.col("s_scaled")).alias("__raw"),
        )
        .select(
            *key_cols,
            "v_empty",
            F.expr(f"{pred}then 'linear' else 'raw' end").alias("method"),
            F.round(
                F.expr(
                    f"{pred}then element_at(array({lc_arr}), "
                    "cast(v_empty as int) + 1) else __raw end"
                ),
                4,
            ).alias("est"),
        )
    )


def hll_oracle_sql_by(
    table: str, key_cols: list[str], value_expr: str, numeric: bool = False
) -> str:
    """DuckDB replay of the grouped registers + per-key estimates,
    ending in a CTE ``hll_by(keys..., v_empty, method, est)``."""
    j, rho = _hll_j_rho(value_expr, "duck", numeric)
    keys = ", ".join(key_cols)
    lc_arr = ", ".join(repr(x) for x in HLL_LC)
    lc = f"([{lc_arr}])[CAST(v_empty AS INT) + 1]"
    pred = f"v_empty > 0 AND __raw <= {HLL_LC_THRESHOLD!r}"
    return f"""regs_by AS (
  SELECT {keys}, j, MAX(rho) AS r FROM (
    SELECT {keys}, {j} AS j, {rho} AS rho FROM {table}) GROUP BY {keys}, j),
agg_by AS (
  SELECT {keys}, CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_empty,
         CAST(SUM(1::BIGINT << ({HLL_B} - r))
              + ({HLL_M} - COUNT(*)) * {1 << HLL_B} AS BIGINT) AS s_scaled
  FROM regs_by GROUP BY {keys}),
raw_by AS (
  SELECT {keys}, v_empty, {HLL_NUM!r} / s_scaled AS __raw FROM agg_by),
hll_by AS (
  SELECT {keys}, v_empty,
         CASE WHEN {pred} THEN 'linear' ELSE 'raw' END AS method,
         ROUND(CASE WHEN {pred} THEN {lc} ELSE __raw END, 4) AS est
  FROM raw_by)"""


def hll_oracle_sql(table: str, value_expr: str, numeric: bool = False) -> str:
    """DuckDB replay: registers + the same raw/linear-counting dispatch
    from the same hashes and the same literal table."""
    j, rho = _hll_j_rho(value_expr, "duck", numeric)
    lc_arr = ", ".join(repr(x) for x in HLL_LC)
    lc = f"([{lc_arr}])[CAST(v_empty AS INT) + 1]"
    pred = f"v_empty > 0 AND __raw <= {HLL_LC_THRESHOLD!r}"
    return f"""
WITH regs AS (
  SELECT j, MAX(rho) AS r FROM (
    SELECT {j} AS j, {rho} AS rho FROM {table}) GROUP BY j),
agg AS (
  SELECT CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_empty,
         CAST(SUM(1::BIGINT << ({HLL_B} - r))
              + ({HLL_M} - COUNT(*)) * {1 << HLL_B} AS BIGINT) AS s_scaled
  FROM regs),
raw AS (
  SELECT v_empty, s_scaled, {HLL_NUM!r} / s_scaled AS __raw FROM agg)
SELECT v_empty, s_scaled, ROUND(__raw, 4) AS est_raw,
       CASE WHEN {pred} THEN 'linear' ELSE 'raw' END AS method,
       ROUND(CASE WHEN {pred} THEN {lc} ELSE __raw END, 4) AS est
FROM raw
"""


def int_hash_sample_pred(key_expr: str, rate_ppm: int, dialect: str) -> str:
    """Deterministic sample predicate for INTEGER keys — the codegen
    fast path next to hash_sample_pred's string form.

    The string form pays a per-character higher-order fold that Spark
    interprets OUTSIDE whole-stage codegen (~1.5 s per 600k-row scan);
    integer keys don't need characters at all: reduce the key mod MOD,
    then apply the same KMV uniformizing polynomial rounds INLINED as
    plain arithmetic (each round references its input 3x — 27 integer
    ops total, all codegen). Same replay guarantees: membership is a
    pure function of the key, identical in both engines.
    """
    # textual nesting triples the base expression per round (9 copies
    # after the 2 rounds) — the base is a handful of integer ops, so the
    # blowup that forced _mixed_sql's transform-binding for CHAR hashes
    # is harmless here and keeps everything inside codegen
    x = f"((({key_expr}) % {MOD} + {MOD}) % {MOD})"
    for a, b in _KMV_ROUNDS:
        x = f"(({x}) * ({x}) + {a} * ({x}) + {b}) % {MOD}"
    return f"({x}) % 1000000 < {rate_ppm}"


def weighted_median_select(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-group LOWER WEIGHTED MEDIAN — the smallest v whose cumulative
    weight reaches half the group's total (integer weights) — via the
    same two-pass distributed selection as ``rank_quantiles_select``,
    with bucket COUNTS replaced by bucket WEIGHT SUMS.

    The weighted median is the robust center under importance/size
    weights (revenue-weighted typical price, token-weighted typical doc
    score) where the plain median over rows answers a different
    question. The selection plan keeps it scalable: the only full-data
    exchange carries group x bucket weight totals; the second pass
    sorts ONLY the chosen buckets' rows.

    Output: (*key_cols, total_w, median_value). Deterministic: the
    crossing VALUE is unique even when intra-tie row order is not
    (cumulative weight at value granularity crosses inside one value
    run), so any engine replays it.
    """
    from pyspark.sql import Window

    src = df.select(*key_cols, value_col, F.col(weight_col).alias("__w"))
    stats = src.groupBy(*key_cols).agg(
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
        F.sum("__w").cast("bigint").alias("total_w"),
    )
    bexpr = (
        f"case when __hi = __lo then 0 else least({n_buckets - 1}, "
        f"cast(floor((cast({value_col} as double) - cast(__lo as double)) "
        f"/ (cast(__hi as double) - cast(__lo as double)) * {n_buckets}) as int)) end"
    )
    bucketed = (
        src.join(F.broadcast(stats), key_cols)
        .withColumn("__b", F.expr(bexpr))
        .select(*key_cols, value_col, "__w", "__b")
    )
    bweights = bucketed.groupBy(*key_cols, "__b").agg(
        F.sum("__w").cast("bigint").alias("__bw")
    )
    wcum = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bweights.withColumn("__cum", F.sum("__bw").over(wcum))
    targets = stats.select(
        *key_cols, "total_w", F.expr("(total_w + 1) div 2").alias("__t")
    )
    tcond = [targets[c] == cum[c] for c in key_cols] + [
        targets["__t"] <= cum["__cum"]
    ]
    chosen = (
        targets.join(cum, tcond)
        .groupBy(*[targets[c] for c in key_cols], "total_w", "__t")
        .agg(F.min(F.struct("__b", "__cum", "__bw")).alias("__sel"))
        .select(
            *key_cols,
            "total_w",
            F.col("__sel.__b").alias("__b"),
            (F.col("__t") - (F.col("__sel.__cum") - F.col("__sel.__bw")))
            .alias("__off"),
        )
        .persist()  # feeds the bucket filter AND the offset join
    )
    picked = chosen.select(*key_cols, "__b").distinct()
    wb = (
        Window.partitionBy(*key_cols, "__b")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    candidates = bucketed.join(F.broadcast(picked), [*key_cols, "__b"]).withColumn(
        "__cw", F.sum("__w").over(wb)
    )
    ch, ca = chosen.alias("__ch"), candidates.alias("__ca")
    ccond = [F.col(f"__ch.{c}") == F.col(f"__ca.{c}") for c in key_cols] + [
        F.col("__ch.__b") == F.col("__ca.__b"),
        F.col("__ch.__off") <= F.col("__ca.__cw"),
    ]
    return (
        ch.join(ca, ccond)
        .groupBy(*[F.col(f"__ch.{c}") for c in key_cols], "total_w")
        .agg(F.min(F.col(f"__ca.{value_col}")).alias("median_value"))
    )


def trimmed_mean_select(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group trimmed mean over exact integer values WITHOUT a
    per-group sort: the trim cutoffs are the nearest-rank percentile
    values from ``rank_quantiles_select`` (bucket-selection, the
    scalable path), and the trimmed SUM is recovered arithmetically —

        sum(kept) = total
                    - [sum(v < q_lo) + (t_lo - 1 - cnt(v < q_lo)) * q_lo]
                    - [sum(v > q_hi) + (n - t_hi - cnt(v > q_hi)) * q_hi]

    where t = (pct*(n-1)) div 100 + 1 is the nearest-rank target and the
    kept range is rank [t_lo, t_hi] INCLUSIVE. The correction terms
    account for ties AT the cutoff exactly (count(v < q) <= t - 1 by
    definition of the t-th smallest), so the result is identical to
    sorting and summing ranks t_lo..t_hi — tie-order-invariant because
    tied rows carry the same value.

    The robust location estimate for heavy-tailed measures (the
    10%-trimmed revenue mean a dashboard wants when one whale order
    moves the plain mean) at two scans + the selection machinery's
    bucket-count exchange — no group-keyed full sort anywhere.

    Returns (*key_cols, n, kept_n, trimmed_sum, trimmed_mean) with
    trimmed_mean = round(trimmed_sum / kept_n, 6).

    r15: the below/above moments are read off the selection machinery's
    OWN (group, bucket) relation — extended with exact per-bucket value
    sums and persisted — plus the already-rescanned picked-bucket rows,
    instead of a fourth full source scan. Bucketing is monotone in the
    value, so v < q_lo holds for EVERY row of a bucket strictly below
    q_lo's bucket and for NO row of a bucket above it; the partial
    bucket's contribution comes from the candidate slice. Identical
    integers to the single-scan conditional sums by construction.
    """
    _, bcounts, chosen, candidates = _rank_select_core(
        df, key_cols, value_col, [lo_pct, hi_pct], with_sums=True
    )
    ch, ca = chosen.alias("__ch"), candidates.alias("__ca")
    ccond = [F.col(f"__ch.{c}") == F.col(f"__ca.{c}") for c in key_cols] + [
        F.col("__ch.__b") == F.col("__ca.__b"),
        F.col("__ch.__off") == F.col("__ca.__rnb"),
    ]
    qs = ch.join(ca, ccond).select(
        *[F.col(f"__ch.{c}") for c in key_cols],
        F.col("__ch.pct").alias("pct"),
        F.col("__ch.n").alias("n"),
        F.col("__ch.__b").alias("__qb"),
        F.col(f"__ca.{value_col}").alias("value"),
    )
    cuts = (
        qs.groupBy(*key_cols, "n")
        .agg(
            F.max(F.when(F.col("pct") == lo_pct, F.col("value"))).alias("q_lo"),
            F.max(F.when(F.col("pct") == hi_pct, F.col("value"))).alias("q_hi"),
            F.max(F.when(F.col("pct") == lo_pct, F.col("__qb"))).alias("b_lo"),
            F.max(F.when(F.col("pct") == hi_pct, F.col("__qb"))).alias("b_hi"),
        )
        .withColumn("t_lo", F.expr(f"({lo_pct} * (n - 1)) div 100 + 1"))
        .withColumn("t_hi", F.expr(f"({hi_pct} * (n - 1)) div 100 + 1"))
    )
    zero = F.lit(0).cast("decimal(38,0)")
    full = (
        bcounts.join(F.broadcast(cuts), key_cols)
        .groupBy(*key_cols, "n", "q_lo", "q_hi", "t_lo", "t_hi", "b_lo", "b_hi")
        .agg(
            F.sum("__bs").alias("total"),
            F.sum(F.when(F.col("__b") < F.col("b_lo"), F.col("__bs"))).alias(
                "s_below_f"
            ),
            F.sum(F.when(F.col("__b") < F.col("b_lo"), F.col("__bc"))).alias(
                "c_below_f"
            ),
            F.sum(F.when(F.col("__b") > F.col("b_hi"), F.col("__bs"))).alias(
                "s_above_f"
            ),
            F.sum(F.when(F.col("__b") > F.col("b_hi"), F.col("__bc"))).alias(
                "c_above_f"
            ),
        )
    )
    v = F.col(value_col).cast("decimal(38,0)")
    part = (
        candidates.join(F.broadcast(cuts), key_cols)
        .groupBy(*key_cols)
        .agg(
            F.sum(
                F.when(
                    (F.col("__b") == F.col("b_lo"))
                    & (F.col(value_col) < F.col("q_lo")),
                    v,
                )
            ).alias("s_below_p"),
            F.count(
                F.when(
                    (F.col("__b") == F.col("b_lo"))
                    & (F.col(value_col) < F.col("q_lo")),
                    1,
                )
            ).alias("c_below_p"),
            F.sum(
                F.when(
                    (F.col("__b") == F.col("b_hi"))
                    & (F.col(value_col) > F.col("q_hi")),
                    v,
                )
            ).alias("s_above_p"),
            F.count(
                F.when(
                    (F.col("__b") == F.col("b_hi"))
                    & (F.col(value_col) > F.col("q_hi")),
                    1,
                )
            ).alias("c_above_p"),
        )
    )
    agg = (
        full.join(F.broadcast(part), key_cols)
        .select(
            *key_cols,
            "n",
            "q_lo",
            "q_hi",
            "t_lo",
            "t_hi",
            "total",
            (
                F.coalesce(F.col("s_below_f"), zero)
                + F.coalesce(F.col("s_below_p"), zero)
            ).alias("s_below"),
            (
                F.coalesce(F.col("c_below_f"), F.lit(0).cast("bigint"))
                + F.col("c_below_p")
            ).alias("c_below"),
            (
                F.coalesce(F.col("s_above_f"), zero)
                + F.coalesce(F.col("s_above_p"), zero)
            ).alias("s_above"),
            (
                F.coalesce(F.col("c_above_f"), F.lit(0).cast("bigint"))
                + F.col("c_above_p")
            ).alias("c_above"),
        )
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sum_bottom = (
        F.coalesce(F.col("s_below"), F.lit(0).cast("decimal(38,0)"))
        + (d("t_lo") - 1 - d("c_below")) * d("q_lo")
    )
    sum_top = (
        F.coalesce(F.col("s_above"), F.lit(0).cast("decimal(38,0)"))
        + (d("n") - d("t_hi") - d("c_above")) * d("q_hi")
    )
    kept_n = F.col("t_hi") - F.col("t_lo") + 1
    trimmed = F.col("total") - sum_bottom - sum_top
    # winsorizing REPLACES the dropped extremes with the cutoff values
    # instead of discarding them — same cutoffs, same corrections, mean
    # over the FULL n (the robustness/efficiency trade's other leg)
    winsor = (
        trimmed + (d("t_lo") - 1) * d("q_lo") + (d("n") - d("t_hi")) * d("q_hi")
    )
    return agg.select(
        *key_cols,
        F.col("n").cast("bigint").alias("n"),
        kept_n.cast("bigint").alias("kept_n"),
        trimmed.cast("bigint").alias("trimmed_sum"),
        F.round(trimmed.cast("double") / kept_n.cast("double"), 6).alias(
            "trimmed_mean"
        ),
        winsor.cast("bigint").alias("winsor_sum"),
        F.round(winsor.cast("double") / d("n").cast("double"), 6).alias(
            "winsor_mean"
        ),
    )

"""Text hashing primitives, dual-rendered for Spark SQL and DuckDB.

Every fragment below has ONE mathematical definition and two renderings
(``dialect in {"spark", "duck"}``). The engine query and its DuckDB oracle
are generated from the same builder, so value-hash parity is structural,
not coincidental.

Design constraints:
  - pure integer arithmetic mod 1e9+7 — no engine-specific hash functions
    (Spark's xxhash64 and DuckDB's hash() don't agree);
  - every intermediate stays < 2^63 (max a_k * h < 2e3 * 1e9 ~ 2e12), so
    the math is exact in both engines and safe under Spark ANSI mode;
  - arrays: Spark indexes 0-based with ``arr[i]``, DuckDB 1-based — handled
    per dialect.

Scale: all fragments are built-in array expressions (whole-stage codegen,
no Python). Cost is O(chars) per row for hashing — the same work any
tokenizer does — and the MinHash signature is O(K * shingles).
"""

from __future__ import annotations

MOD = 1_000_000_007


def tokens(col: str, dialect: str) -> str:
    """Whitespace tokens of lowercased text, empties dropped."""
    if dialect == "spark":
        return f"filter(split(lower({col}), '\\\\s+'), t -> t != '')"
    return f"list_filter(string_split_regex(lower({col}), '\\s+'), t -> t != '')"


def char_hash(expr: str, dialect: str) -> str:
    """Polynomial rolling hash of a string: fold h = (h*31 + code(c)) % MOD.

    The classic Rabin-Karp / Java-String.hashCode construction (public
    domain math), exact in int64: h < 1e9+7, so h*31 + 127 < 2^35.
    """
    if dialect == "spark":
        # bind the operand ONCE via a one-element transform (the
        # _mixed_sql lesson): the fold references its input len+1 times,
        # so an inline concat/cast operand would be re-evaluated per
        # CHARACTER — measured 60x on the hash-sample predicates (2.5 s
        # -> 0.04 s on a 600k-row scan) and 2.6x on table fingerprints.
        return (
            f"(transform(array({expr}), __ch -> "
            f"aggregate(sequence(1, length(__ch)), cast(0 as bigint), "
            f"(h, i) -> (h * 31 + ascii(substring(__ch, i, 1))) % {MOD})))[0]"
        )
    # ({expr})[i]: [] binds tighter than || in DuckDB, so an unwrapped
    # concat operand would be indexed before concatenation (and ascii()
    # of the resulting multi-char string silently reads only char 1)
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> cast(ascii(({expr})[i]) as bigint))), "
        f"(h, c) -> (h * 31 + c) % {MOD})"
    )


def shingles(tokens_expr: str, k: int, dialect: str) -> str:
    """Word k-grams joined with single spaces; empty array if < k tokens.

    ``tokens_expr`` must be a simple reference (it is repeated k times).
    """
    words = " || ' ' || ".join(f"{tokens_expr}[i + {j}]" for j in range(k))
    if dialect == "spark":
        return (
            f"case when size({tokens_expr}) < {k} then array() "
            f"else transform(sequence(0, size({tokens_expr}) - {k}), "
            f"i -> ({words})) end"
        )
    return (
        f"list_transform(range(1, greatest(len({tokens_expr}) - {k - 1}, 0) + 1), "
        f"i -> ({words}))"
    )


def shingle_hashes(col: str, k: int, dialect: str, distinct: bool = True) -> str:
    """Hashes of the word k-shingles of ``col`` (distinct per doc by
    default; ``distinct=False`` keeps every occurrence — frequency
    consumers like Good-Turing need the multiset).

    Two-level construction: each TOKEN is char-hashed once, then a shingle
    hash combines its k token hashes polynomially (base 131 mod MOD). This
    hashes every character exactly once (vs k times when hashing the joined
    shingle string) and allocates no intermediate strings — the hot loop of
    MinHash at corpus scale.
    """
    toks = tokens(col, dialect)
    if dialect == "spark":
        th = f"transform(x, t -> {char_hash('t', dialect)})"
        combine = "h[i]"
        for j in range(1, k):
            combine = f"(({combine}) * 131 + h[i + {j}]) % {MOD}"
        sh = (
            f"case when size(h) < {k} then array() "
            f"else transform(sequence(0, size(h) - {k}), i -> ({combine})) end"
        )
        # bind tokens (x) then token-hashes (h) once each via 1-element wrappers
        inner = (
            f"flatten(transform(array({toks}), "
            f"x -> flatten(transform(array({th}), h -> {sh}))))"
        )
        return f"array_distinct({inner})" if distinct else inner
    th = f"list_transform(x, t -> {char_hash('t', dialect)})"
    combine = "h[i]"
    for j in range(1, k):
        combine = f"(({combine}) * 131 + h[i + {j}]) % {MOD}"
    sh = (
        f"list_transform(range(1, greatest(len(h) - {k - 1}, 0) + 1), "
        f"i -> ({combine}))"
    )
    inner = (
        f"flatten(list_transform([{toks}], "
        f"x -> flatten(list_transform([{th}], h -> {sh}))))"
    )
    return f"list_distinct({inner})" if distinct else inner


def minhash_coeffs(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic permutation coefficients (a_k odd, b_k spread)."""
    return [(2 * i + 3, 97 * i + 13) for i in range(n_perms)]


def minhash_element(hashes_expr: str, a: int, b: int, dialect: str) -> str:
    """min over the hash set of the k-th permutation (a*x + b) % MOD."""
    if dialect == "spark":
        return (
            f"case when size({hashes_expr}) = 0 then null else "
            f"array_min(transform({hashes_expr}, x -> ({a} * x + {b}) % {MOD})) end"
        )
    return (
        f"case when len({hashes_expr}) = 0 then null else "
        f"list_min(list_transform({hashes_expr}, x -> ({a} * x + {b}) % {MOD})) end"
    )


def minhash_sig(hashes_expr: str, n_perms: int, dialect: str) -> str:
    """The ``n_perms``-element MinHash signature array of a hash set:
    one ``minhash_element`` per ``minhash_coeffs`` permutation."""
    elems = ", ".join(
        minhash_element(hashes_expr, a, b, dialect) for a, b in minhash_coeffs(n_perms)
    )
    if dialect == "spark":
        return f"array({elems})"
    return f"[{elems}]"


def jaccard(a_expr: str, b_expr: str, dialect: str) -> str:
    """|A ∩ B| / |A ∪ B| over distinct-hash arrays, as DOUBLE.

    Spark rendering uses |A ∪ B| = |A| + |B| - |A ∩ B| (exact for the
    distinct arrays this contract requires): size() reads the array
    header in O(1) where array_union built a second per-pair hash set,
    ~12 % off the verify stage of every pair family (r16, guide §2.3
    narrower per-row work; the repeated intersect subexpression is
    eliminated by codegen CSE). The DuckDB rendering stays the literal
    intersect/union definition — it IS the oracle."""
    if dialect == "spark":
        inter = f"size(array_intersect({a_expr}, {b_expr}))"
        return (
            f"(cast({inter} as double) / "
            f"cast(size({a_expr}) + size({b_expr}) - {inter} as double))"
        )
    inter = f"len(list_intersect({a_expr}, {b_expr}))"
    union = f"len(list_distinct(list_concat({a_expr}, {b_expr})))"
    return f"(cast({inter} as double) / cast({union} as double))"


def np_char_hash_batch(strings, mod: int = MOD):
    """Vectorized batch evaluation of ``char_hash`` (identical values).

    Horner's fold h = (h*31 + code(c)) % MOD equals
    sum(code(c_i) * 31^(n-1-i)) mod MOD; with powers precomputed, each
    string hashes in one numpy dot. Max term 127 * (MOD-1) ~ 1.3e11 and
    <= ~2^13 terms per chunk stay far under int64 overflow.

    Used by the pandas-UDF fast path (fingerprints over whole documents);
    the SQL-expression rendering stays the oracle-parity definition.
    """
    import numpy as np

    if len(strings) == 0:
        return []
    max_len = max(len(s) for s in strings)
    pow31 = np.ones(max(max_len, 1), dtype=np.int64)
    for i in range(1, max_len):
        pow31[i] = (pow31[i - 1] * 31) % mod
    out = []
    for s in strings:
        n = len(s)
        if n == 0:
            out.append(0)
            continue
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        # descending powers 31^(n-1) ... 31^0
        p = pow31[:n][::-1]
        # chunk the dot so partial sums stay < 2^63 even for huge docs
        h = 0
        step = 1 << 13
        for i in range(0, n, step):
            h = (h + int(np.dot(codes[i : i + step] % mod, p[i : i + step]))) % mod
        out.append(h)
    return out


def np_shingle_hashes_batch(strings, k: int, mod: int = MOD):
    """Vectorized batch evaluation of ``shingle_hashes`` (identical values).

    Same two-level definition: per-token char hash (Horner base 31), then
    per-shingle combine of k consecutive token hashes (Horner base 131),
    distinct, ORDER PRESERVED as first-occurrence (matching Spark's
    array_distinct / DuckDB's list_distinct stability is NOT required —
    downstream consumers treat the result as a set: array_min and
    intersect/union sizes are order-insensitive).
    """
    import re

    import numpy as np

    ws = re.compile(r"\s+")
    out = []
    for s in strings:
        toks = [t for t in ws.split(s.lower()) if t != ""]
        if len(toks) < k:
            out.append([])
            continue
        th = np.array(
            [
                _np_token_hash(t, mod)
                for t in toks
            ],
            dtype=np.int64,
        )
        # rolling combine: h = ((...(th[i]*131 + th[i+1])%M ...)*131 + th[i+k-1])%M
        acc = th[: len(th) - k + 1].copy()
        for j in range(1, k):
            acc = (acc * 131 + th[j : len(th) - k + 1 + j]) % mod
        # de-duplicate (set semantics downstream)
        out.append(list(dict.fromkeys(acc.tolist())))
    return out


def _np_token_hash(token: str, mod: int = MOD) -> int:
    h = 0
    for c in token:
        h = (h * 31 + ord(c)) % mod
    return h


def token_hash_array(col: str, dialect: str) -> str:
    """Per-token char hashes of ``col``, in token order (no distinct)."""
    toks = tokens(col, dialect)
    if dialect == "spark":
        return f"transform({toks}, t -> {char_hash('t', dialect)})"
    return f"list_transform({toks}, t -> {char_hash('t', dialect)})"


def window_hash_structs(h_ref: str, k: int, dialect: str) -> str:
    """POSITIONED rolling window hashes over a token-hash array: one
    (pos, wh) struct per k-token window, pos 0-based, wh the base-131
    Horner combine of k consecutive token hashes — ``shingle_hashes``'s
    inner combine WITHOUT the distinct, keeping every occurrence and its
    offset. The exact-substring span detector (operators/dedup.
    duplicated_spans) needs positions to merge runs of duplicated
    windows into maximal spans; set-semantics consumers should keep
    using ``shingle_hashes``.

    ``h_ref`` must be a simple column reference (it is repeated k
    times — bind ``token_hash_array`` in its own projection first,
    KMV-rounds style, or the expression tree k-plicates the whole
    token-hash fold)."""
    if dialect == "spark":
        combine = f"{h_ref}[i]"
        for j in range(1, k):
            combine = f"(({combine}) * 131 + {h_ref}[i + {j}]) % {MOD}"
        return (
            f"case when size({h_ref}) < {k} then array() "
            f"else transform(sequence(0, size({h_ref}) - {k}), "
            f"i -> struct(i as pos, ({combine}) as wh)) end"
        )
    combine = f"{h_ref}[i + 1]"
    for j in range(1, k):
        combine = f"(({combine}) * 131 + {h_ref}[i + {j + 1}]) % {MOD}"
    return (
        f"list_transform(range(0, greatest(len({h_ref}) - {k - 1}, 0)), "
        f"i -> {{'pos': i, 'wh': ({combine})}})"
    )


def deletion_variants(col: str, max_del: int, dialect: str) -> str:
    """Array of DISTINCT strings reachable from ``col`` by deleting up to
    ``max_del`` (1 or 2) characters — the SymSpell neighborhood (Garbe's
    symmetric-delete trick): levenshtein(a, b) <= d guarantees the
    d-deletion neighborhoods intersect (align a and b; delete a's chars
    at substitution/deletion slots and b's at substitution/insertion
    slots — each side loses <= d — leaving the common subsequence), so
    an equi-join on variants is a RECALL-COMPLETE candidate generator.

    Neighborhood size is 1 + L + C(L,2) — for short entity strings
    (names, titles <= ~30 chars) a few hundred variants, generated
    entirely inside codegen (no UDF).
    """
    if max_del not in (1, 2):
        raise ValueError("max_del must be 1 or 2")
    if dialect == "spark":
        d1 = (
            f"transform(sequence(1, length({col})), "
            f"i -> concat(substring({col}, 1, i - 1), substring({col}, i + 1, length({col}))))"
        )
        parts = [f"array({col})", d1]
        if max_del == 2:
            # delete positions i < j: drop j first so i stays valid
            d2 = (
                f"flatten(transform(sequence(1, length({col})), "
                f"i -> transform(sequence(i + 1, greatest(length({col}), i + 1)), "
                f"j -> case when j <= length({col}) then "
                f"concat(substring({col}, 1, i - 1), substring({col}, i + 1, j - i - 1), "
                f"substring({col}, j + 1, length({col}))) else null end)))"
            )
            parts.append(f"filter({d2}, x -> x is not null)")
        arr = f"concat({', '.join(parts)})"
        return f"array_distinct(case when {col} is null then array() else {arr} end)"
    d1 = (
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> substring({col}, 1, i - 1) || substring({col}, i + 1, length({col})))"
    )
    parts = [f"[{col}]", d1]
    if max_del == 2:
        d2 = (
            f"flatten(list_transform(range(1, length({col}) + 1), "
            f"i -> list_transform(range(i + 1, length({col}) + 1), "
            f"j -> substring({col}, 1, i - 1) || substring({col}, i + 1, j - i - 1) "
            f"|| substring({col}, j + 1, length({col})))))"
        )
        parts.append(d2)
    arr = parts[0]
    for nxt in parts[1:]:
        arr = f"list_concat({arr}, {nxt})"
    return (
        f"list_distinct(CASE WHEN {col} IS NULL THEN [] ELSE {arr} END)"
    )

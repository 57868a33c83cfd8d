"""Vector math fragments, dual-rendered for Spark SQL and DuckDB, with
their numpy twins.

Same structural-parity approach as functions/text.py: one definition,
two renderings, identical left-to-right double summation so the oracle
comparison is exact to the last ulp (we still round presented scores).

Spark arrays are 0-based, DuckDB 1-based; both sides cast FLOAT elements to
DOUBLE *before* multiplying so neither engine does float32 intermediate math.

The numpy twins (``np_dot``, ``np_norm_sq``, ``np_l2_sq``) serve the
driver-side trainers and the Arrow ``mapInPandas`` tiers: each folds the
dimensions left to right from 0.0, vectorised over rows, so every row's
double equals the SQL ``aggregate`` fold's bit for bit. ``np_round6`` is
Spark's HALF_UP ``round(x, 6)`` on arrays, and ``double_array`` renders a
driver-side vector (or nested matrix) as a Spark SQL literal.
"""

from __future__ import annotations

from numbers import Real


def dot(a: str, b: str, dialect: str) -> str:
    """Sequential double dot product of two float-array columns."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
            f"cast(0 as double), (s, v) -> s + v)"
        )
    return (
        f"list_reduce(list_prepend(cast(0 as double), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> cast({a}[i] as double) * cast({b}[i] as double))), "
        f"(s, v) -> s + v)"
    )


def np_dot(A, B):
    """(len(A), len(B)) matrix of row dot products: the numpy twin of
    ``dot`` (a single vector passes a one-row matrix)."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += A[:, d, None] * B[None, :, d]
    return acc


def norm_sq(a: str, dialect: str) -> str:
    """Sequential double sum of squares."""
    if dialect == "spark":
        return (
            f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
            f"cast(0 as double), (s, v) -> s + v)"
        )
    return (
        f"list_reduce(list_prepend(cast(0 as double), "
        f"list_transform({a}, x -> cast(x as double) * cast(x as double))), "
        f"(s, v) -> s + v)"
    )


def np_norm_sq(A):
    """Per-row sum of squares: the numpy twin of ``norm_sq``."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        acc += A[:, d] * A[:, d]
    return acc


def cosine(a: str, b: str, dialect: str) -> str:
    """cos(a, b) in double; NULL-safe only for non-zero vectors (a zero
    norm raises under Spark ANSI mode — use cosine_null for inputs that
    may contain degenerate vectors)."""
    return f"({dot(a, b, dialect)} / (sqrt({norm_sq(a, dialect)}) * sqrt({norm_sq(b, dialect)})))"


def cosine_null(a: str, b: str, dialect: str) -> str:
    """cos(a, b) in double, NULL when either vector has zero norm.

    Spark 4 runs ANSI mode by default, where x/0 throws DIVIDE_BY_ZERO;
    nullif-ing the denominator restores the NULL-on-degenerate semantics
    in both engines (DuckDB already returns NULL but renders identically
    for parity)."""
    denom = f"nullif(sqrt({norm_sq(a, dialect)}) * sqrt({norm_sq(b, dialect)}), 0)"
    return f"({dot(a, b, dialect)} / {denom})"


def l2_sq(a: str, b: str, dialect: str) -> str:
    """Sequential double squared L2 distance — the PQ sub-assignment
    metric (Jegou et al. 2011 train/encode with L2 per subspace). Same
    left-to-right fold as dot() so both engines produce bit-identical
    doubles pre-rounding."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"(cast(x as double) - cast(y as double)) * "
            f"(cast(x as double) - cast(y as double))), "
            f"cast(0 as double), (s, v) -> s + v)"
        )
    return (
        f"list_reduce(list_prepend(cast(0 as double), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> (cast({a}[i] as double) - cast({b}[i] as double)) * "
        f"(cast({a}[i] as double) - cast({b}[i] as double)))), "
        f"(s, v) -> s + v)"
    )


def np_l2_sq(A, B):
    """(len(A), len(B)) matrix of squared L2 distances: the numpy twin of
    ``l2_sq``."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        diff = A[:, d, None] - B[None, :, d]
        acc += diff * diff
    return acc


def np_round6(x):
    """HALF_UP round to 6 digits on arrays, as Spark SQL ``round(x, 6)``."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def double_array(values) -> str:
    """Spark SQL literal ``array(cast(x as double), ...)`` of driver-side
    values; a sequence of sequences renders as nested arrays. ``repr`` of
    a Python float round-trips, so the engine reads back the same
    double."""
    return (
        "array("
        + ", ".join(
            f"cast({float(x)!r} as double)" if isinstance(x, Real) else double_array(x)
            for x in values
        )
        + ")"
    )

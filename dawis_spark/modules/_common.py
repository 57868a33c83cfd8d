"""Shared check-row emission for operation modules.

Reference: service/check.py:27-57 — every check lands as
(created, urlset, check, value, valid, diff, error, url RECORD) with the
value always stringified (:45). ``emit_check_legs`` builds that projection:
the checks a module derives from one relation are legs of one select over
it, and ``union_checks`` joins the checks of different relations into one
plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def emit_checks(
    df: DataFrame,
    check_name: str,
    valid: Column,
    value: Column | None = None,
    diff: Column | None = None,
    error: Column | None = None,
) -> DataFrame:
    """One check per input row: ``emit_check_legs`` with a single leg."""
    return emit_check_legs(df, [check_leg(check_name, valid, value, diff, error)])


def check_leg(
    check_name: str,
    valid: Column,
    value: Column | None = None,
    diff: Column | None = None,
    error: Column | None = None,
    when: Column | None = None,
) -> Column:
    """One check a row emits, as a one-element array of its fields; the
    value is stringified like the reference's (:45). With ``when`` the
    row emits it only where ``when`` is true (the leg is NULL
    elsewhere)."""
    leg = F.array(
        F.struct(
            F.lit(check_name).alias("check"),
            (value if value is not None else F.lit("")).cast("string").alias("value"),
            valid.cast("boolean").alias("valid"),
            (diff if diff is not None else F.lit("")).cast("string").alias("diff"),
            (error if error is not None else F.lit("")).cast("string").alias("error"),
        )
    )
    return leg if when is None else F.when(when, leg)


def emit_check_legs(df: DataFrame, legs: list[Column]) -> DataFrame:
    """Every check each row of ``df`` emits, in the checks schema, from ONE
    projection of ``df``: a leg is an array of check structs
    (``check_leg``, or several per row) or NULL, and the non-NULL legs are
    flattened into rows. Unlike a union of per-check projections, the
    plan under ``df`` runs once however many checks read it. ``df`` must
    carry ``urlset`` and ``url`` (struct) columns; ``created`` is stamped
    at evaluation time like the reference's utcnow."""
    emitted = F.flatten(F.filter(F.array(*legs), lambda leg: leg.isNotNull()))
    return df.select("urlset", "url", F.inline(emitted)).select(
        F.current_timestamp().alias("created"),
        "urlset",
        "check",
        "value",
        "valid",
        "diff",
        "error",
        "url",
    )


def union_checks(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lower_headers(headers: Column) -> Column:
    """P8: lowercase header keys AND values before lookup
    (responseheader.py:91 dict comprehension)."""
    return F.map_from_arrays(
        F.transform(F.map_keys(headers), lambda k: F.lower(k)),
        F.transform(F.map_values(headers), lambda v: F.lower(v)),
    )

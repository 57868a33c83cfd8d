"""The exact float sum, once per engine.

A float sum here is a left fold from 0.0 in key order. Spark, the driver
and the DuckDB oracle (``list_reduce(list_prepend(0.0, list(x ORDER BY
k)), (a, b) -> a + b)``) then add the same doubles in the same order, so
their results agree to the last bit and the rounded outputs hash equal.
"""

from __future__ import annotations

from collections.abc import Iterable

# Struct field that carries the summed value; no caller's key uses it.
_VALUE = "__fv"


def ordered_sum(value: str, *keys: str) -> str:
    """Spark SQL text for the left fold of ``value`` from 0.0 over the
    group's rows sorted by ``keys`` (an aggregate expression: wrap it in
    ``F.expr`` or embed it in a larger one).

    The value is the struct's last field, so rows whose keys tie sort on
    the value. The whole group is collected into one array, so this is
    for groups bounded by a dimension (cells, bins, states, lags); a
    data-sized sum orders its rows with a single-partition sort instead
    (``stats.anderson_darling_k``)."""
    fields = ", ".join([*keys, f"{value} AS {_VALUE}"])
    return (
        f"aggregate(array_sort(collect_list(struct({fields}))), "
        f"cast(0.0 as double), (a, e) -> a + e.{_VALUE})"
    )


def left_sum(values: Iterable[float]) -> float:
    """Left fold of ``values`` from 0.0 on the driver, in the order given.

    Not ``sum()``: from Python 3.12 ``sum()`` of floats uses compensated
    (Neumaier) addition, which would silently change results after an
    interpreter upgrade and break bit-identity with Spark and the oracle.
    ``math.fsum`` (exactly rounded) differs for the same reason."""
    acc = 0.0
    for x in values:
        acc += x
    return acc

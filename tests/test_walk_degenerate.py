"""Degenerate inputs through the EDF-walk statistics: each query runs in
Spark and through its DuckDB oracle on a tiny ``orders`` table, the
anderson_darling test's pattern (tests/test_round12_ops.py).

The walk hands its row count and column totals back as literals, so
these pin what the aggregates it replaced returned: NULL totals on empty
input, 0 for an empty side. Each query runs in its own ``newSession()``,
so the ``orders`` view here never replaces the one other tests read.

Where a side or the pooled spread is empty, several statistics divide
by zero: DuckDB returns NULL, while Spark's ANSI mode (the default in
Spark 4) raises DIVIDE_BY_ZERO. ``RAISES`` lists those cases, so a
change to either engine's answer shows up here.
"""

import datetime as dt

import duckdb
import pytest
from pyspark.errors import ArithmeticException

from dawis_spark import queries as q
from dawis_spark.queries._registry import ORACLES

NAMES = [
    "ks_price_drift",
    "cramer_von_mises_drift",
    "wasserstein_price_drift",
    "mann_whitney_drift",
    "effect_sizes_urgent_vs_low",
    "median_ci_order_value",
    "jonckheere_terpstra_priority",
    "pareto_customers",
]
_D = dt.datetime(1995, 3, 1)
CASES = {
    "empty": [],
    "one_row": [(1, 10, "F", 12.5, _D, "1-URGENT")],
    "one_value": [
        (1, 10, "F", 12.5, _D, "1-URGENT"),
        (2, 11, "O", 12.5, _D, "5-LOW"),
        (3, 10, "F", 12.5, _D, "5-LOW"),
    ],
    # no 5-LOW row: the second side of every two-sample test is empty
    "one_empty_side": [
        (1, 10, "F", 12.5, _D, "1-URGENT"),
        (2, 11, "O", 20.0, _D, "1-URGENT"),
        (3, 12, "F", 7.25, _D, "2-HIGH"),
    ],
}
RAISES = {
    "one_row": {
        "ks_price_drift",
        "cramer_von_mises_drift",
        "mann_whitney_drift",
        "effect_sizes_urgent_vs_low",
        "jonckheere_terpstra_priority",
    },
    "one_value": {
        "mann_whitney_drift",
        "effect_sizes_urgent_vs_low",
        "jonckheere_terpstra_priority",
    },
    "one_empty_side": {
        "ks_price_drift",
        "cramer_von_mises_drift",
        "wasserstein_price_drift",
        "mann_whitney_drift",
        "effect_sizes_urgent_vs_low",
    },
}
_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


@pytest.mark.parametrize("case", list(CASES))
def test_walk_statistics_degenerate_inputs_match_oracle(spark, case):
    rows = CASES[case]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_custkey BIGINT,"
        " o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP,"
        " o_orderpriority VARCHAR)"
    )
    if rows:
        con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)", rows)
    iso = spark.newSession()
    iso.createDataFrame(rows, _SCHEMA).createOrReplaceTempView("orders")
    raises = RAISES.get(case, set())
    try:
        for name in NAMES:
            df = q.QUERIES[name](iso, "")
            if name in raises:
                with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
                    df.collect()
            else:
                got = [tuple(r) for r in df.collect()]
                assert got == con.execute(ORACLES[name]).fetchall(), name
    finally:
        spark.catalog.clearCache()

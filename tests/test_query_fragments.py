"""Twin contract of the shared query fragments (queries/_fragments.py):
each Spark builder returns the same rows as its oracle SQL text run in
DuckDB over the same parquet files."""

import os

import duckdb
import pytest

from dawis_spark.catalog import DEFAULT_SF_DIR, register_testdata
from dawis_spark.queries import _fragments as fr

_SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")  # the smallest tables


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("orders", "lineitem", "events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{_SF}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def tables(spark):
    register_testdata(spark, _SF)
    return spark


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_daily_rev_orders_equals_its_cte(tables, duck):
    got = _rows(fr.daily_rev_orders(tables))
    want = sorted(
        duck.execute(
            f"WITH {fr.DAILY_REV_ORDERS_CTE} SELECT d, rev, cnt FROM daily"
        ).fetchall()
    )
    assert len(want) > 100
    assert got == want


def test_daily_type_cents_equals_its_sql(tables, duck):
    got = _rows(fr.daily_type_cents(tables))
    # DuckDB truncates the nanosecond ts to a DATE; Spark keeps a TIMESTAMP
    want = sorted(
        duck.execute(
            "SELECT event_type, CAST(day AS TIMESTAMP), v"
            f" FROM ({fr.DAILY_TYPE_CENTS_SQL})"
        ).fetchall()
    )
    assert len(want) > 100
    assert got == want


def test_trade_edges_equal_their_ctes(tables, duck):
    got = _rows(fr.trade_edges(tables))
    want = sorted(
        duck.execute(
            f"WITH {fr.TRADE_EDGES_CTES} SELECT src, dst FROM edges"
        ).fetchall()
    )
    assert len(want) > 100
    assert got == want
    # symmetric: every customer->supplier edge has its reverse
    assert sorted((d, s) for s, d in got) == got


def test_trade_seeds_equal_their_cte(tables, duck):
    got = _rows(fr.trade_seeds(tables, 3))
    want = sorted(
        duck.execute(f"WITH {fr.trade_seeds_cte(3)} SELECT node FROM seeds").fetchall()
    )
    assert len(want) > 0
    assert got == want


_EXACT = [(0, 1), (0, 2), (1, 3), (1, 4)]
_APPROX = [(0, 1), (0, 9)]  # query 1 has no approximate neighbours


def _values_sql(rows):
    vals = ", ".join(f"({q}, {n})" for q, n in rows)
    return f"SELECT * FROM (VALUES {vals}) t(query_id, neighbor_id)"


def test_recall_at_k_counts_a_query_without_approx_neighbours_as_zero(spark):
    schema = "query_id bigint, neighbor_id bigint"
    out = fr.recall_at_k(
        spark.createDataFrame(_EXACT, schema),
        spark.createDataFrame(_APPROX, schema),
        2,
    )
    assert out.columns == ["query_id", "hits", "recall_at_k"]
    assert [tuple(r) for r in out.collect()] == [(0, 1, 0.5), (1, 0, 0.0)]


def test_ann_recall_sql_is_the_twin_of_recall_at_k():
    sql = fr.ann_recall_sql(_values_sql(_EXACT), _values_sql(_APPROX), 2)
    con = duckdb.connect()
    assert con.execute(sql).fetchall() == [(0, 1, 0.5), (1, 0, 0.0)]
    con.close()

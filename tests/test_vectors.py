"""functions/vectors: the numpy twins equal the SQL folds in Spark and in
DuckDB bit for bit, and the nearest-neighbour top-k tail gives the same
rows in both engines."""

import math

import duckdb
import numpy as np
from pyspark.sql import functions as F

from dawis_spark.functions import vectors as V
from dawis_spark.operators.similarity import top_k, top_k_sql

# ulp(1e16) is 2, so a left fold from 0.0 drops a 1.0 added next to 1e16:
# any other summation order gives a different double
A = [
    [1e16, 1.0, -1e16, 3.0],
    [0.1, 0.2, 0.3, 0.4],
    [3.0, -1e16, 1.0, 1e16],
    [0.0, 0.0, 0.0, 0.0],
]
B = [
    [1.0, 1.0, 1.0, 1.0],
    [1e8, 3.0, -1e8, 7.0],
    [-0.5, 1e-9, 2.5, 1e16],
]


def _pairs():
    return [(i, j, A[i], B[j]) for i in range(len(A)) for j in range(len(B))]


def _spark_folds(spark):
    df = spark.createDataFrame(_pairs(), "i int, j int, a array<double>, b array<double>")
    rows = df.select(
        "i",
        "j",
        F.expr(V.dot("a", "b", "spark")).alias("dot"),
        F.expr(V.norm_sq("a", "spark")).alias("nsq"),
        F.expr(V.l2_sq("a", "b", "spark")).alias("l2"),
    ).collect()
    return {(r["i"], r["j"]): (r["dot"], r["nsq"], r["l2"]) for r in rows}


def _duck_folds():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, j INT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", _pairs())
    rows = con.execute(
        f"SELECT i, j, {V.dot('a', 'b', 'duck')}, {V.norm_sq('a', 'duck')}, "
        f"{V.l2_sq('a', 'b', 'duck')} FROM t"
    ).fetchall()
    return {(i, j): (d, n, l) for i, j, d, n, l in rows}


def test_numpy_twins_equal_both_sql_folds_bit_for_bit(spark):
    a, b = np.array(A), np.array(B)
    dot, nsq, l2 = V.np_dot(a, b), V.np_norm_sq(a), V.np_l2_sq(a, b)
    twin = {
        (i, j): (dot[i, j], nsq[i], l2[i, j])
        for i in range(len(A))
        for j in range(len(B))
    }

    def hexed(m):
        return {k: tuple(float(x).hex() for x in v) for k, v in m.items()}

    assert hexed(twin) == hexed(_spark_folds(spark)) == hexed(_duck_folds())
    # the fold order shows: the left fold reads 3.0 where the exact sum is 4.0
    assert dot[0, 0] == 3.0 and math.fsum(A[0]) == 4.0


def test_np_round6_is_half_up():
    x = np.array([0.1234565, -0.1234565, 5e-07, -5e-07, 2.0000004999])
    assert V.np_round6(x).tolist() == [0.123457, -0.123457, 1e-06, -1e-06, 2.0]


def test_double_array_renders_vectors_and_matrices():
    assert V.double_array([1, 0.5]) == "array(cast(1.0 as double), cast(0.5 as double))"
    assert V.double_array(np.array([[0.1], [-0.0]])) == (
        "array(array(cast(0.1 as double)), array(cast(-0.0 as double)))"
    )


# (query_id, neighbor_id, cosine): query 1 has a cosine tie and a NULL
# beyond k; query 2 has fewer than k candidates, one of them NULL; query
# 3 has only NULLs
SCORED = [
    (1, 14, 0.7),
    (1, 11, 0.9),
    (1, 13, None),
    (1, 10, 0.9),
    (1, 12, 0.5),
    (2, 21, None),
    (2, 20, 0.3),
    (3, 31, None),
    (3, 30, None),
]


def test_top_k_and_its_sql_twin_give_the_same_rows(spark):
    k = 3
    df = spark.createDataFrame(SCORED, "query_id bigint, neighbor_id bigint, cosine double")
    got = [tuple(r) for r in top_k(df, k).orderBy("query_id", "rank").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE scored (query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE)")
    con.executemany("INSERT INTO scored VALUES (?, ?, ?)", SCORED)
    assert con.execute(top_k_sql("scored", k)).fetchall() == got == [
        (1, 10, 0.9, 1),
        (1, 11, 0.9, 2),
        (1, 14, 0.7, 3),
        (2, 20, 0.3, 1),
        (2, 21, None, 2),
        (3, 30, None, 1),
        (3, 31, None, 2),
    ]

"""functions/folds: the exact float sum in Spark and on the driver, and
the two power iterations that run their folds on the driver."""

import math
import os
import random

import pytest
from pyspark.sql import functions as F

import dawis_spark
from dawis_spark.catalog import DEFAULT_SF_DIR, register_testdata
from dawis_spark.functions.folds import left_sum, ordered_sum

SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# key-sorted, the left fold loses the 1.0 (ulp(1e16) is 2) and reads 3.0
KEYED = [(0, 1e16), (1, 1.0), (2, -1e16), (3, 3.0)]


@pytest.mark.parametrize("n_parts", [1, 7])
def test_ordered_sum_is_the_left_fold_in_key_order(spark, n_parts):
    rows = KEYED[:]
    random.Random(n_parts).shuffle(rows)
    df = spark.createDataFrame(rows, "k int, x double").repartition(n_parts)
    got = df.agg(F.expr(ordered_sum("x", "k")).alias("s")).first()["s"]
    values = [x for _, x in sorted(KEYED)]
    assert got == left_sum(values) == 3.0
    # neither side is a compensated sum
    assert math.fsum(values) != got


def test_fold_text_lives_only_in_folds_module():
    root = os.path.dirname(dawis_spark.__file__)
    own = os.path.join(root, "functions", "folds.py")
    copies = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == own:
                continue
            with open(path) as fh:
                if "aggregate(array_sort(collect_list(struct(" in fh.read():
                    copies.append(os.path.relpath(path, root))
    assert copies == []


def _build_jobs(spark, name, iters):
    from dawis_spark import queries as q

    register_testdata(spark, SF_DIR)  # its reads are not the build's
    sc = spark.sparkContext
    group = f"folds-build-{name}-{iters}"
    sc.setJobGroup(group, group)
    try:
        q.QUERIES[name](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name, module, const",
    [
        ("pca_top_component", "q04_sketches_stats_forecast", "_PCA_ITERS"),
        ("markov_stationary_distribution", "q05_timeseries_stats", "_MSTAT_ITERS"),
    ],
)
def test_build_jobs_do_not_grow_with_iterations(spark, monkeypatch, name, module, const):
    import importlib

    mod = importlib.import_module(f"dawis_spark.queries.{module}")
    iters = getattr(mod, const)
    counts = {}
    for n in (1, iters):
        monkeypatch.setattr(mod, const, n)
        counts[n] = _build_jobs(spark, name, n)
    assert counts[1] == counts[iters], counts


@pytest.mark.parametrize(
    "name",
    [
        "pca_top_component",
        "markov_stationary_distribution",
        "fellegi_sunter_em",
        "markov_removal_attribution",
        "ppmi_top_axis",
    ],
)
def test_driver_results_round_in_a_spark_projection(spark, name):
    """A driver loop's result enters Spark unrounded and rounds in a
    Spark projection (HALF_UP, as the oracle's ROUND), not in Python
    before ``createDataFrame``. The analyzed plan is read: the optimizer
    folds a projection over a local relation into the relation, which
    evaluates the same Spark ``round``."""
    from dawis_spark import queries as q

    register_testdata(spark, SF_DIR)
    plan = q.QUERIES[name](spark, SF_DIR)._jdf.queryExecution().analyzed()
    projects = [
        line
        for line in plan.toString().splitlines()
        if line.lstrip(" :+-").startswith("Project [")
    ]
    assert any("round(" in line for line in projects), plan.toString()

"""Query inventory — every operator family from SURVEY.md §2 expressed as a
``(spark, sf_dir) -> DataFrame`` callable plus a DuckDB-runnable oracle SQL.

Split into part modules at round 13 (26.6k LoC was unreviewable as one
file). Definition order — which the driver's correctness rotation hashes —
is preserved exactly: parts import in sequence, and
``_registry.validate_order`` asserts the frozen order at import time.

Conventions (driver contract, __spark_entry__.py):
  - every computed column is aliased identically in Spark and oracle SQL;
  - float aggregates are rounded to a fixed precision on BOTH sides so the
    value-hash is insensitive to summation-order ulp differences;
  - an exact float sum is ``folds.ordered_sum`` in Spark and
    ``folds.left_sum`` on the driver; the oracle keeps its own
    ``list_reduce(… ORDER BY …)``;
  - date-ish outputs stay TIMESTAMP (never DATE) so pandas dtypes agree;
  - each query registers the testdata views itself (idempotent);
  - a relation several queries build is defined once in ``_fragments.py``
    (Spark builder next to its oracle SQL text) and called, not copied;
    callers rename its columns with a ``select``, and a query that needs
    a different relation keeps its own code.

Scale notes are attached per query: the same plan must make sense at 100 TB
on a 1000-executor cluster, not just at sf0.01.
"""

from dawis_spark.queries import _registry
from dawis_spark.queries._registry import (  # noqa: F401
    DRIVER_PRIORITY,
    NEXT_ROTATION,
    ORACLES,
    QUERIES,
    REGISTRY_ORDER,
    ordered_oracles,
    ordered_queries,
    query,
)
from dawis_spark.queries import q01_spine_dedup_ann as _p1
from dawis_spark.queries import q02_corpus_quality_classifiers as _p2
from dawis_spark.queries import q03_graph_linkage_search as _p3
from dawis_spark.queries import q04_sketches_stats_forecast as _p4
from dawis_spark.queries import q05_timeseries_stats as _p5
from dawis_spark.queries import q06_causal_eval_tail as _p6
from dawis_spark.queries import q07_round14_tail as _p7

_registry.validate_order(QUERIES)

# Re-export every part-module name (tests import helpers like _NDCG_CUMW
# and query functions by name from dawis_spark.queries, exactly as they
# did from the single-module layout). Later parts win on name collisions,
# matching the old module's last-definition-wins semantics.
for _m in (_p1, _p2, _p3, _p4, _p5, _p6, _p7):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals()[_k] = _v
del _m, _k, _v

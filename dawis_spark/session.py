"""SparkSession bootstrap.

One place to encode the configuration that matters at 100 TB scale; tests run
the same settings on local[N]. Everything here is plain public Spark config.

Scale rationale (judged explicitly — see SURVEY.md §4/§7):
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
    dynamic broadcast selection replace hand-tuning per dataset.
  - shuffle.partitions is only the pre-AQE ceiling; AQE coalesces down. On a
    real cluster set it ~2-3x total cores; locally ~cores.
  - UTC session timezone: parquet timestamps compare bit-identically with the
    DuckDB oracle and avoid the reference's naive/aware datetime mix
    (reference: utilities/datetime.py:5-12).
  - Arrow enabled: pandas UDFs (HTML extraction, multimodal decode) move
    columns in vectorized batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding the dawis_spark package (the checkout's root)
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dawis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a cluster, pass ``master=None`` and let spark-submit own the master;
    locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")

    conf: dict[str, str] = {
        # --- determinism / oracle parity ---
        "spark.sql.session.timeZone": "UTC",
        # --- adaptive execution: the 100 TB insurance policy ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Cached plans opt into AQE partition coalescing too (default
        # false): the repo's persist discipline caches bounded relations
        # (postings, iteration state, distinct-value counts) that
        # otherwise materialize at the full shuffle-partition width and
        # make EVERY downstream consumer stage pay one task per original
        # partition. Size-adaptive at any scale — big caches keep their
        # width, small ones stop fanning out. Results are partitioning-
        # independent by construction (exact-arithmetic discipline).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # --- scans: pushdown + pruning are free if we stay declarative ---
        "spark.sql.parquet.filterPushdown": "true",
        # NOTE: parquet.aggregatePushdown stays off — the pushed-down agg
        # path rejects TIMESTAMP(NANOS) parquet columns (PARQUET_TYPE_ILLEGAL)
        # which the vectorized reader handles fine.
        "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB splits
        # --- python interop: Arrow batches, never pickled rows ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- joins: a conservative STATIC broadcast cap + a generous
        # RUNTIME one. The planner's estimate is file-size x column-prune
        # ratio — optimistic enough that at 64 MiB it broadcast a 6M-row
        # fact scan (sf1 q5: the whole pruned lineitem, 3.5x slower than
        # the shuffle join). AQE re-decides with EXACT post-shuffle sizes,
        # so the static cap only needs to catch confidently-small dims;
        # anything else earns broadcast at runtime by measuring small.
        "spark.sql.autoBroadcastJoinThreshold": str(16 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # the numpy tiers' mapInPandas / pandas-UDF closures import
        # dawis_spark on the Python workers: put the package on their
        # path, so a driver started from any directory works
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
        # quiet local runs
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

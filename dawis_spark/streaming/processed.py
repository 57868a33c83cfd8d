"""Processed-log watermark — the P7 incremental filter without mutation.

Reference (metatags.py:35-41,63-67 and siblings): operations query staging
with ``{'processed_<op>': {'$exists': False}}`` and flag each document
afterwards — a document UPDATE per row.

Spark-first: staged parquet is immutable, so the flag becomes an
append-only processed-log of (op, doc key, processed_at); "unprocessed" is
a left-anti join of staging against the log. At 100 TB the log is tiny
relative to staging and broadcasts; re-runs are naturally idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ProcessedLog:
    def __init__(self, spark: SparkSession, root: str, op: str):
        self.spark = spark
        self.op = op
        self.path = os.path.join(root, f"processed_{op}")

    def unprocessed(self, staging: DataFrame, key_cols: list[str]) -> DataFrame:
        """Staging rows not yet seen by this op (left-anti vs the log). The
        log is read with the schema ``mark`` writes: the staging key
        fields plus ``processed_at``."""
        if not os.path.exists(self.path):
            return staging
        schema = T.StructType(
            [staging.schema[c] for c in key_cols]
            + [T.StructField("processed_at", T.TimestampType())]
        )
        log = self.spark.read.schema(schema).parquet(self.path).select(*key_cols)
        return staging.join(F.broadcast(log), key_cols, "left_anti")

    def mark(self, processed: DataFrame, key_cols: list[str]) -> None:
        """Append the batch's keys to the log (the reference's flag-update,
        as an append). A key staged twice is logged twice; the anti-join
        reads a repeated key like a single one, so neither side pays a
        shuffle to deduplicate."""
        (
            processed.select(*key_cols)
            .withColumn("processed_at", F.current_timestamp())
            .write.mode("append")
            .parquet(self.path)
        )

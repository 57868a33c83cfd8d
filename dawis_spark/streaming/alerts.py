"""Alert queue — append-only events table + watermark consumption.

Reference (service/alerting/queue.py:6-62): Mongo queue with DESTRUCTIVE
reads (fetch deletes); dispatch failure re-enqueues (at-least-once,
alerting_dispatcher.py:177-179). Known reference bug NOT replicated
(SURVEY §7.5(4)): the ``$or`` group filter collapses to one group via dict
comprehension (queue.py:53) — we implement the intended ``group IN (...)``.

Spark-first: destructive reads don't exist on immutable storage; the queue
is an append-only parquet table with a monotonically increasing ``seq``;
consumers track a high-watermark offset and commit it AFTER a successful
dispatch — same at-least-once guarantee, no destructive read.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dawis_spark.schemas import ALERT_SCHEMA


class AlertQueue:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "alerts")
        self._offset_path = os.path.join(root, "alerts_offset.json")

    def add(self, alerts: DataFrame) -> None:
        """Append (date, group, message, data) rows, stamped with seq =
        epoch-micros of ``date`` (monotonic enough per micro-batch; ties
        are fine — the watermark is >=-exclusive per batch commit)."""
        stamped = alerts.withColumn(
            "seq", F.unix_micros(F.col("date").cast("timestamp"))
        )
        stamped.write.mode("append").parquet(self.path)

    def _offset(self) -> int:
        if os.path.exists(self._offset_path):
            with open(self._offset_path) as f:
                return json.load(f)["offset"]
        return -1

    def fetch(self, groups: Sequence[str]) -> DataFrame:
        """Unconsumed alerts for the given groups (the INTENDED queue.py
        semantics: group IN groups)."""
        if not os.path.exists(self.path):
            seq = T.StructField("seq", T.LongType())
            return self.spark.createDataFrame([], T.StructType([*ALERT_SCHEMA, seq]))
        df = self.spark.read.parquet(self.path)
        return df.filter(
            (F.col("seq") > self._offset()) & F.col("group").isin(list(groups))
        )

    def commit(self, consumed: DataFrame) -> None:
        """Advance the watermark past the consumed batch — call ONLY after
        the dispatcher side effect succeeded (at-least-once)."""
        mx = consumed.agg(F.max("seq").alias("m")).first()["m"]
        if mx is not None:
            with open(self._offset_path, "w") as f:
                json.dump({"offset": int(mx)}, f)

"""Streaming Holt linear monitor — the cross-batch form of the
``holt_linear_forecast`` query: per-key trend-aware level tracking and
h-step-ahead forecasts that refresh as daily rollup rows arrive.

State: streaming/detector.py.

Each micro-batch folds the retained history through the SAME
``holt_fit`` the batch operator uses (operators/forecast.py), so after
any tick sequence the final tick's emitted forecasts equal the batch
operator over the retained history — the module family's
batch-equivalence contract, tested in tests/test_streaming_windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dawis_spark.operators.forecast import holt_fit
from dawis_spark.streaming import detector


def stream_holt(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    cents_col: str,
    horizon: int = 7,
    max_history: int = 90,
) -> DataFrame:
    """Monitor each arriving (key, bucket, v_cents) final rollup row;
    emit, per key per batch, the refreshed h-step forecasts anchored at
    the latest retained bucket: (key, bucket, h, forecast, level,
    trend, n_points)."""

    def score(fresh, kept):
        lvl, tr = holt_fit([v for _, v in kept])
        anchor = kept[-1][0]
        return [
            (anchor, h, lvl + h * tr, lvl, tr, len(kept))
            for h in range(1, horizon + 1)
        ]

    return detector.scored_series(
        stream_df, key_col, bucket_col, cents_col, int,
        [("h", T.IntegerType()), ("forecast", T.LongType()),
         ("level", T.LongType()), ("trend", T.LongType()),
         ("n_points", T.LongType())],
        score, max_history,
    )

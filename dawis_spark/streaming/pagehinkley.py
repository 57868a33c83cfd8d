"""Streaming Page-Hinkley mean-drift alerts — the online form of the
``page_hinkley_drift`` query, completing the detector family that feeds
the alert queue: PSI (distribution drift, streaming/drift.py), CUSUM
(level shift, streaming/cusum.py), PAGE-HINKLEY (sustained mean drift,
this module).

State, latch and queue sink: streaming/detector.py.

Arithmetic matches the batch query EXACTLY (integer cents end to end):
dv_t = v_t - cum_t // t (truncating-division running mean), m_t = sum of
dv, PH_t = m_t - min_{s<=t} m_s, alarm when PH_t * 50 > cum_t (the
scale-free 2%-of-cumulative-revenue threshold). After any tick sequence
the recomputed closed form over the retained series equals the batch
form — the family's batch-equivalence property, tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.streaming import detector


def ph_closed_form(series: list[tuple[int, int]]) -> list[tuple[int, int, bool]]:
    """(bucket, ph_cents, alarm) over a sorted (bucket, v_cents) series —
    the batch query's integer arithmetic, shared by the streaming fold
    and the equivalence test."""
    out = []
    cum = 0
    mt = 0
    mn = 0
    for i, (b, v) in enumerate(series, start=1):
        cum += v
        mt += v - cum // i
        mn = min(mn, mt)
        ph = mt - mn
        out.append((b, ph, ph * 50 > cum))
    return out


def stream_page_hinkley_alerts(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    cents_col: str,
    max_history: int = 90,
) -> DataFrame:
    """Single-shot mean-drift alerts: the FIRST micro-batch whose
    recomputed Page-Hinkley statistic alarms (PH * 50 > cumulative, at
    any retained bucket) emits one (key, bucket, ph_cents, n_buckets,
    crossed_ms) row for the first alarming bucket; the latch then
    stops the re-alerting storm while the drift persists.

    Scale: state per key = the capped retained series + a bool;
    monitored keys are catalog-bounded; the alert stream is at most
    |keys| rows ever."""

    def first_breach(kept):
        return next(
            ((b, ph, len(kept)) for b, ph, fl in ph_closed_form(kept) if fl),
            None,
        )

    return detector.latched_alerts(
        stream_df, key_col, bucket_col, [cents_col],
        ["ph_cents", "n_buckets"], first_breach, max_history,
    )


def ph_alerts_to_queue(alert_stream: DataFrame, queue, group: str = "mean-drift"):
    """Wire the Page-Hinkley alert stream into the alert QUEUE — the
    third detector landing in the same ALERT_SCHEMA -> Dispatcher path.
    Returns the foreachBatch ``DataStreamWriter``; delivery inherits
    the queue's at-least-once commit-after-send contract."""
    key, bucket, *_ = alert_stream.columns
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["Page-Hinkley mean drift on ", F.col(key), " at bucket ",
         F.col(bucket).cast("string")],
    )

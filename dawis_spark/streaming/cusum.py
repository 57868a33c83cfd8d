"""Streaming CUSUM shift monitor — the cross-batch form of the
``cusum_changepoints`` query (Page 1954 one-sided upward CUSUM in the
cumsum-minus-running-min closed form, integer cents end to end).

State, latch and queue sink: streaming/detector.py.

Arithmetic matches the batch query EXACTLY: x = 20*nd*v - 21*tot,
S = cum - min(0, running_min(cum)), breach when S > 20*tot — pure
int64, so after any tick sequence the final tick's emitted rows equal
the batch closed form over the retained history (the module family's
defining batch-equivalence property, tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dawis_spark.streaming import detector


def cusum_closed_form(series: list[tuple[int, int]]) -> list[tuple[int, int, bool]]:
    """(bucket, cusum_scaled, breached) over a sorted (bucket, v_cents)
    series — the batch query's integer arithmetic, reusable by the
    streaming fold and the equivalence test."""
    if not series:
        return []
    nd = len(series)
    tot = sum(v for _, v in series)
    h = 20 * tot
    out = []
    cum = 0
    run_min = 0  # min(0, running_min)
    for b, v in series:
        x = 20 * nd * v - 21 * tot
        cum += x
        run_min = min(run_min, cum)
        s = cum - run_min
        out.append((b, s, s > h))
    return out


def stream_cusum(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    cents_col: str,
    max_history: int = 90,
) -> DataFrame:
    """Monitor each arriving (key, bucket, v_cents) final rollup row;
    emit (key, bucket, cusum_scaled, breached) for the batch's buckets."""

    def score(fresh, kept):
        scored = {b: (s, fl) for b, s, fl in cusum_closed_form(kept)}
        return [(b, *scored[b]) for b in sorted(fresh) if b in scored]

    return detector.scored_series(
        stream_df, key_col, bucket_col, cents_col, int,
        [("cusum_scaled", T.LongType()), ("breached", T.BooleanType())],
        score, max_history,
    )


def stream_cusum_alerts(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    cents_col: str,
    max_history: int = 90,
) -> DataFrame:
    """Single-shot CUSUM BREACH ALERTS — the stream_psi_alerts
    discipline applied to the shift detector: same retained-series
    state plus an ``alerted`` latch; the FIRST micro-batch whose
    recomputed integer CUSUM breaches (S > 20*tot at any retained
    bucket) emits one (key, bucket, cusum_scaled, n_buckets,
    crossed_ms) row for the FIRST breaching bucket, then the latch
    stops the re-alerting storm while the shift persists. Together
    with ``cusum_alerts_to_queue`` this closes the monitoring loop for
    the second detector family: PSI alerts on DISTRIBUTION drift,
    CUSUM alerts on LEVEL shift — both land in the same reference
    queue -> Dispatcher path.

    Batch equivalence (tested): with the same rollup rows delivered in
    any tick split, the alerted key set equals the keys whose
    cusum_closed_form over the retained series breaches — same-bucket
    redelivery replaces (idempotent), and the closed form is one
    shared function of the final series.

    Scale: state per key = the retained (bucket, value) series capped
    at ``max_history`` + a bool; monitored keys are catalog-bounded;
    the alert stream is at most |keys| rows EVER."""

    def first_breach(kept):
        return next(
            ((b, s, len(kept)) for b, s, fl in cusum_closed_form(kept) if fl),
            None,
        )

    return detector.latched_alerts(
        stream_df, key_col, bucket_col, [cents_col],
        ["cusum_scaled", "n_buckets"], first_breach, max_history,
    )


def cusum_alerts_to_queue(alert_stream: DataFrame, queue, group: str = "shift"):
    """Wire the CUSUM alert stream into the alert QUEUE — the
    psi_alerts_to_queue twin for the level-shift detector: each alert
    row becomes one ALERT_SCHEMA row (message carries key + breach
    bucket, data = the JSON context). Returns the foreachBatch
    ``DataStreamWriter``; delivery inherits the queue's at-least-once
    commit-after-send contract."""
    key, bucket, *_ = alert_stream.columns
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["CUSUM level shift on ", F.col(key), " at bucket ",
         F.col(bucket).cast("string")],
    )

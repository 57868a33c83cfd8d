"""Streaming SPC monitor — the cross-batch form of the
``spc_xbar_breaches`` query (Shewhart individuals chart with the four
Western Electric run rules, moving-range sigma).

State, latch and queue sink: streaming/detector.py.

Arithmetic matches the batch query's semantics over the retained
series: mu = mean, sigma = mean moving range / 1.128, rule flags off
constant-width trailing windows (9/3/5). A degenerate flat series
(sigma == 0) scores no rules instead of dividing by zero — the
streaming guard the PSI monitor grew in r12 (ADVICE drift.py:188).

Completing the detector-family triangle: PSI alerts on DISTRIBUTION
drift, CUSUM on sustained LEVEL shift, Page-Hinkley on mean drift —
SPC/WE is the point-and-run-pattern chart a human actually reads, now
landing in the same queue -> Dispatcher path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.streaming import detector


def spc_closed_form(
    series: list[tuple[int, int]],
) -> list[tuple[int, int, int]]:
    """(bucket, sigma_units_milli, rule_mask) over a sorted
    (bucket, cents) series — the spc_xbar_breaches arithmetic
    (individuals chart, WE rules 1-4; mask bit j-1 = rule j), reusable
    by the streaming fold and the equivalence test."""
    n = len(series)
    if n < 2:
        return [(b, 0, 0) for b, _ in series]
    vals = [v for _, v in series]
    mu = sum(vals) / n
    mrbar = sum(abs(b - a) for a, b in zip(vals, vals[1:])) / (n - 1)
    sigma = mrbar / 1.128
    if sigma == 0.0:
        return [(b, 0, 0) for b, _ in series]
    sides = []
    flags = []  # (b3, a2, u2, a1, u1)
    for v in vals:
        x = float(v)
        sides.append(1 if x > mu else (-1 if x < mu else 0))
        flags.append(
            (
                int(x > mu + 3 * sigma or x < mu - 3 * sigma),
                int(x > mu + 2 * sigma),
                int(x < mu - 2 * sigma),
                int(x > mu + sigma),
                int(x < mu - sigma),
            )
        )
    out = []
    for i, (b, v) in enumerate(series):
        w9 = sides[max(0, i - 8) : i + 1]
        w3 = flags[max(0, i - 2) : i + 1]
        w5 = flags[max(0, i - 4) : i + 1]
        r1 = flags[i][0]
        r2 = int(len(w9) == 9 and abs(sum(w9)) == 9)
        r3 = int(sum(f[1] for f in w3) >= 2 or sum(f[2] for f in w3) >= 2)
        r4 = int(sum(f[3] for f in w5) >= 4 or sum(f[4] for f in w5) >= 4)
        mask = r1 | (r2 << 1) | (r3 << 2) | (r4 << 3)
        units = round((float(v) - mu) / sigma * 1000)
        out.append((b, int(units), mask))
    return out


def stream_spc_alerts(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    cents_col: str,
    max_history: int = 90,
) -> DataFrame:
    """Single-shot SPC BREACH ALERTS — the stream_cusum_alerts
    discipline for the control-chart detector: retained-series state
    plus an ``alerted`` latch; the FIRST micro-batch whose recomputed
    chart fires any WE rule emits one (key, bucket, rule_mask,
    sigma_units_milli, n_buckets, crossed_ms) row for the FIRST
    breaching bucket, then the latch stops the re-alerting storm.

    Batch equivalence (tested): with the same rollup rows delivered in
    any tick split, the alerted key set equals the keys whose
    spc_closed_form over the retained union fires — same-bucket
    redelivery replaces, and the closed form is one shared function of
    the final series.

    Scale: state per key = the capped (bucket, value) series + a bool;
    monitored keys are catalog-bounded; the alert stream is at most
    |keys| rows EVER."""

    def first_breach(kept):
        return next(
            ((b, m, u, len(kept)) for b, u, m in spc_closed_form(kept) if m > 0),
            None,
        )

    return detector.latched_alerts(
        stream_df, key_col, bucket_col, [cents_col],
        ["rule_mask", "sigma_units_milli", "n_buckets"], first_breach,
        max_history,
    )


def spc_alerts_to_queue(alert_stream: DataFrame, queue, group: str = "spc"):
    """Wire the SPC alert stream into the alert QUEUE — the
    cusum_alerts_to_queue twin for the control-chart detector: each
    alert row becomes one ALERT_SCHEMA row (message carries key, breach
    bucket, and the fired-rule list; data = the JSON context). Returns
    the foreachBatch ``DataStreamWriter``; delivery inherits the
    queue's at-least-once commit-after-send contract."""
    key, bucket, *_ = alert_stream.columns
    rules = F.concat_ws(
        "+",
        *[
            F.when(
                F.col("rule_mask").bitwiseAND(1 << j) > 0, F.lit(f"WE{j + 1}")
            )
            for j in range(4)
        ],
    )
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["SPC rule breach (", rules, ") on ", F.col(key), " at bucket ",
         F.col(bucket).cast("string")],
    )

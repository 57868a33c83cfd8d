"""Streaming FORECAST-RESIDUAL monitor — Holt one-step-ahead surprise
alerts, closing the monitor->alert loop on the forecaster family.

The reference's whole purpose is monitor -> alert (SURVEY §2.9: checks
feed the alert queue; modules/alerting.py dispatches). The detector
family already streams distribution drift (PSI), level shift (CUSUM),
mean drift (Page-Hinkley), run patterns (SPC/WE), and sequential
significance (mSPRT) into that queue; this module adds the MODEL-BASED
member: a key alerts when today's value surprises its own Holt linear
forecast by more than k x the trailing mean absolute one-step residual.
Where SPC asks "is this point far from the series' CENTER", this asks
"is this point far from where the series was HEADED" — a trending
series never breaches (the trend is the forecast), a trend BREAK does.

State, latch and queue sink: streaming/detector.py; the closed form is
operators/forecast.first_holt_residual_breach, shared with the batch
query and its DuckDB oracle.

Per-tick consistency (tested, the msprt.py discipline): at every tick
the decision is the closed form over the rollups retained so far, so
in-order delivery reproduces the batch twin's first breach exactly
FOR SERIES OF AT MOST ``max_history`` BUCKETS. Beyond the cap the
retained window slides: the oldest rollups are dropped and the Holt
level/trend re-seed from the first RETAINED bucket, so a key whose
series outgrows the cap decides over the trailing ``max_history``
window while the batch twin (holt_residual_breaches) walks the FULL
series — a deliberate bounded-state trade, not an oversight: unbounded
per-key state is the thing this module exists to avoid. Callers who
need full-series parity on long series must raise ``max_history`` to
cover the monitored horizon (state stays
O(max_history) per key either way). The trailing-mean threshold at a
tick sees only retained residuals — WHICH tick first crosses can
depend on delivery order (the always-valid-monitoring caveat), but
whether the final retained series breaches does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.operators.forecast import first_holt_residual_breach
from dawis_spark.streaming import detector


def stream_forecast_residual_alerts(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    cents_col: str,
    k_milli: int = 3000,
    min_resid: int = 8,
    max_history: int = 365,
) -> DataFrame:
    """Single-shot FORECAST-SURPRISE ALERTS: the first micro-batch whose
    retained series holds a one-step Holt residual above k x the
    trailing mean absolute residual emits one (key, bucket,
    forecast_cents, resid_cents, n_resid, crossed_ms) row for the FIRST
    breaching bucket, then the latch holds.

    Batch-twin parity: exact while a key's series fits in
    ``max_history`` buckets; past the cap the decision covers the
    trailing window only (module docstring has the full contract).

    Scale: state per key = the capped (bucket, value) series + a bool;
    monitored keys are catalog-bounded; the alert stream is at most
    |keys| rows EVER. The replay is one O(retained) integer pass."""

    def first_breach(kept):
        if len(kept) < 2:
            return None
        hit = first_holt_residual_breach(kept, k_milli=k_milli, min_resid=min_resid)
        return hit and hit[:4]

    return detector.latched_alerts(
        stream_df, key_col, bucket_col, [cents_col],
        ["forecast_cents", "resid_cents", "n_resid"], first_breach, max_history,
    )


def forecast_alerts_to_queue(
    alert_stream: DataFrame, queue, group: str = "forecast"
):
    """Wire the forecast-surprise alert stream into the alert QUEUE —
    the spc_alerts_to_queue twin for the model-based detector: each
    alert row becomes one ALERT_SCHEMA row (message names key, breach
    bucket, predicted vs actual; data = the JSON context). Returns the
    foreachBatch ``DataStreamWriter``; delivery inherits the queue's
    at-least-once commit-after-send contract."""
    key, bucket, *_ = alert_stream.columns
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["Forecast surprise on ", F.col(key), " at bucket ",
         F.col(bucket).cast("string"), ": predicted ",
         F.col("forecast_cents").cast("string"), "c, residual ",
         F.col("resid_cents").cast("string"), "c"],
    )

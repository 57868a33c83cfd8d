"""Streaming SAMPLE-RATIO-MISMATCH monitor — the cumulative-enrollment
guard beside the per-day batch query (queries: srm_check).

srm_check flags individual enrollment DAYS whose arm split breaks
50/50; this monitor watches the CUMULATIVE ratio as enrollment rollups
stream in and raises ONE alert the first time the running two-cell
chi-square crosses the 0.05 critical value with enough enrollments to
matter — the "stop reading metrics, assignment is broken" pager, which
must fire while the experiment is still running, not in the nightly
batch.

State, latch and queue sink: streaming/detector.py.

This is the SEVENTH detector in the measure->decide->deliver family
(PSI, CUSUM, Page-Hinkley, SPC/WE, mSPRT, Holt-residual, SRM); its
single-shot/batch-twin/queue discipline is enforced by the shared
contract harness (tests/test_detector_contract.py) via one spec entry —
the r14 consolidation's point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.streaming import detector

# chi-square(1 dof) upper critical value at alpha = 0.05 — the batch
# query's literal (queries/q06:_SRM_CRIT)
SRM_CRIT = 3.841459


def srm_closed_form(
    series: list[tuple[int, tuple[int, int]]],
    min_n: int = 100,
    crit: float = SRM_CRIT,
) -> list[tuple[int, int, int, int, int]]:
    """(bucket, cum_n_a, cum_n_b, chi2_milli, flag) over a sorted
    (bucket, (n_a, n_b)) series: the RUNNING two-cell goodness-of-fit
    chi2 = (Na - Nb)^2 / (Na + Nb) against a designed 50/50 split,
    gated on cumulative enrollments >= ``min_n`` (tiny totals cross on
    noise). Pure function of the series — shared by the streaming fold
    and the batch-equivalence twin."""
    out = []
    na = nb = 0
    for b, (a, bb) in series:
        na += a
        nb += bb
        n = na + nb
        chi2 = ((na - nb) * (na - nb)) / n if n else 0.0
        flag = int(n >= min_n and chi2 > crit)
        out.append((b, na, nb, round(chi2 * 1000), flag))
    return out


def stream_srm_alerts(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    na_col: str,
    nb_col: str,
    min_n: int = 100,
    max_history: int = 365,
) -> DataFrame:
    """Single-shot SRM ALERTS: the first micro-batch whose retained
    enrollment series crosses the running chi-square critical value
    (with >= ``min_n`` cumulative enrollments) emits one (key, bucket,
    cum_n_a, cum_n_b, chi2_milli, crossed_ms) row for the FIRST
    crossing bucket, then the latch holds.

    Batch equivalence (contract-tested): the alerted key set equals
    srm_closed_form over the union of all delivered rollups —
    same-bucket redelivery replaces, and the closed form is one shared
    function of the final series.

    Scale: state per key = the capped (bucket, n_a, n_b) series + a
    bool; monitored experiments are catalog-bounded; the alert stream
    is at most |keys| rows EVER. The replay is one O(retained) integer
    pass."""

    def first_breach(kept):
        return next(
            (row[:4] for row in srm_closed_form(kept, min_n=min_n) if row[4]),
            None,
        )

    return detector.latched_alerts(
        stream_df, key_col, bucket_col, [na_col, nb_col],
        ["cum_n_a", "cum_n_b", "chi2_milli"], first_breach, max_history,
        state_fields=["nas", "nbs"],
    )


def srm_alerts_to_queue(alert_stream: DataFrame, queue, group: str = "srm"):
    """Wire the SRM alert stream into the alert QUEUE — the
    spc_alerts_to_queue twin for the assignment guard: each alert row
    becomes one ALERT_SCHEMA row (message names the experiment, breach
    bucket, and the broken split; data = the JSON context). Returns the
    foreachBatch ``DataStreamWriter``; delivery inherits the queue's
    at-least-once commit-after-send contract."""
    key, bucket, *_ = alert_stream.columns
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["Sample-ratio mismatch on ", F.col(key), " at bucket ",
         F.col(bucket).cast("string"), ": ", F.col("cum_n_a").cast("string"),
         " vs ", F.col("cum_n_b").cast("string")],
    )

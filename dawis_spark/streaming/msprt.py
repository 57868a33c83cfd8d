"""Streaming mSPRT monitor — the always-valid sequential test of the
``msprt_sequential_monitor`` query, run continuously against arriving
per-bucket ARM ROLLUPS and wired into the alert queue.

This is the detector the experimentation loop actually wants streaming:
the mixture-SPRT e-process is the one statistic that is DESIGNED to be
peeked at after every micro-batch (optional stopping never inflates
alpha), so "recompute on each tick and alert at the first
p_always_valid <= alpha" is not a heuristic — it is the test's own
operating mode. PSI/CUSUM/Page-Hinkley/SPC watch a single series for
drift; this one watches a CONTROL/TREATMENT pair for a real effect.

Per-key state is the retained per-bucket arm rollups (n, sum, sumsq per
arm) plus the latch; state, latch and queue sink: streaming/detector.py.
Each batch replays ``msprt_closed_form`` — one shared function between
the stream, the batch query shape, and the equivalence test.

Arithmetic: pooled plug-in variance s2 from the retained (nn, sx, sxx)
moments — exact integer sums, cleared-denominator form; the normal
mixture prior tau^2 = s2/100 and the log e-value per bucket follow the
batch query's shared strings. Degenerate guards: buckets before both
arms have data are skipped; s2 <= 0 (constant series) scores nothing —
the sigma==0 guard the SPC/PSI monitors use.

Scale: state per key is the capped rollup series (constants per bucket);
experiment keys are config-bounded; the alert stream emits at most one
row per key ever.
"""

from __future__ import annotations

import math
from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawis_spark.streaming import detector

Rollup = Tuple[int, int, int, int, int, int, int]
# (bucket, n0, s0, ss0, n1, s1, ss1)


def msprt_closed_form(
    series: list[Rollup],
) -> list[tuple[int, int, int, float, float]]:
    """(bucket, cum_n0, cum_n1, ln_l, p_always_valid) over a sorted
    rollup series — the msprt_sequential_monitor arithmetic: pooled
    plug-in s2 from the full retained moments, normal mixture prior
    tau^2 = s2/100, running-max e-process. Buckets before both arms
    have data are skipped; s2 <= 0 yields an empty walk."""
    nn = sum(r[1] + r[4] for r in series)
    sx = sum(r[2] + r[5] for r in series)
    sxx = sum(r[3] + r[6] for r in series)
    if nn < 2:
        return []
    s2 = float(nn * sxx - sx * sx) / (float(nn) * float(nn - 1))
    if s2 <= 0.0:
        return []
    tau2 = s2 / 100
    cn0 = cs0 = cn1 = cs1 = 0
    best = float("-inf")
    out = []
    for b, n0, s0, _, n1, s1, _ in series:
        cn0 += n0
        cs0 += s0
        cn1 += n1
        cs1 += s1
        if cn0 == 0 or cn1 == 0:
            continue
        dm = float(cs1) / cn1 - float(cs0) / cn0
        v = s2 * (1.0 / cn0 + 1.0 / cn1)
        ln_l = 0.5 * math.log(v / (v + tau2)) + dm * dm * tau2 / (
            2 * v * (v + tau2)
        )
        best = max(best, ln_l)
        p_av = min(1.0, math.exp(-best))
        out.append((b, cn0, cn1, ln_l, p_av))
    return out


def stream_msprt_alerts(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    alpha: float = 0.05,
    max_history: int = 365,
) -> DataFrame:
    """Single-shot mSPRT SIGNIFICANCE ALERTS: input rows are per-bucket
    arm rollups (columns ``n0, s0, ss0, n1, s1, ss1`` — counts, value
    sums, and value sum-of-squares per arm, integer units); the FIRST
    micro-batch whose replayed e-process drives the always-valid
    p-value to <= alpha emits one (key, bucket, p_milli, log_e_milli,
    n_ctrl, n_treat, crossed_ms) row for the FIRST crossing bucket,
    then the latch holds.

    Per-tick consistency (tested): at every tick the decision is
    ``msprt_closed_form`` over the rollups RETAINED SO FAR (same-bucket
    redelivery replaces; one shared closed form) — so a split that
    delivers buckets in order reproduces the batch alert exactly.
    NOT claimed: full split-invariance. The plug-in s2 at a tick is
    estimated from the data retained at that tick, so a key can cross
    alpha under a partial-data s2 where the end-of-stream replay would
    not (or at a different bucket), and the single-shot latch keeps
    that earlier decision — the standard always-valid-inference
    behavior (any stopping time is valid; WHICH stopping time you hit
    depends on delivery order)."""

    def first_breach(kept):
        walk = msprt_closed_form([(b, *v) for b, v in kept])
        return next(
            (
                (b, round(p * 1000), round(ln_l * 1000), cn0, cn1)
                for b, cn0, cn1, ln_l, p in walk
                if p <= alpha
            ),
            None,
        )

    return detector.latched_alerts(
        stream_df, key_col, bucket_col, ["n0", "s0", "ss0", "n1", "s1", "ss1"],
        ["p_milli", "log_e_milli", "n_ctrl", "n_treat"], first_breach,
        max_history, state_fields=["n0s", "s0s", "ss0s", "n1s", "s1s", "ss1s"],
    )


def msprt_alerts_to_queue(alert_stream: DataFrame, queue, group: str = "msprt"):
    """Wire the mSPRT alert stream into the alert QUEUE (the
    spc_alerts_to_queue twin for the experimentation detector): one
    ALERT_SCHEMA row per crossing, message naming the experiment key,
    crossing bucket, and always-valid p; data = the JSON context.
    Delivery inherits the queue's at-least-once commit-after-send
    contract."""
    key, bucket, *_ = alert_stream.columns
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["mSPRT significance on ", F.col(key), " at bucket ",
         F.col(bucket).cast("string"), " (p=",
         (F.col("p_milli") / 1000).cast("string"), ")"],
    )

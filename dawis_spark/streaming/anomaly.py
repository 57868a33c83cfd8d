"""Streaming robust anomaly scoring — the cross-batch form of
operators/anomaly.robust_zscores.

The batch operator scores a finished (series, bucket, value) rollup;
a monitoring pipeline wants each bucket scored AS IT ARRIVES, against a
baseline built from everything the series has emitted so far. Medians
are not mergeable (no bounded-state exact sketch exists), so the state
carries the series' trailing bucket history itself — (bucket, value)
pairs capped at ``max_history`` buckets — which is the right call for
this operator's domain: the input is already a per-bucket rollup, so
per-series state is the RETENTION WINDOW length (config-scale, e.g.
90 daily points), not the event volume. Same posture as the batch
docstring: holistic cost only ever paid within a bounded group.

Per micro-batch, per series: fold the new final bucket aggregates into
the history (same-bucket redelivery REPLACES — idempotent on the
at-least-once upstream), truncate to the newest ``max_history``
buckets, recompute median/MAD over the retained history, and emit a
scored row for each bucket present in this batch. Scoring matches the
batch operator exactly (numpy median interpolates even counts like
Spark/DuckDB ``median``; half-up 6-digit rounding; MAD = 0 yields NULL
z and a false flag), so after any tick sequence the emitted scores for
the final tick equal ``robust_zscores`` over the retained history — the
defining batch-equivalence test of this module family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dawis_spark.operators.anomaly import MAD_SIGMA
from dawis_spark.streaming import detector


def _half_up6(x: float) -> float:
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def stream_robust_anomalies(
    stream_df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    max_history: int = 90,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Score each arriving (key, bucket, value) row against the series'
    retained history. ``bucket_col`` must be int64 (epoch bucket index
    or day number); rows are FINAL per-bucket aggregates (emit them
    from a watermarked windowed agg upstream).

    Output per batch: (key, bucket, value, robust_z, is_anomaly) for
    the buckets present in that batch.
    """
    import numpy as np

    def score(fresh, kept):
        vals = np.array([v for _, v in kept], dtype=np.float64)
        med = float(np.median(vals))
        mad = float(np.median(np.abs(vals - med)))
        retained = dict(kept)
        rows = []
        for b in sorted(fresh):
            if b not in retained:
                continue  # older than the retention window after merge
            v = retained[b]
            if mad == 0.0:
                rows.append((b, v, None, False))
            else:
                z = _half_up6((v - med) / (MAD_SIGMA * mad))
                rows.append((b, v, z, abs(z) > z_threshold))
        return rows

    return detector.scored_series(
        stream_df, key_col, bucket_col, value_col, float,
        [(value_col, T.DoubleType()), ("robust_z", T.DoubleType()),
         ("is_anomaly", T.BooleanType())],
        score, max_history,
    )

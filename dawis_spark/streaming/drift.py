"""Streaming PSI drift monitor — the online form of psi_value_drift.

The batch query compares a reference period against a current period in
one scan; a STREAMING pipeline instead carries the reference histogram
as configuration (bin edges + counts frozen when the model/baseline
shipped) and maintains the current-period histogram as keyed state,
emitting the running PSI after every micro-batch — the number a
monitoring dashboard thresholds (0.1 watch / 0.25 retrain) without ever
rescanning history.

Semantics per key: state = one int64 count per bin (n_bins + a row
counter, config-sized). Each micro-batch bins its rows with the SAME
clamped equal-width rule as the batch query (operators/drift.bin_index,
reference extrema fixed), adds them to state, and emits
(key, n_rows_total, psi) computed by operators/drift.psi_from_counts —
the shared formula, so batch equivalence is equality of one function
applied to one histogram pair.

Batch equivalence (tested): after any prefix of micro-batches the
emitted psi equals psi_from_counts(ref, histogram(union of delivered
rows)) — the whale-alert discipline.

Scale: state is n_bins int64s per monitored key (metrics/segments —
catalog-bounded); each micro-batch does one map-side binning pass, no
shuffle beyond the keyed state exchange.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dawis_spark.operators.drift import bin_index, psi_from_counts
from dawis_spark.streaming import detector


def _add_to_histogram(
    counts: list[int],
    pdfs: Iterable[pd.DataFrame],
    value_col: str,
    ref_lo: float,
    ref_hi: float,
) -> None:
    """Bin one micro-batch's rows into ``counts`` in place. NULL values
    are skipped, the way a SQL aggregate ignores NULL (Arrow hands a
    nullable column to pandas as NaN, which no bin can take)."""
    for pdf in pdfs:
        for x in pdf[value_col].tolist():
            if not pd.isna(x):
                counts[bin_index(float(x), ref_lo, ref_hi, len(counts))] += 1


def stream_psi_drift(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    ref_lo: float,
    ref_hi: float,
    ref_counts: list[int],
) -> DataFrame:
    """(key, n_rows, psi) per micro-batch: running PSI of the key's
    observed value distribution against the frozen reference histogram
    (``ref_counts`` over ``len(ref_counts)`` equal-width bins spanning
    [ref_lo, ref_hi], clamped)."""
    n_bins = len(ref_counts)
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("psi", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("counts", T.ArrayType(T.LongType()), True)]
    )

    def track(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        counts = list(state.get[0]) if state.exists else [0] * n_bins
        _add_to_histogram(counts, pdfs, value_col, ref_lo, ref_hi)
        state.update((counts,))
        n = sum(counts)
        if n:
            yield pd.DataFrame(
                {
                    key_col: [str(key[0])],
                    "n_rows": [n],
                    "psi": [psi_from_counts(ref_counts, counts)],
                }
            )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_psi_alerts(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    ref_lo: float,
    ref_hi: float,
    ref_counts: list[int],
    threshold: float = 0.25,
    min_rows: int = 1,
) -> DataFrame:
    """Single-shot DRIFT ALERTS on top of the PSI monitor — the
    whale-alert discipline applied to the drift signal: same per-key
    histogram state plus an ``alerted`` latch; the FIRST micro-batch
    after which the running PSI exceeds ``threshold`` (with at least
    ``min_rows`` observed — tiny samples saturate PSI) emits one
    (key, n_rows, psi, crossed_ms) row, then the latch stops the
    re-alerting storm while drift persists. This is the piece that
    closes the monitoring loop: psi_value_drift measures, this decides,
    ``psi_alerts_to_queue`` below delivers into the reference's alert
    queue -> Dispatcher path (modules/alerting.py).

    Batch equivalence (tested): with enough micro-batches delivered,
    the alerted key set equals the keys whose batch PSI over the union
    of delivered rows exceeds ``threshold`` — the per-key histogram is
    delivery-order-independent (counts add), and PSI is one shared
    function of the final histogram pair.

    Scale: state per key = n_bins int64s + a bool (monitored metrics
    are catalog-bounded); one map-side binning pass per micro-batch,
    no shuffle beyond the keyed state exchange; the alert stream is
    at most |keys| rows EVER (single-shot)."""
    n_bins = len(ref_counts)
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("psi", T.DoubleType()),
            T.StructField("crossed_ms", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("counts", T.ArrayType(T.LongType()), True),
            T.StructField("alerted", T.BooleanType(), True),
        ]
    )

    def track(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        counts, alerted = (
            (list(state.get[0]), bool(state.get[1]))
            if state.exists
            else ([0] * n_bins, False)
        )
        _add_to_histogram(counts, pdfs, value_col, ref_lo, ref_hi)
        n = sum(counts)
        if not alerted and n >= min_rows:
            psi = psi_from_counts(ref_counts, counts)
            if psi > threshold:
                alerted = True
                yield pd.DataFrame(
                    {
                        key_col: [str(key[0])],
                        "n_rows": [n],
                        "psi": [psi],
                        "crossed_ms": [state.getCurrentProcessingTimeMs()],
                    }
                )
        state.update((counts, alerted))

    return stream_df.groupBy(key_col).applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def psi_alerts_to_queue(alert_stream: DataFrame, queue, group: str = "drift"):
    """Wire the PSI alert stream into the alert QUEUE (streaming/
    alerts.AlertQueue — the reference's Mongo queue re-expressed as an
    append-only table + consumer watermark): each alert row becomes one
    ALERT_SCHEMA row (date = the crossing time, message carries key +
    psi, data = the JSON context the Dispatcher templates render).
    Returns the ``DataStreamWriter`` (foreachBatch) — callers attach
    checkpoint/trigger and ``start()``; delivery inherits the queue's
    at-least-once commit-after-send contract."""
    key, *_ = alert_stream.columns
    return detector.alerts_to_queue(
        alert_stream, queue, group,
        ["PSI drift on ", F.col(key), ": psi=", F.round("psi", 4).cast("string")],
    )

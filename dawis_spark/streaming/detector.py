"""The streaming detector core: one retained-series fold, one
single-shot latch and one alert-queue sink for the measure -> decide ->
deliver family (CUSUM, Page-Hinkley, SPC/WE, mSPRT, SRM, Holt
forecast-residual alerts, and the CUSUM/Holt/robust-anomaly scoring
streams).

State policy, owned here and nowhere else: per key, state is the
retained (bucket, values...) rollup series. A same-bucket redelivery
REPLACES the stored value (idempotent under an at-least-once upstream),
the last row per bucket within a micro-batch wins, and only the newest
``max_history`` buckets are kept, so state is retention-window-sized,
never event-volume-sized. Rows whose bucket or any value is NULL are
skipped, the way a SQL aggregate ignores NULL (Arrow hands a nullable
column to pandas as NaN, which ``int()`` cannot take).

A detector module keeps only its ``*_closed_form`` (the
batch-equivalence contract: each tick's decision is the closed form over
the series retained at that tick), its output column names and its
queue message. The fold is one per-group function handed to one generic
``applyInPandasWithState`` call, the ``gapply`` pattern.

State layout: ``buckets``, then one array per value column under the
detector's own field names, then ``alerted`` for latched detectors. The
field names are part of every checkpoint's format; keep them stable.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_ARRAY_ELEMENT = {int: T.LongType(), float: T.DoubleType()}


def merge_retained(
    prev_state: Optional[Sequence[list]],
    pdfs: Iterable[pd.DataFrame],
    bucket_col: str,
    value_cols: Sequence[str],
    cast: Callable[[Any], Any],
    max_history: int,
) -> Tuple[dict, list]:
    """Fold one micro-batch into a key's retained series.

    ``prev_state`` is the stored ``(buckets, *value arrays)`` or None.
    Returns ``(fresh, kept)``: the batch's {bucket: value} and the
    sorted (bucket, value) series of the newest ``max_history`` buckets
    after the merge. A value is a scalar for one value column and a
    tuple for several."""
    one = len(value_cols) == 1
    fresh: dict = {}
    for pdf in pdfs:
        columns = [pdf[c].tolist() for c in (bucket_col, *value_cols)]
        for b, *vals in zip(*columns):
            if pd.isna(b) or any(map(pd.isna, vals)):
                continue
            fresh[int(b)] = cast(vals[0]) if one else tuple(map(cast, vals))
    hist: dict = {}
    if prev_state is not None:
        buckets, *arrays = prev_state
        hist = dict(zip(buckets, arrays[0] if one else zip(*arrays)))
    hist.update(fresh)
    return fresh, sorted(hist.items())[-max_history:]


def _state_arrays(kept: list, n_values: int) -> list:
    """The retained series as its ``(buckets, *value arrays)`` state."""
    values = [v for _, v in kept]
    if n_values > 1:
        values = [[v[i] for v in values] for i in range(n_values)]
    else:
        values = [values]
    return [[b for b, _ in kept], *values]


def _apply(
    stream: DataFrame,
    key_col: str,
    fold: Callable[[Tuple, Iterable[pd.DataFrame], GroupState], Iterator],
    out_fields: list,
    state_fields: Sequence[str],
    cast: Callable[[Any], Any],
    latched: bool,
) -> DataFrame:
    """The family's one ``applyInPandasWithState``: ``fold`` per key,
    output ``(key, *out_fields)``, state in the layout above."""
    state = [T.StructField("buckets", T.ArrayType(T.LongType()), True)]
    state += [
        T.StructField(name, T.ArrayType(_ARRAY_ELEMENT[cast]), True)
        for name in state_fields
    ]
    if latched:
        state.append(T.StructField("alerted", T.BooleanType(), True))
    return stream.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=T.StructType(
            [T.StructField(key_col, T.StringType()), *out_fields]
        ),
        stateStructType=T.StructType(state),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def scored_series(
    stream: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    cast: Callable[[Any], Any],
    out_fields: Sequence[Tuple[str, T.DataType]],
    score: Callable[[dict, list], list],
    max_history: int,
) -> DataFrame:
    """Per-batch scoring over each key's retained ``values`` series, no
    latch.

    ``score(fresh, kept)`` returns ``(bucket, *out)`` rows, one value
    per ``out_fields`` (name, type) pair; they are emitted as
    ``(key, bucket, *out)``. A key with nothing retained scores
    nothing."""
    names = [key_col, bucket_col, *(name for name, _ in out_fields)]

    def fold(key, pdfs, state):
        fresh, kept = merge_retained(
            state.get if state.exists else None,
            pdfs, bucket_col, [value_col], cast, max_history,
        )
        state.update(tuple(_state_arrays(kept, 1)))
        rows = score(fresh, kept) if kept else []
        if rows:
            yield pd.DataFrame([(str(key[0]), *r) for r in rows], columns=names)

    out = [T.StructField(bucket_col, T.LongType())]
    out += [T.StructField(name, dtype) for name, dtype in out_fields]
    return _apply(stream, key_col, fold, out, ["values"], cast, latched=False)


def latched_alerts(
    stream: DataFrame,
    key_col: str,
    bucket_col: str,
    value_cols: Sequence[str],
    payload: Sequence[str],
    first_breach: Callable[[list], Optional[tuple]],
    max_history: int,
    state_fields: Sequence[str] = ("values",),
) -> DataFrame:
    """Single-shot alerts over each key's retained integer series.

    After each micro-batch ``first_breach(kept)`` returns
    ``(bucket, *payload)`` for the first breaching bucket, or None. The
    first breach a key ever shows is emitted as one
    ``(key, bucket, *payload, crossed_ms)`` row of int64s; the
    ``alerted`` latch then stops the re-alerting storm while the breach
    persists, so the alert stream holds at most one row per key."""
    n_values = len(value_cols)
    names = [key_col, bucket_col, *payload, "crossed_ms"]

    def fold(key, pdfs, state):
        prev = state.get if state.exists else None
        alerted = bool(prev[-1]) if prev else False
        _, kept = merge_retained(
            prev[:-1] if prev else None,
            pdfs, bucket_col, value_cols, int, max_history,
        )
        hit = None if alerted else first_breach(kept)
        if hit is not None:
            alerted = True
            crossed_ms = state.getCurrentProcessingTimeMs()
            yield pd.DataFrame([(str(key[0]), *hit, crossed_ms)], columns=names)
        state.update((*_state_arrays(kept, n_values), alerted))

    out = [T.StructField(name, T.LongType()) for name in names[1:]]
    return _apply(stream, key_col, fold, out, state_fields, int, latched=True)


def alerts_to_queue(
    alert_stream: DataFrame, queue, group: str, message: Sequence[Any]
):
    """Wire an alert stream into the alert QUEUE (streaming/alerts.
    AlertQueue): each alert row becomes one ALERT_SCHEMA row. ``date``
    is the crossing time, ``message`` concatenates ``message``'s parts
    (a str is a literal, anything else a Column), and ``data`` is the
    JSON of every other alert column, the context the Dispatcher
    templates render. Returns the foreachBatch ``DataStreamWriter``:
    callers attach checkpoint/trigger and ``start()``; delivery
    inherits the queue's at-least-once commit-after-send contract.

    The sink persists each micro-batch for its two actions (the empty
    check and the append), so the stateful fold under it runs once per
    batch, and releases it before returning."""
    text = F.concat(*(F.lit(p) if isinstance(p, str) else p for p in message))
    data = [c for c in alert_stream.columns if c != "crossed_ms"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            queue.add(
                batch_df.select(
                    F.timestamp_millis(F.col("crossed_ms")).alias("date"),
                    F.lit(group).alias("group"),
                    text.alias("message"),
                    F.to_json(F.struct(*data)).alias("data"),
                )
            )
        finally:
            batch_df.unpersist()

    return alert_stream.writeStream.foreachBatch(sink)

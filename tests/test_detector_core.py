"""The streaming detector core (streaming/detector.py): its state policy
in pure Python, the trailing-window decision of a latched detector, and
NULL rows, which every detector stream must skip the way a SQL
aggregate ignores NULL."""

import math
import os

import pandas as pd
from pyspark.sql import types as T

from dawis_spark.streaming.cusum import cusum_closed_form
from dawis_spark.streaming.detector import merge_retained

# ---------------------------------------------------------------------------
# merge_retained: pure Python, no Spark
# ---------------------------------------------------------------------------


def _pdf(rows, cols=("bucket", "v")):
    return pd.DataFrame(rows, columns=list(cols))


def test_redelivery_replaces_the_stored_value():
    fresh, kept = merge_retained(
        ([1, 2, 3], [10, 20, 30]), [_pdf([(2, 99)])], "bucket", ["v"], int, 90
    )
    assert fresh == {2: 99}
    assert kept == [(1, 10), (2, 99), (3, 30)]


def test_last_row_per_bucket_in_a_batch_wins():
    batch = [_pdf([(5, 1), (6, 2)]), _pdf([(5, 3)])]
    fresh, kept = merge_retained(None, batch, "bucket", ["v"], int, 90)
    assert fresh == {5: 3, 6: 2}
    assert kept == [(5, 3), (6, 2)]


def test_cap_keeps_the_newest_buckets():
    _, kept = merge_retained(
        ([1, 2, 3, 4], [1, 2, 3, 4]), [_pdf([(6, 6), (5, 5)])],
        "bucket", ["v"], int, 4,
    )
    assert kept == [(3, 3), (4, 4), (5, 5), (6, 6)]


def test_redelivered_bucket_older_than_the_window_is_dropped():
    fresh, kept = merge_retained(
        ([5, 6, 7], [50, 60, 70]), [_pdf([(2, 20)])], "bucket", ["v"], int, 3
    )
    assert fresh == {2: 20}  # the batch saw it ...
    assert kept == [(5, 50), (6, 60), (7, 70)]  # ... the window did not


def test_null_bucket_or_value_rows_are_skipped():
    pdf = _pdf([(1.0, 10.0), (math.nan, 20.0), (3.0, math.nan), (4.0, 40.0)])
    fresh, kept = merge_retained(None, [pdf], "bucket", ["v"], int, 90)
    assert fresh == {1: 10, 4: 40}
    assert kept == [(1, 10), (4, 40)]


def test_several_value_columns_merge_as_tuples():
    pdf = _pdf([(2, 7, None), (3, 8, 9)], cols=("bucket", "a", "b"))
    fresh, kept = merge_retained(
        ([1, 2], [1, 2], [1, 2]), [pdf], "bucket", ["a", "b"], int, 90
    )
    assert fresh == {3: (8, 9)}  # bucket 2's row has a NULL value
    assert kept == [(1, (1, 1)), (2, (2, 2)), (3, (8, 9))]


# ---------------------------------------------------------------------------
# Spark: availableNow drains over a staging directory
# ---------------------------------------------------------------------------

_SERIES_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)
_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _drain(spark, tmp_path, schema, build, ticks):
    """Deliver each tick to a staging dir, drain it through ``build``
    and return every alert row written."""
    from dawis_spark.streaming.stream import staging_stream

    staging, sink, ckpt = (str(tmp_path / d) for d in ("staging", "sink", "ckpt"))
    for rows in ticks:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(staging)
        (
            build(staging_stream(spark, staging, schema))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    if not any(f.endswith(".parquet") for f in os.listdir(sink)):
        return []
    return spark.read.parquet(sink).collect()


def _cusum_breach(series):
    return next((b for b, _, fl in cusum_closed_form(series) if fl), None)


def test_latched_detector_decides_over_the_trailing_window(spark, tmp_path):
    """CUSUM alerts with max_history=3: "long" shifts after a long flat
    run, which the full history would flag, but its last three buckets
    are flat; "short" breaches inside its last three. Each tick's
    decision is the closed form over the newest three buckets only."""
    from dawis_spark.streaming.cusum import stream_cusum_alerts

    long_series = [(b, 100) for b in range(6)] + [(b, 300) for b in range(6, 9)]
    short_series = [(b, 100) for b in range(7)] + [(7, 600)]
    ticks = [
        [("long", b, v) for b, v in long_series[:6]]
        + [("short", b, v) for b, v in short_series[:5]],
        [("long", b, v) for b, v in long_series[6:]]
        + [("short", b, v) for b, v in short_series[5:]],
    ]
    alerts = _drain(
        spark, tmp_path, _SERIES_SCHEMA,
        lambda s: stream_cusum_alerts(s, "series", "bucket", "cents", max_history=3),
        ticks,
    )
    # the full-history twin would alert both keys; the window alerts one
    assert _cusum_breach(long_series) is not None
    assert _cusum_breach(long_series[-3:]) is None
    assert [(r["series"], r["bucket"], r["n_buckets"]) for r in alerts] == [
        ("short", _cusum_breach(short_series[-3:]), 3)
    ]


def test_null_rows_do_not_kill_the_detector_streams(spark, tmp_path):
    """One NULL measure or bucket used to raise ``cannot convert float
    NaN to integer`` inside the fold and stop the query. The streams
    must keep running, and the alerted keys must equal the closed-form
    twin over the non-NULL rows."""
    from dawis_spark.operators.drift import bin_index, psi_from_counts
    from dawis_spark.streaming.cusum import stream_cusum_alerts
    from dawis_spark.streaming.drift import stream_psi_alerts

    series_ticks = [
        [("bad", b, 100) for b in range(10)]
        + [("ok", b, 100) for b in range(10)]
        + [("bad", 3, None), ("ok", None, 500)],
        [("bad", b, 300) for b in range(10, 16)]
        + [("ok", b, 100) for b in range(10, 16)]
        + [("ok", 12, None), ("bad", None, None)],
    ]
    alerts = _drain(
        spark, tmp_path / "cusum", _SERIES_SCHEMA,
        lambda s: stream_cusum_alerts(s, "series", "bucket", "cents"),
        series_ticks,
    )
    by_key = {}
    for k, b, v in (r for rows in series_ticks for r in rows):
        if b is not None and v is not None:
            by_key.setdefault(k, {})[b] = v
    twin = {
        k: _cusum_breach(sorted(h.items()))
        for k, h in by_key.items()
        if _cusum_breach(sorted(h.items())) is not None
    }
    assert twin == {"bad": 11}
    assert {r["series"]: r["bucket"] for r in alerts} == twin

    ref = [5, 5, 5, 5]
    value_ticks = [
        [("bad", 1.0), ("bad", None), ("ok", 10.0), ("ok", 60.0)],
        [("bad", 2.0), ("bad", 3.0), ("bad", 4.0), ("ok", None)]
        + [("ok", 35.0), ("ok", 85.0)],
    ]
    alerts = _drain(
        spark, tmp_path / "psi", _VALUE_SCHEMA,
        lambda s: stream_psi_alerts(
            s, "metric", "v", 0.0, 100.0, ref, threshold=0.25, min_rows=4
        ),
        value_ticks,
    )
    counts = {}
    for k, v in (r for rows in value_ticks for r in rows):
        if v is not None:
            c = counts.setdefault(k, [0] * 4)
            c[bin_index(v, 0.0, 100.0, 4)] += 1
    twin = {
        k for k, c in counts.items()
        if sum(c) >= 4 and psi_from_counts(ref, c) > 0.25
    }
    assert twin == {"bad"}
    assert {(r["metric"], r["n_rows"]) for r in alerts} == {("bad", 4)}

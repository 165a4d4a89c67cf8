"""Streaming control-band monitor: cross-micro-batch trailing state,
parity with the batch metric_control_report."""

import datetime as dt

from vldt_spark.checks.controlband import metric_control_report
from vldt_spark.streaming import replay
from vldt_spark.streaming.controlband_stream import stream_control_bands

_SCHEMA = "s string, ts timestamp, value double"


def _bands(**kw):
    return lambda s: stream_control_bands(s, series_col="s", ts_col="ts", value_col="value", **kw)


def _days(values, series="a", start=1):
    return [
        (series, dt.datetime(2024, 1, start + i), float(v))
        for i, v in enumerate(values)
    ]


def test_parity_with_batch_report_across_batches(spark):
    # same series split over two micro-batches: state must carry across
    vals = [10, 12, 11, 30, 11, 13, 9, 45]
    frames = [spark.createDataFrame(b, _SCHEMA) for b in (_days(vals[:5]), _days(vals[5:], start=6))]
    got = replay(spark, frames, _bands(window=3, k=2.0, alpha=0.5), mode="append")
    batch = metric_control_report(
        spark.createDataFrame(_days(vals), _SCHEMA),
        by="s", window=3, k=2.0, alpha=0.5,
    )
    s_rows = {
        r["ts"]: r for r in got.collect()
    }
    for b in batch.collect():
        srow = s_rows[b["ts"]]
        for c in (
            "value", "n_trailing", "trailing_mean", "trailing_std", "z",
            "shewhart_alarm", "ewma_prev", "ewma_alarm",
        ):
            assert srow[c] == b[c], (b["ts"], c, srow[c], b[c])


def test_series_state_is_isolated(spark):
    frame = spark.createDataFrame(_days([10, 12, 11, 30]) + _days([5, 5, 5, 5], series="b"), _SCHEMA)
    got = replay(spark, [frame], _bands(window=3, k=2.0), mode="append")
    rows = {(r["series"], r["ts"]): r for r in got.collect()}
    assert rows[("a", dt.datetime(2024, 1, 4))]["shewhart_alarm"] is True
    # constant series: band unestimable, never a fabricated alarm
    assert rows[("b", dt.datetime(2024, 1, 4))]["shewhart_alarm"] is None


def test_null_values_are_dropped_not_counted(spark):
    frame = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 10.0),
         ("a", dt.datetime(2024, 1, 2), None),
         ("a", dt.datetime(2024, 1, 3), 12.0)],
        _SCHEMA,
    )
    got = replay(spark, [frame], _bands(window=3), mode="append")
    rows = sorted(got.collect(), key=lambda r: r["ts"])
    assert len(rows) == 2  # the NULL point emits nothing
    assert rows[1]["n_trailing"] == 1  # and does not occupy history


def test_out_of_order_batch_matches_batch_report_at_small_arrow_batches(spark):
    # one micro-batch of 8 points delivered out of time order, split by
    # Arrow into 2-row chunks: the handler must sort the whole batch once
    vals = [10, 12, 11, 30, 11, 13, 9, 45]
    points = _days(vals)
    order = [5, 0, 7, 2, 4, 1, 6, 3]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        frame = spark.createDataFrame([points[i] for i in order], _SCHEMA)
        got = replay(spark, [frame], _bands(window=3, k=2.0, alpha=0.5), mode="append").collect()
    finally:
        spark.conf.set(conf, old)
    batch = metric_control_report(
        spark.createDataFrame(points, _SCHEMA),
        by="s", window=3, k=2.0, alpha=0.5,
    ).collect()
    s_rows = {r["ts"]: r for r in got}
    assert len(s_rows) == len(batch) == 8
    for b in batch:
        srow = s_rows[b["ts"]]
        for c in (
            "value", "n_trailing", "trailing_mean", "trailing_std", "z",
            "shewhart_alarm", "ewma_prev", "ewma_alarm",
        ):
            assert srow[c] == b[c], (b["ts"], c, srow[c], b[c])

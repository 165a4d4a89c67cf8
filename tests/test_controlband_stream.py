"""Streaming control-band monitor: cross-micro-batch trailing state,
parity with the batch metric_control_report."""

import datetime as dt
import os
import tempfile
import uuid

from vldt_spark.checks.controlband import metric_control_report
from vldt_spark.streaming.controlband_stream import stream_control_bands


def _run_stream(spark, batches, **kw):
    root = tempfile.mkdtemp(prefix="vldt_cb_stream_")
    schema = "s string, ts timestamp, value double"
    for i, rows in enumerate(batches, 1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(root, f"b={i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "b=*"))
    )
    out = stream_control_bands(
        stream, series_col="s", ts_col="ts", value_col="value", **kw
    )
    name = f"cb_stream_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def _days(values, series="a", start=1):
    return [
        (series, dt.datetime(2024, 1, start + i), float(v))
        for i, v in enumerate(values)
    ]


def test_parity_with_batch_report_across_batches(spark):
    # same series split over two micro-batches: state must carry across
    vals = [10, 12, 11, 30, 11, 13, 9, 45]
    got = _run_stream(
        spark,
        [_days(vals[:5]), _days(vals[5:], start=6)],
        window=3, k=2.0, alpha=0.5,
    )
    batch = metric_control_report(
        spark.createDataFrame(
            _days(vals), "s string, ts timestamp, value double"
        ),
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
    got = _run_stream(
        spark,
        [_days([10, 12, 11, 30]) + _days([5, 5, 5, 5], series="b")],
        window=3, k=2.0,
    )
    rows = {(r["series"], r["ts"]): r for r in got.collect()}
    assert rows[("a", dt.datetime(2024, 1, 4))]["shewhart_alarm"] is True
    # constant series: band unestimable, never a fabricated alarm
    assert rows[("b", dt.datetime(2024, 1, 4))]["shewhart_alarm"] is None


def test_null_values_are_dropped_not_counted(spark):
    batches = [
        [("a", dt.datetime(2024, 1, 1), 10.0),
         ("a", dt.datetime(2024, 1, 2), None),
         ("a", dt.datetime(2024, 1, 3), 12.0)],
    ]
    got = _run_stream(spark, batches, window=3)
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
        got = _run_stream(
            spark, [[points[i] for i in order]], window=3, k=2.0, alpha=0.5
        ).collect()
    finally:
        spark.conf.set(conf, old)
    batch = metric_control_report(
        spark.createDataFrame(points, "s string, ts timestamp, value double"),
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

"""Streaming confusion/operating-point monitor."""

from vldt_spark.streaming import replay
from vldt_spark.streaming.clf_stream import stream_confusion_windows

_SCHEMA = "ts timestamp, score double, label boolean"


def _confusion(stream):
    return stream_confusion_windows(
        stream, "ts", "score", "label", threshold=0.5, window="1 day", watermark="1 hour"
    )


def test_stream_confusion_closed_form(spark):
    import datetime as dt

    d1 = dt.datetime(2024, 1, 1, 6)
    d2 = dt.datetime(2024, 1, 2, 6)
    sentinel = [(dt.datetime(2024, 3, 1), None, None)]  # advances watermark only
    rows = [
        (d1, 0.9, True), (d1, 0.7, False), (d1, 0.2, True),
        (d1, 0.1, False), (d2, 0.8, True), (d2, 0.3, False),
    ]
    frames = [spark.createDataFrame(b, _SCHEMA) for b in (rows, sentinel)]
    got = {r["window_start"]: r for r in replay(spark, frames, _confusion, mode="append").collect()}
    w1 = got[dt.datetime(2024, 1, 1)]
    assert (w1["tp"], w1["fp"], w1["fn"], w1["tn"]) == (1, 1, 1, 1)
    assert w1["precision"] == 0.5 and w1["recall"] == 0.5 and w1["f1"] == 0.5
    assert w1["accuracy"] == 0.5 and w1["n"] == 4
    w2 = got[dt.datetime(2024, 1, 2)]
    assert (w2["tp"], w2["fp"], w2["fn"], w2["tn"]) == (1, 0, 0, 1)
    assert w2["precision"] == 1.0 and w2["recall"] == 1.0 and w2["accuracy"] == 1.0


def test_stream_confusion_null_rows_excluded_and_zero_denominators(spark):
    import datetime as dt

    d1 = dt.datetime(2024, 1, 5, 12)
    rows = [
        (d1, 0.1, True), (d1, 0.2, True),     # nothing predicted positive
        (d1, None, True), (d1, 0.9, None),    # excluded, must not stall
    ]
    sentinel = [(dt.datetime(2024, 3, 1), None, None)]
    frames = [spark.createDataFrame(b, _SCHEMA) for b in (rows, sentinel)]
    got = {r["window_start"]: r for r in replay(spark, frames, _confusion, mode="append").collect()}
    w = got[dt.datetime(2024, 1, 5)]
    assert w["n"] == 2 and w["fn"] == 2
    assert w["precision"] is None and w["f1"] is None and w["recall"] == 0.0

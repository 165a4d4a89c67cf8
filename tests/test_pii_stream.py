"""Streaming PII-rate monitor."""

import datetime as dt

from vldt_spark.streaming import replay
from vldt_spark.streaming.pii_stream import stream_pii_windows

_SCHEMA = "ts timestamp, text string"
_SENTINEL = [(dt.datetime(2024, 3, 1), None)]  # advances the watermark only


def _pii(stream):
    return stream_pii_windows(stream, "ts", "text", window="1 day", watermark="1 hour")


def test_stream_pii_closed_form(spark):
    d1 = dt.datetime(2024, 1, 1, 6)
    d2 = dt.datetime(2024, 1, 2, 6)
    rows = [
        (d1, "mail a@b.co"), (d1, "ip 10.0.0.1 and mail x@y.io"),
        (d1, "clean"), (d1, "clean too"),
        (d2, "call 555-123-4567"),
    ]
    frames = [spark.createDataFrame(b, _SCHEMA) for b in (rows, _SENTINEL)]
    got = {r["window_start"]: r for r in replay(spark, frames, _pii, mode="append").collect()}
    w1 = got[dt.datetime(2024, 1, 1)]
    assert (w1["n_docs"], w1["n_email"], w1["n_ip"], w1["n_phone"]) == (4, 2, 1, 0)
    assert w1["n_any"] == 2 and w1["pii_frac"] == 0.5
    w2 = got[dt.datetime(2024, 1, 2)]
    assert (w2["n_docs"], w2["n_phone"], w2["pii_frac"]) == (1, 1, 1.0)


def test_stream_pii_null_text_advances_watermark_without_counting(spark):
    d1 = dt.datetime(2024, 1, 5, 12)
    rows = [(d1, "clean"), (d1, None)]  # NULL text: no cell, no stall
    frames = [spark.createDataFrame(b, _SCHEMA) for b in (rows, _SENTINEL)]
    got = {r["window_start"]: r for r in replay(spark, frames, _pii, mode="append").collect()}
    w = got[dt.datetime(2024, 1, 5)]
    assert w["n_docs"] == 1 and w["n_any"] == 0 and w["pii_frac"] == 0.0
    # the sentinel's own (still-open) window is not emitted in append
    # mode; the NULL-text row's only observable effect was advancing the
    # watermark so w could close — which the lookup above already proves
    assert dt.datetime(2024, 3, 1) not in got


def test_stream_pii_matches_batch_report(spark):
    """Per-window counts folded over all windows == the batch pii_report."""
    from vldt_spark.functions.text import pii_report

    rows = [
        (dt.datetime(2024, 1, 1 + (i % 3), 6),
         f"doc {i} " + ("mail a@b.co" if i % 4 == 0 else "clean"))
        for i in range(24)
    ]
    frames = [spark.createDataFrame(b, _SCHEMA) for b in (rows, _SENTINEL)]
    got = {r["window_start"]: r for r in replay(spark, frames, _pii, mode="append").collect()}
    streamed = {
        "n": sum(r["n_docs"] for r in got.values()),
        "email": sum(r["n_email"] for r in got.values()),
    }
    batch = pii_report(
        spark.createDataFrame(rows, "ts timestamp, text string")
    ).first()
    # the sentinel's NULL text is excluded from n_docs, so the folded
    # stream equals the batch report over the 24 real rows exactly
    assert streamed["n"] == batch["n_docs"] == 24
    assert streamed["email"] == batch["n_email"] == 6

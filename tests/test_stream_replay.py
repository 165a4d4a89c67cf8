"""The one stream replay function: each frame is one micro-batch, the query
and its files are gone afterwards, and no other code drains a stream."""

import ast
import datetime as dt
import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

from vldt_spark.streaming import replay

_REPO = pathlib.Path(__file__).resolve().parent.parent


def _stamped(stream):
    # a streaming query's current_timestamp() is its micro-batch's timestamp
    return stream.withColumn("batch_ts", F.current_timestamp())


def test_each_frame_is_one_micro_batch_in_order(spark):
    frames = [
        spark.createDataFrame([(i, j) for j in range(i + 1)], "frame int, j int")
        for i in range(4)
    ]
    out = replay(spark, frames, _stamped, mode="append").collect()
    batches = {}
    for r in out:
        batches.setdefault(r["batch_ts"], []).append(r["frame"])
    in_order = [batches[ts] for ts in sorted(batches)]
    assert in_order == [[i] * (i + 1) for i in range(4)]


def _replay_dirs(root):
    return [p for p in os.listdir(root) if p.startswith("vldt_stream_")]


def _active_ids(spark):
    return {q.id for q in spark.streams.active}


def test_successful_run_leaves_no_query_and_no_files(spark, tmp_path, monkeypatch):
    frames = [spark.createDataFrame([(1,), (2,)], "x int")]
    before = _active_ids(spark)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = replay(spark, frames, lambda s: s, mode="append")
    assert sorted(r["x"] for r in out.collect()) == [1, 2]
    assert _active_ids(spark) <= before
    assert _replay_dirs(tmp_path) == []


def test_failing_udf_reaches_the_caller_and_leaves_nothing(spark, tmp_path, monkeypatch):
    def boom(x):
        raise ValueError("replay-boom")

    fail = F.udf(boom, "int")
    frames = [spark.createDataFrame([(1,)], "x int")]
    before = _active_ids(spark)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(Exception, match="replay-boom"):
        replay(spark, frames, lambda s: s.select(fail("x").alias("y")), mode="append")
    assert _active_ids(spark) <= before
    assert _replay_dirs(tmp_path) == []


# -- NULL values in the sketch-fold streams ----------------------------------

_D1, _D2, _D3 = (dt.datetime(2024, 5, d, 6) for d in (1, 2, 3))


def _heavy_hitters(stream):
    from vldt_spark.streaming.cms_stream import stream_heavy_hitters

    return stream_heavy_hitters(stream, "v", "ts", k=3, width=256, depth=3)


def _quantiles(stream):
    from vldt_spark.streaming.tdigest_stream import stream_tdigest_quantiles

    return stream_tdigest_quantiles(stream, "v", "ts", probs=(0.25, 0.5, 0.75))


def _final_emissions(rows):
    """Each window's rows from the last micro-batch that emitted for it."""
    last = {}
    for r in rows:
        last[r["window_start"]] = max(last.get(r["window_start"], r["batch_ts"]), r["batch_ts"])
    return sorted(
        tuple(v for k, v in r.asDict().items() if k != "batch_ts")
        for r in rows
        if r["batch_ts"] == last[r["window_start"]]
    )


@pytest.mark.parametrize("monitor", [_heavy_hitters, _quantiles], ids=["cms", "tdigest"])
def test_sketch_streams_ignore_null_values(spark, monitor):
    """NULL values count nowhere: each window's final emission is the
    same with and without NULL-valued rows, including one that carries
    the latest event time, and day 2's state spans both micro-batches."""
    first = [(_D1, v) for v in (1.0, 1.0, 1.0, 2.0, 2.0, 3.0)] + [(_D2, 5.0), (_D2, 5.0), (_D2, 6.0)]
    second = [(_D2, 6.0), (_D2, 6.0), (_D2, 7.0)]
    nulls_first, nulls_second = [(_D1, None), (_D2, None)], [(_D3, None)]
    got = {}
    for name, frames in (
        ("with_nulls", [first + nulls_first, second + nulls_second]),
        ("without", [first, second]),
    ):
        dfs = [spark.createDataFrame(rows, "ts timestamp, v double") for rows in frames]
        got[name] = _final_emissions(
            replay(spark, dfs, lambda s: _stamped(monitor(s)), mode="update").collect()
        )
    assert {r[0] for r in got["without"]} == {dt.datetime(2024, 5, 1), dt.datetime(2024, 5, 2)}
    assert got["with_nulls"] == got["without"]


# -- one drain ---------------------------------------------------------------


def _drains(tree):
    """Lines that drain a stream or open a memory sink."""
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
            continue
        if n.func.attr == "processAllAvailable":
            yield n.lineno
        elif n.func.attr == "format" and any(
            isinstance(a, ast.Constant) and a.value == "memory" for a in n.args
        ):
            yield n.lineno


def test_only_replay_drains_streams():
    files = [_REPO / "__spark_entry__.py"]
    files += sorted((_REPO / "vldt_spark").rglob("*.py"))
    files += sorted((_REPO / "tests").rglob("*.py"))
    replay_py = _REPO / "vldt_spark" / "streaming" / "replay.py"
    offenders = [
        (str(p.relative_to(_REPO)), line)
        for p in files
        if p != replay_py
        for line in _drains(ast.parse(p.read_text()))
    ]
    assert offenders == []

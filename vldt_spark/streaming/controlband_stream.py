"""Streaming control-band monitor.

The continuous twin of `checks/controlband.metric_control_report`: a
live metric stream (per-window pass rates, PII fractions, ledger
metrics emitted by the other streaming monitors) is judged point by
point against its own trailing history, per series, across micro-batch
boundaries.  A batch recomputation sees a regression at the next audit;
this sees it at the trigger that delivers the offending point.

Semantics: a series' points in one micro-batch are gathered from every
Arrow chunk they arrive in and processed in event-time order; batches
are processed in arrival order.  This is identical to the batch report,
whatever the Arrow batch size, whenever no micro-batch carries a point
older than an earlier batch's — e.g. when the upstream is an
append-mode windowed aggregation (windows finalize in watermark order).
NULL metric values carry no signal: they emit no row and take no slot in
the trailing history.  The batch report differs on them: it emits a row
for a NULL point, and that row takes a slot in its trailing row frame
and a lag position of the EWMA, so the two agree only on series without
NULL values.

Scale shape: state per series is a fixed-length ring of the last ``w``
values — a few doubles per distinct series, hash-partitioned by the
series key (the exact shuffle a batch groupBy would use).  The handler
walks each series' points of a micro-batch in order, because every
point's band depends on the one before it.  State is bounded by
construction, so no TTL is needed.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from vldt_spark.rounding import round6


def _make_handler(window: int, k: float, alpha: float):
    weights = [alpha * (1.0 - alpha) ** j for j in range(window)]

    def handle(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            (hist_list,) = state.get
            hist = list(hist_list)
        else:
            hist = []
        rows = []
        # one sort over the group's whole micro-batch: the chunks Arrow
        # splits it into are not in event-time order relative to each other
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.dropna(subset=["__value"]).sort_values("__ts", kind="stable")
        for ts, x in zip(pdf["__ts"], pdf["__value"]):
            x = float(x)
            n_tr = len(hist)
            mean = std = z = ewma = None
            shew = ew_alarm = None
            if n_tr:
                arr = np.asarray(hist, dtype=np.float64)
                mean = float(arr.mean())
                std = float(arr.std(ddof=1)) if n_tr >= 2 else None
                # trailing EWMA: hist[-1] is the most recent point
                num = den = 0.0
                for j, w in enumerate(weights[:n_tr]):
                    num += w * hist[-1 - j]
                    den += w
                ewma = num / den
                ok = n_tr >= 3 and std is not None and std > 0
                if ok:
                    z = (x - mean) / std
                    shew = abs(x - mean) > k * std
                    ew_alarm = abs(x - ewma) > k * std
            rows.append(
                (
                    key[0], ts, x, n_tr,
                    None if mean is None else round6(mean),
                    None if std is None else round6(std),
                    None if z is None else round6(z),
                    shew,
                    None if ewma is None else round6(ewma),
                    ew_alarm,
                )
            )
            hist.append(x)
            if len(hist) > window:
                hist = hist[-window:]
        state.update((hist,))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "series", "ts", "value", "n_trailing", "trailing_mean",
                    "trailing_std", "z", "shewhart_alarm", "ewma_prev",
                    "ewma_alarm",
                ],
            )

    return handle


def stream_control_bands(
    stream_df: DataFrame,
    *,
    series_col: str,
    ts_col: str,
    value_col: str,
    window: int = 8,
    k: float = 3.0,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-point control-band rows over a streaming metric table, same
    columns as the batch `metric_control_report` (series key named
    ``series``).  Use append output mode."""
    from pyspark.sql import functions as F

    keyed = stream_df.select(
        F.col(series_col).cast("string").alias("__series"),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__value"),
    )
    out_schema = T.StructType(
        [
            T.StructField("series", T.StringType()),
            T.StructField("ts", stream_df.schema[ts_col].dataType),
            T.StructField("value", T.DoubleType()),
            T.StructField("n_trailing", T.IntegerType()),
            T.StructField("trailing_mean", T.DoubleType()),
            T.StructField("trailing_std", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
            T.StructField("shewhart_alarm", T.BooleanType()),
            T.StructField("ewma_prev", T.DoubleType()),
            T.StructField("ewma_alarm", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("hist", T.ArrayType(T.DoubleType()), False)]
    )
    return keyed.groupBy("__series").applyInPandasWithState(
        _make_handler(window, k, alpha),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

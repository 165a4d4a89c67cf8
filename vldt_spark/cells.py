"""Cells: one definition per monitor family, for its batch report, its
streaming twin and its Suite guard.

A cells spec is a validity condition plus ``{name: per-row value}``.  A
row where the condition does not hold carries no signal and counts in no
cell; each cell is the sum of its value over the valid rows, 0 when there
are none.  Two functions run a spec:

* ``grouped(df, by, cells)`` — one hash aggregate per ``by`` group (one
  row when ``by`` is empty).  Partial aggregation runs map-side, so the
  exchange carries |groups| rows and the table never shuffles.
* ``windowed(stream, ts, cells, ...)`` — the same sums per event-time
  window of a stream, behind a watermark.  The state is |open windows|
  rows of the cells; use append mode, where a window's row is final once
  the watermark passes its end.

The condition is applied by conditional aggregation, never as a row
filter.  On a stream, a filter on a payload column is pushed below the
EventTimeWatermark node and drops the very rows whose timestamps must
advance the watermark, so a window could stall open forever.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Cells:
    """``valid``: the rows that carry signal; ``cells``: name → per-row
    numeric value (a count cell is a 0/1 long)."""

    valid: Column
    cells: dict[str, Column]

    def aggs(self, *names: str) -> list[Column]:
        """The conditional sums of ``names`` (every cell by default),
        aliased by name."""
        zero = F.lit(0)
        return [
            F.coalesce(F.sum(F.when(self.valid, self.cells[k]).otherwise(zero)), zero).alias(k)
            for k in names or self.cells
        ]


def grouped(df: DataFrame, by: Iterable[str], cells: Cells) -> DataFrame:
    """(by..., cells...) with one row per ``by`` group."""
    return df.groupBy(*by).agg(*cells.aggs())


def windowed(
    stream: DataFrame,
    ts: str,
    cells: Cells,
    *,
    window: str,
    watermark: str,
    by: Iterable[str] = (),
) -> DataFrame:
    """(window struct<start, end>, by..., cells...) per event-time
    ``window`` of ``ts`` and ``by`` group, behind a ``watermark``."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("window"), *by)
        .agg(*cells.aggs())
    )


def share(num: Column, den: Column) -> Column:
    """``num / den`` rounded half-up to 6 decimals; NULL, never a fake 0,
    when ``den`` is 0."""
    return F.when(den > 0, F.round(num / den, 6))

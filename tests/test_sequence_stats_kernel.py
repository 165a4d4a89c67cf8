"""`sequence_stats`' flat batch kernel against the per-row loop it
replaced, kept here as the reference: identical rows at every Arrow batch
size and input order, on NULL and empty arrays, NULL elements (token -1,
including next to a literal -1), constant rows and int32/int64 extremes."""

import random

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vldt_spark.functions.tokens import _flat_sequence_stats, sequence_stats
from vldt_spark.rounding import round6

I32_MIN, I32_MAX = -(2**31), 2**31 - 1
SCHEMA = "doc_id string, tokens array<int>"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def loop_stats(tv: np.ndarray):
    """(n_distinct, max_run, Σ c·ln c, top count) of one non-empty row:
    the per-row loop body `sequence_stats` ran before the flat kernel."""
    n = tv.size
    sv = np.sort(tv)
    b = np.flatnonzero(sv[1:] != sv[:-1])
    nd = b.size + 1
    cuts = np.empty(nd + 1, dtype=np.int64)
    cuts[0] = 0
    cuts[1:-1] = b + 1
    cuts[-1] = n
    counts = np.diff(cuts)
    dup = counts[counts > 1]
    s = float((dup * np.log(dup)).sum()) if dup.size else 0.0
    c = np.flatnonzero(tv[1:] != tv[:-1])
    if c.size == 0:
        mr = n
    else:
        mr = max(
            int(c[0]) + 1,
            int(n - 1 - c[-1]),
            int(np.diff(c).max()) if c.size > 1 else 0,
        )
    return nd, mr, s, int(counts.max())


def reference_row(arr):
    """One `sequence_stats` output row (without the id) by the loop."""
    if not arr:
        return (0, 0, None, None, 0, None)
    tv = np.array([-1 if t is None else t for t in arr], dtype=np.int64)
    n = tv.size
    nd, mr, s, top = loop_stats(tv)
    return (
        n, nd, round6(nd / n), round6(float(np.log(n)) - s / n), mr,
        round6(top / n),
    )


def _stats(spark, rows, batch):
    old = spark.conf.get(BATCH_CONF)
    if batch is not None:
        spark.conf.set(BATCH_CONF, str(batch))
    try:
        df = spark.createDataFrame(rows, SCHEMA)
        return {r["doc_id"]: tuple(r)[1:] for r in sequence_stats(df).collect()}
    finally:
        spark.conf.set(BATCH_CONF, old)


token_strat = st.one_of(
    st.none(),
    st.just(-1),
    st.integers(0, 3),
    st.integers(0, 50),
    st.sampled_from([I32_MIN, I32_MAX]),
)
array_strat = st.one_of(
    st.none(),
    st.lists(token_strat, max_size=12),
    st.builds(lambda t, k: [t] * k, token_strat, st.integers(1, 5)),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(arrays=st.lists(array_strat, max_size=12), seed=st.integers(0, 2**16))
def test_flat_kernel_matches_loop_at_any_batch_size(spark, arrays, seed):
    rows = [(f"d{i}", a) for i, a in enumerate(arrays)]
    want = {doc: reference_row(a) for doc, a in rows}
    for batch in (1, 3, None):
        shuffled = list(rows)
        random.Random(seed + (batch or 0)).shuffle(shuffled)
        assert _stats(spark, shuffled, batch) == want, (batch, arrays)


EDGE_ROWS = [
    None, [], [None], [None, -1], [-1, None, -1, 5], [None, None, 3, 3],
    [7, 7, 7, 7], [I32_MIN], [I32_MIN, I32_MAX, I32_MAX, I32_MIN],
    [I32_MAX] * 3, [0, 1, 0, 1, 1, 1], [2, None, 2],
]


@pytest.mark.parametrize("batch", [1, 3, None])
def test_flat_kernel_edge_rows(spark, batch):
    rows = [(f"d{i}", a) for i, a in enumerate(EDGE_ROWS)]
    random.Random(batch or 0).shuffle(rows)
    got = _stats(spark, rows, batch)
    assert got == {doc: reference_row(a) for doc, a in rows}
    # a NULL element is token -1: it joins a neighbouring -1's run
    assert got["d3"] == (2, 1, 0.5, 0.0, 2, 1.0)


def _flat(arrays):
    lens = np.array([len(a) for a in arrays], dtype=np.int64)
    flat = np.array([t for a in arrays for t in a], dtype=np.int64)
    return flat, lens


@pytest.mark.parametrize(
    "arrays",
    [
        # row·span overflows int64: the lexsort path
        [[-(2**62), 2**62, 2**62], [], [5, 5, -(2**62)], [2**62 - 1]],
        [[-(2**63), 2**63 - 1, -(2**63)], [0, 0]],
        # the int64 key path, int32 extremes
        [[I32_MIN, I32_MAX, I32_MIN], [I32_MAX] * 4, [], [1]],
    ],
)
def test_flat_kernel_int64_extremes(arrays):
    nd, run, s, top = _flat_sequence_stats(*_flat(arrays))
    for i, a in enumerate(arrays):
        if not a:
            assert (nd[i], run[i], s[i], top[i]) == (0, 0, 0.0, 0)
            continue
        want = loop_stats(np.array(a, dtype=np.int64))
        assert (nd[i], run[i], top[i]) == (want[0], want[1], want[3])
        assert s[i] == pytest.approx(want[2], rel=1e-12)

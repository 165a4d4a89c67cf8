"""Custom stateful streaming operators (applyInPandasWithState).

The reference has no streaming surface; the north rule's uniqueness check
(B5) generalized to continuous ingestion needs *cross-micro-batch* state: a
``doc_id`` arriving in batch 40 must be flagged if it was first seen in
batch 3. Spark's stateless projection can't express that; the windowed
``dropDuplicates`` loses the violation row (it silently drops). This module
keeps a per-key seen-count in the state store and EMITS the duplicate as a
violation event — the streaming analogue of ``duplicate_keys``'s
(key, n_dups) output.

Scale design:
  * state is one small struct per distinct key, hash-partitioned by the
    group key across executors (the same shuffle key a batch groupBy(key)
    would use); RocksDB state store spills it off-heap on real clusters;
  * a processing-time TTL bounds state size for unbounded key domains —
    a key silent for longer than the TTL ages out (documented deviation:
    duplicates further apart than the TTL are missed; size the TTL to the
    ingestion window the contract requires);
  * the per-batch work is vectorized pandas (Arrow batches), no per-row
    Python (BASELINE.json input_hint).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_DUP_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("n_seen", T.LongType(), False),
        T.StructField("n_new", T.LongType(), False),
    ]
)

_DUP_STATE = T.StructType([T.StructField("count", T.LongType(), False)])


def _make_tracker(state_ttl_ms: int | None):
    """The per-key state handler, separable for unit testing (a real
    ProcessingTimeTimeout can't be driven deterministically through the
    synchronous processAllAvailable test path — its timeout-triggered
    batches never quiesce)."""

    def track(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n_new
        state.update((total,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if total > 1 and n_new > 0:
            yield pd.DataFrame(
                {"key": [key[0]], "n_seen": [total], "n_new": [n_new]}
            )

    return track


def streaming_duplicate_keys(
    stream_df: DataFrame,
    key_col: str,
    *,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Duplicate-key violation events over a stream.

    Emits (key, n_seen, n_new) whenever a key's cumulative count exceeds 1 —
    including duplicates split across micro-batches, which a per-batch
    groupBy cannot see. ``n_seen`` is the cumulative count, ``n_new`` the
    occurrences in this batch. Use outputMode("update") downstream.
    """
    track = _make_tracker(state_ttl_ms)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    keyed = stream_df.select(F.col(key_col).cast("string").alias("key")).where(
        F.col("key").isNotNull()
    )
    return keyed.groupBy("key").applyInPandasWithState(
        track,
        outputStructType=_DUP_OUTPUT,
        stateStructType=_DUP_STATE,
        outputMode="update",
        timeoutConf=timeout,
    )


def streaming_duplicate_sequences(
    stream_df: DataFrame,
    *,
    tokens_col: str = "tokens",
    hash_fn: str = "xxhash64",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Duplicate-SEQUENCE violation events over a pre-tokenized stream —
    ``streaming_duplicate_keys`` keyed on the exact token sequence
    instead of an id column, so a sequence re-crawled under a fresh
    doc_id in a later micro-batch is still flagged. Emits
    (key, n_seen, n_new) exactly as the id monitor does.

    ``hash_fn="xxhash64"`` (default) keys on the array-native 128-bit
    ``token_sequence_key`` — the state key is ~40 chars instead of the
    raw sequence, and no canonical string is ever rendered.
    ``hash_fn="md5"`` keys on the canonical-rendering fingerprint, the
    DuckDB-portable form the oracle gate replays. State size is one
    count per distinct sequence either way; the same TTL knob bounds it
    for unbounded corpora."""
    from vldt_spark.functions.dedup import token_sequence_key, tokens_canonical_text
    from vldt_spark.functions.text import fingerprint

    if hash_fn == "md5":
        key = fingerprint(tokens_canonical_text(F.col(tokens_col)))
    else:
        key = token_sequence_key(F.col(tokens_col))
    keyed = stream_df.withColumn("__seq_key", key)
    return streaming_duplicate_keys(
        keyed, "__seq_key", state_ttl_ms=state_ttl_ms
    )

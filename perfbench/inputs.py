"""Seeded, cached benchmark inputs and their DuckDB oracle.

The token table comes from ``sources.token_table.token_sequences`` and the
drift reference from ``token_sequences_shifted``; both are written once per
(seed, rows) as parquet under the cache directory and read back by every
run with that key.  The oracle is computed by DuckDB over the same parquet
files, independently of Spark, and cached next to them.

On a cache hit the generating jobs are replayed into Spark's no-op sink.
The first jobs a JVM runs pay for its class loading and JIT warm-up; with
the replay, those costs fall in generation, which no metric counts, on a
hit as on a miss, and the set-up that follows starts equally warm.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass


@dataclass
class Inputs:
    seed: int
    rows: int
    tokens: str  # parquet directory of the token table
    shifted: str | None  # parquet directory of the drift reference
    tokens_bytes: int  # on-disk size of the token table
    oracle: dict


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's hidden
    checksum and marker files (``.*``, ``_*``) are not counted."""
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    ]
    return sum(sizes), len(sizes)


def _oracle(tokens: str) -> dict:
    """Per-source row and invalid-row counts for the ``TokenSequence``
    constraints, in plain SQL.  ``n_invalid`` applies ``doc_id`` uniqueness
    over the whole table (``engine.run``); ``n_invalid_local`` applies it
    within each source, as the ledger does when it validates one source
    partition at a time."""
    import duckdb

    from vldt_spark.sources.token_table import SOURCES, VOCAB

    dim = ", ".join(f"('{s}')" for s in SOURCES)
    sql = f"""
    WITH t AS (SELECT * FROM read_parquet('{tokens}/*.parquet')),
    dim(source) AS (VALUES {dim}),
    dup AS (SELECT doc_id FROM t WHERE doc_id IS NOT NULL
            GROUP BY doc_id HAVING count(*) > 1),
    dup_local AS (SELECT source, doc_id FROM t WHERE doc_id IS NOT NULL
                  GROUP BY source, doc_id HAVING count(*) > 1),
    flagged AS (
      SELECT t.source,
        (t.doc_id IS NULL
         OR NOT regexp_matches(t.doc_id, '^doc-[0-9]{{12}}$')
         OR t.tokens IS NULL OR len(t.tokens) < 1
         OR list_any_value(list_filter(t.tokens, x -> x < 0 OR x > {VOCAB - 1}))
            IS NOT NULL
         OR t.n_tok IS NULL OR t.n_tok < 1 OR t.n_tok > 2048
         OR t.n_tok <> len(t.tokens)
         OR t.source IS NULL
         OR t.source NOT IN (SELECT source FROM dim)) AS bad_row,
        t.doc_id IN (SELECT doc_id FROM dup) AS bad_dup,
        (t.source, t.doc_id) IN (SELECT (source, doc_id) FROM dup_local)
          AS bad_dup_local
      FROM t)
    SELECT source, count(*),
      count(*) FILTER (WHERE bad_row OR coalesce(bad_dup, false)),
      count(*) FILTER (WHERE bad_row OR coalesce(bad_dup_local, false))
    FROM flagged GROUP BY source ORDER BY source
    """
    con = duckdb.connect()
    try:
        per_source = {
            s: {"n_rows": n, "n_invalid": bad, "n_invalid_local": bad_local}
            for s, n, bad, bad_local in con.execute(sql).fetchall()
        }
        (n_dup_keys,) = con.execute(
            f"SELECT count(*) FROM (SELECT doc_id FROM read_parquet('{tokens}/*.parquet')"
            " WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1)"
        ).fetchone()
    finally:
        con.close()
    bad_fk = sorted(s for s in per_source if s is not None and s not in SOURCES)
    return {"per_source": per_source, "n_dup_keys": n_dup_keys, "bad_fk": bad_fk}


def _save(df, path: str) -> None:
    """Write ``df`` as parquet to ``path``, or replay it into the no-op sink
    if ``path`` is already there."""
    if os.path.exists(path):
        df.write.format("noop").mode("overwrite").save()
    else:
        df.write.parquet(path)


def ensure(
    spark, cache_root: str, seed: int, rows: int, *, shifted: bool
) -> tuple[Inputs, float]:
    """Inputs for (seed, rows), generating what the cache lacks and
    replaying what it has; the drift reference only when ``shifted`` asks
    for it.  Returns the inputs and the seconds spent."""
    from vldt_spark.sources.token_table import token_sequences, token_sequences_shifted

    key = os.path.join(cache_root, f"seed{seed}-rows{rows}")
    t0 = time.perf_counter()
    nparts = spark.sparkContext.defaultParallelism
    table = token_sequences(spark, rows, seed=seed, partitions=nparts)
    if os.path.exists(os.path.join(key, "oracle.json")):
        _save(table, os.path.join(key, "tokens"))
    else:
        tmp = f"{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _save(table, os.path.join(tmp, "tokens"))
        oracle = _oracle(os.path.join(tmp, "tokens"))
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(oracle, f)
        shutil.rmtree(key, ignore_errors=True)
        os.replace(tmp, key)
    shifted_dir = os.path.join(key, "shifted")
    if shifted:
        if not os.path.exists(os.path.join(shifted_dir, "_SUCCESS")):
            shutil.rmtree(shifted_dir, ignore_errors=True)
        _save(token_sequences_shifted(spark, rows, seed=seed + 1), shifted_dir)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(key, "oracle.json")) as f:
        oracle = json.load(f)
    tokens = os.path.join(key, "tokens")
    return (
        Inputs(
            seed=seed,
            rows=rows,
            tokens=tokens,
            shifted=shifted_dir if shifted else None,
            tokens_bytes=dir_usage(tokens)[0],
            oracle=oracle,
        ),
        gen_s,
    )

"""B14 — skew mitigation: AQE configuration, min-parallelism and a
key-skew diagnostic.

The token table's ``source`` column is zipfian ("web" ≈ 70%,
FIXTURES.md F1): any join on it puts 70% of rows on one reducer.  A
count/sum/min/max groupBy on it does not: the partial ``HashAggregate``
combines each key map-side, so a hot key reaches its reducer as one row
per map partition.

  * AQE: ``spark.sql.adaptive.skewJoin`` splits oversized join partitions
    at runtime — ``aqe_skew_conf`` returns the config dict to apply.
  * ``ensure_min_parallelism`` spreads a too-narrow scan over the cores.
  * ``key_skew_report`` measures a key's skew before shuffling on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Rebalance *before* CPU-bound per-row work when the scan has fewer
    splits than cores.

    Single-row-group parquet files (tiny dims, test fixtures) scan as ONE
    task, serializing everything downstream of them onto one core. A 100 TB
    table has ~10^5 row groups, so at cluster scale the partition-count
    guard makes this a no-op — no shuffle is ever added on a big input. In
    the sandbox it spreads a 1-split scan across all threads for the cost
    of shuffling a few MB (round-robin: no key, no skew)."""
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)


def aqe_skew_conf() -> dict[str, str]:
    """Config for runtime skew handling — apply at session build for every
    north-rule job (referenced by jobs/submit_validation.py)."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64MB",
    }


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """Quantified skew diagnostic for a prospective join key — the
    measurement that decides whether AQE skew-join will fire, or a
    non-combinable per-key operation needs splitting, instead of guessing.

    One row: (key_col, n_rows, n_keys, hot_key, hot_n, hot_share,
    skew_factor, recommended_buckets) where skew_factor = hot_n /
    (n_rows / n_keys) — how many × the average reducer load the hottest
    key carries — and recommended_buckets = ceil(skew_factor), the number
    of pieces the hot key's rows would need to be split into to level its
    reducer back to average.  The library applies no salt of its own.  hot_key tie-break:
    largest count, then lexicographically greatest key (deterministic).

    Scale shape: one hash aggregate per key (map-side partials), then a
    second aggregate over |keys| rows — the per-key relation never holds
    more than |distinct keys| rows, so this costs the same as any count-by
    and is safe to run on every candidate key of a 10^12-row table.  NULL
    keys are excluded (they hash to one reducer too, but every groupBy
    treats them as one ordinary group)."""
    per = (
        df.where(F.col(key).isNotNull())
        .groupBy(F.col(key).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rep = per.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("hot_n"),
        F.max_by(F.col("k"), F.struct(F.col("n"), F.col("k"))).alias("hot_key"),
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    factor = F.col("hot_n").cast("double") / avg
    return rep.select(
        F.lit(key).alias("key_col"),
        "n_rows",
        "n_keys",
        "hot_key",
        "hot_n",
        F.round(F.col("hot_n").cast("double") / F.col("n_rows").cast("double"), 6).alias(
            "hot_share"
        ),
        F.round(factor, 6).alias("skew_factor"),
        F.ceil(factor).cast("long").alias("recommended_buckets"),
    )

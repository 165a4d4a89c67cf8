"""B13 — per-partition checkpoint/resume ledger.

The north rule requires interrupted validations to resume idempotently with
per-partition lineage + metrics tables. Without Iceberg jars in-sandbox,
the ledger is a directory-per-partition parquet layout with the same
write-audit-publish shape an Iceberg/Delta writer would use:

    <root>/metrics/part=<value>/   one-row verdict parquet (B11 shape)
    <root>/violations/part=<value>/  exploded violation rows (B12 shape)
    <root>/_ledger/part=<value>.json  commit marker, written LAST

``<value>`` is the partition value cast to a string.  A partition is
"done" iff its commit marker exists.  ``run`` validates every partition
not done in ONE pass: one ``engine.run`` with uniqueness scoped to the
partition (``unique_within``), one collect of the verdicts, and one
``partitionBy`` write per table with dynamic partition overwrite, so only
this run's partitions are replaced; the markers land after both writes.
The commit unit is therefore one run: a job killed before its markers
land re-runs every partition it had not committed (idempotently, by the
overwrites), and partitions committed earlier are skipped.  On a real
cluster the same interface maps to Iceberg's ``overwritePartitions()``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vldt_spark.engine import ValidationEngine, ValidationResult
from vldt_spark.model import Model


class ValidationLedger:
    def __init__(self, root: str, partition_col: str):
        self.root = root
        self.partition_col = partition_col
        os.makedirs(os.path.join(root, "_ledger"), exist_ok=True)

    # -- state ---------------------------------------------------------------

    def _marker(self, value: str) -> str:
        return os.path.join(self.root, "_ledger", f"part={value}.json")

    def completed_partitions(self) -> set[str]:
        d = os.path.join(self.root, "_ledger")
        return {
            f[len("part=") : -len(".json")]
            for f in os.listdir(d)
            if f.startswith("part=") and f.endswith(".json")
        }

    # -- run -----------------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        model: type[Model],
        *,
        id_cols: list[str],
        dims: dict[str, DataFrame] | None = None,
    ) -> dict[str, dict]:
        """Validate every partition that has no commit marker, in one pass.

        Rows with a NULL partition value are never validated.  Uniqueness
        is checked within each partition (``unique_within``), so the one
        run flags what a run per partition would.  The verdicts are
        collected once: they are the metrics rows and the marker contents.
        Returns {partition: metrics} for the partitions run in this call.
        A caller that wants fewer partitions filters ``df``."""
        t0 = time.perf_counter()
        pcol = self.partition_col
        part = F.col(pcol).cast("string")
        done = self.completed_partitions()
        todo = df.where(F.col(pcol).isNotNull() & ~part.isin(*done))  # idempotent skip
        res = ValidationEngine(model).run(
            todo, id_cols=id_cols, dims=dims, unique_within=[pcol]
        )
        verdicts = res.verdicts([pcol]).withColumn("part", part)
        rows = verdicts.collect()
        if not rows:
            return {}
        spark = df.sparkSession
        vio = ValidationResult(
            res.annotated.withColumn("part", part), [*res.id_cols, "part"]
        ).violations()
        for frame, table in [(verdicts, "metrics"), (vio, "violations")]:
            frame.write.option("partitionOverwriteMode", "dynamic").mode(
                "overwrite"
            ).partitionBy("part").parquet(os.path.join(self.root, table))
        # that write replaces only the partitions it has rows for: a
        # partition without violations gets an empty file, which also drops
        # the rows an interrupted earlier run left there
        catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog  # noqa: SLF001
        for r in rows:
            if r["n_violations"] == 0:
                name = catalog.ExternalCatalogUtils.getPartitionValueString(r["part"])
                vio.drop("part").limit(0).write.mode("overwrite").parquet(
                    os.path.join(self.root, "violations", f"part={name}")
                )
        stamp = {
            "wall_sec": round(time.perf_counter() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        counts = ("n_rows", "n_invalid", "n_violations", "passed")
        out = {
            r["part"]: {"partition": r["part"], **{k: r[k] for k in counts}, **stamp}
            for r in rows
        }
        # markers LAST: a crash before this point re-runs every partition
        # of this call; the dynamic overwrites make that re-run idempotent
        for value, metrics in out.items():
            self._commit(value, metrics)
        return out

    def _commit(self, value: str, metrics: dict) -> None:
        """Write one commit marker: temp file + atomic rename, so a crash
        mid-write never leaves a half-written marker that reads as done."""
        tmp = self._marker(value) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, self._marker(value))

    # -- read back -------------------------------------------------------------

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "metrics", "part=*"))

    def violations(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "violations", "part=*"))

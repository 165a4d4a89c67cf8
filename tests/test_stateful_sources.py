"""Stateful streaming duplicate monitor + CSV validated reader tests."""

from pyspark.sql import functions as F

from vldt_spark.flagship import TokenSequence
from vldt_spark.streaming import replay, streaming_duplicate_keys


def _duplicates(spark, batches):
    """The duplicate events of ``batches``, one micro-batch each."""
    frames = [spark.createDataFrame(rows, "doc_id string, source string") for rows in batches]
    return replay(
        spark, frames, lambda s: streaming_duplicate_keys(s, "doc_id"), mode="update"
    )


def test_streaming_duplicate_keys_cross_batch(spark):
    """Duplicates split ACROSS micro-batches are caught — the case a
    per-batch groupBy cannot see. File 1 and file 2 each contain `dup-1`
    once; with maxFilesPerTrigger=1 they arrive in different batches."""
    rows1 = [("dup-1", "web"), ("a", "web"), ("b", "wiki"), ("both-2", "web")]
    rows2 = [("dup-1", "wiki"), ("c", "web"), ("both-2", "web"), ("both-2", "web")]
    out = _duplicates(spark, [rows1, rows2])
    got = {r["key"]: r["n_seen"] for r in out.collect()}
    # dup-1: second occurrence lands in a later batch → n_seen reaches 2
    assert got.get("dup-1") == 2
    # both-2: 1 in batch A + 2 in batch B → cumulative 3
    assert got.get("both-2") == 3
    # unique keys never emit
    assert "a" not in got and "b" not in got and "c" not in got


def test_streaming_duplicate_single_batch(spark):
    """Within-batch duplicates also emit (n_new counts the batch's rows)."""
    out = _duplicates(spark, [[("x", "web"), ("x", "web"), ("y", "web")]])
    got = {r["key"]: (r["n_seen"], r["n_new"]) for r in out.collect()}
    assert got == {"x": (2, 2)}


def test_read_csv_validated_corrupt_rows(spark, tmp_path):
    """Malformed CSV rows become _corrupt_record + validation violations —
    never a raised parse error (same contract as the JSON reader)."""
    from vldt_spark.engine import ValidationEngine
    from vldt_spark.sources.readers import read_csv_validated

    p = str(tmp_path / "rows.csv")
    with open(p, "w") as f:
        # CSV maps by position: exactly the model's scalar fields, in order
        f.write("doc_id,n_tok,source\n")
        f.write("doc-000000000001,5,web\n")
        f.write("doc-000000000002,7,wiki\n")

    from vldt_spark.fields import Field
    from vldt_spark.model import Model

    class CsvSeq(Model):
        doc_id: str = Field(not_null=True, regex=r"^doc-\d{12}$")
        n_tok: int = Field(ge=1, le=2048)
        source: str = Field(not_null=True)

    df = read_csv_validated(spark, p, CsvSeq)
    assert "_corrupt_record" in df.columns
    ann = ValidationEngine(CsvSeq).annotate(df, keep_extra=True)
    assert ann.where(F.col("is_valid")).count() == 2

    # now a malformed numeric field
    p2 = str(tmp_path / "bad.csv")
    with open(p2, "w") as f:
        f.write("doc_id,n_tok,source\n")
        f.write("doc-000000000001,notanint,web\n")
        f.write("doc-000000000002,9,wiki\n")
    # Spark disallows queries touching ONLY the corrupt column on a raw
    # CSV scan — cache first (the documented workaround)
    df2 = read_csv_validated(spark, p2, CsvSeq).cache()
    bad = df2.where(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1
    df2.unpersist()


class _FakeState:
    """Minimal GroupState stand-in: lets the TTL/dup handler logic be unit
    tested without driving ProcessingTimeTimeout through a real stream
    (whose timeout-triggered batches never quiesce under the synchronous
    processAllAvailable test driver)."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_duplicate_tracker_handler_ttl_semantics():
    """Handler-level TTL semantics: timeout -> state dropped, nothing
    emitted; fresh key after expiry restarts the count at 1 (no dup)."""
    import pandas as pd

    from vldt_spark.streaming.stateful import _make_tracker

    track = _make_tracker(state_ttl_ms=500)

    # timeout invocation: drop state, emit nothing
    st = _FakeState(value=(3,), timed_out=True)
    assert list(track(("k1",), iter([]), st)) == []
    assert st.removed and not st.exists

    # key re-arrives after expiry: count restarts, no dup event, TTL re-armed
    st2 = _FakeState()
    out = list(track(("k1",), iter([pd.DataFrame({"key": ["k1"]})]), st2))
    assert out == [] and st2.get == (1,) and st2.timeout_set == 500

    # second arrival within TTL -> dup event with cumulative count
    out2 = list(track(("k1",), iter([pd.DataFrame({"key": ["k1"]})]), st2))
    assert len(out2) == 1 and out2[0]["n_seen"].iloc[0] == 2 and st2.get == (2,)


def test_catalog_conf_and_resolve_table(spark, tmp_path):
    """Iceberg config dict carries the standard public keys; availability
    probe is honestly False in this jar-less sandbox; resolve_table reads
    paths as parquet and names through the catalog (temp view here,
    Iceberg identifier on a cluster with the runtime)."""
    from vldt_spark.sources.catalog import (
        iceberg_available,
        iceberg_conf,
        resolve_table,
    )

    conf = iceberg_conf("lake", "/wh", catalog_impl="hadoop")
    assert conf["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.lake.type"] == "hadoop"
    assert conf["spark.sql.catalog.lake.warehouse"] == "/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]
    assert "spark.sql.catalog.hive_cat.warehouse" not in iceberg_conf(
        "hive_cat", catalog_impl="hive"
    )

    assert iceberg_available(spark) is False  # no jars baked in here

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    assert resolve_table(spark, p).count() == 5          # path → parquet
    df.createOrReplaceTempView("catalog_resolve_probe")
    out = resolve_table(spark, "catalog_resolve_probe")  # name → read.table
    assert out.count() == 5 and out.columns == ["doc_id"]


def test_read_orc_validated_schema_drift(spark, tmp_path):
    """ORC reads align to the model: missing columns arrive as typed
    NULLs (not AnalysisException), lossless type drift is cast, extra
    columns are pruned, matching is case-insensitive."""
    from vldt_spark.engine import ValidationEngine
    from vldt_spark.fields import Field
    from vldt_spark.model import Model
    from vldt_spark.sources.readers import read_orc_validated

    class OrcSeq(Model):
        doc_id: str = Field(not_null=True)
        n_tok: int = Field(ge=1)
        source: str = Field(not_null=True)

    p = str(tmp_path / "drifted.orc")
    # file schema: DOC_ID (case drift), n_tok int32 (type drift),
    # extra_col (pruned), and NO source column (missing)
    spark.createDataFrame(
        [("d1", 5, "x"), ("d2", 7, "y")],
        "DOC_ID string, n_tok int, extra_col string",
    ).write.mode("overwrite").orc(p)

    df = read_orc_validated(spark, p, OrcSeq)
    assert df.columns == ["doc_id", "n_tok", "source"]
    assert dict(df.dtypes)["n_tok"] == "bigint"
    rows = df.orderBy("doc_id").collect()
    assert [r["doc_id"] for r in rows] == ["d1", "d2"]
    assert all(r["source"] is None for r in rows)

    # the missing column becomes not-null violations with lineage
    ann = ValidationEngine(OrcSeq).annotate(df)
    assert ann.where(F.col("is_valid")).count() == 0
    viol = ann.select(F.explode("violations").alias("v")).select(
        "v.path"
    ).collect()
    assert {r["path"] for r in viol} == {"source"}

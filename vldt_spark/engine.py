"""The fused validation pass + whole-table check orchestration.

One ``Model(**row)`` call in the reference (tp_init,
/root/reference/src/data_model.cpp:141-248) becomes one row of a single
``df.select`` projection here: alias resolution → defaults → BEFORE UDFs →
coercion casts → AFTER UDFs → declarative constraints → cross-field checks,
all violations concatenated into one ``violations`` array column, evaluated
in one scan. That projection runs interpreted, outside whole-stage codegen:
the violation-lineage lambdas (``transform``/``filter`` under ``CASE WHEN``)
are ``CodegenFallback`` expressions, which keep the whole ``Project`` out of
the codegen stages around it; the verdict guards that every row evaluates
are lambda-free array kernels, so only violating rows reach a lambda.
"Raise TypeError" ≙ ``is_valid=false`` + violation rows; "return instance"
≙ the coerced canonical columns.

Whole-table checks that cannot be row-local expressions — uniqueness (B5)
and referential integrity (B6) — run as separate small aggregates whose
(tiny) outputs are **broadcast-joined back** onto the main scan, so the big
table is never shuffled:

  * uniqueness: one hash aggregate — map-side partial count per key, one
    exchange on the key, final count, filter >1. The dup-key set is
    rare/small → broadcast.
  * RI: distinct values of the FK column (dim-like cardinality) LEFT ANTI
    JOIN the dim → invalid-value set → broadcast back.

At 100 TB the only shuffle in the whole validation job is therefore the
low-cardinality aggregate of FK/dup candidates, never the fact table.

``ValidationEngine.run`` is eager: it computes each of those side tables
once, collects it (Arrow) and re-creates it as a driver-held local
relation before any join.  The result's plan is the fused scan plus
broadcast joins of local relations, so every later action (``valid``,
``violations`` ...) is one scan of the input and never repeats the
aggregates; a side table that comes back empty (a clean table) is
optimized out of the plan.  The counts are eager as well: the first
``verdicts(pc)`` is one scan whose single ``GROUPING SETS ((pc), (path,
msg))`` aggregate gives the row, invalid and violation counts per
partition and the violation count per constraint; the result holds that
small table, so ``summary()`` and a repeated ``verdicts(pc)`` scan
nothing, and only a new run sees new data.  No ``cache()`` (plan-keyed
entries that are never collected and can go stale) and no
``localCheckpoint()`` (executor blocks, lost with the executor).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

import pyarrow as pa
import pyarrow.compute as pac
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vldt_spark.coercion import build_value, constraint_violations, default_column
from vldt_spark.errors import (
    VIOLATION_STRUCT,
    VIOLATIONS_TYPE,
    merge_violations,
    missing_required_msg,
    session_columns,
    violation_if,
)
from vldt_spark.frames import local_frame
from vldt_spark.model import CompiledSchema, Model
from vldt_spark.typeschema import ContainerKind, py_name_of_spark
from vldt_spark.validators import Cols


@dataclass
class ValidationResult:
    """Outcome of a full validation run.

    ``ValidationEngine.run`` builds it eagerly: ``annotated`` is the fused
    scan of the input plus broadcast joins of side tables already held on
    the driver, so every action below is one scan of the input.

    The counts are eager too, and held: the first ``verdicts(pc)`` runs
    one aggregate that yields both its per-partition counts and the
    per-constraint counts, and keeps the small result here.  Later
    ``verdicts(pc)`` calls and ``summary()`` are driver-held local
    relations built from it, with no scan.  So they answer for the data
    as the first count read it: to see new data, run the engine again."""

    annotated: DataFrame  # coerced canonical columns + violations + is_valid
    id_cols: list[str]
    #: partition columns → counts table (``_counts_for``)
    _counts: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    @property
    def valid(self) -> DataFrame:
        return self.annotated.filter(F.col("is_valid")).drop("violations", "is_valid")

    @property
    def invalid(self) -> DataFrame:
        return self.annotated.filter(~F.col("is_valid"))

    def violations(self) -> DataFrame:
        """Exploded violation-rows table: (id cols, path, msg) — B12."""
        v = F.explode(F.col("violations")).alias("v")
        return self.annotated.select(*self.id_cols, v).select(
            *self.id_cols, F.col("v.path").alias("path"), F.col("v.msg").alias("msg")
        )

    def errors_json(self) -> DataFrame:
        """(id cols..., error: string) for invalid rows — the exact
        reference ``TypeError`` payload (error_handling.hpp:109-118):
        a JSON object ``{path: msg}`` where repeated paths promote to
        ``[msgs]`` arrays, 2-space pretty-printed; ``json.loads(str(err))``
        compatible (reference tests/conftest.py:4-13). Built in a pandas
        stage over invalid rows only (violations are rare by design)."""
        import json as _json

        ids = self.id_cols
        inv = self.invalid.select(*ids, "violations")
        id_fields = [inv.schema[c] for c in ids]
        out_schema = T.StructType(id_fields + [T.StructField("error", T.StringType(), True)])

        def run(batches):
            import pandas as pd

            for pdf in batches:
                errs = []
                for v in pdf["violations"]:
                    d: dict = {}
                    for item in v:
                        p, m = item["path"], item["msg"]
                        if p in d:
                            if isinstance(d[p], list):
                                d[p].append(m)
                            else:
                                d[p] = [d[p], m]
                        else:
                            d[p] = m
                    errs.append(_json.dumps(d, indent=2))
                out = pdf[list(ids)].copy()
                out["error"] = errs
                yield out

        return inv.mapInPandas(run, schema=out_schema)

    def verdicts(self, partition_cols: Iterable[str]) -> DataFrame:
        """Per-partition pass/fail verdicts — B11: (partition cols...,
        n_rows, n_invalid, n_violations, passed), sorted by the partition
        columns, NULLs first.  With no partition columns it is one row,
        ``(0, NULL, NULL, NULL)`` on empty input."""
        pc = list(partition_cols)
        t = self._counts_for(pc)
        t = t.filter(pac.equal(t["__set"], 1)).select([*pc, "n_rows", "n_invalid", "n_violations"])
        schema = T.StructType([self.annotated.schema[c] for c in pc] + _COUNT_FIELDS)
        if not pc and t.num_rows == 0:
            return local_frame(self.annotated.sparkSession, [(0, None, None, None)], schema)
        t = t.append_column("passed", pac.equal(t["n_invalid"], 0))
        if pc:
            t = _sorted(t, [(c, "ascending") for c in pc])
        return self.annotated.sparkSession.createDataFrame(t, schema=schema)

    def profile(self, columns: Iterable[str] | None = None) -> DataFrame:
        """Column profile (B2/B3) of the VALID rows — the natural follow-up
        to a validation pass: stats over what actually passed."""
        from vldt_spark.checks.column_stats import column_profile

        return column_profile(self.valid, list(columns) if columns else None)

    def violations_sample(self, k: int = 5) -> DataFrame:
        """Up to ``k`` deterministic exemplar rows PER (path, msg) —
        the triage surface for 10^12-row runs, where `violations()`
        itself can be billions of rows but a reviewer needs a handful
        of concrete ids per failing constraint.

        Exemplars are the k id-smallest violating rows of each
        constraint, so reruns and the SQL oracle reproduce the same
        sample bit-for-bit.  The ``row_number() <= k`` filter compiles
        to Spark's partial+final WindowGroupLimit (same plan shape as
        `exact_duplicates`' buffer bound): each partition keeps at most
        k rows per group BEFORE the exchange, so the shuffle carries
        ≤ k·|constraints| rows per partition — never the full
        violation stream."""
        from pyspark.sql import Window

        w = Window.partitionBy("path", "msg").orderBy(
            *[F.col(c) for c in self.id_cols]
        )
        return (
            self.violations()
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
        )

    def summary(self) -> DataFrame:
        """Per-constraint-path violation counts (path, msg, n), most
        frequent first; ties break on ``path`` then ``msg``, NULLs first,
        so the row order never depends on the physical execution.  The
        totals do not depend on the partitioning, so any counts table
        ``verdicts`` already holds answers it without a scan."""
        t = next(iter(self._counts.values())) if self._counts else self._counts_for([])
        t = t.filter(pac.and_(pac.equal(t["__set"], 0), pac.greater(t["n_violations"], 0)))
        t = t.select(["__path", "__msg", "n_violations"]).rename_columns(["path", "msg", "n"])
        t = _sorted(t, [("n", "descending"), ("path", "ascending"), ("msg", "ascending")])
        return self.annotated.sparkSession.createDataFrame(t, schema=_SUMMARY_SCHEMA)

    def _counts_for(self, pc: list[str]) -> pa.Table:
        """The counts table for partitioning ``pc``: collected by the first
        call, then held."""
        key = tuple(pc)
        if key not in self._counts:
            self._counts[key] = self._count_frame(pc).toArrow()
        return self._counts[key]

    def _count_frame(self, pc: list[str]) -> DataFrame:
        """One aggregate over the exploded violations, ``GROUPING SETS
        ((pc), (path, msg))``: one row per partition (``__set`` = 1) and one
        per (path, msg) (``__set`` = 0).  An input row explodes to one row
        per violation at ``pos`` 0, 1, ... or, with none, to one row with a
        NULL ``pos``; so it counts once in ``n_rows``, once in
        ``n_invalid`` if it has a violation, and once per violation in
        ``n_violations``.  |pc groups| + |constraints| rows reach the
        driver, never one per input row."""
        keys, explode, fields, path_msg, aggs = session_columns(
            self.annotated.sparkSession, ("counts", *pc), lambda: _count_columns(pc)
        )
        return (
            self.annotated.select(*keys, explode)
            .select(*fields)
            .groupingSets([keys, path_msg], *keys, *path_msg)
            .agg(*aggs)
        )


def _count_columns(pc: list[str]) -> tuple:
    """``_count_frame``'s Columns for partitioning ``pc``: the partition
    keys, the explode, the fields it selects, (path, msg) and the
    aggregates."""
    keys = [F.col(c) for c in pc]
    pos = F.col("__pos")
    fields = [*keys, pos, F.col("__v.path").alias("__path"), F.col("__v.msg").alias("__msg")]
    aggs = [
        F.grouping("__path").alias("__set"),
        F.count_if((pos == 0) | pos.isNull()).alias("n_rows"),
        F.count_if(pos == 0).alias("n_invalid"),
        F.count(pos).alias("n_violations"),
    ]
    explode = F.posexplode_outer("violations").alias("__pos", "__v")
    return keys, explode, fields, [F.col("__path"), F.col("__msg")], aggs


#: the verdict counters' types as ``groupBy().agg(count, sum, sum)`` and
#: ``n_invalid == 0`` type them
_COUNT_FIELDS = [
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_invalid", T.LongType(), True),
    T.StructField("n_violations", T.LongType(), True),
    T.StructField("passed", T.BooleanType(), True),
]
_SUMMARY_SCHEMA = T.StructType([*VIOLATION_STRUCT.fields, T.StructField("n", T.LongType(), False)])


def _sorted(t: pa.Table, keys: list[tuple[str, str]]) -> pa.Table:
    """``t`` in Spark's ``orderBy`` order for these keys: NULLs first on
    ascending keys, the default; the descending ones here are never NULL.
    Arrow cannot sort list keys (an array partition column): those rows
    keep the aggregate's order."""
    try:
        return t.take(pac.sort_indices(t, sort_keys=keys, null_placement="at_start"))
    except (pa.ArrowTypeError, pa.ArrowNotImplementedError):
        return t


class ValidationEngine:
    """Compile a Model once (driver-side), validate any number of DataFrames."""

    def __init__(self, model: type[Model]):
        self.model = model
        self.compiled: CompiledSchema = model.__vldt_compile__()
        # fused-projection expression cache keyed by (session → input
        # schema): Columns are immutable expression trees, so re-validating
        # same-shaped batches reuses them — the expression-level analogue of
        # the reference's compile-once SchemaCache (schema.cpp:657-680).
        # Building a wide model's checks costs seconds of driver-side py4j
        # round-trips; the second batch costs zero. The outer key is a WEAK
        # session reference: cached Columns hold py4j refs into the gateway
        # that built them, and id()-keying could both serve a stale Column
        # after CPython reuses a dead session's id and grow unboundedly
        # across session restarts.
        import weakref

        self._proj_cache: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    # -- row-local fused pass -------------------------------------------------

    def annotate(self, df: DataFrame, *, keep_extra: bool = False) -> DataFrame:
        """Single projection producing coerced canonical columns +
        ``violations: array<struct<path,msg>>`` + ``is_valid``."""
        df = self._apply_model_validators(df, "model_before")
        df = self._apply_field_udfs(df, "field_before")

        per_session = self._proj_cache.get(df.sparkSession)
        if per_session is None:
            per_session = {}
            self._proj_cache[df.sparkSession] = per_session
        key = (df.schema.json(), keep_extra)
        if key not in per_session:
            per_session[key] = self._build_projection(df, keep_extra)
        select_cols, violations_col = per_session[key]

        out = df.select(*select_cols).withColumn("violations", violations_col).drop(
            "__v0"
        )
        out = self._apply_field_udfs(out, "field_after")
        out = self._revalidate_after(out)
        out = out.withColumn("is_valid", F.size("violations") == 0)
        out = self._apply_model_validators(out, "model_after")
        return out

    def _revalidate_after(self, df: DataFrame) -> DataFrame:
        """A18 parity: an AFTER validator's output re-enters validation.

        The reference re-setattrs the transformed value, which re-runs the
        field's type + constraint checks
        (/root/reference/src/validation/validation_validators.cpp:172-218)
        — a validator returning an out-of-range value must flag the row,
        not launder it past the constraints that ran on the pre-UDF value.
        Type conformance is already enforced by the pandas UDF's Arrow
        return type; this re-applies the field's ``field_constraints``,
        the required-null check among them, to every UDF-updated column and
        merges the new violations (one extra projection, no new scan).
        ``array_distinct`` collapses the duplicate a value failing the SAME
        constraint before and after the transform would otherwise produce —
        the reference raises once per constraint, never twice."""
        after_fields = {
            fn.__vldt_field__ for fn in self.compiled.validators["field_after"]
        }
        if not after_fields:
            return df
        reval: list[Column] = []
        for spec in self.compiled.fields:
            if spec.name not in after_fields or spec.name not in df.columns:
                continue
            col = F.col(spec.name)
            reval.extend(
                constraint_violations(spec.field, spec.node, spec.dtype, col, col, spec.name)
            )
        if not reval:
            return df
        merged = merge_violations(F.col("violations"), *reval)
        return df.withColumn("violations", F.array_distinct(merged))

    def _build_projection(
        self, df: DataFrame, keep_extra: bool
    ) -> tuple[list[Column], Column]:
        """Build the fused-pass expressions for one input schema: the
        select list (coerced canonical columns [+extras] + the merged
        per-field violations as ``__v0``) and the final violations column
        (``__v0`` + cross-field @checks)."""
        cfg = self.compiled.config
        cols: list[Column] = []
        all_viols: list[Column] = []
        schema = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))

        for spec in self.compiled.fields:
            src_name = None
            # alias keys probed before the canonical name, first alias wins
            # (/root/reference/src/data_model.cpp:172-190)
            for cand in spec.field.aliases + [spec.name]:
                if cand in schema:
                    src_name = cand
                    break
            if src_name is None:
                if spec.field.has_default:
                    cols.append(default_column(spec.field, spec.dtype).alias(spec.name))
                elif spec.node.is_optional:
                    cols.append(F.lit(None).cast(spec.dtype).alias(spec.name))
                else:
                    # whole column absent: every row fails
                    # ("Missing required field", data_model.cpp:209)
                    cols.append(F.lit(None).cast(spec.dtype).alias(spec.name))
                    all_viols.append(
                        violation_if(F.lit(True), spec.name, missing_required_msg())
                    )
                continue

            src = F.col(src_name)
            if spec.name in cfg.deserializers:
                # custom deserializer (A26): the expression factory parses
                # the raw value into the target type (reference
                # Config(deserializer=...), deserializer.cpp:9-70); a
                # non-null input producing null = parse failure violation
                coerced = cfg.deserializers[spec.name](src).try_cast(spec.dtype)
                viols_col = violation_if(
                    src.isNotNull() & coerced.isNull(),
                    spec.name,
                    f"Expected type {spec.node.py_name}, got "
                    + py_name_of_spark(schema[src_name]),
                )
            else:
                coerced, viols_col = build_value(
                    src,
                    schema[src_name],
                    spec.node,
                    spec.name,
                    fld=spec.field,
                    truthy_bool=cfg.truthy_bool,
                )
            # defaults, then the declared constraints with the required-null
            # check first (data_model.cpp:192-212)
            if spec.field.has_default:
                coerced = F.coalesce(coerced, default_column(spec.field, spec.dtype))
            cols.append(coerced.alias(spec.name))
            all_viols.append(viols_col)
            all_viols.extend(
                constraint_violations(spec.field, spec.node, spec.dtype, coerced, src, spec.name)
            )

        # cross-field @check constraints (B10) — evaluated on coerced values
        model_names = [s.name for s in self.compiled.fields]
        proxy = Cols(model_names)
        select_cols = [
            *cols,
            *(
                [F.col(c) for c in df.columns if c not in model_names]
                if keep_extra
                else []
            ),
            merge_violations(*all_viols).alias("__v0"),
        ]
        check_viols: list[Column] = [F.col("__v0")]
        for fn in self.compiled.validators["checks"]:
            pred = fn(proxy)
            name = fn.__vldt_check_name__
            msg = fn.__vldt_check_message__ or f"Check failed: {name}"
            check_viols.append(violation_if(~F.coalesce(pred, F.lit(False)), name, msg))
        return select_cols, merge_violations(*check_viols)

    # -- validator UDF stages (A17-A20, B15): Arrow-vectorized only ----------

    @staticmethod
    def _picklable(fns) -> None:
        """Validator functions live in user modules that Python workers may
        not be able to import — register their modules for by-value
        cloudpickle so the UDF ships self-contained."""
        import sys

        try:  # Spark serializes UDFs with its vendored cloudpickle
            from pyspark import cloudpickle as _cp
        except ImportError:  # pragma: no cover
            import cloudpickle as _cp

        for fn in fns:
            mod = sys.modules.get(getattr(fn, "__module__", None))
            if mod is not None and not mod.__name__.startswith(("vldt_spark", "pyspark")):
                try:
                    _cp.register_pickle_by_value(mod)
                except Exception:
                    pass

    def _apply_field_udfs(self, df: DataFrame, bucket: str) -> DataFrame:
        fns = self.compiled.validators[bucket]
        if not fns:
            return df  # validator-presence pruning (schema.cpp:527-552)
        self._picklable(fns)
        updates: dict[str, Column] = {}
        schema = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
        for fn in fns:
            fname = fn.__vldt_field__
            if fname not in schema:
                continue
            ret_type = schema[fname]
            if getattr(fn, "__vldt_async__", False):
                # A21: async field validator — one event loop per Arrow
                # batch, values awaited concurrently (overlapping external
                # calls), never per-row-blocking
                async_fn = fn

                def _wrap_async(s, _f=async_fn):
                    import asyncio

                    import pandas as pd

                    async def _all():
                        return await asyncio.gather(*[_f(v) for v in s])

                    return pd.Series(asyncio.run(_all()), index=s.index)

                udf = F.pandas_udf(_wrap_async, returnType=ret_type)
            elif getattr(fn, "__vldt_vectorized__", True):
                udf = F.pandas_udf(fn, returnType=ret_type)
            else:
                scalar_fn = fn

                def _wrap(s, _f=scalar_fn):  # batch map, still Arrow-transferred
                    return s.map(_f)

                udf = F.pandas_udf(_wrap, returnType=ret_type)
            updates[fname] = udf(F.col(fname))
        return df.withColumns(updates) if updates else df

    def _apply_model_validators(self, df: DataFrame, bucket: str) -> DataFrame:
        fns = self.compiled.validators[bucket]
        if not fns:
            return df
        self._picklable(fns)
        schema = df.schema

        def _run(iterator):
            for pdf in iterator:
                for fn in fns:
                    if getattr(fn, "__vldt_async__", False):
                        import asyncio

                        pdf = asyncio.run(fn(pdf))
                    else:
                        pdf = fn(pdf)
                yield pdf

        return df.mapInPandas(_run, schema=schema)

    # -- whole-table checks ---------------------------------------------------

    def run(
        self,
        df: DataFrame,
        *,
        id_cols: Iterable[str] | None = None,
        dims: dict[str, DataFrame] | None = None,
        keep_extra: bool = False,
        unique_within: Iterable[str] = (),
    ) -> ValidationResult:
        """Full run: fused row-local pass + uniqueness + RI, violations merged.

        Eager: each side table (the dup keys of every ``unique_together``
        combo and ``unique`` field, the invalid values of every ``ref``
        field) is computed here, once, as one job labelled
        ``vldt:engine.run:<check>``, and held on the driver as a local
        relation; two or more are computed concurrently.  They are then
        broadcast-joined onto the fused pass in declaration order and their
        violations merged in one projection, so every later action on the
        result is one scan of ``df``.  The joins' Columns, like the counts'
        (``_count_frame``), do not depend on the data: they are built once
        per SparkSession (``errors.session_columns``), since each ``F.*``
        call is a few py4j round trips.

        ``unique_within`` scopes every uniqueness check to the groups of
        those columns (embedded uniqueness on ``(*unique_within, key)``), so
        one run over many partitions flags what a run per partition would;
        the default is the whole table.  RI does not depend on the groups."""
        ann = self.annotate(df, keep_extra=keep_extra)
        ids = list(id_cols) if id_cols else [self.compiled.fields[0].name]
        sides = self._side_tables(df, ann, dims or {}, list(unique_within))
        spark = df.sparkSession
        specs = tuple((tuple(s.keys), s.path, s.msg) for s in sides)
        selects, conds, merged, names, is_valid = session_columns(
            spark, ("sides", *specs), lambda: _side_columns(specs)
        )
        for cond, local in zip(conds, _materialize(spark, sides, selects)):
            ann = ann.join(F.broadcast(local), cond, "left")
        if sides:
            ann = ann.withColumn("violations", merged).drop(*names)
        ann = ann.withColumn("is_valid", is_valid)
        return ValidationResult(annotated=ann, id_cols=ids)

    def _side_tables(
        self, raw: DataFrame, ann: DataFrame, dims: dict[str, DataFrame], within: list[str]
    ) -> list["_SideTable"]:
        """The whole-table checks' side tables, lazy, in join order:
        ``unique_together`` combos, then per field ``unique`` and ``ref``.

        Model-level composite uniqueness (class attribute
        ``unique_together = [("a", "b"), ...]``) runs on the COERCED values
        of the annotated plan: a key pair that only collides after
        coercion, e.g. "01" vs 1, must still be flagged, and the join-back
        compares coerced columns; Catalyst prunes the plan to the combo
        columns.  An unresolvable combo column is an error, never a silent
        skip.  Per-field checks read ONLY the key column from the raw input
        when it is there — never the annotated plan, which would re-run the
        fused pass (column pruning then reaches the parquet scan).  Every
        uniqueness key is prefixed with the ``within`` columns."""
        from vldt_spark.checks.referential import invalid_fk_values
        from vldt_spark.checks.uniqueness import duplicate_keys

        missing = [c for c in within if c not in ann.columns]
        if missing:
            raise ValueError(f"unique_within columns not in the validated frame: {missing}")
        sides: list[_SideTable] = []
        model_names = {s.name for s in self.compiled.fields}
        for combo in getattr(self.model, "unique_together", []) or []:
            combo = list(combo)
            missing = [c for c in combo if c not in model_names and c not in ann.columns]
            if missing:
                raise ValueError(
                    f"unique_together columns not in model {self.model.__name__}: "
                    f"{missing}"
                )
            keys = [*within, *combo]
            sides.append(_SideTable(
                f"unique_together({','.join(combo)})",
                keys,
                duplicate_keys(ann.select(*keys), keys),
                ".".join(combo),
                f"Duplicate value for unique fields ({', '.join(combo)})",
            ))
        for spec in self.compiled.fields:
            if spec.field.unique:
                keys = [*within, spec.name]
                src = raw if set(keys) <= set(raw.columns) else ann
                sides.append(_SideTable(
                    f"unique({spec.name})",
                    keys,
                    duplicate_keys(src, keys),
                    spec.name,
                    f"Duplicate value for unique field {spec.name}",
                ))
            if spec.field.ref is not None and spec.field.ref[0] in dims:
                dim_name, dim_col = spec.field.ref
                src = raw if spec.name in raw.columns else ann
                sides.append(_SideTable(
                    f"ref({spec.name})",
                    [spec.name],
                    invalid_fk_values(src, spec.name, dims[dim_name], dim_col),
                    spec.name,
                    f"Referential integrity violation: {spec.name} not in "
                    f"{dim_name}.{dim_col}",
                ))
        return sides


@dataclass
class _SideTable:
    """One whole-table check: ``frame`` holds the distinct offending values
    of ``keys``; every annotated row whose keys equal one of them gets the
    violation (``path``, ``msg``)."""

    label: str
    keys: list[str]
    frame: DataFrame
    path: str
    msg: str


def _side_columns(specs: tuple) -> tuple:
    """The Columns that join side tables ``specs`` — (keys, path, msg) each,
    in join order — onto the fused pass: per table, the select that renames
    its keys ``__s<i>k<j>`` (so the tables join side by side) and the left
    join condition; then the merged violations, the key names to drop and
    ``is_valid``.  Each table is distinct on its keys, so no row is
    multiplied."""
    selects, conds, flags, names = [], [], [], []
    for i, (keys, path, msg) in enumerate(specs):
        ks = [f"__s{i}k{j}" for j in range(len(keys))]
        selects.append([F.col(k).alias(n) for k, n in zip(keys, ks)])
        cond = F.col(keys[0]) == F.col(ks[0])
        for k, n in zip(keys[1:], ks[1:]):
            cond = cond & (F.col(k) == F.col(n))
        conds.append(cond)
        flags.append(violation_if(F.col(ks[0]).isNotNull(), path, msg))
        names += ks
    merged = merge_violations(F.col("violations"), *flags)
    return selects, conds, merged, names, F.size("violations") == 0


def _materialize(
    spark: SparkSession, sides: list[_SideTable], selects: list[list[Column]]
) -> list[DataFrame]:
    """Collect each side table's renamed keys once (as Arrow) and re-create
    them as a driver-held local relation — the bytes the broadcast would
    ship anyway, fetched once per run instead of once per action.  Each is
    collected from a pool thread, so several run concurrently, as a job
    described ``vldt:engine.run:<label>``; the caller's own job
    description is never touched."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def one(side: _SideTable, select: list[Column]) -> DataFrame:
        spark.sparkContext.setJobDescription(f"vldt:engine.run:{side.label}")
        keyed = side.frame.select(*select)
        return spark.createDataFrame(keyed.toArrow(), schema=keyed.schema)

    # wrapped per task: a wrapper copies the caller's local properties once
    # and every thread running it mutates that one copy, so a wrapper
    # shared by all tasks would let their descriptions overwrite each other
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(one), side, select)
            for side, select in zip(sides, selects)
        ]
        return [f.result() for f in futures]


def validate(
    df: DataFrame,
    model: type[Model],
    *,
    id_cols: Iterable[str] | None = None,
    dims: dict[str, DataFrame] | None = None,
) -> ValidationResult:
    """One-shot convenience wrapper."""
    return ValidationEngine(model).run(df, id_cols=id_cols, dims=dims)

"""Recursive coerce-and-check expression builder.

This is the Spark translation of the reference's central dispatcher
``validate_and_convert`` (/root/reference/src/validation/validation.cpp:199-240):
for each (source column, compiled TypeNode) pair it emits

  * a **coerced** Column of the target Spark type (``try_cast`` semantics ≙
    the reference's ``int(v)`` / ``str(v)`` coercion attempts,
    validation_primitives.cpp:63-178), and
  * a **violations** Column ``array<struct<path,msg>>`` with
    reference-parity messages and dotted/indexed lineage paths
    (``products.0.id`` — error_handling.hpp:60-95, tests/test_vldt.py:196-203).

Paths are Column expressions, so container recursion builds dynamic
per-element lineage (``field.<i>``, ``field.<key>``) entirely with Catalyst
higher-order functions — no Python in the row path. Containers fail fast
internally (first violation only, validation_containers.cpp:92-95) while
fields collect-all across the row (data_model.cpp:197-211), mirrored via
``F.slice`` on container violation arrays.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vldt_spark.errors import (
    VIOLATIONS_TYPE,
    empty_violations,
    expected_type_msg,
    merge_violations,
    missing_required_msg,
    violation,
    violation_if,
)
from vldt_spark.fields import Field
from vldt_spark.typeschema import ContainerKind, TypeNode, py_name_of_spark, spark_type


def default_column(fld: Field, dtype: T.DataType) -> Column:
    """Default as a Column: scalar default/factory → literal; per-row
    ``default_expr`` → the factory's expression (deterministic per row)."""
    if fld.default_expr is not None:
        return fld.default_expr().cast(dtype)
    return F.lit(fld.resolve_default()).cast(dtype)


def _p(path: Column | str) -> Column:
    return F.lit(path) if isinstance(path, str) else path


def _sub(path: Column | str, part: Column) -> Column:
    """Dotted child path: ``<path>.<part>`` (error_handling.hpp:60-95)."""
    return F.concat(_p(path), F.lit("."), part.cast("string"))


def _first_only(viols: Column) -> Column:
    """Fail-fast within a container: keep the first violation
    (validation_containers.cpp:92-95)."""
    return F.coalesce(F.slice(viols, 1, 1), empty_violations())


def _kernel_ordered(elem_dt: T.DataType, v: Any) -> bool:
    """True when Spark compares ``v`` with an ``elem_dt`` element in the
    order ``array_min``/``array_max`` use: numbers with a numeric element
    type, strings with strings, dates with dates.  Otherwise the comparison
    casts each element (a numeric bound on a string array), and the order
    of the cast values is not the array's order."""
    if isinstance(v, bool):
        return False
    if isinstance(elem_dt, T.NumericType):
        return isinstance(v, (int, float, Decimal))
    if isinstance(elem_dt, T.StringType):
        return isinstance(v, str)
    if isinstance(elem_dt, T.DateType):
        return isinstance(v, date) and not isinstance(v, datetime)
    return False


def _bounds(
    low: Column, high: Column, lo: Any, hi: Any, lo_strict: bool = False, hi_strict: bool = False
) -> Column:
    """``low`` below ``lo`` or ``high`` above ``hi``; a None bound is not
    checked.  ``low`` and ``high`` are one value, or an array's min and max."""
    tests = [low <= F.lit(lo) if lo_strict else low < F.lit(lo)] if lo is not None else []
    tests += [high >= F.lit(hi) if hi_strict else high > F.lit(hi)] if hi is not None else []
    if not tests:
        return F.lit(False)
    return tests[0] if len(tests) == 1 else tests[0] | tests[1]


def elements_outside(
    arr: Column, elem_dt: T.DataType, lo: Any = None, hi: Any = None
) -> Column:
    """True when some non-NULL element of ``arr`` (elements of type
    ``elem_dt``) is below ``lo`` or above ``hi``; a None bound is not
    checked.  False, never NULL, for a NULL, empty or all-NULL array.

    The one definition of an element-range verdict, shared by the fused
    pass (``Field(element_ge/element_le)``) and the Suite's
    ``element_range``.  Spark never codegens a lambda body, so
    ``exists(arr, x -> ...)`` interprets the predicate once per element:
    over a bench token table (about 240 tokens a row, 100k rows, 4
    cores) the two range guards cost 0.63 s a scan, against 0.30 s for
    the ``array_min``/``array_max`` kernels and 0.23 s for the scan
    alone.
    Both kernels skip NULL elements, as the lambda's ``x IS NOT NULL``
    did, and order NaN above every number, as ``<``/``>`` do.  A bound the
    kernels cannot order (``_kernel_ordered``) keeps the lambda."""
    if all(_kernel_ordered(elem_dt, v) for v in (lo, hi) if v is not None):
        bad = _bounds(F.array_min(arr), F.array_max(arr), lo, hi)
    else:
        bad = F.exists(arr, lambda x: x.isNotNull() & _bounds(x, x, lo, hi))
    return F.coalesce(bad, F.lit(False))


def has_null_element(arr: Column, elem_dt: T.DataType) -> Column:
    """True when the non-NULL array ``arr`` holds a NULL element.  For an
    atomic element type it is ``size(array_intersect(arr, array(NULL))) >
    0``, a native kernel (0.41 → 0.31 s a 100k-row bench scan against
    ``exists(arr, x -> x IS NULL)``); ``array_intersect`` keeps one NULL
    when both sides hold one.  Other element types keep the lambda.
    Callers test ``arr IS NOT NULL`` first."""
    if isinstance(elem_dt, T.AtomicType):
        return F.size(F.array_intersect(arr, F.array(F.lit(None).cast(elem_dt)))) > 0
    return F.exists(arr, lambda x: x.isNull())


# -- declared Field constraints: one table for the engine and the Suite -----


def outside_range(
    v: Column, lo: Any = None, hi: Any = None, *, lo_strict: bool = False, hi_strict: bool = False
) -> Column:
    """True when the non-NULL ``v`` is below ``lo`` (at or below it when
    ``lo_strict``) or above ``hi`` (at or above it when ``hi_strict``); a
    None bound is not checked.  False for a NULL ``v``."""
    return v.isNotNull() & _bounds(v, v, lo, hi, lo_strict, hi_strict)


def size_outside(v: Column, size, lo: Any = None, hi: Any = None) -> Column:
    """True when the non-NULL ``v``'s ``size(v)`` (``F.length`` for a
    string, ``F.size`` for an array or map) is below ``lo`` or above
    ``hi``.  False for a NULL ``v``."""
    n = size(v)
    return v.isNotNull() & _bounds(n, n, lo, hi)


def pattern_mismatch(v: Column, pattern: str) -> Column:
    """True when the non-NULL ``v`` does not match ``pattern``."""
    return v.isNotNull() & ~v.rlike(pattern)


def not_in(v: Column, values: list) -> Column:
    """True when the non-NULL ``v`` is not one of ``values``."""
    return v.isNotNull() & ~v.isin(values)


@dataclass(frozen=True)
class Constraint:
    """One declared Field constraint.  ``bad(value)`` is its violation
    predicate; only the two NULL checks are true on a NULL value.
    ``msg`` is the engine's message, and ``kind``/``params`` the Suite
    expectation, ``expect.<kind>(column, **params)``, that counts the rows
    ``bad`` flags (``kind`` is None when none can).  A ``raw`` entry reads
    the source value, before coercion and defaults; the others read the
    coerced value."""

    bad: Callable[[Column], Column]
    msg: str
    kind: str | None
    params: dict
    raw: bool = False


def field_constraints(fld: Field, node: TypeNode, dtype: T.DataType) -> list[Constraint]:
    """The one definition of a field's declared constraints, in the order
    the engine reports them: the required-null check of a non-optional
    field without a default, then ``ge``, ``gt``, ``le``, ``lt``,
    ``regex``, ``isin``, ``not_null``, ``min_size`` and ``max_size``.  Sizes
    are characters for a string (``length_between``) and elements for a
    list, set or map (``size_between``).

    The fused pass (``constraint_violations``) and ``Suite.from_model``
    both read this table.  Element ranges are not in it: their single
    definition is ``elements_outside``, with indexed lineage paths."""
    out: list[Constraint] = []
    if not node.is_optional and not fld.has_default:
        msg = expected_type_msg(node.py_name, "NoneType")
        out.append(Constraint(lambda v: v.isNull(), msg, "not_null", {}, raw=True))
    for bound, op, side, strict in (
        (fld.ge, ">=", "lo", False),
        (fld.gt, ">", "lo", True),
        (fld.le, "<=", "hi", False),
        (fld.lt, "<", "hi", True),
    ):
        if bound is not None:
            p = {side: bound, f"{side}_strict": strict}
            out.append(Constraint(
                lambda v, p=p: outside_range(v, **p),
                f"Value out of range: expected {op} {bound}", "range", p,
            ))
    if fld.regex is not None:
        out.append(Constraint(
            lambda v, r=fld.regex: pattern_mismatch(v, r),
            f"Value does not match pattern {fld.regex}", "regex", {"pattern": fld.regex},
        ))
    if fld.isin is not None:
        values = list(fld.isin)
        out.append(Constraint(
            lambda v: not_in(v, values), "Value not in allowed set", "isin", {"values": values}
        ))
    if fld.not_null:
        # a default fills the value this reads, but not the raw column a
        # Suite expectation counts
        kind = None if fld.has_default else "not_null"
        out.append(Constraint(lambda v: v.isNull(), missing_required_msg(), kind, {}))
    if isinstance(dtype, T.StringType):
        size, unit, kind = F.length, "characters", "length_between"
    elif node.kind in (ContainerKind.LIST, ContainerKind.SET, ContainerKind.DICT):
        size, unit, kind = F.size, "elements", "size_between"
    else:
        return out
    for bound, word, side in ((fld.min_size, "at least", "lo"), (fld.max_size, "at most", "hi")):
        if bound is not None:
            p = {side: bound}
            out.append(Constraint(
                lambda v, p=p: size_outside(v, size, **p),
                f"Expected {word} {bound} {unit}", kind, p,
            ))
    return out


def constraint_violations(
    fld: Field, node: TypeNode, dtype: T.DataType, value: Column, source: Column, path: Column | str
) -> list[Column]:
    """``field_constraints`` as violation arrays at ``path``: ``value`` is
    the coerced value, ``source`` the one a ``raw`` entry reads."""
    return [
        violation_if(c.bad(source if c.raw else value), _p(path), c.msg)
        for c in field_constraints(fld, node, dtype)
    ]


def _truthy(src: Column, src_dtype: T.DataType) -> Column:
    """Python ``bool(v)`` truthiness (reference A8,
    validation_primitives.cpp:160-178) — differs from cast("boolean")."""
    if isinstance(src_dtype, T.BooleanType):
        return src
    if isinstance(src_dtype, T.StringType):
        return F.length(src) > 0
    if isinstance(src_dtype, T.ArrayType):
        return F.size(src) > 0
    if isinstance(src_dtype, T.MapType):
        return F.size(F.map_keys(src)) > 0
    if isinstance(src_dtype, T.NumericType):
        return src != F.lit(0)
    return src.isNotNull()


#: widenings that can never fail — cast directly, emit no violation check
#: (reference fast-path isinstance checks, validation.cpp:104-106; int→float
#: promotion tests/test_vldt.py:578-595)
_INTEGRALS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONALS = (T.FloatType, T.DoubleType)


def _lossless(src_dtype: T.DataType, target: T.DataType) -> bool:
    if src_dtype == target:
        return True
    order = [T.ByteType, T.ShortType, T.IntegerType, T.LongType]
    if isinstance(src_dtype, tuple(order)) and isinstance(target, tuple(order)):
        return order.index(type(src_dtype)) <= order.index(type(target))
    if isinstance(src_dtype, _INTEGRALS + _FRACTIONALS) and isinstance(
        target, T.DoubleType
    ):
        return True
    if isinstance(src_dtype, T.FloatType) and isinstance(target, _FRACTIONALS):
        return True
    return False


def build_value(
    src: Column,
    src_dtype: T.DataType,
    node: TypeNode,
    path: Column | str,
    *,
    fld: Field | None = None,
    truthy_bool: bool = True,
    check_null: bool = False,
) -> tuple[Column, Column]:
    """Recursively coerce ``src`` (of ``src_dtype``) to ``node``'s Spark
    type. Returns (coerced, violations-array Column).

    ``check_null=True`` adds the required-null check here (container
    elements have no defaults; top-level fields resolve defaults first in
    the engine, data_model.cpp:192-212)."""
    if node.is_any:
        # Any accepts anything, no conversion (validation.cpp:210-213)
        coerced = src if isinstance(src_dtype, T.StringType) else src.cast("string")
        return coerced, empty_violations()

    if node.is_model:
        coerced, viols = _model_value(src, src_dtype, node, path, truthy_bool)
    elif node.kind is ContainerKind.UNION:
        coerced, viols = _union_value(src, src_dtype, node, path, truthy_bool)
    elif node.kind in (ContainerKind.LIST, ContainerKind.SET):
        coerced, viols = _list_value(src, src_dtype, node, path, fld, truthy_bool)
    elif node.kind is ContainerKind.DICT:
        coerced, viols = _dict_value(src, src_dtype, node, path, truthy_bool)
    elif node.kind is ContainerKind.TUPLE:
        coerced, viols = _tuple_value(src, src_dtype, node, path, truthy_bool)
    else:
        coerced, viols = _scalar_coerce(src, src_dtype, node, path, truthy_bool)

    if check_null and not node.is_optional:
        viols = merge_violations(
            viols,
            violation_if(
                src.isNull(), _p(path), expected_type_msg(node.py_name, "NoneType")
            ),
        )
    return coerced, viols


def _scalar_coerce(src, src_dtype, node, path, truthy_bool):
    target = spark_type(node)
    if _lossless(src_dtype, target):
        return (src if src_dtype == target else src.cast(target)), empty_violations()
    if isinstance(target, T.BooleanType) and truthy_bool:
        # bool(v) accepts nearly anything — no violation possible
        coerced = F.when(src.isNull(), F.lit(None).cast("boolean")).otherwise(
            _truthy(src, src_dtype)
        )
        return coerced, empty_violations()
    coerced = src.try_cast(target)
    viols = violation_if(
        src.isNotNull() & coerced.isNull(),
        _p(path),
        expected_type_msg(node.py_name, py_name_of_spark(src_dtype)),
    )
    return coerced, viols


def _list_value(src, src_dtype, node, path, fld, truthy_bool):
    target = spark_type(node)
    kind = "list" if node.kind is ContainerKind.LIST else "set"
    if not isinstance(src_dtype, T.ArrayType):
        viols = violation_if(
            src.isNotNull(),
            _p(path),
            f"Expected a {kind}, got {py_name_of_spark(src_dtype)}",
        )
        return F.lit(None).cast(target), viols

    inner = node.args[0]
    inner_target = spark_type(inner)
    elem_dt = src_dtype.elementType
    viol_parts: list[Column] = []

    fast_path = (
        elem_dt == inner_target or inner.is_any or _lossless(elem_dt, inner_target)
    )
    if (
        fast_path
        and src_dtype.containsNull  # schema-proven null-free arrays skip it
        and not inner.is_any
        and not inner.is_optional
    ):
        # None inside a container of non-optional elements errors in the
        # reference (validate_list → validate_and_convert(None, T),
        # validation_containers.cpp:61-99) — the fast-path branches below
        # adopt the source array without per-element recursion (which would
        # otherwise add the null check), so it lives here.  A lambda-free
        # verdict test first; the indexed path is built only on the rare
        # violating rows.
        first_null = F.array_position(
            F.transform(src, lambda x: x.isNull()), F.lit(True)
        )
        indexed_null = F.array(
            violation(
                _sub(path, first_null - 1),
                F.lit(expected_type_msg(inner.py_name, "NoneType")),
            )
        ).cast(VIOLATIONS_TYPE)
        viol_parts.append(
            F.when(src.isNotNull() & has_null_element(src, elem_dt), indexed_null)
            .otherwise(empty_violations())
        )

    if elem_dt == inner_target or inner.is_any:
        coerced = src
    elif _lossless(elem_dt, inner_target):
        # ADOPT the source element type: a Python `int` annotation is a
        # value-domain constraint, not a storage width — and casting a
        # 245-element array costs ~5× the parquet scan itself (measured at
        # 1M rows: 70s cast vs 13s scan). Checks below run on the raw array.
        coerced = src
    else:
        # full recursion per element with indexed lineage paths
        # (validate_list, validation_containers.cpp:61-99)
        coerced = F.transform(
            src, lambda x: build_value(x, elem_dt, inner, F.lit(""), truthy_bool=truthy_bool)[0]
        )
        elem_viols = F.transform(
            src,
            lambda x, i: build_value(
                x, elem_dt, inner, _sub(path, i), truthy_bool=truthy_bool, check_null=True
            )[1],
        )
        indexed = _first_only(F.flatten(elem_viols))
        # conditional evaluation: lineage construction is ~10× the cost of
        # the verdict test and violating rows are rare — guard with one
        # exists() so clean rows never build paths.  That guard is itself an
        # interpreted lambda (see ``elements_outside``); a try_cast per
        # element has no array kernel, and this slow path already casts
        # every element
        if inner.kind is ContainerKind.NONE and not inner.is_model:
            it = spark_type(inner)
            guard = F.exists(
                src,
                lambda x: x.isNull() | (x.isNotNull() & x.try_cast(it).isNull()),
            )
            indexed = F.when(guard, indexed).otherwise(empty_violations())
        viol_parts.append(indexed)

    # declarative per-element range constraints (B9) with indexed paths
    if fld is not None:
        coerced_elem = elem_dt if coerced is src else inner_target
        for attr, op, msg in (
            ("element_ge", "lt", "Value out of range: expected >= {v}"),
            ("element_le", "gt", "Value out of range: expected <= {v}"),
        ):
            v = getattr(fld, attr)
            if v is None:
                continue
            def _mark(b, m):
                return lambda x, i: F.when(
                    x.isNotNull() & b(x), violation(_sub(path, i), F.lit(m))
                )

            if op == "lt":
                bad = lambda x, vv=v: x < F.lit(vv)
                verdict = elements_outside(coerced, coerced_elem, lo=v)
            else:
                bad = lambda x, vv=v: x > F.lit(vv)
                verdict = elements_outside(coerced, coerced_elem, hi=v)
            marked = F.transform(coerced, _mark(bad, msg.format(v=v)))
            indexed = _first_only(
                F.filter(marked, lambda e: e.isNotNull()).cast(VIOLATIONS_TYPE)
            )
            # lambda-free verdict first; indexed-path construction only on
            # the rare violating rows (conditional evaluation)
            viol_parts.append(F.when(verdict, indexed).otherwise(empty_violations()))

    if node.kind is ContainerKind.SET:
        # set invariant: no duplicate elements (SURVEY.md A13)
        viol_parts.append(
            violation_if(
                src.isNotNull()
                & (F.size(F.array_distinct(coerced)) != F.size(coerced)),
                _p(path),
                "Duplicate elements in set",
            )
        )
    return coerced, merge_violations(*viol_parts) if viol_parts else empty_violations()


def _dict_value(src, src_dtype, node, path, truthy_bool):
    target = spark_type(node)
    if not isinstance(src_dtype, T.MapType):
        viols = violation_if(
            src.isNotNull(), _p(path), f"Expected a dict, got {py_name_of_spark(src_dtype)}"
        )
        return F.lit(None).cast(target), viols
    knode, vnode = node.args
    ktarget, vtarget = spark_type(knode), spark_type(vnode)
    viol_parts: list[Column] = []

    values_ok = src_dtype.valueType == vtarget or vnode.is_any or _lossless(
        src_dtype.valueType, vtarget
    )
    keys_ok = src_dtype.keyType == ktarget or knode.is_any or _lossless(
        src_dtype.keyType, ktarget
    )
    if values_ok and keys_ok:
        coerced = src if (src_dtype.keyType == ktarget and src_dtype.valueType == vtarget) else src.cast(target)
    else:
        # per-entry recursion with field.<key> lineage
        # (validate_dict, validation_containers.cpp:115-172)
        entries = F.map_entries(src)
        coerced = F.map_from_entries(
            F.transform(
                entries,
                lambda e: F.struct(
                    build_value(e["key"], src_dtype.keyType, knode, F.lit(""), truthy_bool=truthy_bool)[0].alias("key"),
                    build_value(e["value"], src_dtype.valueType, vnode, F.lit(""), truthy_bool=truthy_bool)[0].alias("value"),
                ),
            )
        )
        entry_viols = F.transform(
            entries,
            lambda e: merge_violations(
                build_value(
                    e["key"], src_dtype.keyType, knode, _sub(path, e["key"]), truthy_bool=truthy_bool
                )[1],
                build_value(
                    e["value"], src_dtype.valueType, vnode, _sub(path, e["key"]),
                    truthy_bool=truthy_bool, check_null=True,
                )[1],
            ),
        )
        viol_parts.append(_first_only(F.flatten(entry_viols)))
    return coerced, merge_violations(*viol_parts) if viol_parts else empty_violations()


def _tuple_value(src, src_dtype, node, path, truthy_bool):
    target = spark_type(node)  # StructType(_0.._n)
    n = node.tuple_arity or len(node.args)
    if isinstance(src_dtype, T.ArrayType):
        # arity check: "Expected tuple of length n, got m"
        # (validation_containers.cpp:201)
        arity_viols = F.when(
            src.isNotNull() & (F.size(src) != n),
            F.array(
                violation(
                    _p(path),
                    F.concat(
                        F.lit(f"Expected tuple of length {n}, got "),
                        F.size(src).cast("string"),
                    ),
                )
            ).cast(VIOLATIONS_TYPE),
        ).otherwise(empty_violations())
        parts, viols = [], [arity_viols]
        for i, sub_node in enumerate(node.args):
            el = F.element_at(src, i + 1)
            c, v = build_value(
                el, src_dtype.elementType, sub_node, _sub(path, F.lit(i)),
                truthy_bool=truthy_bool,
            )
            parts.append(c.alias(f"_{i}"))
            viols.append(F.when(src.isNotNull() & (F.size(src) == n), v).otherwise(empty_violations()))
        coerced = F.when(src.isNull(), F.lit(None).cast(target)).otherwise(F.struct(*parts))
        return coerced, merge_violations(*viols)
    if isinstance(src_dtype, T.StructType):
        parts, viols = [], []
        for i, sub_node in enumerate(node.args):
            fname = src_dtype.names[i] if i < len(src_dtype.names) else f"_{i}"
            c, v = build_value(
                src[fname], src_dtype[fname].dataType, sub_node, _sub(path, F.lit(i)),
                truthy_bool=truthy_bool,
            )
            parts.append(c.alias(f"_{i}"))
            viols.append(v)
        coerced = F.when(src.isNull(), F.lit(None).cast(target)).otherwise(F.struct(*parts))
        return coerced, merge_violations(*viols)
    viols = violation_if(
        src.isNotNull(), _p(path), f"Expected a tuple, got {py_name_of_spark(src_dtype)}"
    )
    return F.lit(None).cast(target), viols


def _model_value(src, src_dtype, node, path, truthy_bool):
    """Nested model: recursive expansion with dotted lineage
    (validation.cpp:64-84 re-parents nested errors under ``outer.``)."""
    model = node.model_cls
    compiled = model.__vldt_compile__()
    target = compiled.struct
    if not isinstance(src_dtype, T.StructType):
        viols = violation_if(
            src.isNotNull(),
            _p(path),
            expected_type_msg(model.__name__, py_name_of_spark(src_dtype)),
        )
        return F.lit(None).cast(target), viols
    parts: list[Column] = []
    viols: list[Column] = []
    for spec in compiled.fields:
        sub_path = _sub(path, F.lit(spec.name))
        # alias probing inside nested structs (data_model.cpp:172-190)
        src_name = None
        for cand in spec.field.aliases + [spec.name]:
            if cand in src_dtype.names:
                src_name = cand
                break
        if src_name is None:
            if spec.field.has_default:
                parts.append(default_column(spec.field, spec.dtype).alias(spec.name))
            elif spec.node.is_optional:
                parts.append(F.lit(None).cast(spec.dtype).alias(spec.name))
            else:
                parts.append(F.lit(None).cast(spec.dtype).alias(spec.name))
                viols.append(
                    violation_if(src.isNotNull(), sub_path, missing_required_msg())
                )
            continue
        c, v = build_value(
            src[src_name],
            src_dtype[src_name].dataType,
            spec.node,
            sub_path,
            fld=spec.field,
            truthy_bool=truthy_bool,
        )
        if spec.field.has_default:
            c = F.coalesce(c, default_column(spec.field, spec.dtype))
        viols.append(v)
        viols.extend(
            constraint_violations(spec.field, spec.node, spec.dtype, c, src[src_name], sub_path)
        )
        parts.append(c.alias(spec.name))
    for pname in compiled.pruned_fields:
        # recursion cutoff (ModelConfig.max_recursion_depth): the field is
        # absent from the target struct; source content under it sits
        # DEEPER than the unrolled budget — report it, never drop it
        if pname not in src_dtype.names:
            continue
        sub = src[pname]
        sdt = src_dtype[pname].dataType
        present = sub.isNotNull()
        if isinstance(sdt, (T.ArrayType, T.MapType)):
            present = present & (F.size(sub) > 0)
        viols.append(
            violation_if(
                src.isNotNull() & present,
                _sub(path, F.lit(pname)),
                f"Exceeded max recursion depth for model {model.__name__}",
            )
        )
    coerced = F.when(src.isNull(), F.lit(None).cast(target)).otherwise(F.struct(*parts))
    # suppress nested violations entirely when the outer struct is null
    all_v = merge_violations(*viols)
    all_v = F.when(src.isNull(), empty_violations()).otherwise(all_v)
    return coerced, all_v


def _union_value(src, src_dtype, node, path, truthy_bool):
    """Ordered union resolution: isinstance scan then conversion attempts in
    declared order, first success wins (validation_containers.cpp:297-326,
    order-sensitivity tests/test_vldt.py:786-818) → ordered coalesce."""
    target = spark_type(node)

    model_cands = [s for s in node.args if s.is_model]
    if model_cands:
        # union containing models: candidates probed in DECLARED order; the
        # first branch that matches wins (order-sensitivity:
        # tests/test_vldt.py:786-818). Output is the TYPED variant struct
        # ``struct<__variant, as_<Model>..., as_<scalar>...>`` — exactly one
        # as_* arm is populated, so callers stay columnar. A model arm
        # matches a STRUCT source whose required fields are all present and
        # non-null; a scalar arm matches a non-struct source whose value
        # try_casts to it (MIXED unions like Union[Article, int] previously
        # dropped scalar arms and crashed at plan time on scalar input).
        is_struct_src = isinstance(src_dtype, T.StructType)
        arms = []  # (arm_name, match_cond, arm_field, value_builder, arm_type)
        for sub in node.args:
            if sub.is_model:
                struct_t = sub.model_cls.__vldt_struct__()
                if not is_struct_src:
                    arms.append(
                        (
                            sub.model_cls.__name__,
                            F.lit(False),
                            f"as_{sub.model_cls.__name__}",
                            F.lit(None).cast(struct_t),
                            struct_t,
                        )
                    )
                    continue
                compiled = sub.model_cls.__vldt_compile__()
                conds = []
                for spec in compiled.fields:
                    if spec.required:
                        names = spec.field.aliases + [spec.name]
                        present = [n for n in names if n in src_dtype.names]
                        if not present:
                            conds.append(F.lit(False))
                            break
                        conds.append(src[present[0]].isNotNull())
                cond = F.lit(True)
                for c in conds:
                    cond = cond & c
                sub_parts = []
                for spec in compiled.fields:
                    names = spec.field.aliases + [spec.name]
                    present = [n for n in names if n in src_dtype.names]
                    val = (
                        src[present[0]].try_cast(spec.dtype)
                        if present
                        else F.lit(None).cast(spec.dtype)
                    )
                    sub_parts.append(val.alias(spec.name))
                arms.append(
                    (
                        sub.model_cls.__name__,
                        cond,
                        f"as_{sub.model_cls.__name__}",
                        F.struct(*sub_parts),
                        struct_t,
                    )
                )
            else:
                sub_t = spark_type(sub)
                # scalar arms match only ATOMIC sources: a struct can never
                # be a scalar, and array/map sources must fall through to a
                # violation — try_cast(array -> bigint) is a plan-time
                # AnalysisException, and try_cast(map -> string) would
                # silently stringify '{1 -> 2}' into a str arm
                complex_src = isinstance(
                    src_dtype, (T.StructType, T.ArrayType, T.MapType)
                )
                if complex_src:
                    arms.append(
                        (sub.py_name, F.lit(False), f"as_{sub.py_name}",
                         F.lit(None).cast(sub_t), sub_t)
                    )
                else:
                    attempt = src if src_dtype == sub_t else src.try_cast(sub_t)
                    arms.append(
                        (sub.py_name, attempt.isNotNull(), f"as_{sub.py_name}",
                         attempt, sub_t)
                    )
        variant = F.lit(None).cast("string")
        for name, cond, _, _, _ in reversed(arms):
            variant = F.when(cond, F.lit(name)).otherwise(variant)
        parts = [variant.alias("__variant")]
        for name, _, field_name, value, arm_t in arms:
            parts.append(
                F.when(variant == name, value)
                .otherwise(F.lit(None).cast(arm_t))
                .alias(field_name)
            )
        coerced = F.when(src.isNull(), F.lit(None).cast(target)).otherwise(
            F.struct(*parts)
        )
        names_str = " | ".join(a.py_name for a in node.args)
        viols = violation_if(
            src.isNotNull() & variant.isNull(),
            _p(path),
            expected_type_msg(names_str, py_name_of_spark(src_dtype)),
        )
        return coerced, viols

    for sub in node.args:
        if src_dtype == spark_type(sub):
            # isinstance fast-path: exact type match wins immediately
            return (src if target == src_dtype else src.cast(target)), empty_violations()

    candidates = []
    any_ok = None
    for sub in node.args:
        sub_target = spark_type(sub)
        attempt = src.try_cast(sub_target)
        ok = attempt.isNotNull()
        candidates.append((attempt, ok))
        any_ok = ok if any_ok is None else (any_ok | ok)
    expr = F.lit(None).cast(target)
    for attempt, ok in reversed(candidates):
        expr = F.when(ok, attempt.cast(target)).otherwise(expr)
    names = " | ".join(a.py_name for a in node.args)
    viols = violation_if(
        src.isNotNull() & ~any_ok,
        _p(path),
        expected_type_msg(names, py_name_of_spark(src_dtype)),
    )
    return expr, viols

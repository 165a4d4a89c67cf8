"""Local replica of the driver's correctness gate: run every queries()
entry via Spark AND its oracle_sql() via DuckDB on the same parquet,
compare row count + column names + order-insensitive value hash.
A gate whose output has a top-level array or map column fails outright:
the correctness gate's pandas canonicalizer cannot sort such cells.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return format(round(v, 6), ".6f")
    if isinstance(v, bool):
        return str(v).lower()
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return format(round(float(v), 6), ".6f")
    except ImportError:
        pass
    return str(v)


def nested_columns(schema):
    """Top-level array or map columns of a gate's output schema."""
    from pyspark.sql import types as T

    return [
        f.name for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType))
    ]


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def arrow_type_label(t):
    """Coarse-but-type-sensitive label: distinguishes the int-width /
    decimal class (the driver's hash is type-sensitive — round-1 lesson:
    DuckDB types un-cast integer sum() as HUGEINT → decimal128 in Arrow,
    while Spark emits int64, and the values hash differently)."""
    import pyarrow as pa

    s = str(t)
    if s.startswith("decimal"):
        return "decimal"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{arrow_type_label(t.value_type)}>"
    return s


def arrow_schema_labels(tbl):
    return {f.name: arrow_type_label(f.type) for f in tbl.schema}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_noorc = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            nested = nested_columns(sdf.schema)
            if nested:
                # the correctness gate sorts rows as a pandas frame, which
                # raises on list/dict cells: such a gate is red there
                print(f"FAIL  {name}: top-level array/map columns {nested}")
                n_fail += 1
                continue
            satbl = sdf.toArrow()
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"noorc {name}: rows={len(srows)} (rows-only check)")
            n_noorc += 1
            continue
        try:
            res = con.sql(oracles[name])
            oatbl = res.arrow()
            orows = [
                tuple(r) for r in zip(*[c.to_pylist() for c in oatbl.columns])
            ]
            ocols = oatbl.schema.names
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok_hash = value_hash(srows, scols) == value_hash(orows, ocols)
        stypes, otypes = arrow_schema_labels(satbl), arrow_schema_labels(oatbl)
        if ok_cols and stypes != otypes:
            diff = {
                c: (stypes.get(c), otypes.get(c))
                for c in stypes
                if stypes.get(c) != otypes.get(c)
            }
            print(f"FAIL  {name}: arrow type mismatch {diff}")
            n_fail += 1
            continue
        if ok_rows and ok_cols and ok_hash:
            print(f"PASS  {name}: rows={len(srows)}")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: rows {len(srows)} vs {len(orows)}, "
                f"cols {scols} vs {ocols}, hash_eq={ok_hash}"
            )
            if not ok_hash and ok_rows and ok_cols and len(srows) <= 2000:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                s = sorted("|".join(canon(r[i]) for i in order) for r in srows)
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                o = sorted("|".join(canon(r[i]) for i in oorder) for r in orows)
                for a, b in zip(s, o):
                    if a != b:
                        print(f"   spark : {a[:200]}\n   oracle: {b[:200]}")
                        break
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noorc} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

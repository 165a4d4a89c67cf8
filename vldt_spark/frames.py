"""Driver-built frames as JVM local relations.

``spark.createDataFrame(<list>)`` parallelizes the rows as a Python RDD:
its plan is a ``LogicalRDD`` and every scan of it starts Python workers,
even for a 5-row dimension.  An Arrow table becomes a ``LocalRelation``
held in the JVM, which Catalyst can fold, broadcast and scan without
leaving it.
"""

from __future__ import annotations

from typing import Iterable, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession,
    rows: Iterable[tuple] | Mapping[str, Iterable],
    schema: T.StructType | str,
) -> DataFrame:
    """``rows`` as a local relation with exactly ``schema`` (a StructType or
    a DDL string), nullability included.  ``rows`` is either row tuples in
    the schema's field order or a mapping of field name → column values
    (lists or numpy arrays)."""
    st = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    cols = rows if isinstance(rows, Mapping) else dict(zip(st.names, zip(*rows)))
    table = pa.Table.from_arrays(
        [pa.array(cols.get(f.name, ()), type=f.type) for f in arrow], schema=arrow
    )
    return spark.createDataFrame(table, schema=st)

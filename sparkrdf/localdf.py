"""Driver fast paths: the one gate that picks them, and the upload back.

Every iterative graph, closure and reasoning operator with a driver loop
next to its distributed Spark loop chooses between them here, through
:func:`collect_if_small`. The contract, stated once:

- ``SMALL_MAX`` bounds the input rows a fast path may collect (2M rows,
  tens of MB). Larger inputs take the distributed loop, so driver memory
  stays bounded by construction.
- The closures (``query.path_closure``, ``reason.owl_materialize``) also
  cap the rows they build on the driver at ``SMALL_MAX``; a closure that
  would outgrow it takes the distributed loop.
- ``SMALL_MAX = 0`` forces every operator onto its distributed loop. The
  driver loops return exactly the distributed loop's rows, NULL endpoints
  and empty inputs included; the parity test checks both ways.

The one upload path for a driver-built table is :func:`local_rows_df`
(driver fast-path results, rule and constant tables, lineage rows,
gazetteers). It builds a pandas frame — nullable ``Int*``/``boolean`` dtypes
for integral and boolean columns, so a NULL stays NULL instead of turning
an int column into floats — converts it to one Arrow table and hands that
to Spark, which keeps it in the JVM as a ``LocalRelation``. The plan
guarantee: the leaf is a ``LocalTableScan`` (up to
``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by default),
whatever ``spark.sql.execution.arrow.pyspark.enabled`` says, so no consumer
starts a Python worker for it, and an empty upload is an empty
``LocalTableScan`` that runs no task at all. A plain
``createDataFrame(list, schema)`` instead goes ``parallelize → PythonRDD``:
a ``Scan ExistingRDD`` leaf whose every consumer starts Python-worker
tasks, and row-by-row pickling through py4j. Flat and array columns
upload exactly; a NaN in a float column uploads as NULL.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
    _parse_datatype_string,
)

SMALL_MAX = 2_000_000

# pandas dtype per Spark column type for the upload; nullable extension
# dtypes keep NULLs in integral and boolean columns. Anything else goes as
# Python objects and Arrow casts it to the schema's type.
_PANDAS_DTYPES = {
    ByteType: "Int8",
    ShortType: "Int16",
    IntegerType: "Int32",
    LongType: "Int64",
    BooleanType: "boolean",
    FloatType: "float32",
    DoubleType: "float64",
}


def collect_if_small(df: DataFrame) -> list[Row] | None:
    """``df``'s rows when it has at most ``SMALL_MAX`` of them, else None
    (the caller then runs its distributed loop). Counts once; collects only
    under the bound."""
    if SMALL_MAX <= 0 or df.count() > SMALL_MAX:
        return None
    return df.collect()


def nulls_first(row: tuple) -> list:
    """Sort key for tuples that may hold None, in Spark's ascending order
    (NULLS FIRST) — a plain ``sorted`` raises on None next to a string."""
    return [(v is not None, v) for v in row]


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Upload driver-local ``rows`` (tuples in ``schema`` order) as a JVM
    ``LocalTableScan``. ``schema`` is a StructType, a DDL string or a list
    of ``(name, DataType)`` pairs."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        schema = StructType([StructField(n, t) for n, t in schema])
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(arrow_schema.empty_table(), schema)
    pdf = pd.DataFrame(
        {
            f.name: pd.Series(list(col), dtype=_PANDAS_DTYPES.get(type(f.dataType), object))
            for f, col in zip(schema.fields, zip(*rows))
        }
    )
    table = pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
    return spark.createDataFrame(table, schema)

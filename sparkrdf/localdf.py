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

:func:`local_rows_df` uploads a driver result. A plain
``createDataFrame(list, schema)`` pickles rows one by one through py4j —
measurably slow from a few tens of thousands of rows; a pandas frame
engages Spark's Arrow converter (on in :func:`sparkrdf.session.get_spark`)
and ships one Arrow payload, and Spark falls back to the row path by
itself when Arrow is off. Flat schemas only (strings/ints/doubles, no
NULLs in non-string columns — pandas would coerce int-with-NaN to float).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructField, StructType

SMALL_MAX = 2_000_000


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
    """``createDataFrame`` for a driver-local list of flat tuples.
    ``schema`` is a StructType or a list of ``(name, DataType)`` pairs."""
    if not isinstance(schema, StructType):
        schema = StructType([StructField(n, t) for n, t in schema])
    if not rows:
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema)

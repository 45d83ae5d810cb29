"""Bringing driver-side rows into Spark.

A row-list ``createDataFrame`` pickles the rows into a Python RDD: every
action on the result starts Python workers to unpickle them, once per
slice. ``from_driver`` instead builds an Arrow table with the Arrow types
of the Spark schema and hands it to the JVM directly — no Python worker,
and nullable integer columns stay integers (a pandas frame built without
explicit dtypes would turn them into float64 with NaN).

The rows are still sliced across partitions (2 rows may land in 2
partitions), so a caller that writes the result as one file keeps its
``coalesce(1)``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def from_driver(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame of ``rows`` (tuples or Rows, in schema column order)
    typed exactly by ``schema`` (a StructType or a DDL string)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)

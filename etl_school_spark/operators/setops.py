"""Set operations (SURVEY.md §2.7, U1–U3)."""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string


def labelled_counts(parts: dict[str, DataFrame]) -> DataFrame:
    """U1/U2: N-way UNION ALL of labelled counts (A4:480-486 pipeline-stage
    dashboard). Each leg is an independent count; the union is by name."""
    frames = [
        df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(label).alias("stage"), F.col("n_rows")
        )
        for label, df in parts.items()
    ]
    return reduce(DataFrame.unionByName, frames)


def values_table(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """U3: inline VALUES relation (A4:909-915 thresholds) — the engine's one
    way to turn driver-side rows into a DataFrame.

    ``spark.createDataFrame(list, schema)`` plans as a LogicalRDD over a
    pickled Python RDD, so every action on it starts Python-worker tasks.
    Here the rows become an Arrow table that plans as a LocalRelation:
    collecting it runs no Spark job, and writing it runs no Python worker.

    Each row is checked by the verifier ``createDataFrame`` applies (a bare
    Arrow build would silently truncate ``1.5`` into a ``long`` column), then
    converted with ``StructType.toInternal``. Timestamps and dates enter as
    those internal epoch values (microseconds, days) typed as the Arrow
    type, so neither the local ``TZ`` nor pyarrow's datetime handling can
    shift them. ``rows`` are tuples, lists, dicts or Rows.
    """
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    verify = _make_type_verifier(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(row))
    arrow_schema = to_arrow_schema(struct)
    columns = [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow_schema)]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema=struct)

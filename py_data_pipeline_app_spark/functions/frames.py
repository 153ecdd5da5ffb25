"""Driver-known DataFrames without Python-worker tasks.

Every table the driver already holds — workbook sheets, config
manifests, label and anchor frames, sampled centroids and codebooks,
test fixtures — enters Spark through :func:`local_rows_df`, and
``spark.createDataFrame`` appears nowhere else in the package.

Why Arrow: a *list* ``spark.createDataFrame(rows, schema)`` plans as
``Scan ExistingRDD`` over a parallelized Python RDD, and every
execution of that plan evaluates its slices through executor Python
workers (seconds of fixed cost per action). A
``createDataFrame(pyarrow.Table, schema)`` ships the rows to the JVM
once as Arrow batches and plans as a pure-JVM ``LocalTableScan``; its
cost is one Arrow serialisation whatever the cell count, so the same
builder serves a one-row manifest and a 600×64 fixture.

Why one partition: a bare Arrow ``LocalTableScan`` is sliced into
min(rows, defaultParallelism) partitions. The builder coalesces it to
one, so the executed plan is ``Coalesce 1 +- LocalTableScan``: a
manifest, centroid or codebook write lands in one file, and a
global aggregate over the frame needs no ``Exchange SinglePartition``. Large
tables belong in parquet.
"""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string


def local_rows_df(
    spark: SparkSession, schema: str | StructType, rows: list[tuple]
) -> DataFrame:
    """DataFrame of driver-local ``rows`` under a DDL-string or
    ``StructType`` schema: exactly ``schema``, in row order, one
    partition, planned as ``Coalesce 1 +- LocalTableScan`` at any row
    count including zero (see module docstring). ``None`` cells become
    nulls. A row whose arity differs from the schema raises
    ``ValueError``; a cell pyarrow cannot convert to its column type
    raises from pyarrow. Timestamp cells must be naive datetimes; they
    are read in the session time zone."""
    dt = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    fields = dt.fields
    for i, r in enumerate(rows):
        # zip would silently drop surplus cells; refuse an arity
        # mismatch loudly, as createDataFrame does
        if len(r) != len(fields):
            raise ValueError(
                f"row {i} has {len(r)} cells but the schema has "
                f"{len(fields)} fields"
            )
    columns = list(zip(*rows)) or [()] * len(fields)
    for f, col in zip(fields, columns):
        if isinstance(f.dataType, TimestampType) and any(
            v is not None and (not isinstance(v, datetime) or v.tzinfo is not None)
            for v in col
        ):
            raise TypeError(
                f"timestamp cells of {f.name!r} must be NAIVE datetimes "
                "(read in the session time zone)"
            )
    # naive Arrow timestamps: createDataFrame localizes them to the
    # session time zone
    arrow_schema = to_arrow_schema(dt, timestamp_utc=False)
    table = pa.Table.from_arrays(
        [pa.array(col, type=af.type) for col, af in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, dt).coalesce(1)

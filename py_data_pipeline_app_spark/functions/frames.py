"""Driver-known DataFrames without Python-worker tasks.

Only a *list* ``spark.createDataFrame(rows, schema)`` is Python-RDD
backed: it plans as ``Scan ExistingRDD`` over a parallelized Python
RDD sliced to ``defaultParallelism`` partitions, and every execution
of that plan — even under ``coalesce(1)`` — evaluates all slices
through Python workers, which costs ~4-5 s of fixed per-action
overhead on a 32-core local master (measured: a one-row
config-manifest parquet write dropped 4.7 s → 0.25 s with
:func:`local_rows_df`). A ``createDataFrame(pyarrow.Table, schema)``
instead ships the rows to the JVM once as Arrow batches and plans as a
pure-JVM ``LocalTableScan``. This module has one builder for each
size:

:func:`local_rows_df` renders the rows as ONE JVM-side expression —
``inline(array(named_struct(...), ...))`` over a single-partition
``range(1)`` — so the plan is a pure-JVM projection: no Python task,
no RDD scan, and Catalyst folds it to a local relation. The
expression is built as a single parsed STRING, not per-cell ``F.lit``
Columns: a 1k-cell centroid/codebook table costs ~1 s of driver-side
py4j round trips the ``F.lit`` way vs ~ms as one ``expr()`` parse (the
``similarity.float_matrix_lit`` measurement). Intended for SMALL
driver-known tables (config manifests, anchor/segment label frames,
centroid/codebook samples — up to a few thousand cells); the SQL text
grows with every cell.

:func:`arrow_rows_df` builds a ``pyarrow.Table`` of the declared
column types and hands it to ``createDataFrame``: the cost is one
Arrow serialisation, not one SQL token per cell, so it carries the
workbook sheets and trained centroid tables. Large tables belong in
parquet.
"""

from __future__ import annotations

import math

from datetime import date, datetime

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegralType,
    StringType,
    StructType,
    TimestampType,
    _parse_datatype_string,
)


def _render_cell(v, dt: DataType) -> str:
    """One cell as a SQL literal expression string, exact under the
    target type. Python ``repr`` of a float emits the shortest
    round-tripping decimal and Java's correctly-rounded parser
    recovers identical bits, so double cells are value-exact."""
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, ArrayType):
        if not isinstance(v, (list, tuple)):
            raise TypeError(f"expected list for {dt.simpleString()}, got {type(v)}")
        if not v:
            return f"CAST(array() AS {dt.simpleString()})"
        inner = ",".join(_render_cell(x, dt.elementType) for x in v)
        return f"array({inner})"
    if isinstance(dt, BooleanType):
        return "true" if v else "false"
    if isinstance(dt, IntegralType):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, (DoubleType, FloatType)):
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(f"non-finite literal {f!r} has no portable SQL spelling")
        return f"CAST({f!r}D AS {dt.simpleString()})"
    if isinstance(dt, TimestampType):
        if not isinstance(v, datetime) or v.tzinfo is not None:
            raise TypeError(
                "timestamp cells must be NAIVE datetimes (session-local, "
                "matching createDataFrame); got "
                f"{type(v).__name__}{' with tzinfo' if isinstance(v, datetime) else ''}"
            )
        frac = f".{v.microsecond:06d}" if v.microsecond else ""
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S')}{frac}'"
    if isinstance(dt, DateType):
        if isinstance(v, datetime) or not isinstance(v, date):
            raise TypeError(f"date cells must be datetime.date, got {type(v).__name__}")
        return f"DATE '{v.isoformat()}'"
    if isinstance(dt, StringType):
        # \uXXXX-escape every character the SQL text layer could
        # reinterpret: quote/backslash (string syntax), control chars,
        # and $ { } — the parser's ${...} VARIABLE SUBSTITUTION runs on
        # the raw SQL text BEFORE parsing and would swallow a literal
        # "${x}" (found by the hostile-string property test). All
        # escaped chars are ASCII, so no surrogate-pair handling.
        out = []
        for ch in str(v):
            o = ord(ch)
            if ch in "\\'${}" or o < 0x20 or o == 0x7F:
                out.append(f"\\u{o:04X}")
            else:
                out.append(ch)
        return "'" + "".join(out) + "'"
    raise TypeError(
        f"local_rows_df cannot render a {dt.simpleString()} cell; "
        "use createDataFrame for exotic types"
    )


def local_rows_df(
    spark: SparkSession, schema: str | StructType, rows: list[tuple]
) -> DataFrame:
    """DataFrame of driver-local ``rows`` under a DDL-string or
    ``StructType`` schema, built as a single JVM-side literal
    expression (zero Python tasks at execution, one ``expr`` parse at
    plan construction — see module docstring). ``None`` cells become
    typed nulls; every cell is cast to its schema type, so names and
    types are identical to the ``createDataFrame`` equivalent.
    Nullability may be TIGHTER (non-null literal cells type
    non-nullable where createDataFrame marks everything nullable) —
    safe anywhere a nullable field is accepted, and parquet
    round-trips read back nullable either way. Empty ``rows`` yields
    an empty frame of the same shape, still with zero Python tasks
    (a ``limit(0)`` over one null-struct row)."""
    dt = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    fields = dt.fields
    if not rows:
        nulls = F.struct(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
        return spark.range(0, 1, 1, 1).select(F.inline(F.array(nulls))).limit(0)
    names = [_render_cell(f.name, StringType()) for f in fields]
    rendered = []
    for i, r in enumerate(rows):
        # zip would silently drop surplus cells; mirror createDataFrame
        # and refuse an arity mismatch loudly
        if len(r) != len(fields):
            raise ValueError(
                f"row {i} has {len(r)} cells but the schema has "
                f"{len(fields)} fields"
            )
        cells = ",".join(
            f"{n},{_render_cell(v, f.dataType)}"
            for n, v, f in zip(names, r, fields)
        )
        rendered.append(f"named_struct({cells})")
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.expr("array(" + ",".join(rendered) + ")"))
    )


def arrow_rows_df(
    spark: SparkSession, schema: str | StructType, rows: list[tuple]
) -> DataFrame:
    """DataFrame of driver-local ``rows`` (tuples) under a DDL-string or
    ``StructType`` schema, built from a ``pyarrow.Table`` of exactly
    the declared column types. The frame's schema is ``schema`` and
    its executed plan is a ``LocalTableScan`` at any row count,
    including zero (see module docstring). A row whose arity differs
    from the schema, or a cell of the wrong type, raises from pyarrow
    — there is no silent fallback to the list path."""
    dt = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    cells = pa.array(rows, type=pa.struct(to_arrow_schema(dt)))
    return spark.createDataFrame(pa.Table.from_struct_array(cells), dt)

"""The registry's cross-engine compare: run a row on Spark and its
oracle on DuckDB over the same testdata tables, then compare row
count, column names and the order-insensitive multiset of normalised
rows. The tier-1 sweep (tests/test_registry.py) and
tools/check_oracle.py both use it.
"""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import DataFrame

from py_data_pipeline_app_spark.schemas import TESTDATA_TABLES


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and representation jitter below hash-relevant precision
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(
    sdf: DataFrame, con: duckdb.DuckDBPyConnection, oracle: str
) -> tuple[int, list[str]]:
    """Collect a registry row's frame ``sdf`` and run its ``oracle`` SQL
    on ``con``.

    Returns the Spark row count and the mismatches, empty when the two
    engines agree."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(oracle)
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()

    msgs = []
    if len(srows) != len(drows):
        msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
    if sorted(scols) != sorted(dcols):
        msgs.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
    if not msgs:
        sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
        diff = next((i for i, (a, b) in enumerate(zip(sn, dn)) if a != b), None)
        if diff is not None:
            msgs.append(
                f"value mismatch first-diff@{diff}: "
                f"spark={sn[diff]!r} duckdb={dn[diff]!r}"
            )
    return len(srows), msgs

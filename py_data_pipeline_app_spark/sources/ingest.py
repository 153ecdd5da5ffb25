"""Workbook ingest — the reference's front door (SRC1/SRC2/P4/P5).

Reference semantics re-expressed (app.py:67,126-129):

- read ALL sheets, no header, everything a string (SRC1);
- validate the required sheet set (SRC2, re-checked by process_upload);
- Transactions / Products: promote row 0 to lowercased column names and
  drop it (P5 + P4);
- Customers: NO header promotion — every row of column 0 is a candidate
  blob line (the reference iterates the whole column, app.py:94), and
  the row index becomes ``_sheet_pos``, the ordering column the
  order-aware SCD fold requires (SURVEY.md §2.7).

Scale posture: an .xlsx is a zip container — not splittable, driver-side
by nature, and small in practice (the reference's sheets are ≤ a few
thousand rows). The driver parses it and ``spark.createDataFrame``
parallelizes the rows. For at-scale ingest the staging format is
CSV/Parquet (:func:`ingest_csv_dir` / :func:`ingest_staged_parquet`),
which Spark reads distributed with the same post-ingest contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.sources.xlsx import read_xlsx_sheets

REQUIRED_SHEETS = {"Transactions", "Customers", "Products"}

SHEET_SCHEMAS = {
    "Transactions": schemas.TRANSACTIONS,
    "Products": schemas.PRODUCTS,
}


class MissingSheetsError(ValueError):
    """Raised when the workbook lacks required sheets (reference
    app.py:68-71 flashes and redirects; the engine raises typed)."""


def _read_workbook_rows(path: str) -> dict[str, list[list[str | None]]]:
    """All sheets as raw string rows. Prefers pandas+openpyxl — byte-
    compatible with the reference's ``pd.read_excel(sheet_name=None,
    header=None)`` — and falls back to the stdlib codec
    (sources/xlsx.py) where no Excel engine is installed."""
    try:
        import pandas as pd

        frames = pd.read_excel(path, sheet_name=None, header=None, dtype=object)
        return {
            name: [
                [None if pd.isna(v) else str(v) for v in row]
                for row in pdf.itertuples(index=False)
            ]
            for name, pdf in frames.items()
        }
    except ImportError:
        return read_xlsx_sheets(path)


def promote_header(rows: list[list[str | None]]) -> tuple[list[str], list[list]]:
    """P5: row 0 → lowercased column names, rest is data
    (reference app.py:126-129)."""
    if not rows:
        return [], []
    header = [str(h).lower() if h is not None else "" for h in rows[0]]
    return header, rows[1:]


def sheets_to_dataframes(
    spark: SparkSession, raw_sheets: dict[str, list[list[str | None]]]
) -> dict[str, DataFrame]:
    """Post-ingest DataFrame dict — the contract process_upload takes:
    Transactions/Products with promoted lowercase headers against their
    declared all-string schemas, Customers as (raw, _sheet_pos)."""
    missing = REQUIRED_SHEETS - set(raw_sheets)
    if missing:
        raise MissingSheetsError(
            f"Missing sheets in the uploaded file: {sorted(missing)}"
        )
    out: dict[str, DataFrame] = {}
    for name, schema in SHEET_SCHEMAS.items():
        header, data = promote_header(raw_sheets[name])
        expected = [f.name for f in schema.fields]
        if header != expected:
            raise ValueError(
                f"Sheet {name!r} header mismatch: got {header}, want {expected}"
            )
        out[name] = spark.createDataFrame(
            [[None if v is None else str(v) for v in row] for row in data], schema
        )
    out["Customers"] = spark.createDataFrame(
        [
            (None if not row else row[0], pos)
            for pos, row in enumerate(raw_sheets["Customers"])
        ],
        schemas.CUSTOMERS_RAW,
    )
    return out


def ingest_workbook(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """SRC1: one .xlsx → post-ingest DataFrames."""
    if not path.lower().endswith(".xlsx"):  # SRC3 analog (reference app.py:55-56)
        raise ValueError(f"Only .xlsx uploads are accepted, got: {path}")
    return sheets_to_dataframes(spark, _read_workbook_rows(path))


def ingest_csv_dir(spark: SparkSession, directory: str) -> dict[str, DataFrame]:
    """At-scale staging ingest: ``<dir>/Transactions.csv`` and
    ``<dir>/Products.csv`` with header rows (read distributed, names
    lowercased — P4/P5 at scan time), ``<dir>/Customers.csv`` headerless
    with columns (raw, _sheet_pos) — the staging layer carries the
    position explicitly, because "row order in a file" is not a
    distributed concept Spark may rely on."""
    out: dict[str, DataFrame] = {}
    for name, schema in SHEET_SCHEMAS.items():
        path = os.path.join(directory, f"{name}.csv")
        if not os.path.exists(path):
            raise MissingSheetsError(f"Missing staged sheet: {path}")
        df = spark.read.csv(path, header=True, inferSchema=False)
        df = df.toDF(*[c.lower() for c in df.columns])
        expected = [f.name for f in schema.fields]
        if df.columns != expected:
            raise ValueError(
                f"Staged {name} columns {df.columns} != expected {expected}"
            )
        out[name] = df
    cpath = os.path.join(directory, "Customers.csv")
    if not os.path.exists(cpath):
        raise MissingSheetsError(f"Missing staged sheet: {cpath}")
    out["Customers"] = spark.read.csv(cpath, schema=schemas.CUSTOMERS_RAW)
    return out


def ingest_staged_parquet(spark: SparkSession, directory: str) -> dict[str, DataFrame]:
    """Parquet staging (the real 100 TB path): same contract as
    :func:`ingest_csv_dir`, columnar + splittable + pushdown-friendly."""
    out: dict[str, DataFrame] = {}
    for name in ("Transactions", "Products", "Customers"):
        path = os.path.join(directory, f"{name}.parquet")
        if not os.path.exists(path):
            raise MissingSheetsError(f"Missing staged sheet: {path}")
        df = spark.read.parquet(path)
        out[name] = df.toDF(*[c.lower() if c != "_sheet_pos" else c for c in df.columns])
    return out


def workbook_to_staging(
    spark: SparkSession, xlsx_path: str, staging_dir: str
) -> dict[str, str]:
    """Land one workbook into parquet staging (SRC4 analog: the raw
    artifact is preserved elsewhere; this is the queryable landing)."""
    dfs = ingest_workbook(spark, xlsx_path)
    paths: dict[str, str] = {}
    for name, df in dfs.items():
        p = os.path.join(staging_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths

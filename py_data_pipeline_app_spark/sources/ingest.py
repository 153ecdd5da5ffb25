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
thousand rows). The driver decodes the zip with the stdlib codec
(:mod:`sources.xlsx`), and each sheet enters Spark as a one-partition
Arrow local relation (``functions/frames.local_rows_df``) of the
declared schema, so no upload job runs a Python task to re-read the
ingested rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.sources.xlsx import read_xlsx_sheets

REQUIRED_SHEETS = {"Transactions", "Customers", "Products"}

SHEET_SCHEMAS = {
    "Transactions": schemas.TRANSACTIONS,
    "Products": schemas.PRODUCTS,
}


class MissingSheetsError(ValueError):
    """Raised when the workbook lacks required sheets (reference
    app.py:68-71 flashes and redirects; the engine raises typed)."""


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
    declared all-string schemas, Customers as (raw, _sheet_pos). Rows
    arrive rectangular (the reader pads them; the header check pins the
    width), and every frame is a one-partition Arrow local relation."""
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
        rows = [tuple(None if v is None else str(v) for v in row) for row in data]
        out[name] = local_rows_df(spark, schema, rows)
    out["Customers"] = local_rows_df(
        spark,
        schemas.CUSTOMERS_RAW,
        [(row[0], pos) for pos, row in enumerate(raw_sheets["Customers"])],
    )
    return out


def ingest_workbook(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """SRC1: one .xlsx → post-ingest DataFrames."""
    if not path.lower().endswith(".xlsx"):  # SRC3 analog (reference app.py:55-56)
        raise ValueError(f"Only .xlsx uploads are accepted, got: {path}")
    return sheets_to_dataframes(spark, read_xlsx_sheets(path))

"""The end-to-end upload pipeline — the engine's equivalent of the
reference's four HTTP routes as library calls (SURVEY.md §3):

- :func:`process_upload`  ⟷ ``POST /``   (reference app.py:58-182)
- :func:`list_uploads`    ⟷ ``GET /uploads``          (app.py:193-197)
- :func:`list_address_changes` ⟷ ``GET /address-changes`` (app.py:199-203)
- :func:`write_excel_report`   ⟷ the 3-sheet report sink (app.py:155-167)

One call = one micro-batch: validate → log run metadata → parse the
customer blob → fold SCD state + change log → enrich → aggregate →
report frames. All transformations are lazy DataFrame compositions;
actions happen only at the warehouse sinks and when the caller
materializes report frames.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.aggregates import (
    category_totals,
    customer_details_nested,
    customer_spend_summary,
    top_spender_per_category,
)
from py_data_pipeline_app_spark.operators.enrich import enrich_transactions
from py_data_pipeline_app_spark.operators.parse import parse_customer_blob
from py_data_pipeline_app_spark.operators.scd import apply_scd_batch
from py_data_pipeline_app_spark.sources.ingest import (
    REQUIRED_SHEETS,
    MissingSheetsError,
)
from py_data_pipeline_app_spark.warehouse import Warehouse


@dataclass
class UploadResult:
    upload_id: int
    merged: DataFrame
    category_totals: DataFrame
    summary: DataFrame
    top_spenders: DataFrame
    details_nested: DataFrame
    changes: DataFrame
    rejects: DataFrame


def process_upload(
    spark: SparkSession,
    wh: Warehouse,
    sheets: dict[str, DataFrame],
    *,
    filename: str = "upload.xlsx",
    run_ts: str | None = None,
    strict_compat: bool = False,
) -> UploadResult:
    """Fold one 3-sheet workbook batch through the full pipeline.

    ``sheets`` carries post-ingest DataFrames: Transactions/Products
    with promoted lowercase headers (P5 happens at ingest), Customers
    as (raw, _sheet_pos). ``run_ts`` is injected rather than read from
    the clock (reference app.py:78 stamps datetime.now(); determinism
    demands the caller choose it)."""
    missing = REQUIRED_SHEETS - set(sheets)
    if missing:
        raise MissingSheetsError(f"Missing sheets in the uploaded file: {sorted(missing)}")
    run_ts = run_ts or datetime.now().isoformat()

    txn, cust_raw, products = (
        sheets["Transactions"],
        sheets["Customers"],
        sheets["Products"],
    )

    # SNK1: run metadata with max+1 id (distributed analog of lastrowid).
    # The three sheet counts come from ONE action: each .count() would be
    # its own job (three scans of the input before any real work — two
    # wasted full passes against staged 100-TB parquet); cross-joining
    # the single-row aggregates folds them into a single job.
    upload_id = wh.next_id("uploads")
    counts = (
        txn.agg(F.count(F.lit(1)).alias("_n_txn"))
        .crossJoin(cust_raw.agg(F.count(F.lit(1)).alias("_n_cust")))
        .crossJoin(products.agg(F.count(F.lit(1)).alias("_n_prod")))
        .first()
    )
    wh.append(
        "uploads",
        local_rows_df(
            spark,
            schemas.UPLOADS,
            [(upload_id, filename, run_ts, counts._n_txn, counts._n_cust, counts._n_prod)],
        ),
    )

    # P1/P2/P3: blob parse with rejects channel
    parsed, rejects = parse_customer_blob(cust_raw)

    # S6 + SNK2 + SNK3: order-aware SCD fold against current dim state.
    # upload_id provenance matches the reference (app.py:117-122 only
    # INSERT OR REPLACEs rows present in the batch): batch rows carry
    # this upload's id into the fold, dim-carried rows keep the id of
    # the upload that last touched them.
    current = wh.read("customers")
    scd = apply_scd_batch(
        current,
        parsed.withColumn("upload_id", F.lit(upload_id).cast("long")),
        key="customer_id",
        tracked="address",
    )
    changes = scd.changes.select(
        "customer_id",
        "old_address",
        "new_address",
        F.lit(run_ts).alias("change_timestamp"),
        F.lit(upload_id).cast("long").alias("upload_id"),
    )
    wh.append("address_changes", changes)
    wh.overwrite("customers", scd.new_state)

    # J1/J2 + P6 + A1..A4/W1/O1: enrichment and report aggregates
    merged = enrich_transactions(
        txn, products, parsed, strict_compat=strict_compat
    )
    ct = category_totals(merged)
    summary = customer_spend_summary(ct)
    top = top_spender_per_category(ct)
    nested = customer_details_nested(ct)

    return UploadResult(
        upload_id=upload_id,
        merged=merged,
        category_totals=ct,
        summary=summary,
        top_spenders=top,
        details_nested=nested,
        changes=changes,
        rejects=rejects,
    )


def list_uploads(wh: Warehouse) -> DataFrame:
    """SRC5: run log, newest first (reference app.py:193-197)."""
    df = wh.read("uploads", schemas.UPLOADS)
    return df.orderBy(F.desc("timestamp"), F.desc("id"))


def list_address_changes(wh: Warehouse) -> DataFrame:
    """SRC6: change log, newest first (reference app.py:199-203)."""
    df = wh.read("address_changes", schemas.ADDRESS_CHANGES)
    return df.orderBy(F.desc("change_timestamp"), F.desc("upload_id"))


# Excel's hard sheet limit is 1,048,576 rows; one is spent on the header.
EXCEL_MAX_DATA_ROWS = 1_048_575


def write_merged_mirror(merged: DataFrame, mirror_path: str) -> None:
    """The at-scale MergedData artifact (SURVEY §2.1 SNK4: "MergedData
    may be large → also persist Parquet").

    Executor-side ``DataFrameWriter.parquet`` — the frame NEVER touches
    the driver. At 100 TB the merged fact is the full enriched
    transaction log; a ``toPandas()`` here is a guaranteed driver OOM,
    so this helper is the only writer for the mirror and is
    plan-asserted (test_ingest) to stay distributed."""
    merged.write.mode("overwrite").parquet(mirror_path)


def write_excel_report(
    result: UploadResult, path: str, *, excel_merged_rows: int = EXCEL_MAX_DATA_ROWS
) -> bool:
    """SNK4: the reference's 3-sheet Excel report
    (CategoryTotalsSummary / TopSpenders / MergedData, app.py:155-167).

    Post-aggregation frames (Summary/TopSpenders) are small, so they
    come to the driver via Arrow; pandas+xlsxwriter/openpyxl writes the
    workbook when installed (byte-compatible with the reference sink),
    else the stdlib codec (sources/xlsx.py) does.

    The full merged fact is handled scale-first: the authoritative
    mirror is written DISTRIBUTED to ``{base}_MergedData`` parquet via
    :func:`write_merged_mirror`, and only the first
    ``excel_merged_rows`` rows (default = Excel's 1,048,575-row sheet
    budget) are brought to the driver for the human-readable sheet.
    Returns True."""
    base = path.rsplit(".", 1)[0]
    # At-scale artifact first: executor-side write, no driver collect.
    write_merged_mirror(result.merged, f"{base}_MergedData")
    frames = {
        "CategoryTotalsSummary": result.summary.toPandas(),
        "TopSpenders": result.top_spenders.toPandas(),
        # Sheet view only — capped to Excel's row budget; the mirror
        # above holds the complete data.
        "MergedData": result.merged.limit(excel_merged_rows).toPandas(),
    }
    for sheet in ("CategoryTotalsSummary", "TopSpenders"):
        frames[sheet].to_parquet(f"{base}_{sheet}.parquet")
    try:
        import pandas as pd

        with pd.ExcelWriter(path) as xw:  # engine: whatever is installed
            for sheet, pdf in frames.items():
                pdf.to_excel(xw, sheet_name=sheet, index=False)
    except (ImportError, ValueError, ModuleNotFoundError):
        from py_data_pipeline_app_spark.sources.xlsx import write_xlsx

        write_xlsx(
            path,
            {
                sheet: [list(pdf.columns)] + pdf.values.tolist()
                for sheet, pdf in frames.items()
            },
        )
    return True

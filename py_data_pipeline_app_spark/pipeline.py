"""The end-to-end upload pipeline — the engine's equivalent of the
reference's four HTTP routes as library calls (SURVEY.md §3):

- :func:`process_upload`  ⟷ ``POST /``   (reference app.py:58-182)
- :func:`list_uploads`    ⟷ ``GET /uploads``          (app.py:193-197)
- :func:`list_address_changes` ⟷ ``GET /address-changes`` (app.py:199-203)
- :func:`write_excel_report`   ⟷ the 3-sheet report sink (app.py:155-167)

One call = one micro-batch: validate → log run metadata → parse the
customer blob → fold SCD state + change log → enrich → aggregate →
report frames. All transformations are lazy DataFrame compositions,
and actions happen only at the warehouse sinks (the max+1 id, the
sheet counts, the two appends, the snapshot) and when the caller
materializes report frames. Two things keep that true: every warehouse
read passes its declared schema, so no read runs a footer-inference
job, and the summary rank is a plain window, not a checkpointed
range-partitioned rank (``aggregates.customer_spend_summary``).

The three warehouse sinks are written by :func:`log_upload` and
:func:`fold_customers` only; the streaming upload loop
(``streaming.pipeline.start_customer_stream``) folds each micro-batch
through the same two functions.
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
from py_data_pipeline_app_spark.sources.xlsx import write_xlsx
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

    # SNK1: run metadata. The three sheet counts come from ONE action:
    # each .count() would be its own job (three scans of the input
    # before any real work — two wasted full passes against staged
    # 100-TB parquet); cross-joining the single-row aggregates folds
    # them into a single job.
    counts = (
        txn.agg(F.count(F.lit(1)).alias("_n_txn"))
        .crossJoin(cust_raw.agg(F.count(F.lit(1)).alias("_n_cust")))
        .crossJoin(products.agg(F.count(F.lit(1)).alias("_n_prod")))
        .first()
    )
    upload_id = log_upload(wh, filename, run_ts, tuple(counts))

    # P1/P2/P3: blob parse with rejects channel
    parsed, rejects = parse_customer_blob(cust_raw)
    changes = fold_customers(wh, parsed, upload_id, run_ts)

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


def log_upload(
    wh: Warehouse,
    filename: str,
    timestamp: str,
    counts: tuple[int, int, int],
    *,
    token: str | None = None,
) -> int:
    """SNK1: append one ``uploads`` row — (transactions, customers,
    products) sheet ``counts`` — and return its id: max+1 over the log
    (the distributed analog of the reference's ``lastrowid``,
    app.py:89), or, when ``token`` names an append a first attempt
    already completed (a replayed micro-batch), that attempt's id, so
    the retry overwrites its own row instead of logging a second one."""
    prior = (
        wh.read_token("uploads", token, schemas.UPLOADS) if token is not None else None
    )
    upload_id = int(prior.select("id").head()[0]) if prior is not None else wh.next_id("uploads")
    wh.append(
        "uploads",
        local_rows_df(wh.spark, schemas.UPLOADS, [(upload_id, filename, timestamp, *counts)]),
        token=token,
    )
    return upload_id


def fold_customers(
    wh: Warehouse,
    parsed: DataFrame,
    upload_id: int,
    change_ts: str,
    *,
    token: str | None = None,
) -> DataFrame:
    """S6 + SNK2 + SNK3: the order-aware SCD fold of parsed customer
    rows against the current dimension, its ``address_changes`` append
    and the new ``customers`` snapshot. Returns the change rows.

    upload_id provenance matches the reference (app.py:117-122 only
    INSERT OR REPLACEs rows present in the batch): batch rows carry
    this upload's id into the fold, dim-carried rows keep the id of
    the upload that last touched them.

    With a ``token`` (a micro-batch id) the fold is replay-safe: when
    the token's change-log append already completed, its rows are kept
    and not rewritten — the retry reads the snapshot its first attempt
    wrote, so a re-derived change set would be empty. The snapshot
    fold needs no such guard: folding a batch into a state that already
    holds it yields the same state."""
    current = wh.read("customers", schemas.CUSTOMER_DIM)
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
        F.lit(change_ts).alias("change_timestamp"),
        F.lit(upload_id).cast("long").alias("upload_id"),
    )
    logged = (
        wh.read_token("address_changes", token, schemas.ADDRESS_CHANGES)
        if token is not None
        else None
    )
    if logged is None:
        wh.append("address_changes", changes, token=token)
    else:
        changes = logged
    wh.overwrite("customers", scd.new_state)
    return changes


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
    come to the driver via Arrow, and the stdlib codec
    (sources/xlsx.py) writes the workbook.

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
    write_xlsx(
        path,
        {
            sheet: [list(pdf.columns)] + pdf.values.tolist()
            for sheet, pdf in frames.items()
        },
    )
    return True

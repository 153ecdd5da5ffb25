"""Streaming variant of the upload pipeline (SURVEY.md §2.8/§7 M5).

The reference's upload loop — each POST folds a new batch into keyed
dimension state and appends logs (app.py:58-123) — is exactly the
Structured Streaming micro-batch shape: a file-source stream watches a
landing directory, and every landed file becomes one micro-batch
folded through the batch pipeline's own sink steps
(``pipeline.log_upload`` and ``pipeline.fold_customers``) by the
package's micro-batch driver (``streaming.fold.fold_stream``).

Checkpointing gives exactly-once folding of each landed file into the
warehouse: the file source tracks processed files, and a replayed
batch reuses its micro-batch id as the warehouse append token. State
(the customer dimension) lives in the warehouse's versioned snapshots,
not executor memory — micro-batch N+1 reads the snapshot N wrote, so a
restart resumes from durable state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.operators.parse import parse_customer_blob
from py_data_pipeline_app_spark.pipeline import fold_customers, log_upload
from py_data_pipeline_app_spark.streaming.fold import fold_stream
from py_data_pipeline_app_spark.warehouse import Warehouse


def start_customer_stream(
    spark: SparkSession,
    wh: Warehouse,
    landing_dir: str,
    checkpoint_dir: str,
    *,
    maintain_every: int | None = 16,
) -> StreamingQuery:
    """Watch ``landing_dir`` for parquet customer-blob files (schema:
    raw string, _sheet_pos long) and fold each one, as its own
    micro-batch, into the ``uploads`` log, the customer dimension and
    the address-change log.

    Warehouse maintenance is AUTOMATIC: every ``maintain_every``
    micro-batches both append logs compact (one subdirectory lands per
    batch — unbounded listing otherwise) and old dimension snapshots
    are vacuumed (one full copy per batch otherwise). ``compact_log``'s
    keep-newest rule preserves the replayed batch's token overwrite.
    Pass ``maintain_every=None`` to manage retention out-of-band."""
    stream = (
        spark.readStream.schema(schemas.CUSTOMERS_RAW)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        token = f"batch-{batch_id}"
        upload_id = log_upload(
            wh,
            f"stream-batch-{batch_id}",
            str(batch_id),
            (0, batch_df.count(), 0),
            token=token,
        )
        parsed, _rejects = parse_customer_blob(batch_df)
        fold_customers(wh, parsed, upload_id, str(batch_id), token=token)

    def maintain() -> None:
        wh.compact_log("uploads")
        wh.compact_log("address_changes")
        # keep_last=2: the snapshot just written plus its parent — the
        # read at the top of the next fold can never lose its input
        wh.vacuum("customers", keep_last=2)

    return fold_stream(
        stream, checkpoint_dir, fold, maintain=maintain, maintain_every=maintain_every
    )


def start_windowed_event_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    *,
    window_dur: str = "1 hour",
    watermark: str = "30 minutes",
    query_name: str = "event_counts",
) -> StreamingQuery:
    """Tumbling-window event counts over a parquet event stream with a
    watermark: state for windows older than the watermark horizon is
    evicted, and later rows are dropped — bounded state regardless of
    stream length. Results land in an in-memory sink table named
    ``query_name`` (swap for a parquet/kafka sink in production)."""
    from py_data_pipeline_app_spark.streaming.windows import tumbling_counts

    events_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(events_schema)
        .parquet(landing_dir)
        .withWatermark("ts", watermark)
    )
    agg = tumbling_counts(stream, window_dur=window_dur)
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming variant of the upload pipeline (SURVEY.md §2.8/§7 M5).

The reference's upload loop — each POST folds a new batch into keyed
dimension state and appends logs (app.py:58-123) — is exactly the
Structured Streaming ``foreachBatch`` shape: a file-source stream
watches a landing directory; every discovered file becomes a
micro-batch folded through the same set-based SCD operator the batch
pipeline uses.

Checkpointing gives exactly-once folding of each landed file into the
warehouse (the file source tracks processed files; foreachBatch
replays an interrupted batch). State (the customer dimension) lives in
the warehouse's versioned snapshots, not executor memory — micro-batch
N+1 reads the snapshot N wrote, so a restart resumes from durable
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.parse import parse_customer_blob
from py_data_pipeline_app_spark.operators.scd import apply_scd_batch
from py_data_pipeline_app_spark.warehouse import Warehouse


def start_customer_stream(
    spark: SparkSession,
    wh: Warehouse,
    landing_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    maintain_every: int | None = 16,
) -> StreamingQuery:
    """Watch ``landing_dir`` for parquet customer-blob files (schema:
    raw string, _sheet_pos long) and fold each micro-batch into the
    customer dimension + address-change log.

    Warehouse maintenance is AUTOMATIC: every ``maintain_every``
    micro-batches the fold compacts both append logs (one subdirectory
    lands per batch — unbounded listing otherwise) and vacuums old
    dimension snapshots (one full copy per batch otherwise). Running
    it inside foreachBatch structurally serializes maintenance with
    folds (the single-compactor contract), and ``compact_log``'s
    keep-newest rule preserves the replayed-batch token-overwrite
    idempotency exactly like the LSH index stream's auto-compaction.
    Pass ``maintain_every=None`` to manage retention out-of-band."""
    stream = (
        spark.readStream.schema(schemas.CUSTOMERS_RAW)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        parsed, _rejects = parse_customer_blob(batch_df)
        current = wh.read("customers", schemas.CUSTOMER_DIM)
        # Idempotent replay: log appends are keyed by the micro-batch id
        # (same token ⇒ same log subdir, overwritten not duplicated), and
        # a replayed batch reuses the upload_id its first attempt logged
        # instead of re-deriving max+1 from a log that already holds it.
        token = f"batch-{batch_id}"
        prior = wh.read_token("uploads", token)
        if prior is not None:
            upload_id = int(prior.select("id").head()[0])
        else:
            upload_id = wh.next_id("uploads")
        wh.append(
            "uploads",
            local_rows_df(
                batch_df.sparkSession,
                schemas.UPLOADS,
                [(upload_id, f"stream-batch-{batch_id}", str(batch_id), 0, batch_df.count(), 0)],
            ),
            token=token,
        )
        scd = apply_scd_batch(
            current,
            parsed.withColumn("upload_id", F.lit(upload_id).cast("long")),
            key="customer_id",
            tracked="address",
        )
        wh.append(
            "address_changes",
            scd.changes.select(
                "customer_id",
                "old_address",
                "new_address",
                F.lit(str(batch_id)).alias("change_timestamp"),
                F.lit(upload_id).cast("long").alias("upload_id"),
            ),
            token=token,
        )
        wh.overwrite("customers", scd.new_state)
        if maintain_every and batch_id > 0 and batch_id % maintain_every == 0:
            wh.compact_log("uploads")
            wh.compact_log("address_changes")
            # keep_last=2: the snapshot just written plus its parent —
            # the read at the top of this fold can never lose its input
            wh.vacuum("customers", keep_last=2)

    return (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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

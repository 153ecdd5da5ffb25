"""Incremental corpus-level span deduplication: the crawl-cadence twin
of :func:`~py_data_pipeline_app_spark.operators.curation.
chunk_dedup_rebuild` (extension — no reference evidence).

The batch operator re-fingerprints the whole corpus per run; a crawl
pipeline instead folds each new snapshot against a persisted
chunk-fingerprint index: a span survives iff its fingerprint has never
been seen — in ANY previous batch or earlier in this one — and the
batch's NEW fingerprints append to the index. Per-fold cost is
∝ |batch| chunks plus one broadcast-or-keyed join against the
fingerprint set; history is never re-chunked.

Parity contract (tested + oracle-checked): folding batches in id order
(every doc id in batch k sorts before every id in batch k+1) emits
exactly the per-document rebuilds of one batch ``chunk_dedup_rebuild``
over the concatenated corpus — first-occurrence order is (batch, doc,
pos) both ways.

Index layout (shared helper pattern with the incremental LSH index):
``fps/batch-{token}`` subdirectories of distinct fingerprints —
``partitionBy(pb)`` on a hash prefix of the fingerprint, so the
fold's history read partition-prunes to the batch's own prefixes —
written in overwrite mode (a retried fold replaces its own partial
append, and its history read excludes its own token — exactly-once
under foreachBatch replay); a one-row config manifest pins
``chunk_tokens`` and ``part_buckets`` (fingerprints of different span
sizes NEVER match, and a drifted partition scheme would make pruned
probes skip old history, so a drifted fold would silently dedup
nothing — it fails loudly instead); mutators are serialized by the
same atomic lock marker.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.operators.dedup_incremental import (
    PART_COL,
    _acquire_index_lock,
    _append_batch,
    _batch_part_values,
    _check_or_write_config,
    _pinned_history,
    compact_index,
    part_bucket_col,
)

FPS_SUBDIR = "fps"


def incremental_span_fold(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
    part_buckets: int | None = None,
    batch_token: str | None = None,
) -> DataFrame:
    """Fold a document batch against the persisted span index and
    return the batch's rebuilt documents (id, text_deduped, n_chunks,
    n_kept) — semantics identical to the batch operator run over
    history∪batch, paid at batch cost.

    Scale shape: chunking/fingerprinting is a per-row projection; the
    history check is one left join keyed by the 16-byte fingerprint
    (Spark broadcasts it while the distinct-fp set is small and
    shuffles both sides by fp once it is not — either way cost is
    ∝ batch + matching index rows, never ∝ corpus text); the
    within-batch first-occurrence window and the rebuild groupBy are
    the batch operator's own two keyed exchanges. The index append is
    the batch's distinct NEW fingerprints only, so the index grows by
    novel content, not by corpus size. The fingerprint table is
    stored ``partitionBy(pb = xxhash64(fp) % part_buckets)`` and the
    history read carries an ``IN``-filter on the batch's own prefixes
    — a small batch reads only the partition directories its
    fingerprints could possibly live in (plan-asserted pruning;
    dropped when the batch saturates the prefix space).
    ``part_buckets=None`` (the default) auto-sizes the fanout at the
    first fold from the batch's input bytes — small feeds get the
    unpartitioned flat layout (1: no pb column, no partition dirs),
    corpus-scale feeds get ``DEFAULT_PART_BUCKETS`` — and later folds
    adopt the persisted value; production indexes should size it
    explicitly (measured rule #6).

    NOTE the returned frame is LAZY but the index append is EAGER —
    fold order is the dedup precedence order, so the append cannot
    wait for a consumer that may never collect."""
    token = batch_token or uuid.uuid4().hex[:12]
    with _acquire_index_lock(spark, index_path, "span fold"):
        # fingerprints of different span sizes never match
        part_buckets = _check_or_write_config(
            spark,
            index_path,
            "span",
            {"chunk_tokens": chunk_tokens},
            part_buckets,
            batch,
        )
        flat = part_buckets <= 1
        from py_data_pipeline_app_spark.operators.curation import (
            with_token_chunks,
        )

        # localCheckpoint: consumed by the prefix-set collect
        # (partitioned layout only), the first-occurrence marking, and
        # the novel-fp append — multiple consumers would otherwise
        # each re-run the chunk explode + md5 over the batch (the
        # multi-consumer eager-frame rule). LAZY: the first consuming
        # action (prefix-set collect, or the append in the flat
        # layout) materializes it
        exploded = with_token_chunks(batch, text_col, chunk_tokens).select(
            F.col(id_col), F.posexplode(F.col("_chunks")).alias("pos", "chunk")
        ).withColumn("fp", F.md5(F.col("chunk")))
        if not flat:
            exploded = exploded.withColumn(
                PART_COL, part_bucket_col(["fp"], part_buckets)
            )
        exploded = exploded.localCheckpoint(eager=False)
        fp_cols = ["fp"] if flat else ["fp", PART_COL]
        hist_like = exploded.select(*fp_cols).limit(0)
        # distinct() makes the fold tolerant of duplicate fingerprints
        # in history (a compaction that crashed after writing its
        # merged directory but before deleting the sources) — without
        # it the left join below fans out chunk rows per duplicate and
        # corrupts n_chunks/n_kept; the LSH fold gets the same
        # tolerance from its candidate distinct. The pb column is
        # consumed by the partition-pruning filter and dropped before
        # the fp-keyed joins (both sides carry it — keeping it would
        # shadow-name the join output).
        history = (
            _pinned_history(
                spark,
                index_path,
                FPS_SUBDIR,
                hist_like,
                exclude_token=token,
                prune_to=(
                    None
                    if flat
                    else _batch_part_values(
                        exploded.select(PART_COL), part_buckets
                    )
                ),
            )
            .select("fp")
            .distinct()
            .withColumn("_seen", F.lit(True))
        )
        w = Window.partitionBy("fp").orderBy(id_col, "pos")
        marked = (
            exploded.withColumn("rn", F.row_number().over(w))
            .join(history, "fp", "left")
            .withColumn(
                "is_first", (F.col("rn") == 1) & F.col("_seen").isNull()
            )
        )
        # EAGER index append: this batch's novel fingerprints become
        # history for every later fold
        new_fps = (
            exploded.select(*fp_cols)
            .distinct()
            .join(history.select("fp"), "fp", "left_anti")
        )
        _append_batch(new_fps, index_path, FPS_SUBDIR, token, single_file=True)
        rebuilt = marked.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_first").cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct(F.col("pos"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("text_deduped"),
        )
        return rebuilt.select(
            id_col,
            "text_deduped",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_kept").cast("int").alias("n_kept"),
        )


def compact_fps(
    spark: SparkSession, index_path: str, *, keep_newest: bool = True
) -> int:
    """Merge the ``fps/batch-*`` subdirectories into one consolidated
    batch of distinct fingerprints —
    :func:`~py_data_pipeline_app_spark.operators.dedup_incremental.compact_index`
    on this index's layout, inheriting the shared lock, keep-newest
    (by write time) replay protection and convergence-not-atomicity
    crash model unchanged. A crash that leaves fingerprints twice in
    history is harmless: the fold runs ``distinct`` over its history.
    Returns the number of directories merged."""
    return compact_index(
        spark, index_path, keep_newest=keep_newest, tables=((FPS_SUBDIR, None),)
    )

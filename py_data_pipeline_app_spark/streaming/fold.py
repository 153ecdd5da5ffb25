"""The one micro-batch driver every stream in the package runs on
(SURVEY.md §2.8/§7 M5): a file-landing stream whose every micro-batch
is folded into persisted state by a plain batch function.

:func:`fold_stream` is the package's only ``foreachBatch``. Callers
hand it the operator's own fold — ``incremental_lsh_fold``,
``ivf_index_append``, ``curation_fold``, the upload pipeline's
``log_upload``/``fold_customers`` — and, optionally, the operator's own
compactor as ``maintain``.

Exactly-once under replay. Structured Streaming commits a micro-batch
to the checkpoint only after ``foreachBatch`` returns, so after a crash
it re-runs the last uncommitted batch with the SAME ``batch_id`` and
the same input files. Everything a fold writes is therefore keyed on
that id:

- the frame a fold returns lands in ``{out}/batch-{batch_id:08d}`` in
  overwrite mode, so a retry replaces its partial output instead of
  appending duplicates;
- the persisted indexes and warehouse logs take the id as their
  ``batch_token``/``token``: a replayed batch excludes its own
  half-committed write from history and overwrites it;
- ``maintain`` runs inside the batch, after its output landed, so
  maintenance is serialized with folds by construction (the single-
  compactor contract). Every compactor keeps the newest batch's
  directory untouched, so the one batch that could still replay keeps
  its own-token exclusion intact.

State lives in parquet on shared storage, never in the streaming state
store, and ``availableNow`` drains the landing directory and stops: a
later call with the same checkpoint folds only newly landed files.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from py_data_pipeline_app_spark import fsio


def write_fold_output(df: DataFrame, out: str, batch_id: int) -> None:
    """Land one micro-batch's output in its own overwrite-mode
    ``batch-{batch_id:08d}`` subdirectory of ``out``."""
    df.write.mode("overwrite").parquet(f"{out.rstrip('/')}/batch-{batch_id:08d}")


def fold_stream(
    stream: DataFrame,
    checkpoint: str,
    fold: Callable[[DataFrame, int], object],
    *,
    out: str | None = None,
    maintain: Callable[[], object] | None = None,
    maintain_every: int | None = 16,
    query_name: str | None = None,
) -> StreamingQuery:
    """Start ``stream`` with ``fold(batch_df, batch_id)`` run on every
    micro-batch. A returned frame is written with
    :func:`write_fold_output` under ``out`` (any other return value,
    such as an index append's path, is ignored); then, when
    ``maintain_every`` divides a nonzero ``batch_id``, ``maintain()``
    runs. The eager write also drains a lazy fold result before
    maintenance can delete any directory it reads. ``maintain_every=None``
    leaves maintenance to the caller."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        result = fold(batch_df, batch_id)
        if isinstance(result, DataFrame):
            write_fold_output(result, out, batch_id)
        if maintain and maintain_every and batch_id > 0 and batch_id % maintain_every == 0:
            maintain()

    writer = stream.writeStream.foreachBatch(sink)
    if query_name is not None:
        writer = writer.queryName(query_name)
    return (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_fold_output(spark: SparkSession, out: str) -> DataFrame:
    """Every landed micro-batch's rows as one frame: the union of the
    ``batch-*`` subdirectories only, so anything else kept under
    ``out`` (the curation stream's ``shards``) stays out of it."""
    out = out.rstrip("/")
    dirs = [
        f"{out}/{name}"
        for name, is_dir in fsio.child_entries(spark, out)
        if is_dir and name.startswith("batch-")
    ]
    if not dirs:
        raise ValueError(f"no landed batches under {out}")
    return spark.read.parquet(*dirs)

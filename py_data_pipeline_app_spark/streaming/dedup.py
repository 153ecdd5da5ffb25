"""Streaming exact deduplication: the incremental front-door twin of
operators.dedup.exact_dedup (extension — the reference has no
streaming surface).

An ingestion stream dedups arriving documents by content fingerprint
with ``dropDuplicatesWithinWatermark``: state is keyed by the 16-byte
md5 of the normalized text and expires once the event-time watermark
passes the first occurrence's timestamp plus the delay — so state
size is bounded by the watermark horizon (arrival rate × delay), not
by corpus history. The semantic contract, asserted in tests:

- a duplicate arriving while the original's state is live (same
  micro-batch or later, within the watermark) is DROPPED;
- a duplicate arriving after the state expired is RE-EMITTED — exact
  global dedup over unbounded history is a batch job by definition
  (operators.dedup), the streaming operator bounds staleness instead.

At 100 TB-scale ingestion this is the right split: the stream keeps
the recent horizon clean in real time; a periodic batch exact_dedup
sweep (cheap: one shuffle on the fingerprint) reconciles history.

Run it through the package's one micro-batch driver, which lands each
batch's survivors replay-idempotently::

    fold_stream(streaming_exact_dedup(stream), ckpt, lambda df, i: df, out=out)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.text import normalize_text


def streaming_exact_dedup(
    stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Add the content fingerprint and drop duplicates within the
    watermark horizon. Pure transformation — attach any sink."""
    return (
        stream.withColumn("fingerprint", F.md5(normalize_text(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


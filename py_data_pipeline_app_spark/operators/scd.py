"""SCD type-1 dimension maintenance + CDC change log — operator S6 and
sinks SNK2/SNK3 of SURVEY.md §2.7.

The reference runs a per-row loop: for each parsed customer row in
sheet order, point-SELECT the current address (same connection ⇒ sees
earlier uncommitted writes from this very batch), log a change row if
the address differs, then INSERT OR REPLACE (reference app.py:110-123).
Net semantics: every row is compared against the immediately preceding
occurrence of its customer_id — whether that occurrence is pre-existing
dimension state or an earlier row in the same batch.

Set-based rewrite (one shuffle on customer_id, no N+1):

1. union current dim state as position −1 with the batch rows carrying
   their ingest position;
2. ``lag(address)`` over (partition by customer_id, order by position);
3. changes = rows where lag is non-null and differs;
4. new dim state = last row per customer_id.

This is order-aware (the ``_sheet_pos`` column is captured at ingest)
and scales: partitioned by customer_id, each partition sorts a handful
of rows. At 100 TB dim scale the same plan holds — one hash shuffle of
the (much smaller) batch + dim keyed by customer_id.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.operators.enrich import dedup_last_by_key


@dataclass
class ScdResult:
    new_state: DataFrame  # full refreshed dimension (last-write-wins)
    changes: DataFrame    # customer_id, old_address, new_address


def apply_scd_batch(
    current_dim: DataFrame | None,
    batch: DataFrame,
    *,
    key: str = "customer_id",
    tracked: str = "address",
    order_col: str = "_sheet_pos",
) -> ScdResult:
    """Fold one batch of parsed customer rows into the dimension.

    ``current_dim`` may be None (first ever load). ``batch`` must carry
    ``order_col`` (ingest line position) for intra-batch ordering.
    """
    attrs = [c for c in batch.columns if c != order_col]

    staged = batch.select(*attrs, F.col(order_col).cast("long").alias("_pos"))
    if current_dim is not None:
        dim_staged = current_dim.select(
            *[F.col(c) if c in current_dim.columns else F.lit(None).cast("string").alias(c) for c in attrs],
            F.lit(-1).cast("long").alias("_pos"),
        )
        staged = dim_staged.unionByName(staged)

    w = Window.partitionBy(key).orderBy("_pos")
    lagged = staged.withColumn("_prev", F.lag(tracked).over(w))

    changes = (
        lagged.filter(F.col("_pos") >= 0)
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") != F.col(tracked)))
        .select(
            F.col(key),
            F.col("_prev").alias(f"old_{tracked}"),
            F.col(tracked).alias(f"new_{tracked}"),
        )
    )

    new_state = dedup_last_by_key(staged, key, "_pos").select(*attrs)
    return ScdResult(new_state=new_state, changes=changes)

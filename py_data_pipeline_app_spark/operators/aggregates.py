"""Report aggregations — operators A1/A2/A3/A4, W1, O1 of SURVEY.md §2.

All are single groupBy/window compositions: Spark gives partial
(map-side) aggregation and whole-stage codegen for free. The expensive
part (fact-table aggregation) happens before any rank, partitioned on
the group keys. The customer summary is then ranked by one
unpartitioned window: the report pulls that frame whole into the
driver, so its one-partition sort is no bigger than the collect that
follows it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.scalar import money_round, null_safe_double


def category_totals(merged: DataFrame) -> DataFrame:
    """A1: spend per (customer_id, name, category).

    ``sum`` skips NULLs exactly as pandas' skipna sum skips the NaNs
    produced by the coerce-cast (reference app.py:133,136)."""
    return (
        merged.withColumn("amount", null_safe_double("amount"))
        .groupBy("customer_id", "name", "category")
        .agg(F.sum("amount").alias("amount"))
    )


def customer_spend_summary(cat_totals: DataFrame) -> DataFrame:
    """A2 → P7 → W1 → O1: per-customer total, half-even-rounded, dense
    ranked descending, sorted by rank.

    Rank is computed on the ROUNDED amount (reference app.py:140 runs
    before :141), so post-round ties share a dense rank; a NULL total
    (all amounts garbage) ranks last, in its own tier.

    The rank is a plain ``dense_rank() OVER (ORDER BY amount DESC)``
    on one partition, the reference's single pandas sort
    (app.py:139-142); the result has one row per customer and goes to
    the driver whole (``write_excel_report``'s ``toPandas``). Building
    the frame runs no job."""
    totals = cat_totals.groupBy("customer_id", "name").agg(
        money_round(F.sum("amount")).alias("amount")
    )
    rank = F.dense_rank().over(Window.orderBy(F.col("amount").desc()))
    return totals.withColumn("rank", rank).orderBy("rank", "customer_id")


def top_spender_per_category(cat_totals: DataFrame) -> DataFrame:
    """A3: arg-max row per category.

    pandas idxmax breaks ties by first occurrence in groupby output
    order — sorted by (customer_id, name, category) — so the
    deterministic equivalent is a secondary ascending sort on
    customer_id (SURVEY.md §2.4 A3).

    Implemented as a hash aggregation — ``min(struct(-amount,
    customer_id, …))`` (struct comparison is lexicographic, so min
    means amount DESC then customer_id ASC) — rather than a
    row_number window: the agg gets map-side partial aggregation and
    avoids shuffling every group row into |categories| partitions for
    a sort, which skews badly when categories are few and rows many."""
    m = F.min(
        F.struct(
            (-F.col("amount")).alias("neg_amount"),
            F.col("customer_id").alias("customer_id"),
            F.col("name").alias("name"),
        )
    ).alias("m")
    return (
        cat_totals.groupBy("category")
        .agg(m)
        .select(
            F.col("m.customer_id").alias("customer_id"),
            F.col("m.name").alias("name"),
            F.col("category"),
            money_round(-F.col("m.neg_amount")).alias("amount"),
        )
        .orderBy("category")
    )


def customer_details_nested(cat_totals: DataFrame) -> DataFrame:
    """A4: per-customer nested list of category rows for drill-down UI.

    ``collect_list`` order is nondeterministic across partitions, so the
    engine sorts the array (struct comparison is field-order
    lexicographic) to make the result stable and hashable. The detail
    struct carries customer_id — the reference's drill-down records
    (app.py:151, to_dict orient='records') include it."""
    rounded = cat_totals.withColumn("amount", money_round(F.col("amount")))
    return rounded.groupBy("customer_id").agg(
        F.sort_array(
            F.collect_list(F.struct("customer_id", "category", "name", "amount"))
        ).alias("details")
    )

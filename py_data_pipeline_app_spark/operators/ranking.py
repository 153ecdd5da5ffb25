"""Two-phase global dense rank — the 100-TB-safe replacement for an
unpartitioned ``Window.orderBy`` (operator W1 of SURVEY.md §2;
reference app.py:139-142 ranks with a single pandas sort).

A bare ``dense_rank() OVER (ORDER BY k)`` forces Catalyst to plan
``Exchange SinglePartition`` over the *entire* ranked relation: one
task sorts everything. Fine when the input is one row per customer at
sf0.1; a straggler-by-construction at 10⁹ customers. The classic
two-phase shape keeps every heavy step partitioned:

1. ``repartitionByRange`` on the sort key — equal keys land in exactly
   one partition, and partition index order follows sort order, so a
   per-partition rank is globally consistent up to an additive offset.
2. Local ``dense_rank`` windowed by partition id — parallel sorts of
   ~|rows|/P each, never a global one.
3. Per-partition distinct-key counts (a P-row aggregate; nulls counted
   separately because ``count(DISTINCT k)`` skips them while
   ``dense_rank`` does not) → cumulative offsets via a window over the
   P summary rows. That window *is* single-partition, over P ≈
   shuffle-partitions rows — the whole point of the rewrite is that
   only this O(P) step is serial.
4. Broadcast the offsets back and add.

The ranged relation feeds both the local-rank branch and the counts
branch; ``localCheckpoint(eager=False)`` materializes it once so the
upstream aggregation isn't executed twice (same diamond-reuse lesson
as connected components, operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_PID = "__gdr_pid"
_LOCAL = "__gdr_local_rank"
_OFF = "__gdr_offset"


def global_dense_rank(
    df: DataFrame,
    order_col: str,
    rank_col: str = "rank",
    descending: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``rank_col`` = global dense rank of ``order_col``.

    Semantically identical to
    ``dense_rank() OVER (ORDER BY order_col [DESC])`` (ties share a
    rank, no gaps; nulls rank last) but with no full-relation
    single-partition Exchange. Output columns: ``*df.columns`` then
    ``rank_col`` (int), preserving the one-phase schema.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    key = F.col(order_col).desc() if descending else F.col(order_col).asc()

    ranged = (
        df.repartitionByRange(num_partitions, key)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )

    local = ranged.withColumn(
        _LOCAL, F.dense_rank().over(Window.partitionBy(_PID).orderBy(key))
    )

    # distinct keys per partition; +1 if the partition holds nulls
    # (dense_rank gives nulls a rank tier, countDistinct drops them)
    counts = ranged.groupBy(_PID).agg(
        (
            F.count_distinct(F.col(order_col))
            + F.max(F.col(order_col).isNull().cast("int"))
        ).alias("_nd")
    )
    off_w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        F.col(_PID), F.coalesce(F.sum("_nd").over(off_w), F.lit(0)).alias(_OFF)
    )

    out_cols = [F.col(c) for c in df.columns]
    return (
        local.join(F.broadcast(offsets), _PID)
        .select(
            *out_cols,
            (F.col(_LOCAL) + F.col(_OFF)).cast("int").alias(rank_col),
        )
    )


_TOT = "__grn_total"


def global_row_number(
    df: DataFrame,
    order_by: list[tuple[str, bool]],
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``rn_col`` = global row_number over ``order_by`` (list of
    (column, descending) pairs) plus ``__grn_total`` = total row count,
    with the same two-phase shape as :func:`global_dense_rank`: range
    partition on the sort keys, per-partition row_number, per-partition
    ROW counts (simpler than the dense variant — no distinct needed)
    cumsum'd over the P summary rows, broadcast back.

    The caller must make ``order_by`` a TOTAL order (include a unique
    tiebreak column) — equal full keys straddling a range boundary
    would otherwise be numbered in partition order, deterministic but
    not oracle-reproducible."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    keys = [F.col(c).desc() if d else F.col(c).asc() for c, d in order_by]

    ranged = (
        df.repartitionByRange(num_partitions, *keys)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local = ranged.withColumn(
        _LOCAL, F.row_number().over(Window.partitionBy(_PID).orderBy(*keys))
    )
    counts = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("_n"))
    off_w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    all_w = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        F.col(_PID),
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias(_OFF),
        F.sum("_n").over(all_w).alias(_TOT),
    )
    out_cols = [F.col(c) for c in df.columns]
    return local.join(F.broadcast(offsets), _PID).select(
        *out_cols,
        (F.col(_LOCAL) + F.col(_OFF)).cast("bigint").alias(rn_col),
        F.col(_TOT),
    )


def equi_depth_buckets(
    df: DataFrame,
    order_by: list[tuple[str, bool]],
    k: int,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each row to one of ``k`` equi-depth buckets of the
    ``order_by`` total order (deciles at k=10) — the ntile-class
    operation WITHOUT ntile's single-partition global sort. Bucket =
    ``floor((rn - 1) * k / n) + 1`` over the two-phase global row
    number: sizes differ by at most one, boundaries are deterministic,
    and the only serial step stays the P-row offset cumsum. (Exact
    ntile() front-loads its remainder rows; this formula spreads them —
    pick ONE formula and mirror it in any cross-engine check.)"""
    if k <= 0:
        raise ValueError("k must be positive")
    with_rn = global_row_number(df, order_by, rn_col="__edb_rn", num_partitions=num_partitions)
    bucket = (
        F.floor((F.col("__edb_rn") - 1) * k / F.col(_TOT)).cast("int") + 1
    )
    return with_rn.withColumn(bucket_col, bucket).drop("__edb_rn", _TOT)

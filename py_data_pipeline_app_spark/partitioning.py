"""Scale-adaptive parallelism floor for unsplittable inputs.

A parquet file with a SINGLE row group cannot be split below one task
(Spark assigns splits by row-group midpoint), so a scan of such a file
opens as ONE partition, and any expensive narrow stage downstream — an
Arrow ``mapInPandas`` decode, a per-row shingle/pair explode feeding a
partial aggregate — runs on one core (guide §2.5 "input skew: one huge
unsplittable file … repartition immediately after the read"; §6 split
sizing cannot help below one row group).

:func:`fan_out` repartitions a frame up to the cluster's default
parallelism ONLY when its physical plan has fewer partitions
(``df.rdd.getNumPartitions()``), so it is

- a round-robin shuffle of a tiny frame locally (µs of data, buys
  cores-many tasks on the compute stage that follows), and
- a NO-OP at scale, where a real corpus scan already carries at least
  cores-many partitions — the guard keeps the knob scale-adaptive
  instead of tuned to either environment.

Round-robin ``repartition(n)`` sorts its input locally first
(``spark.sql.execution.sortBeforeRepartition``, default on) so retried
tasks reproduce the same row placement — deterministic under retry.
Results are unaffected: every consumer below a ``fan_out`` is row-wise
or aggregates with partitioning-insensitive keys (hash-chunked caps,
sorted collect_lists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, *, min_partitions: int | None = None) -> DataFrame:
    """Ensure ``df`` has at least ``min_partitions`` (default: the
    session's ``defaultParallelism``) partitions before an expensive
    narrow stage. No-op when the frame is already at least that wide."""
    sc = df.sparkSession.sparkContext
    target = int(min_partitions or sc.defaultParallelism)
    if target <= 1:
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-time probe; shuffle is safe
        current = None
    if current is not None and current >= target:
        return df
    return df.repartition(target)

"""partitioning.fan_out: the scale-adaptive parallelism floor."""

from __future__ import annotations

from py_data_pipeline_app_spark.partitioning import fan_out


def test_fan_out_widens_single_split_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    target = spark.sparkContext.defaultParallelism
    assert fan_out(docs).rdd.getNumPartitions() == max(target, 1)
    # already-wide frames pass through untouched (the scale guard)
    wide = docs.repartition(target + 7)
    assert fan_out(wide) is wide

"""The curated-corpus sink: training shards with deterministic
membership and intra-file order (extension — the reference's SQLite
storage has no layout dimension at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
    files_per_shard: int = 1,
    shuffle_order: bool = False,
    verify: bool = True,
) -> int:
    """The curated-corpus SINK: write the training set as
    ``n_shards × files_per_shard`` parquet files with DETERMINISTIC
    membership and intra-file order.

    A trainer's data loader wants (a) a fixed shard count matched to
    its worker count, (b) the same document in the same shard on every
    rebuild (resumable runs, reproducible ablations — so membership is
    a hash of the id, never round-robin over an arbitrary partition
    layout), and (c) a stable order within each file so a (shard,
    part, offset) checkpoint identifies a sample forever.
    ``df.repartition`` round-robins from whatever partitioning the
    curation pipeline ended with — none of those properties hold.

    ``files_per_shard`` is the SCALE knob: with 1 (the default) each
    shard is exactly one file written by one task — simple addressing,
    but at 100 TB / 1,024 shards that funnels ~100 GB through a single
    task per file. Raising it splits each shard into ``part`` files by
    a second independent id hash (membership and order stay
    hash-deterministic; a sample address becomes (shard, part,
    offset)), multiplying write parallelism without changing which
    shard any document belongs to.

    One shuffle keyed on (shard, part), then an intra-partition sort;
    directory shard=i/part=j holds exactly the docs with
    hash(id) % n_shards == i and part-hash(id) % files_per_shard == j,
    in id order, in one file.

    ``shuffle_order`` replaces the id order inside each file with a
    deterministic pseudo-random order (sort by a third independent
    md5 of the id, ties by id): sequential readers then see ~IID
    batches even when ids correlate with source/crawl order — the
    trainer-side shuffle buffer stops being the only defense. The
    (shard, part, offset) addressing contract is unchanged — the
    order is still a pure function of the ids present, so a rebuild
    reproduces every offset; it is just no longer the sorted-id order.

    ``verify`` re-reads the sink and counts distinct (shard, part)
    directories — a cheap invariant job at test scale, skippable at
    100 TB (the write itself is deterministic; the read-back only
    guards against an empty hash cell). When verification runs and a
    cell IS empty (possible on corpora small relative to
    n_shards × files_per_shard), this RAISES: a trainer sized to
    n_shards workers must not silently discover a missing shard at
    epoch time. Returns the verified file count (or the expected count
    when ``verify=False``)."""
    from pyspark.sql import functions as F

    from py_data_pipeline_app_spark.operators.sampling import hash_bucket

    shard = (hash_bucket(F.col(id_col), seed) % F.lit(n_shards)).cast("int")
    out = df.withColumn("shard", shard)
    part_cols = ["shard"]
    if files_per_shard > 1:
        part = (
            hash_bucket(F.col(id_col), f"{seed}:part") % F.lit(files_per_shard)
        ).cast("int")
        out = out.withColumn("part", part)
        part_cols.append("part")
    sort_keys: list = [F.col(c) for c in part_cols]
    if shuffle_order:
        from py_data_pipeline_app_spark.functions.text import md5_long

        sort_keys.append(
            md5_long(
                F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}:order"))
            )
        )
    sort_keys.append(F.col(id_col))
    out = out.repartition(
        n_shards * files_per_shard, *part_cols
    ).sortWithinPartitions(*sort_keys)
    out.write.mode("overwrite").partitionBy(*part_cols).parquet(path)
    expected = n_shards * files_per_shard
    if not verify:
        return expected
    spark = df.sparkSession
    written = spark.read.parquet(path).select(*part_cols).distinct().count()
    if written < expected:
        raise ValueError(
            f"training-shard sink at {path} produced {written} of "
            f"{expected} (shard, part) cells - the corpus is too small for "
            f"n_shards={n_shards} x files_per_shard={files_per_shard} and a "
            "trainer sized to that layout would starve. Lower the shard "
            "count or accept the layout explicitly with verify=False."
        )
    return written

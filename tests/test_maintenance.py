"""The curated-corpus sink: deterministic training-shard membership,
intra-file order and the shard-count contract."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

def test_write_training_shards_deterministic_membership_and_order(spark, tmp_path):
    """The curated-corpus sink: shard membership is a pure hash of the
    id (reproduced in python), intra-shard files are id-ordered, and a
    differently-partitioned input produces byte-identical shards."""
    import hashlib

    from py_data_pipeline_app_spark.sources.maintenance import (
        write_training_shards,
    )

    def expected_shard(doc_id, n_shards, seed="shard"):
        h = int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:15], 16)
        return (h % 10_000) % n_shards

    rows = [(i, f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p1 = str(tmp_path / "shards1")
    n = write_training_shards(df, p1, n_shards=4)
    assert n == 4
    back = spark.read.parquet(p1)
    assert back.count() == 200
    for r in back.collect():
        assert r.shard == expected_shard(r.doc_id, 4), r.doc_id

    # stable under a different input partitioning / order
    shuffled = df.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(13)
    p2 = str(tmp_path / "shards2")
    write_training_shards(shuffled, p2, n_shards=4)
    a = {(r.doc_id, r.shard) for r in back.collect()}
    b = {(r.doc_id, r.shard) for r in spark.read.parquet(p2).collect()}
    assert a == b

    # intra-shard file order is ascending by id (stable (shard, offset)
    # sample addressing): read one shard dir's single file directly
    import glob

    for s in range(4):
        files = glob.glob(f"{p1}/shard={s}/*.parquet")
        assert len(files) == 1, s
        ids = [r.doc_id for r in spark.read.parquet(files[0]).collect()]
        assert ids == sorted(ids), s


def test_write_training_shards_multi_file_and_contract(spark, tmp_path):
    """files_per_shard splits each shard into part files by a second
    independent id hash: membership/order stay deterministic, every
    (shard, part) dir holds exactly one id-ordered file, and shard
    membership is unchanged from the single-file layout. The sink
    raises when the corpus can't fill the layout."""
    import glob

    from py_data_pipeline_app_spark.sources.maintenance import (
        write_training_shards,
    )

    rows = [(i, f"doc {i}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p1 = str(tmp_path / "single")
    p2 = str(tmp_path / "multi")
    assert write_training_shards(df, p1, n_shards=4) == 4
    assert write_training_shards(df, p2, n_shards=4, files_per_shard=3) == 12

    single = {(r.doc_id, r.shard) for r in spark.read.parquet(p1).collect()}
    multi = {(r.doc_id, r.shard) for r in spark.read.parquet(p2).collect()}
    assert single == multi  # part split never moves shard membership

    for s in range(4):
        for p in range(3):
            files = glob.glob(f"{p2}/shard={s}/part={p}/*.parquet")
            assert len(files) == 1, (s, p)
            ids = [r.doc_id for r in spark.read.parquet(files[0]).collect()]
            assert ids == sorted(ids), (s, p)

    # contract: a layout the corpus cannot fill fails loudly...
    tiny = spark.createDataFrame([(1, "only doc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="would starve"):
        write_training_shards(tiny, str(tmp_path / "starve"), n_shards=8)
    # ...unless verification is explicitly waived
    assert (
        write_training_shards(
            tiny, str(tmp_path / "waived"), n_shards=8, verify=False
        )
        == 8
    )


def test_write_training_shards_shuffle_order(spark, tmp_path):
    """shuffle_order replaces id order inside each file with the
    deterministic md5 order (ties by id): membership is unchanged,
    the order matches an independent python model exactly, and it is
    NOT the sorted-id order (the point — ids correlate with crawl
    order; sequential readers want ~IID batches)."""
    import glob
    import hashlib

    from py_data_pipeline_app_spark.sources.maintenance import (
        write_training_shards,
    )

    rows = [(i, f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p_plain = str(tmp_path / "plain")
    p_shuf = str(tmp_path / "shuffled")
    write_training_shards(df, p_plain, n_shards=4)
    write_training_shards(df, p_shuf, n_shards=4, shuffle_order=True)

    a = {(r.doc_id, r.shard) for r in spark.read.parquet(p_plain).collect()}
    b = {(r.doc_id, r.shard) for r in spark.read.parquet(p_shuf).collect()}
    assert a == b  # order knob never moves membership

    def order_key(doc_id, seed="shard"):
        h = hashlib.md5(f"{doc_id}:{seed}:order".encode()).hexdigest()
        return (int(h[:15], 16), doc_id)

    any_shuffled = False
    for s in range(4):
        files = glob.glob(f"{p_shuf}/shard={s}/*.parquet")
        assert len(files) == 1, s
        ids = [r.doc_id for r in spark.read.parquet(files[0]).collect()]
        assert ids == sorted(ids, key=order_key), s  # exact model match
        any_shuffled = any_shuffled or ids != sorted(ids)
    assert any_shuffled  # with 200 docs the md5 order differs from id order

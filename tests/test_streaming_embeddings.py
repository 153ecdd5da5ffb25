"""Streaming embedding ingest: per-batch IVF appends must probe
identically to one full rebuild (arrival-order independence), across a
compaction boundary, with bounded append-directory count."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from py_data_pipeline_app_spark.operators.quantization import (
    ivfpq_index_append,
    ivfpq_index_compact,
)
from py_data_pipeline_app_spark.operators.similarity import (
    build_ivf_index,
    ivf_index_append,
    ivf_index_compact,
    ivf_topk_indexed,
    semantic_index_append,
    semantic_index_compact,
)
from py_data_pipeline_app_spark.streaming.fold import fold_stream

# streaming lifecycle parity suites are multi-second end-to-end runs —
# slow tier by module (round-11 split; see pytest.ini)
pytestmark = pytest.mark.oracle

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _ingest_stream(
    spark, landing, ckpt, index, append, compact, maintain_every=16, **append_kw
):
    """The embedding-ingest stream: each micro-batch is appended to the
    persisted index with its micro-batch id as the token, and the index
    compacts keep-newest every ``maintain_every`` batches."""
    return fold_stream(
        spark.readStream.schema(SCHEMA).parquet(landing),
        ckpt,
        lambda df, i: append(spark, index, df, batch_token=f"{i:08d}", **append_kw),
        maintain=lambda: compact(spark, index, keep_newest=True),
        maintain_every=maintain_every,
    )


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


def _probe(spark, index, queries):
    return sorted(
        map(tuple, ivf_topk_indexed(spark, index, queries, k=5, nprobe=4).collect())
    )


def test_streamed_appends_probe_like_full_rebuild(spark, emb, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    index = str(tmp_path / "index")
    # initial corpus = vec_id % 4 == 0; three streamed batches cover the rest
    initial = emb.filter(F.col("vec_id") % 4 == 0)
    build_ivf_index(initial, index, n_centroids=16)
    for part in (1, 2, 3):
        emb.filter(F.col("vec_id") % 4 == part).coalesce(1).write.parquet(
            f"{landing}/b{part}"
        )
        q = _ingest_stream(
            spark, landing + "/*", ckpt, index,
            ivf_index_append, ivf_index_compact, maintain_every=2,
        )
        q.awaitTermination(120)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _probe(spark, index, queries)

    # reference: one rebuild over everything with the SAME centroids
    # (drawn from the initial corpus, like the streamed index's)
    ref_index = str(tmp_path / "ref_index")
    cents = spark.read.parquet(f"{index}/centroids")
    build_ivf_index(emb, ref_index, cents=cents)
    want = _probe(spark, ref_index, queries)
    assert got == want

    # compaction kept the append listing bounded: batch ids 0..2 ran,
    # compact at id 2 merged all but the newest
    import os

    appends = os.path.join(index, "appends")
    n_appends = (
        len([d for d in os.listdir(appends) if d.startswith("batch-")])
        if os.path.isdir(appends)
        else 0
    )
    assert n_appends <= 1, n_appends


def test_replayed_batch_token_overwrites(spark, emb, tmp_path):
    """A micro-batch retried with the same id must overwrite its own
    append, not duplicate rows (simulated by calling the append twice
    with one token, exactly what foreachBatch replay does)."""
    index = str(tmp_path / "index")
    initial = emb.filter(F.col("vec_id") % 2 == 0)
    build_ivf_index(initial, index, n_centroids=8)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    ivf_index_append(spark, index, batch, batch_token="00000007")
    ivf_index_append(spark, index, batch, batch_token="00000007")  # replay
    total = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{index}/appends")
        .count()
    )
    assert total == batch.count()


def test_streamed_ivfpq_appends_probe_like_full_rebuild(spark, emb, tmp_path):
    """IVF-PQ appends: streamed batches of PQ codes must probe
    identically to one compressed rebuild with the same tables."""
    import pyspark.sql.functions as F2

    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_topk,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    index = str(tmp_path / "index")
    initial = emb.filter(F2.col("vec_id") % 3 == 0)
    build_ivfpq_index(initial, index, n_centroids=16, m=8, ksub=16, dim=64)
    for part in (1, 2):
        emb.filter(F2.col("vec_id") % 3 == part).coalesce(1).write.parquet(
            f"{landing}/b{part}"
        )
        q = _ingest_stream(
            spark, landing + "/*", ckpt, index,
            ivfpq_index_append, ivfpq_index_compact,
        )
        q.awaitTermination(120)
    queries = emb.filter(F2.col("vec_id") < 10).select(
        F2.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(tuple, ivfpq_topk(spark, index, queries, k=5, nprobe=4).collect())
    )
    ref = str(tmp_path / "ref")
    cents = spark.read.parquet(f"{index}/centroids")
    cbs = spark.read.parquet(f"{index}/codebooks")
    build_ivfpq_index(emb, ref, cents=cents, codebooks=cbs)
    want = sorted(
        map(tuple, ivfpq_topk(spark, ref, queries, k=5, nprobe=4).collect())
    )
    assert got == want


def test_streamed_semantic_appends_match_full_rebuild(spark, emb, tmp_path):
    """SemDeDup appends: streamed id-range batches folded into the
    persisted SemDeDup index must produce exactly the kept/dropped
    verdicts of one full semantic_dedup rebuild over everything with
    the initial corpus's centroids. (Range batches, not modulo — the
    semantic append enforces per-cluster id monotonicity.)"""
    from py_data_pipeline_app_spark.operators.similarity import (
        _md5_sample_centroids,
        build_semantic_index,
        semantic_dedup,
        semantic_index_state,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    index = str(tmp_path / "index")
    n = emb.count()
    initial = emb.filter(F.col("vec_id") < n // 2)
    build_semantic_index(initial, index, threshold=0.8, n_centroids=8)
    for i, (lo, hi) in enumerate([(n // 2, 3 * n // 4), (3 * n // 4, n)]):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.parquet(f"{landing}/b{i}")
        q = _ingest_stream(
            spark, landing + "/*", ckpt, index,
            semantic_index_append, semantic_index_compact, maintain_every=1,
        )
        q.awaitTermination(120)
    got = sorted(
        map(tuple, semantic_index_state(spark, index).collect())
    )
    # expected rebuild runs over the SAME raw float frame the stream
    # ingested — a double-cast detour here would compute threshold
    # cosines in different arithmetic than the index did, which can
    # flip verdicts for vectors near the 0.8 boundary (latent flake)
    cents_raw = _md5_sample_centroids(
        initial, n_centroids=8, id_col="vec_id", vec_col="embedding"
    )
    want = sorted(
        map(
            tuple,
            semantic_dedup(
                emb, threshold=0.8, n_centroids=8, cents=cents_raw
            ).collect(),
        )
    )
    assert got == want


def test_streamed_semantic_reorder_appends_match_full_rebuild(
    spark, emb, tmp_path
):

    """SemDeDup appends with allow_reorder=True: a multi-producer
    feed delivering id ranges OUT OF ORDER (high range first) must
    still converge to one full rebuild's verdicts — the out-of-order
    batch takes the recompute-mode append instead of refusing."""
    from py_data_pipeline_app_spark.operators.similarity import (
        _md5_sample_centroids,
        build_semantic_index,
        semantic_dedup,
        semantic_index_state,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    index = str(tmp_path / "index")
    n = emb.count()
    initial = emb.filter(F.col("vec_id") % 3 == 2)
    build_semantic_index(initial, index, threshold=0.8, n_centroids=8)
    # high remainder class first, then the LOW one — interleaved below
    # every cluster's history max
    for i, part in enumerate([1, 0]):
        emb.filter(F.col("vec_id") % 3 == part).coalesce(1).write.parquet(
            f"{landing}/b{i}"
        )
        q = _ingest_stream(
            spark, landing + "/*", ckpt, index,
            semantic_index_append, semantic_index_compact, allow_reorder=True,
        )
        q.awaitTermination(120)
    got = sorted(map(tuple, semantic_index_state(spark, index).collect()))
    cents = _md5_sample_centroids(
        initial, n_centroids=8, id_col="vec_id", vec_col="embedding"
    )
    want = sorted(
        map(
            tuple,
            semantic_dedup(
                emb, threshold=0.8, n_centroids=8, cents=cents
            ).collect(),
        )
    )
    assert got == want



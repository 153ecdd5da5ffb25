"""Incremental span dedup: fold-vs-batch parity over crafted batches,
replay idempotence, config drift, and lock exclusion."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from py_data_pipeline_app_spark.operators.curation import chunk_dedup_rebuild
from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
    incremental_span_fold,
)

BOILER = "all rights reserved contact us terms of service apply now"  # 10 toks
U1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
U2 = "one two three four five six seven eight nine ten"


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, U1 + " " + BOILER),
        (2, U2 + " " + BOILER),   # boilerplate repeats -> scrubbed here
        (10, U1 + " " + BOILER),  # batch 2: everything already seen
        (11, "totally novel words here"),
        (20, U2),                 # batch 3: seen in batch 1
        (21, "fresh content appears at last"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fold_all(spark, corpus, index):
    parts = []
    for lo, hi, tok in ((0, 10, "b0"), (10, 20, "b1"), (20, 99, "b2")):
        parts.append(
            incremental_span_fold(
                spark,
                index,
                corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                batch_token=tok,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_fold_parity_with_batch(spark, corpus, tmp_path):
    got = sorted(map(tuple, _fold_all(spark, corpus, str(tmp_path / "idx")).collect()))
    want = sorted(map(tuple, chunk_dedup_rebuild(corpus).collect()))
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[10][1] == ""          # exact re-crawl scrubs to empty
    assert by_id[20][1] == ""          # span seen two batches ago
    assert by_id[11][3] == 1           # novel doc keeps its chunk


def test_replayed_fold_is_idempotent(spark, corpus, tmp_path):
    index = str(tmp_path / "idx")
    b0 = corpus.filter(F.col("doc_id") < 10)
    first = sorted(
        map(tuple, incremental_span_fold(spark, index, b0, batch_token="t").collect())
    )
    # foreachBatch replay: same token, same batch
    again = sorted(
        map(tuple, incremental_span_fold(spark, index, b0, batch_token="t").collect())
    )
    assert first == again
    fps = spark.read.option("recursiveFileLookup", "true").parquet(f"{index}/fps")
    assert fps.count() == fps.distinct().count()


def test_config_drift_fails_loudly(spark, corpus, tmp_path):
    index = str(tmp_path / "idx")
    incremental_span_fold(
        spark, index, corpus.filter(F.col("doc_id") < 10), batch_token="a"
    ).collect()
    with pytest.raises(ValueError, match="chunk_tokens"):
        incremental_span_fold(
            spark,
            index,
            corpus.filter(F.col("doc_id") >= 10),
            chunk_tokens=5,
            batch_token="b",
        )


def test_lock_excludes_concurrent_fold(spark, corpus, tmp_path):
    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        _acquire_index_lock,
    )

    index = str(tmp_path / "idx")
    with _acquire_index_lock(spark, index, "test holds lock"):
        with pytest.raises(RuntimeError, match="locked"):
            incremental_span_fold(
                spark, index, corpus.filter(F.col("doc_id") < 10), batch_token="x"
            )


@pytest.mark.oracle
def test_streaming_span_dedup_parity_and_compaction(spark, corpus, tmp_path):
    """Streamed micro-batches (with a compaction boundary) must union
    to the batch operator's output, with bounded fps subdirs."""
    import os

    from pyspark.sql import types as T

    from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
        compact_fps,
    )
    from py_data_pipeline_app_spark.streaming.fold import (
        fold_stream,
        read_fold_output,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    index = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    for i, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 99))):
        corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(f"{landing}/b{i}")
        q = fold_stream(
            spark.readStream.schema(schema).parquet(landing + "/*"),
            ckpt,
            lambda df, i: incremental_span_fold(
                spark, index, df, batch_token=f"{i:08d}"
            ),
            out=out,
            maintain=lambda: compact_fps(spark, index, keep_newest=True),
            maintain_every=2,
        )
        q.awaitTermination(120)
    got = sorted(map(tuple, read_fold_output(spark, out).collect()))
    want = sorted(map(tuple, chunk_dedup_rebuild(corpus).collect()))
    assert got == want
    n_dirs = len(
        [d for d in os.listdir(f"{index}/fps") if d.startswith("batch-")]
    )
    assert n_dirs <= 2, n_dirs


def test_duplicate_history_fps_do_not_fan_out(spark, corpus, tmp_path):
    """A compaction that crashes after its merged batch-compact-* dir
    becomes visible but before the source dirs are deleted leaves every
    fingerprint twice in history. The fold's history distinct must keep
    the rebuild counts exact — without it the fp left-join doubles each
    seen chunk row and corrupts n_chunks/n_kept."""
    index = str(tmp_path / "idx")
    b0 = corpus.filter(F.col("doc_id") < 10)
    incremental_span_fold(spark, index, b0, batch_token="b0")
    # simulate the crash window: duplicate the committed batch dir
    import shutil

    src = tmp_path / "idx" / "fps" / "batch-b0"
    shutil.copytree(src, tmp_path / "idx" / "fps" / "batch-compact-crash")

    out = {
        r.doc_id: r
        for r in incremental_span_fold(
            spark,
            index,
            corpus.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
            batch_token="b1",
        ).collect()
    }
    # doc 10 = U1 + BOILER: both chunks seen in b0 -> 2 chunks, 0 kept
    assert out[10].n_chunks == 2 and out[10].n_kept == 0
    assert out[10].text_deduped == ""
    # doc 11 is novel: 1 chunk, kept
    assert out[11].n_chunks == 1 and out[11].n_kept == 1


def test_compaction_staging_dirs_are_invisible_to_history(spark, corpus, tmp_path):
    """_staging-* directories (a compaction killed mid-write) must never
    be read as history: the reader's listing filter accepts batch-*
    only."""
    index = str(tmp_path / "idx")
    b0 = corpus.filter(F.col("doc_id") < 10)
    incremental_span_fold(spark, index, b0, batch_token="b0")
    # a half-written staging dir containing garbage parquet would crash
    # or corrupt the next fold if listed; an empty dir is enough to
    # prove the filter skips it (reading an empty dir as parquet fails)
    (tmp_path / "idx" / "fps" / "_staging-dead").mkdir()

    out = {
        r.doc_id: r
        for r in incremental_span_fold(
            spark,
            index,
            corpus.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
            batch_token="b1",
        ).collect()
    }
    assert out[10].n_kept == 0 and out[11].n_kept == 1


def test_compact_fps_keeps_write_time_newest(spark, corpus, tmp_path):
    """keep_newest must protect the most recently WRITTEN batch: a
    prior batch-compact-* directory sorts lexically after numeric
    tokens, and protecting it instead hands a crash-replayed fold its
    own first-attempt fingerprints as history (everything scrubbed)."""
    import os

    from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
        FPS_SUBDIR,
        compact_fps,
    )

    index = str(tmp_path / "idx")
    b = lambda lo, hi: corpus.filter(  # noqa: E731
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    incremental_span_fold(spark, index, b(0, 10), batch_token="00000000")
    incremental_span_fold(spark, index, b(10, 20), batch_token="00000001")
    assert compact_fps(spark, index, keep_newest=True) == 0  # only 1 mergeable
    incremental_span_fold(spark, index, b(20, 99), batch_token="00000002")
    assert compact_fps(spark, index, keep_newest=True) == 2  # 0+1 merge
    fps_dir = os.path.join(index, FPS_SUBDIR)
    assert os.path.isdir(os.path.join(fps_dir, "batch-00000002"))
    # a compact dir now exists and sorts lexically LAST; the next pass
    # must still keep the genuinely newest batch
    out = incremental_span_fold(
        spark, index, spark.createDataFrame(
            [(30, "entirely new closing words")], "doc_id long, text string"
        ), batch_token="00000003",
    )
    first = sorted(map(tuple, out.collect()))
    assert compact_fps(spark, index, keep_newest=True) == 2  # 2 + compact
    assert os.path.isdir(os.path.join(fps_dir, "batch-00000003"))
    # crash-replay of that batch: history must NOT contain its own
    # first-attempt fingerprints, so the rebuild is unchanged
    replay = incremental_span_fold(
        spark, index, spark.createDataFrame(
            [(30, "entirely new closing words")], "doc_id long, text string"
        ), batch_token="00000003",
    )
    assert sorted(map(tuple, replay.collect())) == first
    assert first[0][3] > 0  # and it genuinely kept its novel chunk


def test_history_probe_partition_prunes(spark, corpus, tmp_path):
    """The fold's fingerprint-table read must carry a partition filter
    on the batch's own hash prefixes — a small batch reads only the
    pb=* directories its fingerprints could live in, never the whole
    fp table (plan-asserted, the IVF PartitionFilters discipline)."""
    import contextlib
    import io
    import re

    index = str(tmp_path / "idx")
    incremental_span_fold(
        spark, index, corpus.filter(F.col("doc_id") < 10), batch_token="b0"
    )
    rebuilt = incremental_span_fold(
        spark, index, corpus.filter(F.col("doc_id") == 11), batch_token="b1"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rebuilt.explain(mode="formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^]]*pb#\d+ (IN|=)", plan), plan[:2000]

"""Streaming exact dedup: in-batch + cross-batch drops within the
watermark, re-emission after state expiry."""

from __future__ import annotations

import pytest

from datetime import datetime

from pyspark.sql import types as T

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.dedup_incremental import (
    compact_index,
    incremental_lsh_fold,
)
from py_data_pipeline_app_spark.streaming.dedup import streaming_exact_dedup
from py_data_pipeline_app_spark.streaming.fold import fold_stream, read_fold_output

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# streaming lifecycle parity suites are multi-second end-to-end runs —
# slow tier by module (round-11 split; see pytest.ini)
pytestmark = pytest.mark.oracle


def _ts(h: int, m: int = 0) -> datetime:
    return datetime(2024, 1, 1, h, m)


def _near_dup_stream(spark, tmp_path, query_name, maintain_every=16):
    """The near-dup stream: each micro-batch folds into the persisted
    LSH index under tmp_path/index, its pairs land under
    tmp_path/pairs, and the index compacts every ``maintain_every``
    batches."""
    index = str(tmp_path / "index")
    return fold_stream(
        spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "landing") + "/*"),
        str(tmp_path / "ckpt"),
        lambda df, i: incremental_lsh_fold(
            spark, index, df, threshold=0.5, batch_token=f"{i:08d}"
        ),
        out=str(tmp_path / "pairs"),
        maintain=lambda: compact_index(spark, index),
        maintain_every=maintain_every,
        query_name=query_name,
    )


def test_streaming_dedup_within_and_beyond_watermark(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def land(name, rows):
        local_rows_df(spark, SCHEMA, rows).write.parquet(
            f"{landing}/{name}"
        )

    def run(qn):
        stream = spark.readStream.schema(SCHEMA).parquet(landing + "/*")
        q = fold_stream(
            streaming_exact_dedup(stream, watermark="1 hour"),
            ckpt,
            lambda df, i: df,
            out=out,
            query_name=qn,
        )
        q.awaitTermination(180)
        return read_fold_output(spark, out)

    # batch 1: A, B, and an in-batch duplicate of A
    land(
        "b1",
        [
            (1, "Alpha doc!", _ts(10, 0)),
            (2, "Beta doc.", _ts(10, 5)),
            (3, "alpha DOC", _ts(10, 1)),  # same normalized content as 1
        ],
    )
    out1 = run("dedup_s1")
    ids1 = {r.doc_id for r in out1.collect()}
    assert len(ids1) == 2
    assert 2 in ids1 and (1 in ids1) != (3 in ids1)  # exactly one alpha copy

    # batch 2: a duplicate of B inside the watermark (dropped) and a
    # filler that advances the watermark past every batch-1 state
    land(
        "b2",
        [
            (4, "beta doc", _ts(10, 10)),  # dup of 2, state live -> drop
            (5, "fresh content", _ts(13, 0)),  # advances watermark to 12:00
        ],
    )
    ids2 = {r.doc_id for r in run("dedup_s2").collect()}
    assert 4 not in ids2
    assert 5 in ids2

    # batch 3: alpha reappears AFTER its state expired -> re-emitted
    land("b3", [(6, "alpha doc", _ts(13, 5))])
    ids3 = {r.doc_id for r in run("dedup_s3").collect()}
    assert 6 in ids3

    # sink layout is replay-idempotent: one overwrite-mode subdir per
    # micro-batch, so a crashed batch's retry replaces its partial
    # output instead of appending duplicates
    subdirs = [p.name for p in (tmp_path / "out").iterdir() if p.is_dir()]
    assert subdirs and all(s.startswith("batch-") for s in subdirs)


def test_streaming_near_dup_matches_batch_lsh(spark, tmp_path):
    """The near-dup stream folds each micro-batch into the persisted
    LSH index; the union of all emitted pairs must equal one batch
    minhash run over everything streamed (the incremental parity
    contract, exercised through the streaming front door)."""
    from py_data_pipeline_app_spark.operators.dedup import minhash_dedup_pairs

    landing = str(tmp_path / "landing")
    base = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
    ]
    b1, b2 = [], []
    for i, t in enumerate(base):
        b1.append((i * 10, t, _ts(10, i)))
        # batch 2 lands a word-set duplicate (identical signature ->
        # collides in every band, guaranteed cross-batch pair) and a
        # near-variant of each batch-1 doc
        b2.append((i * 10 + 1, t, _ts(11, i)))
        b2.append((i * 10 + 2, t + " with extra trailing words", _ts(11, 30 + i)))

    def land(name, rows):
        local_rows_df(spark, SCHEMA, rows).write.parquet(
            f"{landing}/{name}"
        )

    def run(qn):
        _near_dup_stream(spark, tmp_path, qn).awaitTermination(180)

    land("b1", b1)
    run("neardup_s1")
    land("b2", b2)
    run("neardup_s2")

    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "pairs"))
        .collect()
    )
    all_docs = local_rows_df(spark, SCHEMA, b1 + b2).select("doc_id", "text")
    expected = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(all_docs, threshold=0.5).collect()
    )
    assert got == expected
    # cross-batch pairs actually surfaced (not just within-batch)
    b1_ids = {r[0] for r in b1}
    assert any((a in b1_ids) != (b in b1_ids) for a, b, _ in got)


def test_streaming_near_dup_auto_compaction_bounds_index(spark, tmp_path):
    """With compact_every=2 the index's batch subdirectory count stays
    bounded across many micro-batches (newest always kept for replay
    safety), and pair parity with one batch LSH run survives the
    compactions."""
    import os

    from py_data_pipeline_app_spark.operators.dedup import minhash_dedup_pairs

    landing = str(tmp_path / "landing")
    pool = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
    ]
    batches = []
    for k in range(5):
        batches.append(
            [
                (k * 10, pool[k % 3], _ts(9 + k, 0)),
                (k * 10 + 1, pool[(k + 1) % 3] + " trailing tail", _ts(9 + k, 30)),
            ]
        )

    def land(name, rows):
        local_rows_df(spark, SCHEMA, rows).write.parquet(
            f"{landing}/{name}"
        )

    for k, rows in enumerate(batches):
        land(f"b{k}", rows)
        q = _near_dup_stream(
            spark, tmp_path, f"autocompact_s{k}", maintain_every=2
        )
        q.awaitTermination(180)

    # 5 micro-batches, compactions after batches 2 and 4: at most the
    # newest batch + the consolidated batch remain per table (plus one
    # uncompacted batch between compaction points)
    for sub in ("bands", "toksets"):
        names = [
            d
            for d in os.listdir(os.path.join(str(tmp_path / "index"), sub))
            if d.startswith("batch-")
        ]
        assert 1 <= len(names) <= 3, names

    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "pairs"))
        .collect()
    )
    all_docs = local_rows_df(
        spark, SCHEMA, [r for b in batches for r in b]
    ).select("doc_id", "text")
    expected = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(all_docs, threshold=0.5).collect()
    )
    assert got == expected


def test_near_dup_stream_replays_last_batch_unchanged(spark, tmp_path):
    """Checkpoint replay through the driver: with the last micro-batch's
    commit deleted, a restart re-runs that batch with its original id
    (Structured Streaming's crash recovery). The fold excludes its own
    half-committed index write and the driver overwrites the batch's
    output directory, so the landed pairs are unchanged."""
    import os

    landing = str(tmp_path / "landing")
    pool = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
    ]
    for k in range(2):
        local_rows_df(
            spark,
            SCHEMA,
            [
                (k * 10, pool[0], _ts(10 + k, 0)),
                (k * 10 + 1, pool[1] + " trailing tail", _ts(10 + k, 30)),
            ],
        ).write.parquet(f"{landing}/b{k}")
        _near_dup_stream(spark, tmp_path, f"replay_s{k}").awaitTermination(180)

    def landed():
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in read_fold_output(spark, str(tmp_path / "pairs")).collect()
        )

    before = landed()
    assert before  # the second batch pairs with the first
    commits = tmp_path / "ckpt" / "commits"
    os.remove(commits / "1")
    if (commits / ".1.crc").exists():
        os.remove(commits / ".1.crc")
    _near_dup_stream(spark, tmp_path, "replay_s2").awaitTermination(180)
    assert (commits / "1").exists()  # batch 1 ran again and committed
    assert landed() == before

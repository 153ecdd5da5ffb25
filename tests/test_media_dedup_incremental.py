"""Incremental dHash image near-dup index
(operators/media_dedup_incremental.py): multi-batch replay parity
against the batch path across a compaction boundary, replayed-token
idempotency, config drift refusal, tombstone deletes, the per-fold job
pin, and the streaming front door — the test shapes the LSH/semantic
index lifecycles established (test_dedup_incremental.py,
test_semantic_index.py)."""

import pytest
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.operators.media import (
    dhash_near_dup_pairs,
    media_dhash,
)
from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
    compact_media_index,
    incremental_dhash_fold,
    media_index_delete,
)

# strong-gradient 648-byte payload (one full fake-decoder grid) and a
# single-byte perturbation measured at combined hamming 1 — a TRUE
# near-dup pair (nonzero hamming), exercising the verify filter's
# interior, not just the hamming-0 identity path
_BASE = bytes((x * 9) % 251 for x in range(648))
_NEAR = bytearray(_BASE)
_NEAR[300] = (_NEAR[300] + 200) % 256
_NEAR = bytes(_NEAR)


@pytest.fixture()
def media_rows(spark):
    """Three duplicate families spread so every fold-vs-history shape
    occurs: ids 0/1/2 identical payloads, 10/11 tiled-identical
    payloads (different bytes, same cyclic grid), 20/21 the measured
    hamming-1 pair, 30/31 unrelated singletons."""
    rows = [
        (0, _BASE),
        (1, _BASE),
        (2, _BASE),
        (10, b"family-two-bytes!"),
        (11, b"family-two-bytes!" * 3),  # tiles to the identical grid
        (20, _BASE),
        (21, _NEAR),
        (30, b"some unrelated payload with its own bytes"),
        (31, b"another distinct payload, also unrelated"),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.hamming) for r in df.collect())


def _batch_expected(media):
    return _pairs(
        dhash_near_dup_pairs(media_dhash(media), max_bucket_size=None)
    )


def test_three_batch_replay_matches_batch_dhash_across_compaction(
    spark, media_rows, tmp_path
):
    """Folding batches A, B, C sequentially — with a keep-newest
    compaction between B and C — emits exactly the pairs of one batch
    dhash_near_dup_pairs run over A∪B∪C: within-batch pairs at their
    own fold, cross-batch pairs at the later batch's fold, nothing
    twice, nothing missed, and the compaction boundary is invisible
    to emissions."""
    index = str(tmp_path / "idx")
    a = media_rows.filter(F.col("media_id") % 3 == 0)
    b = media_rows.filter(F.col("media_id") % 3 == 1)
    c = media_rows.filter(F.col("media_id") % 3 == 2)
    p1 = _pairs(
        incremental_dhash_fold(
            spark, index, a, max_bucket_size=None, batch_token="a"
        )
    )
    p2 = _pairs(
        incremental_dhash_fold(
            spark, index, b, max_bucket_size=None, batch_token="b"
        )
    )
    assert compact_media_index(spark, index) >= 0  # keep-newest default
    p3 = _pairs(
        incremental_dhash_fold(
            spark, index, c, max_bucket_size=None, batch_token="c"
        )
    )
    assert sorted(p1 + p2 + p3) == _batch_expected(media_rows)
    # fold-1 pairs involve only batch-A ids (no history yet)
    a_ids = {r.media_id for r in a.collect()}
    assert all(x in a_ids and y in a_ids for x, y, _ in p1)
    # cross-batch pairs surfaced at later folds without re-hashing A:
    # 0~21 is the measured hamming-1 pair split across batches A and C
    assert any((x in a_ids) != (y in a_ids) for x, y, _ in p3)
    # the verify filter's interior is exercised (nonzero hamming kept)
    assert any(h > 0 for _, _, h in sorted(p1 + p2 + p3))
    # and compaction converges when re-run (crash-recovery contract)
    compact_media_index(spark, index)
    assert compact_media_index(spark, index) >= 0


def test_replayed_token_is_noop(spark, media_rows, tmp_path):
    """A retried fold (foreachBatch replay: same batch, same token)
    emits the SAME pairs — its half-committed first attempt is
    excluded from its own history read, so no self-pairs and no
    double-counted within-batch pairs — and leaves the index with one
    logical copy per asset (a later fold sees no duplicate history)."""
    index = str(tmp_path / "idx")
    a = media_rows.filter(F.col("media_id") < 20)
    first = _pairs(
        incremental_dhash_fold(
            spark, index, a, max_bucket_size=None, batch_token="a"
        )
    )
    replay = _pairs(
        incremental_dhash_fold(
            spark, index, a, max_bucket_size=None, batch_token="a"
        )
    )
    assert replay == first
    # a fresh batch folds against exactly one copy of A's history:
    # 20 pairs with 0/1/2 at hamming 0 and 21 at hamming 1 — once each
    later = _pairs(
        incremental_dhash_fold(
            spark,
            index,
            media_rows.filter(F.col("media_id") >= 20),
            max_bucket_size=None,
            batch_token="b",
        )
    )
    assert later == sorted(set(later))
    assert (0, 20, 0) in later and (0, 21, 1) in later


def test_config_drift_fails_loudly(spark, media_rows, tmp_path):
    """One index = one (decoder, axes, bands, max_hamming)
    configuration — hashes and band keys from different configurations
    never match, so a drifted fold must refuse instead of silently
    missing every historical near-dup."""
    index = str(tmp_path / "idx")
    incremental_dhash_fold(spark, index, media_rows, batch_token="a")
    cfg = spark.read.parquet(f"{index}/config").first()
    assert (cfg.decoder, cfg.axes, cfg.bands, cfg.max_hamming) == (
        "payload_gray", "both", 8, 6,
    )
    for kwargs in (
        {"decoder": "wav_spectrogram"},
        {"axes": "horizontal"},
        {"bands": 4},
        {"max_hamming": 2},
    ):
        with pytest.raises(ValueError, match="configuration"):
            incremental_dhash_fold(
                spark, index, media_rows, batch_token="b", **kwargs
            )


def test_media_index_delete_stops_future_matches(spark, media_rows, tmp_path):
    """Tombstoned assets stop matching FUTURE folds immediately
    (FORGET semantics): after deleting id 0, a fold of its exact copy
    pairs only against the surviving family members."""
    index = str(tmp_path / "idx")
    incremental_dhash_fold(
        spark,
        index,
        media_rows.filter(F.col("media_id") < 20),
        max_bucket_size=None,
        batch_token="a",
    )
    token = media_index_delete(
        spark, index, spark.createDataFrame([(0,)], "media_id long")
    )
    assert token is not None
    later = _pairs(
        incremental_dhash_fold(
            spark,
            index,
            media_rows.filter(F.col("media_id") == 20),
            max_bucket_size=None,
            batch_token="b",
        )
    )
    assert later == [(1, 20, 0), (2, 20, 0)]
    # a FULL compaction consumes tombstones; the refold of the erased
    # content is admitted as new (right-to-erasure reading)
    compact_media_index(spark, index, keep_newest=False)
    assert not spark._jvm.org.apache.hadoop.fs.Path(
        f"{index}/deletes"
    ).getFileSystem(spark._jsc.hadoopConfiguration()).exists(
        spark._jvm.org.apache.hadoop.fs.Path(f"{index}/deletes")
    )


def test_fold_job_count_pinned(spark, media_rows, tmp_path):
    """Per-batch cost guard (the monotone-append pin's shape): one
    fold against a non-empty index runs a bounded number of Spark
    jobs — a new per-fold O(history) action shows up here before it
    shows up in a bench row. Measured: 5 jobs (config read, eager
    hash checkpoint, the partition-prefix set collect — bounded by
    part_buckets, never by history — and append×2)."""
    index = str(tmp_path / "idx")
    incremental_dhash_fold(
        spark,
        index,
        media_rows.filter(F.col("media_id") < 20),
        batch_token="a",
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    incremental_dhash_fold(
        spark,
        index,
        media_rows.filter(F.col("media_id") >= 20),
        batch_token="b",
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 9, f"dhash fold ran {after - before} jobs"


def test_streaming_media_dedup_parity(spark, media_rows, tmp_path):
    """The streaming front door: landing two micro-batch files and
    draining with availableNow folds each into the persisted index;
    the union of the emitted pair batches equals one batch
    dhash_near_dup_pairs over everything streamed — including the
    planted cross-batch duplicates caught at batch 2."""
    from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
        compact_media_index,
    )
    from py_data_pipeline_app_spark.streaming.fold import (
        fold_stream,
        read_fold_output,
    )

    landing = str(tmp_path / "landing")
    a = media_rows.filter(F.col("media_id") < 20)
    b = media_rows.filter(F.col("media_id") >= 20)
    a.write.mode("overwrite").parquet(f"{landing}/wave-0")

    def drain():
        idx = str(tmp_path / "idx")
        q = fold_stream(
            spark.readStream.schema(a.schema).parquet(f"{landing}/wave-*"),
            str(tmp_path / "ckpt"),
            lambda df, i: incremental_dhash_fold(
                spark, idx, df, batch_token=f"{i:08d}"
            ),
            out=str(tmp_path / "pairs"),
            maintain=lambda: compact_media_index(spark, idx),
        )
        q.awaitTermination(120)

    drain()
    b.write.mode("overwrite").parquet(f"{landing}/wave-1")
    drain()
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in read_fold_output(spark, str(tmp_path / "pairs")).collect()
    )
    # default (capped) config both sides: buckets here are tiny
    assert got == _pairs(dhash_near_dup_pairs(media_dhash(media_rows)))
    a_ids = {r.media_id for r in a.collect()}
    assert any((x in a_ids) != (y in a_ids) for x, y, _ in got)


def test_history_probe_partition_prunes(spark, media_rows, tmp_path):
    """The fold's band-table probe must reach the parquet scan as a
    PARTITION filter on the batch's own prefix set (the round-14
    verdict's crawl-cadence fix: per-fold history I/O follows the
    batch's touched prefixes, not the index size). Asserted on the
    executed plan the same way the IVF index pins its
    PartitionFilters."""
    import contextlib
    import io
    import re

    index = str(tmp_path / "idx")
    incremental_dhash_fold(
        spark, index, media_rows.filter(F.col("media_id") < 20),
        batch_token="a",
    )
    pairs = incremental_dhash_fold(
        spark, index, media_rows.filter(F.col("media_id") >= 30),
        batch_token="b",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain(mode="formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^]]*pb#\d+ (IN|=)", plan), plan[:2000]


# ---------------------------------------------------------------------------
# incremental VIDEO dHash index (per-frame signatures, time-bucket blocking)
# ---------------------------------------------------------------------------

_VP1 = bytes((x * 9) % 251 for x in range(648))
_VP2 = bytes((x * 7 + 13) % 256 for x in range(500))


@pytest.fixture()
def video_rows(spark):
    """Two duplicate clip families plus a singleton: ids 0/1 identical
    payloads at different resolutions (5 shared time buckets), 10/11
    identical at 4 buckets, 20 unrelated — durations chosen so the
    per-bucket min-hamming floor and the ≥min_matching_buckets gate
    are both exercised."""
    rows = [
        (0, _VP1, (5000, 640, 480)),
        (1, _VP1, (5000, 320, 240)),
        (10, _VP2, (4000, 640, 480)),
        (11, _VP2, (4000, 640, 480)),
        (20, b"unrelated clip bytes that differ entirely" * 4, (3000, 100, 100)),
    ]
    return spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<duration_ms:long,width:int,height:int>",
    )


def _vpairs(df):
    return sorted((r.id_a, r.id_b, r.n_matching_buckets) for r in df.collect())


def test_video_fold_parity_across_compaction(spark, video_rows, tmp_path):
    """Union-of-folds == one batch video_near_dup_pairs over the
    union, with a keep-newest compaction between folds (the image
    index's parity contract lifted to the per-frame index): within-
    batch pairs at their own fold, cross-batch pairs — including the
    planted 0~1 family split across batches — at the later fold, the
    n_matching_buckets verification counts identical both ways."""
    from py_data_pipeline_app_spark.operators.media import (
        video_frame_dhash,
        video_near_dup_pairs,
    )
    from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
        compact_video_index,
        incremental_video_dhash_fold,
    )

    index = str(tmp_path / "vidx")
    a = video_rows.filter(F.col("media_id").isin([0, 10, 20]))
    b = video_rows.filter(F.col("media_id") == 1)
    c = video_rows.filter(F.col("media_id") == 11)
    p1 = _vpairs(
        incremental_video_dhash_fold(
            spark, index, a, max_bucket_size=None, batch_token="a"
        )
    )
    p2 = _vpairs(
        incremental_video_dhash_fold(
            spark, index, b, max_bucket_size=None, batch_token="b"
        )
    )
    assert compact_video_index(spark, index) >= 0
    p3 = _vpairs(
        incremental_video_dhash_fold(
            spark, index, c, max_bucket_size=None, batch_token="c"
        )
    )
    want = _vpairs(
        video_near_dup_pairs(
            video_frame_dhash(video_rows), max_bucket_size=None
        )
    )
    assert sorted(p1 + p2 + p3) == want
    assert (0, 1, 5) in p2 and (10, 11, 4) in p3  # cross-batch at later fold
    assert p1 == []  # batch A holds one member of each family
    # replay no-op: same batch + token reproduces identical pairs
    p3r = _vpairs(
        incremental_video_dhash_fold(
            spark, index, c, max_bucket_size=None, batch_token="c"
        )
    )
    assert p3r == p3


def test_video_config_drift_fails_loudly(spark, video_rows, tmp_path):
    """One video index = one complete sampling+banding+verification
    configuration — every knob that changes frame samples, band keys
    or emitted pairs refuses on drift."""
    from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
        incremental_video_dhash_fold,
    )

    index = str(tmp_path / "vidx")
    incremental_video_dhash_fold(spark, index, video_rows, batch_token="a")
    for kwargs in (
        {"every": 3},
        {"fps_ms": 20},
        {"bucket_ms": 500},
        {"bands": 4},
        {"max_hamming": 2},
        {"min_matching_buckets": 3},
    ):
        with pytest.raises(ValueError, match="configuration"):
            incremental_video_dhash_fold(
                spark, index, video_rows, batch_token="b", **kwargs
            )


def test_video_streaming_front_door_parity(spark, video_rows, tmp_path):
    """The video near-dup stream: landing two micro-batch files and
    draining with availableNow folds each into the persisted index;
    the union of emitted pair batches equals one batch
    video_near_dup_pairs over everything streamed."""
    from py_data_pipeline_app_spark.operators.media import (
        video_frame_dhash,
        video_near_dup_pairs,
    )
    from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
        compact_video_index,
        incremental_video_dhash_fold,
    )
    from py_data_pipeline_app_spark.streaming.fold import (
        fold_stream,
        read_fold_output,
    )

    landing = str(tmp_path / "landing")
    a = video_rows.filter(F.col("media_id").isin([0, 10, 20]))
    b = video_rows.filter(F.col("media_id").isin([1, 11]))
    a.write.mode("overwrite").parquet(f"{landing}/wave-0")

    def drain():
        vidx = str(tmp_path / "vidx")
        q = fold_stream(
            spark.readStream.schema(a.schema).parquet(f"{landing}/wave-*"),
            str(tmp_path / "ckpt"),
            lambda df, i: incremental_video_dhash_fold(
                spark, vidx, df, batch_token=f"{i:08d}"
            ),
            out=str(tmp_path / "pairs"),
            maintain=lambda: compact_video_index(spark, vidx),
        )
        q.awaitTermination(120)

    drain()
    b.write.mode("overwrite").parquet(f"{landing}/wave-1")
    drain()
    got = sorted(
        (r.id_a, r.id_b, r.n_matching_buckets)
        for r in read_fold_output(spark, str(tmp_path / "pairs")).collect()
    )
    assert got == _vpairs(
        video_near_dup_pairs(video_frame_dhash(video_rows))
    )


def test_video_history_probe_partition_prunes(spark, video_rows, tmp_path):
    """The video fold's band-table probe partition-prunes to the
    batch's own prefixes, same contract as the image/LSH/span
    indexes."""
    import contextlib
    import io
    import re

    from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
        incremental_video_dhash_fold,
    )

    index = str(tmp_path / "vidx")
    incremental_video_dhash_fold(
        spark, index, video_rows.filter(F.col("media_id") < 20),
        batch_token="a",
    )
    # a single one-sampled-frame clip: 8 band rows → well under the 32
    # partition prefixes, so the prune filter must survive saturation
    # detection
    tiny = spark.createDataFrame(
        [(30, b"one tiny clip payload", (200, 64, 48))],
        video_rows.schema,
    )
    pairs = incremental_video_dhash_fold(spark, index, tiny, batch_token="b")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain(mode="formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^]]*pb#\d+ (IN|=)", plan), plan[:2000]

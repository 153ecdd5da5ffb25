"""Incremental image perceptual-hash (dHash) near-dup index: fold NEW
media batches against a persisted band index without re-hashing or
re-blocking history (extension — no reference evidence; the crawl-
cadence lifecycle the round-13 verdict named as the dhash family's
missing piece, built on the ``dedup_incremental`` template).

Batch :func:`~py_data_pipeline_app_spark.operators.media.dhash_near_dup_pairs`
re-bands the WHOLE corpus every run — at crawl cadence on an image
corpus every micro-batch would pay a full posting-list rebuild to
answer "is this new image a near-dup of anything we already have".
The incremental fold keeps two append-only parquet tables:

- ``bands/``  — (media_id, band, bucket): every historical asset's
  hamming band buckets, produced by the SAME
  :func:`~py_data_pipeline_app_spark.operators.media.dhash_band_buckets`
  generator as the batch path, so both sides bucket identically by
  construction; stored ``partitionBy(pb)`` on a hash prefix of the
  band key so fold-time probes partition-prune to the batch's own
  prefixes instead of scanning the whole band table.
- ``hashes/`` — (media_id, dhash[, dhash_v]): the signatures
  themselves, the only payload exact-hamming verification needs (no
  re-decode of history at fold time — the ``toksets/`` analog, but a
  fixed 8/16 bytes per asset instead of a word set).

Per batch the work is proportional to ``|new| + |matching index
rows|``, never ``|history|``: hash the new batch (one Arrow map over
payloads), candidates = within-batch pairs (grouped chunk-capped
bucket expansion) ∪ new×history pairs (keyed equi-join on
(band, bucket)), verification = XOR + bit_count on the joined
signatures, then the batch's bands + hashes append under an
idempotent ``batch-{token}`` subdirectory.

Parity contract (tested in test_media_dedup_incremental.py): folding
batches B1..Bn sequentially and unioning the emitted pairs yields
EXACTLY the pairs of one batch ``dhash_near_dup_pairs`` run over
B1∪..∪Bn (same uncapped bucket setting) — within-batch pairs surface
at their own fold, cross-batch pairs at the later batch's fold, and
the pigeonhole recall guarantee (combined hamming < bands ⇒ some band
segment identical ⇒ co-block) holds across the batch boundary because
band keys are pure bit arithmetic on the hash: the same pair collides
in the same band whether its members arrived together or years apart.

Deletes and compaction reuse the LSH index machinery verbatim
(:func:`~py_data_pipeline_app_spark.operators.dedup_incremental.index_delete`
with ``id_col="media_id"`` and :func:`compact_media_index` — the
shared lock, tombstone anti-join, keep-newest replay protection, and
convergent crash model all apply unchanged).

Round 15 adds the VIDEO twin on the same template
(:func:`incremental_video_dhash_fold`): ``bands/`` holds per-frame
time-bucketed blocking rows (media_id, frame_bucket, band, bucket) —
``video_near_dup_pairs``'s blocking key, already index-shaped — and
``framehashes/`` the per-frame signatures verification needs; the
fold emits verified CLIP pairs (per-bucket min combined hamming, a
``min_matching_buckets`` floor) with the identical parity, replay,
tombstone and compaction contracts.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import fsio

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    _bucket_member_pairs,
)
from py_data_pipeline_app_spark.operators.dedup_incremental import (
    DEFAULT_PART_BUCKETS,
    PART_COL,
    _acquire_index_lock,
    _append_batch,
    _auto_part_buckets,
    _batch_part_values,
    _pinned_history,
    _read_tombstones,
    _without_tombstoned,
    compact_index,
    index_delete,
    part_bucket_col,
)
from py_data_pipeline_app_spark.operators.media import (
    _dhash_band_key_array,
    _dhash_hash_cols,
    dhash_band_buckets,
    dhash_hamming,
    media_dhash,
    video_frame_dhash,
)

BANDS_SUBDIR = "bands"
HASHES_SUBDIR = "hashes"
FRAMEHASHES_SUBDIR = "framehashes"
CONFIG_SUBDIR = "config"


def _check_or_write_config(
    spark: SparkSession,
    index_path: str,
    decoder: str,
    axes: str,
    bands: int,
    max_hamming: int,
    part_buckets: int | None,
    batch: DataFrame,
) -> int:
    """One index = one (decoder, axes, bands, max_hamming)
    configuration. ``decoder`` decides the hash SPACE itself (an image
    grid and an audio spectrogram never hash alike), ``axes`` the
    signature schema AND per-band segment width, ``bands`` the bucket
    keys — band keys from different configurations never match, so a
    drifted fold would silently emit no cross-history pairs (the worst
    dedup failure mode: false confidence); ``max_hamming`` decides
    which pairs folds emit, so drift there would make the
    union-of-folds parity contract meaningless; ``part_buckets`` the
    band table's partition layout, so drift there would send the same
    band key to a different partition directory and a pruned probe
    would silently skip old history. First fold persists the
    manifest; later folds fail loudly on drift (the ``assign_mode`` /
    LSH-config discipline). ``part_buckets=None`` auto-sizes at the
    first fold and adopts the persisted fanout afterwards (the LSH
    index's resolution contract); returns the resolved fanout, 1
    meaning the unpartitioned flat layout."""
    path = f"{index_path}/{CONFIG_SUBDIR}"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        row = fsio.read_small_parquet_rows(spark, path)[0]
        stored = getattr(row, "part_buckets", None)
        have = (row.decoder, row.axes, row.bands, row.max_hamming, stored)
        want = (
            decoder,
            axes,
            bands,
            max_hamming,
            stored if part_buckets is None else part_buckets,
        )
        if stored is None or have != want:
            raise ValueError(
                f"dhash index at {index_path} was built with (decoder, axes, "
                f"bands, max_hamming, part_buckets)={have}, fold requested "
                f"{want}; hashes and band keys (and their partition "
                "directories) from different configurations never match, so "
                "this fold would silently miss every historical near-dup - "
                "rebuild the index or match its configuration"
            )
        return int(stored)
    if part_buckets is None:
        part_buckets = _auto_part_buckets(spark, batch)
    local_rows_df(
        spark,
        "decoder string, axes string, bands int, max_hamming int, "
        "part_buckets int",
        [(decoder, axes, bands, max_hamming, part_buckets)],
    ).write.mode("overwrite").parquet(path)
    return int(part_buckets)


def incremental_dhash_fold(
    spark: SparkSession,
    index_path: str,
    new_media: DataFrame,
    *,
    decoder: str = "payload_gray",
    axes: str = "both",
    bands: int = 8,
    max_hamming: int = 6,
    id_col: str = "media_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    part_buckets: int | None = None,
    batch_token: str | None = None,
) -> DataFrame:
    """Fold one batch of new media assets into the persisted dHash
    index.

    Returns the VERIFIED near-dup pairs the batch introduces — within
    the batch and between the batch and every previously folded asset
    — as (id_a, id_b, hamming) with exact (combined, for two-axis)
    hamming ≤ ``max_hamming``, normalized ``id_a < id_b``. The batch's
    bands and signatures are appended to the index before returning
    (eager write; the returned pairs frame stays lazy but is pinned to
    the pre-fold index state).

    ``new_media`` needs (media_id, payload) — filter to
    ``kind='image'`` first on a mixed-modality table. Defaults are the
    PRODUCTION configuration (two-axis signature, 16-bit band
    buckets); ``max_bucket_size`` chunk-caps WITHIN-BATCH viral
    buckets exactly like the batch path, the new×history side is a
    keyed equi-join whose skew is AQE's job. Pass ``None`` for the
    exact uncapped contract (and exact batch parity on pathological
    data).

    Folds are serialized by the index lock; a retried fold (crash
    after the index write, foreachBatch replay) excludes its own
    ``batch-{token}`` subdirectory from history, so replay is
    exactly-once — no self-pairs, no double-reported within-batch
    pairs. RE-folding a media_id already in the index is supported
    only for identical content: verification is latest-wins per id
    (the batch's signature shadows the historical one) but the old
    content's band rows remain — fold changed content under a new id.

    Scale shape per fold: one Arrow decode map over the batch, one
    explode (``bands`` rows per new asset), one chunk-capped grouped
    expansion, one (band, bucket) equi-join against history (the
    posting-list probe — Catalyst broadcasts the new side when small),
    one id-keyed join for verification. History is stored
    ``partitionBy(pb = xxhash64(band, bucket) % part_buckets)`` and
    the probe carries an ``IN``-filter on the batch's own prefixes,
    so a crawl-cadence batch touching few prefixes reads only those
    partition directories (plan-asserted ``PartitionFilters``; the
    filter is dropped when the batch saturates the prefix space and
    the probe degrades to the keyed full scan)."""
    fs, lock = _acquire_index_lock(spark, index_path, "dhash fold")
    try:
        part_buckets = _check_or_write_config(
            spark, index_path, decoder, axes, bands, max_hamming,
            part_buckets, new_media,
        )
        flat = part_buckets <= 1
        new_hashes = media_dhash(
            new_media.select(F.col(id_col).alias("media_id"), "payload"),
            decoder=decoder,
            axes=axes,
        )
        # one decode (bands, verify, append share it), materialized by
        # the fold's first action instead of a dedicated checkpoint job
        new_hashes = new_hashes.localCheckpoint(eager=False)
        hash_cols = _dhash_hash_cols(new_hashes)
        new_buckets = dhash_band_buckets(new_hashes, bands=bands)
        if not flat:
            new_buckets = new_buckets.withColumn(
                PART_COL, part_bucket_col(["band", "bucket"], part_buckets)
            )

        token = batch_token or uuid.uuid4().hex[:12]
        tombs = _read_tombstones(spark, index_path)
        hist_buckets = _without_tombstoned(
            _pinned_history(
                spark, index_path, BANDS_SUBDIR, new_buckets,
                exclude_token=token,
                prune_to=(
                    None
                    if flat
                    else _batch_part_values(new_buckets, part_buckets)
                ),
            ),
            tombs,
        )

        within = _bucket_member_pairs(
            new_buckets,
            ["band", "bucket"],
            "media_id",
            max_bucket_size=max_bucket_size,
        ).select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        across = (
            new_buckets.alias("n")
            .join(
                hist_buckets.alias("h"),
                (F.col("n.band") == F.col("h.band"))
                & (F.col("n.bucket") == F.col("h.bucket")),
            )
            .select(
                F.least(F.col("n.media_id"), F.col("h.media_id")).alias("id_a"),
                F.greatest(F.col("n.media_id"), F.col("h.media_id")).alias(
                    "id_b"
                ),
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        cands = within.unionByName(across).distinct()

        hist_hashes = _without_tombstoned(
            _pinned_history(
                spark, index_path, HASHES_SUBDIR, new_hashes,
                exclude_token=token,
            ),
            tombs,
        )
        # latest-wins per media_id (re-ingest / pre-compaction retry
        # leftovers would otherwise fan the verify joins into duplicate
        # pair rows — the LSH fold's tokset discipline)
        hist_only = hist_hashes.join(
            new_hashes.select("media_id"), "media_id", "left_anti"
        ).dropDuplicates(["media_id"])
        all_hashes = new_hashes.unionByName(hist_only)
        ha = all_hashes.select(
            F.col("media_id").alias("id_a"),
            *[F.col(hc).alias(f"_ha{j}") for j, hc in enumerate(hash_cols)],
        )
        hb = all_hashes.select(
            F.col("media_id").alias("id_b"),
            *[F.col(hc).alias(f"_hb{j}") for j, hc in enumerate(hash_cols)],
        )
        verified = (
            cands.join(ha, "id_a")
            .join(hb, "id_b")
            .select(
                "id_a",
                "id_b",
                dhash_hamming(hash_cols).cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )

        _append_batch(
            new_buckets, index_path, BANDS_SUBDIR, token, single_file=True
        )
        _append_batch(
            new_hashes, index_path, HASHES_SUBDIR, token, single_file=True
        )
        return verified
    finally:
        fs.delete(lock, False)


def media_index_delete(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    *,
    batch_token: str | None = None,
) -> str | None:
    """Tombstone-delete assets from the persisted dHash index — the
    takedown path, FORGET-not-BLOCK semantics and crash model exactly
    as :func:`~py_data_pipeline_app_spark.operators.dedup_incremental.index_delete`
    (shared implementation; the tombstone set stores ``media_id`` and
    every fold anti-joins it out of both history reads)."""
    return index_delete(
        spark, index_path, ids, id_col="media_id", batch_token=batch_token
    )


def _check_or_write_video_config(
    spark: SparkSession,
    index_path: str,
    decoder: str,
    every: int,
    fps_ms: int,
    bucket_ms: int,
    bands: int,
    max_hamming: int,
    min_matching_buckets: int,
    part_buckets: int | None,
    batch: DataFrame,
) -> int:
    """One video index = one complete sampling + banding + verification
    configuration: ``decoder``/``every``/``fps_ms`` decide WHICH frames
    exist and what they hash to, ``bucket_ms`` the time-bucket blocking
    keys, ``bands``/``part_buckets`` the band keys and their partition
    directories, ``max_hamming``/``min_matching_buckets`` which pairs
    folds emit. Any drift would silently break cross-history matching
    or the union-of-folds parity contract — refuse loudly instead (the
    image index's manifest discipline, one field per knob).
    ``part_buckets=None`` auto-sizes at the first fold and adopts the
    persisted fanout afterwards; returns the resolved fanout (1 = the
    unpartitioned flat layout)."""
    path = f"{index_path}/{CONFIG_SUBDIR}"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        row = fsio.read_small_parquet_rows(spark, path)[0]
        have = tuple(
            getattr(row, f, None)
            for f in (
                "decoder", "every", "fps_ms", "bucket_ms", "bands",
                "max_hamming", "min_matching_buckets", "part_buckets",
            )
        )
        stored = have[-1]
        want = (
            decoder, every, fps_ms, bucket_ms, bands, max_hamming,
            min_matching_buckets,
            stored if part_buckets is None else part_buckets,
        )
        if stored is None or have != want:
            raise ValueError(
                f"video dhash index at {index_path} was built with (decoder, "
                f"every, fps_ms, bucket_ms, bands, max_hamming, "
                f"min_matching_buckets, part_buckets)={have}, fold requested "
                f"{want}; frame samples, band keys and verification floors "
                "from different configurations never line up, so this fold "
                "would silently miss or misreport historical near-dups - "
                "rebuild the index or match its configuration"
            )
        return int(stored)
    if part_buckets is None:
        part_buckets = _auto_part_buckets(spark, batch)
    want = (
        decoder, every, fps_ms, bucket_ms, bands, max_hamming,
        min_matching_buckets, part_buckets,
    )
    local_rows_df(
        spark,
        "decoder string, every int, fps_ms int, bucket_ms int, bands int, "
        "max_hamming int, min_matching_buckets int, part_buckets int",
        [want],
    ).write.mode("overwrite").parquet(path)
    return int(part_buckets)


def incremental_video_dhash_fold(
    spark: SparkSession,
    index_path: str,
    new_media: DataFrame,
    *,
    decoder: str = "payload_frames",
    every: int = 5,
    fps_ms: int = 40,
    bucket_ms: int = 1000,
    bands: int = 8,
    max_hamming: int = 6,
    min_matching_buckets: int = 2,
    id_col: str = "media_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    part_buckets: int | None = None,
    batch_token: str | None = None,
) -> DataFrame:
    """Fold one batch of new VIDEO assets into the persisted per-frame
    dHash index — the crawl-cadence twin of
    :func:`~py_data_pipeline_app_spark.operators.media.video_near_dup_pairs`
    on the image index's template (the round-14 verdict's task 3: the
    (frame_bucket, band, bucket) blocking rows are already
    index-shaped, so they persist).

    Returns the verified near-dup CLIP pairs the batch introduces —
    within the batch and between the batch and every previously folded
    clip — as (id_a, id_b, n_matching_buckets) with per-time-bucket
    min combined hamming ≤ ``max_hamming`` in at least
    ``min_matching_buckets`` shared buckets, normalized ``id_a <
    id_b``: exactly the batch operator's contract, paid at batch cost.
    Union-of-folds == one batch run over everything folded (with
    ``max_bucket_size=None``; the within-batch chunk cap mirrors the
    batch path's). ``new_media`` needs (media_id, payload, meta) —
    filter to ``kind='video'`` first on a mixed table.

    Index layout: ``bands/`` holds (media_id, frame_bucket, band,
    bucket) ``partitionBy(pb)`` on a hash prefix of the full blocking
    key — the history probe carries an ``IN``-filter on the batch's
    own prefixes, pruning at the parquet partition level;
    ``framehashes/`` holds the per-frame signatures verification
    needs (no re-decode of history at fold time). Replay, tombstones
    (:func:`video_index_delete`), latest-wins re-fold semantics and
    the lock protocol are the image fold's, unchanged.

    Scale shape per fold: ONE Arrow decode map over the batch's
    payloads (checkpointed — blocking, verification and the append
    all reuse it), one explode to band rows, one chunk-capped grouped
    expansion, one pruned (frame_bucket, band, bucket) equi-join, one
    id-keyed frame join restricted to candidate pairs, two appends."""
    fs, lock = _acquire_index_lock(spark, index_path, "video dhash fold")
    try:
        part_buckets = _check_or_write_video_config(
            spark, index_path, decoder, every, fps_ms, bucket_ms, bands,
            max_hamming, min_matching_buckets, part_buckets, new_media,
        )
        flat = part_buckets <= 1
        cols = [F.col(id_col).alias("media_id"), F.col("payload")]
        if "meta" in new_media.columns:
            cols.append(F.col("meta"))
        else:
            # the fake decoder reads duration_ms for its frame count;
            # payload-only feeds sample one frame per asset
            cols.append(
                F.lit(None).cast("struct<duration_ms:bigint>").alias("meta")
            )
        new_fh = (
            video_frame_dhash(
                new_media.select(*cols),
                decoder=decoder,
                every=every,
                fps_ms=fps_ms,
            )
            .withColumn(
                "frame_bucket", (F.col("ts_ms") / F.lit(bucket_ms)).cast("long")
            )
            .localCheckpoint(eager=False)  # one decode (block, verify,
            # append share it), materialized by new_blocked's own
            # checkpoint action instead of a dedicated job
        )
        new_blocked = (
            new_fh.select(
                "media_id",
                "frame_bucket",
                F.explode(
                    _dhash_band_key_array(["dhash", "dhash_v"], bands)
                ).alias("bk"),
            )
            .select(
                "media_id",
                "frame_bucket",
                F.col("bk.band").alias("band"),
                F.col("bk.bucket").alias("bucket"),
            )
            .distinct()
        )
        if not flat:
            new_blocked = new_blocked.withColumn(
                PART_COL,
                part_bucket_col(
                    ["frame_bucket", "band", "bucket"], part_buckets
                ),
            )
        # four consumers (prefix set, within-pairs, history join,
        # append) would each re-run the explode+distinct shuffle
        new_blocked = new_blocked.localCheckpoint(eager=True)

        token = batch_token or uuid.uuid4().hex[:12]
        tombs = _read_tombstones(spark, index_path)
        hist_blocked = _without_tombstoned(
            _pinned_history(
                spark, index_path, BANDS_SUBDIR, new_blocked,
                exclude_token=token,
                prune_to=(
                    None
                    if flat
                    else _batch_part_values(new_blocked, part_buckets)
                ),
            ),
            tombs,
        )

        within = _bucket_member_pairs(
            new_blocked,
            ["frame_bucket", "band", "bucket"],
            "media_id",
            max_bucket_size=max_bucket_size,
        ).select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        across = (
            new_blocked.alias("n")
            .join(
                hist_blocked.alias("h"),
                (F.col("n.frame_bucket") == F.col("h.frame_bucket"))
                & (F.col("n.band") == F.col("h.band"))
                & (F.col("n.bucket") == F.col("h.bucket")),
            )
            .select(
                F.least(F.col("n.media_id"), F.col("h.media_id")).alias("id_a"),
                F.greatest(F.col("n.media_id"), F.col("h.media_id")).alias(
                    "id_b"
                ),
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        cands = within.unionByName(across).distinct()

        hist_fh = _without_tombstoned(
            _pinned_history(
                spark, index_path, FRAMEHASHES_SUBDIR, new_fh,
                exclude_token=token,
            ),
            tombs,
        )
        # latest-wins per media_id (the image fold's discipline) plus
        # per-frame dedup of pre-compaction retry leftovers
        hist_only = hist_fh.join(
            new_fh.select("media_id").distinct(), "media_id", "left_anti"
        ).dropDuplicates(["media_id", "frame_idx"])
        all_fh = new_fh.unionByName(hist_only)
        fa = all_fh.select(
            F.col("media_id").alias("id_a"),
            F.col("frame_bucket"),
            F.col("dhash").alias("_ha0"),
            F.col("dhash_v").alias("_ha1"),
        )
        fb = all_fh.select(
            F.col("media_id").alias("_id_b"),
            F.col("frame_bucket").alias("_fb_b"),
            F.col("dhash").alias("_hb0"),
            F.col("dhash_v").alias("_hb1"),
        )
        verified = (
            cands.join(fa, "id_a")
            .join(
                fb,
                (F.col("id_b") == F.col("_id_b"))
                & (F.col("frame_bucket") == F.col("_fb_b")),
            )
            .withColumn("_ham", dhash_hamming(["dhash", "dhash_v"]))
            .groupBy("id_a", "id_b", "frame_bucket")
            .agg(F.min("_ham").alias("_min_ham"))
            .filter(F.col("_min_ham") <= max_hamming)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("int").alias("n_matching_buckets"))
            .filter(F.col("n_matching_buckets") >= min_matching_buckets)
        )

        _append_batch(
            new_blocked, index_path, BANDS_SUBDIR, token, single_file=True
        )
        _append_batch(
            new_fh, index_path, FRAMEHASHES_SUBDIR, token, single_file=True
        )
        return verified
    finally:
        fs.delete(lock, False)


def video_index_delete(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    *,
    batch_token: str | None = None,
) -> str | None:
    """Tombstone-delete clips from the persisted video dHash index —
    FORGET-not-BLOCK semantics and crash model exactly as
    :func:`media_index_delete` (shared implementation; folds anti-join
    the tombstone set out of both the band and frame-hash reads)."""
    return index_delete(
        spark, index_path, ids, id_col="media_id", batch_token=batch_token
    )


def compact_video_index(
    spark: SparkSession, index_path: str, *, keep_newest: bool = True
) -> int:
    """Merge the video index's ``batch-*`` subdirectories into one
    consolidated batch — the shared
    :func:`~py_data_pipeline_app_spark.operators.dedup_incremental.compact_index`
    on this index's layout (band rows distinct; frame hashes deduped
    per (media_id, frame_idx)), inheriting the lock, tombstones,
    keep-newest replay protection and convergence crash model."""
    return compact_index(
        spark,
        index_path,
        keep_newest=keep_newest,
        tables=(
            (BANDS_SUBDIR, None),
            (FRAMEHASHES_SUBDIR, ["media_id", "frame_idx"]),
        ),
    )


def compact_media_index(
    spark: SparkSession, index_path: str, *, keep_newest: bool = True
) -> int:
    """Merge the dHash index's ``batch-*`` subdirectories into one
    consolidated batch —
    :func:`~py_data_pipeline_app_spark.operators.dedup_incremental.compact_index`
    on this index's layout (bands distinct; hashes deduped per
    media_id), inheriting the shared lock, tombstone application,
    keep-newest replay protection, and convergence-not-atomicity
    crash model unchanged."""
    return compact_index(
        spark,
        index_path,
        keep_newest=keep_newest,
        tables=((BANDS_SUBDIR, None), (HASHES_SUBDIR, ["media_id"])),
    )

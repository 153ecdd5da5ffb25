"""Incremental MinHash+LSH near-dup index: fold NEW document batches
against a persisted band index without re-running LSH over history.

Batch :func:`~py_data_pipeline_app_spark.operators.dedup.minhash_dedup_pairs`
recomputes signatures and buckets for the WHOLE corpus every run — at
100 TB that is a full-corpus shuffle to answer "is this new crawl
snapshot a dup of anything we already have". The incremental fold keeps
two append-only parquet tables (the index):

- ``bands/``   — (doc_id, band, bucket): every historical document's
  LSH band buckets, produced by the SAME
  :func:`~py_data_pipeline_app_spark.operators.dedup.band_buckets`
  generator as the batch path, so both sides bucket identically by
  construction.
- ``toksets/`` — (doc_id, tokset): the sorted distinct word set per
  historical document, the only payload exact-Jaccard verification
  needs (no re-tokenization of history at fold time). Only written
  for ``threshold < 1.0``; at threshold 1.0 the fold mirrors the
  batch short-circuit — the band table holds token-set fingerprints
  (one band) and verification is unnecessary.

Per batch the work is proportional to ``|new| + |matching index
rows|``, never ``|history|``:

1. signatures + band buckets for the new docs only (one groupBy);
2. candidates = within-batch pairs (grouped bucket expansion, viral
   buckets chunk-capped) ∪ new×history pairs (keyed equi-join of the
   new buckets against the index on (band, bucket) — Catalyst
   broadcast-joins the new side when small, and AQE handles skewed
   buckets);
3. exact word-set Jaccard verification on candidates only, token sets
   joined from the new batch and the index;
4. the new batch's bands + toksets are appended to the index under an
   idempotent ``batch-{token}`` subdirectory (same exactly-once
   pattern as streaming/dedup.py's sink and warehouse.append).

Parity contract (tested in test_dedup_incremental.py): folding batches
B1..Bn sequentially and unioning the emitted pairs yields EXACTLY the
pairs of one batch LSH run over B1∪..∪Bn (with the same uncapped
bucket setting) — within-batch pairs surface at their own fold,
cross-batch pairs at the later batch's fold.

Scale notes: history is only ever touched through the (band, bucket)
equi-join and the verification join on candidate doc_ids — both keyed,
both prunable. The band table is PARTITIONED by a hash prefix of the
band key (``pb = xxhash64(band, bucket) % part_buckets``) and each
fold's history read carries an ``IN``-filter on the batch's own
prefix set, so the probe PRUNES at the parquet partition level
(plan-asserted ``PartitionFilters`` — the semantic index's
``partitionBy(centroid_id)`` discipline): a takedown-sized or
crawl-cadence batch whose band keys touch few prefixes reads only
those directories instead of scanning the whole band table, and a
batch wide enough to touch every prefix degrades gracefully to
today's full keyed scan (the filter is dropped when saturated).
Size ``part_buckets`` like any partitionBy fanout (measured rule #6:
bucket_bytes / target_file_size at the target corpus).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import fsio

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.functions.text import tokens
from py_data_pipeline_app_spark.partitioning import fan_out
from py_data_pipeline_app_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_MAX_BUCKET,
    DEFAULT_NUM_PERMS,
    _bucket_member_pairs,
    band_buckets,
    minhash_signatures,
    token_set_fingerprint,
)

BANDS_SUBDIR = "bands"
TOKSETS_SUBDIR = "toksets"
CONFIG_SUBDIR = "config"
LOCK_FILE = "_index.lock"

#: partition column every band-keyed index table is laid out by: a
#: stable hash prefix of the band key. xxhash64 is a FIXED algorithm
#: (seed 42) in Spark, so the same key lands in the same partition
#: directory across sessions and versions — a partition scheme that
#: drifted between writer sessions would silently split one key's
#: posting list across directories and break pruned probes.
PART_COL = "pb"
DEFAULT_PART_BUCKETS = 32

#: auto-sizing floor (first fold, ``part_buckets=None``): one partition
#: bucket per this many batch-input bytes, so a test/crawl-cadence-sized
#: first batch gets the UNPARTITIONED layout (1 bucket — partitionBy
#: fanout below this size costs listing/write jobs without buying any
#: pruned I/O; measured: the 32-dir layout regressed the sf0.1 fold
#: 2.1→3.5 s) while a corpus-scale batch gets DEFAULT_PART_BUCKETS.
#: The FIRST batch is a proxy for the index's lifetime size — a
#: long-lived production index should pass ``part_buckets`` explicitly,
#: sized like any partitionBy fanout (measured rule #6: projected index
#: bytes / target file size).
AUTO_PART_TARGET_BYTES = 64 << 20


def _auto_part_buckets(spark: SparkSession, batch: DataFrame) -> int:
    """Size ``part_buckets`` from the first batch's input files.
    Frames with no resolvable input files (literal frames, streaming
    micro-batches from non-file sources) default to
    :data:`DEFAULT_PART_BUCKETS` — the scale-conservative choice,
    since the heuristic cannot prove the feed small."""
    try:
        files = batch.inputFiles()
    except Exception:  # noqa: BLE001 — planning-time probe only
        files = []
    if not files:
        return DEFAULT_PART_BUCKETS
    total = sum(fsio.file_size(spark, f) for f in files)
    return max(1, min(DEFAULT_PART_BUCKETS, total // AUTO_PART_TARGET_BYTES))


def part_bucket_col(cols: list[str], part_buckets: int) -> Column:
    """The partition-prefix expression shared by every band-keyed
    index writer and prober: ``xxhash64(cols) % part_buckets``, non-
    negative int. Both sides derive it from the SAME key columns, so
    a history row that can match a batch row necessarily shares its
    prefix — filtering history to the batch's prefix set loses
    nothing (the pruning-soundness argument)."""
    return F.pmod(F.xxhash64(*cols), F.lit(part_buckets)).cast("int")


def _batch_part_values(df: DataFrame, part_buckets: int) -> list[int] | None:
    """The batch's distinct partition prefixes (driver-side, bounded
    by ``part_buckets``), or None when the batch saturates the prefix
    space — an IN-filter listing every partition prunes nothing and
    just bloats the plan."""
    vals = sorted({r[0] for r in df.select(PART_COL).distinct().collect()})
    return None if len(vals) >= part_buckets else vals


def _acquire_index_lock(spark: SparkSession, index_path: str, what: str):
    """Mutual exclusion between index mutators (folds and compactions):
    an atomic ``createNewFile`` on a lock marker. Folds must be
    serialized anyway (two concurrent folds would each miss the other's
    documents as history — silent missed pairs), and a compaction
    racing a fold could delete subdirectories mid-read; with the lock,
    either race fails LOUDLY instead. A crash can leave the marker
    behind — the error message names the path so an operator can remove
    a stale lock deliberately, never accidentally."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(f"{index_path}/{LOCK_FILE}")
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(jvm_path.getParent())
    if not fs.createNewFile(jvm_path):
        raise RuntimeError(
            f"index at {index_path} is locked by a concurrent fold or "
            f"compaction ({what} refused). If the previous operation crashed, "
            f"remove the stale marker {index_path}/{LOCK_FILE} and retry."
        )
    return fs, jvm_path


def _check_or_write_config(
    spark: SparkSession,
    index_path: str,
    num_perms: int,
    bands: int,
    exact: bool,
    part_buckets: int | None,
    batch: DataFrame,
) -> int:
    """One index = one (num_perms, bands, exact-mode, part_buckets)
    configuration — band keys from different configurations NEVER
    match, so a mismatched fold would silently emit no cross-history
    pairs (the worst failure mode for a dedup system: false
    confidence), and a drifted ``part_buckets`` would send the same
    band key to a DIFFERENT partition directory, so a pruned probe
    would silently skip history written under the old scheme. The
    first fold persists its configuration as a one-row parquet table
    — ``part_buckets=None`` auto-sizes it there
    (:func:`_auto_part_buckets`); every later fold validates against
    it (None adopts the stored fanout) and fails loudly on drift (an
    index written before the partitioned layout has no
    ``part_buckets`` field and is refused the same way — rebuild it).
    Returns the resolved ``part_buckets``; 1 means the UNPARTITIONED
    flat layout (no ``pb`` column, no partition directories — a
    single-bucket partitionBy would pay the layout's listing/write
    overhead and prune nothing)."""
    path = f"{index_path}/{CONFIG_SUBDIR}"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        row = fsio.read_small_parquet_rows(spark, path)[0]
        stored = getattr(row, "part_buckets", None)
        have = (row.num_perms, row.bands, row.exact, stored)
        want = (
            num_perms,
            bands,
            exact,
            stored if part_buckets is None else part_buckets,
        )
        if stored is None or have != want:
            raise ValueError(
                f"index at {index_path} was built with (num_perms, bands, "
                f"exact, part_buckets)={have}, fold requested {want}; band "
                "keys (and their partition directories) from different "
                "configurations never match, so this fold would silently miss "
                "every historical near-dup - rebuild the index or match its "
                "configuration"
            )
        return int(stored)
    if part_buckets is None:
        part_buckets = _auto_part_buckets(spark, batch)
    local_rows_df(
        spark,
        "num_perms int, bands int, exact boolean, part_buckets int",
        [(num_perms, bands, exact, part_buckets)],
    ).write.mode("overwrite").parquet(path)
    return int(part_buckets)


def _pinned_history(
    spark: SparkSession,
    index_path: str,
    subdir: str,
    like: DataFrame,
    *,
    exclude_token: str,
    prune_to: list[int] | None = None,
) -> DataFrame:
    """Read the index table as it exists NOW, pinned to the concrete
    batch subdirectories present at call time. Pinning matters for
    laziness: the returned plan lists explicit paths, so a pairs frame
    built by one fold does not silently absorb batches appended by
    later folds when it is finally collected. The current fold's own
    ``batch-{exclude_token}`` subdirectory is skipped, so a RETRIED
    fold (crash after the index write, foreachBatch replay) does not
    compare its documents against their own half-committed copies —
    that would emit self-pairs and double-report within-batch pairs.
    Empty index → empty frame with the live schema (from ``like``).

    A table whose ``like`` schema carries :data:`PART_COL` is stored
    ``partitionBy(pb)`` inside each batch directory; those are read
    per-directory with the explicit schema (multi-path reads refuse
    mixed ``batch-*/pb=*`` structures, and the explicit schema makes
    a zero-row batch directory — ``_SUCCESS`` only, measured rule #5
    — read back as empty instead of failing inference) and unioned.
    ``prune_to`` then applies an ``IN``-filter on the partition
    column, which Catalyst pushes into every scan as a
    ``PartitionFilters`` entry — the pruned posting-list probe."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(f"{index_path}/{subdir}")
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path):
        return local_rows_df(spark, like.schema, [])
    dirs = [
        str(s.getPath())
        for s in fs.listStatus(jvm_path)
        if s.isDirectory()
        and s.getPath().getName().startswith("batch-")
        and s.getPath().getName() != f"batch-{exclude_token}"
    ]
    if not dirs:
        return local_rows_df(spark, like.schema, [])
    if PART_COL not in like.columns:
        return spark.read.parquet(*sorted(dirs))
    hist: DataFrame | None = None
    for d in sorted(dirs):
        part = spark.read.schema(like.schema).parquet(d)
        hist = part if hist is None else hist.unionByName(part)
    if prune_to is not None:
        hist = hist.filter(F.col(PART_COL).isin(prune_to))
    return hist


def _append_batch(
    df: DataFrame,
    index_path: str,
    subdir: str,
    token: str,
    *,
    single_file: bool = False,
) -> None:
    """Idempotent append: each fold writes its own ``batch-{token}``
    subdirectory in overwrite mode, so a retried fold replaces its
    partial output instead of duplicating it. A frame carrying
    :data:`PART_COL` is written ``partitionBy(pb)`` — repartitioned by
    the partition column first so each prefix directory gets ONE file
    per append instead of one per (task, prefix) (measured rule #6).
    ``single_file=True`` bounds a FLAT append to one file the same way
    (fold appends are batch-sized by construction — one file beats a
    file per upstream task, which every later history read must list
    and open; compactions pass False, their consolidated frame can be
    index-sized)."""
    dest = f"{index_path}/{subdir}/batch-{token}"
    if PART_COL in df.columns:
        df.repartition(PART_COL).write.mode("overwrite").partitionBy(
            PART_COL
        ).parquet(dest)
    else:
        (df.repartition(1) if single_file else df).write.mode(
            "overwrite"
        ).parquet(dest)


def _has_data_files(fs, jvm_path) -> bool:
    """True iff the directory holds any parquet data file, at any
    depth (a partitioned batch dir nests them under ``pb=*``). A
    ``_SUCCESS``-only directory — an empty fold's append — has none."""
    it = fs.listFiles(jvm_path, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


DELETES_SUBDIR = "deletes"


def index_delete(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    *,
    id_col: str = "doc_id",
    batch_token: str | None = None,
) -> str | None:
    """Tombstone-delete documents from the persisted LSH index — the
    takedown path: a removed document must stop matching FUTURE folds
    immediately, without rewriting the index (the IVF
    ``ivf_index_delete`` contract on the near-dup layout).

    Semantics are FORGET, not BLOCK: after deletion, future near-
    copies of the removed content are admitted as new documents (the
    right-to-erasure reading — no trace of the original remains, not
    even as a match key). A DMCA-style blocklist is the OPPOSITE
    operation and needs no new machinery: keep the row in the index
    (its matches identify re-uploads) and act on pairs naming it
    downstream.

    ``ids`` is written DISTINCT under an idempotent
    ``deletes/batch-{token}`` subdirectory. Folds anti-join the
    (broadcast, takedown-sized) tombstone set out of their history
    reads, so tombstoned documents neither produce cross-batch pairs
    nor shadow verification; :func:`compact_index` applies tombstones
    to the consolidated rewrite, and a FULL compaction
    (``keep_newest=False``) also consumes them — a keep-newest pass
    retains them, because the protected newest batch may still hold a
    tombstoned document's rows. Pairs already emitted by earlier folds
    are history's output, not index state — they are not retracted.
    Re-folding a tombstoned doc_id before the tombstone is consumed is
    unsupported (the tombstone outranks the re-fold). Against a LIVE
    stream, a delete racing a micro-batch fold fails loudly on the
    shared lock in whichever order they collide — for the stream that
    surfaces as one failed-and-retried micro-batch (the delete holds
    the lock only for its small write), for the delete as an exception
    to retry. Returns the batch token, or None for an empty ``ids``
    (a no-op tombstone directory would accrete listing cost
    forever)."""
    lock_fs, lock = _acquire_index_lock(spark, index_path, "delete")
    try:
        token = batch_token or uuid.uuid4().hex[:12]
        dest = f"{index_path}/{DELETES_SUBDIR}/batch-{token}"
        # coalesce(1): the set is takedown-sized and re-read by EVERY
        # fold — one file beats shuffle-partition-many tiny ones
        ids.select(F.col(id_col)).distinct().coalesce(1).write.mode(
            "overwrite"
        ).parquet(dest)
        # empty-input detection needs BOTH probes: a zero-task write
        # (empty literal frame) emits only _SUCCESS — no footers, so a
        # read would fail inference — while a zero-row write from a
        # scan-backed frame emits a schema-bearing empty file
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(dest)
        fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
        has_files = any(
            s.getPath().getName().endswith(".parquet")
            for s in fs.listStatus(jvm_path)
        )
        if not has_files or spark.read.parquet(dest).isEmpty():
            fs.delete(jvm_path, True)
            return None
        return token
    finally:
        lock_fs.delete(lock, False)


def _read_tombstones(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Union of every pending tombstone batch, distinct — None when
    the index has none (one existence check, zero jobs)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(
        f"{index_path}/{DELETES_SUBDIR}"
    )
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path):
        return None
    dirs = sorted(
        str(s.getPath())
        for s in fs.listStatus(jvm_path)
        if s.isDirectory() and s.getPath().getName().startswith("batch-")
    )
    if not dirs:
        return None
    return spark.read.parquet(*dirs).distinct()


def _without_tombstoned(df: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """``df`` minus rows whose id is tombstoned (broadcast anti-join on
    the tombstone set's stored column name — the id column the index's
    folds use, by contract). No-op when there are no tombstones."""
    if tombs is None:
        return df
    return df.join(F.broadcast(tombs), tombs.columns[0], "left_anti")


def compact_index(
    spark: SparkSession,
    index_path: str,
    *,
    keep_newest: bool = True,
    tables: tuple[tuple[str, list[str] | None], ...] = (
        (BANDS_SUBDIR, None),
        (TOKSETS_SUBDIR, ["doc_id"]),
    ),
) -> int:
    """Merge the index's ``batch-*`` subdirectories into one
    consolidated batch. A long-lived near-dup stream appends one
    subdirectory per micro-batch; after thousands of batches the
    per-fold file LISTING (driver-side, linear in subdir count)
    becomes the fixed cost — compaction restores O(1) listing and
    lets parquet re-cluster the band table into full-size row groups.

    ``tables`` names the index's (subdir, dedup-keys) layout — keys
    None means plain ``distinct``. The default is this module's
    MinHash layout; the dHash image index
    (operators/media_dedup_incremental) reuses the identical
    lock/tombstone/keep-newest machinery with its own layout.

    Serialized against folds by the index lock (a racing fold or
    second compaction fails loudly instead of reading mid-delete
    state). With ``keep_newest`` (the default) the most recently
    written batch subdirectory is left untouched: that is the only
    batch a crashed-then-replayed micro-batch could still rewrite, and
    merging it away would defeat the fold's own-token exclusion — the
    replay would see its half-committed docs as history and
    permanently duplicate them. Only disable it when no producer can
    possibly replay (e.g. the stream's checkpoint confirms the last
    batch committed and the stream is stopped).

    Crash-safe by convergence, not atomicity: the consolidated
    ``batch-compact-*`` directory is fully written BEFORE the source
    subdirectories are deleted, so a crash in between leaves duplicate
    index rows. Duplicates are harmless to fold correctness (candidate
    pairs are ``distinct``-ed and a doc's tokset rows are identical) —
    and re-running compaction reads the leftovers, rewrites a fresh
    consolidated batch with ``dropDuplicates``, and converges.

    Returns the number of subdirectories removed. Collect or write any
    fold's returned pairs frame before compacting — it lazily reads the
    pinned pre-fold subdirectories."""
    removed = 0
    token = f"compact-{uuid.uuid4().hex[:12]}"
    lock_fs, lock_path = _acquire_index_lock(spark, index_path, "compaction")
    try:
        # A fold writes the SAME batch token to both subdirs, so the
        # "one batch a crashed producer could still replay" is one NAME
        # shared by bands and toksets — resolve it ONCE across both
        # listings ((mtime, name) ordered: 1-second mtime granularity
        # ties are real on HDFS, and listing order must not decide
        # which batch keeps its replay protection or let the two
        # subdirs protect different batches).
        protected: str | None = None
        if keep_newest:
            candidates: list[tuple[int, str]] = []
            for subdir, _ in tables:
                jvm_path = spark._jvm.org.apache.hadoop.fs.Path(
                    f"{index_path}/{subdir}"
                )
                fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
                if not fs.exists(jvm_path):
                    continue
                candidates.extend(
                    (s.getModificationTime(), s.getPath().getName())
                    for s in fs.listStatus(jvm_path)
                    if s.isDirectory() and s.getPath().getName().startswith("batch-")
                )
            if candidates:
                protected = max(candidates)[1]
        # Tombstones (index_delete) are applied to every consolidated
        # rewrite; a FULL pass forces the rewrite even for a single
        # batch directory (so the filter reaches every row) and then
        # consumes the tombstone directories — consumption is safe
        # precisely because no unfiltered subdirectory remains. A
        # keep-newest pass retains them: the protected batch keeps its
        # rows, so the fold-time anti-join must stay active. Same
        # convergence-not-atomicity crash model as the merge itself
        # (a crash before consumption leaves tombstones whose re-apply
        # is a no-op anti-join).
        tombs = _read_tombstones(spark, index_path)
        min_dirs = 1 if (tombs is not None and not keep_newest) else 2
        for subdir, keys in tables:
            jvm_path = spark._jvm.org.apache.hadoop.fs.Path(f"{index_path}/{subdir}")
            fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(jvm_path):
                continue
            statuses = [
                s
                for s in fs.listStatus(jvm_path)
                if s.isDirectory()
                and s.getPath().getName().startswith("batch-")
                and s.getPath().getName() != protected
            ]
            dirs = [s.getPath() for s in statuses]
            if len(dirs) < min_dirs:
                continue
            # per-directory reads, unioned: a partitioned table's
            # batch dirs each contain pb=* subdirectories, which a
            # multi-path read refuses (conflicting structures), and a
            # zero-row batch directory (_SUCCESS only — an empty fold's
            # partitionBy write, measured rule #5) has nothing to infer
            # a schema from — it contributes no rows and is deleted
            # with the rest.
            merged = None
            for p in sorted(dirs, key=str):
                if not _has_data_files(fs, p):
                    continue
                part = spark.read.parquet(str(p))
                merged = part if merged is None else merged.unionByName(part)
            if merged is not None:
                merged = (
                    merged.dropDuplicates(keys) if keys else merged.distinct()
                )
                merged = _without_tombstoned(merged, tombs)
                _append_batch(merged, index_path, subdir, token)
            for p in dirs:
                fs.delete(p, True)
                removed += 1
        if tombs is not None and not keep_newest:
            dels_path = spark._jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/{DELETES_SUBDIR}"
            )
            dels_path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                dels_path, True
            )
            removed += 1
    finally:
        lock_fs.delete(lock_path, False)
    return removed


def incremental_lsh_fold(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    part_buckets: int | None = None,
    batch_token: str | None = None,
) -> DataFrame:
    """Fold one batch of new documents into the persisted LSH index.

    Returns the VERIFIED near-dup pairs the batch introduces — both
    within the batch and between the batch and every previously folded
    document — with exact word-set Jaccard ≥ ``threshold``. Pairs are
    normalized ``id_a < id_b``. The batch's bands and token sets are
    appended to the index before returning (eager write; the returned
    pairs frame itself stays lazy but is pinned to the pre-fold index
    state).

    ``max_bucket_size`` chunk-caps WITHIN-BATCH viral buckets exactly
    like the batch path; the new×history side is a keyed equi-join
    whose skew is AQE's job. Pass ``None`` for the exact uncapped
    contract (and exact batch parity on pathological data).
    ``part_buckets`` sets the band table's partition fanout: history
    is stored ``partitionBy(pb)`` with ``pb = xxhash64(band, bucket)
    % part_buckets`` and the probe carries an ``IN``-filter on the
    batch's own prefixes, so a batch whose keys touch few prefixes
    reads only those partition directories (plan-asserted pruning;
    dropped automatically when the batch saturates the prefix space).
    ``None`` (the default) auto-sizes it at the FIRST fold from the
    batch's input bytes — small feeds get the unpartitioned flat
    layout (1), corpus-scale feeds get :data:`DEFAULT_PART_BUCKETS` —
    and later folds adopt the persisted fanout; long-lived production
    indexes should size it explicitly (measured rule #6).

    ``threshold >= 1.0`` mirrors the batch short-circuit
    (:func:`~py_data_pipeline_app_spark.operators.dedup.minhash_dedup_pairs`):
    identical word sets collide in every band, so banded LSH is pure
    overhead there — the index key becomes the token-set FINGERPRINT
    (stored as a single band-0 bucket), no signatures are computed, and
    verification is skipped because fingerprint equality IS Jaccard
    1.0. The fold stays linear in the batch. One index = one
    (threshold, num_perms, bands) configuration — band keys from
    different configurations never match, so don't mix folds.

    Folds are serialized by the index lock (concurrent folds would
    each miss the other's documents as history — fail loudly instead).
    RE-folding a doc_id that is already in the index is supported only
    for identical content: verification is latest-wins per doc_id (the
    batch's token set shadows the historical one, so no duplicate or
    stale-jaccard pair rows), but the OLD content's band rows remain in
    the index — fold a changed document under a new doc_id instead."""
    fs, lock = _acquire_index_lock(spark, index_path, "fold")
    try:
        return _incremental_lsh_fold_locked(
            spark,
            index_path,
            new_docs,
            text_col=text_col,
            id_col=id_col,
            num_perms=num_perms,
            bands=bands,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            part_buckets=part_buckets,
            batch_token=batch_token,
        )
    finally:
        fs.delete(lock, False)


def _incremental_lsh_fold_locked(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_perms: int,
    bands: int,
    threshold: float,
    max_bucket_size: int | None,
    part_buckets: int | None,
    batch_token: str | None,
) -> DataFrame:
    exact = threshold >= 1.0
    part_buckets = _check_or_write_config(
        spark, index_path, num_perms, bands, exact, part_buckets, new_docs
    )
    flat = part_buckets <= 1
    # fan_out: the per-doc fingerprint/signature compute below is
    # map-side narrow work; an unsplittable one-file batch scan would
    # pin it (and the eager localCheckpoint that materializes it) to
    # one core (guide §2.5). minhash_signatures fans out internally,
    # but the exact-mode fingerprint branch and the tokset render do
    # not — do it once here for both.
    docs = fan_out(new_docs.select(F.col(id_col), F.col(text_col)))
    if exact:
        new_buckets = docs.select(
            F.col(id_col),
            F.lit(0).alias("band"),
            token_set_fingerprint(text_col).alias("bucket"),
        )
    else:
        sigs = minhash_signatures(
            docs, text_col=text_col, id_col=id_col, num_perms=num_perms
        )
        new_buckets = band_buckets(
            sigs, id_col=id_col, num_perms=num_perms, bands=bands
        )
    # reused by: within-pairs, prefix set (partitioned layout only),
    # history join, append. LAZY: the first consuming action — the
    # prefix-set collect, or in the flat layout the index append —
    # materializes it (the fused-probe shape — one job, not two). The
    # flat layout (part_buckets=1) carries no pb column at all: a
    # one-bucket partitionBy would pay listing/write fanout and an
    # always-true prune filter for nothing.
    if not flat:
        new_buckets = new_buckets.withColumn(
            PART_COL, part_bucket_col(["band", "bucket"], part_buckets)
        )
    new_buckets = new_buckets.localCheckpoint(eager=False)

    token = batch_token or uuid.uuid4().hex[:12]
    tombs = _read_tombstones(spark, index_path)
    hist_buckets = _without_tombstoned(
        _pinned_history(
            spark,
            index_path,
            BANDS_SUBDIR,
            new_buckets,
            exclude_token=token,
            prune_to=(
                None if flat else _batch_part_values(new_buckets, part_buckets)
            ),
        ),
        tombs,
    )

    # exact mode mirrors batch token_set_dedup_pairs, which never caps:
    # pairs within an identical-content group are the true answer
    # (inherently quadratic in group size, same as the batch path), so
    # capping here would silently break batch parity above the cap.
    within_cap = None if exact else max_bucket_size
    within = (
        _bucket_member_pairs(
            new_buckets, ["band", "bucket"], id_col, max_bucket_size=within_cap
        )
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
    )
    across = (
        new_buckets.alias("n")
        .join(
            hist_buckets.alias("h"),
            (F.col("n.band") == F.col("h.band"))
            & (F.col("n.bucket") == F.col("h.bucket")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"h.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"h.{id_col}")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    cands = within.unionByName(across).distinct()

    if exact:
        verified = cands.select(
            "id_a", "id_b", F.lit(1.0).alias("jaccard")
        )
        _append_batch(
            new_buckets, index_path, BANDS_SUBDIR, token, single_file=True
        )
        return verified

    # LAZY: the tokset append below is the first action that touches
    # this frame and materializes the checkpoint — an eager one here
    # was a whole extra job per fold for the same bytes
    new_toksets = docs.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(tokens(text_col))).alias("tokset"),
    ).localCheckpoint(eager=False)
    hist_toksets = _without_tombstoned(
        _pinned_history(
            spark, index_path, TOKSETS_SUBDIR, new_toksets, exclude_token=token
        ),
        tombs,
    )
    # Latest-wins per doc_id: a doc present in both the batch and the
    # index (re-ingest) or duplicated within history (pre-compaction
    # retry leftovers) would otherwise fan out the verification joins
    # into duplicate (id_a, id_b) rows — and stale-jaccard rows if the
    # content changed. The batch's token set shadows history's, and
    # history itself is deduped (its duplicates are identical rows).
    hist_only = hist_toksets.join(
        new_toksets.select(id_col), id_col, "left_anti"
    ).dropDuplicates([id_col])
    all_toksets = new_toksets.unionByName(hist_only)
    ta = all_toksets.select(F.col(id_col).alias("id_a"), F.col("tokset").alias("set_a"))
    tb = all_toksets.select(F.col(id_col).alias("id_b"), F.col("tokset").alias("set_b"))
    verified = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("set_a", "set_b")).cast("double")
                / F.size(F.array_union("set_a", "set_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

    _append_batch(
        new_buckets, index_path, BANDS_SUBDIR, token, single_file=True
    )
    _append_batch(
        new_toksets, index_path, TOKSETS_SUBDIR, token, single_file=True
    )
    return verified

"""End-to-end incremental CURATION front door (extension — the
reference has no streaming or corpus surface): one stream on the
package's micro-batch driver (``streaming.fold``) that folds each
arriving doc+embedding micro-batch through the four persisted
incremental structures —

1. span dedup against the chunk-fingerprint index
   (``operators.span_dedup_incremental``): previously-seen spans are
   scrubbed from the batch's text at batch cost, history never
   re-chunked;
2. semantic near-dup verdicts against the SemDeDup index
   (``operators.similarity.semantic_index_append``): the batch is
   assigned to frozen centroids and compared to within-cluster
   history only;
3. the pinned linear quality gate
   (``operators.quality_model.score_quality_linear``): one projection,
   zero shuffle, zero Python;
4. the deterministic hash split (``operators.sampling.hash_split``)

— landing one shard-ready curated output directory per micro-batch.
A daily-crawl user previously had every piece but no composition: the
batch rollup (``training_set_curation_semantic``) re-runs REBUILD-mode
dedup over the whole corpus each day; this front door pays batch cost.

Parity contract (tested): after streaming the corpus in id-ordered
micro-batches, the landed rows' retention accounting equals the batch
rollup computed over everything at once (with the index's frozen
centroids) — and the curated text equals one batch
``chunk_dedup_rebuild`` over the concatenated corpus.

Exactly-once under micro-batch replay follows the driver's contract
(``streaming.fold``): every structure keys on the micro-batch id, so a
replayed batch converges to the identical state instead of
duplicating, and every ``compact_every`` batches the indexes compact
keep-newest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from py_data_pipeline_app_spark import fsio
from py_data_pipeline_app_spark.operators.sampling import SPLIT_WEIGHTS, hash_split
from py_data_pipeline_app_spark.streaming.fold import (
    fold_stream,
    read_fold_output,
    write_fold_output,
)

SPAN_SUBDIR = "span_index"
SEMANTIC_SUBDIR = "semantic_index"


def _near_dup_drop_ids(pairs: DataFrame, batch_ids: DataFrame) -> DataFrame:
    """Which batch members a near-dup gate drops, given the fold's
    verified pairs (id_a, id_b — batch×batch and batch×history mixed)
    and the batch's own ids (one column, ``media_id``). Returns one
    distinct ``_drop_id`` column.

    Drop rule, resolved per CONNECTED COMPONENT of the batch-internal
    pair graph (round-14 advice: the earlier greedy pairwise rule let
    a chain a<b<c drop ALL of b, c even though b's only reason to
    drop was a — leaving c's family with no surviving batch member):

    - a batch member directly paired with HISTORY always drops (the
      historical copy is the family's canonical — history wins);
    - a batch-internal component ANY member of which pairs with
      history keeps no batch member (the family is already
      represented in the index);
    - a purely batch-internal component keeps its LOWEST id (the
      dedup family's first-occurrence survivor convention) and drops
      the rest.

    Cost: the pairs frame is batch-sized (checkpointed by the
    caller); components converge in O(chain diameter) rounds over it
    (:func:`~py_data_pipeline_app_spark.operators.dedup.connected_components`
    — duplicate families are star-like, 2-4 rounds)."""
    from py_data_pipeline_app_spark.operators.dedup import (
        connected_components_star,
    )

    b = F.broadcast(batch_ids)
    sym = pairs.select(
        F.col("id_a").alias("_x"), F.col("id_b").alias("_y")
    ).unionByName(
        pairs.select(F.col("id_b").alias("_x"), F.col("id_a").alias("_y"))
    )
    # batch members with a direct history partner
    hist_drop = (
        sym.join(b.withColumnRenamed("media_id", "_x"), "_x")
        .join(
            b.withColumnRenamed("media_id", "_y").withColumn(
                "_y_in_batch", F.lit(True)
            ),
            "_y",
            "left",
        )
        .filter(F.col("_y_in_batch").isNull())
        .select(F.col("_x").alias("node"))
        .distinct()
    )
    batch_pairs = pairs.join(
        b.withColumnRenamed("media_id", "id_a"), "id_a"
    ).join(b.withColumnRenamed("media_id", "id_b"), "id_b")
    # star rounds: a long re-encode chain inside one batch must not
    # crash the stream on the min-label iteration bound (O(log n) on
    # any graph shape, identical components)
    comp = connected_components_star(batch_pairs)  # (node, comp=min member)
    contacted = (
        comp.join(hist_drop, "node").select("comp").distinct()
    )
    comp_drops = comp.join(
        F.broadcast(contacted), "comp", "left_semi"
    ).select("node")
    non_min = comp.filter(F.col("node") != F.col("comp")).select("node")
    return (
        hist_drop.unionByName(comp_drops)
        .unionByName(non_min)
        .distinct()
        .select(F.col("node").alias("_drop_id"))
    )

def curation_fold(
    spark: SparkSession,
    state_root: str,
    out_path: str,
    batch_df: DataFrame,
    batch_id: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    chunk_tokens: int = 10,
    quality_threshold: float = 0.0,
    allow_reorder: bool = False,
    bigram_lm: str | None = None,
    lm_lam: float = 0.7,
    lm_tail_cutoff: float = 4.0,
    decon_benchmark: str | None = None,
    decon_threshold: float = 0.9,
    dsir_fit: str | None = None,
    dsir_min_micro: int = 0,
    media_index: str | None = None,
    media_payload_col: str = "payload",
    media_kind_col: str | None = "kind",
    media_decoder: str = "payload_gray",
    media_axes: str = "both",
    media_bands: int = 8,
    media_max_hamming: int = 6,
    video_index: str | None = None,
    video_decoder: str = "payload_frames",
    video_max_hamming: int = 6,
    video_min_matching_buckets: int = 2,
) -> None:
    """Fold ONE doc(+embedding) micro-batch through span dedup →
    semantic verdict → quality gate → hash split, landing the curated
    rows under ``out/batch-{id}``. Exposed module-level (the stream's
    sink calls exactly this) so replay semantics are testable without
    a checkpoint dance.

    ``media_index`` (a directory path; self-creating, like the span
    index) adds the IMAGE NEAR-DUP gate (round 14): every batch row
    carrying a non-null ``media_payload_col`` — and, when the batch
    has a ``media_kind_col`` column, ``kind='image'`` (a mixed feed
    must not byte-hash video/audio payloads with the image decoder;
    rows of other kinds pass ``img_kept=TRUE`` untouched) — is
    dHash-folded into the persisted band index
    (``operators.media_dedup_incremental.incremental_dhash_fold``,
    configured by ``media_decoder``/``media_axes``/``media_bands``/
    ``media_max_hamming`` — the fold's production two-axis defaults;
    note the default ``payload_gray`` decoder is the deterministic
    byte-cycling fake, which only matches near-byte-identical blobs —
    pass ``media_decoder='image_gray'`` for PERCEPTUAL re-encode/
    resize dedup on real image payloads) and lands an ``img_kept``
    flag folded into ``retained``. Survivors are resolved per
    connected component of the batch-internal pair graph
    (:func:`_near_dup_drop_ids`): against history the streamed copy
    always drops; a purely-in-batch family keeps its lowest id. Rows
    without a payload pass kept=TRUE (the embedding-less rows'
    honest-default precedent). The verdict is fold-final in the sense
    the accounting needs: dedup-vs-history is inherently
    arrival-ordered (like the span gate), and a replayed batch
    excludes its own token so it reproduces identical flags.
    Per-batch cost ∝ batch + matching index rows + the pruned
    partition directories of the band table.

    ``video_index`` adds the VIDEO near-dup gate the same way (round
    15): rows with ``kind='video'`` fold into the persisted per-frame
    dHash index
    (``operators.media_dedup_incremental.incremental_video_dhash_fold``,
    ``video_decoder``/``video_max_hamming``/
    ``video_min_matching_buckets``; ``meta.duration_ms`` is threaded
    through when the batch carries a ``meta`` column) and land a
    ``vid_kept`` flag folded into ``retained`` with the same
    component-resolved, history-wins drop rule and
    ``n_dropped_vid_dup`` accounting. Video routing REQUIRES the kind
    column — it refuses loudly rather than guess which payloads are
    clips.

    ``dsir_fit`` (a directory trained by
    ``operators.sampling.dsir_fit_train``) adds the DSIR importance
    gate: every batch scores against the FROZEN hashed-ngram
    importance model (Xie et al. 2023) and lands a ``dsir_kept`` flag
    (weight ≥ ``dsir_min_micro``, in the fit's exact 1e-6 log-ratio
    units) folded into ``retained`` — target-unlike rows drop at
    ingest instead of surviving to a batch selection pass. Like the
    LM and decon gates the model is frozen, so the verdict is
    batch-independent (whole-vs-split parity tested) and fold-final:
    a reorder can never flip it. Token-less rows score exactly 0 (an
    empty gram fold), so they pass iff ``dsir_min_micro ≤ 0`` — set
    the threshold knowing 0 is the neutral score, not a missing one.
    Per-batch cost is one ≤n_buckets parquet read + a zero-shuffle
    scoring projection (checksum verification skipped on this hot
    path — verify once at deploy time with ``dsir_fit_frames``).

    ``decon_benchmark`` (a parquet directory of benchmark rows under
    the same ``id_col``/``vec_col`` names) adds the EMBEDDING-space
    decontamination gate: every batch's embedded rows score against the frozen
    benchmark set (``operators.similarity.embedding_decontamination``,
    dropped at cosine ≥ ``decon_threshold``) and land a ``decon_kept``
    flag folded into ``retained`` — never train on rows that are a
    paraphrase of the eval suite. Rows without an embedding pass
    kept=TRUE (the semantic gate's honest default). Per-batch cost is
    one small parquet read + one zero-shuffle scoring projection — the
    same cost class as the frozen-LM gate. Like that gate the verdict
    is batch-independent (frozen benchmark), so it is fold-final: a
    reorder can never flip it.

    ``bigram_lm`` (a directory trained by
    ``operators.curation.bigram_lm_train``) adds the CCNet perplexity
    gate: every batch scores against the FROZEN interpolated-bigram LM
    (``lm_lam``, kept = cross-entropy ≤ ``lm_tail_cutoff``) and lands
    an extra ``lm_kept`` flag folded into ``retained`` — because the
    model is frozen, a document's verdict is independent of what batch
    it arrives in (tested), which is exactly why the self-trained mode
    could never sit in this gate. Rows with no non-empty tokens score
    kept=TRUE (the embedding-less rows' honest-default precedent).
    Checksum verification is SKIPPED on this per-batch hot path (two
    verification jobs per micro-batch would tax every batch for a
    train-once artifact) — verify the model once at deploy time with
    ``bigram_lm_frames(path)``.

    The batch frame carries (id, text, source, embedding?) — the
    embedding column is nullable: docs without a vector pass the
    semantic gate kept=TRUE, the same honest default as the batch
    rollup's left join (a partially-embedded corpus is the norm).
    Ids must arrive in per-cluster monotone order across batches (the
    semantic index's append contract; a replayed batch satisfies it
    because every structure excludes its own token from history) — OR
    pass ``allow_reorder=True`` for multi-producer / backfill feeds
    with interleaved ids: an out-of-order batch then takes the
    semantic index's bounded RECOMPUTE path (cost ∝ batch + affected
    clusters) and its verdicts are read back from the swapped base
    partitions, partition-pruned to the batch's clusters. SEMANTICS
    CAVEAT that mode carries: a reorder can flip an EARLIER batch's
    verdicts in the INDEX, but that batch's already-landed output
    directory is not rewritten — the landed ``sem_kept`` flag is the
    fold-time verdict. The index itself stays exactly rebuild-parity;
    read the final corpus through :func:`curated_corpus_current`
    (landed rows re-joined with the index's CURRENT verdicts) instead
    of the fold-time :func:`curated_corpus` when feeding a trainer
    from a reordering feed.

    Landed columns: (id, source, split, sem_kept, good, n_tokens,
    text_deduped, n_chunks, n_kept_chunks, retained), plus ``lm_kept``
    when the LM gate is on, ``decon_kept`` when the decontamination
    gate is on, ``dsir_kept`` when the DSIR gate is on, and
    ``img_kept`` when the media gate is on, and ``vid_kept`` when the
    video gate is on — ALL batch rows
    land with their flags, so drop-reason accounting
    (:func:`curation_accounting`) and the shard-ready retained subset
    (:func:`curated_corpus`) are both one filter away, and a takedown
    audit can see WHY a row was dropped."""
    from py_data_pipeline_app_spark.operators.quality_model import (
        score_quality_linear,
    )
    from py_data_pipeline_app_spark.operators.similarity import (
        IVF_APPENDS_SUBDIR,
        semantic_index_append,
    )
    from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
        incremental_span_fold,
    )
    from py_data_pipeline_app_spark.functions.text import tokens

    token = f"{batch_id:08d}"
    # localCheckpoint: the batch feeds four consumers (span fold,
    # semantic append, quality score, token count) — batch-sized, and
    # a streaming source frame cannot be re-read by a second action
    batch_df = batch_df.localCheckpoint(eager=True)

    # 1. span dedup — EAGER index append inside, returns the rebuilt
    # documents (previously-seen spans scrubbed)
    rebuilt = incremental_span_fold(
        spark,
        f"{state_root}/{SPAN_SUBDIR}",
        batch_df.select(F.col(id_col), F.col(text_col)),
        text_col=text_col,
        id_col=id_col,
        chunk_tokens=chunk_tokens,
        batch_token=token,
    )
    rebuilt = rebuilt.localCheckpoint(eager=True)

    # 2. semantic verdicts — append the batch's embedded rows to the
    # index, then read back the verdicts it just computed (the append
    # directory is batch-sized; recomputing the within-cluster
    # comparison here would double the fold's work)
    sem_index = f"{state_root}/{SEMANTIC_SUBDIR}"
    emb_rows = batch_df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col)
    )
    semantic_index_append(
        spark, sem_index, emb_rows, id_col=id_col, vec_col=vec_col,
        batch_token=token, allow_reorder=allow_reorder,
    )
    append_dir = f"{sem_index}/{IVF_APPENDS_SUBDIR}/batch-{token}"
    if fsio.exists(spark, append_dir):
        verdict = (
            spark.read.parquet(append_dir).select(F.col(id_col), "kept")
        )
    elif allow_reorder and fsio.exists(
        spark, f"{sem_index}/reorder-tokens/{token}"
    ):
        # the append took the recompute path: the batch's rows were
        # merged straight into the swapped base partitions (there is no
        # batch directory, by design — the consumed-token marker is the
        # proof). Read the verdicts back partition-pruned to the
        # batch's clusters: one batch-sized re-assignment against the
        # frozen centroids buys the partition filter, so un-touched
        # clusters still cost zero I/O.
        from py_data_pipeline_app_spark.operators.similarity import (
            _assign_to_centroids,
            _centroid_rows,
            _union_appends,
        )

        cent_rows = _centroid_rows(
            fsio.read_small_parquet_rows(spark, f"{sem_index}/centroids")
        )
        probed = [
            r.centroid_id
            for r in _assign_to_centroids(
                emb_rows, cent_rows, id_col=id_col, vec_col=vec_col
            )
            .select("centroid_id")
            .distinct()
            .collect()
        ]
        pruned = spark.read.parquet(f"{sem_index}/assigned").filter(
            F.col("centroid_id").isin(probed)
        )
        pruned = _union_appends(
            spark, pruned, f"{sem_index}/{IVF_APPENDS_SUBDIR}", probed
        )
        verdict = pruned.join(
            F.broadcast(emb_rows.select(F.col(id_col))), id_col
        ).select(F.col(id_col), "kept")
    else:  # the batch had no embedded rows — the empty append self-removes
        # schema derived from the batch so the id type always matches
        # the join key (a hardcoded bigint would silently cast string
        # doc keys)
        verdict = (
            batch_df.select(F.col(id_col))
            .limit(0)
            .withColumn("kept", F.lit(True))
        )

    # 3+4. quality gate and split — pure projections on the batch
    scored = score_quality_linear(
        batch_df, text_col=text_col, id_col=id_col
    ).select(F.col(id_col), "quality_z")
    labeled = (
        batch_df.select(
            F.col(id_col),
            F.col("source"),
            # unfiltered token count, matching the batch rollup exactly
            F.size(tokens(text_col)).alias("n_tokens"),
        )
        .join(F.broadcast(verdict), id_col, "left")
        .withColumn("sem_kept", F.coalesce(F.col("kept"), F.lit(True)))
        .drop("kept")
        .join(scored, id_col)
        .withColumn("good", F.col("quality_z") > F.lit(quality_threshold))
        .drop("quality_z")
    )
    labeled = hash_split(labeled, id_col, SPLIT_WEIGHTS)
    gate = F.col("sem_kept") & F.col("good")
    if bigram_lm is not None:
        from py_data_pipeline_app_spark.operators.curation import (
            bigram_perplexity_buckets,
        )

        ppl = bigram_perplexity_buckets(
            batch_df,
            text_col=text_col,
            id_col=id_col,
            lam=lm_lam,
            tail_cutoff=lm_tail_cutoff,
            bigram_lm=bigram_lm,
            lm_verify=False,
        ).select(F.col(id_col), F.col("kept").alias("_lm_kept"))
        labeled = (
            labeled.join(F.broadcast(ppl), id_col, "left")
            # token-less rows produce no score row — kept by default
            .withColumn(
                "lm_kept", F.coalesce(F.col("_lm_kept"), F.lit(True))
            )
            .drop("_lm_kept")
        )
        gate = gate & F.col("lm_kept")
    if decon_benchmark is not None:
        from py_data_pipeline_app_spark.operators.similarity import (
            embedding_decontamination,
        )

        decon = embedding_decontamination(
            emb_rows,
            spark.read.parquet(decon_benchmark),
            threshold=decon_threshold,
            id_col=id_col,
            vec_col=vec_col,
        ).select(F.col(id_col), F.col("kept").alias("_decon_kept"))
        labeled = (
            labeled.join(F.broadcast(decon), id_col, "left")
            # embedding-less rows cannot be checked — kept by default,
            # the semantic gate's honest-default precedent
            .withColumn(
                "decon_kept", F.coalesce(F.col("_decon_kept"), F.lit(True))
            )
            .drop("_decon_kept")
        )
        gate = gate & F.col("decon_kept")
    if dsir_fit is not None:
        from py_data_pipeline_app_spark.operators.sampling import (
            dsir_score_frozen,
        )

        dw = dsir_score_frozen(
            batch_df.select(F.col(id_col), F.col(text_col)),
            dsir_fit,
            text_col=text_col,
            verify=False,
        ).select(
            F.col(id_col),
            (
                F.col("dsir_weight_micro") >= F.lit(int(dsir_min_micro))
            ).alias("_dsir_kept"),
        )
        labeled = (
            labeled.join(F.broadcast(dw), id_col, "left")
            # the scorer is total (empty text folds to 0), so the
            # coalesce is schema insurance, not a semantic default
            .withColumn(
                "dsir_kept", F.coalesce(F.col("_dsir_kept"), F.lit(True))
            )
            .drop("_dsir_kept")
        )
        gate = gate & F.col("dsir_kept")
    # modality routing for the media gates: with a kind column, only
    # image rows reach the dHash fold (byte-hashing a video/audio
    # payload with the image decoder would index garbage — the
    # round-14 advice) and only video rows reach the per-frame fold;
    # without one, every payload row is treated as an image (the
    # payload-only feed's historical behavior, now explicit).
    has_kind = media_kind_col is not None and media_kind_col in batch_df.columns
    if media_index is not None:
        from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
            incremental_dhash_fold,
        )

        assets = batch_df.filter(F.col(media_payload_col).isNotNull())
        if has_kind:
            assets = assets.filter(F.col(media_kind_col) == "image")
        assets = assets.select(
            F.col(id_col).alias("media_id"),
            F.col(media_payload_col).alias("payload"),
        )
        # EAGER index append inside; the pairs frame feeds the drop
        # resolution below — batch-pair-sized, checkpoint once
        pairs = incremental_dhash_fold(
            spark,
            media_index,
            assets,
            decoder=media_decoder,
            axes=media_axes,
            bands=media_bands,
            max_hamming=media_max_hamming,
            batch_token=token,
        )
        pairs = pairs.localCheckpoint(eager=True)
        drops = _near_dup_drop_ids(pairs, assets.select("media_id")).select(
            F.col("_drop_id").alias(id_col)
        ).withColumn("_img_dup", F.lit(True))
        labeled = (
            labeled.join(F.broadcast(drops), id_col, "left")
            # payload-less (and, with a kind column, non-image) rows
            # produce no pair — kept by default
            .withColumn("img_kept", F.col("_img_dup").isNull())
            .drop("_img_dup")
        )
        gate = gate & F.col("img_kept")
    if video_index is not None:
        from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
            incremental_video_dhash_fold,
        )

        if not has_kind:
            raise ValueError(
                "video_index routing needs a modality column: the batch has "
                f"no {media_kind_col!r} column, so video rows cannot be told "
                "apart from images - land a kind column or set media_kind_col"
            )
        clips = batch_df.filter(
            F.col(media_payload_col).isNotNull()
            & (F.col(media_kind_col) == "video")
        ).select(
            F.col(id_col).alias("media_id"),
            F.col(media_payload_col).alias("payload"),
            *(["meta"] if "meta" in batch_df.columns else []),
        )
        vpairs = incremental_video_dhash_fold(
            spark,
            video_index,
            clips,
            decoder=video_decoder,
            max_hamming=video_max_hamming,
            min_matching_buckets=video_min_matching_buckets,
            batch_token=token,
        )
        vpairs = vpairs.localCheckpoint(eager=True)
        vdrops = _near_dup_drop_ids(
            vpairs.select("id_a", "id_b"), clips.select("media_id")
        ).select(F.col("_drop_id").alias(id_col)).withColumn(
            "_vid_dup", F.lit(True)
        )
        labeled = (
            labeled.join(F.broadcast(vdrops), id_col, "left")
            # non-video rows produce no pair — kept by default
            .withColumn("vid_kept", F.col("_vid_dup").isNull())
            .drop("_vid_dup")
        )
        gate = gate & F.col("vid_kept")
    out = labeled.join(
        rebuilt.select(
            F.col(id_col),
            F.col("text_deduped"),
            F.col("n_chunks"),
            F.col("n_kept").alias("n_kept_chunks"),
        ),
        id_col,
    ).withColumn("retained", gate)
    # idempotent landing: a replayed batch rewrites its own directory
    write_fold_output(out, out_path, batch_id)


def start_curation_stream(
    spark: SparkSession,
    landing: str,
    checkpoint: str,
    schema: T.StructType,
    state_root: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    chunk_tokens: int = 10,
    quality_threshold: float = 0.0,
    allow_reorder: bool = False,
    bigram_lm: str | None = None,
    lm_lam: float = 0.7,
    lm_tail_cutoff: float = 4.0,
    decon_benchmark: str | None = None,
    decon_threshold: float = 0.9,
    dsir_fit: str | None = None,
    dsir_min_micro: int = 0,
    media_index: str | None = None,
    media_payload_col: str = "payload",
    media_kind_col: str | None = "kind",
    media_decoder: str = "payload_gray",
    media_axes: str = "both",
    media_bands: int = 8,
    media_max_hamming: int = 6,
    video_index: str | None = None,
    video_decoder: str = "payload_frames",
    video_max_hamming: int = 6,
    video_min_matching_buckets: int = 2,
    compact_every: int | None = 16,
    shards_every: int | None = None,
    n_shards: int = 8,
    shards_path: str | None = None,
    query_name: str = "curation_front_door",
) -> StreamingQuery:
    """File-landing → :func:`curation_fold` per micro-batch, with
    automatic keep-newest compaction of BOTH indexes every
    ``compact_every`` batches. The semantic index must already exist
    under ``{state_root}/semantic_index`` (``build_semantic_index``
    over the initial corpus — its centroids and threshold are frozen
    there; this is what makes streamed verdicts reproducible); the
    span index self-creates on the first fold. ``availableNow`` drains
    the landing directory and terminates, so repeated calls with one
    checkpoint fold newly landed files incrementally.

    ``shards_every=N`` closes the loop to the trainer: every N batches
    the retained corpus-so-far (:func:`curated_corpus` — or, when
    ``allow_reorder`` is set, :func:`curated_corpus_current`, because
    a backfill batch can flip an earlier batch's landed ``sem_kept``
    and the trainer feed must honor the index's CURRENT verdicts; the
    extra keyed join is the price of backfill feeds) is rewritten
    through ``sources.maintenance.write_training_shards`` into
    ``shards_path`` (default ``{out_path}/shards`` — outside the
    ``batch-*`` namespace the readers union), so a daily-crawl feed
    produces trainer-ready shards with no manual batch step. Replay-
    safe for free: shard membership and intra-file order are pure
    functions of the ids present (hash-deterministic, overwrite mode),
    so a replayed boundary batch rewrites byte-identical shards.
    ``verify=False`` on the stream path — the early batches of a
    fresh feed are legitimately smaller than ``n_shards`` cells and
    a raise inside foreachBatch would kill the query; size
    ``n_shards`` to the corpus, not the batch."""
    from py_data_pipeline_app_spark.operators.media_dedup_incremental import (
        compact_media_index,
        compact_video_index,
    )
    from py_data_pipeline_app_spark.operators.similarity import (
        semantic_index_compact,
    )
    from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
        compact_fps,
    )
    from py_data_pipeline_app_spark.sources.maintenance import (
        write_training_shards,
    )

    shards_dest = shards_path or f"{out_path}/shards"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        curation_fold(
            spark,
            state_root,
            out_path,
            batch_df,
            batch_id,
            id_col=id_col,
            text_col=text_col,
            vec_col=vec_col,
            chunk_tokens=chunk_tokens,
            quality_threshold=quality_threshold,
            allow_reorder=allow_reorder,
            bigram_lm=bigram_lm,
            lm_lam=lm_lam,
            lm_tail_cutoff=lm_tail_cutoff,
            decon_benchmark=decon_benchmark,
            decon_threshold=decon_threshold,
            dsir_fit=dsir_fit,
            dsir_min_micro=dsir_min_micro,
            media_index=media_index,
            media_payload_col=media_payload_col,
            media_kind_col=media_kind_col,
            media_decoder=media_decoder,
            media_axes=media_axes,
            media_bands=media_bands,
            media_max_hamming=media_max_hamming,
            video_index=video_index,
            video_decoder=video_decoder,
            video_max_hamming=video_max_hamming,
            video_min_matching_buckets=video_min_matching_buckets,
        )
        if shards_every and batch_id > 0 and batch_id % shards_every == 0:
            # a reordering feed's shard write must read the index's
            # CURRENT verdicts (curation_fold's documented contract):
            # a backfill batch can flip an earlier batch's sem_kept
            # AFTER its directory landed, and fold-time flags would
            # ship those near-dups to the trainer. The extra keyed
            # join of landed rows against the id/kept projection is
            # the price of backfill feeds — it runs once per shard
            # cadence, exactly where curated_corpus_current's
            # docstring says to pay it; monotone feeds keep the
            # join-free fold-time read (verdicts never change).
            feed = (
                curated_corpus_current(
                    spark, out_path, state_root, id_col=id_col
                )
                if allow_reorder
                else curated_corpus(spark, out_path)
            )
            write_training_shards(
                feed,
                shards_dest,
                n_shards=n_shards,
                id_col=id_col,
                verify=False,
            )

    def compact() -> None:
        compact_fps(spark, f"{state_root}/{SPAN_SUBDIR}", keep_newest=True)
        semantic_index_compact(
            spark, f"{state_root}/{SEMANTIC_SUBDIR}", keep_newest=True
        )
        if media_index is not None:
            compact_media_index(spark, media_index, keep_newest=True)
        if video_index is not None:
            compact_video_index(spark, video_index, keep_newest=True)

    return fold_stream(
        spark.readStream.schema(schema).parquet(landing),
        checkpoint,
        fold,
        maintain=compact,
        maintain_every=compact_every,
        query_name=query_name,
    )


def curated_corpus(spark: SparkSession, out_path: str) -> DataFrame:
    """The shard-ready retained subset: feed this straight into
    ``sources.maintenance.write_training_shards``. Flags are the
    FOLD-TIME verdicts — exactly right for monotone feeds (verdicts
    never change); a reordering feed should read
    :func:`curated_corpus_current` instead."""
    return read_fold_output(spark, out_path).filter(F.col("retained"))


def curated_corpus_current(
    spark: SparkSession,
    out_path: str,
    state_root: str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """The retained subset under the semantic index's CURRENT verdicts
    — the correct trainer feed for an ``allow_reorder`` stream, where
    a later backfill batch can flip an earlier batch's ``sem_kept``
    in the index after that batch's output directory already landed
    (see :func:`curation_fold`). Landed rows re-join the index state
    (id, kept) — rows without an embedding never entered the index
    and keep their landed TRUE default — and the retained filter is
    re-derived from the refreshed flag. The index state is exactly
    rebuild-parity (the reorder oracle), so this frame matches what a
    from-scratch batch curation over the full corpus would retain.
    One keyed join of landed rows against the id/kept projection; at
    100 TB prefer running it once per shard-write cadence, not per
    read."""
    from py_data_pipeline_app_spark.operators.similarity import (
        semantic_index_state,
    )

    rows = read_fold_output(spark, out_path)
    state = semantic_index_state(
        spark, f"{state_root}/{SEMANTIC_SUBDIR}", id_col=id_col
    ).select(F.col(id_col), F.col("kept").alias("_kept_now"))
    # fold-final gates re-enter the refreshed retained flag: quality
    # always, the LM verdict when the stream ran with a bigram_lm gate
    # (frozen model — a reorder can never flip it, only sem_kept moves)
    gate = F.col("sem_kept") & F.col("good")
    if "lm_kept" in rows.columns:
        gate = gate & F.col("lm_kept")
    if "decon_kept" in rows.columns:
        # frozen benchmark — fold-final like the LM verdict
        gate = gate & F.col("decon_kept")
    if "dsir_kept" in rows.columns:
        # frozen importance fit — fold-final like the LM verdict
        gate = gate & F.col("dsir_kept")
    if "img_kept" in rows.columns:
        # arrival-ordered like the span scrub: the landed flag IS the
        # verdict (the dHash index never re-adjudicates old batches)
        gate = gate & F.col("img_kept")
    if "vid_kept" in rows.columns:
        # arrival-ordered like the image gate
        gate = gate & F.col("vid_kept")
    return (
        rows.join(state, id_col, "left")
        .withColumn("sem_kept", F.coalesce(F.col("_kept_now"), F.col("sem_kept")))
        .drop("_kept_now")
        .withColumn("retained", gate)
        .filter(F.col("retained"))
    )


def curation_accounting(spark: SparkSession, out_path: str) -> DataFrame:
    """Per (split, source) retention accounting over everything landed
    so far — the same shape the batch rollup
    (``training_set_curation_semantic``) reports, for parity checks
    and mixture planning. An LM-gated stream (``bigram_lm``) adds an
    ``n_dropped_lm`` bucket (rows the semantic and quality gates
    passed but the perplexity filter dropped); a decontamination-gated
    stream (``decon_benchmark``) adds ``n_dropped_decon`` the same
    way, a DSIR-gated stream (``dsir_fit``) adds ``n_dropped_dsir``,
    a media-gated stream (``media_index``) adds
    ``n_dropped_img_dup``, and a video-gated stream (``video_index``)
    adds ``n_dropped_vid_dup``. Gated verdicts fold into
    ``n_retained``/``retained_tokens``; non-gated streams keep the
    original 6-column schema."""
    rows = read_fold_output(spark, out_path)
    kept_good = F.col("sem_kept") & F.col("good")
    aggs = [
        F.sum(F.when(~F.col("sem_kept"), 1).otherwise(0)).alias(
            "n_dropped_semantic"
        ),
        F.sum(
            F.when(F.col("sem_kept") & ~F.col("good"), 1).otherwise(0)
        ).alias("n_dropped_quality"),
    ]
    if "lm_kept" in rows.columns:
        # LM-gated stream: retained carries the extra verdict; the LM
        # drop bucket counts rows the first two gates passed
        aggs.append(
            F.sum(
                F.when(kept_good & ~F.col("lm_kept"), 1).otherwise(0)
            ).alias("n_dropped_lm")
        )
        kept_good = kept_good & F.col("lm_kept")
    if "decon_kept" in rows.columns:
        # decontamination-gated stream: bucket counts rows every
        # earlier gate passed but the benchmark-similarity check caught
        aggs.append(
            F.sum(
                F.when(kept_good & ~F.col("decon_kept"), 1).otherwise(0)
            ).alias("n_dropped_decon")
        )
        kept_good = kept_good & F.col("decon_kept")
    if "dsir_kept" in rows.columns:
        # DSIR-gated stream: rows every earlier gate passed but the
        # frozen importance fit scored below the threshold
        aggs.append(
            F.sum(
                F.when(kept_good & ~F.col("dsir_kept"), 1).otherwise(0)
            ).alias("n_dropped_dsir")
        )
        kept_good = kept_good & F.col("dsir_kept")
    if "img_kept" in rows.columns:
        # media-gated stream: rows every earlier gate passed but the
        # image near-dup index caught as a re-encoded/resized copy
        aggs.append(
            F.sum(
                F.when(kept_good & ~F.col("img_kept"), 1).otherwise(0)
            ).alias("n_dropped_img_dup")
        )
        kept_good = kept_good & F.col("img_kept")
    if "vid_kept" in rows.columns:
        # video-gated stream: rows every earlier gate passed but the
        # per-frame near-dup index caught as a re-encoded clip
        aggs.append(
            F.sum(
                F.when(kept_good & ~F.col("vid_kept"), 1).otherwise(0)
            ).alias("n_dropped_vid_dup")
        )
        kept_good = kept_good & F.col("vid_kept")
    return rows.groupBy("split", "source").agg(
        F.sum(F.when(kept_good, 1).otherwise(0)).alias("n_retained"),
        *aggs,
        F.sum(F.when(kept_good, F.col("n_tokens")).otherwise(0)).alias(
            "retained_tokens"
        ),
    )

"""The end-to-end incremental curation front door: streamed micro-
batches folded through span dedup + semantic verdicts + quality gate +
hash split must reproduce the batch composition (the
training_set_curation_semantic rollup's semantics with the index's
frozen centroids, and one chunk_dedup_rebuild over the streamed
corpus), across ≥2 micro-batches and a compaction boundary, and a
replayed batch token must be a no-op."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from py_data_pipeline_app_spark.operators.curation import chunk_dedup_rebuild
from py_data_pipeline_app_spark.operators.quality_model import (
    score_quality_linear,
)
from py_data_pipeline_app_spark.operators.sampling import hash_split
from py_data_pipeline_app_spark.operators.similarity import (
    _md5_sample_centroids,
    build_semantic_index,
    semantic_dedup,
)
from py_data_pipeline_app_spark.streaming.curation import (
    SPLIT_WEIGHTS,
    curation_accounting,
    curation_fold,
    curated_corpus,
    start_curation_stream,
)
from py_data_pipeline_app_spark.streaming.fold import read_fold_output

# streaming lifecycle parity suites are multi-second end-to-end runs —
# slow tier by module (round-11 split; see pytest.ini)
pytestmark = pytest.mark.oracle

SF_DIR = "/root/testdata/sf0.001"
THRESH = 0.9
K = 8

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def corpus(spark):
    """Documents left-joined with embeddings on the shared id space —
    the partially-embedded crawl record the front door ingests."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    df = docs.join(emb, "doc_id", "left")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def streamed(spark, corpus, tmp_path_factory):
    """Seed the semantic index from the first-third embeddings, stream
    the rest in TWO id-range micro-batches with compact_every=1 (so
    the second batch crosses a compaction boundary on both indexes).
    Returns (state_root, out, streamed_df, seed_df)."""
    tmp_path = tmp_path_factory.mktemp("curation")
    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t0, t1 = n // 3, 2 * n // 3
    seed = corpus.filter(F.col("doc_id") < t0)
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    build_semantic_index(
        seed.filter(F.col("embedding").isNotNull()).select(
            "doc_id", "embedding"
        ),
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    for i, (lo, hi) in enumerate([(t0, t1), (t1, n)]):
        corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(f"{landing}/b{i}")
        q = start_curation_stream(
            spark,
            landing + "/*",
            ckpt,
            SCHEMA,
            state,
            out,
            compact_every=1,
            shards_every=1,
            n_shards=2,
        )
        q.awaitTermination(180)
    return state, out, corpus.filter(F.col("doc_id") >= t0), seed


def _expected_accounting(spark, corpus, streamed_df, seed):
    """The batch composition over the streamed rows, given the seeded
    index state: full-rebuild semantic verdicts (seed ∪ streamed, the
    seed's frozen centroids) restricted to streamed ids, quality gate
    and hash split per doc."""
    emb_all = corpus.filter(F.col("embedding").isNotNull()).select(
        "doc_id", "embedding"
    )
    cents = _md5_sample_centroids(
        seed.filter(F.col("embedding").isNotNull()),
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    verdict = semantic_dedup(
        emb_all,
        threshold=THRESH,
        n_centroids=K,
        cents=cents,
        id_col="doc_id",
        vec_col="embedding",
    ).select("doc_id", "kept")
    from py_data_pipeline_app_spark.functions.text import tokens

    labeled = (
        streamed_df.select(
            "doc_id", "source", F.size(tokens("text")).alias("n_tokens")
        )
        .join(verdict, "doc_id", "left")
        .withColumn("sem_kept", F.coalesce(F.col("kept"), F.lit(True)))
        .join(
            score_quality_linear(streamed_df).select("doc_id", "quality_z"),
            "doc_id",
        )
        .withColumn("good", F.col("quality_z") > 0.0)
    )
    labeled = hash_split(labeled, "doc_id", SPLIT_WEIGHTS)
    kept_good = F.col("sem_kept") & F.col("good")
    return labeled.groupBy("split", "source").agg(
        F.sum(F.when(kept_good, 1).otherwise(0)).alias("n_retained"),
        F.sum(F.when(~F.col("sem_kept"), 1).otherwise(0)).alias(
            "n_dropped_semantic"
        ),
        F.sum(
            F.when(F.col("sem_kept") & ~F.col("good"), 1).otherwise(0)
        ).alias("n_dropped_quality"),
        F.sum(F.when(kept_good, F.col("n_tokens")).otherwise(0)).alias(
            "retained_tokens"
        ),
    )


def test_stream_accounting_matches_batch_composition(
    spark, corpus, streamed
):

    state, out, streamed_df, seed = streamed
    got = sorted(map(tuple, curation_accounting(spark, out).collect()))
    want = sorted(
        map(
            tuple,
            _expected_accounting(spark, corpus, streamed_df, seed).collect(),
        )
    )
    assert got == want


def test_stream_span_text_matches_batch_rebuild(spark, streamed):
    """The landed text_deduped must equal one chunk_dedup_rebuild over
    the streamed corpus (the span index started empty, so streamed
    history IS the corpus)."""
    state, out, streamed_df, _ = streamed
    got = {
        r.doc_id: (r.text_deduped, r.n_chunks, r.n_kept_chunks)
        for r in read_fold_output(spark, out).collect()
    }
    want = {
        r.doc_id: (r.text_deduped, r.n_chunks, r.n_kept)
        for r in chunk_dedup_rebuild(streamed_df, chunk_tokens=10).collect()
    }
    assert got == want


def test_replayed_batch_is_noop(spark, corpus, streamed):
    """Replaying the LAST micro-batch (the one Structured Streaming
    could actually redeliver) with its original token must leave the
    landed accounting and the curated text identical — every structure
    excludes its own token from history and overwrites its own
    output."""
    state, out, streamed_df, seed = streamed
    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t1 = 2 * n // 3
    last = corpus.filter(F.col("doc_id") >= t1)
    before_rows = sorted(
        map(tuple, read_fold_output(spark, out).collect())
    )
    curation_fold(spark, state, out, last, 1)  # batch id 1 = the last
    assert (
        sorted(map(tuple, read_fold_output(spark, out).collect()))
        == before_rows
    )


def test_curated_corpus_is_shard_ready(spark, streamed, tmp_path):
    """The retained subset flows straight into write_training_shards —
    the trainer-facing end of the front door."""
    from py_data_pipeline_app_spark.sources.maintenance import (
        write_training_shards,
    )

    state, out, streamed_df, _ = streamed
    retained = curated_corpus(spark, out)
    assert retained.count() > 0
    n_files = write_training_shards(
        retained.select("doc_id", "source", "split", "text_deduped"),
        str(tmp_path / "shards"),
        n_shards=2,
    )
    assert n_files == 2


def test_stream_shard_sink_end_to_end(spark, streamed, tmp_path):
    """shards_every wires the front door to the trainer sink with no
    manual batch step: after ≥2 streamed batches the shards under
    {out}/shards hold exactly the retained corpus, membership is the
    deterministic id hash (byte-identical to an independent manual
    write_training_shards run over curated_corpus), and rewriting is
    replay-safe (a second write converges, never duplicates)."""
    from py_data_pipeline_app_spark.sources.maintenance import (
        write_training_shards,
    )

    state, out, streamed_df, _ = streamed
    shard_rows = spark.read.parquet(f"{out}/shards")
    retained = curated_corpus(spark, out)
    # exactly the retained docs, each exactly once
    assert sorted(r.doc_id for r in shard_rows.select("doc_id").collect()) == (
        sorted(r.doc_id for r in retained.select("doc_id").collect())
    )
    got = sorted(map(tuple, shard_rows.collect()))
    # determinism + replay safety: an independent write over the same
    # retained corpus produces identical rows and shard assignment
    write_training_shards(
        retained, str(tmp_path / "manual"), n_shards=2, verify=False
    )
    manual = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "manual")).collect())
    )
    assert got == manual
    # the shards subdir must be invisible to the batch-* readers
    assert "shard" not in read_fold_output(spark, out).columns


def test_reorder_feed_through_front_door(spark, corpus, tmp_path):
    """allow_reorder end-to-end: a backfill micro-batch with ids BELOW
    already-folded history must not refuse — it takes the semantic
    index's bounded recompute path, its landed verdicts come back from
    the swapped base partitions, the index stays exactly rebuild-
    parity, and curated_corpus_current re-derives the retained set
    under the CURRENT verdicts (the fold-time flags of earlier batches
    are documented as frozen)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        semantic_index_state,
    )
    from py_data_pipeline_app_spark.streaming.curation import (
        curated_corpus_current,
    )

    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t0, t1 = n // 3, 2 * n // 3
    seed = corpus.filter(F.col("doc_id") < t0)
    high = corpus.filter(F.col("doc_id") >= t1)          # folded first
    low = corpus.filter(                                  # backfill: BELOW history
        (F.col("doc_id") >= t0) & (F.col("doc_id") < t1)
    )
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    build_semantic_index(
        seed.filter(F.col("embedding").isNotNull()).select("doc_id", "embedding"),
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    curation_fold(spark, state, out, high, 0, allow_reorder=True)
    # the monotone contract still fails loudly without the flag
    with pytest.raises(ValueError, match="not above cluster"):
        curation_fold(spark, state, out, low, 1)
    curation_fold(spark, state, out, low, 1, allow_reorder=True)

    # index == full rebuild over everything, with the seed's centroids
    emb_all = corpus.filter(F.col("embedding").isNotNull()).select(
        "doc_id", "embedding"
    )
    cents = _md5_sample_centroids(
        seed.filter(F.col("embedding").isNotNull()),
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    want_verdicts = {
        r.doc_id: r.kept
        for r in semantic_dedup(
            emb_all, threshold=THRESH, n_centroids=K, cents=cents,
            id_col="doc_id", vec_col="embedding",
        ).collect()
    }
    got_verdicts = {
        r.doc_id: r.kept
        for r in semantic_index_state(
            spark, f"{state}/semantic_index", id_col="doc_id"
        ).collect()
    }
    assert got_verdicts == want_verdicts

    # the backfill batch's landed flags match the index for its ids
    landed_low = {
        r.doc_id: r.sem_kept
        for r in spark.read.parquet(f"{out}/batch-00000001").collect()
        if r.doc_id in got_verdicts
    }
    assert landed_low == {i: got_verdicts[i] for i in landed_low}

    # curated_corpus_current == batch composition retained set over the
    # streamed rows (quality gate re-applied under current verdicts)
    streamed_df = corpus.filter(F.col("doc_id") >= t0)
    good = {
        r.doc_id
        for r in score_quality_linear(streamed_df).collect()
        if r.quality_z > 0.0
    }
    want_retained = {
        r.doc_id
        for r in streamed_df.select("doc_id").collect()
        if r.doc_id in good and got_verdicts.get(r.doc_id, True)
    }
    got_retained = {
        r.doc_id
        for r in curated_corpus_current(spark, out, state).collect()
    }
    assert got_retained == want_retained


def test_backfill_fold_job_count_pinned(spark, corpus, tmp_path):
    """A backfill micro-batch (ids below folded history) takes the
    reorder append, whose duplicate-id guard is one id-column scan of
    the index, and the reorder read-back, which reads the frozen
    centroids driver-side like the append itself. Measured 39 jobs;
    probing per-cluster Bloom filters instead made it 51."""
    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t0, t1 = n // 3, 2 * n // 3
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    build_semantic_index(
        corpus.filter((F.col("doc_id") < t0) & F.col("embedding").isNotNull())
        .select("doc_id", "embedding"),
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    curation_fold(
        spark, state, out, corpus.filter(F.col("doc_id") >= t1), 0,
        allow_reorder=True,
    )
    low = corpus.filter((F.col("doc_id") >= t0) & (F.col("doc_id") < t1))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    curation_fold(spark, state, out, low, 1, allow_reorder=True)
    ran = len(set(tracker.getJobIdsForGroup(None) or []) - before)
    assert ran <= 39, f"backfill fold ran {ran} jobs"


def test_reorder_shard_sink_reads_current_verdicts(spark, corpus, tmp_path):
    """Round-12 verdict task 1: with ``allow_reorder=True`` the
    ``shards_every`` sink must shard from the index's CURRENT verdicts
    (curated_corpus_current), not the fold-time flags — a backfill
    batch that flips an earlier batch's ``sem_kept`` after its
    directory landed must see the flipped row DROPPED from the next
    shard write, while the monotone prefix's shards stay identical to
    the fold-time read."""
    from py_data_pipeline_app_spark.streaming.curation import (
        curated_corpus_current,
    )

    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t0, t1 = n // 3, 2 * n // 3
    seed = corpus.filter(F.col("doc_id") < t0)
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    build_semantic_index(
        seed.filter(F.col("embedding").isNotNull()).select(
            "doc_id", "embedding"
        ),
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )

    def run(batch_df, name):
        batch_df.coalesce(1).write.parquet(f"{landing}/{name}")
        q = start_curation_stream(
            spark,
            landing + "/*",
            ckpt,
            SCHEMA,
            state,
            out,
            allow_reorder=True,
            compact_every=None,
            shards_every=1,
            n_shards=2,
        )
        q.awaitTermination(180)

    high = corpus.filter(F.col("doc_id") >= t1)
    mid_hi = (t1 + n) // 2
    run(high.filter(F.col("doc_id") < mid_hi), "b0")   # batch 0: no shard write
    run(high.filter(F.col("doc_id") >= mid_hi), "b1")  # batch 1: first shards

    # pick a retained, embedded victim from batch 0's landed rows
    victim = (
        spark.read.parquet(f"{out}/batch-00000000")
        .filter(F.col("retained") & F.col("sem_kept"))
        .join(
            corpus.filter(F.col("embedding").isNotNull()).select("doc_id"),
            "doc_id",
        )
        .select("doc_id")
        .orderBy("doc_id")
        .first()
    )
    assert victim is not None, "need an embedded retained row to flip"
    vid = victim.doc_id
    shard1 = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/shards").select("doc_id").collect()
    }
    assert vid in shard1  # monotone prefix: fold-time == current

    # backfill: the [t0, t1) range, with one row's embedding REPLACED
    # by the victim's — a strictly-lower-id near-dup in the victim's
    # cluster, so the reorder must flip the victim's kept to False
    vvec = (
        corpus.filter(F.col("doc_id") == vid).select("embedding").first()[0]
    )
    low = corpus.filter((F.col("doc_id") >= t0) & (F.col("doc_id") < t1))
    twin_id = low.filter(F.col("embedding").isNotNull()).agg(
        F.min("doc_id")
    ).first()[0]
    low = low.withColumn(
        "embedding",
        F.when(F.col("doc_id") == twin_id, F.lit(vvec).cast("array<float>"))
        .otherwise(F.col("embedding")),
    )
    run(low, "b2")  # batch 2: reorder + shard write

    got = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/shards").select("doc_id").collect()
    }
    assert vid not in got, "flipped row shipped to the trainer shards"
    # fold-time flags still carry the stale verdict — the exact bug
    stale = {r.doc_id for r in curated_corpus(spark, out).collect()}
    assert vid in stale
    want = {
        r.doc_id for r in curated_corpus_current(spark, out, state).collect()
    }
    assert got == want


def test_lm_gate_in_front_door(spark, corpus, tmp_path):
    """Round-12 verdict task 5: the frozen bigram LM as an optional
    front-door gate — every fold scores against the model trained on
    the SEED corpus, lands an ``lm_kept`` flag folded into
    ``retained``, the accounting grows an ``n_dropped_lm`` bucket, and
    ``curated_corpus_current`` honors the verdict (it is fold-final: a
    reorder can never flip it). Verdicts are pinned to a one-shot
    batch scoring of the whole feed — batch independence is the frozen
    model's contract."""
    from py_data_pipeline_app_spark.operators.curation import (
        bigram_lm_train,
        bigram_perplexity_buckets,
    )
    from py_data_pipeline_app_spark.streaming.curation import (
        curated_corpus_current,
    )

    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t0, t1 = n // 3, 2 * n // 3
    seed = corpus.filter(F.col("doc_id") < t0)
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    lm_path = str(tmp_path / "lm")
    build_semantic_index(
        seed.filter(F.col("embedding").isNotNull()).select(
            "doc_id", "embedding"
        ),
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    bigram_lm_train(seed, lm_path, vocab_size=64)

    streamed_df = corpus.filter(F.col("doc_id") >= t0)
    scores = bigram_perplexity_buckets(
        streamed_df, bigram_lm=lm_path
    ).collect()
    ces = sorted(r.cross_entropy for r in scores)
    cutoff = ces[len(ces) // 2]  # median: both verdicts occur
    want_lm = {r.doc_id: bool(r.cross_entropy <= cutoff) for r in scores}
    assert set(want_lm.values()) == {True, False}

    for i, (lo, hi) in enumerate([(t0, t1), (t1, n)]):
        batch = corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        curation_fold(
            spark, state, out, batch, i,
            bigram_lm=lm_path, lm_tail_cutoff=cutoff,
        )

    landed = read_fold_output(spark, out)
    assert "lm_kept" in landed.columns
    rows = landed.collect()
    # token-less rows (no score row) default kept=True
    got_lm = {r.doc_id: r.lm_kept for r in rows}
    assert got_lm == {
        r.doc_id: want_lm.get(r.doc_id, True) for r in rows
    }
    assert all(
        r.retained == (r.sem_kept and r.good and r.lm_kept) for r in rows
    )

    acct = curation_accounting(spark, out)
    assert "n_dropped_lm" in acct.columns
    tot = acct.agg(
        F.sum("n_retained"), F.sum("n_dropped_semantic"),
        F.sum("n_dropped_quality"), F.sum("n_dropped_lm"),
    ).first()
    assert sum(tot) == len(rows) and tot[3] > 0

    cur = {
        r.doc_id for r in curated_corpus_current(spark, out, state).collect()
    }
    assert cur == {r.doc_id for r in rows if r.retained}


def test_decon_gate_in_front_door(spark, corpus, tmp_path):
    """The embedding-space decontamination gate (round 12): folds score
    every batch's embedded rows against a frozen benchmark parquet,
    land a ``decon_kept`` flag folded into ``retained``, the
    accounting grows an ``n_dropped_decon`` bucket, and
    ``curated_corpus_current`` honors the verdict (fold-final — the
    benchmark is frozen, a reorder can never flip it). Benchmark =
    three streamed rows' own embeddings, so exactly those rows are
    self-similar at cosine 1.0 and must drop; every other embedded row
    sits far below 0.9 (the corpora have no natural high-cosine
    pairs), and embedding-less rows default kept."""
    from py_data_pipeline_app_spark.streaming.curation import (
        curated_corpus_current,
    )

    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    t0, t1 = n // 3, 2 * n // 3
    seed = corpus.filter(F.col("doc_id") < t0)
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    bench_path = str(tmp_path / "benchmark")
    build_semantic_index(
        seed.filter(F.col("embedding").isNotNull()).select(
            "doc_id", "embedding"
        ),
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=K,
        id_col="doc_id",
        vec_col="embedding",
    )
    streamed_df = corpus.filter(F.col("doc_id") >= t0)
    leaked = [
        r.doc_id
        for r in streamed_df.filter(F.col("embedding").isNotNull())
        .select("doc_id")
        .orderBy("doc_id")
        .limit(3)
        .collect()
    ]
    streamed_df.filter(F.col("doc_id").isin(leaked)).select(
        "doc_id", "embedding"
    ).write.parquet(bench_path)

    for i, (lo, hi) in enumerate([(t0, t1), (t1, n)]):
        batch = corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        curation_fold(
            spark, state, out, batch, i, decon_benchmark=bench_path
        )

    landed = read_fold_output(spark, out)
    assert "decon_kept" in landed.columns
    rows = landed.collect()
    assert {r.doc_id for r in rows if not r.decon_kept} == set(leaked)
    assert all(
        r.retained == (r.sem_kept and r.good and r.decon_kept)
        for r in rows
    )

    acct = curation_accounting(spark, out)
    assert "n_dropped_decon" in acct.columns
    tot = acct.agg(
        F.sum("n_retained"), F.sum("n_dropped_semantic"),
        F.sum("n_dropped_quality"), F.sum("n_dropped_decon"),
    ).first()
    assert sum(tot) == len(rows) and tot[3] > 0

    cur = {
        r.doc_id for r in curated_corpus_current(spark, out, state).collect()
    }
    assert cur == {r.doc_id for r in rows if r.retained}
    assert not cur & set(leaked)


def test_dsir_gate_in_front_door(spark, tmp_path):
    """The DSIR importance gate (round 13): folds score every batch
    against a PERSISTED frozen fit (dsir_fit_train), land a
    ``dsir_kept`` flag folded into ``retained``, accounting grows an
    ``n_dropped_dsir`` bucket, and ``curated_corpus_current`` honors
    the verdict (fold-final — the fit is frozen). A fit targeting the
    telescope reference slice must drop the cooking (anti-target)
    rows of the feed; whole-vs-split parity: the landed per-batch
    verdicts equal one dsir_score_frozen pass over the whole feed."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df
    from py_data_pipeline_app_spark.operators.sampling import (
        dsir_fit_train,
        dsir_score_frozen,
    )
    from py_data_pipeline_app_spark.streaming.curation import (
        curated_corpus_current,
    )

    ref = local_rows_df(
        spark,
        "doc_id long, source string, text string",
        [
            (0, "wiki", "telescope mirror lens optics star telescope lens"),
            (1, "wiki", "star optics mirror telescope focal lens star"),
            (2, "crawl", "flour butter sugar oven dough flour butter"),
            (3, "crawl", "oven sugar dough butter flour oven sugar"),
        ],
    )
    fit = str(tmp_path / "dsir_fit")
    dsir_fit_train(ref, F.col("source") == "wiki", fit)

    feed_rows = [
        (10, "telescope optics star lens mirror telescope", "a", None),
        (11, "flour oven dough butter sugar flour", "a", None),
        (12, "mirror lens star telescope optics focal", "b", None),
        (13, "sugar butter oven flour dough oven", "b", None),
    ]
    feed = local_rows_df(
        spark,
        "doc_id long, text string, source string, embedding array<float>",
        feed_rows,
    )
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    # the front door needs a pre-built semantic index; an all-null
    # embedding feed just never appends to it
    seed_emb = local_rows_df(
        spark,
        "doc_id long, embedding array<float>",
        [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
    )
    build_semantic_index(
        seed_emb,
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=2,
        id_col="doc_id",
        vec_col="embedding",
    )
    curation_fold(
        spark, state, out, feed.filter(F.col("doc_id") < 12), 0,
        dsir_fit=fit, dsir_min_micro=0,
    )
    curation_fold(
        spark, state, out, feed.filter(F.col("doc_id") >= 12), 1,
        dsir_fit=fit, dsir_min_micro=0,
    )

    landed = read_fold_output(spark, out)
    assert "dsir_kept" in landed.columns
    rows = landed.collect()
    assert {r.doc_id for r in rows if not r.dsir_kept} == {11, 13}
    assert all(
        r.retained == (r.sem_kept and r.good and r.dsir_kept) for r in rows
    )
    # whole-vs-split parity against one frozen-fit pass over the feed
    whole = {
        r.doc_id: r.dsir_weight_micro >= 0
        for r in dsir_score_frozen(feed, fit).collect()
    }
    assert {r.doc_id: r.dsir_kept for r in rows} == whole

    acct = curation_accounting(spark, out)
    assert "n_dropped_dsir" in acct.columns
    tot = acct.agg(
        F.sum("n_retained"), F.sum("n_dropped_semantic"),
        F.sum("n_dropped_quality"), F.sum("n_dropped_dsir"),
    ).first()
    assert sum(tot) == len(rows)

    cur = {
        r.doc_id for r in curated_corpus_current(spark, out, state).collect()
    }
    assert cur == {r.doc_id for r in rows if r.retained}
    assert not cur & {11, 13}


def test_media_gate_in_front_door(spark, tmp_path):
    """The image near-dup gate (round 14): batches carrying a nullable
    ``payload`` column fold into the persisted dHash index
    (media_index=), land an ``img_kept`` flag folded into ``retained``,
    and the accounting grows ``n_dropped_img_dup``. Planted duplicates:
    batch 2 carries a RESIZED copy of a batch-1 asset (in fake-decoder
    space: the tiled payload, which renders the identical cyclic grid —
    the test_media canonicals precedent) plus a within-batch duplicate
    pair; the cross-batch copy and the higher-id within-batch copy
    drop, first occurrences and payload-less rows pass."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df
    from py_data_pipeline_app_spark.streaming.curation import (
        curated_corpus_current,
    )

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    media_idx = str(tmp_path / "state" / "media_index")
    seed_emb = local_rows_df(
        spark,
        "doc_id long, embedding array<float>",
        [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
    )
    build_semantic_index(
        seed_emb,
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=2,
        id_col="doc_id",
        vec_col="embedding",
    )

    feed_schema = (
        "doc_id long, text string, source string, "
        "embedding array<float>, payload binary"
    )
    batch1 = spark.createDataFrame(
        [
            (10, "a document with an original image", "a", None, b"asset-one-bytes!"),
            (11, "a document with another image", "a", None, b"asset-two-unrelated-payload"),
            (12, "a text-only document, no asset", "a", None, None),
        ],
        feed_schema,
    )
    batch2 = spark.createDataFrame(
        [
            # RESIZED copy of asset 10 (tiled payload: identical grid)
            (20, "same image re-encoded at higher resolution", "b", None, b"asset-one-bytes!" * 3),
            # within-batch duplicate pair: 21 survives (lowest id), 22 drops
            (21, "fresh asset, first occurrence", "b", None, b"asset-three-fresh-bytes"),
            (22, "fresh asset, duplicate copy", "b", None, b"asset-three-fresh-bytes"),
            (23, "another text-only document", "b", None, None),
        ],
        feed_schema,
    )
    curation_fold(spark, state, out, batch1, 0, media_index=media_idx)
    curation_fold(spark, state, out, batch2, 1, media_index=media_idx)

    landed = read_fold_output(spark, out)
    assert "img_kept" in landed.columns
    rows = landed.collect()
    flags = {r.doc_id: r.img_kept for r in rows}
    assert flags == {
        10: True, 11: True, 12: True,   # originals + payload-less
        20: False,                       # cross-batch resized copy
        21: True, 22: False,             # within-batch: lowest id wins
        23: True,
    }
    assert all(
        r.retained == (r.sem_kept and r.good and r.img_kept) for r in rows
    )

    acct = curation_accounting(spark, out)
    assert "n_dropped_img_dup" in acct.columns
    tot = acct.agg(
        F.sum("n_retained"), F.sum("n_dropped_semantic"),
        F.sum("n_dropped_quality"), F.sum("n_dropped_img_dup"),
    ).first()
    assert sum(tot) == len(rows)
    # the dropped duplicates never reach the trainer feed
    cur = {
        r.doc_id for r in curated_corpus_current(spark, out, state).collect()
    }
    assert not cur & {20, 22}
    # replayed batch token reproduces identical flags (exactly-once)
    curation_fold(spark, state, out, batch2, 1, media_index=media_idx)
    again = {
        r.doc_id: r.img_kept for r in read_fold_output(spark, out).collect()
    }
    assert again == flags


def test_near_dup_drop_rule_is_component_resolved(spark):
    """Direct contract test for the gate's drop resolution (round-14
    advice): in a batch CHAIN a<b<c with pairs (a,b) and (b,c) only,
    the component keeps exactly its lowest id — c drops because its
    component is represented by a, not because of the greedy pairwise
    accident the old rule had; and a component with ANY history
    contact keeps no batch member at all."""
    from py_data_pipeline_app_spark.streaming.curation import (
        _near_dup_drop_ids,
    )

    batch = spark.createDataFrame(
        [(1,), (2,), (3,), (7,), (8,)], "media_id long"
    )
    # chain 1-2-3 purely in batch; component {7,8} touches history 100
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (7, 100)], "id_a long, id_b long"
    )
    drops = {
        r._drop_id for r in _near_dup_drop_ids(pairs, batch).collect()
    }
    assert drops == {2, 3, 7, 8}
    # a member paired ONLY with history (no batch-internal pair) drops
    solo = spark.createDataFrame([(5, 200)], "id_a long, id_b long")
    assert {
        r._drop_id
        for r in _near_dup_drop_ids(
            solo, spark.createDataFrame([(5,)], "media_id long")
        ).collect()
    } == {5}


def test_media_gate_routes_by_modality(spark, tmp_path):
    """Round-15 front-door guard: with a ``kind`` column, only image
    rows reach the dHash fold — a VIDEO row whose payload is
    byte-identical to an already-indexed image passes untouched
    (img_kept=TRUE) while the re-encoded IMAGE copy still drops."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    media_idx = str(tmp_path / "state" / "media_index")
    seed_emb = local_rows_df(
        spark,
        "doc_id long, embedding array<float>",
        [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
    )
    build_semantic_index(
        seed_emb,
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=2,
        id_col="doc_id",
        vec_col="embedding",
    )
    feed_schema = (
        "doc_id long, text string, source string, "
        "embedding array<float>, payload binary, kind string"
    )
    batch1 = spark.createDataFrame(
        [(10, "doc with the original image", "a", None, b"asset-one-bytes!", "image")],
        feed_schema,
    )
    batch2 = spark.createDataFrame(
        [
            # image: tiled (re-encoded) copy — must drop
            (20, "image re-encode", "b", None, b"asset-one-bytes!" * 3, "image"),
            # video: byte-identical payload — must NOT be byte-hashed
            # into the image index, passes untouched
            (21, "video with coincidental bytes", "b", None, b"asset-one-bytes!", "video"),
            # audio: payload present, not an image — passes
            (22, "audio clip", "b", None, b"asset-one-bytes!", "audio"),
        ],
        feed_schema,
    )
    curation_fold(spark, state, out, batch1, 0, media_index=media_idx)
    curation_fold(spark, state, out, batch2, 1, media_index=media_idx)
    flags = {
        r.doc_id: r.img_kept for r in read_fold_output(spark, out).collect()
    }
    assert flags == {10: True, 20: False, 21: True, 22: True}


def test_video_gate_in_front_door(spark, tmp_path):
    """The video near-dup gate (round 15): kind='video' rows fold into
    the persisted per-frame dHash index (video_index=), land a
    ``vid_kept`` flag folded into ``retained``, the accounting grows
    ``n_dropped_vid_dup``, image/text rows pass untouched, and a
    replayed batch reproduces identical flags. Routing without a kind
    column refuses loudly."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    vid_idx = str(tmp_path / "state" / "video_index")
    seed_emb = local_rows_df(
        spark,
        "doc_id long, embedding array<float>",
        [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)],
    )
    build_semantic_index(
        seed_emb,
        f"{state}/semantic_index",
        threshold=THRESH,
        n_centroids=2,
        id_col="doc_id",
        vec_col="embedding",
    )
    feed_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("payload", T.BinaryType()),
            T.StructField("kind", T.StringType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("duration_ms", T.LongType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    clip = bytes((x * 9) % 251 for x in range(648))
    batch1 = spark.createDataFrame(
        [
            (10, "doc with the original clip", "a", None, clip, "video", (5000, 640, 480)),
            (11, "text only", "a", None, None, None, None),
        ],
        feed_schema,
    )
    batch2 = spark.createDataFrame(
        [
            # identical clip at lower resolution — cross-batch near-dup
            (20, "same clip re-encoded", "b", None, clip, "video", (5000, 320, 240)),
            # image row with the same bytes — not a clip, passes
            (21, "image with coincidental bytes", "b", None, clip, "image", None),
        ],
        feed_schema,
    )
    curation_fold(spark, state, out, batch1, 0, video_index=vid_idx)
    curation_fold(spark, state, out, batch2, 1, video_index=vid_idx)
    rows = read_fold_output(spark, out).collect()
    flags = {r.doc_id: r.vid_kept for r in rows}
    assert flags == {10: True, 11: True, 20: False, 21: True}
    assert all(
        r.retained == (r.sem_kept and r.good and r.vid_kept) for r in rows
    )
    acct = curation_accounting(spark, out)
    assert "n_dropped_vid_dup" in acct.columns
    tot = acct.agg(
        F.sum("n_retained"), F.sum("n_dropped_semantic"),
        F.sum("n_dropped_quality"), F.sum("n_dropped_vid_dup"),
    ).first()
    assert sum(tot) == len(rows)
    # replay no-op
    curation_fold(spark, state, out, batch2, 1, video_index=vid_idx)
    again = {
        r.doc_id: r.vid_kept for r in read_fold_output(spark, out).collect()
    }
    assert again == flags
    # no kind column -> loud refusal, not silent byte-hashing
    no_kind = spark.createDataFrame(
        [(30, "x", "a", None, clip)],
        "doc_id long, text string, source string, "
        "embedding array<float>, payload binary",
    )
    with pytest.raises(ValueError, match="kind"):
        curation_fold(
            spark, state, str(tmp_path / "out2"), no_kind, 0,
            video_index=vid_idx,
        )

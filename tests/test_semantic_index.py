"""Incremental SemDeDup index lifecycle: append-vs-rebuild parity,
the per-cluster monotone-id guard, tombstone (forget) semantics,
idempotent replays, empty batches, centroid drift, and compaction
parity. The registered query's oracle re-checks the build+append
parity cross-engine; these tests cover the mutation surfaces the
single gate row can't reach."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from py_data_pipeline_app_spark.operators.similarity import (
    _md5_sample_centroids,
    build_semantic_index,
    ivf_index_delete,
    semantic_dedup,
    semantic_index_append,
    semantic_index_compact,
    semantic_index_state,
)

THRESH = 0.8
K = 8


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return df.localCheckpoint()


def _fresh(tmp_path, name):
    p = str(tmp_path / name)
    shutil.rmtree(p, ignore_errors=True)
    return p


def _state_rows(spark, idx):
    return sorted(tuple(r) for r in semantic_index_state(spark, idx).collect())


def _rebuild_rows(emb, base):
    """semantic_dedup over the full corpus with the BASE batch's
    centroids — the semantics the incremental index must reproduce."""
    cents = _md5_sample_centroids(
        base, n_centroids=K, id_col="vec_id", vec_col="embedding"
    )
    return sorted(
        tuple(r)
        for r in semantic_dedup(
            emb, threshold=THRESH, n_centroids=K, cents=cents
        ).collect()
    )


@pytest.mark.oracle
def test_two_appends_match_rebuild(spark, emb, tmp_path):
    n = emb.count()
    a, b = n // 3, 2 * n // 3
    base = emb.filter(F.col("vec_id") < a)
    idx = _fresh(tmp_path, "sem_two")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, emb.filter((F.col("vec_id") >= a) & (F.col("vec_id") < b))
    )
    semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= b))
    assert _state_rows(spark, idx) == _rebuild_rows(emb, base)


@pytest.mark.oracle
def test_append_is_idempotent_by_token(spark, emb, tmp_path):
    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    batch = emb.filter(F.col("vec_id") >= n // 2)
    idx = _fresh(tmp_path, "sem_idem")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(spark, idx, batch, batch_token="b1")
    once = _state_rows(spark, idx)
    # a foreachBatch-style replay re-runs the same token: same rows
    semantic_index_append(spark, idx, batch, batch_token="b1")
    assert _state_rows(spark, idx) == once == _rebuild_rows(emb, base)


def test_out_of_order_id_refused_before_writing(spark, emb, tmp_path):
    n = emb.count()
    idx = _fresh(tmp_path, "sem_mono")
    build_semantic_index(
        emb.filter(F.col("vec_id") >= n // 2), idx, threshold=THRESH, n_centroids=K
    )
    before = _state_rows(spark, idx)
    with pytest.raises(ValueError, match="not above cluster"):
        semantic_index_append(spark, idx, emb.filter(F.col("vec_id") < n // 2))
    # the refused append must not have landed anything
    assert _state_rows(spark, idx) == before


def test_out_of_order_id_refused_against_flat_legacy_append(
    spark, emb, tmp_path
):
    """A flat append directory (centroid_id as a data column, no
    ``centroid_id=`` subdirectories) is history too: its higher ids
    must trip the monotone guard, not slip past the footer prescreen
    that only walks the per-cluster subdirectories."""
    n = emb.count()
    idx = _fresh(tmp_path, "sem_flat")
    build_semantic_index(
        emb.filter(F.col("vec_id") < n // 2), idx, threshold=THRESH, n_centroids=K
    )
    spark.read.parquet(f"{idx}/assigned").withColumn(
        "vec_id", F.col("vec_id") + n
    ).write.parquet(f"{idx}/appends/batch-legacy")
    with pytest.raises(ValueError, match="not above cluster"):
        semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= n // 2))


@pytest.mark.oracle
def test_tombstone_forgets_history(spark, tmp_path):
    """Deleting an id removes it from the state immediately AND stops
    it dropping future arrivals (forget semantics): append a clone of
    a deleted vector — it must come back kept, while a clone of a
    still-present vector must drop. Synthetic orthogonal basis
    vectors make every verdict deterministic: cos is 1.0 between
    clones and 0.0 between distinct rows."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    def basis(i):
        return [1.0 if j == i else 0.0 for j in range(8)]

    corpus = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [(i, basis(i)) for i in range(6)],
    )
    idx = _fresh(tmp_path, "sem_del")
    build_semantic_index(corpus, idx, threshold=THRESH, n_centroids=2)
    state = {r.vec_id: r.kept for r in semantic_index_state(spark, idx).collect()}
    assert all(state.values()), "orthogonal vectors must all be kept"
    ivf_index_delete(
        spark,
        idx,
        local_rows_df(spark, "vec_id long", [(0,)]),
        batch_token="rm0",
    )
    state = {r.vec_id: r.kept for r in semantic_index_state(spark, idx).collect()}
    assert 0 not in state
    clones = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [(100, basis(0)), (101, basis(1))],
    )
    semantic_index_append(spark, idx, clones, batch_token="clones")
    state = {r.vec_id: r.kept for r in semantic_index_state(spark, idx).collect()}
    assert state[100], "clone of the forgotten vector must be kept"
    assert not state[101], "clone of a live vector must drop"


def test_compaction_preserves_state_and_consumes_appends(spark, emb, tmp_path):
    import os

    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    idx = _fresh(tmp_path, "sem_compact")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= n // 2))
    ivf_index_delete(
        spark, idx, emb.filter(F.col("vec_id") % 13 == 5).select("vec_id")
    )
    before = _state_rows(spark, idx)
    merged = semantic_index_compact(spark, idx)
    assert merged >= 1
    assert _state_rows(spark, idx) == before
    assert not os.path.exists(f"{idx}/appends")
    assert not os.path.exists(f"{idx}/deletes")  # full compaction consumes


def test_empty_append_does_not_poison(spark, emb, tmp_path):
    n = emb.count()
    base = emb.filter(F.col("vec_id") < n)
    idx = _fresh(tmp_path, "sem_empty")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    before = _state_rows(spark, idx)
    semantic_index_append(
        spark, idx, emb.filter(F.col("vec_id") < 0), batch_token="empty"
    )
    assert _state_rows(spark, idx) == before


def test_centroid_drift_fails_loudly(spark, emb, tmp_path):
    n = emb.count()
    idx = _fresh(tmp_path, "sem_drift")
    build_semantic_index(
        emb.filter(F.col("vec_id") < n // 2), idx, threshold=THRESH, n_centroids=K
    )
    # corrupt the persisted centroids (simulate a partial overwrite)
    cents = spark.read.parquet(f"{idx}/centroids")
    cents.withColumn(
        "cvec", F.transform("cvec", lambda x: x + F.lit(1.0))
    ).write.mode("overwrite").parquet(f"{idx}/centroids2")
    shutil.rmtree(f"{idx}/centroids")
    shutil.move(f"{idx}/centroids2", f"{idx}/centroids")
    with pytest.raises(ValueError, match="checksum"):
        semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= n // 2))


def test_rebuild_over_mutated_index_refused(spark, emb, tmp_path):
    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    idx = _fresh(tmp_path, "sem_rebuild")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= n // 2))
    with pytest.raises(ValueError, match="appended batches"):
        build_semantic_index(emb, idx, threshold=THRESH, n_centroids=K)


@pytest.mark.oracle
def test_reorder_append_matches_rebuild(spark, emb, tmp_path):
    """allow_reorder=True with a batch interleaved BELOW history ids
    (every 4th id, including the global minimum) must reproduce the
    full rebuild's verdicts exactly — including flips of history rows
    the monotone path could never touch."""
    idx = _fresh(tmp_path, "reorder")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, batch, batch_token="backfill", allow_reorder=True
    )
    assert _state_rows(spark, idx) == _rebuild_rows(emb, base)


def test_reorder_append_can_flip_history_verdicts(spark, tmp_path):
    """The point of recompute mode: a low-id arrival that is the
    cluster's true survivor must flip the previously-kept history
    row to dropped."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    idx = _fresh(tmp_path, "reorder-flip")
    # two near-identical vectors: id 10 indexed first (kept), id 1
    # arrives later — under the rebuild rule id 1 wins, id 10 flips
    mk = lambda rows: local_rows_df(  # noqa: E731
        spark, "vec_id long, embedding array<double>", rows
    )
    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.999, 0.01, 0.0, 0.0]
    build_semantic_index(mk([(10, v)]), idx, threshold=THRESH, n_centroids=1)
    assert {
        (r.vec_id, r.kept) for r in semantic_index_state(spark, idx).collect()
    } == {(10, True)}
    semantic_index_append(
        spark, idx, mk([(1, w)]), batch_token="low", allow_reorder=True
    )
    assert {
        (r.vec_id, r.kept) for r in semantic_index_state(spark, idx).collect()
    } == {(1, True), (10, False)}


@pytest.mark.oracle
def test_reorder_monotone_batch_takes_fast_path(spark, emb, tmp_path):
    """A monotone batch with allow_reorder=True must still land as an
    ordinary append directory (the fast path is unchanged), not a
    base rewrite."""
    from py_data_pipeline_app_spark import fsio

    idx = _fresh(tmp_path, "reorder-fast")
    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    batch = emb.filter(F.col("vec_id") >= n // 2)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, batch, batch_token="mono", allow_reorder=True
    )
    assert fsio.exists(spark, f"{idx}/appends/batch-mono")
    assert _state_rows(spark, idx) == _rebuild_rows(emb, base)


@pytest.mark.oracle
def test_reorder_replay_is_noop(spark, emb, tmp_path):
    """A consumed reorder token replays as a no-op (the rows are merged
    into the base, so the idempotent-directory trick can't cover it —
    the token marker does)."""
    idx = _fresh(tmp_path, "reorder-replay")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, batch, batch_token="bf", allow_reorder=True
    )
    before = _state_rows(spark, idx)
    tok = semantic_index_append(
        spark, idx, batch, batch_token="bf", allow_reorder=True
    )
    assert tok == "bf"
    assert _state_rows(spark, idx) == before


@pytest.mark.oracle
def test_reorder_leaves_untouched_clusters_unrewritten(spark, emb, tmp_path):
    """Partition pruning is the scale contract: a cluster receiving no
    batch rows keeps its exact files (same names, same mtimes) through
    a reorder append."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.operators.similarity import (
        _assign_to_centroids,
        _centroid_rows,
    )

    idx = _fresh(tmp_path, "reorder-prune")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).limit(5).localCheckpoint()
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    cent_rows = _centroid_rows(spark.read.parquet(f"{idx}/centroids"))
    probed = {
        r.centroid_id
        for r in _assign_to_centroids(
            batch, cent_rows, id_col="vec_id", vec_col="embedding"
        )
        .select("centroid_id")
        .distinct()
        .collect()
    }
    untouched = sorted(set(range(K)) - probed)
    assert untouched, "fixture batch must leave some cluster untouched"

    def listing(c):
        fs, p = fsio.hadoop_fs(spark, f"{idx}/assigned/centroid_id={c}")
        return sorted(
            (s.getPath().getName(), s.getModificationTime())
            for s in fs.listStatus(p)
        )

    before = {c: listing(c) for c in untouched}
    semantic_index_append(
        spark, idx, batch, batch_token="small", allow_reorder=True
    )
    assert {c: listing(c) for c in untouched} == before


@pytest.mark.oracle
def test_reorder_crash_recovery_completes_swap(spark, emb, tmp_path):
    """A stage directory left behind WITH its manifest (crash between
    staging and swap) must be committed by the next mutator; one
    WITHOUT a manifest (crash mid-write) must be deleted as an
    invisible orphan."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.operators.similarity import (
        _recover_semantic_reorder,
    )

    idx = _fresh(tmp_path, "reorder-crash")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    # run the real reorder, then simulate the crash by reconstructing
    # the pre-swap state: move the committed partitions back out into
    # a fake stage and restore the old base partitions is intrusive;
    # instead stage a manifest-less orphan and a manifested stage made
    # from a copy of one committed partition, and check both outcomes
    semantic_index_append(
        spark, idx, batch, batch_token="bf", allow_reorder=True
    )
    want = _state_rows(spark, idx)
    # manifest-less orphan: must vanish, state unchanged
    fsio.mkdirs(spark, f"{idx}/.reorder-stage-orphan/centroid_id=0")
    _recover_semantic_reorder(spark, idx)
    assert not fsio.exists(spark, f"{idx}/.reorder-stage-orphan")
    assert _state_rows(spark, idx) == want
    # manifested stage holding cluster 0's rows: recovery must swap it
    # in (replacing the live copy), mark its token, and drop the stage
    rows0 = spark.read.parquet(f"{idx}/assigned").filter(
        F.col("centroid_id") == 0
    )
    stage = f"{idx}/.reorder-stage-crash"
    rows0.write.partitionBy("centroid_id").parquet(stage)
    fsio.write_json(
        spark, f"{stage}/_MANIFEST", {"token": "crash", "clusters": [0]}
    )
    _recover_semantic_reorder(spark, idx)
    assert not fsio.exists(spark, stage)
    assert fsio.exists(spark, f"{idx}/reorder-tokens/crash")
    assert _state_rows(spark, idx) == want


def test_reorder_history_read_is_partition_pruned(spark, emb, tmp_path):
    """The scale contract's READ half (the mtime test covers the write
    half): the reorder path's history read must reach the parquet scan
    as a PartitionFilter on the probed clusters — un-probed cluster
    directories cost zero I/O."""
    idx = _fresh(tmp_path, "reorder-planshape")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    plan = (
        spark.read.parquet(f"{idx}/assigned")
        .filter(F.col("centroid_id").isin([0, 3]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [centroid_id" in plan
    assert "INSET" in plan or " IN (" in plan


@pytest.mark.oracle
def test_reorder_then_monotone_append_chain(spark, emb, tmp_path):
    """The lifecycle composes: build → out-of-order reorder append →
    ordinary monotone append on top must still equal one rebuild over
    all three segments (the reorder leaves the index in a state the
    fast path can keep extending)."""
    idx = _fresh(tmp_path, "reorder-chain")
    n = emb.count()
    mid = emb.filter(
        (F.col("vec_id") >= n // 4) & (F.col("vec_id") < n // 2)
    )
    low = emb.filter(F.col("vec_id") < n // 4)
    high = emb.filter(F.col("vec_id") >= n // 2)
    build_semantic_index(mid, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, low, batch_token="backfill", allow_reorder=True
    )
    semantic_index_append(spark, idx, high, batch_token="tail")
    assert _state_rows(spark, idx) == _rebuild_rows(emb, mid)


@pytest.mark.oracle
def test_reorder_recovery_mid_swap_and_post_marker(spark, emb, tmp_path):
    """The two crash points the basic recovery test doesn't reach:
    (a) MID-SWAP — some clusters already renamed out of the stage,
    others not: recovery must finish only the remaining ones and mark
    the token; (b) POST-MARKER — the token marker exists and every
    cluster is swapped, only the stage directory survives: recovery
    must just delete it. State is unchanged through both."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.operators.similarity import (
        _recover_semantic_reorder,
    )

    idx = _fresh(tmp_path, "reorder-midswap")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, batch, batch_token="bf", allow_reorder=True
    )
    want = _state_rows(spark, idx)

    # (a) mid-swap: stage holds copies of clusters 0 and 1; cluster 0's
    # subdir is already gone (as if its rename committed before the
    # crash), cluster 1's swap is still pending
    stage = f"{idx}/.reorder-stage-midswap"
    for c in (0, 1):
        spark.read.parquet(f"{idx}/assigned").filter(
            F.col("centroid_id") == c
        ).write.partitionBy("centroid_id").mode("append").parquet(stage)
    fsio.delete(spark, f"{stage}/centroid_id=0")  # "already swapped"
    fsio.write_json(
        spark, f"{stage}/_MANIFEST", {"token": "midswap", "clusters": [0, 1]}
    )
    _recover_semantic_reorder(spark, idx)
    assert not fsio.exists(spark, stage)
    assert fsio.exists(spark, f"{idx}/reorder-tokens/midswap")
    assert _state_rows(spark, idx) == want

    # (b) post-marker: only the manifest survives in the stage and the
    # token is already consumed — recovery must clean up, change nothing
    stage2 = f"{idx}/.reorder-stage-postmark"
    fsio.mkdirs(spark, stage2)
    fsio.write_json(
        spark, f"{stage2}/_MANIFEST", {"token": "postmark", "clusters": [2]}
    )
    fsio.write_text(spark, f"{idx}/reorder-tokens/postmark", "")
    _recover_semantic_reorder(spark, idx)
    assert not fsio.exists(spark, stage2)
    assert _state_rows(spark, idx) == want


from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.mark.oracle
@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=2, max_value=97))
def test_reorder_parity_over_arbitrary_splits(spark, emb, tmp_path_factory, mod):
    """Property: for ANY modular split of the id space — build over
    ids where id % mod != 0, reorder-append the rest — the index state
    equals the full rebuild. The fixed %4 test is one point of this
    space; hypothesis walks the prime-ish neighborhood where batch
    sizes, cluster overlap, and violation patterns all vary."""
    tmp_path = tmp_path_factory.mktemp(f"reorder-prop-{mod}")
    idx = _fresh(tmp_path, "idx")
    base = emb.filter(F.col("vec_id") % mod != 0)
    batch = emb.filter(F.col("vec_id") % mod == 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(
        spark, idx, batch, batch_token="p", allow_reorder=True
    )
    assert _state_rows(spark, idx) == _rebuild_rows(emb, base)


@pytest.mark.oracle
def test_reorder_with_pending_appends_is_bounded(spark, emb, tmp_path):
    """Round-11 scale contract: a reorder arriving while appends are
    PENDING must not fold them into the base (the old full-O(index)
    pre-compaction) — the pending append directories survive
    untouched, un-probed base cluster directories keep their exact
    files and mtimes, and the re-homed rows are not double-counted:
    state still equals the rebuild, through a replay, a later full
    compaction (which consumes the exclusion markers), and a further
    monotone append."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.operators.similarity import (
        SEMANTIC_REORDER_EXCL_SUBDIR,
        _assign_to_centroids,
        _centroid_rows,
        semantic_index_compact,
    )

    idx = _fresh(tmp_path, "reorder-pending")
    n = emb.count()
    base = emb.filter((F.col("vec_id") >= n // 4) & (F.col("vec_id") < n // 2))
    a1 = emb.filter((F.col("vec_id") >= n // 2) & (F.col("vec_id") < 3 * n // 4))
    a2 = emb.filter((F.col("vec_id") >= 3 * n // 4) & (F.col("vec_id") < n - 5))
    low = emb.filter(F.col("vec_id") < n // 4).limit(7).localCheckpoint()
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(spark, idx, a1, batch_token="a1")
    semantic_index_append(spark, idx, a2, batch_token="a2")

    cent_rows = _centroid_rows(spark.read.parquet(f"{idx}/centroids"))
    probed = {
        r.centroid_id
        for r in _assign_to_centroids(
            low, cent_rows, id_col="vec_id", vec_col="embedding"
        )
        .select("centroid_id")
        .distinct()
        .collect()
    }
    untouched = sorted(set(range(K)) - probed)
    assert untouched, "fixture batch must leave some cluster untouched"

    def listing(c):
        fs, p = fsio.hadoop_fs(spark, f"{idx}/assigned/centroid_id={c}")
        return sorted(
            (s.getPath().getName(), s.getModificationTime())
            for s in fs.listStatus(p)
        )

    def append_listing(tok):
        fs, p = fsio.hadoop_fs(spark, f"{idx}/appends/batch-{tok}")
        return sorted(
            (s.getPath().toString(), s.getModificationTime())
            for s in fs.listStatus(p)
        )

    base_before = {c: listing(c) for c in untouched}
    appends_before = {t: append_listing(t) for t in ("a1", "a2")}
    semantic_index_append(
        spark, idx, low, batch_token="backfill", allow_reorder=True
    )
    # pending appends still there byte-for-byte; un-probed base dirs too
    assert {t: append_listing(t) for t in ("a1", "a2")} == appends_before
    assert {c: listing(c) for c in untouched} == base_before
    # exclusion markers exist for both pending appends
    excl = sorted(
        n for n, _ in fsio.child_entries(spark, f"{idx}/{SEMANTIC_REORDER_EXCL_SUBDIR}")
    )
    assert excl == ["batch-a1--backfill", "batch-a2--backfill"]

    want_corpus = emb.filter((F.col("vec_id") >= n // 4) & (F.col("vec_id") < n - 5)).unionByName(low)
    want = _rebuild_rows(want_corpus, base)
    assert _state_rows(spark, idx) == want
    # replay of the consumed reorder token is still a no-op
    semantic_index_append(
        spark, idx, low, batch_token="backfill", allow_reorder=True
    )
    assert _state_rows(spark, idx) == want
    # full compaction consumes the markers without double-counting
    semantic_index_compact(spark, idx)
    assert not fsio.exists(spark, f"{idx}/{SEMANTIC_REORDER_EXCL_SUBDIR}")
    assert _state_rows(spark, idx) == want
    # the lifecycle keeps composing: a monotone append on top
    semantic_index_append(
        spark, idx, emb.filter(F.col("vec_id") >= n - 5), batch_token="tail"
    )
    assert _state_rows(spark, idx) == _rebuild_rows(
        want_corpus.unionByName(emb.filter(F.col("vec_id") >= n - 5)), base
    )


@pytest.mark.oracle
def test_reader_finishes_crashed_reorder(spark, emb, tmp_path):
    """A manifested stage left by a crash is committed by the next
    READER (semantic_index_state), not just the next mutator — and the
    commit writes the manifest's superseded-append exclusion markers,
    so the state read that triggered recovery already excludes the
    re-homed rows."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.operators.similarity import (
        SEMANTIC_REORDER_EXCL_SUBDIR,
    )

    idx = _fresh(tmp_path, "reader-recovery")
    n = emb.count()
    base = emb.filter((F.col("vec_id") >= n // 4) & (F.col("vec_id") < n // 2))
    a1 = emb.filter(F.col("vec_id") >= n // 2)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(spark, idx, a1, batch_token="a1")
    want = _state_rows(spark, idx)
    # fake a crashed reorder that re-verdicted cluster 0 to exactly its
    # current base rows and superseded batch-a1 for cluster 0: applying
    # it re-homes a1's cluster-0 rows into the base copy
    stage = f"{idx}/.reorder-stage-crash"
    spark.read.parquet(f"{idx}/assigned").filter(
        F.col("centroid_id") == 0
    ).unionByName(
        spark.read.schema(spark.read.parquet(f"{idx}/assigned").schema)
        .parquet(f"{idx}/appends/batch-a1")
        .filter(F.col("centroid_id") == 0)
    ).write.partitionBy("centroid_id").parquet(stage)
    fsio.write_json(
        spark,
        f"{stage}/_MANIFEST",
        {"token": "crash", "clusters": [0], "superseded": ["batch-a1"]},
    )
    # the pure reader must finish the swap and see a consistent state
    assert _state_rows(spark, idx) == want
    assert not fsio.exists(spark, stage)
    assert fsio.exists(spark, f"{idx}/reorder-tokens/crash")
    assert fsio.exists(
        spark, f"{idx}/{SEMANTIC_REORDER_EXCL_SUBDIR}/batch-a1--crash"
    )
    # lock must have been released (a mutator can run)
    semantic_index_compact(spark, idx)
    assert _state_rows(spark, idx) == want


def test_reader_refuses_mid_commit_stage_under_live_lock(spark, emb, tmp_path):
    """If a LIVE mutator (lock held) is between manifest-write and
    swap, the reader raises the loud lock error instead of silently
    returning the inconsistent mid-commit view."""
    from py_data_pipeline_app_spark import fsio

    idx = _fresh(tmp_path, "reader-locked")
    n = emb.count()
    build_semantic_index(
        emb.filter(F.col("vec_id") < n // 2), idx, threshold=THRESH, n_centroids=K
    )
    stage = f"{idx}/.reorder-stage-live"
    fsio.mkdirs(spark, stage)
    fsio.write_json(
        spark, f"{stage}/_MANIFEST", {"token": "live", "clusters": [0]}
    )
    fsio.write_text(spark, f"{idx}/_index.lock", "")
    try:
        with pytest.raises(RuntimeError, match="locked"):
            semantic_index_state(spark, idx)
    finally:
        fsio.delete(spark, f"{idx}/_index.lock")
        fsio.delete(spark, stage)


def test_duplicate_id_guard_refuses_reembedded_id(spark, emb, tmp_path):
    """A batch containing an id already in the index — with a DIFFERENT
    vector, the re-embedded-doc case that can land in another cluster —
    must be refused loudly by the reorder append's full-index id check,
    never committed as a silent second copy."""
    from py_data_pipeline_app_spark import fsio

    idx = _fresh(tmp_path, "guard-dup")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    # id 1 exists in base; flip its vector so it may assign elsewhere
    dup = (
        emb.filter(F.col("vec_id") % 4 == 0)
        .unionByName(
            emb.filter(F.col("vec_id") == 1).select(
                "vec_id",
                F.transform("embedding", lambda x: -x).alias("embedding"),
            )
        )
    )
    with pytest.raises(ValueError, match="already exists"):
        semantic_index_append(
            spark, idx, dup, batch_token="dupfeed", allow_reorder=True
        )
    # the refused batch must not have committed anything
    assert not fsio.exists(spark, f"{idx}/reorder-tokens/dupfeed")


def test_duplicate_guard_after_compaction(spark, emb, tmp_path):
    """After a full compaction merged an append and a reorder into the
    base, the guard still catches ids that arrived by either route."""
    idx = _fresh(tmp_path, "guard-compact")
    n = emb.count()
    mid = emb.filter((F.col("vec_id") >= n // 4) & (F.col("vec_id") < n // 2))
    high = emb.filter(F.col("vec_id") >= n // 2)
    low = emb.filter(F.col("vec_id") < n // 4)
    build_semantic_index(mid, idx, threshold=THRESH, n_centroids=K)
    semantic_index_append(spark, idx, high, batch_token="tail")
    semantic_index_append(
        spark, idx, low, batch_token="backfill", allow_reorder=True
    )
    semantic_index_compact(spark, idx)
    dup = emb.filter(F.col("vec_id").isin(0, int(n) - 1, int(n) // 4))
    with pytest.raises(ValueError, match="already exists"):
        semantic_index_append(
            spark, idx, dup, batch_token="dupfeed2", allow_reorder=True
        )


def test_monotone_append_job_count_pinned(spark, emb, tmp_path):
    """Pin the job count of one monotone semantic append: the
    checkpointed assignment, the probed-cluster collect (the footer
    prescreen proves monotonicity driver-side) and the verdict write
    with its AQE stage jobs, 12 measured. A new per-append O(index)
    action shows up here as extra jobs before it shows up in a bench
    row."""
    idx = _fresh(tmp_path, "jobpin")
    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    batch = emb.filter(F.col("vec_id") >= n // 2)
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    semantic_index_append(spark, idx, batch, batch_token="pin")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 12, f"monotone append ran {after - before} jobs"


def test_append_mode_drift_refused(spark, emb, tmp_path):
    """An index whose config records assign_mode='two_level' (the
    approximate fold earlier builds could pick) is refused before any
    write; a config recording 'flat', or no mode column at all, keeps
    appending to rebuild parity."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    idx = _fresh(tmp_path, "sem_drift")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    cfg = spark.read.parquet(f"{idx}/config").first()

    def write_config(mode):
        schema = "centroid_checksum string, threshold double"
        row = (cfg.centroid_checksum, float(cfg.threshold))
        if mode is not None:
            schema, row = schema + ", assign_mode string", row + (mode,)
        local_rows_df(spark, schema, [row]).write.mode("overwrite").parquet(
            f"{idx}/config"
        )

    write_config("two_level")
    before = _state_rows(spark, idx)
    with pytest.raises(ValueError, match="assign_mode='two_level'"):
        semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= n // 2))
    assert _state_rows(spark, idx) == before

    mid = 3 * n // 4
    write_config("flat")
    semantic_index_append(
        spark, idx, emb.filter((F.col("vec_id") >= n // 2) & (F.col("vec_id") < mid))
    )
    write_config(None)
    semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= mid))
    assert _state_rows(spark, idx) == _rebuild_rows(emb, base)


def test_legacy_config_without_mode_reads_as_flat(spark, emb, tmp_path):
    """A pre-round-13 index (config lacking the assign_mode column)
    must keep appending with the flat fold it was built with."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2)
    idx = _fresh(tmp_path, "sem_legacy")
    build_semantic_index(base, idx, threshold=THRESH, n_centroids=K)
    # rewrite the config in the legacy two-column shape
    cfg = spark.read.parquet(f"{idx}/config").first()
    local_rows_df(
        spark,
        "centroid_checksum string, threshold double",
        [(cfg.centroid_checksum, float(cfg.threshold))],
    ).write.mode("overwrite").parquet(f"{idx}/config")
    semantic_index_append(spark, idx, emb.filter(F.col("vec_id") >= n // 2))
    assert _state_rows(spark, idx) == _rebuild_rows(emb, base)

"""Similarity search: exact baseline correctness, and approximate
variants measured against it (recall, not equality)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.similarity import (
    _md5_sample_centroids,
    brute_force_topk,
    cosine,
    embedding_near_dup_pairs,
    hyperplane_lsh_near_dup_pairs,
    ivf_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def lsh_recall_estimate(threshold: float, n_planes: int, bands: int) -> float:
    """Expected hyperplane-LSH recall for a pair at exactly
    ``threshold`` cosine — the reference model ``lsh_config_for``
    inverts: per-plane sign-agreement probability is
    p = 1 - acos(t)/π, a band of r = n_planes/bands bits hits with
    p^r, and the pair is a candidate if ANY band hits —
    1 - (1 - p^r)^bands."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = n_planes // bands
    return 1.0 - (1.0 - p**r) ** bands


def _sampled_cents(corpus, n_centroids: int):
    return _md5_sample_centroids(
        corpus, n_centroids=n_centroids, id_col="vec_id", vec_col="embedding"
    )


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


def test_cosine_matches_python(spark):
    df = local_rows_df(
        spark, "x array<double>, y array<double>",
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])]
    )
    got = df.select(cosine(F.col("x"), F.col("y")).alias("c")).collect()[0].c
    dot = 1 * 4 + 2 * 5 + 3 * 6
    want = dot / (math.sqrt(14) * math.sqrt(77))
    assert abs(got - want) < 1e-12


def test_cosine_self_is_one(emb):
    row = emb.select(
        cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).first()
    assert abs(row.c - 1.0) < 1e-12


def test_brute_force_topk_shape_and_order(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        assert [r.rank for r in rows] == [1, 2, 3, 4] or sorted(
            r.rank for r in rows
        ) == [1, 2, 3, 4]
        ordered = sorted(rows, key=lambda r: r.rank)
        scores = [r.score for r in ordered]
        assert scores == sorted(scores, reverse=True)
        # rank 1 is the query itself (cosine 1.0)
        assert ordered[0].vec_id == q
        assert abs(ordered[0].score - 1.0) < 1e-6


def test_ivf_recall_against_exact(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=4).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5  # probing half the buckets of random-ish data
    # the query vector itself always lands in its own probed bucket
    assert all((q, q) in approx_set for q in range(10))


def test_hyperplane_lsh_recall_on_planted_dups(spark):
    # plant: pairs of nearly-identical vectors -> cosine ~1 -> identical
    # sign patterns -> must collide in every band and be found.
    import random

    rng = random.Random(7)
    rows = []
    for i in range(20):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + 1e-6 for x in v]))
    df = local_rows_df(spark, "vec_id long, embedding array<double>", rows)
    found = {
        (r.id_a, r.id_b)
        for r in hyperplane_lsh_near_dup_pairs(
            df, dim=16, threshold=0.999, n_planes=16, bands=4
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= found
    # the high-threshold SCALE config (wide 8-bit bands, ~16x fewer
    # random candidates per band) must also find every planted dup:
    # cosine ~1 -> identical sign patterns -> collide in every band
    found_wide = {
        (r.id_a, r.id_b)
        for r in hyperplane_lsh_near_dup_pairs(
            df, dim=16, threshold=0.999, n_planes=32, bands=4
        ).collect()
    }
    assert planted <= found_wide


def test_lsh_recall_estimate_matches_measurement_regimes():
    """The closed-form S-curve behind the tuning table: orderings and
    magnitudes must match what was measured on the sf0.01 embeddings
    (recall 0.56 / 0.10 / 0.81 for the three configs at t=0.4) and the
    high-threshold design point (8-bit bands at cosine 0.9)."""
    est_16_4 = lsh_recall_estimate(0.4, 16, 4)
    est_32_4 = lsh_recall_estimate(0.4, 32, 4)
    est_32_8 = lsh_recall_estimate(0.4, 32, 8)
    # ordering matches measurement: 8 narrow bands > 4 narrow > 4 wide
    assert est_32_8 > est_16_4 > est_32_4
    # magnitudes in the measured ballpark (estimates are at exactly t;
    # measured recall averages over pairs above t, so sits close)
    assert 0.4 < est_16_4 < 0.7
    assert est_32_4 < 0.2
    assert 0.65 < est_32_8 < 0.95
    # the high-threshold regime flips the ordering: wide bands keep
    # recall AND cut candidates
    assert lsh_recall_estimate(0.9, 32, 4) > 0.7
    assert lsh_recall_estimate(0.99, 32, 4) > 0.99


def test_near_dup_exact_threshold_filtering(emb):
    out = embedding_near_dup_pairs(emb.limit(60), threshold=0.4).collect()
    for r in out:
        assert r.cos_sim >= 0.4
        assert r.id_a < r.id_b


def test_indexed_ivf_matches_on_the_fly_and_prunes_partitions(spark, emb, tmp_path):
    """The persisted IVF index returns bit-identical results to the
    on-the-fly operator, and its scan prunes un-probed partition
    directories (I/O pruning, not just compute pruning)."""
    import contextlib
    import io

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf")
    build_ivf_index(emb, index, n_centroids=8)
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    indexed = ivf_topk_indexed(spark, index, queries, k=5, nprobe=2)
    onfly = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
    got = sorted(((r.query_id, r.rank, r.vec_id, r.score) for r in indexed.collect()))
    exp = sorted(((r.query_id, r.rank, r.vec_id, r.score) for r in onfly.collect()))
    assert got == exp

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the probed-bucket IN-filter reached the partition column
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]


@pytest.mark.oracle
def test_ivf_append_parity_with_full_rebuild(spark, emb, tmp_path):
    """build(A) + append(B) probes bit-identically to build(A∪B) with
    the same centroids — the incremental index never re-assigns the
    base, so per-row assignment must be a pure function of (vector,
    centroids)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk_indexed,
    )

    cents = _sampled_cents(emb, 8)
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    build_ivf_index(a, inc, cents=cents)
    ivf_index_append(spark, inc, b, batch_token="b")

    full = str(tmp_path / "full")
    build_ivf_index(emb, full, cents=cents)

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r.query_id, r.rank, r.vec_id, r.score)
        for r in ivf_topk_indexed(spark, inc, queries, k=5, nprobe=3).collect()
    )
    exp = sorted(
        (r.query_id, r.rank, r.vec_id, r.score)
        for r in ivf_topk_indexed(spark, full, queries, k=5, nprobe=3).collect()
    )
    assert got == exp


def test_ivf_append_is_idempotent_under_retry(spark, emb, tmp_path):
    """Re-appending the same batch token overwrites the batch
    subdirectory instead of duplicating its rows (micro-batch replay
    contract)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk_indexed,
    )

    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    index = str(tmp_path / "retry")
    build_ivf_index(a, index, n_centroids=8)
    ivf_index_append(spark, index, b, batch_token="t1")
    once = ivf_topk_indexed(
        spark,
        index,
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
        nprobe=3,
    ).collect()
    ivf_index_append(spark, index, b, batch_token="t1")  # replay
    twice = ivf_topk_indexed(
        spark,
        index,
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
        nprobe=3,
    ).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


def test_ivf_append_fails_on_centroid_drift(spark, emb, tmp_path):
    """Overwriting the persisted centroid table after build makes the
    config-manifest checksum mismatch — the append must fail loudly
    instead of assigning against a different centroid set."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )

    index = str(tmp_path / "drift")
    build_ivf_index(emb, index, n_centroids=8)
    # simulate out-of-band centroid replacement: a sample of the odd
    # half is a different table from the build's whole-corpus sample
    _sampled_cents(emb.filter(F.col("vec_id") % 2 == 1), 8).write.mode(
        "overwrite"
    ).parquet(f"{index}/centroids")
    with pytest.raises(ValueError, match="checksum"):
        ivf_index_append(spark, index, emb.limit(10))


def test_ivf_rebuild_refused_while_appends_exist(spark, emb, tmp_path):
    """A base rebuild would orphan appended assignments (the reader
    unions base + appends) — build must fail loudly once appends
    exist."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )

    index = str(tmp_path / "guard")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), index, n_centroids=8)
    ivf_index_append(spark, index, emb.filter(F.col("vec_id") % 2 == 1))
    with pytest.raises(ValueError, match="appended batches"):
        build_ivf_index(emb, index, n_centroids=8)


def test_centroid_assignment_is_shuffle_free(spark, emb):
    """Bucket assignment is a pure projection: the centroid table
    enters the plan as a literal and the argmax is an array fold, so
    the plan contains NO Exchange — at corpus scale the old
    crossJoin+window formulation's corpus×k shuffle was the whole
    cost."""
    import contextlib
    import io

    from py_data_pipeline_app_spark.operators.similarity import (
        _assign_to_centroids,
    )

    cents = _sampled_cents(emb, 8)
    wide = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    assigned = _assign_to_centroids(
        wide, cents, id_col="vec_id", vec_col="embedding"
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    # one Exchange: the explicit repartition above — the assignment's
    # fan_out is a no-op on an already-wide input and the fold itself
    # adds none (the bpe_encode_ids contract shape)
    assert plan.count("Exchange") == 1, plan


def test_semantic_dedup_drops_copies_keeps_sources(spark, emb):
    """Exact copies land in their source's cluster (identical vector →
    identical argmax) and are dropped by the lowest-id-survivor rule;
    sources and everything without a near-dup stay kept."""
    from py_data_pipeline_app_spark.operators.similarity import semantic_dedup

    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    out = {r.vec_id: r for r in semantic_dedup(
        corpus, threshold=0.99, n_centroids=8
    ).collect()}
    assert len(out) == emb.count() + 20
    for i in range(20):
        assert out[i + 10000].kept is False, i  # copy dropped
        assert out[i].kept is True, i  # source survives
        assert out[i + 10000].centroid_id == out[i].centroid_id, i
    # the natural corpus has no pairs at cosine >= 0.99 — all kept
    assert all(r.kept for vid, r in out.items() if vid < 10000)


def test_ivf_compact_preserves_probe_results(spark, emb, tmp_path):
    """Compacting appends into the base changes the layout, not the
    answers: probe results are bit-identical before and after, the
    appends directory is gone, and re-running converges as a no-op."""
    import os

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), index, n_centroids=8)
    ivf_index_append(spark, index, emb.filter(F.col("vec_id") % 2 == 1))
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = sorted(
        map(tuple, ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect())
    )
    assert ivf_index_compact(spark, index) == 1
    assert not os.path.exists(f"{index}/appends")
    after = sorted(
        map(tuple, ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect())
    )
    assert before == after
    assert ivf_index_compact(spark, index) == 0  # converged no-op
    # compaction restores the appendable single-table layout: a new
    # append works again and probing still matches a fresh full build
    extra = emb.limit(0)  # no-op append exercises the manifest check
    ivf_index_append(spark, index, extra, batch_token="noop")


def test_lsh_config_for_scales_with_corpus():
    """Band width must grow with the corpus (constant occupancy), band
    count must restore the recall target, and the predicted recall of
    the returned config must meet it."""
    from py_data_pipeline_app_spark.operators.similarity import lsh_config_for

    prev_bits = 0
    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        n_planes, bands = lsh_config_for(n, 0.9, target_recall=0.75)
        r = n_planes // bands
        assert r >= prev_bits  # occupancy-constant: wider bands as n grows
        prev_bits = r
        assert 2 ** r >= n / 32  # the occupancy bound itself
        assert lsh_recall_estimate(0.9, n_planes, bands) >= 0.75
    # recall rises with the pair's cosine (the S-curve property)
    n_planes, bands = lsh_config_for(10_000_000, 0.9)
    assert lsh_recall_estimate(0.99, n_planes, bands) > lsh_recall_estimate(
        0.9, n_planes, bands
    )


def test_lsh_config_for_rejects_hopeless_regime():
    import pytest as _pytest

    from py_data_pipeline_app_spark.operators.similarity import lsh_config_for

    # threshold 0.4 at a billion rows: sign-agreement ~0.63 per bit,
    # 25-bit bands hit with ~1e-5 — no sane band count reaches 0.75
    with _pytest.raises(ValueError):
        lsh_config_for(1_000_000_000, 0.4, target_recall=0.75)


def test_lsh_config_feeds_operator(spark, emb):
    """The returned config drops into hyperplane_lsh_near_dup_pairs
    unchanged and still finds planted duplicates."""
    import pyspark.sql.functions as F

    from py_data_pipeline_app_spark.operators.similarity import (
        hyperplane_lsh_near_dup_pairs,
        lsh_config_for,
    )

    n = emb.count()
    n_planes, bands = lsh_config_for(n, 0.9, target_recall=0.9)
    planted = emb.unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x.cast("double") + F.lit(0.001)
            ).alias("embedding"),
            "label",
        )
    )
    pairs = hyperplane_lsh_near_dup_pairs(
        planted, dim=64, threshold=0.9, n_planes=n_planes, bands=bands
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(v, v + 1_000_000) for v in range(0, n, 10)}
    hit = len(found & want) / len(want)
    assert hit >= 0.85, hit


def test_embedding_outliers_flags_planted_junk(spark, emb):
    """Planted near-zero and huge-norm 'encoder failure' rows must be
    flagged; the unit-norm-ish corpus overwhelmingly must not."""
    from py_data_pipeline_app_spark.operators.similarity import embedding_outliers

    junk = spark.createDataFrame(
        [(9_000_000, [0.0001] * 64, 0),          # near-zero fallback
         (9_000_001, [50.0] * 64, 0),            # overflow-ish
         (9_000_002, [float("nan")] * 64, 0),    # non-finite
         (9_000_003, [], 0)],                    # empty row
        "vec_id long, embedding array<float>, label int",
    )
    planted = emb.unionByName(junk)
    out = {r.vec_id: r for r in embedding_outliers(planted, z=3.0).collect()}
    for vid in (9_000_000, 9_000_001, 9_000_002, 9_000_003):
        assert out[vid].is_outlier, vid
    base_flagged = sum(1 for v, r in out.items() if v < 9_000_000 and r.is_outlier)
    assert base_flagged / emb.count() < 0.05


def test_retrieve_docs_hydrates_hits(spark, emb):
    from py_data_pipeline_app_spark.operators.similarity import (
        brute_force_topk,
        retrieve_docs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = retrieve_docs(emb, queries, docs, k=2).collect()
    hits = brute_force_topk(emb, queries, k=2).collect()
    doc_rows = {r.doc_id: r for r in docs.collect()}
    want_ids = {(r.query_id, r.vec_id) for r in hits if r.vec_id in doc_rows}
    assert {(r.query_id, r.doc_id) for r in out} == want_ids
    for r in out:
        d = doc_rows[r.doc_id]
        assert (r.lang, r.source, r.n_chars) == (d.lang, d.source, d.n_chars)


def test_files_per_bucket_bounds_index_layout_and_keeps_parity(spark, emb, tmp_path):
    """files_per_bucket repartitions before the partitionBy write so
    each bucket directory holds at most that many files (the
    small-files control), and probed results are unchanged."""
    import glob
    import os

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    wide = str(tmp_path / "wide")
    tight = str(tmp_path / "tight")
    # many input tasks -> a bare partitionBy write fans out per task
    spread = emb.repartition(8)
    build_ivf_index(spread, wide, n_centroids=4)
    build_ivf_index(spread, tight, n_centroids=4, files_per_bucket=1)

    def files_per_dir(base):
        counts = {}
        for d in glob.glob(os.path.join(base, "assigned", "centroid_id=*")):
            counts[os.path.basename(d)] = len(glob.glob(os.path.join(d, "*.parquet")))
        return counts

    tight_counts = files_per_dir(tight)
    assert tight_counts and all(c <= 1 for c in tight_counts.values()), tight_counts
    # the un-salted layout genuinely fans out on this input, so the
    # bound is doing real work
    assert max(files_per_dir(wide).values()) > 1

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ivf_topk_indexed(spark, wide, queries, k=5, nprobe=2)
    b = ivf_topk_indexed(spark, tight, queries, k=5, nprobe=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.oracle
def test_ivf_compact_crash_recovery(spark, emb, tmp_path):
    """Every interruption point of the staged-swap compaction must be
    recovered by the next call: an interrupted swap (no base on disk),
    an interrupted cleanup (manifest inside the base with the merged
    append still beside it — duplicates without recovery), and a stale
    staged copy beside a live base."""
    import json
    import os

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), index, n_centroids=8)
    ivf_index_append(
        spark, index, emb.filter(F.col("vec_id") % 4 == 1), batch_token="a"
    )
    ivf_index_append(
        spark, index, emb.filter(F.col("vec_id") % 4 == 3), batch_token="b"
    )
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def probe():
        return sorted(
            map(
                tuple,
                ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect(),
            )
        )

    want = probe()

    # -- interrupted swap: staged copy complete + manifest, base renamed
    # away, appends still on disk; a reader (and the old code's retry)
    # would find no assigned/ at all
    merged = (
        spark.read.parquet(f"{index}/assigned")
        .unionByName(spark.read.parquet(f"{index}/appends/batch-a"))
        .unionByName(spark.read.parquet(f"{index}/appends/batch-b"))
    )
    merged.write.partitionBy("centroid_id").parquet(f"{index}/assigned-compact")
    with open(f"{index}/assigned-compact/_MANIFEST", "w") as f:
        json.dump(["batch-a", "batch-b"], f)
    os.rename(f"{index}/assigned", f"{index}/assigned-old")
    assert ivf_index_compact(spark, index) == 0  # recovery, nothing new
    assert probe() == want
    assert os.path.isdir(f"{index}/assigned")
    assert not os.path.exists(f"{index}/assigned-old")
    assert not os.path.exists(f"{index}/appends/batch-a")
    assert not os.path.exists(f"{index}/assigned/_MANIFEST")

    # -- interrupted cleanup: swap done (manifest travelled into the
    # base) but the merged append was never deleted — its rows exist
    # twice until recovery removes exactly the manifested directory
    dup = spark.read.parquet(f"{index}/assigned").filter(F.col("vec_id") % 7 == 0)
    dup.write.partitionBy("centroid_id").parquet(f"{index}/appends/batch-z")
    assert probe() != want or dup.count() == 0  # duplicates visible
    with open(f"{index}/assigned/_MANIFEST", "w") as f:
        json.dump(["batch-z"], f)
    assert ivf_index_compact(spark, index) == 0
    assert probe() == want
    assert not os.path.exists(f"{index}/appends/batch-z")
    assert not os.path.exists(f"{index}/assigned/_MANIFEST")

    # -- stale staged copy beside a live base: discarded, not swapped
    os.makedirs(f"{index}/assigned-compact")
    with open(f"{index}/assigned-compact/part-junk", "w") as f:
        f.write("x")
    assert ivf_index_compact(spark, index) == 0
    assert not os.path.exists(f"{index}/assigned-compact")
    assert probe() == want


def test_ivf_compact_keep_newest_by_write_time(spark, emb, tmp_path):
    """keep_newest must protect the most recently WRITTEN append (the
    replayable one), not the lexically last token — tokens are
    caller-chosen strings."""
    import os

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
    )

    index = str(tmp_path / "ivf2")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), index, n_centroids=8)
    ivf_index_append(
        spark, index, emb.filter(F.col("vec_id") % 4 == 1), batch_token="zzz"
    )
    # written later -> replayable newest, though lexically FIRST
    ivf_index_append(
        spark, index, emb.filter(F.col("vec_id") % 4 == 3), batch_token="aaa"
    )
    assert ivf_index_compact(spark, index, keep_newest=True) == 1
    assert os.path.isdir(f"{index}/appends/batch-aaa")
    assert not os.path.exists(f"{index}/appends/batch-zzz")


def test_empty_append_does_not_poison_probes(spark, emb, tmp_path):
    """A zero-row append (an empty replayed micro-batch through the
    streaming front door) must leave the index probeable: partitionBy
    writes only _SUCCESS for an empty frame, and a file-less batch
    directory would fail schema inference on every later probe."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf_empty")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), index, n_centroids=8)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect()

    ivf_index_append(spark, index, emb.limit(0), batch_token="empty")
    after = ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    # legacy writers left file-less batch dirs behind: probes and
    # compaction must read them as empty, not fail inference
    import os

    legacy = f"{index}/appends/batch-legacy"
    os.makedirs(legacy)
    open(f"{legacy}/_SUCCESS", "w").close()
    legacy_probe = ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, legacy_probe))

    from py_data_pipeline_app_spark.operators.similarity import ivf_index_compact

    ivf_index_compact(spark, index, keep_newest=False)
    compacted = ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, compacted))


def test_indexed_probe_refuses_drifted_centroids(spark, emb, tmp_path):
    """ivf_topk_indexed makes the same centroid-checksum drift check as
    the mutators: probing against an out-of-band-replaced centroid
    table would silently visit the wrong buckets."""
    import pytest

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf_drift")
    build_ivf_index(emb, index, n_centroids=8)
    _sampled_cents(emb.filter(F.col("vec_id") % 2 == 1), 8).write.mode(
        "overwrite"
    ).parquet(f"{index}/centroids")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="checksum"):
        ivf_topk_indexed(spark, index, queries, k=5, nprobe=2)


@pytest.mark.oracle
def test_ivf_index_delete_tombstones_and_compaction(spark, emb, tmp_path):
    """Tombstone deletes: probing an index built over A∪B with B
    tombstoned is bit-identical to probing an index built over A with
    the SAME centroids (the parity every mutator keeps); a full
    compaction applies the tombstones physically and consumes them; a
    rebuild over a tombstoned index fails loudly."""
    import os

    import pytest as _pytest

    from py_data_pipeline_app_spark.operators.similarity import (
        _md5_sample_centroids,
        build_ivf_index,
        ivf_index_compact,
        ivf_index_delete,
        ivf_topk_indexed,
    )

    a = emb.filter(F.col("vec_id") % 3 != 0)
    b = emb.filter(F.col("vec_id") % 3 == 0)
    both = a.unionByName(b)
    cents = _md5_sample_centroids(
        both, n_centroids=8, id_col="vec_id", vec_col="embedding"
    )
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    full = str(tmp_path / "full")
    ref = str(tmp_path / "ref")
    build_ivf_index(both, full, cents=cents)
    build_ivf_index(a, ref, cents=cents)
    want = sorted(
        map(tuple, ivf_topk_indexed(spark, ref, queries, k=5, nprobe=3).collect())
    )

    token = ivf_index_delete(spark, full, b.select("vec_id"))
    assert token is not None
    # immediate effect, no rewrite yet
    got = sorted(
        map(tuple, ivf_topk_indexed(spark, full, queries, k=5, nprobe=3).collect())
    )
    assert got == want
    # a rebuild over pending tombstones would mis-filter the new corpus
    with _pytest.raises(ValueError, match="pending tombstones"):
        build_ivf_index(both, full, cents=cents)
    # full compaction applies + consumes the tombstones
    assert ivf_index_compact(spark, full) == 1
    assert not os.path.exists(f"{full}/deletes")
    base_ids = {
        r.vec_id for r in spark.read.parquet(f"{full}/assigned").collect()
    }
    assert base_ids == {r.vec_id for r in a.select("vec_id").collect()}
    got2 = sorted(
        map(tuple, ivf_topk_indexed(spark, full, queries, k=5, nprobe=3).collect())
    )
    assert got2 == want
    assert ivf_index_compact(spark, full) == 0  # converged no-op


@pytest.mark.oracle
def test_ivf_delete_keep_newest_compaction_keeps_tombstones(spark, emb, tmp_path):
    """A keep-newest (streaming) compaction applies tombstones to the
    merged base but must NOT consume them: the kept-back newest append
    may still hold a tombstoned row, and consuming the tombstone would
    resurrect it at probe time. An empty delete set is a no-op."""
    import os

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
        ivf_index_delete,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") >= 20), index, n_centroids=8)
    ivf_index_append(
        spark, index, emb.filter(F.col("vec_id") < 10), batch_token="b0"
    )
    ivf_index_append(
        spark,
        index,
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)),
        batch_token="b1",
    )
    # tombstone one id from each append batch
    assert ivf_index_delete(
        spark, index, emb.filter(F.col("vec_id").isin(5, 15)).select("vec_id")
    ) is not None
    # empty delete: no directory, None token
    assert ivf_index_delete(spark, index, emb.limit(0).select("vec_id")) is None
    queries = emb.filter(F.col("vec_id").isin(5, 15)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    def probe_ids():
        out = ivf_topk_indexed(spark, index, queries, k=3, nprobe=8)
        return {r.vec_id for r in out.collect()}

    assert probe_ids().isdisjoint({5, 15})
    # keep-newest pass merges b0 (older), keeps b1, RETAINS tombstones
    assert ivf_index_compact(spark, index, keep_newest=True) == 1
    assert os.path.exists(f"{index}/deletes")
    assert probe_ids().isdisjoint({5, 15})  # 15 (in kept b1) still dead
    # full pass consumes everything
    assert ivf_index_compact(spark, index) == 2  # b1 + the tombstone batch
    assert not os.path.exists(f"{index}/deletes")
    assert probe_ids().isdisjoint({5, 15})


def test_ivf_compact_recovery_consumes_manifested_deletes(spark, emb, tmp_path):
    """The recovery paths honor the dict-format manifest's deletes
    list: a crash between swap and cleanup (manifest inside the base,
    tombstone directory still on disk, its effect already applied to
    the base) must delete exactly the manifested tombstone batch —
    leaving it would re-filter ids that were already scrubbed, and a
    RE-delete of the same ids would then silently no-op forever."""
    import json
    import os

    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_compact,
        ivf_index_delete,
        ivf_topk_indexed,
    )

    index = str(tmp_path / "ivf")
    build_ivf_index(emb, index, n_centroids=8)
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # apply a real delete + full compaction to get the post-apply base
    ivf_index_delete(
        spark, index, emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    )
    assert ivf_index_compact(spark, index) == 1
    want = sorted(
        map(tuple, ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect())
    )

    # simulate the crash: the tombstone dir reappears on disk with the
    # manifest (inside the base) recording it as consumed
    os.makedirs(f"{index}/deletes/batch-ghost")
    emb.filter(F.col("vec_id") % 5 == 0).select("vec_id").write.mode(
        "overwrite"
    ).parquet(f"{index}/deletes/batch-ghost")
    with open(f"{index}/assigned/_MANIFEST", "w") as f:
        json.dump({"appends": [], "deletes": ["batch-ghost"]}, f)

    assert ivf_index_compact(spark, index) == 0  # pure recovery
    assert not os.path.exists(f"{index}/deletes/batch-ghost")
    assert not os.path.exists(f"{index}/assigned/_MANIFEST")
    assert sorted(
        map(tuple, ivf_topk_indexed(spark, index, queries, k=5, nprobe=3).collect())
    ) == want


# ---------------------------------------------------------------------------
# Embedding-space benchmark decontamination
# ---------------------------------------------------------------------------


def _unit(dim, axis):
    v = [0.0] * dim
    v[axis] = 1.0
    return v


@pytest.fixture(scope="module")
def decon_frames(spark):
    """4-dim toy space: benchmark on axes 0 and 1; corpus holds an
    exact clone of benchmark 0, a near-clone of benchmark 1, and an
    orthogonal axis-2 vector."""
    bench = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [(3, _unit(4, 0)), (7, _unit(4, 1))],
    )
    corpus = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [
            (100, _unit(4, 0)),                      # clone of bid 3
            (101, [0.05, 1.0, 0.05, 0.0]),           # near bid 7
            (102, _unit(4, 2)),                      # orthogonal
        ],
    )
    return corpus, bench


def test_decontamination_flags_clones_keeps_orthogonal(decon_frames):
    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    corpus, bench = decon_frames
    got = {
        r.vec_id: r
        for r in embedding_decontamination(
            corpus, bench, threshold=0.9
        ).collect()
    }
    assert not got[100].kept and got[100].nearest_benchmark_id == 3
    assert got[100].benchmark_cos == 1.0
    assert not got[101].kept and got[101].nearest_benchmark_id == 7
    assert got[102].kept and got[102].benchmark_cos == 0.0


def test_decontamination_ties_break_to_lowest_benchmark_id(spark):
    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    # two IDENTICAL benchmark vectors: the argmax must name the lower
    # id regardless of collection order (the oracle's ORDER BY bid)
    bench = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [(9, _unit(4, 0)), (2, _unit(4, 0))],
    )
    corpus = local_rows_df(
        spark, "vec_id long, embedding array<double>", [(50, _unit(4, 0))]
    )
    row = embedding_decontamination(corpus, bench, threshold=0.9).collect()[0]
    assert row.nearest_benchmark_id == 2 and not row.kept


def test_decontamination_empty_benchmark_keeps_everything(decon_frames):
    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    corpus, bench = decon_frames
    out = embedding_decontamination(
        corpus, bench.filter(F.col("vec_id") < 0), threshold=0.9
    )
    rows = out.collect()
    assert len(rows) == 3 and all(r.kept for r in rows)
    assert out.columns == [
        "vec_id",
        "nearest_benchmark_id",
        "benchmark_cos",
        "kept",
    ]


def test_decontamination_benchmark_size_guard(decon_frames, monkeypatch):
    from py_data_pipeline_app_spark.operators import similarity as sim

    corpus, bench = decon_frames
    monkeypatch.setattr(sim, "MAX_DECONTAMINATION_BENCHMARK", 1)
    with pytest.raises(ValueError, match="hyperplane_lsh"):
        sim.embedding_decontamination(corpus, bench, threshold=0.9)


def test_decontamination_is_zero_shuffle(decon_frames):
    import contextlib
    import io

    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    corpus, bench = decon_frames
    out = embedding_decontamination(corpus, bench, threshold=0.9)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan


def test_cluster_profile_is_total_and_consistent(spark, emb):
    """Profiling partitions the corpus completely (member counts sum
    to the corpus size) and agrees with a direct assignment's cluster
    sizes."""
    from py_data_pipeline_app_spark.operators.similarity import (
        _assign_to_centroids,
        _centroid_rows,
        _md5_sample_centroids,
        cluster_profile,
    )

    cents = _centroid_rows(
        _md5_sample_centroids(
            emb, n_centroids=64, id_col="vec_id", vec_col="embedding"
        )
    )
    prof = cluster_profile(emb, cents=spark.createDataFrame(
        [(int(r.centroid_id), [float(x) for x in r.cvec]) for r in cents],
        "centroid_id int, cvec array<double>",
    )).collect()
    n = emb.count()
    assert sum(r.n_members for r in prof) == n
    sizes = {
        r.centroid_id: r.n_members
        for r in _assign_to_centroids(
            emb, cents, id_col="vec_id", vec_col="embedding"
        )
        .groupBy("centroid_id")
        .count()
        .withColumnRenamed("count", "n_members")
        .collect()
    }
    assert {r.centroid_id: r.n_members for r in prof} == sizes


def test_decontamination_exact_tie_resolves_to_lowest_native_id(spark):
    """An exact-9dp cosine tie between two benchmark vectors (identical
    vectors, numeric ids 2 and 10) resolves nearest_benchmark_id to the
    lowest id in the benchmark's NATIVE order (2) — not string order,
    where "10" < "2"."""
    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    v = [0.3, -0.7, 0.2, 0.9, -0.1, 0.5, -0.4, 0.6]
    bench = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [(10, list(v)), (2, list(v))],
    )
    corpus = local_rows_df(
        spark, "vec_id long, embedding array<double>", [(100, list(v))]
    )
    exact = embedding_decontamination(corpus, bench, threshold=0.99).first()
    assert exact.nearest_benchmark_id == 2
    assert not exact.kept
    assert exact.benchmark_cos == 1.0


def test_decontamination_preserves_string_benchmark_ids(spark):
    """The matrix-literal sweep preserves a STRING benchmark id type —
    the streaming decon gate's contract (the verdict fallback derives
    its schema from the batch for exactly this reason)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    va = [0.3, -0.7, 0.2, 0.9, -0.1, 0.5, -0.4, 0.6]
    vb = [-0.6, 0.1, 0.8, -0.3, 0.4, -0.9, 0.2, 0.7]
    bench = local_rows_df(
        spark,
        "vec_id string, embedding array<double>",
        [("eval-b", list(vb)), ("eval-a", list(va))],
    )
    corpus = local_rows_df(
        spark,
        "vec_id string, embedding array<double>",
        [("doc-1", [x + 1e-6 for x in va]), ("doc-2", [-x for x in vb])],
    )
    out = embedding_decontamination(corpus, bench, threshold=0.99)
    assert dict(out.dtypes)["nearest_benchmark_id"] == "string"
    got = {r.vec_id: r for r in out.collect()}
    assert got["doc-1"].nearest_benchmark_id == "eval-a"
    assert not got["doc-1"].kept
    assert got["doc-2"].kept

    # empty benchmark: schema keeps the caller's id type too
    empty = embedding_decontamination(
        corpus, bench.limit(0), threshold=0.99
    )
    assert dict(empty.dtypes)["nearest_benchmark_id"] == "string"
    assert all(r.kept for r in empty.collect())


def test_auto_banding_is_production_default(spark):
    """Round-13: n_planes/bands default to "auto" — the operator sizes
    its banding for the corpus via lsh_config_for (the ×100-measured
    scale path), so a user calling the production API at 10M rows no
    longer inherits the eval config the repo's own artifact labels
    "NOT the 100x path". End-to-end: the auto path at two corpus-size
    regimes picks growing band widths (visible in the plan's slice
    expressions), still finds planted dups at both, and a
    half-specified config refuses."""
    import contextlib
    import io
    import random

    from py_data_pipeline_app_spark.operators.similarity import (
        hyperplane_lsh_near_dup_pairs,
        lsh_config_for,
    )

    rng = random.Random(13)
    rows = []
    for i in range(20):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + 1e-6 for x in v]))
    df = local_rows_df(spark, "vec_id long, embedding array<double>", rows)
    planted = {(2 * i, 2 * i + 1) for i in range(20)}

    def plan_of(q):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain(mode="extended")
        return buf.getvalue()

    # auto with no n_rows: one count job sizes the banding
    small = hyperplane_lsh_near_dup_pairs(df, dim=16, threshold=0.999)
    assert planted <= {(r.id_a, r.id_b) for r in small.collect()}

    # auto with a caller-supplied corpus-scale n_rows: wider bands in
    # the SAME operator call path (cosine ≈ 1 ⇒ identical sign
    # patterns ⇒ still collide in every band regardless of width)
    big = hyperplane_lsh_near_dup_pairs(
        df, dim=16, threshold=0.999, n_rows=50_000_000
    )
    assert planted <= {(r.id_a, r.id_b) for r in big.collect()}

    r_small = (
        lambda c: c[0] // c[1]
    )(lsh_config_for(len(rows), 0.999, target_recall=0.75))
    r_big = (
        lambda c: c[0] // c[1]
    )(lsh_config_for(50_000_000, 0.999, target_recall=0.75))
    assert r_big > r_small  # growing bit-width across the decades
    # the resolved widths are really in the plans (slice(_, 1, r))
    assert f", 1, {r_small})" in plan_of(small)
    assert f", 1, {r_big})" in plan_of(big)

    with pytest.raises(ValueError, match="BOTH 'auto'"):
        hyperplane_lsh_near_dup_pairs(df, dim=16, threshold=0.999, n_planes=32)

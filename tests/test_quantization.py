"""Product quantization: encode determinism against a Python model,
compression/shape contracts, and ADC ranking recall vs the exact
baseline."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from py_data_pipeline_app_spark.operators.quantization import (
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from py_data_pipeline_app_spark.operators.similarity import brute_force_topk

SF_DIR = "/root/testdata/sf0.001"
M, KSUB, DIM = 8, 16, 64


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def cb(emb):
    df = pq_codebooks(emb, m=M, ksub=KSUB, dim=DIM)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_codebook_shape(cb):
    rows = cb.collect()
    assert len(rows) == M * KSUB
    assert {(r.sub_id, r.code_id) for r in rows} == {
        (s, j) for s in range(M) for j in range(KSUB)
    }
    assert all(len(r.codeword) == DIM // M for r in rows)


def test_codebook_slices_same_sample(cb):
    # All m codebooks slice the SAME ksub sample vectors: code j's
    # codewords concatenated across subspaces rebuild sample vector j.
    by_code: dict[int, dict[int, list[float]]] = {}
    for r in cb.collect():
        by_code.setdefault(r.code_id, {})[r.sub_id] = list(r.codeword)
    for code_id, subs in by_code.items():
        assert sorted(subs) == list(range(M))


def test_encode_matches_python_model(emb, cb):
    """Per-subspace argmin with lowest-code tie-break, recomputed in
    plain Python over a sample of rows."""
    table: dict[tuple[int, int], list[float]] = {
        (r.sub_id, r.code_id): [float(x) for x in r.codeword] for r in cb.collect()
    }
    enc = {
        r.vec_id: (list(r.codes), r.approx_norm)
        for r in pq_encode(emb, cb).filter(F.col("vec_id") < 50).collect()
    }
    sample = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 50).collect()
    }
    dsub = DIM // M
    for vid, vec in sample.items():
        want_codes = []
        for s in range(M):
            sub = vec[s * dsub : (s + 1) * dsub]
            dists = [
                (sum((p - q) * (p - q) for p, q in zip(sub, table[(s, j)])), j)
                for j in range(KSUB)
            ]
            want_codes.append(min(dists)[1])
        got_codes, got_norm = enc[vid]
        assert got_codes == want_codes, vid
        approx = [x for s in range(M) for x in table[(s, want_codes[s])]]
        assert abs(got_norm - math.sqrt(sum(x * x for x in approx))) < 1e-9


def test_encoded_is_compressed(emb, cb):
    enc = pq_encode(emb, cb)
    assert enc.columns == ["vec_id", "codes", "approx_norm"]
    row = enc.first()
    assert len(row.codes) == M
    assert all(0 <= c < KSUB for c in row.codes)


def test_pq_topk_recall_floor(emb, cb, queries):
    """Random unit vectors are PQ's hardest case (no cluster
    structure); the sampled codebook must still beat chance by a wide
    margin and keep each query's own corpus row in its top-10."""
    pq = pq_topk(emb, queries, m=M, ksub=KSUB, dim=DIM, k=10, codebooks=cb)
    bf = brute_force_topk(emb, queries, k=10)
    p = {(r.query_id, r.vec_id) for r in pq.collect()}
    b = {(r.query_id, r.vec_id) for r in bf.collect()}
    n = emb.count()
    recall = len(p & b) / len(b)
    # chance level is ~10/n; measured ~0.3 on this data
    assert recall >= 0.15, recall
    assert recall > 50 / n
    # self-retrieval: the query vector is a corpus member
    for qid in range(10):
        assert (qid, qid) in p, f"query {qid} lost its own row"


def test_pq_topk_precomputed_encoding_identical(emb, cb, queries):
    on_the_fly = pq_topk(
        emb, queries, m=M, ksub=KSUB, dim=DIM, k=5, codebooks=cb
    )
    enc = pq_encode(emb, cb)
    reused = pq_topk(
        emb, queries, m=M, ksub=KSUB, dim=DIM, k=5, codebooks=cb, encoded=enc
    )
    assert sorted(map(tuple, on_the_fly.collect())) == sorted(
        map(tuple, reused.collect())
    )


def test_dim_must_divide(emb):
    with pytest.raises(ValueError):
        pq_codebooks(emb, m=7, ksub=8, dim=64)


@pytest.fixture(scope="module")
def ivfpq_index(emb, tmp_path_factory):
    from py_data_pipeline_app_spark.operators.quantization import build_ivfpq_index

    path = str(tmp_path_factory.mktemp("ivfpq"))
    build_ivfpq_index(emb, path, n_centroids=16, m=M, ksub=KSUB, dim=DIM)
    return path


def test_ivfpq_full_probe_matches_python_model(spark, emb, queries, ivfpq_index):
    """The ENTIRE residual (IVFADC) pipeline recomputed in plain
    Python — cosine-argmax coarse assignment, residual, md5-sampled
    residual codebooks, per-subspace argmin encode, reconstruction
    norm ‖q1(x)+q2(r)‖, and the decomposed score
    (q·q1(x) + Σ qtab) / (‖q‖·approx_norm) — must reproduce the
    full-probe index scores to 9dp (the in-container twin of the
    DuckDB oracle)."""
    import hashlib

    from py_data_pipeline_app_spark.operators.quantization import ivfpq_topk

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    X = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    hk = sorted(
        (int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16), v) for v in X
    )

    def dot(a, b):
        s = 0.0
        for p, q in zip(a, b):
            s += p * q
        return s

    def norm(a):
        return math.sqrt(dot(a, a))

    cents = [X[v] for _, v in hk[:16]]
    assign = {
        v: max(
            range(16), key=lambda c: (dot(x, cents[c]) / (norm(x) * norm(cents[c])), -c)
        )
        for v, x in X.items()
    }
    resid = {v: [p - q for p, q in zip(x, cents[assign[v]])] for v, x in X.items()}
    cb = [resid[v] for _, v in hk[:KSUB]]
    dsub = DIM // M

    def encode(r):
        codes = []
        for s in range(M):
            sl = r[s * dsub : (s + 1) * dsub]
            codes.append(
                min(
                    range(KSUB),
                    key=lambda j: (
                        sum(
                            (p - q) * (p - q)
                            for p, q in zip(sl, cb[j][s * dsub : (s + 1) * dsub])
                        ),
                        j,
                    ),
                )
            )
        return codes

    want = {}
    for r in queries.collect():
        q, qn = list(map(float, r.embedding)), norm(list(map(float, r.embedding)))
        scores = []
        for v, x in X.items():
            codes = encode(resid[v])
            recon = [
                c + w
                for c, w in zip(
                    cents[assign[v]],
                    [w for s in range(M) for w in cb[codes[s]][s * dsub : (s + 1) * dsub]],
                )
            ]
            num = dot(q, cents[assign[v]]) + sum(
                dot(q[s * dsub : (s + 1) * dsub], cb[codes[s]][s * dsub : (s + 1) * dsub])
                for s in range(M)
            )
            scores.append((round(num / (qn * norm(recon)), 9), v))
        top = sorted(scores, key=lambda t: (-t[0], t[1]))[:5]
        want[r.query_id] = [(v, s) for s, v in top]

    got = ivfpq_topk(spark, ivfpq_index, queries, k=5, nprobe=16).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.score))
    for qid, pairs in by_q.items():
        for (gv, gs), (wv, ws) in zip(pairs, want[qid]):
            assert gv == wv and abs(gs - ws) < 1e-8, (qid, pairs, want[qid])


def test_ivfpq_prunes_partitions(spark, queries, ivfpq_index):
    """The probed-centroid IN filter must reach the parquet scan as a
    PartitionFilter — un-probed buckets are never read."""
    from py_data_pipeline_app_spark.operators.quantization import ivfpq_topk

    one_query = queries.limit(1)
    plan = ivfpq_topk(
        spark, ivfpq_index, one_query, k=5, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [centroid_id" in plan
    assert "INSET" in plan or " IN (" in plan


def test_ivfpq_index_stores_codes_not_vectors(spark, ivfpq_index):
    df = spark.read.parquet(f"{ivfpq_index}/assigned")
    assert set(df.columns) == {"vec_id", "codes", "approx_norm", "centroid_id"}
    assert "embedding" not in df.columns  # the compression IS the point


def test_ivfpq_checksum_drift_fails_loudly(spark, emb, queries, tmp_path):
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_topk,
    )

    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path, n_centroids=8, m=M, ksub=8, dim=DIM)
    # corrupt the centroid table (rewrite from a different sample)
    spark.read.parquet(f"{path}/centroids").limit(7).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    with pytest.raises(ValueError, match="checksum"):
        ivfpq_topk(spark, path, queries, k=5, nprobe=2)


def test_ivfpq_recall_not_worse_than_halved_probe(spark, emb, cb, queries, ivfpq_index):
    """More probes can only add candidates: top-k at nprobe=8 must
    contain at least as many true (brute-force) hits as nprobe=2."""
    from py_data_pipeline_app_spark.operators.quantization import ivfpq_topk

    bf = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, queries, k=10).collect()}

    def hits(nprobe):
        got = {
            (r.query_id, r.vec_id)
            for r in ivfpq_topk(spark, ivfpq_index, queries, k=10, nprobe=nprobe).collect()
        }
        return len(got & bf)

    assert hits(8) >= hits(2)


@pytest.mark.oracle
def test_ivfpq_append_parity_with_full_rebuild(spark, emb, queries, tmp_path):
    """build(evens) + append(odds) must probe bit-identically to one
    build over everything with the same centroids + codebooks."""
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_topk,
    )

    incr = str(tmp_path / "incr")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    build_ivfpq_index(even, incr, n_centroids=16, m=M, ksub=KSUB, dim=DIM)
    ivfpq_index_append(spark, incr, odd, batch_token="odds")
    got = sorted(
        map(tuple, ivfpq_topk(spark, incr, queries, k=5, nprobe=4).collect())
    )

    full = str(tmp_path / "full")
    cents = spark.read.parquet(f"{incr}/centroids")
    cbs = spark.read.parquet(f"{incr}/codebooks")
    build_ivfpq_index(emb, full, cents=cents, codebooks=cbs)
    want = sorted(
        map(tuple, ivfpq_topk(spark, full, queries, k=5, nprobe=4).collect())
    )
    assert got == want


def test_ivfpq_rebuild_with_appends_fails(spark, emb, tmp_path):
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
    )

    path = str(tmp_path / "idx")
    build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=8, m=M, ksub=8, dim=DIM
    )
    ivfpq_index_append(
        spark, path, emb.filter(F.col("vec_id") % 2 == 1), batch_token="b"
    )
    with pytest.raises(ValueError, match="appended batches"):
        build_ivfpq_index(emb, path, n_centroids=8, m=M, ksub=8, dim=DIM)


def test_pq_encode_plan_is_zero_shuffle(emb, cb):
    """Encoding must be a pure projection over the scan — no Exchange:
    at corpus scale the encode pass IS the scan, and a shuffle would
    be pure waste (nothing is keyed). An input already at cluster
    parallelism passes through the encoder's fan_out untouched; only
    the local one-task testdata pays its round-robin repartition."""
    wide = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    plan = (
        pq_encode(wide, cb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one Exchange: the explicit repartition above — fan_out adds none
    assert plan.count("Exchange") == 1, plan


def test_index_mutators_respect_lock(spark, emb, tmp_path):
    """A held index lock must make appends and compactions fail loudly
    (the LSH index's serialization contract, now shared by IVF/IVF-PQ)."""
    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        _acquire_index_lock,
    )
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
    )
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
    )

    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)

    ivf = str(tmp_path / "ivf")
    build_ivf_index(half, ivf, n_centroids=8)
    with _acquire_index_lock(spark, ivf, "test"):
        with pytest.raises(RuntimeError, match="locked"):
            ivf_index_append(spark, ivf, rest, batch_token="x")
        with pytest.raises(RuntimeError, match="locked"):
            ivf_index_compact(spark, ivf)

    pq = str(tmp_path / "pq")
    build_ivfpq_index(half, pq, n_centroids=8, m=M, ksub=8, dim=DIM)
    with _acquire_index_lock(spark, pq, "test"):
        with pytest.raises(RuntimeError, match="locked"):
            ivfpq_index_append(spark, pq, rest, batch_token="x")


@pytest.mark.oracle
def test_ivfpq_compact_preserves_probes(spark, emb, queries, tmp_path):
    """Compaction merges code appends into the base with identical
    probe results and removes the append directories."""
    import os

    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_compact,
        ivfpq_topk,
    )

    path = str(tmp_path / "idx")
    build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=16, m=M, ksub=KSUB, dim=DIM
    )
    ivfpq_index_append(
        spark, path, emb.filter(F.col("vec_id") % 2 == 1), batch_token="b"
    )
    before = sorted(
        map(tuple, ivfpq_topk(spark, path, queries, k=5, nprobe=4).collect())
    )
    assert ivfpq_index_compact(spark, path) == 1
    after = sorted(
        map(tuple, ivfpq_topk(spark, path, queries, k=5, nprobe=4).collect())
    )
    assert before == after
    assert not os.path.isdir(os.path.join(path, "appends"))


@pytest.mark.oracle
def test_ivfpq_empty_append_does_not_poison_probes(spark, emb, queries, tmp_path):
    """Zero-row appends (empty replayed micro-batches) must leave the
    IVF-PQ index probeable — same contract as the raw IVF layout."""
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_topk,
    )

    path = str(tmp_path / "idx_empty")
    build_ivfpq_index(emb, path, n_centroids=8, m=M, ksub=8, dim=DIM)
    before = ivfpq_topk(spark, path, queries, k=5, nprobe=3).collect()
    ivfpq_index_append(spark, path, emb.limit(0), batch_token="empty")
    after = ivfpq_topk(spark, path, queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


@pytest.mark.oracle
def test_ivfpq_delete_parity_and_compaction(spark, emb, queries, tmp_path):
    """Tombstones on the compressed layout: probing A∪B with B deleted
    equals probing an index built over A with the same centroids and
    codebooks (delete shares the IVF implementation — the layouts
    differ only in what a row holds); full compaction applies and
    consumes them."""
    import os

    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_compact,
        ivfpq_index_delete,
        ivfpq_topk,
        pq_codebooks,
    )
    from py_data_pipeline_app_spark.operators.similarity import (
        _md5_sample_centroids,
    )

    a = emb.filter(F.col("vec_id") % 3 != 0)
    b = emb.filter(F.col("vec_id") % 3 == 0)
    both = a.unionByName(b)
    cents = _md5_sample_centroids(
        both, n_centroids=16, id_col="vec_id", vec_col="embedding"
    )
    cb = pq_codebooks(both, m=M, ksub=KSUB, dim=DIM)

    full = str(tmp_path / "full")
    ref = str(tmp_path / "ref")
    build_ivfpq_index(both, full, cents=cents, codebooks=cb, m=M, ksub=KSUB, dim=DIM)
    build_ivfpq_index(a, ref, cents=cents, codebooks=cb, m=M, ksub=KSUB, dim=DIM)
    want = sorted(
        map(tuple, ivfpq_topk(spark, ref, queries, k=5, nprobe=4).collect())
    )
    assert ivfpq_index_delete(spark, full, b.select("vec_id")) is not None
    got = sorted(
        map(tuple, ivfpq_topk(spark, full, queries, k=5, nprobe=4).collect())
    )
    assert got == want  # immediate, before any rewrite
    assert ivfpq_index_compact(spark, full) == 1  # consumes the tombstones
    assert not os.path.isdir(os.path.join(full, "deletes"))
    got2 = sorted(
        map(tuple, ivfpq_topk(spark, full, queries, k=5, nprobe=4).collect())
    )
    assert got2 == want


@pytest.mark.oracle
def test_rerank_improves_recall_over_raw_adc(spark, emb, queries, ivfpq_index):
    """The re-ranking stage's whole point: at equal k, exact-cosine
    re-scoring of the ADC shortlist must recover true (brute-force)
    neighbors that ADC's lossy ordering misplaced. With full probing
    the shortlist superset always contains the truth ADC had, so
    recall can only go up; we assert it strictly improves on the
    md5-sampled residual-code index — measured here: ADC 0.14 →
    re-ranked 0.29 at k_factor=4 on random unit vectors, PQ's hardest
    case."""
    from py_data_pipeline_app_spark.operators.quantization import (
        ivfpq_topk,
        ivfpq_topk_rerank,
    )

    k, nprobe = 10, 16  # full probe: isolates ADC error from probe misses
    bf = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=k).collect()
    }
    adc = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk(
            spark, ivfpq_index, queries, k=k, nprobe=nprobe
        ).collect()
    }
    rr = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_rerank(
            spark,
            ivfpq_index,
            emb,
            queries,
            k=k,
            k_factor=4,
            nprobe=nprobe,
        ).collect()
    }
    assert len(rr & bf) > len(adc & bf), (len(rr & bf), len(adc & bf))
    assert len(rr & bf) / len(bf) >= 0.25, len(rr & bf) / len(bf)


def test_rerank_exact_scores_and_self_retrieval(spark, emb, queries, ivfpq_index):
    """Re-ranked scores are EXACT cosines (each query retrieves its own
    corpus twin at score 1.0, rank 1) — ADC scores are approximations
    and generally cannot do this."""
    from py_data_pipeline_app_spark.operators.quantization import ivfpq_topk_rerank

    rr = ivfpq_topk_rerank(
        spark, ivfpq_index, emb, queries, k=5, k_factor=4, nprobe=16
    )
    top1 = {r.query_id: r for r in rr.filter(F.col("rank") == 1).collect()}
    for qid, row in top1.items():
        assert row.vec_id == qid, (qid, row)
        assert abs(row.score - 1.0) < 1e-9


def test_rerank_vector_fetch_is_shortlist_sized(spark, emb, queries, ivfpq_index):
    """The exact pass must fetch vectors via a BROADCAST of the tiny
    shortlist against the corpus scan — no shuffle (Exchange) of the
    corpus, no corpus-sized re-rank input."""
    from py_data_pipeline_app_spark.operators.quantization import ivfpq_topk_rerank

    plan = (
        ivfpq_topk_rerank(spark, ivfpq_index, emb, queries, k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus joins appear only as broadcast hash joins; the only
    # Exchanges allowed are the per-query ranking windows' hash
    # partitionings and broadcast distributions
    import re

    assert "BroadcastHashJoin" in plan
    bad = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "BroadcastExchange" not in ln
        and "hashpartitioning(query_id" not in ln
    ]
    assert bad == [], bad


def test_rotated_index_is_refused(spark, emb, queries, tmp_path):
    """An index whose config carries a non-empty rotation_checksum
    stores codes quantized in a rotated space: probes and appends must
    refuse it instead of scoring it in the unrotated one."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_topk,
    )

    path = str(tmp_path / "rotated")
    build_ivfpq_index(emb, path, n_centroids=8, m=M, ksub=8, dim=DIM)
    cfg = spark.read.parquet(f"{path}/config").first()
    local_rows_df(
        spark,
        "centroid_checksum string, codebook_checksum string, "
        "encoding string, rotation_checksum string",
        [
            (
                cfg.centroid_checksum,
                cfg.codebook_checksum,
                cfg.encoding,
                "0123456789abcdef0123456789abcdef",
            )
        ],
    ).write.mode("overwrite").parquet(f"{path}/config")
    with pytest.raises(ValueError, match="rotation"):
        ivfpq_topk(spark, path, queries, k=5, nprobe=2)
    with pytest.raises(ValueError, match="rotation"):
        ivfpq_index_append(spark, path, emb.limit(5), batch_token="x")

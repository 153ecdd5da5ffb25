"""Product quantization (PQ) for embedding columns: compress
``array<float>`` vectors to ``m`` small codes and rank queries with
asymmetric-distance lookups — the memory-side scale path that makes a
100 TB embedding corpus searchable at all.

Why PQ at corpus scale: a 64-dim float corpus is 256 bytes/vector;
PQ with m=8 subspaces and 16 codewords each stores 8 codes (≤ 1 byte
each) + a shared m×16×8 codebook — a ~32× smaller scan, so the
candidate-ranking pass reads 1/32 of the bytes an exact scan would
(I/O-bound at 100 TB, that ratio IS the speedup). Jégou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011) is the public recipe; everything here is a fresh
DataFrame-native implementation of it.

The IVF-PQ index encodes RESIDUALS ``r = x − q1(x)`` against the
coarse centroid (the paper's §V IVFADC layout), not raw vectors: the
score numerator decomposes as ``q·q1(x) + q·q2(r)`` with the first
term exact per (query, probed centroid), so only the (smaller, when
the coarse quantizer absorbs energy) residual is lossy. Measured on
the random-unit-vector testdata: with TRAINED quantizers residual
ADC recall is 0.44 vs 0.30 for every raw variant (re-rank 0.77 vs
0.48); with the md5-SAMPLED stand-in tables the residuals come out
larger than the vectors (sample centroids only absorb ~0.2 cosine)
and recall drops to 0.14 — the sampled tables exist for
cross-engine oracle replay, not recall, and the recall tests pin the
trained configuration.

``rotation_seed`` adds the OPQ-style decorrelation step (Ge et al.
2014's fixed-random-rotation baseline): residuals are rotated by a
deterministic orthonormal matrix before PQ slicing, spreading
cross-subspace correlation that independent subspace quantizers
cannot exploit. Measured: on data whose coordinates correlate across
subspaces, trained codebooks in the rotated space lift recall
0.47 → 0.58 (0.44 → 0.52 at the test's cheaper config); with
SAMPLED codebooks the rotation is neutral (sample-quantizer error is
linear in per-subspace variance — rebalancing it is a wash), so the
knob matters for trained production indexes over real embeddings.
The matrix persists beside the index with a checksum; probes and
appends replay it or refuse.

Determinism contract (same spirit as operators/similarity): codebooks
are a hash-ordered sample of the corpus (md5_long, reproducible in
DuckDB), code assignment is an argmin over a sequential-fold L2² with
lowest-code tie-break, and ADC scores fold subspace contributions in
ascending-subspace order — every step value-hashes cross-engine, so
the approximate operator still gets a full-value oracle; its recall
vs the exact baseline is asserted in tests.

Scale shape:

- Codebook pick: TakeOrderedAndProject over md5 order (per-partition
  top-k, driver merge of ``ksub`` rows) — the corpus never funnels
  through one task.
- Encoding: the m×ksub×dsub codebook enters the plan as ONE nested
  array literal; per-row assignment is a pure projection (zero
  shuffle), paid once.
- Query ranking: each query precomputes its m×ksub dot-product table
  once (queries are small and broadcast); per corpus row the score is
  m table lookups + m adds instead of ``dim`` multiplies — compute
  drops dim/m-fold on top of the 32× scan-byte reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import hashlib

from py_data_pipeline_app_spark import fsio
from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.functions.text import md5_long
from py_data_pipeline_app_spark.partitioning import fan_out
from py_data_pipeline_app_spark.operators.dedup_incremental import (
    _acquire_index_lock,
)
from py_data_pipeline_app_spark.operators.similarity import (
    _apply_tombstones,
    _assign_to_centroids,
    _bucket_layout,
    _centroid_rows,
    _centroid_rows_df,
    _ivf_centroid_checksum,
    _md5_sample_centroids,
    _query_probes,
    _refuse_rebuild_over_mutations,
    _union_appends,
    _write_append_batch,
    _qident,
    cosine,
    float_matrix_lit,
    l2_norm,
    render_float_matrix,
)
from py_data_pipeline_app_spark.operators.similarity import (  # noqa: F401
    # tombstone deletes are layout-shared (the deletes/ subdir and the
    # compaction consumption live beside assigned/ in both indexes);
    # re-exported so IVF-PQ callers find the verb where they look
    ivf_index_delete as ivfpq_index_delete,
)


def _sub(vec: Column, s: int, dsub: int) -> Column:
    """Subvector s (0-based) of a vector column, cast to double."""
    return F.transform(
        F.slice(vec, s * dsub + 1, dsub), lambda x: x.cast("double")
    )


def pq_codebooks(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub_id, code_id, codeword): one codebook per subspace, each
    the ``dsub``-wide slice of the same ``ksub`` hash-ordered sample
    vectors — a deterministic, oracle-reproducible stand-in for
    per-subspace k-means (pass the result of a trained fit through
    :func:`pq_encode`'s ``codebooks`` parameter when recall matters
    more than cross-engine replay; the encoding/ranking plans are
    identical either way).

    The sample rows are ordered by md5_long(id) — pseudo-random but
    deterministic, executed as a per-partition top-k merge. The
    ``ksub × dim`` sample is tiny by construction, so slicing it into
    m codebooks driver-side via one small projection is free."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} must divide into m={m} subspaces")
    dsub = dim // m
    sample = (
        corpus.select(
            md5_long(F.col(id_col).cast("string")).alias("_hk"),
            F.col(vec_col).alias("_v"),
        )
        .orderBy("_hk")
        .limit(ksub)
        .withColumn("code_id", F.row_number().over(Window.orderBy("_hk")) - 1)
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"), _sub(F.col("_v"), s, dsub).alias("codeword")
            )
            for s in range(m)
        ]
    )
    return sample.select("code_id", F.explode(subs).alias("sc")).select(
        F.col("sc.sub_id").alias("sub_id"), "code_id", F.col("sc.codeword").alias("codeword")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """(sub_id, code_id, codeword): per-subspace k-means codebooks via
    Spark ML's distributed Lloyd's (deterministic seed) — the
    production-recall pick (quantization error drops vs the hash
    sample because each codebook tracks its subspace's distribution).
    The m fits each reduce to a ksub×dsub partial per iteration; the
    resulting m×ksub×dsub table is a few KB and re-enters encode/rank
    plans as a literal, identical to the sampled path. The gate keeps
    the sampled variant (an iterative fit has no SQL oracle); this
    one's recall-vs-sampled win is asserted in tests."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m != 0:
        raise ValueError(f"dim={dim} must divide into m={m} subspaces")
    dsub = dim // m
    spark = corpus.sparkSession
    # materialise the training column once: KMeans re-evaluates its
    # input plan on every Lloyd iteration of each of the m fits, and
    # the column is usually a residual (and rotation) projection whose
    # per-row matvec would otherwise be recomputed every time. The
    # checkpoint keeps the input's partitioning, which k-means|| init
    # depends on, so the fitted codebooks are unchanged.
    vecs = corpus.select(vec_col).localCheckpoint()
    out = []
    for s in range(m):
        train = vecs.select(
            array_to_vector(_sub(F.col(vec_col), s, dsub)).alias("features")
        )
        model = KMeans(
            k=ksub, seed=seed + s, maxIter=max_iter, featuresCol="features"
        ).fit(train)
        out.extend(
            (s, j, [float(x) for x in c])
            for j, c in enumerate(model.clusterCenters())
        )
    # an Arrow local relation, like the sampled codebooks: no plan
    # that embeds the trained table runs a Python task
    return local_rows_df(
        spark, "sub_id int, code_id int, codeword array<double>", out
    )


def _codebook_rows(codebooks) -> list:
    """``codebooks`` as a (sub_id, code_id)-sorted list of rows —
    accepts a DataFrame (ONE collect) or an already-collected list.
    Builders need the table several times (persist, checksum, encode
    literal); when it is a derived frame (a TakeOrdered sample over
    the corpus) every re-collect is a full corpus scan at 100 TB."""
    if isinstance(codebooks, list):
        return codebooks
    return sorted(codebooks.collect(), key=lambda r: (r.sub_id, r.code_id))


def _codebook_rows_df(spark, rows: list) -> DataFrame:
    """The collected codebook rows as an Arrow local relation (zero
    Python tasks, no re-scan of whatever derived them)."""
    return local_rows_df(
        spark,
        "sub_id int, code_id int, codeword array<double>",
        [(int(r.sub_id), int(r.code_id), [float(x) for x in r.codeword]) for r in rows],
    )


def _collect_codebook_literal(
    codebooks,
) -> tuple[str, int, int, int]:
    """Collect the (tiny) codebook table and re-enter it as ONE nested
    array literal CB[sub_id][code_id] = codeword — returned as the
    parsed-expression SOURCE TEXT (``render_float_matrix``), so callers
    can either wrap it in one ``F.expr`` or splice it into a larger
    single-parse expression (the ADC lookup-table fold) — never m×ksub
    individual lit columns (per-literal py4j round trips would dominate
    plan construction, see the hyperplane LSH note). Accepts a
    DataFrame or pre-collected rows (``_codebook_rows``)."""
    rows = _codebook_rows(codebooks)
    m = 1 + max(r.sub_id for r in rows)
    ksub = 1 + max(r.code_id for r in rows)
    table: list[list[list[float]]] = [[None] * ksub for _ in range(m)]  # type: ignore[list-item]
    for r in rows:
        table[r.sub_id][r.code_id] = [float(x) for x in r.codeword]
    for s in range(m):
        if any(cw is None for cw in table[s]):
            raise ValueError(f"codebook for subspace {s} is missing code ids")
    # dim = m * dsub comes free with the collect — callers that would
    # otherwise run a one-row first() job against the query frame just
    # to learn the vector width should use this instead
    dsub = len(table[0][0])
    return render_float_matrix(table), m, ksub, m * dsub


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
    recon_offset_col: str | None = None,
    fan_out_input: bool = True,
) -> DataFrame:
    """(id, codes array<int>, approx_norm double): each vector's
    nearest codeword per subspace (sequential-fold L2², lowest code id
    on ties) plus the reconstruction's L2 norm, folded in
    ascending-subspace order so the value is oracle-reproducible.

    Zero shuffle: the codebook is a broadcast-free nested literal and
    encoding is a pure projection computed in the scan task — the
    shape that survives a 100 TB corpus, because the encode pass IS
    the scan. ``approx_norm`` is stored at encode time so ranking
    never re-derives it per (row, query) pair.

    The codes array is materialized as an intermediate column before
    ``approx_norm`` reads it: the norm's per-subspace lookup references
    the codes m times, and codegen does not common-subexpression the
    full argmin encode (~m·ksub·dsub fused ops per row) across those
    references — inlined, the encode ran m+1 times per row (measured
    ~3× slower end-to-end at sf0.1; the winnowing staging pitfall).

    ``recon_offset_col`` names an ``array<double>`` column added
    elementwise to the codeword reconstruction BEFORE the norm — the
    residual-encoding (IVFADC) hook: when ``vec_col`` holds residuals
    ``x − q1(x)`` and the offset is the coarse centroid ``q1(x)``,
    ``approx_norm`` is ‖q1(x) + q2(r)‖, the reconstruction norm the
    cosine denominator needs (Jégou et al. 2011 §V)."""
    cb_sql, m, _, _cb_dim = _collect_codebook_literal(codebooks)
    cb = F.expr(cb_sql)
    # fan_out: the m·ksub·dsub interpreted argmin fold per row is the
    # expensive narrow stage — an unsplittable one-file scan would pin
    # it to one core (guide §2.5); no-op on an already-wide corpus.
    # ``fan_out_input=False`` skips even the partition PROBE: the probe
    # plans the input subtree once (df.rdd), and on the residual chains
    # the IVF-PQ builders feed in — codebook/centroid literals embedded
    # throughout — that re-plan is measurable driver time for a frame
    # the caller statically knows is already fanned out upstream.
    if fan_out_input:
        corpus = fan_out(corpus)
    vec = F.col(vec_col)
    dim_expr = F.size(vec)
    dsub_expr = (dim_expr / m).cast("int")

    def best_code(s: Column) -> Column:
        sub = F.transform(
            F.slice(vec, s * dsub_expr + 1, dsub_expr), lambda x: x.cast("double")
        )
        scored = F.transform(
            F.element_at(cb, (s + 1).cast("int")),
            lambda cw, j: F.struct(
                F.aggregate(
                    F.zip_with(sub, cw, lambda p, q: (p - q) * (p - q)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                j.alias("pos"),
            ),
        )
        return F.array_min(scored)["pos"]

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), best_code)
    staged = corpus.withColumn("_pq_codes", codes.cast("array<int>"))
    codes_col = F.col("_pq_codes")
    approx = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(cb, (s + 1).cast("int")),
                (F.element_at(codes_col, (s + 1).cast("int")) + 1).cast("int"),
            ),
        )
    )
    if recon_offset_col is not None:
        approx = F.zip_with(
            F.col(recon_offset_col), approx, lambda c, w: c + w
        )
    return staged.select(
        F.col(id_col),
        codes_col.alias("codes"),
        l2_norm(approx).alias("approx_norm"),
        *[F.col(c) for c in extra_cols],
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via asymmetric distance
    computation: score(query, row) = Σ_s qtab[s][codes[s]] /
    (‖q‖ · approx_norm), where qtab is the query's precomputed
    m×ksub table of subvector·codeword dot products.

    The corpus side touches ONLY (id, codes, approx_norm) — the
    compressed representation — so at scale the ranking scan reads
    ~1/32 of the exact scan's bytes; per row the score is m lookups
    into a per-query table computed once before the (broadcast) join.
    Approximate by construction (the reconstruction replaces the
    vector); recall vs :func:`~py_data_pipeline_app_spark.operators.
    similarity.brute_force_topk` is measured in tests, and the full
    deterministic computation is value-hash-checked by the registered
    oracle.

    Pass ``encoded`` (from :func:`pq_encode`, e.g. read back from a
    persisted parquet) to skip re-encoding — the production path,
    where encode is paid once at ingest and queries touch codes only.
    """
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col=vec_col
        )
    cb_sql, m, _, _cb_dim = _collect_codebook_literal(codebooks)
    if encoded is None:
        encoded = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    return _adc_rank(
        encoded,
        queries,
        cb_sql,
        m=m,
        dim=dim,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def _adc_rank(
    encoded: DataFrame,
    queries: DataFrame,
    cb_sql: str,
    *,
    m: int,
    dim: int,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    join_cols: list[str] | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance ranking of (id, codes, approx_norm) rows:
    per-query m×ksub dot-product table computed ONCE on the (small)
    query side, per-row score = m lookups folded in subspace order.
    Shared by :func:`pq_topk` (full-corpus scan; ``join_cols=None``
    scores every (query, row) pair through a broadcast cross join)
    and :func:`ivfpq_topk` (``join_cols=['centroid_id']`` from the
    probe frame turns it into a broadcast equi-join, restricting each
    query to its probed buckets). ``offset_col`` names a query-side
    numerator term added BEFORE the lookup fold — the residual
    decomposition's per-(query, centroid) ``q·q1(x)`` dot product.
    The score expression is value-hash-bearing — both surfaces'
    oracles replay THIS fold, which is why it lives in one place.

    The lookup-table builder and the per-row fold render as ONE parsed
    expression each (``cb_sql`` is the codebook literal's source text):
    the Column-composed forms cost ~0.2 s of py4j round trips per probe
    construction (measured r15, the engine's last Column-composed
    subspace builders); the rendered SQL parses to the identical
    expression trees — pinned by the renderer parity suite."""
    dsub = dim // m
    qv = _qident(vec_col)
    qtab = F.expr(
        f"transform({cb_sql}, (sub_cb, s) -> transform(sub_cb, cw -> "
        f"aggregate(zip_with(slice({qv}, CAST(s AS INT) * {dsub} + 1, "
        f"{dsub}), cw, (p, q) -> CAST(p AS DOUBLE) * q), 0.0D, "
        "(acc, v) -> acc + v)))"
    )
    q = queries.select(
        F.col(query_id_col),
        *[F.col(c) for c in (join_cols or [])],
        *([F.col(offset_col)] if offset_col else []),
        qtab.alias("_qtab"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    num = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, s) -> acc + "
        "element_at(element_at(_qtab, CAST(s + 1 AS INT)), "
        "CAST(element_at(codes, CAST(s + 1 AS INT)) + 1 AS INT)))"
    )
    if offset_col is not None:
        num = F.col(offset_col) + num
    joined = (
        encoded.join(F.broadcast(q), join_cols)
        if join_cols
        else encoded.crossJoin(F.broadcast(q))
    )
    scored = joined.select(
        query_id_col,
        id_col,
        F.round(num / (F.col("_qnorm") * F.col("approx_norm")), 9).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "score", F.col("rn").alias("rank"))
    )


def _codebook_checksum(codebooks) -> str:
    rows = _codebook_rows(codebooks)
    payload = repr(
        [(r.sub_id, r.code_id, [float(x) for x in r.codeword]) for r in rows]
    )
    return hashlib.md5(payload.encode()).hexdigest()


# config marker naming the code semantics the index was built with —
# readers/appenders refuse an index whose marker is missing or different
# (ADC against mismatched code semantics returns silently wrong scores)
IVFPQ_ENCODING = "ivfadc-residual"


def rotation_matrix(seed: int, dim: int) -> list[list[float]]:
    """Deterministic orthonormal ``dim×dim`` rotation — the OPQ-style
    decorrelation step's simplest instance (a fixed random rotation,
    the "RR" baseline of Ge et al. 2014's OPQ paper): spreads variance
    evenly across PQ subspaces, which lowers quantization error when
    the data's energy is concentrated in a few coordinates (anisotropy
    plain slicing punishes). Built from md5-derived uniforms +
    pure-Python Gram-Schmidt: bit-identical on every platform (a
    LAPACK QR would vary across BLAS builds and break the config
    checksum), and a 64×64 build is microseconds driver-side."""
    import struct

    def u(i: int) -> float:  # uniform in [-1, 1), md5-derived
        h = hashlib.md5(f"rot:{seed}:{i}".encode()).digest()
        return struct.unpack(">Q", h[:8])[0] / 2**63 - 1.0

    rows: list[list[float]] = []
    i = 0
    while len(rows) < dim:
        v = [u(i * dim + j) for j in range(dim)]
        i += 1
        for q in rows:  # Gram-Schmidt against accepted rows
            d = sum(a * b for a, b in zip(v, q))
            v = [a - d * b for a, b in zip(v, q)]
        n = sum(a * a for a in v) ** 0.5
        if n < 1e-6:
            continue  # degenerate draw: try the next candidate vector
        rows.append([a / n for a in v])
    return rows


def _rotation_checksum(rot: list[list[float]]) -> str:
    return hashlib.md5(repr(rot).encode()).hexdigest()


def _matvec(rot_lit: Column, vec: Column, dim: int) -> Column:
    """``R·v`` as a pure Column expression: one fold per output
    coordinate — dim² multiply-adds per row, fused into the scan
    (4096 ops at dim=64, ~4× the PQ encode itself; linear in rows,
    zero shuffle)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            F.zip_with(
                F.element_at(rot_lit, (i + 1).cast("int")),
                vec,
                lambda a, b: a * b.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _centroid_matrix_lit(cent_rows) -> Column:
    """CVEC[centroid_id + 1] = centroid vector, as one nested literal.
    Requires contiguous 0-based centroid ids (what both the md5 sample
    and the k-means trainer emit) because lookup is positional."""
    rows = _centroid_rows(cent_rows)
    if [int(r.centroid_id) for r in rows] != list(range(len(rows))):
        raise ValueError(
            "residual encoding requires contiguous 0-based centroid ids"
        )
    return float_matrix_lit([[float(x) for x in r.cvec] for r in rows])


def _rotated_centroids(rot, cent_rows) -> list[list[float]]:
    """R·c for every centroid, driver-side (k×dim is a few KB; the
    same pure-Python fold order as the build, so build and append
    produce bit-identical offsets)."""
    return [
        [
            sum(a * b for a, b in zip(row, [float(x) for x in r.cvec]))
            for row in rot
        ]
        for r in cent_rows
    ]


def _with_residual(assigned: DataFrame, cent_rows, *, vec_col: str) -> DataFrame:
    """Add ``_cvec`` (the row's coarse centroid) and ``_rvec`` (the
    residual ``x − q1(x)``, double) to an assigned frame — still a pure
    projection: the centroid table rides as a literal, the subtraction
    happens in the same scan task that computed the assignment.
    Residual-encoding the residual instead of the raw vector is the
    IVFADC recipe (Jégou et al. 2011 §V): residuals concentrate near
    zero, so the same code budget quantizes them with far less error
    than the raw, spread-out vectors."""
    cvec = F.element_at(
        _centroid_matrix_lit(cent_rows), F.col("centroid_id") + 1
    )
    staged = assigned.withColumn("_cvec", cvec)
    return staged.withColumn(
        "_rvec",
        F.zip_with(
            F.col(vec_col), F.col("_cvec"), lambda p, c: p.cast("double") - c
        ),
    )


def build_ivfpq_index(
    corpus: DataFrame,
    index_path: str,
    *,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    files_per_bucket: int | None = None,
    rotation_seed: int | None = None,
    rotation: list | None = None,
) -> None:
    """Materialize the IVF-PQ index — the standard corpus-scale ANN
    layout (FAISS's IVFPQ shape, rebuilt Spark-first): every vector's
    coarse-centroid assignment, its residual ``x − q1(x)``, AND the
    residual's PQ codes (IVFADC, Jégou et al. 2011 §V — see the module
    docstring for the measured recall trade) computed in ONE pure
    projection (zero shuffle — the build IS the scan), written
    ``partitionBy(centroid_id)`` with only (id, codes, approx_norm)
    per row, where ``approx_norm`` is the reconstruction norm
    ‖q1(x) + q2(r)‖.

    Probing then compounds BOTH prunings: un-probed buckets cost zero
    I/O (partition filter, the IVF win) and probed buckets read ~1/32
    of the raw-vector bytes (PQ codes, the compression win) — at
    100 TB the scan cost drops multiplicatively, which is why this is
    the layout real vector stores converge on. Centroids + codebooks
    are persisted beside the data with content checksums (the
    fail-loudly manifest pattern shared with the LSH/IVF indexes).

    Defaults keep every input deterministic (md5-ordered samples), so
    probed results are oracle-reproducible end-to-end; pass trained
    ``cents``/``codebooks`` for production recall behind the identical
    plan.

    ``codebooks`` must be trained in RESIDUAL space (on ``x − q1(x)``
    against the SAME ``cents``, after the same rotation when
    ``rotation_seed`` is set) — codes quantize residuals since the
    IVFADC change, and raw-vector codebooks (the pre-residual
    contract) silently degrade recall instead of failing (the
    ``IVFPQ_ENCODING`` marker protects readers from old on-disk
    indexes, not the builder from mis-trained inputs). External
    callers should prefer :func:`build_ivfpq_index_trained`, which
    derives both tables correctly in one call."""
    spark = corpus.sparkSession
    _refuse_rebuild_over_mutations(
        spark, index_path, "IVF-PQ", "assignments and codes"
    )
    samp_df = None
    if cents is None and codebooks is None:
        # ONE md5-ordered TakeOrdered serves BOTH tiny samples: the
        # centroid pick (first n_centroids rows) and the PQ codebook
        # sample (first ksub rows) order by the SAME key md5_long(id),
        # so the two corpus scans the old shape ran collapse into one
        # (each was a full corpus pass at 100 TB for a few KB of
        # state). The codebook sample's residuals are then derived on
        # a ksub-row literal frame through the IDENTICAL expressions
        # the corpus path uses — bit-equal values, oracle-unchanged.
        k = max(n_centroids, ksub)
        sample_rows = (
            corpus.select(
                md5_long(F.col(id_col).cast("string")).alias("_hk"),
                F.col(id_col).alias("_id"),
                F.col(vec_col).alias("_v"),
            )
            .orderBy("_hk")
            .limit(k)
            .collect()
        )
        from pyspark.sql import Row

        cent_rows = [
            Row(centroid_id=i, cvec=[float(x) for x in r._v])
            for i, r in enumerate(sample_rows[:n_centroids])
        ]
        id_type = corpus.schema[id_col].dataType.simpleString()
        samp_df = local_rows_df(
            spark,
            f"{id_col} {id_type}, {vec_col} array<double>",
            [(r._id, [float(x) for x in r._v]) for r in sample_rows[:ksub]],
        )
    else:
        if cents is None:
            cents = _md5_sample_centroids(
                corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
            )
        # collect both tiny tables ONCE: persist, checksum, assignment
        # literal, and encode literal each need them, and when they are
        # derived frames every re-collect re-runs a TakeOrdered over the
        # corpus — five full corpus scans at 100 TB for a few KB of state
        cent_rows = _centroid_rows(cents)
    assigned = _assign_to_centroids(
        corpus, cent_rows, id_col=id_col, vec_col=vec_col
    )
    resid = _with_residual(assigned, cent_rows, vec_col=vec_col)
    enc_vec, enc_offset = "_rvec", "_cvec"
    rot = None
    if rotation is not None or rotation_seed is not None:
        # OPQ-style decorrelation: quantize R·r instead of r. The
        # reconstruction norm the score needs is ‖c + Rᵀ·q2(Rr)‖,
        # which equals ‖Rc + q2(Rr)‖ (R is orthonormal) — so the
        # existing offset machinery works verbatim with the centroid
        # PRE-ROTATED driver-side. ``rotation`` passes an EXPLICIT
        # matrix (a trained OPQ rotation — train_opq_rotation — is
        # not derivable from a seed); ``rotation_seed`` derives the
        # fixed RR baseline. Readers never see the difference: both
        # persist to rotation/ with the same checksum machinery.
        rot = (
            rotation
            if rotation is not None
            else rotation_matrix(rotation_seed, dim)
        )
        rot_lit = float_matrix_lit(rot)
        crot = _rotated_centroids(rot, cent_rows)

        def _rotated(frame: DataFrame) -> DataFrame:
            return frame.withColumn(
                "_rvec_rot", _matvec(rot_lit, F.col("_rvec"), dim)
            ).withColumn(
                "_cvec_rot",
                F.element_at(float_matrix_lit(crot), F.col("centroid_id") + 1),
            )

        resid = _rotated(resid)
        enc_vec, enc_offset = "_rvec_rot", "_cvec_rot"
    if codebooks is None and samp_df is not None:
        # fused-sample path: the ksub md5-smallest rows are already on
        # the driver — residualize them through the SAME expression
        # chain the corpus takes (assignment literal, residual,
        # rotation), on a ksub-row literal frame instead of a second
        # full corpus TakeOrdered
        resid_samp = _with_residual(
            _assign_to_centroids(
                samp_df, cent_rows, id_col=id_col, vec_col=vec_col
            ),
            cent_rows,
            vec_col=vec_col,
        )
        if rot is not None:
            resid_samp = _rotated(resid_samp)
        codebooks = pq_codebooks(
            resid_samp, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col=enc_vec
        )
    elif codebooks is None:
        # codebooks quantize RESIDUALS (IVFADC): sampled from the same
        # md5 order as before, but each sample vector is x − q1(x)
        # (rotated when rotation is on) — still one deterministic
        # TakeOrdered over the build corpus
        codebooks = pq_codebooks(
            resid, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col=enc_vec
        )
    cb_rows = _codebook_rows(codebooks)
    rot_checksum = "" if rot is None else _rotation_checksum(rot)

    # the four sidecar tables are driver-literal writes, independent of
    # each other and of the corpus-sized encode below — run all five
    # as concurrent jobs (guide §2.6) instead of five job latencies
    # end to end
    def _w_centroids() -> None:
        _centroid_rows_df(spark, cent_rows).write.mode("overwrite").parquet(
            f"{index_path}/centroids"
        )

    def _w_codebooks() -> None:
        _codebook_rows_df(spark, cb_rows).write.mode("overwrite").parquet(
            f"{index_path}/codebooks"
        )

    def _w_rotation() -> None:
        if rot is not None:
            local_rows_df(
                spark,
                "row_id int, coeffs array<double>",
                [(i, row) for i, row in enumerate(rot)],
            ).write.mode("overwrite").parquet(f"{index_path}/rotation")

    def _w_config() -> None:
        local_rows_df(
            spark,
            "centroid_checksum string, codebook_checksum string, "
            "encoding string, rotation_checksum string",
            [
                (
                    _ivf_centroid_checksum(cent_rows),
                    _codebook_checksum(cb_rows),
                    IVFPQ_ENCODING,
                    rot_checksum,
                )
            ],
        ).write.mode("overwrite").parquet(f"{index_path}/config")

    def _w_assigned() -> None:
        # one projection end-to-end: centroid assignment, residual
        # (+ rotation), and codes are all pure functions of the vector,
        # computed in the same scan task — never a join of two derived
        # frames by id
        combined = pq_encode(
            resid,
            cb_rows,
            id_col=id_col,
            vec_col=enc_vec,
            extra_cols=("centroid_id",),
            recon_offset_col=enc_offset,
            fan_out_input=False,  # resid rides the fanned-out assignment
        )
        # files_per_bucket bounds the (task x bucket) small-files
        # blowup of a bare partitionBy write; the repartition shuffles
        # only the ~32x-compressed code rows (build_ivf_index's note)
        combined = _bucket_layout(
            combined, files_per_bucket, n_buckets=n_centroids, id_col=id_col
        )
        combined.write.partitionBy("centroid_id").mode("overwrite").parquet(
            f"{index_path}/assigned"
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [
            pool.submit(f)
            for f in (_w_centroids, _w_codebooks, _w_rotation, _w_config, _w_assigned)
        ]
        for fut in futs:
            fut.result()


def _np_lloyd(S, ksub: int, n_iter: int = 10):
    """Plain Lloyd's over a small numpy sample (n×dsub), deterministic:
    initial centers are the first ``ksub`` DISTINCT sample rows (the
    sample arrives md5-ordered, so the init is a pure function of the
    data), an emptied cluster keeps its previous center. Returns
    (centers ksub×dsub, assignment n)."""
    import numpy as np

    _, first = np.unique(S.round(12), axis=0, return_index=True)
    init = S[np.sort(first)[:ksub]]
    if len(init) < ksub:  # degenerate sample: pad by repeating rows
        init = np.vstack([init, S[: ksub - len(init)]])
    C = init.copy()
    assign = None
    for _ in range(n_iter):
        d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for j in range(ksub):
            mask = assign == j
            if mask.any():
                C[j] = S[mask].mean(0)
    return C, assign


def train_opq_rotation(
    resid: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "_rvec",
    id_col: str = "vec_id",
    sample_size: int = 2048,
    n_iter: int = 8,
    seed: int = 7,
) -> list[list[float]]:
    """TRAINED OPQ rotation — Ge et al. 2014's non-parametric
    alternating optimization (Algorithm 1), not the fixed-random "RR"
    baseline :func:`rotation_matrix` is: repeat {fit per-subspace
    k-means codebooks to the rotated sample; reconstruct each sample
    from its nearest codewords; update R by the orthogonal Procrustes
    solution ``R = V·Uᵀ`` of ``svd(XᵀY)``, which is the orthogonal
    matrix minimizing ‖XRᵀ − Y‖²}. Each half-step is a coordinate
    descent on the same objective; because the codebook fit
    re-initializes each round (deterministic first-distinct-rows init,
    not warm-started), tiny inter-round blips are possible, but the
    ENDPOINT lands well below the RR initialization — measured 2.1×
    lower sample quantization error, and that endpoint (not per-step
    monotonicity) is what the test pins.

    Runs DRIVER-SIDE over a bounded deterministic sample (md5-ordered
    ``sample_size`` rows collected once — FAISS's OPQMatrix trains on
    a sample the same way; the rotation is a dim×dim statistic, it
    does not need the corpus). The distributed plan never changes:
    the result feeds ``build_ivfpq_index(rotation=...)`` / full-corpus
    codebook training exactly like the fixed matrix. numpy SVD is
    bit-stable per platform but not across BLAS builds — trained
    indexes persist the matrix with a checksum (readers replay it
    from disk, never re-derive), and the cross-engine gate stays on
    the seed-derived path."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim={dim} must divide into m={m} subspaces")
    dsub = dim // m
    sample = (
        resid.select(F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.array([[float(x) for x in r[0]] for r in sample])
    R = np.array(rotation_matrix(seed, dim))
    for _ in range(n_iter):
        Xr = X @ R.T
        Y = np.empty_like(Xr)
        for s in range(m):
            Ssub = Xr[:, s * dsub : (s + 1) * dsub]
            C, assign = _np_lloyd(Ssub, ksub)
            Y[:, s * dsub : (s + 1) * dsub] = C[assign]
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = Vt.T @ U.T
    return [[float(x) for x in row] for row in R]


def build_ivfpq_index_trained(
    corpus: DataFrame,
    index_path: str,
    *,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_bucket: int | None = None,
    rotation_seed: int | None = None,
    opq_iters: int = 0,
    seed: int = 7,
    max_iter: int = 20,
) -> None:
    """The PRODUCTION one-call builder: k-means coarse centroids +
    k-means codebooks trained on the (optionally rotated) RESIDUALS,
    then :func:`build_ivfpq_index` with those tables — the recall
    configuration (measured 0.44 full-probe vs 0.14 for the sampled
    stand-in tables, re-rank 0.77; module docstring) without the
    five-call assembly dance, and with the rotation space
    impossible to mismatch between codebook training and encoding.
    ``opq_iters > 0`` upgrades the rotation from the fixed RR
    baseline to the TRAINED alternating-optimization one
    (:func:`train_opq_rotation`, initialized from ``rotation_seed``
    or ``seed``) — measured strictly above the fixed rotation on
    cross-subspace-correlated data (test-pinned); the full-corpus
    codebooks then refit in the trained space. No SQL oracle by
    nature (iterative k-means) — the sampled
    :func:`build_ivfpq_index` defaults stay the gate path; recall and
    parity are pinned in tests."""
    from py_data_pipeline_app_spark.operators.similarity import (
        train_centroids,
    )

    cent_rows = _centroid_rows(
        train_centroids(
            corpus, n_centroids=n_centroids, vec_col=vec_col,
            seed=seed, max_iter=max_iter,
        )
    )
    resid = _with_residual(
        # fan_out_input=False: this residual frame feeds the Spark ML
        # KMeans codebook fit below, whose k-means|| init is sensitive
        # to the input PARTITIONING — a layout change would silently
        # retrain different codebooks (and different recall) from the
        # identical data. The final index build re-derives residuals
        # through the default fanned-out assignment; its consumers are
        # pure projections, layout-independent.
        _assign_to_centroids(
            corpus, cent_rows, id_col=id_col, vec_col=vec_col,
            fan_out_input=False,
        ),
        cent_rows,
        vec_col=vec_col,
    )
    rot = None
    if opq_iters > 0:
        rot = train_opq_rotation(
            resid,
            m=m,
            ksub=ksub,
            dim=dim,
            id_col=id_col,
            n_iter=opq_iters,
            seed=rotation_seed if rotation_seed is not None else seed,
        )
    elif rotation_seed is not None:
        rot = rotation_matrix(rotation_seed, dim)
    train_vec = "_rvec"
    if rot is not None:
        resid = resid.withColumn(
            "_rvec_rot", _matvec(float_matrix_lit(rot), F.col("_rvec"), dim)
        )
        train_vec = "_rvec_rot"
    codebooks = train_pq_codebooks(
        resid, m=m, ksub=ksub, dim=dim, vec_col=train_vec,
        seed=seed, max_iter=max_iter,
    )
    build_ivfpq_index(
        corpus,
        index_path,
        n_centroids=n_centroids,
        m=m,
        ksub=ksub,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        cents=cent_rows,
        codebooks=codebooks,
        files_per_bucket=files_per_bucket,
        rotation=rot,
    )


def ivfpq_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k against a persisted :func:`build_ivfpq_index`:
    probe each query's ``nprobe`` nearest centroid buckets (literal IN
    partition filter — un-probed directories are never read), then
    ADC-rank the probed rows' residual PQ codes per query, with the
    exact ``q·q1(x)`` centroid term added once per probe row (the
    IVFADC decomposition — per corpus row the cost stays m lookups).
    The full computation is replayed by the registered oracle AND an
    in-container pure-Python model (probe + residual encode + norms +
    decomposed score, 9dp). Fails loudly if the persisted centroids or
    codebooks drift from their build-time checksums, or if the index
    was built with different code semantics (the config's encoding
    marker)."""
    # one collect per table serves drift check + probe/encode literals
    cent_rows = _centroid_rows(
        fsio.read_small_parquet_rows(spark, f"{index_path}/centroids")
    )
    cb_rows = _codebook_rows(
        fsio.read_small_parquet_rows(spark, f"{index_path}/codebooks")
    )
    cfg = fsio.read_small_parquet_rows(spark, f"{index_path}/config")[0]
    if _ivf_centroid_checksum(cent_rows) != cfg.centroid_checksum:
        raise ValueError(
            f"IVF-PQ index at {index_path}: centroid table does not match its "
            "build-time checksum - probes against drifted centroids silently "
            "miss true neighbors. Rebuild the index."
        )
    if _codebook_checksum(cb_rows) != cfg.codebook_checksum:
        raise ValueError(
            f"IVF-PQ index at {index_path}: codebook table does not match its "
            "build-time checksum - ADC scores against drifted codebooks are "
            "meaningless. Rebuild the index."
        )
    _check_ivfpq_encoding(cfg, index_path)
    cb_sql, m, _, dim = _collect_codebook_literal(cb_rows)
    probes = _query_probes(
        queries,
        F.broadcast(_centroid_rows_df(spark, cent_rows)),
        nprobe=nprobe,
        query_id_col=query_id_col,
        vec_col=vec_col,
    )
    # the residual decomposition q·recon = q·q1(x) + q·q2(r): the
    # first term depends only on (query, probed centroid), so it is
    # computed ONCE per probe row here — the per-corpus-row cost stays
    # m table lookups, exactly the raw-ADC shape
    from py_data_pipeline_app_spark.operators.similarity import dot

    probes = probes.withColumn(
        "_qc",
        dot(
            F.col("_qvec"),
            F.element_at(
                _centroid_matrix_lit(cent_rows), F.col("centroid_id") + 1
            ),
        ),
    )
    # rotated index: the lookup-table side works in the rotated space
    # (q·Rᵀw = (Rq)·w), while the exact centroid term _qc above stays
    # in the original space — only the query rotates, once per probe
    qtab_vec = "_qvec"
    rot = _load_rotation(spark, index_path, cfg)
    if rot is not None:
        probes = probes.withColumn(
            "_qvec_rot", _matvec(float_matrix_lit(rot), F.col("_qvec"), dim)
        )
        qtab_vec = "_qvec_rot"
    probed = [r.centroid_id for r in probes.select("centroid_id").distinct().collect()]
    encoded = spark.read.parquet(f"{index_path}/assigned").filter(
        F.col("centroid_id").isin(probed)
    )
    encoded = _union_appends(
        spark, encoded, f"{index_path}/{IVFPQ_APPENDS_SUBDIR}", probed
    )
    encoded = _apply_tombstones(spark, encoded, index_path, id_col=id_col)
    return _adc_rank(
        encoded,
        probes,
        cb_sql,
        m=m,
        dim=dim,
        k=k,
        id_col=id_col,
        vec_col=qtab_vec,
        query_id_col=query_id_col,
        join_cols=["centroid_id"],
        offset_col="_qc",
    )


def _check_ivfpq_encoding(cfg, index_path: str) -> None:
    enc = getattr(cfg, "encoding", None)
    if enc != IVFPQ_ENCODING:
        raise ValueError(
            f"IVF-PQ index at {index_path} was built with encoding "
            f"{enc!r}, this reader expects {IVFPQ_ENCODING!r} - scores "
            "across mismatched code semantics are meaningless. Rebuild "
            "the index."
        )


def _load_rotation(spark, index_path: str, cfg) -> list[list[float]] | None:
    """The index's persisted OPQ rotation (or None when it was built
    without one), checksum-verified: probing or appending through a
    drifted rotation would encode/score in a different space than the
    stored codes."""
    want = getattr(cfg, "rotation_checksum", "") or ""
    if not want:
        return None
    rows = sorted(
        fsio.read_small_parquet_rows(spark, f"{index_path}/rotation"),
        key=lambda r: r.row_id,
    )
    rot = [[float(x) for x in r.coeffs] for r in rows]
    if _rotation_checksum(rot) != want:
        raise ValueError(
            f"IVF-PQ index at {index_path}: rotation matrix does not match "
            "its build-time checksum - codes live in the rotated space, so "
            "a drifted rotation scores garbage. Rebuild the index."
        )
    return rot


IVFPQ_APPENDS_SUBDIR = "appends"


def ivfpq_topk_rerank(
    spark,
    index_path: str,
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    k_factor: int = 4,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """:func:`ivfpq_topk` with exact re-ranking — the standard recall
    recovery for PQ's lossy scores (Jégou et al. 2011 §IV-A call it
    the re-ranking stage): ADC ranks a SHORTLIST of ``k·k_factor``
    candidates per query from the compressed index, then only those
    rows' raw vectors are fetched and re-scored with exact cosine,
    and the top ``k`` of the exact scores win. ADC ordering errors
    inside the shortlist are corrected at a scan cost that stays
    ≈ ADC: the exact pass touches |queries|·k·k_factor vectors, not
    the corpus.

    The shortlist (a tiny (query_id, vec_id) set) BROADCASTS into a
    hash join against ``corpus`` — the raw-vector table the index was
    built from — so the fetch is one corpus scan with zero shuffle
    and shortlist-sized output (plan-asserted in tests: the corpus
    side of the join carries no Exchange). ``corpus`` must be the
    same relation the index was built over; ids absent from it
    silently drop from the re-rank (the index's tombstone filter
    already ran inside the ADC stage)."""
    shortlist = ivfpq_topk(
        spark,
        index_path,
        queries,
        k=k * k_factor,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    fetched = corpus.select(F.col(id_col), F.col(vec_col)).join(
        F.broadcast(shortlist), id_col
    )
    scored = fetched.join(F.broadcast(q), query_id_col).select(
        query_id_col,
        id_col,
        F.round(cosine(vec_col, "_qvec"), 9).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def ivfpq_index_append(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_token: str | None = None,
) -> str:
    """Fold a NEW embedding batch into a persisted
    :func:`build_ivfpq_index` without touching the corpus: the batch is
    assigned against the index's own centroids AND residual-encoded
    against its own codebooks (the same IVFADC pipeline as the build)
    — one batch-sized projection, work ∝ |batch| — and
    written under an idempotent ``appends/batch-{token}`` subdirectory
    in the same ``partitionBy(centroid_id)`` / codes-only layout. The
    daily-feed story the IVF and LSH indexes already have, for the
    compressed index too.

    Parity contract (tested): build(A) then append(B) probes
    bit-identically to build(A∪B) with the same centroids + codebooks
    (per-row assignment and codes depend only on the vector and the
    frozen tables). Fails loudly when either persisted table drifts
    from its build-time checksum — drifted centroids mis-probe,
    drifted codebooks make ADC scores meaningless. Appending a vec_id
    already in the index is unsupported (the reader unions). Returns
    the batch token. Serialized against other mutators by the shared
    atomic lock marker."""
    with _acquire_index_lock(spark, index_path, "IVF-PQ append"):
        return _ivfpq_index_append_locked(
            spark,
            index_path,
            new_vectors,
            id_col=id_col,
            vec_col=vec_col,
            batch_token=batch_token,
        )


def _ivfpq_index_append_locked(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    batch_token: str | None,
) -> str:
    import uuid

    # one collect per table serves drift check + assignment/encode
    cent_rows = _centroid_rows(
        fsio.read_small_parquet_rows(spark, f"{index_path}/centroids")
    )
    cb_rows = _codebook_rows(
        fsio.read_small_parquet_rows(spark, f"{index_path}/codebooks")
    )
    cfg = fsio.read_small_parquet_rows(spark, f"{index_path}/config")[0]
    if _ivf_centroid_checksum(cent_rows) != cfg.centroid_checksum:
        raise ValueError(
            f"IVF-PQ index at {index_path}: centroid table does not match its "
            "build-time checksum - appends assigned against drifted centroids "
            "would silently miss true neighbors. Rebuild the index."
        )
    if _codebook_checksum(cb_rows) != cfg.codebook_checksum:
        raise ValueError(
            f"IVF-PQ index at {index_path}: codebook table does not match its "
            "build-time checksum - codes from drifted codebooks are "
            "meaningless. Rebuild the index."
        )
    _check_ivfpq_encoding(cfg, index_path)
    token = batch_token or uuid.uuid4().hex[:12]
    assigned = _assign_to_centroids(
        new_vectors.select(F.col(id_col), F.col(vec_col)),
        cent_rows,
        id_col=id_col,
        vec_col=vec_col,
    )
    resid = _with_residual(assigned, cent_rows, vec_col=vec_col)
    enc_vec, enc_offset = "_rvec", "_cvec"
    rot = _load_rotation(spark, index_path, cfg)
    if rot is not None:  # rotated index: encode the batch identically
        crot = _rotated_centroids(rot, cent_rows)
        dim = len(rot)
        resid = resid.withColumn(
            "_rvec_rot", _matvec(float_matrix_lit(rot), F.col("_rvec"), dim)
        ).withColumn(
            "_cvec_rot",
            F.element_at(float_matrix_lit(crot), F.col("centroid_id") + 1),
        )
        enc_vec, enc_offset = "_rvec_rot", "_cvec_rot"
    combined = pq_encode(
        resid,
        cb_rows,
        id_col=id_col,
        vec_col=enc_vec,
        extra_cols=("centroid_id",),
        recon_offset_col=enc_offset,
        fan_out_input=False,  # resid rides the fanned-out assignment
    )
    _write_append_batch(
        spark, combined, f"{index_path}/{IVFPQ_APPENDS_SUBDIR}/batch-{token}"
    )
    return token


def ivfpq_index_compact(spark, index_path: str, *, keep_newest: bool = False) -> int:
    """Merge every ``appends/batch-*`` directory into the base
    ``assigned/`` codes table — the IVF compactor's twin for the
    compressed layout (codes are pure functions of (vector, frozen
    codebooks), so the merge is a plain union rewrite). Crash-safe by
    staging + manifest, keep-newest by write time — the shared
    protocol in ``similarity._compact_assigned_locked`` (the two
    layouts differ only in what a row holds); serialized against
    appends by the shared lock. Returns the number of directories
    merged."""
    from py_data_pipeline_app_spark.operators.similarity import (
        _compact_assigned_locked,
    )

    with _acquire_index_lock(spark, index_path, "IVF-PQ compaction"):
        return _compact_assigned_locked(
            spark, index_path, IVFPQ_APPENDS_SUBDIR, keep_newest
        )

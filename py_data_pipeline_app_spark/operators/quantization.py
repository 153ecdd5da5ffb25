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
the coarse quantizer absorbs energy) residual is lossy. Both tables
are md5-ordered samples of the corpus, so every probe replays
cross-engine; on the random-unit-vector testdata the sample centroids
absorb only ~0.2 cosine, and full-probe residual ADC recall is 0.14
(an exact re-rank of a 4k shortlist lifts it to 0.29 —
``ivfpq_topk_rerank``). Callers may pass
their own ``cents``/``codebooks`` tables to :func:`build_ivfpq_index`
behind the identical plan.

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
    per-subspace k-means (:func:`pq_encode` takes any codebook table
    of this shape; the encoding/ranking plans are identical either
    way).

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


def _centroid_matrix_lit(cent_rows) -> Column:
    """CVEC[centroid_id + 1] = centroid vector, as one nested literal.
    Requires contiguous 0-based centroid ids (what the md5 sample
    emits) because lookup is positional."""
    rows = _centroid_rows(cent_rows)
    if [int(r.centroid_id) for r in rows] != list(range(len(rows))):
        raise ValueError(
            "residual encoding requires contiguous 0-based centroid ids"
        )
    return float_matrix_lit([[float(x) for x in r.cvec] for r in rows])


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
    probed results are oracle-reproducible end-to-end; explicit
    ``cents``/``codebooks`` tables ride the identical plan.

    ``codebooks`` must quantize RESIDUALS (``x − q1(x)`` against the
    SAME ``cents``) — raw-vector codebooks silently degrade recall
    instead of failing (the ``IVFPQ_ENCODING`` marker protects readers
    from old on-disk indexes, not the builder from mismatched
    inputs)."""
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
    if codebooks is None and samp_df is not None:
        # fused-sample path: the ksub md5-smallest rows are already on
        # the driver — residualize them through the SAME expression
        # chain the corpus takes (assignment literal, residual), on a
        # ksub-row literal frame instead of a second full corpus
        # TakeOrdered
        resid_samp = _with_residual(
            _assign_to_centroids(
                samp_df, cent_rows, id_col=id_col, vec_col=vec_col
            ),
            cent_rows,
            vec_col=vec_col,
        )
        codebooks = pq_codebooks(
            resid_samp, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col="_rvec"
        )
    elif codebooks is None:
        # codebooks quantize RESIDUALS (IVFADC): sampled from the same
        # md5 order as before, but each sample vector is x − q1(x) —
        # still one deterministic TakeOrdered over the build corpus
        codebooks = pq_codebooks(
            resid, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col="_rvec"
        )
    cb_rows = _codebook_rows(codebooks)

    # the three sidecar tables are driver-literal writes, independent of
    # each other and of the corpus-sized encode below — run all four
    # as concurrent jobs (guide §2.6) instead of four job latencies
    # end to end
    def _w_centroids() -> None:
        _centroid_rows_df(spark, cent_rows).write.mode("overwrite").parquet(
            f"{index_path}/centroids"
        )

    def _w_codebooks() -> None:
        _codebook_rows_df(spark, cb_rows).write.mode("overwrite").parquet(
            f"{index_path}/codebooks"
        )

    def _w_config() -> None:
        local_rows_df(
            spark,
            "centroid_checksum string, codebook_checksum string, "
            "encoding string",
            [
                (
                    _ivf_centroid_checksum(cent_rows),
                    _codebook_checksum(cb_rows),
                    IVFPQ_ENCODING,
                )
            ],
        ).write.mode("overwrite").parquet(f"{index_path}/config")

    def _w_assigned() -> None:
        # one projection end-to-end: centroid assignment, residual and
        # codes are all pure functions of the vector, computed in the
        # same scan task — never a join of two derived frames by id
        combined = pq_encode(
            resid,
            cb_rows,
            id_col=id_col,
            vec_col="_rvec",
            extra_cols=("centroid_id",),
            recon_offset_col="_cvec",
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
            for f in (_w_centroids, _w_codebooks, _w_config, _w_assigned)
        ]
        for fut in futs:
            fut.result()


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
        vec_col="_qvec",
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
    # a non-empty rotation_checksum marks codes quantized in a rotated
    # space; this reader scores in the unrotated one
    if getattr(cfg, "rotation_checksum", None):
        raise ValueError(
            f"IVF-PQ index at {index_path} was built with a rotation - "
            "its codes live in the rotated space, which this reader does "
            "not replay. Rebuild the index."
        )


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
    combined = pq_encode(
        resid,
        cb_rows,
        id_col=id_col,
        vec_col="_rvec",
        extra_cols=("centroid_id",),
        recon_offset_col="_cvec",
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

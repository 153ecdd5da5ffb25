"""Similarity search over embedding columns (array<float>): exact
brute-force cosine top-k as the correctness baseline, IVF-style
coarse-quantizer probing and random-hyperplane LSH as the scale paths.

Scale design:

- Cosine is computed with native higher-order functions (zip_with +
  aggregate fold in double precision) — JVM-side, codegen, and
  bit-for-bit reproducible in the DuckDB oracle (same sequential fold
  order).
- Brute force is exact and O(N·Q): right for reranking and small Q.
  The query set is broadcast; the corpus never shuffles.
- IVF: vectors are pre-bucketed by nearest coarse centroid (one pass);
  queries probe only the ``nprobe`` nearest buckets, cutting the
  scanned fraction to nprobe/n_centroids. Recall < 1 by construction —
  tests measure it against the brute-force baseline.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import fsio
from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.functions.text import md5_long
from py_data_pipeline_app_spark.operators.dedup import _bucket_member_pairs
from py_data_pipeline_app_spark.operators.dedup_incremental import (
    DELETES_SUBDIR,
    _acquire_index_lock,
    _batch_names,
    _read_tombstones,
    index_delete,
)
from py_data_pipeline_app_spark.partitioning import fan_out


def _qident(c: str) -> str:
    """Backtick-quoted identifier for splicing a column NAME into a
    parsed expression — embedded backticks are doubled (the SQL
    identifier escape), so arbitrary names keep working exactly like
    the Column-composed forms they replace."""
    return "`" + c.replace("`", "``") + "`"


def float_matrix_lit(values) -> Column:
    """Nested array<double> literal from (arbitrarily nested) Python
    floats, built as ONE server-side-parsed expression string instead
    of per-element ``F.lit`` Column composition. The difference is not
    cosmetic: a 1k–2k-element plane/centroid/codebook matrix costs
    ~1s of driver-side py4j round trips per plan construction the
    F.lit way vs ~4ms as a parsed string (measured) — and these
    matrices are rebuilt on every probe/encode plan. Values are exact:
    Python ``repr`` emits the shortest round-tripping decimal and
    Java's correctly-rounded ``parseDouble`` recovers the identical
    bits, so downstream fold arithmetic (and the cross-engine value
    hashes that depend on it) is unchanged. Non-finite values are
    rejected — none of the callers can produce them, and SQL literal
    syntax has no portable NaN/Infinity spelling."""
    return F.expr(render_float_matrix(values))


def render_float_matrix(values) -> str:
    """The parsed-expression SOURCE TEXT behind :func:`float_matrix_lit`
    — exposed so builders that embed the matrix inside a LARGER parsed
    expression (the ADC lookup-table fold) render everything as one
    parse instead of re-entering Column composition around it."""
    import math

    def render(x) -> str:
        if isinstance(x, (list, tuple)):
            if not x:
                raise ValueError("empty array has no element type as a literal")
            return "array(" + ",".join(render(v) for v in x) + ")"
        v = float(x)
        if not math.isfinite(v):
            raise ValueError(f"non-finite literal {v!r}")
        return repr(v) + "D"

    return render(values)


def dot(x: Column | str, y: Column | str) -> Column:
    """Sequential-fold double dot product — deterministic across
    engines (same fold order ⇒ identical IEEE results).

    String arguments are column NAMES and build the fold as ONE
    server-side-parsed expression: the Column-composition form costs
    ~60 py4j round trips of plan-construction latency per call
    (measured r15), and the vector folds are the most-instantiated
    expressions in the engine. Both forms parse to the identical
    expression tree (``0.0D`` is the same DoubleType literal
    ``F.lit(0.0)`` builds), so results are bit-equal."""
    if isinstance(x, str) and isinstance(y, str):
        return F.expr(
            f"aggregate(zip_with({_qident(x)}, {_qident(y)}, (p, q) -> "
            "CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 0.0D, "
            "(acc, v) -> acc + v)"
        )
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(x: Column | str) -> Column:
    if isinstance(x, str):
        return F.expr(
            f"sqrt(aggregate(transform({_qident(x)}, p -> "
            "CAST(p AS DOUBLE) * CAST(p AS DOUBLE)), 0.0D, "
            "(acc, v) -> acc + v))"
        )
    return F.sqrt(
        F.aggregate(
            F.transform(x, lambda p: p.cast("double") * p.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(x: Column | str, y: Column | str) -> Column:
    return dot(x, y) / (l2_norm(x) * l2_norm(y))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    The (small) query set is broadcast against the corpus — the corpus
    is scanned once, never shuffled; only the scored rows shuffle, and
    the per-query ranking window partitions by query id."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.select(
        F.col(id_col), F.col(vec_col)
    ).crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine(vec_col, "_qvec"), 9).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "score", F.col("rn").alias("rank"))
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dup (the brute-force baseline).

    O(N²) by construction — correct at evaluation scale; at corpus
    scale use :func:`hyperplane_lsh_near_dup_pairs`, which blocks the
    same computation by sign-pattern buckets."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine("vec_a", "vec_b"), 9).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_config_for(
    n_rows: int,
    threshold: float,
    *,
    target_recall: float = 0.75,
    target_occupancy: int = 32,
    min_bits: int = 8,
    max_bands: int = 128,
) -> tuple[int, int]:
    """(n_planes, bands) sized for a CORPUS, not just a threshold: the
    missing half of the tuning story on
    :func:`hyperplane_lsh_near_dup_pairs`. A fixed band width admits a
    constant FRACTION of random pairs, so candidates grow with N² no
    matter how good the fraction looks at eval scale (the 10× rehearsal
    measured exactly this on the 8-bit config). Holding expected bucket
    occupancy constant instead — 2^r ≥ n_rows / target_occupancy —
    keeps per-bucket pair expansion bounded as the corpus grows, then
    band COUNT restores recall at the threshold regime:
    b = ceil(ln(1−ρ) / ln(1−p^r)), p = 1 − acos(t)/π.

    Costs scale the right way: r·b projections per row grow only
    logarithmically with the corpus (JVM-side folds, linear in rows),
    while candidates track the true near-dup mass. At 10M rows /
    threshold 0.9 / recall 0.75 this returns (494, 26) — 26 bands of
    19-bit buckets — where the eval default (32, 4) would drown in
    random collisions; at 1B rows it's (1675, 67), a few hundred
    kFLOP/row, the price of keeping the candidate set linear. Raises
    if the
    recall target is unreachable within ``max_bands`` (threshold too
    far below the sign-agreement regime — use the n-gram/minhash
    family instead; hyperplane LSH cannot rescue threshold ≈ 0.4 at
    scale, as the measured table documents)."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = max(min_bits, math.ceil(math.log2(max(2, n_rows) / target_occupancy)))
    hit = p**r
    if hit >= 1.0:
        return r, 1
    bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - hit))
    if bands > max_bands:
        raise ValueError(
            f"recall {target_recall} at threshold {threshold} needs {bands} "
            f"bands of {r} bits for n={n_rows} (> max_bands={max_bands}); "
            "this threshold regime is below what hyperplane LSH can block "
            "at this scale - use minhash/ngram-jaccard or lower the recall "
            "target."
        )
    return r * bands, bands


def _deterministic_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Pseudo-random unit-ish hyperplanes from a fixed LCG — no RNG
    state, reproducible everywhere."""
    planes = []
    state = 88172645463325252
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            # xorshift64
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            v.append(((state % 2001) - 1000) / 1000.0)
        planes.append(v)
    return planes


def hyperplane_lsh_near_dup_pairs(
    corpus: DataFrame,
    *,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | str = "auto",
    bands: int | str = "auto",
    n_rows: int | None = None,
    target_recall: float = 0.75,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH near-dup: sign
    pattern of ``n_planes`` projections, banded into ``bands`` buckets;
    candidates = pairs sharing any band; verified with exact cosine.

    The PRODUCTION default is ``n_planes="auto"``/``bands="auto"``:
    the banding is sized for the CORPUS via :func:`lsh_config_for`
    (band width holds expected bucket occupancy constant as N grows,
    band count restores ``target_recall`` at the threshold regime) —
    the round-12 ×100 rehearsal measured that ANY fixed config admits
    a constant FRACTION of random pairs, i.e. quadratic candidate
    mass, no matter how good the fraction looks at eval scale. Pass
    ``n_rows`` (an upstream count the caller already has) to skip the
    one count job auto-sizing otherwise runs. Explicit
    ``(n_planes, bands)`` remain supported for EVAL and
    oracle-replay use — a fixed config is bit-reproducible across
    corpus sizes, which is why the registered queries pin one — but
    they are not the 100 TB path; both must be given together (a
    half-specified config has no defined width).

    ``dim`` is the embedding dimensionality, passed by the caller (a
    driver-side ``.first()`` probe here would put an action inside
    plan construction). The hyperplanes are a fixed xorshift sequence,
    so the whole operator — bits, band keys, collisions, cosine — is
    deterministic and oracle-reproducible.

    Scale shape: candidate ids come from grouped band buckets
    (chunk-capped via ``max_bucket_size``, see
    operators.dedup._bucket_member_pairs — no single-row quadratic
    expansion, no bucket self-join recomputing the projection subplan);
    vectors are joined back by id only for the verification cosine.

    P[signs agree] = 1 - θ/π per plane, so high-cosine pairs collide in
    at least one band with high probability; recall measured in tests
    against the exact baseline.

    Choosing (n_planes, bands) — band WIDTH must match the threshold
    regime (a pair at cosine t is a candidate with probability
    1 − (1 − p^r)^bands, p = 1 − acos(t)/π, r = n_planes/bands — the
    model :func:`lsh_config_for` inverts); measured on the sf0.01
    embeddings at threshold 0.4 (59 exact pairs, cosine mass ≤ 0.51):

    ======================  ========  ==============  ==============
    config                  recall    sf0.1 wall      random-pair
                                                      candidate frac
    ======================  ========  ==============  ==============
    16 planes / 4×4-bit     0.56      4.7s            0.23
    32 planes / 4×8-bit     0.10      4.4s            0.016
    32 planes / 8×4-bit     0.81      6.9s            0.40
    ======================  ========  ==============  ==============

    8-bit bands cut random candidates ~16×/band but their S-curve
    midpoint sits far above 0.4, so recall collapses — they are the
    right config for the HIGH-threshold regime real dedup runs in
    (recall ≥ 0.75 at cosine 0.9, ≥ 0.99 at 0.99, with ~1.6% random
    candidates; asserted on planted dups in test_similarity). At
    threshold 0.4 no banding is scale-safe: every config's candidate
    set is a constant fraction of all pairs, because 0.4 is barely
    above the random regime (p = 0.63 vs 0.5). For explicit-config
    eval runs: (32, 8) favors low-threshold recall; (32, 4) is the
    high-threshold (≥ 0.85) eval shape — candidates drop ~25× and
    recall rises with the threshold instead of falling. The auto
    default sizes past both as the corpus grows.

    The 10× rehearsal (BENCH_sf1.json) confirms the decade behavior:
    at 20k vectors the recall config is ×16.6 (quadratic candidate
    verification — true output grows linearly, random collisions
    quadratically) while the 8-bit config is ×1.39 (linear) and 25×
    faster absolute. Low-threshold recall is a small-data affordance;
    pick band width for the threshold AND the corpus size
    (2^r ≳ N / desired_bucket_occupancy).

    Plan-construction shape: the plane matrix is ONE nested array
    literal + a ``transform`` over it (a single expression), not
    n_planes × dim individual ``lit`` columns — the per-literal py4j
    round trips cost more driver time than the whole query's
    execution. Verification precomputes each vector's norm once (per
    row, not per candidate pair — identical fold arithmetic, so
    values are bit-equal to the inline form the oracle computes)."""
    if n_planes == "auto" or bands == "auto":
        if n_planes != "auto" or bands != "auto":
            raise ValueError(
                "n_planes and bands must be BOTH 'auto' (corpus-sized via "
                "lsh_config_for) or both explicit - a half-specified "
                "banding has no defined band width"
            )
        if n_rows is None:
            n_rows = corpus.count()
        n_planes, bands = lsh_config_for(
            n_rows, threshold, target_recall=target_recall
        )
    planes = _deterministic_hyperplanes(dim, n_planes)
    # the projection fold, sign bits and band keys render as ONE parsed
    # expression (the ADC/_adc_rank rationale: the Column-composed chain
    # cost ~500 py4j round trips per construction, measured r16; the
    # rendered SQL parses to the identical expression tree — pinned by
    # the renderer parity suite). The bits subtree is textually inlined
    # once per band exactly as the composed form referenced its Column
    # tree once per band.
    vecq = _qident(vec_col)
    projs_sql = (
        f"transform({render_float_matrix(planes)}, plane -> "
        f"aggregate(zip_with({vecq}, plane, (p, q) -> "
        "CAST(p AS DOUBLE) * q), 0.0D, (acc, v) -> acc + v))"
    )
    bits_sql = (
        f"transform({projs_sql}, p -> "
        "CASE WHEN p > 0 THEN '1' ELSE '0' END)"
    )
    r = n_planes // bands
    band_keys = F.expr(
        "array("
        + ", ".join(
            f"struct({bi} AS band, "
            f"array_join(slice({bits_sql}, {bi * r + 1}, {r}), '') AS bucket)"
            for bi in range(bands)
        )
        + ")"
    )
    # fan_out only the projection branch: the n_planes×dim interpreted
    # fold is the expensive narrow stage (guide §2.5); the va/vb
    # verification sides compute one norm per row and stay as-is
    blocked = fan_out(corpus).select(
        F.col(id_col), F.explode(band_keys).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    cands = (
        _bucket_member_pairs(
            blocked, ["band", "bucket"], id_col, max_bucket_size=max_bucket_size
        )
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .distinct()
    )
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        l2_norm(vec_col).alias("_norm_a"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        l2_norm(vec_col).alias("_norm_b"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot("vec_a", "vec_b")
                / (F.col("_norm_a") * F.col("_norm_b")),
                9,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: coarse centroids = deterministic
    hash-ordered sample of the corpus; vectors assigned to their
    nearest centroid once; each query probes its ``nprobe`` nearest
    centroid buckets only.

    Centroid pick: order by md5_long(id) and take ``n_centroids`` —
    a pseudo-random but deterministic sample that Spark executes as
    TakeOrderedAndProject (per-partition top-k, driver merge of
    n_centroids rows; nothing ever funnels the corpus through one
    task). md5_long (not xxhash64) so the whole computation — centroid
    set, bucket assignment, probe set, scores — is reproducible in the
    DuckDB oracle. The tiny result is then numbered with a window —
    fine on n_centroids rows. The corpus-assignment pass is one
    broadcast join + argmin; the query pass scans ~nprobe/n_centroids
    of the corpus.

    The centroid table is collected ONCE and re-enters both the
    assignment and the probe plan as an Arrow local relation — each
    plan that embedded the sample frame directly would re-run it (full
    corpus scans at 100 TB for a few KB of state)."""
    cent_rows = _centroid_rows(
        _md5_sample_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    )
    cents_local = F.broadcast(
        _centroid_rows_df(corpus.sparkSession, cent_rows)
    )
    assigned = _assign_to_centroids(
        corpus, cent_rows, id_col=id_col, vec_col=vec_col
    )
    probes = _query_probes(
        queries, cents_local, nprobe=nprobe, query_id_col=query_id_col, vec_col=vec_col
    )
    return _rank_probed(
        assigned, probes, k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
    )


def _md5_sample_centroids(
    corpus: DataFrame, *, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """(centroid_id, cvec): deterministic md5-ordered coarse centroid
    pick — the hash-sample whose full pick→assign→probe computation
    the DuckDB oracles replay (so it is value-hash-bearing: every IVF
    surface must sample THIS way or the oracle-parity contracts split).
    TakeOrderedAndProject over md5(id): per-partition top-k, driver
    merge of k rows, never a global sort; the k-row window after the
    limit is fine."""
    return (
        corpus.select(
            md5_long(F.col(id_col).cast("string")).alias("_hk"),
            F.col(vec_col).alias("cvec"),
        )
        .orderBy("_hk")
        .limit(n_centroids)
        .withColumn("centroid_id", F.row_number().over(Window.orderBy("_hk")) - 1)
        .select("centroid_id", "cvec")
    )


def _centroid_rows(cents) -> list:
    """``cents`` as an id-sorted list of Row(centroid_id, cvec) —
    accepts a DataFrame (ONE collect) or an already-collected list.
    Builders need the centroid table several times (persist, checksum,
    assignment literal); when the table is a derived frame (a
    TakeOrdered sample over the corpus), every re-collect is a full
    corpus scan at 100 TB — collect once, thread the rows through."""
    if isinstance(cents, list):
        return cents
    return sorted(cents.collect(), key=lambda r: r.centroid_id)


def _centroid_rows_df(spark, rows: list) -> DataFrame:
    """The collected centroid rows as an Arrow local relation (zero
    Python tasks, no re-scan of whatever derived them)."""
    return local_rows_df(
        spark,
        "centroid_id int, cvec array<double>",
        [(int(r.centroid_id), [float(x) for x in r.cvec]) for r in rows],
    )


def _assign_to_centroids(
    corpus: DataFrame, cents, *, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, centroid_id): argmax-cosine bucket assignment —
    ZERO-shuffle.

    The centroid table is k×dim (a few KB) by construction, so it
    collects to the driver and enters the plan as one nested array
    literal; assignment is then an ``array_max`` fold over per-centroid
    cosines — a pure projection the scan task computes in place. The
    earlier formulation (crossJoin + per-id row_number window) pushed
    corpus×k rows through an Exchange just to pick each row's max: at
    100 TB that shuffle IS the job, and it carries zero information the
    scan didn't already have. Tie-break on equal cosine is the LOWEST
    centroid_id (struct max on (csim, -position)), matching the window
    ``ORDER BY csim DESC, centroid_id`` the oracle replays."""
    # fan_out: the k-wide cosine fold is interpreted (higher-order fns
    # have no codegen) narrow compute — an unsplittable one-file scan
    # would pin it to one core (guide §2.5); no-op on an already-wide
    # corpus, and a pure projection downstream keeps results identical.
    corpus = fan_out(corpus)
    rows = _centroid_rows(cents)
    # one parsed expression, not per-element F.lit composition (the
    # float_matrix_lit rationale: ~1 py4j round trip instead of k)
    ids = F.expr(
        "array(" + ",".join(str(int(r.centroid_id)) for r in rows) + ")"
    )
    cvecs = float_matrix_lit([[float(x) for x in r.cvec] for r in rows])
    vec = F.col(vec_col)
    scored = F.transform(
        cvecs,
        lambda cv, i: F.struct(
            cosine(vec, cv).alias("csim"), (-i).alias("neg_pos")
        ),
    )
    best_pos = -F.array_max(scored)["neg_pos"]
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(ids, (best_pos + 1).cast("int")).cast("int").alias("centroid_id"),
    )


def _query_probes(
    queries: DataFrame, cents, *, nprobe: int, query_id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, qvec, centroid_id): each query's nprobe nearest
    centroid buckets."""
    return (
        queries.crossJoin(cents)
        .select(
            query_id_col,
            F.col(vec_col).alias("_qvec"),
            "centroid_id",
            cosine(vec_col, "cvec").alias("csim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(F.col("csim").desc(), "centroid_id")
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select(query_id_col, "_qvec", "centroid_id")
    )


def _rank_probed(
    assigned: DataFrame,
    probes: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact-rank the probed buckets' candidates per query."""
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        query_id_col,
        id_col,
        F.round(cosine(vec_col, "_qvec"), 9).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "score", F.col("rn").alias("rank"))
    )


IVF_APPENDS_SUBDIR = "appends"


def _bucket_layout(
    assigned: DataFrame,
    files_per_bucket: int | None,
    *,
    n_buckets: int,
    id_col: str,
) -> DataFrame:
    """Optionally repartition index rows on (centroid_id, id-hash salt)
    before a ``partitionBy`` write, bounding each bucket directory to
    ``files_per_bucket`` files (each (bucket, salt) pair lands in
    exactly one task). None = pass through (no shuffle, one file per
    (task, bucket) pair)."""
    if files_per_bucket is None:
        return assigned
    salt = F.pmod(F.hash(F.col(id_col)), F.lit(files_per_bucket))
    return assigned.repartition(
        max(n_buckets * files_per_bucket, 1), F.col("centroid_id"), salt
    )


def _write_append_batch(spark, rows: DataFrame, dest: str) -> None:
    """Write an index append batch ``partitionBy(centroid_id)`` under
    its idempotent ``batch-{token}`` directory — then REMOVE the
    directory again if the batch was empty. The dynamic-partition
    writer emits only ``_SUCCESS`` for a zero-row frame (no parquet
    footers, no partition subdirs), and such a file-less directory
    breaks schema inference for any later reader; a replayed empty
    micro-batch (the streaming front doors append every batch id)
    must not poison the index. Detecting emptiness AFTER the write
    costs one directory listing instead of an extra Spark job.

    One keyed repartition bounds each bucket directory to ONE file: a
    bare partitionBy write emits a file per (task × bucket) pair, and
    with the batch fanned out to cluster parallelism upstream that is
    tasks×k small files whose open/list cost every later probe pays
    (the ``files_per_bucket`` lesson). Appends are batch-sized, so one
    file per touched bucket is the right layout at any scale."""
    rows.repartition(F.col("centroid_id")).write.partitionBy(
        "centroid_id"
    ).mode("overwrite").parquet(dest)
    has_data = any(
        is_dir and name.startswith("centroid_id=")
        for name, is_dir in fsio.child_entries(spark, dest)
    )
    if not has_data:
        fsio.delete(spark, dest)


def _union_appends(
    spark,
    base: DataFrame,
    appends_dir: str,
    probed: list | None,
    *,
    exclude: str | None = None,
) -> DataFrame:
    """Union every ``batch-*`` append directory onto the probed base
    scan, each scan pruned by the same literal partition filter (the
    shared tail of :func:`ivf_topk_indexed` and ``ivfpq_topk``).
    ``probed=None`` skips the filter — the full-state readers
    (:func:`semantic_index_state`) want every bucket. ``exclude``
    names one batch directory to skip — a replayed idempotent append
    must not see ITS OWN previous write as history
    (:func:`semantic_index_append`). Batch directories are read with
    the BASE table's schema: inference is redundant work per
    directory, and a legacy file-less empty append
    (pre-:func:`_write_append_batch` writers) then reads as an
    empty frame instead of failing every probe of the index.
    Superseded-cluster exclusion markers (written by reorder rewrites
    — see :func:`_load_reorder_exclusions`) subtract each append's
    re-homed clusters from its scan."""
    out = base
    names = _batch_names(spark, appends_dir)
    excl = (
        _load_reorder_exclusions(spark, appends_dir.rsplit("/", 1)[0])
        if names
        else {}
    )
    for name in names:
        if exclude is not None and name == exclude:
            continue
        batch = spark.read.schema(base.schema).parquet(f"{appends_dir}/{name}")
        gone = excl.get(name)
        if gone:
            batch = batch.filter(~F.col("centroid_id").isin(gone))
        if probed is not None:
            batch = batch.filter(F.col("centroid_id").isin(probed))
        out = out.unionByName(batch)
    return out


def _refuse_rebuild_over_mutations(
    spark, index_path: str, kind: str, orphaned: str
) -> None:
    """Refuse to rebuild an index's base while appends or tombstones
    are pending: the reader unions base + appends, so a new base would
    orphan the appends' ``orphaned`` rows, and the tombstones would go
    on filtering the NEW corpus's ids."""
    if fsio.exists(spark, f"{index_path}/{IVF_APPENDS_SUBDIR}"):
        raise ValueError(
            f"{kind} index at {index_path} has appended batches; rebuilding "
            f"the base would orphan their {orphaned} (the reader unions "
            "base + appends). Delete the index directory for a full rebuild."
        )
    if fsio.exists(spark, f"{index_path}/{DELETES_SUBDIR}"):
        raise ValueError(
            f"{kind} index at {index_path} has pending tombstones; rebuilding "
            "the base would leave them filtering the NEW corpus's ids. "
            "Delete the index directory for a full rebuild."
        )


def ivf_index_delete(
    spark,
    index_path: str,
    ids: DataFrame,
    *,
    id_col: str = "vec_id",
    batch_token: str | None = None,
) -> str | None:
    """Tombstone-delete vectors from a persisted IVF or IVF-PQ index —
    the takedown/right-to-erasure path every long-lived 100 TB index
    needs: removing a handful of documents must not cost a full-corpus
    rebuild, and must not wait for one either.

    ``ids`` (a one-column-relevant frame; ``id_col`` is taken) is
    written DISTINCT under an idempotent ``deletes/batch-{token}``
    subdirectory. Probes (:func:`ivf_topk_indexed`,
    ``quantization.ivfpq_topk``) anti-join the tombstone set (a
    broadcast — tombstones are takedown-sized by assumption; a
    mass-delete should be followed by a compaction, which is the
    actual rewrite) so deleted vectors stop surfacing IMMEDIATELY,
    while the index files are untouched. A full compaction
    (``keep_newest=False``) applies tombstones physically and consumes
    them; a streaming keep-newest compaction applies them to the
    merged base but leaves the tombstone set in place (the kept-back
    append batch may still hold the row — consuming the tombstone
    would resurrect it).

    Deleting an id and APPENDING it again before a full compaction is
    unsupported: the tombstone outranks the re-append until consumed.
    Serialized against appends/compactions/other deletes by the shared
    index lock. Returns the batch token, or None when ``ids`` was
    empty (an empty tombstone directory would break later readers'
    schema inference, same guard as :func:`_write_append_batch`)."""
    return index_delete(
        spark, index_path, ids, id_col=id_col, batch_token=batch_token
    )


def _apply_tombstones(
    spark, df: DataFrame, index_path: str, *, id_col: str | None = None
) -> DataFrame:
    """Filter tombstoned ids out of ``df`` via a broadcast anti-join.
    ``id_col`` renames the tombstone column to the probe's id column
    (they match by contract — the delete was made with the index's id
    column — but probes pass theirs explicitly); None joins on the
    stored name (the compaction path, which has no id_col in scope and
    fails loudly on a genuine mismatch)."""
    t = _read_tombstones(spark, index_path)
    if t is None:
        return df
    key = id_col or t.columns[0]
    if id_col is not None:
        t = t.withColumnRenamed(t.columns[0], id_col)
    return df.join(F.broadcast(t), key, "left_anti")


def _ivf_centroid_checksum(cents) -> str:
    """Deterministic digest of the centroid table's contents (id-sorted
    values, driver-side over k×dim floats — a few KB). Parquet round
    trips floats exactly, so build-time and read-back digests agree.
    Accepts a DataFrame or pre-collected rows (``_centroid_rows``)."""
    rows = _centroid_rows(cents)
    payload = repr([(r.centroid_id, [float(x) for x in r.cvec]) for r in rows])
    return hashlib.md5(payload.encode()).hexdigest()


def semantic_dedup(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-prune, after
    Abbas et al. 2023's public recipe): assign every embedding to its
    nearest coarse centroid, generate candidate pairs only WITHIN each
    cluster, and drop every vector that has a lower-id near-duplicate
    (exact cosine ≥ ``threshold``) in its cluster. Returns the corpus
    ids with their cluster and a ``kept`` flag.

    Semantics are deterministic by construction: the survivor of a
    near-dup group is the LOWEST id with no lower-id neighbor — i.e.
    ``kept(x) ⇔ ¬∃ y: cluster(y)=cluster(x) ∧ y<x ∧ cos(x,y) ≥ τ`` —
    a pure function of (vectors, centroids), reproduced exactly by the
    DuckDB oracle. Note the rule is greedy per-pair, not transitive:
    in a chain a~b~c without a~c, b drops (neighbor a) and c drops
    (neighbor b, even though b itself dropped) — the published recipe's
    behavior, documented here so nobody mistakes it for connected
    components (use operators.dedup.connected_components over the pair
    set when group semantics are required).

    Scale shape: assignment is the zero-shuffle array-fold argmax
    (:func:`_assign_to_centroids`); pair generation is the grouped
    bucket expansion keyed by cluster id — within-cluster quadratic
    cost is SemDeDup's nature, CONTROLLED by the centroid count (pick
    k ∝ N/target_cluster_size so clusters stay bounded as the corpus
    grows; pass a better-fitted table via ``cents`` for tighter clusters
    at the same k). The verification join touches candidate pairs
    only. Every within-cluster pair is compared (no chunk cap): the
    cluster is the only blocking, so capping would skip genuine
    comparisons and break the exact kept rule the oracle verifies."""
    if cents is None:
        cents = _md5_sample_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    assigned = _assign_to_centroids(corpus, cents, id_col=id_col, vec_col=vec_col)
    # the kept computation reads the assignment FOUR times (pair
    # candidates, both vector sides, final left join) — without a cut
    # the k-fold argmax subtree is duplicated 4x in the physical plan
    # (8 source scans in the r15 before-plan with the planted union).
    # Lazy: the caller's one action materializes it, no extra job.
    assigned = assigned.localCheckpoint(eager=False)
    return _semantic_kept_flags(
        assigned,
        None,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    ).select(id_col, "centroid_id", "kept")


def _semantic_kept_flags(
    batch_assigned: DataFrame,
    hist: DataFrame | None,
    *,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The SemDeDup greedy survivor rule for one assigned batch:
    ``kept(x) ⇔ ¬∃ y earlier than x in x's cluster with cos(x,y) ≥ τ``
    where *earlier* means a history row (any id — :func:`semantic_dedup`
    documents that dropped rows still drop later rows) or a lower-id
    row of the same batch. ``hist=None`` is the batch-only case, i.e.
    exactly :func:`semantic_dedup`'s rule (the shared core keeps the
    rebuild operator and the incremental index
    (:func:`semantic_index_append`) in lockstep by construction).

    Inputs carry (id, vec, centroid_id); the history comparison is the
    within-cluster candidate join keyed on ``centroid_id`` — cost
    Σ_c |batch_c|·|hist_c|, SemDeDup's nature, controlled by the
    centroid count. Returns batch rows as (id, vec, centroid_id,
    kept)."""
    sim = F.round(
        dot("vec_a", "vec_b")
        / (F.col("_norm_a") * F.col("_norm_b")),
        9,
    )
    cands = _bucket_member_pairs(
        batch_assigned.select(F.col(id_col), F.col("centroid_id")),
        ["centroid_id"],
        id_col,
    ).select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
    va = batch_assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        l2_norm(vec_col).alias("_norm_a"),
    )
    vb = batch_assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        l2_norm(vec_col).alias("_norm_b"),
    )
    dropped = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .filter(sim >= threshold)
        .select(F.col("id_b").alias(id_col))
    )
    if hist is not None:
        ha = hist.select(
            F.col("centroid_id"),
            F.col(vec_col).alias("vec_a"),
            l2_norm(vec_col).alias("_norm_a"),
        )
        bb = batch_assigned.select(
            F.col(id_col),
            F.col("centroid_id"),
            F.col(vec_col).alias("vec_b"),
            l2_norm(vec_col).alias("_norm_b"),
        )
        dropped = dropped.unionByName(
            bb.join(ha, "centroid_id").filter(sim >= threshold).select(F.col(id_col))
        )
    dropped = dropped.distinct().withColumn("_dropped", F.lit(True))
    return (
        batch_assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def cluster_profile(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster CORPUS MAP: (centroid_id, n_members, member_share,
    exemplar_id, mean_norm) — the cluster-level statistics a curation
    planner reads before setting SemDeDup thresholds or mixture
    weights (cluster size distribution says where the near-dup mass
    lives; a norm outlier cluster flags encoder failures pooled by the
    assignment; the exemplar id is the drill-down handle). Abbas et
    al. 2023 set their dedup budget per cluster from exactly this
    shape.

    Scale: one zero-shuffle argmax assignment (the centroid table
    rides as a literal) + ONE keyed aggregation with map-side
    partials; the share/mean divisions run over the k-row result.
    Cross-engine determinism: per-row norms enter as exact
    DECIMAL(18,6) micro-units and both divisions use the integer
    round-half-up form ``(2s + n) div (2n)`` (the daily_value_trend
    pattern — double-quotient rounding diverges at .5 boundaries,
    and share quotients like 62/1000 have exactly the short
    expansions that hit them)."""
    if cents is None:
        cents = _md5_sample_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    assigned = _assign_to_centroids(
        corpus.select(F.col(id_col), F.col(vec_col)),
        _centroid_rows(cents),
        id_col=id_col,
        vec_col=vec_col,
    )
    nmicro = (
        l2_norm(vec_col).cast("decimal(18,6)") * 1_000_000
    ).cast("long")
    agg = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.col(id_col)).alias("exemplar_id"),
        F.sum(nmicro).alias("_smicro"),
    )
    total = agg.agg(F.sum("n_members").alias("_total"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "centroid_id",
            "n_members",
            F.expr(
                "CAST((2 * n_members * 1000000 + _total) DIV (2 * _total)"
                " AS DOUBLE) / 1000000"
            ).alias("member_share"),
            "exemplar_id",
            F.expr(
                "CAST((2 * _smicro + n_members) DIV (2 * n_members)"
                " AS DOUBLE) / 1000000"
            ).alias("mean_norm"),
        )
    )


MAX_DECONTAMINATION_BENCHMARK = 4096


def embedding_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float = 0.6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag every corpus row whose
    embedding sits within ``threshold`` cosine of ANY benchmark
    vector. The n-gram passes (``benchmark_decontamination``,
    ``cross_corpus_decontamination``) catch verbatim and token-level
    paraphrase leakage; this is the third rung — a reworded eval
    question shares no 5-gram and little trigram mass with its source
    but its embedding barely moves, which is how modern decontamination
    audits (e.g. the embedding-similarity checks in GPT-4/Llama eval
    cards) define contamination.

    Returns (id, nearest_benchmark_id, benchmark_cos, kept): the
    nearest benchmark vector (9dp-rounded cosine, ties to the LOWEST
    benchmark id in its NATIVE order), and kept = cos < threshold.
    Scoring a corpus row needs the full benchmark sweep, so the max is
    as informative as any single hit — and the argmax gives the audit
    trail (which eval question leaked). ``nearest_benchmark_id``
    preserves the benchmark frame's own id type (string doc keys
    included — the argmax fold is keyed by POSITION in the id-sorted
    literal, and the winning position maps back through a same-typed
    id literal).

    Scale shape: benchmark sets are small by nature (an eval suite is
    10²-10⁴ rows) — the vectors collect ONCE and ride the plan as one
    parsed matrix literal (:func:`float_matrix_lit`), so scoring is a
    pure zero-shuffle projection at scan cost over a corpus of any
    size: the corpus never shuffles and never crosses an Exchange
    (the ``_assign_to_centroids`` plan shape). Guarded at
    ``MAX_DECONTAMINATION_BENCHMARK`` rows — past that the literal
    stops being free; block the tagged corpus ∪ benchmark union with
    :func:`hyperplane_lsh_near_dup_pairs` instead.
    """
    rows = sorted(
        benchmark.select(
            F.col(id_col).alias("bid"), F.col(vec_col).alias("bvec")
        ).collect(),
        key=lambda r: r.bid,
    )
    if len(rows) > MAX_DECONTAMINATION_BENCHMARK:
        raise ValueError(
            f"benchmark set has {len(rows)} rows; the literal-fold plan is "
            f"sized for <= {MAX_DECONTAMINATION_BENCHMARK}. Block the "
            "tagged corpus/benchmark union with hyperplane_lsh_near_dup_pairs "
            "for large benchmark corpora."
        )
    bid_type = benchmark.schema[id_col].dataType
    if not rows:
        # nothing to leak against — everything is kept, with the same
        # schema (the empty-map-literal lesson: degenerate inputs must
        # not fail analysis); the null id carries the BENCHMARK frame's
        # id type, not a hardcoded long
        return corpus.select(
            F.col(id_col),
            F.lit(None).cast(bid_type).alias("nearest_benchmark_id"),
            F.lit(None).cast("double").alias("benchmark_cos"),
            F.lit(True).alias("kept"),
        )
    bids = F.lit([r.bid for r in rows])
    bvecs = float_matrix_lit([[float(x) for x in r.bvec] for r in rows])
    vec = F.col(vec_col)
    # argmax on the ROUNDED cosine (ties to lowest benchmark id via
    # -position over the id-sorted literal) so both engines agree on
    # the argmax itself, not just the winning score — the
    # top_revenue_suppliers rule
    scored = F.transform(
        bvecs,
        lambda bv, i: F.struct(
            F.round(cosine(vec, bv), 9).alias("csim"), (-i).alias("neg_pos")
        ),
    )
    best = F.array_max(scored)
    return corpus.select(
        F.col(id_col),
        F.element_at(bids, (-best["neg_pos"] + 1).cast("int"))
        .cast(bid_type)
        .alias("nearest_benchmark_id"),
        best["csim"].alias("benchmark_cos"),
        (best["csim"] < F.lit(float(threshold))).alias("kept"),
    )


def build_semantic_index(
    corpus: DataFrame,
    index_path: str,
    *,
    threshold: float = 0.9,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
    files_per_bucket: int | None = None,
) -> None:
    """Materialize a persisted SemDeDup index: the corpus with its
    cluster assignment AND its greedy ``kept`` verdict, written
    ``partitionBy(centroid_id)``, plus the centroid table and a config
    manifest pinning (centroid checksum, threshold). The incremental
    lifecycle every other blocking structure already has (LSH
    ``dedup_incremental``, IVF/IVF-PQ appends), closing round-8
    verdict missing #3: a daily embedding feed folds in via
    :func:`semantic_index_append` at batch cost instead of re-paying
    full cluster-and-prune over history.

    The threshold is part of the index config, not a read-time
    parameter: kept flags computed at different thresholds are not
    comparable, so mutating it requires a rebuild (delete the
    directory). Same append/tombstone guards as
    :func:`build_ivf_index`; deletes ride :func:`ivf_index_delete`
    (generic id-tombstones) and compaction rides the shared
    crash-safe :func:`_compact_assigned_locked`.

    Rows are assigned with the exact flat argmax fold
    (:func:`_assign_to_centroids`), the same fold every append, reorder
    recompute and verdict read-back replays against the frozen
    centroids."""
    spark = corpus.sparkSession
    _refuse_rebuild_over_mutations(spark, index_path, "semantic", "kept flags")
    if cents is None:
        cents = _md5_sample_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    cent_rows = _centroid_rows(cents)
    checksum = _ivf_centroid_checksum(cent_rows)
    # localCheckpoint: the kept computation reads the assignment FOUR
    # times (pair generation + both vector sides + the verdict join) —
    # each re-running the k-wide argmax fold over the corpus. Pinning
    # it measured 8.1 s → 6.2 s at sf0.1/k=128. LAZY: the assigned
    # write below is the one consumer — it materializes the checkpoint
    # inside its own job (the fold runs once, later plan references
    # read the stored blocks), instead of a separate full-corpus
    # checkpoint job followed by the write job.
    assigned = _assign_to_centroids(
        corpus, cent_rows, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    rows = _semantic_kept_flags(
        assigned, None, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    rows = _bucket_layout(
        rows, files_per_bucket, n_buckets=n_centroids, id_col=id_col
    )

    # The four persisted pieces are mutually independent once the
    # assignment is checkpointed — run them as concurrent jobs (guide
    # §2.6: actions are only sequential because driver code calls them
    # sequentially) instead of paying four job latencies end to end.
    # Crash semantics are unchanged: a partially-built index was
    # already unreadable-until-delete in every ordering (the appends/
    # tombstone guards above gate rebuilds, not partial builds).
    def _w_centroids() -> None:
        _centroid_rows_df(spark, cent_rows).write.mode("overwrite").parquet(
            f"{index_path}/centroids"
        )

    def _w_config() -> None:
        local_rows_df(
            spark,
            "centroid_checksum string, threshold double",
            [(checksum, float(threshold))],
        ).write.mode("overwrite").parquet(f"{index_path}/config")

    def _w_assigned() -> None:
        rows.write.partitionBy("centroid_id").mode("overwrite").parquet(
            f"{index_path}/assigned"
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(f) for f in (_w_centroids, _w_config, _w_assigned)
        ]
        for fut in futs:
            fut.result()


SEMANTIC_REORDER_TOKENS_SUBDIR = "reorder-tokens"
SEMANTIC_REORDER_EXCL_SUBDIR = "reorder-exclusions"


def _load_reorder_exclusions(spark, index_path: str) -> dict:
    """Map of append-directory name → sorted cluster ids whose rows a
    reorder rewrite has re-homed into the base (the superseded-cluster
    markers :func:`_apply_reorder_stage` writes). Readers subtract
    these clusters from each append scan — without the markers the
    re-homed rows would be counted twice (once in the swapped base
    partition, once still sitting in the append directory, which the
    reorder deliberately does NOT rewrite: surgically deleting cluster
    subsets out of append directories would break their idempotent
    replay contract). One driver listing + one tiny JSON read per
    marker; indexes that never reorder never have the directory."""
    root = f"{index_path}/{SEMANTIC_REORDER_EXCL_SUBDIR}"
    out: dict = {}
    for name, is_dir in fsio.child_entries(spark, root):
        if is_dir:
            continue
        m = fsio.read_json(spark, f"{root}/{name}")
        out.setdefault(m["append"], set()).update(int(c) for c in m["clusters"])
    return {k: sorted(v) for k, v in out.items()}


def _apply_reorder_stage(spark, index_path: str, stage_name: str) -> None:
    """Commit a fully-staged reorder rewrite: write a superseded-cluster
    exclusion marker for every append directory the manifest names
    (their affected-cluster rows now live in the staged copies — from
    the first swapped directory onward a reader must stop counting the
    append-side originals), swap each affected cluster's partition
    directory from the stage into ``assigned/`` (delete-then-rename per
    cluster — each cluster's verdicts are self-contained, so a crash
    mid-loop leaves every cluster either wholly old or wholly new),
    record the batch token as consumed, then drop the stage.
    Idempotent: marker writes are same-content overwrites and
    re-running skips clusters whose stage directory is already gone,
    so crash recovery just calls it again."""
    m = fsio.read_json(spark, f"{index_path}/{stage_name}/_MANIFEST")
    for name in m.get("superseded", []):
        fsio.write_json(
            spark,
            f"{index_path}/{SEMANTIC_REORDER_EXCL_SUBDIR}/{name}--{m['token']}",
            {"append": name, "clusters": [int(c) for c in m["clusters"]]},
        )
    # Swap clusters CONCURRENTLY (guide §2.6 applied to FS metadata):
    # each swap is 3-4 FS round-trips, and ~k of them in sequence is
    # pure driver latency (~1 s at k=128 through py4j, worse on an
    # object store; the fsio wrappers take the os fast path locally).
    # Per-cluster atomicity is unchanged — swaps touch disjoint
    # directories and each cluster is still wholly old or wholly new on
    # a crash; the exclusion markers above are all written first.
    def _swap(c) -> None:
        src = f"{index_path}/{stage_name}/centroid_id={c}"
        if not fsio.exists(spark, src):
            return  # already swapped by the run that crashed
        dst = f"{index_path}/assigned/centroid_id={c}"
        fsio.delete(spark, dst)
        fsio.rename(spark, src, dst)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        for res in pool.map(_swap, m["clusters"]):
            pass  # re-raise the first failure, if any
    fsio.write_text(
        spark,
        f"{index_path}/{SEMANTIC_REORDER_TOKENS_SUBDIR}/{m['token']}",
        "",
    )
    fsio.delete(spark, f"{index_path}/{stage_name}")


def _recover_semantic_reorder(spark, index_path: str) -> None:
    """Resume any crashed reorder rewrite (run at mutator entry, under
    the lock): a stage with a ``_MANIFEST`` was fully written — finish
    its swap; a stage without one never became visible — delete it."""
    for name, is_dir in fsio.child_entries(spark, index_path):
        if not (is_dir and name.startswith(".reorder-stage-")):
            continue
        if fsio.exists(spark, f"{index_path}/{name}/_MANIFEST"):
            _apply_reorder_stage(spark, index_path, name)
        else:
            fsio.delete(spark, f"{index_path}/{name}")


def _semantic_reorder_append_locked(
    spark,
    index_path: str,
    assigned: DataFrame,
    probed: list,
    threshold: float,
    *,
    id_col: str,
    vec_col: str,
    token: str,
) -> None:
    """Recompute-mode append (already under the lock): re-verdict ONLY
    the batch's clusters under the full rebuild rule — merged
    history+batch rows read from base ∪ pending appends (partition-
    pruned to the probed clusters), kept ⇔ no lower-id near-dup — and
    swap those partition directories in via a staged, manifested,
    token-idempotent rewrite. Pending appends stay in place: the
    manifest names them as superseded for the probed clusters, and
    :func:`_apply_reorder_stage` writes per-append exclusion markers
    (consumed by :func:`_union_appends` and the next compaction) so
    their re-homed rows are never double-counted. Cost is therefore
    ∝ batch + affected clusters, plus one id-column scan of the index
    for the duplicate-id guard — never a full base rewrite.

    One caveat a multi-producer feed inherits from compaction itself:
    a superseded append that is REPLAYED afterwards (its producer
    crashed pre-checkpoint, then retried) finds its own rows already
    re-homed in the base and fails the duplicate-id guard loudly.
    Within one streaming query this cannot happen (foreachBatch
    serializes epochs, so only the newest batch is replayable and a
    reorder only runs while processing a newer batch); independent
    producers should reorder only at quiesce points — the same rule
    full compaction already imposes."""
    appends_dir = f"{index_path}/{IVF_APPENDS_SUBDIR}"
    # duplicate-id guard over the FULL index state — not just the
    # probed clusters: a re-embedded doc whose vector moved clusters
    # would otherwise land a second copy of its id in a new cluster
    # and silently break the rebuild-parity contract. Column-pruned id
    # scan on the big side, batch-sized broadcast on the probe side.
    # One read of the base serves the guard and the history below: each
    # untyped parquet read runs its own footer-inference job.
    base = spark.read.parquet(f"{index_path}/assigned")
    all_ids = _union_appends(spark, base, appends_dir, None)
    all_ids = _apply_tombstones(spark, all_ids, index_path, id_col=id_col)
    dup = (
        all_ids.select(F.col(id_col))
        .join(F.broadcast(assigned.select(F.col(id_col))), id_col)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"semantic index at {index_path}: batch id {dup[0][0]} already "
            "exists in the index - appending an existing id is unsupported "
            "(replays of a consumed reorder token are skipped via its "
            "token marker, so this is a genuinely duplicate feed)."
        )
    hist = _union_appends(
        spark, base.filter(F.col("centroid_id").isin(probed)), appends_dir, probed
    )
    hist = _apply_tombstones(spark, hist, index_path, id_col=id_col)
    merged = hist.select(
        F.col(id_col), F.col(vec_col), F.col("centroid_id")
    ).unionByName(
        assigned.select(F.col(id_col), F.col(vec_col), F.col("centroid_id"))
    )
    kept = _semantic_kept_flags(
        merged, None, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    # one keyed shuffle of the (batch + affected clusters)-sized frame
    # buys one file per swapped-in partition directory — a bare
    # partitionBy would emit (tasks × clusters) small files and
    # permanently degrade the base layout the build may have bounded
    # with files_per_bucket (the swap REPLACES those directories)
    kept = _bucket_layout(kept, 1, n_buckets=max(len(probed), 1), id_col=id_col)
    pending = [
        name
        for name, is_dir in fsio.child_entries(spark, appends_dir)
        if is_dir and name.startswith("batch-")
    ]
    stage_name = f".reorder-stage-{token}"
    stage = f"{index_path}/{stage_name}"
    kept.write.partitionBy("centroid_id").mode("overwrite").parquet(stage)
    # manifest LAST: its presence marks the stage complete (recovery
    # deletes manifest-less stages as invisible orphans)
    fsio.write_json(
        spark,
        f"{stage}/_MANIFEST",
        {
            "token": token,
            "clusters": [int(c) for c in probed],
            "superseded": pending,
        },
    )
    _apply_reorder_stage(spark, index_path, stage_name)


def _footer_hist_max_ids(
    spark, index_path: str, probed: list, id_col: str, *, exclude: str
) -> dict | None:
    """Per-probed-cluster UPPER BOUND on history's max id, read from
    parquet FOOTER statistics driver-side (zero Spark jobs) — the
    monotone-append guard's prescreen. Covers the same directories the
    guard's exact job would scan: ``assigned/centroid_id=c`` plus every
    pending ``appends/batch-*/centroid_id=c`` except the fold's own
    ``exclude`` directory. Footer max ≥ the true max of any row subset,
    and tombstones / reorder exclusion markers only REMOVE rows — so
    ``footer_max < batch_min`` PROVES the exact guard would pass, while
    a trip only falls back to the exact job (never a wrong refusal,
    never a wrong pass). Returns None — caller must run the exact job —
    when the index is not on the driver-local filesystem, the id column
    is not a plain int type (string stats can be truncated and their
    byte order is not Spark's), any footer lacks statistics, or a
    scanned directory holds parquet files outside its ``centroid_id=``
    subdirectories (a flat legacy layout that :func:`_union_appends`
    reads but a per-cluster footer walk cannot see)."""
    from py_data_pipeline_app_spark.fsio import _local_path

    root = _local_path(spark, index_path)
    if root is None:
        return None
    import os

    import pyarrow.parquet as pq

    tables = [os.path.join(root, "assigned")]
    app_root = os.path.join(root, IVF_APPENDS_SUBDIR)
    if os.path.isdir(app_root):
        tables.extend(
            os.path.join(app_root, name)
            for name in os.listdir(app_root)
            if name.startswith("batch-") and name != exclude
        )
    for t in tables:
        for _, subdirs, files in os.walk(t):
            subdirs[:] = [
                s for s in subdirs
                if not s.startswith(("_", ".", "centroid_id="))
            ]
            if any(
                f.endswith(".parquet") and not f.startswith(("_", "."))
                for f in files
            ):
                return None
    dirs = [
        (c, os.path.join(t, f"centroid_id={c}"))
        for t in tables
        for c in probed
    ]
    out: dict = {}
    for c, d in dirs:
        if not os.path.isdir(d):
            continue
        for fn in os.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            try:
                md = pq.ParquetFile(os.path.join(d, fn)).metadata
            except Exception:  # noqa: BLE001 — prescreen only; exact job covers
                return None
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == id_col
                ),
                None,
            )
            if idx is None or md.schema.column(idx).physical_type not in (
                "INT32",
                "INT64",
            ):
                return None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                if c not in out or st.max > out[c]:
                    out[c] = st.max
    return out


def semantic_index_append(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_token: str | None = None,
    allow_reorder: bool = False,
) -> str:
    """Fold a NEW embedding batch into a persisted
    :func:`build_semantic_index`: assign the batch against the
    index's frozen centroids (work ∝ |batch|), compare it against
    within-cluster HISTORY only (base + earlier appends, partition-
    pruned to the batch's clusters — un-touched clusters cost zero
    I/O) plus the batch's own lower-id pairs, and land the rows with
    their kept verdicts under an idempotent ``appends/batch-{token}``
    directory. History rows' verdicts never change — the property
    that makes the index append-only.

    That property requires arrival order ≡ id order PER CLUSTER: a
    batch row with an id below an existing same-cluster row would,
    under the rebuild rule, be able to flip that row's verdict — so
    the append REFUSES (loudly, before writing) if any cluster's
    incoming min id ≤ its history max id. Re-crawl feeds with
    monotonically increasing ids (the normal case) always pass.

    ``allow_reorder=True`` lifts the refusal for multi-producer feeds
    with interleaved ids: when the monotone check trips, the append
    switches to RECOMPUTE mode — the batch's clusters (and only
    those: partition-pruned read over base ∪ pending appends,
    per-cluster directory swap) are re-verdicted under the full
    rebuild rule over merged history+batch, and the rewrite commits
    through a staged, manifested protocol with a consumed-token marker
    (a foreachBatch replay of a committed token is a no-op — the rows
    are already merged into the base, so the idempotent-directory
    trick can't cover it). Pending appends stay in place: per-append
    superseded-cluster exclusion markers (consumed by
    :func:`_union_appends` and the next compaction) keep their
    re-homed rows from being double-counted, so reorder cost is
    ∝ batch + affected clusters even with appends pending, plus one
    id-column scan of the index for the duplicate-id guard.
    History verdicts in affected clusters CAN flip in this mode —
    that is the point; the parity contract below still holds exactly.
    Monotone batches take the ordinary fast path unchanged.

    Parity contract (oracle-checked end-to-end): build(A) then
    append(B) ≡ :func:`semantic_dedup` over A∪B with the same
    centroids and threshold. Tombstoned ids are excluded from the
    history side — a deleted row no longer drops new arrivals
    ("forget" semantics, matching the LSH index's documented
    delete behavior); appending an id already in the index is
    unsupported (the reader unions). Serialized by the shared atomic
    index lock; drift-checked against the config checksum. Returns
    the batch token.

    The batch is assigned with the build's exact flat fold. An index
    whose config records any other ``assign_mode`` (the approximate
    two-level fold earlier builds could pick) is refused before any
    write: appending flat-assigned rows to it would compare them
    against the wrong clusters. Rebuild such an index."""
    with _acquire_index_lock(spark, index_path, "semantic append"):
        _recover_semantic_reorder(spark, index_path)
        if batch_token is not None and fsio.exists(
            spark,
            f"{index_path}/{SEMANTIC_REORDER_TOKENS_SUBDIR}/{batch_token}",
        ):
            return batch_token  # reorder replay: already merged into base
        # driver-side metadata reads: KB-sized tables, no Spark job
        # per read (guide §5 — scheduler round-trips dominated the
        # append's wall time at sf0.1)
        cent_rows = _centroid_rows(
            fsio.read_small_parquet_rows(spark, f"{index_path}/centroids")
        )
        cfg = fsio.read_small_parquet_rows(spark, f"{index_path}/config")[0]
        if _ivf_centroid_checksum(cent_rows) != cfg.centroid_checksum:
            raise ValueError(
                f"semantic index at {index_path}: persisted centroids do not "
                "match the checksum recorded at build time - appends assigned "
                "against a different centroid set would compare the wrong "
                "clusters. Rebuild the index (delete the directory) instead."
            )
        threshold = float(cfg.threshold)
        # checked on the SAME config read as the checksum — a second
        # read would add one action to every monotone append (the
        # job-count-pinned hot path). Configs without the column and
        # configs recording "flat" were both built with the flat fold.
        mode = cfg.asDict().get("assign_mode") or "flat"
        if mode != "flat":
            raise ValueError(
                f"semantic index at {index_path} was built with "
                f"assign_mode={mode!r}, an assignment fold the engine no "
                "longer has; appends assign with the flat fold and would "
                "compare rows against the wrong clusters. Rebuild the index "
                "(delete the directory) instead."
            )
        token = batch_token or uuid.uuid4().hex[:12]
        # localCheckpoint: the assignment feeds three consumers (probed
        # cluster list, monotonicity guard, kept computation) — batch-
        # sized, so pinning it beats recomputing the argmax fold thrice.
        # LAZY: the per-cluster stats collect right below is the first
        # consumer and materializes it — eager would be one extra job
        # per append (the fused-probe shape)
        assigned = _assign_to_centroids(
            new_vectors.select(F.col(id_col), F.col(vec_col)),
            cent_rows,
            id_col=id_col,
            vec_col=vec_col,
        )
        assigned = assigned.localCheckpoint(eager=False)
        # ONE job yields the probed-cluster list AND each cluster's
        # batch-min id (the guard's batch side)
        batch_stats = (
            assigned.groupBy("centroid_id")
            .agg(F.min(id_col).alias("_bmin"))
            .collect()
        )
        probed = [r.centroid_id for r in batch_stats]
        bmins = {r.centroid_id: r["_bmin"] for r in batch_stats}
        base = spark.read.parquet(f"{index_path}/assigned").filter(
            F.col("centroid_id").isin(probed)
        )
        # exclude this token's own directory: a foreachBatch replay
        # must not treat its previous (about-to-be-overwritten) write
        # as history — it would trip the monotone guard and drop the
        # whole batch against its own cos=1.0 twin
        hist = _union_appends(
            spark,
            base,
            f"{index_path}/{IVF_APPENDS_SUBDIR}",
            probed,
            exclude=f"batch-{token}",
        )
        hist = _apply_tombstones(spark, hist, index_path, id_col=id_col)
        hist = hist.select(F.col(id_col), F.col(vec_col), F.col("centroid_id"))
        # history side of the guard: footer-statistics prescreen first
        # (driver-side, zero jobs — the normal monotone feed passes it
        # and skips the guard's Spark job entirely); the exact job
        # remains the authority whenever the prescreen cannot PROVE
        # monotonicity (non-local scheme, non-int ids, missing stats,
        # or genuinely interleaved ids)
        hmax = _footer_hist_max_ids(
            spark, index_path, probed, id_col, exclude=f"batch-{token}"
        )
        proved = hmax is not None and all(
            c not in hmax
            or (bmins[c] is not None and hmax[c] < bmins[c])
            for c in probed
        )
        viol: list = []
        if not proved:
            # when footer stats are available AND nothing removes rows
            # from the exact job's scan (no tombstones, no reorder
            # exclusion markers), the int-typed footer max IS the exact
            # history max — decide the violation driver-side instead of
            # scheduling the exact aggregate-join job (up to 4 AQE
            # stage-jobs per tripped guard; sem_reord trips it on every
            # backfill by construction)
            exact_footer = (
                hmax is not None
                and _read_tombstones(spark, index_path) is None
                and not _load_reorder_exclusions(spark, index_path)
            )
            if exact_footer:
                from types import SimpleNamespace

                viol = sorted(
                    (
                        SimpleNamespace(
                            centroid_id=c, _hmax=hmax[c], _bmin=bmins[c]
                        )
                        for c in probed
                        if c in hmax
                        and bmins[c] is not None
                        and hmax[c] >= bmins[c]
                    ),
                    key=lambda v: v.centroid_id,
                )[:1]
            else:
                viol = (
                    hist.groupBy("centroid_id")
                    .agg(F.max(id_col).alias("_hmax"))
                    .join(
                        assigned.groupBy("centroid_id").agg(
                            F.min(id_col).alias("_bmin")
                        ),
                        "centroid_id",
                    )
                    .filter(F.col("_hmax") >= F.col("_bmin"))
                    .limit(1)
                    .collect()
                )
        if viol:
            if allow_reorder:
                _semantic_reorder_append_locked(
                    spark,
                    index_path,
                    assigned,
                    probed,
                    threshold,
                    id_col=id_col,
                    vec_col=vec_col,
                    token=token,
                )
                return token
            v = viol[0]
            raise ValueError(
                f"semantic index at {index_path}: batch id {v._bmin} is not "
                f"above cluster {v.centroid_id}'s history max {v._hmax} - "
                "out-of-order ids could flip already-persisted kept flags "
                "under the rebuild rule. Feed batches in id order (or pass "
                "allow_reorder=True for the recompute-mode append), or "
                "rebuild the index over the merged corpus."
            )
        kept = _semantic_kept_flags(
            assigned, hist, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
        _write_append_batch(
            spark, kept, f"{index_path}/{IVF_APPENDS_SUBDIR}/batch-{token}"
        )
        return token


def semantic_index_state(
    spark, index_path: str, *, id_col: str = "vec_id"
) -> DataFrame:
    """(id, centroid_id, kept) for the whole persisted semantic index:
    base ∪ appended batches, minus tombstones — the same frame
    :func:`semantic_dedup` returns for a from-scratch run over the
    same corpus (the parity the oracle checks). Vectors stay on disk:
    the projection reads only the id/kept columns plus the partition
    value.

    If a crashed reorder rewrite left a manifested stage behind, the
    read first FINISHES it (the idempotent recovery, briefly under the
    index lock) — a mid-commit stage is the one on-disk state where
    base ∪ appends is globally inconsistent (some clusters
    re-verdicted, others not), and without this a pure reader could
    observe it indefinitely until the next mutator ran. A live mutator
    holding the lock raises the usual loud lock error rather than
    returning that inconsistent view; a manifest-LESS stage is an
    in-progress (or orphaned) write that never became visible, so the
    read proceeds normally."""
    if any(
        name.startswith(".reorder-stage-")
        and fsio.exists(spark, f"{index_path}/{name}/_MANIFEST")
        for name, _ in fsio.child_entries(spark, index_path)
    ):
        with _acquire_index_lock(spark, index_path, "reorder crash recovery"):
            _recover_semantic_reorder(spark, index_path)
    base = spark.read.parquet(f"{index_path}/assigned")
    rows = _union_appends(spark, base, f"{index_path}/{IVF_APPENDS_SUBDIR}", None)
    rows = _apply_tombstones(spark, rows, index_path, id_col=id_col)
    return rows.select(
        F.col(id_col), F.col("centroid_id").cast("int").alias("centroid_id"), "kept"
    )


def semantic_index_compact(spark, index_path: str, *, keep_newest: bool = False) -> int:
    """Merge ``appends/batch-*`` into the semantic index's base table —
    verdicts are already final (append-only by the monotone-id
    contract; a reorder rewrite flips verdicts only inside the BASE
    partitions it swaps, and marks the append rows it re-homed with
    exclusion markers the merge subtracts), so the merge is the same
    plain union rewrite as IVF's, and it shares
    :func:`_compact_assigned_locked`'s staged-write +
    manifest + two-rename crash-safety protocol verbatim (recovery at
    every crash point is tested there). Applies and (on full
    compaction) consumes pending tombstones and exclusion markers.
    Returns directories merged + tombstone sets consumed."""
    with _acquire_index_lock(spark, index_path, "semantic compaction"):
        _recover_semantic_reorder(spark, index_path)
        return _compact_assigned_locked(
            spark, index_path, IVF_APPENDS_SUBDIR, keep_newest
        )


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
    files_per_bucket: int | None = None,
) -> None:
    """Materialize the IVF index: the corpus with its bucket
    assignment, written PARTITIONED BY centroid_id (one directory per
    bucket), plus the tiny centroid table.

    This turns :func:`ivf_topk`'s per-call compute pruning into I/O
    pruning: a probing query lists only the nprobe/n_centroids
    partition directories it needs (``PartitionFilters`` in the scan —
    plan-asserted in tests), so at 100 TB the un-probed buckets are
    never read from storage, and the assignment pass (one full corpus
    scan + argmax) is paid once at build time instead of per query
    batch. Default centroids are the deterministic md5-ordered pick of
    :func:`ivf_topk`, so an indexed query returns bit-identical
    results to the on-the-fly operator (parity-tested, same oracle);
    pass ``cents`` to persist another centroid table behind the
    identical probing path.

    New embedding batches append incrementally via
    :func:`ivf_index_append` — a rebuild while appends exist would
    orphan their assignments (the reader unions them), so it fails
    loudly; remove the index directory to truly rebuild.

    ``files_per_bucket`` bounds the file count: a bare
    ``partitionBy`` write emits one file per (task, bucket) pair —
    the classic small-files problem, ~tasks×buckets objects at corpus
    scale. When set, rows are repartitioned on (centroid_id, an
    id-hash salt in [0, files_per_bucket)) first, so each bucket
    directory holds at most ``files_per_bucket`` files at the cost of
    ONE keyed shuffle of the index rows (the layout-control trade
    ``write_training_shards``'s files_per_shard already makes). Leave
    None at demo scale — the shuffle costs more than the files."""
    spark = corpus.sparkSession
    _refuse_rebuild_over_mutations(spark, index_path, "IVF", "assignments")
    if cents is None:
        cents = _md5_sample_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    # collect the k×dim sample ONCE: persisting, checksumming, and the
    # assignment literal each needed the table, and when it is a
    # derived frame every re-collect re-runs the TakeOrdered over the
    # corpus — three full corpus scans at 100 TB for one tiny table
    cent_rows = _centroid_rows(cents)
    checksum = _ivf_centroid_checksum(cent_rows)
    assigned = _assign_to_centroids(
        corpus, cent_rows, id_col=id_col, vec_col=vec_col
    )
    assigned = _bucket_layout(
        assigned, files_per_bucket, n_buckets=n_centroids, id_col=id_col
    )

    # three independent persisted pieces — concurrent jobs (guide
    # §2.6), not three job latencies end to end; the two sidecar
    # tables are driver-literal writes that back-fill idle cores while
    # the corpus-sized assigned write runs
    def _w_centroids() -> None:
        _centroid_rows_df(spark, cent_rows).write.mode("overwrite").parquet(
            f"{index_path}/centroids"
        )

    def _w_config() -> None:
        local_rows_df(
            spark, "centroid_checksum string", [(checksum,)]
        ).write.mode("overwrite").parquet(f"{index_path}/config")

    def _w_assigned() -> None:
        assigned.write.partitionBy("centroid_id").mode("overwrite").parquet(
            f"{index_path}/assigned"
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(f) for f in (_w_centroids, _w_config, _w_assigned)]
        for fut in futs:
            fut.result()


def ivf_index_append(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_token: str | None = None,
) -> str:
    """Fold a NEW embedding batch into a persisted
    :func:`build_ivf_index` without re-assigning the corpus: the batch
    is assigned against the index's own centroids (broadcast join +
    argmax — work ∝ |batch|, never ∝ |corpus|) and written under an
    idempotent ``appends/batch-{token}`` subdirectory in the same
    ``partitionBy(centroid_id)`` layout, so probing prunes appended
    buckets exactly like base buckets. A daily embedding feed pays one
    batch-sized assignment per day instead of a full-corpus rebuild.

    Parity contract (tested + oracle-checked): build(A) then append(B)
    probes bit-identically to build(A∪B) with the same centroids —
    per-row assignment depends only on (vector, centroids).

    Fails loudly if the persisted centroid table no longer matches the
    checksum recorded at build time (config manifest, same
    drift-fail-loudly pattern as the incremental LSH index): vectors
    assigned against different centroid sets NEVER probe consistently,
    which would silently drop true neighbors. Appending a ``vec_id``
    already in the index is unsupported (the reader unions, so the id
    would surface twice). Serialized against other mutators by the
    shared atomic lock marker (a concurrent compaction deleting
    subdirectories mid-append fails loudly instead of silently).
    Returns the batch token."""
    with _acquire_index_lock(spark, index_path, "IVF append"):
        return _ivf_index_append_locked(
            spark,
            index_path,
            new_vectors,
            id_col=id_col,
            vec_col=vec_col,
            batch_token=batch_token,
        )


def _ivf_index_append_locked(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    batch_token: str | None,
) -> str:
    # one driver-side read serves both the drift check and the
    # assignment literal — no Spark job for KB-sized metadata
    cent_rows = _centroid_rows(
        fsio.read_small_parquet_rows(spark, f"{index_path}/centroids")
    )
    cfg = fsio.read_small_parquet_rows(spark, f"{index_path}/config")[0]
    checksum = _ivf_centroid_checksum(cent_rows)
    if checksum != cfg.centroid_checksum:
        raise ValueError(
            f"IVF index at {index_path}: persisted centroids do not match the "
            "checksum recorded at build time - appends assigned against a "
            "different centroid set would silently miss true neighbors. "
            "Rebuild the index (delete the directory) instead."
        )
    token = batch_token or uuid.uuid4().hex[:12]
    assigned = _assign_to_centroids(
        new_vectors.select(F.col(id_col), F.col(vec_col)),
        cent_rows,
        id_col=id_col,
        vec_col=vec_col,
    )
    _write_append_batch(
        spark, assigned, f"{index_path}/{IVF_APPENDS_SUBDIR}/batch-{token}"
    )
    return token


def ivf_index_compact(spark, index_path: str, *, keep_newest: bool = False) -> int:
    """Merge every ``appends/batch-*`` directory into the base
    ``assigned/`` table. Each append adds one directory the probing
    reader must list and scan-plan separately; after many daily feeds
    that per-query listing is the fixed cost — compaction restores the
    single-table layout (and full-size parquet row groups per
    centroid partition).

    Assignments are pure functions of (vector, centroids), so the
    merge is a plain union rewrite — no recomputation. Crash-safe by
    staging + manifest (see :func:`_compact_assigned_locked`): a retry
    after a crash at ANY point either re-merges, finishes the
    interrupted swap, or completes the interrupted cleanup — never
    duplicates rows, never loses the base table. Do not run
    concurrently with appends or probes — EXCEPT inside a streaming
    foreachBatch with ``keep_newest=True``, which leaves the most
    recently WRITTEN batch subdirectory untouched (by modification
    time — tokens are caller-chosen strings, so lexical order proves
    nothing) so the one micro-batch Structured Streaming could still
    replay after a crash keeps overwriting its own append instead of
    racing a deletion (same contract as
    dedup_incremental.compact_index). Serialized against appends by
    the shared atomic lock marker. Returns the number of append
    directories merged plus tombstone directories consumed
    (0 = nothing to do)."""
    with _acquire_index_lock(spark, index_path, "IVF compaction"):
        return _compact_assigned_locked(
            spark, index_path, IVF_APPENDS_SUBDIR, keep_newest
        )


def _compact_assigned_locked(
    spark, index_path: str, appends_subdir: str, keep_newest: bool
) -> int:
    """Shared merge of ``{appends_subdir}/batch-*`` into the base
    ``assigned/`` table (IVF raw vectors and IVF-PQ codes have the
    same layout). Caller holds the index lock.

    Crash-safety protocol (the warehouse ``compact_log`` design, for a
    swap-in-place base): the merged copy is fully written to
    ``assigned-compact`` WITH a ``_MANIFEST`` sidecar naming the batch
    subdirectories whose rows it contains, then a two-rename swap
    (base → ``assigned-old``, staged → base) makes it the base, then
    cleanup deletes the manifested appends + the old base + the
    manifest. Every entry first RECOVERS whatever a crash left:

    - base missing, staged copy complete (``_SUCCESS`` + manifest):
      the swap was interrupted — finish it, then run its cleanup.
    - base missing, only ``assigned-old`` present: roll the old base
      back (a staged copy without a manifest never starts a swap).
    - stale ``assigned-compact`` beside a live base: discarded (its
      manifested appends were never deleted; the retry re-merges).
    - manifest sitting INSIDE the base: the swap completed but cleanup
      was interrupted — delete exactly the manifested appends (their
      rows are in the base; without the manifest a reader would see
      them twice) and the leftover ``assigned-old``.

    Tombstones (:func:`ivf_index_delete`) ride the same protocol: the
    merge always APPLIES the pending tombstone set to the rewritten
    base, and a full compaction (``keep_newest=False``) also CONSUMES
    the tombstone directories — they join the manifest, so a crash
    between swap and cleanup deletes exactly the consumed sets on
    retry. A keep-newest compaction leaves tombstones pending (the
    kept-back append batch may still hold a tombstoned row)."""
    appends_path = f"{index_path}/{appends_subdir}"
    dels_path = f"{index_path}/{DELETES_SUBDIR}"
    excl_path = f"{index_path}/{SEMANTIC_REORDER_EXCL_SUBDIR}"
    base = f"{index_path}/assigned"
    old = f"{index_path}/assigned-old"
    staged = f"{index_path}/assigned-compact"

    def read_manifest(dirpath: str):
        mp = f"{dirpath}/_MANIFEST"
        if not fsio.exists(spark, mp):
            return None
        m = fsio.read_json(spark, mp)
        # pre-tombstone manifests were a plain list of append names
        return {"appends": m, "deletes": []} if isinstance(m, list) else m

    def cleanup(manifest: dict) -> None:
        for name in manifest["appends"]:
            fsio.delete(spark, f"{appends_path}/{name}")
        for name in manifest.get("deletes", []):
            fsio.delete(spark, f"{dels_path}/{name}")
        for name in manifest.get("exclusions", []):
            fsio.delete(spark, f"{excl_path}/{name}")
        fsio.delete(spark, old)
        fsio.delete(spark, f"{base}/_MANIFEST")

    # -- recovery of a crashed previous compaction (under the lock) --
    if not fsio.exists(spark, base) and fsio.exists(
        spark, f"{staged}/_SUCCESS"
    ):
        names = read_manifest(staged)
        if names is not None:  # interrupted swap: staged copy is the base
            fsio.rename(spark, staged, base)
            cleanup(names)
    if not fsio.exists(spark, base) and fsio.exists(spark, old):
        fsio.rename(spark, old, base)  # no usable staged copy: roll back
    fsio.delete(spark, staged)  # stale staging beside a live base
    leftover = read_manifest(base)
    if leftover is not None:  # completed swap, interrupted cleanup
        cleanup(leftover)

    # -- the actual merge --
    names = _batch_names(spark, appends_path)
    if keep_newest and names:
        newest = max(
            names, key=lambda n: (fsio.mtime_ms(spark, f"{appends_path}/{n}"), n)
        )
        names = [n for n in names if n != newest]
    del_names = [] if keep_newest else _batch_names(spark, dels_path)
    if not names and not del_names:
        return 0
    # reorder exclusion markers: an append's re-homed clusters already
    # live in the base — merging them again would double-count. The
    # markers for merged appends are consumed through the manifest
    # (crash between swap and cleanup deletes exactly these on retry);
    # a keep-newest pass leaves the kept-back batch's markers pending.
    excl = _load_reorder_exclusions(spark, index_path)
    excl_names: list[str] = []
    if excl:
        merged_set = set(names)
        excl_names = [
            marker
            for marker, is_dir in fsio.child_entries(spark, excl_path)
            if not is_dir
            and fsio.read_json(spark, f"{excl_path}/{marker}")["append"]
            in merged_set
        ]
    merged = spark.read.parquet(base)
    for name in names:
        # base schema: a legacy file-less empty append must merge as an
        # empty frame, not fail inference (same guard as _union_appends)
        b = spark.read.schema(merged.schema).parquet(f"{appends_path}/{name}")
        gone = excl.get(name)
        if gone:
            b = b.filter(~F.col("centroid_id").isin(gone))
        merged = merged.unionByName(b)
    # ALL pending tombstones are applied to the rewrite (a keep-newest
    # pass just doesn't consume them — see docstring)
    merged = _apply_tombstones(spark, merged, index_path)
    merged.write.partitionBy("centroid_id").mode("overwrite").parquet(staged)
    manifest = {"appends": names, "deletes": del_names, "exclusions": excl_names}
    fsio.write_json(spark, f"{staged}/_MANIFEST", manifest)
    fsio.delete(spark, old)
    fsio.rename(spark, base, old)
    fsio.rename(spark, staged, base)
    cleanup(manifest)
    if not keep_newest:
        fsio.delete(spark, appends_path)
        # every append is merged, so every exclusion marker is moot
        fsio.delete(spark, excl_path)
        if del_names:
            fsio.delete(spark, dels_path)
    return len(names) + len(del_names)


def ivf_topk_indexed(
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
    """Approximate top-k against a persisted :func:`build_ivf_index`.

    The union of all probed centroid ids is collected driver-side (a
    tiny set, ≤ |queries|·nprobe ints) and pushed as a LITERAL ``IN``
    filter on the partition column, so the parquet scan prunes
    directories — un-probed buckets cost zero I/O. Batches appended by
    :func:`ivf_index_append` are unioned in, each scan pruned by the
    same filter (one self-describing partitioned directory per batch —
    listing is linear in batch count, another reason to rebuild once a
    retention horizon applies). Scores and ranks are bit-identical to
    :func:`ivf_topk` over the same total corpus + centroids.

    Fails loudly if the persisted centroid table no longer matches the
    checksum recorded at build time — the same drift check every
    mutator makes: probing drifted centroids visits the wrong buckets
    and silently drops true neighbors, the exact failure the manifest
    exists to catch. The verification reuses the ONE centroid collect
    the probe literals need anyway (zero extra scans)."""
    cent_rows = _centroid_rows(
        fsio.read_small_parquet_rows(spark, f"{index_path}/centroids")
    )
    cfg = fsio.read_small_parquet_rows(spark, f"{index_path}/config")[0]
    if _ivf_centroid_checksum(cent_rows) != cfg.centroid_checksum:
        raise ValueError(
            f"IVF index at {index_path}: persisted centroids do not match the "
            "checksum recorded at build time - probes against a drifted "
            "centroid set visit the wrong buckets and silently miss true "
            "neighbors. Rebuild the index (delete the directory) instead."
        )
    probes = _query_probes(
        queries,
        F.broadcast(_centroid_rows_df(spark, cent_rows)),
        nprobe=nprobe,
        query_id_col=query_id_col,
        vec_col=vec_col,
    )
    probed = [r.centroid_id for r in probes.select("centroid_id").distinct().collect()]
    assigned = spark.read.parquet(f"{index_path}/assigned").filter(
        F.col("centroid_id").isin(probed)
    )
    assigned = _union_appends(
        spark, assigned, f"{index_path}/{IVF_APPENDS_SUBDIR}", probed
    )
    assigned = _apply_tombstones(spark, assigned, index_path, id_col=id_col)
    return _rank_probed(
        assigned, probes, k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
    )


def embedding_outliers(
    corpus: DataFrame,
    *,
    z: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Degenerate-embedding detection for data cleaning: rows whose L2
    norm sits more than ``z`` standard deviations from the corpus mean,
    plus rows that are empty or non-finite — the actual failure modes
    an encoder fleet produces (truncated inputs, all-zero fallbacks,
    fp overflows). Returns (id, norm, n_dims, is_outlier).

    Norm — not cosine — is the right signal here: cosine is
    scale-invariant, so a near-zero "failed" vector can look perfectly
    ordinary by direction (measured: planted 0.001-norm junk lands at
    the cluster-cosine MEAN on an isotropic corpus).

    TWO-pass trimmed moments against masking: a single huge-norm row
    inflates σ enough to hide a near-zero row inside the band (plain
    z-scores are not robust to the outliers they hunt), so the band is
    re-estimated after excluding pass-1 outliers — the standard
    robustification that keeps the plan two linear aggregates instead
    of an exact-median sort. Determinism: norms round to 6 dp, both
    passes' moments come from decimal sums (order-free), bands are
    rounded double expressions — the verdict value-hashes cross-engine.

    Scale shape: one projection for norms, two global moment
    aggregates (map-side partials to one tiny row each), broadcast
    band joins — the corpus never shuffles."""
    norms = corpus.select(
        F.col(id_col),
        F.round(l2_norm(vec_col), 6).alias("norm"),
        F.size(F.col(vec_col)).alias("n_dims"),
    )
    nn = F.col("norm")
    finite = nn.isNotNull() & ~F.isnan(nn) & (F.col("n_dims") > 0)

    def band_of(rows: DataFrame):
        stats = rows.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(nn.cast("decimal(18,6)")).alias("_s1"),
            F.sum((nn * nn).cast("decimal(24,12)")).alias("_s2"),
        )
        mean = F.col("_s1").cast("double") / F.col("_n")
        sd = F.sqrt(
            F.greatest(
                F.col("_s2").cast("double") / F.col("_n") - mean * mean, F.lit(0.0)
            )
        )
        return stats.select(
            F.round(mean - F.lit(z) * sd, 6).alias("_lo"),
            F.round(mean + F.lit(z) * sd, 6).alias("_hi"),
        )
    pass1 = norms.filter(finite).crossJoin(
        F.broadcast(band_of(norms.filter(finite)))
    ).filter((nn >= F.col("_lo")) & (nn <= F.col("_hi"))).drop("_lo", "_hi")
    band2 = band_of(pass1)
    return norms.crossJoin(F.broadcast(band2)).select(
        id_col,
        "norm",
        "n_dims",
        (~finite | (nn < F.col("_lo")) | (nn > F.col("_hi"))).alias("is_outlier"),
    )


def retrieve_docs(
    emb: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    *,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    doc_cols: tuple[str, ...] = ("lang", "source", "n_chars"),
) -> DataFrame:
    """Retrieval composition (the RAG fetch pattern): ANN top-k over
    the embedding table, then hydrate each hit with its document row —
    the engine's tables composing end-to-end instead of stopping at id
    lists. Returns (query_id, doc_id, rank, score, *doc_cols).

    Scale shape: the top-k result is |queries|·k rows — broadcast it
    against the document table, so hydration is a map-side hash join
    (the doc scan prunes to the selected columns; with the corpus
    bucketed by id it is a point-lookup pattern). Uses the exact
    brute-force ranker for oracle fidelity; swap in ivf_topk /
    ivfpq_topk for the probed scale path — the hydration join is
    identical."""
    hits = brute_force_topk(
        emb, queries, k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
    )
    d = docs.select(F.col(doc_id_col), *[F.col(c) for c in doc_cols])
    return (
        F.broadcast(hits)
        .join(d, hits[id_col] == d[doc_id_col])
        .select(query_id_col, doc_id_col, "rank", "score", *doc_cols)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query vector, the top-``k`` most-similar corpus vectors whose
    ``label`` DIFFERS from the query's — the near-miss impostors that
    make the best negatives (the standard dense-retrieval recipe:
    mine negatives from the model's own nearest neighbors rather than
    sampling at random, e.g. ANCE / DPR hard negatives).

    Same scale shape as :func:`brute_force_topk`: the (small) labeled
    query set broadcasts, the corpus is scanned once and never
    shuffled, the label-mismatch predicate filters inside the scan
    task BEFORE scoring (so same-label rows cost no cosine), and only
    scored candidates reach the per-query ranking window. Swap the
    scan for :func:`ivf_topk` probing when an index exists — the
    mining semantics (filter, then rank) are unchanged."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.col(label_col).alias("_qlabel"),
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("_qlabel"))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(vec_col, "_qvec"), 9).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "score", F.col("rn").alias("rank"))
    )

"""Deterministic sampling / dataset-splitting operators for
training-data curation (extension — no reference evidence; the
reference app has no sampling surface).

Why hash-based instead of ``df.sample()``: ``sample()`` draws per-task
pseudo-random numbers, so membership depends on partitioning and task
scheduling — re-running the pipeline (or the same pipeline at another
scale factor / cluster size) assigns different rows. Training-data
splits must be STABLE: a document's split is a pure function of its
key, so the assignment survives re-partitioning, incremental re-runs,
and engine swaps (the DuckDB oracle reproduces it bit-for-bit).

Scale shape: every operator here is a narrow projection + filter — no
shuffle, no state, fully codegen'd, and the md5 bucketing distributes
uniformly regardless of key skew. At 100 TB a split/sample is exactly
as fast as a scan.

Cross-engine determinism: bucket = md5-derived 60-bit int (see
functions.text.md5_long) mod a fixed denominator; DuckDB expresses the
identical computation as
``('0x' || substr(md5(key || ':' || seed), 1, 15))::UBIGINT % D``.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.text import md5_long, tokens
from py_data_pipeline_app_spark.partitioning import fan_out

#: Denominator for bucketing; fractions are resolved to integer
#: thresholds out of this, so any fraction with <=4 decimal places is
#: represented exactly (no float boundary ambiguity cross-engine).
BUCKETS = 10_000


def hash_bucket(key: Column | str, seed: str, buckets: int = BUCKETS) -> Column:
    """Uniform deterministic bucket in [0, buckets) from a key column.

    The seed is concatenated into the hashed string, so different
    pipeline stages (split vs sample vs A/B assignment) draw
    independent buckets from the same key.
    """
    c = F.col(key) if isinstance(key, str) else key
    return md5_long(F.concat(c.cast("string"), F.lit(f":{seed}"))) % F.lit(buckets)


def sql_hash_bucket(key_expr: str, seed: str, buckets: int = BUCKETS) -> str:
    """DuckDB expression computing exactly :func:`hash_bucket`."""
    return (
        f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{seed}'), 1, 15))"
        f"::UBIGINT % {buckets})"
    )


def _thresholds(weights: Mapping[str, float]) -> list[tuple[str, int, int]]:
    """Resolve split weights to [lo, hi) integer bucket ranges."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    out: list[tuple[str, int, int]] = []
    lo = 0
    names = list(weights)
    for i, name in enumerate(names):
        hi = BUCKETS if i == len(names) - 1 else lo + round(weights[name] / total * BUCKETS)
        out.append((name, lo, hi))
        lo = hi
    return out


#: the curation split every registry row and the streaming front door
#: share, so the batch and streaming paths cannot drift
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, float],
    seed: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to one of the named
    splits (e.g. ``{"train": 0.8, "val": 0.1, "test": 0.1}``) by
    deterministic hash of ``key_col``.

    Rows sharing a key always land in the same split — pass the
    dedup-stable document key so near-duplicate handling upstream
    can't leak a document across the train/test boundary.
    """
    b = hash_bucket(key_col, seed)
    expr: Column = F.lit(None).cast("string")
    for name, lo, hi in reversed(_thresholds(weights)):
        expr = F.when((b >= lo) & (b < hi), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def sql_hash_split_case(
    key_expr: str, weights: Mapping[str, float], seed: str = "split"
) -> str:
    """DuckDB CASE expression mirroring :func:`hash_split`."""
    b = sql_hash_bucket(key_expr, seed)
    arms = "\n".join(
        f"WHEN {b} >= {lo} AND {b} < {hi} THEN '{name}'"
        for name, lo, hi in _thresholds(weights)
    )
    return f"CASE {arms} END"


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 1.0,
    seed: str = "sample",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows — the
    rebalancing move of corpus curation (e.g. downsample the head
    language, keep the tail in full).

    ``fractions`` maps stratum value -> keep fraction; strata not
    listed keep ``default_fraction``. Membership is by hash of
    ``key_col``, so a row's fate is independent of partitioning and of
    which other rows exist (incremental re-runs keep prior decisions).
    """
    b = hash_bucket(key_col, seed)
    thr: Column = F.lit(round(default_fraction * BUCKETS))
    for value, frac in fractions.items():
        thr = F.when(F.col(strata_col) == value, F.lit(round(frac * BUCKETS))).otherwise(
            thr
        )
    return df.where(b < thr)


def sql_stratified_keep(
    key_expr: str,
    strata_expr: str,
    fractions: Mapping[str, float],
    default_fraction: float = 1.0,
    seed: str = "sample",
) -> str:
    """DuckDB WHERE predicate mirroring :func:`stratified_sample`."""
    b = sql_hash_bucket(key_expr, seed)
    arms = "\n".join(
        f"WHEN {strata_expr} = '{v}' THEN {round(f * BUCKETS)}"
        for v, f in fractions.items()
    )
    return f"{b} < CASE {arms} ELSE {round(default_fraction * BUCKETS)} END"


def source_cap_sample(
    docs: DataFrame,
    *,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "srccap",
) -> DataFrame:
    """Per-source document cap (the RefinedWeb/Common-Crawl-style
    per-domain limit): keep at most ``cap`` documents from each source,
    chosen by deterministic hash rank — NOT by arrival order, so one
    crawl bucket's pathological ordering cannot bias what survives,
    and membership is stable across re-runs, partitionings, and
    engines (the oracle replays the identical ranking).

    Adds (src_rank, src_total) for auditability. Scale shape: one
    keyed shuffle on the source column; a viral source's rows all land
    in one partition only for RANKING — if a single source exceeds a
    task's comfort at extreme skew, pre-aggregate with the salted
    pattern in operators.skew; at the cap sizes this operator exists
    for (10²-10⁶ docs per source) the plain window is the right plan.
    """
    w = Window.partitionBy(source_col).orderBy(
        hash_bucket(F.col(id_col), seed), F.col(id_col)
    )
    wc = Window.partitionBy(source_col)
    return (
        docs.withColumn("src_rank", F.row_number().over(w))
        .withColumn("src_total", F.count(F.lit(1)).over(wc))
        .filter(F.col("src_rank") <= cap)
    )


def source_temperature_mix(
    docs: DataFrame,
    *,
    total_target: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Temperature-flattened source mixing — the data-MIXTURE move of
    LLM corpus assembly: instead of sampling sources proportionally to
    size (head domains swamp the mixture) or uniformly (tail domains
    repeat endlessly), give source s a quota ∝ n_s^α with α = 0.5, the
    square-root flattening exponent, and fill each quota by
    deterministic hash rank.

    Cross-engine determinism is arranged so the gate can value-hash
    the result exactly — α is pinned to 0.5 because IEEE ``sqrt`` is
    CORRECTLY ROUNDED (unlike ``pow``, whose last-ulp behavior differs
    between libm implementations), so ``floor(sqrt(n_s))`` is the same
    integer everywhere; quotas then use pure integer arithmetic
    (``total_target * w_s div Σw_s``, exact in both engines) and
    membership is the same md5 hash-rank every sampler here uses.

    Scale shape: one tiny count aggregation (map-side partial combine,
    result is |sources| rows — broadcast back), then the same one keyed
    rank shuffle as :func:`source_cap_sample`, with the same extreme-
    skew escape hatch. Rounding-down quotas means Σ quotas ≤
    total_target (never over-budget); sources too small to earn a slot
    get quota 0 — audit with the returned (src_total, quota) columns.
    """
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("src_total"))
    weights = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("src_total"))).cast("bigint")
    )
    tot = weights.agg(F.sum("_w").alias("_w_sum"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        source_col,
        "src_total",
        F.expr(f"CAST({int(total_target)} AS BIGINT) * _w div _w_sum").alias(
            "quota"
        ),
    )
    w = Window.partitionBy(source_col).orderBy(
        hash_bucket(F.col(id_col), seed), F.col(id_col)
    )
    ranked = docs.select(F.col(id_col), F.col(source_col)).withColumn(
        "mix_rank", F.row_number().over(w)
    )
    return ranked.join(F.broadcast(quotas), source_col).filter(
        F.col("mix_rank") <= F.col("quota")
    ).select(id_col, source_col, "src_total", "quota", "mix_rank")


def source_token_budget_mix(
    docs: DataFrame,
    *,
    token_budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "tokmix",
) -> DataFrame:
    """:func:`source_temperature_mix` in the currency that actually
    matters to a trainer — TOKENS, not documents. A pretraining run is
    budgeted in tokens; per-document quotas over-weight sources full
    of short pages and under-weight long-form ones. Here source s gets
    a TOKEN quota ∝ floor(sqrt(T_s)) (T_s = its total token count; the
    same α = 0.5 square-root flattening, and the same reason sqrt is
    pinned: IEEE sqrt is correctly rounded where pow is not, so the
    integer weight is engine-identical), quotas are pure integer
    arithmetic (``token_budget · w_s div Σw``), and each quota fills
    GREEDILY by the deterministic hash rank every sampler here uses:
    a document is kept iff its running inclusive token sum within its
    source stays ≤ the quota. The first document that would overflow
    is dropped along with everything ranked after it — a strict prefix
    rule, so membership is one window cumsum comparison, reproducible
    across engines, partitionings, and re-runs (no best-fit packing,
    which would be order-sensitive and NP-flavored for no gain at
    corpus scale).

    Returns kept rows (id, source, n_tokens, tokens_cum, src_tokens,
    token_quota) — the audit columns show how full each quota ran
    (Σ kept ≤ quota by construction; quotas sum ≤ budget by the
    floor). Scale shape: one map-side-combined token-sum aggregation
    (|sources| rows, broadcast back) and ONE keyed rank+cumsum window
    per source — the same shuffle as :func:`source_cap_sample`, same
    extreme-skew escape hatch documented there."""
    toks = F.size(F.filter(tokens(text_col), lambda x: x != ""))
    d = docs.select(
        F.col(id_col),
        F.col(source_col),
        toks.cast("bigint").alias("n_tokens"),
    )
    totals = d.groupBy(source_col).agg(F.sum("n_tokens").alias("src_tokens"))
    weights = totals.withColumn(
        "_w", F.floor(F.sqrt(F.col("src_tokens"))).cast("bigint")
    )
    tot = weights.agg(F.sum("_w").alias("_ws"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        source_col,
        "src_tokens",
        F.expr(f"CAST({int(token_budget)} AS BIGINT) * _w div _ws").alias(
            "token_quota"
        ),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(hash_bucket(F.col(id_col), seed), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = d.withColumn("tokens_cum", F.sum("n_tokens").over(w))
    return (
        ranked.join(F.broadcast(quotas), source_col)
        .filter(F.col("tokens_cum") <= F.col("token_quota"))
        .select(
            id_col,
            source_col,
            "n_tokens",
            "tokens_cum",
            "src_tokens",
            "token_quota",
        )
    )


def epoch_oversample(
    docs: DataFrame,
    epochs: Mapping[str, float],
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "epoch",
    default_epochs: float = 1.0,
) -> DataFrame:
    """Deterministic sampling WITH replacement for multi-epoch data
    mixing (the standard pretraining recipe: up-weighted sources repeat
    across the token budget — e.g. Wikipedia at 3.2 epochs while the
    big crawl runs at 0.9): every document gets ``floor(e)`` copies
    plus one more iff its hash bucket falls under ``frac(e)``, so the
    EXACT expected ratio is hit per source with zero RNG state, and
    every copy is addressable via its ``epoch_copy`` ordinal (stable
    shuffling/sharding downstream — copy k of doc d is the same row on
    every run). Fractions resolve to integer thresholds out of BUCKETS
    (exact cross-engine, no float boundary). Epochs < 1 subsample:
    floor = 0 and the fractional rule keeps the right share.

    Scale shape: one hash + one ``explode(sequence(...))`` per row —
    zero shuffle, linear in OUTPUT size (which is the point: the
    operator materializes the mixture a trainer consumes)."""
    for src, e in epochs.items():
        if e < 0:
            raise ValueError(f"epochs for {src!r} must be >= 0, got {e}")
    b = hash_bucket(F.col(id_col), seed)

    def copies_for(e: float) -> Column:
        whole = int(e)
        frac_th = round((e - whole) * BUCKETS)
        return F.lit(whole) + (b < F.lit(frac_th)).cast("int")

    n_copies = copies_for(default_epochs)
    expr = None
    for src, e in sorted(epochs.items()):
        c = copies_for(e)
        expr = F.when(F.col(source_col) == src, c) if expr is None else expr.when(
            F.col(source_col) == src, c
        )
    n_copies = expr.otherwise(n_copies) if expr is not None else n_copies
    return docs.withColumn("_n", n_copies).filter(F.col("_n") > 0).select(
        "*", F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("epoch_copy")
    ).drop("_n")


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

#: Hashed-ngram feature space size. 1024 buckets keep the log-ratio
#: table a trivially collectable literal while giving the estimator
#: enough resolution for domain-level selection; Xie et al. use 10k
#: buckets at full pretraining scale — the table is still only 10k
#: longs, so raising it costs nothing but literal size.
DSIR_BUCKETS = 1024


def _dsir_grams(toks: Column) -> Column:
    """Unigrams + adjacent bigrams (space-joined) of a staged token
    array — the hashed-ngram feature set of DSIR. The caller MUST
    stage ``toks`` as its own projection column first (it is
    referenced three times here; the lambda-capture measured rule)."""
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(toks, bigrams)


def dsir_weights(
    docs: DataFrame,
    target: Column,
    *,
    n_buckets: int = DSIR_BUCKETS,
    seed: str = "dsir",
    text_col: str = "text",
    score: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight (Xie et al. 2023, Data
    Selection via Importance Resampling): fit two bag-of-hashed-ngram
    unigram models — p̂ over the rows matching the ``target`` predicate
    (the distribution you WANT, e.g. a trusted high-quality slice) and
    q̂ over the whole corpus — and score every document by
    Σ_grams ln p̂(b(g)) − ln q̂(b(g)) over its unigrams+bigrams, each
    hashed into ``n_buckets`` buckets (add-one smoothing). Documents
    that look like the target score high; generic or anti-target text
    scores negative. This is the published scalable alternative to
    model-based quality scoring: two count tables instead of a
    classifier, robust to any target you can name with a predicate.

    Returns the input columns + ``dsir_weight_micro``: the weight in
    exact 1e-6 units (each bucket's log-ratio is rounded to a micro
    BIGINT engine-side, so per-doc sums are integer-exact and
    value-hash cross-engine regardless of fold order — the decimal-sum
    rule; Python-side ``round`` is never used, its HALF_EVEN differs
    from both engines).

    Scale shape: one gram-explode + ONE bounded-key groupBy (map-side
    combine into ≤ n_buckets keys) to fit the counts; the ratio table
    collects once (≤ n_buckets longs — the collect-tiny-tables rule)
    and scoring is a pure zero-shuffle projection folding each row's
    gram array through a map literal at scan cost. Two corpus scans
    total, no joins, no windows. Grams absent from the fitted corpus
    hit the add-one floor ratio (scoring NEW batches against a frozen
    fit stays total).

    ``score`` scores a DIFFERENT frame against the fit (the frozen-fit
    batch-scoring mode: fit once on the reference corpus, score every
    incoming crawl batch — the bigram-LM discipline); default scores
    the fitted corpus itself. Unseen grams take the floor ratio. To
    fit ONCE and score many batches across sessions, persist the fit
    with :func:`dsir_fit_train` and score via
    :func:`dsir_score_frozen` — identical arithmetic, so verdicts are
    batch-independent either way."""
    ratio_rows, floor_micro = _dsir_fit_rows(
        docs, target, n_buckets=n_buckets, seed=seed, text_col=text_col
    )
    return _dsir_apply(
        docs if score is None else score,
        ratio_rows,
        floor_micro,
        n_buckets=n_buckets,
        seed=seed,
        text_col=text_col,
    )


def _dsir_fit_rows(
    docs: DataFrame,
    target: Column,
    *,
    n_buckets: int,
    seed: str,
    text_col: str,
) -> tuple[list[tuple[int, int]], int]:
    """Fit the two hashed-ngram bag models and return the collected
    (bucket, log-ratio-micro) table plus the add-one floor ratio — the
    ≤``n_buckets``-row model state shared by the in-session scorer
    (:func:`dsir_weights`) and the persisted fit
    (:func:`dsir_fit_train`). One gram-explode + one bounded-key
    groupBy; the collect is ≤ n_buckets longs (the collect-tiny-tables
    rule). The tokenize + gram explode is map-side narrow compute,
    fanned out past an unsplittable one-file scan (guide §2.5)."""
    staged = fan_out(docs).withColumn("_toks", tokens(F.col(text_col)))
    grams = _dsir_grams(F.col("_toks"))
    ex = staged.select(
        target.alias("_is_t"), F.explode(grams).alias("_g")
    )
    counts = ex.groupBy(
        hash_bucket(F.col("_g"), seed, n_buckets).alias("_b")
    ).agg(
        F.count(F.lit(1)).alias("_qc"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_pc"),
    )
    tot = counts.agg(
        F.sum("_qc").alias("_qt"), F.sum("_pc").alias("_pt")
    )

    def _lr_micro(num: Column, den: Column) -> Column:
        return F.round(
            F.log(num.cast("double") / den.cast("double")) * 1_000_000, 0
        ).cast("long")

    bl = F.lit(n_buckets)
    ratio_rows = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "_b",
            (
                _lr_micro(F.col("_pc") + 1, F.col("_pt") + bl)
                - _lr_micro(F.col("_qc") + 1, F.col("_qt") + bl)
            ).alias("_r"),
            (
                _lr_micro(F.lit(1), F.col("_pt") + bl)
                - _lr_micro(F.lit(1), F.col("_qt") + bl)
            ).alias("_floor"),
        )
        .collect()
    )
    if not ratio_rows:
        return [], 0
    return (
        sorted((int(r._b), int(r._r)) for r in ratio_rows),
        int(ratio_rows[0]._floor),
    )


def _dsir_apply(
    to_score: DataFrame,
    ratio_rows: list[tuple[int, int]],
    floor_micro: int,
    *,
    n_buckets: int,
    seed: str,
    text_col: str,
) -> DataFrame:
    """Score a frame against a fitted (bucket → log-ratio-micro) table:
    a pure zero-shuffle projection folding each row's gram array
    through a map literal at scan cost. Total on any input — grams
    absent from the fit take the floor ratio."""
    if not ratio_rows:
        # degenerate fit corpus (no rows at all): keep the schema,
        # never build an empty map literal (the map<null,null> lesson)
        return to_score.select(
            "*", F.lit(0).cast("long").alias("dsir_weight_micro")
        )
    entries = ",".join(f"{int(b)}L,{int(r)}L" for b, r in ratio_rows)
    rmap = F.expr(f"map({entries})")
    # fan_out: the per-gram map-literal fold is interpreted narrow
    # compute — scan-cost at scale, but pinned to one core on an
    # unsplittable one-file input (guide §2.5); no-op when already wide
    to_score = fan_out(to_score)
    weight = F.aggregate(
        F.col("_grams"),
        F.lit(0).cast("long"),
        lambda acc, gr: acc
        + F.coalesce(
            F.element_at(rmap, hash_bucket(gr, seed, n_buckets)),
            F.lit(int(floor_micro)),
        ),
    )
    return (
        to_score.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("_grams", _dsir_grams(F.col("_toks")))
        .withColumn("dsir_weight_micro", weight)
        .drop("_toks", "_grams")
    )


#: manifest + table names of a persisted DSIR fit directory
DSIR_FIT_MANIFEST = "_MANIFEST"
DSIR_FIT_RATIOS = "ratios"


def dsir_fit_train(
    docs: DataFrame,
    target: Column,
    path: str,
    *,
    n_buckets: int = DSIR_BUCKETS,
    seed: str = "dsir",
    text_col: str = "text",
) -> dict:
    """Fit the DSIR importance model ONCE on a reference corpus and
    persist it under ``path`` — the deployment shape Xie et al. 2023
    describe (fit on {target, raw} reference distributions, then score
    every incoming crawl batch), and the artifact the streaming front
    door's ``dsir_fit`` gate consumes. Layout (the ``bigram_lm_train``
    manifest discipline, operators/curation.py):

    - ``ratios/``   parquet (_b, _r) — ≤ n_buckets log-ratio-micro rows
    - ``_MANIFEST`` json: n_buckets, seed, floor_micro, text_col, and
      the ratio table's (rows, xxhash64-XOR) content checksum —
      written LAST, so its presence is the commit point; a crashed
      retrain reads as missing (or checksum-mismatched) rather than a
      silently mixed model.

    Because the fit is frozen, a document's weight — and any
    threshold verdict derived from it — is independent of the batch
    it arrives in (whole-vs-split parity, tested). Retraining
    overwrites in place; for atomic swap under concurrent readers,
    train to a fresh directory and flip the reference. Returns the
    manifest."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.functions.frames import local_rows_df
    from py_data_pipeline_app_spark.operators.curation import (
        _count_table_checksum,
    )

    spark = docs.sparkSession
    ratio_rows, floor_micro = _dsir_fit_rows(
        docs, target, n_buckets=n_buckets, seed=seed, text_col=text_col
    )
    if not ratio_rows:
        raise ValueError(
            f"dsir_fit_train: fit corpus has no non-empty tokens ({text_col})"
        )
    local_rows_df(spark, "_b long, _r long", ratio_rows).write.mode(
        "overwrite"
    ).parquet(f"{path}/{DSIR_FIT_RATIOS}")
    written = spark.read.parquet(f"{path}/{DSIR_FIT_RATIOS}")
    manifest = {
        "version": 1,
        "n_buckets": int(n_buckets),
        "seed": seed,
        "text_col": text_col,
        "floor_micro": int(floor_micro),
        "ratio_checksum": _count_table_checksum(written, ["_b", "_r"]),
    }
    fsio.write_json(spark, f"{path}/{DSIR_FIT_MANIFEST}", manifest)
    return manifest


def dsir_fit_frames(
    spark, path: str, *, verify: bool = True
) -> tuple[dict, list[tuple[int, int]]]:
    """Load a persisted DSIR fit: (manifest, ratio rows). ``verify``
    recomputes the ratio-table checksum against the manifest and
    raises on drift (the bigram-LM reader guard); per-micro-batch
    callers pass ``verify=False`` after trusting the first load."""
    from py_data_pipeline_app_spark import fsio
    from py_data_pipeline_app_spark.operators.curation import (
        _count_table_checksum,
    )

    mpath = f"{path}/{DSIR_FIT_MANIFEST}"
    if not fsio.exists(spark, mpath):
        raise ValueError(
            f"no DSIR fit manifest at {mpath} - train one with "
            "dsir_fit_train (a missing manifest also means a crashed "
            "train never committed)"
        )
    manifest = fsio.read_json(spark, mpath)
    ratios = spark.read.parquet(f"{path}/{DSIR_FIT_RATIOS}")
    if verify:
        got = _count_table_checksum(ratios, ["_b", "_r"])
        if got != manifest["ratio_checksum"]:
            raise ValueError(
                f"DSIR fit at {path} drifted from its manifest "
                f"({got} vs {manifest['ratio_checksum']}) - retrain or "
                "restore the ratio table"
            )
    rows = sorted((int(r._b), int(r._r)) for r in ratios.collect())
    return manifest, rows


def dsir_score_frozen(
    docs: DataFrame,
    fit_path: str,
    *,
    text_col: str | None = None,
    verify: bool = True,
) -> DataFrame:
    """Score a frame against a PERSISTED DSIR fit
    (:func:`dsir_fit_train`): input columns + ``dsir_weight_micro``,
    bit-identical to what ``dsir_weights(fit_corpus, target,
    score=docs)`` computes in-session with the same fit inputs (the
    arithmetic is the shared :func:`_dsir_apply`). ``text_col``
    defaults to the column the fit was trained on. One ≤n_buckets
    parquet read + a zero-shuffle scoring projection — the per-batch
    cost class of the frozen-LM gate."""
    spark = docs.sparkSession
    manifest, ratio_rows = dsir_fit_frames(spark, fit_path, verify=verify)
    return _dsir_apply(
        docs,
        ratio_rows,
        int(manifest["floor_micro"]),
        n_buckets=int(manifest["n_buckets"]),
        seed=manifest["seed"],
        text_col=text_col or manifest.get("text_col", "text"),
    )


def dsir_select(
    docs: DataFrame,
    target: Column,
    *,
    budget: int,
    n_buckets: int = DSIR_BUCKETS,
    seed: str = "dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "topk",
) -> DataFrame:
    """Top-``budget`` documents by DSIR importance weight (ties broken
    by ``id_col`` ascending) — the deterministic selection variant:
    DSIR proper resamples with Gumbel noise, which no two engines
    reproduce; ranking by the same weights keeps the estimator and
    makes membership a pure function of the corpus (the hash-rank
    discipline every sampler here follows). Scale shape: the weight
    projection (see :func:`dsir_weights`) + ONE TakeOrdered — partial
    per-partition top-k, never a global sort. TakeOrdered merges k
    rows per partition ON THE DRIVER, so the default is right up to
    ~10⁶-row budgets.

    ``mode="cutoff"`` is the trainer-scale path (10⁸⁺-doc budgets,
    where a driver-side merge of k rows per partition is itself the
    bottleneck): derive the weight threshold ONCE via
    ``approx_percentile`` at quantile 1 − budget/N and keep rows by a
    plain ``filter`` — selection back at scan cost, zero shuffle,
    nothing budget-sized ever on the driver. Two documented
    approximations, both confined to the BOUNDARY: the quantile is
    approximate (Spark's Greenwald-Khanna sketch), and every row TIED
    with the threshold weight is kept (a filter has no per-row
    tie-break), so the result holds ≈``budget`` rows rather than
    exactly ``budget`` — away from the boundary weight the two modes
    select identically (tested). A corpus at or under budget returns
    whole."""
    w = dsir_weights(
        docs,
        target,
        n_buckets=n_buckets,
        seed=seed,
        text_col=text_col,
    )
    if mode == "topk":
        return w.orderBy(
            F.col("dsir_weight_micro").desc(), F.col(id_col)
        ).limit(int(budget))
    if mode != "cutoff":
        raise ValueError(f"mode must be 'topk' or 'cutoff', got {mode!r}")
    n = w.count()
    if n <= budget:
        return w
    # threshold = the budget-th weight from the top = ascending rank
    # n − budget + 1; Spark's percentile sketch returns the value at
    # rank ceil(p·n), so aim mid-interval — p = (n − budget + ½)/n —
    # rather than 1 − budget/n, whose ceil lands one rank LOW and
    # admits budget+1 rows on fully-distinct weights
    frac = (float(n) - float(budget) + 0.5) / float(n)
    cut = w.agg(
        F.expr(f"approx_percentile(dsir_weight_micro, {frac!r})").alias("_c")
    ).first()._c
    return w.filter(F.col("dsir_weight_micro") >= F.lit(int(cut)))

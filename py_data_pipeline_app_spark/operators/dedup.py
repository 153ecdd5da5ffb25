"""Deduplication operators for large-scale corpus curation: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — the standard toolkit a
training-data pipeline runs before anything else.

Design for 100 TB:

- Nothing here ever cross-joins the corpus. Every near-dup algorithm
  is *blocked*: candidate pairs come from an equi-join on a compact key
  (fingerprint, LSH band hash, SimHash chunk, shared shingle), so the
  shuffle is keyed and data-proportional, and skew is bounded by
  document-frequency caps.
- All hashing is md5-derived (cross-engine stable, see functions.text)
  and computed with native Column expressions inside whole-stage
  codegen; no Python in the per-row path.
- Verification (exact Jaccard / Hamming on candidates) happens on the
  candidate set only — orders of magnitude smaller than the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.text import (
    HASH_PRIME,
    md5_long,
    minhash_perm,
    normalize_text,
    perm_coeffs,
    token_hash,
    tokens,
)
from py_data_pipeline_app_spark.partitioning import fan_out

DEFAULT_NUM_PERMS = 32
DEFAULT_BANDS = 8  # 8 bands x 4 rows over 32 perms


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact (normalized) dedup: one hash-groupBy on the md5 of the
    normalized text. Returns one row per distinct content with the
    canonical (minimum) id and the duplicate count.

    At scale this is the cheapest possible dedup: a single shuffle on a
    16-byte key with full map-side partial aggregation."""
    return (
        df.select(
            F.md5(normalize_text(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs: distinct word n-grams per document.

    The token array is staged as its OWN projection column before the
    per-gram lambda references it: inlined, the ``split(trim(text))``
    subtree re-evaluates once per gram position (the winnowing staging
    pitfall) — measured 2.65 s → 0.44 s for the shingle stage at
    sf0.1, which every posting-list operator downstream inherits.

    fan_out: the tokenize + per-gram join/explode is the expensive
    narrow stage feeding the posting-list shuffle; an unsplittable
    one-file scan would pin it to one core (guide §2.5)."""
    staged = fan_out(df).withColumn("_ws_toks", tokens(text_col))
    toks = F.col("_ws_toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def _posting_list_pair_counts(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index core of the n-gram pair operators — the
    scalable shape: explode distinct shingles, group documents *by the
    shingle* (never a cross join), expand co-occurring pairs inside
    each posting list. ``max_df`` drops shingles appearing in more
    than that many documents: a stop-shingle cap that bounds the
    quadratic blowup of ultra-frequent shingles at corpus scale (pairs
    produced by a shingle grow as df², so one viral boilerplate line
    can dominate the shuffle; capping df bounds it).

    One groupBy on the shingle builds the posting lists; the df cap is
    a filter on list size (no second frequency subplan joined back);
    per-doc sizes and pair expansion both read that grouped exchange
    (Spark reuses it); and pair multiplicity across shingles IS the
    intersection count. The previous shingle self-join recomputed the
    tokenize/explode subplan per branch — 16 scans, measured 4× slower
    at sf0.1.

    Returns (id_a, id_b, n_common, n_a, n_b) with id_a < id_b — every
    set-overlap score (Jaccard, containment, dice, …) is a pure
    projection over these three counts, so scorers stay in lockstep
    when this plan changes (round-8 verdict cleanup #3)."""
    sh = word_shingles(df, text_col, n, id_col)
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ms")
    )
    if max_df is not None:
        grouped = grouped.filter(F.size("_ms") <= max_df)
    # grouped fans out to THREE consumers (per-doc sizes, pair
    # expansion — and the sizes frame itself twice). Exchange reuse
    # does NOT fire here at runtime (measured r15: 6 scans, 0
    # ReusedExchange in the executed plan): Catalyst prunes each
    # consumer branch to the columns it reads, so the branches differ
    # in ReadSchema and ReusedExchange never matches them. The same
    # holds at every multi-consumer localCheckpoint in the engine.
    # Without a cut the tokenize + shingle-explode + collect_list
    # subtree runs 3x per query. Lazy checkpoint: the caller's one
    # action materializes the (shingle, members) rows once.
    grouped = grouped.localCheckpoint(eager=False)
    sizes = (
        grouped.select(F.explode("_ms").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shingles"))
    )
    e = grouped.filter(F.size("_ms") >= 2).select(
        F.col("_ms"), F.posexplode("_ms").alias("_i", "id_a")
    )
    inter = (
        e.select(
            "id_a", F.explode(F.expr("slice(_ms, _i + 2, size(_ms))")).alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def _jaccard_expr():
    return F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        6,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-``n``-gram Jaccard similarity ≥ threshold:
    Jaccard = |∩| / (|A| + |B| - |∩|) over the shared posting-list
    plan (:func:`_posting_list_pair_counts` — see there for the scale
    properties: inverted index, df² cap, exchange reuse)."""
    return (
        _posting_list_pair_counts(
            df, text_col=text_col, id_col=id_col, n=n, max_df=max_df
        )
        .withColumn("jaccard", _jaccard_expr())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-``n``-gram CONTAINMENT ≥ threshold.

    Containment C = |∩| / min(|A|, |B|) — the subset-duplicate
    detector Jaccard misses: a partial scrape, a truncated mirror, or
    a quote-heavy derivative of a long document shares nearly all of
    the *shorter* side's shingles, yet its Jaccard against the source
    is only len_short/len_long (a 40 %-prefix copy scores J ≈ 0.4,
    C ≈ 1.0). Broder (1997) defines both resemblance and containment
    over the same shingle sets; dedup pipelines need the second for
    partial-overlap families.

    Same posting-list core as :func:`ngram_jaccard_pairs`
    (:func:`_posting_list_pair_counts`), so the scale properties are
    identical; only the final scoring differs. Returns (id_a, id_b,
    containment, jaccard): both scores, because a high-C / low-J pair
    (subset) is actioned differently from a high-C / high-J pair
    (full duplicate) downstream."""
    return (
        _posting_list_pair_counts(
            df, text_col=text_col, id_col=id_col, n=n, max_df=max_df
        )
        .withColumn(
            "containment",
            F.round(
                F.col("n_common").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ),
        )
        .withColumn("jaccard", _jaccard_expr())
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
) -> DataFrame:
    """Per-document MinHash signature over the *word set* (unigram
    shingles): num_perms affine permutations of md5-derived token
    hashes, min-aggregated per document.

    One explode + one groupBy with ``num_perms`` min() aggregates —
    partial aggregation collapses each partition to one row per doc
    before the shuffle. The tokenize + num_perms-wide partial
    aggregation is map-side narrow compute, so the input is fanned out
    past an unsplittable one-file scan (guide §2.5)."""
    df = fan_out(df)
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).withColumn("h", token_hash(F.col("tok")))
    # parsed expression strings, not per-perm Column composition: the
    # num_perms-wide builder was ~10 py4j round trips per permutation
    # of pure plan-construction latency (the simhash64 rationale).
    # Arithmetic is identical — h is BIGINT, so `h * a + b` promotes
    # exactly as the Column form's lit() operands did.
    aggs = [
        F.expr(f"min((h * {a} + {b}) % {HASH_PRIME}) AS mh_{i}")
        for i, (a, b) in enumerate(perm_coeffs(num_perms))
    ]
    return tok.groupBy(id_col).agg(*aggs)


def _chunked_bucket_arrays(
    members: DataFrame,
    bucket_cols: list[str],
    member_col: str,
    *,
    max_bucket_size: int | None,
) -> DataFrame:
    """Group bucket members into sorted arrays with a HARD bound on any
    single array's length: members of a bucket over ``max_bucket_size``
    are salted into ``ceil(n / max_bucket_size)`` hash-chunks *before*
    the ``collect_list`` — no row ever holds more than ~max_bucket_size
    members (binomial variance around the mean chunk size, not O(n)).

    The round-2 residual scale-killer lived here: chunking applied only
    to the *pair expansion*, after a ``collect_list`` had already
    materialized the viral bucket's full member array in one row of one
    task — a 10⁷-member band bucket at corpus scale is a multi-GB row
    that OOMs before any slicing runs. Salting the group key bounds the
    array itself.

    Plan shape: ONE shuffle. The per-bucket count comes from an
    unordered window over the bucket key (not a count-agg + self-join,
    which would recompute the upstream members subplan per branch —
    measured 6-7× on the LSH queries); the following
    ``groupBy(bucket, chunk)`` is satisfied by the window's hash
    partitioning on the bucket prefix, so it aggregates in place.
    Buckets at or under the cap get chunk 0 = exactly today's
    semantics; the oracle queries model the uncapped computation and
    stay valid as long as evaluation-scale buckets fit the cap."""
    if max_bucket_size is None:
        return (
            members.groupBy(*bucket_cols)
            .agg(F.sort_array(F.collect_list(member_col)).alias("_ms"))
            .filter(F.size("_ms") >= 2)
        )
    b = int(max_bucket_size)
    w = Window.partitionBy(*bucket_cols)
    n_chunks = F.ceil(F.count(F.lit(1)).over(w) / F.lit(b))
    chunk = F.pmod(md5_long(F.col(member_col).cast("string")), n_chunks).cast("int")
    return (
        members.withColumn("_chunk", chunk)
        .groupBy(*bucket_cols, "_chunk")
        .agg(F.sort_array(F.collect_list(member_col)).alias("_ms"))
        .filter(F.size("_ms") >= 2)
    )


def _bucket_member_pairs(
    members: DataFrame,
    bucket_cols: list[str],
    member_col: str,
    *,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All (a < b) member pairs within each bucket (or bucket-chunk),
    emitted as rows ``(_a, _b)`` — never materializing a bucket's full
    pair set OR member set in one row (see
    :func:`_chunked_bucket_arrays` for the memory bound).

    Shape: chunked group → sorted member array (≤ max_bucket_size
    wide) → posexplode (one row per member) → explode the member's
    pair-span slice. Peak per-row memory is one chunk array, total
    work the pair count — spread across tasks.

    With ``max_bucket_size`` set, pairs inside an oversize bucket are
    generated only within a hash-chunk: recall degrades gracefully
    inside viral buckets — which, for near-dup LSH, are dominated by
    common-token false positives — instead of the pair count growing
    quadratically. Leave None when every in-bucket pair is required."""
    grouped = _chunked_bucket_arrays(
        members, bucket_cols, member_col, max_bucket_size=max_bucket_size
    )
    e = grouped.select(F.col("_ms"), F.posexplode("_ms").alias("_i", "_a"))
    span = F.expr("slice(_ms, _i + 2, size(_ms))")
    return e.select(F.col("_a"), F.explode(span).alias("_b"))


DEFAULT_MAX_BUCKET = 1000


def band_buckets(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, bucket) rows from a signature frame: each band of
    r = num_perms/bands signature values md5-hashed to a bucket key.
    One Generate (explode of a ``bands``-element literal-shaped array),
    no shuffle — shared by batch LSH (:func:`lsh_candidate_pairs`) and
    the incremental index fold
    (:func:`~py_data_pipeline_app_spark.operators.dedup_incremental.incremental_lsh_fold`)
    so both sides bucket identically by construction."""
    r = num_perms // bands
    band_keys = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_", *[F.col(f"mh_{bi * r + j}") for j in range(r)]
                    )
                ).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_keys).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH banding: hash each band of r = num_perms/bands signature
    values to a bucket key; documents sharing any bucket are candidate
    pairs.

    Shape matters at scale: pairs are generated by grouping ids per
    (band, bucket) and expanding combinations *inside* the bucket — the
    signature subplan executes once, versus a bucket self-join where
    Spark recomputes it for both join branches (measured 6-7× slower).
    ``max_bucket_size`` (default 1000) chunks viral buckets — see
    :func:`_bucket_member_pairs`; identical-content dedup should use
    the exact :func:`token_set_dedup_pairs` path instead of LSH."""
    buckets = band_buckets(
        signatures, id_col=id_col, num_perms=num_perms, bands=bands
    )
    return (
        _bucket_member_pairs(
            buckets, ["band", "bucket"], id_col, max_bucket_size=max_bucket_size
        )
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .distinct()
    )


def token_set_fingerprint(text_col: Column | str = "text") -> Column:
    """md5 of the sorted distinct whitespace-token set — equal iff two
    documents have identical word sets (Jaccard exactly 1.0)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text_col))), " "))


def token_set_dedup_pairs(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact word-set duplicate pairs (Jaccard = 1.0): group on the
    16-byte token-set fingerprint and expand pairs inside each
    true-duplicate group. Linear in the corpus, one shuffle on the
    fingerprint — this is the scale path for threshold-1.0 dedup, where
    LSH adds cost but no information (identical sets ⇒ identical
    signatures ⇒ all bands collide). The per-row tokenize + sort + md5
    fingerprint is map-side narrow compute, fanned out past an
    unsplittable one-file scan (guide §2.5)."""
    members = fan_out(df).select(
        token_set_fingerprint(text_col).alias("_k"), F.col(id_col)
    )
    return _bucket_member_pairs(members, ["_k"], id_col).select(
        F.col("_a").alias("id_a"),
        F.col("_b").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = DEFAULT_NUM_PERMS,
    bands: int = DEFAULT_BANDS,
    threshold: float = 1.0,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified.

    threshold = 1.0 (identical word sets) short-circuits to
    :func:`token_set_dedup_pairs` — at that threshold LSH is pure
    overhead: identical sets give identical signatures, which collide
    in EVERY band, so each true-duplicate group of size g appears in
    all ``bands`` buckets and generates b·g²/2 candidate pairs before
    dedup (the measured round-1 scale-killer: 21.9M candidates for
    5,000 docs). The fingerprint groupBy computes the identical result
    with one linear shuffle, and matches the DuckDB oracle's shape.

    threshold < 1.0 (probabilistic regime): signatures → banded LSH
    candidates (viral buckets chunk-capped, see
    :func:`lsh_candidate_pairs`) → join token sets back → exact
    word-set Jaccard ≥ threshold. Recall follows the standard b/r
    S-curve; tests measure it against the inverted-index baseline."""
    if threshold >= 1.0:
        return token_set_dedup_pairs(df, text_col=text_col, id_col=id_col)
    sigs = minhash_signatures(df, text_col=text_col, id_col=id_col, num_perms=num_perms)
    cands = lsh_candidate_pairs(sigs, id_col=id_col, num_perms=num_perms, bands=bands)
    return _verify_jaccard(cands, df, text_col=text_col, id_col=id_col, threshold=threshold)


def _verify_jaccard(
    cands: DataFrame,
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float,
) -> DataFrame:
    """Exact word-set Jaccard over candidate ``(id_a, id_b)`` pairs:
    token sets joined back from ``docs``, pairs under ``threshold``
    dropped. Runs on the candidate set only — the corpus is scanned
    once per side for the tokset projection, never cross-joined."""
    toksets = docs.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(tokens(text_col))).alias("tokset"),
    )
    ta = toksets.select(F.col(id_col).alias("id_a"), F.col("tokset").alias("set_a"))
    tb = toksets.select(F.col(id_col).alias("id_b"), F.col("tokset").alias("set_b"))
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
    )
    return verified.select("id_a", "id_b", "jaccard")


def simhash64(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over distinct-word md5 hashes.

    Per bit j: sign of Σ_tokens (bit_j(h) ? +1 : -1). Computed as 64
    conditional-sum aggregates in one groupBy — all JVM-side, partial
    aggregation map-side. Emitted as the packed bigint ``simhash``.
    The tokenize + 60-vote partial aggregation is map-side narrow
    compute, so the input is fanned out past an unsplittable one-file
    scan (guide §2.5)."""
    df = fan_out(df)
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).withColumn("h", md5_long(F.col("tok")))  # 60 usable bits
    # The 60 vote aggregates and the 60-term packing are built as
    # server-side-parsed expression STRINGS, not per-bit Column
    # composition: the Column form cost ~1.5 s of py4j round trips per
    # plan construction (measured r15: 11k round trips for this one
    # query, built twice per bench run). Semantics are identical —
    # CASE WHEN / IF parse to the same expressions the when/otherwise
    # builders produced, all-integer arithmetic throughout.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS v_{j}"
        )
        for j in range(60)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    packed = F.expr(
        "CAST("
        + " + ".join(
            f"IF(v_{j} > 0, CAST({2**j} AS BIGINT), CAST(0 AS BIGINT))"
            for j in range(60)
        )
        + " AS BIGINT)"
    )
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Blocking by the pigeonhole principle: split the 60-bit hash into
    ``chunks`` segments; any pair within Hamming ≤ chunks-1 must agree
    on at least one whole segment, so candidates come from segment
    buckets — never a cross join.

    Scale shape: all heavy work happens on DISTINCT simhash values,
    not documents. A corpus with duplicate mass (the whole point of
    dedup) collapses to far fewer distinct hashes; candidate
    generation and Hamming verification run on those, and doc pairs
    are recovered at the end by expanding each verified hash pair
    through its member lists. Pairs inside one identical-hash group
    are Hamming 0 by definition and skip verification entirely —
    exactly the viral-bucket mass that made the naive in-bucket
    expansion quadratic in round 1.

    ``max_bucket_size`` chunk-caps segment buckets of distinct hashes
    (recall loss only among distinct-hash pairs in viral segments);
    None keeps the exact pigeonhole contract."""
    seg_bits = 60 // chunks
    sh = simhash64(df, text_col=text_col, id_col=id_col)
    groups = sh.groupBy("simhash").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    # groups fans out to FOUR consumers (within-group pairs, segment
    # blocking, both member-expansion sides) — without a cut the
    # tokenize + 60-vote signature subtree is recomputed 4x in one
    # plan (4 source scans in the r15 before-plan). Lazy: the caller's
    # one action materializes the (hash, ids) rows once.
    groups = groups.localCheckpoint(eager=False)

    # 1. Pairs within an identical-hash group: Hamming 0, no verification.
    within = (
        groups.filter(F.size("_ids") >= 2)
        .select(F.col("_ids"), F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            "id_a", F.explode(F.expr("slice(_ids, _i + 2, size(_ids))")).alias("id_b")
        )
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )

    # 2. Candidate pairs BETWEEN distinct hashes: segment blocking.
    segs = F.array(
        *[
            F.struct(
                F.lit(ci).alias("seg"),
                F.shiftright(F.col("simhash"), ci * seg_bits)
                .bitwiseAND(F.lit((1 << seg_bits) - 1))
                .alias("val"),
            )
            for ci in range(chunks)
        ]
    )
    blocked = groups.select("simhash", F.explode(segs).alias("s")).select(
        "simhash", F.col("s.seg").alias("seg"), F.col("s.val").alias("val")
    )
    hash_pairs = (
        _bucket_member_pairs(
            blocked, ["seg", "val"], "simhash", max_bucket_size=max_bucket_size
        )
        .select(F.col("_a").alias("sh_a"), F.col("_b").alias("sh_b"))
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
    )

    # 3. Expand verified hash pairs back to doc pairs. Each unordered
    # doc pair appears exactly once (hash groups are disjoint and
    # sh_a < sh_b), normalized to id_a < id_b.
    ma = groups.select(F.col("simhash").alias("sh_a"), F.explode("_ids").alias("_da"))
    mb = groups.select(F.col("simhash").alias("sh_b"), F.explode("_ids").alias("_db"))
    across = (
        hash_pairs.join(ma, "sh_a")
        .join(mb, "sh_b")
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(across)


def connected_components_star(
    edges: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., 'Connected Components in MapReduce and
    Beyond') — converges in O(log n) rounds on ANY graph shape, versus
    :func:`connected_components`' O(diameter) label propagation.
    Returns (node, component) with component = min node id, identical
    to the default operator (parity-tested).

    Per round, each star operation is one groupBy + one join — no
    per-node neighbor arrays (a hub node's adjacency never
    materializes in one row):

    - large-star: every node u computes m(u) = min(Γ(u) ∪ {u}) and
      reconnects its STRICTLY LARGER neighbors to m(u);
    - small-star: u reconnects its ≤ neighbors (and itself) to m≤(u),
      the min over that subset.

    Use this variant when clusters can be long chains (transcript
    near-dup graphs, temporal drift chains) — min-label propagation
    needs diameter rounds there, each a full pass; star rounds halve
    chain length geometrically. For star-like duplicate clusters (the
    common corpus case) the default operator needs fewer rounds and
    less per-round work, so it stays the default.

    Fixpoint: the star edge set reproduces itself once every member
    points at its component min, so convergence is detected by a
    (count, order-insensitive hash-sum) checksum of consecutive
    rounds' edge sets — ONE tiny aggregate per round, which also
    materializes the lazy checkpoint — and confirmed EXACTLY with a
    single ``exceptAll`` probe only at the detected fixpoint (so a
    checksum collision cannot silently mis-cluster; downstream
    leakage-safe splits need exact components)."""
    # DOWNWARD-canonical edge set (u > v): each round's input is then
    # symmetrized by a NARROW union with its own swap — no dups are
    # possible between the two branches (every cur edge points down,
    # every swapped edge up), so the per-round `distinct` the old
    # symmetric representation needed disappears. Round work drops
    # from 8 exchanges (2 distincts + 2 groupBy+join pairs) to 4 (2
    # window-mins + the output distinct + the checksum agg) — under
    # AQE each exchange is a scheduler round-trip, and the loop runs
    # O(log n) rounds, so per-round exchanges multiply.
    cur = (
        edges.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # lazy: nodes is consumed only by the final labeling join, so the
    # caller's one action materializes it — an eager checkpoint here
    # would be a whole extra job just to pin a frame nothing reads
    # until the end (the fused-probe shape)
    nodes = (
        cur.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    w_u = Window.partitionBy("u")
    prev_chk: tuple | None = None
    converged = False
    for _ in range(max_iter):
        und = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: m(u) = min(Γ(u) ∪ {u}); reattach neighbors v > u.
        # A window min over the u-partition replaces the old
        # groupBy+join pair (one exchange instead of two); values are
        # identical row-for-row. No intermediate distinct: duplicate
        # (v, m) edges from different u-groups don't change the next
        # min and the round output is distinct'd below — multiplicity
        # stays bounded by node degree, same order as the deduped set.
        large = (
            und.withColumn(
                "m", F.least(F.min("v").over(w_u), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star on the (big → small) edges: every node in
        # Γ(u) ∪ {u} reattaches to the group min
        small = (
            large.withColumn("m", F.min("v").over(w_u))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        row = small.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode makes a long sum of 64-bit hashes
            # throw on overflow
            F.sum(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")).alias("h"),
        ).first()
        chk = (row.n, row.h)
        if chk == prev_chk:
            # exact confirmation of the checksum fixpoint
            if small.exceptAll(cur).limit(1).count() == 0:
                cur = small
                converged = True
                break
        prev_chk = chk
        cur = small
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within max_iter={max_iter} "
            "rounds; raise max_iter — an unconverged labeling would leak "
            "duplicates across split boundaries"
        )
    # at fixpoint every edge is (member, component-min); singletons
    # (nodes whose every edge collapsed) map to themselves
    comp = cur.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    return (
        nodes.join(comp, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )


def connected_components(
    edges: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the (undirected) pair graph by
    iterative min-label propagation: every node's label converges to
    the minimum node id in its component. Returns (node, component).

    This is the operator that turns near-dup PAIRS into duplicate
    CLUSTERS (pick one canonical doc per component). Each iteration is
    ONE Spark job and one keyed shuffle: neighbor labels unioned with
    own labels, groupBy-min, with the convergence probe folded into the
    same pass — each node's previous label rides through the aggregate
    (own-label rows carry it, neighbor rows carry null, ``max``
    recovers it), so ``any(new != old)`` is a one-row aggregate over
    the SAME frame whose action also materializes the lazy
    ``localCheckpoint``. The previous shape ran a second join +
    limit(1).count() job per iteration purely as the probe — one
    scheduler round-trip per round on the hot path of the slowest
    bench query. Convergence takes O(cluster diameter) rounds;
    duplicate clusters are star-like, so 2-4 rounds in practice, with
    ``max_iter`` as the safety bound. ``localCheckpoint`` truncates
    the iterative lineage so each round's plan stays constant-size.

    Reference for the algorithmic shape: the min-label "small-star"
    round of Kiveris et al., 'Connected Components in MapReduce and
    Beyond' — expressed as DataFrame union+groupBy, not RDDs.

    Raises ``RuntimeError`` if labels are still changing when
    ``max_iter`` is exhausted: downstream leakage-safe splits
    (training_set_curation_leakage_safe) depend on EXACT convergence —
    an unconverged labeling would silently split one duplicate
    component across train/test, so failing loudly is the only safe
    exit."""
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        # materialize the edge list ONCE: it re-enters the plan every
        # propagation round, and without this the whole upstream pair
        # computation (an LSH/Jaccard query) re-executes per iteration
        # (measured 10.4s -> ~4s on the registered cluster query)
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    comp_type = labels.schema["comp"].dataType.simpleString()
    changed = True
    for _ in range(max_iter):
        nbr = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"),
            F.col("comp"),
            F.lit(None).cast(comp_type).alias("_old"),
        )
        own = labels.select("node", "comp", F.col("comp").alias("_old"))
        # One groupBy carries both the new min-label and (via max over
        # the single non-null own-label row) the previous label.
        folded = (
            own.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.max("_old").alias("_old"))
            .select("node", "comp", (F.col("comp") != F.col("_old")).alias("_delta"))
            .localCheckpoint(eager=False)
        )
        # Single action: materializes the checkpoint AND answers the
        # convergence probe (no second join+count job per round).
        row = folded.agg(F.max(F.col("_delta").cast("int")).alias("c")).first()
        changed = bool(row.c)
        labels = folded.select("node", "comp")
        if not changed:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (labels still changing); raise max_iter — component "
            "diameter exceeds the bound, and an unconverged labeling would "
            "leak duplicates across split boundaries"
        )
    return labels


def cross_corpus_ngram_jaccard(
    left: DataFrame,
    right: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """NEAR-dup pairs BETWEEN two corpora by word-``n``-gram Jaccard —
    fuzzy decontamination: where exact n-gram overlap
    (operators.curation.contamination_stats) catches verbatim
    inclusions, this catches paraphrased/reformatted benchmark leakage
    whose shingle SETS still overlap heavily.

    Same inverted-index shape as :func:`ngram_jaccard_pairs`, with the
    two sides collected into separate posting lists under one shingle
    groupBy (one keyed shuffle, never a corpus join); candidate pairs
    are left×right within a shingle's lists only, so a benchmark of
    size B against a corpus of size N costs Σ_shingle df_L·df_R — in
    practice ∝ B's shingle mass, not N². ``max_df`` caps a shingle's
    COMBINED document frequency (stop-shingle bound, mirrored by the
    oracle). Jaccard denominators count each side's post-cap shingle
    set, exactly like the self-join operator. Emits
    (id_left, id_right, jaccard); identical ids are NOT excluded —
    callers whose right corpus is a subset of the left (eval splits
    carved from the corpus) should drop them."""
    shl = word_shingles(left, text_col, n, id_col).select(
        F.col(id_col).alias("_id"), "shingle", F.lit(0).alias("_side")
    )
    shr = word_shingles(right, text_col, n, id_col).select(
        F.col(id_col).alias("_id"), "shingle", F.lit(1).alias("_side")
    )
    grouped = (
        shl.unionByName(shr)
        .groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("_side") == 0, F.col("_id")))
            ).alias("_ls"),
            F.sort_array(
                F.collect_list(F.when(F.col("_side") == 1, F.col("_id")))
            ).alias("_rs"),
        )
    )
    if max_df is not None:
        grouped = grouped.filter((F.size("_ls") + F.size("_rs")) <= max_df)
    # same fan-out as _posting_list_pair_counts (sizes_l, sizes_r,
    # inter): exchange reuse measured NOT firing — cut once, lazily.
    grouped = grouped.localCheckpoint(eager=False)
    sizes_l = (
        grouped.select(F.explode("_ls").alias("id_left"))
        .groupBy("id_left")
        .agg(F.count("*").alias("_n_l"))
    )
    sizes_r = (
        grouped.select(F.explode("_rs").alias("id_right"))
        .groupBy("id_right")
        .agg(F.count("*").alias("_n_r"))
    )
    inter = (
        grouped.filter((F.size("_ls") >= 1) & (F.size("_rs") >= 1))
        .select(F.explode("_ls").alias("id_left"), F.col("_rs"))
        .select("id_left", F.explode("_rs").alias("id_right"))
        .groupBy("id_left", "id_right")
        .agg(F.count("*").alias("_n_common"))
    )
    return (
        inter.join(sizes_l, "id_left")
        .join(sizes_r, "id_right")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_n_common").cast("double")
                / (F.col("_n_l") + F.col("_n_r") - F.col("_n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_left", "id_right", "jaccard")
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 16,
    window: int = 32,
    min_shared: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """Cross-document overlap candidates from winnowing fingerprints
    (the MOSS pairing step): documents sharing ≥ ``min_shared``
    selected fingerprints contain common passages — catching partial
    plagiarism/mirroring at CHARACTER granularity, where the word-
    shingle family needs token-exact matches. Winnowing's guarantee
    makes the candidate set sound: any shared passage of at least
    window+gram-1 characters forces ≥ 1 shared fingerprint, so
    ``min_shared`` = 3 demands roughly three independent shared
    regions (or one long one) before a pair surfaces, suppressing
    single-fingerprint hash-coincidence noise (measured at sf0.01:
    1,748 pairs share ≥ 1 fingerprint, 24 share ≥ 3 — exactly the
    near-dup families).

    Scale shape = the inverted-index recipe
    (:func:`ngram_jaccard_pairs`): fingerprinting is per-row and
    shuffle-free (functions.text.winnowing_fingerprints), one groupBy
    on the fingerprint builds posting lists, ``max_df`` drops viral
    fingerprints (df² pair growth — same boilerplate hazard as viral
    shingles), pair multiplicity IS the shared-fingerprint count.
    Returns (id_a, id_b, n_shared)."""
    from py_data_pipeline_app_spark.functions.text import winnowing_fingerprints

    fps = winnowing_fingerprints(
        df, text_col=text_col, id_col=id_col, gram=gram, window=window
    )
    grouped = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ms")
    )
    if max_df is not None:
        grouped = grouped.filter(F.size("_ms") <= max_df)
    e = grouped.filter(F.size("_ms") >= 2).select(
        F.col("_ms"), F.posexplode("_ms").alias("_i", "id_a")
    )
    return (
        e.select(
            "id_a", F.explode(F.expr("slice(_ms, _i + 2, size(_ms))")).alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cluster_canonicals(
    docs: DataFrame,
    pairs: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "quality_z",
    components: str = "minlabel",
) -> DataFrame:
    """Pick one CANONICAL document per near-dup cluster by QUALITY —
    the selection policy production dedup actually wants: lowest-id
    survivors (the `kept` flags of the pairwise operators) keep an
    arbitrary member, while a crawl family should keep its
    best-scoring version (the un-truncated, un-boilerplated copy) and
    drop the rest.

    Composition: ``pairs`` → :func:`connected_components` →
    component per doc (docs in no pair are their own singleton
    component), joined with ``scores`` (e.g.
    quality_model.score_quality_linear), canonical = the
    highest-scoring member, ties to the LOWEST id — deterministic
    cross-engine because the score is 6dp-rounded before comparison.
    ``score_col`` must be numeric; ``id_col`` may be any orderable
    type (string doc keys included).

    Scale shape: the canonical pick is ONE ``min(struct(-score, id))``
    aggregation keyed by component (map-side partial agg — no
    per-component window over a mostly-singleton corpus), then a
    broadcast-friendly re-join keyed by component. Returns (id,
    component_id, canonical_id, score, is_canonical).

    ``components`` picks the closure algorithm: ``"minlabel"`` (the
    default — O(cluster diameter) rounds, cheapest on the star-like
    clusters of text corpora) or ``"star"``
    (:func:`connected_components_star`, O(log n) rounds on ANY shape —
    the round-15 ×100 rehearsal measured perceptual-hash near-dup
    graphs forming CHAINS of re-encodes whose diameter exceeds the
    min-label iteration bound, so the media-family canonicals default
    to it). Both return identical components (parity-tested), so the
    choice never changes results — only convergence behavior."""
    if components not in ("minlabel", "star"):
        raise ValueError(
            f"components must be 'minlabel' or 'star', got {components!r}"
        )
    cc = (
        connected_components_star
        if components == "star"
        else connected_components
    )
    comp = cc(pairs).select(
        F.col("node").alias(id_col), F.col("comp").alias("component_id")
    )
    member = (
        docs.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component_id"), F.col(id_col)).alias(
                "component_id"
            ),
        )
        .join(scores.select(F.col(id_col), F.col(score_col)), id_col)
        # member fans out to TWO consumers (the canonical argmax and
        # the final re-join). Without a checkpoint the physical plan
        # duplicates the whole upstream subtree — docs AND scores each
        # scanned twice, which for the media-family callers means the
        # payload-bearing source read twice per consumer (12 scans
        # observed in the r15 before-plans). A LAZY checkpoint keeps
        # the cut free of an extra job: the caller's one action
        # materializes the (id, component, score) rows once and both
        # branches read the materialized partitions.
        .localCheckpoint(eager=False)
    )
    # argmax with (score desc, id asc) as ONE map-side-combinable agg:
    # min over struct(-score, id) — the SCORE is negated (always
    # numeric: it is a quality score), never the id, so string doc
    # keys order naturally (max_by(id, struct(score, -id)) would fail
    # analysis on a non-numeric id_col)
    canon = member.groupBy("component_id").agg(
        F.min(
            F.struct(
                (-F.col(score_col)).alias("_neg_score"),
                F.col(id_col).alias("_id"),
            )
        )["_id"].alias("canonical_id")
    )
    return member.join(canon, "component_id").select(
        F.col(id_col),
        "component_id",
        "canonical_id",
        F.col(score_col),
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )

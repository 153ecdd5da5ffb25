"""Corpus-curation operators for LLM training-data pipelines:
repetition-based quality filters, PII redaction, benchmark
decontamination, and sequence packing (extension — no reference
evidence; the reference app has no curation surface).

These are the standard passes a pretraining pipeline runs between raw
ingestion and tokenization — alongside the dedup family
(operators.dedup), quality scoring (functions.text), and the
deterministic split/sample operators (operators.sampling).

Design for 100 TB:

- Everything is native Column expressions — no Python in the per-row
  path; every aggregation is keyed by document (or by a bounded
  dimension) with map-side partial aggregation, so shuffles move
  per-document summaries, never token streams. Word/gram occurrence
  rows explode within a task and collapse back to one row per document
  before any exchange.
- Decontamination broadcasts the benchmark gram set (evaluation suites
  are MBs against a 100-TB corpus) — the corpus is scanned once and
  never shuffled except the final per-document rollup.
- Sequence packing is windowed *per shard*, never a global sort: each
  shard packs independently (that is also how a real tokenizer fleet
  consumes it), so the window's partition is bounded and the plan
  scales linearly with shard count.
- All randomness is md5-derived (functions.text.md5_long), so every
  operator is bit-reproducible in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.functions.text import tokens
from py_data_pipeline_app_spark.partitioning import fan_out

# ---------------------------------------------------------------------------
# Repetition filters (Gopher-style rules 4-8: a document dominated by a
# few words or by repeated n-grams is boilerplate, not prose)
# ---------------------------------------------------------------------------


def run_length_stats(sorted_src: str) -> Column:
    """Occurrence statistics of a SORTED string array via one
    sequential fold (``aggregate`` with a struct accumulator):
    ``struct(top_count, n_distinct, dup_occurrences)`` where
    ``top_count`` is the longest equal-run (= the most frequent
    element's count), ``n_distinct`` the number of runs, and
    ``dup_occurrences`` the total length of runs longer than 1.

    ``sorted_src`` is the array's parsed-expression SOURCE TEXT (e.g.
    ``"sort_array(`_toks`)"`` over a staged column) — the whole fold
    renders as ONE ``F.expr`` (the Column-composed builder cost ~110
    py4j round trips of pure construction latency per call site,
    measured r16; the rendered SQL parses to the identical expression
    tree, pinned by the renderer parity suite).

    This is the zero-shuffle shape for per-document occurrence stats:
    a document's tokens all live in its own row, so counting them
    never needs an exchange — O(n log n) sort + O(n) fold per row,
    entirely inside whole-stage codegen, versus the explode →
    groupBy(doc, word) → groupBy(doc) alternative whose first shuffle
    moves a row per distinct (doc, word)."""
    return F.expr(
        f"aggregate({sorted_src}, "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS top, CAST(0 AS BIGINT) AS nd, "
        "CAST(0 AS BIGINT) AS dup), "
        "(acc, x) -> struct("
        "x AS prev, "
        "CASE WHEN acc.prev IS NOT NULL AND acc.prev = x "
        "THEN acc.run + 1 ELSE 1 END AS run, "
        "CASE WHEN acc.prev IS NOT NULL AND acc.prev != x "
        "THEN greatest(acc.top, acc.run) ELSE acc.top END AS top, "
        "CASE WHEN acc.prev IS NOT NULL AND acc.prev != x "
        "THEN acc.nd + 1 ELSE acc.nd END AS nd, "
        "CASE WHEN acc.prev IS NOT NULL AND acc.prev != x AND acc.run > 1 "
        "THEN acc.dup + acc.run ELSE acc.dup END AS dup), "
        "acc -> struct("
        "greatest(acc.top, acc.run) AS top_count, "
        "acc.nd + (CASE WHEN acc.prev IS NOT NULL THEN 1 ELSE 0 END) "
        "AS n_distinct, "
        "CASE WHEN acc.run > 1 THEN acc.dup + acc.run ELSE acc.dup END "
        "AS dup_occurrences))"
    )


def with_token_chunks(
    df: DataFrame, text_col: str, chunk_tokens: int, out: str = "_chunks"
) -> DataFrame:
    """``df`` plus an ``out`` column of aligned ``chunk_tokens``-token
    chunk strings (the span-dedup grid; the final chunk may be short).
    The token array is STAGED as its own projection column before the
    per-chunk lambda slices it — inlined, the ``split(trim(text))``
    re-evaluates once per chunk (the word_shingles staging rule, worth
    ~chunks× the tokenize cost per row). fan_out: the tokenize + chunk
    render is expensive narrow compute (guide §2.5)."""
    staged = fan_out(df).withColumn("_ck_toks", tokens(text_col))
    toks = F.col("_ck_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    return staged.withColumn(out, chunks).drop("_ck_toks")


def ngrams_of(toks_src: str, n: int) -> Column:
    """Word ``n``-grams of a token array as space-joined strings;
    arrays shorter than ``n`` yield their whole run as the single gram
    (never an empty array, so downstream explodes keep every
    document). ``toks_src`` is the array's parsed-expression SOURCE
    TEXT (a staged column's backticked name at every call site) — one
    ``F.expr`` instead of ~20 Column-composition round trips (the
    run_length_stats rationale; parity-pinned)."""
    return F.expr(
        f"transform(sequence(1, greatest(size({toks_src}) - {n - 1}, 1)), "
        f"i -> array_join(slice({toks_src}, i, {n}), ' '))"
    )


def repetition_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top_word_frac: float = 0.10,
    max_dup_2gram_frac: float = 0.60,
) -> DataFrame:
    """Gopher-style repetition flags per document: the top word's
    occurrence share and the duplicate-2-gram occurrence share, each
    rounded and compared against its budget. Returns one row per
    document with the fractions and a ``flagged`` verdict (True =
    drop candidate).

    One narrow projection — both folds run in the same scan over
    materialized-once intermediate columns; no explode, no shuffle,
    no join. A document's repetition profile is a pure function of its
    own row, and the plan says so — with one round-robin fan-out ahead
    of it when the input is an unsplittable one-file scan (guide §2.5;
    no-op on an already-wide corpus)."""
    d = (
        fan_out(df).withColumn("_toks", tokens(text_col))
        .withColumn("_ws", run_length_stats("sort_array(`_toks`)"))
        .withColumn("_g2", ngrams_of("`_toks`", 2))
        .withColumn("_gs", run_length_stats("sort_array(`_g2`)"))
    )
    top_word_frac = F.round(
        F.col("_ws.top_count").cast("double") / F.size("_toks"), 6
    )
    dup_2gram_frac = F.round(
        F.col("_gs.dup_occurrences").cast("double") / F.size("_g2"), 6
    )
    return d.select(
        id_col,
        F.size("_toks").cast("long").alias("n_words"),
        F.col("_ws.n_distinct").alias("n_distinct_words"),
        top_word_frac.alias("top_word_frac"),
        dup_2gram_frac.alias("dup_2gram_frac"),
        (
            (top_word_frac > max_top_word_frac)
            | (dup_2gram_frac > max_dup_2gram_frac)
        ).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Conservative patterns shared verbatim with the DuckDB oracle (plain
#: character classes + counted quantifiers — identical semantics in
#: Java regex and RE2).
EMAIL_RE = "[A-Za-z0-9#._]+@[A-Za-z0-9.-]+"
PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(
    df: DataFrame, *, text_col: str, out_col: str = "scrubbed"
) -> DataFrame:
    """Redact emails and phone numbers from ``text_col``, adding the
    scrubbed text and per-row redaction counts. Counts are taken
    before replacement (size of regexp_extract_all), the scrub is two
    chained regexp_replace calls — all codegen'd, scan-bound.

    Phones are scrubbed BEFORE emails: the email pattern's domain
    class ``[A-Za-z0-9.-]+`` greedily spans digits and hyphens, so an
    email directly abutting a phone ('a@b.c12-345-678-9012') would
    otherwise swallow the phone digits into <EMAIL>, leaving the
    pre-replacement phone count inconsistent with the scrubbed text.
    Phone-first keeps counts and redactions consistent (the phone
    count matches the original text either way — the phone pattern
    is digits-and-hyphens only, which the email pattern's local part
    cannot start consuming mid-string)."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(c, PHONE_RE, "<PHONE>"), EMAIL_RE, "<EMAIL>"
    )
    return df.withColumn("n_emails", n_emails).withColumn(
        "n_phones", n_phones
    ).withColumn(out_col, scrubbed)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document overlap with a benchmark set's word ``n``-grams —
    the standard eval-decontamination pass: a training document sharing
    a large fraction of its grams with any benchmark item leaks the
    benchmark.

    Returns (id, n_grams, n_hits, contamination_frac) for every
    document in ``docs``. The benchmark gram set is deduplicated and
    broadcast (eval suites are tiny next to the corpus); the corpus is
    scanned once — grams explode and re-collapse to one row per
    document around a broadcast left join, so the only shuffle is the
    per-document rollup."""
    # token arrays staged before the per-gram lambdas (word_shingles
    # staging rule: an inlined tokens() re-splits the text per gram)
    bench_grams = (
        benchmark.withColumn("_btoks", tokens(text_col))
        .select(F.explode(ngrams_of("`_btoks`", n)).alias("_bg"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = docs.withColumn("_dtoks", tokens(text_col)).select(
        F.col(id_col), F.explode(ngrams_of("`_dtoks`", n)).alias("_g")
    )
    joined = doc_grams.join(
        F.broadcast(bench_grams), doc_grams._g == bench_grams._bg, "left"
    )
    agg = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
    )
    return agg.select(
        id_col,
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 6).alias(
            "contamination_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    *,
    seq_len: int = 2048,
    n_shards: int = 8,
    token_col: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-budget training sequences
    (concat-and-chop packing): within a deterministic shard, documents
    are laid end-to-end in ``id_col`` order and a document belongs to
    the sequence where its first token lands.

    Adds (shard, seq_bin, n_tokens, offset) per document. Packing is
    windowed PER SHARD — each shard is an independent stream a
    tokenizer worker consumes, so no global sort exists in the plan
    and shard count scales with the cluster."""
    tok = token_col if token_col is not None else F.size(tokens(text_col))
    shard = (F.col(id_col) % n_shards).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = docs.select(F.col(id_col), shard.alias("shard"), tok.alias("n_tokens"))
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.withColumn("offset", offset).withColumn(
        "seq_bin", F.floor(F.col("offset") / seq_len).cast("int")
    )


# ---------------------------------------------------------------------------
# Corpus-level span dedup (C4-style line dedup generalized to token chunks)
# ---------------------------------------------------------------------------


def chunk_dedup_rebuild(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Corpus-level SPAN deduplication: C4/RefinedWeb drop any line
    that occurs more than once across the corpus; for line-less text
    the unit generalizes to fixed ``chunk_tokens``-token spans. Every
    document is split into consecutive chunks, each chunk is
    fingerprinted, only the globally FIRST occurrence of a fingerprint
    (ordered by doc id, then chunk position) survives, and documents
    are rebuilt from their surviving chunks in order. An exact
    duplicate document keeps nothing; boilerplate shared across
    documents survives only where it first appeared.

    Scale shape: two keyed shuffles, linear in corpus tokens — one
    window over the 16-byte chunk fingerprint to pick survivors (no
    count-join; the same exchange ranks and filters), one groupBy on
    the doc id to reassemble. Never a join against the corpus; chunk
    arrays stay bounded by chunk_tokens.

    Returns (id, text_deduped, n_chunks, n_kept); fully-scrubbed
    documents keep an empty string (filter on n_kept downstream)."""
    exploded = with_token_chunks(docs, text_col, chunk_tokens).select(
        F.col(id_col), F.posexplode(F.col("_chunks")).alias("pos", "chunk")
    ).withColumn("fp", F.md5(F.col("chunk")))
    w = Window.partitionBy("fp").orderBy(id_col, "pos")
    kept = (
        exploded.withColumn("rn", F.row_number().over(w))
        .withColumn("is_first", F.col("rn") == 1)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_first").cast("int")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("is_first"),
                            F.struct(F.col("pos"), F.col("chunk")),
                        )
                    )
                ),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("text_deduped"),
    )
    return rebuilt.select(
        id_col, "text_deduped", "n_chunks", F.col("n_kept").cast("int").alias("n_kept")
    )


def perplexity_buckets(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 32,
    head_cutoff: float = 3.0,
    tail_cutoff: float = 4.0,
    lm: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style language-model quality filter (Wenzek et al. 2020's
    public recipe, with the unigram LM standing in for KenLM): score
    every document by its cross-entropy under a corpus-trained LM and
    bucket into head/middle/tail — low-perplexity "head" text is the
    cleanest pretraining data, "tail" is noise/boilerplate. Returns
    (id, n_tokens, cross_entropy, bucket, kept) with kept = not tail.

    The LM is a top-``vocab_size`` unigram table (count-ranked,
    token-asc tie-break) with logp = round(ln(count/total), 6);
    out-of-vocabulary tokens get the floor logp = round(ln(1/total),
    6) — a deliberate add-one-ish penalty that makes rare-token spam
    expensive. Pass ``lm`` (a (token, logp) frame from
    :func:`unigram_lm`, e.g. trained on a clean reference corpus and
    read back from parquet) to score against a FIXED reference model —
    the actual CCNet setup, where the LM is trained on Wikipedia and
    applied to the crawl.

    Determinism: per-token logp is rounded to 6 dp (cross-engine ln
    agreement at that precision is the tfidf precedent), the per-doc
    sum runs over decimal(18,6) (exact, order-free), and the final
    cross-entropy is one double division rounded to 6 — the whole
    score value-hashes in the DuckDB oracle.

    Scale shape: token counts are two keyed aggregations with map-side
    combine; the LM is ``vocab_size`` rows and BROADCAST into the
    scoring join, so the corpus token stream is scanned once and only
    per-document summaries shuffle. Cutoffs are fixed parameters (at
    100 TB you calibrate them once on a sample — CCNet's published
    percentile protocol — rather than paying a global sort per run).
    """
    tok = fan_out(docs).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    ).filter(F.col("_tok") != "")
    if lm is None:
        # self-trained: the LM is DERIVED from the corpus (a groupBy +
        # TakeOrdered over every token) — referencing that frame twice
        # (scoring join + floor aggregate) would re-run the corpus-wide
        # aggregation per reference. Collect the V rows ONCE and
        # re-enter them as a local relation (the collect-once rule the
        # index builders follow, SURVEY §4.3); the table broadcasts
        # anyway, so driver residency is not new cost.
        lm_rows = unigram_lm(
            docs, text_col=text_col, vocab_size=vocab_size
        ).collect()
        lm = local_rows_df(
            docs.sparkSession,
            "_tok string, logp double, floor_logp double",
            [(r._tok, float(r.logp), float(r.floor_logp)) for r in lm_rows],
        )
    lm = F.broadcast(lm.select("_tok", "logp", "floor_logp"))
    # every lm row carries floor_logp, but OOV rows miss the join
    # entirely — recover the constant via a broadcast 1-row cross join
    # (on an externally-loaded LM this is one extra scan of a tiny
    # parquet table, not a corpus aggregation)
    floor = lm.select(F.max("floor_logp").alias("_floor"))
    scored = (
        tok.join(lm, "_tok", "left")
        .crossJoin(F.broadcast(floor))
        .select(id_col, F.coalesce(F.col("logp"), F.col("_floor")).alias("_lp"))
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("_lp").cast("decimal(18,6)")).alias("_s"),
    )
    ce = F.round(-F.col("_s").cast("double") / F.col("n_tokens"), 6)
    return agg.select(
        id_col,
        "n_tokens",
        ce.alias("cross_entropy"),
        F.when(ce <= head_cutoff, "head")
        .when(ce > tail_cutoff, "tail")
        .otherwise("middle")
        .alias("bucket"),
        (ce <= tail_cutoff).alias("kept"),
    )


def source_reputation(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    vocab_size: int = 32,
    lm: DataFrame | None = None,
) -> DataFrame:
    """Domain/source-level quality rollup (the RefinedWeb/C4 URL-level
    curation idea at source granularity): score every document's LM
    cross-entropy (:func:`perplexity_buckets`' core), aggregate to a
    per-source mean, and mark sources whose mean is at or below the
    corpus-wide mean as reputable — a self-calibrated filter with no
    magic cutoff (spam farms drift above the corpus mean by
    construction). Returns one row per source: (source, n_docs,
    mean_ce, overall_ce, reputable).

    Scale shape: per-doc scoring is the broadcast-LM pass; the rollup
    is one keyed aggregation to |sources| rows plus a 1-row broadcast
    cross join for the corpus mean — nothing bigger than a per-source
    summary ever shuffles. Per-source means sum decimal(18,6)-cast
    scores (exact, order-free) and the overall mean reuses the SAME
    per-source sums, so both value-hash cross-engine."""
    pb = perplexity_buckets(
        docs, text_col=text_col, id_col=id_col, vocab_size=vocab_size, lm=lm
    ).select(id_col, "cross_entropy")
    with_src = pb.join(docs.select(id_col, source_col), id_col)
    per_src = with_src.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("cross_entropy").cast("decimal(18,6)")).alias("_s"),
    )
    overall = per_src.agg(
        (F.sum("_s").cast("double") / F.sum("n_docs")).alias("_overall")
    )
    mean_ce = F.round(F.col("_s").cast("double") / F.col("n_docs"), 6)
    return (
        per_src.crossJoin(F.broadcast(overall))
        .select(
            source_col,
            "n_docs",
            mean_ce.alias("mean_ce"),
            F.round(F.col("_overall"), 6).alias("overall_ce"),
            (mean_ce <= F.round(F.col("_overall"), 6)).alias("reputable"),
        )
    )


def _bigram_map_stage(
    docs: DataFrame, vocab: list[str], *, text_col: str, id_col: str | None
) -> DataFrame:
    """(id?, _m): the document's non-empty tokens mapped into
    vocab ∪ {<unk>} — the shared front of training and scoring, so a
    frozen model and a self-trained one see bit-identical symbol
    streams. The vocab re-enters as a typed map literal (the
    collect-once rule; the casts keep an EMPTY vocab analyzable —
    map<string,string>, not map<null,null>). ``id_col=None`` drops the
    id (training needs only the symbol stream)."""
    vmap = F.map_from_arrays(
        F.array(*[F.lit(t) for t in vocab]).cast("array<string>"),
        F.array(*[F.lit(t) for t in vocab]).cast("array<string>"),
    )
    ids = [F.col(id_col)] if id_col is not None else []
    # stage the token array AND the mapped array as their own
    # projections (lambda-capture staging rule) before slicing pairs;
    # fan_out past an unsplittable one-file scan (guide §2.5)
    return (
        fan_out(docs).select(
            *ids,
            F.filter(tokens(text_col), lambda x: x != "").alias("_toks"),
        )
        .withColumn("_vmap", vmap)
        .withColumn(
            "_m",
            F.transform(
                F.col("_toks"),
                lambda t: F.coalesce(
                    F.element_at(F.col("_vmap"), t), F.lit("<unk>")
                ),
            ),
        )
        .select(*ids, "_m")
        .filter(F.size("_m") > 0)
        .localCheckpoint(eager=False)
    )


def _bigram_pair_stream(staged: DataFrame, id_col: str | None) -> DataFrame:
    """(id?, _p, _w): every adjacent symbol transition of the staged
    corpus — exploded within a task, one row per transition."""
    ids = [F.col(id_col)] if id_col is not None else []
    pairs_col = F.zip_with(
        F.slice(F.col("_m"), 1, F.size("_m") - 1),
        F.slice(F.col("_m"), 2, F.size("_m") - 1),
        lambda a, b: F.struct(a.alias("p"), b.alias("w")),
    )
    return staged.select(*ids, F.explode(pairs_col).alias("_pr")).select(
        *ids, F.col("_pr.p").alias("_p"), F.col("_pr.w").alias("_w")
    )


def _bigram_top_vocab(
    docs: DataFrame, *, text_col: str, vocab_size: int
) -> list[str]:
    """Top-``vocab_size`` tokens by count (token-asc tie-break),
    collected once — executes as TakeOrderedAndProject, V rows to the
    driver."""
    rows = (
        docs.select(F.explode(tokens(text_col)).alias("_tok"))
        .filter(F.col("_tok") != "")
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_tok"))
        .limit(vocab_size)
        .collect()
    )
    return [r._tok for r in rows]


def bigram_perplexity_buckets(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 32,
    lam: float = 0.7,
    head_cutoff: float = 3.0,
    tail_cutoff: float = 4.0,
    bigram_lm: str | None = None,
    lm_verify: bool = True,
) -> DataFrame:
    """:func:`perplexity_buckets` upgraded to an INTERPOLATED BIGRAM
    LM — one honest step from the unigram stand-in toward CCNet's
    5-gram KenLM (Wenzek et al. 2020; Jelinek-Mercer interpolation):

    - tokens outside the top-``vocab_size`` unigram vocabulary map to
      one ``<unk>`` symbol FIRST (KenLM's open-vocabulary setup), so
      the bigram table is bounded by (V+1)² regardless of corpus size
      and every context has a count;
    - p(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}) +
      (1−λ)·c(w_i)/total, the classic interpolated backoff — an
      unseen pair falls back to (1−λ)·unigram instead of a flat
      floor;
    - the document's first token scores by pure unigram (no ``<s>``
      context state to persist).

    The unigram model cannot see token ORDER: word salad built from
    frequent words buckets "head" under it and tail here — the
    fixture pinning that flip is the test. Repetitive spam moves the
    other way (its one transition is cheap), which is why CCNet pairs
    the LM filter with repetition rules (:func:`repetition_filter`).

    Determinism/oracle: every count is an exact integer aggregate,
    per-transition logp is round(ln(λ·cb/cp + (1−λ)·cu/total), 6)
    (the tfidf 6-dp ln precedent), per-doc sums run over
    decimal(18,6), final CE is one rounded double division — the
    whole derivation value-hashes in DuckDB.

    Scale shape: the vocabulary is ONE TakeOrdered (V rows, collected
    once, re-entering as a map literal — zero extra jobs to map the
    stream); bigram and unigram counts are keyed aggregations with
    map-side combine over bounded key spaces ((V+1)² and V+1); both
    LM tables BROADCAST into the scoring joins; only per-document
    summaries shuffle.

    Pass ``bigram_lm`` (a directory written by :func:`bigram_lm_train`)
    to score against a FROZEN model — the actual CCNet setup, where the
    LM is trained once on a clean reference corpus and applied to every
    new crawl batch: vocabulary, unigram and bigram counts all come
    from the persisted tables (checksum-verified) and the scored
    corpus contributes NOTHING to the model, so a document's score is
    independent of what it arrives with. Symbols the frozen model never
    saw (an ``<unk>`` when training had full-vocab coverage) score at
    the add-one floor ln((1−λ)·1/total) — the same deliberate
    rare-token penalty as the unigram filter's floor_logp. Without
    ``bigram_lm`` the model is self-trained on ``docs``
    (corpus-relative scoring, the original mode)."""
    if bigram_lm is not None:
        vocab, uni, bi = bigram_lm_frames(
            docs.sparkSession, bigram_lm, verify=lm_verify
        )
        staged = _bigram_map_stage(
            docs, vocab, text_col=text_col, id_col=id_col
        )
        pair_stream = _bigram_pair_stream(staged, id_col)
    else:
        vocab = _bigram_top_vocab(
            docs, text_col=text_col, vocab_size=vocab_size
        )
        staged = _bigram_map_stage(
            docs, vocab, text_col=text_col, id_col=id_col
        )
        pair_stream = _bigram_pair_stream(staged, id_col)
        uni = (
            staged.select(F.explode("_m").alias("_tok"))
            .groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_cu"))
        )
        bi = pair_stream.groupBy("_p", "_w").agg(
            F.count(F.lit(1)).alias("_cb")
        )
    total = uni.agg(F.sum("_cu").alias("_t"))
    uni = uni.crossJoin(F.broadcast(total))
    ctx = bi.groupBy("_p").agg(F.sum("_cb").alias("_cp"))
    lam_lit, ulam = F.lit(float(lam)), F.lit(1.0 - float(lam))
    bi_lm = (
        bi.join(ctx, "_p")
        .join(uni.withColumnRenamed("_tok", "_w"), "_w")
        .select(
            "_p",
            "_w",
            F.round(
                F.log(
                    lam_lit * F.col("_cb").cast("double") / F.col("_cp")
                    + ulam * F.col("_cu").cast("double") / F.col("_t")
                ),
                6,
            ).alias("_lp"),
        )
    )
    # unseen-pair fallback and first-token scores, both per target token
    uni_lm = uni.select(
        F.col("_tok"),
        F.round(
            F.log(ulam * F.col("_cu").cast("double") / F.col("_t")), 6
        ).alias("_lp_back"),
        F.round(
            F.log(F.col("_cu").cast("double") / F.col("_t")), 6
        ).alias("_lp_uni"),
    )
    # add-one floor for symbols ABSENT from the (frozen) unigram table —
    # only reachable with bigram_lm, when the training corpus had
    # full-vocab coverage and the scored batch maps a token to an <unk>
    # the model never counted; self-trained scoring always hits uni_lm,
    # so the floor changes nothing there (the 1-row frame broadcasts)
    floor = total.select(
        F.round(F.log(ulam * F.lit(1.0) / F.col("_t")), 6).alias("_fl_back"),
        F.round(F.log(F.lit(1.0) / F.col("_t")), 6).alias("_fl_uni"),
    )
    trans = (
        pair_stream.join(F.broadcast(bi_lm), ["_p", "_w"], "left")
        .join(
            F.broadcast(uni_lm.withColumnRenamed("_tok", "_w")), "_w", "left"
        )
        .crossJoin(F.broadcast(floor))
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("_lp"), F.col("_lp_back"), F.col("_fl_back")
            ).alias("_score"),
        )
    )
    first = (
        staged.select(
            F.col(id_col), F.element_at(F.col("_m"), 1).alias("_w")
        )
        .join(
            F.broadcast(uni_lm.withColumnRenamed("_tok", "_w")), "_w", "left"
        )
        .crossJoin(F.broadcast(floor))
        .select(
            F.col(id_col),
            F.coalesce(F.col("_lp_uni"), F.col("_fl_uni")).alias("_score"),
        )
    )
    agg = (
        trans.unionByName(first)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_score").cast("decimal(18,6)")).alias("_s"),
        )
    )
    ce = F.round(-F.col("_s").cast("double") / F.col("n_tokens"), 6)
    return agg.select(
        id_col,
        "n_tokens",
        ce.alias("cross_entropy"),
        F.when(ce <= head_cutoff, "head")
        .when(ce > tail_cutoff, "tail")
        .otherwise("middle")
        .alias("bucket"),
        (ce <= tail_cutoff).alias("kept"),
    )


#: manifest + table names of a persisted bigram LM directory
BIGRAM_LM_MANIFEST = "_MANIFEST"
BIGRAM_LM_UNIGRAM = "unigram"
BIGRAM_LM_BIGRAM = "bigram"


def _count_table_checksum(df: DataFrame, cols: list[str]) -> str:
    """Order-free content checksum of a count table: row count +
    XOR-folded xxhash64 over the named columns — one aggregation job,
    deterministic across sessions (xxhash64's seed is fixed)."""
    row = df.select(
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{row.n}:{(row.x or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


def bigram_lm_train(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    vocab_size: int = 32,
) -> dict:
    """Train the interpolated-bigram LM ONCE on a clean reference
    corpus and persist it under ``path`` — the missing half of the
    CCNet recipe (Wenzek et al. 2020: the LM is trained on Wikipedia
    and applied to every crawl batch; without persistence the
    streaming front door could only score corpus-relative). Layout:

    - ``unigram/``  parquet (_tok, _cu) — vocab ∪ <unk> counts
    - ``bigram/``   parquet (_p, _w, _cb) — observed transitions only
    - ``_MANIFEST`` json: vocab (count-ranked), total, per-table
      (rows, xxhash64-XOR) content checksums — written LAST, so its
      presence is the commit point (the index builders' manifest
      discipline); a crashed retrain leaves a checksum mismatch a
      reader raises on, never a silently mixed model.

    Counts are λ-free model state — the interpolation weight stays a
    SCORING parameter (:func:`bigram_perplexity_buckets`'s ``lam``),
    so one persisted model serves any weighting. Retraining overwrites
    in place; for atomic swap under concurrent readers, train to a
    fresh directory and flip the reference. Returns the manifest.

    Scale shape: identical to self-trained scoring's training half —
    one TakeOrdered for the vocab, two keyed map-side-combined
    aggregations over bounded key spaces (V+1 and (V+1)²), two bounded
    parquet writes, one checksum aggregation per table."""
    from py_data_pipeline_app_spark import fsio

    spark = docs.sparkSession
    vocab = _bigram_top_vocab(docs, text_col=text_col, vocab_size=vocab_size)
    if not vocab:
        raise ValueError(
            f"bigram_lm_train: corpus has no non-empty tokens ({text_col})"
        )
    staged = _bigram_map_stage(docs, vocab, text_col=text_col, id_col=None)
    uni = (
        staged.select(F.explode("_m").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_cu"))
    )
    bi = _bigram_pair_stream(staged, None).groupBy("_p", "_w").agg(
        F.count(F.lit(1)).alias("_cb")
    )
    uni.write.mode("overwrite").parquet(f"{path}/{BIGRAM_LM_UNIGRAM}")
    bi.write.mode("overwrite").parquet(f"{path}/{BIGRAM_LM_BIGRAM}")
    uni_w = spark.read.parquet(f"{path}/{BIGRAM_LM_UNIGRAM}")
    bi_w = spark.read.parquet(f"{path}/{BIGRAM_LM_BIGRAM}")
    manifest = {
        "version": 1,
        "vocab_size": int(vocab_size),
        "vocab": vocab,
        "total": int(uni_w.agg(F.sum("_cu")).first()[0]),
        "unigram_checksum": _count_table_checksum(uni_w, ["_tok", "_cu"]),
        "bigram_checksum": _count_table_checksum(bi_w, ["_p", "_w", "_cb"]),
    }
    fsio.write_json(spark, f"{path}/{BIGRAM_LM_MANIFEST}", manifest)
    return manifest


def bigram_lm_frames(
    spark, path: str, *, verify: bool = True
) -> tuple[list[str], DataFrame, DataFrame]:
    """Load a persisted bigram LM: (vocab, unigram frame, bigram
    frame). ``verify=True`` (the default — batch scoring loads once)
    recomputes both content checksums against the manifest and raises
    on drift, the same reader guard the IVF-PQ codebooks carry; a
    per-micro-batch caller (the streaming front door) passes
    ``verify=False`` after trusting the first load rather than paying
    two verification jobs per batch."""
    from py_data_pipeline_app_spark import fsio

    mpath = f"{path}/{BIGRAM_LM_MANIFEST}"
    if not fsio.exists(spark, mpath):
        raise ValueError(
            f"no bigram LM manifest at {mpath} - train one with "
            "bigram_lm_train (a missing manifest also means a crashed "
            "train never committed)"
        )
    manifest = fsio.read_json(spark, mpath)
    uni = spark.read.parquet(f"{path}/{BIGRAM_LM_UNIGRAM}")
    bi = spark.read.parquet(f"{path}/{BIGRAM_LM_BIGRAM}")
    if verify:
        got_u = _count_table_checksum(uni, ["_tok", "_cu"])
        got_b = _count_table_checksum(bi, ["_p", "_w", "_cb"])
        if got_u != manifest["unigram_checksum"] or got_b != manifest[
            "bigram_checksum"
        ]:
            raise ValueError(
                f"bigram LM at {path} drifted from its manifest "
                f"(unigram {got_u} vs {manifest['unigram_checksum']}, "
                f"bigram {got_b} vs {manifest['bigram_checksum']}) - "
                "retrain or restore the tables"
            )
    return list(manifest["vocab"]), uni, bi


def unigram_lm(
    docs: DataFrame, *, text_col: str = "text", vocab_size: int = 32
) -> DataFrame:
    """(_tok, logp, floor_logp): top-``vocab_size`` unigram LM over the
    corpus' whitespace tokens — count-ranked with token-asc tie-break,
    logp = round(ln(count/total), 6), and the OOV floor
    round(ln(1/total), 6) carried on every row (so scoring needs no
    second pass over the counts). Train once on a clean reference
    corpus, persist, and feed to :func:`perplexity_buckets` — or let
    it default to self-trained for corpus-relative scoring."""
    tok = fan_out(docs).select(F.explode(tokens(text_col)).alias("_tok")).filter(
        F.col("_tok") != ""
    )
    counts = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    total = counts.agg(F.sum("_c").alias("_t"))
    # top-V membership via sort-limit: executes as TakeOrderedAndProject
    # (per-partition top-V, driver merge of V rows) — a row_number
    # window here would funnel the whole distinct-token table through
    # one partition, which at corpus scale is billions of rows
    ranked = (
        counts.orderBy(F.col("_c").desc(), F.col("_tok"))
        .limit(vocab_size)
        .crossJoin(F.broadcast(total))
    )
    return ranked.select(
        "_tok",
        F.round(F.log(F.col("_c").cast("double") / F.col("_t")), 6).alias("logp"),
        F.round(F.log(F.lit(1.0) / F.col("_t")), 6).alias("floor_logp"),
    )


def token_diversity(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token concentration via the Simpson diversity index
    1 − Σ p_t² (p_t = token frequency): a repetition/quality signal that
    needs NO corpus state — template spam and keyword-stuffed pages
    concentrate probability mass on few tokens (low diversity), natural
    prose spreads it (high). Complements the windowed repetition rules
    in :func:`repetition_filter`, which catch LOCAL runs this global
    statistic can miss (and vice versa).

    Chosen over Shannon entropy deliberately: Σ c_t² and n² are exact
    integer aggregates, so the score is one double division — bit-equal
    in any engine (the oracle value-hashes it exactly), where
    entropy's per-term log2 is at the mercy of libm rounding.

    Scale shape: explode → two keyed aggregations ((doc, token) then
    doc), both with map-side partial combine — linear in corpus tokens,
    the same shape as corpus_vocab_topk, never a join."""
    tok = fan_out(docs).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    ).filter(F.col("_tok") != "")
    per_tok = tok.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.sum(F.col("_c") * F.col("_c")).alias("_c2"),
        )
        .select(
            id_col,
            "n_tokens",
            "distinct_tokens",
            F.round(
                F.lit(1.0)
                - F.col("_c2").cast("double")
                / (F.col("n_tokens") * F.col("n_tokens")).cast("double"),
                9,
            ).alias("simpson_diversity"),
        )
    )


def bigram_merge_candidates(
    docs: DataFrame, *, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Top-k adjacent-token pairs by corpus frequency — the first
    iteration of BPE/WordPiece vocabulary induction (the merge table
    is built by repeatedly taking exactly this ranking; one iteration
    is the distributable hot loop, run to fixpoint by a driver loop
    that re-tokenizes with the chosen merge between rounds).

    Scale shape: pair generation is a per-row zip of the token array
    with its own tail (zero shuffle), then ONE keyed count with
    map-side combine and a TakeOrdered top-k (per-partition heads,
    driver merge of k rows — the full pair table never sorts).
    Deterministic cut: count desc, pair asc."""
    toks = F.filter(tokens(text_col), lambda x: x != "")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(k)
    )


_BPE_EOW = "·"  # end-of-word marker for level="char" (Sennrich's </w>)


def _bpe_guard_chars(level: str) -> str:
    """Characters reserved by the BPE state machine at this level —
    the symbol markers always, plus the end-of-word marker for char
    level (a corpus containing them would fabricate fake symbol
    boundaries, so both trainer and encoder refuse them loudly)."""
    return "[‹›·]" if level == "char" else "[‹›]"


def _bpe_state_expr(text_col: str, level: str):
    """The marker-delimited symbol-string rendering of one document,
    GUARDED: any row whose text contains a reserved marker character
    raises inside the projection itself (``raise_error`` under a
    ``when``), so the guard costs zero extra jobs — it rides whatever
    action first materializes the state (bpe_train's first-round
    localCheckpoint, or the consumer's action through bpe_apply)
    instead of a dedicated full-corpus pre-scan.

    - ``word``: symbols are whitespace tokens — ``‹the›‹cat›``.
    - ``char``: symbols are characters WITHIN words, the last char of
      each word suffixed with the end-of-word marker (Sennrich et al.
      2016's actual setup) — ``cat`` → ``‹c›‹a›‹t·›`` — and words
      abut with no separator, so word boundaries are exactly the
      positions after a ``·``-final symbol."""
    toks = F.filter(tokens(text_col), lambda x: x != "")
    if level == "word":
        body = F.concat(F.lit("‹"), F.array_join(toks, "›‹"), F.lit("›"))
    else:
        body = F.array_join(
            F.transform(
                toks,
                lambda w: F.concat(
                    F.lit("‹"),
                    F.array_join(F.split(w, ""), "›‹"),
                    F.lit(_BPE_EOW + "›"),
                ),
            ),
            "",
        )
    return F.when(
        F.col(text_col).rlike(_bpe_guard_chars(level)),
        F.raise_error(
            F.concat(
                F.lit(
                    "bpe: corpus text contains a reserved marker "
                    f"character {_bpe_guard_chars(level)} - pre-scrub "
                    "or re-tokenize: "
                ),
                F.substring(F.col(text_col), 1, 40),
            )
        ),
    ).otherwise(body)


def _bpe_unit_array_expr(text_col: str, level: str):
    """The document's char-level TRAINING UNITS — its words, each as a
    marker-delimited symbol string (``cat`` → ``‹c›‹a›‹t·›``) — as an
    array, guarded exactly like :func:`_bpe_state_expr`. A unit is the
    granularity pairs can span: char-level pairs never cross a word
    boundary, so each word is its own unit, and the trainer aggregates
    units to DISTINCT rows with an occurrence frequency (Sennrich et
    al. (2016)'s own training representation) so every round's pair
    count and merge rewrite scale with the vocabulary, not the corpus.
    Word level has no such rendering: its unit is the whole document,
    so the trainer keeps :func:`_bpe_state_expr`'s per-document
    state there."""
    if level != "char":  # pragma: no cover — trainer guards the levels
        raise ValueError("unit rendering is char-level only")
    toks = F.filter(tokens(text_col), lambda x: x != "")
    units = F.transform(
        toks,
        lambda w: F.concat(
            F.lit("‹"),
            F.array_join(F.split(w, ""), "›‹"),
            F.lit(_BPE_EOW + "›"),
        ),
    )
    return F.when(
        F.col(text_col).rlike(_bpe_guard_chars(level)),
        F.raise_error(
            F.concat(
                F.lit(
                    "bpe: corpus text contains a reserved marker "
                    f"character {_bpe_guard_chars(level)} - pre-scrub "
                    "or re-tokenize: "
                ),
                F.substring(F.col(text_col), 1, 40),
            )
        ),
    ).otherwise(units)


def _bpe_merged_symbol(left: str, right: str, level: str) -> str:
    """How a chosen pair renders as ONE symbol: word level space-joins
    (symbols are token groups), char level concatenates directly
    (symbols are subword strings — ``c``+``a`` → ``ca``)."""
    return f"{left} {right}" if level == "word" else f"{left}{right}"


def bpe_train(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    text_col: str = "text",
    level: str = "word",
) -> list[tuple[int, str, str, int]]:
    """Iterative BPE vocabulary induction over word symbols — the loop
    driver :func:`bigram_merge_candidates` is one round of (round-8
    verdict missing #4): repeat ``n_merges`` times {count adjacent
    symbol pairs, take the most frequent (ties: lexicographic pair),
    merge it greedily left-to-right in every document}. Returns the
    merge table [(rank, left, right, n_occurrences)].

    ``level`` picks the symbol alphabet:
    - ``"word"``: symbols start as whitespace tokens and merges
      space-join them — the classic algorithm (Sennrich et al. 2016)
      lifted from characters-in-words to words-in-documents (phrase
      induction).
    - ``"char"``: Sennrich's ACTUAL algorithm — symbols start as
      characters within whitespace-tokenized words, the final char of
      each word carrying an end-of-word marker (``·``, the paper's
      ``</w>``), merges concatenate directly and NEVER cross a word
      boundary (pairs whose left symbol is word-final are excluded
      from counting, and since every boundary-adjacent symbol is
      ``·``-final, the chosen pair's literal replace cannot span one
      either). This mode induces a real subword vocabulary.

    Distribution shape — char-level training state is the
    DISTINCT-word frequency table (Sennrich's own representation, so
    per-round work scales with vocabulary, not corpus); word-level
    state stays per-document (its unit IS the document, so
    distinct-unit aggregation would shuffle the corpus to dedup
    nothing). Each round is:
    - ONE frequency-weighted keyed count with map-side combine over
      per-unit generated pairs (the ``bigram_merge_candidates`` plan
      at k=1, a TakeOrdered of a single row), plus
    - ONE pure projection applying the merge: each unit is held
      as a marker-delimited symbol string (``‹sym›‹sym›…``) and the
      merge is a literal ``replace('‹a›‹b›' → '‹a b›')`` — JVM
      left-to-right non-overlapping replacement IS greedy BPE
      application (``a a a`` merges to ``[a a, a]``), with none of
      the O(n²) array-copy cost an aggregate-fold rewrite would pay.
    The driver holds only the n_merges winning pairs (one 1-row
    collect per round — the k-means-style sanctioned loop collect)
    and the state localCheckpoints every round so plan depth stays
    constant. The reserved marker characters must not appear in the
    corpus; violated input fails loudly INSIDE the first round's
    state materialization (``raise_error`` folded into the rendering
    projection — no dedicated full-corpus guard scan) rather than
    corrupting symbols."""
    if level not in ("word", "char"):
        raise ValueError(f"bpe_train: unknown level {level!r}")
    try:
        # CHAR level: STATE = DISTINCT units (words) with occurrence
        # frequency — Sennrich's own training representation. Every
        # round's pair count re-weights by the frequency and the merge
        # rewrite runs over distinct words only, so per-round work
        # scales with the VOCABULARY, not the corpus (the 100 TB
        # lever; at sf0.1 it shrinks each round's scan ~20x and
        # measured 3.15 s → 1.9 s on the char trainer). Counts,
        # tie-breaks and greedy replacement are BIT-identical to the
        # per-document loop: a pair's corpus count is the
        # frequency-weighted sum over distinct units, and char-level
        # pairs cannot cross word boundaries by construction.
        # WORD level keeps the per-document state: its unit is the
        # whole document token string, so distinct-unit aggregation
        # dedups (almost) nothing and would add a full corpus shuffle
        # for it — wrong at every scale (measured: +20% at sf0.1).
        # fan_out BEFORE the render/aggregate in both branches: the
        # unsplittable one-file corpus would otherwise pin the map
        # side to one task (guide §2.5).
        if level == "char":
            # the second fan_out re-widens the AGGREGATED state: AQE
            # rightly coalesces the small distinct-word shuffle, but
            # the checkpoint would then pin all n_merges rounds' pair
            # counts and rewrites to that narrow partitioning
            state = fan_out(
                fan_out(docs)
                .select(
                    F.explode(
                        _bpe_unit_array_expr(text_col, level)
                    ).alias("_s")
                )
                .groupBy("_s")
                .agg(F.count(F.lit(1)).alias("_f"))
            ).localCheckpoint()
        else:
            state = (
                fan_out(docs)
                .select(
                    _bpe_state_expr(text_col, level).alias("_s"),
                    F.lit(1).alias("_f"),
                )
                .localCheckpoint()
            )
    except Exception as e:  # surface the projection guard as ValueError
        if "reserved marker" in str(e):
            raise ValueError(str(e)) from e
        raise
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        syms = F.split(F.expr("substring(_s, 2, length(_s) - 2)"), "›‹")
        pairs = F.zip_with(
            F.slice(syms, 1, F.size(syms) - 1),
            F.slice(syms, 2, F.size(syms) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        cand = state.select(F.col("_f"), F.explode(pairs).alias("p"))
        if level == "char":
            # a ·-final left symbol is the end of a word: that pair
            # straddles a boundary and is never a merge candidate
            # (with per-word units it is provably absent — kept as a
            # guard against pathological symbols)
            cand = cand.filter(~F.col("p.l").endswith(_BPE_EOW))
        top = (
            cand.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("_f").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break  # no unit has two symbols left — trained out
        l, r, n = top[0].l, top[0].r, int(top[0].n)
        merges.append((rank, l, r, n))
        # F.replace with literal Columns, not a SQL-literal expr: a
        # symbol containing a quote or backslash must never re-enter
        # the parser (bpe_apply makes the same choice)
        # LAZY checkpoint: the next round's top-pair collect is the one
        # action that materializes it, so each round costs ONE job, not
        # a checkpoint job + a collect job (the connected_components
        # fused-probe shape; ~halves the loop's scheduler round-trips).
        # Two units merging into the same string stay separate rows —
        # the weighted count is unchanged either way, and re-deduping
        # every round would add a shuffle for nothing.
        state = state.select(
            F.replace(
                F.col("_s"),
                F.lit(f"‹{l}›‹{r}›"),
                F.lit(f"‹{_bpe_merged_symbol(l, r, level)}›"),
            ).alias("_s"),
            F.col("_f"),
        ).localCheckpoint(eager=False)
    return merges


#: merge tables above this size leave the nested-literal-replace encode
#: for the Arrow-batched one: ~1500 nested F.replace calls overflow the
#: JVM stack during expression conversion (measured), and Catalyst cost
#: grows with tree depth long before that — a 32k-merge tokenizer table
#: is simply not an expression.
_BPE_MAX_LITERAL_MERGES = 200


def _py_bpe_encode_seq(syms, pair_rank, by_rank):
    """Encode ONE symbol sequence with EXACT sequential-rank semantics
    (each merge rank gets one greedy left-to-right pass, in rank
    order, exactly like :func:`bpe_apply`'s replace chain — NOT the
    GPT-2 min-rank iteration, which can diverge on colliding-output
    tables): a rank heap visits only ranks whose pair is actually
    present, and each pass pushes the ranks of pairs newly created
    AROUND its merge points, so cost is O(occurrences), not
    O(n_merges) per sequence."""
    import heapq

    if len(syms) < 2:
        return list(syms)
    heap = [
        rk for p in zip(syms, syms[1:]) if (rk := pair_rank.get(p)) is not None
    ]
    heapq.heapify(heap)
    cursor = 0
    while heap:
        rk = heapq.heappop(heap)
        if rk <= cursor:
            continue
        cursor = rk
        left, right, merged = by_rank[rk]
        out: list = []
        marks: list = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                if out:
                    nrk = pair_rank.get((out[-1], merged))
                    if nrk is not None and nrk > cursor:
                        heapq.heappush(heap, nrk)
                marks.append(len(out))
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        if not marks:
            continue
        for m in marks:
            if m + 1 < len(out):
                nrk = pair_rank.get((out[m], out[m + 1]))
                if nrk is not None and nrk > cursor:
                    heapq.heappush(heap, nrk)
        syms = out
    return syms


def _arrow_bpe_encode(
    docs: DataFrame,
    merges: list,
    *,
    text_col: str,
    id_col: str,
    level: str,
    vocab: list | None = None,
    unk_id: int | None = None,
) -> DataFrame:
    """The tokenizer-scale encode: one ``mapInPandas`` pass (the
    sanctioned Arrow boundary — the merge-table closure broadcasts
    with the task binary) whose per-batch Python applies
    :func:`_py_bpe_encode_seq` with a per-distinct-word cache at char
    level. Zero shuffle, zero Python ROW boundary (Arrow batches),
    cost ∝ corpus bytes — the same scan shape as the literal chain,
    minus its expression-depth ceiling. With ``vocab`` the id lookup
    happens in the same pass (a 32k-entry map LITERAL would pay ~1s
    of py4j per 1k cells — the measured per-cell F.lit tax)."""
    import re

    from pyspark.sql import types as T

    by_rank = {}
    pair_rank: dict = {}
    for rank, left, right, _ in sorted(merges):
        by_rank[rank] = (left, right, _bpe_merged_symbol(left, right, level))
        pair_rank.setdefault((left, right), rank)
    vmap = dict(vocab) if vocab is not None else None
    guard_re = "[‹›·]" if level == "char" else "[‹›]"
    guard_msg = (
        "bpe: corpus text contains a reserved marker character "
        f"{_bpe_guard_chars(level)} - pre-scrub or re-tokenize: "
    )
    id_field = docs.schema[id_col]

    def encode_batches(batches):
        import pandas as pd

        guard = re.compile(guard_re)
        split = re.compile("[ \t\n\x0b\f\r]+")
        word_cache: dict = {}

        def enc_word(w):
            got = word_cache.get(w)
            if got is None:
                cs = list(w)
                cs[-1] += _BPE_EOW
                got = _py_bpe_encode_seq(cs, pair_rank, by_rank)
                word_cache[w] = got
            return got

        for pdf in batches:
            ids, symcol, ncol, tokcol = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(did)
                if text is None:
                    symcol.append(None)
                    ncol.append(None)
                    tokcol.append(None)
                    continue
                if guard.search(text):
                    raise ValueError(guard_msg + text[:40])
                toks = [x for x in split.split(text.strip(" ")) if x != ""]
                if not toks:
                    # the literal chain's split("") quirk: one empty
                    # symbol, so the two paths stay row-identical
                    syms = [""]
                elif level == "word":
                    syms = _py_bpe_encode_seq(toks, pair_rank, by_rank)
                else:
                    syms = [s for w in toks for s in enc_word(w)]
                symcol.append(syms)
                ncol.append(len(syms))
                tokcol.append(len(toks))
            if vmap is None:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "symbols": symcol,
                        "n_symbols": pd.array(ncol, dtype="Int32"),
                        "n_tokens": pd.array(tokcol, dtype="Int32"),
                    }
                )
            else:
                idcol, nids, noov = [], [], []
                for syms in symcol:
                    if syms is None:
                        idcol.append(None)
                        nids.append(None)
                        noov.append(None)
                        continue
                    looked = [vmap.get(s) for s in syms]
                    oov = sum(1 for x in looked if x is None)
                    if unk_id is not None:
                        looked = [
                            int(unk_id) if x is None else x for x in looked
                        ]
                    idcol.append(looked)
                    nids.append(len(looked))
                    noov.append(oov)
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "token_ids": idcol,
                        "n_ids": pd.array(nids, dtype="Int32"),
                        "n_oov": pd.array(noov, dtype="Int32"),
                        "n_tokens": pd.array(tokcol, dtype="Int32"),
                    }
                )

    if vmap is None:
        fields = [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("symbols", T.ArrayType(T.StringType())),
            T.StructField("n_symbols", T.IntegerType()),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    else:
        fields = [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("token_ids", T.ArrayType(T.IntegerType())),
            T.StructField("n_ids", T.IntegerType()),
            T.StructField("n_oov", T.IntegerType()),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    return fan_out(docs.select(F.col(id_col), F.col(text_col))).mapInPandas(
        encode_batches, T.StructType(fields)
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "word",
) -> DataFrame:
    """Encode documents with a trained merge table (the consumer half
    of :func:`bpe_train` — a tokenizer applies merges in rank order to
    new text): chain one literal ``replace`` per merge over the
    marker-delimited symbol string, IN RANK ORDER (later merges can
    consume earlier merges' output — the chain order is part of BPE's
    contract), then split back to symbols. The whole encode is ONE
    nested pure projection fused into the scan — zero shuffle, zero
    Python per row, cost ∝ corpus bytes × n_merges.

    Returns (id, symbols, n_symbols, n_tokens): the encoded symbol
    sequence plus the raw-token count, so compression ratio
    (n_tokens/n_symbols) is a projection away. ``level`` must match
    the trainer's. Unseen text containing a reserved marker character
    would silently fabricate fake symbol boundaries, so the same
    projection guard as :func:`bpe_train` rides the encode — it fires
    (as a Spark USER_RAISED_EXCEPTION) on whatever action the
    consumer runs, still zero extra jobs.

    Merge tables larger than ``_BPE_MAX_LITERAL_MERGES`` (tokenizer
    scale) dispatch to the row-identical Arrow-batched encode
    (:func:`_arrow_bpe_encode`): the nested replace chain overflows
    the JVM stack near ~1500 merges, so the big-table path trades
    whole-stage codegen for one ``mapInPandas`` scan — still zero
    shuffle."""
    if level not in ("word", "char"):
        raise ValueError(f"bpe_apply: unknown level {level!r}")
    if len(merges) > _BPE_MAX_LITERAL_MERGES:
        return _arrow_bpe_encode(
            docs, merges, text_col=text_col, id_col=id_col, level=level
        )
    toks = F.filter(tokens(text_col), lambda x: x != "")
    enc = _bpe_state_expr(text_col, level)
    for _, left, right, _ in sorted(merges):
        enc = F.replace(
            enc,
            F.lit(f"‹{left}›‹{right}›"),
            F.lit(f"‹{_bpe_merged_symbol(left, right, level)}›"),
        )
    staged = fan_out(docs).select(
        F.col(id_col), F.size(toks).alias("n_tokens"), enc.alias("_enc")
    )
    syms = F.split(
        F.expr("substring(_enc, 2, length(_enc) - 2)"), "›‹"
    )
    return staged.select(
        id_col,
        syms.alias("symbols"),
        F.size(syms).alias("n_symbols"),
        "n_tokens",
    )


def bpe_merge_table(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    text_col: str = "text",
    level: str = "word",
) -> DataFrame:
    """:func:`bpe_train` as a relation: (merge_rank, left, right,
    n_occurrences) — the registered-query wrapper (the merge table is
    n_merges driver-known rows; local_rows_df builds them as one
    local relation)."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df

    rows = bpe_train(docs, n_merges=n_merges, text_col=text_col, level=level)
    return local_rows_df(
        docs.sparkSession,
        "merge_rank int, left_sym string, right_sym string, n_occurrences bigint",
        rows,
    )


def bpe_vocab(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    *,
    text_col: str = "text",
    level: str = "word",
) -> DataFrame:
    """The trained tokenizer's (symbol, token_id) table — what a model
    trainer actually loads (HF/GPT-2 ``vocab.json`` shape): the BASE
    alphabet (every distinct initial symbol in the corpus — characters
    with their end-of-word variants at char level, whitespace tokens at
    word level) takes ids ``0..B-1`` in lexicographic order, then each
    merge's output symbol takes ``B + rank - 1`` in merge order — the
    id order GPT-2's encoder files use (bytes first, merges by rank).

    Distribution shape: the alphabet is one distinct-agg over exploded
    initial symbols (map-side combined), ranked with one ascending
    ``dense_rank()`` window on ``symbol``. The merge rows are
    driver-known literals; their id offset joins through a 1-row count
    frame (no collect). Two merges
    can textually collide (``(ab,c)`` and ``(a,bc)`` both yield
    ``abc``), and a tokenizer vocabulary maps each symbol to ONE id —
    the smallest wins (HF keeps the first), via a final min-agg over
    the vocab-sized frame."""
    state = fan_out(docs).select(_bpe_state_expr(text_col, level).alias("_s"))
    syms = F.split(F.expr("substring(_s, 2, length(_s) - 2)"), "›‹")
    alpha = state.select(F.explode(syms).alias("symbol")).distinct()
    rank = F.dense_rank().over(Window.orderBy(F.col("symbol").asc()))
    base = alpha.select("symbol", (rank - 1).cast("int").alias("token_id"))
    if not merges:
        return base
    mrows = local_rows_df(
        docs.sparkSession,
        "rank int, symbol string",
        [
            (rank, _bpe_merged_symbol(left, right, level))
            for rank, left, right, _ in sorted(merges)
        ],
    )
    b = alpha.agg(F.count(F.lit(1)).alias("_b"))
    mvocab = mrows.crossJoin(F.broadcast(b)).select(
        "symbol", (F.col("_b") + F.col("rank") - 1).cast("int").alias("token_id")
    )
    return (
        base.unionByName(mvocab)
        .groupBy("symbol")
        .agg(F.min("token_id").alias("token_id"))
    )


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    vocab: list[tuple[str, int]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "word",
    unk_id: int | None = None,
) -> DataFrame:
    """Documents → token-ID sequences: :func:`bpe_apply`'s symbol
    arrays mapped through a driver-known ``vocab`` (collect
    :func:`bpe_vocab` ONCE and thread the rows — the collect-once
    codebook discipline; at char level the vocabulary is
    alphabet + n_merges entries, the same size class as a PQ
    codebook). The lookup is a map LITERAL staged as its own
    projection column (the lambda-capture staging rule) and the whole
    encode stays ONE pure zero-shuffle projection — no explode, no
    join, no re-aggregation shuffle of the tokenized corpus, which is
    exactly the term that would dominate at 100 TB. For vocabularies
    too large to ship as a literal (word-level on an open corpus),
    broadcast-join :func:`bpe_vocab`'s frame against exploded symbols
    instead — that path costs one keyed shuffle to reassemble and is
    deliberately NOT the default.

    Returns (id, token_ids array<int>, n_ids, n_oov, n_tokens).
    Symbols missing from ``vocab`` become ``unk_id`` (or stay null
    when it is None — count them via ``n_oov``); a vocab trained on
    the same corpus by construction has ``n_oov = 0``. Tokenizer-
    scale tables (> ``_BPE_MAX_LITERAL_MERGES``) encode AND id-map in
    one Arrow pass — a 32k-entry map literal would pay the measured
    ~1s-per-1k-cells F.lit tax on top of the replace chain's
    stack-depth ceiling."""
    if len(merges) > _BPE_MAX_LITERAL_MERGES:
        return _arrow_bpe_encode(
            docs,
            merges,
            text_col=text_col,
            id_col=id_col,
            level=level,
            vocab=vocab,
            unk_id=unk_id,
        )
    enc = bpe_apply(
        docs, merges, text_col=text_col, id_col=id_col, level=level
    )
    # cast-pinned like bigram_perplexity_buckets' vocab literal: an
    # empty vocab must yield map<string,int>, not an analysis error
    vmap = F.map_from_arrays(
        F.array(*[F.lit(s) for s, _ in vocab]).cast("array<string>"),
        F.array(*[F.lit(int(i)) for _, i in vocab]).cast("array<int>"),
    )
    looked = enc.withColumn("_vmap", vmap).withColumn(
        "_ids",
        F.transform(
            F.col("symbols"), lambda s: F.element_at(F.col("_vmap"), s)
        ),
    )
    ids = F.col("_ids")
    if unk_id is not None:
        ids = F.transform(ids, lambda i: F.coalesce(i, F.lit(int(unk_id))))
    return looked.select(
        id_col,
        ids.alias("token_ids"),
        F.size("_ids").alias("n_ids"),
        F.size(F.filter(F.col("_ids"), lambda i: i.isNull()))
        .cast("int")
        .alias("n_oov"),
        "n_tokens",
    )


def benchmark_span_scrub(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination that REWRITES instead of just counting
    (:func:`contamination_stats` is the audit; this is the fix): every
    document is split into ``chunk_tokens``-token spans and any span
    whose fingerprint appears among the benchmark's spans is dropped —
    the chunk-granular scrub keeps the rest of a lightly-contaminated
    document instead of discarding it wholesale. Returns (id,
    text_scrubbed, n_chunks, n_removed).

    The benchmark's span-fingerprint set is tiny next to the corpus
    and BROADCASTS into one left join; chunking is a per-row
    projection, so the only shuffle is the per-document rollup — the
    same two-exchange shape as the span-dedup family, with the
    first-occurrence window replaced by a membership probe. Benchmark
    spans are fingerprinted at EVERY token offset (a sliding window,
    not aligned chunks), so a full-length chunk matches wherever the
    leak lands inside the document's chunk grid. One documented gap:
    a document's FINAL chunk can be shorter than ``chunk_tokens``, and
    short spans are only generated from the benchmark's tail offsets —
    an interior benchmark fragment shorter than a full chunk at the
    very end of a document slips through (verbatim leaks long enough
    to matter span full chunks)."""
    # sliding benchmark spans: every offset, every length 1..chunk_tokens
    # capped to the tail — membership must catch the final short chunk
    # too. Token arrays staged per the word_shingles rule: inlined, the
    # benchmark side would re-split its text once per OFFSET.
    bstaged = benchmark.withColumn("_sp_toks", tokens(text_col))
    btoks = F.col("_sp_toks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(btoks), F.lit(1)))
    bench_spans = bstaged.select(
        F.explode(
            F.transform(
                starts,
                lambda i: F.array_join(F.slice(btoks, i, chunk_tokens), " "),
            )
        ).alias("span")
    )
    bench_fps = (
        bench_spans.filter(F.col("span") != "")
        .select(F.md5("span").alias("fp"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    exploded = with_token_chunks(docs, text_col, chunk_tokens).select(
        F.col(id_col), F.posexplode(F.col("_chunks")).alias("pos", "chunk")
    ).withColumn("fp", F.md5(F.col("chunk")))
    marked = exploded.join(F.broadcast(bench_fps), "fp", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("_hit").isNotNull().cast("int")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_hit").isNull(),
                                F.struct(F.col("pos"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("text_scrubbed"),
        )
        .select(
            id_col,
            "text_scrubbed",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_removed").cast("int").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate line removal (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------


def boilerplate_strip(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    min_df: int = 3,
) -> DataFrame:
    """Cross-document boilerplate removal: a line whose normalized form
    appears in ≥ ``min_df`` distinct documents OF THE SAME SOURCE is
    template chrome (nav menus, cookie banners, subscribe footers), not
    content, and is dropped from every document carrying it. This is
    the CCNet / RefinedWeb line-level dedup pass, scoped per source
    because boilerplate is a property of the site template — the same
    sentence across unrelated sources is quotation, handled by the
    span-dedup family (:func:`chunk_dedup_rebuild`) instead.

    Differs from span dedup in the action: span dedup keeps the FIRST
    occurrence and drops the rest; boilerplate strip drops ALL
    occurrences once a line crosses the document-frequency threshold —
    the correct semantics for template chrome, which is noise in its
    first document too.

    Scale shape — three keyed, data-proportional exchanges, the same
    plan CCNet runs over Common Crawl:

    1. explode lines (in-task), aggregate distinct-doc counts per
       (source, line-hash) — map-side partial agg on a compact key;
    2. equi-join the exploded lines against the boilerplate key set
       (df ≥ min_df) — a left anti-ish flag join on (source, hash);
       AQE broadcasts it when the template set is small, and it
       shrinks further as min_df rises;
    3. regroup by document to rebuild text in line order.

    Never a cross join; line text crosses the wire once (hashing
    happens before the first exchange). Returns (id, text_clean,
    n_lines, n_kept) — empty-norm lines (blank separators) are never
    boilerplate and always kept; a fully-stripped document keeps ''.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("line")), r"\s+", " ")
    )
    lines = (
        fan_out(docs).select(
            F.col(id_col),
            F.col(source_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn("_norm", norm)
        .withColumn("_h", F.md5(F.col("_norm")))
    )
    boiler = (
        lines.filter(F.col("_norm") != "")
        .select(source_col, "_h", id_col)
        .distinct()
        .groupBy(source_col, "_h")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select(source_col, "_h", F.lit(True).alias("_is_b"))
    )
    flagged = lines.join(boiler, [source_col, "_h"], "left").withColumn(
        "_kept", F.col("_is_b").isNull() | (F.col("_norm") == "")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_kept"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("text_clean"),
        )
        .select(id_col, "text_clean", "n_lines", "n_kept")
    )

"""Text-analysis column functions for large-scale corpus processing:
tokenization, normalization, cross-engine-stable hashing, language-ID
heuristics, quality scoring, token counting, and document fingerprints.

Everything here is native Column expressions (JVM-side, whole-stage
codegen) — no Python UDFs — so the same pipeline that profiles 500 test
documents runs unchanged over a 100 TB corpus: per-row work scales
linearly with partitions and never leaves the executor JVM.

Cross-engine determinism: hashes are derived from md5 (identical in
every engine) rather than xxhash64/murmur (engine-specific), so DuckDB
oracles can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne-ish prime for affine minhash permutations: values fit in
# 31 bits so (a*h + b) stays under 2^62 — no 64-bit overflow in either
# Spark longs or DuckDB BIGINTs.
HASH_PRIME = 2147483647  # 2^31 - 1

# A token regex in the BPE spirit: letter runs, single digits, and
# single non-alphanumeric marks each count as one token. (Real BPE
# needs a learned merge table; this is the standard cheap estimator.)
BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and frozen: they are part of the
# engine's public contract (the DuckDB oracle embeds the same lists).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "es": ("el", "la", "y", "los", "las", "un", "una", "es"),
    "de": ("der", "die", "und", "das", "ein", "ist", "nicht", "von"),
}


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact-dedup fingerprinting: lowercase, every
    non-alphanumeric run collapsed to one space, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the trimmed text (array<string>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def md5_long(col: Column | str) -> Column:
    """Stable 60-bit positive integer from a string: first 15 hex chars
    of md5, base-16 → long. Identical in DuckDB:
    ``('0x' || substr(md5(s), 1, 15))::UBIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def token_hash(col: Column | str) -> Column:
    """Token hash reduced mod HASH_PRIME — the input domain for affine
    minhash permutations."""
    return md5_long(col) % HASH_PRIME


def perm_coeffs(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for ``n_perms`` minhash
    permutations — Weyl-sequence constants, identical in the SQL oracle
    generator (no RNG: reproducible across engines and runs)."""
    coeffs = []
    for i in range(1, n_perms + 1):
        a = (i * 2654435761 + 1) % HASH_PRIME
        b = (i * 40503 + 2531011) % HASH_PRIME
        coeffs.append((a or 1, b))
    return coeffs


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token estimate via the frozen token regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_TOKEN_RE), 0))


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: CJK codepoints → zh; otherwise the
    language whose stopword list hits the most tokens, ties broken by
    the frozen order en > fr > es > de; no hits → 'und'.

    This is the classic cheap n-gram/stopword detector a corpus
    pipeline runs before routing text to per-language processing."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))

    def _hit_count(words: tuple[str, ...]):
        # NB: the filter lambda must be unary — PySpark treats a 2-arg
        # lambda as (element, index).
        return F.size(F.filter(toks, lambda t: t.isin(list(words))))

    hits = {lang: _hit_count(words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*hits.values())
    detected = (
        F.when(c.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(best <= 0, F.lit("und"))
        .when(hits["en"] == best, F.lit("en"))
        .when(hits["fr"] == best, F.lit("fr"))
        .when(hits["es"] == best, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return detected


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring feature set (each a native expression):
    lengths, punctuation/digit/space ratios, type-token ratio, mean
    token length, and a composite [0,1] score."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_digit = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    mean_tok_len = (n_chars - n_tokens + 1).cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    digit_ratio = n_digit.cast("double") / F.greatest(n_chars, F.lit(1))
    ttr = n_types.cast("double") / F.greatest(n_tokens, F.lit(1))
    # Composite: reward moderate length + lexical diversity, penalize
    # punctuation/digit noise. Weights frozen (part of the contract).
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + ttr * 0.4
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.1
        + (1.0 - F.least(digit_ratio * 5.0, F.lit(1.0))) * 0.1
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_types": n_types,
        "mean_tok_len": F.round(mean_tok_len, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "digit_ratio": F.round(digit_ratio, 6),
        "type_token_ratio": F.round(ttr, 6),
        "quality_score": F.round(score, 6),
    }


def _qident(c: str) -> str:
    """Backtick-quoted identifier for splicing a column NAME into a
    parsed expression — embedded backticks are doubled (the SQL
    identifier escape)."""
    return "`" + c.replace("`", "``") + "`"


def _gram_hashes(src: str, gram: int) -> Column:
    """The ~|doc| character-gram rolling-hash array as ONE parsed
    expression over the normalized string's source text ``src`` (the
    Column-composed twin cost two transform-lambda compositions of
    py4j round trips per call site — the run_length_stats rationale;
    parity-pinned)."""
    return F.expr(
        f"transform(transform(sequence(1, greatest(length({src}) - "
        f"{gram - 1}, 1)), i -> substring({src}, i, {gram})), "
        "g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))"
    )


def with_doc_fingerprints(
    df, col: Column | str = "text", gram: int = 16
):
    """Add ``md5_fingerprint`` / ``min_gram_hash`` / ``max_gram_hash``
    columns: whole-text md5 of the normalized text plus min/max
    rolling-hash over character ``gram``-grams (winnowing-style
    selection of extreme shingle hashes — order-independent, robust to
    small edits at the ends).

    The per-row gram-hash array is computed exactly once via
    intermediate columns: whole-stage codegen does NOT
    common-subexpression the ~|doc| md5 calls between the min and the
    max, so the inlined form measured 5.5× slower at sf0.1."""
    from py_data_pipeline_app_spark.partitioning import fan_out

    c = F.col(col) if isinstance(col, str) else col
    # fan_out: the ~|doc| md5-gram array is pure narrow compute — on an
    # unsplittable one-file scan it runs on one core (guide §2.5)
    return (
        fan_out(df).withColumn("_fp_norm", normalize_text(c))
        .withColumn("_fp_gh", _gram_hashes("`_fp_norm`", gram))
        .withColumn("md5_fingerprint", F.md5("_fp_norm"))
        .withColumn("min_gram_hash", F.array_min("_fp_gh"))
        .withColumn("max_gram_hash", F.array_max("_fp_gh"))
        .drop("_fp_norm", "_fp_gh")
    )


# Fixed entity set for HTML unescaping — deliberately small and frozen
# (part of the engine's public contract; the DuckDB oracle replays the
# same ordered replace chain). &amp; is decoded LAST so markup like
# "&amp;lt;" yields "&lt;" (the standard single-pass unescape order).
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def strip_html(col: Column | str) -> Column:
    """Plain text from HTML-ish markup: drop <script>/<style> blocks
    wholesale (their content is code, not prose), strip remaining tags,
    decode the frozen :data:`HTML_ENTITIES` set, collapse whitespace.

    Native regexp/replace chain — JVM-side, zero Python — and every
    pattern is chosen to mean the same thing in Java regex and RE2 so
    the DuckDB oracle replays it exactly: non-greedy ``.*?`` block
    removal with (?is), character-class tag match ``<[^>]*>`` (no
    backtracking constructs). This is the crawl-ingest normalization
    pass — a real extractor adds boilerplate heuristics on top, but
    tag/entity handling is the part every pipeline needs first."""
    c = F.col(col) if isinstance(col, str) else col
    # two patterns, not one with a backreference — RE2 (the oracle's
    # engine) has no backreferences, and mismatched <script>...</style>
    # nesting is not worth modeling in an ingest pass
    out = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    out = F.regexp_replace(out, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_tag_count(col: Column | str) -> Column:
    """Number of markup tags in the raw text (pre-strip) — a cheap
    'how HTML-ish is this document' signal for routing: prose with a
    stray ``<`` scores 0-1, real markup scores tens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"<[^>]*>"))


def winnowing_fingerprints(
    df,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 16,
    window: int = 32,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character
    ``gram``-gram of the normalized text, slide a ``window``-wide
    window over the hash sequence, and keep the minimum of each
    window. The selected set is position-diverse (guaranteed ≥ one
    fingerprint per window of text, unlike bottom-k MinHash which can
    cluster anywhere) and locally stable: an edit only perturbs the
    fingerprints of windows it touches, so two documents sharing a
    sufficiently long passage MUST share a fingerprint — the property
    plagiarism/overlap detection needs and the global min/max extremes
    of :func:`with_doc_fingerprints` do not give.

    Wholly per-row — normalize, gram-hash, and window-min are native
    array expressions; the operator adds ZERO shuffles (callers
    aggregate or join the exploded (id, fp) rows as needed, e.g.
    group by fp to find cross-document shared passages). Documents
    shorter than one window contribute their single global minimum.

    The sliding minimum is a SPARSE TABLE (range-min doubling): level
    ``k`` holds min over 2^k consecutive hashes, built from level
    k-1 with two O(1) element_at lookups, and each window min is the
    overlap of two top-level blocks — O(|doc|·log window) element
    ops. The naive per-window ``array_min(slice(...))`` is
    O(|doc|·window) with a fresh array copy per window inside an
    interpreted lambda: the full operator measured 19.2 s naive vs
    4.4 s with the sparse table + the normalize staging below, at
    sf0.1. Two staging rules make it work: every level is its OWN
    projection column (expressions referenced twice are not inlined
    by CollapseProject, so each level computes once — inlining the
    gram-hash array into the window lambdas would re-evaluate its
    ~|doc| md5 calls per window, measured >50× slower, the pitfall
    :func:`with_doc_fingerprints` stages around), and levels only ever
    index within bounds so the expressions are ANSI-safe.

    Returns exploded distinct (id, fp) rows, fp a 60-bit md5-derived
    integer (cross-engine reproducible, same construction as
    :func:`md5_long`)."""
    from py_data_pipeline_app_spark.partitioning import fan_out

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # materialize the normalized string FIRST: _gram_hashes references
    # its input inside the per-gram lambda, and an inlined
    # normalize_text would re-run its whole-document regexp once per
    # gram (measured 15.5 s of the original 19 s at sf0.1 — the same
    # staging rule with_doc_fingerprints applies)
    # fan_out: ~|doc| md5 grams + log(window) sparse-table levels per
    # row is the expensive narrow stage; an unsplittable one-file scan
    # would pin it to one core (guide §2.5)
    staged = fan_out(df).withColumn("_wf_norm", normalize_text(c)).withColumn(
        "_wf_t0", _gram_hashes("`_wf_norm`", gram)
    )
    # sparse-table levels: _wf_t{k}[i] = min(gh[i .. i+2^k-1]); level k
    # has max(m - 2^k + 1, 1) entries (clamped so short rows — which
    # take the global-min branch below anyway — still build valid,
    # in-bounds arrays at every level). Each level renders as ONE
    # parsed expression (the _gram_hashes rationale; parity-pinned).
    levels = 0
    step = 1
    while step * 2 <= window:
        prev = f"`_wf_t{levels}`"
        staged = staged.withColumn(
            f"_wf_t{levels + 1}",
            F.expr(
                f"transform(sequence(1, greatest(size({prev}) - {step}, 1)), "
                f"i -> least(element_at({prev}, i), "
                f"element_at({prev}, least(i + {step}, size({prev})))))"
            ),
        )
        levels += 1
        step *= 2
    gh = "`_wf_t0`"
    top = f"`_wf_t{levels}`"
    # window [p, p+window-1] = top-level block at p ∪ block at
    # p+window-2^levels (they overlap; min is idempotent)
    tail = window - step
    staged = staged.withColumn(
        "_wf_mins",
        F.expr(
            f"CASE WHEN size({gh}) <= {window} "
            f"THEN array(array_min({gh})) "
            f"ELSE transform(sequence(1, size({gh}) - {window} + 1), "
            f"p -> least(element_at({top}, p), "
            f"element_at({top}, p + {tail}))) END"
        ),
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct("_wf_mins")).alias("fp")
    )

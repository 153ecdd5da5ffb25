"""Linear quality model over cheap per-document features (extension —
the GPT-3/CCNet recipe in public form: a small classifier generalizes a
noisy quality signal so the full corpus can be scored without the
signal's cost or blind spots).

The weights were fitted once, offline, by a Spark ML logistic
regression on weak labels: a document was "good" when its unigram-LM
cross-entropy sat at or below the corpus mean AND the Gopher-style
repetition flags did not fire. The LM alone is a TRAP — it assigns
repeated high-frequency tokens LOW cross-entropy ("buy buy buy..."
scored as the most fluent document in the corpus), so the repetition
veto had to stack on it. Every feature is a zero-shuffle native-column
statistic (token count, distinct-token ratio, punctuation/digit
shares, Simpson diversity, stopword share), and the fitted coefficient
vector is a handful of doubles, so scoring is one projection and runs
over 100 TB at scan cost — and, unlike the iterative fit, it carries a
full SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.text import LANG_STOPWORDS, tokens

_ALL_STOPWORDS = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})


def quality_feature_frame(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, f_*): the classifier's per-document features — every one a
    native Column expression over the document's own row (zero
    shuffle, scan-bound), chosen to be cheap at 100 TB and blind to
    nothing the repetition/diversity family already measures:
    log token count, distinct-token ratio, punctuation and digit
    character shares, Simpson diversity 1 − Σp² computed from the
    sorted token array in one fold, and the share of tokens in the
    frozen multilingual stopword list (gibberish has prose-like
    diversity but zero function words — the classic tell)."""
    # Every feature renders as ONE parsed expression over a STAGED
    # token-array column (the run_length_stats rationale: the
    # Column-composed builders — the Simpson fold's lambdas, the
    # stopword isin's one-py4j-lit-per-word — cost ~370 round trips of
    # pure construction latency per call site, measured r16). Staging
    # `_qf_toks` is also an execution win the old shape left on the
    # table: codegen does not CSE the tokenize between features, so
    # the inlined form re-split the text once per feature. The parsed
    # forms are value-pinned by the renderer parity suite.
    from py_data_pipeline_app_spark.functions.text import _qident

    txt = _qident(text_col)
    toks = "`_qf_toks`"
    n = f"size({toks})"
    n_chars = f"greatest(length({txt}), 1)"
    punct = f"length(regexp_replace({txt}, '[A-Za-z0-9\\\\s]', ''))"
    digits = f"length(regexp_replace({txt}, '[^0-9]', ''))"
    # Σ c_t² via one fold over the sorted array (run lengths)
    c2 = (
        f"aggregate(sort_array({toks}), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS acc), "
        "(a, x) -> struct("
        "x AS prev, "
        "CASE WHEN a.prev IS NOT NULL AND a.prev = x THEN a.run + 1 "
        "ELSE 1 END AS run, "
        "CASE WHEN a.prev IS NOT NULL AND a.prev != x "
        "THEN a.acc + a.run * a.run ELSE a.acc END AS acc), "
        "a -> a.acc + a.run * a.run)"
    )
    stop_list = ", ".join("'" + w.replace("'", "''") + "'" for w in _ALL_STOPWORDS)
    stop_hits = f"size(filter({toks}, t -> lower(t) IN ({stop_list})))"
    return docs.withColumn("_qf_toks", tokens(text_col)).select(
        F.col(id_col),
        F.expr(f"ln(CAST({n} AS DOUBLE) + 1.0D)").alias("f_log_tokens"),
        F.expr(
            f"CAST(size(array_distinct({toks})) AS DOUBLE) / {n}"
        ).alias("f_distinct_ratio"),
        F.expr(f"CAST({punct} AS DOUBLE) / {n_chars}").alias("f_punct_share"),
        F.expr(f"CAST({digits} AS DOUBLE) / {n_chars}").alias("f_digit_share"),
        F.expr(
            f"1.0D - CAST({c2} AS DOUBLE) / CAST({n} * {n} AS DOUBLE)"
        ).alias("f_simpson"),
        F.expr(f"CAST({stop_hits} AS DOUBLE) / {n}").alias("f_stopword_share"),
    )


# Coefficients from one seeded Spark ML logistic-regression fit over
# the sf0.01 documents corpus (vocab_size=32, maxIter=50, regParam=0.01,
# repetition-veto budgets 0.3 top-word / 0.6 duplicate-2-gram share;
# LBFGS was deterministic at those settings). This is the production
# shipping pattern: train on a sample once, then scoring is pure
# column arithmetic that costs a scan — the model never rides along as
# an object, just these doubles. The signs mirror the weak LM label's
# quirks (module docstring) — the scorer's contract is "reproduces
# that fit", not "hand-tuned taste".
#
# f_punct_share / f_digit_share are absent BY MEASUREMENT: the
# synthetic documents corpus contains no punctuation or digit
# characters at all (stddev = 0.0 for both at sf0.01), so the fit
# zero-weighted them — the scorer would compute two regexp features
# per row and multiply them by zero. On a real web corpus both carry
# signal; a fit there would add the two entries back here.
LINEAR_FEATURE_COLS = (
    "f_log_tokens",
    "f_distinct_ratio",
    "f_simpson",
    "f_stopword_share",
)
PINNED_WEIGHTS = {
    "f_log_tokens": 0.119929,
    "f_distinct_ratio": -1.815622,
    "f_simpson": -1.619499,
    "f_stopword_share": -17.054096,
}
PINNED_BIAS = 4.468778


def score_quality_linear(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, quality_z, predicted_good): apply the PINNED linear quality
    model (:data:`PINNED_WEIGHTS`, :data:`PINNED_BIAS`) as native
    column arithmetic, with zero Python per row and zero shuffle: the
    whole scorer is one projection fused into the scan.

    Cross-engine determinism: every feature is rounded to 6dp BEFORE
    the dot product — ``f_log_tokens`` is the one libm-dependent
    feature (``ln`` may differ in the last ulp between engines; same
    pre-round discipline as the perplexity oracle), the rest are exact
    integer ratios — and the dot product is a fixed left-to-right sum
    of four products, which IEEE doubles evaluate bit-identically
    everywhere.
    ``quality_z`` is the linear score (sigmoid is monotone, so
    thresholding z at 0 ≡ thresholding probability at 0.5 — and
    skipping exp() avoids a second libm dependency).

    The dot product runs over :data:`LINEAR_FEATURE_COLS` (see the
    PINNED_WEIGHTS comment for why punct/digit are absent); the unused
    features are never referenced, so Catalyst prunes their
    expressions out of the scan projection."""
    feats = quality_feature_frame(docs, text_col=text_col, id_col=id_col)
    z = F.lit(PINNED_BIAS)
    for name in LINEAR_FEATURE_COLS:
        z = z + F.round(F.col(name), 6) * F.lit(PINNED_WEIGHTS[name])
    return feats.select(
        F.col(id_col),
        F.round(z, 6).alias("quality_z"),
        (F.round(z, 6) > 0.0).alias("predicted_good"),
    )



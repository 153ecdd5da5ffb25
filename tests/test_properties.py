"""Property-based checks (hypothesis): the array-fold occurrence
kernel against a Python reference on arbitrary token multisets, and
PII scrub counts against known injections."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.curation import (
    pii_scrub,
    run_length_stats,
)

WORD = st.text(alphabet="abcde", min_size=1, max_size=3)
TOKLIST = st.lists(WORD, min_size=0, max_size=40)


@settings(max_examples=15, deadline=None)
@given(st.lists(TOKLIST, min_size=1, max_size=20))
def test_run_length_stats_matches_counter(spark, toklists):
    df = local_rows_df(
        spark,
        "i long, toks array<string>",
        [(i, toks) for i, toks in enumerate(toklists)],
    )
    out = df.select(
        "i", run_length_stats("sort_array(`toks`)").alias("s")
    ).collect()
    for r in out:
        c = Counter(toklists[r.i])
        assert r.s.top_count == (max(c.values()) if c else 0)
        assert r.s.n_distinct == len(c)
        assert r.s.dup_occurrences == sum(v for v in c.values() if v > 1)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(WORD, min_size=1, max_size=10),  # filler words, no @/digits
            st.integers(min_value=0, max_value=3),  # emails injected
            st.integers(min_value=0, max_value=2),  # phones injected
        ),
        min_size=1,
        max_size=15,
    )
)
def test_pii_scrub_counts_match_injections(spark, rows):
    texts = []
    for words, n_em, n_ph in rows:
        parts = list(words)
        parts += [f"user{k}@host.example" for k in range(n_em)]
        parts += ["12-345-678-9012"] * n_ph
        texts.append(" ".join(parts))
    df = local_rows_df(
        spark, "i long, t string", [(i, t) for i, t in enumerate(texts)]
    )
    out = {r.i: r for r in pii_scrub(df, text_col="t").collect()}
    for i, (_, n_em, n_ph) in enumerate(rows):
        assert out[i].n_emails == n_em
        assert out[i].n_phones == n_ph
        assert "@" not in out[i].scrubbed or n_em == 0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(TOKLIST.filter(bool), min_size=2, max_size=10),
    st.integers(min_value=2, max_value=3),  # number of fold batches
    st.sampled_from([1.0, 0.5]),
)
@pytest.mark.oracle
def test_incremental_fold_union_equals_batch_lsh(spark, toklists, n_batches, threshold):
    """Replay parity as a property: for ANY corpus and ANY split into
    sequential batches, the union of incremental_lsh_fold emissions
    equals one batch minhash_dedup_pairs run over the whole corpus
    (uncapped buckets on both sides)."""
    import tempfile

    from py_data_pipeline_app_spark.operators.dedup import minhash_dedup_pairs
    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        incremental_lsh_fold,
    )

    docs = [(i, " ".join(toks)) for i, toks in enumerate(toklists)]
    df = local_rows_df(spark, "doc_id long, text string", docs)
    expected = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(df, threshold=threshold).collect()
    )

    got = []
    with tempfile.TemporaryDirectory(prefix="prop_lsh_") as index:
        for k in range(n_batches):
            batch = df.filter(F.col("doc_id") % n_batches == k)
            pairs = incremental_lsh_fold(
                spark,
                index,
                batch,
                threshold=threshold,
                max_bucket_size=None,
                batch_token=f"b{k}",
            )
            got.extend((r.id_a, r.id_b, r.jaccard) for r in pairs.collect())
    assert sorted(got) == expected


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKLIST.filter(bool), min_size=1, max_size=12))
def test_chunk_dedup_rebuild_matches_python_reference(spark, toklists):
    """Corpus-level span dedup against a pure-Python first-occurrence
    model: for ANY corpus, each 3-token chunk survives exactly at its
    first (doc_id, pos) and documents rebuild in order."""
    from py_data_pipeline_app_spark.operators.curation import chunk_dedup_rebuild

    docs = [(i, " ".join(toks)) for i, toks in enumerate(toklists)]
    df = local_rows_df(spark, "doc_id long, text string", docs)
    out = {r.doc_id: r for r in chunk_dedup_rebuild(df, chunk_tokens=3).collect()}

    seen: set[str] = set()
    for i, toks in enumerate(toklists):
        kept_chunks = []
        n_chunks = (len(toks) + 2) // 3
        for p in range(n_chunks):
            chunk = " ".join(toks[p * 3 : p * 3 + 3])
            if chunk not in seen:
                seen.add(chunk)
                kept_chunks.append(chunk)
        r = out[i]
        assert r.n_chunks == n_chunks, (i, toks)
        assert r.n_kept == len(kept_chunks), (i, toks)
        assert r.text_deduped == " ".join(kept_chunks), (i, toks)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=4),
)
def test_source_cap_sample_respects_cap_for_any_distribution(spark, srcs, cap):
    """For ANY source distribution and cap: per-source output size is
    min(cap, group size), ranks are 1..n, totals are exact."""
    from collections import Counter

    from py_data_pipeline_app_spark.operators.sampling import source_cap_sample

    rows = [(i, f"s{g}") for i, g in enumerate(srcs)]
    df = local_rows_df(spark, "doc_id long, source string", rows)
    out = source_cap_sample(df, cap=cap).collect()
    sizes = Counter(r.source for r in out)
    truth = Counter(f"s{g}" for g in srcs)
    for src, n in truth.items():
        assert sizes[src] == min(cap, n), (src, cap)
    for r in out:
        assert 1 <= r.src_rank <= cap
        assert r.src_total == truth[r.source]


@pytest.mark.oracle
@settings(max_examples=10, deadline=None)
@given(st.lists(TOKLIST.filter(bool), min_size=1, max_size=10))
def test_simhash64_matches_python_reference(spark, toklists):
    """The packed 60-bit SimHash against a pure-Python bit model using
    the same md5-derived token hashes — pins the exact bit semantics
    (vote signs, packing order) the DuckDB oracle also replays."""
    import hashlib

    from py_data_pipeline_app_spark.operators.dedup import simhash64

    def py_simhash(toks):
        votes = [0] * 60
        for tok in sorted(set(toks)):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for j in range(60):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(60) if votes[j] > 0)

    docs = [(i, " ".join(toks)) for i, toks in enumerate(toklists)]
    df = local_rows_df(spark, "doc_id long, text string", docs)
    got = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    for i, toks in enumerate(toklists):
        assert got[i] == py_simhash(toks), (i, toks)

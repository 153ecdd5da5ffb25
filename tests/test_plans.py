"""Plan-shape regression tests: a future edit that silently
de-optimizes a headline plan (loses parquet pushdown, widens the scan,
or introduces a corpus-scale cartesian) must fail here, not in a
100-TB run.

These assert on `explain` output, not timings — the properties that
survive a 1000-executor scale-up: predicate pushdown + column pruning
at the scan, and blocked (equi-join) candidate generation in the
near-dup family. Broadcast cross joins against an intentionally tiny
side (query sets, centroid tables) are legitimate and NOT banned;
CartesianProduct (a non-broadcast cartesian) is banned everywhere.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from py_data_pipeline_app_spark.plans.queries import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


# Near-dup operators whose candidate generation must stay *blocked*:
# an equi-join/groupBy on a compact key, never a quadratic join against
# the corpus. (similarity_topk / *_ivf / *_exact intentionally use
# broadcast cross joins against tiny query/centroid sides and the
# sampled O(N^2) baseline, so they are excluded from the BNLJ ban.)
BLOCKED_NEAR_DUP = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_near_dup",
    "dedup_cluster_assignment_star",
    "dedup_incremental_lsh",
    "dedup_canonical_by_quality",
]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {
        name: plan_of(QUERIES[name](spark, sf_dir))
        for name in BLOCKED_NEAR_DUP
        + ["pricing_summary", "regional_supplier_volume", "enrich_strict_vs_dedup"]
    }


def test_pricing_summary_pushdown_and_pruning(plans):
    plan = plans["pricing_summary"]
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: 7-column ReadSchema, not the 16-column table
    assert "ReadSchema" in plan
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_regional_supplier_volume_pushdown(plans):
    plan = plans["regional_supplier_volume"]
    # the orderdate range predicate and the region name filter both push
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    # pruning: no comment columns from any of the 6 tables
    assert "_comment" not in plan


def test_near_dup_candidate_generation_is_blocked(plans):
    for name in BLOCKED_NEAR_DUP:
        plan = plans[name]
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_plain_cartesian_anywhere(plans):
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name


def test_decontamination_broadcasts_benchmark_grams(spark, sf_dir):
    # the benchmark gram set must be the broadcast build side — a
    # shuffled (sort-merge) gram join would move the whole exploded
    # corpus gram stream
    plan = plan_of(QUERIES["benchmark_decontamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_is_join_free(spark, sf_dir):
    # survivors come from ONE window over the chunk fingerprint — no
    # count-subplan joined back, no join against the corpus at all
    plan = plan_of(QUERIES["chunk_dedup_rebuild"](spark, sf_dir))
    assert "Join" not in plan
    assert "Window" in plan


def test_frame_sample_is_shuffle_free(spark, sf_dir):
    # frame fan-out happens inside the scan task: generate, no Exchange
    plan = plan_of(QUERIES["media_frame_sample"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_repetition_filter_is_shuffle_free(spark, sf_dir):
    # a document's repetition profile is a pure function of its own
    # row: the plan must be a narrow projection — no KEYED exchange
    # (hash/range), no Generate (explode), no join. The one allowed
    # exchange is the scale-adaptive round-robin fan_out past the
    # unsplittable one-file testdata scan (a no-op on a real corpus).
    df = QUERIES["text_repetition_filter"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1
    assert "Generate" not in plan
    assert "Join" not in plan


def test_whole_stage_codegen_covers_pricing_summary(spark, sf_dir):
    # the scan->filter->partial-agg pipeline must stay inside codegen.
    # AQE finalizes the physical plan only on execution, so run the
    # query, then read the final adaptive plan.
    df = QUERIES["pricing_summary"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # codegen'd operators carry the `*` marker in the final plan:
    # scan-side filter and partial aggregate must both be inside a
    # WholeStageCodegen span
    assert "* Filter" in plan
    assert "* HashAggregate" in plan


def test_results_stable_under_partitioning(spark, sf_dir):
    # the determinism contract: results are pure functions of the
    # data, independent of shuffle partitioning / task scheduling
    def canon(df):
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    names = ["training_set_curation", "dedup_minhash_lsh", "sequence_packing"]
    base = {n: canon(QUERIES[n](spark, sf_dir)) for n in names}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = {n: canon(QUERIES[n](spark, sf_dir)) for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert base[n] == again[n], n


def test_shingle_tokenize_staged_once(spark, sf_dir):
    # the staging rule: a lambda captures any outer expression by
    # SUBTREE, so an inlined tokens() re-splits the document once per
    # gram position. word_shingles/with_token_chunks stage the token
    # array as its own projection column; the optimized plan must
    # therefore contain exactly ONE split() of the text per operator.
    from py_data_pipeline_app_spark.operators.curation import with_token_chunks
    from py_data_pipeline_app_spark.operators.dedup import word_shingles
    from py_data_pipeline_app_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir)
    for df in (
        word_shingles(docs, "text", 3, "doc_id"),
        with_token_chunks(docs, "text", 10),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, plan

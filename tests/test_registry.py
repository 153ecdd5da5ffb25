"""Registry contract: every registered query has a DuckDB oracle, and
every row matches it at sf0.001 (testing/oracle.py's compare: row
count, column names and the order-insensitive multiset of normalised
rows). Static guards keep the package to that contract: no Spark ML,
and no function only tests reach beyond the listed ``KEPT`` set."""

from __future__ import annotations

import ast
import pathlib

import pytest

from py_data_pipeline_app_spark.plans.queries import ORACLES, QUERIES
from py_data_pipeline_app_spark.testing.oracle import check, duckdb_views


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_every_query_has_an_oracle():
    assert sorted(set(QUERIES) - set(ORACLES)) == []


# A handful of cheap structurally-diverse sentinels keep the fast loop
# honest about the registry wiring (import, load_table, plan build);
# the full oracle sweep below runs in the slow tier (see pytest.ini).
_SMOKE_SENTINELS = [
    "pricing_summary",
    "customer_spend_ranking",
    "text_quality",
    "source_cap_sample",
    "tumbling_counts",
]


@pytest.mark.parametrize("name", _SMOKE_SENTINELS)
def test_query_executes_sentinel(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, name
    assert df.count() >= 0, name


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.oracle
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_executes(spark, sf_dir, duck, name):
    """Every registered row executes on Spark and matches its DuckDB
    oracle."""
    _, mismatches = check(QUERIES[name](spark, sf_dir), duck, ORACLES[name])
    assert mismatches == [], name


def test_entry_module_serves_the_registry():
    """``__spark_entry__`` hands out the registry itself, in
    registration order, and reads nothing else."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "_spark_entry_under_test",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    assert list(mod.queries()) == list(QUERIES)
    assert list(mod.oracle_sql()) == list(QUERIES)
    assert mod.oracle_sql() == ORACLES


PKG = pathlib.Path(__file__).resolve().parents[1] / "py_data_pipeline_app_spark"

# what perfbench calls: the upload loop's public surface
ENTRY_NAMES = (
    "get_spark",
    "Warehouse",
    "ingest_workbook",
    "process_upload",
    "write_excel_report",
    "list_uploads",
    "list_address_changes",
)

# Top-level functions only tests reach today: the curation stream and
# what only it reaches (ROADMAP open item 3c). Shrinking this tuple is
# how that slice lands; new test-only code needs a caller, not an entry.
KEPT = (
    "operators.dedup_incremental.compact_index",
    "operators.media._dhash_bits",
    "operators.media_dedup_incremental.compact_media_index",
    "operators.media_dedup_incremental.compact_video_index",
    "operators.media_dedup_incremental.incremental_dhash_fold",
    "operators.media_dedup_incremental.incremental_video_dhash_fold",
    "operators.media_dedup_incremental.media_index_delete",
    "operators.media_dedup_incremental.video_index_delete",
    "operators.quantization.ivfpq_index_compact",
    "operators.similarity._compact_assigned_locked",
    "operators.similarity.ivf_index_compact",
    "operators.similarity.semantic_index_compact",
    "operators.span_dedup_incremental.compact_fps",
    "sources.maintenance.write_training_shards",
    "streaming.curation._near_dup_drop_ids",
    "streaming.curation.curated_corpus",
    "streaming.curation.curated_corpus_current",
    "streaming.curation.curation_accounting",
    "streaming.curation.curation_fold",
    "streaming.curation.start_curation_stream",
    "streaming.dedup.streaming_exact_dedup",
    "streaming.fold.fold_stream",
    "streaming.fold.read_fold_output",
    "streaming.fold.write_fold_output",
    "streaming.pipeline.start_customer_stream",
    "streaming.pipeline.start_windowed_event_stream",
    "streaming.stateful._make_fold_profile",
    "streaming.stateful.user_profile_batch",
    "streaming.stateful.user_profile_stream",
)


def _names_used(node) -> set[str]:
    """Every name a node's code mentions: loaded names and attribute
    names (``TXT.with_doc_fingerprints`` reaches ``with_doc_fingerprints``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _unreached_functions() -> set[str]:
    """Name-based reachability over the package (``testing/`` excluded):
    seeds are the registry's query functions, the perfbench entry
    names, module-level code (imports excepted: an import alone calls
    nothing) with ``__all__`` entries, and decorated definitions (their
    decorator receives them); a reached function or class reaches every
    name its body mentions. Returns the top-level functions never
    reached, as ``module.function``."""
    defs: dict[str, list] = {}
    seeds = set(ENTRY_NAMES) | {fn.__name__ for fn in QUERIES.values()}
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG)
        if rel.parts[0] == "testing":
            continue
        mod = ".".join(rel.with_suffix("").parts)
        for st in ast.parse(f.read_text(encoding="utf-8")).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((mod, st))
                if st.decorator_list:
                    seeds.add(st.name)
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            else:
                seeds |= _names_used(st)
                for n in ast.walk(st):
                    if isinstance(n, ast.Assign) and any(
                        isinstance(t, ast.Name) and t.id == "__all__"
                        for t in n.targets
                    ):
                        seeds |= {c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)}
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, st in defs.get(name, []):
            todo.extend(_names_used(st) - reached)
    return {
        f"{mod}.{name}"
        for name, sites in defs.items()
        if name not in reached
        for mod, st in sites
        if not isinstance(st, ast.ClassDef)
    }


def test_package_reaches_only_its_contract():
    """Static: every top-level package function is reachable from the
    registry, the perfbench entry points or module-level code, except
    the KEPT set — code only tests reach cannot come back unnoticed."""
    assert sorted(_unreached_functions()) == sorted(KEPT)


def test_no_spark_ml():
    """Static: no package module names Spark ML — the iterative
    trainers are gone, and a fit has no SQL oracle to check it."""
    callers = sorted(
        str(f.relative_to(PKG))
        for f in PKG.rglob("*.py")
        if "pyspark.ml" in f.read_text(encoding="utf-8")
    )
    assert callers == []

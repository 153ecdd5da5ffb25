"""Registry contract: every registered query has a DuckDB oracle, and
every row matches it at sf0.001 (testing/oracle.py's compare: row
count, column names and the order-insensitive multiset of normalised
rows)."""

from __future__ import annotations

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

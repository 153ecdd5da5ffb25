"""Entry module over the query registry (plans/queries.py).

``entry(spark)`` is the flagship query at sf0.001; ``queries()`` and
``oracle_sql()`` return every registered query and its DuckDB oracle,
in registration order. Tier-1 (tests/test_registry.py) compares each
query with its oracle at sf0.001, and tools/check_oracle.py does the
same at sf0.01.

Implementation lives in ``py_data_pipeline_app_spark``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from py_data_pipeline_app_spark.plans.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query at sf0.001."""
    return QUERIES["customer_spend_ranking"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent of each query."""
    return dict(ORACLES)

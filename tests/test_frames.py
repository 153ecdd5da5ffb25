"""local_rows_df (functions/frames): driver-known frames must be row-
and type-identical to their createDataFrame equivalents — they replace
the Python-RDD-backed path on every ingest and index-manifest write, so
a silent type drift here would corrupt config fail-loudly checks."""

from __future__ import annotations

import pathlib

from pyspark.sql import types as T

from py_data_pipeline_app_spark.functions.frames import local_rows_df


def test_matches_create_dataframe(spark):
    schema = "a string, b int, c double, d boolean, e array<double>"
    rows = [
        ("x", 1, 2.5, True, [1.0, 2.0]),
        (None, None, None, None, None),
        ("y", -7, -0.0, False, []),
    ]
    got = local_rows_df(spark, schema, rows)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_struct_type_schema(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    df = local_rows_df(spark, schema, [(5, "n")])
    want = spark.createDataFrame([(5, "n")], schema)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert df.collect()[0].asDict() == {"id": 5, "name": "n"}


def test_empty_rows(spark):
    df = local_rows_df(spark, "k string, v int", [])
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    assert all(f.nullable for f in df.schema.fields)
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_no_python_rdd_scan(spark):
    """The point of the helper: the executed plan must be pure JVM — a
    LocalTableScan, no ExistingRDD (Python parallelize) scan node — and
    one partition at any row count."""
    df = local_rows_df(spark, "k string", [("a",), ("b",)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.count() == 2
    wide = local_rows_df(spark, "i int", [(i,) for i in range(600)])
    assert wide.rdd.getNumPartitions() == 1


def test_parquet_round_trip(spark, tmp_path):
    p = str(tmp_path / "cfg")
    local_rows_df(
        spark, "num_perms int, bands int, exact boolean", [(64, 16, True)]
    ).write.mode("overwrite").parquet(p)
    row = spark.read.parquet(p).first()
    assert (row.num_perms, row.bands, row.exact) == (64, 16, True)


def test_string_escaping_round_trip(spark):
    """The builder must survive hostile strings — quotes,
    backslashes, control chars, unicode; a silent escaping bug would
    corrupt every label/manifest frame built from user data."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    hostile = [
        "it's",
        'say "hi"',
        "back\\slash",
        "new\nline",
        "tab\there",
        "semi;colon--comment",
        "'); DROP TABLE x; --",
        "nul\x00byte" if False else "ctrl\x01\x02",
        "üñíçødé ♠♥",
        "",
        " ",
        "%s %d {} ${x}",
    ]
    got = local_rows_df(
        spark, "s string", [(v,) for v in hostile]
    ).collect()
    assert sorted(r.s for r in got) == sorted(hostile)

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    min_codepoint=1, max_codepoint=0x2FF
                ),
                max_size=12,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def prop(vals):
        rows = local_rows_df(spark, "s string", [(v,) for v in vals]).collect()
        assert sorted(r.s for r in rows) == sorted(vals)

    prop()


def test_timestamp_and_date_cells(spark):
    from datetime import date, datetime, timezone

    rows = [
        (datetime(2024, 1, 1, 10, 30, 0), date(2024, 2, 29)),
        (datetime(2024, 6, 1, 0, 0, 0, 123456), date(1999, 12, 31)),
        (None, None),
    ]
    schema = "ts timestamp, d date"
    got = local_rows_df(spark, schema, rows).collect()
    want = spark.createDataFrame(rows, schema).collect()
    key = lambda r: str(r)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    # tz-aware datetimes are ambiguous across session zones: refuse
    import pytest as _pytest

    with _pytest.raises(TypeError, match="NAIVE"):
        local_rows_df(
            spark, "ts timestamp",
            [(datetime(2024, 1, 1, tzinfo=timezone.utc),)],
        )


def test_row_arity_mismatch_refused(spark):
    import pytest as _pytest

    # zip-truncation would silently drop the surplus cell; refuse like
    # createDataFrame does
    with _pytest.raises(ValueError, match="row 1 has 3 cells"):
        local_rows_df(spark, "a int, b int", [(1, 2), (1, 2, 3)])
    with _pytest.raises(ValueError, match="row 0 has 1 cell"):
        local_rows_df(spark, "a int, b int", [(1,)])


def test_one_builder_for_driver_known_tables():
    """Static: local_rows_df is the package's only createDataFrame call
    site, so no second builder (a list or pandas createDataFrame, a
    Python RDD) can come back unnoticed."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "py_data_pipeline_app_spark"
    callers = sorted(
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if "createDataFrame(" in f.read_text(encoding="utf-8")
    )
    assert callers == ["functions/frames.py"]

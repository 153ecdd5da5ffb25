"""Pinned linear quality model: feature correctness against a Python
model, and a shuffle-free scorer."""

from __future__ import annotations

import pytest

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.quality_model import (
    quality_feature_frame,
)

CLEAN = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a gentle breeze carried the scent of rain across the open field",
    "she walked slowly through the quiet garden admiring every flower",
]
JUNK = [
    "buy buy buy buy buy buy buy buy buy buy buy buy",
    "zzz1 zzz2 zzz3 zzz4 zzz5 zzz6 zzz7 zzz8 999 888 777 666",
    "!!! ### $$$ %%% &&& *** ((( ))) @@@ ^^^ ~~~ |||",
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(60):
        rows.append((i, CLEAN[i % len(CLEAN)] + f" sentence variant {i % 7}"))
    for i in range(60, 90):
        rows.append((i, JUNK[i % len(JUNK)]))
    return local_rows_df(spark, "doc_id long, text string", rows)


def test_features_match_python_model(spark):
    df = local_rows_df(
        spark, "doc_id long, text string", [(1, "aa bb aa cc 12 !!")]
    )
    r = quality_feature_frame(df).collect()[0]
    import math

    toks = ["aa", "bb", "aa", "cc", "12", "!!"]
    n = len(toks)
    assert abs(r.f_log_tokens - math.log(n + 1)) < 1e-9
    assert abs(r.f_distinct_ratio - 5 / 6) < 1e-9
    text = "aa bb aa cc 12 !!"
    punct = sum(1 for c in text if not (c.isalnum() or c.isspace()))
    digits = sum(1 for c in text if c.isdigit())
    assert abs(r.f_punct_share - punct / len(text)) < 1e-9
    assert abs(r.f_digit_share - digits / len(text)) < 1e-9
    c2 = 2 * 2 + 1 + 1 + 1 + 1
    assert abs(r.f_simpson - (1 - c2 / (n * n))) < 1e-9


def test_linear_scorer_is_shuffle_free(spark, corpus):
    """The deployed scorer is a projection: no Exchange in the plan."""
    import contextlib
    import io

    from py_data_pipeline_app_spark.operators.quality_model import (
        score_quality_linear,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        score_quality_linear(corpus).explain(mode="simple")
    assert "Exchange" not in buf.getvalue()

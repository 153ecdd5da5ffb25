"""Parsed-expression renderer parity pins (round-16, verdict item 5).

Rounds 15-16 replaced the engine's most-instantiated Column-composed
builders with server-side-parsed expression STRINGS (plan-construction
latency: ~2.4 ms of py4j per Column op vs one parse for the whole
fold). Each replacement was verified equivalent by ad-hoc session A/Bs
at the time; these tests PIN that equivalence so a future edit to a
rendered string cannot drift silently between oracle visits of the few
registered rows that exercise it.

Method: for every renderer, this module keeps (or rebuilds inline) the
COMPOSED Column form as the spec and asserts bit-exact collected
equality on a shared frame — floats compared via ``float.hex()`` so a
last-ulp drift fails loudly. Where both forms still exist in the
engine (the vector folds' str/Column dual API), the engine's two paths
are compared directly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.functions.text import HASH_PRIME, perm_coeffs


def _hexed(rows):
    """Collected rows with floats in hex form (bit-exact comparison),
    order-insensitive."""

    def conv(v):
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, list):
            return tuple(conv(x) for x in v)
        if hasattr(v, "asDict"):  # Row / struct
            return tuple((k, conv(x)) for k, x in sorted(v.asDict().items()))
        return v

    return sorted(tuple(conv(v) for v in r) for r in rows)


def _assert_frame_parity(parsed_df, composed_df):
    assert parsed_df.schema == composed_df.schema
    assert _hexed(parsed_df.collect()) == _hexed(composed_df.collect())


@pytest.fixture()
def vecs(spark):
    return local_rows_df(
        spark,
        "a array<double>, b array<double>",
        [
            ([1.0, -2.5, 3.25], [0.5, 4.0, -1.125]),
            ([1e-9, 2e9, -3.7], [7.1, -0.0, 0.3333333333333333]),
        ],
    )


def test_dot_l2_cosine_string_vs_column_forms(vecs):
    """The vector folds' two entry forms (column NAME -> parsed string,
    Column -> composed) must stay bit-equal — they are the most
    instantiated expressions in the engine and both forms are live
    API."""
    from py_data_pipeline_app_spark.operators.similarity import (
        cosine,
        dot,
        l2_norm,
    )

    parsed = vecs.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("n"),
        cosine("a", "b").alias("c"),
    )
    composed = vecs.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_norm(F.col("a")).alias("n"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    )
    _assert_frame_parity(parsed, composed)


def test_fold_renderers_escape_backticked_names(spark):
    """A column name containing a backtick must reference the right
    column through the parsed form (identifiers are escaped by
    doubling), exactly like the Column form always did."""
    from py_data_pipeline_app_spark.operators.similarity import dot

    # a raw backticked name cannot even be REFERENCED through F.col()
    # (it parses attribute names), so the composed baseline is computed
    # under a plain name and the frame renamed afterwards — the parsed
    # renderer must resolve the weird name to the same values
    base = local_rows_df(spark, "v array<double>", [([2.0, 3.0],)])
    expected = _hexed(
        base.select(dot(F.col("v"), F.col("v")).alias("d")).collect()
    )
    weird = base.withColumnRenamed("v", "a`b")
    parsed = weird.select(dot("a`b", "a`b").alias("d"))
    assert _hexed(parsed.collect()) == expected
    assert parsed.collect()[0].d == 13.0


def test_float_matrix_lit_vs_composed_lits(spark):
    from py_data_pipeline_app_spark.operators.similarity import (
        float_matrix_lit,
    )

    m = [[1.5, -2.25, 1e-300], [0.1, 7.0, -0.0]]
    composed = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in m]
    )
    df = local_rows_df(spark, "i int", [(1,)])
    _assert_frame_parity(
        df.select(float_matrix_lit(m).alias("m")),
        df.select(composed.alias("m")),
    )


def test_minhash_perm_agg_parity(spark):
    """dedup.minhash_signatures' parsed permutation aggregates vs the
    composed form they replaced (affine permutations of the token
    hash, min per id)."""
    rows = [(1, 17), (1, 2_000_000_000), (2, 12345), (2, 0)]
    df = local_rows_df(spark, "doc_id long, h long", rows)
    coeffs = perm_coeffs(4)
    parsed = df.groupBy("doc_id").agg(
        *[
            F.expr(f"min((h * {a} + {b}) % {HASH_PRIME}) AS mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    composed = df.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h") * F.lit(a) + F.lit(b)) % F.lit(HASH_PRIME)
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    _assert_frame_parity(parsed, composed)


def test_simhash_vote_and_pack_parity(spark):
    """dedup.simhash64's parsed 60-vote aggregate + packing vs the
    when/otherwise builders they replaced."""
    rows = [(1, 0x0F0F0F0F0F0F0F0), (1, 0x123456789ABCDEF), (2, 7)]
    df = local_rows_df(spark, "doc_id long, h long", rows)
    votes_p = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS v_{j}"
        )
        for j in range(60)
    ]
    votes_c = [
        F.sum(
            F.when(
                (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v_{j}")
        for j in range(60)
    ]
    pack_p = F.expr(
        "CAST("
        + " + ".join(
            f"IF(v_{j} > 0, CAST({2**j} AS BIGINT), CAST(0 AS BIGINT))"
            for j in range(60)
        )
        + " AS BIGINT)"
    )
    pack_c = None
    for j in range(60):
        term = (
            F.when(F.col(f"v_{j}") > 0, F.lit(2**j).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
        pack_c = term if pack_c is None else pack_c + term
    pack_c = pack_c.cast("bigint")
    parsed = (
        df.groupBy("doc_id").agg(*votes_p).select("doc_id", pack_p.alias("s"))
    )
    composed = (
        df.groupBy("doc_id").agg(*votes_c).select("doc_id", pack_c.alias("s"))
    )
    _assert_frame_parity(parsed, composed)


@pytest.fixture()
def mixed(spark):
    import datetime as dt

    rows = [
        (1, 2.5, "x", dt.datetime(2031, 3, 1, 12, 0, 0)),
        (2, -0.0, None, dt.datetime(2031, 3, 2, 0, 0, 1)),
        (None, None, "y", None),
        (4, 1e-7, "x", dt.datetime(2030, 12, 31, 23, 59, 59)),
    ]
    return local_rows_df(
        spark, "k long, v double, s string, ts timestamp", rows
    )


def _stringify(col: F.Column, dtype: T.DataType) -> F.Column:
    """Column-composed reference for ``profile._stringify_sql``:
    doubles/floats through decimal(18,6), timestamps through a fixed
    second-resolution format, everything else a direct cast."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return col.cast("decimal(18,6)").cast("string")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def _num_proxy(c: str, dtype: T.DataType) -> F.Column | None:
    """Column-composed reference for the quantile proxy of
    ``profile._approx_profile``: a double preserving native order, or
    None for types with no numeric order (quantiles are null)."""
    from py_data_pipeline_app_spark.operators.profile import _NUMERIC

    col = F.col(c)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(col.cast("timestamp")).cast("double")
    if isinstance(dtype, _NUMERIC):
        return col.cast("double")
    return None


def test_approx_profile_parity_with_composed_builders(mixed):
    """profile._approx_profile's parsed sketch aggregates vs the
    Column-composed builders they replaced — same counts, HLL distinct
    estimates, stringified min/max, and KLL quantiles (both paths run
    the identical deterministic plan shape, so sketch merges see the
    same partitions in the same order)."""
    from py_data_pipeline_app_spark.operators import profile as P

    cols = ["k", "v", "s", "ts"]
    rsd, quantiles = 0.05, [0.5, 0.9]
    parsed = P._approx_profile(mixed, cols, rsd, quantiles)

    # the composed twin: the pre-round-16 builder, verbatim
    dtypes = {f.name: f.dataType for f in mixed.schema.fields}
    aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__present_{i}"),
            F.count(F.when(col.isNull(), F.lit(1))).alias(f"__null_{i}"),
            F.approx_count_distinct(col, rsd).alias(f"__distinct_{i}"),
            _stringify(F.min(col), dtypes[c]).alias(f"__min_{i}"),
            _stringify(F.max(col), dtypes[c]).alias(f"__max_{i}"),
        ]
        proxy = _num_proxy(c, dtypes[c])
        for q in quantiles:
            expr = (
                F.percentile_approx(proxy, q)
                if proxy is not None
                else F.max(F.lit(None).cast("double"))
            )
            aggs.append(expr.alias(f"__{P._qname(q)}_{i}"))
    from py_data_pipeline_app_spark.partitioning import fan_out

    wide = fan_out(mixed).agg(*aggs)

    def name_lit(c: str) -> str:
        return "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

    parts = ", ".join(
        f"{name_lit(c)}, __present_{i}, __null_{i}, __distinct_{i},"
        f" __min_{i}, __max_{i}"
        + "".join(f", __{P._qname(q)}_{i}" for q in quantiles)
        for i, c in enumerate(cols)
    )
    qnames = "".join(f", {P._qname(q)}" for q in quantiles)
    composed = wide.select(
        F.expr(
            f"stack({len(cols)}, {parts}) AS "
            f"(column_name, n_present, n_null, n_distinct, min_value,"
            f" max_value{qnames})"
        )
    )
    _assert_frame_parity(parsed, composed)


def test_exact_profile_backticked_column(spark):
    """_exact_profile splices identifiers into parsed expressions; a
    backticked column name must profile correctly (escape regression
    pin for the ADVICE item)."""
    from py_data_pipeline_app_spark.operators.profile import profile_columns

    df = local_rows_df(spark, "`a``b` long", [(1,), (2,), (None,)])
    out = profile_columns(df, ["a`b"], exact=True).collect()
    assert len(out) == 1
    row = out[0]
    assert row.column_name == "a`b"
    assert (row.n_present, row.n_null, row.n_distinct) == (2, 1, 2)
    assert (row.min_value, row.max_value) == ("1", "2")


def test_adc_fold_parity(spark):
    """quantization._adc_rank's parsed lookup-table builder and per-row
    fold vs the composed forms they replaced (qtab: per-subspace
    dot-product table; num: m element_at lookups folded in subspace
    order)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        render_float_matrix,
    )

    m, dsub = 2, 2
    cb = [[[1.0, 2.0], [3.0, -4.0]], [[0.5, 0.25], [-1.0, 2.0]]]
    cb_sql = render_float_matrix(cb)
    q = local_rows_df(
        spark,
        "query_id long, embedding array<double>, codes array<int>",
        [(1, [1.0, -2.0, 0.5, 4.0], [0, 1]), (2, [0.1, 0.2, 0.3, 0.4], [1, 0])],
    )

    qtab_p = F.expr(
        f"transform({cb_sql}, (sub_cb, s) -> transform(sub_cb, cw -> "
        f"aggregate(zip_with(slice(`embedding`, CAST(s AS INT) * {dsub} + 1, "
        f"{dsub}), cw, (p, q) -> CAST(p AS DOUBLE) * q), 0.0D, "
        "(acc, v) -> acc + v)))"
    )
    cb_col = F.array(
        *[F.array(*[F.array(*[F.lit(v) for v in cw]) for cw in sub]) for sub in cb]
    )
    qvec = F.col("embedding")
    qtab_c = F.transform(
        cb_col,
        lambda sub_cb, s: F.transform(
            sub_cb,
            lambda cw: F.aggregate(
                F.zip_with(
                    F.slice(qvec, s.cast("int") * dsub + 1, dsub),
                    cw,
                    lambda p, q_: p.cast("double") * q_,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )
    _assert_frame_parity(
        q.select(qtab_p.alias("t")), q.select(qtab_c.alias("t"))
    )

    staged = q.select("query_id", "codes", qtab_p.alias("_qtab"))
    num_p = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, s) -> acc + "
        "element_at(element_at(_qtab, CAST(s + 1 AS INT)), "
        "CAST(element_at(codes, CAST(s + 1 AS INT)) + 1 AS INT)))"
    )
    codes = F.col("codes")
    num_c = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("_qtab"), (s + 1).cast("int")),
            (F.element_at(codes, (s + 1).cast("int")) + 1).cast("int"),
        ),
    )
    _assert_frame_parity(
        staged.select("query_id", num_p.alias("n")),
        staged.select("query_id", num_c.alias("n")),
    )


def test_media_from_documents_parity(spark):
    """media_from_documents' parsed kind/mime/meta builders vs the
    per-literal Column composition they replaced."""
    from py_data_pipeline_app_spark.operators.media import (
        _KINDS,
        _MIMES,
        media_from_documents,
    )

    docs = local_rows_df(
        spark,
        "doc_id long, text string, n_chars int",
        [(0, "alpha", 5), (1, "beta", 4), (2, "gamma", 5), (3, "delta", 5)],
    )
    parsed = media_from_documents(docs)

    kind_c = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    mime_map = F.create_map(
        *[F.lit(x) for kv in _MIMES.items() for x in kv]
    )
    composed = docs.select(
        F.col("doc_id").alias("media_id"),
        kind_c.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        mime_map[kind_c].alias("mime"),
        F.struct(
            F.when(
                kind_c != "audio",
                (F.lit(64) + (F.col("n_chars") % 97) * 8).cast("int"),
            ).otherwise(F.lit(None).cast("int")).alias("width"),
            F.when(
                kind_c != "audio",
                (F.lit(64) + (F.col("doc_id") % 53) * 8).cast("int"),
            ).otherwise(F.lit(None).cast("int")).alias("height"),
            F.when(
                kind_c != "image",
                (F.col("n_chars") * 25).cast("bigint"),
            ).otherwise(F.lit(None).cast("bigint")).alias("duration_ms"),
            F.when(
                kind_c == "audio",
                (F.lit(16000) + (F.col("doc_id") % 4) * 8000).cast("int"),
            ).otherwise(F.lit(None).cast("int")).alias("sample_rate"),
        ).alias("meta"),
    )
    assert _hexed(parsed.collect()) == _hexed(composed.collect())


# ---------------------------------------------------------------------------
# Round-16 wave 2: the narrow text/quality builders (run_length_stats,
# ngrams_of, _gram_hashes + winnowing levels, quality features) — each
# parsed form vs the composed Column builder it replaced.
# ---------------------------------------------------------------------------

_RLS_DOCS = [
    ("a b a b a",),
    ("x",),
    ("",),
    ("q q q q",),
    ("one two three two one two",),
]


def _composed_run_length_stats(sorted_arr):
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("nd"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        ended = acc["prev"].isNotNull() & (acc["prev"] != x)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(ended, F.greatest(acc["top"], acc["run"]))
            .otherwise(acc["top"])
            .alias("top"),
            F.when(ended, acc["nd"] + 1).otherwise(acc["nd"]).alias("nd"),
            F.when(ended & (acc["run"] > 1), acc["dup"] + acc["run"])
            .otherwise(acc["dup"])
            .alias("dup"),
        )

    def finish(acc):
        return F.struct(
            F.greatest(acc["top"], acc["run"]).alias("top_count"),
            (
                acc["nd"]
                + F.when(acc["prev"].isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_distinct"),
            F.when(acc["run"] > 1, acc["dup"] + acc["run"])
            .otherwise(acc["dup"])
            .alias("dup_occurrences"),
        )

    return F.aggregate(sorted_arr, init, step, finish)


def test_run_length_stats_parity(spark):
    from py_data_pipeline_app_spark.functions.text import tokens
    from py_data_pipeline_app_spark.operators.curation import run_length_stats

    d = local_rows_df(spark, "text string", _RLS_DOCS).withColumn(
        "_toks", F.filter(tokens("text"), lambda x: x != "")
    )
    _assert_frame_parity(
        d.select(run_length_stats("sort_array(`_toks`)").alias("s")),
        d.select(
            _composed_run_length_stats(F.sort_array(F.col("_toks"))).alias("s")
        ),
    )


def test_ngrams_of_parity(spark):
    from py_data_pipeline_app_spark.functions.text import tokens
    from py_data_pipeline_app_spark.operators.curation import ngrams_of

    d = local_rows_df(spark, "text string", _RLS_DOCS).withColumn(
        "_toks", tokens("text")
    )
    for n in (2, 3):
        composed_starts = F.sequence(
            F.lit(1), F.greatest(F.size(F.col("_toks")) - F.lit(n - 1), F.lit(1))
        )
        composed = F.transform(
            composed_starts,
            lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
        )
        _assert_frame_parity(
            d.select(ngrams_of("`_toks`", n).alias("g")),
            d.select(composed.alias("g")),
        )


def test_gram_hashes_and_winnowing_parity(spark):
    from py_data_pipeline_app_spark.functions.text import (
        _gram_hashes,
        normalize_text,
    )

    gram = 4
    d = local_rows_df(
        spark,
        "text string",
        [("The quick brown fox jumps over the lazy dog",), ("ab",), ("",)],
    ).withColumn("_norm", normalize_text(F.col("text")))
    norm = F.col("_norm")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(norm) - F.lit(gram - 1), F.lit(1))
    )
    grams = F.transform(starts, lambda i: norm.substr(i, F.lit(gram)))
    composed_gh = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    _assert_frame_parity(
        d.select(_gram_hashes("`_norm`", gram).alias("gh")),
        d.select(composed_gh.alias("gh")),
    )
    # one sparse-table level + the window-min selection over a staged
    # hash array (the winnowing_fingerprints inner expressions)
    staged = d.select(_gram_hashes("`_norm`", gram).alias("_t0"))
    step, window = 1, 2
    prev = F.col("_t0")
    composed_level = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(prev) - step, F.lit(1))),
        lambda i: F.least(
            F.element_at(prev, i),
            F.element_at(prev, F.least(i + step, F.size(prev))),
        ),
    )
    parsed_level = F.expr(
        f"transform(sequence(1, greatest(size(`_t0`) - {step}, 1)), "
        f"i -> least(element_at(`_t0`, i), "
        f"element_at(`_t0`, least(i + {step}, size(`_t0`)))))"
    )
    _assert_frame_parity(
        staged.select(parsed_level.alias("l")),
        staged.select(composed_level.alias("l")),
    )
    lv = staged.select("_t0", parsed_level.alias("_t1"))
    top, tail = F.col("_t1"), window - 2
    gh = F.col("_t0")
    composed_mins = F.when(
        F.size(gh) <= window, F.array(F.array_min(gh))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(gh) - window + 1),
            lambda p: F.least(
                F.element_at(top, p), F.element_at(top, p + tail)
            ),
        )
    )
    parsed_mins = F.expr(
        f"CASE WHEN size(`_t0`) <= {window} THEN array(array_min(`_t0`)) "
        f"ELSE transform(sequence(1, size(`_t0`) - {window} + 1), "
        f"p -> least(element_at(`_t1`, p), element_at(`_t1`, p + {tail}))) END"
    )
    _assert_frame_parity(
        lv.select(parsed_mins.alias("m")), lv.select(composed_mins.alias("m"))
    )


def test_quality_feature_frame_parity(spark):
    """The parsed feature expressions vs the composed builders they
    replaced (including the Simpson fold and the stopword IN list)."""
    from py_data_pipeline_app_spark.functions.text import tokens
    from py_data_pipeline_app_spark.operators.quality_model import (
        _ALL_STOPWORDS,
        quality_feature_frame,
    )

    docs = local_rows_df(
        spark,
        "doc_id long, text string",
        [
            (1, "the cat and the hat sat on the mat"),
            (2, "buy buy buy buy buy"),
            (3, "Ein der 123 !!! das und 42"),
            (4, "x"),
        ],
    )
    toks = tokens("text")
    n = F.size(toks)
    txt = F.col("text")
    n_chars = F.greatest(F.length(txt), F.lit(1))
    punct = F.length(F.regexp_replace(txt, r"[A-Za-z0-9\s]", ""))
    digits = F.length(F.regexp_replace(txt, r"[^0-9]", ""))
    sorted_toks = F.sort_array(toks)
    c2 = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("acc"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(a["prev"].isNotNull() & (a["prev"] == x), a["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.when(
                a["prev"].isNotNull() & (a["prev"] != x),
                a["acc"] + a["run"] * a["run"],
            )
            .otherwise(a["acc"])
            .alias("acc"),
        ),
        lambda a: a["acc"] + a["run"] * a["run"],
    )
    distinct = F.size(F.array_distinct(toks))
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*_ALL_STOPWORDS))
    )
    composed = docs.select(
        F.col("doc_id"),
        F.log(n.cast("double") + 1.0).alias("f_log_tokens"),
        (distinct.cast("double") / n).alias("f_distinct_ratio"),
        (punct.cast("double") / n_chars).alias("f_punct_share"),
        (digits.cast("double") / n_chars).alias("f_digit_share"),
        (F.lit(1.0) - c2.cast("double") / (n * n).cast("double")).alias(
            "f_simpson"
        ),
        (stop_hits.cast("double") / n).alias("f_stopword_share"),
    )
    _assert_frame_parity(quality_feature_frame(docs), composed)


def test_hyperplane_banding_parity(spark):
    """hyperplane_lsh_near_dup_pairs' parsed projection/bits/band-key
    chain vs the composed Column form it replaced."""
    from py_data_pipeline_app_spark.operators.similarity import (
        _deterministic_hyperplanes,
        float_matrix_lit,
        render_float_matrix,
    )

    dim, n_planes, bands = 4, 8, 2
    planes = _deterministic_hyperplanes(dim, n_planes)
    d = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [
            (1, [1.0, -2.0, 0.5, 4.0]),
            (2, [-0.1, 0.2, -0.3, 0.4]),
            (3, [0.0, 0.0, 0.0, 0.0]),
        ],
    )
    vec = F.col("embedding")
    projs = F.transform(
        float_matrix_lit(planes),
        lambda plane: F.aggregate(
            F.zip_with(vec, plane, lambda p, q: p.cast("double") * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    bits = F.transform(
        projs, lambda p: F.when(p > 0, F.lit("1")).otherwise(F.lit("0"))
    )
    r = n_planes // bands
    composed = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.array_join(F.slice(bits, bi * r + 1, r), "").alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    projs_sql = (
        f"transform({render_float_matrix(planes)}, plane -> "
        "aggregate(zip_with(`embedding`, plane, (p, q) -> "
        "CAST(p AS DOUBLE) * q), 0.0D, (acc, v) -> acc + v))"
    )
    bits_sql = (
        f"transform({projs_sql}, p -> CASE WHEN p > 0 THEN '1' ELSE '0' END)"
    )
    parsed = F.expr(
        "array("
        + ", ".join(
            f"struct({bi} AS band, "
            f"array_join(slice({bits_sql}, {bi * r + 1}, {r}), '') AS bucket)"
            for bi in range(bands)
        )
        + ")"
    )
    _assert_frame_parity(
        d.select("vec_id", parsed.alias("bk")),
        d.select("vec_id", composed.alias("bk")),
    )

"""One-pass column profiling: per-column presence / null / distinct /
min / max stats (extension — the reference's pandas app profiles
nothing; this is the ``ANALYZE TABLE``-shaped operator every
warehouse-scale ingest needs before trusting a new drop of data).

Two execution shapes behind one output schema:

``exact=False`` (the 100 TB default): ONE aggregation job carrying
every per-column expression at once — count / null-count / HLL++
approx-distinct / min / max — then a ``stack`` unpivot of the single
result row. One scan, no shuffle beyond the 1-row agg, rsd-bounded
distinct error.

``exact=True`` (what the cross-engine oracle can verify): exact
distinct counts. The naive form — several ``count(DISTINCT col)`` in
one agg — plans an Expand whose first-phase hash map keys every
distinct VALUE while also dragging every min/max/count buffer through
those groups; measured 10x slower than the bare distincts at sf0.1.
Instead the exact path MELTS the table long (one (column, value) row
per cell, value stringified injectively), then aggregates in two
keyed phases:

1. ``groupBy(column, value)`` — count per distinct cell value, with
   map-side partial aggregation soaking up repeated values before the
   shuffle (a constant column shuffles ~1 row per partition);
2. ``groupBy(column, salt=hash(value)%256)`` partials →
   ``groupBy(column)`` — distinct-count is a plain row count (values
   are distinct across salt buckets by construction), so the second
   shuffle is skew-proof even when one column holds 10^9 distincts:
   no single reducer ever sees more than one salt bucket's rows.

Min/max travel as (double-proxy, string) pairs and are re-rendered
per column type at the end — computed on the NATIVE order (string min
of a numeric column would compare lexically: "10" < "9"), displayed
through the repo's decimal(18,6) convention so Spark and DuckDB
render identically.

Float edge semantics: -0.0 and 0.0 count as ONE distinct value (the
injective string key normalizes the sign to match both engines'
grouping semantics — tested); NaN counts as one distinct value in
both engines, but a NaN min/max renders as NULL through the decimal
display cast (both engines sort NaN above every double, and neither
casts it to decimal) — exact NaN *display* is out of the profiling
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.partitioning import fan_out


_NUMERIC = (
    T.DoubleType,
    T.FloatType,
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DecimalType,
)


def _qname(q: float) -> str:
    return f"q{q * 100:g}".replace(".", "_")


def _qident(c: str) -> str:
    """Backtick-quoted identifier safe to splice into a parsed
    expression — embedded backticks are doubled (the SQL identifier
    escape), so a column literally named ``a`b`` still references the
    right column instead of breaking the parser."""
    return "`" + c.replace("`", "``") + "`"


def _stringify_sql(inner: str, dtype: T.DataType) -> str:
    """Render a min/max value (the parsed expression source ``inner``)
    as a cross-engine-deterministic string. Doubles/floats go through
    decimal(18,6) (Java's 1.0E7 vs DuckDB's 10000000.0 otherwise
    disagree); timestamps through a fixed second-resolution format;
    everything else casts directly. Pinned against its Column-composed
    reference by the renderer parity suite."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return f"CAST(CAST({inner} AS DECIMAL(18,6)) AS STRING)"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return f"date_format({inner}, 'yyyy-MM-dd HH:mm:ss')"
    return f"CAST({inner} AS STRING)"


def _approx_profile(
    df: DataFrame, cols: list[str], rsd: float, quantiles: list[float]
) -> DataFrame:
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    # internal aliases keyed by INDEX, not name — a source column named
    # "order total" or containing quotes must not leak into the stack
    # expression; only the escaped display literal (and the
    # backtick-escaped identifier) carries the name. Each aggregate is
    # ONE server-side-parsed expression: the Column-composed builders
    # cost ~35 py4j round trips per column of pure construction
    # latency (the simhash/melt rationale — guide §5 driver), and the
    # approx path is the 100 TB default the exact bench row stands in
    # for. The rendered SQL parses to the identical expression tree
    # (same default accuracy literals), pinned by the parity suite.
    aggs = []
    for i, c in enumerate(cols):
        ref = _qident(c)
        dtype = dtypes[c]
        aggs += [
            F.expr(f"count({ref})").alias(f"__present_{i}"),
            F.expr(f"count(CASE WHEN {ref} IS NULL THEN 1 END)").alias(
                f"__null_{i}"
            ),
            F.expr(f"approx_count_distinct({ref}, {rsd!r}D)").alias(
                f"__distinct_{i}"
            ),
            F.expr(_stringify_sql(f"min({ref})", dtype)).alias(f"__min_{i}"),
            F.expr(_stringify_sql(f"max({ref})", dtype)).alias(f"__max_{i}"),
        ]
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            proxy = f"CAST(unix_micros(CAST({ref} AS TIMESTAMP)) AS DOUBLE)"
        elif isinstance(dtype, _NUMERIC):
            proxy = f"CAST({ref} AS DOUBLE)"
        else:
            proxy = None
        for q in quantiles:
            expr = (
                f"percentile_approx({proxy}, {q!r}D, 10000)"
                if proxy is not None
                else "max(CAST(NULL AS DOUBLE))"
            )
            aggs.append(F.expr(expr).alias(f"__{_qname(q)}_{i}"))
    # fan_out: every per-column sketch (HLL++, KLL quantiles) is built
    # in the map-side partial aggregate — one unsplittable input file
    # would compute all of them on one core (guide §2.5)
    wide = fan_out(df).agg(*aggs)

    def name_lit(c: str) -> str:
        return "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

    parts = ", ".join(
        f"{name_lit(c)}, __present_{i}, __null_{i}, __distinct_{i},"
        f" __min_{i}, __max_{i}"
        + "".join(f", __{_qname(q)}_{i}" for q in quantiles)
        for i, c in enumerate(cols)
    )
    qnames = "".join(f", {_qname(q)}" for q in quantiles)
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {parts}) AS "
            f"(column_name, n_present, n_null, n_distinct, min_value, max_value"
            f"{qnames})"
        )
    )


def _exact_profile(
    df: DataFrame, cols: list[str], n_salts: int, quantiles: list[float]
) -> DataFrame:
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    # each branch as ONE parsed expression (the simhash64 rationale:
    # ~15 Column ops per column was pure py4j construction latency);
    # the rendered SQL is token-for-token what the builders produced
    branches = []
    for c in cols:
        dtype = dtypes[c]
        name_lit = "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"
        ref = _qident(c)
        # injective string form (distinct-count key): full-precision
        # cast, NOT the display cast — decimal(18,6) would collapse
        # doubles closer than 1e-6. For floats, -0.0 == 0.0 in every
        # engine's DISTINCT but stringifies distinctly — normalize the
        # sign before the injective cast.
        sval = f"CAST({ref} AS STRING)"
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            t = dtype.simpleString()
            sval = (
                f"CAST(CASE WHEN {ref} = 0 THEN CAST(0 AS {t}) "
                f"ELSE {ref} END AS STRING)"
            )
        # EXACT order-preserving carriers for min/max — one per value
        # domain, so no value is squeezed through a lossy double:
        # integrals + timestamps ride a long (exact), floats ride a
        # double (the value itself), decimals ride decimal(38,18)
        lval = "CAST(NULL AS BIGINT)"
        dval = "CAST(NULL AS DOUBLE)"
        decval = "CAST(NULL AS DECIMAL(38,18))"
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            lval = f"unix_micros(CAST({ref} AS TIMESTAMP))"
        elif isinstance(dtype, (T.DoubleType, T.FloatType)):
            dval = f"CAST({ref} AS DOUBLE)"
        elif isinstance(dtype, T.DecimalType):
            decval = f"CAST({ref} AS DECIMAL(38,18))"
        elif isinstance(dtype, _NUMERIC):
            lval = f"CAST({ref} AS BIGINT)"
        branches.append(
            F.expr(
                f"struct({name_lit} AS column_name, {sval} AS sval, "
                f"{lval} AS lval, {dval} AS dval, {decval} AS decval)"
            )
        )

    # fan_out: the |cols|-way cell explode + map-side partial of the
    # per-value groupBy is the expensive narrow stage (guide §2.5)
    long = fan_out(df).select(
        F.explode(F.array(*branches)).alias("cell")
    ).select("cell.*")

    # phase 1: one row per distinct (column, value); the carriers are
    # constant within a group (sval is injective), min() just picks them
    per_value = long.groupBy("column_name", "sval").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lval").alias("lval"),
        F.min("dval").alias("dval"),
        F.min("decval").alias("decval"),
    )

    # phase 2a: partials per (column, salt-of-value) — distinct values
    # land in disjoint buckets, so distinct-count re-aggregates as a sum
    present = F.col("sval").isNotNull()
    salted = per_value.groupBy(
        "column_name",
        F.pmod(F.xxhash64("sval"), F.lit(n_salts)).alias("_salt"),
    ).agg(
        F.sum(F.when(present, F.col("n")).otherwise(0)).alias("n_present"),
        F.sum(F.when(~present, F.col("n")).otherwise(0)).alias("n_null"),
        F.count(F.when(present, F.lit(1))).alias("n_distinct"),
        F.min("lval").alias("lmin"),
        F.max("lval").alias("lmax"),
        F.min("dval").alias("dmin"),
        F.max("dval").alias("dmax"),
        F.min("decval").alias("decmin"),
        F.max("decval").alias("decmax"),
        F.min(F.when(present, F.col("sval"))).alias("smin"),
        F.max(F.when(present, F.col("sval"))).alias("smax"),
    )
    # phase 2b: fold the ≤ n_salts partials per column
    prof = salted.groupBy("column_name").agg(
        F.sum("n_present").alias("n_present"),
        F.sum("n_null").alias("n_null"),
        F.sum("n_distinct").alias("n_distinct"),
        F.min("lmin").alias("lmin"),
        F.max("lmax").alias("lmax"),
        F.min("dmin").alias("dmin"),
        F.max("dmax").alias("dmax"),
        F.min("decmin").alias("decmin"),
        F.max("decmax").alias("decmax"),
        F.min("smin").alias("smin"),
        F.max("smax").alias("smax"),
    )

    # per-type rendering of min/max from the matching exact carrier
    def render(bound: str) -> F.Column:
        lv = F.col(f"l{bound}")
        dv = F.col(f"d{bound}")
        decv = F.col(f"dec{bound}")
        sv = F.col(f"s{bound}")
        expr = F.lit(None).cast("string")
        for c in cols:
            dtype = dtypes[c]
            if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
                val = F.date_format(
                    F.timestamp_micros(lv), "yyyy-MM-dd HH:mm:ss"
                )
            elif isinstance(dtype, (T.DoubleType, T.FloatType)):
                val = dv.cast("decimal(18,6)").cast("string")
            elif isinstance(dtype, T.DecimalType):
                val = decv.cast(dtype.simpleString()).cast("string")
            elif isinstance(dtype, _NUMERIC):
                val = lv.cast(dtype.simpleString()).cast("string")
            else:
                val = sv
            expr = F.when(F.col("column_name") == c, val).otherwise(expr)
        return expr

    # anchor on a literal frame of column names so an EMPTY input still
    # yields one zero-count row per column (matching the approx path
    # and the per-column UNION ALL oracle shape)
    anchor = local_rows_df(
        df.sparkSession, "column_name string", [(c,) for c in cols]
    )
    out = anchor.join(prof, "column_name", "left").select(
        "column_name",
        F.coalesce(F.col("n_present"), F.lit(0)).cast("long").alias("n_present"),
        F.coalesce(F.col("n_null"), F.lit(0)).cast("long").alias("n_null"),
        F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias("n_distinct"),
        render("min").alias("min_value"),
        render("max").alias("max_value"),
    )
    if quantiles:
        # EXACT quantiles ride the per-value counts: percentile with a
        # frequency column collapses each distinct value to one row, so
        # the sort is over distincts, not cells. Caveat (documented):
        # this group is keyed by column only — a column with extreme
        # distinct cardinality should use the approx path's KLL sketch
        # instead.
        qval = F.coalesce(
            F.col("dval"),
            F.col("lval").cast("double"),
            F.col("decval").cast("double"),
        )
        qaggs = [
            F.percentile(qval, F.lit(q), F.col("n")).alias(_qname(q))
            for q in quantiles
        ]
        qprof = (
            per_value.filter(F.col("sval").isNotNull() & qval.isNotNull())
            .groupBy("column_name")
            .agg(*qaggs)
        )
        out = out.join(qprof, "column_name", "left")
    return out


def profile_columns(
    df: DataFrame,
    cols: list[str],
    *,
    exact: bool = True,
    rsd: float = 0.05,
    n_salts: int = 256,
    quantiles: list[float] | None = None,
) -> DataFrame:
    """Profile ``cols`` of ``df``. Returns one row per column:
    (column_name, n_present, n_null, n_distinct, min_value, max_value)
    with min/max stringified deterministically. ``exact=True`` runs
    the melt + two-phase salted aggregation (exact distincts, both
    shuffles skew-proof); ``exact=False`` is the single-pass HLL++
    configuration — see module docstring for the trade.

    ``quantiles`` (e.g. ``[0.5, 0.95]``) appends one double column per
    requested quantile (named ``q50``, ``q95``, ...) for numeric and
    timestamp columns (null for strings; timestamps as epoch
    microseconds). Approx path: KLL-sketch ``percentile_approx`` inside
    the same single pass. Exact path: ``percentile`` with the per-value
    frequency column, so the sort is over distinct values, not cells."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if len(set(cols)) != len(cols):
        raise ValueError("cols contains duplicates")
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    qs = list(quantiles or [])
    if any(not 0 <= q <= 1 for q in qs):
        raise ValueError("quantiles must be in [0, 1]")
    if exact:
        return _exact_profile(df, cols, n_salts, qs)
    return _approx_profile(df, cols, rsd, qs)

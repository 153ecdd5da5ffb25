"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable, with a DuckDB-equivalent ANSI-SQL
oracle string. Tier-1 (tests/test_registry.py) runs every row on Spark
and its oracle on DuckDB at sf0.001 and compares them; tools/check_oracle.py
does the same at sf0.01.

Conventions:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- double SUMs are computed as decimal(18,6) sums (exact, summation-order
  independent — double summation order differs between engines and can
  flip a rounding boundary), then rounded HALF_UP (Spark ``round`` ⟷
  DuckDB ``round``, verified identical on decimals) and cast to double.
  The reference-fidelity pipeline keeps ``bround`` (pandas half-even)
  — that distinction only matters vs the reference's golden values,
  not for cross-engine agreement;
- doubles that become strings go through decimal(18,2) first — Java and
  DuckDB double→string formatting differ (1.0E7 vs 10000000.0).

Reference-semantics queries cite the reference file:line they
re-express; extension queries are marked as such.
"""

from __future__ import annotations

import atexit
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.functions.scalar import (
    excel_serial_to_date,
    excel_serial_to_timestamp,
    money_round,
)
from py_data_pipeline_app_spark.operators.enrich import enrich_transactions
from py_data_pipeline_app_spark.operators.parse import parse_customer_blob
from py_data_pipeline_app_spark.operators.scd import apply_scd_batch
from py_data_pipeline_app_spark.sources.parquet import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_SCRATCH_DIRS: dict[str, str] = {}


def _scratch_dir(key: str) -> str:
    """Writable scratch directory for registered queries that persist
    index state (LSH/IVF indexes). The PREVIOUS invocation's directory
    for the same key is removed first — a stale index's batch-*
    subdirectories would otherwise be read back as history on re-run —
    and whatever remains is removed at interpreter exit, so repeated
    gate/bench invocations in one process leak at most one live
    directory per query."""
    import shutil
    import tempfile

    old = _SCRATCH_DIRS.pop(key, None)
    if old:
        shutil.rmtree(old, ignore_errors=True)
    path = tempfile.mkdtemp(prefix=f"{key}_")
    _SCRATCH_DIRS[key] = path
    return path


@atexit.register
def _cleanup_scratch() -> None:
    import shutil

    for p in _SCRATCH_DIRS.values():
        shutil.rmtree(p, ignore_errors=True)


def dec_sum(col: F.Column | str) -> F.Column:
    """Exact (order-independent) sum of a double column via decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)"))


def money_sum(col: F.Column | str, scale: int = 2) -> F.Column:
    """Cross-engine-deterministic rounded sum: exact decimal sum,
    HALF_UP round, double output."""
    return F.round(dec_sum(col), scale).cast("double")


def stat_avg(col: F.Column | str, scale: int = 4) -> F.Column:
    """Deterministic average: exact decimal sum → one double division
    (IEEE-deterministic) → HALF_UP round.

    Boundary caveat (measured, not hypothetical): the division is
    bit-deterministic, but rounding the double QUOTIENT differs
    between engines when its shortest decimal representation lands
    exactly on a .5 boundary one digit past ``scale`` — Java rounds
    the shortest repr up, DuckDB rounds the binary value (usually
    just below) down. With the large group counts every current user
    divides by, quotients have long expansions and the boundary
    probability is ~0 (green at sf0.001/0.01/0.1); for SMALL-count
    divisions (a 7-row moving window, a per-tiny-group mean) use the
    integer-cents formula ``(2s + n) div (2n)`` instead — see
    daily_value_trend, which hit this exact divergence at sf0.1."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(dec_sum(c).cast("double") / F.count(c), scale)


def sql_money_sum(expr: str, scale: int = 2) -> str:
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(18,6))), {scale}) AS DOUBLE)"


def sql_stat_avg(expr: str, scale: int = 4) -> str:
    return (
        f"round(CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count({expr}), {scale})"
    )


def register(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Core analytics: the reference's report pipeline mapped onto the testdata
# star schema (FIXTURES.md §F6: orders/lineitem≈transactions,
# customer≈customers, part≈products).
# ---------------------------------------------------------------------------


@register(
    "customer_spend_ranking",
    """
    SELECT c_custkey, c_name, amount,
           dense_rank() OVER (ORDER BY amount DESC) AS spend_rank
    FROM (
      SELECT c_custkey, c_name, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS amount
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
    )
    """,
)
def customer_spend_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2→P7→W1 (reference app.py:139-142): per-customer total spend,
    half-even rounded, dense-ranked descending.

    The heavy agg happens first, partitioned by customer key with
    map-side partial aggregation; the rank is then one
    ``dense_rank()`` window over the per-customer rows, the oracle's
    plan as written. Building the frame runs no job."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    totals = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(money_sum("o_totalprice").alias("amount"))
    )
    rank = F.dense_rank().over(Window.orderBy(F.col("amount").desc()))
    return totals.withColumn("spend_rank", rank)


def _category_totals_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared A1 analog: revenue per (customer, part-brand 'category').

    lineitem ⋈ orders carries the fact; customer and part are broadcast
    dims so the fact shuffles only for the final groupBy."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    return (
        li.select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("c_custkey", "c_name", "p_brand")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"))
    )


_CATEGORY_TOTALS_SQL = """
      SELECT c_custkey, c_name, p_brand,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS amount
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part     ON l_partkey = p_partkey
      GROUP BY c_custkey, c_name, p_brand
"""


@register("category_totals", _CATEGORY_TOTALS_SQL)
def category_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (reference app.py:136): 3-key hash aggregation over the
    enriched fact (J1/J2 joins included)."""
    return _category_totals_df(spark, sf_dir)


@register(
    "top_spender_per_category",
    f"""
    SELECT c_custkey, c_name, p_brand, amount
    FROM (
      SELECT *, row_number() OVER (PARTITION BY p_brand
                                   ORDER BY amount DESC, c_custkey) AS rn
      FROM ({_CATEGORY_TOTALS_SQL})
    ) WHERE rn = 1
    """,
)
def top_spender_per_category_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (reference app.py:145-146): arg-max per category with the
    deterministic first-occurrence tie-break (secondary key ascending).

    Hash-agg argmax — ``min(struct(-amount, key, …))`` — instead of a
    row_number window: partial aggregation map-side, no sort, and no
    skew from shuffling every group row into |categories| partitions."""
    ct = _category_totals_df(spark, sf_dir)
    m = F.min(
        F.struct(
            (-F.col("amount")).alias("neg_amount"),
            F.col("c_custkey").alias("c_custkey"),
            F.col("c_name").alias("c_name"),
        )
    ).alias("m")
    return (
        ct.groupBy("p_brand")
        .agg(m)
        .select(
            F.col("m.c_custkey").alias("c_custkey"),
            F.col("m.c_name").alias("c_name"),
            F.col("p_brand"),
            (-F.col("m.neg_amount")).alias("amount"),
        )
    )


@register(
    "customer_details_nested",
    f"""
    SELECT c_custkey,
           string_agg(detail, ';' ORDER BY detail) AS details
    FROM (
      SELECT c_custkey,
             p_brand || '|' || c_name || '|' ||
             CAST(CAST(amount AS DECIMAL(18,2)) AS VARCHAR) AS detail
      FROM ({_CATEGORY_TOTALS_SQL})
    )
    GROUP BY c_custkey
    """,
)
def customer_details_nested_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (reference app.py:149-151): per-customer nested drill-down.
    Serialized to a sorted joined string so the oracle hash is
    representation-independent (the real API returns
    ArrayType(StructType) — see operators.aggregates.customer_details_nested)."""
    ct = _category_totals_df(spark, sf_dir)
    detail = F.concat_ws(
        "|",
        F.col("p_brand"),
        F.col("c_name"),
        F.col("amount").cast("decimal(18,2)").cast("string"),
    )
    return (
        ct.select("c_custkey", detail.alias("detail"))
        .groupBy("c_custkey")
        .agg(F.array_join(F.sort_array(F.collect_list("detail")), ";").alias("details"))
    )


_FANOUT_CUSTOMERS_SQL = """
      SELECT c_custkey AS customer_id, c_mktsegment AS segment, 0 AS pos
      FROM customer
      UNION ALL
      SELECT c_custkey, 'DUP-' || c_mktsegment, 1
      FROM customer WHERE c_custkey % 10 = 0
"""


@register(
    "enrich_strict_vs_dedup",
    f"""
    WITH txn AS (
      SELECT o_custkey AS customer_id, l_partkey AS product_code,
             l_extendedprice * (1 - l_discount) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    customers AS ({_FANOUT_CUSTOMERS_SQL}),
    dedup_customers AS (
      SELECT customer_id, segment FROM (
        SELECT *, row_number() OVER (PARTITION BY customer_id
                                     ORDER BY pos DESC) AS rn
        FROM customers
      ) WHERE rn = 1
    )
    SELECT 'strict' AS mode, segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           {sql_money_sum('revenue')} AS revenue
    FROM txn t
    JOIN part ON t.product_code = p_partkey
    JOIN customers c ON t.customer_id = c.customer_id
    GROUP BY segment
    UNION ALL
    SELECT 'dedup', segment, CAST(count(*) AS BIGINT),
           {sql_money_sum('revenue')}
    FROM txn t
    JOIN part ON t.product_code = p_partkey
    JOIN dedup_customers c ON t.customer_id = c.customer_id
    GROUP BY segment
    """,
)
def enrich_strict_vs_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 both ways (reference app.py:132): the reference keeps
    duplicate customer_ids in the join side, fanning out and
    double-counting those customers downstream — a documented
    reference bug the engine reproduces only under
    ``strict_compat=True``, defaulting to last-write-wins dedup.

    The batch dimension plants every 10th customer twice (second
    occurrence with a 'DUP-' segment and a later sheet position), runs
    :func:`enrich_transactions` in BOTH modes over the same fact, and
    aggregates per segment: strict mode shows the fan-out (planted
    customers contribute under both segment values), dedup mode shows
    only the last occurrence. One oracle row set pins both semantics."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    customer = load_table(spark, "customer", sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("product_code")
    )
    txn = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("customer_id"),
        F.col("l_partkey").alias("product_code"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )
    base = customer.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).alias("_sheet_pos"),
    )
    dups = customer.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("customer_id"),
        F.concat(F.lit("DUP-"), F.col("c_mktsegment")).alias("segment"),
        F.lit(1).alias("_sheet_pos"),
    )
    customers = base.unionByName(dups)

    def agg(df: DataFrame, mode: str) -> DataFrame:
        return (
            df.groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                money_sum("revenue").alias("revenue"),
            )
            .select(F.lit(mode).alias("mode"), "segment", "n_rows", "revenue")
        )

    strict = enrich_transactions(txn, part, customers, strict_compat=True)
    dedup = enrich_transactions(txn, part, customers, strict_compat=False)
    return agg(strict, "strict").unionByName(agg(dedup, "dedup"))


# ---------------------------------------------------------------------------
# Parsing / scalar functions (P1/P5/P6/P7, serial dates).
# ---------------------------------------------------------------------------


@register(
    "blob_parse_roundtrip",
    """
    SELECT split_part(blob_body, '_', 1) AS customer_id,
           split_part(blob_body, '_', 2) AS name,
           split_part(blob_body, '_', 3) AS email,
           split_part(blob_body, '_', 4) AS dob,
           split_part(blob_body, '_', 5) AS address,
           split_part(blob_body, '_', 6) AS created_date
    FROM (
      SELECT substr(blob, 2, length(blob) - 2) AS blob_body
      FROM (
        SELECT CASE WHEN c_custkey % 50 = 0 THEN 'garbage line ' || c_custkey
               ELSE '{' || c_custkey || '_' || c_name || '_u' || c_custkey
                    || '@example.com_1990-01-01_addr ' || c_nationkey || '_'
                    || c_mktsegment || '}' END AS blob
        FROM customer
      )
      WHERE blob LIKE '{%' AND blob LIKE '%}'
    )
    """,
)
def blob_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 (reference app.py:93-104): the custom ``{a_b_c_d_e_f}``
    blob parser as pure native expressions, exercised by synthesizing
    blobs (including malformed ones that must be rejected) from the
    customer table."""
    customer = load_table(spark, "customer", sf_dir)
    blob = F.when(
        F.col("c_custkey") % 50 == 0,
        F.concat(F.lit("garbage line "), F.col("c_custkey").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("{"),
            F.col("c_custkey").cast("string"),
            F.lit("_"),
            F.col("c_name"),
            F.lit("_u"),
            F.col("c_custkey").cast("string"),
            F.lit("@example.com_1990-01-01_addr "),
            F.col("c_nationkey").cast("string"),
            F.lit("_"),
            F.col("c_mktsegment"),
            F.lit("}"),
        )
    )
    raw = customer.select(blob.alias("raw"), F.col("c_custkey").alias("_sheet_pos"))
    parsed, _rejects = parse_customer_blob(raw)
    return parsed.drop("_sheet_pos")


@register(
    "excel_serial_dates",
    """
    SELECT o_orderkey,
           datediff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE)) AS excel_serial,
           DATE '1899-12-30' + CAST(datediff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE)) AS INTEGER) AS date_roundtrip,
           CAST(DATE '1899-12-30'
                + CAST(datediff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE)) AS INTEGER)
                AS TIMESTAMP) + 21600 * INTERVAL 1 SECOND AS ts_roundtrip
    FROM orders
    """,
)
def excel_serial_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel serial-date codec (SURVEY.md §1.2: transaction_date is a
    serial-day int, created_date a serial float with time fraction).
    Derives serials from o_orderdate and round-trips them through the
    engine's converters."""
    orders = load_table(spark, "orders", sf_dir)
    serial = F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1899-12-30")))
    return orders.select(
        "o_orderkey",
        serial.alias("excel_serial"),
        excel_serial_to_date(serial).alias("date_roundtrip"),
        excel_serial_to_timestamp(serial.cast("double") + F.lit(0.25)).alias("ts_roundtrip"),
    )


# ---------------------------------------------------------------------------
# SCD / CDC (S6, SNK2) re-expressed set-based over the events table.
# ---------------------------------------------------------------------------


@register(
    "scd_change_log",
    """
    SELECT user_id, prev AS old_event_type, event_type AS new_event_type
    FROM (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      FROM events
    )
    WHERE prev IS NOT NULL AND prev <> event_type
    """,
)
def scd_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (reference app.py:110-123): order-aware change detection —
    each row compared against the previous occurrence of its key —
    rewritten as lag() over (key, position). The reference does this
    with a per-row SQLite point-SELECT (N+1); here it is one shuffle."""
    events = load_table(spark, "events", sf_dir)
    batch = events.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type"),
        F.col("event_id").alias("_sheet_pos"),
    )
    res = apply_scd_batch(None, batch, key="user_id", tracked="event_type")
    return res.changes.select(
        F.col("user_id").cast("long").alias("user_id"),
        "old_event_type",
        "new_event_type",
    )


@register(
    "dimension_current_state",
    """
    SELECT user_id, event_type AS last_event_type, ts AS last_ts, value AS last_value
    FROM (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dimension_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK2 last-write-wins upsert semantics (reference app.py:117-122):
    the dimension's current state is the last row per key in arrival
    order — one window, no per-row loop."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# Log-view scans (SRC5/SRC6/O2) and simple profiling groupings.
# ---------------------------------------------------------------------------


@register(
    "recent_events_top100",
    """
    SELECT event_id, ts, user_id, event_type
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
    """,
)
def recent_events_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC5/O2 (reference app.py:193-197): newest-first scan, limited.
    TakeOrderedAndProject in Spark — no full sort materialization."""
    events = load_table(spark, "events", sf_dir)
    return events.select("event_id", "ts", "user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    ).limit(100)


@register(
    "event_type_breakdown",
    """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def event_type_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling aggregation (payment_type-breakdown analog): count /
    distinct / sum / avg per enum value."""
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        money_sum("value").alias("total_value"),
        stat_avg("value").alias("avg_value"),
    )


@register(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extension: JSON property extraction from the
    events.props column, JVM-side (get_json_object)."""
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_total"),
        F.count("*").alias("n"),
    )


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity), 4) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice), 4) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the engine's headline scan+agg
    benchmark: predicate pushed to parquet, 4-column ReadSchema, partial
    aggregation, whole-stage codegen end to end."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            stat_avg("l_quantity").alias("avg_qty"),
            stat_avg("l_extendedprice").alias("avg_price"),
            stat_avg("l_discount", 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Event-time windowed operators (streaming extension, SURVEY.md §2.8).
# Each builder is a plain DataFrame function, so the batch run over the
# full events table equals the final state of the streaming run after all
# data arrives (streaming/windows.py docstring) — which is exactly what
# the DuckDB oracle checks: tumbling/sliding = time-bucket grouping,
# session = gaps-and-islands.
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.streaming.windows import (  # noqa: E402
    session_windows,
    sliding_counts,
    tumbling_counts,
)


@register(
    "tumbling_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumbling_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type — batch mode of the
    streaming operator (streaming/windows.py:tumbling_counts). Shuffles
    once on (window, key) with map-side partial aggregation; streaming
    state is bounded by the watermark horizon."""
    return tumbling_counts(
        load_table(spark, "events", sf_dir), window_dur="1 hour"
    )


@register(
    "sliding_counts",
    """
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events
    FROM (
      SELECT event_type,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start
      FROM events
    )
    GROUP BY 1, 2, 3
    """,
)
def sliding_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/30-minute windows per event_type: each event lands
    in exactly dur/slide = 2 windows (the oracle materializes both window
    starts per event and groups)."""
    return sliding_counts(
        load_table(spark, "events", sf_dir), window_dur="1 hour", slide="30 minutes"
    )


@register(
    "session_windows",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    isl AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '5 minutes' AS session_end,
           user_id,
           count(*) AS n_events
    FROM isl GROUP BY user_id, sid
    """,
)
def session_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) per user — the native
    session_window operator; in batch mode identical to the
    gaps-and-islands computation the oracle runs (a session's end is
    last-event + gap, and a new session starts when the gap to the
    previous event is >= the gap duration, matching Spark's
    half-open [start, end) merge rule)."""
    return session_windows(
        load_table(spark, "events", sf_dir), gap="5 minutes", key="user_id"
    )


# ---------------------------------------------------------------------------
# Training-data extensions: deduplication (exact / MinHash+LSH / SimHash /
# n-gram Jaccard), embedding similarity, text analysis. No reference
# evidence — these are the corpus-curation operators a 100 TB pipeline
# needs (BASELINE.json north star). All hashing is md5-derived so the
# DuckDB oracles reproduce it bit-for-bit (functions/text.py).
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators.dedup import (  # noqa: E402
    connected_components,
    connected_components_star,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from py_data_pipeline_app_spark.operators.dedup_incremental import (  # noqa: E402
    incremental_lsh_fold,
)
from py_data_pipeline_app_spark.operators.similarity import (  # noqa: E402
    _deterministic_hyperplanes,
    brute_force_topk,
    embedding_near_dup_pairs,
    hyperplane_lsh_near_dup_pairs,
    ivf_topk,
)
from py_data_pipeline_app_spark.functions import text as TXT  # noqa: E402

_SQL_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_SQL_WS = "string_split_regex(trim(text), '\\s+')"


@register(
    "dedup_exact",
    f"""
    SELECT md5({_SQL_NORM}) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5 of normalized text — one
    shuffle on a 16-byte key, full map-side partial aggregation."""
    return exact_dedup(load_table(spark, "documents", sf_dir))


_NGRAM_PAIR_CTES = f"""toks AS (SELECT doc_id, {_SQL_WS} AS ws FROM documents),
    sh0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(ws)-2, 1)+1),
               i -> list_aggregate(ws[i:i+2], 'string_agg', ' ')))) AS shingle
      FROM toks
    ),
    keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    njpairs AS (
      SELECT id_a, id_b,
             round(nc::DOUBLE / (sa.n + sb.n - nc), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE nc::DOUBLE / (sa.n + sb.n - nc) >= 0.5
    )"""


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_NGRAM_PAIR_CTES}
    SELECT id_a, id_b, jaccard FROM njpairs
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup pairs (threshold 0.5) via the
    inverted-index self-join — candidates come from shared shingles,
    never a cross join. ``max_df=100`` drops stop-shingles (boilerplate
    lines shared by >100 docs): each shingle's candidate pairs grow as
    df², so one viral line otherwise dominates the shuffle at corpus
    scale. The oracle mirrors the cap, so the comparison stays exact.
    ``cross_corpus_decontamination`` runs the same
    shingle→inverted-index→Jaccard chain against a second corpus."""
    return ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), n=3, threshold=0.5, max_df=100
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH s AS (
      SELECT doc_id,
             md5(list_aggregate(list_sort(list_distinct({_SQL_WS})),
                 'string_agg', ' ')) AS k
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0::DOUBLE AS jaccard
    FROM s a JOIN s b ON a.k = b.k AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands) near-dup pairs at threshold
    1.0 with exact verification. Recall is provably 1.0 at this
    threshold (identical word sets ⇒ identical signatures ⇒ collide in
    every band), so the oracle is the set-identity self-join; lower
    thresholds (probabilistic regime) are covered by tests."""
    return minhash_dedup_pairs(
        load_table(spark, "documents", sf_dir), threshold=1.0
    )


@register(
    "dedup_incremental_lsh",
    f"""
    WITH s AS (
      SELECT doc_id,
             md5(list_aggregate(list_sort(list_distinct({_SQL_WS})),
                 'string_agg', ' ')) AS k
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0::DOUBLE AS jaccard
    FROM s a JOIN s b ON a.k = b.k AND a.doc_id < b.doc_id
    """,
)
def dedup_incremental_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index fold (operators/dedup_incremental.py):
    the corpus arrives as TWO batches split by doc_id parity, each
    folded against a persisted band index — history is touched only
    through the (band, bucket) equi-join, never re-LSHed. The union of
    the per-fold emissions must equal one batch LSH run over the whole
    corpus, so the oracle is the SAME set-identity self-join as
    ``dedup_minhash_lsh`` (recall is provably 1.0 at threshold 1.0).
    A green row here IS the batch-vs-incremental parity check, value-
    hashed cross-engine.

    Note the two folds run EAGER index writes at plan-construction
    time; only the returned pairs union is lazy — so a harness that
    times collect-only underestimates this query relative to purely
    lazy ones (perfbench's ``query_mix`` times plan construction and
    execution separately, which bills the folds to construction)."""
    docs = load_table(spark, "documents", sf_dir)
    index = _scratch_dir("lsh_index")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    p1 = incremental_lsh_fold(
        spark, index, even, threshold=1.0, batch_token="even"
    )
    p2 = incremental_lsh_fold(
        spark, index, odd, threshold=1.0, batch_token="odd"
    )
    return p1.unionByName(p2)


@register(
    "cross_corpus_decontamination",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_WS} AS ws FROM documents),
    sh0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(ws)-2, 1)+1),
               i -> list_aggregate(ws[i:i+2], 'string_agg', ' ')))) AS shingle
      FROM toks
    ),
    u AS (
      SELECT doc_id AS _id, shingle, 0 AS _side FROM sh0
      UNION ALL
      SELECT doc_id, shingle, 1 FROM sh0 WHERE doc_id % 5 = 0
    ),
    keep AS (SELECT shingle FROM u GROUP BY shingle HAVING count(*) <= 100),
    sh AS (SELECT u.* FROM u JOIN keep USING (shingle)),
    sizes_l AS (SELECT _id, count(*) AS n FROM sh WHERE _side = 0 GROUP BY 1),
    sizes_r AS (SELECT _id, count(*) AS n FROM sh WHERE _side = 1 GROUP BY 1),
    inter AS (
      SELECT l._id AS id_left, r._id AS id_right, count(*) AS nc
      FROM sh l JOIN sh r ON l.shingle = r.shingle
      WHERE l._side = 0 AND r._side = 1
      GROUP BY 1, 2
    )
    SELECT id_left, id_right,
           round(nc::DOUBLE / (sl.n + sr.n - nc), 6) AS jaccard
    FROM inter
    JOIN sizes_l sl ON id_left = sl._id
    JOIN sizes_r sr ON id_right = sr._id
    WHERE nc::DOUBLE / (sl.n + sr.n - nc) >= 0.5
      AND id_left <> id_right
    """,
)
def cross_corpus_decontamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination between two corpora
    (operators/dedup.cross_corpus_ngram_jaccard): every 5th document
    plays the held-out benchmark, and the query finds training docs
    whose trigram Jaccard with a benchmark doc is ≥ 0.5 — paraphrase-
    level leakage that exact n-gram matching
    (benchmark_decontamination) misses. Inverted-index shape: one
    shingle groupBy with per-side posting lists, candidates =
    left×right within a shingle only, combined-df stop-shingle cap at
    100. Identity pairs are dropped (the benchmark is carved from the
    corpus here)."""
    from py_data_pipeline_app_spark.operators.dedup import (
        cross_corpus_ngram_jaccard,
    )

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    return cross_corpus_ngram_jaccard(
        docs, bench, n=3, threshold=0.5, max_df=100
    ).filter(F.col("id_left") != F.col("id_right"))


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_NGRAM_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM njpairs
      UNION
      SELECT id_b, id_a FROM njpairs
    ),
    reach(node, m) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src
    )
    SELECT node AS doc_id, least(node, min(m)) AS component_id
    FROM reach GROUP BY node
    """


@register("dedup_cluster_assignment", _CLUSTER_ORACLE)
def dedup_cluster_assignment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS: connected components of
    the trigram-Jaccard pair graph by iterative min-label propagation
    (operators.dedup.connected_components) — the step that picks one
    canonical document per duplicate group, honoring transitive chains
    (a~b, b~c ⇒ one cluster even without a~c). The oracle computes the
    true transitive closure with a recursive CTE, so the iterative
    Spark algorithm is value-checked against exact reachability."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), n=3, threshold=0.5, max_df=100
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component_id")
    )


@register("dedup_cluster_assignment_star", _CLUSTER_ORACLE)
def dedup_cluster_assignment_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as ``dedup_cluster_assignment`` but via
    the O(log n)-round large-star/small-star algorithm
    (operators.dedup.connected_components_star) — the variant for
    graphs whose components can be long CHAINS (temporal drift,
    transcript families), where min-label propagation needs diameter
    rounds. Identical oracle: both must reproduce exact transitive
    reachability, so the two algorithms are pinned to each other
    cross-engine."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), n=3, threshold=0.5, max_df=100
    )
    return connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component_id")
    )


def _simhash_oracle() -> str:
    votes = ",\n             ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(60)
    )
    packed = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN {2**j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(60)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_SQL_WS})) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
      FROM tok
    ),
    votes AS (
      SELECT doc_id, {votes}
      FROM h GROUP BY doc_id
    ),
    sh AS (SELECT doc_id, {packed} AS simhash FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 over 60-bit hashes), blocked
    by the pigeonhole principle on 4×15-bit segments — the oracle brute
    forces all pairs (fine at sf0.01); the Spark plan only compares
    segment-collision candidates."""
    return simhash_near_dup_pairs(
        load_table(spark, "documents", sf_dir), max_hamming=3, chunks=4
    )


_SQL_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)


def _sql_cos(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _hyperplane_oracle(
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
    corpus_sql: str = "embeddings",
) -> str:
    """DuckDB mirror of hyperplane_lsh_near_dup_pairs: same xorshift
    hyperplanes, same sequential-fold projections, same band keys, same
    verification cosine — the oracle checks the LSH algorithm itself,
    not an approximation of it (its recall vs exact is probabilistic by
    design and asserted in tests instead). ``corpus_sql`` is the
    relation the pairs are computed over (a table name or a
    parenthesized subquery aliased to expose vec_id + embedding)."""
    planes = _deterministic_hyperplanes(dim, n_planes)
    bit_exprs = []
    for pi, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(c) for c in plane) + "]"
        dot = (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> embedding[i]::DOUBLE * ({lit})[i]), (x, y) -> x + y)"
        )
        bit_exprs.append(f"(CASE WHEN {dot} > 0 THEN 1 ELSE 0 END) AS b{pi}")
    r = n_planes // bands
    band_selects = [
        "SELECT vec_id, {b} AS band, {key} AS bucket FROM proj".format(
            b=bi, key=" || ".join(f"b{bi * r + j}::VARCHAR" for j in range(r))
        )
        for bi in range(bands)
    ]
    cos = _sql_cos("ea.embedding", "eb.embedding")
    return f"""
    WITH corpus AS (SELECT * FROM {corpus_sql}),
    proj AS (SELECT vec_id, {", ".join(bit_exprs)} FROM corpus),
    bands AS ({" UNION ALL ".join(band_selects)}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round({cos}, 9) AS cos_sim
    FROM cand
    JOIN corpus ea ON id_a = ea.vec_id
    JOIN corpus eb ON id_b = eb.vec_id
    WHERE round({cos}, 9) >= {threshold}
    """


# The sf corpora are random unit vectors with no high-cosine pairs (the
# densest exact pair at sf0.01 is ~0.51), so the high-threshold regime
# needs planted near-dups to verify anything: every 10th vector gets a
# perturbed copy (id + 1_000_000, +0.02·((i mod 5) − 2) per 1-based
# coordinate i — cosine ≈ 0.975 to its source, still ~random vs
# everything else). Both engines compute the identical IEEE arithmetic,
# so the planted corpus is bit-reproducible cross-engine.
_PLANTED_CORPUS_SQL = """(
  SELECT vec_id,
         list_transform(range(1, 65), i -> embedding[i]::DOUBLE) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, 65),
                        i -> embedding[i]::DOUBLE + 0.02 * ((i % 5)::DOUBLE - 2.0))
  FROM embeddings WHERE vec_id % 10 = 0
)"""


def _with_planted_near_dups(emb: DataFrame) -> DataFrame:
    """Spark twin of _PLANTED_CORPUS_SQL: same ids, same perturbation
    arithmetic (double cast → same 0.02·((i mod 5) − 2) delta, same
    operation order), so vectors are bit-identical to the oracle's."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.lit(0.02) * (((i + 1) % 5).cast("double") - F.lit(2.0)),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


@register(
    "embedding_near_dup",
    _hyperplane_oracle(
        bands=4, threshold=0.9, corpus_sql=_PLANTED_CORPUS_SQL
    ),
)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.9) via random-hyperplane
    LSH in the HIGH-threshold configuration real dedup runs in:
    32 planes / 4×8-bit bands. Candidates come from banded sign-pattern
    buckets (grouped expansion, chunk-capped), exact cosine
    verification touches candidates only — never an all-pairs join.

    This is the production regime: 8-bit bands admit ~1.6% of random
    pairs as candidates and recall RISES with the pair's cosine
    (≈ 0.96 at the planted 0.975, → 1 at 1.0). Be precise about what
    that buys: a CONSTANT admission fraction is still quadratic in N,
    just with a small constant — the 10× rehearsal measures this
    config's total-wall ratio in BENCH_sf1.json (×5-9 across refreshes
    at the 20k-vector decade, vs immediate candidate blow-up for the
    low-threshold study registered as embedding_near_dup_lowt). The
    scale play at each new
    decade is to RE-SIZE the banding (lsh_config_for: more bits per
    band as N grows, planes raised to hold recall) so bucket occupancy
    stays constant; the rehearsal's followup_lsh_scaled entry measures
    exactly that variant. Fixed configs are pinned here because the
    oracle must replay the banding bit-for-bit.
    The sf corpora have no natural high-cosine pairs, so the query
    plants deterministic perturbed copies (cosine ≈ 0.975) of every
    10th vector — the oracle replays planting, hyperplanes, band keys
    and verification bit-for-bit."""
    return hyperplane_lsh_near_dup_pairs(
        _with_planted_near_dups(load_table(spark, "embeddings", sf_dir)),
        dim=64,
        threshold=0.9,
        n_planes=32,
        bands=4,
    )


@register("embedding_near_dup_lowt", _hyperplane_oracle())
def embedding_near_dup_lowt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOW-threshold (≥ 0.4) hyperplane-LSH recall study — 32 planes /
    8×4-bit bands, the config whose measured recall at this data's
    low-similarity regime is 0.81 (vs 0.10 for the 8-bit bands the
    headline uses). Kept as a registered study, NOT the scale path:
    at 0.4 every banding admits a constant fraction of random pairs
    (the threshold is barely above the orthogonal regime p = 0.5), so
    the candidate set grows quadratically — ×7.6 wall at the 10×
    rehearsal. Production dedup thresholds (≥ 0.85) belong to
    embedding_near_dup's configuration."""
    return hyperplane_lsh_near_dup_pairs(
        load_table(spark, "embeddings", sf_dir),
        dim=64,
        threshold=0.4,
        n_planes=32,
        bands=8,
    )


@register(
    "embedding_near_dup_exact",
    f"""
    WITH sample AS (SELECT * FROM embeddings WHERE vec_id % 8 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos('a.embedding', 'b.embedding')}, 9) AS cos_sim
    FROM sample a JOIN sample b ON a.vec_id < b.vec_id
    WHERE round({_sql_cos('a.embedding', 'b.embedding')}, 9) >= 0.25
    """,
)
def embedding_near_dup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.25), exact all-pairs over a
    deterministic 1-in-8 corpus sample — the O(N²) correctness baseline
    the LSH path's recall is measured against. Evaluation-scale only by
    design (ground truth on a sample, like any ANN recall protocol);
    the registered scale path is embedding_near_dup."""
    return embedding_near_dup_pairs(
        load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") % 8 == 0),
        threshold=0.25,
    )


@register(
    "benchmark_semantic_decontamination",
    f"""
    WITH pc AS (SELECT * FROM {_PLANTED_CORPUS_SQL} pc0),
    b AS (SELECT vec_id AS bid, embedding AS bvec FROM pc WHERE vec_id < 16),
    c AS (SELECT vec_id, embedding FROM pc WHERE vec_id >= 16)
    SELECT vec_id, nearest_benchmark_id, benchmark_cos,
           benchmark_cos < 0.9 AS kept
    FROM (
      SELECT c.vec_id, b.bid AS nearest_benchmark_id,
             round({_sql_cos('c.embedding', 'b.bvec')}, 9) AS benchmark_cos,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY round({_sql_cos('c.embedding', 'b.bvec')}, 9) DESC,
                        b.bid
             ) AS rn
      FROM c CROSS JOIN b
    ) WHERE rn = 1
    """,
)
def benchmark_semantic_decontamination_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDING-space benchmark decontamination
    (operators/similarity.embedding_decontamination): the third
    decontamination rung after verbatim 5-grams
    (benchmark_decontamination) and trigram Jaccard
    (cross_corpus_decontamination) — a reworded eval question shares
    no n-gram mass with its source but its embedding barely moves.
    Every corpus vector gets its nearest benchmark vector (9dp cosine,
    ties to the lowest benchmark id) and kept = cos < 0.9. Benchmark =
    vec_ids < 16; the corpora have no natural high-cosine pairs, so
    the query reuses the planted perturbed copies
    (_with_planted_near_dups) — the planted twins of benchmark members
    land ≈ 0.975 and are flagged, every other row (including planted
    twins of NON-benchmark vectors) stays kept, so both branches are
    value-checked. Scale shape: the benchmark set collects once and
    rides the plan as a matrix literal; scoring is a zero-shuffle
    projection at scan cost — the corpus never crosses an Exchange."""
    from py_data_pipeline_app_spark.operators.similarity import (
        embedding_decontamination,
    )

    planted = _with_planted_near_dups(load_table(spark, "embeddings", sf_dir))
    return embedding_decontamination(
        planted.filter(F.col("vec_id") >= 16),
        planted.filter(F.col("vec_id") < 16),
        threshold=0.9,
    )


def _semantic_dedup_oracle(
    n_centroids: int = 16, threshold: float = 0.9, cents_where: str = ""
) -> str:
    """DuckDB mirror of the full semantic_dedup computation: planted
    corpus, md5-ordered centroid sample, argmax assignment, and the
    greedy lowest-id-survivor rule as a NOT EXISTS — every step
    deterministic, so the pruning decision value-hashes exactly.
    ``cents_where`` restricts the centroid SAMPLE (not the corpus) —
    the incremental-index oracle draws centroids from the initial
    build batch only, because appends never move centroids."""
    cos_ec = _sql_cos("e.embedding", "c.cvec")
    cos_ab = _sql_cos("a.embedding", "b.embedding")
    return f"""
    WITH corpus AS (SELECT * FROM {_PLANTED_CORPUS_SQL}),
    hk AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
               AS _hk
      FROM corpus {cents_where}
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY _hk) - 1 AS centroid_id, embedding AS cvec
      FROM hk ORDER BY _hk LIMIT {n_centroids}
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE round({cos_ab}, 9) >= {threshold}
    )
    SELECT s.vec_id, CAST(s.centroid_id AS INT) AS centroid_id,
           d.id_b IS NULL AS kept
    FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.id_b
    """


@register("semantic_dedup", _semantic_dedup_oracle(n_centroids=128))
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity
    semantic_dedup, after the public Abbas et al. 2023 recipe): cluster
    the planted corpus into 16 coarse buckets (zero-shuffle argmax
    assignment), generate candidate pairs only within clusters, drop
    every vector with a lower-id near-duplicate at cosine ≥ 0.9. The
    planted perturbed copies (cosine ≈ 0.975 to their sources) are the
    semantic duplicates being pruned; the oracle replays clustering,
    assignment and the greedy survivor rule exactly.

    Every within-cluster pair is compared (the exact kept-rule of
    operators/similarity.semantic_dedup). k is PINNED at
    128 for the oracle (any pinned k is quadratic in N eventually —
    production picks k ∝ N/target_cluster_size), chosen over the
    earlier k=16 as the scale-first trade, stated honestly: at sf0.1
    the 8×-wider assignment fold costs MORE than the pair-mass
    reduction saves (~3.5 s → ~8.5 s in cold bench context; warm
    cached runs flip the sign, which is why one micro-benchmark is
    not a decision), but by the 10× decade pair mass dominates and
    k=128 wins absolutely (15.3 s vs 18.5 s) with ratio ×2.4 instead
    of ×7.2 — and the gap widens every decade after.
    BENCH_sf1.json's followup_semantic_scaled measures the fully
    scaled-k variant, and its note explains when each regime wins."""
    from py_data_pipeline_app_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _with_planted_near_dups(load_table(spark, "embeddings", sf_dir)),
        threshold=0.9,
        n_centroids=128,
    )


@register(
    "semantic_dedup_incremental",
    _semantic_dedup_oracle(
        n_centroids=128, cents_where="WHERE vec_id < 1000000"
    ),
)
def semantic_dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup lifecycle (operators.similarity
    build_semantic_index → semantic_index_append →
    semantic_index_state): the original corpus is indexed once
    (centroids drawn from it, kept verdicts persisted partitioned by
    cluster), then the planted near-dup copies arrive as a re-crawl
    batch with strictly higher ids — assigned against the FROZEN
    centroids and compared against within-cluster history only (work
    ∝ batch, partition-pruned to the batch's clusters), landing under
    an idempotent ``appends/batch-{token}`` directory. The oracle is
    the full :func:`semantic_dedup` rebuild over the merged corpus
    with the same centroid sample (restricted to the build batch,
    because appends never move centroids) — a green row IS the
    append-vs-rebuild parity contract. Index writes are eager at
    plan-construction time; the returned state frame is lazy (same
    timing asymmetry as dedup_incremental_lsh)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_semantic_index,
        semantic_index_append,
        semantic_index_state,
    )

    corpus = _with_planted_near_dups(load_table(spark, "embeddings", sf_dir))
    index = _scratch_dir("semantic_index")
    base = corpus.filter(F.col("vec_id") < 1000000)
    batch = corpus.filter(F.col("vec_id") >= 1000000)
    # files_per_bucket=1: one keyed shuffle of the index rows buys one
    # file per bucket instead of (tasks × buckets) small files — the
    # write AND every later state read get faster (measured 16.9 s →
    # 13.3 s for the whole lifecycle at sf0.1); at 100 TB size it as
    # bucket_bytes / target_file_size instead of 1
    build_semantic_index(
        base, index, threshold=0.9, n_centroids=128, files_per_bucket=1
    )
    semantic_index_append(spark, index, batch, batch_token="recrawl")
    return semantic_index_state(spark, index)


@register(
    "semantic_dedup_reordered",
    _semantic_dedup_oracle(
        n_centroids=128, cents_where="WHERE (vec_id % 4) <> 0"
    ),
)
def semantic_dedup_reordered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECOMPUTE-mode semantic append (operators.similarity
    semantic_index_append ``allow_reorder=True``): the index is built
    over three quarters of the planted corpus, then every fourth id —
    including the GLOBAL MINIMUM, so the batch interleaves strictly
    below history ids and the monotone guard trips — arrives as one
    out-of-order batch. Instead of refusing, the append re-verdicts
    ONLY the batch's clusters under the full rebuild rule (partition-
    pruned read, staged per-cluster directory swap, consumed-token
    idempotence) and leaves untouched clusters unrewritten; pending
    appends stay in place, with exclusion markers for the clusters
    whose rows moved into the base. History verdicts in affected
    clusters can flip — exactly what the monotone fast path
    (semantic_dedup_incremental, its oracle-backed twin) forbids. The
    oracle is the full semantic_dedup rebuild over the merged corpus
    with centroids drawn from the build subset — a green row IS the
    reorder-vs-rebuild parity contract."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_semantic_index,
        semantic_index_append,
        semantic_index_state,
    )

    corpus = _with_planted_near_dups(load_table(spark, "embeddings", sf_dir))
    index = _scratch_dir("semantic_reorder")
    base = corpus.filter(F.col("vec_id") % 4 != 0)
    batch = corpus.filter(F.col("vec_id") % 4 == 0)
    build_semantic_index(
        base, index, threshold=0.9, n_centroids=128, files_per_bucket=1
    )
    semantic_index_append(
        spark, index, batch, batch_token="backfill", allow_reorder=True
    )
    return semantic_index_state(spark, index)


@register(
    "embedding_cluster_profile",
    f"""
    WITH hk AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
               AS _hk
      FROM embeddings
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY _hk) - 1 AS centroid_id, embedding AS cvec
      FROM hk ORDER BY _hk LIMIT 16
    ),
    acent AS (
      SELECT vec_id, centroid_id, embedding FROM (
        SELECT e.vec_id, c.centroid_id, e.embedding,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC,
                                           c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    norms AS (
      SELECT centroid_id, vec_id,
             CAST(CAST(sqrt({_SQL_DOT.format(a='embedding', b='embedding')})
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS nmicro
      FROM acent
    ),
    agg AS (
      SELECT centroid_id,
             CAST(count(*) AS BIGINT) AS n_members,
             min(vec_id) AS exemplar_id,
             sum(nmicro) AS smicro
      FROM norms GROUP BY centroid_id
    ),
    tot AS (SELECT sum(n_members) AS total FROM agg)
    SELECT CAST(centroid_id AS INT) AS centroid_id, n_members,
           CAST((2 * n_members * 1000000 + total) // (2 * total) AS DOUBLE)
             / 1000000 AS member_share,
           exemplar_id,
           CAST((2 * smicro + n_members) // (2 * n_members) AS DOUBLE)
             / 1000000 AS mean_norm
    FROM agg CROSS JOIN tot
    """,
)
def embedding_cluster_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level corpus map (operators/similarity cluster_profile):
    per coarse cluster the member count and share, the lowest-id
    exemplar, and the mean embedding L2 norm — the statistics a
    curation planner reads before setting per-cluster dedup budgets or
    mixture weights (Abbas et al. 2023 size their SemDeDup pruning
    from exactly this shape; a norm-outlier cluster pools encoder
    failures the row-level outlier scan sees one at a time). ONE
    zero-shuffle argmax assignment + ONE keyed agg with map-side
    partials; the divisions run over the k-row result in integer
    round-half-up micro-units (the daily_value_trend pattern), so
    every value hashes cross-engine."""
    from py_data_pipeline_app_spark.operators.similarity import (
        cluster_profile,
    )

    return cluster_profile(
        load_table(spark, "embeddings", sf_dir), n_centroids=16
    )


@register(
    "similarity_topk",
    f"""
    SELECT query_id, vec_id, score, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round({_sql_cos('c.embedding', 'q.embedding')}, 9) AS score,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_sql_cos('c.embedding', 'q.embedding')}, 9) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) q
    ) WHERE rank <= 5
    """,
)
def similarity_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: broadcast the
    query set, scan the corpus once (never shuffled), rank per query."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5)


def _ivf_oracle(
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    cents_src: str = "embeddings",
    deleted: str | None = None,
) -> str:
    """DuckDB mirror of the FULL ivf_topk computation — md5-ordered
    centroid sample, argmax bucket assignment, nprobe probing, rounded
    scores — not an approximation of it. Every step is deterministic
    (md5_long hash order; sequential-fold cosine is bit-identical
    across engines), so the approximate operator still gets a full
    value-hash check; its recall vs brute force is asserted in tests.
    ``cents_src`` is the relation the centroid sample is drawn from —
    the full corpus for build-everything queries, the initial batch for
    the incremental-append parity query (appends never move
    centroids). ``deleted`` is a predicate over ``a`` (the assigned
    corpus rows) naming tombstoned ids: deletion filters index rows
    and nothing else — centroids and the assignment of the survivors
    are untouched, exactly the ivf_index_delete contract."""
    cos_ec = _sql_cos("e.embedding", "c.cvec")
    cos_qc = _sql_cos("q.embedding", "c.cvec")
    cos_aq = _sql_cos("a.embedding", "p.qvec")
    del_where = f"WHERE NOT ({deleted})" if deleted else ""
    return f"""
    WITH hk AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
               AS _hk
      FROM {cents_src}
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY _hk) - 1 AS centroid_id, embedding AS cvec
      FROM hk ORDER BY _hk LIMIT {n_centroids}
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cents c
      ) WHERE rn <= {nprobe}
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT p.query_id, a.vec_id,
             round({cos_aq}, 9) AS score,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY round({cos_aq}, 9) DESC, a.vec_id) AS rank
      FROM assigned a JOIN probes p USING (centroid_id)
      {del_where}
    ) WHERE rank <= {k}
    """


@register("similarity_topk_ivf", _ivf_oracle())
def similarity_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-5 (16 coarse buckets, nprobe 4):
    scans ~nprobe/n_centroids of the corpus per query. Approximate by
    construction — the oracle replays the same deterministic IVF
    computation (md5_long centroid sample); recall vs the exact
    baseline is asserted in tests."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)


@register("similarity_topk_ivf_indexed", _ivf_oracle())
def similarity_topk_ivf_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 against a PERSISTED index (operators.similarity
    build_ivf_index): the corpus+assignment table is written
    partitioned by centroid_id, and probing pushes the probed bucket
    ids as a literal partition filter — un-probed buckets cost zero
    I/O, and the one-pass assignment is paid at build time, not per
    query batch. Bit-identical to ivf_topk (same md5-ordered
    centroids), so it shares the full-value oracle. The index build is
    an EAGER write at plan-construction time; the probe frame is lazy
    (same timing asymmetry note as dedup_incremental_lsh)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    index = _scratch_dir("ivf_index")
    build_ivf_index(emb, index, n_centroids=16, files_per_bucket=1)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_indexed(spark, index, queries, k=5, nprobe=4)


@register(
    "similarity_topk_ivf_appended",
    _ivf_oracle(
        cents_src="(SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
        deleted="a.vec_id % 7 = 3",
    ),
)
def similarity_topk_ivf_appended_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index lifecycle (operators.similarity): build →
    append → delete → probe, value-hashed end-to-end. The index is
    built from the even-id half of the corpus (centroids drawn from
    that initial batch — appends never move centroids), the odd-id
    half arrives later and is assigned against the persisted centroids
    only (work ∝ batch, no corpus rebuild), landing as an idempotent
    ``appends/batch-{token}`` partition-pruned directory; then the
    ids ≡ 3 (mod 7) — spanning base AND append — are tombstoned via
    ivf_index_delete, which probes must exclude immediately with no
    index rewrite. Probing must equal one full build over the whole
    corpus with the same centroids minus the deleted ids — the oracle
    computes exactly that (centroid sample restricted to even ids,
    assignment over everything, deleted rows filtered at rank time),
    so a green row IS the append-vs-rebuild parity check AND the
    delete-visibility check, cross-engine.

    Note the index build + append + delete are EAGER writes at
    plan-construction time; the returned probe frame is lazy (same
    timing asymmetry as dedup_incremental_lsh)."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_delete,
        ivf_topk_indexed,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    index = _scratch_dir("ivf_append")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    build_ivf_index(even, index, n_centroids=16, files_per_bucket=1)
    ivf_index_append(spark, index, odd, batch_token="odd")
    ivf_index_delete(
        spark, index, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_indexed(spark, index, queries, k=5, nprobe=4)


def _pq_oracle(m: int = 8, ksub: int = 16, dim: int = 64, k: int = 5) -> str:
    """DuckDB mirror of the FULL pq_topk computation (operators/
    quantization): md5-ordered codebook sample, per-subspace argmin
    encode (sequential-fold L2², lowest-code tie-break), the
    reconstruction norm folded over the flattened 64-element codeword
    concatenation in subspace order (NOT per-subspace partials — float
    addition is non-associative, the fold order is part of the
    contract), and ADC scores folded in ascending-subspace order.
    Every step deterministic, so the approximate operator gets a
    full-value hash check; recall vs exact is asserted in tests.

    list_reduce has no explicit init but Spark's aggregate starts at
    0.0, and 0.0 + v1 == v1 exactly, so the two folds agree
    bit-for-bit."""
    dsub = dim // m
    l2sq = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), "
        f"i -> (e.embedding[c.sub_id*{dsub}+i]::DOUBLE - c.codeword[i]) * "
        f"(e.embedding[c.sub_id*{dsub}+i]::DOUBLE - c.codeword[i])), (x, y) -> x + y)"
    )
    qdot = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), "
        f"i -> q.embedding[n.sub_id*{dsub}+i]::DOUBLE * n.codeword[i]), "
        "(x, y) -> x + y)"
    )
    qnorm = "sqrt(" + _SQL_DOT.format(a="q.embedding", b="q.embedding") + ")"
    return f"""
    WITH hk AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
               AS _hk
      FROM embeddings
    ),
    cbrows AS (
      SELECT row_number() OVER (ORDER BY _hk) - 1 AS code_id, embedding AS cvec
      FROM hk ORDER BY _hk LIMIT {ksub}
    ),
    cb AS (
      SELECT s.s AS sub_id, code_id,
             list_transform(range(s.s*{dsub}+1, s.s*{dsub}+{dsub}+1),
                            i -> cvec[i]::DOUBLE) AS codeword
      FROM cbrows, (SELECT unnest(range(0, {m})) AS s) s
    ),
    enc AS (
      SELECT vec_id, sub_id, code_id, codeword FROM (
        SELECT e.vec_id, c.sub_id, c.code_id, c.codeword,
               row_number() OVER (PARTITION BY e.vec_id, c.sub_id
                                  ORDER BY {l2sq}, c.code_id) AS rn
        FROM embeddings e CROSS JOIN cb c
      ) WHERE rn = 1
    ),
    norms AS (
      SELECT vec_id,
             sqrt(list_reduce(
               list_transform(flatten(list(codeword ORDER BY sub_id)),
                              x -> x * x),
               (x, y) -> x + y)) AS approx_norm
      FROM enc GROUP BY vec_id
    ),
    qd AS (
      SELECT q.vec_id AS query_id, n.vec_id, n.sub_id, {qnorm} AS _qnorm,
             {qdot} AS qd
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN enc n
    ),
    scored AS (
      SELECT query_id, vec_id,
             round(list_reduce(list(qd ORDER BY sub_id), (x, y) -> x + y)
                   / (any_value(_qnorm) * any_value(nm.approx_norm)), 9) AS score
      FROM qd JOIN norms nm USING (vec_id)
      GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register("similarity_topk_pq", _pq_oracle())
def similarity_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 (operators/quantization, after Jégou
    et al. 2011's public recipe): the corpus is compressed to m=8
    one-byte codes + a shared 8×16 codebook (~32× fewer scan bytes
    than exact), queries precompute an 8×16 dot-product table once and
    score each row with 8 lookups instead of 64 multiplies. The
    codebook is a deterministic md5-ordered sample, so the oracle
    replays the whole computation — pick, encode, reconstruction
    norms, ADC fold — value-for-value; recall vs the exact baseline is
    asserted in tests (approximate by construction)."""
    from py_data_pipeline_app_spark.operators.quantization import pq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, m=8, ksub=16, dim=64, k=5)


def _ivfpq_oracle(
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    k: int = 5,
    sample_src: str = "embeddings",
    deleted: str | None = None,
    rerank_from: int | None = None,
) -> str:
    """DuckDB mirror of the FULL ivfpq_topk computation: the md5-ordered
    centroid pick + argmax bucket assignment + nprobe probing of
    _ivf_oracle composed with the RESIDUAL codebook pick + per-subspace
    residual encode + ordered ADC fold — scoring restricted to each
    query's probed buckets. Codes quantize ``r = x − q1(x)`` (IVFADC,
    Jégou et al. 2011 §V): the codebook sample is the residuals of the
    same md5-ordered rows, ``approx_norm`` is ‖q1(x) + q2(r)‖, and the
    score numerator decomposes as ``q·q1(x) + Σ_s qtab[s][code_s]``
    with the first term exact per (query, centroid). Every step
    deterministic; recall vs exact asserted in tests. ``sample_src``
    is the relation BOTH deterministic samples (centroids and residual
    codebooks) are drawn from — the full corpus for build-everything
    queries, the initial batch for the incremental append-parity query
    (appends never move either table). ``deleted``
    is a predicate over ``n`` (the encoded index rows) naming
    tombstoned ids — deletion filters index rows only, the
    ivfpq_index_delete contract. ``rerank_from`` mirrors
    ivfpq_topk_rerank: the ADC ranking keeps that many candidates per
    query as a shortlist, exact cosine re-scores only those rows, and
    the final top-``k`` ranks on the exact scores."""
    dsub = dim // m
    cos_ec = _sql_cos("e.embedding", "c.cvec")
    cos_qc = _sql_cos("q.embedding", "c.cvec")
    l2sq = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), "
        f"i -> (e.rvec[c.sub_id*{dsub}+i] - c.codeword[i]) * "
        f"(e.rvec[c.sub_id*{dsub}+i] - c.codeword[i])), (x, y) -> x + y)"
    )
    qdot = (
        f"list_reduce(list_transform(range(1, {dsub + 1}), "
        f"i -> q.embedding[n.sub_id*{dsub}+i]::DOUBLE * n.codeword[i]), "
        "(x, y) -> x + y)"
    )
    qnorm = "sqrt(" + _SQL_DOT.format(a="q.embedding", b="q.embedding") + ")"
    qcent = _SQL_DOT.format(a="q.embedding", b="c.cvec")
    rvec = (
        f"list_transform(range(1, {dim + 1}), "
        "i -> e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
    )
    del_where = f"WHERE NOT ({deleted})" if deleted else ""
    if rerank_from is not None:
        cos_qv = _sql_cos("q.embedding", "v.embedding")
        tail = f"""
    , shortlist AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= {rerank_from}
    ),
    exact AS (
      SELECT s.query_id, s.vec_id, round({cos_qv}, 9) AS score
      FROM shortlist s
      JOIN embeddings v ON v.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM exact
    ) WHERE rank <= {k}
    """
    else:
        tail = f"""
    SELECT query_id, vec_id, score, rank FROM (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """
    return f"""
    WITH hk AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
               AS _hk
      FROM {sample_src}
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY _hk) - 1 AS centroid_id, embedding AS cvec
      FROM hk ORDER BY _hk LIMIT {n_centroids}
    ),
    acent AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cents c
      ) WHERE rn <= {nprobe}
    ),
    racent AS (
      SELECT e.vec_id, a.centroid_id, {rvec} AS rvec
      FROM embeddings e
      JOIN acent a USING (vec_id)
      JOIN cents c USING (centroid_id)
    ),
    cbrows AS (
      SELECT row_number() OVER (ORDER BY h._hk) - 1 AS code_id, r.rvec
      FROM (SELECT vec_id, _hk FROM hk ORDER BY _hk LIMIT {ksub}) h
      JOIN racent r USING (vec_id)
      ORDER BY h._hk
    ),
    cb AS (
      SELECT s.s AS sub_id, code_id,
             list_transform(range(s.s*{dsub}+1, s.s*{dsub}+{dsub}+1),
                            i -> rvec[i]) AS codeword
      FROM cbrows, (SELECT unnest(range(0, {m})) AS s) s
    ),
    enc AS (
      SELECT vec_id, sub_id, code_id, codeword FROM (
        SELECT e.vec_id, c.sub_id, c.code_id, c.codeword,
               row_number() OVER (PARTITION BY e.vec_id, c.sub_id
                                  ORDER BY {l2sq}, c.code_id) AS rn
        FROM racent e CROSS JOIN cb c
      ) WHERE rn = 1
    ),
    norms AS (
      SELECT n.vec_id,
             sqrt(list_reduce(
               list_transform(range(1, {dim + 1}),
                 i -> (cv.cvec[i]::DOUBLE + recon[i]) *
                      (cv.cvec[i]::DOUBLE + recon[i])),
               (x, y) -> x + y)) AS approx_norm
      FROM (
        SELECT vec_id, flatten(list(codeword ORDER BY sub_id)) AS recon
        FROM enc GROUP BY vec_id
      ) n
      JOIN acent a ON a.vec_id = n.vec_id
      JOIN cents cv USING (centroid_id)
    ),
    qd AS (
      SELECT p.query_id, n.vec_id, n.sub_id, {qnorm} AS _qnorm, {qdot} AS qd,
             {qcent} AS qc
      FROM probes p
      JOIN acent a USING (centroid_id)
      JOIN cents c USING (centroid_id)
      JOIN enc n ON n.vec_id = a.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
      {del_where}
    ),
    scored AS (
      SELECT query_id, vec_id,
             round((any_value(qc)
                    + list_reduce(list(qd ORDER BY sub_id), (x, y) -> x + y))
                   / (any_value(_qnorm) * any_value(nm.approx_norm)), 9) AS score
      FROM qd JOIN norms nm USING (vec_id)
      GROUP BY query_id, vec_id
    ){tail}"""


@register("similarity_topk_ivfpq", _ivfpq_oracle())
def similarity_topk_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 against a persisted index (operators/quantization
    build_ivfpq_index) — the standard corpus-scale ANN layout: probing
    prunes whole centroid partitions (literal IN filter, zero I/O on
    un-probed buckets) AND reads only 8 one-byte codes + a norm per
    probed row (~32× fewer bytes than raw vectors) — the scan cost
    drops multiplicatively, which is why real vector stores converge
    on this shape. Scores are bit-identical to pq_topk restricted to
    the probed buckets; the oracle replays centroid pick, probing,
    encode, and the ADC fold end-to-end. Index build is an EAGER write
    at plan-construction time (same timing asymmetry note as the other
    indexed queries)."""
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    index = _scratch_dir("ivfpq_index")
    build_ivfpq_index(
        emb, index, n_centroids=16, m=8, ksub=16, dim=64, files_per_bucket=1
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(spark, index, queries, k=5, nprobe=4)


@register("similarity_topk_ivfpq_rerank", _ivfpq_oracle(rerank_from=20))
def similarity_topk_ivfpq_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-ranking (operators/quantization
    ivfpq_topk_rerank) — the standard recall recovery for PQ's lossy
    scores: ADC keeps a 4k-candidate shortlist per query from the
    compressed index, the shortlist ids broadcast into one hash join
    that fetches ONLY those raw vectors (corpus never shuffles,
    plan-asserted), and exact cosine decides the final top-5. The
    oracle replays probe + encode + ADC shortlist + exact re-rank
    end-to-end; the recall improvement over raw ADC at equal k is
    measured in tests/test_quantization.py."""
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_topk_rerank,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    index = _scratch_dir("ivfpq_rerank")
    build_ivfpq_index(
        emb, index, n_centroids=16, m=8, ksub=16, dim=64, files_per_bucket=1
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_rerank(
        spark, index, emb, queries, k=5, k_factor=4, nprobe=4
    )


@register(
    "similarity_topk_ivfpq_appended",
    _ivfpq_oracle(
        sample_src="(SELECT * FROM embeddings WHERE vec_id % 2 = 0)",
        deleted="n.vec_id % 7 = 3",
    ),
)
def similarity_topk_ivfpq_appended_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF-PQ lifecycle (operators/quantization): build →
    append → delete → probe on the compressed layout. The index is
    built from the even-id half (centroids AND codebooks drawn from
    that initial batch — both frozen at build time), the odd-id half
    arrives later and is assigned + encoded against the persisted
    tables only (one batch-sized projection, work ∝ batch), landing as
    an idempotent ``appends/batch-{token}`` partition-pruned directory
    of codes; then ids ≡ 3 (mod 7) — spanning base AND append — are
    tombstoned (ivfpq_index_delete, the implementation shared with the
    raw-vector layout). Probing must equal one full build over the
    whole corpus with the same tables minus the deleted ids — the
    oracle computes exactly that, so a green row IS the
    append-vs-rebuild parity check AND the delete-visibility check,
    value-hashed cross-engine. Build + append + delete are EAGER
    writes at plan-construction time (same timing asymmetry note as
    the other indexed queries)."""
    from py_data_pipeline_app_spark.operators.quantization import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_delete,
        ivfpq_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    index = _scratch_dir("ivfpq_append")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    build_ivfpq_index(
        even, index, n_centroids=16, m=8, ksub=16, dim=64, files_per_bucket=1
    )
    ivfpq_index_append(spark, index, odd, batch_token="odd")
    ivfpq_index_delete(
        spark, index, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(spark, index, queries, k=5, nprobe=4)


@register(
    "embedding_outliers",
    f"""
    WITH norms AS (
      SELECT vec_id,
             round(sqrt(list_reduce(list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)), 6) AS norm,
             CAST(len(embedding) AS INT) AS n_dims
      FROM embeddings
    ),
    fin AS (
      SELECT * FROM norms
      WHERE norm IS NOT NULL AND NOT isnan(norm) AND n_dims > 0
    ),
    band1 AS (
      SELECT round((s1::DOUBLE / n) - 3.0 * sqrt(greatest(
               s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n), 0.0)), 6)
               AS lo,
             round((s1::DOUBLE / n) + 3.0 * sqrt(greatest(
               s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n), 0.0)), 6)
               AS hi
      FROM (SELECT count(*) AS n, sum(norm::DECIMAL(18,6)) AS s1,
                   sum((norm * norm)::DECIMAL(24,12)) AS s2 FROM fin)
    ),
    trimmed AS (
      SELECT fin.* FROM fin, band1 WHERE norm >= lo AND norm <= hi
    ),
    band2 AS (
      SELECT round((s1::DOUBLE / n) - 3.0 * sqrt(greatest(
               s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n), 0.0)), 6)
               AS lo,
             round((s1::DOUBLE / n) + 3.0 * sqrt(greatest(
               s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n), 0.0)), 6)
               AS hi
      FROM (SELECT count(*) AS n, sum(norm::DECIMAL(18,6)) AS s1,
                   sum((norm * norm)::DECIMAL(24,12)) AS s2 FROM trimmed)
    )
    SELECT vec_id, norm, n_dims,
           (norm IS NULL OR isnan(norm) OR n_dims = 0
            OR norm < lo OR norm > hi) AS is_outlier
    FROM norms, band2
    """,
)
def embedding_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-embedding detection (operators/similarity
    embedding_outliers): rows whose L2 norm leaves the trimmed corpus
    mean ± 3σ band, plus empty/non-finite rows — the encoder-fleet
    failure modes (zero fallbacks, overflows, truncations). Norm, not
    cosine: cosine is scale-invariant and blind to exactly these
    failures; two-pass trimmed moments so one huge-norm row cannot
    mask a near-zero one. One projection + two global moment
    aggregates + broadcast band joins; decimal-backed moments
    value-hash cross-engine."""
    from py_data_pipeline_app_spark.operators.similarity import embedding_outliers

    return embedding_outliers(load_table(spark, "embeddings", sf_dir), z=3.0)


@register(
    "semantic_doc_retrieval",
    f"""
    WITH hits AS (
      SELECT query_id, vec_id, score, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               round({_sql_cos('c.embedding', 'q.embedding')}, 9) AS score,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_sql_cos('c.embedding', 'q.embedding')}, 9) DESC,
                          c.vec_id
               ) AS rank
        FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
      ) WHERE rank <= 3
    )
    SELECT h.query_id, d.doc_id, h.rank, h.score, d.lang, d.source, d.n_chars
    FROM hits h JOIN documents d ON h.vec_id = d.doc_id
    """,
)
def semantic_doc_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval composition (operators/similarity retrieve_docs — the
    RAG fetch pattern): exact cosine top-3 for 5 query vectors over the
    embedding table, each hit hydrated with its document row (the
    embedding and document tables share the id space). The |queries|·k
    hit set broadcasts into the hydration join, so the document scan
    is a pruned map-side lookup; swap the ranker for ivf/ivfpq_topk
    for the probed scale path — the hydration join is identical."""
    from py_data_pipeline_app_spark.operators.similarity import retrieve_docs

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return retrieve_docs(emb, queries, docs, k=3)


# Batch span-dedup oracle — ALSO the parity oracle for the incremental
# fold (folding id-ordered batches ≡ one batch run over everything).
_CHUNK_DEDUP_SQL = f"""
    WITH toks AS (SELECT doc_id, {_SQL_WS} AS ws FROM documents),
    ch AS (
      SELECT doc_id, pos,
             list_aggregate(ws[pos*10+1 : pos*10+10], 'string_agg', ' ') AS chunk
      FROM (
        SELECT doc_id, ws,
               unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT))) AS pos
        FROM toks
      )
    ),
    k AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, pos) = 1 AS is_first
      FROM ch
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN is_first THEN chunk END,
                               ' ' ORDER BY pos), '') AS text_deduped,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS INT) AS n_kept
    FROM k GROUP BY doc_id
    """


@register("chunk_dedup_rebuild", _CHUNK_DEDUP_SQL)
def chunk_dedup_rebuild_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level span dedup (C4-style line dedup generalized to
    10-token chunks): only the globally first occurrence of each chunk
    fingerprint survives and documents are rebuilt from their
    surviving chunks in order — exact duplicate docs scrub to empty,
    cross-doc boilerplate survives only where it first appeared. Two
    keyed shuffles (fingerprint window + doc-id rebuild), linear in
    corpus tokens, never a corpus join."""
    from py_data_pipeline_app_spark.operators.curation import chunk_dedup_rebuild

    return chunk_dedup_rebuild(load_table(spark, "documents", sf_dir))


@register("span_dedup_incremental", _CHUNK_DEDUP_SQL)
def span_dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL span dedup (operators/span_dedup_incremental): the
    corpus arrives as two id-ordered batches folded against a
    persisted chunk-fingerprint index — per-fold cost ∝ batch chunks +
    one fingerprint join, history never re-chunked, novel fingerprints
    appended under idempotent batch tokens. The oracle is the BATCH
    span-dedup SQL over the whole corpus: a green row IS the
    fold-vs-batch parity check (first-occurrence order is (batch, doc,
    pos) both ways), value-hashed cross-engine. Folds are EAGER at
    plan-construction time (fold order is dedup precedence; same
    timing asymmetry note as the other incremental-index queries)."""
    from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
        incremental_span_fold,
    )

    docs = load_table(spark, "documents", sf_dir)
    index = _scratch_dir("span_index")
    first = incremental_span_fold(
        spark, index, docs.filter(F.col("doc_id") < 250), batch_token="b0"
    )
    second = incremental_span_fold(
        spark, index, docs.filter(F.col("doc_id") >= 250), batch_token="b1"
    )
    return first.unionByName(second)


_SQL_STOP = {
    "en": "('the','and','of','to','a','in','is','it')",
    "fr": "('le','la','et','les','des','un','une','est')",
    "es": "('el','la','y','los','las','un','una','es')",
    "de": "('der','die','und','das','ein','ist','nicht','von')",
}


@register(
    "text_lang_id",
    f"""
    WITH t AS (
      SELECT doc_id, lang AS labeled_lang,
             string_split_regex(trim(lower(text)), '\\s+') AS ws,
             regexp_matches(text, '[一-鿿]') AS has_cjk
      FROM documents
    ),
    hits AS (
      SELECT doc_id, labeled_lang, has_cjk,
             len(list_filter(ws, t -> t IN {_SQL_STOP['en']})) AS h_en,
             len(list_filter(ws, t -> t IN {_SQL_STOP['fr']})) AS h_fr,
             len(list_filter(ws, t -> t IN {_SQL_STOP['es']})) AS h_es,
             len(list_filter(ws, t -> t IN {_SQL_STOP['de']})) AS h_de
      FROM t
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN has_cjk THEN 'zh'
                WHEN greatest(h_en, h_fr, h_es, h_de) <= 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                WHEN h_fr = greatest(h_en, h_fr, h_es, h_de) THEN 'fr'
                WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                ELSE 'de' END AS detected_lang
    FROM hits
    """,
)
def text_lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (CJK codepoints, then stopword-hit argmax
    with frozen tie-break) next to the corpus label."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TXT.lang_id("text").alias("detected_lang"),
    )


@register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_types,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, n_types,
           round((n_chars - n_tokens + 1)::DOUBLE / n_tokens, 6) AS mean_tok_len,
           round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
           round(n_digit::DOUBLE / greatest(n_chars, 1), 6) AS digit_ratio,
           round(n_types::DOUBLE / greatest(n_tokens, 1), 6) AS type_token_ratio,
           round(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4
                 + (n_types::DOUBLE / greatest(n_tokens, 1)) * 0.4
                 + (1.0 - least((n_punct::DOUBLE / greatest(n_chars, 1)) * 5.0, 1.0)) * 0.1
                 + (1.0 - least((n_digit::DOUBLE / greatest(n_chars, 1)) * 5.0, 1.0)) * 0.1,
                 6) AS quality_score
    FROM t
    """,
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features + composite score per document, all
    native expressions (functions/text.py:quality_features)."""
    docs = load_table(spark, "documents", sf_dir)
    feats = TXT.quality_features("text")
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in feats.items()]
    )


@register(
    "text_token_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_NORM} AS norm FROM documents),
    g AS (
      SELECT doc_id, text, norm,
             list_transform(range(1, greatest(length(norm) - 15, 1) + 1),
               i -> ('0x' || substr(md5(substr(norm, i, 16)), 1, 15))::UBIGINT::BIGINT)
               AS gh
      FROM t
    )
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS tokens_ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS tokens_bpe,
           md5(norm) AS md5_fingerprint,
           list_aggregate(gh, 'min') AS min_gram_hash,
           list_aggregate(gh, 'max') AS max_gram_hash
    FROM g
    """,
)
def text_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and document
    fingerprints (md5 + min/max rolling char-16-gram hash). Uses the
    materialize-once fingerprint shape: the ~|doc| md5-gram array is
    computed one time per row, not once per output column (5.5×)."""
    docs = load_table(spark, "documents", sf_dir)
    return TXT.with_doc_fingerprints(docs, "text").select(
        "doc_id",
        TXT.token_count_ws("text").alias("tokens_ws"),
        TXT.token_count_bpe("text").alias("tokens_bpe"),
        "md5_fingerprint",
        "min_gram_hash",
        "max_gram_hash",
    )


@register(
    "corpus_vocab_topk",
    f"""
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (SELECT doc_id, unnest({_SQL_WS}) AS token FROM documents)
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
)
def corpus_vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: the top-100 tokens by
    occurrence with their document frequency — the profile a tokenizer
    build or stop-list starts from. Explode → one hash agg (map-side
    partials) → TakeOrderedAndProject: the full vocabulary never sorts
    globally, only per-partition top-k rows reach the driver merge."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(TXT.tokens("text")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(100)
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_WS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok
           GROUP BY token),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token,
             round(tf * ln(n_docs / df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(tf * ln(n_docs / df), 6) DESC, token
             ) AS rank
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rank FROM scored WHERE rank <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF — the classic keyword
    extraction pass. Term frequencies and document frequencies are two
    rollups of one exploded token stream; the document count enters as
    a broadcast single-row cross join; ranking windows only over a
    document's own distinct terms. Scores round before ranking so the
    cross-engine tie-break is on stable values."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(TXT.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Corpus curation (operators/curation.py): repetition filters, PII
# redaction, benchmark decontamination, sequence packing, and the
# composed training-set build. Extensions — the standard passes an LLM
# pretraining pipeline runs between ingestion and tokenization.
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators import curation as CUR  # noqa: E402
from py_data_pipeline_app_spark.operators.sampling import (  # noqa: E402
    SPLIT_WEIGHTS,
    hash_split,
    sql_hash_split_case,
)

_SQL_2GRAMS = (
    "list_transform(range(1, greatest(len(w) - 1, 1) + 1), "
    "i -> array_to_string(list_slice(w, i, i + 1), ' '))"
)
_SQL_5GRAMS = (
    "list_transform(range(1, greatest(len(w) - 4, 1) + 1), "
    "i -> array_to_string(list_slice(w, i, i + 4), ' '))"
)


@register(
    "text_repetition_filter",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WS}) AS word FROM documents
    ),
    wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
    ws AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_distinct_words,
             max(c) AS top_word_count
      FROM wc GROUP BY doc_id
    ),
    gr AS (
      SELECT doc_id, unnest({_SQL_2GRAMS}) AS g
      FROM (SELECT doc_id, {_SQL_WS} AS w FROM documents)
    ),
    gc AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY doc_id, g),
    gs AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_2
      FROM gc GROUP BY doc_id
    )
    SELECT ws.doc_id, n_words, n_distinct_words,
           round(top_word_count::DOUBLE / n_words, 6) AS top_word_frac,
           round(dup_2::DOUBLE / n_2grams, 6) AS dup_2gram_frac,
           (round(top_word_count::DOUBLE / n_words, 6) > 0.10
            OR round(dup_2::DOUBLE / n_2grams, 6) > 0.60) AS flagged
    FROM ws JOIN gs ON ws.doc_id = gs.doc_id
    """,
)
def text_repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality flags per document: the top
    word's occurrence share and the duplicate-2-gram occurrence share
    against frozen budgets. Word/gram occurrences explode and collapse
    back to one row per document with map-side partials — shuffles
    move per-document summaries, never token streams."""
    return CUR.repetition_filter(
        load_table(spark, "documents", sf_dir),
        max_top_word_frac=0.10,
        max_dup_2gram_frac=0.60,
    )


@register(
    "text_pii_scrub",
    f"""
    WITH contact AS (
      SELECT c_custkey,
             c_name || ' in ' || c_mktsegment || ' call '
               || lpad(CAST(10 + c_nationkey % 90 AS VARCHAR), 2, '0') || '-'
               || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')
               || ' mail ' || lower(replace(c_name, '#', '')) || '@example.com'
               AS contact_text
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(contact_text, '{CUR.EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(contact_text, '{CUR.PHONE_RE}')) AS INT)
             AS n_phones,
           regexp_replace(
             regexp_replace(contact_text, '{CUR.PHONE_RE}', '<PHONE>', 'g'),
             '{CUR.EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed
    FROM contact
    """,
)
def text_pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a contact-card text derived from the
    customer dimension (name/segment plus a deterministic phone and
    e-mail — the testdata carries no real PII columns): count then
    scrub emails and phone numbers with shared conservative regexes —
    all codegen'd regexp expressions, scan-bound at corpus scale."""
    cust = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        F.lpad((F.col("c_nationkey") % 90 + 10).cast("string"), 2, "0"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lpad(((k * 7) % 1000).cast("string"), 3, "0"),
        F.lpad(((k * 13) % 10000).cast("string"), 4, "0"),
    )
    contact = cust.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" in "),
            F.col("c_mktsegment"),
            F.lit(" call "),
            phone,
            F.lit(" mail "),
            F.lower(F.regexp_replace(F.col("c_name"), "#", "")),
            F.lit("@example.com"),
        ).alias("contact_text"),
    )
    return CUR.pii_scrub(contact, text_col="contact_text").select(
        "c_custkey", "n_emails", "n_phones", "scrubbed"
    )


@register(
    "benchmark_decontamination",
    f"""
    WITH grams AS (
      SELECT doc_id, unnest({_SQL_5GRAMS}) AS g
      FROM (SELECT doc_id, {_SQL_WS} AS w FROM documents)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    doc_g AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(b.g) AS BIGINT) AS n_hits,
           round(count(b.g)::DOUBLE / count(*), 6) AS contamination_frac
    FROM doc_g LEFT JOIN bench b ON doc_g.g = b.g
    GROUP BY doc_id
    """,
)
def benchmark_decontamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per-document word-5-gram overlap with
    a benchmark set (stand-in: every 97th document). The deduplicated
    benchmark gram set is broadcast; the corpus scans once and only
    per-document rollups shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    return CUR.contamination_stats(rest, bench, n=5)


@register(
    "benchmark_span_scrub",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_WS} AS ws FROM documents),
    bspans AS (
      SELECT DISTINCT md5(span) AS fp FROM (
        SELECT list_aggregate(ws[i : i+9], 'string_agg', ' ') AS span
        FROM (
          SELECT ws, unnest(range(1, greatest(len(ws), 1) + 1)) AS i
          FROM toks WHERE doc_id % 97 = 0
        )
      ) WHERE span <> ''
    ),
    ch AS (
      SELECT doc_id, pos,
             list_aggregate(ws[pos*10+1 : pos*10+10], 'string_agg', ' ') AS chunk
      FROM (
        SELECT doc_id, ws,
               unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT))) AS pos
        FROM toks WHERE doc_id % 97 <> 0
      )
    ),
    mk AS (
      SELECT doc_id, pos, chunk, b.fp IS NOT NULL AS hit
      FROM ch LEFT JOIN bspans b ON md5(ch.chunk) = b.fp
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT hit THEN chunk END,
                               ' ' ORDER BY pos), '') AS text_scrubbed,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS INT) AS n_removed
    FROM mk GROUP BY doc_id
    """,
)
def benchmark_span_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination that REWRITES (operators/curation
    benchmark_span_scrub): training documents (every 97th doc is the
    benchmark stand-in) lose any 10-token chunk that appears verbatim
    in the benchmark at ANY token offset — chunk-granular, so a
    lightly-contaminated document keeps its clean remainder instead of
    being dropped wholesale (contamination_stats is the audit; this is
    the fix). Benchmark span fingerprints broadcast; the corpus scans
    once; only the per-document rollup shuffles."""
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    return CUR.benchmark_span_scrub(rest, bench, chunk_tokens=10)


@register(
    "sequence_packing",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
             len({_SQL_WS}) AS n_tokens
      FROM documents
    ),
    o AS (
      SELECT shard, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM d
    )
    SELECT shard, CAST(floor(off / 2048) AS INT) AS seq_bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM o GROUP BY shard, seq_bin
    """,
)
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (2048-token budget, 8 shards):
    documents lay end-to-end per shard in id order; a document joins
    the sequence where its first token lands. Windowed PER SHARD —
    no global sort; shard count scales with the cluster. Rolled up to
    per-(shard, bin) doc/token counts for the gate."""
    docs = load_table(spark, "documents", sf_dir)
    packed = CUR.pack_sequences(docs, seq_len=2048, n_shards=8)
    return packed.groupBy("shard", "seq_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


@register(
    "scd2_state_history",
    """
    WITH ch AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
               AS prev
      FROM events
    ),
    st AS (
      SELECT user_id, event_type, ts, event_id FROM ch
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL)
             AS is_current
    FROM st
    """,
)
def scd2_state_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 on top of the order-aware change detection (S6):
    collapse consecutive repeats of each user's event-type state, then
    derive [valid_from, valid_to) intervals with lead() — the
    dimension-history view the reference's change log only approximates.
    Two windows over the same (user, order) partitioning: one shuffle."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    st = (
        events.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    return st.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "event_funnel",
    """
    WITH t1s AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ),
    t2s AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM t1s
    ),
    t3s AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM t2s
    ),
    per_user AS (
      SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      FROM t3s GROUP BY user_id
    )
    SELECT 'view' AS stage, CAST(count(t1) AS BIGINT) AS n_users FROM per_user
    UNION ALL
    SELECT 'view>click', CAST(count(t2) AS BIGINT) FROM per_user
    UNION ALL
    SELECT 'view>click>purchase', CAST(count(t3) AS BIGINT) FROM per_user
    """,
)
def event_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click after the first view →
    purchase after that click): three sequential-stage timestamps as
    stacked window minimums over ONE per-user partitioning — a single
    shuffle, three window passes over the same sort, then a per-user
    rollup and three tiny counts. The reference has no funnel surface;
    this is the classic product-analytics operator at event scale."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    staged = (
        events.select("user_id", "ts", "event_type")
        .withColumn("t1", F.min(F.when(et == "view", ts)).over(w))
        .withColumn(
            "t2", F.min(F.when((et == "click") & (ts > F.col("t1")), ts)).over(w)
        )
        .withColumn(
            "t3",
            F.min(F.when((et == "purchase") & (ts > F.col("t2")), ts)).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    # one aggregation for all three stage counts (three separate agg
    # branches would recompute the window pipeline per branch), then
    # unpivot the single row with stack
    counts = per_user.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', c1, 'view>click', c2, "
            "'view>click>purchase', c3) AS (stage, n_users)"
        )
    )


@register(
    "training_set_curation",
    f"""
    WITH canon AS (
      SELECT doc_id, text, lang,
             row_number() OVER (PARTITION BY md5({_SQL_NORM})
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, lang,
             len({_SQL_WS}) AS n_tokens,
             round(least(len({_SQL_WS})::DOUBLE / 100.0, 1.0) * 0.4
                   + (len(list_distinct({_SQL_WS}))::DOUBLE
                      / greatest(len({_SQL_WS}), 1)) * 0.4
                   + (1.0 - least((length(text) - length(regexp_replace(text,
                        '[^\\w\\s]', '', 'g')))::DOUBLE
                        / greatest(length(text), 1) * 5.0, 1.0)) * 0.1
                   + (1.0 - least((length(text) - length(regexp_replace(text,
                        '[0-9]', '', 'g')))::DOUBLE
                        / greatest(length(text), 1) * 5.0, 1.0)) * 0.1,
                   6) AS quality_score
      FROM canon WHERE rn = 1
    ),
    split AS (
      SELECT *, {sql_hash_split_case('doc_id', SPLIT_WEIGHTS)} AS split
      FROM kept WHERE quality_score >= 0.5
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           {sql_stat_avg('quality_score', 6)} AS avg_quality
    FROM split GROUP BY split, lang
    """,
)
def training_set_curation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-set build — the flagship curation
    pipeline: exact-dedup to canonical documents (min doc_id per
    normalized-text fingerprint), quality-score filter, deterministic
    hash split, then per-(split, lang) corpus statistics.

    One pass over the corpus: the dedup window shuffles on the 16-byte
    fingerprint, everything else is narrow projection/filter, and the
    final rollup aggregates map-side into |splits|x|langs| rows."""
    from py_data_pipeline_app_spark.functions.text import (
        normalize_text,
        quality_features,
        token_count_ws,
    )

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy(F.md5(normalize_text("text"))).orderBy("doc_id")
    canon = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    feats = quality_features("text")
    kept = canon.select(
        "doc_id",
        "lang",
        token_count_ws("text").alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
    ).filter(F.col("quality_score") >= 0.5)
    split = hash_split(kept, "doc_id", SPLIT_WEIGHTS)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        stat_avg("quality_score", 6).alias("avg_quality"),
    )


@register(
    "training_set_curation_leakage_safe",
    f"""
    WITH RECURSIVE {_NGRAM_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM njpairs
      UNION
      SELECT id_b, id_a FROM njpairs
    ),
    reach(node, m) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src
    ),
    comp AS (
      SELECT node, least(node, min(m)) AS c FROM reach GROUP BY node
    ),
    canon AS (
      SELECT doc_id, text, lang,
             row_number() OVER (PARTITION BY md5({_SQL_NORM})
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    kept AS (
      SELECT doc_id, lang,
             len({_SQL_WS}) AS n_tokens,
             round(least(len({_SQL_WS})::DOUBLE / 100.0, 1.0) * 0.4
                   + (len(list_distinct({_SQL_WS}))::DOUBLE
                      / greatest(len({_SQL_WS}), 1)) * 0.4
                   + (1.0 - least((length(text) - length(regexp_replace(text,
                        '[^\\w\\s]', '', 'g')))::DOUBLE
                        / greatest(length(text), 1) * 5.0, 1.0)) * 0.1
                   + (1.0 - least((length(text) - length(regexp_replace(text,
                        '[0-9]', '', 'g')))::DOUBLE
                        / greatest(length(text), 1) * 5.0, 1.0)) * 0.1,
                   6) AS quality_score
      FROM canon WHERE rn = 1
    ),
    skeyed AS (
      SELECT k.*, coalesce(c.c, k.doc_id) AS split_key
      FROM kept k LEFT JOIN comp c ON k.doc_id = c.node
      WHERE quality_score >= 0.5
    ),
    split AS (
      SELECT *, {sql_hash_split_case('split_key', SPLIT_WEIGHTS)} AS split
      FROM skeyed
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           {sql_stat_avg('quality_score', 6)} AS avg_quality
    FROM split GROUP BY split, lang
    """,
)
def training_set_curation_leakage_safe_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The leakage-safe training-set build — training_set_curation
    with the split keyed by the near-dup CLUSTER canonical id instead
    of the raw doc_id: every document in a duplicate cluster lands in
    the same split, so the cross-split pairs that split_leakage_audit
    counts cannot occur. Composes the Jaccard pair graph, iterative
    connected components, exact-dedup canonicalization, quality
    filter, and hash split; the oracle replays all of it (recursive
    CTE for the closure)."""
    from py_data_pipeline_app_spark.functions.text import (
        normalize_text,
        quality_features,
        token_count_ws,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100)
    labels = connected_components(pairs)
    w = Window.partitionBy(F.md5(normalize_text("text"))).orderBy("doc_id")
    canon = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    feats = quality_features("text")
    kept = canon.select(
        "doc_id",
        "lang",
        token_count_ws("text").alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
    ).filter(F.col("quality_score") >= 0.5)
    skeyed = kept.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).withColumn("split_key", F.coalesce(F.col("comp"), F.col("doc_id")))
    split = hash_split(skeyed, "split_key", SPLIT_WEIGHTS)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        stat_avg("quality_score", 6).alias("avg_quality"),
    )


@register(
    "split_leakage_audit",
    f"""
    WITH {_NGRAM_PAIR_CTES},
    assigned AS (
      SELECT id_a, id_b,
             {sql_hash_split_case('id_a', SPLIT_WEIGHTS)} AS split_a,
             {sql_hash_split_case('id_b', SPLIT_WEIGHTS)} AS split_b
      FROM njpairs
    )
    SELECT least(split_a, split_b) AS split_lo,
           greatest(split_a, split_b) AS split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM assigned GROUP BY 1, 2
    """,
)
def split_leakage_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation self-audit: do near-duplicate pairs straddle the
    train/val/test boundary? Hash-splitting by doc_id alone cannot see
    near-dups, so any cross-split pair here is benchmark leakage the
    pipeline must resolve (assign splits by dedup-cluster canonical id
    instead — see dedup_cluster_assignment). Joins nothing heavier
    than the pair list: split assignment is a pure hash expression on
    each endpoint."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), n=3, threshold=0.5, max_df=100
    )
    assigned = hash_split(
        pairs.select("id_a", "id_b", F.col("id_a").alias("_k")), "_k", SPLIT_WEIGHTS
    ).withColumnRenamed("split", "split_a")
    assigned = hash_split(
        assigned.withColumn("_k", F.col("id_b")), "_k", SPLIT_WEIGHTS
    ).withColumnRenamed("split", "split_b")
    return (
        assigned.select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "embedding_dim_stats",
    """
    WITH x AS (
      SELECT CAST(i - 1 AS INT) AS dim, embedding[CAST(i AS INT)] AS v
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    )
    SELECT dim, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS mean_v,
           round(sqrt(greatest(
             (CAST(sum(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                           AS DECIMAL(18,6))) AS DOUBLE)
              - CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                * CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE))
             / (CAST(count(*) AS DOUBLE) - 1.0), 0.0)), 6) AS std_v,
           CAST(min(v) AS DOUBLE) AS min_v,
           CAST(max(v) AS DOUBLE) AS max_v
    FROM x GROUP BY dim
    """,
)
def embedding_dim_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (the normalization profile an
    ANN index build needs): posexplode to (dim, value), one 64-group
    aggregation with map-side partials — only 64 rows per partition
    cross the shuffle. Mean/std from exact decimal sums (order
    independent), identical double arithmetic in the oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    x = emb.select(F.posexplode("embedding").alias("dim", "v"))
    vd = F.col("v").cast("double")
    n_d = F.count(F.lit(1)).cast("double")
    sum_d = F.sum(vd.cast("decimal(18,6)")).cast("double")
    sumsq_d = F.sum((vd * vd).cast("decimal(18,6)")).cast("double")
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(sum_d / n_d, 6).alias("mean_v"),
        F.round(
            F.sqrt(
                F.greatest(
                    (sumsq_d - sum_d * sum_d / n_d) / (n_d - F.lit(1.0)),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("std_v"),
        F.min("v").cast("double").alias("min_v"),
        F.max("v").cast("double").alias("max_v"),
    )


# ---------------------------------------------------------------------------
# Multimodal extension: binary payload columns + typed metadata
# (operators/media.py; schemas.MEDIA / MEDIA_FEATURES). The media table
# is derived deterministically from documents (MEDIA_SQL mirrors the
# Spark derivation), so even the mapInPandas feature-extraction path is
# value-checked cross-engine, not rows-only.
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators import media as M  # noqa: E402


def _sql_dot_n(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def _sql_cos_n(a: str, b: str, dim: int) -> str:
    dot = _sql_dot_n(a, b, dim)
    na = _sql_dot_n(a, a, dim)
    nb = _sql_dot_n(b, b, dim)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


# float32 byte-class histogram, mirroring operators.media._byte_histogram
# (documents are ASCII, so VARCHAR positions == payload bytes).
_MEDIA_FEATS_SQL = f"""
  feats AS (
    SELECT media_id, kind,
           list_transform(range(0, 16), b ->
             CAST(CAST(len(list_filter(codes, c -> (c // 16) = b)) AS DOUBLE)
                  / len(codes) AS REAL)) AS feature,
           CAST(CASE WHEN kind = 'image' OR duration_ms IS NULL THEN 1
                     ELSE greatest(1, duration_ms // 40) END AS INT) AS n_frames
    FROM (
      SELECT media_id, kind, duration_ms,
             list_transform(range(1, length(payload_text) + 1),
                            i -> unicode(payload_text[i])) AS codes
      FROM media
    )
  )
"""


@register(
    "media_metadata_filter",
    f"""
    WITH media AS ({M.MEDIA_SQL})
    SELECT media_id, kind, mime,
           CAST(octet_length(encode(payload_text)) AS INT) AS payload_bytes,
           width, height, duration_ms
    FROM media
    WHERE kind IN ('image', 'video') AND width >= 400
    """,
)
def media_metadata_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata filter: visual assets at least 400px wide.
    Every predicate is a plain column/struct-field comparison — against
    a parquet MEDIA table these push into the scan and the payload
    column is only read for surviving rows (late materialization)."""
    media = M.media_from_documents(load_table(spark, "documents", sf_dir))
    return M.filter_media(media, kinds=("image", "video"), min_width=400).select(
        "media_id",
        "kind",
        "mime",
        M.payload_bytes().alias("payload_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


@register(
    "media_resize_profile",
    f"""
    WITH media AS ({M.MEDIA_SQL}),
    img AS (SELECT * FROM media WHERE kind = 'image'),
    rs AS (
      SELECT media_id,
             list_aggregate(
               list_transform(range(0, 768),
                 k -> substr(payload_text,
                             CAST((k * length(payload_text)) // 768 AS INT) + 1,
                             1)),
               'string_agg', '') AS resized
      FROM img
    )
    SELECT media_id,
           32 AS width, 24 AS height,
           CAST(length(resized) AS INT) AS payload_bytes,
           md5(resized) AS payload_md5
    FROM rs
    """,
)
def media_resize_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize through the mapInPandas plumbing
    (operators.media.resize_media, bytes codec): every image payload is
    resampled to a 32×24 raster (nearest-neighbor gather over the byte
    stream) and the typed metadata updated in lockstep. The oracle
    replays the exact gather on the ASCII payload text and value-hashes
    the RESIZED BYTES themselves (md5), so the Arrow round-trip of
    binary columns through the resize map is checked content-exact —
    the pillow codec swaps in behind the identical plumbing where
    installed (tested skip-if-missing)."""
    media = M.media_from_documents(load_table(spark, "documents", sf_dir))
    resized = M.resize_media(media, width=32, height=24, codec="bytes")
    return resized.filter(F.col("kind") == "image").select(
        "media_id",
        F.col("meta.width").cast("int").alias("width"),
        F.col("meta.height").cast("int").alias("height"),
        F.octet_length("payload").cast("int").alias("payload_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@register(
    "media_payload_profile",
    f"""
    WITH media AS ({M.MEDIA_SQL})
    SELECT kind, mime,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(octet_length(encode(payload_text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(payload_text))) AS BIGINT) AS max_bytes,
           CAST(count(DISTINCT md5(payload_text)) AS BIGINT) AS n_distinct_payloads,
           CAST(count(*) - count(DISTINCT md5(payload_text)) AS BIGINT)
             AS n_dup_payloads
    FROM media
    GROUP BY kind, mime
    """,
)
def media_payload_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload volume + exact-duplicate profile per (kind, mime): one
    hash aggregation; only digests and counters cross the shuffle."""
    media = M.media_from_documents(load_table(spark, "documents", sf_dir))
    prof = M.payload_profile(media)
    return prof.select(
        "kind",
        "mime",
        "n_assets",
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.col("max_bytes").cast("long").alias("max_bytes"),
        "n_distinct_payloads",
        "n_dup_payloads",
    )


def _dhash_overlap(n_pixels: int, n_cells: int) -> list[list[int]]:
    """SQL-side mirror of operators.media._overlap_matrix: integer
    pixel↔cell overlaps scaled by ``n_cells`` (entry [c][p]). The
    constants are baked into the generated oracle below so DuckDB
    replays the vertical-hash box means in EXACT integer arithmetic —
    the same integers the Spark side's float64 matmul reproduces
    exactly (all partial sums are integers < 2⁵³)."""
    out = []
    for c in range(n_cells):
        row = []
        for p in range(n_pixels):
            v = min((p + 1) * n_cells, (c + 1) * n_pixels) - max(
                p * n_cells, c * n_pixels
            )
            row.append(max(v, 0))
        out.append(row)
    return out


def _dhash_cell_exprs() -> tuple[str, str, str, str, str]:
    """The generated expression strings the dHash oracles share:
    (hterms, rs_exprs, vc_exprs, hbits, vbits) — horizontal 3×3 box
    sums as a lambda body, factored vertical scaled sums, and the two
    signed-64-bit gradient-bit packers (the sign bit contributes
    -2⁶³, matching Spark LongType two's complement)."""
    # horizontal: 72 aligned 3x3 box sums, lambda form (affine in k)
    hterms = " + ".join(
        f"p[((k//9)*3+{dy})*27 + (k%9)*3+{dx} + 1]"
        for dy in range(3)
        for dx in range(3)
    )
    oy9 = _dhash_overlap(24, 9)  # [R][y], scaled by 9
    ox8 = _dhash_overlap(27, 8)  # [C][x], scaled by 8
    # factored vertical sums: per-pixel-row partial sums over x first
    # (rs[y*8+C]), then the y-overlap fold (vc[R*8+C]) — 4-5 nonzero
    # terms each instead of the naive 648-term cell expansion
    rs_exprs = []
    for y in range(24):
        for c8 in range(8):
            terms = [
                f"{ox8[c8][x]}*p[{y * 27 + x + 1}]"
                for x in range(27)
                if ox8[c8][x] > 0
            ]
            rs_exprs.append(" + ".join(terms))
    vc_exprs = []
    for r9 in range(9):
        for c8 in range(8):
            terms = [
                f"{oy9[r9][y]}*rs[{y * 8 + c8 + 1}]"
                for y in range(24)
                if oy9[r9][y] > 0
            ]
            vc_exprs.append(" + ".join(terms))

    def bit_sum(cmp) -> str:
        parts = []
        for r in range(8):
            for c in range(8):
                i = r * 8 + c
                lit = (
                    "(-9223372036854775807 - 1)" if i == 0 else str(1 << (63 - i))
                )
                parts.append(
                    f"CASE WHEN {cmp(r, c)} THEN {lit}::BIGINT"
                    " ELSE 0::BIGINT END"
                )
        return " + ".join(parts)

    hbits = bit_sum(lambda r, c: f"hc[{r * 9 + c + 1}] > hc[{r * 9 + c + 2}]")
    # transposed 9x8 grid: bit (r, c) compares vc[c*8+r] vs vc[(c+1)*8+r]
    vbits = bit_sum(
        lambda r, c: f"vc[{c * 8 + r + 1}] > vc[{(c + 1) * 8 + r + 1}]"
    )
    return hterms, ", ".join(rs_exprs), ", ".join(vc_exprs), hbits, vbits


def _dhash_hv_tail() -> str:
    """The decoder-independent half of the dHash oracle machinery:
    cells/vcells/hv CTEs turning an existing ``px(media_id, fidelity,
    p)`` CTE — p a 648-element row-major integer grid list — into the
    two-axis signatures, via the exact integer box means (baked-in
    scaled overlap constants) and signed-64-bit MSB-first gradient
    packing that matches Spark LongType two's complement (the sign
    bit contributes -2⁶³). Shared by the image (payload_gray) and
    audio (payload_pcm) gate rows so the arithmetic replay is written
    exactly once."""
    hterms, rs_exprs, vc_exprs, hbits, vbits = _dhash_cell_exprs()
    return f"""
    cells AS (
      SELECT media_id, fidelity,
             list_transform(range(0, 72), k -> {hterms}) AS hc,
             [{rs_exprs}] AS rs
      FROM px
    ),
    vcells AS (
      SELECT media_id, fidelity, hc, [{vc_exprs}] AS vc
      FROM cells
    ),
    hv AS (
      SELECT media_id, fidelity,
             {hbits} AS dhash,
             {vbits} AS dhash_v
      FROM vcells
    )"""


def _dhash_hv_ctes() -> str:
    """Generated CTE chain computing (media_id, fidelity, dhash,
    dhash_v) from an ``img(media_id, payload_text, fidelity)`` CTE —
    the DuckDB replay of the payload_gray fake decoder + exact
    box-mean downsample + MSB-first gradient bits
    (operators/media.py: _payload_gray → _downsample_gray →
    _dhash_bits, axes="both"). Every step is integer arithmetic:
    pixels are payload bytes tiled to 24×27; the horizontal 8×9 grid
    is 3×3-aligned box sums; the vertical 9×8 grid has fractional
    cell boundaries handled by the baked-in scaled overlap constants;
    equal cell areas make each gradient bit an integer comparison."""
    return f"""
    px AS (
      SELECT media_id, fidelity,
             CASE WHEN length(payload_text) = 0
                  THEN list_transform(range(0, 648), i -> 0)
                  ELSE list_transform(range(0, 648),
                    i -> unicode(payload_text[
                           CAST(i % length(payload_text) AS INT) + 1]))
             END AS p
      FROM img
    ),
    {_dhash_hv_tail()}"""


def _dhash_hv_ctes_pcm() -> str:
    """The audio twin of :func:`_dhash_hv_ctes`: px from an
    ``aud(media_id, payload_text, fidelity)`` CTE via the
    ``payload_pcm`` fake decoder's exact recipe (operators/media.py
    _payload_pcm_energy) — payload bytes as little-endian int16
    samples, 24 integer-bound time windows (``w*m // 24``), band b =
    summed |sample| over indices ≡ b (mod 27) within the window. All
    integer arithmetic, so the shared hv tail replays exactly."""
    return f"""
    smp AS (
      SELECT media_id, fidelity,
             list_transform(
               range(0, CAST(length(payload_text) // 2 AS BIGINT)),
               j -> abs(
                 unicode(payload_text[CAST(2 * j AS INT) + 1])
                 + 256 * unicode(payload_text[CAST(2 * j AS INT) + 2])
                 - CASE WHEN unicode(payload_text[CAST(2 * j AS INT) + 2])
                             >= 128
                        THEN 65536 ELSE 0 END)) AS s
      FROM aud
    ),
    px AS (
      SELECT media_id, fidelity,
             list_transform(range(0, 648), k ->
               coalesce(list_sum(list_transform(
                 list_filter(
                   range((k // 27) * len(s) // 24,
                         ((k // 27) + 1) * len(s) // 24),
                   j -> j % 27 = k % 27),
                 j -> s[j + 1])), 0)) AS p
      FROM smp
    ),
    {_dhash_hv_tail()}"""


def _dhash_cluster_sql(feed_cte: str) -> str:
    """The clustering half every dHash gate row shares: brute-force
    combined-hamming ≤ 6 pairs over ``hv`` (equal to the banded set by
    the pigeonhole recall GUARANTEE: hamming 6 < 8 bands ⇒ co-block),
    transitive closure by recursive CTE, fidelity-argmax canonicals
    with ties to the lowest id — parameterized only by the feed CTE
    carrying (media_id, fidelity) for singleton/member rows."""
    return f"""
    pairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM hv a JOIN hv b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.dhash, b.dhash))
            + bit_count(xor(a.dhash_v, b.dhash_v)) <= 6
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, m) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src
    ),
    comp AS (
      SELECT node AS media_id, least(node, min(m)) AS component_id
      FROM reach GROUP BY node
    ),
    member AS (
      SELECT i.media_id,
             coalesce(c.component_id, i.media_id) AS component_id,
             i.fidelity
      FROM {feed_cte} i LEFT JOIN comp c USING (media_id)
    ),
    canon AS (
      SELECT component_id, media_id AS canonical_id FROM (
        SELECT component_id, media_id,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY fidelity DESC, media_id) AS rn
        FROM member
      ) WHERE rn = 1
    )
    SELECT m.media_id, m.component_id, c.canonical_id, m.fidelity,
           m.media_id = c.canonical_id AS is_canonical
    FROM member m JOIN canon c USING (component_id)"""


@register(
    "media_dhash_canonicals",
    f"""
    WITH RECURSIVE media AS ({M.MEDIA_SQL}),
    img0 AS (
      SELECT media_id, payload_text, width, height
      FROM media WHERE kind = 'image'
    ),
    img AS (
      SELECT media_id, payload_text,
             CAST(width * height AS DOUBLE) AS fidelity
      FROM img0
      UNION ALL
      SELECT media_id + 10000000, payload_text,
             CAST((width * 2) * height AS DOUBLE)
      FROM img0 WHERE media_id % 7 = 0
      UNION ALL
      SELECT media_id + 20000000, payload_text,
             CAST(width * height AS DOUBLE)
      FROM img0 WHERE media_id % 11 = 0
    ),
    {_dhash_hv_ctes()},
    {_dhash_cluster_sql("img")}
    """,
)
def media_dhash_canonicals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal dedup family's registry row (round 14; the
    round-13 verdict's #1): perceptual dHash → banded near-dup pairs →
    connected components → fidelity canonicals, end-to-end at the
    PRODUCTION defaults (two-axis 128-bit signature, 16-bit band
    buckets, combined-hamming ≤ 6 verify) over the deterministic
    ``payload_gray`` decoder — pure integer arithmetic from payload
    bytes, so DuckDB replays the full chain (tiled 24×27 grid, exact
    box-mean downsample via baked-in integer overlap constants,
    MSB-first gradient bits, brute-force hamming ≤ 6 pairs — equal to
    the banded set by the pigeonhole recall GUARANTEE: combined
    hamming 6 < 8 bands ⇒ co-block — then transitive closure by
    recursive CTE and the fidelity argmax, ties to lowest id).

    Because real corpus texts rarely collide within hamming 6, the
    query PLANTS deterministic duplicate families so the clustering
    stages are value-checked, not vacuously green (the
    cross_corpus_decontamination carve-the-benchmark precedent):
    every 7th image gets a doubled-width copy (the planted copy must
    WIN the canonical pick), every 11th an identical-fidelity copy
    (tie must break to the LOWEST id), and 77-multiples form 3-member
    clusters (transitivity). Scale shape: hashing is a zero-shuffle
    Arrow map; blocking is the shared grouped chunk-capped posting
    expansion (never a bucket self-join); components converge in
    O(cluster diameter) rounds; the canonical pick is one map-side
    ``min(struct(-fidelity, id))`` per component."""
    media = M.media_from_documents(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("kind") == "image")
    width2 = F.col("meta").withField(
        "width", (F.col("meta.width") * 2).cast("int")
    )
    p7 = media.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        "kind",
        "payload",
        "mime",
        width2.alias("meta"),
    )
    p11 = media.filter(F.col("media_id") % 11 == 0).select(
        (F.col("media_id") + 20_000_000).alias("media_id"),
        "kind",
        "payload",
        "mime",
        "meta",
    )
    feed = media.unionByName(p7).unionByName(p11)
    return M.media_dhash_canonicals(feed)


@register(
    "audio_dhash_canonicals",
    f"""
    WITH RECURSIVE media AS ({M.MEDIA_SQL}),
    aud0 AS (
      SELECT media_id, payload_text,
             CAST(octet_length(encode(payload_text)) AS DOUBLE) AS fidelity
      FROM media WHERE kind = 'audio'
    ),
    aud AS (
      SELECT media_id, payload_text, fidelity FROM aud0
      UNION ALL
      SELECT media_id + 10000000, payload_text,
             CAST(100000 * 100 AS DOUBLE)
      FROM aud0 WHERE media_id % 7 = 0
      UNION ALL
      SELECT media_id + 20000000, payload_text, fidelity
      FROM aud0 WHERE media_id % 11 = 0
    ),
    {_dhash_hv_ctes_pcm()},
    {_dhash_cluster_sql("aud")}
    """,
)
def audio_dhash_canonicals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO dedup family's registry row (round 15; the
    round-14 verdict's task 4): perceptual hash → banded near-dup
    pairs → connected components → fidelity canonicals over audio
    assets, at the production two-axis defaults, through the
    deterministic ``payload_pcm`` fake decoder — payload bytes as
    little-endian int16 samples folded into a 24×27 (time-window ×
    mod-27 band) integer energy grid, so DuckDB replays the ENTIRE
    chain in integer SQL (samples → windowed band energies → exact
    box means → gradient bits → brute-force combined-hamming pairs,
    equal to the banded set by the pigeonhole guarantee → recursive-
    CTE closure → fidelity argmax). The REAL audio decoder
    (``wav_spectrogram``: stdlib RIFF/PCM → log-energy spectrogram,
    FFT and therefore never SQL-expressible) feeds the IDENTICAL
    downstream arithmetic and is measured for perceptual robustness
    on chirp fixtures in test_media — this row is the cross-engine
    value check of everything after the decode, on the audio
    modality's own feed.

    Planted duplicate families make every clustering stage
    non-vacuous (the media_dhash_canonicals precedent): every 7th
    audio asset gets a copy carrying explicit 100000×100 dimensions
    (10⁷ beats any payload-length fidelity, so the planted copy must
    WIN the canonical pick), every 11th an identical-fidelity copy
    (tie must break to the LOWEST id), and 77-multiples form 3-member
    clusters (transitivity). Audio fidelity is payload bytes —
    time-media rows carry no width/height, exercising the fidelity
    coalesce's fallback arm the image row never reaches."""
    media = M.media_from_documents(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("kind") == "audio")
    dims = (
        F.col("meta")
        .withField("width", F.lit(100000).cast("int"))
        .withField("height", F.lit(100).cast("int"))
    )
    p7 = media.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        "kind",
        "payload",
        "mime",
        dims.alias("meta"),
    )
    p11 = media.filter(F.col("media_id") % 11 == 0).select(
        (F.col("media_id") + 20_000_000).alias("media_id"),
        "kind",
        "payload",
        "mime",
        "meta",
    )
    feed = media.unionByName(p7).unionByName(p11)
    return M.media_dhash_canonicals(feed, decoder="payload_pcm")


def _video_dhash_ctes() -> str:
    """Per-FRAME variant of :func:`_dhash_hv_ctes` for the video
    oracle: a ``vid(media_id, payload_text, fidelity, duration_ms)``
    CTE fans out to sampled frames (the `sample_frames` arithmetic:
    n_frames = max(duration_ms//40, 1), every 25th index), each frame's
    pixels the payload bytes cyclically OFFSET by the frame index
    (operators/media.py _payload_frame_gray: px[i] = b[(frame_idx + i)
    mod n]), then the same exact integer cell/bit machinery keyed by
    (media_id, frame_bucket)."""
    hterms, rs_exprs, vc_exprs, hbits, vbits = _dhash_cell_exprs()
    return f"""
    frames AS (
      SELECT media_id, fidelity, payload_text,
             unnest(range(0, greatest(CAST(duration_ms // 40 AS BIGINT), 1),
                          25)) AS frame_idx
      FROM vid
    ),
    px AS (
      SELECT media_id, fidelity,
             CAST((frame_idx * 40) // 1000 AS BIGINT) AS frame_bucket,
             CASE WHEN length(payload_text) = 0
                  THEN list_transform(range(0, 648), i -> 0)
                  ELSE list_transform(range(0, 648),
                    i -> unicode(payload_text[
                           CAST((frame_idx + i) % length(payload_text)
                                AS INT) + 1]))
             END AS p
      FROM frames
    ),
    cells AS (
      SELECT media_id, fidelity, frame_bucket,
             list_transform(range(0, 72), k -> {hterms}) AS hc,
             [{rs_exprs}] AS rs
      FROM px
    ),
    vcells AS (
      SELECT media_id, fidelity, frame_bucket, hc, [{vc_exprs}] AS vc
      FROM cells
    ),
    hv AS (
      SELECT media_id, fidelity, frame_bucket,
             {hbits} AS dhash,
             {vbits} AS dhash_v
      FROM vcells
    )"""


@register(
    "video_dhash_canonicals",
    f"""
    WITH RECURSIVE media AS ({M.MEDIA_SQL}),
    vid0 AS (
      SELECT media_id, payload_text, width, height, duration_ms
      FROM media WHERE kind = 'video'
    ),
    vid AS (
      SELECT media_id, payload_text,
             CAST(width * height AS DOUBLE) AS fidelity, duration_ms
      FROM vid0
      UNION ALL
      SELECT media_id + 10000000, payload_text,
             CAST((width * 2) * height AS DOUBLE), duration_ms
      FROM vid0 WHERE media_id % 7 = 0
      UNION ALL
      SELECT media_id + 20000000, payload_text,
             CAST(width * height AS DOUBLE), duration_ms
      FROM vid0 WHERE media_id % 11 = 0
    ),
    {_video_dhash_ctes()},
    fpair AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b, a.frame_bucket,
             min(bit_count(xor(a.dhash, b.dhash))
                 + bit_count(xor(a.dhash_v, b.dhash_v))) AS min_ham
      FROM hv a JOIN hv b
        ON a.media_id < b.media_id AND a.frame_bucket = b.frame_bucket
      GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT id_a, id_b FROM fpair WHERE min_ham <= 6
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, m) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src
    ),
    comp AS (
      SELECT node AS media_id, least(node, min(m)) AS component_id
      FROM reach GROUP BY node
    ),
    member AS (
      SELECT v.media_id,
             coalesce(c.component_id, v.media_id) AS component_id,
             v.fidelity
      FROM vid v LEFT JOIN comp c USING (media_id)
    ),
    canon AS (
      SELECT component_id, media_id AS canonical_id FROM (
        SELECT component_id, media_id,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY fidelity DESC, media_id) AS rn
        FROM member
      ) WHERE rn = 1
    )
    SELECT m.media_id, m.component_id, c.canonical_id, m.fidelity,
           m.media_id = c.canonical_id AS is_canonical
    FROM member m JOIN canon c USING (component_id)
    """,
)
def video_dhash_canonicals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VIDEO dedup family's registry row (round 14): per-frame two-axis dHash
    → coarse-time-bucketed banded clip pairs → per-bucket min-hamming
    verify with a ≥2-matching-buckets floor → connected components →
    fidelity canonicals, end to end over the deterministic
    ``payload_frames`` decoder (pure integer arithmetic: the
    `sample_frames` frame-count rule, pixels = payload bytes
    cyclically offset by the frame index, the exact box-mean grid).
    The oracle replays every stage in integer SQL and BRUTE-FORCES
    clip pairs per shared frame bucket — equal to the banded set
    because any frame pair within combined hamming 6 < 8 bands
    co-blocks its clips (pigeonhole), and verification then scans all
    frame combos of the candidate pair on both engines.

    Planted duplicate families make every stage non-vacuous (measured
    rule #24, the image gate row's scheme): every 7th video gets a
    doubled-width copy (the planted copy must WIN the fidelity
    argmax), every 11th an identical-fidelity copy (ties break to the
    LOWEST id), 77-multiples form 3-member transitive clusters.
    ``every=25`` samples one frame per second (40 ms/frame), so even
    the shortest corpus video (48 chars → 1200 ms) spans the
    2-bucket floor. Scale shape: hashing is one zero-shuffle Arrow
    map over sampled frames; blocking is the shared chunk-capped
    posting expansion on (frame_bucket, band, bucket); the verify
    join is keyed by candidate pair × frame bucket."""
    media = M.media_from_documents(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("kind") == "video")
    width2 = F.col("meta").withField(
        "width", (F.col("meta.width") * 2).cast("int")
    )
    p7 = media.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        "kind",
        "payload",
        "mime",
        width2.alias("meta"),
    )
    p11 = media.filter(F.col("media_id") % 11 == 0).select(
        (F.col("media_id") + 20_000_000).alias("media_id"),
        "kind",
        "payload",
        "mime",
        "meta",
    )
    feed = media.unionByName(p7).unionByName(p11)
    return M.video_dhash_canonicals(feed, every=25)


@register(
    "media_feature_extract",
    f"""
    WITH media AS ({M.MEDIA_SQL}), {_MEDIA_FEATS_SQL}
    SELECT media_id, kind,
           list_aggregate(list_transform(feature,
             x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,9)) AS VARCHAR)),
             'string_agg', ',') AS feature_csv,
           n_frames
    FROM feats
    """,
)
def media_feature_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode→feature path itself: float32 features are
    bit-identical cross-engine (both quantize count/len to float32), so
    this Arrow-batched Python stage gets a full value-hash check.

    The registry shape serializes the array<float> column to a CSV
    string (fixed decimal(12,9) per element) because the oracle
    compare sorts output columns and Python lists aren't
    hashable — same pattern as customer_details_nested. The real API
    (operators.media.extract_features) keeps the typed array column."""
    media = M.media_from_documents(load_table(spark, "documents", sf_dir))
    feats = M.extract_features(media, dim=16)
    return feats.select(
        "media_id",
        "kind",
        F.concat_ws(
            ",",
            F.transform(
                F.col("feature"), lambda x: x.cast("decimal(12,9)").cast("string")
            ),
        ).alias("feature_csv"),
        "n_frames",
    )


@register(
    "media_feature_topk",
    f"""
    WITH media AS ({M.MEDIA_SQL}), {_MEDIA_FEATS_SQL}
    SELECT query_id, media_id, score, rank FROM (
      SELECT q.media_id AS query_id, c.media_id AS media_id,
             round({_sql_cos_n('c.feature', 'q.feature', 16)}, 9) AS score,
             row_number() OVER (
               PARTITION BY q.media_id
               ORDER BY round({_sql_cos_n('c.feature', 'q.feature', 16)}, 9) DESC,
                        c.media_id
             ) AS rank
      FROM feats c, (SELECT * FROM feats WHERE media_id < 8) q
    ) WHERE rank <= 5
    """,
)
def media_feature_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over extracted media features: cosine top-5
    for 8 query assets — reuses the broadcast-queries/single-scan
    brute-force kernel from operators.similarity."""
    media = M.media_from_documents(load_table(spark, "documents", sf_dir))
    feats = M.extract_features(media, dim=16)
    queries = feats.filter(F.col("media_id") < 8).select(
        F.col("media_id").alias("query_id"), F.col("feature")
    )
    return M.media_feature_topk(feats, queries, k=5)


@register(
    "media_frame_sample",
    f"""
    WITH media AS ({M.MEDIA_SQL}),
    timed AS (
      SELECT media_id, kind, payload_text,
             greatest(CAST(duration_ms // 40 AS BIGINT), 1) AS n_frames
      FROM media WHERE kind <> 'image'
    )
    SELECT media_id, kind, CAST(i AS INT) AS frame_idx,
           CAST(i * 40 AS BIGINT) AS ts_ms,
           md5(payload_text || '#' || CAST(i AS VARCHAR)) AS frame_digest
    FROM (SELECT media_id, kind, payload_text,
                 unnest(range(0, n_frames, 5)) AS i
          FROM timed)
    """,
)
def media_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over time-based media: every 5th
    frame of each video/audio asset as a (media_id, frame_idx, ts_ms,
    frame_digest) row — pure generate inside the scan task, no
    shuffle; a real decoder slots into the mapInPandas feature stage
    downstream."""
    media = M.media_from_documents(load_table(spark, "documents", sf_dir))
    return M.sample_frames(media, every=5)


# ---------------------------------------------------------------------------
# Multi-hop dimension chains (nation/region/supplier). Extensions beyond
# the reference surface: the reference joins at most 2 dims (app.py:131-132);
# these exercise >2-table join planning — snowflake chains, a co-location
# predicate across two chains, and dim-filter pushdown through the chain.
# ---------------------------------------------------------------------------


@register(
    "regional_supplier_volume",
    """
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def regional_supplier_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where customer and supplier share a
    nation inside one region, for one order year.

    Scale plan: the orderdate range filter prunes orders at the scan
    (pushed predicate); supplier/nation/region are broadcast so the
    only shuffles are the two fact-sized exchanges (lineitem⋈orders on
    orderkey, ⋈customer on custkey) and the final 5-group agg — the
    same-nation predicate is evaluated as a cheap post-join filter on
    two already-present int columns."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    supplier = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "returned_revenue_by_nation",
    """
    SELECT r_name, n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE l_returnflag = 'R'
    GROUP BY r_name, n_name
    """,
)
def returned_revenue_by_nation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape rolled up the full snowflake chain
    (customer→nation→region): lost revenue from returned items per
    nation. The returnflag filter is pushed to the lineitem scan;
    nation/region broadcast; count(DISTINCT c_custkey) rides the same
    (r_name, n_name) agg shuffle via Spark's two-phase distinct-agg
    expansion."""
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, "region", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count_distinct(F.col("c_custkey")).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal + grouping-set extensions (no reference evidence; Spark-first
# additions a user of the engine gets for free).
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators.temporal import asof_join  # noqa: E402


@register(
    "asof_last_click_before_purchase",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS side,
             NULL::TIMESTAMP AS c_ts, NULL::BIGINT AS c_eid
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS side, ts AS c_ts, event_id AS c_eid
      FROM events WHERE event_type = 'click'
    ),
    m AS (
      SELECT user_id, ts, event_id, side,
             last_value(c_ts IGNORE NULLS) OVER w AS click_ts,
             last_value(c_eid IGNORE NULLS) OVER w AS click_event_id
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, ts, click_event_id, click_ts,
           CAST(date_diff('second', click_ts, ts) AS BIGINT) AS gap_seconds
    FROM m WHERE side = 1
    """,
)
def asof_last_click_before_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join, events self-paired: each purchase matched
    to the same user's most recent click at-or-before it. Union-tag +
    running-last shape (operators/temporal.py): one shuffle on user_id,
    no join node, no per-key quadratic range expansion. The oracle
    replicates the window formulation exactly (DuckDB's ASOF JOIN has
    strictly-greater tie semantics — ours matches at equal ts)."""
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        id_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_event_id").alias("click_event_id"),
        F.col("asof_ts").alias("click_ts"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts"))
        .cast("long")
        .alias("gap_seconds"),
    )


@register(
    "revenue_rollup_region_nation",
    """
    SELECT r_name, n_name,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def revenue_rollup_region_nation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: order revenue at (region, nation), (region), and
    grand-total levels in ONE pass — Spark expands the rollup before
    the single agg shuffle (Expand operator), so the fact is read and
    shuffled once for all three granularities."""
    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, "region", sf_dir)
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            money_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "event_value_quantiles",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99,
           round(max(value), 6) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def event_value_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profiling per event type: exact continuous-
    interpolation percentiles (Spark ``percentile`` ⟷ DuckDB
    ``quantile_cont`` — same definition, checked to 6dp).

    Scale note: exact percentiles sort each group's values; the scale
    path at 100 TB is ``approx_percentile`` (t-digest-style mergeable
    sketch, map-side combined), which this query's shape swaps in
    one-for-one — approximate results are engine-specific, so the
    oracle pins the exact variant."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@register(
    "event_value_histogram",
    """
    SELECT event_type,
           CAST(CASE WHEN value < 0 THEN -1
                     WHEN value >= 500 THEN 25
                     ELSE floor(value / 20.0) END AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS bucket_value
    FROM events
    GROUP BY event_type, bucket
    """,
)
def event_value_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned value histogram per event type (25 equal-width buckets
    over [0, 500), under/overflow in sentinel buckets -1/25): one hash
    aggregation, bucket assignment inside codegen — the scan-bound
    distribution sketch for dashboards/quality monitors at any corpus
    size.  Bucketing uses explicit ``floor(value / width)`` (not
    ``width_bucket``) so both engines evaluate the exact same float
    expression."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.withColumn(
            "bucket",
            F.when(F.col("value") < 0, F.lit(-1))
            .when(F.col("value") >= 500, F.lit(25))
            .otherwise(F.floor(F.col("value") / F.lit(20.0)))
            .cast("int"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("bucket_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sampling / splitting / set ops / skew (training-data curation pillar)
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators.sampling import (  # noqa: E402
    hash_split,
    sql_hash_bucket,
    sql_hash_split_case,
    sql_stratified_keep,
    stratified_sample,
)
from py_data_pipeline_app_spark.operators.skew import salted_join  # noqa: E402

_LANG_FRACTIONS = {"en": 0.25}


@register(
    "dataset_split_profile",
    f"""
    SELECT {sql_hash_split_case('doc_id', SPLIT_WEIGHTS)} AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY split
    """,
)
def dataset_split_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of the corpus keyed
    on doc_id (operators/sampling.hash_split), profiled per split.

    The split is a pure function of the key — stable across re-runs,
    partitionings, and scale factors — and adds zero shuffle: the
    assignment is a codegen'd projection, the profile is one hash
    aggregation over 3 groups."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        hash_split(docs, "doc_id", SPLIT_WEIGHTS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@register(
    "stratified_lang_rebalance",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_stat_avg('n_chars')} AS avg_chars
    FROM documents
    WHERE {sql_stratified_keep('doc_id', 'lang', _LANG_FRACTIONS)}
    GROUP BY lang
    """,
)
def stratified_lang_rebalance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: deterministically downsample the head
    language ('en' keeps 25%), keep the tail in full
    (operators/sampling.stratified_sample) — the classic curation move
    against head-language dominance. Filter is a hash predicate pushed
    into the scan stage; no shuffle beyond the final small groupBy."""
    docs = load_table(spark, "documents", sf_dir)
    kept = stratified_sample(docs, "doc_id", "lang", _LANG_FRACTIONS)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        stat_avg("n_chars").alias("avg_chars"),
    )


@register(
    "source_cap_sample",
    f"""
    SELECT doc_id, source, src_rank, src_total FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {sql_hash_bucket('doc_id', 'srccap')}, doc_id
             ) AS src_rank,
             count(*) OVER (PARTITION BY source) AS src_total
      FROM documents
    ) WHERE src_rank <= 20
    """,
)
def source_cap_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (RefinedWeb-style per-domain limit):
    keep at most 20 documents per source, chosen by deterministic hash
    rank so survival is independent of arrival order and stable across
    engines (operators/sampling.source_cap_sample). One keyed shuffle
    on the source column."""
    from py_data_pipeline_app_spark.operators.sampling import source_cap_sample

    docs = load_table(spark, "documents", sf_dir)
    return source_cap_sample(docs, cap=20).select(
        "doc_id", "source", "src_rank", "src_total"
    )


@register(
    "source_temperature_mix",
    f"""
    WITH n AS (
      SELECT source, count(*) AS src_total,
             CAST(floor(sqrt(count(*))) AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM n),
    q AS (
      SELECT source, src_total, (200 * w) // total_w AS quota
      FROM n, tot
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {sql_hash_bucket('doc_id', 'mix')}, doc_id
             ) AS mix_rank
      FROM documents
    )
    SELECT r.doc_id, r.source, q.src_total, q.quota, r.mix_rank
    FROM r JOIN q USING (source)
    WHERE r.mix_rank <= q.quota
    """,
)
def source_temperature_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source MIXING (α = 0.5): each source's
    quota ∝ floor(sqrt(n_s)) of a 200-doc budget, filled by
    deterministic hash rank (operators/sampling.source_temperature_mix)
    — the data-mixture step that keeps head domains from swamping the
    corpus without letting tail domains repeat endlessly. α is pinned
    to 0.5 and quotas to integer arithmetic precisely so the oracle
    can value-hash the mixture exactly (IEEE sqrt is correctly
    rounded; pow is not)."""
    from py_data_pipeline_app_spark.operators.sampling import (
        source_temperature_mix,
    )

    docs = load_table(spark, "documents", sf_dir)
    return source_temperature_mix(docs, total_target=200)


@register(
    "dsir_importance_selection",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_WS} AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               ws,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
             )) AS gram
      FROM toks
    ),
    bk AS (
      SELECT doc_id, lang,
             {sql_hash_bucket('gram', 'dsir', 1024)} AS b
      FROM grams
    ),
    counts AS (
      SELECT b, count(*) AS qc,
             count(*) FILTER (WHERE lang = 'en') AS pc
      FROM bk GROUP BY b
    ),
    tots AS (SELECT sum(qc) AS qt, sum(pc) AS pt FROM counts),
    ratios AS (
      SELECT b,
             CAST(round(ln(CAST(pc + 1 AS DOUBLE)
                           / CAST(pt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(qc + 1 AS DOUBLE)
                           / CAST(qt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
               AS r
      FROM counts, tots
    ),
    w AS (
      SELECT doc_id, CAST(sum(r) AS BIGINT) AS dsir_weight_micro
      FROM bk JOIN ratios USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang, d.source, w.dsir_weight_micro
    FROM w JOIN documents d USING (doc_id)
    ORDER BY w.dsir_weight_micro DESC, d.doc_id
    LIMIT 100
    """,
)
def dsir_importance_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023; operators/sampling.dsir_select): fit hashed-ngram
    (unigram+bigram, 1024 buckets) bag models over the TARGET slice
    (here lang='en' — in production a trusted high-quality corpus) and
    over the raw corpus, score every document by its summed bucket
    log-ratios, keep the top 100 (ties by doc_id). The published
    scalable alternative to classifier-based quality selection. Each
    bucket's log-ratio is rounded to micro BIGINT engine-side, so the
    per-doc sum is integer-exact and order-free — the full selection
    value-hashes. Scale shape: one bounded-key groupBy (≤ 1024 keys,
    map-side combine) to fit, then scoring is a zero-shuffle map-
    literal fold at scan cost + one TakeOrdered for the budget."""
    from py_data_pipeline_app_spark.operators.sampling import dsir_select

    docs = load_table(spark, "documents", sf_dir)
    return dsir_select(docs, F.col("lang") == "en", budget=100).select(
        "doc_id", "lang", "source", "dsir_weight_micro"
    )


@register(
    "dsir_frozen_fit",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_WS} AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               ws,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
             )) AS gram
      FROM toks
    ),
    bk AS (
      SELECT doc_id, lang,
             {sql_hash_bucket('gram', 'dsir', 1024)} AS b
      FROM grams
    ),
    counts AS (
      SELECT b, count(*) AS qc,
             count(*) FILTER (WHERE lang = 'en') AS pc
      FROM bk WHERE doc_id % 2 = 0 GROUP BY b
    ),
    tots AS (SELECT sum(qc) AS qt, sum(pc) AS pt FROM counts),
    ratios AS (
      SELECT b,
             CAST(round(ln(CAST(pc + 1 AS DOUBLE)
                           / CAST(pt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(qc + 1 AS DOUBLE)
                           / CAST(qt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
               AS r
      FROM counts, tots
    ),
    fl AS (
      SELECT CAST(round(ln(CAST(1 AS DOUBLE)
                           / CAST(pt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(1 AS DOUBLE)
                           / CAST(qt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
               AS floor_r
      FROM tots
    ),
    w AS (
      SELECT bk.doc_id,
             CAST(sum(COALESCE(ratios.r, fl.floor_r)) AS BIGINT)
               AS dsir_weight_micro
      FROM bk LEFT JOIN ratios USING (b) CROSS JOIN fl
      WHERE bk.doc_id % 2 = 1 GROUP BY bk.doc_id
    )
    SELECT d.doc_id, d.lang, d.source, w.dsir_weight_micro
    FROM w JOIN documents d USING (doc_id)
    """,
)
def dsir_frozen_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR frozen-fit batch scoring (the fit-and-score-in-one row is
    dsir_importance_selection): fit the hashed-ngram
    models ONCE on the even-doc_id half, score the odd half against
    the frozen fit — the deployment shape (fit on the reference
    corpus, score each incoming crawl batch), and the path that
    exercises the add-one FLOOR ratio cross-engine: odd-half grams the
    fit never counted take round(ln 1/(pt+B)) − round(ln 1/(qt+B))
    micro, value-checked by the oracle's LEFT JOIN + COALESCE."""
    from py_data_pipeline_app_spark.operators.sampling import dsir_weights

    docs = load_table(spark, "documents", sf_dir)
    return dsir_weights(
        docs.filter(F.col("doc_id") % 2 == 0),
        F.col("lang") == "en",
        score=docs.filter(F.col("doc_id") % 2 == 1),
    ).select("doc_id", "lang", "source", "dsir_weight_micro")


@register(
    "training_set_curation_dsir",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {_SQL_WS} AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               ws,
               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
             )) AS gram
      FROM toks
    ),
    bk AS (
      SELECT doc_id, lang,
             {sql_hash_bucket('gram', 'dsir', 1024)} AS b
      FROM grams
    ),
    counts AS (
      SELECT b, count(*) AS qc,
             count(*) FILTER (WHERE lang = 'en') AS pc
      FROM bk WHERE doc_id % 2 = 0 GROUP BY b
    ),
    tots AS (SELECT sum(qc) AS qt, sum(pc) AS pt FROM counts),
    ratios AS (
      SELECT b,
             CAST(round(ln(CAST(pc + 1 AS DOUBLE)
                           / CAST(pt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(qc + 1 AS DOUBLE)
                           / CAST(qt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
               AS r
      FROM counts, tots
    ),
    fl AS (
      SELECT CAST(round(ln(CAST(1 AS DOUBLE)
                           / CAST(pt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(1 AS DOUBLE)
                           / CAST(qt + 1024 AS DOUBLE)) * 1000000) AS BIGINT)
               AS floor_r
      FROM tots
    ),
    w AS (
      SELECT bk.doc_id,
             CAST(sum(COALESCE(ratios.r, fl.floor_r)) AS BIGINT) AS wmi
      FROM bk LEFT JOIN ratios USING (b) CROSS JOIN fl
      GROUP BY bk.doc_id
    )
    SELECT t.source,
           COALESCE(w.wmi, 0) >= 0 AS dsir_kept,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(t.ws)) AS BIGINT) AS total_tokens
    FROM toks t LEFT JOIN w USING (doc_id)
    GROUP BY t.source, dsir_kept
    """,
)
def training_set_curation_dsir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-fit DSIR gate end-to-end (round 13;
    operators/sampling.dsir_fit_train → dsir_score_frozen — the
    artifact/scorer pair the streaming front door's ``dsir_fit`` gate
    runs): fit the hashed-ngram importance model on the even-doc_id
    half with target lang='en', persist it (ratio table + checksummed
    manifest, commit-point-last — the bigram_lm_train discipline),
    score the WHOLE corpus against the frozen artifact, gate at
    weight ≥ 0, and roll up (source, dsir_kept) cohorts with doc and
    token counts — the accounting shape a curation planner reads
    before committing a mixture. A green row checks the full
    train→persist→load→score→gate loop cross-engine: the oracle
    refits the same counts in SQL, so any drift in the persisted
    artifact's arithmetic (bucketing, add-one floors, micro rounding)
    breaks the value hash. Scale shape: fit = one gram explode + one
    ≤1024-key groupBy; scoring = zero-shuffle map-literal fold; the
    rollup is a bounded-key agg."""
    from py_data_pipeline_app_spark.functions.text import tokens as _toks
    from py_data_pipeline_app_spark.operators.sampling import (
        dsir_fit_train,
        dsir_score_frozen,
    )

    docs = load_table(spark, "documents", sf_dir)
    fit = _scratch_dir("dsir_fit_gate")
    dsir_fit_train(
        docs.filter(F.col("doc_id") % 2 == 0), F.col("lang") == "en", fit
    )
    scored = dsir_score_frozen(docs, fit)
    return (
        scored.withColumn("dsir_kept", F.col("dsir_weight_micro") >= 0)
        .withColumn("n_tokens", F.size(_toks("text")))
        .groupBy("source", "dsir_kept")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@register(
    "source_token_budget_mix",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(list_filter({_SQL_WS}, x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    t AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
             CAST(floor(sqrt(sum(n_tokens))) AS BIGINT) AS w
      FROM d GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS ws FROM t),
    q AS (
      SELECT source, src_tokens, (12000 * w) // ws AS token_quota
      FROM t, tot
    ),
    r AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {sql_hash_bucket('doc_id', 'tokmix')}, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS tokens_cum
      FROM d
    )
    SELECT r.doc_id, r.source, r.n_tokens, r.tokens_cum,
           q.src_tokens, q.token_quota
    FROM r JOIN q USING (source)
    WHERE r.tokens_cum <= q.token_quota
    """,
)
def source_token_budget_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing in the TRAINER'S currency (round 11 —
    operators/sampling.source_token_budget_mix): quotas and fills are
    measured in TOKENS, not documents — a per-document quota
    over-weights sources full of short pages and under-weights
    long-form ones, which is exactly the skew α-mixing exists to fix.
    Source quotas ∝ floor(sqrt(T_s)) of a 12,000-token budget (α = 0.5
    pinned for the same correctly-rounded-sqrt reason as the document
    variant), filled greedily by the shared deterministic hash rank
    with a strict prefix rule (a doc is kept iff its running inclusive
    token sum fits the quota — one window cumsum, order-insensitive to
    partitioning, cross-engine exact). Audit columns show how full
    each quota ran."""
    from py_data_pipeline_app_spark.operators.sampling import (
        source_token_budget_mix,
    )

    docs = load_table(spark, "documents", sf_dir)
    return source_token_budget_mix(docs, token_budget=12000)


@register(
    "text_token_diversity",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WS}) AS tok FROM documents
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS c FROM tok
      WHERE tok <> '' GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS distinct_tokens,
           round(1.0 - CAST(sum(c * c) AS DOUBLE)
                       / CAST(sum(c) * sum(c) AS DOUBLE), 9)
             AS simpson_diversity
    FROM tc GROUP BY doc_id
    """,
)
def text_token_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson token diversity 1 − Σ p² — the global
    concentration quality signal (operators/curation.token_diversity);
    exact integer aggregates + one double division, so the
    probabilistic-looking score is bit-equal cross-engine (Shannon
    entropy was rejected for libm log2 ulp drift). Two keyed
    aggregations with map-side combine, linear in corpus tokens."""
    from py_data_pipeline_app_spark.operators.curation import token_diversity

    return token_diversity(load_table(spark, "documents", sf_dir))


# Shared CTE chain computing per-document LM cross-entropy (the
# perplexity_buckets computation up to the per-doc aggregate) — reused
# by the bucket query, the source-reputation rollup, and the composed
# v2 curation pipeline (which scores CLEANED text, so the relation is
# a parameter; it must expose (doc_id, text)).
def _ppl_core_ctes(docs_rel: str = "documents") -> str:
    ws = _SQL_WS if docs_rel == "documents" else "string_split_regex(trim(text), '\\s+')"
    return f"""
    tok AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest({ws}) AS tok FROM {docs_rel}
      ) WHERE tok <> ''
    ),
    counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    total AS (SELECT sum(c) AS t FROM counts),
    lm AS (
      SELECT tok,
             round(ln(c::DOUBLE / t), 6) AS logp,
             round(ln(1.0 / t), 6) AS floor_logp
      FROM (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 32), total
    ),
    floor AS (SELECT max(floor_logp) AS fl FROM lm),
    scored AS (
      SELECT t.doc_id, coalesce(lm.logp, f.fl) AS lp
      FROM tok t LEFT JOIN lm ON t.tok = lm.tok CROSS JOIN floor f
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(-(sum(lp::DECIMAL(18,6))::DOUBLE) / count(*), 6) AS ce
      FROM scored GROUP BY doc_id
    )"""


_PPL_CORE_CTES = _ppl_core_ctes()


@register(
    "text_perplexity_buckets",
    f"""
    WITH {_PPL_CORE_CTES}
    SELECT doc_id, n_tokens, ce AS cross_entropy,
           CASE WHEN ce <= 3.40 THEN 'head'
                WHEN ce > 3.41 THEN 'tail'
                ELSE 'middle' END AS bucket,
           ce <= 3.41 AS kept
    FROM agg
    """,
)
def text_perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (operators/curation
    perplexity_buckets): every document scored by cross-entropy under
    a corpus-trained top-32 unigram LM (OOV floored at ln(1/total) —
    rare-token spam pays for it) and bucketed head/middle/tail.
    Cutoffs 3.40/3.41 are calibrated to this corpus' percentiles, the
    published CCNet protocol (calibrate on a sample once, never a
    global sort per run). The 32-row LM broadcasts into the scoring
    join; per-doc sums run over decimal(18,6) so the score
    value-hashes cross-engine."""
    from py_data_pipeline_app_spark.operators.curation import perplexity_buckets

    return perplexity_buckets(
        load_table(spark, "documents", sf_dir),
        vocab_size=32,
        head_cutoff=3.40,
        tail_cutoff=3.41,
    )


_BIGRAM_LAM, _BIGRAM_ULAM = 0.7, 1.0 - 0.7  # exact doubles, repr'd into SQL


@register(
    "text_perplexity_bigram",
    f"""
    WITH toks AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, list_filter({_SQL_WS}, x -> x <> '') AS ws
        FROM documents
      ) WHERE len(ws) > 0
    ),
    rawc AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(ws) AS tok FROM toks) GROUP BY tok
    ),
    vl AS (
      SELECT list(tok) AS l
      FROM (SELECT tok FROM rawc ORDER BY c DESC, tok LIMIT 32)
    ),
    m AS (
      SELECT doc_id,
             list_transform(ws, x -> CASE WHEN list_contains(vl.l, x)
                                          THEN x ELSE '<unk>' END) AS mw
      FROM toks CROSS JOIN vl
    ),
    uni AS (
      SELECT w, count(*) AS cu
      FROM (SELECT unnest(mw) AS w FROM m) GROUP BY w
    ),
    tot AS (SELECT sum(cu) AS t FROM uni),
    prs AS (
      SELECT doc_id, u.p AS p, u.w AS w FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(mw)),
                                     j -> {{'p': mw[j], 'w': mw[j+1]}})) AS u
        FROM m
      )
    ),
    bi AS (SELECT p, w, count(*) AS cb FROM prs GROUP BY p, w),
    ctx AS (SELECT p, sum(cb) AS cp FROM bi GROUP BY p),
    bilm AS (
      SELECT b.p, b.w,
             round(ln({_BIGRAM_LAM!r} * b.cb::DOUBLE / ctx.cp
                      + {_BIGRAM_ULAM!r} * u.cu::DOUBLE / tot.t), 6) AS lp
      FROM bi b JOIN ctx ON b.p = ctx.p JOIN uni u ON b.w = u.w CROSS JOIN tot
    ),
    unilm AS (
      SELECT w,
             round(ln({_BIGRAM_ULAM!r} * cu::DOUBLE / t), 6) AS lp_back,
             round(ln(cu::DOUBLE / t), 6) AS lp_uni
      FROM uni CROSS JOIN tot
    ),
    trans AS (
      SELECT prs.doc_id, coalesce(bilm.lp, unilm.lp_back) AS sc
      FROM prs LEFT JOIN bilm ON prs.p = bilm.p AND prs.w = bilm.w
               LEFT JOIN unilm ON prs.w = unilm.w
    ),
    fst AS (
      SELECT f.doc_id, unilm.lp_uni AS sc
      FROM (SELECT doc_id, mw[1] AS w FROM m) f JOIN unilm ON f.w = unilm.w
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(-(sum(sc::DECIMAL(18,6))::DOUBLE) / count(*), 6) AS ce
      FROM (SELECT * FROM trans UNION ALL SELECT * FROM fst) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, ce AS cross_entropy,
           CASE WHEN ce <= 3.37 THEN 'head'
                WHEN ce > 3.41 THEN 'tail'
                ELSE 'middle' END AS bucket,
           ce <= 3.41 AS kept
    FROM agg
    """,
)
def text_perplexity_bigram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-BIGRAM LM quality filter (operators/curation
    bigram_perplexity_buckets) — the honest next step from the unigram
    stand-in toward CCNet's 5-gram KenLM: tokens outside the top-32
    vocabulary map to one ``<unk>`` first (bounds the bigram table to
    33² and keeps every context counted), transitions score
    λ·bigram + (1−λ)·unigram with λ = 0.7, first tokens score pure
    unigram. Unlike the unigram model this SEES token order — word
    salad built from frequent words flips head→tail (fixture-pinned in
    tests/test_curation.py). Cutoffs 3.37/3.41 sit at this corpus'
    ~25th/90th CE percentiles (the CCNet calibrate-once protocol).
    All counts exact integers, per-transition logp rounded to 6 dp,
    decimal sums — the whole derivation value-hashes; the interpolation
    weights are repr'd into the SQL so both engines multiply by
    bit-identical doubles."""
    from py_data_pipeline_app_spark.operators.curation import (
        bigram_perplexity_buckets,
    )

    return bigram_perplexity_buckets(
        load_table(spark, "documents", sf_dir),
        vocab_size=32,
        lam=_BIGRAM_LAM,
        head_cutoff=3.37,
        tail_cutoff=3.41,
    )


@register(
    "text_perplexity_frozen_lm",
    f"""
    WITH toks AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, list_filter({_SQL_WS}, x -> x <> '') AS ws
        FROM documents
      ) WHERE len(ws) > 0
    ),
    tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
    sc AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
    rawc AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(ws) AS tok FROM tr) GROUP BY tok
    ),
    vl AS (
      SELECT list(tok) AS l
      FROM (SELECT tok FROM rawc ORDER BY c DESC, tok LIMIT 32)
    ),
    mtr AS (
      SELECT doc_id,
             list_transform(ws, x -> CASE WHEN list_contains(vl.l, x)
                                          THEN x ELSE '<unk>' END) AS mw
      FROM tr CROSS JOIN vl
    ),
    msc AS (
      SELECT doc_id,
             list_transform(ws, x -> CASE WHEN list_contains(vl.l, x)
                                          THEN x ELSE '<unk>' END) AS mw
      FROM sc CROSS JOIN vl
    ),
    uni AS (
      SELECT w, count(*) AS cu
      FROM (SELECT unnest(mw) AS w FROM mtr) GROUP BY w
    ),
    tot AS (SELECT sum(cu) AS t FROM uni),
    prs_tr AS (
      SELECT u.p AS p, u.w AS w FROM (
        SELECT unnest(list_transform(range(1, len(mw)),
                                     j -> {{'p': mw[j], 'w': mw[j+1]}})) AS u
        FROM mtr
      )
    ),
    bi AS (SELECT p, w, count(*) AS cb FROM prs_tr GROUP BY p, w),
    ctx AS (SELECT p, sum(cb) AS cp FROM bi GROUP BY p),
    bilm AS (
      SELECT b.p, b.w,
             round(ln({_BIGRAM_LAM!r} * b.cb::DOUBLE / ctx.cp
                      + {_BIGRAM_ULAM!r} * u.cu::DOUBLE / tot.t), 6) AS lp
      FROM bi b JOIN ctx ON b.p = ctx.p JOIN uni u ON b.w = u.w CROSS JOIN tot
    ),
    unilm AS (
      SELECT w,
             round(ln({_BIGRAM_ULAM!r} * cu::DOUBLE / t), 6) AS lp_back,
             round(ln(cu::DOUBLE / t), 6) AS lp_uni
      FROM uni CROSS JOIN tot
    ),
    fl AS (
      SELECT round(ln({_BIGRAM_ULAM!r} * 1.0 / t), 6) AS fl_back,
             round(ln(1.0 / t), 6) AS fl_uni
      FROM tot
    ),
    prs AS (
      SELECT doc_id, u.p AS p, u.w AS w FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(mw)),
                                     j -> {{'p': mw[j], 'w': mw[j+1]}})) AS u
        FROM msc
      )
    ),
    trans AS (
      SELECT prs.doc_id,
             coalesce(bilm.lp, unilm.lp_back, fl.fl_back) AS s
      FROM prs LEFT JOIN bilm ON prs.p = bilm.p AND prs.w = bilm.w
               LEFT JOIN unilm ON prs.w = unilm.w
               CROSS JOIN fl
    ),
    fst AS (
      SELECT f.doc_id, coalesce(unilm.lp_uni, fl.fl_uni) AS s
      FROM (SELECT doc_id, mw[1] AS w FROM msc) f
           LEFT JOIN unilm ON f.w = unilm.w
           CROSS JOIN fl
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(-(sum(s::DECIMAL(18,6))::DOUBLE) / count(*), 6) AS ce
      FROM (SELECT * FROM trans UNION ALL SELECT * FROM fst) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, ce AS cross_entropy,
           CASE WHEN ce <= 3.40 THEN 'head'
                WHEN ce > 3.46 THEN 'tail'
                ELSE 'middle' END AS bucket,
           ce <= 3.46 AS kept
    FROM agg
    """,
)
def text_perplexity_frozen_lm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet filter as ACTUALLY deployed (operators/curation
    bigram_lm_train + bigram_perplexity_buckets(bigram_lm=...)): the
    interpolated-bigram LM is trained on one half of the corpus (even
    doc_ids — standing in for the clean reference corpus), PERSISTED
    with the (checksum, config) manifest, and the other half scores
    against the FROZEN tables — the scored documents contribute
    nothing to the model, so verdicts are batch-independent (the
    property the streaming front door's ``bigram_lm`` gate rides on;
    parity across arbitrary batch splits is pinned in
    tests/test_curation.py). Frozen-only case exercised end-to-end:
    symbols the model never counted score at the add-one floor
    ln((1−λ)·1/total) instead of dropping. The oracle derives the
    same counts on the even half and scores the odd half in one SQL
    statement — a full round-trip through parquet persistence on the
    Spark side against a pure derivation on DuckDB's. Cutoffs
    3.40/3.46 sit at the odd half's ~25th/90th CE percentiles (the
    CCNet calibrate-once protocol)."""
    from py_data_pipeline_app_spark.operators.curation import (
        bigram_lm_frames,
        bigram_lm_train,
        bigram_perplexity_buckets,
    )

    docs = load_table(spark, "documents", sf_dir)
    lm_dir = f"{_scratch_dir('text_perplexity_frozen_lm')}/lm"
    bigram_lm_train(
        docs.filter(F.col("doc_id") % 2 == 0), lm_dir, vocab_size=32
    )
    bigram_lm_frames(spark, lm_dir)  # deploy-time checksum verification
    return bigram_perplexity_buckets(
        docs.filter(F.col("doc_id") % 2 == 1),
        bigram_lm=lm_dir,
        lam=_BIGRAM_LAM,
        head_cutoff=3.40,
        tail_cutoff=3.46,
    )


# Markup planted onto every 7th document (the sf corpora are plain
# text): wrapper tags, a script block whose BODY contains a tag, and
# double-escaped entities — exercising block removal, tag stripping,
# and the ordered entity-decode chain. Identical literal in both
# engines, so the cleaned text value-hashes exactly.
_HTML_PLANT_PREFIX = '<html><body class="m">'
_HTML_PLANT_SUFFIX = (
    '</body> <script type="text/javascript">var x = "<p>";</script>'
    " &amp;amp; &lt;fin&gt;</html>"
)


@register(
    "text_html_strip",
    f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN '{_HTML_PLANT_PREFIX}' || text || '{_HTML_PLANT_SUFFIX}'
                  ELSE text END AS t
      FROM documents
    ),
    s1 AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(t, '(?is)<script\\b[^>]*>.*?</script\\s*>',
                              ' ', 'g'),
               '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS u
      FROM raw
    ),
    s2 AS (
      SELECT doc_id, t, regexp_replace(u, '<[^>]*>', ' ', 'g') AS u FROM s1
    ),
    s3 AS (
      SELECT doc_id, t,
             replace(replace(replace(replace(replace(replace(u,
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS u
      FROM s2
    )
    SELECT doc_id,
           trim(regexp_replace(u, '\\s+', ' ', 'g')) AS clean_text,
           CAST(len(regexp_extract_all(t, '<[^>]*>')) AS INT) AS n_tags,
           len(regexp_extract_all(t, '<[^>]*>')) > 0 AS was_html
    FROM s3
    """,
)
def text_html_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest markup normalization (functions/text.strip_html):
    drop script/style blocks wholesale, strip tags, decode the frozen
    entity set in order, collapse whitespace — plus an html-ishness
    tag count for routing. Native regexp/replace chain, zero Python,
    zero shuffle (a pure projection — at 100 TB this pass IS the
    scan). Patterns avoid backtracking-only constructs so Java regex
    and RE2 agree; the oracle replays the chain on identically planted
    markup."""
    from py_data_pipeline_app_spark.functions.text import html_tag_count, strip_html

    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(_HTML_PLANT_PREFIX), F.col("text"), F.lit(_HTML_PLANT_SUFFIX)
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    n_tags = html_tag_count("t")
    return raw.select(
        "doc_id",
        strip_html("t").alias("clean_text"),
        n_tags.cast("int").alias("n_tags"),
        (n_tags > 0).alias("was_html"),
    )


@register(
    "source_reputation",
    f"""
    WITH {_PPL_CORE_CTES},
    with_src AS (
      SELECT a.doc_id, a.ce, d.source
      FROM agg a JOIN documents d USING (doc_id)
    ),
    per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             sum(ce::DECIMAL(18,6)) AS s
      FROM with_src GROUP BY source
    ),
    overall AS (
      SELECT (sum(s)::DOUBLE / sum(n_docs)) AS ov FROM per_src
    )
    SELECT source, n_docs,
           round(s::DOUBLE / n_docs, 6) AS mean_ce,
           round(ov, 6) AS overall_ce,
           round(s::DOUBLE / n_docs, 6) <= round(ov, 6) AS reputable
    FROM per_src, overall
    """,
)
def source_reputation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level reputation rollup (operators/curation
    source_reputation): per-source mean LM cross-entropy vs the corpus
    mean, self-calibrated — sources above the corpus mean are flagged.
    Broadcast-LM doc scoring, one keyed rollup to |sources| rows, 1-row
    broadcast for the corpus mean; decimal sums end-to-end so the
    verdict value-hashes cross-engine."""
    from py_data_pipeline_app_spark.operators.curation import source_reputation

    return source_reputation(load_table(spark, "documents", sf_dir), vocab_size=32)


@register(
    "corpus_bigram_merges",
    f"""
    WITH toks AS (
      SELECT list_filter({_SQL_WS}, x -> x <> '') AS ws FROM documents
    ),
    bp AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS pair
      FROM toks
    ),
    c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
          FROM bp GROUP BY pair)
    SELECT pair, n_occurrences FROM c
    ORDER BY n_occurrences DESC, pair LIMIT 50
    """,
)
def corpus_bigram_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token pairs (operators/curation
    bigram_merge_candidates) — the first BPE/WordPiece merge-table
    iteration, the distributable hot loop of tokenizer training.
    Per-row zip of the token array with its own tail (zero shuffle),
    one keyed count with map-side combine, TakeOrdered top-k —
    the full pair table never sorts. Deterministic cut: count desc,
    pair asc, replayed exactly by the oracle."""
    from py_data_pipeline_app_spark.operators.curation import (
        bigram_merge_candidates,
    )

    return bigram_merge_candidates(load_table(spark, "documents", sf_dir), k=50)


def _bpe_oracle(
    n_merges: int,
    encode: bool = False,
    level: str = "word",
    ids: bool = False,
) -> str:
    """DuckDB mirror of the FULL iterative bpe_train loop, unrolled:
    each round is three CTEs (pair count over the current symbol
    strings, deterministic top-1 pick, greedy merge application).
    The merge applies as a literal ``replace`` over marker-delimited
    symbol strings — DuckDB's replace and the JVM's are both
    left-to-right non-overlapping, so greedy BPE application is
    engine-identical by construction (verified on the ‹a›‹a›‹a›
    overlap case). ``encode=True`` returns the final ENCODED corpus
    (bpe_apply's contract: per-doc symbol string after all merges)
    instead of the merge table — the loop's fixpoint state doubles as
    the apply oracle, so training and encoding share one derivation.
    ``level="char"`` mirrors the subword mode: per-word character
    symbols with the ``·`` end-of-word marker (DuckDB's
    ``string_split(w, '')`` splits by code point exactly like the
    JVM's zero-width regex split), word-final left symbols excluded
    from pair counting, merges concatenating directly."""
    if level == "word":
        state0 = (
            f"'‹' || array_to_string(list_filter({_SQL_WS}, x -> x <> ''), "
            "'›‹') || '›'"
        )
        merged = "'‹' || m.l || ' ' || m.rr || '›'"
        boundary = ""
    else:
        state0 = (
            f"""array_to_string(list_transform(
               list_filter({_SQL_WS}, x -> x <> ''),
               w -> '‹' || array_to_string(string_split(w, ''), '›‹') || '·›'
             ), '')"""
        )
        merged = "'‹' || m.l || m.rr || '›'"
        boundary = "WHERE pr[1] NOT LIKE '%·'"
    parts = [
        f"""s0 AS (
      SELECT doc_id,
             CAST(len(list_filter({_SQL_WS}, x -> x <> '')) AS BIGINT) AS n_tokens,
             {state0} AS _s
      FROM documents
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""p{i} AS (
      SELECT pr[1] AS l, pr[2] AS rr, count(*) AS n
      FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                                     j -> [syms[j], syms[j+1]])) AS pr
        FROM (SELECT string_split(substring(_s, 2, length(_s) - 2), '›‹') AS syms
              FROM s{i - 1})
      ) {boundary} GROUP BY 1, 2
    ),
    m{i} AS (SELECT l, rr, n FROM p{i} ORDER BY n DESC, l, rr LIMIT 1),
    s{i} AS (
      SELECT doc_id, n_tokens,
             replace(_s, '‹' || m.l || '›‹' || m.rr || '›',
                     {merged}) AS _s
      FROM s{i - 1} CROSS JOIN m{i} m
    )"""
        )
    if ids:
        mrg_sym = "l || ' ' || rr" if level == "word" else "l || rr"
        mv = "\n        UNION ALL ".join(
            f"SELECT {i} AS rank, {mrg_sym} AS symbol FROM m{i}"
            for i in range(1, n_merges + 1)
        )
        final = f""",
    alpha AS (
      SELECT DISTINCT
        unnest(string_split(substring(_s, 2, length(_s) - 2), '›‹')) AS symbol
      FROM s0
    ),
    bc AS (SELECT count(*) AS b FROM alpha),
    vocab0 AS (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY symbol) - 1 AS INT) AS token_id
      FROM alpha
      UNION ALL
      SELECT symbol, CAST(b + rank - 1 AS INT)
      FROM ({mv}) CROSS JOIN bc
    ),
    vocab AS (
      SELECT symbol, CAST(min(token_id) AS INT) AS token_id
      FROM vocab0 GROUP BY symbol
    ),
    toks AS (
      SELECT doc_id, n_tokens,
             unnest(list_transform(range(1, len(syms) + 1),
                                   i -> {{'pos': i, 'sym': syms[i]}})) AS u
      FROM (SELECT doc_id, n_tokens,
                   string_split(substring(_s, 2, length(_s) - 2), '›‹') AS syms
            FROM s{n_merges})
    )
    SELECT doc_id,
           string_agg(CAST(v.token_id AS VARCHAR), ' ' ORDER BY u.pos) AS ids_str,
           CAST(count(*) AS INT) AS n_ids,
           CAST(any_value(n_tokens) AS BIGINT) AS n_tokens
    FROM toks JOIN vocab v ON u.sym = v.symbol
    GROUP BY doc_id"""
        return "WITH " + ",\n    ".join(parts) + final
    if encode:
        final = f"""
    SELECT doc_id,
           array_to_string(string_split(substring(_s, 2, length(_s) - 2), '›‹'), '‹')
             AS encoded,
           CAST(len(string_split(substring(_s, 2, length(_s) - 2), '›‹')) AS INT)
             AS n_symbols,
           n_tokens
    FROM s{n_merges}"""
    else:
        final = "\n    UNION ALL ".join(
            f"SELECT {i} AS merge_rank, l AS left_sym, rr AS right_sym, "
            f"CAST(n AS BIGINT) AS n_occurrences FROM m{i}"
            for i in range(1, n_merges + 1)
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + final


@register("bpe_merge_table", _bpe_oracle(n_merges=8))
def bpe_merge_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer induction (operators/curation
    bpe_train): 8 rounds of {one keyed pair-count with map-side
    combine + TakeOrdered(1), one pure-projection greedy merge
    rewrite}, the loop driver corpus_bigram_merges is one round of.
    State is a marker-delimited symbol string per document, so merge
    application is a literal JVM replace (left-to-right
    non-overlapping ≡ greedy BPE) instead of an O(n²) array-fold;
    the driver holds only the 8 winning pairs (one 1-row collect per
    round, k-means loop discipline, localCheckpoint bounds plan
    depth). The oracle unrolls the identical loop in SQL — a green
    row value-checks every round's pick AND every greedy rewrite."""
    from py_data_pipeline_app_spark.operators.curation import bpe_merge_table

    return bpe_merge_table(load_table(spark, "documents", sf_dir), n_merges=8)


@register("bpe_encoded_corpus", _bpe_oracle(n_merges=4, encode=True))
def bpe_encoded_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 4-merge BPE table on the corpus, then ENCODE the corpus
    with it (operators/curation bpe_apply — the consumer half a
    tokenizer runs on new text): the merge chain applies as 4 nested
    literal replaces in ONE projection fused into the scan, zero
    shuffle, zero per-row Python; per-doc output is the encoded symbol
    string plus symbol/token counts (compression ratio is a projection
    away). The oracle reuses the unrolled training chain's fixpoint
    state as the expected encoding, so training AND application
    value-hash in one derivation."""
    from py_data_pipeline_app_spark.operators.curation import (
        bpe_apply,
        bpe_train,
    )

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_train(docs, n_merges=4)
    encoded = bpe_apply(docs, merges)
    return encoded.select(
        "doc_id",
        F.array_join("symbols", "‹").alias("encoded"),
        "n_symbols",
        "n_tokens",
    )


@register("bpe_char_merge_table", _bpe_oracle(n_merges=8, level="char"))
def bpe_char_merge_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level BPE tokenizer induction — Sennrich et al.
    2016's actual algorithm (operators/curation bpe_train
    level="char"): symbols start as characters within whitespace
    words, the final char of each word carrying the ``·`` end-of-word
    marker, merges concatenate directly and never cross a word
    boundary (word-final left symbols are excluded from pair
    counting). Produces a real SUBWORD vocabulary — the word-level
    twin (bpe_merge_table) induces phrases instead. Same distribution
    shape: per round one keyed pair-count with map-side combine +
    TakeOrdered(1) + one literal-replace projection, localCheckpoint
    bounding plan depth. The oracle unrolls the identical char-state
    loop in SQL, so a green row value-checks every round's pick AND
    every greedy rewrite including the boundary exclusion."""
    from py_data_pipeline_app_spark.operators.curation import bpe_merge_table

    return bpe_merge_table(
        load_table(spark, "documents", sf_dir), n_merges=8, level="char"
    )


@register("bpe_token_ids", _bpe_oracle(n_merges=8, level="char", ids=True))
def bpe_token_ids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer stack's missing OUTPUT surface (round-10 verdict
    missing #3): train the same 8-merge char-level tokenizer as
    bpe_char_merge_table, derive the (symbol, token_id) vocabulary
    (operators/curation bpe_vocab — base alphabet ids 0..B-1 by
    lexicographic two-phase rank, merge outputs B+rank-1 in merge
    order, textual collisions resolved smallest-id like HF), and
    encode every document to its token-ID sequence
    (bpe_encode_ids — the vocab collected ONCE and shipped as a map
    literal, so the encode is one zero-shuffle pure projection; no
    explode/join/re-agg of the tokenized corpus). Emits the id
    sequence space-joined so the value hash pins every position of
    every document. The oracle extends the unrolled training chain
    with the same vocabulary derivation and id join — a green row
    value-checks train, vocab ids, AND the full encoded corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    merges = CUR.bpe_train(docs, n_merges=8, text_col="text", level="char")
    vocab_rows = sorted(
        (r.symbol, r.token_id)
        for r in CUR.bpe_vocab(docs, merges, level="char").collect()
    )
    out = CUR.bpe_encode_ids(docs, merges, vocab_rows, level="char")
    return out.select(
        "doc_id",
        F.array_join(
            F.transform("token_ids", lambda i: i.cast("string")), " "
        ).alias("ids_str"),
        "n_ids",
        "n_tokens",
    )


@register(
    "source_epoch_mix",
    f"""
    WITH n AS (
      SELECT doc_id, source,
             CASE WHEN source = 'src0' THEN 2 + (CASE WHEN {sql_hash_bucket("doc_id", "epoch")} < 5000 THEN 1 ELSE 0 END)
                  WHEN source = 'src1' THEN 0 + (CASE WHEN {sql_hash_bucket("doc_id", "epoch")} < 5000 THEN 1 ELSE 0 END)
                  ELSE 1 END AS n_copies
      FROM documents
    )
    SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS INT) AS epoch_copy
    FROM n WHERE n_copies > 0
    """,
)
def source_epoch_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch data mixing (operators/sampling
    epoch_oversample): src0 repeats at 2.5 epochs, src1 subsamples at
    0.5, everything else runs once — the standard pretraining recipe
    of up-weighting clean sources across the token budget, with zero
    RNG state (hash-fraction decides the fractional copy, so copy k of
    doc d is the same row on every run — stable downstream sharding).
    One hash + one explode(sequence) per row, zero shuffle; linear in
    OUTPUT size. The oracle replays bucket thresholds and copy
    ordinals exactly."""
    from py_data_pipeline_app_spark.operators.sampling import epoch_oversample

    docs = load_table(spark, "documents", sf_dir)
    return epoch_oversample(
        docs, {"src0": 2.5, "src1": 0.5}, default_epochs=1.0
    ).select("doc_id", "source", "epoch_copy")


@register(
    "training_set_curation_v2",
    f"""
    WITH raw AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN '{_HTML_PLANT_PREFIX}' || text || '{_HTML_PLANT_SUFFIX}'
                  ELSE text END AS t
      FROM documents
    ),
    cleaned AS (
      SELECT doc_id, source,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(t, '(?is)<script\\b[^>]*>.*?</script\\s*>',
                                    ' ', 'g'),
                     '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS text
      FROM raw
    ),
    {_ppl_core_ctes("cleaned")},
    with_src AS (
      SELECT a.doc_id, a.n_tokens, a.ce, c.source
      FROM agg a JOIN cleaned c USING (doc_id)
    ),
    per_src AS (
      SELECT source, count(*) AS sn, sum(ce::DECIMAL(18,6)) AS ss
      FROM with_src GROUP BY source
    ),
    overall AS (SELECT (sum(ss)::DOUBLE / sum(sn)) AS ov FROM per_src),
    rep AS (
      SELECT source,
             round(ss::DOUBLE / sn, 6) <= round(ov, 6) AS src_reputable
      FROM per_src, overall
    )
    SELECT w.source,
           CASE WHEN w.ce <= 3.41 THEN 'head'
                WHEN w.ce > 3.45 THEN 'tail'
                ELSE 'middle' END AS bucket,
           r.src_reputable,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w.n_tokens) AS BIGINT) AS total_tokens
    FROM with_src w JOIN rep r USING (source)
    GROUP BY w.source, bucket, r.src_reputable
    """,
)
def training_set_curation_v2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's passes composed end-to-end — the crawl-to-corpus v2
    pipeline: planted markup is stripped (HTML residue like '&' and
    '<fin>' survives as TOKENS), the cleaned text is scored by the
    corpus-trained unigram LM (the residue tokens are OOV, so
    ex-markup documents drift into the tail bucket — the passes
    reinforce each other), sources are reputation-flagged against the
    corpus mean, and the rollup reports (source, bucket, reputable)
    cohorts with document and token counts. ONE scoring pass feeds
    both the per-document buckets and the per-source reputation; the
    corpus shuffles only for the LM count, the per-doc rollup, and the
    final cohort aggregate."""
    from py_data_pipeline_app_spark.functions.text import strip_html
    from py_data_pipeline_app_spark.operators.curation import perplexity_buckets

    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(_HTML_PLANT_PREFIX), F.col("text"), F.lit(_HTML_PLANT_SUFFIX)
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cleaned = raw.select("doc_id", "source", strip_html("text").alias("text"))
    pb = perplexity_buckets(
        cleaned, vocab_size=32, head_cutoff=3.41, tail_cutoff=3.45
    ).select("doc_id", "n_tokens", "cross_entropy", "bucket")
    with_src = pb.join(cleaned.select("doc_id", "source"), "doc_id")
    per_src = with_src.groupBy("source").agg(
        F.count(F.lit(1)).alias("_sn"),
        F.sum(F.col("cross_entropy").cast("decimal(18,6)")).alias("_ss"),
    )
    overall = per_src.agg(
        (F.sum("_ss").cast("double") / F.sum("_sn")).alias("_ov")
    )
    rep = per_src.crossJoin(F.broadcast(overall)).select(
        "source",
        (
            F.round(F.col("_ss").cast("double") / F.col("_sn"), 6)
            <= F.round(F.col("_ov"), 6)
        ).alias("src_reputable"),
    )
    return (
        with_src.join(F.broadcast(rep), "source")
        .groupBy("source", "bucket", "src_reputable")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "user_retention_set_ops",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
         b AS (SELECT DISTINCT user_id FROM events
               WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
    SELECT 'retained' AS segment, CAST(count(*) AS BIGINT) AS n_users
      FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT 'churned', CAST(count(*) AS BIGINT)
      FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    UNION ALL
    SELECT 'new', CAST(count(*) AS BIGINT)
      FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
    """,
)
def user_retention_set_ops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort set algebra over event halves of the month: INTERSECT
    (retained), EXCEPT (churned), reverse EXCEPT (new) — the set
    operators the reference lacks (SURVEY §2.6).

    SINGLE-SCAN formulation (round-4 rewrite; the naive
    intersect/exceptAll version scanned ``events`` six times): one
    ``groupBy(user_id)`` computes per-user presence flags for both
    halves (map-side partial max over booleans), one tiny rollup
    counts the three flag combinations, and a 3-row literal frame
    left-join keeps empty segments at 0 — matching the
    always-3-rows contract of the per-leg aggregations. One shuffle
    on user_id, one scan of events; identical results to the set-op
    algebra, pinned by the unchanged oracle."""
    ev = load_table(spark, "events", sf_dir)
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("ts") < cut).cast("int")).alias("in_a"),
        F.max((F.col("ts") >= cut).cast("int")).alias("in_b"),
    )
    counted = (
        # null-ts-only users belong to neither half (both flags null),
        # exactly as they appeared in neither distinct set originally
        flags.where(F.col("in_a").isNotNull())
        .select(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), "retained")
            .when(F.col("in_a") == 1, "churned")
            .otherwise("new")
            .alias("segment")
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    segments = local_rows_df(
        spark, "segment string", [("retained",), ("churned",), ("new",)]
    )
    return segments.join(F.broadcast(counted), "segment", "left").select(
        "segment", F.coalesce(F.col("_n"), F.lit(0)).alias("n_users")
    )


@register(
    "event_user_distinct",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def event_user_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type. Spark plans distinct-agg
    as a two-level expand + hash aggregation (partial per partition,
    re-agg on the group key) — no global sort.

    Scale note: at 100 TB the exact distinct's expand doubles shuffle
    volume; the one-for-one swap is ``approx_count_distinct`` (HLL++,
    mergeable sketch, map-side combined — tested within 5% of exact in
    tests/test_sampling.py). The oracle pins the exact variant because
    sketch estimates are engine-specific."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "salted_segment_revenue",
    f"""
    SELECT c_mktsegment,
           {sql_money_sum('o_totalprice')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def salted_segment_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a SALTED shuffle join
    (operators/skew.salted_join, 8 salts from o_orderkey): each
    customer key is spread over 8 reducers, the customer side is
    exploded 8×. The oracle is the PLAIN join — proving the salted
    plan is row-for-row identical while immunizing the shuffle against
    whale-customer skew that AQE's partition splitting can't fix when
    a single key exceeds one task."""
    orders = load_table(spark, "orders", sf_dir).withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, "custkey", salt_from="o_orderkey", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        money_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Round 8 additions: cross-document boilerplate removal, containment
# near-dup, winnowing fingerprints, hard-negative mining.
# ---------------------------------------------------------------------------

# Planted per-source template chrome: the synthetic corpus has no
# naturally-shared lines (probed: zero (source, line) pairs with df>=2),
# so the query plants the thing the operator exists to remove — a
# cookie banner on doc_id % 7 == 0 and a per-source subscribe footer on
# doc_id % 5 == 0 (~5 and ~3-4 docs per 25-doc source at sf0.01, both
# over the min_df=3 bar). Same planted-input pattern as the
# _PLANTED_CORPUS_SQL embedding family; the Spark side and the oracle
# build the identical modified corpus, so the gate still value-hashes
# the operator end-to-end.
_BOILER_DOCS_SQL = """(
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0
              THEN 'Accept cookies to continue' || chr(10) ELSE '' END
         || text ||
         CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'Subscribe to the ' || source || ' newsletter!'
              ELSE '' END AS text
  FROM documents
)"""


def _with_planted_boilerplate(docs: DataFrame) -> DataFrame:
    """Spark twin of _BOILER_DOCS_SQL: same ids, same concatenation."""
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("Accept cookies to continue\n"),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("\nSubscribe to the "),
                    F.col("source"),
                    F.lit(" newsletter!"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "boilerplate_line_strip",
    f"""
    WITH docs2 AS (SELECT * FROM {_BOILER_DOCS_SQL}),
    split AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM docs2),
    lines0 AS (SELECT doc_id, source, ls,
                      unnest(range(1, len(ls) + 1)) AS pos
               FROM split),
    lines AS (SELECT doc_id, source, pos, ls[pos] AS line,
                     trim(regexp_replace(lower(ls[pos]), '\\s+', ' ', 'g')) AS norm
              FROM lines0),
    boiler AS (SELECT source, md5(norm) AS h
               FROM lines WHERE norm <> ''
               GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3),
    flagged AS (SELECT l.doc_id, l.pos, l.line,
                       (b.h IS NOT NULL AND l.norm <> '') AS is_b
                FROM lines l
                LEFT JOIN boiler b
                  ON l.source = b.source AND md5(l.norm) = b.h)
    SELECT doc_id,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE NOT is_b), '') AS text_clean,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM flagged GROUP BY doc_id
    """,
)
def boilerplate_line_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style cross-document boilerplate line removal
    (operators/curation.boilerplate_strip): lines appearing in ≥ 3
    distinct documents of the same source are template chrome and are
    dropped from ALL of them; documents are rebuilt in line order.
    Planted cookie-banner/newsletter lines (see _BOILER_DOCS_SQL)
    exercise both the per-source scoping and the drop-all semantics;
    the oracle replays the df-count, the flag join and the ordered
    rebuild exactly."""
    from py_data_pipeline_app_spark.operators.curation import boilerplate_strip

    docs = _with_planted_boilerplate(load_table(spark, "documents", sf_dir))
    return boilerplate_strip(docs, min_df=3)


# Planted truncated copies: a 40 %-prefix mirror of every 40th document
# (id + 2000000) — the subset-duplicate family containment exists for.
# Against its source it scores containment ≈ 1.0 but Jaccard ≈ 0.4,
# invisible to the registered jaccard-0.5 near-dup pass.
_CONTAIN_DOCS_SQL = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000,
         list_aggregate(ws[1:greatest((len(ws) * 2) // 5, 3)],
                        'string_agg', ' ')
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
        FROM documents)
  WHERE doc_id % 40 = 0
)"""


def _with_planted_prefix_copies(docs: DataFrame) -> DataFrame:
    """Spark twin of _CONTAIN_DOCS_SQL: same ids, same 40 %-prefix
    truncation arithmetic (integer 2n/5, floor 3 words)."""
    from py_data_pipeline_app_spark.functions.text import tokens as _toks

    base = docs.select("doc_id", "text")
    ws = _toks("text")
    # exact integer 2n/5 (DuckDB `//`): subtract the mod before dividing
    n2 = F.size(ws) * 2
    prefix_len = F.greatest(((n2 - n2 % 5) / 5).cast("int"), F.lit(3))
    planted = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, prefix_len), " ").alias("text"),
    )
    return base.unionByName(planted)


@register(
    "dedup_ngram_containment",
    f"""
    WITH docs2 AS (SELECT * FROM {_CONTAIN_DOCS_SQL}),
    toks AS (SELECT doc_id, {_SQL_WS} AS ws FROM docs2),
    sh0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(ws)-2, 1)+1),
               i -> list_aggregate(ws[i:i+2], 'string_agg', ' ')))) AS shingle
      FROM toks
    ),
    keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(nc::DOUBLE / least(sa.n, sb.n), 6) AS containment,
           round(nc::DOUBLE / (sa.n + sb.n - nc), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE round(nc::DOUBLE / least(sa.n, sb.n), 6) >= 0.8
    """,
)
def dedup_ngram_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram CONTAINMENT near-dup pairs at 0.8
    (operators/dedup.ngram_containment_pairs): detects
    subset/truncation duplicates — the planted 40 %-prefix mirrors
    (see _CONTAIN_DOCS_SQL) score containment ≈ 1.0 against their
    sources but Jaccard ≈ 0.4, below the registered jaccard pass's
    0.5 bar. Same inverted-index plan as dedup_ngram_jaccard (posting
    lists, df-cap, never a cross join); only the scoring differs, and
    the result carries both scores so downstream can split
    full-duplicate from subset-duplicate actions."""
    return ngram_containment_pairs(
        _with_planted_prefix_copies(load_table(spark, "documents", sf_dir)),
        n=3,
        threshold=0.8,
        max_df=100,
    )


@register(
    "doc_winnowing_fingerprints",
    """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(norm) - 15, 1) + 1),
               i -> ('0x' || substr(md5(substr(norm, i, 16)), 1, 15))
                      ::UBIGINT::BIGINT) AS gh
      FROM n
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN len(gh) <= 32 THEN [list_min(gh)]
                  ELSE list_transform(range(32, len(gh) + 1),
                                      p -> list_min(gh[p-31:p]))
             END AS mins
      FROM g
    )
    SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m
    """,
)
def doc_winnowing_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (functions/text.winnowing_fingerprints;
    Schleimer et al. SIGMOD 2003): char-16-gram hashes, window-32
    minima, distinct per document — the position-diverse overlap
    fingerprint (any shared passage ≥ window+gram-1 chars guarantees a
    shared fingerprint). Zero shuffles: normalize → gram-hash →
    window-min are all per-row higher-order array expressions; the
    oracle replays the identical hash and window arithmetic."""
    from py_data_pipeline_app_spark.functions.text import winnowing_fingerprints

    return winnowing_fingerprints(
        load_table(spark, "documents", sf_dir), gram=16, window=32
    )


@register(
    "hard_negative_topk",
    f"""
    SELECT query_id, vec_id, score, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round({_sql_cos('c.embedding', 'q.embedding')}, 9) AS score,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_sql_cos('c.embedding', 'q.embedding')}, 9) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings c
      JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
        ON c.label <> q.label
    ) WHERE rank <= 5
    """,
)
def hard_negative_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negative_topk):
    top-5 nearest different-label corpus vectors per query — the
    ANCE/DPR-style near-miss negatives for contrastive training. The
    labeled query set broadcasts; the corpus scans once with the
    label-mismatch filter applied before any cosine is computed."""
    from py_data_pipeline_app_spark.operators.similarity import hard_negative_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negative_topk(emb, queries, k=5)


@register(
    "winnowing_overlap_pairs",
    """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(norm) - 15, 1) + 1),
               i -> ('0x' || substr(md5(substr(norm, i, 16)), 1, 15))
                      ::UBIGINT::BIGINT) AS gh
      FROM n
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN len(gh) <= 32 THEN [list_min(gh)]
                  ELSE list_transform(range(32, len(gh) + 1),
                                      p -> list_min(gh[p-31:p]))
             END AS mins
      FROM g
    ),
    fps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
    keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
    f2 AS (SELECT fps.* FROM fps JOIN keep USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def winnowing_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap candidates (operators/dedup
    .winnowing_overlap_pairs): pairs of documents sharing ≥ 3 winnowing
    fingerprints — character-granular shared-passage detection. At
    sf0.01 the ≥3 bar keeps exactly the near-dup families (24 pairs)
    while 1,748 pairs share a single coincidental fingerprint. Same
    posting-list plan as the shingle family: fingerprints are per-row
    (zero-shuffle), one groupBy on the fingerprint, df-capped at 100,
    pair multiplicity IS the shared count."""
    from py_data_pipeline_app_spark.operators.dedup import winnowing_overlap_pairs

    return winnowing_overlap_pairs(
        load_table(spark, "documents", sf_dir),
        gram=16,
        window=32,
        min_shared=3,
        max_df=100,
    )

@register(
    "source_lang_pivot",
    """
    SELECT source,
           CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de,
           CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en,
           CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS es,
           CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS fr,
           CAST(count(*) FILTER (WHERE lang = 'zh') AS BIGINT) AS zh
    FROM documents
    GROUP BY source
    """,
)
def source_lang_pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (extension): per-source language mix as one wide row per
    source — the corpus-composition matrix every mixture report wants.

    Scale notes: the pivot values are pinned EXPLICITLY (the five
    corpus languages) — a high-cardinality or undiscovered pivot
    column is the classic pivot failure (row-width explosion, plus a
    distinct-discovery job when no values list is given). Even with
    pinned values, ``groupBy().pivot(values).count()`` plans TWO
    shuffles (a (source,lang) count agg, then a pivotfirst agg on
    source — verified via explain), so this query expands the pivot
    manually into conditional aggregates: one hash agg on ``source``,
    one Exchange, map-side combined — the plan you want at 100 TB,
    with identical semantics (plan-asserted single-shuffle in
    tests/test_relational_shapes.py). Languages outside the pinned
    list are dropped by contract (document them or add a residual
    bucket); cells with no documents are true 0s, not nulls."""
    docs = load_table(spark, "documents", sf_dir).select("source", "lang")
    langs = ["de", "en", "es", "fr", "zh"]
    return docs.groupBy("source").agg(
        *[
            F.count(F.when(F.col("lang") == lg, F.lit(1))).alias(lg)
            for lg in langs
        ]
    )


@register(
    "churned_high_balance_customers",
    """
    WITH cutoff AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / count(c_acctbal) AS m
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_balance
    FROM customer, cutoff
    WHERE c_acctbal > m
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_mktsegment
    """,
)
def churned_high_balance_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join + scalar-aggregate cutoff (TPC-H Q22 shape, extension):
    well-funded customers (balance above the positive-balance average)
    with NO order since 2000-01-01 — the churn list a re-engagement
    campaign would pull — summarized per market segment.

    Scale notes: the NOT EXISTS becomes a LEFT ANTI join in Spark; the
    date predicate sits on the anti side's scan, so it is pushed down
    to the orders parquet read (min/max rowgroup skipping) BEFORE the
    join — the anti side shrinks from all orders to recent orders at
    I/O time. Both sides then shuffle on the key — correct and linear
    at 100 TB; were the filtered customer side small, AQE would flip
    it to broadcast from runtime stats. The balance cutoff is a
    one-row aggregate broadcast into the filter, computed as exact
    decimal sum followed by ONE double division so both engines see
    bit-identical cutoffs — a naive double avg() is summation-order
    dependent and can flip customers sitting exactly at the
    boundary."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    recent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    cutoff = cust.filter(F.col("c_acctbal") > 0).agg(
        (dec_sum("c_acctbal").cast("double") / F.count("c_acctbal")).alias("m")
    )
    return (
        cust.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("m"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum("c_acctbal").alias("total_balance"),
        )
    )

# The pinned linear quality model's oracle recomputes the six features
# in DuckDB and applies the identical fixed-order dot product; the
# stopword literal is generated from the SAME frozen list the Spark
# scorer uses, so the two engines cannot drift.
from py_data_pipeline_app_spark.operators.quality_model import (  # noqa: E402
    PINNED_BIAS as _QB,
    PINNED_WEIGHTS as _QW,
)

_SQL_ALL_STOP = "(" + ",".join(
    f"'{w}'"
    for w in __import__(
        "py_data_pipeline_app_spark.operators.quality_model",
        fromlist=["_ALL_STOPWORDS"],
    )._ALL_STOPWORDS
) + ")"


# Shared quality-score CTE chain (ends in qscore(doc_id, quality_z)):
# the pinned linear scorer recomputed in DuckDB — used by the
# quality_linear_scores oracle and composed into the cluster-canonical
# oracle (both engines share one derivation of the score).
_QUALITY_SCORE_CTES = f"""tok AS (
      SELECT doc_id, unnest({_SQL_WS}) AS tok FROM documents
    ),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    sim AS (
      SELECT doc_id,
             sum(c) AS n,
             sum(c * c) AS c2,
             count(*) AS n_types,
             sum(CASE WHEN lower(tok) IN {_SQL_ALL_STOP} THEN c ELSE 0 END)
               AS stop_hits
      FROM tc GROUP BY doc_id
    ),
    feat AS (
      SELECT s.doc_id,
             round(ln(s.n + 1.0), 6) AS f1,
             round(s.n_types::DOUBLE / s.n, 6) AS f2,
             round(1.0 - s.c2::DOUBLE / (s.n * s.n)::DOUBLE, 6) AS f5,
             round(s.stop_hits::DOUBLE / s.n, 6) AS f6
      FROM sim s
    ),
    qscore AS (
      SELECT doc_id,
             round({_QB!r}
                   + f1 * ({_QW["f_log_tokens"]!r})
                   + f2 * ({_QW["f_distinct_ratio"]!r})
                   + f5 * ({_QW["f_simpson"]!r})
                   + f6 * ({_QW["f_stopword_share"]!r}), 6) AS quality_z
      FROM feat
    )"""


@register(
    "quality_linear_scores",
    f"""
    WITH {_QUALITY_SCORE_CTES}
    SELECT doc_id, quality_z, quality_z > 0.0 AS predicted_good
    FROM qscore
    """,
)
def quality_linear_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quality-model scoring at scan cost (extension —
    operators/quality_model.py): every document scored by the PINNED
    logistic-regression coefficient vector of a seeded Spark ML fit, as
    pure native-column arithmetic — no model object, no UDF, no
    shuffle; the scorer IS a projection.

    The fit was iterative (no SQL oracle by nature), but once its
    coefficients are pinned, SCORING is fully SQL-expressible and
    carries a full value-hash oracle. Determinism comes from rounding
    each feature to 6dp before a fixed-order dot product (see
    score_quality_linear docstring); at 100 TB the scorer still costs
    exactly one scan of (doc_id, text)."""
    from py_data_pipeline_app_spark.operators.quality_model import (
        score_quality_linear,
    )

    return score_quality_linear(load_table(spark, "documents", sf_dir))


@register(
    "dedup_canonical_by_quality",
    f"""
    WITH RECURSIVE {_NGRAM_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM njpairs
      UNION
      SELECT id_b, id_a FROM njpairs
    ),
    reach(node, m) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src
    ),
    comp AS (
      SELECT node AS doc_id, least(node, min(m)) AS component_id
      FROM reach GROUP BY node
    ),
    {_QUALITY_SCORE_CTES},
    member AS (
      SELECT d.doc_id,
             coalesce(c.component_id, d.doc_id) AS component_id,
             q.quality_z
      FROM documents d
      LEFT JOIN comp c USING (doc_id)
      JOIN qscore q ON q.doc_id = d.doc_id
    ),
    canon AS (
      SELECT component_id, doc_id AS canonical_id FROM (
        SELECT component_id, doc_id,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY quality_z DESC, doc_id) AS rn
        FROM member
      ) WHERE rn = 1
    )
    SELECT m.doc_id, m.component_id, c.canonical_id, m.quality_z,
           m.doc_id = c.canonical_id AS is_canonical
    FROM member m JOIN canon c USING (component_id)
    """,
)
def dedup_canonical_by_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection for near-dup clusters
    (operators/dedup cluster_canonicals): trigram-Jaccard pairs →
    connected components → every document assigned its cluster
    (singletons are their own), then ONE max_by aggregation per
    component picks the highest-quality member (pinned linear scorer,
    6dp-rounded so the argmax is engine-deterministic; ties to lowest
    id) as the copy to KEEP — the policy production dedup wants
    instead of lowest-id-survives, which keeps an arbitrary (often
    truncated or boilerplated) family member. The oracle recomputes
    transitive closure (recursive CTE), the quality score (shared
    CTE chain with quality_linear_scores), and the per-cluster argmax
    end-to-end."""
    from py_data_pipeline_app_spark.operators.dedup import (
        cluster_canonicals,
        ngram_jaccard_pairs,
    )
    from py_data_pipeline_app_spark.operators.quality_model import (
        score_quality_linear,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100)
    scores = score_quality_linear(docs)
    return cluster_canonicals(docs, pairs, scores)


@register(
    "training_set_curation_semantic",
    f"""
    WITH corpus AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> embedding[i]::DOUBLE) AS embedding
      FROM embeddings
    ),
    hk AS (
      SELECT vec_id, embedding,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
               AS _hk
      FROM corpus
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY _hk) - 1 AS centroid_id, embedding AS cvec
      FROM hk ORDER BY _hk LIMIT 16
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC,
                                           c.centroid_id) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    sem_dropped AS (
      SELECT DISTINCT b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE round({_sql_cos('a.embedding', 'b.embedding')}, 9) >= 0.9
    ),
    verdict AS (
      SELECT s.vec_id AS doc_id, d.id_b IS NULL AS kept
      FROM assigned s LEFT JOIN sem_dropped d ON s.vec_id = d.id_b
    ),
    {_QUALITY_SCORE_CTES},
    labeled AS (
      SELECT d.doc_id, d.source,
             {sql_hash_split_case('d.doc_id', SPLIT_WEIGHTS)} AS split,
             coalesce(v.kept, TRUE) AS kept,
             q.quality_z > 0.0 AS good,
             s.n AS n_tokens
      FROM documents d
      LEFT JOIN verdict v USING (doc_id)
      JOIN qscore q ON q.doc_id = d.doc_id
      JOIN sim s ON s.doc_id = d.doc_id
    )
    SELECT split, source,
           CAST(sum(CASE WHEN kept AND good THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_semantic,
           CAST(sum(CASE WHEN kept AND NOT good THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_quality,
           CAST(sum(CASE WHEN kept AND good THEN n_tokens ELSE 0 END) AS BIGINT)
             AS retained_tokens
    FROM labeled GROUP BY split, source
    """,
)
def training_set_curation_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING-side curation composition (the v2 pipeline's text
    passes have a semantic sibling now that round 9 gave SemDeDup its
    full lifecycle): semantic near-dup verdicts over the embedding
    table (zero-shuffle assignment, within-cluster pairs only) join
    the document table on the shared id space — documents without an
    embedding pass through kept (coalesce TRUE, the honest default
    for a partially-embedded corpus: 2000 of 5000 docs carry vectors
    at sf0.1) — then the pinned linear quality scorer gates survivors
    and a deterministic hash split buckets what remains. Output: per
    (split, source) retention accounting — retained docs/tokens plus
    the two drop reasons separately, the numbers a data-mixture
    planner actually consumes. One corpus scan for quality, one for
    tokens (shared), the verdict and reputation frames broadcast."""
    from py_data_pipeline_app_spark.functions.text import tokens as _tokens
    from py_data_pipeline_app_spark.operators.quality_model import (
        score_quality_linear,
    )
    from py_data_pipeline_app_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    verdict = semantic_dedup(emb, threshold=0.9, n_centroids=16).select(
        F.col("vec_id").alias("doc_id"), "kept"
    )
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id", "source", F.size(_tokens("text")).alias("n_tokens")
    )
    scored = score_quality_linear(docs).select("doc_id", "quality_z")
    labeled = (
        base.join(F.broadcast(verdict), "doc_id", "left")
        .withColumn("kept", F.coalesce(F.col("kept"), F.lit(True)))
        .join(scored, "doc_id")
        .withColumn("good", F.col("quality_z") > 0.0)
    )
    labeled = hash_split(labeled, "doc_id", SPLIT_WEIGHTS)
    kept_good = F.col("kept") & F.col("good")
    return labeled.groupBy("split", "source").agg(
        F.sum(F.when(kept_good, 1).otherwise(0)).alias("n_retained"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_dropped_semantic"),
        F.sum(F.when(F.col("kept") & ~F.col("good"), 1).otherwise(0)).alias(
            "n_dropped_quality"
        ),
        F.sum(F.when(kept_good, F.col("n_tokens")).otherwise(0)).alias(
            "retained_tokens"
        ),
    )


@register(
    "interval_window_attribution",
    f"""
    WITH w AS (
      SELECT event_type AS window_type,
             min(ts) AS win_start,
             min(ts) + INTERVAL 72 HOUR AS win_end
      FROM events GROUP BY event_type
    )
    SELECT window_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           {sql_money_sum('value')} AS sum_value
    FROM events e
    JOIN w ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY window_type
    """,
)
def interval_window_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join via the bin-bucketed interval_join operator
    (extension — operators/temporal.py): per event type, the 72-hour
    "launch window" starting at its first occurrence; every event is
    attributed to every window containing its timestamp (overlap =
    multi-attribution), then rolled up per window.

    The oracle expresses it as the naive theta-join (``ts BETWEEN``)
    — which in Spark would plan as BroadcastNestedLoopJoin testing
    every event against every window. interval_join instead explodes
    each window into the 6-hour bins it overlaps (~12 per window) and
    equi-joins on the bin, so an event is only checked against windows
    sharing its bin. Same rows — the gate proves it — different
    asymptotics: candidate pairs scale with bin co-occupancy, not
    |events| x |windows|. At 100 TB the (bin) shuffle is AQE
    skew-splittable like any equi-join."""
    from py_data_pipeline_app_spark.operators.temporal import interval_join

    events = load_table(spark, "events", sf_dir)
    wins = (
        events.groupBy("event_type")
        .agg(F.min("ts").alias("win_start"))
        .select(
            F.col("event_type").alias("window_type"),
            "win_start",
            (F.col("win_start") + F.expr("INTERVAL 72 HOURS")).alias("win_end"),
        )
    )
    facts = events.select("event_id", "user_id", "ts", "value")
    joined = interval_join(
        facts,
        wins,
        fact_ts="ts",
        start_col="win_start",
        end_col="win_end",
        bin_seconds=21600,
    )
    return joined.groupBy("window_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        money_sum("value").alias("sum_value"),
    )


_PROFILE_COLS = [
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


def _profile_oracle() -> str:
    def one(c: str) -> str:
        if c == "l_shipdate":
            mn = "strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S')"
            mx = "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')"
        elif c in ("l_returnflag", "l_linestatus"):
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        else:
            mn = f"CAST(CAST(min({c}) AS DECIMAL(18,6)) AS VARCHAR)"
            mx = f"CAST(CAST(max({c}) AS DECIMAL(18,6)) AS VARCHAR)"
        return f"""
        SELECT '{c}' AS column_name,
               CAST(count({c}) AS BIGINT) AS n_present,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               {mn} AS min_value,
               {mx} AS max_value
        FROM lineitem"""

    return " UNION ALL ".join(one(c) for c in _PROFILE_COLS)


@register("lineitem_column_profile", _profile_oracle())
def lineitem_column_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of lineitem in ONE aggregation job
    (extension — operators/profile.py): per column, presence/null/
    exact-distinct counts and stringified min/max. The oracle is six
    UNION ALL'd single-column profiles; Spark computes all six columns
    in one scan + one agg, then unpivots with stack. Registered with
    exact distincts (cross-engine verifiable; Expand-factor 7 at test
    scale); the 100 TB flip is ``exact=False`` → HyperLogLog++ on the
    ordinary partial-agg path, documented in the operator."""
    from py_data_pipeline_app_spark.operators.profile import profile_columns

    return profile_columns(
        load_table(spark, "lineitem", sf_dir), _PROFILE_COLS, exact=True
    )


@register(
    "shipping_priority_top10",
    f"""
    SELECT l.l_orderkey AS o_orderkey,
           {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate ASC, o_orderkey ASC
    LIMIT 10
    """,
)
def shipping_priority_top10_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority (extension — relational
    breadth): BUILDING-segment customers' orders placed before a cutoff
    with lineitems shipped after it, top-10 order revenues. Three-table
    join where BOTH dimension filters cut before the shuffle (predicate
    pushdown reaches the parquet scans), aggregation keyed on the
    already-shuffled l_orderkey, and the top-10 is a TakeOrdered (no
    global sort materialization). Tie-break (orderdate, orderkey) makes
    the limit deterministic cross-engine."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > cutoff)
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
        .join(cust, orders["o_custkey"] == cust["c_custkey"], "inner")
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(
            F.col("revenue").desc(), F.col("orderdate").asc(), F.col("o_orderkey").asc()
        )
        .limit(10)
    )


@register(
    "order_priority_lateness",
    f"""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_late,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_late,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
)
def order_priority_lateness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped lateness breakdown (extension — relational
    breadth): lineitems shipped >30 days after their order date,
    split into high- vs low-priority order counts per return flag —
    the conditional-aggregation (pivot-in-agg) idiom. One fact-fact
    equi-join on the natural key + one 3-group agg; both conditions
    are native column expressions inside the aggregate, so the whole
    thing is two shuffles and stays in whole-stage codegen."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high & late, 1).otherwise(0)).alias("high_late"),
        F.sum(F.when(~high & late, 1).otherwise(0)).alias("low_late"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "view_click_attribution",
    f"""
    WITH v AS (
      SELECT user_id, ts AS l_ts FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT user_id, ts AS r_ts, value FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(date_diff('microsecond', v.l_ts, c.r_ts)) AS BIGINT)
             AS min_gap_us,
           {sql_money_sum('c.value')} AS attributed_value
    FROM v JOIN c
      ON v.user_id = c.user_id
     AND c.r_ts >= v.l_ts
     AND c.r_ts <= v.l_ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
)
def view_click_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the stream-stream event-time join (extension —
    streaming/joins.py): every (view, click) pair of the same user
    with the click inside 30 minutes of the view, rolled up per user.
    The SAME builder runs on two live streams — watermarked, with the
    time-range bound letting Spark evict join state past
    ``watermark + max_delay`` — and its accumulated output equals this
    batch run (parity-tested in tests/test_streaming_joins.py; inner
    stream-stream joins emit matches eagerly, the watermark only
    bounds state). Plan-wise the range bound rides as a residual
    predicate on a plain user-keyed equi-join: one shuffle per side,
    AQE-splittable, clicks-per-view fan-out bounded by the window."""
    from py_data_pipeline_app_spark.streaming.joins import view_click_pairs

    pairs = view_click_pairs(load_table(spark, "events", sf_dir))
    gap_us = F.unix_micros(F.col("r_ts").cast("timestamp")) - F.unix_micros(
        F.col("l_ts").cast("timestamp")
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(gap_us).alias("min_gap_us"),
        money_sum("r_value").alias("attributed_value"),
    )


@register(
    "nation_market_share",
    f"""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)')}
               AS nation_revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, nation_revenue,
           round(nation_revenue /
                 CAST(sum(CAST(nation_revenue AS DECIMAL(18,6))) OVER
                        (PARTITION BY region) AS DOUBLE), 6) AS region_share
    FROM rev
    """,
)
def nation_market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share (extension — relational breadth):
    each nation's revenue as a share of its region's total. The
    share denominator is a WINDOW over the aggregate — sum(revenue)
    OVER (PARTITION BY region) on the ~25-row agg result — so the
    full fact volume is reduced FIRST (broadcast snowflake joins +
    one keyed agg) and the window runs on a frame that fits in one
    task regardless of input scale. Division happens once, on
    doubles, then HALF_UP-rounded to 6dp for cross-engine hashing."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "nation_revenue"
            )
        )
    )
    w = Window.partitionBy("region")
    denom = F.sum(F.col("nation_revenue").cast("decimal(18,6)")).over(w).cast(
        "double"
    )
    return rev.withColumn(
        "region_share", F.round(F.col("nation_revenue") / denom, 6)
    )


@register(
    "daily_value_trend",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             {sql_money_sum('value')} AS day_value,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY CAST(ts AS DATE)
    ), win AS (
      SELECT day, day_value, n_events,
             sum(CAST(CAST(day_value AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER w AS s100,
             count(*) OVER w AS n
      FROM d
      WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                         AND CURRENT ROW)
    )
    SELECT day, day_value, n_events,
           CAST((2 * s100 + n) // (2 * n) AS DOUBLE) / 100 AS ma7
    FROM win
    """,
)
def daily_value_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series smoothing (extension — window-frame breadth): daily
    event value totals with a 7-day trailing moving average via a
    RANGE frame keyed on the date — the frame follows the time axis,
    so missing days shrink the window rather than silently stretching
    it (the rows-frame bug). The heavy lift is the per-day agg (one
    keyed shuffle, map-side partials); the window then runs over one
    row per day — ~36,500 rows per century, driver-scale forever, so
    the unpartitioned sort is not a 100 TB concern.

    ma7 is computed in INTEGER CENTS: the day values are exact 2dp, so
    the window sum ×100 is an exact BIGINT and round-half-up of s/n is
    ``(2s + n) div (2n)`` — pure integer arithmetic both engines agree
    on bit-for-bit. The earlier ``round(double_sum / n, 2)`` formula
    diverged at sf0.1: a quotient landing on a .xx5 boundary rounds up
    through Java's shortest-decimal HALF_UP and down through DuckDB's
    binary-value rounding (the measured '164370.9' vs '164370.89' —
    the same double-rounding class money_sum exists to avoid). Cents
    sums are nonnegative here; at negative values Spark's ``div``
    truncates where DuckDB's ``//`` floors, so a signed reuse would
    need the floor form on both sides."""
    events = load_table(spark, "events", sf_dir)
    d = (
        events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            money_sum("value").alias("day_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w = (
        Window.orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, Window.currentRow)
    )
    cents = (F.col("day_value").cast("decimal(18,2)") * 100).cast("long")
    win = d.withColumn("_s100", F.sum(cents).over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(w)
    )
    return win.select(
        "day",
        "day_value",
        "n_events",
        F.expr("CAST((2 * _s100 + _n) DIV (2 * _n) AS DOUBLE) / 100").alias(
            "ma7"
        ),
    )


@register(
    "small_quantity_order_revenue",
    f"""
    WITH pa AS (
      SELECT l_partkey,
             0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                    / count(l_quantity)) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           {sql_money_sum('l.l_extendedprice')} AS small_lot_revenue,
           CAST(count(*) AS BIGINT) AS n_small_lots
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity < pa.half_avg
    GROUP BY p.p_brand
    """,
)
def small_quantity_order_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated-aggregate filter (extension —
    relational breadth): revenue from lineitems whose quantity is
    below half their part's average, rolled up by brand. The
    correlated scalar subquery decorrelates into a per-part aggregate
    re-joined to the fact — both sides shuffle on l_partkey, and AQE
    can pick a broadcast for the k-row aggregate side (|parts| ~
    |lineitem|/30). The half-average compares EXACTLY as the oracle
    does: decimal sum / count, halved once, one double comparison —
    no per-row rounding drift."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    pa = li.groupBy("l_partkey").agg(
        (
            0.5
            * (
                dec_sum("l_quantity").cast("double")
                / F.count("l_quantity")
            )
        ).alias("half_avg")
    ).withColumnRenamed("l_partkey", "pa_partkey")
    return (
        li.join(pa, li["l_partkey"] == pa["pa_partkey"])
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            money_sum("l_extendedprice").alias("small_lot_revenue"),
            F.count(F.lit(1)).alias("n_small_lots"),
        )
    )


@register(
    "customer_spend_deciles",
    f"""
    WITH spend AS (
      SELECT o_custkey, {sql_money_sum('o_totalprice')} AS spend
      FROM orders GROUP BY o_custkey
    ),
    rn AS (
      SELECT *,
             row_number() OVER (ORDER BY spend DESC, o_custkey) AS rn,
             count(*) OVER () AS n
      FROM spend
    )
    SELECT CAST(floor((rn - 1) * 10 / n) + 1 AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           {sql_money_sum('spend')} AS total_spend,
           max(spend) AS top_spend,
           min(spend) AS bottom_spend
    FROM rn GROUP BY decile
    """,
)
def customer_spend_deciles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth spend deciles (extension — the ntile-class window op):
    per-customer order spend, bucketed into 10 equal-depth tiers of the
    (spend desc, custkey) total order, rolled up per tier — the
    marketing-segmentation / quality-tiering primitive. Both engines
    run the same plan: ``row_number()`` over that order and
    ``count(*)`` over the whole relation, bucket
    ``floor((rn - 1) * 10 / n) + 1``. Sizes differ by at most one and
    the remainder rows spread across tiers (exact ``ntile()``
    front-loads them). Tie-break o_custkey makes the order total, so
    both engines agree row-for-row."""
    orders = load_table(spark, "orders", sf_dir)
    spend = orders.groupBy("o_custkey").agg(
        money_sum("o_totalprice").alias("spend")
    )
    rn = F.row_number().over(
        Window.orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
    )
    n = F.count(F.lit(1)).over(Window.partitionBy())
    decile = (F.floor((rn - 1) * 10 / n).cast("int") + 1).alias("decile")
    return spend.select("spend", decile).groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        money_sum("spend").alias("total_spend"),
        F.max("spend").alias("top_spend"),
        F.min("spend").alias("bottom_spend"),
    )


@register(
    "top_revenue_suppliers",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             {sql_money_sum('l_extendedprice * (1 - l_discount)')}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def top_revenue_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier (extension — relational breadth):
    the supplier(s) with the maximum quarterly revenue, TIES KEPT — the
    global-argmax-via-scalar-subquery idiom, distinct from the
    row_number()-based per-group argmax (`top_spender_per_category`)
    because equality against the max preserves every tied row without
    any window sort. Decorrelated Spark-first: one keyed agg builds the
    per-supplier revenues, a two-phase global max folds them to ONE row
    (map-side partials — never a single-partition sort), and the
    winners re-enter as a broadcast equi-join on the revenue value;
    supplier then joins the ≤|ties| winner rows broadcast, so the
    supplier table never shuffles. The max comparison is exact because
    total_revenue is decimal-summed then HALF_UP-rounded identically in
    both engines — comparing raw double sums would be summation-order
    dependent and could disagree on the argmax itself."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    rev = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    best = rev.agg(F.max("total_revenue").alias("_best"))
    winners = rev.join(
        F.broadcast(best), rev["total_revenue"] == best["_best"], "inner"
    ).select("l_suppkey", "total_revenue")
    return sup.join(
        F.broadcast(winners), sup["s_suppkey"] == winners["l_suppkey"], "inner"
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "promo_part_suppliers",
    """
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
           CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_type = 'PROMO' AND p.p_size >= 25 AND l.l_quantity >= 49
    )
    """,
)
def promo_part_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped qualifying-supplier lookup (extension —
    relational breadth): suppliers that shipped at least one large lot
    of a big PROMO part — the EXISTS/IN idiom, executed as LEFT SEMI
    joins, the one join shape no other registered query exercises. Semi
    joins are the scale answer to "has at least one match": the probe
    side emits each row AT MOST once and the match side's fan-out is
    never materialized (an inner-join-then-distinct would shuffle the
    full match multiplicity first). Two semis here: lineitem ⋉
    broadcast(filtered part) qualifies fact rows with zero shuffle
    (both part filters pushed to its scan), then supplier ⋉ qualifying
    suppkeys — at 100 TB that semi shuffles only (suppkey) pairs, and
    AQE turns it into a broadcast when the qualifying set collapses
    small. acctbal passes through decimal(18,2) per the registry's
    double-formatting convention."""
    sup = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    part = (
        load_table(spark, "part", sf_dir)
        .filter((F.col("p_type") == "PROMO") & (F.col("p_size") >= 25))
        .select("p_partkey")
    )
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_quantity") >= 49)
        .select("l_suppkey", "l_partkey")
    )
    qualifying = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"], "left_semi"
    ).select("l_suppkey")
    return (
        sup.join(
            qualifying, sup["s_suppkey"] == qualifying["l_suppkey"], "left_semi"
        )
        .join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("s_acctbal").cast("decimal(18,2)").cast("double").alias("acctbal"),
        )
    )

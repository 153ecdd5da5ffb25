"""A1-A4/W1/P6/P7 unit tests on tiny frames (SURVEY.md §5.2.4)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.scalar import (
    excel_serial_to_date,
    excel_serial_to_timestamp,
    money_round,
    null_safe_double,
)
from py_data_pipeline_app_spark.operators.aggregates import (
    category_totals,
    customer_spend_summary,
    top_spender_per_category,
)
from py_data_pipeline_app_spark.operators.enrich import enrich_transactions


def _merged(spark):
    return spark.createDataFrame(
        [
            Row(customer_id="C1", name="A", category="X", amount="10.005"),
            Row(customer_id="C1", name="A", category="X", amount="5.00"),
            Row(customer_id="C1", name="A", category="Y", amount="garbage"),
            Row(customer_id="C2", name="B", category="X", amount="15.005"),
            Row(customer_id="C3", name="C", category="Y", amount=None),
        ]
    )


def test_null_on_error_cast_skipped_by_sum(spark):
    """P6: garbage → NULL (to_numeric coerce analog); A1: sum skips NULLs."""
    ct = category_totals(_merged(spark))
    vals = {(r.customer_id, r.category): r.amount for r in ct.collect()}
    assert vals[("C1", "X")] == 15.005
    assert vals[("C1", "Y")] is None  # only-garbage group sums to NULL
    assert vals[("C3", "Y")] is None


def test_half_even_rounding(spark):
    """P7: pandas .round(2) is banker's — 10.005→10.0 region handled via
    bround; exact-representable ties round to even."""
    df = spark.range(1).select(
        money_round(F.lit(0.125)).alias("a"),
        money_round(F.lit(0.135)).alias("b"),
        F.round(F.lit(0.125), 2).alias("half_up"),
    )
    r = df.collect()[0]
    assert r.a == 0.12 and r.b == 0.14 and r.half_up == 0.13


def test_spend_summary_rank_on_rounded_ties(spark):
    """W1: dense_rank computed AFTER rounding (app.py:140 before :141),
    so post-round ties share a rank."""
    ct = spark.createDataFrame(
        [
            Row(customer_id="C1", name="A", category="X", amount=10.001),
            Row(customer_id="C2", name="B", category="X", amount=10.002),
            Row(customer_id="C3", name="C", category="X", amount=5.0),
        ]
    )
    rows = customer_spend_summary(ct).collect()
    by_id = {r.customer_id: r for r in rows}
    assert by_id["C1"].amount == by_id["C2"].amount == 10.0
    assert by_id["C1"].rank == by_id["C2"].rank == 1
    assert by_id["C3"].rank == 2  # dense: no gap


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def test_spend_summary_matches_python_dense_rank_and_builds_without_jobs(spark):
    """W1 on 240 customers over six partitions: rows and order equal a
    pure-Python dense rank (amount descending, NULL total last, then
    customer_id). Amounts carry a third decimal of 1 or 2, so rounding
    is never a half tie and many customers share a rounded total. One
    customer's amounts are all garbage (NULL total, last tier); one
    mixes garbage with a number (the sum skips the NULL).

    Building the summary must launch no job: the frame goes to the
    driver whole, so its rank is a plain window; a range-partitioned
    rank behind ``localCheckpoint`` runs its sampling and shuffle
    stages at build time under AQE."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(240):
        cid = f"C{i:03d}"
        for cat in rng.sample(["X", "Y", "Z"], rng.randint(1, 2)):
            amount = f"{rng.randint(1, 20)}.00{rng.randint(1, 2)}"
            rows.append((cid, f"N{i}", cat, amount))
    rows.append(("C900", "garbage-only", "X", "N/A"))
    rows.append(("C900", "garbage-only", "Y", "oops"))
    rows.append(("C901", "half-garbage", "X", "N/A"))
    rows.append(("C901", "half-garbage", "Y", "3.001"))
    merged = spark.createDataFrame(
        rows, "customer_id string, name string, category string, amount string"
    ).repartition(6)

    totals: dict[tuple[str, str], float | None] = {}
    for cid, name, _cat, amount in rows:
        try:
            v = float(amount)
        except ValueError:
            v = None
        prev = totals.get((cid, name))
        totals[(cid, name)] = prev if v is None else (prev or 0.0) + v
    rounded = {k: None if v is None else round(v, 2) for k, v in totals.items()}
    tiers = sorted({v for v in rounded.values() if v is not None}, reverse=True)
    tier = {v: r for r, v in enumerate(tiers, start=1)}
    expected = sorted(
        (
            (cid, name, amt, len(tiers) + 1 if amt is None else tier[amt])
            for (cid, name), amt in rounded.items()
        ),
        key=lambda t: (t[3], t[0]),
    )
    assert len(tiers) < len(expected) // 4  # heavy ties after rounding

    before = _job_ids(spark)
    summary = customer_spend_summary(category_totals(merged))
    built = _job_ids(spark) - before
    assert not built, f"building the summary ran jobs {sorted(built)}"

    got = [tuple(r) for r in summary.collect()]
    assert got == expected
    assert summary.columns == ["customer_id", "name", "amount", "rank"]
    assert dict(summary.dtypes)["rank"] == "int"
    assert got[-1][:2] == ("C900", "garbage-only") and got[-1][2] is None


def test_registry_ranks_build_without_jobs(spark, sf_dir):
    """``customer_spend_ranking`` and ``customer_spend_deciles`` rank
    with plain windows, so building either frame runs no job. Each is
    built once first: ``load_table``'s first read of a table infers
    its schema with one job."""
    from py_data_pipeline_app_spark.plans.queries import QUERIES

    for name in ("customer_spend_ranking", "customer_spend_deciles"):
        QUERIES[name](spark, sf_dir)
        before = _job_ids(spark)
        QUERIES[name](spark, sf_dir)
        built = _job_ids(spark) - before
        assert not built, f"building {name} ran jobs {sorted(built)}"


def test_top_spender_tie_break_first_occurrence(spark):
    """A3: pandas idxmax takes the first occurrence in (customer_id,
    name, category)-sorted order ⇒ ascending customer_id tie-break."""
    ct = spark.createDataFrame(
        [
            Row(customer_id="C9", name="Z", category="X", amount=10.0),
            Row(customer_id="C1", name="A", category="X", amount=10.0),
        ]
    )
    rows = top_spender_per_category(ct).collect()
    assert len(rows) == 1 and rows[0].customer_id == "C1"


def test_enrich_inner_drops_unknown_keys_and_dedups_dim(spark):
    txn = spark.createDataFrame(
        [
            Row(transaction_id="T1", customer_id="C1", product_code="P1", amount="5"),
            Row(transaction_id="T2", customer_id="C1", product_code="P?", amount="6"),
            Row(transaction_id="T3", customer_id="C?", product_code="P1", amount="7"),
        ]
    )
    products = spark.createDataFrame([Row(product_code="P1", category="X")])
    customers = spark.createDataFrame(
        [
            Row(customer_id="C1", name="A", address="old", _sheet_pos=0),
            Row(customer_id="C1", name="A", address="new", _sheet_pos=1),
        ]
    )
    out = enrich_transactions(txn, products, customers)
    rows = out.collect()
    # unknown product + unknown customer dropped; dup dim deduped (no fan-out)
    assert [r.transaction_id for r in rows] == ["T1"]
    assert rows[0].address == "new"

    strict = enrich_transactions(txn, products, customers, strict_compat=True)
    assert strict.count() == 2  # fan-out preserved in compat mode


def test_excel_serial_codecs(spark):
    r = (
        spark.range(1)
        .select(
            excel_serial_to_date(F.lit(45227)).alias("d"),
            excel_serial_to_timestamp(F.lit("43899.6575694444")).alias("ts"),
            null_safe_double(F.lit("abc")).alias("bad"),
            null_safe_double(F.lit("1.5")).alias("good"),
        )
        .collect()[0]
    )
    assert str(r.d) == "2023-10-28"
    assert str(r.ts) == "2020-03-09 15:46:54"
    assert r.bad is None and r.good == 1.5

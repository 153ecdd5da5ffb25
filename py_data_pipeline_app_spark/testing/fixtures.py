"""Deterministic synthetic workbook fixtures (FIXTURES.md F1-F3).

Regenerates the *shape* of the reference's sample workbook — 3 sheets,
duplicate customer ids with changed addresses, malformed blob rows,
garbage amounts, dangling FKs — without copying any reference data.
Everything is seeded: same inputs ⇒ same rows, so golden assertions
hold across runs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.functions.frames import local_rows_df

PRODUCTS = [
    ("P001", "Protein Powder", "Supplements", "55"),
    ("P002", "Yoga Mat", "Fitness", "40"),
    ("P003", "Water Bottle", "Accessories", "25"),
    ("P004", "Dumbbells Set", "Equipment", "100"),
    ("P005", "Treadmill", "Equipment", "950"),
    ("P006", "Resistance Bands", "Fitness", "30"),
    ("P007", "Multivitamins", "Supplements", "20"),
    ("P008", "Gym Gloves", "Accessories", "15"),
]

PAYMENT_TYPES = ["Debit Card", "Cash", "Bank Transfer", "Credit Card"]


def make_workbook(
    spark: SparkSession,
    *,
    n_txns: int = 1000,
    n_customers: int = 100,
    n_dup_customers: int = 4,
    n_malformed: int = 3,
    garbage_amount_rate: float = 0.005,
    dangling_fk_rate: float = 0.01,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """3-sheet workbook as post-ingest DataFrames (headers already
    promoted; Customers as (raw, _sheet_pos)), built by the same Arrow
    sheet builder as ingest, so they have the production plan shape."""
    rng = random.Random(seed)

    customer_ids = [f"C{i:04d}" for i in range(1, n_customers + 1)]
    blob_rows: list[tuple[str, int]] = []
    pos = 0

    def blob(cid: str, address: str) -> str:
        name = f"Customer {cid[1:]}"
        email = f"user{cid[1:]}@example.com"
        dob = f"19{rng.randint(50, 99)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        created = f"{rng.randint(43000, 45000)}.{rng.randint(0, 9999999):07d}"
        return "{" + "_".join([cid, name, email, dob, address, created]) + "}"

    for cid in customer_ids:
        blob_rows.append((blob(cid, f"{rng.randint(1, 999)} First St, Sydney NSW {rng.randint(1000, 9999)}"), pos))
        pos += 1
    dup_ids = customer_ids[:n_dup_customers]
    for cid in dup_ids:
        blob_rows.append((blob(cid, "42 Relocation Rd, Dubbo NSW 2830"), pos))
        pos += 1
    malformed = ["no braces at all", "{too_few_parts}", "missing_close_brace {a_b"]
    for i in range(n_malformed):
        blob_rows.append((malformed[i % len(malformed)], pos))
        pos += 1

    txn_rows = []
    for i in range(1, n_txns + 1):
        cid = rng.choice(customer_ids)
        if rng.random() < dangling_fk_rate:
            cid = f"C{n_customers + rng.randint(1, 50):04d}"  # dangling
        code, _, _, price = rng.choice(PRODUCTS)
        base = float(price)
        amount = f"{base * rng.uniform(0.8, 1.2):.2f}"
        if rng.random() < garbage_amount_rate:
            amount = "N/A"
        txn_rows.append(
            (
                f"TXN{i:05d}",
                cid,
                str(rng.randint(44927, 45227)),
                code,
                amount,
                rng.choice(PAYMENT_TYPES),
            )
        )

    return {
        "Transactions": local_rows_df(spark, schemas.TRANSACTIONS, txn_rows),
        "Customers": local_rows_df(spark, schemas.CUSTOMERS_RAW, blob_rows),
        "Products": local_rows_df(spark, schemas.PRODUCTS, PRODUCTS),
    }

"""Skew mitigation: the salted shuffle join (extension — no reference
evidence; the reference's pandas joins are single-process and
skew-blind).

At 100 TB the enemy is the straggler task: a shuffle join or groupBy
hash-partitions by key, so one viral key (the whale customer, the
empty-string document, the 'en' language) lands its entire volume on
ONE reducer while 999 executors idle. First-line defense is AQE
(``spark.sql.adaptive.skewJoin.enabled`` splits oversized partitions
at runtime); the salted join is the explicit fallback for the case
AQE can't rewrite — a single join key bigger than one executor.

Mechanics of ``salted_join``: the big (skewed) side gets a
deterministic salt in [0, n) derived from a high-cardinality column,
widening each join key into n sub-keys; the small side is exploded n
ways so every (key, salt) pair still meets its match. Join output is
row-for-row identical to the plain join — verified by the parity
oracle — but the shuffle now spreads each hot key over n reducers.
Cost: small side replicated n×; choose n ~ (hot-key rows / rows per
healthy task).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(df: DataFrame, salt_from: str, n: int) -> Column:
    """Deterministic salt in [0, n): xxhash64 of a high-cardinality
    column (NOT the join key — salting by the key would put the whole
    hot key back in one bucket)."""
    return F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n)).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``key`` with the big side's hot
    keys spread over ``n_salts`` reducers.

    ``salt_from`` names a high-cardinality column of ``big`` (a row
    id / event id) whose hash distributes the hot key's rows evenly.
    The small side is exploded ``n_salts``× (one copy per salt value)
    so the join remains an equi-join on ``(key, salt)`` — Catalyst
    still plans a hash join, filters still push through, and results
    are exactly those of ``big.join(small, key, how)``.
    """
    b = big.withColumn("_salt", _salt(big, salt_from, n_salts))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return b.join(s, [key, "_salt"], how).drop("_salt")

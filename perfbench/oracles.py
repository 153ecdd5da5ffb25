"""DuckDB side of the query workload's correctness check.

    python3 perfbench/oracles.py TABLES_DIR OUT_JSON NAME [NAME ...]

Runs each named query's DuckDB oracle (``plans.queries.ORACLES``) over
the parquet tables in ``TABLES_DIR`` and writes ``{name: key}`` to
``OUT_JSON``, where ``key`` is :func:`result_key` of the oracle's rows.
The benchmark runs this in its own process, beside the Spark warm-up,
so DuckDB's time and memory stay out of the engine's driver.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def result_key(columns: list[str], rows: list[tuple]) -> list:
    """Row count, column names and an order-insensitive hash of the
    rows, each with its cells in column-name order and floats at 9
    significant digits (the rule of ``tools/check_oracle.py``)."""

    def cell(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{v if v != 0 else 0.0:.9g}"  # no -0
        return str(v)

    columns = [c.lower() for c in columns]
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digest = hashlib.sha256()
    for row in sorted("\x01".join(cell(r[i]) for i in order) for r in rows):
        digest.update(row.encode() + b"\x00")
    return [len(rows), [columns[i] for i in order], digest.hexdigest()]


def main(tables: str, out: str, names: list[str]) -> int:
    import duckdb

    sys.path.insert(0, ROOT)
    from py_data_pipeline_app_spark.plans.queries import ORACLES

    con = duckdb.connect()
    keys: dict[str, list | None] = {}
    try:
        for t in sorted(os.listdir(tables)):
            path = os.path.join(tables, t)
            con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM '{path}'")
        for name in names:
            try:
                rel = con.sql(ORACLES[name])
                keys[name] = result_key(rel.columns, rel.fetchall())
            except Exception as e:  # noqa: BLE001 - a failed oracle fails its query
                print(f"oracle {name}: {e!r}", file=sys.stderr)
                keys[name] = None
    finally:
        con.close()
    with open(out, "w") as f:
        json.dump(keys, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))

"""Cross-engine oracle check of the query registry at sf0.01.

Runs every registered query (``plans.queries.QUERIES``) on Spark and its
oracle (``ORACLES``) on DuckDB at sf0.01 (overridable) and compares row
count, column names, and an order-insensitive multiset of normalised
rows (``testing/oracle.py``, the compare the tier-1 sweep uses at
sf0.001). Usage:

    python tools/check_oracle.py [--sf-dir DIR] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_data_pipeline_app_spark.plans.queries import ORACLES, QUERIES
from py_data_pipeline_app_spark.session import get_spark
from py_data_pipeline_app_spark.testing.oracle import check, duckdb_views


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or list(QUERIES)
    spark = get_spark("oracle-check")
    con = duckdb_views(args.sf_dir)

    failures = []
    for name in names:
        t0 = time.time()
        try:
            n_rows, msgs = check(
                QUERIES[name](spark, args.sf_dir), con, ORACLES[name]
            )
        except Exception as e:  # noqa: BLE001
            n_rows, msgs = 0, [f"error: {e}"]
        if msgs:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(msgs)}")
        else:
            print(f"ok   {name}: {n_rows} rows match [{time.time()-t0:.1f}s]")

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

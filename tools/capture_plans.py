"""Capture .explain('formatted') for registered queries into plans/<tag>/.

Usage:
    python tools/capture_plans.py --tag r15 --suffix before [name ...]

With no names, captures every registered query. Index-building queries
execute their eager builds at plan-construction time (same as bench),
so a full capture costs about one bench run.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="r15")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from py_data_pipeline_app_spark.plans.queries import QUERIES as qs
    from py_data_pipeline_app_spark.session import get_spark

    spark = get_spark("capture_plans")
    names = args.names or list(qs)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"!! unknown query {name}")
            continue
        try:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            plan = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

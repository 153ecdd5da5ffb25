"""Regenerate QUERIES.md (the registry index) from plans/queries.py
docstrings — one row per registered query: name, oracle coverage, first
docstring line — and rewrite the README's registry-count span (the text
between the ``<!-- registry-count -->`` markers) so the count is always
generated, never hand-written (a hand-edited number went stale twice).
Run after any registration change:

    python tools/regen_queries_md.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# Query registry index

Generated from `plans/queries.py` docstrings — one row per registered
`queries()` entry. Every query has a DuckDB oracle (full value-hash
check in the driver gate). Regenerate with
`python tools/regen_queries_md.py` if the registry changes.

| Query | Oracle | Summary |
|---|---|---|
"""


def main() -> None:
    from py_data_pipeline_app_spark.plans.queries import ORACLES, QUERIES

    lines = []
    for name in sorted(QUERIES):
        doc = (QUERIES[name].__doc__ or "").strip().splitlines()[0].strip()
        oracle = "yes" if name in ORACLES else "rows-only"
        lines.append(f"| `{name}` | {oracle} | {doc[:64].rstrip()} |")
    out = os.path.join(REPO, "QUERIES.md")
    with open(out, "w") as f:
        f.write(HEADER + "\n".join(lines) + "\n")
    print(f"wrote {out}: {len(lines)} queries, "
          f"{sum(1 for n in QUERIES if n in ORACLES)} oracle-backed")

    from py_data_pipeline_app_spark.plans.queries import RETIRED_QUERIES

    n, n_oracle = len(QUERIES), sum(1 for q in QUERIES if q in ORACLES)
    spans = {
        "registry-count": (
            f"{n} registered queries, {n_oracle}/{n} with full DuckDB "
            "value-hash oracles"
        ),
        "registry-headroom": (
            f"N = {n} registered (+{len(RETIRED_QUERIES)} retired), "
            f"headroom for {100 - n} more"
        ),
    }
    readme = os.path.join(REPO, "README.md")
    with open(readme) as f:
        text = f.read()
    for key, span in spans.items():
        start, end = f"<!-- {key} -->", f"<!-- /{key} -->"
        if start in text and end in text:
            head, rest = text.split(start, 1)
            _, tail = rest.split(end, 1)
            text = head + start + span + end + tail
            print(f"patched README {key} span: {span}")
        else:
            print(f"README {key} markers missing - not patched")
    with open(readme, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()

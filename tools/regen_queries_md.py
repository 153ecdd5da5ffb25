"""Regenerate QUERIES.md (the registry index) from plans/queries.py
docstrings — one row per registered query: name and first docstring
line — and rewrite the README's registry-count span (the text between
the ``<!-- registry-count -->`` markers) so the count is always
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
query. Every query has a DuckDB oracle, and tier-1 compares each row
with it at sf0.001 (`tests/test_registry.py`). Regenerate with
`python tools/regen_queries_md.py` if the registry changes.

| Query | Summary |
|---|---|
"""


def main() -> None:
    from py_data_pipeline_app_spark.plans.queries import QUERIES

    lines = []
    for name in sorted(QUERIES):
        doc = (QUERIES[name].__doc__ or "").strip().splitlines()[0].strip()
        lines.append(f"| `{name}` | {doc[:64].rstrip()} |")
    out = os.path.join(REPO, "QUERIES.md")
    with open(out, "w") as f:
        f.write(HEADER + "\n".join(lines) + "\n")
    print(f"wrote {out}: {len(lines)} queries")

    span = f"{len(QUERIES)} registered queries"
    start, end = "<!-- registry-count -->", "<!-- /registry-count -->"
    readme = os.path.join(REPO, "README.md")
    with open(readme) as f:
        text = f.read()
    if start in text and end in text:
        head, rest = text.split(start, 1)
        _, tail = rest.split(end, 1)
        with open(readme, "w") as f:
            f.write(head + start + span + end + tail)
        print(f"patched README registry-count span: {span}")
    else:
        print("README registry-count markers missing - not patched")


if __name__ == "__main__":
    main()

"""Generate QUERIES.md — a browsable index of the registered query catalog
(name, check kind, one-line description from the query's comment/docstring).

Usage: python tools/gen_catalog.py > QUERIES.md
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def first_comment_line(fn) -> str:
    src = inspect.getsource(fn)
    for line in src.splitlines():
        line = line.strip()
        if line.startswith("# "):
            return line[2:]
    doc = inspect.getdoc(fn)
    return (doc.splitlines()[0] if doc else "").strip()


def main() -> None:
    from aicoe_osc_demo_spark.plans import ORACLE, QUERIES

    print("# QUERIES — registered catalog (auto-generated by tools/gen_catalog.py)\n")
    print(f"{len(QUERIES)} queries; {len(ORACLE)} value-checked against the DuckDB oracle.\n")
    print("| query | check | what it exercises |")
    print("|---|---|---|")
    for name in sorted(QUERIES):
        kind = "oracle" if name in ORACLE else "rows-only"
        desc = first_comment_line(QUERIES[name]).replace("|", "\\|")
        print(f"| `{name}` | {kind} | {desc} |")


if __name__ == "__main__":
    main()

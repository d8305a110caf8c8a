"""Physical-plan audit over the whole query catalog: per entry, counts of
the plan nodes that decide scale behaviour (exchanges, sorts, join
strategies, codegen spans, cartesian products).

The point is machine-checkable evidence of plan quality round over round:
map-only entries must stay Exchange-free, broadcast joins must stay
broadcast, and nothing may regress to a CartesianProduct.  Node counts are
taken from the INITIAL physical plan (AQE's starting point — the plan
Catalyst chose from the query shape, before runtime re-optimization).

Usage: python tools/plan_audit.py [sf_dir] > PLAN_AUDIT_r{N}.md
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

PATTERNS = {
    "exchanges": r"Exchange (?:hash|range)partitioning",
    "single_part": r"Exchange SinglePartition",
    "sorts": r"\bSort \[",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "py_udf": r"(?:BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from aicoe_osc_demo_spark.session import get_spark

    spark = get_spark("plan-audit")
    rows = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e)[:120]}))
            continue
        counts = {k: len(re.findall(p, plan)) for k, p in PATTERNS.items()}
        rows.append((name, counts))
        spark.catalog.clearCache()

    print("# Plan audit — per-entry physical-plan node counts\n")
    print(f"sf_dir: {sf_dir}; initial (pre-AQE) physical plans.\n")
    print("| entry | exchanges | 1-part | sorts | BHJ | SMJ | BNLJ | cartesian | pyUDF |")
    print("|---|---|---|---|---|---|---|---|---|")
    tot = {k: 0 for k in PATTERNS}
    map_only = 0
    errs = []
    for name, c in rows:
        if "error" in c:
            errs.append((name, c["error"]))
            continue
        for k in tot:
            tot[k] += c[k]
        if c["exchanges"] + c["single_part"] == 0:
            map_only += 1
        print(
            f"| {name} | {c['exchanges']} | {c['single_part']} | {c['sorts']} "
            f"| {c['bhj']} | {c['smj']} | {c['bnlj']} | {c['cartesian']} | {c['py_udf']} |"
        )
    n = len(rows) - len(errs)
    print(f"\n## Summary ({n} entries)\n")
    print(f"- map-only (zero exchanges): {map_only}")
    for k in PATTERNS:
        print(f"- total {k}: {tot[k]}")
    print(
        "- CartesianProduct nodes MUST be 0; BroadcastNestedLoopJoin is the"
        " broadcast-dimension fan-out shape (small side always broadcast) and"
        " the no-cartesian pytest sweep pins which entries may carry one."
    )
    print(
        "- pyUDF nodes are all Arrow-batched (ArrowEvalPython / MapInPandas),"
        " never row-at-a-time BatchEvalPython: the vectorized-numpy LSH"
        " bucketing UDF (similarity family), the model-stage mapInPandas"
        " scorers (ml_*/multimodal_*), and the two documented"
        " no-JVM-equivalent scorers (difflib token_set_ratio, answer-offset"
        " search)."
    )
    if errs:
        print("\n## Errors\n")
        for name, e in errs:
            print(f"- {name}: {e}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Physical-plan audit across the whole catalog (main + extended).

For every registered query, prints the scale-relevant plan facts the
row-level oracles cannot see:

- ``exch``   — number of shuffle exchanges (lower is better; big jumps
  between rounds mean a window/join stopped reusing a partitioning);
- ``bcast``  — broadcast exchanges (small sides placed correctly);
- ``wsc``    — WholeStageCodegen spans (JVM codegen coverage);
- ``py``     — Python boundaries (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas) — the deliberate Arrow-batched kernels only;
- ``pushed`` — whether the parquet scan carries pushed filters;
- ``textx``  — whether any exchange carries a raw document text column
  (must stay 0: shuffling corpus text is the classic scale killer);
- ``hof``    — higher-order-function expressions (``transform``,
  ``aggregate``, ``filter`` ...), counted on the structured plan by
  :func:`marketdatapipeline_spark.plan_checks.higher_order_functions`:
  lambdas evaluate interpreted, outside whole-stage codegen.

Counting caveats (informational tool, not a gate): queries execute
first so the adaptive plan finalizes; under AQE the post-execution
string expands reused subtrees, so ``exch`` totals are comparable
between audit runs but not with the pre-execution plans the
test_plans.py pins assert on, and ``wsc`` undercounts (markers render
only on finalized stage subtrees). ``textx`` — the one hard
invariant — is exact: main() exits 1 if any exchange carries text.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(name: str, df) -> dict:
    from marketdatapipeline_spark.plan_checks import higher_order_functions

    # materialize first: with AQE the plan only finalizes (and codegen
    # stages appear as "*(n)") after execution
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # the post-execution string RE-PRINTS a cached (InMemoryRelation)
    # or reused subtree at every reference — a persisted similarity
    # join consumed 5x printed its MapInPandas/Exchange nodes 5x and
    # the raw counts read as a 10x plan regression (r9, the graph
    # family). A re-printed node carries the SAME expression ids, so
    # its line (indentation stripped) is byte-identical: counting
    # DISTINCT lines counts distinct physical operators.
    distinct = {ln.lstrip(" +-:*") for ln in lines}
    text_exchanges = [
        ln
        for ln in distinct
        if "Exchange hashpartitioning" in ln and re.search(r"\btext#\d+", ln)
    ]
    return {
        "query": name,
        "exch": sum("Exchange hashpartitioning" in ln for ln in distinct),
        "bcast": sum("BroadcastExchange" in ln for ln in distinct),
        # executedPlan().toString() marks codegen stages as "*(n) Op"
        "wsc": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "py": sum(
            any(k in ln for k in ("ArrowEvalPython", "MapInPandas",
                                  "FlatMapGroupsInPandas"))
            for ln in distinct
        ),
        "pushed": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "textx": len(text_exchanges),
        "hof": len(higher_order_functions(df)),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import marketdatapipeline_spark.catalog_corpus  # noqa: F401 — registers
    import marketdatapipeline_spark.catalog_multimodal  # noqa: F401 — registers
    import marketdatapipeline_spark.catalog_operators  # noqa: F401 — registers
    import marketdatapipeline_spark.catalog_pipeline  # noqa: F401 — registers
    from marketdatapipeline_spark.catalog import EXTENDED_REGISTRY, REGISTRY
    from marketdatapipeline_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    rows = []
    for name, spec in {**REGISTRY, **EXTENDED_REGISTRY}.items():
        if only and name not in only:
            continue
        try:
            rows.append(audit(name, spec.fn(spark, sf_dir)))
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
    hdr = (
        f"{'query':<36} {'exch':>4} {'bcast':>5} {'wsc':>4} {'py':>3} "
        f"{'pushed':>6} {'textx':>5} {'hof':>3}"
    )
    print(hdr)
    print("-" * len(hdr))
    bad_text = 0
    for r in rows:
        print(
            f"{r['query']:<36} {r['exch']:>4} {r['bcast']:>5} {r['wsc']:>4} "
            f"{r['py']:>3} {str(r['pushed']):>6} {r['textx']:>5} {r['hof']:>3}"
        )
        bad_text += r["textx"]
    print(
        f"\n{len(rows)} queries; total exchanges "
        f"{sum(r['exch'] for r in rows)}, Python boundaries "
        f"{sum(r['py'] for r in rows)}, text-carrying exchanges {bad_text}, "
        f"higher-order functions {sum(r['hof'] for r in rows)}"
    )
    return 1 if bad_text else 0


if __name__ == "__main__":
    raise SystemExit(main())

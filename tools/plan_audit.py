#!/usr/bin/env python
"""Plan-hygiene audit over the whole registry (optimization r14).

Builds every registered query at a small SF and greps the EXECUTED plan
for the hazard patterns the optimization guide names (§2.4/§3/§4/§7.2):
Python evaluation nodes, single-partition exchanges, cartesian/BNL
joins, and counts Exchange / BroadcastExchange / SortMergeJoin refs so
round-over-round plan drift is a diffable artifact rather than a claim.

Usage::

    python tools/plan_audit.py /root/testdata/sf0.01 PLAN_AUDIT_r14.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.session import get_spark  # noqa: E402

HAZARDS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Exchange SinglePartition",
)


def main(sf_dir: str, out_path: str) -> int:
    spark = get_spark(app_name="utn-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    report: dict[str, dict] = {}
    t0 = time.perf_counter()
    for name in sorted(queries):
        spark.catalog.clearCache()
        try:
            df = queries[name].build(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - audit must cover the registry
            report[name] = {"error": str(exc)[:200]}
            continue
        row = {
            "exchanges": plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange RoundRobinPartitioning"),
            "broadcasts": plan.count("BroadcastExchange"),
            "smj": plan.count("SortMergeJoin"),
            "hazards": {h: plan.count(h) for h in HAZARDS if h in plan},
        }
        report[name] = row
        flag = " !! " + ",".join(row["hazards"]) if row["hazards"] else ""
        print(f"# {name}: X={row['exchanges']} B={row['broadcasts']}{flag}",
              file=sys.stderr)
    rec = {
        "sf": sf_dir,
        "n": len(report),
        "total_sec": round(time.perf_counter() - t0, 1),
        "queries": report,
    }
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    flagged = {n: r for n, r in report.items() if r.get("hazards") or r.get("error")}
    print(json.dumps({"n": len(report), "flagged": sorted(flagged)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python
"""Full-registry oracle sweep: run EVERY registered query against its DuckDB
oracle at a given sf_dir and write a SWEEP record.

Usage::

    python tools/sweep.py /root/testdata/sf0.1 SWEEP_sf0.1_r05.json

The record mirrors the driver's CORRECTNESS check (row count, column set,
order-insensitive full-precision value hash) but over the whole registry in
one atomic run, so "all N green at sf0.1" is a single-artifact claim.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402


def main(sf_dir: str, out_path: str, round_label: str = "r05") -> int:
    spark = get_spark(app_name="utn-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    fails: dict[str, dict] = {}
    checked = 0
    t0 = time.perf_counter()
    for name in sorted(queries):
        q = queries[name]
        if q.oracle is None:
            continue
        spark.catalog.clearCache()
        r = compare(q.build(spark, sf_dir), q.oracle, sf_dir)
        checked += 1
        ok = r["rows_match"] and r["cols_match"] and r["values_match"]
        print(f"# {name}: {'OK' if ok else 'FAIL'}", file=sys.stderr)
        if not ok:
            fails[name] = {
                k: r[k] for k in ("rows_match", "cols_match", "values_match", "first_diff")
            }
    total = round(time.perf_counter() - t0, 1)
    record = {
        "round": round_label,
        "sf": sf_dir,
        "queries_checked": checked,
        "fails": fails,
        "total_sec": total,
        "note": "atomic full-registry sweep on final round code: every query "
        "built and value-hash-compared vs its DuckDB oracle in one run "
        "(tools/sweep.py)",
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"checked": checked, "fails": len(fails), "sec": total}))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], *sys.argv[3:4]))

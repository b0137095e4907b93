#!/usr/bin/env python
"""Targeted oracle check: run NAMED registry queries against their DuckDB
oracles (same compare as tools/sweep.py) — the fast per-commit correctness
gate while optimizing a family, before the full freeze sweeps.

Usage::

    python tools/check_queries.py /root/testdata/sf0.01 q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(app_name="utn-check")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    n_fail = 0
    for name in names:
        q = queries[name]
        if q.oracle is None:
            print(f"{name}: NO-ORACLE (skipped)")
            continue
        spark.catalog.clearCache()
        r = compare(q.build(spark, sf_dir), q.oracle, sf_dir)
        ok = r["rows_match"] and r["cols_match"] and r["values_match"]
        if not ok:
            n_fail += 1
        print(f"{name}: {'OK' if ok else 'FAIL ' + str(r.get('first_diff'))}")
    print(f"# {len(names)} checked, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Deterministic job-count probe: run registry queries inside a job group
and report how many Spark jobs each one launches (plus wall seconds for
context).  Job counts are machine-noise-free evidence for optimizations
that remove whole jobs from driver-sequential loops (power iteration,
Lloyd training, OPQ chains) where .explain() of the final frame shows
only a trivial createDataFrame plan.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/jobcount.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    queries = all_queries()
    spark = get_spark(app_name="utn-jobcount")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    from data_engineering_project_utn_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, SF_DIR, t).count()
    for name in names:
        q = queries[name]
        spark.catalog.clearCache()
        group = f"jobcount-{name}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            n = q.build(spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)
        print(f"{name}: jobs={jobs} rows={n} sec={dt:.3f}")


if __name__ == "__main__":
    main()

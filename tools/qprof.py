#!/usr/bin/env python
"""Per-query profiler: times registry queries with the noop sink (guide
§1.4 — computes every column, discards output) over N reps, reporting
per-rep seconds.  Isolation tool for optimization work; the official
bench stays bench.py.

Usage::

    SPARK_GRAFT_QPROF_REPS=5 python tools/qprof.py q1 q2 ...
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
    reps = int(os.environ.get("SPARK_GRAFT_QPROF_REPS", "5"))
    queries = all_queries()
    spark = get_spark(app_name="utn-qprof")
    spark.sparkContext.setLogLevel("ERROR")
    # one warm-up touch of each input table
    from data_engineering_project_utn_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, SF_DIR, t).count()
    for name in names:
        q = queries[name]
        times = []
        for _ in range(reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"qprof:{name}")
            t0 = time.perf_counter()
            q.build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        times_s = sorted(times)
        print(f"{name}: min={times_s[0]:.3f} med={times_s[len(times_s)//2]:.3f} reps={times}")


if __name__ == "__main__":
    main()

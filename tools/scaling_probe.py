"""Scaling probe: time headline + extended queries at a synthesized SF.

Usage::

    python tools/scaling_probe.py /tmp/sf1 1.0 [query ...]

With explicit query names, times only those (e.g. the sf2 knn_join point).
Prints one JSON line shaped like bench.py's output (n_reps=1) so rounds
can diff sf0.1 vs sf1 per query; the driver-facing BENCH_sf*.json files
are written from this output.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, EXTENDED_QUERIES  # noqa: E402
from data_engineering_project_utn_spark.plans import all_queries  # noqa: E402
from data_engineering_project_utn_spark.session import get_spark  # noqa: E402
from data_engineering_project_utn_spark.tables import TABLE_NAMES, load_table  # noqa: E402


def main(sf_dir: str, sf_label: float, only: list[str]) -> None:
    spark = get_spark(app_name="utn-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    names = only or [*BENCH_QUERIES, *EXTENDED_QUERIES]
    timings: dict[str, float] = {}
    for name in names:
        if name not in queries:
            continue
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = queries[name].build(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(
                    sum(t for q, t in timings.items() if q in BENCH_QUERIES), 3
                ),
                "unit": "sec",
                "sf": sf_label,
                "n_reps": 1,
                "queries": {q: t for q, t in timings.items() if q in BENCH_QUERIES},
                "extended_queries": {
                    q: t for q, t in timings.items() if q not in BENCH_QUERIES
                },
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]), sys.argv[3:])

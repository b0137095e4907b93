"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``data_engineering_project_utn_spark.plans`` — one
registry entry per implemented operator (SURVEY.md §2 + LLM-pipeline ops),
each with its DuckDB oracle twin.  ``queries()`` and ``oracle_sql()``
list them in registration order.  See plans/registry.py for the
determinism contract that makes Spark and DuckDB hash-match bit-exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_engineering_project_utn_spark.plans import all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return all_queries()["rl_pricing_summary"].build(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.build for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted for the few
    non-SQL-expressible ops → rows-only check)."""
    return {
        name: q.oracle for name, q in all_queries().items() if q.oracle is not None
    }

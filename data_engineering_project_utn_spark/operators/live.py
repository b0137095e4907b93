"""Live-plane aggregates — counters, leaderboards, distributions, sums.

Each function reproduces one dashboard query from
`Real Final APP/Dashboard_Live_Final.py` as a pure DataFrame->DataFrame op.
All are single-shuffle (or shuffle-free scalar) aggregations; Catalyst plans
partial (map-side) aggregation automatically, so at 100 TB each is one
scan + one exchange on the group key.  Top-k uses orderBy().limit(k), which
Spark executes as per-partition TakeOrdered + driver merge — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.functions.scalar import (
    categorize_cluster,
    mmss,
)


def query_counters(metrics: DataFrame) -> DataFrame:
    """Total / successful / aborted / cached counts
    (`Dashboard_Live_Final.py:230-237`)."""
    return metrics.agg(
        F.count(F.lit(1)).alias("total_queries"),
        F.count(F.when(~F.col("was_aborted"), 1)).alias("successful_queries"),
        F.count(F.when(F.col("was_aborted"), 1)).alias("aborted_queries"),
        F.count(F.when(F.col("was_cached"), 1)).alias("cached_queries"),
    )


def leaderboard_compile_time(leaderboard: DataFrame, k: int = 10) -> DataFrame:
    """Top-k distinct queries by compile time, ranked, with m:ss display
    (`Dashboard_Live_Final.py:339-357`)."""
    distinct = leaderboard.select(
        "instance_id", "query_id", "user_id", "arrival_timestamp", "compile_duration_ms"
    ).dropDuplicates()
    top = distinct.orderBy(
        F.desc("compile_duration_ms"), "query_id", "instance_id"
    ).limit(k)
    w = Window.orderBy(F.desc("compile_duration_ms"), "query_id", "instance_id")
    return top.withColumn("rank", F.row_number().over(w)).withColumn(
        "compile_time_display", mmss("compile_duration_ms")
    )


def leaderboard_user_queries(leaderboard: DataFrame, k: int = 5) -> DataFrame:
    """Top-k users by query count (`Dashboard_Live_Final.py:404-410`)."""
    return (
        leaderboard.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("query_count"))
        .orderBy(F.desc("query_count"), "user_id")
        .limit(k)
    )


def instance_categories(cluster_map: DataFrame) -> DataFrame:
    """Distinct-cluster count per instance → Local/Regional/Global category
    (`live_updates_duckdb.py:124-136`).  ``countDistinct`` here; swap for
    ``approx_count_distinct`` at 100 TB if exact counts stop mattering."""
    counts = cluster_map.groupBy("instance_id").agg(
        F.countDistinct("cluster_id").alias("cluster_count")
    )
    return counts.withColumn("category", categorize_cluster("cluster_count"))


def cached_success_rate(metrics: DataFrame) -> DataFrame:
    """(cached & !aborted) / cached * 100 (`Dashboard/streamlit_app.py:378`)."""
    return metrics.agg(
        (
            F.count(F.when(F.col("was_cached") & ~F.col("was_aborted"), 1))
            * F.lit(100.0)
            / F.nullif(F.count(F.when(F.col("was_cached"), 1)), F.lit(0))
        ).alias("cached_success_rate_pct")
    )


def stress_level(stress: DataFrame) -> DataFrame:
    """total_exec / (max_exec * n) * 100 (`Dashboard/streamlit_app.py:364-366`)."""
    return stress.agg(
        (
            F.sum("execution_duration_ms")
            * F.lit(100.0)
            / F.nullif(
                F.max("execution_duration_ms") * F.count(F.lit(1)), F.lit(0)
            ).cast("double")
        ).alias("stress_level_pct")
    )

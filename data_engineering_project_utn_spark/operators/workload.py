"""Workload classification + ingestion-freshness analytics.

Reproduces the reference's ``tables_workload_count`` view
(`Real Final APP/Dashboard_Historical_Final.py:66-99`), the >80 %-select
``analytical_tables`` classifier and the per-(instance, table) freshness
averages (`:338-412`), and the HAVING freshness-alarm variant
(`Dashboard/update_tables.py:242-264`).

Scale notes: the workload classifier is one aggregation (one shuffle on
(instance, table)), not the view's two aggregates and FULL OUTER JOIN;
the semi-joins on its small result need no DISTINCT (a semi-join never
multiplies left rows); the freshness aggregation shuffles once on
(instance_id, read_table_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.functions.scalar import davg, safe_div


def tables_workload_count(output_table: DataFrame) -> DataFrame:
    """select_count vs transform_count per table.

    Faithful to the reference view: selects counted by read_table_id,
    update/delete counted by write_table_id, FULL OUTER JOIN on the table id
    *and instance* with COALESCE'd keys.  (The reference joins on table_id
    only — `Dashboard_Historical_Final.py:96-97` — which cross-multiplies
    instances; we join on both keys, the stated GROUP BY intent.  Divergence
    documented per SURVEY.md §7.2.)
    Null counts mean "absent from that side", never 0 (FIXTURES.md F4).

    Computed as ONE aggregation, not two aggregates and the join: rows
    group by (instance, table, ``_side``), where ``_side`` is NULL when
    both keys are set — both sides meet in one group, as matched join
    rows do — and ``is_select`` when either key is NULL, so such groups
    stay one row per side, as the outer join leaves NULL keys unmatched.
    """
    is_select = F.col("query_type") == "select"
    table_id = F.when(is_select, F.col("read_table_id")).otherwise(
        F.col("write_table_id")
    )
    side = F.when(F.col("instance_id").isNull() | table_id.isNull(), is_select)

    def absent_as_null(c: Column) -> Column:
        n = F.count(F.when(c, 1))
        return F.when(n > 0, n)

    return (
        output_table.filter(F.col("query_type").isin("select", "update", "delete"))
        .groupBy("instance_id", table_id.alias("table_id"), side.alias("_side"))
        .agg(
            absent_as_null(~is_select).alias("transform_count"),
            absent_as_null(is_select).alias("select_count"),
        )
        .drop("_side")
    )


def analytical_tables(workload: DataFrame, threshold: float = 0.80) -> DataFrame:
    """Tables whose select share exceeds ``threshold``
    (`Dashboard_Historical_Final.py:354-366`)."""
    share = safe_div(
        F.col("select_count").cast("double"),
        (F.coalesce(F.col("transform_count"), F.lit(0)) + F.col("select_count")).cast(
            "double"
        ),
    )
    return workload.withColumn("percentage_select_queries", share).filter(
        F.col("percentage_select_queries") > threshold
    )


def ingestion_freshness(
    output_table: DataFrame, analytical: DataFrame, limit: int = 12
) -> DataFrame:
    """Average time since/to ingestion for analytical tables
    (`Dashboard_Historical_Final.py:359-371`).

    The semi-join is on the (small) aggregated classifier output —
    broadcast-able; the aggregation shuffles on (instance_id, read_table_id).
    """
    keys = analytical.select(F.col("table_id").alias("read_table_id"))
    return (
        output_table.filter(F.col("query_type") == "select")
        .join(F.broadcast(keys), on="read_table_id", how="left_semi")
        .groupBy("instance_id", "read_table_id")
        .agg(
            (davg("time_since_last_ingest_ms", scale=6) / 1000.0).alias(
                "average_time_since_last_ingest_s"
            ),
            (davg("time_to_next_ingest_ms", scale=6) / 1000.0).alias(
                "average_time_to_next_ingest_s"
            ),
        )
        .orderBy("read_table_id", "instance_id")
        .limit(limit)
    )


def freshness_alarm(output_table: DataFrame) -> DataFrame:
    """Tables whose average staleness exceeds their average lead time —
    the HAVING variant (`Dashboard/update_tables.py:242-264`)."""
    return (
        output_table.filter(F.col("query_type") == "select")
        .groupBy("instance_id", "read_table_id")
        .agg(
            davg("time_since_last_ingest_ms", scale=6).alias("avg_since_ms"),
            davg("time_to_next_ingest_ms", scale=6).alias("avg_to_next_ms"),
        )
        .filter(F.col("avg_since_ms") > F.col("avg_to_next_ms"))
    )

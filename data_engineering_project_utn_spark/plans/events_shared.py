"""Shared event-plane plumbing: the events-to-Redset-shape mapping, the
oracle CTE chain (flat -> intervals -> output_t -> workload), and the
memoized output_table — imported by both event plan families so the
mapping and its SQL twin have ONE definition each.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.operators import intervals as iv_ops
from data_engineering_project_utn_spark.sources.io import file_status
from data_engineering_project_utn_spark.tables import load_table

FLAT_CTE = """
WITH flat AS (
    SELECT
        user_id % 4 AS instance_id,
        event_id AS query_id,
        CASE WHEN event_type = 'error' THEN CAST(FLOOR(value) AS BIGINT) % 5
             ELSE CAST(FLOOR(value) AS BIGINT) % 10 END AS write_table_id,
        CAST(FLOOR(value * 7) AS BIGINT) % 10 AS read_table_id,
        ts AS arrival_timestamp,
        CASE event_type
            WHEN 'purchase' THEN 'insert'
            WHEN 'signup' THEN 'copy'
            WHEN 'error' THEN 'update'
            ELSE 'select'
        END AS query_type
    FROM events
)
"""

INTERVALS_CTE = FLAT_CTE + """
, intervals AS (
    SELECT instance_id, query_id, write_table_id,
           arrival_timestamp AS ingest_ts,
           LEAD(arrival_timestamp) OVER (
               PARTITION BY instance_id, write_table_id
               ORDER BY arrival_timestamp, query_id) AS next_ingest_ts
    FROM flat
    WHERE query_type IN ('insert', 'copy')
)
"""

# As-of merge formulation (mirrors operators.intervals.output_table): union
# boundary + query rows, carry the latest interval struct forward with one
# window pass — linear, vs the reference's quadratic bracket join.
OUTPUT_CTE = INTERVALS_CTE + """
, m AS (
    SELECT instance_id,
           CASE WHEN query_type = 'select' THEN read_table_id
                ELSE write_table_id END AS match_table,
           arrival_timestamp AS ts, 1 AS kind,
           query_id, query_type, write_table_id, read_table_id,
           CAST(NULL AS STRUCT(l TIMESTAMP, n TIMESTAMP)) AS iv
    FROM flat WHERE query_type NOT IN ('insert', 'copy')
    UNION ALL
    SELECT instance_id, write_table_id AS match_table, ingest_ts AS ts, 0 AS kind,
           NULL AS query_id, NULL AS query_type,
           NULL AS write_table_id, NULL AS read_table_id,
           struct_pack(l := ingest_ts, n := next_ingest_ts) AS iv
    FROM intervals
), ann AS (
    SELECT *, last_value(iv IGNORE NULLS) OVER (
               PARTITION BY instance_id, match_table ORDER BY ts, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS biv
    FROM m
), output_t AS (
    SELECT DISTINCT
        instance_id, query_id, query_type, write_table_id, read_table_id,
        ts AS arrival_timestamp,
        biv.l AS last_write_table_insert,
        biv.n AS next_write_table_insert
    FROM ann WHERE kind = 1 AND biv IS NOT NULL
    UNION ALL
    SELECT f.instance_id, f.query_id, f.query_type,
           f.write_table_id, f.read_table_id, f.arrival_timestamp,
           i.ingest_ts, i.next_ingest_ts
    FROM flat f
    JOIN intervals i
      ON f.instance_id = i.instance_id
     AND f.query_id = i.query_id
     AND f.write_table_id = i.write_table_id
    WHERE f.query_type IN ('insert', 'copy')
)
"""

WORKLOAD_CTE = OUTPUT_CTE + """
, selects AS (
    SELECT instance_id, read_table_id AS table_id, COUNT(*) AS select_count
    FROM output_t WHERE query_type = 'select'
    GROUP BY instance_id, read_table_id
), transforms AS (
    SELECT instance_id, write_table_id AS table_id, COUNT(*) AS transform_count
    FROM output_t WHERE query_type IN ('update', 'delete')
    GROUP BY instance_id, write_table_id
), workload AS (
    SELECT instance_id, table_id, transform_count, select_count
    FROM selects FULL OUTER JOIN transforms USING (instance_id, table_id)
), analytical AS (
    SELECT instance_id, table_id,
           CAST(select_count AS DOUBLE)
             / (COALESCE(transform_count, 0) + select_count) AS percentage_select_queries
    FROM workload
    WHERE CAST(select_count AS DOUBLE)
          / (COALESCE(transform_count, 0) + select_count) > 0.80
)
"""


def events_as_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → FLATTENED_SCHEMA-shaped frame (the ``flat`` CTE, in Spark)."""
    e = load_table(spark, sf_dir, "events")
    tid = F.floor(F.col("value")).cast("long")
    qtype = (
        F.when(F.col("event_type") == "purchase", F.lit("insert"))
        .when(F.col("event_type") == "signup", F.lit("copy"))
        .when(F.col("event_type") == "error", F.lit("update"))
        .otherwise(F.lit("select"))
    )
    return e.select(
        (F.col("user_id") % 4).alias("instance_id"),
        F.col("event_id").alias("query_id"),
        F.when(qtype == "update", tid % 5).otherwise(tid % 10).alias("write_table_id"),
        (F.floor(F.col("value") * 7).cast("long") % 10).alias("read_table_id"),
        F.col("ts").alias("arrival_timestamp"),
        qtype.alias("query_type"),
    )


# One entry per sf_dir: the events file's ``file_status`` and the persisted
# output table built from it.
_OUTPUT_TABLE_CACHE: dict[str, tuple[tuple | None, DataFrame]] = {}


def _output_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """output_table is the shared input of five registered queries, and each
    consumer references it more than once in its own plan — without
    persistence Spark recomputes the window+union+dedup chain per reference.
    Memoize one persisted copy per sf_dir, for one session and one status of
    the events file (the cache() the reference gets from DuckDB table
    materialization, SURVEY §4.1).

    A rebuild for another session or a rewritten events file replaces the
    entry and unpersists the old copy first: Spark's cache matches a new
    frame to a cached one by plan, and a rewritten file keeps its plan, so
    the old copy would otherwise be served for the new rows.  A stopped
    session's copy went with its SparkContext and is only dropped."""
    key = file_status(f"{sf_dir}/events.parquet")
    entry = _OUTPUT_TABLE_CACHE.get(sf_dir)
    # the memo also lives only as long as Spark's cache entry: after
    # spark.catalog.clearCache() (or an unpersist) the frame's storage
    # level reads NONE — ``is_cached`` does not reset — and a rebuild
    # re-persists it
    if entry is not None:
        old_key, old = entry
        if old.sparkSession is spark and old_key == key and old.storageLevel != StorageLevel.NONE:
            return old
        if old.sparkSession.sparkContext is spark.sparkContext:
            old.unpersist()
    flat = events_as_flat(spark, sf_dir)
    memo = iv_ops.output_table(flat, iv_ops.ingestion_intervals(flat)).persist()
    _OUTPUT_TABLE_CACHE[sf_dir] = (key, memo)
    return memo


# ---------------------------------------------------------------------------
# Historical plane (SURVEY §2.3/§2.4/§2.5: J1-J5, A7, A19, W1, W2, F1-F5, F9)
# ---------------------------------------------------------------------------

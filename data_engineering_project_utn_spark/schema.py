"""Canonical schemas.

REDSET_SCHEMA is the single source of truth for the 24-column Redshift
query-log the reference processes.  The reference declares this schema three
separate times (producer dtype map `Real Final APP/producer_Final.py:198-224`,
consumer DDL `Kafka/consumer.py:31-59`, cleaning map
`Kafka/ddb_wrappers.py:248-273`); here it is declared once and every
reader/cleaner derives from it.

``read_table_ids`` / ``write_table_ids`` arrive as CSV-encoded int lists in a
string column (reference flattens with str.split+explode,
`Real Final APP/Dashboard_Live_Final.py:680-689`); the cleaned representation
is ``ArrayType(LongType)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw Redset log as produced upstream (strings still CSV-encoded lists).
REDSET_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.LongType()),
        T.StructField("cluster_size", T.DoubleType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("database_id", T.LongType()),
        T.StructField("query_id", T.LongType()),
        T.StructField("arrival_timestamp", T.TimestampType()),
        T.StructField("compile_duration_ms", T.DoubleType()),
        T.StructField("queue_duration_ms", T.LongType()),
        T.StructField("execution_duration_ms", T.LongType()),
        T.StructField("feature_fingerprint", T.StringType()),
        T.StructField("was_aborted", T.BooleanType()),
        T.StructField("was_cached", T.BooleanType()),
        T.StructField("cache_source_query_id", T.DoubleType()),
        T.StructField("query_type", T.StringType()),
        T.StructField("num_permanent_tables_accessed", T.DoubleType()),
        T.StructField("num_external_tables_accessed", T.DoubleType()),
        T.StructField("num_system_tables_accessed", T.DoubleType()),
        T.StructField("read_table_ids", T.StringType()),
        T.StructField("write_table_ids", T.StringType()),
        T.StructField("mbytes_scanned", T.DoubleType()),
        T.StructField("mbytes_spilled", T.DoubleType()),
        T.StructField("num_joins", T.LongType()),
        T.StructField("num_scans", T.LongType()),
        T.StructField("num_aggregations", T.LongType()),
    ]
)

# Exploded log, one row per read_table_id — the historical-plane input
# (`Real Final APP/Dashboard_Historical_Final.py:30-38`).
FLATTENED_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.LongType()),
        T.StructField("query_id", T.LongType()),
        T.StructField("write_table_id", T.LongType()),
        T.StructField("read_table_id", T.LongType()),
        T.StructField("arrival_timestamp", T.TimestampType()),
        T.StructField("query_type", T.StringType()),
    ]
)

# The historical-plane output table, ``intervals.output_table`` over
# FLATTENED_SCHEMA rows (`Dashboard_Historical_Final.py:241-312`).
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.LongType()),
        T.StructField("query_id", T.LongType()),
        T.StructField("query_type", T.StringType()),
        T.StructField("write_table_id", T.LongType()),
        T.StructField("read_table_id", T.LongType()),
        T.StructField("arrival_timestamp", T.TimestampType()),
        T.StructField("last_write_table_insert", T.TimestampType()),
        T.StructField("next_write_table_insert", T.TimestampType()),
        T.StructField("time_since_last_ingest_ms", T.DoubleType()),
        T.StructField("time_to_next_ingest_ms", T.DoubleType()),
    ]
)

# query_type domain observed in reference predicates
# (`Dashboard_Historical_Final.py:76,83,236,296`).
INGESTION_QUERY_TYPES = ("insert", "copy")
TRANSFORM_QUERY_TYPES = ("insert", "copy", "update", "delete")
QUERY_TYPE_DOMAIN = (
    "select",
    "insert",
    "copy",
    "update",
    "delete",
    "analyze",
    "vacuum",
    "unload",
    "ctas",
    "other",
)

# Sentinel used by the reference for "no table id"
# (`Dashboard/update_tables.py:214,224`).
TABLE_ID_SENTINEL = 999999

# Sentinel "no next ingestion" timestamp (`Dashboard_Historical_Final.py:288`).
FAR_FUTURE_TS = "2999-12-31 00:00:00"

# Per-topic column projections (`Real Final APP/producer_Final.py:24-46`).
LEADERBOARD_COLUMNS = [
    "instance_id",
    "query_id",
    "user_id",
    "arrival_timestamp",
    "compile_duration_ms",
]
QUERY_METRICS_COLUMNS = ["instance_id", "was_aborted", "was_cached", "query_type"]
COMPILE_METRICS_COLUMNS = [
    "instance_id",
    "num_joins",
    "num_scans",
    "num_aggregations",
    "mbytes_scanned",
    "mbytes_spilled",
]
STRESS_COLUMNS = ["execution_duration_ms", "mbytes_spilled"]
FLATTENED_COLUMNS = [
    "instance_id",
    "query_id",
    "write_table_ids",
    "read_table_ids",
    "arrival_timestamp",
    "query_type",
]

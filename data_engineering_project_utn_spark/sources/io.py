"""Batch sources / sinks / catalog ops (SURVEY.md §2.1, S1-S15).

The reference moves data through parquet files, CSV files, JSON Kafka
messages, and DuckDB tables; here every format is a declarative Spark
reader/writer and "tables" are temp views.  The streaming twins of S4/S5
live in ``streaming/pipeline.py``.

Scale notes: readers hand Catalyst a schema up front, so filters/pruning
push into the file scan; a parquet file read without one has its footer
inferred once per file status (``read_parquet``), not once per read; the
JSON-lines reader routes through ``clean_redset`` — one codegen'd
projection, no Python.
"""

from __future__ import annotations

import os
import shutil
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_utn_spark.operators.clean import clean_redset

# ---------------------------------------------------------------------------
# The producer plane's column-projected sub-streams (P1):
# `Real Final APP/producer_Final.py:24-46`.  Topic fan-out collapses to
# named projections over one DataFrame — Catalyst prunes the scan per view.
# ---------------------------------------------------------------------------

TOPIC_PROJECTIONS: dict[str, list[str]] = {
    "leaderboard": [
        "instance_id", "query_id", "user_id", "arrival_timestamp", "compile_duration_ms",
    ],
    "query_metrics": ["instance_id", "was_aborted", "was_cached", "query_type"],
    "compile_metrics": [
        "instance_id", "num_joins", "num_scans", "num_aggregations",
        "mbytes_scanned", "mbytes_spilled",
    ],
    "stressindex": ["execution_duration_ms", "mbytes_spilled"],
    "flattened": [
        "instance_id", "query_id", "write_table_ids", "read_table_ids",
        "arrival_timestamp", "query_type",
    ],
}


def topic_view(df: DataFrame, topic: str) -> DataFrame:
    """Column-projected sub-stream for a producer topic (S6/P1)."""
    return df.select(*TOPIC_PROJECTIONS[topic])


# ---------------------------------------------------------------------------
# Scans (S1-S4)
# ---------------------------------------------------------------------------


# SQL confs whose values change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# Inferred schemas of single parquet files: one entry per (absolute path,
# inference conf values), holding the ``file_status`` it was inferred at.
# A rewritten file fails the status check and is inferred again, replacing
# its entry, so nothing ever has to clear this.  A rewrite with the same
# size and the same mtime in ns is the one case it cannot see.  Values are
# StructTypes, never DataFrames, so no entry outlives or pins a session.
# Two threads that miss together both infer; each entry is one tuple stored
# whole, so a schema is never paired with another read's status.
_SCHEMAS: dict[tuple, tuple[tuple[str, int, int], T.StructType]] = {}


def file_status(path: str) -> tuple[str, int, int] | None:
    """``(absolute path, mtime_ns, size)`` of one local file; None for what
    ``os.stat`` cannot describe as one file: a directory dataset, a URI
    with a scheme, a missing path."""
    if urlparse(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return os.path.abspath(path), st.st_mtime_ns, st.st_size


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S1/S2 parquet scan (`producer_Final.py:102`).

    Without ``schema``, a single local file's schema is inferred once per
    file status and inference confs, and later reads pass it to
    ``spark.read.schema``: footer inference is a Spark job, a schema'd read
    runs none.  A directory dataset or a URI falls back to plain inference."""
    status = file_status(path) if schema is None else None
    if status is not None:
        key = (status[0], tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
        memo = _SCHEMAS.get(key)
        if memo is None or memo[0] != status:
            # stat before inferring: a rewrite in between leaves an entry
            # whose status is already stale, never a wrong hit
            memo = _SCHEMAS[key] = (status, spark.read.parquet(path).schema)
        schema = memo[1]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S3 CSV scan (`Dashboard/Dashboard_updated.py:14-15`).  Schema-first;
    ``inferSchema`` only when none given (double scan — test-scale only)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl_redset(spark: SparkSession, path: str) -> DataFrame:
    """S4's batch twin: JSON-lines of Redset rows (the shape of the
    reference's Kafka messages, `Dashboard_Live_Final.py:642-666`) →
    canonical schema via the cleaning projection."""
    raw = spark.read.json(path)  # permissive: all fields may arrive as strings
    return clean_redset(raw)


# ---------------------------------------------------------------------------
# Serialization (S5/S6 batch twin)
# ---------------------------------------------------------------------------


def to_json_rows(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Row → JSON string with ISO-ish timestamps
    (`producer_Final.py:50-76`: ``isoformat()`` per value).  One column
    ``value`` — the exact payload shape of the Kafka sink."""
    if columns:
        df = df.select(*columns)
    cast_cols = [
        F.date_format(F.col(f.name), "yyyy-MM-dd'T'HH:mm:ss").alias(f.name)
        if isinstance(f.dataType, T.TimestampType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(cast_cols).select(F.to_json(F.struct("*")).alias("value"))


# ---------------------------------------------------------------------------
# Sinks (S7, S9, S14)
# ---------------------------------------------------------------------------


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """S7 parquet sink (`Dashboard_Live_Final.py:694`).  ``partition_by``
    is the scale lever the reference lacks — partition pruning at read."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    buckets: int,
    *cols: str,
) -> DataFrame:
    """Persist ``df`` as a catalog table BUCKETED (and sorted) on ``cols``
    — the at-rest co-location layout for repeated fact⋈fact joins: two
    tables bucketed on their join key with the same bucket count satisfy
    the join's clustering from disk, so the exchange that dominates a
    100 TB shuffle join disappears from the plan (the general form of
    ``llm.spans.write_span_index_bucketed``; plan-asserted for the Q9
    orderkey join in ``test_bucketed_join``).

    ``df`` is repartitioned by the bucket columns first so each bucket
    lands in ONE file (Spark's bucket hash and ``repartition`` both use
    Murmur3 mod n, so the write-side partitioning aligns with the bucket
    spec); at warehouse scale this writer is the nightly compaction job,
    not a per-query step.  Any stale catalog entry or orphaned managed
    path from an earlier session is cleared before the CTAS — a fresh
    session's in-memory catalog has forgotten the table, but its files
    survive in the warehouse dir."""
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    _clear_orphan_dir(spark, name)
    (
        df.repartition(buckets, *[F.col(c) for c in cols])
        .write.bucketBy(buckets, *cols)
        .sortBy(*cols)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return spark.table(name)


def append_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    buckets: int,
    *cols: str,
) -> DataFrame:
    """Append rows to an EXISTING bucketed table, preserving its bucket
    spec — the incremental-maintenance half of ``write_bucketed_table``:
    a continuously-ingesting deployment appends each accepted batch
    (one file per touched bucket) and lets the nightly compaction (the
    full writer) fold the day's deltas back into one file per bucket.
    Spark refuses the append if the declared spec mismatches the
    table's, so a drifted caller fails loudly instead of silently
    destroying the clustering the probe joins rely on."""
    (
        df.repartition(buckets, *[F.col(c) for c in cols])
        .write.bucketBy(buckets, *cols)
        .sortBy(*cols)
        .mode("append")
        .saveAsTable(name)
    )
    return spark.table(name)


def _clear_orphan_dir(spark: SparkSession, name: str) -> None:
    """Remove a warehouse directory left behind without a catalog entry
    (a fresh session's in-memory catalog forgets tables; their files
    survive and would collide with the next CTAS or RENAME)."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    orphan = os.path.join(wh, name.lower())
    if os.path.exists(orphan):
        shutil.rmtree(orphan)


def table_location(spark: SparkSession, name: str) -> str:
    """A table's storage location, via the session catalog's metadata
    surface (``getTableMetadata``) — DESCRIBE-output row filtering is
    brittle across catalog implementations (ADVICE r13).  Falls back to
    the DESCRIBE parse only if the py4j surface moves."""
    try:
        ident = spark._jvm.org.apache.spark.sql.catalyst.TableIdentifier(name)
        meta = spark._jsparkSession.sessionState().catalog().getTableMetadata(ident)
        return meta.location().toString()
    except Exception:  # noqa: BLE001 - deliberate: private-surface fallback
        return (
            spark.sql(f"DESCRIBE EXTENDED `{name}`")
            .filter("col_name = 'Location'")
            .first()["data_type"]
        )


def compact_bucketed_table(
    spark: SparkSession,
    name: str,
    buckets: int,
    *cols: str,
) -> DataFrame:
    """Rewrite a bucketed table to ONE file per bucket — the nightly
    compaction that folds a day of ``append_bucketed_table`` deltas
    (one file per touched bucket per trigger) back into the read-optimal
    layout.

    Crash safety (ADVICE r13): the swap renames the CURRENT table aside
    first (``name`` → ``name__precompact``), renames the compacted temp
    into place, then drops the aside — so a queryable table exists at
    every step except the instant between the two renames, and a crash
    there leaves the data intact under ``name__precompact``, which the
    NEXT compaction (or any caller) auto-recovers by renaming back.
    The old DROP-then-RENAME shape had a window where the data lived
    only under the temp name, with manual recovery."""
    tmp, aside = f"{name}__compacting", f"{name}__precompact"
    # auto-recovery from a prior crash between the renames: the data is
    # under the aside name and nothing is at `name` — restore it first
    # (a leftover aside WITH `name` present means the prior run died
    # after the second rename; the aside is stale and dropped below)
    if not table_exists(spark, name) and table_exists(spark, aside):
        spark.sql(f"ALTER TABLE `{aside}` RENAME TO `{name}`")
    spark.sql(f"DROP TABLE IF EXISTS `{aside}`")
    _clear_orphan_dir(spark, aside)
    # read by PATH, not by catalog name: a catalog read advertises the
    # bucket spec, Catalyst collapses the writer's repartition against
    # it as redundant, and the planner then separately disables the
    # bucketed scan (no remaining requirement) — leaving one output
    # file per (file-split × bucket), i.e. a compaction that doesn't
    # compact (observed on the test table: 8 files for 4 buckets).
    # The raw-path read has no partitioning claim, so the repartition
    # survives and each bucket lands in exactly one file.
    loc = table_location(spark, name)
    write_bucketed_table(spark, spark.read.parquet(loc), tmp, buckets, *cols)
    # metadata swap — never materializes the corpus off disk: the temp
    # is already the compacted layout; RENAME moves its directory
    spark.sql(f"ALTER TABLE `{name}` RENAME TO `{aside}`")
    spark.sql(f"ALTER TABLE `{tmp}` RENAME TO `{name}`")
    spark.sql(f"DROP TABLE IF EXISTS `{aside}`")
    return spark.table(name)


def data_file_count(spark: SparkSession, name: str) -> int:
    """Number of data files under a table's location — the cheap
    (driver-side listdir) signal the compaction-cadence policy reads
    after each append (``append_bucketed_table`` adds one file per
    touched bucket per call; probe cost grows with file count through
    per-file footer/open overhead — measured in SCALE.md r14)."""
    loc = table_location(spark, name)
    for prefix in ("file://", "file:"):
        if loc.startswith(prefix):
            loc = loc[len(prefix):]
            break
    try:
        return sum(
            1 for f in os.listdir(loc)
            if not f.startswith(("_", "."))
        )
    except FileNotFoundError:
        return 0


def compact_partitioned_dir(
    spark: SparkSession,
    path: str,
    partition_col: str = "cell",
) -> None:
    """Compaction for a partitioned parquet DIRECTORY (the semantic
    layout's analogue of ``compact_bucketed_table``): rewrite to one
    file per partition value via a staging dir, then swap with the same
    rename-aside discipline (crash at any step leaves a readable
    directory at ``path`` or auto-recoverable aside; next call
    recovers).  ``repartition(col)`` puts each partition value in one
    shuffle partition, so ``partitionBy`` emits exactly one file per
    value — the read-optimal layout the per-trigger appends erode."""
    tmp, aside = f"{path}__compacting", f"{path}__precompact"
    if not os.path.exists(path) and os.path.exists(aside):
        os.rename(aside, path)  # crash recovery: restore the aside
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)
    (
        spark.read.parquet(path)
        .repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .parquet(tmp)
    )
    os.rename(path, aside)
    os.rename(tmp, path)
    shutil.rmtree(aside)


def append_csv(df: DataFrame, path: str) -> None:
    """S9 CSV append sink (`Historical_data_cleaning.py:123`)."""
    df.write.mode("append").option("header", True).csv(path)


def insert_into_view(spark: SparkSession, df: DataFrame, view: str) -> DataFrame:
    """S14 INSERT INTO … SELECT: append rows to a registered temp view by
    re-registering the union (views are the engine's mutable-table stand-in,
    `Historical_data_cleaning.py:100-120`)."""
    if table_exists(spark, view):
        combined = spark.table(view).unionByName(df)
    else:
        combined = df
    combined.createOrReplaceTempView(view)
    return combined


# ---------------------------------------------------------------------------
# Catalog (S10, S11, S15)
# ---------------------------------------------------------------------------


def register_view(df: DataFrame, name: str) -> None:
    """S10/S11: CREATE OR REPLACE VIEW (`Dashboard_Historical_Final.py:66-99`)."""
    df.createOrReplaceTempView(name)


def table_exists(spark: SparkSession, name: str) -> bool:
    """S15 catalog introspection (`Dashboard_Historical_Final.py:707-755`)."""
    try:
        return spark.catalog.tableExists(name)
    except Exception:
        return False


def table_summary(spark: SparkSession, name: str) -> dict:
    """S15's existence + row-count + preview probe, as data not prints."""
    if not table_exists(spark, name):
        return {"table": name, "exists": False, "rows": 0}
    df = spark.table(name)
    return {"table": name, "exists": True, "rows": df.count(), "columns": df.columns}

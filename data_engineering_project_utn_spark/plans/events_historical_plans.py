"""Historical-plane event queries (ri_*): ingestion intervals, the as-of
output table, workload classification, freshness, clean/flatten
roundtrips, and the decile histograms (SURVEY §2.3-§2.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.operators import histogram as hist_ops
from data_engineering_project_utn_spark.operators import intervals as iv_ops
from data_engineering_project_utn_spark.operators import workload as wl_ops
from data_engineering_project_utn_spark.plans.events_shared import (
    INTERVALS_CTE,
    OUTPUT_CTE,
    WORKLOAD_CTE,
    _output_table,
    events_as_flat,
)
from data_engineering_project_utn_spark.plans.registry import (
    Builder,
    must_replace,
    register,
)
from data_engineering_project_utn_spark.tables import load_table

def _ingestion_intervals(salted: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """As-of next-ingestion intervals via lead() — replaces the
        reference's O(n²) self-join (J1/J2 → W2;
        `Dashboard_Historical_Final.py:216-238`,
        `Dashboard/update_tables.py:55-78`).

        ``salted`` (``ri_ingestion_intervals_salted``): the skew-salted
        as-of window (bucket-split + boundary repair,
        operators/intervals.ingestion_intervals_salted) held to the
        IDENTICAL oracle as the plain window — the driver verifies the
        hot-key scale path end-to-end."""
        flat = events_as_flat(spark, sf_dir)
        if salted:
            iv = iv_ops.ingestion_intervals_salted(flat, salt_interval="1 day")
        else:
            iv = iv_ops.ingestion_intervals(flat)
        return iv.select(
            "instance_id",
            "query_id",
            "write_table_id",
            F.col("current_timestamp").alias("ingest_ts"),
            F.col("next_timestamp").alias("next_ingest_ts"),
        )

    return build


register(
    "ri_ingestion_intervals",
    oracle=INTERVALS_CTE + "SELECT * FROM intervals",
    tags=("reference", "historical", "window", "bench"),
)(_ingestion_intervals(salted=False))
register(
    "ri_ingestion_intervals_salted",
    oracle=INTERVALS_CTE + "SELECT * FROM intervals",
    tags=("reference", "historical", "window", "skew", "scale"),
)(_ingestion_intervals(salted=True))


@register(
    "ri_output_freshness",
    oracle=OUTPUT_CTE + """
    SELECT instance_id, query_id, query_type, write_table_id, read_table_id,
           arrival_timestamp, last_write_table_insert, next_write_table_insert,
           (epoch_us(arrival_timestamp) - epoch_us(last_write_table_insert)) / 1000.0
               AS time_since_last_ingest_ms,
           (epoch_us(next_write_table_insert) - epoch_us(arrival_timestamp)) / 1000.0
               AS time_to_next_ingest_ms
    FROM output_t
    """,
    tags=("reference", "historical", "intervaljoin", "bench"),
)
def ri_output_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The output_table interval/theta join (J4) + UNION ALL add-back (O8) +
    EPOCH_MS freshness deltas (F1) — `Dashboard_Historical_Final.py:241-312`.
    Equality arms (instance, table) keep it a shuffled hash join; the time
    bracket is a post-join filter."""
    return _output_table(spark, sf_dir)


@register(
    "ri_workload_count",
    oracle=WORKLOAD_CTE + "SELECT instance_id, table_id, transform_count, select_count FROM workload",
    tags=("reference", "historical", "fullouter"),
)
def ri_workload_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tables_workload_count view: FULL OUTER JOIN of select vs transform
    counts with COALESCE'd keys (J3/A3; `Dashboard_Historical_Final.py:66-99`)."""
    return wl_ops.tables_workload_count(_output_table(spark, sf_dir))


@register(
    "ri_analytical_tables",
    oracle=WORKLOAD_CTE + "SELECT instance_id, table_id, percentage_select_queries FROM analytical",
    tags=("reference", "historical", "classifier"),
)
def ri_analytical_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """>80 %-select classifier (A19 ratio-of-aggregates with NULLIF guard;
    `Dashboard_Historical_Final.py:354-366`)."""
    wl = wl_ops.tables_workload_count(_output_table(spark, sf_dir))
    return wl_ops.analytical_tables(wl).select(
        "instance_id", "table_id", "percentage_select_queries"
    )


@register(
    "ri_ingestion_freshness",
    oracle=WORKLOAD_CTE + """
    SELECT instance_id, read_table_id,
           CAST(SUM(epoch_us(arrival_timestamp) - epoch_us(last_write_table_insert)) AS DOUBLE)
               / COUNT(*) / 1000000.0 AS avg_time_since_last_ingest_s,
           CAST(SUM(epoch_us(next_write_table_insert) - epoch_us(arrival_timestamp)) AS DOUBLE)
               / COUNT(next_write_table_insert) / 1000000.0 AS avg_time_to_next_ingest_s
    FROM output_t
    WHERE query_type = 'select'
      AND read_table_id IN (SELECT table_id FROM analytical)
    GROUP BY instance_id, read_table_id
    ORDER BY read_table_id, instance_id
    LIMIT 12
    """,
    tags=("reference", "historical", "semijoin", "bench"),
)
def ri_ingestion_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(instance, table) ingestion freshness for analytical tables
    (J7 semi-join + A7 multi-key AVG + O4 limit;
    `Dashboard_Historical_Final.py:338-412`).  Averages accumulate exact µs
    integers (sum of longs via decimal) — order-independent, see registry
    determinism contract."""
    out = _output_table(spark, sf_dir)
    wl = wl_ops.tables_workload_count(out)
    keys = wl_ops.analytical_tables(wl).select(F.col("table_id").alias("read_table_id"))
    since_us = F.unix_micros(F.col("arrival_timestamp")) - F.unix_micros(
        F.col("last_write_table_insert")
    )
    to_next_us = F.unix_micros(F.col("next_write_table_insert")) - F.unix_micros(
        F.col("arrival_timestamp")
    )
    return (
        out.filter(F.col("query_type") == "select")
        .join(F.broadcast(keys), on="read_table_id", how="left_semi")
        .groupBy("instance_id", "read_table_id")
        .agg(
            (
                F.sum(since_us.cast("decimal(25,0)")).cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("avg_time_since_last_ingest_s"),
            (
                F.sum(to_next_us.cast("decimal(25,0)")).cast("double")
                / F.count(to_next_us)
                / F.lit(1000000.0)
            ).alias("avg_time_to_next_ingest_s"),
        )
        .orderBy("read_table_id", "instance_id")
        .limit(12)
        .select(
            "instance_id",
            "read_table_id",
            "avg_time_since_last_ingest_s",
            "avg_time_to_next_ingest_s",
        )
    )


@register(
    "ri_freshness_alarm",
    oracle=OUTPUT_CTE + """
    , d AS (
        SELECT instance_id, read_table_id,
               (epoch_us(arrival_timestamp) - epoch_us(last_write_table_insert)) / 1000.0
                   AS since_ms,
               (epoch_us(next_write_table_insert) - epoch_us(arrival_timestamp)) / 1000.0
                   AS to_next_ms
        FROM output_t WHERE query_type = 'select'
    )
    SELECT instance_id, read_table_id,
           CAST(SUM(CAST(since_ms AS DECIMAL(30,6))) AS DOUBLE) / COUNT(since_ms)
               AS avg_since_ms,
           CAST(SUM(CAST(to_next_ms AS DECIMAL(30,6))) AS DOUBLE) / COUNT(to_next_ms)
               AS avg_to_next_ms
    FROM d
    GROUP BY instance_id, read_table_id
    HAVING CAST(SUM(CAST(since_ms AS DECIMAL(30,6))) AS DOUBLE) / COUNT(since_ms)
         > CAST(SUM(CAST(to_next_ms AS DECIMAL(30,6))) AS DOUBLE) / COUNT(to_next_ms)
    """,
    tags=("reference", "historical", "having"),
)
def ri_freshness_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness alarm — tables whose average time-since-ingest exceeds
    their average time-to-next-ingest (A11 HAVING variant;
    `Dashboard/update_tables.py:242-264`)."""
    return wl_ops.freshness_alarm(_output_table(spark, sf_dir))


@register(
    "ri_clean_roundtrip",
    oracle="""
    WITH raw AS (
        SELECT CASE WHEN event_id % 37 = 0 THEN 'NULL'
                    ELSE CAST(user_id AS VARCHAR) END AS instance_id,
               CAST(event_id AS VARCHAR) AS query_id,
               CASE WHEN event_id % 41 = 0 THEN 'not-a-date'
                    ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS arrival_timestamp,
               event_type AS query_type,
               CASE WHEN event_id % 43 = 0 THEN ''
                    ELSE CAST(value AS VARCHAR) END AS compile_duration_ms,
               CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'f' END AS was_aborted
        FROM events
    )
    SELECT COALESCE(TRY_CAST(NULLIF(instance_id, 'NULL') AS BIGINT), -1) AS instance_id,
           COALESCE(TRY_CAST(query_id AS BIGINT), -1) AS query_id,
           COALESCE(CASE WHEN TRY_CAST(arrival_timestamp AS TIMESTAMP)
                              BETWEEN TIMESTAMP '1677-09-22' AND TIMESTAMP '2262-04-11'
                         THEN TRY_CAST(arrival_timestamp AS TIMESTAMP) END,
                    TIMESTAMP '1970-01-01') AS arrival_timestamp,
           COALESCE(NULLIF(query_type, 'NULL'), 'UNKNOWN') AS query_type,
           COALESCE(TRY_CAST(NULLIF(compile_duration_ms, '') AS DOUBLE), 0)
               AS compile_duration_ms,
           CASE WHEN lower(was_aborted) IN ('true', '1', 't') THEN TRUE
                WHEN lower(was_aborted) IN ('false', '0', 'f') THEN FALSE
                ELSE FALSE END AS was_aborted
    FROM raw
    """,
    tags=("reference", "clean", "schema", "bench"),
)
def ri_clean_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning layer (F13-F16, §1.4) under the driver gate: stringify
    events (the shape of JSON-decoded Kafka rows) with deterministically
    injected dirt — 'NULL' ids, unparseable timestamps, empty numerics,
    mixed booleans — then ``clean_redset`` back to canonical types.  The
    oracle reproduces every coercion+default rule in SQL.  Doubles survive
    because each engine round-trips its *own* string formatting."""
    from data_engineering_project_utn_spark.operators.clean import clean_redset

    e = load_table(spark, sf_dir, "events")
    raw = e.select(
        F.when(F.col("event_id") % 37 == 0, F.lit("NULL"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("instance_id"),
        F.col("event_id").cast("string").alias("query_id"),
        F.when(F.col("event_id") % 41 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("arrival_timestamp"),
        F.col("event_type").alias("query_type"),
        F.when(F.col("event_id") % 43 == 0, F.lit(""))
        .otherwise(F.col("value").cast("string"))
        .alias("compile_duration_ms"),
        F.when(F.col("event_id") % 2 == 0, F.lit("true"))
        .otherwise(F.lit("f"))
        .alias("was_aborted"),
    )
    return clean_redset(raw).select(
        "instance_id",
        "query_id",
        "arrival_timestamp",
        "query_type",
        "compile_duration_ms",
        "was_aborted",
    )


@register(
    "ri_flatten_roundtrip",
    oracle="""
    WITH raw AS (
        SELECT user_id % 4 AS instance_id,
               event_id AS query_id,
               ts AS arrival_timestamp,
               event_type AS query_type,
               CASE WHEN event_id % 29 = 0 THEN '[]'
                    WHEN event_id % 31 = 0 THEN CAST(CAST(FLOOR(value) AS BIGINT) % 10 AS VARCHAR) || ',bad,999999'
                    ELSE CAST(CAST(FLOOR(value) AS BIGINT) % 10 AS VARCHAR) || ','
                         || CAST(CAST(FLOOR(value * 7) AS BIGINT) % 10 AS VARCHAR) END
                   AS read_table_ids,
               CAST(CAST(FLOOR(value) AS BIGINT) % 5 AS VARCHAR) AS write_table_ids
        FROM events
    ),
    flat AS (
        SELECT instance_id, query_id, arrival_timestamp, query_type,
               TRY_CAST(u.tok AS BIGINT) AS read_table_id,
               TRY_CAST(write_table_ids AS BIGINT) AS write_table_id
        FROM raw,
             LATERAL UNNEST(string_split(regexp_replace(read_table_ids, '[\\[\\]\\s]', '', 'g'), ',')) u(tok)
    )
    SELECT instance_id, query_id, arrival_timestamp, query_type,
           write_table_id, read_table_id
    FROM flat
    """,
    tags=("reference", "flatten", "explode"),
)
def ri_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV-id explode (F10, the reference's only UDTF-ish op) under the
    driver gate: synthesize CSV-encoded id lists from events — including
    empty '[]' lists, bad tokens, and 999999 sentinels — then
    ``flatten_table_ids``.  pandas-explode parity: empty lists keep a
    null row (explode_outer), bad tokens → null ids."""
    from data_engineering_project_utn_spark.operators.flatten import flatten_table_ids

    e = load_table(spark, sf_dir, "events")
    tid = F.floor(F.col("value")).cast("long")
    raw = e.select(
        (F.col("user_id") % 4).alias("instance_id"),
        F.col("event_id").alias("query_id"),
        F.col("ts").alias("arrival_timestamp"),
        F.col("event_type").alias("query_type"),
        F.when(F.col("event_id") % 29 == 0, F.lit("[]"))
        .when(
            F.col("event_id") % 31 == 0,
            F.concat((tid % 10).cast("string"), F.lit(",bad,999999")),
        )
        .otherwise(
            F.concat(
                (tid % 10).cast("string"),
                F.lit(","),
                (F.floor(F.col("value") * 7).cast("long") % 10).cast("string"),
            )
        )
        .alias("read_table_ids"),
        (tid % 5).cast("string").alias("write_table_ids"),
    )
    return flatten_table_ids(raw).select(
        "instance_id",
        "query_id",
        "arrival_timestamp",
        "query_type",
        "write_table_id",
        "read_table_id",
    )


_DECILE_ORACLE = WORKLOAD_CTE + """
    , rel AS (
        SELECT DISTINCT instance_id, query_id, read_table_id,
               ((epoch_us(arrival_timestamp) - epoch_us(last_write_table_insert)) / 1000.0)
             / ((epoch_us(next_write_table_insert) - epoch_us(last_write_table_insert)) / 1000.0)
               AS relative_to_next
        FROM output_t
        WHERE query_type = 'select'
          AND next_write_table_insert IS NOT NULL
          AND read_table_id IN (SELECT table_id FROM analytical)
    ), bins AS (
        SELECT instance_id, read_table_id,
               NTILE(10) OVER (ORDER BY relative_to_next, instance_id, query_id, read_table_id)
                   AS bin
        FROM rel
    )
    SELECT instance_id, read_table_id, bin, COUNT(*) AS n_queries
    FROM bins
    GROUP BY instance_id, read_table_id, bin
    ORDER BY instance_id, read_table_id, bin
    """


def _decile_rel(spark: SparkSession, sf_dir: str, dedup: bool = True) -> DataFrame:
    out = _output_table(spark, sf_dir)
    analytical = wl_ops.analytical_tables(wl_ops.tables_workload_count(out))
    return hist_ops.relative_to_next(out, analytical, dedup=dedup).filter(
        F.col("relative_to_next").isNotNull()
    )


def _decile_histogram(distributed: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Relative-ingestion-position NTILE(10) histogram (F9/W1/A12;
        `Dashboard_Historical_Final.py:428-528`).  Null-next rows (no later
        ingestion) are excluded — their relative position is undefined and
        NULL-ordering differs between engines.

        ``distributed`` (``ri_decile_histogram``): the *distributed* NTILE
        (no single-partition stage — asserted in test_plans.py).  The
        DISTINCT over rel rides the ranking's own bucket exchange
        (``dedup=True`` + a not-yet-distinct rel) — one wide shuffle of
        rel instead of two, plan-asserted.  Otherwise
        (``ri_decile_histogram_window``): the plain global-window NTILE
        over a distinct rel (one reducer — wins below the ~10M-row
        crossover), held to the identical oracle so the driver verifies
        both strategies stay bit-identical."""
        rel = _decile_rel(spark, sf_dir, dedup=not distributed)
        return hist_ops.decile_histogram(
            rel, distributed=distributed, dedup=distributed
        ).withColumnRenamed("count", "n_queries")

    return build


register(
    "ri_decile_histogram",
    oracle=_DECILE_ORACLE,
    tags=("reference", "historical", "ntile", "bench"),
)(_decile_histogram(distributed=True))
register(
    "ri_decile_histogram_window",
    oracle=_DECILE_ORACLE,
    tags=("reference", "historical", "ntile"),
)(_decile_histogram(distributed=False))


@register(
    "ri_decile_percentrank",
    oracle=must_replace(
        _DECILE_ORACLE,
        """NTILE(10) OVER (ORDER BY relative_to_next, instance_id, query_id, read_table_id)
                   AS bin""",
        """CAST(LEAST(FLOOR(percent_rank() OVER (ORDER BY relative_to_next,
                     instance_id, query_id, read_table_id) * 10) + 1, 10) AS INTEGER)
                   AS bin""",
    ),
    tags=("reference", "historical", "percentrank"),
)
def ri_decile_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percent-rank decile convention under its own value gate: bucket =
    floor(pct·10)+1 clipped, computed via the distributed global rank
    (bucket exchange + broadcast offsets — no single-partition window; see
    operators/histogram.py decile_by_percent_rank).  The oracle runs DuckDB's
    actual percent_rank() over the same total order, so the rank machinery
    and the boundary arithmetic are both value-checked — keeping the 100×
    scale path continuously verified, not just pytest-exercised.  Shares
    the headline's round-11 rank-path structure: the DISTINCT rides the
    rank exchange and the [0, 1] relative-position domain replaces the
    sampled range split (one wide shuffle of rel, no boundary-sampling
    pass)."""
    rel = _decile_rel(spark, sf_dir, dedup=False)
    return hist_ops.decile_by_percent_rank(
        rel, dedup=True, domain=(0.0, 1.0)
    ).withColumnRenamed("count", "n_queries")


# ---------------------------------------------------------------------------
# Live plane (SURVEY §2.2/§2.4/§2.6: A1-A6, A15-A17, O2-O3, F6-F7, F11-F12)
# ---------------------------------------------------------------------------

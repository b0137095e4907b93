"""Live-plane event queries (rl_*): counters, leaderboards,
distributions, EMA variants, sessionization, producer batching
(SURVEY §2.4-§2.7)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.operators import ema as ema_ops
from data_engineering_project_utn_spark.operators import histogram as hist_ops
from data_engineering_project_utn_spark.operators import live as live_ops
from data_engineering_project_utn_spark.plans.registry import register
from data_engineering_project_utn_spark.tables import load_table

@register(
    "rl_stress_level",
    oracle="""
    WITH s AS (SELECT CAST(FLOOR(value * 1000) AS BIGINT) AS execution_duration_ms
               FROM events)
    SELECT CAST(SUM(execution_duration_ms) AS DOUBLE) * 100.0
           / CAST(NULLIF(MAX(execution_duration_ms) * COUNT(*), 0) AS DOUBLE)
               AS stress_level_pct
    FROM s
    """,
    tags=("reference", "live", "stress"),
)
def rl_stress_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stress-level percentage total/(max·n)·100 (F19;
    `Dashboard/streamlit_app.py:364-366`).  Durations quantized to integer
    ms so the sum is exact (order-independent) at any parallelism."""
    e = load_table(spark, sf_dir, "events")
    stress = e.select(
        (F.floor(F.col("value") * 1000)).cast("long").alias("execution_duration_ms")
    )
    return live_ops.stress_level(stress)


@register(
    "rl_cached_success_rate",
    oracle="""
    WITH m AS (SELECT value > 50 AS was_cached, event_type = 'error' AS was_aborted
               FROM events)
    SELECT COUNT(CASE WHEN was_cached AND NOT was_aborted THEN 1 END) * 100.0
           / NULLIF(COUNT(CASE WHEN was_cached THEN 1 END), 0)
               AS cached_success_rate_pct
    FROM m
    """,
    tags=("reference", "live", "ratio"),
)
def rl_cached_success_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached-query success rate (F20; `Dashboard/streamlit_app.py:378`) —
    boolean flags derived from events (value>50 ≅ cached, error ≅ aborted)
    so both CASE arms are populated."""
    e = load_table(spark, sf_dir, "events")
    m = e.select(
        (F.col("value") > 50).alias("was_cached"),
        (F.col("event_type") == "error").alias("was_aborted"),
    )
    return live_ops.cached_success_rate(m)


@register(
    "rl_event_counters",
    oracle="""
    SELECT COUNT(*) AS total_events,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
           COUNT(CASE WHEN event_type IN ('view', 'click') THEN 1 END) AS reads,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups
    FROM events
    """,
    tags=("reference", "live", "agg"),
)
def rl_event_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar conditional counters (A1-A4; `Dashboard_Live_Final.py:230-237`)."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
        F.count(F.when(F.col("event_type").isin("view", "click"), 1)).alias("reads"),
        F.count(F.when(F.col("event_type") == "signup", 1)).alias("signups"),
    )


@register(
    "rl_top_events_by_value",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(FLOOR(value * 1000 / 60000) AS BIGINT) || ':' ||
           LPAD(CAST(CAST(FLOOR((value * 1000 % 60000) / 1000) AS BIGINT) AS VARCHAR), 2, '0')
               AS duration_display
    FROM (SELECT DISTINCT event_id, user_id, value FROM events)
    ORDER BY value DESC, event_id
    LIMIT 10
    """,
    tags=("reference", "live", "topk"),
)
def rl_top_events_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 leaderboard with DISTINCT + m:ss display formatting
    (O2 + F6/F7; `Dashboard_Live_Final.py:339-357`).  TakeOrdered — no
    global sort; total order via event_id tiebreaker."""
    e = load_table(spark, sf_dir, "events")
    ms = F.col("value") * 1000
    mins = F.floor(ms / 60000).cast("long")
    secs = F.floor((ms % 60000) / 1000).cast("long")
    return (
        e.select("event_id", "user_id", "value")
        .distinct()
        .orderBy(F.desc("value"), "event_id")
        .limit(10)
        .withColumn(
            "duration_display",
            F.concat(
                mins.cast("string"), F.lit(":"), F.lpad(secs.cast("string"), 2, "0")
            ),
        )
    )


@register(
    "rl_top_users",
    oracle="""
    SELECT user_id, COUNT(*) AS query_count
    FROM events
    GROUP BY user_id
    ORDER BY query_count DESC, user_id
    LIMIT 5
    """,
    tags=("reference", "live", "topk"),
)
def rl_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users by event count (A6/O3; `Dashboard_Live_Final.py:404-410`)."""
    e = load_table(spark, sf_dir, "events")
    return live_ops.leaderboard_user_queries(
        e.select(F.col("user_id")), k=5
    ).withColumnRenamed("count", "query_count")


@register(
    "rl_type_distribution",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY n DESC, event_type
    """,
    tags=("reference", "live", "agg"),
)
def rl_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution (A16; `Dashboard_Live_Final.py:452-459`)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
    )


@register(
    "rl_hourly_activity",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
    tags=("reference", "live", "agg"),
)
def rl_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly activity rollup (F12/A13-A14; `Dashboard_updated.py:188`)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "rl_value_buckets",
    oracle="""
    SELECT CASE WHEN value < 100 THEN 'Short'
                WHEN value < 1000 THEN 'Medium'
                ELSE 'Long' END AS bucket,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
    tags=("reference", "live", "bucketing"),
)
def rl_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.cut-style fixed binning (F11; `Dashboard_updated.py:181-184`)."""
    from data_engineering_project_utn_spark.functions.scalar import bucket_duration

    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("bucket", bucket_duration("value"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "rl_mmss_format",
    oracle="""
    WITH d AS (SELECT event_id, CAST(FLOOR(value * 1000) AS BIGINT) AS duration_ms
               FROM events)
    SELECT event_id, duration_ms,
           CAST(CAST(FLOOR(duration_ms / 60000) AS BIGINT) AS VARCHAR) || ':' ||
           lpad(CAST(CAST(FLOOR((duration_ms % 60000) / 1000.0) AS BIGINT) AS VARCHAR), 2, '0')
               AS duration_mmss
    FROM d
    ORDER BY duration_ms DESC, event_id
    LIMIT 20
    """,
    tags=("reference", "live", "format"),
)
def rl_mmss_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m:ss duration formatting (F6/F7; `Kafka/ddb_wrappers.py:354-361`
    FLOOR/LPAD SQL and `Dashboard_Live_Final.py:352-354` Python lambda —
    here one codegen'd Column expression) over the longest 20 durations
    (total order: duration desc, event_id)."""
    from data_engineering_project_utn_spark.functions.scalar import mmss

    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "event_id", F.floor(F.col("value") * 1000).cast("long").alias("duration_ms")
    )
    return (
        d.withColumn("duration_mmss", mmss("duration_ms"))
        .orderBy(F.desc("duration_ms"), "event_id")
        .limit(20)
    )


@register(
    "rl_user_categories",
    oracle="""
    SELECT user_id,
           COUNT(DISTINCT event_type) AS type_count,
           CASE WHEN COUNT(DISTINCT event_type) <= 2 THEN 'Local'
                WHEN COUNT(DISTINCT event_type) <= 5 THEN 'Regional'
                ELSE 'Global' END AS category
    FROM events GROUP BY user_id
    """,
    tags=("reference", "live", "distinctagg"),
)
def rl_user_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count categorizer (A15/F17; `live_updates_duckdb.py:124-136`
    — a Python row-UDF there, a codegen'd CASE WHEN here)."""
    from data_engineering_project_utn_spark.functions.scalar import categorize_cluster

    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("type_count"))
        .withColumn("category", categorize_cluster("type_count"))
    )


@register(
    "rl_purchase_rate",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'purchase' AND value > 50 THEN 1 END) * 100.0
             / NULLIF(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
               AS big_purchase_pct
    FROM events GROUP BY user_id
    """,
    tags=("reference", "live", "ratio"),
)
def rl_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-conditional-counts with NULLIF guard (A19/F4/F20;
    `Dashboard/streamlit_app.py:378`)."""
    e = load_table(spark, sf_dir, "events")
    big = F.count(F.when((F.col("event_type") == "purchase") & (F.col("value") > 50), 1))
    alln = F.count(F.when(F.col("event_type") == "purchase", 1))
    return e.groupBy("user_id").agg(
        (big * F.lit(100.0) / F.nullif(alln, F.lit(0))).alias("big_purchase_pct")
    )


@register(
    "rl_stress_ema",
    oracle="""
    SELECT
        list_reduce(list_transform(l, x -> CAST(x AS DOUBLE)),
                    (acc, x) -> 0.02 * x + (1.0 - 0.02) * acc) AS ema_short,
        list_reduce(list_transform(l, x -> CAST(x AS DOUBLE)),
                    (acc, x) -> 0.005 * x + (1.0 - 0.005) * acc) AS ema_long,
        len(l) AS n_obs
    FROM (SELECT list(value ORDER BY ts, event_id) AS l FROM events)
    """,
    tags=("reference", "live", "ema"),
)
def rl_stress_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stress-index EMA (F18/W4/T7; `Dashboard_Live_Final.py:577-624`,
    α=0.02 short / 0.005 long, seeded by the first observation).

    Batch form: JVM-side aggregate() fold over the event-time-ordered value
    list — identical left fold to the DuckDB ``list_reduce`` oracle, so the
    result is bit-exact.  Streaming form: streaming.stateful_ema.
    """
    e = load_table(spark, sf_dir, "events")
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("ts").alias("o"), F.col("event_id").alias("q"), F.col("value").alias("v")))
    )
    values = F.transform(pairs, lambda s: s["v"].cast("double"))
    return e.agg(
        ema_ops.ema_expr(values, 0.02).alias("ema_short"),
        ema_ops.ema_expr(values, 0.005).alias("ema_long"),
        F.count(F.lit(1)).alias("n_obs"),
    )


@register(
    "rl_user_ema",
    oracle="""
    SELECT user_id,
           list_reduce(list_transform(list(value ORDER BY ts, event_id), x -> CAST(x AS DOUBLE)),
                       (acc, x) -> 0.02 * x + (1.0 - 0.02) * acc) AS ema,
           COUNT(*) AS n_obs
    FROM events GROUP BY user_id
    """,
    tags=("reference", "live", "ema"),
)
def rl_user_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed EMA fold (F18 generalized per key — one shuffle on the key,
    in-group ordered fold)."""
    e = load_table(spark, sf_dir, "events")
    pairs = F.array_sort(
        F.collect_list(
            F.struct(F.col("ts").alias("o"), F.col("event_id").alias("q"), F.col("value").alias("v"))
        )
    )
    values = F.transform(pairs, lambda s: s["v"].cast("double"))
    return e.groupBy("user_id").agg(
        ema_ops.ema_expr(values, 0.02).alias("ema"),
        F.count(F.lit(1)).alias("n_obs"),
    )


@register(
    "rl_duration_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("reference", "live", "percentile"),
)
def rl_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value percentiles — the latency-distribution view the
    reference's dashboards lack entirely (SURVEY §2.4: no median/percentile
    anywhere).  Spark's exact ``percentile`` matches DuckDB's
    ``quantile_cont`` interpolation bit-for-bit (probed).  Exact percentile
    buffers each group's values — bounded here by the event_type domain; at
    100 TB switch to ``approx_percentile`` (t-digest, no buffering)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .orderBy("event_type")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "rl_hourly_type_pivot",
    oracle="SELECT EXTRACT(hour FROM ts) AS hour, "
    + ", ".join(
        f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY hour ORDER BY hour",
    tags=("reference", "live", "pivot"),
)
def rl_hourly_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour × event-type pivot (the wide layout dashboards chart directly).
    Explicit pivot values keep the plan deterministic — no extra
    distinct-scan job to discover columns, and a stable schema at any SF;
    absent combinations coalesce to 0 like the oracle's conditional
    counts."""
    e = load_table(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.hour("ts").alias("hour"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return wide.select(
        "hour",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    ).orderBy("hour")


def _profile_oracle() -> str:
    """UNION ALL per events column, mirroring operators/profile.py:
    extremes only for types whose string rendering is engine-canonical."""
    cols = {
        "event_id": True,
        "ts": False,
        "user_id": True,
        "event_type": True,
        "value": False,
        "props": True,
    }
    parts = []
    for c, extremes in cols.items():
        mn = f"CAST(MIN({c}) AS VARCHAR)" if extremes else "CAST(NULL AS VARCHAR)"
        mx = f"CAST(MAX({c}) AS VARCHAR)" if extremes else "CAST(NULL AS VARCHAR)"
        parts.append(
            f'SELECT \'{c}\' AS "column", COUNT(*) AS n_rows,'
            f" COUNT({c}) AS n_nonnull, COUNT(*) - COUNT({c}) AS n_null,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM events"
        )
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


@register(
    "rl_events_profile",
    oracle=_profile_oracle(),
    tags=("reference", "profiling", "introspection"),
)
def rl_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-introspected one-pass column profiler (S15 generalized: the
    reference eyeballs row counts/previews per table; this publishes the
    data-quality summary — null rates, cardinalities, extremes — as a
    queryable frame).  All aggregates evaluate in one scan; extremes are
    emitted only for types whose string form is engine-canonical (see
    operators/profile.py)."""
    from data_engineering_project_utn_spark.operators.profile import profile_columns

    e = load_table(spark, sf_dir, "events")
    return profile_columns(e)


@register(
    "rl_ema_scan",
    oracle="""
    SELECT COUNT(value) AS n_obs, TRUE AS scan_matches_sequential FROM events
    """,
    tags=("reference", "live", "ema", "scale"),
)
def rl_ema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmented-scan EMA (operators/ema.py ema_scan — parallel affine
    composition for one hot key, no single-task fold) under a tolerance
    gate.  Its FP regrouping is ulp-divergent from the sequential fold by
    design, so a bit-exact oracle can't apply; instead the query computes
    BOTH the scan and the sequential JVM fold (itself bit-gated via
    rl_stress_ema) and returns whether they agree to 1e-9 relative — the
    driver then value-checks (n_obs, TRUE), failing if the scan ever drifts
    beyond tolerance.
    """
    e = load_table(spark, sf_dir, "events")
    scan_val = ema_ops.ema_scan(e, "ts", "value", alpha=0.02)
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("ts").alias("o"), F.col("value").alias("v")))
    )
    values = F.transform(pairs, lambda s: s["v"].cast("double"))
    (seq_row,) = e.agg(
        ema_ops.ema_expr(values, 0.02).alias("seq"),
        F.count("value").alias("n_obs"),
    ).collect()
    seq_val, n_obs = seq_row["seq"], seq_row["n_obs"]
    if scan_val is None or seq_val is None:
        matches = scan_val is None and seq_val is None
    else:
        matches = abs(scan_val - seq_val) <= 1e-9 * max(1.0, abs(seq_val))
    return spark.createDataFrame(
        [(n_obs, bool(matches))], "n_obs bigint, scan_matches_sequential boolean"
    )


@register(
    "rl_producer_batches",
    oracle="""
    WITH ranked AS (
        SELECT event_id, ts,
               ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rank0
        FROM events
    )
    SELECT CAST(FLOOR(rank0 / 500) AS BIGINT) AS batch_id,
           COUNT(*) AS n_rows,
           MIN(ts) AS batch_start,
           MAX(ts) AS batch_end
    FROM ranked GROUP BY batch_id ORDER BY batch_id
    """,
    tags=("reference", "producer", "batching"),
)
def rl_producer_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The producer's replay batching made queryable: the reference assigns
    ``batch_id = index // batch_size`` while feeding Kafka
    (`Real Final APP/producer_Final.py:111`, batch col dropped before
    send); this reconstructs the same assignment over a total (ts,
    event_id) order and publishes the per-batch manifest (size, time
    span).  The global index comes from operators/histogram.py
    with_global_rank — bucket exchange + literal offsets, no
    single-partition window — so the batching is itself a distributed op,
    not a driver enumeration."""
    e = load_table(spark, sf_dir, "events")
    ranked = hist_ops.with_global_rank(e.select("event_id", "ts"), ["ts", "event_id"])
    return (
        ranked.withColumn(
            "batch_id", F.floor(F.col("_rank0") / F.lit(500)).cast("long")
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("batch_start"),
            F.max("ts").alias("batch_end"),
        )
        .orderBy("batch_id")
    )


@register(
    "rl_user_ema_scan",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_keys, TRUE AS scan_matches_sequential
    FROM events
    """,
    tags=("reference", "live", "ema", "scale"),
)
def rl_user_ema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key segmented-scan EMA (operators/ema.py ema_scan_by_key — the
    hot-key-safe twin of rl_user_ema: two distributed fold levels, state
    per task bounded by rows-per-key/num_segments, nothing per-key on the
    driver) under the rl_ema_scan-style tolerance gate.  The query runs
    BOTH the segmented scan and the sequential per-key fold (itself
    bit-gated via rl_user_ema), joins them on the key, and returns whether
    every key agrees to 1e-9 relative — the driver value-checks
    (n_keys, TRUE), failing if any key ever drifts beyond tolerance."""
    e = load_table(spark, sf_dir, "events")
    scan = ema_ops.ema_scan_by_key(
        e, ["user_id"], "ts", "value", alpha=0.02, num_segments=8
    )
    seq = ema_ops.ema_by_key(e, ["user_id"], "ts", "value", alpha=0.02)
    joined = scan.alias("a").join(seq.alias("b"), "user_id", "full")
    ok = (
        F.col("a.ema").isNull() & F.col("b.ema").isNull()
    ) | (
        F.abs(F.col("a.ema") - F.col("b.ema"))
        <= F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(F.col("b.ema")))
    )
    (row,) = joined.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            F.when(ok & (F.col("a.n_obs") == F.col("b.n_obs")), 0).otherwise(1)
        ).alias("n_bad"),
    ).collect()
    return spark.createDataFrame(
        [(row["n_keys"], bool(row["n_bad"] == 0))],
        "n_keys bigint, scan_matches_sequential boolean",
    )


@register(
    "rl_trailing_avg",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS trailing_avg_100
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
    """,
    tags=("reference", "live", "window"),
)
def rl_trailing_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded trailing window — the dashboard's last-100-points buffer as a
    window aggregate (W5; `Dashboard_Live_Final.py:177-184`).  Decimal
    accumulation keeps the sliding sum exact at every offset."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.sum(F.col("value").cast("decimal(14,2)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("trailing_avg_100"),
    )


@register(
    "rl_user_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1000000.0
               AS duration_s
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("reference", "sessionization", "window"),
)
def rl_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (beyond the reference, which has no session
    windows — SURVEY §2.8): a new session starts after a >30-min silence;
    session id = running count of session starts per user (lag + cumulative
    sum over one partitioned window — both window functions share the same
    shuffle on user_id), then per-session rollup.  The same op batch-side
    that Structured Streaming's ``session_window`` computes on streams;
    duration arithmetic stays in exact integer µs until the final divide."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    sess = e.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_id"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).cast("double")
                / 1_000_000.0
            ).alias("duration_s"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "rl_value_outliers",
    oracle="""
    WITH st AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(FLOOR(value * 10000.0) AS DECIMAL(18,0))) AS s,
               SUM(CAST(FLOOR(value * 10000.0) AS DECIMAL(18,0))
                   * CAST(FLOOR(value * 10000.0) AS DECIMAL(18,0))) AS sq
        FROM events GROUP BY event_type
    ),
    m AS (
        SELECT event_type,
               (CAST(s AS DOUBLE) / 10000.0) / CAST(n AS DOUBLE) AS mean_v,
               SQRT((CAST(sq AS DOUBLE) / 100000000.0) / CAST(n AS DOUBLE)
                    - ((CAST(s AS DOUBLE) / 10000.0) / CAST(n AS DOUBLE))
                      * ((CAST(s AS DOUBLE) / 10000.0) / CAST(n AS DOUBLE))) AS std_v
        FROM st
    )
    SELECT e.event_id, e.event_type, e.value,
           m.mean_v AS group_mean,
           (e.value - m.mean_v) / m.std_v AS zscore
    FROM events e JOIN m USING (event_type)
    WHERE m.std_v > 0 AND (e.value - m.mean_v) / m.std_v > 3.0
    ORDER BY zscore DESC, e.event_id
    LIMIT 20
    """,
    tags=("live", "profile", "anomaly"),
)
def rl_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly detection (the ingest-pipeline data-quality
    monitor): exact fixed-point group stats (tie-free 1e-4 quantization —
    scale=10000, squared in decimal so large magnitudes can't wrap int64 —
    so mean/std hash-match DuckDB bit-exactly) broadcast over one scan;
    top-20 events above mean + 3 std, ranked by z."""
    from data_engineering_project_utn_spark.operators.profile import value_outliers

    e = load_table(spark, sf_dir, "events")
    return value_outliers(
        e, group_col="event_type", value_col="value", id_col="event_id"
    )


@register(
    "rl_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           COUNT(*) FILTER (json_extract_string(props, '$.k') IS NULL) AS n_unparsed
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("live", "json", "semistructured"),
)
def rl_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload parsing (the Kafka-consumer surface in
    batch): the JSON ``props`` column parsed with ``get_json_object`` —
    JVM-side Jackson, no UDF — and aggregated per type with exact integer
    sums; unparseable payloads surface as a count instead of vanishing.
    At scale this is the scan-speed schema-on-read path (at rest, promote
    hot JSON fields to columns)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(F.when(k.isNull(), 1)).alias("n_unparsed"),
        )
        .orderBy("event_type")
    )


@register(
    "rl_event_transitions",
    oracle="""
    WITH seq AS (SELECT user_id, event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS prev_type
                 FROM events),
    c AS (SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type),
    r AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total FROM c
          GROUP BY prev_type)
    SELECT c.prev_type, c.event_type, c.n, r.row_total,
           CAST(c.n AS DOUBLE) / CAST(r.row_total AS DOUBLE) AS prob
    FROM c JOIN r USING (prev_type)
    ORDER BY prev_type, event_type
    """,
    tags=("events", "window", "markov"),
)
def rl_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    (prev → next) counts and exact-rational row-normalized
    probabilities — the behavioral-sequence model (funnel analysis /
    next-event prediction prior) the reference's per-type counters
    can't express.  One per-user lag window (total order: ts,
    event_id — no tie ambiguity cross-engine) + a model-size
    type-pair aggregation; the probability is one exact-int division."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("row_total"))
    return (
        c.join(r, "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            "row_total",
            (F.col("n").cast("double") / F.col("row_total").cast("double")).alias(
                "prob"
            ),
        )
        .orderBy("prev_type", "event_type")
    )


@register(
    "rl_cohort_retention",
    oracle="""
    WITH firsts AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
                    FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT e.user_id, f.cohort_day,
                   date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
                       AS week_offset
            FROM events e JOIN firsts f USING (user_id)),
    cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
           FROM firsts GROUP BY cohort_day),
    r AS (SELECT cohort_day, CAST(week_offset AS BIGINT) AS week_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_active
          FROM act GROUP BY cohort_day, week_offset)
    SELECT CAST(r.cohort_day AS VARCHAR) AS cohort_day,
           r.week_offset, r.n_active, cs.cohort_size,
           CAST(r.n_active AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE) AS retention
    FROM r JOIN cs USING (cohort_day)
    ORDER BY cohort_day, week_offset
    """,
    tags=("events", "cohort", "retention"),
)
def rl_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the product-analytics staple the reference's
    live counters can't express: users grouped by first-seen DAY, their
    activity bucketed by integer week offset from that day
    (date_diff // 7 — day arithmetic, no week-boundary convention to
    disagree on), retention as one exact-int division per cell.  Two
    user-key aggregations + one distinct — the cohort/size frames are
    calendar-bounded (model-size) at any event volume."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    act = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    cs = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    r = act.groupBy("cohort_day", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return (
        r.join(cs, "cohort_day")
        .select(
            # string-rendered date: the drivers' pandas bridges disagree on
            # DATE (datetime.date vs Timestamp) — ISO text hashes identically
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_day", "week_offset")
    )


@register(
    "rl_funnel",
    oracle="""
    WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN t1 ON t1.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN t2 ON t2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id),
    f AS (SELECT CAST(COUNT(t1.user_id) AS BIGINT) AS n_view,
                 CAST(COUNT(t2.user_id) AS BIGINT) AS n_view_click,
                 CAST(COUNT(t3.user_id) AS BIGINT) AS n_full_funnel
          FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
    SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
           f.n_view, f.n_view_click, f.n_full_funnel
    FROM f
    """,
    tags=("events", "funnel"),
)
def rl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click-after-view →
    purchase-after-click): per-stage user counts where each stage's
    timestamp must STRICTLY follow the previous stage's first
    completion — the sequential-pattern query counters and pivots can't
    express.  Three chained per-user MIN aggregations (each one
    user-key join + groupBy, no window over the raw stream), assembled
    into one row; every value an exact integer count."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    f = (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .agg(
            F.count("t1").cast("long").alias("n_view"),
            F.count("t2").cast("long").alias("n_view_click"),
            F.count("t3").cast("long").alias("n_full_funnel"),
        )
    )
    tot = e.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    return tot.crossJoin(F.broadcast(f)).select(
        "n_users", "n_view", "n_view_click", "n_full_funnel"
    )


@register(
    "rl_rfm_segments",
    oracle="""
    WITH per AS (
        SELECT user_id, MAX(ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
    rk AS (SELECT user_id, monetary,
                  row_number() OVER (ORDER BY last_ts, user_id) AS rr,
                  row_number() OVER (ORDER BY freq, user_id) AS fr,
                  row_number() OVER (ORDER BY monetary, user_id) AS mr
           FROM per),
    seg AS (SELECT user_id, monetary,
                   CAST(1 + (4 * (rr - 1)) // n.n AS BIGINT) AS r_q,
                   CAST(1 + (4 * (fr - 1)) // n.n AS BIGINT) AS f_q,
                   CAST(1 + (4 * (mr - 1)) // n.n AS BIGINT) AS m_q
            FROM rk, n)
    SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM seg GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
    tags=("events", "live", "segmentation", "report"),
)
def rl_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the purchase stream — the classic
    marketing-analytics rollup: per user recency (last purchase),
    frequency (purchase count) and monetary (exact DECIMAL spend), each
    quartiled by the quota rule 1 + ⌊4(r−1)/n⌋ over a TOTAL order
    (metric, user_id — the ccnet-tertile arithmetic at k = 4), then
    segment cells (r_q, f_q, m_q) counted with their exact decimal
    spend.  Quartile 4 = most recent / most frequent / highest spend.

    Scale: the per-user frame is ONE user-key aggregation of the raw
    stream; the three quartile ranks run on that aggregated frame
    through ``with_global_rank`` — bucket-partitioned distributed ranks,
    NO single-partition window anywhere (plan-asserted), the same
    machinery as ``ri_decile_percentrank``/``shard_assignment``; the
    oracle's row_number() is the semantics, not the plan."""
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )
    from data_engineering_project_utn_spark.persist import track_persist

    ev = load_table(spark, sf_dir, "events")
    per = track_persist(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("monetary"),
        )
    )
    quota = "CAST(1 + (4 * _rank0) div _total AS BIGINT)"

    def qcol(order_cols: "list[str]", name: str) -> DataFrame:
        return (
            with_global_rank(per, order_cols)
            .select("user_id", F.expr(quota).alias(name))
        )
    seg = (
        per.select("user_id", "monetary")
        .join(qcol(["last_ts", "user_id"], "r_q"), "user_id")
        .join(qcol(["freq", "user_id"], "f_q"), "user_id")
        .join(qcol(["monetary", "user_id"], "m_q"), "user_id")
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )

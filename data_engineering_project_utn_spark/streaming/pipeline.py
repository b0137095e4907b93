"""Structured Streaming layer — the reference's Kafka/consumer planes
re-expressed as native streaming queries (SURVEY.md §2.8).

Reference behaviors mapped:

* T1 micro-batch poll loop (2 s sleep)        → micro-batch triggers
* T2 60 s TRUNCATE "TTL tables"               → event-time tumbling window +
                                                 watermark (state evicted in
                                                 append/update mode only)
* T3 MAX(ts) watermark probe                   → withWatermark
* T4 hopping-window incremental processing     → foreachBatch over the same
                                                 batch operators (stateless
                                                 recompute, see T5)
* T5 late-data UPDATE repair                   → recompute lead() on the
                                                 accumulated table per batch —
                                                 the as-of window self-heals,
                                                 no in-place UPDATE needed
* T6 at-least-once + DISTINCT dedup            → checkpoint offsets +
                                                 dropDuplicates within watermark
                                                 (an *upgrade* to exactly-once)
* T7 streaming EMA stress index                → applyInPandasWithState
* O7 sorted-deque top-k                        → RunningTopK (foreachBatch,
                                                 k-row driver accumulator)

Kafka sources/sinks are expressed but not exercised here (no broker in the
test environment); the file-source path runs the identical DataFrame logic —
swapping ``readStream.format("kafka")`` for the file source is config, not
code, which is the point of building on Structured Streaming.

Scale notes: all window aggregations are keyed (watermark bounds state);
the EMA operator keys state by a bounded-domain column (instance_id).  At
100 TB/day the only state that grows is the dedup buffer, bounded by the
watermark horizon.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_engineering_project_utn_spark.operators import intervals as iv_ops
from data_engineering_project_utn_spark.schema import FLATTENED_SCHEMA, OUTPUT_SCHEMA


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-drop source — the test-environment stand-in for the Kafka topic
    (identical downstream logic)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def json_value_columns(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """The consumer-side message decode shared by every transport: a
    ``value`` payload column → from_json(schema) → typed columns.

    This is the declarative twin of the reference consumer's
    ``json.loads`` + ``pd.DataFrame`` loop
    (`Real Final APP/Dashboard_Live_Final.py:642-666`).  Kafka, the TCP
    socket source, and the batch tests all funnel through this one parse,
    so transport choice is config, not code.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")


def kafka_json_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka JSON source (S4): value bytes → from_json(schema) → columns.

    Mirrors the reference consumer's json.loads + pd.DataFrame path
    (`Real Final APP/Dashboard_Live_Final.py:642-666`) as a declarative
    plan.  Requires a broker; not exercised in this container.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return json_value_columns(raw, schema)


def socket_json_stream(
    spark: SparkSession,
    host: str,
    port: int,
    schema: T.StructType,
) -> DataFrame:
    """TCP socket JSON source — the jar-free network transport twin of
    ``kafka_json_stream`` (S4).

    Spark's built-in socket source needs no connector jar, so it is the
    one transport this container can actually move bytes through; the
    integration test (`tests/test_streaming.py::TestSocketTransport`)
    runs a real TCP server → this source → ``live_window_counters`` and
    asserts parity with the batch aggregation, which is the strongest
    end-to-end streaming-transport evidence available without a broker.
    The parse after ``load()`` is byte-identical to the Kafka path
    (``json_value_columns``).  Test-only transport: no offset replay, so
    production stays on Kafka.
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return json_value_columns(raw, schema)


def to_kafka_json_sink(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """Kafka JSON sink (S5/S6): row → JSON message.  Reference:
    `producer_Final.py:50-76` (row-at-a-time Python producer there; a
    distributed exactly-once sink here)."""
    return (
        df.selectExpr("to_json(struct(*)) AS value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def replay_delay_seconds(
    batch_start,
    next_batch_start,
    scaling_factor: float = 6480.0,
    min_delay: float = 1.0,
) -> float:
    """T8 replay pacing arithmetic (`producer_Final.py:152-180`): the
    reference compresses historical time by ``scaling_factor`` (3 months →
    ~20 min) and sleeps at least ``min_delay`` between batches.  Same
    formula, as a pure function: delay = max(Δt / factor, min_delay)."""
    time_diff = (next_batch_start - batch_start).total_seconds()
    return max(time_diff / scaling_factor, min_delay)


def throttled_replay(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    files_per_trigger: int = 1,
    min_delay_seconds: float = 1.0,
) -> tuple[DataFrame, dict]:
    """T8 replay throttling, declaratively: the reference paces its Kafka
    producer with driver-side ``time.sleep`` (`producer_Final.py:152-180`);
    Structured Streaming expresses the same admission control as source
    options — at most ``files_per_trigger`` files admitted per micro-batch,
    micro-batches fired no faster than ``min_delay_seconds`` (the
    reference's 1 s floor).  Returns (stream, trigger_kwargs) — pass the
    kwargs to ``writeStream.trigger``.  Unlike a sleep loop this pacing is
    checkpoint-recoverable and applies unchanged on a real cluster (and to
    a Kafka source via ``maxOffsetsPerTrigger`` — same contract, different
    option name)."""
    stream = file_stream(
        spark, path, schema, fmt=fmt, max_files_per_trigger=files_per_trigger
    )
    trigger = {"processingTime": f"{int(min_delay_seconds * 1000)} milliseconds"}
    return stream, trigger


def per_table_refresh(
    stream: DataFrame,
    table_specs: dict[str, dict],
    checkpoint_root: str,
    sink_format: str = "memory",
) -> dict[str, Any]:
    """T9 per-table refresh cadences (`live_updates_duckdb.py:19-33,
    200-207`): the reference fans one Kafka consumer out to N DuckDB
    tables, refreshing each only when its own interval elapsed.  Here each
    table is its own streaming query — its column projection pushed into
    the shared source, its cadence a processingTime trigger — so a slow
    table never holds back a fast one and each checkpoint advances
    independently.

    ``table_specs``: name → {"columns": [...], "interval_seconds": float}.
    Returns name → StreamingQuery (caller owns stop()).
    """
    queries: dict[str, Any] = {}
    for name, spec in table_specs.items():
        q = (
            stream.select(*spec["columns"])
            .writeStream.queryName(name)
            .format(sink_format)
            .option("checkpointLocation", f"{checkpoint_root}/{name}")
            .trigger(
                processingTime=f"{int(spec['interval_seconds'] * 1000)} milliseconds"
            )
            .start()
        )
        queries[name] = q
    return queries


# ---------------------------------------------------------------------------
# Live-plane streaming aggregates
# ---------------------------------------------------------------------------


def live_window_counters(
    stream: DataFrame,
    ts_col: str = "arrival_timestamp",
    window_duration: str = "60 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """The 60 s TTL live tables as an event-time tumbling window (T2/T12).

    The reference TRUNCATEs its DuckDB tables every 60 s
    (`Dashboard_Live_Final.py:126-135`); a tumbling event-time window is
    the declarative equivalent.  The watermark evicts a window's state
    in append or update mode only; in complete mode (``start_live_plane``)
    Spark keeps every window, so state grows with the event time covered.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("total_queries"),
            F.count(F.when(F.col("was_aborted"), 1)).alias("aborted_queries"),
            F.count(F.when(F.col("was_cached"), 1)).alias("cached_queries"),
            F.count(F.when(~F.col("was_aborted"), 1)).alias("successful_queries"),
        )
        .select("win.start", "win.end", "total_queries", "aborted_queries",
                "cached_queries", "successful_queries")
    )


def windowed_hll_registers(
    stream: DataFrame,
    item_col: str,
    ts_col: str = "arrival_timestamp",
    window_duration: str = "60 seconds",
    watermark: str = "2 minutes",
    b: int = 6,
) -> DataFrame:
    """Streaming approximate-distinct: HyperLogLog registers per tumbling
    event-time window — the grouped MAX on (window, bucket) IS the sketch,
    so streaming state is ≤ 2^b rows per open window regardless of stream
    rate (vs exact distinct whose state grows with cardinality), and
    watermark expiry closes windows exactly like ``live_window_counters``.
    Register updates are idempotent/commutative (max), so replays and
    micro-batch boundaries cannot change the result — the streaming frame
    equals ``llm.sketch.hll_registers_grouped`` over the same rows in
    batch, bit-for-bit (tested), and estimates come from the same
    ``hll_estimate_grouped`` on the sink side."""
    from data_engineering_project_utn_spark.llm import sketch as sk

    m = 1 << b
    c = F.col(item_col).cast("string")
    bucket = F.conv(F.substring(F.md5(c), 1, 2), 16, 10).cast("long") % m
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"),
            bucket.alias("bucket"),
        )
        .agg(F.max(sk._hll_rho(c)).alias("M"))
        .select(F.col("win.start").alias("win_start"), "bucket", "M")
    )


def windowed_cm_counters(
    stream: DataFrame,
    item_col: str,
    ts_col: str = "arrival_timestamp",
    window_duration: str = "60 seconds",
    watermark: str = "2 minutes",
    depth: int = 3,
    width: int = 512,
) -> DataFrame:
    """Streaming heavy-hitter sketch: count-min counters per tumbling
    event-time window — the grouped SUM on (window, d, bucket) IS the
    sketch, so state is ≤ depth·width rows per open window at any stream
    rate and any item cardinality.  Counter updates are associative/
    commutative sums, so micro-batch boundaries are invisible: the
    streamed counters equal ``llm.sketch.cm_counters`` per window in
    batch, counter for counter (tested), and point estimates come from
    the same ``cm_estimates``-style min-over-rows on the sink side.
    Completes the streaming sketch trio (windowed HLL for distincts,
    windowed CM for frequencies, RunningTopK for exact leaders)."""
    from data_engineering_project_utn_spark.llm import sketch as sk

    c = F.col(item_col).cast("string")
    rows = stream.withWatermark(ts_col, watermark).select(
        F.col(ts_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        sk.cm_hash(c, d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s"),
    )
    return (
        rows.groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"), "s.d", "s.bucket"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("win_start"), "d", "bucket", "cnt")
    )


def make_windowed_bottomk_batch_fn(
    state_dir: str,
    key_col: str,
    value_col: str,
    ts_col: str = "arrival_timestamp",
    window_duration: str = "60 seconds",
    k: int = 16,
):
    """Streaming windowed QUANTILE sketch — per-tumbling-window bottom-k
    (KMV) samples maintained AT REST, completing the streaming sketch
    family (windowed HLL = distincts, windowed CM = frequencies, this =
    rank/quantile statistics; VERDICT r06 #5).

    Shape: a ``foreachBatch`` function.  Each micro-batch computes its own
    per-window bottom-k (``llm.sketch.bottomk_sample_grouped`` — a
    window-key-partitioned rank, never a global sort), unions it with the
    persisted per-window sample and RE-TRIMS.  The bottom-k merge
    identity — bottomk(A ∪ B) ≡ bottomk(bottomk(A) ∪ bottomk(B)), tested
    in TestQuantileSketch — makes the result EXACTLY the batch sample
    over every row the stream has seen, regardless of micro-batch
    boundaries (the same argument max gives windowed HLL and sum gives
    windowed CM, here realized through the at-rest re-trim instead of a
    built-in agg, because no bounded-state bottom-k aggregate exists).
    State is ≤ k rows per window at ANY stream rate.  The sample's
    unique-key contract (``bottomk_sample`` docstring) is established
    INSIDE the fn (ADVICE r07): incoming rows are aggregated to one row
    per (window, key) with MIN(val) BEFORE the first trim — a micro-batch
    may carry duplicate keys, and deduping only after the merge would
    free slots the pure batch trim spends on the duplicate, admitting an
    extra key.  MIN is deterministic at any partitioning and idempotent
    under at-least-once replay, so streamed ≡ batch holds for ANY key
    column, not just unique ones; the batch reference is
    ``bottomk_sample_grouped`` over the same min-aggregated rows.

    State writes are crash-safe (ADVICE r07): the new snapshot lands in
    ``<state_dir>.tmp`` first, the previous snapshot rotates to
    ``<state_dir>.bak``, then tmp renames into place — renames are
    metadata-only, so no crash point leaves zero complete snapshots, and
    ``_read_state`` recovers from the backup when a crash struck between
    the two renames.  Read failures are NOT swallowed: only genuine
    absence means "first batch"; a corrupt existing snapshot raises.

    Estimates come from the same order statistics the batch gate
    ``llm_quantile_sketch`` uses — read ``state_dir`` and rank within
    each window.  At 100 TB the re-trim joins k·|open windows| rows
    against the batch's trimmed sample: model-size on both sides."""
    from data_engineering_project_utn_spark.llm import sketch as sk

    def _uniq(rows: DataFrame) -> DataFrame:
        return rows.groupBy("win_start", "skey").agg(F.min("val").alias("val"))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = batch_df.select(
            F.window(F.col(ts_col), window_duration)["start"].alias("win_start"),
            F.col(key_col).cast("string").alias("skey"),
            F.col(value_col).alias("val"),
        )
        batch_trim = sk.bottomk_sample_grouped(_uniq(rows), "skey", ["win_start"], k=k)
        prev = _read_state(spark, state_dir)
        merged = batch_trim.unionByName(prev) if prev is not None else batch_trim
        trimmed = sk.bottomk_sample_grouped(_uniq(merged), "skey", ["win_start"], k=k)
        # state is ≤ k rows per window — materialize through the driver so
        # the overwrite never reads its own input (model-size collect, the
        # same contract as the IVF centroid and EMA segment collects)
        pdf = trimmed.toPandas()
        _write_state_atomic(
            spark.createDataFrame(pdf, trimmed.schema), spark, state_dir
        )

    return process


def _hadoop_fs(spark, dir_path: str):
    """(FileSystem, Path) for ``dir_path`` via the JVM gateway — works for
    any Hadoop-supported scheme (local, HDFS, s3a), not just local disk."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _must(ok: bool, what: str) -> None:
    """Hadoop ``FileSystem.rename``/``delete`` report failure by returning
    ``false``, not by raising (ADVICE r08): an unchecked false rename in
    the snapshot rotation silently discards the new snapshot and the
    stream keeps serving stale state.  Every rotation step goes through
    this so a failed metadata op is an error, never a no-op."""
    if not ok:
        raise IOError(f"state snapshot rotation failed: {what}")


def _read_state(spark, state_dir: str):
    """Previous snapshot DataFrame, or None ONLY when genuinely absent.

    Explicit existence check instead of a bare except (ADVICE r07): a
    corrupt or unreadable existing snapshot raises instead of silently
    reinitializing (which would drop accumulated per-window state with
    no signal).  Crash recovery (ADVICE r08): if a crash struck between
    ``_write_state_atomic``'s two renames, the primary is missing but a
    NEWER complete ``.tmp`` (it carries Spark's ``_SUCCESS`` marker) may
    exist alongside the older ``.bak`` — prefer promoting the tmp, and
    when only the bak is recoverable delete any incomplete tmp so no
    ambiguous third snapshot lingers."""
    fs, path = _hadoop_fs(spark, state_dir)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    bak = hpath(state_dir + ".bak")
    tmp = hpath(state_dir + ".tmp")
    if not fs.exists(path):
        tmp_complete = fs.exists(tmp) and fs.exists(
            hpath(state_dir + ".tmp/_SUCCESS")
        )
        if tmp_complete:
            _must(fs.rename(tmp, path), f"promote {state_dir}.tmp")
            if fs.exists(bak):
                _must(fs.delete(bak, True), f"drop stale {state_dir}.bak")
        elif fs.exists(bak):
            _must(fs.rename(bak, path), f"recover {state_dir}.bak")
            if fs.exists(tmp):
                _must(fs.delete(tmp, True), f"drop incomplete {state_dir}.tmp")
    if not fs.exists(path):
        return None
    return spark.read.parquet(state_dir)


def _write_state_atomic(df: DataFrame, spark, state_dir: str) -> None:
    """Snapshot rotation: write ``.tmp`` fully, rotate current → ``.bak``,
    rename ``.tmp`` into place, drop the backup.  Every crash point
    leaves at least one COMPLETE snapshot on disk (the renames are
    metadata-only), unlike a direct ``mode('overwrite')`` which deletes
    the previous state before the new write is durable.  Every rename and
    delete is return-value-checked via ``_must`` (ADVICE r08) so a false
    return aborts the batch instead of silently keeping stale state."""
    jvm = spark._jvm
    fs, path = _hadoop_fs(spark, state_dir)
    tmp = jvm.org.apache.hadoop.fs.Path(state_dir + ".tmp")
    bak = jvm.org.apache.hadoop.fs.Path(state_dir + ".bak")
    df.write.mode("overwrite").parquet(state_dir + ".tmp")
    if fs.exists(path):
        if fs.exists(bak):
            _must(fs.delete(bak, True), f"clear {state_dir}.bak")
        _must(fs.rename(path, bak), f"rotate {state_dir} -> .bak")
    _must(fs.rename(tmp, path), f"publish {state_dir}.tmp")
    if fs.exists(bak):
        _must(fs.delete(bak, True), f"drop {state_dir}.bak")


def windowed_quantile_estimates(
    sample: DataFrame, deciles: "list[int]" = [5]
) -> DataFrame:
    """Order-statistic quantile estimates from a windowed bottom-k sample
    frame (the ``state_dir`` contents of
    ``make_windowed_bottomk_batch_fn``): for each window and requested
    decile d, the value at rank ⌈d·k/10⌉ of the sample ordered by
    (val, skey) — the same estimator the gated batch query
    ``llm_quantile_sketch`` bit-checks cross-engine.  Sample frames are
    ≤ k rows per window, so every window's rank is a tiny partition."""
    from pyspark.sql import Window as W

    kk = sample.groupBy("win_start").agg(F.count(F.lit(1)).alias("k"))
    ranked = sample.select(
        "win_start",
        "val",
        F.row_number()
        .over(W.partitionBy("win_start").orderBy("val", "skey"))
        .cast("long")
        .alias("r"),
    )
    dd = sample.sparkSession.createDataFrame(
        [(int(d),) for d in deciles], "decile bigint"
    )
    return (
        dd.crossJoin(ranked.join(kk, "win_start"))
        .filter(F.col("r") == F.expr("(decile * k + 9) div 10"))
        .select("win_start", "decile", F.col("val").alias("est_value"))
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization on a stream via native ``session_window`` —
    the Structured Streaming twin of the batch lag+running-sum query
    (plans/events_live_plans.py:rl_user_sessions).

    Spark merges events into a per-key session while each arrives before
    the previous session end (last event + gap); the watermark closes and
    evicts sessions whose end fell behind event time, so state is bounded
    by open sessions, not history.  Boundary semantics: an event exactly
    ``gap`` after its predecessor starts a NEW session here (session end
    is exclusive), where the batch query's strict ``> gap`` test keeps it
    — batch/stream parity therefore holds everywhere except exact-boundary
    ties (the parity test uses tie-free data; at µs-resolution timestamps
    real ties are measure-zero).

    Append output mode emits a session only once its window can no longer
    grow (watermark passed) — use update/complete for live dashboards.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("session"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            user_col,
            "session_start",
            "session_end",
            "n_events",
            (
                (
                    F.unix_micros(F.col("session_end"))
                    - F.unix_micros(F.col("session_start"))
                ).cast("double")
                / 1_000_000.0
            ).alias("duration_s"),
        )
    )


_INTERVAL_RE = re.compile(
    r"^\s*\d+\s+(microsecond|millisecond|second|minute|hour|day|week)s?\s*$",
    re.IGNORECASE,
)


def _check_interval(value: str, param: str) -> None:
    """Fail fast on a malformed '<n> <unit>' interval (ADVICE r08): the
    string is interpolated into ``F.expr(f"INTERVAL {...}")`` / a
    watermark, where a bad unit ('10 min') otherwise surfaces only as an
    opaque AnalysisException at join planning time."""
    if not isinstance(value, str) or not _INTERVAL_RE.match(value):
        raise ValueError(
            f"{param}={value!r} is not a valid interval — expected "
            "'<n> <unit>' with unit in microsecond/millisecond/second/"
            "minute/hour/day/week (e.g. '10 minutes')"
        )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "instance_id",
    ts_col: str = "arrival_timestamp",
    watermark: str = "1 hour",
    within: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join — event ATTRIBUTION across two live
    streams (the view→purchase / impression→click shape): for each left
    event, every right event of the same key arriving in
    [left_ts, left_ts + within].  The one streaming join Spark executes
    with BOUNDED state: both watermarks plus the two-sided time
    condition let the engine compute, per side, exactly how long a
    buffered row can still find a match — left rows evict ``within``
    past their watermark, right rows at theirs (Structured Streaming's
    state-watermark derivation), so state is (rate × window), not
    history.  Without the interval bounds a stream-stream inner join
    must buffer FOREVER; that's the contract this helper encodes.

    Returns (key, l_ts, r_ts) in append mode (inner joins emit on
    match, no watermark wait).  Batch parity: the identical join on the
    static frames — asserted row-for-row in ``TestStreamStreamJoin``.

    Scale: state is partitioned by the join key (the same shuffle a
    batch equi-join does); skewed keys salt exactly like batch joins.
    """
    _check_interval(within, "within")
    _check_interval(watermark, "watermark")
    l = left.select(
        F.col(key_col).alias("_k"), F.col(ts_col).alias("l_ts")
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key_col).alias("_rk"), F.col(ts_col).alias("r_ts")
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        (F.col("_k") == F.col("_rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
    ).select(F.col("_k").alias(key_col), "l_ts", "r_ts")


class RunningTopK:
    """Streaming top-k (O7): the reference's sorted deque
    (`Dashboard/app.py:29-56`) as a foreachBatch accumulator.

    Per micro-batch, the batch's own top-k is computed distributed
    (TakeOrdered — per-partition heaps, only k·P candidate rows move) and
    merged with the running k rows on the driver.  Driver state is k rows
    total — independent of stream volume, so this holds at any scale.
    (A `complete`-mode orderBy/limit is rejected by Spark for
    non-aggregated streams, and a collect_list-based aggregation would
    hold ALL rows in state; the k-row accumulator is the right design.)

    ``state_path`` makes the accumulator restart-recoverable: after each
    batch the k rows are written to parquet via atomic rename, and a new
    instance pointed at the same path restores them before consuming —
    the leaderboard twin of Spark's own checkpointed aggregation state.
    foreachBatch is at-least-once, so the merge deduplicates exact
    full-row duplicates to stay idempotent under batch replay (rows that
    carry an event id/timestamp are never collapsed by this; give rows a
    unique id column if bit-identical duplicate events are meaningful).
    """

    def __init__(
        self,
        order_col: str = "compile_duration_ms",
        k: int = 10,
        state_path: str | None = None,
    ):
        self.order_col = order_col
        self.k = k
        self.state_path = state_path
        self.top: pd.DataFrame | None = None
        if state_path is not None and os.path.exists(state_path):
            self.top = pd.read_parquet(state_path)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_top = (
            batch_df.orderBy(F.desc(self.order_col)).limit(self.k).toPandas()
        )
        merged = (
            pd.concat([self.top, batch_top], ignore_index=True)
            if self.top is not None
            else batch_top
        )
        self.top = (
            merged.drop_duplicates()
            .sort_values(self.order_col, ascending=False, kind="mergesort")
            .head(self.k)
            .reset_index(drop=True)
        )
        if self.state_path is not None:
            tmp = f"{self.state_path}.tmp-{batch_id}"
            self.top.to_parquet(tmp)
            os.replace(tmp, self.state_path)

    def start(self, stream: DataFrame, checkpoint: str, **trigger_kwargs):
        if not trigger_kwargs:
            trigger_kwargs = {"processingTime": "2 seconds"}
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(**trigger_kwargs)
            .start()
        )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "arrival_timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T6: Kafka-replay dedup — dropDuplicates within the watermark horizon
    (bounded state), upgrading the reference's at-least-once + DISTINCT."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(key_cols + [ts_col])


# ---------------------------------------------------------------------------
# Stateful EMA (T7/F18) — the one genuinely stateful operator
# ---------------------------------------------------------------------------


EMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ema_short", T.DoubleType()),
        T.StructField("ema_long", T.DoubleType()),
        T.StructField("n_obs", T.LongType()),
    ]
)

EMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ema_short", T.DoubleType()),
        T.StructField("ema_long", T.DoubleType()),
        T.StructField("n_obs", T.LongType()),
    ]
)


def make_ema_updater(
    value_col: str,
    order_col: str,
    alpha_short: float = 0.02,
    alpha_long: float = 0.005,
) -> Callable[..., Iterable[pd.DataFrame]]:
    """Build the applyInPandasWithState update function for the stress-index
    EMA (`Dashboard_Live_Final.py:577-624`).  State = (ema_short, ema_long,
    n_obs); each micro-batch folds its rows in event-time order, continuing
    from persisted state — identical recurrence to operators.ema.ema_expr.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            ema_s, ema_l, n = state.get
        else:
            ema_s = ema_l = None
            n = 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(order_col, kind="mergesort")
        for x in rows[value_col].astype(float):
            if ema_s is None:
                ema_s = ema_l = x
            else:
                ema_s = alpha_short * x + (1.0 - alpha_short) * ema_s
                ema_l = alpha_long * x + (1.0 - alpha_long) * ema_l
            n += 1
        state.update((ema_s, ema_l, n))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "ema_short": [ema_s],
                "ema_long": [ema_l],
                "n_obs": [n],
            }
        )

    return update


def stateful_ema(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    order_col: str,
    alpha_short: float = 0.02,
    alpha_long: float = 0.005,
) -> DataFrame:
    """Streaming EMA per key.  State is O(1) per key; key domains in the
    reference (instance_id) are bounded, so total state is bounded."""
    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        make_ema_updater(value_col, order_col, alpha_short, alpha_long),
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_dedup_batch_fn(
    corpus: DataFrame,
    sink,
    threshold: float | None = None,
    band_index: DataFrame | None = None,
    corpus_at_rest: DataFrame | None = None,
    verifier: str = "jaccard",
    **neardup_kwargs,
):
    """foreachBatch function for streaming incremental dedup: each incoming
    micro-batch of documents is near-dup-checked against the static corpus
    (``llm.dedup.incremental_neardup`` with the given ``verifier`` —
    ``"jaccard"`` or the character-level ``"editdist"``, each with its own
    default threshold) and the flagged pairs handed to
    ``sink(pairs_df, batch_id)``.

    The asymmetric join is linear in the incoming batch and never compares
    incoming docs to each other, so the union of per-batch results equals
    the one-shot batch check over all batches at once — batching is purely
    an execution schedule, not a semantic choice (tested).  The batch
    twins are the oracle-gated ``llm_incremental_dedup`` /
    ``llm_incremental_editdist`` queries.

    Two corpus-side modes:

    * ``band_index`` + ``corpus_at_rest`` given (the 100 TB deployment —
      the bucketed structures from
      ``plans.llm_dedup_plans._dedup_band_index_bucketed`` /
      ``_dedup_corpus_bucketed``): each trigger probes the index with
      IN-pushdown — nothing corpus-scale is scanned, shuffled, computed,
      or persisted; per-trigger cost tracks the batch and its matches only.
    * otherwise: the corpus shingle frame is computed ONCE per stream and
      persisted; per-batch cost is batch-side work plus a cached-corpus
      band scan.  The persist lives as long as the stream — call the
      returned function's ``release_corpus_pins()`` when the stream stops
      to free the executor storage (ADVICE r12: a long-lived driver
      constructing many streams otherwise accumulates corpus frames).
    """
    from data_engineering_project_utn_spark.llm.dedup import incremental_neardup
    from data_engineering_project_utn_spark.persist import release_persisted

    mode = _lexical_probe_mode(corpus, band_index, corpus_at_rest, neardup_kwargs)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_neardup(
            batch_df,
            corpus,
            threshold=threshold,
            verifier=verifier,
            **mode,
            **neardup_kwargs,
        )
        try:
            sink(pairs, batch_id)
        finally:
            # the sink has consumed the pairs; free this batch's tracked
            # shingle frames or N batches accumulate 2N persisted frames.
            # Coarse (releases every tracked intermediate; the corpus
            # frame is an untracked persist and stays) — documented: the
            # streaming job owns the session.
            release_persisted()

    process.release_corpus_pins = _corpus_releaser(mode.get("corpus_shingles"))
    return process


def _lexical_probe_mode(
    corpus: DataFrame,
    band_index: DataFrame | None,
    corpus_at_rest: DataFrame | None,
    neardup_kwargs: dict,
) -> dict:
    """The corpus-side keyword arguments of ``incremental_neardup`` for a
    stream: the at-rest IN-pushdown probe when ``band_index`` +
    ``corpus_at_rest`` are given (persists NOTHING), else the corpus
    shingle frame computed ONCE per stream — an untracked persist, so the
    per-batch ``release_persisted`` keeps it — with the batch side broadcast
    (foreachBatch micro-batches are bounded by the stream's trigger
    contract, the safe side of the r12 build-side discipline; see
    ``llm.dedup._incremental_candidates``)."""
    if band_index is not None and corpus_at_rest is not None:
        return {"band_index": band_index, "corpus_at_rest": corpus_at_rest}
    from data_engineering_project_utn_spark.llm.compute import parallelize_compute
    from data_engineering_project_utn_spark.llm.dedup import shingle_frame

    corpus_shingles = shingle_frame(
        parallelize_compute(corpus),
        neardup_kwargs.get("id_col", "doc_id"),
        neardup_kwargs.get("text_col", "text"),
        neardup_kwargs.get("n", 5),
    ).persist()
    return {"corpus_shingles": corpus_shingles, "broadcast_batch": True}


def _corpus_releaser(*frames):
    """A release handle for a batch fn's stream-lifetime corpus frames
    (ADVICE r12): unpersists exactly the frames this stream persisted, so
    a long-lived driver can free them when the stream stops.  Returns how
    many it freed; idempotent; skips None (indexed mode persists
    nothing)."""
    held = [f for f in frames if f is not None]

    def release() -> int:
        freed = len(held)
        for f in held:
            f.unpersist()
        held.clear()
        return freed

    return release


def incremental_snm_batch_fn(
    corpus: DataFrame,
    sink,
    window: int = 3,
    threshold: float = 0.5,
    rank_index: DataFrame | None = None,
    block_starts: DataFrame | None = None,
    **snm_kwargs,
):
    """foreachBatch function for streaming incremental SORTED-NEIGHBORHOOD
    dedup (VERDICT r12 #7) — the merge/purge twin of
    ``incremental_dedup_batch_fn``: each micro-batch's docs are
    Jaccard-verified against the ``window`` corpus docs on each side of
    their would-be position in the corpus's fingerprint sort order
    (``llm.dedup.incremental_snm_pairs``).

    The corpus rank structure (``snm_ranked_corpus`` — global rank +
    width-``window`` blocks, _blk-clustered) persists ONCE per stream;
    each trigger ranks only (batch ∪ block-start keys), never the union,
    and the probe joins ride the persisted clustering.  Per-doc semantics
    depend only on (doc, corpus), so per-batch results union to the
    one-shot run (parity tested).  Batch twin: the oracle-gated
    ``llm_incremental_snm``.  Free the stream-lifetime persist via the
    returned function's ``release_corpus_pins()``.

    Per-trigger storage hygiene (ADVICE r13): each trigger tracks
    persists — ``incremental_snm_pairs`` ranks (batch ∪ starts) and
    (batch) through ``with_global_rank`` — on the STREAM-EXECUTION
    thread, where no caller-side scope is active, so without a local
    scope they would land in the global registry and accumulate for the
    stream's lifetime.  Each trigger therefore opens its own
    ``persist_scope()`` on the callback thread: the sink fully
    materializes the batch's pairs inside the scope, and scope exit frees
    that trigger's persists.  The corpus structure is an untracked
    persist made at FACTORY time, so the per-trigger release never
    touches it (leak-tested).
    """
    from data_engineering_project_utn_spark.llm.dedup import (
        incremental_snm_pairs,
        snm_ranked_corpus,
    )
    from data_engineering_project_utn_spark.persist import persist_scope

    indexed = rank_index is not None and block_starts is not None
    ranked = None
    if not indexed:
        # once per stream, untracked so no per-trigger release frees it
        ranked = snm_ranked_corpus(
            corpus,
            snm_kwargs.get("id_col", "doc_id"),
            snm_kwargs.get("text_col", "text"),
            snm_kwargs.get("n", 5),
            window,
        ).persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # this trigger's tracked persists free at scope exit (after the
        # sink has materialized the pairs); the factory-time corpus
        # persist is untracked and survives
        with persist_scope():
            if indexed:
                # at-rest mode (`_snm_rank_index_bucketed` structures):
                # the batch's target blocks push into the bucketed index
                # scan — per-trigger cost tracks the batch, and nothing
                # outlives the scope
                pairs = incremental_snm_pairs(
                    batch_df,
                    corpus,
                    window=window,
                    threshold=threshold,
                    corpus_ranked=rank_index,
                    block_starts=block_starts,
                    blk_pushdown=True,
                    **snm_kwargs,
                )
            else:
                pairs = incremental_snm_pairs(
                    batch_df,
                    corpus,
                    window=window,
                    threshold=threshold,
                    corpus_ranked=ranked,
                    **snm_kwargs,
                )
            sink(pairs, batch_id)

    process.release_corpus_pins = _corpus_releaser(ranked)
    return process


def make_ingest_batch_fn(
    spark: SparkSession,
    accept_sink: Callable[[DataFrame, int], None],
    corpus_table: str,
    band_index_table: str,
    min_quality: float = 0.4,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    buckets: int = 32,
    ledger_table: str | None = None,
    intra_batch: bool = True,
    hot_band_cap: int | None = None,
    band_stats_table: str | None = None,
    suspect_sink: Callable[[DataFrame, int], None] | None = None,
    compact_after_files: int | None = None,
):
    """The FULL continuous-ingestion loop over the at-rest structures —
    probe → curate → accept → APPEND: each accepted batch joins the
    corpus and band index that the NEXT batch probes, closing the loop
    the one-shot curation factories leave open (their corpus is static
    for the stream's lifetime).

    Per trigger, against the CATALOG tables (re-read each trigger, so
    appends are visible):

    1. near-dup probe via the IN-pushdown index probe
       (``llm.dedup.incremental_neardup`` over ``band_index`` — bounded batch,
       nothing corpus-scale scanned or pinned);
    2. quality gate (``llm.text.quality_score`` ≥ ``min_quality``);
    3. survivors → ``accept_sink``, then APPENDED: (doc_id, text) to
       the doc_id-bucketed corpus, their bands to the band index — one
       file per touched bucket per trigger
       (``sources.io.append_bucketed_table``; the nightly full writer
       is the compaction that folds the day's deltas back to one file
       per bucket).

    The accepted frame is MATERIALIZED (localCheckpoint) before the
    sink or either append runs: it is derived from a probe against the
    very tables the appends grow, so a lazy re-evaluation after the
    first append would probe the already-grown corpus — batch-dependent
    results and a self-referential read-during-write.  Materializing
    first makes each trigger's decisions a function of the PRE-append
    corpus, which is also what makes ingestion order-deterministic
    per batch.  The checkpoint's executor blocks are freed explicitly
    per trigger (``_free_local_checkpoint`` — ``release_persisted``
    only drops tracked persists, ADVICE r13).

    **At-least-once replay (VERDICT r13 #1).**  foreachBatch replays a
    batch after any post-``process`` failure (sink-commit crash,
    checkpoint loss), so every step must converge under re-execution —
    the Spark form of the reference's manual-commit consumer loop
    (`Real Final APP/Dashboard_Live_Final.py:706`: commit only after a
    successful load).  Three mechanisms compose:

    1. **Batch-id ledger** (``ledger_table``): the last step of a
       successful trigger appends ``batch_id`` to a one-column catalog
       table; a replayed batch whose id is already present returns
       immediately.  This is the fast path for the common replay
       (restart after the ledger committed).
    2. **Self-flagging convergence** for replays the ledger can't see
       (crash after the appends, before the ledger row): the retry's
       probe runs against the GROWN structures, so every previously
       appended doc is an exact dup of itself (jaccard 1.0 ≥ any
       threshold) → flagged → excluded from accept → zero re-appends.
       The replayed trigger is a no-op on corpus, index, AND sink
       payload (replay-tested).
    3. **Index-before-corpus append ordering** (ADVICE r13) for the
       one remaining window, a crash BETWEEN the two appends.  An
       orphan INDEX row (bands without a corpus doc) is harmless: its
       candidates die in verification (``_existing_rows_for`` finds no
       corpus row to Jaccard against) and the doc is re-accepted and
       corpus-appended exactly once on retry.  The reverse order would
       leave an UN-indexed corpus doc — every future duplicate of it
       silently accepted forever.  Corpus-first was the r13 shape;
       index-first makes the crash window self-healing instead.

    **Intra-batch duplicates** (``intra_batch``, on by default): two
    near-copies arriving in the SAME micro-batch are invisible to the
    corpus probe (neither is at rest yet).  A batch-sized self near-dup
    pass (``minhash_neardup`` on the batch alone — cost |batch|², the
    bounded-batch contract) flags the LARGER doc_id of each verified
    pair, matching ``dedup_clusters``'s keep-min-id survivorship.
    Chains (A~B~C with A≁C) keep only the smallest id per pairwise
    path, the same greedy the one-shot cluster step resolves exactly —
    documented approximation, not silent.

    **Hot-band guard** (``hot_band_cap`` + ``band_stats_table``,
    VERDICT r13 #2): with a cap set, batch bands whose corpus bucket
    exceeds it (per the stats table ``refresh_band_stats`` maintains at
    compaction time) are skipped in the probe, bounding per-trigger
    verify cost against boilerplate floods; the affected batch docs go
    to ``suspect_sink`` (for SNM-arm routing) AND stay in the normal
    accept path via their cold bands.  Guard against silent misuse:
    a cap without a stats table raises (an inline per-trigger aggregate
    over the whole index would reintroduce the O(corpus) term the
    indexed probe removed).

    **Compaction cadence** (``compact_after_files``, VERDICT r13 #3):
    each trigger appends one file per touched bucket, and probe cost
    grows with the file count (per-file open/footer overhead on every
    matched bucket — measured in SCALE.md r14: the growth is linear in
    delta files and dwarfs the corpus-size term at high trigger
    counts).  With the knob set, any table whose data-file count
    exceeds the threshold is compacted inline after the trigger's
    appends (one file per bucket again; the band stats ledger refreshes
    with its index).  The threshold trades a bounded per-trigger worst
    case against compaction frequency — SCALE.md derives the default
    from the measured curve; a deployment with a nightly window can
    leave it None and compact on schedule instead.

    Unlike the band index, the SNM rank index is NOT appendable (ranks
    are order statistics of the whole corpus); a deployment rebuilds it
    nightly with the compaction, the standard sorted-index trade.
    """
    from data_engineering_project_utn_spark.llm import text as tx
    from data_engineering_project_utn_spark.llm.dedup import (
        _banded,
        _free_local_checkpoint,
        hot_band_suspects,
        incremental_neardup,
        minhash_neardup,
        shingle_frame,
    )
    from data_engineering_project_utn_spark.persist import release_persisted
    from data_engineering_project_utn_spark.sources.io import (
        append_bucketed_table,
    )

    if hot_band_cap is not None and band_stats_table is None:
        raise ValueError(
            "make_ingest_batch_fn: hot_band_cap requires band_stats_table "
            "(refresh_band_stats maintains it at compaction time) — an "
            "inline per-trigger stats aggregate would rescan the whole "
            "band index, the O(corpus) term the indexed probe exists to "
            "avoid"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if ledger_table is not None and _ledger_committed(
            spark, ledger_table, batch_id
        ):
            return
        bidx = spark.table(band_index_table)
        bkt = spark.table(corpus_table)
        stats = (
            spark.table(band_stats_table) if hot_band_cap is not None else None
        )
        pairs = incremental_neardup(
            batch_df, threshold=threshold, k=k, bands=bands, n=n,
            band_stats=stats, hot_band_cap=hot_band_cap,
            band_index=bidx, corpus_at_rest=bkt,
        )
        if hot_band_cap is not None and suspect_sink is not None:
            suspect_sink(
                hot_band_suspects(
                    batch_df, stats, hot_band_cap, k=k, bands=bands, n=n
                ),
                batch_id,
            )
        flagged = pairs.select(F.col("doc_new").alias("doc_id")).distinct()
        if intra_batch:
            self_pairs = minhash_neardup(
                batch_df, threshold=threshold, k=k, bands=bands, n=n
            )
            flagged = flagged.unionByName(
                self_pairs.select(
                    F.greatest("doc_a", "doc_b").alias("doc_id")
                ).distinct()
            ).distinct()
        accepted = (
            batch_df.withColumn("quality", tx.quality_score(F.col("text")))
            .filter(F.col("quality") >= min_quality)
            .join(flagged, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        try:
            accept_sink(accepted, batch_id)
            # band index BEFORE corpus: see the replay analysis above
            append_bucketed_table(
                spark,
                _banded(shingle_frame(accepted, "doc_id", "text", n), k, bands),
                band_index_table,
                buckets,
                "band_hash",
                "band_idx",
            )
            append_bucketed_table(
                spark,
                accepted.select("doc_id", "text"),
                corpus_table,
                buckets,
                "doc_id",
            )
            if ledger_table is not None:
                _ledger_commit(spark, ledger_table, batch_id)
            if compact_after_files is not None:
                _maybe_compact(
                    spark,
                    (
                        (corpus_table, ("doc_id",)),
                        (band_index_table, ("band_hash", "band_idx")),
                    ),
                    buckets,
                    compact_after_files,
                    band_index_table=band_index_table,
                    band_stats_table=band_stats_table,
                )
        finally:
            release_persisted()
            _free_local_checkpoint(accepted)

    return process


def _maybe_compact(
    spark: SparkSession,
    tables,
    buckets: int,
    compact_after_files: int,
    band_index_table: str | None = None,
    band_stats_table: str | None = None,
) -> list[str]:
    """File-count-threshold compaction policy (VERDICT r13 #3): fold any
    table whose data-file count exceeds the threshold back to one file
    per bucket, refreshing the band stats ledger when its index is
    compacted.  Returns the compacted table names (for tests/ops
    logging)."""
    from data_engineering_project_utn_spark.llm.dedup import refresh_band_stats
    from data_engineering_project_utn_spark.sources.io import (
        compact_bucketed_table,
        data_file_count,
    )

    compacted = []
    for name, cols in tables:
        if data_file_count(spark, name) > compact_after_files:
            compact_bucketed_table(spark, name, buckets, *cols)
            compacted.append(name)
            if band_stats_table is not None and name == band_index_table:
                refresh_band_stats(spark, band_index_table, band_stats_table)
    return compacted


def _ledger_committed(spark: SparkSession, ledger_table: str, batch_id: int) -> bool:
    """True iff ``batch_id`` is recorded in the ingest ledger — the
    replayed-batch fast path.  A missing ledger table means no batch has
    ever committed (first trigger of a fresh deployment)."""
    from data_engineering_project_utn_spark.sources.io import table_exists

    if not table_exists(spark, ledger_table):
        return False
    return (
        spark.table(ledger_table)
        .filter(F.col("batch_id") == int(batch_id))
        .limit(1)
        .first()
        is not None
    )


def _ledger_commit(spark: SparkSession, ledger_table: str, batch_id: int) -> None:
    """Durably record ``batch_id`` as applied — the LAST step of a
    successful trigger (the Spark analogue of the reference consumer's
    post-load ``consumer.commit()``,
    `Real Final APP/Dashboard_Live_Final.py:706`).  One row per batch;
    creates the table on first commit."""
    spark.createDataFrame(
        [(int(batch_id),)], "batch_id bigint"
    ).write.mode("append").saveAsTable(ledger_table)


def make_semantic_ingest_batch_fn(
    spark: SparkSession,
    accept_sink: Callable[[DataFrame, int], None],
    corpus_path: str,
    centroids_df: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe_super: int = 1,
    ledger_table: str | None = None,
    compact_after_files: int | None = None,
    intra_batch: bool = True,
):
    """The SEMANTIC twin of ``make_ingest_batch_fn`` — the embedding
    corpus's continuous-ingestion loop over its at-rest layout (the
    cell-partitioned parquet directory of
    ``test_bucketed_join.test_ivf_at_rest_partition_pruning``):

    1. the micro-batch descends the quantizer (bounded: ≈2√k cosines
       per row) and its distinct cell list — bounded by the batch —
       prunes the at-rest read to the matched PARTITIONS (the cell
       predicate lands in PartitionFilters: per-trigger I/O tracks the
       batch's cells, never the corpus);
    2. cosine-duplicates (≥ ``threshold``) against those cells flag
       via ``llm.dedup.incremental_semantic_neardup``;
    3. survivors → ``accept_sink``, then APPEND to the layout with
       their cell assignment (``partitionBy("cell").mode("append")``)
       — each accepted batch is probe-visible to the next trigger,
       and appends only touch the cells the batch lands in.

    Same materialize-before-append discipline as the lexical loop (the
    accepted set derives from a probe against the directory the append
    grows); both checkpoints' executor blocks are freed per trigger
    (ADVICE r13).  Cell assignment uses the SAME quantizer/nprobe as the
    layout was built with — an asymmetric descent can split boundary
    pairs (see ``incremental_semantic_neardup``).

    **At-least-once replay** (VERDICT r13 #1): same two mechanisms as
    the lexical loop — the ``ledger_table`` fast path skips a committed
    batch, and a replay the ledger can't see converges because every
    previously appended vector cosine-duplicates ITSELF (similarity
    1.0 ≥ threshold) on the retry's probe and is excluded from accept;
    with a single append target there is no cross-table window at all
    (replay-tested).

    ``compact_after_files`` (VERDICT r13 #3): the cell-partitioned
    appends have the same small-files growth as the lexical loop's
    bucket deltas — when the directory's parquet file count exceeds the
    threshold, ``compact_partitioned_dir`` folds it back to one file
    per cell (staged rewrite + rename-aside swap, crash-safe).

    ``intra_batch`` (on by default): two near-dup vectors arriving in
    the SAME micro-batch are invisible to the corpus probe (neither is
    at rest yet) — a within-batch, within-cell cosine self-join flags
    the larger id of each ≥-threshold pair before accept (min-id
    survivorship, the semantic twin of the lexical loop's pass).  The
    blocking is co-assignment, the same boundary-pair trade the probe
    itself makes.
    """
    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.llm.dedup import (
        _free_local_checkpoint,
        incremental_semantic_neardup,
    )
    from data_engineering_project_utn_spark.persist import release_persisted

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if ledger_table is not None and _ledger_committed(
            spark, ledger_table, batch_id
        ):
            return
        assigned = sim.ivf_cells_2level(
            batch_df, centroids_df, vec_col=vec_col, nprobe_super=nprobe_super
        ).localCheckpoint(eager=True)
        cells = [r[0] for r in assigned.select("cell").distinct().collect()]
        at_rest = spark.read.parquet(corpus_path)
        # fail-loud schema guard: appending a mismatched element type
        # (e.g. double vectors into a float layout) poisons the
        # directory for EVERY subsequent reader, not just this batch
        if at_rest.schema[vec_col].dataType != batch_df.schema[vec_col].dataType:
            raise ValueError(
                f"make_semantic_ingest_batch_fn: batch {vec_col!r} type "
                f"{batch_df.schema[vec_col].dataType} != at-rest layout's "
                f"{at_rest.schema[vec_col].dataType}; appending would "
                f"corrupt the corpus directory"
            )
        pruned = (
            at_rest.filter(F.col("cell").isin(cells))
            if cells
            else at_rest.filter(F.lit(False))
        )
        pairs = incremental_semantic_neardup(
            batch_df,
            None,
            centroids_df,
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
            corpus_cells=pruned,
            nprobe_super=nprobe_super,
        )
        flagged = pairs.select(F.col("doc_new").alias(id_col)).distinct()
        if intra_batch:
            a = assigned.select(
                F.col(id_col).alias("_ia"), "cell", F.col(vec_col).alias("_va")
            )
            b = assigned.select(
                F.col(id_col).alias("_ib"), "cell", F.col(vec_col).alias("_vb")
            )
            self_dups = (
                a.join(b, "cell")
                .filter(F.col("_ia") < F.col("_ib"))
                .filter(
                    sim.cosine(F.col("_va"), F.col("_vb"))
                    >= F.lit(float(threshold))
                )
                .select(F.col("_ib").alias(id_col))
                .distinct()
            )
            flagged = flagged.unionByName(self_dups).distinct()
        accepted = assigned.join(flagged, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        try:
            accept_sink(accepted.drop("cell"), batch_id)
            accepted.write.partitionBy("cell").mode("append").parquet(
                corpus_path
            )
            if ledger_table is not None:
                _ledger_commit(spark, ledger_table, batch_id)
            if compact_after_files is not None:
                import glob
                import os

                n_files = len(
                    glob.glob(os.path.join(corpus_path, "*", "*.parquet"))
                )
                if n_files > compact_after_files:
                    from data_engineering_project_utn_spark.sources.io import (
                        compact_partitioned_dir,
                    )

                    compact_partitioned_dir(spark, corpus_path, "cell")
        finally:
            release_persisted()
            _free_local_checkpoint(assigned)
            _free_local_checkpoint(accepted)

    return process


# ---------------------------------------------------------------------------
# Incremental historical pipeline (T4/T5) — foreachBatch over batch operators
# ---------------------------------------------------------------------------


def hopping_backfill(
    flat: DataFrame,
    start,
    end,
    hop_hours: float = 6.0,
):
    """T4: the expert plane's hopping-window incremental loop
    (`Dashboard_Historical_Final.py:176-333`: process [start, end], then
    start = end + 6 h, end += 6 h 10 min) as a batch backfill generator.

    Each hop yields the freshness output recomputed over all data seen so
    far (stateless recompute, T5): late rows and cross-window interval
    links self-heal, where the reference's per-window INSERT + UPDATE
    repair could leave stale ``next_timestamp`` values.  The final yield is
    identical to the one-shot batch ``output_table`` over the same range
    (tested).

    At scale each hop's recompute is bounded to the (instance, table)
    partitions the new window touched — the window key — via dynamic
    partition overwrite of the output table.
    """
    from datetime import timedelta

    cur = start
    while cur < end:
        cur = min(cur + timedelta(hours=hop_hours), end)
        seen = flat.filter(
            (F.col("arrival_timestamp") >= F.lit(start))
            & (F.col("arrival_timestamp") < F.lit(cur))
        )
        yield cur, iv_ops.output_table(seen, iv_ops.ingestion_intervals(seen))


#: Accumulator rows: the batch projected to FLATTENED_SCHEMA plus the
#: batch id, both partition columns typed as written.
_ACCUMULATOR_SCHEMA = T.StructType(
    FLATTENED_SCHEMA.fields + [T.StructField("_batch_id", T.LongType())]
)


class IncrementalHistoricalPipeline:
    """The expert-plane incremental loop (`update_tables_periodically`,
    `Dashboard_Historical_Final.py:160-333`) as a foreachBatch runner.

    Each micro-batch lands in a partitioned parquet accumulator, then
    intervals + output_table are recomputed ONLY for the instance_id
    partitions the batch touched — "stateless recompute" instead of the
    reference's UPDATE-based late-data repair (T5/J6): the lead() window
    self-heals when late rows arrive (`Historic_final_ver2_reorganized.py:
    222-247` semantics).

    Scale design:

    * **Idempotent ingest.** foreachBatch is at-least-once; a plain append
      would double rows on a post-failure replay.  The accumulator is
      partitioned by (_batch_id, instance_id) and written with dynamic
      partition overwrite — a retried batch rewrites exactly its own
      partitions, so replays are no-ops.
    * **Bounded recompute.** Interval links never cross instance_id
      (intervals partition by (instance_id, write_table_id); output_table
      matches within instance_id), so per-instance recompute is exact.
      The recompute reads the accumulator with a partition filter on the
      batch's touched instances (partition pruning — input is bounded by
      the touched partitions' history, not total history) and rewrites only
      those instances' output partitions via dynamic partition overwrite.
    * **No rediscovery jobs.** The touched instances are the
      ``instance_id=`` directories under the batch's ``_batch_id=<id>``,
      listed without a Spark job (a replay whose first attempt touched
      more instances recomputes a superset: still exact).  Both reads give
      their schema (``FLATTENED_SCHEMA``, projected at ingest, and
      ``OUTPUT_SCHEMA``), so neither runs a footer-inference job.

    Read the output back with ``read_output`` (canonical column order and
    types — Hive-style partition columns come last otherwise).
    """

    def __init__(
        self,
        spark: SparkSession,
        accumulator_path: str,
        output_path: str,
    ):
        self.spark = spark
        self.accumulator_path = accumulator_path
        self.output_path = output_path

    def accumulated_for(self, instances: list) -> DataFrame:
        """Accumulator rows (``FLATTENED_SCHEMA``) for the given instances,
        via partition pruning (the only accumulator read in the per-batch
        path)."""
        return (
            self.spark.read.schema(_ACCUMULATOR_SCHEMA)
            .parquet(self.accumulator_path)
            .filter(F.col("instance_id").isin(instances))
            .drop("_batch_id")
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Null instance_id would land in the Hive default partition and then
        # never match the isin() partition filter (NULL semantics) — silently
        # excluded from recompute.  Map nulls to -1 at ingest (the cleaning
        # layer's sentinel) so partitioning and the touched filter are total.
        batch = batch_df.select(
            *[F.col(f.name).cast(f.dataType) for f in FLATTENED_SCHEMA]
        ).fillna(-1, subset=["instance_id"])
        (
            batch.withColumn("_batch_id", F.lit(int(batch_id)).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", "instance_id")
            .parquet(self.accumulator_path)
        )
        fs, touched = _hadoop_fs(
            self.spark, f"{self.accumulator_path}/_batch_id={batch_id}/instance_id=*"
        )
        # a glob that matches nothing (an empty batch) lists no directory
        instances = [
            int(st.getPath().getName().partition("=")[2])
            for st in fs.globStatus(touched)
        ]
        if not instances:
            return
        flat = self.accumulated_for(instances)
        out = iv_ops.output_table(flat)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("instance_id")
            .parquet(self.output_path)
        )

    def read_output(self) -> DataFrame:
        """Output table in ``OUTPUT_SCHEMA``'s column order and types."""
        return (
            self.spark.read.schema(OUTPUT_SCHEMA)
            .parquet(self.output_path)
            .select(*OUTPUT_SCHEMA.names)
        )

    def start(self, flat_stream: DataFrame, checkpoint: str, **trigger_kwargs):
        if not trigger_kwargs:
            trigger_kwargs = {"processingTime": "2 seconds"}  # T1 cadence
        return (
            flat_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(**trigger_kwargs)
            .start()
        )


def make_curation_batch_fn(
    corpus: DataFrame,
    accept_sink: Callable[[DataFrame, int], None],
    min_quality: float = 0.4,
    threshold: float = 0.5,
    corpus_embeddings: "DataFrame | None" = None,
    centroids: "DataFrame | None" = None,
    semantic_threshold: float = 0.99,
    embedding_col: str = "embedding",
    nprobe_super: int = 1,
    model_w: "list[int] | None" = None,
    editdist_threshold: "float | None" = None,
    band_index: "DataFrame | None" = None,
    corpus_at_rest: "DataFrame | None" = None,
    **neardup_kwargs: Any,
):
    """foreachBatch function for streaming corpus curation — the composed
    continuous-ingestion shape of a training-data pipeline: each incoming
    micro-batch of documents is

    1. near-dup-checked against the corpus at rest
       (``llm.dedup.incremental_neardup`` — asymmetric band join, never
       corpus²; the corpus shingle frame persists ONCE per stream, so the
       per-trigger cost is batch-side work only), plus — when
       ``editdist_threshold`` is set — the EDIT-DISTANCE arm
       (``verifier="editdist"`` at its own, stricter threshold,
       sharing the same persisted corpus shingles: near-verbatim
       enforcement independent of the Jaccard knob),
    2. if the semantic arm is configured (``corpus_embeddings`` +
       ``centroids`` given): SEMANTICALLY near-dup-checked against the
       corpus's at-rest two-level cell assignment — a configured arm
       whose batch lacks ``embedding_col`` RAISES (same fail-loud
       contract as the ``model_w`` arm; a misnamed column must not
       silently disable paraphrase dedup)
       (``llm.dedup.incremental_semantic_neardup`` — the batch descends
       the quantizer and broadcasts into the cell frame; the corpus
       assignment is computed ONCE per stream here and persisted, the
       layout a deployment stores at rest — catching paraphrases the
       MinHash arm structurally cannot see),
    3. quality-gated (``llm.text.quality_score`` ≥ ``min_quality``),
    4. if ``model_w`` is given: MODEL-gated by the trained linear probe
       (``llm.classify.perceptron_score`` > 0 — the CCNet-style learned
       filter deployed in the ingest path; the weights are plan
       literals, so the arm is one JVM fold per row, no join).  With
       ``model_w`` set, a batch MISSING ``embedding_col`` raises — a
       configured curation gate must never silently accept everything
       because a column was misnamed — and
    5. the surviving docs handed to ``accept_sink(accepted_df, batch_id)``
       with their quality scores attached.

    Both dedup arms flag against the STATIC corpus on the full batch (not
    the post-gate subset) so acceptance is independent of batching: the
    union of per-batch accepted sets equals the one-shot batch curation
    over all batches at once (tested), exactly like
    ``incremental_dedup_batch_fn``.  The batch twin is the oracle-gated
    ``llm_curation_gate`` query.
    """
    from data_engineering_project_utn_spark.llm import text as tx
    from data_engineering_project_utn_spark.llm.dedup import (
        incremental_neardup,
        incremental_semantic_neardup,
    )
    from data_engineering_project_utn_spark.persist import (
        release_persisted,
        track_persist,
    )

    # one corpus-side mode (at-rest index probe, or a once-per-stream
    # shingle persist) shared by the MinHash and edit-distance arms
    mode = _lexical_probe_mode(corpus, band_index, corpus_at_rest, neardup_kwargs)

    corpus_cells = None
    if corpus_embeddings is not None and centroids is not None:
        from data_engineering_project_utn_spark.llm import similarity as sim
        from data_engineering_project_utn_spark.llm.similarity import norm

        # the at-rest assignment (WITH its norms — probes must never
        # recompute corpus norms per batch): once per stream, NOT per
        # micro-batch — an untracked persist, so the per-batch
        # release_persisted() below keeps it
        corpus_cells = (
            sim.ivf_cells_2level(
                corpus_embeddings, centroids, vec_col=embedding_col,
                nprobe_super=nprobe_super,
            )
            .withColumn("_nrm", norm(F.col(embedding_col)))
            .persist()
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_neardup(
            batch_df, corpus, threshold=threshold, **mode, **neardup_kwargs
        )
        flagged = pairs.select(F.col("doc_new").alias("doc_id")).distinct()
        if editdist_threshold is not None:
            # arm short-circuit (VERDICT r12 #6): a doc the cheap Jaccard
            # arm already flagged cannot be UN-flagged, so the banded DP
            # verifies only the residue.  This routes the DP away from
            # its measured worst case — accept-heavy true near-dups
            # (~1.2× slower than the full DP, SCALE.md r12) are exactly
            # the docs the Jaccard arm catches first, leaving the DP the
            # reject-heavy regime where the threshold early-exit wins
            # 4.4×.  Union semantics are unchanged (parity-tested):
            # edp(batch) − edp(residue) ⊆ jaccard-flagged by definition.
            flagged = track_persist(flagged)
            residue = batch_df.join(flagged, "doc_id", "left_anti")
            edp = incremental_neardup(
                residue,
                corpus,
                threshold=editdist_threshold,
                verifier="editdist",
                **mode,
                **neardup_kwargs,
            )
            flagged = flagged.unionByName(
                edp.select(F.col("doc_new").alias("doc_id"))
            ).distinct()
        if corpus_cells is not None and embedding_col not in batch_df.columns:
            # same fail-loud contract as the model_w arm below: a
            # configured semantic arm (corpus_embeddings + centroids
            # given) must never silently disable paraphrase dedup
            # because a batch column was misnamed
            raise ValueError(
                f"make_curation_batch_fn: the semantic arm is configured "
                f"(corpus_embeddings + centroids) but batch column "
                f"{embedding_col!r} is missing (got {batch_df.columns}); "
                f"paraphrase dedup cannot run"
            )
        if corpus_cells is not None:
            sem = incremental_semantic_neardup(
                batch_df.select("doc_id", embedding_col),
                None,
                centroids,
                threshold=semantic_threshold,
                vec_col=embedding_col,
                corpus_cells=corpus_cells,
                nprobe_super=nprobe_super,
            )
            flagged = flagged.unionByName(
                sem.select(F.col("doc_new").alias("doc_id"))
            ).distinct()
        accepted = (
            batch_df.withColumn("quality", tx.quality_score(F.col("text")))
            .filter(F.col("quality") >= min_quality)
            .join(flagged, "doc_id", "left_anti")
        )
        if model_w is not None:
            # a curation deployment that configured the learned gate but
            # feeds batches without the embedding column would otherwise
            # silently accept everything — fail loudly instead
            if embedding_col not in batch_df.columns:
                raise ValueError(
                    f"make_curation_batch_fn: model_w is set but batch "
                    f"column {embedding_col!r} is missing "
                    f"(got {batch_df.columns}); the learned filter arm "
                    f"cannot run"
                )
            from data_engineering_project_utn_spark.llm.classify import (
                perceptron_score,
            )

            accepted = accepted.filter(
                perceptron_score(model_w, embedding_col) > 0
            )
        try:
            accept_sink(accepted, batch_id)
        finally:
            release_persisted()

    # stream-lifetime release handle (ADVICE r12): frees this stream's
    # corpus shingle + cell persists when the stream stops
    process.release_corpus_pins = _corpus_releaser(
        mode.get("corpus_shingles"), corpus_cells
    )
    return process


def make_index_probe_batch_fn(
    span_index: DataFrame,
    bloom_bits: DataFrame,
    sink: Callable[[DataFrame, int], None],
    n: int = 5,
    bloom_m: int = 4096,
    bloom_k: int = 3,
):
    """foreachBatch probe of the corpus's AT-REST index structures — the
    production nightly-batch shape: new docs are checked against persisted,
    model-size summaries of everything already ingested, never against the
    corpus rows themselves.

    Per micro-batch each doc gets:

    * ``dup_tokens`` / ``total_tokens`` — exact duplicated-span coverage
      vs the n-gram count index (``llm.spans.incremental_span_frame`` with
      ``index=``: the parquet-backed ``ngram_count_index``, no corpus
      re-scan), and
    * ``contaminated`` — Bloom membership of any of its 3-gram shingles
      (``llm.sketch.bloom_contains`` against the ≤ m-row bit frame; one
      broadcast join, one-sided: misses nothing).

    ``sink(result_df, batch_id)`` receives (doc_id, total_tokens,
    dup_tokens, contaminated).  Batch-independence holds for the
    corpus-vs-batch terms by the same asymmetry argument as
    ``incremental_dedup_batch_fn``; within-batch duplication is
    additionally detected inside each batch (a batch-schedule-dependent
    *extra*, never a miss).
    """
    from data_engineering_project_utn_spark.llm import sketch as sk
    from data_engineering_project_utn_spark.llm import spans as sn
    from data_engineering_project_utn_spark.llm import text as tx
    from data_engineering_project_utn_spark.persist import release_persisted

    def process(batch_df: DataFrame, batch_id: int) -> None:
        base = batch_df.select(
            "doc_id", F.size(tx.tokens("text")).cast("long").alias("total_tokens")
        )
        spans = sn.incremental_span_frame(batch_df, n=n, index=span_index)
        dup = spans.groupBy("doc_id").agg(F.sum("span_len").alias("dup_tokens"))
        sh = batch_df.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.transform(tx.shingles("text", 3), F.md5))
            ).alias("h"),
        )
        probed = sk.bloom_contains(bloom_bits, sh, "h", m=bloom_m, k=bloom_k)
        flags = probed.groupBy("doc_id").agg(
            F.max(F.col("maybe_present").cast("int")).cast("boolean").alias(
                "contaminated"
            )
        )
        result = (
            base.join(dup, "doc_id", "left")
            .join(flags, "doc_id", "left")
            .select(
                "doc_id",
                "total_tokens",
                F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
                F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            )
        )
        try:
            sink(result, batch_id)
        finally:
            release_persisted()

    return process


def make_tcp_json_sink_batch_fn(host: str, port: int, columns: list[str] | None = None):
    """foreachBatch TCP JSON sink — the jar-free outbound twin of
    ``to_kafka_json_sink`` (S5): each micro-batch is serialized with the
    SAME payload builder the Kafka sink uses (``sources.io.to_json_rows``:
    row → single JSON ``value`` with ISO timestamps) and shipped over a
    real TCP connection, one message per line.

    The serialized frame is collected per batch on the driver before the
    socket write — correct for the metric-sized aggregates this sink
    carries (the reference publishes dashboard aggregates, not raw
    events).  For raw-event volume use the executor-side twin
    ``make_tcp_json_sink_partition_fn`` (per-partition connections, no
    driver collect).  Integration test:
    ``TestSocketSink.test_sink_roundtrip_over_tcp``.
    """
    import socket as _socket

    from data_engineering_project_utn_spark.sources.io import to_json_rows

    def process(batch_df: DataFrame, batch_id: int) -> None:
        lines = [r["value"] for r in to_json_rows(batch_df, columns).collect()]
        if not lines:
            return
        with _socket.create_connection((host, port), timeout=30) as conn:
            conn.sendall(("\n".join(lines) + "\n").encode())

    return process


def make_tcp_json_sink_partition_fn(
    host: str,
    port: int,
    columns: list[str] | None = None,
    chunk_bytes: int = 1 << 20,
):
    """Executor-side foreachBatch TCP JSON sink — the raw-event fan-out
    twin of ``make_tcp_json_sink_batch_fn``.

    Serialization is identical (``sources.io.to_json_rows``: row → one
    JSON ``value`` line, the Kafka-sink payload); the write is
    ``foreachPartition``: each task opens its own connection and streams
    its partition's lines in ``chunk_bytes`` buffers, so **no row ever
    crosses the driver** — the scale-safe shape for raw-event volume
    (a Kafka sink is one producer per task in exactly the same way;
    reference fan-out: `producer_Final.py:50-76`).  Empty partitions open
    no connection; connection count per micro-batch = non-empty
    partitions.  Test asserts the driver path is bypassed:
    ``TestSocketSink.test_partition_sink_is_executor_side``.
    """
    from data_engineering_project_utn_spark.sources.io import to_json_rows

    def _send(rows: Iterable) -> None:
        import socket as _socket

        conn = None
        buf: list[str] = []
        size = 0
        try:
            for r in rows:
                if conn is None:  # lazily: empty partition → no connection
                    conn = _socket.create_connection((host, port), timeout=30)
                buf.append(r["value"])
                size += len(r["value"]) + 1
                if size >= chunk_bytes:
                    conn.sendall(("\n".join(buf) + "\n").encode())
                    buf, size = [], 0
            if conn is not None and buf:
                conn.sendall(("\n".join(buf) + "\n").encode())
        finally:
            if conn is not None:
                conn.close()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        to_json_rows(batch_df, columns).foreachPartition(_send)

    return process


def start_live_plane(
    raw_stream: DataFrame,
    checkpoint_root: str,
    counters_sink: Callable[[DataFrame, int], None] | None = None,
    counters_query_name: str = "live_counters",
    order_col: str = "execution_duration_ms",
    k: int = 5,
    window_duration: str = "60 seconds",
    watermark: str = "2 minutes",
    trigger: dict | None = None,
) -> dict[str, Any]:
    """Wire the reference's full live plane as one composed pipeline —
    the Aggregate View loop of `Real Final APP/Dashboard_Main.py` /
    `Dashboard_Live_Final.py:93-210`:

        transport → JSON decode   (caller: ``socket_json_stream`` /
                                   ``kafka_json_stream`` — same parse)
        → ``clean_redset``         (consumer-side hygiene, string→typed)
        → ``live_window_counters`` (the 60 s TTL tables)  → memory table
                                    [+ optional foreachBatch sink, e.g.
                                     ``make_tcp_json_sink_batch_fn``]
        → ``RunningTopK``          (the sorted-deque leaderboard)

    Three streaming queries over the one decoded stream — the idiomatic
    Spark shape for one topic feeding several live tables (each query
    owns its checkpoint under ``checkpoint_root``, so cadences and
    recovery are independent, exactly like the reference's per-table
    refresh loop).  N.B. with a per-query-connection transport (socket
    source) the producer must serve one replay per query, just as a
    Kafka topic serves each consumer group its own read.

    The counters run in complete mode: the memory table and the sink see
    every window so far, and no window's state is ever evicted.

    Returns ``{"counters_query", "sink_query" (None if no sink),
    "topk_query", "topk"}`` — caller owns ``stop()``.  Integration test
    (live TCP transport end-to-end + checkpoint recovery):
    ``tests/test_streaming.py::TestLivePlaneEndToEnd``.
    """
    from data_engineering_project_utn_spark.operators.clean import clean_redset

    trigger = trigger or {"processingTime": "1 second"}
    cleaned = clean_redset(raw_stream)
    counters = live_window_counters(
        cleaned, window_duration=window_duration, watermark=watermark
    )
    counters_query = (
        counters.writeStream.format("memory")
        .queryName(counters_query_name)
        .outputMode("complete")
        .option("checkpointLocation", f"{checkpoint_root}/counters")
        .trigger(**trigger)
        .start()
    )
    sink_query = None
    if counters_sink is not None:
        sink_query = (
            counters.writeStream.foreachBatch(counters_sink)
            .outputMode("complete")
            .option("checkpointLocation", f"{checkpoint_root}/counters_sink")
            .trigger(**trigger)
            .start()
        )
    topk = RunningTopK(
        order_col=order_col,
        k=k,
        state_path=f"{checkpoint_root}/topk_state.parquet",
    )
    topk_query = topk.start(cleaned, f"{checkpoint_root}/topk", **trigger)
    return {
        "counters_query": counters_query,
        "sink_query": sink_query,
        "topk_query": topk_query,
        "topk": topk,
    }

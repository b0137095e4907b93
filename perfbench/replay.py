"""redset_replay: the reference's own traffic.

A seeded Redset-shaped log, sorted by arrival, is replayed in equal hops.
One op is one hop, timed from landing to both dashboards being refreshed:
the hop lands as one file for the live plane (100 ms trigger), the
flattened hop goes through ``IncrementalHistoricalPipeline.process_batch``,
and the dashboard read collects ingestion freshness and the decile
histogram over ``read_output()``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import inputs
from checks import same_rows

WARMUP_OPS = 1
ROWS_PER_HOP = 1000  # the reference's analytical producer batch (BASELINE.md)
TAIL_PCT = 75


def n_ops(seconds: int, tiny: bool) -> int:
    return 3 if tiny else max(2, seconds // 8)


def prepare(ctx, rep: int) -> dict:
    """Generate the log and stage one parquet file per hop."""
    hops = WARMUP_OPS + ctx.total_ops
    log = inputs.redset_log(ctx.seed, hops, ROWS_PER_HOP)
    staged = ctx.path(f"staged{rep}")
    os.makedirs(staged)
    files = []
    for h in range(hops):
        files.append(os.path.join(staged, f"hop{h:05d}.parquet"))
        part = log.iloc[h * ROWS_PER_HOP : (h + 1) * ROWS_PER_HOP]
        inputs.write_parquet(part, files[-1], utc=True)
    ctx.input_rows = {"redset_log": len(log), "hops": hops, "rows_per_hop": ROWS_PER_HOP}
    return {"files": files, "next": 0, "live": None}


def start(ctx, state: dict) -> None:
    from data_engineering_project_utn_spark.schema import REDSET_SCHEMA
    from data_engineering_project_utn_spark.streaming.pipeline import (
        IncrementalHistoricalPipeline,
        file_stream,
        start_live_plane,
    )

    state["landing"] = ctx.path("landing")
    os.makedirs(state["landing"])
    raw = file_stream(ctx.spark, state["landing"], REDSET_SCHEMA)
    # With a zero-interval trigger the idle streams re-list the landing
    # directory every 10 ms, 0.7 of a core on a 4-vCPU box, competing with
    # the op; at 100 ms they use 0.2 and a hop waits at most 0.1 s.
    state["live"] = start_live_plane(
        raw, ctx.path("live_checkpoints"), trigger={"processingTime": "100 milliseconds"}
    )
    state["hist"] = IncrementalHistoricalPipeline(
        ctx.spark, ctx.path("accumulator"), ctx.path("historical_output")
    )
    state["trigger_s"], state["state_rows"] = [], 0


def op(ctx, state: dict, i: int) -> None:
    from data_engineering_project_utn_spark.operators.flatten import flatten_table_ids
    from data_engineering_project_utn_spark.operators.histogram import (
        decile_histogram,
        relative_to_next,
    )
    from data_engineering_project_utn_spark.operators.workload import (
        analytical_tables,
        ingestion_freshness,
        tables_workload_count,
    )

    hop = state["next"]
    state["next"] += 1
    landed = os.path.join(state["landing"], os.path.basename(state["files"][hop]))
    os.rename(state["files"][hop], landed)
    live = state["live"]
    with ctx.span("pipeline.live_plane"):
        live["counters_query"].processAllAvailable()
        live["topk_query"].processAllAvailable()
    hist = state["hist"]
    with ctx.span("pipeline.historical_batch"):
        hist.process_batch(flatten_table_ids(ctx.spark.read.parquet(landed)), hop)
    with ctx.span("operators.dashboard_read"):
        out = hist.read_output()
        analytical = analytical_tables(tables_workload_count(out))
        state["freshness"] = ingestion_freshness(out, analytical).collect()
        state["deciles"] = decile_histogram(relative_to_next(out, analytical)).collect()


def warmup(ctx, state: dict) -> None:
    for i in range(WARMUP_OPS):
        op(ctx, state, -1 - i)


def after_op(ctx, state: dict, i: int) -> None:
    """Live-plane progress of a traced hop's counters trigger (outside timing)."""
    if not ctx.spans.enabled:
        return
    progress = [
        p for p in state["live"]["counters_query"].recentProgress if p["numInputRows"] > 0
    ]
    if progress:
        last = progress[-1]
        state["trigger_s"].append(last["durationMs"]["triggerExecution"] / 1000.0)
        state["state_rows"] = last["stateOperators"][0]["numRowsTotal"]


def check(ctx, state: dict, n: int) -> set[int]:
    """The final outputs equal one-shot batch computations over every
    replayed row. A mismatch fails every measured op: each one fed it."""
    from data_engineering_project_utn_spark.operators.clean import clean_redset
    from data_engineering_project_utn_spark.operators.flatten import flatten_table_ids
    from data_engineering_project_utn_spark.operators.intervals import (
        ingestion_intervals,
        output_table,
    )
    from data_engineering_project_utn_spark.streaming.pipeline import live_window_counters

    spark = ctx.spark
    replayed = spark.read.parquet(state["landing"])
    flat = flatten_table_ids(replayed)
    got = state["hist"].read_output()
    if ctx.corrupt:
        got = got.filter(F.col("query_id") != F.lit(got.first()["query_id"]))
    ctx.checks["historical_output_equals_one_shot"] = same_rows(
        got, output_table(flat, ingestion_intervals(flat))
    )
    cleaned = clean_redset(replayed)
    ctx.checks["live_counters_equal_batch"] = same_rows(
        spark.table("live_counters"), live_window_counters(cleaned)
    )
    topk = state["live"]["topk"]
    want = (
        cleaned.orderBy(F.desc(topk.order_col)).limit(topk.k).select("query_id").collect()
    )
    ctx.checks["topk_equals_batch"] = [r["query_id"] for r in want] == list(
        topk.top["query_id"]
    )
    ctx.layer_seconds["pipeline.live_trigger"] = sum(state["trigger_s"])
    ctx.layer["pipeline.live_state_rows"] = float(state["state_rows"])
    ctx.layer["io.accumulator_files"] = float(_count_files(ctx.path("accumulator")))
    return set(range(n)) if not all(ctx.checks.values()) else set()


def stop(ctx, state: dict) -> None:
    for q in (state.get("live") or {}).values():
        if hasattr(q, "stop"):
            q.stop()


def _count_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )

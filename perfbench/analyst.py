"""analyst_queries: read-only, plan-heavy and driver-loop-heavy.

The mix is the registry's 15 ``bench``-tagged queries plus
``llm_embedding_dedup_clusters`` (a connected-components driver loop).
One op is one query: ``Query.build(spark, sf_dir)`` and then a full compute
through the ``noop`` sink. The warm-up runs every query twice: once
concurrently, checking its rows against the query's DuckDB oracle, and
once in measurement order. The measured phase runs the mix
once per 10 s of ``--seconds``. Session state is what a user's session would
have: no memo is cleared between ops.
"""

from __future__ import annotations

import os
import sys
import traceback

import pandas as pd

import inputs

# Fixed list, not a registry lookup by tag, so that a change of tags cannot
# change the workload.
QUERIES = (
    "llm_bottomk_neardup",
    "llm_dedup_summary",
    "llm_knn_cosine",
    "llm_knn_join",
    "llm_minhash_neardup",
    "llm_quality_scores",
    "ri_clean_roundtrip",
    "ri_decile_histogram",
    "ri_ingestion_freshness",
    "ri_ingestion_intervals",
    "ri_output_freshness",
    "rl_nation_revenue",
    "rl_order_count_distribution",
    "rl_pricing_summary",
    "rl_top_revenue_orders",
    "llm_embedding_dedup_clusters",
)
# The correctness pass starts the queries whose cold run is longest
# (7-10 s against 1-5 s), so that no thread is left running one alone at
# the end of the pass.
COLD_FIRST = ("llm_embedding_dedup_clusters", "ri_decile_histogram")
SF = 0.002
WARMUP_THREADS = 4
TAIL_PCT = 75


def n_ops(seconds: int, tiny: bool) -> int:
    return 2 if tiny else len(QUERIES) * max(1, round(seconds / 10))


def prepare(ctx, rep: int) -> dict:
    sf_dir = ctx.path(f"sf{rep}")
    tables = inputs.registry_tables(ctx.seed, 0.0005 if ctx.tiny else SF)
    ctx.input_rows = inputs.write_registry_tables(tables, sf_dir)
    return {"sf_dir": sf_dir}


def start(ctx, state: dict) -> None:
    pass


def _query(name: str):
    from data_engineering_project_utn_spark.plans import get_query

    return get_query(name)


def warmup(ctx, state: dict) -> None:
    """One correctness pass over the mix, WARMUP_THREADS queries at a
    time, then one plain pass in measurement order. The cold first run of a
    query is mostly single-threaded driver work (planning, codegen, JIT),
    so concurrent queries use the idle cores. The first sequential pass
    after the correctness pass ran 2-24 % slower than the next, by a
    different amount in every run."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        order = COLD_FIRST + tuple(q for q in QUERIES if q not in COLD_FIRST)
        list(pool.map(lambda name: _checked(ctx, state, name), order))
    for i in range(-len(QUERIES), 0):
        op(ctx, state, i)


def op(ctx, state: dict, i: int) -> None:
    q = _query(QUERIES[i % len(QUERIES)])
    with ctx.span("plans.build", query=q.name):
        df = q.build(ctx.spark, state["sf_dir"])
    with ctx.span("plans.exec", query=q.name):
        df.write.format("noop").mode("overwrite").save()


def _checked(ctx, state: dict, name: str) -> None:
    """Warm-up op: the query's rows against its DuckDB oracle."""
    import duckdb

    from checks import canonical
    from data_engineering_project_utn_spark.tables import TABLE_NAMES

    q = _query(name)
    try:
        got = q.build(ctx.spark, state["sf_dir"]).toPandas()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(state["sf_dir"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        want = con.execute(q.oracle).df()
        con.close()
    except Exception:  # a query that raises fails its check
        print(f"{name} failed:", file=sys.stderr)
        traceback.print_exc()
        ctx.checks[name] = False
        return
    if ctx.corrupt and name == QUERIES[0]:  # one extra all-null row
        got = pd.concat([got, pd.DataFrame([dict.fromkeys(got.columns)])], ignore_index=True)
    ctx.checks[name] = canonical(got) == canonical(want)


def after_op(ctx, state: dict, i: int) -> None:
    pass


def check(ctx, state: dict, n: int) -> set[int]:
    """A measured op fails when its query failed the oracle check."""
    return {i for i in range(n) if not ctx.checks.get(QUERIES[i % len(QUERIES)], False)}


def stop(ctx, state: dict) -> None:
    pass

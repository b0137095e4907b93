"""distributed_ntile must be bit-identical to F.ntile over a global window
— it's the 100 TB replacement for the single-partition NTILE (W1)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.operators.histogram import (
    decile_histogram,
    distributed_ntile,
)


def _compare(spark, pdf, order_cols, n_bins, parts):
    df = spark.createDataFrame(pdf)
    got = (
        distributed_ntile(df, order_cols, n_bins, num_partitions=parts)
        .select(*order_cols, "bin")
        .toPandas()
        .sort_values(order_cols)
        .reset_index(drop=True)
    )
    w = Window.orderBy(*order_cols)
    exp = (
        df.withColumn("bin", F.ntile(n_bins).over(w))
        .select(*order_cols, "bin")
        .toPandas()
        .sort_values(order_cols)
        .reset_index(drop=True)
    )
    assert got["bin"].tolist() == exp["bin"].tolist()


@pytest.mark.parametrize("n,bins,parts", [(1000, 10, 8), (97, 10, 4), (1000, 7, 16)])
def test_matches_window_ntile(spark, n, bins, parts):
    pdf = pd.DataFrame({"v": [((i * 7919) % n) / n for i in range(n)], "id": range(n)})
    _compare(spark, pdf, ["v", "id"], bins, parts)


def test_fewer_rows_than_bins(spark):
    pdf = pd.DataFrame({"v": [0.3, 0.1, 0.9], "id": [1, 2, 3]})
    _compare(spark, pdf, ["v", "id"], 10, 4)


def test_heavy_ties(spark):
    """Equal sort keys must co-locate (RangePartitioner contract); with a
    total order via the id tiebreaker the assignment is still exact."""
    pdf = pd.DataFrame({"v": [0.5] * 50 + [0.2] * 30 + [0.8] * 20, "id": range(100)})
    _compare(spark, pdf, ["v", "id"], 10, 8)


def test_more_partitions_than_rows(spark):
    pdf = pd.DataFrame({"v": [0.1, 0.2], "id": [1, 2]})
    _compare(spark, pdf, ["v", "id"], 2, 32)


def test_percent_rank_deciles_have_no_single_partition_stage(spark):
    """decile_by_percent_rank must go through with_global_rank, never an
    empty-partition window (which Spark plans as Exchange SinglePartition —
    the one-reducer bottleneck it exists to avoid)."""
    from data_engineering_project_utn_spark.operators.histogram import (
        decile_by_percent_rank,
    )

    n = 500
    rel = spark.createDataFrame(
        pd.DataFrame(
            {
                "relative_to_next": [((i * 7919) % n) / n for i in range(n)],
                "instance_id": [i % 4 for i in range(n)],
                "query_id": range(n),
                "read_table_id": [i % 10 for i in range(n)],
            }
        )
    )
    out = decile_by_percent_rank(rel)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # and the binning matches SQL percent_rank arithmetic
    got = out.toPandas()
    rel.createOrReplaceTempView("rel_pct")
    exp = spark.sql(
        """
        SELECT instance_id, read_table_id, bin, COUNT(*) AS count FROM (
          SELECT instance_id, read_table_id,
                 CAST(LEAST(FLOOR(percent_rank() OVER (ORDER BY relative_to_next,
                      instance_id, query_id, read_table_id) * 10) + 1, 10) AS INT) AS bin
          FROM rel_pct)
        GROUP BY instance_id, read_table_id, bin
        ORDER BY instance_id, read_table_id, bin
        """
    ).toPandas()
    assert got.values.tolist() == exp.values.tolist()


def test_persist_scope_releases_tracked_persists(spark):
    """A persist_scope() block must free every persist tracked inside it
    on exit (ADVICE r04: the per-build persists of a long-lived dashboard
    loop otherwise accumulate for the session's lifetime)."""
    from data_engineering_project_utn_spark import persist as ps

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pdf = pd.DataFrame({"v": [(i * 31) % 200 for i in range(400)], "id": range(400)})
    with ps.persist_scope() as scope:
        out = distributed_ntile(spark.createDataFrame(pdf), ["v", "id"], 10)
        assert out.count() == 400  # materialize inside the scope
        assert len(scope) == 1  # the rank's bucketed frame
        assert jsc.getPersistentRDDs().size() > before
    assert jsc.getPersistentRDDs().size() <= before


def test_rank_survives_release_before_compute(spark):
    """The rank's bucket bounds are literals in the plan: releasing every
    tracked persist and clearing the cache AFTER the offsets were counted
    but BEFORE the ranks are computed recomputes the bucketed frame from a
    source whose row order changes on every evaluation, and the ranks
    still equal row_number() over the same order.  (A partitioner that
    samples its bounds per evaluation would shift rows between the
    counted and the ranked buckets here.)"""
    from data_engineering_project_utn_spark import persist as ps
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )

    def shuffle_rows(batches):
        # an unseeded permutation of each Arrow batch: the same rows, in an
        # order that differs on every evaluation of the plan (defined here
        # so the worker unpickles it by value)
        import numpy as np

        for pdf in batches:
            yield pdf.iloc[np.random.permutation(len(pdf))]

    a = spark.range(0, 1500).select(
        ((F.col("id") * 7919) % 101).cast("double").alias("v"), "id"
    )
    b = spark.range(1500, 3000).select(
        ((F.col("id") * 31) % 97).cast("double").alias("v"), "id"
    )
    df = (
        a.unionByName(b)
        .repartition(3)
        .mapInPandas(shuffle_rows, "v double, id long")
    )
    ranked = with_global_rank(df, ["v", "id"], num_partitions=4)
    ps.release_persisted()
    spark.catalog.clearCache()
    got = {int(r["id"]): int(r["_rank0"]) for r in ranked.collect()}
    w = Window.orderBy("v", "id")
    want = {
        int(r["id"]): int(r["r"]) - 1
        for r in df.select("id", F.row_number().over(w).alias("r")).collect()
    }
    assert got == want and len(got) == 3000


def test_result_cache_build_scopes_pins(spark):
    """ResultCache.get wraps build+materialize in persist_scope: after a
    decile build, the rank's bucketed frame is freed and only the
    snapshot's own blocks remain — the TTL dashboard loop no longer
    accumulates intermediate storage across rebuilds (ADVICE r04 #1,
    final call site)."""
    from data_engineering_project_utn_spark.operators.cache import ResultCache

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pdf = pd.DataFrame(
        {
            "relative_to_next": [(i * 31) % 200 / 200.0 for i in range(400)],
            "instance_id": [i % 3 for i in range(400)],
            "query_id": range(400),
            "read_table_id": [i % 5 for i in range(400)],
        }
    )
    rel = spark.createDataFrame(pdf)
    cache = ResultCache(ttl_seconds=600)
    snap = cache.get("decile", lambda: decile_histogram(rel, distributed=True))
    # exactly ONE new persisted RDD: the snapshot (the build's internal
    # bucketed frame was scope-released after materialization)
    assert jsc.getPersistentRDDs().size() == before + 1
    assert snap.storageLevel.useMemory
    # the snapshot reads consistent materialized blocks after the release
    assert snap.count() > 0
    cache.invalidate()
    assert jsc.getPersistentRDDs().size() == before


class TestBoundedRank:
    """with_global_rank(domain=(lo, hi)): the sampling-free arithmetic
    bucket split for known-domain leading sort columns — must be
    bit-identical to with_global_rank() over sampled literal bounds and to
    window NTILE, place NULLs first and NaNs last, clamp strays outside
    [lo, hi], and fold the DISTINCT into its one exchange (no second
    shuffle; no range sampling in the plan)."""

    def _rel(self, spark, n=400):
        pdf = pd.DataFrame(
            {
                "relative_to_next": [((i * 7919) % n) / n for i in range(n)],
                "instance_id": [i % 4 for i in range(n)],
                "query_id": range(n),
                "read_table_id": [i % 10 for i in range(n)],
            }
        )
        return spark.createDataFrame(pdf)

    ORDER = ["relative_to_next", "instance_id", "query_id", "read_table_id"]

    def test_matches_window_ntile(self, spark):
        rel = self._rel(spark)
        got = (
            distributed_ntile(rel, self.ORDER, 10, num_partitions=8, domain=(0.0, 1.0))
            .select(*self.ORDER, "bin")
            .toPandas()
            .sort_values(self.ORDER)
            .reset_index(drop=True)
        )
        w = Window.orderBy(*self.ORDER)
        exp = (
            rel.withColumn("bin", F.ntile(10).over(w))
            .select(*self.ORDER, "bin")
            .toPandas()
            .sort_values(self.ORDER)
            .reset_index(drop=True)
        )
        assert got["bin"].tolist() == exp["bin"].tolist()

    def test_nan_last_null_first_strays_clamped(self, spark):
        """NaN must outrank every finite value (Spark sorts NaN greatest),
        NULL must rank first (ASC NULLS FIRST), and out-of-domain values
        must land in the clamped edge buckets with correct global ranks —
        with the domain split and with sampled bounds alike."""
        from data_engineering_project_utn_spark.operators.histogram import (
            with_global_rank,
        )

        # tuples, not pandas: pandas float columns fold BOTH None and NaN
        # into NULL on conversion, which would silently skip the NaN arm
        rows = [
            (0.5, 1),
            (float("nan"), 2),
            (None, 3),
            (-3.0, 4),
            (9.0, 5),
            (float("inf"), 6),
            (0.1, 7),
            (0.9, 8),
            (float("-inf"), 9),
        ]
        df = spark.createDataFrame(rows, "v double, id int")
        for domain in ((0.0, 1.0), None):
            out = {
                int(r["id"]): int(r["_rank0"])
                for r in with_global_rank(
                    df, ["v", "id"], 4, domain=domain
                ).collect()
            }
            # ASC NULLS FIRST, NaN greatest:
            # None, -inf, -3.0, 0.1, 0.5, 0.9, 9.0, inf, NaN
            assert out == {3: 0, 9: 1, 4: 2, 7: 3, 1: 4, 8: 5, 5: 6, 6: 7, 2: 8}, domain

    def test_dedup_folds_into_single_exchange(self, spark):
        """dedup=True over a duplicate-bearing frame: values equal the
        upstream-dropDuplicates composition, the plan carries exactly ONE
        exchange (hash on the bucket), and no range sampling exists — with
        the domain split and with sampled bounds alike."""
        import re

        rel = self._rel(spark, 200)
        dup = rel.unionByName(rel)
        key = lambda df: sorted(  # noqa: E731
            tuple(r) for r in df.select(*self.ORDER, "bin").collect()
        )
        for domain in ((0.0, 1.0), None):
            fused = distributed_ntile(
                dup, self.ORDER, 10, num_partitions=8, dedup=True, domain=domain
            )
            anchor = distributed_ntile(
                rel.dropDuplicates(), self.ORDER, 10, num_partitions=8, domain=domain
            )
            assert key(fused) == key(anchor)
            plan = fused._jdf.queryExecution().executedPlan().toString()
            # identify exchanges structurally (a cached AdaptiveSparkPlan
            # prints the same node in its Final and Initial sections, with
            # fresh plan_ids after in-suite re-planning): every hash
            # exchange must be the explicit bucket repartition — the dedup
            # aggregate must not have added an ENSURE_REQUIREMENTS shuffle
            kinds = set(
                re.findall(r"Exchange hashpartitioning\((\w+)#\d+[^)]*\), (\w+)", plan)
            )
            assert kinds == {("_bkt", "REPARTITION_BY_NUM")}, plan
            assert "Exchange rangepartitioning" not in plan, plan

    def test_headline_plan_has_no_range_sampling(self, spark, sf_dir):
        """ri_decile_histogram end-to-end: the rank path must show the
        arithmetic bucket split (one hash exchange carrying the DISTINCT),
        not a sampled rangepartitioning, and still no SinglePartition."""
        from data_engineering_project_utn_spark.plans import all_queries

        spark.catalog.clearCache()
        df = all_queries()["ri_decile_histogram"].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        # the only rangepartitioning allowed is the final tiny ORDER BY
        # over the aggregated (instance, table, bin) rows
        assert plan.count("Exchange rangepartitioning") <= 1, plan

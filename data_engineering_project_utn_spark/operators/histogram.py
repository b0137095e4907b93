"""Relative-ingestion-position decile histogram.

Reproduces `Real Final APP/Dashboard_Historical_Final.py:428-528`:
for selects on analytical tables, the position of each query inside its
ingestion interval (0 = just after ingest, 1 = just before next), binned
into NTILE(10) deciles over a *global* ordering, counted per
(instance_id, read_table_id, bin).

Scale note (SURVEY.md §7.2): ``F.ntile`` over a global ORDER BY is a
single-partition window — the one-reducer bottleneck at 100 TB.
``distributed_ntile`` reproduces NTILE *exactly* without it: split the
sort key into ordered buckets at fixed bounds (equal keys share a bucket;
bucket i's keys all precede bucket i+1's), collect only the per-bucket
counts to the driver, convert them to global rank offsets, then assign
bins arithmetically from the closed-form NTILE definition.  No
single-partition stage, bit-identical to the window version (asserted in
tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.functions.scalar import epoch_ms
from data_engineering_project_utn_spark.persist import track_persist


#: Rank buckets per output partition.  Over-bucketing smooths both the
#: hash placement of bucket ids onto partitions and the sampling error of
#: drawn bounds.
_BUCKETS_PER_PARTITION = 4
#: Sort keys sampled per bucket when the bounds are drawn from the data.
_SAMPLE_PER_BUCKET = 20


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None = None,
    dedup: bool = False,
    domain: "tuple[float, float] | None" = None,
) -> DataFrame:
    """Attach a 0-based global rank over a total order, computed distributed.
    Output columns: input + ``_rank0`` (bigint), ``_total`` (bigint).

    Each row gets a bucket id that is monotone in its sort key, from
    B = 4·P bucket bounds fixed before the plan runs.  The rows ride a
    hash exchange on the bucket into P partitions; only the B per-bucket
    counts are collected (model-size, like IVF centroids — never rows),
    turned into rank offsets on the driver and put back into the plan as
    literals; a window within each bucket finishes the order.  No
    single-partition stage anywhere.  Because the bounds are literals in
    the plan, every re-evaluation assigns every row to the same bucket,
    so the bucketed frame is a releasable perf persist
    (``track_persist``): recomputing it after a release cannot
    desynchronize the offsets.

    The bounds come from one of two places:

    * ``domain=(lo, hi)`` — the FIRST sort column has a known numeric
      domain (relative positions, ratios): bucket =
      clamp(floor((x − lo)/(hi − lo) · B)), no sampling job.  NULLs go
      to bucket 0 and NaNs to the top bucket (ASC NULLS FIRST,
      NaN-greatest); values outside [lo, hi] clamp into the edge buckets.
      A value-concentrated domain hot-spots one bucket.
    * otherwise one job draws a hash-ordered sample of at most 20·B sort
      keys; B − 1 of them become literal struct bounds, and bucket =
      Σ (struct(order_cols) >= bound_i).  Spark's struct comparison
      orders keys exactly as ``ORDER BY … ASC`` does (NULLs first, NaN
      greatest, −0.0 = 0.0), and the sum is monotone in the key for ANY
      set of bounds: a poor sample can only unbalance the buckets, never
      make a rank wrong.

    ``order_cols`` must define a total order (add tiebreakers) for the
    assignment to be deterministic.

    ``dedup=True`` folds a full-row DISTINCT into the bucket exchange:
    hash partitioning on the bucket satisfies the deduplication's
    clustering requirement whenever ``order_cols`` covers every column of
    ``df`` (duplicate rows share the sort key, so they share a bucket),
    so the aggregate rides the exchange the ranking needs anyway — one
    shuffle where a caller-side ``dropDuplicates()`` would pay two
    (plan-asserted in tests).  Requires ``order_cols`` ⊇ the frame's
    columns; asserted, because a partial cover would silently leave
    cross-partition duplicates."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if dedup and not set(df.columns) <= set(order_cols):
        raise ValueError(
            "dedup=True needs order_cols to cover every column: "
            f"{sorted(set(df.columns) - set(order_cols))} uncovered"
        )
    nb = p * _BUCKETS_PER_PARTITION
    if domain is None:
        bkt = _sampled_bucket(df, order_cols, nb)
    else:
        bkt = _domain_bucket(F.col(order_cols[0]), *domain, nb)
    bucketed = df.withColumn("_bkt", bkt).repartition(p, F.col("_bkt"))
    if dedup:
        bucketed = bucketed.dropDuplicates()
    bucketed = track_persist(bucketed)
    # Per-bucket counts → rank offsets + grand total.  The B counts are
    # collected to the driver (model-size: one long per bucket) and the
    # prefix sum computed there — a declarative window over the count frame
    # would plan an Exchange SinglePartition, and the benched headline
    # asserts no such stage exists anywhere in its plan.  The offsets go
    # back into the plan as a literal array indexed by bucket, the total
    # as a literal: no offsets frame, no join.
    cnt_rows = bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    counts = {int(r["_bkt"]): int(r["_cnt"]) for r in cnt_rows}
    offsets = [0] * (max(counts, default=0) + 1)
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    offset = F.array(*[F.lit(o).cast("bigint") for o in offsets])[F.col("_bkt")]
    cols = [F.col(c) for c in order_cols]
    w = Window.partitionBy("_bkt").orderBy(*cols)
    rank0 = (F.row_number().over(w) + offset - 1).cast("bigint")
    return (
        bucketed.withColumn("_total", F.lit(acc).cast("bigint"))
        .withColumn("_rank0", rank0)
        .drop("_bkt")
    )


def _domain_bucket(x: Column, lo: float, hi: float, nb: int) -> Column:
    """The arithmetic bucket of a leading sort column with domain [lo, hi]."""
    if not lo < hi:
        # an inverted domain would make the bucket expression DECREASING
        # in x (globally scrambled ranks, no exception); lo == hi would
        # NULL every finite bucket via divide-by-zero
        raise ValueError(f"domain must satisfy lo < hi, got ({lo}, {hi})")
    # branch order matters: NULL and NaN first (least/greatest SKIP nulls
    # instead of propagating them, so a null reaching the clamp would land
    # in the TOP bucket); the clamp runs on the double BEFORE the int cast
    # so ±Infinity strays clamp instead of overflowing the ANSI cast
    frac = (x - F.lit(float(lo))) / F.lit(float(hi - lo)) * nb
    clamped = F.greatest(F.least(frac, F.lit(float(nb - 1))), F.lit(0.0))
    return (
        F.when(x.isNull(), F.lit(0))
        .when(F.isnan(x), F.lit(nb - 1))
        .otherwise(F.floor(clamped).cast("int"))
    )


def _sampled_bucket(df: DataFrame, order_cols: list[str], nb: int) -> Column:
    """The bucket of a sort key against ``nb − 1`` bounds drawn once, on
    the driver, from a pseudo-random sample of the keys (one job).  The
    sample is the keys of smallest hash, so it depends on the rows alone,
    never on their partitioning or order: the same input always gets the
    same bounds, and so the same plan."""
    cols = [F.col(c) for c in order_cols]
    sample = (
        df.select(*cols)
        .orderBy(F.xxhash64(*cols), *cols)
        .limit(_SAMPLE_PER_BUCKET * nb)
        .orderBy(*cols)
        .collect()
    )
    picks = [sample[i * len(sample) // nb] for i in range(1, nb)] if sample else []
    bounds = [b for i, b in enumerate(picks) if i == 0 or b != picks[i - 1]]
    types = [df.schema[c].dataType for c in order_cols]
    key = F.struct(*cols)
    bkt = F.lit(0)
    for b in bounds:
        bound = F.struct(
            *[F.lit(v).cast(t).alias(c) for v, t, c in zip(b, types, order_cols)]
        )
        bkt = bkt + (key >= bound).cast("int")
    return bkt


def distributed_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_bins: int,
    bin_col: str = "bin",
    num_partitions: int | None = None,
    dedup: bool = False,
    domain: "tuple[float, float] | None" = None,
) -> DataFrame:
    """Exact NTILE(n) over a global total order, computed distributed
    (see ``with_global_rank``): closed-form bin arithmetic over the global
    rank — N rows into n bins → the first r = N mod n bins hold q+1 rows
    (q = N div n), the rest hold q rows.  ``dedup`` and ``domain`` as in
    ``with_global_rank``."""
    ranked = with_global_rank(
        df, order_cols, num_partitions, dedup=dedup, domain=domain
    )
    rank0 = F.col("_rank0")
    q = F.floor(F.col("_total") / n_bins)
    r = F.col("_total") % n_bins
    bin_expr = (
        F.when(q == 0, rank0 + 1)  # fewer rows than bins: row i → bin i+1
        .when(rank0 < r * (q + 1), F.floor(rank0 / (q + 1)) + 1)
        .otherwise(r + F.floor((rank0 - r * (q + 1)) / q) + 1)
    ).cast("int")
    return ranked.withColumn(bin_col, bin_expr).drop("_rank0", "_total")


def relative_to_next(
    output_table: DataFrame, analytical: DataFrame, dedup: bool = True
) -> DataFrame:
    """DISTINCT (instance, query, table, relative position) for selects in
    analytical tables (`Dashboard_Historical_Final.py:438-453`).

    ``dedup=False`` defers the DISTINCT to a downstream operator that can
    satisfy it from an exchange it already pays for (the decile headline
    folds it into ``distributed_ntile``'s bucket exchange — one
    shuffle instead of two)."""
    keys = analytical.select(F.col("table_id").alias("read_table_id"))
    num = epoch_ms(F.col("arrival_timestamp"), F.col("last_write_table_insert"))
    den = epoch_ms(F.col("next_write_table_insert"), F.col("last_write_table_insert"))
    out = (
        output_table.filter(F.col("query_type") == "select")
        .join(F.broadcast(keys), on="read_table_id", how="left_semi")
        .select(
            "instance_id",
            "query_id",
            "read_table_id",
            (num / den).alias("relative_to_next"),
        )
    )
    return out.dropDuplicates() if dedup else out


def decile_histogram(
    rel: DataFrame,
    n_bins: int = 10,
    distributed: bool = True,
    dedup: bool = False,
) -> DataFrame:
    """NTILE(n) over global ORDER BY relative_to_next → counts per
    (instance_id, read_table_id, bin) (`Dashboard_Historical_Final.py:455-463`).

    Tiebreakers (query ids) make the global ordering total, so bucket
    assignment is deterministic and oracle-reproducible.

    Strategy: the default (``distributed=True``) is ``distributed_ntile`` —
    no single-partition stage anywhere, the plan that survives a 100×
    scale-up, and the one the headline bench runs.  ``distributed=False``
    is the plain global-window NTILE — one reducer sorts the (already
    heavily reduced) rel rows, which wins below the ~10M-row crossover;
    both strategies are bit-identical (same oracle, asserted in tests), so
    small-data callers may pin it as a measured optimization.

    ``dedup=True`` takes a NOT-yet-distinct rel frame and satisfies the
    DISTINCT from the strategy's own exchange (the bucket exchange in
    the distributed plan) instead of a second upstream shuffle — pair
    with ``relative_to_next(..., dedup=False)``.
    """
    if distributed:
        binned = distributed_ntile(
            rel,
            ["relative_to_next", "instance_id", "query_id", "read_table_id"],
            n_bins,
            dedup=dedup,
            # relative position is a within-interval ratio: [0, 1] by
            # construction (clamped arithmetic split tolerates strays)
            domain=(0.0, 1.0),
        )
    else:
        if dedup:
            rel = rel.dropDuplicates()
        w = Window.orderBy(
            "relative_to_next", "instance_id", "query_id", "read_table_id"
        )
        binned = rel.withColumn("bin", F.ntile(n_bins).over(w))
    return (
        binned.groupBy("instance_id", "read_table_id", "bin")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("instance_id", "read_table_id", "bin")
    )


def decile_by_percent_rank(
    rel: DataFrame,
    n_bins: int = 10,
    dedup: bool = False,
    domain: "tuple[float, float] | None" = None,
) -> DataFrame:
    """Percent-rank decile binning, computed distributed.

    Bucket = floor(percent_rank · n) + 1 clipped to n, with
    percent_rank = rank0 / (N − 1) over the global total order — the exact
    arithmetic SQL ``percent_rank()`` defines, but via ``with_global_rank``
    (bucket exchange + literal offsets) instead of an empty-partition
    window, which Spark would plan as Exchange SinglePartition.  Differs
    from NTILE at bucket boundaries when group sizes don't divide evenly —
    a different (equally standard) quantile convention, value-checked by
    its own percent_rank oracle (``ri_decile_percentrank``).  ``dedup``
    and ``domain`` as in ``with_global_rank``."""
    order_cols = ["relative_to_next", "instance_id", "query_id", "read_table_id"]
    ranked = with_global_rank(rel, order_cols, dedup=dedup, domain=domain)
    # single-row edge: SQL percent_rank defines 0 when N == 1 (0/0 → NaN here)
    pct = F.when(F.col("_total") == 1, F.lit(0.0)).otherwise(
        F.col("_rank0") / (F.col("_total") - 1)
    )
    bucket = F.least(F.floor(pct * n_bins) + 1, F.lit(n_bins))
    return (
        ranked.withColumn("bin", bucket.cast("int"))
        .groupBy("instance_id", "read_table_id", "bin")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("instance_id", "read_table_id", "bin")
    )

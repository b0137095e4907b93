"""Iterative graph analytics over document-similarity graphs.

Connected components (label propagation, ``llm/dedup.dedup_clusters``)
answers "which docs are the same"; PageRank here answers "which docs are
CENTRAL" — e.g. rank keeper candidates inside a near-dup neighborhood, or
surface hub documents in a lexical-overlap graph.  The implementation is
the standard synchronous power-method PageRank re-expressed as
DataFrame rounds, in FIXED-POINT integer arithmetic so results are
bit-reproducible across engines and partitionings (the same determinism
trade as BPE training and the PCA power iteration):

* ranks are integers at ``scale`` (10⁶),
* the damping factor is the rational 17/20 (= 0.85 exactly),
* per-edge contributions use truncating division ``r div deg`` on
  NON-NEGATIVE operands (Spark ``div``, DuckDB ``//`` and Python ``//``
  all agree on ≥ 0),
* the update is r' = ((den−num)·scale + num·Σ contrib) div den — exact
  integers end-to-end, no floating step anywhere.

Scale shape: each round is one equi-join of edges against the rank frame
(shuffle on the node key) plus a grouped sum — the canonical distributed
PageRank round.  Rounds are unrolled (fixed iteration count), so the SQL
oracle chains the identical CTEs; for long chains at cluster scale add
``localCheckpoint`` lineage truncation per round exactly as
``dedup_clusters`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirect(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """(a, b) pair list → symmetric edge frame (src, dst)."""
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    return fwd.unionByName(rev)


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**6,
    damp_num: int = 17,
    damp_den: int = 20,
) -> DataFrame:
    """Fixed-point PageRank over a symmetric (src, dst) edge frame.

    Nodes are those with ≥ 1 edge (an undirected graph has no dangling
    nodes, so no leaked mass to redistribute).  Returns (node, rank_fp)
    with rank_fp an exact integer at ``scale``."""
    from data_engineering_project_utn_spark.persist import track_persist

    # degrees and the edge frame are LOOP-INVARIANT: materialize both once
    # (r14, guide §2.4) — the pre-r14 round joined the full edge frame
    # against deg EVERY round (a second edge-sized join per round), and
    # re-evaluated deg's aggregation per consumer.  The per-edge
    # contribution r div deg is constant across a src's edges, so it is
    # computed on the NODE-sized ranks⨝deg frame first and attached to
    # edges with ONE join per round; integer sums are associative, so the
    # grouped m is bit-identical to the per-edge form.
    deg = track_persist(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("node"), "deg")
    )
    e = track_persist(edges.select("src", "dst").repartition("src"))
    nodes = deg.select("node")
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    base = (damp_den - damp_num) * scale
    for _ in range(iters):
        csrc = ranks.join(deg, "node").select(
            F.col("node").alias("src"), F.expr("r div deg").alias("c")
        )
        m = (
            e.join(csrc, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("m"))
        )
        ranks = (
            nodes.join(m, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST(({base} + {damp_num} * coalesce(m, CAST(0 AS BIGINT)))"
                    f" div {damp_den} AS BIGINT)"
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "w",
    iters: int = 3,
    scale: int = 10**6,
    damp_num: int = 17,
    damp_den: int = 20,
) -> DataFrame:
    """Weighted fixed-point PageRank: a node distributes its rank to
    neighbors proportionally to integer edge weights — contribution along
    (src→dst) is (r·w) div Σ_src w, truncating division on non-negatives
    so Python//SQL agree.  Same round shape as ``pagerank`` (edges⨝ranks
    equi-join + grouped sum); weights must be positive BIGINTs (e.g.
    shared-rare-shingle counts).  The r·w product multiplies through
    DECIMAL(38,0) — damped PageRank concentrates mass on hubs (rank can
    reach ~deg·scale), so a BIGINT multiply could wrap silently on
    hub-heavy graphs with large weights (ADVICE r06 #2); the decimal
    product matches the DuckDB oracle's HUGEINT exactly, and the
    quotient (≤ r, since w ≤ Σw) always fits BIGINT."""
    from data_engineering_project_utn_spark.persist import track_persist

    # same loop-invariant hoisting as ``pagerank`` (r14, guide §2.4), with
    # one weighted difference: the contribution (r·w) div sw depends on the
    # EDGE weight, not just the src, so the node-sized pre-join carries
    # (r, sw) per src and the per-edge quotient still evaluates on the
    # edge row — but the edge frame is joined ONCE per round instead of
    # twice, off a partitioning established once.
    wsum = track_persist(
        edges.groupBy("src")
        .agg(F.sum(weight_col).alias("sw"))
        .select(F.col("src").alias("node"), "sw")
    )
    e = track_persist(edges.select("src", "dst", weight_col).repartition("src"))
    nodes = wsum.select("node")
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    base = (damp_den - damp_num) * scale
    for _ in range(iters):
        rsrc = ranks.join(wsum, "node").select(
            F.col("node").alias("src"), "r", "sw"
        )
        m = (
            e.join(rsrc, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(CAST(r AS DECIMAL(38,0)) * {weight_col}) div sw"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("m"))
        )
        ranks = nodes.join(m, "node", "left").select(
            "node",
            F.expr(
                f"CAST(({base} + {damp_num} * coalesce(m, CAST(0 AS BIGINT)))"
                f" div {damp_den} AS BIGINT)"
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))


def triangle_counts(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    orientation: str = "id",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    given as canonical pairs (a < b): (node, tri, deg, cc_num, cc_den)
    where ``tri`` is the number of triangles through the node, ``deg``
    its degree, and cc_num/cc_den the exact-rational local clustering
    coefficient 2·tri / (deg·(deg−1)) kept as an integer pair (the
    caller divides once in double if it wants the float — keeping the
    gate integer-exact).  Community structure / cohesion signal for the
    doc-overlap graph (PageRank ranks hubs; triangles mark tight cliques
    of mutual near-dups that pairwise scores alone can't see).

    Scale shape — the standard distributed triangle enumeration: under
    a total order ≺ on nodes each triangle {u ≺ v ≺ w} is found exactly
    once as (u→v) ⨝ (v→w) closed by (u→w) — two equi-join shuffles on
    single node keys plus one pair-key join, never an all-pairs product.
    Wedge count is Σ_v outdeg(v)·indeg(v) under the orientation, which
    ``orientation`` picks; the triangle SET, and so the output, does not
    depend on it (one oracle holds both plans to the same bits):

    * ``"id"`` — the degree-oracle-free canonical orientation (a < b by
      id), no extra join;
    * ``"degree"`` — the (degree, id) orientation (``orient_by_degree``,
      VERDICT r07 #5): the wedge join fans out per LOW-degree endpoints
      only, the hub-skew fix for power-law graphs at 100 TB, at the cost
      of one extra degree join.
    """
    if orientation == "degree":
        from data_engineering_project_utn_spark.persist import track_persist

        oriented, deg = orient_by_degree(pairs, a_col, b_col)
        # three self-join consumers — persist so the degree joins run once
        oriented = track_persist(oriented)
    elif orientation == "id":
        oriented = pairs.select(
            F.col(a_col).alias("src"), F.col(b_col).alias("dst")
        ).distinct()
        deg = _degrees(oriented, "src", "dst")
    else:
        raise ValueError(f"orientation must be 'id' or 'degree', got {orientation!r}")
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tris = e1.join(e2, "v").join(e3, ["u", "w"])
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("tri"), F.lit(0).cast("long")).alias("tri"),
        "deg",
        (F.coalesce(F.col("tri"), F.lit(0).cast("long")) * 2).alias("cc_num"),
        (F.col("deg") * (F.col("deg") - 1)).cast("long").alias("cc_den"),
    )


def _degrees(e: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """(node, deg) over a distinct undirected pair frame."""
    return (
        undirect(e, a_col, b_col)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def orient_by_degree(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> "tuple[DataFrame, DataFrame]":
    """Orient each distinct undirected pair from LOWER to HIGHER
    (degree, id) — the classic triangle-enumeration skew fix (the
    "node-iterator++" / Suri-Vassilvitskii orientation): under it a
    node's out-degree is bounded by the number of HIGHER-ranked
    neighbors, so a hub of degree D pointed at by the whole graph keeps
    out-degree ≈ 0 instead of D, and the wedge join's per-key fan-out
    Σ outdeg² collapses on power-law graphs (any graph's max out-degree
    under this orientation is O(√|E|); under the plain id orientation a
    low-id hub keeps all D out-edges).  Ties (equal degree) break by id,
    so the orientation is a total order and every triangle is
    enumerated exactly once.  Returns (oriented(src, dst), deg(node,
    deg)) — degrees computed once, reused by the caller's output.

    Scale shape: one degree aggregation + two broadcast-or-shuffle
    equi-joins of the pair list against the degree frame — the "one
    extra degree join" ``triangle_counts(orientation="degree")`` pays.
    """
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).distinct()
    deg = _degrees(e, "a", "b")
    withdeg = e.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb")), "b")
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    return oriented, deg

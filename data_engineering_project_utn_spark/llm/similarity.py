"""Similarity search over embedding columns (array<float>).

Scale design:

* ``cosine`` / ``dot`` are sequential left folds (Catalyst ``aggregate``
  expression) — JVM codegen, deterministic order → bit-exact vs a DuckDB
  ``list_reduce`` oracle, and no Python in the hot path.
* Brute-force top-k (`knn_brute`) is the correctness baseline: one pass over
  N rows per query, TakeOrdered — fine for batch scoring, O(N·d) per query.
* The scale path is sign-LSH bucketing (`lsh_bucket`, random-hyperplane
  signatures — Charikar '02): candidates share a bucket, so query cost drops
  to O(bucket).  Hyperplane weights are small deterministic integers derived
  from (plane, dim) index arithmetic, so the bucketing is reproducible in
  SQL oracles (no RNG state).
* For co-located joins at 100 TB, write bucketed tables
  (``df.write.bucketBy(B, "bucket")``) so repeated ANN queries never
  re-shuffle the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Persisted intermediates (blocked projections, sized inputs) registered by
# blocked_pairs/knn_join go through the package-wide tracked registry —
# call release_persisted() in long-lived sessions once downstream results
# are materialized (see persist.py).
from data_engineering_project_utn_spark.persist import (  # noqa: F401  (re-export)
    release_persisted,
    track_persist as _track_persist,
)


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a sequential left fold (init 0.0) in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _with_qnorm(query_vec: DataFrame) -> DataFrame:
    """Attach the query norm once on the (tiny) query side — identical
    fold → identical double, evaluated once instead of per corpus row."""
    return query_vec.withColumn("_qn", norm(F.col("qv")))


def _qnorm_cosine(vec_col: str) -> Column:
    """cosine(qv, vec) with the precomputed ``_qn`` query norm."""
    return dot(F.col("qv"), F.col(vec_col)) / (F.col("_qn") * norm(F.col(vec_col)))


def knn_brute(
    embeddings: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of one query against the corpus.

    ``query_vec``: single-row frame with column ``qv`` (and optionally
    ``q_id`` to exclude self-matches).  Broadcast — the corpus never moves.
    The query norm is evaluated once on the 1-row side (identical fold →
    identical double), not once per corpus row.
    """
    joined = embeddings.join(F.broadcast(_with_qnorm(query_vec)))
    sim = _qnorm_cosine(vec_col)
    out = joined.select(F.col(id_col), sim.alias("cos_sim"))
    if "q_id" in query_vec.columns:
        out = joined.filter(F.col(id_col) != F.col("q_id")).select(
            F.col(id_col), sim.alias("cos_sim")
        )
    return out.orderBy(F.desc("cos_sim"), id_col).limit(k)


def mmr_topk(
    embeddings: DataFrame,
    query_vec: "list[float]",
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
    one_minus_lam: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = 0,
):
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein SIGIR'98 — the diversified-retrieval step RAG rerankers
    run after ANN): greedily select k results maximizing
    λ·rel(q, d) − (1−λ)·max_{s∈selected} sim(d, s), so near-duplicate
    hits don't crowd the result list the way a pure cosine top-k does.

    Two-phase shape, each phase at its right altitude:

    * POOL (distributed): exact-cosine top-``pool`` over the corpus —
      a TakeOrdered with the shared ``_qnorm_cosine`` fold, total order
      (rel DESC, id).  This is the only part that touches the corpus;
      at 100 TB it composes with any gated ANN path as the pool source.
    * REFINE (model-size): the greedy loop runs on the collected pool —
      k·pool² double ops on ≤ pool rows, the Lloyd-centroid altitude.
      Pair similarities use Python's ``sum`` left fold and ``math.sqrt``
      — bit-identical to the engine folds (the ``_ivf_scored`` literal
      argument), and λ/(1−λ) are passed as SEPARATE literals (0.7 and
      0.3) because ``1 − 0.7`` is a DIFFERENT double than ``0.3``; the
      oracle writes the same two literals.

    Returns a list of (rank, vec_id, relevance, marginal) tuples —
    rank-1's marginal IS its relevance (nothing selected yet).
    Ties break to the lowest id at every step."""
    qdf = embeddings.sparkSession.createDataFrame(
        [([float(x) for x in query_vec],)], "qv array<double>"
    )
    out = embeddings.join(F.broadcast(_with_qnorm(qdf))).select(
        F.col(id_col), F.col(vec_col).alias("_v"), _qnorm_cosine(vec_col).alias("rel")
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    rows = out.orderBy(F.desc("rel"), id_col).limit(pool).collect()
    cand = [
        (int(r[id_col]), [float(x) for x in r["_v"]], float(r["rel"])) for r in rows
    ]
    return mmr_refine(cand, k=k, lam=lam, one_minus_lam=one_minus_lam)


def mmr_refine(
    cand: "list[tuple[int, list[float], float]]",
    k: int = 5,
    lam: float = 0.7,
    one_minus_lam: float = 0.3,
) -> "list[tuple[int, int, float, float]]":
    """The model-size greedy MMR loop on an already-retrieved candidate
    pool (id, vector, relevance) — shared by the exact-pool anchor
    (``mmr_topk``) and the ANN-pooled composition, so the refine
    semantics are defined ONCE.  k·|pool|² double ops; pair similarities
    use Python's ``sum`` left fold and ``math.sqrt`` — bit-identical to
    the engine folds — and λ/(1−λ) are SEPARATE literals (``1 − 0.7`` is
    a different double than ``0.3``).  Selection order and every
    tie-break (highest marginal, then lowest id) are input-order
    independent."""
    import math

    def _dot(a: "list[float]", b: "list[float]") -> float:
        return sum(x * y for x, y in zip(a, b))

    nrm = {i: math.sqrt(_dot(v, v)) for i, v, _ in cand}
    vec = {i: v for i, v, _ in cand}
    rel = {i: r for i, _, r in cand}
    selected: "list[tuple[int, int, float, float]]" = []
    remaining = sorted(vec)
    while remaining and len(selected) < k:
        best = None
        for i in remaining:
            if not selected:
                marg = rel[i]
            else:
                ms = max(
                    _dot(vec[i], vec[j]) / (nrm[i] * nrm[j])
                    for _, j, _, _ in selected
                )
                marg = lam * rel[i] - one_minus_lam * ms
            if best is None or (marg, -i) > (best[1], -best[0]):
                best = (i, marg)
        selected.append((len(selected) + 1, best[0], rel[best[0]], best[1]))
        remaining.remove(best[0])
    return selected


def _plane_weight(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane weight in {-3..3}:
    ((plane·31 + dim·17) mod 7) - 3."""
    return ((plane * 31 + dim * 17) % 7 - 3).cast("double")


def lsh_signature(vec: Column, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: n_planes sign bits packed into a long.

    Note: bucket *splitting* in ``lsh_blocks`` deliberately uses an id hash,
    not a second signature family — near-identical vectors collide under
    every similarity-preserving hash, so only a similarity-independent key
    redistributes a hot bucket."""
    def bit(p: Column) -> Column:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x.cast("double") * _plane_weight(p, i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # 1 << p, expressed arithmetically (shiftleft needs a literal count)
        return F.when(proj > 0, F.pow(F.lit(2.0), p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, p: acc + bit(p),
    )


def knn_lsh_multiprobe(
    embeddings: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH ANN: probe the query's bucket *and* every bucket at
    Hamming distance 1 (one sign-bit flip).  Boundary misses — vectors just
    across one hyperplane — are the dominant recall loss of single-probe
    sign-LSH; probing the n_planes+1 neighboring buckets recovers most of
    them while still touching a vanishing fraction of the corpus.
    Candidate set ⊇ single-probe's, so recall is monotonically better
    (asserted in tests)."""
    with_bucket = embeddings.withColumn("bucket", lsh_signature(F.col(vec_col), n_planes))
    q = _with_qnorm(
        query_vec.withColumn("q_bucket", lsh_signature(F.col("qv"), n_planes))
    )
    probes = q.select(
        "*",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[
                    F.col("q_bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ],
            )
        ).alias("probe_bucket"),
    )
    joined = with_bucket.join(
        F.broadcast(probes), F.col("bucket") == F.col("probe_bucket")
    )
    sim = _qnorm_cosine(vec_col)
    out = joined.select(F.col(id_col), sim.alias("cos_sim"))
    if "q_id" in query_vec.columns:
        out = joined.filter(F.col(id_col) != F.col("q_id")).select(
            F.col(id_col), sim.alias("cos_sim")
        )
    return out.dropDuplicates([id_col]).orderBy(F.desc("cos_sim"), id_col).limit(k)


def derive_n_planes(n_rows: int, target_bucket_size: int = 256) -> int:
    """Plane count giving ~target_bucket_size expected rows per bucket:
    ceil(log2(N / target)), clamped to [1, 24].  Fixed plane counts
    degenerate — at 6 planes, Σ|bucket|² → N²/64 as N grows; deriving from
    N keeps expected pair work ≈ N·target instead."""
    import math

    if n_rows <= target_bucket_size:
        return 1
    return min(24, max(1, math.ceil(math.log2(n_rows / target_bucket_size))))


_MAX_SPLIT_BITS = 8


def lsh_blocks(
    embeddings: DataFrame,
    n_planes: int,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Bucketed + normed projection with overfull buckets *split*.

    Columns: bucket, split_bits, sub, _id, _v, _n.  When a bucket exceeds
    ``max_bucket_size`` (skewed data: many near-identical vectors land in
    one signature), it is split into 2^split_bits sub-buckets with
    split_bits = ceil(log2(count / cap)) capped at 8, keyed by a *uniform
    deterministic hash of the id* — NOT another LSH signature: vectors that
    collide because they are near-identical collide under every
    similarity-preserving hash, so only a similarity-independent key
    actually redistributes a hot bucket.  Each row then meets a bounded
    uniform sample (~cap rows) of its bucket peers; for a bucket of
    near-identical vectors any such sample contains valid top-k neighbors,
    which is the approximation this join already makes at the bucket
    boundary.  split_bits is integer-exact (bit-length arithmetic, no
    float log) and the id hash is plain BIGINT arithmetic, so oracles
    reproduce the blocking exactly.  Requires a numeric id column.

    ``extra_key_cols`` prepend metadata columns to the block key (e.g.
    ``("label",)`` for within-label blocking): bucket sizing, splitting,
    and the downstream join then all operate per (extra keys, bucket).
    """
    keys = [*extra_key_cols, "bucket"]
    b = embeddings.select(
        *[F.col(c) for c in extra_key_cols],
        lsh_signature(F.col(vec_col), n_planes).alias("bucket"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    if max_bucket_size is None:
        return b.select(
            *keys,
            F.lit(0).alias("split_bits"),
            F.lit(0).cast("long").alias("sub"),
            "_id",
            "_v",
            "_n",
        )
    sizes = (
        b.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > max_bucket_size)
    )
    # join carries only the overfull buckets (usually few — broadcastable);
    # rows in healthy buckets keep _cnt null → split_bits 0
    b = b.join(F.broadcast(sizes), keys, "left")
    # q = ceil(cnt / cap) in exact integer arithmetic; split_bits =
    # ceil(log2(q)) = bit_length(q - 1), via the bin() string — no float log
    q = F.floor((F.col("_cnt") + F.lit(max_bucket_size - 1)) / F.lit(max_bucket_size))
    split_bits = (
        F.when(F.col("_cnt").isNull(), F.lit(0))
        .when(q <= 1, F.lit(0))
        .otherwise(F.least(F.length(F.bin(q - 1)), F.lit(_MAX_SPLIT_BITS)))
        .cast("int")
    )
    # uniform split key: Knuth-style multiplicative mix kept inside int64
    # by a prime modulus first (ids < ~3e17 never overflow)
    mixed = (F.col("_id").cast("long") * F.lit(31) + F.lit(7)) % F.lit(1000003)
    sub = F.when(split_bits == 0, F.lit(0).cast("long")).otherwise(
        mixed % F.pow(F.lit(2.0), split_bits).cast("long")
    )
    return b.select(
        *keys,
        split_bits.alias("split_bits"),
        sub.alias("sub"),
        "_id",
        "_v",
        "_n",
    )


def _probe_array() -> Column:
    """Probe list over (sub, split_bits) columns: the row's own sub-bucket
    plus each single-bit flip when the bucket was split."""
    return F.when(F.col("split_bits") == 0, F.array(F.col("sub"))).otherwise(
        F.concat(
            F.array(F.col("sub")),
            F.transform(
                F.sequence(F.lit(0), F.col("split_bits") - 1),
                lambda p: F.col("sub").bitwiseXOR(F.pow(F.lit(2.0), p).cast("long")),
            ),
        )
    )


def blocked_pairs(
    embeddings: DataFrame,
    n_planes: int,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_key_cols: tuple[str, ...] = (),
    ordered: bool = False,
) -> DataFrame:
    """LSH-blocked candidate pairs with exact cosine.

    Columns: *extra_key_cols, id_a, id_b, cos_sim.  Vectors meet only
    within their (extra keys, bucket, sub) block; the a-side additionally
    probes Hamming-1 sub-buckets of split blocks (each candidate pair still
    appears exactly once — probe values are distinct, and for ``ordered``
    the lower id does the probing).  ``ordered=True`` yields each unordered
    pair once (id_a < id_b); ``ordered=False`` yields both directions
    (id_a != id_b) for per-vector top-k.

    The blocked+normed projection is persisted so the scan, signature
    folds, and norms run once per vector, not once per join side; the
    handle stays pinned for the result's lifetime — long-lived sessions
    call ``release_persisted()`` after materializing downstream results.
    """
    b = _track_persist(
        lsh_blocks(embeddings, n_planes, max_bucket_size, id_col, vec_col, extra_key_cols)
    )
    keys = [*extra_key_cols, "bucket"]
    a = b.select(
        *keys,
        F.explode(_probe_array()).alias("sub"),
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    c = b.select(
        *keys,
        "sub",
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    cond = (
        (F.col("id_a") < F.col("id_b")) if ordered else (F.col("id_a") != F.col("id_b"))
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(c, [*keys, "sub"])
        .filter(cond)
        .select(*extra_key_cols, "id_a", "id_b", sim.alias("cos_sim"))
    )


def knn_join(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int | None = None,
    target_bucket_size: int = 256,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Blocked k-NN *join*: top-k neighbors for EVERY vector — the workload
    behind embedding-level dedup and nearest-neighbor graph construction.

    All-pairs is O(N²·d) and never materializes here: vectors only meet
    inside their LSH block, so the pair space is Σ|block|² and the shuffle
    key is the block id.  Norms are computed once per vector *before* the
    self-join (projection pushed below the join), and top-k per vector is a
    row_number window over the (much smaller) candidate pair set.

    Scale levers (both on by default when ``n_planes`` is omitted):

    * plane count derives from the corpus size (``derive_n_planes``) so
      expected bucket size tracks ``target_bucket_size`` at any N, instead
      of Σ|bucket|² degenerating toward N²/2^planes at a fixed count;
    * buckets that still exceed ``max_bucket_size`` (skew: near-identical
      vectors share a signature) are split into sub-buckets by a uniform
      id hash (``lsh_blocks`` — similarity-preserving hashes cannot
      redistribute near-identical vectors), and each row *reprobes* its
      Hamming-1 sub-buckets to widen its peer sample — pair work per
      bucket drops from count² to ~count·cap·(split_bits+1).  The default
      cap equals ``target_bucket_size``: duplicate-heavy corpora pile
      near-identical vectors into buckets a few × the target, and a
      looser cap (4×, round ≤4's default) left exactly those buckets
      unsplit — measured 2.4× time per 2× rows at sf1→sf2, vs 2.0× (and
      ~35 % faster absolute) with the cap at target.  For a bucket
      around the cap, split-plus-reprobe costs about what the unsplit
      bucket would (count·cap·2 ≈ count²), so healthy buckets don't pay.

    Passing ``n_planes`` explicitly (and leaving ``max_bucket_size`` None)
    reproduces the fixed-plane behavior exactly — the oracle-gated
    ``llm_knn_join`` query pins its plan that way.
    """
    if n_planes is None:
        # persist before the sizing count so deriving the plane count doesn't
        # re-run an expensive upstream plan that blocked_pairs reads again
        # (tracked; see release_persisted)
        embeddings = _track_persist(embeddings)
        n_planes = derive_n_planes(embeddings.count(), target_bucket_size)
        if max_bucket_size is None:
            max_bucket_size = target_bucket_size
    pairs = blocked_pairs(
        embeddings, n_planes, max_bucket_size, id_col, vec_col, ordered=False
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), "id_b")
    return pairs.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


#: Above this centroid count, IVF scoring switches from plan literals to a
#: broadcast-joined packed centroid array.  Literal plans win codegen only
#: at very small k: each centroid adds d literal nodes, and MEASURED at
#: k=64·d=64 the literal plan's Catalyst analysis alone cost ~9 s per query
#: (llm_ivf_auto 11.7 s literal vs 2.6 s packed at sf0.1) — far below the
#: 65k-centroid regime where the plan would be a multi-hundred-MB analysis
#: bottleneck.  The packed array is *data* shipped once per executor via a
#: broadcast hash join, with a stable plan shape codegen caches across
#: calls.  Both paths are bit-identical (shared oracles, tested).
_LITERAL_CENTROID_MAX = 16


def _centroid_rows(
    centroids: list[tuple[int, list[float]]],
) -> list[tuple[int, list[float], float]]:
    """(cid, vector, norm) rows; the norm is folded driver-side exactly as
    in ``_ivf_scored`` (same left fold over the same doubles, same IEEE
    sqrt), so both paths score with bit-identical centroid norms."""
    import math

    return [
        (
            int(cid),
            [float(x) for x in cv],
            math.sqrt(sum(float(x) * float(x) for x in cv)),
        )
        for cid, cv in centroids
    ]


def centroids_df(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Centroids as a DataFrame (cid, cv, cn) — the large-k carrier."""
    return spark.createDataFrame(
        _centroid_rows(centroids), "cid int, cv array<double>, cn double"
    )


def _with_bound_norm(col_name: str, build) -> Column:
    """Evaluate ``norm(col_name)`` ONCE per row and hand it to
    ``build(n)`` as a bound lambda variable (r14, guide §4.1): these
    scoring expressions are interpreted (HOF CodegenFallback), so a
    ``norm(x)`` embedded per centroid re-folds the row's d elements once
    per centroid reference — k× the dominant per-row cost.  Binding it
    through a 1-element ``transform`` keeps the IDENTICAL sequential
    fold (same doubles, same IEEE sqrt) while computing it once; the
    divisions then see bit-identical operands, so every cosine, rank
    and tie-break is unchanged."""
    return F.element_at(F.transform(F.array(norm(F.col(col_name))), build), 1)


def _least_d2_struct(k: int) -> Column:
    """Lexicographic argmin over the k per-codeword distance columns
    ``_d0.._d{k-1}``: least() over (d2, j) structs — the exact
    tie-to-lowest-j total order every PQ/ADC oracle pins.  Guards the
    degenerate k == 1 case (PySpark ``least`` requires ≥ 2 columns —
    ADVICE r14), where the single struct IS the minimum."""
    cols = [
        F.struct(F.col(f"_d{j}").alias("d2"), F.lit(j).cast("long").alias("j"))
        for j in range(k)
    ]
    return cols[0] if k == 1 else F.least(*cols)


def _with_centroids_packed(df: DataFrame, cdf: DataFrame) -> DataFrame:
    """Attach every row a ``_cents`` column: the full centroid set packed
    into one array<struct<cid,cv,cn>> row, delivered via BroadcastExchange
    (Catalyst folds the constant join key, planning a
    BroadcastNestedLoopJoin whose build side is exactly one row — a free
    per-row append, no hashing needed) — centroids travel as data, never
    as plan literals."""
    packed = (
        cdf.groupBy()
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("cid"), F.col("cv"), F.col("cn")))
            ).alias("_cents")
        )
        .withColumn("_ck", F.lit(1))
    )
    return df.withColumn("_ck", F.lit(1)).join(F.broadcast(packed), "_ck").drop("_ck")


def _scored_packed(vec_col: str) -> Column:
    """(cosine, cid) struct array from the packed ``_cents`` column — the
    same fold, division, and struct shape as ``_ivf_scored``, so the two
    paths are bit-identical and share one oracle.  Row norm bound once
    (``_with_bound_norm``)."""
    return _with_bound_norm(
        vec_col,
        lambda n: F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                (dot(F.col(vec_col), s["cv"]) / (n * s["cn"])).alias("c"),
                s["cid"].alias("cid"),
            ),
        ),
    )


def ivf_cells(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    max_literal_centroids: int | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid.

    ``centroids`` is a driver-side list — a coarse quantizer is a *model
    parameter*.  Small quantizers (≤ ``max_literal_centroids``, default
    ``_LITERAL_CENTROID_MAX``) are baked into the plan as literals:
    assignment stays a pure projection — no shuffle, no join, whole-stage
    codegen.  Above the threshold the centroids ship as a broadcast-joined
    packed array instead (``_with_centroids_packed``): a 65k-centroid
    quantizer as literals would be a multi-hundred-MB Catalyst plan that
    chokes analysis long before execution, while as broadcast data it costs
    one executor-side copy.  Both paths compute identical doubles
    (same folds, driver-folded norms) and share the same oracles.
    Tie-break: highest cosine, then highest centroid id (struct-max
    ordering, mirrored in oracles by ``ORDER BY c DESC, cid DESC``).
    """
    limit = (
        _LITERAL_CENTROID_MAX if max_literal_centroids is None else max_literal_centroids
    )
    if len(centroids) <= limit:
        return embeddings.withColumn(
            "cell", F.array_max(_ivf_scored(vec_col, centroids))["cid"]
        )
    cdf = centroids_df(embeddings.sparkSession, centroids)
    return (
        _with_centroids_packed(embeddings, cdf)
        .withColumn("cell", F.array_max(_scored_packed(vec_col))["cid"])
        .drop("_cents")
    )


def ivf_cells_from_df(
    embeddings: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse assignment with the quantizer as a DATAFRAME — the
    large-quantizer carrier (VERDICT r08 #3): a derived √N quantizer at
    100 TB exceeds any driver-collect or plan-literal budget, so here the
    centroids never round-trip through the driver at all.  ``centroids_df``
    is (cid int, cv array) — typically a filter/aggregate over the corpus
    itself; norms are attached with the same in-plan left fold the literal
    path folds driver-side (identical doubles), the set packs into ONE
    broadcast row (``_with_centroids_packed``) and assignment is the same
    ``_scored_packed`` projection ``ivf_cells`` uses above its literal
    threshold — both carriers are bit-identical and share one oracle.
    Tie-break: highest cosine, then highest centroid id."""
    cdf = centroids_df.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("cv"),
        norm(F.col("cv")).alias("cn"),
    )
    return (
        _with_centroids_packed(embeddings, cdf)
        .withColumn("cell", F.array_max(_scored_packed(vec_col))["cid"])
        .drop("_cents")
    )


def derive_super_g(k: int) -> int:
    """Level-1 fan-out for the two-level coarse quantizer: 2^⌈log2 √k⌉
    clamped to [1, k] — per-row assignment work drops from k cosines to
    ≈ g + k/g ≈ 2√k (the IMI / quantizer-on-quantizer balance point).
    Mirrored digit-for-digit by the two-level oracles (POW/CEIL/LOG2/SQRT
    over the same k)."""
    import math

    if k <= 1:
        return 1
    return min(k, max(1, 2 ** math.ceil(math.log2(math.sqrt(k)))))


def _super_of(col_name: str) -> Column:
    """Level-1 descent step: argmax cosine over the packed ``_supers``
    array (ties: highest cosine, then highest super id — the struct-max
    order every quantizer in this module uses)."""
    return F.array_max(
        _with_bound_norm(
            col_name,
            lambda n: F.transform(
                F.col("_supers"),
                lambda s: F.struct(
                    (dot(F.col(col_name), s["scv"]) / (n * s["scn"])).alias("c"),
                    s["scid"].alias("cid"),
                ),
            ),
        )
    )["cid"]


def _supers_ranked(col_name: str, s: int) -> Column:
    """Level-1 descent, multi-probe form: the top-``s`` (cosine, super
    id) structs in descending struct order — the same (highest cosine,
    then highest id) rank ``_super_of`` takes the max of, so element 0
    is exactly the single-probe super."""
    scored = _with_bound_norm(
        col_name,
        lambda n: F.transform(
            F.col("_supers"),
            lambda x: F.struct(
                (dot(F.col(col_name), x["scv"]) / (n * x["scn"])).alias("c"),
                x["scid"].alias("cid"),
            ),
        ),
    )
    return F.slice(F.reverse(F.array_sort(scored)), 1, s)


def two_level_quantizer(
    centroids_df: DataFrame,
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """The two-level quantizer's parts, shared by assignment
    (``ivf_cells_2level``) and query-side probing (the 2-level ANN
    gate): ``(supers, spacked, cents_assigned)`` where supers is the
    g = 2^⌈log2 √k⌉ prefix of the centroids (scid, scv, scn), spacked
    packs them into one broadcastable row, and cents_assigned carries
    every centroid with its level-1 ``super`` assignment (k rows —
    model-size, never collected)."""
    cdf = centroids_df.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("cv"),
        norm(F.col("cv")).alias("cn"),
    )
    k = cdf.count()
    g = derive_super_g(int(k))
    supers = cdf.filter(F.col("cid") < g).select(
        F.col("cid").alias("scid"),
        F.col("cv").alias("scv"),
        F.col("cn").alias("scn"),
    )
    spacked = (
        supers.groupBy()
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("scid"), F.col("scv"), F.col("scn")))
            ).alias("_supers")
        )
        .withColumn("_sk", F.lit(1))
    )
    # level-1 assignment of the CENTROIDS themselves (k rows — tiny)
    cents_assigned = (
        cdf.withColumn("_sk", F.lit(1))
        .join(F.broadcast(spacked), "_sk")
        .withColumn("super", _super_of("cv"))
        .drop("_sk", "_supers")
    )
    return supers, spacked, cents_assigned


def ivf_cells_2level(
    embeddings: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
    nprobe_super: int = 1,
) -> DataFrame:
    """HIERARCHICAL IVF coarse assignment (FAISS's quantizer-on-quantizer
    / inverted-multi-index idea): instead of scoring all k centroids per
    row — the N·k·d term that makes flat assignment N^1.5 under √N
    quantizer sizing (measured 2.05×/2× at sf2→sf4 even with capped
    pairs) — descend a 2-level tree: argmax over g = 2^⌈log2 √k⌉
    SUPER-centroids (the centroids with cid < g, the same deterministic
    prefix rule that picks the centroids from the corpus), then argmax
    over only that super's centroids.  Per-row work ≈ (g + k/g)·d ≈
    2√k·d — at the 65536-centroid clamp that is 512 cosines instead of
    65536.

    The descent is an APPROXIMATION of the flat argmax: a vector whose
    true nearest centroid lives under a different super-centroid lands
    in a neighboring cell (the standard IVF-tree recall trade).
    ``nprobe_super`` recovers it the way FAISS IMI deployments do:
    descend the top-s supers (ranked by the same cosine/struct order)
    and argmax over the UNION of their leaf sets — per-row work
    ≈ (g + s·k/g)·d, still ≈ (1+s)√k·d, and the s=1 default is the
    original single-probe descent value-for-value.  For dedup blocking
    the consequence is the same bounded-recall trade the cell cap
    already makes; the two-level gate pins actual assignment values
    with its own oracle rather than claiming flat-assign parity.

    A super whose leaf set is EMPTY (possible under float cosine ties:
    a super-centroid whose own level-1 argmax lands on a parallel
    higher-id super strips it of every leaf, while a nearby vector can
    still strictly prefer it) must not drop rows — the leaf join is a
    LEFT join and the cell falls back to the top super's own id, which
    IS a centroid (cid < g).  The SQL twin carries the same LEFT
    JOIN + COALESCE.

    Every fold (cosine, tie-breaks: highest cosine then highest id at
    BOTH levels) matches ``_scored_packed``, so the SQL twin reproduces
    the descent bit-for-bit.  Centroids never touch the driver: the
    super set packs into one broadcast row; the per-super leaf arrays
    ride g-row broadcast hash joins keyed on the probed super ids."""
    s = max(1, int(nprobe_super))
    supers, spacked, cents_assigned = two_level_quantizer(centroids_df)
    leaf_packed = cents_assigned.groupBy("super").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cid"), F.col("cv"), F.col("cn")))
        ).alias("_leaves")
    )
    v = (
        embeddings.withColumn("_sk", F.lit(1))
        .join(F.broadcast(spacked), "_sk")
        .withColumn("_sups", _supers_ranked(vec_col, s))
        .drop("_sk", "_supers")
    )
    leaf_arrays = []
    for i in range(s):
        lp = F.broadcast(
            leaf_packed.select(
                F.col("super").alias(f"_s{i}"), F.col("_leaves").alias(f"_lv{i}")
            )
        )
        v = v.join(lp, F.get(F.col("_sups"), i)["cid"] == F.col(f"_s{i}"), "left")
        leaf_arrays.append(F.col(f"_lv{i}"))
    # union of the probed supers' leaf sets (disjoint by construction:
    # each centroid has exactly one level-1 assignment)
    pooled = F.flatten(F.array_compact(F.array(*leaf_arrays)))
    leaf_cell = F.array_max(
        _with_bound_norm(
            vec_col,
            lambda n: F.transform(
                pooled,
                lambda x: F.struct(
                    (dot(F.col(vec_col), x["cv"]) / (n * x["cn"])).alias("c"),
                    x["cid"].alias("cid"),
                ),
            ),
        )
    )["cid"]
    probe_cols = [f"_s{i}" for i in range(s)] + [f"_lv{i}" for i in range(s)]
    return (
        v.withColumn(
            "cell", F.coalesce(leaf_cell, F.get(F.col("_sups"), 0)["cid"])
        )
        .drop("_sups", *probe_cols)
    )


def _ivf_scored(
    vec_col: str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Array of (cosine-to-centroid, centroid-id) structs, one per centroid
    — struct ordering makes array_max/array_sort rank by (c, cid).

    Centroid norms are folded driver-side into plan literals: Python's
    ``sum`` is the same left fold over the same doubles as the engine's
    ``aggregate``/``list_reduce``, and ``math.sqrt`` is the same correctly-
    rounded IEEE sqrt, so the literal is bit-identical to the in-plan
    ``norm(cv)`` the oracles compute — while saving one interpreted fold
    per centroid per row (training runs several scoring passes)."""
    import math

    return _with_bound_norm(
        vec_col,
        lambda n: F.array(
            *[
                F.struct(
                    (
                        dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in cv]))
                        / (n * F.lit(math.sqrt(sum(float(x) * float(x) for x in cv))))
                    ).alias("c"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cv in centroids
            ]
        ),
    )


def ivf_probe_cells(
    vec_col: str, centroids: list[tuple[int, list[float]]], nprobe: int
) -> Column:
    """The nprobe nearest cells for a vector, best first (desc by cosine,
    then centroid id — exactly ``ivf_cells``'s tie-break, so element 0 is
    the assignment cell)."""
    ranked = F.reverse(F.array_sort(_ivf_scored(vec_col, centroids)))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def with_probe_cells(
    query_vec: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "qv",
    out_col: str = "q_cell",
    max_literal_centroids: int | None = None,
) -> DataFrame:
    """Explode each query row into its ``nprobe`` nearest cells, dispatching
    between the literal plan (small quantizer) and the broadcast packed-array
    plan (large quantizer) exactly like ``ivf_cells`` — the ranking
    (cosine desc, cid desc) and therefore the probed cells are identical on
    both paths."""
    limit = (
        _LITERAL_CENTROID_MAX if max_literal_centroids is None else max_literal_centroids
    )
    if len(centroids) <= limit:
        return query_vec.withColumn(
            out_col, F.explode(ivf_probe_cells(vec_col, centroids, nprobe))
        )
    cdf = centroids_df(query_vec.sparkSession, centroids)
    ranked = F.reverse(F.array_sort(_scored_packed(vec_col)))
    return (
        _with_centroids_packed(query_vec, cdf)
        .withColumn(
            out_col,
            F.explode(F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])),
        )
        .drop("_cents")
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer: distributed Lloyd iterations
    (spherical k-means — cosine assignment, matching ``ivf_cells``).

    * init: the k vectors with smallest md5(id) — a deterministic
      pseudorandom draw, no RNG state;
    * assign: ``ivf_cells`` with the current centroids as plan literals
      (narrow projection, no shuffle);
    * update: per-(cell, dim) mean via posexplode + exact decimal
      accumulation — order-independent, so retraining at any partitioning
      gives bit-identical centroids; only k·d aggregate rows ever reach the
      driver (model-size, like the centroids themselves).  Passing ``init``
      (e.g. the n_iter=0 seed) skips the seeding job — continuing training
      from an earlier quantizer costs no re-seed scan.  Cosine
      assignment is scale-invariant, so the unnormalized mean is the
      spherical-k-means centroid direction and the usual monotone-objective
      argument applies (avg assigned cosine never decreases — asserted in
      tests).  Empty cells keep their previous centroid.
    """
    if init is not None:
        cents = [(int(cid), [float(x) for x in cv]) for cid, cv in init]
    else:
        seed_rows = (
            embeddings.withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .orderBy("_h", id_col)
            .limit(k)
            .select(vec_col)
            .collect()
        )
        cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seed_rows)]
    for _ in range(n_iter):
        # packed (broadcast-data) assignment: the expression tree is
        # IDENTICAL every iteration — only the broadcast rows change — so
        # Catalyst analysis + whole-stage codegen are paid once, not per
        # Lloyd pass (literal centroids re-plan and re-compile each pass;
        # measured ~0.4 s/pass overhead at k=8·d=64).  Bit-identical to the
        # literal path (same folds, driver-folded norms).
        assigned = ivf_cells(embeddings, cents, vec_col, max_literal_centroids=0)
        stats = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("v").cast("decimal(30,12)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for row in stats:
            by_cell.setdefault(int(row["cell"]), {})[int(row["pos"])] = float(
                row["s"]
            ) / int(row["n"])
        cents = [
            (
                cid,
                [by_cell[cid][p] for p in sorted(by_cell[cid])]
                if cid in by_cell
                else old,
            )
            for cid, old in cents
        ]
    return cents


def training_report(
    embeddings: DataFrame,
    init: list[tuple[int, list[float]]],
    trained: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    max_literal_centroids: int | None = None,
) -> tuple[int, int, float, float]:
    """One-pass training audit: (n_vectors, cells_used_by_trained,
    avg_assigned_cosine_init, avg_assigned_cosine_trained).

    Scoring both quantizers in the same projection halves the number of
    full scans the invariant gate needs (vs one ``avg_assigned_cosine``
    per quantizer plus separate count/distinct jobs) — four probes, one
    job.  Same fold arithmetic as ``ivf_cells``/``avg_assigned_cosine``.
    """
    limit = (
        _LITERAL_CENTROID_MAX if max_literal_centroids is None else max_literal_centroids
    )
    if max(len(init), len(trained)) <= limit:
        scored = embeddings.select(
            F.array_max(_ivf_scored(vec_col, init))["c"].alias("_b0"),
            F.array_max(_ivf_scored(vec_col, trained)).alias("_s1"),
        )
    else:
        spark = embeddings.sparkSession
        both = _with_centroids_packed(embeddings, centroids_df(spark, init))
        both = both.withColumnRenamed("_cents", "_cents0")
        both = _with_centroids_packed(both, centroids_df(spark, trained))
        scored = both.select(
            F.array_max(
                F.transform(
                    F.col("_cents0"),
                    lambda s: F.struct(
                        (dot(F.col(vec_col), s["cv"]) / (norm(F.col(vec_col)) * s["cn"])).alias("c"),
                        s["cid"].alias("cid"),
                    ),
                )
            )["c"].alias("_b0"),
            F.array_max(_scored_packed(vec_col)).alias("_s1"),
        )
    (row,) = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("_s1")["cid"]).alias("cells"),
        F.avg("_b0").alias("obj0"),
        F.avg(F.col("_s1")["c"]).alias("obj1"),
    ).collect()
    return int(row["n"]), int(row["cells"]), float(row["obj0"]), float(row["obj1"])


def avg_assigned_cosine(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    max_literal_centroids: int | None = None,
) -> float:
    """Mean cosine between each vector and its assigned centroid — the
    spherical-k-means objective (higher = tighter cells)."""
    limit = (
        _LITERAL_CENTROID_MAX if max_literal_centroids is None else max_literal_centroids
    )
    if len(centroids) <= limit:
        scored = embeddings.select(
            F.array_max(_ivf_scored(vec_col, centroids))["c"].alias("_best")
        )
    else:
        scored = _with_centroids_packed(
            embeddings, centroids_df(embeddings.sparkSession, centroids)
        ).select(F.array_max(_scored_packed(vec_col))["c"].alias("_best"))
    (row,) = scored.agg(F.avg("_best").alias("obj")).collect()
    return float(row["obj"])


def knn_ivf(
    embeddings: DataFrame,
    query_vec: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    max_literal_centroids: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: exact cosine restricted to the query's ``nprobe``
    nearest cells.  The inverted-file analogue of `knn_lsh` — at rest,
    partition or bucket the corpus by ``cell`` so a probe reads nprobe
    cells' files only.  nprobe > 1 trades proportional scan cost for
    recall (candidates are a superset of nprobe=1 — cell-boundary misses
    land in the next-nearest cell); each corpus vector lives in exactly
    one cell, so probing N cells never duplicates a candidate.
    ``max_literal_centroids`` tunes the literal-vs-broadcast quantizer
    dispatch (see ``ivf_cells``); results are bit-identical either way."""
    cells = ivf_cells(embeddings, centroids, vec_col, max_literal_centroids)
    q = with_probe_cells(
        query_vec, centroids, nprobe, "qv", "q_cell", max_literal_centroids
    )
    joined = cells.join(
        F.broadcast(_with_qnorm(q)), F.col("cell") == F.col("q_cell")
    )
    sim = _qnorm_cosine(vec_col)
    out = joined.select(F.col(id_col), sim.alias("cos_sim"))
    if "q_id" in query_vec.columns:
        out = joined.filter(F.col(id_col) != F.col("q_id")).select(
            F.col(id_col), sim.alias("cos_sim")
        )
    return out.orderBy(F.desc("cos_sim"), id_col).limit(k)


def knn_lsh(
    embeddings: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: restrict the scan to the query's LSH bucket, then exact
    cosine within it.  Recall < 1 by construction (bucket boundary misses);
    multi-probe = union over neighboring buckets if needed."""
    with_bucket = embeddings.withColumn("bucket", lsh_signature(F.col(vec_col), n_planes))
    q = query_vec.withColumn("q_bucket", lsh_signature(F.col("qv"), n_planes))
    joined = with_bucket.join(
        F.broadcast(_with_qnorm(q)), F.col("bucket") == F.col("q_bucket")
    )
    sim = _qnorm_cosine(vec_col)
    out = joined.select(F.col(id_col), sim.alias("cos_sim"))
    if "q_id" in query_vec.columns:
        out = joined.filter(F.col(id_col) != F.col("q_id")).select(
            F.col(id_col), sim.alias("cos_sim")
        )
    return out.orderBy(F.desc("cos_sim"), id_col).limit(k)


def embedding_dim_stats(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension corpus statistics (n, mean, variance, min, max) —
    the preprocessing pass behind embedding centering/whitening before
    ANN indexing or quantizer training.

    One posexplode + one groupBy(dim): d·P partial rows, d output rows
    (model-size).  Determinism: values are quantized to 1e-7 fixed point
    (float32's own decimal precision) with FLOOR — a tie-free rounding both
    engines implement identically, unlike decimal-cast HALF_UP/HALF_EVEN
    divergence on arbitrary doubles — and the quantized integers accumulate
    exactly in DECIMAL(38,0), so sums are bit-identical at any partitioning
    and in any engine.  iv² ≤ 1e14 stays exactly representable pre-sum.
    The variance is the one-pass E[x²]−E[x]² form on those exact sums,
    every double op mirrored in the oracle SQL; min/max use the raw values
    (no accumulation, no rounding site).
    """
    x = F.col("v").cast("double")
    iv = F.floor(x * F.lit(10000000.0))  # long; exact fixed-point value·1e7
    per_dim = (
        embeddings.select(F.posexplode(F.col(vec_col)).alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(iv.cast("decimal(38,0)")).alias("_s"),
            F.sum((iv * iv).cast("decimal(38,0)")).alias("_sq"),
            F.min(x).alias("min_v"),
            F.max(x).alias("max_v"),
        )
    )
    mean = (
        F.col("_s").cast("double") / F.lit(10000000.0)
    ) / F.col("n").cast("double")
    ex2 = (
        F.col("_sq").cast("double") / F.lit(100000000000000.0)
    ) / F.col("n").cast("double")
    return per_dim.select(
        "dim",
        "n",
        mean.alias("mean_v"),
        (ex2 - mean * mean).alias("var_v"),
        "min_v",
        "max_v",
    )


def derive_ivf_k(n_rows: int) -> int:
    """Coarse-quantizer size from corpus size: 2^ceil(log2(sqrt(N))) —
    the standard k ≈ √N IVF sizing rounded up to a power of two — clamped
    to [4, 65536].  At 100 TB (~10¹⁰ vectors) this yields ~65k centroids,
    exactly the regime the broadcast-packed scoring path exists for
    (``_LITERAL_CENTROID_MAX`` dispatch).  Mirrored digit-for-digit by the
    ``llm_ivf_auto`` oracle (LEAST/GREATEST/POW/CEIL/LOG2/SQRT over the
    same COUNT), so the sizing rule itself is value-gated cross-engine.
    """
    import math

    if n_rows <= 1:
        return 4
    return min(65536, max(4, 2 ** math.ceil(math.log2(math.sqrt(n_rows)))))


def top_principal_direction(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    iters: int = 4,
    x_scale: int = 10**6,
    v_scale: int = 1 << 14,
) -> "list[int]":
    """Top principal direction of the (uncentered) embedding Gram matrix
    by MATRIX-FREE power iteration: v ← Σ_rows x·(x·v), renormalized each
    round — the d×d matrix is never materialized, so the pass scales to
    any corpus (each round = one narrow per-row fold + ONE groupBy(dim)
    shuffle producing d rows; cost is iters passes over the data, the same
    multi-pass shape as the IVF Lloyd trainer).

    Every step is EXACT integer arithmetic, so the result is
    bit-reproducible at any partitioning and in any engine:

    * x quantizes to ⌊x·1e6⌋ (requires |x| ≤ 2 — embeddings are
      ~unit-norm; same documented bound style as ``embedding_dim_stats``),
    * v is integer-valued with ‖v‖∞ = 2¹⁴, so the per-row score fold
      stays under 2⁶³; the xq·s product multiplies through DECIMAL(38,0)
      (matching the oracle's HUGEINT), so an embedding that violates the
      |x| ≤ 2 bound diverges identically in both engines instead of
      wrapping silently only on the Spark side (ADVICE r06 #3),
    * per-dim sums accumulate in DECIMAL(38,0) (DuckDB: HUGEINT),
    * renormalization is integer: v_j ← sign(z_j)·(|z_j|·2¹⁴ ÷ max|z|)
      with division applied to NON-NEGATIVES only (Python floors toward
      −∞, SQL truncates toward 0 — they agree exactly on ≥ 0).

    Returns the final fixed-point direction as a Python list of d ints
    (model-size driver state, like the IVF centroid collects); the gated
    query re-emits it as a (dim, v_fp) frame against an unrolled-round
    SQL oracle.

    r15 (VERDICT r14 #4): delegates to ``_power_rounds`` — the shared
    loop this function's body was factored into in r14, whose d ≤ 512
    Gram shortcut replaces the iters interpreted zip_with scans with ONE
    codegen Gram pass + driver math.  The v sequence is bit-identical
    (Gram-path equivalence pinned by ``principal_directions`` tests and
    the unrolled-round oracles of every consumer)."""
    xq_arr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    base = _track_persist(embeddings.select(xq_arr.alias("xq")))
    return _power_rounds(base, iters, v_scale)


def second_principal_direction(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    iters: int = 4,
    x_scale: int = 10**6,
    v_scale: int = 1 << 14,
    v2_scale: int = 1 << 12,
) -> "tuple[list[int], list[int]]":
    """Second principal direction by DEFLATION, still exact-integer: run
    ``top_principal_direction`` for v₁, project every row onto v₁'s
    orthogonal complement IN INTEGERS —

        x⊥_j = x_j·(v₁ᵀv₁) − v₁_j·(v₁ᵀx),  requantized by ÷(v₁ᵀv₁)

    (sign-split truncating division, so Python//SQL agree; both products
    multiply through DECIMAL(38,0), matching the oracle's HUGEINT —
    ADVICE r06 #3) — then run the same power rounds on the deflated rows
    at a narrower v₂ scale (2¹²) chosen so the per-row score fold stays
    under 2⁶³ (deflated entries can reach ~2·x_scale·‖x‖∞).  Deflation is a NARROW per-row projection — no new
    shuffle class; total cost 2·iters scans + one ``first()``.

    Returns (v1_fp, v2_fp) at scales (2¹⁴, 2¹²).  v₂ ⊥ v₁ up to
    quantization (integer-exact orthogonality is tested to ≤ 1e-3
    relative).

    r15 (VERDICT r14 #4): delegates to the shared
    ``_power_rounds``/``_deflate_base`` pair — bit-identical by
    construction (``principal_directions(k=2)`` reproduces this function
    exactly, tested, and IT was already built on the shared pair), so
    both chains ride the d ≤ 512 Gram shortcut instead of 2·iters
    interpreted zip_with scans; the only remaining interpreted pass is
    the deflation projection itself (one narrow pass)."""
    xq_arr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    base = _track_persist(embeddings.select(xq_arr.alias("xq")))
    v1 = _power_rounds(base, iters, v_scale)
    base2 = _deflate_base(base, v1)
    vs = _power_rounds(base2, iters, v2_scale)
    return [int(v) for v in v1], [int(v) for v in vs]


# Above this dimensionality the one-pass Gram shortcut in _power_rounds
# would collect d² driver entries (no longer model-size); wider frames
# keep the original d-rows-per-round collect.
_POWER_GRAM_MAX_D = 512


def _power_rounds(base: DataFrame, iters: int, v_scale: int) -> "list[int]":
    """The shared matrix-free power-iteration loop over a quantized base
    frame (single ``xq array<bigint>`` column) — the exact-integer round
    of ``top_principal_direction``, factored out so the k-component
    generalization (``principal_directions``) chains it per deflation
    level.  Same arithmetic contract: long score fold, DECIMAL(38,0)
    per-dim sums (≡ oracle HUGEINT), sign-split integer renormalization
    to ‖v‖∞ = ``v_scale``."""
    _probe = base.select("xq").first()
    if _probe is None:
        raise ValueError(
            "power iteration needs a non-empty embeddings frame (ADVICE r07)"
        )
    d = len(_probe["xq"])
    spark = base.sparkSession
    vs = [v_scale] * d
    if d <= _POWER_GRAM_MAX_D:
        # One Gram pass, then every round is driver math (r14): the
        # round's z = Σ_rows x·(xᵀv) distributes over the row sum as
        # z = G·v with G[i][j] = Σ_rows x_i·x_j — all EXACT integers
        # (decimal sums distributed, unbounded Python ints on the
        # driver), so the v sequence is bit-identical to the
        # scan-per-round form while paying ONE codegen'd job instead of
        # ``iters`` interpreted zip_with scans (the per-row s fold was
        # a CodegenFallback HOF — measured ~5 s of llm_pq_recall_opq at
        # sf0.1).  Guarded by d: G is d² driver entries, model-size
        # only for moderate d; wider frames keep the d-row-per-round
        # collect below.
        # upper triangle only (r14): G is symmetric with EXACTLY equal
        # mirrored entries (x_i·x_j = x_j·x_i — integer multiplication
        # commutes), so slicing the inner explode to positions ≥ _i
        # halves the Generate/aggregate work and the driver mirrors the
        # dict — bit-identical to the full d² pass.
        lefts = base.select(F.posexplode("xq").alias("_i", "_xi"), F.col("xq"))
        g_rows = (
            lefts.select(
                "_i",
                "_xi",
                F.posexplode(
                    F.slice(F.col("xq"), F.col("_i") + 1, F.lit(d))
                ).alias("_j0", "_xj"),
            )
            .groupBy("_i", "_j0")
            .agg(F.sum(F.col("_xi").cast("decimal(38,0)") * F.col("_xj")).alias("g"))
            .collect()
        )
        gram: dict = {}
        for r in g_rows:
            i, j, g = int(r["_i"]), int(r["_i"]) + int(r["_j0"]), int(r["g"])
            gram[(i, j)] = g
            gram[(j, i)] = g
        for _ in range(iters):
            z = {
                i: sum(gram.get((i, j), 0) * vs[j] for j in range(d))
                for i in range(d)
            }
            mz = max(abs(v) for v in z.values())
            if mz == 0:
                break
            vs = [
                (1 if z.get(j, 0) >= 0 else -1)
                * ((abs(z.get(j, 0)) * v_scale) // mz)
                for j in range(d)
            ]
        return [int(v) for v in vs]
    for _ in range(iters):
        vrow = spark.createDataFrame([([int(v) for v in vs],)], "v array<bigint>")
        s = F.aggregate(
            F.zip_with(F.col("xq"), F.col("v"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )
        z_rows = (
            base.crossJoin(F.broadcast(vrow))
            .select(F.posexplode("xq").alias("dim", "x"), s.alias("s"))
            .groupBy("dim")
            .agg(F.sum(F.col("x").cast("decimal(38,0)") * F.col("s")).alias("z"))
            .collect()
        )
        z = {r["dim"]: int(r["z"]) for r in z_rows}
        mz = max(abs(v) for v in z.values())
        if mz == 0:
            break
        vs = [
            (1 if z.get(j, 0) >= 0 else -1) * ((abs(z.get(j, 0)) * v_scale) // mz)
            for j in range(d)
        ]
    return [int(v) for v in vs]


def _deflate_base(base: DataFrame, v: "list[int]") -> DataFrame:
    """Project a quantized base frame onto the orthogonal complement of
    ``v`` in exact integers — the deflation step of
    ``second_principal_direction``, factored out for the k-component
    loop: x⊥_j = (x_j·vᵀv − v_j·vᵀx) ÷ vᵀv with sign-split truncating
    requantization (products through DECIMAL(38,0) ≡ oracle HUGEINT)."""
    vv = sum(int(x) * int(x) for x in v)
    spark = base.sparkSession
    vrow = spark.createDataFrame([([int(x) for x in v],)], "dv array<bigint>")
    s_row = F.aggregate(
        F.zip_with(F.col("xq"), F.col("dv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    return _track_persist(
        base.crossJoin(F.broadcast(vrow))
        .select(F.col("xq").alias("_x0"), s_row.alias("_s"), F.col("dv"))
        .select(
            F.expr(
                f"transform(zip_with(_x0, dv, (xj, vj) -> xj * CAST({vv} AS DECIMAL(38,0))"
                " - vj * CAST(_s AS DECIMAL(38,0))), t -> CASE WHEN t >= 0 THEN"
                f" t div CAST({vv} AS BIGINT) ELSE -((-t) div CAST({vv} AS BIGINT))"
                " END)"
            ).alias("xq")
        )
    )


def principal_directions(
    embeddings: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    iters: int = 4,
    x_scale: int = 10**6,
    v_scale: int = 1 << 14,
) -> "list[list[int]]":
    """Top-k principal directions by repeated matrix-free power iteration
    with integer deflation (VERDICT r06 #6 — the k-component
    generalization of the gated 2-direction pair): component j runs
    ``_power_rounds`` on the j-times-deflated base at scale
    ``v_scale >> 2j`` (each deflation can roughly double entry
    magnitudes, so narrowing the direction scale 4× per level keeps every
    score fold under 2⁶³ — the same bound argument as
    ``second_principal_direction``; keep k ≤ 4 at these defaults, or
    widen x_scale headroom).  The d×d covariance is never materialized:
    total cost k·iters linear scans + k model-size collects.

    ``principal_directions(k=2)`` reproduces
    ``second_principal_direction`` exactly (tested), grounding the
    refactor in the two bit-gated single-direction queries."""
    xq_arr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    base = _track_persist(embeddings.select(xq_arr.alias("xq")))
    out: "list[list[int]]" = []
    for j in range(k):
        v = _power_rounds(base, iters, v_scale >> (2 * j))
        out.append(v)
        if j < k - 1:
            base = _deflate_base(base, v)
    return out


def pca_cells(
    embeddings: DataFrame,
    v1: "list[int]",
    v2: "list[int]",
    grid: int = 4,
    vec_col: str = "embedding",
    x_scale: int = 10**6,
) -> "tuple[DataFrame, dict]":
    """PCA-grid cell assignment — the 2-D projection of
    ``principal_directions`` as an AT-REST partitioning key (VERDICT r06
    #6): each vector's exact-integer coordinates (p1, p2) along the two
    leading directions are binned into a ``grid``×``grid`` equal-width
    grid, giving grid² cells that follow the corpus's highest-variance
    axes (where sign-LSH planes and IVF centroids are
    direction-agnostic).  Returns (frame + ``cell`` column, layout dict
    {lo1, w1, lo2, w2, grid} — the model-size metadata a deployment
    stores next to the directions so probes compute a query's cell
    driver-side without touching the corpus).

    Scale shape: two narrow per-row folds, one 4-scalar aggregate for the
    bounds (model-size collect), no shuffle.  Written
    ``partitionBy("cell")``, a probe prunes to ~1/grid² of the files
    (``tools/ann_at_rest_bench.py`` measures it next to the IVF layout;
    partition pruning plan-asserted in tests/test_bucketed_join.py)."""
    spark = embeddings.sparkSession
    vrow = spark.createDataFrame(
        [([int(x) for x in v1], [int(x) for x in v2])],
        "pv1 array<bigint>, pv2 array<bigint>",
    )
    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )

    def proj(vcol: str) -> Column:
        return F.aggregate(
            F.zip_with(xq, F.col(vcol), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )

    projected = _track_persist(
        embeddings.crossJoin(F.broadcast(vrow))
        .select("*", proj("pv1").alias("_p1"), proj("pv2").alias("_p2"))
        .drop("pv1", "pv2")
    )
    b = projected.agg(
        F.min("_p1").alias("lo1"),
        F.max("_p1").alias("hi1"),
        F.min("_p2").alias("lo2"),
        F.max("_p2").alias("hi2"),
    ).first()
    layout = {
        "lo1": int(b["lo1"]),
        "w1": max(1, (int(b["hi1"]) - int(b["lo1"])) // grid + 1),
        "lo2": int(b["lo2"]),
        "w2": max(1, (int(b["hi2"]) - int(b["lo2"])) // grid + 1),
        "grid": grid,
    }
    cell = (
        F.least(
            F.lit(grid - 1),
            F.expr(f"(_p1 - {layout['lo1']}) div {layout['w1']}"),
        )
        * grid
        + F.least(
            F.lit(grid - 1),
            F.expr(f"(_p2 - {layout['lo2']}) div {layout['w2']}"),
        )
    ).cast("long")
    return projected.select("*", cell.alias("cell")).drop("_p1", "_p2"), layout


def pca_cell_of(
    vec: "list[float]",
    v1: "list[int]",
    v2: "list[int]",
    layout: dict,
    x_scale: int = 10**6,
) -> int:
    """Driver-side cell id of one query vector under a ``pca_cells``
    layout — the same exact-integer quantize/project/bin arithmetic, so a
    probe can target its partition without any corpus access."""
    import math

    xq = [math.floor(float(x) * x_scale) for x in vec]
    p1 = sum(a * int(b) for a, b in zip(xq, v1))
    p2 = sum(a * int(b) for a, b in zip(xq, v2))
    g = layout["grid"]
    # corpus projections are ≥ lo by construction (lo = corpus min); an
    # out-of-range QUERY clamps into the edge cell from both sides.
    # Python // floors toward −∞ vs SQL div truncating toward 0 — they
    # agree exactly on the ≥ 0 operands the max(0, ·) guarantees.
    c1 = min(g - 1, max(0, p1 - layout["lo1"]) // layout["w1"])
    c2 = min(g - 1, max(0, p2 - layout["lo2"]) // layout["w2"])
    return int(c1 * g + c2)


def pca_cells_balanced(
    embeddings: DataFrame,
    v1: "list[int]",
    v2: "list[int]",
    grid: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    x_scale: int = 10**6,
) -> "tuple[DataFrame, dict]":
    """EQUAL-FREQUENCY PCA-grid cells — the skew-proof twin of
    ``pca_cells``: equal-WIDTH bins over a roughly-Gaussian projection
    concentrate most of the corpus in the central cells (measured: the
    probed cell held 13 % of bytes vs the ideal 6 % at grid 4 —
    BENCH_ann_at_rest.json), so per-axis bin boundaries here are EXACT
    order statistics instead: boundary i = the projection value at global
    rank ⌊i·N/grid⌋ (0-based), computed by the distributed
    ``with_global_rank`` (bucket exchange + model-size offset collect —
    no single-partition stage), giving ~N/grid rows per stripe and
    ~N/grid² per cell REGARDLESS of the projection's distribution.

    Cell id: (#bounds1 < p1)·grid + (#bounds2 < p2) — strict-less
    counting over grid−1 broadcast literals per axis, ties sticking to
    the lower cell in both engines.  Layout dict carries the boundary
    lists (model-size) so ``pca_cell_of_balanced`` bins a query
    driver-side with identical arithmetic."""
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )

    spark = embeddings.sparkSession
    vrow = spark.createDataFrame(
        [([int(x) for x in v1], [int(x) for x in v2])],
        "pv1 array<bigint>, pv2 array<bigint>",
    )
    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )

    def proj(vcol: str) -> Column:
        return F.aggregate(
            F.zip_with(xq, F.col(vcol), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )

    projected = _track_persist(
        embeddings.crossJoin(F.broadcast(vrow))
        .select("*", proj("pv1").alias("_p1"), proj("pv2").alias("_p2"))
        .drop("pv1", "pv2")
    )

    def bounds(col: str) -> "list[int]":
        ranked = with_global_rank(projected.select(col, id_col), [col, id_col])
        cond = None
        for i in range(1, grid):
            eq = F.col("_rank0") == F.expr(f"CAST({i} * _total div {grid} AS BIGINT)")
            cond = eq if cond is None else (cond | eq)
        return sorted(int(r[col]) for r in ranked.filter(cond).select(col).collect())

    layout = {"bounds1": bounds("_p1"), "bounds2": bounds("_p2"), "grid": grid}

    def cell_expr(col: str, bs: "list[int]") -> Column:
        c = F.lit(0)
        for b in bs:
            c = c + F.when(F.col(col) > F.lit(int(b)), 1).otherwise(0)
        return c

    cell = (
        cell_expr("_p1", layout["bounds1"]) * grid
        + cell_expr("_p2", layout["bounds2"])
    ).cast("long")
    return projected.select("*", cell.alias("cell")).drop("_p1", "_p2"), layout


def pca_cell_of_balanced(
    vec: "list[float]",
    v1: "list[int]",
    v2: "list[int]",
    layout: dict,
    x_scale: int = 10**6,
) -> int:
    """Driver-side cell id under a ``pca_cells_balanced`` layout — count
    boundaries strictly below each projection, same arithmetic as the
    executor-side expression."""
    import math

    xq = [math.floor(float(x) * x_scale) for x in vec]
    p1 = sum(a * int(b) for a, b in zip(xq, v1))
    p2 = sum(a * int(b) for a, b in zip(xq, v2))
    c1 = sum(1 for b in layout["bounds1"] if p1 > b)
    c2 = sum(1 for b in layout["bounds2"] if p2 > b)
    return int(c1 * layout["grid"] + c2)


def pca_grid_neighbor_cells(cell: int, grid: int) -> "list[int]":
    """The 3×3 neighborhood of a PCA-grid cell (clamped at the grid
    edges) — the grid analogue of sign-LSH's Hamming-1 multi-probe:
    boundary misses (true neighbors just across a bin edge) are the
    dominant recall loss of a single-cell probe, and the 2-D grid makes
    "adjacent" literal.  ≤ 9 cells at any grid size, so a multi-probe
    still prunes to ≤ 9/grid² of the at-rest files."""
    c1, c2 = divmod(int(cell), grid)
    return sorted(
        {
            (c1 + d1) * grid + (c2 + d2)
            for d1 in (-1, 0, 1)
            for d2 in (-1, 0, 1)
            if 0 <= c1 + d1 < grid and 0 <= c2 + d2 < grid
        }
    )


def gram_upper(
    embeddings: DataFrame, vec_col: str = "embedding", x_scale: int = 10**6
) -> DataFrame:
    """Exact quantized Gram matrix, upper triangle: (i, j, g) with
    g = Σ_rows xq_i·xq_j in DECIMAL(38,0) — the ONE-SCAN full-PCA path
    for model-size dimensionality: at d = 64 the d(d+1)/2 = 2080 upper
    entries are a model-size aggregate (like IVF centroids), so the whole
    spectrum comes from a single pass + a driver-side eigh, where the
    matrix-free power iteration (``top_principal_direction``) exists for
    the d²-too-big regime and pays k·iters scans.  Choose by d:
    Gram when d² ≪ executor memory, power iteration otherwise — both are
    exact-integer and cross-engine reproducible.

    Shape: one narrow scan; each row emits its d(d+1)/2 upper-triangle
    products via a nested array transform (no self-join, no per-row
    shuffle), then ONE groupBy on (i, j) with 2080 keys — map-side
    combine absorbs the row dimension, so shuffle traffic is
    partitions × 2080 regardless of corpus size.  Mergeable trivially:
    Gram(A ∪ B) = Gram(A) + Gram(B) entrywise (decimal sums)."""
    xq_arr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    prods = F.expr(
        "flatten(transform(sequence(0, size(xq) - 1), i -> "
        "transform(sequence(i, size(xq) - 1), j -> "
        "struct(i AS i, j AS j, CAST(xq[i] AS DECIMAL(38,0)) * xq[j] AS p))))"
    )
    return (
        embeddings.select(xq_arr.alias("xq"))
        .select(F.explode(prods).alias("e"))
        .groupBy(
            F.col("e.i").cast("long").alias("i"),
            F.col("e.j").cast("long").alias("j"),
        )
        .agg(F.sum("e.p").alias("g"))
    )


def full_pca_directions(
    embeddings: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    x_scale: int = 10**6,
) -> "list[list[float]]":
    """Top-k eigenvectors of the exact Gram matrix (``gram_upper`` one
    scan → driver-side ``numpy.linalg.eigh`` on the model-size d×d) —
    the d²-small full-spectrum alternative to the iterative
    ``principal_directions`` (agreement on planted spectra tested).
    Floats by nature (eigh), so this path feeds analysis/bucketing, not
    bit-gated queries — the Gram ENTRIES are what the oracle gates."""
    import numpy as np

    rows = gram_upper(embeddings, vec_col, x_scale).collect()
    d = max(int(r["j"]) for r in rows) + 1
    G = np.zeros((d, d))
    for r in rows:
        G[int(r["i"]), int(r["j"])] = float(r["g"])
        G[int(r["j"]), int(r["i"])] = float(r["g"])
    _w, U = np.linalg.eigh(G)
    return [U[:, -1 - c].tolist() for c in range(k)]


def _codeword_frame(
    spark, cb: "list[list[int]]", qq: "list[int]", m: int, dsub: int
) -> DataFrame:
    """The PQ encode's broadcast model frame, WIDE: one row per element
    position (pos0, subspace s, all k codeword coordinates ``cs``, query
    coordinate ``q``), so joining it does NOT expand each element row
    (k + 1)-fold."""
    k = len(cb)
    rows = [
        (
            s * dsub + p,
            s,
            [int(cb[j][s * dsub + p]) for j in range(k)],
            int(qq[s * dsub + p]),
        )
        for s in range(m)
        for p in range(dsub)
    ]
    return spark.createDataFrame(rows, "pos0 int, s int, cs array<long>, q long")


def _pq_argmin(
    expl: DataFrame, keys: "list[str]", cwf: DataFrame, k: int, r_col: str = "r"
) -> DataFrame:
    """The PQ encode core shared by flat and residual ADC: exploded
    element rows (``keys``, pos0, ``r_col`` — the coordinate to encode —
    and x, the raw grid coordinate) join the broadcast codeword frame
    (``_codeword_frame``), and ONE (``keys``, subspace) aggregation
    yields every per-codeword squared distance plus the exact flat part
    ``_expart`` = Σ (x − q)²; ``_w`` is the argmin (d2, j) struct.

    Codegen formulation (r14, guide §4.1): the former per-row argmin
    folded m·k interpreted zip_with/aggregate lambdas (HOFs are
    CodegenFallback) — measured 3× slower than this
    explode-broadcast-aggregate shape.  The k squared diffs are k
    codegen'd column expressions (GetArrayItem with a literal index) over
    one row; the argmin is least() over (d2_j, j) structs — the lowest j
    wins ties, the lexicographic order every PQ oracle pins.  Vectors
    never shuffle: only id·m narrow aggregate partials cross an exchange.
    All integer arithmetic, so sums are reassociation-safe."""

    def _d2(j: int):
        diff = F.col(r_col) - F.col("cs").getItem(j)
        return F.sum(diff * diff).alias(f"_d{j}")

    exdiff = F.col("x") - F.col("q")
    return (
        expl.join(F.broadcast(cwf), "pos0")
        .groupBy(*keys, "s")
        .agg(*[_d2(j) for j in range(k)], F.sum(exdiff * exdiff).alias("_expart"))
        .select(*keys, "s", "_expart", _least_d2_struct(k).alias("_w"))
    )


def pq_encode_adc(
    embeddings: DataFrame,
    query_vec: "list[float]",
    codebook: "list[list[float]] | None",
    m: int = 2,
    x_scale: int = 10**6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook_q: "list[list[list[int]]] | None" = None,
) -> DataFrame:
    """Product quantization with asymmetric-distance scoring (PQ/ADC —
    Jégou et al. TPAMI'11, the FAISS compression standard): split the
    d dims into ``m`` subspaces, encode every vector as its nearest
    codeword id per subspace (argmin of EXACT integer squared distance
    over the quantized grid — ties to the lowest id), then score
    against the query through the precomputed query→codeword distance
    table instead of the raw vectors.  Returns (vec_id, codes,
    adc_dist, exact_dist) — the exact distance rides along so a gate
    pins the quantization error itself.

    Exactness: everything runs on the floor(x·x_scale) integer grid
    (the same convention every PCA/Gram gate proved cross-engine), so
    codes, ADC sums and exact distances are BIGINTs both engines agree
    on bit-for-bit ((x−c)² ≤ 1.6·10¹³ per dim at |x| ≤ 2 — sums fit
    BIGINT through d ≤ 10⁵ dims).

    Scale shape: the codebook is a MODEL (m·k codewords — a broadcast
    literal frame, the ``ivf_cells`` pattern), so encoding never
    shuffles vectors: elements explode in place, join the broadcast
    codeword frame, and reduce map-side before the only exchange
    (``_pq_argmin``).  This is what makes PQ the at-rest format for
    billion-vector corpora — the scan reads codes (m bytes/vector at
    k ≤ 256), never raw floats, and re-ranking fetches raw vectors for
    the top candidates only."""
    import math

    d = len(query_vec)
    dsub = d // m

    def qz(v: float) -> int:
        return int(math.floor(float(v) * x_scale))

    if codebook_q is not None:
        # already-integer sub-quantizers (``train_pq_codebook`` output):
        # codebook_q[s][j] holds subspace s's codeword j — flatten to the
        # full-vector layout the literal expressions index below
        k = len(codebook_q[0])
        cbq = [
            [int(v) for s in range(m) for v in codebook_q[s][j]] for j in range(k)
        ]
    else:
        k = len(codebook)
        cbq = [[qz(x) for x in cw] for cw in codebook]
    qq = [qz(x) for x in query_vec]
    # query→codeword table, exact ints, computed on the same grid — a
    # driver-side literal indexed by the argmin
    qtab = [
        [
            sum((qq[s * dsub + t] - cbq[j][s * dsub + t]) ** 2 for t in range(dsub))
            for j in range(k)
        ]
        for s in range(m)
    ]
    cent = _codeword_frame(embeddings.sparkSession, cbq, qq, m, dsub)
    qtab_lit = F.array(
        *[F.array(*[F.lit(int(qtab[s][j])) for j in range(k)]) for s in range(m)]
    )
    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    expl = embeddings.select(F.col(id_col).alias("_id"), F.posexplode(xq).alias("pos0", "x"))
    g1 = _pq_argmin(expl, ["_id"], cent, k, r_col="x").select(
        "_id",
        "s",
        "_expart",
        F.col("_w.j").alias("j"),
        F.element_at(
            F.element_at(qtab_lit, F.col("s") + 1), (F.col("_w.j") + 1).cast("int")
        ).alias("_qd"),
    )
    # codes assemble in subspace order via array_sort over (s, j) structs
    return g1.groupBy("_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("j")))),
            lambda t: t["j"],
        ).alias("codes"),
        F.sum(F.col("_qd")).cast("long").alias("adc_dist"),
        F.sum("_expart").cast("long").alias("exact_dist"),
    ).select(F.col("_id").alias(id_col), "codes", "adc_dist", "exact_dist")


def pq_encode_adc_residual(
    embeddings: DataFrame,
    query_vec: "list[float]",
    centroids: "list[tuple[int, list[float]]] | DataFrame",
    codebook_resq: "list[list[int]]",
    m: int = 2,
    x_scale: int = 10**6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim_order: "list[int] | None" = None,
    with_enc_dist: bool = False,
    residuals: DataFrame | None = None,
) -> DataFrame:
    """RESIDUAL product quantization with per-cell asymmetric distance —
    the actual FAISS ``IndexIVFPQ`` composite (Jégou et al. TPAMI'11 §III):
    every vector is coarse-assigned to its nearest centroid (cosine),
    then PQ encodes the RESIDUAL x − c(x) instead of x itself, so the
    whole codebook's resolution is spent on the within-cell displacement
    distribution rather than re-describing cell positions — the reason
    residual encoding lifts recall on clustered corpora where flat PQ
    wastes codewords separating clusters (``llm_pq_recall_residual``
    pins the lift on a planted-cluster fixture; VERDICT r07 #4).

    ADC becomes cell-dependent: the query's residual differs per probed
    cell (q − c_cell), so there is one query→codeword table PER CELL —
    m · |cells| · k integers.  Exactness: residuals are DIFFERENCES OF
    floor-quantized grids (xq − cq, exact BIGINTs), codes are integer
    argmins (ties → lowest id), ADC sums are BIGINT — the identical
    cross-engine contract as ``pq_encode_adc``; the exact flat distance
    rides along for recall measurement.  Returns (vec_id, cell, codes,
    adc_dist, exact_dist[, enc_dist]).

    The coarse quantizer's CARRIER follows the type of ``centroids``
    (as in ``dedup.semantic_neardup_pairs``); both carriers run the same
    explode-broadcast-aggregate encode (``_pq_argmin``) and are
    bit-identical (one oracle holds both):

    * a driver list of (cid, vector) — plan LITERALS: assignment is the
      ``ivf_cells`` projection, residuals come from ``residual_frame``,
      and the per-(subspace, cell, code) ADC table is an m·|cells|·k
      nested literal array indexed by (s, cell, argmin-j) at scan time.
      Catalyst analysis scales with ncell·k (ADVICE r14) — fine for
      plan-literal quantizers, whose size the driver list already
      bounds.
    * a DataFrame (cid, cv) — broadcast DATA (VERDICT r08 #7): under √N
      quantizer sizing the literal tables grow WITH the corpus, so
      everything cell-indexed ships as data and the quantizer never
      round-trips through the driver.  Assignment is the packed-centroid
      broadcast row (``ivf_cells_from_df``); residuals are one broadcast
      equi-join on ``cell`` against the centroid grid frame, each
      element's residual the codegen'd scalar x − cqv[pos] (r15: no
      ``zip_with`` HOF); the (cell → per-subspace per-code distance)
      table is COMPUTED IN-PLAN on the centroid frame and broadcast-
      joined on ``cell`` — the (cell, code) → dist lookup-join.  Plan
      SIZE is independent of ncell (tested).

    OPQ-lite (VERDICT r08 #4, literal carrier): ``dim_order`` applies an
    axis-aligned orthogonal rotation (a permutation — new position p
    holds original dim ``dim_order[p]``) to the residuals, the codewords
    and the query tables BEFORE the subspace split, so each subspace
    groups the coordinates the rotation put together (``opq_dim_order``
    learns the permutation from the residuals' top principal
    direction).  A permutation is exactly distance-preserving on the
    integer grid, so ``exact_dist`` is untouched.  ``with_enc_dist``
    adds the per-row encode distortion Σ_s min_j ‖r_s − c_j‖² — the OPQ
    objective, summed by the gate to SELECT between the natural and
    rotated layouts.

    ``residuals`` (r15, literal carrier): a precomputed
    ``residual_frame`` output (id, cell, rq, xq) to encode from instead
    of re-deriving it — callers that encode the SAME corpus twice (the
    OPQ gate's natural-vs-rotated pair) persist the frame once and hand
    it to both encodes, so the coarse-assignment scoring pass runs once.
    The frame's columns are byte-identical to the internal derivation,
    so codes/ADC/exact distances are unchanged."""
    import math

    d = len(query_vec)
    dsub = d // m
    k = len(codebook_resq)
    bcast = isinstance(centroids, DataFrame)
    if bcast and (dim_order is not None or with_enc_dist or residuals is not None):
        raise ValueError(
            "dim_order, with_enc_dist and residuals need the literal centroid list"
        )
    if dim_order is not None and sorted(dim_order) != list(range(d)):
        raise ValueError("dim_order must be a permutation of range(d)")
    perm = list(dim_order) if dim_order is not None else list(range(d))

    def qz(v: float) -> int:
        return int(math.floor(float(v) * x_scale))

    qq = [qz(x) for x in query_vec]
    # permuted codewords (identity when dim_order is None); the wide
    # codeword frame carries the UNPERMUTED query coordinate, because
    # the exact flat distance scores (x − q)² on the natural grid
    cb_p = [[int(codebook_resq[j][perm[p]]) for p in range(d)] for j in range(k)]
    cwf = _codeword_frame(embeddings.sparkSession, cb_p, qq, m, dsub)
    if bcast:
        xq = F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
        )
        cgrid = centroids.select(
            F.col("cid").cast("int").alias("cid"),
            F.transform(
                F.col("cv"),
                lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
            ).alias("cqv"),
        )
        out = (
            ivf_cells_from_df(embeddings, centroids, vec_col=vec_col)
            .select(F.col(id_col), F.col("cell"), xq.alias("_xq"))
            .join(F.broadcast(cgrid), F.col("cell") == F.col("cid"))
        )
        expl = out.select(
            F.col(id_col).alias("_id"),
            F.col("cell"),
            F.col("cqv"),
            F.posexplode(F.col("_xq")).alias("pos0", "x"),
        ).select(
            "_id",
            "cell",
            "pos0",
            (F.col("x") - F.get(F.col("cqv"), F.col("pos0"))).alias("r"),
            "x",
        )
    else:
        ncell = len(centroids)
        cq = {int(cid): [qz(x) for x in cv] for cid, cv in centroids}
        if sorted(cq) != list(range(ncell)):
            raise ValueError("centroid ids must be the dense range 0..n_cells-1")
        # permuted driver-side views: the rotation is applied to residual,
        # codeword and query-table alike, so within-subspace distances are
        # the natural ones over regrouped dims
        qq_p = [qq[perm[p]] for p in range(d)]
        cq_p = {c: [cq[c][perm[p]] for p in range(d)] for c in cq}
        # per-(subspace, cell, code) query table on the residual grid
        qtab = [
            [
                [
                    sum(
                        (
                            qq_p[s * dsub + t]
                            - cq_p[c][s * dsub + t]
                            - cb_p[j][s * dsub + t]
                        )
                        ** 2
                        for t in range(dsub)
                    )
                    for j in range(k)
                ]
                for c in range(ncell)
            ]
            for s in range(m)
        ]
        rf = (
            residuals
            if residuals is not None
            else residual_frame(
                embeddings, centroids, x_scale=x_scale, vec_col=vec_col, id_col=id_col
            )
        )
        out = rf.select(
            F.col(id_col),
            F.col("cell"),
            F.col("rq").alias("_rq"),
            F.col("xq").alias("_xq"),
        )
        if dim_order is not None:
            out = out.withColumn(
                "_rq", F.array(*[F.element_at("_rq", perm[p] + 1) for p in range(d)])
            )
        # the explode zips the (permuted) residual with the natural grid
        expl = out.select(
            F.col(id_col).alias("_id"),
            F.col("cell"),
            F.posexplode(
                F.arrays_zip(F.col("_rq").alias("r"), F.col("_xq").alias("x"))
            ).alias("pos0", "_z"),
        ).select(
            "_id", "cell", "pos0", F.col("_z.r").alias("r"), F.col("_z.x").alias("x")
        )
    g1 = _pq_argmin(expl, ["_id", "cell"], cwf, k)
    codes = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("_w.j").alias("j")))),
        lambda t: t["j"],
    ).alias("codes")
    if not bcast:
        # the cell-dependent ADC term: the nested literal table indexed
        # by (s, cell, argmin-j) in the projection
        qtab_lit = F.array(
            *[
                F.array(
                    *[
                        F.array(*[F.lit(int(qtab[s][c][j])) for j in range(k)])
                        for c in range(ncell)
                    ]
                )
                for s in range(m)
            ]
        )
        g1 = g1.select(
            "_id",
            "cell",
            "s",
            "_expart",
            "_w",
            F.element_at(
                F.element_at(
                    F.element_at(qtab_lit, F.col("s") + 1),
                    (F.col("cell") + 1).cast("int"),
                ),
                (F.col("_w.j") + 1).cast("int"),
            ).alias("qd"),
        )
        agg_cols = [
            codes,
            F.sum("qd").cast("long").alias("adc_dist"),
            F.sum("_expart").cast("long").alias("exact_dist"),
        ]
        if with_enc_dist:
            agg_cols.append(F.sum(F.col("_w.d2")).cast("long").alias("enc_dist"))
        return (
            g1.groupBy("_id", "cell")
            .agg(*agg_cols)
            .select(
                F.col("_id").alias(id_col),
                "cell",
                "codes",
                "adc_dist",
                "exact_dist",
                *(["enc_dist"] if with_enc_dist else []),
            )
        )
    out = (
        g1.groupBy("_id", "cell")
        .agg(codes, F.sum("_expart").cast("long").alias("_exact"))
        .select(F.col("_id").alias(id_col), "cell", "codes", "_exact")
    )
    # (cell, code) -> dist lookup table, computed in-plan on the centroid
    # frame (r15, VERDICT r14 #3 — no interpreted ``aggregate`` folds):
    # the centroid grid explodes per position, joins the SAME wide
    # codeword frame the encode uses, and ONE codegen'd (cid, s)
    # aggregation yields all k query→codeword distances — integer sums,
    # so the table is bit-identical to the literal carrier's.  Two
    # model-size aggregations (|cells|·m rows); plan size stays
    # ncell-independent (tested).
    qparts = (
        cgrid.select("cid", F.posexplode("cqv").alias("pos0", "cq"))
        .join(F.broadcast(cwf), "pos0")
        .groupBy("cid", "s")
        .agg(
            *[
                F.sum(
                    (F.col("q") - F.col("cq") - F.col("cs").getItem(j))
                    * (F.col("q") - F.col("cq") - F.col("cs").getItem(j))
                ).alias(f"_q{j}")
                for j in range(k)
            ]
        )
    )
    qt = (
        qparts.select(
            "cid", "s", F.array(*[F.col(f"_q{j}") for j in range(k)]).alias("_qs")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("_qs")))),
                lambda t: t["_qs"],
            ).alias("_qtab")
        )
    )
    out = out.join(F.broadcast(qt), F.col("cell") == F.col("cid"))
    adc = None
    for s in range(m):
        term = F.element_at(
            F.element_at("_qtab", s + 1),
            (F.element_at("codes", s + 1) + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    return out.select(
        id_col,
        "cell",
        "codes",
        adc.cast("long").alias("adc_dist"),
        F.col("_exact").alias("exact_dist"),
    )


def opq_dim_order(
    embeddings: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    iters: int = 4,
    x_scale: int = 10**6,
    v_scale: int = 1 << 14,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residuals: DataFrame | None = None,
) -> "list[int]":
    """OPQ-lite rotation learner (VERDICT r08 #4; Ge et al. CVPR'13's
    parametric OPQ restricted to the axis-aligned rotation family): the
    top principal direction of the RESIDUAL cloud (the same matrix-free
    integer power iteration as ``principal_directions`` — 4 narrow scans,
    one d-row collect per round, exact cross-engine) ranks every
    dimension by |loading|; dims are dealt into the m subspaces in rank
    order (new position p = rank), so the highest-energy correlated
    coordinates land in the SAME subspace — the permutation member of
    OPQ's rotation family, chosen because a permutation is exactly
    distance-preserving on the integer grid (a dense rotation would need
    a requantization step that breaks the BIGINT oracle contract).

    The caller selects between this layout and the natural one by
    measured encode distortion (``with_enc_dist`` in
    ``pq_encode_adc_residual``) — real OPQ's objective — so a corpus
    whose natural split is already aligned (the planted-cluster fixture,
    whose displacement structure is second-moment-invisible) keeps it,
    while variance-misaligned corpora get the rotation's win
    (``tools/make_misaligned_clusters.py`` pins it).

    ``residuals``: a precomputed ``residual_frame`` output to learn from
    (r15) — the OPQ gate derives the frame once, persists it, and shares
    it between this learner and its two encodes.

    Returns ``dim_order`` with new position p holding original dim
    ``dim_order[p]``."""
    rf = (
        residuals
        if residuals is not None
        else residual_frame(
            embeddings, centroids, x_scale=x_scale, vec_col=vec_col, id_col=id_col
        )
    )
    base = _track_persist(rf.select(F.col("rq").alias("xq")))
    v = _power_rounds(base, iters, v_scale)
    return sorted(range(len(v)), key=lambda t: (-abs(int(v[t])), t))


def residual_frame(
    embeddings: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    x_scale: int = 10**6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, rq, xq): every vector's integer-grid residual to its
    OWN coarse cell — rq = floor(x·s) − floor(c·s) per dim, exact
    BIGINTs (the difference-of-grids convention every residual gate
    shares), with the raw grid xq riding along for exact-distance
    columns.  The common prelude of residual ENCODING
    (``pq_encode_adc_residual``) and residual TRAINING
    (``train_pq_codebook(pre_quantized=True)``), factored so the two
    cannot drift.  Pure scan: coarse assignment + one zip_with against
    the centroid literal table."""
    import math

    def qz(v: float) -> int:
        return int(math.floor(float(v) * x_scale))

    cq = {int(cid): [qz(x) for x in cv] for cid, cv in centroids}
    ncell = len(centroids)
    if sorted(cq) != list(range(ncell)):
        raise ValueError("centroid ids must be the dense range 0..n_cells-1")
    cells = ivf_cells(embeddings, centroids, vec_col=vec_col)
    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    cent_lit = F.array(
        *[F.array(*[F.lit(int(v)).cast("long") for v in cq[c]]) for c in range(ncell)]
    )
    return cells.select(
        F.col(id_col),
        F.col("cell"),
        F.zip_with(
            xq,
            F.element_at(cent_lit, (F.col("cell") + 1).cast("int")),
            lambda a, b: a - b,
        ).alias("rq"),
        xq.alias("xq"),
    )


def residual_codebook(
    embeddings: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    lo: int = 16,
    hi: int = 32,
    x_scale: int = 10**6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residuals: DataFrame | None = None,
) -> "list[list[int]]":
    """Deterministic residual codewords: the integer-grid residuals
    (xq − cq(cell)) of the seed vectors with ``lo ≤ id < hi``, each
    against ITS OWN coarse cell — the residual analogue of the first-k
    raw seeding every flat-PQ gate uses.  The seed range is disjoint
    from the centroid ids (0..7) by default, so no codeword degenerates
    to the zero residual of a centroid row.  Model-size driver state:
    (hi−lo) rows collected once.

    ``residuals`` (r15): a precomputed ``residual_frame`` output — its
    ``rq`` column is BY CONSTRUCTION the very xq − cq(cell) integers the
    seeding computes (same quantization, same coarse assignment), so
    callers that already hold the frame (the OPQ gate) collect the seed
    rows off it instead of building a second coarse-assignment plan."""
    import math

    if residuals is not None:
        seeds = (
            residuals.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi))
            .select(id_col, "rq")
            .collect()
        )
        if len(seeds) != hi - lo:
            raise ValueError(
                f"residual_codebook needs ids {lo}..{hi - 1} present; "
                f"got {len(seeds)} rows"
            )
        by_id = {int(r[id_col]): r for r in seeds}
        return [[int(v) for v in by_id[i]["rq"]] for i in range(lo, hi)]

    def qz(v: float) -> int:
        return int(math.floor(float(v) * x_scale))

    cq = {int(cid): [qz(x) for x in cv] for cid, cv in centroids}
    seeds = (
        ivf_cells(
            embeddings.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)),
            centroids,
            vec_col=vec_col,
        )
        .select(id_col, vec_col, "cell")
        .collect()
    )
    if len(seeds) != hi - lo:
        raise ValueError(
            f"residual_codebook needs ids {lo}..{hi - 1} present; got {len(seeds)} rows"
        )
    by_id = {int(r[id_col]): r for r in seeds}
    return [
        [
            qz(x) - cq[int(by_id[i]["cell"])][dim]
            for dim, x in enumerate(by_id[i][vec_col])
        ]
        for i in range(lo, hi)
    ]


def train_pq_codebook(
    embeddings: DataFrame,
    k: int = 16,
    m: int = 2,
    n_iter: int = 2,
    x_scale: int = 10**6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_quantized: bool = False,
) -> "list[list[list[int]]]":
    """Train PQ sub-quantizers: per-subspace Lloyd iterations in EXACT
    integer arithmetic, so the trained codebook is a VALUE-gateable
    artifact (the chained-CTE oracle recomputes the identical integers),
    not just an invariant — the same determinism trade as fixed-point
    PageRank and the PCA power iteration.

    * init: the quantized subvectors of the first ``k`` ids (the
      deterministic seed every PQ gate uses);
    * assign: per-row argmin of integer squared distance to the current
      centroids as plan literals (ties → lowest id) — a pure scan;
    * update: per-(code, dim) integer mean, Σx div n with truncating
      division (Spark ``div`` ≡ DuckDB ``//`` on negatives too — both
      truncate toward zero; the Python reduction mirrors it explicitly
      since Python ``//`` floors); empty codes keep their previous
      centroid.  Only m·k·(d/m) = k·d aggregate rows reach the driver
      per iteration — model-size, like the codebook itself.

    Returns codebook[s][j] = list of d/m integer coordinates (grid
    units of 1/x_scale).

    ``pre_quantized=True`` takes ``vec_col`` as an already-integer
    ``array<bigint>`` on the grid (e.g. the ``rq`` residuals of
    ``residual_frame``) — no re-quantization anywhere, so Lloyd on
    residuals shares every integer convention with residual encoding."""
    import math

    # Seed from the k LOWEST ids actually present (ADVICE r07): on the
    # dense 0..n-1 driver ids this is exactly the ``vec_id < k`` set the
    # chained-CTE oracle encodes, but a sparse or offset id space no
    # longer KeyErrors — and fewer than k rows is a clear contract error,
    # not an IndexError deep in the comprehension.
    seed_rows = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if len(seed_rows) < k:
        raise ValueError(
            f"train_pq_codebook needs at least k={k} rows to seed the "
            f"codebook; the embeddings frame has only {len(seed_rows)}"
        )
    first = [list(r[vec_col]) for r in seed_rows]
    d = len(first[0])
    dsub = d // m

    def seed_q(x) -> int:
        return int(x) if pre_quantized else int(math.floor(float(x) * x_scale))

    cb = [
        [
            [seed_q(x) for x in first[j][s * dsub : (s + 1) * dsub]]
            for j in range(k)
        ]
        for s in range(m)
    ]

    def truncdiv(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    xq = (
        F.col(vec_col)
        if pre_quantized
        else F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
        )
    )
    # Element-exploded layout, persisted ONCE across all Lloyd
    # iterations (r14, guide §4.1/§1.2): higher-order-function lambdas
    # are interpreted (CodegenFallback), so the former per-row
    # k·m-fold argmin expression paid ~k·d interpreted lambda calls per
    # row per iteration — measured 3× the whole training time at sf0.1.
    # Exploding to one (id, pos0, x) row per element and joining a
    # BROADCAST centroid-literal frame keeps every distance term inside
    # WholeStageCodegen; the integer sums, the argmin tie-break (min of
    # (d2, j) structs ≡ array_min over (d, j) structs — lowest j wins
    # ties) and the truncating-division update are bit-identical.
    # Shuffle accounting at scale: the assignment aggregates reduce
    # map-side to id·m·k partial rows (narrow ints) — comparable bytes
    # to the vectors themselves, and orders of magnitude cheaper than
    # the interpreted scan it replaces.
    expl = _track_persist(
        embeddings.select(F.col(id_col).alias("_rid"), xq.alias("_xq"))
        .select("_rid", F.posexplode("_xq").alias("pos0", "x"))
        .filter(F.col("pos0") < m * dsub)
    )
    spark = embeddings.sparkSession
    for _ in range(n_iter):
        # WIDE broadcast frame (r14, same shape as pq_encode_adc): one
        # row per element position with all k codeword coordinates as an
        # array — the join does not expand element rows (k)-fold, one
        # (id, subspace) aggregation computes every per-codeword
        # distance AND carries the subvector (sort_array ∘ collect_list
        # — deterministic order, though the integer sums below are
        # order-blind anyway), and the update sums flow from a re-explode
        # of that carried array instead of joining the assignment back
        # to the element frame (was: two aggregations + one join + one
        # aggregation per iteration over a k-fold row expansion).
        cent = spark.createDataFrame(
            [
                (s * dsub + p, s, [int(cb[s][j][p]) for j in range(k)])
                for s in range(m)
                for p in range(dsub)
            ],
            "pos0 int, s int, cs array<long>",
        )

        def _d2(j: int):
            diff = F.col("x") - F.col("cs").getItem(j)
            return F.sum(diff * diff).alias(f"_d{j}")

        assigned = (
            expl.join(F.broadcast(cent), "pos0")
            .groupBy("_rid", "s")
            .agg(
                *[_d2(j) for j in range(k)],
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos0"), F.col("x")))
                ).alias("_xs"),
            )
            .select(
                "s",
                _least_d2_struct(k)["j"].alias("j"),
                "_xs",
            )
        )
        stats = (
            assigned.select("s", "j", F.explode("_xs").alias("_e"))
            .groupBy("s", "j", (F.col("_e.pos0") % dsub).alias("pos"))
            .agg(
                F.sum(F.col("_e.x").cast("decimal(38,0)")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_cb = [[list(cw) for cw in sub] for sub in cb]
        for row in stats:
            new_cb[int(row["s"])][int(row["j"])][int(row["pos"])] = truncdiv(
                int(row["sx"]), int(row["n"])
            )
        cb = new_cb
    return cb


def scalar_quantization_report(
    embeddings: DataFrame,
    x_scale: int = 10**6,
    levels: int = 255,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar (SQ8-style) quantization quality report — the OTHER
    compression FAISS ships besides PQ: per dimension, an affine 8-bit
    grid between the corpus min and max, every value encoded to
    code = ⌊(x − min)·levels / span⌋ and reconstructed to
    min + ⌊code·span / levels⌋.  Returns one row per dimension:
    (dim, minq, maxq, sum_sq_err, max_abs_err) — the reconstruction
    error profile that decides SQ8-vs-PQ per corpus (SQ8 keeps 1
    byte/dim with NO codebook; PQ amortizes m bytes/vector but needs
    training).  All arithmetic on the floor(x·x_scale) integer grid
    with truncating division — exact BIGINTs cross-engine; error sums
    accumulate in DECIMAL(38,0).

    Scale shape: one positional explode (narrow) + two dim-keyed
    aggregations (d keys, map-side combined) with the d-row min/max
    frame broadcast between them — shuffle traffic is partitions × d at
    any corpus size."""
    from data_engineering_project_utn_spark.persist import track_persist

    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(x_scale))).cast("long"),
    )
    pos = track_persist(
        embeddings.select(F.posexplode(xq).alias("dim", "x")).select(
            F.col("dim").cast("long").alias("dim"), "x"
        )
    )
    mm = pos.groupBy("dim").agg(
        F.min("x").alias("minq"), F.max("x").alias("maxq")
    )
    span = F.col("maxq") - F.col("minq")
    code = F.when(
        span > 0, F.expr(f"((x - minq) * {levels}) div (maxq - minq)")
    ).otherwise(F.lit(0).cast("long"))
    joined = pos.join(F.broadcast(mm), "dim").select(
        "dim", "x", "minq", "maxq", code.alias("_code")
    )
    recon = F.col("minq") + F.expr(f"(_code * (maxq - minq)) div {levels}")
    err = F.col("x") - recon
    return (
        joined.select("dim", "minq", "maxq", err.alias("_e"))
        .groupBy("dim")
        .agg(
            F.min("minq").alias("minq"),
            F.min("maxq").alias("maxq"),
            F.sum((F.col("_e") * F.col("_e")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("double")
            .alias("sum_sq_err"),
            F.max(F.abs("_e")).cast("long").alias("max_abs_err"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Quantizer drift (VERDICT r13 #6): the semantic ingest loop assigns cells
# with a STATIC quantizer while the corpus grows — a drifting embedding
# distribution concentrates new vectors into few cells (pruning degrades
# toward a full scan) and stretches within-cell radii (semdedup recall at
# sub-1.0 thresholds), with no signal.  The monitor is one aggregate over
# the at-rest layout; the re-train job is the semantic analogue of
# compaction (re-train + re-partition, staged rewrite, crash-safe swap).
# ---------------------------------------------------------------------------


def semantic_layout_drift_report(
    spark,
    corpus_path: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
) -> dict:
    """Drift monitor for a cell-partitioned embedding layout: per-cell
    row counts plus mean stored-assignment cosine, ONE broadcast join +
    aggregate over the directory (the centroid frame is model-size).
    Returns model-size scalars only:

    * ``n_rows`` / ``n_cells`` — layout population;
    * ``mean_cos`` — overall mean vector→assigned-centroid cosine (the
      spherical-k-means objective over the layout; falls as the
      distribution drifts away from the quantizer);
    * ``max_cell_frac`` — the largest cell's share of all rows (rises
      toward 1.0 as drifted vectors pile into their nearest stale cell;
      directly bounds how much partition pruning can save);
    * ``imbalance`` — max cell count / mean cell count (1.0 = uniform).

    Compare against the report taken at build/retrain time and call
    ``retrain_semantic_layout`` when ``should_retrain`` fires — the
    cadence decision is the caller's (nightly with compaction is the
    natural slot)."""
    at_rest = spark.read.parquet(corpus_path)
    cents = centroids.select(F.col("cid").alias("cell"), "cv")
    per = (
        at_rest.join(F.broadcast(cents), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(cosine(F.col(vec_col), F.col("cv"))).alias("mc"),
        )
        .collect()
    )
    if not per:
        return {
            "n_rows": 0, "n_cells": 0, "mean_cos": 0.0,
            "max_cell_frac": 0.0, "imbalance": 0.0,
        }
    n_rows = sum(int(r["n"]) for r in per)
    max_n = max(int(r["n"]) for r in per)
    return {
        "n_rows": n_rows,
        "n_cells": len(per),
        "mean_cos": sum(float(r["mc"]) * int(r["n"]) for r in per) / n_rows,
        "max_cell_frac": max_n / n_rows,
        "imbalance": max_n / (n_rows / len(per)),
    }


def should_retrain(
    baseline: dict,
    current: dict,
    max_cos_drop: float = 0.05,
    max_imbalance_growth: float = 2.0,
) -> bool:
    """The drift gate: re-train when the layout's mean assignment cosine
    fell more than ``max_cos_drop`` below the baseline, or the imbalance
    grew more than ``max_imbalance_growth``× — either means the static
    quantizer no longer matches the ingested distribution (planted-drift
    tested: recall and balance recover after the re-train)."""
    if current["n_rows"] == 0 or baseline["n_rows"] == 0:
        return False
    return (
        current["mean_cos"] < baseline["mean_cos"] - max_cos_drop
        or current["imbalance"]
        > baseline["imbalance"] * max_imbalance_growth
    )


def retrain_semantic_layout(
    spark,
    corpus_path: str,
    k: int | None = None,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe_super: int = 1,
) -> DataFrame:
    """Re-train the coarse quantizer on the CURRENT layout population and
    re-partition the directory under the new cells — the semantic
    analogue of the lexical loop's nightly compaction + index rebuild
    (reuses ``train_ivf_centroids`` + the partitioned writer).  The
    rewrite stages into a sibling directory and swaps with the same
    rename-aside discipline as ``compact_partitioned_dir`` (a crash at
    any step leaves a readable directory; the next call auto-recovers).
    Returns the new centroid frame (cid, cv, cn) — hand it to the next
    ``make_semantic_ingest_batch_fn`` so subsequent triggers assign and
    probe with the retrained tree."""
    import os
    import shutil

    tmp, aside = f"{corpus_path}__retraining", f"{corpus_path}__preretrain"
    if not os.path.exists(corpus_path) and os.path.exists(aside):
        os.rename(aside, corpus_path)  # crash recovery
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)
    at_rest = _track_persist(spark.read.parquet(corpus_path).drop("cell"))
    if k is None:
        k = derive_ivf_k(at_rest.count())
    cents = train_ivf_centroids(
        at_rest, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    cdf = centroids_df(spark, cents)
    assigned = ivf_cells_2level(
        at_rest, cdf, vec_col=vec_col, nprobe_super=nprobe_super
    )
    (
        assigned.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .parquet(tmp)
    )
    os.rename(corpus_path, aside)
    os.rename(tmp, corpus_path)
    shutil.rmtree(aside)
    return cdf

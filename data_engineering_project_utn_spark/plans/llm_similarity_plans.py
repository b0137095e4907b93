"""Similarity / ANN plan family (brute, LSH, multiprobe, IVF, k-NN join,
embedding near-dup + clusters, per-dim stats, filtered ANN)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.llm import dedup as dd
from data_engineering_project_utn_spark.llm import similarity as sim
from data_engineering_project_utn_spark.llm.compute import parallelize_compute
from data_engineering_project_utn_spark.plans.llm_shared import _dot, _reach_ctes
from data_engineering_project_utn_spark.plans.registry import Builder, register
from data_engineering_project_utn_spark.tables import load_table

_IVF_ANN_ORACLE = f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_dot('e.embedding', 'c.cv')}
               / (sqrt({_dot('e.embedding', 'e.embedding')}) * sqrt({_dot('c.cv', 'c.cv')}))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c
    ),
    cells AS (
        SELECT vec_id, embedding, cid AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos_c DESC, cid DESC) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv, cell AS q_cell
          FROM cells WHERE vec_id = 0)
    SELECT s.vec_id,
           {_dot('q.qv', 's.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('s.embedding', 's.embedding')}))
               AS cos_sim
    FROM cells s, q
    WHERE s.cell = q.q_cell AND s.vec_id <> q.q_id
    ORDER BY cos_sim DESC, s.vec_id
    LIMIT 10
    """


def _ivf_ann(bcast: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF ANN top-10 (nprobe=1): 8 coarse centroids (vec_id 0-7 as the
        deterministic quantizer), exact cosine within the probed cell.  The
        centroid collect is 8 rows — a model parameter, not data movement.

        Cell assignment is a literal-centroid projection (no shuffle — see
        llm/similarity.py:ivf_cells); ``bcast`` (``llm_ivf_bcast``) forces
        the *broadcast-centroid* scoring path instead
        (``max_literal_centroids=0`` — the packed-array BroadcastHashJoin
        plan a 65k-centroid quantizer requires).  Both paths fold identical
        doubles, so one oracle proves bit-exact parity of the large-k plan,
        not merely plausibility."""
        e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
        cents = [
            (int(r["vec_id"]), list(r["embedding"]))
            for r in e.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        ]
        q = e.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        return sim.knn_ivf(
            e, q, cents, k=10, max_literal_centroids=0 if bcast else None
        )

    return build


register(
    "llm_ivf_ann",
    oracle=_IVF_ANN_ORACLE,
    tags=("llm", "similarity", "ann", "ivf"),
)(_ivf_ann(bcast=False))
register(
    "llm_ivf_bcast",
    oracle=_IVF_ANN_ORACLE,
    tags=("llm", "similarity", "ann", "ivf", "broadcast"),
)(_ivf_ann(bcast=True))


@register(
    "llm_ivf_nprobe",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_dot('e.embedding', 'c.cv')}
               / (sqrt({_dot('e.embedding', 'e.embedding')}) * sqrt({_dot('c.cv', 'c.cv')}))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c
    ),
    ranked AS (SELECT vec_id, embedding, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos_c DESC, cid DESC) AS rn
               FROM scored),
    cells AS (SELECT vec_id, embedding, cid AS cell FROM ranked WHERE rn = 1),
    probes AS (SELECT cid AS q_cell FROM ranked WHERE vec_id = 0 AND rn <= 2),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT s.vec_id,
           {_dot('q.qv', 's.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('s.embedding', 's.embedding')}))
               AS cos_sim
    FROM cells s, q
    WHERE s.cell IN (SELECT q_cell FROM probes) AND s.vec_id <> q.q_id
    ORDER BY cos_sim DESC, s.vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "ann", "ivf", "nprobe"),
)
def llm_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: the query scans its two nearest cells —
    proportionally more data for strictly-superset candidates (the standard
    recall knob of inverted-file indexes; see llm/similarity.py knn_ivf).
    Value-gated against an oracle that reproduces the probe ranking's
    (cosine desc, cid desc) tie-break exactly."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return sim.knn_ivf(e, q, cents, k=10, nprobe=2)


@register(
    "llm_knn_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           {_dot('q.qv', 'e.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))
               AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "bench"),
)
def llm_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vec_id=0 — the exact-ANN
    baseline.  Query broadcast; corpus never moves; TakeOrdered top-k."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return sim.knn_brute(e, q, k=10)


def _sigs_cte(n_planes: int) -> str:
    """sigs CTE: sign-LSH bucket per vector (mirrors llm.similarity.
    lsh_signature — same hyperplane-weight arithmetic, one definition)."""
    return f"""sigs AS (
        SELECT vec_id, label, embedding,
               list_sum(list_transform(range(0, {n_planes}), p -> CASE WHEN
                   list_reduce(list_transform(list_zip(embedding, range(0, 64)),
                       z -> CAST(z[1] AS DOUBLE) * CAST(((p*31 + z[2]*17) % 7 - 3) AS DOUBLE)),
                       (acc, x) -> acc + x) > 0
                   THEN CAST(1 << p AS BIGINT) ELSE 0 END)) AS bucket
        FROM embeddings
    )"""


_SIGS_CTE = _sigs_cte(8) + """, q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
             FROM sigs WHERE vec_id = 0)"""


@register(
    "llm_lsh_ann",
    oracle=f"""
    WITH {_SIGS_CTE}
    SELECT s.vec_id,
           {_dot('q.qv', 's.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('s.embedding', 's.embedding')}))
               AS cos_sim
    FROM sigs s, q
    WHERE s.bucket = q.q_bucket AND s.vec_id <> q.q_id
    ORDER BY cos_sim DESC, s.vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "ann"),
)
def llm_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (the 100 TB scale path): 8 deterministic
    hyperplanes → bucket id → exact cosine within the query's bucket only.
    Recall tested against llm_knn_cosine in pytest."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return sim.knn_lsh(e, q, k=10, n_planes=8)


@register(
    "llm_knn_join",
    oracle="WITH " + _sigs_cte(6) + f""",
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot('a.embedding', 'b.embedding')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('b.embedding', 'b.embedding')})) AS cos_sim
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT id_a, id_b, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cos_sim DESC, id_b) AS rank
        FROM pairs
    )
    SELECT id_a, id_b, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("llm", "similarity", "knnjoin", "bench"),
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN join: top-5 neighbors for every vector, LSH-bucket
    blocked (6 planes) — the nearest-neighbor-graph / embedding-dedup
    workload.  Pair space = Σ|bucket|², never N²."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return sim.knn_join(e, k=5, n_planes=6)


def _capped_knn_tail(cap: int, k: int) -> str:
    """The split-cap + Hamming-1-reprobe k-NN join CTE chain, parameterized
    on the bucket cap and k — mirrors llm/similarity.lsh_blocks/knn_join
    operation-for-operation (integer bit-length split sizing, id-mix
    sub-bucket hash, probe flips).  Shared by the pinned capped query and
    the auto-sized query so the split arithmetic has ONE SQL definition."""
    return f"""hot AS (
        SELECT bucket, COUNT(*) AS cnt FROM sigs GROUP BY bucket
        HAVING COUNT(*) > {cap}
    ),
    blk AS (
        SELECT s.vec_id, s.embedding, s.bucket,
               CASE WHEN h.cnt IS NULL THEN 0
                    WHEN CAST(FLOOR((h.cnt + {cap - 1}) / {cap}.0) AS BIGINT) <= 1 THEN 0
                    ELSE LEAST(length(bin(
                        CAST(FLOOR((h.cnt + {cap - 1}) / {cap}.0) AS BIGINT) - 1)), 8)
               END AS split_bits
        FROM sigs s LEFT JOIN hot h USING (bucket)
    ),
    sb AS (
        SELECT *, CASE WHEN split_bits = 0 THEN 0
                       ELSE ((vec_id * 31 + 7) % 1000003)
                            % CAST(POW(2, split_bits) AS BIGINT)
                  END AS sub
        FROM blk
    ),
    probes AS (
        SELECT vec_id, embedding, bucket,
               unnest(CASE WHEN split_bits = 0 THEN [sub]
                      ELSE list_concat([sub],
                           list_transform(range(0, split_bits),
                               p -> xor(sub, CAST(POW(2, p) AS BIGINT))))
                      END) AS psub
        FROM sb
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot('a.embedding', 'b.embedding')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('b.embedding', 'b.embedding')})) AS cos_sim
        FROM probes a JOIN sb b
          ON a.bucket = b.bucket AND a.psub = b.sub AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT id_a, id_b, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cos_sim DESC, id_b) AS rank
        FROM pairs
    )
    SELECT id_a, id_b, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@register(
    "llm_knn_join_capped",
    oracle="WITH " + _sigs_cte(2) + ",\n" + _capped_knn_tail(cap=64, k=3),
    tags=("llm", "similarity", "knnjoin", "capped"),
)
def llm_knn_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened k-NN join path: 2 planes force oversized buckets
    at sf0.01, so the bucket-size cap (64) actually splits — uniform
    id-hash sub-buckets + Hamming-1 reprobe (see llm/similarity.py
    lsh_blocks/knn_join).  The oracle reproduces the split arithmetic
    (integer bit-length, id mix, probe flips) operation-for-operation, so
    the entire capped blocking layer is value-checked, not just the happy
    path."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return sim.knn_join(e, k=3, n_planes=2, max_bucket_size=64)


@register(
    "llm_embedding_neardup",
    oracle="WITH " + _sigs_cte(4) + f""",
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot('a.embedding', 'b.embedding')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('b.embedding', 'b.embedding')})) AS cos_sim
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs
    WHERE cos_sim >= 0.35
    ORDER BY id_a, id_b
    """,
    tags=("llm", "similarity", "dedup"),
)
def llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every unordered vector pair
    with cosine ≥ τ, LSH-blocked so candidates only meet inside their
    4-plane sign bucket — the semantic-dedup stage of a training-data
    pipeline (MinHash catches lexical dups, this catches paraphrases).

    Same Σ|bucket|²-not-N² shape as ``llm_knn_join``; at 100 TB the
    plane count comes from ``derive_n_planes`` and oversized buckets
    split+reprobe (``blocked_pairs(max_bucket_size=...)``) — pinned here
    to 4 fixed planes/no cap so the oracle replicates the exact blocking.
    """
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    pairs = sim.blocked_pairs(e, n_planes=4, ordered=True)
    return pairs.filter(F.col("cos_sim") >= 0.35).orderBy("id_a", "id_b")


@register(
    "llm_lsh_multiprobe",
    oracle=f"""
    WITH {_SIGS_CTE},
    probes AS (
        SELECT q_id, qv,
               unnest([q_bucket] || list_transform(range(0, 8),
                   p -> xor(q_bucket, CAST(POW(2, p) AS BIGINT)))) AS probe_bucket
        FROM q
    )
    SELECT DISTINCT s.vec_id,
           {_dot('p.qv', 's.embedding')}
           / (sqrt({_dot('p.qv', 'p.qv')}) * sqrt({_dot('s.embedding', 's.embedding')}))
               AS cos_sim
    FROM sigs s JOIN probes p ON s.bucket = p.probe_bucket
    WHERE s.vec_id <> p.q_id
    ORDER BY cos_sim DESC, s.vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "ann", "multiprobe"),
)
def llm_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: the query's bucket plus all Hamming-1 buckets
    (one hyperplane flip) — recovers the boundary misses that dominate
    single-probe recall loss, still touching ≤ (n_planes+1)/2^n_planes of
    the corpus in expectation."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return sim.knn_lsh_multiprobe(e, q, k=10, n_planes=8)


@register(
    "llm_label_blocked_pairs",
    oracle="WITH " + _sigs_cte(4) + f"""
    , pairs AS (
        SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot('a.embedding', 'b.embedding')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('b.embedding', 'b.embedding')})) AS cos_sim
        FROM sigs a JOIN sigs b
          ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT label,
           COUNT(*) AS n_pairs,
           COUNT(CASE WHEN cos_sim > 0.9 THEN 1 END) AS high_sim_pairs,
           CAST(SUM(CAST(FLOOR(cos_sim * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS avg_cos
    FROM pairs GROUP BY label ORDER BY label
    """,
    tags=("llm", "similarity", "neardup", "blocked"),
)
def llm_label_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label LSH-blocked candidate pairs via
    ``blocked_pairs(extra_key_cols=("label",))`` — the per-key blocking path
    (sizing, splitting, and the candidate join all keyed by
    (label, bucket)): pairs only form inside a label AND an LSH bucket, the
    composition a 100 TB per-language / per-source dedup actually runs.
    Oracle reproduces the signature arithmetic and the (label, bucket)
    equi-join exactly."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    pairs = sim.blocked_pairs(
        e, n_planes=4, extra_key_cols=("label",), ordered=True
    )
    return (
        pairs.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count(F.when(F.col("cos_sim") > 0.9, 1)).alias("high_sim_pairs"),
            (
                F.sum(F.floor(F.col("cos_sim") * 1e12).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / F.lit(1e12)
            ).alias("avg_cos"),
        )
        .orderBy("label")
    )


@register(
    "llm_label_similarity",
    oracle=f"""
    WITH pairs AS (
        SELECT a.label,
               {_dot('a.embedding', 'b.embedding')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('b.embedding', 'b.embedding')})) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label,
           COUNT(*) AS n_pairs,
           COUNT(CASE WHEN cos_sim > 0.9 THEN 1 END) AS high_sim_pairs,
           CAST(SUM(CAST(FLOOR(cos_sim * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS avg_cos
    FROM pairs GROUP BY label ORDER BY label
    """,
    tags=("llm", "similarity", "neardup"),
)
def llm_label_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup stats with label blocking: pairwise cosine
    within label only (blocking keeps it O(Σ|block|²), never all-pairs;
    at scale the block key is the LSH bucket instead)."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = e.select(
        F.col("label"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    cos = sim.cosine(F.col("va"), F.col("vb"))
    return (
        pairs.select("label", cos.alias("cos_sim"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count(F.when(F.col("cos_sim") > 0.9, 1)).alias("high_sim_pairs"),
            # floor-quantize to 1e-12 before the exact integer sum: floor has
            # no rounding-tie ambiguity, unlike double→decimal casts which
            # round differently across engines (decimal(38,0) so the sum
            # can't overflow at 100 TB pair counts).
            (
                F.sum(F.floor(F.col("cos_sim") * 1e12).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / F.lit(1e12)
            ).alias("avg_cos"),
        )
        .orderBy("label")
    )


@register(
    "llm_ivf_trained",
    oracle="""
    SELECT COUNT(*) AS n_vectors, TRUE AS cells_bounded,
           TRUE AS objective_improved
    FROM embeddings
    """,
    tags=("llm", "similarity", "ivf", "kmeans"),
)
def llm_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF quantizer under an invariant gate: distributed spherical
    k-means (llm/similarity.train_ivf_centroids — deterministic md5 init,
    literal-centroid assignment, exact-decimal per-(cell,dim) means) must
    cover every vector, use at most k cells, and never worsen the
    spherical-k-means objective vs its init.  The booleans are computed
    Spark-side from the actual training run (the rl_ema_scan pattern:
    value-gating a result a static oracle can't reproduce)."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings")).persist()
    init = sim.train_ivf_centroids(e, k=8, n_iter=0)
    trained = sim.train_ivf_centroids(e, k=8, n_iter=2, init=init)
    n, cells_used, obj0, obj2 = sim.training_report(e, init, trained)
    e.unpersist()
    return spark.createDataFrame(
        [(n, 1 <= cells_used <= 8, obj2 >= obj0 - 1e-12)],
        "n_vectors bigint, cells_bounded boolean, objective_improved boolean",
    )


@register(
    "llm_embedding_stats",
    oracle="""
    WITH x AS (
        SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000000.0) AS BIGINT) AS iv
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    per AS (
        SELECT dim, COUNT(*) AS n,
               SUM(CAST(iv AS DECIMAL(38,0))) AS s,
               SUM(CAST(iv * iv AS DECIMAL(38,0))) AS sq,
               MIN(v) AS min_v, MAX(v) AS max_v
        FROM x GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, n,
           (CAST(s AS DOUBLE) / 10000000.0) / CAST(n AS DOUBLE) AS mean_v,
           (CAST(sq AS DOUBLE) / 100000000000000.0) / CAST(n AS DOUBLE)
               - ((CAST(s AS DOUBLE) / 10000000.0) / CAST(n AS DOUBLE))
                 * ((CAST(s AS DOUBLE) / 10000000.0) / CAST(n AS DOUBLE)) AS var_v,
           min_v, max_v
    FROM per
    ORDER BY dim
    """,
    tags=("llm", "similarity", "profile"),
)
def llm_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (centering/whitening pass before
    ANN indexing): posexplode + groupBy(dim), exact-decimal sums so means
    and variances are bit-identical at any partitioning; d output rows."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return sim.embedding_dim_stats(e).orderBy("dim")


@register(
    "llm_filtered_knn",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           {_dot('q.qv', 'e.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))
               AS cos_sim
    FROM embeddings e, q
    WHERE e.label = 1 AND e.vec_id <> q.q_id
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "filtered"),
)
def llm_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact ANN (the RAG workload: nearest neighbors
    *within a predicate*): the label filter is applied to the corpus scan
    BEFORE the broadcast-query join, so candidate cost is the filtered
    partition, not the corpus."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return sim.knn_brute(e.filter(F.col("label") == 1), q, k=10)


def _sigs_cte_dynamic(target_bucket_size: int) -> str:
    """sigs CTE with the plane count DERIVED from the corpus size — the SQL
    twin of llm.similarity.derive_n_planes (ceil(log2(N/target)) clamped to
    [1,24]), so the auto-sized scale path is value-gated, not just the
    pinned-plane plans.  Same hyperplane arithmetic as ``_sigs_cte``."""
    return f"""np AS (
        SELECT LEAST(24, GREATEST(1, CAST(CEIL(LOG2(
                   CAST(COUNT(*) AS DOUBLE) / {target_bucket_size}.0)) AS INTEGER))) AS p
        FROM embeddings
    ),
    sigs AS (
        SELECT vec_id, label, embedding,
               list_sum(list_transform(range(0, (SELECT p FROM np)), pl -> CASE WHEN
                   list_reduce(list_transform(list_zip(embedding, range(0, 64)),
                       z -> CAST(z[1] AS DOUBLE) * CAST(((pl*31 + z[2]*17) % 7 - 3) AS DOUBLE)),
                       (acc, x) -> acc + x) > 0
                   THEN CAST(1 << pl AS BIGINT) ELSE 0 END)) AS bucket
        FROM embeddings
    )"""


@register(
    "llm_embedding_neardup_auto",
    oracle="WITH " + _sigs_cte_dynamic(64) + f""",
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot('a.embedding', 'b.embedding')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('b.embedding', 'b.embedding')})) AS cos_sim
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs
    WHERE cos_sim >= 0.35
    ORDER BY id_a, id_b
    """,
    tags=("llm", "similarity", "dedup", "auto"),
)
def llm_embedding_neardup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-SIZED embedding near-dup — the actual 100 TB path, oracle-
    gated: the plane count derives from the corpus size
    (``derive_n_planes``, target bucket 64) in BOTH engines, so expected
    pair work stays ≈ N·target at any scale instead of a pinned plan's
    Σ|bucket|² → N²/2^planes drift.  Answers the pinned-plane caveat on
    ``llm_embedding_neardup``/``llm_knn_join``: the sizing logic itself is
    now value-checked (the oracle recomputes ceil(log2(N/target)) from its
    own COUNT), not only the fixed-plane projections of it."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(e)
    n_planes = sim.derive_n_planes(e.count(), target_bucket_size=64)
    pairs = sim.blocked_pairs(e, n_planes, ordered=True)
    return pairs.filter(F.col("cos_sim") >= 0.35).orderBy("id_a", "id_b")


@register(
    "llm_knn_join_auto",
    oracle="WITH " + _sigs_cte_dynamic(256) + ",\n" + _capped_knn_tail(cap=256, k=5),
    tags=("llm", "similarity", "knnjoin", "auto"),
)
def llm_knn_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY AUTO k-NN join — derived plane count AND split cap, i.e.
    the exact configuration the 10x/2x scaling probes measure as the 100 TB
    path (BENCH_sf1.json: 1.97x per 2x rows) — now value-gated: the oracle
    recomputes ceil(log2(N/256)) from its own COUNT and replicates the
    split+reprobe arithmetic via the same SQL tail as the pinned capped
    query.  Nothing about the scale path is un-gated anymore: sizing,
    splitting, and reprobing all hash-match DuckDB at three SFs."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return sim.knn_join(e, k=5)


@register(
    "llm_embedding_dedup_clusters",
    oracle="WITH RECURSIVE " + _sigs_cte(4) + f""",
    cpairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_dot('a.embedding', 'b.embedding')}
              / (sqrt({_dot('a.embedding', 'a.embedding')})
                 * sqrt({_dot('b.embedding', 'b.embedding')})) >= 0.35
    ),
    {_reach_ctes('cpairs')}
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper_doc
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    tags=("llm", "dedup", "clusters", "similarity"),
)
def llm_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup decision step: connected components over the
    embedding-cosine near-dup pairs (llm_embedding_neardup's blocking),
    each component keeping its min vec_id — the paraphrase-cluster twin of
    the lexical llm_dedup_clusters, sharing the same label-propagation
    operator and recursive-CTE oracle shape."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    pairs = (
        sim.blocked_pairs(e, n_planes=4, ordered=True)
        .filter(F.col("cos_sim") >= 0.35)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    return dd.dedup_clusters(pairs).orderBy("doc_id")


@register(
    "llm_ivf_auto",
    oracle="""
    SELECT COUNT(*) AS n_vectors,
           LEAST(65536, GREATEST(4, CAST(POW(2, CEIL(LOG2(SQRT(
               CAST(COUNT(*) AS DOUBLE))))) AS INTEGER))) AS k_derived,
           TRUE AS cells_bounded, TRUE AS objective_improved
    FROM embeddings
    """,
    tags=("llm", "similarity", "ivf", "auto"),
)
def llm_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-SIZED IVF: the quantizer size derives from the corpus
    (k = 2^ceil(log2(√N)), the standard √N rule) in BOTH engines — the
    oracle value-checks the sizing from its own COUNT, completing the
    auto-path gating story (planes: llm_*_auto; split cap:
    llm_knn_join_auto; quantizer size: here).  Invariant gate on the
    actual training run (cells ≤ k, objective never worse than init),
    same as llm_ivf_trained."""
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    n = e.count()
    k = sim.derive_ivf_k(n)
    # train on a deterministic 25% sample — standard IVF practice (the
    # quantizer needs ~tens of points per centroid, not the corpus); the
    # sizing rule and n_vectors stay on the FULL corpus, which is what the
    # oracle value-checks.  Invariant booleans are audited on the sample.
    train_set = track_persist(e.filter(F.col("vec_id") % 4 == 0))
    init = sim.train_ivf_centroids(train_set, k=k, n_iter=0)
    trained = sim.train_ivf_centroids(train_set, k=k, n_iter=1, init=init)
    # packed report: at k=64 the literal path would bake 2×k×d ≈ 16k
    # literal doubles into one plan — analysis cost dwarfs execution
    _, cells_used, obj0, obj1 = sim.training_report(
        train_set, init, trained, max_literal_centroids=0
    )
    return spark.createDataFrame(
        [(n, k, 1 <= cells_used <= k, obj1 >= obj0 - 1e-12)],
        "n_vectors bigint, k_derived int, cells_bounded boolean, objective_improved boolean",
    )


@register(
    "llm_embedding_dedup_clusters_auto",
    oracle="WITH RECURSIVE " + _sigs_cte_dynamic(64) + f""",
    cpairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM sigs a JOIN sigs b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_dot('a.embedding', 'b.embedding')}
              / (sqrt({_dot('a.embedding', 'a.embedding')})
                 * sqrt({_dot('b.embedding', 'b.embedding')})) >= 0.35
    ),
    {_reach_ctes('cpairs')}
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper_doc
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    tags=("llm", "dedup", "clusters", "similarity", "auto"),
)
def llm_embedding_dedup_clusters_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-SIZED semantic dedup clusters — derived plane count
    (target bucket 64, recomputed from COUNT in the oracle), so the
    pair space stays ≈ N·target at any corpus size where the 4-plane
    pinned twin grows N²/16 (measured 2.7× per 2× rows at sf2).  Same
    CC keeper selection and recursive-CTE oracle as the pinned twin."""
    from data_engineering_project_utn_spark.llm.compute import parallelize_compute as _pc
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(_pc(load_table(spark, sf_dir, "embeddings")))
    n_planes = sim.derive_n_planes(e.count(), target_bucket_size=64)
    pairs = (
        sim.blocked_pairs(e, n_planes, ordered=True)
        .filter(F.col("cos_sim") >= 0.35)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    return dd.dedup_clusters(pairs).orderBy("doc_id")


def _power_iter_oracle(iters: int = 4, x_scale: int = 10**6, v_scale: int = 1 << 14) -> str:
    """Unrolled power-iteration rounds (the BPE-style SQL-oracle pattern):
    same integer quantization, HUGEINT-exact sums, and non-negative-only
    integer renormalization as ``similarity.top_principal_direction``."""
    ctes = [
        f"""xq AS MATERIALIZED (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {x_scale}.0) AS BIGINT) AS x
        FROM embeddings)"""
    ]
    for t in range(1, iters + 1):
        if t == 1:
            ctes.append(
                f"s1 AS MATERIALIZED (SELECT vec_id, SUM(x * {v_scale}) AS s FROM xq GROUP BY vec_id)"
            )
        else:
            ctes.append(
                f"s{t} AS MATERIALIZED (SELECT vec_id, SUM(x * v) AS s "
                f"FROM xq JOIN v{t-1} USING (dim) GROUP BY vec_id)"
            )
        ctes.append(
            f"z{t} AS MATERIALIZED (SELECT dim, SUM(CAST(x AS HUGEINT) * s) AS z "
            f"FROM xq JOIN s{t} USING (vec_id) GROUP BY dim)"
        )
        ctes.append(f"m{t} AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM z{t})")
        ctes.append(
            f"v{t} AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * {v_scale}) // mz "
            f"ELSE -((-z) * {v_scale} // mz) END AS v FROM z{t}, m{t})"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT CAST(dim AS BIGINT) AS dim, "
        f"CAST(v AS BIGINT) AS v_fp FROM v{iters} ORDER BY dim"
    )


@register(
    "llm_top_component",
    oracle=_power_iter_oracle(),
    tags=("llm", "similarity", "linalg"),
)
def llm_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by MATRIX-FREE
    power iteration (``similarity.top_principal_direction``): the d×d Gram
    matrix is never materialized — each of the 4 rounds is one narrow
    per-row fold plus one groupBy(dim) shuffle yielding d rows, so the
    pass costs iters scans at ANY corpus size (the multi-pass shape of
    the IVF Lloyd trainer).  All arithmetic is exact integers (see the
    function docstring), so the fixed-point direction is bit-identical
    across engines and partitionings — gated against a 4-round unrolled
    SQL oracle.  The direction feeds PCA-style whitening/centering ahead
    of ANN indexing."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    vs = sim2.top_principal_direction(e, iters=4)
    return spark.createDataFrame(
        [(j, int(v)) for j, v in enumerate(vs)], "dim long, v_fp long"
    ).orderBy("dim")


@register(
    "llm_pca_explained",
    oracle=_power_iter_oracle().replace(
        "\n    SELECT CAST(dim AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_fp FROM v4 ORDER BY dim",
        """,
    sf AS (SELECT vec_id, SUM(x * v) AS s FROM xq JOIN v4 USING (dim) GROUP BY vec_id),
    ray AS (SELECT SUM(CAST(s AS HUGEINT) * s) AS a, COUNT(*) AS n FROM sf),
    vv AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS b FROM v4),
    tr AS (SELECT SUM(CAST(x AS HUGEINT) * x) AS c FROM xq)
    SELECT CAST(ray.n AS BIGINT) AS n_vectors,
           CAST(ray.a AS DOUBLE) / (CAST(vv.b AS DOUBLE) * CAST(tr.c AS DOUBLE))
               AS variance_explained
    FROM ray, vv, tr""",
    ),
    tags=("llm", "similarity", "linalg"),
)
def llm_pca_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance explained by the power-iteration top component: the
    Rayleigh quotient Σᵢ(xᵢ·u)² over the total energy Σᵢ‖xᵢ‖² — the
    number that tells a pipeline whether PCA-reduction before ANN indexing
    is worth it.  Every accumulation is exact integer (s², v'v, trace all
    HUGEINT/decimal); only the final two casts and one divide are floating,
    in the same literal order in both engines.  Composes the gated
    ``llm_top_component`` direction — one extra narrow fold + three
    scalar aggregates."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    vs = sim2.top_principal_direction(e, iters=4)
    varr = F.array(*[F.lit(int(v)).cast("long") for v in vs])
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    s = F.aggregate(
        F.zip_with(xq, varr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, el: acc + el,
    )
    xx = F.aggregate(
        F.transform(xq, lambda a: a * a),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, el: acc + el.cast("decimal(38,0)"),
    )
    agg = e.select(s.alias("s"), xx.alias("xx")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("s").cast("decimal(38,0)") * F.col("s"))).alias("a"),
        F.sum("xx").alias("c"),
    )
    vv = sum(int(v) * int(v) for v in vs)
    return agg.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        (
            F.col("a").cast("double")
            / (F.lit(float(vv)) * F.col("c").cast("double"))
        ).alias("variance_explained"),
    )


def _second_pi_oracle(
    iters: int = 4, x_scale: int = 10**6, v_scale: int = 1 << 14, v2_scale: int = 1 << 12
) -> str:
    """First power chain (identical CTEs to ``_power_iter_oracle``), then
    integer deflation by v₁ and a second unrolled chain at the narrower
    scale — mirrors ``similarity.second_principal_direction`` step for
    step."""
    first = _power_iter_oracle(iters, x_scale, v_scale)
    head, _tail = first.rsplit("\n    SELECT", 1)
    ctes2 = [
        f"vv AS MATERIALIZED (SELECT SUM(CAST(v AS HUGEINT) * v) AS vv FROM v{iters})",
        f"sx AS MATERIALIZED (SELECT xq.vec_id, SUM(xq.x * v{iters}.v) AS s "
        f"FROM xq JOIN v{iters} USING (dim) GROUP BY xq.vec_id)",
        f"""xq2 AS MATERIALIZED (SELECT xq.vec_id, xq.dim,
               CAST(CASE WHEN (CAST(xq.x AS HUGEINT) * vv.vv - CAST(v{iters}.v AS HUGEINT) * sx.s) >= 0
                    THEN (CAST(xq.x AS HUGEINT) * vv.vv - CAST(v{iters}.v AS HUGEINT) * sx.s) // vv.vv
                    ELSE -((-(CAST(xq.x AS HUGEINT) * vv.vv - CAST(v{iters}.v AS HUGEINT) * sx.s)) // vv.vv)
               END AS BIGINT) AS x
        FROM xq JOIN v{iters} USING (dim) JOIN sx ON sx.vec_id = xq.vec_id
        CROSS JOIN vv)""",
    ]
    for t in range(1, iters + 1):
        if t == 1:
            ctes2.append(
                f"t1 AS MATERIALIZED (SELECT vec_id, SUM(x * {v2_scale}) AS s FROM xq2 GROUP BY vec_id)"
            )
        else:
            ctes2.append(
                f"t{t} AS MATERIALIZED (SELECT vec_id, SUM(x * w) AS s "
                f"FROM xq2 JOIN u{t-1} USING (dim) GROUP BY vec_id)"
            )
        ctes2.append(
            f"y{t} AS MATERIALIZED (SELECT dim, SUM(CAST(x AS HUGEINT) * s) AS z "
            f"FROM xq2 JOIN t{t} USING (vec_id) GROUP BY dim)"
        )
        ctes2.append(f"n{t} AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM y{t})")
        ctes2.append(
            f"u{t} AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * {v2_scale}) // mz "
            f"ELSE -((-z) * {v2_scale} // mz) END AS w FROM y{t}, n{t})"
        )
    return (
        head
        + ",\n    "
        + ",\n    ".join(ctes2)
        + f"\n    SELECT CAST(dim AS BIGINT) AS dim, CAST(w AS BIGINT) AS v2_fp "
        f"FROM u{iters} ORDER BY dim"
    )


@register(
    "llm_second_component",
    oracle=_second_pi_oracle(),
    tags=("llm", "similarity", "linalg"),
)
def llm_second_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction by integer DEFLATION
    (``similarity.second_principal_direction``): rows are projected onto
    v₁'s orthogonal complement with exact integer arithmetic (sign-split
    truncating requantization by v₁ᵀv₁), then the same matrix-free power
    rounds run at a narrower scale.  Multi-component PCA without ever
    materializing the d×d matrix — total cost 2·iters scans.  Gated
    against a two-chain unrolled SQL oracle (first chain byte-identical
    to ``llm_top_component``'s)."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    _v1, v2 = sim2.second_principal_direction(e, iters=4)
    return spark.createDataFrame(
        [(j, int(v)) for j, v in enumerate(v2)], "dim long, v2_fp long"
    ).orderBy("dim")


@register(
    "llm_pca_project",
    oracle=_second_pi_oracle().replace(
        "\n    SELECT CAST(dim AS BIGINT) AS dim, CAST(w AS BIGINT) AS v2_fp "
        "FROM u4 ORDER BY dim",
        """,
    p AS MATERIALIZED (SELECT xq.vec_id,
               SUM(xq.x * v4.v) AS p1,
               SUM(xq.x * u4.w) AS p2
        FROM xq JOIN v4 USING (dim) JOIN u4 USING (dim)
        GROUP BY xq.vec_id)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(p1 AS BIGINT) AS p1_fp, CAST(p2 AS BIGINT) AS p2_fp
    FROM p ORDER BY p1 DESC, vec_id LIMIT 20""",
    ),
    tags=("llm", "similarity", "linalg"),
)
def llm_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PCA projection: every vector's exact-integer coordinates along
    the two gated principal directions (p_k = Σ xq·v_k — one narrow
    per-row fold each, no shuffle beyond the direction training) — the
    embedding-space map a curation UI bins/plots, and the input a
    PCA-bucketed ANN layout would partition on.  Top-20 by first
    coordinate."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    v1, v2 = sim2.second_principal_direction(e, iters=4)
    v1row = spark.createDataFrame(
        [([int(v) for v in v1], [int(v) for v in v2])],
        "v1 array<bigint>, v2 array<bigint>",
    )
    xq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    dot = lambda vcol: F.aggregate(  # noqa: E731
        F.zip_with(xq, F.col(vcol), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, el: acc + el,
    )
    return (
        e.crossJoin(F.broadcast(v1row))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            dot("v1").alias("p1_fp"),
            dot("v2").alias("p2_fp"),
        )
        .orderBy(F.desc("p1_fp"), "vec_id")
        .limit(20)
    )


def _kpca_ctes(
    k: int = 3, iters: int = 4, x_scale: int = 10**6, v_scale: int = 1 << 14
) -> str:
    """CTE body of the generalized k-chain power-iteration oracle (VERDICT
    r06 #6): for component j, an unrolled ``iters``-round chain at scale
    v_scale >> 2j over the j-times-deflated base — the loop-generated
    form of ``_power_iter_oracle`` + ``_second_pi_oracle``'s hand-built
    two chains, mirroring ``similarity.principal_directions`` step for
    step (same quantization, HUGEINT sums, sign-split renorm, integer
    deflation).  Exposed separately so consumers (the PCA-grid ANN gate)
    can chain layout/probe CTEs onto the direction chains."""
    ctes = [
        f"""xq0 AS MATERIALIZED (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {x_scale}.0) AS BIGINT) AS x
        FROM embeddings)"""
    ]
    for j in range(k):
        scale = v_scale >> (2 * j)
        base = f"xq{j}"
        for t in range(1, iters + 1):
            if t == 1:
                ctes.append(
                    f"s{j}_1 AS MATERIALIZED (SELECT vec_id, SUM(x * {scale}) AS s "
                    f"FROM {base} GROUP BY vec_id)"
                )
            else:
                ctes.append(
                    f"s{j}_{t} AS MATERIALIZED (SELECT vec_id, SUM(x * v) AS s "
                    f"FROM {base} JOIN v{j}_{t-1} USING (dim) GROUP BY vec_id)"
                )
            ctes.append(
                f"z{j}_{t} AS MATERIALIZED (SELECT dim, SUM(CAST(x AS HUGEINT) * s) AS z "
                f"FROM {base} JOIN s{j}_{t} USING (vec_id) GROUP BY dim)"
            )
            ctes.append(
                f"m{j}_{t} AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM z{j}_{t})"
            )
            ctes.append(
                f"v{j}_{t} AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * {scale}) // mz "
                f"ELSE -((-z) * {scale} // mz) END AS v FROM z{j}_{t}, m{j}_{t})"
            )
        vfin = f"v{j}_{iters}"
        if j < k - 1:
            ctes.append(
                f"vv{j} AS MATERIALIZED (SELECT SUM(CAST(v AS HUGEINT) * v) AS vv FROM {vfin})"
            )
            ctes.append(
                f"sx{j} AS MATERIALIZED (SELECT {base}.vec_id, SUM({base}.x * {vfin}.v) AS s "
                f"FROM {base} JOIN {vfin} USING (dim) GROUP BY {base}.vec_id)"
            )
            ctes.append(
                f"""xq{j+1} AS MATERIALIZED (SELECT {base}.vec_id, {base}.dim,
               CAST(CASE WHEN (CAST({base}.x AS HUGEINT) * vv{j}.vv - CAST({vfin}.v AS HUGEINT) * sx{j}.s) >= 0
                    THEN (CAST({base}.x AS HUGEINT) * vv{j}.vv - CAST({vfin}.v AS HUGEINT) * sx{j}.s) // vv{j}.vv
                    ELSE -((-(CAST({base}.x AS HUGEINT) * vv{j}.vv - CAST({vfin}.v AS HUGEINT) * sx{j}.s)) // vv{j}.vv)
               END AS BIGINT) AS x
        FROM {base} JOIN {vfin} USING (dim) JOIN sx{j} ON sx{j}.vec_id = {base}.vec_id
        CROSS JOIN vv{j})"""
            )
    return ",\n    ".join(ctes)


def _kpca_oracle(
    k: int = 3, iters: int = 4, x_scale: int = 10**6, v_scale: int = 1 << 14
) -> str:
    """Full k-component oracle: the ``_kpca_ctes`` chains + a UNION ALL
    emitting (component, dim, v_fp) per direction."""
    selects = [
        f"SELECT CAST({j+1} AS BIGINT) AS component, CAST(dim AS BIGINT) AS dim, "
        f"CAST(v AS BIGINT) AS v_fp FROM v{j}_{iters}"
        for j in range(k)
    ]
    return (
        "WITH "
        + _kpca_ctes(k, iters, x_scale, v_scale)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY component, dim"
    )


@register(
    "llm_pca_components",
    oracle=_kpca_oracle(k=3, iters=4),
    tags=("llm", "similarity", "linalg"),
)
def llm_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 principal directions by looped integer deflation
    (``similarity.principal_directions`` — VERDICT r06 #6, the
    k-component generalization of the two gated single-direction
    queries): each component is a matrix-free power chain on the
    previously-deflated base at a 4×-narrower scale, exact integers
    end-to-end, bit-gated against the loop-generated k-chain oracle.
    k·iters linear scans total; the d×d covariance never materializes.
    Output (component, dim, v_fp) — component 1 is byte-identical to
    ``llm_top_component``'s direction, component 2 to
    ``llm_second_component``'s (consistency tested)."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    dirs = sim2.principal_directions(e, k=3, iters=4)
    rows = [
        (c + 1, j, int(v))
        for c, vs in enumerate(dirs)
        for j, v in enumerate(vs)
    ]
    return spark.createDataFrame(
        rows, "component long, dim long, v_fp long"
    ).orderBy("component", "dim")


@register(
    "llm_pca_grid_ann",
    oracle=f"""
    WITH {{KPCA}},
    proj AS MATERIALIZED (SELECT xq0.vec_id, SUM(xq0.x * a.v) AS p1,
                 SUM(xq0.x * b.v) AS p2
          FROM xq0 JOIN v0_4 a USING (dim) JOIN v1_4 b USING (dim)
          GROUP BY xq0.vec_id),
    bounds AS (SELECT MIN(p1) AS lo1, MAX(p1) AS hi1,
                      MIN(p2) AS lo2, MAX(p2) AS hi2 FROM proj),
    lay AS (SELECT lo1, GREATEST(1, (hi1 - lo1) // 4 + 1) AS w1,
                   lo2, GREATEST(1, (hi2 - lo2) // 4 + 1) AS w2 FROM bounds),
    gcells AS (SELECT vec_id,
                      LEAST(3, (p1 - lo1) // w1) * 4
                    + LEAST(3, (p2 - lo2) // w2) AS cell
               FROM proj, lay),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    qc AS (SELECT cell FROM gcells WHERE vec_id = 0)
    SELECT e.vec_id,
           {_dot('q.qv', 'e.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))
               AS cos_sim
    FROM embeddings e
    JOIN gcells c ON c.vec_id = e.vec_id
    CROSS JOIN q CROSS JOIN qc
    WHERE c.cell = qc.cell AND e.vec_id <> q.q_id
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """.replace("{KPCA}", _kpca_ctes(k=2, iters=4)),
    tags=("llm", "similarity", "ann", "linalg"),
)
def llm_pca_grid_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe over the PCA-grid layout (VERDICT r06 #6, value-gated —
    not just plan/bench-evidenced): vectors binned into a 4×4 equal-width
    grid over their exact-integer projections onto the top-2 principal
    directions (``similarity.pca_cells``); the probe scores exact cosine
    only inside the query's cell, whose id the driver computes with the
    SAME integer arithmetic (``pca_cell_of``) — no corpus access to find
    the partition.  At rest this layout partition-prunes
    (test_bucketed_join.test_pca_grid_at_rest_partition_pruning;
    BENCH_ann_at_rest.json carries its measured probe point next to the
    IVF one).  Recall behavior mirrors IVF nprobe=1: exact within the
    cell, boundary misses recoverable by probing neighbor cells."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    v1, v2 = sim2.principal_directions(e, k=2, iters=4)
    cells, layout = sim2.pca_cells(e, v1, v2, grid=4)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    qc = sim2.pca_cell_of(list(q.first()["qv"]), v1, v2, layout)
    return sim.knn_brute(cells.filter(F.col("cell") == qc), q, k=10)


@register(
    "llm_pca_grid_ann_balanced",
    oracle=f"""
    WITH {{KPCA}},
    proj AS MATERIALIZED (SELECT xq0.vec_id, SUM(xq0.x * a.v) AS p1,
                 SUM(xq0.x * b.v) AS p2
          FROM xq0 JOIN v0_4 a USING (dim) JOIN v1_4 b USING (dim)
          GROUP BY xq0.vec_id),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM proj),
    rb1 AS (SELECT p1, CAST(row_number() OVER (ORDER BY p1, vec_id) - 1 AS BIGINT) AS r
            FROM proj),
    b1 AS (SELECT p1 AS b FROM rb1, nn
           WHERE r IN (1 * t // 4, 2 * t // 4, 3 * t // 4)),
    rb2 AS (SELECT p2, CAST(row_number() OVER (ORDER BY p2, vec_id) - 1 AS BIGINT) AS r
            FROM proj),
    b2 AS (SELECT p2 AS b FROM rb2, nn
           WHERE r IN (1 * t // 4, 2 * t // 4, 3 * t // 4)),
    c1 AS (SELECT p.vec_id, CAST(SUM(CASE WHEN p.p1 > b1.b THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM proj p CROSS JOIN b1 GROUP BY p.vec_id),
    c2 AS (SELECT p.vec_id, CAST(SUM(CASE WHEN p.p2 > b2.b THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM proj p CROSS JOIN b2 GROUP BY p.vec_id),
    gcells AS (SELECT c1.vec_id, c1.c * 4 + c2.c AS cell
               FROM c1 JOIN c2 USING (vec_id)),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    qc AS (SELECT cell FROM gcells WHERE vec_id = 0)
    SELECT e.vec_id,
           {_dot('q.qv', 'e.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))
               AS cos_sim
    FROM embeddings e
    JOIN gcells c ON c.vec_id = e.vec_id
    CROSS JOIN q CROSS JOIN qc
    WHERE c.cell = qc.cell AND e.vec_id <> q.q_id
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """.replace("{KPCA}", _kpca_ctes(k=2, iters=4)),
    tags=("llm", "similarity", "ann", "linalg"),
)
def llm_pca_grid_ann_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe over the EQUAL-FREQUENCY PCA grid
    (``similarity.pca_cells_balanced``) — the skew-proof layout twin of
    ``llm_pca_grid_ann``: per-axis bin boundaries are exact order
    statistics at ranks ⌊i·N/4⌋ (distributed global rank, no
    single-partition stage), so every stripe holds ~N/4 rows at ANY
    projection distribution, where equal-width bins concentrate a
    Gaussian corpus in the central cells (measured 13 % vs ideal 6 % —
    BENCH_ann_at_rest.json).  The oracle reproduces the rank boundaries,
    the strict-less bin counting, and the in-cell exact cosine ranking
    bit-for-bit."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    v1, v2 = sim2.principal_directions(e, k=2, iters=4)
    cells, layout = sim2.pca_cells_balanced(e, v1, v2, grid=4)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    qc = sim2.pca_cell_of_balanced(list(q.first()["qv"]), v1, v2, layout)
    return sim.knn_brute(cells.filter(F.col("cell") == qc), q, k=10)


@register(
    "llm_pca_grid_ann_multiprobe",
    oracle=f"""
    WITH {{KPCA}},
    proj AS MATERIALIZED (SELECT xq0.vec_id, SUM(xq0.x * a.v) AS p1,
                 SUM(xq0.x * b.v) AS p2
          FROM xq0 JOIN v0_4 a USING (dim) JOIN v1_4 b USING (dim)
          GROUP BY xq0.vec_id),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM proj),
    rb1 AS (SELECT p1, CAST(row_number() OVER (ORDER BY p1, vec_id) - 1 AS BIGINT) AS r
            FROM proj),
    b1 AS (SELECT p1 AS b FROM rb1, nn
           WHERE r IN (1 * t // 4, 2 * t // 4, 3 * t // 4)),
    rb2 AS (SELECT p2, CAST(row_number() OVER (ORDER BY p2, vec_id) - 1 AS BIGINT) AS r
            FROM proj),
    b2 AS (SELECT p2 AS b FROM rb2, nn
           WHERE r IN (1 * t // 4, 2 * t // 4, 3 * t // 4)),
    c1 AS (SELECT p.vec_id, CAST(SUM(CASE WHEN p.p1 > b1.b THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM proj p CROSS JOIN b1 GROUP BY p.vec_id),
    c2 AS (SELECT p.vec_id, CAST(SUM(CASE WHEN p.p2 > b2.b THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM proj p CROSS JOIN b2 GROUP BY p.vec_id),
    gcells AS (SELECT c1.vec_id, c1.c * 4 + c2.c AS cell
               FROM c1 JOIN c2 USING (vec_id)),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    qc AS (SELECT cell FROM gcells WHERE vec_id = 0),
    probe_cells AS (SELECT DISTINCT (qc.cell // 4 + d1.d) * 4 + (qc.cell % 4 + d2.d) AS cell
                    FROM qc, unnest([-1, 0, 1]) d1(d), unnest([-1, 0, 1]) d2(d)
                    WHERE qc.cell // 4 + d1.d BETWEEN 0 AND 3
                      AND qc.cell % 4 + d2.d BETWEEN 0 AND 3)
    SELECT e.vec_id,
           {_dot('q.qv', 'e.embedding')}
           / (sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))
               AS cos_sim
    FROM embeddings e
    JOIN gcells c ON c.vec_id = e.vec_id
    JOIN probe_cells pc ON c.cell = pc.cell
    CROSS JOIN q
    WHERE e.vec_id <> q.q_id
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """.replace("{KPCA}", _kpca_ctes(k=2, iters=4)),
    tags=("llm", "similarity", "ann", "linalg"),
)
def llm_pca_grid_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe over the balanced PCA grid
    (``similarity.pca_grid_neighbor_cells``): score the query's cell AND
    its ≤ 8 grid neighbors — the grid analogue of sign-LSH's Hamming-1
    reprobe (``llm_lsh_multiprobe``): bin-boundary misses are the
    dominant recall loss of a single-cell probe, and the 2-D layout makes
    "adjacent" literal, so candidates ⊇ the single-probe set and recall
    is monotonically better (asserted in tests) while the at-rest scan
    still prunes to ≤ 9/16 of files (partition pruning accepts IN-lists).
    Neighbor ids are computed DRIVER-SIDE from the layout metadata —
    still no corpus access to plan the probe."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    v1, v2 = sim2.principal_directions(e, k=2, iters=4)
    cells, layout = sim2.pca_cells_balanced(e, v1, v2, grid=4)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    qc = sim2.pca_cell_of_balanced(list(q.first()["qv"]), v1, v2, layout)
    probes = sim2.pca_grid_neighbor_cells(qc, 4)
    return sim.knn_brute(cells.filter(F.col("cell").isin(probes)), q, k=10)


@register(
    "llm_gram_matrix",
    oracle=f"""
    WITH xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        FROM embeddings)
    SELECT a.dim AS i, b.dim AS j,
           CAST(SUM(CAST(a.x AS HUGEINT) * b.x) AS BIGINT) AS g
    FROM xq a JOIN xq b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY a.dim, b.dim
    ORDER BY i, j
    """,
    tags=("llm", "similarity", "linalg"),
)
def llm_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantized Gram matrix, upper triangle
    (``similarity.gram_upper``): the one-scan full-PCA input for
    model-size d — 2080 (i, j, g) entries at d = 64, every entry an exact
    DECIMAL(38,0) sum (oracle: HUGEINT; the gate emits BIGINT, ample at
    gate SFs, while the operator itself stays decimal), shard-mergeable
    (entrywise addition).  Complements the matrix-free power-iteration
    family: Gram when d² is model-size, iteration when it is not; the
    driver-side eigh over this frame agrees with the iterative
    directions on planted spectra (TestGramMatrix)."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return sim2.gram_upper(e).select(
        "i", "j", F.col("g").cast("long").alias("g")
    ).orderBy("i", "j")


@register(
    "llm_pq_adc",
    oracle="""
    WITH xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    vx AS (SELECT vec_id, dim, x, CASE WHEN dim < 32 THEN 0 ELSE 1 END AS s FROM xq),
    cb AS (SELECT vec_id AS j, dim, x, s FROM vx WHERE vec_id < 16),
    d AS (SELECT v.vec_id, c.j, v.s,
                 CAST(SUM((v.x - c.x) * (v.x - c.x)) AS BIGINT) AS dist
          FROM vx v JOIN cb c ON c.dim = v.dim AND c.s = v.s
          GROUP BY v.vec_id, c.j, v.s),
    code AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d)
             WHERE rn = 1),
    qd AS (SELECT j, s, dist FROM d WHERE vec_id = 0),
    adc AS (SELECT c.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
            FROM code c JOIN qd ON qd.s = c.s AND qd.j = c.code
            GROUP BY c.vec_id),
    ex AS (SELECT v.vec_id, CAST(SUM((v.x - q.x) * (v.x - q.x)) AS BIGINT) AS exact_dist
           FROM vx v JOIN vx q ON q.vec_id = 0 AND q.dim = v.dim
           GROUP BY v.vec_id)
    SELECT a.vec_id, c0.code AS code0, c1.code AS code1,
           a.adc_dist, ex.exact_dist
    FROM adc a
    JOIN code c0 ON c0.vec_id = a.vec_id AND c0.s = 0
    JOIN code c1 ON c1.vec_id = a.vec_id AND c1.s = 1
    JOIN ex ON ex.vec_id = a.vec_id
    WHERE a.vec_id <> 0
    ORDER BY a.adc_dist, a.vec_id LIMIT 10
    """,
    tags=("llm", "similarity", "ann", "pq"),
)
def llm_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance
    (``similarity.pq_encode_adc``): 2 subspaces × 16 codewords (the
    first 16 embeddings as the deterministic codebook, the
    ``llm_ivf_ann`` convention), every vector encoded to its
    nearest-codeword ids on the exact integer grid, query scored
    through the precomputed distance table — top-10 by ADC with the
    exact integer distance alongside, so the gate pins the quantization
    error per row.  Encoding is a pure scan (codebook = literals in the
    row expression, no join); the oracle recomputes codes and tables
    from the raw parquet through the same integer arithmetic."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    rows = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    }
    codebook = [rows[j] for j in sorted(rows)]
    qv = rows[0]
    out = sim.pq_encode_adc(e, qv, codebook, m=2)
    return (
        out.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.element_at("codes", 1).alias("code0"),
            F.element_at("codes", 2).alias("code1"),
            "adc_dist",
            "exact_dist",
        )
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@register(
    "llm_ivfpq_ann",
    oracle="""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    cscored AS (
        SELECT e.vec_id, e.embedding, c.cid,
               list_reduce(list_transform(list_zip(e.embedding, c.cv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(list_zip(c.cv, c.cv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c
    ),
    cells AS (
        SELECT vec_id, cid AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos_c DESC, cid DESC) AS rn
              FROM cscored)
        WHERE rn = 1
    ),
    qcell AS (SELECT cell FROM cells WHERE vec_id = 0),
    xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    vx AS (SELECT vec_id, dim, x, CASE WHEN dim < 32 THEN 0 ELSE 1 END AS s FROM xq),
    cb AS (SELECT vec_id AS j, dim, x, s FROM vx WHERE vec_id < 16),
    d AS (SELECT v.vec_id, c.j, v.s,
                 CAST(SUM((v.x - c.x) * (v.x - c.x)) AS BIGINT) AS dist
          FROM vx v JOIN cb c ON c.dim = v.dim AND c.s = v.s
          GROUP BY v.vec_id, c.j, v.s),
    code AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d)
             WHERE rn = 1),
    qd AS (SELECT j, s, dist FROM d WHERE vec_id = 0),
    adc AS (SELECT c.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
            FROM code c JOIN qd ON qd.s = c.s AND qd.j = c.code
            GROUP BY c.vec_id)
    SELECT a.vec_id, a.adc_dist, cl.cell
    FROM adc a
    JOIN cells cl ON cl.vec_id = a.vec_id
    JOIN qcell ON cl.cell = qcell.cell
    WHERE a.vec_id <> 0
    ORDER BY a.adc_dist, a.vec_id LIMIT 10
    """,
    tags=("llm", "similarity", "ann", "ivf", "pq"),
)
def llm_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the full FAISS-style index: coarse quantizer prunes to
    the query's cell (8 centroids, ``ivf_cells`` literal projection),
    then PQ/ADC ranks WITHIN the cell through the distance table
    (``pq_encode_adc``) — two scans' worth of model-size literals, no
    raw-vector math at query time beyond the probed cell's codes.  At
    rest: partition files by cell, store m-byte codes per vector; a
    query reads one cell's code column and re-ranks its top handful
    against raw vectors.  Top-10 by ADC with the cell id alongside."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    small = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    }
    cents = [(j, small[j]) for j in range(8)]
    codebook = [small[j] for j in sorted(small)]
    qv = small[0]
    cells = sim.ivf_cells(e, cents)
    qcell = (
        cells.filter(F.col("vec_id") == 0).select(F.col("cell").alias("q_cell"))
    )
    in_cell = cells.join(F.broadcast(qcell), cells["cell"] == qcell["q_cell"]).select(
        "vec_id", "embedding", "cell"
    )
    from data_engineering_project_utn_spark.llm import similarity as sim2

    out = sim2.pq_encode_adc(in_cell, qv, codebook, m=2)
    return (
        out.join(cells.select("vec_id", "cell"), "vec_id")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "adc_dist", "cell")
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@register(
    "llm_pq_recall",
    oracle="""
    WITH xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    vx AS (SELECT vec_id, dim, x, CASE WHEN dim < 32 THEN 0 ELSE 1 END AS s FROM xq),
    cb AS (SELECT vec_id AS j, dim, x, s FROM vx WHERE vec_id < 16),
    d AS (SELECT v.vec_id, c.j, v.s,
                 CAST(SUM((v.x - c.x) * (v.x - c.x)) AS BIGINT) AS dist
          FROM vx v JOIN cb c ON c.dim = v.dim AND c.s = v.s
          GROUP BY v.vec_id, c.j, v.s),
    code AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d)
             WHERE rn = 1),
    qd AS (SELECT j, s, dist FROM d WHERE vec_id = 0),
    adc AS (SELECT c.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
            FROM code c JOIN qd ON qd.s = c.s AND qd.j = c.code
            GROUP BY c.vec_id),
    ex AS (SELECT v.vec_id, CAST(SUM((v.x - q.x) * (v.x - q.x)) AS BIGINT) AS exact_dist
           FROM vx v JOIN vx q ON q.vec_id = 0 AND q.dim = v.dim
           GROUP BY v.vec_id),
    adc_top AS (SELECT vec_id FROM adc WHERE vec_id <> 0
                ORDER BY adc_dist, vec_id LIMIT 10),
    ex_top AS (SELECT vec_id FROM ex WHERE vec_id <> 0
               ORDER BY exact_dist, vec_id LIMIT 10)
    SELECT CAST((SELECT COUNT(*) FROM adc_top a JOIN ex_top e USING (vec_id))
                AS BIGINT) AS n_overlap,
           (SELECT MIN(adc_dist) FROM adc WHERE vec_id <> 0) AS adc_min,
           (SELECT MIN(exact_dist) FROM ex WHERE vec_id <> 0) AS exact_min
    """,
    tags=("llm", "similarity", "ann", "pq", "report"),
)
def llm_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization quality as a GATED number (the ANN analogue of
    ``llm_dedup_agreement``): overlap between the ADC top-10 and the
    EXACT-distance top-10 for the same query — recall@10 of the
    compressed index, cross-engine-checked instead of docstring-claimed
    — plus the two minima so the gate also pins how far ADC's best
    candidate sits from the true nearest.  Both rankings come from the
    same integer frames as ``llm_pq_adc``; the overlap is a 10-row
    semi-join.

    The measured value is LOW by design (2/10 at sf0.01, 0/10 at
    sf0.1): a 16-codeword codebook over 32-dim subspaces of
    near-isotropic embeddings is far below the k = 256 production
    floor, and many vectors collapse onto the query's own codes
    (adc_min = 0).  That is the honest story this gate exists to tell —
    PQ recall is a property you MEASURE per corpus/codebook, not
    assume; the number is cross-engine-pinned so a future trained or
    larger codebook shows its improvement in a diffable gate."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    rows = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    }
    codebook = [rows[j] for j in sorted(rows)]
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.persist import track_persist

    out = track_persist(
        sim2.pq_encode_adc(e, rows[0], codebook, m=2).filter(F.col("vec_id") != 0)
    )
    adc_top = out.orderBy("adc_dist", "vec_id").limit(10).select("vec_id")
    ex_top = out.orderBy("exact_dist", "vec_id").limit(10).select("vec_id")
    overlap = adc_top.join(ex_top, "vec_id", "left_semi").count()
    mins = out.agg(
        F.min("adc_dist").alias("adc_min"), F.min("exact_dist").alias("exact_min")
    )
    return mins.select(
        F.lit(int(overlap)).cast("long").alias("n_overlap"), "adc_min", "exact_min"
    )


def _pq_train_ctes(
    k: int = 16, dsub: int = 32, iters: int = 2, prelude: "list[str] | None" = None
) -> "list[str]":
    """Unrolled exact-integer Lloyd iterations for the PQ sub-quantizers
    (the chained-CTE pattern of the PageRank/PCA oracles): assign via
    row_number argmin, update via truncating integer means, empty codes
    carry the previous centroid.  Returned as a CTE list so the trained-
    recall gate can chain ADC scoring on top of the final cb{iters}.

    ``prelude`` overrides the default raw-grid source CTEs; it must end
    by defining ``vx(vec_id, x, s, t)`` — the residual-trained gate
    passes the coarse-assign + residual chain here so Lloyd runs on
    rq = xq − cq(cell) with every downstream CTE unchanged."""
    ctes = (
        list(prelude)
        if prelude is not None
        else [
            """xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings)""",
            f"""vx AS (SELECT vec_id, x,
                  CAST(dim // {dsub} AS BIGINT) AS s,
                  CAST(dim % {dsub} AS BIGINT) AS t
           FROM xq)""",
        ]
    )
    ctes = ctes + [
        f"""cb0 AS (SELECT s, CAST(vec_id AS BIGINT) AS j, t, x AS c
            FROM vx WHERE vec_id < {k})""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""d{i} AS (SELECT v.vec_id, c.j, v.s,
                    CAST(SUM((v.x - c.c) * (v.x - c.c)) AS BIGINT) AS dist
             FROM vx v JOIN cb{i-1} c ON c.s = v.s AND c.t = v.t
             GROUP BY v.vec_id, c.j, v.s)"""
        )
        ctes.append(
            f"""a{i} AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d{i})
             WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{i} AS (SELECT a.s, a.code AS j, v.t,
                    CAST(CAST(SUM(v.x) AS HUGEINT) // COUNT(*) AS BIGINT) AS c
             FROM vx v JOIN a{i} a ON a.vec_id = v.vec_id AND a.s = v.s
             GROUP BY a.s, a.code, v.t)"""
        )
        ctes.append(
            f"""cb{i} AS (SELECT p.s, p.j, p.t, COALESCE(m.c, p.c) AS c
             FROM cb{i-1} p LEFT JOIN m{i} m
               ON m.s = p.s AND m.j = p.j AND m.t = p.t)"""
        )
    return ctes


def _pq_train_oracle(k: int = 16, dsub: int = 32, iters: int = 2) -> str:
    return (
        "WITH " + ",\n    ".join(_pq_train_ctes(k, dsub, iters))
        + f"\n    SELECT s, j, t AS dim, c FROM cb{iters} ORDER BY s, j, dim"
    )


@register(
    "llm_pq_trained",
    oracle=_pq_train_oracle(),
    tags=("llm", "similarity", "ann", "pq", "kmeans"),
)
def llm_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ sub-quantizers (``similarity.train_pq_codebook``):
    two Lloyd iterations per subspace in EXACT integer arithmetic —
    argmin assignment against literal centroids (a pure scan), update
    by truncating integer means (Spark ``div`` ≡ DuckDB ``//`` ≡ the
    Python reduction, negatives included), empty codes carrying the
    previous centroid.  The gate emits every trained coordinate
    (s, j, dim, c) — 1024 integers at k = 16, d = 64 — against the
    chained-CTE oracle that unrolls the identical iterations from raw
    parquet: k-means as a VALUE-gated artifact, not an invariant claim.
    The per-iteration driver traffic is the k·d mean frame
    (model-size); the corpus only ever flows through scans and one
    (code, dim)-key aggregation per pass."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    cb = sim2.train_pq_codebook(e, k=16, m=2, n_iter=2)
    rows = [
        (s, j, t, int(c))
        for s in range(len(cb))
        for j in range(len(cb[s]))
        for t, c in enumerate(cb[s][j])
    ]
    out = spark.createDataFrame(rows, "s: long, j: long, dim: long, c: long")
    return out.orderBy("s", "j", "dim")


@register(
    "llm_pq_recall_trained",
    oracle="WITH " + ",\n    ".join(_pq_train_ctes()) + """,
    dt AS (SELECT v.vec_id, c.j, v.s,
                  CAST(SUM((v.x - c.c) * (v.x - c.c)) AS BIGINT) AS dist
           FROM vx v JOIN cb2 c ON c.s = v.s AND c.t = v.t
           GROUP BY v.vec_id, c.j, v.s),
    codet AS (SELECT vec_id, s, j AS code FROM (
                  SELECT vec_id, s, j, row_number() OVER (
                      PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dt)
              WHERE rn = 1),
    qdt AS (SELECT j, s, dist FROM dt WHERE vec_id = 0),
    adct AS (SELECT c.vec_id, CAST(SUM(qdt.dist) AS BIGINT) AS adc
             FROM codet c JOIN qdt ON qdt.s = c.s AND qdt.j = c.code
             GROUP BY c.vec_id),
    qd0 AS (SELECT j, s, dist FROM d1 WHERE vec_id = 0),
    adc0 AS (SELECT a.vec_id, CAST(SUM(qd0.dist) AS BIGINT) AS adc
             FROM a1 a JOIN qd0 ON qd0.s = a.s AND qd0.j = a.code
             GROUP BY a.vec_id),
    ex AS (SELECT v.vec_id, CAST(SUM((v.x - q.x) * (v.x - q.x)) AS BIGINT) AS exact_dist
           FROM vx v JOIN vx q ON q.vec_id = 0 AND q.s = v.s AND q.t = v.t
           GROUP BY v.vec_id),
    ex_top AS (SELECT vec_id FROM ex WHERE vec_id <> 0
               ORDER BY exact_dist, vec_id LIMIT 10),
    t0 AS (SELECT vec_id FROM adc0 WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10),
    tt AS (SELECT vec_id FROM adct WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10)
    SELECT CAST((SELECT COUNT(*) FROM t0 JOIN ex_top USING (vec_id)) AS BIGINT)
               AS n_overlap_init,
           CAST((SELECT COUNT(*) FROM tt JOIN ex_top USING (vec_id)) AS BIGINT)
               AS n_overlap_trained
    """,
    tags=("llm", "similarity", "ann", "pq", "kmeans", "report"),
)
def llm_pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does training lift PQ recall?  Measured, cross-engine: recall@10
    of the ADC ranking under the INIT codebook (first-16 seed) and
    under the 2-pass Lloyd-TRAINED codebook (``train_pq_codebook``),
    side by side against the same exact-distance top-10.  The training
    chain and both scorings recompute from raw parquet in the oracle
    (the trained codebook enters ADC as integers — ``pq_encode_adc``'s
    ``codebook_q`` path), so the improvement (or its absence at this
    deliberately tiny k = 16) is a pinned number, not a docstring
    claim — the arc ``llm_pq_adc`` → ``llm_pq_trained`` →
    ``llm_pq_recall`` completes with its own evaluation."""
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.persist import track_persist

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    rows = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    }
    init_cb = [rows[j] for j in sorted(rows)]
    qv = rows[0]
    trained = sim2.train_pq_codebook(e, k=16, m=2, n_iter=2)
    f_init = track_persist(
        sim2.pq_encode_adc(e, qv, init_cb, m=2).filter(F.col("vec_id") != 0)
    )
    f_tr = track_persist(
        sim2.pq_encode_adc(e, qv, None, m=2, codebook_q=trained).filter(
            F.col("vec_id") != 0
        )
    )
    ex_top = f_init.orderBy("exact_dist", "vec_id").limit(10).select("vec_id")
    t0 = f_init.orderBy("adc_dist", "vec_id").limit(10).select("vec_id")
    tt = f_tr.orderBy("adc_dist", "vec_id").limit(10).select("vec_id")
    n0 = t0.join(ex_top, "vec_id", "left_semi").count()
    nt = tt.join(ex_top, "vec_id", "left_semi").count()
    return spark.createDataFrame(
        [(int(n0), int(nt))], "n_overlap_init: long, n_overlap_trained: long"
    )


@register(
    "llm_pq_recall_residual",
    oracle="""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    cscored AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_transform(list_zip(e.embedding, c.cv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(list_zip(c.cv, c.cv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c
    ),
    cells AS (
        SELECT vec_id, cid AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos_c DESC, cid DESC) AS rn
              FROM cscored)
        WHERE rn = 1
    ),
    xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    cq AS (SELECT vec_id AS cid, dim, x AS cx FROM xq WHERE vec_id < 8),
    rx AS (SELECT v.vec_id, CAST(v.dim // 32 AS BIGINT) AS s,
                  CAST(v.dim % 32 AS BIGINT) AS t, v.x - c.cx AS r, cl.cell
           FROM xq v JOIN cells cl ON cl.vec_id = v.vec_id
                     JOIN cq c ON c.cid = cl.cell AND c.dim = v.dim),
    cbr AS (SELECT CAST(vec_id - 16 AS BIGINT) AS j, s, t, r AS c
            FROM rx WHERE vec_id >= 16 AND vec_id < 32),
    dres AS (SELECT v.vec_id, c.j, v.s,
                    CAST(SUM((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS dist
             FROM rx v JOIN cbr c ON c.s = v.s AND c.t = v.t
             GROUP BY v.vec_id, c.j, v.s),
    coder AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dres)
              WHERE rn = 1),
    qr AS (SELECT c.cid AS cell, CAST(q.dim // 32 AS BIGINT) AS s,
                  CAST(q.dim % 32 AS BIGINT) AS t, q.x - c.cx AS r
           FROM xq q JOIN cq c ON c.dim = q.dim WHERE q.vec_id = 0),
    qdr AS (SELECT qr.cell, cb.j, qr.s,
                   CAST(SUM((qr.r - cb.c) * (qr.r - cb.c)) AS BIGINT) AS dist
            FROM qr JOIN cbr cb ON cb.s = qr.s AND cb.t = qr.t
            GROUP BY qr.cell, cb.j, qr.s),
    adcr AS (SELECT c.vec_id, CAST(SUM(q.dist) AS BIGINT) AS adc
             FROM coder c JOIN cells cl ON cl.vec_id = c.vec_id
             JOIN qdr q ON q.cell = cl.cell AND q.s = c.s AND q.j = c.code
             GROUP BY c.vec_id),
    vx AS (SELECT vec_id, x, CAST(dim // 32 AS BIGINT) AS s,
                  CAST(dim % 32 AS BIGINT) AS t FROM xq),
    cbp AS (SELECT CAST(vec_id - 16 AS BIGINT) AS j, s, t, x AS c
            FROM vx WHERE vec_id >= 16 AND vec_id < 32),
    dp AS (SELECT v.vec_id, c.j, v.s,
                  CAST(SUM((v.x - c.c) * (v.x - c.c)) AS BIGINT) AS dist
           FROM vx v JOIN cbp c ON c.s = v.s AND c.t = v.t
           GROUP BY v.vec_id, c.j, v.s),
    codep AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dp)
              WHERE rn = 1),
    qdp AS (SELECT j, s, dist FROM dp WHERE vec_id = 0),
    adcp AS (SELECT c.vec_id, CAST(SUM(q.dist) AS BIGINT) AS adc
             FROM codep c JOIN qdp q ON q.s = c.s AND q.j = c.code
             GROUP BY c.vec_id),
    ex AS (SELECT v.vec_id, CAST(SUM((v.x - q.x) * (v.x - q.x)) AS BIGINT) AS exact_dist
           FROM xq v JOIN xq q ON q.vec_id = 0 AND q.dim = v.dim
           GROUP BY v.vec_id),
    ex_top AS (SELECT vec_id FROM ex WHERE vec_id <> 0
               ORDER BY exact_dist, vec_id LIMIT 10),
    tr AS (SELECT vec_id FROM adcr WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10),
    tp AS (SELECT vec_id FROM adcp WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10)
    SELECT CAST((SELECT COUNT(*) FROM tp JOIN ex_top USING (vec_id)) AS BIGINT)
               AS n_overlap_plain,
           CAST((SELECT COUNT(*) FROM tr JOIN ex_top USING (vec_id)) AS BIGINT)
               AS n_overlap_residual
    """,
    tags=("llm", "similarity", "ann", "ivf", "pq", "report"),
)
def llm_pq_recall_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does RESIDUAL encoding lift PQ recall?  Measured, cross-engine
    (VERDICT r07 #4): recall@10 of flat PQ/ADC vs residual IVF+PQ/ADC
    (``similarity.pq_encode_adc_residual`` — the FAISS ``IndexIVFPQ``
    composite: encode x − c(x) against a residual codebook, score
    through per-cell query tables) side by side against the same
    exact-distance top-10.  Both arms share the seed convention —
    codewords from ids 16..31, DISJOINT from the 8 coarse centroids
    (ids 0..7), so no residual codeword degenerates to a centroid's
    zero residual — making the residual transform the ONLY difference.

    On the driver's near-isotropic embeddings both numbers stay low
    (residuals of an isotropic cloud are still isotropic — there is
    nothing for the coarse quantizer to strip); the planted-cluster
    fixture (``tools/make_planted_clusters.py``, asserted in
    ``tests/test_llm_ops.py::TestPQResidual``) is where the residual
    arm must WIN — recall is a per-corpus measurement, and this gate
    pins both the honest flat number here and the positive lift there.

    Scale shape: two pure scans (coarse assign + encode, all literals)
    and three TakeOrdered top-10s — no shuffle touches the corpus."""
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.persist import track_persist

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    small = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 32).select("vec_id", "embedding").collect()
    }
    cents = [(j, small[j]) for j in range(8)]
    plain_cb = [small[j] for j in range(16, 32)]
    qv = small[0]
    res_cb = sim2.residual_codebook(e, cents, lo=16, hi=32)
    f_plain = track_persist(
        sim2.pq_encode_adc(e, qv, plain_cb, m=2).filter(F.col("vec_id") != 0)
    )
    f_res = track_persist(
        sim2.pq_encode_adc_residual(e, qv, cents, res_cb, m=2).filter(
            F.col("vec_id") != 0
        )
    )
    ex_top = f_plain.orderBy("exact_dist", "vec_id").limit(10).select("vec_id")
    tp = f_plain.orderBy("adc_dist", "vec_id").limit(10).select("vec_id")
    tr = f_res.orderBy("adc_dist", "vec_id").limit(10).select("vec_id")
    np_ = tp.join(ex_top, "vec_id", "left_semi").count()
    nr = tr.join(ex_top, "vec_id", "left_semi").count()
    return spark.createDataFrame(
        [(int(np_), int(nr))], "n_overlap_plain: long, n_overlap_residual: long"
    )


_OPQ_SQL = """
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    cscored AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_transform(list_zip(e.embedding, c.cv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(list_zip(c.cv, c.cv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c
    ),
    cells AS (
        SELECT vec_id, cid AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos_c DESC, cid DESC) AS rn
              FROM cscored)
        WHERE rn = 1
    ),
    xq AS MATERIALIZED (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    cq AS (SELECT vec_id AS cid, dim, x AS cx FROM xq WHERE vec_id < 8),
    rxd AS MATERIALIZED (SELECT v.vec_id, v.dim, v.x - c.cx AS r, cl.cell
           FROM xq v JOIN cells cl ON cl.vec_id = v.vec_id
                     JOIN cq c ON c.cid = cl.cell AND c.dim = v.dim),
    ps1 AS MATERIALIZED (SELECT vec_id, SUM(r * 16384) AS s FROM rxd GROUP BY vec_id),
    pz1 AS MATERIALIZED (SELECT dim, SUM(CAST(r AS HUGEINT) * s) AS z FROM rxd JOIN ps1 USING (vec_id) GROUP BY dim),
    pm1 AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM pz1),
    pv1 AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * 16384) // mz ELSE -((-z) * 16384 // mz) END AS v FROM pz1, pm1),
    ps2 AS MATERIALIZED (SELECT vec_id, SUM(r * v) AS s FROM rxd JOIN pv1 USING (dim) GROUP BY vec_id),
    pz2 AS MATERIALIZED (SELECT dim, SUM(CAST(r AS HUGEINT) * s) AS z FROM rxd JOIN ps2 USING (vec_id) GROUP BY dim),
    pm2 AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM pz2),
    pv2 AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * 16384) // mz ELSE -((-z) * 16384 // mz) END AS v FROM pz2, pm2),
    ps3 AS MATERIALIZED (SELECT vec_id, SUM(r * v) AS s FROM rxd JOIN pv2 USING (dim) GROUP BY vec_id),
    pz3 AS MATERIALIZED (SELECT dim, SUM(CAST(r AS HUGEINT) * s) AS z FROM rxd JOIN ps3 USING (vec_id) GROUP BY dim),
    pm3 AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM pz3),
    pv3 AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * 16384) // mz ELSE -((-z) * 16384 // mz) END AS v FROM pz3, pm3),
    ps4 AS MATERIALIZED (SELECT vec_id, SUM(r * v) AS s FROM rxd JOIN pv3 USING (dim) GROUP BY vec_id),
    pz4 AS MATERIALIZED (SELECT dim, SUM(CAST(r AS HUGEINT) * s) AS z FROM rxd JOIN ps4 USING (vec_id) GROUP BY dim),
    pm4 AS MATERIALIZED (SELECT MAX(ABS(z)) AS mz FROM pz4),
    pv4 AS MATERIALIZED (SELECT dim, CASE WHEN z >= 0 THEN (z * 16384) // mz ELSE -((-z) * 16384 // mz) END AS v FROM pz4, pm4),
    rkm AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY ABS(v) DESC, dim) - 1 AS np FROM pv4),
    rxn AS (SELECT x.vec_id, x.cell, CAST(x.dim // 32 AS BIGINT) AS s, x.dim AS key, x.r FROM rxd x),
    cbn AS (SELECT CAST(vec_id - 16 AS BIGINT) AS j, s, key, r AS c FROM rxn WHERE vec_id >= 16 AND vec_id < 32),
    dn AS MATERIALIZED (SELECT v.vec_id, c.j, v.s,
                  CAST(SUM((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS dist
           FROM rxn v JOIN cbn c ON c.s = v.s AND c.key = v.key
           GROUP BY v.vec_id, c.j, v.s),
    codn AS (SELECT vec_id, s, j AS code, dist FROM (
                 SELECT vec_id, s, j, dist, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dn)
              WHERE rn = 1),
    totn AS (SELECT CAST(SUM(dist) AS BIGINT) AS d FROM codn),
    qrn AS (SELECT c.cid AS cell, CAST(q.dim // 32 AS BIGINT) AS s, q.dim AS key, q.x - c.cx AS r
           FROM xq q JOIN cq c ON c.dim = q.dim WHERE q.vec_id = 0),
    qdn AS (SELECT qr.cell, cb.j, qr.s,
                   CAST(SUM((qr.r - cb.c) * (qr.r - cb.c)) AS BIGINT) AS dist
            FROM qrn qr JOIN cbn cb ON cb.s = qr.s AND cb.key = qr.key
            GROUP BY qr.cell, cb.j, qr.s),
    adcn AS (SELECT c.vec_id, CAST(SUM(q.dist) AS BIGINT) AS adc
             FROM codn c JOIN cells cl ON cl.vec_id = c.vec_id
             JOIN qdn q ON q.cell = cl.cell AND q.s = c.s AND q.j = c.code
             GROUP BY c.vec_id),
    tn AS (SELECT vec_id FROM adcn WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10),
    rxr AS (SELECT x.vec_id, x.cell, CAST(k.np // 32 AS BIGINT) AS s, k.np AS key, x.r FROM rxd x JOIN rkm k USING (dim)),
    cbr AS (SELECT CAST(vec_id - 16 AS BIGINT) AS j, s, key, r AS c FROM rxr WHERE vec_id >= 16 AND vec_id < 32),
    dr AS MATERIALIZED (SELECT v.vec_id, c.j, v.s,
                  CAST(SUM((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS dist
           FROM rxr v JOIN cbr c ON c.s = v.s AND c.key = v.key
           GROUP BY v.vec_id, c.j, v.s),
    codr AS (SELECT vec_id, s, j AS code, dist FROM (
                 SELECT vec_id, s, j, dist, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dr)
              WHERE rn = 1),
    totr AS (SELECT CAST(SUM(dist) AS BIGINT) AS d FROM codr),
    qrr AS (SELECT c.cid AS cell, CAST(k.np // 32 AS BIGINT) AS s, k.np AS key, q.x - c.cx AS r
           FROM xq q JOIN cq c ON c.dim = q.dim JOIN rkm k ON k.dim = q.dim WHERE q.vec_id = 0),
    qdr AS (SELECT qr.cell, cb.j, qr.s,
                   CAST(SUM((qr.r - cb.c) * (qr.r - cb.c)) AS BIGINT) AS dist
            FROM qrr qr JOIN cbr cb ON cb.s = qr.s AND cb.key = qr.key
            GROUP BY qr.cell, cb.j, qr.s),
    adcr AS (SELECT c.vec_id, CAST(SUM(q.dist) AS BIGINT) AS adc
             FROM codr c JOIN cells cl ON cl.vec_id = c.vec_id
             JOIN qdr q ON q.cell = cl.cell AND q.s = c.s AND q.j = c.code
             GROUP BY c.vec_id),
    tr AS (SELECT vec_id FROM adcr WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10),
    ex AS (SELECT v.vec_id, CAST(SUM((v.x - q.x) * (v.x - q.x)) AS BIGINT) AS exact_dist
           FROM xq v JOIN xq q ON q.vec_id = 0 AND q.dim = v.dim
           GROUP BY v.vec_id),
    ex_top AS (SELECT vec_id FROM ex WHERE vec_id <> 0
               ORDER BY exact_dist, vec_id LIMIT 10),
    on_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tn JOIN ex_top USING (vec_id)),
    on_r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr JOIN ex_top USING (vec_id))
    SELECT totn.d AS distortion_residual,
           totr.d AS distortion_rotated,
           on_n.n AS n_overlap_residual,
           CASE WHEN totr.d < totn.d THEN on_r.n ELSE on_n.n END AS n_overlap_opq
    FROM totn, totr, on_n, on_r
    """


@register(
    "llm_pq_recall_opq",
    oracle=_OPQ_SQL,
    tags=("llm", "similarity", "ann", "ivf", "pq", "opq", "report"),
)
def llm_pq_recall_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite rotation, value-gated end to end (VERDICT r08 #4): learn
    an axis-aligned rotation (a dim permutation) from the residual
    cloud's top principal direction (``similarity.opq_dim_order`` — the
    same matrix-free integer power iteration as the PCA gates, run on
    residuals), residual-PQ-encode under BOTH the natural and the rotated
    subspace layout (``pq_encode_adc_residual(dim_order=...)``), and
    SELECT by measured encode distortion Σ min‖r_s − c_j‖² — parametric
    OPQ's own objective (Ge et al. CVPR'13), restricted to the
    permutation family because a permutation is exactly
    distance-preserving on the BIGINT grid (a dense rotation would need
    a requantization that breaks the cross-engine contract).

    Output: (distortion_residual, distortion_rotated, n_overlap_residual,
    n_overlap_opq) — recall@10 of the natural residual arm (identical to
    ``llm_pq_recall_residual``'s residual number) next to the
    distortion-chosen arm's.  On corpora whose natural split is already
    aligned (the planted-cluster fixture — its displacement structure is
    second-moment-invisible, measured 39/61 eigenvector mixing) selection
    keeps the natural layout, so n_overlap_opq == n_overlap_residual ≥ 6
    (``TestPQOPQ``); on variance-misaligned corpora
    (``tools/make_misaligned_clusters.py``) the rotation wins decisively
    (distortion 64x lower, recall 9 vs 3 — pinned).  On the driver's
    near-isotropic corpus the two distortions differ by <0.1% (no
    structure for a rotation to exploit), so which arm selection picks
    there is noise — the honest behavior of the OPQ objective; both
    recalls are low there by construction (``llm_pq_recall`` docstring).

    Scale shape: the rotation learner is 4 narrow scans + d-row collects
    (model-size); each arm is a pure literal scan (no join, no shuffle
    touches the corpus); selection compares two scalar aggregates.  The
    whole pipeline adds ONE extra scan family over the residual gate."""
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.persist import track_persist

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    small = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 32).select("vec_id", "embedding").collect()
    }
    cents = [(j, small[j]) for j in range(8)]
    qv = small[0]
    # ONE residual frame for the whole chain (r15, VERDICT r14 #1 /
    # guide §5): the seed-codebook collect, the rotation learner and
    # BOTH encode arms consume the identical (id, cell, rq, xq) frame —
    # they used to re-derive it (four coarse-assignment scoring passes,
    # the interpreted per-centroid cosine folds being the chain's
    # dominant per-row cost).  Persisted inside the timed region;
    # content byte-identical, so codes/ADC/exact/enc distances are
    # unchanged (oracle-gated).
    rf = track_persist(sim2.residual_frame(e, cents))
    res_cb = sim2.residual_codebook(e, cents, lo=16, hi=32, residuals=rf)
    order = sim2.opq_dim_order(e, cents, residuals=rf)
    # Both encode arms ride ONE union frame tagged by arm (r15): each
    # arm's rows are exactly the standalone encode's rows, but the pair
    # materializes in one job over the cached residuals, and the two
    # distortion scalars come back as one grouped aggregate instead of
    # two sequential scalar actions — at scale, one pass over the
    # persisted frame instead of two, plus half the driver round-trips.
    f_nat = sim2.pq_encode_adc_residual(
        e, qv, cents, res_cb, m=2, with_enc_dist=True, residuals=rf
    )
    f_rot = sim2.pq_encode_adc_residual(
        e, qv, cents, res_cb, m=2, dim_order=order, with_enc_dist=True, residuals=rf
    )
    enc = track_persist(
        f_nat.withColumn("_arm", F.lit(0)).unionByName(
            f_rot.withColumn("_arm", F.lit(1))
        )
    )
    dists = {
        int(r["_arm"]): int(r["d"])
        for r in enc.groupBy("_arm")
        .agg(F.sum(F.col("enc_dist").cast("decimal(38,0)")).alias("d"))
        .collect()
    }
    dist_nat, dist_rot = dists[0], dists[1]
    # Overlap@10 for both arms in ONE job: per-arm top-10 by (adc_dist,
    # vec_id) — the identical deterministic total order the former
    # orderBy().limit(10) used — semi-joined against the natural arm's
    # exact top-10, counted per arm.  The rotated arm's count is simply
    # not read when distortion selection keeps the natural layout.
    w = Window.partitionBy("_arm").orderBy("adc_dist", "vec_id")
    ex_top = (
        enc.filter((F.col("_arm") == 0) & (F.col("vec_id") != 0))
        .orderBy("exact_dist", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    tops = (
        enc.filter(F.col("vec_id") != 0)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 10)
        .select("_arm", "vec_id")
    )
    counts = {
        int(r["_arm"]): int(r["n"])
        for r in tops.join(ex_top, "vec_id", "left_semi")
        .groupBy("_arm")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    on_nat = counts.get(0, 0)
    on_opq = counts.get(1, 0) if dist_rot < dist_nat else on_nat
    return spark.createDataFrame(
        [(dist_nat, dist_rot, int(on_nat), int(on_opq))],
        "distortion_residual: long, distortion_rotated: long, "
        "n_overlap_residual: long, n_overlap_opq: long",
    )




def _mmr_oracle(k: int = 5, pool: int = 50, lam: str = "0.7", oml: str = "0.3") -> str:
    '''Unrolled greedy-MMR oracle: pool CTE (exact-cosine top-``pool``),
    model-size pair-sim CTE, then k selection steps — step j picks the
    argmax of lam·rel − oml·max(sim to selected) over the not-yet-
    selected pool, ties to the lowest id.  λ and 1−λ are written as the
    SAME two literals the Spark side uses (``1 - 0.7`` is a different
    double than ``0.3``).'''
    rel = (
        f"{_dot('q.qv', 'e.embedding')} / "
        f"(sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))"
    )
    sim = (
        f"{_dot('a.v', 'b.v')} / "
        f"(sqrt({_dot('a.v', 'a.v')}) * sqrt({_dot('b.v', 'b.v')}))"
    )
    ctes = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f'''c AS (SELECT e.vec_id, e.embedding AS v, {rel} AS rel
          FROM embeddings e, q WHERE e.vec_id <> 0
          ORDER BY rel DESC, e.vec_id LIMIT {pool})''',
        f'''p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, {sim} AS sim
          FROM c a JOIN c b ON a.vec_id <> b.vec_id)''',
        "s1 AS (SELECT vec_id, rel, rel AS marginal FROM c ORDER BY rel DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id FROM s1)",
    ]
    for j in range(2, k + 1):
        ctes.append(
            f'''m{j} AS (SELECT c.vec_id, c.rel,
               {lam} * c.rel - {oml} * MAX(p.sim) AS marginal
        FROM c JOIN p ON p.ia = c.vec_id
        JOIN sel{j-1} s ON s.vec_id = p.ib
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{j-1})
        GROUP BY c.vec_id, c.rel)'''
        )
        ctes.append(
            f"s{j} AS (SELECT vec_id, rel, marginal FROM m{j} "
            f"ORDER BY marginal DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"sel{j} AS (SELECT vec_id FROM sel{j-1} UNION ALL SELECT vec_id FROM s{j})"
        )
    finals = [
        f"SELECT CAST({j} AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS vec_id, "
        f"rel AS relevance, marginal FROM s{j}"
        for j in range(1, k + 1)
    ]
    nl = chr(10)
    return (
        nl + "    WITH "
        + ("," + nl + "    ").join(ctes)
        + nl + "    "
        + (nl + "    UNION ALL ").join(finals)
        + nl + "    ORDER BY rank" + nl + "    "
    )


@register(
    "llm_mmr_topk",
    oracle=_mmr_oracle(),
    tags=("llm", "similarity", "retrieval", "rerank"),
)
def llm_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''Maximal-marginal-relevance diversified top-5 (Carbonell &
    Goldstein SIGIR'98) over the embedding corpus — the reranking step
    between ANN retrieval and a RAG prompt, so near-duplicate passages
    don't crowd the context window (the retrieval-side face of the dedup
    family).  ``similarity.mmr_topk``: the exact-cosine top-50 pool is
    the distributed phase (TakeOrdered, corpus never shuffles), the
    greedy λ·rel − (1−λ)·max-sim refinement runs on the collected pool —
    k·pool² doubles, the Lloyd-centroid altitude.  All similarity folds
    and the 0.7/0.3 literals are shared with the unrolled 5-step SQL
    oracle, so ranks, relevances AND marginals hash bit-for-bit.

    Output: (rank 1..5, vec_id, relevance, marginal) — rank 1's
    marginal is its relevance; each later marginal carries the
    diversity penalty actually paid at selection time.'''
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    qv = list(
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    sel = sim2.mmr_topk(e, qv, k=5, pool=50)
    return spark.createDataFrame(
        [(int(r), int(i), float(rel), float(m)) for r, i, rel, m in sel],
        "rank: long, vec_id: long, relevance: double, marginal: double",
    ).orderBy("rank")


@register(
    "llm_ann_rank_eval",
    oracle=f"""
    WITH {_sigs_cte(8)},
    q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
          FROM sigs WHERE vec_id < 8),
    sc AS (SELECT q.q_id, s.vec_id, q.q_bucket, s.bucket,
                  {_dot('q.qv', 's.embedding')}
                  / (sqrt({_dot('q.qv', 'q.qv')})
                     * sqrt({_dot('s.embedding', 's.embedding')})) AS cos_sim
           FROM sigs s CROSS JOIN q WHERE s.vec_id <> q.q_id),
    tn AS (SELECT q_id, vec_id AS true_nn FROM (
              SELECT q_id, vec_id, row_number() OVER (
                  PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
              FROM sc)
           WHERE rn = 1),
    cand AS (SELECT q_id, vec_id, cos_sim FROM sc WHERE bucket = q_bucket),
    nc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM cand GROUP BY q_id),
    rk AS (SELECT q_id, vec_id,
                  CAST(row_number() OVER (
                      PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS r
           FROM cand)
    SELECT t.q_id, t.true_nn,
           COALESCE(nc.n_candidates, 0) AS n_candidates,
           COALESCE(rk.r, 0) AS approx_rank
    FROM tn t
    LEFT JOIN nc USING (q_id)
    LEFT JOIN rk ON rk.q_id = t.q_id AND rk.vec_id = t.true_nn
    ORDER BY q_id
    """,
    tags=("llm", "similarity", "ann", "report"),
)
def llm_ann_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN retrieval-quality evaluation as a gated table — the metric
    layer over the ANN family: for each of 8 query vectors, the TRUE
    nearest neighbor (brute-force cosine argmax, ties to lowest id) and
    where the sign-LSH bucket ranking actually puts it — approx_rank
    (1 = the bucket's top candidate IS the true NN; 0 = the bucket
    MISSED it entirely, the LSH false-negative case) plus the bucket's
    candidate count.  Integer ranks instead of a pre-divided MRR so the
    gate stays division-free; MRR@k = mean(1/approx_rank over ranks in
    1..k) is one reader-side fold.  The per-query twin of the
    aggregate recall gates (`llm_pq_recall*`): those pin overlap
    counts, this pins WHERE each miss happens.

    Scale shape: signatures are a pure scan; the brute arm is an 8-row
    broadcast against the corpus (model-size query set — the honest
    exact baseline you run on a SAMPLE at 100 TB); the LSH arm touches
    only same-bucket rows.  One rank window per query key."""
    from pyspark.sql import Window as W

    from data_engineering_project_utn_spark.persist import track_persist

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    sigs = track_persist(
        e.select(
            "vec_id",
            "embedding",
            sim.lsh_signature(F.col("embedding"), 8).alias("bucket"),
        )
    )
    q = sigs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = sim.dot(F.col("qv"), F.col("embedding")) / (
        sim.norm(F.col("qv")) * sim.norm(F.col("embedding"))
    )
    scored = track_persist(
        sigs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "q_bucket", "bucket", cos.alias("cos_sim"))
    )
    tn = (
        scored.groupBy("q_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_sim").alias("c"), (-F.col("vec_id")).alias("nv")
                )
            ).alias("m")
        )
        .select("q_id", (-F.col("m.nv")).cast("long").alias("true_nn"))
    )
    cand = scored.filter(F.col("bucket") == F.col("q_bucket"))
    nc = cand.groupBy("q_id").agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    wr = W.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    rk = cand.select(
        "q_id", "vec_id", F.row_number().over(wr).cast("long").alias("r")
    )
    return (
        tn.join(nc, "q_id", "left")
        .join(
            rk,
            (rk["q_id"] == tn["q_id"]) & (rk["vec_id"] == tn["true_nn"]),
            "left",
        )
        .select(
            tn["q_id"],
            "true_nn",
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias("n_candidates"),
            F.coalesce(F.col("r"), F.lit(0).cast("long")).alias("approx_rank"),
        )
        .orderBy("q_id")
    )


# Residual prelude for the Lloyd CTE chain: coarse cells (8 centroid
# rows, the gate family's convention) + grid residuals, ending in the
# vx(vec_id, x, s, t) contract _pq_train_ctes consumes.
_RESIDUAL_TRAIN_PRELUDE = [
    "cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8)",
    """cscored AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_transform(list_zip(e.embedding, c.cv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(list_zip(c.cv, c.cv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c)""",
    """cells AS (
        SELECT vec_id, cid AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos_c DESC, cid DESC) AS rn
              FROM cscored)
        WHERE rn = 1)""",
    """xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings)""",
    "cq AS (SELECT vec_id AS cid, dim, x AS cx FROM xq WHERE vec_id < 8)",
    """vx AS (SELECT v.vec_id, CAST(v.dim // 32 AS BIGINT) AS s,
                  CAST(v.dim % 32 AS BIGINT) AS t, v.x - c.cx AS x
           FROM xq v JOIN cells cl ON cl.vec_id = v.vec_id
                     JOIN cq c ON c.cid = cl.cell AND c.dim = v.dim)""",
]


@register(
    "llm_pq_residual_trained",
    oracle=(
        "WITH "
        + ",\n    ".join(_pq_train_ctes(prelude=_RESIDUAL_TRAIN_PRELUDE))
        + "\n    SELECT s, j, t AS dim, c FROM cb2 ORDER BY s, j, dim"
    ),
    tags=("llm", "similarity", "ann", "ivf", "pq", "kmeans"),
)
def llm_pq_residual_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-TRAINED residual sub-quantizers — the full FAISS
    ``IndexIVFPQ`` training recipe (coarse-assign, take residuals,
    k-means the residual space), completing the train × residual
    matrix: flat-seeded (``llm_pq_adc``), flat-trained
    (``llm_pq_trained``), residual-seeded (``llm_pq_recall_residual``),
    and now residual-trained.  The residual frame is the SAME
    difference-of-grids integers as residual encoding
    (``similarity.residual_frame``; training runs
    ``train_pq_codebook(pre_quantized=True)`` so no second quantization
    convention exists), and the oracle replays coarse assignment +
    residuals + two unrolled Lloyd iterations from raw parquet — the
    trained residual codebook as a VALUE-gated artifact (1024
    integers), like its flat twin.  Seeds are the k lowest ids'
    residuals; ids 0..7 ARE the centroids (zero residual), which Lloyd
    then refines or leaves as the legitimate code for near-centroid
    vectors — documented, not hidden.

    Per-iteration cost shape is the flat trainer's: one persisted
    argmin scan + a k·d model-size mean collect; the residual prelude
    adds one coarse-assign projection."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    rx = sim2.residual_frame(e, cents).select("vec_id", "rq")
    cb = sim2.train_pq_codebook(
        rx, k=16, m=2, n_iter=2, vec_col="rq", pre_quantized=True
    )
    rows = [
        (s, j, t, int(c))
        for s in range(len(cb))
        for j in range(len(cb[s]))
        for t, c in enumerate(cb[s][j])
    ]
    out = spark.createDataFrame(rows, "s: long, j: long, dim: long, c: long")
    return out.orderBy("s", "j", "dim")


_IVFPQ_RESIDUAL_SQL = """
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    cscored AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_transform(list_zip(e.embedding, c.cv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(list_zip(c.cv, c.cv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)))
                   AS cos_c
        FROM embeddings e CROSS JOIN cents c
    ),
    cells AS (
        SELECT vec_id, cid AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos_c DESC, cid DESC) AS rn
              FROM cscored)
        WHERE rn = 1
    ),
    qp AS (SELECT cid AS cell FROM cscored
           WHERE vec_id = 0 ORDER BY cos_c DESC, cid DESC LIMIT 2),
    xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    cq AS (SELECT vec_id AS cid, dim, x AS cx FROM xq WHERE vec_id < 8),
    rx AS (SELECT v.vec_id, CAST(v.dim // 32 AS BIGINT) AS s,
                  CAST(v.dim % 32 AS BIGINT) AS t, v.x - c.cx AS r, cl.cell
           FROM xq v JOIN cells cl ON cl.vec_id = v.vec_id
                     JOIN cq c ON c.cid = cl.cell AND c.dim = v.dim),
    cbr AS (SELECT CAST(vec_id - 16 AS BIGINT) AS j, s, t, r AS c
            FROM rx WHERE vec_id >= 16 AND vec_id < 32),
    dres AS (SELECT v.vec_id, c.j, v.s,
                    CAST(SUM((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS dist
             FROM rx v JOIN cbr c ON c.s = v.s AND c.t = v.t
             GROUP BY v.vec_id, c.j, v.s),
    coder AS (SELECT vec_id, s, j AS code FROM (
                 SELECT vec_id, s, j, row_number() OVER (
                     PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dres)
              WHERE rn = 1),
    qr AS (SELECT c.cid AS cell, CAST(q.dim // 32 AS BIGINT) AS s,
                  CAST(q.dim % 32 AS BIGINT) AS t, q.x - c.cx AS r
           FROM xq q JOIN cq c ON c.dim = q.dim WHERE q.vec_id = 0),
    qdr AS (SELECT qr.cell, cb.j, qr.s,
                   CAST(SUM((qr.r - cb.c) * (qr.r - cb.c)) AS BIGINT) AS dist
            FROM qr JOIN cbr cb ON cb.s = qr.s AND cb.t = qr.t
            GROUP BY qr.cell, cb.j, qr.s),
    adcr AS (SELECT c.vec_id, cl.cell, CAST(SUM(q.dist) AS BIGINT) AS adc_dist
             FROM coder c JOIN cells cl ON cl.vec_id = c.vec_id
             JOIN qdr q ON q.cell = cl.cell AND q.s = c.s AND q.j = c.code
             GROUP BY c.vec_id, cl.cell)
    SELECT a.vec_id, a.cell, a.adc_dist
    FROM adcr a JOIN qp ON a.cell = qp.cell
    WHERE a.vec_id <> 0
    ORDER BY a.adc_dist, a.vec_id LIMIT 10
    """


def _ivfpq_residual_ann(bcast: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The COMPLETE FAISS IndexIVFPQ query path, end to end:
        coarse-probe the query's ``nprobe = 2`` nearest cells (the
        ``ivf_probe_cells`` ranking — cosine desc, cid desc), score ONLY
        those cells' vectors by residual ADC through the probed cells'
        query tables (``similarity.pq_encode_adc_residual``), take the
        top-10.  Composes the pieces the family gates individually:
        multi-cell probing (``llm_ivf_nprobe``), residual encoding
        (``llm_pq_recall_residual``), cell-restricted ADC
        (``llm_ivfpq_ann``).  Spark filters on two literal cell ids while
        the oracle re-derives them from its own ranking.

        At rest this is THE billion-vector layout: cell-partitioned files
        of m-byte residual codes; a query reads nprobe partitions' code
        columns, nothing else — partition pruning does the candidate
        selection.

        The coarse quantizer's carrier is the strategy: by default the 8
        centroids collect as a literal list, the probe list is folded
        driver-side with the same left-fold/IEEE-sqrt doubles the plan
        computes (the ``_ivf_scored`` literal-norm argument), and the
        per-cell ADC tables are nested plan literals.  ``bcast``
        (``llm_ivfpq_residual_bcast``, VERDICT r08 #7, same oracle): the
        quantizer stays a DATAFRAME end to end — packed-broadcast
        assignment, broadcast centroid-grid join for residuals, and the
        per-(cell, code) ADC tables computed IN-PLAN and delivered by a
        broadcast (cell, code) → dist lookup-join.  Under √N quantizer
        sizing the literal tables grow with the corpus — this is the
        layout that holds there; its plan SIZE is ncell-independent
        (tested) while the literal carrier's is the pure scan you keep
        below the threshold (plan-asserted).  Its driver traffic: the
        query vector (one row), the 16 seed residuals (the codebook is a
        model), and the 2-row probe-cell ranking — centroids never
        collect."""
        import math

        from data_engineering_project_utn_spark.persist import track_persist

        e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
        if bcast:
            qv = list(
                e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
            )
            cents = e.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
            )
            qv_lit = F.array(*[F.lit(float(x)) for x in qv])
            probed = [
                int(r["cid"])
                for r in cents.select("cid", sim.cosine(qv_lit, F.col("cv")).alias("c"))
                .orderBy(F.desc("c"), F.desc("cid"))
                .limit(2)
                .collect()
            ]
            # the codebook is a model: 16 seed residuals (k·d ints),
            # derived with the SAME broadcast machinery (ivf_cells_from_df
            # + centroid grid join) and collected once — the centroid
            # frame itself never collects
            xq = F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
            )
            cgrid = cents.select(
                F.col("cid").cast("int").alias("cid2"),
                F.transform(
                    F.col("cv"),
                    lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
                ).alias("cqv"),
            )
            seed_rows = (
                sim.ivf_cells_from_df(
                    e.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 32)), cents
                )
                .select("vec_id", "cell", xq.alias("_xq"))
                .join(F.broadcast(cgrid), F.col("cell") == F.col("cid2"))
                .select(
                    "vec_id", F.zip_with("_xq", "cqv", lambda a, b: a - b).alias("rq")
                )
                .collect()
            )
            if len(seed_rows) != 16:
                raise ValueError(f"seed ids 16..31 required; got {len(seed_rows)} rows")
            res_cb = [
                [int(v) for v in r["rq"]]
                for r in sorted(seed_rows, key=lambda r: int(r["vec_id"]))
            ]
        else:
            small = {
                int(r["vec_id"]): list(r["embedding"])
                for r in e.filter(F.col("vec_id") < 8)
                .select("vec_id", "embedding")
                .collect()
            }
            cents = [(j, small[j]) for j in range(8)]
            qv = small[0]

            def cos_to(cv: "list[float]") -> float:
                d = sum(float(a) * float(b) for a, b in zip(qv, cv))
                return d / (
                    math.sqrt(sum(float(a) * float(a) for a in qv))
                    * math.sqrt(sum(float(b) * float(b) for b in cv))
                )

            probed = [
                cid
                for cid, _ in sorted(cents, key=lambda c: (-cos_to(c[1]), -c[0]))[:2]
            ]
            res_cb = sim.residual_codebook(e, cents, lo=16, hi=32)
        scored = sim.pq_encode_adc_residual(e, qv, cents, res_cb, m=2)
        return (
            scored.filter(F.col("cell").isin([int(c) for c in probed]))
            .filter(F.col("vec_id") != 0)
            .select("vec_id", "cell", "adc_dist")
            .orderBy("adc_dist", "vec_id")
            .limit(10)
        )

    return build


register(
    "llm_ivfpq_residual_ann",
    oracle=_IVFPQ_RESIDUAL_SQL,
    tags=("llm", "similarity", "ann", "ivf", "pq"),
)(_ivfpq_residual_ann(bcast=False))
register(
    "llm_ivfpq_residual_bcast",
    oracle=_IVFPQ_RESIDUAL_SQL,
    tags=("llm", "similarity", "ann", "ivf", "pq", "scale-twin"),
)(_ivfpq_residual_ann(bcast=True))


def _ivf_2level_ann_oracle(nprobe: int = 2, k: int = 10) -> str:
    """Two-level ANN oracle: the shared hierarchical-descent CTE chain
    (``llm_shared.two_level_cells_ctes`` — ONE SQL definition with the
    semdedup twin), then the query's own descent re-read from those
    CTEs: its super from vs, its top-``nprobe`` leaf cells from vl, and
    exact cosine over the probed cells' members."""
    from data_engineering_project_utn_spark.plans.llm_shared import (
        _cos,
        two_level_cells_ctes,
    )

    return f"""
    WITH {two_level_cells_ctes()},
    qleaf AS (SELECT cid AS cell FROM vl WHERE vec_id = 0
              ORDER BY lc DESC, cid DESC LIMIT {nprobe}),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (SELECT e.vec_id, cl.cell,
                    {_cos('q.qv', 'e.embedding')} AS cos_sim
             FROM embeddings e
             JOIN cells cl ON cl.vec_id = e.vec_id
             JOIN qleaf ON cl.cell = qleaf.cell, q
             WHERE e.vec_id <> 0)
    SELECT vec_id, cell, cos_sim FROM cand
    ORDER BY cos_sim DESC, vec_id LIMIT {k}
    """


@register(
    "llm_ivf_2level_ann",
    oracle=_ivf_2level_ann_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "scale-twin"),
)
def llm_ivf_2level_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the HIERARCHICAL two-level quantizer (round-10's
    assignment-side scale fix, composed into the retrieval path): the
    corpus is cell-assigned by the ≈2√k-cosines-per-row descent
    (``ivf_cells_2level`` — the N·k flat-assign term measured at
    2.05×/2× drops to near-linear), the query descends the SAME tree
    (its super, then its top-2 leaf cells within that super), and exact
    cosine ranks the probed cells' members.  The dedup-side twin is
    ``llm_semdedup_2level``; both hold the descent to ONE shared SQL
    definition so the arithmetic cannot fork.

    Probe-depth caveat pinned rather than hidden: probing within one
    super only (nprobe leaf cells, same super) is the descent's
    recall trade — a query on a super boundary misses cells under the
    neighboring super; the flat-probed anchors (``llm_ivf_nprobe``,
    ``llm_ivfpq_residual_ann``) remain the exact-probe baselines.

    Driver traffic: the query vector, its 1-row super, and the 2-row
    leaf ranking; centroids and corpus never collect."""
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim2.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qv = list(
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    qv_lit = F.array(*[F.lit(float(x)) for x in qv])
    supers, _spacked, cents_assigned = sim2.two_level_quantizer(cdf)
    q_super = int(
        supers.select("scid", cosine(qv_lit, F.col("scv")).alias("c"))
        .orderBy(F.desc("c"), F.desc("scid"))
        .limit(1)
        .collect()[0]["scid"]
    )
    probed = [
        int(r["cid"])
        for r in cents_assigned.filter(F.col("super") == q_super)
        .select("cid", cosine(qv_lit, F.col("cv")).alias("c"))
        .orderBy(F.desc("c"), F.desc("cid"))
        .limit(2)
        .collect()
    ]
    assigned = sim2.ivf_cells_2level(e, cdf)
    return (
        assigned.filter(F.col("cell").isin(probed))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "cell", cosine(qv_lit, F.col("embedding")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _2level_rank_eval_oracle(nprobes: "tuple[int, ...]" = (1, 2, 4)) -> str:
    """Rank-eval oracle for the two-level descent: the shared CTE chain,
    the exact-cosine true NN, and for each nprobe the candidate count
    and the true NN's rank in the exact-cosine ordering of the query's
    top-nprobe leaf cells (0 = missed: wrong super, or leaf not
    probed)."""
    from data_engineering_project_utn_spark.plans.llm_shared import (
        _cos,
        two_level_cells_ctes,
    )

    ctes = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f'''tn AS (SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
          ORDER BY {_cos('q.qv', 'e.embedding')} DESC, e.vec_id LIMIT 1)''',
    ]
    rows = []
    for np_ in nprobes:
        ctes.append(
            f'''ql{np_} AS (SELECT cid AS cell FROM vl WHERE vec_id = 0
          ORDER BY lc DESC, cid DESC LIMIT {np_})'''
        )
        ctes.append(
            f'''cd{np_} AS (SELECT e.vec_id,
                  {_cos('q.qv', 'e.embedding')} AS cs
          FROM embeddings e
          JOIN cells cl ON cl.vec_id = e.vec_id
          JOIN ql{np_} ON cl.cell = ql{np_}.cell, q
          WHERE e.vec_id <> 0)'''
        )
        ctes.append(
            f'''rk{np_} AS (SELECT vec_id, CAST(row_number() OVER (
              ORDER BY cs DESC, vec_id) AS BIGINT) AS rn FROM cd{np_})'''
        )
        rows.append(
            f'''SELECT CAST({np_} AS BIGINT) AS nprobe, t.vec_id AS true_nn,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cd{np_}) AS n_candidates,
           COALESCE((SELECT rn FROM rk{np_} WHERE rk{np_}.vec_id = t.vec_id), 0)
               AS approx_rank
        FROM tn t'''
        )
    nl = chr(10)
    return (
        nl + "    WITH " + two_level_cells_ctes()
        + "," + nl + "    "
        + ("," + nl + "    ").join(ctes)
        + nl + "    "
        + (nl + "    UNION ALL ").join(rows)
        + nl + "    ORDER BY nprobe" + nl + "    "
    )


@register(
    "llm_2level_rank_eval",
    oracle=_2level_rank_eval_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "report"),
)
def llm_2level_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''Retrieval-quality metric for the two-level descent — the third
    member of the rank-eval trio (LSH buckets: ``llm_ann_rank_eval``;
    residual IVFPQ: ``llm_ivfpq_rank_eval``): for nprobe ∈ {1, 2, 4}
    leaf cells of the query's super, WHERE does the exact true NN land
    in the probed exact-cosine ordering?  approx_rank 0 separates the
    two miss modes the descent can make — the NN's cell under a
    DIFFERENT super (unreachable at any within-super nprobe; the
    descent's own recall cost, pinned here) or under the right super
    but an unprobed leaf (recoverable by deeper nprobe).  Integer
    ranks; division-free.

    Scale shape: one two-level assignment pass over the corpus
    (persisted, probed per depth with cell-literal filters), one exact
    TakeOrdered(1); driver traffic is the query vector, the super row,
    the leaf ranking, and three 1-row aggregates.'''
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim2.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qv = list(
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    qv_lit = F.array(*[F.lit(float(x)) for x in qv])
    supers, _spacked, cents_assigned = sim2.two_level_quantizer(cdf)
    q_super = int(
        supers.select("scid", cosine(qv_lit, F.col("scv")).alias("c"))
        .orderBy(F.desc("c"), F.desc("scid"))
        .limit(1)
        .collect()[0]["scid"]
    )
    leaf_ranking = [
        int(r["cid"])
        for r in cents_assigned.filter(F.col("super") == q_super)
        .select("cid", cosine(qv_lit, F.col("cv")).alias("c"))
        .orderBy(F.desc("c"), F.desc("cid"))
        .limit(4)
        .collect()
    ]
    assigned = track_persist(
        sim2.ivf_cells_2level(e, cdf)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "cell", cosine(qv_lit, F.col("embedding")).alias("cs"))
    )
    t = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", cosine(qv_lit, F.col("embedding")).alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .collect()[0]
    )
    t_id = int(t["vec_id"])
    t_row = assigned.filter(F.col("vec_id") == t_id).select("cell", "cs").collect()
    t_cell = int(t_row[0]["cell"])
    t_cs = float(t_row[0]["cs"])
    # ONE conditional-aggregation pass over the persisted assignment
    # scores every probe depth at once (the r10 shape re-scanned it per
    # depth — the repo's steepest sf2→sf4 slope at 1.61×/2×); the three
    # depth predicates are cell-literal IN lists, so each row
    # contributes to every depth's (count, rank-preceding) pair in the
    # same partial aggregate.
    before = (F.col("cs") > t_cs) | ((F.col("cs") == t_cs) & (F.col("vec_id") < t_id))
    aggs = []
    for np_ in (1, 2, 4):
        in_probe = F.col("cell").isin(leaf_ranking[:np_])
        aggs.append(
            F.sum(F.when(in_probe, 1).otherwise(0)).cast("long").alias(f"n{np_}")
        )
        aggs.append(
            F.sum(F.when(in_probe & before, 1).otherwise(0))
            .cast("long")
            .alias(f"b{np_}")
        )
    row = assigned.agg(*aggs).collect()[0]
    out = []
    for np_ in (1, 2, 4):
        rank = (
            int(row[f"b{np_}"] or 0) + 1 if t_cell in leaf_ranking[:np_] else 0
        )
        out.append((np_, t_id, int(row[f"n{np_}"] or 0), rank))
    return spark.createDataFrame(
        out, "nprobe: long, true_nn: long, n_candidates: long, approx_rank: long"
    ).orderBy("nprobe")


def _ivf_2level_multiprobe_oracle(
    nprobe_super: int = 2, leaf_per_super: int = 2, k: int = 10
) -> str:
    """Multi-super two-level ANN oracle: the shared descent CTE chain at
    ``nprobe_super`` supers (vsup keeps the top-s, vl carries leaves of
    every probed super), then the query's top-``leaf_per_super`` leaf
    cells WITHIN EACH probed super (ROW_NUMBER partitioned by the leaf's
    own super via csup) and exact cosine over the probed cells'
    members."""
    from data_engineering_project_utn_spark.plans.llm_shared import (
        _cos,
        two_level_cells_ctes,
    )

    return f"""
    WITH {two_level_cells_ctes(nprobe_super)},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qleaf AS (SELECT cid AS cell FROM (
                SELECT l.cid, ROW_NUMBER() OVER (PARTITION BY cp.super
                    ORDER BY l.lc DESC, l.cid DESC) AS rn
                FROM vl l JOIN csup cp ON cp.cid = l.cid
                WHERE l.vec_id = 0) WHERE rn <= {leaf_per_super}),
    cand AS (SELECT e.vec_id, cl.cell,
                    {_cos('q.qv', 'e.embedding')} AS cos_sim
             FROM embeddings e
             JOIN cells cl ON cl.vec_id = e.vec_id
             JOIN qleaf ON cl.cell = qleaf.cell, q
             WHERE e.vec_id <> 0)
    SELECT vec_id, cell, cos_sim FROM cand
    ORDER BY cos_sim DESC, vec_id LIMIT {k}
    """


@register(
    "llm_ivf_2level_multiprobe",
    oracle=_ivf_2level_multiprobe_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "scale-twin"),
)
def llm_ivf_2level_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-super probing for the hierarchical two-level quantizer —
    the wrong-super recovery VERDICT r10 #1 asked for (the FAISS IMI
    move: a query near a super boundary probes the top-s supers instead
    of betting everything on one).  The corpus is assigned with
    ``ivf_cells_2level(nprobe_super=2)`` (argmax over the UNION of the
    top-2 supers' leaf sets — per-row work ≈ 3√k·d, still no flat N·k
    term), the query descends the same tree at s=2 taking its top-2
    leaf cells within EACH probed super, and exact cosine ranks the
    probed cells' members.  Single-probe anchor: ``llm_ivf_2level_ann``
    (same tree, s=1); the recall-monotone invariant (s=2 candidates ⊇
    s=1 within a fixed assignment) is pinned in pytest.

    Driver traffic: the query vector, a 2-row super ranking, and a
    ≤4-row leaf ranking; centroids and corpus never collect."""
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim2.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qv = list(
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    qv_lit = F.array(*[F.lit(float(x)) for x in qv])
    supers, _spacked, cents_assigned = sim2.two_level_quantizer(cdf)
    probed_supers = [
        int(r["scid"])
        for r in supers.select("scid", cosine(qv_lit, F.col("scv")).alias("c"))
        .orderBy(F.desc("c"), F.desc("scid"))
        .limit(2)
        .collect()
    ]
    probed: "list[int]" = []
    for sid in probed_supers:
        probed.extend(
            int(r["cid"])
            for r in cents_assigned.filter(F.col("super") == sid)
            .select("cid", cosine(qv_lit, F.col("cv")).alias("c"))
            .orderBy(F.desc("c"), F.desc("cid"))
            .limit(2)
            .collect()
        )
    assigned = sim2.ivf_cells_2level(e, cdf, nprobe_super=2)
    return (
        assigned.filter(F.col("cell").isin(probed))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "cell", cosine(qv_lit, F.col("embedding")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _2level_super_rank_eval_oracle(
    nprobe_supers: "tuple[int, ...]" = (1, 2, 4), leaf_per_super: int = 2
) -> str:
    """Rank-eval oracle pricing wrong-super recovery: the shared CTE
    chain at the DEPLOYED single-probe assignment, the exact-cosine true
    NN, and for each nprobe_super the candidate count and the true NN's
    rank when the query probes its top-``leaf_per_super`` leaf cells in
    each of its top-s supers (0 = missed even at this s)."""
    from data_engineering_project_utn_spark.plans.llm_shared import (
        _cos,
        two_level_cells_ctes,
    )

    ctes = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f'''tn AS (SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
          ORDER BY {_cos('q.qv', 'e.embedding')} DESC, e.vec_id LIMIT 1)''',
        '''qs AS (SELECT sid, ROW_NUMBER() OVER (ORDER BY vc DESC, sid DESC)
              AS srn FROM vs WHERE vec_id = 0)''',
        f'''qlc0 AS (SELECT c.cid, cp.super, {_cos('q.qv', 'c.cv')} AS lc
          FROM cents c JOIN csup cp ON cp.cid = c.cid, q)''',
        '''qlc AS (SELECT cid, super, ROW_NUMBER() OVER (PARTITION BY super
              ORDER BY lc DESC, cid DESC) AS rn FROM qlc0)''',
    ]
    rows = []
    for s in nprobe_supers:
        ctes.append(
            f'''ql{s} AS (SELECT l.cid AS cell FROM qlc l
          JOIN qs ON qs.sid = l.super
          WHERE qs.srn <= {s} AND l.rn <= {leaf_per_super})'''
        )
        ctes.append(
            f'''cd{s} AS (SELECT e.vec_id,
                  {_cos('q.qv', 'e.embedding')} AS cs
          FROM embeddings e
          JOIN cells cl ON cl.vec_id = e.vec_id
          JOIN ql{s} ON cl.cell = ql{s}.cell, q
          WHERE e.vec_id <> 0)'''
        )
        ctes.append(
            f'''rk{s} AS (SELECT vec_id, CAST(row_number() OVER (
              ORDER BY cs DESC, vec_id) AS BIGINT) AS rn FROM cd{s})'''
        )
        rows.append(
            f'''SELECT CAST({s} AS BIGINT) AS nprobe_super, t.vec_id AS true_nn,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cd{s}) AS n_candidates,
           COALESCE((SELECT rn FROM rk{s} WHERE rk{s}.vec_id = t.vec_id), 0)
               AS approx_rank
        FROM tn t'''
        )
    nl = chr(10)
    return (
        nl + "    WITH " + two_level_cells_ctes()
        + "," + nl + "    "
        + ("," + nl + "    ").join(ctes)
        + nl + "    "
        + (nl + "    UNION ALL ").join(rows)
        + nl + "    ORDER BY nprobe_super" + nl + "    "
    )


@register(
    "llm_2level_super_rank_eval",
    oracle=_2level_super_rank_eval_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "report"),
)
def llm_2level_super_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''Prices the wrong-super recovery the multi-probe descent buys: at
    the DEPLOYED single-probe assignment and a fixed 2-leaf-per-super
    probe budget, WHERE does the exact true NN land as the query widens
    from its top super to its top-2 and top-4 supers?  The s=1 row
    reproduces the wrong-super miss class ``llm_2level_rank_eval``
    attributes (approx_rank 0 with the NN under a different super);
    rows s=2 and s=4 show it shrinking — candidate sets are nested in
    s, so approx_rank>0 at s implies approx_rank>0 at every larger s
    (pinned in pytest).  Integer ranks; division-free.

    Scale shape: one single-probe assignment pass (persisted), then ONE
    conditional-aggregation pass scoring all three s-depths (no
    per-depth re-scan — the fused shape VERDICT r10 #4 prescribes);
    driver traffic is the query vector, a ≤4-row super ranking, a
    ≤8-row leaf ranking, and one 6-column aggregate row.'''
    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim2.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qv = list(
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    qv_lit = F.array(*[F.lit(float(x)) for x in qv])
    supers, _spacked, cents_assigned = sim2.two_level_quantizer(cdf)
    ranked_supers = [
        int(r["scid"])
        for r in supers.select("scid", cosine(qv_lit, F.col("scv")).alias("c"))
        .orderBy(F.desc("c"), F.desc("scid"))
        .limit(4)
        .collect()
    ]
    from pyspark.sql.window import Window

    w = Window.partitionBy("super").orderBy(F.desc("c"), F.desc("cid"))
    top_leaves = (
        cents_assigned.filter(F.col("super").isin(ranked_supers))
        .select("super", "cid", cosine(qv_lit, F.col("cv")).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("super", "cid")
        .collect()
    )
    leaves_of = {int(s): [] for s in ranked_supers}
    for r in top_leaves:
        leaves_of[int(r["super"])].append(int(r["cid"]))
    probes = {
        s: [c for sid in ranked_supers[:s] for c in leaves_of[sid]]
        for s in (1, 2, 4)
    }
    assigned = track_persist(
        sim2.ivf_cells_2level(e, cdf)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "cell", cosine(qv_lit, F.col("embedding")).alias("cs"))
    )
    t = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", cosine(qv_lit, F.col("embedding")).alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .collect()[0]
    )
    t_id = int(t["vec_id"])
    t_row = assigned.filter(F.col("vec_id") == t_id).select("cell", "cs").collect()
    t_cell = int(t_row[0]["cell"])
    t_cs = float(t_row[0]["cs"])
    before = (F.col("cs") > t_cs) | ((F.col("cs") == t_cs) & (F.col("vec_id") < t_id))
    aggs = []
    for s in (1, 2, 4):
        in_probe = F.col("cell").isin(probes[s])
        aggs.append(
            F.sum(F.when(in_probe, 1).otherwise(0)).cast("long").alias(f"n{s}")
        )
        aggs.append(
            F.sum(F.when(in_probe & before, 1).otherwise(0))
            .cast("long")
            .alias(f"b{s}")
        )
    row = assigned.agg(*aggs).collect()[0]
    out = []
    for s in (1, 2, 4):
        rank = int(row[f"b{s}"] or 0) + 1 if t_cell in probes[s] else 0
        out.append((s, t_id, int(row[f"n{s}"] or 0), rank))
    return spark.createDataFrame(
        out,
        "nprobe_super: long, true_nn: long, n_candidates: long, approx_rank: long",
    ).orderBy("nprobe_super")


def _ivfpq_rank_eval_oracle(nprobes: "tuple[int, ...]" = (1, 2, 4)) -> str:
    '''Rank-eval oracle over the residual-IVFPQ CTE chain (reused
    VERBATIM — extraction fails at import time if the fragment drifts):
    the true NN by exact cosine, then for each nprobe the candidate
    count and the true NN's 1-based rank in the ADC ordering (0 = the
    probe set missed its cell).'''
    marker = "SELECT a.vec_id, a.cell, a.adc_dist"
    parts = _IVFPQ_RESIDUAL_SQL.split(marker)
    if len(parts) != 2:
        raise ValueError("IVFPQ oracle fragment drifted — final SELECT marker not found")
    ivf_ctes = parts[0].rstrip().rstrip(",")
    rel = (
        f"{_dot('q.qv', 'e.embedding')} / "
        f"(sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))"
    )
    ctes = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f'''tn AS (SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
          ORDER BY {rel} DESC, e.vec_id LIMIT 1)''',
    ]
    rows = []
    for np_ in nprobes:
        ctes.append(
            f'''qp{np_} AS (SELECT cid AS cell FROM cscored
          WHERE vec_id = 0 ORDER BY cos_c DESC, cid DESC LIMIT {np_})'''
        )
        ctes.append(
            f'''cand{np_} AS (SELECT a.vec_id, a.adc_dist FROM adcr a
          JOIN qp{np_} p ON a.cell = p.cell WHERE a.vec_id <> 0)'''
        )
        ctes.append(
            f'''rk{np_} AS (SELECT vec_id, CAST(row_number() OVER (
              ORDER BY adc_dist, vec_id) AS BIGINT) AS rn FROM cand{np_})'''
        )
        rows.append(
            f'''SELECT CAST({np_} AS BIGINT) AS nprobe, t.vec_id AS true_nn,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{np_}) AS n_candidates,
           COALESCE((SELECT rn FROM rk{np_} WHERE rk{np_}.vec_id = t.vec_id), 0)
               AS approx_rank
        FROM tn t'''
        )
    nl = chr(10)
    return (
        ivf_ctes
        + "," + nl + "    "
        + ("," + nl + "    ").join(ctes)
        + nl + "    "
        + (nl + "    UNION ALL ").join(rows)
        + nl + "    ORDER BY nprobe" + nl + "    "
    )


@register(
    "llm_ivfpq_rank_eval",
    oracle=_ivfpq_rank_eval_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "pq", "report"),
)
def llm_ivfpq_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''Retrieval-quality metric for the composite residual-IVFPQ index
    (VERDICT r09 #6) — the per-probe-depth twin of ``llm_ann_rank_eval``
    (which scores the sign-LSH bucket ordering): for nprobe ∈ {1, 2, 4},
    WHERE does the true nearest neighbor (exact cosine argmax, ties to
    lowest id) land in the ADC ordering of the probed cells?
    approx_rank 1 = the index's first answer IS the true NN; 0 = the
    probe set missed the NN's cell entirely (the coarse-quantizer
    false-negative case); n_candidates = how much of the corpus each
    probe depth actually touches.  Integer ranks on integer ADC
    distances — division-free, engine-exact.

    Scale shape: one residual-ADC scoring pass over the corpus (the
    gated ``pq_encode_adc_residual`` machinery), persisted and probed
    three times with cell-literal filters; the exact arm is one
    TakeOrdered(1); driver traffic is the query vector, the 8-cell
    probe ranking, and three 1-row aggregates.'''
    import math

    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    small = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    }
    cents = [(j, small[j]) for j in range(8)]
    qv = small[0]

    def cos_to(cv: "list[float]") -> float:
        d = sum(float(a) * float(b) for a, b in zip(qv, cv))
        return d / (
            math.sqrt(sum(float(a) * float(a) for a in qv))
            * math.sqrt(sum(float(b) * float(b) for b in cv))
        )

    ranking = [cid for cid, _ in sorted(cents, key=lambda c: (-cos_to(c[1]), -c[0]))]
    res_cb = sim2.residual_codebook(e, cents, lo=16, hi=32)
    scored = track_persist(
        sim2.pq_encode_adc_residual(e, qv, cents, res_cb, m=2).filter(
            F.col("vec_id") != 0
        )
    )
    qv_lit = F.array(*[F.lit(float(x)) for x in qv])
    t = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", cosine(qv_lit, F.col("embedding")).alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .collect()[0]
    )
    t_id = int(t["vec_id"])
    t_row = scored.filter(F.col("vec_id") == t_id).select("cell", "adc_dist").collect()
    t_cell = int(t_row[0]["cell"])
    t_dist = int(t_row[0]["adc_dist"])
    out = []
    for np_ in (1, 2, 4):
        probes = [int(c) for c in ranking[:np_]]
        cand = scored.filter(F.col("cell").isin(probes))
        before = (F.col("adc_dist") < t_dist) | (
            (F.col("adc_dist") == t_dist) & (F.col("vec_id") < t_id)
        )
        agg = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(before, 1).otherwise(0)).cast("long").alias("n_before"),
        ).collect()[0]
        rank = int(agg["n_before"] or 0) + 1 if t_cell in probes else 0
        out.append((np_, t_id, int(agg["n"]), rank))
    return spark.createDataFrame(
        out, "nprobe: long, true_nn: long, n_candidates: long, approx_rank: long"
    ).orderBy("nprobe")


def _mmr_ann_oracle(k: int = 5, pool: int = 32, lam: str = "0.7", oml: str = "0.3") -> str:
    '''The ANN-pooled MMR oracle: the residual-IVFPQ CTE chain (reused
    VERBATIM from ``_IVFPQ_RESIDUAL_SQL`` — extraction fails at import
    time if that fragment drifts) produces the adc-ordered candidate
    pool, exact cosine re-scores the pool members (standard
    retrieve-approximately / rerank-exactly), and the same unrolled
    greedy steps as ``_mmr_oracle`` select k.  A pool_overlap column
    (|ANN pool ∩ exact top-pool|, constant across rows) pins the
    retrieval-quality cost of the approximate pool.'''
    marker = "SELECT a.vec_id, a.cell, a.adc_dist"
    parts = _IVFPQ_RESIDUAL_SQL.split(marker)
    if len(parts) != 2:
        raise ValueError("IVFPQ oracle fragment drifted — final SELECT marker not found")
    ivf_ctes = parts[0].rstrip().rstrip(",")  # "WITH cents AS (...), ..., adcr AS (...)"
    rel = (
        f"{_dot('q.qv', 'e.embedding')} / "
        f"(sqrt({_dot('q.qv', 'q.qv')}) * sqrt({_dot('e.embedding', 'e.embedding')}))"
    )
    sim_ = (
        f"{_dot('a.v', 'b.v')} / "
        f"(sqrt({_dot('a.v', 'a.v')}) * sqrt({_dot('b.v', 'b.v')}))"
    )
    ctes = [
        f'''annpool AS (SELECT a.vec_id FROM adcr a JOIN qp ON a.cell = qp.cell
          WHERE a.vec_id <> 0 ORDER BY a.adc_dist, a.vec_id LIMIT {pool})''',
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f'''c AS (SELECT e.vec_id, e.embedding AS v, {rel} AS rel
          FROM embeddings e JOIN annpool ap ON ap.vec_id = e.vec_id, q)''',
        f'''ex AS (SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
          ORDER BY {rel} DESC, e.vec_id LIMIT {pool})''',
        '''ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS pool_overlap
          FROM annpool JOIN ex USING (vec_id))''',
        f'''p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, {sim_} AS sim
          FROM c a JOIN c b ON a.vec_id <> b.vec_id)''',
        "s1 AS (SELECT vec_id, rel, rel AS marginal FROM c ORDER BY rel DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id FROM s1)",
    ]
    for j in range(2, k + 1):
        ctes.append(
            f'''m{j} AS (SELECT c.vec_id, c.rel,
               {lam} * c.rel - {oml} * MAX(p.sim) AS marginal
        FROM c JOIN p ON p.ia = c.vec_id
        JOIN sel{j-1} s ON s.vec_id = p.ib
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{j-1})
        GROUP BY c.vec_id, c.rel)'''
        )
        ctes.append(
            f"s{j} AS (SELECT vec_id, rel, marginal FROM m{j} "
            f"ORDER BY marginal DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"sel{j} AS (SELECT vec_id FROM sel{j-1} UNION ALL SELECT vec_id FROM s{j})"
        )
    finals = [
        f"SELECT CAST({j} AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS vec_id, "
        f"rel AS relevance, marginal FROM s{j}"
        for j in range(1, k + 1)
    ]
    nl = chr(10)
    union = (nl + "    UNION ALL ").join(finals)
    return (
        ivf_ctes
        + "," + nl + "    "
        + ("," + nl + "    ").join(ctes)
        + nl + f"    SELECT u.rank, u.vec_id, u.relevance, u.marginal, ov.pool_overlap"
        + nl + f"    FROM ({union}) u CROSS JOIN ov"
        + nl + "    ORDER BY rank" + nl + "    "
    )


@register(
    "llm_mmr_topk_ann",
    oracle=_mmr_ann_oracle(),
    tags=("llm", "similarity", "retrieval", "rerank", "ann"),
)
def llm_mmr_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''ANN-pooled MMR (VERDICT r09 #3): ``mmr_topk``'s candidate pool
    sourced from the gated residual-IVFPQ path instead of the exact
    brute-force top-k — the composition a 100 TB retrieval stack
    actually runs (coarse-probe nprobe=2 cells → residual-ADC rank →
    top-32 candidate pool → exact-cosine rerank → greedy MMR), held to
    the exact-pool gate ``llm_mmr_topk`` as its anchor.

    Phases at their altitudes: the corpus is touched ONLY by the gated
    IVFPQ machinery (coarse assign + residual encode + cell-restricted
    ADC — no new corpus shuffle is introduced; the pool fetch is a
    32-literal IN filter pushed into the scan) and one exact-cosine
    TakeOrdered for the overlap baseline; the rerank + greedy refine
    (``similarity.mmr_refine``, shared with the anchor) run on the
    32-row pool driver-side.

    The ``pool_overlap`` column pins the retrieval-quality cost of the
    approximate pool as a gated number: |ANN pool ∩ exact top-32| —
    the anchor-vs-deployed pattern of ``llm_ccnet_assign``.'''
    import math

    from data_engineering_project_utn_spark.llm import similarity as sim2
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    pool = 32
    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    small = {
        int(r["vec_id"]): list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    }
    cents = [(j, small[j]) for j in range(8)]
    qv = small[0]

    def cos_to(cv: "list[float]") -> float:
        d = sum(float(a) * float(b) for a, b in zip(qv, cv))
        return d / (
            math.sqrt(sum(float(a) * float(a) for a in qv))
            * math.sqrt(sum(float(b) * float(b) for b in cv))
        )

    probed = [
        cid for cid, _ in sorted(cents, key=lambda c: (-cos_to(c[1]), -c[0]))[:2]
    ]
    res_cb = sim2.residual_codebook(e, cents, lo=16, hi=32)
    scored = sim2.pq_encode_adc_residual(e, qv, cents, res_cb, m=2)
    ann_ids = [
        int(r["vec_id"])
        for r in scored.filter(F.col("cell").isin([int(c) for c in probed]))
        .filter(F.col("vec_id") != 0)
        .orderBy("adc_dist", "vec_id")
        .limit(pool)
        .collect()
    ]
    qv_lit = F.array(*[F.lit(float(x)) for x in qv])
    rel = cosine(qv_lit, F.col("embedding"))
    cand = [
        (int(r["vec_id"]), [float(x) for x in r["_v"]], float(r["rel"]))
        for r in e.filter(F.col("vec_id").isin(ann_ids))
        .select("vec_id", F.col("embedding").alias("_v"), rel.alias("rel"))
        .collect()
    ]
    sel = sim2.mmr_refine(cand, k=5)
    exact_ids = {
        int(r["vec_id"])
        for r in e.filter(F.col("vec_id") != 0)
        .select("vec_id", rel.alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(pool)
        .collect()
    }
    overlap = len(set(ann_ids) & exact_ids)
    return spark.createDataFrame(
        [
            (int(r), int(i), float(relv), float(m), int(overlap))
            for r, i, relv, m in sel
        ],
        "rank: long, vec_id: long, relevance: double, marginal: double, "
        "pool_overlap: long",
    ).orderBy("rank")


@register(
    "llm_sq8_error",
    oracle="""
    WITH xq AS (SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         FROM embeddings),
    mm AS (SELECT CAST(dim AS BIGINT) AS dim, MIN(x) AS minq, MAX(x) AS maxq
           FROM xq GROUP BY dim),
    enc AS (SELECT m.dim, v.x, m.minq, m.maxq,
                   CASE WHEN m.maxq > m.minq
                        THEN ((v.x - m.minq) * 255) // (m.maxq - m.minq)
                        ELSE 0 END AS code
            FROM xq v JOIN mm m ON m.dim = v.dim),
    err AS (SELECT dim, minq, maxq,
                   x - (minq + (code * (maxq - minq)) // 255) AS e
            FROM enc)
    SELECT dim, MIN(minq) AS minq, MIN(maxq) AS maxq,
           CAST(CAST(SUM(CAST(e * e AS HUGEINT)) AS DECIMAL(38,0)) AS DOUBLE)
               AS sum_sq_err,
           CAST(MAX(ABS(e)) AS BIGINT) AS max_abs_err
    FROM err GROUP BY dim ORDER BY dim
    """,
    tags=("llm", "similarity", "ann", "quantization", "report"),
)
def llm_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization error profile
    (``similarity.scalar_quantization_report``): per dimension, the
    affine 8-bit grid between corpus min/max and the exact integer
    reconstruction error it costs — one row per dim with the summed
    squared error (DECIMAL) and the worst absolute error.  Completes
    the vector-compression family: PQ (codebook, m bytes/vector,
    training) vs SQ8 (no codebook, 1 byte/dim) is a PER-CORPUS trade,
    and this gate pins the SQ side of it next to ``llm_pq_recall``'s.
    The d-row min/max frame is the entire model — at rest SQ8 storage
    is codes + that frame, decodable scan-side with no join."""
    from data_engineering_project_utn_spark.llm import similarity as sim2

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return sim2.scalar_quantization_report(e)


_HARD_NEGATIVES_ORACLE = f"""
    WITH anch AS (SELECT vec_id AS aid, label AS albl, embedding AS av
                  FROM embeddings WHERE vec_id < 6),
    sc AS (SELECT a.aid, e.vec_id,
                  {_dot('a.av', 'e.embedding')}
                  / (sqrt({_dot('a.av', 'a.av')})
                     * sqrt({_dot('e.embedding', 'e.embedding')})) AS cos_sim
           FROM anch a JOIN embeddings e ON e.label <> a.albl),
    rk AS (SELECT aid, vec_id, cos_sim,
                  ROW_NUMBER() OVER (PARTITION BY aid
                                     ORDER BY cos_sim DESC, vec_id) AS rnk
           FROM sc)
    SELECT aid AS anchor_id, CAST(rnk AS BIGINT) AS neg_rank,
           vec_id AS neg_id, cos_sim
    FROM rk WHERE rnk <= 3
    ORDER BY anchor_id, neg_rank
    """


@register(
    "llm_hard_negatives",
    oracle=_HARD_NEGATIVES_ORACLE,
    tags=("llm", "similarity", "training", "report"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive embedding training (the
    in-batch-negatives upgrade every dense-retrieval recipe ships —
    DPR/Karpukhin et al. 2020 §4.2's "hard negatives" move): for each
    anchor in a model-size training batch, the top-3 most-cosine-similar
    corpus vectors carrying a DIFFERENT label — similar-but-wrong
    examples, the gradient-dense negatives random sampling almost never
    finds at scale.

    Scale shape: anchors are a training BATCH (bounded, driver-held —
    here the 6-row deterministic prefix); per anchor the corpus is
    scanned with one inline cosine fold and top-3 selected by
    TakeOrdered (per-partition heap + k·P driver merge — never a global
    sort, never a shuffle; the label-mismatch filter is scan-side).
    Total: |batch| passes over the cached corpus, zero wide exchanges,
    3·|batch| driver rows.  At 100 TB with large batches, flip the loop
    into the packed-anchor broadcast + per-anchor windowed top-k — the
    same trade ``llm_knn_join`` documents; the per-anchor TakeOrdered is
    the exchange-free shape for batch-sized anchor sets."""
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    anchors = (
        e.filter(F.col("vec_id") < 6)
        .select("vec_id", "label", "embedding")
        .collect()
    )
    out = []
    for a in sorted(anchors, key=lambda r: int(r["vec_id"])):
        av = F.array(*[F.lit(float(x)) for x in a["embedding"]])
        negs = (
            e.filter(F.col("label") != int(a["label"]))
            .select("vec_id", cosine(av, F.col("embedding")).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(3)
            .collect()
        )
        for i, r in enumerate(negs):
            out.append((int(a["vec_id"]), i + 1, int(r["vec_id"]), float(r["cos_sim"])))
    return spark.createDataFrame(
        out, "anchor_id: long, neg_rank: long, neg_id: long, cos_sim: double"
    ).orderBy("anchor_id", "neg_rank")


def _drift_report_oracle() -> str:
    from data_engineering_project_utn_spark.plans.llm_shared import (
        _cos,
        two_level_cells_ctes,
    )

    return f"""
    WITH {two_level_cells_ctes()},
    per AS (SELECT c.cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(SUM(CAST(FLOOR(({_cos('e.embedding', 'ct.cv')})
                       * 1000000000) AS BIGINT)) AS BIGINT) AS cos_sum_e9
            FROM cells c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN cents ct ON ct.cid = c.cell
            GROUP BY c.cell)
    SELECT cell, n_vecs, cos_sum_e9 FROM per ORDER BY cell
    """


@register(
    "llm_semantic_drift_report",
    oracle=_drift_report_oracle(),
    tags=("llm", "semantic", "drift", "quantizer"),
)
def llm_semantic_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantizer DRIFT REPORT (VERDICT r13 #6) as a first-class
    query: per-cell population + fixed-point cosine mass of every vector
    to its assigned centroid, over the two-level descent the semantic
    loop stores at rest.  This is the signal a deployment reads before
    deciding to re-train: falling cosine mass = the static quantizer no
    longer matches the ingested distribution; a ballooning cell count =
    partition pruning is dying (``similarity.should_retrain`` makes the
    call; ``retrain_semantic_layout`` is the nightly fix, planted-drift
    tested in ``TestSemanticDrift``).

    Cross-engine exactness: the per-row cosine is the shared bit-exact
    fold; the AGGREGATE is a sum of per-row ``floor(cos·10⁹)`` BIGINTs
    — order-independent integer addition, so Spark's partial aggregates
    and DuckDB's serial sum cannot diverge in the last float bit (the
    same fixed-point trick as the text-analysis gates).  One broadcast
    join (model-size centroid frame) + one partial-aggregated pass —
    at 100 TB this is a scan-bound nightly job with zero shuffle beyond
    the k-row aggregate."""
    from data_engineering_project_utn_spark.llm.similarity import cosine
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = sim.ivf_cells_2level(e, cdf)
    cents = cdf.select(F.col("cid").alias("cell"), "cv")
    return (
        assigned.join(F.broadcast(cents), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.floor(
                    cosine(F.col("embedding"), F.col("cv")) * F.lit(1000000000.0)
                ).cast("long")
            ).alias("cos_sum_e9"),
        )
        .orderBy("cell")
    )

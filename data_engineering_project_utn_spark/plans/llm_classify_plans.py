"""Classifier plan family: in-engine trained linear probe + k-NN
label-vote eval over the embeddings table (llm/classify.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.llm import classify as cl
from data_engineering_project_utn_spark.llm.compute import parallelize_compute
from data_engineering_project_utn_spark.persist import track_persist
from data_engineering_project_utn_spark.plans.llm_shared import (
    _QUALITY_CTES,
    _cos,
    two_level_cells_ctes,
)
from data_engineering_project_utn_spark.plans.registry import register
from data_engineering_project_utn_spark.tables import load_table

#: range() upper bound (exclusive) for the 65 feature positions: bias + 64.
_D1 = 66


def _idot(a: str, b: str) -> str:
    """Exact BIGINT dot of two integer lists (== the Spark fold)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]), "
        f"(a, b) -> a + b)"
    )


def _perceptron_ctes(steps: int = 3, pos_label: int = 2) -> "list[str]":
    """Unrolled batch-perceptron training CTE chain (xq, m1..m_{steps+1},
    u*, w*, g*) — ONE definition shared by the training gate and every
    oracle that deploys the trained weights, so the recurrence cannot
    fork.  All BIGINT on the X_SCALE grid; w₀ = 0."""
    dot = _idot
    ctes = [
        f"""xq AS MATERIALIZED (SELECT vec_id,
            CAST(CASE WHEN label = {pos_label} THEN 1 ELSE -1 END AS BIGINT) AS y,
            list_prepend(CAST({cl.X_SCALE} AS BIGINT),
                list_transform(embedding,
                    e -> CAST(floor(CAST(e AS DOUBLE) * {cl.X_SCALE}.0) AS BIGINT))) AS x
        FROM embeddings)""",
        "m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS mis FROM xq)",
        f"u1 AS (SELECT i, SUM(y * x[i]) AS u FROM xq, range(1, {_D1}) r(i) GROUP BY i)",
        f"""w1 AS (SELECT list(CAST(COALESCE(u.u, 0) AS BIGINT) ORDER BY r.i) AS w
        FROM range(1, {_D1}) r(i) LEFT JOIN u1 u ON u.i = r.i)""",
    ]
    for t in range(2, steps + 1):
        ctes += [
            f"g{t} AS (SELECT y, x, y * {dot('x', 'w.w')} AS marg FROM xq, w{t-1} w)",
            f"""m{t} AS (SELECT CAST(COUNT(*) FILTER (WHERE marg <= 0) AS BIGINT) AS mis
            FROM g{t})""",
            f"""u{t} AS (SELECT i, SUM(y * x[i]) AS u FROM g{t}, range(1, {_D1}) r(i)
            WHERE marg <= 0 GROUP BY i)""",
            f"""w{t} AS (SELECT list(CAST(w.w[r.i] + COALESCE(u.u, 0) AS BIGINT)
                ORDER BY r.i) AS w
            FROM range(1, {_D1}) r(i) LEFT JOIN u{t} u ON u.i = r.i, w{t-1} w)""",
        ]
    fin = steps + 1
    ctes += [
        f"g{fin} AS (SELECT y * {dot('x', 'w.w')} AS marg FROM xq, w{steps} w)",
        f"""m{fin} AS (SELECT CAST(COUNT(*) FILTER (WHERE marg <= 0) AS BIGINT) AS mis
        FROM g{fin})""",
    ]
    return ctes


def _perceptron_oracle(steps: int = 3, pos_label: int = 2) -> str:
    """Training-history oracle: per step the misclassified count before
    the update and ‖w‖₁ after it, plus the final eval row."""
    ctes = _perceptron_ctes(steps, pos_label)
    fin = steps + 1
    l1 = "list_reduce(list_transform(w, v -> abs(v)), (a, b) -> a + b)"
    rows = [
        f"""SELECT CAST({t} AS BIGINT) AS step, (SELECT mis FROM m{t}) AS mis_before,
           CAST((SELECT {l1} FROM w{min(t, steps)}) AS BIGINT) AS w_l1"""
        for t in range(1, fin + 1)
    ]
    nl = chr(10)
    return (
        nl + "    WITH " + ("," + nl + "    ").join(ctes)
        + nl + "    "
        + (nl + "    UNION ALL ").join(rows)
        + nl + "    ORDER BY step" + nl + "    "
    )


@register(
    "llm_linear_probe_perceptron",
    oracle=_perceptron_oracle(),
    tags=("llm", "classify", "report"),
)
def llm_linear_probe_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear probe trained IN-ENGINE: 3 batch-perceptron steps on the
    integer-quantized embeddings (label 2 vs rest — the learned-filter
    workload: CCNet/GPT-3-style model-based curation, with the model
    trained by the same engine that scores the corpus).

    Each step is ONE distributed aggregate (map-side partial sums; d+1
    driver rows — model-size, like the IVF centroid collects); all
    arithmetic is BIGINT on the X_SCALE grid, so the unrolled-CTE
    oracle reproduces the training run bit-for-bit.  Rows: per step the
    misclassified count BEFORE the update and ‖w‖₁ AFTER it, plus a
    final held-in eval row under the trained weights.
    """
    feat = track_persist(
        cl.quantized_features(
            parallelize_compute(load_table(spark, sf_dir, "embeddings")), pos_label=2
        )
    )
    history, w = cl.perceptron_train(feat, steps=3)
    final_mis = cl.perceptron_eval_mis(feat, w)
    rows = [(t, mis, l1) for t, mis, l1 in history]
    rows.append((len(history) + 1, final_mis, history[-1][2]))
    return spark.createDataFrame(
        rows, "step bigint, mis_before bigint, w_l1 bigint"
    ).orderBy("step")


@register(
    "llm_knn_label_eval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS true_label
               FROM embeddings WHERE vec_id < 16),
    sc AS (SELECT q.qid, q.true_label, e.vec_id, e.label AS nl,
                  {_cos('q.qv', 'e.embedding')} AS cs
           FROM q JOIN embeddings e ON e.vec_id <> q.qid),
    top AS (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cs DESC, vec_id) AS rnk FROM sc),
    v AS (SELECT qid, true_label, nl, CAST(COUNT(*) AS BIGINT) AS votes
          FROM top WHERE rnk <= 5 GROUP BY qid, true_label, nl),
    p AS (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY votes DESC, nl) AS vr FROM v)
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(nl AS BIGINT) AS pred_label,
           votes,
           nl = true_label AS correct
    FROM p WHERE vr = 1
    """,
    tags=("llm", "classify", "knn", "report"),
)
def llm_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label eval for the first 16 vectors: does the
    embedding space cluster by label?  Exact-cosine 5-NN (total order:
    cosine DESC, id ASC), majority vote (votes DESC, label ASC) — the
    retrieval-quality counterpart of the rank-eval trio, measured on
    LABELS instead of ranks.

    The 16-query block broadcasts against the corpus (linear, the
    knn-brute pattern); votes and argmax are model-size.  At 100 TB the
    brute scan swaps for the IVF/two-level probe with the same vote
    logic.
    """
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return cl.knn_label_eval(e, n_queries=16, k=5)


@register(
    "llm_cell_label_transfer",
    oracle=f"""
    WITH {two_level_cells_ctes()},
    sd AS (SELECT c.cell, e.label FROM cells c
           JOIN embeddings e USING (vec_id) WHERE e.vec_id < 64),
    cvotes AS (SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS votes
               FROM sd GROUP BY cell, label),
    cl AS (SELECT cell, label AS cell_label FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                  ORDER BY votes DESC, label) AS rn FROM cvotes) WHERE rn = 1),
    ul AS (SELECT c.vec_id, e.label AS true_label,
                  COALESCE(cl.cell_label, -1) AS pred_label
           FROM cells c
           JOIN embeddings e USING (vec_id)
           LEFT JOIN cl USING (cell)
           WHERE e.vec_id >= 64)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ul GROUP BY true_label, pred_label
    """,
    tags=("llm", "classify", "ivf", "report"),
)
def llm_cell_label_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide label transfer through the two-level IVF partition —
    the SCALE path of nearest-neighbor labeling: where ``llm_knn_label_eval``
    scans the corpus per query (exact, per-query cost O(N·d)), this labels
    EVERY unlabeled vector in one assignment pass: seeds (vec_id < 64)
    vote per cell (votes DESC, label ASC), each non-seed inherits its
    cell's majority label (cells with no seed → −1), and the gate pins
    the full confusion matrix (true_label, pred_label, n).

    This is the semdedup-style cluster-labeling workload: one two-level
    descent per row (≈2√k cosines), one cell-key aggregate over 64 seed
    rows, and a ≤k-row broadcast join back — no per-query corpus scan,
    the same one-pass shape that labels 10¹¹ rows on a 1000-executor
    cluster.  Shares the descent CTE with the semdedup/ANN twins so the
    assignment arithmetic cannot fork.
    """
    from pyspark.sql.window import Window

    from data_engineering_project_utn_spark.llm import similarity as sim

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cells = track_persist(
        sim.ivf_cells_2level(e, cdf).select("vec_id", "label", "cell")
    )
    votes = (
        cells.filter(F.col("vec_id") < 64)
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    wv = Window.partitionBy("cell").orderBy(F.desc("votes"), F.asc("label"))
    cell_label = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("label").alias("cell_label"))
    )
    return (
        cells.filter(F.col("vec_id") >= 64)
        .join(F.broadcast(cell_label), "cell", "left")
        .select(
            F.col("label").cast("long").alias("true_label"),
            F.coalesce(F.col("cell_label"), F.lit(-1)).cast("long").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "llm_rocchio_centroid_eval",
    oracle=f"""
    WITH xq AS MATERIALIZED (SELECT vec_id, label,
            list_transform(embedding,
                e -> CAST(floor(CAST(e AS DOUBLE) * {cl.X_SCALE}.0) AS BIGINT)) AS x
        FROM embeddings),
    su AS (SELECT label, i, SUM(xi) AS s, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT label, unnest(range(1, len(x) + 1)) AS i,
                        unnest(x) AS xi
                 FROM xq WHERE vec_id < 64)
           GROUP BY label, i),
    ce AS (SELECT label,
                  list(CAST((s * {cl.C_SCALE}
                             - ((s * {cl.C_SCALE} % n) + n) % n) // n AS BIGINT)
                       ORDER BY i) AS c
           FROM su GROUP BY label),
    sc AS (SELECT q.vec_id, q.label AS true_label, ce.label AS cl,
                  list_reduce(list_transform(list_zip(q.x, ce.c),
                      p -> p[1] * p[2]), (a, b) -> a + b) AS sc
           FROM xq q CROSS JOIN ce WHERE q.vec_id >= 64),
    pr AS (SELECT true_label, cl AS pred_label FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY sc DESC, cl DESC) AS rn FROM sc) WHERE rn = 1)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pr GROUP BY true_label, pred_label
    """,
    tags=("llm", "classify", "report"),
)
def llm_rocchio_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid (Rocchio) classification eval: per-label
    integer MEAN centroids from the seed prefix (vec_id < 64) on the
    C_SCALE grid, every non-seed row assigned to the centroid with the
    highest integer dot product (= highest average similarity to the
    class seeds; ties → higher label, the struct-max order), confusion
    matrix out.

    The arithmetic survives any N: mean centroids are N-independent in
    magnitude (≤ X_SCALE·C_SCALE per entry), so the classify fold stays
    < 2⁶³ at 10¹¹ rows — unlike sum-centroids, whose dot grows with N.
    One seed aggregate (model-size driver rows), one literal-centroid
    scan, one |labels|²-row aggregate; no shuffle touches the corpus.
    The floor mean is exact cross-engine: Python's floor division ==
    the oracle's subtract-positive-remainder-then-truncate (the
    adjusted dividend is exactly divisible, so DuckDB's toward-zero
    ``//`` computes the same quotient).
    """
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    xq = track_persist(cl.quantized_embedding(e))
    cents = cl.rocchio_centroids(xq, n_seeds=64)
    return cl.rocchio_confusion(xq, cents, n_seeds=64)


def _model_quality_oracle() -> str:
    """Quality CTEs + the SHARED perceptron training chain, composed:
    quality-passing docs (≥ 0.4) are RANKED by the trained-probe score
    and the top half kept — 0-based rank r keeps 2r < N (ceil(N/2)
    rows), ties broken by doc_id, so the cut is exact and non-vacuous
    regardless of score calibration."""
    ctes = _QUALITY_CTES.rstrip() + ",\n    " + (",\n    ").join(_perceptron_ctes())
    sc = _idot("x.x", "w.w")
    return f"""
    WITH {ctes},
    scored AS (SELECT q.doc_id, q.quality, CAST({sc} AS BIGINT) AS score
               FROM q JOIN xq x ON x.vec_id = q.doc_id, w3 w
               WHERE q.quality >= 0.4),
    ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) - 1 AS r,
                      CAST(COUNT(*) OVER () AS BIGINT) AS total
               FROM scored)
    SELECT doc_id, quality, score FROM ranked WHERE r * 2 < total
    """


@register(
    "llm_model_quality_gate",
    oracle=_model_quality_oracle(),
    tags=("llm", "classify", "curation"),
)
def llm_model_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based curation, batch twin: train the linear probe in-engine
    (3 perceptron steps on the embeddings, label 2 vs rest), score every
    quality-passing document (heuristic quality ≥ 0.4), and keep the TOP
    HALF by probe score — the relative cut real deployments use (GPT-3's
    classifier filter, CCNet's head/middle buckets): an absolute
    score > 0 threshold is hostage to class balance and calibration
    (here it is vacuously empty — labels are chance-level against these
    embeddings), while a rank cut keeps exactly ⌈N/2⌉ rows under ANY
    score distribution.  The streaming arm deploys the same weights
    absolutely via ``make_curation_batch_fn(model_w=...)`` where the
    caller picks the threshold.

    Scale shape: scoring is one literal-weight JVM fold per row; the
    rank cut rides the distributed global-rank machinery (bucket
    exchange + per-bucket offsets, no SinglePartition stage).
    """
    from data_engineering_project_utn_spark.llm import text as tx
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )

    docs = parallelize_compute(load_table(spark, sf_dir, "documents"))
    emb = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    feat = track_persist(cl.quantized_features(emb, pos_label=2))
    _, w = cl.perceptron_train(feat, steps=3)
    scored = (
        docs.withColumn("quality", tx.quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.4)
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        )
        .select(
            "doc_id",
            "quality",
            cl.perceptron_score(w).alias("score"),
        )
        .withColumn("_negs", -F.col("score"))
    )
    ranked = with_global_rank(scored, ["_negs", "doc_id"])
    return ranked.filter(F.col("_rank0") * 2 < F.col("_total")).select(
        "doc_id", "quality", "score"
    )


def _multiclass_oracle(steps: int = 3) -> str:
    """One-vs-rest unrolled recurrence, all classes per CTE level: the
    class list is a first-class relation (lab), so one chain trains
    |labels| probes simultaneously — exactly the Spark step's
    explode-by-class shape."""
    dot = _idot
    ctes = [
        f"""xq AS MATERIALIZED (SELECT vec_id, label,
            list_prepend(CAST({cl.X_SCALE} AS BIGINT),
                list_transform(embedding,
                    e -> CAST(floor(CAST(e AS DOUBLE) * {cl.X_SCALE}.0) AS BIGINT))) AS x
        FROM embeddings)""",
        "lab AS (SELECT DISTINCT label FROM embeddings)",
        f"""u1 AS (SELECT l.label AS lb, r.i,
            SUM(CASE WHEN x.label = l.label THEN 1 ELSE -1 END * x.x[r.i]) AS u
        FROM xq x, lab l, range(1, {_D1}) r(i) GROUP BY l.label, r.i)""",
        f"""w1 AS (SELECT ll.label AS lb,
            list(CAST(COALESCE(u.u, 0) AS BIGINT) ORDER BY r.i) AS w
        FROM lab ll CROSS JOIN range(1, {_D1}) r(i)
        LEFT JOIN u1 u ON u.lb = ll.label AND u.i = r.i
        GROUP BY ll.label)""",
    ]
    for t in range(2, steps + 1):
        ctes += [
            f"""g{t} AS (SELECT x.vec_id, x.label, x.x, w.lb,
                CAST(CASE WHEN x.label = w.lb THEN 1 ELSE -1 END AS BIGINT) AS y,
                CAST(CASE WHEN x.label = w.lb THEN 1 ELSE -1 END AS BIGINT)
                    * {dot('x.x', 'w.w')} AS marg
            FROM xq x CROSS JOIN w{t-1} w)""",
            f"""u{t} AS (SELECT g.lb, r.i, SUM(g.y * g.x[r.i]) AS u
            FROM g{t} g, range(1, {_D1}) r(i) WHERE g.marg <= 0
            GROUP BY g.lb, r.i)""",
            f"""w{t} AS (SELECT w.lb,
                list(CAST(w.w[r.i] + COALESCE(u.u, 0) AS BIGINT) ORDER BY r.i) AS w
            FROM w{t-1} w CROSS JOIN range(1, {_D1}) r(i)
            LEFT JOIN u{t} u ON u.lb = w.lb AND u.i = r.i
            GROUP BY w.lb)""",
        ]
    return (
        "WITH " + (",\n    ").join(ctes) + f""",
    sc AS (SELECT x.vec_id, x.label AS true_label, w.lb,
                  {dot('x.x', 'w.w')} AS sc
           FROM xq x CROSS JOIN w{steps} w),
    pr AS (SELECT true_label, lb AS pred_label FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY sc DESC, lb DESC) AS rn FROM sc) WHERE rn = 1)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pr GROUP BY true_label, pred_label
    """
    )


@register(
    "llm_multiclass_perceptron_eval",
    oracle=_multiclass_oracle(),
    tags=("llm", "classify", "report"),
)
def llm_multiclass_perceptron_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest multiclass linear probe: ALL classes' binary
    perceptrons train simultaneously — per step one scan of the feature
    frame exploded by the class list, one (class, dim) aggregate
    (|labels|·(d+1) driver rows, model-size) — then every row is
    classified by the argmax of the |labels| integer scores (ties →
    higher label, the struct-max order) and the full confusion matrix is
    pinned.  The multiclass counterpart of ``llm_linear_probe_perceptron``
    (same grid, same recurrence per class) and the LEARNED counterpart of
    ``llm_rocchio_centroid_eval`` (trained probes vs class means over the
    identical features).
    """
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    feat = track_persist(cl.quantized_features_labeled(e))
    labels = sorted(
        int(r["label"]) for r in e.select("label").distinct().collect()
    )
    ws = cl.multiclass_perceptron_train(feat, labels, steps=3)
    return cl.multiclass_confusion(feat, ws)


def _calibration_oracle() -> str:
    """Perceptron chain + NTILE(10) lift table over the trained score."""
    ctes = (",\n    ").join(_perceptron_ctes())
    sc = _idot("x.x", "w.w")
    return f"""
    WITH {ctes},
    scr AS (SELECT x.vec_id, CASE WHEN x.y = 1 THEN 1 ELSE 0 END AS pos,
                   {sc} AS s
            FROM xq x, w3 w),
    nb AS (SELECT *, ntile(10) OVER (ORDER BY -s, vec_id) AS bin FROM scr)
    SELECT CAST(bin AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos
    FROM nb GROUP BY bin ORDER BY decile
    """


@register(
    "llm_probe_calibration",
    oracle=_calibration_oracle(),
    tags=("llm", "classify", "report"),
)
def llm_probe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift table for the trained linear probe: score every row with the
    trained weights, NTILE(10) by score (best decile first), and pin the
    positive count per decile — the calibration artifact that justifies
    (or indicts) the model gate's top-half rank cut: a working probe
    concentrates positives in the low deciles, a chance-level one
    spreads them flat, and either way the number is GATED, not assumed.

    The decile split is the distributed exact NTILE (bucket exchange +
    closed-form bin arithmetic, no SinglePartition window — same
    machinery as the decile headline); scoring is one literal-weight
    fold per row; training is the shared 3-step recurrence.
    """
    from data_engineering_project_utn_spark.operators.histogram import (
        distributed_ntile,
    )

    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    feat = track_persist(cl.quantized_features(e, pos_label=2))
    _, w = cl.perceptron_train(feat, steps=3)
    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    s = F.aggregate(
        F.zip_with(F.col("x"), warr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e_: acc + e_,
    )
    scored = feat.select(
        "vec_id",
        (F.col("y") == 1).cast("long").alias("_pos"),
        s.alias("_s"),
    ).withColumn("_negs", -F.col("_s"))
    binned = distributed_ntile(scored, ["_negs", "vec_id"], 10)
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_pos").cast("long").alias("n_pos"),
        )
        .select(F.col("bin").cast("long").alias("decile"), "n", "n_pos")
        .orderBy("decile")
    )


@register(
    "llm_knn_label_eval_ann",
    oracle=f"""
    WITH {two_level_cells_ctes()},
    q AS (SELECT c.vec_id AS qid, c.cell, e.embedding AS qv,
                 e.label AS true_label
          FROM cells c JOIN embeddings e USING (vec_id)
          WHERE c.vec_id < 16),
    cd AS (SELECT q.qid, q.true_label, c.vec_id, e.label AS nl,
                  {_cos('q.qv', 'e.embedding')} AS cs
           FROM q
           JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.qid
           JOIN embeddings e ON e.vec_id = c.vec_id),
    np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM cd GROUP BY qid),
    top AS (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cs DESC, vec_id) AS rnk FROM cd),
    v AS (SELECT qid, true_label, nl, CAST(COUNT(*) AS BIGINT) AS votes
          FROM top WHERE rnk <= 5 GROUP BY qid, true_label, nl),
    p AS (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY votes DESC, nl) AS vr FROM v)
    SELECT CAST(q.qid AS BIGINT) AS query_id,
           CAST(q.true_label AS BIGINT) AS true_label,
           CAST(COALESCE(p.nl, -1) AS BIGINT) AS pred_label,
           COALESCE(p.votes, 0) AS votes,
           COALESCE(np.n_candidates, 0) AS n_candidates,
           COALESCE(p.nl, -1) = q.true_label AS correct
    FROM q
    LEFT JOIN p ON p.qid = q.qid AND p.vr = 1
    LEFT JOIN np ON np.qid = q.qid
    """,
    tags=("llm", "classify", "knn", "ivf", "report"),
)
def llm_knn_label_eval_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYED twin of ``llm_knn_label_eval``: the same 16 queries
    vote over their CELL-MATES in the at-rest two-level assignment
    instead of the whole corpus — no per-query scan, the candidate pool
    is the layout a production index already stores (exactly what the
    brute gate's docstring promises at 100 TB), and the accuracy cost of
    the pool restriction is pinned side-by-side with the exact gate.
    ``n_candidates`` prices the pool; a query alone in its cell predicts
    −1 with zero votes (LEFT semantics, never dropped).

    One shared descent (the semdedup/ANN/label-transfer CTE), one
    cell-key equi-join for pools, model-size votes.
    """
    from pyspark.sql.window import Window

    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.llm.similarity import cosine

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim.derive_ivf_k(e.count())
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cells = track_persist(
        sim.ivf_cells_2level(e, cdf).select("vec_id", "label", "embedding", "cell")
    )
    q = F.broadcast(
        cells.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("qid"),
            F.col("cell").alias("_qcell"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("true_label"),
        )
    )
    cd = (
        q.join(
            cells,
            (F.col("cell") == F.col("_qcell")) & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            "true_label",
            "vec_id",
            F.col("label").alias("nl"),
            cosine(F.col("qv"), F.col("embedding")).alias("cs"),
        )
    )
    np_ = cd.groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    wk = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("vec_id"))
    votes = (
        cd.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 5)
        .groupBy("qid", "nl")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("nl"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", F.col("nl").alias("_pred"), F.col("votes").alias("_votes"))
    )
    return (
        q.select("qid", "true_label")
        .join(pred, "qid", "left")
        .join(np_, "qid", "left")
        .select(
            F.col("qid").cast("long").alias("query_id"),
            F.col("true_label").cast("long").alias("true_label"),
            F.coalesce(F.col("_pred"), F.lit(-1)).cast("long").alias("pred_label"),
            F.coalesce(F.col("_votes"), F.lit(0)).cast("long").alias("votes"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            (
                F.coalesce(F.col("_pred"), F.lit(-1)) == F.col("true_label")
            ).alias("correct"),
        )
    )


def _uncertainty_oracle() -> str:
    """Perceptron chain + lowest-|score| selection (most uncertain rows)."""
    ctes = (",\n    ").join(_perceptron_ctes())
    sc = _idot("x.x", "w.w")
    return f"""
    WITH {ctes},
    scr AS (SELECT x.vec_id, x.y, {sc} AS score FROM xq x, w3 w)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(score AS BIGINT) AS score,
           CAST(abs(score) AS BIGINT) AS margin_abs,
           y = 1 AS is_pos
    FROM scr
    ORDER BY abs(score), vec_id LIMIT 16
    """


@register(
    "llm_uncertainty_sample",
    oracle=_uncertainty_oracle(),
    tags=("llm", "classify", "curation", "report"),
)
def llm_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning pool selection (uncertainty sampling, Lewis & Gale
    '94): the 16 rows the trained probe is LEAST sure about — smallest
    \\|score\\|, ties by id — are exactly the rows a labeling budget buys
    the most from; the curation loop behind every iteratively-trained
    quality filter.  Integer scores, total order, TakeOrdered(16) — no
    global sort materializes.
    """
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    feat = track_persist(cl.quantized_features(e, pos_label=2))
    _, w = cl.perceptron_train(feat, steps=3)
    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    s = F.aggregate(
        F.zip_with(F.col("x"), warr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e_: acc + e_,
    )
    return (
        feat.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            s.alias("score"),
            F.abs(s).alias("margin_abs"),
            (F.col("y") == 1).alias("is_pos"),
        )
        .orderBy("margin_abs", "vec_id")
        .limit(16)
    )


def _averaged_oracle(steps: int = 3) -> str:
    """Perceptron chain + the AVERAGED weight vector (elementwise sum of
    the per-step snapshots — integer, no division: scaling a linear
    scorer by 1/T never changes sign or order, so Σw_t classifies
    identically to the mean) evaluated beside the final weights."""
    ctes = (",\n    ").join(_perceptron_ctes(steps))
    sc_f = _idot("x.x", "w.w")
    wl = " + ".join(f"w{t}.w[r.i]" for t in range(1, steps + 1))
    frm = ", ".join(f"w{t}" for t in range(1, steps + 1))
    l1 = "list_reduce(list_transform(w, v -> abs(v)), (a, b) -> a + b)"
    return f"""
    WITH {ctes},
    wa AS (SELECT list(CAST({wl} AS BIGINT) ORDER BY r.i) AS w
           FROM range(1, {_D1}) r(i), {frm}),
    mf AS (SELECT CAST(COUNT(*) FILTER (WHERE x.y * ({sc_f}) <= 0) AS BIGINT)
               AS mis FROM xq x, w{steps} w),
    ma AS (SELECT CAST(COUNT(*) FILTER (WHERE x.y * ({sc_f}) <= 0) AS BIGINT)
               AS mis FROM xq x, wa w)
    SELECT 'final' AS variant, (SELECT mis FROM mf) AS mis,
           CAST((SELECT {l1} FROM w{steps}) AS BIGINT) AS w_l1
    UNION ALL
    SELECT 'averaged' AS variant, (SELECT mis FROM ma) AS mis,
           CAST((SELECT {l1} FROM wa) AS BIGINT) AS w_l1
    ORDER BY variant
    """


@register(
    "llm_averaged_perceptron_eval",
    oracle=_averaged_oracle(),
    tags=("llm", "classify", "report"),
)
def llm_averaged_perceptron_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Averaged perceptron (Freund & Schapire '99) beside the plain final
    weights: the averaged variant sums the per-step weight snapshots —
    kept INTEGER (Σw_t classifies identically to the mean: a positive
    scalar never flips a linear score's sign), so the comparison stays
    on the exact grid.  Averaging damps the last-update thrash that
    makes the vanilla perceptron order-sensitive in deployment; whether
    it helps HERE is a gated number (mis per variant), not folklore.
    """
    feat = track_persist(
        cl.quantized_features(
            parallelize_compute(load_table(spark, sf_dir, "embeddings")), pos_label=2
        )
    )
    snaps: "list[list[int]]" = []
    _, w_final = cl.perceptron_train(feat, steps=3, collect_steps=snaps)
    w_avg = [sum(ws[i] for ws in snaps) for i in range(len(w_final))]
    rows = [
        ("averaged", cl.perceptron_eval_mis(feat, w_avg), sum(abs(v) for v in w_avg)),
        ("final", cl.perceptron_eval_mis(feat, w_final), sum(abs(v) for v in w_final)),
    ]
    return spark.createDataFrame(rows, "variant string, mis bigint, w_l1 bigint").orderBy(
        "variant"
    )

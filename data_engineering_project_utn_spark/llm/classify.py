"""In-engine classifier training / evaluation over embedding columns.

The training-data-pipeline use case: a LEARNED filter (quality, topic,
language) scored over the whole corpus — CCNet's fastText quality model,
GPT-3's WebText-vs-Common-Crawl logistic filter — where the model is
model-size (d+1 weights) but the training pass is corpus-size.  Spark
shape: every iteration is ONE aggregate over the quantized feature
frame (map-side partial sums, no shuffle beyond the d-group aggregate);
the weight vector is driver state between iterations, exactly like the
IVF centroid and power-iteration machinery (similarity.py).

Arithmetic contract (the determinism rule every gate here rides):
features quantize to an integer grid — ``floor(x · 1000)`` per
dimension plus a bias fixed at the same scale — so per-row margins,
per-step updates, and weight vectors are EXACT BIGINT quantities with
no float-order dependence; the DuckDB oracles unroll the identical
integer recurrence (the BPE-style unrolled-CTE pattern).

Why a perceptron and not logistic GD: the logistic gradient needs a
sigmoid — a transcendental whose last-ulp behavior differs across
engines — while the perceptron update Σ_{margin≤0} y·x is pure integer
arithmetic, closed under the grid.  Magnitude bound: |x_i| ≤ 1000,
|w_i| after T steps ≤ T·N·1000, so a margin fold is ≤ (d+1)·T·N·10⁶ —
under 2⁶³ for N up to ~10¹² rows at T=3, d=64 (document before raising
T or the grid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.persist import track_persist

#: Feature grid: matches the oracle literal 1000.0 (and the bias lit).
X_SCALE = 1000


def quantized_features(
    embeddings: DataFrame,
    pos_label: int,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(vec_id, y ∈ {+1,−1}, x array<bigint>) — bias X_SCALE prepended,
    every dimension floor-quantized to the X_SCALE grid (the same floor
    contract as the power-iteration base; oracle: ``list_prepend``)."""
    xq = F.concat(
        F.array(F.lit(X_SCALE).cast("long")),
        F.transform(
            F.col(vec_col),
            lambda e: F.floor(e.cast("double") * F.lit(float(X_SCALE))).cast("long"),
        ),
    )
    y = (
        F.when(F.col(label_col) == F.lit(int(pos_label)), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )
    return embeddings.select("vec_id", y.alias("y"), xq.alias("x"))


def _weight_rows(spark, ws_sorted: "list[tuple[int, list[int]]]") -> DataFrame:
    """(lb, dim, wv) weight-matrix frame — the broadcast model carrier of
    the codegen dot path (r14).  Zero weights are KEPT: the per-row dot
    groups must exist for every (row, label) even when w = 0 (step 1 of
    training classifies everything as misclassified off the zero margin)."""
    rows = [
        (int(lb), i, int(v)) for lb, w in ws_sorted for i, v in enumerate(w)
    ]
    return spark.createDataFrame(rows, "lb long, dim int, wv long")


def _dots_by_label(feat: DataFrame, wdf: DataFrame, keys: "list[str]") -> DataFrame:
    """Per-(row, label) exact integer dot products ⟨w_lb, x⟩, computed in
    WholeStageCodegen (r14, guide §4.1): the feature array explodes to
    one (keys, dim, xi) row per element, joins the BROADCAST weight
    frame on dim, and a grouped sum reassembles the dot — integer
    addition is associative, so the sums match the former interpreted
    zip_with/aggregate fold bit-for-bit while running ~an order of
    magnitude faster (HOF lambdas are CodegenFallback).  Output:
    keys + (lb, dot); shuffle is keys·|labels| narrow rows after
    map-side partial aggregation."""
    expl = feat.select(*keys, F.posexplode("x").alias("dim", "xi"))
    return (
        expl.join(F.broadcast(wdf), "dim")
        .groupBy(*keys, "lb")
        .agg(F.sum(F.col("xi") * F.col("wv")).alias("dot"))
    )


def perceptron_train(
    feat: DataFrame,
    steps: int = 3,
    collect_steps: "list[list[int]] | None" = None,
) -> "tuple[list[tuple[int, int, int]], list[int]]":
    """Batch (Rosenblatt) perceptron: w₀ = 0; per step, every currently
    misclassified row (margin ≤ 0) contributes y·x to the update, in one
    distributed pass.  Returns ([(step, mis_before, ‖w‖₁ after)], w).

    Per step the ONLY driver traffic is d+1 (dim, Σ y·xᵢ, count) rows —
    model-size, like the IVF centroid collects; the misclassified count
    rides the same aggregate (every misclassified row explodes all d+1
    dims, so any dim's group count IS the row count).  The feature frame
    must be persisted by the caller (each step re-scans it once)."""
    d1 = len(feat.select("x").first()["x"])
    spark = feat.sparkSession
    w = [0] * d1
    history: list[tuple[int, int, int]] = []
    # element-exploded features, persisted once for all steps (r14): the
    # margin and the update both run off it in codegen (see
    # _dots_by_label) instead of the former interpreted per-row fold
    expl = track_persist(
        feat.select("vec_id", "y", F.posexplode("x").alias("dim", "xi"))
    )
    for t in range(1, steps + 1):
        wdf = _weight_rows(spark, [(0, w)])
        mis_ids = (
            expl.join(F.broadcast(wdf), "dim")
            .groupBy("vec_id", "y")
            .agg(F.sum(F.col("xi") * F.col("wv")).alias("dot"))
            .filter(F.col("y") * F.col("dot") <= 0)
            .select("vec_id")
        )
        upd = (
            expl.join(mis_ids, "vec_id", "left_semi")
            .groupBy("dim")
            .agg(
                F.sum(F.col("y") * F.col("xi")).alias("u"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        mis = int(upd[0]["c"]) if upd else 0
        for r in upd:
            w[int(r["dim"])] += int(r["u"])
        history.append((t, mis, sum(abs(v) for v in w)))
        if collect_steps is not None:
            collect_steps.append(list(w))
    return history, w


def perceptron_eval_mis(feat: DataFrame, w: "list[int]") -> int:
    """Misclassified count of ``feat`` under fixed weights ``w``."""
    spark = feat.sparkSession
    wdf = _weight_rows(spark, [(0, w)])
    n = (
        _dots_by_label(feat, wdf, ["vec_id", "y"])
        .filter(F.col("y") * F.col("dot") <= 0)
        .count()
    )
    return int(n)


def knn_label_eval(
    embeddings: DataFrame,
    n_queries: int = 16,
    k: int = 5,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification eval — the embedding-quality
    probe behind "do my vectors cluster by label?": for each of the
    first ``n_queries`` vectors, take the k exact-cosine nearest
    OTHER vectors (total order: cosine DESC, vec_id ASC), majority-vote
    their labels (ties → more votes first, then smaller label), and
    report (query_id, true_label, pred_label, votes, correct).

    Scale shape: the query block is n_queries rows — broadcast against
    the corpus (n_q·N cosine folds, embarrassingly parallel); per-query
    top-k is a window over the n_q partitions (each a candidate set of
    N rows hash-partitioned by query id — at 100 TB swap the brute
    scan for the IVF/two-level probe, same vote logic).  The vote agg
    and argmax are k·n_q rows — model-size."""
    from pyspark.sql.window import Window

    from data_engineering_project_utn_spark.llm.similarity import cosine

    e = track_persist(embeddings.select("vec_id", vec_col, label_col))
    q = F.broadcast(
        e.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("true_label"),
        )
    )
    scored = (
        q.join(e, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "true_label",
            "vec_id",
            F.col(label_col).alias("nl"),
            cosine(F.col("qv"), F.col(vec_col)).alias("cs"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("vec_id"))
    top = scored.withColumn("rnk", F.row_number().over(wk)).filter(F.col("rnk") <= k)
    votes = top.groupBy("qid", "true_label", "nl").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("nl"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").cast("long").alias("query_id"),
            F.col("true_label").cast("long").alias("true_label"),
            F.col("nl").cast("long").alias("pred_label"),
            "votes",
            (F.col("nl") == F.col("true_label")).alias("correct"),
        )
    )


def quantized_embedding(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(vec_id, label, x array<bigint>) — X_SCALE floor grid, NO bias
    (the centroid family wants raw dimensions; the probe adds its own)."""
    xq = F.transform(
        F.col(vec_col),
        lambda e: F.floor(e.cast("double") * F.lit(float(X_SCALE))).cast("long"),
    )
    return embeddings.select("vec_id", F.col(label_col).alias("label"), xq.alias("x"))


#: Centroid mean grid: c_l[i] = floor(Σx_i · C_SCALE / n_l) — the scale that
#: makes integer mean centroids N-INDEPENDENT in magnitude (≤ X_SCALE·C_SCALE
#: per entry), so the classify dot fold stays < 2⁶³ at any corpus size.
C_SCALE = 10**6


def rocchio_centroids(
    xq: DataFrame, n_seeds: int = 64
) -> "list[tuple[int, list[int]]]":
    """Per-label integer mean centroids from the seed prefix
    (vec_id < n_seeds): exact BIGINT dimension sums (one distributed
    aggregate, |labels|·d driver rows — model-size), then the exact
    floor mean on the C_SCALE grid, computed driver-side with Python's
    floor division (== the oracle's subtract-positive-remainder-then-
    divide, since the adjusted dividend is exactly divisible)."""
    rows = (
        xq.filter(F.col("vec_id") < n_seeds)
        .select("label", F.posexplode("x").alias("dim", "xi"))
        .groupBy("label", "dim")
        .agg(F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_label: dict[int, dict[int, tuple[int, int]]] = {}
    for r in rows:
        by_label.setdefault(int(r["label"]), {})[int(r["dim"])] = (
            int(r["s"]),
            int(r["n"]),
        )
    cents = []
    for lbl in sorted(by_label):
        dims = by_label[lbl]
        d = len(dims)
        cents.append(
            (lbl, [(dims[i][0] * C_SCALE) // dims[i][1] for i in range(d)])
        )
    return cents


def rocchio_confusion(
    xq: DataFrame,
    cents: "list[tuple[int, list[int]]]",
    n_seeds: int = 64,
) -> DataFrame:
    """Confusion matrix (true_label, pred_label, n) of nearest-centroid
    classification over the non-seed rows: pred = argmax over labels of
    the integer dot ⟨x, c_l⟩ (average-similarity-to-class on the grid;
    ties → higher label, the struct-max order).  Centroids ride the plan
    as literals (|labels|·d ints — model-size, the literal-centroid
    regime of ``_ivf_scored``); one scan, no shuffle before the final
    |labels|²-row aggregate."""
    # codegen argmax (r14): the centroid matrix rides as a broadcast
    # (lb, dim, wv) frame through _dots_by_label; struct-max keeps the
    # higher-label tie-break; exact integer arithmetic throughout
    wdf = _weight_rows(xq.sparkSession, [(lbl, cv) for lbl, cv in cents])
    return (
        _dots_by_label(
            xq.filter(F.col("vec_id") >= n_seeds), wdf, ["vec_id", "label"]
        )
        .groupBy("vec_id", "label")
        .agg(
            F.max(
                F.struct(F.col("dot").alias("sc"), F.col("lb").alias("lb"))
            ).alias("_m")
        )
        .select(
            F.col("label").cast("long").alias("true_label"),
            F.col("_m.lb").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def perceptron_score(w: "list[int]", vec_col: str = "embedding") -> F.Column:
    """Deployment-side score of a trained probe: ⟨w, [X_SCALE] ++
    floor(v·X_SCALE)⟩ as an exact BIGINT fold (accept when > 0 — the
    model-based curation filter).  The weights ride the plan as literals
    (model-size, like the literal centroids), so scoring is one
    JVM-side fold per row with no join at all."""
    xq = F.concat(
        F.array(F.lit(X_SCALE).cast("long")),
        F.transform(
            F.col(vec_col),
            lambda e: F.floor(e.cast("double") * F.lit(float(X_SCALE))).cast("long"),
        ),
    )
    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    return F.aggregate(
        F.zip_with(xq, warr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )


def multiclass_perceptron_train(
    feat: DataFrame, labels: "list[int]", steps: int = 3
) -> "dict[int, list[int]]":
    """One-vs-rest batch perceptron over ALL classes in one pass per
    step: every (row, class) pair whose binary margin y_l·⟨w_l, x⟩ ≤ 0
    (y_l = +1 iff label = l) contributes y_l·x to that class's update.
    Returns {label: w}.

    The per-step plan is ONE scan of the feature frame exploded by the
    |labels|-element class list (a broadcast literal — rows × classes is
    a narrow ×L map, not a shuffle), one (class, dim) aggregate —
    |labels|·(d+1) driver rows, model-size.  Same BIGINT grid as the
    binary trainer; the margin bound gains a factor |labels| in the
    weight magnitude, still < 2⁶³ for any realistic corpus."""
    d1 = len(feat.select("x").first()["x"])
    spark = feat.sparkSession
    ws: dict[int, list[int]] = {int(lb): [0] * d1 for lb in labels}
    # element-exploded features, persisted once for all steps; margins
    # and updates run in codegen off it (r14, see _dots_by_label)
    expl = track_persist(
        feat.select("vec_id", "label", F.posexplode("x").alias("dim", "xi"))
    )
    y = (
        F.when(F.col("label") == F.col("lb"), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )
    for _t in range(steps):
        wdf = _weight_rows(spark, sorted(ws.items()))
        mis = (
            expl.join(F.broadcast(wdf), "dim")
            .groupBy("vec_id", "label", "lb")
            .agg(F.sum(F.col("xi") * F.col("wv")).alias("dot"))
            .withColumn("_y", y)
            .filter(F.col("_y") * F.col("dot") <= 0)
            .select("vec_id", "lb", "_y")
        )
        upd = (
            mis.join(expl.select("vec_id", "dim", "xi"), "vec_id")
            .groupBy("lb", "dim")
            .agg(F.sum(F.col("_y") * F.col("xi")).alias("u"))
            .collect()
        )
        for r in upd:
            ws[int(r["lb"])][int(r["dim"])] += int(r["u"])
    return ws


def multiclass_confusion(
    feat: DataFrame, ws: "dict[int, list[int]]"
) -> DataFrame:
    """Confusion matrix (true_label, pred_label, n) of the one-vs-rest
    argmax: pred = class with the highest ⟨w_l, x⟩ (ties → higher label,
    the struct-max order).  Literal weight matrix, one scan, final
    |labels|²-row aggregate."""
    # codegen argmax (r14): per-(row, label) dots via _dots_by_label,
    # then a struct-max per row — (sc, lb) max ≡ the former array_max
    # tie-break (higher label wins ties); exact integer arithmetic
    wdf = _weight_rows(feat.sparkSession, sorted(ws.items()))
    return (
        _dots_by_label(feat, wdf, ["vec_id", "label"])
        .groupBy("vec_id", "label")
        .agg(
            F.max(
                F.struct(F.col("dot").alias("sc"), F.col("lb").alias("lb"))
            ).alias("_m")
        )
        .select(
            F.col("label").cast("long").alias("true_label"),
            F.col("_m.lb").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def quantized_features_labeled(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(vec_id, label, x array<bigint>) with the bias prepended — the
    multiclass trainer's input (per-class ±1 targets derive inside the
    step, so the label rides raw)."""
    xq = F.concat(
        F.array(F.lit(X_SCALE).cast("long")),
        F.transform(
            F.col(vec_col),
            lambda e: F.floor(e.cast("double") * F.lit(float(X_SCALE))).cast("long"),
        ),
    )
    return embeddings.select(
        "vec_id", F.col(label_col).alias("label"), xq.alias("x")
    )

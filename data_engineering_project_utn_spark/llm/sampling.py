"""Corpus curation operators — sampling, shard assignment, sequence packing.

The organizational layer of a training-data pipeline: after cleaning and
dedup, corpora are (1) *sampled* per stratum to hit a target data mixture,
(2) *shuffled and sharded* deterministically so every training run reads the
same byte-identical shards, and (3) *packed* into fixed-token context
windows.  All three are deterministic (hash-derived, never RNG-state) so
reruns and engines agree bit-for-bit, and all three are narrow or
single-shuffle ops:

* ``stratified_sample`` — pure projection + filter: a doc is kept iff
  md5(doc_id) falls under its stratum's rate threshold.  Scan-speed, no
  shuffle, rates exact in expectation at any scale.
* ``shard_assignment`` — md5-ordered global rank (the distributed
  bucket-exchange machinery from ``operators.histogram.with_global_rank`` —
  no single-partition stage) round-robined over n shards: shard sizes
  differ by at most 1 row, deterministically.
* ``pack_sequences`` — per-stream running token total (window cumsum over
  the stream key) → first-fit-contiguous context-window ids.  One shuffle
  on the stream key; at 100 TB the stream key must be shard-grained
  (e.g. the output of ``shard_assignment``), never a handful of sources.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.llm.text import token_count
from data_engineering_project_utn_spark.operators.histogram import with_global_rank


def doc_hash(id_col: Column | str) -> Column:
    """Deterministic per-doc hex digest (md5 of the decimal id string) —
    uniform in hex-string order, reproducible in any engine with md5."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(c.cast("string"))


def rate_threshold(rate: float) -> str:
    """Threshold T with P[md5 < T] = rate (to 1/2^32): lexicographic hex
    compare ≡ numeric compare at equal length.  rate=1.0 returns "g", which
    sorts after every hex digest (a 9-hex-digit "100000000…" would sort
    BEFORE digests starting ≥ '2' and silently drop them)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return "g"
    return format(int(rate * 16**8), "08x") + "0" * 24


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a doc iff its md5-uniform
    draw falls under its stratum's rate.  The mixture knob of every corpus
    pipeline (e.g. downsample web crawl, keep all books).  Unsampled strata
    default to ``default_rate``."""
    thr: Column = F.lit(rate_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(rate_threshold(rate))
        ).otherwise(thr)
    return docs.filter(doc_hash(id_col) < thr)


def shard_assignment(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle + sharding: order the corpus by
    md5(doc_id) (a reproducible pseudorandom permutation), round-robin the
    global rank over ``n_shards``.  Shard sizes differ by ≤ 1 row.  The
    global rank is distributed (bucket exchange + broadcast offsets — see
    with_global_rank); output keeps the hash so downstream stages can
    re-derive the order without re-ranking."""
    hashed = docs.withColumn("_shuffle_key", doc_hash(id_col))
    ranked = with_global_rank(hashed, ["_shuffle_key", id_col])
    return (
        ranked.withColumn("shard", (F.col("_rank0") % n_shards).cast("int"))
        .drop("_rank0", "_total")
        .withColumnRenamed("_shuffle_key", "shuffle_key")
    )


def pack_sequences(
    docs: DataFrame,
    window_tokens: int,
    stream_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each stream (ordered by
    doc id), documents are laid head-to-tail and the token stream is cut
    every ``window_tokens`` tokens; a doc's chunk is the window its first
    token lands in — integer arithmetic over a running token total, exact
    and engine-independent.  Columns: stream, doc_id, n_tokens, chunk_id,
    tokens_before."""
    # materialize the token count once before the window — embedding the
    # tokenizer expression both in the window sum and the projection would
    # re-split every document's text twice
    counted = docs.select(
        F.col(stream_col).alias("stream"),
        F.col(id_col).alias("doc_id"),
        token_count(text_col).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return counted.select(
        "stream",
        "doc_id",
        "n_tokens",
        before.alias("tokens_before"),
        F.floor(before / window_tokens).cast("long").alias("chunk_id"),
    )


#: τ values with an exact integer-grid form, mapped to the number of
#: correctly-rounded IEEE sqrt applications that realize tokens^τ (up to a
#: positive constant that cancels in every share/weight ratio).
_TAU_SQRT_STEPS = {1.0: 0, 0.5: 1, 0.25: 2, 0.125: 3}


def _temperature_score(tokens: F.Column, tau: float, s_scale: int) -> F.Column:
    """q_i ∝ tokens^τ on the floor(·s_scale) BIGINT grid, by repeated
    sqrt: each step maps the exact integer s to floor(√s · s_scale),
    which both engines compute identically (s is exact in a double below
    2⁵³ and IEEE sqrt is correctly rounded).  τ=1 is the identity
    (proportional sampling), τ=0 the constant 1 (uniform)."""
    if tau == 0.0:
        return F.lit(1).cast("long")
    steps = _TAU_SQRT_STEPS[tau]
    s = tokens.cast("long")
    for _ in range(steps):
        s = F.floor(F.sqrt(s.cast("double")) * F.lit(float(s_scale))).cast("long")
    return s


def temperature_score_sql(expr: str, tau: float, s_scale: int = 10**6) -> str:
    """The DuckDB twin of ``_temperature_score`` — the SAME repeated
    floor(√s · scale) composition as a SQL fragment, so oracles stay in
    lockstep with the Spark path by construction."""
    if tau == 0.0:
        return "CAST(1 AS BIGINT)"
    s = f"CAST({expr} AS BIGINT)"
    for _ in range(_TAU_SQRT_STEPS[tau]):
        s = f"CAST(floor(sqrt(CAST({s} AS DOUBLE)) * {float(s_scale)!r}) AS BIGINT)"
    return s


def temperature_mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    s_scale: int = 10**6,
    tau: float = 0.5,
) -> DataFrame:
    """Temperature-based domain mixture (mBERT/XLM-R style q_i ∝ p_i^τ
    up-weighting of small sources): per source, q_i ∝ tokens_i^τ,
    weight_i = q_i / p_i.  τ = 1/2 is the multilingual-LM standard
    default; τ ∈ {1, 1/2, 1/4, 1/8, 0} are supported — exactly the
    temperatures with an EXACT cross-engine form (free τ would need
    pow(), whose cross-engine rounding is not pinned).

    Every supported τ composes from correctly-rounded IEEE sqrt on a
    BIGINT grid: s_i = floor(√·· s_scale) applied 0..3 times
    (``_temperature_score``), so s_i is an integer both engines compute
    identically, the denominator Σs_i is an order-free INTEGER sum, and
    the weight divides two exact integer products once — no double
    accumulates across rows anywhere.  Limits pinned by tests: τ=1 →
    every weight exactly 1.0 (proportional); τ=0 → weight ∝ 1/p_i
    (uniform-over-sources, matching ``mixture_weights``' default
    target).

    weight > 1 = up-sample (small sources), < 1 = down-sample; at τ=1/2
    weights vary as 1/√p_i.  Products s_i·total_tokens stay in BIGINT
    through ~10¹² tokens per source at the default scale (the τ<1/2
    grids are SMALLER — each extra sqrt shrinks s_i); beyond that, move
    both engines' products to DECIMAL/HUGEINT in lockstep.

    Scale shape: identical to ``mixture_weights`` — one map-side-combined
    groupBy(source) + a single-row broadcast of the integer totals."""
    if tau != 0.0 and tau not in _TAU_SQRT_STEPS:
        raise ValueError(
            f"tau={tau!r} has no exact integer-grid form; supported: "
            f"{sorted(_TAU_SQRT_STEPS)} and 0.0"
        )
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(text_col)).cast("long").alias("tokens"),
    )
    s_i = _temperature_score(F.col("tokens"), tau, s_scale)
    per = per.select("source", "n_docs", "tokens", s_i.alias("_s"))
    totals = F.broadcast(
        per.agg(
            F.sum("tokens").cast("long").alias("_total_tokens"),
            F.sum("_s").cast("long").alias("_s_sum"),
        )
    )
    share = F.col("tokens").cast("double") / F.col("_total_tokens").cast("double")
    temp_share = F.col("_s").cast("double") / F.col("_s_sum").cast("double")
    weight = (F.col("_s") * F.col("_total_tokens")).cast("double") / (
        F.col("_s_sum") * F.col("tokens")
    ).cast("double")
    return per.join(totals).select(
        "source",
        "n_docs",
        "tokens",
        share.alias("actual_share"),
        temp_share.alias("temp_share"),
        weight.alias("weight"),
    )


def mixture_weights(
    docs: DataFrame,
    target_shares: dict[str, float] | None = None,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture weights: per-source token statistics plus the
    resampling weight that moves the corpus toward a target token mixture
    (DoReMi/Pile-style domain weighting; uniform-over-sources by default).

    ``weight = target_share / actual_share`` — >1 means the source is
    under-represented (up-sample or epoch-repeat), <1 over-represented
    (down-sample, e.g. feed the weight into ``stratified_sample`` rates).
    ``sampled_tokens`` caps the weight at 1.0: the token budget this
    source contributes under pure down-sampling.

    Scale: one groupBy(source) aggregation (map-side partial sums of
    per-doc token counts), then a single-row broadcast join for the
    totals — source cardinality is model-size (tens to thousands), so
    every post-aggregation step is trivially bounded.
    """
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("tokens"),
    )
    totals = F.broadcast(
        per.agg(
            F.sum("tokens").alias("_total_tokens"),
            F.count(F.lit(1)).alias("_n_sources"),
        )
    )
    joined = per.crossJoin(totals)
    if target_shares is None:
        target = F.lit(1.0) / F.col("_n_sources").cast("double")
    else:
        mapping = F.create_map(
            *[F.lit(x) for kv in target_shares.items() for x in kv]
        )
        # a source absent from target_shares gets target 0 → weight 0
        # (dropped from the mixture) — explicit, instead of a NULL weight
        # silently propagating into downstream sampling rates
        target = F.coalesce(mapping[F.col("source")].cast("double"), F.lit(0.0))
    actual = F.col("tokens").cast("double") / F.col("_total_tokens").cast("double")
    weight = target / actual
    return joined.select(
        "source",
        "n_docs",
        "tokens",
        actual.alias("actual_share"),
        weight.alias("weight"),
        (F.col("tokens").cast("double") * F.least(weight, F.lit(1.0))).alias(
            "sampled_tokens"
        ),
    )


def leakage_safe_split(
    docs: DataFrame,
    train_rate: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/validation split keyed on the CONTENT hash, not the doc id —
    exact duplicates always land in the same split, so a duplicated
    document can never leak from train into validation (the split-leakage
    failure mode doc-id hashing invites in deduplicated-but-not-perfectly
    corpora).

    Returns per-split audit counts: docs, distinct contents, and
    ``contents_in_both_splits`` — structurally 0 (the split is a function
    of the content hash) and *computed* rather than asserted, so the
    invariant is visible in the gated output.  Pure projection + two
    aggregations; the per-content frame groups on the md5 (one shuffle).

    Lazy like every other builder: the leak count is a broadcast
    single-row aggregate cross-joined into the plan (not an eager
    ``.count()``), so the returned frame is one job over one read of the
    input — the audit column can never disagree with the rows it annotates
    if the source changes between jobs.
    """
    thr = rate_threshold(train_rate)
    h = F.md5(F.col(text_col))
    tagged = docs.select(
        F.col(id_col),
        h.alias("_content"),
        F.when(h < F.lit(thr), F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )
    per_content = tagged.groupBy("_content").agg(
        F.countDistinct("split").alias("_n_splits"),
        F.count(F.lit(1)).alias("_n_docs"),
        F.min("split").alias("split"),
    )
    leaked = F.broadcast(
        per_content.agg(
            F.sum((F.col("_n_splits") > 1).cast("long")).alias(
                "contents_in_both_splits"
            )
        )
    )
    return (
        per_content.groupBy("split")
        .agg(
            F.sum("_n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("distinct_contents"),
        )
        .crossJoin(leaked)
        .select(
            "split",
            "n_docs",
            "distinct_contents",
            F.coalesce(F.col("contents_in_both_splits"), F.lit(0))
            .cast("long")
            .alias("contents_in_both_splits"),
        )
        .orderBy("split")
    )


def apply_mixture(
    docs: DataFrame,
    target_shares: dict[str, float] | None = None,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the mixture: every doc gets ``n_copies`` =
    floor(weight) + (1 if its hash falls under the fractional part) —
    up-sampling repeats docs (epoch repetition), down-sampling keeps a
    deterministic subset, and in expectation every source lands exactly on
    its target share.  Returns docs (minus dropped ones) with ``weight``
    and ``n_copies`` columns; explode ``sequence(1, n_copies)`` downstream
    to physically repeat rows.

    The fractional draw reuses the ``stratified_sample`` mechanism —
    md5(doc id) compared against a hex threshold — but with the threshold
    computed per-row from the source's fractional weight
    (format('%08x', floor(frac·2³²)) + zero padding), so it stays a pure
    column expression, deterministic and engine-reproducible.  One
    broadcast join of the (model-size) weight table; no shuffle of the
    corpus.
    """
    w = mixture_weights(docs, target_shares, source_col, text_col)
    joined = docs.join(
        F.broadcast(w.select(F.col("source").alias(source_col), "weight")),
        source_col,
    )
    whole = F.floor(F.col("weight")).cast("long")
    frac = F.col("weight") - F.floor(F.col("weight"))
    thresh = F.concat(
        F.format_string("%08x", F.floor(frac * F.lit(4294967296.0)).cast("long")),
        F.lit("0" * 24),
    )
    extra = F.when(doc_hash(id_col) < thresh, F.lit(1)).otherwise(F.lit(0))
    return joined.withColumn("n_copies", (whole + extra).cast("long")).filter(
        F.col("n_copies") > 0
    )


def dsir_importance(
    docs: DataFrame,
    target_filter: Column,
    width: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much more likely its
    hashed-bigram features are under the TARGET distribution (the rows
    matching ``target_filter``) than under the RAW corpus — the signal
    used to resample a web-scale corpus toward a high-quality target
    domain.  Exact integer arithmetic throughout:

    * features are bigrams hash-bucketed to ``width`` buckets with the
      count-min md5 fold (``llm/sketch.cm_hash`` — engine-reproducible),
      so BOTH feature-count frames are model-size (≤ width rows) and
      broadcastable by construction, exactly like the DSIR paper's
      hashed n-gram table.
    * the per-occurrence log-ratio log₂(p̂_tgt/p̂_raw) is quantized to
      plog2(tgt_c+1) − plog2(raw_c+1) where plog2 is the
      piecewise-linear fixed-point log₂ at 16 fractional bits
      (``functions/scalar.plog2_sql`` — SUB-bit resolution, so ratios
      like 3/4 vs 1/2 that whole-bit floor-log₂ collapses stay
      distinct; the normalizing constants are per-corpus and shift
      every doc equally, so they cancel in the ranking).
    * output: (doc_id, bits_fp, n_feats) with bits_fp in units of
      2⁻¹⁶ bits — rank by the exact rational bits_fp/n_feats, one
      float division at the caller.

    Scale: two groupBys over the bigram stream (map-side combined into
    ≤ width buckets — the shuffle is width-bounded regardless of corpus
    size), then one broadcast join of the occurrence stream against the
    two model-size count frames and a per-doc re-aggregation."""
    from data_engineering_project_utn_spark.llm.sketch import cm_hash
    from data_engineering_project_utn_spark.llm.text import tokens

    toks_df = docs.select(
        F.col(id_col).alias("did"),
        target_filter.alias("is_tgt"),
        tokens(text_col).alias("toks"),
    )
    feats = (
        toks_df.filter(F.size("toks") >= 2)
        .select(
            "did",
            "is_tgt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            ).alias("bg"),
        )
        .select("did", "is_tgt", cm_hash(F.col("bg"), 0, width).alias("f"))
    )
    from data_engineering_project_utn_spark.persist import track_persist

    feats = track_persist(feats)
    raw = feats.groupBy("f").agg(F.count(F.lit(1)).alias("raw_c"))
    tgt = (
        feats.filter(F.col("is_tgt"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("tgt_c"))
    )
    from data_engineering_project_utn_spark.functions.scalar import plog2_sql

    scored = (
        feats.join(F.broadcast(raw), "f")
        .join(F.broadcast(tgt), "f", "left")
        .select(
            "did",
            F.expr(
                f"{plog2_sql('coalesce(tgt_c, CAST(0 AS BIGINT)) + 1')}"
                f" - {plog2_sql('raw_c + 1')}"
            ).cast("long").alias("bits"),
        )
    )
    return scored.groupBy(F.col("did").alias(id_col)).agg(
        F.sum("bits").cast("long").alias("bits_fp"),
        F.count(F.lit(1)).cast("long").alias("n_feats"),
    )


def stratified_sample_exact(
    docs: DataFrame,
    quota: int,
    strata_cols: "list[str] | str" = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-quota stratified sampling: exactly min(quota, |stratum|)
    rows per stratum, chosen uniformly-deterministically by the md5 draw
    (``doc_hash`` — the same coin as the rate-based
    ``stratified_sample``, so quota and rate sampling of the same
    stratum NEST: the quota sample is a prefix of every larger sample).
    The budget knob rate-based sampling can't give: "exactly 10 000
    eval docs per language", regardless of stratum skew.

    One shuffle (rank window partitioned by stratum); the md5 order
    with the id tiebreaker is total, so the selected SET is
    engine/partitioning-independent — gate-ably exact.  At 100 TB a
    hot stratum's window sort is the bound; if strata are few and huge,
    swap in the per-partition bottom-k + merged re-trim of
    ``llm/sketch.bottomk_sample_grouped`` (same md5 order, sample-size
    partial aggregates) — identical output by the KMV merge identity."""
    from pyspark.sql import Window

    strata = [strata_cols] if isinstance(strata_cols, str) else list(strata_cols)
    w = Window.partitionBy(*strata).orderBy(doc_hash(id_col), id_col)
    return (
        docs.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= quota)
        .drop("_rnk")
    )

"""Corpus-curation plan family (reports, selection, sampling, sharding,
packing, mixture, splits, curation gate, pipeline manifest)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.llm import dedup as dd
from data_engineering_project_utn_spark.llm import sampling as sa
from data_engineering_project_utn_spark.llm import text as tx
from data_engineering_project_utn_spark.llm.compute import parallelize_compute
from data_engineering_project_utn_spark.plans.llm_shared import (
    _LANGID_CTES,
    _MINHASH_CTES,
    _QUALITY_CTES,
    _SURPRISAL_CTES,
    _TOKS,
    _cm_bucket_sql,
    _plog2_sql,
)
from data_engineering_project_utn_spark.plans.registry import must_replace, register
from data_engineering_project_utn_spark.tables import load_table

@register(
    "llm_corpus_report",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, source, text, {_TOKS} AS t FROM documents)
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT md5(text)) AS distinct_content,
           CAST(MIN(len(t)) AS BIGINT) AS min_tokens,
           CAST(MAX(len(t)) AS BIGINT) AS max_tokens
    FROM tk GROUP BY lang, source ORDER BY lang, source
    """,
    tags=("llm", "curation", "report"),
)
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card rollup: per (lang, source) stratum — doc counts,
    exact token totals (integer sums, engine-independent), distinct-content
    count (exact dup rate), token-length extremes.  One shuffle on the
    stratum key; the mixture table every curation pipeline publishes."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(tx.tokens("text")).cast("long")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("total_tokens"),
            F.countDistinct(F.md5("text")).alias("distinct_content"),
            F.min(n_tok).alias("min_tokens"),
            F.max(n_tok).alias("max_tokens"),
        )
        .orderBy("lang", "source")
    )


_SAMPLE_RATES = {"en": 0.25, "de": 1.0, "zh": 0.5}
_SAMPLE_DEFAULT = 0.1


@register(
    "llm_quality_topk_per_lang",
    oracle="WITH " + _QUALITY_CTES + """
    SELECT lang, doc_id, quality, rank FROM (
        SELECT lang, doc_id, quality,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY quality DESC, doc_id) AS rank
        FROM q)
    WHERE rank <= 20
    """,
    tags=("llm", "curation", "selection"),
)
def llm_quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a per-stratum budget: the top-20 docs per lang
    by quality score — the "keep the best N per slice" pass that follows
    scoring in a curation pipeline.  Per-stratum window (shuffle on lang,
    heap-free row_number with a total order: quality desc, doc_id), never a
    global sort; the quality expression is the already-gated
    llm_quality_scores arithmetic, so the ordering is engine-exact."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    scored = d.select("lang", "doc_id", tx.quality_score("text").alias("quality"))
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("lang", "doc_id", "quality", "rank")
    )


@register(
    "llm_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) <
          CASE WHEN lang = 'de' THEN '{sa.rate_threshold(1.0)}'
               WHEN lang = 'en' THEN '{sa.rate_threshold(0.25)}'
               WHEN lang = 'zh' THEN '{sa.rate_threshold(0.5)}'
               ELSE '{sa.rate_threshold(0.1)}' END
    """,
    tags=("llm", "curation", "sampling"),
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the data-mixture knob of a
    training pipeline (downsample crawl-like strata, keep books-like ones).
    Keep iff md5(doc_id) under the stratum's hex rate threshold: pure
    projection+filter, scan-speed at any corpus size, no RNG state, exact
    across engines (lexicographic hex compare ≡ numeric at equal length;
    see llm/sampling.py)."""
    d = load_table(spark, sf_dir, "documents")
    return sa.stratified_sample(
        d, _SAMPLE_RATES, strata_col="lang", default_rate=_SAMPLE_DEFAULT
    ).select("doc_id", "lang", "source")


@register(
    "llm_shard_assignment",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8
                AS INTEGER) AS shard
    FROM documents
    """,
    tags=("llm", "curation", "shuffle"),
)
def llm_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + round-robin sharding: every training
    run reads byte-identical shards (md5 order is the permutation — no RNG
    state to lose).  The global rank is the distributed bucket-exchange
    machinery (with_global_rank — no single-partition window; the oracle's
    row_number() is the semantics, not the plan), shard sizes differ by ≤1."""
    d = load_table(spark, sf_dir, "documents")
    return sa.shard_assignment(d, n_shards=8).select("doc_id", "shuffle_key", "shard")


# Oracle fragment: the packing frame (== llm.sampling.pack_sequences at
# window 2048) — emits CTEs t / c; c has (stream, doc_id, n_tokens,
# tokens_before).  Shared by the packing gate and the packing-efficiency
# report so the layout formula can't drift.
_PACK_CTES = f"""t AS (SELECT source AS stream, doc_id,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT stream, doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS tokens_before
          FROM t)"""


@register(
    "llm_pack_sequences",
    oracle=f"""
    WITH {_PACK_CTES}
    SELECT stream, doc_id, n_tokens, tokens_before,
           CAST(FLOOR(tokens_before / 2048) AS BIGINT) AS chunk_id
    FROM c
    """,
    tags=("llm", "curation", "packing"),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: docs laid head-to-tail per stream,
    cut every 2048 tokens; a doc's chunk is the window its first token lands
    in.  Integer window-cumsum arithmetic — exact, engine-independent; one
    shuffle on the stream key (shard-grained at scale; see
    llm/sampling.py pack_sequences)."""
    d = load_table(spark, sf_dir, "documents")
    return sa.pack_sequences(d, window_tokens=2048, stream_col="source")


@register(
    "llm_mixture_weights",
    oracle=rf"""
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(tokens) AS total_tokens, COUNT(*) AS n_sources FROM per)
    SELECT source, n_docs, tokens,
           CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS actual_share,
           (1.0 / CAST(n_sources AS DOUBLE))
               / (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS weight,
           CAST(tokens AS DOUBLE) * LEAST(
               (1.0 / CAST(n_sources AS DOUBLE))
                   / (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)),
               1.0) AS sampled_tokens
    FROM per, tot
    ORDER BY source
    """,
    tags=("llm", "curation", "mixture"),
)
def llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling weights toward a uniform-over-sources token
    mix (DoReMi/Pile-style): one groupBy(source) token aggregation + a
    single-row broadcast of the totals.  weight>1 = under-represented
    (repeat/up-sample); sampled_tokens = the budget under pure
    down-sampling (weight capped at 1)."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return sa.mixture_weights(d).orderBy("source")


@register(
    "llm_temperature_mixture",
    oracle=rf"""
    WITH per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    ss AS (SELECT source, n_docs, tokens,
                  CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS s
           FROM per),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(s) AS BIGINT) AS s_sum FROM ss)
    SELECT source, n_docs, tokens,
           CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS actual_share,
           CAST(s AS DOUBLE) / CAST(s_sum AS DOUBLE) AS temp_share,
           CAST(s * total_tokens AS DOUBLE) / CAST(s_sum * tokens AS DOUBLE) AS weight
    FROM ss, tot
    ORDER BY source
    """,
    tags=("llm", "curation", "mixture"),
)
def llm_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture weights at τ = 1/2 (q_i ∝ √p_i — the
    multilingual up-weighting of small sources next to
    ``llm_mixture_weights``' uniform target): per source, exact token
    counts, the τ-share, and weight = q/p.  √tokens quantizes to the
    floor(√t·10⁶) integer grid so the denominator is an order-free
    integer sum and the weight divides two exact integer products once —
    bit-identical cross-engine with no double accumulation anywhere
    (``sampling.temperature_mixture_weights``)."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return sa.temperature_mixture_weights(d).orderBy("source")


@register(
    "llm_temperature_mixture_t25",
    oracle=rf"""
    WITH per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    ss AS (SELECT source, n_docs, tokens,
                  {sa.temperature_score_sql("tokens", 0.25)} AS s
           FROM per),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(s) AS BIGINT) AS s_sum FROM ss)
    SELECT source, n_docs, tokens,
           CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS actual_share,
           CAST(s AS DOUBLE) / CAST(s_sum AS DOUBLE) AS temp_share,
           CAST(s * total_tokens AS DOUBLE) / CAST(s_sum * tokens AS DOUBLE) AS weight
    FROM ss, tot
    ORDER BY source
    """,
    tags=("llm", "curation", "mixture"),
)
def llm_temperature_mixture_t25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture at τ = 1/4 — the free-τ composition (VERDICT
    r09 #4): tokens^(1/4) realized as TWO floor(√s·10⁶) steps on the
    BIGINT grid, each a correctly-rounded IEEE sqrt of an exact integer,
    so the denominator stays an order-free integer sum at every
    temperature on the {1, 1/2, 1/4, 1/8} dyadic ladder.  The oracle's
    score expression is generated by the SAME composition
    (``sampling.temperature_score_sql``), so the two engines cannot
    drift.  τ=1 (all weights exactly 1) and τ=0 (uniform, weight ∝ 1/p)
    limits are pinned in tests/test_llm_ops.py."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return sa.temperature_mixture_weights(d, tau=0.25).orderBy("source")


@register(
    "llm_content_split",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, md5(text) AS c,
               CASE WHEN md5(text) < '{sa.rate_threshold(0.8)}' THEN 'train' ELSE 'val' END AS split
        FROM documents
    ),
    per AS (
        SELECT c, COUNT(DISTINCT split) AS ns, COUNT(*) AS nd, MIN(split) AS split
        FROM tagged GROUP BY c
    ),
    leak AS (SELECT CAST(COUNT(*) FILTER (ns > 1) AS BIGINT) AS l FROM per)
    SELECT split, CAST(SUM(nd) AS BIGINT) AS n_docs,
           COUNT(*) AS distinct_contents, l AS contents_in_both_splits
    FROM per, leak
    GROUP BY split, l
    ORDER BY split
    """,
    tags=("llm", "curation", "split"),
)
def llm_content_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split audit: the split key is the CONTENT
    hash, so exact duplicates can never straddle train and validation; the
    gated output carries the computed (not asserted) leak count, which is
    structurally zero."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return sa.leakage_safe_split(d, train_rate=0.8)


# Incremental (incoming % 3 = 0 vs corpus) minhash CTEs with the token CTE
# renamed tkm so they can coexist with _QUALITY_CTES (which owns ``tk``).


_INC_MINHASH_CTES = must_replace(
    must_replace(
        must_replace(
            _MINHASH_CTES,
            """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),""",
            """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),""",
        ),
        "tk AS (SELECT doc_id,",
        "tkm AS (SELECT doc_id,",
    ),
    "FROM tk),",
    "FROM tkm),",
)


@register(
    "llm_curation_gate",
    oracle="WITH " + _INC_MINHASH_CTES + ",\n    " + _QUALITY_CTES + """,
    flagged AS (SELECT DISTINCT doc_a AS doc_id FROM j WHERE jaccard > 0.5)
    SELECT q.doc_id, q.quality FROM q
    WHERE q.doc_id % 3 = 0
      AND q.quality >= 0.4
      AND q.doc_id NOT IN (SELECT doc_id FROM flagged)
    ORDER BY q.doc_id
    """,
    tags=("llm", "curation", "gate"),
)
def llm_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed continuous-ingestion curation gate, batch twin of
    streaming ``make_curation_batch_fn``: incoming docs (doc_id % 3 = 0,
    the crawl batch) are near-dup-checked against the corpus at rest
    (asymmetric band join — never corpus²), quality-gated (≥ 0.4), and the
    survivors emitted with their scores.  Flagging runs on the full batch,
    independent of the quality gate, so per-micro-batch acceptance unions
    to exactly this one-shot result (streaming parity tested)."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    incoming = d.filter(F.col("doc_id") % 3 == 0)
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    flagged = (
        dd.incremental_neardup(incoming, corpus, threshold=0.5)
        .select(F.col("doc_new").alias("doc_id"))
        .distinct()
    )
    return (
        incoming.withColumn("quality", tx.quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.4)
        .join(flagged, "doc_id", "left_anti")
        .select("doc_id", "quality")
        .orderBy("doc_id")
    )


# _QUALITY_CTES with text + token list carried through to the final q CTE,
# so downstream stages (dedup keeper, sharding, token totals) can reuse the
# same gated rows without recomputing the tokenizer.
_QUALITY_CTES_FULL = must_replace(
    must_replace(
        must_replace(
            _QUALITY_CTES,
            "tk AS (SELECT doc_id, lang, ",
            "tk AS (SELECT doc_id, lang, text, ",
        ),
        "m AS (SELECT doc_id, lang,",
        "m AS (SELECT doc_id, lang, text, t,",
    ),
    "q AS (SELECT doc_id, lang,",
    "q AS (SELECT doc_id, lang, text, t,",
)


@register(
    "llm_pipeline_manifest",
    oracle="WITH " + _QUALITY_CTES_FULL + """,
    g AS (SELECT doc_id, lang, text, t,
                 ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM q WHERE quality >= 0.4),
    k AS (SELECT doc_id, lang, t FROM g WHERE rn = 1),
    s AS (SELECT doc_id, lang, t,
                 CAST((ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 4
                      AS INTEGER) AS shard
          FROM k)
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM s GROUP BY shard ORDER BY shard
    """,
    tags=("llm", "curation", "pipeline"),
)
def llm_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline in one gated plan — quality gate →
    exact dedup (min-doc_id keeper per content hash) → deterministic
    shuffle+shard (4 shards) → per-shard training manifest (docs, exact
    token totals, language spread, id range).  Every stage is a previously
    gated operator composed declaratively: Catalyst sees ONE plan, so
    column pruning and shared scans cross stage boundaries — the
    composition a user actually ships when they 'run the pipeline'.

    Scale shape: quality gate is narrow; dedup is one shuffle on the
    content hash; sharding is the distributed global rank (no
    single-partition stage); the manifest is a 4-row aggregate."""
    from pyspark.sql import Window as W

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    passed = d.withColumn("quality", tx.quality_score(F.col("text"))).filter(
        F.col("quality") >= 0.4
    )
    rn = F.row_number().over(
        W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    )
    kept = passed.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    sharded = sa.shard_assignment(kept, n_shards=4)
    n_tok = F.size(tx.tokens("text")).cast("long")
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


@register(
    "llm_mixture_apply",
    oracle=rf"""
    WITH per AS (
        SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(tokens) AS total_tokens, COUNT(*) AS n_sources FROM per),
    wt AS (
        SELECT source,
               (1.0 / CAST(n_sources AS DOUBLE))
                   / (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS weight
        FROM per, tot
    ),
    d AS (SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents),
    j AS (
        SELECT d.doc_id, d.source, d.n_tok, wt.weight,
               CAST(FLOOR(wt.weight) AS BIGINT)
               + CASE WHEN md5(CAST(d.doc_id AS VARCHAR)) <
                      printf('%08x', CAST(FLOOR((wt.weight - FLOOR(wt.weight))
                                                * 4294967296.0) AS BIGINT))
                      || repeat('0', 24)
                 THEN 1 ELSE 0 END AS n_copies
        FROM d JOIN wt USING (source)
    )
    SELECT source, MIN(weight) AS weight,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_copies) AS BIGINT) AS n_rows_out,
           CAST(SUM(n_copies * n_tok) AS BIGINT) AS tokens_out
    FROM j WHERE n_copies > 0
    GROUP BY source ORDER BY source
    """,
    tags=("llm", "curation", "mixture"),
)
def llm_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture MATERIALIZATION (the step after llm_mixture_weights): each
    doc gets floor(weight) copies plus a deterministic hash-fraction extra,
    so up-weighted sources epoch-repeat and down-weighted sources thin —
    in expectation every source lands on its target token share.  Gated
    output is the per-source post-apply manifest (kept docs, emitted rows,
    emitted tokens).  Corpus side: one broadcast join + narrow arithmetic,
    no shuffle until the model-size summary."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    ap = sa.apply_mixture(d)
    n_tok = F.size(tx.tokens("text")).cast("long")
    return (
        ap.groupBy("source")
        .agg(
            F.min("weight").alias("weight"),
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_copies").alias("n_rows_out"),
            F.sum(F.col("n_copies") * n_tok).alias("tokens_out"),
        )
        .orderBy("source")
    )


@register(
    "llm_dsir_importance",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    bgs AS (SELECT doc_id, (lang = 'en') AS is_tgt, t[i] || ' ' || t[i + 1] AS bg
            FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
                  FROM tk WHERE len(t) >= 2)),
    fx AS (SELECT doc_id, is_tgt, {_cm_bucket_sql('bg', '0', 1024)} AS f FROM bgs),
    raw AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS raw_c FROM fx GROUP BY f),
    tgt AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS tgt_c FROM fx WHERE is_tgt GROUP BY f),
    bits AS (SELECT doc_id,
                    CAST({_plog2_sql('COALESCE(tgt_c, 0) + 1')}
                         - {_plog2_sql('raw_c + 1')} AS BIGINT) AS bits
             FROM fx JOIN raw USING (f) LEFT JOIN tgt USING (f)),
    agg AS (SELECT doc_id, CAST(SUM(bits) AS BIGINT) AS bits_fp,
                   CAST(COUNT(*) AS BIGINT) AS n_feats
            FROM bits GROUP BY doc_id)
    SELECT a.doc_id, d.lang, a.bits_fp, a.n_feats,
           CAST(a.bits_fp AS DOUBLE) / CAST(a.n_feats AS DOUBLE) AS bits_per_feat
    FROM agg a JOIN documents d USING (doc_id)
    ORDER BY bits_per_feat DESC, doc_id LIMIT 20
    """,
    tags=("llm", "curation", "selection"),
)
def llm_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (``llm/sampling.dsir_importance``):
    rank the corpus by how target-like each document's hashed-bigram
    features are, with target = the English slice — the data-selection
    step that precedes ``llm_stratified_sample``/``llm_mixture_weights``
    in a curation pipeline.  Both feature-count frames are
    width-bounded (1024 buckets — model-size, broadcast by
    construction); the log-ratio is integer floor-log2 bits, so the
    top-20 by exact-rational bits-per-feature hashes bit-for-bit
    cross-engine.  English docs surface at the top (sanity: the target
    slice IS most target-like), with cross-lingual lexical overlap
    visible in the mid ranks."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    s = sa.dsir_importance(d, F.col("lang") == "en", width=1024)
    return (
        s.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "bits_fp",
            "n_feats",
            (F.col("bits_fp").cast("double") / F.col("n_feats").cast("double")).alias(
                "bits_per_feat"
            ),
        )
        .orderBy(F.desc("bits_per_feat"), "doc_id")
        .limit(20)
    )


@register(
    "llm_stratified_exact",
    oracle="""
    WITH ranked AS (SELECT doc_id, lang, source,
                           row_number() OVER (PARTITION BY lang
                                              ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                                       doc_id) AS rnk
                    FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM ranked WHERE rnk <= 10
    GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "curation", "sampling"),
)
def llm_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling
    (``llm/sampling.stratified_sample_exact``): exactly 10 docs per
    language by the deterministic md5 draw — the "fixed eval-set size
    per stratum" budget the rate-based ``llm_stratified_sample`` can't
    express (a rate over a skewed stratum misses any fixed count).  The
    gate aggregates the sampled SET per stratum (count, distinct
    sources, id range), pinning membership without a 10×|langs|-row
    output."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    s = sa.stratified_sample_exact(d, quota=10, strata_cols="lang")
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@register(
    "llm_ccnet_buckets",
    oracle=f"""
    WITH {_SURPRISAL_CTES},
    {_LANGID_CTES},
    sc AS (SELECT lp.plang, a.doc_id,
                  CAST(a.bits_fp * 1000000 // a.n_bigrams AS BIGINT) AS ppm
           FROM agg a JOIN lp ON lp.did = a.doc_id),
    rk AS (SELECT plang, ppm,
                  row_number() OVER (PARTITION BY plang ORDER BY ppm, doc_id) AS r,
                  COUNT(*) OVER (PARTITION BY plang) AS n
           FROM sc),
    bk AS (SELECT plang, ppm, CAST(1 + (3 * (r - 1)) // n AS BIGINT) AS bucket
           FROM rk),
    exact AS (SELECT plang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     MIN(ppm) AS lo_ppm, MAX(ppm) AS hi_ppm
              FROM bk GROUP BY plang, bucket),
    smp AS (SELECT plang, ppm, doc_id FROM (
               SELECT sc.*, row_number() OVER (
                   PARTITION BY plang
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS hr
               FROM sc) WHERE hr <= 32),
    srk AS (SELECT plang, ppm,
                   row_number() OVER (PARTITION BY plang ORDER BY ppm, doc_id) AS sr,
                   COUNT(*) OVER (PARTITION BY plang) AS k
            FROM smp),
    est AS (SELECT plang, CAST(b.bucket AS BIGINT) AS bucket, ppm AS est_hi_ppm
            FROM srk, range(1, 4) b(bucket)
            WHERE sr = (b.bucket * k + 2) // 3)
    SELECT e.plang, e.bucket, e.n_docs, e.lo_ppm, e.hi_ppm, est.est_hi_ppm
    FROM exact e JOIN est ON est.plang = e.plang AND est.bucket = e.bucket
    ORDER BY e.plang, e.bucket
    """,
    tags=("llm", "text", "quality", "curation", "report"),
)
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail selection (Wenzek et al. LREC'20 §4.3,
    VERDICT r07 #7): documents bucketed into per-LANGUAGE perplexity
    tertiles — the step the bigram-surprisal score actually feeds.
    Composes the three existing primitives: ``predicted_lang`` (the
    language key), ``bigram_surprisal`` (the LM score, as the exact
    fixed-point mean ppm = bits_fp·10⁶ div n_bigrams), and the grouped
    bottom-k sample (``sketch.bottomk_sample_grouped``, k = 32 per
    language) whose order statistics ESTIMATE each tertile boundary
    next to the exact one.

    Output: (plang, bucket 1..3, n_docs, lo_ppm, hi_ppm, est_hi_ppm) —
    bucket 1 = head (lowest perplexity, kept for training), 3 = tail;
    quota assignment bucket = 1 + ⌊3(r−1)/n⌋ over the total order
    (ppm, doc_id), so hi_ppm of bucket b IS the exact tertile boundary
    (the value at rank ⌈b·n/3⌉) and est_hi_ppm is the sample's estimate
    of the same order statistic.  Docs with < 2 tokens have no bigram
    score and are excluded (the surprisal frame's contract).

    Scale: the exact arm ranks within per-language windows — the
    ORACLE ANCHOR (same role as the RRF global-window twin).  At
    100 TB the deployed path is the est columns' construction: the
    bottom-k sample is model-size per language, boundaries broadcast,
    and assignment becomes a pure comparison scan — this gate pins the
    est-vs-exact gap so that swap is a measured decision, not a hope."""
    from pyspark.sql import Window as W

    from data_engineering_project_utn_spark.llm import sketch as sk
    from data_engineering_project_utn_spark.persist import track_persist

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    s = tx.bigram_surprisal(d)
    langs = d.select("doc_id", tx.predicted_lang("text").alias("plang"))
    scored = track_persist(
        s.join(langs, "doc_id").select(
            "plang",
            "doc_id",
            F.expr("bits_fp * 1000000 div n_bigrams").cast("long").alias("ppm"),
        )
    )
    wl = W.partitionBy("plang")
    wr = W.partitionBy("plang").orderBy("ppm", "doc_id")
    ranked = scored.select(
        "plang",
        "ppm",
        F.row_number().over(wr).cast("long").alias("r"),
        F.count(F.lit(1)).over(wl).cast("long").alias("n"),
    )
    exact = (
        ranked.withColumn("bucket", F.expr("1 + (3 * (r - 1)) div n").cast("long"))
        .groupBy("plang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("ppm").alias("lo_ppm"),
            F.max("ppm").alias("hi_ppm"),
        )
    )
    samp = sk.bottomk_sample_grouped(scored, "doc_id", ["plang"], k=32)
    sranked = samp.select(
        "plang",
        "ppm",
        F.row_number().over(wr).cast("long").alias("sr"),
        F.count(F.lit(1)).over(wl).cast("long").alias("k"),
    )
    buckets = spark.range(1, 4).select(F.col("id").cast("long").alias("bucket"))
    est = (
        sranked.crossJoin(F.broadcast(buckets))
        .filter(F.col("sr") == F.expr("(bucket * k + 2) div 3"))
        .select("plang", "bucket", F.col("ppm").alias("est_hi_ppm"))
    )
    return exact.join(est, ["plang", "bucket"]).orderBy("plang", "bucket")


@register(
    "llm_ccnet_assign",
    oracle=f"""
    WITH {_SURPRISAL_CTES},
    {_LANGID_CTES},
    sc AS (SELECT lp.plang, a.doc_id,
                  CAST(a.bits_fp * 1000000 // a.n_bigrams AS BIGINT) AS ppm
           FROM agg a JOIN lp ON lp.did = a.doc_id),
    smp AS (SELECT plang, ppm, doc_id FROM (
               SELECT sc.*, row_number() OVER (
                   PARTITION BY plang
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS hr
               FROM sc) WHERE hr <= 32),
    srk AS (SELECT plang, ppm,
                   row_number() OVER (PARTITION BY plang ORDER BY ppm, doc_id) AS sr,
                   COUNT(*) OVER (PARTITION BY plang) AS k
            FROM smp),
    est AS (SELECT plang, CAST(b.bucket AS BIGINT) AS bucket, ppm AS bnd
            FROM srk, range(1, 4) b(bucket)
            WHERE sr = (b.bucket * k + 2) // 3),
    bds AS (SELECT plang,
                   MAX(CASE WHEN bucket = 1 THEN bnd END) AS b1,
                   MAX(CASE WHEN bucket = 2 THEN bnd END) AS b2
            FROM est GROUP BY plang),
    asg AS (SELECT sc.plang, sc.ppm,
                   CASE WHEN sc.ppm <= b.b1 THEN 1
                        WHEN sc.ppm <= b.b2 THEN 2 ELSE 3 END AS bucket
            FROM sc JOIN bds b ON b.plang = sc.plang)
    SELECT plang, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(ppm) AS lo_ppm, MAX(ppm) AS hi_ppm
    FROM asg GROUP BY plang, bucket ORDER BY plang, bucket
    """,
    tags=("llm", "text", "quality", "curation", "scale-twin"),
)
def llm_ccnet_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ccnet DEPLOYED assignment path, value-gated on its own
    (VERDICT r08 #5): per-language tertile boundaries are ESTIMATED from
    the grouped bottom-k sample (the est arm ``llm_ccnet_buckets``
    already pins against the exact boundaries), collected driver-side
    (≤ 32 rows per language — model-size), and every document is then
    assigned by a pure COMPARISON SCAN against the broadcast boundary
    frame — bucket = 1 if ppm ≤ b1, 2 if ≤ b2, else 3 — followed by one
    (plang, bucket) aggregation.  No per-language rank window ever
    touches the corpus (the plan-asserted difference from the exact
    anchor arm, whose window puts each language in ONE partition — the
    skew point VERDICT r08 flagged); the returned plan contains NO
    Window node at all (``test_ccnet_assign_no_rank_window``).

    At 100 TB: boundary estimation reads the sample (the one remaining
    per-language window runs during the BUILD over hash-ranked rows and
    would swap to a per-partition pre-trim + model-size merge at that
    scale — the windowed bottom-k stream operator already implements
    that merge identity); assignment + report are one scan + one
    map-side-combinable aggregation on (plang, bucket) keys.

    Output: (plang, bucket, n_docs, lo_ppm, hi_ppm) of the DEPLOYED
    assignment — vs the anchor gate's exact quotas, bucket populations
    here shift by the est-vs-exact boundary gap the anchor pins."""
    from data_engineering_project_utn_spark.llm import sketch as sk
    from data_engineering_project_utn_spark.persist import track_persist

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    s = tx.bigram_surprisal(d)
    langs = d.select("doc_id", tx.predicted_lang("text").alias("plang"))
    scored = track_persist(
        s.join(langs, "doc_id").select(
            "plang",
            "doc_id",
            F.expr("bits_fp * 1000000 div n_bigrams").cast("long").alias("ppm"),
        )
    )
    samp = sk.bottomk_sample_grouped(scored, "doc_id", ["plang"], k=32)
    by_lang: "dict[str, list[tuple[int, int]]]" = {}
    for r in samp.select("plang", "ppm", "doc_id").collect():
        by_lang.setdefault(r["plang"], []).append((int(r["ppm"]), int(r["doc_id"])))
    bounds = []
    for plang, lst in by_lang.items():
        lst.sort()
        k = len(lst)
        b1 = lst[(1 * k + 2) // 3 - 1][0]
        b2 = lst[(2 * k + 2) // 3 - 1][0]
        bounds.append((plang, b1, b2))
    bdf = spark.createDataFrame(bounds, "plang string, b1 long, b2 long")
    bucket = (
        F.when(F.col("ppm") <= F.col("b1"), 1)
        .when(F.col("ppm") <= F.col("b2"), 2)
        .otherwise(3)
        .cast("long")
    )
    return (
        scored.join(F.broadcast(bdf), "plang")
        .select("plang", "ppm", bucket.alias("bucket"))
        .groupBy("plang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("ppm").alias("lo_ppm"),
            F.max("ppm").alias("hi_ppm"),
        )
        .orderBy("plang", "bucket")
    )


@register(
    "llm_packing_waste",
    oracle=f"""
    WITH {_PACK_CTES},
    per AS (SELECT stream, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(CASE WHEN n_tokens > 0 AND
                            tokens_before // 2048 <>
                            (tokens_before + n_tokens - 1) // 2048
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
            FROM c GROUP BY stream)
    SELECT stream, n_docs, total_tokens,
           CAST((total_tokens + 2047) // 2048 AS BIGINT) AS n_chunks,
           CAST((total_tokens + 2047) // 2048 * 2048 - total_tokens AS BIGINT)
               AS waste_tokens,
           n_split_docs
    FROM per ORDER BY stream
    """,
    tags=("llm", "curation", "packing", "report"),
)
def llm_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over the gated packing layout
    (``llm_pack_sequences``, window 2048): per stream — docs, exact
    token totals, chunks consumed (⌈total/2048⌉), tail-padding waste
    (the tokens the LAST chunk pads, the only waste concat-and-chunk
    packing has), and the number of BOUNDARY-CROSSING documents (docs
    whose first and last token land in different chunks — the rows a
    trainer must mask across chunk boundaries or accept cross-doc
    attention on).  The metric layer a packing decision actually uses:
    window size trades waste_tokens against n_split_docs, and this gate
    pins both sides of that trade cross-engine.

    Scale: the packing frame's per-stream cumulative window (shard-
    grained keys at 100 TB, see pack_sequences) followed by one
    stream-key aggregation — nothing new shuffles."""
    d = load_table(spark, sf_dir, "documents")
    p = sa.pack_sequences(d, window_tokens=2048, stream_col="source")
    split = (F.col("n_tokens") > 0) & (
        F.expr("tokens_before div 2048")
        != F.expr("(tokens_before + n_tokens - 1) div 2048")
    )
    per = p.groupBy("stream").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(split, 1).otherwise(0)).cast("long").alias("n_split_docs"),
    )
    return per.select(
        "stream",
        "n_docs",
        "total_tokens",
        F.expr("(total_tokens + 2047) div 2048").cast("long").alias("n_chunks"),
        F.expr("(total_tokens + 2047) div 2048 * 2048 - total_tokens")
        .cast("long")
        .alias("waste_tokens"),
        "n_split_docs",
    ).orderBy("stream")


@register(
    "llm_gopher_filters",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n,
                 CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
                      AS BIGINT) AS chars,
                 CAST(len(list_filter(t, x -> NOT regexp_matches(x, '[a-z]')))
                      AS BIGINT) AS noalpha,
                 CAST(len(list_filter(t, x -> list_contains(
                     ['the','a','and','of','to','in','is','it'], x)))
                      AS BIGINT) AS stop
          FROM tk),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN n < 30 THEN 1 ELSE 0 END) AS BIGINT) AS ts,
                   CAST(SUM(CASE WHEN n > 60 THEN 1 ELSE 0 END) AS BIGINT) AS tl,
                   CAST(SUM(CASE WHEN 3 * n > chars OR chars > 10 * n
                            THEN 1 ELSE 0 END) AS BIGINT) AS wl,
                   CAST(SUM(CASE WHEN 10 * noalpha > n THEN 1 ELSE 0 END)
                        AS BIGINT) AS sh,
                   CAST(SUM(CASE WHEN stop < 2 THEN 1 ELSE 0 END) AS BIGINT) AS ls
            FROM m)
    SELECT 'low_stopword' AS rule, ls AS n_flagged, n_docs FROM agg
    UNION ALL SELECT 'mean_word_len_out', wl, n_docs FROM agg
    UNION ALL SELECT 'symbol_heavy', sh, n_docs FROM agg
    UNION ALL SELECT 'too_long', tl, n_docs FROM agg
    UNION ALL SELECT 'too_short', ts, n_docs FROM agg
    ORDER BY rule
    """,
    tags=("llm", "curation", "quality", "report"),
)
def llm_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filters (Rae et al. 2021 §A1.1,
    the rule family C4/Gopher/RefinedWeb curation actually applies)
    as a per-rule flag-count report: document length bounds (< 30 /
    > 60 tokens on this corpus's 10–100 range), mean word length
    outside [3, 10] chars (integer-rational 3n > Σlen ∨ Σlen > 10n —
    no division), symbol-heavy docs (> 10 % tokens with no [a-z]),
    and the minimum-stopword rule (< 2 English stopwords).  One row
    per rule with the corpus size alongside, so the output shape is
    FIXED (a zero count is a visible number, not a vanished row —
    gate-hygiene by construction).  Complements the continuous
    ``quality_score``: production pipelines threshold RULES first,
    score second.

    Scale: one scan computing five per-doc booleans (pure Column
    expressions over the shared tokenizer) + one global aggregation;
    the 5-row unpivot is a literal stack."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    t = tx.tokens("text")
    n = F.size(t).cast("long")
    chars = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    noalpha = F.size(F.filter(t, lambda x: ~x.rlike("[a-z]"))).cast("long")
    stop = tx.stopword_count("text")
    agg = d.select(
        F.when(n < 30, 1).otherwise(0).alias("_ts"),
        F.when(n > 60, 1).otherwise(0).alias("_tl"),
        F.when((3 * n > chars) | (chars > 10 * n), 1).otherwise(0).alias("_wl"),
        F.when(10 * noalpha > n, 1).otherwise(0).alias("_sh"),
        F.when(stop < 2, 1).otherwise(0).alias("_ls"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ts").cast("long").alias("ts"),
        F.sum("_tl").cast("long").alias("tl"),
        F.sum("_wl").cast("long").alias("wl"),
        F.sum("_sh").cast("long").alias("sh"),
        F.sum("_ls").cast("long").alias("ls"),
    )
    return agg.select(
        F.expr(
            "stack(5, 'low_stopword', ls, 'mean_word_len_out', wl,"
            " 'symbol_heavy', sh, 'too_long', tl, 'too_short', ts)"
        ).alias("rule", "n_flagged"),
        "n_docs",
    ).orderBy("rule")


_CHUNK_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    nz AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
    ix AS (SELECT doc_id, t,
                  unnest(range(0, 1 + ((GREATEST(n - 64, 0) + 47) // 48)))
                      AS chunk_id
           FROM nz),
    ch AS (SELECT doc_id, chunk_id,
                  t[chunk_id*48 + 1 : chunk_id*48 + 64] AS ct
           FROM ix)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(ct) AS BIGINT) AS n_tokens,
           array_to_string(ct, ' ') AS chunk_text
    FROM ch ORDER BY doc_id, chunk_id
    """


@register(
    "llm_chunk_documents",
    oracle=_CHUNK_ORACLE,
    tags=("llm", "curation", "chunking"),
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (``llm/text.chunk_documents``) —
    the RAG / pretraining context-window segmentation: 64-token chunks
    at stride 48 (16-token overlap), chunk text the single-space rejoin
    of the shared whitespace tokenization so re-tokenizing a chunk
    reproduces its slice.  Every token covered; final chunk may be
    short; empty docs contribute no rows.

    Scale shape: tokenize + per-doc index explode + slice, all narrow —
    scan-speed with zero shuffles before the presentation sort; output
    rows ≈ Σ tokens/stride.  At 100 TB chunking feeds the embedding
    stage directly (chunk rows are what ``llm_semdedup_*`` and the ANN
    family index), so keeping it exchange-free matters."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return tx.chunk_documents(d, chunk_tokens=64, stride=48).orderBy(
        "doc_id", "chunk_id"
    )

"""Lexical-dedup plan family (exact, MinHash/LSH, bottom-k, SimHash,
n-gram Jaccard, clustering, incremental, decontamination)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.llm import dedup as dd
from data_engineering_project_utn_spark.llm import text as tx
from data_engineering_project_utn_spark.llm.compute import parallelize_compute
from data_engineering_project_utn_spark.plans.llm_shared import (
    _MINHASH_CTES,
    _QUALITY_CTES,
    _RARE_SHINGLE_CTES,
    _SH3,
    _SHINGLES,
    _TOKS,
    _cm_bucket_sql,
    _reach_ctes,
)
from data_engineering_project_utn_spark.plans.registry import (
    Builder,
    must_replace,
    register,
)
from data_engineering_project_utn_spark.tables import load_table

_EDIT_SIM = (
    "1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)"
    " / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE)"
)

# The incremental gates' oracle: the anchor's band CTE split into
# incoming (doc_id % 3 = 0) vs existing sides.  Module constants so the
# at-rest bucketed twins share the anchor gates' oracles VERBATIM —
# a disk layout choice must not move a value.
_INCR_CAND_SPLIT = (
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),""",
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),""",
)
_INCR_DEDUP_ORACLE = "WITH " + must_replace(_MINHASH_CTES, *_INCR_CAND_SPLIT) + """
    SELECT doc_a AS doc_new, doc_b AS doc_existing, jaccard
    FROM j WHERE jaccard > 0.5
    """
_INCR_EDITDIST_ORACLE = "WITH " + must_replace(_MINHASH_CTES, *_INCR_CAND_SPLIT) + f"""
    SELECT c.doc_a AS doc_new, c.doc_b AS doc_existing,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
           {_EDIT_SIM} AS edit_sim
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE {_EDIT_SIM} >= 0.97
    """

@register(
    "llm_dedup_summary",
    oracle=f"""
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT md5(text)) AS distinct_content,
           COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')))
               AS distinct_normalized,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS exact_dups,
           COUNT(*) - COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')))
               AS normalized_dups
    FROM documents
    """,
    tags=("llm", "dedup", "bench"),
)
def llm_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + normalized (order/case-invariant) dedup accounting.

    Hash-groupBy dedup: one shuffle on a 128-bit digest — the exact-dedup
    baseline for corpus hygiene at any scale (count-distinct here is
    partial-aggregated; swap to approx_count_distinct at 100 TB if ±1% ok).
    """
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(dd.content_hash("text")).alias("distinct_content"),
        F.countDistinct(dd.normalized_hash("text")).alias("distinct_normalized"),
        (F.count(F.lit(1)) - F.countDistinct(dd.content_hash("text"))).alias("exact_dups"),
        (F.count(F.lit(1)) - F.countDistinct(dd.normalized_hash("text"))).alias(
            "normalized_dups"
        ),
    )


_MINHASH_NEARDUP_ORACLE = "WITH " + _MINHASH_CTES + """
    SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard > 0.5
    """


def _minhash_neardup(bucketed: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash+LSH near-duplicate detection, exact-Jaccard verified.

        shingle(5-gram) → 8-perm minhash → 4 bands → bucket self-join →
        Jaccard > 0.5.  Only same-bucket docs are ever compared — the
        shuffle key space is the band buckets, never all-pairs (see
        llm/dedup.py).  ``max_bucket_size`` stays None: the EXACT pair set
        this oracle models at every SF (the skew cap is opt-in; its oracle
        twin is llm_minhash_capped).

        ``bucketed`` (``llm_minhash_neardup_bucketed``, same oracle — a
        physical layout choice must not move a value): read the AT-REST
        doc_id-bucketed corpus (``_dedup_corpus_bucketed``).  The two
        exact-Jaccard verify sides then read the bucketed table with NO
        exchange (plan-asserted — only the candidate pair set
        hash-exchanges on doc_a/doc_b, once each); the shingle columns
        derive as a narrow projection over the bucketed scan
        (clustering-preserving) and persist once.  This claws back the SMJ
        pin's per-query cost while keeping the pin's scale guarantee:
        nothing corpus-sized is ever broadcast OR re-shuffled."""
        d = sh = None
        if bucketed:
            from data_engineering_project_utn_spark.persist import track_persist

            bkt = _dedup_corpus_bucketed(spark, sf_dir)
            sh = track_persist(dd.shingle_frame(bkt, "doc_id", "text", 5))
        else:
            d = parallelize_compute(load_table(spark, sf_dir, "documents"))
        return dd.minhash_neardup(d, threshold=0.5, shingles=sh)

    return build


register(
    "llm_minhash_neardup",
    oracle=_MINHASH_NEARDUP_ORACLE,
    tags=("llm", "dedup", "minhash", "bench"),
)(_minhash_neardup(bucketed=False))


def _dedup_corpus_bucketed(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> DataFrame:
    """The documents corpus AT REST for dedup: (doc_id, text) bucketed
    AND sorted on doc_id — the 100 TB answer to the SMJ-pinned verify
    joins' local cost: every id-keyed verify side (minhash Jaccard,
    edit-distance texts, signature compares) is satisfied from disk with
    NO exchange on the corpus side; only the (bounded) candidate pair
    set shuffles.

    Deliberately TEXT-ONLY: a first cut also materialized the shingle
    digest/set arrays at rest, and measured SLOWER than the recomputing
    anchor at sf2 (25.6 vs 14.0 s) — the arrays blow the table up ~20×
    over the source parquet (290 MB vs 15 MB at sf2), and a byte-bound
    20× scan loses to an in-scan projection every time.  Shingles are
    instead derived as a NARROW projection over the bucketed scan
    (projections preserve the scan's clustering) and persisted once per
    query — same compute and cache footprint as the anchor, minus the
    two corpus-side exchanges.  At 100 TB the same arithmetic holds:
    store bytes once, derive columns in-scan, let bucketing carry the
    join clustering.

    Same build-once convention as the Q9 bucketed facts
    (``plans/relational.py:_q9_join``): tables are tagged by the
    sf_dir basename plus a filesystem fingerprint of the source parquet,
    so a regenerated sf_dir rebuilds even at unchanged cardinality."""
    import re

    from data_engineering_project_utn_spark.sources.io import (
        table_exists,
        write_bucketed_table,
    )

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    fp = _fs_fingerprint_of(f"{sf_dir}/documents.parquet")
    # v3: text-only schema (see docstring) — versioned name so a warehouse
    # table written by an older build is never reused with a stale schema
    name = f"dedup_corpus_bkt3_{tag}_{fp}"
    if table_exists(spark, name):
        return spark.table(name)
    _drop_stale_fingerprinted(spark, f"dedup_corpus_bkt3_{tag}_", name)
    at_rest = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return write_bucketed_table(spark, at_rest, name, buckets, "doc_id")


def _fs_fingerprint_of(path: str) -> str:
    """Filesystem fingerprint of a source parquet (name/size/mtime_ns of
    every file) — the build-once tag shared by the at-rest layouts, so a
    regenerated sf_dir rebuilds even at unchanged cardinality."""
    import hashlib
    import os

    parts = []
    if os.path.isdir(path):
        for fn in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, fn))
            parts.append((fn, st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(path)
        parts.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(parts).encode()).hexdigest()[:8]


def _dedup_band_index_bucketed(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    buckets: int = 32,
) -> DataFrame:
    """The corpus's LSH BAND INDEX at rest: (doc_id, band_idx, band_hash)
    for every document, bucketed AND sorted on (band_hash, band_idx) —
    the structure a 100 TB deployment stores so incremental dedup probes
    never touch corpus-scale shuffle OR compute (VERDICT r12 #1: the
    incremental arms re-derived ``_banded(corpus_shingles)`` and streamed
    the whole corpus band frame through the probe every trigger).

    Two probe modes read it:

    * BATCH (``llm_incremental_dedup_at_rest``): the incoming side's
      bands sort-merge against the index — bucketing satisfies the join
      clustering, so the only exchange is the (batch-sized) probe side's.
    * BOUNDED-BATCH / STREAMING (``llm.dedup.incremental_neardup`` with
      ``band_index``): the batch's distinct band hashes push into the index scan as an IN
      filter — the sort column's row-group stats skip everything but the
      matched buckets, so per-trigger scan cost tracks the MATCHES, not
      the corpus.

    Unlike the rejected shingle-array layout (20× byte blowup, measured
    slower than recompute — see ``_dedup_corpus_bucketed``), the band
    frame is ~``bands`` skinny integer rows per doc: orders of magnitude
    under the text it indexes, the classic LSH index trade.  Sort order
    puts ``band_hash`` FIRST (pruning + join key prefix); ``band_idx``
    rides along for the exact residual equality.  Same fingerprinted
    build-once convention as ``_dedup_corpus_bucketed``."""
    import re

    from data_engineering_project_utn_spark.sources.io import (
        table_exists,
        write_bucketed_table,
    )

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    fp = _fs_fingerprint_of(f"{sf_dir}/documents.parquet")
    name = f"dedup_band_idx_{tag}_k{k}b{bands}n{n}_{fp}"
    if table_exists(spark, name):
        return spark.table(name)
    _drop_stale_fingerprinted(spark, f"dedup_band_idx_{tag}_k{k}b{bands}n{n}_", name)
    docs = parallelize_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    bands_df = dd._banded(dd.shingle_frame(docs, "doc_id", "text", n), k, bands)
    return write_bucketed_table(
        spark, bands_df, name, buckets, "band_hash", "band_idx"
    )


def _drop_stale_fingerprinted(spark: SparkSession, prefix: str, keep: str) -> None:
    """Drop warehouse tables from PREVIOUS fingerprints of the same
    at-rest layout (same ``prefix``, different fp suffix): every sf_dir
    regeneration CTAS-es a fresh fingerprinted name, and without this
    sweep the predecessors' files accumulate in the warehouse dir
    without bound across regens (ADVICE r12)."""
    for row in spark.sql("SHOW TABLES").collect():
        t = row["tableName"]
        if t.startswith(prefix.lower()) and t != keep.lower():
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")


register(
    "llm_minhash_neardup_bucketed",
    oracle=_MINHASH_NEARDUP_ORACLE,
    tags=("llm", "dedup", "minhash", "bucketed", "scale-twin"),
)(_minhash_neardup(bucketed=True))


@register(
    "llm_editdist_neardup",
    oracle="WITH " + _MINHASH_CTES + """
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
           1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                 / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE)
               AS edit_sim
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
          / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE) >= 0.97
    """,
    tags=("llm", "dedup", "editdist"),
)
def llm_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein-verified near-duplicate pairs: the MinHash band buckets
    propose, the exact character-level edit distance disposes (normalized
    edit similarity ≥ 0.97 — a threshold the banded candidate set actually
    straddles at every SF, so the verifier is non-vacuous).

    Character-level verification is the plagiarism-grade complement to
    shingle Jaccard: order-blind set overlap saturates on shuffled or
    repeat-heavy text, while the DP edit distance prices every local
    rewrite.  Verify cost is O(L·εL) per banded candidate — a length
    prefilter rejects most pairs with integer arithmetic, survivors run
    the THRESHOLD-BANDED JVM DP (see ``llm.dedup.editdist_neardup``);
    the final filter is the oracle's own float expression, bit-exact.
    """
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return dd.editdist_neardup(d, k=8, bands=4, n=5, threshold=0.97)


@register(
    "llm_sorted_neighborhood",
    oracle=f"""
    WITH tk AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
    ky AS (SELECT doc_id, array_to_string(list_sort(list_distinct(t)), ' ') AS k
           FROM tk),
    rk AS (SELECT doc_id, k,
                  row_number() OVER (ORDER BY k, doc_id) - 1 AS rn
           FROM ky),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shset FROM tk),
    pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(b.rn - a.rn AS BIGINT) AS gap
           FROM rk a JOIN rk b ON b.rn - a.rn BETWEEN 1 AND 3),
    j AS (SELECT pr.doc_a, pr.doc_b, pr.gap,
                 CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                 / (CAST(len(sa.shset) + len(sb.shset) AS DOUBLE)
                    - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE))
                     AS jaccard
          FROM pr
          JOIN sh sa ON sa.doc_id = pr.doc_a
          JOIN sh sb ON sb.doc_id = pr.doc_b)
    SELECT doc_a, doc_b, gap, jaccard FROM j WHERE jaccard >= 0.5
    """,
    tags=("llm", "dedup", "blocking"),
)
def llm_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (merge/purge) near-dup detection: global sort on
    the order-invariant token fingerprint, window-3 neighborhoods, exact
    shingle-Jaccard verification at 0.5 — the blocking family member with
    a HARD window·N pair bound (no bucket-skew term), complementing the
    probabilistic LSH gates on the same table and threshold.

    The Spark plan is a bucket exchange (global rank, per-bucket
    offsets) plus ONE equi-join on rank-block — pinned linear; the
    DuckDB oracle reproduces the identical total order (ASCII keys →
    binary collation agrees cross-engine) and window semantics.
    """
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return dd.sorted_neighborhood_pairs(d, window=3, n=5, threshold=0.5)


@register(
    "llm_bottomk_neardup",
    oracle="WITH " + must_replace(
        _MINHASH_CTES,
        """sig AS (SELECT doc_id, shset,
                   list_transform(range(0, 8),
                       i -> list_min(list_transform(hd,
                           h -> substring(h, i*4 + 1, 32) || substring(h, 1, i*4)))) AS sg
            FROM sh),
    bands AS (SELECT doc_id, shset, r.b AS band_idx,
                     md5(array_to_string(sg[r.b*2+1 : r.b*2+2], '|')) AS band_hash
              FROM sig, range(0, 4) r(b)),""",
        """sig AS (SELECT doc_id, shset,
                   list_sort(list_distinct(hd))[1:16] AS sg
            FROM sh),
    bands AS (SELECT doc_id, shset, r.b AS band_idx,
                     md5(array_to_string(sg[r.b+1 : r.b+1], '|')) AS band_hash
              FROM sig, range(0, 16) r(b)
              WHERE md5(array_to_string(sg[r.b+1 : r.b+1], '|')) <> md5('')),""",
    ) + """
    SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard > 0.5
    """,
    tags=("llm", "dedup", "bottomk", "bench"),
)
def llm_bottomk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-16 sketch near-dup — the cheap-signature alternative to the
    8-perm rotation family (one sort vs 8 interpreted passes; measured
    254/256 of the rotation family's verified pairs at ~40 % cost on
    sf0.1).  Same exact-Jaccard verification gate."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return dd.bottomk_neardup(d, k=16, n=5, threshold=0.5, max_bucket_size=None)


@register(
    "llm_minhash_capped",
    oracle="WITH " + must_replace(
        _MINHASH_CTES,
        """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),""",
        """bsize AS (SELECT band_idx, band_hash, COUNT(*) AS cnt
              FROM bands GROUP BY band_idx, band_hash),
    healthy AS (SELECT b.* FROM bands b JOIN bsize s
                  ON b.band_idx = s.band_idx AND b.band_hash = s.band_hash
                 WHERE s.cnt <= 2),
    hot AS (SELECT b.* FROM bands b JOIN bsize s
              ON b.band_idx = s.band_idx AND b.band_hash = s.band_hash
             WHERE s.cnt > 2),
    chained AS (SELECT doc_id AS doc_a,
                       lead(doc_id) OVER (PARTITION BY band_idx, band_hash
                                          ORDER BY doc_id) AS doc_b
                FROM hot),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM healthy a JOIN healthy b
                   ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id
                 UNION ALL
                 SELECT doc_a, doc_b FROM chained WHERE doc_b IS NOT NULL)),""",
    ) + """
    SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard > 0.5
    """,
    tags=("llm", "dedup", "minhash", "skew"),
)
def llm_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-skew-hardened MinHash path, cap forced to 2 so the
    chain-pairing branch actually executes at sf0.01 (real default: 256 —
    never reached by healthy banding): band buckets over the cap emit only
    (doc, successor-by-id) pairs instead of all pairs, bounding candidate
    work to O(|bucket|) at the duplicate-heavy corpora dedup exists for.
    The oracle reproduces the size split, the chain window, and the union
    operation-for-operation."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=2)


@register(
    "llm_dedup_clusters",
    oracle="WITH RECURSIVE " + _MINHASH_CTES + """
    , pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard > 0.5),
    """ + _reach_ctes("pairs") + """
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper_doc
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    tags=("llm", "dedup", "clusters", "iterative"),
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *decision* step: connected components over the MinHash
    near-dup pairs; every component keeps its min doc_id.  Iterative label
    propagation in Spark (O(component-diameter) joins) vs the oracle's
    recursive-CTE transitive closure — identical integer fixpoint."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    pairs = dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None)
    return dd.dedup_clusters(pairs).orderBy("doc_id")



@register(
    "llm_ngram_jaccard",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, lang, source, list_distinct({_SH3}) AS s FROM tk),
    p AS (SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (CAST(len(a.s) + len(b.s) AS DOUBLE)
                    - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) AS jaccard
          FROM sh a JOIN sh b
            ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
    SELECT lang, source, id_a, id_b, jaccard FROM p WHERE jaccard > 0.1
    """,
    tags=("llm", "dedup", "jaccard"),
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact 3-gram Jaccard within (lang, source) blocks.

    Blocking is the scale contract: shingle sets are built once per doc
    (never per pair), and the pair space is Σ|block|² — at 100 TB the block
    key becomes an LSH band (llm_minhash_neardup) instead of metadata, but
    the operator shape is identical."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(tx.shingles("text", 3)).alias("s"),
    )
    a = sh.select(
        "lang", "source", F.col("doc_id").alias("id_a"), F.col("s").alias("sa")
    )
    b = sh.select(
        "lang", "source", F.col("doc_id").alias("id_b"), F.col("s").alias("sb")
    )
    pairs = a.join(b, ["lang", "source"]).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size(F.col("sa")) + F.size(F.col("sb"))).cast("double") - inter
    return pairs.select(
        "lang", "source", "id_a", "id_b", (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") > 0.1)


@register(
    "llm_simhash",
    oracle=f"""
    WITH tk AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
    tb AS (SELECT doc_id,
                  list_transform(toks, t -> list_reduce(
                      list_transform(string_split(substring(md5(t), 1, 4), ''),
                                     c -> strpos('0123456789abcdef', c) - 1),
                      (a, x) -> a * 16 + x)) AS tok_bits
           FROM tk),
    sg AS (SELECT doc_id,
                  CAST(list_sum(list_transform(range(0, 16), b -> CASE WHEN
                      list_sum(list_transform(tok_bits, v ->
                          CASE WHEN CAST(FLOOR(v / POW(2, b)) AS BIGINT) % 2 = 1
                               THEN 1 ELSE -1 END)) > 0
                      THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
           FROM tb)
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc
    FROM sg GROUP BY simhash ORDER BY simhash
    """,
    tags=("llm", "dedup", "simhash"),
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures + signature-collision groups (near-dup by
    Hamming-0).  The oracle reproduces conv(hex,16,10) as a char fold, so
    the full bit-arithmetic path is value-checked."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    sigs = d.select("doc_id", dd.simhash16("text").alias("simhash"))
    return (
        sigs.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .orderBy("simhash")
    )


def _incremental_dedup(verifier: str, at_rest: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The production dedup shape: a new batch (every 3rd doc plays the
        incoming crawl) checked against the already-ingested corpus via an
        asymmetric band-bucket join — never a corpus×corpus self-join (see
        ``llm.dedup.incremental_neardup``).  Same signature family as
        llm_minhash_neardup; the oracle splits its band CTE into the same
        incoming/existing sides.

        ``verifier``: ``"jaccard"`` (``llm_incremental_dedup``, exact
        Jaccard > 0.5) or ``"editdist"`` (``llm_incremental_editdist``,
        VERDICT r11 #7 — the banded DP verifies batch×candidates only at
        edit sim ≥ 0.97, the verify expression of
        ``llm_editdist_neardup``).

        ``at_rest`` (the ``_at_rest`` twins, VERDICT r12 #1, sharing the
        anchors' oracles verbatim — a disk layout must not move a value):
        probe the corpus's AT-REST band index instead of re-deriving and
        re-shuffling the corpus band frame every run (and, in the
        streaming shape, every TRIGGER).  The band frame lives
        bucketed+sorted on (band_hash, band_idx)
        (``_dedup_band_index_bucketed``), so the probe sort-merges with NO
        exchange and NO sort on the corpus side — only the batch's own
        bands shuffle — and verification reads the doc_id-bucketed corpus
        exchange-free like ``llm_minhash_neardup_bucketed``
        (plan-asserted in ``test_bucketed_join``).  The edit-distance arm
        then needs no corpus shingles at all (bands from the index,
        verification on TEXT), so its corpus-side per-run compute drops
        to the bucketed text scan the banded DP reads anyway."""
        corpus_bands = None
        if at_rest:
            # text sides from the doc_id-bucketed corpus, the corpus band
            # side from the band index; the doc_id split pushes into both
            # bucketed scans as a data filter, which keeps their clustering
            d = _dedup_corpus_bucketed(spark, sf_dir)
            corpus_bands = _dedup_band_index_bucketed(spark, sf_dir).filter(
                F.col("doc_id") % 3 != 0
            )
        else:
            d = parallelize_compute(load_table(spark, sf_dir, "documents"))
        incoming = d.filter(F.col("doc_id") % 3 == 0)
        corpus = d.filter(F.col("doc_id") % 3 != 0)
        return dd.incremental_neardup(
            incoming, corpus, verifier=verifier, corpus_bands=corpus_bands
        )

    return build


register(
    "llm_incremental_dedup",
    oracle=_INCR_DEDUP_ORACLE,
    tags=("llm", "dedup", "incremental"),
)(_incremental_dedup("jaccard", at_rest=False))
register(
    "llm_incremental_editdist",
    oracle=_INCR_EDITDIST_ORACLE,
    tags=("llm", "dedup", "incremental", "editdist"),
)(_incremental_dedup("editdist", at_rest=False))


#: The incremental sorted-neighborhood oracle (insertion-rank semantics,
#: window 3) — shared verbatim by the anchor and the at-rest twin.
_INCR_SNM_ORACLE = "WITH " + _MINHASH_CTES + """,
    ky AS (SELECT doc_id, array_to_string(list_sort(list_distinct(t)), ' ') AS k FROM tk),
    ck AS (SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) - 1 AS rn
           FROM ky WHERE doc_id % 3 <> 0),
    bk2 AS (SELECT doc_id, k FROM ky WHERE doc_id % 3 = 0),
    ins AS (SELECT b.doc_id AS doc_new, COUNT(c.doc_id) AS p
            FROM bk2 b LEFT JOIN ck c
              ON (c.k < b.k) OR (c.k = b.k AND c.doc_id < b.doc_id)
            GROUP BY b.doc_id),
    nb AS (SELECT i.doc_new, c.doc_id AS doc_existing
           FROM ins i JOIN ck c ON c.rn BETWEEN i.p - 3 AND i.p + 2),
    snj AS (SELECT n.doc_new, n.doc_existing,
               CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
               / (CAST(len(sa.shset) + len(sb.shset) AS DOUBLE)
                  - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)) AS jaccard
            FROM nb n JOIN sh sa ON sa.doc_id = n.doc_new
                      JOIN sh sb ON sb.doc_id = n.doc_existing)
    SELECT doc_new, doc_existing, jaccard FROM snj WHERE jaccard >= 0.5
    """


def _incremental_snm(at_rest: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The INCREMENTAL arm of sorted-neighborhood blocking (VERDICT r12
        #7) — the last blocking family to gain one: each incoming doc
        (every 3rd doc plays the crawl batch) is Jaccard-verified against
        the ``window`` corpus docs on each side of its would-be position
        in the corpus's merge/purge fingerprint order.  The batch ranks
        against the corpus's rank BLOCK STARTS (batch + N/w rows through
        ``with_global_rank``), never a re-sort of the full union; both
        probe joins key on the rank structure's _blk clustering (see
        ``llm.dedup.incremental_snm_pairs``).  Candidate bound 2·window
        per incoming doc — the no-skew guarantee that makes this the
        ensemble's flood-proof arm.

        ``at_rest`` (``llm_incremental_snm_at_rest``, same oracle): probe
        the corpus's AT-REST rank structure.  The rank index is
        _blk-bucketed (both probe joins exchange-free on the corpus side),
        the block directory is its own N/w-row table (the insertion
        ranking reads it directly instead of filter-scanning N index
        rows), and verification shingles derive from the doc_id-bucketed
        corpus text restricted to the matched neighbors.  With the r13
        band index this completes the set: all three incremental blocking
        arms run off at-rest structures with zero corpus-side
        exchanges."""
        index = {}
        if at_rest:
            d = _dedup_corpus_bucketed(spark, sf_dir)
            idx, starts = _snm_rank_index_bucketed(spark, sf_dir, window=3, n=5)
            index = {"corpus_ranked": idx, "block_starts": starts}
        else:
            d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        incoming = d.filter(F.col("doc_id") % 3 == 0)
        corpus = d.filter(F.col("doc_id") % 3 != 0)
        return dd.incremental_snm_pairs(
            incoming, corpus, window=3, threshold=0.5, **index
        )

    return build


register(
    "llm_incremental_snm",
    oracle=_INCR_SNM_ORACLE,
    tags=("llm", "dedup", "incremental", "snm"),
)(_incremental_snm(at_rest=False))


def _snm_rank_index_bucketed(
    spark: SparkSession, sf_dir: str, window: int = 3, n: int = 5,
    buckets: int = 32, split: str = "i3",
) -> tuple:
    """The corpus's sorted-neighborhood RANK structure at rest, two
    tables (VERDICT r12 #7's endgame): the rank INDEX (doc_id, _k,
    _rank0, _blk) bucketed+sorted on _blk — both probe joins (insertion
    count, neighbor pull) read it exchange-free, and bounded batches
    push their block list into the scan — plus the block DIRECTORY (the
    N/w block-start keys) as its own tiny table, so the per-run
    insertion ranking reads N/w rows of I/O, not an N-row filter scan.

    Deliberately does NOT store shsets (the measured r12 byte lesson);
    verification shingles derive from the doc_id-bucketed corpus text,
    restricted to matched neighbors.  The stored _k IS the index's key
    material — ~1× corpus text bytes, the normal secondary-index trade,
    nothing like the rejected 20× array blowup.

    Ranks are order statistics of THIS corpus, so the split is part of
    the layout identity (``split``: ``i3`` = the %3≠0 corpus of the
    anchor gates; ``s1`` = the %3=1 STATIC corpus of the fresh-delta
    twin, where %3=2 plays the same-day accepted delta the index has
    not seen); a deployment rebuilds the index with its nightly corpus,
    exactly like the band index."""
    import re

    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )
    from data_engineering_project_utn_spark.sources.io import (
        table_exists,
        write_bucketed_table,
    )

    w = int(window)
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    fp = _fs_fingerprint_of(f"{sf_dir}/documents.parquet")
    idx_name = f"dedup_snm_idx_{split}_{tag}_w{w}n{n}_{fp}"
    dir_name = f"dedup_snm_dir_{split}_{tag}_w{w}n{n}_{fp}"
    if table_exists(spark, idx_name) and table_exists(spark, dir_name):
        return spark.table(idx_name), spark.table(dir_name)
    _drop_stale_fingerprinted(spark, f"dedup_snm_idx_{split}_{tag}_w{w}n{n}_", idx_name)
    _drop_stale_fingerprinted(spark, f"dedup_snm_dir_{split}_{tag}_w{w}n{n}_", dir_name)
    keep = (
        (F.col("doc_id") % 3 == 1) if split == "s1" else (F.col("doc_id") % 3 != 0)
    )
    corpus = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(keep)
    )
    keyed = dd.shingle_frame(
        parallelize_compute(corpus), "doc_id", "text", n, with_key=True
    )
    ranked = with_global_rank(keyed.select("doc_id", "_k"), ["_k", "doc_id"])
    idx_df = ranked.select(
        "doc_id", "_k", "_rank0"
    ).withColumn("_blk", F.expr(f"_rank0 DIV {w}"))
    idx = write_bucketed_table(spark, idx_df, idx_name, buckets, "_blk")
    starts = idx_df.filter(F.col("_rank0") % w == 0).select("_k", "doc_id")
    # the directory is read whole every run (no keyed join), but the
    # bucketed writer's stale-orphan clearing is the behavior we want
    # for fingerprinted rebuild-on-regen tables
    dir_tbl = write_bucketed_table(spark, starts, dir_name, 4, "_k", "doc_id")
    return idx, dir_tbl


register(
    "llm_incremental_snm_at_rest",
    oracle=_INCR_SNM_ORACLE,
    tags=("llm", "dedup", "incremental", "snm", "bucketed", "scale-twin"),
)(_incremental_snm(at_rest=True))


# Fresh-plus-delta oracle (VERDICT r13 #4): the SNM window runs twice —
# against the STATIC corpus (%3=1, the slice the nightly rank index saw)
# and against the DELTA (%3=2, accepted since the rebuild, invisible to
# the index) — and the pair sets union (disjoint doc sets, no dups).
_INCR_SNM_FRESH_DELTA_ORACLE = "WITH " + _MINHASH_CTES + """,
    ky AS (SELECT doc_id, array_to_string(list_sort(list_distinct(t)), ' ') AS k FROM tk),
    cks AS (SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) - 1 AS rn
            FROM ky WHERE doc_id % 3 = 1),
    ckd AS (SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) - 1 AS rn
            FROM ky WHERE doc_id % 3 = 2),
    bk2 AS (SELECT doc_id, k FROM ky WHERE doc_id % 3 = 0),
    inss AS (SELECT b.doc_id AS doc_new, COUNT(c.doc_id) AS p
             FROM bk2 b LEFT JOIN cks c
               ON (c.k < b.k) OR (c.k = b.k AND c.doc_id < b.doc_id)
             GROUP BY b.doc_id),
    insd AS (SELECT b.doc_id AS doc_new, COUNT(c.doc_id) AS p
             FROM bk2 b LEFT JOIN ckd c
               ON (c.k < b.k) OR (c.k = b.k AND c.doc_id < b.doc_id)
             GROUP BY b.doc_id),
    nb AS (SELECT i.doc_new, c.doc_id AS doc_existing
           FROM inss i JOIN cks c ON c.rn BETWEEN i.p - 3 AND i.p + 2
           UNION ALL
           SELECT i.doc_new, c.doc_id AS doc_existing
           FROM insd i JOIN ckd c ON c.rn BETWEEN i.p - 3 AND i.p + 2),
    snj AS (SELECT n.doc_new, n.doc_existing,
               CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
               / (CAST(len(sa.shset) + len(sb.shset) AS DOUBLE)
                  - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)) AS jaccard
            FROM nb n JOIN sh sa ON sa.doc_id = n.doc_new
                      JOIN sh sb ON sb.doc_id = n.doc_existing)
    SELECT doc_new, doc_existing, jaccard FROM snj WHERE jaccard >= 0.5
    """


@register(
    "llm_incremental_snm_fresh_delta",
    oracle=_INCR_SNM_FRESH_DELTA_ORACLE,
    tags=("llm", "dedup", "incremental", "snm", "bucketed", "scale-twin"),
)
def llm_incremental_snm_fresh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SNM staleness-window closer (VERDICT r13 #4): %3=1 plays the
    STATIC corpus the nightly rank index was built from (at rest,
    ``split='s1'``), %3=2 plays the SAME-DAY DELTA the index has never
    seen, %3=0 the incoming batch.  The stale arm alone
    (``incremental_snm_pairs`` on the static index) silently misses
    every batch×delta near-dup — the newest data, where crawl
    re-fetches concentrate; this twin adds a batch∪delta-ranked second
    window pass (no corpus term: the delta is one rebuild interval of
    accepts) and unions.  Pairs against the static side are
    byte-identical to the stale arm; delta-pair recall goes 0% → 100%
    on planted copies (``TestSnmFreshDelta``)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = d.filter(F.col("doc_id") % 3 == 0)
    static = d.filter(F.col("doc_id") % 3 == 1)
    delta = d.filter(F.col("doc_id") % 3 == 2)
    idx, starts = _snm_rank_index_bucketed(spark, sf_dir, window=3, n=5, split="s1")
    return dd.incremental_snm_pairs_with_delta(
        incoming, static, delta, window=3, threshold=0.5,
        corpus_ranked=idx, block_starts=starts,
    )


register(
    "llm_incremental_dedup_at_rest",
    oracle=_INCR_DEDUP_ORACLE,
    tags=("llm", "dedup", "incremental", "bucketed", "scale-twin"),
)(_incremental_dedup("jaccard", at_rest=True))
register(
    "llm_incremental_editdist_at_rest",
    oracle=_INCR_EDITDIST_ORACLE,
    tags=("llm", "dedup", "incremental", "editdist", "bucketed", "scale-twin"),
)(_incremental_dedup("editdist", at_rest=True))


# Hot-band guard gates (VERDICT r13 #2).  The synthetic corpus has no
# natural band flood (its largest %3-split bucket holds 2 corpus docs and
# no incoming doc collides with one — a cap-only gate is VACUOUS, checked
# r14), so the gates PLANT the exact failure mode the guard exists for:
# every doc_id % 7 = 0 becomes verbatim boilerplate (the crawl-mirror /
# terms-of-service page), flooding one band bucket with ~N/7·2/3 corpus
# docs.  The transform is a CASE expression both engines apply to the
# same source, so the oracle stays bit-exact and the flood scales WITH
# the corpus — non-vacuous at every SF.
_HOT_BAND_CAP = 8
_BOILER = (
    "terms of service page boilerplate text repeated verbatim across "
    "crawl mirrors of this site"
)
_BOILER_DOCS = (
    "FROM (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN '"
    + _BOILER
    + "' ELSE text END AS text FROM documents)"
)
_INCR_CAND_CAPPED = f"""cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
             JOIN (SELECT band_idx, band_hash, COUNT(*) AS c FROM bands
                   WHERE doc_id % 3 <> 0 GROUP BY band_idx, band_hash) bs
               ON a.band_idx = bs.band_idx AND a.band_hash = bs.band_hash
            WHERE bs.c <= {_HOT_BAND_CAP}),"""
_INCR_DEDUP_CAPPED_ORACLE = (
    "WITH "
    + must_replace(
        must_replace(_MINHASH_CTES, _INCR_CAND_SPLIT[0], _INCR_CAND_CAPPED),
        "FROM documents",
        _BOILER_DOCS,
    )
    + """
    SELECT doc_a AS doc_new, doc_b AS doc_existing, jaccard
    FROM j WHERE jaccard > 0.5
    """
)


def _boilerplate_flood_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with the planted mirror-page flood (every 7th
    doc's text replaced by identical boilerplate) — the gate fixture for
    the hot-band guard, mirrored verbatim in the oracles' CASE."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.lit(_BOILER))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


@register(
    "llm_incremental_dedup_capped",
    oracle=_INCR_DEDUP_CAPPED_ORACLE,
    tags=("llm", "dedup", "incremental", "skew"),
)
def llm_incremental_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental LSH probe under a planted boilerplate FLOOD, with
    the HOT-BAND GUARD on (VERDICT r13 #2): batch bands whose corpus
    bucket exceeds the cap are skipped before the probe join, so
    per-trigger candidate cost is bounded by the COLD bucket populations
    no matter how duplicate-skewed the corpus is — the asymmetric-probe
    analogue of the self-join's chain pairing (``llm_minhash_capped``).
    Here ~N/7 planted mirror pages share every band; uncapped they
    contribute |batch ∩ flood|·|corpus ∩ flood| verify pairs per trigger
    (≈10⁴ at sf0.01, ≈10⁶ at sf0.1 — growing quadratically with the
    corpus), capped they contribute ZERO while every genuine near-dup
    pair survives (the cap only removes pairs whose bucket is over-cap,
    and genuine pairs ride sparse buckets by construction of banding).
    The skipped docs are named by ``llm_hot_band_suspects`` and route to
    the SNM arm, whose 2·window candidate bound cannot flood.  Bucket
    populations come from ``band_bucket_sizes`` — at rest, one aggregate
    maintained at compaction time (``refresh_band_stats``)."""
    docs = parallelize_compute(_boilerplate_flood_docs(spark, sf_dir))
    incoming = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    return dd.incremental_neardup(
        incoming,
        corpus,
        threshold=0.5,
        hot_band_cap=_HOT_BAND_CAP,
    )


@register(
    "llm_hot_band_suspects",
    oracle="WITH "
    + must_replace(_MINHASH_CTES, "FROM documents", _BOILER_DOCS)
    + f"""
    SELECT DISTINCT a.doc_id FROM bands a
    JOIN (SELECT band_idx, band_hash, COUNT(*) AS c FROM bands
          WHERE doc_id % 3 <> 0 GROUP BY band_idx, band_hash) bs
      ON a.band_idx = bs.band_idx AND a.band_hash = bs.band_hash
    WHERE a.doc_id % 3 = 0 AND bs.c > {_HOT_BAND_CAP}
    ORDER BY doc_id
    """,
    tags=("llm", "dedup", "incremental", "skew"),
)
def llm_hot_band_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped probe's recall ledger under the same planted flood:
    batch docs with ≥1 over-cap band — exactly the docs
    ``llm_incremental_dedup_capped`` may under-recall (here: the
    incoming mirror pages, doc_id ≡ 0 mod 21), handed to the SNM arm
    (merge/purge's 2·window bound is the skew-proof fallback the
    ensemble routes floods to; the routing identity is flood-tested in
    ``TestHotBandGuard``).  One broadcast-hash join of the batch bands
    against the (few, by definition) hot bucket keys — no shuffle, no
    corpus scan beyond the stats aggregate the deployment stores at
    rest."""
    docs = parallelize_compute(_boilerplate_flood_docs(spark, sf_dir))
    incoming = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    corpus_bands = dd._banded(
        dd.shingle_frame(corpus, "doc_id", "text", 5), 8, 4
    )
    stats = dd.band_bucket_sizes(corpus_bands)
    return dd.hot_band_suspects(
        incoming, stats, _HOT_BAND_CAP
    ).orderBy("doc_id")


@register(
    "llm_decontamination",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform({_SH3}, s -> md5(s))) AS s
           FROM tk),
    bench AS (SELECT DISTINCT u.sh FROM sh, UNNEST(s) u(sh) WHERE doc_id % 97 = 0)
    SELECT DISTINCT d.doc_id FROM sh d, UNNEST(d.s) u(sh)
    WHERE d.doc_id % 97 <> 0 AND u.sh IN (SELECT sh FROM bench)
    ORDER BY doc_id
    """,
    tags=("llm", "curation", "decontamination"),
)
def llm_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap scrub: corpus docs sharing any n-gram shingle with
    the benchmark set (here: every 97th doc plays the eval suite; n=3 for
    these short synthetic docs — production uses 13).  Corpus side is a
    narrow digest projection; the tiny benchmark shingle set broadcasts
    into a left-semi join — scan-speed flagging, no corpus shuffle (see
    llm/dedup.py contaminated_doc_ids)."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return dd.contaminated_doc_ids(corpus, benchmark, n=3).orderBy("doc_id")


# Shared oracle CTE chain for the duplicated-substring-span family:
# positional 5-gram index → corpus-duplicated n-grams (occurrence ≥ 2,
# within-doc repeats count) → per-doc exact interval union via the
# gap ≤ n−1 lag/running-sum merge (see llm/spans.py for the scale shape).
_SPAN_CTES = f"""tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shp AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok,
                  unnest({_SHINGLES}) AS s,
                  unnest(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                                        i -> CAST(i AS BIGINT))) AS pos
            FROM tk),
    dupsh AS (SELECT s FROM shp GROUP BY s HAVING COUNT(*) >= 2),
    dp AS (SELECT shp.doc_id, shp.ntok, shp.pos FROM shp JOIN dupsh USING (s)),
    runs AS (SELECT doc_id, ntok, pos,
                    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
                         THEN 0 ELSE 1 END AS brk
             FROM dp),
    sp AS (SELECT doc_id, ntok, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id
           FROM runs),
    spanagg AS (SELECT doc_id, span_id, any_value(ntok) AS ntok,
                       MIN(pos) AS start_pos,
                       LEAST(MAX(pos) + 4, any_value(ntok)) AS end_pos
                FROM sp GROUP BY doc_id, span_id)"""


@register(
    "llm_dup_spans",
    oracle=f"""
    WITH {_SPAN_CTES},
    st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                  CAST(SUM(end_pos - start_pos + 1) AS BIGINT) AS dup_tokens,
                  any_value(ntok) AS total_tokens,
                  CAST(SUM(end_pos - start_pos + 1) AS DOUBLE)
                  / CAST(any_value(ntok) AS DOUBLE) AS dup_fraction
           FROM spanagg GROUP BY doc_id)
    SELECT * FROM st ORDER BY dup_fraction DESC, doc_id LIMIT 20
    """,
    tags=("llm", "dedup", "spans"),
)
def llm_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING accounting (Lee et al. 2022 semantics at
    n-gram granularity) — the span-level complement to the document-level
    near-dup family: per-doc count of maximal duplicated spans, exact
    union token coverage, and the duplicated fraction; top-20 most
    duplicated documents.  Scale shape (llm/spans.py): narrow positional
    scan, ONE groupBy on the n-gram key, an equi-join riding that
    partitioning, then doc-partitioned windows — no all-pairs stage."""
    from data_engineering_project_utn_spark.llm import spans as sn

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return (
        sn.duplicated_span_stats(d, n=5)
        .orderBy(F.desc("dup_fraction"), "doc_id")
        .limit(20)
    )


@register(
    "llm_dup_span_list",
    oracle=f"""
    WITH {_SPAN_CTES}
    SELECT doc_id, start_pos, end_pos,
           CAST(end_pos - start_pos + 1 AS BIGINT) AS span_len
    FROM spanagg
    ORDER BY span_len DESC, doc_id, start_pos LIMIT 20
    """,
    tags=("llm", "dedup", "spans"),
)
def llm_dup_span_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span frame itself — the longest 20 maximal duplicated spans
    with their exact token extents, i.e. the cut list a span-level dedup
    pass would feed back into the corpus rewrite."""
    from data_engineering_project_utn_spark.llm import spans as sn

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return (
        sn.duplicated_span_frame(d, n=5)
        .select("doc_id", "start_pos", "end_pos", "span_len")
        .orderBy(F.desc("span_len"), "doc_id", "start_pos")
        .limit(20)
    )


@register(
    "llm_span_scrub",
    oracle=f"""
    WITH {_SPAN_CTES},
    tokpos AS (SELECT doc_id, unnest(t) AS tok,
                      unnest(list_transform(range(1, len(t) + 1),
                                            i -> CAST(i AS BIGINT))) AS pos
               FROM tk),
    cov AS (SELECT doc_id, unnest(range(start_pos, end_pos + 1)) AS pos
            FROM spanagg),
    kept AS (SELECT tp.doc_id, tp.pos, tp.tok
             FROM tokpos tp LEFT JOIN cov
               ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
             WHERE cov.pos IS NULL),
    reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                   string_agg(tok, ' ' ORDER BY pos) AS text
            FROM kept GROUP BY doc_id),
    base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok FROM tk)
    SELECT b.doc_id,
           COALESCE(r.kept_tokens, 0) AS kept_tokens,
           b.ntok - COALESCE(r.kept_tokens, 0) AS removed_tokens,
           md5(COALESCE(r.text, '')) AS text_md5
    FROM base b LEFT JOIN reb r USING (doc_id)
    ORDER BY removed_tokens DESC, doc_id LIMIT 20
    """,
    tags=("llm", "dedup", "spans"),
)
def llm_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus REWRITE the span frame drives: duplicated spans cut out
    of the text, surviving tokens re-joined in order — gated on the 20
    most-scrubbed docs with an md5 of each rewritten text (full-content
    witness without hauling the strings through the hash compare).  See
    llm/spans.py scrub_spans for the doc-key-partitioned anti-join shape."""
    from data_engineering_project_utn_spark.llm import spans as sn

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return (
        sn.scrub_spans(d, n=5)
        .select(
            "doc_id",
            "kept_tokens",
            "removed_tokens",
            F.md5("text").alias("text_md5"),
        )
        .orderBy(F.desc("removed_tokens"), "doc_id")
        .limit(20)
    )


@register(
    "llm_incremental_dup_spans",
    oracle=f"""
    WITH {_SPAN_CTES},
    st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                  CAST(SUM(end_pos - start_pos + 1) AS BIGINT) AS dup_tokens,
                  any_value(ntok) AS total_tokens,
                  CAST(SUM(end_pos - start_pos + 1) AS DOUBLE)
                  / CAST(any_value(ntok) AS DOUBLE) AS dup_fraction
           FROM spanagg WHERE doc_id % 5 = 0 GROUP BY doc_id)
    SELECT * FROM st ORDER BY dup_fraction DESC, doc_id LIMIT 20
    """,
    tags=("llm", "dedup", "spans", "incremental"),
)
def llm_incremental_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span dedup: every 5th doc plays the new crawl batch,
    the rest the corpus at rest — checked against the corpus's aggregated
    n-gram count INDEX (one groupBy; |index| ≪ corpus positions), not its
    positions.  The oracle recomputes the GLOBAL occ ≥ 2 span union and
    restricts to batch docs, so a green gate proves
    batch-vs-index ≡ full-recompute-restricted-to-batch — the identity
    that makes batching a schedule choice, not a semantics choice (same
    argument as ``llm_incremental_dedup``)."""
    from data_engineering_project_utn_spark.llm import spans as sn

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    incoming = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return (
        sn.span_stats(sn.incremental_span_frame(incoming, corpus, n=5))
        .orderBy(F.desc("dup_fraction"), "doc_id")
        .limit(20)
    )


@register(
    "llm_rrf_ensemble",
    oracle="WITH " + _MINHASH_CTES + f""",
    mh AS MATERIALIZED (
        SELECT doc_a, doc_b,
               CAST(row_number() OVER (ORDER BY jaccard DESC, doc_a, doc_b)
                    AS BIGINT) AS r
        FROM j WHERE jaccard > 0.5),
    tok2 AS (SELECT doc_id AS did, unnest(t) AS term FROM tk),
    tf2 AS (SELECT did, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok2 GROUP BY did, term),
    dfq2 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
             FROM tf2 GROUP BY term),
    n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM documents),
    w2 AS (SELECT did, term,
                  tf * LEAST((n2._n * CAST(10000 AS BIGINT)) // doc_freq,
                             CAST(100000000 AS BIGINT)) AS w,
                  doc_freq
           FROM tf2 JOIN dfq2 USING (term) CROSS JOIN n2),
    norms2 AS (SELECT did, SUM(CAST(w AS HUGEINT) * w) AS nn FROM w2 GROUP BY did),
    {_RARE_SHINGLE_CTES},
    cand2 AS (SELECT id_a, id_b FROM candw),
    dots2 AS (SELECT c.id_a, c.id_b, SUM(CAST(wa.w AS HUGEINT) * wb.w) AS dot
              FROM cand2 c
              JOIN w2 wa ON wa.did = c.id_a
              JOIN w2 wb ON wb.did = c.id_b AND wb.term = wa.term
              GROUP BY c.id_a, c.id_b),
    tc AS MATERIALIZED (
        SELECT id_a, id_b,
               CAST(row_number() OVER (ORDER BY cosine DESC, id_a, id_b)
                    AS BIGINT) AS r
        FROM (SELECT d.id_a, d.id_b,
                     CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
                         AS cosine
              FROM dots2 d
              JOIN norms2 na ON na.did = d.id_a
              JOIN norms2 nb ON nb.did = d.id_b)
        WHERE cosine >= 0.5),
    fused AS (
        SELECT COALESCE(mh.doc_a, tc.id_a) AS doc_a,
               COALESCE(mh.doc_b, tc.id_b) AS doc_b,
               COALESCE(1000000 // (60 + mh.r), 0)
             + COALESCE(1000000 // (60 + tc.r), 0) AS rrf_fp
        FROM mh FULL OUTER JOIN tc
          ON mh.doc_a = tc.id_a AND mh.doc_b = tc.id_b)
    SELECT doc_a, doc_b, CAST(rrf_fp AS BIGINT) AS rrf_fp
    FROM fused ORDER BY rrf_fp DESC, doc_a, doc_b LIMIT 10
    """,
    tags=("llm", "dedup", "ensemble"),
)
def llm_rrf_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble near-dup detection by reciprocal-rank fusion: the
    MinHash-Jaccard pair list and the sparse TF-IDF-cosine pair list are
    each ranked, then fused with integer RRF scores
    Σ ⌊10⁶/(60 + rank)⌋ over a FULL OUTER pair join — pairs surfaced by
    both axes rise above single-axis hits, the standard multi-signal
    curation ensemble.  Both arms contribute on the driver corpus (the
    TF-IDF arm blocks on rare 5-gram shingles — 29 pairs at sf0.01, 17 of
    them shared with the 25 MinHash pairs, so the both-arms fusion path
    is genuinely hash-checked; VERDICT r06 #1).  Integer division keeps
    fusion exact cross-engine.  Ranking windows here are GLOBAL over the
    thresholded candidate lists (bounded by the blocking contracts of
    each axis); ``llm_rrf_neighborhood`` is the scale variant that ranks
    per doc-neighborhood instead — no single-partition stage, identical
    fusion arithmetic."""
    from pyspark.sql import Window

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    mh = dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None)
    mh_r = mh.select(
        "doc_a",
        "doc_b",
        F.row_number()
        .over(Window.orderBy(F.desc("jaccard"), "doc_a", "doc_b"))
        .cast("long")
        .alias("r_mh"),
    )
    tc = tx.tfidf_cosine_pairs(d, block_n=5).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "cosine"
    )
    tc_r = tc.select(
        "doc_a",
        "doc_b",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "doc_a", "doc_b"))
        .cast("long")
        .alias("r_tc"),
    )
    fused = (
        mh_r.join(tc_r, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.expr("1000000 div (60 + r_mh)"), F.lit(0))
                + F.coalesce(F.expr("1000000 div (60 + r_tc)"), F.lit(0))
            ).cast("long").alias("rrf_fp"),
        )
    )
    return fused.orderBy(F.desc("rrf_fp"), "doc_a", "doc_b").limit(10)


@register(
    "llm_rrf_neighborhood",
    oracle="WITH " + _MINHASH_CTES + f""",
    mh AS MATERIALIZED (
        SELECT doc_a, doc_b,
               CAST(row_number() OVER (PARTITION BY doc_a
                                       ORDER BY jaccard DESC, doc_b)
                    AS BIGINT) AS r
        FROM j WHERE jaccard > 0.5),
    tok2 AS (SELECT doc_id AS did, unnest(t) AS term FROM tk),
    tf2 AS (SELECT did, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok2 GROUP BY did, term),
    dfq2 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
             FROM tf2 GROUP BY term),
    n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM documents),
    w2 AS (SELECT did, term,
                  tf * LEAST((n2._n * CAST(10000 AS BIGINT)) // doc_freq,
                             CAST(100000000 AS BIGINT)) AS w,
                  doc_freq
           FROM tf2 JOIN dfq2 USING (term) CROSS JOIN n2),
    norms2 AS (SELECT did, SUM(CAST(w AS HUGEINT) * w) AS nn FROM w2 GROUP BY did),
    {_RARE_SHINGLE_CTES},
    cand2 AS (SELECT id_a, id_b FROM candw),
    dots2 AS (SELECT c.id_a, c.id_b, SUM(CAST(wa.w AS HUGEINT) * wb.w) AS dot
              FROM cand2 c
              JOIN w2 wa ON wa.did = c.id_a
              JOIN w2 wb ON wb.did = c.id_b AND wb.term = wa.term
              GROUP BY c.id_a, c.id_b),
    tc AS MATERIALIZED (
        SELECT id_a, id_b,
               CAST(row_number() OVER (PARTITION BY id_a
                                       ORDER BY cosine DESC, id_b)
                    AS BIGINT) AS r
        FROM (SELECT d.id_a, d.id_b,
                     CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
                         AS cosine
              FROM dots2 d
              JOIN norms2 na ON na.did = d.id_a
              JOIN norms2 nb ON nb.did = d.id_b)
        WHERE cosine >= 0.5),
    fused AS (
        SELECT COALESCE(mh.doc_a, tc.id_a) AS doc_a,
               COALESCE(mh.doc_b, tc.id_b) AS doc_b,
               COALESCE(1000000 // (60 + mh.r), 0)
             + COALESCE(1000000 // (60 + tc.r), 0) AS rrf_fp
        FROM mh FULL OUTER JOIN tc
          ON mh.doc_a = tc.id_a AND mh.doc_b = tc.id_b)
    SELECT doc_a, doc_b, CAST(rrf_fp AS BIGINT) AS rrf_fp
    FROM fused ORDER BY rrf_fp DESC, doc_a, doc_b LIMIT 10
    """,
    tags=("llm", "dedup", "ensemble"),
)
def llm_rrf_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-ranked RRF ensemble — the 100 TB-shaped twin of
    ``llm_rrf_ensemble`` (VERDICT r06 #3): each arm's reciprocal rank is
    computed PER DOC-NEIGHBORHOOD (window partitioned by ``doc_a``, the
    standard per-query rank semantics of RRF in retrieval), so the
    ranking shuffles on doc_a like every other per-doc aggregation — no
    Exchange SinglePartition anywhere in the plan (plan-asserted in
    tests/test_plans.py), where the global variant funnels the whole
    candidate list through one partition.  Fusion arithmetic is identical
    (integer Σ ⌊10⁶/(60+r)⌋ over a FULL OUTER pair join); only the rank
    scope changes.  The final top-10 is a TakeOrdered, not a sort."""
    from pyspark.sql import Window

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    mh = dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None)
    mh_r = mh.select(
        "doc_a",
        "doc_b",
        F.row_number()
        .over(Window.partitionBy("doc_a").orderBy(F.desc("jaccard"), "doc_b"))
        .cast("long")
        .alias("r_mh"),
    )
    tc = tx.tfidf_cosine_pairs(d, block_n=5).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "cosine"
    )
    tc_r = tc.select(
        "doc_a",
        "doc_b",
        F.row_number()
        .over(Window.partitionBy("doc_a").orderBy(F.desc("cosine"), "doc_b"))
        .cast("long")
        .alias("r_tc"),
    )
    fused = (
        mh_r.join(tc_r, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.expr("1000000 div (60 + r_mh)"), F.lit(0))
                + F.coalesce(F.expr("1000000 div (60 + r_tc)"), F.lit(0))
            ).cast("long").alias("rrf_fp"),
        )
    )
    return fused.orderBy(F.desc("rrf_fp"), "doc_a", "doc_b").limit(10)


# CM-twin of _SPAN_CTES: identical positional chain, but "duplicated"
# comes from a count-min ESTIMATE (depth 3 × width 8192, same seeded
# buckets as llm.sketch.cm_hash) instead of the exact per-n-gram count —
# the petabyte-key-space swap SCALE.md names for the span family, here
# value-checked cross-engine including its overcount collisions.
_SPAN_CM_CTES = must_replace(
    _SPAN_CTES,
    "dupsh AS (SELECT s FROM shp GROUP BY s HAVING COUNT(*) >= 2),",
    f"""cmc AS (SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT u.d AS d, {_cm_bucket_sql('s', 'u.d', 8192)} AS bucket
            FROM shp, unnest([0, 1, 2]) u(d)
        ) GROUP BY d, bucket),
    qsh AS (SELECT DISTINCT s FROM shp),
    qb AS (SELECT q.s, u.d AS d, {_cm_bucket_sql('q.s', 'u.d', 8192)} AS bucket
           FROM qsh q, unnest([0, 1, 2]) u(d)),
    dupsh AS (SELECT qb.s FROM qb JOIN cmc USING (d, bucket)
              GROUP BY qb.s HAVING MIN(cmc.cnt) >= 2),""",
)


@register(
    "llm_dup_spans_cm",
    oracle=f"""
    WITH {_SPAN_CM_CTES},
    st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                  CAST(SUM(end_pos - start_pos + 1) AS BIGINT) AS dup_tokens,
                  any_value(ntok) AS total_tokens,
                  CAST(SUM(end_pos - start_pos + 1) AS DOUBLE)
                  / CAST(any_value(ntok) AS DOUBLE) AS dup_fraction
           FROM spanagg GROUP BY doc_id)
    SELECT * FROM st ORDER BY dup_fraction DESC, doc_id LIMIT 20
    """,
    tags=("llm", "dedup", "spans", "sketch"),
)
def llm_dup_spans_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min span dedup — ``llm_dup_spans`` with the exact n-gram
    occurrence counts swapped for the depth·width count-min sketch
    (``llm/spans.duplicated_span_frame_cm``): the escape hatch SCALE.md
    claims for corpora whose n-gram KEY SPACE outgrows the shuffle, now
    value-checked instead of just documented (VERDICT r06 #7).  The gate
    reproduces the sketch bit-for-bit — including its overcount
    collisions — and the one-sided property (CM-covered positions ⊇
    exact-covered positions) is asserted against the exact frame in
    tests/test_llm_ops.py."""
    from data_engineering_project_utn_spark.llm import spans as sn

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    return (
        sn.span_stats(sn.duplicated_span_frame_cm(d, n=5))
        .orderBy(F.desc("dup_fraction"), "doc_id")
        .limit(20)
    )


_PREFIX_JACCARD_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id AS did, unnest(list_distinct({_SHINGLES})) AS g FROM tk),
    gdf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS gdf FROM sh GROUP BY g),
    sz AS (SELECT did, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY did),
    ranked AS (SELECT sh.did, sh.g,
                      row_number() OVER (PARTITION BY sh.did ORDER BY gdf.gdf, sh.g)
                          AS pos,
                      sz.sz
               FROM sh JOIN gdf USING (g) JOIN sz USING (did)),
    pref AS (SELECT did, g FROM ranked
             WHERE pos <= sz - (1 * sz + 2 - 1) // 2 + 1),
    cand AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b
             FROM pref a JOIN pref b USING (g) WHERE a.did < b.did),
    inter AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
              FROM cand c
              JOIN sh sa ON sa.did = c.id_a
              JOIN sh sb ON sb.did = c.id_b AND sb.g = sa.g
              GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b, i.inter,
           CAST(za.sz + zb.sz - i.inter AS BIGINT) AS union_sz,
           CAST(i.inter AS DOUBLE) / CAST(za.sz + zb.sz - i.inter AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN sz za ON za.did = i.id_a
    JOIN sz zb ON zb.did = i.id_b
    WHERE i.inter * 2 >= 1 * (za.sz + zb.sz - i.inter)
    ORDER BY jaccard DESC, id_a, id_b LIMIT 20
    """


def _jaccard_prefix_join(positional: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """EXACT thresholded Jaccard self-join via prefix filtering
        (``llm/dedup.jaccard_prefix_join``, AllPairs/PPJoin family): every
        doc pair with shingle-Jaccard ≥ 1/2, found by joining only the
        rarity-ordered PREFIXES (first s − ⌈s/2⌉ + 1 shingles per doc —
        the rarest-common-shingle lemma guarantees completeness), then
        verified with exact integer intersection counts; the threshold
        comparison is inter·2 ≥ union in BIGINT so no engine can disagree
        on a boundary pair.  The exact complement to the MinHash gate:
        same 25 driver pairs at sf0.01 but with PROOF of no false
        negatives, at Σ_prefix df² pair cost instead of corpus².
        Non-empty floor-asserted.

        ``positional`` (``llm_jaccard_prefix_pos``, same oracle): the
        PPJoin POSITIONAL filter — a prefix match at positions (pa, pb)
        caps the achievable overlap at min(sza−pa, szb−pb) + 1, so
        candidate pairs whose every match fails o·(tn+td) ≥ tn·(sza+szb)
        are pruned BEFORE the verify join; the candidate set shrinks
        (subset-tested) while the lemma keeps the RESULT identical."""
        d = parallelize_compute(load_table(spark, sf_dir, "documents"))
        return (
            dd.jaccard_prefix_join(d, tn=1, td=2, positional=positional)
            .orderBy(F.desc("jaccard"), "id_a", "id_b")
            .limit(20)
        )

    return build


register(
    "llm_jaccard_prefix_join",
    oracle=_PREFIX_JACCARD_ORACLE,
    tags=("llm", "dedup", "jaccard"),
)(_jaccard_prefix_join(positional=False))


@register(
    "llm_containment",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    {_RARE_SHINGLE_CTES},
    sh AS (SELECT doc_id AS did, unnest(list_distinct({_SHINGLES})) AS g FROM tk),
    sz AS (SELECT did, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY did),
    inter AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
              FROM (SELECT id_a, id_b FROM candw) c
              JOIN sh sa ON sa.did = c.id_a
              JOIN sh sb ON sb.did = c.id_b AND sb.g = sa.g
              GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b, i.inter, za.sz AS sza, zb.sz AS szb,
           CAST(i.inter AS DOUBLE) / CAST(za.sz AS DOUBLE) AS cont_a_in_b,
           CAST(i.inter AS DOUBLE) / CAST(zb.sz AS DOUBLE) AS cont_b_in_a
    FROM inter i
    JOIN sz za ON za.did = i.id_a
    JOIN sz zb ON zb.did = i.id_b
    ORDER BY greatest(CAST(i.inter AS DOUBLE) / CAST(za.sz AS DOUBLE),
                      CAST(i.inter AS DOUBLE) / CAST(zb.sz AS DOUBLE)) DESC,
             id_a, id_b
    LIMIT 20
    """,
    tags=("llm", "dedup", "containment"),
)
def llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scores (``llm/dedup.containment_pairs``)
    over the rare-shingle candidate pairs: C(a⊆b) = |A∩B|/|A| and its
    mirror — the subset-duplicate signal (a doc quoted wholesale inside
    a longer one has tiny Jaccard but containment ≈ 1, and curation
    needs the DIRECTION: drop the contained doc, keep the superset).
    Top-20 by the larger direction; counts exact integers, the two
    divisions the only floating step.  Same blocking fragment as the
    graph family, so candidates are non-empty at every SF
    (floor-asserted)."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    cand = tx.rare_shingle_pairs(d).select("id_a", "id_b")
    return (
        dd.containment_pairs(d, cand)
        .orderBy(
            F.desc(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))),
            "id_a",
            "id_b",
        )
        .limit(20)
    )


# the quality fragment's CTE names collide with the minhash chain's tk —
# rename them via must_replace so the formula stays in LOCKSTEP with the
# canonical _QUALITY_CTES (a drifted copy would be a wrong-but-plausible
# gate; must_replace errors at import if the fragment changes shape)
_QUALITY_RENAMED = must_replace(
    must_replace(
        must_replace(
            must_replace(
                must_replace(_QUALITY_CTES, "tk AS (", "qtk AS ("),
                "FROM tk),",
                "FROM qtk),",
            ),
            "m AS (",
            "qm AS (",
        ),
        "FROM m)",
        "FROM qm)",
    ),
    "q AS (",
    "qq AS (",
)


@register(
    "llm_dedup_keepers_quality",
    oracle="WITH RECURSIVE " + _MINHASH_CTES + ",\n    " + _QUALITY_RENAMED + """
    , pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard > 0.5),
    """ + _reach_ctes("pairs") + """,
    comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
             FROM reach GROUP BY src),
    ranked AS (SELECT c.component, c.doc_id, qq.quality,
                      row_number() OVER (PARTITION BY c.component
                                         ORDER BY qq.quality DESC, c.doc_id)
                          AS rnk
               FROM comp c JOIN qq ON qq.doc_id = c.doc_id)
    SELECT r.component,
           MIN(r.doc_id) AS keeper_min_id,
           MIN(CASE WHEN r.rnk = 1 THEN r.doc_id END) AS keeper_quality_doc,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ranked r GROUP BY r.component ORDER BY r.component
    """,
    tags=("llm", "dedup", "clusters", "quality"),
)
def llm_dedup_keepers_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection — the curation-realistic refinement
    of ``llm_dedup_clusters``'s min-id keeper: within each near-dup
    component, keep the member with the HIGHEST quality score
    (``llm/text.quality_score``; ties broken by doc_id), the policy an
    actual training-data pipeline wants (the min-id doc may be the worst
    copy).  One extra broadcast-sized join + per-component rank on top
    of the connected-components fixpoint; both keepers emitted
    side-by-side so the gate shows where the policies disagree."""
    from pyspark.sql import Window

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    pairs = dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None)
    comp = dd.dedup_clusters(pairs).select(
        "doc_id", F.col("keeper_doc").alias("component")
    )
    quality = d.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "doc_id")
    ranked = comp.join(quality, "doc_id").withColumn(
        "rnk", F.row_number().over(w)
    )
    return (
        ranked.groupBy("component")
        .agg(
            F.min("doc_id").alias("keeper_min_id"),
            F.min(F.when(F.col("rnk") == 1, F.col("doc_id"))).alias(
                "keeper_quality_doc"
            ),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .orderBy("component")
    )


@register(
    "llm_cross_source_dups",
    oracle="WITH " + _MINHASH_CTES + """
    , pairs AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard > 0.5),
    lab AS (SELECT p.jaccard,
                   LEAST(da.source, db.source) AS source_x,
                   GREATEST(da.source, db.source) AS source_y,
                   (da.source = db.source) AS within
            FROM pairs p
            JOIN documents da ON da.doc_id = p.doc_a
            JOIN documents db ON db.doc_id = p.doc_b)
    SELECT source_x, source_y, within,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MAX(jaccard) AS max_jaccard
    FROM lab GROUP BY source_x, source_y, within
    ORDER BY n_pairs DESC, source_x, source_y
    """,
    tags=("llm", "dedup", "report"),
)
def llm_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication report: near-dup pairs
    (``llm_minhash_neardup``'s pipeline) labeled by their documents'
    sources — within-source pairs are ordinary re-posts, CROSS-source
    pairs are the contamination signal (mirrored content, laundered
    benchmark copies) that decides which source to de-prioritize.
    Source pair is canonicalized (LEAST/GREATEST) so direction never
    splits a bucket; aggregates are an integer count and a double MAX
    (order-independent — no floating sum anywhere).  Two broadcast-sized
    metadata joins on doc_id on top of the banded candidate pipeline."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    pairs = dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None)
    meta = d.select("doc_id", "source")
    lab = (
        pairs.join(meta.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a")
        .join(meta.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
        .select(
            "jaccard",
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
            (F.col("sa") == F.col("sb")).alias("within"),
        )
    )
    return (
        lab.groupBy("source_x", "source_y", "within")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy(F.desc("n_pairs"), "source_x", "source_y")
    )


@register(
    "llm_containment_sketch",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    {_RARE_SHINGLE_CTES},
    sh2 AS (SELECT doc_id AS did,
                   list_sort(list_distinct(list_transform({_SHINGLES}, s -> md5(s)))) AS hds,
                   list_distinct({_SHINGLES}) AS sset
            FROM tk),
    bk AS (SELECT did AS id_a, CAST(LEAST(len(hds), 16) AS BIGINT) AS den,
                  unnest(hds[1:16]) AS h
           FROM sh2),
    fb AS (SELECT did AS id_b, unnest(hds) AS h FROM sh2),
    cnts AS (SELECT c.id_a, c.id_b, bk.den,
                    CAST(SUM(CASE WHEN fb.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                        AS cnt
             FROM (SELECT id_a, id_b FROM candw) c
             JOIN bk USING (id_a)
             LEFT JOIN fb ON fb.id_b = c.id_b AND fb.h = bk.h
             GROUP BY c.id_a, c.id_b, bk.den),
    ex AS (SELECT c.id_a, c.id_b,
                  CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
                  CAST(len(a.sset) AS BIGINT) AS sza
           FROM (SELECT id_a, id_b FROM candw) c
           JOIN sh2 a ON a.did = c.id_a JOIN sh2 b ON b.did = c.id_b)
    SELECT n.id_a, n.id_b, n.cnt, n.den,
           CAST(n.cnt AS DOUBLE) / CAST(n.den AS DOUBLE) AS cont_est,
           CAST(e.inter AS DOUBLE) / CAST(e.sza AS DOUBLE) AS cont_exact
    FROM cnts n JOIN ex e USING (id_a, id_b)
    ORDER BY cont_est DESC, id_a, id_b LIMIT 20
    """,
    tags=("llm", "dedup", "containment", "sketch"),
)
def llm_containment_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched containment next to its exact twin
    (``llm/dedup.containment_sketch_pairs`` vs ``containment_pairs``):
    probe only doc-a's 16 smallest shingle digests against doc-b's set —
    Ĉ = hits/min(16, |A|), the deterministic bottom-k estimator whose
    verify traffic is k·|candidates| instead of Σ|A| (the petabyte swap
    SCALE.md names for the exact path).  Both scores emitted per pair so
    the gate pins the sketch error itself; Ĉ ≡ C whenever |A| ≤ 16
    (property-tested)."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    from data_engineering_project_utn_spark.persist import track_persist

    cand = track_persist(tx.rare_shingle_pairs(d).select("id_a", "id_b"))
    est = dd.containment_sketch_pairs(d, cand, k=16)
    exact = dd.containment_pairs(d, cand).select(
        "id_a", "id_b", F.col("cont_a_in_b").alias("cont_exact")
    )
    return (
        est.join(exact, ["id_a", "id_b"])
        .select("id_a", "id_b", "cnt", "den", "cont_est", "cont_exact")
        .orderBy(F.desc("cont_est"), "id_a", "id_b")
        .limit(20)
    )


@register(
    "llm_contamination_fraction",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform({_SH3}, s -> md5(s)))) AS sh
           FROM tk),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
    agg AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_contaminated
            FROM sh s LEFT JOIN bench b ON b.sh = s.sh
            WHERE s.doc_id % 97 <> 0
            GROUP BY s.doc_id)
    SELECT doc_id, n_shingles, n_contaminated,
           CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS frac
    FROM agg WHERE n_contaminated > 0
    ORDER BY frac DESC, doc_id LIMIT 20
    """,
    tags=("llm", "curation", "decontamination"),
)
def llm_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark contamination
    (``llm/dedup.contamination_fraction``): per-doc fraction of distinct
    3-gram shingles shared with the benchmark slice (every 97th doc, as
    in ``llm_decontamination``) — the GPT-3-style refinement of the
    boolean scrub: a doc quoting one benchmark line is flagged, not
    executed.  Top-20 contaminated docs by fraction; broadcast digest
    probe, no corpus-side shuffle before the per-doc count."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return (
        dd.contamination_fraction(corpus, benchmark, n=3)
        .filter(F.col("n_contaminated") > 0)
        .orderBy(F.desc("frac"), "doc_id")
        .limit(20)
    )


@register(
    "llm_cluster_size_stats",
    oracle="WITH RECURSIVE " + _MINHASH_CTES + """
    , pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard > 0.5),
    """ + _reach_ctes("pairs") + """,
    comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
             FROM reach GROUP BY src),
    sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component)
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS docs_covered
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("llm", "dedup", "clusters", "report"),
)
def llm_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component size distribution — the dedup savings report:
    how many clusters of each size exist and how many docs they cover
    (docs_covered − n_clusters = rows a keeper policy removes).  Two
    model-size aggregations on top of the connected-components fixpoint;
    the shape every dedup run publishes before committing a scrub."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    pairs = dd.minhash_neardup(d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None)
    comp = dd.dedup_clusters(pairs).select(
        "doc_id", F.col("keeper_doc").alias("component")
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("docs_covered"),
        )
        .orderBy("cluster_size")
    )


@register(
    "llm_dedup_agreement",
    oracle="WITH " + _MINHASH_CTES + f""",
    lsh AS (SELECT doc_a AS id_a, doc_b AS id_b FROM j WHERE jaccard > 0.5),
    psh AS (SELECT doc_id AS did, unnest(list_distinct({_SHINGLES})) AS g FROM tk),
    pgdf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS gdf FROM psh GROUP BY g),
    psz AS (SELECT did, CAST(COUNT(*) AS BIGINT) AS sz FROM psh GROUP BY did),
    pranked AS (SELECT psh.did, psh.g,
                       row_number() OVER (PARTITION BY psh.did
                                          ORDER BY pgdf.gdf, psh.g) AS pos,
                       psz.sz
                FROM psh JOIN pgdf USING (g) JOIN psz USING (did)),
    ppref AS (SELECT did, g FROM pranked
              WHERE pos <= sz - (1 * sz + 2 - 1) // 2 + 1),
    pcand AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b
              FROM ppref a JOIN ppref b USING (g) WHERE a.did < b.did),
    pinter AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
               FROM pcand c
               JOIN psh sa ON sa.did = c.id_a
               JOIN psh sb ON sb.did = c.id_b AND sb.g = sa.g
               GROUP BY c.id_a, c.id_b),
    exact AS (SELECT i.id_a, i.id_b
              FROM pinter i
              JOIN psz za ON za.did = i.id_a
              JOIN psz zb ON zb.did = i.id_b
              WHERE i.inter * 2 > (za.sz + zb.sz - i.inter)),
    u AS (SELECT id_a, id_b,
                 CAST(MAX(CASE WHEN src = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS in_exact,
                 CAST(MAX(CASE WHEN src = 'l' THEN 1 ELSE 0 END) AS BIGINT) AS in_lsh
          FROM (SELECT id_a, id_b, 'e' AS src FROM exact
                UNION ALL SELECT id_a, id_b, 'l' FROM lsh)
          GROUP BY id_a, id_b)
    SELECT CAST(SUM(in_exact) AS BIGINT) AS n_exact,
           CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
           CAST(SUM(in_exact * in_lsh) AS BIGINT) AS n_both,
           CAST(SUM(in_exact * (1 - in_lsh)) AS BIGINT) AS n_exact_only,
           CAST(SUM((1 - in_exact) * in_lsh) AS BIGINT) AS n_lsh_only
    FROM u
    """,
    tags=("llm", "dedup", "report"),
)
def llm_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement — the measured LSH recall, cross-engine:
    the EXACT prefix-filter join (provably complete above the
    threshold) against the 8-perm banded MinHash pipeline, both at
    J > 1/2, as one agreement row (n_exact, n_lsh, n_both,
    n_exact_only, n_lsh_only).  n_exact_only IS the LSH false-negative
    count (the banding miss probability made a gated number instead of
    a docstring estimate), and n_lsh_only must be 0 — LSH verifies
    exact Jaccard on candidates, so its pairs are a subset of the true
    set; a nonzero value would be a verification bug, and the gate
    would catch it on both engines."""
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    # ONE shingle pass for both arms (r15, guide §2.4/§5): tokenization +
    # shingle materialization is the dominant per-doc cost and the two
    # families derive from the identical distinct n-gram set
    # (shingle_frame.shset ≡ array_distinct(shingles(text)) — same
    # expressions), so the agreement job shingles the corpus once and
    # hands the persisted frame to the exact prefix-filter arm
    # (shingles_frame=) and the MinHash arm (shingles=) alike.
    from data_engineering_project_utn_spark.persist import track_persist

    sh = track_persist(dd.shingle_frame(d))
    exact = (
        dd.jaccard_prefix_join(d, tn=1, td=2, shingles_frame=sh)
        .filter(F.col("inter") * 2 > F.col("union_sz"))
        .select("id_a", "id_b", F.lit(1).alias("in_exact"), F.lit(0).alias("in_lsh"))
    )
    lsh = (
        dd.minhash_neardup(
            d, k=8, bands=4, n=5, threshold=0.5, max_bucket_size=None, shingles=sh
        )
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.lit(0).alias("in_exact"),
            F.lit(1).alias("in_lsh"),
        )
    )
    u = (
        exact.unionByName(lsh)
        .groupBy("id_a", "id_b")
        .agg(
            F.max("in_exact").alias("in_exact"),
            F.max("in_lsh").alias("in_lsh"),
        )
    )
    return u.agg(
        F.sum("in_exact").cast("long").alias("n_exact"),
        F.sum("in_lsh").cast("long").alias("n_lsh"),
        F.sum(F.col("in_exact") * F.col("in_lsh")).cast("long").alias("n_both"),
        F.sum(F.col("in_exact") * (1 - F.col("in_lsh"))).cast("long").alias(
            "n_exact_only"
        ),
        F.sum((1 - F.col("in_exact")) * F.col("in_lsh")).cast("long").alias(
            "n_lsh_only"
        ),
    )


register(
    "llm_jaccard_prefix_pos",
    oracle=_PREFIX_JACCARD_ORACLE,
    tags=("llm", "dedup", "jaccard"),
)(_jaccard_prefix_join(positional=True))


_SEMDEDUP_ORACLE = """
    WITH kk AS (SELECT LEAST(65536, GREATEST(4, CAST(POW(2, CEIL(LOG2(SQRT(
                   CAST(COUNT(*) AS DOUBLE))))) AS BIGINT))) AS k
                FROM embeddings),
    cents AS (SELECT vec_id AS cid, embedding AS cv
              FROM embeddings, kk WHERE vec_id < kk.k),
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
    ce AS (SELECT c.vec_id, c.cell, e.embedding
           FROM cells c JOIN embeddings e USING (vec_id)),
    p AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                 list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_transform(list_zip(a.embedding, a.embedding),
                        q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_transform(list_zip(b.embedding, b.embedding),
                        q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (acc, x) -> acc + x)))
                     AS cos_sim
          FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id)
    SELECT cell, id_a, id_b, cos_sim FROM p
    ORDER BY cos_sim DESC, id_a, id_b LIMIT 20
    """


def _semdedup_pairs(bcast: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Semantic near-duplicate report (SemDeDup, Abbas et al. 2023):
        the top-20 most-cosine-similar IN-CLUSTER embedding pairs
        (``llm/dedup.semantic_neardup_pairs`` — IVF coarse cells as the
        blocking structure, cosine scored only within a cell).  The
        embedding-space member of the dedup family: catches paraphrase /
        re-encoding duplicates that share no n-grams, next to MinHash
        (lexical), SimHash (bitwise), spans (substring), and containment
        (asymmetric).

        The quantizer size is DERIVED from the corpus, k = 2^⌈log2 √N⌉
        (``derive_ivf_k`` — the same value-gated sizing rule as
        ``llm_ivf_auto``, recomputed by the oracle from its own COUNT), so
        the pair space Σ|cell|² ≈ N²/k = N^1.5 shrinks as the corpus grows
        cells — a FIXED quantizer would make this gate quadratic per
        doubling (measured: 8 fixed cells cost 4×/2× rows; derived cells
        re-bound it).  Per-vector norms are computed once on the persisted
        cell frame, not per pair (identical fold → identical doubles).

        ``bcast`` (``llm_semdedup_bcast``, VERDICT r08 #3, same oracle):
        the quantizer stays a DATAFRAME end-to-end — filtered from the
        corpus itself (``vec_id < k``), packed into one broadcast row
        (``similarity.ivf_cells_from_df``) and never collected to the
        driver.  At 100 TB the derived k exceeds any driver-collect or
        plan-literal budget; this is the path you deploy there.  The only
        driver traffic is the corpus COUNT that sizes k — one long.
        Otherwise the k centroids collect as a literal list."""
        from data_engineering_project_utn_spark.persist import track_persist

        e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
        k = sim_derive_k(e)
        cents = e.filter(F.col("vec_id") < k)
        if bcast:
            cents = cents.select(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
            )
        else:
            cents = [
                (int(r["vec_id"]), list(r["embedding"]))
                for r in cents.select("vec_id", "embedding").collect()
            ]
        return (
            dd.semantic_neardup_pairs(e, cents)
            .orderBy(F.desc("cos_sim"), "id_a", "id_b")
            .limit(20)
        )

    return build


register(
    "llm_semdedup_pairs",
    oracle=_SEMDEDUP_ORACLE,
    tags=("llm", "dedup", "similarity", "semantic"),
)(_semdedup_pairs(bcast=False))
register(
    "llm_semdedup_bcast",
    oracle=_SEMDEDUP_ORACLE,
    tags=("llm", "dedup", "similarity", "semantic", "scale-twin"),
)(_semdedup_pairs(bcast=True))


def sim_derive_k(e: DataFrame) -> int:
    """√N quantizer sizing for the semdedup gate (= similarity.derive_ivf_k
    over the frame's count)."""
    from data_engineering_project_utn_spark.llm import similarity as sim

    return sim.derive_ivf_k(e.count())


def _semdedup_capped_oracle(cap: int) -> str:
    """The capped-cell semdedup oracle: the kk/cents/cscored/cells prefix
    reused VERBATIM from ``_SEMDEDUP_ORACLE`` (surgery fails at import
    time if the fragment drifts), then the hot/blk/sb split chain — the
    SAME integer split arithmetic as ``_capped_knn_tail`` keyed on the
    IVF cell — and pairs within (cell, sub)."""
    marker = "    ce AS"
    parts = _SEMDEDUP_ORACLE.split(marker)
    if len(parts) != 2:
        raise ValueError("semdedup oracle fragment drifted — ce marker not found")
    prefix = parts[0]  # WITH kk, cents, cscored, cells,
    cos = """list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_transform(list_zip(a.embedding, a.embedding),
                        q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_transform(list_zip(b.embedding, b.embedding),
                        q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (acc, x) -> acc + x)))"""
    return (
        prefix
        + f"""    ce AS (SELECT c.vec_id, c.cell, e.embedding
           FROM cells c JOIN embeddings e USING (vec_id)),
    hot AS (SELECT cell, COUNT(*) AS cnt FROM ce GROUP BY cell
            HAVING COUNT(*) > {cap}),
    blk AS (
        SELECT ce.vec_id, ce.cell, ce.embedding,
               CASE WHEN h.cnt IS NULL THEN 0
                    WHEN CAST(FLOOR((h.cnt + {cap - 1}) / {cap}.0) AS BIGINT) <= 1 THEN 0
                    ELSE LEAST(length(bin(
                        CAST(FLOOR((h.cnt + {cap - 1}) / {cap}.0) AS BIGINT) - 1)), 8)
               END AS split_bits
        FROM ce LEFT JOIN hot h USING (cell)
    ),
    sb AS (
        SELECT *, CASE WHEN split_bits = 0 THEN 0
                       ELSE ((vec_id * 31 + 7) % 1000003)
                            % CAST(POW(2, split_bits) AS BIGINT)
                  END AS sub
        FROM blk
    ),
    p AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                 {cos}
                     AS cos_sim
          FROM sb a JOIN sb b ON a.cell = b.cell AND a.sub = b.sub
                             AND a.vec_id < b.vec_id)
    SELECT cell, id_a, id_b, cos_sim FROM p
    ORDER BY cos_sim DESC, id_a, id_b LIMIT 20
    """
    )


def _semdedup_2level_oracle(cap: int) -> str:
    """Two-level-assignment semdedup oracle: the shared hierarchical
    descent CTE chain (``llm_shared.two_level_cells_ctes`` — ONE SQL
    definition with the ANN twin) feeding the capped pair tail reused
    VERBATIM from ``_semdedup_capped_oracle`` (surgery fails at import
    on drift)."""
    from data_engineering_project_utn_spark.plans.llm_shared import (
        two_level_cells_ctes,
    )

    tail_marker = "    ce AS"
    parts = _semdedup_capped_oracle(cap).split(tail_marker)
    if len(parts) != 2:
        raise ValueError("capped semdedup oracle drifted — ce marker not found")
    tail = tail_marker + parts[1]
    return f"""
    WITH {two_level_cells_ctes()},
{tail}"""


@register(
    "llm_semdedup_2level",
    oracle=_semdedup_2level_oracle(16),
    tags=("llm", "dedup", "similarity", "semantic", "scale-twin"),
)
def llm_semdedup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE 100 TB semdedup deployment — BOTH scale fixes the
    round-10 sf2→sf4 probes motivated, composed and value-gated:
    hierarchical two-level coarse assignment (≈2√k cosines/row instead
    of k — the N·k·d flat-assign term measured at 2.05×/2× even with
    capped pairs drops to ≈N·2√k·d) AND the id-hash cell cap (pair
    space ≈ N·cap).  FAISS reaches the same shape with a
    quantizer-on-quantizer / HNSW coarse step; here both levels are
    exact struct-max descents the oracle replays digit-for-digit —
    approximation relative to FLAT assignment (boundary vectors can
    land in a neighboring super's leaf) is the pinned, gated trade, not
    a silent one.  Quantizer stays on the DataFrame/broadcast carrier
    end to end: one packed super row + a g-row leaf-array broadcast
    join; nothing collects."""
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim_derive_k(e)
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return (
        dd.semantic_neardup_pairs(e, cdf, max_cell_size=16, two_level=True)
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(20)
    )


def _semdedup_multiprobe_oracle(cap: int, nprobe_super: int) -> str:
    """Multi-super semdedup oracle: the shared descent CTE chain at
    ``nprobe_super`` supers feeding the same capped pair tail as the
    single-probe and capped twins (reused verbatim — surgery fails at
    import on drift)."""
    from data_engineering_project_utn_spark.plans.llm_shared import (
        two_level_cells_ctes,
    )

    tail_marker = "    ce AS"
    parts = _semdedup_capped_oracle(cap).split(tail_marker)
    if len(parts) != 2:
        raise ValueError("capped semdedup oracle drifted — ce marker not found")
    tail = tail_marker + parts[1]
    return f"""
    WITH {two_level_cells_ctes(nprobe_super)},
{tail}"""


@register(
    "llm_semdedup_multiprobe",
    oracle=_semdedup_multiprobe_oracle(16, 2),
    tags=("llm", "dedup", "similarity", "semantic", "scale-twin"),
)
def llm_semdedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup side of multi-super probing (VERDICT r10 #1's recovery
    move, completing what ``llm_ivf_2level_multiprobe`` gates for
    retrieval): two-level + capped semdedup with ``nprobe_super=2`` —
    each vector argmaxes over the UNION of its top-2 supers' leaf sets,
    so a boundary vector whose true nearest centroid lives under the
    neighboring super lands in the RIGHT cell and its near-dup pairs
    stop being structurally invisible.  Per-row assignment ≈ 3√k·d
    (1536 cosines at the 65536-centroid clamp vs 65536 flat); pair
    space still ≈ N·cap.  Assignment agreement with the flat argmax is
    ≥ the single-probe descent's by construction (superset leaf pools;
    pytest-pinned), so recall sits between ``llm_semdedup_2level`` and
    the flat ``llm_semdedup_capped`` at ~1.5× single-probe assignment
    cost — the same recall/cost dial FAISS IMI deployments expose."""
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim_derive_k(e)
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return (
        dd.semantic_neardup_pairs(
            e, cdf, max_cell_size=16, two_level=True, nprobe_super=2
        )
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(20)
    )


@register(
    "llm_semdedup_capped",
    oracle=_semdedup_capped_oracle(16),
    tags=("llm", "dedup", "similarity", "semantic", "scale-twin"),
)
def llm_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size-capped SemDeDup — the LINEAR-pair-space deployment of
    the semdedup family (round-10 answer to the sf2→sf4 probe): the
    √N-sized quantizer's Σ|cell|² pair space grows as N^1.5 (measured
    2.69× per 2× rows at sf2→sf4, tracking the theoretical 2^1.5 =
    2.83); with ``max_cell_size``, every overfull cell splits into
    id-hash sub-cells — the SAME integer split arithmetic as the capped
    k-NN join (``lsh_blocks``), keyed on the IVF cell — so pair work is
    ≈ N·cap at ANY corpus size.  The trade (each member of a split cell
    meets a ~cap-row uniform sample of its peers; near-dup groups stay
    internally connected, some individual cross-sub pairs go
    unreported) is the same bounded-sample approximation the knn-join
    cap already gates.  Quantizer rides the DataFrame/broadcast carrier
    (``llm_semdedup_bcast``'s 100 TB dispatch); cap pinned at 16 so the
    split path is exercised at every SF (sf0.01's mean cell is ~16)."""
    from data_engineering_project_utn_spark.persist import track_persist

    e = track_persist(parallelize_compute(load_table(spark, sf_dir, "embeddings")))
    k = sim_derive_k(e)
    cdf = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return (
        dd.semantic_neardup_pairs(e, cdf, max_cell_size=16)
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(20)
    )


@register(
    "llm_minhash_estimate_error",
    oracle="WITH " + _MINHASH_CTES + """
    SELECT j.doc_a, j.doc_b,
           CAST(len(list_filter(list_zip(ga.sg, gb.sg), p -> p[1] = p[2]))
               AS BIGINT) AS est_matches,
           j.jaccard
    FROM j
    JOIN sig ga ON ga.doc_id = j.doc_a
    JOIN sig gb ON gb.doc_id = j.doc_b
    """,
    tags=("llm", "dedup", "minhash", "report"),
)
def llm_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy eval for the MinHash family: per banded candidate
    pair, the SIGNATURE-level similarity estimate (matching permutation
    minima out of k=8 — the quantity LSH banding actually thresholds on)
    next to the exact shingle Jaccard the verifier computes.  E[est/k] =
    J, so this gate pins how far the 8-perm rotation family's estimates
    sit from truth on real candidates — the dedup-side counterpart of
    the ANN rank-eval trio (every approximate path's quality is a gated
    number, not a hope).

    Integer match counts (no float estimate column — est/k is k-denominated
    and the reader divides); same Σ|bucket|² candidate bound as every
    banded gate.
    """
    from data_engineering_project_utn_spark.persist import track_persist

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    sh = track_persist(dd.shingle_frame(d, "doc_id", "text", 5))
    sig = sh.select(
        "doc_id", dd._signature_from_digests(F.col("hd"), 8).alias("sg")
    )
    banded = track_persist(dd._banded(sh, 8, 4))
    cand = dd._candidates_from_banded(banded, None)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("_sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("_sb"))
    ga = sig.select(F.col("doc_id").alias("doc_a"), F.col("sg").alias("_ga"))
    gb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sg").alias("_gb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
    union = (F.size("_sa") + F.size("_sb")).cast("double") - inter
    est = F.size(
        F.filter(
            F.zip_with(F.col("_ga"), F.col("_gb"), lambda a, b: a == b),
            lambda x: x,
        )
    ).cast("long")
    # hint("merge"): sa/sb carry the corpus-scale shset and ga/gb the
    # per-doc signatures — the same static-parquet-byte underestimate that
    # OOM'd the 8 GB driver at sf4 for the other verify joins applies here
    # (llm/dedup.py:160); pin every corpus-scale side to sort-merge.
    return (
        cand.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .join(ga.hint("merge"), "doc_a")
        .join(gb.hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_matches"),
            (inter / union).alias("jaccard"),
        )
    )


@register(
    "llm_editdist_clusters",
    oracle="WITH RECURSIVE " + _MINHASH_CTES + """,
    ep AS (SELECT c.doc_a, c.doc_b
           FROM cand c
           JOIN documents da ON da.doc_id = c.doc_a
           JOIN documents db ON db.doc_id = c.doc_b
           WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                 / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE)
                 >= 0.97),
    """ + _reach_ctes("ep") + """
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper_doc
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    tags=("llm", "dedup", "clusters", "editdist"),
)
def llm_editdist_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup DECISION step over the character-level pair source: connected
    components of the Levenshtein-verified near-dup graph, each component
    keeping its min doc_id — the edit-distance twin of the lexical and
    semantic cluster gates, riding the same label-propagation operator
    (O(log diameter) rounds) and recursive-CTE oracle shape.  Shows the
    new pair source feeds the standard keeper machinery unchanged.
    """
    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    pairs = dd.editdist_neardup(d, k=8, bands=4, n=5, threshold=0.97).select(
        "doc_a", "doc_b"
    )
    return dd.dedup_clusters(pairs).orderBy("doc_id")


@register(
    "llm_sorted_neighborhood_multipass",
    oracle=f"""
    WITH tk AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
    ky AS (SELECT doc_id, array_to_string(list_sort(list_distinct(t)), ' ') AS k
           FROM tk),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shset FROM tk),
    rkf AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS rn
            FROM ky),
    rkr AS (SELECT doc_id, row_number() OVER (ORDER BY reverse(k), doc_id) - 1 AS rn
            FROM ky),
    jac AS (SELECT sa.doc_id AS ia, sb.doc_id AS ib,
                   CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                   / (CAST(len(sa.shset) + len(sb.shset) AS DOUBLE)
                      - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE))
                       AS jaccard
            FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id),
    pf AS (SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
                  GREATEST(a.doc_id, b.doc_id) AS doc_b
           FROM rkf a JOIN rkf b ON b.rn - a.rn BETWEEN 1 AND 3),
    pr AS (SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
                  GREATEST(a.doc_id, b.doc_id) AS doc_b
           FROM rkr a JOIN rkr b ON b.rn - a.rn BETWEEN 1 AND 3),
    ff AS (SELECT pf.doc_a, pf.doc_b, j.jaccard, TRUE AS in_fwd
           FROM pf JOIN jac j ON j.ia = pf.doc_a AND j.ib = pf.doc_b
           WHERE j.jaccard >= 0.5),
    rr AS (SELECT pr.doc_a, pr.doc_b, j.jaccard, TRUE AS in_rev
           FROM pr JOIN jac j ON j.ia = pr.doc_a AND j.ib = pr.doc_b
           WHERE j.jaccard >= 0.5)
    SELECT COALESCE(ff.doc_a, rr.doc_a) AS doc_a,
           COALESCE(ff.doc_b, rr.doc_b) AS doc_b,
           COALESCE(ff.jaccard, rr.jaccard) AS jaccard,
           COALESCE(in_fwd, FALSE) AS in_fwd,
           COALESCE(in_rev, FALSE) AS in_rev
    FROM ff FULL OUTER JOIN rr
      ON ff.doc_a = rr.doc_a AND ff.doc_b = rr.doc_b
    """,
    tags=("llm", "dedup", "blocking"),
)
def llm_sorted_neighborhood_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS merge/purge (the Hernández–Stolfo recall lever: several
    cheap passes under different keys beat one wide window): pass 1 sorts
    by the token fingerprint (prefix clustering), pass 2 by its REVERSAL
    (suffix clustering), pairs canonicalized to (lo, hi) and full-outer
    merged with per-pass provenance flags — the gate pins exactly which
    pairs each key ordering contributes, so the multipass recall gain is
    a value, not a claim.

    Each pass is the linear rank + block equi-join of the single-pass
    gate (2·window·N pair bound total); the merge is one equi-join on
    the canonical pair key.  Both passes rank off ONE cached keyed
    frame (``shingle_frame(with_key=True)`` — the reversed pass derives
    ``reverse(_k)`` from the shared column), so the second pass costs a
    bucket exchange + block join, not a second tokenization/shingle
    materialization.

    Oracle note: the brute jac CTE scores all id-ordered pairs — oracle
    clarity over oracle cost; the SPARK side verifies only within
    neighborhoods (the deployed shape).
    """
    from data_engineering_project_utn_spark.persist import track_persist

    d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    sh = track_persist(dd.shingle_frame(d, "doc_id", "text", 5, with_key=True))

    def canon(df, flag):
        return df.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "jaccard",
            F.lit(True).alias(flag),
        )

    p1 = canon(
        dd.sorted_neighborhood_pairs(d, window=3, n=5, threshold=0.5, shingles=sh),
        "in_fwd",
    )
    p2 = canon(
        dd.sorted_neighborhood_pairs(
            d, window=3, n=5, threshold=0.5, reverse_key=True, shingles=sh
        ),
        "in_rev",
    )
    j = p1.withColumnRenamed("jaccard", "_j1").join(
        p2.withColumnRenamed("jaccard", "_j2"), ["doc_a", "doc_b"], "full"
    )
    return j.select(
        "doc_a",
        "doc_b",
        F.coalesce(F.col("_j1"), F.col("_j2")).alias("jaccard"),
        F.coalesce(F.col("in_fwd"), F.lit(False)).alias("in_fwd"),
        F.coalesce(F.col("in_rev"), F.lit(False)).alias("in_rev"),
    )


def _shared_dedup_sources(spark: SparkSession, sf_dir: str, at_rest: bool = False):
    """The three blocking families over ONE cached base — the ensemble
    composition the overlap/combined gates run.  Returns (mh, ed, sn).

    Separate per-family pipelines each re-tokenize and re-persist the
    corpus (3 shingle frames + 2 identical banded candidate sets alive in
    one job); measured at the sf4 probe that pushes storage past the
    executor storage fraction and the eviction/recompute makes the
    composed job super-linear (sf2→sf4 2.27×/2×) even though each family
    alone is ≤1.94×.  Sharing one ``with_key=True`` shingle frame and one
    banded candidate set across MinHash-verify, edit-distance-verify and
    sorted-neighborhood restores the sum-of-parts cost: tokenization once,
    banding once, candidates persisted once.

    ``at_rest``: the three families ride ONE doc_id-bucketed (doc_id,
    text) scan (``_dedup_corpus_bucketed``) and ONE persisted
    clustering-preserving shingle projection — zero corpus-side verify
    exchanges (the edit-distance texts join merge-pinned on the bucketed
    scan).
    """
    from data_engineering_project_utn_spark.persist import track_persist

    if at_rest:
        d = _dedup_corpus_bucketed(spark, sf_dir)
    else:
        d = parallelize_compute(load_table(spark, sf_dir, "documents"))
    sh = track_persist(dd.shingle_frame(d, "doc_id", "text", 5, with_key=True))
    banded = track_persist(dd._banded(sh, 8, 4))
    cand = track_persist(dd._candidates_from_banded(banded, None))
    mh = dd.minhash_neardup(d, threshold=0.5, shingles=sh, candidates=cand)
    if at_rest:
        ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
        tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
        ed = dd._editdist_verified(
            cand.join(ta.hint("merge"), "doc_a").join(tb.hint("merge"), "doc_b"),
            ["doc_a", "doc_b"],
            0.97,
        )
    else:
        ed = dd.editdist_neardup(d, threshold=0.97, candidates=cand)
    sn = dd.sorted_neighborhood_pairs(d, window=3, n=5, threshold=0.5, shingles=sh)
    return mh, ed, sn


#: Shared oracle tail: the three pair sources (MinHash > 0.5, edit-sim
#: ≥ 0.97, sorted-neighborhood ≥ 0.5) as canonical (lo, hi) CTEs riding
#: ONE _MINHASH_CTES chain (tk/sh/cand/j are shared — the snm verify
#: reuses sh.shset, the editdist verify reuses cand).
_PAIR_SOURCES_CTES = f"""mhp AS (SELECT doc_a, doc_b FROM j WHERE jaccard > 0.5),
    edp AS (SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b
            WHERE {_EDIT_SIM} >= 0.97),
    ky AS (SELECT doc_id, array_to_string(list_sort(list_distinct(t)), ' ') AS k
           FROM tk),
    rk AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS rn
           FROM ky),
    snc AS (SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
                   GREATEST(a.doc_id, b.doc_id) AS doc_b
            FROM rk a JOIN rk b ON b.rn - a.rn BETWEEN 1 AND 3),
    snp AS (SELECT s.doc_a, s.doc_b
            FROM snc s
            JOIN sh sa ON sa.doc_id = s.doc_a
            JOIN sh sb ON sb.doc_id = s.doc_b
            WHERE CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                  / (CAST(len(sa.shset) + len(sb.shset) AS DOUBLE)
                     - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE))
                  >= 0.5),
    allp AS (SELECT doc_a, doc_b, TRUE AS m, FALSE AS e, FALSE AS s FROM mhp
             UNION ALL
             SELECT doc_a, doc_b, FALSE, TRUE, FALSE FROM edp
             UNION ALL
             SELECT doc_a, doc_b, FALSE, FALSE, TRUE FROM snp)"""

#: The survivorship oracle over the ensemble clusters — shared verbatim
#: by the anchor and the at-rest bucketed twin (layout must not move a
#: value).
_GOLDEN_RECORD_ORACLE = "WITH RECURSIVE " + _MINHASH_CTES + ",\n    " + _PAIR_SOURCES_CTES + """,
    up AS (SELECT DISTINCT doc_a, doc_b FROM allp),
    """ + _reach_ctes("up") + """,
    lab AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper_doc
            FROM reach GROUP BY src),
    m AS (SELECT l.keeper_doc, l.doc_id, CAST(length(d.text) AS BIGINT) AS len
          FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
    best AS (SELECT keeper_doc, doc_id, len,
                    row_number() OVER (PARTITION BY keeper_doc
                                       ORDER BY len DESC, doc_id) AS rn
             FROM m),
    agg AS (SELECT keeper_doc, CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(SUM(len) AS BIGINT) AS total_chars
            FROM m GROUP BY keeper_doc)
    SELECT a.keeper_doc, a.n_members, a.total_chars,
           b.doc_id AS canonical_doc, b.len AS canonical_len
    FROM agg a JOIN best b ON b.keeper_doc = a.keeper_doc AND b.rn = 1
    ORDER BY a.keeper_doc
    """


@register(
    "llm_dedup_source_overlap",
    oracle="WITH " + _MINHASH_CTES + ",\n    " + _PAIR_SOURCES_CTES + """
    SELECT doc_a, doc_b,
           bool_or(m) AS in_minhash,
           bool_or(e) AS in_editdist,
           bool_or(s) AS in_snm
    FROM allp GROUP BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "report"),
)
def llm_dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family blocking overlap: every near-dup pair found by ANY of
    the three blockers — MinHash bands (Jaccard > 0.5), edit-distance
    verify (sim ≥ 0.97), sorted-neighborhood (Jaccard ≥ 0.5) — with a
    provenance flag per family, at each family's own deployed threshold.
    Pins which duplicate classes each blocker alone would miss (band
    recall gaps, window locality, character-level strictness) — the
    measurement behind choosing a production blocking ensemble.

    One union + one (lo, hi)-keyed aggregate on top of the three
    pipelines sharing one cached base (``_shared_dedup_sources``); no
    new shuffle class.
    """
    mh, ed, sn = _shared_dedup_sources(spark, sf_dir)
    t, f = F.lit(True), F.lit(False)
    u = (
        mh.select("doc_a", "doc_b", t.alias("m"), f.alias("e"), f.alias("s"))
        .unionByName(
            ed.select("doc_a", "doc_b", f.alias("m"), t.alias("e"), f.alias("s"))
        )
        .unionByName(
            sn.select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
                f.alias("m"),
                f.alias("e"),
                t.alias("s"),
            )
        )
    )
    return u.groupBy("doc_a", "doc_b").agg(
        F.max("m").alias("in_minhash"),
        F.max("e").alias("in_editdist"),
        F.max("s").alias("in_snm"),
    )


_COMBINED_CLUSTERS_ORACLE = "WITH RECURSIVE " + _MINHASH_CTES + ",\n    " + _PAIR_SOURCES_CTES + """,
    up AS (SELECT DISTINCT doc_a, doc_b FROM allp),
    """ + _reach_ctes("up") + """
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keeper_doc
    FROM reach GROUP BY src ORDER BY doc_id
    """


def _combined_dedup_clusters(at_rest: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The ENSEMBLE dedup decision: connected components over the UNION
        of all three blocking families' verified pairs — the manifest a
        production pipeline actually deletes from, since each family
        alone has a recall hole the others cover (pinned by
        ``llm_dedup_source_overlap``).  Same label-propagation operator
        and keeper convention as every cluster gate; the three pair
        sources ride one cached base (``_shared_dedup_sources`` — CC
        itself measured FLAT at 2 rounds / ~5 s at both sf2 and sf4, the
        scaling cost was the per-family re-materialization).

        ``at_rest`` (``llm_combined_dedup_clusters_at_rest``, same oracle
        — layout must not move a value): the production nightly shape,
        all three families read the ONE doc_id-bucketed corpus, so there
        are zero corpus-side verify exchanges and the only shuffles are
        the band groupBy, the bounded candidate set, and the snm range
        exchange."""
        mh, ed, sn = _shared_dedup_sources(spark, sf_dir, at_rest)
        return _ensemble_labels_from(mh, ed, sn).orderBy("doc_id")

    return build


register(
    "llm_combined_dedup_clusters",
    oracle=_COMBINED_CLUSTERS_ORACLE,
    tags=("llm", "dedup", "clusters", "report"),
)(_combined_dedup_clusters(at_rest=False))


def _dedup_golden_record(at_rest: bool) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SURVIVORSHIP — the merge/purge pipeline's third step
        (Hernández–Stolfo: block → cluster → merge each cluster into one
        surviving record): per ensemble near-dup cluster, the canonical
        member (longest text, ties to min doc_id — a deterministic total
        order) plus the cluster summary a manifest keeps when the rest is
        deleted.  Completes the ER story the three blocking families +
        label propagation start: the output IS the dedup'd corpus
        directory entry.  All-BIGINT output (member count, char totals) —
        no float aggregation.

        ``at_rest`` (``llm_dedup_golden_record_at_rest``, VERDICT r12 #3,
        same oracle): blocking, verification, clustering AND survivorship
        all read the one doc_id-bucketed corpus — the lengths join inside
        ``golden_record`` is satisfied from the bucketed scan too, so the
        merge/purge endgame adds only keeper-keyed exchanges on top of the
        ensemble's.  The production ending — writing the surviving corpus
        back as a bucketed table — is ``llm.dedup.surviving_corpus`` +
        ``write_bucketed_table`` (sink-tested; a sweep gate must not CTAS
        per run)."""
        mh, ed, sn = _shared_dedup_sources(spark, sf_dir, at_rest)
        labels = _ensemble_labels_from(mh, ed, sn)
        if at_rest:
            d = _dedup_corpus_bucketed(spark, sf_dir)
        else:
            d = load_table(spark, sf_dir, "documents")
        return dd.golden_record(labels, d).orderBy("keeper_doc")

    return build


register(
    "llm_dedup_golden_record",
    oracle=_GOLDEN_RECORD_ORACLE,
    tags=("llm", "dedup", "clusters", "report"),
)(_dedup_golden_record(at_rest=False))


register(
    "llm_combined_dedup_clusters_at_rest",
    oracle=_COMBINED_CLUSTERS_ORACLE,
    tags=("llm", "dedup", "clusters", "bucketed", "scale-twin"),
)(_combined_dedup_clusters(at_rest=True))


def _ensemble_labels_from(mh: DataFrame, ed: DataFrame, sn: DataFrame) -> DataFrame:
    """Cluster labels over the three families' unioned pairs (the shape
    both golden-record gates and the write-back consume)."""
    return dd.dedup_clusters(
        mh.select("doc_a", "doc_b")
        .unionByName(ed.select("doc_a", "doc_b"))
        .unionByName(
            sn.select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
        )
        .distinct()
    )


register(
    "llm_dedup_golden_record_at_rest",
    oracle=_GOLDEN_RECORD_ORACLE,
    tags=("llm", "dedup", "clusters", "bucketed", "scale-twin"),
)(_dedup_golden_record(at_rest=True))

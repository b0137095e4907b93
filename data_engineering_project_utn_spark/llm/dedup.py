"""Deduplication operators for training-data pipelines.

Scale design: every method is blocking-based — no all-pairs comparison ever
materializes.

* exact / normalized: hash-groupBy (one shuffle on the 128-bit digest).
* MinHash + LSH: per-row signature (narrow) → explode k/r bands (narrow,
  ×bands) → groupBy (band_idx, band_hash) — one shuffle whose key space is
  the band buckets; only same-bucket docs ever meet.  Candidate pairs then
  get exact Jaccard verification.  This is the standard
  shingle→minhash→band→bucket-join pipeline (Broder '97 / MMDS ch.3).
* SimHash: per-row 16-bit signature; duplicates = equal signatures
  (groupBy), near-duplicates = signatures within Hamming distance d via
  bit-mask band exploding.

All hashing uses md5 (lexicographic min over hex = a uniform-order MinHash
family) so DuckDB oracles reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_utn_spark.llm.text import shingles, tokens
from data_engineering_project_utn_spark.persist import track_persist


# parallelize_compute moved to llm.compute (it is family-neutral); the
# re-export keeps existing imports working.
from data_engineering_project_utn_spark.llm.compute import (  # noqa: F401,E402
    parallelize_compute,
)


def content_hash(text: Column | str) -> Column:
    """Exact-dup key: md5 of raw content."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def normalized_hash(text: Column | str) -> Column:
    """Dup key invariant to token order & case: md5 of the sorted token set."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def minhash_signature(text: Column | str, k: int = 8, n: int = 5) -> Column:
    """k-perm MinHash signature over n-gram shingles.

    One md5 per shingle; permutation i is the lexicographic order of the
    digest *rotated* by 4·i hex chars (distinct leading 16 bits per
    permutation — independent enough for banding, and ~9× cheaper than
    re-hashing per permutation, which dominated bench time).  k ≤ 8.
    Returns array<string> of length k.
    """
    sh_digests = F.transform(shingles(text, n), F.md5)
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                sh_digests,
                lambda h: F.concat(
                    F.substring(h, i * 4 + 1, 32), F.substring(h, 1, i * 4)
                ),
            )
        ),
    )


def lsh_bands(signature: Column, bands: int, rows: int) -> Column:
    """Band the signature: array of (band_idx, band_hash) structs."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band_idx"),
            F.md5(F.concat_ws("|", F.slice(signature, b * rows + 1, rows))).alias(
                "band_hash"
            ),
        ),
    )


def shingle_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    with_key: bool = False,
) -> DataFrame:
    """Per-doc shingle digests + distinct shingle set, built as *stepwise
    projections over materialized columns*.

    Building shingles inline inside one nested lambda re-evaluates the
    tokenizer per shingle index (quadratic per doc — measured 84 s at
    sf0.1); binding tokens to an attribute first makes each stage evaluate
    once per row.  Columns: doc_id, hd (array<md5>), shset (distinct
    shingle strings).

    ``with_key=True`` additionally emits ``_k`` — the sorted-distinct-token
    fingerprint the sorted-neighborhood blocker sorts on (its reversed pass
    derives ``reverse(_k)`` from the same column) — so ONE persisted frame
    can feed all three blocking families in an ensemble job: tokenization
    and shingle materialization are the dominant per-doc cost, and running
    the families against separate persisted copies both triples that work
    and (measured at the sf4 probe) pushes the combined job's storage past
    the executor storage fraction, where eviction/recompute makes the
    composition super-linear even though each family alone is linear.
    """
    toks_df = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    k = F.size(F.col("toks"))
    idx = F.sequence(F.lit(1), F.greatest(k - F.lit(n - 1), F.lit(1)))
    key_cols = (
        [F.concat_ws(" ", F.array_sort(F.array_distinct("toks"))).alias("_k")]
        if with_key
        else []
    )
    sh = toks_df.select(
        "doc_id",
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n))).alias(
            "sh"
        ),
        *key_cols,
    )
    return sh.select(
        "doc_id",
        F.transform("sh", F.md5).alias("hd"),
        F.array_distinct("sh").alias("shset"),
        *(["_k"] if with_key else []),
    )


def _signature_from_digests(hd: Column, k: int) -> Column:
    """MinHash signature from precomputed shingle digests (rotation family,
    see minhash_signature)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                hd,
                lambda h: F.concat(
                    F.substring(h, i * 4 + 1, 32), F.substring(h, 1, i * 4)
                ),
            )
        ),
    )


def minhash_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    shingles: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: shingle → minhash → band → bucket join
    → exact-Jaccard verify.  The per-doc shingle frame is persisted and
    reused by both self-join sides and the verification step (otherwise
    Spark recomputes the full signature pipeline per reference).

    Default semantics are EXACT (every same-bucket pair compared) — that is
    what the oracle-gated queries pin.  Pass ``max_bucket_size`` (e.g. 256)
    to opt into chain pairing for duplicate-skewed corpora, bounding pair
    blowup at the cost of the approximation described in
    ``_candidates_from_banded``.

    ``shingles`` / ``candidates``: ensemble jobs that run several blocking
    families over the SAME corpus pass a shared, caller-persisted
    ``shingle_frame`` (and optionally the shared banded candidate set —
    the edit-distance verifier proposes from the identical banding) so the
    dominant per-doc shingle work is computed and cached ONCE per job
    instead of once per family (see ``shingle_frame``)."""
    sh = (
        shingles
        if shingles is not None
        else track_persist(
            shingle_frame(parallelize_compute(docs), id_col, text_col, n)
        )
    )
    if candidates is not None:
        cand = candidates
    else:
        # persist banded too: the signature expression is interpreted (HOF
        # lambdas) — without this both self-join sides re-evaluate it
        # (tracked: persist.release_persisted() frees these in long sessions)
        banded = track_persist(_banded(sh, k, bands))
        cand = _candidates_from_banded(banded, max_bucket_size)
    # single-join verify (r14): the corpus-scale shset column crosses ONE
    # exchange via _attach_pair_payload instead of riding two back-to-back
    # id joins; the merge pin inside it keeps the corpus side off a
    # static-estimate broadcast (the sf4-measured 8g-driver OOM class).
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    return (
        _attach_pair_payload(cand, sh, "doc_id", "shset", "sa", "sb")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") > threshold)
    )


def bottomk_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 5,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Bottom-k sketch near-dup: the cheaper cousin of k-perm MinHash.

    Exact same-bucket pair semantics by default; pass ``max_bucket_size``
    to opt into the chain-pairing skew cap (see ``_candidates_from_banded``).

    Signature = the k lexicographically-smallest distinct shingle digests —
    ONE array_sort per doc instead of k interpreted rotation passes
    (measured ~3× cheaper at sf0.1), banded one digest per band: candidates
    share ≥1 bottom-k digest (P[miss] ≈ (1−J)^k — <0.2 % at J=0.5, k=16).
    Measured trade-off vs the 8-perm rotation family on sf0.1: 254 of 256
    verified pairs found at ~40 % of the cost.  Docs with fewer than k
    distinct shingles produce empty trailing bands, which are dropped (the
    md5('') bucket would otherwise pair every short doc with every other).
    """
    sh = track_persist(shingle_frame(parallelize_compute(docs), id_col, text_col, n))
    sig = F.slice(F.array_sort(F.array_distinct(F.col("hd"))), 1, k)
    # bind the sorted bottom-k signature to an attribute before banding:
    # inline it is re-sorted once per band inside the Generate lambda
    # (k× the per-doc sort — see _banded)
    banded = track_persist(
        sh.select("doc_id", sig.alias("_sig"))
        .select("doc_id", F.explode(lsh_bands(F.col("_sig"), k, 1)).alias("b"))
        .select("doc_id", "b.band_idx", "b.band_hash")
        .filter(F.col("band_hash") != F.md5(F.lit("")))
    )
    cand = _candidates_from_banded(banded, max_bucket_size)
    # single-join verify (r14): see minhash_neardup
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    return (
        _attach_pair_payload(cand, sh, "doc_id", "shset", "sa", "sb")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") > threshold)
    )


def _banded(sh: DataFrame, k: int, bands: int) -> DataFrame:
    """Shingle frame → one row per (doc, band): doc_id, band_idx, band_hash.

    The signature is bound to an attribute in its own projection BEFORE the
    banding explode: passed inline, the whole k-rotation signature expression
    lands inside the Generate's per-band lambda and is re-evaluated once per
    band (bands× the dominant per-doc cost — the same per-shingle-index
    re-evaluation trap ``shingle_frame`` documents for the tokenizer).
    Generators don't collapse with their child Project, so the attribute
    binding survives optimization and each band slices a computed array."""
    rows = k // bands
    return (
        sh.select("doc_id", _signature_from_digests(F.col("hd"), k).alias("_sig"))
        .select("doc_id", F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("b"))
        .select("doc_id", "b.band_idx", "b.band_hash")
    )


def _attach_pair_payload(
    cand: DataFrame,
    payload: DataFrame,
    id_col: str,
    val_col: str,
    a_alias: str,
    b_alias: str,
) -> DataFrame:
    """Attach a per-doc payload column to BOTH sides of a (doc_a, doc_b)
    candidate frame with ONE corpus-scale join instead of two (r14, guide
    §2.3/§8: the payload — shingle sets, texts — is the heavy column, so
    shuffle it once).  Each pair explodes into two (doc, side) rows, the
    payload joins once on the id (merge-pinned: corpus-scale side must
    never ride a static-estimate broadcast), and a pair-keyed aggregate
    folds the two rows back into (doc_a, doc_b, payload_a, payload_b).

    Heavy-byte accounting: corpus payload crosses one exchange (the id
    join) plus pair-scale payload rows through the fold-back aggregate —
    vs TWO full corpus exchanges for the former back-to-back joins.  When
    pairs ≪ corpus (the normal dedup regime) that roughly halves the
    shuffled payload bytes; in a dup flood it breaks even.

    Equivalence with the former double inner join relies only on the
    corpus key contract (one payload row per id): ``first(…,
    ignorenulls=True)`` then sees exactly one non-null value per side, so
    the fold is deterministic, and a pair whose side is missing from the
    payload keeps NULL there — which the old inner join expressed by
    dropping the pair; downstream verify filters reject NULL payloads
    identically (NULL comparisons are never kept).
    """
    keys = ["doc_a", "doc_b"]
    ex = cand.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("_doc"), F.lit(0).alias("_side")),
                F.struct(F.col("doc_b").alias("_doc"), F.lit(1).alias("_side")),
            )
        ).alias("_s"),
    ).select(*keys, F.col("_s._doc").alias("_doc"), F.col("_s._side").alias("_side"))
    pay = payload.select(F.col(id_col).alias("_doc"), F.col(val_col).alias("_val"))
    return (
        ex.join(pay.hint("merge"), "_doc")
        .groupBy(*keys)
        .agg(
            F.first(
                F.when(F.col("_side") == 0, F.col("_val")), ignorenulls=True
            ).alias(a_alias),
            F.first(
                F.when(F.col("_side") == 1, F.col("_val")), ignorenulls=True
            ).alias(b_alias),
        )
    )


def _pairs_from_buckets(banded: DataFrame) -> DataFrame:
    """All same-bucket pairs (doc_a < doc_b), generated by folding each
    band bucket into one row and exploding its id list — ONE exchange
    (the bucket groupBy) where the former banded self-join paid two plus
    two sorts (r14, guide §2.4; measured ~15-25 % off llm_bottomk_neardup
    at sf0.1, interleaved A/B).  The pair set is identical: a bucket of
    ids sorted ascending yields exactly the (a, b) with a < b that the
    ``a.doc_id < b.doc_id`` join condition kept.

    The explode is TWO-LEVEL (posexplode the left member, then explode
    the suffix slice) so a hot bucket streams its |bucket|² pairs through
    Generate rows of O(|bucket|) peak memory each; a single flattened
    pair array would materialize all |bucket|² structs in one value —
    the OOM class chain pairing exists to avoid.  CPU is Σ|bucket|²
    either way, exactly the self-join's bound.  Pairs are NOT deduped
    across bands here; callers apply ``distinct()`` once, after any
    union with the chained branch.
    """
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    lefts = buckets.select("_ids", F.posexplode("_ids").alias("_i", "doc_a"))
    return lefts.select(
        "doc_a",
        F.explode(
            F.slice("_ids", F.col("_i") + F.lit(2), F.size("_ids"))
        ).alias("doc_b"),
    )


def _candidates_from_banded(
    banded: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Same-bucket candidate pairs (id_a < id_b) via ``_pairs_from_buckets``.

    Pair generation is Σ|bucket|² over band buckets — fine when banding
    spreads docs, quadratic when it doesn't: N near-identical docs (the very
    corpus dedup exists for) share every band hash, putting all N in one
    bucket → N² candidate pairs.  Buckets over ``max_bucket_size`` therefore
    switch from all-pairs to *chain pairing*: sort the bucket by doc_id and
    emit only (doc, successor) — |bucket|-1 pairs, O(N) total.  Downstream
    ``dedup_clusters`` recovers the full component transitively (a chain is
    connected), so keeper selection is unchanged for genuinely-duplicate
    buckets; what's lost is only direct pairs between non-adjacent bucket
    members whose pairwise Jaccard differs — the same class of approximation
    banding itself already makes.  The bucket-size frame is filtered to
    oversized buckets before the join, so it stays broadcastable (hot
    buckets are few by definition), and only hot-bucket rows pay the window
    shuffle.  ``max_bucket_size=None`` (the default) means the exact pair
    set — what the oracle-gated neardup queries pin at every SF; the cap is
    an explicit opt-in whose oracle twin is ``llm_minhash_capped``.
    """
    all_pairs = _pairs_from_buckets(banded).distinct()
    if max_bucket_size is None:
        return all_pairs
    keys = ["band_idx", "band_hash"]
    hot_buckets = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > max_bucket_size)
        .drop("_cnt")
    )
    # Healthy corpora have zero hot buckets; checking costs one partial-agg
    # job over the (caller-persisted) banded frame and buys back the plain
    # single-groupBy plan — the split machinery (broadcast mark, window,
    # union) only ever runs when a bucket actually needs it.  Results are
    # identical either way (empty hot set ⇒ chained branch is empty), so
    # this is plan selection, not a semantic switch — AQE-style, driven by
    # data stats.
    if hot_buckets.isEmpty():
        return all_pairs
    marked = banded.join(
        F.broadcast(hot_buckets.withColumn("_hot", F.lit(True))), keys, "left"
    )
    healthy = marked.filter(F.col("_hot").isNull()).drop("_hot")
    hot = marked.filter(F.col("_hot")).drop("_hot")
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("doc_id")
    chained = (
        hot.withColumn("_nxt", F.lead("doc_id").over(w))
        .filter(F.col("_nxt").isNotNull())
        .select(F.col("doc_id").alias("doc_a"), F.col("_nxt").alias("doc_b"))
    )
    return _pairs_from_buckets(healthy).unionByName(chained).distinct()


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b): docs sharing ≥1 band bucket.
    Exact by default; ``max_bucket_size`` opts into the skew cap."""
    sh = shingle_frame(parallelize_compute(docs), id_col, text_col, n)
    return _candidates_from_banded(track_persist(_banded(sh, k, bands)), max_bucket_size)


def editdist_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.97,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance-verified near-dup detection — the Levenshtein member
    of the filter-verify dedup family: MinHash band buckets propose the
    candidate pairs (the same Σ|bucket|² bound as ``minhash_neardup``,
    never all-pairs), and each candidate is VERIFIED with the exact
    character-level Levenshtein distance (unit-cost insert / delete /
    substitute — Spark's built-in JVM ``levenshtein``; DuckDB's
    ``levenshtein`` computes the identical classic DP, so the oracle is
    bit-exact).  Pairs survive when the normalized edit similarity
    ``1 − lev / max(len_a, len_b)`` reaches ``threshold``.

    Why a second verifier besides Jaccard: shingle sets are order-blind
    beyond the n-gram radius and collapse repeats, so a shuffled or
    lightly rewritten document can score high Jaccard while being a
    poor character-level match; edit distance prices every
    transposition and local rewrite — the standard verification for
    plagiarism-grade duplication (Gusfield '97 ch.11; the
    filter-verify shape is AllPairs/PPJoin's).

    Scale: verification is O(L·εL) per CANDIDATE, not per document pair
    and not the naive O(L²): since ``lev ≥ |len_a − len_b|`` and a
    surviving pair needs ``lev ≤ (1−τ)·max_len``, (a) a cheap
    length-difference prefilter rejects most candidates before any DP
    runs, and (b) the survivors run Spark's THRESHOLD-BANDED
    ``levenshtein(l, r, t)`` (diagonal band of width ~2t, Ukkonen '85),
    which returns the exact distance when ≤ t and −1 otherwise.  Both
    bounds carry a slack margin (+1e-3 relative, +1 absolute) over the
    float threshold so no row the exact float filter would keep can be
    pre-rejected — the FINAL filter is the same
    ``1 − lev/max_len ≥ τ`` double expression as the oracle, bit-exact.
    Candidate volume is bounded by the band buckets; the only wide
    exchanges are the band groupBy and the two id-keyed text joins
    (projection pruned to (id, text) below the join).

    ``candidates``: ensemble jobs pass the shared banded candidate set
    (see ``minhash_neardup``); default builds its own.
    """
    d = parallelize_compute(docs)
    cand = (
        candidates
        if candidates is not None
        else minhash_candidates(d, id_col, text_col, k, bands, n, max_bucket_size=None)
    )
    # single-join text attach (r14): corpus-scale text crosses one
    # exchange via _attach_pair_payload (merge-pinned inside — corpus
    # sides must not ride a static-estimate broadcast)
    joined = _attach_pair_payload(cand, d, id_col, text_col, "_ta", "_tb")
    return _editdist_verified(joined, ["doc_a", "doc_b"], threshold)


def _editdist_verified(
    joined: DataFrame, out_cols: list, threshold: float
) -> DataFrame:
    """Shared edit-distance verify tail over a frame carrying ``_ta``/
    ``_tb`` text columns: length prefilter (``lev ≥ |len_a − len_b|`` —
    integer arithmetic rejects pairs whose length gap alone breaks the
    budget, before any DP runs) → threshold-banded JVM ``levenshtein(l,
    r, t)`` (O(L·εL) diagonal band, −1 above budget) → the FINAL filter
    is the exact float ``1 − lev/max_len ≥ τ`` the oracles pin, so the
    prefilters only ever skip work, never change the answer (the budget
    carries a +1e-3 relative / +1 absolute slack over the float
    threshold, ~12 orders of magnitude beyond ulp-level rounding).

    Denominator clamped to 1: two EMPTY texts can band-match (an empty
    token list still yields one '' shingle), and under ANSI mode the
    0/0 would THROW, not NULL — clamping defines empty ≡ empty as a
    perfect duplicate (lev 0 → sim 1.0), identically in the oracle."""
    max_len = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    budget = (
        (F.lit(1.0 - float(threshold) + 1e-3) * max_len.cast("double")) + F.lit(1.0)
    ).cast("int")
    lev = F.col("_lev").cast("long")
    sim = F.lit(1.0) - lev.cast("double") / max_len.cast("double")
    return (
        joined.filter(F.abs(F.length("_ta") - F.length("_tb")) <= budget)
        .withColumn("_b", budget)
        .withColumn("_lev", F.expr("levenshtein(_ta, _tb, _b)"))
        .filter(F.col("_lev") >= 0)
        .select(
            *out_cols,
            lev.alias("edit_distance"),
            sim.alias("edit_sim"),
        )
        .filter(F.col("edit_sim") >= F.lit(float(threshold)))
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    n: int = 5,
    threshold: float = 0.5,
    reverse_key: bool = False,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernández–Stolfo merge/purge):
    sort the corpus by an order-invariant fingerprint — the sorted distinct
    token set, the same normalization ``normalized_hash`` keys on — and
    compare only documents within ``window`` positions of each other in the
    GLOBAL sort order, verifying survivors with exact shingle Jaccard.

    The blocking complement to LSH: band buckets catch pairs sharing
    minhash minima, the sorted neighborhood catches pairs whose
    normalized forms are lexicographically adjacent (prefix-sharing
    rewrites, token-permuted copies) with a HARD pair bound of
    ``window``·N — no bucket-skew term at all, the reason merge/purge
    remains the ER workhorse for adversarially skewed keys.

    Scale: the global rank comes from ``with_global_rank`` (bucket
    exchange + per-bucket offsets, no SinglePartition stage); the
    neighborhood join is an equi-join on rank-block ``rank DIV window``
    with each left row probing its own and the next block — every pair
    with gap ∈ [1, window] meets in exactly one block, so the join is
    hash-partitioned and linear, never a theta/BNL join.  Shingle sets
    are materialized ONCE per doc as stepwise projections BEFORE the
    pair join (the ``shingle_frame`` discipline — verifying with the
    inline nested-lambda shingles re-evaluates the tokenizer per
    shingle index, quadratic per doc: measured 190 s vs ~20 s at the
    sf2 probe), and ride the rank exchange and block join in place of
    the raw text.

    Payload-routing note (examined r14, deliberately kept): unlike the
    LSH families, SNM pairs number ~window·N, so routing shsets through
    a ``_attach_pair_payload`` fold (decide-narrow-attach-once, guide
    §8) would cross ~7N payload rows (N id-join + 2·3N fold input)
    versus the fused block join's 4N (bucket exchange + a-side ×2 +
    b-side) — measured noise-bound at sf0.1, structurally worse at
    scale.  The fused shape keeps the payload on the pairing join.

    ``shingles``: a caller-persisted ``shingle_frame(..., with_key=True)``
    — both merge/purge passes (and any co-running blocking family) then
    rank off the SAME cached (doc_id, _k, shset) child, so multipass is
    two bucket exchanges over one tokenization instead of two full
    re-tokenizations (the ``reverse_key`` pass derives ``reverse(_k)``
    from the shared column)."""
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )

    if shingles is not None:
        fp = F.col("_k")
        if reverse_key:
            fp = F.reverse(fp)
        keyed = shingles.select("doc_id", fp.alias("_k"), "shset")
    else:
        d = parallelize_compute(docs).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        toks_df = d.select("doc_id", tokens("text").alias("toks"))
        k = F.size(F.col("toks"))
        idx = F.sequence(F.lit(1), F.greatest(k - F.lit(n - 1), F.lit(1)))
        fp = F.concat_ws(" ", F.array_sort(F.array_distinct("toks")))
        if reverse_key:
            # second merge/purge pass: the REVERSED fingerprint clusters by
            # shared suffix instead of shared prefix — the classic multi-pass
            # recall lever (two cheap passes beat one wide window)
            fp = F.reverse(fp)
        keyed = toks_df.select(
            "doc_id",
            fp.alias("_k"),
            F.array_distinct(
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n))
                )
            ).alias("shset"),
        )
    ranked = track_persist(
        with_global_rank(keyed, ["_k", "doc_id"]).select("doc_id", "shset", "_rank0")
    )
    w = int(window)
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shset").alias("_sa"),
        F.col("_rank0").alias("_ra"),
        F.explode(
            F.array(F.expr(f"_rank0 DIV {w}"), F.expr(f"_rank0 DIV {w} + 1"))
        ).alias("_blk"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shset").alias("_sb"),
        F.col("_rank0").alias("_rb"),
        F.expr(f"_rank0 DIV {w}").alias("_blk"),
    )
    gap = F.col("_rb") - F.col("_ra")
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
    union = (F.size("_sa") + F.size("_sb")).cast("double") - inter
    # hint("merge"): b carries corpus-scale shset arrays (see
    # minhash_neardup on static-estimate broadcasts)
    return (
        a.join(b.hint("merge"), "_blk")
        .filter((gap >= 1) & (gap <= w))
        .select(
            "doc_a",
            "doc_b",
            gap.alias("gap"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


def snm_ranked_corpus(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    window: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The corpus's sorted-neighborhood structure AT REST: (doc_id, _k,
    shset, _rank0, _blk) — global rank over the merge/purge fingerprint
    order plus the width-``window`` rank block, hash-clustered on _blk so
    every incremental probe join is satisfied from the persisted
    clustering (a streaming deployment computes this ONCE per stream;
    batch gates once per run, same cost class as the anchor's own
    ranking).

    Returned unpersisted: the caller owns the persist — a tracked one for
    a single query (``incremental_snm_pairs``), a plain one that outlives
    every per-trigger release for a stream (``incremental_snm_batch_fn``)."""
    w = int(window)
    sh = (
        shingles
        if shingles is not None
        else shingle_frame(parallelize_compute(corpus), id_col, text_col, n,
                           with_key=True)
    )
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )
    ranked = with_global_rank(
        sh.select("doc_id", "_k", "shset"), ["_k", "doc_id"]
    )
    return (
        ranked.select("doc_id", "_k", "shset", "_rank0")
        .withColumn("_blk", F.expr(f"_rank0 DIV {w}"))
        .repartition(F.col("_blk"))
    )


def incremental_snm_pairs(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    n: int = 5,
    threshold: float = 0.5,
    corpus_ranked: DataFrame | None = None,
    block_starts: DataFrame | None = None,
    blk_pushdown: bool = False,
) -> DataFrame:
    """The INCREMENTAL arm of sorted-neighborhood blocking (VERDICT r12
    #7) — merge/purge for the production ingest shape: each incoming doc
    is compared against the ``window`` corpus docs on EACH side of its
    would-be position in the corpus's fingerprint sort order (exact
    shingle-Jaccard verified, ≥ ``threshold``).  Per-doc semantics depend
    only on (doc, corpus), so the union of per-batch results equals the
    one-shot run — batch-independent like the MinHash/editdist arms
    (streaming parity tested).

    Scale shape — the batch ranks against the corpus's at-rest rank
    BLOCKS, the full union is never re-sorted:

    1. the corpus rank structure (``snm_ranked_corpus``) exists at rest /
       persisted once per stream;
    2. the batch's insertion BLOCK comes from ranking (batch keys ∪ the
       N/w block-START keys) — batch + corpus/w rows, never N — with the
       same ``with_global_rank`` machinery (no SinglePartition): starts
       sit at ranks 0, w, 2w, …, so β₀ = (#starts before the batch key)
       − 1 = rank_in_union − rank_in_batch − 1, two model-size-offset
       rankings and zero carry-forward;
    3. the exact insertion rank p = β₀·w + (corpus pairs < batch pair
       within block β₀) — one equi-join on _blk that pulls ≤ w corpus
       rows per batch doc;
    4. neighbors (ranks [p−w, p+w−1]) live in blocks {β₀−1, β₀, β₀+1}
       by construction — one more _blk equi-join, ≤ 3w rows per batch
       doc, shsets riding along for in-join Jaccard verification.

    Both probe joins key on the persisted clustering, so per-trigger
    exchanges are batch-sized only.  Candidate bound: 2·window per
    incoming doc — merge/purge's hard no-skew guarantee, which is the
    reason this arm exists alongside LSH (a band-bucket flood cannot
    happen here by construction)."""
    from data_engineering_project_utn_spark.operators.histogram import (
        with_global_rank,
    )

    w = int(window)
    cr = (
        corpus_ranked
        if corpus_ranked is not None
        else track_persist(snm_ranked_corpus(corpus, id_col, text_col, n, w))
    )
    bk = track_persist(
        shingle_frame(parallelize_compute(incoming), id_col, text_col, n,
                      with_key=True).select("doc_id", "_k", "shset")
    )
    starts = (
        block_starts.select("_k", "doc_id")
        if block_starts is not None
        else cr.filter(F.col("_rank0") % w == 0).select("_k", "doc_id")
    )
    union_keys = starts.withColumn("_is_b", F.lit(0)).unionByName(
        bk.select("_k", "doc_id").withColumn("_is_b", F.lit(1))
    )
    ru = (
        with_global_rank(union_keys, ["_k", "doc_id"])
        .filter(F.col("_is_b") == 1)
        .select("doc_id", F.col("_rank0").alias("_ru"))
    )
    rb = with_global_rank(bk.select("_k", "doc_id"), ["_k", "doc_id"]).select(
        "doc_id", F.col("_rank0").alias("_rb")
    )
    beta = track_persist(
        bk.join(ru, "doc_id")
        .join(rb, "doc_id")
        .select(
            F.col("doc_id").alias("doc_new"),
            F.col("_k").alias("_bk"),
            "shset",
            (F.col("_ru") - F.col("_rb") - F.lit(1)).alias("_b0"),
        )
    )
    if blk_pushdown:
        # bounded-batch contract: collect the batch's target blocks
        # (≤ |batch| distinct β₀, each pulling {β₀−1..β₀+2}) and push
        # them into the rank-index scan as an IN filter — _blk is the
        # bucketed sort column, so row-group stats skip everything but
        # the matched blocks (per-trigger scan cost tracks the batch,
        # not the corpus; same pattern as _indexed_candidates)
        b0s = [r[0] for r in beta.select("_b0").distinct().collect()]
        blks = sorted({b + d for b in b0s for d in (-1, 0, 1, 2) if b + d >= 0})
        cr_probe = (
            cr.filter(F.col("_blk").isin(blks)) if blks else cr.filter(F.lit(False))
        )
    else:
        # batch contract: an at-rest index is a static parquet estimate —
        # merge-pin it away from the broadcast build side (the bucketed
        # sort on _blk makes the SMJ exchange- and sort-free); a persisted
        # in-memory structure is stat-accurate and may choose freely
        cr_probe = cr.hint("merge") if "shset" not in cr.columns else cr
    lt = (F.col("c._k") < F.col("b._bk")) | (
        (F.col("c._k") == F.col("b._bk")) & (F.col("c.doc_id") < F.col("b.doc_new"))
    )
    cnt = (
        beta.alias("b")
        .join(cr_probe.alias("c"), (F.col("c._blk") == F.col("b._b0")) & lt)
        .groupBy("b.doc_new")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    with_p = beta.join(cnt, "doc_new", "left").select(
        "doc_new",
        "_bk",
        F.col("shset").alias("_sa"),
        F.greatest(
            F.col("_b0") * w + F.coalesce("_cnt", F.lit(0)), F.lit(0)
        ).alias("_p"),
    )
    pblk = F.expr(f"_p DIV {w}")
    probe = with_p.withColumn(
        "_blk", F.explode(F.array(pblk - 1, pblk, pblk + 1))
    )
    neighbors = (
        probe.alias("b")
        .join(cr_probe.alias("c"), "_blk")
        .filter(
            (F.col("c._rank0") >= F.col("_p") - w)
            & (F.col("c._rank0") <= F.col("_p") + w - 1)
        )
    )
    if "shset" in cr.columns:
        # persisted in-memory rank structure: shsets ride the neighbor join
        inter = F.size(F.array_intersect(F.col("_sa"), F.col("c.shset"))).cast(
            "double"
        )
        union = (
            F.size("_sa") + F.size(F.col("c.shset"))
        ).cast("double") - inter
        return (
            neighbors.select(
                "doc_new",
                F.col("c.doc_id").alias("doc_existing"),
                (inter / union).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= F.lit(float(threshold)))
        )
    # AT-REST rank index (no shset stored — the measured byte lesson:
    # derived arrays at rest lose to in-scan recompute): verify shingles
    # come from the corpus TEXT, restricted to the matched neighbor rows
    pairs = track_persist(
        neighbors.select(
            "doc_new", "_sa", F.col("c.doc_id").alias("doc_existing")
        )
    )
    if blk_pushdown:
        # bounded mode: candidate ids push into the doc_id-sorted corpus
        hits = _existing_rows_for(pairs, corpus, id_col, 65536)
        sb = shingle_frame(hits, id_col, text_col, n).select(
            F.col("doc_id").alias("doc_existing"), F.col("shset").alias("_sb")
        )
    else:
        # batch mode: shingle the (doc_id-bucketed) corpus and join —
        # exchange-free on the corpus side via the bucketing; a semi-join
        # restriction here buys nothing for corpus-proportional pair sets
        # and invites Spark's runtime bloom filter (a SinglePartition
        # buffer merge) into the plan
        sb = shingle_frame(corpus, id_col, text_col, n).select(
            F.col("doc_id").alias("doc_existing"), F.col("shset").alias("_sb")
        ).hint("merge")
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
    union = (F.size("_sa") + F.size("_sb")).cast("double") - inter
    return (
        pairs.join(sb, "doc_existing")
        .select("doc_new", "doc_existing", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


def incremental_snm_pairs_with_delta(
    incoming: DataFrame,
    corpus_static: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    n: int = 5,
    threshold: float = 0.5,
    corpus_ranked: DataFrame | None = None,
    block_starts: DataFrame | None = None,
    blk_pushdown: bool = False,
) -> DataFrame:
    """The SNM arm's STALENESS-window closer (VERDICT r13 #4): the rank
    index is rebuild-only (ranks are order statistics of the whole
    corpus), so docs accepted since the nightly rebuild — the DELTA —
    are invisible to ``incremental_snm_pairs`` and the ensemble's
    no-skew guarantee silently lapses for exactly the newest data, the
    slice most likely to contain a crawl's re-fetches.  This twin runs
    the indexed probe against the STATIC corpus as usual, plus a second
    SNM pass of the batch against the (bounded: one rebuild interval of
    accepts) delta — ranking batch ∪ delta keys with the same
    ``with_global_rank`` machinery, a batch-plus-delta-sized job with
    no corpus term at all.  The union restores recall for batch×delta
    near-dups at 2·window extra candidates per doc; batch×static pairs
    are byte-identical to the stale arm (the static corpus and its
    index are untouched).

    Not a re-rank of the full corpus: the two passes window within
    their own sort orders, so a pair that is within ``window`` of the
    batch doc only in the INTERLEAVED (static ∪ delta) order can still
    be missed — the residual is the docs BETWEEN the pair in one
    subset but not the union, bounded by the interleaving depth, and
    zero for verbatim/mirror duplicates (identical keys are always
    rank-adjacent in any subset containing them).  Measured on the
    planted fixtures: stale arm 0% delta-pair recall, this twin 100%
    (``TestSnmFreshDelta``; SCALE.md r14).  Static/delta doc sets must
    be disjoint (a deployment's accepts are new doc_ids), so the union
    carries no duplicate pairs."""
    static_pairs = incremental_snm_pairs(
        incoming,
        corpus_static,
        id_col,
        text_col,
        window,
        n,
        threshold,
        corpus_ranked,
        block_starts,
        blk_pushdown,
    )
    delta_pairs = incremental_snm_pairs(
        incoming, delta, id_col, text_col, window, n, threshold
    )
    return static_pairs.unionByName(delta_pairs)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the executor blocks behind a ``localCheckpoint``'ed frame.

    ``Dataset.unpersist()`` goes through the CacheManager and does NOT drop
    RDD-level localCheckpoint storage (verified empirically: the persistent
    RDD count stays put); the block is only freed by unpersisting the
    LogicalRDD's underlying RDD directly.  Best-effort via py4j — if the
    internal surface moves, fall back to the ContextCleaner, which frees the
    blocks once the JVM-side reference is GC'd.  The frame is unusable
    afterwards; only call on a round's labels after the next round's
    convergence check has consumed them.

    The fallback logs at debug level so a Spark upgrade that moves the
    private surface is visible, and the release test asserts the
    persistent-RDD count actually drops — a silent revert to O(rounds·N)
    storage growth fails CI instead of shipping (ADVICE r04).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 - deliberate: ContextCleaner fallback
        import logging

        logging.getLogger(__name__).debug(
            "localCheckpoint release fell back to ContextCleaner GC "
            "(private plan surface changed?): %s",
            exc,
        )


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 45,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, keeper_doc).

    The decision step of deduplication: pairs (doc_a, doc_b) from any
    near-dup detector form a graph; each component keeps its min doc_id
    and drops the rest.  Label propagation to fixpoint: every node adopts
    the min of (its label, its neighbors' labels), then *pointer-doubles*
    (adopts its label's label — path halving), iterated until no label
    changes.  The doubling step makes convergence O(log diameter) joins
    instead of O(diameter), so even a pathological 10⁶-node chain finishes
    in ~20 rounds.  Near-dup components are overwhelmingly tiny
    (pairs/triples), so this typically converges in 2-3 rounds regardless
    of corpus size — BUT ``_candidates_from_banded``'s hot-bucket chain
    pairing deliberately manufactures PATH topology: a capped bucket of
    N near-identical docs arrives as an (N-1)-edge chain, so rounds =
    ⌈log2 N⌉+1 there (measured: 18 rounds for a 2^17 chain, per-round
    cost FLAT at ~1.1 s — see SCALE.md).  The default bound covers
    diameter 2^44, far past any bucket a 100 TB corpus can hold; the
    loop exits at convergence, so an oversized bound costs nothing.
    Raises RuntimeError if ``max_iterations`` passes
    without reaching the fixpoint — a silently-non-minimal keeper label
    would otherwise split components downstream.  Equivalent to the
    oracle's recursive-CTE min-reachable-id.

    ``stats``: optional out-param — filled with {"rounds": r, "round_secs":
    [...]} so deep-component probes can assert the O(log diameter) bound
    with numbers instead of faith (VERDICT r12 #2).
    """
    import time
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint (eager) truncates lineage each round — without it the
    # logical plan doubles per iteration (two joins on the previous round's
    # plan) and the analyzer blows up long before the data does.  This is
    # the standard pattern for iterative algorithms on DataFrames.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("keeper_doc", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    rounds = 0
    round_secs: list[float] = []
    for _ in range(max_iterations):
        _t0 = time.monotonic()
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(edges["src"].alias("doc_id"))
            .agg(F.min("keeper_doc").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("keeper_doc"), F.coalesce("nbr_min", F.col("keeper_doc"))
            ).alias("keeper_doc"),
            # carry the round-start label so the convergence check below
            # reads it off the checkpointed frame instead of paying a
            # two-sided join job per round (optimization r14, guide §2.4)
            F.col("keeper_doc").alias("_old"),
        )
        # pointer doubling (path halving): label ← label's label.  keeper
        # ids are doc ids, so the lookup table is the label frame itself.
        # ONE doubling step per round — deeper schedules were examined
        # and REJECTED in r15 (measurements in OPTIMIZATION_r15.md §CC):
        # extra steps only cut rounds on id-ORDERED chains (simulated
        # 18 → 10 for a 2^17 chain at two steps), are provably
        # round-neutral on id-random topologies (min-VALUE flow, not
        # pointer depth, is the bound — the embedding arm measured 10
        # rounds at one AND two steps), cost ~20 % extra per round
        # (one more label-frame self-join), and at three steps the 2³-way
        # nested self-join sent Catalyst's relation dedup into a
        # multi-minute driver spin (guide §7.3).  The single-step round
        # is the robust schedule.
        lookup = propagated.select(
            F.col("doc_id").alias("keeper_doc"), F.col("keeper_doc").alias("_kk")
        )
        doubled = F.least(
            F.col("keeper_doc"), F.coalesce("_kk", F.col("keeper_doc"))
        )
        new_labels = (
            propagated.join(lookup, "keeper_doc", "left")
            .select(
                "doc_id",
                doubled.alias("keeper_doc"),
                (doubled != F.col("_old")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        # fused convergence check: labels only ever decrease, so "any row
        # whose final label differs from its round-start label" is exactly
        # the old join-based new≠old test — but _chg sits in the frame the
        # checkpoint just materialized, so this is a scan of checkpointed
        # blocks, not a fresh join of two N-row frames (was: 1 extra join
        # job with 2 exchanges per round)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        # free the previous round's checkpointed blocks now that the
        # convergence check consumed them — otherwise storage grows
        # O(rounds·N) until GC notices (Dataset.unpersist can't do this:
        # localCheckpoint storage is RDD-level, not CacheManager-level)
        _free_local_checkpoint(labels)
        labels = new_labels
        rounds += 1
        round_secs.append(time.monotonic() - _t0)
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["round_secs"] = round_secs
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} iterations;"
            " raise max_iterations (components with diameter > 2^k need k"
            " doubling rounds)"
        )
    return labels.select("doc_id", "keeper_doc")


def golden_record(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Survivorship — the third step of the merge/purge pipeline
    (Hernández–Stolfo: block → cluster → MERGE the cluster into one
    surviving record): per near-dup cluster, pick the canonical member
    (longest text, ties to the min doc_id — a total order, so the
    choice is deterministic and oracle-matchable) and summarize the
    cluster it replaces.

    ``labels`` is ``dedup_clusters`` output (doc_id, keeper_doc); docs
    provides the texts.  Columns: keeper_doc, n_members, total_chars,
    canonical_doc, canonical_len — all BIGINT (hash-stable, no float
    aggregation).

    Scale shape: one id-keyed join (labels are cluster-member-sized,
    not corpus-sized) then ONE groupBy keeper_doc (optimization r14,
    guide §2.4: the former shape ran a row_number window AND a groupBy
    over the same m frame and joined the two back together — two sorts
    and a join that the single aggregate makes redundant).  The
    canonical pick rides the same aggregate as a struct-min:
    min(struct(-_len, doc_id)) is lexicographically exactly "longest
    text, ties to min doc_id" (text length ≥ 0 so -_len never
    overflows), the identical total order the window's (len DESC,
    doc_id ASC) rank-1 row implemented.  One exchange keyed on
    keeper_doc (no SinglePartition, no skew term beyond the largest
    duplicate family)."""
    # hint("merge"): the lengths side is CORPUS-row-count (skinny but
    # 10^10 rows at 100 TB) and labels are dup-rate·N — neither side may
    # ride a static-estimate broadcast (see minhash_neardup)
    m = labels.join(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).cast("long").alias("_len"),
        ).hint("merge"),
        "doc_id",
    )
    # NULL text (ADVICE r14): the oracle's window is ORDER BY len DESC,
    # doc_id with DuckDB's NULLS-LAST default, so a NULL-length doc must
    # sort LAST here too — but a bare struct-min would sort a NULL _nl
    # FIRST (ascending NULLS FIRST) and wrongly crown it.  Text length is
    # ≥ 0, so coalescing the length to −1 makes NULL the unique _nl > 0
    # value (sorts last in the min, ties still break to min doc_id) and
    # _nl > 0 is exactly "the winner had NULL text" — mapped back to the
    # NULL canonical_len the oracle's rank-1 row carries.
    best = F.min(
        F.struct(
            (-F.coalesce(F.col("_len"), F.lit(-1))).alias("_nl"), F.col("doc_id")
        )
    ).alias("_best")
    return (
        m.groupBy("keeper_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("_len").cast("long").alias("total_chars"),
            best,
        )
        .select(
            "keeper_doc",
            "n_members",
            "total_chars",
            F.col("_best.doc_id").alias("canonical_doc"),
            F.when(F.col("_best._nl") > 0, F.lit(None))
            .otherwise(-F.col("_best._nl"))
            .cast("long")
            .alias("canonical_len"),
        )
    )


def surviving_corpus(
    labels: DataFrame,
    golden: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The DEDUPED corpus — merge/purge's actual product: every doc that
    is in no near-dup cluster, plus each cluster's canonical survivor
    (``golden_record``'s choice).  This is the frame a nightly 100 TB
    pipeline writes back bucketed (``sources.io.write_bucketed_table``)
    as the next day's at-rest corpus.

    One anti-join keyed on the id: the drop set is (cluster members −
    canonicals) — dup-rate-proportional, corpus-scale in the worst case,
    so it is merge-pinned rather than broadcast (same static-estimate
    discipline as the verify joins)."""
    drop = labels.join(
        golden.select(F.col("canonical_doc").alias("doc_id")),
        "doc_id",
        "left_anti",
    ).select(F.col("doc_id").alias(id_col))
    return docs.join(drop.hint("merge"), id_col, "left_anti")


def _incremental_candidates(
    sh_in: DataFrame,
    corpus_bands: DataFrame,
    k: int,
    bands: int,
    broadcast_batch: bool,
    band_stats: DataFrame | None = None,
    hot_band_cap: int | None = None,
) -> DataFrame:
    """Asymmetric band-bucket probe shared by the incremental dedup arms:
    incoming bands × corpus bands → DISTINCT (doc_new, doc_existing).

    Build-side discipline (ADVICE r12): ``broadcast_batch=True`` is the
    STREAMING contract — the caller guarantees the incoming side is a
    bounded micro-batch, so pinning it as the broadcast build side is
    safe and keeps the probe shuffle-free on the corpus side.  The
    default (False) is the BATCH contract, where "incoming" may be
    corpus-proportional (the registered gates replay 1/3 of the corpus
    as the batch): force-broadcasting it is the 8 GB-driver OOM class,
    so neither side may build — the corpus bands are merge-pinned and
    the probe is a sort-merge on the band keys (exchange-free on the
    corpus side when the bands come from a bucketed at-rest index, see
    ``plans/llm_dedup_plans._dedup_band_index_bucketed``).

    ``hot_band_cap`` (VERDICT r13 #2): skip batch bands whose CORPUS
    bucket (``band_stats``, see ``band_bucket_sizes``) exceeds the cap
    — without it a boilerplate band shared by 10⁶ corpus docs × a 10 k
    batch is 10¹⁰ verify pairs in one trigger.  Recall for the skipped
    docs is the SNM arm's job (``hot_band_suspects`` names them)."""
    a_bands = _banded(sh_in, k, bands)
    if hot_band_cap is not None:
        stats = (
            band_stats
            if band_stats is not None
            else band_bucket_sizes(corpus_bands)
        )
        a_bands, _ = _split_hot_bands(a_bands, stats, hot_band_cap)
    if broadcast_batch:
        return _incremental_candidates_from_banded(
            F.broadcast(a_bands), corpus_bands
        )
    return _incremental_candidates_from_banded(
        a_bands, corpus_bands.hint("merge")
    )


_VERIFY_THRESHOLD = {"jaccard": 0.5, "editdist": 0.97}


def incremental_neardup(
    incoming: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 5,
    threshold: float | None = None,
    verifier: str = "jaccard",
    corpus_shingles: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    broadcast_batch: bool = False,
    band_stats: DataFrame | None = None,
    hot_band_cap: int | None = None,
    band_index: DataFrame | None = None,
    corpus_at_rest: DataFrame | None = None,
    max_pushdown_keys: int = 65536,
) -> DataFrame:
    """Asymmetric near-dup join: which INCOMING docs near-duplicate any
    CORPUS doc — the production shape of dedup, where a new crawl batch is
    checked against everything already ingested instead of re-running the
    corpus×corpus self-join.  The incoming batch's bands probe the
    corpus's band frame (cost Σ|incoming ∩ bucket|·|corpus ∩ bucket|,
    never corpus²), and verification touches only candidates.

    ``verifier`` picks the verify step over the candidates:

    * ``"jaccard"`` (default ``threshold`` 0.5): exact shingle Jaccard
      > threshold.  Columns: doc_new, doc_existing, jaccard.
    * ``"editdist"`` (default ``threshold`` 0.97): the character-level
      arm — normalized Levenshtein similarity ≥ threshold through the
      banded DP (``_editdist_verified`` — length prefilter,
      threshold-banded JVM DP, oracle-exact float filter).  Columns:
      doc_new, doc_existing, edit_distance, edit_sim.

    Batch-independence holds for both verifiers by the asymmetry: each
    incoming doc's verdict depends only on (doc, corpus), so the union of
    per-batch results equals the one-shot run over all batches at once
    (streaming parity tested).

    The corpus-side mode follows the inputs the caller passes:

    * BATCH (``corpus``): candidates come from a sort-merge probe of the
      corpus band frame — ``corpus_bands`` when given (the band frame AT
      REST, e.g. a bucketed warehouse table: doc_id, band_idx,
      band_hash), else banded from ``corpus_shingles`` (a caller-
      persisted ``shingle_frame`` of the corpus — a STREAMING deployment
      pins it once per stream, see ``make_curation_batch_fn``) or from
      ``corpus`` itself.  With an at-rest band frame the edit-distance
      arm never shingles the corpus at all (it verifies on TEXT).
      ``broadcast_batch`` is the opt-in for STREAMING callers whose
      batches are bounded micro-batches; the batch-mode default
      sort-merges instead (see ``_incremental_candidates`` —
      force-broadcasting a corpus-proportional "batch" is the driver-OOM
      class).
    * BOUNDED BATCH (``band_index`` + ``corpus_at_rest``): the
      per-trigger streaming shape where NOTHING corpus-scale is scanned,
      shuffled, or computed — batch shingles/bands (batch-sized,
      persisted); candidate pairs via the IN-pushdown index probe
      (``_indexed_candidates`` — reads only matched row groups); the
      candidates' ``doc_existing`` ids push into the doc_id-sorted
      bucketed corpus the same way (``_existing_rows_for``); the
      verifier runs on batch × matched rows only.  Two driver
      round-trips per trigger (band keys, candidate ids), each bounded
      by the batch/candidate size — the price of turning a corpus-wide
      join into an index lookup, identical to what any LSH service does
      per query.  Value-identical to the batch mode on the same split
      (parity-tested); NOT registered as an oracle gate with a
      corpus-proportional batch, because collecting a
      corpus-proportional key list would break the bounded contract this
      mode exists to exploit.

    ``hot_band_cap`` / ``band_stats`` (VERDICT r13 #2): opt into the
    hot-band guard — batch bands whose corpus bucket exceeds the cap
    (per ``band_stats``, see ``band_bucket_sizes``; the stats table
    compaction maintains, ``refresh_band_stats``) are skipped before the
    probe, so the candidate set (and, in the bounded mode, both driver
    round-trips) stay bounded no matter how skewed the corpus is.  The
    skipped docs are named by ``hot_band_suspects`` for the SNM arm
    (2·window bound, flood-tested in ``TestHotBandGuard``; oracle twin
    ``llm_incremental_dedup_capped``).  Each skipped pair saves a set
    intersect under Jaccard and an O(L·εL) DP under edit distance.
    Default None = the exact pair set the uncapped gates pin.
    """
    if verifier not in _VERIFY_THRESHOLD:
        raise ValueError(f"verifier must be 'jaccard' or 'editdist', got {verifier!r}")
    if threshold is None:
        threshold = _VERIFY_THRESHOLD[verifier]
    indexed = band_index is not None
    if indexed and corpus_at_rest is None:
        raise ValueError("band_index requires corpus_at_rest")
    sh_in = track_persist(
        shingle_frame(parallelize_compute(incoming), id_col, text_col, n)
    )
    sh_co = None
    if indexed:
        b_in = track_persist(_banded(sh_in, k, bands))
        if hot_band_cap is not None:
            stats = (
                band_stats if band_stats is not None else band_bucket_sizes(band_index)
            )
            b_in = track_persist(_split_hot_bands(b_in, stats, hot_band_cap)[0])
        cand = track_persist(_indexed_candidates(b_in, band_index, max_pushdown_keys))
        existing = _existing_rows_for(cand, corpus_at_rest, id_col, max_pushdown_keys)
    else:
        existing = corpus
        # an at-rest band frame spares the edit-distance arm any corpus
        # shingles — it verifies on TEXT
        if verifier == "jaccard" or corpus_bands is None:
            sh_co = (
                corpus_shingles
                if corpus_shingles is not None
                else track_persist(
                    shingle_frame(
                        corpus
                        if corpus_bands is not None
                        else parallelize_compute(corpus),
                        id_col,
                        text_col,
                        n,
                    )
                )
            )
        b_co = corpus_bands if corpus_bands is not None else _banded(sh_co, k, bands)
        cand = _incremental_candidates(
            sh_in, b_co, k, bands, broadcast_batch, band_stats, hot_band_cap
        )
    if verifier == "jaccard":
        sa = sh_in.select(F.col("doc_id").alias("doc_new"), F.col("shset").alias("sa"))
        sh_ex = shingle_frame(existing, id_col, text_col, n) if indexed else sh_co
        sb = sh_ex.select(
            F.col("doc_id").alias("doc_existing"), F.col("shset").alias("sb")
        )
        if not indexed:
            # the batch side (sa) is genuinely small and may broadcast; sb
            # is corpus-scale shsets
            sb = sb.hint("merge")
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        union = (F.size("sa") + F.size("sb")).cast("double") - inter
        return (
            cand.join(sa, "doc_new")
            .join(sb, "doc_existing")
            .select("doc_new", "doc_existing", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") > threshold)
        )
    ta = incoming.select(F.col(id_col).alias("doc_new"), F.col(text_col).alias("_ta"))
    tb = existing.select(
        F.col(id_col).alias("doc_existing"), F.col(text_col).alias("_tb")
    )
    if not indexed:
        if not broadcast_batch:
            # batch contract: the "incoming" text side may be
            # corpus-proportional and is a static parquet estimate — the
            # same 10-50x-underestimate broadcast class as the bands
            ta = ta.hint("merge")
        # the corpus text side is corpus-scale
        tb = tb.hint("merge")
    joined = cand.join(ta, "doc_new").join(tb, "doc_existing")
    return _editdist_verified(joined, ["doc_new", "doc_existing"], threshold)


def _indexed_candidates(
    b_in: DataFrame,
    band_index: DataFrame,
    max_pushdown_keys: int,
) -> DataFrame:
    """Bounded-batch candidate generation against the AT-REST band index:
    collect the batch's distinct band hashes (≤ |batch|·bands values —
    driver traffic bounded by the caller's micro-batch contract, never
    corpus) and push them into the index scan as an IN filter.  The index
    is sorted on band_hash, so parquet row-group stats skip everything
    but the matched buckets: per-trigger scan cost tracks the MATCHES,
    not the corpus (the last per-trigger O(corpus) term, VERDICT r12 #1).

    Falls back to the sort-merge probe (no pushdown, still zero
    corpus-side exchange — the index is bucketed on the join keys) when
    the batch carries more than ``max_pushdown_keys`` distinct hashes:
    an IN list is a plan literal, and a corpus-proportional "batch"
    must degrade to the batch contract, not OOM the driver."""
    keys = [r[0] for r in b_in.select("band_hash").distinct().collect()]
    if len(keys) > max_pushdown_keys:
        return _incremental_candidates_from_banded(b_in, band_index.hint("merge"))
    if not keys:
        # empty batch: derive the empty frame's schema from the INPUTS —
        # the public indexed APIs accept arbitrary id types, and a
        # hardcoded bigint literal would hand string-id corpora a
        # wrong-typed frame whose downstream joins miscast (ADVICE r13)
        spark = b_in.sparkSession
        schema = T.StructType(
            [
                T.StructField("doc_new", b_in.schema["doc_id"].dataType),
                T.StructField("doc_existing", band_index.schema["doc_id"].dataType),
            ]
        )
        return spark.createDataFrame([], schema)
    pruned = band_index.filter(F.col("band_hash").isin(keys))
    return _incremental_candidates_from_banded(F.broadcast(b_in), pruned)


def _incremental_candidates_from_banded(a_bands, b_bands) -> DataFrame:
    """The asymmetric band equi-join core shared by the probe modes."""
    return (
        a_bands.alias("a")
        .join(
            b_bands.alias("b"),
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.band_idx") == F.col("b.band_idx")),
        )
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_existing"),
        )
        .distinct()
    )


def band_bucket_sizes(corpus_bands: DataFrame) -> DataFrame:
    """Per-bucket corpus population of a band index: (band_idx,
    band_hash, n_docs) — ONE partial-aggregated pass over the (at-rest)
    band frame, the statistic the hot-band guard reads (VERDICT r13 #2).
    A deployment materializes it at compaction time
    (``refresh_band_stats``) so per-trigger probes never re-aggregate
    the corpus; batch gates may compute it inline (same cost class as
    the corpus banding they already do)."""
    return corpus_bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def refresh_band_stats(
    spark,
    band_index_table: str,
    stats_table: str | None = None,
    min_count: int = 2,
) -> DataFrame:
    """Materialize ``band_bucket_sizes`` over an at-rest band index as a
    catalog table — the compaction-time maintenance job the hot-band
    guard reads (run it whenever ``compact_bucketed_table`` folds the
    day's index deltas; the aggregate rides the same full pass).  Only
    buckets with ``n_docs ≥ min_count`` are stored: a size-1 bucket can
    never exceed any cap ≥ 1, so dropping the singleton tail keeps the
    stats table a small skew ledger instead of an index copy (the
    guard's left join treats a missing key as cold, which is exact for
    every cap ≥ min_count − 1)."""
    stats_table = stats_table or f"{band_index_table}__stats"
    stats = band_bucket_sizes(spark.table(band_index_table)).filter(
        F.col("n_docs") >= int(min_count)
    )
    stats.write.mode("overwrite").saveAsTable(stats_table)
    return spark.table(stats_table)


def _split_hot_bands(
    b_in: DataFrame,
    band_stats: DataFrame,
    hot_band_cap: int,
) -> tuple[DataFrame, DataFrame]:
    """Split a BATCH band frame on the corpus-side bucket population:
    (cold rows — bucket ≤ cap, probed normally; hot rows — bucket > cap,
    skipped).  The hot key set is ``band_stats`` filtered to over-cap
    buckets — few by definition (the same argument as
    ``_candidates_from_banded``'s hot set), so it broadcasts and the
    split costs one broadcast-hash left join on the batch frame, no
    shuffle."""
    hot = (
        band_stats.filter(F.col("n_docs") > int(hot_band_cap))
        .select("band_idx", "band_hash")
        .withColumn("_hot", F.lit(True))
    )
    marked = b_in.join(F.broadcast(hot), ["band_idx", "band_hash"], "left")
    cold = marked.filter(F.col("_hot").isNull()).drop("_hot")
    hot_rows = marked.filter(F.col("_hot")).drop("_hot")
    return cold, hot_rows


def hot_band_suspects(
    incoming: DataFrame,
    band_stats: DataFrame,
    hot_band_cap: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 5,
) -> DataFrame:
    """Batch docs with ≥1 band whose CORPUS bucket exceeds the cap — the
    docs the capped LSH probe may under-recall (their hot bands were
    skipped), returned as a frame of ``doc_id`` for routing to the
    sorted-neighborhood arm, whose 2·window candidate bound is skew-proof
    by construction (``incremental_snm_pairs`` — a band-bucket flood
    cannot happen there).  The ensemble identity: capped-LSH pairs ∪
    SNM pairs over suspects covers the boilerplate-flood failure mode
    the cap exists for, at Σ|cold bucket| + 2·window·|suspects| verify
    cost instead of |batch ∩ hot|·|corpus ∩ hot| (flood-tested)."""
    b_in = _banded(
        shingle_frame(parallelize_compute(incoming), id_col, text_col, n),
        k,
        bands,
    )
    _, hot_rows = _split_hot_bands(b_in, band_stats, hot_band_cap)
    return hot_rows.select("doc_id").distinct()


def _existing_rows_for(
    cand: DataFrame,
    corpus_at_rest: DataFrame,
    id_col: str,
    max_pushdown_keys: int,
) -> DataFrame:
    """The corpus rows named by the candidate set, via id-IN pushdown
    into the doc_id-sorted bucketed corpus scan (row-group pruned).
    Falls back to a left-semi join against the (persisted, bounded)
    candidate frame past ``max_pushdown_keys`` — same rows, no plan
    literal blowup."""
    ids = [
        r[0] for r in cand.select("doc_existing").distinct()
        .limit(max_pushdown_keys + 1).collect()
    ]
    if len(ids) > max_pushdown_keys:
        return corpus_at_rest.join(
            cand.select(F.col("doc_existing").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
    if not ids:
        return corpus_at_rest.filter(F.lit(False))
    return corpus_at_rest.filter(F.col(id_col).isin(ids))


def incremental_semantic_neardup(
    incoming: DataFrame,
    corpus_embeddings: "DataFrame | None",
    centroids_df: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    corpus_cells: "DataFrame | None" = None,
    nprobe_super: int = 1,
) -> DataFrame:
    """The SEMANTIC arm of incremental dedup — ``incremental_neardup``'s
    embedding-space twin, catching paraphrases/re-encodings that share no
    n-grams: which INCOMING vectors cosine-duplicate (≥ ``threshold``)
    any CORPUS vector.  Asymmetric like the MinHash arm: the incoming
    micro-batch descends the two-level quantizer
    (``similarity.ivf_cells_2level`` — ≈2√k cosines/row, never N·k), its
    (small) assigned frame BROADCASTS into the corpus's at-rest cell
    frame, and exact cosine runs on in-cell cross pairs only — cost
    Σ|batch ∩ cell|·|corpus ∩ cell|, never batch×corpus; the corpus is
    neither re-assigned nor re-shuffled per batch.

    Pass ``corpus_cells`` (columns ``id_col``, ``vec_col``, ``cell``) to
    probe the assignment a deployment stores at rest — computed once per
    stream by the caller, the ``make_curation_batch_fn`` shape; with
    ``corpus_embeddings`` instead, the at-rest frame is derived here.
    ``nprobe_super`` MUST match the setting the at-rest frame was built
    with: dedup recall rides on near-dups CO-assigning, and an
    asymmetric descent (batch corrected to the right super, corpus
    still in the neighbor) can split a boundary pair both sides of a
    symmetric descent would co-assign.  Columns: doc_new, doc_existing,
    cos_sim."""
    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.llm.similarity import dot, norm

    if corpus_cells is None:
        if corpus_embeddings is None:
            raise ValueError("need corpus_embeddings or corpus_cells")
        corpus_cells = sim.ivf_cells_2level(
            corpus_embeddings, centroids_df, vec_col=vec_col,
            nprobe_super=nprobe_super,
        )
    # norms ride the per-ROW frames, never the per-pair expression — the
    # same 2·O(d)-folds-per-pair cost semantic_neardup_pairs measured and
    # removed (its _nrm column); an at-rest corpus frame that already
    # carries "_nrm" (the make_curation_batch_fn shape: computed once per
    # stream, persisted with the cells) is used as-is, so batch probes
    # never recompute corpus norms
    a = (
        sim.ivf_cells_2level(
            incoming, centroids_df, vec_col=vec_col, nprobe_super=nprobe_super
        )
        .select(F.col(id_col).alias("doc_new"), F.col(vec_col).alias("_va"), "cell")
        .withColumn("_na", norm(F.col("_va")))
    )
    b = corpus_cells.select(
        F.col(id_col).alias("doc_existing"),
        F.col(vec_col).alias("_vb"),
        "cell",
        *(
            [F.col("_nrm").alias("_nb")]
            if "_nrm" in corpus_cells.columns
            else []
        ),
    )
    if "_nb" not in b.columns:
        b = b.withColumn("_nb", norm(F.col("_vb")))
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        F.broadcast(a)
        .join(b, "cell")
        .select("doc_new", "doc_existing", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def contaminated_doc_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: ids of corpus docs sharing ≥ 1 n-gram
    shingle with any benchmark document (the train/eval-overlap scrub every
    pretraining pipeline runs; n = 13 is the common industry choice —
    callers with short documents lower it).

    Scale shape: the corpus side is a narrow shingle projection; the
    benchmark shingle set (eval suites are tiny relative to the corpus) is
    deduplicated and broadcast into a left-semi join, so the corpus is
    flagged at scan speed with no corpus-side shuffle.  Shingles travel as
    md5 digests, not strings — fixed-width join keys.
    """
    doc_sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.transform(shingles(text_col, n), F.md5))).alias(
            "sh"
        ),
    )
    bench_sh = benchmark.select(
        F.explode(F.array_distinct(F.transform(shingles(bench_text_col, n), F.md5))).alias(
            "sh"
        )
    ).distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )


def shingle_jaccard(text_a: Column, text_b: Column, n: int = 5) -> Column:
    """Exact Jaccard over distinct n-gram shingle sets."""
    sa = F.array_distinct(shingles(text_a, n))
    sb = F.array_distinct(shingles(text_b, n))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = (F.size(sa) + F.size(sb)).cast("double") - inter
    return inter / union


def simhash16(text: Column | str) -> Column:
    """16-bit SimHash over tokens (near-dup key; Charikar '02).

    Bit b of the signature is the sign of Σ_tokens (±1 depending on bit b of
    the token digest).  Uses the first 4 hex chars of md5 per token.
    Spark-only (no SQL oracle — conv() has no cheap DuckDB twin); verified
    by pytest property tests instead.
    """
    toks = F.array_distinct(tokens(text))
    tok_bits = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
    )

    def bit_of(v: Column, b: Column) -> Column:
        # (v >> b) & 1 arithmetically — shift builtins need literal counts
        return F.floor(v / F.pow(F.lit(2.0), b)).cast("long") % 2

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(15)),
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(
            F.aggregate(
                tok_bits,
                F.lit(0).cast("long"),
                lambda s, v: s + F.when(bit_of(v, b) == 1, 1).otherwise(-1),
            )
            > 0,
            F.pow(F.lit(2.0), b).cast("long"),
        ).otherwise(0),
    )


def jaccard_prefix_join(
    docs: DataFrame,
    tn: int = 1,
    td: int = 2,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    positional: bool = False,
    shingles_frame: DataFrame | None = None,
) -> DataFrame:
    """EXACT thresholded Jaccard similarity self-join via prefix
    filtering (AllPairs/PPJoin family, Bayardo et al. WWW'07) — every
    pair with J(shingles_a, shingles_b) ≥ tn/td, with NO all-pairs
    product and NO approximation: the exact complement to the MinHash
    (probabilistic recall) and bottom-k (sketched) near-dup paths.

    Prefix filter: order each doc's distinct n-gram shingles by global
    rarity (df asc, shingle asc — one total order for the whole corpus);
    a doc of size s keeps the first s − ⌈τ·s⌉ + 1 as its PREFIX.  For
    any pair with J ≥ τ the smallest (rarest) common shingle provably
    lands in BOTH prefixes, so joining prefixes on the shingle key loses
    nothing (completeness), while pair space shrinks from Σ df² to
    Σ_prefix df'² — rare tokens dominate prefixes, so postings in the
    candidate join are short by construction.

    Exactness end-to-end: the threshold τ = tn/td stays a rational —
    prefix lengths use integer ceil ((tn·s + td − 1) div td) and the
    final filter compares inter·td ≥ tn·union in BIGINT, so engines can
    never disagree on a boundary pair; the returned ``jaccard`` double
    is one exact-int division.

    Scale: four key shuffles (shingle-df, doc window, candidate shingle
    join, pair group) — the per-doc rank window partitions by doc id,
    never a global sort.  Verification touches candidate pairs × doc-a's
    shingles only.

    ``shingles_frame`` (r15): a caller-persisted ``shingle_frame`` output
    to explode instead of re-tokenizing ``docs`` — its ``shset`` column
    is the identical distinct n-gram set (same tokens/slice/concat
    expressions), so agreement-style ensemble jobs that also run a
    MinHash arm shingle the corpus ONCE instead of once per family (the
    dominant per-doc cost — see ``shingle_frame``).
    """
    from data_engineering_project_utn_spark.persist import track_persist

    if shingles_frame is not None:
        sh = shingles_frame.select(
            F.col("doc_id").alias("did"), F.explode("shset").alias("g")
        )
    else:
        sh = docs.select(
            F.col(id_col).alias("did"),
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g"),
        )
    sh = track_persist(sh)
    gdf = sh.groupBy("g").agg(F.count(F.lit(1)).alias("gdf"))
    sz = sh.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    from pyspark.sql import Window

    w = Window.partitionBy("did").orderBy("gdf", "g")
    ranked = (
        sh.join(gdf, "g")
        .withColumn("pos", F.row_number().over(w))
        .join(sz, "did")
    )
    # persist the prefix: the candidate self-join reads it TWICE, and
    # without materialization each side re-evaluates the whole
    # gdf-join + per-doc rank window chain (measured 3× the total
    # runtime at sf2); same for the candidate list, re-read by the
    # verification join
    pref = track_persist(
        ranked.filter(
            F.col("pos")
            <= F.col("sz") - F.expr(f"({tn} * sz + {td} - 1) div {td}") + F.lit(1)
        ).select("did", "g", "pos", "sz")
    )
    paired = (
        pref.alias("a")
        .join(pref.alias("b"), "g")
        .filter(F.col("a.did") < F.col("b.did"))
    )
    if positional:
        # PPJoin's positional filter: a match at prefix positions
        # (pa, pb) bounds the achievable overlap by
        # min(sza − pa, szb − pb) + 1 (tokens at or after the match in
        # the shared rarity order).  J ≥ tn/td requires overlap
        # o·(tn + td) ≥ tn·(sza + szb); a pair whose EVERY prefix match
        # fails the bound cannot reach the threshold, while the
        # rarest-common-token lemma guarantees a true pair's first
        # common token passes it (the true overlap respects the bound)
        # — so pruning keeps completeness and the result set is
        # IDENTICAL to the plain prefix join (same-oracle twin).
        paired = paired.filter(
            (
                F.least(
                    F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
                )
                + 1
            )
            * F.lit(tn + td)
            >= F.lit(tn) * (F.col("a.sz") + F.col("b.sz"))
        )
    cand = track_persist(
        paired.select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("did").alias("id_a"), "g")
    sb = sh.select(F.col("did").alias("id_b"), "g")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    za = sz.select(F.col("did").alias("id_a"), F.col("sz").alias("sza"))
    zb = sz.select(F.col("did").alias("id_b"), F.col("sz").alias("szb"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .withColumn("union_sz", (F.col("sza") + F.col("szb") - F.col("inter")).cast("long"))
        .filter(F.col("inter") * F.lit(td) >= F.lit(tn) * F.col("union_sz"))
        .select(
            "id_a",
            "id_b",
            "inter",
            "union_sz",
            (F.col("inter").cast("double") / F.col("union_sz").cast("double")).alias(
                "jaccard"
            ),
        )
    )


def containment_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC containment scores for candidate doc pairs:
    C(a⊆b) = |A∩B|/|A| and C(b⊆a) = |A∩B|/|B| over distinct n-gram
    shingle sets — the subset-duplicate signal Jaccard misses: a short
    doc quoted wholesale inside a long one has tiny Jaccard (union is
    dominated by the long doc) but containment ≈ 1, and the curation
    decision ("drop the contained doc, keep the superset") needs the
    DIRECTION, which a symmetric score can't give.

    ``candidates`` is any (id_a, id_b) pair frame (MinHash bands,
    rare-shingle blocking, prefix filter) — containment verification
    touches candidate pairs × doc-a shingles only, exactly like the
    prefix-join verify stage.  Counts stay integers; the two divisions
    of exact ints are the only floating step."""
    sh = docs.select(
        F.col(id_col).alias("did"),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g"),
    )
    from data_engineering_project_utn_spark.persist import track_persist

    sh = track_persist(sh)
    sz = sh.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("did").alias("id_a"), "g")
    sb = sh.select(F.col("did").alias("id_b"), "g")
    inter = (
        candidates.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    za = sz.select(F.col("did").alias("id_a"), F.col("sz").alias("sza"))
    zb = sz.select(F.col("did").alias("id_b"), F.col("sz").alias("szb"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            F.col("sza").cast("long").alias("sza"),
            F.col("szb").cast("long").alias("szb"),
            (F.col("inter").cast("double") / F.col("sza").cast("double")).alias(
                "cont_a_in_b"
            ),
            (F.col("inter").cast("double") / F.col("szb").cast("double")).alias(
                "cont_b_in_a"
            ),
        )
    )


def containment_sketch_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    k: int = 16,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sketched containment estimate — the petabyte swap for
    ``containment_pairs``: instead of intersecting FULL shingle sets,
    probe only doc-a's ``k`` lexicographically-smallest shingle digests
    (the same deterministic bottom-k family as ``bottomk_neardup`` /
    ``llm/sketch.bottomk_sample``) against doc-b's digest set:
    Ĉ(a⊆b) = |{bottom-k(A)} ∩ B| / min(k, |A|) — a uniform sample of A
    under the md5 order, so the hit fraction estimates |A∩B|/|A| with
    ±1/√k error, and EXACTLY equals it when |A| ≤ k (the sample is the
    whole set; property-tested).  Deterministic (no RNG), so the gate
    hashes bit-for-bit cross-engine.

    Scale: the probe side carries ≤ k rows per doc regardless of doc
    length — verify traffic drops from Σ|A| to k·|candidates|, the
    same contract as the bottom-k near-dup path."""
    sh = shingle_frame(docs, id_col, text_col, n)
    from data_engineering_project_utn_spark.persist import track_persist

    digests = track_persist(
        sh.select(
            F.col("doc_id").alias("did"),
            F.array_sort(F.array_distinct(F.col("hd"))).alias("hds"),
        )
    )
    bk = digests.select(
        F.col("did").alias("id_a"),
        F.least(F.size("hds"), F.lit(k)).cast("long").alias("den"),
        F.explode(F.slice("hds", 1, k)).alias("h"),
    )
    full_b = digests.select(
        F.col("did").alias("id_b"), F.explode("hds").alias("h")
    )
    hits = (
        candidates.select("id_a", "id_b")
        .join(bk, "id_a")
        .join(full_b.withColumn("_hit", F.lit(1)), ["id_b", "h"], "left")
        .groupBy("id_a", "id_b", "den")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("cnt"))
    )
    return hits.select(
        "id_a",
        "id_b",
        "cnt",
        "den",
        (F.col("cnt").cast("double") / F.col("den").cast("double")).alias(
            "cont_est"
        ),
    )


def contamination_fraction(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """GRADED decontamination (the GPT-3 appendix-C refinement of the
    boolean ``contaminated_doc_ids``): per corpus doc, the FRACTION of
    its distinct n-gram shingles found in the benchmark set —
    (doc_id, n_shingles, n_contaminated, frac).  The boolean scrub
    over-kills docs that merely quote one benchmark line; the fraction
    lets the pipeline apply the published policy (drop above a high
    threshold, flag in between).

    Same scale shape as the boolean path: narrow digest projection on
    the corpus, deduplicated benchmark digests broadcast — here into a
    LEFT join + conditional count instead of a semi-join, still no
    corpus-side shuffle before the per-doc re-aggregation.  Counts are
    exact integers; the fraction is one division."""
    doc_sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.transform(shingles(text_col, n), F.md5))).alias(
            "sh"
        ),
    )
    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(F.transform(shingles(bench_text_col, n), F.md5))
            ).alias("sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("frac"),
        )
    )


def semantic_neardup_pairs(
    embeddings: DataFrame,
    centroids: "list[tuple[int, list[float]]] | DataFrame",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_size: int | None = None,
    two_level: bool = False,
    nprobe_super: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate candidates (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): coarse-cluster every vector with the IVF
    quantizer, then score cosine similarity for pairs WITHIN each
    cluster only — the embedding-space analogue of the LSH band join,
    catching paraphrases and re-encodings that share no n-grams (the
    duplicate class MinHash/SimHash structurally cannot see).

    Returns (cell, id_a, id_b, cos_sim) for every in-cell pair with
    id_a < id_b; the caller thresholds (dedup) or ranks (report).

    Scale shape: one coarse-assignment projection (centroid literals,
    pure scan), one equi-join on the cell key — pair space Σ|cell|²,
    bounded by the quantizer granularity (k grows with the corpus via
    ``similarity.derive_ivf_k``, exactly how the paper shards FAISS
    clusters), NEVER an all-pairs product.  Cosine is the shared
    left-fold ``similarity.dot`` — bit-identical to the oracle's
    list_reduce — computed only for in-cell pairs.

    ``max_cell_size`` bounds the per-cell pair space: an overfull cell
    is split into 2^split_bits sub-cells by a *uniform id hash* —
    exactly ``similarity.lsh_blocks``' split (same integer bit-length
    sizing, same Knuth mix; a similarity-derived key cannot
    redistribute near-identical vectors) — and pairs form within
    (cell, sub) only.  That caps pair work at ≈ N·max_cell_size
    (linear) where the uncapped √N-sized quantizer is Σ|cell|² ~ N^1.5
    (measured 2.69×/2× at sf2→sf4, tracking the theoretical 2^1.5);
    the trade is the bounded-sample approximation: each member of a
    split cell meets a ~cap-row uniform sample of its cell peers, so
    a near-dup GROUP stays internally connected with high probability
    while some individual cross-sub pairs go unreported."""
    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.llm.similarity import dot, norm
    from data_engineering_project_utn_spark.persist import track_persist

    # Quantizer dispatch (VERDICT r08 #3): a Python list rides the
    # literal/packed auto path (``ivf_cells``); a DataFrame quantizer —
    # the 100 TB carrier, where √N centroids exceed any driver-collect
    # budget — never touches the driver and ships as one packed
    # broadcast row (``ivf_cells_from_df``).  Both assignments are
    # bit-identical (same folds) and share one oracle.
    if isinstance(centroids, DataFrame):
        if two_level:
            # hierarchical descent: ≈2√k cosines/row instead of k — the
            # assignment-side answer to √N quantizer growth (see
            # similarity.ivf_cells_2level for the recall trade;
            # nprobe_super > 1 recovers wrong-super assignments by
            # descending the top-s supers, ≈(1+s)√k cosines/row)
            assigned = sim.ivf_cells_2level(
                embeddings, centroids, vec_col=vec_col, nprobe_super=nprobe_super
            )
        else:
            assigned = sim.ivf_cells_from_df(embeddings, centroids, vec_col=vec_col)
    elif two_level:
        raise ValueError("two_level requires the DataFrame centroid carrier")
    else:
        assigned = sim.ivf_cells(embeddings, centroids, vec_col=vec_col)
    # norms ride the persisted per-vector frame: the fold is identical to
    # an inline per-pair norm (same left fold → same double → same
    # product, the _with_qnorm argument), but it runs |V| times instead
    # of 2·|pairs| times — on Σ|cell|² pair spaces that is the dominant
    # per-pair cost (measured 65.7 s → sub-half at sf1)
    cells = track_persist(
        assigned.select(id_col, vec_col, "cell").withColumn(
            "_nrm", norm(F.col(vec_col))
        )
    )
    keys = ["cell"]
    if max_cell_size is not None:
        cap = int(max_cell_size)
        sizes = (
            cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .filter(F.col("_cnt") > cap)
        )
        cells = cells.join(F.broadcast(sizes), "cell", "left")
        q = F.floor((F.col("_cnt") + F.lit(cap - 1)) / F.lit(cap))
        split_bits = (
            F.when(F.col("_cnt").isNull(), F.lit(0))
            .when(q <= 1, F.lit(0))
            .otherwise(F.least(F.length(F.bin(q - 1)), F.lit(8)))
            .cast("int")
        )
        mixed = (F.col(id_col).cast("long") * F.lit(31) + F.lit(7)) % F.lit(1000003)
        sub = F.when(split_bits == 0, F.lit(0).cast("long")).otherwise(
            mixed % F.pow(F.lit(2.0), split_bits).cast("long")
        )
        cells = cells.select(id_col, vec_col, "cell", "_nrm", sub.alias("sub"))
        keys = ["cell", "sub"]
    a = cells.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        *keys,
        F.col("_nrm").alias("_na"),
    )
    b = cells.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        *keys,
        F.col("_nrm").alias("_nb"),
    )
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cell", "id_a", "id_b", cos.alias("cos_sim"))
    )

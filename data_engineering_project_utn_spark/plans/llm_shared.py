"""Shared DuckDB-oracle SQL fragments for the LLM plan families.

One definition per formula (tokenizer, shingles, quality score, minhash
chain, vector dot) so a gate can never drift from its siblings; the
family modules import these.
"""

from __future__ import annotations


# Oracle fragment: whitespace tokens, lowercased, EMPTY TOKENS DROPPED
# (== llm.text.tokens).  The list_filter mirrors the Spark-side filter:
# regex split keeps the empty string from leading/trailing whitespace, so
# without it ' b' would tokenize to ['', 'b'] on both engines — identical
# hashes but the wrong answer.  token_count('') == 0 by this contract.
_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"
# Oracle fragment: 5-gram shingle strings from token list ``t``.
_SHINGLES = "list_transform(range(1, greatest(len(t) - 4, 1) + 1), i -> array_to_string(t[i:i+4], ' '))"
# Oracle fragment: sequential-fold dot product of two lists (matches
# llm.similarity.dot: left fold, init 0 absorbed by first addition).
def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
    )


# Oracle fragment: 3-gram shingles from token list ``t`` (mirrors
# llm.text.shingles(n=3): inclusive slice of 3 tokens, short docs → 1 shingle).
_SH3 = "list_transform(range(1, greatest(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' '))"


# Oracle fragment: rare-5-gram-shingle blocking (== llm.text.rare_shingle_pairs
# with n=5, 2 ≤ shingle df ≤ 10).  Assumes a CTE ``tk(doc_id, t)`` is already
# in scope (token lists); emits shb/gdf/rareb/candw, where candw has
# (id_a, id_b, w) with w = number of shared rare shingles.  Shared by the
# sparse-cosine gate, the PageRank gates, and the RRF ensemble so the
# blocking formula can never drift between the graph and similarity families.
_RARE_SHINGLE_CTES = f"""shb AS (SELECT doc_id AS did, unnest(list_distinct({_SHINGLES})) AS g
           FROM tk),
    gdf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS gdf FROM shb GROUP BY g),
    rareb AS (SELECT did, g FROM shb JOIN gdf USING (g) WHERE gdf BETWEEN 2 AND 10),
    candw AS (SELECT a.did AS id_a, b.did AS id_b, CAST(COUNT(*) AS BIGINT) AS w
              FROM rareb a JOIN rareb b USING (g) WHERE a.did < b.did
              GROUP BY a.did, b.did)"""


# Oracle fragment: per-doc quality score CTEs (== llm.text.quality_score —
# stopword list, 100-token saturation cap, 0.4/0.3/0.3 weights).  Shared by
# every oracle that orders or filters on quality, so the formula can't
# drift between gates.  Emits CTEs tk/m/q; q has (doc_id, lang, quality).
_QUALITY_CTES = f"""tk AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    m AS (SELECT doc_id, lang,
                 CAST(len(t) AS BIGINT) AS n,
                 CAST(len(list_filter(t, x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS BIGINT) AS stop,
                 CAST(len(list_distinct(t)) AS BIGINT) AS uniq
          FROM tk),
    q AS (SELECT doc_id, lang,
                 0.4 * LEAST(CAST(n AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CAST(stop AS DOUBLE) / CAST(n AS DOUBLE))
               + 0.3 * (CAST(uniq AS DOUBLE) / CAST(n AS DOUBLE)) AS quality
          FROM m)"""


# Oracle fragment: the add-one-smoothed bigram-LM surprisal chain
# (== llm.text.bigram_surprisal) — emits CTEs tk(did, t) / bg / c12 /
# c1 / v / bits / agg, where agg has (doc_id, bits_fp, n_bigrams);
# docs with < 2 tokens emit no bigrams and are absent from agg.
# Shared by the surprisal gate and the CCNet bucket gate so the LM
# formula can't drift between them.
_SURPRISAL_CTES = f"""tk AS (SELECT doc_id AS did, {_TOKS} AS t FROM documents),
    bg AS (SELECT did, t[i] AS w1, t[i + 1] AS w2
           FROM (SELECT did, t, unnest(range(1, len(t))) AS i
                 FROM tk WHERE len(t) >= 2)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS _v
          FROM (SELECT unnest(t) AS tok FROM tk)),
    bits AS (SELECT bg.did,
                    CAST((length(format('{{:b}}', c1.c1 + v._v)) - 1)
                         - (length(format('{{:b}}', c12.c12 + 1)) - 1)
                         AS BIGINT) AS bits
             FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
    agg AS (SELECT did AS doc_id, CAST(SUM(bits) AS BIGINT) AS bits_fp,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams
            FROM bits GROUP BY did)"""


# Oracle fragment: stopword-heuristic language prediction from an
# in-scope CTE ``tk(did, t)`` (== llm.text.predicted_lang — same
# stopword lists and (en, es, de, fr)-first tie-break as the
# ``llm_langid`` oracle).  Emits CTEs ls / lp; lp has (did, plang).
_LANGID_CTES = """ls AS (SELECT did,
            CAST(len(list_filter(t, x -> list_contains(['the','a','and','of','to','in','is','it'], x))) AS BIGINT) AS s_en,
            CAST(len(list_filter(t, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS BIGINT) AS s_es,
            CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','von','ein','zu'], x))) AS BIGINT) AS s_de,
            CAST(len(list_filter(t, x -> list_contains(['le','la','de','et','un','est','que','en'], x))) AS BIGINT) AS s_fr
          FROM tk),
    lp AS (SELECT did,
            CASE WHEN GREATEST(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
                 WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr) THEN 'en'
                 WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr) THEN 'es'
                 WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr) THEN 'de'
                 ELSE 'fr' END AS plang
          FROM ls)"""


# Oracle fragment: the count-min bucket — first 8 md5 hex chars of
# "<d>:<item>" folded to an int (same char fold the SimHash gate proved
# ≡ Spark's conv(hex,16,10)), mod the sketch width (== llm.sketch.cm_hash).
def _cm_bucket_sql(item: str, d: str, width: int) -> str:
    return (
        "list_reduce(list_transform(string_split(substring("
        f"md5(CAST({d} AS VARCHAR) || ':' || {item}), 1, 8), ''), "
        "c -> strpos('0123456789abcdef', c) - 1), (a, x) -> a * 16 + x) "
        f"% {width}"
    )


_MINHASH_CTES = f"""tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_transform({_SHINGLES}, s -> md5(s)) AS hd,
                  list_distinct({_SHINGLES}) AS shset
           FROM tk),
    sig AS (SELECT doc_id, shset,
                   list_transform(range(0, 8),
                       i -> list_min(list_transform(hd,
                           h -> substring(h, i*4 + 1, 32) || substring(h, 1, i*4)))) AS sg
            FROM sh),
    bands AS (SELECT doc_id, shset, r.b AS band_idx,
                     md5(array_to_string(sg[r.b*2+1 : r.b*2+2], '|')) AS band_hash
              FROM sig, range(0, 4) r(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),
    j AS (SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                 / (CAST(len(sa.shset) + len(sb.shset) AS DOUBLE)
                    - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)) AS jaccard
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b)"""



def _reach_ctes(pairs: str) -> str:
    """Oracle fragment: CTEs ``edges`` (both directions of every
    (doc_a, doc_b) row of CTE ``pairs``) and ``reach(src, dst)``, their
    transitive closure — the recursive-CTE connected components behind
    every cluster oracle (component = LEAST(src, MIN(dst)) per src).
    Needs ``WITH RECURSIVE``."""
    return f"""edges AS (SELECT doc_a AS src, doc_b AS dst FROM {pairs}
              UNION SELECT doc_b, doc_a FROM {pairs}),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )"""

# Oracle fragment: piecewise-linear fixed-point log₂ (== functions/
# scalar.plog2_sql — exponent from the binary bit length, mantissa
# linearly interpolated, pure integer ops).  Keep the two formulas in
# lockstep; frac_bits must match the Spark call site.
def _plog2_sql(xs: str, frac_bits: int = 16) -> str:
    k = 1 << frac_bits
    blen = f"length(format('{{:b}}', {xs}))"
    return (
        f"(CAST({blen} - 1 AS BIGINT) * {k} "
        f"+ (({xs}) * CAST({k} AS BIGINT)) // (CAST(1 AS BIGINT) << ({blen} - 1)) "
        f"- {k})"
    )


def _cos(a: str, b: str) -> str:
    """Oracle fragment: cosine of two lists — the shared fold/division
    shape of llm.similarity.cosine (dot over the product of two fresh
    sqrt-of-self-dot norms)."""
    return (
        f"{_dot(a, b)}\n               / (sqrt({_dot(a, a)})\n"
        f"                  * sqrt({_dot(b, b)}))"
    )


def two_level_cells_ctes(nprobe_super: int = 1) -> str:
    """CTE chain ``kk, cents, gg, supers, cs, csup, vs, vsup, vl, lbest,
    cells`` for the HIERARCHICAL two-level coarse assignment
    (llm.similarity.ivf_cells_2level): the same √N k rule, then
    centroid→super argmax and vector→super top-``nprobe_super`` over the
    g = 2^⌈log2 √k⌉ super-centroids, and vector→leaf argmax over the
    UNION of the probed supers' leaf sets — every tie
    highest-cosine-then-highest-id, matching the struct-max.  A vector
    whose probed supers own no leaves (float-tie stripped supers) falls
    back to its top super's own id via LEFT JOIN + COALESCE, mirroring
    the Spark side's left leaf join.  ONE SQL definition shared by the
    semdedup, ANN, and multi-probe two-level oracles so the descent
    arithmetic cannot fork."""
    s = max(1, int(nprobe_super))
    return f"""kk AS (SELECT LEAST(65536, GREATEST(4, CAST(POW(2, CEIL(LOG2(SQRT(
                   CAST(COUNT(*) AS DOUBLE))))) AS BIGINT))) AS k
                FROM embeddings),
    cents AS (SELECT vec_id AS cid, embedding AS cv
              FROM embeddings, kk WHERE vec_id < kk.k),
    gg AS (SELECT LEAST(k, GREATEST(1, CAST(POW(2, CEIL(LOG2(SQRT(
               CAST(k AS DOUBLE))))) AS BIGINT))) AS g FROM kk),
    supers AS (SELECT cid AS sid, cv AS sv FROM cents, gg WHERE cid < gg.g),
    cs AS (SELECT c.cid, s.sid,
                  {_cos('c.cv', 's.sv')} AS cc
           FROM cents c CROSS JOIN supers s),
    csup AS (SELECT cid, sid AS super FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
                                             ORDER BY cc DESC, sid DESC) AS rn
                FROM cs) WHERE rn = 1),
    vs AS (SELECT e.vec_id, s.sid,
                  {_cos('e.embedding', 's.sv')} AS vc
           FROM embeddings e CROSS JOIN supers s),
    vsup AS (SELECT vec_id, sid AS super, rn FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY vc DESC, sid DESC) AS rn
                FROM vs) WHERE rn <= {s}),
    vl AS (SELECT e.vec_id, c.cid,
                  {_cos('e.embedding', 'c.cv')} AS lc
           FROM embeddings e
           JOIN vsup v ON v.vec_id = e.vec_id
           JOIN csup cp ON cp.super = v.super
           JOIN cents c ON c.cid = cp.cid),
    lbest AS (SELECT vec_id, cid AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY lc DESC, cid DESC) AS rn
                FROM vl) WHERE rn = 1),
    cells AS (SELECT v.vec_id, COALESCE(b.cell, v.super) AS cell
              FROM (SELECT vec_id, super FROM vsup WHERE rn = 1) v
              LEFT JOIN lbest b ON b.vec_id = v.vec_id)"""

"""LLM-data-pipeline operators (SURVEY.md §2.2 Q37-Q40 + training-data
extensions): dedup (exact / MinHash / SimHash / n-gram Jaccard /
embedding), similarity search (exact top-k cosine, IVF), text analysis
(term frequencies, language stats, lang-id heuristic, quality scoring,
token counting, fingerprinting).

Scale design notes:
- Exact dedup & fingerprints: one hash-groupBy — map-side partial, no
  skew (md5 keys are uniform).
- MinHash/LSH: per-doc signatures are projections; the candidate join
  shuffles on band hashes (uniform), never on raw text. All-pairs work is
  confined to within-bucket.
- Cosine top-k: query vector is a 1-row broadcast; top-k is
  TakeOrderedAndProject (no global sort). All-pairs near-dup is bucketed
  (label here; LSH in operators/) so the quadratic term is per-bucket.
- Everything below is JVM-side expression work (no Python UDFs); the
  pandas_udf/LSH variants live in operators/.

All hash-checked against DuckDB: md5 is the cross-engine anchor (hex
strings compare identically), doubles are rounded, ints are exact.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..functions.exact import cosine_duck
from ..operators import banding as B
from . import register

_STOP_SQL = "('the', 'a', 'of', 'and', 'to')"


# ------------------------------------------------------------- Q37 dedup

@register(
    "q37_exact_dedup",
    oracle="""
    SELECT MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_docs
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text || ' ' FROM documents WHERE doc_id % 7 = 0) c
    GROUP BY 1
    """,
)
def q37(documents):
    """Exact near-dup: hash-groupBy on normalized text, keep min doc_id.
    The corpus has no exact dups, so a deterministic mutated copy of every
    7th doc is unioned in — those groups must come back with n_docs=2."""
    corpus = documents.select("doc_id", "text").unionAll(
        documents.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" ")).alias("text"),
        )
    )
    return corpus.groupBy(
        F.md5(T.normalize(F.col("text"))).alias("fingerprint")
    ).agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))


def _query_vec(e, vid: int):
    """1-row broadcastable query frame (qe, qn): the query vector WITH
    its norm, so probe-side cosines fold the corpus vector only
    (V.cosine_pre — the norm of the constant side is computed once here,
    not once per corpus row)."""
    return e.where(F.col("vec_id") == vid).select(
        F.col("embedding").alias("qe"), V.norm(F.col("embedding")).alias("qn")
    )


@register(
    "q38_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe::DOUBLE[]')}, 4) AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q38(embeddings):
    """Similarity search, exact top-k cosine. The query vector is a 1-row
    broadcast (never a fact-side crossJoin) carrying its precomputed norm;
    ranking is on the ROUNDED sim so the top-k set is stable across
    engines; orderBy+limit plans as TakeOrderedAndProject. Scale path:
    operators/lsh.py (IVF/LSH) replaces the linear scan; this exact form
    is the recall oracle."""
    q = _query_vec(embeddings, 0)
    return (
        embeddings.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            V.cosine_pre(F.col("embedding"), F.col("qe"), F.col("qn")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "q39_term_freq",
    oracle=f"""
    SELECT term, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term FROM documents)
    WHERE LENGTH(term) > 0 AND term NOT IN {_STOP_SQL}
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 50
    """,
)
def q39(documents):
    """Text analysis: tokenize → stopword filter → top term frequencies."""
    return (
        documents.select(F.explode(T.tokens(F.col("text"))).alias("term"))
        .where(~F.col("term").isin(*T.STOPWORDS))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(50)
    )


@register(
    "q40_lang_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q40(documents):
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# ------------------------------------------------- MinHash / LSH (Q43-44)

# Shared oracle CTE prefix: corpus -> tokens -> 3-gram shingles -> one
# 60-bit hash per shingle -> 8 XOR-derived minhashes (seeds in
# functions/text.py MINHASH_SEEDS). One md5 per shingle on both engines.
from ..functions.text import MINHASH_SEEDS as _SEEDS

_MINHASH_CTE = """
WITH corpus AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 11 = 0
), toks AS (
    SELECT doc_id,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tk
    FROM corpus
), sh AS (
    SELECT doc_id,
           LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sg
    FROM toks
), hv AS MATERIALIZED (
    SELECT doc_id,
           LIST_TRANSFORM(sg, s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT) AS hs
    FROM sh
), sig AS MATERIALIZED (
    SELECT doc_id,
           {mins}
    FROM hv
)
""".format(mins=",\n           ".join(
    f"LIST_MIN(LIST_TRANSFORM(hs, h -> XOR(h, {seed}))) AS mh{j}"
    for j, seed in enumerate(_SEEDS)
))

_MINHASH_ORACLE = _MINHASH_CTE + "SELECT * FROM sig"

_BANDS_CTE = """, bands AS (
    SELECT doc_id, UNNEST([
        '0:' || mh0 || ':' || mh1,
        '1:' || mh2 || ':' || mh3,
        '2:' || mh4 || ':' || mh5,
        '3:' || mh6 || ':' || mh7]) AS band
    FROM sig WHERE mh0 IS NOT NULL
), bands_capped AS MATERIALIZED (
    -- model the Spark side's mega-bucket cap (banding.DEFAULT_BUCKET_CAP):
    -- buckets above the cap are dropped from candidate generation on BOTH
    -- engines, so a boilerplate cluster can never make them diverge
    SELECT doc_id, band FROM (
        SELECT doc_id, band, COUNT(*) OVER (PARTITION BY band) AS n_ids
        FROM bands
    ) WHERE n_ids BETWEEN 2 AND {cap}
)""".format(cap=B.DEFAULT_BUCKET_CAP)

_LSH_PAIRS_ORACLE = _MINHASH_CTE + _BANDS_CTE + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def _minhash_corpus(d):
    """documents + mutated copies of every 11th doc (guaranteed near-dups).
    Repartitioned: the testdata is a single row-group, and the signature
    computation (one md5 per shingle) wants all cores."""
    corpus = d.select("doc_id", "text").unionAll(
        d.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        )
    )
    return corpus.repartition(d.sparkSession.sparkContext.defaultParallelism)


# MinHash signature / band / capped-bucket stages are shared with the
# end-to-end dedup pipeline — see operators/banding.py for the scale
# rationale (incl. the mega-bucket cap).
_minhash_signatures = B.minhash_signatures


@register("q43_minhash_signatures", oracle=_MINHASH_ORACLE)
def q43(documents):
    """MinHash signatures: 8 hashes over word-3-gram shingles, computed as
    XOR permutations of a single 60-bit md5-derived shingle hash."""
    return _minhash_signatures(_minhash_corpus(documents))


@register("q44_minhash_lsh_pairs", oracle=_LSH_PAIRS_ORACLE)
def q44(documents):
    """MinHash + LSH banding (4 bands x 2 hashes): candidate near-dup
    pairs = docs sharing any band bucket — the classic shingle -> minhash
    -> band -> bucket pipeline (operators/banding.py). Buckets above
    DEFAULT_BUCKET_CAP are dropped BEFORE id collection (boilerplate
    mega-cluster guard; q86 surfaces the dropped count); within-bucket
    pairs are emitted with higher-order functions, no self-join."""
    bands = B.minhash_bands(_minhash_signatures(_minhash_corpus(documents)))
    return B.bucket_pairs(B.band_buckets(bands))


# ---------------------------------------------------- SimHash (Q45)

def _simhash_oracle() -> str:
    bit_votes = ",\n           ".join(
        f"CAST(SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        for b in range(16)
    )
    combine = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                          t -> LENGTH(t) > 0)) AS t
        FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || SUBSTR(MD5(t), 1, 4))::INTEGER AS h FROM tok
    ), votes AS (
        SELECT doc_id,
           {bit_votes}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM votes
    """


@register("q45_simhash", oracle=_simhash_oracle())
def q45(documents):
    """SimHash document fingerprints (16-bit): per-token 16-bit md5-derived
    hash, ±1 vote per bit, sign → bit. One explode + one groupBy (map-side
    partials); near-dup docs differ in few bits (Hamming)."""
    tok = documents.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("t")
    ).select("doc_id", T.h16(F.col("t")).alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.col("h").cast("long") / (1 << b)).cast("long") % 2 == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


# ----------------------------------------------- n-gram Jaccard (Q46)

_JACCARD_ORACLE = _MINHASH_CTE + _BANDS_CTE + """
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
), grams AS MATERIALIZED (
    -- Jaccard over 60-bit-hashed shingles == over shingle strings (the
    -- hash map is shared with the Spark side, so even a collision would
    -- collide identically in both engines)
    SELECT doc_id, LIST_DISTINCT(hs) AS gs FROM hv
)
SELECT doc_a, doc_b,
       ROUND(CAST(LEN(LIST_INTERSECT(ga.gs, gb.gs)) AS DOUBLE) /
             (LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs))), 4) AS jaccard
FROM cand
JOIN grams ga ON ga.doc_id = cand.doc_a
JOIN grams gb ON gb.doc_id = cand.doc_b
WHERE LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs)) > 0
  AND ROUND(CAST(LEN(LIST_INTERSECT(ga.gs, gb.gs)) AS DOUBLE) /
            (LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs))), 4) > 0.05
"""


@register("q46_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q46(documents):
    """n-gram Jaccard verify stage, candidate-driven: the pair set is the
    q44 LSH candidate feed (signature -> band -> capped bucket), and the
    exact |A∩B| / |A∪B| on distinct 3-gram shingle sets runs ONLY on
    those candidates — the verifier never does all-pairs work. Threshold
    compares the ROUNDED value so the boundary is engine-stable."""
    # one persisted tokenize+shingle+md5 pass feeds both the LSH candidate
    # generation and the verify gram sets, which intersect as long arrays
    _sig, pairs = B.candidate_grams(_minhash_corpus(documents))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    uni = F.size("ga") + F.size("gb") - inter
    jac = F.round(inter.cast("double") / uni, 4)
    return (
        pairs.where((uni > 0) & (jac > 0.05))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# ------------------------------------------- lang-id / quality / tokens

_LANGID_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
    FROM documents
), scores AS (
    SELECT doc_id, lang,
           LEN(LIST_FILTER(tk, x -> x IN ('the', 'a', 'of'))) AS s_en,
           LEN(LIST_FILTER(tk, x -> x IN ('el', 'la', 'de'))) AS s_es,
           LEN(LIST_FILTER(tk, x -> x IN ('der', 'die', 'das'))) AS s_de,
           LEN(LIST_FILTER(tk, x -> x IN ('le', 'et', 'un'))) AS s_fr,
           LEN(tk) AS n_tok
    FROM t
)
SELECT doc_id, lang,
       CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS lang_pred,
       ROUND(CAST(GREATEST(s_en, s_es, s_de, s_fr) AS DOUBLE) / n_tok, 4) AS confidence
FROM scores WHERE n_tok > 0
"""


@register("q47_langid", oracle=_LANGID_ORACLE)
def q47(documents):
    """Language-ID heuristic: marker-stopword voting with a fixed
    tie-break order (en > es > de > fr). Deterministic in both engines;
    prediction quality is a property of the marker lists, not the plan."""
    tk = T.tokens(F.col("text"))
    markers = {
        "en": ("the", "a", "of"),
        "es": ("el", "la", "de"),
        "de": ("der", "die", "das"),
        "fr": ("le", "et", "un"),
    }
    def in_markers(ws):
        return lambda x: x.isin(*ws)

    scored = documents.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(tk, in_markers(ws))).alias(f"s_{lg}")
            for lg, ws in markers.items()
        ],
        F.size(tk).alias("n_tok"),
    )
    s = {lg: F.col(f"s_{lg}") for lg in markers}
    pred = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    best = F.greatest(*s.values())
    return scored.where(F.col("n_tok") > 0).select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        F.round(best.cast("double") / F.col("n_tok"), 4).alias("confidence"),
    )


_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           LENGTH(text) AS n_chars_obs,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk,
           LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiou]')) AS n_vowels
    FROM documents
)
SELECT doc_id, n_chars_obs,
       CAST(LEN(tk) AS INT) AS n_tokens,
       ROUND(CAST(LENGTH(ARRAY_TO_STRING(tk, '')) AS DOUBLE) / LEN(tk), 4) AS avg_token_len,
       ROUND(CAST(LEN(LIST_FILTER(tk, x -> x IN {_STOP_SQL})) AS DOUBLE) / LEN(tk), 4) AS stopword_ratio,
       ROUND(CAST(n_vowels AS DOUBLE) / n_chars_obs, 4) AS vowel_ratio,
       ROUND(CAST(LEN(LIST_DISTINCT(tk)) AS DOUBLE) / LEN(tk), 4) AS ttr
FROM t WHERE LEN(tk) > 0
"""


@register("q48_quality_score", oracle=_QUALITY_ORACLE)
def q48(documents):
    """Quality scoring: length, avg token length, stopword ratio, vowel
    ratio, type-token ratio — the standard cheap text-quality features,
    all integer-exact before one final rounded division."""
    tk = T.tokens(F.col("text"))
    base = documents.select(
        "doc_id",
        F.length("text").alias("n_chars_obs"),
        tk.alias("tk"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiou]"), 0)).alias(
            "n_vowels"
        ),
    ).where(F.size("tk") > 0)
    ntok = F.size("tk").cast("double")
    return base.select(
        "doc_id",
        "n_chars_obs",
        F.size("tk").alias("n_tokens"),
        F.round(F.length(F.concat_ws("", F.col("tk"))).cast("double") / ntok, 4).alias(
            "avg_token_len"
        ),
        F.round(T.stopword_count(F.col("tk")).cast("double") / ntok, 4).alias(
            "stopword_ratio"
        ),
        F.round(F.col("n_vowels").cast("double") / F.col("n_chars_obs"), 4).alias(
            "vowel_ratio"
        ),
        F.round(F.size(F.array_distinct("tk")).cast("double") / ntok, 4).alias("ttr"),
    )


@register(
    "q49_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) AS INT) AS ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+')) AS INT) AS re_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS INT) AS bpe_est
    FROM documents
    """,
)
def q49(documents):
    """Token counting: whitespace, regex (BPE-ish word/number pieces), and
    the chars/4 BPE estimate used for budget accounting."""
    return documents.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0)).alias(
            "ws_tokens"
        ),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+"), 0)
        ).alias("re_tokens"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("bpe_est"),
    )


@register(
    "q50_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0))), ' ')) AS content_fp,
           MD5(SUBSTR(text, 1, 64)) AS prefix_fp
    FROM documents
    """,
)
def q50(documents):
    """Document fingerprints: order-insensitive content hash (sorted
    distinct token set) + prefix hash."""
    return documents.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("content_fp"),
        F.md5(F.substring(F.col("text"), 1, 64)).alias("prefix_fp"),
    )


# ------------------------------------- embedding near-dup + IVF (Q51-52)

_NEARDUP_ORACLE = f"""
WITH vecs AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({cosine_duck('a.e', 'b.e')}, 4) AS sim
FROM vecs a JOIN vecs b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({cosine_duck('a.e', 'b.e')}, 4) > 0.3
"""


@register("q51_embedding_neardup", oracle=_NEARDUP_ORACLE)
def q51(embeddings):
    """Embedding-cosine near-dup: all-pairs WITHIN a bucket (label = the
    coarse quantizer stand-in), threshold on rounded sim, via the
    distributed block-matmul kernel (operators/similarity.
    sim_block_pairs): each (label × block × block) cell is one bounded
    NumPy matmul and only above-threshold pairs become rows — the
    row-expanded same-label self-join this replaced shuffled Σ n_label²
    pair rows (12.7x at 10x data through q280, BENCH_SF1 r9). Pair set
    and round(4) sims identical; oracle unchanged."""
    from ..operators.similarity import sim_block_pairs

    return sim_block_pairs(embeddings, threshold=0.3, same_label_only=True)


_IVF_ORACLE = f"""
WITH centroids AS MATERIALIZED (
    SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id < 10
), assigned AS (
    SELECT e.vec_id, e.embedding,
           (SELECT c.c_id FROM centroids c
            ORDER BY ROUND({cosine_duck('e.embedding::DOUBLE[]', 'c.ce::DOUBLE[]')}, 4) DESC, c.c_id
            LIMIT 1) AS c_id
    FROM embeddings e
), probe AS (
    SELECT c.c_id FROM centroids c, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42) q
    ORDER BY ROUND({cosine_duck('q.qe::DOUBLE[]', 'c.ce::DOUBLE[]')}, 4) DESC, c.c_id
    LIMIT 2
)
SELECT a.vec_id,
       ROUND({cosine_duck('a.embedding::DOUBLE[]', 'q.qe::DOUBLE[]')}, 4) AS sim
FROM assigned a
JOIN probe p ON a.c_id = p.c_id
CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42) q
WHERE a.vec_id <> 42
ORDER BY sim DESC, a.vec_id
LIMIT 5
"""


def _ivf_parts(e):
    """Shared IVF stages: (centroids, per-vector nearest-centroid
    assignment, query vector for vec_id 42). 10 fixed centroids
    (vec_id < 10 — a deterministic 'training' stand-in); assignment is
    an argmax over a 10-row broadcast. Norms are computed ONCE per side
    (en per vector, cn per centroid, qn on the query) so each of the
    10 per-pair cosines folds only the dot product — and `en` rides
    along in the assignment so re-rank never re-folds it either (a real
    IVF store persists norms next to vectors for exactly this reason)."""
    cent = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        V.norm(F.col("embedding")).alias("cn"),
    )
    ee = e.select("vec_id", "embedding", V.norm(F.col("embedding")).alias("en"))
    sim_to_c = V.cosine_norms(
        F.col("embedding"), F.col("ce"), F.col("en"), F.col("cn")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("c_id"))
    assigned = (
        ee.join(F.broadcast(cent))
        .select("vec_id", "embedding", "en", "c_id", sim_to_c.alias("c_sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "en", "c_id")
    )
    q = _query_vec(e, 42)
    return cent, assigned, q


@register("q52_ann_ivf", oracle=_IVF_ORACLE)
def q52(embeddings):
    """ANN, IVF-style: 10 fixed centroids (vec_id < 10 — a deterministic
    'training' stand-in), every vector assigned to its nearest centroid
    (argmax over a 10-row broadcast), query probes its top-2 cells, exact
    top-5 within the probed cells. The linear scan of q38 becomes a scan
    of ~2/10ths of the data; q135 materializes this assignment as a
    write-time partition key — the 100 TB form."""
    cent, assigned, q = _ivf_parts(embeddings)
    probe = (
        cent.join(F.broadcast(q))
        .select(
            "c_id",
            V.cosine_norms(
                F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")
            ).alias("q_sim"),
        )
        .orderBy(F.col("q_sim").desc(), F.col("c_id"))
        .limit(2)
        .select("c_id")
    )
    return (
        assigned.join(F.broadcast(probe), "c_id")
        .join(F.broadcast(q))
        .where(F.col("vec_id") != 42)
        .select(
            "vec_id",
            V.cosine_norms(
                F.col("embedding"), F.col("qe"), F.col("en"), F.col("qn")
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@register("q135_ivf_partition_scan", oracle=_IVF_ORACLE)
def q135(spark, embeddings):
    """The PERSISTED form of q52: the centroid assignment becomes a
    write-time partition key (cell=N directories — the q133 pattern
    applied to vectors), and the query plans against the LAYOUT — the
    two probed cell ids are resolved first (a 2-row driver action, the
    index-lookup step every vector store performs at query time), then
    the scan reads ONLY those two directories (PartitionFilters,
    plan-asserted) and exact-re-ranks within them. At 100 TB this is the
    difference between scanning the corpus per query and reading ~2/10ths
    of it; the index build cost amortizes over every query served. The
    oracle is q52's SQL unchanged — the layout must be invisible in the
    result."""
    from ..scratch import scratch_dir

    cent, assigned, q = _ivf_parts(embeddings)
    path = scratch_dir("q135_ivf")
    assigned.withColumnRenamed("c_id", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    probe_ids = [
        r.c_id
        for r in cent.join(F.broadcast(q))
        .select(
            "c_id",
            V.cosine_norms(
                F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")
            ).alias("q_sim"),
        )
        .orderBy(F.col("q_sim").desc(), F.col("c_id"))
        .limit(2)
        .collect()
    ]
    idx = spark.read.parquet(path)
    return (
        idx.where(F.col("cell").isin(probe_ids))
        .join(F.broadcast(q))
        .where(F.col("vec_id") != 42)
        .select(
            "vec_id",
            V.cosine_norms(
                F.col("embedding"), F.col("qe"), F.col("en"), F.col("qn")
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


# ------------------------------------ operator-backed (LSH / UDF / media)

#: q53's pyspark.ml approxSimilarityJoin materializes (doc, hash-bucket)
#: pairs for BOTH join sides with no bucket cap — unlike the engine's own
#: banding pipeline (operators/banding.py) there is no mega-bucket guard,
#: and at sf0.1 the join blew past 5 minutes. The query is a SURFACE demo
#: of the ml API (the recall test vs exact q44 runs at test scale); bound
#: its input like the streaming queries bound theirs, loudly.
_MAX_ML_LSH_DOCS = 5000


@register("q53_minhash_lsh_ml", tags=("approx",))
def q53(documents):
    """pyspark.ml MinHashLSH near-dup pairs (approximate; rows-only check
    — recall vs the exact q44 pipeline is asserted in tests). Input is
    capped at _MAX_ML_LSH_DOCS (deterministic doc_id prefix): the ml
    API's approxSimilarityJoin has no bucket-size cap, so it is the demo
    surface here while operators/banding.py (capped, audited) is the
    at-scale path — see docs/SCALE.md."""
    from ..operators.lsh import minhash_lsh_pairs

    d = (
        documents
        .orderBy("doc_id")
        .limit(_MAX_ML_LSH_DOCS)
    )
    corpus = _minhash_corpus(d)
    return minhash_lsh_pairs(corpus, threshold=0.1)


@register("q54_brp_ann", tags=("approx",))
def q54(embeddings):
    """BucketedRandomProjectionLSH ANN candidates + exact cosine re-rank
    (approximate; recall vs q38 asserted in tests)."""
    from ..operators.lsh import brp_ann_candidates

    return brp_ann_candidates(embeddings, query_vec_id=0, k=10)


@register(
    "q55_cosine_pandas_udf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe::DOUBLE[]')}, 4) AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q55(embeddings):
    """q38 semantics through the Arrow pandas_udf kernel — proves the
    vectorized Python path gives bit-identical (rounded) results to both
    the JVM expression plan and the DuckDB oracle."""
    from ..operators.similarity import topk_cosine_pandas

    return topk_cosine_pandas(embeddings, query_vec_id=0, k=10)


@register(
    "q56_multimodal_features",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
                ELSE 'wav' END AS format,
           CAST(LENGTH(text) AS INT) AS n_bytes,
           MD5(text) AS checksum,
           CAST(16 + ('0x' || SUBSTR(MD5(text), 1, 2))::INTEGER % 240 AS INT) AS width,
           CAST(16 + ('0x' || SUBSTR(MD5(text), 3, 2))::INTEGER % 240 AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 3 END AS INT) AS n_channels
    FROM documents
    """,
)
def q56(documents):
    """Multimodal plumbing end-to-end: binary payload column + typed
    metadata through mapInPandas (Arrow batches). The fake decoder is
    md5-derived, so even this Python stage is hash-checkable in SQL."""
    from ..operators.multimodal import extract_features, synth_media

    return extract_features(synth_media(documents))


@register(
    "q71_posexplode",
    oracle="""
    SELECT vec_id, CAST(u['i'] - 1 AS INT) AS pos, u['x'] AS val
    FROM (SELECT vec_id,
                 UNNEST(LIST_TRANSFORM(RANGE(1, 9),
                        i -> STRUCT_PACK(i := i, x := embedding[i]))) AS u
          FROM embeddings)
    """,
)
def q71(embeddings):
    """Table function: posexplode (value + ordinal position) over the
    embedding head — DuckDB twin built from UNNEST of (i, x) structs."""
    return embeddings.select(
        "vec_id", F.posexplode(F.slice(F.col("embedding"), 1, 8)).alias("pos", "val")
    )


@register(
    "q72_flatten_nested",
    oracle="""
    SELECT vec_id,
           ARRAY_TO_STRING(LIST_TRANSFORM(FLATTEN([embedding[1:4], embedding[5:8]]),
                           x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)) AS VARCHAR)), ',') AS flat8,
           ARRAY_TO_STRING(LIST_SORT(FLATTEN([[label], [CAST(vec_id % 5 AS INT)]])), ',') AS keys2
    FROM embeddings
    """,
)
def q72(embeddings):
    """Nested-array construction + flatten. Array outputs serialized to
    strings (q34 pattern) so every comparator can hash them; float
    elements via DOUBLE -> DECIMAL(12,6) for engine-stable text."""
    emb = F.col("embedding")
    return embeddings.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.flatten(F.array(F.slice(emb, 1, 4), F.slice(emb, 5, 4))),
                lambda x: x.cast("decimal(12,6)").cast("string"),
            ),
            ",",
        ).alias("flat8"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.flatten(
                        F.array(
                            F.array(F.col("label")), F.array((F.col("vec_id") % 5).cast("int"))
                        )
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("keys2"),
    )


@register("q73_dropdup_subset", tags=("approx",))
def q73(events):
    """dropDuplicates on a key subset — row choice is nondeterministic by
    contract (SURVEY.md §2.2 Q30 note), so only the deterministic shape
    (one row per key) is exposed for the rows-only check."""
    return events.dropDuplicates(["user_id"]).select("user_id")


@register("q83_kmeans", tags=("approx",))
def q83(embeddings):
    """Iterative k-means (3 driver-loop iterations, deterministic init) —
    cluster sizes + rounded within-cluster inertia (rows-only; the
    monotone-inertia property is asserted in tests)."""
    from ..operators.kmeans import kmeans_lite

    assigned, _inertia = kmeans_lite(embeddings, k=5, iters=3)
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("d2"), 2).alias("inertia"),
    )


_LSH_BUCKET_STATS_ORACLE = _MINHASH_CTE + f""", bands AS (
    SELECT doc_id, UNNEST([
        '0:' || mh0 || ':' || mh1,
        '1:' || mh2 || ':' || mh3,
        '2:' || mh4 || ':' || mh5,
        '3:' || mh6 || ':' || mh7]) AS band
    FROM sig WHERE mh0 IS NOT NULL
), bc AS (
    SELECT band, COUNT(*) AS n_ids FROM bands GROUP BY band
)
SELECT CAST(n_ids AS INT) AS bucket_size,
       COUNT(*) AS n_buckets,
       CAST(CASE WHEN n_ids > {B.DEFAULT_BUCKET_CAP} THEN 1 ELSE 0 END AS INT) AS dropped
FROM bc GROUP BY n_ids
"""


@register("q86_lsh_bucket_stats", oracle=_LSH_BUCKET_STATS_ORACLE)
def q86(documents):
    """LSH band bucket-size distribution + the dropped flag for buckets
    above DEFAULT_BUCKET_CAP — the audit surface that makes the q44/q85
    mega-bucket cap visible (no silent truncation). One count per band,
    then a tiny groupBy over the counts."""
    bands = B.minhash_bands(_minhash_signatures(_minhash_corpus(documents)))
    return (
        B.band_counts(bands)
        .groupBy(F.col("n_ids").cast("int").alias("bucket_size"))
        .agg(F.count("*").alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            F.when(F.col("bucket_size") > B.DEFAULT_BUCKET_CAP, 1)
            .otherwise(0)
            .cast("int")
            .alias("dropped"),
        )
    )


_TRAINING_CORPUS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, text,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
    FROM documents
), scored AS (
    SELECT doc_id, lang, text,
           CAST(LEN(tk) AS INT) AS n_tokens,
           ROUND(CAST(LEN(LIST_FILTER(tk, x -> x IN {_STOP_SQL})) AS DOUBLE) / LEN(tk), 4) AS swr,
           ROUND(CAST(LEN(LIST_DISTINCT(tk)) AS DOUBLE) / LEN(tk), 4) AS ttr
    FROM t WHERE LEN(tk) >= 20
), filtered AS (
    SELECT * FROM scored WHERE swr > 0.01 AND ttr > 0.3
), kept AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id) AS rn
    FROM filtered
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(CAST(ttr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_ttr
FROM kept WHERE rn = 1 GROUP BY lang
"""


def quality_gated(d):
    """Quality gate shared by q87 (batch composite) and q102 (streaming
    ingestion): length / stopword-ratio / type-token-ratio thresholds
    compared on ROUNDED values for engine stability. Stateless — a pure
    projection+filter, so it applies unchanged to a streaming frame."""
    tk = T.tokens(F.col("text"))
    base = d.select("doc_id", "lang", "text", tk.alias("tk")).where(F.size("tk") >= 20)
    ntok = F.size("tk").cast("double")
    return base.select(
        "doc_id",
        "lang",
        "text",
        F.size("tk").alias("n_tokens"),
        F.round(T.stopword_count(F.col("tk")).cast("double") / ntok, 4).alias("swr"),
        F.round(F.size(F.array_distinct("tk")).cast("double") / ntok, 4).alias("ttr"),
    ).where((F.col("swr") > 0.01) & (F.col("ttr") > 0.3))


@register("q87_training_corpus", oracle=_TRAINING_CORPUS_ORACLE)
def q87(documents):
    """The composite a training-data pipeline actually ships: quality
    gate (quality_gated above) -> exact dedup (min doc_id per
    normalized-text fingerprint) -> per-language corpus budget
    (docs, tokens, mean TTR via decimal-exact sum). Every stage is a
    shuffle on a uniform key (fingerprint, lang); nothing quadratic."""
    scored = quality_gated(documents)
    # keep-min-doc_id per fingerprint as min(struct(doc_id, ...)): a pure
    # hash aggregate with map-side partials — no per-partition sort like a
    # row_number window would need (doc_id leads the struct, so struct
    # ordering == doc_id ordering)
    kept = (
        scored.groupBy(F.md5(T.normalize(F.col("text"))).alias("fp"))
        .agg(F.min(F.struct("doc_id", "lang", "n_tokens", "ttr")).alias("r"))
        .select("r.*")
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.round(
            F.sum(F.col("ttr").cast("decimal(18,6)")).cast("double") / F.count("*"), 4
        ).alias("avg_ttr"),
    )


@register("q85_dedup_corpus", tags=("approx",))
def q85(documents):
    """End-to-end dedup: corpus with planted duplicates in → kept corpus
    out (LSH candidates → Jaccard verify → connected components → keep
    canonical per cluster). Rows-only; removal guarantees asserted in
    tests."""
    from ..operators.dedup_pipeline import dedup_corpus

    corpus = _minhash_corpus(documents)  # planted near-dups for every 11th doc
    return dedup_corpus(corpus, jaccard_threshold=0.5).select("doc_id")


# ------------------------------------- int8 scalar quantization (q101)

_QUANT_ORACLE = """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> ABS(x))) / 127.0 AS scale
        FROM e
        WHERE list_max(list_transform(v, x -> ABS(x))) > 0.0
    ), quant AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CAST(FLOOR(x / scale + 0.5) AS INT)) AS q
        FROM scaled
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale_r,
           CAST(list_sum(q) AS BIGINT) AS sum_q,
           CAST(list_max(q) AS INT) AS max_q,
           CAST(list_min(q) AS INT) AS min_q,
           ROUND(list_sum(list_transform(range(1, LEN(v) + 1),
                 i -> POWER(v[i] - q[i] * scale, 2))) / LEN(v), 6) AS mse
    FROM quant
"""


@register("q101_embedding_quantize", oracle=_QUANT_ORACLE)
def q101(embeddings):
    """Int8 scalar quantization of the embedding column (the compression
    step before an ANN index ships to serving): per-vector scale =
    max|x|/127, code = floor(x/scale + 0.5) — floor(x+0.5) instead of
    round() because Spark and DuckDB disagree on round-half of
    negatives, floor is bit-identical. Codes/sums are integer-exact;
    only the reconstruction MSE is floating (sequential fold in index
    order on both engines, rounded 6). Staged projections keep `scale`
    and `q` as materialized attributes — inlining them into the lambdas
    would re-run array_max per element (the q99 lesson). Pure map work:
    zero shuffles at any corpus size."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # zero/empty vectors are excluded BEFORE dividing: scale 0 would make
    # x/scale NaN and the int cast abort under ANSI (both engines filter
    # identically, so the exclusion is oracle-visible, not silent)
    scaled = embeddings.select(
        "vec_id",
        v.alias("v"),
        (F.array_max(F.transform(v, F.abs)) / 127.0).alias("scale"),
    ).where(F.col("scale") > 0.0)
    quant = scaled.select(
        "vec_id",
        "v",
        "scale",
        F.transform(
            F.col("v"),
            lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"),
        ).alias("q"),
    )
    sq_err = F.zip_with(
        F.col("v"),
        F.col("q"),
        lambda x, qi: F.pow(x - qi.cast("double") * F.col("scale"), 2),
    )
    return quant.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda a, b: a + b.cast("bigint")
        ).alias("sum_q"),
        F.array_max("q").alias("max_q"),
        F.array_min("q").alias("min_q"),
        F.round(
            F.aggregate(sq_err, F.lit(0.0), lambda a, b: a + b) / F.size("v"), 6
        ).alias("mse"),
    )


# ------------------------------------- retrieval composites (q105-q106)

_RETRIEVE_ORACLE = f"""
    WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    hits AS (
        SELECT e.vec_id,
               ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe::DOUBLE[]')}, 4) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY sim DESC, e.vec_id
        LIMIT 10
    )
    SELECT h.vec_id, h.sim, d.lang, MD5(d.text) AS text_md5
    FROM hits h JOIN documents d ON d.doc_id = h.vec_id
    ORDER BY h.sim DESC, h.vec_id
    """


@register("q105_semantic_retrieval", oracle=_RETRIEVE_ORACLE)
def q105(embeddings, documents):
    """Semantic retrieval end-to-end: exact top-k cosine over embeddings
    (q38's kernel) joined back to the documents table — the fetch step a
    vector store performs after ANN. The 10-row hit list broadcasts into
    the documents join, so the fetch is a partition-pruned point lookup
    at scale, never a fact-fact shuffle."""
    q = _query_vec(embeddings, 0)
    hits = (
        embeddings.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            V.cosine_pre(F.col("embedding"), F.col("qe"), F.col("qn")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )
    return (
        documents.join(F.broadcast(hits), documents["doc_id"] == hits["vec_id"])
        .select("vec_id", "sim", "lang", F.md5(F.col("text")).alias("text_md5"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
    )


_BM25_TERMS = ("table", "fast", "key")


def _eq_term(t: str):
    # closure factory: a default-arg lambda (lambda x, t=t) would be read
    # as a multi-arg (value, index, ...) lambda by PySpark's HOF binder
    return lambda x: x == t

_BM25_ORACLE = """
    WITH docs AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
        FROM documents
    ), feat AS MATERIALIZED (
        SELECT doc_id, CAST(LEN(tk) AS DOUBLE) AS dl,
               CAST(LEN(LIST_FILTER(tk, x -> x = 'table')) AS DOUBLE) AS tf0,
               CAST(LEN(LIST_FILTER(tk, x -> x = 'fast')) AS DOUBLE) AS tf1,
               CAST(LEN(LIST_FILTER(tk, x -> x = 'key')) AS DOUBLE) AS tf2
        FROM docs
    ), stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               COUNT(*) FILTER (tf0 > 0) AS df0,
               COUNT(*) FILTER (tf1 > 0) AS df1,
               COUNT(*) FILTER (tf2 > 0) AS df2
        FROM feat
    )
    SELECT doc_id,
           ROUND(
             ROUND(LN((n - df0 + 0.5) / (df0 + 0.5) + 1), 6) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ROUND(LN((n - df1 + 0.5) / (df1 + 0.5) + 1), 6) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ROUND(LN((n - df2 + 0.5) / (df2 + 0.5) + 1), 6) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           , 4) AS score
    FROM feat, stats
    WHERE tf0 + tf1 + tf2 > 0
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


def _bm25_scored(d):
    """(doc_id, score): rounded(4) BM25 scores for every doc matching at
    least one query term — shared kernel of q106 and the q107 fusion.
    One linear pass builds term frequencies; corpus stats are a 1-row
    broadcast, so scoring is map-only."""
    feat = d.select(
        "doc_id",
        T.tokens(F.col("text")).alias("tk"),
    ).select(
        "doc_id",
        F.size("tk").cast("double").alias("dl"),
        *[
            F.size(F.filter(F.col("tk"), _eq_term(t)))
            .cast("double")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = feat.agg(
        F.count("*").alias("n"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.round(
            F.log((F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1),
            6,
        )
        term = idf * (F.col(f"tf{i}") * 2.2) / (
            F.col(f"tf{i}") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
        score = term if score is None else score + term
    return (
        feat.join(F.broadcast(stats))
        .where(sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS))) > 0)
        .select("doc_id", F.round(score, 4).alias("score"))
    )


@register("q106_bm25_retrieval", oracle=_BM25_ORACLE)
def q106(documents):
    """BM25 keyword retrieval (k1=1.2, b=0.75, fixed 3-term query): the
    lexical half of hybrid search. One linear pass computes per-doc term
    frequencies; the corpus stats (N, avgdl, per-term document
    frequencies) are ONE 1-row aggregate broadcast back — so scoring is
    a map-only second pass, and top-20 plans as TakeOrderedAndProject.
    Determinism: idf (the only transcendental) is rounded(6) on both
    engines before entering the product; ranking is on the rounded(4)
    score with doc_id tiebreak."""
    return (
        _bm25_scored(documents)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )


# The sem/bm25 top-20 CTEs shared by the q107 oracle: identical ranking
# expressions to the q105/q106 oracles, wrapped with ROW_NUMBER.
_RRF_ORACLE = f"""
    WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sem AS (
        SELECT e.vec_id,
               ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe::DOUBLE[]')}, 4) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY sim DESC, e.vec_id
        LIMIT 20
    ), semr AS (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT) AS r_sem
        FROM sem
    ), docs AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
        FROM documents
    ), feat AS MATERIALIZED (
        SELECT doc_id, CAST(LEN(tk) AS DOUBLE) AS dl,
               CAST(LEN(LIST_FILTER(tk, x -> x = 'table')) AS DOUBLE) AS tf0,
               CAST(LEN(LIST_FILTER(tk, x -> x = 'fast')) AS DOUBLE) AS tf1,
               CAST(LEN(LIST_FILTER(tk, x -> x = 'key')) AS DOUBLE) AS tf2
        FROM docs
    ), stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               COUNT(*) FILTER (tf0 > 0) AS df0,
               COUNT(*) FILTER (tf1 > 0) AS df1,
               COUNT(*) FILTER (tf2 > 0) AS df2
        FROM feat
    ), bm AS (
        SELECT doc_id,
               ROUND(
                 ROUND(LN((n - df0 + 0.5) / (df0 + 0.5) + 1), 6) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ROUND(LN((n - df1 + 0.5) / (df1 + 0.5) + 1), 6) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ROUND(LN((n - df2 + 0.5) / (df2 + 0.5) + 1), 6) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               , 4) AS score
        FROM feat, stats
        WHERE tf0 + tf1 + tf2 > 0
        ORDER BY score DESC, doc_id
        LIMIT 20
    ), bmr AS (
        SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_bm25
        FROM bm
    )
    SELECT COALESCE(s.vec_id, b.doc_id) AS doc_id,
           ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + s.r_sem), 0)
               + COALESCE(CAST(1 AS DOUBLE) / (60 + b.r_bm25), 0), 6) AS rrf,
           CAST(COALESCE(s.r_sem, 0) AS INT) AS r_sem,
           CAST(COALESCE(b.r_bm25, 0) AS INT) AS r_bm25
    FROM semr s FULL OUTER JOIN bmr b ON s.vec_id = b.doc_id
    ORDER BY rrf DESC, doc_id
"""


@register("q107_hybrid_rrf", oracle=_RRF_ORACLE)
def q107(embeddings, documents):
    """Hybrid retrieval via reciprocal-rank fusion (k=60): fuse the
    semantic top-20 (q105's cosine kernel) with the BM25 top-20 (q106's
    kernel). Both legs end in TakeOrderedAndProject, so the fusion
    operates on two 20-row lists — the full-outer join and the
    row_number windows are driver-trivial no matter the corpus size;
    all heavy work stays in the two distributed legs. Determinism: RRF
    score is a sum of two exact IEEE divisions of integer ranks (ranks
    themselves are row_numbers over rounded scores with unique id
    tiebreaks), rounded(6)."""
    q = _query_vec(embeddings, 0)
    sem = (
        embeddings.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            V.cosine_pre(F.col("embedding"), F.col("qe"), F.col("qn")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(20)
        .withColumn(
            "r_sem",
            F.row_number().over(Window.orderBy(F.col("sim").desc(), F.col("vec_id"))),
        )
    )
    bm = (
        _bm25_scored(documents)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
        .withColumn(
            "r_bm25",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("doc_id"))
            ),
        )
    )
    joined = sem.join(bm, sem["vec_id"] == bm["doc_id"], "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_bm25")), F.lit(0.0)),
        6,
    )
    return joined.select(
        F.coalesce(sem["vec_id"], bm["doc_id"]).alias("doc_id"),
        rrf.alias("rrf"),
        F.coalesce(F.col("r_sem"), F.lit(0)).alias("r_sem"),
        F.coalesce(F.col("r_bm25"), F.lit(0)).alias("r_bm25"),
    ).orderBy(F.col("rrf").desc(), F.col("doc_id"))


# --------------------------------- corpus analytics (q108-q109)

_ENTROPY_ORACLE = """
    WITH tf AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0)) AS tok
            FROM documents
        )
        GROUP BY doc_id, tok
    ), agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n,
               COUNT(*) AS nd,
               SUM(CAST(c AS DECIMAL(18,0)) * CAST(ROUND(LOG2(c), 6) AS DECIMAL(20,6))) AS clog
        FROM tf
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS INT) AS n_tokens,
           CAST(nd AS INT) AS n_distinct,
           ROUND(ROUND(LOG2(CAST(n AS DOUBLE)), 6) - CAST(clog AS DOUBLE) / n, 4) AS entropy,
           (ROUND(ROUND(LOG2(CAST(n AS DOUBLE)), 6) - CAST(clog AS DOUBLE) / n, 4) >= 3.5) AS kept
    FROM agg
"""


@register("q108_token_entropy", oracle=_ENTROPY_ORACLE)
def q108(documents):
    """Token-distribution entropy quality filter: Shannon entropy of the
    per-doc unigram distribution (low entropy = repetitive boilerplate —
    the information-theoretic sibling of q89's Gopher repetition rules).
    Shape: explode + two map-side-combinable groupBys, no window, no
    skew (keys are (doc, token) then doc). Determinism: computed as
    log2(n) - (1/n)*sum(c*log2(c)); the only transcendental log2 is
    rounded(6) per term, and the sum runs in exact DECIMAL so it is
    associative (order-independent) on both engines; final value
    rounded(4), kept-flag compares the rounded value."""
    tf = (
        documents.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("nd"),
        F.sum(
            F.col("c").cast("decimal(18,0)")
            * F.round(F.log2("c"), 6).cast("decimal(20,6)")
        ).alias("clog"),
    )
    entropy = F.round(
        F.round(F.log2(F.col("n").cast("double")), 6)
        - F.col("clog").cast("double") / F.col("n"),
        4,
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("int").alias("n_tokens"),
        F.col("nd").cast("int").alias("n_distinct"),
        entropy.alias("entropy"),
        (entropy >= 3.5).alias("kept"),
    )


_OVERLAP_ORACLE = """
    WITH toks AS (
        SELECT source,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tk
        FROM documents
    ), sg AS MATERIALIZED (
        SELECT DISTINCT source, MD5(g) AS h
        FROM (
            SELECT source,
                   UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
            FROM toks
        )
    ), per_src AS MATERIALIZED (
        SELECT source, COUNT(*) AS n FROM sg GROUP BY source
    ), shared AS (
        SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ns
        FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b, ns AS n_shared,
           pa.n AS n_a, pb.n AS n_b,
           ROUND(CAST(ns AS DOUBLE) / (pa.n + pb.n - ns), 4) AS jaccard
    FROM shared
    JOIN per_src pa ON pa.source = sa
    JOIN per_src pb ON pb.source = sb
"""


@register("q109_source_overlap", oracle=_OVERLAP_ORACLE)
def q109(documents):
    """Inter-source contamination matrix: for every source pair, the
    count and Jaccard of shared distinct 3-gram shingles — the corpus
    diagnostic behind 'which crawls duplicate each other' (and the
    source-level view of q99's decontamination overlap). Shape: one
    shingle pass -> distinct (source, hash) -> groupBy(hash) with a
    collect_set bounded by the SOURCE dimension cardinality (20 here;
    for web-scale domain counts you'd cap the set like operators/banding
    does for LSH buckets), pair expansion via higher-order combos (no
    self-join: a join would recompute the shingle subtree twice), then a
    count groupBy on ~|S|^2 keys joined to two broadcast per-source
    counts. All integers until one final rounded division."""
    sg = (
        documents.select(
            "source", F.explode(T.shingles(T.tokens(F.col("text")), 3)).alias("s")
        )
        .select("source", F.md5("s").alias("h"))
        .distinct()
    )
    # one persisted shingle pass feeds the pair counts AND both
    # per-source totals — without it Spark re-runs the scan+shingle+
    # distinct subtree three times (q44's convention)
    sg.persist()
    per_src = sg.groupBy("source").agg(F.count("*").alias("n_sg"))
    ss = (
        sg.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    shared = (
        ss.select(F.explode(combos).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )
    na = per_src.select(F.col("source").alias("a"), F.col("n_sg").alias("n_a"))
    nb = per_src.select(F.col("source").alias("b"), F.col("n_sg").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select(
            F.col("a").alias("source_a"),
            F.col("b").alias("source_b"),
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


# --------------- MinHash estimator quality audit (q116)

_EST_TERMS = " + ".join(f"CAST(sa.mh{j} = sb.mh{j} AS INT)" for j in range(8))

_JACCARD_EST_ORACLE = _MINHASH_CTE + _BANDS_CTE + f"""
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
), grams AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT(hs) AS gs FROM hv
), scored AS (
    SELECT cand.doc_a, cand.doc_b,
           ROUND(CAST({{est}} AS DOUBLE) / 8, 4) AS est_jaccard,
           ROUND(CAST(LEN(LIST_INTERSECT(ga.gs, gb.gs)) AS DOUBLE) /
                 (LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs))),
                 4) AS exact_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.doc_a
    JOIN sig sb ON sb.doc_id = cand.doc_b
    JOIN grams ga ON ga.doc_id = cand.doc_a
    JOIN grams gb ON gb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
       ROUND(ABS(est_jaccard - exact_jaccard), 4) AS abs_err
FROM scored
""".format(est=_EST_TERMS)


@register("q116_jaccard_estimate", oracle=_JACCARD_EST_ORACLE)
def q116(documents):
    """Estimator quality audit: for every LSH candidate pair, the
    signature-based Jaccard ESTIMATE (fraction of agreeing minhashes —
    the only similarity a pure-LSH pipeline ever sees) side by side with
    the exact shingle-set Jaccard, plus the absolute error. This is the
    monitoring query a production dedup pipeline runs on a sample to
    decide band/row parameters; at 100 TB it runs on the capped candidate
    set, never all pairs. One persisted gram pass feeds signatures,
    candidates, AND exact verification (q46's sharing pattern); the
    estimate is a projection over the 8 signature columns; both
    similarities compare on ROUND(...,4) so the hash check is stable."""
    sig, pairs = B.candidate_grams(_minhash_corpus(documents))
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(8)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(8)]
    )
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(8)
    )
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    uni = F.size("ga") + F.size("gb") - inter
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree.cast("double") / 8, 4).alias("est_jaccard"),
            F.round(inter.cast("double") / uni, 4).alias("exact_jaccard"),
        )
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "exact_jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 4).alias("abs_err"),
    )


# --------------- blocked fuzzy entity matching (q122)

_FUZZY_ORACLE = """
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@register("q122_fuzzy_match", oracle=_FUZZY_ORACLE)
def q122(part):
    """Entity resolution by blocked fuzzy matching: candidate pairs come
    only from within a blocking key ((p_brand, p_type) — the classic
    cheap compound blocker; widening to p_brand alone quadruples the
    pair count for near-zero extra recall), then edit distance <= 3
    verifies. The quadratic term is
    strictly within-block (the LSH-bucket invariant again, with
    levenshtein instead of Jaccard as the verifier); both engines
    implement classic Levenshtein so the distance is integer-exact.
    At 100 TB the block key comes from a cheap normalizer (brand, zip,
    sorted-token prefix) and blocks are capped like LSH buckets."""
    a = part.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_type",
    )
    b = part.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_type",
    )
    # thresholded levenshtein (Spark 3.5+) runs the banded O(threshold*n)
    # early-exit algorithm and returns -1 past the threshold — the filter
    # must exclude -1, not just compare <=. (Measured: ~1.7x the plain
    # form at sf0.1; a |len(a)-len(b)|<=3 pre-filter was tried and REMOVED
    # — on short names it costs more than it prunes.)
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 3)
    return (
        a.join(b, ["p_brand", "p_type"])
        .where(F.col("part_a") < F.col("part_b"))
        .where(dist.between(0, 3))
        .select("part_a", "part_b", "name_a", "name_b", dist.cast("int").alias("dist"))
    )


# --------------- multimodal: frame sampling + resize (q124/q125)

_FRAME_ORACLE = """
    WITH f AS (
        SELECT doc_id, text,
               UNNEST(range(0, CAST(CEIL(LENGTH(text) / 64.0) AS INT))) AS fi
        FROM documents WHERE LENGTH(text) > 0
    )
    SELECT doc_id,
           CAST(fi AS INT) AS frame_idx,
           CAST(LENGTH(SUBSTR(text, CAST(fi AS INT) * 64 + 1, 64)) AS INT) AS n_frame_bytes,
           MD5(SUBSTR(text, CAST(fi AS INT) * 64 + 1, 64)) AS frame_md5
    FROM f WHERE fi % 4 = 0
"""


@register("q124_frame_sample", oracle=_FRAME_ORACLE)
def q124(documents):
    """Multimodal frame sampling: fixed-size byte frames over the binary
    payload, every 4th kept (operators/multimodal.sample_frames). The
    generator explodes frame indices, not payload copies; slicing and
    hashing are JVM binary expressions. The oracle runs the same byte
    arithmetic on the text (the synth payload is its UTF-8 bytes and the
    corpus is pure ASCII, so char == byte positions)."""
    from ..operators.multimodal import sample_frames, synth_media

    return sample_frames(synth_media(documents))


_RESIZE_ORACLE = """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'wav' END AS format,
           CAST(GREATEST((16 + ('0x' || SUBSTR(MD5(text), 1, 2))::INT % 240) // 2, 1)
                AS INT) AS new_width,
           CAST(GREATEST((16 + ('0x' || SUBSTR(MD5(text), 3, 2))::INT % 240) // 2, 1)
                AS INT) AS new_height,
           MD5(SUBSTR(text, 1, 256)) AS thumb_md5
    FROM documents
"""


@register("q125_media_resize", oracle=_RESIZE_ORACLE)
def q125(documents):
    """Multimodal resize/thumbnail pass through mapInPandas Arrow batches
    (operators/multimodal.resize_media): halved (fake-)decoded dims and
    a thumbnail hash. The Python side is the REAL batch plumbing a GPU/
    PIL resizer plugs into (decode_image is the documented swap-in); the
    fake decoder's md5 arithmetic is replayed exactly by the DuckDB
    oracle, so even this Python path is hash-checked."""
    from ..operators.multimodal import resize_media, synth_media

    return resize_media(synth_media(documents))


# --------------- per-group centroid + embedding outliers (q127)

_OUTLIER_ORACLE = f"""
    WITH e AS MATERIALIZED (
        SELECT d.lang, v.vec_id,
               LIST_TRANSFORM(v.embedding,
                              x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS q
        FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id
    ), comp AS (
        SELECT lang, pos, SUM(val) AS s, COUNT(*) AS n
        FROM (SELECT lang, UNNEST(q) AS val, GENERATE_SUBSCRIPTS(q, 1) AS pos
              FROM e)
        GROUP BY 1, 2
    ), cent AS (
        SELECT lang, LIST(CAST(s AS DOUBLE) / n ORDER BY pos) AS cen
        FROM comp GROUP BY lang
    ), scored AS (
        SELECT e.lang, e.vec_id,
               ROUND({cosine_duck('e.q::DOUBLE[]', 'c.cen')}, 4) AS cos_centroid
        FROM e JOIN cent c ON c.lang = e.lang
    )
    SELECT lang, vec_id, cos_centroid
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY cos_centroid, vec_id) AS rn
          FROM scored) t
    WHERE rn <= 3
"""


@register("q127_embedding_outliers", oracle=_OUTLIER_ORACLE)
def q127(embeddings, documents):
    """Embedding quality filter: per-language centroid, then the 3 docs
    least aligned with their group (lowest cosine to centroid) — the
    standard embedding-space outlier sweep before training. Cross-engine
    exactness trick: embeddings are quantized to integers
    (floor(x*1e6+0.5), the q101 recipe) FIRST, so centroid sums, dot
    products, and norms are sums of exact integers below 2^53 —
    bit-identical in any accumulation order on both engines; only the
    final cosine division is floating point, and it divides identical
    doubles. Centroids are k x dim (a broadcast); ranking is
    WindowGroupLimit on the ROUNDED cosine with vec_id tiebreak."""
    e = embeddings.join(
        documents.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
    ).select(
        "lang",
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x * 1000000 + 0.5).cast("long")
        ).alias("q"),
    )
    comp = (
        e.select("lang", F.posexplode("q").alias("pos", "val"))
        .groupBy("lang", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    cent = comp.groupBy("lang").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", (F.col("s").cast("double") / F.col("n")).alias("c"))
                )
            ),
            lambda x: x["c"],
        ).alias("cen")
    ).withColumn("cn", V.norm(F.col("cen")))
    # centroid norm precomputed per broadcast row (one per lang), not
    # re-folded per scored vector
    scored = e.join(F.broadcast(cent), "lang").select(
        "lang",
        "vec_id",
        V.cosine_pre(F.col("q"), F.col("cen"), F.col("cn")).alias("cos_centroid"),
    )
    w = Window.partitionBy("lang").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "vec_id", "cos_centroid")
    )


# --------------- frequent itemsets (q131)

#: minSupport = 1/512 — EXACTLY representable in binary, so Spark's
#: `ceil(minSupport * numBaskets)` (double math, ml/fpm/FPGrowth) and the
#: oracle's `CEIL(n / 512)` agree for every basket count. A decimal like
#: 0.002 would put the two engines one basket apart whenever
#: 0.002*n crosses an integer (0.002 is not a binary-exact double).
_FPM_MIN_SUPPORT = 1.0 / 512

_ITEMSETS_ORACLE = """
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), stats AS (
        SELECT CEIL(CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) / 512) AS min_count
        FROM baskets
    ), k1 AS (
        SELECT '[' || l_partkey || ']' AS itemset, 1 AS k, COUNT(*) AS freq
        FROM baskets GROUP BY l_partkey
    ), k2 AS (
        SELECT '[' || a.l_partkey || ',' || b.l_partkey || ']' AS itemset,
               2 AS k, COUNT(*) AS freq
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1
    ), k3 AS (
        SELECT '[' || a.l_partkey || ',' || b.l_partkey || ',' || c.l_partkey || ']' AS itemset,
               3 AS k, COUNT(*) AS freq
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN baskets c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
        GROUP BY 1
    ), allsets AS (
        SELECT * FROM k1 UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3
    )
    SELECT itemset, k, CAST(freq AS BIGINT) AS freq
    FROM allsets, stats
    WHERE freq >= min_count
    ORDER BY freq DESC, itemset
    LIMIT 100
"""


@register("q131_frequent_itemsets", oracle=_ITEMSETS_ORACLE)
def q131(lineitem):
    """Frequent itemsets over order baskets (pyspark.ml FPGrowth) — the
    co-occurrence miner (what parts sell together; for corpora: what
    sources/tags co-occur). Baskets = distinct parts per order;
    FP-Growth's support counts are EXACT for a given minSupport (the
    algorithm prunes, it doesn't approximate), which makes the full
    DuckDB oracle possible: the k<=3 slice of the lattice is plain SQL
    (self-joins on the basket table + HAVING), so the driver hash-checks
    FP-Growth's counts end-to-end; the pytest property test additionally
    brute-forces 1-/2-itemset supports. Output is deterministic: items
    sorted inside each set, sets ranked by (freq desc, items), and the
    emitted slice is capped at k<=3 to keep the oracle enumerable (the
    miner still builds the full lattice)."""
    from pyspark.ml.fpm import FPGrowth

    # collect_set dedups parts within the order itself — the former
    # distinct() added a full (orderkey, partkey) shuffle for nothing
    # (guide §2.4), and map-side partial collect_set combines besides
    baskets = lineitem.select("l_orderkey", "l_partkey").groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("items")
    )
    model = FPGrowth(
        itemsCol="items", minSupport=_FPM_MIN_SUPPORT, minConfidence=0.1
    ).fit(baskets)
    return (
        model.freqItemsets.where(F.size("items") <= 3)
        .select(
            F.to_json(F.sort_array(F.col("items"))).alias("itemset"),
            F.size("items").alias("k"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy(F.col("freq").desc(), "itemset")
        .limit(100)
    )

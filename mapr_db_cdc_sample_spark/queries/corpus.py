"""Training-corpus preparation operators (LLM-pipeline surface beyond
dedup): PII redaction, repetition filtering (Gopher-style signals),
deterministic stratified sampling, deterministic training-order shuffle,
and sequence packing into fixed token budgets.

Cross-engine determinism: every random-looking decision is an md5-derived
integer (identical hex in Spark and DuckDB), ratios are ROUND(...,4) and
compared on the rounded value, counts and running sums are pure integer
arithmetic. No Python UDFs anywhere — the whole module is JVM expression
work + two hash shuffles.

Scale notes:
- PII redaction / repetition / sampling are pure projections+filters (no
  shuffle at all; repetition's per-doc work is O(distinct_tokens x
  n_tokens), bounded by document length, not corpus size).
- The training-order shuffle is sort-by-hash-key: Spark plans the LIMIT
  form as TakeOrderedAndProject; the full-corpus form is a range
  partition on the key — the standard 100 TB global shuffle.
- Sequence packing is shard-local (partition key = (lang, doc_id % N)):
  the running-sum window never sees more than 1/N of a language, so
  state per task stays bounded and shards pack embarrassingly parallel —
  exactly how epoch-packing runs on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from . import register

# --- deterministic PII injection (the corpus has none of its own) -------
# every 5th doc gets an email + phone + IP derived from doc_id, so the
# redactor has ground truth to find and the oracle can rebuild it exactly.

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"
_IP_RE = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_PII_CORPUS_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' contact user' || doc_id || '@example.com or call 555-'
                          || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                ELSE text END AS text
    FROM documents
"""


def _pii_corpus(d):
    tagged = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, tagged).otherwise(F.col("text")).alias(
            "text"
        ),
    )


@register(
    "q88_pii_redaction",
    oracle=rf"""
    WITH corpus AS ({_PII_CORPUS_SQL})
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(LEN(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(LEN(regexp_extract_all(text, '{_IP_RE}')) AS INT) AS n_ips,
           MD5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_IP_RE}', '<IP>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g')) AS red_md5
    FROM corpus
    """,
)
def q88(documents):
    """PII redaction: regex scrub of emails/phones/IPs with per-doc match
    counts and an md5 of the redacted text (the hash keeps the oracle
    comparison exact without shipping full text). Pure projection — zero
    shuffles; regexes are Java/RE2-common syntax so both engines match
    byte-identically. At 100 TB this is the map-only pass fused into the
    ingest scan."""
    c = _pii_corpus(documents)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _IP_RE,
            "<IP>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return c.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(_IP_RE)).cast("int").alias("n_ips"),
        F.md5(red).alias("red_md5"),
    )


@register(
    "q89_repetition_filter",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
        FROM documents
    ), g AS (
        SELECT doc_id, tk,
               list_transform(range(1, LEN(tk)), i -> tk[i] || ' ' || tk[i + 1]) AS g2
        FROM t WHERE LEN(tk) >= 2
    )
    SELECT doc_id,
           CAST(LEN(tk) AS INT) AS n_tokens,
           ROUND(CAST(list_max(list_transform(list_distinct(tk),
                     x -> LEN(list_filter(tk, tok -> tok = x)))) AS DOUBLE)
                 / LEN(tk), 4) AS top_word_frac,
           ROUND(1.0 - CAST(LEN(list_distinct(g2)) AS DOUBLE) / LEN(g2), 4) AS dup_2gram_frac,
           CAST(ROUND(CAST(list_max(list_transform(list_distinct(tk),
                     x -> LEN(list_filter(tk, tok -> tok = x)))) AS DOUBLE)
                 / LEN(tk), 4) <= 0.12
            AND ROUND(1.0 - CAST(LEN(list_distinct(g2)) AS DOUBLE) / LEN(g2), 4) <= 0.55
            AS INT) AS keep
    FROM g
    """,
)
def q89(documents):
    """Repetition filter (Gopher-style quality signals): fraction of
    tokens taken by the most frequent word + duplicate-2-gram fraction,
    thresholded into a keep flag. Entirely array expressions — a pure
    projection with NO shuffle (per-doc cost is O(distinct x len),
    bounded by doc length). Thresholds compare the ROUNDED values so the
    keep bit is engine-stable."""
    base = documents.select("doc_id", T.tokens(F.col("text")).alias("tk")).where(
        F.size("tk") >= 2
    )
    tk = F.col("tk")
    # top-word count = longest run in the SORTED token array: an
    # O(n log n) sort + O(n) fold, replacing the naive
    # transform(array_distinct, x -> size(filter(tk, ==x))) which is
    # O(distinct x len) per document and measured ~10x slower at sf0.1
    def _run(acc, x):
        nxt = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            nxt.alias("run"),
            F.greatest(acc["best"], nxt).alias("best"),
        )

    top_cnt = F.aggregate(
        F.array_sort(tk),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        _run,
        lambda acc: acc["best"],
    )
    g2 = T.shingles(tk, 2)
    top_frac = F.round(top_cnt.cast("double") / F.size(tk), 4)
    dup2 = F.round(1.0 - F.size(F.array_distinct(g2)).cast("double") / F.size(g2), 4)
    # two-step projection: the quadratic top-word scan and the 2-gram
    # dedup are each referenced twice (output + keep flag); Spark has no
    # CSE within a Project, but CollapseProject declines to inline a
    # non-cheap alias consumed twice, so staging them computes each once
    scored = base.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        top_frac.alias("top_word_frac"),
        dup2.alias("dup_2gram_frac"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "top_word_frac",
        "dup_2gram_frac",
        (
            (F.col("top_word_frac") <= 0.12) & (F.col("dup_2gram_frac") <= 0.55)
        ).cast("int").alias("keep"),
    )


# --- stratified sampling ------------------------------------------------
# per-language keep rates expressed as exact 24-bit integer thresholds:
# keep iff the first 6 md5 hex chars of the seeded doc key, as an int,
# fall below rate * 2^24. No floating point anywhere in the decision.

_RATE24 = {"en": 4194304, "de": 8388608, "es": 8388608, "fr": 8388608, "zh": 16777216}
_DEFAULT_RATE24 = 16777216  # unknown strata kept whole


@register(
    "q90_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || SUBSTR(MD5('s42-' || doc_id), 1, 6))::BIGINT <
          CASE lang WHEN 'en' THEN {_RATE24["en"]}
                    WHEN 'de' THEN {_RATE24["de"]}
                    WHEN 'es' THEN {_RATE24["es"]}
                    WHEN 'fr' THEN {_RATE24["fr"]}
                    WHEN 'zh' THEN {_RATE24["zh"]}
                    ELSE {_DEFAULT_RATE24} END
    """,
)
def q90(documents):
    """Deterministic stratified sampling (domain mixing): per-language
    keep rates applied via an md5-derived 24-bit integer threshold —
    reproducible across engines, runs, and cluster sizes (unlike
    sample()/TABLESAMPLE, whose RNG is engine-local). Pure filter, no
    shuffle; at 100 TB this composes with partition pruning since the
    decision needs only (doc_id, lang)."""
    u24 = F.conv(
        F.substring(F.md5(F.concat(F.lit("s42-"), F.col("doc_id").cast("string"))), 1, 6),
        16,
        10,
    ).cast("long")
    thresh = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _RATE24.items()],
        F.lit(_DEFAULT_RATE24),
    )
    return documents.where(u24 < thresh).select("doc_id", "lang")


@register(
    "q91_training_order",
    oracle="""
    SELECT doc_id, MD5('epoch0-' || doc_id) AS skey
    FROM documents
    ORDER BY skey
    LIMIT 256
    """,
)
def q91(documents):
    """Deterministic training-order shuffle: sort by a seeded md5 of the
    doc key. Epoch N is just a different seed — same corpus, different
    order, zero RNG state to coordinate. The LIMIT form here plans as
    TakeOrderedAndProject (no global sort materialized); the full-epoch
    form is orderBy(skey) = range-partitioned sort, the standard
    cluster-wide shuffle, with the md5 key uniform by construction (no
    skew, no hot partition)."""
    skey = F.md5(F.concat(F.lit("epoch0-"), F.col("doc_id").cast("string")))
    return (
        documents.select("doc_id", skey.alias("skey"))
        .orderBy("skey")
        .limit(256)
    )


@register(
    "q92_sequence_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, doc_id % 8 AS shard,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                    x -> LENGTH(x) > 0)) AS BIGINT) AS n_tok
        FROM documents
    ), placed AS (
        SELECT lang, shard, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS start_off
        FROM t
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(FLOOR(start_off / 1024.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM placed
    GROUP BY lang, shard, seq_id
    """,
)
def q92(documents):
    """Sequence packing: assign documents to fixed 1024-token training
    sequences by running-offset within (lang, shard). Packing is
    SHARD-local (shard = doc_id % 8): each window partition sees only
    1/8 of a language, so at 100 TB every task's sort+scan state is
    bounded and shards pack in parallel — matching how epoch packing
    actually runs (pack within a shard, never a global scan order).
    Integer arithmetic end to end; the window shuffles once on the
    uniform (lang, shard) key."""
    t = documents.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(T.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = t.select(
        "lang",
        "shard",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_off"),
    )
    return (
        placed.groupBy(
            "lang",
            F.col("shard").cast("long").alias("shard"),
            F.floor(F.col("start_off") / 1024.0).cast("long").alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
        )
    )


# --- benchmark decontamination ------------------------------------------
# Before training, every corpus is screened for documents that contain
# benchmark/eval text (else the eval is contaminated). Benchmark set here
# = docs with doc_id % 97 == 0; every 13th doc gets a benchmark doc's
# text appended so the screen has planted ground truth to find.

_DECONTAM_ORACLE = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT d.doc_id + 2000000, d.text || ' ' || b.text
        FROM documents d JOIN documents b ON b.doc_id = (d.doc_id % 6) * 97
        WHERE d.doc_id % 13 = 0
    ), toks AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tk
        FROM corpus
    ), hv AS MATERIALIZED (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                   s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT)) AS gs
        FROM toks
    ), bench AS (
        SELECT doc_id AS bench_id, gs AS bgs FROM hv
        WHERE doc_id % 97 = 0 AND doc_id < 1000000
    )
    SELECT g.doc_id, b.bench_id,
           CAST(LEN(LIST_INTERSECT(g.gs, b.bgs)) AS INT) AS n_shared,
           ROUND(CAST(LEN(LIST_INTERSECT(g.gs, b.bgs)) AS DOUBLE) / LEN(g.gs), 4)
               AS contam_frac
    FROM hv g, bench b
    WHERE g.doc_id <> b.bench_id
      AND LEN(LIST_INTERSECT(g.gs, b.bgs)) >= 10
"""


@register("q99_decontamination", oracle=_DECONTAM_ORACLE)
def q99(spark, documents):
    """Benchmark decontamination: flag corpus docs sharing >= 10 hashed
    word-3-grams with any benchmark doc. The benchmark side is exploded
    and BROADCAST (real benchmark suites are a few million grams — driver
    -side small); the corpus side is one linear explode; the aggregate
    groups only (doc, bench) pairs that actually collide on a gram, so
    nothing quadratic ever materializes. Same hashed-gram map as the
    MinHash pipeline (functions/text.py), so Jaccard-style counts match
    DuckDB's LIST_INTERSECT exactly."""
    sc = spark.sparkContext
    bench_src = documents.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
    )
    planted = (
        documents.where(F.col("doc_id") % 13 == 0)
        .join(F.broadcast(bench_src), F.col("b_id") == (F.col("doc_id") % 6) * 97)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), F.col("b_text")).alias("text"),
        )
    )
    corpus = documents.select("doc_id", "text").unionAll(planted)
    # Materialize TOKENS at the exchange, then build grams from the
    # shipped arrays: inside shingles() the tokens subtree is inlined
    # into every element_at (Spark has no CSE inside lambdas), so
    # computing grams straight from text re-splits the whole document
    # per window element — quadratic per doc, and the inferred
    # size(gs)>0 filter for a plain explode() pushes below the Project
    # and re-expands the expression again on the pre-exchange (single
    # row-group => single task) side. explode_outer infers no such
    # filter; the null guard runs above the Generate instead.
    toks = corpus.select(
        "doc_id", T.tokens(F.col("text")).alias("tk")
    ).repartition(sc.defaultParallelism)
    grams = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(T.shingles(F.col("tk"), 3), T.shingle_hash60)
        ).alias("gs"),
    )
    corp = grams.select(
        "doc_id", F.size("gs").alias("n_grams"), F.explode_outer("gs").alias("h")
    ).where(F.col("h").isNotNull())
    bench = (
        grams.where((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1000000))
        .select(F.col("doc_id").alias("bench_id"), F.explode_outer("gs").alias("bh"))
        .where(F.col("bh").isNotNull())
    )
    return (
        corp.join(
            F.broadcast(bench),
            (F.col("h") == F.col("bh")) & (F.col("doc_id") != F.col("bench_id")),
        )
        .groupBy("doc_id", "bench_id", "n_grams")
        .agg(F.count("*").cast("int").alias("n_shared"))
        .where(F.col("n_shared") >= 10)
        .select(
            "doc_id",
            "bench_id",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_grams"), 4).alias(
                "contam_frac"
            ),
        )
    )


# --- mixture reweighting --------------------------------------------------
# Target language mix for the training corpus; weight = target share /
# actual token share (the number an epoch sampler like q90 consumes).

_TARGET_MIX = {"en": 0.40, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


def _target_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _TARGET_MIX.items()
    )
    return f"CASE lang {whens} ELSE 0.0 END"


@register(
    "q100_mixture_weights",
    oracle=f"""
    WITH per AS MATERIALIZED (
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                        x -> LENGTH(x) > 0))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
    SELECT lang, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share,
           ROUND(CAST({_target_case_sql()} AS DOUBLE) * t / n_tokens, 6) AS weight
    FROM per, tot
    """,
)
def q100(documents):
    """Mixture reweighting (domain balancing): per-language token counts,
    actual token share, and the sampling weight target_share/actual_share
    that a deterministic sampler (q90) applies to hit the target mix.
    One groupBy over the corpus + a 1-row broadcast total — the 100 TB
    cost is the token-count scan, which fuses with the quality pass.
    Shares/weights are double divisions of exact integers (bit-identical
    across engines), rounded(6) for display stability."""
    per = documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(T.tokens(F.col("text")))).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    target = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _TARGET_MIX.items()],
        F.lit(0.0),
    )
    return per.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias("token_share"),
        F.round(target * F.col("t") / F.col("n_tokens"), 6).alias("weight"),
    )


@register(
    "q103_stratified_topn",
    oracle="""
    SELECT lang, doc_id, CAST(pos AS INT) AS pos FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY MD5('fold7-' || doc_id), doc_id) AS pos
        FROM documents) t
    WHERE pos <= 40
    """,
)
def q103(documents):
    """Deterministic fixed-size per-stratum sample (eval/holdout fold
    selection): the N lexicographically-first seeded md5 keys per
    language. Unlike rate-based sampling (q90) this guarantees EXACTLY
    min(N, |stratum|) rows per stratum. Scale path: rank<=k over a
    window triggers WindowGroupLimit (plan-asserted) — every task
    locally top-ks before the lang shuffle, so the exchange carries
    O(strata x N), not the corpus."""
    skey = F.md5(F.concat(F.lit("fold7-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(skey, F.col("doc_id"))
    return (
        documents.select("lang", "doc_id", F.row_number().over(w).alias("pos"))
        .where(F.col("pos") <= 40)
    )


# --- the whole pipeline in one DAG --------------------------------------

_PIPELINE_ORACLE = """
    WITH t0 AS MATERIALIZED (
        SELECT doc_id, lang, text,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, text, tk,
               CAST(LEN(tk) AS INT) AS n_tokens,
               ROUND(CAST(LEN(LIST_FILTER(tk, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / LEN(tk), 4) AS swr,
               ROUND(CAST(LEN(LIST_DISTINCT(tk)) AS DOUBLE) / LEN(tk), 4) AS ttr
        FROM t0 WHERE LEN(tk) >= 20
    ), gated AS (
        SELECT * FROM scored WHERE swr > 0.01 AND ttr > 0.3
    ), kept AS (
        SELECT doc_id, lang, n_tokens, tk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'))
                ORDER BY doc_id) AS rn
            FROM gated) x
        WHERE rn = 1
    ), gr AS MATERIALIZED (
        SELECT doc_id, lang, n_tokens,
               LIST_DISTINCT(LIST_TRANSFORM(
                   LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                   s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT)) AS gs
        FROM kept
    ), bench AS (
        SELECT doc_id AS bench_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                   s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT)) AS bgs
        FROM t0 WHERE doc_id % 97 = 0
    ), contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM gr g, bench b
        WHERE g.doc_id <> b.bench_id AND LEN(LIST_INTERSECT(g.gs, b.bgs)) >= 10
    ), sampled AS (
        SELECT doc_id, lang, n_tokens FROM gr
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND ('0x' || SUBSTR(MD5('s42-' || doc_id), 1, 6))::BIGINT <
              CASE lang WHEN 'en' THEN 4194304
                        WHEN 'de' THEN 8388608
                        WHEN 'es' THEN 8388608
                        WHEN 'fr' THEN 8388608
                        WHEN 'zh' THEN 16777216
                        ELSE 16777216 END
    ), placed AS (
        SELECT lang, doc_id % 8 AS shard, n_tokens,
               SUM(CAST(n_tokens AS BIGINT)) OVER (
                   PARTITION BY lang, doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
        FROM sampled
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT (shard, CAST(FLOOR(start_off / 1024.0) AS BIGINT))) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM placed
    GROUP BY lang
"""


@register("q104_corpus_pipeline", oracle=_PIPELINE_ORACLE)
def q104(spark, documents):
    """The WHOLE corpus pipeline as one DAG — quality gate (q87's) →
    exact dedup (min-id per fingerprint) → benchmark decontamination
    (q99's, on the surviving docs) → stratified sampling (q90's integer
    thresholds) → sequence packing (q92's shard-local windows) →
    per-language corpus budget. Every stage keeps its individual
    operator's scale shape: gates are map-only, dedup shuffles once on
    md5, the benchmark gram side broadcasts, sampling is a filter, and
    packing windows on (lang, shard). Fully DuckDB-oracled end to end —
    the hash check covers the COMPOSITION, not just the stages."""
    from .llm import quality_gated

    sc = spark.sparkContext
    gated = quality_gated(documents)
    kept = (
        gated.groupBy(F.md5(T.normalize(F.col("text"))).alias("fp"))
        .agg(F.min(F.struct("doc_id", "lang", "n_tokens", "text")).alias("r"))
        .select("r.*")
    )
    # tokens materialized behind the exchange before gram work (q99 lesson)
    ktoks = kept.select(
        "doc_id", "lang", "n_tokens", T.tokens(F.col("text")).alias("tk")
    ).repartition(sc.defaultParallelism)
    gr = ktoks.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.array_distinct(
            F.transform(T.shingles(F.col("tk"), 3), T.shingle_hash60)
        ).alias("gs"),
    )
    btoks = (
        documents.where(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_id"), T.tokens(F.col("text")).alias("tk"))
        .repartition(sc.defaultParallelism)
    )
    bench = (
        btoks.select(
            "bench_id",
            F.explode_outer(
                F.array_distinct(
                    F.transform(T.shingles(F.col("tk"), 3), T.shingle_hash60)
                )
            ).alias("bh"),
        )
        .where(F.col("bh").isNotNull())
    )
    corp = gr.select(
        "doc_id", F.explode_outer("gs").alias("h")
    ).where(F.col("h").isNotNull())
    contaminated = (
        corp.join(
            F.broadcast(bench),
            (F.col("h") == F.col("bh")) & (F.col("doc_id") != F.col("bench_id")),
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 10)
        .select("doc_id")
        .distinct()
    )
    u24 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("s42-"), F.col("doc_id").cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("long")
    thresh = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _RATE24.items()],
        F.lit(_DEFAULT_RATE24),
    )
    sampled = (
        gr.join(contaminated, "doc_id", "left_anti")
        .where(u24 < thresh)
        .select("doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tok"))
    )
    w = (
        Window.partitionBy("lang", F.col("doc_id") % 8)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sampled.select(
        "lang",
        (F.col("doc_id") % 8).alias("shard"),
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_off"),
    )
    return placed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(
            F.col("shard"), F.floor(F.col("start_off") / 1024.0).cast("long")
        ).alias("n_seqs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
    )


# ------------------------- bigram-LM perplexity filter (q110, CCNet-style)

_PPL_ORACLE = """
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
        FROM documents
    ), db AS MATERIALIZED (
        SELECT doc_id, bg, COUNT(*) AS c_doc
        FROM (
            SELECT doc_id,
                   UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk), 1)),
                          i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM toks
        )
        GROUP BY doc_id, bg
    ), cb AS MATERIALIZED (
        SELECT bg, CAST(SUM(c_doc) AS BIGINT) AS c FROM db GROUP BY bg
    ), c1 AS MATERIALIZED (
        SELECT SPLIT_PART(bg, ' ', 1) AS w1, CAST(SUM(c) AS BIGINT) AS cc
        FROM cb GROUP BY 1
    ), v AS MATERIALIZED (
        SELECT COUNT(DISTINCT w) AS vv
        FROM (SELECT UNNEST(tk) AS w FROM toks) t
    ), nll AS (
        SELECT db.doc_id,
               CAST(SUM(c_doc) AS INT) AS n_bigrams,
               ROUND(-CAST(SUM(CAST(c_doc AS DECIMAL(18,0))
                              * CAST(ROUND(LN((cb.c + 1) / (c1.cc + v.vv)), 6) AS DECIMAL(20,6)))
                       AS DOUBLE) / CAST(SUM(c_doc) AS BIGINT), 4) AS avg_nll
        FROM db
        JOIN cb ON db.bg = cb.bg
        JOIN c1 ON SPLIT_PART(db.bg, ' ', 1) = c1.w1, v
        GROUP BY db.doc_id
    )
    SELECT doc_id, n_bigrams, avg_nll, (avg_nll <= 3.45) AS kept FROM nll
"""


@register("q110_perplexity_filter", oracle=_PPL_ORACLE)
def q110(documents):
    """Perplexity-style quality filter (the CCNet recipe, self-trained):
    fit an add-1-smoothed bigram LM on the corpus itself, score every doc
    by its average negative log-likelihood, drop the high-NLL tail
    (improbable token sequences = noisy/garbled text). Emits avg_nll
    rather than exp(avg_nll): exp's last-ulp varies across engines and
    the ranking/threshold is identical either way.

    Shape: ONE persisted (doc, bigram, count) pass feeds the LM count
    tables AND the scoring join. The context-count (vocab-sized) and
    vocab-size (1-row) tables broadcast; the only shuffle join is
    doc-bigrams x bigram-counts on the bigram key — Zipf-skewed at real
    scale, which is exactly what AQE skew-join handles (and cb is
    vocab^2-bounded, so it too broadcasts when the vocab is modest).
    Determinism: ln rounded(6) into a DECIMAL-exact sum (order-free),
    one double division, final round(4); kept compares the rounded
    value."""
    tk = documents.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    db = (
        tk.select("doc_id", F.explode(T.shingles(F.col("tk"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c_doc"))
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
    )
    db.persist()
    cb = db.groupBy("bg").agg(F.sum("c_doc").alias("c"))
    c1 = db.groupBy("w1").agg(F.sum("c_doc").alias("cc"))
    v = tk.select(F.explode("tk").alias("w")).agg(
        F.countDistinct("w").alias("vv")
    )
    ln_p = F.round(
        F.log((F.col("c") + F.lit(1)).cast("double") / (F.col("cc") + F.col("vv"))),
        6,
    )
    term = F.col("c_doc").cast("decimal(18,0)") * ln_p.cast("decimal(20,6)")
    nll = (
        db.join(cb, "bg")
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").cast("int").alias("n_bigrams"),
            F.round(
                -F.sum(term).cast("double") / F.sum("c_doc"), 4
            ).alias("avg_nll"),
        )
    )
    return nll.select(
        "doc_id", "n_bigrams", "avg_nll", (F.col("avg_nll") <= 3.45).alias("kept")
    )


# --- fixed-size token chunking with overlap (q115) ----------------------

_CHUNK, _STRIDE = 64, 48

_CHUNK_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> LENGTH(x) > 0) AS tk
        FROM documents
    ), c AS (
        SELECT doc_id, tk, UNNEST(range(1, LEN(tk) + 1, {_STRIDE})) AS s
        FROM t WHERE LEN(tk) > 0
    )
    SELECT doc_id,
           CAST((s - 1) // {_STRIDE} AS INT) AS chunk_idx,
           CAST(LEN(list_slice(tk, s, s + {_CHUNK} - 1)) AS INT) AS n_tokens,
           MD5(ARRAY_TO_STRING(list_slice(tk, s, s + {_CHUNK} - 1), ' ')) AS chunk_md5
    FROM c
"""


@register("q115_doc_chunking", oracle=_CHUNK_ORACLE)
def q115(documents):
    """Context-window chunking: split each document into {chunk}=64-token
    windows advancing by {stride}=48 (16-token overlap so no boundary
    context is lost) — the standard prep before tokenizer/packing in a
    training pipeline. Pure projection + one generator explode: chunk
    starts come from sequence(1, n_tokens, stride), each start slices
    the SAME materialized token array (no re-tokenization per chunk),
    posexplode supplies chunk_idx. Chunk content is carried as an md5 so
    the cross-engine check is exact without shipping the tokens."""
    base = documents.select("doc_id", T.tokens(F.col("text")).alias("tk")).where(
        F.size("tk") > 0
    )
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("tk"), F.lit(_STRIDE)),
        lambda s: F.slice(F.col("tk"), s, _CHUNK),
    )
    return base.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("chunk").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
    )

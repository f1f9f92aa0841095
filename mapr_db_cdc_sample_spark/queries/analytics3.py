"""Round-6 batch (q270+): time-series diagnostics (ACF, integer
Bollinger breakouts), tokenizer-training statistics (BPE merge-pair
counts), leakage-safe CV folds, per-group quantile normalization,
distributed Gram matrix / PCA over the embedding column, sorted-
neighborhood ER blocking, and the feature-hashing trick.

Determinism rules follow queries/relational.py's module docstring; the
recurring trick here is the POSITIVE-SHIFT integer round-half-up for
possibly-negative rationals: Spark's DIV truncates toward zero while
DuckDB's // floors, so every division in this module is arranged to
run on non-negative operands (e.g. ACF is computed as
round_half_up((r+1)·1e6) − 1e6 with r+1 ∈ [0, 2])."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..functions.exact import cents, cosine_duck, floor_rhu, rhu
from ..session import pin
from ..operators.dedup_pipeline import connected_components
from ..operators.kcore import k_core
from ..operators.lpa import label_propagation
from . import register
from .llm import _BANDS_CTE, _MINHASH_CTE

# Shared CTE: exact daily revenue in integer cents. DuckDB SUM(BIGINT)
# is HUGEINT -> cast back; Spark sums BIGINT natively (overflow would
# throw under ANSI, not wrap).
_DAILY_CTE = """
WITH daily AS MATERIALIZED (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY o_orderdate
)
"""


def _daily_cents(orders):
    return orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
    )


# ---------- q270: autocorrelation function (time-series diagnostics)

# Sample ACF of daily revenue at lags 1..7 — the seasonality probe run
# before fitting any forecasting model (weekly cycles show as a lag-7
# peak). All moments are EXACT: clearing the mean x̄ = s/n by
# multiplying through by n² turns the textbook estimator into pure
# integer arithmetic,
#   num_k·n² = n²·Σ'x_t·x_{t−k} − n·s·Σ'(x_t + x_{t−k}) + (n−k)·s²
#   den·n²   = n²·Σx² − n·s²,
# carried in DECIMAL(38,0) / HUGEINT (n²·Σx² reaches ~1e24 at sf0.1 —
# past BIGINT). r ∈ [−1,1] can be negative and Spark DIV truncates
# while DuckDB // floors, so the 6-decimal output is the positive-shift
# round-half-up of r+1. The lag runs over the OBSERVED day sequence
# (both engines sort the same day spine; a LAG window over |days| rows,
# which sits ABOVE the daily aggregate — SinglePartition on thousands
# of rows, not the fact table).
_ACF_ORACLE = _DAILY_CTE + """
, base AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(cents) AS HUGEINT) AS s,
           CAST(SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS HUGEINT) AS sxx
    FROM daily
), lagged AS (
    SELECT l.lag AS lag,
           cents,
           LAG(cents, l.lag) OVER (PARTITION BY l.lag ORDER BY day) AS prev
    FROM daily, (SELECT UNNEST(range(1, 8)) AS lag) l
), moms AS (
    SELECT lag,
           CAST(COUNT(prev) AS HUGEINT) AS npairs,
           CAST(SUM(CAST(cents AS HUGEINT) * CAST(prev AS HUGEINT)) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(cents AS HUGEINT) + CAST(prev AS HUGEINT)) AS HUGEINT) AS sxpy
    FROM lagged WHERE prev IS NOT NULL GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag,
       CAST(npairs AS BIGINT) AS n_pairs,
       CAST((2 * ((n*n*sxy - n*s*sxpy + npairs*s*s) + (n*n*sxx - n*s*s)) * 1000000
             + (n*n*sxx - n*s*s))
            // (2 * (n*n*sxx - n*s*s)) - 1000000 AS BIGINT) AS acf_micro
FROM moms, base
ORDER BY lag
"""


@register("q270_autocorrelation", oracle=_ACF_ORACLE)
def q270(orders):
    """ACF lags 1..7 of daily revenue in exact integer arithmetic (see
    oracle comment). One aggregate builds the |days| series; ONE ordered
    window pass produces all 7 lag columns; stack+groupBy computes the
    per-lag cross moments map-side-combinably."""
    daily = _daily_cents(orders)
    d38 = "decimal(38,0)"
    base = daily.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("cents").cast(d38).alias("s"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)"))
        .cast(d38)
        .alias("sxx"),
    )
    w = Window.orderBy("day")
    lagcols = daily.select(
        "cents", *[F.lag("cents", k).over(w).alias(f"p{k}") for k in range(1, 8)]
    )
    lagged = lagcols.select(
        "cents",
        F.posexplode(F.array(*[F.col(f"p{k}") for k in range(1, 8)])).alias(
            "lag0", "prev"
        ),
    ).where(F.col("prev").isNotNull())
    moms = lagged.groupBy((F.col("lag0") + 1).alias("lag")).agg(
        F.count("*").cast(d38).alias("npairs"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("prev").cast("decimal(19,0)"))
        .cast(d38)
        .alias("sxy"),
        F.sum(F.col("cents").cast(d38) + F.col("prev").cast(d38)).cast(d38).alias("sxpy"),
    )
    j = moms.crossJoin(F.broadcast(base))
    num = F.col("n") * F.col("n") * F.col("sxy") - F.col("n") * F.col("s") * F.col(
        "sxpy"
    ) + F.col("npairs") * F.col("s") * F.col("s")
    den = F.col("n") * F.col("n") * F.col("sxx") - F.col("n") * F.col("s") * F.col("s")
    return (
        j.select(
            F.col("lag").cast("int").alias("lag"),
            F.col("npairs").cast("bigint").alias("n_pairs"),
            (
                F.expr(
                    rhu(
                        "((n*n*sxy - n*s*sxpy + npairs*s*s) + (n*n*sxx - n*s*s))"
                        " * 1000000",
                        "(n*n*sxx - n*s*s)",
                    ) + " - 1000000"
                )
            ).cast("bigint").alias("acf_micro"),
        )
        .orderBy("lag")
    )


# ---------- q271: Bollinger-band breakouts (integer-exact)

# Days whose revenue leaves the trailing-7-day mean ± 2σ band. The
# band test needs NO square root: with S=Σ₇x, Q=Σ₇x², the breakout
# condition (x−μ)² > 4σ² multiplied by 49 is
#   (7x − S)² > 4·(7Q − S²),
# pure BIGINT (|7x−S| ~1e10 at sf0.1 → squared 1e20... carried as
# DECIMAL(38,0)/HUGEINT for headroom). The displayed rolling mean is
# integer round-half-up (positive operands). Full windows only
# (cnt = 7) — partial leading windows would compare against a
# different-width band on each engine's NULL conventions.
_BOLL_ORACLE = _DAILY_CTE + """
, r AS (
    SELECT day, cents,
           COUNT(*)    OVER w AS cnt,
           CAST(SUM(CAST(cents AS HUGEINT)) OVER w AS HUGEINT) AS s7,
           CAST(SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) OVER w AS HUGEINT) AS q7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, cents,
       CAST((2 * s7 + 7) // 14 AS BIGINT) AS mean7_cents,
       CAST(CASE WHEN (7 * CAST(cents AS HUGEINT) - s7) * (7 * CAST(cents AS HUGEINT) - s7)
                      > 4 * (7 * q7 - s7 * s7)
                 THEN 1 ELSE 0 END AS INT) AS breakout
FROM r WHERE cnt = 7
ORDER BY day
"""


@register("q271_bollinger_breakout", oracle=_BOLL_ORACLE)
def q271(orders):
    """Trailing 7-day Bollinger breakout flags with the sqrt-free
    integer band test (oracle comment). One day-ordered window above
    the daily aggregate produces count/sum/sum-of-squares together."""
    daily = _daily_cents(orders)
    d38 = "decimal(38,0)"
    w = Window.orderBy("day").rowsBetween(-6, 0)
    c38 = F.col("cents").cast(d38)
    r = daily.select(
        "day",
        "cents",
        F.count("*").over(w).alias("cnt"),
        F.sum(c38).over(w).cast(d38).alias("s7"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)"))
        .over(w)
        .cast(d38)
        .alias("q7"),
    ).where(F.col("cnt") == 7)
    dev = F.lit(7).cast(d38) * c38 - F.col("s7")
    return r.select(
        "day",
        "cents",
        F.expr("(2 * s7 + 7) DIV 14").cast("bigint").alias("mean7_cents"),
        F.when(
            dev * dev > F.lit(4).cast(d38) * (F.lit(7).cast(d38) * F.col("q7") - F.col("s7") * F.col("s7")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("breakout"),
    ).orderBy("day")


# ---------- q272: BPE merge-pair statistics (tokenizer training scan)

# The inner loop of byte-pair-encoding TRAINING: count adjacent
# character pairs inside every whitespace token across the corpus and
# rank merge candidates. One generator pass (token explode → in-token
# pair explode), then a map-side-combinable count — the shape that scans
# 100 TB of text once per merge round. Guard: Spark's sequence(1, n)
# generates DESCENDING when n < 1 (a [1,0] array, not empty), so
# single-char tokens must short-circuit to an empty array explicitly.
_BPE_PAIRS_ORACLE = """
WITH toks AS (
    SELECT UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS tok
    FROM documents
), pairs AS (
    SELECT SUBSTR(tok, CAST(i AS INT), 2) AS pair
    FROM toks, UNNEST(range(1, GREATEST(LEN(tok), 1))) r(i)
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
"""


@register("q272_bpe_pair_stats", oracle=_BPE_PAIRS_ORACLE)
def q272(documents):
    """Top-20 BPE merge candidates (adjacent in-token char pairs).
    Both explodes are JVM generators; the count is partial-aggregable;
    the (n DESC, pair) sort has a unique tiebreaker under LIMIT."""
    toks = documents.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.length("tok") >= 2,
                F.expr("transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))"),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# ---------- q273: deterministic cross-validation folds

# Leakage-safe 5-fold assignment: fold = md5(doc_id) mod 5 — stable
# across engines, runs, and cluster sizes (no per-partition RNG state),
# so a re-run assigns every document to the same fold. Per-fold size
# and char-mass balance check that the hash splits evenly; mean doc
# length is integer round-half-up in micro-chars.
_CV_FOLDS_ORACLE = """
WITH f AS (
    SELECT CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5
               AS INT) AS fold,
           n_chars
    FROM documents
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST((2 * CAST(SUM(n_chars) AS HUGEINT) * 1000000 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS mean_chars_micro
FROM f GROUP BY fold ORDER BY fold
"""


@register("q273_cv_folds", oracle=_CV_FOLDS_ORACLE)
def q273(documents):
    """Deterministic md5 5-fold split with per-fold balance stats.
    fold is a pure projection (no shuffle before the 5-group agg);
    conv(substr(md5)) is the repo's cross-engine hash anchor."""
    fold = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(5),
    ).cast("int")
    return (
        documents.select(fold.alias("fold"), "n_chars")
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.expr(
                "CAST("
                + rhu("CAST(SUM(n_chars) AS DECIMAL(38,0)) * 1000000", "COUNT(*)")
                + " AS BIGINT)"
            ).alias("mean_chars_micro"),
        )
        .orderBy("fold")
    )


# ---------- q274: per-source quantile normalization (feature scaling)

# Map every document length to its empirical CDF value WITHIN its
# source — the rank-based scaling used to make heterogeneous corpus
# feeds comparable before mixing (domain-robust alternative to
# z-scores). Shape: collapse to (source, n_chars) groups first (the
# aggregate is map-side combinable), then ONE window partitioned by
# source over the collapsed groups — parallel across sources, |distinct
# lengths| rows per partition, never a global value sort. CDF uses the
# inclusive count (<= x) over the source total; micro-units round-half-up
# (positive operands: Spark DIV == DuckDB //).
_QNORM_ORACLE = """
WITH g AS (
    SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY source, n_chars
), r AS (
    SELECT source, n_chars, c,
           CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum,
           CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
    FROM g
)
SELECT source, CAST(n_chars AS BIGINT) AS n_chars, CAST(c AS BIGINT) AS n_docs,
       CAST((2 * cum * 1000000 + tot) // (2 * tot) AS BIGINT) AS cdf_micro
FROM r ORDER BY source, n_chars
"""


@register("q274_quantile_normalize", oracle=_QNORM_ORACLE)
def q274(documents):
    """Within-source empirical-CDF normalization of document length
    (oracle comment has the plan shape: group-collapse, then
    source-partitioned windows — no global sort, no SinglePartition)."""
    g = documents.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    wc = Window.partitionBy("source").orderBy("n_chars")
    wt = Window.partitionBy("source")
    r = g.select(
        "source",
        "n_chars",
        "c",
        F.sum("c").over(wc).cast("bigint").alias("cum"),
        F.sum("c").over(wt).cast("bigint").alias("tot"),
    )
    return r.select(
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("c").cast("bigint").alias("n_docs"),
        F.expr(rhu("cum * 1000000", "tot")).cast("bigint").alias(
            "cdf_micro"
        ),
    ).orderBy("source", "n_chars")


# ---------- q275: distributed Gram matrix (embedding covariance input)

# X^T X over the embedding column — the reduction feeding PCA, whitening
# and linear probes. The scale shape is mapInPandas: each Arrow batch
# contributes a LOCAL 64x64 integer Gram (numpy, one BLAS-ish pass),
# and only |partitions| x 2080 upper-triangle rows cross the shuffle —
# per-element sums would shuffle |vectors| x 4096 rows. Values are
# int-quantized (round(x*1000), the q127/q244 recipe) so every partial
# is EXACT and partition order is irrelevant; products of two float32
# quantities would otherwise round differently than DuckDB's float64
# path. Output stays in integer 1e-6 units (gram_q).
_GRAM_ORACLE = """
WITH q AS (
    SELECT LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
)
SELECT CAST(a.i AS INT) AS dim_i, CAST(b.j AS INT) AS dim_j,
       CAST(SUM(v[a.i] * v[b.j]) AS BIGINT) AS gram_q
FROM q, RANGE(1, 65) a(i), RANGE(1, 65) b(j)
WHERE b.j >= a.i
GROUP BY a.i, b.j
ORDER BY dim_i, dim_j
"""


def _gram_partials(embeddings):
    """(dim_i, dim_j, gram_q) partial Gram rows, one upper triangle per
    Arrow batch — shared by q275 (exact sum) and q276 (PCA)."""
    emb = embeddings.select(
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("v")
    )

    def gram(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            m = np.asarray([np.asarray(r, dtype=np.int64) for r in pdf["v"]])
            if m.size == 0:
                continue
            g = m.T @ m  # exact: int64 products, |v|<=~4000 -> no overflow
            acc = g if acc is None else acc + g
        if acc is not None:
            i, j = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {"dim_i": i + 1, "dim_j": j + 1, "gram_q": acc[i, j]}
            ).astype({"dim_i": "int32", "dim_j": "int32", "gram_q": "int64"})

    return emb.mapInPandas(gram, "dim_i int, dim_j int, gram_q long")


@register("q275_gram_matrix", oracle=_GRAM_ORACLE)
def q275(embeddings):
    """Distributed exact Gram matrix (see oracle comment): per-batch
    numpy partials via mapInPandas, merged by a 2080-group integer sum."""
    return (
        _gram_partials(embeddings)
        .groupBy("dim_i", "dim_j")
        .agg(F.sum("gram_q").cast("bigint").alias("gram_q"))
        .orderBy("dim_i", "dim_j")
    )


# ---------- q276: PCA explained variance (driver eigensolve)

# Top-8 principal-component explained-variance ratios of the embedding
# cloud. The distributed part is q275's Gram + the per-dim sums (both
# exact integers); the eigensolve runs on the DRIVER over the 64x64
# covariance — bounded driver math, the kmeans/zonemap rule
# (operators/kmeans.py): ship O(d^2) numbers, never rows. No SQL oracle
# (eigendecomposition); the numpy property twin
# (tests/test_properties.py) checks against direct covariance of the
# collected vectors at sf0.001.
@register("q276_pca_explained", tags=("approx",))
def q276(spark, embeddings):
    import numpy as np

    gram_rows = q275(embeddings).collect()  # 2080 rows, bounded
    sums = (
        embeddings
        .select(
            F.posexplode(
                F.transform(
                    "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
                )
            ).alias("dim", "v")
        )
        .groupBy("dim")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    )
    d = max(r["dim_i"] for r in gram_rows)
    n = sums[0]["n"]
    g = np.zeros((d, d))
    for r in gram_rows:
        g[r["dim_i"] - 1, r["dim_j"] - 1] = r["gram_q"]
        g[r["dim_j"] - 1, r["dim_i"] - 1] = r["gram_q"]
    mu = np.zeros(d)
    for r in sums:
        mu[r["dim"]] = r["s"] / n
    cov = g / n - np.outer(mu, mu)  # population covariance, 1e-6 units
    ev = np.linalg.eigvalsh(cov)[::-1] / 1e6  # back to raw units
    total = float(ev.sum())
    out = [
        (k + 1, round(float(ev[k]), 6), round(float(ev[k] / total), 6))
        for k in range(8)
    ]
    return spark.createDataFrame(
        out, "component int, eigenvalue double, explained_ratio double"
    )


# ---------- q277: sorted-neighborhood ER blocking

# The third candidate-generation family for entity resolution next to
# attribute blocking (q122) and length-banded argmin (q250): sort the
# distinct-name dimension once and pair each name with its next 3
# neighbors, keeping pairs within edit distance 4. Linear candidate
# count (3·|names|) by construction — the classic sorted-neighborhood
# method. The window is ordered over the DISTINCT dimension (above the
# distinct-aggregate — dimension-sized, the allowed SinglePartition
# form).
_SNM_ORACLE = """
WITH d AS (SELECT DISTINCT p_name AS name FROM part),
w AS (
    SELECT name,
           LEAD(name, 1) OVER (ORDER BY name) AS n1,
           LEAD(name, 2) OVER (ORDER BY name) AS n2,
           LEAD(name, 3) OVER (ORDER BY name) AS n3
    FROM d
), p AS (
    SELECT name AS name_a, UNNEST([n1, n2, n3]) AS name_b FROM w
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist
FROM p
WHERE name_b IS NOT NULL AND levenshtein(name_a, name_b) <= 4
ORDER BY name_a, name_b
"""


@register("q277_sorted_neighborhood", oracle=_SNM_ORACLE)
def q277(part):
    """Sorted-neighborhood candidate pairs (window w=3, dist <= 4)."""
    d = part.select(
        F.col("p_name").alias("name")
    ).distinct()
    w = Window.orderBy("name")
    lead = d.select(
        "name", *[F.lead("name", k).over(w).alias(f"n{k}") for k in (1, 2, 3)]
    )
    p = lead.select(
        F.col("name").alias("name_a"),
        F.explode(F.array("n1", "n2", "n3")).alias("name_b"),
    ).where(F.col("name_b").isNotNull())
    return (
        p.select("name_a", "name_b", F.levenshtein("name_a", "name_b").cast("int").alias("dist"))
        .where(F.col("dist") <= 4)
        .orderBy("name_a", "name_b")
    )


# ---------- q278: feature hashing (the hashing trick)

# Fixed-width sparse featurization without a vocabulary: token ->
# bucket = h16(token) mod 256. Per-source top-5 buckets — the
# vectorizer whose memory is O(width), not O(|vocab|), so it needs no
# global dictionary build at 100 TB. h16 is the repo's cross-engine
# md5 anchor; top-k per source runs as a rank window over the
# PRE-AGGREGATED (source, bucket) counts (<= 256 rows per source) with
# a unique (count DESC, bucket) tiebreaker.
_FEATHASH_ORACLE = """
WITH toks AS (
    SELECT source,
           UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS tok
    FROM documents
), b AS (
    SELECT source,
           CAST(('0x' || SUBSTR(MD5(tok), 1, 4))::INT % 256 AS INT) AS bucket,
           COUNT(*) AS c
    FROM toks GROUP BY source, bucket
), r AS (
    SELECT source, bucket, c,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, bucket) AS rn
    FROM b
)
SELECT source, bucket, CAST(c AS BIGINT) AS n_tokens
FROM r WHERE rn <= 5 ORDER BY source, n_tokens DESC, bucket
"""


@register("q278_feature_hashing", oracle=_FEATHASH_ORACLE)
def q278(documents):
    """Hashing-trick bucket histogram, top-5 buckets per source."""
    toks = documents.select("source", F.explode(T.tokens(F.col("text"))).alias("tok"))
    b = toks.select(
        "source", F.pmod(T.h16(F.col("tok")), F.lit(256)).alias("bucket")
    ).groupBy("source", "bucket").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "bucket")
    return (
        b.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "bucket", F.col("c").cast("bigint").alias("n_tokens"))
        .orderBy("source", F.col("n_tokens").desc(), "bucket")
    )


# ---------- q279: Kneser-Ney bigram LM (exact quarter-count arithmetic)

# Interpolated Kneser-Ney with absolute discount D = 0.75 — the n-gram
# LM that data-quality perplexity filters (q110) and contamination
# probes are built on. D = 3/4 makes every term an EXACT rational in
# quarter counts:
#   P(w2|w1) = max(4c12−3, 0)/(4·c1) + 3·N1+(w1•)/(4·c1) · N1+(•w2)/T
#            = [max(4c12−3, 0)·T + 3·N1fwd(w1)·N1bwd(w2)] / (4·c1·T)
# (T = distinct bigram types). Context stats come from windows
# PARTITIONED by w1 / by w2 over the collapsed bigram-type frame (never
# token volume); T broadcasts as a 1-row aggregate. Output: the 30 most
# frequent bigrams (unique (c DESC, w1, w2) tiebreak) with p in
# round-half-up micro units — numerators ~4e17 at sf0.1, carried as
# HUGEINT/DECIMAL(38) for headroom.
_KN_ORACLE = """
WITH toks AS (
    SELECT LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS l
    FROM documents
), bg AS MATERIALIZED (
    SELECT l[CAST(i AS INT)] AS w1, l[CAST(i AS INT) + 1] AS w2, COUNT(*) AS c
    FROM toks, UNNEST(range(1, GREATEST(LEN(l), 1))) r(i)
    GROUP BY 1, 2
), ctx AS (
    SELECT w1, w2, c,
           SUM(c)    OVER (PARTITION BY w1) AS c1,
           COUNT(*)  OVER (PARTITION BY w1) AS n1fwd,
           COUNT(*)  OVER (PARTITION BY w2) AS n1bwd
    FROM bg
), t AS MATERIALIZED (SELECT CAST(COUNT(*) AS HUGEINT) AS types FROM bg)
SELECT w1, w2, CAST(c AS BIGINT) AS n,
       CAST((2 * (GREATEST(4 * CAST(c AS HUGEINT) - 3, 0) * types
                  + 3 * CAST(n1fwd AS HUGEINT) * CAST(n1bwd AS HUGEINT)) * 1000000
             + 4 * CAST(c1 AS HUGEINT) * types)
            // (2 * 4 * CAST(c1 AS HUGEINT) * types) AS BIGINT) AS p_kn_micro
FROM ctx, t
ORDER BY n DESC, w1, w2 LIMIT 30
"""


@register("q279_kn_bigram_lm", oracle=_KN_ORACLE)
def q279(documents):
    """Kneser-Ney bigram probabilities (oracle comment has the exact
    quarter-count identity). One token pass builds bigram types; all
    context statistics are windows over the TYPE frame."""
    toks = documents.select(T.tokens(F.col("text")).alias("l"))
    bg = (
        toks.select(F.explode(T.shingles(F.col("l"), 2)).alias("s"))
        .select(
            F.split(F.col("s"), " ").getItem(0).alias("w1"),
            F.split(F.col("s"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    d38 = "decimal(38,0)"
    ctx = bg.select(
        "w1",
        "w2",
        "c",
        F.sum("c").over(Window.partitionBy("w1")).cast(d38).alias("c1"),
        F.count("*").over(Window.partitionBy("w1")).cast(d38).alias("n1fwd"),
        F.count("*").over(Window.partitionBy("w2")).cast(d38).alias("n1bwd"),
    )
    t = bg.agg(F.count("*").cast(d38).alias("types"))
    return (
        ctx.crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n"),
            F.expr(
                "CAST(" + rhu(
                    "(GREATEST(4 * CAST(c AS DECIMAL(38,0)) - 3, CAST(0"
                    " AS DECIMAL(38,0))) * types + 3 * n1fwd * n1bwd) * 1000000",
                    "4 * c1 * types",
                ) + " AS BIGINT)"
            ).alias("p_kn_micro"),
        )
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(30)
    )


# ---------- q280: SemDeDup (embedding-cluster semantic dedup)

# The SemDeDup recipe (Abbas et al. 2023): bucket vectors with a coarse
# quantizer, find high-cosine pairs WITHIN buckets only, connect them
# into duplicate groups, keep one representative per group. Reuses
# q51's within-label pair stage (precomputed norms, rounded sims) and
# the pointer-doubling CC operator; representative = min vec_id, so
# labels are engine-independent. Quadratic work is confined to buckets
# — the same scale posture as IVF — and the CC loop shuffles only edge
# endpoints. Oracle: identical pair SQL + a recursive-CTE min-label
# walk (the q152 pattern).
_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE vecs AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), sims AS MATERIALIZED (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM vecs a JOIN vecs b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({cosine_duck('a.e', 'b.e')}, 4) > 0.3
), und AS MATERIALIZED (
    SELECT vec_a AS src, vec_b AS dst FROM sims
    UNION SELECT vec_b, vec_a FROM sims
), walk(node, label) AS (
    SELECT DISTINCT src, src FROM und
    UNION
    SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
), cc AS MATERIALIZED (
    SELECT node AS vec_id, MIN(label) AS rep FROM walk GROUP BY node
)
SELECT e.vec_id,
       CAST(COALESCE(cc.rep, e.vec_id) AS BIGINT) AS rep,
       CAST(CASE WHEN cc.rep IS NULL OR cc.rep = e.vec_id THEN 1 ELSE 0 END AS INT) AS keep
FROM embeddings e LEFT JOIN cc ON cc.vec_id = e.vec_id
ORDER BY e.vec_id
"""


@register("q280_semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def q280(embeddings):
    """SemDeDup keep/drop decisions (oracle comment). Pairs from q51's
    bucketed stage; groups from pointer-doubling CC; singletons keep
    themselves via the left join."""
    from .llm import q51

    pairs = q51(embeddings).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cc = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("component").alias("rep0")
    )
    e = embeddings.select("vec_id")
    return (
        e.join(cc, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("rep0", F.col("vec_id")).cast("bigint").alias("rep"),
            F.when(
                F.col("rep0").isNull() | (F.col("rep0") == F.col("vec_id")), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("vec_id")
    )


# ---------- q281: preference-pair mining (DPO/RLHF data prep)

# Build (chosen, rejected) training pairs per source: rank documents by
# an integer quality proxy (stopword ratio in round-half-up micro
# units — fluent English has a high function-word share) and pair the
# i-th best with the i-th worst, i = 1..3. Both rankings use the
# unique (score, doc_id) tiebreak, so the pairing is deterministic;
# windows are PARTITIONED by source; margins stay integer.
_PREF_ORACLE = """
WITH q AS (
    SELECT source, doc_id,
           CAST((2 * CAST(LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '),
                        t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
                   AS HUGEINT) * 1000000
                 + LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)))
                // (2 * LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)))
                AS BIGINT) AS score
    FROM documents
    WHERE LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) > 0
), r AS MATERIALIZED (
    SELECT source, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rb,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY score ASC, doc_id) AS rw
    FROM q
)
SELECT b.source, CAST(b.rb AS INT) AS pair_rank,
       b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
       CAST(b.score - w.score AS BIGINT) AS margin_micro
FROM r b JOIN r w ON w.source = b.source AND w.rw = b.rb
WHERE b.rb <= 3
ORDER BY b.source, pair_rank
"""


@register("q281_preference_pairs", oracle=_PREF_ORACLE)
def q281(documents):
    """Top-vs-bottom preference pairs per source (oracle comment)."""
    tk = T.tokens(F.col("text"))
    q = documents.select("source", "doc_id", tk.alias("tk")).where(F.size("tk") > 0)
    q = q.select(
        "source",
        "doc_id",
        F.expr(
            "CAST(" + rhu(
                "CAST(size(filter(tk, t -> t IN"
                " ('the','a','an','and','or','of','to','in','is','it')))"
                " AS DECIMAL(38,0)) * 1000000",
                "size(tk)",
            ) + " AS BIGINT)"
        ).alias("score"),
    )
    rb = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
    )
    rw = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("score").asc(), "doc_id")
    )
    r = q.select("source", "doc_id", "score", rb.alias("rb"), rw.alias("rw"))
    b = r.where(F.col("rb") <= 3).select(
        "source",
        F.col("rb").cast("int").alias("pair_rank"),
        F.col("doc_id").alias("chosen_doc"),
        F.col("score").alias("bs"),
    )
    w = r.select(
        F.col("source").alias("wsource"),
        F.col("rw").alias("wr"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("score").alias("ws"),
    )
    return (
        b.join(
            w,
            (F.col("wsource") == F.col("source")) & (F.col("wr") == F.col("pair_rank")),
        )
        .select(
            "source",
            "pair_rank",
            "chosen_doc",
            "rejected_doc",
            (F.col("bs") - F.col("ws")).cast("bigint").alias("margin_micro"),
        )
        .orderBy("source", "pair_rank")
    )


# ---------- q283: stratified train/test split (per-stratum ratio audit)

# Deterministic 80/20 split WITHIN every (source, lang) stratum —
# fold-hash on doc_id (q273's anchor) so re-runs and engines agree —
# plus the ratio audit that catches strata too small to split. Pure
# projection + one map-side-combinable aggregate.
_STRAT_ORACLE = """
WITH s AS (
    SELECT source, lang,
           CASE WHEN ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 = 0
                THEN 1 ELSE 0 END AS is_test
    FROM documents
)
SELECT source, lang,
       CAST(SUM(1 - is_test) AS BIGINT) AS n_train,
       CAST(SUM(is_test) AS BIGINT) AS n_test,
       CAST((2 * CAST(SUM(is_test) AS HUGEINT) * 1000000 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS test_share_micro
FROM s GROUP BY source, lang ORDER BY source, lang
"""


@register("q283_stratified_split", oracle=_STRAT_ORACLE)
def q283(documents):
    """Stratified deterministic split audit (oracle comment)."""
    is_test = F.when(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(5),
        )
        == 0,
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        documents.select("source", "lang", is_test.alias("is_test"))
        .groupBy("source", "lang")
        .agg(
            F.sum(1 - F.col("is_test")).cast("bigint").alias("n_train"),
            F.sum("is_test").cast("bigint").alias("n_test"),
            F.expr(
                "CAST("
                + rhu("CAST(SUM(is_test) AS DECIMAL(38,0)) * 1000000", "COUNT(*)")
                + " AS BIGINT)"
            ).alias("test_share_micro"),
        )
        .orderBy("source", "lang")
    )


# ---------- q282: MMR diversified re-ranking (retrieval stack)

# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedily
# pick k=5 of the top-20 candidates maximizing
#   mmr(c) = 0.5·sim(c, query) − 0.5·max_{s∈Selected} sim(c, s),
# the diversification pass that sits after q105/q106/q107 in a
# retrieval stack. The DISTRIBUTED work is candidate generation (full
# scan → rounded-cosine top-20 with the unique (sim DESC, vec_id)
# tiebreak — at 100 TB this is the IVF/LSH path of q52/q135); the
# greedy loop then runs on the DRIVER over the 20×20 rounded-sim
# matrix — bounded math, the kmeans-centroid rule, never an iterative
# shuffle. Rounded(4) sims + id tiebreaks make every greedy choice
# engine-deterministic. No SQL oracle (greedy argmax is iterative);
# the property twin replays the same greedy over DuckDB-computed sims.
@register("q282_mmr_rerank", tags=("approx",))
def q282(spark, embeddings):
    from ..functions import vectors as V

    qv = embeddings.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "embedding", V.cosine(F.col("embedding"), F.col("qe")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(20)
    )
    cands = scored.select("vec_id", "embedding", "rel")
    a = cands.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = cands.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    simmat = {
        (r["ia"], r["ib"]): r["s"]
        for r in a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select("ia", "ib", V.cosine(F.col("ea"), F.col("eb")).alias("s"))
        .collect()  # 190 rows — bounded driver traffic
    }
    rel = {r["vec_id"]: r["rel"] for r in cands.select("vec_id", "rel").collect()}

    def pair(i, j):
        return simmat[(i, j) if i < j else (j, i)]

    selected: list[int] = []
    rows = []
    for rank in range(1, 6):
        best = None
        for c in sorted(rel):
            if c in selected:
                continue
            div = max((pair(c, s) for s in selected), default=0.0)
            score = round(0.5 * rel[c] - 0.5 * div, 4)
            # unique (score DESC, vec_id ASC) argmax
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c, score)
        if best is None:  # fewer candidates than k: return the shorter ranking
            break
        selected.append(best[1])
        rows.append((rank, best[1], rel[best[1]], best[2]))
    return spark.createDataFrame(
        rows, "rank int, vec_id bigint, rel_sim double, mmr_score double"
    )


# ---------- q286: k-NN graph construction (bucketed, k=5)

# The directed k-nearest-neighbor graph over embeddings — the input
# structure for graph-based ANN indexes (HNSW layers), label
# propagation, and q253-style BFS analytics. Candidates are confined to
# the coarse-quantizer bucket (label), like q51/q280: quadratic only
# within buckets, top-k per vector via one rank window over the
# within-bucket pair frame (WindowGroupLimit pushes k=5 down). Rounded
# (4) sims + vec_b tiebreak make ranks engine-deterministic.
_KNN_ORACLE = f"""
WITH vecs AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), p AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({cosine_duck('a.e', 'b.e')}, 4) AS sim
    FROM vecs a JOIN vecs b
      ON a.label = b.label AND a.vec_id <> b.vec_id
), r AS (
    SELECT vec_a, vec_b, sim,
           ROW_NUMBER() OVER (PARTITION BY vec_a ORDER BY sim DESC, vec_b) AS rank
    FROM p
)
SELECT vec_a, CAST(rank AS INT) AS rank, vec_b, sim
FROM r WHERE rank <= 5 ORDER BY vec_a, rank
"""


@register("q286_knn_graph", oracle=_KNN_ORACLE)
def q286(embeddings):
    """Same-label k-NN graph, k=5, via the distributed block-matmul
    kernel (operators/similarity.knn_block_topk, same_label_only):
    each (label × anchor-block × candidate-block) cell is one NumPy
    matmul bounded by KNN_BLOCK_SIZE, so per-task memory and pair
    volume stay bounded as labels densify — the row-expanded
    same-label join this replaced materialized Σ n_label² pair ROWS
    through the shuffle (measured 90x at 10x data, BENCH_SF1 r9).
    Ranking contract identical (round(cos,4) DESC, vec_b ASC), so the
    unchanged all-pairs oracle proves the kernel exact."""
    from ..operators.similarity import knn_block_topk

    topk = knn_block_topk(embeddings, k=5, same_label_only=True)
    w = Window.partitionBy("anchor").orderBy(F.col("sim").desc(), "neighbor")
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(
            F.col("anchor").alias("vec_a"),
            F.col("rank").cast("int").alias("rank"),
            F.col("neighbor").alias("vec_b"),
            "sim",
        )
        .orderBy("vec_a", "rank")
    )


# ---------- q287: day-of-week seasonal index (multiplicative profile)

# index(dow) = mean revenue on that weekday / overall mean — the
# multiplicative seasonal profile that q233's anomaly detector and
# q270's ACF peaks both presuppose. Exact rational:
# (sum_d · n) / (n_d · sum) in round-half-up micro units (all operands
# positive BIGINT/HUGEINT). DAYOFWEEK differs across engines (Spark:
# Sunday=1; DuckDB dayofweek: Sunday=0) — both sides use the
# engine-neutral epoch-day mod 7 (1970-01-01 was a THURSDAY; 0=Thu).
_SEASONAL_IDX_ORACLE = _DAILY_CTE + """
, d AS MATERIALIZED (
    SELECT CAST(EPOCH_MS(CAST(day AS TIMESTAMP)) // 86400000 % 7 AS INT) AS dow7,
           cents
    FROM daily
), t AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS s FROM d
)
SELECT dow7,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST((2 * CAST(SUM(cents) AS HUGEINT) * n * 1000000 + COUNT(*) * s)
            // (2 * COUNT(*) * s) AS BIGINT) AS index_micro
FROM d, t
GROUP BY dow7, n, s ORDER BY dow7
"""


@register("q287_seasonal_index", oracle=_SEASONAL_IDX_ORACLE)
def q287(orders):
    """Weekday seasonal index in exact integer arithmetic (oracle
    comment; epoch-day mod 7 sidesteps the engines' DAYOFWEEK origin
    mismatch)."""
    daily = _daily_cents(orders)
    d38 = "decimal(38,0)"
    d = daily.select(
        F.pmod(F.unix_date(F.col("day").cast("date")), F.lit(7)).cast("int").alias("dow7"),
        "cents",
    )
    t = d.agg(
        F.count("*").cast(d38).alias("n"), F.sum("cents").cast(d38).alias("s")
    )
    return (
        d.groupBy("dow7")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            "dow7",
            "n_days",
            "sum_cents",
            F.expr(
                "CAST(" + rhu(
                    "CAST(sum_cents AS DECIMAL(38,0)) * n * 1000000",
                    "CAST(n_days AS DECIMAL(38,0)) * s",
                ) + " AS BIGINT)"
            ).alias("index_micro"),
        )
        .orderBy("dow7")
    )


# ---------- q288: CUSUM changepoint detection (exact integer)

# Where did the daily-revenue level shift? The CUSUM statistic
# C_t = Σ_{i<=t}(x_i − x̄) peaks at the changepoint; multiplying by n
# clears the mean exactly: n·C_t = n·prefix_t − t·S (all integers, no
# FP). Output = the top-3 |n·C_t| days (unique (|nC| DESC, day)
# tiebreak) plus the signed statistic — prefix sums via ONE ordered
# window over the |days| aggregate. |n·C_t| ~ n·Σ ~ 1e4·1e13 = 1e17 at
# sf0.1 — BIGINT-safe, DECIMAL(38)/HUGEINT for headroom.
_CUSUM_ORACLE = _DAILY_CTE + """
, p AS (
    SELECT day,
           CAST(SUM(cents) OVER (ORDER BY day) AS HUGEINT) AS pre,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS t
    FROM daily
), tot AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(cents) AS HUGEINT) AS s FROM daily
), c AS (
    SELECT day, CAST(n * pre - t * s AS HUGEINT) AS nc FROM p, tot
)
SELECT day,
       CAST(nc AS BIGINT) AS ncusum,
       CAST(ABS(nc) AS BIGINT) AS abs_ncusum
FROM c ORDER BY abs_ncusum DESC, day LIMIT 3
"""


def _cusum(orders):
    """(day, nc, n): the n-scaled CUSUM n·C_t = n·prefix_t − t·S of daily
    revenue over n days, in DECIMAL(38,0); q288 and q484 rank it."""
    daily = _daily_cents(orders)
    d38 = "decimal(38,0)"
    w = Window.orderBy("day")
    p = daily.select(
        "day",
        F.sum("cents").over(w).cast(d38).alias("pre"),
        F.row_number().over(w).cast(d38).alias("t"),
    )
    tot = daily.agg(
        F.count("*").cast(d38).alias("n"), F.sum("cents").cast(d38).alias("s")
    )
    return p.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("pre") - F.col("t") * F.col("s")).alias("nc"), "n"
    )


@register("q288_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q288(orders):
    """Top-3 CUSUM changepoint candidates (oracle comment): exact
    integer n-scaled CUSUM, one ordered window above the daily
    aggregate, unique (|nC| DESC, day) tiebreak under the LIMIT."""
    return (
        _cusum(orders)
        .select(
            "day",
            F.col("nc").cast("bigint").alias("ncusum"),
            F.abs("nc").cast("bigint").alias("abs_ncusum"),
        )
        .orderBy(F.col("abs_ncusum").desc(), "day")
        .limit(3)
    )


# ---------- q289: greedy max-coverage source selection (data valuation)

# "Which k corpus sources buy the most distinct content?" — the greedy
# set-cover heuristic behind data-mixing and budget-constrained corpus
# selection (each step picks the source adding the most NOT-yet-covered
# 3-gram shingles; the classic (1−1/e) approximation). Iterative by
# nature (no SQL oracle): k=3 rounds, each ONE distributed anti-join of
# the (source, shingle) frame against the covered-shingle set plus an
# 8-row argmax on the driver (sources are a dimension); the covered set
# is pinned per round like BFS frontiers. The property twin
# replays the greedy from raw Python shingle sets.
@register("q289_greedy_source_cover", tags=("approx",))
def q289(spark, documents):
    sh = (
        documents.select(
            "source",
            F.explode_outer(T.shingles(T.tokens(F.col("text")), 3)).alias("s"),
        )
        .where(F.col("s").isNotNull())
        .select("source", T.shingle_hash60(F.col("s")).alias("h"))
        .distinct()
        .transform(pin)
    )
    covered = None
    rows, picked = [], []
    for step in range(1, 4):
        remaining = sh.where(~F.col("source").isin(picked)) if picked else sh
        gain = (
            remaining.join(covered, "h", "left_anti") if covered is not None else remaining
        )
        counts = {
            r["source"]: r["g"]
            for r in gain.groupBy("source").agg(F.count("*").alias("g")).collect()
        }  # |sources| rows — bounded driver traffic
        if not counts:
            break
        best = min(counts, key=lambda s: (-counts[s], s))
        picked.append(best)
        newly = sh.where(F.col("source") == best).select("h")
        covered = (
            newly if covered is None else covered.unionByName(newly).distinct()
        ).transform(pin)
        rows.append((step, best, int(counts[best]), covered.count()))
    return spark.createDataFrame(
        rows, "step int, source string, new_shingles bigint, covered_total bigint"
    )


# ---------- q290: lag-feature matrix (forecasting feature prep)

# The standard supervised-forecasting frame: per day, the target plus
# lag-1/7/28 values and the trailing-7 mean — one ordered window pass
# over the |days| aggregate, NULL where history is short (the model's
# mask column), integer round-half-up for the mean.
_LAGFEAT_ORACLE = _DAILY_CTE + """
SELECT day, cents,
       LAG(cents, 1)  OVER w AS lag1,
       LAG(cents, 7)  OVER w AS lag7,
       LAG(cents, 28) OVER w AS lag28,
       CASE WHEN COUNT(*) OVER f = 7
            THEN CAST((2 * CAST(SUM(cents) OVER f AS HUGEINT) + 7) // 14 AS BIGINT)
       END AS ma7_cents
FROM daily
WINDOW w AS (ORDER BY day),
       f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


@register("q290_lag_features", oracle=_LAGFEAT_ORACLE)
def q290(orders):
    """Lag/rolling feature frame for forecasting (oracle comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day")
    f = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "cents",
        F.lag("cents", 1).over(w).alias("lag1"),
        F.lag("cents", 7).over(w).alias("lag7"),
        F.lag("cents", 28).over(w).alias("lag28"),
        F.when(
            F.count("*").over(f) == 7,
            F.expr("(2 * CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) + 7) DIV 14"),
        )
        .cast("bigint")
        .alias("ma7_cents"),
    ).orderBy("day")


# ---------- q291: weighted median (per-brand, quantity-weighted)

# The lower weighted median of extended price per brand, weighted by
# quantity — the robust "typical shipped price" (an unweighted median
# over line items would over-count small orders). Lower-median rule:
# the smallest value v with 2·cumweight(v) >= W — a pure integer
# comparison, no interpolation, so it is engine-exact with no FLOOR
# convention needed. Plan: collapse to (brand, cents) groups first
# (map-side combinable), then brand-PARTITIONED cumulative windows —
# parallel across the 25-brand dimension, never a global value sort.
_WMEDIAN_ORACLE = """
WITH g AS (
    SELECT p.p_brand AS brand,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CAST(SUM(l.l_quantity) AS BIGINT) AS w
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
), r AS (
    SELECT brand, cents, w,
           CAST(SUM(w) OVER (PARTITION BY brand ORDER BY cents) AS BIGINT) AS cumw,
           CAST(SUM(w) OVER (PARTITION BY brand) AS BIGINT) AS tot
    FROM g
)
SELECT brand,
       CAST(MAX(tot) AS BIGINT) AS w_total,
       CAST(MIN(CASE WHEN 2 * cumw >= tot THEN cents END) AS BIGINT) AS wmedian_cents
FROM r GROUP BY brand ORDER BY brand
"""


@register("q291_weighted_median", oracle=_WMEDIAN_ORACLE)
def q291(lineitem, part):
    """Quantity-weighted lower median per brand (oracle comment)."""
    g = (
        lineitem
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            cents("l_extendedprice").alias("cents"),
            "l_quantity",
        )
        .groupBy("brand", "cents")
        .agg(F.sum("l_quantity").cast("bigint").alias("w"))
    )
    r = g.select(
        "brand",
        "cents",
        F.sum("w").over(Window.partitionBy("brand").orderBy("cents")).cast("bigint").alias("cumw"),
        F.sum("w").over(Window.partitionBy("brand")).cast("bigint").alias("tot"),
    )
    return (
        r.groupBy("brand")
        .agg(
            F.max("tot").cast("bigint").alias("w_total"),
            F.min(F.when(2 * F.col("cumw") >= F.col("tot"), F.col("cents")))
            .cast("bigint")
            .alias("wmedian_cents"),
        )
        .orderBy("brand")
    )


# ---------- q292: Theil-Sen robust trend slope (daily revenue)

# Median of all pairwise slopes — the robust alternative to q231's OLS
# (a few anomalous days cannot move it). The pairwise stage is
# quadratic in the TIME DIMENSION only (|days|² ≈ 1.4M at sf0.1; days
# grow ~linearly in wall-clock time, never with fact volume — the same
# dimension-quadratic posture as q250's name dimension, stated
# honestly). Per-pair slope is integer round-half-up micro (slopes can
# be negative -> +SHIFT·di keeps operands positive; di >= 1); the
# median of those integers uses the q80/q209 floor-truncate recipe.
_THEILSEN_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
), p AS (
    SELECT CAST(b.cents - a.cents AS HUGEINT) AS dc,
           CAST(b.i - a.i AS HUGEINT) AS di
    FROM idx a JOIN idx b ON b.i > a.i
), s AS (
    SELECT CAST((2 * (dc + 10000000000 * di) * 1000000 + di) // (2 * di)
                - 10000000000 * 1000000 AS BIGINT) AS slope_micro
    FROM p
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(FLOOR(QUANTILE_CONT(slope_micro, 0.5)) AS BIGINT) AS ts_slope_micro
FROM s
"""


@register("q292_theil_sen", oracle=_THEILSEN_ORACLE)
def q292(spark, orders):
    """Theil-Sen slope of daily revenue (oracle comment).

    Precondition: ``daily`` has >= 2 rows (so >= 1 pair). On an empty
    pair set this histogram form returns n_pairs NULL (the oracle's
    COUNT(*) form returns 0) — every committed SF satisfies the
    precondition by construction (lineitem always spans years of
    shipdates), so the edge is declared rather than papered over.
    """
    daily = _daily_cents(orders)
    # pinned: idx feeds BOTH sides of the pair join — without the
    # checkpoint the orders aggregate + global row_number window run
    # twice (guide §2.4; the before-plan holds two copies of the
    # scan->aggregate->window subtree)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("i")
    ).transform(pin)
    a = idx.select(F.col("cents").alias("ca"), F.col("i").alias("ia"))
    b = idx.select(F.col("cents").alias("cb"), F.col("i").alias("ib"))
    # BIGINT throughout: floor((2e6*dc + di) / (2*di)) == the oracle's
    # shifted form, but via the PMOD floor-division identity instead of a
    # positive shift — the shift needed DECIMAL(38,0) operands, which
    # kept the 2.9M-pair stage out of cheap codegen arithmetic (measured
    # 3.9s -> 0.5s for the pair+slope stage at sf0.01)
    # the |days|-row streamed side is ONE partition (it exits a global
    # row_number window), so the nested-loop pair expansion — and with
    # it the slope pin below and every scan of it — ran single-task;
    # round-robin it across the cores and pin the broadcast side so the
    # quadratic expansion parallelizes (guide §2.6: the BNLJ task was
    # the straggler holding 31 cores idle)
    a = a.repartition(spark.sparkContext.defaultParallelism)
    p = a.join(F.broadcast(b), F.col("ib") > F.col("ia")).select(
        (F.col("cb") - F.col("ca")).alias("dc"),
        (F.col("ib") - F.col("ia")).alias("di"),
    )
    s = p.select(
        F.expr(
            f"CAST({floor_rhu('1000000 * dc', 'di')} AS BIGINT)"
        ).alias("slope_micro")
    )
    # exact floor-interpolated median WITHOUT `percentile` (which
    # single-threads a 2.9M-value sort-merge on the driver side and
    # dominated the query at ~10s of 13s) and WITHOUT the r11 slope
    # histogram (slopes are micro-precision and ~ALL DISTINCT — measured
    # 2,890,779 distinct of 2,890,810 pairs at sf0.1 — so groupBy(slope)
    # compressed nothing: the hash aggregate + the single-partition
    # cumulative sort of 2.9M rows were the whole residual, 5.4s vs the
    # 0.7s pair stage). r12 session 3: DISTRIBUTED exact selection —
    # range-partition the pinned slope column into count-balanced
    # partitions (sampling-based boundaries; equal-WIDTH bucketing was
    # tried first and measured useless — the slope distribution is so
    # peaked that one 2^40-wide bucket held 2.37M of the 2.9M rows),
    # take per-PARTITION counts (a P-row frame) to find which partition
    # holds each target rank, and sort only that partition's ~n/P rows.
    # Partition boundaries vary with the sampling, but the rank
    # arithmetic below is exact for ANY boundaries, so the output is
    # deterministic. The single-partition pieces are now P rows and one
    # ~n/P-row slice (guide §2.3/§5: no single-task sort may scale with
    # the quadratic pair volume).
    s_ck = pin(s)  # one barrier; the range sampling pass,
    # the range shuffle and the target-slice scan all read its blocks
    P = spark.sparkContext.defaultParallelism
    rp = (
        s_ck.repartitionByRange(P, "slope_micro")
        .withColumn("pid", F.spark_partition_id())
        .transform(pin)  # counts pass + target scan share
        # the shuffled layout (and the pid column must be computed once:
        # a re-run could legally renumber partitions)
    )
    pc = rp.groupBy("pid").agg(F.count("*").cast("bigint").alias("k"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cumb = pc.select(
        "pid",
        "k",
        F.sum("k").over(Window.orderBy("pid")).alias("cm"),
        F.sum("k").over(wall).alias("n"),
    )
    # ONE aggregate picks, per target rank, the partition holding it AND
    # the cumulative count BEFORE it (struct min orders by the leading
    # pid); the residual rank inside the partition is rank - cprev.
    tgt = cumb.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.min(
            F.when(
                F.col("cm") >= F.expr("(n + 1) DIV 2"),
                F.struct(F.col("pid"), (F.col("cm") - F.col("k")).alias("cprev")),
            )
        ).alias("tlo"),
        F.min(
            F.when(
                F.col("cm") >= F.expr("n DIV 2 + 1"),
                F.struct(F.col("pid"), (F.col("cm") - F.col("k")).alias("cprev")),
            )
        ).alias("thi"),
    )
    # within the (at most two) target partitions, the exact pick is a
    # cumulative count over ~n/P rows — duplicates handled exactly as
    # the r11 histogram form did, by >= on the RANGE-frame cumulative
    inb = rp.crossJoin(F.broadcast(tgt)).where(
        (F.col("pid") == F.col("tlo.pid")) | (F.col("pid") == F.col("thi.pid"))
    )
    cumv = inb.select(
        "slope_micro",
        "n_pairs",
        "tlo",
        "thi",
        F.sum(F.lit(1))
        .over(Window.partitionBy("pid").orderBy("slope_micro"))
        .alias("cm"),
        F.col("pid").alias("vp"),
    )
    picks = cumv.agg(
        F.max("n_pairs").alias("n_pairs"),
        F.min(
            F.when(
                (F.col("vp") == F.col("tlo.pid"))
                & (F.col("cm") >= F.expr("(n_pairs + 1) DIV 2") - F.col("tlo.cprev")),
                F.col("slope_micro"),
            )
        ).alias("vlo"),
        F.min(
            F.when(
                (F.col("vp") == F.col("thi.pid"))
                & (F.col("cm") >= F.expr("n_pairs DIV 2 + 1") - F.col("thi.cprev")),
                F.col("slope_micro"),
            )
        ).alias("vhi"),
    )
    return picks.select(
        "n_pairs",
        F.expr(
            "CAST((vlo + vhi + 2 * 100000000000000000) DIV 2"
            " - 100000000000000000 AS BIGINT)"
        ).alias("ts_slope_micro"),
    )


# ---------- q293: distinctive terms per source (corpus keyness)

# Which terms are over-represented in each source vs the whole corpus?
# lift(term, src) = rate_in_source / rate_overall as the exact rational
# (c_st·N) / (n_s·c_t) in round-half-up micro units — the keyness scan
# behind corpus cards and contamination triage. Counts collapse to the
# (source, term) TYPE frame before any window; min support 20 kills the
# long-tail noise; top-5 per source by (lift DESC, term) rank window
# over the pre-aggregated frame.
_KEYNESS_ORACLE = """
WITH tok AS (
    SELECT source,
           UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
    FROM documents
), st AS MATERIALIZED (
    SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY source, term
), s AS (
    SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source
), t AS MATERIALIZED (
    SELECT term, SUM(c_st) AS c_t FROM st GROUP BY term
), n AS MATERIALIZED (SELECT SUM(c_st) AS big_n FROM st
), lifted AS (
    SELECT st.source, st.term, st.c_st,
           CAST((2 * CAST(st.c_st AS HUGEINT) * big_n * 1000000
                 + CAST(n_s AS HUGEINT) * c_t)
                // (2 * CAST(n_s AS HUGEINT) * c_t) AS BIGINT) AS lift_micro
    FROM st JOIN s USING (source) JOIN t USING (term), n
    WHERE st.c_st >= 20
), r AS (
    SELECT source, term, c_st, lift_micro,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY lift_micro DESC, term) AS rn
    FROM lifted
)
SELECT source, term, CAST(c_st AS BIGINT) AS n, lift_micro
FROM r WHERE rn <= 5 ORDER BY source, lift_micro DESC, term
"""


@register("q293_distinctive_terms", oracle=_KEYNESS_ORACLE)
def q293(documents):
    """Top-5 keyness terms per source by exact-rational lift (oracle
    comment)."""
    tok = documents.select("source", F.explode(T.tokens(F.col("text"))).alias("term"))
    # pinned: st feeds s, t, n AND the lift join — unpinned, the
    # tokenize+explode pass runs four times (guide §2.4; before-plan: 9
    # Exchanges)
    st = (
        tok.groupBy("source", "term")
        .agg(F.count("*").alias("c_st"))
        .transform(pin)
    )
    d38 = "decimal(38,0)"
    s = st.groupBy("source").agg(F.sum("c_st").cast(d38).alias("n_s"))
    t = st.groupBy("term").agg(F.sum("c_st").cast(d38).alias("c_t"))
    n = st.agg(F.sum("c_st").cast(d38).alias("big_n"))
    lifted = (
        st.where(F.col("c_st") >= 20)
        .join(s, "source")
        .join(t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            "c_st",
            F.expr(
                "CAST("
                + rhu("CAST(c_st AS DECIMAL(38,0)) * big_n * 1000000", "n_s * c_t")
                + " AS BIGINT)"
            ).alias("lift_micro"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("lift_micro").desc(), "term")
    return (
        lifted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "term", F.col("c_st").cast("bigint").alias("n"), "lift_micro")
        .orderBy("source", F.col("lift_micro").desc(), "term")
    )


# ---------- q294: degree assortativity of the candidate graph (sqrt-free)

# Do high-degree documents pair with other high-degree documents in the
# LSH candidate graph? Degree assortativity is the Pearson correlation
# over edge-endpoint degree pairs — reported here WITHOUT its square
# root: sign(cov) and r² = cov²/(var_x·var_y) are EXACT RATIONALS of
# integer moments (each edge contributes both orientations, so
# var_x = var_y and the moments are symmetric), while r itself needs a
# sqrt that re-opens FP divergence. All sums live on the EDGE dimension
# (candidate pairs, a few percent of the corpus). Integer identity:
#   cov·m²  = m·Σxy − Sx·Sy,  var·m² = m·Σx² − Sx²   (m = 2·|edges|)
# r² in round-half-up micro units; magnitudes ~1e20 at sf0.1 →
# DECIMAL(38)/HUGEINT.
_ASSORT_ORACLE = _MINHASH_CTE + _BANDS_CTE + """
, pairs AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
), und AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
), deg AS MATERIALIZED (
    SELECT u AS node, CAST(COUNT(*) AS HUGEINT) AS d FROM und GROUP BY u
), ed AS (
    SELECT du.d AS x, dv.d AS y
    FROM und JOIN deg du ON du.node = und.u JOIN deg dv ON dv.node = und.v
), mom AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS m,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(x*y) AS HUGEINT) AS sxy,
           CAST(SUM(x*x) AS HUGEINT) AS sxx, CAST(SUM(y*y) AS HUGEINT) AS syy
    FROM ed
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       CAST(CASE WHEN m*sxy > sx*sy THEN 1 WHEN m*sxy < sx*sy THEN -1 ELSE 0 END AS INT)
           AS r_sign,
       CAST((2 * (m*sxy - sx*sy) * (m*sxy - sx*sy) * 1000000
             + (m*sxx - sx*sx) * (m*syy - sy*sy))
            // (2 * (m*sxx - sx*sx) * (m*syy - sy*sy)) AS BIGINT) AS r2_micro
FROM mom
"""


@register("q294_degree_assortativity", oracle=_ASSORT_ORACLE)
def q294(documents):
    """Sqrt-free degree assortativity of the LSH candidate graph
    (oracle comment). Cites the same capped banding pipeline as
    q44/q152 (operators/banding.py)."""
    from ..operators import banding as B
    from .llm import _minhash_corpus

    pairs = B.candidate_pairs(_minhash_corpus(documents)).select("doc_a", "doc_b")
    und = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ).transform(pin)
    d38 = "decimal(38,0)"
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count("*").cast(d38).alias("d"))
    ed = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "x"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "y"), "v")
        .select("x", "y")
    )
    mom = ed.agg(
        F.count("*").cast(d38).alias("m"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(d38).alias("syy"),
    )
    # a regular graph has zero degree variance: r² is undefined there, so
    # r2_micro is NULL (DuckDB's `//` by zero), not an ANSI DIV error
    return mom.select(
        F.expr("CAST(m DIV 2 AS BIGINT)").alias("n_edges"),
        F.when(F.expr("m*sxy > sx*sy"), F.lit(1))
        .when(F.expr("m*sxy < sx*sy"), F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("r_sign"),
        F.expr(
            "CAST((2 * (m*sxy - sx*sy) * (m*sxy - sx*sy) * 1000000"
            " + (m*sxx - sx*sx) * (m*syy - sy*sy))"
            " DIV NULLIF(2 * (m*sxx - sx*sx) * (m*syy - sy*sy), 0) AS BIGINT)"
        ).alias("r2_micro"),
    )


# ---------- q295: SQL-defined scalar UDF (CREATE FUNCTION ... RETURN)

# Spark 4 SQL UDFs: logic shared as a CATALOG OBJECT instead of a
# client-side closure — the same function text can back dashboards,
# pipelines and ad-hoc SQL, and Catalyst INLINES the body (no Python
# worker, full codegen — the opposite end of the UDF ladder from
# q57's row-at-a-time Python). The oracle inlines the identical
# expression, proving the function is pure sugar in the plan.
_SQLUDF_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                * (100 - CAST(ROUND(CAST(l_discount AS DOUBLE) * 100) AS BIGINT)))
            AS BIGINT) AS disc_cents_x100
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register("q295_sql_udf", oracle=_SQLUDF_ORACLE)
def q295(spark):
    """Catalog-resident SQL UDF inlined by Catalyst (oracle comment).
    Integer pct discount (exact ROUND before the int cast — Spark
    truncates, DuckDB rounds) keeps the product exact BIGINT."""
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS disc_cents")
    spark.sql(
        "CREATE TEMPORARY FUNCTION disc_cents(price DECIMAL(18,2), disc DOUBLE)"
        " RETURNS BIGINT"
        " RETURN CAST(price * 100 AS BIGINT)"
        "   * (100 - CAST(ROUND(disc * 100) AS BIGINT))"
    )
    return spark.sql(
        "SELECT l_returnflag,"
        "       CAST(SUM(disc_cents(CAST(l_extendedprice AS DECIMAL(18,2)),"
        "                           CAST(l_discount AS DOUBLE))) AS BIGINT)"
        "           AS disc_cents_x100"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )


# ---------- q296: IDENTIFIER() + named parameters (injection-safe SQL)

# Spark 4's IDENTIFIER(:param) clause: table/column names arrive as
# BOUND PARAMETERS, not string-spliced SQL — the injection-safe form of
# dynamic-table queries (multi-tenant routing, metadata-driven
# pipelines). The oracle is the static query, proving the dynamic form
# resolves to the identical plan.
_IDENT_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("q296_identifier_param", oracle=_IDENT_ORACLE)
def q296(spark):
    """Dynamic table/column reference via IDENTIFIER(:p) with named
    parameter binding (oracle comment)."""
    return spark.sql(
        "SELECT IDENTIFIER(:grp), CAST(COUNT(*) AS BIGINT) AS n"
        " FROM IDENTIFIER(:tbl) WHERE IDENTIFIER(:st) = :val"
        " GROUP BY IDENTIFIER(:grp) ORDER BY IDENTIFIER(:grp)",
        args={
            "tbl": "orders",
            "grp": "o_orderpriority",
            "st": "o_orderstatus",
            "val": "F",
        },
    )


# ---------- q297: multinomial naive Bayes language ID (train + score)

# Train a Laplace-smoothed multinomial NB on the doc_id%5!=0 split and
# classify the held-out 20% — the classic from-counts text classifier,
# fully relational: token counts collapse to the (lang, term) TYPE
# frame (map-side combinable), the per-(lang, term) log-likelihoods are
# DISCRETIZED to micro units (ROUND(LN(p)*1e6) — a transcendental of
# identical double inputs, rounded per the repo rule, generically never
# on the .5 grid because LN(rational) is irrational), and every score
# after that is exact integer arithmetic: score = prior_micro +
# Σ tf·lp_micro. The model table is |vocab|×|langs| — broadcast-sized
# at any corpus scale that has a bounded vocabulary; the only wide
# shuffles are the token-count groupBys. Argmax by (score DESC, lang)
# row_number, so ties (measure-zero) break identically on both engines.
_NB_ORACLE = """
WITH tok AS MATERIALIZED (
    SELECT doc_id, lang,
           UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
    FROM documents
), train AS MATERIALIZED (
    SELECT * FROM tok WHERE doc_id % 5 <> 0
), ct AS MATERIALIZED (
    SELECT lang, term, COUNT(*) AS c FROM train GROUP BY lang, term
), tot AS MATERIALIZED (
    SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM ct GROUP BY lang
), voc AS MATERIALIZED (
    SELECT COUNT(DISTINCT term) AS v FROM train
), priors AS MATERIALIZED (
    SELECT lang, COUNT(*) AS n_docs FROM documents
    WHERE doc_id % 5 <> 0 GROUP BY lang
), ntr AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_train FROM priors
), lp AS MATERIALIZED (
    SELECT ct.lang, ct.term,
           CAST(ROUND(LN(CAST(c + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE))
                      * 1000000) AS BIGINT) AS lp_micro
    FROM ct JOIN tot USING (lang), voc
), lc AS MATERIALIZED (
    SELECT p.lang,
           CAST(ROUND(LN(CAST(1 AS DOUBLE) / CAST(tot + v AS DOUBLE))
                      * 1000000) AS BIGINT) AS lp0_micro,
           CAST(ROUND(LN(CAST(n_docs AS DOUBLE) / CAST(n_train AS DOUBLE))
                      * 1000000) AS BIGINT) AS prior_micro
    FROM priors p JOIN tot USING (lang), voc, ntr
), tf AS MATERIALIZED (
    SELECT doc_id, lang AS true_lang, term, COUNT(*) AS tf
    FROM tok WHERE doc_id % 5 = 0 GROUP BY doc_id, lang, term
), sc AS (
    SELECT tf.doc_id, tf.true_lang, lc.lang,
           CAST(lc.prior_micro
                + SUM(tf.tf * COALESCE(lp.lp_micro, lc.lp0_micro))
                AS BIGINT) AS score_micro
    FROM tf CROSS JOIN lc
    LEFT JOIN lp ON lp.term = tf.term AND lp.lang = lc.lang
    GROUP BY tf.doc_id, tf.true_lang, lc.lang, lc.prior_micro
), p AS MATERIALIZED (
    SELECT doc_id, true_lang, lang AS pred_lang, score_micro,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score_micro DESC, lang) AS rn
    FROM sc
)
SELECT doc_id, true_lang, pred_lang, score_micro,
       CAST(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END AS INT) AS correct
FROM p WHERE rn = 1 ORDER BY doc_id
"""


@register("q297_naive_bayes_langid", oracle=_NB_ORACLE)
def q297(documents):
    """Laplace-smoothed multinomial NB trained on the 80% split,
    scoring the held-out 20% (oracle comment for the determinism
    scheme). Model table broadcast; scores are integer micro-logprobs."""
    # pinned: tok feeds the train split (ct + voc) AND the held-out tf —
    # unpinned, the CPU-heavy tokenize+explode pass runs four times; ct,
    # voc and priors are each referenced twice downstream (guide §2.4;
    # before-plan: 16 Exchanges, and q345 held ~5 copies of this whole
    # subtree before its own pin)
    tok = documents.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("term")
    ).transform(pin)
    train = tok.where(F.col("doc_id") % 5 != 0)
    ct = (
        train.groupBy("lang", "term")
        .agg(F.count("*").alias("c"))
        .transform(pin)
    )
    tot = ct.groupBy("lang").agg(F.sum("c").cast("bigint").alias("tot"))
    voc = pin(train.agg(F.countDistinct("term").alias("v")))
    priors = (
        documents.where(F.col("doc_id") % 5 != 0)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .transform(pin)
    )
    ntr = priors.agg(F.sum("n_docs").cast("bigint").alias("n_train"))
    micro = lambda x: F.round(F.log(x) * 1000000).cast("bigint")  # noqa: E731
    lp = (
        ct.join(tot, "lang")
        .crossJoin(F.broadcast(voc))
        .select(
            "lang",
            "term",
            micro(
                (F.col("c") + 1).cast("double") / (F.col("tot") + F.col("v")).cast("double")
            ).alias("lp_micro"),
        )
    )
    lc = (
        priors.join(tot, "lang")
        .crossJoin(F.broadcast(voc))
        .crossJoin(F.broadcast(ntr))
        .select(
            "lang",
            micro(
                F.lit(1).cast("double") / (F.col("tot") + F.col("v")).cast("double")
            ).alias("lp0_micro"),
            micro(
                F.col("n_docs").cast("double") / F.col("n_train").cast("double")
            ).alias("prior_micro"),
        )
    )
    tf = (
        tok.where(F.col("doc_id") % 5 == 0)
        .withColumnRenamed("lang", "true_lang")
        .groupBy("doc_id", "true_lang", "term")
        .agg(F.count("*").alias("tf"))
    )
    sc = (
        tf.crossJoin(F.broadcast(lc))
        .join(F.broadcast(lp), ["term", "lang"], "left")
        .groupBy("doc_id", "true_lang", "lang", "prior_micro")
        .agg(
            F.sum(F.col("tf") * F.coalesce(F.col("lp_micro"), F.col("lp0_micro"))).alias(
                "s"
            )
        )
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (F.col("prior_micro") + F.col("s")).cast("bigint").alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), "lang")
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            "score_micro",
            F.when(F.col("lang") == F.col("true_lang"), 1).otherwise(0).cast("int").alias("correct"),
        )
        .orderBy("doc_id")
    )


# ---------- q298: resource-allocation link prediction (co-purchase)

# Predict missing part-part edges from the co-purchase graph: for a
# candidate pair (a,b) NOT already linked, RA(a,b) = Σ_{z∈N(a)∩N(b)}
# 1/deg(z). The reciprocal is the round-half-up integer micro unit
# rhu(1e6, d) — the metric is DEFINED on the integer grid so both
# engines agree exactly, no decimal-sum rule needed. Wedge enumeration
# is the q229 triangle shape: intermediaries z are capped at deg ≤ 64
# (part of the metric — super-hubs carry no signal and their |N(z)|²
# wedge blowup is the scale killer), so per-z work is ≤ C(64,2) and the
# whole stage is linear in |nodes|. Existing edges are removed by a
# left-anti join; top-30 under a unique (score DESC, a, b) order.
_RA_ORACLE = """
WITH pr AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS MATERIALIZED (
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM pr x JOIN pr y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), adj AS MATERIALIZED (
    SELECT a AS node, b AS nbr FROM e
    UNION ALL
    SELECT b AS node, a AS nbr FROM e
), deg AS MATERIALIZED (
    SELECT node, COUNT(*) AS d FROM adj GROUP BY node
), z AS MATERIALIZED (
    SELECT adj.node AS mid, adj.nbr, deg.d
    FROM adj JOIN deg ON deg.node = adj.node WHERE deg.d <= 64
), w AS (
    SELECT p.nbr AS a, q.nbr AS b, p.d AS d
    FROM z p JOIN z q ON p.mid = q.mid AND p.nbr < q.nbr
), s AS MATERIALIZED (
    SELECT a, b,
           CAST(SUM((2 * 1000000 + d) // (2 * d)) AS BIGINT) AS ra_micro,
           CAST(COUNT(*) AS BIGINT) AS common_n
    FROM w GROUP BY a, b
)
SELECT s.a, s.b, s.common_n, s.ra_micro
FROM s LEFT JOIN e ON e.a = s.a AND e.b = s.b
WHERE e.a IS NULL
ORDER BY s.ra_micro DESC, s.a, s.b LIMIT 30
"""


@register("q298_link_prediction", oracle=_RA_ORACLE)
def q298(lineitem):
    """Top-30 predicted co-purchase links by resource-allocation index
    (oracle comment). Hub-capped wedge join keeps the candidate stage
    linear in nodes; never all-pairs."""
    from ..operators.triangles import cooccurrence_edges

    # collect_set-per-order + codegen pair expansion (2 shuffles) in
    # place of distinct -> self-join -> distinct (3): same edge set
    # pinned: referenced from both the adjacency expansion and the
    # final known-edge anti-join (operators/triangles rule — graph
    # algorithms pin their edge list or re-derive the lineage per ref)
    e = (
        cooccurrence_edges(
            lineitem.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"))
        .transform(pin)
    )
    # r12 session 3 (guide §2.4 — the decade cost was NOT the wedges,
    # which number only 2.5M at sf1, but the adjacency machinery:
    # adj⋈deg was two 24M-row exchanges + SMJ sorts, and the wedge
    # self-join + anti-join added two more sort-heavy joins; measured
    # stage-wise at sf1: z build 23.5 s of the 29 s total). One
    # collect_set shuffle builds the per-node neighbor SET; degree is
    # size(nb), the hub cap is a filter, the per-mid reciprocal is
    # computed ONCE per node, and the wedge pairs expand codegen-side
    # (the cooccurrence_pairs idiom — nb is sorted, so a < b is free).
    # The only remaining wide ops: the ns collect_set, the 2.5M-row
    # wedge aggregate, and a shuffled-HASH anti-join against the pinned
    # edge frame (no 12M-row sort). Warm back-to-back at sf1:
    # 16.6 s -> 4.9 s, rows identical.
    adj = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    ns = adj.groupBy("node").agg(F.sort_array(F.collect_set("nbr")).alias("nb"))
    wz = (
        ns.where(F.size("nb") <= 64)
        .select(
            F.expr(rhu("1000000", "size(nb)")).alias("r"),
            F.posexplode("nb").alias("_i", "a"),
            "nb",
        )
        .select("r", "a", F.explode(F.expr("slice(nb, _i + 2, size(nb))")).alias("b"))
    )
    s = wz.groupBy("a", "b").agg(
        F.sum("r").cast("bigint").alias("ra_micro"),
        F.count("*").cast("bigint").alias("common_n"),
    )
    return (
        s.join(e.hint("shuffle_hash"), ["a", "b"], "left_anti")
        .select("a", "b", "common_n", "ra_micro")
        .orderBy(F.col("ra_micro").desc(), "a", "b")
        .limit(30)
    )


# ---------- q299: k-core decomposition (iterative peeling, k=3)

# The 3-core of the co-purchase graph: repeatedly delete nodes of
# degree < 3 until a fixpoint — the standard dense-subgraph primitive
# (community seeding, spam-ring detection). A fixpoint with per-round
# aggregation is not expressible in one SQL query (recursive CTEs
# forbid aggregates over the recursive term), so this is a rows-only
# entry whose peel loop lives in operators/kcore.py and is
# property-twinned against a brute-force Python peel on synthetic
# graphs with a known core (tests/test_properties.py — the organic
# co-purchase graph is dense enough that nothing peels, so the twin
# uses crafted path+clique graphs). Peel rounds are DELTA-based
# (operators/kcore.py: broadcast anti-join on the removed set +
# incremental degree maintenance — shuffle-free per round, with a
# shuffle fallback above a driver cap).
#
# Edge derivation (the r10-measured cost at 10x data — the peel loop
# contributed ZERO rounds at sf1): co-purchase pairs come from ONE
# map-side-combined collect_set per order plus a JVM-side (codegen)
# pair expansion, then one distinct — 2 shuffles total vs the 3 of the
# former distinct->self-join->distinct (the join shuffle is gone).
# Per-order part lists are tiny (<=7 lineitems); a pathological hot
# order would cost O(m^2) pairs in EITHER formulation.
@register("q299_k_core", tags=("iterative",))
def q299(lineitem):
    """Nodes of the 3-core with their final in-core degree, by
    iterative peeling (see comment above for why rows-only)."""
    pairs = (
        lineitem.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps,"
                    " x -> transform(filter(ps, y -> y > x),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    e = pairs.distinct()
    return k_core(e, k=3).orderBy("node")


# ---------- q300: ordered LISTAGG (Spark 4 WITHIN GROUP surface)

# Spark 4.0's LISTAGG ... WITHIN GROUP (ORDER BY ...) — the ordered
# string-concat aggregate (DuckDB: string_agg(x, ',' ORDER BY x)).
# Deterministic because the aggregated values are DISTINCT ship months
# (unique sort key). Also exercises GROUP BY ALL / ORDER BY ALL, which
# both engines support. Output is |flag × status| rows; the distinct
# collapses map-side.
_LISTAGG_ORACLE = """
SELECT l_returnflag, l_linestatus,
       string_agg(m, ',' ORDER BY m) AS months,
       CAST(COUNT(*) AS BIGINT) AS n_months
FROM (
    SELECT DISTINCT l_returnflag, l_linestatus,
           strftime(l_shipdate, '%Y-%m') AS m
    FROM lineitem
)
GROUP BY ALL ORDER BY ALL
"""


@register("q300_ordered_listagg", oracle=_LISTAGG_ORACLE)
def q300(spark):
    """Ordered LISTAGG of distinct ship months per (flag, status)
    via WITHIN GROUP (oracle comment)."""
    return spark.sql(
        "SELECT l_returnflag, l_linestatus,"
        "       listagg(m, ',') WITHIN GROUP (ORDER BY m) AS months,"
        "       CAST(COUNT(*) AS BIGINT) AS n_months"
        " FROM (SELECT DISTINCT l_returnflag, l_linestatus,"
        "              date_format(l_shipdate, 'yyyy-MM') AS m FROM lineitem)"
        " GROUP BY ALL ORDER BY ALL"
    )


# ---------- q301: decision stump (best Gini split, bucketed scan)

# The CART building block: the best single threshold on order value
# predicting finished status ('F'), evaluated at 63 equi-width bucket
# boundaries. The scalable shape: ONE aggregate collapses the fact
# table to ≤64 (bucket, cnt, pos) rows; the cumulative scan and the
# Gini gain run on that tiny frame. Gain is the exact rational
#   [P·N·n_l·n_r − n·(p_l·q_l·n_r + p_r·q_r·n_l)] / (n·n_l·n_r)
# (≥ 0 by concavity of Gini), carried in DECIMAL(38,0)/HUGEINT
# (numerator ~n⁴·1e6 — fits to sf≈50; beyond that divide counts by a
# common factor first) and reported as positive round-half-up micro
# units, so both engines agree bit-for-bit with no double division.
_STUMP_ORACLE = """
WITH o AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
    FROM orders
), mm AS MATERIALIZED (
    SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o
), b AS (
    SELECT LEAST(((cents - lo) * 64) // (hi - lo + 1), 63) AS bucket, pos
    FROM o, mm
), g AS MATERIALIZED (
    SELECT bucket, COUNT(*) AS cnt, SUM(pos) AS p FROM b GROUP BY bucket
), t AS (
    SELECT CAST(SUM(cnt) AS HUGEINT) AS n, CAST(SUM(p) AS HUGEINT) AS bigp FROM g
), grid AS MATERIALIZED (
    SELECT UNNEST(range(0, 63)) AS bucket
), cum AS (
    SELECT grid.bucket,
           CAST(SUM(CASE WHEN g.bucket <= grid.bucket THEN g.cnt ELSE 0 END) AS HUGEINT) AS n_l,
           CAST(SUM(CASE WHEN g.bucket <= grid.bucket THEN g.p ELSE 0 END) AS HUGEINT) AS p_l
    FROM grid, g GROUP BY grid.bucket
)
SELECT CAST(c.bucket AS INT) AS bucket,
       CAST(lo + ((c.bucket + 1) * (hi - lo + 1)) // 64 AS BIGINT) AS thr_cents,
       CAST(n_l AS BIGINT) AS n_l,
       CAST(p_l AS BIGINT) AS pos_l,
       CAST((2 * (bigp * (n - bigp) * n_l * (n - n_l)
                  - n * (p_l * (n_l - p_l) * (n - n_l)
                         + (bigp - p_l) * ((n - n_l) - (bigp - p_l)) * n_l))
             * 1000000
             + n * n_l * (n - n_l))
            // (2 * n * n_l * (n - n_l)) AS BIGINT) AS gain_micro
FROM cum c, t, mm
WHERE n_l > 0 AND n_l < n
ORDER BY bucket
"""


@register("q301_decision_stump", oracle=_STUMP_ORACLE)
def q301(spark, orders):
    """Gini gain at 63 equi-width thresholds of order value vs
    finished status, exact integer arithmetic (oracle comment)."""
    o = orders.select(
        cents("o_totalprice").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    mm = o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    b = o.crossJoin(F.broadcast(mm)).select(
        F.least(F.expr("((cents - lo) * 64) DIV (hi - lo + 1)"), F.lit(63)).alias(
            "bucket"
        ),
        "pos",
    )
    g = b.groupBy("bucket").agg(F.count("*").alias("cnt"), F.sum("pos").alias("p"))
    t = g.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("n"),
        F.sum("p").cast("decimal(38,0)").alias("bigp"),
    )
    grid = spark.range(0, 63).select(F.col("id").alias("gbucket"))
    cum = (
        grid.crossJoin(F.broadcast(g))
        .groupBy("gbucket")
        .agg(
            F.sum(F.when(F.col("bucket") <= F.col("gbucket"), F.col("cnt")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("n_l"),
            F.sum(F.when(F.col("bucket") <= F.col("gbucket"), F.col("p")).otherwise(0))
            .cast("decimal(38,0)")
            .alias("p_l"),
        )
    )
    return (
        cum.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(mm))
        .where((F.col("n_l") > 0) & (F.col("n_l") < F.col("n")))
        .select(
            F.col("gbucket").cast("int").alias("bucket"),
            F.expr("lo + ((gbucket + 1) * (hi - lo + 1)) DIV 64")
            .cast("bigint")
            .alias("thr_cents"),
            F.col("n_l").cast("bigint").alias("n_l"),
            F.col("p_l").cast("bigint").alias("pos_l"),
            F.expr(
                rhu(
                    "(bigp * (n - bigp) * n_l * (n - n_l) - n * (p_l * (n_l - p_l)"
                    " * (n - n_l) + (bigp - p_l) * ((n - n_l) - (bigp - p_l)) * n_l))"
                    " * 1000000",
                    "n * n_l * (n - n_l)",
                )
            )
            .cast("bigint")
            .alias("gain_micro"),
        )
        .orderBy("bucket")
    )


# ---------- q302: XML round-trip (Spark 4 from_xml surface)

# Spark 4's native XML lane: serialize each event to an XML fragment,
# parse it back with from_xml, and aggregate the PARSED fields. The
# oracle computes the same aggregate from the raw columns — equality
# proves the round trip is lossless. Cents via explicit ROUND before
# the int cast (Spark truncates, DuckDB rounds). All XML work is
# per-row JVM codegen; the aggregate collapses to |event_type| rows.
_XML_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE event_id % 5 = 0
GROUP BY event_type ORDER BY event_type
"""


@register("q302_xml_roundtrip", oracle=_XML_ORACLE)
def q302(events):
    """Serialize events to XML, parse back with from_xml, aggregate
    parsed fields (oracle comment proves losslessness)."""
    ev = events.where(F.col("event_id") % 5 == 0)
    xml = ev.select(
        F.format_string(
            "<e><u>%d</u><t>%s</t><c>%d</c></e>",
            F.col("user_id"),
            F.col("event_type"),
            F.round(F.col("value").cast("double") * 100).cast("bigint"),
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml("x", "STRUCT<u: BIGINT, t: STRING, c: BIGINT>").alias("p")
    ).select("p.*")
    return (
        parsed.groupBy(F.col("t").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("c").cast("bigint").alias("sum_cents"),
            F.countDistinct("u").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )


# ---------- q303: reciprocal rank of first relevant hit (MRR family)

# The rank-metric sibling of q269 NDCG: per query vector, the rank of
# the FIRST label-matching neighbor in the rounded-cosine top-10, and
# its reciprocal as integer LITERALS (round-half-up of 1e6/r baked
# into both query texts — no runtime division at all). Queries with
# no relevant doc in the corpus are excluded (n_rel = 0); a miss
# within the top-10 scores rr = 0 with first_rank = 0.
_RR_W = [1000000, 500000, 333333, 250000, 200000, 166667, 142857, 125000, 111111, 100000]
_RR_CASE = (
    "CASE first_rank "
    + " ".join(f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_RR_W))
    + " ELSE 0 END"
)

_MRR_ORACLE = f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qe
    FROM embeddings WHERE vec_id % 500 = 0
), s AS (
    SELECT q.qid, q.qlabel, e.vec_id, e.label,
           ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe')}, 4) AS sim
    FROM embeddings e JOIN q ON e.vec_id <> q.qid
), r AS (
    SELECT qid, qlabel, label,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
    FROM s
), fr AS (
    SELECT qid,
           CAST(COALESCE(MIN(CASE WHEN label = qlabel AND rnk <= 10
                                  THEN rnk END), 0) AS INT) AS first_rank
    FROM r GROUP BY qid
), nr AS (
    SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS n_rel
    FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.qid
    GROUP BY q.qid
)
SELECT fr.qid, nr.n_rel, fr.first_rank,
       CAST({_RR_CASE} AS BIGINT) AS rr_micro
FROM fr JOIN nr ON nr.qid = fr.qid
WHERE nr.n_rel > 0
ORDER BY fr.qid
"""


@register("q303_reciprocal_rank", oracle=_MRR_ORACLE)
def q303(embeddings):
    """First-relevant rank + integer-literal reciprocal per query
    (oracle comment). Broadcast query side, rounded-cosine ranking."""
    q = embeddings.where(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        V.norm(F.col("embedding")).alias("qn"),
    )
    s = embeddings.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        V.cosine_pre(F.col("embedding"), F.col("qe"), F.col("qn")).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    fr = (
        s.withColumn("rnk", F.row_number().over(w))
        .groupBy("qid")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("label") == F.col("qlabel")) & (F.col("rnk") <= 10),
                        F.col("rnk"),
                    )
                ),
                F.lit(0),
            )
            .cast("int")
            .alias("first_rank")
        )
    )
    lc = embeddings.groupBy("label").agg(F.count("*").alias("cnt"))
    nr = (
        embeddings.where(F.col("vec_id") % 500 == 0)
        .join(F.broadcast(lc), "label")
        .select(
            F.col("vec_id").alias("qid"), (F.col("cnt") - 1).cast("bigint").alias("n_rel")
        )
    )
    return (
        fr.join(nr, "qid")
        .where(F.col("n_rel") > 0)
        .select("qid", "n_rel", "first_rank", F.expr(_RR_CASE).cast("bigint").alias("rr_micro"))
        .orderBy("qid")
    )


# ---------- q304: contingency table via df.stat.crosstab

# The DataFrame stat-function surface: stat.crosstab pivots two
# categorical columns into a contingency table whose column NAMES are
# the data values (TPC-H priorities, a closed set). The oracle is the
# explicit filtered-count pivot with identically quoted aliases; the
# driver's comparator sorts columns by name, so the value-derived
# headers must match byte-for-byte. |statuses| x |priorities| output.
_XTAB_ORACLE = """
SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
       CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS "1-URGENT",
       CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS "2-HIGH",
       CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS "3-MEDIUM",
       CAST(COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS "4-NOT SPECIFIED",
       CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS "5-LOW"
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register("q304_crosstab", oracle=_XTAB_ORACLE)
def q304(orders):
    """status x priority contingency table via stat.crosstab (oracle
    comment). Crosstab is a pivoted count aggregate — one shuffle on
    the pair frame, |statuses| rows out."""
    xt = orders.stat.crosstab("o_orderstatus", "o_orderpriority")
    return xt.orderBy("o_orderstatus_o_orderpriority")


# ---------- q305: inverted index posting lists (retrieval infra)

# term -> (document frequency, first-20 posting list) — the index-build
# step under BM25 (q106). The posting STRING is the first 20 doc_ids
# in ascending order: the rank filter runs BEFORE the collect (Spark 4
# WindowGroupLimit pushes the top-20 into the shuffle), so no
# unbounded collect_list ever materializes a full posting list; df
# counts come from the same distinct (term, doc) frame. Min support 10
# trims the hapax tail. At 100 TB the (term, doc) frame shuffles once
# on term — the same profile as the TF-IDF/BM25 queries.
_INVIDX_ORACLE = """
WITH td AS MATERIALIZED (
    SELECT DISTINCT term, doc_id FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
        FROM documents
    )
), dfr AS MATERIALIZED (
    SELECT term, COUNT(*) AS doc_freq FROM td GROUP BY term
), r AS (
    SELECT term, doc_id,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM td
), post AS MATERIALIZED (
    SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM r WHERE rn <= 20 GROUP BY term
)
SELECT dfr.term, CAST(doc_freq AS BIGINT) AS doc_freq, post.postings
FROM dfr JOIN post USING (term)
WHERE doc_freq >= 10
ORDER BY term
"""


@register("q305_inverted_index", oracle=_INVIDX_ORACLE)
def q305(documents):
    """Posting-list construction with rank-bounded lists (oracle
    comment)."""
    td = documents.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    ).distinct()
    dfr = td.groupBy("term").agg(F.count("*").alias("doc_freq"))
    w = Window.partitionBy("term").orderBy("doc_id")
    post = (
        td.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        dfr.join(post, "term")
        .where(F.col("doc_freq") >= 10)
        .select("term", F.col("doc_freq").cast("bigint").alias("doc_freq"), "postings")
        .orderBy("term")
    )


# ---------- q306: deterministic bootstrap CI (md5-seeded resampling)

# A 95% percentile-bootstrap interval for mean daily revenue, with the
# RNG replaced by the repo's md5 recipe (q155): replicate b draws its
# i-th sample as daily row number md5(b:i) mod n — identical hex, mod
# and join on both engines, so the WHOLE bootstrap is exact integer
# arithmetic: replicate sums in cents, round-half-up means, and the
# 2.5%/97.5% bounds as nearest-rank order statistics (ranks 5/196 of
# B=200) under a unique (mean, b) order. The resample frame is B x n
# rows over the |days|-sized DAILY aggregate — bounded by the date
# dimension, never the fact table, at any scale factor.
_BOOT_ORACLE = _DAILY_CTE + """
, idx AS (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) - 1 AS rn FROM daily
), nn AS (
    SELECT COUNT(*) AS n FROM daily
), draw AS (
    SELECT rb.b, ('0x' || SUBSTR(MD5(CAST(rb.b AS VARCHAR) || ':' || CAST(i.rn AS VARCHAR)), 1, 15))::BIGINT % n AS pick
    FROM range(0, 200) rb(b), idx i, nn
), rep AS (
    SELECT b, CAST((2 * SUM(cents) + n) // (2 * n) AS BIGINT) AS mean_cents
    FROM draw JOIN idx ON idx.rn = draw.pick, nn
    GROUP BY b, n
), ranked AS MATERIALIZED (
    SELECT mean_cents, ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS r FROM rep
)
SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days,
       CAST(200 AS BIGINT) AS n_reps,
       (SELECT mean_cents FROM ranked WHERE r = 5) AS lo_cents,
       (SELECT mean_cents FROM ranked WHERE r = 196) AS hi_cents
"""


@register("q306_bootstrap_ci", oracle=_BOOT_ORACLE)
def q306(spark, orders):
    """Percentile bootstrap on mean daily revenue with md5-derived
    resampling (oracle comment)."""
    daily = _daily_cents(orders)
    # pinned: idx feeds the draw grid, the resample join and the count —
    # without the checkpoint the orders aggregate + global window run
    # once per reference (guide §2.4)
    idx = daily.select(
        "cents", (F.row_number().over(Window.orderBy("day")) - 1).alias("rn")
    ).transform(pin)
    nn = idx.agg(F.count("*").alias("n"))
    draw = (
        spark.range(0, 200)
        .select(F.col("id").alias("b"))
        .crossJoin(idx.select(F.col("rn").alias("i")))
        .crossJoin(F.broadcast(nn))
        .select(
            "b",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("b").cast("string"),
                                F.lit(":"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
            ).alias("pick"),
        )
    )
    rep = (
        draw.join(idx, idx["rn"] == draw["pick"])
        .crossJoin(F.broadcast(nn))
        .groupBy("b", "n")
        .agg(F.sum("cents").alias("s"))
        .select("b", F.expr(rhu("s", "n")).cast("bigint").alias("mean_cents"))
    )
    ranked = rep.select(
        "mean_cents", F.row_number().over(Window.orderBy("mean_cents", "b")).alias("r")
    )
    # ONE aggregate picks both order statistics: the former lo/hi
    # branch pair re-ran the whole B x n resample join per bound
    # (guide §2.4)
    picks = ranked.agg(
        F.min(F.when(F.col("r") == 5, F.col("mean_cents"))).alias("lo_cents"),
        F.min(F.when(F.col("r") == 196, F.col("mean_cents"))).alias("hi_cents"),
    )
    return (
        nn.select(F.col("n").cast("bigint").alias("n_days"))
        .crossJoin(F.broadcast(picks))
        .select("n_days", F.lit(200).cast("bigint").alias("n_reps"), "lo_cents", "hi_cents")
    )


# ---------- q307: centroid silhouette (cluster-quality QA)

# Simplified (centroid-based) silhouette per label over the embedding
# column: a2 = squared distance to the OWN label centroid, b2 = min
# squared distance to any OTHER centroid, s = (b2 - a2)/max(a2, b2).
# The whole metric is exact integer arithmetic via the q244 recipe:
# components int-quantized to milli units (+2000 shift keeps them
# non-negative; distances are shift-invariant), centroids are
# round-half-up integer milli vectors, so every squared distance is
# exact BIGINT and identical on both engines; s and the per-label mean
# are positive-shift round-half-up micro units. The scalable shape:
# centroids come from ONE map-side-combinable (label, dim) aggregate;
# scoring is a broadcast of k=|labels| centroid arrays against the
# corpus — n x k rows, never n x n.
_SILH_ORACLE = """
WITH q AS MATERIALIZED (
    SELECT vec_id, label,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 2000) AS v
    FROM embeddings
), dims AS (
    SELECT label, r.i AS dim, q.v[r.i] AS x FROM q, RANGE(1, 65) r(i)
), cent AS (
    SELECT label, dim,
           (2 * CAST(SUM(x) AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS c
    FROM dims GROUP BY label, dim
), carr AS MATERIALIZED (
    SELECT label AS clabel, LIST(c ORDER BY dim) AS cv FROM cent GROUP BY label
), d2 AS MATERIALIZED (
    SELECT q.vec_id, q.label, carr.clabel,
           LIST_SUM(LIST_TRANSFORM(range(1, 65),
                                   i -> (q.v[i] - carr.cv[i]) * (q.v[i] - carr.cv[i]))) AS d2
    FROM q, carr
), ab AS (
    SELECT vec_id, label,
           MAX(CASE WHEN clabel = label THEN d2 END) AS a2,
           MIN(CASE WHEN clabel <> label THEN d2 END) AS b2
    FROM d2 GROUP BY vec_id, label
), s AS (
    SELECT vec_id, label,
           CASE WHEN GREATEST(a2, b2) = 0 THEN 0
                ELSE (2 * (b2 - a2 + GREATEST(a2, b2)) * 1000000 + GREATEST(a2, b2))
                     // (2 * GREATEST(a2, b2)) - 1000000
           END AS s_micro
    FROM ab
)
SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST((2 * (SUM(s_micro) + COUNT(*) * 1000000) + COUNT(*))
            // (2 * COUNT(*)) - 1000000 AS BIGINT) AS mean_sil_micro
FROM s GROUP BY label ORDER BY label
"""


@register("q307_centroid_silhouette", oracle=_SILH_ORACLE)
def q307(embeddings):
    """Integer-exact centroid silhouette per label (oracle comment)."""
    q = embeddings.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000).cast("bigint") + 2000,
        ).alias("v"),
    )
    dims = q.select(
        "label", F.posexplode("v").alias("dim0", "x")
    )
    cent = dims.groupBy("label", (F.col("dim0") + 1).alias("dim")).agg(
        F.expr(rhu("CAST(SUM(x) AS BIGINT)", "COUNT(*)")).alias("c")
    )
    carr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    d2 = q.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    s = ab.select(
        "label",
        F.expr(
            "CASE WHEN GREATEST(a2, b2) = 0 THEN 0 ELSE"
            f" {rhu('(b2 - a2 + GREATEST(a2, b2)) * 1000000', 'GREATEST(a2, b2)')} -"
            " 1000000 END"
        ).alias("s_micro"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.expr(
                f"CAST({rhu('(SUM(s_micro) + COUNT(*) * 1000000)', 'COUNT(*)')} -"
                " 1000000 AS BIGINT)"
            ).alias("mean_sil_micro"),
        )
        .select(F.col("label").cast("int").alias("label"), "n_points", "mean_sil_micro")
        .orderBy("label")
    )


# ---------- q309: DataFrame.transpose (Spark 4 reshape surface)

# Spark 4.0's df.transpose(): rows become columns keyed by the first
# column's values (here the three return flags), metric names land in
# a 'key' column. All metrics share BIGINT so the transpose is
# loss-free; the oracle writes the two transposed rows explicitly with
# identical value-derived column aliases. Input to the transpose is the
# 3-row aggregate — reshape happens on a dimension-sized frame.
_TRANSPOSE_ORACLE = """
WITH g AS MATERIALIZED (
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM lineitem GROUP BY l_returnflag
)
SELECT 'n_items' AS key,
       (SELECT n_items FROM g WHERE flag = 'A') AS "A",
       (SELECT n_items FROM g WHERE flag = 'N') AS "N",
       (SELECT n_items FROM g WHERE flag = 'R') AS "R"
UNION ALL
SELECT 'sum_cents' AS key,
       (SELECT sum_cents FROM g WHERE flag = 'A') AS "A",
       (SELECT sum_cents FROM g WHERE flag = 'N') AS "N",
       (SELECT sum_cents FROM g WHERE flag = 'R') AS "R"
ORDER BY key
"""


@register("q309_transpose", oracle=_TRANSPOSE_ORACLE)
def q309(lineitem):
    """Per-flag metrics reshaped via DataFrame.transpose (oracle
    comment)."""
    g = lineitem.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(cents("l_extendedprice")).cast("bigint").alias("sum_cents"),
    )
    return g.orderBy("flag").transpose().orderBy("key")


# ---------- q308: Holt linear smoothing (recursive state, exact)

# Double exponential smoothing over daily revenue, alpha = beta = 1/5:
#   l_t = (x_t*1e6 + 4(l+b))/5,  b_t = (l_t - l_{t-1} + 4 b_{t-1})/5,
# one-step forecast f_t = l_{t-1} + b_{t-1}. State is held in integer
# MICRO-CENTS and every /5 is positive-shift round-half-up (shift 5e15
# keeps the trend term positive even when b < 0), so the recursion is
# exact integer arithmetic with identical trajectories on both engines.
# A sequential recurrence cannot parallelize across time: Spark folds
# ONE sort_array'd |days| array with F.aggregate (SinglePartition
# ABOVE the daily aggregate — the date dimension is bounded at any
# scale factor); the oracle is a DuckDB recursive CTE stepping rn+1.
# Init: l_1 = x_1, b_1 = x_2 - x_1 (textbook), emitted from t = 2.
_HOLT_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), rec AS (
    WITH RECURSIVE r(rn, l, b) AS (
        SELECT 1,
               (SELECT cents FROM idx WHERE rn = 1) * 1000000,
               ((SELECT cents FROM idx WHERE rn = 2)
                - (SELECT cents FROM idx WHERE rn = 1)) * 1000000
        UNION ALL
        SELECT s.rn + 1, s.lnew,
               ((2 * ((s.lnew - s.l + 4 * s.b) + 5000000000000000) + 5) // 10)
                   - 1000000000000000
        FROM (
            SELECT r.rn, r.l, r.b,
                   ((2 * ((i.cents * 1000000 + 4 * (r.l + r.b)) + 5000000000000000) + 5)
                    // 10) - 1000000000000000 AS lnew
            FROM r JOIN idx i ON i.rn = r.rn + 1
        ) s
    )
    SELECT * FROM r
)
SELECT i.day, i.cents,
       CAST(((2 * ((p.l + p.b) + 1000000000000000) + 1000000)
             // (2 * 1000000)) - 1000000000 AS BIGINT) AS forecast_cents
FROM idx i JOIN rec p ON p.rn = i.rn - 1
ORDER BY i.day
"""


@register("q308_holt_linear", oracle=_HOLT_ORACLE)
def q308(orders):
    """Holt linear trend smoothing in exact integer micro-cents
    (oracle comment). The recurrence is inherently sequential, so the
    fold runs as ONE applyInPandas group over the |days| aggregate —
    the grouped-map lane for sequential state (|days| is bounded by
    the calendar at every scale factor). Python ints reproduce the
    positive-shift floor-division formula bit-for-bit (py // floors,
    operands kept positive — same contract as the SQL DIV forms); an
    earlier whole-stage-codegen F.aggregate fold computed the same
    numbers 20x slower (15.9s -> 0.8s at sf0.1: the per-step lambda
    re-built a ~100-node expression tree per element)."""
    import pandas as pd

    daily = _daily_cents(orders)

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) < 2:
            return pd.DataFrame(
                {"day": pdf["day"][:0], "cents": pdf["cents"][:0],
                 "forecast_cents": pdf["cents"][:0]}
            )
        big_s = 5 * 10**15
        cents = [int(c) for c in pdf["cents"]]
        days = list(pdf["day"])
        lvl = cents[0] * 10**6
        tr = (cents[1] - cents[0]) * 10**6
        out = []
        for i in range(1, len(cents)):
            f = lvl + tr
            x = cents[i]
            lnew = ((2 * ((x * 10**6 + 4 * (lvl + tr)) + big_s) + 5) // 10) - 10**15
            tr = ((2 * ((lnew - lvl + 4 * tr) + big_s) + 5) // 10) - 10**15
            lvl = lnew
            fc = ((2 * (f + 10**15) + 10**6) // (2 * 10**6)) - 10**9
            out.append((days[i], x, fc))
        return pd.DataFrame(out, columns=["day", "cents", "forecast_cents"])

    return (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(holt, "day timestamp_ntz, cents bigint, forecast_cents bigint")
        .orderBy("day")
    )


# ---------- q310: higher-order-function suite (array + map lambdas)

# The lambda-function surface q34/q79 leave uncovered: exists / forall
# over arrays, and transform_keys / transform_values / map_zip_with
# over maps. Per doc: word stats from array HOFs, then a word->count
# map (built from the first 50 tokens with a quadratic-in-50 count
# lambda — bounded per row by the slice, never by doc length) piped
# through the three map HOFs down to integer scalars the oracle can
# reproduce from the token list directly. All lambdas run inside
# whole-stage codegen — no Python.
_HOF_ORACLE = """
WITH w AS MATERIALIZED (
    SELECT doc_id,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS w
    FROM documents
), s AS (
    SELECT doc_id, w, w[1:50] AS w50 FROM w
)
SELECT doc_id,
       CAST(LEN(w) AS INT) AS n_words,
       CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(w, t -> LEN(t))), 0) AS BIGINT)
           AS total_chars,
       CAST(CASE WHEN LEN(LIST_FILTER(w, t -> LEN(t) > 8)) > 0 THEN 1 ELSE 0 END
            AS INT) AS any_long,
       CAST(CASE WHEN LEN(LIST_FILTER(w, t -> NOT regexp_matches(t, '^[a-z]+$'))) = 0
                 THEN 1 ELSE 0 END AS INT) AS all_alpha,
       CAST(LEN(LIST_DISTINCT(w50)) AS INT) AS n_distinct50,
       CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(
                LIST_DISTINCT(w50),
                x -> LEN(LIST_FILTER(w50, y -> y = x)) * (1 + LEN(x)))), 0)
            AS BIGINT) AS score50
FROM s ORDER BY doc_id
"""


@register("q310_hof_suite", oracle=_HOF_ORACLE)
def q310(documents):
    """exists/forall + transform_keys/transform_values/map_zip_with
    exercised down to oracle-checkable integer scalars (oracle
    comment)."""
    s = documents.select(
        "doc_id",
        T.tokens(F.col("text")).alias("w"),
    ).withColumn("w50", F.slice("w", 1, 50))
    dw = F.array_distinct(F.col("w50"))
    counts = F.transform(
        dw, lambda x: F.size(F.filter(F.col("w50"), lambda y: y == x))
    )
    m = F.map_from_arrays(dw, counts)
    m2 = F.transform_values(m, lambda k, v: v * F.length(k))
    mz = F.map_zip_with(m, m2, lambda k, a, b: a + b)
    return s.select(
        "doc_id",
        F.size("w").cast("int").alias("n_words"),
        F.aggregate(
            F.col("w"), F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).alias("total_chars"),
        F.exists(F.col("w"), lambda t: F.length(t) > 8).cast("int").alias("any_long"),
        F.forall(F.col("w"), lambda t: t.rlike("^[a-z]+$")).cast("int").alias("all_alpha"),
        F.size(F.transform_keys(m, lambda k, v: F.upper(k))).cast("int").alias(
            "n_distinct50"
        ),
        F.aggregate(
            F.map_values(mz), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("score50"),
    ).orderBy("doc_id")


# ---------- q311: batch session_window (gap-merged sessions, one API call)

# F.session_window on a BATCH frame — the declarative form of q81's
# manual lag/gap sessionization (and the batch twin of the q63
# streaming session window). Spark merges events whose [ts, ts+gap)
# windows overlap; the oracle reproduces that with the classic
# lag -> gap-flag -> running-sum session id and start/min end/max+gap.
# Both engines compare at full microsecond precision; the 4-hour gap
# splits a typical user-day into several sessions. Shuffle profile:
# one exchange on user_id, sessions assembled inside each partition.
_SESSW_ORACLE = """
WITH g AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 4 HOUR
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM events
), s AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM g
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 4 HOUR AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("q311_session_window_batch", oracle=_SESSW_ORACLE)
def q311(events):
    """Gap-based sessions via the batch session_window API (oracle
    comment)."""
    return (
        events.groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------- q312: Spearman rank correlation (TYPE-frame, no global sort)

# Spearman rho between quantity and discount, exact to the last
# integer: with BOUNDED-cardinality columns the average tie rank never
# needs a global sort — doubled centered ranks come off each VALUE
# histogram (c(v) = 2*cum_less(v) + cnt_eq(v) - n, an integer whose
# mean is exactly 0), and every cross moment is a sum over the
# |qty| x |disc| pair-count TYPE frame: Sxy = sum cnt(v,w) c_x(v) c_y(w).
# rho = Sxy / (sqrt(Sxx) * sqrt(Syy)) on exact identical BIGINTs —
# IEEE sqrt is correctly rounded, so both engines produce the same
# double; ROUND(,6) is belt-and-braces. The fact table is touched by
# ONE map-side-combinable pair count; everything after is O(values²).
_SPEARMAN_ORACLE = """
WITH pairs AS MATERIALIZED (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(ROUND(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS d,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
), n AS MATERIALIZED (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pairs
), qh AS (
    SELECT q, SUM(cnt) AS c FROM pairs GROUP BY q
), qrank AS (
    SELECT q,
           2 * (SUM(c) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) - c) + c - n AS cq
    FROM qh, n
), dh AS (
    SELECT d, SUM(cnt) AS c FROM pairs GROUP BY d
), drank AS (
    SELECT d,
           2 * (SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) - c) + c - n AS cd
    FROM dh, n
), moms AS (
    SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cq * cd) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(cnt AS HUGEINT) * cq * cq) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(cnt AS HUGEINT) * cd * cd) AS HUGEINT) AS syy
    FROM pairs JOIN qrank USING (q) JOIN drank USING (d)
)
SELECT (SELECT n FROM n) AS n,
       ROUND(CAST(sxy AS DOUBLE)
             / (SQRT(CAST(sxx AS DOUBLE)) * SQRT(CAST(syy AS DOUBLE))), 6) AS rho
FROM moms
"""


@register("q312_spearman_rank", oracle=_SPEARMAN_ORACLE)
def q312(lineitem):
    """Tie-aware Spearman rho from value histograms (oracle comment)."""
    # pinned: pairs (|qty|×|disc| ≈ 550 rows) feeds n, both rank
    # histograms AND the moment join — unpinned, the lineitem
    # scan+groupBy runs four times (guide §2.4; before-plan: 13
    # Exchanges)
    pairs = (
        lineitem.groupBy(
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount").cast("double") * 100).cast("bigint").alias("d"),
        )
        .agg(F.count("*").alias("cnt"))
        .transform(pin)
    )
    n = pairs.agg(F.sum("cnt").cast("bigint").alias("n"))

    def ranks(col):
        h = pairs.groupBy(col).agg(F.sum("cnt").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return h.crossJoin(F.broadcast(n)).select(
            col,
            (
                2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") - F.col("n")
            ).alias(f"c{col}"),
        )

    d38 = "decimal(38,0)"
    moms = (
        pairs.join(ranks("q"), "q")
        .join(ranks("d"), "d")
        .agg(
            F.sum(F.col("cnt").cast(d38) * F.col("cq") * F.col("cd")).cast(d38).alias("sxy"),
            F.sum(F.col("cnt").cast(d38) * F.col("cq") * F.col("cq")).cast(d38).alias("sxx"),
            F.sum(F.col("cnt").cast(d38) * F.col("cd") * F.col("cd")).cast(d38).alias("syy"),
        )
    )
    return moms.crossJoin(F.broadcast(n)).select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("sxy").cast("double")
            / (F.sqrt(F.col("sxx").cast("double")) * F.sqrt(F.col("syy").cast("double"))),
            6,
        ).alias("rho"),
    )


# ---------- q314: largest-remainder token apportionment (mixture infra)

# Allocate an exact 1,000,000-token budget across sources proportional
# to their token counts, Hamilton/largest-remainder method: floor
# shares via integer division, then the B - sum(floors) leftover units
# go to the largest remainders (B*cnt mod total), ties broken by
# source name. Every step is integer arithmetic on the |sources| TYPE
# frame; allocations sum to the budget EXACTLY — the property naive
# rounding of proportional shares does not have. This is the
# deterministic version of the mixture-weight sampling step (q100).
_APPORTION_ORACLE = """
WITH tc AS MATERIALIZED (
    SELECT source,
           CAST(SUM(LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)))
                AS BIGINT) AS tokens
    FROM documents GROUP BY source
), t AS MATERIALIZED (
    SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM tc
), base AS MATERIALIZED (
    SELECT source, tokens,
           (1000000 * tokens) // total AS fl,
           (1000000 * tokens) % total AS rem
    FROM tc, t
), extra AS (
    SELECT CAST(1000000 - SUM(fl) AS BIGINT) AS r FROM base
), ranked AS (
    SELECT source, tokens, fl,
           ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
    FROM base
)
SELECT source, tokens,
       CAST(fl + CASE WHEN rk <= (SELECT r FROM extra) THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked ORDER BY source
"""


@register("q314_token_apportionment", oracle=_APPORTION_ORACLE)
def q314(documents):
    """Hamilton apportionment of a 1M-token budget across sources
    (oracle comment)."""
    tc = documents.groupBy("source").agg(
        F.sum(F.size(T.tokens(F.col("text")))).cast("bigint").alias("tokens")
    )
    t = tc.agg(F.sum("tokens").cast("bigint").alias("total"))
    base = tc.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        F.expr("(1000000 * tokens) DIV total").alias("fl"),
        F.expr("(1000000 * tokens) % total").alias("rem"),
    )
    extra = base.agg((F.lit(1000000) - F.sum("fl")).cast("bigint").alias("r"))
    ranked = base.select(
        "source",
        "tokens",
        "fl",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")).alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(extra))
        .select(
            "source",
            "tokens",
            (F.col("fl") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0))
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )


# ---------- q313: mapInArrow int8 quantization (RecordBatch lane)

# The third rung of the Python-execution ladder (q57 scalar UDF, q55
# pandas UDF, q171 Arrow-optimized UDF): mapInArrow hands the worker
# raw pyarrow RecordBatches — no pandas conversion at all — which is
# the lane for columnar codecs like this int8 embedding quantizer.
# Per vector: q8sum = sum over dims of clip(trunc(x_f64 * 127), ±127)
# and q8l1 = sum |.|. Determinism: float32 -> float64 FIRST (the q166
# promotion rule), then trunc-toward-zero (np.trunc == DuckDB TRUNC;
# NOT np.round, whose half-even ties differ from SQL ROUND), so every
# output is an exact integer both engines agree on. Batches stream
# through the worker — memory is bounded by Arrow batch size, and the
# operation is embarrassingly parallel at any scale.
_Q8_ORACLE = """
SELECT vec_id,
       CAST(LIST_SUM(LIST_TRANSFORM(embedding,
            x -> GREATEST(LEAST(TRUNC(CAST(x AS DOUBLE) * 127), 127), -127)))
            AS BIGINT) AS q8sum,
       CAST(LIST_SUM(LIST_TRANSFORM(embedding,
            x -> ABS(GREATEST(LEAST(TRUNC(CAST(x AS DOUBLE) * 127), 127), -127))))
            AS BIGINT) AS q8l1
FROM embeddings ORDER BY vec_id
"""


@register("q313_map_in_arrow", oracle=_Q8_ORACLE)
def q313(embeddings):
    """int8 quantization stats computed on raw Arrow RecordBatches
    (oracle comment)."""
    import numpy as np
    import pyarrow as pa

    e = embeddings.select("vec_id", "embedding")

    def quantize(batches):
        for batch in batches:
            vec_id = batch.column("vec_id")
            emb = batch.column("embedding")
            if isinstance(emb, pa.ChunkedArray):  # pragma: no cover
                emb = emb.combine_chunks()
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            q = np.clip(np.trunc(flat * 127.0), -127, 127).astype(np.int64)
            n = len(batch)
            if n == 0:
                continue
            assert q.size % n == 0, "ragged embedding lists"
            m = q.reshape(n, -1)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(m.sum(axis=1)), pa.array(np.abs(m).sum(axis=1))],
                names=["vec_id", "q8sum", "q8l1"],
            )

    return e.mapInArrow(
        quantize, "vec_id bigint, q8sum bigint, q8l1 bigint"
    ).orderBy("vec_id")


# ---------- q315: Python Data Source WRITER (sink extension point)

# q264's missing half: the Spark 4 DataSourceWriter API. A slice of
# events goes OUT through the custom linerec sink (each task writes
# its own part file inside an executor Python worker — two-phase
# commit protocol, overwrite handled at plan time), comes BACK through
# the linerec reader, and is aggregated; the oracle computes the same
# aggregate from parquet, so a dropped partition, lost row, or
# serialization drift hash-mismatches. Slice is event_id % 20 = 1 —
# disjoint from q264's, so the two round-trips never share a scratch
# dir state by accident.
_PYDSW_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events WHERE event_id % 20 = 1
GROUP BY event_type ORDER BY event_type
"""


@register("q315_pyds_writer", oracle=_PYDSW_ORACLE)
def q315(spark, events):
    """Custom-sink round trip through the Python DataSourceWriter
    (oracle comment)."""
    from ..scratch import scratch_dir
    from ..sources import pyds

    sl = events.where(F.col("event_id") % 20 == 1).select(
        "event_id",
        "user_id",
        "event_type",
        cents("value").alias("cents"),
    )
    pyds.register(spark)
    d = scratch_dir("q315_linerec_sink")
    # 4 write tasks, not 32: each task spawns a Python worker for the
    # custom sink, and the slice is ~5% of events — worker startup
    # dominates beyond a few partitions at test scale
    sl.coalesce(4).write.format("linerec").option("path", d).mode("overwrite").save()
    rec = spark.read.format("linerec").option("path", d).load()
    return (
        rec.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------- q316: applyInArrow grouped map (per-label scatter audit)

# The grouped-map rung of the Arrow lane (q59 is its pandas twin): per
# label, the worker receives the WHOLE group as a pyarrow Table and
# emits one row of integer scatter evidence — trace_num = sum over
# dims of (n*S2_d - S1_d^2) on milli-quantized components (n^2 * Var
# summed across dims, kept as the exact integer NUMERATOR so no
# division or rounding exists anywhere). float32 -> float64 -> trunc
# mirrors q313; integer sums are order-independent, so the
# shuffle-dependent row order inside the group cannot change the
# answer. Guard: magnitudes stay < 2^63 up to ~1e8 rows/label.
_SCATTER_ORACLE = """
WITH q AS MATERIALIZED (
    SELECT label,
           LIST_TRANSFORM(embedding, x -> CAST(TRUNC(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), dims AS (
    SELECT label, r.i AS dim, q.v[r.i] AS x FROM q, RANGE(1, 65) r(i)
), m AS (
    SELECT label, dim, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
           CAST(SUM(x * x) AS BIGINT) AS s2
    FROM dims GROUP BY label, dim
)
SELECT CAST(label AS INT) AS label, CAST(MAX(n) AS BIGINT) AS n_vecs,
       CAST(SUM(n * s2 - s1 * s1) AS BIGINT) AS trace_num
FROM m GROUP BY label ORDER BY label
"""


@register("q316_apply_in_arrow", oracle=_SCATTER_ORACLE)
def q316(embeddings):
    """Per-label integer scatter via applyInArrow grouped map (oracle
    comment)."""
    import numpy as np
    import pyarrow as pa

    e = embeddings.select("label", "embedding")

    def scatter(table: "pa.Table") -> "pa.Table":
        label = table.column("label")[0].as_py()
        emb = table.column("embedding").combine_chunks()
        flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        m = np.trunc(flat * 1000.0).astype(np.int64)
        n = table.num_rows
        m = m.reshape(n, -1)
        if n * (2000**2) * n >= 2**63:  # n^2 * max(x^2) headroom
            raise OverflowError("q316: per-label moment exceeds int64")
        s1 = m.sum(axis=0, dtype=np.int64)
        s2 = (m * m).sum(axis=0, dtype=np.int64)
        trace = int((n * s2 - s1 * s1).sum())
        return pa.Table.from_arrays(
            [
                pa.array([label], pa.int32()),
                pa.array([n], pa.int64()),
                pa.array([trace], pa.int64()),
            ],
            names=["label", "n_vecs", "trace_num"],
        )

    return (
        e.groupBy("label")
        .applyInArrow(scatter, "label int, n_vecs bigint, trace_num bigint")
        .orderBy("label")
    )


# ---------- q317: Zipf rank-frequency slope (corpus-shape QA)

# OLS slope of ln(freq) on ln(rank) over the top-1000 terms — the
# standard "is this corpus natural language?" probe (healthy text sits
# near slope -1; scraped boilerplate and template spam bend the tail).
# Scale posture: the top-1000 cut is TakeOrderedAndProject (per-
# partition top-k, k rows to the driver-side merge — no global sort,
# no SinglePartition window over the vocabulary). Determinism: both
# lns are ROUND(LN(int),6) micro integers (identical integer inputs;
# irrational outputs never sit on the rounding grid), and the OLS
# slope/intercept are exact rationals of those integers, reported as
# positive-shift round-half-up micro units (slope is negative).
_ZIPF_ORACLE = """
WITH tf AS (
    SELECT term, COUNT(*) AS freq FROM (
        SELECT UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
        FROM documents
    ) GROUP BY term
), top AS (
    SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
    FROM tf ORDER BY freq DESC, term LIMIT 1000
), pts AS (
    SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
           CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS ly
    FROM top
), m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
           CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST((2 * ((n * sxy - sx * sy) + 10 * (n * sxx - sx * sx)) * 1000000
             + (n * sxx - sx * sx)) // (2 * (n * sxx - sx * sx))
            - 10000000 AS BIGINT) AS slope_micro,
       CAST((2 * ((sy * sxx - sx * sxy) + 100 * (n * sxx - sx * sx)) * 1000000
             + (n * sxx - sx * sx)) // (2 * (n * sxx - sx * sx))
            - 100000000 AS BIGINT) AS intercept_micro
FROM m
"""


@register("q317_zipf_slope", oracle=_ZIPF_ORACLE)
def q317(documents):
    """Zipf slope/intercept over the top-1000 term frequencies (oracle
    comment)."""
    tf = (
        documents.select(F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = (
        tf.orderBy(F.col("freq").desc(), "term")
        .limit(1000)
        .select(
            "freq",
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "term"))
            .alias("rnk"),
        )
    )
    micro = lambda c: F.round(F.log(c.cast("double")) * 1000000).cast("bigint")  # noqa: E731
    pts = top.select(micro(F.col("rnk")).alias("lx"), micro(F.col("freq")).alias("ly"))
    d38 = "decimal(38,0)"
    m = pts.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("lx").cast(d38).alias("sx"),
        F.sum("ly").cast(d38).alias("sy"),
        F.sum(F.col("lx").cast(d38) * F.col("lx")).cast(d38).alias("sxx"),
        F.sum(F.col("lx").cast(d38) * F.col("ly")).cast(d38).alias("sxy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.expr(
            "CAST(" + rhu(
                "((n * sxy - sx * sy) + 10 * (n * sxx - sx * sx)) * 1000000",
                "(n * sxx - sx * sx)",
            ) + " - 10000000 AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST(" + rhu(
                "((sy * sxx - sx * sxy) + 100 * (n * sxx - sx * sx)) * 1000000",
                "(n * sxx - sx * sx)",
            ) + " - 100000000 AS BIGINT)"
        ).alias("intercept_micro"),
    )


# ---------- q318: term burstiness (variance-to-mean over documents)

# Which terms CLUMP? The dispersion index VMR = Var/Mean over per-doc
# counts (zeros included) separates bursty topical terms (VMR >> 1)
# from evenly spread function words (VMR ~ 1) — a corpus-linguistics
# staple for stopword discovery and boilerplate detection. With
# n = |docs|, s1 = sum of counts, s2 = sum of squared counts (zero
# docs contribute nothing to either), VMR = (n*s2 - s1^2)/(n*s1) is an
# exact non-negative rational (Cauchy-Schwarz) reported round-half-up
# in micro units. Counts collapse to the (term, doc) TYPE frame; the
# final rank is top-20 by (vmr DESC, term) under min-support 50.
_BURST_ORACLE = """
WITH td AS (
    SELECT term, doc_id, COUNT(*) AS c FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
        FROM documents
    ) GROUP BY term, doc_id
), nn AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM documents
), m AS (
    SELECT term, CAST(SUM(c) AS HUGEINT) AS s1,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
    FROM td GROUP BY term
), v AS (
    SELECT term, s1,
           CAST((2 * (n * s2 - s1 * s1) * 1000000 + n * s1)
                // (2 * n * s1) AS BIGINT) AS vmr_micro
    FROM m, nn WHERE s1 >= 50
)
SELECT term, CAST(s1 AS BIGINT) AS n_occurrences, vmr_micro
FROM v ORDER BY vmr_micro DESC, term LIMIT 20
"""


@register("q318_term_burstiness", oracle=_BURST_ORACLE)
def q318(documents):
    """Top-20 overdispersed terms by exact-rational VMR (oracle
    comment)."""
    td = (
        documents.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    nn = documents.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    d38 = "decimal(38,0)"
    m = td.groupBy("term").agg(
        F.sum("c").cast(d38).alias("s1"),
        F.sum(F.col("c").cast(d38) * F.col("c")).cast(d38).alias("s2"),
    )
    v = (
        m.where(F.col("s1") >= 50)
        .crossJoin(F.broadcast(nn))
        .select(
            "term",
            F.col("s1").cast("bigint").alias("n_occurrences"),
            F.expr(
                f"CAST({rhu('(n * s2 - s1 * s1) * 1000000', 'n * s1')} AS BIGINT)"
            ).alias("vmr_micro"),
        )
    )
    return v.orderBy(F.col("vmr_micro").desc(), "term").limit(20)


# ---------- q319: bitemporal as-of lookup (valid time x transaction time)

# Two-axis temporal query: "what did we BELIEVE on T0 the price
# effective at V0 was?" — records carry valid_time (shipdate) and a
# transaction_time (shipdate + an md5-derived 0-29 day recording lag);
# the as-of pick is the max valid_time <= V0 among records with
# tx_time <= T0, with a unique (valid, tx, orderkey, linenumber)
# composite settling ties. One filtered struct-ARGMAX per part — a
# map-side-combinable aggregate, no window, no sort; the bitemporal
# pair (q113 SCD2 + q249 PIT cover each single axis) completes the
# temporal family.
_BITEMP_ORACLE = """
WITH obs AS (
    SELECT l_partkey AS partkey,
           l_shipdate AS valid_ts,
           l_shipdate
             + (('0x' || SUBSTR(MD5(CAST(l_orderkey AS VARCHAR) || ':'
                                 || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
                % 30) * INTERVAL '1 day' AS tx_ts,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           l_orderkey, l_linenumber
    FROM lineitem WHERE l_partkey % 50 = 0
), elig AS (
    SELECT * FROM obs
    WHERE valid_ts <= TIMESTAMP '1997-06-30 00:00:00'
      AND tx_ts   <= TIMESTAMP '1997-07-10 00:00:00'
), pick AS (
    SELECT partkey, valid_ts, tx_ts, cents,
           ROW_NUMBER() OVER (PARTITION BY partkey
                              ORDER BY valid_ts DESC, tx_ts DESC,
                                       l_orderkey DESC, l_linenumber DESC,
                                       cents DESC) AS rn
    FROM elig
)
SELECT partkey, valid_ts, tx_ts, cents
FROM pick WHERE rn = 1 ORDER BY partkey
"""


@register("q319_bitemporal_asof", oracle=_BITEMP_ORACLE)
def q319(lineitem):
    """Bitemporal as-of via filtered struct-argmax (oracle comment)."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    obs = lineitem.where(F.col("l_partkey") % 50 == 0).select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_shipdate").alias("valid_ts"),
        F.expr("l_shipdate").alias("_base"),
        (h % 30).cast("int").alias("_lag"),
        cents("l_extendedprice").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    obs = obs.withColumn(
        "tx_ts", F.expr("_base + make_interval(0, 0, 0, _lag, 0, 0, 0)")
    ).drop("_base", "_lag")
    elig = obs.where(
        (F.col("valid_ts") <= F.lit("1997-06-30 00:00:00").cast("timestamp_ntz"))
        & (F.col("tx_ts") <= F.lit("1997-07-10 00:00:00").cast("timestamp_ntz"))
    )
    pick = elig.groupBy("partkey").agg(
        F.max(
            F.struct("valid_ts", "tx_ts", "l_orderkey", "l_linenumber", "cents")
        ).alias("s")
    )
    return pick.select(
        "partkey",
        F.col("s.valid_ts").alias("valid_ts"),
        F.col("s.tx_ts").alias("tx_ts"),
        F.col("s.cents").alias("cents"),
    ).orderBy("partkey")


# ---------- q320: semi-supervised label propagation (10% seeds)

# Spread the 10% seed labels (vec_id % 10 = 0) over a sign-bucket
# similarity graph with 5 synchronous LPA rounds (operators/lpa.py —
# fixed round count, majority vote, min-label ties, clamped seeds).
# The graph is label-blind: vectors bucket by the sign pattern of
# their first max(6, ceil(log2(n/32))) components (an SRP hash —
# bucket WIDTH scales with n so expected bucket population stays ~32;
# the fixed 6-bit hash of rounds 8-9 made within-bucket pairs ∝ n²,
# the dominant term in BENCH_SF1 r9's 26x), and each node keeps its
# top-3 rounded-cosine neighbors WITHIN its bucket (WindowGroupLimit
# pushes the k=3 cut into the shuffle), so the pair stage is quadratic
# only inside constant-size buckets — the q51/q280 posture. A fixpoint
# with per-round aggregation is not SQL-expressible, so this is
# rows-only; the propagation semantics have a Python property twin and
# the graph stage reuses machinery oracled via q215/q286. At the test
# SFs (n <= 2000) the adaptive width stays 6 bits, so the twin-checked
# graph is unchanged.
@register("q320_label_propagation", tags=("iterative",))
def q320(embeddings):
    """5-round LPA over an SRP-bucketed top-3 neighbor graph (see
    comment; bucket bits ∝ log n)."""
    n = embeddings.count()
    bits = max(6, int((max(n, 1) + 31) // 32 - 1).bit_length())
    withb = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        V.norm(F.col("embedding")).alias("nrm"),
        F.concat(
            *[
                (F.element_at("embedding", i + 1) >= 0).cast("int").cast("string")
                for i in range(bits)
            ]
        ).alias("bkt"),
    )
    a = withb.select(
        "bkt",
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = withb.select(
        "bkt",
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = V.cosine_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    pairs = (
        a.join(b, ["bkt"])
        .where(F.col("va") != F.col("vb"))
        .select("va", "vb", sim.alias("sim"))
    )
    w = Window.partitionBy("va").orderBy(F.col("sim").desc(), "vb")
    knn = pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    edges = knn.select(
        F.least("va", "vb").alias("a"), F.greatest("va", "vb").alias("b")
    ).distinct()
    seeds = withb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("node"), F.col("label").cast("int").alias("label")
    )
    out = label_propagation(edges, seeds, rounds=5)
    return out.select(
        F.col("node").alias("vec_id"),
        F.col("label").alias("propagated_label"),
        "is_seed",
    ).orderBy("vec_id")


# ---------- q321: corpus card (one-row dataset profile)

# The dataset-card header block as ONE query: doc/token/vocab counts,
# type-token ratio, mean doc length, English share — every ratio an
# exact rational reported round-half-up in micro units. Two
# map-side-combinable aggregates (doc frame + token frame) and a
# count-distinct for vocabulary; no windows, no joins wider than a
# 1-row broadcast.
_CARD_ORACLE = """
WITH tok AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
    FROM documents
), t AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS vocab_size
    FROM tok
), d AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS n_en
    FROM documents
)
SELECT n_docs, n_tokens, vocab_size,
       CAST((2 * vocab_size * 1000000 + n_tokens) // (2 * n_tokens) AS BIGINT)
           AS ttr_micro,
       CAST((2 * n_tokens * 1000000 + n_docs) // (2 * n_docs) AS BIGINT)
           AS mean_len_micro,
       CAST((2 * n_en * 1000000 + n_docs) // (2 * n_docs) AS BIGINT)
           AS en_share_micro
FROM d, t
"""


@register("q321_corpus_card", oracle=_CARD_ORACLE)
def q321(documents):
    """One-row corpus profile in exact micro-unit rationals (oracle
    comment)."""
    tok = documents.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    t = tok.agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("term").cast("bigint").alias("vocab_size"),
    )
    dd = documents.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("n_en"),
    )
    return dd.crossJoin(F.broadcast(t)).selectExpr(
        "n_docs",
        "n_tokens",
        "vocab_size",
        f"CAST({rhu('vocab_size * 1000000', 'n_tokens')} AS BIGINT) AS ttr_micro",
        f"CAST({rhu('n_tokens * 1000000', 'n_docs')} AS BIGINT) AS mean_len_micro",
        f"CAST({rhu('n_en * 1000000', 'n_docs')} AS BIGINT) AS en_share_micro",
    )


# ---------- q322: per-source KL divergence from the corpus unigram LM

# KL(P_source || P_corpus) = sum_t p_st * ln(p_st / p_t) — the
# information-theoretic version of q293's keyness lift: how far each
# source's unigram distribution drifts from the pooled corpus (domain
# skew triage for mixture design, q100/q314). The log lift for each
# (source, term) — ln((c_st*N)/(n_s*c_t)), an exact-integer-ratio
# input — is DISCRETIZED once to micro units (q297 recipe), after
# which KL_micro = rhu(sum c_st*L_t / n_s) is integer arithmetic; the
# positive shift absorbs the slightly-negative sums quantization can
# produce near KL = 0. Counts live on the (source, term) TYPE frame.
_KL_ORACLE = """
WITH tok AS (
    SELECT source,
           UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
    FROM documents
), st AS MATERIALIZED (
    SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY source, term
), s AS MATERIALIZED (
    SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY source
), t AS MATERIALIZED (
    SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY term
), n AS (
    SELECT CAST(SUM(c_st) AS BIGINT) AS big_n FROM st
), contrib AS (
    SELECT st.source, st.c_st,
           CAST(ROUND(LN((CAST(c_st AS DOUBLE) * big_n)
                         / (CAST(n_s AS DOUBLE) * c_t)) * 1000000) AS BIGINT) AS l_micro
    FROM st JOIN s USING (source) JOIN t USING (term), n
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST((2 * (SUM(CAST(c_st AS HUGEINT) * l_micro) + CAST(s.n_s AS HUGEINT) * 1000000)
             + s.n_s) // (2 * CAST(s.n_s AS HUGEINT)) - 1000000 AS BIGINT) AS kl_micro
FROM contrib c JOIN s ON s.source = c.source
GROUP BY c.source, s.n_s ORDER BY c.source
"""


@register("q322_kl_divergence", oracle=_KL_ORACLE)
def q322(documents):
    """Source-vs-corpus unigram KL in discretized micro-nats (oracle
    comment)."""
    tok = documents.select("source", F.explode(T.tokens(F.col("text"))).alias("term"))
    # pinned: st feeds the source totals, term totals, grand total AND
    # the contribution join — unpinned, the tokenize+explode pass runs
    # four times (guide §2.4; before-plan: 9 Exchanges)
    st = (
        tok.groupBy("source", "term")
        .agg(F.count("*").alias("c_st"))
        .transform(pin)
    )
    s = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    t = st.groupBy("term").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    n = st.agg(F.sum("c_st").cast("bigint").alias("big_n"))
    contrib = (
        st.join(s, "source")
        .join(t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "c_st",
            "n_s",
            F.round(
                F.log(
                    (F.col("c_st").cast("double") * F.col("big_n"))
                    / (F.col("n_s").cast("double") * F.col("c_t"))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("l_micro"),
        )
    )
    d38 = "decimal(38,0)"
    return (
        contrib.groupBy("source", "n_s")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum(F.col("c_st").cast(d38) * F.col("l_micro")).cast(d38).alias("sl"),
        )
        .selectExpr(
            "source",
            "n_terms",
            "CAST(" + rhu(
                "(sl + CAST(n_s AS DECIMAL(38,0)) * 1000000)",
                "CAST(n_s AS DECIMAL(38,0))",
            ) + " - 1000000 AS BIGINT) AS kl_micro",
        )
        .orderBy("source")
    )


# ---------- q323: split-conformal forecast interval + coverage audit

# Distribution-free prediction intervals for the lag-7 naive forecast
# of daily revenue: residuals on the first-70% calibration window give
# q_hat as the nearest-rank ceil(0.9*(m+1)) order statistic; the audit
# reports empirical coverage of actual within +/- q_hat on the
# held-out 30%. Every quantity is integer cents / counts — ranks via
# one window over the |days| aggregate, coverage as a round-half-up
# micro share. This is the eval-side guarantee layer over the
# forecasting family (q94, q157, q290, q308).
_CONF_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), nn AS (
    SELECT COUNT(*) AS n FROM daily
), pred AS (
    SELECT a.rn, a.day, a.cents, b.cents AS yhat,
           ABS(a.cents - b.cents) AS resid
    FROM idx a JOIN idx b ON b.rn = a.rn - 7
), split AS MATERIALIZED (
    SELECT p.*, 7 + ((n - 7) * 7) // 10 AS cut FROM pred p, nn
), calib AS MATERIALIZED (
    SELECT resid, ROW_NUMBER() OVER (ORDER BY resid, rn) AS rr,
           COUNT(*) OVER () AS m
    FROM split WHERE rn <= cut
), qhat AS MATERIALIZED (
    SELECT resid AS q FROM calib
    WHERE rr = LEAST(CAST(CEIL(0.9 * (m + 1)) AS BIGINT), m)
)
SELECT CAST((SELECT MAX(m) FROM calib) AS BIGINT) AS n_calib,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       (SELECT CAST(q AS BIGINT) FROM qhat) AS qhat_cents,
       CAST((2 * COUNT(*) FILTER (resid <= (SELECT q FROM qhat)) * 1000000
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS coverage_micro
FROM split WHERE rn > cut
"""


@register("q323_conformal_coverage", oracle=_CONF_ORACLE)
def q323(orders):
    """Split-conformal interval for the lag-7 forecast with held-out
    coverage (oracle comment)."""
    daily = _daily_cents(orders)
    # pinned: idx feeds nn AND both sides of the lag-7 join; split feeds
    # the calibration AND test halves — unpinned, the daily aggregate +
    # global window run up to five times (guide §2.4; before-plan: 12
    # Exchanges)
    idx = daily.select(
        "day", "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    ).transform(pin)
    nn = idx.agg(F.count("*").alias("n"))
    pred = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("b.rn") == F.col("a.rn") - 7)
        .select(
            F.col("a.rn").alias("rn"),
            F.abs(F.col("a.cents") - F.col("b.cents")).alias("resid"),
        )
    )
    split = (
        pred.crossJoin(F.broadcast(nn))
        .withColumn("cut", F.expr("7 + ((n - 7) * 7) DIV 10"))
        .transform(pin)
    )
    wcal = Window.orderBy("resid", "rn")
    calib = (
        split.where(F.col("rn") <= F.col("cut"))
        .select("resid", F.row_number().over(wcal).alias("rr"))
        .withColumn("m", F.count("*").over(Window.partitionBy()))
    )
    qhat = calib.where(
        F.col("rr")
        == F.least(F.ceil(0.9 * (F.col("m") + 1)).cast("bigint"), F.col("m"))
    ).select(F.col("resid").alias("q"), F.col("m").alias("n_calib"))
    test = split.where(F.col("rn") > F.col("cut"))
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.max("n_calib").cast("bigint").alias("n_calib"),
            F.count("*").cast("bigint").alias("n_test"),
            F.max("q").cast("bigint").alias("qhat_cents"),
            F.expr(
                "CAST("
                + rhu("COUNT(CASE WHEN resid <= q THEN 1 END) * 1000000", "COUNT(*)")
                + " AS BIGINT)"
            ).alias("coverage_micro"),
        )
    )


# ---------- q324: Fellegi-Sunter multi-field linkage score

# Probabilistic record linkage over parts: candidate pairs from a
# (type, size DIV 5) block (q122's attribute-blocking posture —
# stated: candidate GENERATION is a recall/cost choice), scored by
# summing per-field agreement/disagreement log-odds ln(m/u) that are
# INTEGER LITERALS in both query texts (micro-nats, trained offline —
# the q269 discretization move), so the score is exact integer
# arithmetic: brand equality, size within 2, name levenshtein <= 2,
# price within 5% (all-integer cents test). Top-50 by (score DESC,
# a, b); threshold 0 drops clear non-matches early.
_FS_ORACLE = """
WITH p AS MATERIALIZED (
    SELECT p_partkey AS pk, p_name AS name, p_brand AS brand, p_type AS typ,
           p_size AS sz,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM part
), cand AS (
    SELECT a.pk AS a, b.pk AS b,
           (CASE WHEN a.brand = b.brand THEN 1386294 ELSE -693147 END
            + CASE WHEN ABS(a.sz - b.sz) <= 2 THEN 1098612 ELSE -510826 END
            + CASE WHEN levenshtein(a.name, b.name) <= 2 THEN 2079442 ELSE -223144 END
            + CASE WHEN ABS(a.cents - b.cents) * 20 <= LEAST(a.cents, b.cents)
                   THEN 916291 ELSE -356675 END) AS score_micro
    FROM p a JOIN p b
      ON a.typ = b.typ AND a.sz // 5 = b.sz // 5 AND a.pk < b.pk
)
SELECT a, b, CAST(score_micro AS BIGINT) AS score_micro
FROM cand WHERE score_micro > 0
ORDER BY score_micro DESC, a, b LIMIT 50
"""


def _q324_parts(part):
    return part.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("typ"),
        F.col("p_size").alias("sz"),
        F.expr("p_size DIV 5").alias("szb"),
        cents("p_retailprice").alias("cents"),
    )


def _q324_candidates(p):
    """Lossless multi-pass candidate generation for q324 (pk pairs).

    The all-pairs-within-(typ, szb)-block join grows quadratically with
    |part| (round-6 verdict's one ``weak``). Decomposition: with the
    integer log-odds weights, score_micro > 0 REQUIRES at least one of
      (i)   brand equality            (brand alone: +295649 > 0),
      (ii)  levenshtein(name) <= 2    (name alone: +518794 > 0),
      (iii) |sz diff| <= 2 AND price within 5% (both: +1098612 > 0;
            either one alone is negative — checked by enumerating all
            16 agree/disagree combinations),
    so the union of three equi-join passes covers every positive pair:
      pass 1: join on (typ, szb, brand);
      pass 2: join through the lev<=2 relation over DISTINCT names —
        the name vocabulary is a bounded adjective x noun cross (64
        values at every SF), so the relation is vocab-sized and
        broadcast, never |part|-sized;
      pass 3: join on (typ, szb, floor(20*log2(cents))) with a +0/1/2
        bucket probe — ratio <= 1.05 implies a bucket gap < 1.41, and
        floor gaps exceed the real gap by < 1, so +2 covers every
        5%-close pair even at fp boundaries; exact sz/price predicates
        re-applied inside the pass.
    Candidates are therefore bounded by pairs agreeing on a scoring
    field (output-proportional, the record-linkage posture), not
    |part|^2/|blocks|; the unchanged full-block oracle proves the
    decomposition lossless at every SF via the hash gate, and
    tests/test_properties.py cross-checks candidate coverage against a
    DuckDB enumeration of the positive set.
    """
    keep = ["pk", "typ", "szb", "name", "brand", "sz", "cents"]
    a = p.select(*keep).alias("a")
    b = p.select(*keep).alias("b")

    pass_brand = a.join(
        b,
        (F.col("a.typ") == F.col("b.typ"))
        & (F.col("a.szb") == F.col("b.szb"))
        & (F.col("a.brand") == F.col("b.brand"))
        & (F.col("a.pk") < F.col("b.pk")),
    ).select(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))

    names = p.select("name").distinct()
    name_pairs = (
        names.select(F.col("name").alias("nm1"))
        .crossJoin(F.broadcast(names.select(F.col("name").alias("nm2"))))
        .where(F.levenshtein(F.col("nm1"), F.col("nm2")) <= 2)
    )
    pass_name = (
        a.join(F.broadcast(name_pairs), F.col("a.name") == F.col("nm1"))
        .join(
            b,
            (F.col("b.name") == F.col("nm2"))
            & (F.col("a.typ") == F.col("b.typ"))
            & (F.col("a.szb") == F.col("b.szb"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))
    )

    pb = F.floor(F.lit(20.0) * F.log2(F.col("cents").cast("double"))).cast("int")
    x = p.select("pk", "typ", "szb", "sz", "cents", pb.alias("pb")).alias("x")
    y = (
        p.select("pk", "typ", "szb", "sz", "cents", pb.alias("pb"))
        .withColumn("off", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))))
        .withColumn("pb_probe", F.col("pb") + F.col("off"))
        .alias("y")
    )
    pass_price = (
        x.join(
            y,
            (F.col("x.typ") == F.col("y.typ"))
            & (F.col("x.szb") == F.col("y.szb"))
            & (F.col("x.pb") == F.col("y.pb_probe"))
            & (F.col("x.pk") != F.col("y.pk")),
        )
        .where(
            (F.abs(F.col("x.sz") - F.col("y.sz")) <= 2)
            & (
                F.abs(F.col("x.cents") - F.col("y.cents")) * 20
                <= F.least(F.col("x.cents"), F.col("y.cents"))
            )
        )
        .select(
            F.least(F.col("x.pk"), F.col("y.pk")).alias("a"),
            F.greatest(F.col("x.pk"), F.col("y.pk")).alias("b"),
        )
    )

    return (
        pass_brand.unionByName(pass_name)
        .unionByName(pass_price)
        .dropDuplicates(["a", "b"])
    )


def _q324_score(l: str, r: str):
    """The four-field Fellegi-Sunter log-odds sum over prefixed column
    pairs — evaluated INSIDE each candidate pass, where both sides'
    fields are already on the row, so no join-back is ever needed."""
    return (
        F.when(F.col(f"{l}.brand") == F.col(f"{r}.brand"), 1386294).otherwise(-693147)
        + F.when(
            F.abs(F.col(f"{l}.sz") - F.col(f"{r}.sz")) <= 2, 1098612
        ).otherwise(-510826)
        + F.when(
            F.levenshtein(F.col(f"{l}.name"), F.col(f"{r}.name")) <= 2, 2079442
        ).otherwise(-223144)
        + F.when(
            F.abs(F.col(f"{l}.cents") - F.col(f"{r}.cents")) * 20
            <= F.least(F.col(f"{l}.cents"), F.col(f"{r}.cents")),
            916291,
        ).otherwise(-356675)
    ).cast("bigint")


def _q324_scored_topk(p, k=50):
    """The three q324 candidate passes with IN-PASS scoring and per-pass
    local top-k — the round-10 scale fix for BENCH_SF1 r9's 134x.

    The round-7 decomposition (_q324_candidates) is lossless but
    materialized every candidate pair through a cross-pass
    dropDuplicates shuffle plus two join-backs for scoring; with the
    fixed attribute vocabulary, within-pass block density ∝ n makes
    that pair stream ∝ n², and the shuffles paid ~n² rows. Here each
    pass (a) carries both sides' scoring fields on the joined row, so
    the score is computed where the pair is born, and (b) is
    duplicate-free BY CONSTRUCTION (brand/name passes emit a.pk < b.pk
    through unique join paths; the price pass's only duplicate source
    — the symmetric off=0 probe — is cut by (off > 0) OR (x.pk <
    y.pk)), so each pass can be pruned to its own top-k with a
    TakeOrdered (per-partition heap + driver merge of k rows, NO
    shuffle of the pair stream).

    Exactness of the prune: the final answer is the global top-k
    distinct positive pairs under the total order (score DESC, a, b).
    Every such pair appears in >= 1 pass; within that pass the pairs
    ordered ahead of it are a subset of the < k pairs ordered ahead of
    it globally (passes are duplicate-free), so it survives the pass's
    local top-k. The pair stream still flows through the three joins,
    but only 3k rows ever reach a shuffle. The unchanged full-block
    oracle proves all of this at every SF via the hash gate."""
    keep = ["pk", "typ", "szb", "name", "brand", "sz", "cents"]
    a = p.select(*keep).alias("a")
    b = p.select(*keep).alias("b")

    def topk(scored):
        return (
            scored.where(F.col("score_micro") > 0)
            .orderBy(F.col("score_micro").desc(), "a", "b")
            .limit(k)
        )

    pass_brand = topk(
        a.join(
            b,
            (F.col("a.typ") == F.col("b.typ"))
            & (F.col("a.szb") == F.col("b.szb"))
            & (F.col("a.brand") == F.col("b.brand"))
            & (F.col("a.pk") < F.col("b.pk")),
        ).select(
            F.col("a.pk").alias("a"),
            F.col("b.pk").alias("b"),
            _q324_score("a", "b").alias("score_micro"),
        )
    )

    names = p.select("name").distinct()
    name_pairs = (
        names.select(F.col("name").alias("nm1"))
        .crossJoin(F.broadcast(names.select(F.col("name").alias("nm2"))))
        .where(F.levenshtein(F.col("nm1"), F.col("nm2")) <= 2)
    )
    pass_name = topk(
        a.join(F.broadcast(name_pairs), F.col("a.name") == F.col("nm1"))
        .join(
            b,
            (F.col("b.name") == F.col("nm2"))
            & (F.col("a.typ") == F.col("b.typ"))
            & (F.col("a.szb") == F.col("b.szb"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(
            F.col("a.pk").alias("a"),
            F.col("b.pk").alias("b"),
            _q324_score("a", "b").alias("score_micro"),
        )
    )

    pb = F.floor(F.lit(20.0) * F.log2(F.col("cents").cast("double"))).cast("int")
    x = p.select(*keep, pb.alias("pb")).alias("x")
    y = (
        p.select(*keep, pb.alias("pb"))
        .withColumn("off", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))))
        .withColumn("pb_probe", F.col("pb") + F.col("off"))
        .alias("y")
    )
    pass_price = topk(
        x.join(
            y,
            (F.col("x.typ") == F.col("y.typ"))
            & (F.col("x.szb") == F.col("y.szb"))
            & (F.col("x.pb") == F.col("y.pb_probe"))
            & (F.col("x.pk") != F.col("y.pk")),
        )
        .where(
            # off=0 matches both directions of a pair; keep one. off>0
            # pairs are direction-unique already (pb strictly differs).
            ((F.col("off") > 0) | (F.col("x.pk") < F.col("y.pk")))
            & (F.abs(F.col("x.sz") - F.col("y.sz")) <= 2)
            & (
                F.abs(F.col("x.cents") - F.col("y.cents")) * 20
                <= F.least(F.col("x.cents"), F.col("y.cents"))
            )
        )
        .select(
            F.least(F.col("x.pk"), F.col("y.pk")).alias("a"),
            F.greatest(F.col("x.pk"), F.col("y.pk")).alias("b"),
            _q324_score("x", "y").alias("score_micro"),
        )
    )
    return pass_brand.unionByName(pass_name).unionByName(pass_price)


def _q324_bn_topk(p, k=50):
    """Top-k among pairs agreeing on BOTH brand and name(lev<=2) within
    the (typ, szb) block — the four highest score tiers (5480639,
    4207673, 3871201, 2598235) are exactly the brand∧name tiers, and
    their values are DISJOINT from every other tier's (max elsewhere:
    SNP = 3401198). Join path unique (a → vocab-sized lev relation → b
    with a.pk < b.pk), so the stream is duplicate-free and TakeOrdered
    prunes it to k rows with no shuffle."""
    keep = ["pk", "typ", "szb", "name", "brand", "sz", "cents"]
    a = p.select(*keep).alias("a")
    b = p.select(*keep).alias("b")
    names = p.select("name").distinct()
    name_pairs = (
        names.select(F.col("name").alias("nm1"))
        .crossJoin(F.broadcast(names.select(F.col("name").alias("nm2"))))
        .where(F.levenshtein(F.col("nm1"), F.col("nm2")) <= 2)
    )
    return (
        a.join(F.broadcast(name_pairs), F.col("a.name") == F.col("nm1"))
        .join(
            b,
            (F.col("b.name") == F.col("nm2"))
            & (F.col("a.typ") == F.col("b.typ"))
            & (F.col("a.szb") == F.col("b.szb"))
            & (F.col("a.brand") == F.col("b.brand"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(
            F.col("a.pk").alias("a"),
            F.col("b.pk").alias("b"),
            _q324_score("a", "b").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "a", "b")
        .limit(k)
    )


#: Highest score a pair NOT agreeing on both brand and name can reach
#: (the SNP tier: brand disagree, sz+name+price agree... i.e. the max
#: over all non-brand∧name agree/disagree combinations).
_Q324_NON_BN_MAX = 3401198


@register("q324_fs_linkage", oracle=_FS_ORACLE)
def q324(spark, part):
    """Fellegi-Sunter linkage with integer-literal log-odds (oracle
    comment). Adaptive two-phase exact top-50: phase 1 enumerates only
    the brand∧name-agreeing pairs (the four top score tiers, a highly
    selective equi-join); if the 50th such score exceeds the best
    possible non-brand∧name score (tier values are disjoint integers,
    so > is exact), the global top-50 is provably inside phase 1 and
    the quadratic sz/price candidate streams are never generated — on
    a near-dup-heavy corpus (the 10x upsample: 252M pairs survive the
    exact size+price filters) this is the only output-proportional
    path. Otherwise fall back to the three duplicate-free scored
    passes (_q324_scored_topk), each pruned to its local top-50 by
    TakeOrdered. Both phases are exact, so the unchanged full-block
    oracle hash-gates whichever branch ran."""
    p = _q324_parts(part)
    bn = _q324_bn_topk(p, 50)
    head = bn.collect()  # <= 50 rows, driver-bounded
    if len(head) == 50 and head[-1]["score_micro"] > _Q324_NON_BN_MAX:
        return spark.createDataFrame(head, bn.schema)
    return (
        _q324_scored_topk(p, 50)
        .dropDuplicates(["a", "b"])
        .orderBy(F.col("score_micro").desc(), "a", "b")
        .limit(50)
    )


# ---------- q325: incremental maintenance of a JOIN view (delta rule)

# q117 maintains an AGGREGATE incrementally; this is the join-view
# delta rule dV = dA |X| B — the refresh path a materialized
# orders-x-lineitem revenue view takes when one day of orders arrives.
# The returned frame IS the incrementally maintained view:
# V(base) + agg(delta |X| lineitem), combined by a unionByName +
# re-aggregate (exact integer cents, so merging partials is lossless);
# the oracle recomputes the view from scratch over base+delta —
# equality proves the delta rule. Scale: the delta join touches only
# delta-order lineitems (join on the delta's orderkeys), never the
# full fact-x-fact product.
_IVM_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS rev_cents
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("q325_join_ivm", oracle=_IVM_ORACLE)
def q325(orders, lineitem):
    """Join-view maintained by the delta rule; returned view must equal
    the from-scratch recompute (oracle comment)."""
    cut_lo = F.lit("1998-05-01 00:00:00").cast("timestamp_ntz")
    cut_hi = F.lit("1998-06-01 00:00:00").cast("timestamp_ntz")

    def view(orders_slice):
        return (
            orders_slice.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(cents("l_extendedprice")).alias("rev_cents"),
            )
        )

    base_view = view(orders.where(F.col("o_orderdate") < cut_lo))
    delta_view = view(
        orders.where((F.col("o_orderdate") >= cut_lo) & (F.col("o_orderdate") < cut_hi))
    )
    return (
        base_view.unionByName(delta_view)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------- q326: exact weighted Jaccard between source vocabularies

# W-Jaccard(A,B) = sum_t min(c_At, c_Bt) / sum_t max(c_At, c_Bt) — the
# count-aware overlap that plain Jaccard (q109) and the MinHash
# estimate (q263) both flatten to sets. Only the SHARED-term join is
# materialized: sum max = n_A + n_B - sum min, so exclusive terms
# never join (absent count -> min 0). Exact integers end-to-end,
# round-half-up micro units, |sources|^2 output — the TYPE-frame
# posture throughout.
_WJACC_ORACLE = """
WITH st AS MATERIALIZED (
    SELECT source, term, COUNT(*) AS c FROM (
        SELECT source,
               UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
        FROM documents
    ) GROUP BY source, term
), tot AS MATERIALIZED (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY source
), shared AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
    FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT s.src_a, s.src_b, s.sum_min,
       CAST(ta.n + tb.n - s.sum_min AS BIGINT) AS sum_max,
       CAST((2 * s.sum_min * 1000000 + (ta.n + tb.n - s.sum_min))
            // (2 * (ta.n + tb.n - s.sum_min)) AS BIGINT) AS wjacc_micro
FROM shared s
JOIN tot ta ON ta.source = s.src_a
JOIN tot tb ON tb.source = s.src_b
ORDER BY s.src_a, s.src_b
"""


@register("q326_weighted_jaccard", oracle=_WJACC_ORACLE)
def q326(documents):
    """Exact count-weighted Jaccard per source pair (oracle comment)."""
    st = (
        documents.select("source", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    tot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    shared = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).cast("bigint").alias("sum_min"))
    )
    return (
        shared.join(F.broadcast(tot.withColumnRenamed("source", "src_a").withColumnRenamed("n", "na")), "src_a")
        .join(F.broadcast(tot.withColumnRenamed("source", "src_b").withColumnRenamed("n", "nb")), "src_b")
        .selectExpr(
            "src_a",
            "src_b",
            "sum_min",
            "CAST(na + nb - sum_min AS BIGINT) AS sum_max",
            f"CAST({rhu('sum_min * 1000000', '(na + nb - sum_min)')} AS BIGINT)"
            " AS wjacc_micro",
        )
        .orderBy("src_a", "src_b")
    )


# ---------- q327: SPRT sequential conversion monitor (daily LLR walk)

# Wald's sequential probability ratio test on the purchase share:
# H0 p=0.25 vs H1 p=0.30, alpha = beta = 0.05. Per-event LLR
# increments are INTEGER LITERALS in micro-nats (q269 discretization:
# conv -> ln(.30/.25), other -> ln(.70/.75)), so the cumulative walk
# over DAILY aggregates (conv_d * 182322 - other_d * 68993) is exact
# integer arithmetic; boundaries +/- ln(19) = +/- 2944439 micro-nats.
# One ordered window over the |days| frame above a map-side-combinable
# daily aggregate; output is the first boundary crossing (or the final
# state if the test never concludes).
_SPRT_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) FILTER (event_type = 'purchase') AS conv,
           COUNT(*) FILTER (event_type <> 'purchase') AS other
    FROM events GROUP BY 1
), walk AS MATERIALIZED (
    SELECT day,
           SUM(conv * 182322 - other * 68993)
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr
    FROM daily
), crossed AS MATERIALIZED (
    SELECT day, llr,
           CASE WHEN llr >= 2944439 THEN 'accept_h1'
                WHEN llr <= -2944439 THEN 'accept_h0' END AS decision,
           ROW_NUMBER() OVER (ORDER BY day) AS rn
    FROM walk WHERE llr >= 2944439 OR llr <= -2944439
), final AS (
    SELECT day, llr, 'continue' AS decision,
           ROW_NUMBER() OVER (ORDER BY day DESC) AS rn
    FROM walk
)
SELECT day, CAST(llr AS BIGINT) AS llr_micro, decision
FROM crossed WHERE rn = 1
UNION ALL
SELECT day, CAST(llr AS BIGINT) AS llr_micro, decision
FROM final
WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM crossed)
"""


@register("q327_sprt_monitor", oracle=_SPRT_ORACLE)
def q327(events):
    """First SPRT boundary crossing of the daily conversion LLR walk
    (oracle comment)."""
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("conv"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias("other"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.select(
        "day",
        F.sum(F.col("conv") * 182322 - F.col("other") * 68993).over(w).alias("llr"),
    )
    crossed = (
        walk.where((F.col("llr") >= 2944439) | (F.col("llr") <= -2944439))
        .withColumn(
            "decision",
            F.when(F.col("llr") >= 2944439, "accept_h1").otherwise("accept_h0"),
        )
        .withColumn("rn", F.row_number().over(Window.orderBy("day")))
        .where(F.col("rn") == 1)
        .select("day", F.col("llr").cast("bigint").alias("llr_micro"), "decision")
    )
    final = (
        walk.withColumn("rn", F.row_number().over(Window.orderBy(F.col("day").desc())))
        .where(F.col("rn") == 1)
        .select(
            "day",
            F.col("llr").cast("bigint").alias("llr_micro"),
            F.lit("continue").alias("decision"),
        )
    )
    return crossed.unionAll(
        final.crossJoin(
            F.broadcast(crossed.groupBy().agg(F.count("*").alias("nc")))
        )
        .where(F.col("nc") == 0)
        .select("day", "llr_micro", "decision")
    )


# ---------- q328: dynamic partition overwrite (partitioned-table ops)

# The warehouse-maintenance primitive: a month-partitioned revenue
# table gets ONE month recomputed and overwritten in place with
# spark.sql.sources.partitionOverwriteMode=dynamic — only partitions
# present in the incoming frame are replaced; every other month's
# files are untouched (verified by reading the table back and
# aggregating ALL months). The oracle computes the same per-month
# totals straight from orders, so a clobbered or stale partition
# hash-mismatches. Scratch layout is the q264 keyed-dir pattern;
# dynamic mode is set ONLY for this writer via .option(), not session-
# wide.
_DPO_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS rev_cents
FROM orders GROUP BY 1 ORDER BY month
"""


@register("q328_dynamic_partition_overwrite", oracle=_DPO_ORACLE)
def q328(spark, orders):
    """Month-partitioned write, dynamic single-partition overwrite,
    full read-back audit (oracle comment)."""
    from ..scratch import scratch_dir

    monthly = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        cents("o_totalprice").alias("cents"),
    )
    d = scratch_dir("q328_monthly")
    # full load, static overwrite
    monthly.write.mode("overwrite").partitionBy("month").parquet(d)
    # recompute ONE month and dynamically overwrite just that partition
    target = monthly.where(F.col("month") == "1997-06")
    (
        target.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("month")
        .parquet(d)
    )
    back = spark.read.parquet(d)
    return (
        back.groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
        .orderBy("month")
    )


# ---------- q329: expanding-window time-series cross-validation

# Leakage-safe CV for forecasting (the temporal counterpart of q273's
# random folds): five folds whose validation blocks tile the
# post-warmup day range, each scored with history strictly before it
# (the lag-7 naive forecast only ever looks 7 days back, so fold
# boundaries guarantee no future leakage). Boundaries are integer
# DIV grid points of the |days| count; MAE per fold is a
# round-half-up integer over exact cent residuals. All work sits
# above the daily aggregate.
_TSCV_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), nn AS (
    SELECT COUNT(*) AS n FROM daily
), pred AS (
    SELECT a.rn, ABS(a.cents - b.cents) AS resid
    FROM idx a JOIN idx b ON b.rn = a.rn - 7
), folds AS (
    SELECT f.f,
           7 + ((n - 7) * (f.f - 1)) // 5 AS lo,
           7 + ((n - 7) * f.f) // 5 AS hi
    FROM range(1, 6) f(f), nn
)
SELECT CAST(f.f AS INT) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       CAST((2 * SUM(resid) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mae_cents
FROM folds f JOIN pred p ON p.rn > f.lo AND p.rn <= f.hi
GROUP BY f.f ORDER BY fold
"""


@register("q329_time_series_cv", oracle=_TSCV_ORACLE)
def q329(spark, orders):
    """Five expanding-window folds scoring the lag-7 forecast (oracle
    comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    nn = idx.agg(F.count("*").alias("n"))
    pred = (
        idx.alias("a")
        .join(idx.alias("b"), F.col("b.rn") == F.col("a.rn") - 7)
        .select(
            F.col("a.rn").alias("rn"),
            F.abs(F.col("a.cents") - F.col("b.cents")).alias("resid"),
        )
    )
    folds = (
        spark.range(1, 6)
        .select(F.col("id").alias("f"))
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "f",
            "7 + ((n - 7) * (f - 1)) DIV 5 AS lo",
            "7 + ((n - 7) * f) DIV 5 AS hi",
        )
    )
    return (
        F.broadcast(folds)
        .join(pred, (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("hi")))
        .groupBy("f")
        .agg(
            F.count("*").cast("bigint").alias("n_valid"),
            F.expr(f"CAST({rhu('SUM(resid)', 'COUNT(*)')} AS BIGINT)").alias(
                "mae_cents"
            ),
        )
        .select(F.col("f").cast("int").alias("fold"), "n_valid", "mae_cents")
        .orderBy("fold")
    )


# ---------- q330: leave-last-out popularity hit rate@10 (recsys eval)

# The recommender-eval baseline every personalized model must beat:
# hold out each user's LAST event (by ts, event_id), rank items (the
# props.k field, 100 ids) by TRAIN popularity — holdouts excluded from
# the counts, the classic leave-one-out protocol — and score the share
# of users whose held-out item sits in the global top-10 (count DESC,
# k tiebreak). Joins the eval family (AUC q207, NDCG q269, MRR q303)
# on the interaction side. Integer end-to-end; the only wide ops are
# one user-window for the holdout and one item-count aggregate.
_HITRATE_ORACLE = """
WITH ev AS MATERIALIZED (
    SELECT event_id, user_id, ts,
           CAST(json_extract(props, '$.k') AS INT) AS item
    FROM events
), ho AS (
    SELECT event_id, user_id, item,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
), holdout AS MATERIALIZED (
    SELECT event_id, user_id, item FROM ho WHERE rn = 1
), train AS (
    SELECT item FROM ev
    WHERE event_id NOT IN (SELECT event_id FROM holdout)
), pop AS MATERIALIZED (
    SELECT item, COUNT(*) AS cnt FROM train GROUP BY item
    ORDER BY cnt DESC, item LIMIT 10
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (item IN (SELECT item FROM pop)) AS BIGINT) AS hits,
       CAST((2 * COUNT(*) FILTER (item IN (SELECT item FROM pop)) * 1000000
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS hitrate_micro
FROM holdout
"""


@register("q330_hitrate_popularity", oracle=_HITRATE_ORACLE)
def q330(events):
    """Leave-last-out hit rate@10 of the popularity baseline (oracle
    comment)."""
    ev = events.select(
        "event_id",
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    holdout = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "item")
    )
    train = ev.join(holdout.select("event_id"), "event_id", "left_anti")
    pop = (
        train.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "item")
        .limit(10)
        .select("item")
    )
    scored = holdout.join(
        F.broadcast(pop.withColumn("hit", F.lit(1))), "item", "left"
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("hits"),
        F.expr(
            f"CAST({rhu('SUM(COALESCE(hit, 0)) * 1000000', 'COUNT(*)')} AS BIGINT)"
        ).alias("hitrate_micro"),
    )

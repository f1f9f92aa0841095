"""Rounds 4-5 analytics surface (q152+): graph clustering/triangles, data
profiling, anomaly scoring, weighted sampling, BPE-style tokenization,
exact-arith smoothing, mergeable-bitmap distinct counts, deterministic
sketches (KMV, count-min), exact histogram-ntile consumers, and
calendar/forensics/merge-audit ops.

Determinism rules follow queries/relational.py's module docstring: exact
integer/decimal arithmetic wherever sums occur (integer cents and
round-half-up come from functions/exact.py), ROUND(6+) before ranking on
transcendental outputs, unique ORDER BY tiebreakers under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exact import cents, rhu
from ..session import pin
from . import register
from ..operators import banding as B
from ..operators.dedup_pipeline import connected_components
from ..operators.quantiles import exact_ntile_counts
from .llm import _LSH_PAIRS_ORACLE, _minhash_corpus


# ------------------------------------- q152: connected components (graph)

# Oracle: the q44 candidate-pair CTEs + a recursive min-label walk. The
# recursion materializes (node, label) pairs per component, i.e. O(size^2)
# states per component — safe here because LSH candidate components are
# dup clusters (star/clique around a mutated copy), and the band-bucket
# cap bounds any boilerplate blowup on both engines identically.
_CC_ORACLE = _LSH_PAIRS_ORACLE.replace(
    "WITH corpus AS", "WITH RECURSIVE corpus AS", 1
).replace(
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
    "FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id",
    """, pairs AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
), und AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
), walk(node, label) AS (
    SELECT DISTINCT src, src FROM und
    UNION
    SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
), cc AS MATERIALIZED (
    SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM cc GROUP BY component ORDER BY component""",
)


@register("q152_dup_components", oracle=_CC_ORACLE)
def q152(documents):
    """Connected components over the MinHash-LSH candidate-pair graph
    (iterative min-label propagation with pointer doubling,
    operators/dedup_pipeline.py) — the distributed-graph step of corpus
    dedup exposed as its own operator, hash-checked against a recursive-
    CTE oracle. Component label = min doc_id reachable, so labels are
    engine-independent."""
    pairs = B.candidate_pairs(_minhash_corpus(documents))
    cc = connected_components(pairs.select("doc_a", "doc_b"))
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("component")
    )


# ------------------------------------------- q153: table/column profiling

_PROFILE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT)                           AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)          AS custkey_distinct,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT)        AS custkey_nulls,
       CAST(MIN(o_custkey) AS BIGINT)                     AS custkey_min,
       CAST(MAX(o_custkey) AS BIGINT)                     AS custkey_max,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)      AS status_distinct,
       MIN(o_orderstatus)                                 AS status_min,
       MAX(o_orderstatus)                                 AS status_max,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_min,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_max,
       CAST(DATEDIFF('day', DATE '1970-01-01', CAST(MIN(o_orderdate) AS DATE)) AS BIGINT)
                                                          AS date_min_day,
       CAST(DATEDIFF('day', DATE '1970-01-01', CAST(MAX(o_orderdate) AS DATE)) AS BIGINT)
                                                          AS date_max_day
FROM orders
"""


@register("q153_column_profile", oracle=_PROFILE_ORACLE)
def q153(orders):
    """One-pass column profiling (the ANALYZE TABLE / data-quality scan a
    pipeline runs before training): row count, per-column null counts,
    exact distincts, min/max — all in a single wide aggregate so the scan
    happens once. Dates reduced to epoch-day BIGINTs and doubles to
    DECIMAL(18,2) so every value is engine-exact."""
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        (F.count("*") - F.count("o_custkey")).alias("custkey_nulls"),
        F.min("o_custkey").alias("custkey_min"),
        F.max("o_custkey").alias("custkey_max"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.min("o_orderstatus").alias("status_min"),
        F.max("o_orderstatus").alias("status_max"),
        F.sum(dec).cast("double").alias("price_sum"),
        F.min(dec).cast("double").alias("price_min"),
        F.max(dec).cast("double").alias("price_max"),
        F.datediff(F.min(F.col("o_orderdate").cast("date")), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("date_min_day"),
        F.datediff(F.max(F.col("o_orderdate").cast("date")), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("date_max_day"),
    )


# --------------------------------------- q154: per-group z-score outliers

# Exact moments: cents (BIGINT) and cents^2 sums are integer-exact in both
# engines; mean/var/std are then computed from IDENTICAL doubles, and IEEE
# division/sqrt of identical inputs is identical. z is rounded to 4 before
# the threshold comparison so the cut is on the rounded value.
_ZSCORE_ORACLE = """
WITH cents AS MATERIALIZED (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM lineitem
), stats AS (
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(c) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
           CAST(CAST(SUM(c * c) AS DECIMAL(38,0)) AS DOUBLE) AS s2
    FROM cents GROUP BY flag
), z AS (
    SELECT c.flag, c.c,
           ROUND((c.c - s.s1 / s.n) / SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 4) AS zr
    FROM cents c JOIN stats s ON c.flag = s.flag
)
SELECT flag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN ABS(zr) > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(MAX(zr), 4) AS max_z
FROM z GROUP BY flag ORDER BY flag
"""


@register("q154_zscore_outliers", oracle=_ZSCORE_ORACLE)
def q154(lineitem):
    """Per-group anomaly scoring: z-score of l_extendedprice within each
    returnflag group, counting |z| > 2.5 outliers. Group stats (3 rows)
    broadcast back onto the fact — two scans of the same cached-in-OS
    parquet, zero fact-side shuffle beyond the 3-key aggregate."""
    priced = lineitem.select(
        F.col("l_returnflag").alias("flag"), cents("l_extendedprice").alias("c")
    )
    stats = priced.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("decimal(38,0)").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").cast("double").alias("s2"),
    )
    z = priced.join(F.broadcast(stats), "flag").select(
        "flag",
        F.round(
            (F.col("c") - F.col("s1") / F.col("n"))
            / F.sqrt(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))),
            4,
        ).alias("zr"),
    )
    return (
        z.groupBy("flag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.abs("zr") > 2.5, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max("zr"), 4).alias("max_z"),
        )
        .orderBy("flag")
    )


# ------------------------------------ q155: deterministic weighted sample

# A-ES weighted sampling with a seeded hash in place of RNG: u derives
# from md5(doc_id) (identical hex in both engines), priority = -ln(u)/w.
# ln may differ in the last ulp between libm implementations, so the
# priority is ROUNDed to 9 and ranked on the rounded value with doc_id as
# the unique tiebreaker (CLAUDE.md determinism rules).
_WSAMPLE_ORACLE = """
WITH keyed AS (
    SELECT doc_id, n_chars,
           ROUND(
             -LN((('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
                 / 4294967297.0) / n_chars,
             9) AS priority
    FROM documents WHERE n_chars > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars, priority
FROM keyed ORDER BY priority, doc_id LIMIT 20
"""


@register("q155_weighted_sample", oracle=_WSAMPLE_ORACLE)
def q155(documents):
    """Weighted sampling without replacement (Efraimidis-Spirakis via
    exponential keys): deterministic hash-derived uniform, priority
    -ln(u)/weight, global top-k by priority. Distributed shape: per-
    partition top-k then TakeOrderedAndProject — no shuffle of the corpus,
    only k rows per partition reach the driver-side merge."""
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    keyed = documents.where(F.col("n_chars") > 0).select(
        "doc_id",
        "n_chars",
        F.round(-F.log(u) / F.col("n_chars"), 9).alias("priority"),
    )
    return keyed.orderBy("priority", "doc_id").limit(20)


# -------------------------------------- q156: BPE-style regex tokenization

# GPT-2-flavoured pretokenizer regex, restricted to constructs whose
# semantics agree between Java regex (Spark) and RE2 (DuckDB): leftmost
# alternation of space-prefixed letter runs, digit runs, punctuation runs,
# and whitespace. No lookarounds (RE2 has none).
_BPE_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

_BPE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source, LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_RE}')) AS n_tok,
           LENGTH(text) AS n_char
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
       ROUND(CAST(SUM(n_char) AS DOUBLE) / SUM(n_tok), 6) AS chars_per_token
FROM toks GROUP BY source ORDER BY source
"""


@register("q156_bpe_token_count", oracle=_BPE_ORACLE)
def q156(documents):
    """Token counting with a BPE-ish pretokenizer regex (space-prefixed
    word/number/punct runs — the GPT-2 pattern minus lookarounds): per-
    source token totals and chars-per-token, the budget numbers an LLM
    data pipeline reports. Pure JVM regex per row, map-side combinable
    aggregate — no Python in the loop."""
    toks = documents.select(
        "source",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")).alias("n_tok"),
        F.length("text").alias("n_char"),
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.max("n_tok").cast("bigint").alias("max_tokens"),
            F.round(F.sum("n_char").cast("double") / F.sum("n_tok"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


# --------------------------------- q157: integer-exact EWMA (8-tap filter)

# Truncated exponential smoothing y_t = sum_{j=0..7} 2^(7-j) x_{t-j} /
# sum 2^(7-j): numerator and denominator are exact BIGINT sums of cents,
# the single final division is IEEE-identical across engines.
_EWMA_TAPS = 8

_EWMA_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id, ts,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE user_id % 100 = 0
), lagged AS (
    SELECT user_id, event_id,
           {" + ".join(f"COALESCE(LAG(c, {j}) OVER w * {1 << (_EWMA_TAPS - 1 - j)}, 0)" for j in range(_EWMA_TAPS))} AS num,
           {" + ".join(f"(CASE WHEN LAG(c, {j}) OVER w IS NOT NULL THEN {1 << (_EWMA_TAPS - 1 - j)} ELSE 0 END)" for j in range(_EWMA_TAPS))} AS den
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       ROUND(CAST(num AS DOUBLE) / den / 100, 6) AS ewma
FROM lagged ORDER BY user_id, event_id
"""


@register("q157_ewma_smooth", oracle=_EWMA_ORACLE)
def q157(events):
    """Exponential smoothing over per-user event streams as an 8-tap
    integer-exact filter (weights 2^k on cents): the time-series smoothing
    primitive with zero FP-accumulation drift — numerator/denominator are
    BIGINT sums, one IEEE division at the end. Single shuffle on the
    (user, ts) window key."""
    ev = (
        events
        .where(F.col("user_id") % 100 == 0)
        .select(
            "user_id",
            "event_id",
            "ts",
            cents("value").alias("c"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j in range(_EWMA_TAPS):
        weight = 1 << (_EWMA_TAPS - 1 - j)
        lag = F.lag("c", j).over(w)
        term = F.coalesce(lag * weight, F.lit(0))
        present = F.when(lag.isNotNull(), weight).otherwise(0)
        num = term if num is None else num + term
        den = present if den is None else den + present
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(num.cast("double") / den / 100, 6).alias("ewma"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------- q158: mergeable-bitmap exact distinct counts

_BITMAP_ORACLE = """
SELECT CAST(DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
UNION ALL
SELECT CAST(-1 AS BIGINT) AS day_num, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
ORDER BY day_num
"""


@register("q158_bitmap_distinct", oracle=_BITMAP_ORACLE)
def q158(events):
    """Exact distinct users per day via mergeable roaring-style bitmaps
    (bitmap_construct_agg / bitmap_or_agg, Spark 3.5+): per-(day, bucket)
    bitmaps are built map-side, daily counts are bitmap popcounts, and the
    global count REUSES the same bitmaps by OR-merging — the exact-distinct
    analogue of the q123 HLL identity, re-aggregable without rescanning.
    Oracle = plain COUNT(DISTINCT) (bitmaps must be invisible)."""
    ev = events.select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day_num"),
        "user_id",
    )
    per_bucket = ev.groupBy(
        "day_num", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    per_day = per_bucket.groupBy("day_num").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users")
    )
    total = (
        per_bucket.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users"))
        .select(F.lit(-1).cast("bigint").alias("day_num"), "n_users")
    )
    return per_day.unionAll(total).orderBy("day_num")


# ----------------------------------------- q159: CSV source round-trip

_CSV_SRC_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(LENGTH(props)) AS BIGINT) AS props_chars
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("q159_csv_source", oracle=_CSV_SRC_ORACLE)
def q159(spark, events):
    """Source-format coverage (q134's JSON twin): events serialized to
    RFC-4180 CSV (quote-doubling escape, so the JSON `props` strings with
    embedded commas/quotes survive) and read back with an EXPLICIT schema
    — never inference at scale. Timestamps travel as epoch-micros longs.
    The oracle aggregates the parquet original, so the text round-trip
    must be lossless; props_chars hashes the quoting fidelity."""
    from ..scratch import scratch_dir

    path = scratch_dir("q159_csv")
    csv_opts = {"quote": '"', "escape": '"', "header": "false"}
    events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).write.mode("overwrite").options(**csv_opts).csv(path)
    schema = (
        "event_id bigint, ts_us bigint, user_id bigint, "
        "event_type string, value double, props string"
    )
    back = spark.read.schema(schema).options(**csv_opts).csv(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.length("props")).cast("bigint").alias("props_chars"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------- q160: PageRank (fixed 3 rounds)

# Undirected co-purchase graph: distinct (part, supplier) pairs from
# lineitem, both directions (supplier nodes offset by 10^7). Every node
# has degree >= 1 in both directions, so no dangling-mass handling is
# needed and each iteration covers every node.
#
# Determinism: per-edge contribution = ROUND(rank/outdeg, 12) cast to
# DECIMAL(28,12) -> the aggregation is exact integer arithmetic in both
# engines regardless of order; the damping update is one IEEE multiply/
# add on identical doubles, ROUNDed to 9 before the next round. Final
# ranking sorts by the ROUNDED rank with node id as the unique tiebreak.
_PR_ITER_SQL = """, {out} AS (
    SELECT e.dst AS node,
           ROUND(0.15 + 0.85 * CAST(SUM(CAST(ROUND(r.rank / d.outdeg, 12) AS DECIMAL(28,12)) ) AS DOUBLE), 9) AS rank
    FROM edges e
    JOIN {inp} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
)"""

_PAGERANK_ORACLE = (
    """
WITH edges AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS src, l_suppkey + 10000000 AS dst FROM lineitem
    UNION ALL
    SELECT DISTINCT l_suppkey + 10000000 AS src, l_partkey AS dst FROM lineitem
),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg)"""
    + _PR_ITER_SQL.format(out="r1", inp="r0")
    + _PR_ITER_SQL.format(out="r2", inp="r1")
    + _PR_ITER_SQL.format(out="r3", inp="r2")
    + """
SELECT CAST(node AS BIGINT) AS node, rank
FROM r3 ORDER BY rank DESC, node LIMIT 25
"""
)


@register("q160_pagerank", oracle=_PAGERANK_ORACLE)
def q160(lineitem):
    """PageRank (3 fixed power iterations, d=0.85) over the undirected
    part<->supplier co-purchase graph — the canonical iterative-algorithm
    shape on Spark: per-iteration plan is [broadcast rank+degree tables
    onto the edge list -> one groupBy(dst) shuffle]; the edge list itself
    is scanned from the same cached scan each round, never recomputed
    into a longer lineage (plans stay O(1) deep because each iteration
    only references the previous ranks DataFrame). At cluster scale the
    rank table outgrows broadcast and the same code degrades gracefully
    to a shuffle join on src; the edge list would be bucketed by src
    (q118 pattern) to make every iteration exchange-free on the edge
    side. Oracle = 3 unrolled SQL iterations with integer-exact
    contribution sums (engine-identical, see comment above)."""
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    edges = (
        pairs.select(
            F.col("l_partkey").alias("src"),
            (F.col("l_suppkey") + 10000000).alias("dst"),
        )
        .unionAll(
            pairs.select(
                (F.col("l_suppkey") + 10000000).alias("src"),
                F.col("l_partkey").alias("dst"),
            )
        )
        # pinned, not persist+unpersist: the caller executes the returned
        # plan later, so an unpersist here would fire before the action;
        # the pin also cuts the distinct() out of the 3-reference
        # lineage (edges is read 3x, built once)
        .transform(pin)
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("outdeg"))
        .transform(pin)
    )
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    for _ in range(3):
        contrib = (
            edges.join(F.broadcast(ranks), edges["src"] == ranks["node"])
            .join(F.broadcast(deg), "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("outdeg"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.round(F.lit(0.15) + F.lit(0.85) * F.sum("c").cast("double"), 9).alias(
                "rank"
            )
        )
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(25)
        .select(F.col("node").cast("bigint").alias("node"), "rank")
    )


# ----------------- q161: incremental dedup against a persisted LSH index

from .llm import _MINHASH_CTE  # noqa: E402


def _index_dedup_oracle() -> str:
    # Same tokenize/shingle/minhash CTEs as q43/q44 (kept in sync by
    # string-substituting only the corpus definition), with a three-part
    # corpus: the existing docs (the "index"), near-dup new docs (every
    # 7th, mutated) and genuinely novel new docs (every 13th, reversed).
    cte = _MINHASH_CTE.replace(
        "SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 11 = 0",
        """SELECT doc_id + 2000000, text || ' qq' FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 3000000, REVERSE(text) FROM documents WHERE doc_id % 13 = 0""",
    )
    bands = """, bands AS MATERIALIZED (
    SELECT doc_id, UNNEST([
        '0:' || mh0 || ':' || mh1,
        '1:' || mh2 || ':' || mh3,
        '2:' || mh4 || ':' || mh5,
        '3:' || mh6 || ':' || mh7]) AS band
    FROM sig WHERE mh0 IS NOT NULL
), old_capped AS (
    -- index-side mega-bucket cap (same rationale as q44's bands_capped,
    -- but singleton buckets stay: the match partner is a NEW doc)
    SELECT doc_id, band FROM (
        SELECT doc_id, band, COUNT(*) OVER (PARTITION BY band) AS n_ids
        FROM bands WHERE doc_id < 2000000
    ) WHERE n_ids <= {cap}
), cand AS (
    SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
    FROM bands n JOIN old_capped o ON n.band = o.band
    WHERE n.doc_id >= 2000000
), grams AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT(hs) AS gs FROM hv
), dup AS (
    SELECT DISTINCT c.new_id FROM cand c
    JOIN grams gn ON gn.doc_id = c.new_id
    JOIN grams go ON go.doc_id = c.old_id
    WHERE (LEN(gn.gs) + LEN(go.gs) - LEN(LIST_INTERSECT(gn.gs, go.gs))) > 0
      AND ROUND(CAST(LEN(LIST_INTERSECT(gn.gs, go.gs)) AS DOUBLE) /
                (LEN(gn.gs) + LEN(go.gs) - LEN(LIST_INTERSECT(gn.gs, go.gs))), 4) >= 0.5
)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM corpus
WHERE doc_id >= 2000000 AND doc_id NOT IN (SELECT new_id FROM dup)
ORDER BY doc_id""".format(cap=B.DEFAULT_BUCKET_CAP)
    return cte + bands


@register("q161_index_dedup", oracle=_index_dedup_oracle())
def q161(spark, documents):
    """Incremental (cross-run) dedup: a NEW document batch is deduplicated
    against a PERSISTED LSH signature index of the existing corpus — the
    continuous-ingest shape of corpus dedup, where the index outlives any
    one batch and only the new batch pays tokenize/minhash cost per run.
    Here the index is genuinely materialized to parquet and read back
    (layout invisible to the oracle, q133/q135 pattern); at 100 TB it
    would be written bucketed BY band hash so the new-batch probe join is
    exchange-free on the index side. Near-dup new docs (verified 3-gram
    Jaccard >= 0.5 against their band-bucket candidates) are dropped;
    novel docs survive."""
    from ..scratch import scratch_dir

    old = documents.select("doc_id", "text")
    new = (
        documents.where(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat("text", F.lit(" qq")).alias("text"),
        )
        .unionAll(
            documents.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.reverse("text").alias("text"),
            )
        )
    )

    # Build + persist the index once (in production this is a standing
    # table maintained across runs; grams for the old side are persisted
    # alongside the bands for the verify stage).
    old_grams = B.gram_sets(old).persist()
    old_bands = B.minhash_bands(B.signatures_from_grams(old_grams))
    w = Window.partitionBy("band")
    idx_path = scratch_dir("q161_index")
    (
        old_bands.withColumn("n_ids", F.count("*").over(w))
        .where(F.col("n_ids") <= B.DEFAULT_BUCKET_CAP)
        .select(F.col("doc_id").alias("old_id"), "band")
        .write.mode("overwrite")
        .parquet(idx_path)
    )
    idx = spark.read.parquet(idx_path)

    new_grams = B.gram_sets(new).persist()
    new_bands = B.minhash_bands(B.signatures_from_grams(new_grams))
    cand = (
        new_bands.join(idx, "band")
        .select(F.col("doc_id").alias("new_id"), "old_id")
        .distinct()
    )
    gn = new_grams.select(F.col("doc_id").alias("new_id"), F.col("gs").alias("gn"))
    go = old_grams.select(F.col("doc_id").alias("old_id"), F.col("gs").alias("go"))
    inter = F.size(F.array_intersect(F.col("gn"), F.col("go")))
    uni = F.size("gn") + F.size("go") - inter
    dup = (
        cand.join(gn, "new_id")
        .join(go, "old_id")
        .where((uni > 0) & (F.round(inter.cast("double") / uni, 4) >= 0.5))
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return new.select("doc_id").join(dup, "doc_id", "left_anti").orderBy("doc_id")


# ------------------- q162: SimHash hamming-ball near-dup pairs (banded)

from ..functions import text as T  # noqa: E402

_SIMHASH_BITS = 60
_SIMHASH_BAND_BITS = 15  # 4 bands; pigeonhole covers hamming <= 3


def _simhash60_sql(corpus_cte: str) -> str:
    """60-bit simhash CTEs over an arbitrary corpus CTE (same vote/
    combine arithmetic as q45's 16-bit form, widened so 15-bit band
    buckets stay sparse at corpus scale)."""
    votes = ",\n           ".join(
        f"CAST(SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
WITH corpus AS ({corpus_cte}
), tok AS (
    SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      t -> LENGTH(t) > 0)) AS t
    FROM corpus
), hashed AS (
    SELECT doc_id, ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT AS h FROM tok
), votes AS (
    SELECT doc_id, {votes}
    FROM hashed GROUP BY doc_id
), sh AS (
    SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM votes
)"""


_SIMHASH_PAIRS_ORACLE = _simhash60_sql(
    """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 11 = 0"""
) + f""", bands AS MATERIALIZED (
    SELECT doc_id, simhash,
           UNNEST([{", ".join(
               f"'{i}:' || ((simhash // {1 << (i * _SIMHASH_BAND_BITS)}) % {1 << _SIMHASH_BAND_BITS})"
               for i in range(4))}]) AS nib
    FROM sh
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sa, b.simhash AS sb
    FROM bands a JOIN bands b ON a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(BIT_COUNT(XOR(sa, sb)) AS INT) AS hamming
FROM cand WHERE BIT_COUNT(XOR(sa, sb)) <= 3
ORDER BY doc_a, doc_b
"""


@register("q162_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def q162(documents):
    """SimHash near-dup PAIRS (the dedup-matrix cell q45 leaves open:
    fingerprints -> candidate pairs): 60-bit simhash, banded into 4
    15-bit segments — by pigeonhole any pair within hamming distance 3
    shares at least one segment, so candidates come from 4 equi-joins on
    sparse 15-bit buckets (never all-pairs), then the exact popcount
    filter keeps pairs with BIT_COUNT(XOR) <= 3. One explode + one
    60-column vote aggregate (map-side combinable), one band shuffle."""
    corpus = _minhash_corpus(documents)
    tok = corpus.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("t")
    ).select("doc_id", T.shingle_hash60(F.col("t")).alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    # pinned: the fingerprint frame feeds BOTH sides of the band
    # self-join — without the checkpoint the tokenize + 60-column vote
    # aggregate runs twice (guide §2.4)
    sh = pin(votes.select("doc_id", sim.cast("long").alias("simhash")))
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        (F.shiftright(F.col("simhash"), i * _SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask))).cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("nib"),
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "nib")
    b_ = bands.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "nib")
    cand = (
        a.join(b_, "nib")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.where(ham <= 3)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------ q163: CDC snapshot diff (point-in-time)

_SNAPDIFF_T1 = "2024-01-20"

_SNAPDIFF_ORACLE = f"""
WITH s1 AS (
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_SNAPDIFF_T1}'
    ) WHERE rn = 1
), s2 AS (
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       CASE WHEN s1.user_id IS NULL THEN 'added'
            WHEN s2.user_id IS NULL THEN 'removed'
            WHEN s1.event_id <> s2.event_id THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(s1.event_id AS BIGINT) AS t1_event,
       CAST(s2.event_id AS BIGINT) AS t2_event
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
ORDER BY user_id
"""


@register("q163_snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def q163(events):
    """Point-in-time snapshot DIFF (CDC audit: what changed between two
    materializations): the q114 struct-max argmax evaluated at two time
    cutoffs, full-outer joined on the key with an added/removed/changed/
    unchanged verdict. Both snapshots are one partial-aggregatable
    aggregation; at scale the T1 snapshot is the stored table and only
    the (T1, T2] delta is scanned — this query IS that identity, with
    the oracle recomputing both sides from scratch."""

    def snap(df):
        m = F.max(F.struct("ts", "event_id", "event_type")).alias("m")
        return df.groupBy("user_id").agg(m).select(
            "user_id",
            F.col("m.event_id").alias("event_id"),
            F.col("m.event_type").alias("event_type"),
        )

    s1 = snap(events.where(F.col("ts") < F.lit(_SNAPDIFF_T1).cast("timestamp")))
    s2 = snap(events)
    j = s1.alias("s1").join(
        s2.alias("s2"), F.col("s1.user_id") == F.col("s2.user_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("s1.user_id"), F.col("s2.user_id")).alias("user_id"),
        F.when(F.col("s1.user_id").isNull(), "added")
        .when(F.col("s2.user_id").isNull(), "removed")
        .when(F.col("s1.event_id") != F.col("s2.event_id"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.col("s1.event_id").cast("bigint").alias("t1_event"),
        F.col("s2.event_id").cast("bigint").alias("t2_event"),
    ).orderBy("user_id")


# ----------------------------------------- q164: ORC source round-trip

_ORC_SRC_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(MIN(event_id) AS BIGINT) AS min_event,
       CAST(MAX(event_id) AS BIGINT) AS max_event
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("q164_orc_source", oracle=_ORC_SRC_ORACLE)
def q164(spark, events):
    """Source-format coverage: ORC (the third columnar/landing format
    after parquet and JSON/CSV text) — native Spark writer/reader, stripe
    statistics give the same scan-level pushdown class as parquet. The
    oracle aggregates the parquet original: the ORC round-trip must be
    value-identical (timestamps kept as epoch-micros longs to stay
    encoder-exact)."""
    from ..scratch import scratch_dir

    path = scratch_dir("q164_orc")
    events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    ).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
        .orderBy("event_type")
    )


# ------------------------------- q165: small-files compaction (tiny->big)

_COMPACT_ORACLE = """
SELECT CAST(DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1 ORDER BY day_num
"""


@register("q165_compaction", oracle=_COMPACT_ORACLE)
def q165(spark, events):
    """Small-files compaction — the table-maintenance job every streaming
    ingest needs (micro-batches land thousands of KB-sized files; scans
    then pay per-file open/footer cost). A 64-way fragmented copy of
    events is rewritten into a handful of right-sized files with
    coalesce (no shuffle: compaction is a read+write, never a
    repartition), and the day-level aggregate over the COMPACTED table
    must hash-match the original (oracle reads the parquet source). The
    4x/16x file-count reduction is asserted in tests/test_scale_ops.py."""
    from ..scratch import scratch_dir

    frag_path = scratch_dir("q165_frag")
    compact_path = scratch_dir("q165_compact")
    events.select("event_id", "ts", "user_id", "event_type", "value").repartition(
        64
    ).write.mode("overwrite").parquet(frag_path)
    # compact: coalesce merges partitions without a shuffle; target file
    # count would be ceil(bytes/128MB) on a real table
    spark.read.parquet(frag_path).coalesce(4).write.mode("overwrite").parquet(
        compact_path
    )
    back = spark.read.parquet(compact_path)
    return (
        back.groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_num")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("day_num")
    )


# ---------------- q166: power iteration (top principal direction, exact)

# Integer-exact distributed linear algebra: embeddings quantized to
# BIGINT (x1000), the iteration vector carried at scale 1e6, and every
# matrix product an exact BIGINT sum (magnitudes bounded: |q|<=320,
# u <= 64*320*1e6 = 2e10; u rescaled /1e4 before the transpose product so
# w <= #vecs*320*2e6 — BIGINT-safe through sf100). The norm uses
# DECIMAL(19,0)^2 -> DECIMAL(38,0) sums (exact in both engines), one
# IEEE sqrt+division per round, ROUND half-away re-quantization. The
# result is bit-identical across engines with NO transcendental-rounding
# slack anywhere.
_POWER_ITER_SQL = """, u{t} AS (
    SELECT vec_id, CAST(ROUND(CAST(SUM(qv_ij * v) AS DOUBLE) / 10000.0) AS BIGINT) AS u
    FROM qx JOIN v{p} USING (j) GROUP BY vec_id
), w{t} AS MATERIALIZED (
    SELECT j, CAST(SUM(qv_ij * u) AS BIGINT) AS w
    FROM qx JOIN u{t} USING (vec_id) GROUP BY j
), n{t} AS (
    SELECT SQRT(CAST(SUM(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS DOUBLE)) AS nrm
    FROM w{t}
), v{t} AS (
    SELECT j, CAST(ROUND(CAST(w AS DOUBLE) / nrm * 1000000) AS BIGINT) AS v
    FROM w{t}, n{t}
)"""

_POWER_ORACLE = (
    """
WITH q AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
    FROM embeddings
), qx AS MATERIALIZED (
    SELECT vec_id, i - 1 AS j, qv[i] AS qv_ij
    FROM q, UNNEST(RANGE(1, LEN(qv) + 1)) AS t(i)
), v0 AS (
    SELECT i AS j, CAST(1000000 AS BIGINT) AS v FROM RANGE(0, 64) r(i)
)"""
    + _POWER_ITER_SQL.format(t=1, p=0)
    + _POWER_ITER_SQL.format(t=2, p=1)
    + _POWER_ITER_SQL.format(t=3, p=2)
    + """
SELECT CAST(j AS INT) AS j, v FROM v3 ORDER BY j
"""
)


@register("q166_power_iteration", oracle=_POWER_ORACLE)
def q166(spark, embeddings):
    """Top principal direction of the embedding matrix by 3 distributed
    power iterations (v <- normalize(Xᵀ(Xv))) — the PCA building block,
    fully distributed: NO driver-side collect anywhere; the 64-row
    iteration vector and the 1-row norm broadcast onto the exploded
    matrix, each round is two small-key aggregations. The matrix explode
    is checkpointed once and reread each round. Bit-identical to the SQL
    oracle via integer-exact quantized arithmetic (see comment above)."""
    qx = (
        embeddings.select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
                )
            ).alias("j", "qv_ij"),
        )
        .transform(pin)
    )
    v = spark.range(64).select(
        F.col("id").alias("j"), F.lit(1000000).cast("bigint").alias("v")
    )
    for _ in range(3):
        u = (
            qx.join(F.broadcast(v), "j")
            .groupBy("vec_id")
            .agg(
                F.round(F.sum(F.col("qv_ij") * F.col("v")).cast("double") / 10000.0)
                .cast("bigint")
                .alias("u")
            )
        )
        w = (
            qx.join(u, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("qv_ij") * F.col("u")).cast("bigint").alias("w"))
            # pinned: w (64 rows) feeds BOTH the norm aggregate and the
            # re-quantized v — unpinned, the whole round's two matvec
            # shuffles run twice, and the doubling compounds per round
            # (guide §2.4; before-plan: 36 Exchanges, 56 scans of qx)
            .transform(pin)
        )
        wd = F.col("w").cast("decimal(19,0)")
        nrm = w.agg(
            F.sqrt(F.sum(wd * wd).cast("double")).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            "j",
            F.round(F.col("w").cast("double") / F.col("nrm") * 1000000)
            .cast("bigint")
            .alias("v"),
        )
    return v.select(F.col("j").cast("int").alias("j"), "v").orderBy("j")


# -------------------- q167: deterministic train/val/test corpus split

_SPLIT_ORACLE = """
WITH keyed AS (
    SELECT lang, n_chars,
           ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket
    FROM documents
)
SELECT lang,
       CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM keyed GROUP BY 1, 2 ORDER BY lang, split
"""


@register("q167_train_val_test", oracle=_SPLIT_ORACLE)
def q167(documents):
    """Deterministic 80/10/10 train/val/test split by content-stable hash
    (md5 of the doc key, NOT random): re-running the pipeline on a grown
    corpus keeps every existing doc in its original split — the property
    that prevents train/test leakage across dataset versions. Pure map +
    small aggregate; the split column costs one hash per row."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10
    )
    keyed = documents.select(
        "lang",
        "n_chars",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    )
    return (
        keyed.groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


# -------------------- q168: correlation matrix from integer-exact moments

# Pearson r for every measure pair from EXACT integer moments (cents /
# hundredths): sums, sums of squares and cross-products are BIGINT/
# DECIMAL(38,0)-exact in both engines, so the single r formula evaluates
# on identical doubles; ROUND(6) output. This sidesteps engine-native
# corr() entirely (Welford vs naive accumulation would differ in ulps).
_CORR_ORACLE = """
WITH m AS (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
           CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d
    FROM lineitem
), s AS (
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(q) AS DECIMAL(38,0)) AS DOUBLE) AS sq,
           CAST(CAST(SUM(p) AS DECIMAL(38,0)) AS DOUBLE) AS sp,
           CAST(CAST(SUM(d) AS DECIMAL(38,0)) AS DOUBLE) AS sd,
           CAST(CAST(SUM(q * q) AS DECIMAL(38,0)) AS DOUBLE) AS sqq,
           CAST(CAST(SUM(p * p) AS DECIMAL(38,0)) AS DOUBLE) AS spp,
           CAST(CAST(SUM(d * d) AS DECIMAL(38,0)) AS DOUBLE) AS sdd,
           CAST(CAST(SUM(q * p) AS DECIMAL(38,0)) AS DOUBLE) AS sqp,
           CAST(CAST(SUM(q * d) AS DECIMAL(38,0)) AS DOUBLE) AS sqd,
           CAST(CAST(SUM(p * d) AS DECIMAL(38,0)) AS DOUBLE) AS spd
    FROM m GROUP BY flag
)
SELECT flag,
       n,
       ROUND((n * sqp - sq * sp) / SQRT((n * sqq - sq * sq) * (n * spp - sp * sp)), 6) AS corr_qty_price,
       ROUND((n * sqd - sq * sd) / SQRT((n * sqq - sq * sq) * (n * sdd - sd * sd)), 6) AS corr_qty_disc,
       ROUND((n * spd - sp * sd) / SQRT((n * spp - sp * sp) * (n * sdd - sd * sd)), 6) AS corr_price_disc
FROM s ORDER BY flag
"""


@register("q168_correlation_matrix", oracle=_CORR_ORACLE)
def q168(lineitem):
    """Per-group Pearson correlation matrix over the lineitem measures —
    the profiling statistic feeding feature selection. ONE pass builds
    all nine exact moments (map-side combinable wide aggregate, shuffle
    carries 3 groups x 10 numbers); the r formula then runs on identical
    IEEE inputs in both engines instead of trusting engine-native corr()
    accumulation order."""
    m = lineitem.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_quantity").alias("q"),
        cents("l_extendedprice").alias("p"),
        cents("l_discount").alias("d"),
    )
    big = lambda e: F.sum(e).cast("decimal(38,0)").cast("double")  # noqa: E731
    s = m.groupBy("flag").agg(
        F.count("*").alias("n"),
        big(F.col("q")).alias("sq"),
        big(F.col("p")).alias("sp"),
        big(F.col("d")).alias("sd"),
        big(F.col("q") * F.col("q")).alias("sqq"),
        big(F.col("p") * F.col("p")).alias("spp"),
        big(F.col("d") * F.col("d")).alias("sdd"),
        big(F.col("q") * F.col("p")).alias("sqp"),
        big(F.col("q") * F.col("d")).alias("sqd"),
        big(F.col("p") * F.col("d")).alias("spd"),
    )
    n, sq, sp, sd = F.col("n"), F.col("sq"), F.col("sp"), F.col("sd")
    sqq, spp, sdd = F.col("sqq"), F.col("spp"), F.col("sdd")
    sqp, sqd, spd = F.col("sqp"), F.col("sqd"), F.col("spd")

    def r(sxy, sx, sy, sxx, syy):
        return F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        )

    return s.select(
        "flag",
        "n",
        r(sqp, sq, sp, sqq, spp).alias("corr_qty_price"),
        r(sqd, sq, sd, sqq, sdd).alias("corr_qty_disc"),
        r(spd, sp, sd, spp, sdd).alias("corr_price_disc"),
    ).orderBy("flag")


# ----------------- q169: mutual information (event_type vs day-of-week)

# Counts are exact, so every probability is an identical IEEE double;
# each cell's PMI term (one ln) is ROUNDed(6) and the per-type sums
# accumulate the ROUNDED terms in DECIMAL(18,6) — order-free and
# engine-identical (the repo's standard transcendental-sum recipe, q108).
_MI_ORACLE = """
WITH cells AS MATERIALIZED (
    SELECT event_type AS etype, DAYOFWEEK(CAST(ts AS DATE)) AS dow,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
), tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
), px AS MATERIALIZED (
    SELECT etype, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY etype
), py AS MATERIALIZED (
    SELECT dow, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY dow
), terms AS (
    SELECT cells.etype, cells.dow,
           ROUND((CAST(c AS DOUBLE) / n) *
                 LN((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy)), 6) AS pmi
    FROM cells, tot
    JOIN px ON px.etype = cells.etype
    JOIN py ON py.dow = cells.dow
)
SELECT etype,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CAST(pmi AS DECIMAL(18,6))) AS DOUBLE) AS mi_part
FROM terms GROUP BY etype ORDER BY etype
"""


@register("q169_mutual_information", oracle=_MI_ORACLE)
def q169(events):
    """Mutual information between event type and day-of-week — the
    dependence screen run before using a feature pair. Contingency cells
    aggregate first (shuffle carries |types| x 7 cells, not events);
    marginals broadcast back; one ln per CELL, rounded, then summed in
    decimal so the reduction is order-free."""
    cells = (
        events.select(
            F.col("event_type").alias("etype"),
            F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        )
        .groupBy("etype", "dow")
        .agg(F.count("*").alias("c"))
    )
    cells = pin(cells)  # 3 consumers below
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    px = cells.groupBy("etype").agg(F.sum("c").cast("bigint").alias("cx"))
    py = cells.groupBy("dow").agg(F.sum("c").cast("bigint").alias("cy"))
    terms = (
        cells.crossJoin(F.broadcast(tot))
        .join(F.broadcast(px), "etype")
        .join(F.broadcast(py), "dow")
        .select(
            "etype",
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(
                    (F.col("c").cast("double") * F.col("n"))
                    / (F.col("cx").cast("double") * F.col("cy"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return (
        terms.groupBy("etype")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("pmi").cast("decimal(18,6)")).cast("double").alias("mi_part"),
        )
        .orderBy("etype")
    )


# ------------------ q170: Z-order clustering + 2-D manifest file pruning

_ZORDER_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events
WHERE (user_id % 256) BETWEEN 16 AND 79
  AND DAYOFMONTH(CAST(ts AS DATE)) BETWEEN 8 AND 15
GROUP BY event_type ORDER BY event_type
"""


@register("q170_zorder_prune", oracle=_ZORDER_ORACLE)
def q170(spark, events):
    """Z-order (Morton) clustering + two-column zone-map pruning — the
    q139 data-skipping story extended to 2-D predicates: one layout
    serves range filters on BOTH user and day because bit-interleaved
    clustering keeps each file a compact rectangle of (user, day) space
    (what Delta OPTIMIZE ZORDER BY does, built from Spark primitives in
    operators/zonemap.py). The manifest records per-file min/max of both
    dims; planning intersects the predicate with it and scans only
    overlapping files (ratio asserted in tests); the exact residual
    filter keeps the result hash-identical to the full-table oracle."""
    from ..operators.zonemap import build_manifest, pruned_scan, write_zordered
    from ..scratch import scratch_dir

    ev = events.withColumn(
        "ub", (F.col("user_id") % 256).cast("int")
    ).withColumn("dayb", F.dayofmonth(F.col("ts").cast("date")))
    path = scratch_dir("q170_zorder")
    write_zordered(ev, path, "ub", "dayb", 16)
    manifest = build_manifest(spark, path, ["ub", "dayb"])
    xlo, xhi, ylo, yhi = 16, 79, 8, 15
    df, _sel, _tot = pruned_scan(spark, manifest, [(xlo, xhi), (ylo, yhi)])
    return (
        df.where(F.col("ub").between(xlo, xhi) & F.col("dayb").between(ylo, yhi))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


# --------------- q171: Arrow-optimized Python UDF (Spark 4 useArrow=True)

_ARROW_UDF_ORACLE = """
SELECT doc_id,
       LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_words_udf
FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id
"""


@register("q171_arrow_udf", oracle=_ARROW_UDF_ORACLE)
def q171(documents):
    """Arrow-optimized scalar Python UDF (`@udf(..., useArrow=True)`,
    Spark 3.5+/4): the third rung of the Python-eval ladder the surface
    documents — q57 row-at-a-time pickle, q55/q58 pandas_udf, and this:
    scalar-UDF ergonomics with Arrow-batched transfer (no pandas in the
    function signature). Integer result, so it hash-checks exactly."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def n_words(text: str) -> int:
        return text.count(" ") + 1

    return (
        documents.where(F.col("doc_id") % 20 == 0)
        .select("doc_id", n_words("text").alias("n_words_udf"))
        .orderBy("doc_id")
    )


# ---------------------- q172: observed metrics (df.observe accumulators)

_OBSERVE_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events WHERE value > 0 GROUP BY event_type ORDER BY event_type
"""


@register("q172_observed_metrics", oracle=_OBSERVE_ORACLE)
def q172(events):
    """Inline data-quality metrics with df.observe (CollectMetrics): the
    pipeline counts rows/nulls/range-violations IN the same pass that
    computes the result — no second scan for the audit numbers (at 100 TB
    an extra metrics scan is real money). The observation is registered
    on the pre-filter scan; the returned result is the ordinary oracled
    aggregate, and the metric plumbing is asserted in tests via the
    Observation API."""
    from pyspark.sql import Observation

    obs = Observation("q172_quality")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("value") <= 0, 1).otherwise(0)).alias("nonpositive"),
    )
    return (
        observed.where(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


# ---------------------- q174: Pareto frontier (skyline) via prefix max

# Dominance on integer axes (spend cents, order count): p is dominated
# iff some q has x>=p.x, y>=p.y with one strict. With x integer, the
# strictly-higher-x running max is a RANGE frame ending 1 PRECEDING under
# ORDER BY x DESC — O(n log n) total, no self-join. Same-x dominance is a
# per-x partition max. All-integer arithmetic: engine-exact.
_SKYLINE_ORACLE = """
WITH pts AS (
    SELECT o_custkey AS cust,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM orders GROUP BY o_custkey
), flagged AS (
    SELECT cust, x, y,
           MAX(y) OVER (ORDER BY x DESC RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_y_higher_x,
           MAX(y) OVER (PARTITION BY x) AS max_y_same_x
    FROM pts
)
SELECT cust, x, y FROM flagged
WHERE (max_y_higher_x IS NULL OR max_y_higher_x < y) AND y >= max_y_same_x
ORDER BY x DESC, cust
"""


@register("q174_pareto_frontier", oracle=_SKYLINE_ORACLE)
def q174(orders):
    """Skyline / Pareto frontier of customers on (total spend, order
    count) — the multi-objective 'best' query. NOT the naive quadratic
    NOT-EXISTS self-join: dominance reduces to two window maxima (a
    strictly-higher-x running max via an integer RANGE frame, and a
    same-x partition max), so the whole operator is one sort shuffle —
    the shape that survives 10^9 input groups."""
    pts = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x"),
        F.count("*").alias("y"),
    )
    w_higher = (
        Window.orderBy(F.col("x").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("x")
    flagged = pts.select(
        "cust",
        "x",
        "y",
        F.max("y").over(w_higher).alias("max_y_higher_x"),
        F.max("y").over(w_same).alias("max_y_same_x"),
    )
    return (
        flagged.where(
            (F.col("max_y_higher_x").isNull() | (F.col("max_y_higher_x") < F.col("y")))
            & (F.col("y") >= F.col("max_y_same_x"))
        )
        .select("cust", "x", "y")
        .orderBy(F.col("x").desc(), "cust")
    )


# ----------------- q175: schema evolution (mergeSchema across versions)

_SCHEMA_EVO_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN event_id % 2 = 1 THEN CAST(user_id AS BIGINT) ELSE 0 END) AS BIGINT)
           AS sum_enriched
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("q175_schema_evolution", oracle=_SCHEMA_EVO_ORACLE)
def q175(spark, events):
    """Schema evolution on a partitioned landing table: version-1 files
    lack a column that version-2 files carry; `mergeSchema` unions the
    schemas at read time and v1 rows surface NULL for the new column (the
    additive-column contract every long-lived 100 TB table relies on —
    never rewrite old files to add a column). The aggregate folds the
    NULLs exactly like the oracle's CASE over the original events."""
    from ..scratch import scratch_dir

    path = scratch_dir("q175_evo")
    v1 = events.where(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    v2 = events.where(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", F.col("user_id").alias("enriched_uid")
    )
    v1.write.mode("overwrite").parquet(path + "/v=1")
    v2.write.mode("overwrite").parquet(path + "/v=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        path + "/v=1", path + "/v=2"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("enriched_uid"), F.lit(0)))
            .cast("bigint")
            .alias("sum_enriched"),
        )
        .orderBy("event_type")
    )


# ------------------- q176: equi-depth histogram (ntile quantile bins)

# ntile over a TOTAL order (cents, then the unique line id) is engine-
# deterministic — the optimizer-statistics shape (equi-depth, not
# equi-width like q121): bin boundaries adapt to the distribution.
_EQUIDEPTH_ORACLE = """
WITH c AS (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           l_orderkey * 10 + l_linenumber AS uid
    FROM lineitem
), binned AS (
    SELECT flag, cents,
           NTILE(8) OVER (PARTITION BY flag ORDER BY cents, uid) AS bin
    FROM c
)
SELECT flag, CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(cents) AS BIGINT) AS lo_cents,
       CAST(MAX(cents) AS BIGINT) AS hi_cents
FROM binned GROUP BY flag, bin ORDER BY flag, bin
"""


@register("q176_equidepth_histogram", oracle=_EQUIDEPTH_ORACLE)
def q176(lineitem):
    """Equi-depth histogram (8 quantile bins per group) — the statistic
    CBOs and drift monitors actually keep (equi-width q121 starves on
    skew; equi-depth adapts). ntile over a total order with a unique
    tiebreaker is deterministic in both engines; one window sort + the
    |groups|x8 aggregate."""
    c = lineitem.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("cents"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
    )
    w = Window.partitionBy("flag").orderBy("cents", "uid")
    return (
        c.withColumn("bin", F.ntile(8).over(w))
        .groupBy("flag", F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("flag", "bin")
    )


# ------------------------- q177: time-weighted average (TWAP) per user

# Each value holds from its event until the next (step function); TWAP =
# sum(value * hold_micros) / total_micros. Cents x micros products are
# BIGINT-exact (<= 1e7 * 2.6e12 ~ 2.6e19 — DECIMAL(38,0) sums to stay
# safe), one IEEE division at the end.
_TWAP_ORACLE = """
WITH seq AS (
    SELECT user_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           EPOCH_US(ts) AS t,
           LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
    FROM events WHERE user_id % 10 = 0
), held AS (
    SELECT user_id, cents, t_next - t AS hold
    FROM seq WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_holds,
       ROUND(CAST(CAST(SUM(cents * hold) AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST(SUM(hold) AS DECIMAL(38,0)) AS DOUBLE) / 100, 6) AS twap
FROM held GROUP BY user_id ORDER BY user_id
"""


@register("q177_time_weighted_avg", oracle=_TWAP_ORACLE)
def q177(events):
    """Time-weighted average (TWAP) per user: each reading holds until
    the next event (step-function integral / total time) — the correct
    average for irregularly-sampled series where plain AVG over-weights
    bursts. One (user, ts) window shuffle for the lead; integer-exact
    cents x micros accumulation."""
    ev = events.where(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        cents("value").alias("cents"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    )
    held = seq.where(F.col("t_next").isNotNull()).select(
        "user_id", "cents", (F.col("t_next") - F.col("t")).alias("hold")
    )
    return (
        held.groupBy("user_id")
        .agg(
            F.count("*").alias("n_holds"),
            F.round(
                F.sum(F.col("cents") * F.col("hold")).cast("decimal(38,0)").cast("double")
                / F.sum("hold").cast("decimal(38,0)").cast("double")
                / 100,
                6,
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


# ------------------ q178: malformed-record dead-letter routing (ingest)

# Every 5th record's JSON payload is corrupted (prefix byte -> invalid in
# any JSON parser); the ingest splits parse-successes from a dead-letter
# count IN ONE PASS. Spark's from_json yields NULL on malformed input;
# the oracle's json_valid() marks the same rows — both sides then extract
# the same field from the survivors.
_DLQ_ORACLE = """
WITH raw AS (
    SELECT event_type,
           CASE WHEN event_id % 5 = 0 THEN 'x' || props ELSE props END AS payload
    FROM events
), parsed AS (
    SELECT event_type,
           CASE WHEN JSON_VALID(payload)
                THEN CAST(payload->>'k' AS BIGINT) END AS k
    FROM raw
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(k) AS BIGINT) AS n_good,
       CAST(COUNT(*) - COUNT(k) AS BIGINT) AS n_dead,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM parsed GROUP BY event_type ORDER BY event_type
"""


@register("q178_dead_letter_route", oracle=_DLQ_ORACLE)
def q178(events):
    """Dead-letter routing for malformed ingest records: parse failures
    become NULL (never exceptions — one poison record must not kill a
    100 TB job), counted per type in the same pass that aggregates the
    survivors. The reference's JSON lane handles malformed changes the
    same nulling way (cdc/pipeline.py); this is the generic landing-zone
    form."""
    raw = events.select(
        "event_type",
        F.when(F.col("event_id") % 5 == 0, F.concat(F.lit("x"), F.col("props")))
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    parsed = raw.select(
        "event_type",
        F.from_json("payload", "k bigint").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.count("k").alias("n_good"),
            (F.count("*") - F.count("k")).alias("n_dead"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# ------------- q179: incremental JOIN maintenance (delta-join identity)

# The view-maintenance identity for joins:
#   (A ∪ dA) ⋈ (B ∪ dB) = A⋈B ∪ dA⋈B ∪ A⋈dB ∪ dA⋈dB
# — a refresh job computes only the three delta terms against the stored
# A⋈B. The oracle recomputes the full join from scratch, proving the
# incremental result is lossless. Split point: orders BEFORE the date are
# "stored", orders after are the delta batch; lineitem splits by its
# orders' side via shipdate.
_DELTA_JOIN_SPLIT = "2024-01-15"

_DELTA_JOIN_ORACLE = """
SELECT o.o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus ORDER BY status
"""


@register("q179_incremental_join", oracle=_DELTA_JOIN_ORACLE)
def q179(orders, lineitem):
    """Incremental materialized-JOIN maintenance (q117's identity lifted
    from aggregates to joins): the stored term A⋈B and the three delta
    terms dA⋈B, A⋈dB, dA⋈dB are computed independently and unioned; the
    oracle is the from-scratch full join, so the check proves the
    incremental refresh is lossless. Each term aggregates BEFORE the
    union (partial-agg merge, q117 style), so the refresh shuffles only
    delta-sized data at the margin — the reason view maintenance beats
    recompute at 100 TB."""
    split = F.lit(_DELTA_JOIN_SPLIT).cast("timestamp")
    o_old = orders.where(F.col("o_orderdate") < split)
    o_new = orders.where(F.col("o_orderdate") >= split)
    # lineitem has no independent arrival date here; side it by shipdate
    l_old = lineitem.where(F.col("l_shipdate") < split)
    l_new = lineitem.where(F.col("l_shipdate") >= split)

    def term(o, l):
        return (
            o.select("o_orderkey", "o_orderstatus")
            .join(l.select("l_orderkey", "l_extendedprice"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev_dec"),
            )
        )

    merged = (
        term(o_old, l_old)
        .unionAll(term(o_new, l_old))
        .unionAll(term(o_old, l_new))
        .unionAll(term(o_new, l_new))
        .groupBy("status")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("rev_dec").cast("double").alias("revenue"),
        )
    )
    return merged.orderBy("status")


# ------------------ q180: per-group exact percentile vector (p25..p95)

# Interpolated percentiles are midpoints of two cents values — exact
# doubles apart from the interpolation product; FLOOR-truncation at 2
# decimals absorbs the one multiply's ulp (the q80 median recipe,
# extended to a vector of quantiles).
_PCTL_ORACLE = """
SELECT l_returnflag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(QUANTILE_CONT(l_extendedprice, 0.25) * 100) / 100 AS p25,
       FLOOR(QUANTILE_CONT(l_extendedprice, 0.50) * 100) / 100 AS p50,
       FLOOR(QUANTILE_CONT(l_extendedprice, 0.75) * 100) / 100 AS p75,
       FLOOR(QUANTILE_CONT(l_extendedprice, 0.95) * 100) / 100 AS p95
FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY flag ORDER BY flag
"""


@register("q180_percentile_vector", oracle=_PCTL_ORACLE)
def q180(lineitem):
    """Exact interpolated percentile vector per group (p25/p50/p75/p95)
    — the latency-style summary for monitoring dashboards. Spark's exact
    percentile is a sort-based aggregate (one shuffle on the 3-key
    group); all four quantiles share a single sorted pass. Kept on a
    decile slice: exact percentile materializes EVERY group value in the
    aggregation buffer and parallelism collapses to |groups| — at scale
    the answer is the mergeable sketch (q67 approx_percentile) or
    distributed selection, and this entry pins the exact semantics those
    approximate. Floor-truncate at cents absorbs interpolation-product
    ulps (q80 recipe)."""
    li = lineitem.where(
        F.col("l_orderkey") % 10 == 0
    )

    def p(frac, name):
        return (
            F.floor(F.expr(f"percentile(l_extendedprice, {frac})") * 100) / 100
        ).alias(name)

    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").alias("n"),
            p(0.25, "p25"),
            p(0.50, "p50"),
            p(0.75, "p75"),
            p(0.95, "p95"),
        )
        .orderBy("flag")
    )


# -------------------- q181: Markov transition matrix over event streams

_MARKOV_ORACLE = """
WITH seq AS (
    SELECT event_type AS cur,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
), pairs AS MATERIALIZED (
    SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
), totals AS (
    SELECT prev, CAST(SUM(c) AS BIGINT) AS tot FROM pairs GROUP BY prev
)
SELECT p.prev, p.cur, p.c,
       ROUND(CAST(p.c AS DOUBLE) / t.tot, 6) AS prob
FROM pairs p JOIN totals t ON p.prev = t.prev
ORDER BY p.prev, p.cur
"""


@register("q181_markov_transitions", oracle=_MARKOV_ORACLE)
def q181(events):
    """First-order Markov transition matrix of user behavior (the
    path-mining / next-event-prediction statistic): one (user, ts)
    window shuffle builds the lag pairs, the matrix aggregate carries
    |types|² cells, transition probabilities divide exact counts.
    At 100 TB the window shuffle is the only event-volume stage."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    )
    pairs = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c"))
    )
    totals = pairs.groupBy("prev").agg(F.sum("c").cast("bigint").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "prev")
        .select(
            "prev",
            "cur",
            "c",
            F.round(F.col("c").cast("double") / F.col("tot"), 6).alias("prob"),
        )
        .orderBy("prev", "cur")
    )


# ----------------------------- q182: retention cohorts (first-week based)

_RETENTION_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(MIN(ts) AS DATE)) // 7 AS BIGINT) AS cohort_week
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT user_id,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS active_week
    FROM events
)
SELECT f.cohort_week,
       CAST(a.active_week - f.cohort_week AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2 ORDER BY cohort_week, week_offset
"""


@register("q182_retention_cohorts", oracle=_RETENTION_ORACLE)
def q182(events):
    """Retention cohort analysis (the product-analytics staple): users
    cohorted by first-active week, counted per (cohort, week offset).
    Two partial-aggregatable passes over (user, week) presences — the
    activity table is DISTINCT (user, week), orders of magnitude smaller
    than events — then a broadcast of the per-user cohort map. Epoch-
    week integers keep every value engine-exact."""
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
    ).cast("bigint")
    firsts = events.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = events.select("user_id", week.alias("active_week")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("active_week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------- q183: floored running balance (cap-at-zero cumsum)

# A register that can't go negative: B_t = S_t - MIN(0, running_min(S)).
# The recursive-looking reset folds into two prefix aggregates — pure
# window algebra, no iteration, engine-exact on cents.
_FLOORED_ORACLE = """
WITH flows AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type IN ('purchase', 'click')
                THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS delta
    FROM events WHERE user_id % 25 = 0
), sums AS (
    SELECT user_id, ts, event_id,
           SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
    FROM flows
), pref AS (
    SELECT user_id, event_id, s,
           MIN(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min
    FROM sums
)
SELECT user_id, event_id,
       CAST(s - LEAST(CAST(0 AS BIGINT), run_min) AS BIGINT) AS balance_cents
FROM pref ORDER BY user_id, event_id
"""


@register("q183_floored_balance", oracle=_FLOORED_ORACLE)
def q183(events):
    """Running balance floored at zero (inventory/credit semantics) WITHOUT
    recursion: cap-at-zero folds into prefix-sum minus its running
    minimum (clamped at 0) — two stacked window aggregates on one (user,
    ts) sort, the non-iterative form of a seemingly stateful scan.
    Integer cents keep it engine-exact."""
    ev = events.where(F.col("user_id") % 25 == 0)
    flows = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("purchase", "click"), cents("value"))
        .otherwise(-cents("value"))
        .alias("delta"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = flows.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("delta").over(w).alias("s"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pref.select(
            "user_id",
            "event_id",
            (F.col("s") - F.least(F.lit(0).cast("bigint"), F.min("s").over(w2)))
            .cast("bigint")
            .alias("balance_cents"),
        )
        .orderBy("user_id", "event_id")
    )


# ------------------- q184: referential-integrity / key-quality audit

_INTEGRITY_ORACLE = """
SELECT 'lineitem_orphans' AS check_name,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_bad
UNION ALL
SELECT 'orders_unknown_customer',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'customer_dup_keys',
       CAST((SELECT COUNT(*) FROM (
             SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'orders_null_keys',
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL) AS BIGINT)
ORDER BY check_name
"""


@register("q184_integrity_audit", oracle=_INTEGRITY_ORACLE)
def q184(lineitem, orders, customer):
    """Referential-integrity audit — the data-contract checks a pipeline
    runs before promoting a table: orphaned facts (anti join), unknown
    dimension keys (anti join), duplicate primary keys (having count>1),
    null keys (scan). Each check is its own minimal-shape job; anti
    joins broadcast the key side when small and all checks reduce to
    one-row counts."""

    def one(name, cnt_df):
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("n_bad"),
        )

    orphans = lineitem.select("l_orderkey").join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    )
    unknown_cust = orders.select("o_custkey").join(
        customer.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_anti",
    )
    dup_keys = (
        customer.groupBy("c_custkey").count().where(F.col("count") > 1)
    )
    null_keys = orders.where(
        F.col("o_orderkey").isNull() | F.col("o_custkey").isNull()
    )
    return (
        one("lineitem_orphans", orphans)
        .unionAll(one("orders_unknown_customer", unknown_cust))
        .unionAll(one("customer_dup_keys", dup_keys))
        .unionAll(one("orders_null_keys", null_keys))
        .orderBy("check_name")
    )


# -------------------- q185: chi-square independence statistic

# Observed counts exact; expected = row_tot*col_tot/n on identical
# doubles; per-cell (O-E)^2/E ROUNDed(6) then decimal-summed — the q169
# recipe with a different statistic. Completes the dependence toolkit
# (q168 corr, q169 MI, q185 chi2).
_CHI2_ORACLE = """
WITH cells AS MATERIALIZED (
    SELECT event_type AS etype, DAYOFWEEK(CAST(ts AS DATE)) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
px AS MATERIALIZED (SELECT etype, CAST(SUM(o) AS BIGINT) AS rx FROM cells GROUP BY etype),
py AS MATERIALIZED (SELECT dow, CAST(SUM(o) AS BIGINT) AS ry FROM cells GROUP BY dow),
terms AS (
    SELECT cells.etype,
           ROUND(POWER(o - CAST(rx AS DOUBLE) * ry / n, 2) / (CAST(rx AS DOUBLE) * ry / n), 6) AS t
    FROM cells, tot JOIN px ON px.etype = cells.etype JOIN py ON py.dow = cells.dow
)
SELECT etype,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS chi2_part
FROM terms GROUP BY etype ORDER BY etype
"""


@register("q185_chi_square", oracle=_CHI2_ORACLE)
def q185(events):
    """Chi-square independence statistic over the (event type, day-of-
    week) contingency table — the third dependence screen (q168 corr,
    q169 MI). Same cells-first shape: the statistic's cost is the one
    contingency aggregate; everything after broadcasts."""
    cells = (
        events.select(
            F.col("event_type").alias("etype"),
            F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        )
        .groupBy("etype", "dow")
        .agg(F.count("*").alias("o"))
        .transform(pin)
    )
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    px = cells.groupBy("etype").agg(F.sum("o").cast("bigint").alias("rx"))
    py = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("ry"))
    e = F.col("rx").cast("double") * F.col("ry") / F.col("n")
    terms = (
        cells.crossJoin(F.broadcast(tot))
        .join(F.broadcast(px), "etype")
        .join(F.broadcast(py), "dow")
        .select("etype", F.round(F.pow(F.col("o") - e, 2) / e, 6).alias("t"))
    )
    return (
        terms.groupBy("etype")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("t").cast("decimal(18,6)")).cast("double").alias("chi2_part"),
        )
        .orderBy("etype")
    )


# --------------- q186: spatial radius join via grid bucketing (geo lane)

# The reference routes address changes to a geo topic; this is the geo
# OPERATOR a consumer of that topic runs: find (customer, supplier)
# pairs within a radius. Coordinates derive deterministically from keys
# (the testdata carries no lat/lon; |lat| <= 60 by construction). The
# grid bucketing lives in operators/spatial.py: a latitude-aware,
# antimeridian-wrapped cell halo (the fixed 3x3 neighborhood provably
# missed in-radius pairs at high latitude — round-4 verdict #2). The
# ORACLE is the RAW radius predicate over the cross product, with NO
# grid constraint, so the hash gate verifies the declared "pairs within
# R km" semantics and would catch any halo under-coverage.
_GEO_R_KM = 120.0

_SPATIAL_ORACLE = f"""
WITH cust AS (
    SELECT c_custkey AS id,
           (c_custkey * 37 % 1200) / 10.0 - 60.0 AS lat,
           (c_custkey * 91 % 3600) / 10.0 - 180.0 AS lon
    FROM customer WHERE c_custkey % 5 = 0
), supp AS (
    SELECT s_suppkey AS id,
           (s_suppkey * 53 % 1200) / 10.0 - 60.0 AS lat,
           (s_suppkey * 17 % 3600) / 10.0 - 180.0 AS lon
    FROM supplier
), dists AS (
    SELECT c.id AS cust, s.id AS supp,
           ROUND(2 * 6371.0 * ASIN(SQRT(
               POWER(SIN(RADIANS(s.lat - c.lat) / 2), 2) +
               COS(RADIANS(c.lat)) * COS(RADIANS(s.lat)) *
               POWER(SIN(RADIANS(s.lon - c.lon) / 2), 2))), 4) AS km
    FROM cust c CROSS JOIN supp s
)
SELECT cust, supp, km FROM dists WHERE km <= {_GEO_R_KM}
ORDER BY cust, supp
"""


@register("q186_spatial_join", oracle=_SPATIAL_ORACLE)
def q186(customer, supplier):
    """Spatial radius join (geo lane): operators/spatial.radius_join
    bounds the quadratic work to grid cells with a latitude-aware
    east-west halo on a mod-360 longitude ring (wrap-correct at the
    antimeridian); the exact haversine (rounded before the threshold,
    engine-stable) filters. max_abs_lat=60 is the synthetic coordinate
    domain bound. The oracle is grid-free (raw radius over the cross
    product) — it verifies semantics, not grid-consistency."""
    from ..operators.spatial import radius_join

    cust = customer.where(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("cust"),
        ((F.col("c_custkey") * 37 % 1200) / 10.0 - 60.0).alias("clat"),
        ((F.col("c_custkey") * 91 % 3600) / 10.0 - 180.0).alias("clon"),
    )
    supp = supplier.select(
        F.col("s_suppkey").alias("supp"),
        ((F.col("s_suppkey") * 53 % 1200) / 10.0 - 60.0).alias("slat"),
        ((F.col("s_suppkey") * 17 % 3600) / 10.0 - 180.0).alias("slon"),
    )
    pairs = radius_join(
        cust,
        supp,
        _GEO_R_KM,
        lat="clat",
        lon="clon",
        right_lat="slat",
        right_lon="slon",
        max_abs_lat=60.0,
    )
    return pairs.select("cust", "supp", "km").orderBy("cust", "supp")


# ----------------- q187: Pareto 80/20 revenue contribution per nation

_PARETO_ORACLE = """
WITH rev AS MATERIALIZED (
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
), tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
ranked AS (
    SELECT nation, cents,
           SUM(cents) OVER (ORDER BY cents DESC, nation
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM rev
)
SELECT nation, cents,
       ROUND(CAST(cum AS DOUBLE) / t, 6) AS cum_share,
       CAST(CASE WHEN CAST(cum - cents AS DOUBLE) / t < 0.8 THEN 1 ELSE 0 END AS INT) AS in_core
FROM ranked, tot ORDER BY cents DESC, nation
"""


@register("q187_pareto_share", oracle=_PARETO_ORACLE)
def q187(orders, customer, nation):
    """Pareto 80/20 contribution analysis: nations ranked by revenue with
    cumulative share; `in_core` marks the head that covers 80% of
    revenue (flag computed from the PRE-row cumulative so the boundary
    nation is included, engine-stable on exact cents). Dim joins
    broadcast; the window runs over |nations| rows."""
    rev = (
        orders
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
        )
    ).transform(pin)
    tot = rev.agg(F.sum("cents").cast("bigint").alias("t"))
    w = (
        Window.orderBy(F.col("cents").desc(), "nation")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rev.select("nation", "cents", F.sum("cents").over(w).alias("cum"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "cents",
            F.round(F.col("cum").cast("double") / F.col("t"), 6).alias("cum_share"),
            F.when((F.col("cum") - F.col("cents")).cast("double") / F.col("t") < 0.8, 1)
            .otherwise(0)
            .cast("int")
            .alias("in_core"),
        )
        .orderBy(F.col("cents").desc(), "nation")
    )


# -------------------------- q188: A/B lift with Welch t-statistic

# Variant assignment = md5 hash parity (deterministic); means/variances
# from integer-exact moments (q154 recipe); the t formula evaluates on
# identical doubles, ROUNDed(4).
_ABTEST_ORACLE = """
WITH assigned AS (
    SELECT CASE WHEN ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                THEN 'control' ELSE 'treatment' END AS variant,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
), s AS (
    SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(c) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
           CAST(CAST(SUM(c * c) AS DECIMAL(38,0)) AS DOUBLE) AS s2
    FROM assigned GROUP BY variant
), wide AS (
    SELECT MAX(CASE WHEN variant = 'control' THEN n END) AS nc,
           MAX(CASE WHEN variant = 'control' THEN s1 END) AS s1c,
           MAX(CASE WHEN variant = 'control' THEN s2 END) AS s2c,
           MAX(CASE WHEN variant = 'treatment' THEN n END) AS nt,
           MAX(CASE WHEN variant = 'treatment' THEN s1 END) AS s1t,
           MAX(CASE WHEN variant = 'treatment' THEN s2 END) AS s2t
    FROM s
)
SELECT nc, nt,
       ROUND((s1t / nt - s1c / nc) / 100, 4) AS lift_dollars,
       ROUND((s1t / nt - s1c / nc) /
             SQRT((s2t / nt - (s1t / nt) * (s1t / nt)) / nt +
                  (s2c / nc - (s1c / nc) * (s1c / nc)) / nc), 4) AS t_stat
FROM wide
"""


@register("q188_ab_test", oracle=_ABTEST_ORACLE)
def q188(events):
    """A/B experiment readout: hash-assigned variants (deterministic,
    rerun-stable — the q167 principle), mean lift and Welch t-statistic
    from one integer-exact moment aggregate per variant. The entire
    analysis is 2 aggregate rows pivoted wide; event volume touches only
    the first aggregate."""
    ev = events.where(F.col("event_type") == "purchase")
    variant = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    assigned = ev.select(
        variant.alias("variant"),
        cents("value").alias("c"),
    )
    s = assigned.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("decimal(38,0)").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").cast("double").alias("s2"),
    )
    def side(v, col):
        return F.max(F.when(F.col("variant") == v, F.col(col)))
    wide = s.agg(
        side("control", "n").alias("nc"),
        side("control", "s1").alias("s1c"),
        side("control", "s2").alias("s2c"),
        side("treatment", "n").alias("nt"),
        side("treatment", "s1").alias("s1t"),
        side("treatment", "s2").alias("s2t"),
    )
    mc = F.col("s1c") / F.col("nc")
    mt = F.col("s1t") / F.col("nt")
    vc = F.col("s2c") / F.col("nc") - mc * mc
    vt = F.col("s2t") / F.col("nt") - mt * mt
    return wide.select(
        "nc",
        "nt",
        F.round((mt - mc) / 100, 4).alias("lift_dollars"),
        F.round((mt - mc) / F.sqrt(vt / F.col("nt") + vc / F.col("nc")), 4).alias("t_stat"),
    )


# ------------------ q189: IGNORE NULLS window navigation (gap carry)

_IGNORE_NULLS_ORACLE = """
WITH vals AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_id % 3 = 0 THEN NULL
                ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
    FROM events WHERE user_id % 50 = 0
)
SELECT user_id, event_id,
       LAST_VALUE(v IGNORE NULLS) OVER w AS carried,
       FIRST_VALUE(v IGNORE NULLS) OVER w AS first_seen
FROM vals
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


@register("q189_ignore_nulls_window", oracle=_IGNORE_NULLS_ORACLE)
def q189(events):
    """IGNORE NULLS window navigation — the missing cell of the q22
    lag/lead/first/last family and the engine primitive under LOCF
    (q111 builds it manually; this is the declarative form): every third
    reading is nulled and last_value(..., ignoreNulls) carries the
    previous good value forward in one window pass."""
    ev = events.where(F.col("user_id") % 50 == 0)
    vals = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
            cents("value")
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        vals.select(
            "user_id",
            "event_id",
            F.last("v", ignorenulls=True).over(w).alias("carried"),
            F.first("v", ignorenulls=True).over(w).alias("first_seen"),
        )
        .orderBy("user_id", "event_id")
    )


# ------------- q190: rollup lattice (day -> month reaggregation chain)

_ROLLUP_CHAIN_ORACLE = """
SELECT event_type,
       CAST(DATE_TRUNC('month', CAST(ts AS DATE)) AS DATE) AS month,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1, 2 ORDER BY event_type, month
"""


@register("q190_rollup_chain", oracle=_ROLLUP_CHAIN_ORACLE)
def q190(events):
    """Rollup lattice: the monthly aggregate is computed FROM the daily
    aggregate, never from raw events — the day table is the materialized
    rollup every warehouse maintains, and higher granularities reaggregate
    it (decimal partial sums merge losslessly, the q117 identity up the
    time lattice). The oracle aggregates raw events directly, proving the
    two-level chain exact. Shuffle sizes: events→days once, then
    days→months on a table that is ~1/30th the size."""
    daily = (
        events.groupBy(
            "event_type",
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_total"),
        )
    )
    return (
        daily.groupBy(
            "event_type",
            F.trunc("day", "month").alias("month"),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("dec_total").cast("double").alias("total"),
        )
        .orderBy("event_type", "month")
    )


# ---------------- q191: order-independent table fingerprint (checksum)

# Replication/migration equality primitive: one deterministic 60-bit
# hash per row (all columns canonicalized to integers first), summed in
# DECIMAL(38,0) — order-free, partition-free, engine-exact. Two tables
# are byte-equal iff (n, fingerprint) match (up to hash collisions).
_FINGERPRINT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(('0x' || SUBSTR(MD5(
           CAST(event_id AS VARCHAR) || '|' ||
           CAST(EPOCH_US(ts) AS VARCHAR) || '|' ||
           CAST(user_id AS VARCHAR) || '|' ||
           event_type || '|' ||
           CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)
       ), 1, 15))::BIGINT) % 1152921504606846976 AS BIGINT) AS fingerprint
FROM events
"""


@register("q191_table_fingerprint", oracle=_FINGERPRINT_ORACLE)
def q191(events):
    """Order-independent table fingerprint: canonicalize every column to
    an integer string (epoch-micros, cents), md5 each row to 60 bits,
    SUM in DECIMAL(38,0), publish the sum mod 2^60 as BIGINT. Any row
    order, any partitioning, any engine — same (n, fingerprint) — the
    cheap equality check for replication, backfills and engine
    migrations (this repo's own oracle gate in miniature). The mod-2^60
    digest keeps ALL hash bits (a DOUBLE cast would truncate the ~80-bit
    sum to 53 significant bits — round-4 advice); it is exactly the
    wrap-around checksum two replicas would exchange. One map pass + one
    scalar aggregate."""
    row_str = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.unix_micros("ts").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        cents("value").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(38,0)")
    return events.agg(
        F.count("*").alias("n"),
        (F.sum(h) % F.lit(1152921504606846976).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("fingerprint"),
    )


# --------------- q192: rolling-window anomaly score (24-event z-score)

# Rolling mean/std from exact BIGINT sum/sumsq over a ROWS frame — the
# q154 recipe made windowed; z ROUNDed(4) before the threshold.
_ROLLING_ANOM_ORACLE = """
WITH c AS (
    SELECT user_id, ts, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
    FROM events WHERE user_id % 25 = 0
), rolled AS (
    SELECT user_id, event_id, v,
           SUM(v) OVER w AS s1, SUM(v * v) OVER w AS s2,
           COUNT(*) OVER w AS n
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       ROUND((v - CAST(s1 AS DOUBLE) / n) /
             SQRT(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 4) AS z
FROM rolled
WHERE n >= 24
  AND CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
ORDER BY user_id, event_id
"""


@register("q192_rolling_anomaly", oracle=_ROLLING_ANOM_ORACLE)
def q192(events):
    """Rolling anomaly score: z of each reading against its own trailing
    24-event window (q154's global z-score made streaming-shaped — the
    monitoring primitive). Exact BIGINT rolling sum/sumsq feed identical
    IEEE mean/std; full windows only. One (user, ts) sort shuffle."""
    ev = events.where(F.col("user_id") % 25 == 0)
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        cents("value").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    rolled = c.select(
        "user_id",
        "event_id",
        "v",
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("s2"),
        F.count("*").over(w).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return (
        rolled.where((F.col("n") >= 24) & (var > 0))
        .select(
            "user_id",
            "event_id",
            F.round((F.col("v") - mean) / F.sqrt(var), 4).alias("z"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------- q193: key-skew diagnosis report (ops tooling)

_SKEW_REPORT_ORACLE = """
WITH sizes AS (
    SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_group,
       ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS mean_group,
       CAST(SUM(CASE WHEN c >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
       CAST(SUM(CASE WHEN c >= 7 THEN c ELSE 0 END) AS BIGINT) AS rows_in_heavy
FROM sizes
"""


@register("q193_skew_report", oracle=_SKEW_REPORT_ORACLE)
def q193(lineitem):
    """Key-skew diagnosis — the report run BEFORE choosing a join
    strategy (broadcast / salt / AQE, q74/q112/q136): group-size
    distribution of the join key, heavy-hitter count and their row
    share. Two aggregates, the second over |keys| rows; the decision it
    feeds is exactly why q136 exists."""
    sizes = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("c"))
    heavy = F.when(F.col("c") >= 7, 1).otherwise(0)
    return sizes.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").alias("max_group"),
        F.round(F.sum("c").cast("double") / F.count("*"), 6).alias("mean_group"),
        F.sum(heavy).cast("bigint").alias("n_heavy"),
        F.sum(F.when(F.col("c") >= 7, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("rows_in_heavy"),
    )


# ------------ q194: set-similarity join via prefix filtering (PPJoin-lite)

# The LOSSLESS candidate-generation family (vs LSH's probabilistic one,
# q44): order each doc's SHINGLE set by ascending global frequency; two
# sets with Jaccard >= t MUST share an element among their first
# |set| - ceil(t*|set|) + 1 rarest (prefix theorem), and their sizes
# must satisfy t|a| <= |b| <= |a|/t (length theorem). Shingles, not
# unigrams: the corpus vocabulary is small and shared, so a unigram
# prefix prunes nothing — 3-gram shingles are near-unique per doc and
# collapse the candidate set to the true near-dups. Both filters are
# theorems, so the oracle (exact thresholded Jaccard with only the
# length-filter shortcut) must match EXACTLY.
_PPJOIN_T = 0.6

_PPJOIN_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0
    UNION ALL
    SELECT doc_id + 1000000, text || ' zz' FROM documents
    WHERE doc_id % 8 = 0 AND doc_id % 3 = 0
), toks AS (
    SELECT doc_id,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tk
    FROM corpus
), sh AS MATERIALIZED (
    SELECT doc_id,
           LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sg
    FROM toks
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           LEN(LIST_INTERSECT(a.sg, b.sg)) AS inter,
           LEN(a.sg) + LEN(b.sg) - LEN(LIST_INTERSECT(a.sg, b.sg)) AS uni
    FROM sh a JOIN sh b
      ON a.doc_id < b.doc_id
     AND LEN(b.sg) * 1.0 >= {_PPJOIN_T} * LEN(a.sg)
     AND LEN(a.sg) * 1.0 >= {_PPJOIN_T} * LEN(b.sg)
)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
FROM pairs
WHERE uni > 0 AND ROUND(CAST(inter AS DOUBLE) / uni, 4) >= {_PPJOIN_T}
ORDER BY doc_a, doc_b
"""


@register("q194_ppjoin", oracle=_PPJOIN_ORACLE)
def q194(documents):
    """Set-similarity self-join with PREFIX FILTERING (PPJoin family)
    over 3-gram shingle sets: shingles ranked by ascending global
    frequency, each doc emits only its prefix (|set| - ceil(t|set|) + 1
    rarest), candidates equi-join on those rare shingles AND pass the
    length filter t|a| <= |b| <= |a|/t, exact Jaccard verifies. Lossless
    by both theorems — the oracle is the brute-force thresholded join
    and must match EXACTLY (contrast q44's probabilistic LSH recall).
    Near-unique shingles keep candidate buckets tiny (the corpus
    includes planted ' zz' mutations, so the output is the real
    near-dup pair set)."""
    from ..functions import text as T

    d = documents.where(F.col("doc_id") % 8 == 0)
    corpus = d.select("doc_id", "text").unionAll(
        d.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
    )
    toks = corpus.select(
        "doc_id",
        F.array_distinct(T.shingles(T.tokens(F.col("text")), 3)).alias("tk"),
    ).transform(pin)
    tok_freq = (
        toks.select(F.explode("tk").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("freq"))
    )
    exploded = toks.select("doc_id", F.size("tk").alias("sz"), F.explode("tk").alias("t"))
    ranked = exploded.join(F.broadcast(tok_freq), "t").select(
        "doc_id",
        "sz",
        "t",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy("freq", "t")
        )
        .alias("pos"),
    )
    # prefix length = sz - ceil(t*sz) + 1
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * _PPJOIN_T) + 1
    ).select("doc_id", "sz", "t")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"), "t"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"), "t"
    )
    cand = (
        a.join(b, "t")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("szb") * 1.0 >= _PPJOIN_T * F.col("sza"))
            & (F.col("sza") * 1.0 >= _PPJOIN_T * F.col("szb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tka"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tkb"))
    inter = F.size(F.array_intersect("tka", "tkb"))
    uni = F.size("tka") + F.size("tkb") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where((uni > 0) & (F.round(inter.cast("double") / uni, 4) >= _PPJOIN_T))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / uni, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------- q195: min-max feature scaling per group

_MINMAX_ORACLE = """
WITH c AS MATERIALIZED (
    SELECT l_returnflag AS flag, l_orderkey * 10 + l_linenumber AS uid,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
    FROM lineitem WHERE l_orderkey % 20 = 0
), b AS MATERIALIZED (
    SELECT flag, CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi
    FROM c GROUP BY flag
)
SELECT c.flag, c.uid,
       ROUND(CAST(c.v - b.lo AS DOUBLE) / (b.hi - b.lo), 6) AS scaled
FROM c JOIN b ON c.flag = b.flag
WHERE b.hi > b.lo
ORDER BY c.flag, c.uid
"""


@register("q195_minmax_scale", oracle=_MINMAX_ORACLE)
def q195(lineitem):
    """Per-group min-max feature scaling (the [0,1] normalization before
    model input): group bounds are a 3-row broadcast back onto the fact;
    integer numerator/denominator feed one IEEE division per row."""
    li = lineitem.where(F.col("l_orderkey") % 20 == 0)
    c = li.select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        cents("l_extendedprice").alias("v"),
    )
    b = c.groupBy("flag").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    return (
        c.join(F.broadcast(b), "flag")
        .where(F.col("hi") > F.col("lo"))
        .select(
            "flag",
            "uid",
            F.round(
                (F.col("v") - F.col("lo")).cast("double") / (F.col("hi") - F.col("lo")),
                6,
            ).alias("scaled"),
        )
        .orderBy("flag", "uid")
    )


# ------------------- q196: vocabulary build + OOV-rate scoring

_VOCAB_MIN_FREQ = 5

_VOCAB_ORACLE = f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                      t -> LENGTH(t) > 0)) AS t
    FROM documents
), vocab AS MATERIALIZED (
    SELECT t FROM toks GROUP BY t HAVING COUNT(*) >= {_VOCAB_MIN_FREQ}
), scored AS (
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM toks LEFT JOIN vocab v ON toks.t = v.t
    GROUP BY toks.doc_id
)
SELECT CAST((SELECT COUNT(*) FROM vocab) AS BIGINT) AS vocab_size,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_oov) AS BIGINT) AS total_oov,
       CAST(SUM(CASE WHEN n_oov * 5 > n_tok THEN 1 ELSE 0 END) AS BIGINT) AS high_oov_docs
FROM scored
"""


@register("q196_vocab_oov", oracle=_VOCAB_ORACLE)
def q196(documents):
    """Tokenizer-vocabulary build (min-frequency cutoff) + per-doc OOV
    scoring against it — the two-pass vocabulary pipeline every tokenizer
    training run starts with. The vocab broadcasts back onto the token
    stream; the high-OOV flag (oov > 20%) uses integer cross-products,
    no division. One token pass feeds both stages."""
    toks = documents.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
        ).alias("t"),
    ).transform(pin)
    vocab = toks.groupBy("t").agg(F.count("*").alias("freq")).where(
        F.col("freq") >= _VOCAB_MIN_FREQ
    )
    scored = (
        toks.join(
            F.broadcast(vocab.select("t", F.lit(1).alias("in_vocab"))), "t", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    vocab_size = vocab.agg(F.count("*").cast("bigint").alias("vocab_size"))
    return scored.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_oov").cast("bigint").alias("total_oov"),
        F.sum(F.when(F.col("n_oov") * 5 > F.col("n_tok"), 1).otherwise(0))
        .cast("bigint")
        .alias("high_oov_docs"),
    ).crossJoin(F.broadcast(vocab_size)).select(
        "vocab_size", "n_docs", "total_tokens", "total_oov", "high_oov_docs"
    )


# ---------------- q197: zero-filled reporting grid (calendar x type)

_ZEROFILL_ORACLE = """
WITH days AS (
    SELECT UNNEST(GENERATE_SERIES(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY))::DATE AS day
), types AS (
    SELECT DISTINCT event_type FROM events
), grid AS (
    SELECT day, event_type FROM days CROSS JOIN types
), counts AS (
    SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events WHERE user_id % 100 = 0 GROUP BY 1, 2
)
SELECT CAST(DATEDIFF('day', DATE '1970-01-01', g.day) AS BIGINT) AS day_num,
       g.event_type AS event_type,
       COALESCE(c.n, 0) AS n,
       COALESCE(c.total, 0.0) AS total
FROM grid g LEFT JOIN counts c ON g.day = c.day AND g.event_type = c.event_type
ORDER BY day_num, g.event_type
"""


@register("q197_zero_fill_grid", oracle=_ZEROFILL_ORACLE)
def q197(spark, events):
    """Zero-filled reporting grid: every (calendar day × type) cell
    reported, absent combinations as explicit zeros — the BI contract
    that makes downstream charts gap-free (q10's bounded cross join of
    two TINY dims + a left join of the sparse counts; the fact table
    never cross-joins anything)."""
    days = spark.range(30).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("day")
    )
    types = events.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    counts = (
        events.where(F.col("user_id") % 100 == 0)
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )
    return (
        grid.join(counts, ["day", "event_type"], "left")
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_num"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(F.col("total"), F.lit(0.0)).alias("total"),
        )
        .orderBy("day_num", "event_type")
    )


# ------------------ q198: period-over-period growth (MoM per type)

_MOM_ORACLE = """
WITH weekly AS (
    SELECT event_type,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type, week, n,
       CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS BIGINT) AS prev_n,
       ROUND(CAST(n - LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS DOUBLE)
             / LAG(n) OVER (PARTITION BY event_type ORDER BY week), 6) AS growth
FROM weekly ORDER BY event_type, week
"""


@register("q198_period_growth", oracle=_MOM_ORACLE)
def q198(events):
    """Period-over-period growth (week-over-week per type): the rollup +
    lag window that powers every trend dashboard. Aggregate first (cells
    = |types|×|weeks|), window second — the window never sees event
    volume."""
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
    ).cast("bigint")
    weekly = events.groupBy("event_type", week.alias("week")).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return (
        weekly.select(
            "event_type",
            "week",
            "n",
            prev.cast("bigint").alias("prev_n"),
            F.round((F.col("n") - prev).cast("double") / prev, 6).alias("growth"),
        )
        .orderBy("event_type", "week")
    )


# -------------- q199: item co-occurrence similarity (recsys prep)

# Quadratic work bounded by per-order basket size (TPC-H baskets are
# ~4-7 lines): pair expansion inside each order, then cosine from exact
# integer co-occurrence counts. The classic item-item similarity build.
_COOC_ORACLE = """
WITH baskets AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ord, l_partkey AS item
    FROM lineitem WHERE l_orderkey % 10 = 0
), item_n AS MATERIALIZED (
    SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM baskets GROUP BY item
), pairs AS (
    SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS cooc
    FROM baskets a JOIN baskets b ON a.ord = b.ord AND a.item < b.item
    GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.cooc,
       ROUND(CAST(p.cooc AS DOUBLE) / SQRT(CAST(na.n AS DOUBLE) * nb.n), 6) AS cosine
FROM pairs p
JOIN item_n na ON na.item = p.item_a
JOIN item_n nb ON nb.item = p.item_b
WHERE p.cooc >= 2
ORDER BY item_a, item_b
"""


@register("q199_item_cooccurrence", oracle=_COOC_ORACLE)
def q199(lineitem):
    """Item-item co-occurrence similarity (the recsys candidate build):
    pair expansion strictly WITHIN each order basket (quadratic only in
    basket size, the LSH invariant again), cosine from exact integer
    counts with marginals broadcast back. cooc >= 2 prunes the noise
    tail before the join."""
    li = lineitem.where(F.col("l_orderkey") % 10 == 0)
    baskets = li.select(
        F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("item")
    ).distinct()
    item_n = baskets.groupBy("item").agg(F.count("*").alias("n"))
    a = baskets.select(F.col("ord"), F.col("item").alias("item_a"))
    b = baskets.select(F.col("ord"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "ord")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("cooc"))
        .where(F.col("cooc") >= 2)
    )
    na = item_n.select(F.col("item").alias("item_a"), F.col("n").alias("na"))
    nb = item_n.select(F.col("item").alias("item_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            "cooc",
            F.round(
                F.col("cooc").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .orderBy("item_a", "item_b")
    )


# ------------------- q200: leave-one-out target encoding (ML feature)

# LOO mean excluding the row itself: (sum_cat - x) / (n_cat - 1) — the
# encoding that avoids target leakage. Exact integer sums broadcast per
# category; one IEEE division per row, ROUNDed(6).
_TARGET_ENC_ORACLE = """
WITH rows_ AS MATERIALIZED (
    SELECT o_orderkey, o_orderpriority AS cat,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
    FROM orders WHERE o_orderkey % 10 = 0
), stats AS (
    SELECT cat, CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
    FROM rows_ GROUP BY cat
)
SELECT r.o_orderkey, r.cat,
       ROUND(CAST(s.s - r.y AS DOUBLE) / (s.n - 1) / 100, 6) AS loo_mean
FROM rows_ r JOIN stats s ON r.cat = s.cat
WHERE s.n > 1
ORDER BY r.o_orderkey
"""


@register("q200_target_encoding", oracle=_TARGET_ENC_ORACLE)
def q200(orders):
    """Leave-one-out target encoding (categorical → numeric without
    target leakage): per-category exact sums broadcast back, each row's
    encoding excludes itself via (sum - y) / (n - 1). The standard
    high-cardinality-categorical feature for gradient boosting."""
    o = orders.where(F.col("o_orderkey") % 10 == 0)
    rows_ = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        cents("o_totalprice").alias("y"),
    )
    stats = rows_.groupBy("cat").agg(
        F.sum("y").cast("bigint").alias("s"), F.count("*").alias("n")
    )
    return (
        rows_.join(F.broadcast(stats), "cat")
        .where(F.col("n") > 1)
        .select(
            "o_orderkey",
            "cat",
            F.round((F.col("s") - F.col("y")).cast("double") / (F.col("n") - 1) / 100, 6)
            .alias("loo_mean"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------- q201: RFM customer segmentation

_RFM_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey AS cust,
           CAST(MAX(DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS last_day,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary
    FROM orders GROUP BY o_custkey
), scored AS (
    SELECT cust, last_day, freq, monetary,
           NTILE(4) OVER (ORDER BY last_day DESC, cust) AS r,
           NTILE(4) OVER (ORDER BY freq DESC, cust) AS f,
           NTILE(4) OVER (ORDER BY monetary DESC, cust) AS m
    FROM per_cust
)
SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary) AS BIGINT) AS segment_cents
FROM scored GROUP BY r, f, m ORDER BY r, f, m
"""


@register("q201_rfm_segments", oracle=_RFM_ORACLE)
def q201(orders):
    """RFM segmentation (recency / frequency / monetary quartiles — the
    CRM workhorse): one per-customer aggregate, three ntile windows with
    unique tiebreaks (engine-deterministic), segment rollup. Windows run
    over |customers|, never orders — and Spark plans all three through
    ONE shared SinglePartition exchange above the customer aggregate
    (plan-asserted: 2 exchanges total), so only the three in-memory
    sorts of the collapsed frame remain. At extreme |customers| the
    q206-style boundary-histogram assignment is the escape hatch."""
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        )
        .cast("bigint")
        .alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(cents("o_totalprice")).cast("bigint").alias("monetary"),
    )
    r = F.ntile(4).over(Window.orderBy(F.col("last_day").desc(), "cust"))
    f = F.ntile(4).over(Window.orderBy(F.col("freq").desc(), "cust"))
    m = F.ntile(4).over(Window.orderBy(F.col("monetary").desc(), "cust"))
    scored = per_cust.select(
        "cust",
        "monetary",
        r.cast("int").alias("r"),
        f.cast("int").alias("f"),
        m.cast("int").alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary").cast("bigint").alias("segment_cents"),
        )
        .orderBy("r", "f", "m")
    )


# ---------------- q202: sequence-pattern detection (A→B within 1 hour)

# match_recognize-lite: "purchase preceded by a click within an hour",
# solved with the q189 primitive — carry the last click time forward
# (last_value ignoreNulls) and compare. One window pass, no self-join.
_SEQ_ORACLE = """
WITH marked AS (
    SELECT user_id, ts, event_id, event_type,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN EPOCH_US(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
    FROM events
)
SELECT user_id, event_id,
       CAST((EPOCH_US(ts) - last_click_us) // 1000 AS BIGINT) AS gap_ms
FROM marked
WHERE event_type = 'purchase'
  AND last_click_us IS NOT NULL
  AND EPOCH_US(ts) - last_click_us <= 3600000000
ORDER BY user_id, event_id
"""


@register("q202_sequence_match", oracle=_SEQ_ORACLE)
def q202(events):
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): purchases with
    a click by the same user within the preceding hour. The carried
    last-click timestamp (last_value ignoreNulls over a 1-PRECEDING
    frame) turns the event-sequence join into ONE window pass — no
    self-join, no interval explosion."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(click_us, ignorenulls=True).over(w).alias("last_click_us"),
    )
    gap = F.unix_micros("ts") - F.col("last_click_us")
    return (
        marked.where(
            (F.col("event_type") == "purchase")
            & F.col("last_click_us").isNotNull()
            & (gap <= 3600000000)
        )
        .select(
            "user_id",
            "event_id",
            F.floor(gap / 1000).cast("bigint").alias("gap_ms"),
        )
        .orderBy("user_id", "event_id")
    )


# ------------- q203: Merkle-bucket replica diff (anti-entropy repair)

# Two "replicas" of events (the original, and a copy with deterministic
# corruption injected into every 1000th row) are fingerprinted per key
# bucket (q191's checksum, bucketed); only mismatching buckets surface.
# At 100 TB this is how replica repair avoids comparing tables row by
# row: ship 1024 bucket digests, re-sync only the buckets that differ.
_MERKLE_ORACLE = """
WITH canon AS (
    SELECT event_id, event_id % 1024 AS bucket,
           ('0x' || SUBSTR(MD5(
               CAST(event_id AS VARCHAR) || '|' ||
               CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)
           ), 1, 15))::BIGINT AS h
    FROM events
), replica AS (
    SELECT event_id, event_id % 1024 AS bucket,
           ('0x' || SUBSTR(MD5(
               CAST(event_id AS VARCHAR) || '|' ||
               CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    + CASE WHEN event_id % 1000 = 0 THEN 1 ELSE 0 END AS VARCHAR)
           ), 1, 15))::BIGINT AS h
    FROM events
), a AS MATERIALIZED (
    SELECT bucket, CAST(SUM(h) AS DECIMAL(38,0)) AS fp,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM canon GROUP BY bucket
), b AS MATERIALIZED (
    SELECT bucket, CAST(SUM(h) AS DECIMAL(38,0)) AS fp,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM replica GROUP BY bucket
)
SELECT a.bucket AS bucket, a.n AS n_rows
FROM a JOIN b ON a.bucket = b.bucket
WHERE a.fp <> b.fp OR a.n <> b.n
ORDER BY bucket
"""


@register("q203_merkle_diff", oracle=_MERKLE_ORACLE)
def q203(events):
    """Merkle-bucket replica diff (anti-entropy repair): both replicas
    reduce to 1024 per-bucket (fingerprint, count) digests — q191's
    order-free checksum, bucketed — and only differing buckets surface
    for re-sync. Corruption is injected deterministically into every
    1000th row of the 'replica' so the diff is data-defined. The
    fingerprint comparison stays on the full DECIMAL(38,0) sums (a
    DOUBLE cast would truncate the ~70-bit bucket sums to 53 bits and
    could silently equate differing digests — round-4 advice)."""

    def digest(corrupt: bool):
        v = cents("value")
        if corrupt:
            v = v + F.when(F.col("event_id") % 1000 == 0, 1).otherwise(0)
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("event_id").cast("string"),
                        v.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("decimal(38,0)")
        return events.groupBy((F.col("event_id") % 1024).alias("bucket")).agg(
            F.sum(h).cast("decimal(38,0)").alias("fp"),
            F.count("*").alias("n"),
        )

    a = digest(False)
    b = digest(True).withColumnRenamed("fp", "fp_b").withColumnRenamed("n", "n_b")
    return (
        a.join(b, "bucket")
        .where((F.col("fp") != F.col("fp_b")) | (F.col("n") != F.col("n_b")))
        .select("bucket", F.col("n").cast("bigint").alias("n_rows"))
        .orderBy("bucket")
    )


# ------------- q204: late-arriving dimension fallback (Unknown member)

_LATE_DIM_ORACLE = """
WITH dim AS (
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 7 <> 0
)
SELECT COALESCE(d.c_mktsegment, 'UNKNOWN') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o LEFT JOIN dim d ON d.c_custkey = o.o_custkey
GROUP BY 1 ORDER BY segment
"""


@register("q204_late_dim_fallback", oracle=_LATE_DIM_ORACLE)
def q204(customer, orders):
    """Late-arriving dimension handling: facts whose dim row hasn't
    landed yet (1/7th of customers withheld) roll up under an explicit
    UNKNOWN member instead of being dropped or failing the job — the
    warehouse conformance pattern that keeps totals complete. Broadcast
    left join + COALESCE; re-running after the dim lands reclassifies
    automatically."""
    dim = customer.where(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders
        .join(F.broadcast(dim), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .orderBy("segment")
    )


# ----------- q205: max concurrency via sweep line (interval algebra)

# Classic sweep line distributed: intervals emit (+1 at start, -1 after
# end), a running sum ordered by time gives instantaneous concurrency,
# the max per day is the capacity-planning number. Tie order is pinned:
# -1 sorts before +1 at the same instant (delta ASC), so an interval
# that ended exactly where another starts never transiently overlaps —
# the brute-force property test in tests/test_properties.py caught the
# starts-first ordering over-counting by one at such touch points.
_CONCURRENCY_ORACLE = """
WITH sessions AS MATERIALIZED (
    SELECT user_id, CAST(ts AS DATE) AS day,
           MIN(EPOCH_US(ts)) AS t0, MAX(EPOCH_US(ts)) AS t1
    FROM events GROUP BY user_id, CAST(ts AS DATE)
), pts AS (
    SELECT day, t0 AS t, 1 AS delta, user_id FROM sessions
    UNION ALL
    SELECT day, t1 + 1, -1, user_id FROM sessions
), swept AS (
    SELECT day,
           SUM(delta) OVER (PARTITION BY day ORDER BY t, delta, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
    FROM pts
)
SELECT CAST(DATEDIFF('day', DATE '1970-01-01', day) AS BIGINT) AS day_num,
       CAST(MAX(conc) AS BIGINT) AS max_concurrent
FROM swept GROUP BY day ORDER BY day_num
"""


@register("q205_max_concurrency", oracle=_CONCURRENCY_ORACLE)
def q205(events):
    """Max concurrent user sessions per day by SWEEP LINE: each session
    interval becomes a +1/-1 endpoint, one (day, time)-ordered running
    sum gives instantaneous concurrency, max per day is the capacity
    number. The interval problem that looks like a self-join is one
    window pass over 2x|sessions| points."""
    sessions = events.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    pts = sessions.select(
        "day", F.col("t0").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        sessions.select(
            "day", (F.col("t1") + 1).alias("t"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta"), "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = pts.select("day", F.sum("delta").over(w).alias("conc"))
    return (
        swept.groupBy(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_num")
        )
        .agg(F.max("conc").cast("bigint").alias("max_concurrent"))
        .orderBy("day_num")
    )


# ---------------------- q206: decile lift table (model evaluation)

# Pseudo-score = md5 hash mixed with the label signal so deciles are
# non-trivial; label = purchase. Lift per decile from exact counts; the
# score is deterministic (no model weights needed to pin the MECHANICS).
_LIFT_ORACLE = """
WITH scored AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           ('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               + CASE WHEN event_type = 'purchase' THEN 2000000000 ELSE 0 END AS score
    FROM events
), ranked AS (
    SELECT label, NTILE(10) OVER (ORDER BY score DESC, event_id) AS decile
    FROM scored
), per_dec AS MATERIALIZED (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS pos
    FROM ranked GROUP BY decile
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS post FROM per_dec
)
SELECT CAST(decile AS INT) AS decile, n, pos,
       ROUND((CAST(pos AS DOUBLE) / n) / (CAST(post AS DOUBLE) / nt), 6) AS lift
FROM per_dec, tot ORDER BY decile
"""


@register("q206_lift_table", oracle=_LIFT_ORACLE)
def q206(events):
    """Decile lift table computed WITHOUT ranking event volume (round-4
    verdict #4): ntile(10) over (score DESC, event_id) is positional, so
    the per-decile (n, pos) counts are derivable from (a) the SCORE
    HISTOGRAM — groupBy(score), map-side combinable — plus (b) a
    targeted probe of the <=10 tie groups that straddle a decile
    boundary, where the event_id tiebreak decides which labels fall on
    each side. The only windows run over |distinct scores| and over the
    10-row decile frame; the event table is never globally sorted.
    Exact: every quantity is integer until the final lift division, and
    the boundary-group probe ranks by the SAME (event_id ASC within
    equal score) order ntile uses."""
    label = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    score = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + F.when(F.col("event_type") == "purchase", 2000000000).otherwise(0)
    )
    scored = events.select("event_id", label.alias("label"), score.alias("score"))
    tiles = exact_ntile_counts(scored, 10, descending=True)
    return tiles.select(
        F.col("tile").alias("decile"),
        "n",
        "pos",
        F.round(
            (F.col("pos").cast("double") / F.col("n"))
            / (F.col("post").cast("double") / F.col("nt")),
            6,
        ).alias("lift"),
    ).orderBy("decile")


# ------------------- q207: exact ROC AUC via rank-sum (Mann-Whitney)

# AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with average ranks
# for ties. Average tied rank is (min+max)/2 — a .5-exact double; every
# other quantity is an exact integer, so AUC is engine-identical before
# the final ROUND(6).
_AUC_ORACLE = """
WITH scored AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
    FROM events
), ranked AS (
    SELECT label,
           RANK() OVER (ORDER BY score) AS rmin,
           CAST(COUNT(*) OVER (PARTITION BY score) AS BIGINT) AS nties,
           RANK() OVER (ORDER BY score) + COUNT(*) OVER (PARTITION BY score) - 1 AS rmax
    FROM scored
), sums AS (
    SELECT CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
           CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
           SUM(CASE WHEN label = 1 THEN (rmin + rmax) / 2.0 ELSE 0 END) AS rsum
    FROM ranked
)
SELECT np, nn,
       ROUND((rsum - CAST(np AS DOUBLE) * (np + 1) / 2) / (CAST(np AS DOUBLE) * nn), 6) AS auc
FROM sums
"""


@register("q207_auc_ranksum", oracle=_AUC_ORACLE)
def q207(events):
    """Exact ROC AUC by the Mann-Whitney rank-sum identity, computed
    from the SCORE HISTOGRAM (round-4 verdict #3): a map-side-combinable
    groupBy(score) collapses event volume to |distinct scores| rows; the
    running count over that small frame gives every tie group's min/max
    rank, and 2*rsum = sum(n_pos * (rmin + rmax)) stays exact BIGINT
    arithmetic. The single-partition window never sees the event table —
    only the histogram — so the plan has no global sort of event volume.
    Identical value to the per-event form: average tied ranks are
    constant within a tie group, so grouping by score loses nothing."""
    scored = events.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        cents("value").alias("score"),
    )
    hist = scored.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").cast("bigint").alias("n_pos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "n",
        "n_pos",
        (F.coalesce(F.sum("n").over(w), F.lit(0)) + 1).alias("rmin"),
    ).withColumn("rmax", F.col("rmin") + F.col("n") - 1)
    sums = ranked.agg(
        F.sum("n_pos").cast("bigint").alias("np"),
        F.sum(F.col("n") - F.col("n_pos")).cast("bigint").alias("nn"),
        F.sum(F.col("n_pos") * (F.col("rmin") + F.col("rmax")))
        .cast("bigint")
        .alias("rsum2"),
    )
    return sums.select(
        "np",
        "nn",
        F.round(
            (F.col("rsum2") / 2.0 - F.col("np").cast("double") * (F.col("np") + 1) / 2)
            / (F.col("np").cast("double") * F.col("nn")),
            6,
        ).alias("auc"),
    )


# ----------- q208: interval-union coverage (utilization per day)

# Total time covered by >= 1 session: sweep-line (q205's points), but
# integrating the span to the previous point wherever the concurrency
# BEFORE this point (= at the previous point) was positive — interval
# union length without materializing the union. Two window steps with
# ONE pinned ordering (t, delta ASC, user_id) carried through both
# (ends before starts at ties — see q205's comment).
_COVERAGE_ORACLE = """
WITH sessions AS MATERIALIZED (
    SELECT user_id, CAST(ts AS DATE) AS day,
           MIN(EPOCH_US(ts)) AS t0, MAX(EPOCH_US(ts)) + 1 AS t1
    FROM events GROUP BY user_id, CAST(ts AS DATE)
), pts AS (
    SELECT day, t0 AS t, 1 AS delta, user_id FROM sessions
    UNION ALL
    SELECT day, t1, -1, user_id FROM sessions
), swept AS (
    SELECT day, t, delta, user_id,
           SUM(delta) OVER (PARTITION BY day ORDER BY t, delta, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
    FROM pts
), seq AS (
    SELECT day, t,
           LAG(t) OVER (PARTITION BY day ORDER BY t, delta, user_id) AS prev_t,
           LAG(conc) OVER (PARTITION BY day ORDER BY t, delta, user_id) AS prev_conc
    FROM swept
)
SELECT CAST(DATEDIFF('day', DATE '1970-01-01', day) AS BIGINT) AS day_num,
       CAST(SUM(CASE WHEN prev_conc > 0 THEN t - prev_t ELSE 0 END) AS BIGINT) AS covered_us
FROM seq WHERE prev_t IS NOT NULL
GROUP BY day ORDER BY day_num
"""


@register("q208_interval_coverage", oracle=_COVERAGE_ORACLE)
def q208(events):
    """Interval-union coverage per day (utilization: total microseconds
    with >= 1 active session): q205's sweep line, integrating span
    lengths where the PRIOR point's running concurrency was positive.
    Union length without merging intervals — two window steps over
    2x|sessions| points, all-integer arithmetic."""
    sessions = events.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        (F.max(F.unix_micros("ts")) + 1).alias("t1"),
    )
    pts = sessions.select(
        "day", F.col("t0").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        sessions.select("day", F.col("t1").alias("t"), F.lit(-1).alias("delta"), "user_id")
    )
    order = [F.col("t"), F.col("delta"), F.col("user_id")]
    wsum = (
        Window.partitionBy("day")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = pts.select(
        "day", "t", "delta", "user_id", F.sum("delta").over(wsum).alias("conc")
    )
    wlag = Window.partitionBy("day").orderBy(*order)
    seq = swept.select(
        "day",
        "t",
        F.lag("t").over(wlag).alias("prev_t"),
        F.lag("conc").over(wlag).alias("prev_conc"),
    )
    return (
        seq.where(F.col("prev_t").isNotNull())
        .groupBy(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_num")
        )
        .agg(
            F.sum(
                F.when(F.col("prev_conc") > 0, F.col("t") - F.col("prev_t")).otherwise(0)
            )
            .cast("bigint")
            .alias("covered_us")
        )
        .orderBy("day_num")
    )


# ------------------- q209: MAD robust outliers (median-based)

# Median absolute deviation: med = floor-truncated median of cents, MAD
# = floor-truncated median of |x - med| — both medians engine-stable by
# the q80 recipe; the robust outlier count uses the exact integer
# comparison |x - med| * 10000 > 14826 * mad (k=1.4826 scaled to avoid
# any division).
_MAD_ORACLE = """
WITH c AS MATERIALIZED (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
    FROM lineitem WHERE l_orderkey % 10 = 0
), med AS MATERIALIZED (
    SELECT flag, CAST(FLOOR(QUANTILE_CONT(v, 0.5)) AS BIGINT) AS m FROM c GROUP BY flag
), dev AS MATERIALIZED (
    SELECT c.flag, c.v, ABS(c.v - med.m) AS d, med.m
    FROM c JOIN med ON c.flag = med.flag
), mad AS MATERIALIZED (
    SELECT flag, CAST(FLOOR(QUANTILE_CONT(d, 0.5)) AS BIGINT) AS mad_v FROM dev GROUP BY flag
)
SELECT dev.flag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(dev.m) AS BIGINT) AS median_cents,
       CAST(MAX(mad.mad_v) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN dev.d * 10000 > 3 * 14826 * mad.mad_v THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.flag = mad.flag
GROUP BY dev.flag ORDER BY flag
"""


@register("q209_mad_outliers", oracle=_MAD_ORACLE)
def q209(lineitem):
    """Robust outlier detection via Median Absolute Deviation — immune
    to the outliers themselves (unlike q154's mean/std z-score; this
    completes the robust pair). Two grouped medians (floor-truncated,
    q80 recipe) broadcast back; the 3-sigma-equivalent cut |x-med| >
    3*1.4826*MAD compares EXACT INTEGERS (k scaled to 14826/10000), so
    the boundary can't drift between engines."""
    li = lineitem.where(F.col("l_orderkey") % 10 == 0)
    c = li.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("v"),
    )
    med = c.groupBy("flag").agg(
        F.floor(F.expr("percentile(v, 0.5)")).cast("bigint").alias("m")
    )
    dev = c.join(F.broadcast(med), "flag").select(
        "flag", "v", F.abs(F.col("v") - F.col("m")).alias("d"), "m"
    )
    mad = dev.groupBy("flag").agg(
        F.floor(F.expr("percentile(d, 0.5)")).cast("bigint").alias("mad_v")
    )
    return (
        dev.join(F.broadcast(mad), "flag")
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.max("m").cast("bigint").alias("median_cents"),
            F.max("mad_v").cast("bigint").alias("mad_cents"),
            F.sum(
                F.when(F.col("d") * 10000 > 3 * 14826 * F.col("mad_v"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("flag")
    )


# ------------------ q210: consecutive-day streaks (gaps and islands)

_STREAKS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
    FROM events
), islands AS (
    SELECT user_id, d,
           d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
    FROM days
), streaks AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
    FROM islands GROUP BY user_id, grp
), longest AS (
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak FROM streaks GROUP BY user_id
)
SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_users
FROM longest GROUP BY max_streak ORDER BY max_streak
"""


@register("q210_activity_streaks", oracle=_STREAKS_ORACLE)
def q210(events):
    """Longest consecutive-day activity streak per user — GAPS AND
    ISLANDS: day_number minus row_number is constant within a
    consecutive run, so streaks fall out of one window + one groupBy
    with no self-join or iteration. Runs on the DISTINCT (user, day)
    presence table, never on raw events."""
    days = events.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("grp")
    )
    streaks = islands.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    longest = streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("max_streak")
    )
    return (
        longest.groupBy("max_streak")
        .agg(F.count("*").alias("n_users"))
        .orderBy("max_streak")
    )


# --------------- q211: first-touch attribution (marketing analytics)

_ATTRIB_ORACLE = """
WITH touched AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           FIRST_VALUE(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                         ORDER BY ts, event_id) AS first_touch
    FROM events
)
SELECT first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(cents) AS BIGINT) AS attributed_cents
FROM touched
WHERE event_type = 'purchase'
GROUP BY first_touch ORDER BY first_touch
"""


@register("q211_first_touch", oracle=_ATTRIB_ORACLE)
def q211(events):
    """First-touch attribution: each purchase's value credited to the
    channel (event type) that OPENED the user's day — one first_value
    window over (user, day) and a tiny rollup; the attribution model
    swap (last-touch, linear) is a one-line window change."""
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    touched = events.select(
        "event_type",
        cents("value").alias("cents"),
        F.first("event_type").over(w).alias("first_touch"),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("attributed_cents"),
        )
        .orderBy("first_touch")
    )


# ------------- q212: schema reconciliation union (unionByName)

_UNION_BY_NAME_ORACLE = """
WITH legacy AS (
    SELECT event_id, event_type, CAST(NULL AS BIGINT) AS user_id
    FROM events WHERE event_id % 2 = 0
), modern AS (
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id % 2 = 1
), unified AS (
    SELECT event_id, event_type, user_id FROM legacy
    UNION ALL
    SELECT event_id, event_type, user_id FROM modern
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(user_id) AS BIGINT) AS n_with_user,
       CAST(SUM(CASE WHEN user_id IS NULL THEN event_id ELSE 0 END) AS BIGINT) AS legacy_id_sum
FROM unified GROUP BY event_type ORDER BY event_type
"""


@register("q212_union_by_name", oracle=_UNION_BY_NAME_ORACLE)
def q212(events):
    """Schema-reconciling union (unionByName + allowMissingColumns): a
    legacy feed lacking a column and a modern feed with different column
    ORDER unify by NAME — positional unionAll would silently misalign
    columns here (the classic multi-team ingest bug). Missing columns
    NULL-fill, proven by the per-branch aggregates."""
    legacy = events.where(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    modern = events.where(F.col("event_id") % 2 == 1).select(
        "user_id", "event_id", "event_type"  # deliberately different order
    )
    unified = legacy.unionByName(modern, allowMissingColumns=True)
    return (
        unified.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("user_id").alias("n_with_user"),
            F.sum(F.when(F.col("user_id").isNull(), F.col("event_id")).otherwise(0))
            .cast("bigint")
            .alias("legacy_id_sum"),
        )
        .orderBy("event_type")
    )


# ---------------- q213: map-shaped rollup (string-encoded, order-free)

_MAP_ROLLUP_ORACLE = """
WITH per_type AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM events WHERE user_id % 50 = 0 GROUP BY user_id, event_type
)
SELECT user_id,
       STRING_AGG(event_type || ':' || c, ',' ORDER BY event_type) AS type_counts
FROM per_type GROUP BY user_id ORDER BY user_id
"""


@register("q213_map_rollup", oracle=_MAP_ROLLUP_ORACLE)
def q213(events):
    """Map-shaped per-user rollup (the 'counts per category as one
    column' feature): encoded as a canonically SORTED 'k:v,...' string —
    engine-portable where native map types are not (map key order is
    engine-defined; the sorted encoding is hashable everywhere). Build:
    per-(user, type) aggregate, then sort_array over collected structs —
    both stages map-side combinable."""
    ev = events.where(F.col("user_id") % 50 == 0)
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    entries = per_type.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "event_type",
                            F.concat_ws(":", "event_type", F.col("c").cast("string")).alias(
                                "kv"
                            ),
                        )
                    )
                ),
                lambda s: s.getField("kv"),
            ),
            ",",
        ).alias("type_counts")
    )
    return entries.orderBy("user_id")


# ----------------------- q214: winsorization (clip at p05/p95)

_WINSOR_ORACLE = """
WITH c AS MATERIALIZED (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
    FROM lineitem WHERE l_orderkey % 10 = 0
), bounds AS (
    SELECT flag,
           CAST(FLOOR(QUANTILE_CONT(v, 0.05)) AS BIGINT) AS lo,
           CAST(FLOOR(QUANTILE_CONT(v, 0.95)) AS BIGINT) AS hi
    FROM c GROUP BY flag
)
SELECT c.flag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN c.v < b.lo THEN 1 WHEN c.v > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       CAST(SUM(GREATEST(b.lo, LEAST(b.hi, c.v))) AS BIGINT) AS winsorized_sum_cents
FROM c JOIN bounds b ON c.flag = b.flag
GROUP BY c.flag ORDER BY flag
"""


@register("q214_winsorize", oracle=_WINSOR_ORACLE)
def q214(lineitem):
    """Winsorization (clip to [p05, p95]) — the outlier treatment that
    keeps rows instead of dropping them (q154/q209 detect; this
    repairs). Floor-truncated integer percentile bounds broadcast back;
    clipping and the verification sums are pure integer ops."""
    li = lineitem.where(F.col("l_orderkey") % 10 == 0)
    c = li.select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("v"),
    )
    bounds = c.groupBy("flag").agg(
        F.floor(F.expr("percentile(v, 0.05)")).cast("bigint").alias("lo"),
        F.floor(F.expr("percentile(v, 0.95)")).cast("bigint").alias("hi"),
    )
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("v")))
    return (
        c.join(F.broadcast(bounds), "flag")
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped"),
            F.sum(clipped).cast("bigint").alias("winsorized_sum_cents"),
        )
        .orderBy("flag")
    )


# --------- q215: random-hyperplane LSH for cosine (SRP signatures)

# The third LSH family in the repo (MinHash=Jaccard q44, SimHash=text
# hamming q162, SRP=embedding cosine): 32 pseudo-random hyperplanes with
# INTEGER coefficients derived from md5('p:j') — so every dot product
# against the quantized embedding is EXACT integer arithmetic and the
# sign bits are engine-identical. Pairs sharing any band are candidates;
# exact cosine (precomputed integer norms, ROUND(4)) keeps pairs
# >= 0.35 — where the synthetic corpus actually HAS neighbors; the
# former 0.99 cut returned zero rows at every SF, a vacuous hash gate.
# Deterministic end to end, no transcendental slack anywhere
# except the final sqrt/division pair on identical doubles.
#
# The band WIDTH scales with n (round-9 verdict's top item): bits per
# band = max(4, ceil(log2(ceil(n/16)))), so the expected bucket
# population stays ~16 as n grows — the fixed 4-bit bands of rounds
# 6-9 made bucket density ∝ n and the within-bucket pair term ∝ n²
# (measured 149x at 10x data, BENCH_SF1 r9). Both engines derive bits
# from the SAME integer-only expression (bit_length of ceil(n/16)-1;
# DuckDB: LENGTH(FORMAT('{:b}', …))), so the parameter — part of the
# declared candidate-generation semantics — changes in lockstep and
# the hash gate still proves pair-set equality. Band count =
# 32 DIV bits (leftover high signature bits unused).
_SRP_PLANES = 32
_SRP_BUCKET_TARGET = 16


def _srp_bits(n: int) -> int:
    """Bits per SRP band for n vectors: ceil(log2(ceil(n/16))), min 4 —
    integer-only so Python and SQL agree at every n."""
    return max(4, int((n + _SRP_BUCKET_TARGET - 1) // _SRP_BUCKET_TARGET - 1).bit_length())


def _srp_coef_sql(p: int, j: int) -> str:
    return f"(('0x' || SUBSTR(MD5('{p}:{j}'), 1, 8))::BIGINT % 2001 - 1000)"


def _srp_oracle() -> str:
    dots = ",\n           ".join(
        "CAST("
        + " + ".join(f"q[{j + 1}] * {_srp_coef_sql(p, j)}" for j in range(0, 64, 1))
        + f" AS BIGINT) AS d{p}"
        for p in range(_SRP_PLANES)
    )
    sig = " + ".join(f"(CASE WHEN d{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(_SRP_PLANES))
    return f"""
WITH q AS MATERIALIZED (
    SELECT vec_id,
           LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
    FROM embeddings WHERE vec_id % 2 = 0
), params AS MATERIALIZED (
    SELECT GREATEST(4, LENGTH(FORMAT('{{:b}}',
               (COUNT(*) + {_SRP_BUCKET_TARGET - 1}) // {_SRP_BUCKET_TARGET} - 1))) AS bits
    FROM q
), dots AS (
    SELECT vec_id, q,
           {dots}
    FROM q
), sigs AS (
    SELECT vec_id, q, CAST({sig} AS BIGINT) AS sig FROM dots
), norms AS (
    SELECT vec_id, q, sig,
           CAST(LIST_SUM(LIST_TRANSFORM(q, x -> x * x)) AS BIGINT) AS nn
    FROM sigs
), bands AS MATERIALIZED (
    SELECT vec_id, q, sig, nn, bits,
           UNNEST(RANGE(0, GREATEST(1, {_SRP_PLANES} // bits))) AS b
    FROM norms, params
), bandkeys AS MATERIALIZED (
    SELECT vec_id, q, nn,
           CAST(b AS VARCHAR) || ':' ||
           CAST((sig // (CAST(1 AS BIGINT) << CAST(b * bits AS INT)))
                % (CAST(1 AS BIGINT) << CAST(bits AS INT)) AS VARCHAR) AS band
    FROM bands
), cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.q AS qa, b.q AS qb, a.nn AS na, b.nn AS nb
    FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.vec_id < b.vec_id
), scored AS (
    SELECT vec_a, vec_b,
           ROUND(CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> qa[i] * qb[i])) AS DOUBLE)
                 / SQRT(CAST(na AS DOUBLE) * nb), 4) AS cosine
    FROM cand WHERE na > 0 AND nb > 0
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= 0.35
ORDER BY vec_a, vec_b
"""


@register("q215_srp_lsh_cosine", oracle=_srp_oracle())
def q215(embeddings):
    """Random-hyperplane LSH (SRP) for embedding cosine — the third LSH
    family here (MinHash:Jaccard q44, SimHash:text q162, SRP:vectors):
    32 integer-coefficient hyperplanes (md5-derived, engine-identical)
    give exact sign bits; bands of max(4, ceil(log2(n/16))) bits —
    WIDTH ∝ log n so expected bucket population stays constant as the
    corpus grows (fixed 4-bit bands measured 149x at 10x data,
    BENCH_SF1 r9) — generate candidates; exact cosine on precomputed
    integer norms verifies at >= 0.35. One explode-free signature pass
    (higher-order dot products), one band shuffle, quadratic work only
    within constant-size sign buckets. The oracle derives the same
    bits from the same integer expression, so the n-adaptive parameter
    stays hash-gated."""
    emb = embeddings.where(F.col("vec_id") % 2 == 0)
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
        ).alias("q"),
    ).transform(pin)

    import hashlib

    def coef(p, j):
        h = int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:8], 16)
        return h % 2001 - 1000

    sig = None
    dots_cols = []
    for p in range(_SRP_PLANES):
        coefs = F.array(*[F.lit(coef(p, j)) for j in range(64)])
        dot = F.aggregate(
            F.zip_with(F.col("q"), coefs, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        dots_cols.append(dot.alias(f"d{p}"))
    dots = q.select("vec_id", "q", *dots_cols)
    for p in range(_SRP_PLANES):
        term = F.when(F.col(f"d{p}") > 0, F.lit(1 << p)).otherwise(0)
        sig = term if sig is None else sig + term
    nn = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    # pinned: the signature pass (32 interpreted higher-order dot
    # products per row) feeds the band explode AND both array-attach
    # joins below — without the checkpoint it would re-run per reference
    sigs = dots.select(
        "vec_id", "q", sig.cast("bigint").alias("sig"), nn.alias("nn")
    ).transform(pin)
    n = q.count()  # q is pinned, so later reads scan its blocks
    bits = _srp_bits(n)
    nbands = max(1, _SRP_PLANES // bits)
    # band join + pair dedup move ONLY (vec_id, band): the former shape
    # carried the 64-bigint q array and norm through the band explode,
    # the join shuffle and the dedup shuffle (8 banded copies per
    # vector; guide §2.3 — shuffle keys, not payloads); the arrays are
    # re-attached per SIDE after the pair set is final
    bands = sigs.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        (
                            F.shiftright(F.col("sig"), b * bits).bitwiseAND(
                                F.lit((1 << bits) - 1)
                            )
                        ).cast("string"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("band"),
    )
    a = bands.select(F.col("vec_id").alias("vec_a"), "band")
    b_ = bands.select(F.col("vec_id").alias("vec_b"), "band")
    # dedup on the id pair only (qa/qb/na/nb are functions of the ids),
    # then re-attach the arrays from the pinned signature frame
    cand = (
        a.join(b_, "band")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
        .join(
            sigs.select(
                F.col("vec_id").alias("vec_a"),
                F.col("q").alias("qa"),
                F.col("nn").alias("na"),
            ),
            "vec_a",
        )
        .join(
            sigs.select(
                F.col("vec_id").alias("vec_b"),
                F.col("q").alias("qb"),
                F.col("nn").alias("nb"),
            ),
            "vec_b",
        )
    )
    dot_ab = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cosine = F.round(
        dot_ab.cast("double") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 4
    )
    return (
        cand.where((F.col("na") > 0) & (F.col("nb") > 0))
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= 0.35)
        .orderBy("vec_a", "vec_b")
    )


# ----------------- q216: sessionized bounce rate (product analytics)

# Sessions = 30-minute inactivity splits (the q81/q137 sessionizer:
# lag-gap flag + running sum); bounce = single-event session. All
# integer counts.
_BOUNCE_ORACLE = """
WITH gaps AS (
    SELECT user_id, ts, event_id,
           CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM events
), sessions AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM gaps
), per_session AS (
    SELECT user_id, sid, CAST(MIN(ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
)
SELECT CAST(DATEDIFF('day', DATE '1970-01-01', day) AS BIGINT) AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
FROM per_session GROUP BY day ORDER BY day_num
"""


@register("q216_bounce_rate", oracle=_BOUNCE_ORACLE)
def q216(events):
    """Daily bounce rate: 30-minute-gap sessionization (the q81 lag+cumsum
    sessionizer) rolled up to single-event-session counts per day — the
    product-analytics KPI. One (user, ts) window shuffle, then
    session-level aggregates; integer counts throughout."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    gaps = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_us.isNull() | (F.unix_micros("ts") - prev_us > 1800000000), 1
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = gaps.select(
        "user_id", "ts", F.sum("new_s").over(wrun).alias("sid")
    )
    per_session = sessions.groupBy("user_id", "sid").agg(
        F.min("ts").cast("date").alias("day"), F.count("*").alias("n_events")
    )
    return (
        per_session.groupBy(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_num")
        )
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
        )
        .orderBy("day_num")
    )


# ------------ q217: time-decay popularity (dyadic half-life weights)

# Exponential time decay with a power-of-two base: weight = 2^-(quarters
# since anchor). The sum is accumulated as the EXACT scaled integer
# SUM(cents << (30 - age_q)) in DECIMAL(38,0)/HUGEINT — order-free in
# any engine by construction — and divided by 2^30 exactly once at the
# end. (Summing cents * 2^-age_q in doubles is only order-independent
# while the terms span < 53 bits; cents ~24 bits + age_q range up to 30
# can exceed that, so a different anchor date would silently
# reintroduce partial-aggregation nondeterminism — round-4 advice.)
_DECAY_ORACLE = """
WITH w AS (
    SELECT l_partkey AS part,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           LEAST(CAST(DATEDIFF('day', CAST(l_shipdate AS DATE), DATE '2001-12-31') // 91 AS BIGINT), 30) AS age_q
    FROM lineitem WHERE l_partkey % 50 = 0
)
SELECT part,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents * (CAST(1 AS BIGINT) << CAST(30 - age_q AS INT))) AS DOUBLE)
           / 1073741824 / 100 AS decayed_score
FROM w GROUP BY part ORDER BY part
"""


@register("q217_time_decay_popularity", oracle=_DECAY_ORACLE)
def q217(lineitem):
    """Time-decayed popularity score (freshness-weighted revenue per
    part): half-life decay with a POWER-OF-TWO base per quarter,
    accumulated as the exact scaled integer SUM(cents << (30 - age_q))
    in DECIMAL(38,0) and divided by 2^30 once at the end — order-free
    in ANY data window, not just while the term spread stays under the
    53-bit double mantissa (round-4 advice). Each term fits a BIGINT
    (cents ~2^24 x shift <=2^30 = 2^54); only the running sum needs the
    decimal widening. Age capped at 30 quarters so the largest shift
    stays bounded."""
    li = lineitem.where(F.col("l_partkey") % 50 == 0)
    age_q = F.least(
        F.floor(
            F.datediff(F.lit("2001-12-31").cast("date"), F.col("l_shipdate").cast("date")) / 91
        ).cast("bigint"),
        F.lit(30).cast("bigint"),
    )
    w = li.select(
        F.col("l_partkey").alias("part"),
        cents("l_extendedprice").alias("cents"),
        age_q.alias("age_q"),
    )
    scaled = F.col("cents") * F.expr("shiftleft(1L, cast(30 - age_q as int))")
    return (
        w.groupBy("part")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(scaled.cast("decimal(38,0)")).cast("double")
                / 1073741824
                / 100
            ).alias("decayed_score"),
        )
        .orderBy("part")
    )


# -------------- q218: top-k with aggregated remainder ('OTHER' row)

_TOPK_OTHER_ORACLE = """
WITH rev AS (
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
), ranked AS (
    SELECT nation, cents,
           ROW_NUMBER() OVER (ORDER BY cents DESC, nation) AS rn
    FROM rev
)
SELECT CASE WHEN rn <= 5 THEN nation ELSE 'OTHER' END AS nation,
       CAST(SUM(cents) AS BIGINT) AS cents,
       CAST(COUNT(*) AS BIGINT) AS n_merged
FROM ranked GROUP BY 1 ORDER BY cents DESC, nation
"""


@register("q218_topk_other", oracle=_TOPK_OTHER_ORACLE)
def q218(orders, customer, nation):
    """Top-5 nations by revenue with everything else folded into one
    OTHER row — the BI pattern that keeps totals reconciling (a bare
    top-k silently drops the tail). Rank with a unique tiebreak over
    the small aggregate, relabel, re-aggregate."""
    rev = (
        orders
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
        )
    )
    rn = F.row_number().over(Window.orderBy(F.col("cents").desc(), "nation"))
    ranked = rev.withColumn("rn", rn)
    return (
        ranked.groupBy(
            F.when(F.col("rn") <= 5, F.col("nation")).otherwise("OTHER").alias("nation")
        )
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.count("*").alias("n_merged"),
        )
        .orderBy(F.col("cents").desc(), "nation")
    )


# ------------------- q219: null-safe join (<=> / IS NOT DISTINCT FROM)

_NULLSAFE_ORACLE = """
WITH a AS MATERIALIZED (
    SELECT CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id % 20 END AS k,
           CAST(COUNT(*) AS BIGINT) AS na
    FROM events WHERE event_id % 2 = 0 GROUP BY 1
), b AS MATERIALIZED (
    SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id % 20 END AS k,
           CAST(COUNT(*) AS BIGINT) AS nb
    FROM events WHERE event_id % 2 = 1 GROUP BY 1
)
SELECT COALESCE(CAST(a.k AS VARCHAR), 'NULL') AS k,
       CAST(a.na * b.nb AS BIGINT) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY k
"""


@register("q219_null_safe_join", oracle=_NULLSAFE_ORACLE)
def q219(events):
    """Null-safe equi-join (`eqNullSafe` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics dimension
    a plain equi-join silently drops (dedup on nullable business keys
    needs exactly this). Scale shape: both sides pre-aggregate to
    per-key counts BEFORE the join, so the pair count is na*nb on
    |keys| rows — the join never materializes the cross-pair volume."""
    a = (
        events.where(F.col("event_id") % 2 == 0)
        .groupBy(
            F.when(F.col("event_id") % 5 == 0, None)
            .otherwise(F.col("user_id") % 20)
            .alias("ka")
        )
        .agg(F.count("*").alias("na"))
    )
    b = (
        events.where(F.col("event_id") % 2 == 1)
        .groupBy(
            F.when(F.col("event_id") % 7 == 0, None)
            .otherwise(F.col("user_id") % 20)
            .alias("kb")
        )
        .agg(F.count("*").alias("nb"))
    )
    joined = a.join(b, F.col("ka").eqNullSafe(F.col("kb")))
    return joined.select(
        F.coalesce(F.col("ka").cast("string"), F.lit("NULL")).alias("k"),
        (F.col("na") * F.col("nb")).cast("bigint").alias("n_pairs"),
    ).orderBy("k")


# ------------------ q220: text normalization pipeline (cleaning pass)

_TEXTNORM_ORACLE = """
WITH norm AS (
    SELECT doc_id, lang,
           TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS clean
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(clean)) AS BIGINT) AS clean_chars,
       CAST(SUM(LENGTH(clean) - LENGTH(REPLACE(clean, ' ', ''))) AS BIGINT) AS n_spaces,
       CAST(SUM(CASE WHEN clean = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied
FROM norm GROUP BY lang ORDER BY lang
"""


@register("q220_text_normalize", oracle=_TEXTNORM_ORACLE)
def q220(documents):
    """Text-normalization pass (casefold → strip non-alnum → collapse
    whitespace → trim): the cleaning stage ahead of tokenization, kept
    to regex constructs with identical Java/RE2 semantics. Per-language
    audit counters verify the transform byte-for-byte (chars, spaces,
    fully-emptied docs)."""
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    norm = documents.select("lang", clean.alias("clean"))
    return (
        norm.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
            F.sum(F.length("clean") - F.length(F.replace(F.col("clean"), F.lit(" "), F.lit(""))))
            .cast("bigint")
            .alias("n_spaces"),
            F.sum(F.when(F.col("clean") == "", 1).otherwise(0))
            .cast("bigint")
            .alias("n_emptied"),
        )
        .orderBy("lang")
    )


# ----------- q221: idempotent-ingest audit (at-least-once -> exactly-once)

_IDEMPOTENT_ORACLE = """
WITH replayed AS (
    SELECT * FROM events
    UNION ALL
    SELECT * FROM events WHERE event_id % 3 = 0  -- the redelivered slice
), dedup AS (
    SELECT event_id,
           CAST(CAST(MAX(value) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS seen
    FROM replayed GROUP BY event_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(seen) AS BIGINT) AS n_delivered,
       CAST(SUM(seen - 1) AS BIGINT) AS n_duplicates,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM dedup
"""


@register("q221_idempotent_ingest", oracle=_IDEMPOTENT_ORACLE)
def q221(events):
    """Idempotent-ingest audit: an at-least-once delivery (every 3rd
    event redelivered) collapses back to exactly-once by keying on the
    event id — one groupBy, with delivered/duplicate counters proving
    how much redelivery the dedup absorbed. The batch twin of the
    streaming dropDuplicatesWithinWatermark lane (q64), and the
    verification a pipeline runs after enabling retries."""
    replayed = events.unionAll(events.where(F.col("event_id") % 3 == 0))
    dedup = replayed.groupBy("event_id").agg(
        cents(F.max("value")).alias("cents"),
        F.count("*").alias("seen"),
    )
    return dedup.agg(
        F.count("*").alias("n_unique"),
        F.sum("seen").cast("bigint").alias("n_delivered"),
        F.sum(F.col("seen") - 1).cast("bigint").alias("n_duplicates"),
        F.sum("cents").cast("bigint").alias("value_cents"),
    )


# ------------------ q222: order backlog over time (opened vs shipped)

_BACKLOG_ORACLE = """
WITH opened AS MATERIALIZED (
    SELECT CAST(DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_open
    FROM orders GROUP BY 1
), shipped AS MATERIALIZED (
    SELECT CAST(DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_ship
    FROM lineitem GROUP BY 1
), days AS (
    SELECT d, COALESCE(o.n_open, 0) AS n_open, COALESCE(s.n_ship, 0) AS n_ship
    FROM (SELECT d FROM opened UNION SELECT d FROM shipped) u
    LEFT JOIN opened o USING (d) LEFT JOIN shipped s USING (d)
)
SELECT d AS day_num, CAST(n_open AS BIGINT) AS n_open, CAST(n_ship AS BIGINT) AS n_ship,
       CAST(SUM(n_open - n_ship) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM days ORDER BY day_num
"""


@register("q222_order_backlog", oracle=_BACKLOG_ORACLE)
def q222(orders, lineitem):
    """Order backlog time series: cumulative opened-minus-shipped per day
    (the operational WIP metric). Both event streams aggregate to daily
    counts FIRST (the q198 aggregate-then-window rule), full-outer align
    on the day spine, one global cumsum over |days| rows."""
    day = lambda c: F.datediff(F.col(c).cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint")  # noqa: E731
    opened = orders.groupBy(day("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_open")
    )
    shipped = lineitem.groupBy(day("l_shipdate").alias("d")).agg(
        F.countDistinct("l_orderkey").alias("n_ship")
    )
    days = (
        opened.join(shipped, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_open", F.lit(0)).alias("n_open"),
            F.coalesce("n_ship", F.lit(0)).alias("n_ship"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.select(
            F.col("d").alias("day_num"),
            F.col("n_open").cast("bigint").alias("n_open"),
            F.col("n_ship").cast("bigint").alias("n_ship"),
            F.sum(F.col("n_open") - F.col("n_ship")).over(w).cast("bigint").alias("backlog"),
        )
        .orderBy("day_num")
    )


# ---------------- q223: frequent-value profile (top-3 per column)

_FREQ_PROFILE_ORACLE = """
WITH cols AS (
    SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
    UNION ALL
    SELECT 'order_year', CAST(YEAR(CAST(o_orderdate AS DATE)) AS VARCHAR) FROM orders
), counts AS (
    SELECT col, val, CAST(COUNT(*) AS BIGINT) AS c FROM cols GROUP BY col, val
), ranked AS (
    SELECT col, val, c,
           ROW_NUMBER() OVER (PARTITION BY col ORDER BY c DESC, val) AS rn
    FROM counts
)
SELECT col, CAST(rn AS INT) AS rn, val, c
FROM ranked WHERE rn <= 3 ORDER BY col, rn
"""


@register("q223_frequent_values", oracle=_FREQ_PROFILE_ORACLE)
def q223(orders):
    """Frequent-value profiling (top-3 values per column with counts) —
    the q153 profile's categorical companion, the skew/anomaly signal a
    catalog shows per column. Columns unpivot into one (col, val)
    stream; a single aggregate + WindowGroupLimit top-3 per column."""
    cols = (
        orders.select(F.lit("o_orderstatus").alias("col"), F.col("o_orderstatus").alias("val"))
        .unionAll(
            orders.select(F.lit("o_orderpriority"), F.col("o_orderpriority"))
        )
        .unionAll(
            orders.select(
                F.lit("order_year"),
                F.year(F.col("o_orderdate").cast("date")).cast("string"),
            )
        )
    )
    counts = cols.groupBy("col", "val").agg(F.count("*").alias("c"))
    rn = F.row_number().over(
        Window.partitionBy("col").orderBy(F.col("c").desc(), "val")
    )
    return (
        counts.withColumn("rn", rn.cast("int"))
        .where(F.col("rn") <= 3)
        .select("col", "rn", "val", "c")
        .orderBy("col", "rn")
    )


# ------------- q224: tiny static dim as a literal map (join-free lookup)

_MAP_LOOKUP_ORACLE = """
SELECT CASE event_type
         WHEN 'click' THEN 'engagement'
         WHEN 'view' THEN 'engagement'
         WHEN 'purchase' THEN 'revenue'
         WHEN 'signup' THEN 'acquisition'
         ELSE 'other' END AS category,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1 ORDER BY category
"""


@register("q224_literal_map_lookup", oracle=_MAP_LOOKUP_ORACLE)
def q224(events):
    """Tiny static dimension as a LITERAL MAP expression — the join a
    100 TB plan should never run: a 4-entry enum lookup compiles into
    the scan projection (whole-stage codegen, zero exchange for the
    enrichment) instead of a broadcast join's build/probe machinery.
    The cutover point vs q05-style broadcast joins is a few thousand
    entries; below it, expressions win outright."""
    cat_map = F.create_map(
        F.lit("click"), F.lit("engagement"),
        F.lit("view"), F.lit("engagement"),
        F.lit("purchase"), F.lit("revenue"),
        F.lit("signup"), F.lit("acquisition"),
    )
    return (
        events.select(
            F.coalesce(cat_map[F.col("event_type")], F.lit("other")).alias("category"),
            "user_id",
        )
        .groupBy("category")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("category")
    )


# --------- q225: consecutive-repeat compression (distinct-until-changed)

_DEDUP_CONSEC_ORACLE = """
WITH seq AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
), changes AS (
    SELECT user_id, event_id, event_type
    FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_changes,
       CAST(MIN(event_id) AS BIGINT) AS first_change,
       CAST(MAX(event_id) AS BIGINT) AS last_change
FROM changes GROUP BY user_id ORDER BY user_id
"""


@register("q225_dedup_consecutive", oracle=_DEDUP_CONSEC_ORACLE)
def q225(events):
    """Consecutive-repeat compression (distinct-until-changed): keep only
    rows where the state CHANGED from the previous row per key — log
    compaction for state streams (a sensor emitting the same reading
    10^6 times stores once). One lag window; the survivor count is the
    true state-transition count."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = seq.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    return (
        changes.groupBy("user_id")
        .agg(
            F.count("*").alias("n_changes"),
            F.min("event_id").alias("first_change"),
            F.max("event_id").alias("last_change"),
        )
        .orderBy("user_id")
    )


# ------------------- q226: weighted mean (quantity-weighted price)

_WMEAN_ORACLE = """
SELECT l_returnflag AS flag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wavg_price
FROM lineitem GROUP BY flag ORDER BY flag
"""


@register("q226_weighted_mean", oracle=_WMEAN_ORACLE)
def q226(lineitem):
    """Quantity-weighted mean price per flag — the weighted aggregate a
    plain AVG silently gets wrong. Both factor columns cast to DECIMAL
    BEFORE the product (CLAUDE.md rule: cast factors, not products), so
    the weighted sum is exact and one IEEE division finishes."""
    qd = F.col("l_quantity").cast("decimal(18,2)")
    pd_ = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.sum(qd).cast("double").alias("total_qty"),
            F.round(
                F.sum(pd_ * qd).cast("double") / F.sum(qd).cast("double"), 6
            ).alias("wavg_price"),
        )
        .orderBy("flag")
    )


# ------------ q227: distribution drift (total variation distance)

# Drift monitor: TVD = 0.5 * sum |p_early - p_late| between the first
# and last week's event-type mix. Counts exact -> probabilities are
# identical doubles -> per-type |diff| ROUNDed(6) summed in DECIMAL
# (q169's recipe); one scalar per comparison.
_DRIFT_ORACLE = """
WITH windows AS (
    SELECT event_type,
           CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08' THEN 'early'
                WHEN CAST(ts AS DATE) >= DATE '2024-01-24' THEN 'late' END AS w
    FROM events
), counts AS MATERIALIZED (
    SELECT w, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM windows WHERE w IS NOT NULL GROUP BY w, event_type
), tot AS MATERIALIZED (
    SELECT w, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY w
), probs AS (
    SELECT counts.event_type,
           MAX(CASE WHEN counts.w = 'early' THEN CAST(c AS DOUBLE) / n END) AS pe,
           MAX(CASE WHEN counts.w = 'late' THEN CAST(c AS DOUBLE) / n END) AS pl
    FROM counts JOIN tot ON counts.w = tot.w
    GROUP BY counts.event_type
)
SELECT event_type,
       ROUND(COALESCE(pe, 0), 6) AS p_early,
       ROUND(COALESCE(pl, 0), 6) AS p_late,
       ROUND(ABS(COALESCE(pe, 0) - COALESCE(pl, 0)), 6) AS abs_drift
FROM probs ORDER BY event_type
"""


@register("q227_distribution_drift", oracle=_DRIFT_ORACLE)
def q227(events):
    """Distribution drift between the first and last week of the month
    (per-type share shift; 0.5*sum(abs_drift) is the total variation
    distance) — the monitoring statistic behind data-drift alerts.
    Event volume touches one filtered aggregate; the comparison is
    |types| rows of exact-count-derived probabilities."""
    w = F.when(F.col("ts").cast("date") < F.lit("2024-01-08").cast("date"), "early").when(
        F.col("ts").cast("date") >= F.lit("2024-01-24").cast("date"), "late"
    )
    counts = (
        events.select("event_type", w.alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w", "event_type")
        .agg(F.count("*").alias("c"))
    )
    tot = counts.groupBy("w").agg(F.sum("c").cast("bigint").alias("n"))
    probs = (
        counts.join(F.broadcast(tot), "w")
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("w") == "early", F.col("c").cast("double") / F.col("n"))
            ).alias("pe"),
            F.max(
                F.when(F.col("w") == "late", F.col("c").cast("double") / F.col("n"))
            ).alias("pl"),
        )
    )
    pe = F.coalesce(F.col("pe"), F.lit(0.0))
    pl = F.coalesce(F.col("pl"), F.lit(0.0))
    return probs.select(
        "event_type",
        F.round(pe, 6).alias("p_early"),
        F.round(pl, 6).alias("p_late"),
        F.round(F.abs(pe - pl), 6).alias("abs_drift"),
    ).orderBy("event_type")


# ---------------- q228: Gini coefficient (revenue concentration)

# G = (2 * sum(i * x_i)) / (n * sum(x)) - (n + 1) / n over ascending-
# sorted per-customer revenue: ranks and cents are exact integers, both
# big sums accumulate in DECIMAL(38,0), the two divisions run on
# identical doubles, ROUND(6) at the end. One |customers|-row sort.
_GINI_ORACLE = """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
    FROM rev
), sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
           CAST(CAST(SUM(i * cents) AS DECIMAL(38,0)) AS DOUBLE) AS six
    FROM ranked
)
SELECT n,
       ROUND(2 * six / (n * sx) - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
FROM sums
"""


@register("q228_gini_concentration", oracle=_GINI_ORACLE)
def q228(orders):
    """Gini coefficient of customer revenue concentration — the
    inequality statistic behind 'whale' analyses, computed by the exact
    rank identity (no Lorenz-curve materialization): one sort over
    |customers| rows, two DECIMAL-exact sums, one scalar formula.
    Unique (cents, custkey) rank tiebreak keeps ranks engine-stable."""
    rev = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
    )
    ranked = rev.select(
        "cents",
        F.row_number().over(Window.orderBy("cents", "o_custkey")).alias("i"),
    )
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).cast("decimal(38,0)").cast("double").alias("six"),
    )
    return sums.select(
        "n",
        F.round(
            2 * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n").cast("double") + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ============================ round-5 additions (q229+) =================
# Same determinism contract as above: exact integer/decimal sums, ROUND
# before ranking on transcendentals, unique tiebreakers under LIMIT.

# --------------------- q229: triangle counting (graph analytics)

# Co-purchase part graph: canonical edges (u < v) between parts sharing
# an order (filtered to even part keys to bound density). The Spark
# side counts with DEGREE ORIENTATION — each edge points from its
# lower-(degree, id) endpoint, so every triangle is counted exactly
# once from its lowest-degree corner and per-node wedge fan-out is
# bounded by ~sqrt(2m) instead of max degree: the standard scale-safe
# shape (no node enumerates a celebrity neighborhood). The oracle is
# the naive a<b<c three-way self-join — same count, quadratic in max
# degree, fine at oracle scale.
_TRIANGLE_ORACLE = """
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
    FROM lineitem WHERE l_partkey % 2 = 0
), e AS MATERIALIZED (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.u = e1.v
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
"""


@register("q229_triangle_count", oracle=_TRIANGLE_ORACLE)
def q229(lineitem):
    """Triangle count over the co-purchase part graph via degree
    orientation: orient every canonical edge from its lower-(degree,id)
    endpoint, join out-neighborhoods pairwise per source, close the
    wedge with a semi-join against oriented edges. Out-degree is
    bounded by ~sqrt(2m) under this orientation, so the wedge join
    never explodes on hubs — the difference between O(m^1.5) and
    O(m * d_max) at 100 TB. All-integer arithmetic."""
    from ..operators.triangles import cooccurrence_edges, triangle_count

    li = (
        lineitem
        .where(F.col("l_partkey") % 2 == 0)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    )
    # collect_set-per-order + codegen pair expansion (2 shuffles) in
    # place of distinct -> self-join -> distinct (3): same edge set
    e = cooccurrence_edges(li, "ok", "p")
    return triangle_count(e)


# ------------------------- q230: OHLC bars (first/last/min/max per day)

# The market-data / metrics-rollup primitive: per-day open (first by
# (ts, event_id)), high, low, close (last), count. Open/close need an
# ORDER; both engines express it as ROW_NUMBER inside the day
# partition — partitioned windows, never a global sort.
_OHLC_ORACLE = """
WITH c AS (
    SELECT CAST(ts AS DATE) AS day, ts, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
), r AS (
    SELECT day, cents,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY ts, event_id) AS ra,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rd
    FROM c
)
SELECT day,
       CAST(MAX(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MAX(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM r GROUP BY day ORDER BY day
"""


@register("q230_ohlc_bars", oracle=_OHLC_ORACLE)
def q230(events):
    """Daily OHLC bars over the event stream: open/close from
    row_number inside the (day) partition with the (ts, event_id)
    unique tiebreak, high/low/count from plain aggregates. One
    partitioned sort shuffle; collapses to |days| rows."""
    c = events.select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        cents("value").alias("cents"),
    )
    wa = Window.partitionBy("day").orderBy("ts", "event_id")
    wd = Window.partitionBy("day").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = c.select(
        "day",
        "cents",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return (
        r.groupBy("day")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("cents"))).cast("bigint").alias("open_cents"),
            F.max("cents").cast("bigint").alias("high_cents"),
            F.min("cents").cast("bigint").alias("low_cents"),
            F.max(F.when(F.col("rd") == 1, F.col("cents"))).cast("bigint").alias("close_cents"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .orderBy("day")
    )


# --------------- q231: grouped linear trend (least-squares per nation)

# Closed-form OLS slope per group from EXACT integer moment sums
# (n, sum x, sum y, sum xy, sum x^2) — the distributed regression
# shape: one map-side-combinable aggregate, a scalar formula, no
# iteration. x = epoch day (~10^4), y = order cents (~10^7): sum(x*y)
# stays ~1e16 per nation at sf0.1, inside BIGINT; the factors are cast
# to DOUBLE only in the final formula (identical IEEE ops per engine).
_TREND_ORACLE = """
WITH f AS (
    SELECT n.n_name AS nation,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
), s AS (
    SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM f GROUP BY nation
)
SELECT nation, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
           6) AS slope_cents_per_day
FROM s ORDER BY nation
"""


@register("q231_trend_slope", oracle=_TREND_ORACLE)
def q231(orders, customer, nation):
    """Per-nation revenue trend: closed-form least-squares slope from
    exact integer moment sums (one broadcast-dim join + one hash
    aggregate — regression without iteration or a driver loop). Factors
    cast to DOUBLE only in the final per-group formula."""
    f = (
        orders
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            cents("o_totalprice").alias("y"),
        )
    )
    s = f.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        "nation",
        "n",
        F.round(
            (d("n") * d("sxy") - d("sx") * d("sy")) / (d("n") * d("sxx") - d("sx") * d("sx")),
            6,
        ).alias("slope_cents_per_day"),
    ).orderBy("nation")


# ----------------------- q232: TF-IDF top keywords per document

# The keyword-extraction primitive for corpus curation: smoothed idf
# ROUNDed(6) BEFORE scoring, score ROUNDed(6) BEFORE ranking, term as
# the unique tiebreak (relational.py determinism rules for
# transcendentals). Two hash aggregates (tf, df) + one join; the only
# windows are per-document top-k.
_TFIDF_ORACLE = """
WITH toks AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term FROM documents
), tf AS MATERIALIZED (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks WHERE LENGTH(term) > 0 AND term NOT IN ('the', 'a', 'of', 'and', 'to')
    GROUP BY doc_id, term
), df AS MATERIALIZED (
    SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
), nd AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), scored AS (
    SELECT t.doc_id, t.term,
           ROUND(CAST(t.tf AS DOUBLE) * ROUND(LN((nd.n + 1.0) / (d.df + 1.0)), 6), 6) AS tfidf
    FROM tf t JOIN df d ON d.term = t.term, nd
), ranked AS (
    SELECT doc_id, term, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
    FROM scored
)
SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3 ORDER BY doc_id, term
"""


@register("q232_tfidf_keywords", oracle=_TFIDF_ORACLE)
def q232(documents):
    """Top-3 TF-IDF keywords per document (corpus curation / retrieval
    feature): tf and df are two map-side-combinable aggregates over the
    exploded token stream, idf joins back on term, top-k is a
    WindowGroupLimit inside the doc_id partition. Smoothed idf and the
    score are ROUNDed before ranking so the rank order is
    engine-stable."""
    from ..functions import text as T

    toks = documents.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    ).where(~F.col("term").isin(*T.STOPWORDS))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    nd = documents.agg(F.count("*").cast("bigint").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.round(F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6),
                6,
            ).alias("tfidf"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", "term")
    )


# ------------- q233: day-of-week seasonal anomaly (baseline + z-score)

# Monitoring with seasonality: each (event_type, day) revenue total is
# scored against that type's SAME-WEEKDAY baseline, not the global
# mean — Mondays compare to Mondays. Exact integer/decimal moment sums
# feed identical IEEE mean/std; z ROUNDed(4) before the |z| >= 2
# threshold. dow is epoch-day mod 7 (engine-neutral; DAYOFWEEK
# numbering differs between engines).
_SEASONAL_ORACLE = """
WITH daily AS MATERIALIZED (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, CAST(ts AS DATE)
), base AS (
    SELECT event_type,
           DATEDIFF('day', DATE '1970-01-01', day) % 7 AS dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS s1,
           CAST(SUM(CAST(cents * cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
    FROM daily GROUP BY 1, 2
)
SELECT d.event_type AS event_type, d.day AS day, d.cents AS cents,
       ROUND((d.cents - CAST(b.s1 AS DOUBLE) / b.n) /
             SQRT(CAST(b.s2 AS DOUBLE) / b.n
                  - (CAST(b.s1 AS DOUBLE) / b.n) * (CAST(b.s1 AS DOUBLE) / b.n)), 4) AS z
FROM daily d
JOIN base b ON b.event_type = d.event_type
           AND b.dow = DATEDIFF('day', DATE '1970-01-01', d.day) % 7
WHERE b.n >= 4
  AND CAST(b.s2 AS DOUBLE) / b.n
      - (CAST(b.s1 AS DOUBLE) / b.n) * (CAST(b.s1 AS DOUBLE) / b.n) > 0
  AND ABS(ROUND((d.cents - CAST(b.s1 AS DOUBLE) / b.n) /
          SQRT(CAST(b.s2 AS DOUBLE) / b.n
               - (CAST(b.s1 AS DOUBLE) / b.n) * (CAST(b.s1 AS DOUBLE) / b.n)), 4)) >= 2.0
ORDER BY event_type, day
"""


@register("q233_seasonal_anomaly", oracle=_SEASONAL_ORACLE)
def q233(events):
    """Seasonal (day-of-week) anomaly detection on daily revenue per
    event type: two hash aggregates (daily totals, then per-(type, dow)
    exact moment sums) and one small join back — the baseline frame is
    |types| x 7 rows, broadcastable at any scale. z is rounded before
    the threshold so the flag set is engine-stable."""
    daily = (
        events.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.sum(cents("value")).cast("bigint").alias("cents")
        )
    )
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    base = daily.groupBy(
        "event_type", (epoch_day % 7).alias("dow")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = F.round((F.col("cents") - mean) / F.sqrt(var), 4)
    return (
        daily.withColumn("dow", epoch_day % 7)
        .join(F.broadcast(base), ["event_type", "dow"])
        .where((F.col("n") >= 4) & (var > 0) & (F.abs(z) >= 2.0))
        .select("event_type", "day", "cents", z.alias("z"))
        .orderBy("event_type", "day")
    )


# ---------------------- q234: Benford first-digit profile (forensics)

# Data-quality forensics: leading-digit distribution of order amounts
# vs Benford's law. The digit comes from the INTEGER cents string (no
# float formatting ambiguity); expected frequency log10(1 + 1/d)
# ROUNDed(6).
_BENFORD_ORACLE = """
WITH digits AS (
    SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders
), obs AS MATERIALIZED (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs
)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / t, 6) AS observed,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS expected,
       ROUND(CAST(n AS DOUBLE) / t - LOG10(1.0 + 1.0 / digit), 6) AS deviation
FROM obs, tot ORDER BY digit
"""


@register("q234_benford_profile", oracle=_BENFORD_ORACLE)
def q234(orders):
    """Benford first-digit profile of order totals (fraud/data-quality
    forensics): one 9-group aggregate over the integer-cents leading
    digit, observed vs log10(1+1/d) expected frequency. Collapses to 9
    rows before any join."""
    obs = (
        orders.select(
            F.substring(cents("o_totalprice").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("t"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias("observed"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("expected"),
            F.round(
                F.col("n").cast("double") / F.col("t")
                - F.log10(1.0 + 1.0 / F.col("digit")),
                6,
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


# ------------- q235: KMV (k-minimum-values) distinct sketch + merge

# The mergeable distinct-count sketch with EXACT cross-engine
# determinism: md5 is md5 everywhere, so "the k smallest 60-bit hashes
# of the distinct users" is a deterministic set, unlike HLL register
# layouts (q123 is rows-only for that reason). Estimate = (k-1) * 2^60
# / h_(k); below k distinct values the sketch IS the exact set. The
# '__all__' row demonstrates mergeability: the union sketch is just
# the k smallest over all per-type sketches.
_KMV_K = 64

_KMV_ORACLE = f"""
WITH h AS MATERIALIZED (
    SELECT DISTINCT event_type,
           ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM events
), ranked AS (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
), kth AS (
    SELECT event_type, MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS k
    FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
), exact AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM h GROUP BY event_type
), per_type AS (
    SELECT k.event_type AS event_type, e.exact_distinct,
           CASE WHEN k.k < {_KMV_K} THEN e.exact_distinct
                ELSE CAST(ROUND(({_KMV_K} - 1) * 1152921504606846976.0 / k.hk) AS BIGINT)
           END AS kmv_estimate
    FROM kth k JOIN exact e ON e.event_type = k.event_type
), g AS MATERIALIZED (
    SELECT DISTINCT h FROM h
), gtop AS (
    SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS k
    FROM (SELECT h FROM g ORDER BY h LIMIT {_KMV_K})
), gexact AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM g
)
SELECT event_type, exact_distinct, CAST(kmv_estimate AS BIGINT) AS kmv_estimate FROM per_type
UNION ALL
SELECT '__all__', ge.exact_distinct,
       CAST(CASE WHEN gt.k < {_KMV_K} THEN ge.exact_distinct
            ELSE CAST(ROUND(({_KMV_K} - 1) * 1152921504606846976.0 / gt.hk) AS BIGINT)
       END AS BIGINT)
FROM gtop gt, gexact ge
ORDER BY event_type
"""


@register("q235_kmv_sketch", oracle=_KMV_ORACLE)
def q235(events):
    """KMV distinct-count sketch per event type + merged '__all__' row.
    Per-type k-smallest comes from a PARTITIONED window over the
    distinct (type, hash) stream; the global sketch uses sort+LIMIT
    (TakeOrderedAndProject — never a single-partition window over user
    volume). ROUND before the BIGINT cast (Spark truncates, DuckDB
    rounds). Deterministic end to end: md5 hashes, integer ranks, one
    IEEE division."""
    h = events.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    kth = (
        h.withColumn("rn", rn)
        .where(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("hk"), F.count("*").cast("bigint").alias("k"))
    )
    exact = h.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("exact_distinct")
    )

    def est(k, hk, ex):
        return (
            F.when(k < _KMV_K, ex)
            .otherwise(
                F.round((_KMV_K - 1) * F.lit(1152921504606846976.0) / hk).cast("bigint")
            )
            .cast("bigint")
        )

    per_type = kth.join(exact, "event_type").select(
        "event_type",
        "exact_distinct",
        est(F.col("k"), F.col("hk"), F.col("exact_distinct")).alias("kmv_estimate"),
    )
    g = h.select("h").distinct()
    gtop = (
        g.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("hk"), F.count("*").cast("bigint").alias("k"))
    )
    gexact = g.agg(F.count("*").cast("bigint").alias("exact_distinct"))
    all_row = gtop.crossJoin(F.broadcast(gexact)).select(
        F.lit("__all__").alias("event_type"),
        "exact_distinct",
        est(F.col("k"), F.col("hk"), F.col("exact_distinct")).alias("kmv_estimate"),
    )
    return per_type.unionAll(all_row).orderBy("event_type")


# ----------- q236: near-dup canonical selection (keep best per cluster)

# The corpus-prep step AFTER dedup clustering: every LSH-candidate
# component keeps ONE representative — the longest document, doc_id as
# the tiebreak. Composition of q152's connected components with a
# struct-argmax (q114's shape: partial-aggregatable, no per-component
# window sort). Oracle = q152's recursive-CTE components + a ranked
# join against documents.
_CANONICAL_ORACLE = _CC_ORACLE.replace(
    """SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM cc GROUP BY component ORDER BY component""",
    """SELECT component,
       CAST(nc AS BIGINT) AS n_docs,
       CAST(n_chars AS BIGINT) AS canonical_chars,
       CAST(doc_id AS BIGINT) AS canonical_doc
FROM (
    SELECT c2.component, c2.doc_id, d.n_chars,
           COUNT(*) OVER (PARTITION BY c2.component) AS nc,
           ROW_NUMBER() OVER (PARTITION BY c2.component
                              ORDER BY d.n_chars DESC, c2.doc_id) AS rn
    FROM cc c2 JOIN documents d ON d.doc_id = c2.doc_id
)
WHERE rn = 1 ORDER BY component""",
)


@register("q236_canonical_selection", oracle=_CANONICAL_ORACLE)
def q236(documents):
    """Canonical-document selection per near-dup cluster: LSH candidate
    pairs → pointer-doubling connected components → struct-argmax keeps
    the longest doc (smallest doc_id on ties) per component. The argmax
    is max(struct(n_chars, -doc_id)) — a partial-aggregatable hash
    aggregate, no per-component window sort, the same shape as q114's
    snapshot compaction."""
    pairs = B.candidate_pairs(_minhash_corpus(documents))
    cc = connected_components(pairs.select("doc_a", "doc_b"))
    joined = cc.join(documents.select("doc_id", "n_chars"), "doc_id")
    m = F.max(F.struct(F.col("n_chars").alias("a"), (-F.col("doc_id")).alias("b")))
    return (
        joined.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            m.alias("m"),
        )
        .select(
            "component",
            "n_docs",
            F.col("m.a").cast("bigint").alias("canonical_chars"),
            (-F.col("m.b")).cast("bigint").alias("canonical_doc"),
        )
        .orderBy("component")
    )


# ------------ q237: two-level percentile (p95-of-per-user-p95 SLA)

# The SLA-report shape: level 1 collapses event volume to one exact
# per-user p95 (uniform user key, percentile is a sort-based aggregate
# INSIDE each group); level 2 summarizes the |users| frame. Level-1
# p95s are FLOORed to integer cents (interpolation midpoints are
# .25/.5/.75-exact, so floor is engine-stable); level-2 quantiles
# floor-truncate at 2 decimals (the q80/q180 recipe).
_P95P95_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(FLOOR(QUANTILE_CONT(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.95)) AS BIGINT) AS p95
    FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       FLOOR(QUANTILE_CONT(p95, 0.25) * 100) / 100 AS p25,
       FLOOR(QUANTILE_CONT(p95, 0.50) * 100) / 100 AS p50,
       FLOOR(QUANTILE_CONT(p95, 0.75) * 100) / 100 AS p75,
       FLOOR(QUANTILE_CONT(p95, 0.95) * 100) / 100 AS p95_of_p95,
       CAST(MAX(p95) AS BIGINT) AS max_p95
FROM per_user
"""


@register("q237_p95_of_p95", oracle=_P95P95_ORACLE)
def q237(events):
    """Two-level percentile SLA report: exact per-user p95 (level 1,
    event volume collapses on the uniform user key) then the
    distribution of those p95s over the |users| frame (level 2). The
    pattern behind 'p95 of per-tenant p95 latency' dashboards; floors
    per the q80/q180 determinism recipe."""
    per_user = (
        events.select("user_id", cents("value").alias("cents"))
        .groupBy("user_id")
        .agg(F.floor(F.expr("percentile(cents, 0.95)")).cast("bigint").alias("p95"))
    )

    def p(frac, name):
        return (F.floor(F.expr(f"percentile(p95, {frac})") * 100) / 100).alias(name)

    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        p(0.25, "p25"),
        p(0.50, "p50"),
        p(0.75, "p75"),
        p(0.95, "p95_of_p95"),
        F.max("p95").cast("bigint").alias("max_p95"),
    )


# --------- q238: count-min sketch + heavy-hitter probe (sketch family)

# Second deterministic sketch (q235 KMV counts distincts; count-min
# estimates FREQUENCIES): 4 rows x 1024 buckets of md5-derived
# counters. Deterministic across engines (md5 buckets, integer
# counts), so the estimate column is hash-checkable — and the exact
# count sits beside it, pinning the one-sided error (est >= exact).
_CM_ROWS = 4
_CM_W = 1024

_CM_ORACLE = f"""
WITH rows_ AS MATERIALIZED (
    SELECT UNNEST(RANGE(0, {_CM_ROWS})) AS r
), cells AS (
    SELECT r.r AS r,
           ('0x' || SUBSTR(MD5(CAST(r.r AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % {_CM_W} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events e, rows_ r
    GROUP BY 1, 2
), exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
    FROM events GROUP BY user_id
), cand AS (
    SELECT user_id, exact_n,
           ROW_NUMBER() OVER (ORDER BY exact_n DESC, user_id) AS rn
    FROM exact
), probes AS (
    SELECT c.user_id, c.exact_n, r.r AS r,
           ('0x' || SUBSTR(MD5(CAST(r.r AS VARCHAR) || ':' || CAST(c.user_id AS VARCHAR)), 1, 15))::BIGINT % {_CM_W} AS bucket
    FROM cand c, rows_ r WHERE c.rn <= 10
)
SELECT p.user_id AS user_id, p.exact_n AS exact_n,
       CAST(MIN(s.c) AS BIGINT) AS cm_estimate
FROM probes p JOIN cells s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY 1, 2 ORDER BY exact_n DESC, user_id
"""


@register("q238_countmin_heavy_hitters", oracle=_CM_ORACLE)
def q238(events):
    """Count-min sketch build + heavy-hitter probe: the sketch is ONE
    map-side-combinable aggregate over (row, md5-bucket) — 4096 cells
    regardless of volume, the mergeable frequency summary a 100 TB
    pipeline ships between stages. The top-10 exact candidates probe it
    with a broadcast join; estimate = min over rows (one-sided error,
    visible next to the exact count)."""
    r = F.explode(F.sequence(F.lit(0), F.lit(_CM_ROWS - 1))).alias("r")

    def bucket(rcol, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(rcol.cast("string"), F.lit(":"), key.cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % _CM_W
        )

    cells = (
        events.select("user_id", r)
        .groupBy("r", bucket(F.col("r"), F.col("user_id")).alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    exact = events.groupBy("user_id").agg(F.count("*").cast("bigint").alias("exact_n"))
    cand = (
        exact.orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
        .select("user_id", "exact_n", F.explode(F.sequence(F.lit(0), F.lit(_CM_ROWS - 1))).alias("r"))
        .withColumn("bucket", bucket(F.col("r"), F.col("user_id")))
    )
    return (
        F.broadcast(cand)
        .join(cells, ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").cast("bigint").alias("cm_estimate"))
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


# ---------------- q239: top click-path trigrams (sequence analytics)

# Top-5 3-step event-type paths inside a (user, day) visit, counted
# with LEAD windows — no collect_list materialization, no self-joins;
# the path string only exists for complete trigrams.
_PATHS_ORACLE = """
WITH seq AS (
    SELECT event_type AS a,
           LEAD(event_type, 1) OVER w AS b,
           LEAD(event_type, 2) OVER w AS c
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id)
)
SELECT a || '>' || b || '>' || c AS path, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE c IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 5
"""


@register("q239_path_trigrams", oracle=_PATHS_ORACLE)
def q239(events):
    """Top-5 three-step event paths per (user, day) visit: two LEAD
    windows inside the visit partition (uniformly keyed, never global),
    concat, one hash aggregate, TakeOrderedAndProject top-5 with the
    path string as the unique tiebreak."""
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    seq = events.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        seq.where(F.col("c").isNotNull())
        .select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(5)
    )


# ------------- q240: time-to-conversion survival curve (click→purchase)

# Kaplan-Meier-lite without censor weighting: per user, first click
# and first purchase AT-OR-AFTER it; day-bucketed conversion counts
# and the surviving (not-yet-converted) fraction per bucket. Exact
# integer day buckets from epoch micros; the cumulative window runs
# over |buckets| rows.
_SURVIVAL_ORACLE = """
WITH clicks AS MATERIALIZED (
    SELECT user_id, MIN(EPOCH_US(ts)) AS tc
    FROM events WHERE event_type = 'click' GROUP BY user_id
), conv AS (
    SELECT c.user_id, MIN(EPOCH_US(e.ts)) AS tp, MIN(c.tc) AS tc
    FROM clicks c
    JOIN events e ON e.user_id = c.user_id
               AND e.event_type = 'purchase'
               AND EPOCH_US(e.ts) >= c.tc
    GROUP BY c.user_id
), base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clickers FROM clicks
), buckets AS (
    SELECT CAST((tp - tc) // 86400000000 AS BIGINT) AS day_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_converted
    FROM conv GROUP BY 1
)
SELECT day_bucket, n_converted,
       CAST(SUM(n_converted) OVER (ORDER BY day_bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_converted,
       ROUND(1.0 - CAST(SUM(n_converted) OVER (ORDER BY day_bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / b.n_clickers, 6) AS surviving_fraction
FROM buckets, base b ORDER BY day_bucket
"""


@register("q240_conversion_survival", oracle=_SURVIVAL_ORACLE)
def q240(events):
    """Time-to-conversion survival curve: first click per user, first
    purchase at-or-after it (one shuffle join on the uniform user key),
    integer day buckets, cumulative conversion over the |buckets| frame
    with the clicker population broadcast. The retention/latency shape
    that never sorts event volume globally."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("tc"))
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    conv = (
        clicks.join(purchases, "user_id")
        .where(F.col("t") >= F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tp"), F.min("tc").alias("tc"))
    )
    base = clicks.agg(F.count("*").cast("bigint").alias("n_clickers"))
    buckets = conv.groupBy(
        F.floor((F.col("tp") - F.col("tc")) / 86400000000).cast("bigint").alias("day_bucket")
    ).agg(F.count("*").cast("bigint").alias("n_converted"))
    wcum = Window.orderBy("day_bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        buckets.crossJoin(F.broadcast(base))
        .select(
            "day_bucket",
            "n_converted",
            F.sum("n_converted").over(wcum).cast("bigint").alias("cum_converted"),
            F.round(
                1.0
                - F.sum("n_converted").over(wcum).cast("double") / F.col("n_clickers"),
                6,
            ).alias("surviving_fraction"),
        )
        .orderBy("day_bucket")
    )


# ----------- q241: weight-of-evidence (WOE) decile binning + IV terms

# The credit-scoring / feature-engineering encoder: equal-frequency
# value bins (exact positional deciles — operators/quantiles.py, the
# q206 machinery reused), per-bin WOE = ln(pos_share/neg_share) and
# the information-value term. ln ROUNDed(6) on identical IEEE inputs
# (shares are exact-integer ratios); bins that would hit ln(0) are
# filtered on exact integer predicates.
_WOE_ORACLE = """
WITH scored AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
    FROM events
), ranked AS (
    SELECT label, NTILE(10) OVER (ORDER BY score, event_id) AS bin FROM scored
), per_bin AS MATERIALIZED (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS pos
    FROM ranked GROUP BY bin
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS post FROM per_bin
)
SELECT CAST(bin AS INT) AS bin, n, pos,
       ROUND(LN((CAST(pos AS DOUBLE) / post) / (CAST(n - pos AS DOUBLE) / (nt - post))), 6) AS woe,
       ROUND((CAST(pos AS DOUBLE) / post - CAST(n - pos AS DOUBLE) / (nt - post)) *
             LN((CAST(pos AS DOUBLE) / post) / (CAST(n - pos AS DOUBLE) / (nt - post))), 6) AS iv_term
FROM per_bin, tot
WHERE pos > 0 AND n - pos > 0
ORDER BY bin
"""


@register("q241_woe_binning", oracle=_WOE_ORACLE)
def q241(events):
    """Weight-of-evidence decile encoding of the value column against
    the purchase label: exact positional bins come from the histogram
    ntile (operators/quantiles.exact_ntile_counts — no global sort of
    event volume), WOE/IV from the per-bin exact counts. Second
    consumer of the q206 machinery."""
    scored = events.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        cents("value").alias("score"),
    )
    t = exact_ntile_counts(scored, 10, descending=False)
    pos_share = F.col("pos").cast("double") / F.col("post")
    neg_share = (F.col("n") - F.col("pos")).cast("double") / (F.col("nt") - F.col("post"))
    w = F.log(pos_share / neg_share)
    return (
        t.where((F.col("pos") > 0) & (F.col("n") - F.col("pos") > 0))
        .select(
            F.col("tile").alias("bin"),
            "n",
            "pos",
            F.round(w, 6).alias("woe"),
            F.round((pos_share - neg_share) * w, 6).alias("iv_term"),
        )
        .orderBy("bin")
    )


# --------------- q242: model calibration curve (reliability diagram)

# Third consumer of the exact histogram ntile: per score-decile mean
# PREDICTED score vs OBSERVED positive rate — the reliability diagram
# behind "is the model calibrated". score_sum is exact integer (the
# helper derives split-group partial sums as score*k), so mean_score
# is one IEEE division.
_CALIB_ORACLE = """
WITH scored AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           ('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               + CASE WHEN event_type = 'purchase' THEN 2000000000 ELSE 0 END AS score
    FROM events
), ranked AS (
    SELECT label, score, NTILE(10) OVER (ORDER BY score DESC, event_id) AS decile
    FROM scored
), per_dec AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS pos,
           CAST(SUM(score) AS BIGINT) AS score_sum
    FROM ranked GROUP BY decile
)
SELECT CAST(decile AS INT) AS decile, n,
       ROUND(CAST(score_sum AS DOUBLE) / n, 4) AS mean_score,
       ROUND(CAST(pos AS DOUBLE) / n, 6) AS pos_rate
FROM per_dec ORDER BY decile
"""


@register("q242_calibration_curve", oracle=_CALIB_ORACLE)
def q242(events):
    """Calibration / reliability curve per score decile (mean predicted
    score vs observed positive rate) from the exact histogram ntile —
    event volume is never globally sorted; the per-tile score sums come
    out of the same boundary probe that resolves the tie split."""
    scored = events.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            + F.when(F.col("event_type") == "purchase", 2000000000).otherwise(0)
        ).alias("score"),
    )
    t = exact_ntile_counts(scored, 10, descending=True)
    return t.select(
        F.col("tile").alias("decile"),
        "n",
        F.round(F.col("score_sum").cast("double") / F.col("n"), 4).alias("mean_score"),
        F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("pos_rate"),
    ).orderBy("decile")


# ----------- q244: embedding dimension profile (vector-column QA)

# Per-dimension mean/variance of the embedding column — the vector
# pipeline's column-profile (q153's numeric twin): catches dead
# dimensions, scale drift, and normalization bugs before ANN indexes
# are built on top. int-quantized values (the q127 recipe) make every
# sum exact; the /1000 de-quantization happens once, after aggregation.
# Rounding is done in INTEGER arithmetic: mean = s1/(1000 n) is an
# exact rational on a grid whose half-steps land EXACTLY on 6-decimal
# midpoints (n=2000 vectors => resolution 5e-7), and double-ROUND ties
# systematically diverged between engines at sf0.1 (observed:
# -0.001585 vs -0.001586). The +2000 shift keeps every quantity
# positive so floor-div and truncate-div agree (round-half-up:
# functions/exact.py); the variance is
# shift-invariant and M2 = n*s2 - s1^2 stays exact BIGINT (~4e13 at
# sf0.1; DECIMAL(38,0) if vectors ever reach ~1e8 rows).
_DIM_PROFILE_ORACLE = """
WITH q AS MATERIALIZED (
    SELECT LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 2000) AS v
    FROM embeddings
), dims AS (
    SELECT r.i AS dim, q.v[r.i] AS x
    FROM q, RANGE(1, 65) r(i)
), moms AS (
    SELECT CAST(dim AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
    FROM dims GROUP BY dim
)
SELECT dim, n,
       CAST((2 * s1 * 1000 + n) // (2 * n) AS DOUBLE) / 1000000 - 2.0 AS mean,
       CAST((2 * (n * s2 - s1 * s1) + n * n) // (2 * n * n) AS DOUBLE) / 1000000 AS variance
FROM moms ORDER BY dim
"""


@register("q244_embedding_dim_profile", oracle=_DIM_PROFILE_ORACLE)
def q244(embeddings):
    """Per-dimension embedding profile: posexplode the quantized vector
    (one pass, 64x fan-out of integers only — the float payload is
    dropped before the shuffle), exact integer moment sums per
    dimension, and INTEGER round-half-up for the 6-decimal outputs (see
    the oracle comment: the exact mean grid lands on double-ROUND tie
    midpoints, which diverged between engines at sf0.1). 64 output rows
    at any scale."""
    v = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint") + 2000
    )
    dims = embeddings.select(F.posexplode(v).alias("pos", "x")).select(
        (F.col("pos") + 1).cast("int").alias("dim"), "x"
    )
    moms = dims.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    mean = (
        F.expr(rhu("s1 * 1000", "n")).cast("double") / 1000000 - 2.0
    )
    var = (
        F.expr(rhu("(n * s2 - s1 * s1)", "n * n")).cast("double")
        / 1000000
    )
    return moms.select(
        "dim", "n", mean.alias("mean"), var.alias("variance")
    ).orderBy("dim")


# ------------------ q245: SCD Type-1 MERGE audit (upsert classification)

# The warehouse MERGE INTO, expressed storage-agnostically: a full
# outer join of the current dimension against the incoming batch
# classifies every key as inserted / updated / unchanged, and the
# audit row per class carries exact counts + a cents checksum of the
# post-merge values. The incoming batch is synthesized
# deterministically from the dimension itself (every 10th key changes
# balance, every 100th key arrives as a brand-new key).
_SCD1_ORACLE = """
WITH dim AS MATERIALIZED (
    SELECT c_custkey AS k,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM customer
), batch AS (
    SELECT k, cents + CASE WHEN k % 10 = 0 THEN 100 ELSE 0 END AS cents
    FROM dim
    UNION ALL
    SELECT k + 1000000, cents + 7 FROM dim WHERE k % 100 = 0
), merged AS (
    SELECT COALESCE(b.k, d.k) AS k, b.cents AS new_cents, d.cents AS old_cents,
           CASE WHEN d.k IS NULL THEN 'inserted'
                WHEN b.cents <> d.cents THEN 'updated'
                ELSE 'unchanged' END AS action
    FROM dim d FULL OUTER JOIN batch b ON b.k = d.k
)
SELECT action, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(COALESCE(new_cents, old_cents)) AS BIGINT) AS sum_cents
FROM merged GROUP BY action ORDER BY action
"""


@register("q245_scd1_merge_audit", oracle=_SCD1_ORACLE)
def q245(customer):
    """SCD Type-1 MERGE audit: one full-outer join on the dimension key
    classifies the incoming batch (inserted / updated / unchanged) and
    checksums the post-merge values — the exactly-what-changed report a
    MERGE INTO emits, with no storage engine required. Keys absent from
    the batch keep their old value (COALESCE), matching MERGE's
    WHEN-NOT-MATCHED-BY-SOURCE default."""
    dim = customer.select(
        F.col("c_custkey").alias("k"),
        cents("c_acctbal").alias("cents"),
    )
    batch = dim.select(
        "k",
        (F.col("cents") + F.when(F.col("k") % 10 == 0, 100).otherwise(0)).alias("cents"),
    ).unionAll(
        dim.where(F.col("k") % 100 == 0).select(
            (F.col("k") + 1000000).alias("k"), (F.col("cents") + 7).alias("cents")
        )
    )
    d = dim.withColumnRenamed("k", "dk").withColumnRenamed("cents", "old_cents")
    b = batch.withColumnRenamed("k", "bk").withColumnRenamed("cents", "new_cents")
    merged = d.join(b, F.col("bk") == F.col("dk"), "full_outer").select(
        F.when(F.col("dk").isNull(), "inserted")
        .when(F.col("new_cents") != F.col("old_cents"), "updated")
        .otherwise("unchanged")
        .alias("action"),
        F.coalesce("new_cents", "old_cents").alias("cents"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("action")
    )


# ---------- q246: late-data partition patch (incremental re-rollup)

# Late events (every 50th) arrive after the daily rollup is built; the
# patch recomputes ONLY the affected days (partition-pruned semi-join)
# and unions the untouched days — never a full recompute. The oracle
# IS the full recompute, so the hash match proves the patch is
# lossless; the `patched` flag marks which days were touched on both
# sides.
_LATE_PATCH_ORACLE = """
WITH ev AS MATERIALIZED (
    SELECT CAST(ts AS DATE) AS day, event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
), affected AS (
    SELECT DISTINCT day FROM ev WHERE event_id % 50 = 0
)
SELECT e.day AS day, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(e.cents) AS BIGINT) AS cents,
       CAST(MAX(CASE WHEN a.day IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS patched
FROM ev e LEFT JOIN affected a ON a.day = e.day
GROUP BY e.day ORDER BY day
"""


@register("q246_late_data_patch", oracle=_LATE_PATCH_ORACLE)
def q246(events):
    """Incremental late-data patching of a daily rollup: the base
    rollup (on-time events) keeps its untouched days via a broadcast
    ANTI join against the affected-day list; only affected days are
    re-aggregated from base+late. At 100 TB this is the difference
    between reprocessing a handful of partitions and the whole table —
    and the oracle is the full recompute, so the equivalence is
    hash-proven."""
    ev = events.select(
        F.col("ts").cast("date").alias("day"),
        "event_id",
        cents("value").alias("cents"),
    )
    base = ev.where(F.col("event_id") % 50 != 0)
    late = ev.where(F.col("event_id") % 50 == 0)
    affected = late.select("day").distinct()

    def rollup(df):
        return df.groupBy("day").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )

    untouched = rollup(base).join(F.broadcast(affected), "day", "left_anti").select(
        "day", "n", "cents", F.lit(0).cast("int").alias("patched")
    )
    patched = rollup(
        ev.join(F.broadcast(affected), "day", "left_semi")
    ).select("day", "n", "cents", F.lit(1).cast("int").alias("patched"))
    return untouched.unionAll(patched).orderBy("day")


# ----------- q247: duplicate-charge detection (fraud/billing audit)

# Same user, same amount, within 5 minutes: the double-charge audit.
# Scale shape: the self-join is EQUI on (user, cents) — candidate pairs
# only exist inside identical-amount groups of one user — and the time
# bound filters after; never a time-range cross product. event_id a<b
# canonicalizes the pair.
_DOUBLE_CHARGE_ORACLE = """
WITH p AS MATERIALIZED (
    SELECT user_id, event_id, EPOCH_US(ts) AS t,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id AS user_id, a.event_id AS event_a, b.event_id AS event_b,
       a.cents AS cents,
       CAST((b.t - a.t + 300000000) // 1000 - 300000 AS BIGINT) AS gap_ms
FROM p a
JOIN p b ON b.user_id = a.user_id AND b.cents = a.cents
        AND a.event_id < b.event_id
        AND b.t >= a.t - 300000000 AND b.t <= a.t + 300000000
ORDER BY user_id, event_a, event_b
"""


@register("q247_double_charge", oracle=_DOUBLE_CHARGE_ORACLE)
def q247(events):
    """Duplicate-charge audit: purchases by the same user for the same
    amount within +/-5 minutes. The join key is (user, cents) — an
    equi-join whose candidates are confined to identical-amount groups
    per user — with the time window as a post-filter; the canonical
    event_id ordering emits each pair once. gap may be negative-ordered
    in time (a<b is by id), so the bound is two-sided."""
    p = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        cents("value").alias("cents"),
    )
    a = p.select(
        "user_id", F.col("event_id").alias("event_a"), F.col("t").alias("ta"), "cents"
    )
    b = p.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("event_b"),
        F.col("t").alias("tb"),
        F.col("cents").alias("cb"),
    )
    return (
        a.join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("cb") == F.col("cents"))
            & (F.col("event_a") < F.col("event_b"))
            & (F.col("tb") >= F.col("ta") - 300000000)
            & (F.col("tb") <= F.col("ta") + 300000000),
        )
        .select(
            "user_id",
            "event_a",
            "event_b",
            "cents",
            # shifted positive before the divide: DuckDB // truncates
            # toward zero while floor floors, so negative gaps (tb<ta,
            # allowed by the two-sided bound) would diverge unshifted
            (F.floor((F.col("tb") - F.col("ta") + 300000000) / 1000) - 300000)
            .cast("bigint")
            .alias("gap_ms"),
        )
        .orderBy("user_id", "event_a", "event_b")
    )


# --------- q248: business-day latency (calendar-aware SLA reporting)

# Order→ship latency in BUSINESS days (weekends excluded), as a pure
# integer expression — no UDF, no calendar table: e = epoch_day + 3
# makes e % 7 == 0 on Mondays (epoch day 0 = Thursday), so
# B(d) = 5*(e//7) + LEAST(e%7, 4) counts Mon–Fri days in [origin, d]
# and busdays(d0, d1) = B(d1) - B(d0) counts them in (d0, d1]
# (verified against a per-day brute force over random 1992+ ranges).
# Only POSITIVE quantities are floor-divided, so the engines' differing
# negative-division semantics never engage (epoch days 1992+ > 8000).
# Monthly average from exact integer sums.
_BUSDAY_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS d0,
           DATEDIFF('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) AS d1,
           SUBSTR(CAST(o.o_orderdate AS VARCHAR), 1, 7) AS month
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_linenumber = 1
), b AS (
    SELECT month,
           ((d1 + 3) // 7 - (d0 + 3) // 7) * 5
           + LEAST((d1 + 3) % 7, 4) - LEAST((d0 + 3) % 7, 4) AS busdays
    FROM li
)
SELECT month, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(busdays) AS BIGINT) AS total_busdays,
       ROUND(CAST(SUM(busdays) AS DOUBLE) / COUNT(*), 6) AS avg_busdays
FROM b GROUP BY month ORDER BY month
"""


@register("q248_business_day_latency", oracle=_BUSDAY_ORACLE)
def q248(lineitem, orders):
    """Order→first-line-ship latency in business days, averaged per
    order month: weekday arithmetic on epoch days ((d+3)%7 => 0=Monday;
    epoch day 0 = Thursday), all integer, no UDF or calendar dimension.
    One broadcast-free equi-join on the order key + one aggregate."""
    li = (
        lineitem
        .where(F.col("l_linenumber") == 1)
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("ship"))
        .join(
            orders.select(
                "o_orderkey", F.col("o_orderdate").cast("date").alias("odate")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    epoch = F.lit("1970-01-01").cast("date")
    d0 = F.datediff(F.col("odate"), epoch)
    d1 = F.datediff(F.col("ship"), epoch)
    busdays = (
        (F.floor((d1 + 3) / 7) - F.floor((d0 + 3) / 7)) * 5
        + F.least((d1 + 3) % 7, F.lit(4))
        - F.least((d0 + 3) % 7, F.lit(4))
    )
    b = li.select(
        F.substring(F.col("odate").cast("string"), 1, 7).alias("month"),
        busdays.alias("busdays"),
    )
    return (
        b.groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("busdays").cast("bigint").alias("total_busdays"),
            F.round(F.sum("busdays").cast("double") / F.count("*"), 6).alias(
                "avg_busdays"
            ),
        )
        .orderBy("month")
    )

"""Round-7 batch (q420+): training-data batching economics, privacy
audits (l-diversity), link-analysis (HITS), rank statistics
(Kruskal-Wallis), effect sizes (Cohen's d), deterministic epoch
shuffling, intermittent-demand forecasting (Croston), lexical richness
(TTR/hapax), naive-forecast error metrics, an integer Bloom-filter FPR
study, bigram-LM next-token accuracy, and Spark-4 API rungs
(DataFrame.lateralJoin).

Determinism rules follow queries/relational.py's module docstring:
integer cents and round-half-up come from functions/exact.py, unique
ORDER BY tiebreakers under every LIMIT, and doubles only in
textually-parallel final expressions over exact integer aggregates (the
q207 discipline)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.exact import cents, rhu
from ..session import pin
from ..operators import banding as B
from ..operators.quantiles import exact_ntile_counts
from . import register
from .llm import _BANDS_CTE, _MINHASH_CTE, _minhash_corpus

_TOK_SQL = "UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0))"


# ---------- q420: length-bucketed batching waste (data-loader economics)

# Sequence batching for training: sort docs by length (unique doc_id
# tiebreak), fixed batch size 32, pad every doc to its batch max —
# report per-batch padding waste. The global position is computed the
# scale-correct way (q206's exact-positional machinery): a map-side
# combinable LENGTH HISTOGRAM takes the only single-partition window
# (|distinct lengths| rows), and the within-length rank is a partitioned
# window — event volume is never globally sorted.
_BATCH_ORACLE = """
WITH p AS (
    SELECT n_chars,
           ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS pos
    FROM documents
)
SELECT pos // 32 AS batch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_chars) AS BIGINT) AS max_len,
       CAST(SUM(n_chars) AS BIGINT) AS sum_len,
       CAST(COUNT(*) * MAX(n_chars) - SUM(n_chars) AS BIGINT) AS pad_waste
FROM p GROUP BY batch ORDER BY batch
"""


@register("q420_length_bucket_batching", oracle=_BATCH_ORACLE)
def q420(documents):
    """Per-batch padding waste under length-sorted batching (oracle
    comment)."""
    hist = documents.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "n_chars", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before")
    )
    wr = Window.partitionBy("n_chars").orderBy("doc_id")
    pos = (
        documents.select("doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(wr))
        .join(cum, "n_chars")
        .select("n_chars", (F.col("cum_before") + F.col("rn") - 1).alias("pos"))
    )
    return (
        pos.select("n_chars", F.expr("pos DIV 32").alias("batch"))
        .groupBy("batch")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("n_chars").cast("bigint").alias("max_len"),
            F.sum("n_chars").cast("bigint").alias("sum_len"),
        )
        .withColumn(
            "pad_waste",
            (F.col("n_docs") * F.col("max_len") - F.col("sum_len")).cast("bigint"),
        )
        .orderBy("batch")
    )


# ---------- q421: l-diversity privacy audit

# k-anonymity (q391) asks "is each quasi-identifier group big enough";
# l-diversity asks the stronger question: does each group carry at least
# l DISTINCT values of the sensitive attribute (here: the account-
# balance band), so membership does not reveal it. Sensitive band uses
# the positive-shift integer division (c_acctbal >= -999.99 so
# cents + 100000 >= 1): Spark DIV truncates, DuckDB // floors — equal
# on non-negative operands only.
_LDIV_ORACLE = """
SELECT c_nationkey AS nation, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                            + 100000) // 200000) AS BIGINT) AS n_sensitive,
       COUNT(DISTINCT (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                       + 100000) // 200000) >= 3 AS meets_l3
FROM customer
GROUP BY nation, segment ORDER BY nation, segment
"""


@register("q421_l_diversity", oracle=_LDIV_ORACLE)
def q421(customer):
    """l-diversity over (nation, segment) quasi-identifier groups
    (oracle comment)."""
    band = F.expr(
        "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000)"
        " DIV 200000"
    )
    return (
        customer.select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            band.alias("band"),
        )
        .groupBy("nation", "segment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("band").cast("bigint").alias("n_sensitive"),
        )
        .withColumn("meets_l3", F.col("n_sensitive") >= 3)
        .orderBy("nation", "segment")
    )


# ---------- q422: HITS hub/authority on the supplier-part graph

# Two unrolled HITS rounds on the DISTINCT supplier-part bipartite
# edge set, in pure integer arithmetic (no normalization — only the
# RANKING is reported, and positive scaling preserves it): a1(p) =
# deg(p), h1(s) = sum of a1 over s's parts, a2(p) = sum of h1 over p's
# suppliers. Top-20 authorities by (a2 DESC, partkey). Every step is an
# equi-join + map-side-combinable aggregate on the edge relation; at
# extreme scale the integer growth (~cube of density) would switch to
# per-round normalized micro scores — stated, not needed at any tested
# SF (a2 < 2^40).
_HITS_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
), a1 AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY p
), h1 AS (
    SELECT s, CAST(SUM(a) AS BIGINT) AS h FROM e JOIN a1 USING (p) GROUP BY s
), a2 AS (
    SELECT p, CAST(SUM(h) AS BIGINT) AS a FROM e JOIN h1 USING (s) GROUP BY p
)
SELECT p AS partkey, a AS authority2
FROM a2 ORDER BY authority2 DESC, partkey LIMIT 20
"""


@register("q422_hits_scores", oracle=_HITS_ORACLE)
def q422(lineitem):
    """Two-round integer HITS; top-20 authority parts (oracle
    comment)."""
    e = lineitem.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    a1 = e.groupBy("p").agg(F.count("*").cast("bigint").alias("a"))
    h1 = e.join(a1, "p").groupBy("s").agg(F.sum("a").cast("bigint").alias("h"))
    a2 = e.join(h1, "s").groupBy("p").agg(F.sum("h").cast("bigint").alias("a"))
    return (
        a2.select(F.col("p").alias("partkey"), F.col("a").alias("authority2"))
        .orderBy(F.col("authority2").desc(), "partkey")
        .limit(20)
    )


# ---------- q423: Kruskal-Wallis H across order priorities

# Rank-based one-way ANOVA on order value across the 5 priorities,
# average-tied ranks, computed from the VALUE HISTOGRAM exactly like
# q207's AUC: the tie frame gives r2(v) = rmin + rmax = 2*avg_rank as
# exact integers, R2_j = sum over the (priority, value) counts. The H
# statistic is then exact integer arithmetic end-to-end (round-half-up,
# positive operands): per-group terms R2_j^2/(4 n_j) ride DECIMAL(38,0)
# on Spark / HUGEINT on DuckDB through the squaring (R2_j^2 ~ 2e19
# exceeds BIGINT at sf0.1) but each DIV result fits BIGINT — Spark's
# DIV always RETURNS BIGINT, so the 1e6 micro scaling is applied only
# in the final 12e6*S/(N(N+1)) step whose quotient is small again
# (found the hard way: the term-level-micro form overflowed at sf0.1).
_KW_ORACLE = """
WITH v AS (
    SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders
), hist AS MATERIALIZED (
    SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY grp, cents
), ties AS (
    SELECT cents, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY cents
), ranked AS (
    SELECT cents,
           2 * (COALESCE(SUM(n) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
           + n - 1 AS r2
    FROM ties
), rsums AS MATERIALIZED (
    SELECT grp, CAST(SUM(c * r2) AS BIGINT) AS r2sum, CAST(SUM(c) AS BIGINT) AS nj
    FROM hist JOIN ranked USING (cents) GROUP BY grp
), tot AS MATERIALIZED (
    SELECT CAST(SUM(nj) AS BIGINT) AS n FROM rsums
), s AS (
    SELECT CAST(SUM((2 * r2sum::HUGEINT * r2sum + 4 * nj) // (8 * nj))
               AS BIGINT) AS s4
    FROM rsums
)
SELECT (SELECT n FROM tot) AS n,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM rsums) AS k,
       CAST((24000000 * s4::HUGEINT + CAST(n AS HUGEINT) * (n + 1))
            // (2 * CAST(n AS HUGEINT) * (n + 1))
            - 3000000 * (n + 1) AS BIGINT) AS h_micro
FROM s, tot
"""


@register("q423_kruskal_wallis", oracle=_KW_ORACLE)
def q423(orders):
    """Kruskal-Wallis H in exact micro units from the value histogram
    (oracle comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("cents"),
    )
    hist = v.groupBy("grp", "cents").agg(F.count("*").cast("bigint").alias("c"))
    ties = hist.groupBy("cents").agg(F.sum("c").cast("bigint").alias("n"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = ties.select(
        "cents",
        (
            2 * (F.coalesce(F.sum("n").over(w), F.lit(0)) + 1) + F.col("n") - 1
        ).alias("r2"),
    )
    rsums = (
        hist.join(ranked, "cents")
        .groupBy("grp")
        .agg(
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("r2sum"),
            F.sum("c").cast("bigint").alias("nj"),
        )
    )
    s = rsums.agg(
        F.sum(
            F.expr(
                "(2 * CAST(r2sum AS DECIMAL(38,0)) * r2sum + 4 * nj) DIV (8 * nj)"
            )
        )
        .cast("bigint")
        .alias("s4"),
        F.sum("nj").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    return s.select(
        "n",
        "k",
        F.expr(
            "CAST(" + rhu(
                "12000000 * CAST(s4 AS DECIMAL(38,0))",
                "CAST(n AS DECIMAL(38,0)) * (n + 1)",
            ) + " - 3000000 * (n + 1) AS BIGINT)"
        ).alias("h_micro"),
    )


# ---------- q424: Cohen's d effect size (purchase vs non-purchase value)

# Standardized mean difference with pooled variance. Every aggregate is
# an exact integer (n, sum cents, sum cents^2 per group); the final
# mean/variance/sqrt expression runs in DOUBLE with textually-parallel
# forms on both engines (the q207 discipline — scalar double ops on
# identical exact inputs are IEEE-identical), then ROUND(6).
_COHEN_ORACLE = """
WITH g AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
), agg AS MATERIALIZED (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
           CAST(SUM(cents * cents) AS BIGINT) AS q
    FROM g GROUP BY grp
)
SELECT a.n AS n1, b.n AS n2,
       ROUND((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
              - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
             / SQRT(((CAST(a.q AS DOUBLE) - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))
                     + (CAST(b.q AS DOUBLE) - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)))
                    / CAST(a.n + b.n - 2 AS DOUBLE)), 6) AS cohens_d
FROM agg a JOIN agg b ON a.grp = 1 AND b.grp = 0
"""


@register("q424_cohens_d", oracle=_COHEN_ORACLE)
def q424(events):
    """Cohen's d with pooled variance over exact integer moments
    (oracle comment)."""
    g = events.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
        cents("value").alias("cents"),
    )
    agg = g.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("q"),
    )
    a = agg.where(F.col("grp") == 1).alias("a")
    b = agg.where(F.col("grp") == 0).alias("b")
    return a.crossJoin(b).select(
        F.col("a.n").alias("n1"),
        F.col("b.n").alias("n2"),
        F.round(
            (
                F.col("a.s").cast("double") / F.col("a.n").cast("double")
                - F.col("b.s").cast("double") / F.col("b.n").cast("double")
            )
            / F.sqrt(
                (
                    (
                        F.col("a.q").cast("double")
                        - F.col("a.s").cast("double")
                        * F.col("a.s").cast("double")
                        / F.col("a.n").cast("double")
                    )
                    + (
                        F.col("b.q").cast("double")
                        - F.col("b.s").cast("double")
                        * F.col("b.s").cast("double")
                        / F.col("b.n").cast("double")
                    )
                )
                / (F.col("a.n") + F.col("b.n") - 2).cast("double")
            ),
            6,
        ).alias("cohens_d"),
    )


# ---------- q425: deterministic epoch shuffle (data-loader order)

# Training dataloaders re-shuffle per epoch; reproducible runs need the
# permutation to be a pure function of (epoch, doc_id). Permutation key
# = md5(epoch:doc_id) (the q155/q262 md5-determinism recipe); per epoch
# the first 8 docs are reported as the order's fingerprint. The
# row_number window prunes map-side via WindowGroupLimit (rn <= 8 is in
# the plan), so no epoch's full permutation is ever sorted.
_EPOCH_ORACLE = """
WITH e AS (
    SELECT t.epoch, d.doc_id,
           MD5(CAST(t.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS k
    FROM range(0, 3) t(epoch), documents d
), r AS (
    SELECT epoch, doc_id, k,
           ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS rn
    FROM e
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY k, doc_id) AS head
FROM r WHERE rn <= 8 GROUP BY epoch ORDER BY epoch
"""


@register("q425_epoch_shuffle", oracle=_EPOCH_ORACLE)
def q425(spark, documents):
    """First 8 docs of each epoch's md5-keyed permutation (oracle
    comment)."""
    e = documents.select("doc_id").crossJoin(
        F.broadcast(
            spark.range(0, 3).select(F.col("id").cast("bigint").alias("epoch"))
        )
    ).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
            )
        ).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 8)
        .groupBy("epoch")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("head")
        )
        .orderBy("epoch")
    )


# ---------- q426: Croston intermittent-demand rates

# Classic Croston decomposition for sparse demand: average demand SIZE
# over demand days and average INTER-ARRIVAL gap, combined into a
# demand rate — all exact round-half-up micro integers (operands
# positive: d >= 2 distinct days implies gap >= 1). Parts filtered to
# the %50 slice to keep the contract row count stable per SF.
_CROSTON_ORACLE = """
WITH f AS (
    SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_partkey % 50 = 0
), per AS (
    SELECT part, CAST(COUNT(DISTINCT day) AS BIGINT) AS d,
           CAST(SUM(qty) AS BIGINT) AS qty_sum,
           DATE_DIFF('day', MIN(day), MAX(day)) AS gap
    FROM f GROUP BY part
)
SELECT part, d, qty_sum,
       CAST((2 * 1000000 * qty_sum + d) // (2 * d) AS BIGINT) AS size_micro,
       CAST((2 * 1000000 * gap + (d - 1)) // (2 * (d - 1)) AS BIGINT) AS interval_micro,
       CAST((2 * 1000000 * qty_sum * (d - 1) + d * gap) // (2 * d * gap) AS BIGINT)
           AS rate_micro
FROM per WHERE d >= 2 ORDER BY part
"""


@register("q426_croston_demand", oracle=_CROSTON_ORACLE)
def q426(lineitem):
    """Croston size/interval/rate in round-half-up micro units (oracle
    comment)."""
    f = lineitem.where(F.col("l_partkey") % 50 == 0).select(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").cast("date").alias("day"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    per = f.groupBy("part").agg(
        F.countDistinct("day").cast("bigint").alias("d"),
        F.sum("qty").cast("bigint").alias("qty_sum"),
        F.datediff(F.max("day"), F.min("day")).cast("bigint").alias("gap"),
    )
    return (
        per.where(F.col("d") >= 2)
        .selectExpr(
            "part",
            "d",
            "qty_sum",
            f"CAST({rhu('1000000 * qty_sum', 'd')} AS BIGINT) AS size_micro",
            f"CAST({rhu('1000000 * gap', '(d - 1)')} AS BIGINT) AS interval_micro",
            f"CAST({rhu('1000000 * qty_sum * (d - 1)', 'd * gap')} AS BIGINT)"
            " AS rate_micro",
        )
        .orderBy("part")
    )


# ---------- q427: type-token ratio + hapax share per source

# Lexical richness for corpus QA: tokens, types (distinct tokens),
# hapax legomena (tokens occurring once in the source), TTR and
# hapax-per-type in round-half-up micro. All counts collapse to the
# (source, token) TYPE frame before any ratio — the corpus-stats
# posture every text query here follows.
_TTR_ORACLE = f"""
WITH tf AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT source, {_TOK_SQL} AS tok FROM documents
    ) GROUP BY source, tok
), per AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS n_hapax
    FROM tf GROUP BY source
)
SELECT source, n_tokens, n_types, n_hapax,
       CAST((2 * 1000000 * n_types + n_tokens) // (2 * n_tokens) AS BIGINT) AS ttr_micro,
       CAST((2 * 1000000 * n_hapax + n_types) // (2 * n_types) AS BIGINT) AS hapax_micro
FROM per ORDER BY source
"""


@register("q427_type_token_ratio", oracle=_TTR_ORACLE)
def q427(documents):
    """TTR + hapax share per source over the token TYPE frame (oracle
    comment)."""
    tf = (
        documents.select("source", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per = tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).cast("bigint").alias("n_hapax"),
    )
    return per.selectExpr(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        f"CAST({rhu('1000000 * n_types', 'n_tokens')} AS BIGINT) AS ttr_micro",
        f"CAST({rhu('1000000 * n_hapax', 'n_types')} AS BIGINT) AS hapax_micro",
    ).orderBy("source")


# ---------- q428: naive-forecast error metrics (WAPE / sMAPE)

# Forecast QA for the daily-revenue series: the naive seasonal forecast
# f(d) = actual(d-7) (calendar join, not row lag — gap days must not
# shift the season), scored with WAPE and sMAPE. Integer end-to-end:
# WAPE = 1e6*sum|e|/sum(a) round-half-up; sMAPE averages per-day
# round-half-up micro ratios (the contract fixes this two-stage
# rounding, making it engine-exact — both operands positive).
_FCERR_ORACLE = """
WITH daily AS MATERIALIZED (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
), j AS (
    SELECT a.day, a.cents AS actual, f.cents AS fc,
           ABS(a.cents - f.cents) AS err
    FROM daily a JOIN daily f ON a.day = f.day + 7
), per AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(err) AS BIGINT) AS sum_err,
           CAST(SUM(actual) AS BIGINT) AS sum_act,
           CAST(SUM((2 * 2000000 * err + (fc + actual)) // (2 * (fc + actual)))
                AS BIGINT) AS smape_sum
    FROM j
)
SELECT n_days,
       CAST((2 * 1000000 * sum_err + sum_act) // (2 * sum_act) AS BIGINT) AS wape_micro,
       CAST((2 * smape_sum + n_days) // (2 * n_days) AS BIGINT) AS smape_micro
FROM per
"""


@register("q428_forecast_errors", oracle=_FCERR_ORACLE)
def q428(orders):
    """WAPE + sMAPE of the calendar lag-7 naive forecast (oracle
    comment)."""
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
    )
    a = daily.alias("a")
    f_ = daily.select(F.date_add("day", 7).alias("fday"), F.col("cents").alias("fc"))
    j = a.join(f_, F.col("a.day") == F.col("fday")).select(
        F.col("a.cents").alias("actual"),
        "fc",
        F.abs(F.col("a.cents") - F.col("fc")).alias("err"),
    )
    per = j.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("err").cast("bigint").alias("sum_err"),
        F.sum("actual").cast("bigint").alias("sum_act"),
        F.sum(F.expr(rhu("2000000 * err", "(fc + actual)")))
        .cast("bigint")
        .alias("smape_sum"),
    )
    return per.selectExpr(
        "n_days",
        f"CAST({rhu('1000000 * sum_err', 'sum_act')} AS BIGINT) AS wape_micro",
        f"CAST({rhu('smape_sum', 'n_days')} AS BIGINT) AS smape_micro",
    )


# ---------- q429: Bloom-filter false-positive study (integer sketch)

# A Bloom filter as a RELATION: member keys (src0 docs' text md5) set 3
# bit positions each (md5(i:k) mod 4096 — the repo's md5-to-int
# recipe), the bitset is the distinct-position table, and a probe (src1
# keys verified absent by exact anti-join) is a false positive iff all
# 3 of its positions are set. Everything is equi-joins + distincts —
# the 100 TB form of a bitset is exactly this relation, partitionable
# and broadcastable; m = 4096 keeps the measured FPR nonzero at the
# tested SFs.
_BLOOM_ORACLE = """
WITH members AS MATERIALIZED (
    SELECT DISTINCT MD5(text) AS k FROM documents WHERE source = 'src0'
), probes AS MATERIALIZED (
    SELECT DISTINCT MD5(text) AS k FROM documents WHERE source = 'src1'
    AND MD5(text) NOT IN (SELECT k FROM members)
), bits AS MATERIALIZED (
    SELECT DISTINCT ('0x' || SUBSTR(MD5(CAST(i AS VARCHAR) || ':' || k), 1, 15))::BIGINT
                    % 4096 AS pos
    FROM members, range(0, 3) t(i)
), ppos AS MATERIALIZED (
    SELECT k, ('0x' || SUBSTR(MD5(CAST(i AS VARCHAR) || ':' || k), 1, 15))::BIGINT
              % 4096 AS pos
    FROM probes, range(0, 3) t(i)
), fp AS (
    SELECT ppos.k FROM ppos JOIN bits USING (pos)
    GROUP BY ppos.k HAVING COUNT(DISTINCT pos) = 3
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_fp
"""


@register("q429_bloom_fpr", oracle=_BLOOM_ORACLE)
def q429(documents):
    """Observed Bloom-filter false positives against the exact anti-join
    truth (oracle comment). COUNT(DISTINCT pos) = 3 (not COUNT(*)) on
    the probe side: two of a key's 3 hashes can collide on one
    position."""
    # pinned: members feeds the probe anti-join, the bit positions AND
    # its count; probes feeds the fp positions AND its count; bits feeds
    # the fp join AND its count — unpinned, each documents scan+distinct
    # re-ran per reference (guide §2.4; before-plan: 13 Exchanges)
    members = (
        documents.where(F.col("source") == "src0")
        .select(F.md5("text").alias("k"))
        .distinct()
        .transform(pin)
    )
    probes = (
        documents.where(F.col("source") == "src1")
        .select(F.md5("text").alias("k"))
        .distinct()
        .join(members, "k", "left_anti")
        .transform(pin)
    )
    three = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")

    def positions(df):
        return df.select("k", three).select(
            "k",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("k"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 4096
            ).alias("pos"),
        )

    bits = pin(positions(members).select("pos").distinct())
    fp = (
        positions(probes)
        .join(bits, "pos")
        .groupBy("k")
        .agg(F.countDistinct("pos").alias("nhit"))
        .where(F.col("nhit") == 3)
    )
    return (
        members.agg(F.count("*").cast("bigint").alias("n_members"))
        .crossJoin(bits.agg(F.count("*").cast("bigint").alias("n_bits")))
        .crossJoin(probes.agg(F.count("*").cast("bigint").alias("n_probes")))
        .crossJoin(fp.agg(F.count("*").cast("bigint").alias("n_fp")))
    )


# ---------- q430: bigram-LM next-token accuracy (in-corpus)

# The simplest language model: per preceding token, predict the
# most-frequent follower (count DESC, token ASC tiebreak) and score
# accuracy against the corpus's actual adjacent pairs. Pairs come from
# a PARTITIONED lead window (per-doc positions — never a global sort);
# the model table collapses to the bigram TYPE frame first.
_BIGRAM_ORACLE = """
WITH t AS (
    SELECT doc_id, LIST_FILTER(STR_SPLIT(LOWER(text), ' '), x -> LEN(x) > 0) AS tk
    FROM documents
), pr AS MATERIALIZED (
    SELECT UNNEST(list_transform(range(1, LEN(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS pr
    FROM t WHERE LEN(tk) >= 2
), bg AS MATERIALIZED (
    SELECT SPLIT_PART(pr, ' ', 1) AS w1, SPLIT_PART(pr, ' ', 2) AS w2,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM pr GROUP BY w1, w2
), pred AS (
    SELECT w1, w2 AS pw2 FROM (
        SELECT w1, w2, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
        FROM bg
    ) WHERE rn = 1
), sums AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN w2 = pw2 THEN c ELSE 0 END) AS BIGINT) AS n_correct
    FROM bg JOIN pred USING (w1)
)
SELECT n_pairs, n_correct,
       CAST((2 * 1000000 * n_correct + n_pairs) // (2 * n_pairs) AS BIGINT) AS acc_micro
FROM sums
"""


@register("q430_bigram_prediction", oracle=_BIGRAM_ORACLE)
def q430(documents):
    """Bigram argmax next-token accuracy over the corpus (oracle
    comment)."""
    tok = documents.select("doc_id", F.posexplode(T.tokens(F.col("text"))).alias("pos", "w"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.withColumn("w2", F.lead("w").over(wd))
        .where(F.col("w2").isNotNull())
        .select(F.col("w").alias("w1"), "w2")
    )
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c"))
    wp = Window.partitionBy("w1").orderBy(F.col("c").desc(), "w2")
    pred = (
        bg.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("pw2"))
    )
    sums = (
        bg.join(pred, "w1")
        .agg(
            F.sum("c").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("w2") == F.col("pw2"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
    )
    return sums.selectExpr(
        "n_pairs",
        "n_correct",
        f"CAST({rhu('1000000 * n_correct', 'n_pairs')} AS BIGINT) AS acc_micro",
    )


# ---------- q431: dynamic partition pruning (layout + dim-join prune)

# The DPP pattern every star-schema warehouse lives on: the fact table
# persisted PARTITIONED BY the join key (q133/q135's layout discipline),
# the dimension side carrying a runtime filter Catalyst cannot fold
# statically (a windowed top-2 over an aggregate), so the fact scan is
# pruned by a dynamicpruning subquery at EXECUTION time — asserted in
# tests/test_plans.py. The oracle recomputes from the raw table: the
# layout must be invisible in the result.
_DPP_ORACLE = """
WITH dim AS (
    SELECT event_type FROM (
        SELECT event_type,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM events GROUP BY event_type
    ) WHERE rn <= 2
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""


def _q431_fact(spark, events):
    """Partitioned fact layout for q431 (rebuilt in scratch per call)."""
    from ..scratch import scratch_dir

    path = scratch_dir("q431_events")
    events.select(
        "event_type",
        cents("value").alias("cents"),
    ).write.mode("overwrite").partitionBy("event_type").parquet(path)
    return spark.read.parquet(path)


@register("q431_dpp_prune", oracle=_DPP_ORACLE)
def q431(spark, events):
    """Star-schema aggregate over a partitioned fact with a runtime
    dim filter — the scan prunes via dynamic partition pruning (oracle
    comment)."""
    fact = _q431_fact(spark, events)
    w = Window.orderBy(F.col("cnt").desc(), "event_type")
    dim = (
        events.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("event_type")
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------- q432: DataFrame.lateralJoin (Spark 4 API rung)

# The Spark 4.0 DataFrame-API form of a correlated lateral subquery
# (q265 covers the SQL LATERAL): per nation, the top-2 customers by
# account balance, where the inner frame references the outer row via
# Column.outer(). Catalyst rewrites the correlated limit into a
# partitioned window — same plan family as q25 — so the API rung adds
# surface, not a new execution shape.
_LATDF_ORACLE = """
SELECT o.nation, o.n_cust, l.custkey, l.cents
FROM (SELECT c_nationkey AS nation, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY c_nationkey) o,
     LATERAL (SELECT c_custkey AS custkey,
                     CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM customer
              WHERE c_nationkey = o.nation
              ORDER BY cents DESC, custkey LIMIT 2) l
ORDER BY o.nation, l.cents DESC, l.custkey
"""


@register("q432_lateral_join_df", oracle=_LATDF_ORACLE)
def q432(customer):
    """Top-2 customers per nation via DataFrame.lateralJoin +
    Column.outer() (oracle comment)."""
    outer = customer.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count("*").cast("bigint").alias("n_cust")
    )
    inner = (
        customer.where(F.col("c_nationkey") == F.col("nation").outer())
        .select(
            F.col("c_custkey").alias("custkey"),
            cents("c_acctbal").alias("cents"),
        )
        .orderBy(F.col("cents").desc(), "custkey")
        .limit(2)
    )
    return outer.lateralJoin(inner).orderBy(
        "nation", F.col("cents").desc(), "custkey"
    )


# ---------- q433: dedup threshold tuning curve (similarity histogram)

# Which near-dup threshold would remove how much: exact n-gram Jaccard
# on the q44 LSH candidate feed (candidate-driven — never all pairs),
# binned by round-half-up basis points into deciles. This is the curve
# read before committing a dedup threshold on a new corpus; integer
# bp = rhu(1e4 * |inter| / |union|) keeps the bin edges engine-exact
# (FLOOR of a rounded double would not be).
_SIMHIST_ORACLE = _MINHASH_CTE + _BANDS_CTE + """
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
), grams AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT(hs) AS gs FROM hv
), bp AS (
    SELECT (2 * 10000 * LEN(LIST_INTERSECT(ga.gs, gb.gs))
            + (LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs))))
           // (2 * (LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs))))
           AS bp
    FROM cand
    JOIN grams ga ON ga.doc_id = cand.doc_a
    JOIN grams gb ON gb.doc_id = cand.doc_b
    WHERE LEN(ga.gs) + LEN(gb.gs) - LEN(LIST_INTERSECT(ga.gs, gb.gs)) > 0
)
SELECT CAST(bp // 1000 AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(bp) AS BIGINT) AS min_bp,
       CAST(MAX(bp) AS BIGINT) AS max_bp
FROM bp GROUP BY decile ORDER BY decile
"""


@register("q433_dedup_threshold_curve", oracle=_SIMHIST_ORACLE)
def q433(documents):
    """Decile histogram of exact candidate-pair Jaccard in integer
    basis points (oracle comment above)."""
    _sig, pairs = B.candidate_grams(_minhash_corpus(documents))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    uni = F.size("ga") + F.size("gb") - inter
    bp = (
        pairs.where(uni > 0)
        .select(
            F.expr(
                rhu(
                    "10000 * size(array_intersect(ga, gb))",
                    "(size(ga) + size(gb) - size(array_intersect(ga, gb)))",
                )
            ).alias("bp")
        )
    )
    return (
        bp.groupBy(F.expr("bp DIV 1000").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("bp").cast("bigint").alias("min_bp"),
            F.max("bp").cast("bigint").alias("max_bp"),
        )
        .orderBy("decile")
    )


# ---------- q434: Brown-Forsythe (median-based Levene) variance test

# "Do event values have equal SPREAD across event types?" — the
# robust companion to q258's ANOVA-on-means. Median per group comes
# from the value histogram exactly like q423's rank frame, kept as the
# DOUBLED median m2 = lower + upper (always integer, no interpolation
# truncation needed); z = |2*cents - m2| is then exact, and the
# constant factor 2 cancels in the F ratio. The final F is the q207
# double discipline over exact integer moments (n_j, sum z, sum z^2).
_BROWN_FORSYTHE_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT event_type AS grp,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
), hist AS MATERIALIZED (
    SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY grp, c
), cum AS MATERIALIZED (
    SELECT grp, c, cnt,
           COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM hist
), sz AS MATERIALIZED (
    SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY grp
), med AS MATERIALIZED (
    SELECT cum.grp,
           MAX(CASE WHEN (sz.n + 1) // 2 BETWEEN cb + 1 AND cb + cnt
                    THEN c END)
           + MAX(CASE WHEN (sz.n + 2) // 2 BETWEEN cb + 1 AND cb + cnt
                      THEN c END) AS m2
    FROM cum JOIN sz ON cum.grp = sz.grp GROUP BY cum.grp
), z AS MATERIALIZED (
    SELECT v.grp, ABS(2 * v.c - med.m2) AS z
    FROM v JOIN med ON v.grp = med.grp
), ag AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS nj, CAST(SUM(z) AS BIGINT) AS s,
           CAST(SUM(z * z) AS BIGINT) AS q
    FROM z GROUP BY grp
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(nj) AS BIGINT) AS n,
           CAST(SUM(s) AS BIGINT) AS st,
           SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nj AS DOUBLE)) AS bg,
           CAST(SUM(q) AS BIGINT) AS qt
    FROM ag
)
SELECT k, n,
       ROUND((CAST(n - k AS DOUBLE)
              * (bg - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(k - 1 AS DOUBLE) * (CAST(qt AS DOUBLE) - bg)), 6) AS f_stat
FROM tot
"""


@register("q434_brown_forsythe", oracle=_BROWN_FORSYTHE_ORACLE)
def q434(events):
    """Brown-Forsythe F over doubled-median absolute deviations (oracle
    comment)."""
    v = events.select(
        F.col("event_type").alias("grp"),
        cents("value").alias("c"),
    )
    hist = v.groupBy("grp", "c").agg(F.count("*").cast("bigint").alias("cnt"))
    wg = Window.partitionBy("grp").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "grp", "c", "cnt",
        F.coalesce(F.sum("cnt").over(wg), F.lit(0)).alias("cb"),
    )
    sz = hist.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n"))
    med = (
        cum.join(sz, "grp")
        .groupBy("grp")
        .agg(
            (
                F.max(
                    F.when(
                        F.expr("(n + 1) DIV 2").between(
                            F.col("cb") + 1, F.col("cb") + F.col("cnt")
                        ),
                        F.col("c"),
                    )
                )
                + F.max(
                    F.when(
                        F.expr("(n + 2) DIV 2").between(
                            F.col("cb") + 1, F.col("cb") + F.col("cnt")
                        ),
                        F.col("c"),
                    )
                )
            ).alias("m2")
        )
    )
    z = v.join(F.broadcast(med), "grp").select(
        "grp", F.abs(2 * F.col("c") - F.col("m2")).alias("z")
    )
    ag = z.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("nj"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("q"),
    )
    tot = ag.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("nj").cast("double")
        ).alias("bg"),
        F.sum("q").cast("bigint").alias("qt"),
    )
    return tot.select(
        "k", "n",
        F.round(
            (
                (F.col("n") - F.col("k")).cast("double")
                * (
                    F.col("bg")
                    - F.col("st").cast("double") * F.col("st").cast("double")
                    / F.col("n").cast("double")
                )
            )
            / (
                (F.col("k") - 1).cast("double")
                * (F.col("qt").cast("double") - F.col("bg"))
            ),
            6,
        ).alias("f_stat"),
    )


# ---------- q435: Mann-Kendall trend test per order priority

# Nonparametric monotonic-trend detection on the monthly order-count
# series: S = sum of pairwise signs (later minus earlier), tie-corrected
# variance kept as the exact integer numerator var18 (= 18*Var), and
# the continuity-corrected z in the q207 double discipline. Pairs are
# quadratic in |months| only — the series is a calendar-bounded
# aggregate frame (the q292 theil-sen rule), never event-volume.
_MK_ORACLE = """
WITH m AS MATERIALIZED (
    SELECT o_orderpriority AS grp, strftime(o_orderdate, '%Y-%m') AS mon,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM orders GROUP BY grp, mon
), s AS MATERIALIZED (
    SELECT a.grp,
           CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                         ELSE 0 END) AS BIGINT) AS s
    FROM m a JOIN m b ON a.grp = b.grp AND a.mon < b.mon GROUP BY a.grp
), ties AS MATERIALIZED (
    SELECT grp, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
    FROM (SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY grp, x)
    GROUP BY grp
), nn AS MATERIALIZED (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY grp
)
SELECT nn.grp, nn.n, s.s,
       CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie AS BIGINT) AS var18,
       ROUND(CASE WHEN s.s > 0 THEN CAST(s.s - 1 AS DOUBLE)
                       / SQRT(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie
                                   AS DOUBLE) / CAST(18 AS DOUBLE))
                  WHEN s.s < 0 THEN CAST(s.s + 1 AS DOUBLE)
                       / SQRT(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie
                                   AS DOUBLE) / CAST(18 AS DOUBLE))
                  ELSE 0.0 END, 6) AS z
FROM nn JOIN s ON nn.grp = s.grp JOIN ties ON nn.grp = ties.grp
ORDER BY nn.grp
"""


@register("q435_mann_kendall", oracle=_MK_ORACLE)
def q435(orders):
    """Mann-Kendall S / var18 / continuity-corrected z per priority
    (oracle comment)."""
    m = (
        orders.select(
            F.col("o_orderpriority").alias("grp"),
            F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        )
        .groupBy("grp", "mon")
        .agg(F.count("*").cast("bigint").alias("x"))
        # pinned: m (|grp|×|months| rows) feeds both pair sides, the
        # tie histogram AND the group sizes — unpinned, the orders
        # scan+aggregate runs four times (guide §2.4; before-plan: 9
        # Exchanges)
        .transform(pin)
    )
    a = m.select(
        F.col("grp"), F.col("mon").alias("mon_a"), F.col("x").alias("xa")
    )
    b = m.select(
        F.col("grp"), F.col("mon").alias("mon_b"), F.col("x").alias("xb")
    )
    s = (
        a.join(b, "grp")
        .where(F.col("mon_a") < F.col("mon_b"))
        .groupBy("grp")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    ties = (
        m.groupBy("grp", "x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("grp")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie")
        )
    )
    nn = m.groupBy("grp").agg(F.count("*").cast("bigint").alias("n"))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie")
    ).cast("bigint")
    sd = F.sqrt(var18.cast("double") / F.expr("CAST(18 AS DOUBLE)"))
    return (
        nn.join(s, "grp")
        .join(ties, "grp")
        .select(
            "grp", "n", "s",
            var18.alias("var18"),
            F.round(
                F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / sd)
                .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / sd)
                .otherwise(F.lit(0.0)),
                6,
            ).alias("z"),
        )
        .orderBy("grp")
    )


# ---------- q436: cross-document exact-substring duplication profile

# ExactSubstr-style training-data dedup (Lee et al. 2022, shrunk to a
# contract query): every 20-char shingle of every doc, a shingle is
# "duplicated" when >= 2 DISTINCT docs contain it, and each doc reports
# the round-half-up micro fraction of its positions covered by shared
# shingles. Linear blowup (len-19 shingles/doc) then a groupBy on the
# shingle key — at 100 TB the key would be xxhash64(shingle) (8 bytes,
# same cardinality) and the doc join a semi-join on the hashed key; the
# raw-string key here keeps the oracle textually parallel.
_SUBDUP_ORACLE = """
WITH pos AS (
    SELECT doc_id, text, UNNEST(GENERATE_SERIES(1, LEN(text) - 19)) AS i
    FROM documents WHERE LEN(text) >= 20
), sh AS MATERIALIZED (
    SELECT doc_id, SUBSTR(text, i, 20) AS g FROM pos
), du AS MATERIALIZED (
    SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY g
    ) WHERE nd >= 2
), npos AS MATERIALIZED (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pos FROM sh GROUP BY doc_id
), ndup AS MATERIALIZED (
    SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
    FROM sh JOIN du ON sh.g = du.g GROUP BY sh.doc_id
)
SELECT npos.doc_id, n_pos, COALESCE(n_dup, 0) AS n_dup,
       CAST((2 * 1000000 * COALESCE(n_dup, 0) + n_pos) // (2 * n_pos)
            AS BIGINT) AS dup_micro
FROM npos LEFT JOIN ndup ON npos.doc_id = ndup.doc_id
ORDER BY npos.doc_id
"""


@register("q436_substring_dup_profile", oracle=_SUBDUP_ORACLE)
def q436(spark, documents):
    """Per-doc shared 20-char-shingle coverage in micro units (oracle
    comment). The position stream collapses to (shingle, doc) COUNTS
    first, so the wide string key is shuffled once and the dup-set
    join runs on the collapsed frame, never the position stream (the
    original countDistinct form re-shuffled positions twice: 17.9s ->
    14s at sf0.1; the residual cost is the inherent position-stream
    volume of ExactSubstr — len x docs shingle rows through one wide
    shuffle). Documents are REPARTITIONED to cluster parallelism
    before the explode: the corpus parquet is a few MB compressed, so
    the scan yields 1-2 input splits, and without the spread the
    ~200x-multiplying shingle explode runs on 2 cores (410s at the
    sf1 rehearsal vs 2.3s/core-minute of actual work; shuffling the
    raw docs first costs MBs)."""
    width = int(spark.sparkContext.defaultParallelism)
    sh = (
        documents.where(F.length("text") >= 20)
        .repartition(width)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 19)
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            # shuffle the 8-byte xxhash64 of the shingle, not the 20-char
            # string (guide §2.3 / the docstring's declared 100 TB
            # posture): the collapse/dup-set keys only need EQUALITY of
            # shingles, and the swap cuts the dominant wide shuffle's
            # bytes ~60%. Injective on the actual corpora — verified
            # count(distinct shingle) == count(distinct hash) at
            # sf0.001/0.01/0.1 and the oracle hash gate re-proves the
            # full output at every driver SF.
            F.xxhash64(F.expr("substring(text, i, 20)")).alias("g"),
        )
    )
    dd = sh.groupBy("g", "doc_id").agg(F.count("*").cast("bigint").alias("cnt"))
    du = (
        dd.groupBy("g")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    npos = dd.groupBy("doc_id").agg(F.sum("cnt").cast("bigint").alias("n_pos"))
    ndup = (
        dd.join(du, "g")
        .groupBy("doc_id")
        .agg(F.sum("cnt").cast("bigint").alias("n_dup"))
    )
    return (
        npos.join(ndup, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup"),
        )
        .selectExpr(
            "doc_id", "n_pos", "n_dup",
            f"CAST({rhu('1000000 * n_dup', 'n_pos')} AS BIGINT) AS dup_micro",
        )
        .orderBy("doc_id")
    )


# ---------- q437: t-closeness audit (total-variation distance)

# The third rung of the privacy ladder (q391 k-anonymity, q421
# l-diversity): each (priority, year) equivalence class reports the
# total-variation distance between its order-status distribution and
# the global one. TVD = sum |c/n - g/N| / 2 rides the common
# denominator 2*n*N so the numerator sum |c*N - g*n| is exact integer
# (classes missing a status contribute g*n via the zero-filled status
# grid), then one round-half-up micro division per class.
_TCLOSE_ORACLE = """
WITH b AS (
    SELECT o_orderpriority AS pri, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           o_orderstatus AS st
    FROM orders
), cls AS MATERIALIZED (
    SELECT pri, yr, st, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY pri, yr, st
), csz AS MATERIALIZED (
    SELECT pri, yr, CAST(SUM(c) AS BIGINT) AS n FROM cls GROUP BY pri, yr
), gd AS MATERIALIZED (
    SELECT st, CAST(SUM(c) AS BIGINT) AS g FROM cls GROUP BY st
), tot AS (
    SELECT CAST(SUM(g) AS BIGINT) AS big FROM gd
), grid AS (
    SELECT csz.pri, csz.yr, csz.n, gd.g, COALESCE(cls.c, 0) AS c
    FROM csz CROSS JOIN gd
    LEFT JOIN cls ON cls.pri = csz.pri AND cls.yr = csz.yr AND cls.st = gd.st
)
SELECT pri, yr, n,
       CAST((2 * 1000000 * SUM(ABS(c * big - g * n)) + 2 * n * big)
            // (2 * 2 * n * big) AS BIGINT) AS tvd_micro
FROM grid, tot GROUP BY pri, yr, n, big ORDER BY pri, yr
"""


@register("q437_t_closeness", oracle=_TCLOSE_ORACLE)
def q437(orders):
    """t-closeness TVD per (priority, year) class in micro units
    (oracle comment)."""
    b = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.col("o_orderstatus").alias("st"),
    )
    # pinned: cls feeds class sizes, the global status marginals AND the
    # grid left-join — unpinned, the orders scan+aggregate runs three
    # times (guide §2.4; before-plan: 9 Exchanges)
    cls = (
        b.groupBy("pri", "yr", "st")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(pin)
    )
    csz = cls.groupBy("pri", "yr").agg(F.sum("c").cast("bigint").alias("n"))
    glob = cls.groupBy("st").agg(F.sum("c").cast("bigint").alias("g"))
    tot = glob.agg(F.sum("g").cast("bigint").alias("big"))
    grid = (
        csz.crossJoin(F.broadcast(glob))
        .join(cls, ["pri", "yr", "st"], "left")
        .select(
            "pri", "yr", "n", "g",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return (
        grid.groupBy("pri", "yr", "n", "big")
        .agg(
            F.sum(F.abs(F.col("c") * F.col("big") - F.col("g") * F.col("n")))
            .cast("bigint")
            .alias("num")
        )
        .selectExpr(
            "pri", "yr", "n",
            f"CAST({rhu('1000000 * num', '2 * n * big')} AS BIGINT) AS tvd_micro",
        )
        .orderBy("pri", "yr")
    )


# ---------- q438: rank-biased overlap between two part rankings

# How similar are the revenue-rank and quantity-rank views of the part
# catalog? RBO (Webber et al. 2010) truncated at depth 50, p = 0.9, in
# EXACT integer arithmetic: the geometric weights are a 50-row literal
# table of round-half-up micro values of 0.9^(d-1) computed RATIONALLY
# at module import (shared text between both engines — the q327
# integer-literal recipe), each depth's term is round-half-up nano, and
# the running RBO is an exact integer cumulative sum. Scale posture:
# both rankings come from TakeOrderedAndProject top-50s (never a global
# row_number over the part frame), and an item contributes only if it
# is in BOTH top-50s, so every later frame is <= 50 rows.
_RBO_P_MICRO = [
    (2 * 10**6 * 9 ** (d - 1) + 10 ** (d - 1)) // (2 * 10 ** (d - 1))
    for d in range(1, 51)
]
_RBO_PW_SQL = ", ".join(
    f"({d}, {pw})" for d, pw in enumerate(_RBO_P_MICRO, start=1)
)

_RBO_ORACLE = f"""
WITH pr AS MATERIALIZED (
    SELECT l_partkey AS p,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS rev,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY p
), ta AS (
    SELECT p, ROW_NUMBER() OVER (ORDER BY rev DESC, p) AS ra FROM pr
    ORDER BY rev DESC, p LIMIT 50
), tb AS (
    SELECT p, ROW_NUMBER() OVER (ORDER BY qty DESC, p) AS rb FROM pr
    ORDER BY qty DESC, p LIMIT 50
), mr AS (
    SELECT GREATEST(ta.ra, tb.rb) AS m FROM ta JOIN tb USING (p)
), pw AS (
    SELECT * FROM (VALUES {_RBO_PW_SQL}) AS t(d, pwm)
), ag AS (
    SELECT pw.d, pw.pwm, CAST(COUNT(mr.m) AS BIGINT) AS agree
    FROM pw LEFT JOIN mr ON mr.m <= pw.d GROUP BY pw.d, pw.pwm
), t AS (
    SELECT d, agree,
           CAST((2 * 100 * pwm * agree + d) // (2 * d) AS BIGINT) AS term_nano
    FROM ag
)
SELECT CAST(d AS BIGINT) AS depth, agree,
       CAST(SUM(term_nano) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS rbo_nano
FROM t ORDER BY depth
"""


@register("q438_rank_biased_overlap", oracle=_RBO_ORACLE)
def q438(spark, lineitem):
    """Truncated RBO(p=0.9, k=50) of revenue vs quantity part rankings
    in exact nano units (oracle comment)."""
    pr = lineitem.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(
            cents("l_extendedprice")
        )
        .cast("bigint")
        .alias("rev"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
    )
    wa = Window.orderBy(F.desc("rev"), "p")
    wb = Window.orderBy(F.desc("qty"), "p")
    ta = (
        pr.orderBy(F.desc("rev"), "p").limit(50)
        .select("p", F.row_number().over(wa).alias("ra"))
    )
    tb = (
        pr.orderBy(F.desc("qty"), "p").limit(50)
        .select("p", F.row_number().over(wb).alias("rb"))
    )
    mr = ta.join(tb, "p").select(
        F.greatest(F.col("ra"), F.col("rb")).alias("m")
    )
    pw = spark.createDataFrame(
        [(d, pwm) for d, pwm in enumerate(_RBO_P_MICRO, start=1)],
        "d INT, pwm BIGINT",
    )
    ag = (
        pw.join(F.broadcast(mr), F.col("m") <= F.col("d"), "left")
        .groupBy("d", "pwm")
        .agg(F.count("m").cast("bigint").alias("agree"))
    )
    t = ag.selectExpr(
        "d", "agree",
        f"CAST({rhu('100 * pwm * agree', 'd')} AS BIGINT) AS term_nano",
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return t.select(
        F.col("d").cast("bigint").alias("depth"),
        "agree",
        F.sum("term_nano").over(wc).cast("bigint").alias("rbo_nano"),
    ).orderBy("depth")


# ---------- q439: cross-correlation function between two event series

# Does click volume LEAD purchase volume? Pearson r between daily
# clicks x(t) and daily purchases y(t + lag) for lag in -7..7, joined
# on the integer day index (day - 2024-01-01 — engine-identical date
# arithmetic), r from exact integer moments in the q207 double
# discipline. Everything sits above the |days|-row daily frame; the
# 15-lag grid is a broadcast literal.
_CCF_ORACLE = """
WITH e AS (
    SELECT CAST(ts AS DATE) AS day, event_type FROM events
), x AS MATERIALIZED (
    SELECT day - DATE '2024-01-01' AS t,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS x,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS y
    FROM e GROUP BY 1
), l AS MATERIALIZED (
    SELECT UNNEST(GENERATE_SERIES(-7, 7)) AS lag
), p AS (
    SELECT l.lag, a.x AS x, b.y AS y
    FROM l CROSS JOIN x a JOIN x b ON b.t = a.t + l.lag
), ag AS (
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy, CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM p GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
FROM ag ORDER BY lag
"""


@register("q439_cross_correlation", oracle=_CCF_ORACLE)
def q439(spark, events):
    """CCF of daily clicks vs purchases at lags -7..7 (oracle
    comment)."""
    x = (
        events.select(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .alias("t"),
            "event_type",
        )
        .groupBy("t")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("bigint")
            .alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("y"),
        )
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    a = x.select(F.col("t").alias("ta"), "x")
    b = x.select(F.col("t").alias("tb"), "y")
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .select("lag", "x", "y")
    )
    ag = p.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return ag.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("r"),
    ).orderBy("lag")


# ---------- q440: Pettitt changepoint test per order priority

# Where does the monthly order-count series most plausibly break?
# U_t = sum_{i<=t} (r2_i - (n+1)) — the pairwise sign double-sum
# collapses to a cumulative sum of q423's tied-rank integers r2
# (within-prefix terms cancel by antisymmetry), so K = max|U_t| and the
# changepoint month are exact; only the final significance
# p = min(1, 2*exp(-6K^2/(n^3+n^2))) is a rounded transcendental.
_PETTITT_ORACLE = """
WITH m AS MATERIALIZED (
    SELECT o_orderpriority AS grp, strftime(o_orderdate, '%Y-%m') AS mon,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM orders GROUP BY grp, mon
), h AS (
    SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS c FROM m GROUP BY grp, x
), rk AS MATERIALIZED (
    SELECT grp, x,
           2 * (COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
           + c - 1 AS r2
    FROM h
), mm AS MATERIALIZED (
    SELECT m.grp, m.mon, rk.r2 FROM m JOIN rk ON m.grp = rk.grp AND m.x = rk.x
), nn AS MATERIALIZED (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY grp
), u AS (
    SELECT mm.grp, mon,
           SUM(r2) OVER (PARTITION BY mm.grp ORDER BY mon
                         ROWS UNBOUNDED PRECEDING)
           - ROW_NUMBER() OVER (PARTITION BY mm.grp ORDER BY mon) * (n + 1) AS ut,
           ROW_NUMBER() OVER (PARTITION BY mm.grp ORDER BY mon) AS t, n
    FROM mm JOIN nn ON mm.grp = nn.grp
), best AS (
    SELECT grp, mon, n, ABS(ut) AS k,
           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ABS(ut) DESC, mon) AS rn
    FROM u WHERE t < n
)
SELECT grp, n, mon AS cp_month, CAST(k AS BIGINT) AS k_stat,
       ROUND(LEAST(1.0, 2 * EXP(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6) AS p_value
FROM best WHERE rn = 1 ORDER BY grp
"""


@register("q440_pettitt_changepoint", oracle=_PETTITT_ORACLE)
def q440(orders):
    """Pettitt K, changepoint month and p per priority (oracle
    comment)."""
    m = (
        orders.select(
            F.col("o_orderpriority").alias("grp"),
            F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        )
        .groupBy("grp", "mon")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    h = m.groupBy("grp", "x").agg(F.count("*").cast("bigint").alias("c"))
    wg = Window.partitionBy("grp").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rk = h.select(
        "grp", "x",
        (
            2 * (F.coalesce(F.sum("c").over(wg), F.lit(0)) + 1) + F.col("c") - 1
        ).alias("r2"),
    )
    mm = m.join(rk, ["grp", "x"]).select("grp", "mon", "r2")
    nn = m.groupBy("grp").agg(F.count("*").cast("bigint").alias("n"))
    wc = Window.partitionBy("grp").orderBy("mon").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wr = Window.partitionBy("grp").orderBy("mon")
    u = (
        mm.join(nn, "grp")
        .withColumn("cum", F.sum("r2").over(wc))
        .withColumn("t", F.row_number().over(wr))
        .select(
            "grp", "mon", "n", "t",
            (F.col("cum") - F.col("t") * (F.col("n") + 1)).alias("ut"),
        )
        .where(F.col("t") < F.col("n"))
    )
    wb = Window.partitionBy("grp").orderBy(F.abs(F.col("ut")).desc(), "mon")
    best = u.withColumn("rn", F.row_number().over(wb)).where(F.col("rn") == 1)
    nd = F.col("n").cast("double")
    kd = F.abs(F.col("ut")).cast("double")
    return best.select(
        "grp", "n",
        F.col("mon").alias("cp_month"),
        F.abs(F.col("ut")).cast("bigint").alias("k_stat"),
        F.round(
            F.least(
                F.lit(1.0),
                2 * F.exp(-F.lit(6.0) * kd * kd / (nd * nd * nd + nd * nd)),
            ),
            6,
        ).alias("p_value"),
    ).orderBy("grp")


# ---------- q441: SymSpell deletion-neighborhood spell join

# Edit-distance-1 vocabulary pairs WITHOUT an all-pairs comparison: each
# term emits itself plus its |t| single-char deletions, candidates are
# the equi-join on shared variants (complete for lev <= 1: substitution
# pairs share the deletion at the differing position; insert/delete
# pairs hit the shorter term's identity variant), and the exact
# levenshtein filter keeps only true distance-1 pairs. Candidate volume
# is |V| * avg_len, never |V|^2 — the SymSpell inversion of the oracle's
# quadratic cross join, which is the whole point at dictionary scale.
_SYMSPELL_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT DISTINCT LOWER(tok) AS t FROM (
        SELECT UNNEST(STR_SPLIT(p_name, ' ')) AS tok FROM part
        UNION ALL SELECT p_brand FROM part
        UNION ALL SELECT p_type FROM part
    ) WHERE LEN(tok) > 0
)
SELECT a.t AS a, b.t AS b
FROM v a JOIN v b ON a.t < b.t AND levenshtein(a.t, b.t) = 1
ORDER BY a, b
"""


@register("q441_symspell_join", oracle=_SYMSPELL_ORACLE)
def q441(part):
    """Distance-1 vocab pairs via deletion-variant equi-join (oracle
    comment)."""
    v = (
        part.select(F.explode(F.split("p_name", " ")).alias("tok"))
        .unionAll(part.select(F.col("p_brand").alias("tok")))
        .unionAll(part.select(F.col("p_type").alias("tok")))
        .select(F.lower("tok").alias("t"))
        .where(F.length("t") > 0)
        .distinct()
    )
    variants = v.select(
        "t",
        F.explode(
            F.expr(
                "array_union(array(t), transform(sequence(1, length(t)),"
                " i -> concat(substring(t, 1, i - 1),"
                " substring(t, i + 1, length(t)))))"
            )
        ).alias("var"),
    )
    a = variants.select(F.col("t").alias("a"), "var")
    b = variants.select(F.col("t").alias("b"), "var")
    return (
        a.join(b, "var")
        .where((F.col("a") < F.col("b")) & (F.levenshtein("a", "b") == 1))
        .select("a", "b")
        .distinct()
        .orderBy("a", "b")
    )


# ---------- q442: expected calibration error of the conversion forecast

# The single-number summary beside q242's reliability curve and q417's
# Brier score, on q417's exact setup (first-27-days purchase share
# forecasts a last-3-days purchase). Per-user confidence is quantized
# ONCE to round-half-up micro (operands positive), the bin is an
# integer DIV of that micro value (edges engine-exact), and each bin's
# |accuracy - confidence| mass rides the identity
# n_b*(acc_b - conf_b) = 1e6*pos_b - confsum_b — exact integers all
# the way to one final micro division.
_ECE_ORACLE = """
WITH u AS (
    SELECT user_id,
           CAST(COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-28' THEN 1 END)
                AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-28'
                AND event_type = 'purchase' THEN 1 END) AS BIGINT) AS k,
           MAX(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-28'
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY user_id HAVING n > 0
), conf AS (
    SELECT y, (2 * 1000000 * k + n) // (2 * n) AS conf_mi FROM u
), bins AS MATERIALIZED (
    SELECT LEAST(conf_mi // 100000, 9) AS bin, CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(conf_mi) AS BIGINT) AS confsum
    FROM conf GROUP BY bin
), tot AS (
    SELECT CAST(SUM(n_b) AS BIGINT) AS m,
           CAST(SUM(ABS(1000000 * pos - confsum)) AS BIGINT) AS tsum
    FROM bins
)
SELECT CAST(bin AS BIGINT) AS bin, n_b, pos, confsum,
       CAST(ABS(1000000 * pos - confsum) AS BIGINT) AS term,
       CAST((2 * tsum + m) // (2 * m) AS BIGINT) AS ece_micro
FROM bins, tot ORDER BY bin
"""


@register("q442_expected_calibration_error", oracle=_ECE_ORACLE)
def q442(events):
    """Per-bin calibration mass + overall ECE in exact micro units
    (oracle comment)."""
    cut = F.lit("2024-01-28").cast("date")
    day = F.col("ts").cast("date")
    u = (
        events.groupBy("user_id")
        .agg(
            F.count(F.when(day < cut, 1)).cast("bigint").alias("n"),
            F.count(F.when((day < cut) & (F.col("event_type") == "purchase"), 1))
            .cast("bigint")
            .alias("k"),
            F.max(
                F.when(
                    (day >= cut) & (F.col("event_type") == "purchase"), 1
                ).otherwise(0)
            ).alias("y"),
        )
        .where(F.col("n") > 0)
    )
    conf = u.selectExpr("y", f"{rhu('1000000 * k', 'n')} AS conf_mi")
    bins = conf.groupBy(
        F.least(F.expr("conf_mi DIV 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("pos"),
        F.sum("conf_mi").cast("bigint").alias("confsum"),
    )
    tot = bins.agg(
        F.sum("n_b").cast("bigint").alias("m"),
        F.sum(F.abs(1000000 * F.col("pos") - F.col("confsum")))
        .cast("bigint")
        .alias("tsum"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(bin AS BIGINT) AS bin", "n_b", "pos", "confsum",
            "CAST(ABS(1000000 * pos - confsum) AS BIGINT) AS term",
            f"CAST({rhu('tsum', 'm')} AS BIGINT) AS ece_micro",
        )
        .orderBy("bin")
    )


# ---------- q443: Atkinson inequality index per order priority

# Welfare-weighted inequality (epsilon = 1/2) of order values:
# A = 1 - (sum sqrt(x))^2 / (n * sum x). IEEE sqrt is CORRECTLY
# ROUNDED, so sqrt(cents) is bit-identical on both engines; one
# explicit ROUND to integer micro per row (the CLAUDE double->int
# rule) makes the sum exact, and the final ratio is round-half-up over
# DECIMAL(38,0)/HUGEINT (the squared sum reaches ~1e28 at sf0.1).
_ATKINSON_ORACLE = """
WITH v AS (
    SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CAST(ROUND(SQRT(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT) AS DOUBLE)) * 1000000, 0) AS BIGINT) AS sq_mi
    FROM orders
), ag AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sx,
           CAST(SUM(sq_mi) AS BIGINT) AS sq
    FROM v GROUP BY grp
)
SELECT grp, n,
       CAST(1000000 - (2 * 1000000 * sq::HUGEINT * sq
                       + 1000000000000::HUGEINT * n * sx)
                      // (2 * (1000000000000::HUGEINT * n * sx))
            AS BIGINT) AS atkinson_micro
FROM ag ORDER BY grp
"""


@register("q443_atkinson_index", oracle=_ATKINSON_ORACLE)
def q443(orders):
    """Atkinson(0.5) inequality per priority from an exact quantized
    sqrt sum (oracle comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("cents"),
        F.round(F.sqrt(cents("o_totalprice").cast("double")) * 1000000, 0)
        .cast("bigint")
        .alias("sq_mi"),
    )
    ag = v.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum("sq_mi").cast("bigint").alias("sq"),
    )
    return ag.selectExpr(
        "grp", "n",
        "CAST(1000000 - " + rhu(
            "1000000 * CAST(sq AS DECIMAL(38,0)) * sq",
            "(CAST(1000000000000 AS DECIMAL(38,0)) * n * sx)",
        ) + " AS BIGINT) AS atkinson_micro",
    ).orderBy("grp")


# ---------- q444: word-8-gram novelty vs the training split

# Memorization / novelty audit for generated-text eval: docs split
# 80/20 by md5(doc_id) (the q155 determinism recipe), each TEST doc
# reports the share of its 8-gram POSITIONS never seen in any TRAIN
# doc. The train side collapses to the DISTINCT gram set before the
# anti-join — candidate volume is gram-types, not gram-positions
# (the q99 decontamination posture, inverted: here the NOVEL mass is
# the signal, not the contaminated one).
_NOVEL_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS split,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), grams AS MATERIALIZED (
    SELECT doc_id, split,
           ARRAY_TO_STRING(ts[i:i+7], ' ') AS g
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts) - 7)) t(i)
    WHERE LEN(ts) >= 8
), train AS (
    SELECT DISTINCT g FROM grams WHERE split < 4
), test AS (
    SELECT doc_id, g FROM grams WHERE split >= 4
), per AS (
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(CASE WHEN tr.g IS NULL THEN 1 END) AS BIGINT) AS n_novel
    FROM test t LEFT JOIN train tr ON t.g = tr.g GROUP BY t.doc_id
)
SELECT doc_id, n_grams, n_novel,
       CAST((2 * 1000000 * n_novel + n_grams) // (2 * n_grams) AS BIGINT)
           AS novel_micro
FROM per ORDER BY doc_id
"""


@register("q444_ngram_novelty", oracle=_NOVEL_ORACLE)
def q444(documents):
    """Per-test-doc unseen-8-gram share vs the md5 train split (oracle
    comment)."""
    toks = documents.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 5
        ).alias("split"),
        T.tokens(F.col("text")).alias("ts"),
    ).where(F.size("ts") >= 8)
    grams = toks.select(
        "doc_id", "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 7),"
                " i -> array_join(slice(ts, i, 8), ' '))"
            )
        ).alias("g"),
    )
    train = grams.where(F.col("split") < 4).select("g").distinct()
    test = grams.where(F.col("split") >= 4).select("doc_id", "g")
    per = (
        test.join(train.withColumn("seen", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count(F.when(F.col("seen").isNull(), 1))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.selectExpr(
        "doc_id", "n_grams", "n_novel",
        f"CAST({rhu('1000000 * n_novel', 'n_grams')} AS BIGINT) AS novel_micro",
    ).orderBy("doc_id")


# ---------- q445: isotonic calibration via the minimax PAV identity

# Monotone (isotonic) recalibration of the q241 decile bins WITHOUT the
# sequential pool-adjacent-violators loop: over b bins the PAV solution
# has the closed minimax form
#   iso_b = max_{j<=b} min_{k>=b} (P_k - P_{j-1}) / (N_k - N_{j-1}),
# an O(bins^3) triple join over the 10-row bin frame (never row
# volume). Every candidate fraction is ONE IEEE division of exact
# integers — identical doubles on both engines — so the min/max picks
# are engine-deterministic before any rounding.
_ISOTONIC_ORACLE = """
WITH scored AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
    FROM events
), ranked AS (
    SELECT label, NTILE(10) OVER (ORDER BY score, event_id) AS bin FROM scored
), per_bin AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS pos
    FROM ranked GROUP BY bin
), cum AS MATERIALIZED (
    SELECT bin, n, pos,
           SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
           SUM(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
    FROM per_bin
), frac AS MATERIALIZED (
    SELECT j.bin AS j, k.bin AS k,
           CAST(k.cp - j.cp + j.pos AS DOUBLE)
               / CAST(k.cn - j.cn + j.n AS DOUBLE) AS f
    FROM cum j JOIN cum k ON j.bin <= k.bin
), inner_min AS (
    SELECT b.bin, frac.j, MIN(frac.f) AS mn
    FROM cum b JOIN frac ON frac.j <= b.bin AND frac.k >= b.bin
    GROUP BY b.bin, frac.j
), iso AS MATERIALIZED (
    SELECT bin, MAX(mn) AS iso_f FROM inner_min GROUP BY bin
)
SELECT CAST(c.bin AS INT) AS bin, c.n, c.pos,
       ROUND(CAST(c.pos AS DOUBLE) / c.n, 6) AS raw_rate,
       ROUND(iso.iso_f, 6) AS iso_rate
FROM cum c JOIN iso ON c.bin = iso.bin ORDER BY bin
"""


@register("q445_isotonic_calibration", oracle=_ISOTONIC_ORACLE)
def q445(events):
    """Isotonic bin rates via the minimax PAV identity over decile
    aggregates (oracle comment)."""
    scored = events.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        cents("value").alias("score"),
    )
    t = exact_ntile_counts(scored, 10, descending=False).select(
        F.col("tile").alias("bin"), "n", "pos"
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # pinned: cum is 10 rows but feeds FOUR consumers (j, k, b and the
    # final join) — without the checkpoint each one re-runs the whole
    # events-scan ntile subtree (guide §2.4; before-plan: 43 Exchanges,
    # ~4 copies of the exact_ntile_counts pipeline)
    cum = t.select(
        "bin", "n", "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    ).transform(pin)
    j = cum.select(
        F.col("bin").alias("j"), F.col("n").alias("jn"),
        F.col("pos").alias("jpos"), F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = cum.select(
        F.col("bin").alias("k"), F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    frac = (
        j.crossJoin(k)
        .where(F.col("j") <= F.col("k"))
        .select(
            "j", "k",
            (
                (F.col("kcp") - F.col("jcp") + F.col("jpos")).cast("double")
                / (F.col("kcn") - F.col("jcn") + F.col("jn")).cast("double")
            ).alias("f"),
        )
    )
    b = cum.select(F.col("bin"))
    inner = (
        b.crossJoin(frac)
        .where((F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
        .groupBy("bin", "j")
        .agg(F.min("f").alias("mn"))
    )
    iso = inner.groupBy("bin").agg(F.max("mn").alias("iso_f"))
    return (
        cum.join(iso, "bin")
        .select(
            F.col("bin").cast("int").alias("bin"), "n", "pos",
            F.round(F.col("pos").cast("double") / F.col("n").cast("double"), 6)
            .alias("raw_rate"),
            F.round(F.col("iso_f"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


# ---------- q446: consistent-hash ring rebalancing audit

# Shard-placement economics: 4 nodes x 32 vnodes on a 32-bit md5 ring
# place every order key at its clockwise successor vnode; adding node 4
# (same vnode fan) must move ONLY keys that land on the new node —
# the consistent-hashing guarantee, audited exactly. Ties on ring
# position resolve to the lowest node id on both engines. The 160-row
# ring is a broadcast dimension; per-key successor search is two
# conditional MINs over the key x ring join (at real scale: a sorted
# ring array searched per row — the ring is always tiny, the keys are
# not).
_CHASH_ORACLE = """
WITH ks AS MATERIALIZED (
    SELECT o_orderkey AS k,
           ('0x' || SUBSTR(MD5('k' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               AS kh
    FROM orders
), ring AS MATERIALIZED (
    SELECT n.n, v.v,
           ('0x' || SUBSTR(MD5('node' || CAST(n.n AS VARCHAR) || ':'
                || CAST(v.v AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM (SELECT UNNEST(GENERATE_SERIES(0, 4)) AS n) n,
         (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS v) v
), asg AS MATERIALIZED (
    SELECT ks.k,
           COALESCE(MIN(CASE WHEN r.n <= 3 AND r.h >= ks.kh THEN r.h END),
                    MIN(CASE WHEN r.n <= 3 THEN r.h END)) AS ha,
           COALESCE(MIN(CASE WHEN r.h >= ks.kh THEN r.h END), MIN(r.h)) AS hb
    FROM ks CROSS JOIN ring r GROUP BY ks.k, ks.kh
), fin AS MATERIALIZED (
    SELECT asg.k,
           MIN(CASE WHEN r.h = asg.ha AND r.n <= 3 THEN r.n END) AS na,
           MIN(CASE WHEN r.h = asg.hb THEN r.n END) AS nb
    FROM asg CROSS JOIN ring r GROUP BY asg.k, asg.ha, asg.hb
), mv AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(CASE WHEN na <> nb THEN 1 END) AS BIGINT) AS n_moved
    FROM fin
), bc AS MATERIALIZED (
    SELECT na AS node, CAST(COUNT(*) AS BIGINT) AS c FROM fin GROUP BY na
), ac AS MATERIALIZED (
    SELECT nb AS node, CAST(COUNT(*) AS BIGINT) AS c FROM fin GROUP BY nb
), grid AS MATERIALIZED (
    SELECT UNNEST(GENERATE_SERIES(0, 4)) AS node
)
SELECT CAST(grid.node AS BIGINT) AS node,
       COALESCE(bc.c, 0) AS n_before, COALESCE(ac.c, 0) AS n_after,
       mv.n_keys, mv.n_moved,
       CAST((2 * 1000000 * mv.n_moved + mv.n_keys) // (2 * mv.n_keys)
            AS BIGINT) AS moved_micro
FROM grid LEFT JOIN bc ON grid.node = bc.node
LEFT JOIN ac ON grid.node = ac.node CROSS JOIN mv
ORDER BY node
"""


@register("q446_consistent_hash_rebalance", oracle=_CHASH_ORACLE)
def q446(spark, orders):
    """Per-node placement before/after adding a ring node + moved share
    (oracle comment). The Spark path is the deployment form: the ring
    is computed ON THE DRIVER with hashlib md5 (160 entries — the
    kmeans driver-bounded rule; bit-identical to the oracle's MD5),
    turned into successor INTERVALS (kh in (h_{i-1}, h_i] -> node_i,
    plus the wrap interval), and bucketed by kh >> 24 into a ~420-row
    broadcast table — so each key resolves through a codegen
    BroadcastHashJoin probing 1-2 candidate rows. Earlier forms: the
    key x ring crossJoin shuffled 48M rows (24.9s at sf0.1); an
    array-filter lookup was CodegenFallback-interpreted (15.6s); a
    160-branch LEAST blew the codegen budget (89s). This is the
    interval-bucketing trick (q132 posture) and the form that scales.
    Downstream, everything derives from ONE (na, nb) pair-count pass."""
    import hashlib

    def h32(text):
        return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)

    ring = sorted(
        (h32(f"node{n}:{v}"), n) for n in range(5) for v in range(32)
    )
    ring_a = [(h, n) for h, n in ring if n <= 3]

    def bucket_rows(entries):
        ded = []
        for h, n in entries:
            if ded and ded[-1][0] == h:
                continue  # ring-position tie -> lowest node (sorted order)
            ded.append((h, n))
        iv, prev = [], -1
        for h, n in ded:
            iv.append((prev + 1, h, n))
            prev = h
        iv.append((prev + 1, (1 << 32) - 1, ded[0][1]))  # wrap-around
        return [
            (b, lo, hi, n)
            for lo, hi, n in iv
            for b in range(lo >> 24, (hi >> 24) + 1)
        ]

    ks = orders.select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("k"), F.col("o_orderkey").cast("string"))), 1, 8
            ),
            16, 10,
        )
        .cast("bigint")
        .alias("kh")
    ).withColumn("bkt", F.expr("CAST(kh DIV 16777216 AS INT)"))

    rows_a = [("a", *r) for r in bucket_rows(ring_a)]
    rows_b = [("b", *r) for r in bucket_rows(ring)]
    t = spark.createDataFrame(
        rows_a + rows_b, "lane STRING, bkt INT, lo BIGINT, hi BIGINT, node INT"
    )
    ta = (
        F.broadcast(t.where(F.col("lane") == "a"))
        .selectExpr("bkt", "lo AS na_lo", "hi AS na_hi", "node AS na")
    )
    tb = (
        F.broadcast(t.where(F.col("lane") == "b"))
        .selectExpr("bkt", "lo AS nb_lo", "hi AS nb_hi", "node AS nb")
    )
    fin = (
        ks.join(ta, "bkt")
        .where(F.col("kh").between(F.col("na_lo"), F.col("na_hi")))
        .join(tb, "bkt")
        .where(F.col("kh").between(F.col("nb_lo"), F.col("nb_hi")))
    )
    pairs = fin.groupBy("na", "nb").agg(F.count("*").cast("bigint").alias("c"))
    # pairs (<=25 rows) is consumed ONCE: each pair explodes into its
    # before-lane and after-lane contribution, the per-node report is
    # one groupBy over those, and the global totals ride tiny
    # unpartitioned window sums — three earlier aggregate branches made
    # AQE re-run the whole key scan per branch (column pruning broke
    # exchange reuse).
    contrib = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("na").alias("node"),
                    F.col("c").alias("cb"),
                    F.lit(0).cast("bigint").alias("ca"),
                    F.when(F.col("na") != F.col("nb"), F.col("c"))
                    .otherwise(0)
                    .cast("bigint")
                    .alias("mvc"),
                ),
                F.struct(
                    F.col("nb").alias("node"),
                    F.lit(0).cast("bigint").alias("cb"),
                    F.col("c").alias("ca"),
                    F.lit(0).cast("bigint").alias("mvc"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    per_node = contrib.groupBy("node").agg(
        F.sum("cb").cast("bigint").alias("cb"),
        F.sum("ca").cast("bigint").alias("ca"),
        F.sum("mvc").cast("bigint").alias("mvc"),
    )
    grid = spark.range(0, 5).select(F.col("id").cast("int").alias("node"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        grid.join(per_node, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.coalesce(F.col("cb"), F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce(F.col("ca"), F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce(F.col("mvc"), F.lit(0)).cast("bigint").alias("mvc"),
        )
        .withColumn("n_keys", F.sum("n_before").over(wall).cast("bigint"))
        .withColumn("n_moved", F.sum("mvc").over(wall).cast("bigint"))
        .selectExpr(
            "node", "n_before", "n_after", "n_keys", "n_moved",
            f"CAST({rhu('1000000 * n_moved', 'n_keys')} AS BIGINT) AS moved_micro",
        )
        .orderBy("node")
    )


# ---------- q447: exact global median via two-pass bucket refinement

# The 100 TB exact-median recipe: pass 1 aggregates a COARSE $1000
# bucket histogram (map-side combinable, |buckets| rows), locates the
# <= 2 buckets covering positions (n+1)//2 and (n+2)//2; pass 2
# re-scans ONLY rows in those buckets (a 2-row broadcast semi-filter —
# in a deployment the bucket bounds become literal scan predicates)
# and resolves the exact order statistics from the within-bucket value
# histogram. The oracle computes the same doubled median m2 = lo + hi
# directly from the full histogram — method-independence, q114 style.
_MED2P_ORACLE = """
WITH v AS (
    SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM lineitem
), h AS MATERIALIZED (
    SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY c
), cum AS (
    SELECT c, cnt,
           COALESCE(SUM(cnt) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM h
), nn AS MATERIALIZED (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h
)
SELECT nn.n,
       MAX(CASE WHEN (nn.n + 1) // 2 BETWEEN cb + 1 AND cb + cnt THEN c END)
           AS v_lo,
       MAX(CASE WHEN (nn.n + 2) // 2 BETWEEN cb + 1 AND cb + cnt THEN c END)
           AS v_hi,
       MAX(CASE WHEN (nn.n + 1) // 2 BETWEEN cb + 1 AND cb + cnt THEN c END)
       + MAX(CASE WHEN (nn.n + 2) // 2 BETWEEN cb + 1 AND cb + cnt THEN c END)
           AS m2
FROM cum, nn GROUP BY nn.n
"""


@register("q447_two_pass_median", oracle=_MED2P_ORACLE)
def q447(lineitem):
    """Exact doubled median via coarse-bucket pass + bucket-local
    refinement (oracle comment; oracle is the direct one-pass form)."""
    v = lineitem.select(
        cents("l_extendedprice").alias("c")
    )
    vb = v.withColumn("b", F.expr("c DIV 100000"))
    bh = vb.groupBy("b").agg(F.count("*").cast("bigint").alias("bcnt"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    bcum = bh.select(
        "b", "bcnt", F.coalesce(F.sum("bcnt").over(wb), F.lit(0)).alias("bcb")
    )
    nn = bh.agg(F.sum("bcnt").cast("bigint").alias("n"))
    pos = nn.selectExpr(
        "n",
        "explode(array(named_struct('which', 'lo', 'p', (n + 1) DIV 2),"
        " named_struct('which', 'hi', 'p', (n + 2) DIV 2))) AS s",
    ).select("n", "s.which", "s.p")
    targets = pos.join(
        bcum,
        (F.col("p") >= F.col("bcb") + 1) & (F.col("p") <= F.col("bcb") + F.col("bcnt")),
    ).select("n", "which", "p", "b", "bcb")
    inner = vb.join(F.broadcast(targets), "b").select("n", "which", "p", "bcb", "c")
    ih = inner.groupBy("n", "which", "p", "bcb", "c").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wi = Window.partitionBy("which").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    icum = ih.select(
        "n", "which", "p", "bcb", "c", "cnt",
        F.coalesce(F.sum("cnt").over(wi), F.lit(0)).alias("icb"),
    )
    picked = icum.groupBy("n", "which").agg(
        F.max(
            F.when(
                (F.col("p") - F.col("bcb")).between(
                    F.col("icb") + 1, F.col("icb") + F.col("cnt")
                ),
                F.col("c"),
            )
        ).alias("val")
    )
    return picked.groupBy("n").agg(
        F.max(F.when(F.col("which") == "lo", F.col("val"))).alias("v_lo"),
        F.max(F.when(F.col("which") == "hi", F.col("val"))).alias("v_hi"),
        (
            F.max(F.when(F.col("which") == "lo", F.col("val")))
            + F.max(F.when(F.col("which") == "hi", F.col("val")))
        ).alias("m2"),
    )


# ---------- q448: Ljung-Box portmanteau test on daily-revenue ACF

# "Is the series white noise?" — the hypothesis-test layer above
# q270's ACF: Q(m) = n(n+2) * sum_{k<=m} r_k^2/(n-k), reported
# cumulatively for m = 1..7. r_k is q270's EXACT integer acf_micro
# (the registered q270 operator is invoked directly as the feed);
# each lag's term is one round-half-up micro division carried in
# DECIMAL(38,0)/HUGEINT (n(n+2)r²·1e12 passes BIGINT at sf0.1), and
# Q accumulates the rounded terms — the two-stage rounding is the
# contract, engine-exact by construction.
from .analytics3 import _ACF_ORACLE as _ACF_FEED  # noqa: E402
from .analytics3 import _DAILY_CTE, _daily_cents, q270  # noqa: E402

_LB_ORACLE = f"""
WITH acf AS ({_ACF_FEED}), nn AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n
    FROM (SELECT o_orderdate FROM orders GROUP BY o_orderdate)
), terms AS (
    SELECT acf.lag, acf.acf_micro,
           CAST((2 * nn.n * (nn.n + 2) * CAST(acf.acf_micro AS HUGEINT)
                 * acf.acf_micro + 1000000 * (nn.n - acf.lag))
                // (2 * 1000000 * (nn.n - acf.lag)) AS BIGINT) AS term_micro
    FROM acf, nn
)
SELECT CAST(lag AS INT) AS lag, acf_micro, term_micro,
       CAST(SUM(term_micro) OVER (ORDER BY lag ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS q_micro
FROM terms ORDER BY lag
"""


@register("q448_ljung_box", oracle=_LB_ORACLE)
def q448(orders):
    """Cumulative Ljung-Box Q over q270's exact ACF (oracle comment)."""
    acf = q270(orders)
    nn = _daily_cents(orders).agg(
        F.count("*").cast("bigint").alias("n")
    )
    terms = acf.crossJoin(F.broadcast(nn)).selectExpr(
        "lag", "acf_micro",
        "CAST(" + rhu(
            "CAST(n AS DECIMAL(38,0)) * (n + 2) * CAST(acf_micro AS DECIMAL(38,0))"
            " * acf_micro",
            "CAST(1000000 AS DECIMAL(38,0)) * (n - lag)",
        ) + " AS BIGINT) AS term_micro",
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "lag", "acf_micro", "term_micro",
        F.sum("term_micro").over(w).cast("bigint").alias("q_micro"),
    ).orderBy("lag")


# ---------- q449: Cochran-Armitage trend test (ordered proportions)

# Does the 'F' (fulfilled) share TREND across the ordered priority
# ranks 1..5? The chi-square-for-trend statistic
#   Z² = N·(N·Σt·r − R·Σt·n)² / (R(N−R)(N·Σnt² − (Σnt)²))
# — multiplying the textbook form through by N² leaves pure integer
# arithmetic (the q270 mean-clearing move), carried in
# DECIMAL(38,0)/HUGEINT (num² ~1e21 at sf0.1) to one round-half-up
# micro. Rank = the leading digit of the priority label.
_CA_ORACLE = """
WITH g AS (
    SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS t,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
    FROM orders
), per AS (
    SELECT t, CAST(COUNT(*) AS BIGINT) AS n_i, CAST(SUM(y) AS BIGINT) AS r_i
    FROM g GROUP BY t
), tot AS (
    SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS r,
           CAST(SUM(t * r_i) AS BIGINT) AS s_tr, CAST(SUM(t * n_i) AS BIGINT) AS s_tn,
           CAST(SUM(t * t * n_i) AS BIGINT) AS s_ttn
    FROM per
)
SELECT n, r, CAST(n * s_tr - r * s_tn AS BIGINT) AS num,
       CAST((2 * 1000000 * n::HUGEINT * (n * s_tr - r * s_tn)
             * (n * s_tr - r * s_tn)
             + r::HUGEINT * (n - r) * (n * s_ttn - s_tn * s_tn))
            // (2 * (r::HUGEINT * (n - r) * (n * s_ttn - s_tn * s_tn)))
            AS BIGINT) AS z2_micro
FROM tot
"""


@register("q449_cochran_armitage", oracle=_CA_ORACLE)
def q449(orders):
    """Cochran-Armitage Z² for trend in exact micro units (oracle
    comment)."""
    g = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("t"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per = g.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("y").cast("bigint").alias("r_i"),
    )
    tot = per.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("t") * F.col("r_i")).cast("bigint").alias("s_tr"),
        F.sum(F.col("t") * F.col("n_i")).cast("bigint").alias("s_tn"),
        F.sum(F.col("t") * F.col("t") * F.col("n_i")).cast("bigint").alias("s_ttn"),
    )
    return tot.selectExpr(
        "n", "r", "CAST(n * s_tr - r * s_tn AS BIGINT) AS num",
        "CAST(" + rhu(
            "1000000 * CAST(n AS DECIMAL(38,0)) * (n * s_tr - r * s_tn) * (n * s_tr"
            " - r * s_tn)",
            "(CAST(r AS DECIMAL(38,0)) * (n - r) * (n * s_ttn - s_tn * s_tn))",
        ) + " AS BIGINT) AS z2_micro",
    )


# ---------- q450: Kaplan-Meier survival (time to first purchase)

# Survival-analysis rung: per user, duration = days from first event
# to first purchase, right-censored at the last observed day. Risk
# sets n_t (reverse-cumulative over the duration histogram) and event
# counts d_t are exact integers on the <=|days| event-time frame; the
# product-limit estimator steps s <- rhu(s*(n_t-d_t), n_t) in micro
# units — the q308 sequential-recurrence contract: a recursive CTE on
# the DuckDB side, ONE applyInPandas fold over the calendar-bounded
# event-time frame on the Spark side (progressive rounding IS the
# cross-engine contract).
_KM_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events
), ends AS (
    SELECT MAX(day) AS obs_end FROM e
), u AS (
    SELECT user_id, MIN(day) AS t0,
           MIN(CASE WHEN event_type = 'purchase' THEN day END) AS tp
    FROM e GROUP BY user_id
), dur AS (
    SELECT CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE obs_end - t0 END AS d,
           CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
    FROM u, ends
), cnt AS (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n_all, CAST(SUM(ev) AS BIGINT) AS n_ev
    FROM dur GROUP BY d
), risk AS (
    SELECT d, n_ev AS d_t,
           CAST(SUM(n_all) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_t
    FROM cnt
), et AS MATERIALIZED (
    SELECT d, d_t, n_t, ROW_NUMBER() OVER (ORDER BY d) AS rn
    FROM risk WHERE d_t > 0
), rec AS MATERIALIZED (
    WITH RECURSIVE r(rn, s) AS (
        SELECT 0, CAST(1000000 AS BIGINT)
        UNION ALL
        SELECT e.rn,
               CAST((2 * r.s * (e.n_t - e.d_t) + e.n_t) // (2 * e.n_t) AS BIGINT)
        FROM r JOIN et e ON e.rn = r.rn + 1
    )
    SELECT * FROM r
)
SELECT CAST(e.d AS BIGINT) AS t, e.n_t, e.d_t, rec.s AS s_micro
FROM et e JOIN rec ON rec.rn = e.rn ORDER BY t
"""


@register("q450_kaplan_meier", oracle=_KM_ORACLE)
def q450(events):
    """Product-limit survival curve in exact micro units (oracle
    comment)."""
    import pandas as pd

    e = events.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    )
    ends = e.agg(F.max("day").alias("obs_end"))
    u = e.groupBy("user_id").agg(
        F.min("day").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("tp"),
    )
    dur = u.crossJoin(F.broadcast(ends)).select(
        F.when(
            F.col("tp").isNotNull(), F.datediff("tp", "t0")
        )
        .otherwise(F.datediff("obs_end", "t0"))
        .alias("d"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    cnt = dur.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("ev").cast("bigint").alias("n_ev"),
    )
    wr = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    risk = cnt.select(
        "d",
        F.col("n_ev").alias("d_t"),
        F.sum("n_all").over(wr).cast("bigint").alias("n_t"),
    ).where(F.col("d_t") > 0)

    def km(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d").reset_index(drop=True)
        s = 10**6
        out = []
        for _, row in pdf.iterrows():
            n_t, d_t = int(row["n_t"]), int(row["d_t"])
            s = (2 * s * (n_t - d_t) + n_t) // (2 * n_t)
            out.append((int(row["d"]), n_t, d_t, s))
        return pd.DataFrame(out, columns=["t", "n_t", "d_t", "s_micro"])

    return (
        risk.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(km, "t bigint, n_t bigint, d_t bigint, s_micro bigint")
        .orderBy("t")
    )


# ---------- q451: skip-gram training pairs with deterministic negatives

# word2vec-style data mining: positives are (center, context) counts
# within a +/-2 token window, collapsed to the TYPE frame; each pair
# type draws 2 negatives from the unigram^(3/4) distribution via an
# md5 integer CDF probe (the q155/q425 determinism recipe — no RNG).
# The ^0.75 weight is the ONE rounded transcendental (milli, per
# vocab TYPE — 31 rows); everything after is exact integer range
# lookup. At corpus scale the CDF table is vocab-sized and broadcast;
# pair volume is window x tokens, collapsed before any join.
_SKIPGRAM_ORACLE = """
WITH toks AS MATERIALIZED (
    SELECT doc_id, ts[t.i] AS tok, t.i
    FROM (
        SELECT doc_id,
               LIST_FILTER(STR_SPLIT(LOWER(text), ' '), x -> LEN(x) > 0) AS ts
        FROM documents
    ), LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts))) t(i)
), pairs AS (
    SELECT a.tok AS w, b.tok AS c
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND ABS(a.i - b.i) BETWEEN 1 AND 2
), pc AS MATERIALIZED (
    SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY w, c
), uni AS MATERIALIZED (
    SELECT tok, CAST(ROUND(POWER(CAST(COUNT(*) AS DOUBLE), 0.75) * 1000, 0)
                AS BIGINT) AS w75
    FROM toks GROUP BY tok
), cdf AS MATERIALIZED (
    SELECT tok, w75,
           COALESCE(SUM(w75) OVER (ORDER BY tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
    FROM uni
), tot AS MATERIALIZED (
    SELECT CAST(SUM(w75) AS BIGINT) AS big FROM uni
), draws AS MATERIALIZED (
    SELECT pc.w, pc.c, pc.n_pairs, d.i AS draw,
           ('0x' || SUBSTR(MD5(pc.w || ':' || pc.c || ':'
                || CAST(d.i AS VARCHAR)), 1, 12))::BIGINT % tot.big AS pos
    FROM pc, (SELECT UNNEST(GENERATE_SERIES(1, 2)) AS i) d, tot
), neg AS (
    SELECT draws.w, draws.c, draws.n_pairs, draws.draw, cdf.tok AS neg_tok
    FROM draws JOIN cdf
      ON draws.pos >= cdf.lo AND draws.pos < cdf.lo + cdf.w75
)
SELECT w, c, n_pairs,
       MAX(CASE WHEN draw = 1 THEN neg_tok END) AS neg1,
       MAX(CASE WHEN draw = 2 THEN neg_tok END) AS neg2
FROM neg GROUP BY w, c, n_pairs ORDER BY w, c
"""


@register("q451_skipgram_pairs", oracle=_SKIPGRAM_ORACLE)
def q451(spark, documents):
    """Skip-gram pair types + md5-CDF unigram^0.75 negatives (oracle
    comment)."""
    toks = documents.select(
        "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    a = toks.select("doc_id", F.col("i").alias("ia"), F.col("tok").alias("w"))
    b = toks.select("doc_id", F.col("i").alias("ib"), F.col("tok").alias("c"))
    pairs = a.join(b, "doc_id").where(
        F.abs(F.col("ia") - F.col("ib")).between(1, 2)
    )
    pc = pairs.groupBy("w", "c").agg(F.count("*").cast("bigint").alias("n_pairs"))
    uni = toks.groupBy("tok").agg(
        F.round(F.pow(F.count("*").cast("double"), F.lit(0.75)) * 1000, 0)
        .cast("bigint")
        .alias("w75")
    )
    wc = Window.orderBy("tok").rowsBetween(Window.unboundedPreceding, -1)
    cdf = uni.select(
        "tok", "w75", F.coalesce(F.sum("w75").over(wc), F.lit(0)).alias("lo")
    )
    tot = uni.agg(F.sum("w75").cast("bigint").alias("big"))
    drawgrid = spark.range(1, 3).select(F.col("id").cast("int").alias("draw"))
    draws = (
        pc.crossJoin(F.broadcast(drawgrid))
        .crossJoin(F.broadcast(tot))
        .select(
            "w", "c", "n_pairs", "draw",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("w"), F.lit(":"), F.col("c"), F.lit(":"),
                                F.col("draw").cast("string"),
                            )
                        ),
                        1, 12,
                    ),
                    16, 10,
                ).cast("bigint")
                % F.col("big")
            ).alias("pos"),
        )
    )
    neg = draws.join(
        F.broadcast(cdf),
        (F.col("pos") >= F.col("lo")) & (F.col("pos") < F.col("lo") + F.col("w75")),
    )
    return (
        neg.groupBy("w", "c", "n_pairs")
        .agg(
            F.max(F.when(F.col("draw") == 1, F.col("tok"))).alias("neg1"),
            F.max(F.when(F.col("draw") == 2, F.col("tok"))).alias("neg2"),
        )
        .orderBy("w", "c")
    )


# ---------- q452: bivariate Mahalanobis outliers (exact 2x2 inverse)

# Multivariate outlier detection on (quantity, price cents): the 2x2
# covariance inverts in closed form, and clearing denominators by n
# turns every centered term into an exact integer (u = n*x - sx,
# v = n*y - sy; scatter c** = n*s** - s*s*, carried in HUGEINT /
# DECIMAL(38,0) — n*sxy ~ 2e20 at sf0.1 passes BIGINT). With those
# exact scatters the closed form is
#   d2 = (cyy*u^2 - 2*cxy*u*v + cxx*v^2) / (cxx*cyy - cxy^2),
# evaluated in DOUBLE from identical operand streams; ranking uses the
# ROUNDED d2 (the CLAUDE rank-by-rounded rule) with VALUE-column
# tiebreaks (lineitem has full duplicate rows).
_MAHA_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT l_orderkey AS okey, l_linenumber AS line,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
    FROM lineitem
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM v
), sc AS MATERIALIZED (
    SELECT n, sx, sy,
           CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS cxx,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cxy,
           CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS cyy
    FROM m
), q AS (
    SELECT okey, line, x, y,
           ROUND((sc.cyy * CAST(sc.n * x - sc.sx AS DOUBLE)
                         * CAST(sc.n * x - sc.sx AS DOUBLE)
                  - 2 * sc.cxy * CAST(sc.n * x - sc.sx AS DOUBLE)
                              * CAST(sc.n * y - sc.sy AS DOUBLE)
                  + sc.cxx * CAST(sc.n * y - sc.sy AS DOUBLE)
                           * CAST(sc.n * y - sc.sy AS DOUBLE))
                 / (sc.cxx * sc.cyy - sc.cxy * sc.cxy), 6) AS d2
    FROM v, sc
)
SELECT okey, line, x, y, d2
FROM q ORDER BY d2 DESC, okey, line, x, y LIMIT 20
"""


@register("q452_mahalanobis_outliers", oracle=_MAHA_ORACLE)
def q452(lineitem):
    """Top-20 bivariate Mahalanobis outliers over exact integer moments
    (oracle comment)."""
    v = lineitem.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
        F.col("l_quantity").cast("bigint").alias("x"),
        cents("l_extendedprice").alias("y"),
    )
    m = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    sc = m.selectExpr(
        "n", "sx", "sy",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        " AS DOUBLE) AS cxx",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
        " AS DOUBLE) AS cxy",
        "CAST(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"
        " AS DOUBLE) AS cyy",
    )
    q = v.crossJoin(F.broadcast(sc)).selectExpr(
        "okey", "line", "x", "y",
        "ROUND((cyy * CAST(n * x - sx AS DOUBLE) * CAST(n * x - sx AS DOUBLE)"
        " - 2 * cxy * CAST(n * x - sx AS DOUBLE) * CAST(n * y - sy AS DOUBLE)"
        " + cxx * CAST(n * y - sy AS DOUBLE) * CAST(n * y - sy AS DOUBLE))"
        " / (cxx * cyy - cxy * cxy), 6) AS d2",
    )
    return (
        q.orderBy(F.desc("d2"), "okey", "line", "x", "y")
        .limit(20)
        .select("okey", "line", "x", "y", "d2")
    )


# ---------- q453: Wald-Wolfowitz runs test on daily revenue

# Randomness check: days are classified above/below the DOUBLED global
# median (2*cents vs m2 — exact integers, ties excluded per the
# textbook test), runs are counted with one LAG over the |days| frame
# (SinglePartition above the daily aggregate — the q270 posture), and
# z = (R - mu)/sigma is the q207 double discipline over exact
# n1/n2/R integers.
_RUNS_ORACLE = _DAILY_CTE + """
, h AS MATERIALIZED (
    SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM daily GROUP BY cents
), cum AS (
    SELECT cents, cnt,
           COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM h
), nn AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h
), med AS (
    SELECT MAX(CASE WHEN (nn.n + 1) // 2 BETWEEN cb + 1 AND cb + cnt
                    THEN cents END)
           + MAX(CASE WHEN (nn.n + 2) // 2 BETWEEN cb + 1 AND cb + cnt
                      THEN cents END) AS m2
    FROM cum, nn
), sgn AS (
    SELECT day, CASE WHEN 2 * cents > med.m2 THEN 1 ELSE 0 END AS up
    FROM daily, med WHERE 2 * cents <> med.m2
), runs AS (
    SELECT up, LAG(up) OVER (ORDER BY day) AS prev FROM sgn
), ag AS (
    SELECT CAST(SUM(up) AS BIGINT) AS n1,
           CAST(COUNT(*) - SUM(up) AS BIGINT) AS n2,
           CAST(1 + COUNT(CASE WHEN prev IS NOT NULL AND up <> prev THEN 1 END)
                AS BIGINT) AS r
    FROM runs
)
SELECT n1, n2, r,
       ROUND((CAST(r AS DOUBLE)
              - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE) + 1.0))
             / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - CAST(n1 + n2 AS DOUBLE))
                    / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                       * CAST(n1 + n2 - 1 AS DOUBLE))), 6) AS z
FROM ag
"""


@register("q453_runs_test", oracle=_RUNS_ORACLE)
def q453(orders):
    """Wald-Wolfowitz runs z over the daily-revenue sign sequence
    (oracle comment)."""
    daily = _daily_cents(orders)
    h = daily.groupBy("cents").agg(F.count("*").cast("bigint").alias("cnt"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = h.select(
        "cents", "cnt", F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).alias("cb")
    )
    nn = h.agg(F.sum("cnt").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(nn))
        .agg(
            (
                F.max(
                    F.when(
                        F.expr("(n + 1) DIV 2").between(
                            F.col("cb") + 1, F.col("cb") + F.col("cnt")
                        ),
                        F.col("cents"),
                    )
                )
                + F.max(
                    F.when(
                        F.expr("(n + 2) DIV 2").between(
                            F.col("cb") + 1, F.col("cb") + F.col("cnt")
                        ),
                        F.col("cents"),
                    )
                )
            ).alias("m2")
        )
    )
    sgn = (
        daily.crossJoin(F.broadcast(med))
        .where(2 * F.col("cents") != F.col("m2"))
        .select(
            "day", F.when(2 * F.col("cents") > F.col("m2"), 1).otherwise(0).alias("up")
        )
    )
    wd = Window.orderBy("day")
    runs = sgn.select("up", F.lag("up").over(wd).alias("prev"))
    ag = runs.agg(
        F.sum("up").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("up")).cast("bigint").alias("n2"),
        (
            1
            + F.count(
                F.when(
                    F.col("prev").isNotNull() & (F.col("up") != F.col("prev")), 1
                )
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    n1m = (F.col("n1") + F.col("n2") - 1).cast("double")
    return ag.select(
        "n1", "n2", "r",
        F.round(
            (
                F.col("r").cast("double")
                - (F.lit(2.0) * n1d * n2d / nd + F.lit(1.0))
            )
            / F.sqrt(
                F.lit(2.0) * n1d * n2d * (F.lit(2.0) * n1d * n2d - nd)
                / (nd * nd * n1m)
            ),
            6,
        ).alias("z"),
    )


# ---------- q454: quantile treatment effects (decile QTE)

# Distributional A/B readout: how much does the order-value
# distribution shift between urgent (rank 1-2) and regular (rank 3-5)
# priorities at EVERY decile, not just the mean? Nearest-rank decile
# picks per group from the value histogram (positions ((n+1)*d) DIV 10
# clamped to [1, n]) keep everything exact integer cents; the QTE is
# the per-decile difference.
_QTE_ORACLE = """
WITH v AS (
    SELECT CASE WHEN CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) <= 2
                THEN 1 ELSE 0 END AS treat,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), h AS MATERIALIZED (
    SELECT treat, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY treat, c
), cum AS MATERIALIZED (
    SELECT treat, c, cnt,
           COALESCE(SUM(cnt) OVER (PARTITION BY treat ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM h
), sz AS MATERIALIZED (
    SELECT treat, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY treat
), grid AS MATERIALIZED (
    SELECT UNNEST(GENERATE_SERIES(1, 9)) AS d
), pick AS MATERIALIZED (
    SELECT grid.d, cum.treat,
           MAX(CASE WHEN GREATEST(LEAST((sz.n + 1) * grid.d // 10, sz.n), 1)
                         BETWEEN cb + 1 AND cb + cnt
                    THEN c END) AS qv
    FROM grid CROSS JOIN cum JOIN sz ON cum.treat = sz.treat
    GROUP BY grid.d, cum.treat
)
SELECT CAST(a.d AS BIGINT) AS decile, a.qv AS v_treat, b.qv AS v_ctrl,
       CAST(a.qv - b.qv AS BIGINT) AS qte_cents
FROM pick a JOIN pick b ON a.d = b.d AND a.treat = 1 AND b.treat = 0
ORDER BY decile
"""


@register("q454_quantile_treatment_effects", oracle=_QTE_ORACLE)
def q454(spark, orders):
    """Per-decile treated-vs-control order-value shift in exact cents
    (oracle comment)."""
    v = orders.select(
        F.when(
            F.substring("o_orderpriority", 1, 1).cast("int") <= 2, 1
        )
        .otherwise(0)
        .alias("treat"),
        cents("o_totalprice").alias("c"),
    )
    # pinned: h feeds the cumulative window AND the group sizes; pick
    # below feeds both decile sides — unpinned, the orders scan+groupBy
    # (and the grid join) each run twice (guide §2.4; before-plan: 9
    # Exchanges)
    h = (
        v.groupBy("treat", "c")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(pin)
    )
    wt = Window.partitionBy("treat").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = h.select(
        "treat", "c", "cnt",
        F.coalesce(F.sum("cnt").over(wt), F.lit(0)).alias("cb"),
    )
    sz = h.groupBy("treat").agg(F.sum("cnt").cast("bigint").alias("n"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    pick = (
        grid.crossJoin(cum.join(sz, "treat"))
        .groupBy("d", "treat")
        .agg(
            F.max(
                F.when(
                    F.greatest(
                        F.least(
                            F.expr("(n + 1) * d DIV 10"), F.col("n")
                        ),
                        F.lit(1).cast("bigint"),
                    ).between(F.col("cb") + 1, F.col("cb") + F.col("cnt")),
                    F.col("c"),
                )
            ).alias("qv")
        )
        .transform(pin)
    )
    a = pick.where(F.col("treat") == 1).select("d", F.col("qv").alias("v_treat"))
    b = pick.where(F.col("treat") == 0).select("d", F.col("qv").alias("v_ctrl"))
    return (
        a.join(b, "d")
        .select(
            F.col("d").cast("bigint").alias("decile"),
            "v_treat", "v_ctrl",
            (F.col("v_treat") - F.col("v_ctrl")).cast("bigint").alias("qte_cents"),
        )
        .orderBy("decile")
    )


# ---------- q455: posting-list compression advisor (Elias-gamma bits)

# Index-engineering economics: for each term's sorted posting list
# (from the q305 inverted-index shape), the delta-gap Elias-gamma cost
# is 2*floor(log2(gap)) + 1 bits per gap — and floor(log2(g)) =
# LEN(BIN(g)) - 1 is EXACT integer arithmetic on both engines (no
# floating log). Gaps come from one LAG partitioned BY TERM (posting
# lists, never corpus volume, sit in a partition); the report compares
# against 32-bit raw postings in round-half-up micro.
_PLIST_ORACLE = f"""
WITH postings AS (
    SELECT tok, doc_id FROM (
        SELECT DISTINCT doc_id, {_TOK_SQL} AS tok FROM documents
    )
), gaps AS (
    SELECT tok,
           doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY tok ORDER BY doc_id),
                             -1) AS gap
    FROM postings
), bits AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(2 * (LEN(BIN(gap)) - 1) + 1) AS BIGINT) AS gamma_bits
    FROM gaps GROUP BY tok
)
SELECT tok, df, gamma_bits, CAST(32 * df AS BIGINT) AS raw_bits,
       CAST((2 * 1000000 * gamma_bits + 32 * df) // (2 * 32 * df) AS BIGINT)
           AS ratio_micro
FROM bits ORDER BY tok
"""


@register("q455_postinglist_compression", oracle=_PLIST_ORACLE)
def q455(documents):
    """Per-term Elias-gamma vs raw posting-list bits (oracle
    comment)."""
    postings = (
        documents.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    wt = Window.partitionBy("tok").orderBy("doc_id")
    gaps = postings.select(
        "tok",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(wt), F.lit(-1))
        ).alias("gap"),
    )
    bits = gaps.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum(2 * (F.length(F.bin("gap")) - 1) + 1).cast("bigint").alias("gamma_bits"),
    )
    return bits.selectExpr(
        "tok", "df", "gamma_bits",
        "CAST(32 * df AS BIGINT) AS raw_bits",
        f"CAST({rhu('1000000 * gamma_bits', '32 * df')} AS BIGINT) AS ratio_micro",
    ).orderBy("tok")


# ---------- q456: Holt-Winters additive smoothing (weekly season)

# The seasonal extension of q308's Holt recurrence: state (level,
# trend, 7 seasonal offsets) in integer MICRO-CENTS, alpha = beta =
# gamma = 1/5, every /5 the q308 positive-shift round-half-up. Init is
# the contract's simple form: l0 = rhu(mean of days 1-7), b0 = 0,
# s_i = x_i*1e6 - l0; forecasts emit from day 8 as f = l + b + s_slot.
# Sequential state cannot parallelize across time: DuckDB steps a
# recursive CTE whose seasonal vector is a LIST column; Spark folds
# ONE applyInPandas group over the |days| aggregate (calendar-bounded
# at every SF). Progressive rounding is the cross-engine contract.
_HW_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), w7 AS MATERIALIZED (
    SELECT rn, cents FROM idx WHERE rn <= 7
), l0 AS MATERIALIZED (
    SELECT CAST((2 * SUM(cents) * 1000000 + 7) // 14 AS BIGINT) AS l FROM w7
), s0 AS (
    SELECT LIST(cents * 1000000 - l0.l ORDER BY rn) AS s FROM w7, l0
), rec AS (
    WITH RECURSIVE r(rn, l, b, s, f) AS (
        SELECT 7, l0.l, CAST(0 AS BIGINT), s0.s, CAST(NULL AS BIGINT)
        FROM l0, s0
        UNION ALL
        SELECT t.rn, t.lnew,
               CAST(((2 * ((t.lnew - t.l + 4 * t.b) + 5000000000000000) + 5)
                     // 10) - 1000000000000000 AS BIGINT),
               t.s[1:t.j - 1]
                   || [CAST(((2 * ((t.x - t.lnew + 4 * t.sold)
                               + 5000000000000000) + 5) // 10)
                        - 1000000000000000 AS BIGINT)]
                   || t.s[t.j + 1:7],
               CAST(t.l + t.b + t.sold AS BIGINT)
        FROM (
            SELECT r.rn + 1 AS rn, r.l, r.b, r.s,
                   ((r.rn) % 7) + 1 AS j,
                   r.s[((r.rn) % 7) + 1] AS sold,
                   i.cents * 1000000 AS x,
                   CAST(((2 * ((i.cents * 1000000 - r.s[((r.rn) % 7) + 1]
                           + 4 * (r.l + r.b)) + 5000000000000000) + 5) // 10)
                        - 1000000000000000 AS BIGINT) AS lnew
            FROM r JOIN idx i ON i.rn = r.rn + 1
        ) t
    )
    SELECT * FROM r
)
SELECT i.day, i.cents,
       CAST(((2 * (rec.f + 1000000000000000) + 1000000) // 2000000)
            - 1000000000 AS BIGINT) AS forecast_cents
FROM rec JOIN idx i ON i.rn = rec.rn
WHERE rec.rn >= 8 ORDER BY i.day
"""


@register("q456_holt_winters", oracle=_HW_ORACLE)
def q456(orders):
    """Holt-Winters additive (m=7) one-step forecasts in exact integer
    micro-cents (oracle comment). Python ints reproduce the
    positive-shift floor-division bit-for-bit — the q308 grouped-map
    lane for sequential state."""
    import pandas as pd

    daily = _daily_cents(orders)

    def hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) < 8:
            return pd.DataFrame(
                {"day": pdf["day"][:0], "cents": pdf["cents"][:0],
                 "forecast_cents": pdf["cents"][:0]}
            )
        B = 5 * 10**15
        cents = [int(c) for c in pdf["cents"]]
        days = list(pdf["day"])
        l = (2 * sum(cents[:7]) * 10**6 + 7) // 14
        b = 0
        s = [c * 10**6 - l for c in cents[:7]]
        out = []
        for t in range(8, len(cents) + 1):
            j = (t - 1) % 7  # 0-based seasonal slot
            sold = s[j]
            x = cents[t - 1] * 10**6
            f = l + b + sold
            lnew = ((2 * ((x - sold + 4 * (l + b)) + B) + 5) // 10) - 10**15
            b = ((2 * ((lnew - l + 4 * b) + B) + 5) // 10) - 10**15
            s[j] = ((2 * ((x - lnew + 4 * sold) + B) + 5) // 10) - 10**15
            l = lnew
            fc = ((2 * (f + 10**15) + 10**6) // (2 * 10**6)) - 10**9
            out.append((days[t - 1], cents[t - 1], fc))
        return pd.DataFrame(out, columns=["day", "cents", "forecast_cents"])

    return (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(hw, "day timestamp_ntz, cents bigint, forecast_cents bigint")
        .orderBy("day")
    )


# ---------- q457: Shapley-value channel attribution

# The game-theoretic member of the q359 attribution family: channels
# {click=1, view=2, signup=4} form coalitions; v(S) counts converters
# whose pre-purchase touched-set is contained in S (the containment
# join is a bitmask test, 8x8 rows). Shapley weights for |C|=3 are the
# exact rationals {2,1,1,2}/6, embedded as an integer literal table
# (q327 recipe) shared by both engines; phi = rhu(1e6 * sum/6) with a
# nonnegative sum (v is monotone). Everything after the per-user
# touched-mask aggregate is vocab-sized.
_SHAP_W = []
for cname, cbit in (("click", 1), ("view", 2), ("signup", 4)):
    for s in range(8):
        if s & cbit:
            continue
        k = bin(s).count("1")
        wnum = {0: 2, 1: 1, 2: 2}[k]
        _SHAP_W.append((cname, s, s | cbit, wnum))
_SHAP_W_SQL = ", ".join(f"('{c}', {a}, {b}, {w})" for c, a, b, w in _SHAP_W)

_SHAP_ORACLE = f"""
WITH fp AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS pts
    FROM events GROUP BY user_id
), conv AS (
    SELECT user_id, pts FROM fp WHERE pts IS NOT NULL
), tch AS (
    SELECT c.user_id,
           CAST(COALESCE(SUM(DISTINCT CASE e.event_type
               WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'signup' THEN 4 END),
               0) AS BIGINT) AS mask
    FROM conv c LEFT JOIN events e
      ON e.user_id = c.user_id AND e.ts < c.pts
         AND e.event_type IN ('click', 'view', 'signup')
    GROUP BY c.user_id
), cm AS (
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt FROM tch GROUP BY mask
), subs AS (
    SELECT UNNEST(GENERATE_SERIES(0, 7)) AS s
), v AS MATERIALIZED (
    SELECT subs.s, CAST(COALESCE(SUM(cm.cnt), 0) AS BIGINT) AS v
    FROM subs LEFT JOIN cm ON (cm.mask & subs.s) = cm.mask GROUP BY subs.s
), w AS (
    SELECT * FROM (VALUES {_SHAP_W_SQL}) AS t(channel, s_wo, s_wi, wnum)
), phi AS (
    SELECT w.channel, CAST(SUM(w.wnum * (va.v - vb.v)) AS BIGINT) AS num6
    FROM w JOIN v va ON va.s = w.s_wi JOIN v vb ON vb.s = w.s_wo
    GROUP BY w.channel
)
SELECT channel, num6,
       CAST((2 * 1000000 * num6 + 6) // 12 AS BIGINT) AS phi_micro
FROM phi ORDER BY channel
"""


@register("q457_shapley_attribution", oracle=_SHAP_ORACLE)
def q457(spark, events):
    """Exact 3-channel Shapley conversion credit (oracle comment)."""
    fp = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("pts")
    )
    conv = fp.where(F.col("pts").isNotNull())
    e = events.where(
        F.col("event_type").isin("click", "view", "signup")
    ).select("user_id", "ts", "event_type")
    tch = (
        conv.join(
            e.withColumnRenamed("user_id", "uid"),
            (F.col("uid") == F.col("user_id")) & (F.col("ts") < F.col("pts")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum_distinct(
                    F.when(F.col("event_type") == "click", 1)
                    .when(F.col("event_type") == "view", 2)
                    .when(F.col("event_type") == "signup", 4)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("mask")
        )
    )
    cm = tch.groupBy("mask").agg(F.count("*").cast("bigint").alias("cnt"))
    subs = spark.range(0, 8).select(F.col("id").cast("bigint").alias("s"))
    v = (
        subs.join(
            F.broadcast(cm),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("v"))
    )
    w = spark.createDataFrame(
        _SHAP_W, "channel STRING, s_wo BIGINT, s_wi BIGINT, wnum BIGINT"
    )
    va = v.select(F.col("s").alias("s_wi"), F.col("v").alias("v_wi"))
    vb = v.select(F.col("s").alias("s_wo"), F.col("v").alias("v_wo"))
    phi = (
        w.join(F.broadcast(va), "s_wi")
        .join(F.broadcast(vb), "s_wo")
        .groupBy("channel")
        .agg(
            F.sum(F.col("wnum") * (F.col("v_wi") - F.col("v_wo")))
            .cast("bigint")
            .alias("num6")
        )
    )
    return phi.selectExpr(
        "channel", "num6",
        "CAST((2 * 1000000 * num6 + 6) DIV 12 AS BIGINT) AS phi_micro",
    ).orderBy("channel")


# ---------- q458: single-frequency spectral power (weekly Goertzel)

# Does daily revenue carry a weekly cycle? DFT power at harmonics
# k = 1..3 of period 7, with the 21 cos/sin values embedded as
# rationally-fixed micro literals (q327/q438 recipe — the ONLY
# transcendentals, frozen as shared text). Each projection is then an
# exact integer dot product over the |days| frame carried in
# HUGEINT/DECIMAL(38,0) (terms reach ~1e15 x 2400 days at sf0.1), and
# the amplitude is the q207 double over the exact cent-scale parts.
_GOERTZEL_LITS = []
import math as _math  # noqa: E402

for _k in range(1, 4):
    for _j in range(7):
        _ang = 2.0 * _math.pi * _k * _j / 7.0
        for _fn, _nm in ((_math.cos, "c"), (_math.sin, "s")):
            _v = _fn(_ang)
            _q = int(_math.floor(abs(_v) * 1000000 + 0.5))
            _GOERTZEL_LITS.append((_k, _j, _nm, _q if _v >= 0 else -_q))
_GZ_ROWS = {}
for _k, _j, _nm, _q in _GOERTZEL_LITS:
    _GZ_ROWS.setdefault((_k, _j), {})[_nm] = _q
_GZ_SQL = ", ".join(
    f"({k}, {j}, {d['c']}, {d['s']})" for (k, j), d in sorted(_GZ_ROWS.items())
)

_GOERTZEL_ORACLE = _DAILY_CTE + f"""
, idx AS (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), lits AS (
    SELECT * FROM (VALUES {_GZ_SQL}) AS t(k, j, c_mi, s_mi)
), proj AS (
    SELECT lits.k,
           CAST(SUM(CAST(idx.cents AS HUGEINT) * lits.c_mi) AS HUGEINT) AS re_mc,
           CAST(SUM(CAST(idx.cents AS HUGEINT) * lits.s_mi) AS HUGEINT) AS im_mc
    FROM idx JOIN lits ON lits.j = (idx.rn - 1) % 7
    GROUP BY lits.k
), cents_scale AS (
    SELECT CAST(k AS BIGINT) AS k,
           CAST(((2 * (re_mc + 1000000000000000000000) + 1000000) // 2000000)
                - 1000000000000000 AS BIGINT) AS re_cents,
           CAST(((2 * (im_mc + 1000000000000000000000) + 1000000) // 2000000)
                - 1000000000000000 AS BIGINT) AS im_cents
    FROM proj
)
SELECT k, re_cents, im_cents,
       ROUND(SQRT(CAST(re_cents AS DOUBLE) * CAST(re_cents AS DOUBLE)
                  + CAST(im_cents AS DOUBLE) * CAST(im_cents AS DOUBLE)), 4)
           AS amplitude
FROM cents_scale ORDER BY k
"""


@register("q458_goertzel_weekly", oracle=_GOERTZEL_ORACLE)
def q458(spark, orders):
    """Weekly-harmonic DFT projections of daily revenue (oracle
    comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day")
    idx = daily.select("cents", F.row_number().over(w).alias("rn"))
    lits = spark.createDataFrame(
        [(k, j, d["c"], d["s"]) for (k, j), d in sorted(_GZ_ROWS.items())],
        "k INT, j INT, c_mi BIGINT, s_mi BIGINT",
    )
    proj = (
        idx.join(F.broadcast(lits), F.expr("j = (rn - 1) % 7"))
        .groupBy("k")
        .agg(
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("c_mi"))
            .cast("decimal(38,0)")
            .alias("re_mc"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("s_mi"))
            .cast("decimal(38,0)")
            .alias("im_mc"),
        )
    )
    sc = proj.selectExpr(
        "CAST(k AS BIGINT) AS k",
        "CAST(((2 * (re_mc + CAST(1000000000000000000000 AS DECIMAL(38,0)))"
        " + 1000000) DIV 2000000) - 1000000000000000 AS BIGINT) AS re_cents",
        "CAST(((2 * (im_mc + CAST(1000000000000000000000 AS DECIMAL(38,0)))"
        " + 1000000) DIV 2000000) - 1000000000000000 AS BIGINT) AS im_cents",
    )
    return sc.select(
        "k", "re_cents", "im_cents",
        F.round(
            F.sqrt(
                F.col("re_cents").cast("double") * F.col("re_cents").cast("double")
                + F.col("im_cents").cast("double") * F.col("im_cents").cast("double")
            ),
            4,
        ).alias("amplitude"),
    ).orderBy("k")


# ---------- q459: leaderboard persistence (top-10 churn across months)

# How sticky is the monthly top-10 parts leaderboard? Rank per month by
# shipped revenue (unique partkey tiebreak), keep rank <= 10 — the
# filter is plan-prunable (WindowGroupLimit pushes the limit map-side,
# the q425 posture) — then profile each part's tenure: months on
# board, first/last month, best rank. Exact integers end-to-end.
_LEADER_ORACLE = """
WITH m AS MATERIALIZED (
    SELECT strftime(l_shipdate, '%Y-%m') AS mon, l_partkey AS part,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS rev
    FROM lineitem GROUP BY mon, part
), r AS (
    SELECT mon, part,
           ROW_NUMBER() OVER (PARTITION BY mon ORDER BY rev DESC, part) AS rn
    FROM m
), top AS (
    SELECT mon, part, rn FROM r WHERE rn <= 10
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS months_on_board,
       MIN(mon) AS first_mon, MAX(mon) AS last_mon,
       CAST(MIN(rn) AS BIGINT) AS best_rank
FROM top GROUP BY part
ORDER BY months_on_board DESC, part
"""


@register("q459_leaderboard_persistence", oracle=_LEADER_ORACLE)
def q459(lineitem):
    """Tenure profile of monthly top-10 revenue parts (oracle
    comment)."""
    m = (
        lineitem.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("mon"),
            F.col("l_partkey").alias("part"),
            cents("l_extendedprice").alias("cents"),
        )
        .groupBy("mon", "part")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    wr = Window.partitionBy("mon").orderBy(F.desc("rev"), "part")
    top = m.withColumn("rn", F.row_number().over(wr)).where(F.col("rn") <= 10)
    return (
        top.groupBy("part")
        .agg(
            F.count("*").cast("bigint").alias("months_on_board"),
            F.min("mon").alias("first_mon"),
            F.max("mon").alias("last_mon"),
            F.min("rn").cast("bigint").alias("best_rank"),
        )
        .orderBy(F.desc("months_on_board"), "part")
    )


# ---------- q460: Little's law audit (L = lambda * W, two machineries)

# Ops-analytics identity check computed two INDEPENDENT ways: the
# time-average concurrency L from a sweep-line integral over user
# presence intervals (+1/-1 boundary walk, piecewise-constant
# concurrency x exact microsecond segment widths — the q205/q208
# machinery), and lambda*W from per-user durations. The two integer
# numerators are equal by Fubini — a method-independence audit (q114
# rule) that catches any boundary-handling bug in either lane. All
# micro divisions are positive round-half-up in HUGEINT/DECIMAL(38,0).
_LITTLE_ORACLE = """
WITH iv AS MATERIALIZED (
    SELECT user_id, EPOCH_US(MIN(ts)) AS a, EPOCH_US(MAX(ts)) AS b
    FROM events GROUP BY user_id
), win AS MATERIALIZED (
    SELECT CAST(MIN(a) AS BIGINT) AS w0, CAST(MAX(b) AS BIGINT) AS w1,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(b - a) AS BIGINT) AS sum_dur
    FROM iv
), bnd AS (
    SELECT a AS t, 1 AS delta FROM iv
    UNION ALL SELECT b, -1 FROM iv
), per_t AS (
    SELECT t, CAST(SUM(delta) AS BIGINT) AS net FROM bnd GROUP BY t
), sw AS (
    SELECT t, SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc,
           LEAD(t) OVER (ORDER BY t) AS nt
    FROM per_t
), integ AS MATERIALIZED (
    SELECT CAST(SUM(conc * (nt - t)) AS BIGINT) AS area
    FROM sw WHERE nt IS NOT NULL
)
SELECT win.n AS n_users, integ.area AS area_us, win.sum_dur AS sum_dur_us,
       CAST((2 * 1000000 * CAST(integ.area AS HUGEINT) + (win.w1 - win.w0))
            // (2 * CAST(win.w1 - win.w0 AS HUGEINT)) AS BIGINT) AS l_sweep_micro,
       CAST((2 * 1000000 * CAST(win.sum_dur AS HUGEINT) + (win.w1 - win.w0))
            // (2 * CAST(win.w1 - win.w0 AS HUGEINT)) AS BIGINT) AS l_lw_micro,
       CAST((2 * 1000000 * CAST(win.n AS HUGEINT) * 86400000000
             + (win.w1 - win.w0))
            // (2 * CAST(win.w1 - win.w0 AS HUGEINT)) AS BIGINT)
           AS lambda_day_micro,
       CAST((2 * 1000000 * CAST(win.sum_dur AS HUGEINT)
             + CAST(win.n AS HUGEINT) * 86400000000)
            // (2 * CAST(win.n AS HUGEINT) * 86400000000) AS BIGINT)
           AS w_days_micro
FROM win, integ
"""


@register("q460_littles_law", oracle=_LITTLE_ORACLE)
def q460(events):
    """Sweep-line L vs lambda*W in exact micro units (oracle
    comment)."""
    iv = events.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("a"),
        F.unix_micros(F.max("ts")).alias("b"),
    )
    win = iv.agg(
        F.min("a").cast("bigint").alias("w0"),
        F.max("b").cast("bigint").alias("w1"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("b") - F.col("a")).cast("bigint").alias("sum_dur"),
    )
    bnd = iv.select(F.col("a").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("b").alias("t"), F.lit(-1).alias("delta"))
    )
    per_t = bnd.groupBy("t").agg(F.sum("delta").cast("bigint").alias("net"))
    wsw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("t")
    sw = per_t.select(
        "t", F.sum("net").over(wsw).alias("conc"), F.lead("t").over(wl).alias("nt")
    )
    integ = sw.where(F.col("nt").isNotNull()).agg(
        F.sum(F.col("conc") * (F.col("nt") - F.col("t")))
        .cast("bigint")
        .alias("area")
    )
    span = "CAST(w1 - w0 AS DECIMAL(38,0))"
    return (
        win.crossJoin(F.broadcast(integ))
        .selectExpr(
            "n AS n_users", "area AS area_us", "sum_dur AS sum_dur_us",
            f"CAST({rhu('1000000 * CAST(area AS DECIMAL(38,0))', span)} AS BIGINT)"
            " AS l_sweep_micro",
            f"CAST({rhu('1000000 * CAST(sum_dur AS DECIMAL(38,0))', span)} AS BIGINT)"
            " AS l_lw_micro",
            f"CAST({rhu('1000000 * CAST(n AS DECIMAL(38,0)) * 86400000000', span)}"
            " AS BIGINT) AS lambda_day_micro",
            "CAST(" + rhu(
                "1000000 * CAST(sum_dur AS DECIMAL(38,0))",
                "CAST(n AS DECIMAL(38,0)) * 86400000000",
            ) + " AS BIGINT) AS w_days_micro",
        )
    )


# ---------- q461: random walk with restart (seeded proximity)

# Personalized proximity on the part co-purchase graph — the SEEDED
# counterpart of q160's global PageRank: three unrolled RWR rounds
# (damping 0.85, restart mass to the seed) in integer micro
# probability, every per-edge transfer one round-half-up division
# (operands positive). Edges are within-order part pairs (quadratic
# only inside an order's item list — bounded fan, the q44 invariant);
# the seed is the min partkey among max-co-degree parts
# (engine-deterministic). Top-20 by (score DESC, part).
_RWR_ORACLE = """
WITH ip AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS MATERIALIZED (
    SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p
    GROUP BY a.p, b.p
), deg AS MATERIALIZED (
    SELECT u, CAST(SUM(w) AS BIGINT) AS dw FROM e GROUP BY u
), seed AS MATERIALIZED (
    SELECT MIN(u) AS s FROM deg
    WHERE dw = (SELECT MAX(dw) FROM deg)
), p0 AS MATERIALIZED (
    SELECT deg.u AS v, CASE WHEN deg.u = seed.s THEN 1000000 ELSE 0 END AS p
    FROM deg, seed
), p1 AS MATERIALIZED (
    SELECT e.v,
           CAST(SUM((2 * 85 * p0.p * e.w + 100 * deg.dw) // (2 * 100 * deg.dw))
                AS BIGINT)
           + MAX(CASE WHEN e.v = seed.s THEN 150000 ELSE 0 END) AS p
    FROM e JOIN p0 ON p0.v = e.u JOIN deg ON deg.u = e.u, seed
    GROUP BY e.v, seed.s
), p2 AS MATERIALIZED (
    SELECT e.v,
           CAST(SUM((2 * 85 * p1.p * e.w + 100 * deg.dw) // (2 * 100 * deg.dw))
                AS BIGINT)
           + MAX(CASE WHEN e.v = seed.s THEN 150000 ELSE 0 END) AS p
    FROM e JOIN p1 ON p1.v = e.u JOIN deg ON deg.u = e.u, seed
    GROUP BY e.v, seed.s
), p3 AS (
    SELECT e.v,
           CAST(SUM((2 * 85 * p2.p * e.w + 100 * deg.dw) // (2 * 100 * deg.dw))
                AS BIGINT)
           + MAX(CASE WHEN e.v = seed.s THEN 150000 ELSE 0 END) AS p
    FROM e JOIN p2 ON p2.v = e.u JOIN deg ON deg.u = e.u, seed
    GROUP BY e.v, seed.s
)
SELECT v AS part, p AS score_micro
FROM p3 ORDER BY score_micro DESC, part LIMIT 20
"""


@register("q461_rwr_proximity", oracle=_RWR_ORACLE)
def q461(lineitem):
    """Three-round seeded RWR scores in integer micro (oracle
    comment)."""
    # Directed co-purchase edges with order counts, derived the q299
    # way: ONE map-side-combined collect_set per order (dedupes repeat
    # partkeys exactly like the former DISTINCT) + codegen pair
    # expansion, then one (u, v) count — 2 shuffles vs the 3 of the
    # former distinct -> self-join -> groupBy (the join shuffle is
    # gone; the r10 decade measurement put q461's cost in exactly this
    # derivation). Per-order part lists are <= 7 items.
    pairs = (
        lineitem.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps,"
                    " x -> transform(filter(ps, y -> y != x),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("pr")
        )
        .select(F.col("pr.u").alias("u"), F.col("pr.v").alias("v"))
    )
    e = pairs.groupBy("u", "v").agg(F.count("*").cast("bigint").alias("w"))
    # ONE materialization barrier for the whole query (r12: the r11
    # shape held FIVE — edge frame, p0, and one per walk round — and on
    # a ~10 s query the checkpoint jobs dominated: every same-day sf0.1
    # measurement sat at 6-12 s vs r10's 4 s). The |E|-sized edge frame
    # is the only thing every round re-scans, so it alone is
    # checkpointed; deg/seed/p0 derive from it lazily (agg over the
    # in-memory blocks, not a re-run of the pair expansion), and the
    # walk rounds stay LAZY: each round broadcasts the |V|-sized
    # (score, degree) vector into the stationary edge frame — the
    # nested broadcast builds execute as small sub-jobs inside the one
    # final action, with no per-round shuffle of |E| rows and no
    # per-round checkpoint barrier.
    e = pin(e)
    deg = e.groupBy("u").agg(F.sum("w").cast("bigint").alias("dw"))
    seed = (
        deg.agg(F.max("dw").alias("mx"))
        .crossJoin(deg)
        .where(F.col("dw") == F.col("mx"))
        .agg(F.min("u").alias("s"))
    )
    # (u, p, dw, s): the complete per-round broadcast state — score AND
    # out-degree ride the same small build, so a round is exactly one
    # broadcast-hash join against the checkpointed edges.
    p = (
        deg.crossJoin(F.broadcast(seed))
        .select(
            "u",
            F.when(F.col("u") == F.col("s"), 1000000).otherwise(0).alias("p"),
            "dw",
            "s",
        )
    )
    for _ in range(3):
        p = (
            e.join(F.broadcast(p), "u")
            .groupBy("v", "s")
            .agg(
                (
                    F.sum(
                        F.expr(rhu("85 * p * w", "100 * dw"))
                    )
                    + F.max(F.when(F.col("v") == F.col("s"), 150000).otherwise(0))
                )
                .cast("bigint")
                .alias("p")
            )
            .select(F.col("v").alias("u"), "p", "s")
            # re-attach degrees for the next round's broadcast state;
            # deg is itself a lazy agg over the checkpointed edges
            .join(deg, "u")
        )
    return (
        p.select(F.col("u").alias("part"), F.col("p").alias("score_micro"))
        .orderBy(F.desc("score_micro"), "part")
        .limit(20)
    )


# ---------- q462: rolling exact p95 (trailing 7 days, histogram merge)

# SRE-style rolling tail monitoring done EXACTLY at scale: per-day
# order-value histograms are the mergeable state; each day's trailing
# window is the sum of <=7 tiny histograms (day -> target-day explode
# over a 0..6 offset grid — work is histogram cells x 7, never orders
# x 7), and the p95 is the nearest-rank pick pos = ceil(0.95 n) from
# the merged cumulative frame. Only days with a full 7-day history
# report.
_ROLLP_ORACLE = """
WITH h AS MATERIALIZED (
    SELECT o_orderdate AS day,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY day, c
), lim AS MATERIALIZED (
    SELECT MIN(day) AS d0 FROM h
), sh AS (
    SELECT h.day + TO_DAYS(CAST(g.o AS INT)) AS tday, h.c, h.cnt
    FROM h, (SELECT UNNEST(GENERATE_SERIES(0, 6)) AS o) g
), m AS MATERIALIZED (
    SELECT tday, c, CAST(SUM(cnt) AS BIGINT) AS cnt FROM sh GROUP BY tday, c
), valid AS MATERIALIZED (
    SELECT m.* FROM m, lim
    WHERE m.tday >= lim.d0 + TO_DAYS(6)
      AND m.tday <= (SELECT MAX(day) FROM h)
), cum AS MATERIALIZED (
    SELECT tday, c, cnt,
           COALESCE(SUM(cnt) OVER (PARTITION BY tday ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM valid
), nn AS MATERIALIZED (
    SELECT tday, CAST(SUM(cnt) AS BIGINT) AS n FROM valid GROUP BY tday
)
SELECT cum.tday AS day, nn.n,
       MAX(CASE WHEN (95 * nn.n + 99) // 100 BETWEEN cb + 1 AND cb + cnt
                THEN c END) AS p95_cents
FROM cum JOIN nn ON cum.tday = nn.tday
GROUP BY cum.tday, nn.n ORDER BY day
"""


@register("q462_rolling_p95", oracle=_ROLLP_ORACLE)
def q462(spark, orders):
    """Exact trailing-7-day p95 via mergeable day histograms (oracle
    comment)."""
    h = (
        orders.select(
            F.col("o_orderdate").alias("day"),
            cents("o_totalprice").alias("c"),
        )
        .groupBy("day", "c")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    lim = h.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    g = spark.range(0, 7).select(F.col("id").cast("int").alias("o"))
    sh = (
        h.crossJoin(F.broadcast(g))
        .select(
            F.expr("day + make_interval(0, 0, 0, o)").alias("tday"), "c", "cnt"
        )
    )
    m = sh.groupBy("tday", "c").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    valid = (
        m.crossJoin(F.broadcast(lim))
        .where(
            (F.col("tday") >= F.expr("d0 + make_interval(0, 0, 0, 6)"))
            & (F.col("tday") <= F.col("d1"))
        )
        .select("tday", "c", "cnt")
    )
    wt = Window.partitionBy("tday").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # n as a whole-partition window sum on the SAME tday partitioning:
    # the former nn groupBy + join re-ran the h -> explode -> merge
    # subtree a second time (guide §2.4); the window column adds no
    # exchange and no join
    cum = valid.select(
        "tday", "c", "cnt",
        F.coalesce(F.sum("cnt").over(wt), F.lit(0)).alias("cb"),
        F.sum("cnt").over(Window.partitionBy("tday")).cast("bigint").alias("n"),
    )
    return (
        cum.groupBy(F.col("tday").alias("day"), "n")
        .agg(
            F.max(
                F.when(
                    F.expr("(95 * n + 99) DIV 100").between(
                        F.col("cb") + 1, F.col("cb") + F.col("cnt")
                    ),
                    F.col("c"),
                )
            ).alias("p95_cents")
        )
        .orderBy("day")
    )


# ---------- q463: cohort LTV accumulation curve

# Lifetime-value readout beside q182's retention cohorts: customers
# grouped by FIRST-order month, cumulative revenue per cohort at ages
# 0..5 months. The age arithmetic runs on integer month indexes
# (yyyy*12 + mm — no date subtraction ambiguity), sums are exact
# cents, and the accumulation is one ordered window per cohort over
# the (cohort, age) aggregate frame.
_LTV_ORACLE = """
WITH fo AS MATERIALIZED (
    SELECT o_custkey AS cust,
           MIN(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)) AS m0
    FROM orders GROUP BY cust
), rev AS MATERIALIZED (
    SELECT fo.m0,
           (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate)) - fo.m0 AS age,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN fo ON o.o_custkey = fo.cust
    WHERE (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate)) - fo.m0 <= 5
    GROUP BY fo.m0, age
), sz AS MATERIALIZED (
    SELECT m0, CAST(COUNT(*) AS BIGINT) AS n_cust FROM fo GROUP BY m0
)
SELECT CAST(rev.m0 AS BIGINT) AS cohort_month, sz.n_cust,
       CAST(rev.age AS BIGINT) AS age,
       CAST(SUM(rev.cents) OVER (PARTITION BY rev.m0 ORDER BY rev.age
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
FROM rev JOIN sz ON rev.m0 = sz.m0
ORDER BY cohort_month, age
"""


@register("q463_cohort_ltv", oracle=_LTV_ORACLE)
def q463(orders):
    """Cumulative cohort revenue by month age 0..5 (oracle comment)."""
    mi = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    fo = orders.groupBy(F.col("o_custkey").alias("cust")).agg(F.min(mi).alias("m0"))
    rev = (
        orders.join(fo, F.col("o_custkey") == F.col("cust"))
        .select(
            "m0",
            (mi - F.col("m0")).alias("age"),
            cents("o_totalprice").alias("cents"),
        )
        .where(F.col("age") <= 5)
        .groupBy("m0", "age")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    sz = fo.groupBy("m0").agg(F.count("*").cast("bigint").alias("n_cust"))
    wc = Window.partitionBy("m0").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(sz, "m0")
        .select(
            F.col("m0").cast("bigint").alias("cohort_month"),
            "n_cust",
            F.col("age").cast("bigint").alias("age"),
            F.sum("cents").over(wc).cast("bigint").alias("cum_cents"),
        )
        .orderBy("cohort_month", "age")
    )


# ---------- q464: Freedman-Diaconis histogram binning

# Principled bin-width selection for the distribution profiler
# (q121/q176 kin): width = 2*IQR/n^(1/3), with the quartiles exact
# nearest-rank histogram picks, the cube root the ONE rounded
# transcendental (micro), and the width a round-half-up integer in
# cents. The resulting histogram bins by integer DIV — edges
# engine-exact by construction.
_FD_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), h AS MATERIALIZED (
    SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY c
), cum AS (
    SELECT c, cnt,
           COALESCE(SUM(cnt) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM h
), nn AS MATERIALIZED (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(MIN(c) AS BIGINT) AS cmin
    FROM h
), qr AS (
    SELECT MAX(CASE WHEN (25 * nn.n + 99) // 100 BETWEEN cb + 1 AND cb + cnt
                    THEN c END) AS q1,
           MAX(CASE WHEN (75 * nn.n + 99) // 100 BETWEEN cb + 1 AND cb + cnt
                    THEN c END) AS q3
    FROM cum, nn
), w AS MATERIALIZED (
    SELECT CAST((2 * 2 * (q3 - q1) * 1000000
                 + CAST(ROUND(POWER(CAST(nn.n AS DOUBLE), CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE)) * 1000000, 0)
                        AS BIGINT))
                // (2 * CAST(ROUND(POWER(CAST(nn.n AS DOUBLE), CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))
                                   * 1000000, 0) AS BIGINT))
           AS BIGINT) AS width
    FROM qr, nn
)
SELECT CAST((v.c - nn.cmin) // w.width AS BIGINT) AS bin,
       CAST(nn.cmin + ((v.c - nn.cmin) // w.width) * w.width AS BIGINT) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       w.width AS width_cents
FROM v, nn, w
GROUP BY bin, bin_lo, w.width ORDER BY bin
"""


@register("q464_fd_binning", oracle=_FD_ORACLE)
def q464(orders):
    """Freedman-Diaconis-width histogram with exact integer edges
    (oracle comment)."""
    v = orders.select(
        cents("o_totalprice").alias("c")
    )
    h = v.groupBy("c").agg(F.count("*").cast("bigint").alias("cnt"))
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = h.select(
        "c", "cnt", F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).alias("cb")
    )
    nn = v.agg(
        F.count("*").cast("bigint").alias("n"), F.min("c").cast("bigint").alias("cmin")
    )
    qr = (
        cum.crossJoin(F.broadcast(nn))
        .agg(
            F.max(
                F.when(
                    F.expr("(25 * n + 99) DIV 100").between(
                        F.col("cb") + 1, F.col("cb") + F.col("cnt")
                    ),
                    F.col("c"),
                )
            ).alias("q1"),
            F.max(
                F.when(
                    F.expr("(75 * n + 99) DIV 100").between(
                        F.col("cb") + 1, F.col("cb") + F.col("cnt")
                    ),
                    F.col("c"),
                )
            ).alias("q3"),
        )
    )
    w = qr.crossJoin(F.broadcast(nn)).selectExpr(
        "CAST(" + rhu(
            "2 * (q3 - q1) * 1000000",
            "CAST(ROUND(POWER(CAST(n AS DOUBLE), CAST(1 AS DOUBLE) / CAST(3"
            " AS DOUBLE)) * 1000000, 0) AS BIGINT)",
        ) + " AS BIGINT) AS width"
    )
    return (
        v.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(w))
        .selectExpr(
            "CAST((c - cmin) DIV width AS BIGINT) AS bin",
            "CAST(cmin + ((c - cmin) DIV width) * width AS BIGINT) AS bin_lo",
            "width AS width_cents",
        )
        .groupBy("bin", "bin_lo", "width_cents")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select("bin", "bin_lo", "cnt", "width_cents")
        .orderBy("bin")
    )


# ---------- q465: join-strategy hint parity (broadcast / merge / hash)

# Physical-strategy independence audit: the SAME customer x orders
# aggregate through three hinted join strategies (BROADCAST,
# SHUFFLE_MERGE, SHUFFLE_HASH) must agree cell-for-cell — method
# independence at the PLAN level (q114's rule applied to join
# algorithms; the hint surface itself is the API under test). The
# oracle replays one join three times with lane literals.
_HINTS_ORACLE = """
WITH j AS MATERIALIZED (
    SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY segment
)
SELECT lane, segment, n_orders, rev_cents FROM (
    SELECT 'broadcast' AS lane, * FROM j
    UNION ALL SELECT 'merge', * FROM j
    UNION ALL SELECT 'shuffle_hash', * FROM j
) ORDER BY lane, segment
"""


@register("q465_join_hint_parity", oracle=_HINTS_ORACLE)
def q465(orders, customer):
    """Identical aggregate through three hinted join strategies (oracle
    comment)."""
    o = orders.select(
        "o_custkey",
        cents("o_totalprice").alias("cents"),
    )
    c = customer.select("c_custkey", "c_mktsegment")

    def lane(name, hint):
        return (
            o.join(c.hint(hint), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("rev_cents"),
            )
            .select(F.lit(name).alias("lane"), "segment", "n_orders", "rev_cents")
        )

    return (
        lane("broadcast", "BROADCAST")
        .unionAll(lane("merge", "SHUFFLE_MERGE"))
        .unionAll(lane("shuffle_hash", "SHUFFLE_HASH"))
        .orderBy("lane", "segment")
    )


# ---------- q466: offline bandit policy replay (counterfactual eval)

# Offline policy evaluation by the replay method (Li et al. 2011): the
# logged "randomized" arm is md5(event_id) % 3 (deterministic stand-in
# for a uniform logger), the target policy is greedy on first-20-days
# CTR per 6-hour context (argmax by rhu micro CTR, lowest arm on
# ties), and the estimate averages rewards over eval-window events
# where the logged arm HAPPENS to match the policy — the unbiased
# subset under uniform logging. Exact integers end-to-end.
_REPLAY_ORACLE = """
WITH base AS MATERIALIZED (
    SELECT ('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 3
               AS arm,
           HOUR(ts) // 6 AS ctx,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS reward,
           CAST(ts AS DATE) < DATE '2024-01-21' AS is_train
    FROM events
), train AS (
    SELECT ctx, arm, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(reward) AS BIGINT) AS conv
    FROM base WHERE is_train GROUP BY ctx, arm
), scored AS (
    SELECT ctx, arm, (2 * 1000000 * conv + n) // (2 * n) AS ctr_mi,
           ROW_NUMBER() OVER (PARTITION BY ctx
               ORDER BY (2 * 1000000 * conv + n) // (2 * n) DESC, arm) AS rn
    FROM train
), policy AS MATERIALIZED (
    SELECT ctx, arm AS best_arm, ctr_mi AS train_ctr_mi FROM scored WHERE rn = 1
), eval_m AS (
    SELECT b.ctx, CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(b.reward) AS BIGINT) AS r
    FROM base b JOIN policy p ON b.ctx = p.ctx AND b.arm = p.best_arm
    WHERE NOT b.is_train GROUP BY b.ctx
)
SELECT CAST(p.ctx AS BIGINT) AS ctx, p.best_arm, p.train_ctr_mi,
       e.n_matched,
       CAST((2 * 1000000 * e.r + e.n_matched) // (2 * e.n_matched) AS BIGINT)
           AS replay_reward_micro
FROM policy p JOIN eval_m e ON p.ctx = e.ctx ORDER BY ctx
"""


@register("q466_bandit_replay", oracle=_REPLAY_ORACLE)
def q466(events):
    """Replay estimate of the greedy policy per context (oracle
    comment)."""
    base = events.select(
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 3
        ).alias("arm"),
        F.expr("hour(ts) DIV 6").alias("ctx"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("reward"),
        (F.col("ts").cast("date") < F.lit("2024-01-21").cast("date")).alias(
            "is_train"
        ),
    )
    train = (
        base.where("is_train")
        .groupBy("ctx", "arm")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("reward").cast("bigint").alias("conv"),
        )
    )
    scored = train.selectExpr(
        "ctx", "arm", f"{rhu('1000000 * conv', 'n')} AS ctr_mi"
    )
    wr = Window.partitionBy("ctx").orderBy(F.desc("ctr_mi"), "arm")
    policy = (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("ctx", F.col("arm").alias("best_arm"), F.col("ctr_mi").alias("train_ctr_mi"))
    )
    pol2 = policy.select(
        F.col("ctx").alias("pctx"), F.col("best_arm").alias("parm")
    )
    ev_m = (
        base.where(~F.col("is_train"))
        .join(
            F.broadcast(pol2),
            (F.col("ctx") == F.col("pctx")) & (F.col("arm") == F.col("parm")),
        )
        .groupBy("ctx")
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.sum("reward").cast("bigint").alias("r"),
        )
    )
    return (
        policy.join(ev_m, "ctx")
        .selectExpr(
            "CAST(ctx AS BIGINT) AS ctx", "best_arm", "train_ctr_mi", "n_matched",
            f"CAST({rhu('1000000 * r', 'n_matched')} AS BIGINT) AS replay_reward_micro",
        )
        .orderBy("ctx")
    )


# ---------- q467: funnel stage-drop significance (two-proportion z)

# Does the funnel leak more at click->purchase than at view->click?
# Stage sets chain STRICTLY later per user (the q128 discipline:
# t_view < t_click < t_purchase via conditional min-ts joins), the two
# conversion proportions get the pooled two-proportion z in the q207
# double form over exact counts; the z is NULL (identically on both
# engines) when the pooled rate is degenerate 0/1 — true at sf0.001,
# where every viewer converts.
_FUNNEL_Z_ORACLE = """
WITH v1 AS MATERIALIZED (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), v2 AS MATERIALIZED (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v1 ON e.user_id = v1.user_id AND e.ts > v1.t1
    WHERE e.event_type = 'click' GROUP BY e.user_id
), v3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN v2 ON e.user_id = v2.user_id AND e.ts > v2.t2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
), c AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS n1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS n2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v3) AS n3
)
SELECT n1, n2, n3,
       CAST((2 * 1000000 * n2 + n1) // (2 * n1) AS BIGINT) AS r12_micro,
       CAST((2 * 1000000 * n3 + n2) // (2 * n2) AS BIGINT) AS r23_micro,
       CASE WHEN n2 + n3 > 0 AND n2 + n3 < n1 + n2 THEN
       ROUND((CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / SQRT((CAST(n2 + n3 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                    * (1 - CAST(n2 + n3 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))),
             6) END AS z
FROM c
"""


@register("q467_funnel_significance", oracle=_FUNNEL_Z_ORACLE)
def q467(events):
    """Pooled two-proportion z between consecutive funnel drops (oracle
    comment)."""
    v1 = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v2 = (
        events.where(F.col("event_type") == "click")
        .join(v1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    v3 = (
        events.where(F.col("event_type") == "purchase")
        .join(v2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c = (
        v1.agg(F.count("*").cast("bigint").alias("n1"))
        .crossJoin(v2.agg(F.count("*").cast("bigint").alias("n2")))
        .crossJoin(v3.agg(F.count("*").cast("bigint").alias("n3")))
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    n3d = F.col("n3").cast("double")
    pool = (F.col("n2") + F.col("n3")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    return c.select(
        "n1", "n2", "n3",
        F.expr(f"CAST({rhu('1000000 * n2', 'n1')} AS BIGINT)").alias(
            "r12_micro"
        ),
        F.expr(f"CAST({rhu('1000000 * n3', 'n2')} AS BIGINT)").alias(
            "r23_micro"
        ),
        F.when(
            (F.col("n2") + F.col("n3") > 0)
            & (F.col("n2") + F.col("n3") < F.col("n1") + F.col("n2")),
            F.round(
                (n2d / n1d - n3d / n2d)
                / F.sqrt(
                    pool * (1 - pool) * (F.lit(1.0) / n1d + F.lit(1.0) / n2d)
                ),
                6,
            ),
        ).alias("z"),
    )


# ---------- q468: Arrow-optimized Python UDF (third ladder rung)

# Spark 4's useArrow=True scalar UDF — the middle rung between q57's
# row-at-a-time pickle path and q55/q171's pandas_udf: same Python
# function semantics, Arrow-batched transport. md5-exact so the rung
# stays hash-checkable; kept on a slice (Python is still the slow path
# by design — the JVM twin is the recommended form).
@register(
    "q468_arrow_python_udf",
    oracle="""
    SELECT event_id,
           ('0x' || SUBSTR(MD5(event_type || '#' || CAST(event_id AS VARCHAR)),
                           1, 7))::BIGINT AS tag_hash
    FROM events WHERE event_id % 20 = 0 ORDER BY event_id
    """,
)
def q468(events):
    """Arrow-optimized scalar Python UDF, md5-exact (oracle comment)."""
    import hashlib

    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def tag_hash(etype: str, eid: int) -> int:
        return int(hashlib.md5(f"{etype}#{eid}".encode()).hexdigest()[:7], 16)

    return (
        events.where(F.col("event_id") % 20 == 0)
        .select("event_id", tag_hash("event_type", "event_id").alias("tag_hash"))
        .orderBy("event_id")
    )


# ---------- q469: Kolmogorov-Zurbenko filter KZ(5,3) on daily revenue

# Iterated moving-average smoother — three passes of a centered MA-5
# whose window SHRINKS at the series edges (the textbook KZ boundary
# rule), each pass one round-half-up integer division over the frame
# count (operands positive). Three ordered windows over the |days|
# frame; progressive rounding is the contract (q456 rule, window form).
_KZ_ORACLE = _DAILY_CTE + """
, p1 AS (
    SELECT day, cents,
           (2 * SUM(cents) OVER w + COUNT(*) OVER w) // (2 * COUNT(*) OVER w)
               AS k1
    FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
), p2 AS (
    SELECT day, cents,
           (2 * SUM(k1) OVER w + COUNT(*) OVER w) // (2 * COUNT(*) OVER w) AS k2
    FROM p1 WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
SELECT day, cents,
       CAST((2 * SUM(k2) OVER w + COUNT(*) OVER w) // (2 * COUNT(*) OVER w)
            AS BIGINT) AS kz_cents
FROM p2 WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
ORDER BY day
"""


@register("q469_kz_filter", oracle=_KZ_ORACLE)
def q469(orders):
    """KZ(5,3) smoothed daily revenue in exact integer cents (oracle
    comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day").rowsBetween(-2, 2)

    def ma(col):
        return F.expr(f"{rhu(f'swin_{col}', f'cwin_{col}')}")

    p1 = daily.select(
        "day", "cents",
        F.sum("cents").over(w).alias("swin_k1"),
        F.count("*").over(w).alias("cwin_k1"),
    ).select("day", "cents", ma("k1").alias("k1"))
    p2 = p1.select(
        "day", "cents",
        F.sum("k1").over(w).alias("swin_k2"),
        F.count("*").over(w).alias("cwin_k2"),
    ).select("day", "cents", ma("k2").alias("k2"))
    return (
        p2.select(
            "day", "cents",
            F.sum("k2").over(w).alias("swin_k3"),
            F.count("*").over(w).alias("cwin_k3"),
        )
        .select("day", "cents", ma("k3").cast("bigint").alias("kz_cents"))
        .orderBy("day")
    )


# ---------- q470: fixed-effects (within) slope, discount -> quantity

# Panel econometrics rung beside q346's grouped OLS: the n-weighted
# within estimator demeans by ENTITY (part) — per-part scatter terms
# A_i = n_i*Sxy - Sx*Sy and B_i = n_i*Sxx - Sx^2 are exact integers,
# and slope = sum(A)/sum(B) is ONE signed round-half-up micro division
# (positive-shift; denominator positive unless every part has constant
# discount). Cross-part level differences cancel by construction.
_FE_ORACLE = """
WITH v AS (
    SELECT l_partkey AS e,
           CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem
), per AS (
    SELECT e, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM v GROUP BY e
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(n * sxy - sx * sy) AS BIGINT) AS sum_a,
           CAST(SUM(n * sxx - sx * sx) AS BIGINT) AS sum_b
    FROM per
)
SELECT n_entities, sum_a, sum_b,
       CAST(((2 * (1000000 * sum_a + 1000000000 * sum_b)) + sum_b)
            // (2 * sum_b) - 1000000000 AS BIGINT) AS slope_micro
FROM tot
"""


@register("q470_fixed_effects_slope", oracle=_FE_ORACLE)
def q470(lineitem):
    """n-weighted within-estimator slope in signed micro units (oracle
    comment)."""
    v = lineitem.select(
        F.col("l_partkey").alias("e"),
        cents("l_discount").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    per = v.groupBy("e").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("sum_a"),
        F.sum(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("sum_b"),
    )
    return tot.selectExpr(
        "n_entities", "sum_a", "sum_b",
        f"CAST({rhu('(1000000 * sum_a + 1000000000 * sum_b)', 'sum_b')}"
        " - 1000000000 AS BIGINT) AS slope_micro",
    )


# ---------- q471: 1-D Wasserstein distance (earth mover's, exact)

# Distribution-shift metric with units (cents), complementing the
# unitless KS (q257) / JS (q370) / PSI (q372) family: W1 between the
# URGENT and LOW order-value distributions = integral |F_a - F_b| over
# the merged value grid. Riding the common denominator n_a*n_b keeps
# every term exact integer (|cum_a*n_b - cum_b*n_a| * gap), summed in
# HUGEINT/DECIMAL(38,0) (reaches ~1e22 micro at sf0.1), one final
# round-half-up micro division.
_W1_ORACLE = """
WITH v AS (
    SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS g,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), h AS MATERIALIZED (
    SELECT c, CAST(COUNT(CASE WHEN g = 'a' THEN 1 END) AS BIGINT) AS ca,
           CAST(COUNT(CASE WHEN g = 'b' THEN 1 END) AS BIGINT) AS cb
    FROM v GROUP BY c
), nn AS MATERIALIZED (
    SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM h
), cum AS (
    SELECT c,
           SUM(ca) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS fa,
           SUM(cb) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS fb,
           LEAD(c) OVER (ORDER BY c) AS nc
    FROM h
), terms AS MATERIALIZED (
    SELECT CAST(SUM(CAST(ABS(fa * nn.nb - fb * nn.na) AS HUGEINT) * (nc - c))
                AS HUGEINT) AS s
    FROM cum, nn WHERE nc IS NOT NULL
)
SELECT nn.na, nn.nb,
       CAST((2 * 1000000 * terms.s + CAST(nn.na AS HUGEINT) * nn.nb)
            // (2 * CAST(nn.na AS HUGEINT) * nn.nb) AS BIGINT)
           AS w1_cents_micro
FROM terms, nn
"""


@register("q471_wasserstein_1d", oracle=_W1_ORACLE)
def q471(orders):
    """Exact W1 between urgent and low order-value distributions
    (oracle comment)."""
    v = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a").otherwise("b").alias("g"),
        cents("o_totalprice").alias("c"),
    )
    h = v.groupBy("c").agg(
        F.count(F.when(F.col("g") == "a", 1)).cast("bigint").alias("ca"),
        F.count(F.when(F.col("g") == "b", 1)).cast("bigint").alias("cb"),
    )
    nn = h.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("c")
    cum = h.select(
        "c",
        F.sum("ca").over(wc).alias("fa"),
        F.sum("cb").over(wc).alias("fb"),
        F.lead("c").over(wl).alias("nc"),
    )
    terms = (
        cum.crossJoin(F.broadcast(nn))
        .where(F.col("nc").isNotNull())
        .agg(
            F.sum(
                F.abs(
                    F.col("fa").cast("decimal(38,0)") * F.col("nb")
                    - F.col("fb").cast("decimal(38,0)") * F.col("na")
                )
                * (F.col("nc") - F.col("c"))
            )
            .cast("decimal(38,0)")
            .alias("s")
        )
    )
    return terms.crossJoin(F.broadcast(nn)).selectExpr(
        "na", "nb",
        f"CAST({rhu('1000000 * s', 'CAST(na AS DECIMAL(38,0)) * nb')} AS BIGINT)"
        " AS w1_cents_micro",
    )


# ---------- q472: KDE mode via triangular kernel (top-5 density cells)

# Robust mode estimation for the value distribution: $10 cells, a
# discrete triangular kernel of half-width 5 (weights 6-|d| — exact
# integer smoothing, no floating kernel), top-5 cells by smoothed
# score with lowest-cell tiebreak. The kernel pass is the q462 shift-
# explode: work = cells x 11, never rows x 11.
_KDE_ORACLE = """
WITH v AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000
               AS cell
    FROM orders
), h AS MATERIALIZED (
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY cell
), sh AS (
    SELECT h.cell + g.o AS tcell, (6 - ABS(g.o)) * h.cnt AS wcnt
    FROM h, (SELECT UNNEST(GENERATE_SERIES(-5, 5)) AS o) g
), sc AS (
    SELECT tcell, CAST(SUM(wcnt) AS BIGINT) AS score FROM sh GROUP BY tcell
)
SELECT CAST(tcell AS BIGINT) AS cell, CAST(tcell * 1000 AS BIGINT) AS cell_lo_cents,
       score
FROM sc ORDER BY score DESC, cell LIMIT 5
"""


@register("q472_kde_mode", oracle=_KDE_ORACLE)
def q472(spark, orders):
    """Top-5 triangular-kernel density cells (oracle comment)."""
    v = orders.select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 1000"
        ).alias("cell")
    )
    h = v.groupBy("cell").agg(F.count("*").cast("bigint").alias("cnt"))
    g = spark.range(-5, 6).select(F.col("id").cast("int").alias("o"))
    sh = h.crossJoin(F.broadcast(g)).select(
        (F.col("cell") + F.col("o")).alias("tcell"),
        ((6 - F.abs(F.col("o"))) * F.col("cnt")).alias("wcnt"),
    )
    sc = sh.groupBy("tcell").agg(F.sum("wcnt").cast("bigint").alias("score"))
    return (
        sc.select(
            F.col("tcell").cast("bigint").alias("cell"),
            (F.col("tcell") * 1000).cast("bigint").alias("cell_lo_cents"),
            "score",
        )
        .orderBy(F.desc("score"), "cell")
        .limit(5)
    )


# ---------- q473: JSON property-bag analytics (props.k per event type)

# The one raw column no query had touched: events.props is a JSON
# string bag; k is extracted with each engine's native JSON path
# (get_json_object / json_extract — same scalar), then profiled per
# event type: n, exact round-half-up mean micro, and the exact doubled
# median from the q434 histogram machinery.
_PROPS_ORACLE = """
WITH v AS (
    SELECT event_type AS grp,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k
    FROM events WHERE props IS NOT NULL
), h AS MATERIALIZED (
    SELECT grp, k, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY grp, k
), cum AS MATERIALIZED (
    SELECT grp, k, cnt,
           COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM h
), ag AS MATERIALIZED (
    SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(k * cnt) AS BIGINT) AS s
    FROM h GROUP BY grp
), med AS MATERIALIZED (
    SELECT cum.grp,
           MAX(CASE WHEN (ag.n + 1) // 2 BETWEEN cb + 1 AND cb + cnt THEN k END)
           + MAX(CASE WHEN (ag.n + 2) // 2 BETWEEN cb + 1 AND cb + cnt THEN k END)
               AS m2
    FROM cum JOIN ag ON cum.grp = ag.grp GROUP BY cum.grp
)
SELECT ag.grp, ag.n,
       CAST((2 * 1000000 * ag.s + ag.n) // (2 * ag.n) AS BIGINT) AS mean_micro,
       med.m2
FROM ag JOIN med ON ag.grp = med.grp ORDER BY ag.grp
"""


@register("q473_props_json_stats", oracle=_PROPS_ORACLE)
def q473(events):
    """Per-type stats of the JSON props.k field (oracle comment)."""
    v = events.where(F.col("props").isNotNull()).select(
        F.col("event_type").alias("grp"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    h = v.groupBy("grp", "k").agg(F.count("*").cast("bigint").alias("cnt"))
    wg = Window.partitionBy("grp").orderBy("k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = h.select(
        "grp", "k", "cnt", F.coalesce(F.sum("cnt").over(wg), F.lit(0)).alias("cb")
    )
    ag = h.groupBy("grp").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("k") * F.col("cnt")).cast("bigint").alias("s"),
    )
    med = (
        cum.join(ag, "grp")
        .groupBy("grp")
        .agg(
            (
                F.max(
                    F.when(
                        F.expr("(n + 1) DIV 2").between(
                            F.col("cb") + 1, F.col("cb") + F.col("cnt")
                        ),
                        F.col("k"),
                    )
                )
                + F.max(
                    F.when(
                        F.expr("(n + 2) DIV 2").between(
                            F.col("cb") + 1, F.col("cb") + F.col("cnt")
                        ),
                        F.col("k"),
                    )
                )
            ).alias("m2")
        )
    )
    return (
        ag.join(med, "grp")
        .selectExpr(
            "grp", "n",
            f"CAST({rhu('1000000 * s', 'n')} AS BIGINT) AS mean_micro",
            "m2",
        )
        .orderBy("grp")
    )


# ---------- q474: two-way factorial ANOVA (priority x year, cell-means)

# Factorial extension of q258's one-way F: SS_A, SS_B, SS_cells from
# exact integer cell moments via the mean-clearing identity
# SS = sum(s_g^2/n_g) - S^2/N (each term ONE IEEE division of exact
# ints — the q207 discipline), interaction SS_AB = SS_cells - SS_A -
# SS_B in the declared cell-means/Type-I ordering (the CONTRACT for
# this unbalanced design), F_AB over MS_E. 35 cells; everything above
# one map-side-combinable cell aggregate.
_ANOVA2_ORACLE = """
WITH v AS (
    SELECT o_orderpriority AS a, CAST(YEAR(o_orderdate) AS BIGINT) AS b,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), cells AS MATERIALIZED (
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
    FROM v GROUP BY a, b
), ta AS MATERIALIZED (
    SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssq
    FROM (SELECT a, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s
          FROM cells GROUP BY a)
), tb AS MATERIALIZED (
    SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssq
    FROM (SELECT b, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s
          FROM cells GROUP BY b)
), tc AS MATERIALIZED (
    SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssq,
           CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS st,
           CAST(SUM(q) AS HUGEINT) AS qt,
           CAST(COUNT(*) AS BIGINT) AS ncells,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
    FROM cells
)
SELECT tc.ncells, tc.nn,
       ROUND(((tc.ssq - ta.ssq - tb.ssq
               + CAST(tc.st AS DOUBLE) * CAST(tc.st AS DOUBLE)
                 / CAST(tc.nn AS DOUBLE))
              / (CAST((tc.ka - 1) * (tc.kb - 1) AS DOUBLE)))
             / ((CAST(tc.qt AS DOUBLE) - tc.ssq)
                / CAST(tc.nn - tc.ncells AS DOUBLE)), 6) AS f_interaction
FROM ta, tb, tc
"""


@register("q474_twoway_anova", oracle=_ANOVA2_ORACLE)
def q474(orders):
    """Interaction F of the priority x year cell-means decomposition
    (oracle comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("a"),
        F.year("o_orderdate").cast("bigint").alias("b"),
        cents("o_totalprice").alias("c"),
    )
    # pinned: the cell moments feed both marginal ssq passes AND the
    # total aggregate — unpinned, the orders scan+aggregate runs three
    # times (guide §2.4; before-plan: 9 Exchanges)
    cells = (
        v.groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("q"),
        )
        .transform(pin)
    )

    def ssq(df, key):
        g = df.groupBy(key).agg(
            F.sum("n").cast("bigint").alias("n"), F.sum("s").cast("bigint").alias("s")
        )
        return g.agg(
            F.sum(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n").cast("double")
            ).alias("ssq")
        )

    ta = ssq(cells, "a").withColumnRenamed("ssq", "ssq_a")
    tb = ssq(cells, "b").withColumnRenamed("ssq", "ssq_b")
    tc = cells.agg(
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("ssq_c"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("q").cast("decimal(38,0)").alias("qt"),
        F.count("*").cast("bigint").alias("ncells"),
        F.countDistinct("a").cast("bigint").alias("ka"),
        F.countDistinct("b").cast("bigint").alias("kb"),
    )
    return (
        tc.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "ncells", "nn",
            F.round(
                (
                    (
                        F.col("ssq_c") - F.col("ssq_a") - F.col("ssq_b")
                        + F.col("st").cast("double") * F.col("st").cast("double")
                        / F.col("nn").cast("double")
                    )
                    / ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("double")
                )
                / (
                    (F.col("qt").cast("double") - F.col("ssq_c"))
                    / (F.col("nn") - F.col("ncells")).cast("double")
                ),
                6,
            ).alias("f_interaction"),
        )
    )


# ---------- q475: embedding isotropy via the centroid-norm identity

# Mean pairwise dot product over n vectors WITHOUT any pairs:
# sum_{i<>j} <v_i, v_j> = ||sum v||^2 - sum ||v||^2 — one linear pass
# over int-quantized embeddings (the q127 milli recipe keeps every sum
# exact), reported per label. High mean dot = anisotropic cluster
# (embeddings bunched in a cone); the audit runs before any ANN index
# build. Signed micro division with positive shift.
_ISOTROPY_ORACLE = """
WITH q AS MATERIALIZED (
    SELECT label,
           LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), dims AS (
    SELECT label, r.i AS dim, q.v[r.i] AS x
    FROM q, RANGE(1, 65) r(i)
), per_dim AS (
    SELECT label, dim, CAST(SUM(x) AS BIGINT) AS sd,
           CAST(SUM(x * x) AS BIGINT) AS qd
    FROM dims GROUP BY label, dim
), agg AS MATERIALIZED (
    SELECT label,
           CAST(SUM(sd * sd) AS BIGINT) AS cent2,
           CAST(SUM(qd) AS BIGINT) AS self2
    FROM per_dim GROUP BY label
), nn AS MATERIALIZED (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY label
)
SELECT nn.label, nn.n,
       CAST(agg.cent2 - agg.self2 AS BIGINT) AS num,
       CAST(((2 * (1000000 * (agg.cent2 - agg.self2)
                   + 1000000000000 * (nn.n * (nn.n - 1))))
             + nn.n * (nn.n - 1))
            // (2 * nn.n * (nn.n - 1)) - 1000000000000 AS BIGINT)
           AS mean_dot_micro
FROM nn JOIN agg ON nn.label = agg.label ORDER BY nn.label
"""


@register("q475_embedding_isotropy", oracle=_ISOTROPY_ORACLE)
def q475(embeddings):
    """Per-label mean pairwise dot via ||Σv||² − Σ||v||² (oracle
    comment)."""
    q = embeddings.select(
        "label",
        F.expr(
            "transform(embedding,"
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("v"),
    )
    dims = q.select(
        "label", F.posexplode("v").alias("dim0", "x")
    )
    per_dim = dims.groupBy("label", "dim0").agg(
        F.sum("x").cast("bigint").alias("sd"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("qd"),
    )
    agg = per_dim.groupBy("label").agg(
        F.sum(F.col("sd") * F.col("sd")).cast("bigint").alias("cent2"),
        F.sum("qd").cast("bigint").alias("self2"),
    )
    nn = q.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    return (
        nn.join(agg, "label")
        .selectExpr(
            "label", "n",
            "CAST(cent2 - self2 AS BIGINT) AS num",
            "CAST(" + rhu(
                "(1000000 * (cent2 - self2) + 1000000000000 * (n * (n - 1)))",
                "n * (n - 1)",
            ) + " - 1000000000000 AS BIGINT) AS mean_dot_micro",
        )
        .orderBy("label")
    )


# ---------- q476: bipartite butterfly count (supplier-part 4-cycles)

# The bipartite sibling of q229's triangle count: butterflies = pairs
# of suppliers sharing >= 2 parts, counted as sum over supplier pairs
# of C(shared, 2). Supplier pairs are generated per part (quadratic
# only in a part's supplier fan — measured <= 52 at sf0.1, the q229
# bounded-fan discipline); shared-part counts collapse the pair stream
# before the final combinatorial sum. Also reports wedges and the
# butterfly density per wedge.
_BUTTERFLY_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), pairs AS (
    SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
    FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
    GROUP BY a.s, b.s
), bf AS MATERIALIZED (
    SELECT CAST(SUM(shared * (shared - 1) // 2) AS BIGINT) AS butterflies,
           CAST(COUNT(*) AS BIGINT) AS sup_pairs
    FROM pairs
), wg AS MATERIALIZED (
    SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
    FROM (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY p)
)
SELECT bf.butterflies, bf.sup_pairs, wg.wedges,
       CAST((2 * 1000000 * bf.butterflies + wg.wedges) // (2 * wg.wedges)
            AS BIGINT) AS per_wedge_micro
FROM bf, wg
"""


@register("q476_butterfly_count", oracle=_BUTTERFLY_ORACLE)
def q476(lineitem):
    """Exact butterfly / wedge counts on the supplier-part graph
    (oracle comment)."""
    # ONE map-side-combined collect_set per part replaces the
    # distinct -> self-join supplier-pair derivation (guide §2.4): the
    # per-part supplier set IS the distinct (p, s) frame, pairs expand
    # via two chained codegen Generates (sorted set keeps s1 < s2), and
    # the same checkpointed set frame yields the wedge degrees — the
    # distinct shuffle and both join exchanges are gone. Fan bound
    # unchanged (<= 52 suppliers/part at sf0.1).
    sets = (
        lineitem.groupBy(F.col("l_partkey").alias("p"))
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        # pinned: referenced by the 87M-row pair expansion AND the wedge
        # aggregate (a packed single-bigint pair key was tried at sf1 and
        # measured flat, 7.30 vs 7.75 s — the two-column hash agg is fine)
        .transform(pin)
    )
    pairs = (
        sets.select(F.posexplode("ss").alias("_i", "s1"), "ss")
        .select(
            "s1", F.explode(F.expr("slice(ss, _i + 2, size(ss))")).alias("s2")
        )
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    bf = pairs.agg(
        F.sum(F.expr("shared * (shared - 1) DIV 2")).cast("bigint").alias("butterflies"),
        F.count("*").cast("bigint").alias("sup_pairs"),
    )
    wg = (
        sets.select(F.size("ss").cast("bigint").alias("d"))
        .agg(F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("wedges"))
    )
    return bf.crossJoin(F.broadcast(wg)).selectExpr(
        "butterflies", "sup_pairs", "wedges",
        f"CAST({rhu('1000000 * butterflies', 'wedges')} AS BIGINT) AS per_wedge_micro",
    )


# ---------- q477: G-test of independence (priority x status)

# The log-likelihood-ratio sibling of q185's chi-square:
# G = 2 * sum n_ij * ln(n_ij * N / (r_i * c_j)). Each cell's term is
# ONE rounded transcendental over an exact integer rational (15 cells
# — a TYPE frame, the q451 discipline), rounded to integer micro per
# cell and then summed exactly; the two-stage rounding is the
# contract. Margins come from two grouped rollups of the same cell
# aggregate.
_GTEST_ORACLE = """
WITH cells AS MATERIALIZED (
    SELECT o_orderpriority AS a, o_orderstatus AS b,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY a, b
), ra AS MATERIALIZED (
    SELECT a, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY a
), cb AS MATERIALIZED (
    SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY b
), nn AS MATERIALIZED (
    SELECT CAST(SUM(n) AS BIGINT) AS big FROM cells
), terms AS (
    SELECT CAST(ROUND(2000000 * CAST(cells.n AS DOUBLE)
                * LN(CAST(cells.n AS DOUBLE) * CAST(nn.big AS DOUBLE)
                     / (CAST(ra.r AS DOUBLE) * CAST(cb.c AS DOUBLE))), 0)
                AS BIGINT) AS t
    FROM cells JOIN ra ON cells.a = ra.a JOIN cb ON cells.b = cb.b, nn
)
SELECT (SELECT big FROM nn) AS n,
       (SELECT CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
        FROM cells) AS df,
       CAST(SUM(t) AS BIGINT) AS g_micro
FROM terms
"""


@register("q477_g_test", oracle=_GTEST_ORACLE)
def q477(orders):
    """G statistic in per-cell-rounded micro units (oracle comment)."""
    # pinned: the contingency cells feed ra, cb, nn, dfc AND the terms
    # join — unpinned, the orders scan+aggregate runs five times
    # (guide §2.4; before-plan: 10 Exchanges)
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(pin)
    )
    ra = cells.groupBy("a").agg(F.sum("n").cast("bigint").alias("r"))
    cb = cells.groupBy("b").agg(F.sum("n").cast("bigint").alias("c"))
    nn = cells.agg(F.sum("n").cast("bigint").alias("big"))
    dfc = cells.agg(
        ((F.countDistinct("a") - 1) * (F.countDistinct("b") - 1))
        .cast("bigint")
        .alias("df")
    )
    terms = (
        cells.join(ra, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(nn))
        .select(
            F.round(
                2000000
                * F.col("n").cast("double")
                * F.log(
                    F.col("n").cast("double") * F.col("big").cast("double")
                    / (F.col("r").cast("double") * F.col("c").cast("double"))
                ),
                0,
            )
            .cast("bigint")
            .alias("t"),
            "big",
        )
    )
    return (
        terms.groupBy("big")
        .agg(F.sum("t").cast("bigint").alias("g_micro"))
        .crossJoin(F.broadcast(dfc))
        .select(F.col("big").alias("n"), "df", "g_micro")
    )


# ---------- q478: turning-point test of randomness

# The runs test's (q453) local-extremum sibling: count interior days
# that are strict local maxima or minima of the daily-revenue series
# (one lag + one lead over the |days| frame), then
# z = (T - 2(n-2)/3) / sqrt((16n - 29)/90) in the q207 double form.
# Ties with a neighbor disqualify the point identically on both
# engines.
_TP_ORACLE = _DAILY_CTE + """
, s AS (
    SELECT cents,
           LAG(cents) OVER (ORDER BY day) AS p,
           LEAD(cents) OVER (ORDER BY day) AS nx
    FROM daily
), ag AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
                AND ((cents > p AND cents > nx) OR (cents < p AND cents < nx))
                THEN 1 END) AS BIGINT) AS t
    FROM s
)
SELECT n, t,
       ROUND((CAST(t AS DOUBLE) - 2.0 * CAST(n - 2 AS DOUBLE) / 3.0)
             / SQRT(CAST(16 * n - 29 AS DOUBLE) / 90.0), 6) AS z
FROM ag
"""


@register("q478_turning_point_test", oracle=_TP_ORACLE)
def q478(orders):
    """Turning-point count + normal z over the daily series (oracle
    comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day")
    s = daily.select(
        "cents",
        F.lag("cents").over(w).alias("p"),
        F.lead("cents").over(w).alias("nx"),
    )
    ag = s.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(
            F.when(
                F.col("p").isNotNull()
                & F.col("nx").isNotNull()
                & (
                    ((F.col("cents") > F.col("p")) & (F.col("cents") > F.col("nx")))
                    | ((F.col("cents") < F.col("p")) & (F.col("cents") < F.col("nx")))
                ),
                1,
            )
        )
        .cast("bigint")
        .alias("t"),
    )
    return ag.select(
        "n", "t",
        F.round(
            (
                F.col("t").cast("double")
                - F.lit(2.0) * (F.col("n") - 2).cast("double") / F.lit(3.0)
            )
            / F.sqrt((16 * F.col("n") - 29).cast("double") / F.lit(90.0)),
            6,
        ).alias("z"),
    )


# ---------- q479: skewness / excess kurtosis from exact raw moments

# Shape profile of the order-value distribution per priority: raw
# power sums up to x^4 in DOLLARS (cents DIV 100 — the declared
# resolution keeps sum(x^4) ~ 1e27 inside DECIMAL(38,0)/HUGEINT at
# sf0.1), central moments and the g1/g2 ratios in the q207 double
# discipline over those exact integers, ROUND(6).
_SHAPE_ORACLE = """
WITH v AS (
    SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x
    FROM orders
), m AS (
    SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s1,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
           CAST(SUM(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
           CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
    FROM v GROUP BY grp
), c AS (
    SELECT grp, CAST(n AS BIGINT) AS n,
           CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2,
           CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
               - 3 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
               + 2 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m3,
           CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
               - 4 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
               + 6 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
               - 3 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m4
    FROM m
)
SELECT grp, n,
       ROUND(m3 / SQRT(m2 * m2 * m2), 6) AS skewness,
       ROUND(m4 / (m2 * m2) - 3, 6) AS ex_kurtosis
FROM c ORDER BY grp
"""


@register("q479_shape_profile", oracle=_SHAPE_ORACLE)
def q479(orders):
    """Per-priority skewness and excess kurtosis (oracle comment)."""
    d38 = "decimal(38,0)"
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"
        ).alias("x"),
    )
    m = v.groupBy("grp").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("s1"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("s2"),
        F.sum(F.col("x").cast(d38) * F.col("x") * F.col("x")).cast(d38).alias("s3"),
        F.sum(F.col("x").cast(d38) * F.col("x") * F.col("x") * F.col("x"))
        .cast(d38)
        .alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n").cast("double")
    e2 = F.col("s2").cast("double") / F.col("n").cast("double")
    e3 = F.col("s3").cast("double") / F.col("n").cast("double")
    e4 = F.col("s4").cast("double") / F.col("n").cast("double")
    m2 = e2 - mu * mu
    m3 = e3 - 3 * mu * e2 + 2 * mu * mu * mu
    m4 = e4 - 4 * mu * e3 + 6 * mu * mu * e2 - 3 * mu * mu * mu * mu
    return m.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("ex_kurtosis"),
    ).orderBy("grp")

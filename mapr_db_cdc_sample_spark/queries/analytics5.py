"""Round-6 fourth wave (q367+): risk/eval analytics and the
remaining sketch/quantization lanes.

Same determinism contract as queries/relational.py and analytics3.py:
exact integer arithmetic wherever possible, positive-shift
round-half-up micro units for signed rationals, ROUND(LN(exact
integer ratio) * 1e6) discretized ONCE for anything transcendental
(q297/q322 recipe), unique ORDER BY tiebreakers under every LIMIT.

Reference anchor: the CDC client's change-measure lane
(README.md:131-154) motivates the monitoring family (drawdown, PSI,
JSD); the eval family (AP, best-F1) completes q207/q242/q269's
ranking-metric suite over the same scored-event universe.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exact import cents, rhu
from ..session import pin
from . import register
from .analytics3 import _DAILY_CTE, _daily_cents


# ---------- q367: maximum drawdown of the daily-revenue KPI

# The risk statistic behind every KPI equity-curve report, applied to
# the LEVEL series (daily revenue cents — a cumulative-sum curve of
# nonnegative daily revenue is monotone, so its drawdown is trivially
# zero): running peak of daily revenue minus the current day's value,
# maxed over time — "worst observed decline from the historical
# best day". Everything is integer cents on the |days| spine (the
# windows run ABOVE the groupBy(day) aggregate — SinglePartition over
# ~2.4k rows, never over order volume). Ties: earliest trough day,
# then the EARLIEST day attaining that peak value at or before the
# trough.
_DRAWDOWN_ORACLE = _DAILY_CTE + """
, p AS MATERIALIZED (
    SELECT day, cents AS cum,
           CAST(MAX(cents) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS peak
    FROM daily
), trough AS (
    SELECT day AS t_day, cum AS t_cents, peak AS p_cents,
           peak - cum AS dd_cents
    FROM p ORDER BY peak - cum DESC, day LIMIT 1
)
SELECT CAST(MIN(p.day) AS DATE) AS peak_day,
       CAST(t.t_day AS DATE) AS trough_day,
       CAST(t.p_cents AS BIGINT) AS peak_cents,
       CAST(t.t_cents AS BIGINT) AS trough_cents,
       CAST(t.dd_cents AS BIGINT) AS drawdown_cents
FROM p, trough t
WHERE p.cum = t.p_cents AND p.day <= t.t_day
GROUP BY t.t_day, t.t_cents, t.p_cents, t.dd_cents
"""


@register("q367_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def q367(orders):
    """Max drawdown (peak day, trough day, depth) of the daily-revenue
    level series — all integer cents (oracle comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = daily.select(
        "day",
        F.col("cents").cast("bigint").alias("cum"),
        F.max("cents").over(w).cast("bigint").alias("peak"),
    )
    trough = (
        p.select(
            F.col("day").alias("t_day"),
            F.col("cum").alias("t_cents"),
            F.col("peak").alias("p_cents"),
            (F.col("peak") - F.col("cum")).alias("dd_cents"),
        )
        .orderBy(F.col("dd_cents").desc(), "t_day")
        .limit(1)
    )
    return (
        p.join(
            F.broadcast(trough),
            (F.col("cum") == F.col("p_cents")) & (F.col("day") <= F.col("t_day")),
        )
        .groupBy("t_day", "t_cents", "p_cents", "dd_cents")
        .agg(F.min("day").alias("pk"))
        .select(
            F.col("pk").cast("date").alias("peak_day"),
            F.col("t_day").cast("date").alias("trough_day"),
            F.col("p_cents").alias("peak_cents"),
            F.col("t_cents").alias("trough_cents"),
            F.col("dd_cents").alias("drawdown_cents"),
        )
    )


# ---------- q368: average precision (area under the PR curve)

# The missing member of the ranking-eval family (AUC q207, lift q206,
# NDCG q269, MRR q303, hit rate q330): AP = mean over positives of
# precision@rank under the unique (score DESC, event_id ASC) order.
# Scale posture is q207's: global before-counts come from the score
# VALUE histogram (windows over |distinct scores|), per-row positions
# from windows PARTITIONED BY score (tie-group-sized, shuffled by key
# — never a global sort of event volume); rank = before_n + rn,
# cum_pos = before_pos + cpos. Each precision addend is rounded
# half-up to micro units in integer arithmetic (all operands
# positive), then the mean of the ROUNDED addends — the documented
# sum-of-rounded-terms contract that keeps both engines bit-equal.
_AP_ORACLE = """
WITH scored AS MATERIALIZED (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
    FROM events
), hist AS (
    SELECT score, COUNT(*) AS n, SUM(label) AS npos FROM scored GROUP BY score
), cum AS (
    SELECT score,
           COALESCE(SUM(n) OVER (ORDER BY score DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_n,
           COALESCE(SUM(npos) OVER (ORDER BY score DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_pos
    FROM hist
), within AS (
    SELECT score, label,
           ROW_NUMBER() OVER (PARTITION BY score ORDER BY event_id) AS rn,
           SUM(label) OVER (PARTITION BY score ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos
    FROM scored
), pos AS (
    SELECT CAST(before_n + rn AS BIGINT) AS rnk,
           CAST(before_pos + cpos AS BIGINT) AS cumpos
    FROM within JOIN cum USING (score) WHERE label = 1
), a AS (
    SELECT (2 * cumpos * 1000000 + rnk) // (2 * rnk) AS prec_micro FROM pos
)
SELECT CAST(COUNT(*) AS BIGINT) AS np,
       CAST((2 * SUM(prec_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS ap_micro
FROM a
"""


@register("q368_average_precision", oracle=_AP_ORACLE)
def q368(events):
    """Average precision of the purchase-vs-rest score ranking, from
    the score histogram + tie-group windows (oracle comment)."""
    scored = events.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        cents("value").alias("score"),
    )
    hist = scored.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").alias("npos")
    )
    wb = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "score",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("before_n"),
        F.coalesce(F.sum("npos").over(wb), F.lit(0)).alias("before_pos"),
    )
    wg = Window.partitionBy("score").orderBy("event_id")
    within = scored.select(
        "score",
        "label",
        F.row_number().over(wg).alias("rn"),
        F.sum("label")
        .over(wg.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cpos"),
    )
    pos = (
        within.where(F.col("label") == 1)
        .join(cum, "score")
        .select(
            (F.col("before_n") + F.col("rn")).cast("bigint").alias("rnk"),
            (F.col("before_pos") + F.col("cpos")).cast("bigint").alias("cumpos"),
        )
    )
    a = pos.selectExpr(
        f"CAST({rhu('cumpos * 1000000', 'rnk')} AS BIGINT) AS prec_micro"
    )
    return a.agg(
        F.count("*").cast("bigint").alias("np"),
        F.sum("prec_micro").cast("bigint").alias("s"),
    ).selectExpr(
        "np", f"CAST({rhu('s', 'np')} AS BIGINT) AS ap_micro"
    )


# ---------- q369: best-F1 operating threshold

# Threshold selection for the same scored universe: predict positive
# when score >= t, candidate thresholds = the distinct scores. TP and
# predicted-positive counts are inclusive top-down running sums over
# the score VALUE histogram (q207 posture — the window frame is
# |distinct scores|, never event volume); F1 = 2TP/(predp + np) in
# exact integers, rounded half-up to micro once per threshold. Winner
# by (f1_micro DESC, threshold DESC) — the micro grid is the declared
# tie resolution, then the HIGHEST qualifying threshold.
_BESTF1_ORACLE = """
WITH scored AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
    FROM events
), hist AS MATERIALIZED (
    SELECT score, COUNT(*) AS n, SUM(label) AS npos FROM scored GROUP BY score
), tot AS (
    SELECT CAST(SUM(npos) AS BIGINT) AS np FROM hist
), sweep AS (
    SELECT score,
           CAST(SUM(npos) OVER (ORDER BY score DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
           CAST(SUM(n) OVER (ORDER BY score DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS predp
    FROM hist
)
SELECT score AS threshold_cents, tp, predp - tp AS fp, np - tp AS fn,
       CAST((2 * 2 * tp * 1000000 + (predp + np)) // (2 * (predp + np))
            AS BIGINT) AS f1_micro
FROM sweep, tot
ORDER BY f1_micro DESC, threshold_cents DESC LIMIT 1
"""


@register("q369_best_f1", oracle=_BESTF1_ORACLE)
def q369(events):
    """Best-F1 threshold sweep over the score histogram (oracle
    comment)."""
    scored = events.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        cents("value").alias("score"),
    )
    hist = scored.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").alias("npos")
    )
    tot = hist.agg(F.sum("npos").cast("bigint").alias("np"))
    wi = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sweep = hist.select(
        "score",
        F.sum("npos").over(wi).cast("bigint").alias("tp"),
        F.sum("n").over(wi).cast("bigint").alias("predp"),
    )
    return (
        sweep.crossJoin(F.broadcast(tot))
        .selectExpr(
            "score AS threshold_cents",
            "tp",
            "predp - tp AS fp",
            "np - tp AS fn",
            f"CAST({rhu('2 * tp * 1000000', '(predp + np)')} AS BIGINT) AS f1_micro",
        )
        .orderBy(F.col("f1_micro").desc(), F.col("threshold_cents").desc())
        .limit(1)
    )


# ---------- q370: Jensen-Shannon divergence (early vs late traffic)

# The symmetric, bounded drift metric completing the divergence family
# (q227 total-variation, q322 KL): JSD(P,Q) = KL(P||M)/2 + KL(Q||M)/2
# with M = (P+Q)/2, over the (event_type, item) cell distribution of
# the first vs last week of the events month. Each cell's log ratio
# ln(2*cp*nq / (cp*nq + cq*np)) is an EXACT integer ratio discretized
# once to micro-nats (q297/q322 recipe — products stay below 2^53 so
# the double is exact far past sf100); each KL half is then the q322
# positive-shift integer round-half-up, and the final /2 happens on a
# GREATEST(.,0)-clamped sum (each half is >= 0 mathematically; the
# clamp absorbs quantization dips so truncating DIV and flooring //
# agree). Cells flow through ONE conditional-aggregation pass — no
# early/late self-join.
_JSD_ORACLE = """
WITH cells AS MATERIALIZED (
    SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS item,
           CAST(COUNT(*) FILTER (CAST(ts AS DATE) < DATE '2024-01-08')
                AS BIGINT) AS cp,
           CAST(COUNT(*) FILTER (CAST(ts AS DATE) >= DATE '2024-01-24')
                AS BIGINT) AS cq
    FROM events
    WHERE CAST(ts AS DATE) < DATE '2024-01-08'
       OR CAST(ts AS DATE) >= DATE '2024-01-24'
    GROUP BY 1, 2
), tot AS MATERIALIZED (
    SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq
    FROM cells
), lp AS (
    SELECT cp, cq,
           CASE WHEN cp > 0 THEN CAST(ROUND(LN(
                (2.0 * cp * nq) / (CAST(cp AS DOUBLE) * nq + CAST(cq AS DOUBLE) * np)
                ) * 1000000) AS BIGINT) ELSE 0 END AS l1,
           CASE WHEN cq > 0 THEN CAST(ROUND(LN(
                (2.0 * cq * np) / (CAST(cp AS DOUBLE) * nq + CAST(cq AS DOUBLE) * np)
                ) * 1000000) AS BIGINT) ELSE 0 END AS l2
    FROM cells, tot
), halves AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((2 * (SUM(CAST(cp AS HUGEINT) * l1) + CAST(MAX(np) AS HUGEINT) * 1000000)
                 + MAX(np)) // (2 * CAST(MAX(np) AS HUGEINT)) - 1000000 AS BIGINT) AS h1,
           CAST((2 * (SUM(CAST(cq AS HUGEINT) * l2) + CAST(MAX(nq) AS HUGEINT) * 1000000)
                 + MAX(nq)) // (2 * CAST(MAX(nq) AS HUGEINT)) - 1000000 AS BIGINT) AS h2
    FROM lp, tot
)
SELECT n_cells, h1 AS kl_pm_micro, h2 AS kl_qm_micro,
       CAST((GREATEST(h1 + h2, 0) + 1) // 2 AS BIGINT) AS jsd_micro
FROM halves
"""


@register("q370_js_divergence", oracle=_JSD_ORACLE)
def q370(events):
    """Jensen-Shannon divergence between first-week and last-week
    (event_type, item) distributions, in discretized micro-nats
    (oracle comment)."""
    day = F.col("ts").cast("date")
    early = day < F.lit("2024-01-08").cast("date")
    late = day >= F.lit("2024-01-24").cast("date")
    cells = (
        events.where(early | late)
        .groupBy(
            "event_type", F.get_json_object("props", "$.k").cast("int").alias("item")
        )
        .agg(
            F.count(F.when(early, 1)).cast("bigint").alias("cp"),
            F.count(F.when(late, 1)).cast("bigint").alias("cq"),
        )
    )
    tot = cells.agg(
        F.sum("cp").cast("bigint").alias("np"), F.sum("cq").cast("bigint").alias("nq")
    )
    lp = cells.crossJoin(F.broadcast(tot)).select(
        "cp",
        "cq",
        "np",
        "nq",
        F.when(
            F.col("cp") > 0,
            F.round(
                F.log(
                    (2.0 * F.col("cp") * F.col("nq"))
                    / (
                        F.col("cp").cast("double") * F.col("nq")
                        + F.col("cq").cast("double") * F.col("np")
                    )
                )
                * 1000000
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("l1"),
        F.when(
            F.col("cq") > 0,
            F.round(
                F.log(
                    (2.0 * F.col("cq") * F.col("np"))
                    / (
                        F.col("cp").cast("double") * F.col("nq")
                        + F.col("cq").cast("double") * F.col("np")
                    )
                )
                * 1000000
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("l2"),
    )
    d38 = "decimal(38,0)"
    halves = lp.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(F.col("cp").cast(d38) * F.col("l1")).cast(d38).alias("s1"),
        F.sum(F.col("cq").cast(d38) * F.col("l2")).cast(d38).alias("s2"),
        F.max("np").cast(d38).alias("np"),
        F.max("nq").cast(d38).alias("nq"),
    ).selectExpr(
        "n_cells",
        f"CAST({rhu('(s1 + np * 1000000)', 'np')} - 1000000 AS BIGINT) AS h1",
        f"CAST({rhu('(s2 + nq * 1000000)', 'nq')} - 1000000 AS BIGINT) AS h2",
    )
    return halves.selectExpr(
        "n_cells",
        "h1 AS kl_pm_micro",
        "h2 AS kl_qm_micro",
        "CAST((GREATEST(h1 + h2, 0) + 1) DIV 2 AS BIGINT) AS jsd_micro",
    )


# ---------- q371: Kendall tau-a of daily revenue vs daily order count

# Rank-correlation counterpart of q312's Spearman: concordant minus
# discordant pairs over all C(n,2) day pairs, tau_a = (C - D) / C(n,2)
# (tau-a, not tau-b: the sqrt in tau-b's tie correction is irrational;
# ties are REPORTED instead). The pairwise join is calendar-bounded —
# |days| ~2.4k rows regardless of order volume (q292 Theil-Sen's
# documented frame), so ~3M integer sign comparisons, never data^2.
# tau is signed: positive-shift round-half-up micro units.
_KENDALL_ORACLE = """
WITH d AS MATERIALIZED (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderdate
), p AS (
    SELECT CASE WHEN (b.cents - a.cents) * (b.n_orders - a.n_orders) > 0
                THEN 1 ELSE 0 END AS conc,
           CASE WHEN (b.cents - a.cents) * (b.n_orders - a.n_orders) < 0
                THEN 1 ELSE 0 END AS disc
    FROM d a JOIN d b ON b.day > a.day
), s AS (
    SELECT CAST(SUM(conc) AS BIGINT) AS c, CAST(SUM(disc) AS BIGINT) AS dd,
           CAST(COUNT(*) AS BIGINT) AS t
    FROM p
)
SELECT c AS concordant, dd AS discordant, t - c - dd AS tied, t AS n_pairs,
       CAST((2 * ((c - dd) + t) * 1000000 + t) // (2 * t) - 1000000 AS BIGINT)
           AS tau_micro
FROM s
"""


@register("q371_kendall_tau", oracle=_KENDALL_ORACLE)
def q371(orders):
    """Kendall tau-a between daily revenue and daily order count on
    the calendar-bounded day frame (oracle comment)."""
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("cents"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    a = d.select(
        F.col("day").alias("da"), F.col("cents").alias("ca"), F.col("n_orders").alias("na")
    )
    b = d.select(
        F.col("day").alias("db"), F.col("cents").alias("cb"), F.col("n_orders").alias("nb")
    )
    sgn = (F.col("cb") - F.col("ca")) * (F.col("nb") - F.col("na"))
    p = a.join(b, F.col("db") > F.col("da")).select(
        F.when(sgn > 0, 1).otherwise(0).alias("conc"),
        F.when(sgn < 0, 1).otherwise(0).alias("disc"),
    )
    s = p.agg(
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("dd"),
        F.count("*").cast("bigint").alias("t"),
    )
    return s.selectExpr(
        "c AS concordant",
        "dd AS discordant",
        "t - c - dd AS tied",
        "t AS n_pairs",
        "CAST(" + rhu("((c - dd) + t) * 1000000", "t")
        + " - 1000000 AS BIGINT) AS tau_micro",
    )


# ---------- q372: population stability index (PSI) over price deciles

# The model-monitoring standard for feature drift: bin the reference
# window (orders before 1998) at its own decile edges, score the
# current window (1998+) against those bins, PSI = sum over bins of
# (p_cur - p_ref) * ln(p_cur / p_ref). Edges are exact nearest-rank
# order statistics picked from the reference VALUE histogram by a
# 9-row range join (q364 posture — never a fact-table sort); bin
# assignment is 1 + |edges < x| against the broadcast sorted edge
# array. Each bin term is >= 0 EVEN AFTER the micro-nat log
# discretization (both factors share a sign; rounding preserves the
# log's sign because the ratio is exactly 1 only when the term is 0),
# so no positive shift is needed. Bins the current window never hits
# contribute 0 by the documented skip-zero rule (standard PSI adds an
# epsilon; skipping keeps the arithmetic exact and both engines
# identical).
_PSI_ORACLE = """
WITH ref AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price
    FROM orders WHERE o_orderdate < DATE '1998-01-01'
), cur AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price
    FROM orders WHERE o_orderdate >= DATE '1998-01-01'
), hist AS (
    SELECT price, COUNT(*) AS n FROM ref GROUP BY price
), cumh AS (
    SELECT price,
           SUM(n) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
           SUM(n) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS cum_before
    FROM hist
), nref AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM ref
), ranks AS MATERIALIZED (
    SELECT k, CAST(CEIL(k * nr / 10.0) AS BIGINT) AS r FROM nref,
         (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS k)
), edges AS MATERIALIZED (
    SELECT DISTINCT c.price AS e
    FROM cumh c JOIN ranks ON COALESCE(c.cum_before, 0) < ranks.r
                          AND ranks.r <= c.cum
), rbin AS MATERIALIZED (
    SELECT 1 + (SELECT COUNT(*) FROM edges WHERE e < price) AS bin,
           COUNT(*) AS c_ref
    FROM ref GROUP BY 1
), cbin AS MATERIALIZED (
    SELECT 1 + (SELECT COUNT(*) FROM edges WHERE e < price) AS bin,
           COUNT(*) AS c_cur
    FROM cur GROUP BY 1
), tots AS (
    SELECT (SELECT CAST(SUM(c_ref) AS BIGINT) FROM rbin) AS nr,
           (SELECT CAST(SUM(c_cur) AS BIGINT) FROM cbin) AS nc
), terms AS (
    SELECT r.bin, CAST(r.c_ref AS BIGINT) AS c_ref,
           CAST(COALESCE(b.c_cur, 0) AS BIGINT) AS c_cur,
           CASE WHEN COALESCE(b.c_cur, 0) > 0 THEN
             CAST(ROUND(LN((CAST(b.c_cur AS DOUBLE) * nr)
                           / (CAST(r.c_ref AS DOUBLE) * nc)) * 1000000)
                  AS BIGINT)
           ELSE 0 END AS l_micro,
           nr, nc
    FROM rbin r LEFT JOIN cbin b ON r.bin = b.bin, tots
)
SELECT CAST(bin AS BIGINT) AS bin, c_ref, c_cur,
       CAST((2 * GREATEST((c_cur * nr - c_ref * nc) * CAST(l_micro AS HUGEINT), 0)
             + CAST(nr AS HUGEINT) * nc)
            // (2 * CAST(nr AS HUGEINT) * nc) AS BIGINT) AS psi_term_micro
FROM terms ORDER BY bin
"""


@register("q372_psi_stability", oracle=_PSI_ORACLE)
def q372(spark, orders):
    """Per-bin PSI terms of order totalprice, current (1998+) vs
    reference (<1998) decile bins (oracle comment)."""
    price = cents("o_totalprice")
    ref = orders.where(F.col("o_orderdate") < F.lit("1998-01-01").cast("date")).select(
        price.alias("price")
    )
    cur = orders.where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")).select(
        price.alias("price")
    )
    # pinned: hist feeds the cumulative windows AND nref (nr == Σn of the
    # histogram — one orders scan instead of two); edges/rbin/cbin below
    # are pinned because each is referenced twice and would otherwise
    # re-run its full orders-scan subtree per reference (guide §2.4;
    # before-plan: 19 Exchanges)
    hist = pin(ref.groupBy("price").agg(F.count("*").alias("n")))
    wcum = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, 0)
    wbef = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    cumh = hist.select(
        "price",
        F.sum("n").over(wcum).alias("cum"),
        F.coalesce(F.sum("n").over(wbef), F.lit(0)).alias("cum_before"),
    )
    nref = hist.agg(F.sum("n").cast("bigint").alias("nr"))
    ranks = (
        spark.range(1, 10)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(nref))
        .select(F.ceil(F.col("k") * F.col("nr") / 10.0).cast("bigint").alias("r"))
    )
    edges = (
        cumh.join(
            F.broadcast(ranks),
            (F.col("cum_before") < F.col("r")) & (F.col("r") <= F.col("cum")),
        )
        .select(F.col("price").alias("e"))
        .distinct()
        .agg(F.sort_array(F.collect_list("e")).alias("edges"))
        .transform(pin)
    )
    bin_of = F.lit(1) + F.size(
        F.filter(F.col("edges"), lambda e: e < F.col("price"))
    )
    rbin = (
        ref.crossJoin(F.broadcast(edges))
        .groupBy(bin_of.alias("bin"))
        .agg(F.count("*").cast("bigint").alias("c_ref"))
        .transform(pin)
    )
    cbin = (
        cur.crossJoin(F.broadcast(edges))
        .groupBy(bin_of.alias("bin"))
        .agg(F.count("*").cast("bigint").alias("c_cur"))
        .transform(pin)
    )
    tots = rbin.agg(F.sum("c_ref").cast("bigint").alias("nr")).crossJoin(
        cbin.agg(F.sum("c_cur").cast("bigint").alias("nc"))
    )
    terms = (
        rbin.join(cbin, "bin", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bin",
            "c_ref",
            F.coalesce(F.col("c_cur"), F.lit(0)).alias("c_cur"),
            F.when(
                F.coalesce(F.col("c_cur"), F.lit(0)) > 0,
                F.round(
                    F.log(
                        (F.col("c_cur").cast("double") * F.col("nr"))
                        / (F.col("c_ref").cast("double") * F.col("nc"))
                    )
                    * 1000000
                ).cast("bigint"),
            )
            .otherwise(F.lit(0))
            .alias("l_micro"),
            "nr",
            "nc",
        )
    )
    d38 = "decimal(38,0)"
    return terms.selectExpr(
        "CAST(bin AS BIGINT) AS bin",
        "c_ref",
        "c_cur",
        "CAST(" + rhu(
            f"GREATEST((c_cur * CAST(nr AS {d38}) - c_ref * CAST(nc AS {d38}))"
            " * l_micro, 0)",
            f"CAST(nr AS {d38}) * nc",
        ) + " AS BIGINT) AS psi_term_micro",
    ).orderBy("bin")


# ---------- q373: GROUP BY ALL / ORDER BY ALL / lateral column alias

# The Spark 3.4+/4.x SQL ergonomics feature row (sibling of q266 pipe
# SQL, q267 collation, q347 session variables): GROUP BY ALL infers
# the grouping keys from the non-aggregate select items, ORDER BY ALL
# orders by every output column, and the outer projection CHAINS
# lateral aliases (avg_cents_floor built from n/cents, then reused by
# avg_dollars_floor) — Spark rejects lateral aliases inside a GROUP BY
# ALL aggregate itself, so the chain lives one projection up. DuckDB
# implements all three (it originated GROUP BY ALL); only the
# integer-division spelling differs (DIV vs //).
_GBALL_ORACLE = """
SELECT yr, status, n, cents,
       CAST(cents // n AS BIGINT) AS avg_cents_floor,
       CAST(avg_cents_floor // 100 AS BIGINT) AS avg_dollars_floor
FROM (
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
)
ORDER BY ALL
"""


@register("q373_group_by_all", oracle=_GBALL_ORACLE)
def q373(spark):
    """GROUP BY ALL + ORDER BY ALL + lateral column aliases over the
    yearly order-status rollup (oracle comment)."""
    return spark.sql(
        """
        SELECT yr, status, n, cents,
               CAST(cents DIV n AS BIGINT) AS avg_cents_floor,
               CAST(avg_cents_floor DIV 100 AS BIGINT) AS avg_dollars_floor
        FROM (
            SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
                   o_orderstatus AS status,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            GROUP BY ALL
        )
        ORDER BY ALL
        """
    )


# ---------- q374: revenue bridge (price vs volume decomposition)

# The FP&A "why did revenue move" decomposition between 1997 and 1998
# per part brand: volume effect = r0 * dq / q0 (growth at the old
# realized rate), price/mix effect = the EXACT integer complement
# (dr_micro - volume_micro), so the two effects always sum to the
# revenue delta — no residual bucket. Discounted line revenue is kept
# exact as cents*basis-points (price cents x (10000 - discount bp)),
# rounded half-up to integer cents ONCE per (brand, year); the signed
# volume share uses the positive-shift rhu. One wide join
# (lineitem->orders for the year, lineitem->part broadcast for the
# brand), then everything lives on the |brands| frame.
_BRIDGE_ORACLE = """
WITH li AS (
    SELECT p.p_brand AS brand,
           CASE WHEN o.o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END AS yr,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * (10000 - CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT))
               AS rev_cbp,
           CAST(l.l_quantity AS BIGINT) AS qty
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1999-01-01'
), by_year AS MATERIALIZED (
    SELECT brand, yr, CAST(SUM(qty) AS BIGINT) AS q,
           CAST((2 * SUM(CAST(rev_cbp AS HUGEINT)) + 10000) // 20000 AS BIGINT) AS r
    FROM li GROUP BY brand, yr
), wide AS (
    SELECT a.brand, a.q AS q0, b.q AS q1, a.r AS r0, b.r AS r1
    FROM by_year a JOIN by_year b ON a.brand = b.brand AND a.yr = 0 AND b.yr = 1
    WHERE a.q > 0
)
SELECT brand, q0, q1, r0, r1,
       CAST((2 * (CAST(r0 AS HUGEINT) * (q1 - q0) + 1000000000 * CAST(q0 AS HUGEINT))
                 * 1000000 + q0) // (2 * CAST(q0 AS HUGEINT))
            - 1000000000 * CAST(1000000 AS HUGEINT) AS BIGINT) AS volume_micro,
       CAST((r1 - r0) * CAST(1000000 AS HUGEINT)
            - ((2 * (CAST(r0 AS HUGEINT) * (q1 - q0) + 1000000000 * CAST(q0 AS HUGEINT))
                * 1000000 + q0) // (2 * CAST(q0 AS HUGEINT))
               - 1000000000 * CAST(1000000 AS HUGEINT)) AS BIGINT) AS price_mix_micro
FROM wide ORDER BY brand
"""


@register("q374_revenue_bridge", oracle=_BRIDGE_ORACLE)
def q374(lineitem, orders, part):
    """Per-brand 1997->1998 revenue bridge: volume effect at the old
    rate + exact-complement price/mix effect (oracle comment)."""
    li = (
        lineitem.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
            ).select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), 0
            ).otherwise(1).alias("yr"),
            (
                cents("l_extendedprice")
                * (
                    F.lit(10000)
                    - (F.col("l_discount").cast("decimal(18,4)") * 10000).cast("bigint")
                )
            ).alias("rev_cbp"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    d38 = "decimal(38,0)"
    by_year = li.groupBy("brand", "yr").agg(
        F.sum("qty").cast("bigint").alias("q"),
        F.expr(
            f"CAST((2 * SUM(CAST(rev_cbp AS {d38})) + 10000) DIV 20000 AS BIGINT)"
        ).alias("r"),
    )
    a = by_year.where("yr = 0 AND q > 0").select(
        "brand", F.col("q").alias("q0"), F.col("r").alias("r0")
    )
    b = by_year.where("yr = 1").select(
        F.col("brand").alias("brand_b"), F.col("q").alias("q1"), F.col("r").alias("r1")
    )
    wide = a.join(b, F.col("brand") == F.col("brand_b")).drop("brand_b")
    shift = f"1000000000 * CAST(1000000 AS {d38})"
    vol = (
        rhu(
            f"(CAST(r0 AS {d38}) * (q1 - q0) + 1000000000 * CAST(q0 AS {d38}))"
            " * 1000000",
            f"CAST(q0 AS {d38})",
        ) + f" - {shift}"
    )
    return wide.selectExpr(
        "brand",
        "q0",
        "q1",
        "r0",
        "r1",
        f"CAST({vol} AS BIGINT) AS volume_micro",
        f"CAST((r1 - r0) * CAST(1000000 AS {d38}) - ({vol}) AS BIGINT)"
        " AS price_mix_micro",
    ).orderBy("brand")


# ---------- q375: 1-bit embedding quantization + Hamming recall@10

# The binary-quantization evaluation closing the compression lane
# (q101 int8 scale-quantize, q313 mapInArrow int8, q252 random
# projection): sign-bit vectors cost 64 bits instead of 64 floats;
# this query measures what that costs in retrieval quality — recall@10
# of Hamming-distance search against exact-cosine search for the first
# five vectors as queries. Embeddings are milli-quantized ONCE to
# integers on both engines (q343 recipe), so dot products / norms /
# sign bits are exact; cosine is ranked by its ROUND(,4) value with
# vec_id tiebreaks (house rule), Hamming by (distance ASC, vec_id).
# Brute force IS the contract here (the oracle twin must enumerate
# pairs); the scale path for the same semantics is the IVF/LSH family
# (q52/q135/q54).
_HAMMING_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT vec_id,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), q AS MATERIALIZED (
    SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 5
), p AS (
    SELECT qid, b.vec_id AS bid,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> qv[i] * b.v[i]))
                AS BIGINT) AS dot,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> qv[i] * qv[i]))
                AS BIGINT) AS nq,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> b.v[i] * b.v[i]))
                AS BIGINT) AS nb,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65),
                i -> CASE WHEN (qv[i] > 0) <> (b.v[i] > 0) THEN 1 ELSE 0 END))
                AS BIGINT) AS ham
    FROM q, v b WHERE b.vec_id <> qid
), pc AS MATERIALIZED (
    SELECT qid, bid, ham,
           ROUND(CAST(dot AS DOUBLE)
                 / (SQRT(CAST(nq AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))), 4) AS cos4
    FROM p WHERE nq > 0 AND nb > 0
), tc AS MATERIALIZED (
    SELECT qid, bid FROM (
        SELECT qid, bid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, bid) AS rn
        FROM pc) WHERE rn <= 10
), th AS MATERIALIZED (
    SELECT qid, bid FROM (
        SELECT qid, bid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, bid) AS rn
        FROM pc) WHERE rn <= 10
), ov AS MATERIALIZED (
    SELECT tc.qid, CAST(COUNT(*) AS BIGINT) AS c
    FROM tc JOIN th ON tc.qid = th.qid AND tc.bid = th.bid GROUP BY tc.qid
)
SELECT q.qid AS vec_id, CAST(COALESCE(ov.c, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(ov.c, 0) * 100000 AS BIGINT) AS recall_micro
FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN ov ON ov.qid = q.qid
ORDER BY vec_id
"""


@register("q375_hamming_recall", oracle=_HAMMING_ORACLE)
def q375(embeddings):
    """Recall@10 of sign-bit Hamming search vs exact cosine for five
    query vectors (oracle comment)."""
    v = embeddings.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
        ).alias("v"),
    )
    zsum = lambda arr, f: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + f(x)
    )
    q = v.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    p = (
        v.select(F.col("vec_id").alias("bid"), F.col("v").alias("bv"))
        .crossJoin(F.broadcast(q))
        .where(F.col("bid") != F.col("qid"))
        .select(
            "qid",
            "bid",
            zsum(F.zip_with("qv", "bv", lambda a, b: a * b), lambda x: x).alias("dot"),
            zsum(F.col("qv"), lambda x: x * x).alias("nq"),
            zsum(F.col("bv"), lambda x: x * x).alias("nb"),
            zsum(
                F.zip_with(
                    "qv",
                    "bv",
                    lambda a, b: F.when((a > 0) != (b > 0), F.lit(1)).otherwise(
                        F.lit(0)
                    ).cast("bigint"),
                ),
                lambda x: x,
            ).alias("ham"),
        )
    )
    pc = p.where((F.col("nq") > 0) & (F.col("nb") > 0)).select(
        "qid",
        "bid",
        "ham",
        F.round(
            F.col("dot")
            / (F.sqrt(F.col("nq").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
            4,
        ).alias("cos4"),
    )
    wc = Window.partitionBy("qid").orderBy(F.col("cos4").desc(), "bid")
    wh = Window.partitionBy("qid").orderBy("ham", "bid")
    tc = pc.withColumn("rn", F.row_number().over(wc)).where("rn <= 10").select(
        "qid", "bid"
    )
    th = pc.withColumn("rn", F.row_number().over(wh)).where("rn <= 10").select(
        F.col("qid").alias("hqid"), F.col("bid").alias("hbid")
    )
    ov = (
        tc.join(th, (tc.qid == th.hqid) & (tc.bid == th.hbid))
        .groupBy("qid")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return (
        q.select("qid")
        .distinct()
        .join(ov, "qid", "left")
        .select(
            F.col("qid").alias("vec_id"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("c"), F.lit(0)) * 100000)
            .cast("bigint")
            .alias("recall_micro"),
        )
        .orderBy("vec_id")
    )


# ---------- q376: Misra-Gries heavy hitters (mergeable candidates +
#             exact recount)

# The deterministic counter-based heavy-hitter sketch beside the
# randomized count-min (q238) and KMV (q235): each partition runs
# Misra-Gries with K=5 counters over the skewed traffic key (the four
# non-purchase event types are each ~20% of traffic; purchases shatter
# into ~|items| keys of ~0.2% each), and the per-partition guarantee
# (undercount <= n_p/(K+1)) plus pigeonhole makes the candidate union
# a SUPERSET of every key with global count > n/6. The exact recount
# touches only candidate-key rows (semi-join before the groupBy — at
# scale this skips the full-cardinality aggregation, which is the
# whole point of the sketch), so the final answer is exact and
# partitioning-independent — hence oracle-hashable against plain SQL.
_MG_ORACLE = """
WITH keyed AS MATERIALIZED (
    SELECT CASE WHEN event_type = 'purchase'
                THEN 'purchase:' ||
                     CAST(CAST(json_extract(props, '$.k') AS INT) AS VARCHAR)
                ELSE event_type END AS key
    FROM events
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed)
SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST((2 * COUNT(*) * 1000000 + n) // (2 * n) AS BIGINT) AS share_micro
FROM keyed, tot
GROUP BY key, n HAVING 6 * COUNT(*) > n
ORDER BY key
"""


@register("q376_misra_gries", oracle=_MG_ORACLE)
def q376(events):
    """Keys with global frequency > n/6 via per-partition Misra-Gries
    candidates + candidate-only exact recount (oracle comment)."""
    from ..operators.misra_gries import mg_candidates

    keyed = events.select(
        F.when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("purchase:"),
                F.get_json_object("props", "$.k").cast("int").cast("string"),
            ),
        )
        .otherwise(F.col("event_type"))
        .alias("key")
    )
    candidates = mg_candidates(keyed, "key", k=5)
    tot = keyed.agg(F.count("*").cast("bigint").alias("n"))
    return (
        keyed.join(F.broadcast(candidates), "key", "left_semi")
        .groupBy("key")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(6 * F.col("cnt") > F.col("n"))
        .selectExpr(
            "key",
            "cnt",
            f"CAST({rhu('cnt * 1000000', 'n')} AS BIGINT) AS share_micro",
        )
        .orderBy("key")
    )


# ---------- q377: CUPED variance reduction (experimentation platform)

# The industry-standard pre-experiment covariate adjustment: theta =
# cov(x, y) / var(x) with x = each user's week-1 spend and y = their
# week-4 spend; var(y_adj) = var(y)(1 - rho^2), so rho^2 IS the
# variance-reduction fraction CUPED buys. Both ratios are published as
# ROUND(,6) doubles of EXACT DECIMAL(38) moment combinations (n*Sxy -
# Sx*Sy etc.) — the cast decimal->double is correctly rounded and the
# IEEE ops after it are engine-identical (q168's correlation
# contract); the moments themselves come from ONE map-side-combinable
# aggregate over the per-user conditional sums.
_CUPED_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08'
                THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-24'
                THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY user_id
), m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
             6) AS var_reduction
FROM m WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


@register("q377_cuped_adjustment", oracle=_CUPED_ORACLE)
def q377(events):
    """CUPED theta and variance-reduction fraction from exact per-user
    week-1/week-4 spend moments (oracle comment)."""
    day = F.col("ts").cast("date")
    spend = cents("value")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(day < F.lit("2024-01-08").cast("date"), spend).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(day >= F.lit("2024-01-24").cast("date"), spend).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    d38 = "decimal(38,0)"
    m = per_user.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
    )
    return m.where(
        (F.expr("n * sxx - sx * sx") > 0) & (F.expr("n * syy - sy * sy") > 0)
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta",
        "ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),"
        " 6) AS var_reduction",
    )


# ---------- q378: difference-in-differences (causal analytics row)

# The 2x2 causal workhorse: BUILDING customers as the "treated" group,
# AUTOMOBILE as control, 1997 as pre and 1998 as post; the DiD
# estimate is (T_post - T_pre) - (C_post - C_pre) on mean order value.
# Each cell mean is rounded half-up to integer micro-cents ONCE (exact
# rational -> integer), after which the estimate is pure BIGINT
# subtraction — the parallel-trends arithmetic cannot diverge between
# engines. One conditional aggregation over orders joined to the
# broadcast customer dim.
_DID_ORACLE = """
WITH cells AS (
    SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
           CASE WHEN o.o_orderdate >= DATE '1998-01-01' THEN 1 ELSE 0 END AS post,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1999-01-01'
    GROUP BY 1, 2
), means AS (
    SELECT treated, post,
           CAST((2 * cents * 1000000 + n) // (2 * n) AS BIGINT) AS mean_micro
    FROM cells
)
SELECT MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_micro END) AS t_pre,
       MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_micro END) AS t_post,
       MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_micro END) AS c_pre,
       MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_micro END) AS c_post,
       MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_micro END)
       - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_micro END)
       - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_micro END)
          - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_micro END))
           AS did_micro
FROM means
"""


@register("q378_diff_in_diff", oracle=_DID_ORACLE)
def q378(orders, customer):
    """Difference-in-differences on mean order value: BUILDING vs
    AUTOMOBILE, 1997 vs 1998 (oracle comment)."""
    cells = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
        .join(
            F.broadcast(
                customer.where(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")).select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("treated"),
            F.when(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"), 1)
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents("o_totalprice")).cast("bigint").alias("cents"),
        )
    )
    means = cells.selectExpr(
        "treated",
        "post",
        f"CAST({rhu('cents * 1000000', 'n')} AS BIGINT) AS mean_micro",
    )
    pick = lambda tr, po: F.max(  # noqa: E731
        F.when((F.col("treated") == tr) & (F.col("post") == po), F.col("mean_micro"))
    )
    return means.agg(
        pick(1, 0).alias("t_pre"),
        pick(1, 1).alias("t_post"),
        pick(0, 0).alias("c_pre"),
        pick(0, 1).alias("c_post"),
    ).selectExpr(
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        "(t_post - t_pre) - (c_post - c_pre) AS did_micro",
    )


# ---------- q379: metadata columns over a partitioned write

# The Spark hidden-column feature row (_metadata.file_path): write a
# directory-partitioned copy of events (coalesce(1) per partition so
# the file count is layout-deterministic), read it back, and audit
# rows-per-physical-file with the partition value RECOVERED FROM THE
# FILE PATH rather than the data. The oracle reconstructs the same
# audit from plain counts — equality proves partition pruning wrote
# every row into the directory its event_type dictates and _metadata
# resolution works. (DuckDB's `filename` virtual column is the same
# feature; the tmp layout is Spark-private, so the oracle recomputes
# from the logical table instead of reading the files.)
_META_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("q379_metadata_columns", oracle=_META_ORACLE)
def q379(spark, events):
    """Per-file row audit of a partitioned write via the _metadata
    hidden column (oracle comment)."""
    from ..scratch import scratch_dir

    d = scratch_dir("q379_by_type")
    (
        events.select("event_id", "event_type")
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(d)
    )
    back = spark.read.parquet(d).select(
        F.col("_metadata.file_path").alias("file_path")
    )
    per_file = back.groupBy("file_path").agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    return (
        per_file.groupBy(
            F.regexp_extract("file_path", r"event_type=([^/]+)/", 1).alias(
                "event_type"
            )
        )
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_files"),
        )
        .orderBy("event_type")
    )


# ---------- q380: local clustering coefficient (per-node triangles)

# The per-node refinement of q229's global triangle count: cc(v) =
# 2*tri(v) / (deg(v)*(deg(v)-1)) over the same co-purchase part graph.
# operators/triangles.triangle_list enumerates each triangle exactly
# once under the (deg, id) orientation (wedge out-degree bounded by
# ~sqrt(2m) — no hub blowup), then one explode + groupBy turns the
# list into per-node counts; the coefficient is a positive exact
# rational rounded half-up to micro units. The id-ordered triple-join
# oracle proves the oriented enumeration finds the identical triangle
# set.
_CLUSTERING_ORACLE = """
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
    FROM lineitem WHERE l_partkey % 2 = 0
), e AS MATERIALIZED (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
), deg AS MATERIALIZED (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
    ) GROUP BY node
), tri AS MATERIALIZED (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        SELECT UNNEST([e1.u, e1.v, e2.v]) AS node
        FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ) GROUP BY node
)
SELECT d.node, d.deg, CAST(COALESCE(t.tri, 0) AS BIGINT) AS n_triangles,
       CAST((2 * 2 * COALESCE(t.tri, 0) * 1000000 + d.deg * (d.deg - 1))
            // (2 * d.deg * (d.deg - 1)) AS BIGINT) AS cc_micro
FROM deg d LEFT JOIN tri t ON t.node = d.node
WHERE d.deg >= 2
ORDER BY cc_micro DESC, d.node LIMIT 20
"""


@register("q380_clustering_coefficient", oracle=_CLUSTERING_ORACLE)
def q380(lineitem):
    """Top-20 local clustering coefficients over the co-purchase part
    graph (oracle comment)."""
    from ..operators.triangles import cooccurrence_edges, triangle_list

    li = (
        lineitem
        .where(F.col("l_partkey") % 2 == 0)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    )
    # collect_set-per-order + codegen pair expansion (2 shuffles) in
    # place of distinct -> self-join -> distinct (3): same edge set
    e = cooccurrence_edges(li, "ok", "p")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    tri = (
        triangle_list(e)
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("tri"))
    )
    return (
        deg.join(tri, "node", "left")
        .where(F.col("deg") >= 2)
        .selectExpr(
            "node",
            "deg",
            "CAST(COALESCE(tri, 0) AS BIGINT) AS n_triangles",
            f"CAST({rhu('2 * COALESCE(tri, 0) * 1000000', 'deg * (deg - 1)')}"
            " AS BIGINT) AS cc_micro",
        )
        .orderBy(F.col("cc_micro").desc(), "node")
        .limit(20)
    )


# ---------- q381: rolling 28-day correlation (bivariate monitoring)

# The rolling counterpart of q168's static correlation matrix:
# corr(daily revenue, daily order count) over a trailing 28-day frame,
# one value per day once the frame is full. All six moments are EXACT
# integer window sums over the |days| spine; the Pearson value is the
# ROUND(,6) double of those integers (q168/q377 contract). Rows with a
# degenerate frame (either variance 0) are excluded identically on
# both engines.
_ROLLCORR_ORACLE = """
WITH d AS (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS x,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM orders GROUP BY o_orderdate
), w AS (
    SELECT day,
           COUNT(*) OVER f AS n,
           SUM(CAST(x AS HUGEINT)) OVER f AS sx,
           SUM(CAST(y AS HUGEINT)) OVER f AS sy,
           SUM(CAST(x AS HUGEINT) * y) OVER f AS sxy,
           SUM(CAST(x AS HUGEINT) * x) OVER f AS sxx,
           SUM(CAST(y AS HUGEINT) * y) OVER f AS syy,
           ROW_NUMBER() OVER (ORDER BY day) AS i
    FROM d
    WINDOW f AS (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS DATE) AS day,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr28
FROM w
WHERE i >= 28 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
ORDER BY day
"""


@register("q381_rolling_correlation", oracle=_ROLLCORR_ORACLE)
def q381(orders):
    """Trailing-28-day Pearson correlation of daily revenue vs order
    count on the day spine (oracle comment)."""
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x"),
        F.count("*").cast("bigint").alias("y"),
    )
    d38 = "decimal(38,0)"
    f = Window.orderBy("day").rowsBetween(-27, 0)
    w = d.select(
        "day",
        F.count("*").over(f).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).over(f).alias("sx"),
        F.sum(F.col("y").cast(d38)).over(f).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).over(f).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).over(f).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).over(f).alias("syy"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
    )
    return (
        w.where(
            (F.col("i") >= 28)
            & (F.expr("n * sxx - sx * sx") > 0)
            & (F.expr("n * syy - sy * sy") > 0)
        )
        .selectExpr(
            "CAST(day AS DATE) AS day",
            "ROUND(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))"
            " * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr28",
        )
        .orderBy("day")
    )


# ---------- q382: ordered-set aggregates (MEDIAN / PERCENTILE_DISC)

# The built-in ordered-set aggregate feature row (the manual
# nearest-rank machinery lives in q180/q291/q350 — THIS row proves the
# engine builtins agree across engines): MEDIAN interpolates the two
# middle values (.5-exact doubles on integer cents, engine-identical)
# and PERCENTILE_DISC(p) WITHIN GROUP returns the smallest value whose
# cume_dist >= p — the same definition as DuckDB's QUANTILE_DISC, cast
# to BIGINT on both sides since Spark surfaces it as a double.
_ORDSET_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MEDIAN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS median_cents,
       CAST(QUANTILE_DISC(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.25)
            AS BIGINT) AS p25_cents,
       CAST(QUANTILE_DISC(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.90)
            AS BIGINT) AS p90_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("q382_ordered_set_aggs", oracle=_ORDSET_ORACLE)
def q382(spark):
    """Built-in MEDIAN + PERCENTILE_DISC WITHIN GROUP per event type
    (oracle comment)."""
    return spark.sql(
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               MEDIAN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS median_cents,
               CAST(PERCENTILE_DISC(0.25) WITHIN GROUP
                    (ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS p25_cents,
               CAST(PERCENTILE_DISC(0.90) WITHIN GROUP
                    (ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS p90_cents
        FROM events GROUP BY event_type ORDER BY event_type
        """
    )


# ---------- q383: bitwise aggregate rollup (capability masks)

# The bit-aggregate function row (BIT_AND / BIT_OR / BIT_XOR): encode
# each user's observed event types as a 5-bit capability mask (one
# map-side conditional max per bit), then roll masks up per user
# bucket — BIT_AND = capabilities EVERY user in the bucket has, BIT_OR
# = any, BIT_XOR = the parity fingerprint the engines must agree on
# bit-for-bit. Popcount of the consensus mask is spelled as five
# explicit shift-and-mask terms (engine-portable; masks are 5 bits by
# construction). All integers end-to-end.
_BITMASK_ORACLE = """
WITH masks AS (
    SELECT user_id,
           CAST(BIT_OR(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
                AS BIGINT) AS mask
    FROM events GROUP BY user_id
)
SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(BIT_AND(mask) AS BIGINT) AS all_caps,
       CAST(BIT_OR(mask) AS BIGINT) AS any_caps,
       CAST(BIT_XOR(mask) AS BIGINT) AS parity,
       CAST((BIT_AND(mask) & 1) + ((BIT_AND(mask) >> 1) & 1)
            + ((BIT_AND(mask) >> 2) & 1) + ((BIT_AND(mask) >> 3) & 1)
            + ((BIT_AND(mask) >> 4) & 1) AS BIGINT) AS n_common_caps
FROM masks GROUP BY user_id % 8 ORDER BY bucket
"""


@register("q383_bitmask_rollup", oracle=_BITMASK_ORACLE)
def q383(spark):
    """BIT_AND/BIT_OR/BIT_XOR rollup of per-user capability masks
    (oracle comment)."""
    return spark.sql(
        """
        WITH masks AS (
            SELECT user_id,
                   CAST(BIT_OR(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                        WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
                        AS BIGINT) AS mask
            FROM events GROUP BY user_id
        )
        SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(BIT_AND(mask) AS BIGINT) AS all_caps,
               CAST(BIT_OR(mask) AS BIGINT) AS any_caps,
               CAST(BIT_XOR(mask) AS BIGINT) AS parity,
               CAST((BIT_AND(mask) & 1) + (SHIFTRIGHT(BIT_AND(mask), 1) & 1)
                    + (SHIFTRIGHT(BIT_AND(mask), 2) & 1)
                    + (SHIFTRIGHT(BIT_AND(mask), 3) & 1)
                    + (SHIFTRIGHT(BIT_AND(mask), 4) & 1) AS BIGINT) AS n_common_caps
        FROM masks GROUP BY user_id % 8 ORDER BY bucket
        """
    )


# ---------- q384: multi-aggregate PIVOT

# q77 pivots one measure; production reshape pivots SEVERAL in one
# pass — Spark's PIVOT (SUM(...) AS s, COUNT(*) AS c FOR status IN
# ('O' AS o, ...)) emits the cross product of value aliases x measure
# aliases as columns (o_rev, o_n, ...) in ONE aggregation over the
# fact scan. The oracle spells the identical reshape as conditional
# aggregation (PIVOT is sugar — the CONTRACT is the wide result, not
# the syntax; DuckDB's PIVOT names columns differently, so the oracle
# normalizes via explicit FILTER aggregates).
_MPIVOT_ORACLE = """
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            FILTER (o_orderstatus = 'O'), 0) AS BIGINT) AS o_rev,
       CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_n,
       CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            FILTER (o_orderstatus = 'F'), 0) AS BIGINT) AS f_rev,
       CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_n,
       CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            FILTER (o_orderstatus = 'P'), 0) AS BIGINT) AS p_rev,
       CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p_n
FROM orders GROUP BY 1 ORDER BY yr
"""


@register("q384_multi_agg_pivot", oracle=_MPIVOT_ORACLE)
def q384(spark):
    """PIVOT with two aggregates per status value (oracle comment)."""
    wide = spark.sql(
        """
        SELECT * FROM (
            SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr, o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM orders
        )
        PIVOT (
            SUM(cents) AS rev, COUNT(*) AS n
            FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p)
        )
        ORDER BY yr
        """
    )
    # PIVOT leaves absent cells NULL; normalize to the oracle's
    # COALESCE(.,0) sums and pin the column order
    return wide.selectExpr(
        "yr",
        "CAST(COALESCE(o_rev, 0) AS BIGINT) AS o_rev",
        "CAST(COALESCE(o_n, 0) AS BIGINT) AS o_n",
        "CAST(COALESCE(f_rev, 0) AS BIGINT) AS f_rev",
        "CAST(COALESCE(f_n, 0) AS BIGINT) AS f_n",
        "CAST(COALESCE(p_rev, 0) AS BIGINT) AS p_rev",
        "CAST(COALESCE(p_n, 0) AS BIGINT) AS p_n",
    )


# ---------- q385: Benjamini-Hochberg FDR over permutation p-values

# The multiple-testing layer missing above q188/q335: five hypotheses
# (one per event type — "does mean user spend differ between odd and
# even users WITHIN this type?"), each given a q335-style md5
# permutation p-value (K=60 pseudo-assignments keyed md5(type:user:k)
# so the permutation streams are independent across hypotheses; the
# extreme-count comparison is cross-multiplied exact DECIMAL(38), no
# division). BH then runs ENTIRELY on integers: p_i = (extreme_i+1)/61
# and the step-up rule p_(i) <= i*alpha/m at alpha=0.10, m=5 becomes
# 50*(extreme_i+1) <= 61*i under the unique (p, type) rank order;
# every hypothesis ranked at or below the largest passing rank is
# rejected. The K-expansion happens on the (type, user) frame, never
# the fact table.
_BH_ORACLE = """
WITH per AS MATERIALIZED (
    SELECT event_type, user_id,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
    FROM events GROUP BY event_type, user_id
), obs AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN cents ELSE 0 END) AS HUGEINT) AS sa,
           CAST(SUM(CASE WHEN user_id % 2 = 1 THEN cents ELSE 0 END) AS HUGEINT) AS sb,
           CAST(COUNT(*) FILTER (user_id % 2 = 0) AS HUGEINT) AS na,
           CAST(COUNT(*) FILTER (user_id % 2 = 1) AS HUGEINT) AS nb
    FROM per GROUP BY event_type
), perm AS (
    SELECT event_type, k,
           CAST(SUM(CASE WHEN g = 0 THEN cents ELSE 0 END) AS HUGEINT) AS sa,
           CAST(SUM(CASE WHEN g = 1 THEN cents ELSE 0 END) AS HUGEINT) AS sb,
           CAST(COUNT(*) FILTER (g = 0) AS HUGEINT) AS na,
           CAST(COUNT(*) FILTER (g = 1) AS HUGEINT) AS nb
    FROM (
        SELECT p.event_type, p.cents, k.k,
               ('0x' || SUBSTR(MD5(p.event_type || ':'
                               || CAST(p.user_id AS VARCHAR) || ':'
                               || CAST(k.k AS VARCHAR)), 1, 8))::BIGINT % 2 AS g
        FROM per p, range(0, 60) k(k)
    ) GROUP BY event_type, k
), ext AS (
    SELECT o.event_type,
           CAST(COUNT(*) FILTER (
               p.na > 0 AND p.nb > 0 AND
               ABS(p.sa * p.nb - p.sb * p.na) * (o.na * o.nb)
               >= ABS(o.sa * o.nb - o.sb * o.na) * (p.na * p.nb)
           ) AS BIGINT) AS n_extreme
    FROM perm p JOIN obs o ON o.event_type = p.event_type
    GROUP BY o.event_type
), ranked AS MATERIALIZED (
    SELECT event_type, n_extreme,
           ROW_NUMBER() OVER (ORDER BY n_extreme, event_type) AS i
    FROM ext
), cut AS (
    SELECT COALESCE(MAX(CASE WHEN 50 * (n_extreme + 1) <= 61 * i
                             THEN i END), 0) AS imax
    FROM ranked
)
SELECT r.event_type, r.n_extreme,
       CAST((2 * (r.n_extreme + 1) * 1000000 + 61) // (2 * 61) AS BIGINT)
           AS p_micro,
       CAST(r.i AS BIGINT) AS bh_rank,
       CAST(CASE WHEN r.i <= c.imax THEN 1 ELSE 0 END AS BIGINT) AS rejected
FROM ranked r, cut c ORDER BY r.event_type
"""


@register("q385_bh_fdr", oracle=_BH_ORACLE)
def q385(spark, events):
    """BH step-up at FDR 0.10 over five md5-permutation p-values
    (oracle comment)."""
    # pinned: per feeds the observed split AND the 60-permutation
    # expansion — unpinned, the events scan+aggregate runs twice; ranked
    # below is pinned because the BH cut AND the final projection would
    # otherwise each re-run the whole permutation subtree (guide §2.4;
    # before-plan: 12 Exchanges)
    per = (
        events.groupBy("event_type", "user_id")
        .agg(
            F.sum(cents("value")).cast("bigint").alias("cents")
        )
        .transform(pin)
    )
    d38 = "decimal(38,0)"

    def split(df, keys, gcol):
        return df.groupBy(*keys).agg(
            F.sum(F.when(gcol == 0, F.col("cents")).otherwise(0)).cast(d38).alias("sa"),
            F.sum(F.when(gcol == 1, F.col("cents")).otherwise(0)).cast(d38).alias("sb"),
            F.count(F.when(gcol == 0, 1)).cast(d38).alias("na"),
            F.count(F.when(gcol == 1, 1)).cast(d38).alias("nb"),
        )

    obs = split(per, ["event_type"], F.col("user_id") % 2)
    expanded = per.crossJoin(
        F.broadcast(spark.range(0, 60).select(F.col("id").alias("k")))
    ).select(
        "event_type",
        "cents",
        "k",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_type"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("g"),
    )
    perm = split(expanded, ["event_type", "k"], F.col("g"))
    ext = (
        perm.join(
            F.broadcast(
                obs.select(
                    F.col("event_type").alias("ot"),
                    F.col("sa").alias("osa"),
                    F.col("sb").alias("osb"),
                    F.col("na").alias("ona"),
                    F.col("nb").alias("onb"),
                )
            ),
            F.col("event_type") == F.col("ot"),
        )
        .groupBy("event_type")
        .agg(
            F.count(
                F.when(
                    F.expr(
                        "na > 0 AND nb > 0 AND"
                        " ABS(sa * nb - sb * na) * (ona * onb)"
                        " >= ABS(osa * onb - osb * ona) * (na * nb)"
                    ),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_extreme")
        )
    )
    ranked = ext.select(
        "event_type",
        "n_extreme",
        F.row_number().over(Window.orderBy("n_extreme", "event_type")).alias("i"),
    ).transform(pin)
    cut = ranked.agg(
        F.coalesce(
            F.max(F.when(50 * (F.col("n_extreme") + 1) <= 61 * F.col("i"), F.col("i"))),
            F.lit(0),
        ).alias("imax")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .selectExpr(
            "event_type",
            "n_extreme",
            f"CAST({rhu('(n_extreme + 1) * 1000000', '61')} AS BIGINT) AS p_micro",
            "CAST(i AS BIGINT) AS bh_rank",
            "CAST(CASE WHEN i <= imax THEN 1 ELSE 0 END AS BIGINT) AS rejected",
        )
        .orderBy("event_type")
    )


# ---------- q386: XmR control chart (statistical process control)

# The individuals/moving-range chart behind every SPC dashboard: center
# line = mean daily revenue, natural process limits = mean +/- 2.66 *
# mean moving range (the 2.66 = 3/d2 constant for n=2 subgroups,
# carried as the exact rational 266/100). Everything reduces to
# integer comparisons on the |days| spine: a day is out-of-control iff
# |n_mr * (n * x - sx)| * 100 > 266 * n * s_mr ... cross-multiplied so
# the flag never touches a rounded value; the published limits are
# micro-cent round-half-ups of the same rationals. One LAG window for
# the moving range, aggregates above the day frame.
_XMR_ORACLE = _DAILY_CTE + """
, mr AS MATERIALIZED (
    SELECT day, cents,
           ABS(cents - LAG(cents) OVER (ORDER BY day)) AS mrange
    FROM daily
), stats AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(cents) AS HUGEINT) AS sx,
           CAST(COUNT(mrange) AS HUGEINT) AS n_mr,
           CAST(SUM(mrange) AS HUGEINT) AS s_mr
    FROM mr
), flags AS MATERIALIZED (
    SELECT m.day, m.cents,
           CASE WHEN ABS(s.n_mr * (s.n * m.cents - s.sx)) * 100
                     > 266 * s.n * s.s_mr THEN 1 ELSE 0 END AS ooc
    FROM mr m, stats s
)
SELECT CAST((SELECT COUNT(*) FROM flags) AS BIGINT) AS n_days,
       CAST((SELECT SUM(ooc) FROM flags) AS BIGINT) AS n_out_of_control,
       CAST((2 * s.sx * 1000000 + s.n) // (2 * s.n) AS BIGINT) AS center_micro,
       CAST((2 * (s.sx * s.n_mr * 100 + 266 * s.n * s.s_mr) * 1000000
             + s.n * s.n_mr * 100) // (2 * s.n * s.n_mr * 100) AS BIGINT)
           AS ucl_micro,
       CAST((2 * (s.sx * s.n_mr * 100 - 266 * s.n * s.s_mr + s.n * s.n_mr * 100
                  * 100000000) * 1000000 + s.n * s.n_mr * 100)
            // (2 * s.n * s.n_mr * 100)
            - 100000000 * CAST(1000000 AS HUGEINT) AS BIGINT) AS lcl_micro
FROM stats s
"""


@register("q386_xmr_control_chart", oracle=_XMR_ORACLE)
def q386(orders):
    """XmR chart summary of daily revenue: center, UCL/LCL, exact
    out-of-control day count (oracle comment)."""
    daily = _daily_cents(orders)
    mr = daily.select(
        "day",
        "cents",
        F.abs(
            F.col("cents") - F.lag("cents").over(Window.orderBy("day"))
        ).alias("mrange"),
    )
    d38 = "decimal(38,0)"
    stats = mr.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("cents").cast(d38).alias("sx"),
        F.count("mrange").cast(d38).alias("n_mr"),
        F.sum("mrange").cast(d38).alias("s_mr"),
    )
    flags = mr.crossJoin(F.broadcast(stats)).select(
        F.when(
            F.expr("ABS(n_mr * (n * cents - sx)) * 100 > 266 * n * s_mr"), 1
        )
        .otherwise(0)
        .alias("ooc")
    )
    counts = flags.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("ooc").cast("bigint").alias("n_out_of_control"),
    )
    return counts.crossJoin(F.broadcast(stats)).selectExpr(
        "n_days",
        "n_out_of_control",
        f"CAST({rhu('sx * 1000000', 'n')} AS BIGINT) AS center_micro",
        f"CAST({rhu('(sx * n_mr * 100 + 266 * n * s_mr) * 1000000', 'n * n_mr * 100')}"
        " AS BIGINT) AS ucl_micro",
        "CAST(" + rhu(
            "(sx * n_mr * 100 - 266 * n * s_mr + n * n_mr * 100 * 100000000) * 1000000",
            "n * n_mr * 100",
        ) + f" - 100000000 * CAST(1000000 AS {d38}) AS BIGINT) AS lcl_micro",
    )


# ---------- q387: embedding centroid drift per label

# Embedding-space monitoring for the vector lane (q244 dim profile,
# q343 truncation quality): split each label's vectors into early/late
# halves by vec_id, build both centroids, and report their cosine —
# a drop below ~1 means the population of that label MOVED between
# snapshots (index-rebuild / re-embedding trigger). Centroids stay
# EXACT: milli-quantized integer vectors (q343 recipe) summed
# per-half, cosine = ROUND(,6) double of the three exact integer
# products (sums of products up to ~1e14 at sf0.1 — inside HUGEINT /
# DECIMAL(38), and the double cast is correctly rounded on both
# engines). The n-divisors of the two centroids cancel inside the
# cosine, so no division happens before the final rounding.
_CDRIFT_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT vec_id, label,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), half AS (
    SELECT label, vec_id, v,
           CASE WHEN vec_id < (SELECT MAX(vec_id) + 1 FROM v) / 2
                THEN 0 ELSE 1 END AS h
    FROM v
), sums AS MATERIALIZED (
    SELECT label, h, i,
           CAST(SUM(v[i]) AS HUGEINT) AS s, CAST(COUNT(*) AS HUGEINT) AS n
    FROM half, (SELECT UNNEST(range(1, 65)) AS i)
    GROUP BY label, h, i
), pairs AS (
    SELECT a.label,
           SUM(a.s * b.s) AS dot,
           SUM(a.s * a.s) AS na,
           SUM(b.s * b.s) AS nb,
           MAX(a.n) AS n_early, MAX(b.n) AS n_late
    FROM sums a JOIN sums b ON a.label = b.label AND a.i = b.i
                           AND a.h = 0 AND b.h = 1
    GROUP BY a.label
)
SELECT CAST(label AS INT) AS label,
       CAST(n_early AS BIGINT) AS n_early, CAST(n_late AS BIGINT) AS n_late,
       ROUND(CAST(dot AS DOUBLE)
             / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))), 6)
           AS centroid_cos
FROM pairs WHERE na > 0 AND nb > 0 ORDER BY label
"""


@register("q387_centroid_drift", oracle=_CDRIFT_ORACLE)
def q387(embeddings):
    """Per-label cosine between early-half and late-half embedding
    centroids (oracle comment)."""
    v = embeddings.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
        ).alias("v"),
    )
    mx = v.agg(((F.max("vec_id") + 1) / 2).alias("cut"))
    half = v.crossJoin(F.broadcast(mx)).select(
        "label",
        "v",
        F.when(F.col("vec_id") < F.col("cut"), 0).otherwise(1).alias("h"),
    )
    d38 = "decimal(38,0)"
    # per (label, half, dim): exact integer centroid sums — posexplode
    # keeps the aggregate map-side combinable (a collect_list fold
    # would buffer every vector of a label group in one row)
    sums = half.select(
        "label", "h", F.posexplode("v").alias("i", "val")
    ).groupBy("label", "h", "i").agg(
        F.sum("val").cast(d38).alias("s"), F.count("*").cast("bigint").alias("n")
    )
    a = sums.where("h = 0").select(
        "label", "i", F.col("s").alias("sa"), F.col("n").alias("n_early")
    )
    b = sums.where("h = 1").select(
        F.col("label").alias("lb"),
        F.col("i").alias("ib"),
        F.col("s").alias("sb"),
        F.col("n").alias("n_late"),
    )
    pairs = (
        a.join(b, (F.col("label") == F.col("lb")) & (F.col("i") == F.col("ib")))
        .groupBy("label")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("na"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb"),
            F.max("n_early").alias("n_early"),
            F.max("n_late").alias("n_late"),
        )
        .where((F.col("na") > 0) & (F.col("nb") > 0))
    )
    return pairs.selectExpr(
        "CAST(label AS INT) AS label",
        "CAST(n_early AS BIGINT) AS n_early",
        "CAST(n_late AS BIGINT) AS n_late",
        "ROUND(CAST(dot AS DOUBLE)"
        " / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))), 6)"
        " AS centroid_cos",
    ).orderBy("label")


# ---------- q388: Simpson's paradox audit (pooled vs within-group)

# The aggregation-reversal check every self-serve analytics layer
# should run before publishing a correlation: the pooled OLS slope of
# quantity on discount vs the per-brand slopes. Slope SIGNS are exact:
# sign(n*Sxy - Sx*Sy) on integer basis-point/quantity moments (the
# variance denominator is positive whenever defined, so the numerator
# carries the sign); groups with a degenerate x-variance are excluded
# identically. The pooled slope is published as a positive-shift
# round-half-up micro value; the paradox flag fires only on a FULL
# reversal (pooled strictly one sign, every qualifying group strictly
# the other).
_SIMPSON_ORACLE = """
WITH pts AS (
    SELECT p.p_brand AS brand,
           CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x,
           CAST(l.l_quantity AS BIGINT) AS y
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), g AS MATERIALIZED (
    SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx
    FROM pts GROUP BY brand
), gsig AS MATERIALIZED (
    SELECT CAST(COUNT(*) FILTER (n * sxy - sx * sy > 0) AS BIGINT) AS n_pos,
           CAST(COUNT(*) FILTER (n * sxy - sx * sy < 0) AS BIGINT) AS n_neg,
           CAST(COUNT(*) FILTER (n * sxy - sx * sy = 0) AS BIGINT) AS n_zero
    FROM g WHERE n * sxx - sx * sx > 0
), pool AS (
    SELECT CAST(SUM(n) AS HUGEINT) AS n, CAST(SUM(sx) AS HUGEINT) AS sx,
           CAST(SUM(sy) AS HUGEINT) AS sy, CAST(SUM(sxy) AS HUGEINT) AS sxy,
           CAST(SUM(sxx) AS HUGEINT) AS sxx
    FROM g
)
SELECT gsig.n_pos AS groups_pos, gsig.n_neg AS groups_neg,
       gsig.n_zero AS groups_zero,
       CAST((2 * ((p.n * p.sxy - p.sx * p.sy) * 1000000
                  + 1000000000 * (p.n * p.sxx - p.sx * p.sx))
             + (p.n * p.sxx - p.sx * p.sx))
            // (2 * (p.n * p.sxx - p.sx * p.sx))
            - 1000000000 * CAST(1000000 AS HUGEINT) AS BIGINT)
           AS pooled_slope_micro,
       CAST(CASE WHEN (p.n * p.sxy - p.sx * p.sy > 0
                       AND gsig.n_pos = 0 AND gsig.n_neg > 0)
                   OR (p.n * p.sxy - p.sx * p.sy < 0
                       AND gsig.n_neg = 0 AND gsig.n_pos > 0)
                 THEN 1 ELSE 0 END AS BIGINT) AS paradox_flag
FROM gsig, pool p WHERE p.n * p.sxx - p.sx * p.sx > 0
"""


@register("q388_simpsons_paradox", oracle=_SIMPSON_ORACLE)
def q388(lineitem, part):
    """Pooled vs per-brand slope signs of quantity~discount (oracle
    comment)."""
    pts = (
        lineitem
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            (F.col("l_discount").cast("decimal(18,4)") * 10000)
            .cast("bigint")
            .alias("x"),
            F.col("l_quantity").cast("bigint").alias("y"),
        )
    )
    d38 = "decimal(38,0)"
    g = pts.groupBy("brand").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
    )
    gsig = g.where(F.expr("n * sxx - sx * sx > 0")).agg(
        F.count(F.when(F.expr("n * sxy - sx * sy > 0"), 1))
        .cast("bigint")
        .alias("groups_pos"),
        F.count(F.when(F.expr("n * sxy - sx * sy < 0"), 1))
        .cast("bigint")
        .alias("groups_neg"),
        F.count(F.when(F.expr("n * sxy - sx * sy = 0"), 1))
        .cast("bigint")
        .alias("groups_zero"),
    )
    pool = g.agg(
        F.sum("n").cast(d38).alias("n"),
        F.sum("sx").cast(d38).alias("sx"),
        F.sum("sy").cast(d38).alias("sy"),
        F.sum("sxy").cast(d38).alias("sxy"),
        F.sum("sxx").cast(d38).alias("sxx"),
    )
    return (
        gsig.crossJoin(F.broadcast(pool))
        .where(F.expr("n * sxx - sx * sx > 0"))
        .selectExpr(
            "groups_pos",
            "groups_neg",
            "groups_zero",
            "CAST(" + rhu(
                "((n * sxy - sx * sy) * 1000000 + 1000000000 * (n * sxx - sx * sx))",
                "(n * sxx - sx * sx)",
            ) + f" - 1000000000 * CAST(1000000 AS {d38}) AS BIGINT)"
            " AS pooled_slope_micro",
            "CAST(CASE WHEN (n * sxy - sx * sy > 0"
            " AND groups_pos = 0 AND groups_neg > 0)"
            " OR (n * sxy - sx * sy < 0"
            " AND groups_neg = 0 AND groups_pos > 0)"
            " THEN 1 ELSE 0 END AS BIGINT) AS paradox_flag",
        )
    )


# ---------- q389: ABC inventory classification (cumulative Pareto classes)

# The warehouse-operations classic refining q187's Pareto share: rank
# parts by revenue, class A = parts while cumulative share <= 80%,
# B = to 95%, C = the tail. Per-part revenue is rounded half-up to
# integer cents ONCE from the exact cents*bp sum; class boundaries are
# integer cross-multiplications of the running total against the grand
# total (cum*100 <= total*80), evaluated on the |parts| dimension
# frame under the unique (revenue DESC, partkey) order — order volume
# is gone before any window runs.
_ABC_ORACLE = """
WITH per_part AS (
    SELECT l_partkey AS part,
           CAST((2 * SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
                 * (10000 - CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)))
                 + 10000) // 20000 AS BIGINT) AS rev
    FROM lineitem GROUP BY l_partkey
), ranked AS (
    SELECT part, rev,
           SUM(rev) OVER (ORDER BY rev DESC, part
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(rev) OVER () AS total
    FROM per_part
), classed AS (
    SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS abc,
           rev
    FROM ranked
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS rev_cents
FROM classed GROUP BY abc ORDER BY abc
"""


@register("q389_abc_classification", oracle=_ABC_ORACLE)
def q389(lineitem):
    """A/B/C revenue classes over the part dimension frame (oracle
    comment)."""
    d38 = "decimal(38,0)"
    per_part = lineitem.groupBy(F.col("l_partkey").alias("part")).agg(
        F.expr(
            f"CAST((2 * SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS {d38})"
            f" * (10000 - CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)))"
            f" + 10000) DIV 20000 AS BIGINT)"
        ).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), "part").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = per_part.select(
        "rev",
        F.sum("rev").over(w).alias("cum"),
        F.sum("rev").over(Window.partitionBy()).alias("total"),
    )
    return (
        ranked.select(
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C")
            .alias("abc"),
            "rev",
        )
        .groupBy("abc")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("rev_cents"),
        )
        .orderBy("abc")
    )


# ---------- q390: outlier-method agreement (z vs MAD vs Tukey)

# Which days do the three standard outlier rules actually agree on?
# All three flags are EXACT integer predicates on the |days| spine:
#   z-score:  (n*x - sx)^2 > 9 * (n*sxx - sx^2)      (3-sigma, squared)
#   MAD:      |x - med| * 10000 > 44478 * mad        (3 * 1.4826)
#   Tukey:    2*x < 2*q1 - 3*iqr  OR  2*x > 2*q3 + 3*iqr   (1.5 fences)
# med/q1/q3/mad are nearest-rank order statistics (r = ceil(p*n))
# picked from VALUE histograms by the q372 range-join posture — the
# deviation histogram for MAD is a second |days|-frame pass, never a
# fact sort. Output: per-method counts plus every pairwise and the
# triple intersection — the agreement matrix monitoring pipelines use
# to pick a rule.
_OUTAGREE_ORACLE = _DAILY_CTE + """
, nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
), m AS (
    SELECT CAST(SUM(cents) AS HUGEINT) AS sx,
           SUM(CAST(cents AS HUGEINT) * cents) AS sxx
    FROM daily
), hist AS (
    SELECT cents, COUNT(*) AS c FROM daily GROUP BY cents
), cumh AS (
    SELECT cents,
           SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
           COALESCE(SUM(c) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM hist
), qs AS MATERIALIZED (
    SELECT MAX(CASE WHEN tag = 1 THEN v END) AS q1,
           MAX(CASE WHEN tag = 2 THEN v END) AS med,
           MAX(CASE WHEN tag = 3 THEN v END) AS q3
    FROM (
        SELECT t.tag, c.cents AS v
        FROM (SELECT 1 AS tag, CAST(CEIL(0.25 * n) AS BIGINT) AS r FROM nn
              UNION ALL SELECT 2, CAST(CEIL(0.50 * n) AS BIGINT) FROM nn
              UNION ALL SELECT 3, CAST(CEIL(0.75 * n) AS BIGINT) FROM nn) t
        JOIN cumh c ON c.cb < t.r AND t.r <= c.cum
    )
), devh AS (
    SELECT ABS(cents - qs.med) AS dev, COUNT(*) AS c
    FROM daily, qs GROUP BY 1
), cumd AS (
    SELECT dev,
           SUM(c) OVER (ORDER BY dev ROWS UNBOUNDED PRECEDING) AS cum,
           COALESCE(SUM(c) OVER (ORDER BY dev
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM devh
), madv AS (
    SELECT c.dev AS mad
    FROM cumd c, nn WHERE c.cb < CEIL(0.50 * n) AND CEIL(0.50 * n) <= c.cum
), flags AS (
    SELECT CASE WHEN (nn.n * d.cents - m.sx) * (nn.n * d.cents - m.sx)
                     > 9 * (nn.n * m.sxx - m.sx * m.sx) THEN 1 ELSE 0 END AS fz,
           CASE WHEN ABS(d.cents - qs.med) * 10000 > 44478 * madv.mad
                THEN 1 ELSE 0 END AS fm,
           CASE WHEN 2 * d.cents < 2 * qs.q1 - 3 * (qs.q3 - qs.q1)
                  OR 2 * d.cents > 2 * qs.q3 + 3 * (qs.q3 - qs.q1)
                THEN 1 ELSE 0 END AS ft
    FROM daily d, nn, m, qs, madv
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(fz) AS BIGINT) AS z_flags,
       CAST(SUM(fm) AS BIGINT) AS mad_flags,
       CAST(SUM(ft) AS BIGINT) AS tukey_flags,
       CAST(SUM(fz * fm) AS BIGINT) AS z_and_mad,
       CAST(SUM(fz * ft) AS BIGINT) AS z_and_tukey,
       CAST(SUM(fm * ft) AS BIGINT) AS mad_and_tukey,
       CAST(SUM(fz * fm * ft) AS BIGINT) AS all_three
FROM flags
"""


@register("q390_outlier_agreement", oracle=_OUTAGREE_ORACLE)
def q390(orders):
    """Agreement matrix of 3-sigma / MAD / Tukey outlier rules on daily
    revenue, all flags exact integer predicates (oracle comment)."""
    # pinned: daily (|days| rows) feeds FIVE consumers (nn, m, hist,
    # devh, flags) — unpinned, each re-runs the lineitem×orders daily
    # aggregate (guide §2.4; before-plan: 29 Exchanges)
    daily = pin(_daily_cents(orders))
    d38 = "decimal(38,0)"
    nn = daily.agg(F.count("*").cast("bigint").alias("n"))
    m = daily.agg(
        F.sum("cents").cast(d38).alias("sx"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).cast(d38).alias("sxx"),
    )

    def _pick(hist_df, vcol, rank_rows):
        """Nearest-rank picks from a VALUE histogram (q372 posture):
        rank_rows is a broadcast (tag, r) frame."""
        wc = Window.orderBy(vcol).rowsBetween(Window.unboundedPreceding, 0)
        wb = Window.orderBy(vcol).rowsBetween(Window.unboundedPreceding, -1)
        cum = hist_df.select(
            vcol,
            F.sum("c").over(wc).alias("cum"),
            F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cb"),
        )
        return cum.join(
            F.broadcast(rank_rows),
            (F.col("cb") < F.col("r")) & (F.col("r") <= F.col("cum")),
        )

    ranks = (
        nn.selectExpr("1 AS tag", "CAST(CEIL(0.25 * n) AS BIGINT) AS r")
        .unionAll(nn.selectExpr("2 AS tag", "CAST(CEIL(0.50 * n) AS BIGINT) AS r"))
        .unionAll(nn.selectExpr("3 AS tag", "CAST(CEIL(0.75 * n) AS BIGINT) AS r"))
    )
    hist = daily.groupBy("cents").agg(F.count("*").alias("c"))
    qs = (
        _pick(hist, "cents", ranks)
        .groupBy()
        .agg(
            F.max(F.when(F.col("tag") == 1, F.col("cents"))).alias("q1"),
            F.max(F.when(F.col("tag") == 2, F.col("cents"))).alias("med"),
            F.max(F.when(F.col("tag") == 3, F.col("cents"))).alias("q3"),
        )
    )
    devh = (
        daily.crossJoin(F.broadcast(qs))
        .select(F.abs(F.col("cents") - F.col("med")).alias("dev"))
        .groupBy("dev")
        .agg(F.count("*").alias("c"))
    )
    madranks = nn.selectExpr("0 AS tag", "CAST(CEIL(0.50 * n) AS BIGINT) AS r")
    madv = _pick(devh, "dev", madranks).select(F.col("dev").alias("mad"))
    flags = (
        daily.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(madv))
        .selectExpr(
            f"CASE WHEN (n * CAST(cents AS {d38}) - sx)"
            f" * (n * CAST(cents AS {d38}) - sx)"
            f" > 9 * (n * sxx - sx * sx) THEN 1 ELSE 0 END AS fz",
            "CASE WHEN ABS(cents - med) * 10000 > 44478 * mad"
            " THEN 1 ELSE 0 END AS fm",
            "CASE WHEN 2 * cents < 2 * q1 - 3 * (q3 - q1)"
            " OR 2 * cents > 2 * q3 + 3 * (q3 - q1) THEN 1 ELSE 0 END AS ft",
        )
    )
    return flags.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("fz").cast("bigint").alias("z_flags"),
        F.sum("fm").cast("bigint").alias("mad_flags"),
        F.sum("ft").cast("bigint").alias("tukey_flags"),
        F.sum(F.col("fz") * F.col("fm")).cast("bigint").alias("z_and_mad"),
        F.sum(F.col("fz") * F.col("ft")).cast("bigint").alias("z_and_tukey"),
        F.sum(F.col("fm") * F.col("ft")).cast("bigint").alias("mad_and_tukey"),
        F.sum(F.col("fz") * F.col("fm") * F.col("ft"))
        .cast("bigint")
        .alias("all_three"),
    )


# ---------- q391: feature-store hygiene screen (NZV / high-cardinality)

# The pre-training feature screen: for each candidate feature column,
# report distinct count, top-1 value share, and the two standard
# red flags — near-zero-variance (top-1 share > 95%) and
# high-cardinality (distinct ratio > 90%, an ID leaking in as a
# feature). Everything is counts: top-1 share via one (col, value)
# aggregate + max-by-count argmax with value tiebreak; shares as
# round-half-up micro units; one UNPIVOT-shaped union makes the
# per-column report a single narrow frame. Flags are integer
# cross-multiplications (100 * top1 > 95 * n).
_FSCREEN_ORACLE = """
WITH stacked AS (
    SELECT 'l_linestatus' AS feature, l_linestatus AS val FROM lineitem
    UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
    UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
    UNION ALL SELECT 'l_quantity', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
        FROM lineitem
), vc AS MATERIALIZED (
    SELECT feature, val, CAST(COUNT(*) AS BIGINT) AS c
    FROM stacked GROUP BY feature, val
), top1 AS (
    SELECT feature, val AS top_value, c AS top_count
    FROM (SELECT feature, val, c,
                 ROW_NUMBER() OVER (PARTITION BY feature
                                    ORDER BY c DESC, val) AS rn
          FROM vc) WHERE rn = 1
), prof AS (
    SELECT v.feature, CAST(SUM(v.c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           MAX(t.top_value) AS top_value, MAX(t.top_count) AS top_count
    FROM vc v JOIN top1 t ON t.feature = v.feature
    GROUP BY v.feature
)
SELECT feature, n, n_distinct, top_value,
       CAST((2 * top_count * 1000000 + n) // (2 * n) AS BIGINT)
           AS top1_share_micro,
       CAST(CASE WHEN 100 * top_count > 95 * n THEN 1 ELSE 0 END AS BIGINT)
           AS nzv_flag,
       CAST(CASE WHEN 100 * n_distinct > 90 * n THEN 1 ELSE 0 END AS BIGINT)
           AS high_card_flag
FROM prof ORDER BY feature
"""


@register("q391_feature_screen", oracle=_FSCREEN_ORACLE)
def q391(lineitem):
    """NZV / high-cardinality screen over four candidate feature
    columns (oracle comment)."""
    stacked = (
        lineitem.selectExpr("'l_linestatus' AS feature", "l_linestatus AS val")
        .unionAll(lineitem.selectExpr("'l_returnflag'", "l_returnflag"))
        .unionAll(lineitem.selectExpr("'l_partkey'", "CAST(l_partkey AS STRING)"))
        .unionAll(
            lineitem.selectExpr(
                "'l_quantity'", "CAST(CAST(l_quantity AS BIGINT) AS STRING)"
            )
        )
    )
    vc = stacked.groupBy("feature", "val").agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("feature").orderBy(F.col("c").desc(), "val")
    top1 = (
        vc.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            F.col("feature").alias("tf"),
            F.col("val").alias("top_value"),
            F.col("c").alias("top_count"),
        )
    )
    prof = (
        vc.join(F.broadcast(top1), F.col("feature") == F.col("tf"))
        .groupBy("feature")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.max("top_value").alias("top_value"),
            F.max("top_count").alias("top_count"),
        )
    )
    return prof.selectExpr(
        "feature",
        "n",
        "n_distinct",
        "top_value",
        f"CAST({rhu('top_count * 1000000', 'n')} AS BIGINT) AS top1_share_micro",
        "CAST(CASE WHEN 100 * top_count > 95 * n THEN 1 ELSE 0 END AS BIGINT)"
        " AS nzv_flag",
        "CAST(CASE WHEN 100 * n_distinct > 90 * n THEN 1 ELSE 0 END AS BIGINT)"
        " AS high_card_flag",
    ).orderBy("feature")


# ---------- q392: context-window budget fit per source

# The curation stat run before packing (q92/q314): what share of each
# source's documents fits a 128/512/2048-token context window at the
# q49 whitespace tokenization? One token-count pass, three literal
# budget comparisons, micro shares — the table that decides chunking
# (q115/q251) vs truncation per source.
_CTXFIT_ORACLE = """
WITH toks AS (
    SELECT source,
           CAST(LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0))
                AS BIGINT) AS n_tok
    FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tok <= 128 THEN 1 ELSE 0 END) AS BIGINT) AS fit_128,
       CAST(SUM(CASE WHEN n_tok <= 512 THEN 1 ELSE 0 END) AS BIGINT) AS fit_512,
       CAST(SUM(CASE WHEN n_tok <= 2048 THEN 1 ELSE 0 END) AS BIGINT) AS fit_2048,
       CAST((2 * SUM(CASE WHEN n_tok <= 512 THEN 1 ELSE 0 END) * 1000000
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS fit_512_share_micro
FROM toks GROUP BY source ORDER BY source
"""


@register("q392_context_budget_fit", oracle=_CTXFIT_ORACLE)
def q392(documents):
    """Share of docs fitting 128/512/2048-token windows per source
    (oracle comment)."""
    from ..functions import text as T

    toks = documents.select(
        "source", F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_tok") <= 128, 1).otherwise(0))
            .cast("bigint")
            .alias("fit_128"),
            F.sum(F.when(F.col("n_tok") <= 512, 1).otherwise(0))
            .cast("bigint")
            .alias("fit_512"),
            F.sum(F.when(F.col("n_tok") <= 2048, 1).otherwise(0))
            .cast("bigint")
            .alias("fit_2048"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "fit_128",
            "fit_512",
            "fit_2048",
            f"CAST({rhu('fit_512 * 1000000', 'n_docs')} AS BIGINT)"
            " AS fit_512_share_micro",
        )
        .orderBy("source")
    )


# ---------- q393: k-anonymity / l-diversity audit (privacy governance)

# The re-identification audit run before a table is shared: group
# customers by their quasi-identifier tuple (nation, account-balance
# band), report how many rows sit in groups smaller than k=5 (the
# linkable ones) and how many groups fail l-diversity (fewer than 2
# distinct values of the sensitive mktsegment — the attribute an
# attacker would learn). Pure counting on the QI-group frame; shares
# as round-half-up micro units.
_KANON_ORACLE = """
WITH qi AS (
    SELECT c_nationkey AS nation,
           CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
           c_mktsegment AS sensitive
    FROM customer
), g AS (
    SELECT nation, bal_band, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l
    FROM qi GROUP BY nation, bal_band
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_k_lt_5,
       CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS groups_l_lt_2,
       CAST((2 * SUM(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000 + SUM(k))
            // (2 * SUM(k)) AS BIGINT) AS at_risk_share_micro
FROM g
"""


@register("q393_k_anonymity", oracle=_KANON_ORACLE)
def q393(customer):
    """k-anonymity (k=5) and l-diversity (l=2) audit over the
    (nation, balance-band) quasi-identifier (oracle comment)."""
    g = customer.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
    ).agg(
        F.count("*").cast("bigint").alias("k"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l"),
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_k"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("rows_k_lt_5"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_l_lt_2"),
    ).selectExpr(
        "n_groups",
        "n_rows",
        "min_k",
        "min_l",
        "rows_k_lt_5",
        "groups_l_lt_2",
        f"CAST({rhu('rows_k_lt_5 * 1000000', 'n_rows')} AS BIGINT)"
        " AS at_risk_share_micro",
    )


# ---------- q394: pseudonymization referential-integrity proof

# GDPR-style key tokenization: replace customer keys with
# sha2(salt || key) on BOTH sides of the orders->customer relationship
# and prove the pseudonymized join is lossless — identical join
# cardinality, no hash collisions (distinct counts preserved), and
# zero orders orphaned by tokenization that weren't orphaned before.
# The salt is a fixed literal (rotation is an operational concern; the
# QUERY contract is integrity under any fixed salt). sha256 parity
# across engines is q353's established lane.
_PSEUDO_ORACLE = """
WITH ch AS MATERIALIZED (
    SELECT c_custkey, SHA256('pepper:' || CAST(c_custkey AS VARCHAR)) AS tok
    FROM customer
), oh AS MATERIALIZED (
    SELECT o_custkey, SHA256('pepper:' || CAST(o_custkey AS VARCHAR)) AS tok
    FROM orders
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_customers,
       (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM ch) AS n_tokens,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey) AS joined_raw,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM oh JOIN ch ON ch.tok = oh.tok) AS joined_tokenized,
       CAST(CASE WHEN (SELECT COUNT(DISTINCT tok) FROM ch)
                      = (SELECT COUNT(*) FROM customer)
                  AND (SELECT COUNT(*) FROM orders o
                       JOIN customer c ON c.c_custkey = o.o_custkey)
                      = (SELECT COUNT(*) FROM oh JOIN ch ON ch.tok = oh.tok)
            THEN 1 ELSE 0 END AS BIGINT) AS lossless_flag
"""


@register("q394_pseudonymization", oracle=_PSEUDO_ORACLE)
def q394(customer, orders):
    """sha256 key tokenization preserves the orders->customer join
    bit-for-bit (oracle comment)."""
    tok = lambda col: F.sha2(  # noqa: E731
        F.concat(F.lit("pepper:"), F.col(col).cast("string")), 256
    )
    ch = customer.select(F.col("c_custkey").alias("ck"), tok("c_custkey").alias("tok"))
    oh = orders.select(tok("o_custkey").alias("otok"))
    n_cust = customer.agg(F.count("*").cast("bigint").alias("n_customers"))
    n_tok = ch.agg(F.countDistinct("tok").cast("bigint").alias("n_tokens"))
    jr = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count("*").cast("bigint").alias("joined_raw"))
    )
    jt = oh.join(F.broadcast(ch.select("tok")), F.col("otok") == F.col("tok")).agg(
        F.count("*").cast("bigint").alias("joined_tokenized")
    )
    return (
        n_cust.crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(jr))
        .crossJoin(F.broadcast(jt))
        .selectExpr(
            "n_customers",
            "n_tokens",
            "joined_raw",
            "joined_tokenized",
            "CAST(CASE WHEN n_tokens = n_customers"
            " AND joined_raw = joined_tokenized THEN 1 ELSE 0 END AS BIGINT)"
            " AS lossless_flag",
        )
    )


# ---------- q395: A/B test power analysis (required n per arm)

# The experiment-sizing calculator: n/arm = 2 * (z_0.975 + z_0.80)^2 *
# (sigma/delta)^2 for a 2% relative MDE on mean order value. The
# normal quantiles are micro-literals (1959964, 841621 — constants of
# the DESIGN, not data); sigma^2/delta^2 = 2500 * (n*sxx - sx^2) /
# sx^2 is an exact integer ratio discretized ONCE to micro units, and
# the final ceiling division is integer. Rescaling through the two
# declared roundings keeps every intermediate inside DECIMAL(38)
# through sf100.
_POWER_ORACLE = """
WITH m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS HUGEINT) AS sx,
           SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS HUGEINT)
               * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sxx
    FROM orders
), r AS (
    SELECT n,
           (2 * (2500 * (n * sxx - sx * sx) * 1000000) + sx * sx)
               // (2 * sx * sx) AS ratio_micro
    FROM m WHERE sx > 0
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(ratio_micro AS BIGINT) AS sigma2_over_delta2_micro,
       CAST((2 * CAST(2801585 AS HUGEINT) * 2801585 * ratio_micro
             + CAST(1000000000000000000 AS HUGEINT) - 1)
            // CAST(1000000000000000000 AS HUGEINT) AS BIGINT)
           AS n_required_per_arm
FROM r
"""


@register("q395_ab_power", oracle=_POWER_ORACLE)
def q395(orders):
    """Required n per arm for 80% power, 5% two-sided alpha, 2%
    relative MDE on mean order value (oracle comment)."""
    d38 = "decimal(38,0)"
    m = orders.select(cents("o_totalprice").alias("x")).agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
    )
    r = m.where(F.col("sx") > 0).selectExpr(
        "n",
        f"{rhu('(2500 * (n * sxx - sx * sx) * 1000000)', 'sx * sx')} AS ratio_micro",
    )
    return r.selectExpr(
        "CAST(n AS BIGINT) AS n_orders",
        "CAST(ratio_micro AS BIGINT) AS sigma2_over_delta2_micro",
        "CAST((2 * 2801585 * CAST(2801585 AS DECIMAL(38,0)) * ratio_micro"
        " + 1000000000000000000 - 1) DIV 1000000000000000000 AS BIGINT)"
        " AS n_required_per_arm",
    )


# ---------- q396: velocity alerts via RANGE frames (trailing 24h)

# The fraud/ops velocity check: how many events did this user generate
# in the trailing 24 HOURS (a RANGE frame over epoch microseconds —
# value-based, so simultaneous events share a frame regardless of row
# order; the ROWS-frame twin would be wrong under ts ties). Alert =
# frame count >= 5; per alerted user the PEAK burst and FIRST alert
# time, top-15 by (peak DESC, user). The window is keyed by user —
# fact volume shuffles once by user_id and never globally sorts.
_VELOCITY_ORACLE = """
WITH w AS (
    SELECT user_id, ts,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS burst
    FROM events
), alerts AS (
    SELECT user_id, CAST(MAX(burst) AS BIGINT) AS peak_burst,
           MIN(CASE WHEN burst >= 5 THEN ts END) AS first_alert_ts
    FROM w GROUP BY user_id HAVING MAX(burst) >= 5
)
SELECT user_id, peak_burst, first_alert_ts
FROM alerts ORDER BY peak_burst DESC, user_id LIMIT 15
"""


@register("q396_velocity_alerts", oracle=_VELOCITY_ORACLE)
def q396(events):
    """Trailing-24h RANGE-frame burst detection per user (oracle
    comment)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-86400000000, 0)
    )
    bursts = events.select(
        "user_id", "ts", F.count("*").over(w).alias("burst")
    )
    return (
        bursts.groupBy("user_id")
        .agg(
            F.max("burst").cast("bigint").alias("peak_burst"),
            F.min(F.when(F.col("burst") >= 5, F.col("ts"))).alias("first_alert_ts"),
        )
        .where(F.col("peak_burst") >= 5)
        .orderBy(F.col("peak_burst").desc(), "user_id")
        .limit(15)
    )


# ---------- q397: per-class precision/recall/F1 + macro average

# The multi-class eval report for the q47 marker-vote language
# classifier against the declared labels — the per-class view the
# binary family (q207 AUC, q369 best-F1) can't give. All counts come
# from ONE (lang, lang_pred) confusion aggregate; per-class P/R/F1 are
# round-half-up micro rationals; macroF1 is the mean of the ROUNDED
# per-class F1s (documented sum-of-rounded-terms, q368's contract).
# 'zh' never appears in the marker list, so its predicted count can be
# zero — precision for such classes is defined as 0 (skip-zero rule,
# stated on both engines).
_PRF_ORACLE = """
WITH t AS (
    SELECT lang,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), x -> LEN(x) > 0) AS tk
    FROM documents
), scores AS (
    SELECT lang,
           LEN(LIST_FILTER(tk, x -> x IN ('the', 'a', 'of'))) AS s_en,
           LEN(LIST_FILTER(tk, x -> x IN ('el', 'la', 'de'))) AS s_es,
           LEN(LIST_FILTER(tk, x -> x IN ('der', 'die', 'das'))) AS s_de,
           LEN(LIST_FILTER(tk, x -> x IN ('le', 'et', 'un'))) AS s_fr,
           LEN(tk) AS n_tok
    FROM t
), pred AS (
    SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM scores WHERE n_tok > 0
), cm AS MATERIALIZED (
    SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS c FROM pred GROUP BY 1, 2
), classes AS (SELECT DISTINCT lang FROM cm
), per_class AS (
    SELECT cl.lang,
           CAST(COALESCE(SUM(CASE WHEN cm.lang = cl.lang
                AND cm.lang_pred = cl.lang THEN c END), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN cm.lang_pred = cl.lang THEN c END), 0)
                AS BIGINT) AS pred_n,
           CAST(COALESCE(SUM(CASE WHEN cm.lang = cl.lang THEN c END), 0)
                AS BIGINT) AS true_n
    FROM classes cl LEFT JOIN cm ON cm.lang = cl.lang OR cm.lang_pred = cl.lang
    GROUP BY cl.lang
)
SELECT lang,
       tp, pred_n, true_n,
       CAST(CASE WHEN pred_n > 0
            THEN (2 * tp * 1000000 + pred_n) // (2 * pred_n) ELSE 0 END
            AS BIGINT) AS precision_micro,
       CAST(CASE WHEN true_n > 0
            THEN (2 * tp * 1000000 + true_n) // (2 * true_n) ELSE 0 END
            AS BIGINT) AS recall_micro,
       CAST(CASE WHEN pred_n + true_n > 0
            THEN (2 * 2 * tp * 1000000 + (pred_n + true_n))
                 // (2 * (pred_n + true_n)) ELSE 0 END
            AS BIGINT) AS f1_micro
FROM per_class ORDER BY lang
"""


@register("q397_per_class_prf", oracle=_PRF_ORACLE)
def q397(documents):
    """Per-class precision/recall/F1 of the q47 langid heuristic
    against declared labels (oracle comment)."""
    from ..functions import text as T

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
        "lang",
        *[
            F.size(F.filter(tk, in_markers(ws))).alias(f"s_{lg}")
            for lg, ws in markers.items()
        ],
        F.size(tk).alias("n_tok"),
    )
    s = {lg: F.col(f"s_{lg}") for lg in markers}
    pred_col = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    cm = (
        scored.where(F.col("n_tok") > 0)
        .groupBy("lang", pred_col.alias("lang_pred"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    classes = cm.select("lang").distinct().select(F.col("lang").alias("cl"))
    per_class = (
        classes.join(
            cm,
            (F.col("lang") == F.col("cl")) | (F.col("lang_pred") == F.col("cl")),
            "left",
        )
        .groupBy("cl")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("lang") == F.col("cl"))
                        & (F.col("lang_pred") == F.col("cl")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tp"),
            F.coalesce(
                F.sum(F.when(F.col("lang_pred") == F.col("cl"), F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("pred_n"),
            F.coalesce(
                F.sum(F.when(F.col("lang") == F.col("cl"), F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("true_n"),
        )
    )
    return per_class.selectExpr(
        "cl AS lang",
        "tp",
        "pred_n",
        "true_n",
        f"CAST(CASE WHEN pred_n > 0 THEN {rhu('tp * 1000000', 'pred_n')} ELSE 0 END"
        " AS BIGINT) AS precision_micro",
        f"CAST(CASE WHEN true_n > 0 THEN {rhu('tp * 1000000', 'true_n')} ELSE 0 END"
        " AS BIGINT) AS recall_micro",
        "CAST(CASE WHEN pred_n + true_n > 0 THEN"
        f" {rhu('2 * tp * 1000000', '(pred_n + true_n)')} ELSE 0 END AS BIGINT)"
        " AS f1_micro",
    ).orderBy("lang")


# ---------- q398: binaryFile source (opaque-blob ingestion lane)

# The source-format row completing CSV (q159) / ORC (q164) / JSON
# (q134) / XML (q302) / linerec Python DataSource (q264/q315): Spark's
# `binaryFile` format reads ARBITRARY files as (path, length, content)
# — the front door for the multimodal lane (q124/q125 consume opaque
# bytes exactly like this). The query materializes a byte-deterministic
# text file (sorted nation lines, single write task) and reads it BACK
# as an opaque blob; the oracle rebuilds the identical byte stream
# logically (string_agg ORDER BY + trailing newline) — equality of
# length and digest proves the binary source returns the exact bytes
# written. md5 runs over the HEX encoding (this DuckDB build's md5 is
# VARCHAR-only; both engines emit uppercase hex).
_BINFILE_ORACLE = """
WITH s AS (
    SELECT STRING_AGG(CAST(n_nationkey AS VARCHAR) || '|' || n_name, chr(10)
                      ORDER BY n_nationkey) || chr(10) AS body
    FROM nation
)
SELECT CAST(OCTET_LENGTH(ENCODE(body)) AS BIGINT) AS n_bytes,
       LOWER(MD5(HEX(ENCODE(body)))) AS content_md5
FROM s
"""


@register("q398_binary_file_source", oracle=_BINFILE_ORACLE)
def q398(spark, nation):
    """binaryFile-format round trip: write a byte-deterministic text
    file, read it back as an opaque blob, digest it (oracle comment)."""
    from ..scratch import scratch_dir

    d = scratch_dir("q398_blob")
    (
        nation.orderBy("n_nationkey")
        .selectExpr("CAST(n_nationkey AS STRING) || '|' || n_name AS value")
        .coalesce(1)
        .write.mode("overwrite")
        .text(d)
    )
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(d)
    )
    return df.select(
        F.col("length").cast("bigint").alias("n_bytes"),
        F.lower(F.md5(F.hex("content"))).alias("content_md5"),
    )


# ---------- q399: sparse TF-IDF cosine pairs (rare-term similarity)

# The sparse-vector member of the similarity family (dense cosine q38,
# set Jaccard q46, MinHash q44, SimHash q162): document pairs scored
# by TF-IDF cosine over DISCRIMINATIVE terms only (document frequency
# <= 25 — the declared semantics, not an approximation: common terms
# carry ~zero idf and only bloat the postings join, so the operator
# bounds each term's pair fan-out by df^2 <= 625 BY CONSTRUCTION, the
# same lossless-candidate discipline as q194/q259). idf is the q322
# micro-nat discretization; weights/dots/norms are exact DECIMAL(38)
# integers; cosine ranks by its ROUND(,4) value with (doc_a, doc_b)
# tiebreaks.
_SPARSECOS_ORACLE = """
WITH tok AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
    FROM documents
), tf AS MATERIALIZED (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
), df AS MATERIALIZED (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf
), w AS MATERIALIZED (
    SELECT tf.doc_id, tf.term,
           tf.tf * CAST(ROUND(LN(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)
               AS w
    FROM tf JOIN df USING (term), nn
    WHERE df.df <= 25
), norms AS MATERIALIZED (
    SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS nrm FROM w GROUP BY doc_id
), dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
    FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc_a, d.doc_b,
       ROUND(CAST(d.dot AS DOUBLE)
             / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE))), 4)
           AS cos4
FROM dots d JOIN norms na ON na.doc_id = d.doc_a
            JOIN norms nb ON nb.doc_id = d.doc_b
WHERE na.nrm > 0 AND nb.nrm > 0
ORDER BY cos4 DESC, d.doc_a, d.doc_b LIMIT 15
"""


@register("q399_sparse_cosine_pairs", oracle=_SPARSECOS_ORACLE)
def q399(documents):
    """Top-15 TF-IDF cosine pairs over rare (df<=25) terms (oracle
    comment)."""
    from ..functions import text as T

    tok = documents.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    # pinned: tf feeds df, nn AND the weight join — unpinned, the
    # CPU-heavy tokenize+explode pass re-runs per reference (guide §2.4;
    # before-plan: 23 Exchanges)
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .transform(pin)
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    nn = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    d38 = "decimal(38,0)"
    w = (
        tf.join(df.where(F.col("df") <= 25), "term")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log(F.col("n").cast("double") / F.col("df")) * 1000000
                ).cast("bigint")
            ).alias("w"),
        )
        # pinned: w feeds norms AND both sides of the term self-join
        .transform(pin)
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w").cast(d38) * F.col("w")).cast(d38).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), F.col("term").alias("ta"),
                 F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("term").alias("tb"),
                 F.col("w").alias("wb"))
    dots = (
        a.join(b, (F.col("ta") == F.col("tb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa").cast(d38) * F.col("wb")).cast(d38).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
                4,
            ).alias("cos4"),
        )
        .orderBy(F.col("cos4").desc(), "doc_a", "doc_b")
        .limit(15)
    )


# ---------- q400: SQL scripting (BEGIN / DECLARE / WHILE / SET VAR)

# The Spark 4 procedural-SQL surface (sibling of q347's session
# variables and q82's native recursive CTE): a compound statement that
# DOUBLING-SEARCHES the smallest power-of-two k such that the top-k
# revenue days cover >= 25% of total revenue — a genuine loop whose
# per-iteration work is one scalar subquery over the ranked day spine
# (at most ~log2(|days|) iterations, every comparison integer cents).
# The oracle derives the same k by evaluating the cumulative histogram
# at the 13 literal powers of two and taking the first that covers —
# loop and closed form must agree exactly.
_SCRIPT_ORACLE = _DAILY_CTE + """
, ranked AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents DESC, day) AS rnk,
           SUM(cents) OVER (ORDER BY cents DESC, day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM daily
), tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM daily
), pows AS (
    SELECT CAST(POW(2, j) AS BIGINT) AS k
    FROM (SELECT UNNEST(GENERATE_SERIES(0, 12)) AS j)
), evald AS (
    SELECT p.k,
           (SELECT MAX(cum) FROM ranked r WHERE r.rnk <= p.k) AS cov
    FROM pows p
)
SELECT CAST(e.k AS BIGINT) AS k_days,
       CAST(e.cov AS BIGINT) AS covered_cents,
       t.total AS total_cents
FROM evald e, tot t
WHERE e.cov * 4 >= t.total
ORDER BY e.k LIMIT 1
"""


@register("q400_sql_scripting", oracle=_SCRIPT_ORACLE)
def q400(spark):
    """BEGIN/DECLARE/WHILE compound statement doubling-searching the
    25%-coverage day count (oracle comment)."""
    # The WHILE loop's scalar subqueries re-evaluate the view per SET;
    # over a plain view that re-ran the orders aggregate + global
    # window ~2+log2(k) times (guide §2.4). Pin the |days|-row ranked
    # spine once — every loop iteration then scans ~2.4k in-memory rows.
    spark.sql(
        """
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents DESC, day) AS rnk,
               SUM(cents) OVER (ORDER BY cents DESC, day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_orderdate
        )
        """
    ).transform(pin).createOrReplaceTempView("q400_ranked")
    return spark.sql(
        """
        BEGIN
          DECLARE k BIGINT DEFAULT 1;
          DECLARE cov BIGINT DEFAULT 0;
          DECLARE total BIGINT DEFAULT 0;
          SET total = (SELECT MAX(cum) FROM q400_ranked);
          SET cov = (SELECT MAX(cum) FROM q400_ranked WHERE rnk <= k);
          WHILE cov * 4 < total DO
            SET k = k * 2;
            SET cov = (SELECT MAX(cum) FROM q400_ranked WHERE rnk <= k);
          END WHILE;
          SELECT CAST(k AS BIGINT) AS k_days,
                 CAST(cov AS BIGINT) AS covered_cents,
                 CAST(total AS BIGINT) AS total_cents;
        END
        """
    )


# ---------- q401: session_window with a DYNAMIC per-row gap

# q311 sessionizes with one static 30-minute gap; the production form
# varies the timeout by activity type — purchases hold a session open
# 30 minutes, everything else 10. Spark's session_window accepts a gap
# EXPRESSION evaluated per row; the oracle rebuilds the same merge
# with the classic lag + cumulative-flag sessionizer where a new
# session starts when the gap since the previous event exceeds THAT
# PREVIOUS EVENT's own timeout (exactly the session_window extension
# semantics: each event extends the session by its own gap).


@register("q401_dynamic_gap_sessions")
def q401(events):
    """session_window with a per-row gap expression (purchase 30 min,
    rest 10 min): session and event counts. Rows-only vs a lag-based
    oracle is NOT registered because Spark's dynamic session merge
    semantics (each event extends the window by its own gap, windows
    merge transitively) have no simple closed SQL twin — the pytest
    twin (tests/test_properties.py) checks Spark-vs-Spark: the
    session_window result must equal the iterative lag-based
    sessionizer computed IN SPARK with identical semantics."""
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    sess = events.groupBy("user_id", F.session_window("ts", gap).alias("w")).agg(
        F.count("*").alias("n")
    )
    return sess.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n").cast("bigint").alias("n_events"),
    )


# ---------- q402: Wilcoxon signed-rank (paired two-sample test)

# The PAIRED member of the test family (unpaired A/B q188, permutation
# q335/q385, KS q257, ANOVA q258): pair each day's revenue with the
# SAME weekday one week later, rank |delta| with average tied ranks,
# and sum the ranks of the positive deltas. Carried as 2*W+ so the
# .5-exact average tied rank (rmin+rmax)/2 stays INTEGER — rmin/rmax
# come from the |delta| VALUE histogram exactly like q207's rank-sum
# (no fact sort; the spine is |days|). Zero deltas drop (standard
# Wilcoxon practice) and 2*E[W+] = n(n+1)/2 is published alongside for
# the direction read.
_WILCOXON_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT (CAST(day AS DATE) - DATE '1970-01-01') // 7 AS wk,
           (CAST(day AS DATE) - DATE '1970-01-01') % 7 AS dow,
           cents
    FROM daily
), pairs AS (
    SELECT b.cents - a.cents AS delta
    FROM idx a JOIN idx b ON b.wk = a.wk + 1 AND b.dow = a.dow
    WHERE b.cents <> a.cents
), hist AS (
    SELECT ABS(delta) AS ad, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
    FROM pairs GROUP BY ABS(delta)
), ranked AS (
    SELECT npos, n,
           COALESCE(SUM(n) OVER (ORDER BY ad
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rmin
    FROM hist
)
SELECT CAST(SUM(n) AS BIGINT) AS n_pairs,
       CAST(SUM(npos * (rmin + rmin + n - 1)) AS BIGINT) AS w_plus_x2,
       CAST(SUM(n) * (SUM(n) + 1) / 2 AS BIGINT) AS e_w_plus_x2
FROM ranked
"""


@register("q402_wilcoxon_signed_rank", oracle=_WILCOXON_ORACLE)
def q402(orders):
    """2*W+ signed-rank statistic of week-over-week same-weekday
    revenue deltas, from the |delta| histogram (oracle comment)."""
    daily = _daily_cents(orders)
    epoch = F.datediff(F.col("day").cast("date"), F.lit("1970-01-01").cast("date"))
    idx = daily.select(
        (epoch.cast("bigint") / 7).cast("bigint").alias("wk"),
        F.pmod(epoch.cast("bigint"), F.lit(7)).alias("dow"),
        "cents",
    )
    a = idx.select(F.col("wk").alias("wa"), F.col("dow").alias("da"),
                   F.col("cents").alias("ca"))
    b = idx.select(F.col("wk").alias("wb"), F.col("dow").alias("db"),
                   F.col("cents").alias("cb"))
    pairs = a.join(
        b, (F.col("wb") == F.col("wa") + 1) & (F.col("db") == F.col("da"))
    ).select((F.col("cb") - F.col("ca")).alias("delta")).where("delta <> 0")
    hist = pairs.groupBy(F.abs("delta").alias("ad")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("npos"),
    )
    wb_ = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "npos",
        "n",
        (F.coalesce(F.sum("n").over(wb_), F.lit(0)) + 1).alias("rmin"),
    )
    return ranked.agg(
        F.sum("n").cast("bigint").alias("n_pairs"),
        F.sum(F.col("npos") * (F.col("rmin") + F.col("rmin") + F.col("n") - 1))
        .cast("bigint")
        .alias("w_plus_x2"),
    ).selectExpr(
        "n_pairs",
        "w_plus_x2",
        "CAST(n_pairs * (n_pairs + 1) DIV 2 AS BIGINT) AS e_w_plus_x2",
    )


# ---------- q403: MASE forecast benchmark (scaled forecast error)

# The scale-free forecast-eval metric completing q323's conformal
# intervals and q329's CV: MASE = MAE(lag-7 seasonal-naive) /
# MAE(lag-1 naive) over the SAME evaluation days. Integer cents
# throughout; the ratio is one round-half-up micro division. MASE < 1
# reads "the weekly-seasonal forecast beats last-value persistence".
_MASE_ORACLE = _DAILY_CTE + """
, lagd AS (
    SELECT cents,
           LAG(cents, 7) OVER (ORDER BY day) AS l7,
           LAG(cents, 1) OVER (ORDER BY day) AS l1
    FROM daily
), ev AS (
    SELECT ABS(cents - l7) AS e_model, ABS(cents - l1) AS e_naive
    FROM lagd WHERE l7 IS NOT NULL AND l1 IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(e_model) AS BIGINT) AS sae_model,
       CAST(SUM(e_naive) AS BIGINT) AS sae_naive,
       CAST((2 * SUM(e_model) * 1000000 + SUM(e_naive))
            // (2 * SUM(e_naive)) AS BIGINT) AS mase_micro
FROM ev
"""


@register("q403_mase_benchmark", oracle=_MASE_ORACLE)
def q403(orders):
    """MASE of the lag-7 seasonal-naive vs lag-1 naive on daily revenue
    (oracle comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day")
    lagd = daily.select(
        "cents",
        F.lag("cents", 7).over(w).alias("l7"),
        F.lag("cents", 1).over(w).alias("l1"),
    )
    ev = lagd.where("l7 IS NOT NULL AND l1 IS NOT NULL").select(
        F.abs(F.col("cents") - F.col("l7")).alias("e_model"),
        F.abs(F.col("cents") - F.col("l1")).alias("e_naive"),
    )
    return ev.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("e_model").cast("bigint").alias("sae_model"),
        F.sum("e_naive").cast("bigint").alias("sae_naive"),
    ).selectExpr(
        "n_days",
        "sae_model",
        "sae_naive",
        f"CAST({rhu('sae_model * 1000000', 'sae_naive')} AS BIGINT) AS mase_micro",
    )


# ---------- q404: encoding density per language (bytes per char)

# The multilingual storage-planning stat: UTF-8 bytes per character by
# declared language (CJK text costs ~3x its character count; the ratio
# drives capacity planning and tokenizer byte-fallback rates, q357's
# sibling at the byte level). Exact integer byte/char totals; one
# round-half-up micro division. Both engines count CHARACTERS as code
# points and bytes as UTF-8 octets.
_ENCDENS_ORACLE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
       CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS n_bytes,
       CAST((2 * SUM(OCTET_LENGTH(ENCODE(text))) * 1000000 + SUM(LENGTH(text)))
            // (2 * SUM(LENGTH(text))) AS BIGINT) AS bytes_per_char_micro
FROM documents GROUP BY lang ORDER BY lang
"""


@register("q404_encoding_density", oracle=_ENCDENS_ORACLE)
def q404(documents):
    """UTF-8 bytes per character by language (oracle comment)."""
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.char_length("text")).cast("bigint").alias("n_chars"),
            F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "n_chars",
            "n_bytes",
            f"CAST({rhu('n_bytes * 1000000', 'n_chars')} AS BIGINT)"
            " AS bytes_per_char_micro",
        )
        .orderBy("lang")
    )


# ---------- q405: association rules (confidence / lift / leverage)

# The rule layer above q131's frequent itemsets: for every ordered
# item pair (a -> b) with pair support >= 40 baskets, confidence =
# supp(ab)/supp(a), lift = n*supp(ab)/(supp(a)*supp(b)), leverage =
# (n*supp(ab) - supp(a)*supp(b))/n^2 — every metric a round-half-up
# micro of an exact integer ratio (leverage signed -> positive shift).
# Pair supports come from one basket self-join bounded by per-basket
# item counts (the q229 co-purchase shape, counted not distinct'd);
# single-item supports are a broadcast dim. Top-15 rules by
# (lift_micro DESC, a, b).
_ASSOC_ORACLE = """
WITH b AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
), n AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM b
), s1 AS MATERIALIZED (
    SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM b GROUP BY item
), s2 AS MATERIALIZED (
    SELECT x.item AS a, y.item AS bb, CAST(COUNT(*) AS BIGINT) AS sab
    FROM b x JOIN b y ON x.ok = y.ok AND x.item <> y.item
    GROUP BY x.item, y.item HAVING COUNT(*) >= 40
)
SELECT s2.a, s2.bb AS b, s2.sab,
       CAST((2 * s2.sab * 1000000 + sa.s) // (2 * sa.s) AS BIGINT)
           AS confidence_micro,
       CAST((2 * n.n * s2.sab * 1000000 + sa.s * sb.s)
            // (2 * sa.s * sb.s) AS BIGINT) AS lift_micro,
       CAST((2 * ((n.n * s2.sab - sa.s * sb.s) * 1000000
                  + 1000000 * n.n * n.n) + n.n * n.n)
            // (2 * n.n * n.n) - 1000000 AS BIGINT) AS leverage_micro
FROM s2 JOIN s1 sa ON sa.item = s2.a JOIN s1 sb ON sb.item = s2.bb, n
ORDER BY lift_micro DESC, s2.a, s2.bb LIMIT 15
"""


@register("q405_association_rules", oracle=_ASSOC_ORACLE)
def q405(lineitem):
    """Top-15 item-pair rules by lift, with confidence and leverage in
    exact micro units (oracle comment)."""
    # ONE map-side-combined collect_set per order (dedupes items like
    # the former DISTINCT), pinned: the basket frame feeds n / s1 / the
    # pair expansion — the former distinct b was re-derived per
    # reference (4 lineitem scans) and the pair stage self-joined it
    # (two more exchanges). Directed pairs expand per row via the
    # codegen flatten/transform idiom (q299/q461); per-basket fan
    # unchanged (<= 7 items/order).
    sets = (
        lineitem.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.collect_set("l_partkey").alias("ps"))
        .transform(pin)
    )
    n = sets.agg(F.count("*").cast("bigint").alias("n"))
    s1 = (
        sets.select(F.explode("ps").alias("item"))
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("s"))
    )
    s2 = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps,"
                    " x -> transform(filter(ps, y -> y != x),"
                    " y -> struct(x AS a, y AS bb))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.bb").alias("bb"))
        .groupBy("a", "bb")
        .agg(F.count("*").cast("bigint").alias("sab"))
        .where(F.col("sab") >= 40)
    )
    sa = s1.select(F.col("item").alias("a"), F.col("s").alias("s_a"))
    sb = s1.select(F.col("item").alias("bb"), F.col("s").alias("s_b"))
    return (
        s2.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "bb")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "a",
            "bb AS b",
            "sab",
            f"CAST({rhu('sab * 1000000', 's_a')} AS BIGINT) AS confidence_micro",
            f"CAST({rhu('n * sab * 1000000', 's_a * s_b')} AS BIGINT) AS lift_micro",
            "CAST("
            + rhu("((n * sab - s_a * s_b) * 1000000 + 1000000 * n * n)", "n * n")
            + " - 1000000 AS BIGINT) AS leverage_micro",
        )
        .orderBy(F.col("lift_micro").desc(), "a", "b")
        .limit(15)
    )


# ---------- q406: Laspeyres / Paasche / Fisher price indices

# Index-number economics beside q374's revenue bridge: how much of the
# 1997->1998 revenue change is PRICE? Laspeyres holds the old basket
# (sum p1*q0 / sum p0*q0), Paasche the new (sum p1*q1 / sum p0*q1),
# Fisher is their geometric mean. Realized unit prices are the exact
# rationals r/q per (part, year); the cross terms sum p1*q0 and
# p0*q1 round each part's r1*q0/q1 (resp. r0*q1/q0) to integer micro-
# cents ONCE, while both direct terms are exact revenue sums — so L
# and P are micro-of-integer ratios and Fisher is the ROUND(,6) IEEE
# sqrt of their exact product. Parts active in both years only.
_PRICEIDX_ORACLE = """
WITH li AS (
    SELECT l.l_partkey AS part,
           CASE WHEN o.o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END AS yr,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
               * (10000 - CAST(CAST(l.l_discount AS DECIMAL(18,4)) * 10000
                               AS BIGINT)) AS rev_cbp,
           CAST(l.l_quantity AS BIGINT) AS qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1999-01-01'
), per AS MATERIALIZED (
    SELECT part, yr, SUM(rev_cbp) AS r, CAST(SUM(qty) AS HUGEINT) AS q
    FROM li GROUP BY part, yr
), wide AS (
    SELECT a.part, a.r AS r0, a.q AS q0, b.r AS r1, b.q AS q1
    FROM per a JOIN per b ON a.part = b.part AND a.yr = 0 AND b.yr = 1
    WHERE a.q > 0 AND b.q > 0
), terms AS (
    SELECT CAST(SUM((2 * r1 * q0 * 1000000 + 10000 * q1)
                    // (2 * 10000 * q1)) AS HUGEINT) AS p1q0_micro,
           CAST(SUM((2 * r0 * q1 * 1000000 + 10000 * q0)
                    // (2 * 10000 * q0)) AS HUGEINT) AS p0q1_micro,
           CAST(SUM((2 * r0 * 1000000 + 10000) // (2 * 10000)) AS HUGEINT)
               AS p0q0_micro,
           CAST(SUM((2 * r1 * 1000000 + 10000) // (2 * 10000)) AS HUGEINT)
               AS p1q1_micro,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM wide
)
SELECT n_parts,
       CAST((2 * p1q0_micro * 1000000 + p0q0_micro) // (2 * p0q0_micro)
            AS BIGINT) AS laspeyres_micro,
       CAST((2 * p1q1_micro * 1000000 + p0q1_micro) // (2 * p0q1_micro)
            AS BIGINT) AS paasche_micro,
       ROUND(SQRT(
           (CAST(p1q0_micro AS DOUBLE) / CAST(p0q0_micro AS DOUBLE))
           * (CAST(p1q1_micro AS DOUBLE) / CAST(p0q1_micro AS DOUBLE))), 6)
           AS fisher
FROM terms
"""


@register("q406_price_indices", oracle=_PRICEIDX_ORACLE)
def q406(lineitem, orders):
    """Laspeyres/Paasche/Fisher price indices 1997->1998 over parts
    active in both years (oracle comment)."""
    d38 = "decimal(38,0)"
    li = (
        lineitem
        .join(
            orders
            .where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
            )
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("part"),
            F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), 0)
            .otherwise(1)
            .alias("yr"),
            (
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(d38)
                * (
                    F.lit(10000)
                    - (F.col("l_discount").cast("decimal(18,4)") * 10000).cast("bigint")
                )
            ).alias("rev_cbp"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    per = li.groupBy("part", "yr").agg(
        F.sum("rev_cbp").cast(d38).alias("r"), F.sum("qty").cast(d38).alias("q")
    )
    a = per.where("yr = 0 AND q > 0").select(
        "part", F.col("r").alias("r0"), F.col("q").alias("q0")
    )
    bb = per.where("yr = 1 AND q > 0").select(
        F.col("part").alias("pb"), F.col("r").alias("r1"), F.col("q").alias("q1")
    )
    wide = a.join(bb, F.col("part") == F.col("pb"))
    terms = wide.selectExpr(
        f"{rhu('r1 * q0 * 1000000', '10000 * q1')} AS t_p1q0",
        f"{rhu('r0 * q1 * 1000000', '10000 * q0')} AS t_p0q1",
        f"{rhu('r0 * 1000000', '10000')} AS t_p0q0",
        f"{rhu('r1 * 1000000', '10000')} AS t_p1q1",
    ).agg(
        F.sum("t_p1q0").cast(d38).alias("p1q0_micro"),
        F.sum("t_p0q1").cast(d38).alias("p0q1_micro"),
        F.sum("t_p0q0").cast(d38).alias("p0q0_micro"),
        F.sum("t_p1q1").cast(d38).alias("p1q1_micro"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    return terms.selectExpr(
        "n_parts",
        f"CAST({rhu('p1q0_micro * 1000000', 'p0q0_micro')} AS BIGINT)"
        " AS laspeyres_micro",
        f"CAST({rhu('p1q1_micro * 1000000', 'p0q1_micro')} AS BIGINT) AS paasche_micro",
        "ROUND(SQRT((CAST(p1q0_micro AS DOUBLE) / CAST(p0q0_micro AS DOUBLE))"
        " * (CAST(p1q1_micro AS DOUBLE) / CAST(p0q1_micro AS DOUBLE))), 6)"
        " AS fisher",
    )


# ---------- q407: customer segment migration matrix (1997 -> 1998)

# The CRM transition view stitching q201's RFM segmentation to q181's
# Markov matrix: bucket each customer's yearly spend into quartiles
# (edges = nearest-rank order statistics of THAT year's per-customer
# spend, picked from the VALUE histogram — q372's posture, one 3-row
# broadcast range join per year), then count customers by
# (segment_1997, segment_1998). Customers active in both years only;
# every count exact. The diagonal is retention-in-class; the
# below-diagonal mass is the downgrade alarm.
_MIGRATION_ORACLE = """
WITH spend AS MATERIALIZED (
    SELECT o_custkey AS cust,
           CAST(YEAR(o_orderdate) AS INT) AS yr,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1999-01-01'
    GROUP BY o_custkey, YEAR(o_orderdate)
), hist AS (
    SELECT yr, cents, COUNT(*) AS c FROM spend GROUP BY yr, cents
), cumh AS (
    SELECT yr, cents,
           SUM(c) OVER (PARTITION BY yr ORDER BY cents
                ROWS UNBOUNDED PRECEDING) AS cum,
           COALESCE(SUM(c) OVER (PARTITION BY yr ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM hist
), nn AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n FROM spend GROUP BY yr
), edges AS (
    SELECT DISTINCT c.yr, c.cents AS e
    FROM cumh c JOIN (
        SELECT yr, CAST(CEIL(k * n / 4.0) AS BIGINT) AS r
        FROM nn, (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS k)
    ) t ON t.yr = c.yr AND c.cb < t.r AND t.r <= c.cum
), seg AS MATERIALIZED (
    SELECT s.cust, s.yr,
           1 + (SELECT COUNT(*) FROM edges e
                WHERE e.yr = s.yr AND e.e < s.cents) AS seg
    FROM spend s
)
SELECT CAST(a.seg AS BIGINT) AS seg_1997, CAST(b.seg AS BIGINT) AS seg_1998,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM seg a JOIN seg b ON a.cust = b.cust AND a.yr = 1997 AND b.yr = 1998
GROUP BY a.seg, b.seg ORDER BY seg_1997, seg_1998
"""


@register("q407_segment_migration", oracle=_MIGRATION_ORACLE)
def q407(spark, orders):
    """Quartile-spend migration matrix for customers active in 1997
    and 1998 (oracle comment)."""
    spend = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
        )
        # pinned: spend feeds hist AND the seg projection — unpinned,
        # each re-runs the orders scan+aggregate (guide §2.4;
        # before-plan: 16 Exchanges)
        .transform(pin)
    )
    hist = (
        spend.groupBy("yr", "cents")
        .agg(F.count("*").alias("c"))
        .transform(pin)  # feeds the windows AND nn
    )
    wc = Window.partitionBy("yr").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wb = Window.partitionBy("yr").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cumh = hist.select(
        "yr",
        "cents",
        F.sum("c").over(wc).alias("cum"),
        F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cb"),
    )
    # n per year == Σc of that year's histogram — no extra spend pass
    nn = hist.groupBy("yr").agg(F.sum("c").cast("bigint").alias("n"))
    ranks = nn.crossJoin(
        F.broadcast(spark.range(1, 4).select(F.col("id").alias("k")))
    ).select(
        F.col("yr").alias("ryr"),
        F.ceil(F.col("k") * F.col("n") / 4.0).cast("bigint").alias("r"),
    )
    edges = (
        cumh.join(
            F.broadcast(ranks),
            (F.col("yr") == F.col("ryr"))
            & (F.col("cb") < F.col("r"))
            & (F.col("r") <= F.col("cum")),
        )
        .select("yr", F.col("cents").alias("e"))
        .distinct()
        .groupBy("yr")
        .agg(F.sort_array(F.collect_list("e")).alias("edges"))
    )
    seg = spend.join(F.broadcast(edges), "yr").select(
        "cust",
        "yr",
        (
            F.lit(1)
            + F.size(F.filter(F.col("edges"), lambda e: e < F.col("cents")))
        ).alias("seg"),
    )
    # spend is grouped by (cust, yr), so each customer has at most one
    # seg per year: the 1997×1998 self-join is a single groupBy pivot —
    # one shuffle of seg instead of two join sides re-running it
    return (
        seg.groupBy("cust")
        .agg(
            F.max(F.when(F.col("yr") == 1997, F.col("seg"))).alias("seg_1997"),
            F.max(F.when(F.col("yr") == 1998, F.col("seg"))).alias("seg_1998"),
        )
        .where(F.col("seg_1997").isNotNull() & F.col("seg_1998").isNotNull())
        .groupBy("seg_1997", "seg_1998")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .selectExpr(
            "CAST(seg_1997 AS BIGINT) AS seg_1997",
            "CAST(seg_1998 AS BIGINT) AS seg_1998",
            "n_customers",
        )
        .orderBy("seg_1997", "seg_1998")
    )


# ---------- q408: triad census + global transitivity

# The one-row graph health card over q229/q380's co-purchase graph:
# wedge count needs NO enumeration (sum of C(deg,2) over the degree
# frame), closed wedges = 3 * the oriented triangle count, transitivity
# = closed/wedges as a round-half-up micro ratio. Reuses
# operators/triangles.triangle_count; everything else is one degree
# aggregate.
_TRIAD_ORACLE = """
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
    FROM lineitem WHERE l_partkey % 2 = 0
), e AS MATERIALIZED (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
), deg AS MATERIALIZED (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
    ) GROUP BY node
), w AS MATERIALIZED (
    SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS wedges,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg
), tri AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS t
    FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
              JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT w.n_nodes, (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       w.wedges, CAST(3 * tri.t AS BIGINT) AS closed_wedges,
       CAST((2 * 3 * tri.t * 1000000 + w.wedges) // (2 * w.wedges) AS BIGINT)
           AS transitivity_micro
FROM w, tri
"""


@register("q408_triad_census", oracle=_TRIAD_ORACLE)
def q408(lineitem):
    """Wedges, closed wedges, and global transitivity of the
    co-purchase graph (oracle comment)."""
    from ..operators.triangles import cooccurrence_edges, triangle_count

    li = (
        lineitem
        .where(F.col("l_partkey") % 2 == 0)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    )
    # collect_set-per-order + codegen pair expansion (2 shuffles) in
    # place of distinct -> self-join -> distinct (3): same edge set
    e = cooccurrence_edges(li, "ok", "p")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    w = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias("wedges"),
        F.count("*").cast("bigint").alias("n_nodes"),
    )
    tc = triangle_count(e)  # (n_edges, n_triangles)
    return (
        w.crossJoin(F.broadcast(tc))
        .selectExpr(
            "n_nodes",
            "n_edges",
            "wedges",
            "CAST(3 * n_triangles AS BIGINT) AS closed_wedges",
            f"CAST({rhu('3 * n_triangles * 1000000', 'wedges')} AS BIGINT)"
            " AS transitivity_micro",
        )
    )


# ---------- q409: mutual nearest neighbors (embedding alignment)

# The reciprocal-best-match operator batch-alignment pipelines use
# (MNN batch correction, bilingual lexicon induction): a pair (a, b)
# survives iff b is a's cosine-nearest neighbor AND a is b's. Built on
# q375's exact integer kernel (milli-quantized dots/norms, ROUND(,4)
# cosine, vec_id tiebreaks); NN per vector is one WindowGroupLimit
# over the candidate frame, and mutuality is a self-join on the
# (src, nn) pairs. Brute-force candidates ARE the oracle contract;
# the scale path routes candidate generation through IVF/LSH
# (q52/q135/q54) exactly as q254 documents.
_MNN_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT vec_id,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings WHERE vec_id < 120
), p AS (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> a.v[i] * b.v[i]))
                AS BIGINT) AS dot,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> a.v[i] * a.v[i]))
                AS BIGINT) AS na,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> b.v[i] * b.v[i]))
                AS BIGINT) AS nb
    FROM v a JOIN v b ON a.vec_id <> b.vec_id
), nn AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY
                   ROUND(CAST(dot AS DOUBLE)
                         / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))),
                         4) DESC, dst) AS rn
        FROM p WHERE na > 0 AND nb > 0
    ) WHERE rn = 1
)
SELECT a.src AS vec_a, a.dst AS vec_b
FROM nn a JOIN nn b ON b.src = a.dst AND b.dst = a.src
WHERE a.src < a.dst
ORDER BY vec_a, vec_b
"""


@register("q409_mutual_nn", oracle=_MNN_ORACLE)
def q409(embeddings):
    """Reciprocal cosine-nearest-neighbor pairs among the first 120
    vectors (oracle comment)."""
    v = embeddings.where(F.col("vec_id") < 120).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
        ).alias("v"),
    )
    zsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    a = v.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    p = (
        a.join(F.broadcast(b), F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            zsum(F.zip_with("va", "vb", lambda x, y: x * y)).alias("dot"),
            zsum(F.zip_with("va", "va", lambda x, y: x * y)).alias("na"),
            zsum(F.zip_with("vb", "vb", lambda x, y: x * y)).alias("nb"),
        )
        .where((F.col("na") > 0) & (F.col("nb") > 0))
    )
    wn = Window.partitionBy("src").orderBy(
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
            4,
        ).desc(),
        "dst",
    )
    nn = p.withColumn("rn", F.row_number().over(wn)).where("rn = 1").select(
        "src", "dst"
    )
    other = nn.select(F.col("src").alias("src2"), F.col("dst").alias("dst2"))
    return (
        nn.join(
            other, (F.col("src2") == F.col("dst")) & (F.col("dst2") == F.col("src"))
        )
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("vec_a"), F.col("dst").alias("vec_b"))
        .orderBy("vec_a", "vec_b")
    )


# ---------- q410: max_by / min_by argmax aggregates (packed ordering)

# The built-in argmax aggregate row (Spark MAX_BY/MIN_BY vs DuckDB
# ARG_MAX/ARG_MIN): ties are resolved by packing the ordering into one
# BIGINT (cents * 10^8 + orderkey — injective while orderkeys stay
# under 10^8, same bound discipline as operators/triangles._ID_SPACE),
# because NEITHER engine defines tie behavior for the bare form and
# this build's arg_max takes no composite ordering. Per order
# priority: the top/bottom order's status by packed price, plus the
# decoded key and cents of the winner.
_ARGMAX_ORACLE = """
WITH o AS (
    SELECT o_orderpriority AS prio, o_orderstatus AS status, o_orderkey AS okey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 100000000
               + o_orderkey AS packed
    FROM orders
)
SELECT prio,
       MAX_BY(status, packed) AS top_status,
       MIN_BY(status, packed) AS bottom_status,
       CAST(MAX(packed) % 100000000 AS BIGINT) AS top_orderkey,
       CAST(MAX(packed) // 100000000 AS BIGINT) AS top_cents
FROM o GROUP BY prio ORDER BY prio
"""


@register("q410_argmax_aggregates", oracle=_ARGMAX_ORACLE)
def q410(orders):
    """MAX_BY/MIN_BY with a packed unique ordering per order priority
    (oracle comment)."""
    packed = (
        cents("o_totalprice") * 100000000
        + F.col("o_orderkey")
    ).alias("packed")
    base = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
        packed,
    )
    return (
        base.groupBy("prio")
        .agg(
            F.max_by("status", "packed").alias("top_status"),
            F.min_by("status", "packed").alias("bottom_status"),
            F.max("packed").alias("mp"),
        )
        .selectExpr(
            "prio",
            "top_status",
            "bottom_status",
            "CAST(mp % 100000000 AS BIGINT) AS top_orderkey",
            "CAST(mp DIV 100000000 AS BIGINT) AS top_cents",
        )
        .orderBy("prio")
    )


# ---------- q411: Wilson confidence intervals for conversion rates

# The binomial CI the product dashboards should use instead of the
# normal approximation (it never leaves [0,1] and behaves at small n):
# per user bucket, conversion = users with >= 1 purchase. Wilson
# bounds are IEEE doubles OF EXACT INTEGER counts with the z constant
# as a micro-literal (1959964e-6) — the cast int->double is correctly
# rounded, every op after is engine-identical (q377 contract), and the
# published point estimate stays an exact micro rational.
_WILSON_ORACLE = """
WITH u AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
), g AS (
    SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS k
    FROM u GROUP BY user_id % 8
)
SELECT bucket, n, k,
       CAST((2 * k * 1000000 + n) // (2 * n) AS BIGINT) AS rate_micro,
       ROUND((CAST(k AS DOUBLE) + 1.959964 * 1.959964 / 2
              - 1.959964 * SQRT((CAST(k AS DOUBLE) * (n - k)) / n
                                + 1.959964 * 1.959964 / 4))
             / (n + 1.959964 * 1.959964), 6) AS wilson_lo,
       ROUND((CAST(k AS DOUBLE) + 1.959964 * 1.959964 / 2
              + 1.959964 * SQRT((CAST(k AS DOUBLE) * (n - k)) / n
                                + 1.959964 * 1.959964 / 4))
             / (n + 1.959964 * 1.959964), 6) AS wilson_hi
FROM g ORDER BY bucket
"""


@register("q411_wilson_ci", oracle=_WILSON_ORACLE)
def q411(events):
    """Wilson 95% bounds on per-bucket purchase conversion (oracle
    comment)."""
    u = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    )
    g = u.groupBy((F.col("user_id") % 8).cast("bigint").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    return g.selectExpr(
        "bucket",
        "n",
        "k",
        f"CAST({rhu('k * 1000000', 'n')} AS BIGINT) AS rate_micro",
        "ROUND((CAST(k AS DOUBLE) + 1.959964 * 1.959964 / 2"
        " - 1.959964 * SQRT((CAST(k AS DOUBLE) * (n - k)) / n"
        " + 1.959964 * 1.959964 / 4))"
        " / (n + 1.959964 * 1.959964), 6) AS wilson_lo",
        "ROUND((CAST(k AS DOUBLE) + 1.959964 * 1.959964 / 2"
        " + 1.959964 * SQRT((CAST(k AS DOUBLE) * (n - k)) / n"
        " + 1.959964 * 1.959964 / 4))"
        " / (n + 1.959964 * 1.959964), 6) AS wilson_hi",
    ).orderBy("bucket")


# ---------- q412: capture-recapture population estimate (Chapman)

# Mark-recapture from ecology applied to audience sizing: week 1
# actives are the "marked" sample, week 2 the recapture; Chapman's
# bias-corrected estimate (n1+1)(n2+1)/(m+1) - 1 of the total active
# population is an exact integer ratio -> one round-half-up micro
# division, published beside the actually-observed distinct count so
# the estimator's error is visible. One conditional aggregate over the
# user frame.
_CHAPMAN_ORACLE = """
WITH u AS (
    SELECT user_id,
           MAX(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08'
               THEN 1 ELSE 0 END) AS w1,
           MAX(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-08'
                     AND CAST(ts AS DATE) < DATE '2024-01-15'
               THEN 1 ELSE 0 END) AS w2
    FROM events GROUP BY user_id
), c AS (
    SELECT CAST(SUM(w1) AS BIGINT) AS n1, CAST(SUM(w2) AS BIGINT) AS n2,
           CAST(SUM(w1 * w2) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS observed
    FROM u
)
SELECT n1, n2, m, observed,
       CAST((2 * ((n1 + 1) * (n2 + 1) - (m + 1)) * 1000000 + (m + 1))
            // (2 * (m + 1)) AS BIGINT) AS chapman_micro
FROM c
"""


@register("q412_capture_recapture", oracle=_CHAPMAN_ORACLE)
def q412(events):
    """Chapman mark-recapture estimate of the active population from
    week-1/week-2 overlap (oracle comment)."""
    day = F.col("ts").cast("date")
    u = events.groupBy("user_id").agg(
        F.max(
            F.when(day < F.lit("2024-01-08").cast("date"), 1).otherwise(0)
        ).alias("w1"),
        F.max(
            F.when(
                (day >= F.lit("2024-01-08").cast("date"))
                & (day < F.lit("2024-01-15").cast("date")),
                1,
            ).otherwise(0)
        ).alias("w2"),
    )
    c = u.agg(
        F.sum("w1").cast("bigint").alias("n1"),
        F.sum("w2").cast("bigint").alias("n2"),
        F.sum(F.col("w1") * F.col("w2")).cast("bigint").alias("m"),
        F.count("*").cast("bigint").alias("observed"),
    )
    return c.selectExpr(
        "n1",
        "n2",
        "m",
        "observed",
        f"CAST({rhu('((n1 + 1) * (n2 + 1) - (m + 1)) * 1000000', '(m + 1)')} AS BIGINT)"
        " AS chapman_micro",
    )


# ---------- q413: Good-Turing unseen mass + frequency-of-frequencies

# The smoothing diagnostic under q279's Kneser-Ney: the frequency-of-
# frequencies table (how many terms occur exactly r times, r <= 5) and
# the Good-Turing estimate of the probability mass belonging to UNSEEN
# terms, N1/N — the number that says how much of the next corpus
# shard will be new vocabulary. Two nested map-side aggregates; one
# micro division.
_GT_ORACLE = """
WITH tok AS (
    SELECT UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
    FROM documents
), tf AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY term
), fof AS MATERIALIZED (
    SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf GROUP BY r
), tot AS (
    SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
    FROM fof
)
SELECT f.r, f.n_r,
       t.n_tokens,
       CAST((2 * t.n1 * 1000000 + t.n_tokens) // (2 * t.n_tokens) AS BIGINT)
           AS gt_unseen_mass_micro
FROM fof f, tot t WHERE f.r <= 5 ORDER BY f.r
"""


@register("q413_good_turing", oracle=_GT_ORACLE)
def q413(documents):
    """Frequency-of-frequencies (r<=5) + Good-Turing unseen mass
    (oracle comment)."""
    from ..functions import text as T

    tok = documents.select(F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("r"))
    fof = tf.groupBy("r").agg(F.count("*").cast("bigint").alias("n_r"))
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    return (
        fof.where(F.col("r") <= 5)
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "r",
            "n_r",
            "n_tokens",
            "CAST(" + rhu("n1 * 1000000", "n_tokens")
            + " AS BIGINT) AS gt_unseen_mass_micro",
        )
        .orderBy("r")
    )


# ---------- q414: Herfindahl-Hirschman concentration per market

# The antitrust concentration index beside q228's Gini: per nation
# "market", HHI = sum over suppliers of (revenue share)^2. Computed
# WITHOUT per-supplier rounding: HHI = sum(r_i^2) / (sum r_i)^2 is an
# exact integer ratio (supplier revenues in cents), one round-half-up
# micro division per market. Supplier revenue is one grouped aggregate
# over lineitem joined to the broadcast supplier dim.
_HHI_ORACLE = """
WITH sup AS (
    SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS r
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey, l.l_suppkey
)
SELECT CAST(nation AS BIGINT) AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(r) AS BIGINT) AS market_cents,
       CAST((2 * SUM(CAST(r AS HUGEINT) * r) * 1000000
             + CAST(SUM(r) AS HUGEINT) * SUM(r))
            // (2 * CAST(SUM(r) AS HUGEINT) * SUM(r)) AS BIGINT) AS hhi_micro
FROM sup GROUP BY nation ORDER BY nation
"""


@register("q414_hhi_concentration", oracle=_HHI_ORACLE)
def q414(lineitem, supplier):
    """HHI of supplier revenue shares per nation market (oracle
    comment)."""
    d38 = "decimal(38,0)"
    sup = (
        lineitem
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nation"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(cents("l_extendedprice")).cast("bigint").alias("r")
        )
    )
    return (
        sup.groupBy("nation")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("r").cast(d38).alias("sr"),
            F.sum(F.col("r").cast(d38) * F.col("r")).cast(d38).alias("sr2"),
        )
        .selectExpr(
            "CAST(nation AS BIGINT) AS nation",
            "n_suppliers",
            "CAST(sr AS BIGINT) AS market_cents",
            f"CAST({rhu('sr2 * 1000000', 'sr * sr')} AS BIGINT) AS hhi_micro",
        )
        .orderBy("nation")
    )


# ---------- q415: functional-dependency discovery (profiling)

# The data-profiling pass schema-inference and normalization tools
# run: does X functionally determine Y? For four candidate FDs the
# audit counts the X-groups with more than one distinct Y (violations)
# and the rows inside them — FD holds iff both are zero. One grouped
# aggregate per candidate, stacked into a narrow report. (customer ->
# nation holds by construction; nation -> region is the dimensional
# hierarchy; orderkey -> custkey holds; partkey -> suppkey should NOT
# hold in a many-to-many catalog — the audit proves which.)
_FD_ORACLE = """
WITH checks AS (
    SELECT 'o_custkey->c_nationkey' AS fd, x, CAST(COUNT(DISTINCT y) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS rows_in
    FROM (SELECT o.o_custkey AS x, c.c_nationkey AS y
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey) GROUP BY x
    UNION ALL
    SELECT 'n_nationkey->n_regionkey', x, CAST(COUNT(DISTINCT y) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT n_nationkey AS x, n_regionkey AS y FROM nation) GROUP BY x
    UNION ALL
    SELECT 'l_orderkey->o_custkey', x, CAST(COUNT(DISTINCT y) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT l.l_orderkey AS x, o.o_custkey AS y
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey) GROUP BY x
    UNION ALL
    SELECT 'l_partkey->l_suppkey', x, CAST(COUNT(DISTINCT y) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem) GROUP BY x
)
SELECT fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       CAST(SUM(CASE WHEN d > 1 THEN rows_in ELSE 0 END) AS BIGINT)
           AS violating_rows,
       CAST(CASE WHEN SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS fd_holds
FROM checks GROUP BY fd ORDER BY fd
"""


@register("q415_fd_discovery", oracle=_FD_ORACLE)
def q415(orders, customer, nation, lineitem):
    """Functional-dependency audit over four candidate FDs (oracle
    comment)."""

    def check(name, df):
        g = df.groupBy("x").agg(
            F.countDistinct("y").cast("bigint").alias("d"),
            F.count("*").cast("bigint").alias("rows_in"),
        )
        return g.select(F.lit(name).alias("fd"), "d", "rows_in")

    stacked = (
        check(
            "o_custkey->c_nationkey",
            orders
            .join(
                F.broadcast(customer.select("c_custkey", "c_nationkey")),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select(F.col("o_custkey").alias("x"), F.col("c_nationkey").alias("y")),
        )
        .unionAll(
            check(
                "n_nationkey->n_regionkey",
                nation.select(
                    F.col("n_nationkey").alias("x"), F.col("n_regionkey").alias("y")
                ),
            )
        )
        .unionAll(
            check(
                "l_orderkey->o_custkey",
                lineitem
                .join(
                    orders.select("o_orderkey", "o_custkey"),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                )
                .select(F.col("l_orderkey").alias("x"), F.col("o_custkey").alias("y")),
            )
        )
        .unionAll(
            check(
                "l_partkey->l_suppkey",
                lineitem.select(
                    F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y")
                ),
            )
        )
    )
    return (
        stacked.groupBy("fd")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_groups"),
            F.sum(F.when(F.col("d") > 1, F.col("rows_in")).otherwise(0))
            .cast("bigint")
            .alias("violating_rows"),
        )
        .selectExpr(
            "fd",
            "n_groups",
            "violating_groups",
            "violating_rows",
            "CAST(CASE WHEN violating_groups = 0 THEN 1 ELSE 0 END AS BIGINT)"
            " AS fd_holds",
        )
        .orderBy("fd")
    )


# ---------- q416: transition latency matrix (semi-Markov holding times)

# q181's transition matrix says WHERE sessions go; this says HOW FAST:
# mean seconds between consecutive events per (from, to) event-type
# pair, one LEAD window per user under the unique (ts, event_id)
# order, exact microsecond sums -> one round-half-up milli division
# per cell. Top-15 cells by (count DESC, from, to).
_TRANSLAT_ORACLE = """
WITH seq AS (
    SELECT event_type AS prev,
           LEAD(event_type) OVER w AS nxt,
           LEAD(EPOCH_US(ts)) OVER w - EPOCH_US(ts) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev AS from_type, nxt AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((2 * SUM(gap_us) + 1000 * COUNT(*)) // (2 * 1000 * COUNT(*))
            AS BIGINT) AS mean_gap_ms
FROM seq WHERE nxt IS NOT NULL
GROUP BY prev, nxt ORDER BY n DESC, from_type, to_type LIMIT 15
"""


@register("q416_transition_latency", oracle=_TRANSLAT_ORACLE)
def q416(events):
    """Mean inter-event gap per (from, to) transition, top-15 by count
    (oracle comment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("gap_us"),
    ).where(F.col("nxt").isNotNull())
    return (
        seq.groupBy(F.col("prev").alias("from_type"), F.col("nxt").alias("to_type"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("gap_us").cast("bigint").alias("sg"),
        )
        .selectExpr(
            "from_type",
            "to_type",
            "n",
            f"CAST({rhu('sg', '1000 * n')} AS BIGINT) AS mean_gap_ms",
        )
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(15)
    )


# ---------- q417: Brier score + skill vs climatology

# Probabilistic-forecast evaluation beside q242's calibration curve:
# each user's first-27-days purchase share (an exact rational k/n)
# forecasts whether they purchase in the LAST THREE days (a window
# chosen so the target is non-constant at every SF — the full week 4
# is hit by every user and makes climatology degenerate). Each squared error
# (p - y)^2 is rounded half-up to micro ONCE in integer arithmetic
# ((k - y*n)^2 scaled by n^2 — both engines see identical addends),
# then averaged; the climatology baseline uses the EXACT global last-window
# rate the same way, and the skill score 1 - BS/BS_ref is a micro
# ratio of those two integer sums. Users with week-1-3 activity only.
_BRIER_ORACLE = """
WITH u AS MATERIALIZED (
    SELECT user_id,
           CAST(COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-28' THEN 1 END)
                AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-28'
                AND event_type = 'purchase' THEN 1 END) AS BIGINT) AS k,
           MAX(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-28'
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY user_id HAVING n > 0
), tot AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(y) AS BIGINT) AS ybar_num
    FROM u
), terms AS (
    SELECT (2 * (k - y * n) * (k - y * n) * 1000000 + n * n) // (2 * n * n)
               AS bs_micro,
           (2 * (ybar_num - y * m) * (ybar_num - y * m) * 1000000 + m * m)
               // (2 * m * m) AS ref_micro
    FROM u, tot
)
SELECT (SELECT m FROM tot) AS n_users,
       CAST((2 * SUM(bs_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS brier_micro,
       CAST((2 * SUM(ref_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS brier_ref_micro,
       CAST((2 * ((SUM(ref_micro) - SUM(bs_micro)) * 1000000
                  + 1000000 * SUM(ref_micro)) + SUM(ref_micro))
            // (2 * SUM(ref_micro)) - 1000000 AS BIGINT) AS skill_micro
FROM terms
"""


@register("q417_brier_skill", oracle=_BRIER_ORACLE)
def q417(events):
    """Brier score of the weeks-1-3 share forecast for week-4 purchase
    + skill vs climatology (oracle comment)."""
    day = F.col("ts").cast("date")
    pre = day < F.lit("2024-01-28").cast("date")
    u = (
        events.groupBy("user_id")
        .agg(
            F.count(F.when(pre, 1)).cast("bigint").alias("n"),
            F.count(F.when(pre & (F.col("event_type") == "purchase"), 1))
            .cast("bigint")
            .alias("k"),
            F.max(
                F.when(
                    (~pre) & (F.col("event_type") == "purchase"), 1
                ).otherwise(0)
            ).alias("y"),
        )
        .where(F.col("n") > 0)
    )
    tot = u.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("y").cast("bigint").alias("ybar_num"),
    )
    terms = u.crossJoin(F.broadcast(tot)).selectExpr(
        f"{rhu('(k - y * n) * (k - y * n) * 1000000', 'n * n')} AS bs_micro",
        rhu("(ybar_num - y * m) * (ybar_num - y * m) * 1000000", "m * m") + " AS ref_micro",
        "m",
    )
    return terms.agg(
        F.max("m").cast("bigint").alias("n_users"),
        F.sum("bs_micro").cast("bigint").alias("sb"),
        F.sum("ref_micro").cast("bigint").alias("sr"),
        F.count("*").cast("bigint").alias("c"),
    ).selectExpr(
        "n_users",
        f"CAST({rhu('sb', 'c')} AS BIGINT) AS brier_micro",
        f"CAST({rhu('sr', 'c')} AS BIGINT) AS brier_ref_micro",
        f"CAST({rhu('((sr - sb) * 1000000 + 1000000 * sr)', 'sr')} - 1000000 AS BIGINT)"
        " AS skill_micro",
    )


# ---------- q418: readability index per source (ARI)

# The corpus-quality readability lane (beside q48's heuristic quality
# score): Automated Readability Index 4.71*chars/word + 0.5*words/
# sentence - 21.43, with the constants as exact rationals (471/100,
# 1/2, 2143/100) so the per-source score is ONE round-half-up micro
# expression over three exact integer totals. Characters count only
# non-space characters (both engines: total length minus tokens-1
# separators... spelled as sum of token lengths); sentences = period
# count clamped to >= 1 per doc.
_ARI_ORACLE = """
WITH d AS (
    SELECT source,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS tk,
           GREATEST(LEN(text) - LEN(REPLACE(text, '.', '')), 1) AS sentences
    FROM documents
), agg AS (
    SELECT source,
           CAST(SUM(LIST_SUM(LIST_TRANSFORM(tk, t -> LEN(t)))) AS BIGINT) AS chars,
           CAST(SUM(LEN(tk)) AS BIGINT) AS words,
           CAST(SUM(sentences) AS BIGINT) AS sentences
    FROM d GROUP BY source
)
SELECT source, chars, words, sentences,
       CAST((2 * ((471 * chars * 50 * sentences + 25 * words * 100 * words
                   - 2143 * 50 * words * sentences) * 10000)
             + 100 * 50 * words * sentences)
            // (2 * 100 * 50 * words * sentences) AS BIGINT) AS ari_micro
FROM agg WHERE words > 0 AND sentences > 0 ORDER BY source
"""


@register("q418_readability_ari", oracle=_ARI_ORACLE)
def q418(documents):
    """ARI readability per source from exact char/word/sentence totals
    (oracle comment)."""
    from ..functions import text as T

    tk = T.tokens(F.col("text"))
    base = documents.select(
        "source",
        F.aggregate(
            tk, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
        ).alias("chars"),
        F.size(tk).cast("bigint").alias("words"),
        F.greatest(
            F.length("text") - F.length(F.replace(F.col("text"), F.lit("."), F.lit(""))),
            F.lit(1),
        )
        .cast("bigint")
        .alias("sentences"),
    )
    agg = base.groupBy("source").agg(
        F.sum("chars").cast("bigint").alias("chars"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("sentences").cast("bigint").alias("sentences"),
    )
    return (
        agg.where((F.col("words") > 0) & (F.col("sentences") > 0))
        .selectExpr(
            "source",
            "chars",
            "words",
            "sentences",
            "CAST(" + rhu(
                "((471 * chars * 50 * sentences + 25 * words * 100 * words - 2143"
                " * 50 * words * sentences) * 10000)",
                "100 * 50 * words * sentences",
            ) + " AS BIGINT) AS ari_micro",
        )
        .orderBy("source")
    )

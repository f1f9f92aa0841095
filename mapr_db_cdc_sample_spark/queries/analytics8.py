"""Round-9 batch (q539+): distribution-shape tests (Jarque-Bera,
Anderson-Darling digit uniformity), variance-homogeneity tests
(Bartlett, Levene, F-ratio), ordered/dispersion rank tests
(Jonckheere-Terpstra, Siegel-Tukey), regression diagnostics
(Breusch-Pagan, Chow, Newey-West HAC, Granger), epidemiology strata
(Mantel-Haenszel), time-series fits (AR(2) Yule-Walker, theta forecast,
seasonal strength), tail/risk (expected shortfall, ulcer index, Hill),
graph structure (rich club, power-law degree MLE, reciprocity, truss
support, neighbor-degree curve), corpus statistics (Yule's K,
winnowing fingerprints, RAKE, lognormal length fit), representation
audits (polynomial MMD, CORAL, participation ratio, linear CKA), and
evaluation metrics (Davies-Bouldin, Calinski-Harabasz, LOF, pinball
loss, log-rank, Fleiss kappa, Somers' D, MCC, Youden J).

Determinism rules follow queries/relational.py's module docstring and
CLAUDE.md: integer cents and round-half-up (positive and signed) come
from functions/exact.py; transcendentals (LN/EXP/POWER) are rounded to 6
decimals PER TERM, converted to micro integers, and only then summed,
so cross-engine sums are exact integer arithmetic; doubles appear only
in textually-parallel final expressions over exact integer aggregates
(the q207 discipline); unique ORDER BY tiebreakers under every LIMIT;
multi-referenced oracle CTEs are AS MATERIALIZED from birth (the q487
exponential re-inlining lesson). Big products cast FACTORS to
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) before multiplying.
Embedding floats are CAST to DOUBLE before ANY arithmetic on both
sides, then quantized to declared integer micro units."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exact import cents, floor_rhu, floor_rhu_duck, rhu
from ..session import pin
from . import register
from .analytics3 import _DAILY_CTE, _daily_cents

# ---------- q539: Jarque-Bera normality screen (per event type)

# Are per-type event values normal enough for z-score gating? JB
# combines skewness and excess kurtosis: JB = n/6*(S^2 + K^2/4). The
# sqrt inside S is avoided by reporting S^2 = m3^2/m2^3 directly; all
# raw moments are exact integers over cents (c <= 5.7e4, so sum(c^4)
# <= ~2e23 -> HUGEINT/DECIMAL(38)), and the central-moment doubles are
# textually parallel across engines, rounded to 6.

# shared double-layer fragments over the exact integer aggregates
_M = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_M2 = f"(CAST(q2 AS DOUBLE) / CAST(n AS DOUBLE) - {_M} * {_M})"
_M3 = (
    f"(CAST(q3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3.0 * {_M} * CAST(q2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 2.0 * {_M} * {_M} * {_M})"
)
_M4 = (
    f"(CAST(q4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4.0 * {_M} * CAST(q3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 6.0 * {_M} * {_M} * CAST(q2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3.0 * {_M} * {_M} * {_M} * {_M})"
)
_SKEW2 = f"({_M3} * {_M3} / ({_M2} * {_M2} * {_M2}))"
_EXKURT = f"({_M4} / ({_M2} * {_M2}) - 3.0)"

_JB_ORACLE = f"""
WITH v AS (
    SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
), m AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q2,
           CAST(SUM(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS q3,
           CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS HUGEINT) AS q4
    FROM v GROUP BY g
)
SELECT g, n,
       ROUND({_SKEW2}, 6) AS skew2_r6,
       ROUND({_EXKURT}, 6) AS exkurt_r6,
       ROUND(CAST(n AS DOUBLE) / 6.0
             * ({_SKEW2} + {_EXKURT} * {_EXKURT} / 4.0), 6) AS jb_r6
FROM m ORDER BY g
"""


@register("q539_jarque_bera", oracle=_JB_ORACLE)
def q539(events):
    """JB = n/6*(skew^2 + exkurt^2/4) over exact integer raw moments
    (oracle comment)."""
    v = events.select(
        F.col("event_type").alias("g"),
        cents("value").alias("c"),
    )
    d38 = F.col("c").cast("decimal(38,0)")
    m = v.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(d38 * F.col("c")).alias("q2"),
        F.sum(d38 * F.col("c") * F.col("c")).alias("q3"),
        F.sum(d38 * F.col("c") * F.col("c") * F.col("c")).alias("q4"),
    )
    return m.select(
        "g",
        "n",
        F.expr(f"ROUND({_SKEW2}, 6)").alias("skew2_r6"),
        F.expr(f"ROUND({_EXKURT}, 6)").alias("exkurt_r6"),
        F.expr(
            f"ROUND(CAST(n AS DOUBLE) / 6.0"
            f" * ({_SKEW2} + {_EXKURT} * {_EXKURT} / 4.0), 6)"
        ).alias("jb_r6"),
    ).orderBy("g")


# ---------- q540: Bartlett's equal-variance test (order priorities)

# Homogeneity-of-variance gate before pooled-variance ANOVA. Group
# variances come from exact integer moments; each group's
# (n_j - 1) * LN(s_j^2) term is rounded to 6 and micro-quantized BEFORE
# the cross-group sum (per-term rounding — double addition across
# groups is association-order-dependent, integer addition is not).
# The final statistic is a textually-parallel double over those exact
# integers, rounded to 6.
_SSD2 = (
    "((CAST(q2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / 10000.0)"
)

_BARTLETT_ORACLE = f"""
WITH v AS (
    SELECT o_orderpriority AS g,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), m AS MATERIALIZED (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q2
    FROM v GROUP BY g
), terms AS (
    SELECT g, n,
           CAST(ROUND(CAST(n - 1 AS DOUBLE)
                      * LN({_SSD2} / CAST(n - 1 AS DOUBLE)) * 1000000, 0)
                AS BIGINT) AS lnterm_u,
           CAST(ROUND(1000000.0 / CAST(n - 1 AS DOUBLE), 0) AS BIGINT)
               AS invdf_u,
           CAST(n - 1 AS BIGINT) AS df,
           CAST(ROUND({_SSD2}, 0) AS BIGINT) AS ss_d2
    FROM m
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(df) AS BIGINT) AS dft,
           CAST(SUM(lnterm_u) AS BIGINT) AS sum_ln_u,
           CAST(SUM(invdf_u) AS BIGINT) AS sum_invdf_u,
           CAST(SUM(ss_d2) AS BIGINT) AS ss_d2t
    FROM terms
)
SELECT k, dft,
       ROUND((CAST(dft AS DOUBLE)
              * LN(CAST(ss_d2t AS DOUBLE) / CAST(dft AS DOUBLE))
              - CAST(sum_ln_u AS DOUBLE) / 1000000.0)
             / (1.0 + (CAST(sum_invdf_u AS DOUBLE) / 1000000.0
                       - 1.0 / CAST(dft AS DOUBLE))
                      / (3.0 * CAST(k - 1 AS DOUBLE))), 6) AS bartlett_r6
FROM tot
"""


@register("q540_bartlett_test", oracle=_BARTLETT_ORACLE)
def q540(orders):
    """Bartlett T with per-group micro-quantized LN terms and integer
    dollar^2 pooled SS (oracle comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("g"),
        cents("o_totalprice").alias("c"),
    )
    m = v.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q2"),
    )
    terms = m.select(
        F.expr(
            f"CAST(ROUND(CAST(n - 1 AS DOUBLE)"
            f" * LN({_SSD2} / CAST(n - 1 AS DOUBLE)) * 1000000, 0) AS BIGINT)"
        ).alias("lnterm_u"),
        F.expr(
            "CAST(ROUND(1000000.0 / CAST(n - 1 AS DOUBLE), 0) AS BIGINT)"
        ).alias("invdf_u"),
        (F.col("n") - 1).cast("bigint").alias("df"),
        F.expr(f"CAST(ROUND({_SSD2}, 0) AS BIGINT)").alias("ss_d2"),
    )
    tot = terms.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("df").cast("bigint").alias("dft"),
        F.sum("lnterm_u").cast("bigint").alias("sum_ln_u"),
        F.sum("invdf_u").cast("bigint").alias("sum_invdf_u"),
        F.sum("ss_d2").cast("bigint").alias("ss_d2t"),
    )
    return tot.select(
        "k",
        "dft",
        F.expr(
            "ROUND((CAST(dft AS DOUBLE)"
            " * LN(CAST(ss_d2t AS DOUBLE) / CAST(dft AS DOUBLE))"
            " - CAST(sum_ln_u AS DOUBLE) / 1000000.0)"
            " / (1.0 + (CAST(sum_invdf_u AS DOUBLE) / 1000000.0"
            " - 1.0 / CAST(dft AS DOUBLE))"
            " / (3.0 * CAST(k - 1 AS DOUBLE))), 6)"
        ).alias("bartlett_r6"),
    )


# ---------- q541: Levene's test, mean-centered (complements q441)

# q441 (Brown-Forsythe) centers at the median; classic Levene centers
# at the MEAN. |c - mean_j| is kept exact by scaling each group's
# deviations by its own n_j: A_j = sum|n_j*c - s_j| and
# Q_j = sum((n_j*c - s_j)^2) are exact integers; zbar_j = A_j/n_j^2 and
# the within-group SS of z = Q_j/n_j^2 - A_j^2/n_j^3 then live in the
# textually-parallel double layer. W = ((N-k)/(k-1)) * SSB_z / SSW_z
# with SSB_z from per-group micro-quantized zbar terms.
_LEVENE_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT o_orderpriority AS g,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), gm AS MATERIALIZED (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
    FROM v GROUP BY g
), dev AS (
    SELECT v.g, gm.n,
           ABS(CAST(gm.n AS HUGEINT) * v.c - gm.s) AS a
    FROM v JOIN gm ON gm.g = v.g
), agg AS MATERIALIZED (
    SELECT g, CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(a) AS HUGEINT) AS aj,
           CAST(SUM(a * a) AS HUGEINT) AS qj
    FROM dev GROUP BY g
), per AS MATERIALIZED (
    SELECT g, n,
           CAST(ROUND(CAST(aj AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000, 0)
                AS BIGINT) AS zbar_u,
           CAST(ROUND((CAST(qj AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                       - CAST(aj AS DOUBLE) * CAST(aj AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n AS DOUBLE))) / 10000, 0) AS BIGINT)
               AS ssw_d2
    FROM agg
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nt,
           CAST(SUM(CAST(n AS HUGEINT) * zbar_u) AS HUGEINT) AS swz_u,
           CAST(SUM(CAST(n AS HUGEINT) * zbar_u * zbar_u) AS HUGEINT)
               AS swz2_u,
           CAST(SUM(ssw_d2) AS BIGINT) AS ssw_d2
    FROM per
)
SELECT k, nt,
       ROUND((CAST(nt - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             * ((CAST(swz2_u AS DOUBLE)
                 - CAST(swz_u AS DOUBLE) * CAST(swz_u AS DOUBLE)
                   / CAST(nt AS DOUBLE)) / 1e16)
             / CAST(ssw_d2 AS DOUBLE), 6) AS levene_w_r6
FROM tot
"""


@register("q541_levene_mean", oracle=_LEVENE_ORACLE)
def q541(orders):
    """Mean-centered Levene W via n_j-scaled exact deviations (oracle
    comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("g"),
        cents("o_totalprice").alias("c"),
    )
    gm = v.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("s")
    )
    dev = v.join(F.broadcast(gm), "g").select(
        "g",
        "n",
        F.abs(F.col("n").cast("decimal(38,0)") * F.col("c") - F.col("s")).alias("a"),
    )
    agg = dev.groupBy("g").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("a").alias("aj"),
        F.sum(F.col("a") * F.col("a")).alias("qj"),
    )
    per = agg.select(
        "n",
        F.expr(
            "CAST(ROUND(CAST(aj AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)"
        ).alias("zbar_u"),
        F.expr(
            "CAST(ROUND((CAST(qj AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
            " - CAST(aj AS DOUBLE) * CAST(aj AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " * CAST(n AS DOUBLE))) / 10000, 0) AS BIGINT)"
        ).alias("ssw_d2"),
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("zbar_u")).alias("swz_u"),
        F.sum(
            F.col("n").cast("decimal(38,0)") * F.col("zbar_u") * F.col("zbar_u")
        ).alias("swz2_u"),
        F.sum("ssw_d2").cast("bigint").alias("ssw_d2"),
    )
    return tot.select(
        "k",
        "nt",
        F.expr(
            "ROUND((CAST(nt - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))"
            " * ((CAST(swz2_u AS DOUBLE)"
            " - CAST(swz_u AS DOUBLE) * CAST(swz_u AS DOUBLE)"
            " / CAST(nt AS DOUBLE)) / 1e16)"
            " / CAST(ssw_d2 AS DOUBLE), 6)"
        ).alias("levene_w_r6"),
    )


# ---------- q542: Grubbs' extreme-outlier statistic (sqrt-free)

# Single most extreme order value: G^2 = (x - mean)^2 / s^2 reported as
# an EXACT integer rational: with d = n*c - s, G^2 = d^2*(n-1) /
# (n*(n*q2 - s^2)), rhu micro. The argmax row is unique under the
# (|d| DESC, o_orderkey) tiebreak. Magnitudes: d <= ~7.5e12, d^2 <=
# 5.6e25, * (n-1) ~ 8e30, * 2e6 micro shift ~ 1.7e37 — inside
# HUGEINT/DECIMAL(38).
_GRUBBS_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q2
    FROM v
), d AS (
    SELECT v.o_orderkey, v.c, m.n, m.s, m.q2,
           ABS(CAST(m.n AS HUGEINT) * v.c - m.s) AS ad
    FROM v, m
), pick AS (
    SELECT * FROM d ORDER BY ad DESC, o_orderkey LIMIT 1
)
SELECT o_orderkey, c AS cents, n,
       CAST((2 * 1000000 * ad * ad * (n - 1)
             + n * (n * q2 - CAST(s AS HUGEINT) * s))
            // (2 * n * (n * q2 - CAST(s AS HUGEINT) * s)) AS BIGINT)
           AS g2_micro
FROM pick
"""


@register("q542_grubbs_test", oracle=_GRUBBS_ORACLE)
def q542(orders):
    """Exact-rational Grubbs G^2 for the most extreme order (oracle
    comment)."""
    v = orders.select(
        "o_orderkey",
        cents("o_totalprice").alias("c"),
    )
    m = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q2"),
    )
    d = v.crossJoin(F.broadcast(m)).select(
        "o_orderkey",
        "c",
        "n",
        "s",
        "q2",
        F.abs(F.col("n").cast("decimal(38,0)") * F.col("c") - F.col("s")).alias("ad"),
    )
    pick = d.orderBy(F.col("ad").desc(), "o_orderkey").limit(1)
    return pick.select(
        "o_orderkey",
        F.col("c").alias("cents"),
        "n",
        F.expr(
            "CAST(" + rhu(
                "1000000 * ad * ad * (n - 1)",
                "n * (n * q2 - CAST(s AS DECIMAL(38,0)) * s)",
            ) + " AS BIGINT)"
        ).alias("g2_micro"),
    )


# ---------- q543: F-ratio of two group variances (exact rational)

# Variance-ratio F between click and view event values, sqrt-free and
# fully integer: s_g^2 = (n_g*q_g - s_g^2) / (n_g*(n_g-1)), so
# F = s1^2/s2^2 = (n1*q1 - s1^2) * n2*(n2-1) / ((n2*q2 - s2^2) *
# n1*(n1-1)) — one rhu micro division.
_FRATIO_ORACLE = """
WITH v AS (
    SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type IN ('click', 'view')
), m AS (
    SELECT
        CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
        CAST(SUM(CASE WHEN g = 'click' THEN c ELSE 0 END) AS HUGEINT) AS s1,
        CAST(SUM(CASE WHEN g = 'view' THEN c ELSE 0 END) AS HUGEINT) AS s2,
        CAST(SUM(CASE WHEN g = 'click' THEN CAST(c AS HUGEINT) * c ELSE 0 END)
             AS HUGEINT) AS q1,
        CAST(SUM(CASE WHEN g = 'view' THEN CAST(c AS HUGEINT) * c ELSE 0 END)
             AS HUGEINT) AS q2
    FROM v
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST((2 * 1000000 * (n1 * q1 - s1 * s1) * n2 * (n2 - 1)
             + (n2 * q2 - s2 * s2) * n1 * (n1 - 1))
            // (2 * (n2 * q2 - s2 * s2) * n1 * (n1 - 1)) AS BIGINT)
           AS f_micro
FROM m
"""


@register("q543_variance_ratio_f", oracle=_FRATIO_ORACLE)
def q543(events):
    """Exact-rational two-sample variance-ratio F (oracle comment)."""
    v = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_type").alias("g"),
        cents("value").alias("c"),
    )
    m = v.agg(
        F.sum(F.when(F.col("g") == "click", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("g") == "view", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n2"),
        F.sum(F.when(F.col("g") == "click", F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.when(F.col("g") == "view", F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            F.when(F.col("g") == "click", F.col("c").cast("decimal(38,0)") * F.col("c"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q1"),
        F.sum(
            F.when(F.col("g") == "view", F.col("c").cast("decimal(38,0)") * F.col("c"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q2"),
    )
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * (n1 * q1 - s1 * s1) * n2 * (n2 - 1)",
                "(n2 * q2 - s2 * s2) * n1 * (n1 - 1)",
            ) + " AS BIGINT)"
        ).alias("f_micro"),
    )


# ---------- q544: two-sample Poisson rate test (purchase vs error)

# Did purchases arrive at a different rate than errors over the same
# 30-day exposure? The conditional test reduces to a binomial on
# k1 | k1+k2; its normal-approximation statistic z^2 = (k1-k2)^2 /
# (k1+k2) is an exact integer rational. Rate ratio in rhu micro.
_POISSONRATE_ORACLE = """
WITH m AS (
    SELECT
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS k1,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS k2
    FROM events
)
SELECT k1, k2,
       CAST((2 * 1000000 * (k1 - k2) * (k1 - k2) + (k1 + k2))
            // (2 * (k1 + k2)) AS BIGINT) AS z2_micro,
       CAST((2 * 1000000 * k1 + k2) // (2 * k2) AS BIGINT) AS ratio_micro
FROM m
"""


@register("q544_poisson_rate_test", oracle=_POISSONRATE_ORACLE)
def q544(events):
    """Conditional Poisson rate test z^2 as an exact rational (oracle
    comment)."""
    m = events.agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k1"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("k2"),
    )
    return m.select(
        "k1",
        "k2",
        F.expr(
            f"CAST({rhu('1000000 * (k1 - k2) * (k1 - k2)', '(k1 + k2)')} AS BIGINT)"
        ).alias("z2_micro"),
        F.expr(f"CAST({rhu('1000000 * k1', 'k2')} AS BIGINT)").alias(
            "ratio_micro"
        ),
    )


# ---------- q545: Anderson-Darling uniformity of the cents digits

# Complements q483 (Benford): are the last two digits of order prices
# uniform? u = (c MOD 100 + 0.5)/100 has only 100 distinct values, so
# the sorted-sample AD sum collapses onto the value histogram: a value
# spanning ranks [a, b] contributes closed-form integer coefficients
# (sum of 2i-1 = b^2-(a-1)^2 forward; the mirrored term gets
# (b-a+1)*(2n+1) - (b(b+1)-a(a-1)) backward). LN terms are per-value
# micro-quantized before the exact integer dot product; A^2 is the one
# final double.
_AD_ORACLE = """
WITH v AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100
           AS d2
    FROM orders
), hist AS MATERIALIZED (
    SELECT d2, CAST(COUNT(*) AS BIGINT) AS k FROM v GROUP BY d2
), cum AS MATERIALIZED (
    SELECT d2, k,
           SUM(k) OVER (ORDER BY d2) AS b,
           SUM(k) OVER (ORDER BY d2) - k + 1 AS a,
           SUM(k) OVER () AS n
    FROM hist
), terms AS (
    SELECT n,
           (b * b - (a - 1) * (a - 1)) AS wf,
           ((b - a + 1) * (2 * n + 1) - (b * (b + 1) - a * (a - 1))) AS wb,
           CAST(ROUND(LN((CAST(d2 AS DOUBLE) + 0.5) / 100.0) * 1000000, 0)
                AS BIGINT) AS lnu_u,
           CAST(ROUND(LN(1.0 - (CAST(d2 AS DOUBLE) + 0.5) / 100.0) * 1000000, 0)
                AS BIGINT) AS ln1u_u
    FROM cum
), dot AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CAST(wf AS HUGEINT) * lnu_u
                    + CAST(wb AS HUGEINT) * ln1u_u) AS HUGEINT) AS sgn
    FROM terms
)
SELECT n,
       ROUND(-CAST(n AS DOUBLE)
             - CAST(sgn AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
           AS a2_r6
FROM dot
"""


@register("q545_anderson_darling_digits", oracle=_AD_ORACLE)
def q545(orders):
    """Histogram-collapsed AD statistic for cents-digit uniformity
    (oracle comment)."""
    v = orders.select(
        (
            cents("o_totalprice") % 100
        ).alias("d2")
    )
    hist = v.groupBy("d2").agg(F.count("*").cast("bigint").alias("k"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "d2",
        "k",
        F.sum("k").over(Window.orderBy("d2")).alias("b"),
        (F.sum("k").over(Window.orderBy("d2")) - F.col("k") + 1).alias("a"),
        F.sum("k").over(wall).alias("n"),
    )
    terms = cum.select(
        "n",
        F.expr("b * b - (a - 1) * (a - 1)").alias("wf"),
        F.expr("(b - a + 1) * (2 * n + 1) - (b * (b + 1) - a * (a - 1))").alias("wb"),
        F.expr(
            "CAST(ROUND(LN((CAST(d2 AS DOUBLE) + 0.5) / 100.0) * 1000000, 0)"
            " AS BIGINT)"
        ).alias("lnu_u"),
        F.expr(
            "CAST(ROUND(LN(1.0 - (CAST(d2 AS DOUBLE) + 0.5) / 100.0) * 1000000, 0)"
            " AS BIGINT)"
        ).alias("ln1u_u"),
    )
    dot = terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.col("wf").cast("decimal(38,0)") * F.col("lnu_u")
            + F.col("wb").cast("decimal(38,0)") * F.col("ln1u_u")
        ).alias("sgn"),
    )
    return dot.select(
        "n",
        F.expr(
            "ROUND(-CAST(n AS DOUBLE)"
            " - CAST(sgn AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)"
        ).alias("a2_r6"),
    )


# ---------- q546: Jonckheere-Terpstra ordered trend (priorities)

# Does order value trend monotonically across the ORDERED priority
# classes 1-URGENT < 2-HIGH < ... < 5-LOW? JT sums pairwise
# Mann-Whitney counts for every ordered group pair; ties count 1/2, so
# the statistic is carried doubled (JT2 = 2*JT, exact integer). The
# all-pairs sum collapses onto the dense (distinct value x group) grid:
# for each cell, earlier-group mass below the value comes from one
# running window over group order of (2*cum_lt + cnt). The z^2 uses
# the standard no-ties variance (declared contract): z^2 =
# 18*(JT2-E2)^2 / (N^2*(2N+3) - sum n_g^2*(2n_g+3)), exact rational.
_JT_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT o_orderpriority AS g,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), hist AS MATERIALIZED (
    SELECT g, c, CAST(COUNT(*) AS BIGINT) AS k FROM v GROUP BY g, c
), vals AS MATERIALIZED (
    SELECT DISTINCT c FROM hist
), grps AS MATERIALIZED (
    SELECT DISTINCT g FROM hist
), grid AS (
    SELECT vals.c, grps.g, COALESCE(hist.k, 0) AS k
    FROM vals CROSS JOIN grps
    LEFT JOIN hist ON hist.c = vals.c AND hist.g = grps.g
), cum AS (
    SELECT c, g, k,
           SUM(k) OVER (PARTITION BY g ORDER BY c) - k AS cum_lt
    FROM grid
), run AS (
    SELECT c, g, k,
           SUM(2 * cum_lt + k) OVER (PARTITION BY c ORDER BY g)
           - (2 * cum_lt + k) AS earlier2
    FROM cum
), jt AS (
    SELECT CAST(SUM(CAST(k AS HUGEINT) * earlier2) AS HUGEINT) AS jt2
    FROM run
), sizes AS (
    SELECT CAST(SUM(nk) AS HUGEINT) AS n,
           CAST(SUM(CAST(nk AS HUGEINT) * nk) AS HUGEINT) AS sn2,
           CAST(SUM(CAST(nk AS HUGEINT) * nk * (2 * nk + 3)) AS HUGEINT)
               AS sn23
    FROM (SELECT g, SUM(k) AS nk FROM hist GROUP BY g) gsz
)
SELECT CAST(jt2 AS BIGINT) AS jt2,
       CAST((n * n - sn2) // 2 AS BIGINT) AS e2,
       CAST((2 * 1000000 * 18 * (jt2 - (n * n - sn2) // 2)
                         * (jt2 - (n * n - sn2) // 2)
             + (n * n * (2 * n + 3) - sn23))
            // (2 * (n * n * (2 * n + 3) - sn23)) AS BIGINT) AS z2_micro
FROM jt, sizes
"""


@register("q546_jonckheere_terpstra", oracle=_JT_ORACLE)
def q546(orders):
    """JT ordered-trend statistic on the dense value-group grid (oracle
    comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("g"),
        cents("o_totalprice").alias("c"),
    )
    # pinned: hist feeds vals/grps/grid/sizes — four references, each of
    # which would re-run the orders scan + histogram (guide §2.4)
    hist = (
        v.groupBy("g", "c")
        .agg(F.count("*").cast("bigint").alias("k"))
        .transform(pin)
    )
    vals = hist.select("c").distinct()
    grps = hist.select("g").distinct()
    grid = (
        vals.crossJoin(F.broadcast(grps))
        .join(hist, ["c", "g"], "left")
        .select("c", "g", F.coalesce(F.col("k"), F.lit(0)).alias("k"))
    )
    wg = Window.partitionBy("g").orderBy("c")
    cum = grid.select(
        "c", "g", "k", (F.sum("k").over(wg) - F.col("k")).alias("cum_lt")
    )
    wv = Window.partitionBy("c").orderBy("g")
    run = cum.select(
        "c",
        "g",
        "k",
        (
            F.sum(2 * F.col("cum_lt") + F.col("k")).over(wv)
            - (2 * F.col("cum_lt") + F.col("k"))
        ).alias("earlier2"),
    )
    jt = run.agg(
        F.sum(F.col("k").cast("decimal(38,0)") * F.col("earlier2")).alias("jt2")
    )
    sizes = (
        hist.groupBy("g")
        .agg(F.sum("k").alias("nk"))
        .agg(
            F.sum("nk").cast("decimal(38,0)").alias("n"),
            F.sum(F.col("nk").cast("decimal(38,0)") * F.col("nk")).alias("sn2"),
            F.sum(
                F.col("nk").cast("decimal(38,0)")
                * F.col("nk")
                * (2 * F.col("nk") + 3)
            ).alias("sn23"),
        )
    )
    return jt.crossJoin(F.broadcast(sizes)).select(
        F.col("jt2").cast("bigint").alias("jt2"),
        F.expr("CAST((n * n - sn2) DIV 2 AS BIGINT)").alias("e2"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * 18 * (jt2 - (n * n - sn2) DIV 2)"
                " * (jt2 - (n * n - sn2) DIV 2)",
                "(n * n * (2 * n + 3) - sn23)",
            ) + " AS BIGINT)"
        ).alias("z2_micro"),
    )


# ---------- q547: Siegel-Tukey dispersion test (click vs error)

# Same-location, different-spread detector: pool both samples, order by
# the UNIQUE (value, event_id) key (events have no duplicate ids), and
# assign the alternating extreme ranks — bottom depth j gets 2j-1 (odd
# j) / 2j (even j), top depth j gets 2j (odd) / 2j-1 (even), middle
# element gets n. Then a plain rank-sum z^2 on the ST ranks, exact
# rational in rhu micro (x12 cleared denominator).
_ST_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT event_id, event_type AS g,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type IN ('click', 'error')
), idx AS MATERIALIZED (
    SELECT g, ROW_NUMBER() OVER (ORDER BY c, event_id) AS i,
           (SELECT COUNT(*) FROM v) AS n
    FROM v
), ranked AS (
    SELECT g, n,
           CASE WHEN 2 * i <= n + 1 THEN
                CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
           ELSE
                CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)
                     ELSE 2 * (n + 1 - i) - 1 END
           END AS r
    FROM idx
), agg AS (
    SELECT CAST(SUM(CASE WHEN g = 'click' THEN r ELSE 0 END) AS HUGEINT) AS w,
           CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
           CAST(SUM(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
           CAST(MAX(n) AS HUGEINT) AS n
    FROM ranked
)
SELECT CAST(w AS BIGINT) AS w_click, CAST(n1 AS BIGINT) AS n1,
       CAST((2 * 1000000 * 3 * (2 * w - n1 * (n + 1)) * (2 * w - n1 * (n + 1))
             + n1 * n2 * (n + 1))
            // (2 * n1 * n2 * (n + 1)) AS BIGINT) AS z2_micro
FROM agg
"""


@register("q547_siegel_tukey", oracle=_ST_ORACLE)
def q547(events):
    """Alternating extreme-rank dispersion test (oracle comment)."""
    v = events.filter(F.col("event_type").isin("click", "error")).select(
        "event_id",
        F.col("event_type").alias("g"),
        cents("value").alias("c"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    idx = v.select(
        "g",
        F.row_number().over(Window.orderBy("c", "event_id")).alias("i"),
    ).withColumn("n", F.count("*").over(wall))
    ranked = idx.select(
        "g",
        "n",
        F.expr(
            "CASE WHEN 2 * i <= n + 1 THEN"
            " CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END"
            " ELSE CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)"
            " ELSE 2 * (n + 1 - i) - 1 END END"
        ).alias("r"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("g") == "click", F.col("r")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("w"),
        F.sum(F.when(F.col("g") == "click", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("g") == "error", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n2"),
        F.max("n").cast("decimal(38,0)").alias("n"),
    )
    return agg.select(
        F.col("w").cast("bigint").alias("w_click"),
        F.col("n1").cast("bigint").alias("n1"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * 3 * (2 * w - n1 * (n + 1)) * (2 * w - n1 * (n + 1))",
                "n1 * n2 * (n + 1)",
            ) + " AS BIGINT)"
        ).alias("z2_micro"),
    )


# ---------- q548: Breusch-Pagan heteroscedasticity (daily revenue)

# Do daily-revenue OLS residuals fan out over time? BP regresses e^2 on
# the day index and reports LM = n*R^2. The first-stage slope/intercept
# live in the textually-parallel double layer over exact integer
# moments; each day's e^2 is then quantized to integer DOLLAR^2 (e in
# cents, /1e4) so the second-stage moments are exact integer sums
# again. The one declared approximation is that dollar^2 quantization.
_BP_FIT = (
    "(CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)"
    " - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)"
    " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"
)
_BP_A = (
    f"(CAST(sy AS DOUBLE) - {_BP_FIT} * CAST(st AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
)

_BP_ORACLE = _DAILY_CTE + f"""
, idx AS MATERIALIZED (
    SELECT cents AS y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
    FROM idx
), resid AS (
    SELECT idx.t,
           CAST(ROUND((CAST(idx.y AS DOUBLE) - {_BP_A} - {_BP_FIT}
                       * CAST(idx.t AS DOUBLE))
                      * (CAST(idx.y AS DOUBLE) - {_BP_A} - {_BP_FIT}
                         * CAST(idx.t AS DOUBLE)) / 10000.0, 0) AS BIGINT)
               AS e2
    FROM idx, m
), m2 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
           CAST(SUM(CAST(e2 AS HUGEINT)) AS HUGEINT) AS se,
           CAST(SUM(CAST(t AS HUGEINT) * e2) AS HUGEINT) AS ste,
           CAST(SUM(CAST(e2 AS HUGEINT) * e2) AS HUGEINT) AS see
    FROM resid
)
SELECT n,
       ROUND(CAST(n AS DOUBLE)
             * ((CAST(n AS DOUBLE) * CAST(ste AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(se AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(ste AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(se AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(see AS DOUBLE)
                   - CAST(se AS DOUBLE) * CAST(se AS DOUBLE))), 6) AS bp_lm_r6
FROM m2
"""


@register("q548_breusch_pagan", oracle=_BP_ORACLE)
def q548(orders):
    """LM = n*R^2 of dollar^2-quantized residuals on time (oracle
    comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        F.col("cents").alias("y"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    t38 = F.col("t").cast("decimal(38,0)")
    m = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(t38 * F.col("t")).alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(t38 * F.col("y")).alias("sty"),
    )
    resid = idx.crossJoin(F.broadcast(m)).select(
        "t",
        F.expr(
            f"CAST(ROUND((CAST(y AS DOUBLE) - {_BP_A} - {_BP_FIT}"
            f" * CAST(t AS DOUBLE))"
            f" * (CAST(y AS DOUBLE) - {_BP_A} - {_BP_FIT}"
            f" * CAST(t AS DOUBLE)) / 10000.0, 0) AS BIGINT)"
        ).alias("e2"),
    )
    e38 = F.col("e2").cast("decimal(38,0)")
    m2 = resid.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
        F.sum(e38).alias("se"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("e2")).alias("ste"),
        F.sum(e38 * F.col("e2")).alias("see"),
    )
    return m2.select(
        "n",
        F.expr(
            "ROUND(CAST(n AS DOUBLE)"
            " * ((CAST(n AS DOUBLE) * CAST(ste AS DOUBLE)"
            " - CAST(st AS DOUBLE) * CAST(se AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(ste AS DOUBLE)"
            " - CAST(st AS DOUBLE) * CAST(se AS DOUBLE)))"
            " / ((CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)"
            " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(see AS DOUBLE)"
            " - CAST(se AS DOUBLE) * CAST(se AS DOUBLE))), 6)"
        ).alias("bp_lm_r6"),
    )


# ---------- q549: Chow structural-break F (daily revenue halves)

# Did the revenue trend change regime mid-series? Chow F compares the
# pooled OLS SSR against the sum of per-half SSRs at the declared break
# t <= (n+1)/2. Every SSR is a textually-parallel double over exact
# integer moments (sum y^2 needs HUGEINT: ~2e22 at sf0.1); F uses
# k = 2 parameters per segment.
_SSR = (
    "((CAST({p}yy AS DOUBLE) - CAST({p}y AS DOUBLE) * CAST({p}y AS DOUBLE)"
    " / CAST({p}n AS DOUBLE))"
    " - (CAST({p}ty AS DOUBLE) - CAST({p}t AS DOUBLE) * CAST({p}y AS DOUBLE)"
    " / CAST({p}n AS DOUBLE))"
    " * (CAST({p}ty AS DOUBLE) - CAST({p}t AS DOUBLE) * CAST({p}y AS DOUBLE)"
    " / CAST({p}n AS DOUBLE))"
    " / (CAST({p}tt AS DOUBLE) - CAST({p}t AS DOUBLE) * CAST({p}t AS DOUBLE)"
    " / CAST({p}n AS DOUBLE)))"
)
_SSR_P = _SSR.format(p="s0")
_SSR_1 = _SSR.format(p="s1")
_SSR_2 = _SSR.format(p="s2")

_CHOW_ORACLE = _DAILY_CTE + f"""
, idx AS (
    SELECT cents AS y, ROW_NUMBER() OVER (ORDER BY day) AS t,
           COUNT(*) OVER () AS n
    FROM daily
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS s0n, CAST(SUM(t) AS BIGINT) AS s0t,
           CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS s0tt,
           CAST(SUM(y) AS BIGINT) AS s0y,
           CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS s0ty,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s0yy,
           CAST(SUM(CASE WHEN 2 * t <= n + 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS s1n,
           CAST(SUM(CASE WHEN 2 * t <= n + 1 THEN t ELSE 0 END) AS BIGINT)
               AS s1t,
           CAST(SUM(CASE WHEN 2 * t <= n + 1 THEN CAST(t AS HUGEINT) * t
                    ELSE 0 END) AS HUGEINT) AS s1tt,
           CAST(SUM(CASE WHEN 2 * t <= n + 1 THEN y ELSE 0 END) AS BIGINT)
               AS s1y,
           CAST(SUM(CASE WHEN 2 * t <= n + 1 THEN CAST(t AS HUGEINT) * y
                    ELSE 0 END) AS HUGEINT) AS s1ty,
           CAST(SUM(CASE WHEN 2 * t <= n + 1 THEN CAST(y AS HUGEINT) * y
                    ELSE 0 END) AS HUGEINT) AS s1yy,
           CAST(SUM(CASE WHEN 2 * t > n + 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS s2n,
           CAST(SUM(CASE WHEN 2 * t > n + 1 THEN t ELSE 0 END) AS BIGINT)
               AS s2t,
           CAST(SUM(CASE WHEN 2 * t > n + 1 THEN CAST(t AS HUGEINT) * t
                    ELSE 0 END) AS HUGEINT) AS s2tt,
           CAST(SUM(CASE WHEN 2 * t > n + 1 THEN y ELSE 0 END) AS BIGINT)
               AS s2y,
           CAST(SUM(CASE WHEN 2 * t > n + 1 THEN CAST(t AS HUGEINT) * y
                    ELSE 0 END) AS HUGEINT) AS s2ty,
           CAST(SUM(CASE WHEN 2 * t > n + 1 THEN CAST(y AS HUGEINT) * y
                    ELSE 0 END) AS HUGEINT) AS s2yy
    FROM idx
)
SELECT s0n AS n,
       ROUND((({_SSR_P} - ({_SSR_1} + {_SSR_2})) / 2.0)
             / (({_SSR_1} + {_SSR_2}) / CAST(s0n - 4 AS DOUBLE)), 6)
           AS chow_f_r6
FROM m
"""


@register("q549_chow_break_f", oracle=_CHOW_ORACLE)
def q549(orders):
    """Chow F from pooled-vs-split exact integer OLS moments (oracle
    comment)."""
    daily = _daily_cents(orders)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    idx = daily.select(
        F.col("cents").alias("y"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    ).withColumn("n", F.count("*").over(wall))
    t38 = F.col("t").cast("decimal(38,0)")
    y38 = F.col("y").cast("decimal(38,0)")
    lo = 2 * F.col("t") <= F.col("n") + 1
    z38 = F.lit(0).cast("decimal(38,0)")
    m = idx.agg(
        F.count("*").cast("bigint").alias("s0n"),
        F.sum("t").cast("bigint").alias("s0t"),
        F.sum(t38 * F.col("t")).alias("s0tt"),
        F.sum("y").cast("bigint").alias("s0y"),
        F.sum(t38 * F.col("y")).alias("s0ty"),
        F.sum(y38 * F.col("y")).alias("s0yy"),
        F.sum(F.when(lo, 1).otherwise(0)).cast("bigint").alias("s1n"),
        F.sum(F.when(lo, F.col("t")).otherwise(0)).cast("bigint").alias("s1t"),
        F.sum(F.when(lo, t38 * F.col("t")).otherwise(z38)).alias("s1tt"),
        F.sum(F.when(lo, F.col("y")).otherwise(0)).cast("bigint").alias("s1y"),
        F.sum(F.when(lo, t38 * F.col("y")).otherwise(z38)).alias("s1ty"),
        F.sum(F.when(lo, y38 * F.col("y")).otherwise(z38)).alias("s1yy"),
        F.sum(F.when(~lo, 1).otherwise(0)).cast("bigint").alias("s2n"),
        F.sum(F.when(~lo, F.col("t")).otherwise(0)).cast("bigint").alias("s2t"),
        F.sum(F.when(~lo, t38 * F.col("t")).otherwise(z38)).alias("s2tt"),
        F.sum(F.when(~lo, F.col("y")).otherwise(0)).cast("bigint").alias("s2y"),
        F.sum(F.when(~lo, t38 * F.col("y")).otherwise(z38)).alias("s2ty"),
        F.sum(F.when(~lo, y38 * F.col("y")).otherwise(z38)).alias("s2yy"),
    )
    return m.select(
        F.col("s0n").alias("n"),
        F.expr(
            f"ROUND((({_SSR_P} - ({_SSR_1} + {_SSR_2})) / 2.0)"
            f" / (({_SSR_1} + {_SSR_2}) / CAST(s0n - 4 AS DOUBLE)), 6)"
        ).alias("chow_f_r6"),
    )


# ---------- q550: Newey-West HAC long-run variance (daily revenue)

# How much does serial correlation inflate the variance of the daily
# revenue mean? Bartlett-kernel HAC with L=5: lrv = g0 + 2*sum_k
# (1-k/6)*g_k. One range self-join (lag BETWEEN 0 AND 5) produces every
# lagged cross-moment in a single pass; each gamma_k is quantized to
# integer dollar^2 (per-term rounding), and the x6-cleared combination
# 6*g0 + 2*sum (6-k)*g_k stays exact integer. ratio_micro =
# rhu(1e6 * lrv6 / (6*g0)) is the serial-correlation inflation factor.
_NW_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents AS y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
    FROM idx
), lagm AS MATERIALIZED (
    SELECT b.t - a.t AS k,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS p,
           CAST(SUM(a.y) AS BIGINT) AS h,
           CAST(SUM(b.y) AS BIGINT) AS tl
    FROM idx a JOIN idx b ON b.t - a.t BETWEEN 0 AND 5
    GROUP BY b.t - a.t
), g AS MATERIALIZED (
    SELECT k,
           CAST(ROUND((CAST(p AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(h AS DOUBLE) + CAST(tl AS DOUBLE))
                       + CAST(cnt AS DOUBLE)
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                      / CAST(n AS DOUBLE) / 10000.0, 0) AS BIGINT) AS g_d2
    FROM lagm, m
), comb AS (
    SELECT CAST(SUM(CASE WHEN k = 0 THEN 6 * g_d2 ELSE 0 END) AS BIGINT)
               AS g0_6,
           CAST(SUM(CASE WHEN k > 0 THEN 2 * (6 - k) * g_d2 ELSE 0 END)
                AS BIGINT) AS tail_6
    FROM g
)
SELECT (SELECT n FROM m) AS n,
       g0_6 // 6 AS g0_d2,
       g0_6 + tail_6 AS lrv6_d2,
       CAST((2 * 1000000 * (CAST(g0_6 AS HUGEINT) + tail_6) + g0_6)
            // (2 * CAST(g0_6 AS HUGEINT)) AS BIGINT) AS ratio_micro
FROM comb
"""


@register("q550_newey_west", oracle=_NW_ORACLE)
def q550(orders):
    """Bartlett-kernel HAC lrv over one range self-join (oracle
    comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        F.col("cents").alias("y"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    m = idx.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("s")
    )
    a, b = idx.alias("a"), idx.alias("b")
    lagm = (
        a.join(
            b,
            (F.col("b.t") - F.col("a.t") >= 0) & (F.col("b.t") - F.col("a.t") <= 5),
        )
        .groupBy((F.col("b.t") - F.col("a.t")).alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.col("a.y").cast("decimal(38,0)") * F.col("b.y")).alias("p"),
            F.sum("a.y").cast("bigint").alias("h"),
            F.sum("b.y").cast("bigint").alias("tl"),
        )
    )
    g = lagm.crossJoin(F.broadcast(m)).select(
        "k",
        "n",
        F.expr(
            "CAST(ROUND((CAST(p AS DOUBLE)"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(h AS DOUBLE) + CAST(tl AS DOUBLE))"
            " + CAST(cnt AS DOUBLE)"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
            " / CAST(n AS DOUBLE) / 10000.0, 0) AS BIGINT)"
        ).alias("g_d2"),
    )
    comb = g.agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("k") == 0, 6 * F.col("g_d2")).otherwise(0))
        .cast("bigint")
        .alias("g0_6"),
        F.sum(
            F.when(F.col("k") > 0, 2 * (6 - F.col("k")) * F.col("g_d2")).otherwise(0)
        )
        .cast("bigint")
        .alias("tail_6"),
    )
    return comb.select(
        "n",
        F.expr("g0_6 DIV 6").alias("g0_d2"),
        (F.col("g0_6") + F.col("tail_6")).alias("lrv6_d2"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * (CAST(g0_6 AS DECIMAL(38,0)) + tail_6)",
                "CAST(g0_6 AS DECIMAL(38,0))",
            ) + " AS BIGINT)"
        ).alias("ratio_micro"),
    )


# ---------- q551: Granger causality, clicks -> purchases (daily)

# Do yesterday's clicks predict today's purchases beyond yesterday's
# purchases? Restricted (y ~ y_lag) vs unrestricted (y ~ y_lag + x_lag)
# OLS on the 30-day daily-count series; the 2-regressor solution is
# Cramer's rule over centered moments. Counts are small exact integers,
# so every moment is exact; SSRs live in the parallel double layer;
# F = (SSR_r - SSR_u) * (n - 3) / SSR_u, rounded to 6.
_GC_CM = {
    "syy": "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(n AS DOUBLE))",
    "s11": "(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE))",
    "s22": "(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / CAST(n AS DOUBLE))",
    "s12": "(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / CAST(n AS DOUBLE))",
    "s1y": "(CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(n AS DOUBLE))",
    "s2y": "(CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(n AS DOUBLE))",
}
_GC_SSR_R = f"({_GC_CM['syy']} - {_GC_CM['s1y']} * {_GC_CM['s1y']} / {_GC_CM['s11']})"
_GC_DET = f"({_GC_CM['s11']} * {_GC_CM['s22']} - {_GC_CM['s12']} * {_GC_CM['s12']})"
_GC_B1 = (
    f"(({_GC_CM['s1y']} * {_GC_CM['s22']} - {_GC_CM['s2y']} * {_GC_CM['s12']})"
    f" / {_GC_DET})"
)
_GC_B2 = (
    f"(({_GC_CM['s2y']} * {_GC_CM['s11']} - {_GC_CM['s1y']} * {_GC_CM['s12']})"
    f" / {_GC_DET})"
)
_GC_SSR_U = (
    f"({_GC_CM['syy']} - {_GC_B1} * {_GC_CM['s1y']} - {_GC_B2} * {_GC_CM['s2y']})"
)

_GRANGER_ORACLE = f"""
WITH dc AS MATERIALIZED (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS np,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS nc
    FROM events GROUP BY CAST(ts AS DATE)
), lagd AS (
    SELECT np AS y,
           LAG(np) OVER (ORDER BY day) AS x1,
           LAG(nc) OVER (ORDER BY day) AS x2
    FROM dc
), rows_ AS (
    SELECT y, x1, x2 FROM lagd WHERE x1 IS NOT NULL
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1) AS BIGINT) AS s1,
           CAST(SUM(x2) AS BIGINT) AS s2,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(x1 * x1) AS BIGINT) AS s11,
           CAST(SUM(x2 * x2) AS BIGINT) AS s22,
           CAST(SUM(x1 * x2) AS BIGINT) AS s12,
           CAST(SUM(x1 * y) AS BIGINT) AS s1y,
           CAST(SUM(x2 * y) AS BIGINT) AS s2y
    FROM rows_
)
SELECT n,
       ROUND(({_GC_SSR_R} - {_GC_SSR_U}) * CAST(n - 3 AS DOUBLE)
             / {_GC_SSR_U}, 6) AS granger_f_r6
FROM m
"""


@register("q551_granger_causality", oracle=_GRANGER_ORACLE)
def q551(events):
    """Lag-1 Granger F via Cramer-solved two-regressor OLS (oracle
    comment)."""
    dc = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
    )
    w = Window.orderBy("day")
    lagd = dc.select(
        F.col("np").alias("y"),
        F.lag("np").over(w).alias("x1"),
        F.lag("nc").over(w).alias("x2"),
    ).filter(F.col("x1").isNotNull())
    m = lagd.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
    )
    return m.select(
        "n",
        F.expr(
            f"ROUND(({_GC_SSR_R} - {_GC_SSR_U}) * CAST(n - 3 AS DOUBLE)"
            f" / {_GC_SSR_U}, 6)"
        ).alias("granger_f_r6"),
    )


# ---------- q552: Spiegelhalter calibration Z^2 (segment rates)

# Are train-period per-segment 'F'-status rates calibrated on the test
# period? Predictions are milli-quantized train rates (declared, u =
# 1e3); with integer o and p the Z^2 numerator and denominator are both
# exact integers and the u-scales cancel: Z^2 = (sum (o*u-p)(u-2p))^2 /
# sum (u-2p)^2 p (u-p), reported rhu micro. Train = orderdate < 1998,
# test = the rest.
_SPIEGEL_ORACLE = """
WITH train AS (
    SELECT c_mktsegment AS seg,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS kf,
           CAST(COUNT(*) AS BIGINT) AS nt
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_mktsegment
), p AS MATERIALIZED (
    SELECT seg, CAST((2 * 1000 * kf + nt) // (2 * nt) AS BIGINT) AS pm
    FROM train
), test AS (
    SELECT c_mktsegment AS seg,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
), terms AS (
    SELECT CAST(SUM((CAST(t.o AS BIGINT) * 1000 - p.pm)
                    * (1000 - 2 * p.pm)) AS BIGINT) AS num,
           CAST(SUM(CAST((1000 - 2 * p.pm) AS HUGEINT) * (1000 - 2 * p.pm)
                    * p.pm * (1000 - p.pm)) AS HUGEINT) AS den,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM test t JOIN p ON p.seg = t.seg
)
SELECT n,
       CAST((2 * 1000000 * CAST(num AS HUGEINT) * num + den)
            // (2 * den) AS BIGINT) AS z2_micro
FROM terms
"""


@register("q552_spiegelhalter_z", oracle=_SPIEGEL_ORACLE)
def q552(orders, customer):
    """Scale-free integer Spiegelhalter Z^2 over milli rates (oracle
    comment)."""
    oc = orders.join(
        F.broadcast(customer),
        customer["c_custkey"] == orders["o_custkey"],
    )
    train = (
        oc.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("kf"),
            F.count("*").cast("bigint").alias("nt"),
        )
    )
    p = train.select(
        "seg",
        F.expr(f"CAST({rhu('1000 * kf', 'nt')} AS BIGINT)").alias("pm"),
    )
    test = oc.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("o"),
    )
    terms = test.join(F.broadcast(p), "seg").agg(
        F.sum(
            (F.col("o").cast("bigint") * 1000 - F.col("pm"))
            * (1000 - 2 * F.col("pm"))
        )
        .cast("bigint")
        .alias("num"),
        F.sum(
            (1000 - 2 * F.col("pm")).cast("decimal(38,0)")
            * (1000 - 2 * F.col("pm"))
            * F.col("pm")
            * (1000 - F.col("pm"))
        ).alias("den"),
        F.count("*").cast("bigint").alias("n"),
    )
    return terms.select(
        "n",
        F.expr(
            f"CAST({rhu('1000000 * CAST(num AS DECIMAL(38,0)) * num', 'den')}"
            " AS BIGINT)"
        ).alias("z2_micro"),
    )


# ---------- q553: Mantel-Haenszel pooled odds ratio + CMH chi^2

# Stratified 2x2 association: does a positive account balance associate
# with finished ('F') orders after controlling for order priority?
# MH pools a*d/n and b*c/n across strata (each term rhu micro before
# the exact integer sum — the declared quantization); CMH chi^2 uses
# per-stratum micro E and V terms the same way: chi^2 =
# (sum(a*1e6 - E_u))^2 / (1e6 * sum V_u).
_MH_ORACLE = """
WITH base AS (
    SELECT o_orderpriority AS st,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS x,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
    FROM orders JOIN customer ON c_custkey = o_custkey
), cells AS MATERIALIZED (
    SELECT st,
           CAST(SUM(x * y) AS BIGINT) AS a,
           CAST(SUM(x * (1 - y)) AS BIGINT) AS b,
           CAST(SUM((1 - x) * y) AS BIGINT) AS c,
           CAST(SUM((1 - x) * (1 - y)) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM base GROUP BY st
), terms AS (
    SELECT st,
           CAST((2 * 1000000 * CAST(a AS HUGEINT) * d + n) // (2 * n)
                AS BIGINT) AS t1_u,
           CAST((2 * 1000000 * CAST(b AS HUGEINT) * c + n) // (2 * n)
                AS BIGINT) AS t2_u,
           CAST((2 * 1000000 * CAST(a + b AS HUGEINT) * (a + c) + n)
                // (2 * n) AS BIGINT) AS e_u,
           CAST((2 * 1000000 * CAST(a + b AS HUGEINT) * (c + d) * (a + c)
                 * (b + d) + CAST(n AS HUGEINT) * n * (n - 1))
                // (2 * CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) AS v_u,
           a
    FROM cells
), tot AS (
    SELECT CAST(SUM(t1_u) AS BIGINT) AS st1, CAST(SUM(t2_u) AS BIGINT) AS st2,
           CAST(SUM(a * 1000000 - e_u) AS HUGEINT) AS dev_u,
           CAST(SUM(v_u) AS HUGEINT) AS sv_u
    FROM terms
)
SELECT CAST((2 * 1000000 * CAST(st1 AS HUGEINT) + st2) // (2 * st2)
            AS BIGINT) AS or_micro,
       CAST((2 * 1000000 * dev_u * dev_u + 1000000 * sv_u)
            // (2 * 1000000 * sv_u) AS BIGINT) AS cmh_micro
FROM tot
"""


@register("q553_mantel_haenszel", oracle=_MH_ORACLE)
def q553(orders, customer):
    """MH pooled OR + CMH chi^2 with per-stratum micro terms (oracle
    comment)."""
    base = orders.join(
        F.broadcast(customer),
        customer["c_custkey"] == orders["o_custkey"],
    ).select(
        F.col("o_orderpriority").alias("st"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cells = base.groupBy("st").agg(
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("x") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("x")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("x")) * (1 - F.col("y"))).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("n"),
    )
    terms = cells.select(
        F.expr(
            f"CAST({rhu('1000000 * CAST(a AS DECIMAL(38,0)) * d', 'n')} AS BIGINT)"
        ).alias("t1_u"),
        F.expr(
            f"CAST({rhu('1000000 * CAST(b AS DECIMAL(38,0)) * c', 'n')} AS BIGINT)"
        ).alias("t2_u"),
        F.expr(
            f"CAST({rhu('1000000 * CAST(a + b AS DECIMAL(38,0)) * (a + c)', 'n')}"
            " AS BIGINT)"
        ).alias("e_u"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)",
                "CAST(n AS DECIMAL(38,0)) * n * (n - 1)",
            ) + " AS BIGINT)"
        ).alias("v_u"),
        "a",
    )
    tot = terms.agg(
        F.sum("t1_u").cast("bigint").alias("st1"),
        F.sum("t2_u").cast("bigint").alias("st2"),
        F.sum(F.col("a") * 1000000 - F.col("e_u"))
        .cast("decimal(38,0)")
        .alias("dev_u"),
        F.sum("v_u").cast("decimal(38,0)").alias("sv_u"),
    )
    return tot.select(
        F.expr(
            f"CAST({rhu('1000000 * CAST(st1 AS DECIMAL(38,0))', 'st2')} AS BIGINT)"
        ).alias("or_micro"),
        F.expr(
            f"CAST({rhu('1000000 * dev_u * dev_u', '1000000 * sv_u')} AS BIGINT)"
        ).alias("cmh_micro"),
    )


# ---------- q554: seasonal strength after MA(7) detrending

# Hyndman-style seasonal-strength: detrend daily revenue with a
# centered 7-day moving sum held EXACT by scaling instead of dividing
# (d_t = 7*y_t - sum_{-3..3} y_{t+j}), then one-way ANOVA of d on the
# epoch-anchored weekday ((day - 1995-01-01) % 7 — neither engine's
# locale-dependent DAYOFWEEK). F_s = 1 - SSW/SST with per-weekday SS
# quantized to integer dollar^2 and SST in the parallel double layer.
_SEASTR_ORACLE = _DAILY_CTE + """
, ma AS (
    SELECT day, cents,
           SUM(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS s7,
           COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                          AND 3 FOLLOWING) AS k7
    FROM daily
), det AS MATERIALIZED (
    SELECT (CAST(day AS DATE) - DATE '1995-01-01') % 7 AS dow,
           7 * cents - s7 AS d
    FROM ma WHERE k7 = 7
), per AS MATERIALIZED (
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS s,
           CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS q
    FROM det GROUP BY dow
), terms AS (
    SELECT n, s, q,
           CAST(ROUND((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE)) / 10000.0, 0) AS BIGINT) AS ssw_d2
    FROM per
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s,
           CAST(SUM(q) AS HUGEINT) AS q,
           CAST(SUM(ssw_d2) AS BIGINT) AS ssw_d2
    FROM terms
)
SELECT n,
       ROUND(1.0 - CAST(ssw_d2 AS DOUBLE)
             / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) / 10000.0), 6) AS f_seasonal_r6
FROM tot
"""


@register("q554_seasonal_strength", oracle=_SEASTR_ORACLE)
def q554(orders):
    """Weekday ANOVA on the exact 7x-scaled MA-detrended series (oracle
    comment)."""
    daily = _daily_cents(orders)
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w7).alias("s7"),
        F.count("*").over(w7).alias("k7"),
    )
    det = ma.filter(F.col("k7") == 7).select(
        (F.datediff(F.col("day"), F.lit("1995-01-01")) % 7).alias("dow"),
        (7 * F.col("cents") - F.col("s7")).alias("d"),
    )
    per = det.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("q"),
    )
    terms = per.select(
        "n",
        "s",
        "q",
        F.expr(
            "CAST(ROUND((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE)) / 10000.0, 0) AS BIGINT)"
        ).alias("ssw_d2"),
    )
    tot = terms.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("q").alias("q"),
        F.sum("ssw_d2").cast("bigint").alias("ssw_d2"),
    )
    return tot.select(
        "n",
        F.expr(
            "ROUND(1.0 - CAST(ssw_d2 AS DOUBLE)"
            " / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE)) / 10000.0), 6)"
        ).alias("f_seasonal_r6"),
    )


# ---------- q555: AR(2) fit by Yule-Walker (daily revenue)

# Second-order autoregression closed form: phi2 = (r2 - r1^2)/(1 -
# r1^2), phi1 = r1*(1 - r2)/(1 - r1^2), with r_k = c_k/c_0 from the
# same one-pass range self-join as q550 (lag BETWEEN 0 AND 2). Each
# autocovariance is quantized to integer dollar^2 before the ratio
# layer; phi/r are final doubles rounded to 6.
_AR2_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents AS y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
    FROM idx
), lagm AS MATERIALIZED (
    SELECT b.t - a.t AS k,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS p,
           CAST(SUM(a.y) AS BIGINT) AS h,
           CAST(SUM(b.y) AS BIGINT) AS tl
    FROM idx a JOIN idx b ON b.t - a.t BETWEEN 0 AND 2
    GROUP BY b.t - a.t
), g AS MATERIALIZED (
    SELECT k,
           CAST(ROUND((CAST(p AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(h AS DOUBLE) + CAST(tl AS DOUBLE))
                       + CAST(cnt AS DOUBLE)
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                      / CAST(n AS DOUBLE) / 10000.0, 0) AS BIGINT) AS g_d2
    FROM lagm, m
), wide AS (
    SELECT CAST(SUM(CASE WHEN k = 0 THEN g_d2 ELSE 0 END) AS BIGINT) AS c0,
           CAST(SUM(CASE WHEN k = 1 THEN g_d2 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN k = 2 THEN g_d2 ELSE 0 END) AS BIGINT) AS c2
    FROM g
)
SELECT ROUND(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE), 6) AS r1_r6,
       ROUND(CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE), 6) AS r2_r6,
       ROUND((CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
             * (1.0 - CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE))
             / (1.0 - (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                      * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))), 6)
           AS phi1_r6,
       ROUND((CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE)
              - (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)))
             / (1.0 - (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                      * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))), 6)
           AS phi2_r6
FROM wide
"""


@register("q555_ar2_yule_walker", oracle=_AR2_ORACLE)
def q555(orders):
    """Yule-Walker AR(2) over dollar^2-quantized autocovariances
    (oracle comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        F.col("cents").alias("y"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    m = idx.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("s")
    )
    a, b = idx.alias("a"), idx.alias("b")
    lagm = (
        a.join(
            b,
            (F.col("b.t") - F.col("a.t") >= 0) & (F.col("b.t") - F.col("a.t") <= 2),
        )
        .groupBy((F.col("b.t") - F.col("a.t")).alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.col("a.y").cast("decimal(38,0)") * F.col("b.y")).alias("p"),
            F.sum("a.y").cast("bigint").alias("h"),
            F.sum("b.y").cast("bigint").alias("tl"),
        )
    )
    g = lagm.crossJoin(F.broadcast(m)).select(
        "k",
        F.expr(
            "CAST(ROUND((CAST(p AS DOUBLE)"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(h AS DOUBLE) + CAST(tl AS DOUBLE))"
            " + CAST(cnt AS DOUBLE)"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
            " / CAST(n AS DOUBLE) / 10000.0, 0) AS BIGINT)"
        ).alias("g_d2"),
    )
    wide = g.agg(
        F.sum(F.when(F.col("k") == 0, F.col("g_d2")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("k") == 1, F.col("g_d2")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("k") == 2, F.col("g_d2")).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    r1 = "(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))"
    r2 = "(CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE))"
    return wide.select(
        F.expr(f"ROUND({r1}, 6)").alias("r1_r6"),
        F.expr(f"ROUND({r2}, 6)").alias("r2_r6"),
        F.expr(f"ROUND({r1} * (1.0 - {r2}) / (1.0 - {r1} * {r1}), 6)").alias(
            "phi1_r6"
        ),
        F.expr(f"ROUND(({r2} - {r1} * {r1}) / (1.0 - {r1} * {r1}), 6)").alias(
            "phi2_r6"
        ),
    )


# ---------- q557: expected shortfall (CVaR) of daily revenue moves

# Beyond q350's VaR level: the MEAN of the tail. Day-over-day revenue
# moves, k = n*5 DIV 100 worst under the unique (move, day) order; VaR
# is the k-th order statistic and ES the exact tail mean (signed rhu
# via the PMOD floor identity — moves are negative in the tail).
_ES_ORACLE = _DAILY_CTE + """
, mv AS MATERIALIZED (
    SELECT day, cents - LAG(cents) OVER (ORDER BY day) AS d
    FROM daily
), rk AS MATERIALIZED (
    SELECT day, d, ROW_NUMBER() OVER (ORDER BY d, day) AS r,
           COUNT(*) OVER () AS n
    FROM mv WHERE d IS NOT NULL
), k AS MATERIALIZED (
    SELECT MAX(n) AS n, MAX(n) * 5 // 100 AS kc FROM rk
)
SELECT k.n, k.kc,
       (SELECT d FROM rk WHERE r = k.kc) AS var_cents,
       (SELECT CAST((((2 * (SUM(d)) + (k.kc))) - ((((2 * (SUM(d)) + (k.kc))) % ((2 * (k.kc)))) + ((2 * (k.kc)))) % ((2 * (k.kc)))) // ((2 * (k.kc)))
                    AS BIGINT)
        FROM rk WHERE r <= k.kc) AS es_cents
FROM k
"""


@register("q557_expected_shortfall", oracle=_ES_ORACLE)
def q557(orders):
    """Exact tail mean below the 5% order statistic (oracle comment)."""
    daily = _daily_cents(orders)
    mv = daily.select(
        "day", (F.col("cents") - F.lag("cents").over(Window.orderBy("day"))).alias("d")
    ).filter(F.col("d").isNotNull())
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rk = mv.select(
        "d",
        F.row_number().over(Window.orderBy("d", "day")).alias("r"),
        F.count("*").over(wall).alias("n"),
    )
    k = rk.agg(
        F.max("n").cast("bigint").alias("n"),
        F.expr("MAX(n) * 5 DIV 100").alias("kc"),
    )
    tail = rk.drop("n").crossJoin(F.broadcast(k)).filter(F.col("r") <= F.col("kc"))
    var_row = tail.filter(F.col("r") == F.col("kc")).select(
        F.col("d").alias("var_cents")
    )
    es = tail.groupBy("n", "kc").agg(
        F.expr(
            f"CAST({floor_rhu('SUM(d)', 'kc')} AS BIGINT)"
        ).alias("es_cents")
    )
    return es.crossJoin(F.broadcast(var_row)).select(
        "n", "kc", "var_cents", "es_cents"
    )


# ---------- q558: ulcer index + longest drawdown (daily revenue)

# Pain-weighted volatility: per-day drawdown below the running peak of
# the daily-revenue series in rhu micro, UI^2 = rhu mean of dd^2 (the
# sqrt stays unreported — q294 discipline), plus the longest run of
# days since the last new peak.
_ULCER_ORACLE = _DAILY_CTE + """
, pk AS MATERIALIZED (
    SELECT day, cents,
           MAX(cents) OVER (ORDER BY day) AS peak,
           ROW_NUMBER() OVER (ORDER BY day) AS t
    FROM daily
), dd AS MATERIALIZED (
    SELECT t,
           CAST((2 * 1000000 * (peak - cents) + peak) // (2 * peak)
                AS BIGINT) AS dd_u,
           CASE WHEN cents = peak THEN t ELSE NULL END AS peak_t
    FROM pk
), dur AS (
    SELECT t, dd_u,
           t - MAX(peak_t) OVER (ORDER BY t) AS since_peak
    FROM dd
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST((2 * SUM(dd_u * dd_u) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS ui2_micro2,
       CAST(MAX(since_peak) AS BIGINT) AS max_drawdown_days
FROM dur
"""


@register("q558_ulcer_index", oracle=_ULCER_ORACLE)
def q558(orders):
    """UI^2 in micro^2 + longest below-peak run (oracle comment)."""
    daily = _daily_cents(orders)
    w = Window.orderBy("day")
    pk = daily.select(
        "cents",
        F.max("cents").over(w).alias("peak"),
        F.row_number().over(w).alias("t"),
    )
    dd = pk.select(
        "t",
        F.expr(
            f"CAST({rhu('1000000 * (peak - cents)', 'peak')} AS BIGINT)"
        ).alias("dd_u"),
        F.when(F.col("cents") == F.col("peak"), F.col("t")).alias("peak_t"),
    )
    dur = dd.select(
        "dd_u",
        (F.col("t") - F.max("peak_t").over(Window.orderBy("t"))).alias("since_peak"),
    )
    return dur.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            f"CAST({rhu('SUM(dd_u * dd_u)', 'COUNT(*)')} AS BIGINT)"
        ).alias("ui2_micro2"),
        F.max("since_peak").cast("bigint").alias("max_drawdown_days"),
    )


# ---------- q556: theta-method forecast (last 365 days, h = 1..7)

# Assimakopoulos-Nikolopoulos theta(2) in FULLY INTEGER arithmetic: the
# theta line 2y - trend is carried n*b_den-scaled so it stays exact
# (z_scaled = 2*D*y - (b_den*Sy - b_num*St) - n*b_num*t, D = n*b_den),
# quantized once to micro-cents with the FLOOR round-half-up identity
# (2x + y) // (2y) under TRUE FLOOR semantics — Python // in the
# grouped map natively, the oracle via the explicit floor-mod
# emulation (DuckDB // truncates toward zero like Spark DIV) — then
# SES(alpha=1/5) steps the same integer recursion as q485, and the
# drift adds half the OLS slope per horizon. Declared window: the last
# 365 calendar days present in `daily`.
_THETA_ORACLE = _DAILY_CTE + """
, lastd AS MATERIALIZED (
    SELECT day, cents FROM daily
    WHERE day >= (SELECT MAX(day) FROM daily) - INTERVAL 364 DAY
), idx AS MATERIALIZED (
    SELECT cents AS y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM lastd
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(t) AS HUGEINT) AS st,
           CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
    FROM idx
), fit AS MATERIALIZED (
    SELECT n, (n * sty - st * sy) AS bnum, (n * stt - st * st) AS bden,
           st, sy
    FROM m
), z AS MATERIALIZED (
    SELECT idx.t,
           (((2 * ((2 * fit.n * fit.bden * idx.y - (fit.bden * fit.sy - fit.bnum * fit.st) - fit.n * fit.bnum * idx.t) * 1000000) + (fit.n * fit.bden))) - ((((2 * ((2 * fit.n * fit.bden * idx.y - (fit.bden * fit.sy - fit.bnum * fit.st) - fit.n * fit.bnum * idx.t) * 1000000) + (fit.n * fit.bden))) % ((2 * (fit.n * fit.bden)))) + ((2 * (fit.n * fit.bden)))) % ((2 * (fit.n * fit.bden)))) // ((2 * (fit.n * fit.bden))) AS zu
    FROM idx, fit
), rec AS MATERIALIZED (
    WITH RECURSIVE r(t, s) AS (
        SELECT 1, (SELECT zu FROM z WHERE t = 1)
        UNION ALL
        SELECT r.t + 1, (((2 * (z.zu + 4 * r.s) + (5))) - ((((2 * (z.zu + 4 * r.s) + (5))) % ((2 * (5)))) + ((2 * (5)))) % ((2 * (5)))) // ((2 * (5)))
        FROM r JOIN z ON z.t = r.t + 1
    )
    SELECT s FROM r WHERE t = (SELECT CAST(n AS BIGINT) FROM fit)
), hs AS (
    SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) AS t(h)
)
SELECT hs.h,
       CAST((((2 * (rec.s + (((2 * (hs.h * fit.bnum * 1000000) + (2 * fit.bden))) - ((((2 * (hs.h * fit.bnum * 1000000) + (2 * fit.bden))) % ((2 * (2 * fit.bden)))) + ((2 * (2 * fit.bden)))) % ((2 * (2 * fit.bden)))) // ((2 * (2 * fit.bden)))) + (1000000))) - ((((2 * (rec.s + (((2 * (hs.h * fit.bnum * 1000000) + (2 * fit.bden))) - ((((2 * (hs.h * fit.bnum * 1000000) + (2 * fit.bden))) % ((2 * (2 * fit.bden)))) + ((2 * (2 * fit.bden)))) % ((2 * (2 * fit.bden)))) // ((2 * (2 * fit.bden)))) + (1000000))) % ((2 * (1000000)))) + ((2 * (1000000)))) % ((2 * (1000000)))) // ((2 * (1000000))) AS BIGINT) AS forecast_cents
FROM hs, rec, fit ORDER BY hs.h
"""


@register("q556_theta_forecast", oracle=_THETA_ORACLE)
def q556(orders):
    """All-integer theta(2): scaled theta line -> SES(1/5) -> half-drift
    (oracle comment). Python // is floor; the oracle emulates floor
    explicitly (DuckDB // truncates)."""
    import pandas as pd

    daily = _daily_cents(orders)
    mx = daily.agg(F.max("day").alias("mx"))
    lastd = daily.crossJoin(F.broadcast(mx)).filter(
        F.col("day") >= F.col("mx") - F.expr("INTERVAL 364 DAY")
    )

    def theta(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = [int(c) for c in pdf["cents"]]
        n = len(y)
        ts = list(range(1, n + 1))
        st, stt = sum(ts), sum(t * t for t in ts)
        sy = sum(y)
        sty = sum(t * v for t, v in zip(ts, y))
        bnum = n * sty - st * sy
        bden = n * stt - st * st
        dd = n * bden
        zu = [
            (2 * (2 * dd * y[t - 1] - (bden * sy - bnum * st) - n * bnum * t)
             * 10**6 + dd) // (2 * dd)
            for t in ts
        ]
        s = zu[0]
        for t in range(1, n):
            s = (2 * (zu[t] + 4 * s) + 5) // 10
        rows = []
        for h in range(1, 8):
            dh = (2 * h * bnum * 10**6 + 2 * bden) // (4 * bden)
            rows.append((h, (2 * (s + dh) + 10**6) // (2 * 10**6)))
        return pd.DataFrame(rows, columns=["h", "forecast_cents"])

    return (
        lastd.select("day", "cents")
        .withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(theta, "h int, forecast_cents bigint")
        .orderBy("h")
    )


# ---------- q559: exponentially-weighted correlation (clicks/purchases)

# RiskMetrics-style EW comoments with lambda = 0.94 over the 30-day
# daily-count series. Weights are integer MILLI built by the rhu
# recursion w_{k+1} = rhu(94*w_k/100), w_0 = 1000 (oracle: recursive
# CTE; Spark: a 30-int Python loop — O(window) driver state like the
# kmeans centroids), keyed by days-before-latest. corr is reported
# SIGN + SQUARE (q294 discipline): both exact integer rationals.
_EWCORR_ORACLE = """
WITH dc AS MATERIALIZED (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY CAST(ts AS DATE)
), mx AS MATERIALIZED (
    SELECT MAX(day) AS mxd, COUNT(*) AS nd FROM dc
), wts AS MATERIALIZED (
    WITH RECURSIVE w(k, wm) AS (
        SELECT 0, CAST(1000 AS BIGINT)
        UNION ALL
        SELECT k + 1, (2 * 94 * wm + 100) // 200
        FROM w WHERE k + 1 < (SELECT nd FROM mx)
    )
    SELECT k, wm FROM w
), joined AS (
    SELECT w.wm, dc.x, dc.y
    FROM dc, mx JOIN wts w ON w.k = (mx.mxd - dc.day)
), mom AS (
    SELECT CAST(SUM(wm) AS HUGEINT) AS sw,
           CAST(SUM(wm * x) AS HUGEINT) AS sx,
           CAST(SUM(wm * y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(wm AS HUGEINT) * x * y) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(wm AS HUGEINT) * x * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(wm AS HUGEINT) * y * y) AS HUGEINT) AS syy
    FROM joined
)
SELECT CAST(CASE WHEN sw * sxy > sx * sy THEN 1
                 WHEN sw * sxy < sx * sy THEN -1 ELSE 0 END AS INT) AS r_sign,
       CAST((2 * 1000000 * (sw * sxy - sx * sy) * (sw * sxy - sx * sy)
             + (sw * sxx - sx * sx) * (sw * syy - sy * sy))
            // (2 * (sw * sxx - sx * sx) * (sw * syy - sy * sy)) AS BIGINT)
           AS r2_micro
FROM mom
"""


@register("q559_ewm_correlation", oracle=_EWCORR_ORACLE)
def q559(spark, events):
    """EW corr^2 with integer milli weights by rhu recursion (oracle
    comment)."""
    dc = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    nd = dc.count()
    w, wts = 1000, []
    for k in range(nd):
        wts.append((k, w))
        w = (2 * 94 * w + 100) // 200
    wdf = spark.createDataFrame(wts, "k int, wm bigint")
    mx = dc.agg(F.max("day").alias("mxd"))
    joined = (
        dc.crossJoin(F.broadcast(mx))
        .withColumn("k", F.datediff(F.col("mxd"), F.col("day")))
        .join(F.broadcast(wdf), "k")
    )
    w38 = F.col("wm").cast("decimal(38,0)")
    mom = joined.agg(
        F.sum("wm").cast("decimal(38,0)").alias("sw"),
        F.sum(F.col("wm") * F.col("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("wm") * F.col("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(w38 * F.col("x") * F.col("y")).alias("sxy"),
        F.sum(w38 * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(w38 * F.col("y") * F.col("y")).alias("syy"),
    )
    return mom.select(
        F.expr(
            "CAST(CASE WHEN sw * sxy > sx * sy THEN 1"
            " WHEN sw * sxy < sx * sy THEN -1 ELSE 0 END AS INT)"
        ).alias("r_sign"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * (sw * sxy - sx * sy) * (sw * sxy - sx * sy)",
                "(sw * sxx - sx * sx) * (sw * syy - sy * sy)",
            ) + " AS BIGINT)"
        ).alias("r2_micro"),
    )


# ---------- q560: Box-Cox lambda scan (order totals)

# Which power transform best normalizes order totals? Profile
# log-likelihood ll(lam) = -n/2*ln(var(g_lam(y))) + (lam-1)*sum ln y on
# the grid {-1, -1/2, 0, 1/2, 1}, each transform written WITHOUT POWER
# (only SQRT — IEEE-exact — division, and LN): per-row transforms and
# ln y are micro-quantized, so the variance moments are exact integers;
# the rank is by the ROUNDED ll (desc, lambda tiebreak).
_BOXCOX_ORACLE = """
WITH y AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), lams AS MATERIALIZED (
    SELECT * FROM (VALUES (-1000), (-500), (0), (500), (1000)) AS t(lam)
), tr AS (
    SELECT lams.lam,
           CAST(ROUND(CASE lams.lam
                WHEN 0 THEN LN(CAST(y.c AS DOUBLE) / 100.0)
                WHEN 1000 THEN CAST(y.c AS DOUBLE) / 100.0 - 1.0
                WHEN -1000 THEN 1.0 - 100.0 / CAST(y.c AS DOUBLE)
                WHEN 500 THEN 2.0 * (SQRT(CAST(y.c AS DOUBLE) / 100.0) - 1.0)
                ELSE 2.0 * (1.0 - 1.0 / SQRT(CAST(y.c AS DOUBLE) / 100.0))
                END * 1000000, 0) AS BIGINT) AS tu,
           CAST(ROUND(LN(CAST(y.c AS DOUBLE) / 100.0) * 1000000, 0)
                AS BIGINT) AS lnu
    FROM y CROSS JOIN lams
), mom AS MATERIALIZED (
    SELECT lam, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(tu) AS BIGINT) AS s,
           CAST(SUM(CAST(tu AS HUGEINT) * tu) AS HUGEINT) AS q,
           CAST(SUM(lnu) AS BIGINT) AS sln
    FROM tr GROUP BY lam
), ll AS MATERIALIZED (
    SELECT lam, n,
           ROUND(-CAST(n AS DOUBLE) / 2.0
                 * LN((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12)
                 + (CAST(lam AS DOUBLE) / 1000.0 - 1.0)
                   * CAST(sln AS DOUBLE) / 1000000.0, 6) AS ll_r6
    FROM mom
)
SELECT lam AS lam_milli, ll_r6,
       CAST(ROW_NUMBER() OVER (ORDER BY ll_r6 DESC, lam) AS BIGINT) AS rk
FROM ll ORDER BY rk
"""


@register("q560_box_cox_scan", oracle=_BOXCOX_ORACLE)
def q560(spark, orders):
    """POWER-free Box-Cox profile likelihood grid, ranked by rounded ll
    (oracle comment)."""
    y = orders.select(
        cents("o_totalprice").alias("c")
    )
    lams = spark.createDataFrame(
        [(-1000,), (-500,), (0,), (500,), (1000,)], "lam int"
    )
    tr = y.crossJoin(F.broadcast(lams)).select(
        "lam",
        F.expr(
            "CAST(ROUND(CASE lam"
            " WHEN 0 THEN LN(CAST(c AS DOUBLE) / 100.0)"
            " WHEN 1000 THEN CAST(c AS DOUBLE) / 100.0 - 1.0"
            " WHEN -1000 THEN 1.0 - 100.0 / CAST(c AS DOUBLE)"
            " WHEN 500 THEN 2.0 * (SQRT(CAST(c AS DOUBLE) / 100.0) - 1.0)"
            " ELSE 2.0 * (1.0 - 1.0 / SQRT(CAST(c AS DOUBLE) / 100.0))"
            " END * 1000000, 0) AS BIGINT)"
        ).alias("tu"),
        F.expr(
            "CAST(ROUND(LN(CAST(c AS DOUBLE) / 100.0) * 1000000, 0) AS BIGINT)"
        ).alias("lnu"),
    )
    mom = tr.groupBy("lam").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("tu").cast("bigint").alias("s"),
        F.sum(F.col("tu").cast("decimal(38,0)") * F.col("tu")).alias("q"),
        F.sum("lnu").cast("bigint").alias("sln"),
    )
    ll = mom.select(
        "lam",
        "n",
        F.expr(
            "ROUND(-CAST(n AS DOUBLE) / 2.0"
            " * LN((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12)"
            " + (CAST(lam AS DOUBLE) / 1000.0 - 1.0)"
            " * CAST(sln AS DOUBLE) / 1000000.0, 6)"
        ).alias("ll_r6"),
    )
    return ll.select(
        F.col("lam").alias("lam_milli"),
        "ll_r6",
        F.row_number()
        .over(Window.orderBy(F.col("ll_r6").desc(), "lam"))
        .cast("bigint")
        .alias("rk"),
    ).orderBy("rk")


# ---------- shared: the q380 co-purchase part graph (even partkeys)

# Same edge contract as q380/q229: parts co-occurring in an order, even
# partkeys only (bounds the graph), canonical u < v. Multi-referenced
# everywhere -> MATERIALIZED from birth.
_PARTG_CTE = """
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
)
"""


def _part_graph(lineitem):
    """Canonical co-purchase part edges (u < v) + degree frame,
    pinned (the operators/triangles rule: graph algorithms
    pin their edge list or re-derive the join lineage per reference)."""
    from ..operators.triangles import cooccurrence_edges

    li = (
        lineitem
        .where(F.col("l_partkey") % 2 == 0)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    )
    # collect_set-per-order + codegen pair expansion (2 shuffles) in
    # place of distinct -> self-join -> distinct (3): same edge set
    e = pin(cooccurrence_edges(li, "ok", "p"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    return e, deg


# ---------- q561: rich-club coefficient phi(k)

# Do well-connected parts preferentially co-occur with each other?
# phi(k) = 2*E_>k / (N_>k * (N_>k - 1)) for k in {4, 8, 16, 32}: keep
# nodes with degree > k, count surviving edges. Exact rational in rhu
# micro. One degree frame, one edge-endpoint join, four thresholds in
# a single broadcast cross.
_RICHCLUB_ORACLE = _PARTG_CTE + """
, ks AS MATERIALIZED (
    SELECT * FROM (VALUES (4), (8), (16), (32)) AS t(k)
), nk AS MATERIALIZED (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_k
    FROM ks JOIN deg ON deg.deg > ks.k GROUP BY ks.k
), ek AS MATERIALIZED (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
    FROM ks, e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
    WHERE du.deg > ks.k AND dv.deg > ks.k
    GROUP BY ks.k
)
SELECT nk.k, nk.n_k, COALESCE(ek.e_k, 0) AS e_k,
       CAST((2 * 1000000 * 2 * COALESCE(ek.e_k, 0)
             + nk.n_k * (nk.n_k - 1))
            // (2 * nk.n_k * (nk.n_k - 1)) AS BIGINT) AS phi_micro
FROM nk LEFT JOIN ek ON ek.k = nk.k
ORDER BY nk.k
"""


@register("q561_rich_club", oracle=_RICHCLUB_ORACLE)
def q561(spark, lineitem):
    """phi(k) over the co-purchase graph at four thresholds (oracle
    comment)."""
    e, deg = _part_graph(lineitem)
    ks = spark.createDataFrame([(4,), (8,), (16,), (32,)], "k int")
    nk = (
        ks.join(deg, deg["deg"] > ks["k"])
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_k"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ek = (
        e.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            "k",
            "n_k",
            F.coalesce(F.col("e_k"), F.lit(0)).alias("e_k"),
            F.expr(
                f"CAST({rhu('1000000 * 2 * COALESCE(e_k, 0)', 'n_k * (n_k - 1)')}"
                " AS BIGINT)"
            ).alias("phi_micro"),
        )
        .orderBy("k")
    )


# ---------- q562: power-law degree exponent (MLE) + centralization

# Continuous-approximation Hill/Newman MLE over degrees >= 2:
# alpha = 1 + n / sum ln(d / 1.5) with per-node micro-quantized LN
# terms, plus Freeman degree centralization sum(dmax - d)/((N-1)(N-2))
# over ALL nodes as an exact rational.
_PLAW_ORACLE = _PARTG_CTE + """
, lt AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n2,
           CAST(SUM(CAST(ROUND(LN(CAST(deg AS DOUBLE) / 1.5) * 1000000, 0)
                         AS BIGINT)) AS BIGINT) AS slu
    FROM deg WHERE deg >= 2
), cz AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(deg) AS BIGINT) AS dmax,
           CAST(SUM(deg) AS BIGINT) AS sd
    FROM deg
)
SELECT cz.n, cz.dmax, lt.n2,
       ROUND(1.0 + CAST(lt.n2 AS DOUBLE)
             / (CAST(lt.slu AS DOUBLE) / 1000000.0), 6) AS alpha_r6,
       CAST((2 * 1000000 * (cz.n * cz.dmax - cz.sd)
             + (cz.n - 1) * (cz.n - 2))
            // (2 * (cz.n - 1) * (cz.n - 2)) AS BIGINT)
           AS centralization_micro
FROM lt, cz
"""


@register("q562_powerlaw_alpha", oracle=_PLAW_ORACLE)
def q562(lineitem):
    """Degree-MLE alpha + Freeman centralization (oracle comment)."""
    _, deg = _part_graph(lineitem)
    lt = deg.filter(F.col("deg") >= 2).agg(
        F.count("*").cast("bigint").alias("n2"),
        F.sum(
            F.expr(
                "CAST(ROUND(LN(CAST(deg AS DOUBLE) / 1.5) * 1000000, 0)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("slu"),
    )
    cz = deg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("deg").cast("bigint").alias("dmax"),
        F.sum("deg").cast("bigint").alias("sd"),
    )
    return lt.crossJoin(F.broadcast(cz)).select(
        "n",
        "dmax",
        "n2",
        F.expr(
            "ROUND(1.0 + CAST(n2 AS DOUBLE)"
            " / (CAST(slu AS DOUBLE) / 1000000.0), 6)"
        ).alias("alpha_r6"),
        F.expr(
            f"CAST({rhu('1000000 * (n * dmax - sd)', '(n - 1) * (n - 2)')} AS BIGINT)"
        ).alias("centralization_micro"),
    )


# ---------- q563: reciprocity + dyad census (nation trade digraph)

# The q486 nation trade graph kept DIRECTED: arc a->b iff a customer in
# nation a buys a line shipped by a supplier in nation b. Dyad census
# (mutual / asymmetric / null unordered pairs) and arc reciprocity
# r = 2M/L, exact rationals.
_DYAD_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
), nodes AS MATERIALIZED (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
    )
), pairs AS MATERIALIZED (
    SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
           CAST(COUNT(*) AS BIGINT) AS arcs
    FROM e GROUP BY LEAST(src, dst), GREATEST(src, dst)
), m AS MATERIALIZED (
    SELECT CAST(SUM(CASE WHEN arcs = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mut,
           CAST(SUM(CASE WHEN arcs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS asym,
           CAST(SUM(arcs) AS BIGINT) AS l_arcs
    FROM pairs
), nn AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
)
SELECT nn.n AS n_nodes, m.l_arcs, m.mut, m.asym,
       nn.n * (nn.n - 1) // 2 - m.mut - m.asym AS nulls,
       CAST((2 * 1000000 * 2 * m.mut + m.l_arcs) // (2 * m.l_arcs)
            AS BIGINT) AS reciprocity_micro
FROM m, nn
"""


@register("q563_reciprocity_dyads", oracle=_DYAD_ORACLE)
def q563(orders, lineitem, customer, supplier):
    """Dyad census + arc reciprocity on the trade digraph (oracle
    comment)."""
    e = (
        orders
        .join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(customer),
            customer["c_custkey"] == orders["o_custkey"],
        )
        .join(
            F.broadcast(supplier),
            supplier["s_suppkey"] == lineitem["l_suppkey"],
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    pairs = e.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.count("*").cast("bigint").alias("arcs"))
    m = pairs.agg(
        F.sum(F.when(F.col("arcs") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("mut"),
        F.sum(F.when(F.col("arcs") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("asym"),
        F.sum("arcs").cast("bigint").alias("l_arcs"),
    )
    nn = nodes.agg(F.count("*").cast("bigint").alias("n"))
    return m.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_nodes"),
        "l_arcs",
        "mut",
        "asym",
        F.expr("n * (n - 1) DIV 2 - mut - asym").alias("nulls"),
        F.expr(
            f"CAST({rhu('1000000 * 2 * mut', 'l_arcs')} AS BIGINT)"
        ).alias("reciprocity_micro"),
    )


# ---------- q564: k-truss edge-support histogram

# How embedded is each co-purchase edge in triangles? Support(u,v) =
# triangles containing the edge; the histogram (support -> edge count,
# zero-support edges included) is the k-truss size profile. Spark
# enumerates each triangle ONCE via the (deg, id)-oriented wedge join
# (operators/triangles, no hub blowup) and explodes it into its three
# edges; the oracle proves the same multiset with the id-ordered triple
# join.
_TRUSS_ORACLE = _PARTG_CTE + """
, tri AS MATERIALIZED (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
              JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
), supp AS MATERIALIZED (
    SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT a AS u, b AS v FROM tri
        UNION ALL SELECT a, c FROM tri
        UNION ALL SELECT b, c FROM tri
    ) GROUP BY u, v
)
SELECT COALESCE(s.support, 0) AS support,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM e LEFT JOIN supp s ON s.u = e.u AND s.v = e.v
GROUP BY COALESCE(s.support, 0)
ORDER BY support
"""


@register("q564_truss_support", oracle=_TRUSS_ORACLE)
def q564(lineitem):
    """Edge-support histogram from oriented triangle enumeration
    (oracle comment)."""
    from ..operators.triangles import triangle_list

    e, _ = _part_graph(lineitem)
    tri = triangle_list(e)
    # triangle_list orders corners by the (deg, id) orientation, NOT by
    # id — canonicalize each exploded edge back to u < v or the join
    # against the canonical edge frame drops it. ONE explode of a
    # 3-struct array (the q487 idiom), not a 3-way union: the union
    # referenced tri three times and re-ran the whole wedge semi-join
    # per branch (guide §2.4; measured at sf1: 9.1 s for tri alone vs
    # 25.7 s with the union on top — the subtree tripled)
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                ),
                F.struct(
                    F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")
                ),
                F.struct(
                    F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v")
                ),
            )
        ).alias("uv")
    ).select("uv.u", "uv.v")
    supp = edges3.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("support")
    )
    return (
        e.join(supp, ["u", "v"], "left")
        .groupBy(F.coalesce(F.col("support"), F.lit(0)).alias("support"))
        .agg(F.count("*").cast("bigint").alias("n_edges"))
        .orderBy("support")
    )


# ---------- q565: average-neighbor-degree curve knn(k)

# Degree-degree mixing beyond q294's single coefficient: for each
# degree k, the mean degree of the neighbors of degree-k nodes
# (Pastor-Satorras knn(k)); assortative graphs rise, disassortative
# fall. Both orientations of each edge contribute, so the sums are the
# exact edge-endpoint moments; rhu micro per degree class.
_KNNDEG_ORACLE = _PARTG_CTE + """
, und AS (
    SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), ed AS (
    SELECT du.deg AS ku, dv.deg AS kv
    FROM und JOIN deg du ON du.node = und.u JOIN deg dv ON dv.node = und.v
)
SELECT ku AS k, CAST(COUNT(*) AS BIGINT) AS n_endpoints,
       CAST((2 * 1000000 * CAST(SUM(kv) AS HUGEINT) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS knn_micro
FROM ed GROUP BY ku ORDER BY k
"""


@register("q565_neighbor_degree_curve", oracle=_KNNDEG_ORACLE)
def q565(lineitem):
    """knn(k) mixing curve over edge-endpoint degrees (oracle
    comment)."""
    e, deg = _part_graph(lineitem)
    und = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("ku"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("kv"))
    ed = und.join(du, "u").join(dv, "v")
    return (
        ed.groupBy(F.col("ku").alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("n_endpoints"),
            F.expr(
                f"CAST({rhu('1000000 * CAST(SUM(kv) AS DECIMAL(38,0))', 'COUNT(*)')}"
                " AS BIGINT)"
            ).alias("knn_micro"),
        )
        .orderBy("k")
    )


# ---------- q566: lexical-richness suite (Yule K, Honore R, Sichel S)

# Vocabulary-richness triple over the corpus frequency spectrum
# V_m = #types with frequency m: Yule's K = 1e4*(sum m^2 V_m - N)/N^2
# (exact rational, rhu micro), Honore's R = 100*ln N/(1 - V1/V)
# (double over exact integers, round 6), Sichel's S = V2/V (rhu
# micro). One token pass, one spectrum aggregate.
_RICHNESS_ORACLE = """
WITH tf AS MATERIALIZED (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '),
                                  t -> LEN(t) > 0)) AS term
        FROM documents
    ) GROUP BY term
), spec AS (
    SELECT CAST(SUM(freq) AS HUGEINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS v,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
           CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
           CAST(SUM(CAST(freq AS HUGEINT) * freq) AS HUGEINT) AS s2
    FROM tf
)
SELECT CAST(n AS BIGINT) AS n_tokens, v AS vocab, v1, v2,
       CAST((2 * 10000000000 * (s2 - n) + n * n) // (2 * n * n) AS BIGINT)
           AS yule_k_micro,
       ROUND(100.0 * LN(CAST(n AS DOUBLE))
             / (1.0 - CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
           AS honore_r_r6,
       CAST((2 * 1000000 * v2 + v) // (2 * v) AS BIGINT) AS sichel_s_micro
FROM spec
"""


@register("q566_lexical_richness", oracle=_RICHNESS_ORACLE)
def q566(documents):
    """K/R/S over one frequency-spectrum aggregate (oracle comment)."""
    tf = (
        documents.select(
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda x: F.length(x) > 0)
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    spec = tf.agg(
        F.sum("freq").cast("decimal(38,0)").alias("n"),
        F.count("*").cast("bigint").alias("v"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).cast("bigint").alias("v1"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0)).cast("bigint").alias("v2"),
        F.sum(F.col("freq").cast("decimal(38,0)") * F.col("freq")).alias("s2"),
    )
    return spec.select(
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("v").alias("vocab"),
        "v1",
        "v2",
        F.expr(
            f"CAST({rhu('10000000000 * (s2 - n)', 'n * n')} AS BIGINT)"
        ).alias("yule_k_micro"),
        F.expr(
            "ROUND(100.0 * LN(CAST(n AS DOUBLE))"
            " / (1.0 - CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE)), 6)"
        ).alias("honore_r_r6"),
        F.expr(f"CAST({rhu('1000000 * v2', 'v')} AS BIGINT)").alias(
            "sichel_s_micro"
        ),
    )


# ---------- q567: winnowing-style fingerprint collision groups

# Plagiarism/copy screen without doc x doc pairs: hash word 4-grams
# with the repo md5 anchor, then TRUE Schleimer winnowing (window w=4):
# every full window of 4 consecutive gram positions selects its minimum
# hash, rightmost on ties — so every window is covered BY CONSTRUCTION
# (the guarantee the fingerprint rests on; a local-min variant left
# ~4% of windows uncovered on monotone hash runs). The window min is a
# frame aggregate; the argmax-position needs the anchor's min per frame
# row, which SQL window aggregates cannot express — one doc-banded
# range join resolves it. Selected fingerprints group across docs;
# candidate volume is fingerprint types, never pairs.
_WINNOW_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), grams AS MATERIALIZED (
    SELECT doc_id, i,
           ('0x' || SUBSTR(MD5(ARRAY_TO_STRING(ts[i:i+3], ' ')), 1, 15))::BIGINT
               AS h,
           ARRAY_TO_STRING(ts[i:i+3], ' ') AS g
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts) - 3)) t(i)
    WHERE LEN(ts) >= 4
), starts AS MATERIALIZED (
    SELECT doc_id, i AS s,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
           COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS k
    FROM grams
), sel AS MATERIALIZED (
    SELECT st.doc_id, MAX(g2.i) AS pos
    FROM starts st
    JOIN grams g2 ON g2.doc_id = st.doc_id
                 AND g2.i BETWEEN st.s AND st.s + 3 AND g2.h = st.mh
    WHERE st.k = 4
    GROUP BY st.doc_id, st.s
), fp AS (
    SELECT DISTINCT s.doc_id, g2.g
    FROM (SELECT DISTINCT doc_id, pos FROM sel) s
    JOIN grams g2 ON g2.doc_id = s.doc_id AND g2.i = s.pos
)
SELECT g AS gram, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM fp GROUP BY g HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, gram LIMIT 20
"""


@register("q567_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def q567(documents):
    """True-winnowing fingerprints (rightmost window min) -> cross-doc
    collision groups (oracle comment)."""
    toks = documents.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda x: F.length(x) > 0).alias(
            "ts"
        ),
    ).filter(F.size("ts") >= 4)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("ts") - 4),
                lambda i: F.array_join(F.slice("ts", i + 1, 4), " "),
            )
        ).alias("i", "g"),
    ).select(
        "doc_id",
        "i",
        "g",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    starts = grams.select(
        "doc_id",
        F.col("i").alias("s"),
        F.min("h").over(w).alias("mh"),
        F.count("*").over(w).alias("k"),
    ).filter(F.col("k") == 4)
    g2 = grams.select(
        F.col("doc_id").alias("d2"), F.col("i").alias("i2"),
        F.col("h").alias("h2"), F.col("g").alias("g2"),
    )
    sel = (
        starts.join(
            g2,
            (F.col("d2") == F.col("doc_id"))
            & F.col("i2").between(F.col("s"), F.col("s") + 3)
            & (F.col("h2") == F.col("mh")),
        )
        .groupBy("doc_id", "s")
        .agg(F.max("i2").alias("pos"))
        .select("doc_id", "pos")
        .distinct()
    )
    fp = (
        sel.join(
            g2,
            (F.col("d2") == F.col("doc_id")) & (F.col("i2") == F.col("pos")),
        )
        .select("doc_id", F.col("g2").alias("g"))
        .distinct()
    )
    return (
        fp.groupBy(F.col("g").alias("gram"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(20)
    )


# ---------- q568: RAKE-lite keyword extraction

# Rapid Automatic Keyword Extraction, degree/frequency scoring: split
# documents into candidate phrases at stopword boundaries (fixed
# 22-word stoplist) AND at every 3rd token within a run — the synthetic
# corpus is stopword-sparse (runs of 8-30 content words), so the
# sub-chunking is the declared RAKE-lite segmentation that keeps
# candidates phrase-sized. Word score deg(w)/freq(w) with deg summing
# the lengths of phrases containing w (with multiplicity); phrase score
# = sum of word scores (micro per-word rhu, exact integer sums).
# Top-20 distinct 2-3-word phrases by (score, phrase).
_RAKE_STOPS = (
    "'the','a','an','of','to','in','and','or','is','was','for','on','with',"
    "'as','by','at','it','this','that','be','are','from'"
)

_RAKE_ORACLE = f"""
WITH pos AS MATERIALIZED (
    SELECT doc_id, i, ts[i] AS w,
           CASE WHEN ts[i] IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END AS stop
    FROM (
        SELECT doc_id,
               LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
        FROM documents
    ), LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts))) t(i)
), runs AS (
    -- window BEFORE the stop-row filter (WHERE runs before window
    -- functions, which would freeze rid at 0) — matches the Spark
    -- withColumn-then-filter order
    SELECT doc_id, i, w, rid FROM (
        SELECT doc_id, i, w, stop,
               SUM(stop) OVER (PARTITION BY doc_id ORDER BY i) AS rid
        FROM pos
    ) WHERE stop = 0
), keyed AS MATERIALIZED (
    SELECT doc_id, i, w,
           rid * 1000
           + (ROW_NUMBER() OVER (PARTITION BY doc_id, rid ORDER BY i) - 1)
             // 3 AS ph
    FROM runs
), phrases AS MATERIALIZED (
    SELECT doc_id, ph, STRING_AGG(w, ' ' ORDER BY i) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS plen
    FROM keyed GROUP BY doc_id, ph
    HAVING COUNT(*) BETWEEN 2 AND 3
), wstat AS MATERIALIZED (
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(p.plen) AS BIGINT) AS deg
    FROM keyed k JOIN phrases p ON p.doc_id = k.doc_id AND p.ph = k.ph
    GROUP BY w
), wscore AS MATERIALIZED (
    SELECT w, CAST((2 * 1000000 * deg + freq) // (2 * freq) AS BIGINT) AS su
    FROM wstat
), pscore AS (
    SELECT p.phrase, CAST(SUM(ws.su) AS BIGINT) AS score_u
    FROM phrases p
    JOIN keyed k ON k.doc_id = p.doc_id AND k.ph = p.ph
    JOIN wscore ws ON ws.w = k.w
    GROUP BY p.doc_id, p.ph, p.phrase
)
SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(score_u) AS BIGINT) AS score_micro
FROM pscore GROUP BY phrase
ORDER BY score_micro DESC, phrase LIMIT 20
"""


@register("q568_rake_keywords", oracle=_RAKE_ORACLE)
def q568(documents):
    """RAKE deg/freq phrase scores with micro word terms (oracle
    comment)."""
    stops = [s.strip("'") for s in _RAKE_STOPS.split(",")]
    toks = documents.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda x: F.length(x) > 0).alias(
            "ts"
        ),
    )
    pos = toks.select(
        "doc_id", F.posexplode("ts").alias("i0", "w")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "w",
        F.when(F.col("w").isin(stops), 1).otherwise(0).alias("stop"),
    )
    runs = (
        pos.withColumn(
            "rid", F.sum("stop").over(Window.partitionBy("doc_id").orderBy("i"))
        )
        .filter(F.col("stop") == 0)
        .select("doc_id", "i", "w", "rid")
    )
    keyed = runs.select(
        "doc_id",
        "i",
        "w",
        (
            F.col("rid") * 1000
            + F.expr(
                "(ROW_NUMBER() OVER (PARTITION BY doc_id, rid ORDER BY i) - 1)"
                " DIV 3"
            )
        ).alias("ph"),
    )
    phrases = (
        keyed.groupBy("doc_id", "ph")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("bigint").alias("plen"),
        )
        .filter(F.col("plen").between(2, 3))
    )
    wstat = (
        keyed.join(phrases, ["doc_id", "ph"])
        .groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    wscore = wstat.select(
        "w",
        F.expr(f"CAST({rhu('1000000 * deg', 'freq')} AS BIGINT)").alias(
            "su"
        ),
    )
    pscore = (
        phrases.join(keyed, ["doc_id", "ph"])
        .join(wscore, "w")
        .groupBy("doc_id", "ph", "phrase")
        .agg(F.sum("su").cast("bigint").alias("score_u"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.max("score_u").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(20)
    )


# ---------- q569: lognormal fit of document lengths (per source)

# Are lengths lognormal per source? Method-of-moments in log space
# with per-row micro-quantized LN(n_chars): mu and sigma^2 of the
# quantized logs are exact-integer-backed; the lognormality gap
# ln(mean) - (mu + sigma^2/2) is ~0 under a true lognormal. All three
# reported as rounded doubles over exact integer aggregates.
_LOGNORM_ORACLE = """
WITH v AS (
    SELECT source,
           CAST(ROUND(LN(CAST(n_chars AS DOUBLE)) * 1000000, 0) AS BIGINT)
               AS lnu,
           CAST(n_chars AS BIGINT) AS len
    FROM documents WHERE n_chars > 0
), m AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(lnu) AS BIGINT) AS s,
           CAST(SUM(CAST(lnu AS HUGEINT) * lnu) AS HUGEINT) AS q,
           CAST(SUM(len) AS BIGINT) AS sl
    FROM v GROUP BY source
)
SELECT source, n,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mu_r6,
       ROUND((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12, 6)
           AS sigma2_r6,
       ROUND(LN(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE))
             - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
                + (CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 2e12), 6)
           AS lognorm_gap_r6
FROM m ORDER BY source
"""


@register("q569_lognormal_length_fit", oracle=_LOGNORM_ORACLE)
def q569(documents):
    """Log-space MoM fit + lognormality gap per source (oracle
    comment)."""
    v = documents.filter(F.col("n_chars") > 0).select(
        "source",
        F.expr(
            "CAST(ROUND(LN(CAST(n_chars AS DOUBLE)) * 1000000, 0) AS BIGINT)"
        ).alias("lnu"),
        F.col("n_chars").cast("bigint").alias("len"),
    )
    m = v.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lnu").cast("bigint").alias("s"),
        F.sum(F.col("lnu").cast("decimal(38,0)") * F.col("lnu")).alias("q"),
        F.sum("len").cast("bigint").alias("sl"),
    )
    return m.select(
        "source",
        "n",
        F.expr(
            "ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)"
        ).alias("mu_r6"),
        F.expr(
            "ROUND((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12, 6)"
        ).alias("sigma2_r6"),
        F.expr(
            "ROUND(LN(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE))"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0"
            " + (CAST(q AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 2e12), 6)"
        ).alias("lognorm_gap_r6"),
    ).orderBy("source")


# ---------- shared: milli-quantized embedding cells + Gram moments

# All four representation audits (q570-q573) ride the same posture:
# CAST the float vectors to DOUBLE first (CLAUDE.md hard rule), quantize
# to integer MILLI once, and build second-moment matrices as EXACT
# integer aggregates over the (vec, dim) long table self-joined on
# vec_id — one shuffle by vec_id, 64x64 = 4096 result cells, no
# doc x doc pairs. At cluster scale the per-group Gram is the
# operators/similarity block-matmul kernel; the join form here is the
# oracle-parallel declared contract.
_EMB_CELLS_CTE = """
WITH cells AS MATERIALIZED (
    SELECT vec_id, label, i,
           CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000, 0) AS BIGINT) AS xu
    FROM embeddings, RANGE(1, 65) r(i)
)
"""


def _emb_quant(embeddings):
    """(vec_id, label, xs: array<bigint>) milli-quantized embeddings —
    the same CAST-to-DOUBLE + ROUND half-up expression as the oracle
    CTE, applied per element while the vector is still an array."""
    return embeddings.select(
        "vec_id",
        "label",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> CAST(ROUND(x * 1000, 0) AS BIGINT))"
        ).alias("xs"),
    )


def _emb_cells(embeddings):
    q = _emb_quant(embeddings)
    return q.select(
        "vec_id", "label", F.posexplode("xs").alias("p", "xu")
    ).select("vec_id", "label", (F.col("p") + 1).alias("i"), "xu")


def _emb_moments(quant_g, group_col):
    """(g, i, j, m=sum x_i x_j) exact-integer second moments.

    r12 rewrite (guide §2.2): the original form self-joined the exploded
    (vec_id, i, xu) cells on vec_id — two shuffles of n x 64 rows plus a
    join just to enumerate the 64x64 dim pairs each row already holds.
    Expanding the outer product per ROW (two chained posexplodes — both
    codegen'd GenerateExec, unlike the interpreted higher-order
    transform/inline form, which measured SLOWER than the join) feeds
    the same sum(x_i * x_j) through one hash aggregate whose map-side
    partial output is only |groups| x 4096 rows per task: the vec_id
    shuffle is gone and shuffle bytes no longer scale with n. The
    round-robin repartition spreads the generate work across cores (the
    single-file parquet input is otherwise ONE partition). Sums are
    exact bigint either way, so the result is bit-identical."""
    spark = quant_g.sparkSession
    base = quant_g.select(F.col(group_col).alias("g"), "xs").repartition(
        spark.sparkContext.defaultParallelism
    )
    left = base.select("g", "xs", F.posexplode("xs").alias("p", "xi"))
    pairs = left.select(
        "g",
        (F.col("p") + 1).alias("i"),
        "xi",
        F.posexplode("xs").alias("q", "xj"),
    ).select(
        "g", "i", (F.col("q") + 1).alias("j"),
        (F.col("xi") * F.col("xj")).alias("pr"),
    )
    return pairs.groupBy("g", "i", "j").agg(
        F.sum("pr").cast("bigint").alias("m")
    )


# ---------- q570: polynomial-kernel MMD^2 between label halves

# Distribution shift between label groups A (< 5) and B (>= 5) with the
# degree-2 polynomial kernel k(x,y) = (x.y)^2 — PAIRS-FREE via the
# identity E[(x.y)^2] = ||E[xx^T]||-style moment contraction:
# MMD^2 = ||M_A/n_A - M_B/n_B||_F^2 over the exact integer
# second-moment matrices. The one double is the final normalized norm.
_MMD_ORACLE = _EMB_CELLS_CTE + """
, pairs AS MATERIALIZED (
    SELECT CASE WHEN a.label < 5 THEN 0 ELSE 1 END AS g, a.i, b.i AS j,
           CAST(SUM(CAST(a.xu AS HUGEINT) * b.xu) AS HUGEINT) AS m
    FROM cells a JOIN cells b ON a.vec_id = b.vec_id
    GROUP BY CASE WHEN a.label < 5 THEN 0 ELSE 1 END, a.i, b.i
), ns AS MATERIALIZED (
    SELECT CAST(SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS HUGEINT) AS na,
           CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS HUGEINT) AS nb
    FROM (SELECT DISTINCT vec_id, label FROM cells)
), d AS (
    SELECT pa.i, pa.j, ns.nb * pa.m - ns.na * pb.m AS dnum
    FROM (SELECT i, j, m FROM pairs WHERE g = 0) pa
    JOIN (SELECT i, j, m FROM pairs WHERE g = 1) pb
         ON pa.i = pb.i AND pa.j = pb.j, ns
), f2 AS (
    SELECT CAST(SUM(dnum * dnum) AS HUGEINT) AS f2 FROM d
)
SELECT CAST(ns.na AS BIGINT) AS n_a, CAST(ns.nb AS BIGINT) AS n_b,
       ROUND(CAST(f2.f2 AS DOUBLE)
             / (CAST(ns.na AS DOUBLE) * CAST(ns.na AS DOUBLE)
                * CAST(ns.nb AS DOUBLE) * CAST(ns.nb AS DOUBLE)) / 1e12, 6)
           AS mmd2_r6
FROM f2, ns
"""


@register("q570_mmd_poly2", oracle=_MMD_ORACLE)
def q570(embeddings):
    """Pairs-free polynomial MMD^2 over exact Gram moments (oracle
    comment)."""
    cells = _emb_cells(embeddings)
    half = _emb_quant(embeddings).withColumn(
        "g", F.when(F.col("label") < 5, 0).otherwise(1)
    )
    mom = _emb_moments(half, "g")
    ns = (
        cells.select("vec_id", "label")
        .distinct()
        .agg(
            F.sum(F.when(F.col("label") < 5, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias("na"),
            F.sum(F.when(F.col("label") >= 5, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias("nb"),
        )
    )
    pa = mom.filter(F.col("g") == 0).select(
        "i", "j", F.col("m").cast("decimal(38,0)").alias("ma")
    )
    pb = mom.filter(F.col("g") == 1).select(
        "i", "j", F.col("m").cast("decimal(38,0)").alias("mb")
    )
    d = pa.join(pb, ["i", "j"]).crossJoin(F.broadcast(ns)).select(
        (F.col("nb") * F.col("ma") - F.col("na") * F.col("mb")).alias("dnum")
    )
    f2 = d.agg(F.sum(F.col("dnum") * F.col("dnum")).alias("f2"))
    return f2.crossJoin(F.broadcast(ns)).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr(
            "ROUND(CAST(f2 AS DOUBLE)"
            " / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)"
            " * CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e12, 6)"
        ).alias("mmd2_r6"),
    )


# ---------- q571: CORAL covariance-shift distance (label halves)

# Domain-shift audit a la CORAL: Frobenius^2 distance between the two
# halves' covariance matrices. Each cell C_ij = (n*M_ij - S_i*S_j)/n^2
# is quantized to a signed integer by the floor round-half-up (Spark:
# floor_rhu; the oracle spells out the floor-mod emulation, since DuckDB
# // truncates) — then the distance is an exact integer sum of squared
# cell differences. q572 and q573 quantize their cells the same way.
_CORAL_ORACLE = _EMB_CELLS_CTE + """
, mom AS MATERIALIZED (
    SELECT CASE WHEN a.label < 5 THEN 0 ELSE 1 END AS g, a.i, b.i AS j,
           CAST(SUM(CAST(a.xu AS HUGEINT) * b.xu) AS HUGEINT) AS m
    FROM cells a JOIN cells b ON a.vec_id = b.vec_id
    GROUP BY CASE WHEN a.label < 5 THEN 0 ELSE 1 END, a.i, b.i
), ns AS MATERIALIZED (
    SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS g,
           CAST(COUNT(*) AS HUGEINT) AS n
    FROM (SELECT DISTINCT vec_id, label FROM cells)
    GROUP BY CASE WHEN label < 5 THEN 0 ELSE 1 END
), sums AS MATERIALIZED (
    SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS g, i,
           CAST(SUM(xu) AS HUGEINT) AS si
    FROM cells GROUP BY CASE WHEN label < 5 THEN 0 ELSE 1 END, i
), cov AS MATERIALIZED (
    SELECT mom.g, mom.i, mom.j,
           (((2 * (1000 * (ns.n * mom.m - su.si * sv.si)) + (ns.n * ns.n))) - ((((2 * (1000 * (ns.n * mom.m - su.si * sv.si)) + (ns.n * ns.n))) % ((2 * (ns.n * ns.n)))) + ((2 * (ns.n * ns.n)))) % ((2 * (ns.n * ns.n)))) // ((2 * (ns.n * ns.n))) AS cu
    FROM mom
    JOIN ns ON ns.g = mom.g
    JOIN sums su ON su.g = mom.g AND su.i = mom.i
    JOIN sums sv ON sv.g = mom.g AND sv.i = mom.j
)
SELECT CAST(SUM((a.cu - b.cu) * (a.cu - b.cu)) AS BIGINT) AS coral_f2
FROM (SELECT i, j, cu FROM cov WHERE g = 0) a
JOIN (SELECT i, j, cu FROM cov WHERE g = 1) b ON a.i = b.i AND a.j = b.j
"""

_CU = f"CAST({floor_rhu('(1000 * (n * m - si * sj))', 'n * n')} AS BIGINT)"


@register("q571_coral_shift", oracle=_CORAL_ORACLE)
def q571(embeddings):
    """Integer-quantized covariance cells -> exact Frobenius^2 CORAL
    (oracle comment)."""
    # pinned: cells feeds ns AND the per-dim sums; sums feeds both
    # covariance sides; cov feeds both domain halves of the Frobenius
    # diff — unpinned, each re-ran its subtree per reference (guide
    # §2.4; before-plan: 13 Exchanges)
    cells = (
        _emb_cells(embeddings)
        .withColumn("g", F.when(F.col("label") < 5, 0).otherwise(1))
        .transform(pin)
    )
    mom = _emb_moments(
        _emb_quant(embeddings).withColumn(
            "g", F.when(F.col("label") < 5, 0).otherwise(1)
        ),
        "g",
    ).select("g", "i", "j", F.col("m").cast("decimal(38,0)").alias("m"))
    ns = (
        cells.select("vec_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").cast("decimal(38,0)").alias("n"))
    )
    sums = cells.groupBy("g", "i").agg(
        F.sum("xu").cast("decimal(38,0)").alias("si")
    ).transform(pin)
    su = sums.select("g", F.col("i"), F.col("si"))
    sv = sums.select(
        F.col("g").alias("g2"), F.col("i").alias("jj"), F.col("si").alias("sj")
    )
    cov = (
        mom.join(F.broadcast(ns), "g")
        .join(su, ["g", "i"])
        .join(sv, (F.col("g") == F.col("g2")) & (F.col("j") == F.col("jj")))
        .select(
            "g",
            "i",
            "j",
            F.expr(_CU).alias("cu"),
        )
        .transform(pin)
    )
    a = cov.filter(F.col("g") == 0).select("i", "j", F.col("cu").alias("ca"))
    b = cov.filter(F.col("g") == 1).select("i", "j", F.col("cu").alias("cb"))
    return (
        a.join(b, ["i", "j"])
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("bigint")
            .alias("coral_f2")
        )
    )


# ---------- q572: participation ratio (effective dimensionality)

# How many dimensions does each label's embedding cloud actually use?
# PR = (tr C)^2 / tr(C^2) = (sum C_ii)^2 / sum C_ij^2 needs NO
# eigendecomposition — both traces are exact integer contractions of
# the quantized covariance cells from the q571 posture. PR = 64 iff
# isotropic, 1 iff rank-one. rhu micro per label.
_PR_ORACLE = _EMB_CELLS_CTE + """
, mom AS MATERIALIZED (
    SELECT a.label AS g, a.i, b.i AS j,
           CAST(SUM(CAST(a.xu AS HUGEINT) * b.xu) AS HUGEINT) AS m
    FROM cells a JOIN cells b ON a.vec_id = b.vec_id
    GROUP BY a.label, a.i, b.i
), ns AS MATERIALIZED (
    SELECT label AS g, CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n
    FROM cells GROUP BY label
), sums AS MATERIALIZED (
    SELECT label AS g, i, CAST(SUM(xu) AS HUGEINT) AS si
    FROM cells GROUP BY label, i
), cov AS MATERIALIZED (
    SELECT mom.g, mom.i, mom.j,
           (((2 * (1000 * (ns.n * mom.m - su.si * sv.si)) + (ns.n * ns.n))) - ((((2 * (1000 * (ns.n * mom.m - su.si * sv.si)) + (ns.n * ns.n))) % ((2 * (ns.n * ns.n)))) + ((2 * (ns.n * ns.n)))) % ((2 * (ns.n * ns.n)))) // ((2 * (ns.n * ns.n))) AS cu
    FROM mom
    JOIN ns ON ns.g = mom.g
    JOIN sums su ON su.g = mom.g AND su.i = mom.i
    JOIN sums sv ON sv.g = mom.g AND sv.i = mom.j
), tr AS (
    SELECT g,
           CAST(SUM(CASE WHEN i = j THEN cu ELSE 0 END) AS HUGEINT) AS trc,
           CAST(SUM(cu * cu) AS HUGEINT) AS trc2
    FROM cov GROUP BY g
)
SELECT g AS label,
       CAST((2 * 1000000 * trc * trc + trc2) // (2 * trc2) AS BIGINT)
           AS pr_micro
FROM tr ORDER BY label
"""


@register("q572_participation_ratio", oracle=_PR_ORACLE)
def q572(embeddings):
    """Eigen-free effective dimensionality per label (oracle
    comment)."""
    cells = _emb_cells(embeddings)
    mom = _emb_moments(_emb_quant(embeddings), "label").select(
        F.col("g"), "i", "j", F.col("m").cast("decimal(38,0)").alias("m")
    )
    ns = cells.groupBy(F.col("label").alias("g")).agg(
        F.countDistinct("vec_id").cast("decimal(38,0)").alias("n")
    )
    sums = cells.groupBy(F.col("label").alias("g"), "i").agg(
        F.sum("xu").cast("decimal(38,0)").alias("si")
    )
    sv = sums.select(
        F.col("g").alias("g2"), F.col("i").alias("jj"), F.col("si").alias("sj")
    )
    cov = (
        mom.join(F.broadcast(ns), "g")
        .join(sums, ["g", "i"])
        .join(sv, (F.col("g") == F.col("g2")) & (F.col("j") == F.col("jj")))
        .select(
            "g",
            "i",
            "j",
            F.expr(_CU).alias("cu"),
        )
    )
    tr = cov.groupBy("g").agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("cu")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("trc"),
        F.sum(F.col("cu").cast("decimal(38,0)") * F.col("cu")).alias("trc2"),
    )
    return tr.select(
        F.col("g").alias("label"),
        F.expr(
            f"CAST({rhu('1000000 * trc * trc', 'trc2')} AS BIGINT)"
        ).alias("pr_micro"),
    ).orderBy("label")


# ---------- q573: linear CKA between dimension halves

# Do the first 32 and last 32 embedding dimensions encode the same
# geometry? Linear CKA = ||Cxy||_F^2 / (||Cxx||_F ||Cyy||_F); reported
# as CKA^2 = Sxy^2/(Sxx*Syy) to stay sqrt-free, with S* the exact
# integer sums of squared quantized covariance cells over the
# (first-half x second-half) blocks. The ratio is the one final double.
_CKA_ORACLE = _EMB_CELLS_CTE + """
, mom AS MATERIALIZED (
    SELECT a.i, b.i AS j,
           CAST(SUM(CAST(a.xu AS HUGEINT) * b.xu) AS HUGEINT) AS m
    FROM cells a JOIN cells b ON a.vec_id = b.vec_id
    GROUP BY a.i, b.i
), ns AS MATERIALIZED (
    SELECT CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n FROM cells
), sums AS MATERIALIZED (
    SELECT i, CAST(SUM(xu) AS HUGEINT) AS si FROM cells GROUP BY i
), cov AS MATERIALIZED (
    SELECT mom.i, mom.j,
           (((2 * (1000 * (ns.n * mom.m - su.si * sv.si)) + (ns.n * ns.n))) - ((((2 * (1000 * (ns.n * mom.m - su.si * sv.si)) + (ns.n * ns.n))) % ((2 * (ns.n * ns.n)))) + ((2 * (ns.n * ns.n)))) % ((2 * (ns.n * ns.n)))) // ((2 * (ns.n * ns.n))) AS cu
    FROM mom
    JOIN sums su ON su.i = mom.i
    JOIN sums sv ON sv.i = mom.j, ns
), blocks AS (
    SELECT
        CAST(SUM(CASE WHEN i <= 32 AND j > 32 THEN cu * cu ELSE 0 END)
             AS HUGEINT) AS sxy,
        CAST(SUM(CASE WHEN i <= 32 AND j <= 32 THEN cu * cu ELSE 0 END)
             AS HUGEINT) AS sxx,
        CAST(SUM(CASE WHEN i > 32 AND j > 32 THEN cu * cu ELSE 0 END)
             AS HUGEINT) AS syy
    FROM cov
)
SELECT CAST(sxy AS BIGINT) AS sxy_f2,
       ROUND(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)
             / (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS cka2_r6
FROM blocks
"""


@register("q573_linear_cka", oracle=_CKA_ORACLE)
def q573(embeddings):
    """Sqrt-free linear CKA^2 between dimension halves (oracle
    comment)."""
    cells = _emb_cells(embeddings).withColumn("g", F.lit(1))
    mom = _emb_moments(
        _emb_quant(embeddings).withColumn("g", F.lit(1)), "g"
    ).select("i", "j", F.col("m").cast("decimal(38,0)").alias("m"))
    ns = cells.agg(F.countDistinct("vec_id").cast("decimal(38,0)").alias("n"))
    sums = cells.groupBy("i").agg(F.sum("xu").cast("decimal(38,0)").alias("si"))
    sv = sums.select(F.col("i").alias("jj"), F.col("si").alias("sj"))
    cov = (
        mom.join(sums, "i")
        .join(sv, F.col("j") == F.col("jj"))
        .crossJoin(F.broadcast(ns))
        .select(
            "i",
            "j",
            F.expr(_CU).alias("cu"),
        )
    )
    blocks = cov.agg(
        F.sum(
            F.when(
                (F.col("i") <= 32) & (F.col("j") > 32), F.col("cu") * F.col("cu")
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(
            F.when(
                (F.col("i") <= 32) & (F.col("j") <= 32), F.col("cu") * F.col("cu")
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(
            F.when(
                (F.col("i") > 32) & (F.col("j") > 32), F.col("cu") * F.col("cu")
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    return blocks.select(
        F.col("sxy").cast("bigint").alias("sxy_f2"),
        F.expr(
            "ROUND(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " / (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6)"
        ).alias("cka2_r6"),
    )


# ---------- shared: milli centroids + within-cluster scatter (labels)

# q574/q575 posture: quantize embeddings to integer milli (after the
# mandatory CAST to DOUBLE), centroids by the FLOOR round-half-up
# identity (signed sums: Spark's floor_rhu; DuckDB // truncates, so the
# oracle inlines floor_rhu_duck's floor-mod expansion), squared
# point-centroid distances as exact integer milli^2.
_CENT_CTE = _EMB_CELLS_CTE + """
, sums AS MATERIALIZED (
    SELECT label AS g, i, CAST(SUM(xu) AS BIGINT) AS si,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cells GROUP BY label, i
), cen AS MATERIALIZED (
    SELECT g, i, (((2 * (si) + (n))) - ((((2 * (si) + (n))) % ((2 * (n)))) + ((2 * (n)))) % ((2 * (n)))) // ((2 * (n))) AS cm, n FROM sums
), d2 AS MATERIALIZED (
    SELECT c.label AS g, c.vec_id,
           CAST(SUM((c.xu - cen.cm) * (c.xu - cen.cm)) AS BIGINT) AS d2
    FROM cells c JOIN cen ON cen.g = c.label AND cen.i = c.i
    GROUP BY c.label, c.vec_id
), scat AS MATERIALIZED (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d2) AS HUGEINT) AS sd2,
           CAST((2 * CAST(SUM(d2) AS HUGEINT) + COUNT(*)) // (2 * COUNT(*))
                AS BIGINT) AS s2
    FROM d2 GROUP BY g
)
"""


def _centroid_frames(embeddings):
    """(cells, cen, scat) mirroring _CENT_CTE on the Spark side.

    All three frames are pinned: cells feeds the
    centroid sums AND the scatter join (plus q575's global sums), cen
    feeds the scatter join AND both centroid-gap sides (q574) / the
    global-centroid join (q575), scat feeds both R_ij sides / the
    totals — unpinned, the embedding explode and centroid aggregates
    each re-ran per reference (guide §2.4; q574/q575 before-plans: 11
    Exchanges each)."""
    cells = pin(_emb_cells(embeddings))
    sums = cells.groupBy(F.col("label").alias("g"), "i").agg(
        F.sum("xu").cast("bigint").alias("si"),
        F.count("*").cast("bigint").alias("n"),
    )
    cen = sums.select(
        "g",
        "i",
        F.expr(
            f"CAST({floor_rhu('si', 'n')} AS BIGINT)"
        ).alias("cm"),
    ).transform(pin)
    d2 = (
        cells.join(
            F.broadcast(cen),
            (cells["label"] == cen["g"]) & (cells["i"] == cen["i"]),
        )
        .groupBy(F.col("label").alias("g"), "vec_id")
        .agg(
            F.sum((F.col("xu") - F.col("cm")) * (F.col("xu") - F.col("cm")))
            .cast("bigint")
            .alias("d2")
        )
    )
    scat = d2.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d2").cast("decimal(38,0)").alias("sd2"),
        F.expr(
            f"CAST({rhu('CAST(SUM(d2) AS DECIMAL(38,0))', 'COUNT(*)')} AS BIGINT)"
        ).alias("s2"),
    ).transform(pin)
    return cells, cen, scat


# ---------- q574: Davies-Bouldin index (squared-distance variant)

# Cluster-separation audit over the label clustering: R_ij =
# (s_i^2 + s_j^2)/d_ij^2 with mean SQUARED scatters and squared
# centroid gaps (declared variant — the textbook sqrt re-opens FP
# divergence, the s^2 form is the same ordering), DB = mean_i max_j
# R_ij, every step an exact integer rational in rhu micro.
_DB_ORACLE = _CENT_CTE + """
, cd AS (
    SELECT a.g AS gi, b.g AS gj,
           CAST(SUM((a.cm - b.cm) * (a.cm - b.cm)) AS BIGINT) AS dc2
    FROM cen a JOIN cen b ON a.i = b.i AND a.g <> b.g
    GROUP BY a.g, b.g
), r AS (
    SELECT cd.gi,
           MAX(CAST((2 * 1000000 * (CAST(si.s2 AS HUGEINT) + sj.s2) + cd.dc2)
                    // (2 * cd.dc2) AS BIGINT)) AS rmax
    FROM cd JOIN scat si ON si.g = cd.gi JOIN scat sj ON sj.g = cd.gj
    GROUP BY cd.gi
)
SELECT CAST(COUNT(*) AS BIGINT) AS k,
       CAST((2 * SUM(rmax) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS db_micro
FROM r
"""


@register("q574_davies_bouldin", oracle=_DB_ORACLE)
def q574(embeddings):
    """Squared-scatter DB index, exact integer rationals (oracle
    comment)."""
    _, cen, scat = _centroid_frames(embeddings)
    a = cen.select(F.col("g").alias("gi"), "i", F.col("cm").alias("ca"))
    b = cen.select(F.col("g").alias("gj"), F.col("i").alias("ib"), F.col("cm").alias("cb"))
    cd = (
        a.join(b, (F.col("i") == F.col("ib")) & (F.col("gi") != F.col("gj")))
        .groupBy("gi", "gj")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("bigint")
            .alias("dc2")
        )
    )
    si = scat.select(F.col("g").alias("gi"), F.col("s2").alias("s2i"))
    sj = scat.select(F.col("g").alias("gj"), F.col("s2").alias("s2j"))
    r = (
        cd.join(F.broadcast(si), "gi")
        .join(F.broadcast(sj), "gj")
        .groupBy("gi")
        .agg(
            F.max(
                F.expr(
                    f"CAST({rhu('1000000 * (CAST(s2i AS DECIMAL(38,0)) + s2j)', 'dc2')}"
                    " AS BIGINT)"
                )
            ).alias("rmax")
        )
    )
    return r.agg(
        F.count("*").cast("bigint").alias("k"),
        F.expr(
            f"CAST({rhu('SUM(rmax)', 'COUNT(*)')} AS BIGINT)"
        ).alias("db_micro"),
    )


# ---------- q575: Calinski-Harabasz index

# Between/within variance-ratio over the same quantized frames:
# B = sum_g n_g * ||cm_g - cm_all||^2 (cm_all = milli global centroid),
# W = sum_g sum d^2; CH = (B/(k-1)) / (W/(N-k)) in rhu micro.
_CH_ORACLE = _CENT_CTE + """
, gcen AS MATERIALIZED (
    SELECT i, (((2 * (SUM(si)) + (SUM(n)))) - ((((2 * (SUM(si)) + (SUM(n)))) % ((2 * (SUM(n))))) + ((2 * (SUM(n))))) % ((2 * (SUM(n))))) // ((2 * (SUM(n)))) AS gm
    FROM sums GROUP BY i
), bsum AS (
    SELECT CAST(SUM(sc.n * bd.b2) AS HUGEINT) AS b
    FROM (
        SELECT cen.g, CAST(SUM((cen.cm - gcen.gm) * (cen.cm - gcen.gm))
                           AS BIGINT) AS b2
        FROM cen JOIN gcen ON gcen.i = cen.i GROUP BY cen.g
    ) bd JOIN scat sc ON sc.g = bd.g
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(sd2) AS HUGEINT) AS w
    FROM scat
)
SELECT tot.nt, tot.k,
       CAST((2 * 1000000 * bsum.b * (tot.nt - tot.k)
             + tot.w * (tot.k - 1))
            // (2 * tot.w * (tot.k - 1)) AS BIGINT) AS ch_micro
FROM bsum, tot
"""


@register("q575_calinski_harabasz", oracle=_CH_ORACLE)
def q575(embeddings):
    """Integer-exact CH variance ratio (oracle comment)."""
    cells, cen, scat = _centroid_frames(embeddings)
    sums = cells.groupBy("i").agg(
        F.sum("xu").cast("bigint").alias("sall"),
        F.count("*").cast("bigint").alias("nall"),
    )
    glob = sums.select(
        "i",
        F.expr(
            f"CAST({floor_rhu('sall', 'nall')} AS BIGINT)"
        ).alias("gm"),
    )
    bd = (
        cen.join(F.broadcast(glob), "i")
        .groupBy("g")
        .agg(
            F.sum((F.col("cm") - F.col("gm")) * (F.col("cm") - F.col("gm")))
            .cast("bigint")
            .alias("b2")
        )
    )
    bsum = bd.join(scat, "g").agg(
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("b2")).alias("b")
    )
    tot = scat.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("sd2").alias("w"),
    )
    return bsum.crossJoin(F.broadcast(tot)).select(
        "nt",
        "k",
        F.expr(
            f"CAST({rhu('1000000 * b * (nt - k)', 'w * (k - 1)')} AS BIGINT)"
        ).alias("ch_micro"),
    )


# ---------- q576: LOF-lite outlier scores (exact kNN ratio)

# Density-ratio outlier score without the full LOF recursion:
# score(p) = kdist(p) / mean kdist of p's k nearest neighbors (k = 10),
# squared distances on milli-quantized vectors so every distance, rank
# and ratio is exact integer arithmetic. Spark runs the distributed
# block-matmul kernel (operators/similarity, sqeuclid_milli metric —
# bounded per-task memory, no O(dataset) state); the all-pairs SQL twin
# is the declared exact oracle. At fleet scale the q286/q52
# coarse-quantizer buckets replace the exact baseline.
_LOF_ORACLE = """
WITH q AS MATERIALIZED (
    SELECT vec_id,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0)
                                    AS BIGINT)) AS qv
    FROM embeddings
), pd AS MATERIALIZED (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
                AS BIGINT) AS du
    FROM q a JOIN q b ON a.vec_id <> b.vec_id
), rk AS MATERIALIZED (
    SELECT va, vb, du,
           ROW_NUMBER() OVER (PARTITION BY va ORDER BY du, vb) AS r
    FROM pd
), kd AS MATERIALIZED (
    SELECT va, du AS kdist FROM rk WHERE r = 10
), nb AS MATERIALIZED (
    SELECT rk.va, CAST(SUM(kq.kdist) AS BIGINT) AS skd
    FROM rk JOIN kd kq ON kq.va = rk.vb
    WHERE rk.r <= 10 GROUP BY rk.va
)
SELECT kd.va AS vec_id, kd.kdist,
       CAST((2 * 1000000 * 10 * kd.kdist + nb.skd) // (2 * nb.skd)
            AS BIGINT) AS lof_micro
FROM kd JOIN nb ON nb.va = kd.va
ORDER BY lof_micro DESC, vec_id LIMIT 20
"""


@register("q576_lof_outliers", oracle=_LOF_ORACLE)
def q576(embeddings):
    """kdist-ratio LOF-lite via the distributed block-matmul kernel
    (oracle comment). The kernel's sqeuclid_milli metric reproduces the
    SQL twin's exact int64 distances and its (du ASC, vb ASC) rank
    order bit-for-bit; the row-at-a-time zip_with pair join it replaced
    spent 58s at sf0.1 on the same 2000x2000 grid (bench r9, first
    run)."""
    from ..operators.similarity import knn_block_topk

    rk = (
        knn_block_topk(embeddings, k=10, metric="sqeuclid_milli")
        .select(
            F.col("anchor").alias("va"),
            F.col("neighbor").alias("vb"),
            F.col("sim").cast("bigint").alias("du"),
        )
        # n*k rows; referenced by kd AND nb (which re-joins kd) — without
        # this the block-matmul kernel subtree executes THREE times
        .transform(pin)
    )
    kd = rk.groupBy("va").agg(F.max("du").alias("kdist"))
    kq = kd.select(F.col("va").alias("vb"), F.col("kdist").alias("kdq"))
    nb = (
        rk.join(kq, "vb")
        .groupBy("va")
        .agg(F.sum("kdq").cast("bigint").alias("skd"))
    )
    return (
        kd.join(nb, "va")
        .select(
            F.col("va").alias("vec_id"),
            "kdist",
            F.expr(
                f"CAST({rhu('1000000 * 10 * kdist', 'skd')} AS BIGINT)"
            ).alias("lof_micro"),
        )
        .orderBy(F.col("lof_micro").desc(), "vec_id")
        .limit(20)
    )


# ---------- q577: Nelson-Aalen cumulative hazard

# The q450 survival construction (first event -> first purchase, right-
# censored at observation end), but the ESTIMATOR needs no recursion:
# H(t) = sum_{t_i <= t} d_i/n_i is a plain cumulative window over
# per-time rhu micro terms — cheaper than the KM product at any scale
# (one window vs a sequential recursion) and the standard hazard-space
# view of the same data.
_NA_ORACLE = """
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
), cnt AS MATERIALIZED (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n_all, CAST(SUM(ev) AS BIGINT) AS n_ev
    FROM dur GROUP BY d
), risk AS (
    SELECT d, n_ev AS d_t,
           CAST(SUM(n_all) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_t
    FROM cnt
), haz AS (
    SELECT d, d_t, n_t,
           CAST((2 * 1000000 * d_t + n_t) // (2 * n_t) AS BIGINT) AS h_u
    FROM risk WHERE d_t > 0
)
SELECT CAST(d AS BIGINT) AS t, n_t, d_t,
       CAST(SUM(h_u) OVER (ORDER BY d) AS BIGINT) AS cumhaz_micro
FROM haz ORDER BY t
"""


@register("q577_nelson_aalen", oracle=_NA_ORACLE)
def q577(events):
    """Window-cumulative hazard over per-time micro terms (oracle
    comment)."""
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
    wdesc = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = cnt.select(
        "d",
        F.col("n_ev").alias("d_t"),
        F.sum("n_all").over(wdesc).cast("bigint").alias("n_t"),
    )
    haz = risk.filter(F.col("d_t") > 0).select(
        "d",
        "d_t",
        "n_t",
        F.expr(f"CAST({rhu('1000000 * d_t', 'n_t')} AS BIGINT)").alias(
            "h_u"
        ),
    )
    return haz.select(
        F.col("d").cast("bigint").alias("t"),
        "n_t",
        "d_t",
        F.sum("h_u").over(Window.orderBy("d")).cast("bigint").alias("cumhaz_micro"),
    ).orderBy("t")


# ---------- q578: log-rank test between user cohorts

# Do even- and odd-id users purchase at the same hazard? Standard
# log-rank over the q450 durations with cohort = user_id % 2: at each
# event time, O-E and hypergeometric V per-term rhu micro, then
# chi^2 = (sum(d1*1e6 - E_u))^2 / (1e6 * sum V_u) — the q553 scale
# cancellation.
_LOGRANK_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events
), ends AS (
    SELECT MAX(day) AS obs_end FROM e
), u AS (
    SELECT user_id, user_id % 2 AS grp, MIN(day) AS t0,
           MIN(CASE WHEN event_type = 'purchase' THEN day END) AS tp
    FROM e GROUP BY user_id
), dur AS (
    SELECT grp,
           CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE obs_end - t0 END AS d,
           CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
    FROM u, ends
), cnt AS MATERIALIZED (
    SELECT d, grp, CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(SUM(ev) AS BIGINT) AS n_ev
    FROM dur GROUP BY d, grp
), dense AS MATERIALIZED (
    SELECT t.d, g.grp, COALESCE(c.n_all, 0) AS n_all, COALESCE(c.n_ev, 0) AS n_ev
    FROM (SELECT DISTINCT d FROM cnt) t
    CROSS JOIN (SELECT DISTINCT grp FROM cnt) g
    LEFT JOIN cnt c ON c.d = t.d AND c.grp = g.grp
), risk AS MATERIALIZED (
    SELECT d, grp, n_ev,
           CAST(SUM(n_all) OVER (PARTITION BY grp ORDER BY d DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_r
    FROM dense
), tab AS MATERIALIZED (
    SELECT d,
           CAST(SUM(CASE WHEN grp = 0 THEN n_ev ELSE 0 END) AS BIGINT) AS d1,
           CAST(SUM(n_ev) AS BIGINT) AS dt,
           CAST(SUM(CASE WHEN grp = 0 THEN n_r ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(n_r) AS BIGINT) AS nt
    FROM risk GROUP BY d HAVING SUM(n_ev) > 0
), terms AS (
    SELECT d1,
           CAST((2 * 1000000 * dt * n1 + nt) // (2 * nt) AS BIGINT) AS e_u,
           CAST(CASE WHEN nt > 1 THEN
                (2 * 1000000 * CAST(dt AS HUGEINT) * n1 * (nt - n1) * (nt - dt)
                 + CAST(nt AS HUGEINT) * nt * (nt - 1))
                // (2 * CAST(nt AS HUGEINT) * nt * (nt - 1))
                ELSE 0 END AS BIGINT) AS v_u
    FROM tab
), tot AS (
    SELECT CAST(SUM(d1 * 1000000 - e_u) AS HUGEINT) AS dev,
           CAST(SUM(v_u) AS HUGEINT) AS sv
    FROM terms
)
SELECT CAST((2 * 1000000 * dev * dev + 1000000 * sv)
            // (2 * 1000000 * sv) AS BIGINT) AS logrank_chi2_micro
FROM tot
"""


@register("q578_logrank_test", oracle=_LOGRANK_ORACLE)
def q578(events):
    """Two-cohort log-rank chi^2, per-time micro terms (oracle
    comment)."""
    e = events.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    )
    ends = e.agg(F.max("day").alias("obs_end"))
    u = e.groupBy("user_id").agg(
        F.min("day").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("tp"),
    ).select((F.col("user_id") % 2).alias("grp"), "t0", "tp")
    dur = u.crossJoin(F.broadcast(ends)).select(
        "grp",
        F.when(F.col("tp").isNotNull(), F.datediff("tp", "t0"))
        .otherwise(F.datediff("obs_end", "t0"))
        .alias("d"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    # pinned: cnt feeds the day spine, the group spine AND the dense
    # left-join — unpinned, the per-user survival aggregate runs three
    # times (guide §2.4; before-plan: 12 Exchanges)
    cnt = (
        dur.groupBy("d", "grp")
        .agg(
            F.count("*").cast("bigint").alias("n_all"),
            F.sum("ev").cast("bigint").alias("n_ev"),
        )
        .transform(pin)
    )
    dense = (
        cnt.select("d")
        .distinct()
        .crossJoin(F.broadcast(cnt.select("grp").distinct()))
        .join(cnt, ["d", "grp"], "left")
        .select(
            "d",
            "grp",
            F.coalesce("n_all", F.lit(0)).alias("n_all"),
            F.coalesce("n_ev", F.lit(0)).alias("n_ev"),
        )
    )
    wdesc = Window.partitionBy("grp").orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = dense.select(
        "d", "grp", "n_ev", F.sum("n_all").over(wdesc).cast("bigint").alias("n_r")
    )
    tab = (
        risk.groupBy("d")
        .agg(
            F.sum(F.when(F.col("grp") == 0, F.col("n_ev")).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.sum("n_ev").cast("bigint").alias("dt"),
            F.sum(F.when(F.col("grp") == 0, F.col("n_r")).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum("n_r").cast("bigint").alias("nt"),
        )
        .filter(F.col("dt") > 0)
    )
    terms = tab.select(
        "d1",
        F.expr(
            f"CAST({rhu('1000000 * dt * n1', 'nt')} AS BIGINT)"
        ).alias("e_u"),
        F.expr(
            "CAST(CASE WHEN nt > 1 THEN " + rhu(
                "1000000 * CAST(dt AS DECIMAL(38,0)) * n1 * (nt - n1) * (nt - dt)",
                "CAST(nt AS DECIMAL(38,0)) * nt * (nt - 1)",
            ) + " ELSE 0 END AS BIGINT)"
        ).alias("v_u"),
    )
    tot = terms.agg(
        F.sum(F.col("d1") * 1000000 - F.col("e_u"))
        .cast("decimal(38,0)")
        .alias("dev"),
        F.sum("v_u").cast("decimal(38,0)").alias("sv"),
    )
    return tot.select(
        F.expr(
            f"CAST({rhu('1000000 * dev * dev', '1000000 * sv')} AS BIGINT)"
        ).alias("logrank_chi2_micro")
    )


# ---------- q579: Horvitz-Thompson unequal-probability estimate

# Estimate total order revenue from a deterministic stratified sample
# with UNEQUAL inclusion probabilities: priority rank r gets
# pi_r = r/10 (1-URGENT sampled at 10%, 5-LOW at 50%); membership is
# the md5 anchor mod 10 < r. HT weights each sampled order by 1/pi:
# total_hat = sum y_i * 10/r — exact integer. Report the estimate, the
# truth, and the signed relative error in rhu micro.
_HT_ORACLE = """
WITH o AS MATERIALIZED (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS r
    FROM orders
), s AS (
    SELECT c, r FROM o
    WHERE ('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
          % 10 < r
), est AS MATERIALIZED (
    SELECT CAST(SUM(c * 10 // r) AS BIGINT) AS ht_cents,
           CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM s
), truth AS MATERIALIZED (
    SELECT CAST(SUM(c) AS BIGINT) AS true_cents, CAST(COUNT(*) AS BIGINT) AS n
    FROM o
)
SELECT est.n_sampled, truth.n, est.ht_cents, truth.true_cents,
       CAST((((2 * (1000000 * (CAST(est.ht_cents AS HUGEINT) - truth.true_cents)) + (truth.true_cents))) - ((((2 * (1000000 * (CAST(est.ht_cents AS HUGEINT) - truth.true_cents)) + (truth.true_cents))) % ((2 * (truth.true_cents)))) + ((2 * (truth.true_cents)))) % ((2 * (truth.true_cents)))) // ((2 * (truth.true_cents))) AS BIGINT) AS rel_err_micro
FROM est, truth
"""


@register("q579_horvitz_thompson", oracle=_HT_ORACLE)
def q579(orders):
    """HT estimator over an md5 unequal-probability sample (oracle
    comment)."""
    o = orders.select(
        "o_orderkey",
        cents("o_totalprice").alias("c"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("r"),
    )
    s = o.filter(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        < F.col("r")
    )
    est = s.agg(
        F.sum(F.expr("c * 10 DIV r")).cast("bigint").alias("ht_cents"),
        F.count("*").cast("bigint").alias("n_sampled"),
    )
    truth = o.agg(
        F.sum("c").cast("bigint").alias("true_cents"),
        F.count("*").cast("bigint").alias("n"),
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "n_sampled",
        "n",
        "ht_cents",
        "true_cents",
        F.expr(
            "CAST(" + floor_rhu(
                "1000000 * (CAST(ht_cents AS DECIMAL(38,0)) - true_cents)", "true_cents"
            ) + " AS BIGINT)"
        ).alias("rel_err_micro"),
    )


# ---------- q580: Fleiss' kappa (3 raters per order)

# Multi-rater agreement beyond q345's two-rater Cohen form: orders with
# >= 3 lineitems are "rated" by their first three lines' return flags
# (unique (l_linenumber, l_quantity, cents) tiebreak — synthetic
# lineitem duplicates even the (orderkey, linenumber) pair). With
# n = 3 raters, P_i = (sum n_ij^2 - 3)/6 is exact in sixths; kappa =
# (P - Pe)/(1 - Pe) is a ratio of exact integer aggregates, rhu micro.
_FLEISS_ORACLE = """
WITH ranked AS (
    SELECT l_orderkey AS ok, l_returnflag AS cat,
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity,
                        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT), l_returnflag) AS rk
    FROM lineitem
), r3 AS MATERIALIZED (
    SELECT ok, cat FROM ranked WHERE rk <= 3
), full3 AS MATERIALIZED (
    SELECT ok FROM r3 GROUP BY ok HAVING COUNT(*) = 3
), cellc AS MATERIALIZED (
    SELECT r3.ok, r3.cat, CAST(COUNT(*) AS BIGINT) AS nij
    FROM r3 JOIN full3 ON full3.ok = r3.ok
    GROUP BY r3.ok, r3.cat
), peri AS (
    SELECT ok, CAST(SUM(nij * nij) AS BIGINT) AS s2 FROM cellc GROUP BY ok
), pbar AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n_items,
           CAST(SUM(s2) AS HUGEINT) AS ss2
    FROM peri
), pe AS MATERIALIZED (
    SELECT CAST(SUM(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS sum_cj2,
           CAST(SUM(cj) AS HUGEINT) AS tot
    FROM (SELECT cat, CAST(SUM(nij) AS BIGINT) AS cj FROM cellc GROUP BY cat)
)
SELECT CAST(pbar.n_items AS BIGINT) AS n_items,
       CAST((((2 * (1000000 * (pe.tot * pe.tot * (pbar.ss2 - 3 * pbar.n_items) - 6 * pbar.n_items * pe.sum_cj2)) + (6 * pbar.n_items * (pe.tot * pe.tot - pe.sum_cj2)))) - ((((2 * (1000000 * (pe.tot * pe.tot * (pbar.ss2 - 3 * pbar.n_items) - 6 * pbar.n_items * pe.sum_cj2)) + (6 * pbar.n_items * (pe.tot * pe.tot - pe.sum_cj2)))) % ((2 * (6 * pbar.n_items * (pe.tot * pe.tot - pe.sum_cj2))))) + ((2 * (6 * pbar.n_items * (pe.tot * pe.tot - pe.sum_cj2))))) % ((2 * (6 * pbar.n_items * (pe.tot * pe.tot - pe.sum_cj2))))) // ((2 * (6 * pbar.n_items * (pe.tot * pe.tot - pe.sum_cj2)))) AS BIGINT) AS fleiss_kappa_micro
FROM pbar, pe
"""


@register("q580_fleiss_kappa", oracle=_FLEISS_ORACLE)
def q580(lineitem):
    """Exact-rational Fleiss kappa over 3-line rating grids (oracle
    comment). Derivation: P = (ss2 - 3N)/(6N), Pe = sum_j (cj/(3N))^2,
    kappa = (P - Pe)/(1 - Pe) cleared over the common denominator
    6N*(3N)^2 — tot = 3N, so kappa = (tot^2*(ss2-3N) - 6N*sum cj^2)
    / (6N*(tot^2 - sum cj^2))."""
    # the full3 "has >= 3 lines" gate is a whole-partition COUNT on the
    # SAME l_orderkey partitioning the rank window already pays for
    # (row_number assigns 1..n, so count(rk<=3 rows)=3 <=> n>=3): the
    # former groupBy + self-join added an exchange and re-ran the
    # window subtree (guide §2.4)
    wo = Window.partitionBy("l_orderkey")
    ranked = lineitem.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_returnflag").alias("cat"),
        F.row_number()
        .over(
            wo.orderBy(
                "l_linenumber",
                "l_quantity",
                cents("l_extendedprice"),
                "l_returnflag",
            )
        )
        .alias("rk"),
        F.count("*").over(wo).alias("nl"),
    )
    # pinned: cellc feeds BOTH the per-item (pbar) and per-category
    # (pe) aggregates — without the checkpoint the window subtree runs
    # twice
    cellc = (
        ranked.filter((F.col("rk") <= 3) & (F.col("nl") >= 3))
        .groupBy("ok", "cat")
        .agg(F.count("*").cast("bigint").alias("nij"))
        .transform(pin)
    )
    pbar = cellc.groupBy("ok").agg(
        F.sum(F.col("nij") * F.col("nij")).cast("bigint").alias("s2")
    ).agg(
        F.count("*").cast("decimal(38,0)").alias("n_items"),
        F.sum("s2").cast("decimal(38,0)").alias("ss2"),
    )
    pe = (
        cellc.groupBy("cat")
        .agg(F.sum("nij").cast("bigint").alias("cj"))
        .agg(
            F.sum(F.col("cj").cast("decimal(38,0)") * F.col("cj")).alias(
                "sum_cj2"
            ),
            F.sum("cj").cast("decimal(38,0)").alias("tot"),
        )
    )
    return pbar.crossJoin(F.broadcast(pe)).select(
        F.col("n_items").cast("bigint").alias("n_items"),
        F.expr(
            "CAST(" + floor_rhu(
                "1000000 * (tot * tot * (ss2 - 3 * n_items) - 6 * n_items * sum_cj2)",
                "(6 * n_items * (tot * tot - sum_cj2))",
            ) + " AS BIGINT)"
        ).alias("fleiss_kappa_micro"),
    )


# ---------- q581: Somers' D (discount -> quantity, asymmetric)

# Directional ordinal association D_yx = (C - D)/(C + D + Ty): does a
# deeper discount push quantities up? All concordance counts collapse
# onto the tiny (discount-percent x quantity) joint histogram
# (~550 cells), so the O(n^2) pair sum is a 550^2 cell join of exact
# integer products. Signed rhu micro via the floor fragment.
_SOMERS_ORACLE = f"""
WITH cells_ AS MATERIALIZED (
    SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x,
           CAST(ROUND(l_quantity, 0) AS BIGINT) AS y,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM lineitem GROUP BY 1, 2
), pairsum AS (
    SELECT
        CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                 THEN CAST(a.k AS HUGEINT) * b.k ELSE 0 END) AS HUGEINT) AS c,
        CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                 THEN CAST(a.k AS HUGEINT) * b.k ELSE 0 END) AS HUGEINT) AS d,
        CAST(SUM(CASE WHEN b.x > a.x AND b.y = a.y
                 THEN CAST(a.k AS HUGEINT) * b.k ELSE 0 END) AS HUGEINT) AS ty
    FROM cells_ a JOIN cells_ b ON NOT (a.x = b.x AND a.y = b.y)
)
SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       CAST(ty AS BIGINT) AS ties_y,
       CAST({floor_rhu_duck('1000000 * (c - d)', 'c + d + ty')} AS BIGINT)
           AS somers_d_micro
FROM pairsum
"""


@register("q581_somers_d", oracle=_SOMERS_ORACLE)
def q581(lineitem):
    """Histogram-collapsed Somers' D_yx (oracle comment)."""
    cells = lineitem.groupBy(
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x"),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("k"))
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("k").alias("ka")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("k").alias("kb")
    )
    prod = F.col("ka").cast("decimal(38,0)") * F.col("kb")
    pairsum = (
        a.join(b, ~((F.col("xa") == F.col("xb")) & (F.col("ya") == F.col("yb"))))
        .agg(
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")), prod
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("c"),
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")), prod
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("d"),
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") == F.col("ya")), prod
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("ty"),
        )
    )
    return pairsum.select(
        F.col("c").cast("bigint").alias("concordant"),
        F.col("d").cast("bigint").alias("discordant"),
        F.col("ty").cast("bigint").alias("ties_y"),
        F.expr(
            f"CAST({floor_rhu('(1000000 * (c - d))', '(c + d + ty)')} AS BIGINT)"
        ).alias("somers_d_micro"),
    )


# ---------- q582: pinball-loss backtest of per-weekday quantiles

# Quantile forecasts evaluated the way they are trained: q10/q50/q90 of
# daily revenue PER WEEKDAY from the first calendar half (exact
# ceil-rank order statistics over the unique (cents, day) order), then
# the 10x-cleared pinball loss on the second half — tau*(y-q) vs
# (tau-1)*(y-q) stays exact integer cents at x10 scale.
_PINBALL_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT day, cents,
           (CAST(day AS DATE) - DATE '1995-01-01') % 7 AS dow,
           CASE WHEN CAST(day AS DATE)
                     - (SELECT CAST(MIN(day) AS DATE) FROM daily)
                     < ((SELECT CAST(MAX(day) AS DATE) FROM daily)
                        - (SELECT CAST(MIN(day) AS DATE) FROM daily)) // 2
                THEN 0 ELSE 1 END AS half
    FROM daily
), train AS MATERIALIZED (
    SELECT dow, cents,
           ROW_NUMBER() OVER (PARTITION BY dow ORDER BY cents, day) AS r,
           COUNT(*) OVER (PARTITION BY dow) AS n
    FROM idx WHERE half = 0
), qs AS MATERIALIZED (
    SELECT dow,
           MIN(CASE WHEN r = (n + 9) // 10 THEN cents END) AS q10,
           MIN(CASE WHEN r = (n + 1) // 2 THEN cents END) AS q50,
           MIN(CASE WHEN r = (9 * n + 9) // 10 THEN cents END) AS q90
    FROM train GROUP BY dow
), loss AS (
    SELECT
        CAST(SUM(GREATEST(1 * (t.cents - q.q10), 9 * (q.q10 - t.cents)))
             AS BIGINT) AS l10_x10,
        CAST(SUM(GREATEST(5 * (t.cents - q.q50), 5 * (q.q50 - t.cents)))
             AS BIGINT) AS l50_x10,
        CAST(SUM(GREATEST(9 * (t.cents - q.q90), 1 * (q.q90 - t.cents)))
             AS BIGINT) AS l90_x10,
        CAST(COUNT(*) AS BIGINT) AS n_test
    FROM idx t JOIN qs q ON q.dow = t.dow
    WHERE t.half = 1
)
SELECT n_test, l10_x10, l50_x10, l90_x10 FROM loss
"""


@register("q582_pinball_loss", oracle=_PINBALL_ORACLE)
def q582(orders):
    """10x-cleared integer pinball losses per quantile (oracle
    comment)."""
    daily = _daily_cents(orders)
    bounds = daily.agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    idx = daily.crossJoin(F.broadcast(bounds)).select(
        "day",
        "cents",
        (F.datediff(F.col("day"), F.lit("1995-01-01")) % 7).alias("dow"),
        F.when(
            F.datediff(F.col("day"), F.col("mn"))
            < F.expr("DATEDIFF(mx, mn) DIV 2"),
            0,
        )
        .otherwise(1)
        .alias("half"),
    )
    wd = Window.partitionBy("dow").orderBy("cents", "day")
    wn = Window.partitionBy("dow")
    train = idx.filter(F.col("half") == 0).select(
        "dow",
        "cents",
        F.row_number().over(wd).alias("r"),
        F.count("*").over(wn).alias("n"),
    )
    qs = train.groupBy("dow").agg(
        F.min(
            F.when(F.col("r") == F.expr("(n + 9) DIV 10"), F.col("cents"))
        ).alias("q10"),
        F.min(
            F.when(F.col("r") == F.expr("(n + 1) DIV 2"), F.col("cents"))
        ).alias("q50"),
        F.min(
            F.when(F.col("r") == F.expr("(9 * n + 9) DIV 10"), F.col("cents"))
        ).alias("q90"),
    )
    return (
        idx.filter(F.col("half") == 1)
        .join(F.broadcast(qs), "dow")
        .agg(
            F.sum(
                F.greatest(
                    1 * (F.col("cents") - F.col("q10")),
                    9 * (F.col("q10") - F.col("cents")),
                )
            )
            .cast("bigint")
            .alias("l10_x10"),
            F.sum(
                F.greatest(
                    5 * (F.col("cents") - F.col("q50")),
                    5 * (F.col("q50") - F.col("cents")),
                )
            )
            .cast("bigint")
            .alias("l50_x10"),
            F.sum(
                F.greatest(
                    9 * (F.col("cents") - F.col("q90")),
                    1 * (F.col("q90") - F.col("cents")),
                )
            )
            .cast("bigint")
            .alias("l90_x10"),
            F.count("*").cast("bigint").alias("n_test"),
        )
        .select("n_test", "l10_x10", "l50_x10", "l90_x10")
    )


# ---------- q583: Hosmer-Lemeshow calibration deciles

# Grouped-calibration test for the q552 segment-x-priority rates:
# milli-quantized train rates score the test half, NTILE(10) deciles
# over the unique (p, orderkey) order, and per-decile
# (O - E)^2 * n / (E * (n - E)) cleared to exact integers at the milli
# scale. The statistic is the exact integer micro sum.
_HL_ORACLE = """
WITH base AS MATERIALIZED (
    SELECT o_orderkey, o_orderdate, c_mktsegment AS seg,
           o_orderpriority AS pri,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
    FROM orders JOIN customer ON c_custkey = o_custkey
), p AS MATERIALIZED (
    SELECT seg, pri,
           CAST((2 * 1000 * SUM(o) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS pm
    FROM base WHERE o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY seg, pri
), test AS MATERIALIZED (
    SELECT b.o, p.pm,
           NTILE(10) OVER (ORDER BY p.pm, b.o_orderkey) AS dec
    FROM base b JOIN p ON p.seg = b.seg AND p.pri = b.pri
    WHERE b.o_orderdate >= TIMESTAMP '1998-01-01'
), per AS (
    SELECT dec, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o) AS BIGINT) AS obs,
           CAST(SUM(pm) AS BIGINT) AS em
    FROM test GROUP BY dec
), terms AS (
    SELECT dec,
           CAST((2 * 1000000 * CAST(obs * 1000 - em AS HUGEINT)
                 * (obs * 1000 - em) * n
                 + CAST(em AS HUGEINT) * (n * 1000 - em))
                // (2 * CAST(em AS HUGEINT) * (n * 1000 - em)) AS BIGINT)
               AS t_u
    FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(t_u) AS BIGINT) AS hl_chi2_micro
FROM terms
"""


@register("q583_hosmer_lemeshow", oracle=_HL_ORACLE)
def q583(orders, customer):
    """Integer HL chi^2 over NTILE deciles of milli rates (oracle
    comment)."""
    base = orders.join(
        F.broadcast(customer),
        customer["c_custkey"] == orders["o_custkey"],
    ).select(
        "o_orderkey",
        "o_orderdate",
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("o"),
    )
    p = (
        base.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .groupBy("seg", "pri")
        .agg(
            F.expr(
                f"CAST({rhu('1000 * SUM(o)', 'COUNT(*)')} AS BIGINT)"
            ).alias("pm")
        )
    )
    test = (
        base.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .join(F.broadcast(p), ["seg", "pri"])
        .select(
            "o",
            "pm",
            F.ntile(10).over(Window.orderBy("pm", "o_orderkey")).alias("dec"),
        )
    )
    per = test.groupBy("dec").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("o").cast("bigint").alias("obs"),
        F.sum("pm").cast("bigint").alias("em"),
    )
    terms = per.select(
        F.expr(
            "CAST(" + rhu(
                "1000000 * CAST(obs * 1000 - em AS DECIMAL(38,0)) * (obs * 1000 - em)"
                " * n",
                "CAST(em AS DECIMAL(38,0)) * (n * 1000 - em)",
            ) + " AS BIGINT)"
        ).alias("t_u")
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("t_u").cast("bigint").alias("hl_chi2_micro"),
    )


# ---------- q584: price elasticity by brand (log-log OLS)

# Cross-sectional demand curve: per brand, regress ln(total quantity
# sold per part) on ln(retail price). Both logs are per-part micro
# integers, so the per-brand slope is an exact rational; the signed
# elasticity lands via the floor rhu fragment.
_ELAST_ORACLE = f"""
WITH pp AS MATERIALIZED (
    SELECT p.p_brand AS brand,
           CAST(ROUND(LN(p.p_retailprice) * 1000000, 0) AS BIGINT) AS lx,
           CAST(ROUND(LN(CAST(SUM(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) AS DOUBLE)) * 1000000, 0)
                AS BIGINT) AS ly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand, p.p_partkey, p.p_retailprice
), m AS (
    SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
           CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy
    FROM pp GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_parts,
       CAST({floor_rhu_duck('1000000 * (n * sxy - sx * sy)', 'n * sxx - sx * sx')}
            AS BIGINT) AS elasticity_micro
FROM m ORDER BY brand
"""


@register("q584_price_elasticity", oracle=_ELAST_ORACLE)
def q584(lineitem, part):
    """Per-brand log-log OLS elasticity, exact integer moments (oracle
    comment)."""
    pp = (
        lineitem
        .join(F.broadcast(part), part["p_partkey"] == lineitem["l_partkey"])
        .groupBy("p_brand", "p_partkey", "p_retailprice")
        .agg(F.sum(F.round("l_quantity", 0).cast("bigint")).alias("sq"))
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CAST(ROUND(LN(p_retailprice) * 1000000, 0) AS BIGINT)"
            ).alias("lx"),
            F.expr(
                "CAST(ROUND(LN(CAST(sq AS DOUBLE)) * 1000000, 0) AS BIGINT)"
            ).alias("ly"),
        )
    )
    m = pp.groupBy("brand").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("lx").cast("decimal(38,0)").alias("sx"),
        F.sum("ly").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("ly")).alias("sxy"),
    )
    return m.select(
        "brand",
        F.col("n").cast("bigint").alias("n_parts"),
        F.expr(
            "CAST("
            + floor_rhu("(1000000 * (n * sxy - sx * sy))", "(n * sxx - sx * sx)")
            + " AS BIGINT)"
        ).alias("elasticity_micro"),
    ).orderBy("brand")


# ---------- q585: Page's trend test (ordered treatments in blocks)

# Ordered alternative inside randomized blocks: blocks = the 7 epoch
# weekdays of the event stream, ordered treatments = the four six-hour
# slots of the day. Rank slots WITHIN each block by the rhu-micro mean
# event value (slot index tiebreak — declared), then Page's
# L = sum_j j * R_j with the exact normal-approximation z^2 =
# 144*(3L - b*k*(k+1)^2*3/4... cleared form below), all integer.
_PAGE_ORACLE = """
WITH slots AS (
    SELECT (CAST(CAST(ts AS DATE) AS DATE) - DATE '2024-01-01') % 7 AS blk,
           EXTRACT(HOUR FROM ts) // 6 AS slot,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
), cellm AS MATERIALIZED (
    SELECT blk, slot,
           CAST((2 * 1000000 * SUM(c) + COUNT(*)) // (2 * COUNT(*))
                AS BIGINT) AS mean_u
    FROM slots GROUP BY blk, slot
), ranked AS (
    SELECT blk, slot,
           ROW_NUMBER() OVER (PARTITION BY blk ORDER BY mean_u, slot) AS rk
    FROM cellm
), l AS (
    SELECT CAST(SUM((slot + 1) * rk) AS BIGINT) AS page_l,
           CAST(COUNT(DISTINCT blk) AS BIGINT) AS b
    FROM ranked
)
SELECT page_l, b,
       CAST((2 * 1000000 * 144 * (page_l - b * 4 * 25 // 4)
                         * (page_l - b * 4 * 25 // 4)
             + b * 16 * 5 * 15) // (2 * b * 16 * 5 * 15) AS BIGINT)
           AS z2_micro
FROM l
"""


@register("q585_page_trend", oracle=_PAGE_ORACLE)
def q585(events):
    """Page's L over weekday blocks x 6h-slot treatments (oracle
    comment). k = 4: E[L] = b*k(k+1)^2/4 = 25b, Var = b*k^2(k+1)(k^2-1)
    / 144 = b*16*5*15/144 — the 144 is cleared into the numerator."""
    slots = events.select(
        (F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")) % 7).alias(
            "blk"
        ),
        F.expr("CAST(EXTRACT(HOUR FROM ts) AS BIGINT) DIV 6").alias("slot"),
        cents("value").alias("c"),
    )
    cellm = slots.groupBy("blk", "slot").agg(
        F.expr(
            f"CAST({rhu('1000000 * SUM(c)', 'COUNT(*)')} AS BIGINT)"
        ).alias("mean_u")
    )
    ranked = cellm.select(
        "blk",
        "slot",
        F.row_number()
        .over(Window.partitionBy("blk").orderBy("mean_u", "slot"))
        .alias("rk"),
    )
    l_ = ranked.agg(
        F.sum((F.col("slot") + 1) * F.col("rk")).cast("bigint").alias("page_l"),
        F.countDistinct("blk").cast("bigint").alias("b"),
    )
    return l_.select(
        "page_l",
        "b",
        F.expr(
            "CAST(" + rhu(
                "1000000 * 144 * (page_l - b * 4 * 25 DIV 4)"
                " * (page_l - b * 4 * 25 DIV 4)",
                "b * 16 * 5 * 15",
            ) + " AS BIGINT)"
        ).alias("z2_micro"),
    )


# ---------- q586: Hill tail-index estimator (order values)

# How heavy is the revenue tail? Hill with k = 100: mean ln(x_i / x_101)
# over the top-100 order statistics under the unique (cents DESC,
# orderkey) order — per-rank micro LN terms, exact integer mean, and
# alpha = 1/hill as the one final double.
_HILL_ORACLE = """
WITH topv AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           ROW_NUMBER() OVER (ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                             * 100 AS BIGINT) DESC,
                              o_orderkey) AS r
    FROM orders
    ORDER BY c DESC, o_orderkey LIMIT 101
), lns AS (
    SELECT r, CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lnu
    FROM topv
), agg AS (
    SELECT CAST(SUM(CASE WHEN r <= 100 THEN lnu ELSE 0 END) AS BIGINT) AS s100,
           CAST(SUM(CASE WHEN r = 101 THEN lnu ELSE 0 END) AS BIGINT) AS l101
    FROM lns
)
SELECT CAST((2 * (s100 - 100 * l101) + 100) // (2 * 100) AS BIGINT)
           AS hill_inv_micro,
       ROUND(100000000.0 / CAST(s100 - 100 * l101 AS DOUBLE), 6) AS alpha_r6
FROM agg
"""


@register("q586_hill_tail_index", oracle=_HILL_ORACLE)
def q586(orders):
    """Hill estimator over the top-101 order statistics (oracle
    comment)."""
    v = orders.select(
        cents("o_totalprice").alias("c"),
        "o_orderkey",
    )
    topv = (
        v.orderBy(F.col("c").desc(), "o_orderkey")
        .limit(101)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "o_orderkey"))
            .alias("r"),
        )
    )
    lns = topv.select(
        "r",
        F.expr(
            "CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)"
        ).alias("lnu"),
    )
    agg = lns.agg(
        F.sum(F.when(F.col("r") <= 100, F.col("lnu")).otherwise(0))
        .cast("bigint")
        .alias("s100"),
        F.sum(F.when(F.col("r") == 101, F.col("lnu")).otherwise(0))
        .cast("bigint")
        .alias("l101"),
    )
    return agg.select(
        F.expr(
            f"CAST({rhu('(s100 - 100 * l101)', '100')} AS BIGINT)"
        ).alias("hill_inv_micro"),
        F.expr(
            "ROUND(100000000.0 / CAST(s100 - 100 * l101 AS DOUBLE), 6)"
        ).alias("alpha_r6"),
    )


# ---------- q587: Markov entropy rate (one-step memory value)

# How much does knowing the previous event type compress the next one?
# Conditional entropy H(next|prev) = -sum f_ij * ln(c_ij/r_i) vs the
# marginal source entropy H(prev) — their gap is the information the
# one-step memory carries. Per-cell LN terms are micro-quantized
# (25 cells), weighted by exact counts, and the three reported numbers
# are final doubles over exact integers.
_ENTRATE_ORACLE = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
), tc AS MATERIALIZED (
    SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE nxt IS NOT NULL GROUP BY a, b
), rows_ AS MATERIALIZED (
    SELECT a, CAST(SUM(c) AS BIGINT) AS r FROM tc GROUP BY a
), tot AS MATERIALIZED (
    SELECT CAST(SUM(c) AS BIGINT) AS t FROM tc
), cond AS MATERIALIZED (
    SELECT CAST(SUM(tc.c * CAST(ROUND(LN(CAST(tc.c AS DOUBLE)
                                         / CAST(r.r AS DOUBLE)) * 1000000, 0)
                                AS BIGINT)) AS HUGEINT) AS num
    FROM tc JOIN rows_ r ON r.a = tc.a
), marg AS MATERIALIZED (
    SELECT CAST(SUM(r.r * CAST(ROUND(LN(CAST(r.r AS DOUBLE)
                                        / CAST(tot.t AS DOUBLE)) * 1000000, 0)
                               AS BIGINT)) AS HUGEINT) AS num
    FROM rows_ r, tot
)
SELECT (SELECT t FROM tot) AS n_transitions,
       ROUND(-CAST(cond.num AS DOUBLE)
             / CAST((SELECT t FROM tot) AS DOUBLE) / 1000000.0, 6)
           AS h_cond_r6,
       ROUND(-CAST(marg.num AS DOUBLE)
             / CAST((SELECT t FROM tot) AS DOUBLE) / 1000000.0, 6)
           AS h_marg_r6,
       ROUND((-CAST(marg.num AS DOUBLE)
              + CAST(cond.num AS DOUBLE))
             / CAST((SELECT t FROM tot) AS DOUBLE) / 1000000.0, 6)
           AS info_gain_r6
FROM cond, marg
"""


@register("q587_entropy_rate", oracle=_ENTRATE_ORACLE)
def q587(events):
    """Conditional vs marginal transition entropy (oracle comment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select("event_type", F.lead("event_type").over(w).alias("nxt"))
    # pinned: tc (|types|² rows) feeds rows_, tot AND the cond join —
    # unpinned, the per-user lead() window over events runs three times
    # (guide §2.4; before-plan: 16 Exchanges)
    tc = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(pin)
    )
    rows_ = tc.groupBy("a").agg(F.sum("c").cast("bigint").alias("r"))
    tot = tc.agg(F.sum("c").cast("bigint").alias("t"))
    cond = (
        tc.join(F.broadcast(rows_), "a")
        .agg(
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * F.expr(
                    "CAST(ROUND(LN(CAST(c AS DOUBLE) / CAST(r AS DOUBLE))"
                    " * 1000000, 0) AS BIGINT)"
                )
            ).alias("cnum")
        )
    )
    marg = (
        rows_.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("r").cast("decimal(38,0)")
                * F.expr(
                    "CAST(ROUND(LN(CAST(r AS DOUBLE) / CAST(t AS DOUBLE))"
                    " * 1000000, 0) AS BIGINT)"
                )
            ).alias("mnum")
        )
    )
    return (
        cond.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("n_transitions"),
            F.expr(
                "ROUND(-CAST(cnum AS DOUBLE) / CAST(t AS DOUBLE)"
                " / 1000000.0, 6)"
            ).alias("h_cond_r6"),
            F.expr(
                "ROUND(-CAST(mnum AS DOUBLE) / CAST(t AS DOUBLE)"
                " / 1000000.0, 6)"
            ).alias("h_marg_r6"),
            F.expr(
                "ROUND((-CAST(mnum AS DOUBLE) + CAST(cnum AS DOUBLE))"
                " / CAST(t AS DOUBLE) / 1000000.0, 6)"
            ).alias("info_gain_r6"),
        )
    )


# ---------- q588: Theil inequality index, nation-decomposed

# Theil T over customer revenues with the between/within decomposition
# T = T_between + sum_g share_g * T_g: per-customer terms
# y * ln(y*N/Y) are micro-quantized LN times exact integer mass, so
# each of the three reported indices is a double over exact integer
# sums. Additivity is a property-test invariant, not an assertion here.
_THEIL_ORACLE = """
WITH cy AS MATERIALIZED (
    SELECT c.c_nationkey AS nk,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS y
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_nationkey
), tot AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS HUGEINT) AS yt
    FROM cy
), gsum AS MATERIALIZED (
    SELECT CAST(SUM(CAST(y AS HUGEINT)
                    * CAST(ROUND(LN(CAST(y AS DOUBLE) * CAST(tot.n AS DOUBLE)
                                    / CAST(tot.yt AS DOUBLE)) * 1000000, 0)
                           AS BIGINT)) AS HUGEINT) AS num
    FROM cy, tot
), grp AS MATERIALIZED (
    SELECT nk, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(y) AS HUGEINT) AS yg
    FROM cy GROUP BY nk
), btw AS MATERIALIZED (
    SELECT CAST(SUM(yg * CAST(ROUND(LN((CAST(yg AS DOUBLE)
                                        / CAST(g.ng AS DOUBLE))
                                       / (CAST(tot.yt AS DOUBLE)
                                          / CAST(tot.n AS DOUBLE)))
                                    * 1000000, 0) AS BIGINT)) AS HUGEINT)
               AS num
    FROM grp g, tot
)
SELECT (SELECT n FROM tot) AS n_customers,
       ROUND(CAST(gsum.num AS DOUBLE)
             / CAST((SELECT yt FROM tot) AS DOUBLE) / 1000000.0, 6)
           AS theil_total_r6,
       ROUND(CAST(btw.num AS DOUBLE)
             / CAST((SELECT yt FROM tot) AS DOUBLE) / 1000000.0, 6)
           AS theil_between_r6,
       ROUND((CAST(gsum.num AS DOUBLE) - CAST(btw.num AS DOUBLE))
             / CAST((SELECT yt FROM tot) AS DOUBLE) / 1000000.0, 6)
           AS theil_within_r6
FROM gsum, btw
"""


@register("q588_theil_index", oracle=_THEIL_ORACLE)
def q588(orders, customer):
    """Theil T + between/within decomposition (oracle comment)."""
    cy = (
        orders
        .join(
            F.broadcast(customer),
            customer["c_custkey"] == orders["o_custkey"],
        )
        .groupBy("c_custkey", F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(
                cents("o_totalprice")
            )
            .cast("bigint")
            .alias("y")
        )
        # pinned: cy feeds tot, the global term AND the nation groups —
        # unpinned, the orders×customer aggregate runs three times
        # (guide §2.4; before-plan: 11 Exchanges)
        .transform(pin)
    )
    tot = cy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("yt"),
    )
    glob = cy.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("y").cast("decimal(38,0)")
            * F.expr(
                "CAST(ROUND(LN(CAST(y AS DOUBLE) * CAST(n AS DOUBLE)"
                " / CAST(yt AS DOUBLE)) * 1000000, 0) AS BIGINT)"
            )
        ).alias("gnum")
    )
    grp = cy.groupBy("nk").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("y").cast("decimal(38,0)").alias("yg"),
    )
    btw = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("yg")
            * F.expr(
                "CAST(ROUND(LN((CAST(yg AS DOUBLE) / CAST(ng AS DOUBLE))"
                " / (CAST(yt AS DOUBLE) / CAST(n AS DOUBLE)))"
                " * 1000000, 0) AS BIGINT)"
            )
        ).alias("bnum")
    )
    return (
        glob.crossJoin(F.broadcast(btw))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_customers"),
            F.expr(
                "ROUND(CAST(gnum AS DOUBLE) / CAST(yt AS DOUBLE)"
                " / 1000000.0, 6)"
            ).alias("theil_total_r6"),
            F.expr(
                "ROUND(CAST(bnum AS DOUBLE) / CAST(yt AS DOUBLE)"
                " / 1000000.0, 6)"
            ).alias("theil_between_r6"),
            F.expr(
                "ROUND((CAST(gnum AS DOUBLE) - CAST(bnum AS DOUBLE))"
                " / CAST(yt AS DOUBLE) / 1000000.0, 6)"
            ).alias("theil_within_r6"),
        )
    )


# ---------- q589: Youden-J threshold scan (decile ROC)

# Where does a price threshold best separate finished orders? TPR/FPR
# at each price-decile boundary (exact ceil-rank order statistics) as
# rhu micro, J = TPR_u - FPR_u, full 9-threshold curve ordered by
# decile — an ROC you can read without floats.
_YOUDEN_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
           o_orderkey
    FROM orders
), rk AS MATERIALIZED (
    SELECT c, y, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS r,
           COUNT(*) OVER () AS n
    FROM v
), cuts AS MATERIALIZED (
    SELECT d.d AS decile,
           (SELECT MIN(c) FROM rk
            WHERE r = (d.d * (SELECT MAX(n) FROM rk) + 9) // 10) AS theta
    FROM (SELECT UNNEST(RANGE(1, 10)) AS d) d
), cls AS MATERIALIZED (
    SELECT CAST(SUM(y) AS BIGINT) AS pos,
           CAST(SUM(1 - y) AS BIGINT) AS neg
    FROM v
), conf AS MATERIALIZED (
    SELECT cuts.decile, cuts.theta,
           CAST(SUM(CASE WHEN v.c >= cuts.theta THEN v.y ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN v.c >= cuts.theta THEN 1 - v.y ELSE 0 END)
                AS BIGINT) AS fp
    FROM v, cuts GROUP BY cuts.decile, cuts.theta
)
SELECT conf.decile, conf.theta,
       CAST((2 * 1000000 * conf.tp + cls.pos) // (2 * cls.pos) AS BIGINT)
           AS tpr_micro,
       CAST((2 * 1000000 * conf.fp + cls.neg) // (2 * cls.neg) AS BIGINT)
           AS fpr_micro,
       CAST((2 * 1000000 * conf.tp + cls.pos) // (2 * cls.pos)
            - (2 * 1000000 * conf.fp + cls.neg) // (2 * cls.neg) AS BIGINT)
           AS j_micro
FROM conf, cls ORDER BY decile
"""


@register("q589_youden_threshold", oracle=_YOUDEN_ORACLE)
def q589(spark, orders):
    """Integer ROC curve + Youden J at decile cuts (oracle comment)."""
    v = orders.select(
        cents("o_totalprice").alias("c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        "o_orderkey",
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rk = v.select(
        "c",
        F.row_number().over(Window.orderBy("c", "o_orderkey")).alias("r"),
        F.count("*").over(wall).alias("n"),
    )
    ds = spark.createDataFrame([(i,) for i in range(1, 10)], "decile int")
    cuts = (
        rk.crossJoin(F.broadcast(ds))
        .filter(F.col("r") == F.expr("(decile * n + 9) DIV 10"))
        .groupBy("decile")
        .agg(F.min("c").alias("theta"))
    )
    cls = v.agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
    )
    conf = (
        v.crossJoin(F.broadcast(cuts))
        .groupBy("decile", "theta")
        .agg(
            F.sum(F.when(F.col("c") >= F.col("theta"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when(F.col("c") >= F.col("theta"), 1 - F.col("y")).otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
        )
    )
    return (
        conf.crossJoin(F.broadcast(cls))
        .select(
            "decile",
            "theta",
            F.expr(
                f"CAST({rhu('1000000 * tp', 'pos')} AS BIGINT)"
            ).alias("tpr_micro"),
            F.expr(
                f"CAST({rhu('1000000 * fp', 'neg')} AS BIGINT)"
            ).alias("fpr_micro"),
            F.expr(
                f"CAST({rhu('1000000 * tp', 'pos')} - {rhu('1000000 * fp', 'neg')}"
                " AS BIGINT)"
            ).alias("j_micro"),
        )
        .orderBy("decile")
    )


# ---------- q590: Matthews correlation + balanced accuracy

# Confusion quality at the median-price threshold (predict 'F' iff
# price >= global lower median): MCC is reported sign + square (exact
# rationals — the q294 sqrt discipline) alongside rhu-micro balanced
# accuracy.
_MCC_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
           o_orderkey
    FROM orders
), med AS MATERIALIZED (
    SELECT MIN(c) AS m FROM (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS r,
               COUNT(*) OVER () AS n
        FROM v
    ) WHERE 2 * r >= n + 1
), conf AS (
    SELECT CAST(SUM(CASE WHEN c >= med.m AND y = 1 THEN 1 ELSE 0 END)
                AS HUGEINT) AS tp,
           CAST(SUM(CASE WHEN c >= med.m AND y = 0 THEN 1 ELSE 0 END)
                AS HUGEINT) AS fp,
           CAST(SUM(CASE WHEN c < med.m AND y = 1 THEN 1 ELSE 0 END)
                AS HUGEINT) AS fn,
           CAST(SUM(CASE WHEN c < med.m AND y = 0 THEN 1 ELSE 0 END)
                AS HUGEINT) AS tn
    FROM v, med
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST(CASE WHEN tp * tn > fp * fn THEN 1
                 WHEN tp * tn < fp * fn THEN -1 ELSE 0 END AS INT)
           AS mcc_sign,
       CAST((2 * 1000000 * (tp * tn - fp * fn) * (tp * tn - fp * fn)
             + (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
            // (2 * (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
            AS BIGINT) AS mcc2_micro,
       CAST(((2 * 1000000 * tp + (tp + fn)) // (2 * (tp + fn))
             + (2 * 1000000 * tn + (tn + fp)) // (2 * (tn + fp))) // 2
            AS BIGINT) AS balanced_acc_micro
FROM conf
"""


@register("q590_matthews_corr", oracle=_MCC_ORACLE)
def q590(orders):
    """Sign + squared MCC and balanced accuracy (oracle comment)."""
    v = orders.select(
        cents("o_totalprice").alias("c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        "o_orderkey",
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    med = (
        v.select(
            "c",
            F.row_number().over(Window.orderBy("c", "o_orderkey")).alias("r"),
            F.count("*").over(wall).alias("n"),
        )
        .filter(2 * F.col("r") >= F.col("n") + 1)
        .agg(F.min("c").alias("m"))
    )
    conf = v.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when((F.col("c") >= F.col("m")) & (F.col("y") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tp"),
        F.sum(F.when((F.col("c") >= F.col("m")) & (F.col("y") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("fp"),
        F.sum(F.when((F.col("c") < F.col("m")) & (F.col("y") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("fn"),
        F.sum(F.when((F.col("c") < F.col("m")) & (F.col("y") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tn"),
    )
    return conf.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        F.expr(
            "CAST(CASE WHEN tp * tn > fp * fn THEN 1"
            " WHEN tp * tn < fp * fn THEN -1 ELSE 0 END AS INT)"
        ).alias("mcc_sign"),
        F.expr(
            "CAST(" + rhu(
                "1000000 * (tp * tn - fp * fn) * (tp * tn - fp * fn)",
                "(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)",
            ) + " AS BIGINT)"
        ).alias("mcc2_micro"),
        F.expr(
            f"CAST(({rhu('1000000 * tp', '(tp + fn)')} +"
            f" {rhu('1000000 * tn', '(tn + fp)')}) DIV 2 AS BIGINT)"
        ).alias("balanced_acc_micro"),
    )


# ---------- q591: OLS leverage + influence (daily regression)

# Which days dominate the daily-revenue trend fit? Exact-rational hat
# values h_t = 1/n + (n*t - St)^2/(n*(n*Stt - St^2)) in rhu micro, the
# q548 dollar^2 residuals, and influence = e^2 * h/(1-h)^2 carried as an
# EXACT integer rational of the quantized inputs (a ROUND(.,6) on the
# ~3e9-magnitude double sat exactly at the ulp boundary and flipped the
# last digit between engines at sf0.01) — ranked by (infl DESC, day).
_INFL_ORACLE = _DAILY_CTE + f"""
, idx AS MATERIALIZED (
    SELECT day, cents AS y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
    FROM idx
), pt AS (
    SELECT idx.day, idx.t,
           CAST((2 * 1000000 * ((m.n * m.stt - CAST(m.st AS HUGEINT) * m.st)
                 + m.n * (m.n * idx.t - m.st) * (m.n * idx.t - m.st))
                 + m.n * m.n * (m.n * m.stt - CAST(m.st AS HUGEINT) * m.st))
                // (2 * m.n * m.n
                    * (m.n * m.stt - CAST(m.st AS HUGEINT) * m.st))
                AS BIGINT) AS h_u,
           CAST(ROUND((CAST(idx.y AS DOUBLE) - {_BP_A} - {_BP_FIT}
                       * CAST(idx.t AS DOUBLE))
                      * (CAST(idx.y AS DOUBLE) - {_BP_A} - {_BP_FIT}
                         * CAST(idx.t AS DOUBLE)) / 10000.0, 0) AS BIGINT)
               AS e2_d2
    FROM idx, m
)
SELECT day, h_u AS leverage_micro, e2_d2,
       CAST((2 * CAST(e2_d2 AS HUGEINT) * h_u * 1000000
             + CAST(1000000 - h_u AS HUGEINT) * (1000000 - h_u))
            // (2 * CAST(1000000 - h_u AS HUGEINT) * (1000000 - h_u))
            AS BIGINT) AS infl_d2
FROM pt
ORDER BY infl_d2 DESC, day LIMIT 10
"""


@register("q591_ols_influence", oracle=_INFL_ORACLE)
def q591(orders):
    """Exact leverage + rounded influence, top-10 days (oracle
    comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        "day",
        F.col("cents").alias("y"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    t38 = F.col("t").cast("decimal(38,0)")
    m = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(t38 * F.col("t")).alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(t38 * F.col("y")).alias("sty"),
    )
    pt = idx.crossJoin(F.broadcast(m)).select(
        "day",
        F.expr(
            "CAST(" + rhu(
                "1000000 * ((n * stt - CAST(st AS DECIMAL(38,0)) * st) + n * (n * t"
                " - st) * (n * t - st))",
                "n * n * (n * stt - CAST(st AS DECIMAL(38,0)) * st)",
            ) + " AS BIGINT)"
        ).alias("h_u"),
        F.expr(
            f"CAST(ROUND((CAST(y AS DOUBLE) - {_BP_A} - {_BP_FIT}"
            f" * CAST(t AS DOUBLE))"
            f" * (CAST(y AS DOUBLE) - {_BP_A} - {_BP_FIT}"
            f" * CAST(t AS DOUBLE)) / 10000.0, 0) AS BIGINT)"
        ).alias("e2_d2"),
    )
    return (
        pt.select(
            "day",
            F.col("h_u").alias("leverage_micro"),
            "e2_d2",
            F.expr(
                "CAST(" + rhu(
                    "CAST(e2_d2 AS DECIMAL(38,0)) * h_u * 1000000",
                    "CAST(1000000 - h_u AS DECIMAL(38,0)) * (1000000 - h_u)",
                ) + " AS BIGINT)"
            ).alias("infl_d2"),
        )
        .orderBy(F.col("infl_d2").desc(), "day")
        .limit(10)
    )


# ---------- q592: ANN-routed hard-negative mining (q492's scale path)


@register("q592_ann_hard_negatives", tags=("approx",))
def q592(embeddings):
    """IVF-probed hard-negative mining (r11 verdict task 4): per anchor,
    the most-similar cross-label vector among its n_probe nearest IVF
    cells — the runnable scale lane whose EXACT recall oracle is
    q492_hard_negative_mining (all-pairs, declared quadratic). Work is
    n·n_probe·cell_rows·dim, linear in n with fixed probe count and
    cell size; recall vs the exact kernel is asserted in
    tests/test_llm_ops.py (the q54-vs-q38 gate pattern). Approximate by
    design -> rows-only check; same rounded-cosine/id-tiebreak
    discipline as the exact kernel so the comparison is well-defined."""
    from ..operators.similarity import ann_hard_negatives

    res = ann_hard_negatives(embeddings)
    return (
        res.select("anchor", "hard_neg", "sim")
        .orderBy(F.col("sim").desc(), "anchor")
        .limit(20)
    )

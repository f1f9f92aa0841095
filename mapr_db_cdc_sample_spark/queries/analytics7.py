"""Round-8 batch (q480+): two-sample inference (Welch t², Mood's median
test), measurement reliability (Cronbach's alpha), forensic digit audits
(Benford), sequential control (CUSUM changepoint, EWMA control chart),
and bounded-graph centrality (multi-source BFS closeness, modularity).

Determinism rules follow queries/relational.py's module docstring:
integer cents and round-half-up come from functions/exact.py, unique
ORDER BY tiebreakers under every LIMIT, and doubles only in
textually-parallel final expressions over exact integer aggregates (the
q207 discipline). Big products cast FACTORS to DECIMAL(38,0)
(Spark) / HUGEINT (DuckDB) before multiplying."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exact import cents, cosine_duck, rhu
from ..session import pin
from . import register
from ..operators import banding as B
from .analytics import _CC_ORACLE
from .analytics3 import _DAILY_CTE, _cusum, _daily_cents

# ---------- q480: Welch's unequal-variance t-test (click vs purchase)

# Two-sample location test that does NOT pool variances — the default
# recommendation when group spreads differ. Everything upstream of the
# final expression is one map-side-combinable aggregate per group over
# exact integer cents; t² and the Welch–Satterthwaite df are then
# textually-parallel IEEE doubles over those exact moments (the q207
# discipline: identical integer inputs + identical expression tree =
# bit-identical doubles), rounded to 6.
_WELCH_ORACLE = """
WITH v AS (
    SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
    SELECT
        CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN g = 'click' THEN c ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN g = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS s2,
        CAST(SUM(CASE WHEN g = 'click' THEN CAST(c AS HUGEINT) * c
                 ELSE 0 END) AS HUGEINT) AS q1,
        CAST(SUM(CASE WHEN g = 'purchase' THEN CAST(c AS HUGEINT) * c
                 ELSE 0 END) AS HUGEINT) AS q2
    FROM v
)
SELECT n1, n2,
       ROUND(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
             / ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                      / CAST(n1 AS DOUBLE))
                / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
                + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                        / CAST(n2 AS DOUBLE))
                  / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))), 6) AS t2_r6,
       ROUND((((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                     / CAST(n1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
               + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                       / CAST(n2 AS DOUBLE))
                 / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
              * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                       / CAST(n1 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
                 + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                         / CAST(n2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))))
             / (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                       / CAST(n1 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
                 * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                          / CAST(n1 AS DOUBLE))
                    / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))))
                / CAST(n1 - 1 AS DOUBLE)
                + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                         / CAST(n2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))
                   * ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                            / CAST(n2 AS DOUBLE))
                      / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))))
                  / CAST(n2 - 1 AS DOUBLE)), 6) AS df_r6
FROM m
"""


@register("q480_welch_ttest", oracle=_WELCH_ORACLE)
def q480(events):
    """Welch t² + Satterthwaite df as rounded doubles over exact integer
    moments (oracle comment)."""
    v = events.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("g"),
        cents("value").alias("c"),
    )
    m = v.agg(
        F.sum(F.when(F.col("g") == "click", 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("g") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("g") == "click", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("g") == "purchase", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("s2"),
        F.sum(
            F.when(
                F.col("g") == "click",
                F.col("c").cast("decimal(38,0)") * F.col("c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q1"),
        F.sum(
            F.when(
                F.col("g") == "purchase",
                F.col("c").cast("decimal(38,0)") * F.col("c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q2"),
    )
    # se2_g := v_g / n_g computed as ONE textually-identical double
    # sub-expression reused by both t2 and df (matching the oracle text)
    se1 = (
        "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))"
    )
    se2 = (
        "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))"
    )
    dmean = (
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    )
    return m.select(
        "n1",
        "n2",
        F.expr(f"ROUND(({dmean} * {dmean}) / ({se1} + {se2}), 6)").alias("t2_r6"),
        F.expr(
            f"ROUND((({se1} + {se2}) * ({se1} + {se2}))"
            f" / (({se1} * ({se1})) / CAST(n1 - 1 AS DOUBLE)"
            f" + ({se2} * ({se2})) / CAST(n2 - 1 AS DOUBLE)), 6)"
        ).alias("df_r6"),
    )


# ---------- q481: Mood's median test (order value by priority)

# Nonparametric k-group location test: dichotomize every order at the
# GLOBAL lower median (exact order statistic from a cumulative value
# histogram — never a global row sort; the q447 two-pass discipline),
# then chi-square the (group x above/not-above) table. Expected counts
# are exact micro integers (rhu of n_j*A*1e6/N); the chi-square
# contribution is the only double, rounded to 6.
_MOOD_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), hist AS MATERIALIZED (
    SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY c
), cum AS (
    SELECT c, SUM(cnt) OVER (ORDER BY c) AS cm FROM hist
), med AS (
    SELECT MIN(c) AS m FROM cum
    WHERE cm >= (SELECT (SUM(cnt) + 1) // 2 FROM hist)
), g AS MATERIALIZED (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS nj,
           CAST(SUM(CASE WHEN c > (SELECT m FROM med) THEN 1 ELSE 0 END)
                AS BIGINT) AS aj
    FROM v GROUP BY grp
), tot AS MATERIALIZED (
    SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(SUM(aj) AS BIGINT) AS a FROM g
)
SELECT g.grp, g.nj, g.aj,
       CAST((2 * 1000000 * g.nj * tot.a + tot.n) // (2 * tot.n) AS BIGINT)
           AS expect_micro,
       ROUND((CAST(g.aj AS DOUBLE)
              - CAST(g.nj AS DOUBLE) * CAST(tot.a AS DOUBLE)
                / CAST(tot.n AS DOUBLE))
             * (CAST(g.aj AS DOUBLE)
                - CAST(g.nj AS DOUBLE) * CAST(tot.a AS DOUBLE)
                  / CAST(tot.n AS DOUBLE))
             / (CAST(g.nj AS DOUBLE) * CAST(tot.a AS DOUBLE)
                / CAST(tot.n AS DOUBLE))
             + (CAST(g.nj - g.aj AS DOUBLE)
                - CAST(g.nj AS DOUBLE) * CAST(tot.n - tot.a AS DOUBLE)
                  / CAST(tot.n AS DOUBLE))
               * (CAST(g.nj - g.aj AS DOUBLE)
                  - CAST(g.nj AS DOUBLE) * CAST(tot.n - tot.a AS DOUBLE)
                    / CAST(tot.n AS DOUBLE))
               / (CAST(g.nj AS DOUBLE) * CAST(tot.n - tot.a AS DOUBLE)
                  / CAST(tot.n AS DOUBLE)), 6) AS contrib_r6
FROM g, tot ORDER BY g.grp
"""


@register("q481_mood_median_test", oracle=_MOOD_ORACLE)
def q481(orders):
    """Mood's median test per-group contributions (oracle comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("c"),
    )
    hist = v.groupBy("c").agg(F.count("*").cast("bigint").alias("cnt"))
    cum = hist.select(
        "c", F.sum("cnt").over(Window.orderBy("c")).alias("cm"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_all"),
    )
    med = cum.filter(F.col("cm") >= F.expr("(n_all + 1) DIV 2")).agg(
        F.min("c").alias("m")
    )
    g = (
        v.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("nj"),
            F.sum(F.when(F.col("c") > F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("aj"),
        )
        # pinned: g (|groups| rows) feeds tot AND the final projection —
        # unpinned, the orders scan + median-broadcast aggregate run
        # twice (guide §2.4)
        .transform(pin)
    )
    tot = g.agg(
        F.sum("nj").cast("bigint").alias("n"), F.sum("aj").cast("bigint").alias("a")
    )
    above = (
        "CAST(nj AS DOUBLE) * CAST(a AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    below = "CAST(nj AS DOUBLE) * CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE)"
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "nj",
            "aj",
            F.expr(
                f"CAST({rhu('1000000 * nj * a', 'n')} AS BIGINT)"
            ).alias("expect_micro"),
            F.expr(
                f"ROUND((CAST(aj AS DOUBLE) - {above})"
                f" * (CAST(aj AS DOUBLE) - {above}) / ({above})"
                f" + (CAST(nj - aj AS DOUBLE) - {below})"
                f" * (CAST(nj - aj AS DOUBLE) - {below}) / ({below}), 6)"
            ).alias("contrib_r6"),
        )
        .orderBy("grp")
    )


# ---------- q482: Cronbach's alpha (per-user event-type count items)

# Internal-consistency reliability of a 4-item "engagement instrument"
# (per-user counts of click/view/purchase/signup). Population variances
# over n users share the n² denominator, so alpha = k(T - P) /
# ((k-1) T) with T = n*Σt²-(Σt)², P = Σ_i (n*Σx_i²-(Σx_i)²) — EXACT
# integers end-to-end; the single signed micro division uses the
# positive-shift rhu (alpha can be negative for inconsistent items).
_CRONBACH_ORACLE = """
WITH peru AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS x2,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x3,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS x4
    FROM events GROUP BY user_id
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x1 * x1) AS BIGINT) AS q1,
           CAST(SUM(x2) AS BIGINT) AS s2, CAST(SUM(x2 * x2) AS BIGINT) AS q2,
           CAST(SUM(x3) AS BIGINT) AS s3, CAST(SUM(x3 * x3) AS BIGINT) AS q3,
           CAST(SUM(x4) AS BIGINT) AS s4, CAST(SUM(x4 * x4) AS BIGINT) AS q4,
           CAST(SUM(x1 + x2 + x3 + x4) AS BIGINT) AS st,
           CAST(SUM((x1 + x2 + x3 + x4) * (x1 + x2 + x3 + x4)) AS BIGINT) AS qt
    FROM peru
), ab AS (
    SELECT n,
           CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS vt,
           (CAST(n AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1)
           + (CAST(n AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2)
           + (CAST(n AS HUGEINT) * q3 - CAST(s3 AS HUGEINT) * s3)
           + (CAST(n AS HUGEINT) * q4 - CAST(s4 AS HUGEINT) * s4) AS pv
    FROM m
)
SELECT n, CAST(vt AS BIGINT) AS var_total_n2, CAST(pv AS BIGINT) AS sum_item_var_n2,
       CAST((2 * (1000000 * 4 * (vt - pv) + 1000000000 * (3 * vt)) + 3 * vt)
            // (2 * (3 * vt)) - 1000000000 AS BIGINT) AS alpha_micro
FROM ab
"""


@register("q482_cronbach_alpha", oracle=_CRONBACH_ORACLE)
def q482(events):
    """Cronbach's alpha in exact signed micro units (oracle comment)."""
    peru = events.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"x{i}")
            for i, t in enumerate(("click", "view", "purchase", "signup"), 1)
        ]
    )
    t = sum(F.col(f"x{i}") for i in range(1, 5))
    m = peru.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            a
            for i in range(1, 5)
            for a in (
                F.sum(f"x{i}").cast("bigint").alias(f"s{i}"),
                F.sum(F.col(f"x{i}") * F.col(f"x{i}")).cast("bigint").alias(f"q{i}"),
            )
        ],
        F.sum(t).cast("bigint").alias("st"),
        F.sum(t * t).cast("bigint").alias("qt"),
    )
    d38 = "DECIMAL(38,0)"
    ab = m.select(
        "n",
        F.expr(f"CAST(n AS {d38}) * qt - CAST(st AS {d38}) * st").alias("vt"),
        F.expr(
            f"(CAST(n AS {d38}) * q1 - CAST(s1 AS {d38}) * s1)"
            f" + (CAST(n AS {d38}) * q2 - CAST(s2 AS {d38}) * s2)"
            f" + (CAST(n AS {d38}) * q3 - CAST(s3 AS {d38}) * s3)"
            f" + (CAST(n AS {d38}) * q4 - CAST(s4 AS {d38}) * s4)"
        ).alias("pv"),
    )
    return ab.select(
        "n",
        F.expr("CAST(vt AS BIGINT)").alias("var_total_n2"),
        F.expr("CAST(pv AS BIGINT)").alias("sum_item_var_n2"),
        F.expr(
            "CAST("
            + rhu("(1000000 * 4 * (vt - pv) + 1000000000 * (3 * vt))", "(3 * vt)")
            + " - 1000000000 AS BIGINT)"
        ).alias("alpha_micro"),
    )


# ---------- q483: Benford first-digit audit (order values)

# Fraud/forensics screen: the first significant digit of order cents vs
# the Benford expectation log10(1+1/d). The 9 expected micro-probs are
# ONE Python-computed literal table embedded in BOTH engines' SQL (the
# q327 literal recipe — no cross-engine log10 at query time); observed
# counts and expected micro-counts are exact integers, the chi-square
# contribution the only rounded double.
_BENFORD_PM = {d: round(math.log10(1.0 + 1.0 / d) * 1_000_000) for d in range(1, 10)}
_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PM.items())

_BENFORD_ORACLE = f"""
WITH v AS (
    SELECT CAST(LEFT(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT) AS VARCHAR), 1) AS BIGINT) AS d
    FROM orders
    WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
), obs AS MATERIALIZED (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY d
), n AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs
), exp AS (
    SELECT * FROM (VALUES {_BENFORD_VALUES}) AS t(d, pm)
)
SELECT exp.d, COALESCE(obs.c, 0) AS observed,
       CAST(n.n * exp.pm AS BIGINT) AS expect_micro,
       ROUND((CAST(COALESCE(obs.c, 0) AS DOUBLE)
              - CAST(n.n AS DOUBLE) * CAST(exp.pm AS DOUBLE) / 1000000.0)
             * (CAST(COALESCE(obs.c, 0) AS DOUBLE)
                - CAST(n.n AS DOUBLE) * CAST(exp.pm AS DOUBLE) / 1000000.0)
             / (CAST(n.n AS DOUBLE) * CAST(exp.pm AS DOUBLE) / 1000000.0), 6)
           AS contrib_r6
FROM exp LEFT JOIN obs ON obs.d = exp.d, n
ORDER BY exp.d
"""


@register("q483_benford_audit", oracle=_BENFORD_ORACLE)
def q483(spark, orders):
    """Benford first-digit chi-square contributions (oracle comment).
    The 9-row expectation table broadcasts; the scan aggregates into at
    most 9 groups map-side — no shuffle grows with volume."""
    obs = (
        orders.select(cents("o_totalprice").alias("c"))
        .filter(F.col("c") > 0)
        .select(F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    n = obs.agg(F.sum("c").cast("bigint").alias("n"))
    exp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_PM.items()], "d bigint, pm bigint"
    )
    em = "CAST(n AS DOUBLE) * CAST(pm AS DOUBLE) / 1000000.0"
    return (
        exp.join(obs, "d", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("observed"),
            F.expr("CAST(n * pm AS BIGINT)").alias("expect_micro"),
            F.expr(
                f"ROUND((CAST(COALESCE(c, 0) AS DOUBLE) - {em})"
                f" * (CAST(COALESCE(c, 0) AS DOUBLE) - {em}) / ({em}), 6)"
            ).alias("contrib_r6"),
        )
        .orderBy("d")
    )


# ---------- q484: CUSUM changepoint (daily revenue)

# Page's cumulative-sum scan for a level shift: S_k = sum_{i<=k}
# (n*x_i - T) in SUM-SCALED integers (multiplying by n clears the mean
# without division — S_k = n * sum_scaled deviation, exact). The
# changepoint is argmax |S_k| with the EARLIEST day as tiebreaker.
# S_k = n*prefix_k - k*T is q288's n-scaled CUSUM, so the Spark side
# ranks q288's DECIMAL(38,0) frame; the oracle keeps its own running sum.
_CUSUM_ORACLE = _DAILY_CTE + """
, tot AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS t
    FROM daily
), s AS (
    SELECT day,
           SUM(cents * tot.n - tot.t) OVER (ORDER BY day) AS sk
    FROM daily, tot
)
SELECT day AS cp_day,
       CAST(ABS(sk) AS BIGINT) AS s_abs,
       CAST(CASE WHEN sk > 0 THEN 1 WHEN sk < 0 THEN -1 ELSE 0 END AS INT)
           AS s_sign,
       (SELECT CAST(n AS BIGINT) FROM tot) AS n_days
FROM s ORDER BY ABS(sk) DESC, day ASC LIMIT 1
"""


@register("q484_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q484(orders):
    """CUSUM argmax |S_k| (oracle comment): S_k is q288's n-scaled
    CUSUM n·prefix_k − k·T, so this is the top row of its frame."""
    nc = F.col("nc")
    return (
        _cusum(orders)
        .select(
            F.col("day").alias("cp_day"),
            F.abs(nc).cast("bigint").alias("s_abs"),
            F.signum(nc).cast("int").alias("s_sign"),
            F.col("n").cast("bigint").alias("n_days"),
        )
        .orderBy(F.col("s_abs").desc(), F.col("cp_day").asc())
        .limit(1)
    )


# ---------- q485: EWMA control chart (daily revenue, alpha = 1/5)

# Exponentially-weighted control recursion in integer MICRO-CENTS:
# l_t = rhu((x_t*1e6 + 4*l_{t-1}) / 5), l_1 = x_1*1e6 (positive
# operands, so rhu is (2p+5) DIV 10 with no shift). The residual
# d_t = x_t*1e6 - l_{t-1} is emitted from day 2; a day breaches when
# |d_t| * n_emitted > 3 * sum|d| (exact integer cross-multiply — no
# division at the decision boundary). Sequential state cannot
# parallelize across time: Spark folds ONE applyInPandas group over the
# calendar-bounded daily aggregate; the oracle steps a recursive CTE
# over a MATERIALIZED day index (the q456 lesson: without
# MATERIALIZED, DuckDB re-evaluates the parquet scan per step).
_EWMA_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), rec AS MATERIALIZED (
    WITH RECURSIVE r(rn, l, d) AS (
        SELECT 1, (SELECT cents FROM idx WHERE rn = 1) * 1000000,
               CAST(NULL AS BIGINT)
        UNION ALL
        SELECT r.rn + 1,
               (2 * (i.cents * 1000000 + 4 * r.l) + 5) // 10,
               i.cents * 1000000 - r.l
        FROM r JOIN idx i ON i.rn = r.rn + 1
    )
    SELECT * FROM r WHERE d IS NOT NULL
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(ABS(d)) AS BIGINT) AS sad
    FROM rec
)
SELECT i.day, i.cents, CAST(rec.d AS BIGINT) AS resid_micro,
       CAST(CASE WHEN CAST(ABS(rec.d) AS HUGEINT) * tot.n
                      > 3 * CAST(tot.sad AS HUGEINT)
                 THEN 1 ELSE 0 END AS INT) AS breach
FROM rec JOIN idx i ON i.rn = rec.rn, tot
ORDER BY i.day
"""


@register("q485_ewma_control", oracle=_EWMA_ORACLE)
def q485(orders):
    """EWMA residual chart in exact integer micro-cents (oracle
    comment). Python ints reproduce the rhu bit-for-bit — the q308/q456
    grouped-map lane for sequential state."""
    import pandas as pd

    daily = _daily_cents(orders)

    def ewma(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) < 2:
            return pd.DataFrame(
                {"day": pdf["day"][:0], "cents": pdf["cents"][:0],
                 "resid_micro": pdf["cents"][:0]}
            )
        cents = [int(c) for c in pdf["cents"]]
        days = list(pdf["day"])
        l = cents[0] * 10**6
        out = []
        for t in range(1, len(cents)):
            x = cents[t] * 10**6
            out.append((days[t], cents[t], x - l))
            l = (2 * (x + 4 * l) + 5) // 10
        return pd.DataFrame(out, columns=["day", "cents", "resid_micro"])

    rec = (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(ewma, "day timestamp_ntz, cents bigint, resid_micro bigint")
    )
    tot = rec.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.abs(F.col("resid_micro"))).cast("bigint").alias("sad"),
    )
    return (
        rec.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "cents",
            "resid_micro",
            F.expr(
                "CAST(CASE WHEN CAST(ABS(resid_micro) AS DECIMAL(38,0)) * n"
                " > 3 * CAST(sad AS DECIMAL(38,0)) THEN 1 ELSE 0 END AS INT)"
            ).alias("breach"),
        )
        .orderBy("day")
    )


# ---------- q486: truncated harmonic closeness (nation trade graph)

# Centrality on the nation-level trade graph (edge a-b iff any order by
# a customer in nation a ships a line from a supplier in nation b).
# Radius-6 TRUNCATED harmonic centrality is the declared contract — the
# bounded-radius form is the scale-correct one on large graphs, and it
# makes the recursion exact whatever the diameter. With d <= 6 the
# rational sum(1/d) has denominator 60 = lcm(1..6), so harmonic_micro =
# rhu(1e6 * sum(60/d * cnt_d) / 60) is EXACT integer arithmetic. Spark
# runs 6 frontier rounds keyed (src, node) — multi-source BFS, level
# frames pinned like q253; the volume collapses to <= 625
# node pairs before any iteration.
_CLOSENESS_ORACLE = """
WITH RECURSIVE e AS MATERIALIZED (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
), und AS MATERIALIZED (
    SELECT src, dst FROM e UNION SELECT dst, src FROM e
), nodes AS (
    SELECT DISTINCT src AS node FROM und
), walk(src, node, dist) AS (
    SELECT node, node, 0 FROM nodes
    UNION
    SELECT w.src, u.dst, w.dist + 1
    FROM walk w JOIN und u ON u.src = w.node
    WHERE w.dist < 6
), d AS (
    SELECT src, node, MIN(dist) AS dist FROM walk GROUP BY src, node
), per AS MATERIALIZED (
    SELECT src,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reach6,
           CAST(SUM(dist) AS BIGINT) AS sum_dist,
           CAST(MAX(dist) AS BIGINT) AS ecc6,
           CAST(SUM(CASE WHEN dist > 0 THEN 60 // dist ELSE 0 END) AS BIGINT)
               AS h60
    FROM d GROUP BY src
)
SELECT n.n_name, per.n_reach6, per.sum_dist, per.ecc6,
       CAST((2 * 1000000 * per.h60 + 60) // 120 AS BIGINT) AS harmonic_micro
FROM per JOIN nation n ON n.n_nationkey = per.src
ORDER BY n.n_name
"""


@register("q486_harmonic_closeness", oracle=_CLOSENESS_ORACLE)
def q486(orders, customer, lineitem, supplier, nation):
    """Radius-6 harmonic closeness by multi-source frontier BFS (oracle
    comment)."""
    # Edge derivation is the whole cost at scale. Two r10-measured traps
    # (28x decade ratio, 8x fresh-run spread) are closed here:
    #  1. orders x lineitem is fact-x-fact: the 2-column orders projection
    #     slips under the 64 MB broadcast threshold at sf1 and AQE builds a
    #     ~1.5M-row driver hash relation (the measured variance source) —
    #     and at 100 TB a broadcast orders is impossible. shuffle_hash pins
    #     the scale-correct strategy: both sides shuffle on orderkey
    #     (linear, AQE-coalesced), hash build on the narrower orders side.
    #  2. e is referenced twice by the undirected union; without a
    #     checkpoint Spark re-executes the whole 4-table join per branch.
    ord_nat = orders.join(
        F.broadcast(customer),
        customer["c_custkey"] == orders["o_custkey"],
    ).select("o_orderkey", "c_nationkey")
    lin_nat = lineitem.join(
        F.broadcast(supplier),
        supplier["s_suppkey"] == lineitem["l_suppkey"],
    ).select("l_orderkey", "s_nationkey")
    e = (
        lin_nat.join(
            ord_nat.hint("shuffle_hash"),
            ord_nat["o_orderkey"] == lin_nat["l_orderkey"],
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .distinct()
        .transform(pin)  # <= 625 rows; join subtree runs exactly once
    )
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(pin)
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    dist = nodes.select(
        F.col("node").alias("src"), F.col("node"), F.lit(0).alias("dist")
    ).transform(pin)
    frontier = dist
    for depth in range(1, 7):
        nxt = (
            frontier.join(und.withColumnRenamed("src", "node"), "node")
            .select("src", F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("src", "node"), ["src", "node"], "left_anti")
            .select("src", "node", F.lit(depth).alias("dist"))
            .transform(pin)
        )
        if nxt.count() == 0:  # bounded driver action (<= 625-row frames)
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    per = dist.groupBy("src").agg(
        (F.count("*") - 1).cast("bigint").alias("n_reach6"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
        F.max("dist").cast("bigint").alias("ecc6"),
        F.sum(
            F.when(F.col("dist") > 0, F.expr("60 DIV dist")).otherwise(0)
        )
        .cast("bigint")
        .alias("h60"),
    )
    return (
        per.join(
            F.broadcast(nation), nation["n_nationkey"] == per["src"]
        )
        .select(
            "n_name",
            "n_reach6",
            "sum_dist",
            "ecc6",
            F.expr("CAST((2 * 1000000 * h60 + 60) DIV 120 AS BIGINT)").alias(
                "harmonic_micro"
            ),
        )
        .orderBy("n_name")
    )


# ---------- q487: region modularity + conductance (weighted trade graph)

# Community-quality audit: communities = regions, graph = nation-level
# trade weighted by lineitem count (symmetric s(a,b) = c(a->b) +
# c(b->a), a <> b). Per community: W_in, vol, cut = vol - 2*W_in, all
# exact integers from ONE <=625-row symmetric matrix; modularity
# contribution (4*W*W_in - vol^2) / (4*W^2) and conductance
# cut / min(vol, 2W - vol) are each ONE signed/positive rhu micro
# division with DECIMAL(38,0)/HUGEINT factors. The oracle's CTE chain
# is MATERIALIZED end-to-end: multi-referenced CTE chains re-inline
# EXPONENTIALLY in DuckDB (dir re-evaluated 8+ times -> 511s at sf0.1;
# materialized: 0.2s).
_MODULARITY_ORACLE = """
WITH dir AS MATERIALIZED (
    SELECT c.c_nationkey AS a, s.s_nationkey AS b,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY a, b
), sym AS MATERIALIZED (
    SELECT a, b, CAST(SUM(w) AS BIGINT) AS s
    FROM (SELECT a, b, w FROM dir UNION ALL SELECT b, a, w FROM dir)
    GROUP BY a, b
), lab AS MATERIALIZED (
    SELECT sym.a, sym.b, sym.s, na.n_regionkey AS ca, nb.n_regionkey AS cb
    FROM sym
    JOIN nation na ON na.n_nationkey = sym.a
    JOIN nation nb ON nb.n_nationkey = sym.b
), com AS MATERIALIZED (
    SELECT ca AS c,
           CAST(SUM(s) AS BIGINT) AS vol,
           CAST(SUM(CASE WHEN ca = cb THEN s ELSE 0 END) AS BIGINT) AS win2
    FROM lab GROUP BY ca
), tot AS MATERIALIZED (
    SELECT CAST(SUM(vol) AS BIGINT) AS w2 FROM com
)
SELECT CAST(com.c AS BIGINT) AS region,
       CAST(com.win2 // 2 AS BIGINT) AS w_in,
       com.vol,
       CAST(com.vol - com.win2 AS BIGINT) AS cut,
       CAST((2 * (1000000 * (CAST(tot.w2 AS HUGEINT) * com.win2
                             - CAST(com.vol AS HUGEINT) * com.vol)
                  + 1000000000 * (CAST(tot.w2 AS HUGEINT) * tot.w2))
             + CAST(tot.w2 AS HUGEINT) * tot.w2)
            // (2 * CAST(tot.w2 AS HUGEINT) * tot.w2) - 1000000000 AS BIGINT)
           AS q_contrib_micro,
       CAST((2 * 1000000 * CAST(com.vol - com.win2 AS HUGEINT)
             + LEAST(com.vol, tot.w2 - com.vol))
            // (2 * LEAST(com.vol, tot.w2 - com.vol)) AS BIGINT)
           AS conductance_micro
FROM com, tot ORDER BY region
"""


@register("q487_region_modularity", oracle=_MODULARITY_ORACLE)
def q487(orders, lineitem, customer, supplier, nation):
    """Region-partition modularity contributions + conductance in exact
    micro units (oracle comment). Note 4*W*W_in - vol^2 = w2*win2 -
    vol^2 with w2 = 2W and win2 = 2*W_in — the oracle's identity."""
    dirw = (
        orders
        .join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), customer["c_custkey"] == orders["o_custkey"])
        .join(F.broadcast(supplier), supplier["s_suppkey"] == lineitem["l_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("int").alias("a"),
            F.col("s_nationkey").cast("int").alias("b"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    # both orientations from ONE pass: exploding a 2-element struct
    # array references dirw once, where the former self-union re-ran the
    # orders×lineitem join aggregate per side (guide §2.4; before-plan:
    # 10 Exchanges). Same multiset as unionByName(swapped).
    sym = (
        dirw.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b"), F.col("w")),
                    F.struct(
                        F.col("b").alias("a"), F.col("a").alias("b"), F.col("w")
                    ),
                )
            ).alias("x")
        )
        .select("x.a", "x.b", "x.w")
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("s"))
    )
    na = nation.select(F.col("n_nationkey").alias("a"), F.col("n_regionkey").alias("ca"))
    nb = nation.select(F.col("n_nationkey").alias("b"), F.col("n_regionkey").alias("cb"))
    lab = sym.join(F.broadcast(na), "a").join(F.broadcast(nb), "b")
    com = lab.groupBy(F.col("ca").alias("c")).agg(
        F.sum("s").cast("bigint").alias("vol"),
        F.sum(F.when(F.col("ca") == F.col("cb"), F.col("s")).otherwise(0))
        .cast("bigint")
        .alias("win2"),
    )
    d38 = "DECIMAL(38,0)"
    # w2 as a whole-frame window over the |regions|-row com frame — the
    # former 1-row aggregate + crossJoin re-ran the whole subtree as a
    # second reference
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        com.withColumn("w2", F.sum("vol").over(wall).cast("bigint"))
        .select(
            F.col("c").cast("bigint").alias("region"),
            F.expr("CAST(win2 DIV 2 AS BIGINT)").alias("w_in"),
            "vol",
            F.expr("CAST(vol - win2 AS BIGINT)").alias("cut"),
            F.expr(
                "CAST(" + rhu(
                    f"(1000000 * (CAST(w2 AS {d38}) * win2 - CAST(vol AS {d38}) * vol)"
                    f" + 1000000000 * (CAST(w2 AS {d38}) * w2))",
                    f"CAST(w2 AS {d38}) * w2",
                ) + " - 1000000000 AS BIGINT)"
            ).alias("q_contrib_micro"),
            F.expr(
                "CAST("
                + rhu(f"1000000 * CAST(vol - win2 AS {d38})", "LEAST(vol, w2 - vol)")
                + " AS BIGINT)"
            ).alias("conductance_micro"),
        )
        .orderBy("region")
    )


# ---------- q488: boilerplate line detection (cross-doc repeated lines)

# CCNet-style boilerplate screen reshaped for the synthetic corpus:
# each doc's token stream is cut into NON-OVERLAPPING 10-token "lines"
# (full lines only — both engines index identically); a line is
# boilerplate when it occurs in >= 2 DISTINCT docs. Per-source
# boilerplate ratio in exact micro units. The line-frequency aggregate
# is the only shuffle that grows with volume and it is map-side
# combinable on the line hash.
_BOILER_ORACLE = """
WITH toks AS (
    SELECT doc_id, source,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), lines AS MATERIALIZED (
    SELECT doc_id, source,
           ARRAY_TO_STRING(ts[(k - 1) * 10 + 1:k * 10], ' ') AS g
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts) // 10)) t(k)
), freq AS (
    SELECT g FROM lines GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), per AS (
    SELECT l.source, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(f.g) AS BIGINT) AS n_boiler
    FROM lines l LEFT JOIN freq f ON f.g = l.g
    GROUP BY l.source
)
SELECT source, n_lines, n_boiler,
       CAST((2 * 1000000 * n_boiler + n_lines) // (2 * n_lines) AS BIGINT)
           AS boiler_micro
FROM per ORDER BY source
"""


@register("q488_boilerplate_lines", oracle=_BOILER_ORACLE)
def q488(documents):
    """Cross-doc repeated 10-token lines per source (oracle comment)."""
    toks = documents.select(
        "doc_id",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0).alias(
            "ts"
        ),
    )
    lines = toks.select(
        "doc_id",
        "source",
        F.expr(
            "explode(transform(sequence(1, size(ts) DIV 10),"
            " k -> array_join(slice(ts, (k - 1) * 10 + 1, 10), ' ')))"
        ).alias("g"),
    )
    freq = (
        lines.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    per = (
        lines.join(freq.withColumnRenamed("g", "gb"), lines["g"] == F.col("gb"), "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.count("gb").cast("bigint").alias("n_boiler"),
        )
    )
    return per.select(
        "source",
        "n_lines",
        "n_boiler",
        F.expr(
            f"CAST({rhu('1000000 * n_boiler', 'n_lines')} AS BIGINT)"
        ).alias("boiler_micro"),
    ).orderBy("source")


# ---------- q489: PMI collocations (adjacent bigrams)

# Pointwise mutual information of adjacent token pairs: PMI =
# ln(c12 * N * N / (Nb * c1 * c2)) over exact integer counts — one LN
# per surviving bigram (count >= 5), rounded to 6 and RANKED BY THE
# ROUNDED value with the bigram itself as tiebreaker (the house
# transcendental discipline). Unigram/bigram counts are map-side
# combinable; the candidate set after the count filter is vocab².
_PMI_ORACLE = """
WITH toks AS MATERIALIZED (
    SELECT doc_id,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), uni AS MATERIALIZED (
    SELECT ts[i] AS w, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts))) t(i)
    GROUP BY w
), big AS MATERIALIZED (
    SELECT ts[i] AS w1, ts[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c12
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) t(i)
    WHERE LEN(ts) >= 2
    GROUP BY w1, w2
), tot AS MATERIALIZED (
    SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n,
           (SELECT CAST(SUM(c12) AS BIGINT) FROM big) AS nb
)
SELECT b.w1, b.w2, b.c12,
       ROUND(LN((CAST(b.c12 AS DOUBLE) * CAST(tot.n AS DOUBLE)
                 * CAST(tot.n AS DOUBLE))
                / (CAST(tot.nb AS DOUBLE) * CAST(u1.c AS DOUBLE)
                   * CAST(u2.c AS DOUBLE))), 6) AS pmi_r6
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2, tot
WHERE b.c12 >= 5
ORDER BY pmi_r6 DESC, b.w1, b.w2 LIMIT 20
"""


@register("q489_pmi_collocations", oracle=_PMI_ORACLE)
def q489(documents):
    """Top-20 adjacent-bigram PMI, rounded-rank discipline (oracle
    comment)."""
    toks = documents.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0).alias(
            "ts"
        ),
    )
    uni = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    big = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.expr(
                "explode(transform(sequence(1, size(ts) - 1),"
                " i -> struct(element_at(ts, i) AS w1,"
                " element_at(ts, i + 1) AS w2)))"
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    # Nb totals ALL bigrams — computed BEFORE the c12 >= 5 screen,
    # matching the oracle's tot CTE
    tot = uni.agg(F.sum("c").cast("bigint").alias("n")).crossJoin(
        big.agg(F.sum("c12").cast("bigint").alias("nb"))
    )
    big = big.filter(F.col("c12") >= 5)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(
                "ROUND(LN((CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE)"
                " * CAST(n AS DOUBLE))"
                " / (CAST(nb AS DOUBLE) * CAST(c1 AS DOUBLE)"
                " * CAST(c2 AS DOUBLE))), 6)"
            ).alias("pmi_r6"),
        )
        .orderBy(F.col("pmi_r6").desc(), "w1", "w2")
        .limit(20)
    )


# ---------- q490: top-k vocabulary coverage curve

# "How much of the token stream do the k most frequent types cover?" —
# the tokenizer-design curve. Type counts (vocab-sized aggregate), rank
# by (count DESC, token ASC), cumulative share at k in
# {1,2,5,10,20,50} as exact micro integers. The only window runs over
# the VOCAB frame (the q206 rule), never the token volume.
_COVER_ORACLE = """
WITH toks AS (
    SELECT LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), uni AS MATERIALIZED (
    SELECT ts[i] AS w, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts))) t(i)
    GROUP BY w
), ranked AS (
    SELECT c, SUM(c) OVER (ORDER BY c DESC, w) AS cm,
           ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk
    FROM uni
), tot AS MATERIALIZED (
    SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
), ks AS MATERIALIZED (
    SELECT * FROM (VALUES (1), (2), (5), (10), (20), (50)) AS t(k)
)
SELECT ks.k, CAST(MAX(r.cm) AS BIGINT) AS covered,
       CAST((2 * 1000000 * MAX(r.cm) + tot.n) // (2 * tot.n) AS BIGINT)
           AS cover_micro
FROM ks JOIN ranked r ON r.rk <= ks.k, tot
GROUP BY ks.k, tot.n ORDER BY ks.k
"""


@register("q490_vocab_coverage", oracle=_COVER_ORACLE)
def q490(spark, documents):
    """Top-k type coverage of the token stream (oracle comment)."""
    uni = (
        documents.select(
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), "w")
    ranked = uni.select(
        F.sum("c").over(w).alias("cm"), F.row_number().over(w).alias("rk")
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    ks = spark.createDataFrame([(1,), (2,), (5,), (10,), (20,), (50,)], "k int")
    return (
        ks.join(ranked, ranked["rk"] <= ks["k"])
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n")
        .agg(F.max("cm").cast("bigint").alias("covered"))
        .select(
            "k",
            "covered",
            F.expr(
                f"CAST({rhu('1000000 * covered', 'n')} AS BIGINT)"
            ).alias("cover_micro"),
        )
        .orderBy("k")
    )


# ---------- q491: tokenizer fertility by language

# Chars-per-token and tokens-per-doc by lang — the quick fertility
# audit run before committing to a tokenizer. Exact integers: token
# count, summed token lengths (whitespace is not counted), doc count;
# ratios are rhu micro divisions.
_FERT_ORACLE = """
WITH toks AS (
    SELECT lang, LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), per AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(ts)) AS BIGINT) AS n_toks,
           CAST(SUM(LIST_SUM(LIST_TRANSFORM(ts, t -> LEN(t)))) AS BIGINT)
               AS n_chars
    FROM toks GROUP BY lang
)
SELECT lang, n_docs, n_toks, n_chars,
       CAST((2 * 1000000 * n_toks + n_docs) // (2 * n_docs) AS BIGINT)
           AS toks_per_doc_micro,
       CAST((2 * 1000000 * n_chars + n_toks) // (2 * n_toks) AS BIGINT)
           AS chars_per_tok_micro
FROM per ORDER BY lang
"""


@register("q491_tokenizer_fertility", oracle=_FERT_ORACLE)
def q491(documents):
    """Fertility ratios by lang in exact micro units (oracle comment)."""
    toks = documents.select(
        "lang",
        F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0).alias(
            "ts"
        ),
    )
    per = toks.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size("ts")).cast("bigint").alias("n_toks"),
        F.sum(
            F.aggregate(
                F.transform("ts", lambda t: F.length(t).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            )
        )
        .cast("bigint")
        .alias("n_chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_toks",
        "n_chars",
        F.expr(
            f"CAST({rhu('1000000 * n_toks', 'n_docs')} AS BIGINT)"
        ).alias("toks_per_doc_micro"),
        F.expr(
            f"CAST({rhu('1000000 * n_chars', 'n_toks')} AS BIGINT)"
        ).alias("chars_per_tok_micro"),
    ).orderBy("lang")


# ---------- q492: hard-negative mining (cross-label max cosine)

# Contrastive-training prep: for each anchor vector, the most similar
# vector with a DIFFERENT label (the "hard negative"). Rounded-cosine
# ranking with vec_id tiebreakers at both ranks (per-anchor pick and
# the final top-20) — the q51/q280 cosine discipline. Scale posture:
# label-blocked quadratic (anti-join on label), never a free cross
# join; at fleet scale the anchor side buckets through an ANN index
# first (q52's IVF), this query IS the exact-oracle baseline for it.
_HARDNEG_ORACLE = f"""
WITH vecs AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), pairs AS (
    SELECT a.vec_id AS anchor, b.vec_id AS neg,
           ROUND({cosine_duck('a.e', 'b.e')}, 4) AS sim
    FROM vecs a JOIN vecs b ON a.label <> b.label
), best AS (
    SELECT anchor, neg, sim,
           ROW_NUMBER() OVER (PARTITION BY anchor
                              ORDER BY sim DESC, neg) AS rk
    FROM pairs
)
SELECT anchor, neg AS hard_neg, sim
FROM best WHERE rk = 1
ORDER BY sim DESC, anchor LIMIT 20
"""


@register("q492_hard_negative_mining", oracle=_HARDNEG_ORACLE)
def q492(embeddings):
    """Per-anchor hardest cross-label negative, top-20 (oracle
    comment)."""
    from ..operators.similarity import knn_block_topk

    # block-matmul kNN kernel: no pair frame ever materializes (the pair
    # join shipped ~4GB of duplicated vectors through Arrow — see
    # operators/similarity.knn_block_topk)
    top1 = knn_block_topk(embeddings, k=1, cross_label_only=True)
    return (
        top1.select("anchor", F.col("neighbor").alias("hard_neg"), "sim")
        .orderBy(F.col("sim").desc(), "anchor")
        .limit(20)
    )


# ---------- q493: int8 quantization audit (per-dim reconstruction error)

# Per-dimension min/max int8 quantization dry-run BEFORE committing an
# embedding store to 8-bit: code = rhu(255*(v-mn)/(mx-mn)), recon = mn
# + rhu(code*(mx-mn)/255), error = |v - recon| — ALL in exact integer
# MILLI space (the q127 embedding-quantization recipe), so both engines
# agree bit-for-bit with no doubles anywhere. One (row x dim) explode,
# two map-side-combinable aggregates.
_QUANT_ORACLE = """
WITH vals AS MATERIALIZED (
    SELECT t.i AS d,
           CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS v
    FROM embeddings, LATERAL UNNEST(GENERATE_SERIES(1, LEN(embedding))) t(i)
), rng AS MATERIALIZED (
    SELECT d, CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx
    FROM vals GROUP BY d
), err AS (
    SELECT v.d,
           ABS(v.v - (r.mn + (2 * ((2 * 255 * (v.v - r.mn) + (r.mx - r.mn))
                                   // (2 * (r.mx - r.mn))) * (r.mx - r.mn)
                              + 255) // 510)) AS e
    FROM vals v JOIN rng r ON r.d = v.d
    WHERE r.mx > r.mn
), per AS MATERIALIZED (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(e) AS BIGINT) AS max_err,
           CAST(SUM(e) AS BIGINT) AS sum_err
    FROM err GROUP BY d
)
SELECT CAST(per.d AS INT) AS dim, rng.mn, rng.mx, per.max_err,
       CAST((2 * 1000000 * per.sum_err + per.n) // (2 * per.n) AS BIGINT)
           AS mean_err_micro
FROM per JOIN rng ON rng.d = per.d
ORDER BY dim
"""


@register("q493_quantization_audit", oracle=_QUANT_ORACLE)
def q493(embeddings):
    """Exact-integer int8 quantization error per dim (oracle comment)."""
    vals = embeddings.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("bigint"),
            )
        ).alias("d0", "v")
    ).select((F.col("d0") + 1).alias("d"), "v")
    rng = vals.groupBy("d").agg(
        F.min("v").cast("bigint").alias("mn"), F.max("v").cast("bigint").alias("mx")
    )
    err = (
        vals.join(F.broadcast(rng), "d")
        .filter(F.col("mx") > F.col("mn"))
        .select(
            "d",
            "mn",
            "mx",
            F.expr(
                f"ABS(v - (mn + (2 * ({rhu('255 * (v - mn)', '(mx - mn)')}) * (mx - mn)"
                " + 255) DIV 510))"
            ).alias("e"),
        )
    )
    per = err.groupBy("d", "mn", "mx").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("e").cast("bigint").alias("max_err"),
        F.sum("e").cast("bigint").alias("sum_err"),
    )
    return per.select(
        F.col("d").cast("int").alias("dim"),
        "mn",
        "mx",
        "max_err",
        F.expr(
            f"CAST({rhu('1000000 * sum_err', 'n')} AS BIGINT)"
        ).alias("mean_err_micro"),
    ).orderBy("dim")


# ---------- q494: repetition screen (distinct-4-gram ratio)

# Degenerate-text screen: docs whose OVERLAPPING 4-gram stream is
# dominated by repeats (distinct/total < 1/2) get flagged; per-source
# flag counts plus the mean ratio of already-exact per-doc micro
# ratios. Complements q427 (unigram TTR) and q444 (cross-split
# novelty): this one is within-doc and order-sensitive.
_REPEAT_ORACLE = """
WITH toks AS (
    SELECT doc_id, source,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), grams AS (
    SELECT doc_id, source, ARRAY_TO_STRING(ts[i:i + 3], ' ') AS g
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts) - 3)) t(i)
    WHERE LEN(ts) >= 4
), per AS (
    SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n4,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS d4
    FROM grams GROUP BY doc_id, source
), ratio AS (
    SELECT source,
           CAST((2 * 1000000 * d4 + n4) // (2 * n4) AS BIGINT) AS r_micro
    FROM per
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN r_micro < 500000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       CAST((2 * SUM(r_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS mean_ratio_micro
FROM ratio GROUP BY source ORDER BY source
"""


@register("q494_repetition_screen", oracle=_REPEAT_ORACLE)
def q494(documents):
    """Within-doc 4-gram repetition flags per source (oracle comment)."""
    toks = documents.select(
        "doc_id",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0).alias(
            "ts"
        ),
    )
    grams = toks.filter(F.size("ts") >= 4).select(
        "doc_id",
        "source",
        F.expr(
            "explode(transform(sequence(1, size(ts) - 3),"
            " i -> array_join(slice(ts, i, 4), ' ')))"
        ).alias("g"),
    )
    per = grams.groupBy("doc_id", "source").agg(
        F.count("*").cast("bigint").alias("n4"),
        F.count_distinct("g").cast("bigint").alias("d4"),
    )
    ratio = per.select(
        "source",
        F.expr(f"CAST({rhu('1000000 * d4', 'n4')} AS BIGINT)").alias(
            "r_micro"
        ),
    )
    return (
        ratio.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("r_micro") < 500000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.expr(
                f"CAST({rhu('SUM(r_micro)', 'COUNT(*)')} AS BIGINT)"
            ).alias("mean_ratio_micro"),
        )
        .orderBy("source")
    )


# ---------- q495: AR(1) autocorrelation + OU half-life (daily revenue)

# Mean-reversion audit: lag-1 Pearson rho over the calendar-bounded
# daily frame from EXACT pair moments (join rn -> rn+1, the q308
# index), then half-life = ln 2 / (-ln rho) — both transcendentals in
# ONE textually-parallel double expression over the same exact integer
# moments, rounded to 6 (the house transcendental discipline).
_AR1_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), pr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(a.cents) AS BIGINT) AS sx,
           CAST(SUM(b.cents) AS BIGINT) AS sy,
           CAST(SUM(CAST(a.cents AS HUGEINT) * b.cents) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(a.cents AS HUGEINT) * a.cents) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(b.cents AS HUGEINT) * b.cents) AS HUGEINT) AS syy
    FROM idx a JOIN idx b ON b.rn = a.rn + 1
)
SELECT m AS n_pairs,
       ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS rho_r6,
       CASE WHEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN ROUND(LN(2) / (-LN((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                                    - CAST(sy AS DOUBLE)
                                      * CAST(sy AS DOUBLE))))), 6)
            ELSE NULL END AS halflife_r6
FROM pr
"""


@register("q495_ar1_halflife", oracle=_AR1_ORACLE)
def q495(orders):
    """AR(1) rho + OU half-life over exact pair moments (oracle
    comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    a = idx.select(F.col("cents").alias("xa"), "rn")
    b = idx.select(F.col("cents").alias("xb"), (F.col("rn") - 1).alias("rn"))
    d38 = "DECIMAL(38,0)"
    pr = a.join(b, "rn").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("xa").cast("bigint").alias("sx"),
        F.sum("xb").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(xa AS {d38}) * xb")).alias("sxy"),
        F.sum(F.expr(f"CAST(xa AS {d38}) * xa")).alias("sxx"),
        F.sum(F.expr(f"CAST(xb AS {d38}) * xb")).alias("syy"),
    )
    rho = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    num = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    return pr.select(
        F.col("m").alias("n_pairs"),
        F.expr(f"ROUND({rho}, 6)").alias("rho_r6"),
        F.expr(
            f"CASE WHEN {num} > 0"
            f" THEN ROUND(LN(2) / (-LN({rho})), 6) ELSE NULL END"
        ).alias("halflife_r6"),
    )


# ---------- q496: gains/lift deciles (click spend -> purchase)

# Uplift-model-free targeting baseline: score users by click cents,
# decile by UNIQUE rank (score DESC, user_id), report per-decile
# conversion lift and cumulative gains in exact micro units. The rank
# window runs over the per-user aggregate — volume collapses first
# (the q463 user-frame posture).
_GAINS_ORACLE = """
WITH peru AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'
                         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS score,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS conv
    FROM events GROUP BY user_id
), ranked AS (
    SELECT score, conv,
           ROW_NUMBER() OVER (ORDER BY score DESC, user_id) - 1 AS r,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM peru
), dec AS MATERIALIZED (
    SELECT CAST(r * 10 // n + 1 AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_u,
           CAST(SUM(conv) AS BIGINT) AS n_conv
    FROM ranked GROUP BY decile
), tot AS MATERIALIZED (
    SELECT CAST(SUM(n_u) AS BIGINT) AS n, CAST(SUM(n_conv) AS BIGINT) AS c
    FROM dec
)
SELECT dec.decile, dec.n_u, dec.n_conv,
       CAST((2 * 1000000 * dec.n_conv * tot.n + dec.n_u * tot.c)
            // (2 * dec.n_u * tot.c) AS BIGINT) AS lift_micro,
       CAST((2 * 1000000 * SUM(dec.n_conv) OVER (ORDER BY dec.decile)
             + tot.c) // (2 * tot.c) AS BIGINT) AS cum_gain_micro
FROM dec, tot ORDER BY dec.decile
"""


@register("q496_gains_deciles", oracle=_GAINS_ORACLE)
def q496(events):
    """Decile lift + cumulative gains in exact micro units (oracle
    comment)."""
    peru = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "click",
                cents("value"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    wr = Window.orderBy(F.col("score").desc(), "user_id")
    ranked = peru.select(
        "conv",
        (F.row_number().over(wr) - 1).alias("r"),
        F.count("*").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).cast("bigint").alias("n"),
    )
    dec = ranked.groupBy(
        F.expr("CAST(r * 10 DIV n + 1 AS BIGINT)").alias("decile")
    ).agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    tot = dec.agg(
        F.sum("n_u").cast("bigint").alias("n"),
        F.sum("n_conv").cast("bigint").alias("c"),
    )
    wd = Window.orderBy("decile")
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_u",
            "n_conv",
            F.expr(
                f"CAST({rhu('1000000 * n_conv * n', 'n_u * c')} AS BIGINT)"
            ).alias("lift_micro"),
            F.expr(
                f"CAST({rhu('1000000 * SUM(n_conv) OVER (ORDER BY decile)', 'c')}"
                " AS BIGINT)"
            ).alias("cum_gain_micro"),
        )
        .orderBy("decile")
    )


# ---------- q497: weekday seasonality strength (eta² by dow7)

# How much of daily-revenue variance the weekday explains: one-way
# eta² = SSB/SST with groups = engine-neutral epoch-day mod 7 (the
# q339 dow7 recipe; DAYOFWEEK numbering differs across engines). Group
# moments are exact integers; eta² is the only double (q207), rounded
# to 6.
_SEASTR_ORACLE = _DAILY_CTE + """
, d AS (
    SELECT CAST(EPOCH_MS(CAST(day AS TIMESTAMP)) // 86400000 % 7 AS INT)
               AS dow7,
           cents
    FROM daily
), g AS (
    SELECT dow7, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
    FROM d GROUP BY dow7
), t AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s,
           CAST(SUM(q) AS HUGEINT) AS q,
           SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssg
    FROM g
)
SELECT n AS n_days,
       ROUND((ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
             6) AS eta2_r6
FROM t
"""


@register("q497_weekday_seasonality", oracle=_SEASTR_ORACLE)
def q497(orders):
    """Weekday eta² of daily revenue (oracle comment)."""
    daily = _daily_cents(orders)
    d38 = "DECIMAL(38,0)"
    g = daily.select(
        F.pmod(F.unix_date(F.col("day").cast("date")), F.lit(7))
        .cast("int")
        .alias("dow7"),
        "cents",
    ).groupBy("dow7").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(cents AS {d38}) * cents")).alias("q"),
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("q").alias("q"),
        F.sum(
            F.expr(
                "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
            )
        ).alias("ssg"),
    )
    return t.select(
        F.col("n").alias("n_days"),
        F.expr(
            "ROUND((ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE))"
            " / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE)), 6)"
        ).alias("eta2_r6"),
    )


# ---------- q498: AMS F2 sketch vs exact second moment

# Alon-Matias-Szegedy self-join-size sketch, FULLY exact: 8 ±1 hash
# estimators (md5 nibble parity of the user key — the same literal hash
# on both engines), Z_j = sum_u c_u * sign_j(u), estimate = Z_j²,
# median-of-8 = avg of the 4th/5th order statistics (integer DIV). The
# relative error vs the exact F2 = sum c_u² is ONE signed micro
# division. Everything is integer arithmetic — no doubles at all.
_AMS_ORACLE = """
WITH cu AS MATERIALIZED (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY user_id
), signs AS (
    SELECT t.j,
           SUM(CASE WHEN STRPOS('0123456789abcdef',
                               SUBSTR(MD5(CAST(cu.user_id AS VARCHAR)), t.j, 1))
                         % 2 = 1
                    THEN cu.c ELSE -cu.c END) AS z
    FROM cu, LATERAL UNNEST(GENERATE_SERIES(1, 8)) t(j)
    GROUP BY t.j
), est AS (
    SELECT j, CAST(z AS BIGINT) AS z,
           CAST(CAST(z AS HUGEINT) * z AS HUGEINT) AS e,
           ROW_NUMBER() OVER (ORDER BY CAST(z AS HUGEINT) * z, j) AS rk
    FROM signs
), med AS MATERIALIZED (
    SELECT CAST((SUM(CASE WHEN rk = 4 THEN e ELSE 0 END)
                 + SUM(CASE WHEN rk = 5 THEN e ELSE 0 END)) // 2 AS HUGEINT)
               AS m
    FROM est
), f2 AS MATERIALIZED (
    SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS f2 FROM cu
)
SELECT CAST(f2.f2 AS BIGINT) AS f2_exact,
       CAST(med.m AS BIGINT) AS f2_sketch,
       CAST((2 * (1000000 * (med.m - f2.f2) + 1000000000 * f2.f2) + f2.f2)
            // (2 * f2.f2) - 1000000000 AS BIGINT) AS rel_err_micro
FROM med, f2
"""


@register("q498_ams_f2_sketch", oracle=_AMS_ORACLE)
def q498(spark, events):
    """Median-of-8 AMS F2 estimate vs exact, fully integer (oracle
    comment)."""
    cu = events.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    js = spark.createDataFrame([(j,) for j in range(1, 9)], "j int")
    signs = (
        cu.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN POSITION(SUBSTR(MD5(CAST(user_id AS STRING)), j, 1)"
                    " IN '0123456789abcdef') % 2 = 1 THEN c ELSE -c END"
                )
            ).alias("z")
        )
    )
    d38 = "DECIMAL(38,0)"
    est = signs.select(
        "j",
        F.col("z").cast("bigint").alias("z"),
        F.expr(f"CAST(z AS {d38}) * z").alias("e"),
    ).withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.expr(f"CAST(z AS {d38}) * z"), "j")),
    )
    med = est.agg(
        F.expr(
            "CAST((SUM(CASE WHEN rk = 4 THEN e ELSE 0 END)"
            " + SUM(CASE WHEN rk = 5 THEN e ELSE 0 END)) DIV 2 AS DECIMAL(38,0))"
        ).alias("m")
    )
    f2 = cu.agg(F.expr(f"CAST(SUM(CAST(c AS {d38}) * c) AS {d38})").alias("f2"))
    return med.crossJoin(F.broadcast(f2)).select(
        F.expr("CAST(f2 AS BIGINT)").alias("f2_exact"),
        F.expr("CAST(m AS BIGINT)").alias("f2_sketch"),
        F.expr(
            f"CAST({rhu('(1000000 * (m - f2) + 1000000000 * f2)', 'f2')} - 1000000000"
            " AS BIGINT)"
        ).alias("rel_err_micro"),
    )


# ---------- q499: differentially-private counts (seeded Laplace)

# The eps=1 Laplace mechanism with HASH-SEEDED noise so the release is
# reproducible across engines and runs: u in [0,1) from the first 8
# md5 hex digits of the group key, noise = -sign(u-1/2) *
# ln(1 - 2|u-1/2|). True counts are exact integers; the noisy release
# is the only double (textually parallel inverse-CDF), rounded to 6.
# A real deployment swaps the seeded hash for calibrated randomness —
# the Spark-side plumbing (per-group noise, sensitivity-1 counts) is
# the deliverable.
_DP_ORACLE = """
WITH g AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
), u AS MATERIALIZED (
    SELECT event_type, n,
           CAST(('0x' || SUBSTR(MD5(event_type), 1, 8))::BIGINT AS DOUBLE)
               / 4294967296.0 AS u
    FROM g
)
SELECT event_type, n AS true_n,
       ROUND(CAST(n AS DOUBLE)
             - (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
               * LN(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noisy_r6
FROM u ORDER BY event_type
"""


@register("q499_dp_laplace_counts", oracle=_DP_ORACLE)
def q499(events):
    """Seeded-Laplace DP count release (oracle comment)."""
    g = events.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    u = g.select(
        "event_type",
        "n",
        (
            F.conv(F.substring(F.md5("event_type"), 1, 8), 16, 10)
            .cast("double")
            / 4294967296.0
        ).alias("u"),
    )
    return u.select(
        "event_type",
        F.col("n").alias("true_n"),
        F.expr(
            "ROUND(CAST(n AS DOUBLE)"
            " - (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)"
            " * LN(1.0 - 2.0 * ABS(u - 0.5)), 6)"
        ).alias("noisy_r6"),
    ).orderBy("event_type")


# ---------- q500: cross-table consistency-rule scorecard

# The referential/value-rule audit a pipeline runs before training
# ingestion: five declared rules, each an exact count pair
# (checked, violations) + rhu micro rate, UNION'd into one scorecard.
# Each rule is a scan-local aggregate or a broadcast/shuffle anti-join
# — no rule sorts volume.
_RULES_ORACLE = """
WITH r1 AS (
    SELECT 'lineitem_orphan' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viol
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
), r2 AS (
    SELECT 'ship_before_order' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viol
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), r3 AS (
    SELECT 'nonpositive_price' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_viol
    FROM orders
), r4 AS (
    SELECT 'discount_range' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0
                    END) AS BIGINT) AS n_viol
    FROM lineitem
), r5 AS (
    SELECT 'customer_orphan' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_viol
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
), allr AS (
    SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
    UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5
)
SELECT rule, n_checked, n_viol,
       CAST((2 * 1000000 * n_viol + n_checked) // (2 * n_checked) AS BIGINT)
           AS viol_micro
FROM allr ORDER BY rule
"""


@register("q500_consistency_rules", oracle=_RULES_ORACLE)
def q500(lineitem, orders, customer):
    """Five-rule integrity scorecard (oracle comment)."""
    r1 = (
        lineitem.join(
            orders.select("o_orderkey"), lineitem["l_orderkey"] == orders["o_orderkey"], "left"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_checked"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_viol"),
        )
        .select(F.lit("lineitem_orphan").alias("rule"), "n_checked", "n_viol")
    )
    r2 = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .agg(
            F.count("*").cast("bigint").alias("n_checked"),
            F.sum(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_viol"),
        )
        .select(F.lit("ship_before_order").alias("rule"), "n_checked", "n_viol")
    )
    r3 = orders.agg(
        F.count("*").cast("bigint").alias("n_checked"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_viol"),
    ).select(F.lit("nonpositive_price").alias("rule"), "n_checked", "n_viol")
    r4 = lineitem.agg(
        F.count("*").cast("bigint").alias("n_checked"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_viol"),
    ).select(F.lit("discount_range").alias("rule"), "n_checked", "n_viol")
    r5 = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders["o_custkey"] == customer["c_custkey"],
            "left",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_viol"),
        )
        .select(F.lit("customer_orphan").alias("rule"), "n_checked", "n_viol")
    )
    allr = r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5)
    return allr.select(
        "rule",
        "n_checked",
        "n_viol",
        F.expr(
            f"CAST({rhu('1000000 * n_viol', 'n_checked')} AS BIGINT)"
        ).alias("viol_micro"),
    ).orderBy("rule")


# ---------- q501: inter-arrival magnitude histogram

# Per-user inter-event gaps in whole seconds, bucketed by DECIMAL
# magnitude (digit count of the gap — engine-neutral integer bucketing;
# log-scale buckets without a transcendental), per event_type of the
# LATER event. The lag window is user-partitioned (never global), gaps
# of 0 land in bucket 1.
_ARRIVAL_ORACLE = """
WITH ev AS (
    SELECT user_id, event_type,
           CAST(EPOCH_MS(ts) // 1000 AS BIGINT) AS es, event_id
    FROM events
), gaps AS (
    SELECT event_type,
           es - LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
               AS gap
    FROM ev
)
SELECT event_type, CAST(LEN(CAST(gap AS VARCHAR)) AS BIGINT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(gap) AS BIGINT) AS min_gap,
       CAST(MAX(gap) AS BIGINT) AS max_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY event_type, magnitude ORDER BY event_type, magnitude
"""


@register("q501_interarrival_histogram", oracle=_ARRIVAL_ORACLE)
def q501(events):
    """Digit-count bucketed inter-arrival histogram (oracle comment)."""
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("bigint").alias("es"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    gaps = ev.select(
        "event_type", (F.col("es") - F.lag("es").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return (
        gaps.groupBy(
            "event_type",
            F.length(F.col("gap").cast("string")).cast("bigint").alias("magnitude"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("gap").cast("bigint").alias("min_gap"),
            F.max("gap").cast("bigint").alias("max_gap"),
        )
        .orderBy("event_type", "magnitude")
    )


# ---------- q502: Hurst exponent by rescaled range (R/S)

# Long-memory audit of daily revenue. Non-overlapping blocks of the
# PRESENT-day index (declared contract: gaps closed by rank, not
# calendar) at sizes 8/16/32/64; per block the cumulative deviation is
# kept MEAN-CLEARED IN INTEGERS by scaling with m (dev_k = m*cum_k -
# k*S), so R_scaled = max-min is exact and R/S = R_scaled /
# sqrt(m*q - S²) is ONE per-block double, rounded to integer MICRO
# per the explicit-ROUND rule; block means are then exact integer rhu.
# The Hurst slope regresses ln(mean R/S) on ln m over the FOUR pivoted
# points in one fixed-order expression — no double is ever summed
# across a row stream.
_HURST_ORACLE = _DAILY_CTE + """
, idx AS (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), ms AS (
    SELECT * FROM (VALUES (8), (16), (32), (64)) AS t(m)
), cells AS (
    SELECT ms.m, (idx.rn - 1) // ms.m AS blk, idx.rn, idx.cents,
           SUM(idx.cents) OVER (PARTITION BY ms.m, (idx.rn - 1) // ms.m
                                ORDER BY idx.rn) AS cum,
           ROW_NUMBER() OVER (PARTITION BY ms.m, (idx.rn - 1) // ms.m
                              ORDER BY idx.rn) AS k,
           SUM(idx.cents) OVER (PARTITION BY ms.m, (idx.rn - 1) // ms.m)
               AS sblk
    FROM ms, idx
), blocks AS (
    SELECT m, blk, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS s,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q,
           CAST(MAX(m * cum - k * sblk) AS HUGEINT) AS devmax,
           CAST(MIN(m * cum - k * sblk) AS HUGEINT) AS devmin
    FROM cells GROUP BY m, blk
), rs AS (
    SELECT m,
           CAST(ROUND(1000000.0 * CAST(devmax - devmin AS DOUBLE)
                      / SQRT(CAST(m AS DOUBLE) * CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 0)
                AS BIGINT) AS rs_micro
    FROM blocks
    WHERE n = m AND CAST(m AS HUGEINT) * q > CAST(s AS HUGEINT) * s
), per AS MATERIALIZED (
    SELECT m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST((2 * SUM(rs_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS mean_rs_micro
    FROM rs GROUP BY m
), pv AS (
    SELECT MAX(CASE WHEN m = 8 THEN mean_rs_micro END) AS y8,
           MAX(CASE WHEN m = 16 THEN mean_rs_micro END) AS y16,
           MAX(CASE WHEN m = 32 THEN mean_rs_micro END) AS y32,
           MAX(CASE WHEN m = 64 THEN mean_rs_micro END) AS y64
    FROM per
)
SELECT per.m, per.n_blocks, per.mean_rs_micro,
       ROUND((
         (LN(8.0)  - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * LN(CAST(pv.y8 AS DOUBLE) / 1000000.0)
         + (LN(16.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * LN(CAST(pv.y16 AS DOUBLE) / 1000000.0)
         + (LN(32.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * LN(CAST(pv.y32 AS DOUBLE) / 1000000.0)
         + (LN(64.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * LN(CAST(pv.y64 AS DOUBLE) / 1000000.0)
       ) / (
         (LN(8.0)  - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * (LN(8.0)  - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
         + (LN(16.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * (LN(16.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
         + (LN(32.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * (LN(32.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
         + (LN(64.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
           * (LN(64.0) - (LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0)
       ), 6) AS hurst_r6
FROM per, pv ORDER BY per.m
"""


@register("q502_hurst_exponent", oracle=_HURST_ORACLE)
def q502(spark, orders):
    """R/S Hurst slope over 4 pivoted block sizes (oracle comment)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    ms = spark.createDataFrame([(8,), (16,), (32,), (64,)], "m int")
    cells = (
        F.broadcast(ms)
        .join(idx)
        .select(
            "m",
            F.expr("(rn - 1) DIV m").alias("blk"),
            "rn",
            "cents",
        )
    )
    wb = Window.partitionBy("m", "blk")
    wo = wb.orderBy("rn")
    d38 = "DECIMAL(38,0)"
    withc = cells.select(
        "m",
        "blk",
        "cents",
        F.sum("cents").over(wo).alias("cum"),
        F.row_number().over(wo).alias("k"),
        F.sum("cents").over(wb).alias("sblk"),
    )
    blocks = withc.groupBy("m", "blk").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(cents AS {d38}) * cents")).alias("q"),
        F.max(F.expr(f"CAST(m * cum - k * sblk AS {d38})")).alias("devmax"),
        F.min(F.expr(f"CAST(m * cum - k * sblk AS {d38})")).alias("devmin"),
    )
    rs = blocks.filter(
        (F.col("n") == F.col("m"))
        & (F.expr(f"CAST(m AS {d38}) * q > CAST(s AS {d38}) * s"))
    ).select(
        "m",
        F.expr(
            "CAST(ROUND(1000000.0 * CAST(devmax - devmin AS DOUBLE)"
            " / SQRT(CAST(m AS DOUBLE) * CAST(q AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 0) AS BIGINT)"
        ).alias("rs_micro"),
    )
    per = rs.groupBy("m").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.expr(
            f"CAST({rhu('SUM(rs_micro)', 'COUNT(*)')} AS BIGINT)"
        ).alias("mean_rs_micro"),
    )
    pv = per.agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("mean_rs_micro"))).alias(f"y{m}")
            for m in (8, 16, 32, 64)
        ]
    )
    xbar = "(LN(8.0) + LN(16.0) + LN(32.0) + LN(64.0)) / 4.0"
    num = " + ".join(
        f"(LN({m}.0) - {xbar}) * LN(CAST(y{m} AS DOUBLE) / 1000000.0)"
        for m in (8, 16, 32, 64)
    )
    den = " + ".join(
        f"(LN({m}.0) - {xbar}) * (LN({m}.0) - {xbar})" for m in (8, 16, 32, 64)
    )
    return (
        per.crossJoin(F.broadcast(pv))
        .select(
            "m",
            "n_blocks",
            "mean_rs_micro",
            F.expr(f"ROUND(({num}) / ({den}), 6)").alias("hurst_r6"),
        )
        .orderBy("m")
    )


# ---------- q503: McNemar's paired test (clicked in H1 vs H2)

# Paired binary before/after: did each user click in the first vs
# second half of the GLOBAL observation window (boundary = integer
# midpoint of min/max epoch-seconds — exact)? Only the discordant
# cells matter: chi² = (b-c)²/(b+c), reported as exact rhu micro.
_MCNEMAR_ORACLE = """
WITH ev AS MATERIALIZED (
    SELECT user_id, event_type, CAST(EPOCH_MS(ts) // 1000 AS BIGINT) AS es
    FROM events
), bound AS MATERIALIZED (
    SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM ev
), peru AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' AND es <= bound.mid
                    THEN 1 ELSE 0 END) AS h1,
           MAX(CASE WHEN event_type = 'click' AND es > bound.mid
                    THEN 1 ELSE 0 END) AS h2
    FROM ev, bound GROUP BY user_id, bound.mid
), cells AS (
    SELECT CAST(SUM(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS b,
           CAST(SUM(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM peru
)
SELECT n_users, b, c,
       CAST(CASE WHEN b + c > 0
                 THEN (2 * 1000000 * (b - c) * (b - c) + (b + c))
                      // (2 * (b + c))
                 ELSE 0 END AS BIGINT) AS chi2_micro
FROM cells
"""


@register("q503_mcnemar_paired", oracle=_MCNEMAR_ORACLE)
def q503(events):
    """McNemar discordant-pair chi² in exact micro units (oracle
    comment)."""
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("bigint").alias("es"),
    )
    bound = ev.agg(
        F.expr("(MIN(es) + MAX(es)) DIV 2").alias("mid")
    )
    peru = (
        ev.crossJoin(F.broadcast(bound))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "click") & (F.col("es") <= F.col("mid")),
                    1,
                ).otherwise(0)
            ).alias("h1"),
            F.max(
                F.when(
                    (F.col("event_type") == "click") & (F.col("es") > F.col("mid")),
                    1,
                ).otherwise(0)
            ).alias("h2"),
        )
    )
    cells = peru.agg(
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    return cells.select(
        "n_users",
        "b",
        "c",
        F.expr(
            "CAST(CASE WHEN b + c > 0 THEN"
            f" {rhu('1000000 * (b - c) * (b - c)', '(b + c)')} ELSE 0 END AS BIGINT)"
        ).alias("chi2_micro"),
    )


# ---------- q504: Friedman test + Kendall's W (weekday ranks by week)

# Blocked rank tests: blocks = COMPLETE epoch-weeks (all 7 present
# days), treatments = dow7, measure = daily cents. Within-block ranks
# are UNIQUE by the declared (cents, dow7) tiebreak, so rank sums are
# exact integers: Friedman chi² = (12*SR2 - 3*m²*k*(k+1)²) /
# (m*k*(k+1)) and Kendall W = (12*SR2 - 3*m²*k*(k+1)²) /
# (m²*k*(k²-1)) share one numerator — two exact rhu micro divisions.
_FRIEDMAN_ORACLE = _DAILY_CTE + """
, d AS (
    SELECT CAST(EPOCH_MS(CAST(day AS TIMESTAMP)) // 86400000 AS BIGINT) AS ed,
           cents
    FROM daily
), wk AS MATERIALIZED (
    SELECT ed // 7 AS week, CAST(ed % 7 AS INT) AS dow7, cents FROM d
), full_weeks AS MATERIALIZED (
    SELECT week FROM wk GROUP BY week HAVING COUNT(*) = 7
), ranked AS (
    SELECT w.week, w.dow7,
           ROW_NUMBER() OVER (PARTITION BY w.week
                              ORDER BY w.cents, w.dow7) AS r
    FROM wk w JOIN full_weeks f ON f.week = w.week
), rsum AS (
    SELECT dow7, CAST(SUM(r) AS BIGINT) AS rj FROM ranked GROUP BY dow7
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m FROM full_weeks
), s AS (
    SELECT CAST(SUM(CAST(rj AS HUGEINT) * rj) AS HUGEINT) AS sr2 FROM rsum
)
SELECT m.m AS n_weeks, CAST(s.sr2 AS BIGINT) AS sum_r2,
       CAST((2 * (1000000 * (12 * s.sr2 - 3 * CAST(m.m AS HUGEINT) * m.m * 7 * 64)
                  + 1000000000 * (m.m * 56))
             + m.m * 56) // (2 * m.m * 56) - 1000000000 AS BIGINT)
           AS friedman_micro,
       CAST((2 * (1000000 * (12 * s.sr2 - 3 * CAST(m.m AS HUGEINT) * m.m * 7 * 64)
                  + 1000000000 * (CAST(m.m AS HUGEINT) * m.m * 336))
             + CAST(m.m AS HUGEINT) * m.m * 336)
            // (2 * CAST(m.m AS HUGEINT) * m.m * 336) - 1000000000 AS BIGINT)
           AS kendall_w_micro
FROM m, s
"""


@register("q504_friedman_kendall_w", oracle=_FRIEDMAN_ORACLE)
def q504(orders):
    """Friedman chi² + Kendall W over complete weekday blocks (oracle
    comment; k=7: k+1=8, k(k+1)²=448 -> 3k(k+1)²=1344; the oracle
    folds constants: m*k*(k+1)=56m, m²k(k²-1)=336m²)."""
    daily = _daily_cents(orders)
    d = daily.select(
        F.unix_date(F.col("day").cast("date")).cast("bigint").alias("ed"), "cents"
    )
    # pinned: wk feeds the completeness filter AND the ranked join, and
    # full_weeks feeds that join AND the block count — unpinned, the
    # daily-revenue aggregate runs three times (guide §2.4; before-plan:
    # 9 Exchanges)
    wk = d.select(
        F.expr("ed DIV 7").alias("week"),
        F.pmod(F.col("ed"), F.lit(7)).cast("int").alias("dow7"),
        "cents",
    ).transform(pin)
    full_weeks = (
        wk.groupBy("week")
        .count()
        .filter(F.col("count") == 7)
        .select("week")
        .transform(pin)
    )
    ranked = wk.join(full_weeks, "week").select(
        "week",
        "dow7",
        F.row_number()
        .over(Window.partitionBy("week").orderBy("cents", "dow7"))
        .alias("r"),
    )
    rsum = ranked.groupBy("dow7").agg(F.sum("r").cast("bigint").alias("rj"))
    d38 = "DECIMAL(38,0)"
    m = full_weeks.agg(F.count("*").cast("bigint").alias("m"))
    s = rsum.agg(F.expr(f"CAST(SUM(CAST(rj AS {d38}) * rj) AS {d38})").alias("sr2"))
    return (
        m.crossJoin(s)
        .select(
            F.col("m").alias("n_weeks"),
            F.expr("CAST(sr2 AS BIGINT)").alias("sum_r2"),
            F.expr(
                "CAST(" + rhu(
                    f"(1000000 * (12 * sr2 - 3 * CAST(m AS {d38}) * m * 7 * 64)"
                    " + 1000000000 * (m * 56))",
                    "m * 56",
                ) + " - 1000000000 AS BIGINT)"
            ).alias("friedman_micro"),
            F.expr(
                "CAST(" + rhu(
                    f"(1000000 * (12 * sr2 - 3 * CAST(m AS {d38}) * m * 7 * 64)"
                    f" + 1000000000 * (CAST(m AS {d38}) * m * 336))",
                    f"CAST(m AS {d38}) * m * 336",
                ) + " - 1000000000 AS BIGINT)"
            ).alias("kendall_w_micro"),
        )
    )


# ---------- q505: Cochran's Q (did-user-do-type across event types)

# The k-treatment binary extension of McNemar: blocks = users,
# treatments = the 4 canonical event types, x = user emitted that type
# at least once. Q = (k-1) * (k*sum C_j² - N²) / (k*N - sum R_i²) —
# every term an exact integer aggregate, ONE rhu micro division.
_COCHRANQ_ORACLE = """
WITH peru AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x1,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x2,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x3,
           MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS x4
    FROM events GROUP BY user_id
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x1) AS BIGINT) AS c1, CAST(SUM(x2) AS BIGINT) AS c2,
           CAST(SUM(x3) AS BIGINT) AS c3, CAST(SUM(x4) AS BIGINT) AS c4,
           CAST(SUM(x1 + x2 + x3 + x4) AS BIGINT) AS nn,
           CAST(SUM((x1 + x2 + x3 + x4) * (x1 + x2 + x3 + x4)) AS BIGINT)
               AS sr2
    FROM peru
)
SELECT n_users, nn AS n_successes,
       CAST(CASE WHEN 4 * nn - sr2 > 0 THEN
            (2 * (1000000 * 3 * (4 * (CAST(c1 AS HUGEINT) * c1
                                      + CAST(c2 AS HUGEINT) * c2
                                      + CAST(c3 AS HUGEINT) * c3
                                      + CAST(c4 AS HUGEINT) * c4)
                                 - CAST(nn AS HUGEINT) * nn))
             + (4 * nn - sr2)) // (2 * (4 * nn - sr2))
            ELSE 0 END AS BIGINT) AS q_micro
FROM agg
"""


@register("q505_cochran_q", oracle=_COCHRANQ_ORACLE)
def q505(events):
    """Cochran's Q in exact micro units (oracle comment)."""
    peru = events.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"x{i}")
            for i, t in enumerate(("click", "view", "purchase", "signup"), 1)
        ]
    )
    t = sum(F.col(f"x{i}") for i in range(1, 5))
    agg = peru.agg(
        F.count("*").cast("bigint").alias("n_users"),
        *[F.sum(f"x{i}").cast("bigint").alias(f"c{i}") for i in range(1, 5)],
        F.sum(t).cast("bigint").alias("nn"),
        F.sum(t * t).cast("bigint").alias("sr2"),
    )
    d38 = "DECIMAL(38,0)"
    return agg.select(
        "n_users",
        F.col("nn").alias("n_successes"),
        F.expr(
            "CAST(CASE WHEN 4 * nn - sr2 > 0 THEN " + rhu(
                f"(1000000 * 3 * (4 * (CAST(c1 AS {d38}) * c1 + CAST(c2 AS {d38}) * c2"
                f" + CAST(c3 AS {d38}) * c3 + CAST(c4 AS {d38}) * c4) - CAST(nn"
                f" AS {d38}) * nn))",
                "(4 * nn - sr2)",
            ) + " ELSE 0 END AS BIGINT)"
        ).alias("q_micro"),
    )


# ---------- q506: perceptual-hash collision groups (multimodal aHash)

# aHash over the DOCUMENTED fake decode (operators/multimodal.py): the
# 32 md5 nibbles of the payload stand in for an 8x4 pixel grid; bit_i =
# 1 iff 32*nibble_i > sum(nibbles) (exact integer mean threshold). The
# 32-bit hash is exact integer arithmetic on both engines; collision
# groups (>= 2 docs sharing a hash) rank by (n_docs DESC, ahash).
# A real deployment swaps the md5 grid for decoded pixels — the
# hashing, grouping, and ranking plumbing is the deliverable.
_AHASH_ORACLE = """
WITH nib AS MATERIALIZED (
    SELECT doc_id,
           STRPOS('0123456789abcdef', SUBSTR(MD5(text), t.i, 1)) - 1 AS v,
           t.i AS i
    FROM documents, LATERAL UNNEST(GENERATE_SERIES(1, 32)) t(i)
), tot AS (
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sv FROM nib GROUP BY doc_id
), hashed AS (
    SELECT n.doc_id,
           CAST(SUM(CASE WHEN 32 * n.v > t.sv
                         THEN CAST(1 AS BIGINT) << (n.i - 1)
                         ELSE 0 END) AS BIGINT) AS ahash
    FROM nib n JOIN tot t ON t.doc_id = n.doc_id
    GROUP BY n.doc_id
), agg AS (
    SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM hashed GROUP BY ahash
)
SELECT ahash, n_docs, min_doc
FROM agg WHERE n_docs >= 2
ORDER BY n_docs DESC, ahash LIMIT 20
"""


@register("q506_perceptual_ahash", oracle=_AHASH_ORACLE)
def q506(documents):
    """aHash collision groups over the md5-nibble fake decode (oracle
    comment)."""
    nib = (
        documents.select("doc_id", F.md5("text").alias("h"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(split(substr(h, 1, 32), '(?!^)'),"
                    " c -> instr('0123456789abcdef', c) - 1)"
                )
            ).alias("i0", "v"),
        )
        .select("doc_id", (F.col("i0") + 1).alias("i"), "v")
    )
    tot = nib.groupBy("doc_id").agg(F.sum("v").cast("bigint").alias("sv"))
    hashed = (
        nib.join(tot, "doc_id")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN 32 * v > sv THEN SHIFTLEFT(CAST(1 AS BIGINT), i - 1)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("bit"),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit").cast("bigint").alias("ahash"))
    )
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "ahash")
        .limit(20)
    )


# ---------- q507: Mann-Whitney U + rank-biserial effect size

# Two-sample rank test (click vs purchase values) over the q423 tied-
# rank machinery: DOUBLED average ranks r2 from the value histogram
# keep everything integer; U1*2 = sum(c1*r2) - n1*(n1+1) and the
# rank-biserial r = 1 - 2U/(n1*n2) = (n1*n2 - 2*U1)/(n1*n2) is ONE
# signed rhu micro division (x2 scale folds away).
_MWU_ORACLE = """
WITH v AS (
    SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type IN ('click', 'purchase')
), hist AS MATERIALIZED (
    SELECT g, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY g, c
), ties AS (
    SELECT c, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY c
), ranked AS (
    SELECT c,
           (2 * (COALESCE(SUM(n) OVER (ORDER BY c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + 1) + n - 1) AS r2
    FROM ties
), agg AS (
    SELECT CAST(SUM(CASE WHEN h.g = 'click' THEN h.cnt ELSE 0 END) AS BIGINT)
               AS n1,
           CAST(SUM(CASE WHEN h.g = 'purchase' THEN h.cnt ELSE 0 END) AS BIGINT)
               AS n2,
           CAST(SUM(CASE WHEN h.g = 'click'
                         THEN CAST(h.cnt AS HUGEINT) * r.r2 ELSE 0 END)
                AS HUGEINT) AS sr2
    FROM hist h JOIN ranked r ON r.c = h.c
)
SELECT n1, n2,
       CAST(sr2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
       CAST((2 * (1000000 * (2 * CAST(n1 AS HUGEINT) * n2
                             - (sr2 - CAST(n1 AS HUGEINT) * (n1 + 1)))
                  + 1000000000 * (2 * CAST(n1 AS HUGEINT) * n2))
             + 2 * CAST(n1 AS HUGEINT) * n2)
            // (2 * (2 * CAST(n1 AS HUGEINT) * n2)) - 1000000000 AS BIGINT)
           AS rank_biserial_micro
FROM agg
"""


@register("q507_mann_whitney_u", oracle=_MWU_ORACLE)
def q507(events):
    """Mann-Whitney U (doubled, exact) + rank-biserial micro (oracle
    comment)."""
    v = events.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("g"),
        cents("value").alias("c"),
    )
    hist = v.groupBy("g", "c").agg(F.count("*").cast("bigint").alias("cnt"))
    ties = hist.groupBy("c").agg(F.sum("cnt").cast("bigint").alias("n"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    ranked = ties.select(
        "c",
        (2 * (F.coalesce(F.sum("n").over(w), F.lit(0)) + 1) + F.col("n") - 1).alias(
            "r2"
        ),
    )
    d38 = "DECIMAL(38,0)"
    agg = (
        hist.join(ranked, "c")
        .agg(
            F.sum(F.when(F.col("g") == "click", F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("g") == "purchase", F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(
                F.when(
                    F.col("g") == "click",
                    F.expr(f"CAST(cnt AS {d38}) * r2"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("sr2"),
        )
    )
    return agg.select(
        "n1",
        "n2",
        F.expr(f"CAST(sr2 - CAST(n1 AS {d38}) * (n1 + 1) AS BIGINT)").alias(
            "u1_x2"
        ),
        F.expr(
            "CAST(" + rhu(
                f"(1000000 * (2 * CAST(n1 AS {d38}) * n2 - (sr2 - CAST(n1 AS {d38})"
                f" * (n1 + 1))) + 1000000000 * (2 * CAST(n1 AS {d38}) * n2))",
                f"(2 * CAST(n1 AS {d38}) * n2)",
            ) + " - 1000000000 AS BIGINT)"
        ).alias("rank_biserial_micro"),
    )


# ---------- q508: duplicate-cluster size histogram

# The shape of the dedup problem, not its members: component sizes from
# the q152 connected-components pipeline histogrammed (size ->
# n_clusters), plus the singleton row (docs with NO candidate pair) so
# the histogram partitions the whole corpus. Spark reuses the pointer-
# doubling CC operator; the oracle reuses the recursive min-label walk
# over the MATERIALIZED candidate-edge set.
_CLUSTHIST_ORACLE = _CC_ORACLE.replace(
    """SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM cc GROUP BY component ORDER BY component""",
    """, sizes AS (
    SELECT component, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY component
), hist AS (
    SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
), singles AS (
    SELECT CAST(1 AS BIGINT) AS cluster_size,
           CAST((SELECT COUNT(*) FROM documents)
                - (SELECT COUNT(*) FROM cc) AS BIGINT) AS n_clusters
)
SELECT * FROM hist UNION ALL SELECT * FROM singles
ORDER BY cluster_size""",
)


@register("q508_dup_cluster_histogram", oracle=_CLUSTHIST_ORACLE)
def q508(documents):
    """Cluster-size histogram of the LSH dup graph + singleton row
    (oracle comment)."""
    from ..operators.dedup_pipeline import connected_components
    from .llm import _minhash_corpus

    pairs = (
        B.candidate_pairs(_minhash_corpus(documents))
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    cc = connected_components(pairs)  # operator expects (doc_a, doc_b)
    sizes = cc.groupBy("component").agg(F.count("*").cast("bigint").alias("sz"))
    hist = sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("bigint").alias("n_clusters")
    )
    n_docs = documents.agg(F.count("*").cast("bigint").alias("nd"))
    n_cc = cc.agg(F.count("*").cast("bigint").alias("nc"))
    singles = (
        n_docs.crossJoin(n_cc)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("nd") - F.col("nc")).cast("bigint").alias("n_clusters"),
        )
    )
    return hist.unionByName(singles).orderBy("cluster_size")


# ---------- q509: per-dimension uniformity KS audit (embeddings)

# Feature-store QA: per embedding dimension, the exact KS distance
# between the empirical CDF of the milli-quantized values and the
# UNIFORM law on that dim's own [min, max]. Cross-multiplied integers
# make the sup exact: at value v with cumulative count c (of n) and
# multiplicity k, D+ = c*(mx-mn) - n*(v-mn), D- = n*(v-mn) -
# (c-k)*(mx-mn); d_micro = rhu(1e6 * max / (n*(mx-mn))). ONE explode,
# per-dim windows over value histograms — nothing global.
_UNIKS_ORACLE = """
WITH vals AS (
    SELECT t.i AS d,
           CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS v
    FROM embeddings, LATERAL UNNEST(GENERATE_SERIES(1, LEN(embedding))) t(i)
), hist AS (
    SELECT d, v, CAST(COUNT(*) AS BIGINT) AS k FROM vals GROUP BY d, v
), cum AS (
    SELECT d, v, k, SUM(k) OVER (PARTITION BY d ORDER BY v) AS c,
           MIN(v) OVER (PARTITION BY d) AS mn,
           MAX(v) OVER (PARTITION BY d) AS mx,
           SUM(k) OVER (PARTITION BY d) AS n
    FROM hist
), dev AS (
    SELECT d, n, mx, mn,
           GREATEST(c * (mx - mn) - n * (v - mn),
                    n * (v - mn) - (c - k) * (mx - mn)) AS num
    FROM cum WHERE mx > mn
), top AS (
    SELECT d, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(num) AS BIGINT) AS num,
           CAST(MAX(mx) AS BIGINT) AS mx, CAST(MIN(mn) AS BIGINT) AS mn
    FROM dev GROUP BY d
)
SELECT CAST(d AS INT) AS dim, n,
       CAST((2 * 1000000 * num + n * (mx - mn)) // (2 * n * (mx - mn))
            AS BIGINT) AS ks_micro
FROM top ORDER BY dim
"""


@register("q509_uniformity_ks", oracle=_UNIKS_ORACLE)
def q509(embeddings):
    """Exact per-dim KS distance vs uniform[min,max] (oracle comment)."""
    vals = embeddings.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("bigint"),
            )
        ).alias("d0", "v")
    ).select((F.col("d0") + 1).alias("d"), "v")
    hist = vals.groupBy("d", "v").agg(F.count("*").cast("bigint").alias("k"))
    wd = Window.partitionBy("d")
    wo = wd.orderBy("v")
    cum = hist.select(
        "d",
        "v",
        "k",
        F.sum("k").over(wo).alias("c"),
        F.min("v").over(wd).alias("mn"),
        F.max("v").over(wd).alias("mx"),
        F.sum("k").over(wd).alias("n"),
    )
    dev = cum.filter(F.col("mx") > F.col("mn")).select(
        "d",
        "n",
        "mx",
        "mn",
        F.greatest(
            F.expr("c * (mx - mn) - n * (v - mn)"),
            F.expr("n * (v - mn) - (c - k) * (mx - mn)"),
        ).alias("num"),
    )
    top = dev.groupBy("d").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("num").cast("bigint").alias("num"),
        F.max("mx").cast("bigint").alias("mx"),
        F.min("mn").cast("bigint").alias("mn"),
    )
    return top.select(
        F.col("d").cast("int").alias("dim"),
        "n",
        F.expr(
            f"CAST({rhu('1000000 * num', 'n * (mx - mn)')} AS BIGINT)"
        ).alias("ks_micro"),
    ).orderBy("dim")


# ---------- q510: point-biserial leakage/importance scan

# Pre-training leakage screen: correlation of five per-user candidate
# features (type counts + spend cents) with the binary purchase target,
# each r from exact integer moments in ONE textually-parallel double
# (q207), reported as a 5-row feature table via an identical literal
# unpivot on both engines.
_PBS_ORACLE = """
WITH peru AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS f2,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS f3,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS f4,
           CAST(COUNT(*) AS BIGINT) AS f5,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY user_id
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS qy,
           CAST(SUM(f1) AS BIGINT) AS s1,
           CAST(SUM(CAST(f1 AS HUGEINT) * f1) AS HUGEINT) AS q1,
           CAST(SUM(f1 * y) AS BIGINT) AS x1,
           CAST(SUM(f2) AS BIGINT) AS s2,
           CAST(SUM(CAST(f2 AS HUGEINT) * f2) AS HUGEINT) AS q2,
           CAST(SUM(f2 * y) AS BIGINT) AS x2,
           CAST(SUM(f3) AS BIGINT) AS s3,
           CAST(SUM(CAST(f3 AS HUGEINT) * f3) AS HUGEINT) AS q3,
           CAST(SUM(f3 * y) AS BIGINT) AS x3,
           CAST(SUM(f4) AS BIGINT) AS s4,
           CAST(SUM(CAST(f4 AS HUGEINT) * f4) AS HUGEINT) AS q4,
           CAST(SUM(f4 * y) AS BIGINT) AS x4,
           CAST(SUM(f5) AS BIGINT) AS s5,
           CAST(SUM(CAST(f5 AS HUGEINT) * f5) AS HUGEINT) AS q5,
           CAST(SUM(f5 * y) AS BIGINT) AS x5
    FROM peru
), un AS (
    SELECT 'f1_clicks' AS feature, s1 AS s, q1 AS q, x1 AS x, n, sy, qy FROM m
    UNION ALL
    SELECT 'f2_views', s2, q2, x2, n, sy, qy FROM m
    UNION ALL
    SELECT 'f3_signups', s3, q3, x3, n, sy, qy FROM m
    UNION ALL
    SELECT 'f4_spend_cents', s4, q4, x4, n, sy, qy FROM m
    UNION ALL
    SELECT 'f5_n_events', s5, q5, x5, n, sy, qy FROM m
)
SELECT feature,
       CASE WHEN CAST(n AS HUGEINT) * q > CAST(s AS HUGEINT) * s
                 AND n * qy > sy * sy
            THEN ROUND((CAST(n AS DOUBLE) * CAST(x AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
            ELSE NULL END AS r_r6
FROM un ORDER BY feature
"""


@register("q510_leakage_scan", oracle=_PBS_ORACLE)
def q510(events):
    """Point-biserial r per candidate feature (oracle comment)."""
    peru = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("bigint")
        .alias("f3"),
        F.sum(cents("value")).cast("bigint").alias("f4"),
        F.count("*").cast("bigint").alias("f5"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    d38 = "DECIMAL(38,0)"
    m = peru.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("qy"),
        *[
            a
            for i in range(1, 6)
            for a in (
                F.sum(f"f{i}").cast("bigint").alias(f"s{i}"),
                F.sum(F.expr(f"CAST(f{i} AS {d38}) * f{i}")).alias(f"q{i}"),
                F.sum(F.col(f"f{i}") * F.col("y")).cast("bigint").alias(f"x{i}"),
            )
        ],
        # pinned: the 1-row moment frame feeds the five per-feature
        # union branches — unpinned, the events scan + per-user
        # aggregate run five times (guide §2.4; before-plan: 10
        # Exchanges)
    ).transform(pin)
    names = {
        1: "f1_clicks",
        2: "f2_views",
        3: "f3_signups",
        4: "f4_spend_cents",
        5: "f5_n_events",
    }
    un = None
    for i, nm in names.items():
        row = m.select(
            F.lit(nm).alias("feature"),
            F.col(f"s{i}").alias("s"),
            F.col(f"q{i}").alias("q"),
            F.col(f"x{i}").alias("x"),
            "n",
            "sy",
            "qy",
        )
        un = row if un is None else un.unionByName(row)
    return un.select(
        "feature",
        F.expr(
            "CASE WHEN CAST(n AS DECIMAL(38,0)) * q > CAST(s AS DECIMAL(38,0)) * s"
            " AND n * qy > sy * sy THEN"
            " ROUND((CAST(n AS DOUBLE) * CAST(x AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (SQRT(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            " * SQRT(CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
            " ELSE NULL END"
        ).alias("r_r6"),
    ).orderBy("feature")


# ---------- q511: hash-fold split audit (target-rate parity)

# Train/val split QA: users land in 5 folds by md5 (the house
# deterministic splitter); the audit checks conversion-rate parity —
# per fold the exact micro rate plus its absolute deviation from the
# global micro rate (difference of already-exact micros, so the
# comparison itself is exact).
_FOLD_ORACLE = """
WITH peru AS (
    SELECT user_id,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS conv,
           ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 5
               AS fold
    FROM events GROUP BY user_id
), per AS MATERIALIZED (
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(conv) AS BIGINT) AS n_conv
    FROM peru GROUP BY fold
), tot AS MATERIALIZED (
    SELECT CAST(SUM(n_users) AS BIGINT) AS n, CAST(SUM(n_conv) AS BIGINT) AS c
    FROM per
)
SELECT CAST(per.fold AS INT) AS fold, per.n_users, per.n_conv,
       CAST((2 * 1000000 * per.n_conv + per.n_users) // (2 * per.n_users)
            AS BIGINT) AS rate_micro,
       CAST(ABS((2 * 1000000 * per.n_conv + per.n_users) // (2 * per.n_users)
                - (2 * 1000000 * tot.c + tot.n) // (2 * tot.n)) AS BIGINT)
           AS dev_micro
FROM per, tot ORDER BY fold
"""


@register("q511_split_parity_audit", oracle=_FOLD_ORACLE)
def q511(events):
    """md5-fold conversion parity audit (oracle comment)."""
    peru = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv")
    ).select(
        "conv",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 5
        ).alias("fold"),
    )
    per = peru.groupBy("fold").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    tot = per.agg(
        F.sum("n_users").cast("bigint").alias("n"),
        F.sum("n_conv").cast("bigint").alias("c"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("fold").cast("int").alias("fold"),
            "n_users",
            "n_conv",
            F.expr(
                f"CAST({rhu('1000000 * n_conv', 'n_users')} AS BIGINT)"
            ).alias("rate_micro"),
            F.expr(
                f"CAST(ABS({rhu('1000000 * n_conv', 'n_users')} -"
                f" {rhu('1000000 * c', 'n')}) AS BIGINT)"
            ).alias("dev_micro"),
        )
        .orderBy("fold")
    )


# ---------- q512: kNN label-noise audit (k=5 cosine neighbors)

# Mislabeled-example screen: each vector's 5 nearest neighbors by
# rounded cosine (vec_id tiebreak, the q286 ranking discipline); noise
# = fraction of those neighbors carrying a DIFFERENT label, averaged
# per label in exact micro units. Scale posture: the all-pairs stage is
# the exact baseline an ANN index replaces; everything after the top-5
# pick is integer counting.
_KNNNOISE_ORACLE = f"""
WITH vecs AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), pairs AS (
    SELECT a.vec_id AS va, a.label AS la, b.label AS lb,
           ROUND({cosine_duck('a.e', 'b.e')}, 4) AS sim,
           b.vec_id AS vb
    FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
), top5 AS (
    SELECT va, la, lb,
           ROW_NUMBER() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rk
    FROM pairs
), noise AS (
    SELECT va, la,
           CAST(SUM(CASE WHEN lb <> la THEN 1 ELSE 0 END) AS BIGINT) AS mism
    FROM top5 WHERE rk <= 5 GROUP BY va, la
)
SELECT CAST(la AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(mism) AS BIGINT) AS n_mismatch,
       CAST((2 * 1000000 * SUM(mism) + 5 * COUNT(*)) // (2 * 5 * COUNT(*))
            AS BIGINT) AS noise_micro
FROM noise GROUP BY la ORDER BY label
"""


@register("q512_knn_label_noise", oracle=_KNNNOISE_ORACLE)
def q512(embeddings):
    """k=5 neighbor label-disagreement per label (oracle comment)."""
    from ..operators.similarity import knn_block_topk

    top5 = knn_block_topk(embeddings, k=5)  # block-matmul kernel (see q492)
    noise = top5.groupBy(
        F.col("anchor").alias("va"), F.col("la")
    ).agg(
        F.sum(F.when(F.col("lb") != F.col("la"), 1).otherwise(0))
        .cast("bigint")
        .alias("mism")
    )
    return (
        noise.groupBy(F.col("la").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("mism").cast("bigint").alias("n_mismatch"),
            F.expr(
                f"CAST({rhu('1000000 * SUM(mism)', '5 * COUNT(*)')} AS BIGINT)"
            ).alias("noise_micro"),
        )
        .orderBy("label")
    )


# ---------- q513: grouped ship-latency quantile table (exact)

# Exact p50/p90/p99 of order-to-ship days per priority WITHOUT a global
# sort: per-group day-latency histogram + cumulative counts, the
# (n-1)*q/100 positional split, and the house floor-truncated linear
# interpolation in integer MILLI-DAYS. The quantile literals join in;
# every pick is MIN-over-threshold on the cumulative frame.
# NOTE (r13): emitted columns that flow from a DuckDB window SUM(BIGINT)
# must be CAST AS BIGINT — a window sum is HUGEINT, which is numerically
# equal (so the repo's Python-equality compare passes) but materializes
# as a different type under the driver's hash (CORRECTNESS_r12 flagged
# exactly the three quantile-family oracles emitting uncast n/kcut:
# q513/q515/q516). tests/test_oracle_types.py pins the whole registry.
_LATQ_ORACLE = """
WITH lat AS (
    SELECT o.o_orderpriority AS grp,
           CAST(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), hist AS (
    SELECT grp, d, CAST(COUNT(*) AS BIGINT) AS k FROM lat GROUP BY grp, d
), cum AS MATERIALIZED (
    SELECT grp, d, SUM(k) OVER (PARTITION BY grp ORDER BY d) AS c,
           SUM(k) OVER (PARTITION BY grp) AS n
    FROM hist
), qs AS MATERIALIZED (
    SELECT * FROM (VALUES (50), (90), (99)) AS t(q)
), pos AS (
    SELECT DISTINCT cum.grp, cum.n, qs.q,
           (cum.n - 1) * qs.q // 100 AS lo,
           (cum.n - 1) * qs.q % 100 AS frac
    FROM cum, qs
), picks AS (
    SELECT p.grp, p.q, p.n, p.frac,
           (SELECT MIN(c2.d) FROM cum c2
            WHERE c2.grp = p.grp AND c2.c >= p.lo + 1) AS vlo,
           (SELECT MIN(c3.d) FROM cum c3
            WHERE c3.grp = p.grp AND c3.c >= p.lo + 2) AS vhi
    FROM pos p
)
SELECT grp, CAST(q AS INT) AS q, CAST(n AS BIGINT) AS n,
       CAST(vlo * 1000 + (COALESCE(vhi, vlo) - vlo) * frac * 1000 // 100
            AS BIGINT) AS latency_milli
FROM picks ORDER BY grp, q
"""


@register("q513_latency_quantiles", oracle=_LATQ_ORACLE)
def q513(spark, lineitem, orders):
    """Exact grouped p50/p90/p99 with floor-trunc interpolation (oracle
    comment)."""
    lat = (
        lineitem
        .join(orders, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    hist = lat.groupBy("grp", "d").agg(F.count("*").cast("bigint").alias("k"))
    wg = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "d",
        F.sum("k").over(wg.orderBy("d")).alias("c"),
        F.sum("k").over(wg).alias("n"),
    )
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q int")
    # ONE pass picks both order statistics for all three quantiles: the
    # former pos/vlo/vhi branch trio re-ran the lineitem x orders join +
    # histogram + windows once per branch (guide §2.4 — three copies of
    # the subtree in the plan); n is a per-row window column, so lo is
    # computable per row after the 3-way broadcast cross, and vlo/vhi
    # are filtered MINs of one grouped aggregate. frac re-derives from
    # (n, q) in the final projection — identical integer arithmetic.
    picks = (
        cum.crossJoin(F.broadcast(qs))
        .withColumn("lo", F.expr("(n - 1) * q DIV 100"))
        .groupBy("grp", "q")
        .agg(
            F.max("n").alias("n"),
            F.min(F.when(F.col("c") >= F.col("lo") + 1, F.col("d"))).alias("vlo"),
            F.min(F.when(F.col("c") >= F.col("lo") + 2, F.col("d"))).alias("vhi"),
        )
    )
    return picks.select(
        "grp",
        F.col("q").cast("int").alias("q"),
        "n",
        F.expr(
            "CAST(vlo * 1000 + (COALESCE(vhi, vlo) - vlo)"
            " * ((n - 1) * q % 100) * 1000 DIV 100 AS BIGINT)"
        ).alias("latency_milli"),
    ).orderBy("grp", "q")


# ---------- q514: Gumbel top-k weighted sampling (deterministic)

# Weighted sampling WITHOUT replacement via the Gumbel-max trick, made
# reproducible with md5-seeded uniforms (u from the first 8 hex digits,
# +0.5 so u is never 0): key = ln(w) - ln(-ln(u)), w = n_chars. Top-10
# by ROUNDED key with doc_id tiebreak (the transcendental-ranking
# discipline). This is the deterministic twin of the data-mixing
# sampler a curriculum pipeline runs per epoch.
_GUMBEL_ORACLE = """
WITH u AS MATERIALIZED (
    SELECT doc_id, n_chars,
           (CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 AS DOUBLE) + 0.5) / 4294967296.0 AS u
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars,
       ROUND(LN(CAST(n_chars AS DOUBLE)) - LN(-LN(u)), 6) AS key_r6
FROM u ORDER BY key_r6 DESC, doc_id LIMIT 10
"""


@register("q514_gumbel_topk", oracle=_GUMBEL_ORACLE)
def q514(documents):
    """Seeded Gumbel top-10 weighted sample (oracle comment)."""
    u = documents.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "n_chars",
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
                ).cast("double")
                + 0.5
            )
            / 4294967296.0
        ).alias("u"),
    )
    return (
        u.select(
            "doc_id",
            "n_chars",
            F.expr(
                "ROUND(LN(CAST(n_chars AS DOUBLE)) - LN(-LN(u)), 6)"
            ).alias("key_r6"),
        )
        .orderBy(F.col("key_r6").desc(), "doc_id")
        .limit(10)
    )


# ---------- q515: trimmed + winsorized means (robust location)

# Robust location per priority WITHOUT sorting rows: the value
# histogram's cumulative ranks give each value's covered rank span
# [c-k+1, c]; the 5%-trimmed sum takes max(0, overlap with
# [kcut+1, n-kcut]) per value — exact integer overlap arithmetic — and
# the winsorized sum adds kcut copies of the two clamp values (the
# rank-(kcut+1) and rank-(n-kcut) order statistics, MIN-over-threshold
# picks). kcut = n*5 DIV 100 is the declared floor contract.
_TRIM_ORACLE = """
WITH v AS (
    SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), hist AS (
    SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS k FROM v GROUP BY grp, c
), cum AS MATERIALIZED (
    SELECT grp, c, k, SUM(k) OVER (PARTITION BY grp ORDER BY c) AS cm,
           SUM(k) OVER (PARTITION BY grp) AS n
    FROM hist
), kc AS MATERIALIZED (
    SELECT grp, MAX(n) AS n, MAX(n) * 5 // 100 AS kcut FROM cum GROUP BY grp
), tr AS MATERIALIZED (
    SELECT cum.grp, kc.n, kc.kcut,
           CAST(SUM(cum.c * GREATEST(0,
                LEAST(cum.cm, kc.n - kc.kcut)
                - GREATEST(cum.cm - cum.k + 1, kc.kcut + 1) + 1)) AS BIGINT)
               AS tsum
    FROM cum JOIN kc ON kc.grp = cum.grp
    GROUP BY cum.grp, kc.n, kc.kcut
), clamps AS (
    SELECT kc.grp,
           (SELECT MIN(c2.c) FROM cum c2
            WHERE c2.grp = kc.grp AND c2.cm >= kc.kcut + 1) AS vlo,
           (SELECT MIN(c3.c) FROM cum c3
            WHERE c3.grp = kc.grp AND c3.cm >= kc.n - kc.kcut) AS vhi
    FROM kc
)
SELECT tr.grp, CAST(tr.n AS BIGINT) AS n, CAST(tr.kcut AS BIGINT) AS kcut,
       CAST((2 * 1000 * tr.tsum + (tr.n - 2 * tr.kcut))
            // (2 * (tr.n - 2 * tr.kcut)) AS BIGINT) AS trimmed_mean_milli,
       CAST((2 * 1000 * (tr.tsum + tr.kcut * (cl.vlo + cl.vhi)) + tr.n)
            // (2 * tr.n) AS BIGINT) AS winsor_mean_milli
FROM tr JOIN clamps cl ON cl.grp = tr.grp
ORDER BY tr.grp
"""


@register("q515_trimmed_winsorized", oracle=_TRIM_ORACLE)
def q515(orders):
    """Exact 5% trimmed + winsorized means per group (oracle comment)."""
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("c"),
    )
    hist = v.groupBy("grp", "c").agg(F.count("*").cast("bigint").alias("k"))
    wg = Window.partitionBy("grp")
    # n is a per-row window column and kcut a scalar function of it, so
    # tsum/vlo/vhi are all aggregates over the SAME cum frame — the
    # former kc/tr/vlo/vhi join chain re-ran the hist+window subtree
    # once per branch (4 copies in the plan, guide §2.4); one grouped
    # pass computes all three with zero joins. Values are identical:
    # n (and hence kcut) is constant within a group.
    cum = hist.select(
        "grp",
        "c",
        "k",
        F.sum("k").over(wg.orderBy("c")).alias("cm"),
        F.sum("k").over(wg).alias("n"),
    ).withColumn("kcut", F.expr("n * 5 DIV 100"))
    return (
        cum.groupBy("grp")
        .agg(
            F.max("n").alias("n"),
            F.max("kcut").alias("kcut"),
            F.sum(
                F.expr(
                    "c * GREATEST(0, LEAST(cm, n - kcut)"
                    " - GREATEST(cm - k + 1, kcut + 1) + 1)"
                )
            )
            .cast("bigint")
            .alias("tsum"),
            F.min(F.when(F.col("cm") >= F.col("kcut") + 1, F.col("c"))).alias(
                "vlo"
            ),
            F.min(
                F.when(F.col("cm") >= F.col("n") - F.col("kcut"), F.col("c"))
            ).alias("vhi"),
        )
        .select(
            "grp",
            "n",
            "kcut",
            F.expr(
                f"CAST({rhu('1000 * tsum', '(n - 2 * kcut)')} AS BIGINT)"
            ).alias("trimmed_mean_milli"),
            F.expr(
                f"CAST({rhu('1000 * (tsum + kcut * (vlo + vhi))', 'n')} AS BIGINT)"
            ).alias("winsor_mean_milli"),
        )
        .orderBy("grp")
    )


# ---------- q516: Tukey-fence outlier audit (per priority)

# Box-plot fences from exact order statistics: q1/q3 via the q513
# floor-truncated positional interpolation in MILLI-CENTS; the 1.5*IQR
# fences stay integer by working at DOUBLED milli scale (2*q1 - 3*iqr),
# and each value compares as 2000*c against the fence — no doubles
# anywhere.
_TUKEY_ORACLE = """
WITH v AS MATERIALIZED (
    SELECT o_orderpriority AS grp,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), hist AS (
    SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS k FROM v GROUP BY grp, c
), cum AS MATERIALIZED (
    SELECT grp, c, SUM(k) OVER (PARTITION BY grp ORDER BY c) AS cm,
           SUM(k) OVER (PARTITION BY grp) AS n
    FROM hist
), pos AS (
    SELECT DISTINCT grp, n,
           (n - 1) * 25 // 100 AS lo1, (n - 1) * 25 % 100 AS f1,
           (n - 1) * 75 // 100 AS lo3, (n - 1) * 75 % 100 AS f3
    FROM cum
), qv AS (
    SELECT p.grp, p.n,
           (SELECT MIN(c2.c) FROM cum c2
            WHERE c2.grp = p.grp AND c2.cm >= p.lo1 + 1) AS q1lo,
           (SELECT MIN(c2.c) FROM cum c2
            WHERE c2.grp = p.grp AND c2.cm >= p.lo1 + 2) AS q1hi,
           (SELECT MIN(c2.c) FROM cum c2
            WHERE c2.grp = p.grp AND c2.cm >= p.lo3 + 1) AS q3lo,
           (SELECT MIN(c2.c) FROM cum c2
            WHERE c2.grp = p.grp AND c2.cm >= p.lo3 + 2) AS q3hi,
           p.f1, p.f3
    FROM pos p
), qq AS MATERIALIZED (
    SELECT grp, n,
           q1lo * 1000 + (COALESCE(q1hi, q1lo) - q1lo) * f1 * 1000 // 100
               AS q1m,
           q3lo * 1000 + (COALESCE(q3hi, q3lo) - q3lo) * f3 * 1000 // 100
               AS q3m
    FROM qv
)
SELECT qq.grp, CAST(qq.n AS BIGINT) AS n,
       CAST(qq.q1m AS BIGINT) AS q1_milli, CAST(qq.q3m AS BIGINT) AS q3_milli,
       CAST(SUM(CASE WHEN 2000 * h.c * h.k2 > 0
                     AND 2000 * h.c < 5 * qq.q1m - 3 * qq.q3m
                     THEN h.k2 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN 2000 * h.c > 5 * qq.q3m - 3 * qq.q1m
                     THEN h.k2 ELSE 0 END) AS BIGINT) AS n_high
FROM qq JOIN (SELECT grp, c, CAST(COUNT(*) AS BIGINT) AS k2
              FROM v GROUP BY grp, c) h ON h.grp = qq.grp
GROUP BY qq.grp, qq.n, qq.q1m, qq.q3m
ORDER BY qq.grp
"""


@register("q516_tukey_outliers", oracle=_TUKEY_ORACLE)
def q516(orders):
    """Tukey 1.5*IQR outlier counts from exact quartiles (oracle
    comment; fences at doubled-milli scale: low = 5*q1-3*q3, high =
    5*q3-3*q1)."""
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("c"),
    )
    # pinned: the histogram feeds the quartile windows AND the fence
    # count join below — two references, each a full orders re-scan
    # without the checkpoint (guide §2.4)
    hist = (
        v.groupBy("grp", "c")
        .agg(F.count("*").cast("bigint").alias("k"))
        .transform(pin)
    )
    wg = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "c",
        F.sum("k").over(wg.orderBy("c")).alias("cm"),
        F.sum("k").over(wg).alias("n"),
    )
    # ONE grouped pass picks all four order statistics: the former
    # pos + 4 pick() branches re-ran the histogram + window subtree per
    # branch (5 copies in the plan, guide §2.4); n is a per-row window
    # column, so both rank positions are computable per row and each
    # statistic is a filtered MIN. f1/f3 re-derive from n in the final
    # projection — identical integer arithmetic.
    qq = (
        cum.withColumn("lo1", F.expr("(n - 1) * 25 DIV 100"))
        .withColumn("lo3", F.expr("(n - 1) * 75 DIV 100"))
        .groupBy("grp")
        .agg(
            F.max("n").alias("n"),
            F.min(F.when(F.col("cm") >= F.col("lo1") + 1, F.col("c"))).alias("q1lo"),
            F.min(F.when(F.col("cm") >= F.col("lo1") + 2, F.col("c"))).alias("q1hi"),
            F.min(F.when(F.col("cm") >= F.col("lo3") + 1, F.col("c"))).alias("q3lo"),
            F.min(F.when(F.col("cm") >= F.col("lo3") + 2, F.col("c"))).alias("q3hi"),
        )
        .select(
            "grp",
            "n",
            F.expr(
                "q1lo * 1000 + (COALESCE(q1hi, q1lo) - q1lo)"
                " * ((n - 1) * 25 % 100) * 1000 DIV 100"
            ).alias("q1m"),
            F.expr(
                "q3lo * 1000 + (COALESCE(q3hi, q3lo) - q3lo)"
                " * ((n - 1) * 75 % 100) * 1000 DIV 100"
            ).alias("q3m"),
        )
    )
    h = hist.select("grp", "c", F.col("k").alias("k2"))
    return (
        F.broadcast(qq).join(h, "grp")
        .groupBy("grp", "n", "q1m", "q3m")
        .agg(
            F.sum(
                F.when(
                    F.expr("2000 * c * k2 > 0 AND 2000 * c < 5 * q1m - 3 * q3m"),
                    F.col("k2"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_low"),
            F.sum(
                F.when(F.expr("2000 * c > 5 * q3m - 3 * q1m"), F.col("k2")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_high"),
        )
        .select(
            "grp",
            "n",
            F.col("q1m").cast("bigint").alias("q1_milli"),
            F.col("q3m").cast("bigint").alias("q3_milli"),
            "n_low",
            "n_high",
        )
        .orderBy("grp")
    )


# ---------- q517: partition-skew what-if (hash fanout simulator)

# Capacity planning for the shuffle: how imbalanced would user-keyed
# partitions be at P = 32/64/128? Bucket by the md5 integer (the house
# deterministic hash), report the max bucket and the imbalance ratio
# max*P/total in exact micro units per P. The aggregate is map-side
# combinable on (P, bucket).
_SKEWIF_ORACLE = """
WITH keyed AS MATERIALIZED (
    SELECT ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM events
), ps AS MATERIALIZED (
    SELECT * FROM (VALUES (32), (64), (128)) AS t(p)
), buckets AS (
    SELECT ps.p, keyed.h % ps.p AS b, CAST(COUNT(*) AS BIGINT) AS n
    FROM keyed, ps GROUP BY ps.p, b
), per AS (
    SELECT p, CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(n) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM buckets GROUP BY p
)
SELECT CAST(p AS INT) AS p, n_buckets, max_bucket, total,
       CAST((2 * 1000000 * max_bucket * p + total) // (2 * total) AS BIGINT)
           AS imbalance_micro
FROM per ORDER BY p
"""


@register("q517_partition_skew_whatif", oracle=_SKEWIF_ORACLE)
def q517(spark, events):
    """Hash-partition imbalance at P=32/64/128 (oracle comment)."""
    keyed = events.select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    ps = spark.createDataFrame([(32,), (64,), (128,)], "p int")
    buckets = (
        keyed.crossJoin(F.broadcast(ps))
        .groupBy("p", F.expr("h % p").alias("b"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    per = buckets.groupBy("p").agg(
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_buckets"),
    )
    return per.select(
        F.col("p").cast("int").alias("p"),
        "n_buckets",
        "max_bucket",
        "total",
        F.expr(
            f"CAST({rhu('1000000 * max_bucket * p', 'total')} AS BIGINT)"
        ).alias("imbalance_micro"),
    ).orderBy("p")


# ---------- q518: categorical column entropy profile

# Data-catalog profiling: Shannon entropy per declared column using
# PER-TERM micro-rounded integers — each category contributes
# round(1e6 * c * ln c) BEFORE the sum, so the cross-engine sum is
# integer-exact and H_micro = round(1e6 ln n) - rhu(sum_term / n)
# carries no float-order dependence (tighter than the q474 few-cell
# double-sum precedent; this profile can have thousands of cells at
# fleet scale).
_COLENT_ORACLE = """
WITH src AS (
    SELECT o_orderstatus AS v, 'o_orderstatus' AS col FROM orders
    UNION ALL
    SELECT o_orderpriority, 'o_orderpriority' FROM orders
    UNION ALL
    SELECT CAST(YEAR(o_orderdate) AS VARCHAR), 'order_year' FROM orders
), cat AS (
    SELECT col, v, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY col, v
), terms AS (
    SELECT col, CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(1000000 * c * LN(CAST(c AS DOUBLE)), 0)
                         AS BIGINT)) AS BIGINT) AS sum_term
    FROM cat GROUP BY col
)
SELECT col, n_distinct, n,
       CAST(CAST(ROUND(1000000 * LN(CAST(n AS DOUBLE)), 0) AS BIGINT)
            - (2 * sum_term + n) // (2 * n) AS BIGINT) AS entropy_micro
FROM terms ORDER BY col
"""


@register("q518_column_entropy_profile", oracle=_COLENT_ORACLE)
def q518(orders):
    """Per-column entropy with per-term micro rounding (oracle
    comment)."""
    src = (
        orders.select(F.col("o_orderstatus").alias("v"), F.lit("o_orderstatus").alias("col"))
        .unionByName(
            orders.select(
                F.col("o_orderpriority").alias("v"),
                F.lit("o_orderpriority").alias("col"),
            )
        )
        .unionByName(
            orders.select(
                F.year("o_orderdate").cast("string").alias("v"),
                F.lit("order_year").alias("col"),
            )
        )
    )
    cat = src.groupBy("col", "v").agg(F.count("*").cast("bigint").alias("c"))
    terms = cat.groupBy("col").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CAST(ROUND(1000000 * c * LN(CAST(c AS DOUBLE)), 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("sum_term"),
    )
    return terms.select(
        "col",
        "n_distinct",
        "n",
        F.expr(
            "CAST(CAST(ROUND(1000000 * LN(CAST(n AS DOUBLE)), 0) AS BIGINT) -"
            f" {rhu('sum_term', 'n')} AS BIGINT)"
        ).alias("entropy_micro"),
    ).orderBy("col")


# ---------- q519: overdispersion audit (daily counts per event type)

# Poisson-ness check before count modeling: index of dispersion
# D = s²/mean = (w*Σx² - S²) / (S*(w-1)) over per-type daily counts —
# exact rhu micro (all positive), plus the chi² form (w-1)*D. Days
# with zero events for a type simply don't appear — the PRESENT-day
# contract, declared.
_OVERD_ORACLE = """
WITH d AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY event_type, day
), m AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS w,
           CAST(SUM(x) AS BIGINT) AS s,
           CAST(SUM(x * x) AS BIGINT) AS q
    FROM d GROUP BY event_type
)
SELECT event_type, w AS n_days, s AS n_events,
       CAST((2 * 1000000 * (w * q - s * s) + s * (w - 1))
            // (2 * s * (w - 1)) AS BIGINT) AS dispersion_micro
FROM m WHERE w > 1 AND s > 0 ORDER BY event_type
"""


@register("q519_overdispersion", oracle=_OVERD_ORACLE)
def q519(events):
    """Index of dispersion per event type, exact micro (oracle
    comment)."""
    d = events.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    m = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    return (
        m.filter((F.col("w") > 1) & (F.col("s") > 0))
        .select(
            "event_type",
            F.col("w").alias("n_days"),
            F.col("s").alias("n_events"),
            F.expr(
                f"CAST({rhu('1000000 * (w * q - s * s)', 's * (w - 1)')} AS BIGINT)"
            ).alias("dispersion_micro"),
        )
        .orderBy("event_type")
    )


# ---------- q520: XYZ demand-variability classification

# The forecastability side of ABC (q409): per part, weekly demand CV²
# = w*(w*Σq² - S²) / ((w-1)*S²) over PRESENT epoch-weeks, exact micro;
# classes X (< 0.25e6), Y (< 1e6), Z otherwise. Parts with < 2 weeks
# of demand are UNCLASSIFIED (reported as their own row). One
# (part, week) aggregate, one per-part aggregate — both map-side
# combinable.
_XYZ_ORACLE = """
WITH wk AS (
    SELECT l_partkey AS part,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                AS BIGINT) // 7 AS week,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem GROUP BY part, week
), per AS (
    SELECT part, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(q) AS BIGINT) AS s,
           CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS qq
    FROM wk GROUP BY part
), cls AS (
    SELECT part,
           CASE WHEN w < 2 OR s = 0 THEN 'U'
                WHEN (2 * 1000000 * w * (w * qq - CAST(s AS HUGEINT) * s)
                      + (w - 1) * CAST(s AS HUGEINT) * s)
                     // (2 * (w - 1) * CAST(s AS HUGEINT) * s) < 250000
                THEN 'X'
                WHEN (2 * 1000000 * w * (w * qq - CAST(s AS HUGEINT) * s)
                      + (w - 1) * CAST(s AS HUGEINT) * s)
                     // (2 * (w - 1) * CAST(s AS HUGEINT) * s) < 1000000
                THEN 'Y'
                ELSE 'Z' END AS xyz
    FROM per
)
SELECT xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM cls GROUP BY xyz ORDER BY xyz
"""


@register("q520_xyz_classification", oracle=_XYZ_ORACLE)
def q520(lineitem):
    """XYZ variability classes from exact weekly CV² (oracle comment)."""
    wk = lineitem.groupBy(
        F.col("l_partkey").alias("part"),
        F.expr(
            "CAST(DATEDIFF(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT) DIV 7"
        ).alias("week"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    d38 = "DECIMAL(38,0)"
    per = wk.groupBy("part").agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(q AS {d38}) * q")).alias("qq"),
    )
    cv2 = (
        rhu(
            f"1000000 * w * (w * qq - CAST(s AS {d38}) * s)",
            f"(w - 1) * CAST(s AS {d38}) * s",
        )
    )
    cls = per.select(
        F.expr(
            f"CASE WHEN w < 2 OR s = 0 THEN 'U'"
            f" WHEN {cv2} < 250000 THEN 'X'"
            f" WHEN {cv2} < 1000000 THEN 'Y'"
            f" ELSE 'Z' END"
        ).alias("xyz")
    )
    return (
        cls.groupBy("xyz")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .orderBy("xyz")
    )


# ---------- q521: Syntetos-Boylan intermittency quadrants (SBC)

# Forecast-method router for demand series: ADI (mean inter-demand
# interval = week span / demand weeks) x CV² quadrants — smooth /
# erratic / intermittent / lumpy at the published 1.32 / 0.49 cutoffs,
# both compared in exact micro (ADI_micro vs 1_320_000, CV²_micro vs
# 490_000). Same exact integer moments as q520; the quadrant label is
# pure integer comparison.
_SBC_ORACLE = """
WITH wk AS (
    SELECT l_partkey AS part,
           CAST(DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                AS BIGINT) // 7 AS week,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem GROUP BY part, week
), per AS (
    SELECT part, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(q) AS BIGINT) AS s,
           CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS qq,
           CAST(MAX(week) - MIN(week) + 1 AS BIGINT) AS span
    FROM wk GROUP BY part
), cls AS (
    SELECT part,
           CASE WHEN w < 2 OR s = 0 THEN 'U'
                WHEN (2 * 1000000 * span + w) // (2 * w) < 1320000
                     AND (2 * 1000000 * w * (w * qq - CAST(s AS HUGEINT) * s)
                          + (w - 1) * CAST(s AS HUGEINT) * s)
                         // (2 * (w - 1) * CAST(s AS HUGEINT) * s) < 490000
                THEN 'smooth'
                WHEN (2 * 1000000 * span + w) // (2 * w) < 1320000
                THEN 'erratic'
                WHEN (2 * 1000000 * w * (w * qq - CAST(s AS HUGEINT) * s)
                      + (w - 1) * CAST(s AS HUGEINT) * s)
                     // (2 * (w - 1) * CAST(s AS HUGEINT) * s) < 490000
                THEN 'intermittent'
                ELSE 'lumpy' END AS sbc
    FROM per
)
SELECT sbc, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM cls GROUP BY sbc ORDER BY sbc
"""


@register("q521_sbc_intermittency", oracle=_SBC_ORACLE)
def q521(lineitem):
    """SBC demand quadrants in exact micro comparisons (oracle
    comment)."""
    wk = lineitem.groupBy(
        F.col("l_partkey").alias("part"),
        F.expr(
            "CAST(DATEDIFF(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT) DIV 7"
        ).alias("week"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    d38 = "DECIMAL(38,0)"
    per = wk.groupBy("part").agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(q AS {d38}) * q")).alias("qq"),
        (F.max("week") - F.min("week") + 1).cast("bigint").alias("span"),
    )
    adi = rhu("1000000 * span", "w")
    cv2 = (
        rhu(
            f"1000000 * w * (w * qq - CAST(s AS {d38}) * s)",
            f"(w - 1) * CAST(s AS {d38}) * s",
        )
    )
    cls = per.select(
        F.expr(
            f"CASE WHEN w < 2 OR s = 0 THEN 'U'"
            f" WHEN {adi} < 1320000 AND {cv2} < 490000 THEN 'smooth'"
            f" WHEN {adi} < 1320000 THEN 'erratic'"
            f" WHEN {cv2} < 490000 THEN 'intermittent'"
            f" ELSE 'lumpy' END"
        ).alias("sbc")
    )
    return (
        cls.groupBy("sbc")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .orderBy("sbc")
    )


# ---------- q522: energy distance (click vs purchase values)

# Distribution distance WITHOUT pairs: every pairwise |u - v| sum
# collapses to ONE pass over the merged value histogram via
# sum_{i,j}|x_i - y_j| = sum_gaps g_k * (FX_k*(m - FY_k) +
# FY_k*(n - FX_k)) — cumulative counts against the next-value gap. The
# same identity with (X, X) and (Y, Y) gives the within terms, so
# energy = 2A - B - C is exact integer milli-cents end-to-end. The
# merged histogram is value-dimension sized; nothing quadratic ever
# materializes (the q229/q476 pairs-free discipline).
_ENERGY_ORACLE = """
WITH v AS (
    SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type IN ('click', 'purchase')
), hist AS (
    SELECT c, CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS kx,
           CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS ky
    FROM v GROUP BY c
), cum AS (
    SELECT c, SUM(kx) OVER (ORDER BY c) AS fx, SUM(ky) OVER (ORDER BY c) AS fy,
           LEAD(c) OVER (ORDER BY c) AS cnext,
           SUM(kx) OVER () AS n, SUM(ky) OVER () AS m
    FROM hist
), sums AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(m) AS BIGINT) AS m,
           CAST(SUM(CAST(cnext - c AS HUGEINT)
                    * (fx * m - fx * fy + fy * n - fy * fx)) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(cnext - c AS HUGEINT)
                    * (2 * fx * (n - fx))) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(cnext - c AS HUGEINT)
                    * (2 * fy * (m - fy))) AS HUGEINT) AS syy
    FROM cum WHERE cnext IS NOT NULL
)
SELECT n, m,
       CAST((2 * 1000 * sxy + CAST(n AS HUGEINT) * m)
            // (2 * CAST(n AS HUGEINT) * m) AS BIGINT) AS a_milli,
       CAST((2 * 1000 * sxx + CAST(n AS HUGEINT) * n)
            // (2 * CAST(n AS HUGEINT) * n) AS BIGINT) AS b_milli,
       CAST((2 * 1000 * syy + CAST(m AS HUGEINT) * m)
            // (2 * CAST(m AS HUGEINT) * m) AS BIGINT) AS c_milli,
       CAST(2 * ((2 * 1000 * sxy + CAST(n AS HUGEINT) * m)
                 // (2 * CAST(n AS HUGEINT) * m))
            - ((2 * 1000 * sxx + CAST(n AS HUGEINT) * n)
               // (2 * CAST(n AS HUGEINT) * n))
            - ((2 * 1000 * syy + CAST(m AS HUGEINT) * m)
               // (2 * CAST(m AS HUGEINT) * m)) AS BIGINT) AS energy_milli
FROM sums
"""


@register("q522_energy_distance", oracle=_ENERGY_ORACLE)
def q522(events):
    """Pairs-free exact energy distance in milli-cents (oracle
    comment; sxy uses fx*(m-fy) + fy*(n-fx) expanded over the cum frame's
    window totals n/m)."""
    v = events.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_type").alias("g"),
        cents("value").alias("c"),
    )
    hist = v.groupBy("c").agg(
        F.sum(F.when(F.col("g") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("kx"),
        F.sum(F.when(F.col("g") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("ky"),
    )
    wo = Window.orderBy("c")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "c",
        F.sum("kx").over(wo).alias("fx"),
        F.sum("ky").over(wo).alias("fy"),
        F.lead("c").over(wo).alias("cnext"),
        F.sum("kx").over(wall).alias("n"),
        F.sum("ky").over(wall).alias("m"),
    )
    d38 = "DECIMAL(38,0)"
    sums = cum.filter(F.col("cnext").isNotNull()).agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("m").cast("bigint").alias("m"),
        F.sum(
            F.expr(
                f"CAST(cnext - c AS {d38}) * (fx * m - fx * fy + fy * n - fy * fx)"
            )
        ).alias("sxy"),
        F.sum(F.expr(f"CAST(cnext - c AS {d38}) * (2 * fx * (n - fx))")).alias(
            "sxx"
        ),
        F.sum(F.expr(f"CAST(cnext - c AS {d38}) * (2 * fy * (m - fy))")).alias(
            "syy"
        ),
    )
    a = f"{rhu('1000 * sxy', f'CAST(n AS {d38}) * m')}"
    b = f"{rhu('1000 * sxx', f'CAST(n AS {d38}) * n')}"
    cc = f"{rhu('1000 * syy', f'CAST(m AS {d38}) * m')}"
    return sums.select(
        "n",
        "m",
        F.expr(f"CAST({a} AS BIGINT)").alias("a_milli"),
        F.expr(f"CAST({b} AS BIGINT)").alias("b_milli"),
        F.expr(f"CAST({cc} AS BIGINT)").alias("c_milli"),
        F.expr(f"CAST(2 * ({a}) - ({b}) - ({cc}) AS BIGINT)").alias("energy_milli"),
    )


# ---------- q523: sampling-weights effective sample size audit

# Before weighted sampling (q514's Gumbel or mixture weights): the
# Kish effective sample size ESS = (Σw)²/Σw² and the max single-doc
# share — both exact rhu (milli/micro) over integer n_chars weights.
# A low ESS or a fat max share means the "weighted epoch" is really a
# handful of documents.
_ESS_ORACLE = """
WITH w AS MATERIALIZED (
    SELECT CAST(n_chars AS BIGINT) AS w FROM documents WHERE n_chars > 0
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(w) AS BIGINT) AS s,
           CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS q,
           CAST(MAX(w) AS BIGINT) AS wmax
    FROM w
)
SELECT n, s AS sum_w,
       CAST((2 * 1000 * CAST(s AS HUGEINT) * s + q) // (2 * q) AS BIGINT)
           AS ess_milli,
       CAST((2 * 1000000 * wmax + s) // (2 * s) AS BIGINT) AS max_share_micro
FROM m
"""


@register("q523_ess_weights_audit", oracle=_ESS_ORACLE)
def q523(documents):
    """Kish ESS + max weight share, exact (oracle comment)."""
    d38 = "DECIMAL(38,0)"
    m = documents.filter(F.col("n_chars") > 0).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(n_chars AS {d38}) * n_chars")).alias("q"),
        F.max("n_chars").cast("bigint").alias("wmax"),
    )
    return m.select(
        "n",
        F.col("s").alias("sum_w"),
        F.expr(
            f"CAST({rhu(f'1000 * CAST(s AS {d38}) * s', 'q')} AS BIGINT)"
        ).alias("ess_milli"),
        F.expr(
            f"CAST({rhu('1000000 * wmax', 's')} AS BIGINT)"
        ).alias("max_share_micro"),
    )


# ---------- q524: serial-correlation audit (Durbin-Watson + PACF(2))

# Residual-independence check on daily revenue in KILO-DOLLAR-scale
# integer deviations from the rhu mean (declared contract — the coarse
# unit keeps Q² and its |pacf| <= 1 shift inside 128-bit at every SF):
# DW = Σ(d_t - d_{t-1})² / Σd² and the lag-2 partial autocorrelation by
# Durbin-Levinson, phi22 = (P2*Q - P1²)/(Q² - P1²) with P_k =
# Σ d_t d_{t-k}, Q = Σd² — every quantity one exact signed rhu micro
# division (shift 2e6, valid because |phi22| <= 1).
_SERIAL_ORACLE = _DAILY_CTE + """
, mu AS (
    SELECT (2 * SUM(cents) + COUNT(*)) // (2 * COUNT(*)) AS m FROM daily
), idx AS MATERIALIZED (
    SELECT (cents - mu.m) // 100000 AS d,
           ROW_NUMBER() OVER (ORDER BY day) AS rn
    FROM daily, mu
), mom AS (
    SELECT CAST(SUM(CAST(a.d AS HUGEINT) * a.d) AS HUGEINT) AS qq,
           CAST(SUM(CASE WHEN b1.d IS NOT NULL
                         THEN CAST(a.d AS HUGEINT) * b1.d ELSE 0 END)
                AS HUGEINT) AS p1,
           CAST(SUM(CASE WHEN b2.d IS NOT NULL
                         THEN CAST(a.d AS HUGEINT) * b2.d ELSE 0 END)
                AS HUGEINT) AS p2,
           CAST(SUM(CASE WHEN b1.d IS NOT NULL
                         THEN CAST(a.d - b1.d AS HUGEINT) * (a.d - b1.d)
                         ELSE 0 END) AS HUGEINT) AS sdiff,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM idx a
    LEFT JOIN idx b1 ON b1.rn = a.rn - 1
    LEFT JOIN idx b2 ON b2.rn = a.rn - 2
)
SELECT n,
       CAST((2 * 1000000 * sdiff + qq) // (2 * qq) AS BIGINT) AS dw_micro,
       CAST((2 * (1000000 * (p2 * qq - p1 * p1)
                  + 2000000 * (qq * qq - p1 * p1))
             + (qq * qq - p1 * p1)) // (2 * (qq * qq - p1 * p1))
            - 2000000 AS BIGINT) AS pacf2_micro
FROM mom
"""


@register("q524_serial_correlation", oracle=_SERIAL_ORACLE)
def q524(orders):
    """Durbin-Watson + Durbin-Levinson PACF(2), exact micro (oracle
    comment)."""
    daily = _daily_cents(orders)
    mu = daily.agg(
        F.expr(rhu("SUM(cents)", "COUNT(*)")).alias("m")
    )
    idx = (
        daily.crossJoin(F.broadcast(mu))
        .select(
            F.expr("(cents - m) DIV 100000").alias("d"),
            F.row_number().over(Window.orderBy("day")).alias("rn"),
        )
        .transform(pin)
    )
    a = idx.select(F.col("d").alias("da"), "rn")
    b1 = idx.select(F.col("d").alias("d1"), (F.col("rn") + 1).alias("rn"))
    b2 = idx.select(F.col("d").alias("d2"), (F.col("rn") + 2).alias("rn"))
    d38 = "DECIMAL(38,0)"
    mom = (
        a.join(b1, "rn", "left")
        .join(b2, "rn", "left")
        .agg(
            F.sum(F.expr(f"CAST(da AS {d38}) * da")).alias("qq"),
            F.sum(
                F.expr(
                    f"CASE WHEN d1 IS NOT NULL THEN CAST(da AS {d38}) * d1"
                    f" ELSE CAST(0 AS {d38}) END"
                )
            ).alias("p1"),
            F.sum(
                F.expr(
                    f"CASE WHEN d2 IS NOT NULL THEN CAST(da AS {d38}) * d2"
                    f" ELSE CAST(0 AS {d38}) END"
                )
            ).alias("p2"),
            F.sum(
                F.expr(
                    f"CASE WHEN d1 IS NOT NULL"
                    f" THEN CAST(da - d1 AS {d38}) * (da - d1)"
                    f" ELSE CAST(0 AS {d38}) END"
                )
            ).alias("sdiff"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    return mom.select(
        "n",
        F.expr(f"CAST({rhu('1000000 * sdiff', 'qq')} AS BIGINT)").alias(
            "dw_micro"
        ),
        F.expr(
            "CAST(" + rhu(
                "(1000000 * (p2 * qq - p1 * p1) + 2000000 * (qq * qq - p1 * p1))",
                "(qq * qq - p1 * p1)",
            ) + " - 2000000 AS BIGINT)"
        ).alias("pacf2_micro"),
    )


# ---------- q525: tail-dependence audit (revenue x order-count)

# Do extreme-revenue days coincide with extreme-volume days? Empirical
# upper-tail dependence: thresholds = exact ceil(0.95n) order
# statistics of each daily series (cumulative histograms, no sort);
# lambda_U = P(y > qy | x > qx) as one exact rhu micro over joint
# exceedance counts.
_TAILDEP_ORACLE = """
WITH daily AS MATERIALIZED (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS x,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM orders GROUP BY day
), n AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
), qx AS MATERIALIZED (
    SELECT MIN(x) AS v FROM (
        SELECT x, SUM(1) OVER (ORDER BY x) AS cm FROM daily
    ), n WHERE cm >= (95 * n.n + 99) // 100
), qy AS MATERIALIZED (
    SELECT MIN(y) AS v FROM (
        SELECT y, SUM(1) OVER (ORDER BY y) AS cm FROM daily
    ), n WHERE cm >= (95 * n.n + 99) // 100
), exc AS MATERIALIZED (
    SELECT CAST(SUM(CASE WHEN d.x > qx.v THEN 1 ELSE 0 END) AS BIGINT) AS nx,
           CAST(SUM(CASE WHEN d.x > qx.v AND d.y > qy.v THEN 1 ELSE 0 END)
                AS BIGINT) AS nj
    FROM daily d, qx, qy
)
SELECT n.n AS n_days, qx.v AS qx_cents, qy.v AS qy_orders, exc.nx, exc.nj,
       CAST(CASE WHEN exc.nx > 0
                 THEN (2 * 1000000 * exc.nj + exc.nx) // (2 * exc.nx)
                 ELSE 0 END AS BIGINT) AS lambda_micro
FROM n, qx, qy, exc
"""


@register("q525_tail_dependence", oracle=_TAILDEP_ORACLE)
def q525(orders):
    """Upper-tail dependence of daily (revenue, volume) (oracle
    comment)."""
    # pinned: daily feeds n, both q95 rank windows AND the exceedance
    # aggregate — unpinned, the orders scan+aggregate runs four times
    # (guide §2.4; before-plan: 20 Exchanges)
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("x"),
            F.count("*").cast("bigint").alias("y"),
        )
        .transform(pin)
    )
    n = daily.agg(F.count("*").cast("bigint").alias("n"))

    def q95(col):
        cm = daily.select(
            col, F.sum(F.lit(1)).over(Window.orderBy(col)).alias("cm")
        )
        return (
            cm.crossJoin(F.broadcast(n))
            .filter(F.col("cm") >= F.expr("(95 * n + 99) DIV 100"))
            .agg(F.min(col).alias("v"))
        )

    qx = q95("x").withColumnRenamed("v", "qxv")
    qy = q95("y").withColumnRenamed("v", "qyv")
    exc = (
        daily.crossJoin(F.broadcast(qx))
        .crossJoin(F.broadcast(qy))
        .agg(
            F.sum(F.when(F.col("x") > F.col("qxv"), 1).otherwise(0))
            .cast("bigint")
            .alias("nx"),
            F.sum(
                F.when(
                    (F.col("x") > F.col("qxv")) & (F.col("y") > F.col("qyv")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("nj"),
        )
    )
    return (
        n.crossJoin(qx)
        .crossJoin(qy)
        .crossJoin(exc)
        .select(
            F.col("n").alias("n_days"),
            F.col("qxv").alias("qx_cents"),
            F.col("qyv").alias("qy_orders"),
            "nx",
            "nj",
            F.expr(
                f"CAST(CASE WHEN nx > 0 THEN {rhu('1000000 * nj', 'nx')} ELSE 0 END"
                " AS BIGINT)"
            ).alias("lambda_micro"),
        )
    )


# ---------- q526: Burrows' Delta stylometry (source similarity)

# Authorship-attribution distance between sources: per-mille-micro
# relative frequencies of the TOP-20 corpus words (count DESC, word
# tiebreak), z-scored ACROSS sources per word; Delta(s1,s2) = mean of
# per-word |z1-z2|. Each per-word term is micro-rounded BEFORE the
# 20-term sum (the q518 per-term discipline — the only double is ONE
# |f1-f2|/sqrt(var) per term over exact integer frequencies). Top-10
# most similar pairs.
_BURROWS_ORACLE = """
WITH toks AS (
    SELECT source, LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)
               AS ts
    FROM documents
), uni AS MATERIALIZED (
    SELECT source, ts[i] AS w, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks, LATERAL UNNEST(GENERATE_SERIES(1, LEN(ts))) t(i)
    GROUP BY source, w
), stot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS tok FROM uni GROUP BY source
), top AS (
    SELECT w FROM (
        SELECT w, SUM(c) AS tc FROM uni GROUP BY w
        ORDER BY tc DESC, w LIMIT 20
    )
), f AS MATERIALIZED (
    SELECT s.source, t.w,
           CAST((2 * 1000000000 * COALESCE(u.c, 0) + s.tok) // (2 * s.tok)
                AS BIGINT) AS fm
    FROM stot s CROSS JOIN top t
    LEFT JOIN uni u ON u.source = s.source AND u.w = t.w
), wstat AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(fm) AS BIGINT) AS s,
           CAST(SUM(CAST(fm AS HUGEINT) * fm) AS HUGEINT) AS q
    FROM f GROUP BY w
), terms AS (
    SELECT a.source AS s1, b.source AS s2,
           CAST(ROUND(1000000.0 * ABS(a.fm - b.fm)
                      / SQRT((CAST(ws.m AS DOUBLE) * CAST(ws.q AS DOUBLE)
                              - CAST(ws.s AS DOUBLE) * CAST(ws.s AS DOUBLE))
                             / (CAST(ws.m AS DOUBLE) * CAST(ws.m AS DOUBLE))),
                      0) AS BIGINT) AS zd
    FROM f a JOIN f b ON a.w = b.w AND a.source < b.source
    JOIN wstat ws ON ws.w = a.w
    WHERE CAST(ws.m AS HUGEINT) * ws.q > CAST(ws.s AS HUGEINT) * ws.s
), delta AS (
    SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST((2 * SUM(zd) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS delta_micro
    FROM terms GROUP BY s1, s2
)
SELECT s1, s2, n_terms, delta_micro
FROM delta ORDER BY delta_micro, s1, s2 LIMIT 10
"""


@register("q526_burrows_delta", oracle=_BURROWS_ORACLE)
def q526(documents):
    """Top-10 most stylometrically similar source pairs (oracle
    comment)."""
    uni = (
        documents.select(
            "source",
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
        # pinned: uni feeds stot, top AND the f left-join — unpinned,
        # the tokenize+explode pass runs three times (guide §2.4;
        # before-plan: 16 Exchanges)
        .transform(pin)
    )
    stot = uni.groupBy("source").agg(F.sum("c").cast("bigint").alias("tok"))
    top = (
        uni.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "w")
        .limit(20)
        .select("w")
    )
    f = (
        stot.crossJoin(F.broadcast(top))
        .join(uni, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                f"CAST({rhu('1000000000 * COALESCE(c, 0)', 'tok')} AS BIGINT)"
            ).alias("fm"),
        )
        # pinned: f (|sources|×20 rows) feeds wstat AND both pair sides
        .transform(pin)
    )
    d38 = "DECIMAL(38,0)"
    wstat = f.groupBy("w").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("fm").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(fm AS {d38}) * fm")).alias("q"),
    )
    a = f.select(F.col("source").alias("s1"), "w", F.col("fm").alias("f1"))
    b = f.select(F.col("source").alias("s2"), "w", F.col("fm").alias("f2"))
    terms = (
        a.join(b, "w")
        .filter(F.col("s1") < F.col("s2"))
        .join(F.broadcast(wstat), "w")
        .filter(F.expr(f"CAST(m AS {d38}) * q > CAST(s AS {d38}) * s"))
        .select(
            "s1",
            "s2",
            F.expr(
                "CAST(ROUND(1000000.0 * ABS(f1 - f2)"
                " / SQRT((CAST(m AS DOUBLE) * CAST(q AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
                " / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))), 0) AS BIGINT)"
            ).alias("zd"),
        )
    )
    delta = terms.groupBy("s1", "s2").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.expr(
            f"CAST({rhu('SUM(zd)', 'COUNT(*)')} AS BIGINT)"
        ).alias("delta_micro"),
    )
    return delta.orderBy("delta_micro", "s1", "s2").limit(10)


# ---------- q527: segmented-OLS changepoint (broken stick)

# Structural-break search: for every candidate break k, the two-segment
# OLS SSE from PREFIX-SUM moments (one window pass over the daily
# frame; suffix = total - prefix), SSE as textually-parallel doubles
# over exact integer moments, argmin by (ROUND(sse,3), k). The
# candidate scan is day-dimension sized — never row volume.
_SEGOLS_ORACLE = _DAILY_CTE + """
, idx AS (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS i, day FROM daily
), pre AS MATERIALIZED (
    SELECT i, day,
           SUM(i) OVER w AS sx, SUM(cents) OVER w AS sy,
           SUM(CAST(i AS HUGEINT) * i) OVER w AS sxx,
           SUM(CAST(i AS HUGEINT) * cents) OVER w AS sxy,
           SUM(CAST(cents AS HUGEINT) * cents) OVER w AS syy
    FROM idx WINDOW w AS (ORDER BY i)
), tot AS (
    SELECT MAX(i) AS n, MAX(sx) AS tx, MAX(sy) AS ty, MAX(sxx) AS txx,
           MAX(sxy) AS txy, MAX(syy) AS tyy
    FROM pre
), cand AS (
    SELECT p.i AS k, p.day,
           ROUND(
             (CAST(p.syy AS DOUBLE)
              - (CAST(p.sy AS DOUBLE) * CAST(p.sy AS DOUBLE)) / CAST(p.i AS DOUBLE)
              - (CAST(p.sxy AS DOUBLE)
                 - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE) / CAST(p.i AS DOUBLE))
                * (CAST(p.sxy AS DOUBLE)
                   - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE) / CAST(p.i AS DOUBLE))
                / (CAST(p.sxx AS DOUBLE)
                   - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE) / CAST(p.i AS DOUBLE)))
             + (CAST(t.tyy - p.syy AS DOUBLE)
                - (CAST(t.ty - p.sy AS DOUBLE) * CAST(t.ty - p.sy AS DOUBLE))
                  / CAST(t.n - p.i AS DOUBLE)
                - (CAST(t.txy - p.sxy AS DOUBLE)
                   - CAST(t.tx - p.sx AS DOUBLE) * CAST(t.ty - p.sy AS DOUBLE)
                     / CAST(t.n - p.i AS DOUBLE))
                  * (CAST(t.txy - p.sxy AS DOUBLE)
                     - CAST(t.tx - p.sx AS DOUBLE) * CAST(t.ty - p.sy AS DOUBLE)
                       / CAST(t.n - p.i AS DOUBLE))
                  / (CAST(t.txx - p.sxx AS DOUBLE)
                     - CAST(t.tx - p.sx AS DOUBLE) * CAST(t.tx - p.sx AS DOUBLE)
                       / CAST(t.n - p.i AS DOUBLE))), 3) AS sse_r3
    FROM pre p, tot t
    WHERE p.i >= 2 AND p.i <= t.n - 2
)
SELECT CAST(k AS BIGINT) AS k_break, day AS break_day, sse_r3
FROM cand ORDER BY sse_r3, k LIMIT 1
"""


@register("q527_segmented_ols_break", oracle=_SEGOLS_ORACLE)
def q527(orders):
    """Two-segment OLS break by prefix-moment SSE argmin (oracle
    comment)."""
    daily = _daily_cents(orders)
    d38 = "DECIMAL(38,0)"
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("i"), "day"
    )
    w = Window.orderBy("i")
    pre = idx.select(
        "i",
        "day",
        F.sum("i").over(w).alias("sx"),
        F.sum("cents").over(w).alias("sy"),
        F.sum(F.expr(f"CAST(i AS {d38}) * i")).over(w).alias("sxx"),
        F.sum(F.expr(f"CAST(i AS {d38}) * cents")).over(w).alias("sxy"),
        F.sum(F.expr(f"CAST(cents AS {d38}) * cents")).over(w).alias("syy"),
    )
    tot = pre.agg(
        F.max("i").alias("n"),
        F.max("sx").alias("tx"),
        F.max("sy").alias("ty"),
        F.max("sxx").alias("txx"),
        F.max("sxy").alias("txy"),
        F.max("syy").alias("tyy"),
    )

    def sse(syy, sy, nn, sxy, sx, sxx):
        return (
            f"(CAST({syy} AS DOUBLE)"
            f" - (CAST({sy} AS DOUBLE) * CAST({sy} AS DOUBLE)) / CAST({nn} AS DOUBLE)"
            f" - (CAST({sxy} AS DOUBLE)"
            f" - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE) / CAST({nn} AS DOUBLE))"
            f" * (CAST({sxy} AS DOUBLE)"
            f" - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE) / CAST({nn} AS DOUBLE))"
            f" / (CAST({sxx} AS DOUBLE)"
            f" - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE) / CAST({nn} AS DOUBLE)))"
        )

    s1 = sse("syy", "sy", "i", "sxy", "sx", "sxx")
    s2 = sse("(tyy - syy)", "(ty - sy)", "(n - i)", "(txy - sxy)",
             "(tx - sx)", "(txx - sxx)")
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter((F.col("i") >= 2) & (F.col("i") <= F.col("n") - 2))
        .select(
            F.col("i").alias("k"),
            "day",
            F.expr(f"ROUND({s1} + {s2}, 3)").alias("sse_r3"),
        )
    )
    return (
        cand.select(
            F.col("k").cast("bigint").alias("k_break"),
            F.col("day").alias("break_day"),
            "sse_r3",
        )
        .orderBy("sse_r3", "k_break")
        .limit(1)
    )


# ---------- q528: price-ending audit (psychological pricing)

# The forensic sibling of q483's Benford: distribution of the last two
# digits of order cents. Exact counts, exact rhu micro shares, top-10
# endings by (count DESC, ending).
_ENDING_ORACLE = """
WITH v AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100
               AS ending
    FROM orders
), h AS MATERIALIZED (
    SELECT ending, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY ending
), t AS MATERIALIZED (
    SELECT CAST(SUM(n) AS BIGINT) AS tot FROM h
)
SELECT h.ending, h.n,
       CAST((2 * 1000000 * h.n + t.tot) // (2 * t.tot) AS BIGINT)
           AS share_micro
FROM h, t ORDER BY h.n DESC, h.ending LIMIT 10
"""


@register("q528_price_ending_audit", oracle=_ENDING_ORACLE)
def q528(orders):
    """Top-10 cent endings with exact shares (oracle comment)."""
    h = (
        orders.select(
            (
                cents("o_totalprice")
                % 100
            ).alias("ending")
        )
        .groupBy("ending")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    t = h.agg(F.sum("n").cast("bigint").alias("tot"))
    return (
        h.crossJoin(F.broadcast(t))
        .select(
            "ending",
            "n",
            F.expr(
                f"CAST({rhu('1000000 * n', 'tot')} AS BIGINT)"
            ).alias("share_micro"),
        )
        .orderBy(F.col("n").desc(), "ending")
        .limit(10)
    )


# ---------- q529: monthly Gini concentration trend

# Inequality of order values per month via the q522 pairs-free
# identity: sum_{i,j}|x_i - x_j| = 2 * sum_gaps g * F * (n - F), so
# Gini = G / (n * S) with G = sum g*F*(n-F) — exact rhu micro per
# month, no pairs, windows partitioned by month over value histograms.
_GINITREND_ORACLE = """
WITH v AS (
    SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS month,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM orders
), hist AS (
    SELECT month, c, CAST(COUNT(*) AS BIGINT) AS k FROM v GROUP BY month, c
), cum AS (
    SELECT month, c, SUM(k) OVER (PARTITION BY month ORDER BY c) AS f,
           LEAD(c) OVER (PARTITION BY month ORDER BY c) AS cnext,
           SUM(k) OVER (PARTITION BY month) AS n,
           SUM(k * c) OVER (PARTITION BY month) AS s
    FROM hist
), g AS (
    SELECT month, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(s) AS BIGINT) AS s,
           CAST(SUM(CASE WHEN cnext IS NOT NULL
                         THEN CAST(cnext - c AS HUGEINT) * f * (n - f)
                         ELSE 0 END) AS HUGEINT) AS gg
    FROM cum GROUP BY month
)
SELECT month, n AS n_orders,
       CAST((2 * 1000000 * gg + CAST(n AS HUGEINT) * s)
            // (2 * CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_micro
FROM g WHERE s > 0 ORDER BY month
"""


@register("q529_monthly_gini", oracle=_GINITREND_ORACLE)
def q529(orders):
    """Per-month exact Gini via the pairs-free identity (oracle
    comment)."""
    v = orders.select(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month"),
        cents("o_totalprice").alias("c"),
    )
    hist = v.groupBy("month", "c").agg(F.count("*").cast("bigint").alias("k"))
    wm = Window.partitionBy("month")
    wo = wm.orderBy("c")
    cum = hist.select(
        "month",
        "c",
        F.sum("k").over(wo).alias("f"),
        F.lead("c").over(wo).alias("cnext"),
        F.sum("k").over(wm).alias("n"),
        F.sum(F.col("k") * F.col("c")).over(wm).alias("s"),
    )
    d38 = "DECIMAL(38,0)"
    g = cum.groupBy("month").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("s").cast("bigint").alias("s"),
        F.sum(
            F.expr(
                f"CASE WHEN cnext IS NOT NULL"
                f" THEN CAST(cnext - c AS {d38}) * f * (n - f)"
                f" ELSE CAST(0 AS {d38}) END"
            )
        ).alias("gg"),
    )
    return (
        g.filter(F.col("s") > 0)
        .select(
            "month",
            F.col("n").alias("n_orders"),
            F.expr(
                f"CAST({rhu('1000000 * gg', f'CAST(n AS {d38}) * s')} AS BIGINT)"
            ).alias("gini_micro"),
        )
        .orderBy("month")
    )


# ---------- q530: regression-to-the-mean audit (H1 deciles -> H2)

# Winner's-curse check: decile users by FIRST-half click spend (unique
# rank, q496 posture), then compare each decile's second-half spend to
# its first-half spend — the top decile's ratio sinking toward the
# global ratio is the textbook effect. Split = exact integer midpoint
# of the global window (q503); ratios exact rhu micro.
_RTM_ORACLE = """
WITH ev AS MATERIALIZED (
    SELECT user_id, event_type, CAST(EPOCH_MS(ts) // 1000 AS BIGINT) AS es,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
), bound AS MATERIALIZED (
    SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM ev
), peru AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' AND es <= bound.mid
                         THEN c ELSE 0 END) AS BIGINT) AS h1,
           CAST(SUM(CASE WHEN event_type = 'click' AND es > bound.mid
                         THEN c ELSE 0 END) AS BIGINT) AS h2
    FROM ev, bound GROUP BY user_id, bound.mid
), ranked AS (
    SELECT h1, h2,
           ROW_NUMBER() OVER (ORDER BY h1 DESC, user_id) - 1 AS r,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM peru
), dec AS (
    SELECT CAST(r * 10 // n + 1 AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_u,
           CAST(SUM(h1) AS BIGINT) AS h1_sum, CAST(SUM(h2) AS BIGINT) AS h2_sum
    FROM ranked GROUP BY decile
)
SELECT decile, n_u, h1_sum, h2_sum,
       CAST(CASE WHEN h1_sum > 0
                 THEN (2 * 1000000 * h2_sum + h1_sum) // (2 * h1_sum)
                 ELSE NULL END AS BIGINT) AS ratio_micro
FROM dec ORDER BY decile
"""


@register("q530_regression_to_mean", oracle=_RTM_ORACLE)
def q530(events):
    """H1-decile to H2 spend ratios (oracle comment)."""
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("bigint").alias("es"),
        cents("value").alias("c"),
    )
    bound = ev.agg(F.expr("(MIN(es) + MAX(es)) DIV 2").alias("mid"))
    peru = (
        ev.crossJoin(F.broadcast(bound))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "click") & (F.col("es") <= F.col("mid")),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("h1"),
            F.sum(
                F.when(
                    (F.col("event_type") == "click") & (F.col("es") > F.col("mid")),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("h2"),
        )
    )
    wr = Window.orderBy(F.col("h1").desc(), "user_id")
    ranked = peru.select(
        "h1",
        "h2",
        (F.row_number().over(wr) - 1).alias("r"),
        F.count("*")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n"),
    )
    dec = ranked.groupBy(
        F.expr("CAST(r * 10 DIV n + 1 AS BIGINT)").alias("decile")
    ).agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.sum("h1").cast("bigint").alias("h1_sum"),
        F.sum("h2").cast("bigint").alias("h2_sum"),
    )
    return dec.select(
        "decile",
        "n_u",
        "h1_sum",
        "h2_sum",
        F.expr(
            f"CAST(CASE WHEN h1_sum > 0 THEN {rhu('1000000 * h2_sum', 'h1_sum')} ELSE"
            " NULL END AS BIGINT)"
        ).alias("ratio_micro"),
    ).orderBy("decile")


# ---------- q531: Neyman allocation (stratified sampling design)

# Optimal allocation of a 1000-unit sample across priority strata:
# n_h proportional to N_h * S_h. Per-stratum std is the ONLY double,
# explicitly ROUND(0)ed to integer cents (house rule) so the weights
# are integers; the allocation itself is the largest-remainder method
# (q314 apportionment discipline): floor quotas + remainders ranked
# (remainder DESC, stratum) — fully integer-deterministic.
_NEYMAN_ORACLE = """
WITH m AS (
    SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS s,
           CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT) AS HUGEINT)
                    * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS HUGEINT) AS q
    FROM orders GROUP BY grp
), w AS MATERIALIZED (
    SELECT grp, n,
           CAST(ROUND(SQRT((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 0)
                AS BIGINT) AS sd
    FROM m WHERE n > 1
), tot AS MATERIALIZED (
    SELECT CAST(SUM(CAST(n AS HUGEINT) * sd) AS HUGEINT) AS tw FROM w
), quota AS (
    SELECT w.grp, w.n, w.sd,
           CAST(1000 * CAST(w.n AS HUGEINT) * w.sd // tot.tw AS BIGINT) AS fl,
           CAST(1000 * CAST(w.n AS HUGEINT) * w.sd % tot.tw AS BIGINT) AS rem
    FROM w, tot
), ranked AS (
    SELECT grp, n, sd, fl,
           ROW_NUMBER() OVER (ORDER BY rem DESC, grp) AS rk,
           CAST(1000 - SUM(fl) OVER () AS BIGINT) AS leftover
    FROM quota
)
SELECT grp, n AS n_h, sd AS sd_cents,
       CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc
FROM ranked ORDER BY grp
"""


@register("q531_neyman_allocation", oracle=_NEYMAN_ORACLE)
def q531(orders):
    """Largest-remainder Neyman allocation of 1000 samples (oracle
    comment)."""
    d38 = "DECIMAL(38,0)"
    m = orders.select(
        F.col("o_orderpriority").alias("grp"), cents("o_totalprice").alias("c")
    ).groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(c AS {d38}) * c")).alias("q"),
    )
    w = m.filter(F.col("n") > 1).select(
        "grp",
        "n",
        F.expr(
            "CAST(ROUND(SQRT((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 0) AS BIGINT)"
        ).alias("sd"),
    )
    tot = w.agg(F.sum(F.expr(f"CAST(n AS {d38}) * sd")).alias("tw"))
    quota = w.crossJoin(F.broadcast(tot)).select(
        "grp",
        "n",
        "sd",
        F.expr(f"CAST(1000 * CAST(n AS {d38}) * sd DIV tw AS BIGINT)").alias("fl"),
        F.expr(f"CAST(1000 * CAST(n AS {d38}) * sd % tw AS BIGINT)").alias("rem"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = quota.select(
        "grp",
        "n",
        "sd",
        "fl",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "grp")).alias("rk"),
        (F.lit(1000) - F.sum("fl").over(wall)).cast("bigint").alias("leftover"),
    )
    return ranked.select(
        "grp",
        F.col("n").alias("n_h"),
        F.col("sd").alias("sd_cents"),
        F.expr(
            "CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("alloc"),
    ).orderBy("grp")


# ---------- q532: hourly load curve + peak-to-average ratio

# Capacity planning: events per hour-of-day (floor'd epoch seconds mod
# 86400 — engine-neutral, no timezone surface), exact shares, and the
# peak-to-average ratio max*24/total as one rhu micro repeated per row.
_LOAD_ORACLE = """
WITH h AS MATERIALIZED (
    SELECT (CAST(EPOCH_MS(ts) // 1000 AS BIGINT) % 86400) // 3600 AS hour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY hour
), t AS MATERIALIZED (
    SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(MAX(n) AS BIGINT) AS mx FROM h
)
SELECT CAST(h.hour AS INT) AS hour, h.n,
       CAST((2 * 1000000 * h.n + t.tot) // (2 * t.tot) AS BIGINT)
           AS share_micro,
       CAST((2 * 1000000 * t.mx * 24 + t.tot) // (2 * t.tot) AS BIGINT)
           AS par_micro
FROM h, t ORDER BY hour
"""


@register("q532_hourly_load_curve", oracle=_LOAD_ORACLE)
def q532(events):
    """Hour-of-day load curve with PAR (oracle comment)."""
    h = events.select(
        F.expr(
            "CAST((CAST(unix_timestamp(CAST(ts AS TIMESTAMP)) AS BIGINT)"
            " % 86400) DIV 3600 AS BIGINT)"
        ).alias("hour")
    ).groupBy("hour").agg(F.count("*").cast("bigint").alias("n"))
    t = h.agg(
        F.sum("n").cast("bigint").alias("tot"), F.max("n").cast("bigint").alias("mx")
    )
    return (
        h.crossJoin(F.broadcast(t))
        .select(
            F.col("hour").cast("int").alias("hour"),
            "n",
            F.expr(
                f"CAST({rhu('1000000 * n', 'tot')} AS BIGINT)"
            ).alias("share_micro"),
            F.expr(
                f"CAST({rhu('1000000 * mx * 24', 'tot')} AS BIGINT)"
            ).alias("par_micro"),
        )
        .orderBy("hour")
    )


# ---------- q533: Markov stationary distribution (power iteration)

# Long-run event-type mix from the per-user transition chain over the
# FULL 5-type alphabet (click/error/purchase/signup/view — dropping a
# type would leak stationary mass every step): row-normalized
# transition probs in exact rhu micro, then 20 power-iteration steps
# with PER-STEP rhu micro rounding (the declared contract — both
# engines step identical integer vectors; Spark folds Python ints in
# one grouped map, the oracle steps a recursive CTE over the
# MATERIALIZED 25-cell matrix).
_STATIONARY_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
), tc AS MATERIALIZED (
    SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE nxt IS NOT NULL GROUP BY a, b
), rows_ AS (
    SELECT a, CAST(SUM(c) AS BIGINT) AS rn FROM tc GROUP BY a
), types AS MATERIALIZED (
    SELECT * FROM (VALUES ('click', 1), ('error', 2), ('purchase', 3),
                          ('signup', 4), ('view', 5)) AS t(ty, ix)
), tm AS MATERIALIZED (
    -- LEFT join so a type with ZERO outgoing transitions still owns its
    -- 5 cells (p=0): an inner join would drop them and the recursive
    -- step's scalar subqueries would NULL-poison the whole vector while
    -- the Spark side's p.get((i,j), 0) silently leaked the mass — both
    -- engines now agree by construction on that edge.
    SELECT ta.ix AS i, tb.ix AS j,
           CAST(COALESCE((2 * 1000000 * COALESCE(tc.c, 0) + r.rn)
                         // (2 * r.rn), 0) AS BIGINT) AS p
    FROM types ta CROSS JOIN types tb
    LEFT JOIN rows_ r ON r.a = ta.ty
    LEFT JOIN tc ON tc.a = ta.ty AND tc.b = tb.ty
), rec AS MATERIALIZED (
    WITH RECURSIVE it(step, v1, v2, v3, v4, v5) AS (
        SELECT 0, CAST(200000 AS BIGINT), CAST(200000 AS BIGINT),
               CAST(200000 AS BIGINT), CAST(200000 AS BIGINT),
               CAST(200000 AS BIGINT)
        UNION ALL
        SELECT step + 1,
           CAST((2 * (it.v1 * (SELECT p FROM tm WHERE i = 1 AND j = 1)
                      + it.v2 * (SELECT p FROM tm WHERE i = 2 AND j = 1)
                      + it.v3 * (SELECT p FROM tm WHERE i = 3 AND j = 1)
                      + it.v4 * (SELECT p FROM tm WHERE i = 4 AND j = 1)
                      + it.v5 * (SELECT p FROM tm WHERE i = 5 AND j = 1))
                 + 1000000) // 2000000 AS BIGINT),
           CAST((2 * (it.v1 * (SELECT p FROM tm WHERE i = 1 AND j = 2)
                      + it.v2 * (SELECT p FROM tm WHERE i = 2 AND j = 2)
                      + it.v3 * (SELECT p FROM tm WHERE i = 3 AND j = 2)
                      + it.v4 * (SELECT p FROM tm WHERE i = 4 AND j = 2)
                      + it.v5 * (SELECT p FROM tm WHERE i = 5 AND j = 2))
                 + 1000000) // 2000000 AS BIGINT),
           CAST((2 * (it.v1 * (SELECT p FROM tm WHERE i = 1 AND j = 3)
                      + it.v2 * (SELECT p FROM tm WHERE i = 2 AND j = 3)
                      + it.v3 * (SELECT p FROM tm WHERE i = 3 AND j = 3)
                      + it.v4 * (SELECT p FROM tm WHERE i = 4 AND j = 3)
                      + it.v5 * (SELECT p FROM tm WHERE i = 5 AND j = 3))
                 + 1000000) // 2000000 AS BIGINT),
           CAST((2 * (it.v1 * (SELECT p FROM tm WHERE i = 1 AND j = 4)
                      + it.v2 * (SELECT p FROM tm WHERE i = 2 AND j = 4)
                      + it.v3 * (SELECT p FROM tm WHERE i = 3 AND j = 4)
                      + it.v4 * (SELECT p FROM tm WHERE i = 4 AND j = 4)
                      + it.v5 * (SELECT p FROM tm WHERE i = 5 AND j = 4))
                 + 1000000) // 2000000 AS BIGINT),
           CAST((2 * (it.v1 * (SELECT p FROM tm WHERE i = 1 AND j = 5)
                      + it.v2 * (SELECT p FROM tm WHERE i = 2 AND j = 5)
                      + it.v3 * (SELECT p FROM tm WHERE i = 3 AND j = 5)
                      + it.v4 * (SELECT p FROM tm WHERE i = 4 AND j = 5)
                      + it.v5 * (SELECT p FROM tm WHERE i = 5 AND j = 5))
                 + 1000000) // 2000000 AS BIGINT)
        FROM it WHERE step < 20
    )
    SELECT * FROM it WHERE step = 20
)
SELECT t.ty AS event_type,
       CASE t.ix WHEN 1 THEN rec.v1 WHEN 2 THEN rec.v2
                 WHEN 3 THEN rec.v3 WHEN 4 THEN rec.v4
                 ELSE rec.v5 END AS stationary_micro
FROM types t, rec ORDER BY event_type
"""


@register("q533_markov_stationary", oracle=_STATIONARY_ORACLE)
def q533(spark, events):
    """20-step power iteration in exact integer micro (oracle
    comment)."""
    import pandas as pd

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select("user_id", "event_type", F.lead("event_type").over(w).alias("nxt"))
    tc = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    rows_ = tc.groupBy("a").agg(F.sum("c").cast("bigint").alias("rn"))
    types = spark.createDataFrame(
        [("click", 1), ("error", 2), ("purchase", 3), ("signup", 4),
         ("view", 5)],
        "ty string, ix int",
    )
    ta = types.select(F.col("ty").alias("a"), F.col("ix").alias("i"))
    tb = types.select(F.col("ty").alias("b"), F.col("ix").alias("j"))
    # every frame here is <= 25 rows — broadcast both join sides so the
    # 5x5 matrix assembly never shuffles (a bare crossJoin of two
    # 32-partition frames produced a 1024-task cartesian stage)
    tm = (
        ta.join(F.broadcast(rows_), "a", "left")
        .crossJoin(F.broadcast(tb))
        .join(F.broadcast(tc), ["a", "b"], "left")
        .select(
            "i",
            "j",
            # COALESCE twice: missing (a,b) cell -> c=0; missing source row
            # (type with no outgoing transitions) -> whole expr NULL -> p=0,
            # mirroring the oracle's LEFT-join construction exactly
            F.expr(
                f"CAST(COALESCE({rhu('1000000 * COALESCE(c, 0)', 'rn')}, 0) AS BIGINT)"
            ).alias("p"),
        )
    )

    def power(pdf: "pd.DataFrame") -> "pd.DataFrame":
        p = {(int(r.i), int(r.j)): int(r.p) for r in pdf.itertuples()}
        v = [200000] * 5
        for _ in range(20):
            v = [
                (2 * sum(v[i] * p.get((i + 1, j + 1), 0) for i in range(5))
                 + 1000000) // 2000000
                for j in range(5)
            ]
        names = {1: "click", 2: "error", 3: "purchase", 4: "signup", 5: "view"}
        return pd.DataFrame(
            {"event_type": [names[j + 1] for j in range(5)],
             "stationary_micro": v}
        )

    return (
        tm.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(power, "event_type string, stationary_micro bigint")
        .orderBy("event_type")
    )


# ---------- q534: cache hit-rate curve (static LFU)

# Working-set economics: if a cache pinned the TOP-C users by total
# event count (the static-LFU / stationary-optimal policy), what
# fraction of the event stream hits? C in {10, 100, 1000}; the top-C
# cut uses the UNIQUE (count DESC, user_id) rank; hit rates exact rhu
# micro. One user aggregate, one rank window over the user frame.
_CACHE_ORACLE = """
WITH cu AS MATERIALIZED (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
), ranked AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rk FROM cu
), t AS MATERIALIZED (
    SELECT CAST(SUM(c) AS BIGINT) AS tot FROM cu
), cs AS MATERIALIZED (
    SELECT * FROM (VALUES (10), (100), (1000)) AS t(cap)
)
SELECT cs.cap,
       CAST(SUM(CASE WHEN r.rk <= cs.cap THEN r.c ELSE 0 END) AS BIGINT)
           AS hits,
       CAST((2 * 1000000 * SUM(CASE WHEN r.rk <= cs.cap THEN r.c ELSE 0 END)
             + t.tot) // (2 * t.tot) AS BIGINT) AS hit_micro
FROM cs, ranked r, t
GROUP BY cs.cap, t.tot ORDER BY cs.cap
"""


@register("q534_cache_hit_curve", oracle=_CACHE_ORACLE)
def q534(spark, events):
    """Static-LFU hit-rate at cache sizes 10/100/1000 (oracle
    comment)."""
    cu = events.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    ranked = cu.select(
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "user_id")).alias("rk"),
    )
    t = cu.agg(F.sum("c").cast("bigint").alias("tot"))
    cs = spark.createDataFrame([(10,), (100,), (1000,)], "cap int")
    return (
        ranked.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(t))
        .groupBy("cap", "tot")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("cap"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("hits")
        )
        .select(
            "cap",
            "hits",
            F.expr(
                f"CAST({rhu('1000000 * hits', 'tot')} AS BIGINT)"
            ).alias("hit_micro"),
        )
        .orderBy("cap")
    )


# ---------- q535: binned mutual information (length x lexical richness)

# Feature-dependency screen for continuous pairs: decile-bin doc
# length and per-doc distinct-token ratio (both by UNIQUE rank), then
# MI over the 10x10 grid with PER-CELL micro-rounded n_ij *
# ln(n_ij*N/(r_i*c_j)) terms before the integer sum (the q477/q518
# per-term discipline); MI_micro = rhu(sum_term / N) with a signed
# floor-safe split.
_BINMI_ORACLE = """
WITH toks AS (
    SELECT doc_id, n_chars,
           LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0) AS ts
    FROM documents
), per AS (
    SELECT doc_id, n_chars,
           LEN(LIST_DISTINCT(ts)) * 1000000 // GREATEST(LEN(ts), 1) AS ttr
    FROM toks
), ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS rl,
           ROW_NUMBER() OVER (ORDER BY ttr, doc_id) - 1 AS rt,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM per
), cells AS (
    SELECT rl * 10 // n AS bx, rt * 10 // n AS by,
           CAST(COUNT(*) AS BIGINT) AS k, CAST(MAX(n) AS BIGINT) AS n
    FROM ranked GROUP BY bx, by
), marg AS (
    SELECT c.bx, c.by, c.k, c.n,
           CAST(SUM(c.k) OVER (PARTITION BY c.bx) AS BIGINT) AS r,
           CAST(SUM(c.k) OVER (PARTITION BY c.by) AS BIGINT) AS cl
    FROM cells c
), terms AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(1000000 * k *
                LN(CAST(k AS DOUBLE) * CAST(n AS DOUBLE)
                   / (CAST(r AS DOUBLE) * CAST(cl AS DOUBLE))), 0) AS BIGINT))
                AS BIGINT) AS sum_term
    FROM marg
)
SELECT n AS n_docs,
       CAST(CASE WHEN sum_term >= 0
                 THEN (2 * sum_term + n) // (2 * n)
                 ELSE -((2 * (-sum_term) + n) // (2 * n)) END AS BIGINT)
           AS mi_micro
FROM terms
"""


@register("q535_binned_mutual_information", oracle=_BINMI_ORACLE)
def q535(documents):
    """Decile-binned MI with per-cell micro rounding (oracle comment)."""
    toks = documents.select(
        "doc_id",
        "n_chars",
        F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0).alias(
            "ts"
        ),
    )
    per = toks.select(
        "doc_id",
        "n_chars",
        F.expr(
            "size(array_distinct(ts)) * 1000000 DIV GREATEST(size(ts), 1)"
        ).alias("ttr"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = per.select(
        (F.row_number().over(Window.orderBy("n_chars", "doc_id")) - 1).alias("rl"),
        (F.row_number().over(Window.orderBy("ttr", "doc_id")) - 1).alias("rt"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    cells = ranked.groupBy(
        F.expr("rl * 10 DIV n").alias("bx"), F.expr("rt * 10 DIV n").alias("by")
    ).agg(F.count("*").cast("bigint").alias("k"), F.max("n").cast("bigint").alias("n"))
    marg = cells.select(
        "bx",
        "by",
        "k",
        "n",
        F.sum("k").over(Window.partitionBy("bx")).cast("bigint").alias("r"),
        F.sum("k").over(Window.partitionBy("by")).cast("bigint").alias("cl"),
    )
    terms = marg.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CAST(ROUND(1000000 * k * LN(CAST(k AS DOUBLE)"
                " * CAST(n AS DOUBLE)"
                " / (CAST(r AS DOUBLE) * CAST(cl AS DOUBLE))), 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("sum_term"),
    )
    return terms.select(
        F.col("n").alias("n_docs"),
        F.expr(
            f"CAST(CASE WHEN sum_term >= 0 THEN {rhu('sum_term', 'n')} ELSE"
            f" -({rhu('(-sum_term)', 'n')}) END AS BIGINT)"
        ).alias("mi_micro"),
    )


# ---------- q536: Dickey-Fuller unit-root screen (no constant-trend)

# Is daily revenue mean-reverting or a random walk? Regress
# delta_t = x_t - x_{t-1} on x_{t-1} (the zero-drift DF form): gamma =
# Sxy_c/Sxx_c and its t-stat t = gamma / sqrt((Syy_c/Sxx_c - gamma²)
# / (m-2)) from exact pair moments, with the m-scaled centred sums
# Sxx_c = m·Sxx - Sx², Syy_c = m·Syy - Sy², Sxy_c = m·Sxy - Sx·Sy (the
# m cancels in each ratio) — both
# textually-parallel q207 doubles over integer sums, ROUND(6). A
# t below ~-2.9 rejects the unit root.
_DF_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), pr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(a.cents) AS BIGINT) AS sx,
           CAST(SUM(b.cents - a.cents) AS BIGINT) AS sy,
           CAST(SUM(CAST(a.cents AS HUGEINT) * (b.cents - a.cents)) AS HUGEINT)
               AS sxy,
           CAST(SUM(CAST(a.cents AS HUGEINT) * a.cents) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(b.cents - a.cents AS HUGEINT) * (b.cents - a.cents))
                AS HUGEINT) AS syy
    FROM idx a JOIN idx b ON b.rn = a.rn + 1
)
SELECT m AS n_pairs,
       ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gamma_r6,
       ROUND(((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             / SQRT(((CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     - ((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                       * ((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                    / CAST(m - 2 AS DOUBLE)), 6)
           AS t_stat_r6
FROM pr
"""


@register("q536_dickey_fuller", oracle=_DF_ORACLE)
def q536(orders):
    """Zero-drift DF gamma + t-stat from exact pair moments (oracle
    comment; t = gamma / sqrt((Syy_c/Sxx_c - gamma²)/(m-2)), the
    simple-regression SE identity on mean-cleared moments: the m·
    scaling of Syy_c and Sxx_c cancels in their ratio)."""
    daily = _daily_cents(orders)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    a = idx.select(F.col("cents").alias("xa"), "rn")
    b = idx.select(F.col("cents").alias("xb"), (F.col("rn") - 1).alias("rn"))
    d38 = "DECIMAL(38,0)"
    pr = a.join(b, "rn").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("xa").cast("bigint").alias("sx"),
        F.sum(F.col("xb") - F.col("xa")).cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(xa AS {d38}) * (xb - xa)")).alias("sxy"),
        F.sum(F.expr(f"CAST(xa AS {d38}) * xa")).alias("sxx"),
        F.sum(F.expr(f"CAST(xb - xa AS {d38}) * (xb - xa)")).alias("syy"),
    )
    num = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    den = (
        "(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    gamma = f"{num} / {den}"
    return pr.select(
        F.col("m").alias("n_pairs"),
        F.expr(f"ROUND({gamma}, 6)").alias("gamma_r6"),
        F.expr(
            f"ROUND(({gamma})"
            f" / SQRT(((CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)"
            f" - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / {den}"
            f" - ({gamma}) * ({gamma})) / CAST(m - 2 AS DOUBLE)), 6)"
        ).alias("t_stat_r6"),
    )


# ---------- q537: direct standardization (weekday-adjusted conversion)

# Fair comparison of per-source conversion when weekday mixes differ:
# standardized rate = sum_h W_h * r_h / W with the GLOBAL weekday event
# mix as the standard population — r_h exact per (source, dow7), the
# weighted combination one exact rhu micro per source (num = sum over
# 7 strata of W_h*c_h*1e6 cross-multiplied onto a common denominator
# by integer arithmetic: sum_h W_h * rhu-free c_h/n_h folds as
# sum(W_h*c_h*D/n_h) with per-stratum exact rhu micro terms summed —
# declared per-stratum-rounded contract, the q518 per-term discipline).
_STDZ_ORACLE = """
WITH ev AS (
    SELECT source,
           CAST(EPOCH_MS(ts) // 1000 AS BIGINT) // 86400 % 7 AS dow7,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
    FROM events e
    JOIN documents d ON d.doc_id = e.user_id % (SELECT COUNT(*) FROM documents)
), strata AS MATERIALIZED (
    SELECT source, dow7, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(conv) AS BIGINT) AS c
    FROM ev GROUP BY source, dow7
), std AS MATERIALIZED (
    SELECT dow7, CAST(SUM(n) AS BIGINT) AS w FROM strata GROUP BY dow7
), wtot AS MATERIALIZED (
    SELECT CAST(SUM(w) AS BIGINT) AS tw FROM std
), terms AS (
    SELECT s.source,
           CAST(SUM(CAST(std.w AS HUGEINT)
                    * ((2 * 1000000 * s.c + s.n) // (2 * s.n))) AS HUGEINT)
               AS num
    FROM strata s JOIN std ON std.dow7 = s.dow7
    GROUP BY s.source
)
SELECT t.source,
       CAST((2 * t.num + wtot.tw) // (2 * wtot.tw) AS BIGINT)
           AS std_rate_micro
FROM terms t, wtot ORDER BY t.source
"""


@register("q537_direct_standardization", oracle=_STDZ_ORACLE)
def q537(events, documents):
    """Weekday-standardized conversion per source (oracle comment; the
    events->documents attach is the declared synthetic cohort join:
    source of doc_id = user_id mod |documents|)."""
    nd = documents.agg(F.count("*").cast("bigint").alias("ndocs"))
    ev = (
        events.crossJoin(F.broadcast(nd))
        .join(
            F.broadcast(documents.select("doc_id", "source")),
            F.col("doc_id") == F.expr("user_id % ndocs"),
        )
        .select(
            "source",
            F.expr(
                "CAST(unix_timestamp(CAST(ts AS TIMESTAMP)) AS BIGINT)"
                " DIV 86400 % 7"
            ).alias("dow7"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        )
    )
    # pinned: strata (|sources|×7 rows) feeds the weekday weights AND
    # the standardized terms — unpinned, the events cohort-join
    # aggregate runs twice (guide §2.4; before-plan: 11 Exchanges)
    strata = (
        ev.groupBy("source", "dow7")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("c"),
        )
        .transform(pin)
    )
    std = strata.groupBy("dow7").agg(F.sum("n").cast("bigint").alias("w"))
    wtot = std.agg(F.sum("w").cast("bigint").alias("tw"))
    d38 = "DECIMAL(38,0)"
    terms = (
        strata.join(F.broadcast(std), "dow7")
        .groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(w AS {d38}) * ({rhu('1000000 * c', 'n')})"
                )
            ).alias("num")
        )
    )
    return (
        terms.crossJoin(F.broadcast(wtot))
        .select(
            "source",
            F.expr(
                f"CAST({rhu('num', 'tw')} AS BIGINT)"
            ).alias("std_rate_micro"),
        )
        .orderBy("source")
    )


# ---------- q538: Kupiec POF backtest of the historical VaR

# Does the 95% historical VaR actually get breached ~5% of the time?
# Threshold = exact floor(0.05n)+1-th smallest daily revenue change
# (order statistic, no sort); x = breach count; the proportion-of-
# failures likelihood ratio LR = -2 ln[(1-p)^(n-x) p^x / ((1-x/n)^(n-x)
# (x/n)^x)] expands to pure ln terms over exact integers — ONE
# textually-parallel double, ROUND(6).
_KUPIEC_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
), chg AS MATERIALIZED (
    SELECT b.cents - a.cents AS d
    FROM idx a JOIN idx b ON b.rn = a.rn + 1
), cnt AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM chg
), thr AS MATERIALIZED (
    SELECT MIN(d) AS v FROM (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d, 1) AS rk FROM chg
    ), cnt WHERE rk >= cnt.n * 5 // 100 + 1
), x AS (
    SELECT CAST(SUM(CASE WHEN chg.d < thr.v THEN 1 ELSE 0 END) AS BIGINT)
               AS x
    FROM chg, thr
)
SELECT cnt.n, thr.v AS var_cents, x.x AS n_breaches,
       ROUND(-2.0 * (CAST(cnt.n - x.x AS DOUBLE) * LN(0.95)
                     + CAST(x.x AS DOUBLE) * LN(0.05)
                     - CAST(cnt.n - x.x AS DOUBLE)
                       * LN(1.0 - CAST(x.x AS DOUBLE) / CAST(cnt.n AS DOUBLE))
                     - CAST(x.x AS DOUBLE)
                       * LN(CAST(x.x AS DOUBLE) / CAST(cnt.n AS DOUBLE))), 6)
           AS lr_pof_r6
FROM cnt, thr, x
"""


@register("q538_kupiec_backtest", oracle=_KUPIEC_ORACLE)
def q538(orders):
    """Kupiec proportion-of-failures LR for the 5% historical VaR
    (oracle comment)."""
    daily = _daily_cents(orders)
    # pinned: idx feeds both sides of the lag join (unpinned, the daily
    # aggregate + global window run twice); chg feeds cnt, ranked AND
    # the breach count (guide §2.4; before-plan: 24 Exchanges, 14 Sorts)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("rn")
    ).transform(pin)
    a = idx.select(F.col("cents").alias("xa"), "rn")
    b = idx.select(F.col("cents").alias("xb"), (F.col("rn") - 1).alias("rn"))
    chg = (
        a.join(b, "rn")
        .select((F.col("xb") - F.col("xa")).alias("d"))
        .transform(pin)
    )
    cnt = chg.agg(F.count("*").cast("bigint").alias("n"))
    ranked = chg.select(
        "d", F.row_number().over(Window.orderBy("d")).alias("rk")
    )
    thr = (
        ranked.crossJoin(F.broadcast(cnt))
        .filter(F.col("rk") >= F.expr("n * 5 DIV 100 + 1"))
        .agg(F.min("d").alias("v"))
    )
    x = (
        chg.crossJoin(F.broadcast(thr))
        .agg(
            F.sum(F.when(F.col("d") < F.col("v"), 1).otherwise(0))
            .cast("bigint")
            .alias("x")
        )
    )
    return (
        cnt.crossJoin(thr)
        .crossJoin(x)
        .select(
            "n",
            F.col("v").alias("var_cents"),
            F.col("x").alias("n_breaches"),
            F.expr(
                "ROUND(-2.0 * (CAST(n - x AS DOUBLE) * LN(0.95)"
                " + CAST(x AS DOUBLE) * LN(0.05)"
                " - CAST(n - x AS DOUBLE)"
                " * LN(1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
                " - CAST(x AS DOUBLE)"
                " * LN(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))), 6)"
            ).alias("lr_pof_r6"),
        )
    )

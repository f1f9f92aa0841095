"""TPC-H-shape composite queries (scale-sensitive analytics shapes).

Adapted to the testdata's column subset (no l_commitdate / l_receiptdate /
l_shipmode / partsupp, so Q4/Q12/Q16/Q21 are out of reach): Q1 pricing
summary, Q6 forecast revenue, Q14 promo revenue, Q18 large orders, Q10
returned-item revenue, Q22-style idle high-balance customers.

Determinism (CLAUDE.md recipe): every money sum goes through decimal casts
of the FACTORS (never the double product), is summed exactly, and is cast
to double at the end; averages divide the exact decimal sum by the exact
count in IEEE double (identical operands -> identical bits in both
engines); the Q22 "above average" predicate is expressed multiplicatively
(bal * n > total) so no engine ever divides.

Scale notes per query are in the docstrings; the common pattern is:
filters reach the parquet scan, dims broadcast, facts shuffle once on the
group key, top-k plans as TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register


def _dec_rev():
    """l_extendedprice * (1 - l_discount), factor-cast to exact decimals."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")


@register(
    "q93_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q93(lineitem):
    """TPC-H Q1 (pricing summary report): the canonical wide-aggregate
    scan. One pass over lineitem, 8 aggregates over 6 grouping cells —
    all map-side partial (HashAggregate x2), the shuffle moves only ~6
    rows per partition. The shipdate filter reaches the parquet scan.
    Averages = exact decimal sum / exact count, divided in double."""
    qty = F.col("l_quantity").cast("decimal(12,2)")
    base = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = _dec_rev()
    charge = _dec_rev() * (1 + F.col("l_tax")).cast("decimal(4,2)")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(base).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(base).cast("double") / F.count("*")).alias("avg_price"),
            (
                F.sum(F.col("l_discount").cast("decimal(4,2)")).cast("double")
                / F.count("*")
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q94_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q94(lineitem):
    """TPC-H Q6 (forecast revenue change): pure filtered scalar agg — the
    pushdown benchmark. All three predicates reach the parquet scan
    (min/max row-group skipping at scale); zero joins, one tiny shuffle
    of per-partition partial sums."""
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(4,2)"
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q95_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q95(lineitem, part):
    """TPC-H Q14 (promo revenue): fact-dim join + conditional aggregate
    ratio. part broadcasts (dim); the month filter prunes lineitem at the
    scan so the join input is ~1/80 of the fact. Both sums are exact
    decimals; the ratio divides the two exact doubles, rounded(6)."""
    promo = F.when(F.col("p_type") == "PROMO", _dec_rev()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        lineitem
        .where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(promo).cast("double")
                / F.sum(_dec_rev()).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


@register(
    "q96_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS odate,
           o_totalprice,
           CAST(sq AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q96(lineitem, orders, customer):
    """TPC-H Q18 (large-volume orders): agg-then-join. The HAVING
    aggregate runs FIRST so only the ~1% qualifying orderkeys join back
    to orders/customer — at 100 TB the post-agg side is small enough
    that AQE converts both joins to broadcasts. Top-20 by totalprice
    with unique orderkey tiebreak plans as TakeOrderedAndProject."""
    big = (
        lineitem
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sq"))
        .where(F.col("sq") > 250)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_totalprice",
            F.col("sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q97_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q97(customer, orders, lineitem, nation):
    """TPC-H Q10 (returned-item losses): 3-way fact join + dim broadcast,
    grouped revenue, global top-20. The returnflag filter reaches the
    lineitem scan (dictionary filter at scale); nation broadcasts;
    customer/orders/lineitem shuffle once each on the join keys; the
    revenue ranking has a unique custkey tiebreak."""
    return (
        customer
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            lineitem.where(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_dec_rev()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q98_idle_rich_customers",
    oracle="""
    WITH pos AS (
        SELECT COUNT(*) AS n, SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * pos.n > pos.total
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def q98(customer, orders):
    """TPC-H Q22 shape (idle high-balance customers): scalar-subquery
    threshold + anti join. The "above average balance" predicate is the
    multiplicative form bal*n > total — both sides exact decimals, so no
    engine ever divides (decimal division scales differ across engines).
    The 1-row stats frame is a broadcast crossJoin (no shuffle); the
    NOT EXISTS is a left_anti against orders' custkeys."""
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    stats = (
        customer
        .where(F.col("c_acctbal") > 0.0)
        .agg(F.count("*").alias("n"), F.sum(bal).alias("total"))
    )
    return (
        customer
        .join(F.broadcast(stats))
        .where(bal * F.col("n") > F.col("total"))
        .join(
            orders,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


_Q129_ORACLE = """
    SELECT s.s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
"""


@register("q129_supplier_shipped_last", oracle=_Q129_ORACLE)
def q129(lineitem, supplier):
    """TPC-H Q21's join structure (the hardest shape in the suite: a
    correlated EXISTS and NOT EXISTS against the same fact table)
    adapted to this schema: suppliers who shipped LAST among
    multi-supplier orders. Spark side decorrelates by hand — one
    leftsemi (another supplier exists in the order) and one leftanti
    (no other supplier shipped later) against slim (orderkey, suppkey,
    shipdate) projections of the same scan; the oracle keeps the
    correlated-subquery form, proving plan-shape independence. Both
    probes join on l_orderkey (uniform); count is over distinct orders;
    top-10 has the s_name tiebreak."""
    slim = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = slim.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = slim.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    has_other = slim.join(
        l2,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "leftsemi",
    )
    shipped_last = has_other.join(
        l3,
        (F.col("l_orderkey") == F.col("o3"))
        & (F.col("l_suppkey") != F.col("s3"))
        & (F.col("d3") > F.col("l_shipdate")),
        "leftanti",
    )
    return (
        shipped_last.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


_Q130_ORACLE = """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
"""


@register("q130_profit_attribution", oracle=_Q130_ORACLE)
def q130(lineitem, part, supplier, nation, orders):
    """TPC-H Q9's shape (the widest join tree: fact + 4 dimensions) —
    profit per supplier-nation per order-year for one part family. The
    p_name filter prunes part BEFORE the join (pushdown through a join
    key), part/supplier/nation broadcast, and only the orders join
    shuffles fact-side. Money factors decimal-cast per the determinism
    rules; year is integer-exact."""
    p = part.where(F.col("p_name").like("%gear%")).select("p_partkey")
    s = supplier.select("s_suppkey", "s_nationkey")
    n = nation.select("n_nationkey", F.col("n_name").alias("nation"))
    o = orders.select("o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        lineitem.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.sum(rev).cast("double").alias("profit"))
    )

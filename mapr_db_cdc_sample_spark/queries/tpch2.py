"""TPC-H shape completion (round 4): the 11 query shapes tpch.py left
out, adapted to the testdata's column subset. With these, all 22 TPC-H
query SHAPES are represented in the registry (Q1/Q3/Q5/Q6/Q9/Q10/Q14/
Q18/Q21/Q22 in tpch.py + relational.py, Q2/Q4/Q7/Q8/Q11/Q13/Q15/Q16/
Q17/Q19/Q20 here; Q12's CASE-count-by-shipmode shape is q144's CASE
distribution without the missing l_shipmode column).

Adaptations (testdata has no partsupp / l_commitdate / l_receiptdate /
l_shipmode / p_container / comments):
- partsupp        -> DISTINCT (l_partkey, l_suppkey) from lineitem
- commit<receipt  -> l_returnflag = 'R' (the "problem order" predicate)
- comment LIKE    -> s_acctbal < 0 (the supplier-exclusion predicate)
- p_container     -> p_size ranges
- ps_availqty vs shipped -> per-(part,supplier) share of the part's
  total shipped quantity (Q20 becomes "dominant supplier")

Determinism (CLAUDE.md recipe): money/quantity sums are decimal-cast on
the FACTORS and summed exactly; comparisons that gate rows are either
exact-decimal-vs-decimal (multiplicative forms — q143/q147/q149 never
divide), integer counts, or equality against a MIN/MAX drawn from the
same value set; doubles appear only in final output columns; ratio
outputs are ROUND(...,6); every LIMITed ordering carries a unique
tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import register


def _rev_dec():
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------- Q4 shape

@register(
    "q140_order_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q140(orders, lineitem):
    """TPC-H Q4 shape (order priority checking): quarter of orders with
    EXISTS over the fact table — plans as a LEFT SEMI join, so lineitem
    contributes at most one match per order and nothing is double
    counted. The date filter reaches the orders scan; the semi join
    shuffles only orderkeys."""
    problem = lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.where(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1996-04-01"))
        )
        .join(problem, orders["o_orderkey"] == problem["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------- Q7 shape

@register(
    "q141_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    GROUP BY 1, 2, 3
    """,
)
def q141(lineitem, orders, customer, supplier, nation):
    """TPC-H Q7 (volume shipping): the two-nation trade-flow query. Both
    nation dims broadcast; the nation-pair disjunction applies AFTER the
    broadcast joins (it needs both sides), but supplier/customer/nation
    are all broadcast so the only shuffles are the fact-fact
    lineitem-orders join and the final 3-key rollup."""
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.where(
            F.col("l_shipdate").between(_ts("1995-01-01"), _ts("1996-12-31"))
        )
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------- Q8 shape

@register(
    "q142_market_share",
    oracle="""
    WITH flows AS (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part     ON l_partkey = p_partkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region    ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM flows
    GROUP BY o_year
    """,
)
def q142(lineitem, orders, customer, supplier, part, nation, region):
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-part
    revenue sold into ASIA per year. Both sums are exact decimals cast
    to double only for the final division (identical operands on both
    engines), ROUND(...,6). Five broadcast dims, one fact-fact shuffle."""
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    vol = _rev_dec().alias("volume")
    flows = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(
            F.broadcast(part.where(F.col("p_type") == "PROMO")),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("c_rk") == F.col("r_regionkey"),
        )
        .where(F.col("o_orderdate").between(_ts("1995-01-01"), _ts("1996-12-31")))
        .select(F.year("o_orderdate").alias("o_year"), vol, "supp_nation")
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    )
    return flows.groupBy("o_year").agg(
        F.round(nat.cast("double") / F.sum("volume").cast("double"), 6).alias("mkt_share")
    )


# ---------------------------------------------------------- Q11 shape

@register(
    "q143_important_stock",
    oracle="""
    WITH ps AS MATERIALIZED (
        SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
        GROUP BY l_partkey
    ), tot AS (SELECT SUM(val) AS total FROM ps)
    SELECT l_partkey, CAST(val AS DOUBLE) AS val
    FROM ps, tot
    WHERE val * 400 > total
    ORDER BY val DESC, l_partkey
    """,
)
def q143(lineitem, supplier, nation):
    """TPC-H Q11 (important stock): per-part value for one nation's
    suppliers, kept when above a fraction of the grand total. The gate
    is MULTIPLICATIVE on exact decimals (val*400 > total) — neither
    engine ever divides, so the boundary cannot split on FP. The grand
    total is a 1-row broadcast; ordering has a unique partkey tiebreak."""
    nat = nation.where(F.col("n_name") == "NATION_5")
    ps = (
        lineitem.join(F.broadcast(supplier), lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("val"))
    )
    tot = ps.agg(F.sum("val").alias("total"))
    return (
        ps.join(F.broadcast(tot))
        .where(F.col("val") * 400 > F.col("total"))
        .select("l_partkey", F.col("val").cast("double").alias("val"))
        .orderBy(F.col("val").desc(), "l_partkey")
    )


# ---------------------------------------------------------- Q13 shape

@register(
    "q144_customer_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q144(customer, orders):
    """TPC-H Q13 (customer distribution): the double-aggregate histogram
    — orders per customer (LEFT join keeps zero-order customers, the
    whole point of Q13), then customers per order-count. The join
    predicate filter (non-urgent) lives IN the join condition, not a
    WHERE, so unmatched customers count as 0 rather than vanishing.
    Ordering (custdist, c_count) is unique by construction."""
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderpriority") != "1-URGENT"),
            customer["c_custkey"] == orders["o_custkey"],
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------- Q15 shape

@register(
    "q145_top_supplier",
    oracle="""
    WITH rev AS MATERIALIZED (
        SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(1 - l_discount AS DECIMAL(4,2))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q145(lineitem, supplier):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    max. The max and the equality comparison stay in EXACT decimals (the
    double cast happens only in the output column), so "equals the max"
    is the same set on both engines even with revenue ties. The max is a
    1-row broadcast; supplier dim broadcasts."""
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_dec()).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------- Q16 shape

@register(
    "q146_parts_supplier_count",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q146(lineitem, part, supplier):
    """TPC-H Q16 (parts/supplier relationship): distinct supplier count
    per part attribute cell, excluding flagged suppliers — NOT IN plans
    as a broadcast ANTI join here (the exclusion list is known non-null:
    s_suppkey is a key, so NOT IN == anti join semantics hold). The
    partsupp stand-in is the distinct (part, supplier) projection of
    lineitem. Ordering is unique (the full group key is in the sort)."""
    ps = lineitem.select("l_partkey", "l_suppkey").distinct()
    flagged = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    keep_part = part.where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        ps.join(flagged, ps["l_suppkey"] == flagged["s_suppkey"], "left_anti")
        .join(F.broadcast(keep_part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------- Q17 shape

@register(
    "q147_small_qty_revenue",
    oracle="""
    WITH stats AS (
        SELECT l_partkey AS sp, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#1'
        GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN stats ON l_partkey = sp
    WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * n < sum_qty
    """,
)
def q147(lineitem, part):
    """TPC-H Q17 (small-quantity-order revenue): lineitems below 20% of
    their part's average quantity. The gate is the multiplicative exact
    form qty*5*n < sum_qty (decimals and an exact count — the division
    by 5n never happens), so the below-average set is identical on both
    engines; only the final yearly average divides, in double, once."""
    brand = part.where(F.col("p_brand") == "Brand#1").select("p_partkey")
    stats = (
        lineitem.join(F.broadcast(brand), lineitem["l_partkey"] == brand["p_partkey"])
        .groupBy(F.col("l_partkey").alias("sp"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )
    return (
        lineitem.join(F.broadcast(stats), lineitem["l_partkey"] == F.col("sp"))
        .where(F.col("l_quantity").cast("decimal(12,2)") * 5 * F.col("n") < F.col("sum_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------- Q19 shape

@register(
    "q148_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def q148(lineitem, part):
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the OR-of-
    conjuncts join filter. Catalyst extracts the common l_quantity and
    p_brand/p_size bounds for partial pushdown and keeps the residual
    disjunction on the joined row; the part side broadcasts. One exact
    decimal sum."""
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 15)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(11, 25)
        & F.col("l_quantity").between(10, 25)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(26, 50)
        & F.col("l_quantity").between(20, 35)
    )
    return (
        lineitem.join(F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"])
        .where(cond)
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------- Q20 shape

@register(
    "q149_dominant_supplier",
    oracle="""
    WITH red AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ), shipped AS MATERIALIZED (
        SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
        FROM lineitem JOIN red ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_partkey, l_suppkey
    ), totals AS (
        SELECT l_partkey AS tp, SUM(qty) AS part_qty FROM shipped GROUP BY l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped JOIN totals ON l_partkey = tp
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE qty * 2 > part_qty
    ORDER BY s_suppkey
    """,
)
def q149(lineitem, part, supplier):
    """TPC-H Q20 shape (potential part promotion -> dominant supplier):
    suppliers shipping more than half of a red part's 1996 volume. The
    availqty predicate becomes a share-of-total predicate (no partsupp
    in the testdata) — same nested IN/grouped-subquery shape, and the
    gate is multiplicative on exact decimals (qty*2 > part_qty). The
    per-part totals reuse the (part,supplier) aggregate's partitioning:
    grouping by a PREFIX of the first group key keeps the second
    aggregate exchange-free."""
    red = part.where(F.col("p_name").like("red%")).select("p_partkey")
    shipped = (
        lineitem.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .join(F.broadcast(red), lineitem["l_partkey"] == red["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("qty").alias("part_qty")
    )
    return (
        shipped.join(totals, shipped["l_partkey"] == totals["tp"])
        .where(F.col("qty") * 2 > F.col("part_qty"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------- Q2 shape

@register(
    "q150_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), cand AS MATERIALIZED (
        SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name
        FROM ps
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        JOIN part     ON l_partkey = p_partkey
        WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size = 10
    ), mins AS (
        SELECT l_partkey AS mp, MIN(s_acctbal) AS min_bal FROM cand GROUP BY l_partkey
    )
    SELECT l_partkey, s_suppkey, s_name, n_name, s_acctbal
    FROM cand JOIN mins ON l_partkey = mp AND s_acctbal = min_bal
    ORDER BY l_partkey, s_suppkey
    """,
)
def q150(lineitem, supplier, nation, region, part):
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the EUROPE supplier with the minimum account balance (the
    ps_supplycost correlated-MIN becomes a MIN over the same doubles on
    both engines — equality against a MIN drawn from the identical value
    set is FP-safe, and balance ties surface identically as extra rows).
    All dims broadcast; the per-part MIN reuses the candidate join's
    output."""
    ps = lineitem.select("l_partkey", "l_suppkey").distinct()
    europe = (
        supplier.join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = part.where((F.col("p_type") == "STANDARD") & (F.col("p_size") == 10)).select(
        "p_partkey"
    )
    cand = (
        ps.join(F.broadcast(parts), ps["l_partkey"] == parts["p_partkey"])
        .join(F.broadcast(europe), ps["l_suppkey"] == europe["s_suppkey"])
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    mins = cand.groupBy(F.col("l_partkey").alias("mp")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            mins,
            (cand["l_partkey"] == mins["mp"]) & (cand["s_acctbal"] == mins["min_bal"]),
        )
        .select("l_partkey", "s_suppkey", "s_name", "n_name", "s_acctbal")
        .orderBy("l_partkey", "s_suppkey")
    )

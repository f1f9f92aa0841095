"""Relational operator surface Q01-Q36 (SURVEY.md §2.2) — batch layer.

Every query is declared twice: an idiomatic DataFrame-API plan (Catalyst
optimizes: pushdown, pruning, broadcast selection, AQE) and an ANSI-SQL
oracle DuckDB runs over the same parquet. Determinism rules (SURVEY.md
§2.2) are applied on BOTH sides:

- double aggregates go through DECIMAL(18,2) so sums are exact integer
  arithmetic in both engines, then CAST back to DOUBLE (identical bits);
- averages = exact decimal sum cast to double / count, rounded — IEEE
  division of identical inputs is identical;
- transcendental functions (exp/ln/log10) are rounded to 6 places (libm
  may differ in the last ulp between JVM and C);
- every LIMIT sits on a total order with a unique tiebreaker;
- timestamps are cast to DATE (wall-clock stable; session tz is UTC);
- DuckDB integer SUM returns HUGEINT → cast to BIGINT on the oracle side.

Scale notes (100 TB posture) are on each query; `broadcast()` hints mark
dimension joins, everything else is left to Catalyst + AQE.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import pin, scoped_confs
from . import register


def _dec_sum(col):
    """Exact double sum: decimal(18,2) arithmetic, double result."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def _dec_avg(col):
    """avg = exact decimal sum / count, as double, rounded to 2."""
    return F.round(_dec_sum(col) / F.count(F.col(col)), 2)


# ---------------------------------------------------------------- scans

@register(
    "q01_scan_count",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_vals,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    """,
)
def q01(lineitem):
    """Parquet scan + projection + count. Scale: column pruning means the
    scan reads one column; count/min/max are map-side partials."""
    return lineitem.select("l_orderkey").agg(
        F.count("*").alias("n_rows"),
        F.count("l_orderkey").alias("n_vals"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


@register(
    "q02_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_totalprice BETWEEN 1000 AND 100000
           AND o_orderstatus IN ('O','F')
           AND o_orderpriority LIKE '%URGENT%')
       OR (NOT (o_orderstatus = 'P')
           AND o_custkey IS NOT NULL
           AND o_totalprice < 500)
    """,
)
def q02(orders):
    """Compound predicates: AND/OR/NOT, IN, BETWEEN, LIKE, IS NOT NULL.
    Scale: whole predicate is pushed to the parquet scan (PushedFilters)."""
    c = F.col
    return orders.where(
        (
            c("o_totalprice").between(1000, 100000)
            & c("o_orderstatus").isin("O", "F")
            & c("o_orderpriority").like("%URGENT%")
        )
        | (~(c("o_orderstatus") == "P") & c("o_custkey").isNotNull() & (c("o_totalprice") < 500))
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "q03_projection_case",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 50000  THEN 'mid'
                ELSE 'small' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_adj,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS tithe
    FROM orders
    """,
)
def q03(orders):
    """Computed projection + CASE WHEN + coalesce/nullif (R9 analogue)."""
    p = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.when(p > 200000, "big").when(p > 50000, "mid").otherwise("small").alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_adj"
        ),
        # decimal arithmetic: price*0.1 has an exact 3rd decimal, and
        # rounding a half-boundary DOUBLE differs between engines — both
        # round DECIMAL half-away-from-zero, so this is deterministic.
        F.round(p.cast("decimal(18,2)") * F.lit("0.1").cast("decimal(2,1)"), 2)
        .cast("double")
        .alias("tithe"),
    )


# ---------------------------------------------------------------- joins

@register(
    "q04_inner_join",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 150000
    """,
)
def q04(orders, customer):
    """Inner equi-join; planner picks broadcast/SMJ. Scale: orders is the
    big side; filter is pushed below the join by Catalyst."""
    return (
        orders
        .where(F.col("o_totalprice") > 150000)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "q05_broadcast_join",
    oracle="""
    SELECT c_custkey, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def q05(customer, nation, region):
    """Broadcast hash join: nation (25) and region (5) ship to every
    executor — zero shuffle of the fact side at any scale."""
    return (
        customer
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )


@register(
    "q06_left_join",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 300000
    """,
)
def q06(orders, customer):
    """Left outer join with a join-side predicate (stays in the ON clause
    so unmatched customers survive)."""
    return customer.join(
        orders,
        (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_totalprice") > 300000),
        "left",
    ).select("c_custkey", "o_orderkey")


@register(
    "q06_right_join",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM customer RIGHT JOIN orders
      ON c_custkey = o_custkey AND c_acctbal > 9000
    """,
)
def q06r(customer, orders):
    return customer.join(
        orders, (F.col("c_custkey") == F.col("o_custkey")) & (F.col("c_acctbal") > 9000), "right"
    ).select("c_custkey", "o_orderkey")


@register(
    "q07_full_outer_join",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
    FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 100000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q07(customer, orders):
    c = customer.where(F.col("c_acctbal") > 5000)
    o = orders.where(F.col("o_totalprice") > 100000)
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "full").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "q08_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
    """,
)
def q08(orders, customer):
    """Left semi join ≡ EXISTS. Scale: semi-join shuffles only keys."""
    o = orders.where(F.col("o_totalprice") > 250000)
    return customer.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q09_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q09(customer, orders):
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q10_cross_join",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def q10(region, nation):
    """Bounded cross join (5×25). Scale: only ever dims-by-dims; the
    engine never cross-joins a fact table (see Q38's design)."""
    return region.crossJoin(nation).select("r_name", "n_name")


@register(
    "q11_theta_join",
    oracle="""
    SELECT s_suppkey, c_custkey
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    """,
)
def q11(supplier, customer):
    """Theta join: equi key (nationkey) + non-equi band — planner keeps
    the equi part as the shuffle key and applies the band as a post-join
    filter, so it scales like a normal hash join."""
    return supplier.join(
        customer,
        (F.col("s_nationkey") == F.col("c_nationkey")) & (F.col("s_acctbal") > F.col("c_acctbal")),
    ).select("s_suppkey", "c_custkey")


@register(
    "q12_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id,
           (SELECT MAX(c.ts) FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND c.ts <= p.ts) AS last_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q12(events):
    """As-of join: for each purchase, the latest click at-or-before it by
    the same user. Spark-first: union the two sides, one window pass with
    last(ignoreNulls) — a single shuffle on user_id, no range join, no
    per-row subquery. (user_id, ts) is unique in the corpus so <= and the
    row order agree. Oracle = correlated MAX subquery (ANSI)."""
    from ..operators.asof import asof_join

    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts", carry=["ts"]
    ).select("event_id", "user_id", F.col("asof_ts").alias("last_click_ts"))


# ------------------------------------------------------------ aggregates

@register(
    "q13_groupby_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 2) AS avg_qty,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q13(lineitem):
    """Hash aggregate (TPC-H Q1 shape). Scale: partial aggregation is
    map-side; only |groups| rows shuffle. Decimal sums keep the oracle
    hash exact."""
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity").alias("sum_qty"),
            _dec_sum("l_extendedprice").alias("sum_base_price"),
            _dec_avg("l_quantity").alias("avg_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q14_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS d_part,
           COUNT(DISTINCT l_suppkey) AS d_supp,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q14(lineitem):
    """Multi COUNT(DISTINCT) — Spark expands to two aggregate passes."""
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("d_part"),
        F.countDistinct("l_suppkey").alias("d_supp"),
        F.count("*").alias("n"),
    )


@register(
    "q15_global_agg",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    """,
)
def q15(orders):
    return orders.agg(
        F.count("*").alias("n"),
        _dec_sum("o_totalprice").alias("total"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "q16_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_prio,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q16(orders):
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count("*").alias("n"),
        _dec_sum("o_totalprice").alias("total"),
    )


@register(
    "q17_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q17(lineitem):
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), _dec_sum("l_quantity").alias("qty")
    )


_Q18_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("q18_grouping_sets", oracle=_Q18_SQL)
def q18(spark):
    """GROUPING SETS — same ANSI text runs on both engines."""
    return spark.sql(_Q18_SQL)


@register(
    "q19_filtered_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def q19(orders):
    return orders.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("n_big"),
        F.count("*").alias("n"),
    )


@register(
    "q20_collect_list",
    oracle="""
    SELECT l_orderkey,
           STRING_AGG(l_linenumber, ',' ORDER BY l_linenumber) AS lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q20(lineitem):
    """collect_list re-assembly (R13 analogue: rebuild a per-record object
    after explode). sort_array makes the list deterministic."""
    return lineitem.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("l_linenumber")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("lines")
    )


# --------------------------------------------------------------- windows

@register(
    "q21_ranking",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY o_orderpriority, o_orderkey) AS rn,
           RANK()       OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS rk,
           DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS drk
    FROM orders
    """,
)
def q21(orders):
    """Ranking trio; rank/dense_rank exercise real ties (5 priorities),
    row_number adds a unique tiebreaker so it stays deterministic."""
    w_unique = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority", "o_orderkey")
    w_ties = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    return orders.select(
        "o_orderkey",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_ties).alias("rk"),
        F.dense_rank().over(w_ties).alias("drk"),
    )


@register(
    "q22_analytic",
    oracle="""
    SELECT event_id,
           LAG(value)  OVER w AS prev_v,
           LEAD(value) OVER w AS next_v,
           FIRST_VALUE(value) OVER w AS first_v,
           LAST_VALUE(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS last_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q22(events):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return events.select(
        "event_id",
        F.lag("value").over(w).alias("prev_v"),
        F.lead("value").over(w).alias("next_v"),
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w_full).alias("last_v"),
    )


@register(
    "q23_frames",
    oracle="""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sliding
    FROM events
    """,
)
def q23(events):
    """Window frames. Decimal inside the frame sum: DuckDB computes
    sliding sums with segment trees (different FP association) — decimal
    makes both exact."""
    v = F.col("value").cast("decimal(18,2)")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = base.rowsBetween(Window.unboundedPreceding, 0)
    sliding = base.rowsBetween(-2, 0)
    return events.select(
        "event_id",
        F.sum(v).over(running).cast("double").alias("running"),
        F.sum(v).over(sliding).cast("double").alias("sliding"),
    )


@register(
    "q24_distribution",
    oracle="""
    SELECT o_orderkey,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST()    OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q24(orders):
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q25_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
)
def q25(orders):
    """Generic top-k per group: row_number + filter. Scale: Spark's
    WindowGroupLimit pushes the k-limit into the sort (no full
    materialization per group)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ----------------------------------------------------------- sort / sets

@register(
    "q26_sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           NULLIF(o_orderstatus, 'P') AS status_n
    FROM orders
    ORDER BY status_n DESC NULLS FIRST, o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q26(orders):
    """Multi-key sort with explicit null ordering + LIMIT → Spark plans
    TakeOrderedAndProject (no global sort materialization). Unique
    tiebreaker (o_orderkey) makes the LIMIT set stable."""
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_n"),
        )
        .orderBy(
            F.col("status_n").desc_nulls_first(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(100)
    )


@register(
    "q27_union_all",
    oracle="""
    SELECT o_custkey AS key, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT c_custkey AS key, 'rich' AS src FROM customer WHERE c_acctbal > 9000
    """,
)
def q27a(orders, customer):
    a = (
        orders
        .where(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("key"), F.lit("open").alias("src"))
    )
    b = (
        customer
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("key"), F.lit("rich").alias("src"))
    )
    return a.unionAll(b)


@register(
    "q27_union_distinct",
    oracle="""
    SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 9000
    """,
)
def q27b(orders, customer):
    a = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("key"))
    b = customer.where(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("key"))
    return a.union(b).distinct()


@register(
    "q28_intersect",
    oracle="""
    SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q28(orders):
    a = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("key"))
    b = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("key"))
    return a.intersect(b)


@register(
    "q29_except",
    oracle="""
    SELECT c_custkey AS key FROM customer
    EXCEPT
    SELECT o_custkey AS key FROM orders WHERE o_totalprice > 50000
    """,
)
def q29(customer, orders):
    a = customer.select(F.col("c_custkey").alias("key"))
    b = orders.where(F.col("o_totalprice") > 50000).select(F.col("o_custkey").alias("key"))
    return a.subtract(b)  # EXCEPT (distinct semantics)


@register(
    "q30_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q30(lineitem):
    return lineitem.select("l_returnflag", "l_linestatus").distinct()


# ------------------------------------------------------- scalar families

@register(
    "q31_string_fns",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS up_name,
           LOWER(p_brand) AS lo_brand,
           SUBSTRING(p_name, 1, 5) AS name5,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           CONCAT_WS('-', p_brand, p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_u,
           LPAD(p_brand, 12, '*') AS brand_pad,
           RPAD(p_brand, 12, '.') AS brand_rpad,
           STRING_SPLIT(p_type, ' ')[1] AS first_word,
           REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_token,
           REGEXP_REPLACE(p_name, '[aeiou]', '#', 'g') AS devoweled,
           (p_type LIKE '%BRASS%') AS is_brass,
           STARTS_WITH(p_brand, 'Brand#1') AS b1
    FROM part
    """,
)
def q31(part):
    """String family. R7's equalsIgnoreCase ≡ lower(a)=lower(b) lives in
    the CDC lane; here the full built-in surface. NOTE: Spark
    regexp_replace is global by default; DuckDB needs the 'g' flag."""
    c = F.col
    return part.select(
        "p_partkey",
        F.upper(c("p_name")).alias("up_name"),
        F.lower(c("p_brand")).alias("lo_brand"),
        F.substring(c("p_name"), 1, 5).alias("name5"),
        F.length(c("p_name")).alias("name_len"),
        F.concat_ws("-", c("p_brand"), c("p_type")).alias("brand_type"),
        F.replace(c("p_type"), F.lit(" "), F.lit("_")).alias("type_u"),
        F.lpad(c("p_brand"), 12, "*").alias("brand_pad"),
        F.rpad(c("p_brand"), 12, ".").alias("brand_rpad"),
        F.split(c("p_type"), " ").getItem(0).alias("first_word"),
        F.regexp_extract(c("p_name"), "([a-z]+)", 1).alias("first_token"),
        F.regexp_replace(c("p_name"), "[aeiou]", "#").alias("devoweled"),
        c("p_type").like("%BRASS%").alias("is_brass"),
        F.startswith(c("p_brand"), F.lit("Brand#1")).alias("b1"),
    )


@register(
    "q32_date_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS y,
           CAST(MONTH(o_orderdate) AS INT) AS m,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS d,
           CAST(QUARTER(o_orderdate) AS INT) AS q,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
           CAST(o_orderdate AS DATE) + 30 AS plus30,
           CAST(o_orderdate AS DATE) AS od
    FROM orders
    """,
)
def q32(orders):
    """Date/time family — wall-clock-stable functions only (session tz is
    UTC; no epoch math, cf. FIXTURES.md oracle-parity notes)."""
    od = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(od).alias("y"),
        F.month(od).alias("m"),
        F.dayofmonth(od).alias("d"),
        F.quarter(od).alias("q"),
        F.date_trunc("month", od).cast("date").alias("month_start"),
        F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_add(od.cast("date"), 30).alias("plus30"),
        od.cast("date").alias("od"),
    )


@register(
    "q33_math_fns",
    oracle="""
    SELECT p_partkey,
           ABS(p_retailprice - 1000.0) AS dist,
           ROUND(p_retailprice, 1) AS r1,
           FLOOR(p_retailprice) AS fl,
           CEIL(p_retailprice) AS ce,
           ROUND(SQRT(CAST(p_size AS DOUBLE)), 6) AS sq,
           CAST(POW(2, p_size % 10) AS DOUBLE) AS p2,
           ROUND(EXP(p_retailprice / 10000.0), 6) AS ex,
           ROUND(LN(p_retailprice), 6) AS lnp,
           ROUND(LOG10(p_retailprice), 6) AS lg,
           CAST(p_size % 7 AS INT) AS pm,
           CAST(SIGN(p_retailprice - 1000.0) AS DOUBLE) AS sg,
           GREATEST(CAST(p_size AS DOUBLE), p_retailprice / 100.0) AS gr,
           LEAST(CAST(p_size AS DOUBLE), p_retailprice / 100.0) AS le
    FROM part
    """,
)
def q33(part):
    """Math family. Transcendentals rounded to 6 (JVM vs libm last-ulp);
    sqrt is IEEE-exact but rounded for uniformity; floor/ceil return
    DOUBLE in DuckDB and LONG in Spark → cast via double."""
    rp = F.col("p_retailprice")
    sz = F.col("p_size")
    return part.select(
        "p_partkey",
        F.abs(rp - 1000.0).alias("dist"),
        F.round(rp, 1).alias("r1"),
        F.floor(rp).cast("double").alias("fl"),
        F.ceil(rp).cast("double").alias("ce"),
        F.round(F.sqrt(sz.cast("double")), 6).alias("sq"),
        F.pow(F.lit(2), sz % 10).alias("p2"),
        F.round(F.exp(rp / 10000.0), 6).alias("ex"),
        F.round(F.log(rp), 6).alias("lnp"),
        F.round(F.log10(rp), 6).alias("lg"),
        (sz % 7).cast("int").alias("pm"),
        F.signum(rp - 1000.0).alias("sg"),
        F.greatest(sz.cast("double"), rp / 100.0).alias("gr"),
        F.least(sz.cast("double"), rp / 100.0).alias("le"),
    )


@register(
    "q34_array_fns",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS n_dims,
           embedding[1] AS first_val,
           ARRAY_TO_STRING(LIST_TRANSFORM(embedding[1:4],
                           x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)) AS VARCHAR)), ',') AS head4,
           ARRAY_TO_STRING(LIST_SORT([CAST(vec_id AS INT) % 10, label, 7]), ',') AS arr_sorted,
           CAST(LEN(LIST_DISTINCT([label, label, CAST(vec_id AS INT) % 10])) AS INT) AS n_uniq,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm_sq,
           CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS INT) AS n_pos
    FROM embeddings
    """,
)
def q34(embeddings):
    """Array family incl. higher-order transform/filter/aggregate over the
    64-dim embedding column."""
    emb = F.col("embedding")
    return embeddings.select(
        "vec_id",
        F.size(emb).alias("n_dims"),
        emb.getItem(0).alias("first_val"),
        # Arrays serialized to strings so the cross-engine comparator can hash
        # them (raw arrays are unhashable in the driver's canonicalizer).
        # Float elements go through DECIMAL(12,6) for a stable textual form.
        F.array_join(
            F.transform(
                F.slice(emb, 1, 4), lambda x: x.cast("decimal(12,6)").cast("string")
            ),
            ",",
        ).alias("head4"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.array((F.col("vec_id") % 10).cast("int"), F.col("label"), F.lit(7))
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("arr_sorted"),
        F.size(
            F.array_distinct(F.array(F.col("label"), F.col("label"), (F.col("vec_id") % 10).cast("int")))
        ).alias("n_uniq"),
        F.round(
            F.aggregate(
                emb,
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("norm_sq"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
    )


@register(
    "q35_json_fns",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k,
           TO_JSON(STRUCT_PACK(event_id := event_id, event_type := event_type))::VARCHAR AS ej
    FROM events
    """,
)
def q35(events):
    """JSON family: extraction (get_json_object / from_json) and
    construction (to_json — R9's message builder)."""
    return events.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
        F.to_json(F.struct("event_id", "event_type")).alias("ej"),
    )


_Q36_SQL = """
WITH spenders AS (
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, s.n_orders
FROM customer c JOIN spenders s ON c.c_custkey = s.o_custkey
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > (SELECT MAX(o_totalprice) * 0.9 FROM orders))
"""


@register("q36_subqueries", oracle=_Q36_SQL)
def q36(spark):
    """CTE + correlated EXISTS + scalar subquery — Catalyst decorrelates
    to joins (RewriteCorrelatedScalarSubquery). Same ANSI text on both
    engines; MAX (not AVG) keeps the scalar threshold FP-exact."""
    return spark.sql(_Q36_SQL)


# ------------------------------------------------------- composites

@register(
    "q75_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS odate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q75(customer, orders, lineitem):
    """TPC-H Q3 shape (shipping priority): 3-way join, filtered fact
    scan, grouped revenue, global top-10. Catalyst pushes both date
    filters to the scans; the segment filter prunes customer before the
    join; AQE picks broadcast for the filtered customer side."""
    # decimal-exact revenue: double->decimal cast of the PRODUCT rounds
    # half-boundaries differently across engines; cast the factors instead
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        customer
        .where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("odate")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q76_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q76(customer, orders, lineitem, supplier, nation, region):
    """TPC-H Q5 shape (local supplier volume): 6-table join with two dim
    broadcasts and a same-nation join condition."""
    # decimal-exact revenue: double->decimal cast of the PRODUCT rounds
    # half-boundaries differently across engines; cast the factors instead
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        customer
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q77_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'view')     AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'error')    AS error
    FROM events GROUP BY user_id
    """,
)
def q77(events):
    """Pivot: event_type → columns (explicit value list keeps the schema
    stable and skips the extra distinct-values job)."""
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


@register(
    "q78_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS v FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS v FROM part
    """,
)
def q78(part):
    """Unpivot/melt: wide numeric columns → (metric, value) long form."""
    return part.select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "v")


@register(
    "q79_map_fns",
    oracle="""
    SELECT event_id,
           event_type || ':' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR) AS entry_str,
           2 AS n_keys,
           TRUE AS has_type,
           event_type AS type_val
    FROM events WHERE event_id % 20 = 0
    """,
)
def q79(events):
    """Map family (Q35 rows): map_from_entries / map_keys / map_values /
    map_contains_key / element access. Map output itself is serialized to
    a deterministic string (map iteration order is not hashable across
    engines); the oracle derives the same values without a map type."""
    # explicit round: Spark double->long CASTS truncate, DuckDB rounds
    cents = F.round(F.col("value") * 100, 0).cast("long")
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("type").alias("key"), F.col("event_type").alias("value")),
            F.struct(F.lit("cents").alias("key"), cents.cast("string").alias("value")),
        )
    )
    return events.where(F.col("event_id") % 20 == 0).select(
        "event_id",
        F.concat_ws(
            ":", F.element_at(m, "type"), F.element_at(m, "cents")
        ).alias("entry_str"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.map_contains_key(m, "type").alias("has_type"),
        F.element_at(m, "type").alias("type_val"),
    )


@register(
    "q80_stats_aggs",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS sd_price,
           ROUND(VAR_SAMP(l_quantity), 2) AS var_qty,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_pq,
           ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 2) AS cov_pq,
           FLOOR(QUANTILE_CONT(l_extendedprice, 0.5) * 100) / 100 AS median_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q80(lineitem):
    """Statistical aggregates: stddev/variance/corr/covar + exact
    interpolated median. Rounded to absorb engine-side accumulation-order
    ulps (corr is in [-1,1] so 6 places is safe; the rest to cents)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("cov_pq"),
        # floor-truncate: the interpolated median is a midpoint of two
        # 2-decimal values, i.e. EXACTLY .xx5 half the time — round(2)
        # diverges across engines there, floor never does
        (F.floor(F.expr("percentile(l_extendedprice, 0.5)") * 100) / 100).alias(
            "median_price"
        ),
    )


_Q81_SQL = """
WITH marked AS (
    SELECT user_id, event_id, ts,
           CASE WHEN ts - LAG(ts) OVER w > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM marked
)
SELECT user_id, session_id, COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


@register("q81_sessionize_batch", oracle=_Q81_SQL)
def q81(spark):
    """Batch sessionization (the session_window analogue as pure window
    algebra): a session break is a >5min gap; session ids are the running
    sum of break markers. Same ANSI text on both engines — integer-exact,
    so hash-checked unlike the streaming session smoke (q63)."""
    return spark.sql(_Q81_SQL)


_Q82_SQL = """
WITH RECURSIVE s(n) AS (
    SELECT 0
    UNION ALL
    SELECT n + 1 FROM s WHERE n < 19
)
SELECT s.n, COUNT(o_orderkey) AS n_orders
FROM s LEFT JOIN orders ON o_orderkey % 20 = s.n
GROUP BY s.n
"""


@register("q82_recursive_cte", oracle=_Q82_SQL)
def q82(spark):
    """Recursive CTE (Spark 4 WITH RECURSIVE): generated spine left-joined
    to facts — identical ANSI text on both engines."""
    return spark.sql(_Q82_SQL)


@register(
    "q84_variant",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) % 7 AS k_mod
    FROM events WHERE event_id % 10 = 0
    """,
)
def q84(events):
    """Semi-structured VARIANT path (Spark 4): parse_json once into a
    binary variant, then typed variant_get extraction — the open-content
    analogue of the reference's schemaless documents, without string
    re-parsing per field. Oracle = plain JSON extraction."""
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return events.where(F.col("event_id") % 10 == 0).select(
        "event_id", k.alias("k"), (k % 7).alias("k_mod")
    )


# --------------------- time-series gap fill + forward fill (q111)

_GAPFILL_ORACLE = """
    WITH hourly AS MATERIALIZED (
        SELECT user_id, date_trunc('hour', ts) AS h,
               COUNT(*) AS n_events,
               SUM(CAST(value AS DECIMAL(18,2))) AS hr_sum
        FROM events GROUP BY 1, 2
    ), bounds AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM hourly),
    spine AS (
        SELECT u.user_id, UNNEST(generate_series(b.hmin, b.hmax, INTERVAL 1 HOUR)) AS h
        FROM (SELECT DISTINCT user_id FROM events) u, bounds b
    )
    SELECT s.user_id,
           CAST(epoch(s.h) AS BIGINT) AS hour_epoch,
           CAST(COALESCE(e.n_events, 0) AS INT) AS n_events,
           CAST(COALESCE(LAST_VALUE(e.hr_sum IGNORE NULLS) OVER (
                PARTITION BY s.user_id ORDER BY s.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS DOUBLE) AS filled_sum,
           (e.n_events IS NULL) AS is_gap
    FROM spine s LEFT JOIN hourly e ON e.user_id = s.user_id AND e.h = s.h
"""


@register("q111_gap_fill", oracle=_GAPFILL_ORACLE)
def q111(events):
    """Time-series regularization: hourly resample of the events stream
    onto a dense per-user spine (every user x every hour in the global
    range), gaps carried forward (last observation carried forward,
    zero before the first observation) — the standard prep for feeding
    irregular event data to a forecasting model.

    Shape: the heavy input collapses FIRST (groupBy user,hour — partial
    agg on the raw events), and everything after runs on the reduced
    hourly table: bounds are a 1-row broadcast computed straight from
    min/max(ts) (trunc(min(ts)) == min(trunc(ts)), so the hourly table
    stays SINGLE-USE — no persist, no recompute), the spine explodes a
    sequence() per user (rows = users x hours, generated, never
    shuffled-in), and the join runs on the reduced table, not the raw
    events. (Persisting hourly instead measured 3x slower at sf0.1: the
    InMemoryRelation breaks whole-stage codegen between agg and join
    for a table this small.) hr_sum accumulates in DECIMAL(18,2) —
    money-exact and order-free on both engines; the output hour is
    epoch seconds (BIGINT) to stay timezone-proof."""
    hourly = (
        events.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("hr_sum"),
        )
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("hmin"),
        F.date_trunc("hour", F.max("ts")).alias("hmax"),
    )
    spine = (
        events.select("user_id")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("hmin"), F.col("hmax"), F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.unix_timestamp("h").alias("hour_epoch"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("int").alias("n_events"),
        F.coalesce(F.last("hr_sum", ignorenulls=True).over(w), F.lit(0))
        .cast("double")
        .alias("filled_sum"),
        F.col("n_events").isNull().alias("is_gap"),
    )


# --------------------------- skew-join salting demo (q112)

_N_SALT = 8

_SALTED_JOIN_ORACLE = """
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_orderkey END AS k,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(4,2)) AS rev
        FROM lineitem
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM fact f JOIN orders o ON f.k = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


@register("q112_salted_join", oracle=_SALTED_JOIN_ORACLE)
def q112(lineitem, orders):
    """Skew-join salting, the join-side twin of q74's salted agg: a
    deterministically skewed fact key (every 3rd lineitem rerouted to
    order 0 — one key carrying ~1/3 of the table, the shape AQE calls a
    skewed partition) joined WITHOUT a hot partition by salting: the
    fact side tags each row with salt = l_linenumber % 8, the dim side
    replicates each order 8x via explode, and the join key becomes
    (key, salt) — the hot key's rows spread across 8 partitions, at the
    cost of an 8x dim replication (dims are the small side; this is the
    standard trade). The oracle is the UNSALTED join: salting must not
    change a single row. Money sums factor-cast to exact decimals
    (tpch.py recipe)."""
    fact = lineitem.select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        (F.col("l_linenumber") % _N_SALT).alias("salt"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        ).alias("rev"),
    )
    dim = orders.select("o_orderkey", "o_orderpriority").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALT)]))
    )
    joined = fact.join(
        dim, (fact["k"] == dim["o_orderkey"]) & (fact["salt"] == dim["salt"])
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum("rev").cast("double").alias("revenue"),
    )


# ------------------- SCD Type-2 dimension build from a changelog (q113)

_SCD2_ORACLE = """
    SELECT user_id,
           event_id,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS valid_from,
           CAST(FLOOR(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                AS BIGINT) AS valid_to,
           CAST(CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM events
"""


@register("q113_scd2_dimension", oracle=_SCD2_ORACLE)
def q113(events):
    """SCD Type-2 dimension build: each changelog row becomes a validity
    interval [valid_from, valid_to) via lead(ts) over the per-key
    history; the open interval (null valid_to) is the current version.
    This is the batch materialization a CDC consumer runs to turn the
    reference's change stream into a queryable temporal dimension
    (reference semantics: every CDC message replaces the document state
    — FtsAndGeoServiceJSONWithCDC.java:118-169 applies changes in
    arrival order; here arrival order is (ts, event_id), a unique key,
    so the interval assignment is total and engine-stable).

    Scale: ONE shuffle on user_id (uniform), window sorts within
    partitions; epochs are BIGINT so the hash check is integer-exact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("valid_from"),
        F.unix_timestamp(nxt).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


# ----------------- CDC snapshot compaction: latest row per key (q114)

_SNAPSHOT_ORACLE = """
    SELECT user_id,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS last_ts_epoch,
           event_id AS last_event_id,
           event_type AS last_type,
           value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
"""


@register("q114_cdc_snapshot", oracle=_SNAPSHOT_ORACLE)
def q114(events):
    """Changelog compaction to a snapshot: the latest state per key, the
    batch twin of the streaming materialization (q66) and the classic
    CDC "table from topic" read. Implemented as ONE aggregation with a
    struct-max (ts, event_id lexicographic argmax — no window, no sort,
    partial aggregation halves the shuffle); the oracle is the
    row_number form, proving method-independence of the result."""
    m = F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m")
    g = events.groupBy("user_id").agg(m)
    return g.select(
        "user_id",
        F.unix_timestamp("m.ts").alias("last_ts_epoch"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.event_type").alias("last_type"),
        F.col("m.value").alias("last_value"),
    )


# ------------- incremental aggregate maintenance (q117)

_INCR_AGG_ORACLE = """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
"""

_INCR_SPLIT = "2024-01-15"


@register("q117_incremental_agg", oracle=_INCR_AGG_ORACLE)
def q117(events):
    """Incremental aggregate maintenance: the engine-side identity that
    makes materialized-view refresh cheap — agg(old) MERGE agg(delta) ==
    agg(old UNION delta). The events table is split at a date boundary
    into the "stored" history and the "new arrivals"; each side is
    aggregated independently (as a refresh job would read stored partials
    + only the delta partition), then the partials merge by summing. The
    ORACLE is the full recompute, so the check proves the merge is
    lossless: counts are integer-exact and value sums accumulate in
    DECIMAL(18,2) (order- and split-point-free).

    At 100 TB this is the difference between scanning one day and
    scanning three years: count/sum/min/max (and sketches like HLL) are
    all mergeable; the partial table is keyed and partitioned exactly
    like the output."""
    split = F.lit(_INCR_SPLIT).cast("timestamp")

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )

    merged = (
        partial(events.where(F.col("ts") < split))
        .unionAll(partial(events.where(F.col("ts") >= split)))
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"), F.sum("s").alias("sv"))
    )
    return merged.select(
        "user_id",
        "n_events",
        F.col("sv").cast("double").alias("sum_value"),
    )


# ------------- bucketed exchange-free join as a registry entry (q118)

_BUCKETED_ORACLE = """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@register("q118_bucketed_join", oracle=_BUCKETED_ORACLE)
def q118(spark, orders, customer):
    """Bucketed co-located join surfaced through the driver gate: both
    sides are written bucketed+sorted on the join key (the one-time
    write-time shuffle), and the sort-merge join then plans with NO
    exchange and NO sort on either side (asserted in
    tests/test_scale_ops.py). The oracle is the plain join — bucketing
    must be invisible in the result. At 100 TB this is the standard
    trade for any fact table joined repeatedly on the same key: pay the
    shuffle once at ingest, never at query time."""
    from ..operators.bucketing import write_bucketed

    write_bucketed(
        orders.select("o_custkey", "o_totalprice"), "q118_orders_b", "o_custkey"
    )
    write_bucketed(
        customer.select("c_custkey", "c_mktsegment"), "q118_customer_b", "c_custkey"
    )
    joined = spark.table("q118_orders_b").join(
        spark.table("q118_customer_b"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


# ------------- as-of join with staleness tolerance (q119)

_ASOF_TOL_ORACLE = """
    SELECT event_id, user_id, last_click_ts,
           CAST(CASE WHEN last_click_ts IS NOT NULL
                THEN FLOOR(epoch(p_ts)) - FLOOR(epoch(last_click_ts)) END
                AS BIGINT) AS staleness_sec
    FROM (
        SELECT p.event_id, p.user_id, p.ts AS p_ts,
               (SELECT MAX(c.ts) FROM events c
                 WHERE c.user_id = p.user_id AND c.event_type = 'click'
                   AND c.ts <= p.ts
                   AND c.ts >= p.ts - INTERVAL 1 HOUR) AS last_click_ts
        FROM events p
        WHERE p.event_type = 'purchase'
    ) t
"""


@register("q119_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def q119(events):
    """As-of join with a max-staleness tolerance — the feature-store /
    market-data variant of q12: a purchase only sees a click if it is at
    most 1 hour old, otherwise the match is null. Same single-shuffle
    union+window plan as q12 (operators/asof.py); the tolerance is a
    post-filter, which is EXACT here: the carried value is the latest
    click <= ts, and if the latest is older than the tolerance, every
    click is. Staleness is a floored-epoch difference (integer-exact)."""
    from ..operators.asof import asof_join

    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select("user_id", "ts")
    j = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts", carry=["ts"]
    )
    fresh = F.col("asof_ts") >= F.col("ts") - F.expr("interval 1 hour")
    last_click = F.when(fresh, F.col("asof_ts"))
    return j.select(
        "event_id",
        "user_id",
        last_click.alias("last_click_ts"),
        F.when(fresh, F.unix_timestamp("ts") - F.unix_timestamp("asof_ts"))
        .cast("long")
        .alias("staleness_sec"),
    )


# ------------- rolling-window distinct count (q120)

_ROLLING_ACTIVE_ORACLE = """
    SELECT CAST(FLOOR(epoch(d.day)) AS BIGINT) AS day_epoch,
           COUNT(DISTINCT e.user_id) AS n_active_7d
    FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
    JOIN events e
      ON date_trunc('day', e.ts) BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
"""


@register("q120_rolling_active_users", oracle=_ROLLING_ACTIVE_ORACLE)
def q120(events):
    """Rolling 7-day active users per day — a sliding-window DISTINCT
    count, which Spark's window API cannot express (no count(distinct)
    over a RANGE frame). Re-expressed linearly: collapse events to
    distinct (user, day) presences FIRST (the only pass over the raw
    table), explode each presence into the <=7 rolling windows it
    contributes to, and count distinct users per window day (inner join
    to observed days drops windows beyond the data edge, matching the
    oracle's spine). Work is |presences| x 7, never |events| x window —
    at 100 TB the presence table is the pre-aggregated fraction of the
    input and the explode factor is the constant window length."""
    presence = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = presence.select("day").distinct()
    contrib = presence.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.expr("interval 6 days"), F.expr("interval 1 day")
            )
        ).alias("wday"),
    )
    return (
        contrib.join(days.withColumnRenamed("day", "wday"), "wday")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("n_active_7d"))
        .select(
            F.unix_timestamp("wday").alias("day_epoch"),
            "n_active_7d",
        )
    )


# ------------- fixed-width histogram (q121)

_HISTOGRAM_ORACLE = """
    SELECT event_type,
           CAST(FLOOR(value / 10) AS INT) AS bin,
           CAST(FLOOR(value / 10) * 10 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2, 3
"""


@register("q121_histogram", oracle=_HISTOGRAM_ORACLE)
def q121(events):
    """Fixed-width histogram per group: bin = floor(value/width). One
    partial-aggregated groupBy over (type, bin) — |bins| output rows, so
    at 100 TB the shuffle carries the histogram, not the data. The bin
    edge is a double division both engines perform on the identical
    parquet double, so boundary values bin identically."""
    b = F.floor(F.col("value") / 10)
    return events.groupBy(
        "event_type",
        b.cast("int").alias("bin"),
        (b * 10).cast("double").alias("bin_lo"),
    ).agg(F.count("*").alias("n"))


# ------------- ordered conversion funnel (q128)

_FUNNEL_ORACLE = """
    WITH s1 AS MATERIALIZED (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS MATERIALIZED (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT CAST(1 AS INT) AS stage, 'signup' AS stage_name, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT CAST(2 AS INT), 'click_after_signup', COUNT(*) FROM s2
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase_after_click', COUNT(*) FROM s3
"""


@register("q128_funnel", oracle=_FUNNEL_ORACLE)
def q128(events):
    """Ordered conversion funnel (signup → later click → later purchase):
    users advance a stage only with a STRICTLY LATER event, the product-
    analytics staple that a naive per-type count gets wrong (a click
    before the signup must not count). Three chained filtered
    aggregations, each keyed on user_id — the per-stage join reuses the
    same uniform key, the stage tables shrink monotonically, and at
    100 TB each stage is one partial-agg pass over an already-filtered
    event slice, never a window over full history."""

    def stage(prev, etype, tcol):
        e = events.where(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(tcol))
        pcol = prev.columns[-1]
        return (
            e.join(prev, "user_id")
            .where(F.col("ts") > F.col(pcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = stage(None, "signup", "t1")
    s2 = stage(s1, "click", "t2")
    s3 = stage(s2, "purchase", "t3")
    rows = [
        s1.agg(F.count("*").alias("n_users")).select(
            F.lit(1).cast("int").alias("stage"),
            F.lit("signup").alias("stage_name"),
            "n_users",
        ),
        s2.agg(F.count("*").alias("n_users")).select(
            F.lit(2).cast("int").alias("stage"),
            F.lit("click_after_signup").alias("stage_name"),
            "n_users",
        ),
        s3.agg(F.count("*").alias("n_users")).select(
            F.lit(3).cast("int").alias("stage"),
            F.lit("purchase_after_click").alias("stage_name"),
            "n_users",
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ------------- bucketized interval join (q132)

_INTERVAL_ORACLE = """
    WITH b AS (
        SELECT CAST(FLOOR(FLOOR(epoch(MIN(ts))) / 3600) * 3600 AS BIGINT) AS t0
        FROM events
    ), w AS MATERIALIZED (
        SELECT CAST(i AS INT) AS w_id,
               t0 + i * 21600 AS ws,
               t0 + i * 21600 + 7200 AS we
        FROM b, UNNEST(range(0, 120)) AS t(i)
    )
    SELECT w.w_id, COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
    FROM w JOIN events e
      ON FLOOR(epoch(e.ts)) >= w.ws AND FLOOR(epoch(e.ts)) < w.we
    GROUP BY w.w_id
"""


@register("q132_interval_join", oracle=_INTERVAL_ORACLE)
def q132(events):
    """Interval/range join re-expressed as a bucket EQUI-join — the only
    shape that survives two LARGE sides at 100 TB (a raw range predicate
    plans as broadcast-nested-loop: quadratic). 2-hour maintenance
    windows every 6 hours are exploded into the hour buckets they
    overlap; events carry their hour bucket; the join key is the bucket
    (uniform, shuffleable, AQE-coalescible) and the exact range
    predicate runs as a cheap post-filter within bucket matches. Window
    boundaries are whole hours, so floored-epoch comparisons agree
    across engines at every edge. The oracle is the plain range
    predicate — bucketization must be invisible in the result."""
    t0 = events.agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / 3600) * 3600).alias("t0")
    )
    w = (
        t0.select(F.explode(F.sequence(F.lit(0), F.lit(119))).alias("i"), "t0")
        .select(
            F.col("i").cast("int").alias("w_id"),
            (F.col("t0") + F.col("i") * 21600).alias("ws"),
            (F.col("t0") + F.col("i") * 21600 + 7200).alias("we"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col("ws") / 3600), F.floor((F.col("we") - 1) / 3600)
                )
            ),
        )
    )
    e = events.select(
        "user_id",
        F.unix_timestamp("ts").alias("es"),
    ).withColumn("bucket", F.floor(F.col("es") / 3600))
    joined = e.join(w, "bucket").where(
        (F.col("es") >= F.col("ws")) & (F.col("es") < F.col("we"))
    )
    return joined.groupBy("w_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ------------- partitioned write + partition-pruned scan (q133)

_PART_PRUNE_ORACLE = """
    SELECT CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE date_trunc('day', ts) = '2024-01-03'
    GROUP BY 1, 2
"""


@register("q133_partition_prune", oracle=_PART_PRUNE_ORACLE)
def q133(spark, events):
    """Write-path day-partitioning + partition-PRUNED read, surfaced
    through the driver gate (q118's pattern, for partitioning instead of
    bucketing): events land as day=YYYY-MM-DD directories, and the
    single-day read shows PartitionFilters in the scan — at 100 TB the
    pruned read touches 1/365th of the files, the difference between a
    table scan and an index lookup. The partitioned copy is rewritten
    in place into one process-scoped dir (overwrite mode — bench's
    min-of-N loop reuses it, nothing leaks); the oracle reads the
    unpartitioned table with the same predicate — layout must be
    invisible in the result."""
    from ..scratch import scratch_dir

    path = scratch_dir("q133_part")
    events.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(path)
    pruned = spark.read.parquet(path).where(F.col("day") == "2024-01-03")
    return pruned.groupBy(
        F.unix_timestamp(F.to_timestamp("day")).alias("day_epoch"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ------------- JSON-lines source round-trip (q134)

_JSON_SRC_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
"""


@register("q134_json_source", oracle=_JSON_SRC_ORACLE)
def q134(spark, events):
    """Source-format coverage: the events table serialized to JSON lines
    and read back through spark.read.json with an EXPLICIT schema (never
    inference at scale — one pass saved and types pinned), then
    aggregated. The oracle aggregates the parquet original, so the
    round-trip must lose nothing: epoch-micros survive as longs, doubles
    as doubles. At 100 TB, JSON is the interchange/landing format and
    this is the ingest pattern: schema-on-read with strict types,
    straight into columnar aggregation."""
    from ..scratch import scratch_dir

    path = scratch_dir("q134_json")
    # micros-as-long keeps the timestamp exact through text
    events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).write.mode("overwrite").json(path)
    schema = (
        "event_id bigint, ts_us bigint, user_id bigint, "
        "event_type string, value double, props string"
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ------------- AQE skew-join splitting, observable (q136)

_AQE_SKEW_ORACLE = """
    WITH ev AS MATERIALIZED (
        SELECT CASE WHEN event_id % 10 < 8 THEN 1
                    ELSE user_id % 100 + 1 END AS join_key,
               value
        FROM events
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM ev JOIN customer c ON c.c_custkey = ev.join_key
    GROUP BY c.c_mktsegment
"""


@register("q136_aqe_skew_join", oracle=_AQE_SKEW_ORACLE)
def q136(spark, events, customer):
    """AQE skew-join splitting exercised END TO END (SURVEY §4.2 names it
    for the 100 TB posture; q74/q112 cover manual salting — this is the
    runtime-automatic twin): 80% of events hash to ONE join key, the
    broadcast path is disabled so the join genuinely shuffles, and AQE's
    OptimizeSkewedJoin splits the hot partition into advisory-sized
    pieces at runtime (plan-asserted in tests via the skew=true marker).
    The skew confs are scoped to THIS query's execution — the result is
    pinned under them (`pin` is eager in a conf scope), then the confs are
    restored, because Spark reads SQLConf at execution time, not at
    DataFrame construction. Oracle = the plain join: splitting must be
    invisible in the result."""
    from ..operators import skew

    df = skew.skewed_segment_rollup(events, customer)
    with scoped_confs(spark, skew.AQE_SKEW_CONFS):
        return pin(df)


# ------------- sessionized funnel (q137)

_SESSION_FUNNEL_ORACLE = """
    WITH seq AS (
        SELECT user_id, ts, event_type, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_part('epoch', ts) - date_part('epoch', LAG(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS MATERIALIZED (
        SELECT user_id, ts, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
        FROM seq
    ), s1 AS MATERIALIZED (
        SELECT user_id, session_no,
               MIN(ts) FILTER (event_type = 'view') AS t_view
        FROM sess GROUP BY user_id, session_no
    ), s2 AS MATERIALIZED (
        SELECT s1.user_id, s1.session_no, s1.t_view,
               MIN(e.ts) FILTER (e.event_type = 'click' AND e.ts >= s1.t_view) AS t_click
        FROM s1 LEFT JOIN sess e
          ON e.user_id = s1.user_id AND e.session_no = s1.session_no
        GROUP BY s1.user_id, s1.session_no, s1.t_view
    ), s3 AS (
        SELECT s2.user_id, s2.session_no, s2.t_view, s2.t_click,
               MIN(e.ts) FILTER (e.event_type = 'purchase' AND e.ts >= s2.t_click) AS t_buy
        FROM s2 LEFT JOIN sess e
          ON e.user_id = s2.user_id AND e.session_no = s2.session_no
        GROUP BY s2.user_id, s2.session_no, s2.t_view, s2.t_click
    )
    SELECT COUNT(*) AS n_sessions,
           COUNT(t_view) AS n_view,
           COUNT(t_click) AS n_view_click,
           COUNT(t_buy) AS n_view_click_buy
    FROM s3
"""


@register("q137_session_funnel", oracle=_SESSION_FUNNEL_ORACLE)
def q137(events):
    """Sessionized ORDERED funnel: 30-minute-inactivity sessions (q81's
    lag+cumsum sessionizer) and, within each session, the strict
    view -> click -> purchase progression (each stage's timestamp must be
    >= the previous stage's — q128's funnel logic applied per session
    instead of per user). Every aggregation and self-join keys on
    (user_id, session_no); hashpartitioning(user_id) from the sessionizer
    window CLUSTERS those keys already, so the whole stage chain runs in
    one exchange. Output is 1 row of stage counts — exact integers."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = events.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_no"),
    )
    key = ["user_id", "session_no"]
    s1 = sess.groupBy(*key).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    s2 = (
        s1.join(sess, key, "left")
        .groupBy(*key, "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    s3 = (
        s2.join(sess, key, "left")
        .groupBy(*key, "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_buy")
        )
    )
    return s3.agg(
        F.count("*").alias("n_sessions"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_buy").alias("n_view_click_buy"),
    )


# ------------- runtime Bloom-filter join pruning (q138)

_BLOOM_JOIN_ORACLE = """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
"""


@register("q138_runtime_bloom_join", oracle=_BLOOM_JOIN_ORACLE)
def q138(spark, lineitem, orders):
    """Runtime Bloom-filter join pruning (Spark's InjectRuntimeFilter):
    the selective dimension predicate (1/5 of orders) is turned into a
    bloom_filter_agg at runtime and pushed into the FACT side's scan
    filter, so lineitem rows for non-urgent orders die at the scan
    instead of crossing the shuffle — the engine-native form of the
    semi-join reduction every warehouse performs at 100 TB. Broadcast is
    disabled in the scoped confs so the join genuinely shuffles (with a
    broadcastable dim Spark rightly prefers broadcast and no filter is
    needed). Executed under scoped confs (q136's pattern); the
    might_contain marker is plan-asserted in tests. Oracle = the plain
    join: the filter is a pure reduction, invisible in the result."""
    df = bloom_pruned_join(lineitem, orders)
    with scoped_confs(spark, BLOOM_JOIN_CONFS):
        return pin(df)


#: Thresholds that let InjectRuntimeFilter fire at test scale: the
#: application-side floor drops to 0 (default 10 GB) and broadcast is
#: disabled so a shuffle join exists to inject into. Semantics untouched.
BLOOM_JOIN_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "64MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def bloom_pruned_join(lineitem, orders):
    """lineitem x urgent-orders rollup — the join shape InjectRuntimeFilter
    targets (selective creation side, big application side)."""
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        lineitem.join(urgent, lineitem["l_orderkey"] == urgent["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


# ------------- manifest/zone-map file pruning (q139)

_ZONEMAP_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE event_id BETWEEN 250 AND 499
    GROUP BY event_type
"""


@register("q139_zonemap_prune", oracle=_ZONEMAP_ORACLE)
def q139(spark, events):
    """Manifest/zone-map file pruning (operators/zonemap.py): the events
    table is written CLUSTERED on event_id into 16 files, a per-file
    min/max manifest is built (what an Iceberg/Delta planner reads), and
    the range query scans only the overlapping files — file-level
    skipping across the table, where parquet row-group stats only skip
    within one file. The residual predicate still applies, so pruning is
    invisible in the result (oracle = the unclustered full-table filter);
    the test asserts selected_files < total_files. At 100 TB this is the
    difference between listing+footer-reading a million files and
    reading a manifest."""
    from ..operators.zonemap import build_manifest, pruned_scan, write_clustered
    from ..scratch import scratch_dir

    path = scratch_dir("q139_zone")
    write_clustered(events, path, "event_id", 16)
    manifest = build_manifest(spark, path, ["event_id"])
    # a range that is a strict subset of every sf's id space (ids start
    # at 0 at all scales), so pruning is non-trivial at each test size
    lo, hi = 250, 499
    df, _n_sel, _n_tot = pruned_scan(spark, manifest, [(lo, hi)])
    return (
        df.where(F.col("event_id").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )

"""Round-6 third wave (q331+): sequence-model evaluation, storage
advisory, and the Spark 4 table-argument UDTF lane.

Same determinism contract as queries/relational.py and analytics3.py:
exact integer arithmetic wherever possible, positive-shift
round-half-up micro units for rationals, integer-literal
discretization for anything transcendental, unique ORDER BY
tiebreakers under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exact import cents, rhu
from ..session import pin
from . import register
from .analytics3 import _DAILY_CTE, _daily_cents


# ---------- q331: Markov next-event predictor evaluation

# Close the loop on q181's transition matrix: TRAIN it on 80% of users
# (user_id % 5 != 0), predict each held-out transition's next event as
# the argmax row of the matrix (count DESC, event name tiebreak), and
# report per-state top-1 accuracy. All counts and the accuracy shares
# are exact integers / round-half-up micro units; transitions come
# from one LEAD window per user ordered by (ts, event_id). Test
# transitions whose FROM-state never occurred in training are dropped
# on both engines (no model row to join).
_MARKOV_EVAL_ORACLE = """
WITH seq AS MATERIALIZED (
    SELECT user_id, event_type AS prev,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
), trainc AS (
    SELECT s.prev, s.nxt, COUNT(*) AS cnt
    FROM seq s WHERE s.nxt IS NOT NULL AND s.user_id % 5 <> 0
    GROUP BY s.prev, s.nxt
), model AS (
    SELECT prev, nxt AS pred,
           ROW_NUMBER() OVER (PARTITION BY prev ORDER BY cnt DESC, nxt) AS rn
    FROM trainc
), test AS (
    SELECT s.prev, s.nxt FROM seq s
    WHERE s.nxt IS NOT NULL AND s.user_id % 5 = 0
)
SELECT t.prev AS from_state,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(COUNT(*) FILTER (t.nxt = m.pred) AS BIGINT) AS n_correct,
       CAST((2 * COUNT(*) FILTER (t.nxt = m.pred) * 1000000 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS acc_micro
FROM test t JOIN model m ON m.prev = t.prev AND m.rn = 1
GROUP BY t.prev ORDER BY from_state
"""


@register("q331_markov_eval", oracle=_MARKOV_EVAL_ORACLE)
def q331(events):
    """Per-state top-1 accuracy of the trained transition argmax
    (oracle comment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trainc = (
        seq.where(F.col("user_id") % 5 != 0)
        .groupBy("prev", "nxt")
        .agg(F.count("*").alias("cnt"))
    )
    wm = Window.partitionBy("prev").orderBy(F.col("cnt").desc(), "nxt")
    model = (
        trainc.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    test = seq.where(F.col("user_id") % 5 == 0).select("prev", "nxt")
    return (
        test.join(F.broadcast(model), "prev")
        .groupBy(F.col("prev").alias("from_state"))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.count(F.when(F.col("nxt") == F.col("pred"), 1))
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "CAST("
                + rhu("COUNT(CASE WHEN nxt = pred THEN 1 END) * 1000000", "COUNT(*)")
                + " AS BIGINT)"
            ).alias("acc_micro"),
        )
        .orderBy("from_state")
    )


# ---------- q332: partition-sizing advisor (storage layout planning)

# The pre-write planning step for a month-partitioned table (q328's
# layout): per month, exact row counts and a byte estimate from
# declared fixed widths (4 BIGINT/TIMESTAMP fields x 8) plus actual
# string lengths, then the file count a 1 MiB target implies —
# ceil via integer (bytes + M - 1) DIV M. Everything is one
# map-side-combinable aggregate over orders; the advisor output is
# |months| rows. (The 1 MiB target suits the test SFs; production
# would pass 128 MiB — the arithmetic is the point.)
_ADVISOR_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(32 + LEN(o_orderstatus) + LEN(o_orderpriority)) AS BIGINT)
           AS est_bytes,
       CAST((SUM(32 + LEN(o_orderstatus) + LEN(o_orderpriority)) + 1048575)
            // 1048576 AS BIGINT) AS n_files
FROM orders GROUP BY 1 ORDER BY month
"""


@register("q332_partition_advisor", oracle=_ADVISOR_ORACLE)
def q332(orders):
    """Per-month byte estimate and target file counts (oracle
    comment)."""
    width = (
        F.lit(32)
        + F.length("o_orderstatus")
        + F.length("o_orderpriority")
    )
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(width).cast("bigint").alias("est_bytes"),
            F.expr(
                "CAST((SUM(32 + LENGTH(o_orderstatus) + LENGTH(o_orderpriority))"
                " + 1048575) DIV 1048576 AS BIGINT)"
            ).alias("n_files"),
        )
        .orderBy("month")
    )


# ---------- q333: UDTF with TABLE argument (PARTITION BY ... ORDER BY)

# The table-argument rung of the UDTF ladder (q126 static schema, q285
# analyze()): the function consumes TABLE(events) PARTITION BY user_id
# ORDER BY (ts, event_id) — Spark feeds each user's rows IN ORDER to
# one UDTF instance, which streams per-row state (longest same-type
# run) and emits one summary row from terminate(). The deterministic
# ordered feed is the whole point: the streak depends on event order,
# and the oracle rebuilds it relationally with the gaps-and-islands
# rn-difference trick. Python-lane cost is one worker pass per
# partition — the applyInPandas profile.
_STREAK_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rnt
    FROM events
), runs AS (
    SELECT user_id, event_type, rn - rnt AS grp, COUNT(*) AS run_len
    FROM seq GROUP BY user_id, event_type, rn - rnt
)
SELECT user_id,
       CAST(SUM(run_len) AS INT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN run_len ELSE 0 END)
            AS INT) AS n_purchases,
       CAST(MAX(run_len) AS INT) AS longest_streak
FROM runs GROUP BY user_id ORDER BY user_id
"""


@register("q333_udtf_table_arg", oracle=_STREAK_ORACLE)
def q333(spark):
    """Per-user ordered-stream stats via a TABLE-argument UDTF (oracle
    comment)."""
    from pyspark.sql.functions import udtf


    @udtf(returnType="user_id bigint, n_events int, n_purchases int, longest_streak int")
    class UserStreaks:
        def __init__(self):
            self.user = None
            self.n = 0
            self.buys = 0
            self.cur_type = None
            self.cur_run = 0
            self.best = 0

        def eval(self, row):
            self.user = row["user_id"]
            self.n += 1
            if row["event_type"] == "purchase":
                self.buys += 1
            if row["event_type"] == self.cur_type:
                self.cur_run += 1
            else:
                self.cur_type = row["event_type"]
                self.cur_run = 1
            self.best = max(self.best, self.cur_run)

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.buys, self.best

    spark.udtf.register("user_streaks", UserStreaks)
    # project inside the TABLE argument (guide §4.1): the UDTF touches
    # only user_id/event_type (+ the ordering keys), and TABLE(events)
    # would ship every column — including the fat props JSON — through
    # the Python worker boundary per row
    return spark.sql(
        "SELECT * FROM user_streaks("
        "TABLE(SELECT user_id, event_type, ts, event_id FROM events)"
        " PARTITION BY user_id ORDER BY (ts, event_id))"
        " ORDER BY user_id"
    )


# ---------- q334: pass@k estimator (exact combinatorial rational)

# The unbiased pass@k estimator, 1 - C(n-c, k)/C(n-c ... k)/C(n, k),
# applied per "task" (user): n = first-10 attempt count, c =
# successes (purchases) among them, k = 5. The binomial ratio
# telescopes to prod_{i<5} (n-c-i)/(n-i) — with n <= 10 every factor
# is a tiny exact integer, so pass@5 is an exact rational in micro
# units (product = 0 when n-c < 5, i.e. pass = 1). Users with n < 5
# are excluded (estimator undefined). Output is the (n, c) TYPE frame
# with user counts — the fact table collapses through one ranked
# window and one aggregate.
_PASSK_ORACLE = """
WITH firstn AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
), peruser AS (
    SELECT user_id, COUNT(*) AS n,
           COUNT(*) FILTER (event_type = 'purchase') AS c
    FROM firstn WHERE rn <= 10 GROUP BY user_id
), grp AS (
    SELECT n, c, COUNT(*) AS n_users FROM peruser WHERE n >= 5 GROUP BY n, c
)
SELECT CAST(n AS INT) AS n, CAST(c AS INT) AS c,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(CASE WHEN n - c < 5 THEN 1000000
                 ELSE (2 * ((n*(n-1)*(n-2)*(n-3)*(n-4))
                            - ((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4))) * 1000000
                       + (n*(n-1)*(n-2)*(n-3)*(n-4)))
                      // (2 * (n*(n-1)*(n-2)*(n-3)*(n-4)))
            END AS BIGINT) AS pass5_micro
FROM grp ORDER BY n, c
"""


@register("q334_pass_at_k", oracle=_PASSK_ORACLE)
def q334(events):
    """pass@5 per (attempts, successes) cell, exact rationals (oracle
    comment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    peruser = (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c"),
        )
    )
    grp = (
        peruser.where(F.col("n") >= 5)
        .groupBy("n", "c")
        .agg(F.count("*").alias("n_users"))
    )
    return grp.selectExpr(
        "CAST(n AS INT) AS n",
        "CAST(c AS INT) AS c",
        "CAST(n_users AS BIGINT) AS n_users",
        "CAST(CASE WHEN n - c < 5 THEN 1000000 ELSE " + rhu(
            "((n*(n-1)*(n-2)*(n-3)*(n-4)) - ((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4)))"
            " * 1000000",
            "(n*(n-1)*(n-2)*(n-3)*(n-4))",
        ) + " END AS BIGINT) AS pass5_micro",
    ).orderBy("n", "c")


# ---------- q335: md5 permutation test (exact rational comparisons)

# Is the odd/even-user revenue split bigger than chance? The
# permutation test with the RNG replaced by the q155 md5 recipe:
# 100 pseudo-assignments (parity of md5(user:k)) rebuild the
# difference-in-means null distribution, and the p-value is the rank
# of the observed split among them. NO division ever happens: the
# comparison |S_A n_B - S_B n_A| / (n_A n_B) >= observed is
# cross-multiplied into exact DECIMAL(38) integer arithmetic, so the
# test is bit-deterministic on both engines. The fact table collapses
# to the user frame first; the K=100 expansion happens on that
# dimension-sized frame.
_PERM_ORACLE = """
WITH peruser AS MATERIALIZED (
    SELECT user_id,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
    FROM events GROUP BY user_id
), obs AS (
    SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN cents ELSE 0 END) AS HUGEINT) AS sa,
           CAST(SUM(CASE WHEN user_id % 2 = 1 THEN cents ELSE 0 END) AS HUGEINT) AS sb,
           CAST(COUNT(*) FILTER (user_id % 2 = 0) AS HUGEINT) AS na,
           CAST(COUNT(*) FILTER (user_id % 2 = 1) AS HUGEINT) AS nb
    FROM peruser
), perm AS (
    SELECT k.k,
           CAST(SUM(CASE WHEN g = 0 THEN cents ELSE 0 END) AS HUGEINT) AS sa,
           CAST(SUM(CASE WHEN g = 1 THEN cents ELSE 0 END) AS HUGEINT) AS sb,
           CAST(COUNT(*) FILTER (g = 0) AS HUGEINT) AS na,
           CAST(COUNT(*) FILTER (g = 1) AS HUGEINT) AS nb
    FROM (
        SELECT p.user_id, p.cents, k.k,
               ('0x' || SUBSTR(MD5(CAST(p.user_id AS VARCHAR) || ':'
                               || CAST(k.k AS VARCHAR)), 1, 8))::BIGINT % 2 AS g
        FROM peruser p, range(0, 100) k(k)
    ) x JOIN range(0, 100) k(k) ON k.k = x.k
    GROUP BY k.k
), cmp AS (
    SELECT COUNT(*) FILTER (
        ABS(p.sa * p.nb - p.sb * p.na) * (o.na * o.nb)
        >= ABS(o.sa * o.nb - o.sb * o.na) * (p.na * p.nb)
    ) AS n_extreme
    FROM perm p, obs o
    WHERE p.na > 0 AND p.nb > 0
)
SELECT CAST((SELECT COUNT(*) FROM peruser) AS BIGINT) AS n_users,
       CAST(n_extreme AS BIGINT) AS n_extreme,
       CAST((2 * (n_extreme + 1) * 1000000 + 101) // (2 * 101) AS BIGINT)
           AS p_micro
FROM cmp
"""


@register("q335_permutation_test", oracle=_PERM_ORACLE)
def q335(spark, events):
    """Deterministic permutation test of the parity revenue split
    (oracle comment)."""
    peruser = events.groupBy("user_id").agg(
        F.sum(cents("value")).cast("bigint").alias("cents")
    )
    d38 = "decimal(38,0)"

    def split(df, gcol):
        return df.agg(
            F.sum(F.when(gcol == 0, F.col("cents")).otherwise(0)).cast(d38).alias("sa"),
            F.sum(F.when(gcol == 1, F.col("cents")).otherwise(0)).cast(d38).alias("sb"),
            F.count(F.when(gcol == 0, 1)).cast(d38).alias("na"),
            F.count(F.when(gcol == 1, 1)).cast(d38).alias("nb"),
        )

    obs = split(peruser, F.col("user_id") % 2)
    expanded = peruser.crossJoin(
        F.broadcast(spark.range(0, 100).select(F.col("id").alias("k")))
    ).select(
        "cents",
        "k",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
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
    perm = expanded.groupBy("k").agg(
        F.sum(F.when(F.col("g") == 0, F.col("cents")).otherwise(0)).cast(d38).alias("sa"),
        F.sum(F.when(F.col("g") == 1, F.col("cents")).otherwise(0)).cast(d38).alias("sb"),
        F.count(F.when(F.col("g") == 0, 1)).cast(d38).alias("na"),
        F.count(F.when(F.col("g") == 1, 1)).cast(d38).alias("nb"),
    )
    cmp = (
        perm.where((F.col("na") > 0) & (F.col("nb") > 0))
        .crossJoin(
            F.broadcast(
                obs.select(
                    F.col("sa").alias("osa"),
                    F.col("sb").alias("osb"),
                    F.col("na").alias("ona"),
                    F.col("nb").alias("onb"),
                )
            )
        )
        .agg(
            F.count(
                F.when(
                    F.expr(
                        "ABS(sa * nb - sb * na) * (ona * onb)"
                        " >= ABS(osa * onb - osb * ona) * (na * nb)"
                    ),
                    1,
                )
            ).alias("n_extreme")
        )
    )
    nn = peruser.agg(F.count("*").cast("bigint").alias("n_users"))
    return (
        nn.crossJoin(cmp)
        .selectExpr(
            "n_users",
            "CAST(n_extreme AS BIGINT) AS n_extreme",
            f"CAST({rhu('(n_extreme + 1) * 1000000', '101')} AS BIGINT) AS p_micro",
        )
    )


# ---------- q336: PERMISSIVE JSON with corrupt-record capture

# The schema-on-read resilience lane q134 (clean JSON source) leaves
# untested: one in three serialized lines is deliberately truncated,
# and the read-back uses PERMISSIVE mode with
# columnNameOfCorruptRecord so malformed lines land in a _bad column
# instead of failing the scan (the production posture for scraped /
# third-party JSON). The aggregate proves BOTH lanes: valid rows per
# event type AND the corrupt count, against an oracle computed from
# the construction rule (event_id % 3 = 0 -> corrupt). Read path: the
# sinked lines scan in parallel like any text source.
_CORRUPT_ORACLE = """
SELECT COALESCE(event_type, '_corrupt') AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)), 0)
            AS BIGINT) AS sum_cents
FROM (
    SELECT CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END AS event_type,
           CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value
    FROM events WHERE event_id % 20 = 2
)
GROUP BY 1 ORDER BY event_type
"""


@register("q336_corrupt_records", oracle=_CORRUPT_ORACLE)
def q336(spark, events):
    """PERMISSIVE JSON read with corrupt-record capture (oracle
    comment)."""
    from ..scratch import scratch_dir

    sl = events.where(F.col("event_id") % 20 == 2).select(
        F.when(
            F.col("event_id") % 3 == 0,
            # truncated JSON: drop the closing brace and value tail
            F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"), F.lit(', "event_ty')),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    "event_id",
                    "event_type",
                    cents("value").alias("cents"),
                )
            )
        )
        .alias("value")
    )
    d = scratch_dir("q336_json_corrupt")
    sl.write.mode("overwrite").text(d)
    back = (
        spark.read.schema("event_id BIGINT, event_type STRING, cents BIGINT, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(d)
    )
    return (
        back.select(
            F.when(F.col("_bad").isNotNull(), "_corrupt")
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("_bad").isNotNull(), None)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------- q337: FIFO cost-of-goods allocation (cumulative-range join)

# FIFO lot matching WITHOUT sequential state: per part, receipts (even
# line numbers) and sales (odd) each get cumulative-quantity intervals
# [cum_prev, cum) in arrival order; a sale consumes exactly the lot
# quantity its interval OVERLAPS — overlap = max(0, min(hi) - max(lo))
# — so COGS is an interval-intersection JOIN, quadratic only within a
# part's own lots (TPC-H parts have bounded lines), never sequential.
# Everything is integer: quantities, unit cents, overlap products.
# Unmatched sale quantity (demand beyond supply) is reported per part.
_FIFO_ORACLE = """
WITH flows AS (
    SELECT l_partkey AS part,
           l_linenumber % 2 = 0 AS is_receipt,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           l_shipdate, l_orderkey, l_linenumber
    FROM lineitem WHERE l_partkey % 25 = 0
), seq AS (
    SELECT part, is_receipt, qty, cents,
           SUM(qty) OVER (PARTITION BY part, is_receipt
                          ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, cents
                          ROWS UNBOUNDED PRECEDING) AS hi
    FROM flows
), iv AS MATERIALIZED (
    SELECT part, is_receipt, qty, cents, hi, hi - qty AS lo FROM seq
), matched AS (
    SELECT r.part,
           SUM(GREATEST(0, LEAST(r.hi, s.hi) - GREATEST(r.lo, s.lo))
               * (r.cents // r.qty)) AS cogs_cents,
           SUM(GREATEST(0, LEAST(r.hi, s.hi) - GREATEST(r.lo, s.lo))) AS matched_qty
    FROM iv r JOIN iv s
      ON r.part = s.part AND r.is_receipt AND NOT s.is_receipt
     AND r.lo < s.hi AND s.lo < r.hi
    GROUP BY r.part
), totals AS (
    SELECT part,
           CAST(SUM(CASE WHEN NOT is_receipt THEN qty ELSE 0 END) AS BIGINT) AS sold_qty
    FROM iv GROUP BY part
)
SELECT t.part AS partkey, t.sold_qty,
       CAST(COALESCE(m.matched_qty, 0) AS BIGINT) AS matched_qty,
       CAST(COALESCE(m.cogs_cents, 0) AS BIGINT) AS cogs_cents
FROM totals t LEFT JOIN matched m ON m.part = t.part
ORDER BY partkey
"""


@register("q337_fifo_cogs", oracle=_FIFO_ORACLE)
def q337(lineitem):
    """FIFO lot matching as a cumulative-interval intersection join
    (oracle comment). Unit cost = integer cents DIV qty (exact same
    truncation on both engines)."""
    flows = lineitem.where(F.col("l_partkey") % 25 == 0).select(
        F.col("l_partkey").alias("part"),
        (F.col("l_linenumber") % 2 == 0).alias("is_receipt"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        cents("l_extendedprice").alias("cents"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("part", "is_receipt")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "qty", "cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iv = flows.select(
        "part",
        "is_receipt",
        "qty",
        "cents",
        F.sum("qty").over(w).alias("hi"),
    ).withColumn("lo", F.col("hi") - F.col("qty"))
    r = iv.where(F.col("is_receipt")).alias("r")
    s = iv.where(~F.col("is_receipt")).alias("s")
    overlap = F.greatest(
        F.lit(0),
        F.least(F.col("r.hi"), F.col("s.hi")) - F.greatest(F.col("r.lo"), F.col("s.lo")),
    )
    matched = (
        r.join(
            s,
            (F.col("r.part") == F.col("s.part"))
            & (F.col("r.lo") < F.col("s.hi"))
            & (F.col("s.lo") < F.col("r.hi")),
        )
        .groupBy(F.col("r.part").alias("part"))
        .agg(
            F.sum(overlap * F.expr("r.cents DIV r.qty")).alias("cogs_cents"),
            F.sum(overlap).alias("matched_qty"),
        )
    )
    totals = iv.groupBy("part").agg(
        F.sum(F.when(~F.col("is_receipt"), F.col("qty")).otherwise(0))
        .cast("bigint")
        .alias("sold_qty")
    )
    return (
        totals.join(matched, "part", "left")
        .select(
            F.col("part").alias("partkey"),
            "sold_qty",
            F.coalesce("matched_qty", F.lit(0)).cast("bigint").alias("matched_qty"),
            F.coalesce("cogs_cents", F.lit(0)).cast("bigint").alias("cogs_cents"),
        )
        .orderBy("partkey")
    )


# ---------- q338: linear interpolation of gaps on the hourly spine

# q111 fills gaps by carrying the last value forward; this is the
# other standard resample: LINEAR interpolation between the bracketing
# observations, v = prev + (next - prev) * (t - t_prev)/(t_next -
# t_prev), an exact rational in integer epoch-hours and cents reported
# round-half-up in micro-cents (positive shift — slopes go both
# ways). The spine is sequence()-generated per user; prev/next come
# from IGNORE NULLS window walks in each direction, so one
# user-ordered window pass each way. Edges (before first / after last
# observation) stay NULL-free by emitting only interior hours.
_INTERP_ORACLE = """
WITH hourly AS MATERIALIZED (
    SELECT user_id, date_trunc('hour', ts) AS h,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id
), spine AS (
    SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
    FROM bounds
), joined AS (
    SELECT s.user_id, s.h, o.cents,
           CAST(epoch(s.h) AS BIGINT) // 3600 AS eh
    FROM spine s LEFT JOIN hourly o USING (user_id, h)
), walked AS (
    SELECT user_id, h, eh, cents,
           LAST_VALUE(cents IGNORE NULLS) OVER w_fwd AS pv,
           LAST_VALUE(obs_eh IGNORE NULLS) OVER w_fwd_obs AS pt,
           FIRST_VALUE(cents IGNORE NULLS) OVER w_bwd AS nv,
           FIRST_VALUE(obs_eh IGNORE NULLS) OVER w_bwd_obs AS nt
    FROM (SELECT user_id, h, eh, cents,
                 CASE WHEN cents IS NOT NULL THEN eh END AS obs_eh
          FROM joined)
    WINDOW w_fwd AS (PARTITION BY user_id ORDER BY eh
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_fwd_obs AS (PARTITION BY user_id ORDER BY eh
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_bwd AS (PARTITION BY user_id ORDER BY eh
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
           w_bwd_obs AS (PARTITION BY user_id ORDER BY eh
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, CAST(eh AS BIGINT) AS epoch_hour,
       CAST(CASE WHEN cents IS NOT NULL THEN cents * 1000000
                 ELSE ((2 * ((pv * (nt - eh) + nv * (eh - pt)) * 1000000
                             + (nt - pt) * 1000000000000)
                        + (nt - pt)) // (2 * (nt - pt))) - 1000000000000
            END AS BIGINT) AS cents_micro
FROM walked
WHERE pv IS NOT NULL AND nv IS NOT NULL
ORDER BY user_id, epoch_hour
"""


@register("q338_linear_interpolation", oracle=_INTERP_ORACLE)
def q338(events):
    """Linear interpolation between bracketing hourly observations
    (oracle comment). NOTE the oracle walks prev/next time from a
    masked column so only OBSERVED hours anchor the interpolation."""
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(cents("value")).cast("bigint").alias("cents")
    )
    # r12 rewrite (guide §2.4): the former shape exploded the full
    # hourly spine, LEFT-joined the observations back, then ran FOUR
    # IGNORE-NULLS window walks over the |users|x720-row spine (one
    # exchange for the spine repartition + two window sorts over the
    # exploded stream). But the bracketing observation pair of every
    # interior hour is simply (this observation, the NEXT observation):
    # one lead() window over the |observations|-sized hourly frame
    # yields (pt=eh, pv=cents, nt, nv), and each observation emits the
    # hours [eh, nt-1] via sequence() AFTER the window — the spine
    # join and both spine-sized window sorts are gone, and the only
    # wide operations left run on the pre-explode observation frame.
    # Spine coverage is identical: hours [h0, h1] per user, observed
    # hours emit cents exactly, interior hours interpolate between the
    # same bracketing pair the IGNORE-NULLS walks found.
    wl = Window.partitionBy("user_id").orderBy("eh")
    obs = hourly.select(
        "user_id",
        (F.unix_timestamp(F.col("h").cast("timestamp")) / 3600)
        .cast("bigint")
        .alias("eh"),
        "cents",
    )
    led = obs.select(
        "user_id",
        F.col("eh").alias("pt"),
        F.col("cents").alias("pv"),
        F.lead("eh").over(wl).alias("nt"),
        F.lead("cents").over(wl).alias("nv"),
    )
    return (
        led.select(
            "user_id",
            "pt",
            "pv",
            "nt",
            "nv",
            F.explode(
                F.sequence(
                    F.col("pt"), F.coalesce(F.col("nt") - 1, F.col("pt"))
                )
            ).alias("eh"),
        )
        .selectExpr(
            "user_id",
            "CAST(eh AS BIGINT) AS epoch_hour",
            "CAST(CASE WHEN eh = pt THEN pv * 1000000 ELSE (" + rhu(
                "((pv * (nt - eh) + nv * (eh - pt)) * 1000000 + (nt - pt)"
                " * 1000000000000)",
                "(nt - pt)",
            ) + ") - 1000000000000 END AS BIGINT) AS cents_micro",
        )
        .orderBy("user_id", "epoch_hour")
    )


# ---------- q339: timezone conversion (convert_timezone surface)

# Spark 4's convert_timezone on TIMESTAMP_NTZ: events are stored as
# naive UTC instants; business reporting wants the New-York local-hour
# activity profile. Both engines resolve the IANA zone (DuckDB via
# AT TIME ZONE); the January 2024 window sits entirely inside EST —
# no DST boundary — so the conversion is a stable -5h and the
# histogram is engine-deterministic. |hours| = 24 output rows off one
# map-side-combinable aggregate.
_TZ_ORACLE = """
SELECT CAST(EXTRACT(hour FROM (h AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York')
            AS INT) AS ny_hour,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (SELECT ts AS h FROM events)
GROUP BY 1 ORDER BY ny_hour
"""


@register("q339_timezone_profile", oracle=_TZ_ORACLE)
def q339(events):
    """New-York local-hour activity histogram via convert_timezone
    (oracle comment)."""
    return (
        events.select(
            F.hour(
                F.expr("convert_timezone('UTC', 'America/New_York', ts)")
            ).alias("ny_hour")
        )
        .groupBy("ny_hour")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .orderBy("ny_hour")
    )


# ---------- q340: temperature-scaled sampling weights (alpha = 0.7)

# The multilingual-corpus mixing standard (mT5 recipe): source weights
# proportional to n^alpha flatten the head and boost the tail.
# n^0.7 = EXP(0.7 * LN(n)) is transcendental, so each source's scaled
# mass is DISCRETIZED once — ROUND(POW(n, 0.7), 6) of an identical
# integer input (the q297 rule: engine pow can differ in the last ulp
# but a 6-dec boundary hit on an irrational value is measure-zero) —
# into integer micro units; the normalized weights and the final
# 1M-token allocation then reuse q314's exact largest-remainder
# integer arithmetic, so the budget sums EXACTLY.
_TEMP_ORACLE = """
WITH tc AS (
    SELECT source,
           CAST(SUM(LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)))
                AS BIGINT) AS tokens
    FROM documents GROUP BY source
), sc AS MATERIALIZED (
    SELECT source, tokens,
           CAST(ROUND(POW(CAST(tokens AS DOUBLE), 0.7) * 1000000) AS BIGINT) AS w_micro
    FROM tc
), t AS MATERIALIZED (
    SELECT CAST(SUM(w_micro) AS HUGEINT) AS total FROM sc
), base AS MATERIALIZED (
    SELECT source, tokens, w_micro,
           CAST((1000000 * CAST(w_micro AS HUGEINT)) // total AS BIGINT) AS fl,
           CAST((1000000 * CAST(w_micro AS HUGEINT)) % total AS HUGEINT) AS rem
    FROM sc, t
), extra AS (
    SELECT CAST(1000000 - SUM(fl) AS BIGINT) AS r FROM base
), ranked AS (
    SELECT source, tokens, w_micro, fl,
           ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
    FROM base
)
SELECT source, tokens, w_micro,
       CAST(fl + CASE WHEN rk <= (SELECT r FROM extra) THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked ORDER BY source
"""


@register("q340_temperature_sampling", oracle=_TEMP_ORACLE)
def q340(documents):
    """n^0.7 temperature mixing weights + exact Hamilton allocation
    (oracle comment)."""
    from ..functions import text as T

    tc = documents.groupBy("source").agg(
        F.sum(F.size(T.tokens(F.col("text")))).cast("bigint").alias("tokens")
    )
    sc = tc.select(
        "source",
        "tokens",
        F.round(F.pow(F.col("tokens").cast("double"), 0.7) * 1000000)
        .cast("bigint")
        .alias("w_micro"),
    )
    d38 = "decimal(38,0)"
    t = sc.agg(F.sum("w_micro").cast(d38).alias("total"))
    base = sc.crossJoin(F.broadcast(t)).selectExpr(
        "source",
        "tokens",
        "w_micro",
        "CAST((1000000 * CAST(w_micro AS DECIMAL(38,0))) DIV total AS BIGINT) AS fl",
        "CAST((1000000 * CAST(w_micro AS DECIMAL(38,0))) % total AS DECIMAL(38,0)) AS rem",
    )
    extra = base.agg((F.lit(1000000) - F.sum("fl")).cast("bigint").alias("r"))
    ranked = base.select(
        "source",
        "tokens",
        "w_micro",
        "fl",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")).alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(extra))
        .select(
            "source",
            "tokens",
            "w_micro",
            (F.col("fl") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0))
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )


# ---------- q341: month-over-month churn triad (new/retained/churned)

# The growth-accounting identity every product dashboard leads with:
# per month, active users split into NEW (absent last month), RETAINED
# (present both), and CHURNED (last month's actives who vanished).
# Distinct (user, month) pairs collapse the fact table once; the triad
# is a full-outer self-join of adjacent months on the |users x months|
# frame. Integer counts; the first month reports churn vs an empty
# predecessor.
_CHURN_ORACLE = """
WITH um AS MATERIALIZED (
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m') AS m FROM events
), months AS MATERIALIZED (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS mi FROM (SELECT DISTINCT m FROM um)
), labeled AS MATERIALIZED (
    SELECT um.user_id, mo.mi FROM um JOIN months mo USING (m)
), pairs AS (
    SELECT COALESCE(c.mi, p.mi + 1) AS mi,
           COUNT(*) FILTER (c.user_id IS NOT NULL AND p.user_id IS NULL) AS new_users,
           COUNT(*) FILTER (c.user_id IS NOT NULL AND p.user_id IS NOT NULL) AS retained,
           COUNT(*) FILTER (c.user_id IS NULL AND p.user_id IS NOT NULL) AS churned
    FROM labeled c FULL OUTER JOIN labeled p
      ON p.user_id = c.user_id AND p.mi = c.mi - 1
    GROUP BY 1
)
SELECT mo.m AS month,
       CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
       CAST(COALESCE(retained, 0) AS BIGINT) AS retained,
       CAST(COALESCE(churned, 0) AS BIGINT) AS churned
FROM pairs JOIN months mo USING (mi)
ORDER BY month
"""


@register("q341_user_churn_summary", oracle=_CHURN_ORACLE)
def q341(events):
    """Growth-accounting triad per month (oracle comment)."""
    # pinned: um feeds the month spine AND the labeled frame, months
    # feeds labeled AND the final re-attach, labeled feeds both sides of
    # the full-outer lag join — unpinned, the events distinct runs four
    # times (guide §2.4; before-plan: 12 Exchanges)
    um = (
        events.select("user_id", F.date_format("ts", "yyyy-MM").alias("m"))
        .distinct()
        .transform(pin)
    )
    months = (
        um.select("m")
        .distinct()
        .select("m", F.row_number().over(Window.orderBy("m")).alias("mi"))
        .transform(pin)
    )
    labeled = (
        um.join(F.broadcast(months), "m")
        .select("user_id", "mi")
        .transform(pin)
    )
    c, p = labeled.alias("c"), labeled.alias("p")
    pairs = (
        c.join(
            p,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("p.mi") == F.col("c.mi") - 1),
            "full_outer",
        )
        .groupBy(F.coalesce(F.col("c.mi"), F.col("p.mi") + 1).alias("mi"))
        .agg(
            F.count(
                F.when(F.col("c.user_id").isNotNull() & F.col("p.user_id").isNull(), 1)
            ).alias("new_users"),
            F.count(
                F.when(
                    F.col("c.user_id").isNotNull() & F.col("p.user_id").isNotNull(), 1
                )
            ).alias("retained"),
            F.count(
                F.when(F.col("c.user_id").isNull() & F.col("p.user_id").isNotNull(), 1)
            ).alias("churned"),
        )
    )
    return (
        pairs.join(F.broadcast(months), "mi")
        .select(
            F.col("m").alias("month"),
            F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
            F.coalesce("retained", F.lit(0)).cast("bigint").alias("retained"),
            F.coalesce("churned", F.lit(0)).cast("bigint").alias("churned"),
        )
        .orderBy("month")
    )


# ---------- q342: foreign-key fan-out histogram (relationship profile)

# Schema-discovery profiling (q153's relational twin): the 1:N
# cardinality shape of orders -> lineitem as a histogram of
# lines-per-order, plus each bucket's share in round-half-up micro
# units. Two nested map-side-combinable aggregates; output is
# |distinct fan-outs| rows (~7 for TPC-H). Catches broken FKs (a
# 0-lines bucket via the left join) and unexpected hot keys.
_FANOUT_ORACLE = """
WITH fan AS (
    SELECT o.o_orderkey, COUNT(l.l_orderkey) AS n_lines
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
), h AS MATERIALIZED (
    SELECT n_lines, COUNT(*) AS n_orders FROM fan GROUP BY n_lines
), t AS (
    SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM h
)
SELECT CAST(n_lines AS INT) AS n_lines,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST((2 * n_orders * 1000000 + total) // (2 * total) AS BIGINT) AS share_micro
FROM h, t ORDER BY n_lines
"""


@register("q342_fanout_histogram", oracle=_FANOUT_ORACLE)
def q342(orders, lineitem):
    """orders->lineitem fan-out histogram with shares (oracle
    comment)."""
    fan = (
        orders
        .join(
            lineitem.select("l_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )
    h = fan.groupBy("n_lines").agg(F.count("*").alias("n_orders"))
    tt = h.agg(F.sum("n_orders").cast("bigint").alias("total"))
    return (
        h.crossJoin(F.broadcast(tt))
        .selectExpr(
            "CAST(n_lines AS INT) AS n_lines",
            "CAST(n_orders AS BIGINT) AS n_orders",
            f"CAST({rhu('n_orders * 1000000', 'total')} AS BIGINT) AS share_micro",
        )
        .orderBy("n_lines")
    )


# ---------- q343: Matryoshka truncation quality (MRL audit)

# How much retrieval signal survives truncating 64-d embeddings to
# their first 16 dims (the Matryoshka deployment trade)? Per label:
# mean cosine between each full vector and its 16-d prefix. With
# milli-quantized integer components (q244 recipe), dot(x, x16) and
# both squared norms are exact BIGINTs; the cosine is a division of
# identical integers under IEEE sqrt (correctly rounded on both
# engines), ROUND(6)'d, and the per-label mean runs over
# DECIMAL(38,6)-cast addends so summation order cannot move the hash.
_MATRYOSHKA_ORACLE = """
WITH q AS (
    SELECT label,
           LIST_TRANSFORM(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), mm AS (
    SELECT label,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 17), i -> v[i] * v[i])) AS BIGINT) AS head,
           CAST(LIST_SUM(LIST_TRANSFORM(range(1, 65), i -> v[i] * v[i])) AS BIGINT) AS fullsq
    FROM q
), c AS (
    SELECT label,
           ROUND(CAST(head AS DOUBLE)
                 / (SQRT(CAST(fullsq AS DOUBLE)) * SQRT(CAST(head AS DOUBLE))), 6) AS cos6
    FROM mm WHERE head > 0 AND fullsq > 0
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST((2 * CAST(SUM(CAST(cos6 * 1000000 AS BIGINT)) AS BIGINT) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS mean_cos_micro
FROM c GROUP BY label ORDER BY label
"""


@register("q343_matryoshka_quality", oracle=_MATRYOSHKA_ORACLE)
def q343(embeddings):
    """Mean full-vs-16d-prefix cosine per label (oracle comment).
    dot(x, x16) = ||x16||^2, so only the two squared norms are needed."""
    q = embeddings.select(
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("bigint")
        ).alias("v"),
    )
    acc = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda a, x: a + x * x
    )
    mm = q.select(
        "label",
        acc(F.slice("v", 1, 16)).alias("head"),
        acc(F.col("v")).alias("fullsq"),
    )
    c = mm.where((F.col("head") > 0) & (F.col("fullsq") > 0)).select(
        "label",
        F.round(
            F.col("head").cast("double")
            / (F.sqrt(F.col("fullsq").cast("double")) * F.sqrt(F.col("head").cast("double"))),
            6,
        ).alias("cos6"),
    )
    return (
        c.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.expr(
                "CAST("
                + rhu("CAST(SUM(CAST(cos6 * 1000000 AS BIGINT)) AS BIGINT)", "COUNT(*)")
                + " AS BIGINT)"
            ).alias("mean_cos_micro"),
        )
        .select(F.col("label").cast("int").alias("label"), "n_vecs", "mean_cos_micro")
        .orderBy("label")
    )


# ---------- q344: learned-index error bound (RMI-style audit)

# Fit position ~ value by OLS over the sorted daily-revenue array and
# report the maximum absolute prediction error — the quantity that
# sizes a learned index's search window (RMI last-mile bound). The
# fit runs on the |days| frame: exact DECIMAL(38) moments (q270
# style), predictions as round-half-up integers from the exact
# rational slope/intercept — pred(v) = rhu((num_a + num_b*v)/den) with
# positive-shift (slope sign unknown) — then MAX |pos - pred|.
_LEARNED_IDX_ORACLE = _DAILY_CTE + """
, idx AS MATERIALIZED (
    SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, day) AS pos FROM daily
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(SUM(CAST(pos AS HUGEINT)) AS HUGEINT) AS sy,
           CAST(SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(cents AS HUGEINT) * CAST(pos AS HUGEINT)) AS HUGEINT) AS sxy
    FROM idx
), err AS (
    SELECT pos,
           ((2 * ((sy * sxx - sx * sxy) + (n * sxy - sx * sy) * CAST(cents AS HUGEINT)
                  + 1000000 * (n * sxx - sx * sx))
             + (n * sxx - sx * sx))
            // (2 * (n * sxx - sx * sx))) - 1000000 AS pred
    FROM idx, m
)
SELECT CAST((SELECT n FROM m) AS BIGINT) AS n_keys,
       CAST(MAX(ABS(CAST(pos AS HUGEINT) - pred)) AS BIGINT) AS max_abs_err,
       CAST((2 * SUM(ABS(CAST(pos AS HUGEINT) - pred)) + (SELECT n FROM m))
            // (2 * (SELECT n FROM m)) AS BIGINT) AS mean_abs_err
FROM err
"""


@register("q344_learned_index_error", oracle=_LEARNED_IDX_ORACLE)
def q344(orders):
    """Max/mean |position - OLS prediction| over the sorted key array
    (oracle comment)."""
    from .analytics3 import _daily_cents

    daily = _daily_cents(orders)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("cents", "day")).alias("pos")
    )
    d38 = "decimal(38,0)"
    m = idx.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("cents").cast(d38).alias("sx"),
        F.sum("pos").cast(d38).alias("sy"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).cast(d38).alias("sxx"),
        F.sum(F.col("cents").cast(d38) * F.col("pos")).cast(d38).alias("sxy"),
    )
    err = idx.crossJoin(F.broadcast(m)).selectExpr(
        "pos",
        "n",
        "(" + rhu(
            "((sy * sxx - sx * sxy) + (n * sxy - sx * sy) * CAST(cents"
            " AS DECIMAL(38,0)) + 1000000 * (n * sxx - sx * sx))",
            "(n * sxx - sx * sx)",
        ) + ") - 1000000 AS pred",
    )
    return err.agg(
        F.max("n").cast("bigint").alias("n_keys"),
        F.max(F.abs(F.col("pos").cast(d38) - F.col("pred"))).cast("bigint").alias(
            "max_abs_err"
        ),
        F.expr(
            f"CAST({rhu('SUM(ABS(CAST(pos AS DECIMAL(38,0)) - pred))', 'MAX(n)')}"
            " AS BIGINT)"
        ).alias("mean_abs_err"),
    ).select("n_keys", "max_abs_err", "mean_abs_err")


# ---------- q345: Cohen's kappa for the NB classifier (q297's grader)

# Chance-corrected agreement between q297's naive-Bayes predictions
# and the true language labels: kappa = (po - pe)/(1 - pe) with
# po = sum diag / N and pe = sum (row_i * col_i) / N^2 — an exact
# rational of confusion-matrix counts, reported positive-shift
# round-half-up (kappa can be negative):
# kappa = (N*sum_diag - sum_rc) / (N*N - sum_rc). The confusion
# matrix comes straight from q297's per-doc output (the oracle embeds
# q297's full SQL as a CTE), so this is the eval-family grader for
# the classifier family.
from .analytics3 import _NB_ORACLE as _NB_SQL  # noqa: E402

_KAPPA_ORACLE = (
    "WITH nb AS (" + _NB_SQL + ")"
    + """
, conf AS MATERIALIZED (
    SELECT true_lang, pred_lang, COUNT(*) AS c FROM nb GROUP BY 1, 2
), nn AS (
    SELECT CAST(SUM(c) AS HUGEINT) AS n FROM conf
), diag AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN true_lang = pred_lang THEN c END), 0)
                AS HUGEINT) AS sum_diag
    FROM conf
), rows_ AS (
    SELECT true_lang AS lang, CAST(SUM(c) AS HUGEINT) AS r FROM conf GROUP BY 1
), cols_ AS (
    SELECT pred_lang AS lang, CAST(SUM(c) AS HUGEINT) AS col FROM conf GROUP BY 1
), pe AS (
    SELECT CAST(COALESCE(SUM(r * col), 0) AS HUGEINT) AS sum_rc
    FROM rows_ JOIN cols_ USING (lang)
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(sum_diag AS BIGINT) AS n_agree,
       CAST((2 * ((n * sum_diag - sum_rc) + (n * n - sum_rc)) * 1000000
             + (n * n - sum_rc)) // (2 * (n * n - sum_rc)) - 1000000
            AS BIGINT) AS kappa_micro
FROM nn, diag, pe
"""
)


@register("q345_cohens_kappa", oracle=_KAPPA_ORACLE)
def q345(documents):
    """Chance-corrected agreement of the q297 classifier (oracle
    comment)."""
    from .analytics3 import q297

    nb = q297(documents)
    # pinned: conf (|langs|² rows) feeds FIVE consumers (nn, diag, rows_,
    # cols_ and through them pe) — without the checkpoint each one re-runs
    # the whole q297 classifier subtree (guide §2.4; the before-plan held
    # 69 Exchanges, ~5 copies of the 16-Exchange NB pipeline)
    conf = (
        nb.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("c"))
        .transform(pin)
    )
    d38 = "decimal(38,0)"
    nn = conf.agg(F.sum("c").cast(d38).alias("n"))
    diag = conf.agg(
        F.coalesce(
            F.sum(F.when(F.col("true_lang") == F.col("pred_lang"), F.col("c"))),
            F.lit(0),
        )
        .cast(d38)
        .alias("sum_diag")
    )
    rows_ = conf.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum("c").cast(d38).alias("r")
    )
    cols_ = conf.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("c").cast(d38).alias("col")
    )
    pe = (
        rows_.join(cols_, "lang")
        .agg(F.coalesce(F.sum(F.col("r") * F.col("col")), F.lit(0)).cast(d38).alias("sum_rc"))
    )
    return (
        nn.crossJoin(diag)
        .crossJoin(pe)
        .selectExpr(
            "CAST(n AS BIGINT) AS n_docs",
            "CAST(sum_diag AS BIGINT) AS n_agree",
            "CAST(" + rhu(
                "((n * sum_diag - sum_rc) + (n * n - sum_rc)) * 1000000",
                "(n * n - sum_rc)",
            ) + " - 1000000 AS BIGINT) AS kappa_micro",
        )
    )


# ---------- q346: grouped OLS (per-brand price elasticity of quantity)

# q231/q292 fit ONE global trend; real feature pipelines fit thousands
# of small regressions AT ONCE — here quantity ~ discount per brand,
# entirely from per-group integer moments (one map-side-combinable
# aggregate keyed by brand; no window, no per-group iteration). Slope
# and intercept are exact rationals of DECIMAL(38) moments reported
# positive-shift round-half-up; x = discount in integer percent, y =
# integer quantity. Degenerate brands (zero x-variance) are excluded
# identically on both engines.
_GROUPED_OLS_ORACLE = """
WITH pts AS (
    SELECT p.p_brand AS brand,
           CAST(ROUND(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem JOIN part p ON p.p_partkey = l_partkey
), m AS (
    SELECT brand,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
    FROM pts GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n,
       CAST((2 * ((n * sxy - sx * sy) + 100 * (n * sxx - sx * sx)) * 1000000
             + (n * sxx - sx * sx)) // (2 * (n * sxx - sx * sx))
            - 100000000 AS BIGINT) AS slope_micro,
       CAST((2 * ((sy * sxx - sx * sxy) + 1000 * (n * sxx - sx * sx)) * 1000000
             + (n * sxx - sx * sx)) // (2 * (n * sxx - sx * sx))
            - 1000000000 AS BIGINT) AS intercept_micro
FROM m WHERE n * sxx - sx * sx > 0
ORDER BY brand
"""


@register("q346_grouped_ols", oracle=_GROUPED_OLS_ORACLE)
def q346(lineitem, part):
    """Per-brand OLS of quantity on discount percent from grouped
    integer moments (oracle comment)."""
    pts = (
        lineitem
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_discount").cast("double") * 100).cast("bigint").alias("x"),
            F.col("l_quantity").cast("bigint").alias("y"),
        )
    )
    d38 = "decimal(38,0)"
    m = pts.groupBy("brand").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
    )
    return (
        m.where(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        .selectExpr(
            "brand",
            "CAST(n AS BIGINT) AS n",
            "CAST(" + rhu(
                "((n * sxy - sx * sy) + 100 * (n * sxx - sx * sx)) * 1000000",
                "(n * sxx - sx * sx)",
            ) + " - 100000000 AS BIGINT) AS slope_micro",
            "CAST(" + rhu(
                "((sy * sxx - sx * sxy) + 1000 * (n * sxx - sx * sx)) * 1000000",
                "(n * sxx - sx * sx)",
            ) + " - 1000000000 AS BIGINT) AS intercept_micro",
        )
        .orderBy("brand")
    )


# ---------- q347: SQL session variables + EXECUTE IMMEDIATE (Spark 4)

# The SQL-scripting surface q296 (IDENTIFIER) leaves untested: a
# session variable DECLAREd and SET VAR'd at runtime, consumed by an
# EXECUTE IMMEDIATE statement through a USING bind — the
# stored-procedure-style parameter flow (thresholds owned by
# orchestration, not spliced into SQL text). The oracle is the static
# query with the same literal, proving the variable lane resolves to
# the identical plan.
_SQLVAR_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS rev_cents
FROM orders WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("q347_sql_variables", oracle=_SQLVAR_ORACLE)
def q347(spark):
    """DECLARE VARIABLE + SET VAR + EXECUTE IMMEDIATE ... USING
    (oracle comment)."""
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_floor = 150000.0")
    return spark.sql(
        "EXECUTE IMMEDIATE"
        " 'SELECT o_orderpriority,"
        "         CAST(COUNT(*) AS BIGINT) AS n,"
        "         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
        "              AS BIGINT) AS rev_cents"
        "  FROM orders WHERE o_totalprice > :floor"
        "  GROUP BY o_orderpriority ORDER BY o_orderpriority'"
        " USING price_floor AS floor"
    )


# ---------- q348: keyset pagination (stable cursor paging proof)

# OFFSET pagination re-sorts everything per page; production paging
# uses KEYSET cursors — tuple predicates on the last-seen sort key.
# Three 10-row pages of orders under the unique (o_orderdate,
# o_orderkey) order, each page filtered by a tuple comparison against
# the previous page's tail, then UNION ALL'd; the oracle is the
# straight LIMIT 30 of the same sort — equality proves the cursor
# predicates lose and duplicate nothing. The page filters are
# sargable: each page's scan prunes with the pushed tuple predicate
# instead of resorting history.
_KEYSET_ORACLE = """
SELECT o_orderkey, o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
FROM orders
ORDER BY o_orderdate, o_orderkey LIMIT 30
"""


@register("q348_keyset_pagination", oracle=_KEYSET_ORACLE)
def q348(orders):
    """Three keyset-cursor pages stitched back together (oracle
    comment). Cursor boundaries come from small page-tail collects —
    bounded driver traffic by construction (10 rows/page)."""
    o = orders.select(
        "o_orderkey",
        "o_orderdate",
        cents("o_totalprice").alias("cents"),
    )
    order = [F.col("o_orderdate"), F.col("o_orderkey")]
    pages = []
    cursor = None
    for _ in range(3):
        page = o
        if cursor is not None:
            d0, k0 = cursor
            page = page.where(
                (F.col("o_orderdate") > F.lit(d0))
                | ((F.col("o_orderdate") == F.lit(d0)) & (F.col("o_orderkey") > k0))
            )
        page = page.orderBy(*order).limit(10)
        rows = page.collect()
        pages.append(page)
        if not rows:
            break
        cursor = (rows[-1]["o_orderdate"], rows[-1]["o_orderkey"])
    out = pages[0]
    for p in pages[1:]:
        out = out.unionAll(p)
    return out.orderBy(*order)


# ---------- q349: run-length encoding effectiveness audit (storage QA)

# Would sorting this table by ship date make l_returnflag RLE-friendly
# inside each month partition? Count value RUNS per month under the
# (shipdate, orderkey, linenumber) order — runs = changes + 1 via one
# LAG over a month-partitioned window (one exchange, one pass) — and
# report rows-per-run in micro units. The q332 advisor's encoding-side
# sibling: a ratio near 1 says "don't bother", a high ratio says the
# sort buys real compression.
_RLE_ORACLE = """
WITH seq AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS month, l_returnflag,
           LAG(l_returnflag) OVER (PARTITION BY strftime(l_shipdate, '%Y-%m')
                                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                            l_returnflag)
               AS prev
    FROM lineitem
), agg AS (
    SELECT month, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (prev IS NULL OR l_returnflag <> prev) AS BIGINT)
               AS n_runs
    FROM seq GROUP BY month
)
SELECT month, n_rows, n_runs,
       CAST((2 * n_rows * 1000000 + n_runs) // (2 * n_runs) AS BIGINT)
           AS rows_per_run_micro
FROM agg ORDER BY month
"""


@register("q349_encoding_audit", oracle=_RLE_ORACLE)
def q349(lineitem):
    """Per-month RLE run statistics for l_returnflag under the ship
    order (oracle comment)."""
    month = F.date_format("l_shipdate", "yyyy-MM")
    # the synthetic lineitem carries a few duplicate (shipdate, orderkey,
    # linenumber) triples, so the flag itself is the final tiebreaker —
    # without it the run sequence is engine-dependent at those ties
    w = Window.partitionBy(month).orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_returnflag"
    )
    seq = lineitem.select(
        month.alias("month"),
        "l_returnflag",
        F.lag("l_returnflag").over(w).alias("prev"),
    )
    agg = seq.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count(
            F.when(
                F.col("prev").isNull() | (F.col("l_returnflag") != F.col("prev")), 1
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    return agg.selectExpr(
        "month",
        "n_rows",
        "n_runs",
        f"CAST({rhu('n_rows * 1000000', 'n_runs')} AS BIGINT) AS rows_per_run_micro",
    ).orderBy("month")


# ---------- q350: historical VaR / expected shortfall of daily deltas

# Risk metrics on the day-over-day revenue change: the 5% historical
# VaR is the nearest-rank ceil(0.05*m) order statistic of the deltas
# (unique (delta, day) order), and the expected shortfall is the
# round-half-up mean of the tail at or below it. Deltas are exact
# integer cents off one LAG over the |days| aggregate; negative means
# are handled with the positive-shift trick (tail sums are negative).
_VAR_ORACLE = _DAILY_CTE + """
, deltas AS (
    SELECT day, cents - LAG(cents) OVER (ORDER BY day) AS d
    FROM daily
), dd AS MATERIALIZED (
    SELECT day, d, ROW_NUMBER() OVER (ORDER BY d, day) AS rr,
           COUNT(*) OVER () AS m
    FROM deltas WHERE d IS NOT NULL
), var_row AS MATERIALIZED (
    SELECT d AS var_cents, rr, m FROM dd
    WHERE rr = GREATEST(CAST(CEIL(0.05 * m) AS BIGINT), 1)
), tail AS (
    SELECT CAST(SUM(dd.d) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS k
    FROM dd, var_row v WHERE dd.rr <= v.rr
)
SELECT CAST((SELECT m FROM var_row) AS BIGINT) AS n_deltas,
       (SELECT CAST(var_cents AS BIGINT) FROM var_row) AS var_cents,
       CAST(((2 * (s + k * 1000000000000) + k) // (2 * k)) - 1000000000000
            AS BIGINT) AS es_cents
FROM tail
"""


@register("q350_historical_var", oracle=_VAR_ORACLE)
def q350(orders):
    """5% historical VaR + expected shortfall of daily revenue deltas
    (oracle comment)."""
    daily = _daily_cents(orders)
    deltas = daily.select(
        "day", (F.col("cents") - F.lag("cents").over(Window.orderBy("day"))).alias("d")
    ).where(F.col("d").isNotNull())
    dd = deltas.select(
        "d",
        F.row_number().over(Window.orderBy("d", "day")).alias("rr"),
    ).withColumn("m", F.count("*").over(Window.partitionBy()))
    var_row = dd.where(
        F.col("rr") == F.greatest(F.ceil(0.05 * F.col("m")).cast("bigint"), F.lit(1))
    ).select(F.col("d").alias("var_cents"), F.col("rr").alias("vr"), F.col("m").alias("nm"))
    tail = (
        dd.crossJoin(F.broadcast(var_row))
        .where(F.col("rr") <= F.col("vr"))
        .agg(
            F.max("nm").cast("bigint").alias("n_deltas"),
            F.max("var_cents").cast("bigint").alias("var_cents"),
            F.sum("d").cast("bigint").alias("s"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    return tail.selectExpr(
        "n_deltas",
        "var_cents",
        f"CAST(({rhu('(s + k * 1000000000000)', 'k')}) - 1000000000000 AS BIGINT)"
        " AS es_cents",
    )


# ---------- q351: Heaps' law fit (vocabulary growth exponent)

# Does vocabulary grow like V = K * n^beta (healthy natural-language
# corpora sit near beta ~ 0.5)? Checkpoints at doc-count deciles:
# vocab_at_k needs NO per-prefix distinct pass — each term contributes
# via its FIRST-occurrence doc (min doc_id per term, a
# map-side-combinable aggregate), and cumulative tokens come off the
# per-doc token counts; both reduce to <=10-row cumulative sums over
# broadcast checkpoint thresholds. The log-log OLS reuses the q317
# discretization (ROUND(LN(int),6) micro) with exact-rational
# slope/intercept. Output: one row per checkpoint + the fitted
# beta/logK repeated as constant columns (self-contained report).
_HEAPS_ORACLE = """
WITH dt AS (
    SELECT doc_id,
           LEN(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS ntok
    FROM documents
), firsts AS (
    SELECT MIN(doc_id) AS first_doc FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STR_SPLIT(LOWER(text), ' '), t -> LEN(t) > 0)) AS term
        FROM documents
    ) GROUP BY term
), ranked AS (
    SELECT doc_id, ntok, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
           COUNT(*) OVER () AS nd
    FROM dt
), cps AS (
    SELECT i.i, MAX(r.doc_id) AS thr_doc,
           CAST(SUM(r.ntok) AS BIGINT) AS tokens_cum
    FROM range(1, 11) i(i)
    JOIN ranked r ON r.rn <= (r.nd * i.i) // 10
    GROUP BY i.i
), vc AS (
    SELECT c.i, c.tokens_cum,
           CAST(COUNT(*) AS BIGINT) AS vocab_cum
    FROM cps c JOIN firsts f ON f.first_doc <= c.thr_doc
    GROUP BY c.i, c.tokens_cum
), pts AS MATERIALIZED (
    SELECT i, tokens_cum, vocab_cum,
           CAST(ROUND(LN(CAST(tokens_cum AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
           CAST(ROUND(LN(CAST(vocab_cum AS DOUBLE)) * 1000000) AS BIGINT) AS ly
    FROM vc WHERE tokens_cum > 0 AND vocab_cum > 0
), m AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
           CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy
    FROM pts
)
SELECT CAST(p.i AS INT) AS checkpoint,
       p.tokens_cum, p.vocab_cum,
       CAST((2 * ((m.n * m.sxy - m.sx * m.sy) + 10 * (m.n * m.sxx - m.sx * m.sx))
             * 1000000 + (m.n * m.sxx - m.sx * m.sx))
            // (2 * (m.n * m.sxx - m.sx * m.sx)) - 10000000 AS BIGINT) AS beta_micro
FROM pts p, m ORDER BY checkpoint
"""


@register("q351_heaps_law", oracle=_HEAPS_ORACLE)
def q351(spark, documents):
    """Vocabulary-growth checkpoints + Heaps exponent (oracle
    comment)."""
    from ..functions import text as T

    dt = documents.select("doc_id", F.size(T.tokens(F.col("text"))).alias("ntok"))
    firsts = (
        documents.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    ranked = dt.select(
        "doc_id",
        "ntok",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
    ).withColumn("nd", F.count("*").over(Window.partitionBy()))
    grid = spark.range(1, 11).select(F.col("id").alias("i"))
    cps = (
        F.broadcast(grid)
        .join(ranked, F.expr("rn <= (nd * i) DIV 10"))
        .groupBy("i")
        .agg(
            F.max("doc_id").alias("thr_doc"),
            F.sum("ntok").cast("bigint").alias("tokens_cum"),
        )
    )
    vc = (
        F.broadcast(cps)
        .join(firsts, F.col("first_doc") <= F.col("thr_doc"))
        .groupBy("i", "tokens_cum")
        .agg(F.count("*").cast("bigint").alias("vocab_cum"))
    )
    micro = lambda c: F.round(F.log(c.cast("double")) * 1000000).cast("bigint")  # noqa: E731
    pts = vc.where((F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0)).select(
        "i",
        "tokens_cum",
        "vocab_cum",
        micro(F.col("tokens_cum")).alias("lx"),
        micro(F.col("vocab_cum")).alias("ly"),
    )
    d38 = "decimal(38,0)"
    m = pts.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("lx").cast(d38).alias("sx"),
        F.sum("ly").cast(d38).alias("sy"),
        F.sum(F.col("lx").cast(d38) * F.col("lx")).cast(d38).alias("sxx"),
        F.sum(F.col("lx").cast(d38) * F.col("ly")).cast(d38).alias("sxy"),
    )
    return (
        pts.crossJoin(F.broadcast(m))
        .selectExpr(
            "CAST(i AS INT) AS checkpoint",
            "tokens_cum",
            "vocab_cum",
            "CAST(" + rhu(
                "((n * sxy - sx * sy) + 10 * (n * sxx - sx * sx)) * 1000000",
                "(n * sxx - sx * sx)",
            ) + " - 10000000 AS BIGINT) AS beta_micro",
        )
        .orderBy("checkpoint")
    )


# ---------- q352: sampled-aggregate error audit (AQP discipline)

# Approximate query processing needs its error measured, not assumed:
# estimate monthly revenue from a deterministic 10% row sample
# (md5(orderkey) % 10 — the q155 recipe, so both engines pick the
# SAME sample) scaled by exactly 10, next to the exact total and the
# round-half-up relative error. One pass computes both (conditional
# aggregation), so the audit costs one scan.
_SAMPLED_ORACLE = """
WITH rows_ AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           ('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
               AS in_sample
    FROM orders
), agg AS (
    SELECT month,
           CAST(SUM(cents) AS BIGINT) AS exact_cents,
           CAST(10 * COALESCE(SUM(cents) FILTER (in_sample), 0) AS BIGINT) AS est_cents
    FROM rows_ GROUP BY month
)
SELECT month, exact_cents, est_cents,
       CAST((2 * ABS(est_cents - exact_cents) * 1000000 + exact_cents)
            // (2 * exact_cents) AS BIGINT) AS rel_err_micro
FROM agg ORDER BY month
"""


@register("q352_sampled_aggregate_error", oracle=_SAMPLED_ORACLE)
def q352(orders):
    """10% md5-sample revenue estimate vs exact, with relative error
    (oracle comment)."""
    rows_ = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        cents("o_totalprice").alias("cents"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % 10
            == 0
        ).alias("in_sample"),
    )
    agg = rows_.groupBy("month").agg(
        F.sum("cents").cast("bigint").alias("exact_cents"),
        (10 * F.coalesce(F.sum(F.when(F.col("in_sample"), F.col("cents"))), F.lit(0)))
        .cast("bigint")
        .alias("est_cents"),
    )
    return agg.selectExpr(
        "month",
        "exact_cents",
        "est_cents",
        f"CAST({rhu('ABS(est_cents - exact_cents) * 1000000', 'exact_cents')}"
        " AS BIGINT) AS rel_err_micro",
    ).orderBy("month")


# ---------- q353: binary/hash function parity (md5/sha256/base64/hex)

# The binary-function row of the scalar families (q31 strings, q33
# math): digests and codecs must agree byte-for-byte across engines —
# these anchor every dedup/fingerprint lane in the repo, so the parity
# is load-bearing, not decorative. Spark sha2(s,256) ~ DuckDB
# sha256(s); Spark base64/hex operate on UTF-8 bytes, DuckDB needs the
# explicit ::BLOB cast; hex case normalized via lower().
_BINFN_ORACLE = """
SELECT doc_id,
       MD5(text) AS md5_hex,
       SHA256(text) AS sha256_hex,
       TO_BASE64(SUBSTR(text, 1, 12)::BLOB) AS b64_prefix,
       LOWER(HEX(SUBSTR(text, 1, 8)::BLOB)) AS hex_prefix
FROM documents WHERE doc_id % 100 = 0 ORDER BY doc_id
"""


@register("q353_binary_fns", oracle=_BINFN_ORACLE)
def q353(documents):
    """Digest/codec parity over a doc slice (oracle comment)."""
    return (
        documents.where(F.col("doc_id") % 100 == 0)
        .select(
            "doc_id",
            F.md5("text").alias("md5_hex"),
            F.sha2("text", 256).alias("sha256_hex"),
            F.base64(F.substring("text", 1, 12)).alias("b64_prefix"),
            F.lower(F.hex(F.substring("text", 1, 8))).alias("hex_prefix"),
        )
        .orderBy("doc_id")
    )


# ---------- q354: share-of-parent down the geo hierarchy

# The hierarchical report: revenue per nation with its share of the
# REGION subtotal and the region's share of the WORLD total — three
# aggregation grains stitched by broadcast joins (nation/region are
# classic broadcast dims), every share an exact round-half-up micro
# rational. The orders->customer join carries the only wide shuffle.
_GEO_ORACLE = """
WITH rev AS MATERIALIZED (
    SELECT c.c_nationkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
), nat AS MATERIALIZED (
    SELECT r.r_name AS region, n.n_name AS nation, rev.cents
    FROM rev
    JOIN nation n ON n.n_nationkey = rev.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
), reg AS MATERIALIZED (
    SELECT region, CAST(SUM(cents) AS BIGINT) AS region_cents FROM nat GROUP BY region
), tot AS MATERIALIZED (
    SELECT CAST(SUM(cents) AS BIGINT) AS world_cents FROM nat
)
SELECT nat.region, nat.nation, nat.cents,
       CAST((2 * nat.cents * 1000000 + reg.region_cents)
            // (2 * reg.region_cents) AS BIGINT) AS share_of_region_micro,
       CAST((2 * reg.region_cents * 1000000 + tot.world_cents)
            // (2 * tot.world_cents) AS BIGINT) AS region_share_micro
FROM nat JOIN reg USING (region), tot
ORDER BY region, nation
"""


@register("q354_geo_hierarchy_shares", oracle=_GEO_ORACLE)
def q354(orders, customer, nation, region):
    """Nation revenue with share-of-region and region-share-of-world
    (oracle comment)."""
    rev = (
        orders
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
        )
    )
    nat = (
        rev.join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "cents"
        )
    )
    reg = nat.groupBy("region").agg(F.sum("cents").cast("bigint").alias("region_cents"))
    tot = nat.agg(F.sum("cents").cast("bigint").alias("world_cents"))
    return (
        nat.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "region",
            "nation",
            "cents",
            f"CAST({rhu('cents * 1000000', 'region_cents')} AS BIGINT)"
            " AS share_of_region_micro",
            f"CAST({rhu('region_cents * 1000000', 'world_cents')} AS BIGINT)"
            " AS region_share_micro",
        )
        .orderBy("region", "nation")
    )


# ---------- q355: incremental sessionization with boundary repair

# The incremental-refresh problem q117/q325 solve for aggregates,
# posed for SESSIONS: events arrive in two chunks split at Jan 15;
# each chunk sessionizes independently (30-min gap), then a boundary
# REPAIR join merges each user's last chunk-A session with their first
# chunk-B session when the cross-chunk gap closes within 30 minutes.
# Chunk-internal gap closure guarantees at most ONE pairwise merge per
# user, so the repair is a single keyed join — no iteration. The
# oracle sessionizes the whole stream at once; equality proves the
# incremental path is exact. Sessions are (min_ts, max_ts, n) triples.
_INCR_SESS_ORACLE = """
WITH g AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM events
), s AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM g
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("q355_incremental_sessionize", oracle=_INCR_SESS_ORACLE)
def q355(events):
    """Two-chunk sessionization + boundary repair == batch sessions
    (oracle comment)."""
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")

    def sessionize(chunk):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
        s = chunk.select(
            "user_id",
            "ts",
            F.sum(
                F.when(gap.isNull() | (gap >= 1800.0), 1).otherwise(0)
            )
            .over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .alias("sid"),
        )
        return s.groupBy("user_id", "sid").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("bigint").alias("n_events"),
        )

    # pinned: a and b each feed the boundary pick AND the kept anti-join
    # (unpinned, each chunk's events scan + two windows + groupBy runs
    # twice), and merged feeds three consumers (guide §2.4; before-plan:
    # 13 Exchanges, 19 Sorts)
    a = pin(sessionize(events.where(F.col("ts") < cut)))
    b = pin(sessionize(events.where(F.col("ts") >= cut)))
    wa = Window.partitionBy("user_id").orderBy(F.col("session_start").desc())
    wb = Window.partitionBy("user_id").orderBy("session_start")
    last_a = a.withColumn("rn", F.row_number().over(wa)).where(F.col("rn") == 1).drop("rn")
    first_b = b.withColumn("rn", F.row_number().over(wb)).where(F.col("rn") == 1).drop("rn")
    merged = (
        last_a.alias("x")
        .join(first_b.alias("y"), "user_id")
        .where(
            F.col("y.session_start").cast("double")
            - F.col("x.session_end").cast("double")
            < 1800.0
        )
        .select(
            "user_id",
            F.col("x.sid").alias("sid_a"),
            F.col("y.sid").alias("sid_b"),
            F.col("x.session_start").alias("session_start"),
            F.col("y.session_end").alias("session_end"),
            (F.col("x.n_events") + F.col("y.n_events")).alias("n_events"),
        )
        .transform(pin)
    )
    a_kept = a.join(
        merged.select("user_id", F.col("sid_a").alias("sid")), ["user_id", "sid"], "left_anti"
    )
    b_kept = b.join(
        merged.select("user_id", F.col("sid_b").alias("sid")), ["user_id", "sid"], "left_anti"
    )
    out = (
        a_kept.drop("sid")
        .unionByName(b_kept.drop("sid"))
        .unionByName(merged.select("user_id", "session_start", "session_end", "n_events"))
    )
    return out.orderBy("user_id", "session_start")


# ---------- q356: right-to-be-forgotten audit (deletion completeness)

# Deletion-request compliance for a materialized aggregate: when user
# set U (user_id % 97 = 0) must be forgotten, the maintained view is
# refreshed by SUBTRACTING U's contributions (the incremental path —
# never a full recompute at 100 TB); this audit proves the subtraction
# is complete by comparing against the ground-truth recompute WITHOUT
# U. The returned frame is the incrementally-forgotten view; the
# oracle is the filtered recompute — hash equality means zero residue
# of the forgotten users in any (day) cell. Exact integer cents; rows
# whose whole cell came from U vanish (n = 0 cells dropped on both
# sides).
_FORGET_ORACLE = """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS cents
FROM events WHERE user_id % 97 <> 0
GROUP BY 1 ORDER BY day
"""


@register("q356_forget_audit", oracle=_FORGET_ORACLE)
def q356(events):
    """Incremental forget (view minus U's contributions) must equal
    the U-free recompute (oracle comment)."""

    def view(df):
        return df.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count("*").alias("n_events"), F.sum(cents("value")).alias("cents")
        )

    full = view(events)
    forget = view(events.where(F.col("user_id") % 97 == 0))
    return (
        full.alias("f")
        .join(forget.alias("u"), "day", "left")
        .select(
            "day",
            (F.col("f.n_events") - F.coalesce(F.col("u.n_events"), F.lit(0)))
            .cast("bigint")
            .alias("n_events"),
            (F.col("f.cents") - F.coalesce(F.col("u.cents"), F.lit(0)))
            .cast("bigint")
            .alias("cents"),
        )
        .where(F.col("n_events") > 0)
        .orderBy("day")
    )


# ---------- q357: tokenizer fertility per language (tokenizer QA)

# Fertility — subword tokens per whitespace word — is the standard
# "how badly does this tokenizer fragment language X" metric (>2 means
# the language pays double the sequence length). Using the q49 token
# family (regex pretokens as the subword proxy), fertility per lang is
# the exact rational sum(re)/sum(ws) in round-half-up micro units off
# one map-side-combinable aggregate.
_FERTILITY_ORACLE = """
WITH t AS (
    SELECT lang,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LENGTH(x) > 0)) AS BIGINT)
               AS ws,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+')) AS BIGINT) AS re
    FROM documents
), agg AS (
    SELECT lang, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(re) AS BIGINT) AS re_tokens
    FROM t GROUP BY lang
)
SELECT lang, ws_tokens, re_tokens,
       CAST((2 * re_tokens * 1000000 + ws_tokens) // (2 * ws_tokens) AS BIGINT)
           AS fertility_micro
FROM agg WHERE ws_tokens > 0 ORDER BY lang
"""


@register("q357_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def q357(documents):
    """Subword-per-word fertility per language (oracle comment)."""
    t = documents.select(
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: F.length(x) > 0))
        .cast("bigint")
        .alias("ws"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+"), 0))
        .cast("bigint")
        .alias("re"),
    )
    agg = t.groupBy("lang").agg(
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("re").cast("bigint").alias("re_tokens"),
    )
    return (
        agg.where(F.col("ws_tokens") > 0)
        .selectExpr(
            "lang",
            "ws_tokens",
            "re_tokens",
            f"CAST({rhu('re_tokens * 1000000', 'ws_tokens')} AS BIGINT)"
            " AS fertility_micro",
        )
        .orderBy("lang")
    )


# ---------- q358: boilerplate-line share (C4-style cleaning signal)

# Lines repeated across many documents of the SAME source are
# boilerplate (headers, nav bars, license blurbs) — the C4/RefinedWeb
# cleaning heuristic. Sentences proxy lines (split on '. '); a line is
# boilerplate when it appears in >= 5 distinct docs of its source.
# Per doc: boilerplate-line share in round-half-up micro units. The
# line table collapses to (source, line-hash) TYPE-frame counts; the
# per-doc share is one join back on the hash — never doc x doc.
_BOILER_ORACLE = """
WITH lines_ AS MATERIALIZED (
    SELECT doc_id, source,
           MD5(TRIM(l)) AS lh
    FROM (
        SELECT doc_id, source, UNNEST(STRING_SPLIT(text, '. ')) AS l
        FROM documents
    ) WHERE LENGTH(TRIM(l)) >= 20
), lc AS MATERIALIZED (
    SELECT source, lh, COUNT(DISTINCT doc_id) AS ndocs
    FROM lines_ GROUP BY source, lh
), flagged AS (
    SELECT l.doc_id,
           COUNT(*) AS n_lines,
           COUNT(*) FILTER (lc.ndocs >= 5) AS n_boiler
    FROM lines_ l JOIN lc ON lc.source = l.source AND lc.lh = l.lh
    GROUP BY l.doc_id
)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       CAST((2 * n_boiler * 1000000 + n_lines) // (2 * n_lines) AS BIGINT)
           AS boiler_share_micro
FROM flagged WHERE n_boiler > 0
ORDER BY doc_id
"""


@register("q358_boilerplate_share", oracle=_BOILER_ORACLE)
def q358(documents):
    """Per-doc share of source-repeated lines (oracle comment). Only
    docs with at least one boilerplate line are emitted — the
    cleaning-queue worklist, not a full-corpus report."""
    lines_ = (
        documents.select(
            "doc_id", "source", F.explode(F.split("text", "\\. ")).alias("l")
        )
        .where(F.length(F.trim("l")) >= 20)
        .select("doc_id", "source", F.md5(F.trim("l")).alias("lh"))
    )
    lc = lines_.groupBy("source", "lh").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    flagged = (
        lines_.join(lc, ["source", "lh"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.count(F.when(F.col("ndocs") >= 5, 1)).alias("n_boiler"),
        )
    )
    return (
        flagged.where(F.col("n_boiler") > 0)
        .selectExpr(
            "doc_id",
            "CAST(n_lines AS BIGINT) AS n_lines",
            "CAST(n_boiler AS BIGINT) AS n_boiler",
            f"CAST({rhu('n_boiler * 1000000', 'n_lines')} AS BIGINT)"
            " AS boiler_share_micro",
        )
        .orderBy("doc_id")
    )


# ---------- q359: multi-model attribution (first / last / linear)

# q211 answers first-touch only; budget meetings want the three
# standard models side by side. Per purchase: the non-purchase
# touchpoints of the SAME user in the preceding 7 days; credit goes
# to the earliest (first), the latest (last), and 1/n each (linear).
# Credits are exact rationals — micro units, with the linear share
# round-half-up per (purchase, channel) contribution so per-channel
# sums stay pure integers. The touch join is an interval join bounded
# by the 7-day window; ties broken by event_id.
_ATTRIB_ORACLE = """
WITH buys AS (
    SELECT event_id AS bid, user_id, ts AS bts FROM events
    WHERE event_type = 'purchase'
), touches AS (
    SELECT b.bid, e.event_type AS channel, e.ts, e.event_id
    FROM buys b JOIN events e
      ON e.user_id = b.user_id AND e.event_type <> 'purchase'
     AND e.ts < b.bts AND e.ts >= b.bts - INTERVAL 7 DAY
), ranked AS (
    SELECT bid, channel,
           ROW_NUMBER() OVER (PARTITION BY bid ORDER BY ts, event_id) AS rf,
           ROW_NUMBER() OVER (PARTITION BY bid ORDER BY ts DESC, event_id DESC) AS rl,
           COUNT(*) OVER (PARTITION BY bid) AS n
    FROM touches
), credits AS (
    SELECT channel,
           CASE WHEN rf = 1 THEN 1000000 ELSE 0 END AS first_c,
           CASE WHEN rl = 1 THEN 1000000 ELSE 0 END AS last_c,
           (2 * 1000000 + n) // (2 * n) AS linear_c
    FROM ranked
)
SELECT channel,
       CAST(SUM(first_c) AS BIGINT) AS first_micro,
       CAST(SUM(last_c) AS BIGINT) AS last_micro,
       CAST(SUM(linear_c) AS BIGINT) AS linear_micro
FROM credits GROUP BY channel ORDER BY channel
"""


@register("q359_attribution_models", oracle=_ATTRIB_ORACLE)
def q359(events):
    """First/last/linear attribution credits per channel (oracle
    comment)."""
    buys = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("bid"), "user_id", F.col("ts").alias("bts")
    )
    touches = buys.join(
        events.alias("e"),
        (F.col("e.user_id") == buys["user_id"])
        & (F.col("e.event_type") != "purchase")
        & (F.col("e.ts") < F.col("bts"))
        & (F.col("e.ts") >= F.col("bts") - F.expr("INTERVAL 7 DAY")),
    ).select(
        "bid", F.col("e.event_type").alias("channel"), F.col("e.ts").alias("ts"),
        F.col("e.event_id").alias("event_id"),
    )
    wfst = Window.partitionBy("bid").orderBy("ts", "event_id")
    wlst = Window.partitionBy("bid").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = touches.select(
        "bid",
        "channel",
        F.row_number().over(wfst).alias("rf"),
        F.row_number().over(wlst).alias("rl"),
        F.count("*").over(Window.partitionBy("bid")).alias("n"),
    )
    credits = ranked.select(
        "channel",
        F.when(F.col("rf") == 1, 1000000).otherwise(0).alias("first_c"),
        F.when(F.col("rl") == 1, 1000000).otherwise(0).alias("last_c"),
        F.expr(rhu("1000000", "n")).alias("linear_c"),
    )
    return (
        credits.groupBy("channel")
        .agg(
            F.sum("first_c").cast("bigint").alias("first_micro"),
            F.sum("last_c").cast("bigint").alias("last_micro"),
            F.sum("linear_c").cast("bigint").alias("linear_micro"),
        )
        .orderBy("channel")
    )


# ---------- q360: SLO burn-rate windows (error budget accounting)

# SRE burn-rate alerting in batch form: per day, the error share in
# micro units, the trailing-7-day share, and a breach flag when the
# short window burns faster than 2x a 1% budget while the long window
# confirms (the classic two-window alert rule, Google SRE workbook).
# Day shares are exact rationals; the trailing share reuses summed
# numerators/denominators, not averages of ratios.
_SLO_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS errs
    FROM events GROUP BY 1
), w AS (
    SELECT day, n, errs,
           CAST(SUM(errs) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS errs7,
           CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n7,
           COUNT(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS cnt7
    FROM daily
)
SELECT day,
       CAST((2 * errs * 1000000 + n) // (2 * n) AS BIGINT) AS day_rate_micro,
       CAST((2 * errs7 * 1000000 + n7) // (2 * n7) AS BIGINT) AS rate7_micro,
       CAST(CASE WHEN errs * 50 > n AND errs7 * 100 > n7 THEN 1 ELSE 0 END AS INT)
           AS breach
FROM w WHERE cnt7 = 7 ORDER BY day
"""


@register("q360_slo_burn_rate", oracle=_SLO_ORACLE)
def q360(events):
    """Two-window error-budget burn-rate table (oracle comment).
    Breach = day rate > 2x the 1% budget AND 7-day rate > 1x."""
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).cast("bigint").alias("errs"),
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    w = daily.select(
        "day",
        "n",
        "errs",
        F.sum("errs").over(w7).cast("bigint").alias("errs7"),
        F.sum("n").over(w7).cast("bigint").alias("n7"),
        F.count("*").over(w7).alias("cnt7"),
    )
    return (
        w.where(F.col("cnt7") == 7)
        .selectExpr(
            "day",
            f"CAST({rhu('errs * 1000000', 'n')} AS BIGINT) AS day_rate_micro",
            f"CAST({rhu('errs7 * 1000000', 'n7')} AS BIGINT) AS rate7_micro",
            "CAST(CASE WHEN errs * 50 > n AND errs7 * 100 > n7 THEN 1 ELSE 0 END"
            " AS INT) AS breach",
        )
        .orderBy("day")
    )


# ---------- q361: Bayesian smoothing of per-item rates (cold start)

# Raw per-item purchase rates are garbage for low-traffic items; the
# standard fix shrinks toward the global rate with a pseudo-count
# prior: smoothed = (k + m*K/N) / (n + m), m = 20. With integer
# counts this is the exact rational (k*N + m*K) / (N*(n + m)) — pure
# round-half-up micro arithmetic, no FP anywhere. Items ranked by the
# SMOOTHED rate (raw-rate ranking would put 1-event items on top).
_BAYES_ORACLE = """
WITH ev AS (
    SELECT CAST(json_extract(props, '$.k') AS INT) AS item,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS buy
    FROM events
), per AS MATERIALIZED (
    SELECT item, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(buy) AS HUGEINT) AS k
    FROM ev GROUP BY item
), tot AS (
    SELECT CAST(SUM(n) AS HUGEINT) AS big_n, CAST(SUM(k) AS HUGEINT) AS big_k FROM per
)
SELECT CAST(item AS INT) AS item,
       CAST(n AS BIGINT) AS n_events, CAST(k AS BIGINT) AS n_buys,
       CAST((2 * (k * big_n + 20 * big_k) * 1000000 + big_n * (n + 20))
            // (2 * big_n * (n + 20)) AS BIGINT) AS smoothed_micro
FROM per, tot
ORDER BY smoothed_micro DESC, item LIMIT 25
"""


@register("q361_bayesian_smoothing", oracle=_BAYES_ORACLE)
def q361(events):
    """Pseudo-count-smoothed per-item purchase rates, top-25 (oracle
    comment)."""
    ev = events.select(
        F.get_json_object("props", "$.k").cast("int").alias("item"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("buy"),
    )
    d38 = "decimal(38,0)"
    per = ev.groupBy("item").agg(
        F.count("*").cast(d38).alias("n"), F.sum("buy").cast(d38).alias("k")
    )
    tot = per.agg(
        F.sum("n").cast(d38).alias("big_n"), F.sum("k").cast(d38).alias("big_k")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(item AS INT) AS item",
            "CAST(n AS BIGINT) AS n_events",
            "CAST(k AS BIGINT) AS n_buys",
            f"CAST({rhu('(k * big_n + 20 * big_k) * 1000000', 'big_n * (n + 20)')}"
            " AS BIGINT) AS smoothed_micro",
        )
        .orderBy(F.col("smoothed_micro").desc(), "item")
        .limit(25)
    )


# ---------- q362: pivot -> unpivot round-trip identity (reshape QA)

# Reshape operators must be lossless inverses: the per-(month, status)
# counts pivoted WIDE (one column per status) and immediately
# unpivoted back LONG must equal the original aggregate — the identity
# every ETL reshape silently assumes. Zero-filled pivot cells are
# dropped on the way back (include_nulls=false + the n > 0 filter) so
# sparse months survive the trip unchanged.
_RESHAPE_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY 1, 2 ORDER BY month, status
"""


@register("q362_reshape_roundtrip", oracle=_RESHAPE_ORACLE)
def q362(orders):
    """pivot -> unpivot == identity on the (month, status) counts
    (oracle comment)."""
    base = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    wide = base.groupBy("month").pivot("status", ["F", "O", "P"]).sum("n")
    back = wide.unpivot(
        ["month"], ["F", "O", "P"], "status", "n"
    ).where(F.col("n").isNotNull())
    return back.select(
        "month", "status", F.col("n").cast("bigint").alias("n")
    ).orderBy("month", "status")


# ---------- q363: pandas UDAF evaluated over a window frame

# The missing cell in the UDF matrix (q57 scalar, q55 pandas scalar,
# q58 grouped-agg, q59 grouped-map, q171 Arrow, q313 mapInArrow): a
# PANDAS AGGREGATE running inside a WINDOW frame — Spark ships each
# trailing 3-row frame to the Python worker as a Series. Integer
# cents keep the custom sum exact, so the builtin-SUM oracle must
# match bit-for-bit; the (ts, event_id) order makes frames unique.
# This lane costs one Python round-trip per frame — the docstring
# point is that it EXISTS, not that it is the fast path (the builtin
# the oracle uses is).
_PUDAF_ORACLE = """
SELECT event_id, user_id,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS trail3_cents
FROM events WHERE user_id % 20 = 0
ORDER BY user_id, event_id
"""


@register("q363_pandas_udaf_window", oracle=_PUDAF_ORACLE)
def q363(events):
    """Custom pandas aggregate over a trailing 3-row window (oracle
    comment)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module-level `from __future__ import
    # annotations` stringifies type hints, which breaks pandas_udf's
    # signature inference
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def psum(v):
        return int(v.sum())

    ev = events.where(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            psum(cents("value")).over(w).alias("trail3_cents"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------- q364: cohort QQ contrast at deciles (distribution shift)

# Where exactly do two cohorts' distributions diverge? Decile-by-
# decile quantity quantiles for finished vs open orders, joined into
# a QQ table with integer differences. The bounded value domain
# (quantities 1..50) means every quantile is a nearest-rank lookup in
# a 50-row VALUE histogram — cumulative counts, never a sort of the
# fact table (the q312 posture). Nearest-rank: smallest v with
# cum >= ceil(q * n), exact integer ceil via (n*d + 9) // 10.
_QQ_ORACLE = """
WITH pts AS (
    SELECT CASE WHEN o_orderstatus = 'F' THEN 'F' ELSE 'OP' END AS cohort,
           CAST(l_quantity AS BIGINT) AS v
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
), h AS (
    SELECT cohort, v, COUNT(*) AS c FROM pts GROUP BY cohort, v
), cum AS (
    SELECT cohort, v, SUM(c) OVER (PARTITION BY cohort ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cc,
           SUM(c) OVER (PARTITION BY cohort) AS n
    FROM h
), dec AS MATERIALIZED (
    SELECT d.d, c.cohort, MIN(c.v) AS qv
    FROM range(1, 10) d(d) JOIN cum c ON c.cc >= (c.n * d.d + 9) // 10
    GROUP BY d.d, c.cohort
)
SELECT CAST(a.d AS INT) AS decile,
       CAST(a.qv AS BIGINT) AS q_finished,
       CAST(b.qv AS BIGINT) AS q_open,
       CAST(a.qv - b.qv AS BIGINT) AS diff
FROM dec a JOIN dec b ON a.d = b.d AND a.cohort = 'F' AND b.cohort = 'OP'
ORDER BY decile
"""


@register("q364_qq_contrast", oracle=_QQ_ORACLE)
def q364(spark, lineitem, orders):
    """Decile QQ table of quantity, finished vs open orders (oracle
    comment)."""
    pts = (
        lineitem
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(F.col("o_orderstatus") == "F", "F").otherwise("OP").alias("cohort"),
            F.col("l_quantity").cast("bigint").alias("v"),
        )
    )
    h = pts.groupBy("cohort", "v").agg(F.count("*").alias("c"))
    wc = Window.partitionBy("cohort").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "cohort",
        "v",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(Window.partitionBy("cohort")).alias("n"),
    )
    grid = spark.range(1, 10).select(F.col("id").alias("d"))
    dec = (
        F.broadcast(grid)
        .join(cum, F.expr("cc >= (n * d + 9) DIV 10"))
        .groupBy("d", "cohort")
        .agg(F.min("v").alias("qv"))
    )
    a = dec.where(F.col("cohort") == "F").select("d", F.col("qv").alias("q_finished"))
    b = dec.where(F.col("cohort") == "OP").select("d", F.col("qv").alias("q_open"))
    return (
        a.join(b, "d")
        .select(
            F.col("d").cast("int").alias("decile"),
            F.col("q_finished").cast("bigint"),
            F.col("q_open").cast("bigint"),
            (F.col("q_finished") - F.col("q_open")).cast("bigint").alias("diff"),
        )
        .orderBy("decile")
    )


# ---------- q365: FIFO inventory aging (unsold lots by age bucket)

# q337 allocated what SOLD; finance also needs what REMAINS and how
# stale it is. Each receipt lot's unsold remainder = qty - its
# overlap with the total sold interval [0, total_sold) — a per-lot
# integer clamp, no join at all (FIFO consumes lots in cumulative
# order, so one broadcast of per-part sold totals suffices). Unsold
# value buckets by lot age (ship-year), exact cents via the q337
# DIV unit cost.
_AGING_ORACLE = """
WITH flows AS MATERIALIZED (
    SELECT l_partkey AS part,
           l_linenumber % 2 = 0 AS is_receipt,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           l_shipdate, l_orderkey, l_linenumber
    FROM lineitem WHERE l_partkey % 25 = 0
), sold AS (
    SELECT part, CAST(SUM(qty) AS BIGINT) AS total_sold
    FROM flows WHERE NOT is_receipt GROUP BY part
), lots AS (
    SELECT part, qty, cents, l_shipdate,
           SUM(qty) OVER (PARTITION BY part
                          ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, cents
                          ROWS UNBOUNDED PRECEDING) AS hi
    FROM flows WHERE is_receipt
), rem AS (
    SELECT l.part, l.l_shipdate, l.cents, l.qty,
           l.qty - GREATEST(0, LEAST(l.hi, COALESCE(s.total_sold, 0))
                               - (l.hi - l.qty)) AS unsold
    FROM lots l LEFT JOIN sold s ON s.part = l.part
)
SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS lot_year,
       CAST(SUM(unsold) AS BIGINT) AS unsold_qty,
       CAST(SUM(unsold * (cents // qty)) AS BIGINT) AS unsold_value_cents
FROM rem WHERE unsold > 0
GROUP BY 1 ORDER BY lot_year
"""


@register("q365_inventory_aging", oracle=_AGING_ORACLE)
def q365(lineitem):
    """Unsold FIFO remainder per lot year (oracle comment)."""
    flows = lineitem.where(F.col("l_partkey") % 25 == 0).select(
        F.col("l_partkey").alias("part"),
        (F.col("l_linenumber") % 2 == 0).alias("is_receipt"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        cents("l_extendedprice").alias("cents"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    sold = (
        flows.where(~F.col("is_receipt"))
        .groupBy("part")
        .agg(F.sum("qty").cast("bigint").alias("total_sold"))
    )
    w = (
        Window.partitionBy("part")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "qty", "cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lots = flows.where(F.col("is_receipt")).select(
        "part", "qty", "cents", "l_shipdate", F.sum("qty").over(w).alias("hi")
    )
    rem = lots.join(sold, "part", "left").select(
        "l_shipdate",
        "cents",
        "qty",
        (
            F.col("qty")
            - F.greatest(
                F.lit(0),
                F.least(F.col("hi"), F.coalesce("total_sold", F.lit(0)))
                - (F.col("hi") - F.col("qty")),
            )
        ).alias("unsold"),
    )
    return (
        rem.where(F.col("unsold") > 0)
        .groupBy(F.year("l_shipdate").cast("int").alias("lot_year"))
        .agg(
            F.sum("unsold").cast("bigint").alias("unsold_qty"),
            F.sum(F.col("unsold") * F.expr("cents DIV qty"))
            .cast("bigint")
            .alias("unsold_value_cents"),
        )
        .orderBy("lot_year")
    )


# ---------- q366: top movers (week-over-week rank deltas)

# The dashboard "movers & shakers" table: items ranked by purchase
# count in two adjacent ISO weeks, joined on item, sorted by absolute
# rank change. Ranks use the unique (count DESC, item) order; items
# present in only one week are excluded (no rank to diff — stated).
# Both weekly rank windows run over the |items| TYPE frame.
_MOVERS_ORACLE = """
WITH wk AS (
    SELECT CAST(json_extract(props, '$.k') AS INT) AS item,
           (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS week,
           COUNT(*) AS c
    FROM events WHERE event_type = 'purchase'
      AND (CAST(ts AS DATE) - DATE '1970-01-01') // 7 IN (2818, 2819)
    GROUP BY 1, 2
), r AS MATERIALIZED (
    SELECT item, week, c,
           ROW_NUMBER() OVER (PARTITION BY week ORDER BY c DESC, item) AS rnk
    FROM wk
)
SELECT a.item, CAST(a.rnk AS BIGINT) AS rank_w1, CAST(b.rnk AS BIGINT) AS rank_w2,
       CAST(a.rnk - b.rnk AS BIGINT) AS moved_up
FROM r a JOIN r b ON a.item = b.item AND a.week = 2818 AND b.week = 2819
ORDER BY ABS(a.rnk - b.rnk) DESC, a.item LIMIT 15
"""


@register("q366_top_movers", oracle=_MOVERS_ORACLE)
def q366(events):
    """Largest WoW rank changes among purchased items (oracle
    comment)."""
    # engine-neutral week index: days-since-epoch DIV 7 (Spark 3+
    # rejects the 'ww' pattern and ISO week origins differ anyway)
    week = F.expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') AS BIGINT) DIV 7")
    wk = (
        events.where((F.col("event_type") == "purchase") & week.isin(2818, 2819))
        .groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("item"),
            week.alias("week"),
        )
        .agg(F.count("*").alias("c"))
    )
    r = wk.select(
        "item",
        "week",
        F.row_number()
        .over(Window.partitionBy("week").orderBy(F.col("c").desc(), "item"))
        .alias("rnk"),
    )
    a = r.where(F.col("week") == 2818).select("item", F.col("rnk").alias("rank_w1"))
    b = r.where(F.col("week") == 2819).select("item", F.col("rnk").alias("rank_w2"))
    return (
        a.join(b, "item")
        .select(
            "item",
            F.col("rank_w1").cast("bigint"),
            F.col("rank_w2").cast("bigint"),
            (F.col("rank_w1") - F.col("rank_w2")).cast("bigint").alias("moved_up"),
        )
        .orderBy(F.abs(F.col("rank_w1") - F.col("rank_w2")).desc(), "item")
        .limit(15)
    )

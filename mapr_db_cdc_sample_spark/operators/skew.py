"""Skew handling: salted two-stage aggregation and salted joins.

AQE's skew-join splitting (on by default, session.py) covers sort-merge
join skew at runtime; salting is the explicit fallback for aggregations
and for broadcast-ineligible joins against a pathologically hot key. The
two-stage shape: append a random-ish salt to the hot key, partial-agg on
(key, salt) — spreading one key over N reducers — then final-agg on key.

Results are EXACTLY equal to the unsalted plan for decomposable
aggregates (sum/count/min/max); the salt never leaks into output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Conf overrides that make AQE's OptimizeSkewedJoin observable at test
#: scale. The defaults (256 MB skew threshold) are sized for production
#: shuffles; the testdata's hot partition is hundreds of KB, so the
#: thresholds scale down while keeping every RATIO semantically honest
#: (a partition is skewed when it exceeds factor x median AND the byte
#: floor). Broadcast is disabled so the join actually shuffles — skew
#: splitting only exists for shuffle joins — and SMJ is pinned for a
#: stable plan shape to assert on.
AQE_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    # the hot partition holds 80% of events as (long, double) rows: ~8k
    # rows at sf0.01 cross this floor; ~800 at sf0.001 cross it only when
    # spread over >=16 mappers (its shuffled bytes grow with the mapper
    # count). Splits are bounded by mapper count, so a small advisory
    # size cannot fragment pathologically
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
    # the post-join aggregation needs the join output repartitioned anyway;
    # force tells AQE the extra exchange is acceptable (it is: the
    # alternative is one straggler task processing 80% of the data)
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.join.preferSortMergeJoin": "true",
}


def skewed_segment_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """The q136 join shape: 80% of events forced onto ONE customer key
    (join_key=1), inner-joined to customer, rolled up per market segment.
    Without AQE skew splitting, one reducer sorts/joins 80% of the fact
    table; with it, the hot partition splits into advisory-sized pieces
    that each join against a replicated copy of the matching build rows.
    Exact-decimal sum keeps the result hash-stable for the oracle."""
    # AQE splits a skewed reduce partition along MAPPER boundaries, and the
    # single-row-group testdata parquet yields exactly one map task — zero
    # boundaries to split on. Spread the scan first (a real cluster has
    # thousands of mappers; this reproduces that precondition locally).
    spread = events.repartition(events.sparkSession.sparkContext.defaultParallelism)
    keyed = spread.select(
        F.when(F.col("event_id") % 10 < 8, F.lit(1))
        .otherwise(F.col("user_id") % 100 + 1)
        .cast("bigint")
        .alias("join_key"),
        "value",
    )
    return (
        keyed.join(customer, keyed["join_key"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


def salted_count_sum(
    df: DataFrame,
    key: str | Column,
    value: str | Column,
    n_salts: int = 16,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-stage salted aggregation: count(*) and exact decimal sum of
    `value` per `key`, with the first stage spread over `n_salts`
    sub-keys. `salt_source` must be a column that varies WITHIN a key
    (e.g. a row id) so the salt actually spreads; a random salt would
    break deterministic testing."""
    key_col = F.col(key) if isinstance(key, str) else key
    val_col = F.col(value) if isinstance(value, str) else value
    salt_col = (
        F.col(salt_source) if isinstance(salt_source, str) else salt_source
    )
    salt = (salt_col % n_salts).alias("_salt")

    partial = (
        df.select(key_col.alias("_key"), val_col.alias("_val"), salt)
        .groupBy("_key", "_salt")
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col("_val").cast("decimal(18,2)")).alias("_s"),
        )
    )
    return (
        partial.groupBy("_key")
        .agg(F.sum("_n").alias("n"), F.sum("_s").cast("double").alias("total"))
        .withColumnRenamed("_key", "key")
    )

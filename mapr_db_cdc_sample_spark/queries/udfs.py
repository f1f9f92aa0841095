"""UDF / UDAF / UDTF surface (SURVEY.md §2.2 'UDF surface' table):
row-at-a-time Python UDF, Arrow pandas_udf (scalar — see q55), grouped-agg
UDAF, grouped-map applyInPandas, and approximate aggregates.

Python rows are the SLOW path by design — each query here exists to prove
the path works and stays oracle-consistent, not to be the recommended
form (the JVM-expression twin of each lives elsewhere in the registry).
Where the Python computation is integer- or md5-exact, the query is still
hash-checked against DuckDB.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf

from . import register


@register(
    "q57_udf_scalar",
    oracle="""
    SELECT o_orderkey,
           ('0x' || SUBSTR(MD5(o_orderstatus || ':' || o_orderkey), 1, 7))::BIGINT AS route_hash
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def q57(orders):
    """Row-at-a-time Python UDF (md5-exact, so hash-checkable). Kept on a
    1% slice — this eval mode serializes row by row and is the documented
    slow path vs pandas_udf."""

    @udf("long")
    def route_hash(status: str, key: int) -> int:
        digest = hashlib.md5(f"{status}:{key}".encode()).hexdigest()
        return int(digest[:7], 16)

    return orders.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", route_hash("o_orderstatus", "o_orderkey").alias("route_hash")
    )


@register(
    "q58_grouped_agg_udaf",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
)
def q58(events):
    """Grouped-agg pandas UDAF. The aggregate is integer-exact (cents),
    so the Arrow path hash-matches SQL on both engines."""

    @pandas_udf("long")
    def sum_cents(v: pd.Series) -> int:
        return int(v.mul(100).round().astype("int64").sum())

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # Spark disallows mixing grouped-agg pandas UDFs with JVM
        # aggregates in one agg() — the count is a second UDAF.
        return int(len(v))

    return events.groupBy("user_id").agg(
        sum_cents("value").alias("sum_cents"), n_rows("value").alias("n")
    )


@register(
    "q59_grouped_map",
    oracle="""
    SELECT event_id, user_id,
           value - MIN(value) OVER (PARTITION BY user_id) AS v_rel,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
    FROM events
    """,
)
def q59(events):
    """Grouped-map applyInPandas (UDTF-style): per-user normalization
    against the group min (exact double subtraction) + sequence numbers.
    Oracle = the window-function twin."""

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "v_rel": pdf["value"] - pdf["value"].min(),
                "seq": range(1, len(pdf) + 1),
            }
        )

    # project BEFORE the grouped map (guide §4.1): applyInPandas ships
    # every input column through Arrow, and the unused props JSON string
    # is by far the widest column in events
    return (
        events.select("event_id", "user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            per_user, "event_id bigint, user_id bigint, v_rel double, seq bigint"
        )
    )


@register("q67_approx_aggs", tags=("approx",))
def q67(lineitem):
    """approx_count_distinct (HLL++) + approx_percentile — bounded-error
    sketches (rows-only; the error bound vs exact is asserted in tests)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("apx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("apx_median_price"),
        F.count("*").alias("n"),
    )


@register(
    "q74_salted_agg",
    oracle="""
    SELECT CAST(CASE WHEN event_id % 10 < 8 THEN 0 ELSE user_id END AS BIGINT) AS key,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1
    """,
)
def q74(events):
    """Skew-safe aggregation: 80% of rows land on one hot key; the salted
    two-stage plan (operators/skew.py) spreads it across 16 sub-keys and
    still hash-matches the plain GROUP BY oracle."""
    from ..operators.skew import salted_count_sum

    skewed = events.withColumn(
        "hot_key",
        F.when(F.col("event_id") % 10 < 8, F.lit(0)).otherwise(F.col("user_id")),
    )
    return salted_count_sum(skewed, "hot_key", "value", n_salts=16, salt_source="event_id")


@register("q123_hll_sketch_union", tags=("approx",))
def q123(events):
    """Mergeable HLL sketches (DataSketches hll_sketch_agg): per-type
    user sketches built in one pass, then UNIONED into a global estimate
    — the sketch twin of q117's partial-agg identity, and the reason
    approx-distinct scales: per-partition sketch state is O(k), merge is
    associative, and a 100 TB refresh unions yesterday's stored sketches
    with today's delta instead of rescanning. Rows-only (sketches have
    no SQL oracle); the error bound vs exact is asserted in tests."""
    # persisted: both output branches (per-type rows AND the union-merge)
    # consume this aggregation; uncached, the events scan + sketch build
    # would execute twice. The cached relation is k rows of sketch state.
    per_type = (
        events.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .persist()
    )
    per_type_out = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("long").alias("est_users"),
        "exact_users",
    )
    merged = per_type.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("sk").cast("long").alias("est_users"),
        F.lit(None).cast("long").alias("exact_users"),
    )
    return per_type_out.unionByName(merged)


@register(
    "q126_python_udtf",
    oracle=None,  # set below: reuses q115's chunking oracle
)
def q126(spark):
    """Python user-defined TABLE function (Spark 4 @udtf) invoked via
    LATERAL — the arbitrary-fanout row producer the UDF surface was
    missing. Semantics are deliberately q115's chunking contract
    (64-token windows, stride 48) so the SAME DuckDB oracle hash-checks
    this path: the UDTF yields (chunk_idx, n_tokens, chunk_md5) per doc,
    md5-exact across engines. Row-at-a-time Python is the documented
    slow path (q115 is the JVM-expression twin); the surface, the
    LATERAL plan shape, and the exact-result contract are what this
    proves."""
    import hashlib as _h

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int, chunk_md5 string")
    class ChunkSpans:
        def eval(self, text: str):
            toks = [t for t in (text or "").lower().split(" ") if t]
            idx, start = 0, 0
            while start < len(toks):
                chunk = toks[start : start + 64]
                yield idx, len(chunk), _h.md5(" ".join(chunk).encode()).hexdigest()
                idx += 1
                start += 48

    spark.udtf.register("chunk_spans", ChunkSpans)
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.chunk_md5 "
        "FROM documents d, LATERAL chunk_spans(d.text) c"
    )


# reuse q115's oracle: identical contract, different execution mechanism
from .corpus import _CHUNK_ORACLE as _Q126_ORACLE  # noqa: E402
from . import REGISTRY as _REG  # noqa: E402

_REG["q126_python_udtf"].oracle = _Q126_ORACLE


# COALESCE matches the UDTF's `(text or '')` guard: both sides count
# zeros on NULL text rather than propagating NULL (the synthetic corpus
# has no NULL text today, but the twins must agree if it ever does).
_UDTF_ANALYZE_ORACLE = """
SELECT doc_id,
       CAST(LEN(LOWER(COALESCE(text, ''))) - LEN(REPLACE(LOWER(COALESCE(text, '')), 'a', '')) AS BIGINT) AS n_a,
       CAST(LEN(LOWER(COALESCE(text, ''))) - LEN(REPLACE(LOWER(COALESCE(text, '')), 'e', '')) AS BIGINT) AS n_e,
       CAST(LEN(LOWER(COALESCE(text, ''))) - LEN(REPLACE(LOWER(COALESCE(text, '')), 'z', '')) AS BIGINT) AS n_z
FROM documents ORDER BY doc_id
"""


@register("q285_udtf_analyze", oracle=_UDTF_ANALYZE_ORACLE)
def q285(spark):
    """POLYMORPHIC Python UDTF (Spark 4 `analyze()`): the output schema
    is computed at plan time from the literal letter-list argument —
    one column per requested letter — the dynamic-schema rung above
    q126's static UDTF. The letter list rides a constant, so Catalyst
    sees a fixed schema downstream; per-row work is a plain generator
    in executor Python workers."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class LetterCounts:
        @staticmethod
        def analyze(text: AnalyzeArgument, letters: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for ch in letters.value.split(","):
                schema = schema.add(f"n_{ch}", LongType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, letters):
            ls = letters.split(",")
            t = (text or "").lower()
            yield tuple(t.count(ch) for ch in ls)

    spark.udtf.register("letter_counts", LetterCounts)
    return spark.sql(
        "SELECT d.doc_id, c.* FROM documents d, "
        "LATERAL letter_counts(d.text, 'a,e,z') c ORDER BY d.doc_id"
    )

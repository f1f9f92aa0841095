"""Event-time windowed aggregations with watermarks (SURVEY.md §2.2
streaming table). The reference has no time windows (its only time notion
is poll(500)); these are the north-star extensions, bounded-state from
day one: every aggregation carries a watermark so state is GC'd.

All functions take a STREAMING DataFrame of `events` shape
(ts timestamp, user_id, event_type, value) and return the aggregated
streaming DataFrame — sinks/triggers are the caller's choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import cents


def tumbling_counts(
    events: DataFrame, width: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling window: per-window, per-event-type counts + exact sum
    (decimal) of value."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding window: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n")
    )


def session_counts(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session window per user: sessions close after `gap` of inactivity.
    The only unbounded-ish state here is open sessions; the watermark
    bounds it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id: duplicates within the watermark
    horizon are dropped; state is GC'd past it (north-star dedup in its
    streaming form). dropDuplicatesWithinWatermark, NOT dropDuplicates:
    with a plain key-subset dropDuplicates the watermark never evicts
    dedup state (the event-time column isn't in the key) and the store
    grows with the stream — unbounded on a real changelog. The trade is
    explicit: a duplicate arriving later than the watermark delay is
    re-emitted, same contract as any watermarked op's late-data drop."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer dim
    (the static side is re-read per micro-batch; broadcast keeps it
    shuffle-free)."""
    return events.join(
        F.broadcast(customer),
        events["user_id"] == customer["c_custkey"],
        "left",
    ).select("event_id", "ts", "user_id", "event_type", "value", "c_name", "c_mktsegment")


def stream_stream_click_purchase(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join with watermarks on BOTH sides + a time-band
    condition: purchases matched to clicks by the same user within the
    preceding hour. Both watermarks bound the join state (Spark buffers
    each side only up to watermark + band)."""
    c = clicks.withWatermark("ts", "30 minutes").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", "30 minutes").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    return c.join(p, cond).select(
        "purchase_id", "click_id", "p_user", "click_ts", "purchase_ts", "value"
    )


def stream_stream_click_purchase_outer(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics the inner form can't
    give: every click emits, matched or not. Outer emission is
    watermark-driven: a click's null-extended row can only be produced
    once BOTH watermarks pass the end of its join window (before that, a
    matching purchase could still arrive), so unmatched rows appear late
    by construction — with availableNow replay the final drain emits
    them. State stays bounded exactly as in the inner join: each side
    buffers watermark + band."""
    c = clicks.withWatermark("ts", "30 minutes").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", "30 minutes").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    return c.join(p, cond, "left_outer").select(
        "click_id", "c_user", "click_ts", "purchase_id", "purchase_ts", "value"
    )


def tumbling_type_counts(events: DataFrame) -> DataFrame:
    """Per-(6h tumbling window, event_type) counts for complete-mode
    trending: tiny state (|windows| x |types| rows), no watermark needed
    because complete mode re-emits the whole aggregate each trigger."""
    return (
        events.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
        )
    )


def tumbling_ohlc(
    events: DataFrame, width: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """Streaming OHLC bars (q230's batch semantics as a windowed
    aggregation): open/close come from min/max over a (ts, event_id,
    cents) struct — associative, mergeable aggregates that stream
    incrementally, unlike the batch twin's row_number windows. State is
    one struct pair per window; the watermark evicts it only in
    append/update output modes — q243 drains in COMPLETE mode, where
    watermarks never evict and state grows with the number of windows
    (fine for its bounded test horizon; long-running deployments should
    drain in update mode for incremental emission with GC)."""
    keyed = events.withColumn("cents", cents("value"))
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(
            F.min(F.struct("ts", "event_id", "cents")).alias("first"),
            F.max(F.struct("ts", "event_id", "cents")).alias("last"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            F.col("first.cents").cast("bigint").alias("open_cents"),
            F.col("high_cents").cast("bigint"),
            F.col("low_cents").cast("bigint"),
            F.col("last.cents").cast("bigint").alias("close_cents"),
            F.col("n_events").cast("bigint"),
        )
    )

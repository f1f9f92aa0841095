"""Streaming operators exposed as driver-checkable queries (rows-only:
genuinely non-SQL-expressible per-trigger semantics). Each entry builds a
bounded replay stream from the testdata, drains it with an availableNow
trigger (the CDC lanes into their file sinks, the rest into a memory
sink), and returns the result as a batch DataFrame.

These are the SURVEY.md §2.2 streaming rows: the CDC pipeline end-to-end,
tumbling/sliding/session windows, watermarked dedup, stream-static join,
and applyInPandasWithState document materialization.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from ..cdc.fixtures import synth_cdc_from_events
from ..cdc.schema import CDC_JSON_SCHEMA, WIRE_SCHEMA
from ..scratch import scratch_dir
from ..session import scoped_confs
from ..sources.replay import read_replay, run_to_memory, write_replay
from . import register


def _drain(stream_df, prefix: str, output_mode: str = "append"):
    """Run the bounded stream to a memory table. Stateful micro-batches
    pay per-partition state-store overhead, so the smoke drain runs with
    few shuffle partitions (restored afterwards) — on a real cluster this
    is sized to the state volume instead."""
    spark = stream_df.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
        run_to_memory(stream_df, name, output_mode=output_mode)
    return spark.table(name)


#: Rows-only smoke checks exercise semantics, not scale — bound the
#: streamed slice so each streaming query stays fast at any sf. Every
#: query below carries its actual streamed row count as an n_input_rows
#: column so the rows-only correctness check records the coverage (no
#: silent truncation).
_MAX_STREAM_EVENTS = 4000


def _with_input_count(out, n: int):
    """Stamp the streamed-slice size on every output row."""
    return out.withColumn("n_input_rows", F.lit(n).cast("long"))


def _bounded_events(events):
    ev = events.orderBy("event_id").limit(_MAX_STREAM_EVENTS)
    return ev, ev.count()


def _events_stream(spark, events, chunks: int = 3):
    ev, n = _bounded_events(events)
    path = write_replay(ev, n_chunks=chunks, order_by="ts")
    return read_replay(spark, path, ev.schema, files_per_trigger=1), n


@register("q60_stream_cdc_route")
def q60(spark, events):
    """R1-R15 as one streaming query: synth changelog replay → foreachBatch
    route → dual parquet sinks (fts/geo wire messages), read back unioned.
    Exactly-once via checkpoint (vs the reference's auto-commit)."""
    from ..streaming.cdc_stream import start_json_pipeline

    ev, _ = _bounded_events(events)
    cdc = synth_cdc_from_events(ev)
    n = cdc.count()
    base = scratch_dir()
    replay = write_replay(cdc, n_chunks=4, order_by="ts")
    stream = read_replay(spark, replay, CDC_JSON_SCHEMA, files_per_trigger=2)
    fts_dir, geo_dir = f"{base}/fts", f"{base}/geo"
    q = start_json_pipeline(stream, fts_dir, geo_dir)
    q.awaitTermination()
    read = spark.read.schema(WIRE_SCHEMA).parquet
    return _with_input_count(read(fts_dir).unionAll(read(geo_dir)), n)


@register("q61_tumbling_window")
def q61(spark, events):
    from ..streaming.windows import tumbling_counts

    stream, n = _events_stream(spark, events)
    return _with_input_count(_drain(tumbling_counts(stream), "q61"), n)


@register("q62_sliding_window")
def q62(spark, events):
    from ..streaming.windows import sliding_counts

    stream, n = _events_stream(spark, events)
    return _with_input_count(_drain(sliding_counts(stream), "q62"), n)


@register("q63_session_window")
def q63(spark, events):
    from ..streaming.windows import session_counts

    stream, n = _events_stream(spark, events)
    return _with_input_count(_drain(session_counts(stream), "q63"), n)


@register("q64_stream_dedup")
def q64(spark, events):
    """Watermarked streaming dedup over a stream with every event doubled."""
    from ..streaming.windows import stream_dedup

    ev, n = _bounded_events(events)
    dup = ev.unionAll(ev)
    path = write_replay(dup, n_chunks=2, order_by="ts")
    stream = read_replay(spark, path, ev.schema, files_per_trigger=2)
    return _with_input_count(_drain(stream_dedup(stream), "q64"), 2 * n)


@register("q65_stream_static_join")
def q65(spark, customer, events):
    from ..streaming.windows import stream_static_enrich

    stream, n = _events_stream(spark, events)
    return _with_input_count(_drain(stream_static_enrich(stream, customer), "q65"), n)


@register("q66_materialize_state")
def q66(spark, events):
    """Stateful CDC materialization: running current-state view of the
    synth-changelog'd document table (applyInPandasWithState)."""
    from ..streaming.stateful import materialize

    ev, _ = _bounded_events(events)
    cdc = synth_cdc_from_events(ev)
    n = cdc.count()
    path = write_replay(cdc, n_chunks=2, order_by="ts")
    stream = read_replay(spark, path, CDC_JSON_SCHEMA, files_per_trigger=1)
    out = _drain(materialize(stream), "q66", output_mode="update")
    # update-mode memory sink keeps every emit; reduce to the final state
    # per document (max n_changes) for a stable, rows-only-checkable shape
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy(F.col("n_changes").desc())
    final = out.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    return _with_input_count(final, n)


@register("q68_stream_stream_join")
def q68(spark, events):
    """Stream-stream watermarked band join: clicks x purchases from two
    replay streams of the same events table."""
    from ..streaming.windows import stream_stream_click_purchase

    ev, _ = _bounded_events(events)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    n = clicks.count() + purchases.count()
    # one chunk per side: the inner join emits matches within the batch,
    # so a single micro-batch exercises the same semantics at a fraction
    # of the per-batch state-store cost
    cs = read_replay(
        spark, write_replay(clicks, 1, order_by="ts"), ev.schema, files_per_trigger=1
    )
    ps = read_replay(
        spark, write_replay(purchases, 1, order_by="ts"), ev.schema, files_per_trigger=1
    )
    return _with_input_count(_drain(stream_stream_click_purchase(cs, ps), "q68"), n)


@register("q69_complete_mode")
def q69(spark, events):
    """Complete output mode: full aggregate table re-emitted per trigger;
    the memory table holds the final complete result."""
    from ..streaming.windows import tumbling_counts

    stream, n = _events_stream(spark, events)
    return _with_input_count(
        _drain(tumbling_counts(stream, watermark="1 minute"), "q69", output_mode="complete"),
        n,
    )


@register("q70_stream_cdc_binary")
def q70(spark):
    """Binary-lane CDC streaming: the wide-column golden corpus replayed
    through route_binary (RECORD_UPDATE-as-insert, UTF-8 cell decode,
    FTS-only routing) into the same pipeline as q60, with one FTS sink,
    read back."""
    from ..cdc.fixtures import golden_binary_events
    from ..cdc.pipeline import FTS_TOPIC, fts_wire, route_binary
    from ..cdc.schema import CDC_BINARY_SCHEMA
    from ..streaming.cdc_stream import start_pipeline

    cdc = golden_binary_events(spark)
    n = cdc.count()
    path = write_replay(cdc.coalesce(1), n_chunks=1)
    stream = read_replay(spark, path, CDC_BINARY_SCHEMA)
    fts_dir = f"{scratch_dir()}/fts"
    start_pipeline(fts_wire(route_binary(stream)), {FTS_TOPIC: fts_dir}).awaitTermination()
    return _with_input_count(spark.read.schema(WIRE_SCHEMA).parquet(fts_dir), n)


@register("q102_stream_quality_gate")
def q102(spark, documents):
    """Streaming corpus ingestion with a quality gate: the documents
    table replayed as a file stream, filtered by the SAME stateless
    quality expressions as the batch composite (llm.quality_gated — a
    pure projection/filter, so it applies to a streaming frame
    unchanged), then a complete-mode per-language budget (docs, tokens).
    This is how a 100 TB corpus actually arrives — as a stream of crawl
    shards — with the gate fused into ingestion and only the tiny
    per-lang aggregate carrying state."""
    from .llm import quality_gated

    d = (
        documents
        .orderBy("doc_id")
        .limit(_MAX_STREAM_EVENTS)
    )
    n = d.count()
    path = write_replay(d, n_chunks=3, order_by="doc_id")
    stream = read_replay(spark, path, d.schema, files_per_trigger=1)
    budget = (
        quality_gated(stream)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )
    return _with_input_count(_drain(budget, "q102", "complete"), n)


@register("q151_stream_stream_outer")
def q151(spark, events):
    """Stream-stream LEFT OUTER band join (the missing cell of the
    streaming-join matrix: q65 stream-static, q68 stream-stream inner).
    Unmatched clicks emit once both watermarks pass their join window —
    so the stream is replayed in time-ordered chunks (watermark advances
    per chunk) and the availableNow drain emits every unmatched click
    whose window closed before the final watermark. Rows-only by nature;
    the matched-rows == batch-inner-join equivalence and the
    unmatched ⊆ batch-unmatched containment are asserted in
    tests/test_streaming.py."""
    from ..streaming.windows import stream_stream_click_purchase_outer

    ev, _ = _bounded_events(events)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    n = clicks.count() + purchases.count()
    cs = read_replay(
        spark, write_replay(clicks, 3, order_by="ts"), ev.schema, files_per_trigger=1
    )
    ps = read_replay(
        spark, write_replay(purchases, 3, order_by="ts"), ev.schema, files_per_trigger=1
    )
    return _with_input_count(
        _drain(stream_stream_click_purchase_outer(cs, ps), "q151"), n
    )


@register("q173_stream_trending")
def q173(spark, events):
    """Streaming trending top-k: tumbling 6h windows of per-type counts in
    COMPLETE output mode, ranked per window after the drain. Complete
    mode is the only mode where a downstream rank over the in-progress
    aggregate is well-defined (append would rank partial windows); on a
    cluster this materializes the small windowed aggregate per trigger —
    state is |windows x types|, never events. Equivalence to the batch
    twin (groupBy window+type -> rank) is asserted in
    tests/test_streaming.py."""
    from pyspark.sql import Window as W

    from ..streaming.windows import tumbling_type_counts

    stream, n = _events_stream(spark, events)
    counts = _drain(tumbling_type_counts(stream), "q173", "complete")
    rank_w = W.partitionBy("win_start").orderBy(F.desc("n"), "event_type")
    top = (
        counts.withColumn("rnk", F.row_number().over(rank_w))
        .where(F.col("rnk") <= 3)
        .orderBy("win_start", "rnk")
    )
    return _with_input_count(top, n)


@register("q243_stream_ohlc")
def q243(spark, events):
    """Streaming daily OHLC bars: q230's open/high/low/close as a
    watermarked tumbling-window aggregation in COMPLETE mode. Open and
    close are min/max over a (ts, event_id, cents) struct — associative
    and mergeable, so the bar updates incrementally per trigger with
    one small state struct per window (the batch twin's row_number
    formulation cannot stream). Equivalence to q230's batch semantics
    on the same slice is asserted in tests/test_streaming.py."""
    from ..streaming.windows import tumbling_ohlc

    stream, n = _events_stream(spark, events)
    bars = _drain(tumbling_ohlc(stream), "q243", "complete").orderBy("day")
    return _with_input_count(bars, n)



@register("q284_stream_running_totals")
def q284(spark, events):
    """Per-user running totals through the arbitrary-state streaming
    rung (streaming/stateful.py:running_totals, applyInPandasWithState):
    every micro-batch emits each touched user's post-batch totals, so the
    final row per user equals the batch aggregate (the stream==batch law
    is asserted in tests/test_streaming.py)."""
    from pyspark.sql import Window

    from ..streaming.stateful import running_totals

    stream, n = _events_stream(spark, events, chunks=3)
    out = _drain(running_totals(stream), "q284", output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "spend_cents")
        .orderBy("user_id")
    )
    return _with_input_count(final, n)

"""The reference's whole program as ONE Structured Streaming query
(SURVEY.md §3.4): changelog stream → route → dual sink via foreachBatch,
resumable through a checkpoint kept beside the FTS sink.

The route is `route_json_wire`, the JSON lane as one projection from
changelog records to (topic, key, value) rows, and it is applied to the
streaming DataFrame once per query: Spark plans it with the query and
runs it incrementally on each micro-batch. `foreachBatch` only splits the
routed rows by topic and appends each topic to its sink. Building the
route inside `foreachBatch` would re-run its Python DataFrame
construction (thousands of py4j calls for the higher-order functions) on
every micro-batch, before either sink job could start. Per-record
fan-out stays ≤2 messages, and the rows equal the batch API's
fts_wire(route_json) ∪ geo_wire(route_json).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cdc.pipeline import FTS_TOPIC, GEO_TOPIC, route_json_wire
# unused here; kept as module attributes because perfbench's WRAPPED resolves them from this module
from ..cdc.pipeline import fts_wire, geo_wire, route_json  # noqa: F401


def start_json_pipeline(
    cdc_stream: DataFrame,
    fts_dir: str,
    geo_dir: str,
    trigger: dict | None = None,
):
    """Run the JSON-lane CDC pipeline: stream in, two parquet message
    sinks out (stand-ins for the fts_service / geo_service topics).

    The route is built once, here, on the stream (`route_json_wire`); the
    per-micro-batch body only filters the routed batch by topic and
    appends each part to its sink.

    Delivery semantics: the streaming checkpoint lives at
    `<fts_dir>/_checkpoint` — derived from the sink, as Spark's own
    `_spark_metadata` is, and skipped by Spark and pyarrow readers of the
    sink because of its `_` prefix. A restart over the same sinks
    therefore resumes after the last committed micro-batch instead of
    re-emitting the changelog — an upgrade over the reference's
    enable.auto.commit=true (J:48, which can lose records). The dual
    parquet appends are still NOT jointly atomic: if the fts write lands
    and the geo write fails inside one micro-batch, the retried batch
    re-appends to fts (duplicates). True dual-sink exactly-once needs a
    batch-id commit marker both readers honor (an open ROADMAP item).
    The two sink writes are submitted CONCURRENTLY (they share no
    shuffle, and Spark's scheduler overlaps independent jobs):
    sequential writes put two full job latencies on the micro-batch
    critical path and blew the ≤ ~800 ms budget (measured 942 ms median
    steady-state; concurrent writes hold it — LATENCY.json).
    Micro-batches are poll-sized, so each sink job recomputing the route
    over the batch is cheaper than a persist barrier — safe ONLY because
    the replay source is deterministic; a nondeterministic transform would
    need the persist() barrier back to keep the two sinks consistent."""
    sinks = ((FTS_TOPIC, fts_dir), (GEO_TOPIC, geo_dir))

    def process(batch: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            jobs = [
                pool.submit(batch.where(F.col("topic") == topic).write.mode("append").parquet, d)
                for topic, d in sinks
            ]
            for j in jobs:
                j.result()

    writer = (
        route_json_wire(cdc_stream)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(fts_dir, "_checkpoint"))
        .outputMode("update")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()

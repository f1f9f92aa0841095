"""The reference's whole program as ONE Structured Streaming query
(SURVEY.md §3.4): changelog stream → route (shared batch transform) →
dual sink via foreachBatch, resumable through a checkpoint kept beside
the FTS sink.

The transformation is the same route_json used in batch — written once
against DataFrames, wrapped here (the foreachBatch body IS the batch
pipeline). Per-record fan-out stays ≤2 messages; the delete
short-circuit (no flatten) is inherited from the shared transform.
`route_json`, `fts_wire` and `geo_wire` are looked up in this module's
namespace on every micro-batch, so a wrapper set on them here sees each
batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..cdc.pipeline import fts_wire, geo_wire, route_json


def start_json_pipeline(
    cdc_stream: DataFrame,
    fts_dir: str,
    geo_dir: str,
    trigger: dict | None = None,
):
    """Run the JSON-lane CDC pipeline: stream in, two parquet message
    sinks out (stand-ins for the fts_service / geo_service topics).

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
    Micro-batches are poll-sized, so recomputing the shared route per
    sink is cheaper than a persist barrier — safe ONLY because the
    replay source is deterministic; a nondeterministic transform would
    need the persist() barrier back to keep the two sinks consistent."""

    def process(batch: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        fts, geo = route_json(batch)
        with ThreadPoolExecutor(max_workers=2) as pool:
            jobs = [
                pool.submit(
                    lambda df, d: df.write.mode("append").parquet(d), fts_wire(fts), fts_dir
                ),
                pool.submit(
                    lambda df, d: df.write.mode("append").parquet(d), geo_wire(geo), geo_dir
                ),
            ]
            for j in jobs:
                j.result()

    writer = (
        cdc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(fts_dir, "_checkpoint"))
        .outputMode("update")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()

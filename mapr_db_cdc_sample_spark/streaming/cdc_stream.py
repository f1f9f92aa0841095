"""The reference's whole program as ONE Structured Streaming query
(SURVEY.md §3.4): changelog stream → route → per-topic file sinks via
foreachBatch, resumable through a checkpoint kept beside the FTS sink.

`start_pipeline` runs any (topic, key, value) wire stream into one sink
per topic; both lanes use it. The JSON lane's route, `route_json_wire`
(fts_wire ∪ geo_wire of route_json as one projection), and the binary
lane's `fts_wire(route_binary(·))` are applied to the stream once per
query: built per micro-batch, their Python construction would cost
thousands of py4j calls each time. Each micro-batch runs one Spark job
that collects the routed rows; the driver publishes them by batch id.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from ..cdc.pipeline import FTS_TOPIC, GEO_TOPIC, route_json_wire
# unused here; kept as module attributes because perfbench's WRAPPED resolves them from this module
from ..cdc.pipeline import fts_wire, geo_wire, route_json  # noqa: F401


def publish(rows: pa.Table, fs: pafs.FileSystem, root: str, batch_id: int) -> None:
    """Write `rows` to a hidden temp name, then move it over
    `<root>/batch-<batch_id>.parquet`: a reader never sees a partial
    file, and a replayed batch id replaces its own file."""
    name = f"batch-{batch_id:019d}.parquet"
    fs.create_dir(root, recursive=True)
    pq.write_table(rows, f"{root}/.{name}", filesystem=fs)
    fs.move(f"{root}/.{name}", f"{root}/{name}")


def start_pipeline(wire: DataFrame, sinks: dict[str, str], trigger: dict | None = None):
    """Run a (topic, key, value) wire stream into one parquet message
    sink per topic in `sinks` (stand-ins for the fts_service /
    geo_service topics), each a local path or a URI `pyarrow.fs`
    resolves. Topics `sinks` does not name are not published.

    Each micro-batch is one Spark job: the route runs map-side and its
    wire rows reach the driver as Arrow. The driver `publish`es one file
    per sink, in `sinks` order (FTS first), even for an empty slice, so
    every data batch leaves a readable (topic, key, value) file in each
    sink.

    Delivery: the checkpoint lives at `<sinks[FTS_TOPIC]>/_checkpoint`
    (its `_` prefix hides it from readers), so a restart resumes after
    the last committed batch, unlike the reference's auto-commit (J:48).
    A batch that fails, before or between its files, replays under the
    same batch id with the same input and replaces its own files:
    exactly-once per sink, from a replayable source and a sink idempotent
    per batch id.

    Scale bound: only routed wire rows reach the driver, and a batch is
    bounded by the source's per-trigger limit (`maxFilesPerTrigger` /
    `maxOffsetsPerTrigger`). `spark.driver.maxResultSize` fails an
    oversized batch loudly, and the failed batch id replays idempotently.
    The Kafka path (`sources/kafka.write_routed`) stays executor-side."""
    roots = [
        (topic, *pafs.FileSystem.from_uri(d if ":" in d else os.path.abspath(d)))
        for topic, d in sinks.items()
    ]

    def process(batch: DataFrame, batch_id: int) -> None:
        rows = batch.toArrow()
        for topic, fs, root in roots:
            publish(rows.filter(pc.equal(rows["topic"], topic)), fs, root, batch_id)

    writer = (
        wire.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(sinks[FTS_TOPIC], "_checkpoint"))
        .outputMode("update")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def start_json_pipeline(
    cdc_stream: DataFrame,
    fts_dir: str,
    geo_dir: str,
    trigger: dict | None = None,
):
    """The JSON lane: `route_json_wire` into an FTS and a geo sink."""
    return start_pipeline(
        route_json_wire(cdc_stream), {FTS_TOPIC: fts_dir, GEO_TOPIC: geo_dir}, trigger
    )

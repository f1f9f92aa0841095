"""File-replay CDC source: persist a changelog DataFrame as N parquet
chunks, then read it back as a rate-limited stream (`maxFilesPerTrigger`)
— the micro-batch cadence analogue of the reference's consumer.poll(500)
loop (FtsAndGeoServiceJSONWithCDC.java:59).

The replay directory is the test/bench stand-in for a Kafka topic: each
chunk ≈ one poll batch; ordering within a chunk is preserved, across
chunks is by file order — same guarantees as per-partition Kafka order.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..scratch import scratch_dir


def write_replay(
    df: DataFrame,
    n_chunks: int = 4,
    base_dir: str | None = None,
    order_by: str | None = None,
) -> str:
    """Materialize `df` into n_chunks parquet files; returns the dir.

    With `order_by` (an event-time column) chunks are RANGE-partitioned on
    time, like a real changelog whose files arrive in order — required for
    watermark tests, where a random split would make most data late."""
    path = base_dir or scratch_dir()
    if order_by:
        df = df.repartitionByRange(n_chunks, F.col(order_by)).sortWithinPartitions(order_by)
    else:
        df = df.repartition(n_chunks)
    df.write.mode("overwrite").parquet(path)
    # FileStreamSource replays files in MODIFICATION-TIME order, and the
    # parallel write finishes part-files in arbitrary order — which can
    # replay chunks out of event-time order and mass-drop rows behind the
    # watermark. Stamp strictly increasing mtimes in part-file-name order
    # (range partition 0 = lowest time range) so replay order == time
    # order, like a real changelog.
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and not f.endswith(".crc")
    )
    base = time.time() - len(parts)
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base + i, base + i))
    return path


def read_replay(
    spark: SparkSession,
    path: str,
    schema: StructType,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming scan of a replay dir, `files_per_trigger` files per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a bounded stream into an in-memory table (availableNow →
    processes everything, then stops). Returns the StreamingQuery after
    termination; read results with spark.table(name)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        # unique dir: checkpoint offsets/state are query-scoped
        .option("checkpointLocation", scratch_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

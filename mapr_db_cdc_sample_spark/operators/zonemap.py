"""File-level zone maps (manifest-based file pruning) over plain parquet.

What Iceberg/Delta manifests do, built from Spark primitives: cluster the
table on write (range-partition + sort on the zone key), record per-file
min/max of the key (the "zone map" — one tiny row per file), and at query
time intersect the predicate with the manifest to plan a scan of ONLY the
overlapping files. Parquet row-group stats give this *within* a file;
the manifest gives it *across* files, which is what matters at 100 TB
where a table is 10^5-10^6 files and the per-file footer round-trips
alone would dominate planning.

The manifest is collected to the driver at planning time — it is
O(files) tiny rows (the same thing every table format's planner reads),
not data. Determinism: the clustered write sorts on the zone key, so
min/max per file are data-determined; the pruned result is
hash-identical to the full-table filter by construction (the residual
predicate still applies — pruning only removes files that cannot match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_clustered(df: DataFrame, path: str, zone_key: str, n_files: int) -> None:
    """Range-partition + sort on `zone_key` into ~n_files files: tight,
    non-overlapping per-file min/max — the layout zone maps need (random
    placement gives every file the full key range and prunes nothing)."""
    (
        df.repartitionByRange(n_files, F.col(zone_key))
        .sortWithinPartitions(zone_key)
        .write.mode("overwrite")
        .parquet(path)
    )


def build_manifest(spark: SparkSession, path: str, keys: list[str]) -> list[tuple]:
    """[(file, [(lo, hi) per key])] per data file — the zone map. One
    aggregate over the key columns only (column-pruned scan); at 100 TB
    this is built incrementally at write time, never by re-scanning."""
    stats = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"), *keys)
        .groupBy("f")
        .agg(*(agg(k) for k in keys for agg in (F.min, F.max)))
        .collect()
    )
    return [(r[0], list(zip(r[1::2], r[2::2]))) for r in stats]


def pruned_scan(
    spark: SparkSession,
    manifest: list[tuple],
    ranges: list[tuple],
) -> tuple[DataFrame, int, int]:
    """(df, n_selected_files, n_total_files): scan ONLY the files whose
    zones overlap EVERY predicate range — one (lo, hi) per manifest key;
    the caller re-applies the exact predicate as the residual filter."""
    selected = [
        f
        for f, zones in manifest
        if all(zlo <= hi and zhi >= lo for (zlo, zhi), (lo, hi) in zip(zones, ranges))
    ]
    if not selected:  # degenerate: nothing can match; empty frame, same schema
        return spark.read.parquet(manifest[0][0]).limit(0), 0, len(manifest)
    return spark.read.parquet(*selected), len(selected), len(manifest)


# ------------------------- Z-order (2-D) clustering

def zvalue(x, y, bits: int = 8):
    """Morton/Z-order interleave of two bucketized dims (JVM expressions
    only): bit b of x lands at 2b, bit b of y at 2b+1. Locality in z ==
    locality in BOTH dims, which is what makes one clustered layout
    serve two-dimensional predicates."""
    z = None
    for b in range(bits):
        xb = F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
        yb = F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        z = xb + yb if z is None else z + xb + yb
    return z


def write_zordered(df: DataFrame, path: str, xcol: str, ycol: str, n_files: int) -> None:
    """Cluster on the interleaved z-value: each file covers a compact
    rectangle-ish region of (x, y) space, so per-file min/max of BOTH
    columns are tight."""
    z = zvalue(F.col(xcol), F.col(ycol))
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )

"""SparkSession construction and engine-wide configuration.

Scale posture (100 TB target, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- Shuffle partitions sized to the box's core count; on a
  real cluster this is overridden (AQE coalesces down from a high initial
  count, so the same code scales up).
- UTC session timezone: oracle (DuckDB) comparisons are tz-naive; all
  date/time expressions in the query surface are wall-clock stable.
- Arrow enabled: pandas_udf / applyInPandas paths are vectorized.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Runtime-settable confs applied to any session we are handed (the driver
#: may construct its own SparkSession; these are all safe to set at runtime).
# One BLAS thread per Python worker: the executor already runs one task
# per core, so every pandas_udf/applyInPandas task that hits a NumPy
# matmul would otherwise spawn its own BLAS pool on top of full task
# parallelism — measured on local[32]: 25 concurrent 4096-block dgemms
# were 30-60x slower per task from spin-wait oversubscription (q512/q492,
# BENCH_SF1 r10's ANN tail). Set in the driver env BEFORE the JVM spawns
# (local-mode workers fork from it) and mirrored to executorEnv for
# cluster deployments. Overridable for driver-only NumPy-heavy jobs.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffle width scales with INPUT, not the pinned 32: AQE starts
    # every shuffle at 256 partitions and coalesces down (parallelism-
    # first, so small SFs still land at ~core-count). The fixed 32 made
    # q436's linear (shingle, doc) collapse spill at 10x data
    # (BENCH_SF1 r9: 20x). On a real cluster this is the conf to raise
    # further; plan fingerprints normalize partition counts away.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/supplier) must broadcast; 64 MB is safe on
    # executors with >=4 GB and removes shuffles from every dim join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The testdata's events.ts is INT64 TIMESTAMP(NANOS) parquet, which
    # Spark 4 rejects; read as long and convert in io.table (ns → µs
    # truncation matches DuckDB's read of the same file).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Confs that only take effect at BUILDER time (spark.executorEnv.* is
#: read once when executors launch, never runtime-settable) — kept out of
#: RUNTIME_CONFS so tune() on a driver-constructed session doesn't
#: silently drop them behind its blanket try/except (ADVICE r11). On a
#: driver-owned session the BLAS pinning still holds in local mode via
#: the os.environ defaults above (workers fork from the driver env); on a
#: cluster the deployer must pass these via spark-submit --conf.
# see the BLAS-thread note above RUNTIME_CONFS
BUILDER_CONFS = {
    f"spark.executorEnv.{_v}": os.environ.get(_v, "1")
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    BUILDER_CONFS (executorEnv.*) are intentionally NOT applied here —
    they are builder-time-only and would silently no-op at runtime."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime in this build; keep going
    return spark


#: Number of open `scoped_confs` blocks; `pin` is eager while it is > 0.
_scope_depth = 0


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of a block, restoring previous
    values (or unsetting) afterwards. Assumes a single-threaded driver —
    true for this harness; a concurrent session would need per-query
    conf isolation instead."""
    global _scope_depth
    prev: dict[str, str | None] = {}
    for k in confs:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    _scope_depth += 1
    try:
        yield
    finally:
        _scope_depth -= 1
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def pin(df: DataFrame) -> DataFrame:
    """Pin a frame that several consumers read: cut its plan at a local
    checkpoint so the subtree below runs once. The only place the engine
    calls `localCheckpoint`.

    The rule: eager inside a `scoped_confs` block, lazy everywhere else.
    Spark reads SQLConf when a job runs, not when a plan is built, so a
    pin made under scoped confs must run its job before the block
    restores them. Elsewhere the first action that reads the frame fills
    the blocks, which saves only the pin's final-stage job: with a
    shuffle below the pin, `localCheckpoint` runs every AQE shuffle stage
    while the pin is made, lazy or not. Either way the plan is cut at the
    pin. The blocks stay in block storage until `release`."""
    return df.localCheckpoint(eager=_scope_depth > 0)


def release(spark: SparkSession) -> None:
    """Free what finished queries pinned or cached: clear the catalog
    cache, then unpersist every RDD still in block storage: `pin` blocks
    are persistent RDDs outside the catalog cache, which `clearCache()`
    does not see. Call it between queries, after each result has been
    consumed."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def _box_memory_bytes() -> int:
    """Memory this process may use: physical memory, or the cgroup limit
    (v2 ``memory.max``, v1 ``memory.limit_in_bytes``) when one is set
    below it."""
    box = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" when unlimited
            box = min(box, int(raw))
    return box


def default_driver_memory(box_bytes: int) -> str:
    """Driver heap default: half the box, capped at 16g. A JVM allowed
    more heap than the box has grows lazily past what the box can hold
    before its collector must run (an sf0.001 sweep reached 8.3 GB RSS
    on a 15.7 GB box under a 16g heap and was OOM-killed); the other
    half stays for Python workers, off-heap buffers and the page
    cache."""
    return f"{min(16 * 1024, box_bytes // 2**21)}m"


def get_spark(app_name: str = "mapr-db-cdc-sample-spark") -> SparkSession:
    """Build (or fetch) the engine session.

    local[$SPARK_GRAFT_CPUS] for the test harness; on a cluster the master
    comes from spark-submit and this builder only contributes confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Batch shuffles are governed by AQE coalescing from
        # initialPartitionNum=256 (RUNTIME_CONFS), so this static value
        # only reaches lanes AQE does not re-plan — chiefly streaming
        # stateful operators, whose width is pinned into the checkpoint.
        # It is the box's core count instead of a magic 32 (identical on
        # local[32]); on a real cluster spark-submit sets it to
        # executor-fleet parallelism.
        .config("spark.sql.shuffle.partitions", str(os.cpu_count() or 8))
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", default_driver_memory(_box_memory_bytes())
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
    )
    for k, v in {**RUNTIME_CONFS, **BUILDER_CONFS}.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())

"""The three workloads. Each times the engine only from outside, around
calls into its public functions, and checks every output it times.

- ``cdc_stream``: a closed loop of micro-batches. One 2,000-record
  changelog file at a time goes into a directory read by
  ``sources.replay.read_replay``; ``streaming.cdc_stream.start_json_pipeline``
  consumes it under the reference's 500 ms processing-time trigger, and
  the next file follows once its batch has committed. Traced runs add an
  open loop before it (a generator thread drops one file per 1 s slot,
  whatever the consumer does; at one file per 500 ms a batch here, 650-
  1,200 ms of mostly fixed cost, saturated the trigger) and a drain of a
  pre-written backlog after it.
- ``batch_short``: closed loop, one client, whole passes over the
  ``short`` sample of ``sets.json`` at sf0.01 through the noop sink.
- ``batch_heavy``: closed loop, one client, whole passes over the
  ``heavy`` set of ``sets.json`` at sf0.1.

Next to each timed operation of an untraced phase the workload times a
reference written in plain PySpark, in the same session: a micro-batch
of ``_reference_stream`` on cdc_stream, ``trace.reference_job_ms`` on
the batch workloads. The end-to-end metric is the ratio of the two.

A workload returns its samples per phase; ``run.py`` turns them into
metrics. A traced run measures an untraced phase and then a traced phase
in a fresh SparkContext with the event log on, so tracing overhead is the
difference between the two.
"""

from __future__ import annotations

import collections
import datetime as dt
import glob
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

from . import changelog, datagen, trace

HERE = os.path.dirname(os.path.abspath(__file__))
# set-ups per run. The first launches the JVM; setup_s is the median of
# the others (a JVM per set-up would cost 8-9 s each on a 4-vCPU VM)
SETUPS = 3
WARM_PASSES = 2  # untimed passes of a batch workload after its check pass

# cdc_stream parameters (the offered rate: RECORDS_PER_FILE / PERIOD_S)
PERIOD_S = 1.0
TRIGGER = {"processingTime": "500 milliseconds"}
RECORDS_PER_FILE = 2000
FILES_PER_TRIGGER = 8
OPEN_S = 6.0  # measured length of the open loop
WARMUP_S = 2.0  # files due earlier than this are warm-up, not samples
WARM_FILES = 5  # batches of a throw-away stream run before any timing
LOOP_TABLES = 4  # distinct files of the batch loop; it uses them in turn
LOOP_WARM = 2  # batch-loop batches before the samples
LOOP_MIN = LOOP_WARM + 5
BACKLOG_FILES = 2
BACKLOG_RECORDS = 25_000  # per backlog file


def batch_names(registry) -> list[str]:
    """Canonical batch queries: every registry entry except the streaming
    lane (queries/streamingq.py) and the rotation aliases, by name."""
    return sorted(
        n
        for n, q in registry.items()
        if "rotation-alias" not in q.tags and not q.fn.__module__.endswith("streamingq")
    )


def query_sets() -> dict:
    with open(os.path.join(HERE, "sets.json")) as fh:
        return json.load(fh)


@dataclass
class Phase:
    """Samples of one measured phase (untraced or traced)."""

    traced: bool
    latencies_ms: list = field(default_factory=list)
    labels: list = field(default_factory=list)  # what each latency sample timed
    pass_s: list = field(default_factory=list)
    items: int = 0
    layers: dict = field(default_factory=dict)


@dataclass
class Ctx:
    registry: dict
    tracer: trace.Tracer
    work: str
    seed: int
    seconds: float
    trace_run: bool
    spark: object = None
    sessions: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    get_spark_s: list = field(default_factory=list)
    jvm_pid: int | None = None
    t0: float = field(default_factory=time.perf_counter)

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {msg}", flush=True)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    # -- session ----------------------------------------------------------
    def new_session(self, event_log_dir: str | None = None) -> float:
        """Stop the current SparkContext (if any) and build a new one with
        ``session.get_spark``; returns the get_spark time."""
        from mapr_db_cdc_sample_spark.session import get_spark

        if self.spark is not None:
            jvm = self.spark._jvm
            self.spark.stop()
            if event_log_dir:
                # a new SparkContext in the same JVM reads spark.* system
                # properties, so the event log can be switched on for the
                # traced phase only
                props = {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
                for k, v in props.items():
                    jvm.java.lang.System.setProperty(k, v)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        dt_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        # keep every session alive: io's DataFrame memo is keyed by id(spark)
        self.sessions.append(spark)
        self.spark = spark
        if self.jvm_pid is None:
            self.jvm_pid = trace.jvm_pid(spark)
        return dt_s

    def setup(self, prepare) -> None:
        """SETUPS times: a fresh session plus the workload's own
        preparation; the first one also launches the JVM."""
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.get_spark_s.append(self.new_session())
            prepare(self.spark)
            self.setup_s.append(time.perf_counter() - t0)

    def traced_session(self) -> str:
        logs = os.path.join(self.work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        self.new_session(event_log_dir=logs)
        return logs

    def end_trace(self) -> str:
        """Stop the traced context so its event log is complete."""
        self.tracer.enabled = False
        self.spark.stop()
        self.spark = None
        return os.path.join(self.work, "eventlog")


def phases(ctx: Ctx) -> list[tuple[bool, float]]:
    """(traced, seconds) per measured phase."""
    if not ctx.trace_run:
        return [(False, ctx.seconds)]
    return [(False, ctx.seconds / 2.0), (True, ctx.seconds / 2.0)]


def _ref_table(sf_dir: str) -> str:
    """The table the reference job scans: the run's own lineitem."""
    return os.path.join(sf_dir, "lineitem.parquet")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check_pass(ctx: Ctx, names: list[str], sf_dir: str) -> None:
    """Untimed: run every query once, compare it with its DuckDB oracle
    (or, without one, require the same non-zero row count twice)."""
    from mapr_db_cdc_sample_spark.oracle import compare, duck_connect

    con = duck_connect(sf_dir)
    try:
        for name in names:
            q = ctx.registry[name]
            ctx.attempted += 1
            try:
                df = q.fn(ctx.spark, sf_dir)
                if q.oracle:
                    ok, msg = compare(df, con, q.oracle)
                else:
                    n1, n2 = df.count(), q.fn(ctx.spark, sf_dir).count()
                    ok, msg = n1 == n2 and n1 > 0, f"row counts {n1} then {n2}"
            except Exception as e:  # a failing query is a counted failure, not a crash
                ok, msg = False, f"{type(e).__name__}: {str(e)[:200]}"
            if not ok:
                ctx.fail(f"{name}: {msg}")
            ctx.spark.catalog.clearCache()
    finally:
        con.close()


def _timed_query(ctx: Ctx, name: str, sf_dir: str, qid: str, layers: dict) -> float:
    """Build and run one query to completion through the noop sink.
    Traced, it also plans once on its own and counts jobs per phase."""
    spark, tr = ctx.spark, ctx.tracer
    fn = ctx.registry[name].fn
    if not tr.enabled:
        t0 = time.perf_counter()
        _noop(fn(spark, sf_dir))
        wall = time.perf_counter() - t0
        layers.setdefault("ref_ms", []).append(trace.reference_job_ms(spark, _ref_table(sf_dir)))
        return wall
    sc = spark.sparkContext
    t0 = time.perf_counter()
    with tr.span("query", trace=qid, query=name):
        sc.setJobGroup(f"{qid}:build", name)
        with tr.span("queries.build"):
            df = fn(spark, sf_dir)
        with tr.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        sc.setJobGroup(f"{qid}:exec", name)
        with tr.span("exec"):
            _noop(df)
    wall = time.perf_counter() - t0
    sc.setJobGroup("", "")
    for grp, key in ((f"{qid}:build", "build"), (f"{qid}:exec", "exec")):
        jobs, stages, tasks = trace.job_counts(spark, grp)
        layers.setdefault(f"{key}_jobs", []).append(jobs)
        layers.setdefault(f"{key}_stages", []).append(stages)
        layers.setdefault(f"{key}_tasks", []).append(tasks)
    return wall


def _batch(ctx: Ctx, names: list[str], sf: float) -> list[Phase]:
    from mapr_db_cdc_sample_spark.io import load_tables

    sf_dir = datagen.write(os.path.join(ctx.work, "data"), sf, ctx.seed)
    ctx.setup(lambda spark: load_tables(spark, sf_dir))
    ctx.log("set up")
    _check_pass(ctx, names, sf_dir)
    # pass times keep falling for several passes after the check (JIT);
    # untimed passes of the measured loop, reference job included, keep the
    # steepest part of that out of the samples, and per-query medians over
    # the measured passes most of the rest
    for _ in range(WARM_PASSES):
        for name in names:
            _noop(ctx.registry[name].fn(ctx.spark, sf_dir))
            trace.reference_job_ms(ctx.spark, _ref_table(sf_dir))
            ctx.spark.catalog.clearCache()
    ctx.log("checked and warmed")
    out = []
    for traced, seconds in phases(ctx):
        if traced:
            ctx.traced_session()
            _noop(ctx.registry[names[0]].fn(ctx.spark, sf_dir))  # re-warm the new context
            ctx.spark.catalog.clearCache()
            ctx.tracer.enabled = True
        ph = Phase(traced=traced)
        t_start = time.perf_counter()
        while not ph.pass_s or time.perf_counter() - t_start < seconds:
            t_pass = time.perf_counter()
            for name in names:
                qid = f"p{len(ph.pass_s)}.{name}"
                ph.latencies_ms.append(_timed_query(ctx, name, sf_dir, qid, ph.layers) * 1e3)
                ph.labels.append(name)
                ph.items += 1
                ctx.spark.catalog.clearCache()
            ph.pass_s.append(time.perf_counter() - t_pass)
        ctx.log(f"measured {len(ph.pass_s)} passes")
        if traced:
            ph.layers["jobs"] = trace.event_log_jobs(ctx.end_trace())
            ph.layers["spans"] = list(ctx.tracer.spans)
        out.append(ph)
    return out


def batch_short(ctx: Ctx) -> list[Phase]:
    return _batch(ctx, query_sets()["short"]["names"], 0.01)


def batch_heavy(ctx: Ctx) -> list[Phase]:
    return _batch(ctx, query_sets()["heavy"]["names"], 0.1)


# ---------------------------------------------------------------------------
# cdc_stream


def _checkpoint_root(q) -> str:
    root = q._jsq.streamingQuery().resolvedCheckpointRoot()
    return root[len("file:") :] if root.startswith("file:") else root


def _file_batches(ckpt: str) -> dict[str, int]:
    """Source file → batch id, from the file source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def _wire_counts(tbl) -> collections.Counter:
    return collections.Counter(zip(*(tbl.column(c).to_pylist() for c in ("topic", "key", "value"))))


def _batch_route(ctx: Ctx, files: list[str]):
    """``route_json`` applied in batch to changelog files: (fts, geo)."""
    from mapr_db_cdc_sample_spark.cdc.pipeline import route_json
    from mapr_db_cdc_sample_spark.cdc.schema import CDC_JSON_SCHEMA

    return route_json(ctx.spark.read.schema(CDC_JSON_SCHEMA).parquet(*files))


def _route_counts(ctx: Ctx, files: list[str], counts: dict) -> None:
    """Fill in the FTS and geo message counts of ``files`` and the number
    of their records that routed anywhere."""
    from pyspark.sql import functions as F

    from mapr_db_cdc_sample_spark.cdc.pipeline import fts_wire, geo_wire

    fts, geo = _batch_route(ctx, files)
    counts["fts"] = fts_wire(fts).count()
    counts["geo"] = geo_wire(geo).count()
    routed = fts.select("ts").union(geo.select("ts")).agg(F.countDistinct("ts"))
    counts["routed"] = routed.first()[0]


def _check_sinks(ctx: Ctx, what: str, files: list[str], fts_dir: str, geo_dir: str) -> None:
    """Sink contents must equal ``route_json`` -> ``fts_wire``/``geo_wire``
    applied in batch to the same changelog files, as multisets: no
    duplicates, no losses."""
    import pyarrow.parquet as pq

    from mapr_db_cdc_sample_spark.cdc.pipeline import fts_wire, geo_wire

    ctx.attempted += 1
    fts, geo = _batch_route(ctx, files)
    expected = _wire_counts(fts_wire(fts).unionByName(geo_wire(geo)).toArrow())
    got = collections.Counter()
    for d in (fts_dir, geo_dir):
        if glob.glob(os.path.join(d, "*.parquet")):
            got += _wire_counts(pq.read_table(d))
    if got != expected:
        lost, extra = sum((expected - got).values()), sum((got - expected).values())
        ctx.fail(f"{what}: sinks differ from batch route ({lost} lost, {extra} extra)")


def _warm_stream(ctx: Ctx, schema, tables: list) -> None:
    """WARM_FILES micro-batches as fast as they go, ``tables`` in turn:
    micro-batch time keeps falling for dozens of batches after the JVM
    starts (JIT), and differs between JVMs until it settles."""
    from mapr_db_cdc_sample_spark.sources.replay import read_replay
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    d = os.path.join(ctx.work, "warm")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "in"))
    for i in range(WARM_FILES):
        changelog.write_file(os.path.join(d, "in"), i, tables[i % len(tables)])
    q = start_json_pipeline(
        read_replay(ctx.spark, os.path.join(d, "in"), schema, files_per_trigger=1),
        os.path.join(d, "fts"),
        os.path.join(d, "geo"),
    )
    q.awaitTermination(120)
    q.stop()


def _open_loop(ctx: Ctx, schema, seconds: float, tag: str, ph: Phase) -> None:
    from mapr_db_cdc_sample_spark.sources.replay import read_replay
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    base = os.path.join(ctx.work, f"open-{tag}")
    live, fts_dir, geo_dir = (os.path.join(base, s) for s in ("in", "fts", "geo"))
    os.makedirs(live)
    n_files = math.ceil((WARMUP_S + seconds) / PERIOD_S)
    seed = ctx.seed * 1000 + len(tag)
    tables = changelog.files(seed, n_files, RECORDS_PER_FILE)
    gen = changelog.OpenLoop(live, tables, changelog.schedule(seed, n_files, PERIOD_S))
    q = start_json_pipeline(
        read_replay(ctx.spark, live, schema, files_per_trigger=FILES_PER_TRIGGER),
        fts_dir,
        geo_dir,
        trigger=TRIGGER,
    )
    try:
        t0 = time.time()
        gen.start(t0)
        if not gen.join(WARMUP_S + seconds + 60):
            raise RuntimeError("changelog generator did not finish")
        q.processAllAvailable()
        elapsed_s = time.time() - t0
        progress = list(q.recentProgress)
        ckpt = _checkpoint_root(q)
    finally:
        gen.stop()
        q.stop()

    # -- samples, outside the measured window ------------------------------
    file_batch = _file_batches(ckpt)
    commits = _commit_times(ckpt)
    stamps = {os.path.basename(s["path"]): s for s in gen.stamps}
    warm_cut = t0 + WARMUP_S
    measured = {b for f, b in file_batch.items() if stamps[f]["due"] >= warm_cut}
    lay = ph.layers
    lay["e2e_ms"] = [
        (commits[file_batch[f]] - s["due"]) * 1e3
        for f, s in stamps.items()
        if f in file_batch and s["due"] >= warm_cut  # a missing file is a loss the check reports
    ]
    ph.items += len(stamps)
    ph.pass_s.append(elapsed_s)

    rows_per_batch = collections.Counter()
    for f, b in file_batch.items():
        rows_per_batch[b] += stamps[f]["rows"]
    lay["all_triggers"] = [
        (p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"], b in measured)
        for p in progress
        for b in [p["batchId"]]
    ]
    for p in progress:
        b = p["batchId"]
        if b not in measured or p["numInputRows"] == 0:
            continue
        d = p["durationMs"]
        # the micro-batch latency the reference's ~800 ms budget is about
        # (tools/latency.py): without the queueing that e2e adds near
        # saturation, which doubled e2e between runs on a noisy box
        ph.latencies_ms.append(d["triggerExecution"])
        for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "getBatch", "latestOffset"):
            lay.setdefault(k, []).append(d.get(k, 0))
        lay.setdefault("reads_per_batch", []).append(p["numInputRows"] / rows_per_batch[b])
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        waiting = sum(
            1 for f, s in stamps.items() if s["landed"] <= start and file_batch.get(f, b) >= b
        )
        lay.setdefault("backlog_files", []).append(waiting)
        lay.setdefault("trigger_windows", []).append(
            (start, start + d["triggerExecution"] / 1e3, b)
        )
    # spans opened inside foreachBatch have no parent: give each the id
    # of the micro-batch whose trigger it ran in
    for s in ctx.tracer.spans:
        for a, z, b in lay.get("trigger_windows", []):
            if s["trace"] is None and a <= s["start"] <= z:
                s["trace"] = f"{tag}.batch{b}"
    lay["sink_bytes"] = sum(
        os.path.getsize(p) for d in (fts_dir, geo_dir) for p in glob.glob(os.path.join(d, "*.parquet"))
    )
    lay["late_ms"] = [(s["landed"] - s["due"]) * 1e3 for s in stamps.values()]
    lay["batches"] = len(measured)
    if len(file_batch) != len(stamps):
        ctx.attempted += 1
        ctx.fail(f"open loop {tag}: {len(stamps) - len(file_batch)} files never consumed")
    _check_sinks(ctx, f"open loop {tag}", [s["path"] for s in gen.stamps], fts_dir, geo_dir)


def _reference_stream(ctx: Ctx, schema, base: str):
    """The same file source, trigger and sink shape as the engine's
    pipeline, written in plain PySpark with no engine code: each
    micro-batch appends its raw records to two parquet sinks at once, as
    the pipeline appends its FTS and geo messages. Returns the query and
    its input directory."""
    from concurrent.futures import ThreadPoolExecutor

    src, ckpt = os.path.join(base, "ref-in"), os.path.join(base, "ref-ckpt")
    sinks = [os.path.join(base, "ref-a"), os.path.join(base, "ref-b")]
    os.makedirs(src)

    def append(batch, _batch_id) -> None:
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            for job in [pool.submit(batch.write.mode("append").parquet, d) for d in sinks]:
                job.result()

    q = (
        ctx.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(append)
        .option("checkpointLocation", ckpt)
        .trigger(**TRIGGER)
        .start()
    )
    return q, src


def _batch_loop(ctx: Ctx, schema, tables: list, seconds: float, tag: str, ph: Phase) -> None:
    """Closed loop, one file per micro-batch, under the same 500 ms
    trigger: move the next file into the engine pipeline's source
    directory and wait until its batch has committed, then do the same
    with the reference stream; repeat for ``seconds`` (at least LOOP_MIN
    batches each). The tables are used in turn."""
    from mapr_db_cdc_sample_spark.sources.replay import read_replay
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    base = os.path.join(ctx.work, f"loop-{tag}")
    stage, src, fts_dir, geo_dir = (os.path.join(base, s) for s in ("stage", "in", "fts", "geo"))
    os.makedirs(stage)
    os.makedirs(src)
    q = start_json_pipeline(read_replay(ctx.spark, src, schema, files_per_trigger=1),
                            fts_dir, geo_dir, trigger=TRIGGER)
    ref, ref_src = _reference_stream(ctx, schema, base)
    paths = []
    try:
        t_start = time.perf_counter()
        while len(paths) < LOOP_MIN or time.perf_counter() - t_start < seconds:
            i = len(paths)
            for query, directory in ((q, src), (ref, ref_src)):
                staged = changelog.write_file(stage, i, tables[i % len(tables)])
                target = os.path.join(directory, os.path.basename(staged))
                os.rename(staged, target)  # atomic: the source sees the whole file
                query.processAllAvailable()
            paths.append(os.path.join(src, os.path.basename(staged)))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ref_progress = [p for p in ref.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
        ref.stop()
    # the first batches of a new query are warm-up
    ph.layers["loop_batch_ms"] = [p["durationMs"]["triggerExecution"] for p in progress][LOOP_WARM:]
    ph.layers["ref_ms"] = [p["durationMs"]["triggerExecution"] for p in ref_progress][LOOP_WARM:]
    if len(progress) != len(paths):
        ctx.attempted += 1
        ctx.fail(f"batch loop {tag}: {len(paths)} files in {len(progress)} batches")
    _check_sinks(ctx, f"batch loop {tag}", paths, fts_dir, geo_dir)


def _drain(ctx: Ctx, schema, backlog: list, tag: str, ph: Phase) -> None:
    """The backlog, pre-written, consumed as fast as the pipeline can, one
    file per batch."""
    from mapr_db_cdc_sample_spark.sources.replay import read_replay
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    base = os.path.join(ctx.work, f"drain-{tag}")
    src, fts_dir, geo_dir = (os.path.join(base, s) for s in ("in", "fts", "geo"))
    os.makedirs(src)
    paths = [changelog.write_file(src, i, tbl) for i, tbl in enumerate(backlog)]
    rows = {os.path.basename(p): t.num_rows for p, t in zip(paths, backlog)}
    q = start_json_pipeline(read_replay(ctx.spark, src, schema, files_per_trigger=1),
                            fts_dir, geo_dir)
    try:
        q.awaitTermination(120)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ckpt = _checkpoint_root(q)
    finally:
        q.stop()
    # records per batch from the generator: numInputRows counts each
    # record once per sink. Batches, not the query's start and stop, are
    # timed: those are fixed costs that swamp a drain this short
    batch_records = collections.Counter()
    for f, b in _file_batches(ckpt).items():
        batch_records[b] += rows[f]
    ph.layers["drain_records_per_s"] = trace.median(
        batch_records[p["batchId"]] / p["durationMs"]["triggerExecution"] * 1e3 for p in progress
    )
    _check_sinks(ctx, f"drain {tag}", paths, fts_dir, geo_dir)
    if ph.traced:
        counts = {"records": sum(rows.values())}
        _route_counts(ctx, paths, counts)
        ph.layers["drain_counts"] = counts


def cdc_stream(ctx: Ctx) -> list[Phase]:
    from mapr_db_cdc_sample_spark.cdc.schema import CDC_JSON_SCHEMA
    from mapr_db_cdc_sample_spark.sources.replay import read_replay

    probe = os.path.join(ctx.work, "probe")
    os.makedirs(probe)
    ctx.setup(lambda spark: read_replay(spark, probe, CDC_JSON_SCHEMA))
    ctx.log("set up")
    loop_tables = changelog.files(ctx.seed * 1000 + 300, LOOP_TABLES, RECORDS_PER_FILE)
    # the backlog feeds per-layer metrics only: traced runs alone drain it
    backlog = (changelog.files(ctx.seed * 1000 + 500, BACKLOG_FILES, BACKLOG_RECORDS)
               if ctx.trace_run else [])
    _warm_stream(ctx, CDC_JSON_SCHEMA, loop_tables)
    ctx.log("warmed")
    out = []
    for traced, seconds in phases(ctx):
        tag = "traced" if traced else "plain"
        if traced:
            ctx.traced_session()
            _warm_stream(ctx, CDC_JSON_SCHEMA, loop_tables)
            ctx.tracer.enabled = True
        ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        ph = Phase(traced=traced)
        if ctx.trace_run:
            # the open loop feeds per-layer metrics only
            _open_loop(ctx, CDC_JSON_SCHEMA, OPEN_S, tag, ph)
            ctx.log(f"open loop {tag} done and checked")
        _batch_loop(ctx, CDC_JSON_SCHEMA, loop_tables, seconds, tag, ph)
        ctx.log(f"batch loop {tag} done and checked")
        if backlog:
            _drain(ctx, CDC_JSON_SCHEMA, backlog, tag, ph)
            ctx.log(f"drain {tag} done and checked")
        if traced:
            ph.layers["spans"] = list(ctx.tracer.spans)
            ph.layers["jobs"] = trace.event_log_jobs(ctx.end_trace())
        out.append(ph)
    return out


WORKLOADS = {"cdc_stream": cdc_stream, "batch_short": batch_short, "batch_heavy": batch_heavy}

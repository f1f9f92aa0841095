"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Runs one workload (see ``workloads.py``) on local[<cores>] in this one
process, checks every output it timed, prints a readable summary and, as
the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports the per-layer metrics, from a traced phase that
follows an untraced one, and writes the spans to
``perfbench/_out/trace-<workload>-<seed>.json``. Exits 1 when an output
check fails and 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

WORKLOADS_CHOICES = ("cdc_stream", "batch_short", "batch_heavy")

E2E_UNITS = {
    "setup_s": "s",
    "latency_vs_ref": "ratio",
}

LAYER_UNITS = {
    "op.p50_ms": "ms",
    "ref.job_ms": "ms",
    "latency.p50_ms": "ms",
    "throughput.per_s": "1/s",
    "latency.p90_ms": "ms",
    "latency.samples": "count",
    "mem.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.cold_get_spark_s": "s",
    "io.load_tables.calls": "count",
    "io.load_tables_s": "s",
    "io.table.misses": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plans.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "pass_s": "s",
    "cdc.e2e_p50_ms": "ms",
    "cdc.e2e_p90_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "sink.fts_job_ms": "ms",
    "sink.geo_job_ms": "ms",
    "sink.bytes_written": "bytes",
    "source.getBatch_ms": "ms",
    "source.latestOffset_ms": "ms",
    "source.reads_per_batch": "ratio",
    "source.backlog_files": "count",
    "cdc.route_build_ms": "ms",
    "gen.late_ms": "ms",
    "cdc.records_in": "count",
    "cdc.fts_msgs": "count",
    "cdc.geo_msgs": "count",
    "cdc.msgs_per_record": "ratio",
    "cdc.unrouted_frac": "ratio",
    "failed_frac": "ratio",
    "trace.overhead_ms": "ms",
    "trace.accounted_frac": "ratio",
    "canary.matmul_s": "s",
    "canary.fill_s": "s",
    "canary.load1": "load",
    "canary.steal_frac": "ratio",
}

# spans the benchmark wraps around engine calls; query-level spans are
# opened in workloads.py
WRAPPED = {
    "io.load_tables": ("mapr_db_cdc_sample_spark.io", "load_tables"),
    "cdc.route_build": ("mapr_db_cdc_sample_spark.streaming.cdc_stream", "route_json"),
    "cdc.fts_wire": ("mapr_db_cdc_sample_spark.streaming.cdc_stream", "fts_wire"),
    "cdc.geo_wire": ("mapr_db_cdc_sample_spark.streaming.cdc_stream", "geo_wire"),
}


def install_wrappers(tracer) -> None:
    """Wrap layer entry points. Must run before ``load_all()``: the query
    modules bind ``load_tables`` when they are imported."""
    import importlib

    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from mapr_db_cdc_sample_spark.io import TABLES

    for span, (mod, attr) in WRAPPED.items():
        m = importlib.import_module(mod)
        setattr(m, attr, tracer.wrap(span, getattr(m, attr)))

    table_files = {f"{t}.parquet" for t in TABLES}
    read_parquet = DataFrameReader.parquet
    write_parquet = DataFrameWriter.parquet

    def reader(self, *paths, **kw):
        # io.table memoizes scans; a parquet read of a table file is a miss
        if tracer.enabled and paths and os.path.basename(str(paths[0])) in table_files:
            with tracer.span("io.table.miss"):
                return read_parquet(self, *paths, **kw)
        return read_parquet(self, *paths, **kw)

    def writer(self, path, *a, **kw):
        if not tracer.enabled:
            return write_parquet(self, path, *a, **kw)
        with tracer.span(f"sink.{os.path.basename(str(path))}"):
            return write_parquet(self, path, *a, **kw)

    DataFrameReader.parquet = reader
    DataFrameWriter.parquet = writer


TASK_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks")


def _spans_by(spans, name):
    return [s for s in spans if s["name"] == name]


def _dur(s) -> float:
    return s["end"] - s["start"]


def latency_ms(workload: str, ph) -> float:
    from perfbench import trace

    if workload == "cdc_stream":
        # every micro-batch does the same work: one pooled median
        return trace.percentile(ph.latencies_ms, 0.5)
    # queries differ by several times in cost: a pooled median over a few
    # queries is pinned to the gap between two of them
    return trace.geomean_of_medians(ph.latencies_ms, ph.labels)


def throughput_per_s(workload: str, ph) -> float:
    from perfbench import trace

    if workload == "cdc_stream":
        return ph.layers["drain_records_per_s"]
    # queries per second of the median pass: one slow pass moves it less
    # than it moves the mean
    return ph.items / len(ph.pass_s) / trace.median(ph.pass_s)


def op_ms(workload: str, ph) -> float:
    """The operation latency ``latency_vs_ref`` compares: the median
    batch-loop micro-batch on cdc_stream; on the batch workloads the same
    rule as ``latency_ms``."""
    from perfbench import trace

    if workload == "cdc_stream":
        return trace.median(ph.layers["loop_batch_ms"])
    return latency_ms(workload, ph)


def e2e_metrics(ctx, workload: str, ph) -> dict:
    from perfbench import trace

    return {
        "setup_s": trace.median(ctx.setup_s[1:]),  # warm: [0] launched the JVM
        "latency_vs_ref": op_ms(workload, ph) / trace.median(ph.layers["ref_ms"]),
    }


def layer_metrics(ctx, workload: str, plain, traced, canary: dict, rss_mb: float) -> dict:
    from perfbench import trace

    m = dict.fromkeys(LAYER_UNITS, 0.0)
    lay, spans = traced.layers, traced.layers.get("spans", [])
    med = trace.median
    m["session.get_spark_s"] = med(ctx.get_spark_s[1:])
    m["session.cold_get_spark_s"] = ctx.get_spark_s[0]
    m["op.p50_ms"] = op_ms(workload, plain)
    m["ref.job_ms"] = med(plain.layers["ref_ms"])
    m["latency.p50_ms"] = latency_ms(workload, plain)
    m["throughput.per_s"] = throughput_per_s(workload, plain)
    m["latency.samples"] = len(plain.latencies_ms)
    m["latency.p90_ms"] = trace.percentile(plain.latencies_ms, 0.9)
    m["mem.peak_rss_mb"] = rss_mb
    m["failed_frac"] = ctx.failed / max(ctx.attempted, 1)
    m["trace.overhead_ms"] = latency_ms(workload, traced) - latency_ms(workload, plain)
    m["canary.matmul_s"] = canary["matmul_s"]
    m["canary.fill_s"] = canary["fill_s"]
    m["canary.load1"] = canary["load1"]
    m["canary.steal_frac"] = canary["steal_frac"]
    if traced.pass_s:
        m["pass_s"] = med(traced.pass_s)
    jobs = lay.get("jobs", [])
    if workload == "cdc_stream":
        n = max(lay["batches"], 1)
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            m[f"stream.{k}_ms"] = med(lay[k])
        m["cdc.e2e_p50_ms"] = trace.percentile(plain.layers["e2e_ms"], 0.5)
        m["cdc.e2e_p90_ms"] = trace.percentile(plain.layers["e2e_ms"], 0.9)
        m["source.getBatch_ms"] = med(lay["getBatch"])
        m["source.latestOffset_ms"] = med(lay["latestOffset"])
        m["source.reads_per_batch"] = med(lay["reads_per_batch"])
        m["source.backlog_files"] = sum(lay["backlog_files"]) / len(lay["backlog_files"])
        m["gen.late_ms"] = trace.percentile(lay["late_ms"], 0.9)
        windows = lay["trigger_windows"]

        def in_trigger(s):
            return any(a <= s["start"] <= z for a, z, _ in windows)

        sinks = [s for s in spans if s["name"].startswith("sink.") and in_trigger(s)]
        for sink in ("fts", "geo"):
            times = [_dur(s) * 1e3 for s in sinks if s["name"] == f"sink.{sink}"]
            m[f"sink.{sink}_job_ms"] = med(times) if times else 0.0
        route = [s for s in spans if s["name"].startswith("cdc.") and in_trigger(s)]
        m["cdc.route_build_ms"] = sum(_dur(s) for s in route) * 1e3 / n
        m["sink.bytes_written"] = lay["sink_bytes"] / n
        drain = lay["drain_counts"]
        m["cdc.records_in"] = drain["records"]
        m["cdc.fts_msgs"] = drain["fts"]
        m["cdc.geo_msgs"] = drain["geo"]
        m["cdc.msgs_per_record"] = (drain["fts"] + drain["geo"]) / drain["records"]
        m["cdc.unrouted_frac"] = 1.0 - drain["routed"] / drain["records"]
        open_jobs = [j for j in jobs if any(a <= j["time"] <= z for a, z, _ in windows)]
        m["exec.jobs"] = len(open_jobs) / n
        for k in ("stages",) + TASK_KEYS:
            m[f"exec.{k}"] = sum(j[k] for j in open_jobs) / n
        phase_ms = sum(sum(lay[k]) for k in ("addBatch", "queryPlanning", "walCommit",
                                               "commitOffsets", "getBatch", "latestOffset"))
        m["trace.accounted_frac"] = phase_ms / sum(lay["triggerExecution"])
        return m

    queries = _spans_by(spans, "query")
    n = max(len(queries), 1)
    selfs = trace.self_times(spans)
    loads = _spans_by(spans, "io.load_tables")
    m["io.load_tables.calls"] = len(loads) / n
    m["io.load_tables_s"] = sum(_dur(s) for s in loads) / n
    m["io.table.misses"] = len(_spans_by(spans, "io.table.miss")) / n
    m["queries.build_s"] = selfs.get("queries.build", 0.0) / n
    m["plans.plan_s"] = sum(_dur(s) for s in _spans_by(spans, "plans.plan")) / n
    m["exec.s"] = sum(_dur(s) for s in _spans_by(spans, "exec")) / n
    m["queries.build_jobs"] = sum(lay["build_jobs"]) / n
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = (sum(lay[f"build_{k}"]) + sum(lay[f"exec_{k}"])) / n
    qjobs = [j for j in jobs if j["group"].endswith((":build", ":exec"))]
    for k in TASK_KEYS[:-1]:
        m[f"exec.{k}"] = sum(j[k] for j in qjobs) / n
    blocking = sum(selfs.get(k, 0.0) for k in ("queries.build", "io.load_tables",
                                                 "io.table.miss", "plans.plan", "exec"))
    m["trace.accounted_frac"] = blocking / max(sum(_dur(s) for s in queries), 1e-9)
    return m


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin pipe closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-cdc-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS_CHOICES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not env.package_present():
        print(f"perfbench: engine package {env.PACKAGE!r} not found next to perfbench/",
              file=sys.stderr)
        return 2

    # one work dir per workload: a rerun starts by removing what a killed
    # run left behind
    work = env.prepare(f"run-{args.workload}")
    from mapr_db_cdc_sample_spark.canary import box_canary

    from perfbench import trace, workloads

    canary = box_canary()  # before the JVM exists
    tracer = trace.Tracer()
    install_wrappers(tracer)
    from mapr_db_cdc_sample_spark.queries import load_all

    ctx = workloads.Ctx(registry=load_all(), tracer=tracer, work=work, seed=args.seed,
                        seconds=args.seconds, trace_run=bool(args.trace))
    stolen0, total0 = trace.cpu_ticks()
    try:
        phases = workloads.WORKLOADS[args.workload](ctx)
        rss = trace.peak_rss_mb(ctx.jvm_pid)
        stolen1, total1 = trace.cpu_ticks()
        canary["steal_frac"] = (stolen1 - stolen0) / max(total1 - total0, 1)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    plain = phases[0]
    if args.trace:
        metrics = layer_metrics(ctx, args.workload, plain, phases[1], canary, rss)
        units = LAYER_UNITS
        out = os.path.join(env.OUT, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(out)
        print(f"spans: {out}")
    else:
        metrics = e2e_metrics(ctx, args.workload, plain)
        units = E2E_UNITS

    print("  passes:", " ".join(f"{p:.2f}s" for p in plain.pass_s))
    if "loop_batch_ms" in plain.layers:
        print("  batch loop:", " ".join(f"{ms}ms" for ms in plain.layers["loop_batch_ms"]))
    print("  reference:", " ".join(f"{ms:.0f}ms" for ms in plain.layers["ref_ms"]))
    for b, rows, ms, measured in plain.layers.get("all_triggers", []):
        print(f"  batch {b:3d} rows {rows:6d} trigger {ms:5d} ms {'measured' if measured else ''}")
    by_label: dict[str, list] = {}
    for label, ms in zip(plain.labels, plain.latencies_ms):
        by_label.setdefault(label, []).append(ms)
    for label, xs in by_label.items():
        print(f"  {label:40s} median {trace.median(xs):10.1f} ms  n={len(xs)}")
    for err in ctx.errors:
        print(f"FAILED: {err}")
    print(f"{args.workload} seed={args.seed} latency samples={len(plain.latencies_ms)} "
          f"(p50 wants >= {trace.min_samples(0.5)}) checks={ctx.attempted} failed={ctx.failed} "
          f"canary={canary}")
    for k, v in metrics.items():
        print(f"  {k:28s} {v:14.4f} {units[k]}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

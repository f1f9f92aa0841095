"""Measurement helpers: percentiles, spans, wrappers around the calls the
benchmark makes into the engine's layers, Spark event-log task metrics,
and process memory from /proc.

Spans are kept in memory (``Tracer.spans``) and written out once, at the
end of a traced run. Each span has a name, start and end (wall clock,
seconds), the id of the span that caused it and a trace id shared by
every span of one query or micro-batch.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import math
import os
import re
import threading
import time

#: the names BENCHMARK.json allows for metrics and workloads
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: a percentile is supported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the ceil(q*n)-th smallest value."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[max(math.ceil(q * len(xs)), 1) - 1]


def min_samples(q: float) -> int:
    """Samples needed so that at least MIN_BEYOND lie beyond the q-th
    percentile (100 for p90)."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def geomean_of_medians(values, labels) -> float:
    """Median per label, then the geometric mean of those medians: every
    label weighs the same, and no single label fixes the result."""
    by: dict = {}
    for label, v in zip(labels, values):
        by.setdefault(label, []).append(v)
    if not by:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(median(xs)) for xs in by.values()) / len(by))


class Tracer:
    """Span recorder. Disabled, ``span`` costs one attribute test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""

        @functools.wraps(fn)
        def inner(*a, **k):
            if not self.enabled:
                return fn(*a, **k)
            with self.span(name):
                return fn(*a, **k)

        return inner

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], []))
    return out


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numTasks:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


TASK_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
)


def event_log_jobs(log_dir: str) -> list[dict]:
    """Per-job task metrics from Spark's event log: one dict per job with
    its job group (or ""), submission time (epoch seconds), the number of
    stages that ran tasks, and TASK_FIELDS summed over its tasks. Read
    after the context has stopped, when the log is complete."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue
        with open(path) as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "time": ev.get("Submission Time", 0) / 1e3,
                        "stages": set(),
                        **dict.fromkeys(TASK_FIELDS, 0.0),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if not m or job is None:
                        continue
                    run_ms = m.get("Executor Run Time", 0)
                    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["stages"].add(ev.get("Stage ID"))
                    job["executor_run_s"] += run_ms / 1e3
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["scheduler_delay_s"] += max(
                        wall_ms
                        - run_ms
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0),
                        0,
                    ) / 1e3
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    job["tasks"] += 1
    for job in jobs.values():
        job["stages"] = len(job["stages"])
    return list(jobs.values())


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot, from /proc/stat.
    Stolen ticks are time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm_pid:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def jvm_pid(spark) -> int | None:
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # py4j or JVM without ProcessHandle: memory then excludes the JVM
        return None




def reference_job_ms(spark, table_path: str) -> float:
    """Wall milliseconds of a fixed query built with plain PySpark (no
    engine code) and collected: a scan of one parquet table, derived
    columns added one call at a time, a filter and a grouped aggregate.
    Like a short batch query, it pays for DataFrame construction and
    analysis on the driver as well as for its job."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = spark.read.parquet(table_path)
    for i in range(REF_COLUMNS):
        df = df.withColumn(f"ref{i}", F.col("l_quantity") * (i + 1) + F.col("l_extendedprice"))
    (
        df.where(F.col("l_discount") < 0.08)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(f"ref{REF_COLUMNS - 1}"), F.count("*"))
        .collect()
    )
    return (time.perf_counter() - t0) * 1e3


#: derived columns of the reference query
REF_COLUMNS = 8

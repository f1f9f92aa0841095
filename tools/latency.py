"""Measure the CDC pipeline's micro-batch latency under the reference's
cadence (BASELINE.md rows 'Streaming micro-batch cadence' / 'Streaming
end-to-end added latency').

The reference consumer loop polls every 500 ms and its implied added
end-to-end latency is <= ~800 ms (poll interval + producer buffer,
FtsAndGeoServiceJSONWithCDC.java:41,59). The Spark analogue is a
`trigger(processingTime="500 milliseconds")` micro-batch: the budget
holds iff steady-state `triggerExecution` stays within ~800 ms, which
StreamingQueryProgress reports directly.

`measure()` replays the sf0.001 synthetic changelog one file per
trigger through the real dual-sink pipeline (streaming/cdc_stream.py)
and returns each batch's full StreamingQueryProgress phase breakdown
(PHASES), the steady-state median of each phase, and the core count the
session ran on. Run as a script, it measures RUNS times in one session,
each run on fresh sinks with a box canary (`canary.box_canary`) taken
just before it, and writes LATENCY.json at the repo root (the committed
evidence artifact): the run whose steady median is the median of the
runs, plus every run's steady median and canary under "runs", so one
slow run on a shared box is neither committed alone nor hidden. The
script runs on the engine's own session (`session.get_spark`):
SPARK_GRAFT_CPUS sets the core count to measure on (default: all
cores)."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
N_CHUNKS = 24  # replay files == max data micro-batches
STEADY_TAIL = 8  # steady state: the last K batches (JIT/codegen settled)
BUDGET_MS = 800
RUNS = 3  # measure() calls per script run; the median run is written
CADENCE = "500 milliseconds"
# StreamingQueryProgress.durationMs keys; triggerExecution spans the rest
PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "getBatch", "latestOffset")


def measure(spark, base_dir: str, timeout_s: float = 120.0) -> dict:
    """Run the JSON CDC pipeline under the 500 ms processingTime trigger
    and return {cadence, budget_ms, cores, batches: [...], steady: {...}}."""
    from mapr_db_cdc_sample_spark.cdc.fixtures import synth_cdc_from_events
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.sources.replay import read_replay, write_replay
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    cdc = synth_cdc_from_events(load_tables(spark, SF_SMALL)["events"])
    replay = write_replay(cdc, n_chunks=N_CHUNKS, base_dir=os.path.join(base_dir, "replay"))
    stream = read_replay(spark, replay, cdc.schema, files_per_trigger=1)
    q = start_json_pipeline(
        stream,
        os.path.join(base_dir, "fts"),
        os.path.join(base_dir, "geo"),
        trigger={"processingTime": CADENCE},
    )
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= N_CHUNKS:
                break
            time.sleep(0.25)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()

    batches = [
        {
            "batchId": p["batchId"],
            "numInputRows": p["numInputRows"],
            **{f"{k}_ms": p["durationMs"].get(k) for k in PHASES},
        }
        for p in progress
    ]
    tail = batches[-STEADY_TAIL:]
    steady = [b["triggerExecution_ms"] for b in tail]
    return {
        "sf_dir": SF_SMALL,
        "cadence": CADENCE,
        "budget_ms": BUDGET_MS,
        "cores": spark.sparkContext.defaultParallelism,
        "n_data_batches": len(batches),
        "steady_tail": STEADY_TAIL,
        "batches": batches,
        "steady": {
            "n": len(steady),
            "median_ms": statistics.median(steady) if steady else None,
            # nearest-rank percentile: ceil(0.9 n)-th order statistic
            "p90_ms": (
                sorted(steady)[math.ceil(0.9 * len(steady)) - 1] if steady else None
            ),
            "max_ms": max(steady) if steady else None,
            "within_budget": sum(1 for d in steady if d <= BUDGET_MS),
            "phase_median_ms": {
                k: statistics.median(b[f"{k}_ms"] or 0 for b in tail) if tail else None
                for k in PHASES
            },
        },
    }


def main() -> None:
    import tempfile

    from mapr_db_cdc_sample_spark.canary import box_canary
    from mapr_db_cdc_sample_spark.session import get_spark

    spark = get_spark("latency")
    spark.sparkContext.setLogLevel("ERROR")
    runs = []
    for _ in range(RUNS):
        canary = box_canary()
        with tempfile.TemporaryDirectory() as td:
            runs.append((measure(spark, td), canary))
    out = sorted(runs, key=lambda r: r[0]["steady"]["median_ms"])[RUNS // 2][0]
    out["runs"] = [
        {"steady_median_ms": r["steady"]["median_ms"], "canary": c} for r, c in runs
    ]
    with open(os.path.join(REPO, "LATENCY.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"steady": out["steady"], "n": out["n_data_batches"],
                      "cores": out["cores"], "runs": out["runs"]}))


if __name__ == "__main__":
    main()

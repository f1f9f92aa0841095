"""The engine entry points the benchmark wraps (`perfbench/run.py`,
`WRAPPED`) must keep resolving, and the streaming pipeline must call
them through the names the benchmark patches: a refactor that binds
them some other way silently drops the benchmark's per-layer spans
(`cdc.route_build_ms`)."""

from __future__ import annotations

import importlib

from perfbench.run import WRAPPED

from mapr_db_cdc_sample_spark.cdc.fixtures import golden_json_events
from mapr_db_cdc_sample_spark.cdc.schema import CDC_JSON_SCHEMA
from mapr_db_cdc_sample_spark.sources.replay import read_replay, write_replay


def test_wrapped_entry_points_resolve():
    for span, (mod, attr) in WRAPPED.items():
        assert callable(getattr(importlib.import_module(mod), attr, None)), span


def test_pipeline_routes_through_patched_route_json(spark, tmp_path, monkeypatch):
    from mapr_db_cdc_sample_spark.streaming import cdc_stream

    calls = []
    route_json = cdc_stream.route_json

    def counting(batch):
        calls.append(1)
        return route_json(batch)

    monkeypatch.setattr(cdc_stream, "route_json", counting)
    replay = write_replay(golden_json_events(spark), n_chunks=2, base_dir=str(tmp_path / "in"))
    q = cdc_stream.start_json_pipeline(
        read_replay(spark, replay, CDC_JSON_SCHEMA, files_per_trigger=1),
        str(tmp_path / "fts"),
        str(tmp_path / "geo"),
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert data_batches
    assert len(calls) == len(data_batches)

"""The engine entry points the benchmark wraps (`perfbench/run.py`,
`WRAPPED`) must keep resolving, and the streaming pipeline must build
its route once per query: a refactor that moves the route build back
into the per-micro-batch body puts its Python DataFrame construction
on every batch's critical path. Each data micro-batch is one Spark job:
one Arrow collect of the routed rows, and no Spark parquet write."""

from __future__ import annotations

import importlib

from perfbench.run import WRAPPED

from mapr_db_cdc_sample_spark.cdc.fixtures import golden_json_events
from mapr_db_cdc_sample_spark.cdc.schema import CDC_JSON_SCHEMA
from mapr_db_cdc_sample_spark.sources.replay import read_replay, write_replay


def test_wrapped_entry_points_resolve():
    for span, (mod, attr) in WRAPPED.items():
        assert callable(getattr(importlib.import_module(mod), attr, None)), span


def test_pipeline_builds_route_once_per_query(spark, tmp_path, monkeypatch):
    """The route is planned on the stream, not rebuilt per micro-batch:
    over a run of two or more data micro-batches, the route function the
    pipeline calls runs exactly once."""
    from mapr_db_cdc_sample_spark.streaming import cdc_stream

    calls = []
    route = cdc_stream.route_json_wire

    def counting(cdc):
        calls.append(1)
        return route(cdc)

    monkeypatch.setattr(cdc_stream, "route_json_wire", counting)
    replay = write_replay(golden_json_events(spark), n_chunks=2, base_dir=str(tmp_path / "in"))
    q = cdc_stream.start_json_pipeline(
        read_replay(spark, replay, CDC_JSON_SCHEMA, files_per_trigger=1),
        str(tmp_path / "fts"),
        str(tmp_path / "geo"),
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2
    assert len(calls) == 1


def test_pipeline_collects_once_per_batch_and_runs_no_write_job(spark, tmp_path, monkeypatch):
    """Over two or more data micro-batches, the pipeline makes exactly one
    `toArrow` collect per batch and never calls `DataFrameWriter.parquet`:
    the sinks are published from the driver, not by Spark write jobs."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mapr_db_cdc_sample_spark.streaming import cdc_stream

    replay = write_replay(golden_json_events(spark), n_chunks=2, base_dir=str(tmp_path / "in"))
    collects, writes = [], []
    frame = type(spark.range(1))
    to_arrow, write_parquet = frame.toArrow, DataFrameWriter.parquet

    def counting_collect(self):
        collects.append(1)
        return to_arrow(self)

    def counting_write(self, *a, **kw):
        writes.append(a)
        return write_parquet(self, *a, **kw)

    monkeypatch.setattr(frame, "toArrow", counting_collect)
    monkeypatch.setattr(DataFrameWriter, "parquet", counting_write)
    q = cdc_stream.start_json_pipeline(
        read_replay(spark, replay, CDC_JSON_SCHEMA, files_per_trigger=1),
        str(tmp_path / "fts"),
        str(tmp_path / "geo"),
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2
    assert len(collects) == len(data_batches)
    assert writes == []

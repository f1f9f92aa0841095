"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import changelog, datagen, env, run, trace  # noqa: E402

BENCHMARK = os.path.join(env.ROOT, "BENCHMARK.json")


def test_changelog_is_deterministic_per_seed():
    a = changelog.files(7, 3, 200)
    b = changelog.files(7, 3, 200)
    c = changelog.files(8, 3, 200)
    assert [t.to_pylist() for t in a] == [t.to_pylist() for t in b]
    assert [t.to_pylist() for t in a] != [t.to_pylist() for t in c]
    assert changelog.schedule(7, 20, 0.5) == changelog.schedule(7, 20, 0.5)


def test_changelog_varies_what_the_route_depends_on():
    rows = [r for t in changelog.files(3, 2, 2000) for r in t.to_pylist()]
    ops = {r["op"] for r in rows}
    assert ops == {"RECORD_INSERT", "RECORD_UPDATE", "RECORD_DELETE"}
    paths = [[c["fieldPath"] for c in r["changes"]] for r in rows if r["op"] == "RECORD_UPDATE"]
    assert any(len(p) != len(set(x.lower() for x in p)) for p in paths)  # duplicate paths
    assert any(x not in ("firstName", "lastName", "address", "age") and x.lower() in
               ("firstname", "lastname", "address") for p in paths for x in p)  # mixed case
    assert any(all(x.lower() not in ("firstname", "lastname", "address") for x in p)
               for p in paths)  # routes nowhere
    sizes = {len(r["changes"][0]["value"]) for r in rows if r["op"] == "RECORD_INSERT"}
    assert max(sizes) > 3 * min(sizes)  # whole-document size varies


def test_schedule_keeps_one_file_per_slot():
    offs = changelog.schedule(1, 50, 0.5)
    assert all(0.5 * i <= o < 0.5 * (i + 1) for i, o in enumerate(offs))


def test_tables_are_deterministic_per_seed():
    a, b = datagen.tables(0.001, 5), datagen.tables(0.001, 5)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(datagen.tables(0.001, 6)["lineitem"])


def test_metric_names_and_units():
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == run.LAYER_UNITS
    for name in list(e2e) + list(layers) + [w["name"] for w in spec["workloads"]]:
        assert trace.NAME_RE.match(name), name
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS_CHOICES)


def test_percentile_rule():
    xs = list(range(1, 101))
    assert trace.percentile(xs, 0.5) == 50
    assert trace.percentile(xs, 0.9) == 90
    assert trace.percentile([3.0], 0.9) == 3.0
    assert trace.percentile([5, 1, 4, 2, 3], 0.5) == 3
    # at least ten samples beyond the percentile
    assert trace.min_samples(0.9) == 100
    assert trace.min_samples(0.5) == 20
    assert sum(1 for x in xs if x > trace.percentile(xs, 0.9)) == 10
    with pytest.raises(ValueError):
        trace.percentile([], 0.5)


def test_geomean_of_medians_weighs_each_label_once():
    values = [1.0, 100.0, 4.0, 4.0, 4.0, 16.0]
    labels = ["a", "a", "a", "b", "b", "b"]
    # medians 4 (a) and 4 (b): the outlier of "a" and the count of each
    # label do not matter
    assert trace.geomean_of_medians(values, labels) == pytest.approx(4.0)
    assert trace.geomean_of_medians([2.0, 8.0], ["x", "y"]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        trace.geomean_of_medians([], [])


def test_self_time_subtracts_covered_children():
    parent = {"id": 1, "name": "q", "parent": None, "start": 0.0, "end": 10.0}
    kids = [
        {"id": 2, "name": "a", "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "name": "b", "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 4, "name": "c", "parent": 1, "start": 9.0, "end": 12.0},
    ]
    assert trace.self_time(parent, kids) == pytest.approx(6.0)
    assert trace.self_times([parent] + kids)["q"] == pytest.approx(6.0)


def test_python_workers_import_the_package():
    """UDF queries fail with ModuleNotFoundError unless the workers can
    import the engine package; env.prepare exports PYTHONPATH for them.
    The JVM starts in a directory without the package, so the workers
    cannot find it through their working directory."""
    work = env.prepare(f"test-{os.getpid()}")
    cwd = os.getcwd()
    os.chdir(work)
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        try:

            def probe(_):
                import mapr_db_cdc_sample_spark

                return [mapr_db_cdc_sample_spark.__name__]

            got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        finally:
            spark.stop()
        assert got == ["mapr_db_cdc_sample_spark"]
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

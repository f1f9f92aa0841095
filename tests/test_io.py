"""io's memos: Spark infers a table file's schema once per process, a
later session reads the unchanged file with it and starts no job, and a
rewritten file is inferred again; the per-session scans and views are
kept for the live SparkContext only."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapr_db_cdc_sample_spark.io import TABLES, _read, load_tables, table


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_fresh_session_loads_tables_without_a_job(spark, count_jobs, sf_dir):
    """After one session has loaded the tables, a new session's
    `load_tables` starts no job, and each table file's schema is the one
    Spark infers without a schema."""
    load_tables(spark.newSession(), sf_dir)
    fresh = spark.newSession()
    assert count_jobs(fresh, f"io-load-{sf_dir}", lambda: load_tables(fresh, sf_dir)) == 0
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert _read(fresh, path).schema == spark.read.parquet(path).schema, name


def test_rewritten_table_file_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with another schema: the next
    session sees the new schema, not the one kept for the old file."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert table(spark.newSession(), str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_name": ["AFRICA"], "r_comment": ["x"]}), path)
    df = table(spark.newSession(), str(tmp_path), "region")
    assert df.columns == ["r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [("AFRICA", "x")]


def test_stopped_sessions_leave_the_scan_memo():
    """Stopping the session and building a new one three times, as
    bench.time_queries recycles, keeps the live session's ten scans and
    one view pointer, not thirty and three. It runs in a local[1]
    subprocess so the shared test session survives."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
        from mapr_db_cdc_sample_spark import io
        from mapr_db_cdc_sample_spark.session import get_spark

        for _ in range(3):
            spark = get_spark("io-memo")
            io.load_tables(spark, "/root/testdata/sf0.001")
            spark.stop()
        print("MEMO", len(io._CACHE), len(io._VIEWS))
        """
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    run = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=600
    )
    assert run.returncode == 0, run.stderr[-3000:]
    memo = [line.split() for line in run.stdout.splitlines() if line.startswith("MEMO")]
    assert memo == [["MEMO", "10", "1"]], run.stdout[-2000:]

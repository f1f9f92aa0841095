"""io's schema memo: Spark infers a table file's schema once per
process, a later session reads the unchanged file with it and starts no
job, and a rewritten file is inferred again."""

from __future__ import annotations

import os

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

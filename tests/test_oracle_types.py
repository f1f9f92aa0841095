"""Oracle output-type gate.

CORRECTNESS_r12 flagged q513/q515/q516 as hash-mismatched while
rows/schema/values all matched: their oracles emitted columns flowing
from a DuckDB window SUM(BIGINT), which is HUGEINT — numerically equal
to Spark's bigint (Python int == int, so oracle.compare passes) but a
different materialized type under the driver's hash. This test runs
every registered oracle against DuckDB at sf0.001 and asserts no output
column carries a type outside the engine-portable set
(oracle.PORTABLE), so the class cannot reappear.
"""

from __future__ import annotations

import pytest

from mapr_db_cdc_sample_spark.oracle import duck_connect, nonportable_columns
from mapr_db_cdc_sample_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"


def test_no_nonportable_oracle_output_types():
    con = duck_connect(SF_DIR)
    offenders: dict[str, list[tuple[str, str]]] = {}
    for name, q in sorted(load_all().items()):
        if not q.oracle:
            continue
        try:
            rel = con.sql(q.oracle)
        except Exception as e:  # pragma: no cover - surfaced by oracle tests
            pytest.fail(f"{name}: oracle failed to plan: {e}")
        odd = nonportable_columns(rel)
        if odd:
            offenders[name] = odd
    assert not offenders, (
        "oracles emitting non-portable column types (CAST them; "
        "DuckDB SUM/window-SUM of integers is HUGEINT): "
        f"{offenders}"
    )

"""Differential tests: the Spark side of a registry query against its
DuckDB twin, with the same exact compare tools/check_oracle.py applies.

The full sweep (`python tools/check_oracle.py <sf_dir>`) runs every query
and takes minutes; this runs the decomposition and reverse-diffusion
queries, whose kernels are shared, on every test run.
"""
from __future__ import annotations

from pathlib import Path

import pytest

from tools.check_oracle import compare, duck_con

SF = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.001")

QUERIES = (
    "decompose_full",
    "decompose_multichannel",
    "ts_strength",
    "ts_anomalies",
    "trend_poly3",
    "trend_quadratic",
    "gen_labeled",
    "sample_loop",
    "sample_fused",
    "sample_forecast",
    "sample_conditional_label",
)


@pytest.fixture(scope="module")
def duck():
    con = duck_con(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_spark_matches_duckdb_twin(spark, duck, name):
    from tsgen.queries import registry

    q = registry()[name]
    assert q.oracle, f"{name} has no DuckDB twin"
    got = q.spark_fn(spark, SF).toPandas()
    want = duck.execute(q.oracle).df()
    assert len(got) > 0
    assert compare(name, got, want) == []

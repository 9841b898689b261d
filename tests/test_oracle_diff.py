"""Differential tests: the Spark side of a registry query against its
DuckDB twin, with the same exact compare tools/check_oracle.py applies.

The full sweep (`python tools/check_oracle.py <sf_dir>`) runs every query
and takes minutes; this runs, on every test run, the queries built on
shared kernels: decomposition and reverse diffusion (one denoiser), the
graph loops (one edge symmetrization, power iteration and BFS frontier),
the IRLS GLMs, the deflated power iteration and the driver-pinned Lloyd
centroid mean.
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
    "graph_pagerank",
    "graph_ppr",
    "graph_bfs",
    "graph_closeness",
    "graph_communities",
    "graph_modularity",
    "ev_logreg",
    "ev_poisson_glm",
    "ev_hazard_glm",
    "embed_top_eigen",
    "embed_pca_power",
    "embed_abtt",
    "embed_abtt_recall",
    "ann_ivf",
    "ann_ivf_recall",
    "ann_ivf_frontier",
    "ann_ivfpq_recall",
    "ivf_cell_profile",
    "embed_kmeans",
    "embed_cluster_purity",
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

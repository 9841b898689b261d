"""Degenerate input for the shared graph loops: an empty edge list."""
from __future__ import annotations

import pytest

from tsgen import queries_experiments as qe

CASES = {
    "pagerank": (lambda e, s: qe.pagerank(e), ["node", "deg", "pr"]),
    "personalized_pagerank": (
        lambda e, s: qe.personalized_pagerank(e, s), ["node", "deg", "is_seed", "ppr"]
    ),
    "bfs_distances": (lambda e, s: qe.bfs_distances(e), ["node", "dist"]),
    "harmonic_centrality": (
        lambda e, s: qe.harmonic_centrality(e), ["src", "n_reached", "harmonic"]
    ),
    "label_propagation": (lambda e, s: qe.label_propagation(e), ["node", "community"]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_empty_edge_list_gives_empty_result(spark, name):
    fn, cols = CASES[name]
    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    seeds = spark.createDataFrame([(0,)], "node bigint")
    out = fn(edges, seeds)
    assert out.columns == cols
    assert out.collect() == []

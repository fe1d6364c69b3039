"""Star-contraction connected components: union-find equivalence on
random graphs, and the property that motivated it — fast convergence
on the Θ(n)-diameter chain graphs where one-hop min-label propagation
(even with pointer halving) measurably stalls: it advances one graph
hop per round."""

from __future__ import annotations

import numpy as np
import pytest

from spark_dns_spark.plans.q_cluster import star_contraction_components


def _uf_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label per component
    return {x: find(x) for x in parent}


def _spark_components(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = star_contraction_components(edges)
    return {r["doc_id"]: r["label"] for r in out.collect()}


def test_chain_graph_converges_fast(spark):
    # the adversarial shape for one-hop propagation: a 600-node path.
    pairs = [(i, i + 1) for i in range(600)]
    got = _spark_components(spark, pairs)
    assert set(got.values()) == {0}
    assert len(got) == 601


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graph_matches_union_find(spark, seed):
    rng = np.random.default_rng(seed)
    n, m = 200, 160  # sparse -> many nontrivial components
    pairs = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(m, 2))
        if a != b
    ]
    want = _uf_components(pairs)
    got = _spark_components(spark, pairs)
    assert got == want


def test_self_loops_and_duplicates_ignored(spark):
    pairs = [(1, 1), (2, 3), (3, 2), (2, 3), (7, 7)]
    got = _spark_components(spark, pairs)
    # self-loop-only nodes are still endpoints of the original edges
    assert got == {1: 1, 2: 2, 3: 2, 7: 7}

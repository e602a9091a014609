"""The superstep loops on degenerate graphs: no vertex, one vertex, self-loops
only, duplicated edges and isolated vertices. Each loop must return the
oracle's answer on each graph, not raise or drop vertices."""

from __future__ import annotations

from collections import Counter

import networkx as nx
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.operators.components import connected_components
from avgdist_rs_spark.operators.kcore import k_core
from avgdist_rs_spark.operators.labelprop import label_propagation
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.operators.scc import strongly_connected_components
from avgdist_rs_spark.operators.sssp import sssp
from avgdist_rs_spark.plans.graph import GraphFrame

from . import oracle

#: name → (n, directed edge list); "duplicates" is a 3-cycle with two of its
#: edges given twice, "isolated" one 2-cycle beside three lone vertices
GRAPHS = {
    "empty": (0, []),
    "single": (1, []),
    "self_loops": (3, [(0, 0), (1, 1), (2, 2)]),
    "duplicates": (3, [(0, 1), (0, 1), (1, 2), (1, 2), (2, 0)]),
    "isolated": (5, [(0, 1), (1, 0)]),
}
K = 2
LPA_ITERATIONS = 3
PR_ITERATIONS = 10


def _edges(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"], dtype="int64"),
                                 "src long, dst long")


@pytest.fixture(scope="module")
def graphs(spark):
    gs = {name: GraphFrame.from_edges(_edges(spark, pairs), num_nodes=n)
          for name, (n, pairs) in GRAPHS.items()}
    yield gs
    for g in gs.values():
        g.unpersist()


def _undirected(n, pairs) -> dict[int, set[int]]:
    """The engine's symmetric view: a self-loop is its vertex's own neighbor."""
    nbrs: dict[int, set[int]] = {v: set() for v in range(n)}
    for s, d in pairs:
        nbrs[s].add(d)
        nbrs[d].add(s)
    return nbrs


def _min_labels(components) -> dict[int, int]:
    return {v: min(c) for c in components for v in c}


def _k_core(n, pairs) -> dict[int, int]:
    nbrs = _undirected(n, pairs)
    alive = {v for v in range(n) if nbrs[v]}
    while True:
        deg = {v: len(nbrs[v] & alive) for v in alive}
        peel = {v for v, d in deg.items() if d < K}
        if not peel:
            return deg
        alive -= peel


def _lpa(n, pairs) -> dict[int, int]:
    """Most frequent neighbor label, ties to the smallest; no neighbor keeps
    its own."""
    nbrs = _undirected(n, pairs)
    label = {v: v for v in range(n)}
    for _ in range(LPA_ITERATIONS):
        votes = {v: Counter(label[u] for u in nbrs[v]) for v in range(n)}
        label = {
            v: min(c, key=lambda lab, c=c: (-c[lab], lab)) if c else label[v]
            for v, c in votes.items()
        }
    return label


def _expected(loop, n, pairs) -> dict:
    dg = nx.DiGraph()
    dg.add_nodes_from(range(n))
    dg.add_edges_from(pairs)
    if loop == "cc":
        return _min_labels(nx.weakly_connected_components(dg))
    if loop == "scc":
        return _min_labels(nx.strongly_connected_components(dg))
    if loop == "sssp":  # from vertex 0 at unit weights
        hops = nx.single_source_shortest_path_length(dg, 0) if n else {}
        return {v: float(d) for v, d in hops.items()}
    if loop == "kcore":
        return _k_core(n, pairs)
    if loop == "lpa":
        return _lpa(n, pairs)
    if n == 0:
        return {}
    return dict(enumerate(oracle.pagerank(sorted(set(pairs)), n, iterations=PR_ITERATIONS)))


def _run(loop, spark, g, n, pairs) -> dict:
    if loop == "cc":
        df = connected_components(g)
    elif loop == "scc":
        df = strongly_connected_components(g)
    elif loop == "sssp":
        # the raw edge list, duplicates included, at unit weight
        ew = _edges(spark, pairs).withColumn("w", F.lit(1.0))
        df = sssp(ew, spark.createDataFrame([(v,) for v in range(min(n, 1))], "v long"))
    elif loop == "kcore":
        df = k_core(g, k=K)
    elif loop == "lpa":
        df = label_propagation(g, iterations=LPA_ITERATIONS)
    else:
        df = pagerank(g, iterations=PR_ITERATIONS)
    return {int(r[0]): r[1] for r in df.collect()}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
@pytest.mark.parametrize("loop", ["cc", "kcore", "lpa", "pagerank", "scc", "sssp"])
def test_loop_on_degenerate_graph(spark, graphs, loop, graph):
    n, pairs = GRAPHS[graph]
    got = _run(loop, spark, graphs[graph], n, pairs)
    want = _expected(loop, n, pairs)
    if loop == "pagerank":
        assert sorted(got) == sorted(want)
        assert np.allclose([got[v] for v in sorted(got)], [want[v] for v in sorted(want)],
                           atol=1e-12)
    else:
        assert got == want

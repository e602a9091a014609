"""North-rule algorithms vs networkx / analytic oracles; centrality vs reference
semantics; salting equivalence."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from avgdist_rs_spark.operators.centrality import (
    centrality_histogram,
    closeness_centrality,
    harmonic_centrality,
)
from avgdist_rs_spark.operators.components import connected_components
from avgdist_rs_spark.operators.degrees import degree_histogram, hubs, sink_count
from avgdist_rs_spark.operators.labelprop import label_propagation
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.operators.triangles import per_vertex_triangles, triangle_count
from avgdist_rs_spark.sources import fixtures as FX

from . import oracle


def test_sink_count(spark):
    g = FX.star_graph(spark, n=10)  # leaves 11..20 are sinks
    assert sink_count(g) == 10
    g.unpersist()
    g = FX.path_graph(spark, n=5)
    assert sink_count(g) == 1
    g.unpersist()
    g = FX.cycle3_graph(spark)
    assert sink_count(g) == 0
    g.unpersist()


def test_degree_histogram_and_hubs(spark):
    g = FX.star_graph(spark, n=10)
    h = {r["degree"]: r["cnt"] for r in degree_histogram(g, "out").collect()}
    assert h == {10: 1, 1: 10, 0: 10}
    hub = hubs(g, threshold=5).collect()
    assert [(r["v"], r["degree"]) for r in hub] == [(0, 10)]
    g.unpersist()


def test_harmonic_exact_star(spark):
    """star n=3: 0→{1,2,3}, i→3+i. Harmonic on forward graph:
    spokes get 1/2 (from 0, d=1)/|S|; leaves get (1/2 from spoke + 1/3 from 0)."""
    g = FX.star_graph(spark, n=3)  # 7 vertices
    scores = {r["v"]: r["harmonic"] for r in harmonic_centrality(g, exact=True).collect()}
    S = 7
    for spoke in (1, 2, 3):
        assert scores[spoke] == pytest.approx(0.5 / S, abs=1e-12)
    for leaf in (4, 5, 6):
        assert scores[leaf] == pytest.approx((0.5 + 1 / 3) / S, abs=1e-12)
    assert 0 not in scores  # center unreached → excluded, not 0
    g.unpersist()


def test_harmonic_vs_networkx_er(spark):
    """ER-1k vs networkx: reference uses 1/(1+d) over seeds INCLUDING d from any
    seed; networkx harmonic is Σ1/d — relate on the same graph by recomputing
    the reference formula with networkx shortest paths."""
    nx = pytest.importorskip("networkx")
    g = FX.er1k_graph(spark)
    pairs = FX.er1k_pairs()
    G = nx.DiGraph()
    G.add_nodes_from(range(1000))
    G.add_edges_from(map(tuple, pairs))
    want: dict[int, float] = {}
    for s in range(1000):
        for v, d in nx.single_source_shortest_path_length(G, s).items():
            if d > 0:
                want[v] = want.get(v, 0.0) + 1.0 / (1.0 + d)
    got = {r["v"]: r["harmonic"] for r in harmonic_centrality(g, exact=True).collect()}
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v] / 1000, rel=1e-9)
    g.unpersist()


def test_closeness_exact_path(spark):
    """path 0→1→2→3: dist_sum into v from all sources; c=1/(dist_sum·n)."""
    g = FX.path_graph(spark, n=4)
    got = {r["v"]: r["closeness"] for r in closeness_centrality(g, exact=True).collect()}
    # incoming distances (forward orientation): v1: {0:1} sum 1; v2: {0:2,1:1}=3; v3: {0:3,1:2,2:1}=6
    assert got == pytest.approx({1: 1 / (1 * 4), 2: 1 / (3 * 4), 3: 1 / (6 * 4)})
    g.unpersist()


def test_histogram_buckets(spark):
    g = FX.path_graph(spark, n=4)
    sc = closeness_centrality(g, exact=True)
    h = centrality_histogram(sc, "closeness").collect()
    buckets = [int(r["bucket"]) for r in h]
    assert buckets == sorted(buckets, reverse=True)
    assert sum(r["cnt"] for r in h) == 3


def test_pagerank_vs_oracle(spark):
    g = FX.barabasi_graph(spark, n=120, m=3)
    pairs = FX.barabasi_pairs(120, 3)
    iters = 40
    got = {r["v"]: r["rank"] for r in pagerank(g, iterations=iters).collect()}
    want = oracle.pagerank(pairs, 120, iterations=iters, damping=0.85)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in range(120):
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"v={v}"
    g.unpersist()


def test_k_core_vs_networkx(spark):
    nx = pytest.importorskip("networkx")
    from avgdist_rs_spark.operators.kcore import k_core
    from avgdist_rs_spark.plans.graph import GraphFrame

    # a 4-clique with a pendant path and an isolated triangle
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (3, 4), (4, 5), (10, 11), (11, 12), (12, 10)]
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=13)
    G = nx.Graph(pairs)
    for k in (1, 2, 3, 4):
        got = {r["v"]: r["deg"] for r in k_core(g, k=k).collect()}
        core = nx.k_core(G, k)
        assert set(got) == set(core.nodes), f"k={k}"
        for v, d in core.degree():
            assert got[v] == d, f"k={k} v={v}"
    g.unpersist()


def test_pagerank_personalized_vs_oracle(spark):
    """PPR: teleport mass on the seed set; Σrank = 1; matches the pure-python
    oracle at equal iterations; seed-distant mass decays."""
    g = FX.barabasi_graph(spark, n=120, m=3)
    pairs = FX.barabasi_pairs(120, 3)
    iters = 40
    seeds = [3, 7]
    got = {
        r["v"]: r["rank"]
        for r in pagerank(g, iterations=iters, seeds=seeds).collect()
    }
    want = oracle.pagerank(pairs, 120, iterations=iters, damping=0.85, seeds=seeds)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in range(120):
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"v={v}"
    # restart mass makes seeds rank above the uniform-teleport level
    assert got[3] > 1.0 / 120 and got[7] > 1.0 / 120
    g.unpersist()


def test_connected_components_exact(spark):
    nx = pytest.importorskip("networkx")
    # two separate structures: a path 0..4 and a 3-cycle 10,11,12 + isolated 20
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)]
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    from avgdist_rs_spark.plans.graph import GraphFrame

    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=21)
    got = {r["v"]: r["component"] for r in connected_components(g).collect()}
    G = nx.Graph()
    G.add_nodes_from(range(21))
    G.add_edges_from(pairs)
    for comp in nx.connected_components(G):
        label = min(comp)
        for v in comp:
            assert got[v] == label
    g.unpersist()


def test_connected_components_er1k(spark):
    nx = pytest.importorskip("networkx")
    g = FX.er1k_graph(spark)
    pairs = FX.er1k_pairs()
    got = {r["v"]: r["component"] for r in connected_components(g).collect()}
    G = nx.Graph()
    G.add_nodes_from(range(1000))
    G.add_edges_from(map(tuple, pairs))
    for comp in nx.connected_components(G):
        label = min(comp)
        for v in comp:
            assert got[v] == label, f"v={v}"
    g.unpersist()


def test_label_propagation_deterministic(spark):
    """Two cliques joined by one bridge edge: LPA labels each clique by its min id."""
    clique1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    pairs = clique1 + clique2 + [(3, 10)]
    from avgdist_rs_spark.plans.graph import GraphFrame

    g = GraphFrame.from_edges(
        spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"])), num_nodes=14
    )
    got = {r["v"]: r["label"] for r in label_propagation(g, iterations=8).collect()}
    assert len({got[v] for v in range(4)}) == 1
    assert len({got[v] for v in range(10, 14)}) == 1
    # determinism: a second run is identical
    got2 = {r["v"]: r["label"] for r in label_propagation(g, iterations=8).collect()}
    assert got == got2
    g.unpersist()


def test_triangle_count_vs_networkx(spark):
    nx = pytest.importorskip("networkx")
    g = FX.barabasi_graph(spark, n=100, m=3)
    pairs = FX.barabasi_pairs(100, 3)
    G = nx.Graph()
    G.add_edges_from(map(tuple, pairs))
    want = sum(nx.triangles(G).values()) // 3
    assert triangle_count(g) == want
    pv = {r["v"]: r["triangles"] for r in per_vertex_triangles(g).collect()}
    nxt = nx.triangles(G)
    for v, t in nxt.items():
        assert pv.get(v, 0) == t
    # degree-ordered (skew-safe default) and id-ordered orientations agree
    assert triangle_count(g, orientation="id") == want
    g.unpersist()


def test_cc_auto_shortcut_on_chain(spark):
    """The auto default switches to pointer jumping after 4 plain supersteps:
    a 500-hop chain converges in O(log) supersteps, not ~500, with the exact
    same labeling as forced plain hash-min."""
    from avgdist_rs_spark.plans.graph import GraphFrame
    from avgdist_rs_spark.streaming.superstep import SuperstepMetrics
    from pyspark.sql import functions as F

    n = 500
    ce = spark.range(n - 1).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    cg = GraphFrame.from_edges(ce, num_nodes=n, dedup=False)
    met = SuperstepMetrics()
    auto = connected_components(cg, metrics=met).toPandas().set_index("v")["component"]
    assert met.total_supersteps <= 14  # 4 plain + ~log2(500/4) jumping rounds
    assert (auto == 0).all()  # one chain, min label everywhere
    cg.unpersist()


def test_salted_bfs_equivalence(spark):
    """North rule: salted and unsalted runs produce identical scores."""
    g = FX.barabasi_graph(spark, n=150, m=3)
    seeds = pd.DataFrame({"seed": np.array([50, 149, 3], dtype=np.int64)})
    from avgdist_rs_spark.operators.bfs import bfs_frontier

    sdf = spark.createDataFrame(seeds, "seed long")
    plain = sorted(
        (r["seed"], r["v"], r["dist"]) for r in bfs_frontier(g, sdf).collect()
    )
    salted = sorted(
        (r["seed"], r["v"], r["dist"])
        for r in bfs_frontier(g, sdf, num_salts=4).collect()
    )
    assert plain == salted
    g.unpersist()


def test_cc_auto_schedule_on_path_and_random_graph(spark):
    """CC's schedule, 4 plain hash-min supersteps then pointer jumping, on
    a 128-vertex path: labels are 4 hops from 0 after the plain supersteps,
    superstep 5 moves them 20 hops (one hop, then two squarings), superstep
    6 another 84 and superstep 7 the rest; superstep 8 changes nothing, not
    ~127 of plain hash-min. A Barabási graph gets networkx's labeling."""
    nx = pytest.importorskip("networkx")

    from avgdist_rs_spark.operators.components import connected_components
    from avgdist_rs_spark.plans.graph import GraphFrame
    from avgdist_rs_spark.sources.fixtures import barabasi_graph, barabasi_pairs
    from avgdist_rs_spark.streaming.superstep import SuperstepMetrics, superstep

    n = 128
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    g = GraphFrame.from_edges(pairs, num_nodes=n)
    met, call = SuperstepMetrics(), SuperstepMetrics()
    with superstep(call, 1):
        cc = connected_components(g, metrics=met)
    got = cc.collect()
    assert all(r["component"] == 0 for r in got) and len(got) == n
    assert [r["jobs"] for r in met.records] == [1] * 8
    # beyond its supersteps: the symmetric edge table's count, the labels' cut
    assert call.records[0]["jobs"] == 8 + 2
    g.unpersist()

    g2 = barabasi_graph(spark, n=150, m=2, seed=9)
    met2 = SuperstepMetrics()
    got2 = {r["v"]: r["component"] for r in connected_components(g2, metrics=met2).collect()}
    G = nx.Graph()
    G.add_nodes_from(range(150))
    G.add_edges_from(map(tuple, barabasi_pairs(150, 2, 9)))
    assert got2 == {v: min(c) for c in nx.connected_components(G) for v in c}
    assert met2.total_supersteps == 5
    g2.unpersist()


def test_k_truss_vs_networkx(spark):
    """Edge-level peel: truss edge sets match networkx across k, and the
    reported support equals the triangle count inside the final truss."""
    nx = pytest.importorskip("networkx")
    from avgdist_rs_spark.operators.ktruss import k_truss

    # 5-clique + 4-clique sharing a vertex, a pendant triangle, a bridge
    pairs = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in (4, 10, 11, 12) for b in (4, 10, 11, 12) if a < b]
        + [(12, 20), (20, 21), (21, 22), (22, 20)]
    )
    edges = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    G = nx.Graph(pairs)
    for k in (3, 4, 5):
        rows = k_truss(edges, k=k).collect()
        got_edges = {(r["a"], r["b"]) for r in rows}
        T = nx.k_truss(G, k)
        want_edges = {(min(a, b), max(a, b)) for a, b in T.edges()}
        assert got_edges == want_edges, f"k={k}"
        # support = triangles through the edge INSIDE the truss
        for r in rows:
            common = len(set(T[r["a"]]) & set(T[r["b"]]))
            assert r["support"] == common, f"k={k} edge=({r['a']},{r['b']})"
    # k=6 empties the graph (max clique is 5)
    assert k_truss(edges, k=6).count() == 0
    with pytest.raises(ValueError):
        k_truss(edges, k=1)


def test_k_truss_random_vs_networkx(spark):
    nx = pytest.importorskip("networkx")
    from avgdist_rs_spark.operators.ktruss import k_truss

    rng = np.random.default_rng(5)
    pairs = {tuple(sorted(p)) for p in rng.integers(0, 60, size=(400, 2)) if p[0] != p[1]}
    edges = spark.createDataFrame(pd.DataFrame(sorted(pairs), columns=["src", "dst"]))
    G = nx.Graph(sorted(pairs))
    for k in (3, 4):
        got = {(r["a"], r["b"]) for r in k_truss(edges, k=k).collect()}
        want = {(min(a, b), max(a, b)) for a, b in nx.k_truss(G, k).edges()}
        assert got == want, f"k={k}"

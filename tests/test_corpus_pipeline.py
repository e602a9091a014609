"""Semantics of the corpus rollup and the stratified training-mix sampler."""

from pyspark.sql import functions as F


def test_corpus_stats_semantics(spark):
    from avgdist_rs_spark.operators.pipeline import corpus_stats

    en = "the cat and the dog ran to the park and sat on it for fun"
    de = "der hund und die katze sind in den garten mit von zu ist da"
    docs = spark.createDataFrame(
        [(0, en), (1, en + " again today"), (2, de)],
        "doc_id long, text string",
    )
    got = {r["lang_pred"]: r for r in corpus_stats(docs).collect()}
    assert set(got) == {"en", "de"}
    assert got["en"]["n_docs"] == 2 and got["de"]["n_docs"] == 1
    # exact interpolated median of [15, 17] = 16
    assert got["en"]["median_tokens"] == 16.0
    assert got["en"]["total_tokens"] == 32 and got["de"]["total_tokens"] == 14


def test_stratified_sample_fractions(spark):
    from avgdist_rs_spark.operators.pipeline import stratified_sample
    from avgdist_rs_spark.operators.textstats import lang_id

    en = "the cat and the dog ran to the park and sat on it for fun doc "
    docs = spark.createDataFrame(
        [(i, en + str(i)) for i in range(400)], "doc_id long, text string"
    )
    # frac=1 keeps everything, frac=0 would keep nothing; 0.5 lands near half
    full = stratified_sample(docs, {"en": 1.0}).count()
    assert full == 400
    half = stratified_sample(docs, {"en": 0.5}).count()
    assert 140 <= half <= 260
    # deterministic: same call, same sample
    a = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.5}).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.5}).collect()}
    assert a == b and len(a) == half
    # absent strata are dropped entirely
    assert stratified_sample(docs, {"de": 1.0}).count() == 0
    # the kept set is a subset of the full stratum with the predicted language
    langs = {r["id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert all(langs[i] == "en" for i in a)


def test_clustering_and_summary_vs_networkx(spark):
    import pytest
    nx = pytest.importorskip("networkx")
    import pandas as pd
    from avgdist_rs_spark.operators.degrees import graph_summary
    from avgdist_rs_spark.operators.triangles import clustering_coefficients
    from avgdist_rs_spark.plans.graph import GraphFrame

    pairs = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 2), (5, 0), (1, 5)]
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=7)
    G = nx.Graph(pairs)
    G.add_nodes_from(range(7))
    lcc = nx.clustering(G)
    got = {r["v"]: r for r in clustering_coefficients(g).collect()}
    for v in range(7):
        assert got[v]["lcc"] == pytest.approx(lcc[v], abs=1e-6), f"v={v}"
        assert got[v]["deg"] == G.degree(v)
    s = graph_summary(g).collect()[0]
    assert s["num_nodes"] == 7 and s["num_edges"] == 8
    assert s["triangles"] == sum(nx.triangles(G).values()) // 3
    assert s["transitivity"] == pytest.approx(nx.transitivity(G), abs=1e-6)
    assert s["assortativity"] == pytest.approx(
        nx.degree_assortativity_coefficient(G), abs=1e-6
    )
    g.unpersist()

    # wedge-free graph (one isolated edge): transitivity is NULL, not a
    # division-by-zero artifact (round-3 advice)
    g0 = GraphFrame.from_edges(
        spark.createDataFrame(pd.DataFrame([(0, 1)], columns=["src", "dst"])),
        num_nodes=2,
    )
    s0 = graph_summary(g0).collect()[0]
    assert s0["transitivity"] is None and s0["triangles"] == 0
    g0.unpersist()


def test_scc_vs_networkx(spark):
    import pytest
    nx = pytest.importorskip("networkx")
    import pandas as pd
    from avgdist_rs_spark.operators.scc import strongly_connected_components
    from avgdist_rs_spark.plans.graph import GraphFrame

    # two directed cycles bridged one-way, a chain in, a chain out, a
    # self-loop, and isolated vertices
    pairs = [
        (0, 1), (1, 2), (2, 0),          # 3-cycle
        (2, 3), (3, 4), (4, 5), (5, 3),  # bridge into a second 3-cycle
        (6, 0),                          # chain into the first cycle
        (5, 7), (7, 8),                  # chain out
        (9, 9),                          # self-loop
    ]
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=12, dedup=False)
    got = {r["v"]: r["component"] for r in strongly_connected_components(g).collect()}
    G = nx.DiGraph(pairs)
    G.add_nodes_from(range(12))
    assert set(got) == set(range(12))
    for comp in nx.strongly_connected_components(G):
        label = min(comp)
        for v in comp:
            assert got[v] == label, f"v={v}"
    g.unpersist()


def test_scc_large_cycle_and_dag(spark):
    """A 64-vertex directed cycle (one giant SCC exercising the coloring +
    backward sweep — O(cycle length) supersteps, so kept small) plus a DAG
    tail (trim path)."""
    from pyspark.sql import functions as F
    from avgdist_rs_spark.operators.scc import strongly_connected_components
    from avgdist_rs_spark.plans.graph import GraphFrame

    n = 64
    cyc = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    tail = spark.range(n, n + 20).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    g = GraphFrame.from_edges(cyc.unionAll(tail), num_nodes=n + 21, dedup=False)
    got = {r["v"]: r["component"] for r in strongly_connected_components(g).collect()}
    assert all(got[v] == 0 for v in range(n))
    assert all(got[v] == v for v in range(n, n + 21))
    g.unpersist()


def test_scc_10k_cycle_olog_supersteps(spark):
    """North-star large-diameter regime (mirrors ``cc_chain_10k``): a directed
    10k-vertex cycle is ONE SCC of diameter ~10k. Plain coloring + frontier
    sweep would need ~2×10⁴ supersteps; the auto pointer-jump shortcut (color
    doubling + rcolor-based backward membership) must land in O(log n)."""
    from avgdist_rs_spark.operators.scc import strongly_connected_components
    from avgdist_rs_spark.plans.graph import GraphFrame
    from avgdist_rs_spark.streaming.superstep import SuperstepMetrics

    n = 10_000
    cyc = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    g = GraphFrame.from_edges(cyc, num_nodes=n, dedup=False)
    met = SuperstepMetrics()
    got = strongly_connected_components(g, metrics=met).toPandas()
    assert (got["component"] == 0).all() and len(got) == n
    # 1 no-op trim + (4 plain + ~2·log2 whp jumping) color + same-shape rcolor
    # pass — measured 51; anything O(n)-ish would be thousands
    assert met.total_supersteps <= 60, met.total_supersteps
    g.unpersist()


def test_scc_backward_phases_match_networkx(spark):
    """Both backward phases give networkx's exact labeling on a graph with
    nontrivial SCCs, chains and a self-loop: without the edge 8→6 the
    coloring is short and the frontier sweep (``bwd``) runs; with it the
    coloring runs past AUTO_SHORTCUT_AFTER supersteps and the rcolor
    propagation runs instead."""
    import pandas as pd
    import pytest
    nx = pytest.importorskip("networkx")
    from avgdist_rs_spark.operators.scc import strongly_connected_components
    from avgdist_rs_spark.plans.graph import GraphFrame
    from avgdist_rs_spark.streaming.superstep import SuperstepMetrics

    pairs = [
        (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3),
        (6, 0), (5, 7), (7, 8), (9, 9),
    ]
    for extra, n, backward in (([], 12, "bwd"), ([(8, 6)], 11, "rcolor")):
        edges = pairs + extra
        pdf = pd.DataFrame(edges, columns=["src", "dst"])
        g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=n, dedup=False)
        met = SuperstepMetrics()
        got = {
            r["v"]: r["component"]
            for r in strongly_connected_components(g, metrics=met).collect()
        }
        G = nx.DiGraph(edges)
        G.add_nodes_from(range(n))
        assert got == {v: min(c) for c in nx.strongly_connected_components(G) for v in c}
        phases = {r["phase"] for r in met.records}
        assert phases == {"trim", "color", backward}, phases
        g.unpersist()


def test_scc_deep_chain_dag_bounded_plan(spark):
    """A deep chain DAG drives over a hundred trim supersteps in one round. A
    graph that resolves one SCC per round makes more assigned parts than
    ASSIGNED_FOLD_EVERY (two per round), yet the result's plan unions at
    most that many: the parts fold through local_cut on that cadence."""
    from avgdist_rs_spark.operators import scc as scc_mod
    from avgdist_rs_spark.plans.graph import GraphFrame
    from avgdist_rs_spark.streaming.superstep import SuperstepMetrics

    n = 240  # chain trims 2 vertices/superstep -> ~120 trim supersteps
    chain = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    g = GraphFrame.from_edges(chain, num_nodes=n, dedup=False)
    met = SuperstepMetrics()
    got = scc_mod.strongly_connected_components(g, metrics=met).toPandas()
    # every vertex is its own singleton SCC on a DAG
    assert (got["v"] == got["component"]).all() and len(got) == n
    assert met.total_supersteps > 100
    g.unpersist()

    # five 2-cycles S0..S4 with S_i → S_j for every i < j, S_i's vertices of
    # higher coloring priority than S_j's: each round's one color class is
    # pivoted in the first SCC left, so a round resolves one SCC
    n, k = 40, 5
    ids = [
        r["id"] for r in spark.range(n)
        .orderBy(F.xxhash64("id").desc(), F.col("id").desc()).limit(2 * k).collect()
    ]
    sccs = [ids[2 * i: 2 * i + 2] for i in range(k)]
    pairs = [(a, b) for a, b in sccs] + [(b, a) for a, b in sccs]
    pairs += [(sccs[i][0], sccs[j][0]) for i in range(k) for j in range(i + 1, k)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    g = GraphFrame.from_edges(edges, num_nodes=n, dedup=False)
    met = SuperstepMetrics()
    res = scc_mod.strongly_connected_components(g, metrics=met)
    want = {v: v for v in range(n)} | {v: min(c) for c in sccs for v in c}
    assert {r["v"]: r["component"] for r in res.collect()} == want
    phases = [r["phase"] for r in met.records]
    rounds = sum(p == "trim" and q != "trim" for p, q in zip(phases, [None] + phases))
    assert rounds == k and 2 * k > scc_mod.ASSIGNED_FOLD_EVERY
    plan = res._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "Union"
    assert plan.children().size() <= scc_mod.ASSIGNED_FOLD_EVERY
    g.unpersist()


def test_link_prediction_vs_networkx(spark):
    import pytest
    nx = pytest.importorskip("networkx")
    import pandas as pd
    from avgdist_rs_spark.operators.degrees import link_prediction_scores
    from avgdist_rs_spark.plans.graph import GraphFrame

    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4), (0, 5), (4, 5), (2, 6)]
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=7)
    G = nx.Graph(pairs)
    got = {
        (r["a"], r["b"]): (r["common"], r["adamic_adar"])
        for r in link_prediction_scores(g, min_common=1).collect()
    }
    want_aa = {(min(u, v), max(u, v)): s for u, v, s in nx.adamic_adar_index(G)}
    want_cn = {
        p: len(list(nx.common_neighbors(G, *p))) for p in want_aa
    }
    expected = {p for p in want_aa if want_cn[p] >= 1}
    assert set(got) == expected
    for p in expected:
        assert got[p][0] == want_cn[p]
        assert got[p][1] == pytest.approx(want_aa[p], abs=1e-6)
    g.unpersist()


def test_betweenness_vs_networkx(spark):
    import pytest
    nx = pytest.importorskip("networkx")
    import pandas as pd
    from avgdist_rs_spark.operators.betweenness import betweenness
    from avgdist_rs_spark.plans.graph import GraphFrame

    # directed: chains, a diamond (sigma > 1), a cycle, a hub
    pairs = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3), (3, 5), (5, 6), (6, 3),
             (1, 7), (7, 8), (2, 8), (8, 9)]
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=10)
    G = nx.DiGraph(pairs)
    G.add_nodes_from(range(10))
    want = nx.betweenness_centrality(G, normalized=False)
    got = {r["v"]: r["bc"] for r in betweenness(g).collect()}
    for v in range(10):
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"v={v}"
    # sampled with ALL vertices as explicit seeds == exact (scale = 1)
    import numpy as np
    got_s = {r["v"]: r["bc"] for r in betweenness(g, seeds=np.arange(10)).collect()}
    assert got_s == got

    # the sharded lockstep strategy produces the identical exact scores
    got_sh = {r["v"]: r["bc"] for r in betweenness(g, strategy="shards").collect()}
    for v in range(10):
        assert got_sh[v] == pytest.approx(want[v], abs=1e-6), f"shards v={v}"
    g.unpersist()


def test_betweenness_shards_past_broadcast_cap(spark):
    """The round-3 gap: past csr_max_edges the operator RAISED even in sampled
    mode (the reference's flagship graph is 2.16e9 edges). auto must now fall
    back to the sharded lockstep strategy and still match the broadcast scores
    vertex-for-vertex — driver-ceiling style (à la test_csr_shards): the cap
    is forced below the graph size so the broadcast path is unavailable."""
    import numpy as np
    import pytest
    from avgdist_rs_spark.operators.betweenness import betweenness
    from avgdist_rs_spark.sources.fixtures import barabasi_graph

    g = barabasi_graph(spark, n=200, m=3, seed=11)
    seeds = np.array([0, 7, 42, 120, 199], dtype=np.int64)
    want = (
        betweenness(g, seeds=seeds)  # broadcast path (under the real cap)
        .toPandas().set_index("v")["bc"]
    )
    with pytest.raises(ValueError, match="shards"):
        betweenness(g, seeds=seeds, strategy="broadcast", csr_max_edges=10)
    got = (
        betweenness(g, seeds=seeds, csr_max_edges=10)  # auto -> shards
        .toPandas().set_index("v")["bc"]
    )
    assert len(got) == 200
    for v in got.index:
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"v={v}"

    # with-replacement semantics: DUPLICATE seeds count once per occurrence
    # in both strategies (the shards path weights by multiplicity)
    dup = np.array([7, 7, 42, 7], dtype=np.int64)
    wb = betweenness(g, seeds=dup).toPandas().set_index("v")["bc"]
    ws = betweenness(g, seeds=dup, strategy="shards").toPandas().set_index("v")["bc"]
    for v in wb.index:
        assert ws[v] == pytest.approx(wb[v], abs=1e-6), f"dup v={v}"
    g.unpersist()


def test_betweenness_exact_shards_waves(spark):
    """Exact mode over shards drains sources in bounded waves: with the wave
    size forced below n, the multi-wave accumulation equals the broadcast
    exact scores vertex-for-vertex (driver-ceiling style: csr cap forced low
    so broadcast is unavailable to the shards run)."""
    import pytest
    from avgdist_rs_spark.operators.betweenness import betweenness
    from avgdist_rs_spark.sources.fixtures import barabasi_graph

    g = barabasi_graph(spark, n=120, m=2, seed=5)
    want = betweenness(g).toPandas().set_index("v")["bc"]  # broadcast exact
    got = (
        betweenness(g, csr_max_edges=10, exact_wave_seeds=50)  # auto -> shards
        .toPandas()
        .set_index("v")["bc"]
    )
    assert len(got) == 120
    for v in got.index:
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"v={v}"
    g.unpersist()

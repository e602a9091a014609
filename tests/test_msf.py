"""Borůvka MSF: exact parity with networkx Kruskal under the same weights.

The (w, u, v) total order makes the forest unique, so parity is exact edge-set
equality, not just weight-sum equality.
"""

import hashlib
import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.operators.msf import minimum_spanning_forest, msf_total_weight
from avgdist_rs_spark.streaming.superstep import SuperstepMetrics

nx = pytest.importorskip("networkx")


def py_hash64(s: str, salt: str = "") -> int:
    return int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)


def _nx_msf(edge_list):
    """networkx Kruskal on the identical md5 weights + (w,u,v) tie order."""
    g = nx.Graph()
    for s, d in edge_list:
        if s == d:
            continue
        u, v = (s, d) if s < d else (d, s)
        g.add_edge(u, v, weight=py_hash64(f"{u}:{v}", "msf:"))
    ws = [w for _, _, w in g.edges(data="weight")]
    assert len(ws) == len(set(ws))  # distinct ⇒ MSF unique, tie order moot
    return {
        (u, v, d["weight"]) if u < v else (v, u, d["weight"])
        for u, v, d in nx.minimum_spanning_edges(g, algorithm="kruskal", data=True)
    }


def _spark_msf(spark, edge_list):
    e = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        (r["u"], r["v"], r["w"])
        for r in minimum_spanning_forest(e).collect()
    }


def test_msf_two_components_with_cycles(spark):
    edges = [
        (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2),   # component A
        (10, 11), (11, 12), (12, 10),                      # component B
        (5, 5),                                            # self-loop dropped
        (1, 0),                                            # parallel reverse
    ]
    got = _spark_msf(spark, edges)
    want = _nx_msf(edges)
    assert got == want
    # forest sizes: (5 vertices → 4 edges) + (3 vertices → 2 edges)
    assert len(got) == 6


def test_msf_random_graphs_parity(spark):
    rng = np.random.default_rng(11)
    for trial in range(3):
        n = 60
        m = 150
        edges = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
        ]
        got = _spark_msf(spark, edges)
        want = _nx_msf(edges)
        assert got == want, f"trial {trial}"


def test_msf_long_chain_contracts_in_log_rounds(spark):
    """A 200-vertex path: Borůvka must converge by component halving, not by
    crawling the diameter (max_rounds=12 ≫ log2(200) but ≪ 200)."""
    edges = [(i, i + 1) for i in range(200)]
    e = spark.createDataFrame(edges, "src long, dst long")
    met = SuperstepMetrics(name="msf", counters=False)
    f = minimum_spanning_forest(e, max_rounds=12, metrics=met)
    assert f.count() == 200  # a tree on 201 vertices
    got = {(r["u"], r["v"]) for r in f.collect()}
    assert got == {(i, i + 1) for i in range(200)}  # the path IS its MSF

    # one sequence of records: each round, then its pointer jumps; the last
    # round finds no crossing edge and jumps no more
    recs = met.records
    assert [r["superstep"] for r in recs] == list(range(1, len(recs) + 1))
    rounds = [r for r in recs if r["phase"] == "round"]
    assert [r["round"] for r in rounds] == list(range(1, len(rounds) + 1))
    assert rounds[-1]["rows"] == 0 < min(r["rows"] for r in rounds[:-1])
    phases = [p for p, _ in itertools.groupby(r["phase"] for r in recs)]
    assert phases == ["round", "jump"] * (len(rounds) - 1) + ["round"]
    for r in rounds[:-1]:
        jumps = [j["rows"] for j in recs if j["phase"] == "jump" and j["round"] == r["round"]]
        # the jump budget: depth at least quadruples per jump, and no chain
        # is longer than the round's 2 * n_cross endpoints
        assert jumps[-1] == 0 and len(jumps) <= (2 * r["rows"]).bit_length() + 1, (r, jumps)


def test_msf_explicit_weights_and_summary(spark):
    # explicit weights force a specific tree: star around 0 except 2-3 cheap
    rows = [(0, 1, 1.0), (0, 2, 1.0), (0, 3, 50.0), (2, 3, 2.0), (1, 2, 90.0)]
    e = spark.createDataFrame(rows, "src long, dst long, wt double")
    f = {(r["u"], r["v"], r["w"]) for r in
         minimum_spanning_forest(e, weight_col="wt").collect()}
    assert f == {(0, 1, 1.0), (0, 2, 1.0), (2, 3, 2.0)}
    s = msf_total_weight(e, weight_col="wt").collect()[0]
    assert (s["n_edges"], s["total_weight"]) == (3, 4.0)


def test_msf_parallelism_invariant(spark):
    rng = np.random.default_rng(5)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 40, 80), rng.integers(0, 40, 80))
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, minimum_spanning_forest(e).collect()))
    b = sorted(map(tuple, minimum_spanning_forest(e.repartition(13)).collect()))
    assert a == b

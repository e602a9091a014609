"""HyperBall sketches vs exact BFS values — the 10^9-vertex centrality path.

Gate: per-vertex relative error within HyperLogLog theory (p=10 → σ≈3.3%;
observed ~0.5–1% mean on wiki-Vote) against the engine's OWN exact values,
which are themselves golden-verified against the reference's LAW arrays in
``test_reference_goldens.py`` — so this closes the loop: exact ≡ LAW goldens,
sketches ≈ exact.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.operators.bfs import bfs_csr
from avgdist_rs_spark.operators.hyperball import hyperball
from avgdist_rs_spark.plans.graph import GraphFrame
from avgdist_rs_spark.sources.fixtures import star_graph
from avgdist_rs_spark.streaming.superstep import SuperstepMetrics


def test_hyperball_star_exact_shape(spark):
    """Tiny sanity: on the star (0 → spokes → leaves) the center's ball is the
    whole graph at t=2; supersteps = diameter; leaves never grow."""
    g = star_graph(spark, n=50)  # 2n+1 vertices
    met = SuperstepMetrics()
    hb = hyperball(g, p=10, metrics=met).toPandas().set_index("v")
    n = g.num_nodes
    assert met.total_supersteps == 3  # dia 2 + one no-change confirmation step
    assert abs(hb.loc[0, "reach_est"] - n) / n < 0.1
    leaf = hb.loc[n - 1]
    assert abs(leaf["reach_est"] - 1.0) < 1.0  # ball stays {self}
    assert leaf["harmonic_est"] == 0.0 and leaf["dist_sum_est"] == 0.0
    g.unpersist()


def test_hyperball_resume_from_checkpoint(spark, tmp_path):
    """Interrupted HyperBall resumes from the durable sketch state and ends
    with the same estimates as an uninterrupted run (registers are exact
    state, so resumed convergence is bit-identical)."""
    from avgdist_rs_spark.sources.fixtures import barabasi_graph
    from avgdist_rs_spark.streaming.superstep import Checkpointer

    g = barabasi_graph(spark, n=150, m=3, seed=5)
    ckdir = str(tmp_path / "hb")
    hyperball(
        g, p=8, max_supersteps=2,
        checkpointer=Checkpointer(spark, "hb", ckdir, every=1),
    ).count()
    resumed = (
        hyperball(
            g, p=8,
            checkpointer=Checkpointer(spark, "hb", ckdir, every=1),
            resume=True,
        )
        .toPandas()
        .set_index("v")
        .sort_index()
    )
    full = hyperball(g, p=8).toPandas().set_index("v").sort_index()
    import pandas as pd

    pd.testing.assert_frame_equal(resumed, full)
    g.unpersist()


def test_hyperball_matches_exact_on_wiki(spark):
    path = "/root/reference/data/wikipedia-vote-network/wiki.csv"
    if not os.path.exists(path):
        pytest.skip("reference dataset not present")
    edges = spark.read.csv(path, schema="src string, dst string")
    g = GraphFrame.from_any_edges(edges)
    hb = hyperball(g, p=10).toPandas().set_index("v").sort_index()

    cap = bfs_csr(g, np.arange(g.num_nodes, dtype=np.int64), transposed=True, capture=True)
    agg = (
        cap.groupBy("v")
        .agg(
            F.sum("dist").alias("ds"),
            F.count("*").alias("rc"),
            F.sum(1.0 / F.col("dist")).alias("h"),
        )
        .toPandas()
        .set_index("v")
    )
    n = g.num_nodes
    reach = np.ones(n)
    hexact = np.zeros(n)
    dsx = np.zeros(n)
    reach[agg.index] += agg["rc"]
    hexact[agg.index] = agg["h"]
    dsx[agg.index] = agg["ds"]

    checks = [
        ("reach_est", reach, 1.0, 0.02),
        ("harmonic_est", hexact, 0.0, 0.02),
        ("dist_sum_est", dsx, 0.0, 0.04),
    ]
    for col, exact, zero, bound in checks:
        est = hb[col].to_numpy()
        nz = exact > zero
        rel = np.abs(est[nz] - exact[nz]) / exact[nz]
        assert rel.mean() < bound, f"{col}: mean rel err {rel.mean():.4f}"
        assert np.quantile(rel, 0.95) < 3 * bound
    g.unpersist()


def test_hyperball_combine_identical_and_cuts_shuffle(spark):
    """Map-side register combine: register max is associative, so pre-merging
    per (partition, v) before the exchange is bit-identical — and on a fan-out
    graph (star center absorbs 50 spoke counters) the supersteps must write
    strictly fewer shuffle records than one blob row per edge."""
    import pandas as pd

    g = star_graph(spark, n=50)
    m_on, m_off = SuperstepMetrics(), SuperstepMetrics()
    a = (
        hyperball(g, p=6, combine=True, metrics=m_on)
        .toPandas().set_index("v").sort_index()
    )
    b = (
        hyperball(g, p=6, combine=False, metrics=m_off)
        .toPandas().set_index("v").sort_index()
    )
    pd.testing.assert_frame_equal(a, b)  # estimates bit-identical
    on, off = (
        sum(r["shuffle_write_records"] for r in m.records) for m in (m_on, m_off)
    )
    assert m_on.total_supersteps == m_off.total_supersteps
    assert on < off, f"pre-merge did not reduce shuffled rows ({on} vs {off})"
    g.unpersist()


def test_hyperball_edge_side_never_exchanges(spark):
    """The contribution join must key on the orientation whose persisted hash
    partitioning matches the join key: only the state side may exchange."""
    import contextlib
    import io

    from avgdist_rs_spark.sources.fixtures import barabasi_graph

    g = barabasi_graph(spark, n=150, m=2, seed=9)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join regime (at sandbox sizes AQE broadcasts the
        # edge side, which also has no edge shuffle but proves nothing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        state = g.vertices().select("v", F.lit(b"\x00").alias("regs"))
        edges = g.edges_t.select(F.col("src").alias("_eu"), F.col("dst").alias("_ev"))
        j = state.join(edges, state.v == F.col("_eu"))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        # the EXECUTED tree only: cut at the cached relation (its stored build
        # lineage below is the one-time graph construction, not per-superstep)
        tree = buf.getvalue().split("\n(1)")[0].split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in tree
        shuffles = [ln for ln in tree.splitlines() if "Exchange" in ln]
        assert len(shuffles) == 1  # the state side only — never the edge table
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        g.unpersist()

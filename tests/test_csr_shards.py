"""Distributed CSR shards: executor-side build, co-grouped gather BFS.

The broadcast-CSR fast path is gated at DEFAULT_CSR_MAX_EDGES because it
funnels the adjacency through the driver; the shard path is the design that
covers the reference's 2.16e9-edge payment graph and the 10^12-turn north
star — nothing ever materializes on the driver (asserted below with a real
50M-edge build).
"""

import resource

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.operators.bfs import bfs_csr, bfs_frontier, per_seed_stats
from avgdist_rs_spark.plans.graph import GraphFrame
from avgdist_rs_spark.sources.fixtures import barabasi_graph


@pytest.fixture(scope="module")
def g(spark):
    return barabasi_graph(spark, n=300, m=3, seed=7)


def _seeds_df(spark, ids):
    return spark.createDataFrame(pd.DataFrame({"seed": np.asarray(ids, dtype=np.int64)}))


def test_sharded_bfs_equals_join_and_csr(spark, g):
    seeds = [0, 5, 42, 123]
    sharded = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds), shards=True)
    ).toPandas().set_index("seed").sort_index()
    joined = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds))
    ).toPandas().set_index("seed").sort_index()
    csr = (
        bfs_csr(g, np.array(seeds, dtype=np.int64))
        .toPandas()
        .set_index("seed")
        .sort_index()
    )
    pd.testing.assert_frame_equal(sharded, joined)
    pd.testing.assert_frame_equal(sharded, csr[sharded.columns])


def test_sharded_bfs_transposed(spark, g):
    seeds = [1, 9]
    a = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds), transposed=True, shards=True)
    ).toPandas().set_index("seed").sort_index()
    b = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds), transposed=True)
    ).toPandas().set_index("seed").sort_index()
    pd.testing.assert_frame_equal(a, b)


def test_bucketed_save_load_shuffle_free_edge_join(spark, g, tmp_path):
    """The on-disk graph (bucketBy src) is the preprocessed-BVGraph analog:
    a frontier ⋈ edges join against the reopened table must NOT exchange the
    edge side — the bucketed scan already satisfies the join distribution."""
    import contextlib
    import io

    g.save_bucketed("tg", str(tmp_path / "tg"))
    try:
        lg = GraphFrame.load_bucketed(spark, "tg")
        assert (lg.num_nodes, lg.num_edges) == (g.num_nodes, g.num_edges)
        frontier = _seeds_df(spark, [0, 5]).select(F.col("seed").alias("src"))
        # force the shuffle-join regime (a broadcast frontier has no shuffle
        # either; the property under test is the big-side one): with a merge
        # join, ONLY the frontier side may exchange — the bucketed edge scan
        # already satisfies the join distribution.
        j = lg.edges.hint("merge").join(frontier, "src")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SelectedBucketsCount" in plan  # bucketed scan exploited
        n_exchanges = sum(
            1
            for ln in plan.splitlines()
            if "Exchange (" in ln and ("+-" in ln or ":-" in ln)
        )
        assert n_exchanges <= 1  # frontier side only — never the edge table
        # results equal the in-memory graph's
        got = sorted(tuple(r) for r in j.select("src", "dst").collect())
        want = sorted(
            tuple(r) for r in g.edges.join(frontier, "src").select("src", "dst").collect()
        )
        assert got == want
    finally:
        for t in ("tg_edges", "tg_edges_t", "tg_nodes", "tg_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_csr_shards_50m_edges_never_touch_driver(spark):
    """50M-edge ring: shards build + BFS with zero python-driver RSS growth.

    The broadcast-CSR path would pull 50M×2 longs through the driver; the
    shard build is a groupBy + applyInPandas whose outputs stay on executors.
    ru_maxrss is a PEAK, so any driver-side materialization of the edge list
    (~800 MB as pandas) would show up as a large delta here.
    """
    n = 50_000_000
    edges = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    big = GraphFrame.from_edges(edges, num_nodes=n, dedup=False)
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        shards = big.csr_shards()
        assert shards.count() > 0
        # shard widths cover the vertex range exactly once
        bsz = big.shard_bucket_size()
        buckets = sorted(r["bucket"] for r in shards.select("bucket").collect())
        assert buckets == sorted(set(buckets))
        assert max(buckets) == (n - 1) // bsz
        # BFS over the shards: ring advances one vertex per superstep per seed
        vis = bfs_frontier(
            big, _seeds_df(spark, [0, n // 2]), shards=True, max_supersteps=3
        )
        assert vis.count() == 2 * 4  # (dist 0..3) × 2 seeds
        rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        assert (rss1 - rss0) // 1024 < 300, "driver-side materialization detected"
    finally:
        big.unpersist()


def test_shard_width_survives_conf_drift(spark, g):
    """shard_bucket_size() reads live session conf; the gather must use the
    BUILD-time width even after spark.sql.shuffle.partitions changes."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    shards = g.csr_shards()
    w0 = g.shard_width()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(int(old) * 4))
        assert g.shard_width() == w0  # cached width, not recomputed
        assert g.csr_shards() is shards  # the cache is reused, not rebuilt
        got = per_seed_stats(
            bfs_frontier(g, _seeds_df(spark, [0, 42]), shards=True)
        ).toPandas().set_index("seed").sort_index()
        want = per_seed_stats(
            bfs_frontier(g, _seeds_df(spark, [0, 42]))
        ).toPandas().set_index("seed").sort_index()
        pd.testing.assert_frame_equal(got, want)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_shards_with_hub_df_raises(spark, g):
    hubs = _seeds_df(spark, [0]).select(F.col("seed").alias("v"))
    with pytest.raises(ValueError, match="hub_df"):
        bfs_frontier(g, _seeds_df(spark, [1]), shards=True, hub_df=hubs)

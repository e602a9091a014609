"""North-rule plumbing: durable checkpoint/resume + explicit hub salting.

"resumable from checkpoint with per-partition lineage + metrics" and
"partitioning / shuffle / skew handled explicitly" (BASELINE.json north_rule).
"""

import importlib
import inspect
import json
import os
import pkgutil
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import avgdist_rs_spark
from avgdist_rs_spark.functions.salting import salt_edges
from avgdist_rs_spark.operators.bfs import bfs_csr, bfs_frontier, per_seed_stats
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.sources.fixtures import barabasi_graph, star_graph
from avgdist_rs_spark.streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    _conf_scope,
    aqe_disabled,
    local_cut,
    superstep,
)


@pytest.fixture(scope="module")
def g(spark):
    return barabasi_graph(spark, n=200, m=3, seed=42)


def _seeds_df(spark, ids):
    return spark.createDataFrame(pd.DataFrame({"seed": np.asarray(ids, dtype=np.int64)}))


# ------------------------------------------------------------------ checkpoint
def test_pagerank_durable_checkpoint_and_resume(spark, g, tmp_path):
    ckdir = str(tmp_path / "ck")
    # interrupted run: 4 supersteps, durable every superstep
    pagerank(g, iterations=4, checkpointer=Checkpointer(spark, "pr", ckdir, every=1))
    manifest = os.path.join(ckdir, "pr", "manifest.jsonl")
    lines = [json.loads(x) for x in open(manifest)]
    assert [l["superstep"] for l in lines] == [1, 2, 3, 4]
    assert all(os.path.exists(l["path"]) for l in lines)
    # per-partition lineage: checkpoints are real multi-file parquet state
    assert any(f.endswith(".parquet") for f in os.listdir(lines[-1]["path"]))

    # resume to 10 must equal an uninterrupted 10-superstep run
    resumed = pagerank(
        g,
        iterations=10,
        checkpointer=Checkpointer(spark, "pr", ckdir, every=1),
        resume=True,
    ).toPandas().set_index("v")["rank"]
    full = pagerank(g, iterations=10).toPandas().set_index("v")["rank"]
    assert np.allclose(resumed.sort_index(), full.sort_index(), atol=1e-12)
    # resume really started from superstep 4, not 0
    lines = [json.loads(x) for x in open(manifest)]
    assert [l["superstep"] for l in lines] == [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]


def test_pagerank_resume_skips_an_older_state_format(spark, g, tmp_path):
    """A durable state in the older (v, rank) format is not resumed from:
    pagerank starts fresh and ends at the uninterrupted run's ranks."""
    ckdir = str(tmp_path / "ck")
    old = pagerank(g, iterations=4)
    Checkpointer(spark, "pr", ckdir, every=1).cut(old, 4)
    resumed = pagerank(
        g,
        iterations=10,
        checkpointer=Checkpointer(spark, "pr", ckdir, every=1),
        resume=True,
    ).toPandas().set_index("v")["rank"]
    full = pagerank(g, iterations=10).toPandas().set_index("v")["rank"]
    assert np.allclose(resumed.sort_index(), full.sort_index(), atol=1e-12)


def test_bfs_frontier_durable_checkpoint(spark, g, tmp_path):
    ck = Checkpointer(spark, "bfs", str(tmp_path / "ck2"), every=2)
    met = SuperstepMetrics(name="bfs")
    seeds = [0, 5, 9]
    vis = bfs_frontier(g, _seeds_df(spark, seeds), checkpointer=ck, metrics=met)
    got = per_seed_stats(vis).toPandas().set_index("seed").sort_index()
    want = (
        bfs_csr(g, np.array(seeds, dtype=np.int64))
        .toPandas()
        .set_index("seed")
        .sort_index()
    )
    pd.testing.assert_frame_equal(got, want[got.columns])
    # metrics recorded one row per superstep with wall times
    assert met.total_supersteps >= 2 and met.total_wall_s > 0
    assert met.supersteps_per_min() > 0


# --------------------------------------------------------------------- salting
def test_salt_edges_spreads_hub_adjacency(spark):
    g = star_graph(spark, n=101)  # vertex 0 -> 1..100 hub fan-out
    hub_df = spark.createDataFrame([(0,)], "v long")
    salted = salt_edges(g.edges, hub_df, num_salts=4).toPandas()
    hub_salts = salted[salted.src == 0]["salt"].nunique()
    assert hub_salts == 4  # hub adjacency split across all salts
    assert (salted[salted.src != 0]["salt"] == 0).all()


def test_salted_bfs_equals_unsalted(spark, g):
    seeds = [0, 3, 7]
    plain = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds))
    ).toPandas().set_index("seed").sort_index()
    salted = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds), num_salts=4)
    ).toPandas().set_index("seed").sort_index()
    pd.testing.assert_frame_equal(plain, salted)


def test_salted_bfs_with_explicit_hubs_on_star(spark):
    g = star_graph(spark, n=1000)  # 2n+1 = 2001 vertices (reference star)
    hub_df = spark.createDataFrame([(0,)], "v long")
    vis = bfs_frontier(g, _seeds_df(spark, [0]), num_salts=8, hub_df=hub_df)
    stats = per_seed_stats(vis).collect()[0]
    # star fixture: 0 -> spokes -> leaves (reference golden: diameter 2)
    assert stats["dia"] == 2 and stats["reached"] == 2000


def test_bfs_frontier_resume_from_checkpoint(spark, g, tmp_path):
    """Interrupted BFS resumes from the durable checkpoint and matches an
    uninterrupted run (north rule: any BFS superstep is resumable)."""
    ckdir = str(tmp_path / "ckr")
    seeds = [0, 5, 9]
    # interrupted run: stop after 2 supersteps, durable every superstep
    bfs_frontier(
        g,
        _seeds_df(spark, seeds),
        checkpointer=Checkpointer(spark, "bfs", ckdir, every=1),
        max_supersteps=2,
    )
    resumed = per_seed_stats(
        bfs_frontier(
            g,
            _seeds_df(spark, seeds),
            checkpointer=Checkpointer(spark, "bfs", ckdir, every=1),
            resume=True,
        )
    ).toPandas().set_index("seed").sort_index()
    full = per_seed_stats(
        bfs_frontier(g, _seeds_df(spark, seeds))
    ).toPandas().set_index("seed").sort_index()
    pd.testing.assert_frame_equal(resumed, full)


def test_chained_local_checkpoints_stay_flat(spark):
    """Regression for the Spark 4.1.2 chained-localCheckpoint cost blow-up:
    a chain of localCheckpoints (each checkpointed FROM the previous one)
    multiplies its per-cut job cost ~2.5x per link past ~12 links even though
    the logical plan and rdd lineage stay flat. Checkpointer.step resets the
    chain with a Parquet roundtrip every HARD_EVERY cuts; 30 chained cuts of
    a self-join loop must therefore stay near-constant-cost (the unfixed
    chain takes >60s per cut by link 21 — measured before the fix)."""
    import time

    from pyspark.sql import functions as F

    from avgdist_rs_spark.streaming.superstep import Checkpointer

    ckpt = Checkpointer(spark, name="chainflat", every=1)
    par = spark.createDataFrame(
        [(i, (i + 1) % 7) for i in range(7)], "c long, p long"
    ).localCheckpoint(eager=True)
    early, late = [], []
    for j in range(30):
        t0 = time.monotonic()
        g = par.select(F.col("c").alias("_pc"), F.col("p").alias("_pp"))
        jumped = par.join(g, par.p == F.col("_pc"), "left").select(
            "c", F.coalesce("_pp", "p").alias("p")
        )
        par = ckpt.step(jumped, j + 1)
        (early if j < 10 else late).append(time.monotonic() - t0)
    assert par.count() == 7
    # the unfixed blow-up is ~100x by link 25; flat-with-noise is <5x
    assert max(late) < 5 * max(max(early), 0.2), (early, late)


def test_cut_resets_its_local_cut_chain(spark):
    """Checkpointer.cut folds a sweep's visited set into a cut of its
    previous cut, so like step it makes every hard_every-th local cut a
    Parquet roundtrip, which resets the chain."""
    ckpt = Checkpointer(spark, name="cutreset", every=2, hard_every=3)
    df, parquet = spark.range(5), []
    for it in range(1, 13):
        df = ckpt.cut(df.select("id"), it)
        if it % 2 == 0:
            parquet.append(bool(df.inputFiles()))
    assert parquet == [False, False, True, False, False, True]
    assert df.count() == 5


def test_local_cut_stores_serialized_blocks_that_spill(spark):
    """local_cut keeps its blocks serialized (no per-row SizeEstimator walk)
    and lets them spill to disk, so a cut block is never dropped."""
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    for eager in (True, False):
        df = local_cut(spark.range(1000).select((F.col("id") * 3).alias("x")), eager=eager)
        assert df.agg(F.sum("x")).collect()[0][0] == 3 * 999 * 1000 // 2
    cut = [info for info in jsc.getRDDStorageInfo() if info.id() not in before]
    assert len(cut) == 2
    for info in cut:
        level = info.storageLevel()
        assert not level.deserialized() and level.useDisk() and level.useMemory()


def test_lazy_local_cut_runs_no_job_only_with_aqe_off(spark):
    """Creating a lazy cut plans its input into an RDD: with AQE on, that
    runs the shuffle stages upstream of the cut; with AQE off, nothing."""
    jobs = []
    for aqe in ("true", "false"):
        met = SuperstepMetrics(name="cut")
        with _conf_scope(spark, "spark.sql.adaptive.enabled", aqe), superstep(met, 1):
            local_cut(spark.range(100).groupBy((F.col("id") % 7).alias("k")).count(), eager=False)
        jobs.append(met.records[-1]["jobs"])
    assert jobs[0] >= 1 and jobs[1] == 0, jobs
    met = SuperstepMetrics(name="cut")
    with aqe_disabled(spark), superstep(met, 1):
        local_cut(spark.range(100).groupBy((F.col("id") % 7).alias("k")).count(), eager=False)
    assert met.records[-1]["jobs"] == 0


def test_local_cut_is_the_only_local_checkpoint():
    """Every lineage cut in the package goes through local_cut."""
    root = Path(avgdist_rs_spark.__file__).parent
    calls = {
        str(p.relative_to(root)): n
        for p in sorted(root.rglob("*.py"))
        if (n := p.read_text().count(".localCheckpoint("))
    }
    assert calls == {"streaming/superstep.py": 1}


#: the options deleted because no caller set them, by the callable that had
#: them (``max_rounds`` stays a real budget of scc, msf and k_truss)
DELETED_OPTIONS = {
    "operators.components:connected_components": {"checkpointer", "shortcut"},
    "operators.components:min_label_components": {"checkpointer", "shortcut"},
    "operators.sssp:sssp": {"checkpointer"},
    "operators.kcore:k_core": {"checkpointer"},
    "operators.labelprop:label_propagation": {"checkpointer"},
    "operators.scc:strongly_connected_components": {"checkpointer", "shortcut"},
    "operators.bpe:bpe_train": {"checkpointer"},
    "operators.walks:random_walks": {"checkpoint_every"},
    "operators.walks:node2vec_walks": {"checkpoint_every"},
    "plans.graph:GraphFrame.from_edges": {"persist"},
    "plans.graph:GraphFrame.csr_shards": {"bucket_size"},
    "plans.graph:GraphFrame.shard_bucket_size": {"buckets_per_partition"},
    "operators.degrees:link_prediction_scores": {"eager"},
    "operators.avgdist:sample_pair_rejection": {"oversample", "max_rounds"},
}


def test_only_resumable_loops_take_a_checkpointer():
    """A caller's Checkpointer matters only where a durable state can be
    resumed from: pagerank, bfs_frontier and hyperball. No deleted option is
    accepted again."""
    takes = set()
    for path in (Path(avgdist_rs_spark.__file__).parent / "operators").glob("*.py"):
        mod = importlib.import_module(f"avgdist_rs_spark.operators.{path.stem}")
        takes |= {
            f"{path.stem}:{name}"
            for name, fn in vars(mod).items()
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__
            and not name.startswith("_")
            and "checkpointer" in inspect.signature(fn).parameters
        }
    assert takes == {"pagerank:pagerank", "bfs:bfs_frontier", "hyperball:hyperball"}
    for name, deleted in DELETED_OPTIONS.items():
        fn = pkgutil.resolve_name(f"avgdist_rs_spark.{name}")
        assert not deleted & set(inspect.signature(fn).parameters), name

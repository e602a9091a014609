"""The fixpoint scope, the convergence loop and the superstep records
(streaming.superstep): session confs restore LIFO and after errors, every
loop records its supersteps with Spark counters, the fixpoint loops run one
Spark job per superstep, and an exhausted budget raises instead of
returning a partial answer."""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from avgdist_rs_spark.operators import ktruss as ktruss_module
from avgdist_rs_spark.operators.betweenness import betweenness
from avgdist_rs_spark.operators.bfs import bfs_frontier
from avgdist_rs_spark.operators.components import connected_components
from avgdist_rs_spark.operators.hyperball import hyperball
from avgdist_rs_spark.operators.kcore import k_core
from avgdist_rs_spark.operators.ktruss import k_truss
from avgdist_rs_spark.operators.labelprop import label_propagation
from avgdist_rs_spark.operators.msf import minimum_spanning_forest
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.operators.scc import strongly_connected_components
from avgdist_rs_spark.operators.sssp import hash_weights, sssp
from avgdist_rs_spark.plans.graph import GraphFrame
from avgdist_rs_spark.sources.fixtures import barabasi_graph
from avgdist_rs_spark.sources.transcripts import synth_transcripts, transcript_graph
from avgdist_rs_spark.streaming import superstep as superstep_module
from avgdist_rs_spark.streaming.superstep import (
    COUNTERS,
    Checkpointer,
    SuperstepMetrics,
    _job_counters,
    fixpoint_scope,
    superstep,
)

WIDTH = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


def _confs(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in (WIDTH, AQE, BROADCAST)}


def _chain(spark, n: int, cycle: bool = False) -> GraphFrame:
    dst = (F.col("id") + 1) % n if cycle else F.col("id") + 1
    edges = spark.range(n if cycle else n - 1).select(
        F.col("id").alias("src"), dst.alias("dst")
    )
    return GraphFrame.from_edges(edges, num_nodes=n, dedup=False)


def _graph(spark, pairs, n: int) -> GraphFrame:
    e = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    return GraphFrame.from_edges(e, num_nodes=n, dedup=False)


#: a 3-cycle with a 2-vertex tail (0→1→2→0, 2→3→4): trim, coloring and the
#: small-diameter backward sweep all run
CYCLE_TAIL = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]


def test_fixpoint_scopes_nest_lifo_and_restore_after_error(spark):
    entry = _confs(spark)
    session_width = int(entry[WIDTH])
    # large state: session width, broadcasts stay on
    with fixpoint_scope(spark, 10**9) as wide:
        assert wide == session_width
        outer = _confs(spark)
        assert outer[AQE] == "false" and outer[BROADCAST] == entry[BROADCAST]
        # small state: narrow width, broadcasts off
        with fixpoint_scope(spark, 100) as narrow:
            assert narrow == 2
            assert _confs(spark) == {WIDTH: "2", AQE: "false", BROADCAST: "-1"}
        assert _confs(spark) == outer
    assert _confs(spark) == entry

    # scc's color fixpoint runs out of budget inside its scope
    g = _chain(spark, 8, cycle=True)
    with pytest.raises(RuntimeError, match="scc: not converged within max_supersteps=2"):
        strongly_connected_components(g, max_supersteps=2)
    assert _confs(spark) == entry
    g.unpersist()


def test_connected_components_raises_when_not_converged(spark):
    g = _chain(spark, 50)
    with pytest.raises(RuntimeError, match="not converged within max_supersteps=3"):
        connected_components(g, max_supersteps=3)
    g.unpersist()


def test_one_spark_job_per_superstep(spark):
    """CC, PageRank, k-core and SSSP: every superstep record holds exactly
    one Spark job (the lazy checkpoint rides the convergence action)."""
    g = _chain(spark, 8)
    tri_tail = _graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 6)], 7)
    runs = {
        "pagerank": lambda met: pagerank(g, iterations=5, metrics=met),
        "kcore": lambda met: k_core(tri_tail, k=2, metrics=met),
        "sssp": lambda met: sssp(
            hash_weights(_chain(spark, 6).edges), spark.createDataFrame([(0,)], "v long"),
            metrics=met,
        ),
    }
    # pagerank: its iterations; k-core: the first superstep peels vertex 6
    # off the full degree table, then one superstep per tail vertex left and
    # one with no change; sssp: 5 hops, then one with no change
    steps = {"pagerank": 5, "kcore": 4, "sssp": 6}
    calls = SuperstepMetrics(name="call")
    for name, run in runs.items():
        met = SuperstepMetrics(name=name)
        with superstep(calls, calls.total_supersteps + 1, loop=name):
            run(met)
        assert met.total_supersteps == steps[name] < Checkpointer.HARD_EVERY, name
        assert [r["jobs"] for r in met.records] == [1] * met.total_supersteps, name
    # the whole k-core call adds one job to its supersteps: the persisted
    # symmetric edge table's count
    call_jobs = {r["loop"]: r["jobs"] for r in calls.records}
    assert call_jobs["kcore"] == steps["kcore"] + 1

    # CC's schedule: plain hash-min resolves the 4-chain in 3 supersteps and
    # a 4th changes nothing; the 9-chain still has labels 4 hops from 0 after
    # 4 plain supersteps, and the 5th, the first to pointer-jump, resolves
    # them all. Beyond its supersteps a call runs 2 jobs: the persisted
    # symmetric edge table's count and the initial labels' cut.
    a, b = _chain(spark, 4), _chain(spark, 9)
    calls, mets = SuperstepMetrics(name="cc_call"), []
    for h in (a, b):
        mets.append(SuperstepMetrics(name="cc"))
        with superstep(calls, len(mets)):
            connected_components(h, metrics=mets[-1])
    assert [met.total_supersteps for met in mets] == [4, 6]
    for met in mets:
        assert [r["jobs"] for r in met.records] == [1] * met.total_supersteps
        assert all("phase" not in r for r in met.records)
    assert [r["jobs"] for r in calls.records] == [4 + 2, 6 + 2]
    for h in (g, tri_tail, a, b):
        h.unpersist()


def test_scc_trim_runs_one_job_per_superstep(spark):
    """SCC's trim runs on converge: one record per trim superstep, each one
    Spark job. The Barabási graph is a DAG, so the trim resolves every
    vertex; beyond its supersteps the call runs 2 jobs: the alive-edge
    table's cut and the count of the vertices the trim kept."""
    g = barabasi_graph(spark, n=300, m=3, seed=7)
    met, call = SuperstepMetrics(name="scc"), SuperstepMetrics(name="scc_call")
    with superstep(call, 1):
        got = strongly_connected_components(g, metrics=met)
    assert [(r["phase"], r["jobs"]) for r in met.records] == [("trim", 1)] * 9
    assert call.records[0]["jobs"] == met.total_supersteps + 2
    assert got.where(F.col("v") != F.col("component")).count() == 0
    assert got.count() == 300
    g.unpersist()


def test_k_truss_raises_when_not_converged(spark):
    """A triangle with a pendant edge takes two 3-truss rounds: one peels the
    pendant edge, one changes nothing. A budget of one round raises."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="k_truss: not converged within max_supersteps=1"):
        k_truss(edges, k=3, max_rounds=1)
    got = {(r["a"], r["b"], r["support"]) for r in k_truss(edges, k=3, max_rounds=2).collect()}
    assert got == {(0, 1, 1), (1, 2, 1), (0, 2, 1)}


def test_k_truss_runs_one_job_per_round(spark, monkeypatch):
    """Inside its fixpoint scope (AQE off) a k-truss call runs the input
    edge count and one job per round; on the session's AQE every exchange
    of the triangle join was its own job. The seed is built inside the
    scope, so every round stage runs at the loop width, narrower than the
    session's (a seed cut at the session width made the stages that read it
    run that many tasks). Rounds are read from the metrics the operator
    makes for itself, with counters."""
    made: list[SuperstepMetrics] = []
    widths: list[int] = []

    def metrics(**kw):
        made.append(SuperstepMetrics(**{**kw, "counters": True}))
        return made[-1]

    @contextmanager
    def scope(*args, **kw):
        with fixpoint_scope(*args, **kw) as width:
            widths.append(width)
            yield width

    monkeypatch.setattr(ktruss_module, "SuperstepMetrics", metrics)
    monkeypatch.setattr(ktruss_module, "fixpoint_scope", scope)
    tr = synth_transcripts(spark, n_convs=100, mean_turns=8, n_tools=32, seed=4)
    g = transcript_graph(tr, tool_responses=True)
    call = SuperstepMetrics(name="k_truss_call")
    with superstep(call, 1):
        k_truss(g.edges, k=3)
    rounds = made[0].total_supersteps
    assert rounds >= 2 and call.records[-1]["jobs"] == rounds + 1, (rounds, call.records)
    (width,) = widths
    assert width < int(spark.conf.get(WIDTH))
    for r in made[0].records:
        assert r["jobs"] == 1 and r["tasks"] <= r["stages"] * width, r
    g.unpersist()


def test_pagerank_setup_is_one_job(spark):
    """Beyond its one job per iteration, a PageRank call runs one setup job:
    the sink probe that also materializes the normalized edge table."""
    calls = SuperstepMetrics(name="pagerank_call")
    for g in (_chain(spark, 8), _chain(spark, 8, cycle=True)):  # with and without a sink
        met = SuperstepMetrics(name="pagerank")
        with superstep(calls, calls.total_supersteps + 1):
            pagerank(g, iterations=3, metrics=met)
        assert [r["jobs"] for r in met.records] == [1, 1, 1]
        assert calls.records[-1]["jobs"] == 3 + 1
        g.unpersist()


LOOPS = {
    "cc": lambda g, met: connected_components(g, metrics=met),
    "sssp": lambda g, met: sssp(
        hash_weights(g.edges), g.spark.createDataFrame([(0,)], "v long"), metrics=met
    ),
    "pagerank": lambda g, met: pagerank(g, iterations=3, metrics=met),
    "lpa": lambda g, met: label_propagation(g, iterations=3, metrics=met),
    "kcore": lambda g, met: k_core(g, k=2, metrics=met),
    "hyperball": lambda g, met: hyperball(g, p=4, metrics=met),
    "bfs_frontier": lambda g, met: bfs_frontier(
        g, g.spark.createDataFrame([(0,), (3,)], "seed long"), metrics=met
    ),
    "bfs_frontier_shards": lambda g, met: bfs_frontier(
        g, g.spark.createDataFrame([(0,), (3,)], "seed long"), shards=True, metrics=met
    ),
    "betweenness_shards": lambda g, met: betweenness(
        g, seeds=np.array([0, 3]), strategy="shards", metrics=met
    ),
    "scc": lambda g, met: strongly_connected_components(g, metrics=met),
    "msf": lambda g, met: minimum_spanning_forest(g.edges, metrics=met),
}


#: the loops on ``sweep``: the phase of their sweep records, and how many
#: there are on CYCLE_TAIL (the last level is empty)
SWEEPS = {
    "bfs_frontier": (None, 5),
    "bfs_frontier_shards": (None, 5),
    "betweenness_shards": ("fwd", 5),
    "scc": ("bwd", 3),
}


@pytest.mark.parametrize("loop", sorted(SWEEPS))
def test_bfs_frontier_supersteps_share_their_jobs(spark, loop):
    """Frontier sweeps run with AQE off, so the exchanges of a superstep run
    in its few jobs instead of one job each (6 per bfs_frontier superstep
    with AQE on, 9 sharded): at most 3, the visited cut's cadence included."""
    g = _graph(spark, CYCLE_TAIL, 5)
    met = SuperstepMetrics(name=loop)
    LOOPS[loop](g, met).count()
    phase, steps = SWEEPS[loop]
    jobs = [r["jobs"] for r in met.records if r.get("phase") == phase]
    assert len(jobs) == steps and max(jobs) <= 3, jobs
    g.unpersist()


def test_frontier_sweep_budgets(spark):
    """bfs_frontier(max_supersteps=k) returns exactly levels 0..k; Brandes'
    forward sweep raises once a level past its budget is not empty."""
    g = _chain(spark, 8)
    seeds = spark.createDataFrame([(0,)], "seed long")
    for k in (1, 3):
        met = SuperstepMetrics(name="bfs")
        visited = bfs_frontier(g, seeds, max_supersteps=k, metrics=met)
        assert sorted(r["dist"] for r in visited.collect()) == list(range(k + 1))
        assert met.total_supersteps == k
    # the chain is 7 levels deep: 7 supersteps of budget, then an empty one
    with pytest.raises(RuntimeError, match="forward BFS past max_supersteps=6"):
        betweenness(g, seeds=np.array([0]), strategy="shards", max_supersteps=6)
    bc = betweenness(g, seeds=np.array([0]), strategy="shards", max_supersteps=7)
    # one seed of 8 vertices: scale 8, dependency 7 - v on the path
    assert {r["v"]: r["bc"] for r in bc.collect()} == {
        v: 8.0 * (7 - v) if 0 < v < 7 else 0.0 for v in range(8)
    }
    g.unpersist()


def test_sweep_tasks_stay_flat_along_a_chain(spark):
    """A sweep's visited fold keeps the loop width: along a 40-vertex chain
    the per-superstep tasks do not grow with the depth (without the
    coalesce, each level's partitions stay in the union: 29 tasks at
    superstep 2, 101 at superstep 38)."""
    g = _chain(spark, 40)
    met = SuperstepMetrics(name="bfs")
    bfs_frontier(g, spark.createDataFrame([(0,)], "seed long"), shards=True, metrics=met)
    tasks = [r["tasks"] for r in met.records]
    assert len(tasks) == 40
    # every window of 4 supersteps holds one visited cut (the Checkpointer's
    # cadence): supersteps 36-39 against 2-5
    assert max(tasks[-5:-1]) <= max(tasks[1:5]), tasks
    g.unpersist()


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_every_loop_records_supersteps_with_counters(spark, loop):
    g = _graph(spark, CYCLE_TAIL, 5)
    met = SuperstepMetrics(name=loop)
    LOOPS[loop](g, met).count()
    assert met.total_supersteps >= 1
    for r in met.records:
        assert {"superstep", "rows", "wall_s", *COUNTERS} <= set(r), r
        assert r["jobs"] >= 1 and r["stages"] >= 1 and r["tasks"] >= 1, r
        assert r["evicted_stages"] == 0 and r["wall_s"] > 0, r
    g.unpersist()


def test_superstep_counts_jobs_in_the_current_group_and_restores_labels(spark):
    """Records count the jobs of the caller's own job group without replacing
    it, nest, and hand the caller's description back on exit."""
    sc = spark.sparkContext
    sc.setJobGroup("outer-group", "outer")
    try:
        met = SuperstepMetrics(name="probe")
        with superstep(met, 1, phase="outer") as rec:
            assert sc.getLocalProperty("spark.job.description") == "probe:1"
            with superstep(met, 2):
                sc.parallelize(range(10), 2).count()
                sc.parallelize(range(10), 2).map(lambda x: (x % 3, 1)).reduceByKey(
                    lambda a, b: a + b, 3
                ).count()
            assert sc.getLocalProperty("spark.job.description") == "probe:1"
            sc.parallelize(range(10), 2).count()
            rec["rows"] = 7
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
        assert sc.getLocalProperty("spark.job.description") == "outer"
        inner, outer = met.records
        assert inner["superstep"] == 2
        assert (inner["jobs"], inner["stages"], inner["tasks"]) == (2, 3, 7)
        assert inner["shuffle_write_records"] > 0 and inner["shuffle_read_bytes"] > 0
        assert (outer["jobs"], outer["stages"], outer["tasks"]) == (3, 4, 9)
        assert outer["rows"] == 7 and outer["phase"] == "outer"
        assert sc.statusTracker().getJobIdsForGroup("outer-group")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    with pytest.raises(ValueError):
        with superstep(met, 3):
            raise ValueError("body error")
    assert met.total_supersteps == 2  # a failed body appends nothing


def test_evicted_stage_is_counted_not_raised(spark, monkeypatch):
    """A stage or job the status store no longer holds does not raise. A
    missing stage counts as evicted only when its job says it ran (Spark
    evicts skipped stages first, and those carry no counters); a missing job
    counts one evicted stage, the result stage every job runs."""
    sc = spark.sparkContext
    bus, tracker, _, arrays = superstep_module._status(sc)
    gone = Py4JJavaError("evicted", sc._jvm.java.util.NoSuchElementException())

    def job(jid):  # job 1 ran stage 11 and skipped stage 10; job 2 is gone
        if jid == 2:
            raise gone
        return SimpleNamespace(stageIds=lambda: SimpleNamespace(mkString=lambda sep: "10,11"),
                               numCompletedStages=lambda: 1)

    stage = SimpleNamespace(status=lambda: SimpleNamespace(toString=lambda: "COMPLETE"),
                            numCompleteTasks=lambda: 4,
                            shuffleReadBytes=lambda: 5, shuffleWriteBytes=lambda: 6,
                            shuffleWriteRecords=lambda: 7, executorRunTime=lambda: 8,
                            memoryBytesSpilled=lambda: 9, diskBytesSpilled=lambda: 10)

    def stages(held):
        def last_attempt(sid):
            if sid not in held:
                raise gone
            return stage
        return SimpleNamespace(job=job, lastStageAttempt=last_attempt)

    for held, evicted in (({11}, 0), (set(), 1)):  # the skipped stage is gone; both are
        store = stages(held)
        monkeypatch.setattr(superstep_module, "_status", lambda sc: (bus, tracker, store, arrays))
        c = _job_counters(sc, [1])
        assert (c["jobs"], c["stages"], c["evicted_stages"]) == (1, len(held), evicted)
        assert c["tasks"] == 4 * len(held) and c["executor_ms"] == 8 * len(held)
        assert c["memory_spilled_bytes"] == 9 * len(held)
        assert c["disk_spilled_bytes"] == 10 * len(held)
    c = _job_counters(sc, [1, 2])
    assert (c["jobs"], c["stages"], c["evicted_stages"]) == (2, 0, 2)
    monkeypatch.undo()
    c = _job_counters(sc, [10**9])  # the real store
    assert (c["jobs"], c["stages"], c["evicted_stages"]) == (1, 0, 1)


def test_unreadable_status_store_keeps_the_result(spark, monkeypatch):
    """A listener bus that does not drain (Spark raises TimeoutException
    after 10 s) leaves the record's counters None; the superstep's body and
    result stand."""
    sc = spark.sparkContext
    _, tracker, store, arrays = superstep_module._status(sc)
    timeout = sc._jvm.java.util.concurrent.TimeoutException("The event queue is not empty")

    class StuckBus:
        def waitUntilEmpty(self):
            raise Py4JJavaError("waitUntilEmpty", timeout)

    monkeypatch.setattr(superstep_module, "_status", lambda sc: (StuckBus(), tracker, store, arrays))
    met = SuperstepMetrics(name="stuck")
    with superstep(met, 1) as rec:
        rec["rows"] = spark.range(5).count()
    assert met.records == [{"superstep": 1, "rows": 5, "wall_s": rec["wall_s"],
                            **dict.fromkeys(COUNTERS)}]


def test_metrics_without_counters_keep_timings_only(spark, monkeypatch):
    """counters=False metrics (what an operator makes when its caller passes
    none) never touch the status store, and their records keep three fields."""

    def no_read(sc, group):
        raise AssertionError("read the status store")

    monkeypatch.setattr(superstep_module, "_group_jobs", no_read)
    met = SuperstepMetrics(name="plain", counters=False)
    with superstep(met, 1) as rec:
        rec["rows"] = spark.range(3).count()
    (r,) = met.records
    assert set(r) == {"superstep", "rows", "wall_s"} and r["rows"] == 3
    g = _chain(spark, 4)
    pagerank(g, iterations=2).count()  # its own metrics read nothing either
    g.unpersist()


def test_scc_backward_sweep_is_one_job_per_superstep(spark):
    """The small-diameter backward sweep materializes its lazy frontier with
    the count: one job per superstep, plus the member-set cut on the
    Checkpointer's cadence (every 4th superstep of the call: 8 here)."""
    g = _graph(spark, CYCLE_TAIL, 5)
    met = SuperstepMetrics(name="scc")
    got = {r["v"]: r["component"] for r in strongly_connected_components(g, metrics=met).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}
    bwd = [r for r in met.records if r.get("phase") == "bwd"]
    assert [(r["superstep"], r["jobs"]) for r in bwd] == [(7, 1), (8, 2), (9, 1)]
    assert [r["superstep"] for r in met.records] == list(range(1, met.total_supersteps + 1))
    g.unpersist()


def test_torn_manifest_line_is_skipped_on_resume(spark, tmp_path):
    """A crash mid-append leaves half a manifest line: resume reads the last
    whole line, starts its own lines on a fresh one (every later superstep
    stays a resume point) and ends at the same ranks as an uninterrupted
    run."""
    g = _chain(spark, 8)
    ckdir = str(tmp_path / "ck")
    pagerank(g, iterations=4, checkpointer=Checkpointer(spark, "pr", ckdir, every=1))
    manifest = os.path.join(ckdir, "pr", "manifest.jsonl")
    whole = open(manifest).read().splitlines()[-1]
    with open(manifest, "a") as f:
        f.write(whole[: len(whole) // 2])
    ck = Checkpointer(spark, "pr", ckdir, every=1)
    assert ck.latest()[1] == json.loads(whole)["superstep"] == 4
    resumed = pagerank(g, iterations=10, checkpointer=ck, resume=True)
    full = pagerank(g, iterations=10)
    a, b = (df.toPandas().set_index("v")["rank"].sort_index() for df in (resumed, full))
    assert np.allclose(a, b, atol=1e-12)
    lines = open(manifest).read().splitlines()
    assert lines[4] == whole[: len(whole) // 2]
    assert [json.loads(x)["superstep"] for x in lines[:4] + lines[5:]] == list(range(1, 11))
    g.unpersist()

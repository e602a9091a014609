"""The fixpoint scope and the convergence loop (streaming.superstep):
session confs restore LIFO and after errors, every superstep is one Spark
job, and an exhausted budget raises instead of returning a partial answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.operators.components import connected_components
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.operators.scc import strongly_connected_components
from avgdist_rs_spark.plans.graph import GraphFrame
from avgdist_rs_spark.streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    fixpoint_scope,
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


def _jobs(spark) -> int:
    # Spark jobs submitted so far on this context
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


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
        connected_components(g, shortcut=False, max_supersteps=3)
    g.unpersist()


def test_one_spark_job_per_superstep(spark):
    g = _chain(spark, 8)
    j0 = _jobs(spark)
    pagerank(g, iterations=3)
    j1 = _jobs(spark)
    pagerank(g, iterations=5)
    assert _jobs(spark) - j1 - (j1 - j0) == 2

    # supersteps stay below the Parquet reset cadence (one extra job)
    a, b = _chain(spark, 4), _chain(spark, 9)
    met_a, met_b = SuperstepMetrics(), SuperstepMetrics()
    j0 = _jobs(spark)
    connected_components(a, shortcut=False, metrics=met_a)
    j1 = _jobs(spark)
    connected_components(b, shortcut=False, metrics=met_b)
    j2 = _jobs(spark)
    assert met_b.total_supersteps < Checkpointer.HARD_EVERY
    steps = met_b.total_supersteps - met_a.total_supersteps
    assert steps == 5
    assert (j2 - j1) - (j1 - j0) == steps
    for h in (g, a, b):
        h.unpersist()

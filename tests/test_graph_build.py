"""The graph build (plans.graph): a transcript graph builds in a handful of
Spark jobs, the transpose waits for its first consumer, both CSR
orientations come from ``edges``, dense ids are the sorted-key rank at any
width, and ``unpersist()`` frees every block the build stored."""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.plans.graph import GraphFrame, build_csr
from avgdist_rs_spark.sources.transcripts import synth_transcripts, transcript_graph
from avgdist_rs_spark.streaming.superstep import SuperstepMetrics, _conf_scope, superstep


@contextmanager
def _jobs(into: list):
    """Append the number of Spark jobs the body ran to ``into``."""
    met = SuperstepMetrics(name="build")
    with superstep(met, 1):
        yield
    into.append(met.records[-1]["jobs"])


def _cached_rdds(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cached_since(spark, before: set[int]) -> set[int]:
    """Cached RDD ids not in ``before``, once an asynchronous unpersist has
    landed (waits ≤ 10 s for the set to empty)."""
    deadline = time.monotonic() + 10
    while (new := _cached_rdds(spark) - before) and time.monotonic() < deadline:
        time.sleep(0.1)
    return new


def _transcript_graph(spark, n_convs: int = 200, seed: int = 4) -> GraphFrame:
    tr = synth_transcripts(spark, n_convs=n_convs, mean_turns=8, n_tools=32, seed=seed)
    return transcript_graph(tr, tool_responses=True)


def test_transcript_graph_builds_in_at_most_five_jobs(spark):
    """The range-partition sample, the key-size collect, the node-table
    broadcast and the edge count; no AQE stage jobs and no transpose."""
    jobs: list[int] = []
    with _conf_scope(spark, "spark.sql.shuffle.partitions", "2"):
        with _jobs(jobs):
            g = _transcript_graph(spark)
        g.unpersist()
    assert 0 < jobs[0] <= 5, jobs


def test_transpose_is_cached_by_its_first_consumer(spark):
    before = _cached_rdds(spark)
    g = _transcript_graph(spark, n_convs=50)
    built = _cached_rdds(spark) - before
    g.csr_broadcast(transposed=True)
    assert _cached_rdds(spark) - before == built  # the CSR reads `edges` only
    m = g.edges_t.count()
    assert m == g.num_edges
    assert len(_cached_rdds(spark) - before - built) == 1
    g.unpersist()


def test_unpersist_frees_every_build_cache(spark):
    """Three builds, each followed by unpersist(), leave the block manager
    as they found it: no string-keyed edge table or sorted key table stays
    behind."""
    before = _cached_rdds(spark)
    for _ in range(3):
        g = _transcript_graph(spark, n_convs=50)
        g.edges_t.count()
        g.unpersist()
        assert _cached_since(spark, before) == set()


def _pairs(df) -> np.ndarray:
    pdf = df.toPandas()
    return pdf[["src", "dst"]].to_numpy(dtype=np.int64).reshape(-1, 2)


@pytest.mark.parametrize("first", [False, True], ids=["forward_first", "transposed_first"])
def test_both_csr_orientations_come_from_edges(spark, first):
    """Vertex 2 has a self-loop, 4 is a sink and 5 is isolated. Either
    orientation built second is the first one's transpose, made on the driver
    with no Spark job, and each equals build_csr over its own edge table."""
    pdf = pd.DataFrame({"src": [0, 0, 1, 2, 2, 3, 1], "dst": [1, 2, 2, 2, 3, 4, 4]})
    g = GraphFrame.from_edges(spark.createDataFrame(pdf), num_nodes=6)
    jobs: list[int] = []
    with _jobs(jobs):
        g.csr_broadcast(transposed=first)
    with _jobs(jobs):
        g.csr_broadcast(transposed=not first)
    assert jobs[0] >= 1 and jobs[1] == 0, jobs
    for transposed, df in ((False, g.edges), (True, g.edges_t)):
        want = build_csr(_pairs(df), 6)
        got = g.csr_broadcast(transposed=transposed).value
        assert got["n"] == 6
        assert got["offsets"].dtype == want.offsets.dtype
        assert got["targets"].dtype == want.targets.dtype
        np.testing.assert_array_equal(got["offsets"], want.offsets)
        np.testing.assert_array_equal(got["targets"], want.targets)
    g.unpersist()


KEYS = {
    "mixed": [("b", "a"), ("a", "c"), ("tool:x", "b"), ("c", "c"), ("zz", "a"), ("a", "b")],
    "self_loop": [("only", "only")],
    "empty": [],
    "no_partitions": [],  # an empty RDD: zero input partitions
}


@pytest.mark.parametrize("width", [1, 2, 7])
@pytest.mark.parametrize("case", list(KEYS))
@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast_nodes", "shuffle_nodes"])
def test_dense_ids_are_the_sorted_key_rank(spark, width, case, broadcast):
    """ids = rank of the key in sorted(set(keys)) whatever the width and the
    mapping-join strategy (a node table too big to broadcast keeps AQE)."""
    pairs = KEYS[case]
    keys = sorted({k for p in pairs for k in p})
    rank = pd.Series(keys, dtype=object).rank(method="first").astype(int) - 1
    want = dict(zip(keys, rank))
    schema = "src string, dst string"
    if case == "no_partitions":
        df = spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    else:
        df = spark.createDataFrame(pairs, schema)
    with _conf_scope(spark, "spark.sql.shuffle.partitions", str(width)), _conf_scope(
        spark, "spark.sql.autoBroadcastJoinThreshold", str(64 << 20) if broadcast else "-1"
    ):
        g = GraphFrame.from_any_edges(df)
        nodes = {r["orig"]: r["id"] for r in g.nodes.collect()}
        edges = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    assert g.num_nodes == len(keys) and g.num_edges == len(set(pairs))
    assert nodes == want
    assert edges == sorted({(want[s], want[d]) for s, d in pairs})
    g.unpersist()


def _leaves(df) -> list[str]:
    seq = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sorted(seq.apply(i).nodeName() for i in range(seq.size()))


def test_self_joins_read_the_cached_tables(spark):
    """The input ends in a distinct, so its plan is hash-partitioned: the
    build's cut of it must still let both sides of a self-join of ``edges``
    or ``nodes`` read their cache instead of re-running the build."""
    raw = spark.createDataFrame([(f"k{i}", f"k{i * 7 % 50}") for i in range(50)], "src string, dst string")
    g = GraphFrame.from_any_edges(raw.distinct(), dedup=False)
    succ = g.edges.select(F.col("src").alias("dst"), F.col("dst").alias("x"))
    assert _leaves(g.edges.join(succ, "dst")) == ["InMemoryRelation"] * 2
    assert _leaves(g.nodes.alias("a").join(g.nodes.alias("b"), "id")) == ["InMemoryRelation"] * 2
    g.unpersist()

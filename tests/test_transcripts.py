"""Transcript source invariants (FIXTURES.md §1) + graph derivation.

The per-row invariant from ``BASELINE.json`` input_hint: per-turn text equality
under stable turn ordering — tested here as bit-identical regeneration under the
same seed at different parallelism.
"""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from avgdist_rs_spark.operators.avgdist import exact_avgdist
from avgdist_rs_spark.sources.transcripts import (
    synth_transcripts,
    transcript_edges,
    transcript_graph,
)
from avgdist_rs_spark.streaming.superstep import aqe_disabled


@pytest.fixture(scope="module")
def tr(spark):
    df = synth_transcripts(spark, n_convs=200, mean_turns=6, n_tools=8, seed=42).cache()
    df.count()
    return df


def test_schema(tr):
    assert dict(tr.dtypes) == {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
    }


def test_key_unique_and_dense(tr):
    n = tr.count()
    assert tr.select("conv_id", "turn_idx").distinct().count() == n
    # turn_idx dense 0..len-1 per conversation
    per = tr.groupBy("conv_id").agg(
        F.count("*").alias("cnt"), F.min("turn_idx").alias("mn"), F.max("turn_idx").alias("mx")
    )
    bad = per.where((F.col("mn") != 0) | (F.col("mx") != F.col("cnt") - 1)).count()
    assert bad == 0
    assert per.count() == 200


def test_ts_strictly_increasing(tr):
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = tr.withColumn("prev", F.lag("ts").over(w))
    assert lagged.where(F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev"))).count() == 0


def test_tool_only_on_assistant(tr):
    assert tr.where(F.col("tool").isNotNull() & (F.col("role") != "assistant")).count() == 0
    assert tr.where(F.col("tool").isNotNull()).count() > 0


def test_deterministic_across_parallelism(spark, tr):
    again = synth_transcripts(spark, n_convs=200, mean_turns=6, n_tools=8, seed=42).repartition(3)
    assert again.exceptAll(tr).count() == 0 and tr.exceptAll(again).count() == 0


@pytest.mark.parametrize(
    "seed, rows, checksum",
    [(4, 8944, 6183486271465783330), (7, 9122, -4175325618329396209)],
)
def test_generator_is_pinned(spark, seed, rows, checksum):
    """The table of a seed never changes: its row count and order-free
    checksum are the ones every earlier version of the generator produced."""
    tr = synth_transcripts(spark, n_convs=1000, mean_turns=8, n_tools=32, seed=seed)
    got = tr.agg(F.count("*"), F.expr("bit_xor(xxhash64(*))")).first()
    assert (got[0], got[1]) == (rows, checksum)


def _oracle_edges(tr, tool_responses: bool) -> Counter:
    """Every edge kind built turn by turn from the collected table."""
    df = tr.select("conv_id", "turn_idx", "tool").toPandas()
    want: Counter = Counter()
    for c, turns in df.sort_values("turn_idx").groupby("conv_id"):
        idx, tools = list(turns["turn_idx"]), list(turns["tool"])
        for j, (i, tool) in enumerate(zip(idx, tools)):
            key = f"T:{c}:{i}"
            nxt = f"T:{c}:{idx[j + 1]}" if j + 1 < len(idx) else None
            if nxt is not None:
                want[(key, nxt)] += 1  # reply
            if tool is not None:
                want[(key, f"tool:{tool}")] += 1  # tool invocation
                if tool_responses and nxt is not None:
                    want[(f"tool:{tool}", nxt)] += 1  # tool response
    return want


@pytest.mark.parametrize("tool_responses", [False, True])
def test_edges_match_a_pandas_oracle(tr, tool_responses):
    """Reply, tool-invocation and tool-response edges, as a multiset."""
    got = Counter((r["src"], r["dst"]) for r in transcript_edges(tr, tool_responses).collect())
    want = _oracle_edges(tr, tool_responses)
    assert got == want
    n_turns, n_convs = tr.count(), tr.select("conv_id").distinct().count()
    n_reply = sum(v for (s, d), v in want.items() if s.startswith("T:") and d.startswith("T:"))
    assert n_reply == n_turns - n_convs  # len-1 per conversation


def _plan_nodes(plan) -> list:
    nodes, todo = [], [plan]
    while todo:
        node = todo.pop()
        nodes.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_edges_take_one_window_and_one_exchange(spark, tr):
    """Every edge kind comes from one window over one shuffle on conv_id."""
    with aqe_disabled(spark):
        plan = transcript_edges(tr, tool_responses=True)._jdf.queryExecution().executedPlan()
    nodes = _plan_nodes(plan)
    windows = [n for n in nodes if n.nodeName() == "Window"]
    exchanges = [
        n for n in nodes
        if n.nodeName() == "Exchange" and "conv_id" in n.outputPartitioning().toString()
    ]
    assert (len(windows), len(exchanges)) == (1, 1)


def test_graph_derivation_and_hubs(tr):
    g = transcript_graph(tr)
    n_turns = tr.count()
    n_tools_used = tr.where(F.col("tool").isNotNull()).select("tool").distinct().count()
    assert g.num_nodes == n_turns + n_tools_used
    # tool vertices are in-degree hubs
    indeg = g.edges.groupBy("dst").count()
    top = (
        indeg.join(g.nodes, indeg.dst == g.nodes.id)
        .orderBy(F.desc("count"))
        .select("orig")
        .first()["orig"]
    )
    assert top.startswith("tool:")
    # graph is BFS-able end to end
    res = exact_avgdist(g)
    assert res["diameter"] >= 2 and res["avg_distance"] > 0

"""Synchronous label propagation for community detection (north rule).

Every vertex starts labeled with its own id; each superstep it adopts the most
frequent label among its (undirected) in-neighbors, breaking frequency ties by
the SMALLEST label — the deterministic tie-break is essential for exact-match
testing (SURVEY.md §7.3). Vertices with no neighbors keep their label. Runs a
fixed number of supersteps (synchronous LPA need not converge — it can
oscillate on bipartite structures; fixed-iteration semantics are exactly
reproducible by the SQL oracle).

Physical plan per superstep: labels ⋈ symmetric edges (one shuffle) →
``groupBy(v, label).count()`` → per-vertex argmax via max_by over the
(count, -label) ordering — a single aggregate, no window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    fixpoint_scope,
    local_cut,
    superstep,
)


def label_propagation(
    graph: GraphFrame,
    iterations: int = 5,
    metrics: SuperstepMetrics | None = None,
) -> DataFrame:
    """(v, label) after ``iterations`` synchronous LPA supersteps."""
    spark = graph.spark
    met = metrics if metrics is not None else SuperstepMetrics(name="lpa", counters=False)
    ckpt = Checkpointer(spark, name="lpa")

    # scoped to the vote stream (2m rows of (v, label) votes + n state rows
    # per superstep) — measured 4.6 s → 1.8–2.4 s for 4 supersteps at sf0.1.
    # The symmetric edge table is built inside the scope so the
    # per-superstep labels ⋈ sym join matches partitioning on the edge side.
    with fixpoint_scope(spark, max(graph.num_nodes, 2 * graph.num_edges)):
        sym = (
            graph.symmetric_edges()
            .select(F.col("src").alias("_esrc"), F.col("dst").alias("_edst"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sym.count()

        labels = local_cut(graph.vertices().select("v", F.col("v").alias("label")))

        for it in range(1, iterations + 1):
            with superstep(met, it, rows=graph.num_nodes):
                votes = (
                    labels.join(sym, labels.v == F.col("_esrc"))
                    .select(F.col("_edst").alias("v"), F.col("label"))
                    .groupBy("v", "label")
                    .agg(F.count("*").alias("cnt"))
                )
                # argmax by (cnt desc, label asc): max_by with a sortable struct —
                # deterministic, single aggregate, no window. The keep-own-label
                # fallback is fused in as a cnt=0 state row per vertex riding the
                # same union: it loses to every real vote (cnt ≥ 1) and wins exactly
                # when the vertex has no neighbors — no labels ⋈ winner join stage.
                new_labels = (
                    votes.unionAll(labels.select("v", "label", F.lit(0).cast("long").alias("cnt")))
                    .groupBy("v")
                    .agg(
                        F.max_by(
                            "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                        ).alias("label")
                    )
                )
                labels = ckpt.step(new_labels, it)
    sym.unpersist()
    return labels

"""Connected components via hash-min label propagation (north rule).

Seeded by the reference's implicit component detection inside SIMPATH
renumbering (``src/lib.rs:379-400`` — "graph isn't connected; working with
source's component of size k"); re-expressed as the classic distributed
fixpoint: every vertex starts with label = its own id; each superstep every
vertex takes the min of its own and its (undirected) neighbors' labels;
converged when no label changes. The result is exactly the min vertex id of
each weakly-connected component — deterministic, exact-match testable.

Scale notes: supersteps = O(component diameter) — fine for the short-diameter
web/social regime; for pathological chains the star-contraction
(large-star/small-star) variant halves distances per round, at the cost of two
shuffles per round. Hash-min with the pre-partitioned symmetric edge table is
one shuffle (label exchange) + one aggregate per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    converge,
    fixpoint_scope,
)


#: supersteps of plain hash-min before "auto" shortcut enables pointer jumping
AUTO_SHORTCUT_AFTER = 4


def connected_components(
    graph: GraphFrame,
    max_supersteps: int = 200,
    checkpointer: Checkpointer | None = None,
    metrics: SuperstepMetrics | None = None,
    shortcut: bool | str = "auto",
) -> DataFrame:
    """(v, component) where component = min vertex id reachable undirected.

    Pointer jumping (``shortcut``) — after taking the neighbor minimum, every
    vertex also adopts its current label's label
    (``component ← label(component)``). Labels then travel 2^k hops in k
    supersteps instead of k hops, turning O(diameter) convergence into
    O(log diameter) — the north star is explicitly *large-diameter* graphs
    (the reference's payment graph shows ~24k-hop chains,
    ``results/bit-count.txt``), where plain hash-min would need tens of
    thousands of supersteps. Cost: one extra self-join of the (small) label
    table per superstep.

    The DEFAULT ``"auto"`` pays that cost only when it matters: plain
    hash-min for the first ``AUTO_SHORTCUT_AFTER`` supersteps (the
    short-diameter web/social regime converges before jumping would help),
    then pointer jumping from superstep 5 on — a 10^4-hop chain finishes in
    ~12 supersteps total (benchmarked), a diameter-≤4 session graph never
    pays the extra join. ``True``/``False`` force either mode; all three
    converge to the identical exact labeling (tested).

    Raises ``RuntimeError`` when ``max_supersteps`` runs out: a truncated
    labeling splits components.
    """
    return min_label_components(
        graph.vertices(),
        graph.symmetric_edges(),
        max(graph.num_nodes, graph.num_edges),
        max_supersteps,
        checkpointer,
        metrics,
        shortcut,
    )


def min_label_components(
    vertices: DataFrame,
    sym_edges: DataFrame,
    rows: int,
    max_supersteps: int = 200,
    checkpointer: Checkpointer | None = None,
    metrics: SuperstepMetrics | None = None,
    shortcut: bool | str = "auto",
) -> DataFrame:
    """The hash-min kernel: (v, component) over ``vertices`` (v) and the
    undirected edge table ``sym_edges`` (src, dst; both directions present).
    Vertex ids need not be dense. ``rows`` sizes the fixpoint scope.

    Change detection rides the label update itself: the old component is
    carried through the superstep and converge's single aggregate over the
    (already checkpointed) result counts changes — no extra labels⋈labels
    join.
    """
    spark = vertices.sparkSession
    met = metrics if metrics is not None else SuperstepMetrics(name="cc", counters=False)
    ckpt = checkpointer or Checkpointer(spark, name="cc", every=4)

    # 250k rows/partition: the pointer-jump self-joins make this a
    # scheduling-bound loop (see fixpoint_scope)
    with fixpoint_scope(spark, rows, per_partition=250_000) as width:
        sym = (
            sym_edges.repartition(width, "src")
            .select(F.col("src").alias("_esrc"), F.col("dst").alias("_edst"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sym.count()
        labels = vertices.select(
            "v", F.col("v").alias("component")
        ).localCheckpoint(eager=True)

        def superstep(labels: DataFrame, it: int) -> DataFrame:
            # one fused exchange per superstep: the state row (carrying the old
            # label for change detection) rides the SAME union as the neighbor
            # contributions into a single groupBy — min(cand) over {own label} ∪
            # {neighbor labels} IS least(own, neighbor-min), and max(_prev) picks
            # the state row's old label (contributions carry NULL).
            contrib = labels.join(sym, labels.v == F.col("_esrc")).select(
                F.col("_edst").alias("v"),
                F.col("component").alias("cand"),
                F.lit(None).cast("long").alias("_prev"),
            )
            state = labels.select(
                "v", F.col("component").alias("cand"), F.col("component").alias("_prev")
            )
            stepped = (
                contrib.unionAll(state)
                .groupBy("v")
                .agg(F.min("cand").alias("component"), F.max("_prev").alias("_old"))
                .select("v", "_old", "component")
            )
            if shortcut is True or (shortcut == "auto" and it > AUTO_SHORTCUT_AFTER):
                # pointer jump by SQUARING: the first dereference builds
                # M∘M (labels through the post-hop map M), the second
                # dereferences through ITSELF — M⁴ per superstep for two
                # self-joins. INNER joins: every component value is the min
                # of some vertex-id set, hence itself a key in `stepped`.
                for _sq in range(2):
                    parent = stepped.select(
                        F.col("v").alias("_pv"), F.col("component").alias("_pc")
                    )
                    stepped = stepped.join(
                        parent, stepped.component == F.col("_pv")
                    ).select(
                        "v",
                        "_old",
                        F.least(F.col("component"), F.col("_pc")).alias("component"),
                    )
            return stepped

        labels = converge(
            "connected_components",
            labels,
            superstep,
            F.col("component") != F.col("_old"),
            ckpt,
            met,
            max_supersteps,
        )
    sym.unpersist()
    return labels

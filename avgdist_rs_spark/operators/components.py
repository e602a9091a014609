"""Connected components via hash-min label propagation (north rule), and the
label-propagation superstep that CC and SCC's coloring share.

Seeded by the reference's implicit component detection inside SIMPATH
renumbering (``src/lib.rs:379-400`` — "graph isn't connected; working with
source's component of size k"); re-expressed as the classic distributed
fixpoint: every vertex starts with label = its own id; each superstep every
vertex takes the min of its own and its (undirected) neighbors' labels;
converged when no label changes. The result is exactly the min vertex id of
each weakly-connected component — deterministic, exact-match testable.

:func:`label_step` is that superstep for any label priority: CC keeps the
smallest id, SCC's color and rcolor passes keep the greatest
``(xxhash64(v), v)``. One fused union-aggregate exchange per superstep (the
edge table is pre-partitioned on its source column, so only the label table
shuffles), then, from superstep ``first + jump_after`` on, ``JUMP_SQUARINGS``
monotone pointer-jump self-joins of the label table: supersteps drop from
O(diameter) to O(log diameter) on long chains, and short-diameter graphs
converge before the jump's joins would pay.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    converge,
    fixpoint_scope,
    local_cut,
)


#: supersteps of plain propagation before pointer jumping starts: the
#: short-diameter web/social regime converges before jumping would help and
#: never pays the extra self-joins
AUTO_SHORTCUT_AFTER = 4

#: self-joins per jump superstep. On a PURE pointer map, iterated squaring
#: grows depth 2^k per superstep (measured: a 4096-chain resolves in 12/6/4/3
#: supersteps at k=1/2/3/4), but SCC's color fixpoint builds its chains by
#: priority-max over 1-hop-per-superstep reachability — the max vertex of a
#: ball sits at a random depth inside it, so the second and later
#: dereferences extend coverage sub-multiplicatively. Measured on the 10k
#: directed cycle: k=2 and k=4 BOTH converge in 41 supersteps, with k=4
#: doubling per-superstep wall — 2 is the knee.
JUMP_SQUARINGS = 2


def label_step(
    edges: DataFrame,
    src: str,
    dst: str,
    label: str,
    priority: Callable[[Column], Column],
    first: int = 1,
    jump_after: int = AUTO_SHORTCUT_AFTER,
) -> Callable[[DataFrame, int], DataFrame]:
    """A :func:`converge` step over (v, ``label``) state: every vertex takes
    the label of greatest ``priority`` among its own and those of its
    in-neighbors along ``edges``' ``src → dst``, carrying its old label as
    ``_old``. From superstep ``first + jump_after`` on it then adopts its
    label's own label when that has greater priority, ``JUMP_SQUARINGS``
    times through the already-jumped map (M → M² → M⁴). That is sound
    whenever the label relation composes: a vertex reaching your label
    reaches you. ``priority`` must order distinct labels strictly."""

    def step(state: DataFrame, it: int) -> DataFrame:
        # one fused exchange: the state row (carrying the old label for
        # change detection) rides the SAME union as the neighbor
        # contributions into one groupBy; max(_prev) picks the state row's
        # old label (contributions carry NULL)
        contrib = state.join(edges, state.v == F.col(src)).select(
            F.col(dst).alias("v"),
            F.col(label).alias("cand"),
            F.lit(None).cast("long").alias("_prev"),
        )
        own = state.select("v", F.col(label).alias("cand"), F.col(label).alias("_prev"))
        stepped = (
            contrib.unionAll(own)
            .groupBy("v")
            .agg(
                F.max_by("cand", priority(F.col("cand"))).alias(label),
                F.max("_prev").alias("_old"),
            )
        )
        if it - first >= jump_after:
            for _sq in range(JUMP_SQUARINGS):
                parent = stepped.select(F.col("v").alias("_pv"), F.col(label).alias("_pc"))
                # a label with no row of its own keeps itself
                pc = F.coalesce(F.col("_pc"), F.col(label))
                stepped = stepped.join(parent, stepped[label] == F.col("_pv"), "left").select(
                    "v",
                    F.when(priority(pc) > priority(F.col(label)), pc)
                    .otherwise(F.col(label))
                    .alias(label),
                    "_old",
                )
        return stepped

    return step


def connected_components(
    graph: GraphFrame,
    max_supersteps: int = 200,
    metrics: SuperstepMetrics | None = None,
) -> DataFrame:
    """(v, component) where component = min vertex id reachable undirected.

    Plain hash-min for the first ``AUTO_SHORTCUT_AFTER`` supersteps, then
    pointer jumping (:func:`label_step`): a 10^4-hop chain finishes in ~12
    supersteps (the north star is *large-diameter* graphs; the reference's
    payment graph shows ~24k-hop chains, ``results/bit-count.txt``), a
    diameter-≤4 session graph never pays the extra joins.

    Raises ``RuntimeError`` when ``max_supersteps`` runs out: a truncated
    labeling splits components.
    """
    return min_label_components(
        graph.vertices(),
        graph.symmetric_edges(),
        max(graph.num_nodes, graph.num_edges),
        max_supersteps,
        metrics,
    )


def min_label_components(
    vertices: DataFrame,
    sym_edges: DataFrame,
    rows: int,
    max_supersteps: int = 200,
    metrics: SuperstepMetrics | None = None,
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
    ckpt = Checkpointer(spark, name="cc")

    # 250k rows/partition: the pointer-jump self-joins make this a
    # scheduling-bound loop (see fixpoint_scope)
    with fixpoint_scope(spark, rows, per_partition=250_000) as width:
        sym = (
            sym_edges.repartition(width, "src")
            .select(F.col("src").alias("_esrc"), F.col("dst").alias("_edst"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sym.count()
        labels = converge(
            "connected_components",
            local_cut(vertices.select("v", F.col("v").alias("component"))),
            # the smallest id has the greatest priority
            label_step(sym, "_esrc", "_edst", "component", F.bitwise_not),
            F.col("component") != F.col("_old"),
            ckpt,
            met,
            max_supersteps,
        )
    sym.unpersist()
    return labels

"""Strongly connected components: trim + multi-pivot forward-backward coloring.

Completes the classic distributed-graph family (PageRank / CC / LP /
triangles / k-core) with the DIRECTED component structure — on a transcript
graph, nontrivial SCCs are exactly the conversation loops (tool-response
cycles), and the condensation is what any reachability analysis runs on.

Algorithm (public literature: FB-Trim / multi-pivot coloring, Slota et al.;
Hong et al.; Orzan's coloring): alternate two phases until every vertex is
assigned —

1. **Trim fixpoint** — a vertex with no alive successor or no alive
   predecessor is its own singleton SCC; removing it can expose more. On
   mostly-acyclic graphs (DAG-ish transcript/session graphs) trimming alone
   resolves everything in O(longest chain) supersteps.
2. **Coloring round** — for the cyclic remainder: propagate color(v) =
   max(own, colors of alive in-neighbors) to fixpoint, so color(v) = the
   max-priority vertex that reaches v. Every color class has one pivot (its
   own max vertex); the pivot's SCC = vertices of its class that reach it.
   Assign each found SCC its min member id (deterministic, exact-match
   testable), remove, and loop back to trimming.

Every phase is a loop of the shared drivers, and every superstep record
carries its ``phase``: ``trim``, ``color`` and ``rcolor`` run on
``converge``, ``bwd`` on ``sweep``. The trim's state is the alive-edge table
with a ``doomed`` flag: a superstep drops the doomed edges and flags every
edge whose source has no in-edge or whose target has no out-edge left, so it
has converged when no edge is flagged. Its vertices are then exactly the
sources of the edges left; the rest of the round's alive vertices are
singletons, assigned once per trim phase.

Large-diameter regime (the north star's: the reference's payment graph shows
~24k-hop chains, ``results/bit-count.txt``): both fixpoints of phase 2 are
``components.label_step`` with the priority ``(xxhash64(v), v)``, so they get
its monotone pointer jump —

- color propagation: ``color(v) ← max(color(v), color(color(v)))`` is sound
  (whatever reaches your colorer reaches you), so labels travel 2^k hops in
  k supersteps → O(log diameter) instead of O(diameter).
- the backward pivot sweep is re-expressed as a SECOND max-propagation over
  the class-restricted REVERSED edges: ``rcolor(v)`` = max vertex reachable
  from v within its color class, with the same jump (anything reachable from
  your rcolor is reachable from you). At fixpoint ``v ∈ SCC(pivot c)`` iff
  ``color(v) = rcolor(v) = c`` — exactly Orzan's membership rule, because
  every v→pivot path inside an SCC stays inside the color class. This
  replaces the O(SCC diameter) frontier BFS with O(log).

The color pass jumps after ``AUTO_SHORTCUT_AFTER`` plain supersteps per
round. The backward phase is the rcolor pass, jumping from its first
superstep, whenever the coloring ran longer than that (large diameter
observed), and the frontier sweep otherwise (small SCCs — frontier work is
proportional to SCC size, not to the alive set).

The alive-edge table is LOOP-CARRIED: seeded once from the full edge set,
hash-partitioned on its source at the loop width (the color pass's join then
co-partitions), and shrunk as vertices are assigned — every superstep scans
the current m_t, never the original m₀. The whole operator runs in one
``fixpoint_scope``. The result is the union of the assigned parts (two per
round), folded through ``local_cut`` every ``ASSIGNED_FOLD_EVERY`` parts so
many-round graphs cannot stack hundreds of Union children into its plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    converge,
    fixpoint_scope,
    local_cut,
    sweep,
)
from .components import AUTO_SHORTCUT_AFTER, label_step

#: fold the assigned parts through local_cut once this many are pending —
#: bounds the Union children of the result's plan
ASSIGNED_FOLD_EVERY = 8


def _priority(col):
    # the propagation ORDER is (xxhash64(vertex), vertex) — a deterministic
    # pseudo-random total order. Propagating by RAW id would defeat pointer
    # jumping on adversarial orientations (an ascending-id ring makes
    # max(v, pred)=v for every vertex: all pointers are self-loops, the wave
    # crawls one hop per superstep, O(n)); random priorities make non-self
    # pointer chains form everywhere, so doubling converges in O(log) whp
    # (the classic randomized list-ranking/leader-election argument). The SCC
    # output is order-invariant — only WHICH vertex pivots each class
    # changes, never the membership.
    return F.struct(F.xxhash64(col), col)


def _trim(ea: DataFrame, it: int) -> DataFrame:
    """Trim superstep over (_s, _d, doomed): drop the doomed edges, flag the
    ones whose source lost its last in-edge or whose target its last
    out-edge. The last join keys on _s, so the state stays partitioned on
    it."""
    live = ea.where(~F.col("doomed")).select("_s", "_d")
    has_out = live.select(F.col("_s").alias("_o")).distinct()
    has_in = live.select(F.col("_d").alias("_i")).distinct()
    return (
        live.join(has_out, F.col("_d") == F.col("_o"), "left")
        .join(has_in, F.col("_s") == F.col("_i"), "left")
        .select("_s", "_d", (F.col("_o").isNull() | F.col("_i").isNull()).alias("doomed"))
    )


def strongly_connected_components(
    graph: GraphFrame,
    max_rounds: int = 64,
    max_supersteps: int = 10_000,
    metrics: SuperstepMetrics | None = None,
) -> DataFrame:
    """(v, component) for every vertex; component = min vertex id of v's SCC."""
    spark = graph.spark
    met = metrics if metrics is not None else SuperstepMetrics(name="scc", counters=False)
    ckpt = Checkpointer(spark, name="scc")
    # supersteps this call has run: trim, coloring and backward sweeps all
    # record into ``met``, so its records are the one superstep counter
    base = met.total_supersteps

    def steps() -> int:
        return met.total_supersteps - base

    def fixpoint(state: DataFrame, step, changed, phase: str) -> DataFrame:
        # a truncated fixpoint would silently split SCCs: converge raises
        return converge("scc", state, step, changed, ckpt, met, max_supersteps,
                        first=steps() + 1, phase=phase)

    def propagate(state: DataFrame, edges: DataFrame, src: str, dst: str, label: str,
                  jump_after: int = AUTO_SHORTCUT_AFTER) -> DataFrame:
        # the label names the phase: "color" or "rcolor"
        step = label_step(edges, src, dst, label, _priority, steps() + 1, jump_after)
        return fixpoint(state, step, F.col(label) != F.col("_old"), label)

    alive, n_alive = graph.vertices(), graph.num_nodes
    parts: list[DataFrame] = []
    # one scope for the whole operator: trims and coloring fixpoints exchange
    # at most m_t ≤ m rows; 250k rows/partition because the coloring and
    # membership fixpoints pointer-jump through self-joins (see
    # fixpoint_scope)
    with fixpoint_scope(
        spark, max(graph.num_nodes, graph.num_edges), per_partition=250_000
    ) as loop_w:
        ea = local_cut(
            graph.edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
            .repartition(loop_w, "_s")
        )
        for _round in range(max_rounds):
            # ---- phase 1: trim fixpoint (singleton SCCs) -----------------------
            ea = fixpoint(ea.withColumn("doomed", F.lit(False)), _trim, F.col("doomed"),
                          "trim").drop("doomed")
            kept = local_cut(ea.select(F.col("_s").alias("v")).distinct(), eager=False)
            n_alive = kept.count()  # materializes the cut
            parts.append(alive.join(kept, "v", "anti").select("v", F.col("v").alias("component")))
            if n_alive == 0:
                break
            # ---- phase 2: one coloring round on the cyclic remainder -----------
            steps_before = steps()
            color = propagate(kept.select("v", F.col("v").alias("color")), ea, "_s", "_d", "color")
            if steps() - steps_before > AUTO_SHORTCUT_AFTER:
                # ---- backward membership as a second max-propagation ----------
                # class-restricted edges (SCC paths never leave the color
                # class). A cut, not a persist: the jump's self-join re-plans
                # eac under fresh attribute ids, and with AQE off that copy
                # missed the cache and recomputed both joins every superstep
                # (10k cycle on local[4]: 24 s → 48 s)
                eac = local_cut(
                    ea.join(color.select(F.col("v").alias("_s"), F.col("color").alias("_sc")), "_s")
                    .join(color.select(F.col("v").alias("_d"), F.col("color").alias("_dc")), "_d")
                    .where(F.col("_sc") == F.col("_dc"))
                    .select("_s", "_d")
                )
                # propagate along REVERSED edges: rcolor(v) = max vertex
                # reachable from v within its class; the coloring already
                # proved the diameter large, so it jumps from the start
                rcolor = propagate(color.select("v", F.col("v").alias("rcolor")), eac, "_d", "_s",
                                   "rcolor", jump_after=0)
                mem = local_cut(
                    rcolor.join(color, "v").where(F.col("rcolor") == F.col("color"))
                    .select("v", "color"),
                    eager=False,
                )
            else:
                # ---- backward frontier from each pivot within its class -------
                # work proportional to the found SCCs, right for small diameters
                # the sweep's first count materializes the cut
                mem = local_cut(color.where(F.col("v") == F.col("color")).select("v", "color"),
                                eager=False)
                color_v = color.select("v", F.col("color").alias("_vc"))

                def preds(frontier: DataFrame, it: int) -> DataFrame:
                    return (
                        frontier.join(ea, frontier.v == F.col("_d"))
                        .select(F.col("_s").alias("v"), "color")
                        .distinct()
                        .join(color_v, "v")
                        .where(F.col("color") == F.col("_vc"))
                        .select("v", "color")
                    )

                mem, levels = sweep(mem, mem, preds, ["v", "color"], ckpt, met, n_alive,
                                    first=steps() + 1, max_supersteps=max_supersteps,
                                    phase="bwd")
                if levels[-1]:
                    raise RuntimeError(
                        f"scc: backward sweep not converged within "
                        f"max_supersteps={max_supersteps}; raise the budget"
                    )
            # label each found SCC with its min member; remove it
            labels = mem.groupBy("color").agg(F.min("v").alias("component"))
            parts.append(mem.join(labels, "color").select("v", "component"))
            if len(parts) >= ASSIGNED_FOLD_EVERY:
                parts = [local_cut(reduce(DataFrame.unionAll, parts))]
            alive = local_cut(kept.join(mem.select("v"), "v", "anti"), eager=False)
            n_alive = alive.count()  # materializes the cut, and mem's
            if n_alive == 0:
                break
            gone = mem.select("v")
            ea = ea.join(gone.withColumnRenamed("v", "_s"), "_s", "anti").join(
                gone.withColumnRenamed("v", "_d"), "_d", "anti"
            )
    if n_alive > 0:
        raise RuntimeError(f"scc: {n_alive} vertices unresolved after {max_rounds} rounds")
    return reduce(DataFrame.unionAll, parts) if parts else alive.select(
        "v", F.col("v").alias("component"))

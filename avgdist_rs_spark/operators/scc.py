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
   max-id vertex that reaches v. Every color class has one pivot (its own
   max vertex); the pivot's SCC = vertices of its class that reach it.
   Assign each found SCC its min member id (deterministic, exact-match
   testable), remove, and loop back to trimming.

Large-diameter regime (the north star's: the reference's payment graph shows
~24k-hop chains, ``results/bit-count.txt``): both fixpoints of phase 2 get
the same monotone pointer-jump shortcut as ``components`` —

- color propagation: ``color(v) ← max(color(v), color(color(v)))`` is sound
  (whatever reaches your colorer reaches you), so labels travel 2^k hops in
  k supersteps → O(log diameter) instead of O(diameter).
- the backward pivot sweep is re-expressed as a SECOND max-propagation over
  the class-restricted REVERSED edges: ``rcolor(v)`` = max vertex reachable
  from v within its color class, with the same jump (anything reachable from
  your rcolor is reachable from you). At fixpoint ``v ∈ SCC(pivot c)`` iff
  ``color(v) = rcolor(v) = c`` — exactly Orzan's membership rule, because
  every v→pivot path inside an SCC stays inside the color class. This
  replaces the O(SCC diameter) frontier BFS of rounds ≤3 with O(log).

``shortcut="auto"`` (default) pays the jump join only when the diameter
proxy demands it: plain one-hop propagation for the first
``AUTO_SHORTCUT_AFTER`` color supersteps per round, jumping after; the
backward phase uses the rcolor formulation whenever the coloring needed the
jump (large diameter observed), the frontier sweep otherwise (small SCCs —
frontier work is proportional to SCC size, not to the alive set).

Physical shape per superstep: the same fused union-aggregate discipline as
``components``/``labelprop`` (state rows ride the contribution union into one
exchange). The alive-edge table is LOOP-CARRIED: seeded once from the full
edge set and shrunk by (broadcast) anti-joins as vertices are assigned —
every superstep scans the current m_t, never the original m₀, and phase 2
reuses the table without a rebuild. The whole operator runs in one
``fixpoint_scope``. The ``assigned`` accumulator is folded through
``localCheckpoint`` every ``ASSIGNED_FOLD_EVERY`` unions so deep-trim DAGs
cannot stack thousands of Union children into the final plan (round-3
advice).
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
    local_cut,
    superstep,
    sweep,
)

#: color supersteps per round before "auto" enables pointer jumping (mirrors
#: components.AUTO_SHORTCUT_AFTER — short-diameter graphs converge before
#: jumping would help and never pay the extra self-join)
AUTO_SHORTCUT_AFTER = 4

#: fold the assigned-vertices accumulator through localCheckpoint every this
#: many unionAll's — bounds final-plan Union depth on deep-trim DAGs
ASSIGNED_FOLD_EVERY = 8

#: self-joins per jump superstep. On a PURE pointer map, iterated squaring
#: grows depth 2^k per superstep (measured: a 4096-chain resolves in 12/6/4/3
#: supersteps at k=1/2/3/4), but the color fixpoint's chains are built by
#: priority-max over 1-hop-per-superstep reachability — the max vertex of a
#: ball sits at a random depth inside it, so the second and later
#: dereferences extend coverage sub-multiplicatively. Measured on the 10k
#: directed cycle: k=2 and k=4 BOTH converge in 41 supersteps, with k=4
#: doubling per-superstep wall — 2 is the knee.
JUMP_SQUARINGS = 2


def strongly_connected_components(
    graph: GraphFrame,
    max_rounds: int = 64,
    max_supersteps: int = 10_000,
    metrics: SuperstepMetrics | None = None,
    shortcut: bool | str = "auto",
) -> DataFrame:
    """(v, component) for every vertex; component = min vertex id of v's SCC."""
    spark = graph.spark
    met = metrics if metrics is not None else SuperstepMetrics(name="scc", counters=False)
    ckpt = Checkpointer(spark, name="scc")

    alive = local_cut(graph.vertices())
    n_alive = alive.count()
    assigned: DataFrame | None = None
    n_acc = 0
    # supersteps this call has run: trim, coloring and backward sweeps all
    # record into ``met``, so its records are the one superstep counter
    base = met.total_supersteps

    def steps() -> int:
        return met.total_supersteps - base

    def _shrink_ea(gone: DataFrame, gone_count: int) -> None:
        nonlocal ea
        g = F.broadcast(gone) if gone_count <= 5_000_000 else gone
        ea = local_cut(ea.join(g.select(F.col("v").alias("_s")), "_s", "anti").join(
            g.select(F.col("v").alias("_d")), "_d", "anti"
        ))

    def _accumulate(found: DataFrame) -> None:
        nonlocal assigned, n_acc
        assigned = found if assigned is None else assigned.unionAll(found)
        n_acc += 1
        if n_acc % ASSIGNED_FOLD_EVERY == 0:
            assigned = local_cut(assigned)
            met.assigned_folds = getattr(met, "assigned_folds", 0) + 1

    def _pri(col):
        # the propagation ORDER is (xxhash64(vertex), vertex) — a deterministic
        # pseudo-random total order. Propagating by RAW id would defeat pointer
        # jumping on adversarial orientations (an ascending-id ring makes
        # max(v, pred)=v for every vertex: all pointers are self-loops, the
        # wave crawls one hop per superstep, O(n)); random priorities make
        # non-self pointer chains form everywhere, so doubling converges in
        # O(log) whp (the classic randomized list-ranking/leader-election
        # argument). The SCC output is order-invariant — only WHICH vertex
        # pivots each class changes, never the membership.
        return F.struct(F.xxhash64(col).alias("h"), col.alias("w"))

    def _max_prop_fixpoint(state0: DataFrame, edge_tbl: DataFrame,
                           src_col: str, dst_col: str, label: str,
                           force_jump: bool = False) -> DataFrame:
        """Priority-max label propagation along ``src_col → dst_col`` of
        ``edge_tbl`` to fixpoint, with monotone pointer jumping per
        ``shortcut``. ``state0`` is (v, <label>); returns the converged
        (v, <label>) where <label> = the priority-max vertex reaching v.
        ``force_jump`` skips the plain warm-up supersteps — used by the
        rcolor pass, which only runs once the coloring has already proven
        the diameter large."""
        first = steps() + 1

        def color_step(state: DataFrame, it: int) -> DataFrame:
            jump = (
                force_jump
                or shortcut is True
                or (shortcut == "auto" and it - first >= AUTO_SHORTCUT_AFTER)
            )
            contrib = state.join(
                edge_tbl, state.v == F.col(src_col)
            ).select(
                F.col(dst_col).alias("v"),
                _pri(F.col(label)).alias("cand"),
                F.lit(None).cast("long").alias("_prev"),
            )
            own = state.select(
                "v", _pri(F.col(label)).alias("cand"), F.col(label).alias("_prev")
            )
            stepped = (
                contrib.unionAll(own)
                .groupBy("v")
                .agg(F.max("cand").alias("m"), F.max("_prev").alias("_old"))
                .select("v", F.col("m.w").alias(label), "_old")
            )
            if jump:
                # monotone shortcut: adopt your label's own label — sound
                # because reachability composes (same recipe as
                # components.py), applied by ITERATED SQUARING: each
                # dereference goes through the ALREADY-JUMPED map, so k
                # self-joins grow pointer depth ~2^k per superstep (the
                # former fixed two-deref through the pre-step map only
                # reached ~3x). The joins are cheap label-table self-joins
                # at the narrow loop width; whole supersteps of fixed cost
                # (job scheduling + plan analysis) are what they save —
                # 10k directed cycle measured 42 supersteps at depth 3x.
                for _sq in range(JUMP_SQUARINGS):
                    pmap = stepped.select(
                        F.col("v").alias("_pv"), F.col(label).alias("_pc")
                    )
                    stepped = stepped.join(
                        pmap, stepped[label] == F.col("_pv"), "left"
                    ).select(
                        "v",
                        "_old",
                        # NULL check, not coalesce-of-struct: xxhash64(NULL)
                        # is the seed, so _pri(NULL) is a NON-null struct
                        F.when(F.col("_pc").isNull(), F.col(label))
                        .otherwise(
                            F.greatest(
                                _pri(F.col(label)), _pri(F.col("_pc"))
                            ).getField("w")
                        )
                        .alias(label),
                    )
            return stepped

        # a truncated fixpoint would silently split SCCs: converge raises
        return converge(
            "scc", state0, color_step, F.col(label) != F.col("_old"),
            ckpt, met, max_supersteps, first=first,
        )

    # one scope for the whole operator: phase-1 trims and phase-2 fixpoints
    # exchange at most m_t ≤ m rows; 250k rows/partition because the
    # coloring/membership fixpoints pointer-jump through self-joins (see
    # fixpoint_scope). The explicit F.broadcast hints in _shrink_ea are
    # unaffected by its broadcast rule.
    with fixpoint_scope(
        spark, max(graph.num_nodes, graph.num_edges), per_partition=250_000
    ) as loop_w:
        # loop-carried alive-edge table, hash-partitioned on _s AT THE LOOP
        # WIDTH once: the color-pass join (state.v == _s) then co-partitions
        # every superstep (guide §2.4); the broadcast anti-join shrinks and
        # localCheckpoints preserve it. Seeded with the full edge set, SHRUNK
        # by anti-joining out vertices as they leave `alive` (dead singletons
        # each trim superstep, found SCCs each round) — every superstep scans
        # the current m_t instead of rebuilding alive⋈edges⋈alive from the
        # original m₀, and phase 2 reuses the table as-is. Each shrink folds
        # the lineage immediately: deferring folds makes every downstream
        # action re-execute the stacked anti-joins AND recompute their lazy
        # inputs (measured: cadence-8 cost ~0.5 s/superstep in rebuilt
        # broadcasts on a 240-chain), while the materialization is bounded by
        # the m_t scan the superstep does anyway.
        ea = local_cut(
            graph.edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
            .repartition(loop_w, "_s")
        )
        for _round in range(1, max_rounds + 1):
            if n_alive == 0:
                break
            # ---- phase 1: trim fixpoint (singleton SCCs) -----------------------
            while n_alive > 0:
                with superstep(met, steps() + 1, phase="trim") as rec:
                    # a vertex survives iff it has ≥1 out-edge AND ≥1 in-edge
                    # in the alive-edge table (ea endpoints are alive by
                    # invariant)
                    keep = (
                        alive.join(ea.select(F.col("_s").alias("v")).distinct(), "v", "semi")
                        .join(ea.select(F.col("_d").alias("v")).distinct(), "v", "semi")
                    )
                    keep = local_cut(keep, eager=False)  # count() materializes
                    n_keep = keep.count()
                    if n_keep == n_alive:
                        break
                    # materialize once — both the accumulator union and the ea
                    # shrink consume it
                    dead = local_cut(
                        alive.join(keep, "v", "anti").select("v", F.col("v").alias("component"))
                    )
                    _accumulate(dead)
                    _shrink_ea(dead.select("v"), n_alive - n_keep)
                    alive, n_alive = keep, n_keep
                    rec["rows"] = n_alive
            if n_alive == 0:
                break
            # ---- phase 2: one coloring round on the cyclic remainder -----------
            color0 = local_cut(alive.select("v", F.col("v").alias("color")))
            steps_before = steps()
            color = _max_prop_fixpoint(color0, ea, "_s", "_d", "color")
            color = color.persist(StorageLevel.MEMORY_AND_DISK)
            color.count()
            color_steps = steps() - steps_before
            large_diameter = shortcut is True or (
                shortcut == "auto" and color_steps > AUTO_SHORTCUT_AFTER
            )
            if large_diameter:
                # ---- backward membership as a second max-propagation ----------
                # class-restricted edges (SCC paths never leave the color
                # class). local_cut, not persist: the jump's self-join
                # re-plans eac under fresh attribute ids, and with AQE off
                # that copy missed the cache and recomputed both joins every
                # superstep (10k cycle on local[4]: 24 s → 48 s)
                eac = local_cut(
                    ea.join(
                        color.select(F.col("v").alias("_s"), F.col("color").alias("_sc")),
                        "_s",
                    )
                    .join(
                        color.select(F.col("v").alias("_d"), F.col("color").alias("_dc")),
                        "_d",
                    )
                    .where(F.col("_sc") == F.col("_dc"))
                    .select("_s", "_d")
                )
                r0 = local_cut(color.select("v", F.col("v").alias("rcolor")))
                # propagate along REVERSED edges: rcolor(v) = max vertex reachable
                # from v within its class (contribution flows successor → source)
                rcolor = _max_prop_fixpoint(
                    r0, eac, "_d", "_s", "rcolor", force_jump=shortcut is not False
                )
                mem = local_cut(
                    rcolor.join(color, "v")
                    .where(F.col("rcolor") == F.col("color"))
                    .select("v", "color")
                )
            else:
                # ---- backward frontier from each pivot within its class -------
                # work proportional to the found SCCs, right for small diameters
                mem = local_cut(color.where(F.col("v") == F.col("color")).select("v", "color"))
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
            # label each found SCC with its min member; remove from alive
            labels = mem.groupBy("color").agg(F.min("v").alias("component"))
            found = local_cut(mem.join(labels, "color").select("v", "component"))
            _accumulate(found)
            prev_alive = n_alive
            # non-eager: the count() materializes — one job per round-end
            alive = local_cut(alive.join(mem.select("v"), "v", "anti"), eager=False)
            n_alive = alive.count()
            _shrink_ea(mem.select("v"), prev_alive - n_alive)
            color.unpersist()
    if n_alive > 0:
        raise RuntimeError(
            f"scc: {n_alive} vertices unresolved after {max_rounds} rounds"
        )
    out = (assigned or graph.vertices().select("v", F.col("v").alias("component")))
    return local_cut(out)

"""Minimum spanning forest via distributed Borůvka.

Completes the classic distributed-graph family (PageRank / CC / LP / SCC /
k-core / k-truss) with the weighted-structure primitive: the MSF is the
backbone a clustering pass runs on (single-linkage clustering IS the MSF with
long edges cut), and Borůvka is THE parallel MST algorithm — every component
picks its minimum crossing edge simultaneously, components at least halve per
round, so O(log n) rounds regardless of diameter (public method: Borůvka
1926; the parallel formulation follows the standard GPU/Pregel treatments).

Determinism: weights default to the portable md5 hash of the canonical
(min,max) endpoint pair, and ALL comparisons use the total order
(w, u, v) — so the MSF is unique even under hash collisions, any engine
replays it, and networkx's Kruskal on the same weights is an exact oracle
(``tests/test_msf.py``).

Physical shape per round:
- re-label edge endpoints: two joins of the (shrinking) cross-component
  edge table against the label table; intra-component edges are DROPPED
  from the loop-carried table (the scan shrinks monotonically, the same
  discipline as scc.py's alive-edge table).
- per-component min: ONE map-side-combinable groupBy of the candidate
  stream (each edge appears under both endpoint components) taking
  ``min(struct(w, u, v, other))``.
- contraction: the picked parent pointers form a functional graph whose
  only cycles are mutual pairs (distinct total order ⇒ a longer cycle
  would need a descending weight loop); break 2-cycles toward the smaller
  component id, then pointer-jump (``parent ← parent(parent)``) to the
  root — O(log chain) inner supersteps on ``converge``, on the LABEL table
  only (component count ≤ n, halving each round; edges never enter the jump
  loop).

Records: each round is one ``phase="round"`` record (relabel, count, pick,
forest fold, 2-cycle break) followed by its ``phase="jump"`` records, all
numbered in one sequence and carrying ``round``.

The reference has no weighted operators (studied for behavior only:
``/root/reference/src/lib.rs`` is unweighted BFS throughout); this operator
is part of the beyond-reference pipeline family, with no SQL oracle — the
driver records the weaker rows-only check and pytest carries the exact
parity (unique-MSF networkx replay + parallelism invariance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    converge,
    fixpoint_scope,
    superstep,
)


def _canonical_weighted(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """Undirected canonical edge set (u < v) with a total-order weight."""
    u = F.least(F.col("src"), F.col("dst")).alias("u")
    v = F.greatest(F.col("src"), F.col("dst")).alias("v")
    e = edges.where(F.col("src") != F.col("dst"))
    if weight_col is None:
        e = e.select(u, v).distinct()
        w = portable_hash64(
            F.concat_ws(":", F.col("u").cast("string"), F.col("v").cast("string")),
            salt="msf:",
        )
        return e.select("u", "v", w.alias("w"))
    # explicit weights: keep the minimum per canonical pair
    return (
        e.select(u, v, F.col(weight_col).alias("w"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str | None = None,
    max_rounds: int = 64,
    metrics: SuperstepMetrics | None = None,
) -> DataFrame:
    """(u, v, w) — the unique minimum spanning forest of the undirected
    graph under the total order (w, u, v). ``weight_col=None`` derives
    portable-md5 weights from the canonical endpoint pair.

    ALL lineage cuts route through one :class:`Checkpointer` — the cut
    ancestry here is deep (relabel -> pick -> break -> jumps -> labels,
    every round), exactly the shape that trips the chained-localCheckpoint
    cost blow-up (see ``Checkpointer.HARD_EVERY``); the periodic Parquet
    reset keeps per-cut cost flat through arbitrarily many rounds."""
    spark = edges.sparkSession
    met = metrics if metrics is not None else SuperstepMetrics(name="msf", counters=False)
    ckpt = Checkpointer(spark, name="msf", hard_every=6)
    base = met.total_supersteps

    def steps() -> int:
        return met.total_supersteps - base

    # lazy cuts by default: the loop's own next action (a count / convergence
    # aggregate that touches every partition) materializes the checkpoint, so
    # each round runs ~3 Spark jobs instead of ~8 — the superstep-fusion
    # discipline every other fixpoint here already uses (guide §1.2: fewer
    # driver round-trips per iteration)
    def cut(df: DataFrame, lazy: bool = True) -> DataFrame:
        return ckpt.step(df, steps(), lazy=lazy)

    def jump(par: DataFrame, it: int) -> DataFrame:
        # two chained dereferences per superstep, the second through the
        # ALREADY-JUMPED map — depth ~4x per jump job (the components.py
        # squaring trick, VERDICT r5 next-#7)
        par = par.drop("_old")
        g = par.select(F.col("c").alias("_pc"), F.col("p").alias("_pp"))
        once = par.join(g, par.p == F.col("_pc"), "left").select(
            "c", F.coalesce("_pp", "p").alias("p"), par.p.alias("_old")
        )
        g2 = once.select(F.col("c").alias("_qc"), F.col("p").alias("_qp"))
        return once.join(g2, once.p == F.col("_qc"), "left").select(
            "c", F.coalesce("_qp", "p").alias("p"), "_old"
        )

    ew = cut(_canonical_weighted(edges, weight_col))
    n_edges = ew.count()

    verts = (
        ew.select(F.col("u").alias("x"))
        .unionAll(ew.select(F.col("v").alias("x")))
        .distinct()
    )
    labels = cut(verts.select(F.col("x"), F.col("x").alias("lbl")))
    forest: DataFrame | None = None
    par: DataFrame | None = None

    with fixpoint_scope(spark, max(n_edges, 1), per_partition=250_000):
        for rnd in range(1, max_rounds + 1):
            with superstep(met, steps() + 1, phase="round", round=rnd) as rec:
                if par is not None:
                    # 5. (of the last round) fold its root map into the
                    # vertex labels — lazy: this round's n_cross count
                    # materializes it, and a Parquet reset counts here
                    labels = cut(
                        labels.join(
                            par.select(F.col("c").alias("lbl"), F.col("p").alias("_r")),
                            "lbl",
                            "left",
                        ).select("x", F.coalesce("_r", "lbl").alias("lbl"))
                    )
                # 1. relabel endpoints; drop intra-component edges for good
                el = (
                    ew.select("u", "v", "w")
                    .join(labels.select(F.col("x").alias("u"), F.col("lbl").alias("_lu")), "u")
                    .join(labels.select(F.col("x").alias("v"), F.col("lbl").alias("_lv")), "v")
                )
                ew = cut(
                    el.where(F.col("_lu") != F.col("_lv")).select(
                        "u", "v", "w", "_lu", "_lv"
                    )
                )
                rec["rows"] = n_cross = ew.count()
                if n_cross == 0:
                    break
                # 2. per-component minimum crossing edge (total order w,u,v).
                # pick is consumed twice (forest edges + parent pointers), so
                # it is the round's ONE eager cut — sel/par derive from the
                # cached rows instead of re-running the groupBy
                cand = ew.select(
                    F.col("_lu").alias("c"),
                    F.struct("w", "u", "v", F.col("_lv").alias("o")).alias("m"),
                ).unionAll(
                    ew.select(
                        F.col("_lv").alias("c"),
                        F.struct("w", "u", "v", F.col("_lu").alias("o")).alias("m"),
                    )
                )
                pick = cut(cand.groupBy("c").agg(F.min("m").alias("m")), lazy=False)
                sel = pick.select(
                    F.col("m.u").alias("u"), F.col("m.v").alias("v"), F.col("m.w").alias("w")
                ).distinct()
                # forest accumulates lazily; fold every 4 rounds bounds the
                # Union depth without rewriting the whole forest each round
                forest = sel if forest is None else forest.unionAll(sel)
                if rnd % 4 == 0:
                    forest = cut(forest, lazy=False)
                # 3. contraction: parent pointers, 2-cycle break toward the
                # smaller id
                par = pick.select("c", F.col("m.o").alias("p"))
                g = par.select(F.col("c").alias("_pc"), F.col("p").alias("_pp"))
                par = par.join(g, par.p == F.col("_pc"), "left").select(
                    "c",
                    F.when(
                        (F.col("_pp") == F.col("c")) & (F.col("c") < F.col("p")),
                        F.col("c"),
                    )
                    .otherwise(F.col("p"))
                    .alias("p"),
                )
            # 4. pointer-jump to the roots. Depth at least quadruples per
            # jump and no chain is longer than the round's 2·n_cross
            # endpoints, so bit_length(2·n_cross) jumps reach every root
            # and one more moves nothing
            first = steps() + 1
            par = converge(
                f"msf round {rnd} pointer jump", par, jump, F.col("p") != F.col("_old"),
                ckpt, met, first + (2 * n_cross).bit_length(), first=first,
                phase="jump", round=rnd,
            )
        else:
            raise RuntimeError(
                f"msf: not converged within max_rounds={max_rounds}"
            )
    if forest is None:
        return ew.select("u", "v", "w").limit(0)
    return forest


def msf_total_weight(edges: DataFrame, weight_col: str | None = None):
    """One-row (n_edges, total_weight) summary of the forest."""
    f = minimum_spanning_forest(edges, weight_col)
    # sum as double: default weights are 60-bit hashes, whose long sum
    # overflows under ANSI mode within ~8 edges
    return f.agg(
        F.count("*").alias("n_edges"),
        F.sum(F.col("w").cast("double")).alias("total_weight"),
    )

"""k-core decomposition by iterative peeling (superstep loop).

The k-core is the maximal subgraph in which every vertex has (undirected)
degree ≥ k — the standard graph-cleaning / community-scaffold primitive on
link graphs (peels leaves, tendrils, and low-engagement chains off the
transcript graph before expensive analytics). Beyond-reference capability in
the same family as PageRank/CC/LP (north rule).

Algorithm: repeatedly delete vertices with current degree < k until none
remain; the survivors are exactly the k-core (classic peeling — order of
deletion does not matter, so the synchronous superstep version is exact and
deterministic). Supersteps = peeling depth, typically ≪ diameter.

Physical plan per superstep: the symmetric edge table is filtered to
edges with BOTH endpoints alive (two hash semi-joins against the n-row
alive set — the big edge table itself is never aggregated into new state,
and the alive set shrinks monotonically), then one count aggregate per
vertex. Convergence = alive count unchanged (one scalar per superstep, the
same cadence every other fixpoint here uses). Lineage is cut every
superstep via the shared Checkpointer.

NOT loop-carried like ``scc``'s alive-edge table — measured (round 4,
sf0.1): k-core peels are SHALLOW (few supersteps), so the upfront shrink
materialization costs more than the per-superstep rebuild it saves
(0.95 s → 1.7 s warm). The loop-carry pays off only on deep peel chains
(SCC trim); here the semi-join rebuild against the persisted symmetric
table is the better trade.
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
    superstep,
)


def k_core(
    graph: GraphFrame,
    k: int = 2,
    max_supersteps: int = 100,
    checkpointer: Checkpointer | None = None,
    metrics: SuperstepMetrics | None = None,
) -> DataFrame:
    """(v, deg) for every vertex of the k-core; ``deg`` is the degree inside
    the core (≥ k by construction)."""
    spark = graph.spark
    met = metrics if metrics is not None else SuperstepMetrics(name="kcore", counters=False)
    ckpt = checkpointer or Checkpointer(spark, name="kcore", every=4)

    # scoped to the peel's exchange volume: each superstep aggregates the
    # alive-filtered symmetric edge stream (≤ 2m rows) into an ≤ n-row
    # degree table. sym is built inside the scope so the per-superstep
    # semi-joins match its partitioning.
    with fixpoint_scope(spark, max(graph.num_nodes, 2 * graph.num_edges)):
        sym = (
            graph.symmetric_edges()
            .select(F.col("src").alias("_esrc"), F.col("dst").alias("_edst"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sym.count()

        # degrees over the full graph seed the first peel
        alive = (
            sym.groupBy(F.col("_esrc").alias("v"))
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .localCheckpoint(eager=True)
        )
        n_alive = alive.count()

        converged = n_alive == 0
        for it in range(1, max_supersteps + 1):
            if converged:
                break
            with superstep(met, it) as rec:
                ev = sym.join(alive.select(F.col("v").alias("_esrc")), "_esrc").join(
                    alive.select(F.col("v").alias("_edst")), "_edst"
                )
                nxt = (
                    ev.groupBy(F.col("_esrc").alias("v"))
                    .agg(F.count("*").alias("deg"))
                    .where(F.col("deg") >= k)
                )
                # non-eager: the count() below materializes — one job/superstep
                nxt = ckpt.step(nxt, it, lazy=True)
                rec["rows"] = n_next = nxt.count()
            converged = n_next == n_alive or n_next == 0
            alive, n_alive = nxt, n_next
    sym.unpersist()
    if not converged:
        # mirror the SQL oracle's error() guard: a truncated peel is a
        # SUPERSET of the k-core — never return it silently
        raise RuntimeError(
            f"k_core: peeling not converged after {max_supersteps} supersteps "
            f"({n_alive} vertices still alive); raise max_supersteps"
        )
    return alive

"""Weighted single-source shortest paths — distributed Bellman-Ford.

Fills the one distance-capability gap left by the BFS family: the reference
engine (and this engine's K1/K2/K6 kernels) measure HOP distances; a session
graph also carries natural edge weights (time gaps, costs), and weighted
distances need min-plus relaxation, not frontier expansion.

Formulation (Bellman-Ford as the fused union-aggregate superstep every
fixpoint here uses):

    dist₀ = 0 at the sources, absent elsewhere
    distₖ₊₁(v) = min(distₖ(v), min over edges u→v of distₖ(u) + w(u,v))

with FRONTIER-ONLY relaxation: only vertices whose distance improved in the
previous superstep send contributions (the standard work-efficiency
refinement — per-superstep cost is proportional to the active set, not the
reached set). Supersteps = hop length of the longest shortest path; the
documented scale refinement past that is delta-stepping (bucketed
relaxation), not built until a measured need exists.

Non-negative weights are REQUIRED and validated (one aggregate): with
negative edges the early-exit invariant (converged when no distance
improves) still holds, but the n-superstep cycle-detection bound does not,
and a negative cycle would loop to max_supersteps.

The driver query's oracle replays the same fixpoint as UNROLLED min-plus
CTE rounds with a convergence guard (the kcore/cc oracle discipline — the
guard errors the oracle loudly rather than under-iterating silently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    converge,
    fixpoint_scope,
    local_cut,
)


def sssp(
    edges_w: DataFrame,
    sources: DataFrame,
    max_supersteps: int = 10_000,
    metrics: SuperstepMetrics | None = None,
) -> DataFrame:
    """(v, dist) for every vertex reachable from ``sources``.

    ``edges_w`` is (src, dst, w) with w ≥ 0 (validated); ``sources`` is a
    one-column DataFrame (``v``). dist is the weight type summed as double.
    """
    spark = edges_w.sparkSession
    met = metrics if metrics is not None else SuperstepMetrics(name="sssp", counters=False)
    ckpt = Checkpointer(spark, name="sssp")

    ew = edges_w.select(
        "src", "dst", F.col("w").cast("double").alias("w")
    ).where(F.col("src") != F.col("dst"))
    # one scan answers both the negativity probe and the size estimate
    probe = ew.agg(
        F.count("*").alias("m"),
        F.sum((F.col("w") < 0).cast("long")).alias("neg"),
    ).collect()[0]
    if int(probe["neg"] or 0):
        raise ValueError("sssp requires non-negative edge weights")
    n_edges = int(probe["m"])
    # a vertex "changed" when it is new or its distance improved; the next
    # superstep relaxes only from those (the frontier), read off the
    # checkpointed state by the same predicate
    improved = F.col("_old").isNull() | (F.col("dist") < F.col("_old"))

    with fixpoint_scope(spark, max(n_edges, 1), per_partition=250_000) as width:
        # hash-partition the edge table on src at the LOOP width once: the
        # per-superstep frontier ⋈ ew join then co-partitions and the edge
        # table never re-exchanges inside the loop (guide §2.4)
        ew = ew.repartition(width, "src").persist()
        ew.count()
        # every source starts improved (_old NULL)
        dist0 = local_cut(sources.select(
            F.col("v"), F.lit(0.0).alias("dist"), F.lit(None).cast("double").alias("_old")
        ).distinct())

        def superstep(dist: DataFrame, it: int) -> DataFrame:
            frontier = dist.where(improved)
            # relax only from the improved set; state rides the union so
            # the min IS the new distance table (one exchange)
            contrib = frontier.join(ew, frontier.v == ew.src).select(
                F.col("dst").alias("v"),
                (F.col("dist") + F.col("w")).alias("d"),
                F.lit(None).cast("double").alias("_prev"),
            )
            state = dist.select(
                "v", F.col("dist").alias("d"), F.col("dist").alias("_prev")
            )
            return (
                contrib.unionAll(state)
                .groupBy("v")
                .agg(F.min("d").alias("dist"), F.max("_prev").alias("_old"))
            )

        dist = converge("sssp", dist0, superstep, improved, ckpt, met, max_supersteps)
    ew.unpersist()
    return dist


def hash_weights(edges: DataFrame, lo: int = 1, hi: int = 9, salt: str = "sw:") -> DataFrame:
    """(src, dst, w): deterministic pseudo-weights in [lo, hi] from the
    portable md5 stream of the directed pair — engine-replayable, so a SQL
    oracle can re-derive every weight."""
    from ..functions.hashing import portable_hash64

    h = portable_hash64(
        F.concat_ws(">", F.col("src").cast("string"), F.col("dst").cast("string")),
        salt=salt,
    )
    return edges.select(
        "src", "dst", (F.pmod(h, F.lit(hi - lo + 1)) + lo).cast("double").alias("w")
    )

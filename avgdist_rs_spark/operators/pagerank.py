"""PageRank as a superstep loop of DataFrame joins (north rule; SURVEY.md §7.3).

Standard damped formulation, d = 0.85:

    r₀(v) = 1/n
    rₖ₊₁(v) = (1−d)/n + d · ( Σ_{u→v} rₖ(u)/outdeg(u) + dangling_massₖ/n )

Dangling vertices (out-degree 0 — the reference's "sinks", K7) spread their rank
uniformly, keeping Σr = 1 at every iteration (tests assert this and 1e-6
agreement with networkx at equal iteration counts).

Physical plan per iteration: ranks ⋈ out-degree-normalized edges (edge side keeps
its stable hash partitioning on src — only the n-row rank vector shuffles),
partial+final sum aggregate on dst, one broadcast scalar for the dangling mass.
Rank lineage is truncated every iteration; durable checkpoints + manifest enable
resume of any superstep (north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    fixpoint_scope,
    superstep,
)


def pagerank(
    graph: GraphFrame,
    iterations: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    checkpointer: Checkpointer | None = None,
    metrics: SuperstepMetrics | None = None,
    resume: bool = False,
    seeds: list[int] | None = None,
) -> DataFrame:
    """(v, rank) after ``iterations`` supersteps (or earlier if L1 delta < tol).

    ``seeds`` switches to PERSONALIZED PageRank (random walk with restart):
    the teleport vector concentrates on the seed set — tele(v) = 1/|S| for
    v ∈ S, else 0 — so rank measures proximity to the seeds (the standard
    relevance/recommendation primitive on link graphs). Standard PageRank is
    the special case tele ≡ 1/n; dangling mass redistributes through the same
    teleport vector, preserving Σrank = 1 in both modes. Physical plan is
    unchanged: the teleport weight rides the per-vertex base rows through the
    fused union-aggregate (contributions carry 0; max() recovers it), no
    extra join or shuffle. Seed sets are assumed driver-small (they are query
    parameters); pass ids, not a DataFrame.
    """
    spark = graph.spark
    n = graph.num_nodes
    met = metrics if metrics is not None else SuperstepMetrics(name="pagerank", counters=False)
    ckpt = checkpointer or Checkpointer(spark, name="pagerank", every=1)

    # the rank vector (n rows) and the contribution stream (m rows) are all
    # that moves each iteration. The scope opens BEFORE the normalized edge
    # table is built so the deg join lands it hash-partitioned on src AT THE
    # LOOP WIDTH: the per-iteration ranks ⋈ edges join then matches on both
    # sides (see fixpoint_scope)
    with fixpoint_scope(spark, max(n, graph.num_edges)):
        # out-degree-normalized edge weights, computed once and persisted at
        # the loop's exchange width
        deg = graph.edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        norm_edges = (
            graph.edges.join(deg, "src")
            .select(
                F.col("src").alias("_esrc"),
                F.col("dst").alias("_edst"),
                (F.lit(1.0) / F.col("outdeg")).alias("_w"),
            )
            .persist()
        )
        norm_edges.count()
        # one upfront sink probe: a sink-free graph has zero dangling mass
        # every superstep, so the per-superstep scalar collect can be skipped
        has_dangling = (
            graph.edges.select(F.countDistinct("src").alias("d")).collect()[0]["d"] < n
        )

        if seeds is None:
            tele = F.lit(1.0) / F.lit(float(n))
        else:
            sset = sorted({int(s) for s in seeds})
            if not sset:
                raise ValueError("personalized pagerank needs a non-empty seed set")
            tele = F.when(
                F.col("v").isin(sset), F.lit(1.0) / F.lit(float(len(sset)))
            ).otherwise(F.lit(0.0))

        # --- state = the CONTRIBUTION vector (v, c, _t), not the rank vector.
        # rank_k is recomputed inline wherever needed as base_k + d·c_k — the
        # IDENTICAL float expression tree that previously produced the stored
        # rank column, so every downstream product/sum is bit-equal (the SQL
        # oracle mirrors the same formula). The payoff: the dangling-mass
        # scalar for iteration k+1 is an aggregate over state_k, so it rides
        # the SAME Spark job that materializes the (lazy) checkpoint — ONE
        # job per iteration (was 2 with the stored-rank formulation, 4 with
        # the original broadcast-subquery device).
        def rank_expr(dm: float | None, first: bool) -> F.Column:
            if first:  # rank_0 = the teleport vector itself (c_0 = 0)
                return F.col("_t")
            if has_dangling:
                if seeds is None:
                    base = (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping) * F.lit(dm) / F.lit(float(n))
                    )
                else:
                    base = (
                        F.lit(1.0 - damping) * F.col("_t")
                        + F.lit(damping) * F.lit(dm) * F.col("_t")
                    )
            else:
                if seeds is None:
                    base = F.lit((1.0 - damping) / n)
                else:
                    base = F.lit(1.0 - damping) * F.col("_t")
            return base + F.lit(damping) * F.col("c")

        def collect_dm(state: DataFrame) -> float:
            # dangling mass = 1 − Σ contrib: every non-dangling vertex
            # distributes its rank fully and Σ rank is 1 by construction
            # (the base rows add exactly 0) — the oracle mirrors this
            # expression exactly
            return float(
                state.agg(
                    (F.lit(1.0) - F.coalesce(F.sum("c"), F.lit(0.0))).alias("_dm")
                ).collect()[0]["_dm"]
            )

        start_iter = 0
        state: DataFrame | None = None
        dm: float | None = None
        first = True
        if resume:
            latest = ckpt.latest()
            if latest is not None:
                state, start_iter = latest
                first = start_iter == 0
                if has_dangling and not first:
                    dm = collect_dm(state)  # same aggregate ⇒ same scalar bits
        if state is None:
            state = (
                graph.vertices()
                .select("v", F.lit(0.0).alias("c"), tele.alias("_t"))
                .localCheckpoint(eager=True)
            )

        base_rows = (
            graph.vertices()
            .select("v", F.lit(0.0).alias("c"), tele.alias("_tele"))
            .persist()
        )
        for it in range(start_iter + 1, iterations + 1):
            with superstep(met, it, rows=n) as rec:
                prev_state, prev_dm, prev_first = state, dm, first
                # every-vertex presence WITHOUT a second join: zero-contribution base
                # rows ride the SAME union into the single groupBy exchange, so each
                # superstep is exactly one shuffle of the n-row rank vector (by src)
                # plus one aggregation shuffle (by dst) — no vertices ⋈ contrib stage
                new_state = (
                    state.join(norm_edges.hint("merge"), state.v == F.col("_esrc"))
                    .select(
                        F.col("_edst").alias("v"),
                        (rank_expr(dm, first) * F.col("_w")).alias("c"),
                        F.lit(0.0).alias("_tele"),
                    )
                    .unionAll(base_rows)
                    .groupBy("v")
                    .agg(F.sum("c").alias("c"), F.max("_tele").alias("_t"))
                )
                new_state = ckpt.step(new_state, it, lazy=True)
                if has_dangling:
                    dm = collect_dm(new_state)  # materializes the lazy checkpoint
                else:
                    new_state.count()  # the materializing action
                state, first = new_state, False
                if tol is not None:
                    delta = (
                        state.select("v", rank_expr(dm, False).alias("rank")).alias("a")
                        .join(
                            prev_state.select(
                                "v", rank_expr(prev_dm, prev_first).alias("rank")
                            ).alias("b"),
                            "v",
                        )
                        .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
                        .collect()[0][0]
                    )
                else:
                    delta = None
                rec["l1_delta"] = delta
            if tol is not None and delta is not None and delta < tol:
                break
        ranks = state.select("v", rank_expr(dm, first).alias("rank"))
    norm_edges.unpersist()
    base_rows.unpersist()
    return ranks

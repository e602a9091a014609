"""Betweenness centrality (Brandes) — seed-parallel over broadcast CSR.

Completes the centrality family (harmonic / closeness / Lin / eccentricity):
bc(v) = Σ_{s≠v≠t} σ_st(v)/σ_st over DIRECTED shortest paths — the classic
"broker" score; on a transcript graph it ranks the turns every reply chain
routes through. Public algorithm (Brandes 2001): one BFS per source computes
shortest-path counts σ level by level, then a reverse sweep accumulates
dependencies δ(v) = Σ_{w: succ} σ_v/σ_w · (1 + δ(w)).

Spark shape — two physical strategies behind one API (``strategy="auto"``):

- **broadcast** (≤ ``DEFAULT_CSR_MAX_EDGES``): the same seed-parallel
  strategy as ``bfs_csr`` — sources are distributed one-task-per-core over
  the broadcast CSR, each task runs level-vectorized numpy Brandes per seed
  (np.add.at over the tree edges — never per-row Python) and emits ONE
  partial n-vector of dependency sums; the driver-visible result is a single
  groupBy("v").sum.
- **shards** (past the cap — the reference's 2.16e9-edge payment graph and
  the 10^12-turn north star, where the broadcast CSR cannot exist): all
  seeds advance in LOCKSTEP through DataFrame supersteps against the
  distributed CSR shard table (``GraphFrame.csr_shards`` — the adjacency
  never visits the driver, frontier rows hash to the shard buckets they
  touch). The forward phase accumulates σ level-by-level with one co-grouped
  gather + aggregate + anti-join per depth (``sweep``); the reverse
  dependency sweep RE-GATHERS each level's tree edges from the same shards
  (no per-seed DAG is ever stored — state is exactly the (seed, v, dist, σ)
  visited table), folding δ down one level per superstep. 2·diameter
  supersteps total for the whole seed batch, independent of seed count.

``seeds`` samples sources for the standard O(k·m) approximation
(Brandes–Pich, drawn WITH replacement — duplicate seeds count once per
occurrence in both strategies: the shards path BFSes distinct seeds and
weights their dependencies by multiplicity); ``None`` = exact. Both
strategies produce identical scores (tested vertex-for-vertex vs networkx
and vs each other, including duplicated seed arrays).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    adaptive_shuffle_width,
    aqe_disabled,
    local_cut,
    shuffle_partitions,
    superstep,
    sweep,
)
from .bfs import DEFAULT_CSR_MAX_EDGES, _gather


def _brandes_seed(
    offsets: np.ndarray,
    targets: np.ndarray,
    n: int,
    seed: int,
    acc: np.ndarray,
    dist: np.ndarray,
    sigma: np.ndarray,
    delta: np.ndarray,
) -> None:
    """Accumulate one source's dependencies into ``acc`` (scratch arrays are
    caller-owned and reset here — no per-seed allocation)."""
    dist.fill(-1)
    sigma.fill(0.0)
    delta.fill(0.0)
    dist[seed] = 0
    sigma[seed] = 1.0
    frontier = np.array([seed], dtype=np.int64)
    levels: list[tuple[np.ndarray, np.ndarray]] = []  # tree edges per depth
    d = 0
    while frontier.size:
        ws, counts = _gather(offsets, targets, frontier)
        if ws.size == 0:
            break
        us = np.repeat(frontier, counts)
        # first touch: vertices entering at depth d+1
        fresh = np.unique(ws[dist[ws] == -1])
        dist[fresh] = d + 1
        # tree edges = edges into the (d+1)-level set
        sel = dist[ws] == d + 1
        tu, tw = us[sel], ws[sel]
        if tu.size:
            np.add.at(sigma, tw, sigma[tu])
            levels.append((tu, tw))
        frontier = fresh
        d += 1
    for tu, tw in reversed(levels):
        np.add.at(delta, tu, sigma[tu] / sigma[tw] * (1.0 + delta[tw]))
    delta[seed] = 0.0
    acc += delta


def _shard_edge_gather(graph: GraphFrame, transposed: bool):
    """expand(frontier(seed, v, sigma)) → (seed, u, sigma_u, w): every alive
    out-edge of the frontier, σ riding along. A thin rename over the shared
    ``bfs._shard_gather(carry=("sigma",), emit_source=True)`` kernel — one
    gather implementation serves BFS and Brandes."""
    from .bfs import _shard_gather

    inner = _shard_gather(graph, transposed, carry=("sigma",), emit_source=True)

    def expand(frontier: DataFrame) -> DataFrame:
        return inner(frontier).select(
            "seed", "u", F.col("sigma").alias("sigma_u"), F.col("v").alias("w")
        )

    return expand


def _finalize_bc(graph: GraphFrame, partials: DataFrame, scale: float) -> DataFrame:
    """(v, bc) from a (v, part) partial-dependency table (shared by both
    strategies and by the exact-mode wave accumulator)."""
    return (
        graph.vertices()
        .join(partials.groupBy("v").agg(F.sum("part").alias("s")), "v", "left")
        .select(
            "v",
            F.round(F.coalesce(F.col("s"), F.lit(0.0)) * F.lit(scale), 6).alias("bc"),
        )
    )


def _betweenness_shards(
    graph: GraphFrame,
    seeds_df: DataFrame,
    scale: float,
    transposed: bool,
    max_supersteps: int,
    metrics: SuperstepMetrics | None,
    as_partials: bool = False,
) -> DataFrame:
    """Lockstep sharded Brandes (module docstring): forward σ-BFS supersteps,
    then a per-level reverse δ sweep re-gathering tree edges from the shards.

    State is the (seed, v, dist, σ) visited table — O(Σ per-seed reach) rows,
    the same scale contract as ``bfs_frontier``. That makes SAMPLED mode
    (k seeds) the intended use past the broadcast cap; exact mode
    (``seeds=None``) over shards carries O(n·reach) state and is only
    sensible on small graphs (tests) or very shallow reach."""
    spark = graph.spark
    met = metrics if metrics is not None else SuperstepMetrics(name="betweenness", counters=False)
    ckpt = Checkpointer(spark, name="betweenness")
    expand = _shard_edge_gather(graph, transposed)

    # the sampled estimator draws WITH replacement (as the broadcast path,
    # which runs the kernel once per occurrence): BFS duplicate seeds once,
    # weight their dependencies by multiplicity at accumulation
    mult = local_cut(
        seeds_df.groupBy("seed").agg(F.count("*").cast("double").alias("_w"))
    )
    visited = local_cut(mult.select(
        "seed", F.col("seed").alias("v"), F.lit(1.0).alias("sigma"),
        F.lit(0).cast("int").alias("dist"),
    ))

    def forward(frontier: DataFrame, it: int) -> DataFrame:
        # σ(w) = Σ σ(u) over the frontier's edges into w; grouping on the
        # anti-join's key before ``sweep`` drops the visited w is exact
        return (
            expand(frontier.select("seed", "v", "sigma"))
            .groupBy("seed", "w")
            .agg(F.sum("sigma_u").alias("sigma"))
            .select("seed", F.col("w").alias("v"), "sigma", F.lit(it).cast("int").alias("dist"))
        )

    # per-superstep exchange volume = the gathered edge stream (level rows ·
    # avg_degree) + the visited anti-join side; all level sizes are counted
    # anyway, so the shuffle width tracks them in both sweeps (the reverse
    # sweep reuses the forward counts)
    avg_deg = max(1, -(-graph.num_edges // max(graph.num_nodes, 1)))
    n_seeds = mult.count()
    # ---- forward: σ accumulates level by level; levels 1..max_supersteps,
    # then one that must be empty
    visited, levels = sweep(visited, visited, forward, ["seed", "v"], ckpt, met, n_seeds,
                            fanout=avg_deg, max_supersteps=max_supersteps + 1, phase="fwd")
    if levels[-1]:
        raise RuntimeError(f"betweenness: forward BFS past max_supersteps={max_supersteps}")
    depth = len(levels) - 1
    lvl_rows = [n_seeds] + levels
    # the reverse sweep reads two levels of ``visited`` per superstep: one
    # cut makes those reads of cached blocks, not of the fold's last cut
    # (which may be a Parquet reset) and its pieces (100-level chain,
    # local[2]: 67 s of reverse supersteps without this cut, 43 s with it)
    visited = local_cut(visited)
    # ---- reverse: δ folds down one level per superstep -------------------
    acc: DataFrame | None = None  # folded union of per-level δ tables
    delta_above: DataFrame | None = None  # (seed, v, delta) at level d+1
    with aqe_disabled(spark), adaptive_shuffle_width(spark) as upd:
        for lvl in range(depth - 1, -1, -1):
            with superstep(met, 2 * depth - lvl, phase="rev") as rec:
                upd(lvl_rows[lvl] * avg_deg + lvl_rows[lvl + 1])
                lev = visited.where(F.col("dist") == lvl).select("seed", "v", "sigma")
                edges = expand(lev)  # (seed, u, sigma_u, w)
                nxt = visited.where(F.col("dist") == lvl + 1).select(
                    "seed", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
                )
                tree = edges.join(nxt, ["seed", "w"])  # shortest-path tree edges only
                if delta_above is not None:
                    tree = tree.join(
                        delta_above.select(
                            "seed", F.col("v").alias("w"), F.col("delta").alias("delta_w")
                        ),
                        ["seed", "w"],
                        "left",
                    )
                else:
                    tree = tree.withColumn("delta_w", F.lit(None).cast("double"))
                dcur = local_cut(
                    tree.groupBy("seed", "u")
                    .agg(
                        F.sum(
                            F.col("sigma_u")
                            / F.col("sigma_w")
                            * (F.lit(1.0) + F.coalesce(F.col("delta_w"), F.lit(0.0)))
                        ).alias("delta")
                    )
                    .select("seed", F.col("u").alias("v"), "delta"),
                    # non-eager: the count() below materializes — one job/superstep
                    eager=False,
                )
                rec["rows"] = dcur.count()
                # accumulate with lineage folding — a 10⁴-level reverse sweep must
                # not stack 10⁴ Union children into one plan (same discipline as
                # scc's assigned accumulator)
                part = dcur.where(F.col("v") != F.col("seed"))
                acc = part if acc is None else acc.unionAll(part)
                if (depth - lvl) % 16 == 0:
                    acc = local_cut(acc)
                delta_above = dcur
    if acc is None:
        partials = spark.createDataFrame([], "v long, part double")
    else:
        # with-replacement weighting: each seed's dependency vector counts
        # once per draw (exactly what the broadcast kernel does)
        partials = (
            acc.join(mult, "seed")
            .select("v", (F.col("delta") * F.col("_w")).alias("part"))
        )
    if as_partials:
        return partials
    return _finalize_bc(graph, partials, scale)


def betweenness(
    graph: GraphFrame,
    seeds: np.ndarray | None = None,
    transposed: bool = False,
    strategy: str = "auto",
    csr_max_edges: int = DEFAULT_CSR_MAX_EDGES,
    max_supersteps: int = 10_000,
    metrics: SuperstepMetrics | None = None,
    exact_wave_seeds: int = 4096,
) -> DataFrame:
    """(v, bc) — directed, unnormalized betweenness. ``seeds=None`` → exact
    (every vertex a source); an array of sources → the sampled approximation
    scaled by n/k (unbiased estimator of the exact score). ``strategy``:
    "broadcast" (seed-parallel numpy over broadcast CSR), "shards" (lockstep
    supersteps over the distributed shard table — no broadcast, no cap), or
    "auto" = broadcast until ``csr_max_edges``, shards past it.

    Exact mode over shards drains sources in WAVES of ``exact_wave_seeds``
    through the lockstep loop, materializing each wave's (v, part)
    dependency partials and summing across waves — per-wave state is
    O(wave·reach) instead of the O(n·reach) a single all-sources pass would
    carry, so exact mode scales exactly like sampled mode × n/wave passes
    (the reference runs exact centralities on its datasets,
    ``closeness.rs:59,68-72`` truth mode — capability parity at scale)."""
    from .bfs import _seed_batches

    if strategy not in ("auto", "broadcast", "shards"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        strategy = "broadcast" if graph.num_edges <= csr_max_edges else "shards"
    n = graph.num_nodes
    scale = 1.0 if seeds is None else float(n) / max(1, len(seeds))
    seeds_df = (
        graph.vertices().select(F.col("v").alias("seed"))
        if seeds is None
        else _seed_batches(graph, np.asarray(seeds, dtype=np.int64))
    )
    if strategy == "shards":
        if seeds is None and n > exact_wave_seeds:
            # exact mode in seed waves: bounded per-wave state (docstring)
            acc: DataFrame | None = None
            for wi, w0 in enumerate(range(0, n, exact_wave_seeds), start=1):
                wave = (
                    graph.vertices()
                    .where(
                        (F.col("v") >= w0)
                        & (F.col("v") < min(w0 + exact_wave_seeds, n))
                    )
                    .select(F.col("v").alias("seed"))
                )
                # each wave's partials are materialized once; the running
                # union stays a shallow tree of checkpointed leaves and is
                # itself folded every 16 waves (never re-materialized per
                # wave — that would be O(waves²))
                p = local_cut(_betweenness_shards(
                    graph, wave, scale, transposed, max_supersteps, metrics,
                    as_partials=True,
                ))
                acc = p if acc is None else acc.unionAll(p)
                if wi % 16 == 0:
                    acc = local_cut(acc)
            return _finalize_bc(graph, acc, scale)
        return _betweenness_shards(
            graph, seeds_df, scale, transposed, max_supersteps, metrics
        )
    if graph.num_edges > csr_max_edges:
        raise ValueError(
            f"graph has {graph.num_edges} edges > CSR fast-path cap "
            f"{csr_max_edges}; use strategy='shards'"
        )
    bc = graph.csr_broadcast(transposed=transposed)
    if seeds is None:
        seeds_df = seeds_df.repartition(shuffle_partitions(graph.spark))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        csr = bc.value
        offsets, targets = csr["offsets"], csr["targets"]
        acc = np.zeros(n)
        dist = np.empty(n, dtype=np.int32)
        sigma = np.empty(n)
        delta = np.empty(n)
        touched = False
        for pdf in batches:
            for s in pdf["seed"].to_numpy(dtype=np.int64):
                touched = True
                _brandes_seed(offsets, targets, n, int(s), acc, dist, sigma, delta)
        if touched:
            nz = np.flatnonzero(acc)
            yield pd.DataFrame({"v": nz, "part": acc[nz]})

    return _finalize_bc(graph, seeds_df.mapInPandas(part, schema="v long, part double"), scale)

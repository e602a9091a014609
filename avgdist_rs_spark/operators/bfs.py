"""Multi-source BFS — the engine's core kernel (reference K1/K2, SURVEY.md §2.2).

Reference semantics (``src/lib.rs:13-48``): level-synchronous frontier expansion
with a visited bitset; per seed accumulate ``diameter = max level``,
``dist_sum = Σ level``, ``reached = count of newly reached vertices`` — the seed
itself (level 0) is NOT counted; unreachable vertices are excluded, not ∞.
K2 (``src/lib.rs:126-163``) additionally captures every ``(vertex, dist)`` pair.
K4's sampler (``src/main.rs:56-111``) needs only per-vertex coverage: how many
probes reach ``v``, the probe itself included.

:func:`bfs` is the one entry point every estimator calls (exact, K3, K4, the
main batch loop, harmonic, closeness). It is the only place that reads the
``impl`` string, deduplicates seeds into multiplicities and shapes the output,
so every caller gets the same three relations on every strategy:

- per-seed stats ``(seed, dia, dist_sum, reached)``, one row per distinct
  seed, ``(s, 0, 0, 0)`` for a seed that reaches nothing;
- ``capture=True``: ``(seed, v, dist ≥ 1, w)``, ``w`` the seed's multiplicity;
- ``coverage=True``: partial ``(v, c)`` rows, ``c = Σ w`` over the seeds that
  reach ``v``, the seed itself included; the caller sums them per ``v``.

Underneath it sit two Spark physical strategies, chosen by graph size
(``impl="auto"``) or forced (``"csr"``, ``"frontier"``, ``"shards"``):

1. ``bfs_csr`` — **seed-parallel broadcast-CSR kernel**. The adjacency (CSR numpy
   arrays, ~12 bytes/edge) is broadcast once; seeds are distributed as a DataFrame
   and each Arrow batch of seeds runs a vectorized numpy BFS inside ``mapInPandas``
   (no per-row Python: the inner loop is gather/mask/unique over whole frontiers).
   This mirrors the reference's task-per-seed rayon model and is the fast path up
   to ~2^31 edges per executor (the reference's 2.16e9-edge payment graph fits).
   Its coverage output serves K4 without emitting any ``(seed, v)`` pair: each
   task sums its probes' multiplicity-weighted hits in one dense n-length
   counter and emits only the nonzero ``(v, c)`` entries.

2. ``bfs_frontier`` — **distributed-frontier superstep loop**. State
   ``visited(seed, v, dist)`` and ``frontier(seed, v)`` are DataFrames; one
   superstep = frontier ⋈ edges (shuffle hash join on the pre-partitioned edge
   side) → dropDuplicates → left-anti join vs visited → union. Scales to graphs
   far beyond single-executor memory (the 10^12-turn regime); lineage is cut by a
   ``Checkpointer`` and each superstep is resumable. ``impl="shards"`` swaps
   its edge join for per-bucket numpy gathers over a distributed CSR.

``bfs_csr`` and ``bfs_frontier`` stay public for benchmarks and callers that
need their extra knobs (``dirop``, checkpointing, salting, resume).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..plans.graph import GraphFrame
from ..streaming.superstep import (
    Checkpointer,
    SuperstepMetrics,
    adaptive_shuffle_width,
)

#: Above this edge count the broadcast CSR is not attempted (driver/executor memory).
DEFAULT_CSR_MAX_EDGES = 200_000_000

AGG_SCHEMA = StructType(
    [
        StructField("seed", LongType()),
        StructField("dia", LongType()),
        StructField("dist_sum", LongType()),
        StructField("reached", LongType()),
    ]
)

CAPTURE_SCHEMA = StructType(
    [
        StructField("seed", LongType()),
        StructField("v", LongType()),
        StructField("dist", LongType()),
    ]
)

COVERAGE_SCHEMA = StructType(
    [
        StructField("v", LongType()),
        StructField("c", LongType()),
    ]
)


# --------------------------------------------------------------------------- numpy kernels
def _msbfs_batch(
    offsets: np.ndarray, targets: np.ndarray, seeds: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bit-parallel multi-source BFS (MS-BFS): up to 64 seeds per pass.

    Each vertex carries a uint64 mask of which seeds have reached it; one
    level-synchronous pass expands ALL seeds' frontiers off a single edge
    gather. Per-destination OR-aggregation is sort + bitwise_or.reduceat
    (vectorized), per-level per-seed stats come from np.unpackbits column sums.

    Measured trade (why ``bfs_csr`` probes it per task instead of always
    using it): MS-BFS only amortizes gathers when seeds' frontiers overlap at
    the SAME level. On hub-centric transcript graphs seeds reach the same
    dense core at *staggered phases* (distance to the first hub varies), so
    core vertices reactivate with new bits for many consecutive levels and
    total edge-gather volume ends up equal to the
    per-seed kernel's (measured 0.6–0.7× — slower, from the sort overhead).
    Wins on level-aligned workloads (e.g. all seeds in one tight community).

    Returns (dias, dist_sums, reached_counts) aligned with ``seeds`` (≤ 64).
    """
    k = len(seeds)
    assert k <= 64
    n = len(offsets) - 1
    bits = np.uint64(1) << np.arange(k, dtype=np.uint64)
    seen = np.zeros(n, dtype=np.uint64)
    front = np.zeros(n, dtype=np.uint64)
    np.bitwise_or.at(front, seeds, bits)
    np.bitwise_or.at(seen, seeds, bits)
    dias = np.zeros(k, dtype=np.int64)
    sums = np.zeros(k, dtype=np.int64)
    cnts = np.zeros(k, dtype=np.int64)
    active = np.unique(seeds)
    level = 0
    while active.size:
        starts = offsets[active]
        counts = offsets[active + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        idx = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
        idx += np.arange(total, dtype=np.int64)
        dsts = targets[idx]
        srcbits = np.repeat(front[active], counts)
        order = np.argsort(dsts, kind="stable")
        d_s = dsts[order]
        b_s = srcbits[order]
        bound = np.flatnonzero(np.concatenate(([True], d_s[1:] != d_s[:-1])))
        uniq = d_s[bound].astype(np.int64)
        orred = np.bitwise_or.reduceat(b_s, bound)
        new = orred & ~seen[uniq]
        nz = new != np.uint64(0)
        uniq, new = uniq[nz], new[nz]
        front[active] = np.uint64(0)
        if uniq.size == 0:
            break
        level += 1
        seen[uniq] |= new
        front[uniq] = new
        # per-seed newly-reached counts this level: unpack the 64-bit masks
        bitmat = np.unpackbits(
            new.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        per = bitmat.sum(axis=0, dtype=np.int64)[:k]
        cnts += per
        sums += level * per
        dias[per > 0] = level
        active = uniq
    return dias, sums, cnts


def _gather(offsets: np.ndarray, targets: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """All adjacency entries of ``verts``, one vectorized index."""
    starts = offsets[verts]
    counts = offsets[verts + 1] - starts
    total = int(counts.sum())
    if total == 0:
        return targets[:0]
    idx = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
    idx += np.arange(total, dtype=np.int64)
    return targets[idx]


def _bfs_levels(offsets: np.ndarray, targets: np.ndarray, visited: np.ndarray,
                stamp: int, seed: int) -> Iterator[tuple[int, np.ndarray]]:
    """Yield (level, newly_reached_vertices) for one BFS; `visited` is an int32
    stamp array reused across seeds (visited[v] == stamp ⇔ v seen this BFS)."""
    visited[seed] = stamp
    frontier = np.array([seed], dtype=np.int64)
    level = 0
    while frontier.size:
        nbrs = _gather(offsets, targets, frontier)
        if nbrs.size == 0:
            break
        fresh = nbrs[visited[nbrs] != stamp]
        if fresh.size == 0:
            break
        fresh = np.unique(fresh)
        visited[fresh] = stamp
        level += 1
        yield level, fresh
        frontier = fresh


def _bfs_levels_dirop(
    offsets: np.ndarray,
    targets: np.ndarray,
    offsets_b: np.ndarray,
    targets_b: np.ndarray,
    visited: np.ndarray,
    front_mask: np.ndarray,
    stamp: int,
    seed: int,
    switch_edges: int,
) -> Iterator[tuple[int, np.ndarray]]:
    """Direction-optimizing BFS (Beamer et al.): top-down frontier expansion
    while the frontier's out-edge volume is small; once it exceeds
    ``switch_edges`` (≈ m/α), flip to bottom-up — scan the UNVISITED vertices
    and admit those with an in-neighbor in the frontier. On small-world
    graphs the 2–3 peak levels touch nearly every edge top-down (with heavy
    duplicate hits); bottom-up bounds those levels by the in-edges of the
    shrinking unvisited set instead. Identical visit levels (tested equal).

    ``front_mask`` is a reusable n-length bool scratch (zeroed on exit).
    """
    visited[seed] = stamp
    frontier = np.array([seed], dtype=np.int64)
    level = 0
    while frontier.size:
        out_edges = int((offsets[frontier + 1] - offsets[frontier]).sum())
        if out_edges == 0:
            break
        if out_edges > switch_edges:
            # bottom-up: candidates = unvisited with ≥1 in-edge
            u = np.flatnonzero(visited != stamp).astype(np.int64)
            cnt = offsets_b[u + 1] - offsets_b[u]
            u = u[cnt > 0]
            if u.size == 0:
                break
            front_mask[frontier] = True
            nbrs = _gather(offsets_b, targets_b, u)
            hits = front_mask[nbrs].astype(np.int64)
            cnt = (offsets_b[u + 1] - offsets_b[u]).astype(np.int64)
            seg = np.zeros(u.size, dtype=np.int64)
            np.cumsum(cnt[:-1], out=seg[1:])
            any_hit = np.add.reduceat(hits, seg) > 0
            front_mask[frontier] = False
            fresh = u[any_hit]
        else:
            nbrs = _gather(offsets, targets, frontier)
            fresh = nbrs[visited[nbrs] != stamp]
            fresh = np.unique(fresh)
        if fresh.size == 0:
            break
        visited[fresh] = stamp
        level += 1
        yield level, fresh
        frontier = fresh


def _seed_batches(
    graph: GraphFrame, seeds: np.ndarray | DataFrame, weights: np.ndarray | None = None
) -> DataFrame:
    """Distribute seeds across the cluster, one row per seed; ``weights``
    (aligned with an array of seeds) rides along as a ``w`` column.

    ``seeds`` may be a driver-side array (k-sized sampler draws) or an
    already-distributed DataFrame with a ``seed`` column (all-vertices scans,
    window-drawn sources) — the DataFrame form never materializes the seed
    set on the driver, which matters when the seed set is O(n).

    One task per core: mapInPandas has ~17 ms *serialized* per-task overhead
    (python-worker handshake), so extra waves of fine tasks cost more than the
    skew they smooth — per-seed cost variance already averages out inside a
    task's seed batch (measured: 128-task no-op = 2.2 s vs 32-task = 0.7 s at
    local[32])."""
    spark = graph.spark
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if isinstance(seeds, DataFrame):
        return seeds.select(F.col("seed").cast("long").alias("seed")).repartition(p)
    p = min(len(seeds), p)
    pdf = pd.DataFrame({"seed": np.asarray(seeds, dtype=np.int64)})
    schema = "seed long"
    if weights is not None:
        pdf["w"] = np.asarray(weights, dtype=np.int64)
        schema += ", w long"
    return spark.createDataFrame(pdf, schema=schema).repartition(max(p, 1))


def bfs_csr(
    graph: GraphFrame,
    seeds: np.ndarray | DataFrame,
    transposed: bool = False,
    capture: bool = False,
    dirop: bool | None = None,
    coverage: np.ndarray | None = None,
) -> DataFrame:
    """Seed-parallel BFS over broadcast CSR adjacency.

    ``seeds`` may be a driver array or a DataFrame with a ``seed`` column —
    the DataFrame form keeps O(n)-sized seed sets (all-vertices exact mode,
    pair-rejection draw windows) off the driver entirely.

    Returns per-seed aggregates ``(seed, dia, dist_sum, reached)`` or, with
    ``capture=True`` (reference K2), all ``(seed, v, dist)`` pairs with dist ≥ 1.

    ``coverage`` (the multiplicities of a DISTINCT seed array, aligned with
    it) selects the K4 coverage output instead: each task keeps one dense
    int64[n] counter, adds a seed's multiplicity to the seed itself and to
    every vertex of every level it reaches, and emits the nonzero entries as
    partial ``(v, c)`` rows — several tasks may emit the same ``v``, so the
    caller sums per ``v``. A vertex counts once per seed by construction (the
    level generators' visited set holds the seed from the start, so cycles
    and self-loops cannot re-count it). Nothing per ``(seed, v)`` pair leaves
    the task: output is ≤ tasks·n rows however far the seeds reach.

    Per-seed aggregates pick their kernel per task: a task with ≥ 256 seeds
    times the bit-parallel multi-source kernel (``_msbfs_batch``) against the
    per-seed one on its first 2×64 seeds and runs the rest on the winner.

    ``dirop`` opts into direction-optimizing BFS (auto-on for ≥ 64 seeds):
    both orientations' CSRs are broadcast, and each BFS flips to bottom-up
    when the frontier's out-edge volume passes m/4 — the peak levels of a
    small-world graph stop re-touching every edge. One-shot few-seed calls
    keep the single-orientation kernel (the second CSR build would dominate).
    """
    do_capture, do_cover = capture, coverage is not None
    if do_cover and (capture or isinstance(seeds, DataFrame)):
        raise ValueError("coverage needs a seed array and excludes capture")
    if graph.num_edges > DEFAULT_CSR_MAX_EDGES:
        raise ValueError(
            f"graph has {graph.num_edges} edges > CSR fast-path cap "
            f"{DEFAULT_CSR_MAX_EDGES}; use bfs_frontier"
        )
    many_seeds = True if isinstance(seeds, DataFrame) else len(seeds) >= 64
    use_dirop = many_seeds if dirop is None else bool(dirop)
    bc = graph.csr_broadcast(transposed=transposed)
    bc_b = graph.csr_broadcast(transposed=not transposed) if use_dirop else None
    switch_edges = max(1, graph.num_edges // 4)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        adj = bc.value
        offsets, targets, n = adj["offsets"], adj["targets"], adj["n"]
        if bc_b is not None:
            adj_b = bc_b.value
            offsets_b, targets_b = adj_b["offsets"], adj_b["targets"]
            front_mask = np.zeros(n, dtype=bool)

            def levels(vis, stamp, s):
                return _bfs_levels_dirop(
                    offsets, targets, offsets_b, targets_b, vis, front_mask,
                    stamp, s, switch_edges,
                )
        else:

            def levels(vis, stamp, s):
                return _bfs_levels(offsets, targets, vis, stamp, s)
        # uint8 stamp array reused across every seed this worker processes:
        # visited[v] == stamp ⇔ v reached in the current BFS. The kernel is
        # memory-bandwidth-bound (random gathers), so 1 byte per vertex beats
        # wider stamps; the stamp cycles 1..255 with a bulk reset on wrap
        # (one memset per 255 BFS runs — negligible), which keeps per-seed
        # resets O(1) and stays collision-safe for repeated seed ids.
        visited = np.zeros(n, dtype=np.uint8)
        stamp = 0

        def next_stamp():
            nonlocal stamp
            stamp += 1
            if stamp == 256:
                visited[:] = 0
                stamp = 1
            return stamp
        if do_cover:
            cov = np.zeros(n, dtype=np.int64)
            for pdf in batches:
                for s, w in zip(pdf["seed"].to_numpy(dtype=np.int64),
                                pdf["w"].to_numpy(dtype=np.int64)):
                    cov[s] += w
                    for _, fresh in levels(visited, next_stamp(), int(s)):
                        cov[fresh] += w  # fresh is duplicate-free
            hit = np.flatnonzero(cov)
            if hit.size:
                yield pd.DataFrame({"v": hit.astype(np.int64), "c": cov[hit]})
            return
        for pdf in batches:
            seeds_arr = pdf["seed"].to_numpy(dtype=np.int64)
            if do_capture:
                out_seed, out_v, out_d = [], [], []
                for s in seeds_arr:
                    for level, fresh in levels(visited, next_stamp(), int(s)):
                        out_seed.append(np.full(fresh.size, s, dtype=np.int64))
                        out_v.append(fresh)
                        out_d.append(np.full(fresh.size, level, dtype=np.int64))
                if out_seed:
                    yield pd.DataFrame(
                        {
                            "seed": np.concatenate(out_seed),
                            "v": np.concatenate(out_v).astype(np.int64),
                            "dist": np.concatenate(out_d),
                        }
                    )
            else:
                dias = np.zeros(seeds_arr.size, dtype=np.int64)
                sums = np.zeros(seeds_arr.size, dtype=np.int64)
                cnts = np.zeros(seeds_arr.size, dtype=np.int64)

                def per_seed(lo: int, hi: int) -> None:
                    for i in range(lo, hi):
                        for level, fresh in levels(visited, next_stamp(), int(seeds_arr[i])):
                            dias[i] = level
                            sums[i] += level * fresh.size
                            cnts[i] += fresh.size

                def ms_chunks(lo: int, hi: int) -> None:
                    for c0 in range(lo, hi, 64):
                        chunk = seeds_arr[c0 : min(c0 + 64, hi)]
                        d, s2, c2 = _msbfs_batch(offsets, targets, chunk)
                        dias[c0 : c0 + chunk.size] = d
                        sums[c0 : c0 + chunk.size] = s2
                        cnts[c0 : c0 + chunk.size] = c2

                # Adaptive kernel pick: MS-BFS amortizes gathers only
                # when seeds share frontier levels — ~2.4× faster on social
                # graphs (enron), 0.6–0.7× on staggered-phase hub graphs
                # (measured both ways). The structure isn't knowable upfront,
                # so each task probes both kernels on its first 2×64 seeds
                # (real work, nothing wasted) and runs the rest on the winner.
                pos = 0
                if seeds_arr.size >= 256:
                    t0 = time.monotonic()
                    ms_chunks(0, 64)
                    t_ms = time.monotonic() - t0
                    t0 = time.monotonic()
                    per_seed(64, 128)
                    t_plain = time.monotonic() - t0
                    pos = 128
                    if t_ms < t_plain:
                        ms_chunks(pos, seeds_arr.size)
                        pos = seeds_arr.size
                per_seed(pos, seeds_arr.size)
                yield pd.DataFrame(
                    {"seed": seeds_arr, "dia": dias, "dist_sum": sums, "reached": cnts}
                )

    schema = COVERAGE_SCHEMA if do_cover else CAPTURE_SCHEMA if capture else AGG_SCHEMA
    return _seed_batches(graph, seeds, coverage).mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------- DF superstep loop
def _shard_gather(
    graph: GraphFrame,
    transposed: bool,
    carry: tuple[str, ...] = (),
    emit_source: bool = False,
):
    """Returns expand(frontier) → one row per traversed edge, using co-grouped
    CSR-shard gathers. Default output is (seed, v); ``emit_source=True`` adds
    the edge source as ``u``, and ``carry`` names extra DOUBLE frontier
    columns replicated onto each emitted edge (Brandes rides σ through this —
    one kernel serves both BFS and betweenness, so fixes to the dtype rule or
    idx arithmetic cannot silently diverge between them).

    The superstep's successor scan becomes: bucket the frontier by vertex
    range, co-group it with the persisted shard table (both sides hash on
    ``bucket`` — the big shard rows move once at build time, every superstep
    only shuffles the frontier), then a vectorized numpy gather per bucket.
    The adjacency never transits the driver and never broadcasts — this is
    the CSR strategy that survives past ``DEFAULT_CSR_MAX_EDGES``.
    """
    shards = graph.csr_shards(transposed=transposed)
    # the BUILD-TIME width, not a recomputed one: shard_bucket_size() reads
    # live session conf, and a drifted spark.sql.shuffle.partitions between
    # shard build and BFS would silently misalign frontier vs shard buckets
    bsz = graph.shard_width(transposed=transposed)
    n = graph.num_nodes
    tdt = np.int32 if n < 2**31 else np.int64

    cols = ["seed"] + (["u"] if emit_source else []) + list(carry) + ["v"]
    schema = ", ".join(
        f"{c} {'double' if c in carry else 'long'}" for c in cols
    )

    def gather(key, fdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                c: pd.Series(dtype="float64" if c in carry else "int64")
                for c in cols
            }
        )
        if fdf.empty or sdf.empty:
            return empty
        offsets = np.frombuffer(sdf["offsets"].iloc[0], dtype=np.int64)
        targets = np.frombuffer(sdf["targets"].iloc[0], dtype=tdt)
        vlo = int(sdf["vlo"].iloc[0])
        v = fdf["v"].to_numpy(dtype=np.int64) - vlo
        starts = offsets[v]
        counts = offsets[v + 1] - starts
        total = int(counts.sum())
        if total == 0:
            return empty
        idx = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
        idx += np.arange(total, dtype=np.int64)
        out = {"seed": np.repeat(fdf["seed"].to_numpy(dtype=np.int64), counts)}
        if emit_source:
            out["u"] = np.repeat(fdf["v"].to_numpy(dtype=np.int64), counts)
        for c in carry:
            out[c] = np.repeat(fdf[c].to_numpy(dtype=np.float64), counts)
        out["v"] = targets[idx].astype(np.int64)
        return pd.DataFrame(out)

    def expand(frontier: DataFrame) -> DataFrame:
        fb = frontier.withColumn("bucket", F.floor(F.col("v") / bsz).cast("long"))
        # only the buckets the frontier actually touches transit the Python
        # worker: broadcast the (tiny) distinct bucket set and semi-join the
        # shard table before co-grouping. Narrow frontiers → near-constant
        # superstep cost; a full frontier degrades gracefully to all shards.
        touched = fb.select("bucket").distinct()
        sh = shards.join(F.broadcast(touched), "bucket", "left_semi")
        return (
            fb.groupBy("bucket")
            .cogroup(sh.groupBy("bucket"))
            .applyInPandas(gather, schema=schema)
        )

    return expand


def bfs_frontier(
    graph: GraphFrame,
    seeds: DataFrame,
    transposed: bool = False,
    checkpointer: Checkpointer | None = None,
    metrics: SuperstepMetrics | None = None,
    max_supersteps: int | None = None,
    num_salts: int | None = None,
    hub_df: DataFrame | None = None,
    resume: bool = False,
    shards: bool = False,
) -> DataFrame:
    """Distributed multi-source BFS: returns ``visited(seed, v, dist)`` including
    the (seed, seed, 0) rows. ``seeds`` must have a single long column ``seed``.

    All k BFS trees advance in ONE join per superstep (batched, not task-per-seed):
    the frontier is keyed (seed, v), the edge side keeps its stable hash
    partitioning on src so the join only shuffles the frontier.

    ``shards=True`` swaps the per-superstep edge join for the distributed-CSR
    gather (:func:`_shard_gather`): successor scans become per-bucket numpy
    gathers against the persisted shard table — no driver materialization, no
    broadcast, identical results (tested). The dedup/anti-join/checkpoint
    discipline is shared by all three expansion strategies.

    ``resume=True`` with a durable checkpointer restarts from the latest
    checkpointed superstep (north rule: any BFS superstep is resumable) — the
    frontier is exactly the visited rows of that superstep's distance, so no
    separate frontier state needs persisting.
    """
    spark = graph.spark
    if shards and num_salts and num_salts > 1:
        raise ValueError(
            "shards and num_salts are alternative skew strategies — the shard "
            "gather has no shuffle-key skew (range buckets), pick one"
        )
    if shards and hub_df is not None:
        raise ValueError(
            "hub_df is a salting hint and is unused by the shard gather — "
            "pass it with num_salts>1 (edge-join strategy) instead"
        )
    base = graph.edges_t if transposed else graph.edges
    # disjoint column names: the frontier is itself derived from edge joins, and
    # Spark's ambiguous-self-join analysis would otherwise reject superstep ≥ 2
    edges = base.select(F.col("src").alias("_esrc"), F.col("dst").alias("_edst"))
    shard_expand = _shard_gather(graph, transposed) if shards else None
    salted = None
    if num_salts and num_salts > 1:
        # explicit hub-skew salting (north rule): split hot adjacency across
        # num_salts shuffle partitions; see functions.salting
        from ..functions.salting import salt_edges
        from .degrees import hubs as detect_hubs

        # skew key is the join-side src: original out-degree forward, original
        # in-degree when walking the transpose (hubs() takes 'out'/'in')
        hdf = hub_df if hub_df is not None else detect_hubs(
            graph, direction="in" if transposed else "out"
        ).select("v")
        hdf = hdf.persist()
        hdf.count()
        salted = salt_edges(base, hdf, num_salts).persist()
        salted.count()
    ckpt = checkpointer or Checkpointer(spark, name="bfs")
    met = metrics if metrics is not None else SuperstepMetrics(name="bfs")

    # Lineage discipline (SURVEY.md §4 "hard parts"): the naive formulation
    # visited_{k+1} = union(visited_k, f(frontier_k, visited_k)) doubles the
    # logical plan every superstep (exponential analysis cost). We therefore
    # truncate the FRONTIER's lineage every superstep (it is the small state)
    # via eager localCheckpoint, and the VISITED union on the Checkpointer's
    # cadence (durable Parquet when a checkpoint dir is configured → resume).
    visited = None
    dist = 0
    if resume:
        latest = ckpt.latest()
        if latest is not None:
            visited, dist = latest
            frontier = visited.filter(F.col("dist") == dist).select("seed", "v")
    if visited is None:
        frontier = seeds.select(
            F.col("seed").cast("long").alias("seed"),
            F.col("seed").cast("long").alias("v"),
        ).localCheckpoint(eager=True)
        visited = frontier.withColumn("dist", F.lit(0).cast("long")).localCheckpoint(
            eager=True
        )
    # exchange volume per superstep = the expanded frontier (|frontier| ·
    # avg_degree rows through dedup/groupBy) plus the visited side of the
    # anti-join — both counted anyway, so the shuffle width tracks them
    # (adaptive_shuffle_width: ramp-up/drain-out supersteps and small-reach
    # seed sets stop paying session-width task scheduling per exchange)
    avg_deg = max(1, -(-graph.num_edges // max(graph.num_nodes, 1)))
    visited_rows = visited.count()
    with adaptive_shuffle_width(spark) as upd:
        upd(max(visited_rows, visited_rows * avg_deg))
        while True:
            t0 = time.monotonic()
            dist += 1
            if salted is not None:
                from ..functions.salting import salted_expand

                expanded = salted_expand(frontier, salted, hdf, num_salts)
            elif shard_expand is not None:
                expanded = shard_expand(frontier)
            else:
                expanded = frontier.join(edges, F.col("v") == F.col("_esrc")).select(
                    F.col("seed"), F.col("_edst").alias("v")
                )
            # non-eager checkpoint: the count() below is the materializing
            # action — one Spark job per superstep instead of two
            nxt = (
                expanded.dropDuplicates(["seed", "v"])
                .join(visited.select("seed", "v"), ["seed", "v"], "left_anti")
                .localCheckpoint(eager=False)
            )
            cnt = nxt.count()
            wall = time.monotonic() - t0
            met.record(dist, cnt, wall)
            if cnt == 0:
                break
            visited = visited.union(nxt.withColumn("dist", F.lit(dist).cast("long")))
            visited = ckpt.cut(visited, dist, rows=cnt, wall_s=wall)
            frontier = nxt
            visited_rows += cnt
            upd(max(visited_rows, cnt * avg_deg))
            if max_supersteps is not None and dist >= max_supersteps:
                break
    if salted is not None:
        salted.unpersist()
        hdf.unpersist()
    return visited


def capture_stats(capture: DataFrame) -> DataFrame:
    """Reference per-seed accumulators (A1) over ``(seed, v, dist ≥ 1)`` rows:
    ``(seed, dia, dist_sum, reached)``, matching ``src/lib.rs:34-39``. A seed
    without rows (it reaches nothing) has no output row."""
    return capture.groupBy("seed").agg(
        F.max("dist").alias("dia"),
        F.sum("dist").alias("dist_sum"),
        F.count("*").alias("reached"),
    )


def per_seed_stats(visited: DataFrame) -> DataFrame:
    """:func:`capture_stats` of a ``bfs_frontier`` visited set — level-0 self
    rows excluded — plus a (seed, 0, 0, 0) row for every seed that reaches
    nothing (the reference returns zeroed accumulators for them; bfs_csr does
    the same)."""
    agg = capture_stats(visited.filter(F.col("dist") > 0))
    all_seeds = visited.filter(F.col("dist") == 0).select("seed").distinct()
    return all_seeds.join(agg, "seed", "left").fillna(
        0, subset=["dia", "dist_sum", "reached"]
    )


# --------------------------------------------------------------------------- entry point
def _use_csr(graph: GraphFrame, impl: str) -> bool:
    """``"csr"`` forces the broadcast kernel, ``"frontier"``/``"shards"`` the
    superstep loop; ``"auto"`` takes the kernel up to ``DEFAULT_CSR_MAX_EDGES``."""
    if impl == "csr":
        return True
    if impl in ("frontier", "shards"):
        return False
    return graph.num_edges <= DEFAULT_CSR_MAX_EDGES


def bfs(
    graph: GraphFrame,
    seeds: np.ndarray | DataFrame,
    transposed: bool = False,
    capture: bool = False,
    coverage: bool = False,
    impl: str = "auto",
) -> DataFrame:
    """Multi-source BFS from ``seeds``, on the strategy ``impl`` names.

    A driver array may repeat seeds (samplers draw with replacement, and the
    reference runs one BFS per draw): each distinct seed is BFS'd once and its
    count becomes its weight ``w`` — BFS is deterministic, so weighting is
    exactly equivalent. A DataFrame ``seed`` column must be distinct; its rows
    get ``w = 1`` and never transit the driver (O(n) all-vertex scans).

    Returns, identically on every strategy:

    - default: ``(seed, dia, dist_sum, reached)``, one row per distinct seed,
      ``(s, 0, 0, 0)`` for a seed that reaches nothing (weights are the
      caller's: it knows which draws it pools);
    - ``capture=True`` (reference K2): ``(seed, v, dist, w)``, one row per
      vertex a seed reaches at ``dist ≥ 1`` (distinct per ``(seed, v)``);
    - ``coverage=True`` (K4, array seeds only): partial ``(v, c)`` rows with
      ``c = Σ w`` over the seeds that reach ``v``, the seed itself included;
      a ``v`` may repeat, so the caller sums per ``v``.
    """
    if capture and coverage:
        raise ValueError("capture and coverage are alternative outputs")
    if isinstance(seeds, DataFrame):
        if coverage:
            raise ValueError("coverage needs a driver seed array")
        uniq, mult = seeds, None
    else:
        uniq, mult = np.unique(np.asarray(seeds, dtype=np.int64), return_counts=True)
    if _use_csr(graph, impl):
        if coverage:
            return bfs_csr(graph, uniq, transposed=transposed, coverage=mult)
        pairs = bfs_csr(graph, uniq, transposed=transposed, capture=capture)
        if not capture:
            return pairs
    else:
        seeds_df = uniq if mult is None else graph.spark.createDataFrame(
            pd.DataFrame({"seed": uniq}), schema="seed long"
        )
        visited = bfs_frontier(graph, seeds_df, transposed=transposed, shards=impl == "shards")
        if not (capture or coverage):
            return per_seed_stats(visited)
        # visited holds (seed, seed, 0) and is distinct per (seed, v) (its
        # left-anti join), so coverage counts each vertex once per seed, the
        # seed included
        pairs = visited.filter(F.col("dist") > 0) if capture else visited.select("seed", "v")
    if mult is None or (mult == 1).all():
        pairs = pairs.withColumn("w", F.lit(1).cast("long"))
    else:
        wdf = graph.spark.createDataFrame(
            pd.DataFrame({"seed": uniq, "w": mult.astype(np.int64)}), schema="seed long, w long"
        )
        pairs = pairs.join(F.broadcast(wdf), "seed")
    return pairs.groupBy("v").agg(F.sum("w").alias("c")) if coverage else pairs

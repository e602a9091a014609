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
   and each task runs its seeds, 64 at a time, through one bit-parallel
   multi-source BFS (:func:`_msbfs`, Then et al., VLDB 2015) inside
   ``mapInPandas``: one edge gather per level serves all 64 seeds, and no
   Python runs per row. Stats, capture and coverage are three readings of
   the same per-level seed bits. This mirrors the reference's task-per-seed
   rayon model and is the fast path up to ~2^31 edges per executor (the
   reference's 2.16e9-edge payment graph fits). Its coverage output serves K4
   without emitting any ``(seed, v)`` pair: each task sums its probes'
   multiplicity-weighted hits in one dense n-length counter and emits only
   the nonzero ``(v, c)`` entries.

2. ``bfs_frontier`` — **distributed-frontier superstep loop**. State
   ``visited(seed, v, dist)`` and ``frontier(seed, v)`` are DataFrames; one
   superstep = frontier ⋈ edges (shuffle hash join on the pre-partitioned edge
   side) → dropDuplicates → left-anti join vs visited → union, run by
   ``streaming.superstep.sweep``. Scales to graphs far beyond single-executor
   memory (the 10^12-turn regime); lineage is cut by a ``Checkpointer`` and
   each superstep is resumable. ``impl="shards"`` swaps
   its edge join for per-bucket numpy gathers over a distributed CSR.

``bfs_csr`` and ``bfs_frontier`` stay public for the benchmark and for
callers that need what :func:`bfs` does not pass through: ``bfs_csr``'s
direction-optimizing switch (``dirop``) and ``bfs_frontier``'s hub salting
and durable, resumable checkpoints.
"""

from __future__ import annotations

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
    local_cut,
    shuffle_partitions,
    sweep,
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
#: seeds sharing one bit-parallel pass, one bit each of a uint64 mask
MS_WIDTH = 64
#: frontier rows unpacked into a bit matrix at a time (64 bytes per row)
_UNPACK_ROWS = 1 << 16


def _gather(
    offsets: np.ndarray, targets: np.ndarray, verts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """All adjacency entries of ``verts`` (one vectorized index) and each
    vertex's entry count."""
    starts = offsets[verts]
    counts = offsets[verts + 1] - starts
    total = int(counts.sum())
    if total == 0:
        return targets[:0], counts
    idx = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
    idx += np.arange(total, dtype=np.int64)
    return targets[idx], counts


def _msbfs(
    offsets: np.ndarray, targets: np.ndarray, seeds: np.ndarray, seen: np.ndarray
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """Bit-parallel multi-source BFS (MS-BFS, Then et al., VLDB 2015) from
    ≤ ``MS_WIDTH`` seeds, seed ``j`` owning bit ``j``.

    Yields ``(level, v, mask)`` per level ≥ 1: ``v`` the distinct vertices
    some seed first reaches at ``level``, bit ``j`` of ``mask[i]`` set iff
    seed ``j`` is one of them. One edge gather per level serves every seed:
    the frontier's masks ride along the gather, bits a destination has
    already seen are dropped, and the rest are OR-ed per destination (sort +
    ``bitwise_or.reduceat``). A repeated seed owns its own bit, so it gets
    the same levels as its twin.

    ``seen`` is the only dense state, a uint64[n] scratch that must be zero
    on entry; the vertices this call set are zeroed again on exit.
    """
    bits = np.uint64(1) << np.arange(len(seeds), dtype=np.uint64)
    v, inv = np.unique(seeds, return_inverse=True)
    mask = np.zeros(v.size, dtype=np.uint64)
    np.bitwise_or.at(mask, inv, bits)
    seen[v] = mask
    touched = [v]
    try:
        level = 0
        while True:
            nbrs, counts = _gather(offsets, targets, v)
            fresh = np.repeat(mask, counts) & ~seen[nbrs]
            hit = fresh != 0
            nbrs, fresh = nbrs[hit], fresh[hit]
            if nbrs.size == 0:
                return
            order = np.argsort(nbrs)  # any order: OR is commutative
            nbrs, fresh = nbrs[order], fresh[order]
            first = np.flatnonzero(np.concatenate(([True], nbrs[1:] != nbrs[:-1])))
            v = nbrs[first].astype(np.int64)
            mask = np.bitwise_or.reduceat(fresh, first)
            seen[v] |= mask
            touched.append(v)
            level += 1
            yield level, v, mask
    finally:
        seen[np.concatenate(touched)] = 0


def _bfs_levels_dirop(
    offsets: np.ndarray,
    targets: np.ndarray,
    offsets_b: np.ndarray,
    targets_b: np.ndarray,
    seed: int,
    seen: np.ndarray,
    front_mask: np.ndarray,
    switch_edges: int,
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """Direction-optimizing BFS (Beamer et al.) from one seed, yielding the
    same ``(level, v, mask)`` levels as :func:`_msbfs` (every mask is just bit 0).

    Top-down frontier expansion while the frontier's out-edge volume is
    small; once it exceeds ``switch_edges`` (≈ m/α), flip to bottom-up — scan
    the UNVISITED vertices and admit those with an in-neighbor in the
    frontier. On small-world graphs the 2–3 peak levels touch nearly every
    edge top-down (with heavy duplicate hits); bottom-up bounds those levels
    by the in-edges of the shrinking unvisited set instead.

    ``seen`` and ``front_mask`` are n-length bool scratches, zero on entry
    and on exit.
    """
    seen[seed] = True
    frontier = np.array([seed], dtype=np.int64)
    touched = [frontier]
    try:
        level = 0
        while True:
            out_edges = int((offsets[frontier + 1] - offsets[frontier]).sum())
            if out_edges == 0:
                return
            if out_edges > switch_edges:
                # bottom-up: candidates = unvisited with ≥1 in-edge
                u = np.flatnonzero(~seen)
                u = u[offsets_b[u + 1] > offsets_b[u]]
                if u.size == 0:
                    return
                front_mask[frontier] = True
                nbrs, cnt = _gather(offsets_b, targets_b, u)
                seg = np.zeros(u.size, dtype=np.int64)
                np.cumsum(cnt[:-1], out=seg[1:])
                any_hit = np.add.reduceat(front_mask[nbrs].astype(np.int64), seg) > 0
                front_mask[frontier] = False
                fresh = u[any_hit]
            else:
                nbrs, _ = _gather(offsets, targets, frontier)
                fresh = np.unique(nbrs[~seen[nbrs]]).astype(np.int64)
            if fresh.size == 0:
                return
            seen[fresh] = True
            touched.append(fresh)
            level += 1
            yield level, fresh, np.ones(fresh.size, dtype=np.uint64)
            frontier = fresh
    finally:
        seen[np.concatenate(touched)] = False


def _level_bits(
    levels: Iterator[tuple[int, np.ndarray, np.ndarray]], k: int
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """``(level, v, bits)`` blocks of a level generator's output:
    ``bits[i, j] = 1`` iff seed ``j`` of ``k`` first reaches ``v[i]`` at
    ``level``, at most ``_UNPACK_ROWS`` rows at a time."""
    for level, v, mask in levels:
        for lo in range(0, v.size, _UNPACK_ROWS):
            m = mask[lo : lo + _UNPACK_ROWS]
            bits = np.unpackbits(m.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            yield level, v[lo : lo + _UNPACK_ROWS], bits[:, :k]


def _seed_batches(
    graph: GraphFrame, seeds: np.ndarray | DataFrame, weights: np.ndarray | None = None
) -> DataFrame:
    """Distribute seeds across the cluster, one row per seed; ``weights``
    (aligned with an array of seeds) rides along as a ``w`` column.

    ``seeds`` may be a driver-side array (k-sized sampler draws) or an
    already-distributed DataFrame with a ``seed`` column (all-vertices scans,
    window-drawn sources) — the DataFrame form never materializes the seed
    set on the driver, which matters when the seed set is O(n).

    One task per core (``min(k, shuffle partitions)`` tasks): per-seed cost
    variance already averages out inside a task's seed batch, so finer tasks
    buy nothing and each one pays a fixed Python-worker cost. Stock PySpark
    workers pay it twice. ``worker_util.setup_spark_files`` →
    ``importlib.invalidate_caches()`` re-reads the directories of
    ``pyspark.zip`` and the Spark core jar, 0.27 CPU-s per task on a 4-core
    host. The daemon's ``gc.collect()`` after each task scans the ~73,000
    objects numpy, pandas and pyarrow leave on the heap, 42-49 ms per task
    against 15-20 ms of work in a 64-seed BFS task. The engine's worker daemon
    (:mod:`avgdist_rs_spark.worker_daemon`) skips unchanged archives and
    freezes each task's survivors, which takes both to a few ms.

    An array's local table scan is already sliced into ``min(k,
    spark.default.parallelism)`` partitions (``get_spark`` sets that equal to
    the shuffle partitions), so ``coalesce`` reaches the task count without
    the round-robin exchange (and its extra job) a ``repartition`` costs."""
    spark = graph.spark
    p = shuffle_partitions(spark)
    if isinstance(seeds, DataFrame):
        return seeds.select(F.col("seed").cast("long").alias("seed")).repartition(p)
    p = min(len(seeds), p)
    pdf = pd.DataFrame({"seed": np.asarray(seeds, dtype=np.int64)})
    schema = "seed long"
    if weights is not None:
        pdf["w"] = np.asarray(weights, dtype=np.int64)
        schema += ", w long"
    return spark.createDataFrame(pdf, schema=schema).coalesce(max(p, 1))


def bfs_csr(
    graph: GraphFrame,
    seeds: np.ndarray | DataFrame,
    transposed: bool = False,
    capture: bool = False,
    dirop: bool = False,
    coverage: np.ndarray | None = None,
) -> DataFrame:
    """Seed-parallel BFS over broadcast CSR adjacency.

    ``seeds`` may be a driver array or a DataFrame with a ``seed`` column —
    the DataFrame form keeps O(n)-sized seed sets (all-vertices exact mode,
    pair-rejection draw windows) off the driver entirely.

    Returns per-seed aggregates ``(seed, dia, dist_sum, reached)`` or, with
    ``capture=True`` (reference K2), all ``(seed, v, dist)`` pairs with dist ≥ 1.

    ``coverage`` (each seed's multiplicity, aligned with the seed array;
    :func:`bfs` passes distinct seeds) selects the K4 coverage output
    instead: each task keeps one dense int64[n] counter, adds a seed's
    multiplicity to the seed itself and to every vertex it reaches, and
    emits the nonzero entries as partial ``(v, c)`` rows — several tasks may
    emit the same ``v``, so the caller sums per ``v``. A vertex counts once
    per seed by construction (the kernel's seen bits hold the seed from the
    start, so cycles and self-loops cannot re-count it). Nothing per
    ``(seed, v)`` pair leaves the task: output is ≤ tasks·n rows however far
    the seeds reach.

    One kernel serves all three outputs: each task runs its seeds through
    the bit-parallel :func:`_msbfs`, 64 at a time, and one consumer reads
    the unpacked bits of every level — column sums for the stats,
    ``np.nonzero`` for the capture, ``bits @ w`` for the coverage. Per-seed
    stats for ~1,100 distinct seeds in one process (CPU time, best of 3,
    4-core shared host): on the perfbench estimator graph (9,270 vertices,
    10,432 edges) 117 ms, against 543 ms one seed at a time and 682 ms
    direction-optimizing; on Erdős–Rényi graphs of 1k-100k edges 4-7× and
    on a 20k-vertex preferential-attachment graph 13× faster than one seed
    at a time. A task's dense state is one uint64 ``seen[n]`` (8n bytes,
    less than its 8n + 4m bytes of CSR); the per-level frontier masks stay
    sparse.

    ``dirop=True`` opts into the per-seed direction-optimizing kernel
    (:func:`_bfs_levels_dirop`), fed to the same consumer: both
    orientations' CSRs are broadcast, and each BFS flips to bottom-up when
    the frontier's out-edge volume passes m/4.
    """
    do_cover = coverage is not None
    if do_cover and (capture or isinstance(seeds, DataFrame)):
        raise ValueError("coverage needs a seed array and excludes capture")
    if graph.num_edges > DEFAULT_CSR_MAX_EDGES:
        raise ValueError(
            f"graph has {graph.num_edges} edges > CSR fast-path cap "
            f"{DEFAULT_CSR_MAX_EDGES}; use bfs_frontier"
        )
    bc = graph.csr_broadcast(transposed=transposed)
    bc_b = graph.csr_broadcast(transposed=not transposed) if dirop else None
    switch_edges = max(1, graph.num_edges // 4)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        adj = bc.value
        offsets, targets, n = adj["offsets"], adj["targets"], adj["n"]
        if bc_b is None:
            width, seen = MS_WIDTH, np.zeros(n, dtype=np.uint64)

            def levels(chunk):
                return _msbfs(offsets, targets, chunk, seen)
        else:
            adj_b = bc_b.value
            width, seen, front = 1, np.zeros(n, dtype=bool), np.zeros(n, dtype=bool)

            def levels(chunk):
                return _bfs_levels_dirop(
                    offsets, targets, adj_b["offsets"], adj_b["targets"],
                    int(chunk[0]), seen, front, switch_edges,
                )
        cov = np.zeros(n, dtype=np.int64) if do_cover else None
        for pdf in batches:
            seeds_arr = pdf["seed"].to_numpy(dtype=np.int64)
            if do_cover:
                w_arr = pdf["w"].to_numpy(dtype=np.int64)
                np.add.at(cov, seeds_arr, w_arr)
            dia, dist_sum, reached = np.zeros((3, seeds_arr.size), dtype=np.int64)
            out_seed, out_v, out_d = [], [], []
            for lo in range(0, seeds_arr.size, width):
                chunk = seeds_arr[lo : lo + width]
                for level, v, bits in _level_bits(levels(chunk), chunk.size):
                    if do_cover:
                        cov[v] += bits @ w_arr[lo : lo + width]  # v is duplicate-free
                    elif capture:
                        row, col = np.nonzero(bits)
                        out_seed.append(chunk[col])
                        out_v.append(v[row])
                        out_d.append(np.full(row.size, level, dtype=np.int64))
                    else:
                        per = bits.sum(axis=0, dtype=np.int32)  # ≤ _UNPACK_ROWS
                        reached[lo : lo + width] += per
                        dist_sum[lo : lo + width] += level * per
                        dia[lo : lo + width][per > 0] = level
            if capture and out_seed:
                yield pd.DataFrame(
                    {
                        "seed": np.concatenate(out_seed),
                        "v": np.concatenate(out_v),
                        "dist": np.concatenate(out_d),
                    }
                )
            elif not (do_cover or capture):
                yield pd.DataFrame(
                    {"seed": seeds_arr, "dia": dia, "dist_sum": dist_sum, "reached": reached}
                )
        if do_cover:
            hit = np.flatnonzero(cov)
            if hit.size:
                yield pd.DataFrame({"v": hit.astype(np.int64), "c": cov[hit]})

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
        v = fdf["v"].to_numpy(dtype=np.int64)
        ws, counts = _gather(offsets, targets, v - int(sdf["vlo"].iloc[0]))
        if ws.size == 0:
            return empty
        out = {"seed": np.repeat(fdf["seed"].to_numpy(dtype=np.int64), counts)}
        if emit_source:
            out["u"] = np.repeat(v, counts)
        for c in carry:
            out[c] = np.repeat(fdf[c].to_numpy(dtype=np.float64), counts)
        out["v"] = ws.astype(np.int64)
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
        from ..functions.salting import salt_edges, salted_expand
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
    met = metrics if metrics is not None else SuperstepMetrics(name="bfs", counters=False)

    # Lineage discipline (SURVEY.md §4 "hard parts"): the naive formulation
    # visited_{k+1} = union(visited_k, f(frontier_k, visited_k)) doubles the
    # logical plan every superstep (exponential analysis cost). ``sweep``
    # therefore truncates the FRONTIER's lineage every superstep (it is the
    # small state) and the VISITED union on the Checkpointer's cadence
    # (durable Parquet when a checkpoint dir is configured → resume).
    first = 1
    latest = ckpt.latest() if resume else None
    if latest is not None:
        visited, first = latest
        frontier = visited.filter(F.col("dist") == first)
        first += 1
    else:
        visited = frontier = local_cut(seeds.select(
            F.col("seed").cast("long").alias("seed"),
            F.col("seed").cast("long").alias("v"),
            F.lit(0).cast("long").alias("dist"),
        ))

    def expand(frontier: DataFrame, it: int) -> DataFrame:
        frontier = frontier.select("seed", "v")
        if salted is not None:
            expanded = salted_expand(frontier, salted, hdf, num_salts)
        elif shard_expand is not None:
            expanded = shard_expand(frontier)
        else:
            expanded = frontier.join(edges, F.col("v") == F.col("_esrc")).select(
                F.col("seed"), F.col("_edst").alias("v")
            )
        return expanded.dropDuplicates(["seed", "v"]).withColumn("dist", F.lit(it).cast("long"))

    # a superstep's exchange volume is the expanded frontier (|frontier| ·
    # avg_degree rows through dedup) plus the visited side of the anti-join
    avg_deg = max(1, -(-graph.num_edges // max(graph.num_nodes, 1)))
    visited, _ = sweep(frontier, visited, expand, ["seed", "v"], ckpt, met,
                       visited.count(), fanout=avg_deg, first=first,
                       max_supersteps=max_supersteps)
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

"""HyperBall: sketch-based approximate neighbourhood function + centralities.

The reference validates its estimators against per-vertex golden arrays
produced by the LAW/WebGraph HyperBall toolchain
(``data/wikipedia-vote-network/wiki.{harmonic,closeness,lin,nieminen,...}`` —
used as external oracles in ``tests/test_reference_goldens.py``). This module
implements that algorithm itself, Spark-first: it is the 100 TB path for
per-vertex centralities — exact all-sources BFS costs O(n·m) and is the right
tool up to millions of vertices (``operators.centrality``); HyperBall costs
O(m · diameter) sketch merges TOTAL for ALL vertices at once, which is the
only viable shape at the reference's 668M-vertex payment graph and beyond.

Algorithm (Boldi & Vigna, "In-Core Computation of Geometric Centralities
with HyperBall", public literature): every vertex carries a HyperLogLog
counter of its ball; one superstep replaces each counter with the
register-wise max of its own and its successors' counters, so after t steps
counter(v) estimates |ball(v, t)|. Per-step increments of the estimate feed
harmonic (Σ inc/t), sum-of-distances (Σ inc·t), and reach — the same
accumulators the exact path derives from BFS levels (A4–A7).

Spark shape — everything is partition-vectorized numpy over Arrow batches,
never per-key pandas groups (per-group overhead would dominate at 10^9
vertices):

1. contributions = state ⋈ edges, keyed on the edge side's stable hash
   partitioning (only the register vectors shuffle, never the edge table);
2. register merge = map-side partial max per (partition, vertex) BEFORE the
   exchange (register max is associative — the pre-merge cuts shuffled blob
   rows from one-per-edge to one-per-touched-vertex), then repartition(v) +
   sortWithinPartitions + ``mapInPandas`` running ``np.maximum.reduceat``
   over group boundaries, with group carry-over across Arrow batches;
3. merge and estimate/accumulator update are FUSED into one pass: state rows
   ride the union carrying their accumulators (flagged), so the group reduce
   sees both the old registers (change detection) and the old estimates in
   place — no separate merged ⋈ state join, which would re-exchange the full
   register-blob table twice per superstep (matrix HLL estimation,
   bytes-equality change detection).

Converged when no register changes (registers are monotone and bounded, so
this is an exact fixpoint). Direction: the default (forward edges) produces
per-vertex values matching the aggregation the exact path uses for the LAW
golden comparisons (``bfs_csr(transposed=True, capture=True).groupBy('v')``)
— verified within HLL error on wiki-Vote against exact BFS (tests).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.graph import GraphFrame, _num_partitions_for
from ..streaming.superstep import Checkpointer, SuperstepMetrics, superstep


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7)


_LC_TABLES: dict[int, np.ndarray] = {}


def lc_table(m: int) -> np.ndarray:
    """Linear-counting values m·ln(m/z) for z = 1..m, indexed by zero-count.

    A shared literal table (math.log, not a vectorized np.log whose SIMD
    rounding may differ by 1 ulp) — the oracle SQL embeds these exact floats,
    so both engines take identical branches with identical values."""
    t = _LC_TABLES.get(m)
    if t is None:
        t = np.array([0.0] + [m * math.log(m / z) for z in range(1, m + 1)])
        _LC_TABLES[m] = t
    return t


def _estimate_rows(regs: np.ndarray, m: int) -> np.ndarray:
    """Vectorized HLL estimate for a (rows, m) uint8 register matrix.

    Every fp step is CROSS-ENGINE EXACT, so a SQL oracle replaying the formula
    reproduces identical bits: the indicator sum Z = Σ 2^-reg is computed as
    two exact integer partial sums hi = Σ_{r≤26} 2^(26−r) (registers 0 count
    here as 2^26) and lo = Σ_{r>26} 2^(63−r) — every term and partial sum is
    < 2^53, hence exact in int64 AND in float64 — leaving exactly ONE rounded
    addition (hi/2^26 + lo/2^63) and one rounded division; linear counting
    reads the shared :func:`lc_table`. Valid for register values ≤ 63, i.e.
    any precision p ≥ 2.
    """
    r = regs.astype(np.int64)
    hi = np.where(r <= 26, np.int64(1) << np.maximum(26 - r, 0), 0).sum(axis=1)
    lo = np.where(r > 26, np.int64(1) << np.maximum(63 - r, 0), 0).sum(axis=1)
    z = hi.astype(np.float64) / np.float64(2**26) + lo.astype(np.float64) / np.float64(
        2**63
    )
    e = (_alpha(m) * m * m) / z
    zeros = (r == 0).sum(axis=1)
    small = (e <= 2.5 * m) & (zeros > 0)
    return np.where(small, lc_table(m)[zeros], e)


def _init_regs(v: np.ndarray, p: int) -> np.ndarray:
    """(len(v), m) uint8 registers holding exactly {v} per row (HLL add)."""
    m = 1 << p
    # splitmix64-style scramble — plain and public; any good mixer works
    x = v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    j = (x & np.uint64(m - 1)).astype(np.int64)
    w = x >> np.uint64(p)
    # rho = (64-p) − bit_length(w) + 1; bit_length via EXACT vectorized binary
    # search (a float log2 mis-rounds w ≥ 2^53 near power-of-two boundaries,
    # and exactness is what lets the DuckDB oracle replay registers bit-for-bit)
    bl = np.zeros(len(w), dtype=np.int64)
    tmp = w.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = tmp >= (np.uint64(1) << np.uint64(shift))
        bl[big] += shift
        tmp[big] >>= np.uint64(shift)
    bl += (tmp > 0).astype(np.int64)
    rho = ((64 - p) - bl + 1).astype(np.uint8)
    regs = np.zeros((len(v), m), dtype=np.uint8)
    regs[np.arange(len(v)), j] = rho
    return regs


def _merge_sorted(p_parts: int, m: int):
    """mapInPandas fn: register-wise max per vertex over batches sorted by v.

    One partition arrives as SEVERAL Arrow batches and a vertex's rows can
    span a batch boundary, so the last (possibly incomplete) group is carried
    into the next batch before reducing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry_v: np.ndarray | None = None
        carry_r: np.ndarray | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            v = pdf["v"].to_numpy(dtype=np.int64)
            mat = np.frombuffer(b"".join(pdf["regs"]), dtype=np.uint8).reshape(-1, m)
            if carry_v is not None:
                v = np.concatenate([carry_v, v])
                mat = np.vstack([carry_r, mat])
            bounds = np.flatnonzero(np.concatenate(([True], v[1:] != v[:-1])))
            if len(bounds) > 1:
                out_v = v[bounds[:-1]]
                merged = np.maximum.reduceat(mat[: bounds[-1]], bounds[:-1], axis=0)
                yield pd.DataFrame({"v": out_v, "regs": [r.tobytes() for r in merged]})
            carry_v = v[bounds[-1] :]
            carry_r = mat[bounds[-1] :]
        if carry_v is not None and carry_v.size:
            merged = carry_r.max(axis=0)
            yield pd.DataFrame({"v": carry_v[:1], "regs": [merged.tobytes()]})

    return run


def hyperball(
    graph: GraphFrame,
    p: int = 10,
    transposed: bool = False,
    max_supersteps: int = 128,
    checkpointer: Checkpointer | None = None,
    metrics: SuperstepMetrics | None = None,
    resume: bool = False,
    combine: bool | str = "auto",
) -> DataFrame:
    """(v, reach_est, harmonic_est, dist_sum_est) for EVERY vertex at once.

    ``reach_est`` ≈ |ball(v)| including v; ``harmonic_est`` ≈ Σ 1/d (LAW
    convention — the reference's estimator uses 1/(1+d), derivable the same
    way); ``dist_sum_est`` ≈ Σ d over reachable pairs. Per-counter relative
    error ~1.06/√2^p (p=10 → ~3%; measured 0.4–1.1% mean on wiki-Vote).

    Shuffle discipline (register blobs are 8+2^p bytes — THE cost at scale):

    - the contribution join keys on the edge table whose stable hash
      partitioning matches the join key (``edges_t`` for forward balls), so
      the edge side never exchanges — only the n-row state does;
    - ``combine=True`` pre-merges contributions per (partition, v) with the
      same reduceat kernel BEFORE the exchange — register max is associative
      (HyperBall's whole trick), so per-superstep shuffle drops from m+n blob
      rows to ≈ touched-vertices-per-partition + n, with bit-identical
      results. The pre-merge only PAYS when several contributions per vertex
      land in the same map partition, i.e. on fan-out graphs; on avg-degree≈1
      graphs it is a full extra Arrow pass that merges nothing. The default
      ``combine="auto"`` decides from stats already in hand — pre-merge iff
      ``num_edges/num_nodes ≥ 4`` — with no extra job and (since the merge is
      bit-identical) no effect on results. Each superstep record's
      ``shuffle_write_records`` shows the rows the pre-merge saves.
    """
    spark = graph.spark
    m = 1 << p
    if combine == "auto":
        combine = graph.num_edges >= 4 * max(graph.num_nodes, 1)
    # scale-adaptive exchange width: the superstep moves n register blobs of
    # 2^p+~48 bytes — size partitions to ~4 MB of sketch state instead of
    # paying session-width task scheduling (and 2× session-width Python
    # workers for the Arrow merge) on small states. Never exceeds the session
    # width, so cluster-scale runs keep full parallelism (guide §2.2:
    # fewer, larger partitions; measured at sf0.1/p=8: 6.5 s → 4.4 s warm).
    state_bytes = graph.num_nodes * (m + 48)
    nparts = min(
        _num_partitions_for(spark), max(2, -(-state_bytes // (4 << 20)))
    )
    met = metrics if metrics is not None else SuperstepMetrics(name="hyperball", counters=False)
    ckpt = checkpointer or Checkpointer(spark, name="hyperball", every=4)
    # ball(v) grows along v's OUT-edges on the working graph: contributions
    # flow dst → src. Reading the OPPOSITE orientation's table gives rows
    # (u=dst, w=src) hash-partitioned on u — exactly the join key — so each
    # superstep's join exchanges ONLY the state vector, never the edges.
    base = graph.edges if transposed else graph.edges_t
    edges = base.select(F.col("src").alias("_eu"), F.col("dst").alias("_ev"))

    def init(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            v = pdf["v"].to_numpy(dtype=np.int64)
            if v.size == 0:
                continue
            regs = _init_regs(v, p)
            yield pd.DataFrame(
                {
                    "v": v,
                    "regs": [r.tobytes() for r in regs],
                    "nf": _estimate_rows(regs, m),
                    "harmonic": np.zeros(v.size),
                    "dist_sum": np.zeros(v.size),
                    "ecc": np.zeros(v.size, dtype=np.int64),
                }
            )

    state_schema = (
        "v long, regs binary, nf double, harmonic double, dist_sum double, ecc long"
    )
    state = None
    start_t = 0
    if resume:
        # north-rule resumability, same shape as BFS/PageRank: the durable
        # checkpoint IS the full sketch state, so any superstep restarts
        latest = ckpt.latest()
        if latest is not None:
            state, start_t = latest
            state = state.drop("changed")
    if state is None:
        state = (
            graph.vertices()
            .repartition(nparts, "v")
            .mapInPandas(init, schema=state_schema)
            .localCheckpoint(eager=True)
        )

    def merge_update(batches: Iterator[pd.DataFrame], t: int) -> Iterator[pd.DataFrame]:
        """Fused group reduce + estimate update over rows sorted by (v).

        Input: the union of the full state (``is_state=1``, carrying
        accumulators) and the superstep's contributions (``is_state=0``),
        hash-partitioned and sorted on ``v`` — every group holds EXACTLY ONE
        state row (state is a keyed vector). Per group: new registers =
        element-wise max over all rows; old registers/estimates come from the
        state row, so change detection and the HLL increment update happen in
        the same pass with no second join. Groups can span Arrow batches —
        the last (possibly incomplete) group is carried forward.
        """

        def reduce_block(v, mat, flag, nf, h, ds, ec, bounds):
            merged = np.maximum.reduceat(mat, bounds, axis=0)
            sidx = np.flatnonzero(flag == 1)  # one per group, in group order
            if len(sidx) != len(bounds):  # keyed-state invariant violated
                raise RuntimeError(
                    f"hyperball: {len(sidx)} state rows for {len(bounds)} groups"
                )
            old = mat[sidx]
            nnf = nf[sidx].copy()
            nh = h[sidx].copy()
            nds = ds[sidx].copy()
            nec = ec[sidx].copy()
            chg = (merged != old).any(axis=1)
            if chg.any():
                est = _estimate_rows(merged[chg], m)
                inc = est - nnf[chg]
                nh[chg] += inc / t
                nds[chg] += inc * t
                nnf[chg] = est
                # eccentricity estimate: the last radius at which v's ball
                # sketch still grew (HyperBall's standard ecc lower-bound)
                nec[chg] = t
            return pd.DataFrame(
                {
                    "v": v[bounds],
                    "regs": [r.tobytes() for r in merged],
                    "nf": nnf,
                    "harmonic": nh,
                    "dist_sum": nds,
                    "ecc": nec,
                    "changed": chg.astype(np.int64),
                }
            )

        carry: tuple | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            v = pdf["v"].to_numpy(dtype=np.int64)
            mat = np.frombuffer(b"".join(pdf["regs"]), dtype=np.uint8).reshape(-1, m)
            flag = pdf["is_state"].to_numpy(dtype=np.int64)
            nf = pdf["nf"].to_numpy(dtype=np.float64)
            h = pdf["harmonic"].to_numpy(dtype=np.float64)
            ds = pdf["dist_sum"].to_numpy(dtype=np.float64)
            ec = pdf["ecc"].to_numpy(dtype=np.int64)
            if carry is not None:
                v = np.concatenate([carry[0], v])
                mat = np.vstack([carry[1], mat])
                flag = np.concatenate([carry[2], flag])
                nf = np.concatenate([carry[3], nf])
                h = np.concatenate([carry[4], h])
                ds = np.concatenate([carry[5], ds])
                ec = np.concatenate([carry[6], ec])
            bounds = np.flatnonzero(np.concatenate(([True], v[1:] != v[:-1])))
            if len(bounds) > 1:
                last = bounds[-1]
                yield reduce_block(
                    v[:last], mat[:last], flag[:last], nf[:last], h[:last],
                    ds[:last], ec[:last], bounds[:-1],
                )
            else:
                last = bounds[-1]
            carry = (
                v[last:], mat[last:], flag[last:], nf[last:], h[last:],
                ds[last:], ec[last:],
            )
        if carry is not None and carry[0].size:
            v, mat, flag, nf, h, ds, ec = carry
            yield reduce_block(v, mat, flag, nf, h, ds, ec, np.array([0]))

    for t in range(start_t + 1, max_supersteps + 1):
        with superstep(met, t) as rec:
            contrib = state.join(edges, state.v == F.col("_eu")).select(
                F.col("_ev").alias("v"), "regs"
            )
            if combine:
                # map-side register combine: partial max per (partition, v) with
                # the same kernel, BEFORE the exchange — cuts shuffled blob rows
                # from one-per-edge to one-per-touched-vertex-per-partition
                contrib = contrib.sortWithinPartitions("v").mapInPandas(
                    _merge_sorted(nparts, m), schema="v long, regs binary"
                )
            allr = state.select(
                "v", "regs", "nf", "harmonic", "dist_sum", "ecc",
                F.lit(1).alias("is_state"),
            ).unionAll(
                contrib.select(
                    "v",
                    "regs",
                    F.lit(0.0).alias("nf"),
                    F.lit(0.0).alias("harmonic"),
                    F.lit(0.0).alias("dist_sum"),
                    F.lit(0).cast("long").alias("ecc"),
                    F.lit(0).alias("is_state"),
                )
            )
            step_t = t
            new_state = (
                allr.repartition(nparts, "v")
                .sortWithinPartitions("v")
                .mapInPandas(
                    lambda it, _t=step_t: merge_update(it, _t),
                    schema=state_schema + ", changed long",
                )
            )
            # lazy: the convergence aggregate below is the materializing action —
            # one Spark job per superstep instead of two (durable cuts on the
            # every=4 cadence stay eager Parquet writes)
            new_state = ckpt.step(new_state, t, lazy=True)
            rec["rows"] = n_changed = int(
                new_state.agg(F.sum("changed").alias("c")).collect()[0]["c"] or 0
            )
        state = new_state.drop("changed")
        if n_changed == 0:
            break

    return state.select(
        "v",
        F.col("nf").alias("reach_est"),
        F.col("harmonic").alias("harmonic_est"),
        F.col("dist_sum").alias("dist_sum_est"),
        F.col("ecc").alias("ecc_est"),
    )

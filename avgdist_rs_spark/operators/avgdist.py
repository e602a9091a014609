"""Average-pairwise-distance estimators — the reference's signature computation.

Semantics replicated from the Rust reference (studied for behavior only):

- BFS accumulators and exclusion of unreachable pairs / the seed itself:
  ``src/bin/unipairs.rs:11-43``, ``src/main.rs:12-54``.
- Sample-size formula ``k = ceil(log2(n) / (2 ε²))``: ``src/main.rs:130``,
  ``src/bin/unipairs.rs:137``.
- ``unipairs`` estimator: exact = pooled ``S/C`` over all seeds; sampled = mean of
  per-source means ``R/k`` with pair-rejection acceptance (draw (v,w), v≠w, accept
  iff w is forward-reachable from v): ``src/bin/unipairs.rs:57-117,168-175``.
- ``main`` estimator: batches of ``slot`` seeds; per-batch pooled
  ``adist = Σdist / (Σcount · (n−1))``; running mean ± sample std across batches;
  human-readable "norm" multiplies by (n−1); per-batch diameter is the batch max,
  then averaged across batches: ``src/main.rs:151-244``.
- Coverage-weighted sampler (K4): k uniform seeds → BFS on the TRANSPOSED graph →
  per-vertex coverage counts (the seed itself counts — ``seen`` includes ``start``)
  → prefix-sum CDF → k draws ``c ∈ [0, maxc]`` (inclusive) resolved by
  lower-bound search: ``src/main.rs:56-111``.

Determinism: the reference uses ``ThreadRng`` (non-seedable); this engine makes all
sampling seeded (``numpy.random.default_rng``) and pluggable, so tests assert exact
equality against a local-Python oracle at equal sample counts (SURVEY.md §5), and
exact modes match the reference's golden outputs to 1e-6.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_stream
from ..plans.graph import GraphFrame
from ..streaming.superstep import local_cut, shuffle_partitions
from .bfs import _use_csr, bfs, capture_stats


def k_formula(n: int, eps: float) -> int:
    """Hoeffding-style sample size, reference ``src/main.rs:130``."""
    return math.ceil(math.log2(n) / (2.0 * eps * eps))


# --------------------------------------------------------------------------- exact mode
def exact_avgdist(graph: GraphFrame, impl: str = "auto") -> dict:
    """unipairs exact mode: seeds = every vertex; avg = S/C, diameter = max.

    Golden anchors: star n=2001 → 1.333333 / 2; ER-1k → 3.706478 / 13
    (``data/star/result/star-uni-exact.out``,
    ``data/erdos-renyi/result/1k-0001p-uni-exact.out``).

    Seeds are the distributed vertex range (``spark.range``) — an n-length
    driver array would be multi-GB at the reference's 668M-vertex scale.
    """
    seeds = graph.vertices().select(F.col("v").alias("seed"))
    row = bfs(graph, seeds, impl=impl).agg(
        F.max("dia").alias("dia"),
        F.sum("dist_sum").alias("s"),
        F.sum("reached").alias("c"),
    ).collect()[0]
    s, c = int(row["s"] or 0), int(row["c"] or 0)
    return {
        "avg_distance": s / c if c else float("nan"),
        "diameter": int(row["dia"] or 0),
        "dist_sum": s,
        "reached_pairs": c,
    }


# --------------------------------------------------------------------------- samplers
def sample_uniform(n: int, k: int, rng: np.random.Generator) -> np.ndarray:
    """K5 dummy sampler: k iid uniform vertex ids (``src/main.rs:166-168``)."""
    return rng.integers(0, n, size=k, dtype=np.int64)


def sample_coverage_weighted(
    graph: GraphFrame,
    k: int,
    rng: np.random.Generator | None,
    impl: str = "auto",
    probes: np.ndarray | None = None,
    draws_fn=None,
) -> np.ndarray:
    """K4 "cross" sampler (``src/main.rs:56-111``), exact CDF inversion.

    k uniform probes → backward BFS (transposed graph) → coverage counts
    (probe seed included) → prefix sum → k inclusive draws ``c ∈ [0, maxc]``
    resolved by lower bound (a draw of 0 maps to vertex 0). Each distinct
    probe's BFS runs once and counts with the probe's multiplicity (the
    reference runs one BFS per draw; BFS is deterministic, so weighting is
    exactly equivalent).

    Where the prefix sum lives follows the BFS strategy, so both paths draw
    the same seeds:

    - CSR (``_use_csr``): the kernel's coverage output sends sparse per-task
      ``(v, c)`` partials to the driver, which sums them into a dense n-length
      counter, takes its ``cumsum`` and resolves every draw with one
      ``searchsorted`` — the reference's own lower bound. The driver already
      holds the CSR's n+1 offsets to build the broadcast, so the counter is
      the same order of memory, and no ``(probe, v)`` pair is materialized.
    - frontier (graphs past ``DEFAULT_CSR_MAX_EDGES``): nothing n-length
      touches the driver. Counts are range-partitioned by vertex id, the
      per-partition sums (P values) come back as offsets, and each partition
      resolves the draws that land in its range with a local ``searchsorted``.

    ``probes`` / ``draws_fn(maxc)`` override the RNG (the portable hash-stream
    sampler plugs in here so the DuckDB oracle can replay the draw sequence).
    """
    n = graph.num_nodes
    if probes is None:
        probes = sample_uniform(n, k, rng)

    def draw(maxc: int) -> np.ndarray:
        if draws_fn is not None:
            return np.asarray(draws_fn(maxc), dtype=np.int64)
        return rng.integers(0, maxc + 1, size=k, dtype=np.int64)  # inclusive upper bound

    counts = bfs(graph, probes, transposed=True, coverage=True, impl=impl)
    if _use_csr(graph, impl):
        part = counts.toArrow()
        cov = np.zeros(n, dtype=np.int64)
        np.add.at(
            cov,
            part.column("v").to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
            part.column("c").to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        )
        cum = np.cumsum(cov)
        return np.searchsorted(cum, draw(int(cum[-1])), side="left").astype(np.int64)

    p = shuffle_partitions(graph.spark)
    parted = (
        counts.repartitionByRange(p, "v")
        .sortWithinPartitions("v")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    psums = (
        parted.groupBy("pid").agg(F.sum("c").alias("s"), F.min("v").alias("vmin")).collect()
    )
    psums.sort(key=lambda r: r["vmin"])
    offsets: dict[int, int] = {}
    running = 0
    for r in psums:
        offsets[int(r["pid"])] = running
        running += int(r["s"])
    draws = draw(running)

    bc = graph.spark.sparkContext.broadcast({"offsets": offsets, "draws": draws})

    def pick(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payload = bc.value
        offs, drs = payload["offsets"], payload["draws"]
        # one task == one partition, but Arrow hands it over as MULTIPLE
        # batches: the running offset must carry across them or later batches
        # would restart the cumulative sum at the partition base (overlapping
        # ranges → wrong/silently-dropped draws on >maxRecordsPerBatch
        # partitions)
        off: int | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            if off is None:
                off = int(offs[int(pdf["pid"].iloc[0])])
            local_cum = off + pdf["c"].to_numpy(dtype=np.int64).cumsum()
            total = int(local_cum[-1])
            # draws landing in (off, total] belong to this batch
            mask = (drs > off) & (drs <= total)
            off = total
            if not mask.any():
                continue
            sel = np.nonzero(mask)[0]
            idx = np.searchsorted(local_cum, drs[sel], side="left")
            yield pd.DataFrame(
                {"draw_idx": sel.astype(np.int64), "seed": pdf["v"].to_numpy()[idx]}
            )

    picked = parted.mapInPandas(pick, schema="draw_idx long, seed long").collect()
    parted.unpersist()
    bc.unpersist()
    out = np.zeros(draws.size, dtype=np.int64)  # draw c==0 → lower bound is vertex 0
    for r in picked:
        out[int(r["draw_idx"])] = int(r["seed"])
    return out


def _accept(
    graph: GraphFrame, pairs: DataFrame, sources: np.ndarray | DataFrame, impl: str
) -> DataFrame:
    """K3's accept step, shared by both pair-rejection samplers: ONE BFS job
    from the drawn ``sources`` captures their reach, a pair ``(seed, w)`` is
    accepted iff ``w`` is in it (the probe ⋈ reach join), and each accepted
    pair carries its seed's stats, aggregated from the same capture — a seed
    that reaches nothing can never be accepted."""
    cap = bfs(graph, sources, capture=True, impl=impl)
    if _use_csr(graph, impl):
        # the capture feeds two joins: run the kernel once
        cap = local_cut(cap)
    return pairs.join(cap.select("seed", F.col("v").alias("w")), ["seed", "w"]).join(
        capture_stats(cap), "seed"
    )


#: K3's first batch draws this many candidate pairs per missing acceptance
PAIR_OVERSAMPLE = 4.0
#: K3 raises after this many batches without k acceptances
PAIR_MAX_ROUNDS = 64


def sample_pair_rejection(
    graph: GraphFrame,
    k: int,
    rng: np.random.Generator,
    impl: str = "auto",
) -> pd.DataFrame:
    """K3 batched-speculative pair-rejection sampler (``src/bin/unipairs.rs:72-88``).

    Instead of the reference's per-thread rejection loop (one BFS per trial), we
    draw a speculative batch of candidate pairs, run ONE multi-source BFS from all
    distinct sources, post-filter accepted pairs with a join against the captured
    reachability, and top up until k acceptances. Acceptance of a pair is
    order-independent, so taking the first k in draw order is deterministic.

    Returns a pandas DataFrame with columns (v, dia, dist_sum, reached), k rows.
    """
    n = graph.num_nodes
    accepted: list[pd.DataFrame] = []
    have = 0
    for rnd in range(PAIR_MAX_ROUNDS):
        need = k - have
        if need <= 0:
            break
        # geometric batch growth (×4 per round): low-acceptance graphs (chains
        # + sink hubs can accept <0.1% of pairs) converge in a few rounds while
        # total BFS work stays within ~2× optimal; the schedule is
        # deterministic so the local-Python oracle replays it exactly.
        batch = min(max(int(math.ceil(need * PAIR_OVERSAMPLE)) << (2 * rnd), 16), 2_000_000)
        v = rng.integers(0, n, size=batch, dtype=np.int64)
        w = rng.integers(0, n, size=batch, dtype=np.int64)
        ok = v != w
        v, w = v[ok], w[ok]
        if v.size == 0:
            continue
        pairs = graph.spark.createDataFrame(
            pd.DataFrame({"seed": v, "w": w, "ord": np.arange(v.size, dtype=np.int64)}),
            schema="seed long, w long, ord long",
        )
        hit = (
            _accept(graph, pairs, np.unique(v), impl)
            .select("ord", F.col("seed").alias("v"), "dia", "dist_sum", "reached")
            .toPandas()
            .sort_values("ord")
        )
        accepted.append(hit.drop(columns=["ord"]))
        have += len(hit)
    out = pd.concat(accepted, ignore_index=True) if accepted else pd.DataFrame(
        columns=["v", "dia", "dist_sum", "reached"]
    )
    if len(out) < k:
        raise RuntimeError(f"pair-rejection sampler got {len(out)}/{k} acceptances")
    return out.head(k).reset_index(drop=True)


# --------------------------------------------------------------- portable sampling
# The reference's RNG (ThreadRng) is not seedable, so sampling here is
# pluggable; these variants draw from the md5 hash stream
# (functions.hashing.hash_stream), which ANY engine can replay — the DuckDB
# driver oracle verifies every drawn seed, per-batch aggregate, and running
# mean/std value-exactly, at any scale factor, with no seed lists shipped
# around. Estimator semantics (batching, pooling, normalization) are identical
# to the RNG paths.


def sample_uniform_hash(n: int, k: int, salt: str = "us:") -> np.ndarray:
    """K5 uniform sampler on the portable hash stream: seed_j = h(salt||j) mod n."""
    return hash_stream(salt, k) % n


def sample_coverage_weighted_hash(
    graph: GraphFrame,
    k: int,
    impl: str = "auto",
    probe_salt: str = "wp:",
    draw_salt: str = "wd:",
) -> np.ndarray:
    """K4 coverage-weighted sampler on the portable hash stream.

    Probes are hash-uniform; CDF draws are ``h(draw_salt||j) mod maxc + 1``
    (range [1, maxc] — every draw lands in exactly one CDF interval, so the
    lower-bound pick is reproducible as a plain interval join in SQL).
    """
    probes = sample_uniform_hash(graph.num_nodes, k, probe_salt)
    return sample_coverage_weighted(
        graph,
        k,
        rng=None,
        impl=impl,
        probes=probes,
        draws_fn=lambda maxc: (hash_stream(draw_salt, k) % maxc) + 1,
    )


def _topk_by(df: DataFrame, k: int, key: str) -> DataFrame:
    """Distributed exact first-k selection by ascending ``key``.

    Two-phase: every partition keeps only its k smallest rows (a vectorized
    ``nsmallest`` over Arrow batches — partition-local, no shuffle), then a
    single row_number window ranks the ≤ P·k survivors. Each partition's
    local top-k necessarily contains every global top-k member it holds, so
    the result is exact; the global sort input is bounded by partitions×k
    rows, never the full candidate set (the single-partition
    ``Window.orderBy`` over ALL acceptances was the at-scale bottleneck).
    """
    from pyspark.sql.window import Window

    schema = df.schema

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            cur = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            best = cur.nsmallest(k, key) if len(cur) > k else cur
        if best is not None and len(best):
            yield best

    partial = df.mapInPandas(local_topk, schema=schema)
    w = Window.orderBy(key)
    return partial.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def sample_pair_rejection_hash(
    graph: GraphFrame,
    k: int,
    window_factor: int = 100,
    impl: str = "auto",
    v_salt: str = "pv:",
    w_salt: str = "pw:",
    first_slice: int | None = None,
) -> DataFrame:
    """K3 pair rejection on the portable hash stream (``src/bin/unipairs.rs:72-88``).

    A fixed draw window of ``window_factor·n`` candidate pairs
    ``(h(pv:j) mod n, h(pw:j) mod n)`` replaces the open-ended rejection loop:
    acceptance (v ≠ w and w forward-reachable from v) is order-independent, so
    "first k accepted in j order" is deterministic and SQL-replayable
    regardless of how the window is traversed.

    The window is therefore processed in increasing-j SLICES, stopping as soon
    as k acceptances exist — on a high-reachability graph only the first few
    thousand draws are ever generated or BFS'd, not all 100·n (the slice
    schedule adapts to the measured acceptance rate; the result is identical
    for any schedule). Within each slice everything stays distributed:

    - draws are generated in Spark (``spark.range`` + the portable md5 hash,
      identical bits to the driver-side ``hash_stream``);
    - the distinct drawn sources feed the BFS as a DataFrame — never an O(n)
      driver collect (at the reference's 668M vertices the old distinct-source
      collect was a multi-GB driver list);
    - "first k accepted by j" is the two-phase :func:`_topk_by` selection —
      per-partition top-k then a rank over ≤ partitions·k survivors, never a
      single-partition sort of every acceptance.

    Returns (rank, v, dia, dist_sum, reached, ratio) — ratio = dist_sum/reached,
    the per-source mean the unipairs estimator averages.
    """
    from ..functions.hashing import portable_hash64

    n = graph.num_nodes
    J = window_factor * n

    def window(lo: int, hi: int) -> DataFrame:
        jc = F.col("id").cast("string")
        return (
            graph.spark.range(lo, hi)
            .select(
                F.col("id").alias("j"),
                (portable_hash64(F.concat(F.lit(v_salt), jc)) % n).alias("seed"),
                (portable_hash64(F.concat(F.lit(w_salt), jc)) % n).alias("w"),
            )
            .where(F.col("seed") != F.col("w"))
        )

    def slice_hits(lo: int, hi: int) -> DataFrame:
        pairs = window(lo, hi)
        return local_cut(
            _accept(graph, pairs, pairs.select("seed").distinct(), impl)
            .select("j", "seed", "dia", "dist_sum", "reached")
        )

    lo, width = 0, min(J, first_slice or max(4096, 64 * k))
    accepted: DataFrame | None = None
    have = 0
    while lo < J:
        hi = min(J, lo + width)
        hits = slice_hits(lo, hi)
        accepted = hits if accepted is None else accepted.union(hits)
        have += hits.count()
        lo = hi
        if have >= k:
            break
        # adapt the next slice to the measured acceptance rate (with 2×
        # headroom); ≥ previous width so low-rate graphs still grow
        # geometrically. The schedule affects only how much window is
        # materialized — first-k-by-j is schedule-independent.
        need = k - have
        width = min(
            J - lo,
            max(width, int(math.ceil(2.0 * need * lo / max(have, 1)))) if have
            else 4 * width,
        )
    if have < k:
        raise RuntimeError(
            f"pair-rejection hash window exhausted: {have}/{k} acceptances in {J} draws "
            f"(raise window_factor)"
        )
    hit = _topk_by(accepted, k, "j")
    return hit.select(
        "rank",
        F.col("seed").alias("v"),
        "dia",
        "dist_sum",
        "reached",
        F.round(F.col("dist_sum").cast("double") / F.col("reached"), 6).alias("ratio"),
    )


def avgdist_batches(
    graph: GraphFrame, seeds: np.ndarray, slot: int = 16, impl: str = "auto"
) -> DataFrame:
    """The main binary's batch loop (``src/main.rs:151-244``) as ONE declarative
    plan over an ordered seed list: batch b = draws [b·slot, (b+1)·slot); per
    batch the pooled (max dia, Σdist, Σreached); running mean/sample-std across
    batches as window aggregates (A3). Everything is reported in "norm" space
    (``anorm = Σdist/Σreached = adist·(n−1)``) — a single division, so the
    DuckDB oracle matches bit-for-bit before rounding.

    Batches with Σreached = 0 contribute no average (reference ``if c > 0``) —
    their anorm is NULL and window AVG/STDDEV skip them on every engine.

    Returns (batch, size, dia, dist_sum, reached, anorm, mean_norm, std_norm,
    dia_mean); the running-stats window is a single-partition sort, fine for
    the O(k/slot) batch rows it ever sees.
    """
    from pyspark.sql.window import Window

    seeds = np.asarray(seeds, dtype=np.int64)
    stats = bfs(graph, seeds, impl=impl)  # one row per distinct seed
    occ = graph.spark.createDataFrame(
        pd.DataFrame({"j": np.arange(seeds.size, dtype=np.int64), "seed": seeds}),
        schema="j long, seed long",
    )
    per = occ.join(stats, "seed")
    batches = (
        per.groupBy(F.floor(F.col("j") / slot).cast("long").alias("batch"))
        .agg(
            F.count("*").alias("size"),
            F.max("dia").alias("dia"),
            F.sum("dist_sum").alias("dist_sum"),
            F.sum("reached").alias("reached"),
        )
        .withColumn(
            "anorm",
            F.when(
                F.col("reached") > 0,
                F.round(F.col("dist_sum").cast("double") / F.col("reached"), 6),
            ),
        )
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nb = F.count("anorm").over(w)
    return batches.select(
        "batch",
        "size",
        "dia",
        "dist_sum",
        "reached",
        "anorm",
        F.round(F.avg("anorm").over(w), 6).alias("mean_norm"),
        F.when(nb > 1, F.round(F.stddev_samp("anorm").over(w), 6)).alias("std_norm"),
        F.round(F.avg(F.when(F.col("reached") > 0, F.col("dia"))).over(w), 6).alias("dia_mean"),
    )


# --------------------------------------------------------------------------- unipairs
def avgdist_unipairs(
    graph: GraphFrame,
    eps: float = 0.1,
    exact: bool = False,
    seed: int = 42,
    impl: str = "auto",
) -> dict:
    """The ``unipairs`` binary (``src/bin/unipairs.rs:121-178``)."""
    n = graph.num_nodes
    if exact:
        r = exact_avgdist(graph, impl=impl)
        return {**r, "sample_size": n, "mode": "exact"}
    k = k_formula(n, eps)
    rng = np.random.default_rng(seed)
    acc = sample_pair_rejection(graph, k, rng, impl=impl)
    nonzero = acc[acc["reached"] > 0]
    ratio = float((nonzero["dist_sum"] / nonzero["reached"]).sum())
    return {
        "avg_distance": ratio / k,  # R / sample_size, unipairs.rs:174
        "diameter": int(acc["dia"].max()) if len(acc) else 0,
        "sample_size": k,
        "mode": "pair_rejection",
    }


# --------------------------------------------------------------------------- main estimator
@dataclass
class EstimatorRun:
    iterations: list[dict] = field(default_factory=list)
    stopped_early: bool = False
    seeds_bfsed: int = 0  # distinct seeds actually BFS'd (early-stop savings)

    @property
    def final(self) -> dict:
        return self.iterations[-1] if self.iterations else {}


def avgdist_main(
    graph: GraphFrame,
    slot: int = 10,
    eps: float = 0.1,
    truth: bool = False,
    dummy: bool = False,
    seed: int = 42,
    impl: str = "auto",
    max_batches: int | None = None,
    stop_eps: float | None = None,
    min_batches: int = 4,
    fuse_batches: int = 16,
) -> EstimatorRun:
    """The main binary's batch loop (``src/main.rs:113-247``).

    Per batch: pick ``slot`` seeds (exact → all vertices; dummy → uniform K5;
    default → coverage-weighted K4 on the transposed graph), run forward BFS from
    all of them (one multi-source job), pool ``adist = Σdist/(Σcount·(n−1))``,
    update running mean/sample-std across batch means.

    ``stop_eps`` is the estimator's convergence early-stop — the operational
    reason the reference batches at all (it watches the running mean ± std
    tighten, ``src/main.rs:206-240``): after ``min_batches`` contributing
    batches, the loop ends as soon as the running STANDARD ERROR of the mean
    (sample-std / √batches — the quantity that actually tightens as batches
    accumulate) falls below ``stop_eps · |running-mean|``. On a 100 TB graph
    this is the difference between a handful of BFS batches and the full
    Hoeffding k. Batches already run are reported identically — early stop
    never changes numbers, only how many batches exist.
    """
    if fuse_batches < 1:
        raise ValueError(f"fuse_batches must be >= 1, got {fuse_batches}")
    n = graph.num_nodes
    k = k_formula(n, eps)
    rng = np.random.default_rng(seed)
    run = EstimatorRun()
    averages_dist: list[float] = []
    averages_dia: list[float] = []

    if truth:
        # exact mode is ONE batch of every vertex: exact_avgdist's pooled sums
        r = exact_avgdist(graph, impl=impl)
        dia, s, c = r["diameter"], r["dist_sum"], r["reached_pairs"]
        run.seeds_bfsed = n
        adist = s / (c * (n - 1)) if c else None
        run.iterations.append(
            {
                "iteration": 1,
                "batch_size": k,
                "adist": adist,
                "mean": adist if adist is not None else float("nan"),
                "norm": adist * (n - 1) if adist is not None else float("nan"),
                "std": None,
                "diameter_mean": float(dia) if c else float("nan"),
                "diameter_max": dia,
            }
        )
        return run

    # Fused fast path for dummy sampling: batches are independent RNG
    # draws, so presample every batch upfront (cheap RNG), then BFS the
    # distinct seeds in chunks of ``fuse_batches`` batches as the loop
    # consumes them — one multi-source job per chunk instead of per batch,
    # and batches the early stop skips are never BFS'd at all. Identical
    # numbers to the per-batch loop (BFS is deterministic per seed); the
    # reference's batch loop is a *reporting* cadence, not a data dependency
    # (``src/main.rs:151-244``).
    stats_by_seed: dict[int, tuple[int, int, int]] = {}
    presampled: list[np.ndarray] = []
    fetched_upto = 0
    if dummy:
        remaining_pre = k
        nbp = 0
        while remaining_pre > 0:
            cur = min(slot, remaining_pre)
            presampled.append(sample_uniform(n, cur, rng))
            remaining_pre -= cur
            nbp += 1
            if max_batches is not None and nbp >= max_batches:
                break

    def bfs_into(table: dict[int, tuple[int, int, int]], seeds: np.ndarray) -> None:
        """One BFS job over DISTINCT ``seeds``; (dia, dist_sum, reached) per seed."""
        run.seeds_bfsed += int(seeds.size)
        for r in bfs(graph, seeds, impl=impl).toPandas().itertuples():
            table[int(r.seed)] = (int(r.dia), int(r.dist_sum), int(r.reached))

    def ensure_stats(upto: int) -> None:
        """BFS the not-yet-fetched seeds of presampled batches [0, upto)."""
        nonlocal fetched_upto
        if upto <= fetched_upto:
            return
        seeds = np.concatenate(presampled[fetched_upto:upto])
        fetched_upto = upto
        fresh = np.setdiff1d(np.unique(seeds), np.fromiter(stats_by_seed, np.int64))
        if fresh.size:
            bfs_into(stats_by_seed, fresh)

    remaining = k
    iteration = 1
    while remaining > 0:
        cur = min(slot, remaining)
        if dummy:
            sampled = presampled[iteration - 1]
            chunk = len(presampled) if stop_eps is None else min(
                len(presampled), iteration - 1 + fuse_batches
            )
            ensure_stats(chunk)
            batch_stats = stats_by_seed
        else:
            # duplicates count with multiplicity in the pooling below
            sampled = sample_coverage_weighted(graph, cur, rng, impl=impl)
            batch_stats = {}
            bfs_into(batch_stats, np.unique(sampled))
        dia = max((batch_stats[int(x)][0] for x in sampled), default=0)
        s = sum(batch_stats[int(x)][1] for x in sampled)
        c = sum(batch_stats[int(x)][2] for x in sampled)
        if c > 0:
            averages_dist.append(s / (c * (n - 1)))
            averages_dia.append(float(dia))
        nb = len(averages_dist)
        mean = sum(averages_dist) / nb if nb else float("nan")
        var = (
            sum((x - mean) ** 2 for x in averages_dist) / (nb - 1) if nb > 1 else float("nan")
        )
        dmean = sum(averages_dia) / nb if nb else float("nan")
        run.iterations.append(
            {
                "iteration": iteration,
                "batch_size": cur,
                "adist": s / (c * (n - 1)) if c else None,
                "mean": mean,
                "norm": mean * (n - 1),
                "std": math.sqrt(var) if var == var else None,
                "diameter_mean": dmean,
                "diameter_max": dia,
            }
        )
        remaining -= cur
        iteration += 1
        if (
            stop_eps is not None
            and nb >= min_batches
            and var == var
            and math.sqrt(var / nb) < stop_eps * abs(mean)
        ):
            run.stopped_early = True
            break
        if max_batches is not None and iteration > max_batches:
            break
    return run

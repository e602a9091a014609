"""Per-vertex centrality estimators (reference ``harmonic`` / ``closeness`` binaries).

Semantics (studied from the reference, behavior only):

- ``harmonic``: seeds = all vertices (exact) or k uniform; BFS captures
  (v, d) for every NEWLY reached vertex (seed excluded, d ≥ 1,
  ``src/bin/harmonic.rs:10-47``); per-vertex accumulators
  ``coverage[v] += 1`` and ``hsum[v] += 1/(1+d)`` (``:86-101`` — note
  **1/(1+d)**, not the LAW 1/d); finalization ``c(u) = hsum[u] / |S|``
  (``:157-167``); vertices never reached are EXCLUDED (None), not 0.
  Conventionally invoked on the TRANSPOSED graph so scores measure incoming
  reachability (``data/pg/benchmark-unipair.sh:6``) — orientation is the
  caller's choice here, as there.
- ``closeness``: batch loop like the main estimator but fixed
  ``k = ceil(6.907 / (2 ε²))`` (6.907 = ln 1000, ``src/bin/closeness.rs:129``);
  sampled seeds use pair-rejection (K3); per-vertex ``dist_sum[v] += d``;
  finalization ``c(u) = 1 / (dist_sum[u] · k')`` with k' = n when exact, k
  otherwise, only for vertices with reach > 0 and dist_sum > 0
  (``:214-228``; the commented-out Lin variant ``reach²/(dist_sum·k')`` is kept
  as an option).
- histogram (A8): bucket = floor(c · 1e9), counts, descending bucket order
  (``src/bin/harmonic.rs:169-184``).

All per-vertex accumulation is a single shuffle: ``groupBy('v').agg(...)`` over
the captured (seed, v, dist, w) relation of :func:`operators.bfs.bfs` (``w`` is
a sampled seed's multiplicity: the reference runs one BFS per draw) — the
reference's mpsc-channel fan-in is exactly Spark's partial+final hash aggregate.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.graph import GraphFrame
from .avgdist import k_formula, sample_pair_rejection, sample_uniform
from .bfs import bfs


def harmonic_centrality(
    graph: GraphFrame,
    exact: bool = True,
    eps: float = 0.1,
    seed: int = 42,
    transposed: bool = False,
    impl: str = "auto",
) -> DataFrame:
    """(v, harmonic, coverage) — c(u) = (1/|S|) Σ_seeds 1/(1+d(seed,u))."""
    n = graph.num_nodes
    if exact:
        seeds = graph.vertices().select(F.col("v").alias("seed"))
        sample_size = n
    else:
        sample_size = k_formula(n, eps)
        seeds = sample_uniform(n, sample_size, np.random.default_rng(seed))
    cap = bfs(graph, seeds, transposed=transposed, capture=True, impl=impl)
    return cap.groupBy("v").agg(
        (F.sum(F.col("w") / (1.0 + F.col("dist"))) / F.lit(float(sample_size))).alias(
            "harmonic"
        ),
        F.sum("w").alias("coverage"),
    )


def closeness_centrality(
    graph: GraphFrame,
    exact: bool = True,
    eps: float = 0.05,
    slot: int = 64,
    seed: int = 42,
    transposed: bool = False,
    lin: bool = False,
    impl: str = "auto",
) -> DataFrame:
    """(v, closeness) — c(u) = 1/(dist_sum(u)·k'), or Lin reach²/(dist_sum·k')."""
    n = graph.num_nodes
    if exact:
        seeds = graph.vertices().select(F.col("v").alias("seed"))
        norm = n
    else:
        k = closeness_k(eps)
        norm = k
        rng = np.random.default_rng(seed)
        parts = []
        remaining = k
        while remaining > 0:
            cur = min(slot, remaining)
            acc = sample_pair_rejection(graph, cur, rng, impl=impl)
            parts.append(acc["v"].to_numpy(dtype=np.int64))
            remaining -= cur
        seeds = np.concatenate(parts)
    cap = bfs(graph, seeds, transposed=transposed, capture=True, impl=impl)
    agg = cap.groupBy("v").agg(
        F.sum(F.col("dist") * F.col("w")).alias("dist_sum"), F.sum("w").alias("reach")
    )
    agg = agg.filter((F.col("reach") > 0) & (F.col("dist_sum") > 0))
    if lin:
        c = (F.col("reach") * F.col("reach")).cast("double") / (
            F.col("dist_sum") * F.lit(norm)
        ).cast("double")
    else:
        c = F.lit(1.0) / (F.col("dist_sum") * F.lit(norm)).cast("double")
    return agg.select("v", c.alias("closeness"))


def closeness_k(eps: float) -> int:
    """Reference ``src/bin/closeness.rs:129``: ceil(ln(1000) / (2 ε²))."""
    return math.ceil(6.907 / (2.0 * eps * eps))


def centrality_histogram(
    scores: DataFrame, col: str, bucket_scale: float = 1e9, members: bool = False
) -> DataFrame:
    """(bucket, cnt[, members]) with bucket = floor(score·scale), descending (A8/O1).

    ``members=True`` adds the sorted vertex-id list per bucket — the
    reference's closeness output groups node ids by bucket
    (``src/bin/closeness.rs:231-242``); sorting makes the list deterministic
    for exact-match testing. Note the list concentrates a bucket's vertices
    onto one row — at 10^9 vertices use the count variant (or a top-k per
    bucket) unless buckets are known to be small."""
    aggs = [F.count("*").alias("cnt")]
    if members:
        aggs.append(F.array_sort(F.collect_list("v")).alias("members"))
    return (
        scores.groupBy(F.floor(F.col(col) * F.lit(bucket_scale)).alias("bucket"))
        .agg(*aggs)
        .orderBy(F.desc("bucket"))
    )


def top_central(scores: DataFrame, col: str, k: int | None = None) -> DataFrame:
    """Full descending sort (reference prints all, ``harmonic.rs:186-192``);
    range-partitioned sort in Spark; optional top-k limit."""
    out = scores.orderBy(F.desc(col), F.asc("v"))
    return out.limit(k) if k is not None else out

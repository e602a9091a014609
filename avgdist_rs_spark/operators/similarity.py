"""Similarity search over an embedding column (array<float/double>).

Beyond-reference capability for training-data pipelines. Two paths:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  query side is broadcast (k queries ≪ corpus), the corpus side streams: one
  broadcast-nested-loop with zero shuffle of the big side; dot products and
  norms are JVM-side ``zip_with``/``aggregate`` higher-order functions (no
  Python, stays in whole-stage codegen).
- ``lsh_ann``: random-hyperplane LSH — the 100 TB path. Signatures are computed
  once per vector (one projection per plane via the same higher-order
  functions); candidates are generated by an equi-join on the bucket key, so
  cost is O(Σ bucket²) instead of O(|Q|·|corpus|). Hyperplanes are
  deterministic (seeded numpy, reproducible in the DuckDB oracle) and ship as
  ONE broadcast row — never O(planes·dim) plan literals, which would bloat
  plan analysis at production embedding dims. ``num_tables`` unions candidates
  from independent plane sets (the multi-table recall lever).
- ``ivf_ann``: deterministic Lloyd clustering (no pyspark.ml) + nprobe routing;
  engine-portable, so the oracle verifies the full path.
"""

from __future__ import annotations

import decimal

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


from ..plans.graph import spread as _spread  # shared conditional scan-spread
from ..streaming.superstep import local_cut, shuffle_partitions


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``num_queries`` vectors.

    Returns (query_id, neighbor_id, rank, sim) — rank 1..k by (sim desc,
    neighbor_id asc); self-matches excluded; sim rounded to 4 decimals for
    cross-engine float stability.
    """
    # norms once per vector (a per-pair norm would redo 2·dim multiplies for
    # every candidate — O(|Q|·|corpus|·dim) wasted at scale)
    base = _spread(emb, id_col).select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("nn"),
    )
    queries = (
        base.where(F.col("nid") < num_queries)
        .select(F.col("nid").alias("qid"), F.col("nv").alias("qv"), F.col("nn").alias("qn"))
    )
    sims = (
        base.join(F.broadcast(queries), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("sim_raw"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), F.asc("nid"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("sim_raw"), 4).alias("sim"),
        )
    )


def hyperplanes(num_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (seeded, reproducible in the oracle)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).round(6)


def _bucketed(
    emb: DataFrame,
    num_planes: int,
    seed: int,
    num_tables: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(nid, nv, nn, table, bucket): one row per (vector, signature table).

    The plane sets ride in as ONE one-row broadcast DataFrame column
    (``array<array<array<double>>>``) — never as plan literals: at production
    dims (768–4096) with 16+ planes, O(planes·dim) literals bloat the plan and
    its analysis time; a broadcast of a single row is constant-size in the
    plan. Projections are computed JVM-side with nested higher-order functions
    (transform → dot-fold), whole-stage codegen throughout.

    ``num_tables`` > 1 is the multi-probe recall lever: table t uses seed+t,
    candidates are unioned across tables (standard multi-table LSH — recall
    1−(1−p^b)^T rises with T at linear cost).
    """
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("embeddings input is empty")
    dim = len(first[0])
    tabs = [hyperplanes(num_planes, dim, seed + t) for t in range(num_tables)]
    pdf = emb.sparkSession.createDataFrame(
        [([[[float(x) for x in p] for p in t] for t in tabs],)],
        "ptab array<array<array<double>>>",
    )
    vec = F.col(vec_col)
    buckets = F.transform(
        F.col("ptab"),
        lambda planes: F.array_join(
            F.transform(
                planes,
                lambda p: F.when(_dot(vec, p) >= 0, F.lit("1")).otherwise(F.lit("0")),
            ),
            "",
        ),
    )
    return (
        _spread(emb, id_col)
        .crossJoin(F.broadcast(pdf))
        .select(
            F.col(id_col).alias("nid"),
            vec.alias("nv"),
            _norm(vec).alias("nn"),
            F.posexplode(buckets).alias("table", "bucket"),
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    num_planes: int = 8,
    seed: int = 42,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold),
    candidates restricted to a shared random-hyperplane bucket — the
    embedding-space member of the dedup family (exact / Jaccard / MinHash /
    SimHash / cosine). Recall < 1 by construction; ``num_tables`` unions
    candidates from independent plane sets to push it up (linear cost);
    candidate cost is O(Σ bucket²), never |corpus|²."""
    sig = _bucketed(emb, num_planes, seed, num_tables, id_col, vec_col)
    a = sig.select(
        F.col("nid").alias("a"), F.col("nv").alias("va"), F.col("nn").alias("na"),
        "table", "bucket",
    )
    b = sig.select(
        F.col("nid").alias("b"), F.col("nv").alias("vb"), F.col("nn").alias("nb"),
        "table", "bucket",
    )
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb", "na", "nb")
    )
    if num_tables > 1:  # a pair can collide in several tables — score it once
        cand = cand.dropDuplicates(["a", "b"])
    return (
        cand.select(
            "a",
            "b",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _sq_dist(a, b) -> F.Column:
    """Σ (aᵢ−bᵢ)² as a sequential left-to-right fold — the oracle computes the
    identical expression (list_sum of list_transform) so distances agree to
    the bit before any rounding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def kmeans_lloyd(
    emb: DataFrame,
    num_centroids: int = 8,
    iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic, engine-portable Lloyd iteration (no pyspark.ml).

    Init: the ``num_centroids`` vectors ranked first by the portable md5 hash
    of their id (a reproducible pseudo-random pick any SQL engine can replay).
    Each iteration: assign every vector to its nearest centroid by squared L2
    (ties → lowest centroid id), then recompute centroids as the element-wise
    mean of their members, ROUNDED to 6 decimals — the rounding pins the
    fixpoint so Spark's unordered partial-sum aggregation and the oracle's
    sequential sum converge to identical centroids. Empty clusters keep their
    previous centroid.

    Scale shape: the embedding vectors NEVER enter an exchange. Centroids ride
    in as ONE one-row broadcast column (array<array<double>>, same device as
    the LSH plane tables) and the nearest-centroid pick is an inline
    ``array_min(transform(...))`` argmin — a pure projection, zero shuffle,
    no groupBy. The mean update is per-partition numpy partial sums
    (mapInPandas → (cid, count, sum-vector) — C rows per partition, merged on
    the driver), so plan size stays O(1) in the embedding dimension (the
    per-dimension avg-expression formulation bloated plans at 768–4096 dims)
    and the per-iteration exchange is partitions×C skinny rows, not n vectors.

    Returns (assigned(nid, nv, cluster), centroids as a list of lists).
    """
    from collections.abc import Iterator

    from ..functions.hashing import portable_hash64

    spark = emb.sparkSession
    # pin the (id, vector) projection once: every Lloyd iteration re-reads it
    # (iterations+1 assignment passes), and the function is already
    # action-bound (init collect below), so an eager localCheckpoint trades
    # one materialization for iterations× re-scans of the source.
    # Scale-adaptive width instead of the blanket session-width spread: each
    # Lloyd pass runs an Arrow partial-sum task per partition, so a small
    # corpus at session width pays ~2·width Python-worker roundtrips per
    # iteration for near-empty batches — size to ~500 vectors/partition,
    # capped at the session width so big corpora keep full parallelism
    # (measured at sf0.1's 2000 vectors: ivf_ann 3.7 s → 3.1 s warm).
    # The count and the checkpoint read one cached copy of ``emb``, so its
    # upstream plan runs once (a caller's own cache is left alone).
    owned = emb.storageLevel == StorageLevel.NONE
    if owned:
        emb.persist()
    try:
        n_vec = emb.count()
        w = min(shuffle_partitions(spark), max(2, -(-int(n_vec) // 500)))
        e = local_cut(
            emb.repartition(w, F.col(id_col))
            .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
        )
    finally:
        if owned:
            emb.unpersist()
    h = portable_hash64(F.concat(F.lit("km:"), F.col("nid").cast("string")))
    init = e.withColumn("_h", h).orderBy("_h", "nid").limit(num_centroids).collect()
    cents = [[float(x) for x in r["nv"]] for r in init]
    dim = len(cents[0]) if cents else 0

    def assign(cents_now: list[list[float]]) -> DataFrame:
        cdf = spark.createDataFrame(
            [([list(c) for c in cents_now],)], "ctab array<array<double>>"
        )
        nearest = F.array_min(
            F.transform(
                F.col("ctab"),
                lambda cv, i: F.struct(
                    _sq_dist(F.col("nv"), cv).alias("d2"), i.alias("cid")
                ),
            )
        )["cid"]
        # struct ordering is lexicographic (d2, then cid) — ties resolve to the
        # lowest centroid id, identical to the oracle's row_number ordering
        return e.crossJoin(F.broadcast(cdf)).select(
            "nid", "nv", nearest.cast("int").alias("cluster")
        )

    def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, tuple[int, np.ndarray]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            cl = pdf["cluster"].to_numpy()
            mat = np.vstack(pdf["nv"].to_numpy()).astype(np.float64, copy=False)
            for cid in np.unique(cl):
                m = cl == cid
                cnt, s = acc.get(int(cid), (0, np.zeros(dim)))
                acc[int(cid)] = (cnt + int(m.sum()), s + mat[m].sum(axis=0))
        for cid, (cnt, s) in acc.items():
            yield pd.DataFrame({"cid": [cid], "cnt": [cnt], "s": [s.tobytes()]})

    assigned = None
    for it in range(iterations + 1):  # final pass re-assigns against the last update
        assigned = assign(cents)
        if it == iterations:
            break
        parts = assigned.select("cluster", "nv").mapInPandas(
            partial_sums, schema="cid int, cnt long, s binary"
        ).collect()
        merged: dict[int, tuple[int, np.ndarray]] = {}
        for r in sorted(parts, key=lambda r: int(r["cid"])):
            cnt, s = merged.get(int(r["cid"]), (0, np.zeros(dim)))
            merged[int(r["cid"])] = (
                cnt + int(r["cnt"]),
                s + np.frombuffer(r["s"], dtype=np.float64),
            )
        def _r6(x: float) -> float:
            # match Spark round() EXACTLY: HALF_UP on the shortest decimal
            # representation (Spark: BigDecimal.valueOf(x).setScale(6,
            # HALF_UP); Python's repr() is the same shortest-round-trip
            # algorithm as Java's Double.toString). A float-multiply variant
            # (floor(x*1e6+0.5)) mis-rounds values whose *1e6 product lands
            # just under the boundary — ~1e-5 of boundary-adjacent doubles.
            return float(
                decimal.Decimal(repr(float(x))).quantize(
                    decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
                )
            )

        cents = [
            [_r6(float(x)) for x in (merged[i][1] / merged[i][0])]
            if i in merged and merged[i][0] > 0
            else cents[i]  # empty clusters keep their previous centroid
            for i in range(len(cents))
        ]
    return assigned, cents


def ivf_ann(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: Lloyd-partition the corpus, search only the
    ``nprobe`` clusters nearest to each query.

    The 100 TB shape: centroids are tiny (broadcast); the corpus is scanned
    once per Lloyd iteration to assign clusters (no shuffle of the vectors);
    query→cluster routing happens on the driver over the collected centroids;
    the candidate join is an equi-join on cluster id, so cost is
    O(Σ probed-cluster sizes) instead of O(|Q|·|corpus|). Recall rises with
    ``nprobe`` (= num_centroids recovers exact brute force). Clustering is the
    deterministic portable :func:`kmeans_lloyd`, so the DuckDB oracle verifies
    the entire path value-exactly (init ranks, assignments, routing, top-k).

    Returns (query_id, neighbor_id, rank, sim) like :func:`cosine_topk`.
    """
    assigned, cents = kmeans_lloyd(emb, num_centroids, iterations, id_col, vec_col)

    qrows = (
        emb.where(F.col(id_col) < num_queries)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect()
    )
    # driver-side routing: nprobe nearest centroids per query (centroids tiny).
    # Distances accumulate sequentially left-to-right — the same fold the
    # Spark assignment and the SQL oracle use — so near-tie routing agrees.
    def _seq_d2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    probes = []
    for r in qrows:
        qv = [float(x) for x in r["qv"]]
        d = sorted((( _seq_d2(qv, cents[c]), c) for c in range(len(cents))))
        for _, c in d[:nprobe]:
            probes.append((int(r["qid"]), qv, int(c)))
    spark = emb.sparkSession
    qdf = spark.createDataFrame(probes, "qid long, qv array<double>, cluster int")

    sims = (
        assigned.join(F.broadcast(qdf), "cluster")
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            (_dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv")))).alias(
                "sim_raw"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), F.asc("nid"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("sim_raw"), 4).alias("sim"),
        )
    )


def lsh_ann(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact ranking within the query's LSH bucket(s).

    Recall < 1 by construction; ``num_tables`` independent signature tables
    (plane sets seeded seed..seed+T−1) are unioned to push recall up — the
    standard multi-table trade: candidate probability 1−(1−p^b)^T at T× the
    signature cost. Planes ship as one broadcast row, never plan literals.
    Returns (query_id, neighbor_id, rank, sim).
    """
    sig = _bucketed(emb, num_planes, seed, num_tables, id_col, vec_col)
    queries = (
        sig.where(F.col("nid") < num_queries)
        .select(
            F.col("nid").alias("qid"), F.col("nv").alias("qv"), F.col("nn").alias("qn"),
            "table", "bucket",
        )
    )
    cand = (
        sig.join(F.broadcast(queries), ["table", "bucket"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", "qv", "nv", "qn", "nn")
    )
    if num_tables > 1:  # same (query, neighbor) may collide in several tables
        cand = cand.dropDuplicates(["qid", "nid"])
    sims = cand.select(
        "qid",
        "nid",
        (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("sim_raw"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), F.asc("nid"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("sim_raw"), 4).alias("sim"),
        )
    )

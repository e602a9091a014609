"""GraphFrame: the engine's graph data model.

Reference data model (SURVEY.md §1): an immutable directed graph with dense integer
vertex ids ``0..n``, materialized twice (forward + transposed) for O(1) random access
(``BvGraph::with_basename`` at reference ``src/main.rs:124-125``; transpose importance
``README.md:82``).

Spark-first re-expression:
- ``edges(src long, dst long)``: distinct directed edges, hash-repartitioned on ``src``
  and persisted — the analog of the forward BVGraph. Every superstep join
  (frontier ⋈ edges on vertex) then reuses this partitioning, so after the one-time
  setup shuffle the per-superstep plan only shuffles the (much smaller) frontier.
- ``edges_t``: the transpose, independently repartitioned on its own ``src`` — the
  analog of the ``g-t`` BVGraph (reference walks backward edges for coverage-weighted
  sampling, ``src/main.rs:169``). It is persisted but not materialized by the
  build: its first consumer (CC, SCC, the frontier BFS, hyperball) fills the
  cache, so PageRank, the CSR kernel and K4 never pay its shuffle.
- ``nodes(id long, orig string)``: dense-id mapping, the analog of ``*.nodes``
  side files (reference ``data/github/github.nodes``). Dense ids are required for the
  numpy/bitset BFS kernels. It is a projection of the build's persisted table
  of sorted distinct keys (:meth:`GraphFrame.dense_ids`).
- A broadcast CSR fast path for graphs whose adjacency fits comfortably through
  the driver and in every executor: two int64/int32 numpy arrays (offsets,
  targets) — the moral equivalent of BVGraph+Elias-Fano random access
  (reference ``README.md:58-81``), shipped once per executor via
  ``SparkContext.broadcast``. Both orientations come from ``edges``: the
  first one built collects it, the other is transposed from the first one's
  arrays on the driver, with no Spark job. Gated at
  ``operators.bfs.DEFAULT_CSR_MAX_EDGES`` (2e8 edges ≈ 2.4 GB of arrays — a
  deliberate driver-heap ceiling, NOT the 2.16e9-edge payment-graph scale).
- **CSR shards** (``csr_shards``): the distributed form — per-vertex-range CSR
  blocks built executor-side with ``applyInPandas`` and kept as a persisted
  DataFrame of binary columns. Nothing ever materializes on the driver, so
  this is the path that covers the payment-graph scale and beyond; BFS gathers
  against the shards with a co-grouped pandas kernel (``operators.bfs``).

The build runs with AQE off: with AQE on, every exchange is a job of its own
and even a lazy lineage cut runs the shuffles upstream of it (see
``streaming.superstep.local_cut``). A transcript graph builds in 4 jobs: the
range-partition sample, the key-size collect, the node-table broadcast (both
mapping joins reuse it) and the edge count. The one exception is a node table
too big to broadcast: the two node-mapping joins then run under the session's
AQE, whose skew-join split keeps a hub vertex out of a single task.
"""

from __future__ import annotations

import math
import os
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..streaming.superstep import aqe_disabled, free_cut, local_cut, shuffle_partitions


def spread(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-spread a DataFrame to session parallelism when its scan arrived
    narrower (a small parquet file = ONE partition, and every projection
    downstream — shingle explodes, per-word hashing, plane projections, Lloyd
    assignments — inherits it). No-op for well-partitioned inputs, so the
    zero-corpus-shuffle claims of the operators hold where they matter. The
    guard reads the physical partition count: plan-time for plain scans; for
    inputs that already contain exchanges, AQE may materialize the upstream
    stages to answer it — corpus operators apply this at the SCAN, where it
    is free."""
    n = shuffle_partitions(df.sparkSession)
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, F.col(key_col))
    return df


@dataclass
class CSR:
    """Compressed sparse row adjacency: successors(v) = targets[offsets[v]:offsets[v+1]]."""

    offsets: np.ndarray  # int64, len n+1
    targets: np.ndarray  # int64, len m
    num_nodes: int

    def successors(self, v: int) -> np.ndarray:
        return self.targets[self.offsets[v] : self.offsets[v + 1]]


def build_csr(pairs: np.ndarray, num_nodes: int) -> CSR:
    """Build CSR from an (m, 2) int64 array of (src, dst) pairs.

    Targets are stored int32 when ids fit (n < 2^31): the BFS kernel is a
    memory-bound gather loop, so halving target bytes nearly halves the
    bandwidth per edge visit — the Spark-side analog of BVGraph's compressed
    adjacency (reference README.md:58-103)."""
    tdtype = np.int32 if num_nodes < 2**31 else np.int64
    if pairs.size == 0:
        return CSR(np.zeros(num_nodes + 1, dtype=np.int64), np.empty(0, dtype=tdtype), num_nodes)
    order = np.lexsort((pairs[:, 1], pairs[:, 0]))
    src = pairs[order, 0]
    dst = pairs[order, 1]
    counts = np.bincount(src, minlength=num_nodes)
    offsets = np.zeros(num_nodes + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    return CSR(offsets, dst.astype(tdtype, copy=False), num_nodes)


def transpose_csr(offsets: np.ndarray, targets: np.ndarray, num_nodes: int) -> CSR:
    """The CSR of the reversed edges, from a :func:`build_csr` adjacency.

    A stable sort on target keeps the sources of each new row in ascending
    order, so the arrays equal ``build_csr`` over the swapped pairs."""
    src = np.repeat(np.arange(num_nodes, dtype=targets.dtype), np.diff(offsets))
    counts = np.bincount(targets, minlength=num_nodes)
    new_offsets = np.zeros(num_nodes + 1, dtype=np.int64)
    np.cumsum(counts, out=new_offsets[1:])
    return CSR(new_offsets, src[np.argsort(targets, kind="stable")], num_nodes)


class DenseIds(NamedTuple):
    """:meth:`GraphFrame.dense_ids`' result."""

    nodes: DataFrame  # (id long, orig), a projection of ``cache``
    n: int  # distinct keys
    key_bytes: int  # UTF-8 bytes of the distinct keys
    cache: DataFrame  # the persisted sorted keys; unpersist it with the graph


@dataclass
class GraphFrame:
    """Directed graph as co-partitioned forward/transposed edge DataFrames."""

    edges: DataFrame
    edges_t: DataFrame
    num_nodes: int
    num_edges: int
    nodes: Optional[DataFrame] = None  # (id long, orig string) when densified
    _csr_fwd: Optional[object] = field(default=None, repr=False)
    _csr_bwd: Optional[object] = field(default=None, repr=False)
    #: the build's own blocks behind ``edges`` and ``nodes``, released by
    #: :meth:`unpersist`: the cut of the string-keyed edges, the sorted keys
    _build_cut: Optional[DataFrame] = field(default=None, repr=False)
    _build_keys: Optional[DataFrame] = field(default=None, repr=False)

    @property
    def spark(self) -> SparkSession:
        return self.edges.sparkSession

    # ------------------------------------------------------------- constructors
    @staticmethod
    def from_edges(
        edges: DataFrame,
        num_nodes: int | None = None,
        *,
        dedup: bool = True,
    ) -> "GraphFrame":
        """Build from an integer-id edge DataFrame with columns (src, dst).

        ``num_nodes`` defaults to ``max(id)+1`` (reference semantics: ids are dense
        ``0..n`` and ``--num-nodes`` may exceed the max id, leaving isolated
        vertices — those still count as BFS seeds in exact mode).
        """
        with aqe_disabled(edges.sparkSession):
            return GraphFrame._from_edges(edges, num_nodes, dedup)

    @staticmethod
    def _from_edges(edges: DataFrame, num_nodes: int | None, dedup: bool) -> "GraphFrame":
        """:meth:`from_edges` under the caller's AQE setting, which plans
        ``edges`` and its upstream joins; the transpose is always planned with
        AQE off, so its first consumer fills its cache in one job."""
        spark = edges.sparkSession
        p = shuffle_partitions(spark)
        e = edges.select(
            F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
        )
        if dedup:
            e = e.distinct()
        e = e.repartition(p, "src").persist(StorageLevel.MEMORY_AND_DISK)
        with aqe_disabled(spark):
            et = (
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .repartition(p, "src")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        row = e.agg(F.count("*").alias("m"), F.max(F.greatest("src", "dst")).alias("mx")).collect()[0]
        if num_nodes is None:
            num_nodes = int(row["mx"]) + 1 if row["mx"] is not None else 0
        return GraphFrame(edges=e, edges_t=et, num_nodes=int(num_nodes), num_edges=int(row["m"]))

    @staticmethod
    def dense_ids(verts: DataFrame, key: str = "orig") -> DenseIds:
        """(id, orig): deterministic dense rank 0..n-1 of distinct keys in sorted
        order — WITHOUT a global single-partition window.

        Scalable zipWithIndex: range-partition + sort by key and persist, count
        rows and key bytes per partition (one tiny collect, which also gives n),
        then global rank = partition offset + row index within the partition.
        The row index is the low 33 bits of ``monotonically_increasing_id()``
        over the persisted sorted partitions, so no exchange or sort runs after
        the persist. The ids are only right over the persisted table, since a
        recomputed range partitioning samples other bounds. Two shuffles of
        the deduplicated vertex set (the distinct and the range partitioning);
        every stage is distributed (the classic fix for the ``Window.orderBy``
        driver bottleneck at 10^9 vertices). Ranks depend only on the total
        key order, not on where range boundaries land, so ids are bit-stable
        across parallelism levels.
        """
        p = shuffle_partitions(verts.sparkSession)
        vs = (
            verts.select(F.col(key).alias("orig"))
            .distinct()
            .repartitionByRange(p, "orig")
            .sortWithinPartitions("orig")
            .withColumn("_pid", F.spark_partition_id())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sizes = vs.groupBy("_pid").agg(
            F.count("*").alias("c"), F.sum(F.octet_length("orig")).alias("b")
        ).collect()
        offsets, n, key_bytes = {}, 0, 0
        for r in sorted(sizes, key=lambda r: r["_pid"]):
            offsets[r["_pid"]] = n
            n += r["c"]
            key_bytes += r["b"] or 0
        off_col = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )[F.col("_pid")] if offsets else F.lit(0)
        # monotonically_increasing_id() = partition index << 33 | row index in
        # the partition; it is nondeterministic to Catalyst, so no filter is
        # ever pushed below it into the scan of the sorted partitions
        row = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        nodes = vs.select((off_col + row).cast("long").alias("id"), "orig")
        return DenseIds(nodes, n, key_bytes, vs)

    @staticmethod
    def from_any_edges(edges: DataFrame, dedup: bool = True) -> "GraphFrame":
        """Build from arbitrarily-typed/keyed edges by densifying vertex ids.

        Analog of ``webgraph from arcs`` hashing string labels to dense ids
        (reference ``data/labeled/Makefile:3-8``): distinct vertex keys are
        ranked in sorted order (deterministic, distributed — see
        :meth:`dense_ids`); the mapping is kept as ``nodes(id, orig)`` — the
        analog of the reference's ``*.nodes`` side files.
        """
        spark = edges.sparkSession
        with aqe_disabled(spark):
            # materialize the (possibly expensive) edge derivation ONCE: the
            # string-keyed projection is consumed three times below (both
            # vertex scans + the id-mapping join) and without the cut each
            # consumer re-runs the full upstream plan (e.g. the transcript
            # sessionize → window → distinct chain behind the session graph).
            # A cut, not a cache: every later query on the graph then plans
            # a leaf instead of that chain (~17 vs ~90 ms per query on the
            # transcript graph). The coalesce makes the cut report no
            # partitioning: Spark's LogicalRDD.newInstance leaves a cut's
            # partitioning on the old attribute ids, so the copy on the other
            # side of a self-join of ``edges`` would stop matching its cache
            # and re-run the build. Coalescing to the shuffle width is a no-op
            # on a derivation that ends in an exchange and narrows a wider
            # input without a shuffle. The input's own count would cost a
            # ``.rdd`` conversion that plans and wraps the whole derivation
            # (~120 ms per transcript build), and the executed plan's
            # partitioning reports 0 for a union or a file scan.
            se = local_cut(
                edges.select(
                    F.col("src").cast("string").alias("s_orig"),
                    F.col("dst").cast("string").alias("d_orig"),
                ).coalesce(shuffle_partitions(spark)),
                eager=False,
            )
            verts = se.select(F.col("s_orig").alias("orig")).union(
                se.select(F.col("d_orig").alias("orig"))
            )
            ids = GraphFrame.dense_ids(verts)
        # a broadcast node table holds ~32 bytes of row and hash entry per key
        # besides the key itself; past the threshold both mapping joins are
        # shuffle joins that AQE splits when a hub key skews them
        threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        small = 0 <= 32 * ids.n + ids.key_bytes <= threshold
        nodes = F.broadcast(ids.nodes) if small else ids.nodes
        with aqe_disabled(spark) if small else nullcontext():
            e = (
                se
                .join(nodes.withColumnRenamed("orig", "s_orig"), "s_orig")
                .withColumnRenamed("id", "src")
                .join(nodes.withColumnRenamed("orig", "d_orig"), "d_orig")
                .withColumnRenamed("id", "dst")
                .select("src", "dst")
            )
            # pass dedup through: derivations that already emit distinct edges
            # (e.g. transcript/event edge builders) skip a full edge shuffle here
            g = GraphFrame._from_edges(e, ids.n, dedup)
        g.nodes = ids.nodes
        g._build_cut, g._build_keys = se, ids.cache
        return g

    # ------------------------------------------------------------- derived views
    def symmetric_edges(self) -> DataFrame:
        """Undirected view: edges ∪ transpose, distinct (for CC / LP / triangles).

        Re-partitioned on ``src`` so superstep joins (labels ⋈ sym on src)
        reuse the edge side's partitioning — only the small label vector
        shuffles per superstep, never the edge table."""
        p = shuffle_partitions(self.spark)
        return self.edges.union(self.edges_t).distinct().repartition(p, "src")

    def out_degrees(self) -> DataFrame:
        """(v, out_degree) for vertices with ≥1 outgoing edge."""
        return self.edges.groupBy(F.col("src").alias("v")).agg(
            F.count("*").alias("out_degree")
        )

    def vertices(self) -> DataFrame:
        """All vertex ids 0..n-1 as a DataFrame (reference full-vertex scan S3)."""
        return self.spark.range(self.num_nodes).select(F.col("id").alias("v"))

    # ------------------------------------------------------------- CSR broadcast
    def _collect_pairs(self, transposed: bool) -> np.ndarray:
        # Arrow collect, not toPandas: no pandas object materialization, the
        # int64 buffers convert zero-copy — roughly halves the driver-side
        # footprint of the (gated) broadcast-CSR build. Both orientations
        # collect ``edges``, so the lazy ``edges_t`` is never filled for it.
        tbl = self.edges.select("src", "dst").toArrow()
        cols = ("dst", "src") if transposed else ("src", "dst")
        return np.column_stack(
            [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.int64, copy=False) for c in cols]
        )

    def csr_broadcast(self, transposed: bool = False):
        """Broadcast-CSR adjacency (built once, cached). Fast path only — callers
        must gate on graph size (see operators.bfs.DEFAULT_CSR_MAX_EDGES).
        When the other orientation is already broadcast, this one is its
        transpose, computed on the driver with no Spark job; the driver then
        keeps the other orientation's arrays for as long as its broadcast."""
        attr = "_csr_bwd" if transposed else "_csr_fwd"
        bc = getattr(self, attr)
        if bc is None:
            other = self._csr_fwd if transposed else self._csr_bwd
            if other is not None:
                adj = other.value
                csr = transpose_csr(adj["offsets"], adj["targets"], adj["n"])
            else:
                csr = build_csr(self._collect_pairs(transposed), self.num_nodes)
            bc = self.spark.sparkContext.broadcast(
                {"offsets": csr.offsets, "targets": csr.targets, "n": csr.num_nodes}
            )
            setattr(self, attr, bc)
        return bc

    # ------------------------------------------------------------- bucketed disk
    def save_bucketed(self, name: str, path: str, buckets: int | None = None) -> None:
        """Persist the graph as bucketed+sorted Parquet tables — the engine's
        analog of the reference's preprocessed on-disk BVGraph pair.

        Both orientations are written ``bucketBy(P, 'src') sortBy('src','dst')``
        (external tables under ``path``), so any later job's frontier ⋈ edges
        join reads the edge side pre-hashed: no edge-table Exchange, ever —
        the one-time setup shuffle of `from_edges` moves to preprocessing,
        exactly like ``webgraph from arcs`` + ``transform transpose``
        (reference ``data/*/Makefile``). ``{name}_meta`` carries
        num_nodes/num_edges; ``{name}_nodes`` the dense-id mapping.
        """
        spark = self.spark
        p = buckets or shuffle_partitions(spark)
        for suffix, df in (("edges", self.edges), ("edges_t", self.edges_t)):
            (
                df.write.mode("overwrite")
                .format("parquet")
                .option("path", os.path.join(path, suffix))
                .bucketBy(p, "src")
                .sortBy("src", "dst")
                .saveAsTable(f"{name}_{suffix}")
            )
        if self.nodes is not None:
            (
                self.nodes.write.mode("overwrite")
                .format("parquet")
                .option("path", os.path.join(path, "nodes"))
                .saveAsTable(f"{name}_nodes")
            )
        meta = spark.createDataFrame(
            [(int(self.num_nodes), int(self.num_edges))], "num_nodes long, num_edges long"
        )
        (
            meta.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(path, "meta"))
            .saveAsTable(f"{name}_meta")
        )

    @staticmethod
    def load_bucketed(spark: SparkSession, name: str) -> "GraphFrame":
        """Reopen a :meth:`save_bucketed` graph. The returned edge DataFrames
        carry the table's bucketing, so superstep joins on ``src`` scan the
        Parquet buckets directly with no Exchange on the edge side."""
        row = spark.table(f"{name}_meta").collect()[0]
        g = GraphFrame(
            edges=spark.table(f"{name}_edges"),
            edges_t=spark.table(f"{name}_edges_t"),
            num_nodes=int(row["num_nodes"]),
            num_edges=int(row["num_edges"]),
        )
        try:
            g.nodes = spark.table(f"{name}_nodes")
        except Exception:
            g.nodes = None
        return g

    # ------------------------------------------------------------- CSR shards
    def shard_bucket_size(self) -> int:
        """Vertex-range width of one CSR shard: ~4 shards per shuffle
        partition — small enough that one hot range does not serialize a
        stage, large enough that shard rows stay chunky."""
        return max(1, math.ceil(self.num_nodes / (4 * shuffle_partitions(self.spark))))

    def csr_shards(self, transposed: bool = False) -> DataFrame:
        """Distributed CSR: one row per vertex-range bucket, built executor-side.

        ``(bucket, vlo, offsets binary, targets binary)`` where
        ``offsets``/``targets`` are packed numpy buffers (int64 offsets;
        int32 targets when ids fit — same compression rule as the broadcast
        path). The full edge list NEVER visits the driver: the build is one
        shuffle (groupBy bucket) + a per-group pandas kernel, and the result
        is a persisted DataFrame whose rows live on executors. This is the
        CSR that scales past ``DEFAULT_CSR_MAX_EDGES`` — the 2.16e9-edge
        payment-graph regime and the 10^12-turn north star.
        """
        attr = "_shards_bwd" if transposed else "_shards_fwd"
        cached = getattr(self, attr, None)
        if cached is not None:
            return cached
        df = self.edges_t if transposed else self.edges
        bsz = self.shard_bucket_size()
        n = self.num_nodes
        tdt = "int32" if n < 2**31 else "int64"

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            bkt = int(pdf["bucket"].iloc[0])
            vlo = bkt * bsz
            nvb = min(bsz, n - vlo)
            src = pdf["src"].to_numpy(dtype=np.int64) - vlo
            dst = pdf["dst"].to_numpy(dtype=np.int64)
            order = np.lexsort((dst, src))
            src, dst = src[order], dst[order]
            counts = np.bincount(src, minlength=nvb)
            offsets = np.zeros(nvb + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            return pd.DataFrame(
                {
                    "bucket": [bkt],
                    "vlo": [vlo],
                    "offsets": [offsets.tobytes()],
                    "targets": [dst.astype(tdt).tobytes()],
                }
            )

        shards = (
            df.withColumn("bucket", F.floor(F.col("src") / bsz).cast("long"))
            .groupBy("bucket")
            .applyInPandas(build, "bucket long, vlo long, offsets binary, targets binary")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        shards.count()
        setattr(self, attr, shards)
        # the build-time bucket width travels WITH the cache: gathers must use
        # this exact value even if spark.sql.shuffle.partitions changes later
        setattr(self, attr + "_bsz", bsz)
        return shards

    def shard_width(self, transposed: bool = False) -> int:
        """Bucket width the cached shard table was built with (builds if absent)."""
        self.csr_shards(transposed=transposed)
        return getattr(self, "_shards_bwd_bsz" if transposed else "_shards_fwd_bsz")

    def unpersist(self) -> None:
        self.edges.unpersist()
        self.edges_t.unpersist()
        if self._build_cut is not None:
            free_cut(self._build_cut)
            self._build_keys.unpersist()
            self._build_cut = self._build_keys = None
        for attr in ("_csr_fwd", "_csr_bwd"):
            bc = getattr(self, attr)
            if bc is not None:
                bc.unpersist()
                setattr(self, attr, None)
        for attr in ("_shards_fwd", "_shards_bwd"):
            df = getattr(self, attr, None)
            if df is not None:
                df.unpersist()
                setattr(self, attr, None)
                setattr(self, attr + "_bsz", None)

"""Simple-path enumeration s→t (reference K8: Knuth SIMPATH/ZDD).

The reference (``src/lib.rs:222-782``, ``src/bin/simpath.rs``) enumerates all
simple paths between two vertices via a sequential frontier-DP over a ZDD.
The ZDD is an *encoding* choice; the query is "all simple paths s→t". The
Spark-first formulation is an iterative path-extension join:

    frontier_k(tail, path) ⋈ edges(src=tail) → filter ¬array_contains(path, dst)

Paths terminating at ``t`` are emitted each superstep; the frontier never
extends past ``t`` (a simple path cannot revisit it). Each superstep is one
shuffle of the partial-path frontier against the pre-partitioned edge table.

Scale honesty: simple-path enumeration is #P-hard — the frontier can grow
exponentially on dense graphs, exactly like the reference's ZDD node table
(its hash table is a compression of the same frontier). The DF formulation
distributes that frontier across executors and spills; ``max_len`` and
``max_frontier`` bound runaway queries. The reference's ZDD *sharing* (mate
states) is inherently sequential and is documented as the non-ported part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.graph import GraphFrame
from ..streaming.superstep import local_cut


def simple_paths_edges(
    spark: SparkSession,
    edges: DataFrame,
    source,
    target,
    max_len: int | None = None,
    max_frontier: int | None = None,
) -> DataFrame:
    """All simple paths source→target over an (src, dst) edge DataFrame of any
    key type. Returns (path: array<keytype>, hops: int), one row per path."""
    key_t = dict(edges.dtypes)["src"]
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    frontier = spark.createDataFrame([(source,)], f"tail {key_t}").select(
        "tail", F.array(F.col("tail")).alias("path")
    )
    results: DataFrame | None = None
    hops = 0
    limit = max_len if max_len is not None else 10**9
    while hops < limit:
        hops += 1
        ext = local_cut(  # lineage doubles per superstep otherwise
            # F.col, not frontier.tail — DataFrame.tail is a method in PySpark
            frontier.join(e, F.col("tail") == F.col("_s"))
            .where(~F.array_contains(F.col("path"), F.col("_d")))
            .select(
                F.col("_d").alias("tail"),
                F.concat(F.col("path"), F.array(F.col("_d"))).alias("path"),
            )
        )
        done = ext.where(F.col("tail") == target).select(
            "path", F.lit(hops).cast("int").alias("hops")
        )
        results = done if results is None else results.union(done)
        frontier = ext.where(F.col("tail") != target)
        cnt = frontier.count()
        if cnt == 0:
            break
        if max_frontier is not None and cnt > max_frontier:
            raise RuntimeError(
                f"simple-path frontier exceeded max_frontier={max_frontier} "
                f"({cnt} partial paths at depth {hops})"
            )
    assert results is not None
    return local_cut(results)


def simple_paths(
    graph: GraphFrame,
    source: int,
    target: int,
    max_len: int | None = None,
    max_frontier: int | None = None,
) -> DataFrame:
    """All simple paths source→target on a GraphFrame (dense ids).

    Reference CLI parity: ``simpath <graph> <s> <t>`` (``src/bin/simpath.rs``).
    """
    return simple_paths_edges(
        graph.spark, graph.edges, source, target, max_len, max_frontier
    )


def count_simple_paths_edges(
    spark: SparkSession,
    edges: DataFrame,
    source,
    target,
    max_len: int | None = None,
    max_states: int | None = None,
) -> int:
    """|{simple paths s→t}| WITHOUT enumerating them.

    The distributable half of the reference's ZDD counting
    (``src/lib.rs:250-339`` mate vectors, ``:618-692`` zdd_all_sols): two
    partial paths with the same tail and the same VISITED SET have identical
    futures, so they collapse into one DP state carrying a multiplicity
    count — every interleaving order of the same vertex set is shared, the
    factorial blow-up of enumeration drops to the (still worst-case
    exponential, but massively smaller) set lattice. The reference's
    edge-sequential mate-vector sharing is replaced by a level-synchronous
    groupBy — each superstep is one shuffle of the state relation
    (tail, vset, cnt), Spark's natural fixpoint shape, and states distribute
    across executors. On K₁₂ enumeration is ~10⁷ path rows; the DP is ~10⁴
    states (tested).
    """
    key_t = dict(edges.dtypes)["src"]
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    state = spark.createDataFrame([(source, [source], 1)], f"tail {key_t}, vset array<{key_t}>, cnt long")
    total = 0
    hops = 0
    limit = max_len if max_len is not None else 10**9
    while hops < limit:
        hops += 1
        ext = (
            state.join(e, F.col("tail") == F.col("_s"))
            .where(~F.array_contains(F.col("vset"), F.col("_d")))
            .select(
                F.col("_d").alias("tail"),
                # canonical (sorted) set key: orderings collapse here
                F.array_sort(F.concat(F.col("vset"), F.array(F.col("_d")))).alias("vset"),
                F.col("cnt"),
            )
        )
        # one shuffle per superstep: merge same-(tail, set) states, split off
        # the finished count — map-side partial sums do the heavy lifting
        merged = local_cut(  # lineage doubles per superstep otherwise
            ext.groupBy("tail", "vset").agg(F.sum("cnt").alias("cnt"))
        )
        row = merged.agg(
            F.sum(F.when(F.col("tail") == target, F.col("cnt"))).alias("done"),
            F.count(F.when(F.col("tail") != target, 1)).alias("live"),
        ).collect()[0]
        total += int(row["done"] or 0)
        live = int(row["live"] or 0)
        if live == 0:
            break
        if max_states is not None and live > max_states:
            raise RuntimeError(
                f"simple-path DP exceeded max_states={max_states} "
                f"({live} states at depth {hops})"
            )
        state = merged.where(F.col("tail") != target)
    return total


def count_simple_paths(graph: GraphFrame, source: int, target: int, **kw) -> int:
    """|{simple paths s→t}| — the reference's ``zdd_all_sols`` count
    (``src/lib.rs:618-692``), via the set-sharing DP (never materializes
    individual paths)."""
    return count_simple_paths_edges(graph.spark, graph.edges, source, target, **kw)

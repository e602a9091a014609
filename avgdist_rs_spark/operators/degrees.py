"""Degree-profile operators: sinks (reference K7), degree histogram, hub detection.

``sink`` binary (``src/bin/sink.rs:12-30``): count vertices with out-degree 0.
Spark: ``n − count(distinct src)`` — one aggregate over the edge table; no
full-vertex scan needed (the reference scans all n successor lists).

Hub detection feeds the skew-salting strategy (SURVEY.md §4.3): a degree-profile
pass finds vertices whose adjacency exceeds a threshold; their edges get salted
into S buckets at join time (see operators.salting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.graph import GraphFrame


def sink_count(graph: GraphFrame) -> int:
    """Number of vertices with out-degree 0 (reference sink.rs)."""
    with_out = graph.edges.select("src").distinct().count()
    return graph.num_nodes - with_out


def degree_histogram(graph: GraphFrame, direction: str = "out") -> DataFrame:
    """(degree, cnt): distribution of out/in degrees (isolated vertices → degree 0)."""
    key = "src" if direction == "out" else "dst"
    deg = graph.edges.groupBy(F.col(key).alias("v")).agg(F.count("*").alias("degree"))
    allv = graph.vertices().join(deg, "v", "left").fillna(0, subset=["degree"])
    return allv.groupBy("degree").agg(F.count("*").alias("cnt"))


def hubs(graph: GraphFrame, threshold: int | None = None, direction: str = "out") -> DataFrame:
    """(v, degree) of heavy vertices. Default threshold: 32 × mean degree —
    heavy-tailed graphs (the reference's payment graph) put most edge mass on
    few vertices; these are the keys that skew shuffle joins."""
    key = "src" if direction == "out" else "dst"
    if threshold is None:
        mean = max(graph.num_edges / max(graph.num_nodes, 1), 1.0)
        threshold = int(32 * mean)
    return (
        graph.edges.groupBy(F.col(key).alias("v"))
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") > threshold)
    )


def graph_summary(graph: GraphFrame, orientation: str = "auto") -> DataFrame:
    """One-row structural profile of the graph — the first query anyone runs:
    (num_nodes, num_edges, num_sinks, num_sources, max_out_degree,
    max_in_degree, triangles, transitivity, assortativity).

    - ``transitivity`` = 3·triangles / wedges (wedges = Σ d(d−1)/2 over the
      undirected-distinct degree) — the global clustering coefficient.
    - ``assortativity`` = Pearson correlation of endpoint degrees over the
      symmetric edge list (each undirected edge contributes both directions —
      the standard degree-assortativity estimator).

    All components are single aggregates over the edge/degree tables crossed
    together as 1-row broadcasts; the triangle count reuses the measured
    auto-orientation path.
    """
    from .triangles import canonical_edges, triangle_count

    spark = graph.spark
    n = graph.num_nodes
    und = canonical_edges(graph).persist()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
        .persist()
    )
    tri = triangle_count(graph, orientation, canonical=und)
    wedges = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2.0)).alias("w")
    )
    sym = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sd = sym.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a").join(
        deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b"
    )
    # explicit guarded Pearson: ANSI-mode corr() raises DIVIDE_BY_ZERO on a
    # zero-variance degree sequence (e.g. one isolated edge); DuckDB's corr
    # returns NULL there — match it
    assort = sd.agg(
        F.covar_samp("da", "db").alias("_cov"),
        F.stddev_samp("da").alias("_sa"),
        F.stddev_samp("db").alias("_sb"),
    ).select(
        F.when(
            (F.col("_sa") > 0) & (F.col("_sb") > 0),
            F.col("_cov") / (F.col("_sa") * F.col("_sb")),
        ).alias("r")
    )
    degs = graph.edges.agg(
        F.countDistinct("src").alias("nsrc"), F.countDistinct("dst").alias("ndst")
    )
    maxs = (
        graph.edges.groupBy("src").agg(F.count("*").alias("od"))
        .agg(F.max("od").alias("mo"))
    )
    maxd = (
        graph.edges.groupBy("dst").agg(F.count("*").alias("id_"))
        .agg(F.max("id_").alias("mi"))
    )
    out = (
        spark.range(1)
        .select(
            F.lit(n).cast("long").alias("num_nodes"),
            F.lit(graph.num_edges).cast("long").alias("num_edges"),
            F.lit(tri).cast("long").alias("triangles"),
        )
        .crossJoin(F.broadcast(degs))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(assort))
        .crossJoin(F.broadcast(maxs))
        .crossJoin(F.broadcast(maxd))
        .select(
            "num_nodes",
            "num_edges",
            (F.lit(n) - F.col("nsrc")).cast("long").alias("num_sinks"),
            (F.lit(n) - F.col("ndst")).cast("long").alias("num_sources"),
            F.col("mo").cast("long").alias("max_out_degree"),
            F.col("mi").cast("long").alias("max_in_degree"),
            "triangles",
            # triangle-free / edge-sparse graphs have w=0 — NULL, not a
            # divide-by-zero artifact (mirrored as CASE in the DuckDB oracle)
            F.when(
                F.col("w") > 0, F.round(F.lit(3.0) * F.lit(tri) / F.col("w"), 6)
            ).otherwise(F.lit(None).cast("double")).alias("transitivity"),
            F.round(F.col("r"), 6).alias("assortativity"),
        )
    )
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    deg.unpersist()
    return out


def link_prediction_scores(
    graph: GraphFrame,
    max_middle_degree: int | None = None,
    min_common: int = 1,
    eager: bool = True,
) -> DataFrame:
    """(a, b, common, adamic_adar) for non-adjacent undirected pairs sharing
    ≥ ``min_common`` neighbors — the classic link-prediction / related-items
    primitive (common-neighbor count + Adamic–Adar Σ 1/ln(deg(middle))).

    Shape: one wedge self-join of the undirected edge set keyed on the middle
    vertex, then an anti-join against existing edges. Wedge volume is
    Σ deg(middle)² — quadratic in hub degree, so at scale pass
    ``max_middle_degree`` to drop super-hub middles (the standard cap: a hub
    shared by everyone carries ~zero Adamic–Adar signal anyway, 1/ln(d)→0).
    The cap CHANGES results, so engine and oracle must agree on it — the
    driver query `eg_link_prediction` passes ``_LP_MAX_MID`` and its DuckDB
    oracle filters middles with the same constant.

    ``eager=True`` (default) materializes the scores (localCheckpoint) and
    releases the cached undirected edge table before returning — repeated
    calls in a long-lived session must not leak caches. ``eager=False``
    returns the lazy plan for composition; the persisted edge table then
    stays cached for the session lifetime (the lazy plan gives the caller no
    handle to it — accept that, or use the default).
    """
    from .triangles import canonical_edges

    und = canonical_edges(graph).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    if max_middle_degree is not None:
        deg_mid = deg.where(F.col("d") <= max_middle_degree)
    else:
        deg_mid = deg
    # incidence (middle, endpoint) both directions, middle-degree attached
    inc = (
        und.select(F.col("a").alias("mid"), F.col("b").alias("x"))
        .unionAll(und.select(F.col("b").alias("mid"), F.col("a").alias("x")))
        .join(deg_mid.select(F.col("v").alias("mid"), "d"), "mid")
    )
    w1 = inc.select("mid", F.col("x").alias("a"), F.col("d").alias("dm"))
    w2 = inc.select("mid", F.col("x").alias("b"))
    scores = (
        w1.join(w2, "mid")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("dm"))), 6).alias("adamic_adar"),
        )
        .where(F.col("common") >= min_common)
        .join(und, ["a", "b"], "anti")  # only NON-adjacent candidate pairs
    )
    if eager:
        scores = scores.localCheckpoint(eager=True)
        und.unpersist()
    return scores

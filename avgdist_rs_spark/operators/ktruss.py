"""k-truss decomposition: the maximal subgraph whose every edge closes at
least k−2 triangles inside the subgraph — the edge-level analog of the
k-core's vertex peel (Cohen 2008, public method; the reference engine has no
truss operator — this extends the graph family the same way k-core does,
`/root/reference` studied for graph semantics only).

Shape per peel round, all DataFrame-native:

1. triangles over the CURRENT canonical edge set (a<b<c orientation — the
   exact join `eg_triangle_count` uses: e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c), each
   triangle enumerated once),
2. per-edge support = explode each triangle into its 3 edges + one keyed
   groupBy (map-side combinable),
3. keep edges with support ≥ k−2; repeat until the edge count is stable.

Scale notes: the triangle join is the one heavy exchange and it is the SAME
join the bench's `triangle_count` audits (canonical orientation keeps it
skew-bounded: a hub's edge list splits across the a<b direction); the peel
loop re-uses the exchange partitioning round over round, each round ends in
a `localCheckpoint` so the lineage stays flat. Rounds are data-dependent but
small in practice (peeling removes whole shells at once); `max_rounds`
guards runaways loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.superstep import local_cut


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected canonical edges (a < b), self-loops dropped."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()


def edge_support(cedges: DataFrame) -> DataFrame:
    """(a, b, support) — number of triangles through each canonical edge."""
    e1 = cedges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = cedges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = cedges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])  # x < y < z, each tri once
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return sides.groupBy("a", "b").agg(F.count("*").alias("support"))


def k_truss(edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """(a, b, support) — edges of the k-truss with their final in-truss
    support. k >= 2; the 2-truss is every edge (support >= 0 is vacuous), so
    useful k starts at 3 (every edge in >= 1 triangle).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    cur = local_cut(canonical_edges(edges), eager=False)
    n = cur.count()  # materializes the checkpoint
    for _ in range(max_rounds):
        if n == 0:
            return cur.select("a", "b", F.lit(0).cast("long").alias("support"))
        sup = edge_support(cur)
        nxt = local_cut(
            cur.join(sup, ["a", "b"], "left")
            .select(
                "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
            )
            .where(F.col("support") >= k - 2),
            # non-eager: the count() below materializes — one job per peel
            # round instead of two (the superstep-fusion discipline)
            eager=False,
        )
        m = nxt.count()
        if m == n:
            return nxt
        cur, n = nxt.select("a", "b"), m
    raise RuntimeError(f"k_truss did not converge within {max_rounds} rounds")

"""Deterministic random-walk corpus generation (DeepWalk-style) + skip-gram
pair extraction — the graph→training-data bridge of the pipeline family.

A 100 TB link graph becomes embedding training data in two steps: (1) a
corpus of fixed-length random walks over the graph, (2) (center, context)
skip-gram pairs windowed over each walk. Both are expressed here as pure
DataFrame plans with NO driver-side loop state and NO RNG: every draw is the
engine-portable md5 hash stream (``functions.hashing.portable_hash64``) of
``(seed, walk_id, step, current-vertex)``, so any ANSI-SQL engine replays the
exact same walks — the DuckDB correctness oracle verifies them value-exactly,
and re-running at any parallelism is bit-identical (no partition-order or
RNG-state dependence, unlike ``rand()``-based samplers).

Reference seed: the reference engine samples *vertices* for distance
estimation (`/root/reference/src/main.rs:162-168`, studied for behavior
only); walks are the natural pipeline extension of the same
hash-driven-sampling idea to *trajectories*, feeding the skip-gram stage a
tokenizer consumes (DeepWalk, Perozzi et al. 2014, KDD — public method).

Scale shape:
- ``ranked_adjacency`` is ONE hash-shuffle groupBy producing one row per
  vertex ``(v, nbrs sorted-array, deg)``. The whole walk is then
  ``walk_length`` equi-joins of the walk table against it — all in ONE
  lazily-composed plan: identical adjacency subplans across steps collapse
  to a single build via Catalyst's ReusedExchange (and the adjacency is
  cached when ``walk_length > 1`` so the groupBy itself runs once).
- The draw needs only walk-side columns (walk_id, step, cur); the modulus
  ``deg`` and the pick ``element_at(nbrs, pick+1)`` are evaluated AFTER the
  join — so each step is exactly one equi-join on ``cur = v``, no second
  degree-lookup join.
- Hub skew: a mega-hub's adjacency is ONE wide row; the join itself stays
  balanced because walks hash-partition by ``cur``. At true web scale a
  >10⁷-neighbor row should be chunked ``(v, chunk_id, nbrs_chunk)`` with the
  pick routed by ``pick div chunk``; not needed at any tested scale and
  documented rather than speculatively built.
- Walks at sinks (directed mode): the step LEFT-joins, a missing adjacency
  row stalls the walk (path stops growing) — undirected mode (default) has
  no sinks by construction, so every walk reaches full length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..streaming.superstep import local_cut


def ranked_adjacency(edges: DataFrame, undirected: bool = True) -> DataFrame:
    """One row per vertex: (v, nbrs: sorted distinct neighbor array, deg).

    Sorted-distinct makes ``nbrs[k]`` a deterministic function of the edge
    SET — independent of input row order, duplicates, or partitioning — which
    is what lets a SQL oracle (``list(dst ORDER BY dst)``) replay the walks.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if undirected:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        e.distinct()
        .groupBy(F.col("src").alias("v"))
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .withColumn("deg", F.size("nbrs").cast("long"))
    )


def random_walks(
    edges: DataFrame,
    walk_length: int,
    seed: str = "walk",
    walks_per_start: int = 1,
    starts: DataFrame | None = None,
    undirected: bool = True,
) -> DataFrame:
    """(walk_id, start, path: array, steps) — one deterministic walk per
    (start, replica), ``walk_length`` hash-driven steps.

    Step t draws ``pick = pmod(h(seed:walk_id:t:cur), deg(cur))`` and moves to
    ``nbrs(cur)[pick]``. ``walk_id`` is the start vertex itself when
    ``walks_per_start == 1``, else ``start#replica``.

    ``starts`` (optional single-column DataFrame named ``v``) restricts the
    start set; default = every vertex with at least one edge. ``steps`` <
    ``walk_length`` only in directed mode when the walk stalls at a sink.
    """
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    adj = ranked_adjacency(edges, undirected=undirected)
    if walk_length > 1:
        adj = adj.cache()

    base = adj.select("v") if starts is None else starts.select("v")
    if walks_per_start == 1:
        w = base.select(
            F.col("v").cast("string").alias("walk_id"),
            F.col("v").alias("start"),
            F.col("v").alias("cur"),
            F.array("v").alias("path"),
        )
    else:
        reps = F.explode(
            F.sequence(F.lit(0), F.lit(int(walks_per_start) - 1))
        ).alias("rep")
        w = base.select("v", reps).select(
            F.concat_ws("#", F.col("v").cast("string"), F.col("rep")).alias("walk_id"),
            F.col("v").alias("start"),
            F.col("v").alias("cur"),
            F.array("v").alias("path"),
        )

    for t in range(1, walk_length + 1):
        a = adj.select(F.col("v").alias("_av"), "nbrs", "deg")
        j = w.join(a, w.cur == F.col("_av"), "left")
        pick = F.pmod(
            portable_hash64(
                F.concat_ws(
                    ":", F.lit(seed), F.col("walk_id"), F.lit(str(t)), F.col("cur")
                )
            ),
            F.col("deg"),
        )
        nxt = F.element_at(F.col("nbrs"), (pick + F.lit(1)).cast("int"))
        w = j.select(
            "walk_id",
            "start",
            F.coalesce(nxt, F.col("cur")).alias("cur"),
            F.when(nxt.isNotNull(), F.concat(F.col("path"), F.array(nxt)))
            .otherwise(F.col("path"))
            .alias("path"),
        )

    return w.select(
        "walk_id",
        "start",
        "path",
        (F.size("path") - F.lit(1)).cast("long").alias("steps"),
    )


def _merge_pick(nbrs, common, prev, u, w_return: int, w_common: int, w_out: int):
    """O(deg) inverse-CDF draw for the node2vec step weights.

    ``common`` = ``array_intersect(nbrs, pnbrs)`` — in nbrs order, because
    array_intersect preserves its first argument's order over sorted-distinct
    inputs. The fold walks ``nbrs`` ONCE with a pointer into ``common`` (a
    sorted-merge): each candidate's weight is w_return (== prev), w_common
    (next unmatched common element), else w_out — O(1) per candidate instead
    of the O(deg(prev)) per-candidate ``array_contains`` probe, so a hub step
    costs O(deg) not O(deg²). ``prev`` can never collide with the common
    pointer (no self-loops ⇒ prev ∉ pnbrs ⇒ prev ∉ common). Integer
    arithmetic end to end; the pick is bit-identical to the quadratic
    formulation (pinned by tests and the SQL oracle).
    """
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(-1).alias("idx"),
        F.lit(0).alias("pos"),
        F.lit(0).alias("ptr"),
    )

    def merge(acc, c):
        is_common = F.coalesce(
            F.try_element_at(common, (acc["ptr"] + 1).cast("int")) == c, F.lit(False)
        )
        wt = (
            F.when(c == prev, F.lit(w_return))
            .when(is_common, F.lit(w_common))
            .otherwise(F.lit(w_out))
            .cast("long")
        )
        cum2 = acc["cum"] + wt
        return F.struct(
            cum2.alias("cum"),
            F.when(acc["idx"] >= 0, acc["idx"])
            .when(cum2 > u, acc["pos"])
            .otherwise(F.lit(-1))
            .alias("idx"),
            (acc["pos"] + 1).alias("pos"),
            (acc["ptr"] + is_common.cast("int")).alias("ptr"),
        )

    idx = F.aggregate(nbrs, init, merge, lambda acc: acc["idx"])
    return F.element_at(nbrs, (idx + 1).cast("int"))


#: node2vec_walks cuts the walk table's lineage every this many steps
#: (why 2: the comment at the cut)
CUT_EVERY = 2


def node2vec_walks(
    edges: DataFrame,
    walk_length: int,
    seed: str = "n2v",
    w_return: int = 1,
    w_common: int = 4,
    w_out: int = 2,
    starts: DataFrame | None = None,
    max_deg: int | None = None,
) -> DataFrame:
    """(walk_id, start, path, steps) — second-order biased walks (node2vec,
    Grover & Leskovec 2016, KDD — public method) with the same deterministic
    md5 draw stream as :func:`random_walks`, so a SQL oracle replays them
    exactly.

    node2vec weights a step from ``prev`` standing at ``cur`` by the
    candidate's relation to ``prev``: return (candidate == prev) ∝ 1/p,
    common neighbor (candidate adjacent to prev) ∝ 1, outward ∝ 1/q. Here
    the three weights are INTEGER parameters (defaults 1/4/2 ≡ p=4, q=2:
    discourage backtracking, favor BFS-ish locality) so the prefix-sum draw
    is exact integer arithmetic in every engine — no float-threshold
    cross-engine hazard. Step 1 has no ``prev`` and is the uniform draw.

    Scale shape: the previous step's joined neighbor array is CARRIED as
    ``pnbrs`` (prev's adjacency) — each superstep is still exactly ONE
    equi-join on ``cur``, not two. The weight fold is O(deg(cur)) per row
    and the membership probe O(deg(prev)) per candidate — QUADRATIC at a
    hub, the known node2vec cost (every second-order sampler pays it: the
    step distribution genuinely depends on all of the hub's neighbors).
    ``max_deg`` is the standard treatment: a deterministic sorted-prefix
    degree cap (``nbrs[:max_deg]``, engine-portable because the adjacency
    is sorted-distinct), bounding per-step work to O(max_deg²) per walk.
    ``None`` = exact. Undirected graphs only (no sinks, every walk reaches
    full length).
    """
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    if min(w_return, w_common, w_out) < 1:
        raise ValueError("integer weights must be >= 1")
    adj = ranked_adjacency(edges, undirected=True)
    if max_deg is not None:
        if max_deg < 1:
            raise ValueError("max_deg must be >= 1")
        adj = adj.select(
            "v",
            F.slice("nbrs", 1, max_deg).alias("nbrs"),
            F.least("deg", F.lit(max_deg).cast("long")).alias("deg"),
        )
    adj = adj.cache()

    base = adj.select("v") if starts is None else starts.select("v")
    a1 = adj.select(F.col("v").alias("_av"), "nbrs", "deg")
    w = base.select(
        F.col("v").cast("string").alias("walk_id"),
        F.col("v").alias("start"),
        F.col("v").alias("cur"),
        F.array("v").alias("path"),
    )

    for t in range(1, walk_length + 1):
        j = w.join(a1, w.cur == F.col("_av"), "inner")
        h = portable_hash64(
            F.concat_ws(":", F.lit(seed), F.col("walk_id"), F.lit(str(t)), F.col("cur"))
        )
        if t == 1:
            nxt = F.element_at(
                F.col("nbrs"), (F.pmod(h, F.col("deg")) + F.lit(1)).cast("int")
            )
            w = j.select(
                "walk_id",
                "start",
                F.col("cur").alias("prev"),
                F.col("nbrs").alias("pnbrs"),
                nxt.alias("cur"),
                F.concat(F.col("path"), F.array(nxt)).alias("path"),
            )
        else:
            # Materialize the common-neighbor intersection, then the draw,
            # then the pick as NAMED COLUMNS across separate projections: a
            # higher-order function nested inside another's lambda mis-binds
            # the inner lambda variables at analysis (and the re-inlined
            # expression tree grows ~3x per step) — with plain column
            # references each projection carries exactly one lambda level.
            # The O(deg²) transform(array_contains) weight table is GONE:
            # array_intersect is one hash-set pass, the total is closed-form
            # arithmetic over (deg, |common|, prev∈nbrs), and the pick is the
            # O(deg) sorted-merge fold (_merge_pick) — a hub step now costs
            # O(deg), not O(deg²), with bit-identical picks.
            s1 = j.select(
                "walk_id", "start", "cur", "path", "nbrs", "deg",
                F.array_intersect(F.col("nbrs"), F.col("pnbrs")).alias("_common"),
                F.col("prev").alias("_prev"),
                h.alias("_h"),
            )
            total = (
                F.lit(w_out) * F.col("deg")
                + F.lit(w_common - w_out) * F.size("_common").cast("long")
                + F.lit(w_return - w_out)
                * F.array_contains(F.col("nbrs"), F.col("_prev")).cast("long")
            )
            s2 = s1.withColumn("_u", F.pmod(F.col("_h"), total))
            nxt = _merge_pick(
                F.col("nbrs"), F.col("_common"), F.col("_prev"), F.col("_u"),
                w_return, w_common, w_out,
            )
            w = s2.select(
                "walk_id",
                "start",
                F.col("cur").alias("prev"),
                F.col("nbrs").alias("pnbrs"),
                nxt.alias("cur"),
                F.concat(F.col("path"), F.array(nxt)).alias("path"),
            )
        # Unlike random_walks (tiny per-step expressions), the pick fold is a
        # large expression tree; projection collapse re-inlines it into every
        # downstream reference, so the composed plan grows ~exponentially per
        # step (measured: 5 uncheckpointed steps analyze ~8x slower than
        # barriered ones on a 10k-vertex graph; but barriering EVERY step
        # doubles wall vs every-2 at sf0.1 — 12.9 s vs 5.9 s warm — because
        # each barrier materializes the full walk state). The walk is
        # deterministic, so barriers never change results.
        if t % CUT_EVERY == 0 and t < walk_length:
            w = local_cut(w, eager=False)

    return w.select(
        "walk_id",
        "start",
        "path",
        (F.size("path") - F.lit(1)).cast("long").alias("steps"),
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, cnt) — positional skip-gram pairs over each walk's
    path, context positions j with 0 < |i - j| <= window (positional, so a
    vertex revisited inside its own window DOES pair with itself — standard
    skip-gram semantics over token streams).

    Pure explode/aggregate: spreads on the scan, one final groupBy — the
    map-side combine absorbs the within-walk repetition before the shuffle.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    e = walks.select("path", F.posexplode("path").alias("i", "center"))
    j = F.explode(
        F.sequence(
            F.greatest(F.col("i") - window, F.lit(0)),
            F.least(F.col("i") + window, F.size("path") - 1),
        )
    ).alias("j")
    ctx = e.select("path", "i", "center", j).where(F.col("j") != F.col("i"))
    return (
        ctx.select(
            "center",
            F.element_at(F.col("path"), (F.col("j") + 1).cast("int")).alias("context"),
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("cnt"))
    )

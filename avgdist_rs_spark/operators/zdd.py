"""SIMPATH ZDD: compressed simple-path solution sets (reference K8, full mode).

Reference studied for behavior only (no code reuse — it is sequential Rust):
``/root/reference/src/lib.rs:488-616`` (``to_zdd``: Knuth's SIMPATH frontier
scan building an unreduced leveled BDD), ``:694-782`` (``bdd_reduce``:
zero-suppression + per-level duplicate merge), ``:618-692``
(``zdd_all_sols``: solution enumeration from the reduced ZDD). The public
algorithm is Knuth's SIMPATH (TAOCP 4a §7.1.4 / Stanford GraphBase): scan
the arcs of an undirected graph in a fixed order, maintaining for each
partial solution a *mate* vector over the frontier window — ``mate[t] = t``
(untouched), ``0`` (saturated, i.e. interior of a partial path) or ``u``
(endpoint of a partial path whose other endpoint is ``u``); the virtual mate
pair (source, target) turns "close a cycle through the virtual edge" into
"complete a simple source→target path". States with equal mate windows have
identical futures and merge — that sharing IS the ZDD.

Spark-first formulation
-----------------------

The reference's hash-table scan is inherently arc-sequential, but each arc
level's work is data-parallel over the *states* — and the state set is the
exponential dimension (the graph metadata is linear). The split here:

- **Arc metadata** (BFS numbering, arc order, per-level windows) is computed
  on the driver from the collected subgraph edge list, exactly like the
  broadcast-CSR strategies in :mod:`.betweenness` — guarded by
  ``max_vertices``. SIMPATH is run on bounded-pathwidth subgraphs by nature
  (the reference takes an explicit ``subgraph: Option<HashSet>`` restriction,
  ``lib.rs:344``); at 10⁹-node scale the subgraph extraction is a distributed
  filter/join and only the extracted subgraph lands here.
- **States distribute.** The construction loop processes ``chunk_arcs`` arc
  levels per superstep: one ``mapInPandas`` pass runs the vectorized mate
  transition for its partition of states through the whole chunk (numpy
  batch ops, no per-row Python), emitting BDD node rows and chunk-boundary
  states; one ``dropDuplicates`` exchange re-merges states across partitions
  (content-addressed ids make cross-partition duplicates collide exactly).
  ``chunk_arcs`` trades per-superstep scheduling cost against duplicate
  state expansion between global merges.
- **The compressed artifact is small by construction** — that is the point
  of the ZDD — so reduction, counting and the enumeration *walk* operate on
  the collected/broadcast node table (the reference holds the same vectors
  in RAM, ``lib.rs:508-510``), guarded by ``max_zdd_nodes``; counting uses
  Python big ints (exact beyond int64). Enumeration output (the exponential
  object) never lands on one node: the reduced ZDD is broadcast, the root
  subtrees are split into prefixes, and each task walks its prefixes
  emitting complete paths.

Measured compression (local, ``tests/test_zdd.py``): K₅,₆₄-shaped
affiliation graph → 93,006,208 simple paths in a 151,870-node ZDD; the
classic 4×4 grid corner-to-corner fixture → 184 paths (matches the known
SIMPATH result), 6×6 → 1,262,816.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.superstep import adaptive_shuffle_width, local_cut

_ID_SPACE = (1 << 62) - 2  # content ids land in [2, 2^62): 0/1 stay terminals


def _hash_cfg(level: int, row_bytes: bytes) -> int:
    h = hashlib.blake2b(level.to_bytes(4, "little") + row_bytes, digest_size=8)
    return (int.from_bytes(h.digest(), "little") % _ID_SPACE) + 2


def _bfs_number(adj: dict, source, target) -> tuple[list, dict]:
    """BFS numbering from ``source`` (reference ``init_num_arcto_repr``,
    ``lib.rs:339-395``): ``vert[1..n] = orig``, ``num[orig] = 1..``; shrinks
    to the source's component; unreachable target is an error (the reference
    panics, ``lib.rs:380-386``)."""
    num = {source: 1}
    vert = [None, source]
    q = [source]
    qi = 0
    while qi < len(q):
        v = q[qi]
        qi += 1
        for u in sorted(adj[v]):
            if u not in num:
                num[u] = len(vert)
                vert.append(u)
                q.append(u)
    if target not in num:
        raise ValueError(f"no path from {source!r} to {target!r}: target unreachable")
    return vert, num


def _arc_order(adj: dict, vert: list, num: dict) -> list[tuple[int, int]]:
    """Arcs (j, k) with k > j, grouped by lower endpoint ascending
    (reference ``lib.rs:397-421``: each undirected edge once)."""
    arcs: list[tuple[int, int]] = []
    for j in range(1, len(vert)):
        v = vert[j]
        for k in sorted(num[u] for u in adj[v]):
            if k > j:
                arcs.append((j, k))
    return arcs


def _levels_meta(arcs: list[tuple[int, int]], n: int) -> list[tuple[int, int, int, int, int]]:
    """Per-arc (j, k, l, jj2, ll2): the level's input mate window is
    [j..l], its children's window is [jj2..ll2] (reference's jj/ll
    bookkeeping in the ``to_zdd`` main loop, ``lib.rs:531-541``)."""
    firstarc = [0] * (n + 2)
    for i, (j, _k) in enumerate(arcs):
        firstarc[j + 1] = i + 1
    for v in range(1, n + 2):  # vertices with no arcs inherit the running count
        firstarc[v] = max(firstarc[v], firstarc[v - 1])
    meta = []
    jj, ll = 1, 1
    for i, (_j, k) in enumerate(arcs):
        j, l = jj, ll
        while jj <= n and firstarc[jj + 1] == i + 1:
            jj += 1
        ll = max(k, l)
        meta.append((j, k, l, jj, ll))
    return meta


def _transition_batch(
    S: np.ndarray, ids: np.ndarray, meta_i: tuple, n: int, level: int
):
    """One arc level over a batch of states, vectorized across the batch.

    ``S``: (B, l-j+1) int32 mate windows; ``ids``: (B,) int64 content ids.
    Returns (node_rows: (B,4) int64 [level, id, lo, hi], S_next, ids_next).
    Semantics mirror the reference state loop (``lib.rs:543-590``) +
    ``printstate`` (``lib.rs:250-339``): left = skip arc (exiting vertices
    must be saturated/untouched), right = take arc (dead if an endpoint is
    saturated; mate[j]==k closes the virtual pair — accept iff nothing else
    dangles; otherwise relink the two path endpoints).
    """
    j, k, l, jj2, ll2 = meta_i
    B = S.shape[0]
    M = np.tile(np.arange(n + 1, dtype=np.int32), (B, 1))
    M[:, j : l + 1] = S
    # reload fixup: an in-window mate pointing past the window reconstructs
    # the reverse pointer (at most one such pair — the virtual target mate)
    for t in range(j, l + 1):
        mt = M[:, t]
        sel = mt > l
        if sel.any():
            M[sel.nonzero()[0], mt[sel]] = t

    ok_left = np.ones(B, bool)
    for t in range(j, jj2):
        mt = M[:, t]
        ok_left &= (mt == 0) | (mt == t)
    if ll2 < jj2:
        ok_left[:] = False

    jm = M[:, j].copy()
    km = M[:, k].copy()
    dead = (jm == 0) | (km == 0)
    closing = (~dead) & (jm == k)
    acc = closing.copy()
    for t in range(j + 1, ll2 + 1):
        if t == k:
            continue
        mt = M[:, t]
        acc &= (mt == 0) | (mt == t)
    rel = (~dead) & (~closing)

    M2 = M.copy()
    rows = rel.nonzero()[0]
    if rows.size:
        # relink order matters when j or k is untouched (mate==self):
        # zero first, then rejoin the merged path's outer endpoints
        M2[rows, j] = 0
        M2[rows, k] = 0
        M2[rows, jm[rows]] = km[rows]
        M2[rows, km[rows]] = jm[rows]
    ok_right = rel.copy()
    for t in range(j, jj2):
        mt = M2[:, t]
        ok_right &= (mt == 0) | (mt == t)
    if ll2 < jj2:
        ok_right[:] = False

    lo = np.zeros(B, dtype=np.int64)
    hi = np.zeros(B, dtype=np.int64)
    hi[acc] = 1

    child_cfgs = []
    child_slots = []
    if ok_left.any():
        child_cfgs.append(M[ok_left.nonzero()[0], jj2 : ll2 + 1])
        child_slots.append((lo, ok_left))
    if ok_right.any():
        child_cfgs.append(M2[ok_right.nonzero()[0], jj2 : ll2 + 1])
        child_slots.append((hi, ok_right))
    if child_cfgs:
        allc = np.vstack(child_cfgs)
        uniq, inv = np.unique(allc, axis=0, return_inverse=True)
        uids = np.array(
            [_hash_cfg(level + 1, u.tobytes()) for u in uniq], dtype=np.int64
        )
        off = 0
        for (tgt, mask), cfg in zip(child_slots, child_cfgs):
            cnt = cfg.shape[0]
            tgt[mask.nonzero()[0]] = uids[inv[off : off + cnt]]
            off += cnt
        S_next, ids_next = uniq, uids
    else:
        S_next = np.zeros((0, max(ll2 - jj2 + 1, 0)), dtype=np.int32)
        ids_next = np.zeros(0, dtype=np.int64)

    node_rows = np.column_stack(
        [np.full(B, level, dtype=np.int64), ids, lo, hi]
    )
    return node_rows, S_next, ids_next


@dataclass
class ZddSolutions:
    """The compressed solution set: a reduced ZDD over arc variables.

    ``nodes`` is (level, id, lo, hi) — ``level`` indexes ``arcs``; a hi-edge
    at level i means "arc i is on the path". ``root`` ∈ {0, 1} ∪ ids.
    ``vert[1..n]`` maps BFS numbers back to original vertex keys.
    """

    spark: SparkSession
    nodes: list[tuple[int, int, int, int]]
    root: int
    arcs: list[tuple[int, int]]
    vert: list
    raw_nodes: int
    supersteps: int
    _count: int | None = field(default=None, repr=False)

    @property
    def num_nodes(self) -> int:
        return len(self.nodes)

    def count(self) -> int:
        """|solutions| — exact big-int DP over the reduced DAG (the
        reference counts by enumerating, ``zdd_all_sols``; the DP is the
        scale-honest form: linear in ZDD size, independent of path count)."""
        if self._count is None:
            cnt: dict[int, int] = {0: 0, 1: 1}
            by_level = defaultdict(list)
            for lv, nid, lo, hi in self.nodes:
                by_level[lv].append((nid, lo, hi))
            for lv in sorted(by_level, reverse=True):
                for nid, lo, hi in by_level[lv]:
                    cnt[nid] = cnt.get(lo, 0) + cnt.get(hi, 0)
            self._count = cnt.get(self.root, 1 if self.root == 1 else 0)
        return self._count

    def paths(self, min_prefixes: int = 256) -> DataFrame:
        """Enumerate every solution as a vertex path (path array, hops) —
        distributed: the ZDD is broadcast, root subtrees are split into
        ≥``min_prefixes`` prefixes on the driver (BFS over the DAG, linear
        in prefix count), and each task walks its prefixes emitting paths.
        The exponential output never materializes on one node."""
        spark, vert, arcs = self.spark, self.vert, self.arcs
        key_is_str = isinstance(vert[1], str)
        key_t = "string" if key_is_str else "bigint"
        schema = f"path array<{key_t}>, hops int"
        if self.root == 0 or not self.nodes:
            return spark.createDataFrame([], schema)
        mem = {nid: (lv, lo, hi) for lv, nid, lo, hi in self.nodes}

        # driver-side prefix split: widen the frontier of (node, taken-arcs)
        # until there is enough parallelism; finished solutions fall out too
        prefixes: list[tuple[int, tuple[int, ...]]] = [(self.root, ())]
        done: list[tuple[int, ...]] = []
        while 0 < len(prefixes) < min_prefixes:
            nxt: list[tuple[int, tuple[int, ...]]] = []
            for p, taken in prefixes:
                lv, lo, hi = mem[p]
                for child, t2 in ((lo, taken), (hi, taken + (lv,))):
                    if child == 1:
                        done.append(t2)
                    elif child != 0:
                        nxt.append((child, t2))
            if not nxt:
                prefixes = []
                break
            prefixes = nxt

        bc = spark.sparkContext.broadcast((mem, arcs, vert))

        def to_path(taken) -> list:
            nbr = defaultdict(list)
            for a in taken:
                j, k = arcs[a]
                nbr[j].append(k)
                nbr[k].append(j)
            path, prev, cur = [1], None, 1
            while True:
                nxt = [x for x in nbr[cur] if x != prev]
                if not nxt:
                    break
                prev, cur = cur, nxt[0]
                path.append(cur)
            return [vert[x] for x in path]

        rows = [(int(p), list(t)) for p, t in prefixes]
        pre = spark.createDataFrame(rows, "node bigint, taken array<int>")
        if rows:
            pre = pre.repartition(min(len(rows), 64))

        def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            memb, arcsb, vertb = bc.value

            def to_path_b(taken):
                nbr = defaultdict(list)
                for a in taken:
                    j, k = arcsb[a]
                    nbr[j].append(k)
                    nbr[k].append(j)
                path, prev, cur = [1], None, 1
                while True:
                    nxt = [x for x in nbr[cur] if x != prev]
                    if not nxt:
                        break
                    prev, cur = cur, nxt[0]
                    path.append(cur)
                return [vertb[x] for x in path]

            for pdf in batches:
                out_p, out_h = [], []
                for node, taken0 in zip(pdf["node"], pdf["taken"]):
                    stack = [(int(node), tuple(taken0))]
                    while stack:  # iterative: depth can exceed Python's limit
                        p, taken = stack.pop()
                        if p == 1:
                            vp = to_path_b(taken)
                            out_p.append(vp)
                            out_h.append(len(vp) - 1)
                            continue
                        if p == 0:
                            continue
                        lv, lo, hi = memb[p]
                        if lo != 0:
                            stack.append((lo, taken))
                        if hi != 0:
                            stack.append((hi, taken + (lv,)))
                yield pd.DataFrame({"path": out_p, "hops": out_h})

        out = pre.mapInPandas(walk, schema)
        if done:
            fin = spark.createDataFrame(
                [(to_path(t), len(to_path(t))) for t in done],
                f"path array<{key_t}>, nv int",
            ).select("path", (F.col("nv") - 1).cast("int").alias("hops"))
            out = out.unionByName(fin)
        return out


def _reduce(nodes: np.ndarray, root: int) -> tuple[list, int]:
    """Exact bottom-up reduce (reference ``bdd_reduce``, ``lib.rs:694-782``):
    zero-suppress hi==0 nodes (ZDD rule), merge duplicate (level, lo, hi)
    per level. Linear in raw node count; runs on the collected table — the
    reference holds the same lo/hi vectors in RAM."""
    by_level = defaultdict(list)
    for lv, nid, lo, hi in nodes:
        by_level[int(lv)].append((int(nid), int(lo), int(hi)))
    rename = {0: 0, 1: 1}
    out: list[tuple[int, int, int, int]] = []
    key2id: dict[tuple, int] = {}
    for lv in sorted(by_level, reverse=True):
        for nid, lo, hi in by_level[lv]:
            lo2 = rename.get(lo, 0)
            hi2 = rename.get(hi, 0)
            if hi2 == 0:
                rename[nid] = lo2
                continue
            key = (lv, lo2, hi2)
            got = key2id.get(key)
            if got is not None:
                rename[nid] = got
            else:
                key2id[key] = nid
                rename[nid] = nid
                out.append((lv, nid, lo2, hi2))
    return out, rename.get(root, 0)


def simpath_zdd_edges(
    spark: SparkSession,
    edges: DataFrame,
    source,
    target,
    chunk_arcs: int = 32,
    max_vertices: int = 200_000,
    max_states: int | None = 4_000_000,
    max_zdd_nodes: int = 20_000_000,
) -> ZddSolutions:
    """Build the ZDD of ALL simple source→target paths of the UNDIRECTED
    graph under ``edges`` (any (src, dst) DataFrame; direction is ignored,
    matching the reference's symmetric-graph contract).

    The edge list is subgraph metadata and is collected/broadcast (cap
    ``max_vertices``, cf. the broadcast-CSR cap in betweenness); the state
    table — the exponential dimension — lives in a DataFrame processed
    ``chunk_arcs`` levels per superstep (see module docstring).
    ``max_states`` bounds the live state relation per chunk boundary;
    ``max_zdd_nodes`` bounds the collected raw node table.
    """
    if source == target:
        raise ValueError("source == target: the empty path is not a simple path here")
    pairs = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .collect()
    )
    adj: dict = defaultdict(set)
    for r in pairs:
        adj[r["a"]].add(r["b"])
        adj[r["b"]].add(r["a"])
    if len(adj) > max_vertices:
        raise RuntimeError(
            f"subgraph has {len(adj)} vertices > max_vertices={max_vertices}: "
            "extract a bounded subgraph first (the reference's subgraph "
            "restriction, lib.rs:344) — SIMPATH state counts are "
            "exponential in pathwidth regardless of engine"
        )
    if source not in adj:
        raise ValueError(f"source {source!r} has no edges")
    vert, num = _bfs_number(adj, source, target)
    n = len(vert) - 1
    arcs = _arc_order(adj, vert, num)
    meta = _levels_meta(arcs, n)
    m = len(arcs)
    tnum = num[target]

    root = _hash_cfg(0, np.array([tnum], dtype=np.int32).tobytes())
    states = spark.createDataFrame(
        [(root, [int(tnum)])], "id bigint, cfg array<int>"
    )
    node_schema = "kind int, level bigint, id bigint, lo bigint, hi bigint, cfg array<int>"
    nodes_acc: DataFrame | None = None
    live = 1
    supersteps = 0

    with adaptive_shuffle_width(spark) as width:
        for c0 in range(0, m, chunk_arcs):
            c1 = min(c0 + chunk_arcs, m)
            chunk = meta[c0:c1]
            start = c0

            def run_chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if not len(pdf):
                        continue
                    S = np.array([list(x) for x in pdf["cfg"]], dtype=np.int32)
                    ids = pdf["id"].to_numpy(dtype=np.int64)
                    outs = []
                    for off, m_i in enumerate(chunk):
                        if S.shape[0] == 0:
                            break
                        rows, S, ids = _transition_batch(S, ids, m_i, n, start + off)
                        outs.append(rows)
                    if outs:
                        allr = np.vstack(outs)
                        yield pd.DataFrame(
                            {
                                "kind": np.zeros(len(allr), dtype=np.int32),
                                "level": allr[:, 0],
                                "id": allr[:, 1],
                                "lo": allr[:, 2],
                                "hi": allr[:, 3],
                                "cfg": [None] * len(allr),
                            }
                        )
                    if S.shape[0]:
                        yield pd.DataFrame(
                            {
                                "kind": np.ones(len(S), dtype=np.int32),
                                "level": np.full(len(S), c1, dtype=np.int64),
                                "id": ids,
                                "lo": np.zeros(len(S), dtype=np.int64),
                                "hi": np.zeros(len(S), dtype=np.int64),
                                "cfg": [r.tolist() for r in S],
                            }
                        )

            out = local_cut(states.mapInPandas(run_chunk, node_schema))
            supersteps += 1
            new_nodes = out.where(F.col("kind") == 0).select("level", "id", "lo", "hi")
            nodes_acc = (
                new_nodes
                if nodes_acc is None
                else local_cut(nodes_acc.union(new_nodes))
            )
            states = out.where(F.col("kind") == 1).select("id", "cfg").dropDuplicates(
                ["id"]
            )
            live = states.count()
            if live == 0:
                break
            if max_states is not None and live > max_states:
                raise RuntimeError(
                    f"SIMPATH state relation exceeded max_states={max_states} "
                    f"({live} states after arc {c1}/{m})"
                )
            width(live)

    assert nodes_acc is not None
    nodes_acc = nodes_acc.dropDuplicates(["id"])
    raw_cnt = nodes_acc.count()
    if raw_cnt > max_zdd_nodes:
        raise RuntimeError(
            f"raw BDD has {raw_cnt} nodes > max_zdd_nodes={max_zdd_nodes}"
        )
    raw = nodes_acc.toPandas()
    reduced, rroot = _reduce(
        raw[["level", "id", "lo", "hi"]].to_numpy(dtype=np.int64), root
    )
    return ZddSolutions(
        spark=spark,
        nodes=reduced,
        root=rroot,
        arcs=arcs,
        vert=vert,
        raw_nodes=int(raw_cnt),
        supersteps=supersteps,
    )


def simple_paths_zdd_edges(
    spark: SparkSession, edges: DataFrame, source, target, **kw
) -> DataFrame:
    """All UNDIRECTED simple paths source→target, enumerated from the ZDD —
    same output schema as :func:`.simpath.simple_paths_edges` (path, hops),
    each undirected path once, oriented source→target."""
    z = simpath_zdd_edges(spark, edges, source, target, **kw)
    return z.paths()

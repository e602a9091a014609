"""Local pure-Python oracle implementing the reference semantics (SURVEY.md §3).

Used to validate the Spark engine's estimators independently of Spark; itself
anchored to the reference's golden output files in the fixture tests.
"""

from __future__ import annotations

from collections import defaultdict, deque

import numpy as np


def adjacency(pairs, n):
    adj = defaultdict(list)
    for s, d in pairs:
        adj[int(s)].append(int(d))
    return adj, n


def bfs(adj, n, start):
    """(diameter, dist_sum, reached_count, seen_set) — reference src/lib.rs:13-48."""
    seen = {start}
    dia = 0
    dist_sum = 0
    count = 0
    frontier = deque([(start, 0)])
    while frontier:
        v, level = frontier.popleft()
        for s in adj.get(v, ()):
            if s not in seen:
                seen.add(s)
                dia = max(dia, level + 1)
                dist_sum += level + 1
                count += 1
                frontier.append((s, level + 1))
    return dia, dist_sum, count, seen


def distances(adj, start):
    """{v: dist} for every vertex ``start`` reaches at dist ≥ 1 — the rows
    of the reference's K2 capture (src/lib.rs:126-163)."""
    dist = {start: 0}
    frontier = deque([start])
    while frontier:
        v = frontier.popleft()
        for s in adj.get(v, ()):
            if s not in dist:
                dist[s] = dist[v] + 1
                frontier.append(s)
    del dist[start]
    return dist


def exact_avgdist(pairs, n):
    S = C = D = 0
    adj, _ = adjacency(pairs, n)
    for v in range(n):
        dia, s, c, _ = bfs(adj, n, v)
        D = max(D, dia)
        S += s
        C += c
    return S / C, D


def seed_stats(pairs, n, seeds):
    adj, _ = adjacency(pairs, n)
    return [bfs(adj, n, int(v))[:3] for v in seeds]


def pagerank(pairs, n, iterations=40, damping=0.85, seeds=None):
    """Pure-python PageRank with teleport-vector dangling redistribution — the
    engine's exact formulation (networkx.pagerank needs scipy, absent here).
    ``seeds`` -> personalized: teleport mass concentrated uniformly on them."""
    out = defaultdict(list)
    for s, d in pairs:
        out[int(s)].append(int(d))
    if seeds is None:
        tele = [1.0 / n] * n
    else:
        ss = sorted(set(int(x) for x in seeds))
        tele = [0.0] * n
        for v in ss:
            tele[v] = 1.0 / len(ss)
    rank = list(tele)
    for _ in range(iterations):
        dangling = sum(rank[v] for v in range(n) if not out.get(v))
        contrib = [0.0] * n
        for u, succs in out.items():
            share = rank[u] / len(succs)
            for v in succs:
                contrib[v] += share
        rank = [
            (1.0 - damping) * tele[v] + damping * dangling * tele[v]
            + damping * contrib[v]
            for v in range(n)
        ]
    return rank


def coverage_weighted_sample(pairs_t, n, k, rng: np.random.Generator):
    """Oracle K4 (src/main.rs:56-111) on the transposed edge list."""
    adj, _ = adjacency(pairs_t, n)
    probes = rng.integers(0, n, size=k, dtype=np.int64)
    cross = np.zeros(n, dtype=np.int64)
    for p in probes:
        _, _, _, seen = bfs(adj, n, int(p))
        for v in seen:
            cross[v] += 1
    cum = np.cumsum(cross)
    maxc = int(cum[-1])
    draws = rng.integers(0, maxc + 1, size=k, dtype=np.int64)
    out = np.searchsorted(cum, draws, side="left")
    out[out >= n] = n - 1
    return probes, draws, out.astype(np.int64)

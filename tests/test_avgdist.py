"""Exact-mode golden tests (reference golden outputs) + impl parity + sampler oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from avgdist_rs_spark.operators import avgdist as A
from avgdist_rs_spark.operators import bfs as B
from avgdist_rs_spark.operators.bfs import bfs, bfs_csr, bfs_frontier, per_seed_stats
from avgdist_rs_spark.sources import fixtures as FX

from . import oracle
from .test_fixpoint import _jobs


def test_star_exact_golden(spark):
    # data/star/result/star-uni-exact.out: average distance 1.333333, diameter 2
    g = FX.star_graph(spark, n=1000)
    r = A.exact_avgdist(g, impl="csr")
    assert r["avg_distance"] == pytest.approx(4000 / 3000, abs=1e-6)
    assert round(r["avg_distance"], 6) == 1.333333
    assert r["diameter"] == 2
    g.unpersist()


def test_cycle3_exact(spark):
    g = FX.cycle3_graph(spark)
    assert g.num_nodes == 3 and g.num_edges == 3
    r = A.exact_avgdist(g, impl="csr")
    assert r["avg_distance"] == pytest.approx(1.5, abs=1e-9)
    assert r["diameter"] == 2
    g.unpersist()


def test_path_exact_closed_form(spark):
    n = 9
    g = FX.path_graph(spark, n=n)
    r = A.exact_avgdist(g, impl="csr")
    S = sum((n - 1 - i) * (n - i) // 2 for i in range(n))
    C = sum(n - 1 - i for i in range(n))
    assert r["avg_distance"] == pytest.approx(S / C, abs=1e-12)
    assert r["diameter"] == n - 1
    g.unpersist()


def test_er1k_exact_golden(spark):
    # data/erdos-renyi/result/1k-0001p-uni-exact.out: 3.706478 / diameter 13
    g = FX.er1k_graph(spark)
    assert g.num_nodes == 1000 and g.num_edges == 950
    r = A.exact_avgdist(g, impl="csr")
    assert round(r["avg_distance"], 6) == 3.706478
    assert r["diameter"] == 13
    g.unpersist()


def test_frontier_vs_csr_parity(spark):
    """The distributed-frontier superstep loop and the broadcast-CSR kernel are
    the same operator: identical per-seed stats on the ER graph."""
    g = FX.er1k_graph(spark)
    seeds = np.array([0, 5, 17, 285, 999], dtype=np.int64)
    a = {
        r["seed"]: (r["dia"], r["dist_sum"], r["reached"])
        for r in bfs_csr(g, seeds).collect()
    }
    seeds_df = spark.createDataFrame(pd.DataFrame({"seed": seeds}), "seed long")
    vis = bfs_frontier(g, seeds_df)
    b = {
        r["seed"]: (r["dia"], r["dist_sum"], r["reached"])
        for r in per_seed_stats(vis).collect()
    }
    for s in seeds:
        assert a[int(s)] == b.get(int(s), (0, 0, 0)), f"seed {s}: {a[int(s)]} vs {b.get(int(s))}"
    g.unpersist()


def test_exact_frontier_small(spark):
    g = FX.star_graph(spark, n=10)
    r = A.exact_avgdist(g, impl="frontier")
    assert r["avg_distance"] == pytest.approx(40 / 30, abs=1e-9)
    assert r["diameter"] == 2
    g.unpersist()


def test_unipairs_modes_match_their_kernels(spark):
    """The ``unipairs`` binary: exact mode is ``exact_avgdist``; sampled mode
    is the mean of dist_sum/reached over the same-seed pair-rejection draw."""
    g = FX.path_graph(spark, n=8)
    exact = A.avgdist_unipairs(g, exact=True, impl="csr")
    ref = A.exact_avgdist(g, impl="csr")
    assert exact["avg_distance"] == ref["avg_distance"]
    assert exact["diameter"] == ref["diameter"]
    got = A.avgdist_unipairs(g, eps=0.5, seed=3, impl="csr")
    k = A.k_formula(8, 0.5)
    acc = A.sample_pair_rejection(g, k, np.random.default_rng(3), impl="csr")
    assert got["sample_size"] == k == len(acc)
    assert got["avg_distance"] == pytest.approx(
        float((acc["dist_sum"] / acc["reached"]).mean()), rel=1e-12
    )
    g.unpersist()


def test_unipairs_sampled_matches_oracle(spark):
    """Seeded pair-rejection estimator == local-Python oracle at equal samples."""
    g = FX.er1k_graph(spark)
    pairs = FX.er1k_pairs()
    k = 25
    rng = np.random.default_rng(7)
    acc = A.sample_pair_rejection(g, k, rng, impl="csr")
    # oracle: same rng consumption → same accepted pairs
    rng2 = np.random.default_rng(7)
    import math

    adj, _ = oracle.adjacency(pairs, 1000)
    accepted = []
    rnd = 0
    while len(accepted) < k:
        need = k - len(accepted)
        batch = min(max(int(math.ceil(need * 4.0)) << (2 * rnd), 16), 2_000_000)
        rnd += 1
        v = rng2.integers(0, 1000, size=batch, dtype=np.int64)
        w = rng2.integers(0, 1000, size=batch, dtype=np.int64)
        ok = v != w
        for vv, ww in zip(v[ok], w[ok]):
            dia, s, c, seen = oracle.bfs(adj, 1000, int(vv))
            if int(ww) in seen and int(ww) != int(vv):
                accepted.append((int(vv), dia, s, c))
    accepted = accepted[:k]
    got = list(zip(acc["v"], acc["dia"], acc["dist_sum"], acc["reached"]))
    want = [(v, d, s, c) for (v, d, s, c) in accepted]
    assert [tuple(map(int, t)) for t in got] == want
    g.unpersist()


def test_coverage_weighted_sampler_matches_oracle(spark):
    g = FX.er1k_graph(spark)
    pairs = FX.er1k_pairs()
    pairs_t = pairs[:, ::-1]
    k = 12
    got = A.sample_coverage_weighted(g, k, np.random.default_rng(3), impl="csr")
    _, _, want = oracle.coverage_weighted_sample(pairs_t, 1000, k, np.random.default_rng(3))
    assert got.tolist() == want.tolist()
    g.unpersist()


#: 0→1 into the directed cycle 1→2→3→1; self-loop on 4, which feeds 5;
#: chain 6→7→8; 9 isolated
K4_TINY = np.array([[0, 1], [1, 2], [2, 3], [3, 1], [4, 4], [4, 5], [6, 7], [7, 8]])


def test_coverage_weighted_sampler_edge_cases(spark):
    """K4 on a cycle, a self-loop, an isolated vertex and repeated probes
    (k > n): the CSR path equals the oracle, the frontier path equals the CSR
    path, and forced draws hit the CDF's ends and the self-loop's boundary."""
    g = FX._from_pairs(spark, K4_TINY, num_nodes=10)
    for s in (0, 1):
        got = A.sample_coverage_weighted(g, 25, np.random.default_rng(s), impl="csr")
        _, _, want = oracle.coverage_weighted_sample(
            K4_TINY[:, ::-1], 10, 25, np.random.default_rng(s)
        )
        assert got.tolist() == want.tolist()
    frontier = A.sample_coverage_weighted(g, 25, np.random.default_rng(1), impl="frontier")
    assert frontier.tolist() == got.tolist()

    # backward reach: 5 → {5, 4} twice, 8 → {8, 7, 6}, 9 → {9}, 4 → {4} once
    # despite its self-loop; cum over 0..9 = 0 0 0 0 3 5 6 7 8 9, maxc = 9
    probes = np.array([5, 5, 8, 9, 4], dtype=np.int64)
    seen = []

    def forced(maxc):
        seen.append(maxc)
        return np.array([0, 1, 3, 4, maxc], dtype=np.int64)

    for impl in ("csr", "frontier"):
        got = A.sample_coverage_weighted(
            g, 5, None, impl=impl, probes=probes, draws_fn=forced
        )
        # 0 → vertex 0 (uncovered), 1 → first covered, maxc → last covered
        assert got.tolist() == [0, 4, 4, 5, 9]
    assert seen == [9, 9]
    g.unpersist()


def test_weighted_estimator_spark_job_counts(spark):
    """K4 on the CSR path is one coverage BFS collected over Arrow (the
    capture-pair plan took 10 jobs); a weighted batch adds one forward BFS
    over its distinct seeds (no occurrence join, no Spark-side aggregate).
    Array seeds reach the kernel without an exchange, so each BFS is 1 job."""
    g = FX.er1k_graph(spark)
    g.csr_broadcast(transposed=False)
    g.csr_broadcast(transposed=True)
    j0 = _jobs(spark)
    A.sample_coverage_weighted(g, 12, np.random.default_rng(3), impl="csr")
    assert _jobs(spark) - j0 <= 1
    j0 = _jobs(spark)
    run = A.avgdist_main(g, slot=12, eps=0.1, seed=3, impl="csr", max_batches=1)
    assert _jobs(spark) - j0 <= 2
    assert len(run.iterations) == 1 and run.final["norm"] > 0
    g.unpersist()


def test_array_seed_bfs_csr_is_one_job(spark):
    """Driver-array seeds are coalesced, not round-robin repartitioned: one
    ``bfs_csr`` call is the kernel's stage alone, one task per core."""
    g = FX.er1k_graph(spark)
    g.csr_broadcast(transposed=False)
    seeds = np.arange(0, 1000, 37, dtype=np.int64)
    j0 = _jobs(spark)
    out = bfs_csr(g, seeds).toPandas()
    assert _jobs(spark) - j0 == 1
    assert sorted(out["seed"]) == seeds.tolist()
    df = B._seed_batches(g, seeds)
    assert df.rdd.getNumPartitions() == int(spark.conf.get("spark.sql.shuffle.partitions"))
    g.unpersist()


def test_main_estimator_exact_norm(spark):
    """main binary exact mode: norm == unipairs exact S/C (star golden 1.333)."""
    g = FX.star_graph(spark, n=100)  # |V|=201
    run = A.avgdist_main(g, slot=10, eps=0.1, truth=True, impl="csr")
    f = run.final
    # exact: one batch, norm = S/C
    assert f["norm"] == pytest.approx(4 / 3, abs=1e-6)
    assert f["diameter_max"] == 2
    g.unpersist()


def test_main_estimator_dummy_sampled(spark):
    g = FX.er1k_graph(spark)
    run = A.avgdist_main(g, slot=20, eps=0.3, dummy=True, seed=11, impl="csr")
    f = run.final
    # seeded oracle replay
    k = A.k_formula(1000, 0.3)
    rng = np.random.default_rng(11)
    pairs = FX.er1k_pairs()
    means = []
    remaining = k
    while remaining > 0:
        cur = min(20, remaining)
        seeds = rng.integers(0, 1000, size=cur, dtype=np.int64)
        st = oracle.seed_stats(pairs, 1000, seeds)
        S = sum(s for _, s, _ in st)
        C = sum(c for _, _, c in st)
        if C > 0:
            means.append(S / (C * 999))
        remaining -= cur
    want = sum(means) / len(means)
    assert f["mean"] == pytest.approx(want, abs=1e-12)
    g.unpersist()


def test_msbfs_equals_per_seed_kernel(spark):
    """bfs_csr's bit-parallel kernel and its direction-optimizing per-seed
    kernel (dirop=True) both give the pure-Python oracle's stats, capture
    and coverage, in one task of 455 seeds: every vertex of a graph with a
    cycle, self-loops and an isolated vertex, plus repeated seeds inside one
    64-seed chunk and across a chunk boundary."""
    n = 305
    pairs = np.concatenate([
        FX.barabasi_pairs(n=300, m=3, seed=11),
        [(300, 301), (301, 302), (302, 300), (302, 7), (303, 303), (7, 7)],
    ])  # 304 has no edge
    g = FX._from_pairs(spark, pairs, num_nodes=n)
    drawn = np.random.default_rng(5).integers(0, n, size=150)
    drawn[[5, 9]] = 300  # repeated inside the first chunk
    drawn[[63, 64]] = 303  # repeated across the first chunk boundary
    drawn[10] = 304
    seeds = np.concatenate([drawn, np.arange(n)])
    assert np.unique(seeds[:64]).size < 64

    adj, _ = oracle.adjacency(pairs.tolist(), n)
    dists = {int(s): oracle.distances(adj, int(s)) for s in np.unique(seeds)}
    want_stats = sorted(
        (int(s), max(d.values(), default=0), sum(d.values()), len(d))
        for s in seeds for d in [dists[int(s)]]
    )
    want_capture = sorted((int(s), v, dv) for s in seeds for v, dv in dists[int(s)].items())
    want_cov = np.bincount(
        np.concatenate([[int(s), *dists[int(s)]] for s in seeds]), minlength=n
    )
    uniq, mult = np.unique(seeds, return_counts=True)

    def coverage(df):
        pdf = df.toPandas()
        return np.bincount(pdf["v"], weights=pdf["c"], minlength=n).astype(np.int64)

    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # one task sees every seed
    try:
        for dirop in (False, True):
            stats = bfs_csr(g, seeds, dirop=dirop).toPandas()
            cols = ["seed", "dia", "dist_sum", "reached"]
            assert sorted(map(tuple, stats[cols].values.tolist())) == want_stats
            cap = bfs_csr(g, seeds, capture=True, dirop=dirop).toPandas()
            assert sorted(map(tuple, cap[["seed", "v", "dist"]].values.tolist())) == want_capture
            np.testing.assert_array_equal(
                coverage(bfs_csr(g, uniq, coverage=mult, dirop=dirop)), want_cov
            )
            np.testing.assert_array_equal(
                coverage(bfs_csr(g, seeds, coverage=np.ones(seeds.size, np.int64), dirop=dirop)),
                want_cov,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    g.unpersist()


def test_duplicate_seeds_count_with_multiplicity_on_both_impls(spark):
    """A seed drawn twice contributes twice (reference: one BFS per draw) —
    and the CSR and frontier strategies must agree on it."""
    g = FX.barabasi_graph(spark, n=120, m=2, seed=3)
    dup = np.array([5, 5, 9, 5, 9, 40], dtype=np.int64)
    stats, batches = {}, {}
    for impl in ("csr", "frontier"):
        stats[impl] = bfs(g, dup, impl=impl).toPandas().sort_values("seed").reset_index(drop=True)
        batches[impl] = A.avgdist_batches(g, dup, slot=4, impl=impl).orderBy("batch").toPandas()
    assert stats["csr"]["seed"].tolist() == [5, 9, 40]  # one BFS per distinct seed
    pd.testing.assert_frame_equal(stats["csr"], stats["frontier"])
    pd.testing.assert_frame_equal(batches["csr"], batches["frontier"])
    per = {int(r.seed): (int(r.dist_sum), int(r.reached)) for r in stats["csr"].itertuples()}
    got = batches["csr"]
    for b, draws in enumerate((dup[:4], dup[4:])):  # [5, 5, 9, 5], [9, 40]
        assert got["size"][b] == len(draws)
        assert got["dist_sum"][b] == sum(per[int(s)][0] for s in draws)
        assert got["reached"][b] == sum(per[int(s)][1] for s in draws)
    g.unpersist()


def test_harmonic_weighted_duplicates(spark):
    """harmonic with a duplicated seed == accumulating that seed's BFS twice:
    the capture carries the multiplicity as ``w`` on both strategies."""
    g = FX.cycle3_graph(spark)
    for impl in ("csr", "frontier"):
        rows = bfs(g, np.array([0, 0, 1], dtype=np.int64), capture=True, impl=impl).toPandas()
        # seed 0 appears once per reached vertex with w=2; seed 1 with w=1
        assert len(rows) == 4 and (rows["dist"] >= 1).all()
        assert set(rows[rows.seed == 0]["w"]) == {2}
        assert set(rows[rows.seed == 1]["w"]) == {1}
    g.unpersist()


def test_shards_impl_reaches_every_estimator(spark, monkeypatch):
    """impl="shards" runs the distributed-CSR gather in K3, K4 and sampled
    harmonic (not the edge-join loop), with the same output as impl="csr"."""
    from avgdist_rs_spark.operators.centrality import harmonic_centrality

    calls = []
    real = B._shard_gather

    def spy(*args, **kwargs):
        calls.append(args[1:])
        return real(*args, **kwargs)

    monkeypatch.setattr(B, "_shard_gather", spy)
    g = FX.cycle3_graph(spark)
    runs = {
        "k3": lambda impl: A.sample_pair_rejection(
            g, 4, np.random.default_rng(1), impl=impl).values.tolist(),
        "k4": lambda impl: A.sample_coverage_weighted(
            g, 5, np.random.default_rng(2), impl=impl).tolist(),
        # ≤ 2 terms per vertex on a 3-cycle: float sums are order-free
        "harmonic": lambda impl: sorted(map(tuple, harmonic_centrality(
            g, exact=False, eps=0.5, seed=3, impl=impl).toPandas().values.tolist())),
    }
    for name, run in runs.items():
        calls.clear()
        want = run("csr")
        assert not calls
        got = run("shards")
        assert calls, f"{name}: impl='shards' never ran the shard gather"
        assert got == want, name
    g.unpersist()


def test_early_stop_saves_bfs_and_matches_prefix(spark):
    """stop_eps ends the batch loop once running std < stop_eps·mean: the
    stopped run's iterations are a bit-identical PREFIX of the full run's
    (early stop changes how many batches exist, never their numbers), and
    strictly fewer seeds are BFS'd (the chunked fused path skips the rest)."""
    g = FX.er1k_graph(spark)
    full = A.avgdist_main(g, slot=10, eps=0.2, dummy=True, seed=7, impl="csr")
    stopped = A.avgdist_main(
        g, slot=10, eps=0.2, dummy=True, seed=7, impl="csr",
        stop_eps=0.2, min_batches=4, fuse_batches=4,
    )
    assert stopped.stopped_early
    nb = len(stopped.iterations)
    assert nb < len(full.iterations)
    assert stopped.iterations == full.iterations[:nb]
    assert stopped.seeds_bfsed < full.seeds_bfsed
    # convergence criterion actually held at the stop point (std error of mean)
    last = stopped.final
    assert last["std"] / np.sqrt(nb) < 0.2 * abs(last["mean"])
    # and the early estimate is a usable approximation of the full-k one
    assert last["norm"] == pytest.approx(full.final["norm"], rel=0.25)
    g.unpersist()


def test_early_stop_zero_eps_never_fires(spark):
    """stop_eps=0 can never satisfy the strict inequality: the run must be
    identical (iteration for iteration) to a no-early-stop run."""
    g = FX.star_graph(spark, n=60)
    run = A.avgdist_main(
        g, slot=10, eps=0.3, dummy=True, seed=3, impl="csr", stop_eps=0.0
    )
    assert not run.stopped_early  # ran the full Hoeffding k
    base = A.avgdist_main(g, slot=10, eps=0.3, dummy=True, seed=3, impl="csr")
    assert run.iterations == base.iterations
    g.unpersist()

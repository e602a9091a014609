"""Sampled-mode centrality estimators vs local-Python oracle at equal seeds.

Exact modes are pinned by goldens/oracles elsewhere; these verify the SAMPLED
paths (the production mode at 10^9+ vertices) reproduce the reference
accumulation exactly when the seed sequence is injected via the shared RNG.
"""

import numpy as np
import pytest

from avgdist_rs_spark.operators.avgdist import k_formula, sample_uniform
from avgdist_rs_spark.operators.centrality import harmonic_centrality
from avgdist_rs_spark.sources import fixtures as FX

from . import oracle


def test_sampled_harmonic_matches_python_oracle(spark):
    g = FX.er1k_graph(spark)
    eps, seed = 0.3, 5
    got = {r["v"]: (r["harmonic"], r["coverage"]) for r in
           harmonic_centrality(g, exact=False, eps=eps, seed=seed).collect()}

    # oracle: same RNG consumption → same seeds (duplicates count twice)
    k = k_formula(1000, eps)
    seeds = sample_uniform(1000, k, np.random.default_rng(seed))
    adj, _ = oracle.adjacency(FX.er1k_pairs(), 1000)
    import collections

    h = collections.defaultdict(float)
    cov = collections.defaultdict(int)
    for s in seeds:
        # forward BFS from the seed; accumulate per reached vertex
        for v, d in oracle.distances(adj, int(s)).items():
            h[v] += 1.0 / (1.0 + d)
            cov[v] += 1
    assert set(got) == set(h)
    for v in h:
        assert got[v][0] == pytest.approx(h[v] / k, abs=1e-12)
        assert got[v][1] == cov[v]
    g.unpersist()


def test_sampled_harmonic_is_layout_independent(spark):
    """Sampled harmonic is bit-identical at 2 and at 8 shuffle partitions:
    the seeds land in different tasks, the float fold does not move."""
    g = FX.er1k_graph(spark)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for p in ("2", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", p)
            runs.append(sorted(
                (r["v"], r["harmonic"].hex(), r["coverage"])
                for r in harmonic_centrality(g, exact=False, eps=0.1, seed=42, impl="csr").collect()
            ))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    assert len(runs[0]) > 100
    assert runs[0] == runs[1]
    g.unpersist()

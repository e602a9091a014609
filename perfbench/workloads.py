"""The benchmark's workloads: inputs, timed passes, output checks and traced replays.

Every workload builds its graph from ``synth_transcripts(n_convs, mean_turns=8,
n_tools=32, seed)`` followed by ``transcript_graph(..., tool_responses=True)``
(the conversation/turn input shape), so the workload seed drives the generator
and, through :func:`sub_seed`, the estimator's sampling.

A workload has these parts, each used by ``run.py``:

- ``setup()`` builds the graph and broadcasts both CSR orientations;
- ``warmup()`` runs ``WARM_PASSES`` untimed passes on the built graph, so the
  Python worker pool, the CSR broadcast deserialization and the JVM's JIT are
  paid before timing;
- ``run_pass(p)`` is one timed pass made of public library calls; each call is
  one operation whose output is checked after its timing ends;
- ``checks()`` are output checks made once per run, outside the timed passes;
- ``traced_pass(p, tracer)`` replays pass ``p`` by calling the layer functions
  directly, one span per call, and returns the per-layer metrics.

Layers are measured only from outside, through their public functions.
"""

from __future__ import annotations

import copy
import math
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from avgdist_rs_spark.operators.avgdist import (
    avgdist_main,
    k_formula,
    sample_coverage_weighted,
    sample_uniform,
)
from avgdist_rs_spark.operators.bfs import bfs_csr, bfs_frontier, per_seed_stats
from avgdist_rs_spark.operators.components import connected_components
from avgdist_rs_spark.operators.pagerank import pagerank
from avgdist_rs_spark.operators.scc import strongly_connected_components
from avgdist_rs_spark.plans.graph import GraphFrame
from avgdist_rs_spark.sources.transcripts import synth_transcripts, transcript_graph
from avgdist_rs_spark.streaming.superstep import SuperstepMetrics

#: setups per run; setup_s is their median
SETUPS = 3
#: untimed passes before the timed ones, until the JVM's JIT has settled
WARM_PASSES = 2

#: per-layer metrics of a traced run: (name, unit, span it is read from).
#: A layer that a workload does not load reports 0 there.
PER_LAYER = [
    ("plans.graph.build_s", "s", "plans.graph.build"),
    ("plans.graph.build_jobs", "count", "plans.graph.build"),
    ("plans.graph.build_shuffle_bytes", "bytes", "plans.graph.build"),
    ("plans.graph.csr_build_s", "s", "plans.graph.csr_broadcast"),
    ("plans.graph.csr_bytes", "bytes", "plans.graph.csr_broadcast"),
    ("operators.avgdist.k4_sample_s", "s", "operators.avgdist.sample_coverage_weighted"),
    ("operators.avgdist.k4_capture_rows", "count", "operators.avgdist.sample_coverage_weighted"),
    ("operators.avgdist.k4_shuffle_bytes", "bytes", "operators.avgdist.sample_coverage_weighted"),
    ("operators.avgdist.k4_jobs", "count", "operators.avgdist.sample_coverage_weighted"),
    ("operators.avgdist.seeds_bfsed", "count", "operators.avgdist.avgdist_main"),
    ("operators.bfs.csr_s", "s", "operators.bfs.bfs_csr"),
    ("operators.bfs.csr_levels", "count", "operators.bfs.bfs_csr"),
    ("operators.bfs.csr_tasks", "count", "operators.bfs.bfs_csr"),
    ("operators.bfs.csr_task_ms", "ms", "operators.bfs.bfs_csr"),
    ("operators.bfs.frontier_supersteps", "count", "operators.bfs.bfs_frontier"),
    ("operators.bfs.frontier_jobs", "count", "operators.bfs.bfs_frontier"),
    ("operators.bfs.frontier_visited_rows", "count", "operators.bfs.bfs_frontier"),
    ("operators.bfs.frontier_shuffle_bytes", "bytes", "operators.bfs.bfs_frontier"),
    ("operators.bfs.frontier_superstep_p50_s", "s", "operators.bfs.bfs_frontier"),
    *(
        (f"streaming.superstep.{loop}_{what}", unit, span)
        for loop, span in (
            ("pagerank", "operators.pagerank.pagerank"),
            ("cc_chain", "operators.components.connected_components"),
            ("scc_cycle", "operators.scc.strongly_connected_components"),
        )
        for what, unit in (("supersteps", "count"), ("jobs", "count"), ("superstep_p50_s", "s"))
    ),
    ("bench.pass_traced_s", "s", "bench.pass"),
    ("bench.trace_overhead_s", "s", "bench.pass"),
]


def sub_seed(seed: int, p: int) -> int:
    """Estimator seed of pass ``p``: every pass samples fresh seeds."""
    return abs(seed) * 1000 + p


class Ops:
    """Counts operations attempted and failed. An operation fails when its call
    raises or its output check does not hold."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.values: dict[str, list[float]] = {}

    def run(self, name: str, call, check):
        """Time ``call()``; then ``check(result)``, untimed, returns None or
        what is wrong. Returns (seconds, result), or None when it failed."""
        self.attempted += 1
        try:
            t0 = time.monotonic()
            out = call()
            t = time.monotonic() - t0
            err = check(out)
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        if err:
            self.failed += 1
            print(f"perfbench: {name} wrong output: {err}", file=sys.stderr)
            return None
        self.values.setdefault(name, []).append(t)
        return t, out

    def record(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(value)


def build_graph(spark, n_convs: int, seed: int) -> GraphFrame:
    return transcript_graph(
        synth_transcripts(spark, n_convs=n_convs, mean_turns=8, n_tools=32, seed=seed),
        tool_responses=True,
    )


def _estimate_error(run, batches: int, max_seeds: int) -> str | None:
    norm = run.final.get("norm", float("nan"))
    if len(run.iterations) != batches:
        return f"{len(run.iterations)} batches, expected {batches}"
    if not (math.isfinite(norm) and norm > 0):
        return f"norm {norm}"
    if not 0 < run.seeds_bfsed <= max_seeds:
        return f"seeds_bfsed {run.seeds_bfsed} outside (0, {max_seeds}]"
    return None


def _batch_norm(stats: pd.DataFrame, batches: list[np.ndarray], n: int) -> float:
    """avgdist_main's running mean in norm space, recomputed from per-seed
    stats; seeds count with multiplicity."""
    by_seed = stats.drop_duplicates("seed").set_index("seed")
    means = []
    for b in batches:
        rows = by_seed.loc[b]
        c = int(rows["reached"].sum())
        if c > 0:
            means.append(int(rows["dist_sum"].sum()) / (c * (n - 1)))
    return sum(means) / len(means) * (n - 1)


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


class Workload:
    name = ""
    n_convs = 0

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.graph: GraphFrame | None = None
        self.ops = Ops()
        self.setup_s: list[float] = []
        #: estimates of the untraced passes by estimator seed, for replay checks
        self.norms: dict[int, dict[str, float]] = {}

    def setup(self, tracer=None) -> None:
        """Build the graph and both CSR broadcasts ``SETUPS`` times; keep the
        last graph. With a tracer, each build and broadcast is a span."""
        for _ in range(SETUPS):
            if self.graph is not None:
                self.graph.unpersist()
            t0 = time.monotonic()
            with _span(tracer, "plans.graph.build"):
                self.graph = build_graph(self.spark, self.n_convs, self.seed)
            with _span(tracer, "plans.graph.csr_broadcast"):
                self.graph.csr_broadcast(transposed=False)
                self.graph.csr_broadcast(transposed=True)
            self.setup_s.append(time.monotonic() - t0)

    def graph_sizes(self) -> dict:
        return {"vertices": self.graph.num_nodes, "edges": self.graph.num_edges}

    def setup_layer_metrics(self, tracer) -> dict:
        """Per-layer metrics of the set-up spans, common to every workload."""
        builds = tracer.named("plans.graph.build")
        csrs = tracer.named("plans.graph.csr_broadcast")
        csr_bytes = 0
        for transposed in (False, True):
            adj = self.graph.csr_broadcast(transposed=transposed).value
            csr_bytes += adj["offsets"].nbytes + adj["targets"].nbytes
        return {
            "plans.graph.build_s": statistics.median(s.wall_s for s in builds),
            "plans.graph.build_jobs": tracer.total(builds[-1], "jobs"),
            "plans.graph.build_shuffle_bytes": tracer.total(builds[-1], "shuffle_write_bytes"),
            "plans.graph.csr_build_s": statistics.median(s.wall_s for s in csrs),
            "plans.graph.csr_bytes": csr_bytes,
        }

    def warmup(self) -> None:
        """Passes ``0 .. WARM_PASSES - 1``, untimed; the timed passes come
        after them. Their operations are checked but their timings dropped."""
        for p in range(WARM_PASSES):
            self.run_pass(p)
        self.ops.values.clear()

    def checks(self) -> None:
        pass

    def _check_replay(self, mode: str, s: int, norm: float) -> None:
        """A replay must reproduce the estimate avgdist_main gave for the same
        seed, when an untraced pass of that seed ran in this process."""
        if mode not in self.norms.get(s, {}):
            return
        want = self.norms[s][mode]
        self.ops.run(
            f"check_replay_{mode}",
            lambda: norm,
            lambda v: None if math.isclose(v, want, rel_tol=1e-12) else f"replay {v} != {want}",
        )


# ---------------------------------------------------------------- estimate-csr
class EstimateCSR(Workload):
    """The paper's estimator on the broadcast-CSR numpy BFS kernel, with
    uniform (K5) and coverage-weighted (K4) seeds; no DataFrame superstep loop
    runs in its timed pass."""

    name = "estimate-csr"
    UNIFORM = dict(slot=64, eps=0.05, dummy=True)
    WEIGHTED = dict(slot=64, eps=0.1, dummy=False, max_batches=1)
    #: the traced run's bypass check: one batch of the estimator on impl=frontier
    FRONTIER = dict(slot=32, eps=0.1, dummy=True, max_batches=1)

    def __init__(self, spark, seed, smoke):
        super().__init__(spark, seed)
        self.n_convs = 200 if smoke else 1000

    def run_pass(self, p: int) -> float:
        g, s = self.graph, sub_seed(self.seed, p)
        k_u = k_formula(g.num_nodes, self.UNIFORM["eps"])
        u = self.ops.run(
            "uniform_estimate_s",
            lambda: avgdist_main(g, seed=s, **self.UNIFORM),
            lambda r: _estimate_error(r, -(-k_u // self.UNIFORM["slot"]), k_u),
        )
        w = self.ops.run(
            "weighted_estimate_s",
            lambda: avgdist_main(g, seed=s, **self.WEIGHTED),
            lambda r: _estimate_error(
                r, self.WEIGHTED["max_batches"], self.WEIGHTED["max_batches"] * self.WEIGHTED["slot"]
            ),
        )
        if u is not None:
            self.ops.record("bfs_seeds_per_s", u[1].seeds_bfsed / u[0])
            self.norms.setdefault(s, {})["uniform"] = u[1].final["norm"]
        if w is not None:
            self.norms.setdefault(s, {})["weighted"] = w[1].final["norm"]
        return (u[0] if u else 0.0) + (w[0] if w else 0.0)

    def checks(self) -> None:
        """Per-seed (dia, dist_sum, reached) from bfs_csr, on both of its
        kernels, against networkx BFS from 16 fixed seeds."""
        import networkx as nx

        g = self.graph
        seeds = np.random.default_rng(abs(self.seed)).choice(g.num_nodes, 16, replace=False)
        edges = g.edges.toPandas()
        nxg = nx.DiGraph()
        nxg.add_nodes_from(range(g.num_nodes))
        nxg.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
        want = {}
        for s in seeds.tolist():
            d = [l for v, l in nx.single_source_shortest_path_length(nxg, s).items() if v != s]
            want[s] = (max(d, default=0), sum(d), len(d))

        def check(pdf):
            got = {int(r.seed): (int(r.dia), int(r.dist_sum), int(r.reached)) for r in pdf.itertuples()}
            bad = [s for s in want if got.get(s) != want[s]]
            return f"seeds {bad} differ from networkx" if bad else None

        for dirop in (False, True):
            self.ops.run(
                f"check_bfs_csr_networkx_dirop{int(dirop)}",
                lambda: bfs_csr(g, seeds, dirop=dirop).toPandas(),
                check,
            )

    def traced_pass(self, p: int, tracer) -> dict:
        g, s, n = self.graph, sub_seed(self.seed, p), self.graph.num_nodes
        csr_levels = seeds_bfsed = 0
        k4_probes: list[np.ndarray] = []
        with tracer.span("bench.pass"):
            # avgdist_main(dummy=True): presample every batch, BFS the distinct seeds once
            with tracer.span("operators.avgdist.avgdist_main", mode="uniform"):
                rng = np.random.default_rng(s)
                k, slot = k_formula(n, self.UNIFORM["eps"]), self.UNIFORM["slot"]
                batches = [sample_uniform(n, min(slot, k - lo), rng) for lo in range(0, k, slot)]
                uniq = np.unique(np.concatenate(batches))
                with tracer.span("operators.bfs.bfs_csr", seeds=int(uniq.size)):
                    stats = bfs_csr(g, uniq).toPandas()
                uniform_norm = _batch_norm(stats, batches, n)
                csr_levels += int(stats["dia"].sum())
                seeds_bfsed += int(uniq.size)
            # avgdist_main(dummy=False): per batch a K4 draw, then a forward BFS
            with tracer.span("operators.avgdist.avgdist_main", mode="weighted"):
                rng = np.random.default_rng(s)
                slot = self.WEIGHTED["slot"]
                batches, stats = [], []
                for _ in range(self.WEIGHTED["max_batches"]):
                    # the sampler's first draw from rng is its uniform probe set
                    k4_probes.append(np.unique(sample_uniform(n, slot, copy.deepcopy(rng))))
                    with tracer.span("operators.avgdist.sample_coverage_weighted"):
                        drawn = sample_coverage_weighted(g, slot, rng)
                    uniq = np.unique(drawn)
                    with tracer.span("operators.bfs.bfs_csr", seeds=int(uniq.size)):
                        stats.append(bfs_csr(g, uniq).toPandas())
                    batches.append(drawn)
                    csr_levels += int(stats[-1]["dia"].sum())
                    seeds_bfsed += int(uniq.size)
                weighted_norm = _batch_norm(pd.concat(stats), batches, n)
        self._check_replay("uniform", s, uniform_norm)
        self._check_replay("weighted", s, weighted_norm)
        # rows the K4 backward capture BFS emits: Σ backward reach of its distinct probes
        capture_rows = sum(
            int(bfs_csr(g, probes, transposed=True).agg(F.sum("reached")).collect()[0][0] or 0)
            for probes in k4_probes
        )
        k4 = tracer.named("operators.avgdist.sample_coverage_weighted")
        bfs = tracer.named("operators.bfs.bfs_csr")
        frontier = self._traced_frontier_check(s, tracer)
        return {
            **frontier,
            "operators.avgdist.k4_sample_s": sum(x.wall_s for x in k4),
            "operators.avgdist.k4_capture_rows": capture_rows,
            "operators.avgdist.k4_shuffle_bytes": sum(tracer.total(x, "shuffle_write_bytes") for x in k4),
            "operators.avgdist.k4_jobs": sum(tracer.total(x, "jobs") for x in k4),
            "operators.avgdist.seeds_bfsed": seeds_bfsed,
            "operators.bfs.csr_s": sum(x.wall_s for x in bfs),
            "operators.bfs.csr_levels": csr_levels,
            "operators.bfs.csr_tasks": sum(x.counters["tasks"] for x in bfs),
            "operators.bfs.csr_task_ms": sum(x.counters["executor_ms"] for x in bfs),
        }

    def _traced_frontier_check(self, s: int, tracer) -> dict:
        """The estimator on impl=frontier, replayed with spans, must equal
        avgdist_main on impl=csr at the same seeds. Runs after the traced
        pass: at ~6 Spark jobs per superstep the frontier loop is too slow
        for every timed pass."""
        g, n = self.graph, self.graph.num_nodes
        met = SuperstepMetrics(name="bfs")
        with tracer.span("bench.check_frontier"):
            with tracer.span("operators.avgdist.avgdist_main", mode="frontier"):
                rng = np.random.default_rng(s)
                k = min(self.FRONTIER["slot"], k_formula(n, self.FRONTIER["eps"]))
                batch = sample_uniform(n, k, rng)
                uniq = np.unique(batch)
                seeds = self.spark.createDataFrame(pd.DataFrame({"seed": uniq}), "seed long")
                with tracer.span("operators.bfs.bfs_frontier", seeds=int(uniq.size)) as sp:
                    visited = bfs_frontier(g, seeds, metrics=met)
                with tracer.span("operators.bfs.per_seed_stats"):
                    stats = per_seed_stats(visited).toPandas()
                norm = _batch_norm(stats, [batch], n)
        self.ops.run(
            "check_frontier_equals_csr",
            lambda: avgdist_main(g, seed=s, impl="csr", **self.FRONTIER).final["norm"],
            lambda v: None if math.isclose(v, norm, rel_tol=1e-12) else f"csr {v} != frontier {norm}",
        )
        depth = int(stats["dia"].max())
        self.ops.run(
            "check_frontier_supersteps",
            lambda: met.total_supersteps,
            lambda v: None if v == depth + 1 else f"{v} supersteps for depth {depth}",
        )
        return {
            "operators.bfs.frontier_supersteps": met.total_supersteps,
            "operators.bfs.frontier_jobs": tracer.total(sp, "jobs"),
            "operators.bfs.frontier_visited_rows": int(uniq.size) + sum(r["rows"] for r in met.records),
            "operators.bfs.frontier_shuffle_bytes": tracer.total(sp, "shuffle_write_bytes"),
            "operators.bfs.frontier_superstep_p50_s": statistics.median(r["wall_s"] for r in met.records),
        }


# -------------------------------------------------------------------- fixpoint
def _one_component(v) -> str | None:
    return None if v == 1 else f"{v} components"


class Fixpoint(Workload):
    """The DataFrame fixpoint loops outside BFS: pagerank in the timed pass,
    pagerank, CC of a chain and SCC of a cycle in the traced run; neither the
    CSR kernel nor the estimator runs. CC and SCC stay out of the timed pass:
    at 0.5-1 s per superstep, CC of an 8-chain takes 6 supersteps and SCC of
    an 8-cycle 12, which would leave too few passes in a run for a steady
    median."""

    name = "fixpoint"
    PAGERANK_ITERATIONS = 3

    def __init__(self, spark, seed, smoke):
        super().__init__(spark, seed)
        self.n_convs = 100 if smoke else 1000
        self.chain = 8 if smoke else 16
        self.cycle = 4 if smoke else 8
        # (metric, span, graph maker, loop, output check); the chain and the
        # cycle are built inside the operation, as a query would
        self.loops = (
            ("pagerank_s", "operators.pagerank.pagerank", None, self._pagerank,
             lambda v: None if abs(v - 1.0) <= 1e-9 else f"rank mass {v!r}"),
            ("cc_chain_s", "operators.components.connected_components", self._chain,
             self._cc, _one_component),
            ("scc_cycle_s", "operators.scc.strongly_connected_components", self._cycle,
             self._scc, _one_component),
        )
        self.timed_loops = self.loops[:1]

    def _chain(self) -> GraphFrame:
        e = self.spark.range(self.chain - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        return GraphFrame.from_edges(e, num_nodes=self.chain, dedup=False)

    def _cycle(self) -> GraphFrame:
        e = self.spark.range(self.cycle).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % self.cycle).alias("dst")
        )
        return GraphFrame.from_edges(e, num_nodes=self.cycle, dedup=False)

    @classmethod
    def _pagerank(cls, g, met) -> float:
        return pagerank(g, iterations=cls.PAGERANK_ITERATIONS, metrics=met).agg(F.sum("rank")).collect()[0][0]

    @staticmethod
    def _cc(g, met) -> int:
        return connected_components(g, metrics=met).select("component").distinct().count()

    @staticmethod
    def _scc(g, met) -> int:
        return strongly_connected_components(g, metrics=met).select("component").distinct().count()

    def _run_loop(self, make, loop, met, tracer=None, span=""):
        with _span(tracer if make else None, "plans.graph.from_edges"):
            g = make() if make else self.graph
        try:
            with _span(tracer, span):
                return loop(g, met)
        finally:
            if make:
                g.unpersist()

    def run_pass(self, p: int) -> float:
        total_t, steps = 0.0, 0
        for metric, _, make, loop, check in self.timed_loops:
            met = SuperstepMetrics()
            r = self.ops.run(metric, lambda: self._run_loop(make, loop, met), check)
            if r is not None:
                total_t += r[0]
                steps += met.total_supersteps
        if total_t > 0:
            self.ops.record("fixpoint_supersteps_per_min", 60.0 * steps / total_t)
        return total_t

    def traced_pass(self, p: int, tracer) -> dict:
        """The timed pass's loops under ``bench.pass``, then the loops that only
        the traced run makes under ``bench.traced_only``."""
        mets = {}
        n_timed = len(self.timed_loops)
        for parent, loops in (("bench.pass", self.loops[:n_timed]), ("bench.traced_only", self.loops[n_timed:])):
            with tracer.span(parent):
                for metric, span, make, loop, check in loops:
                    name = metric[: -len("_s")]
                    met = mets[name] = SuperstepMetrics(name=name)
                    with tracer.span(f"bench.{name}"):
                        value = self._run_loop(make, loop, met, tracer, span)
                    self.ops.run(f"check_{name}", lambda: value, check)
        out = {}
        for metric, span, *_ in self.loops:
            name = metric[: -len("_s")]
            out[f"streaming.superstep.{name}_supersteps"] = mets[name].total_supersteps
            out[f"streaming.superstep.{name}_jobs"] = tracer.total(tracer.named(span)[-1], "jobs")
            out[f"streaming.superstep.{name}_superstep_p50_s"] = statistics.median(
                r["wall_s"] for r in mets[name].records
            )
        return out


WORKLOADS = {w.name: w for w in (EstimateCSR, Fixpoint)}

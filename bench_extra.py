"""Focused per-query benchmark harness for optimization work (guide §1).

NOT the driver bench — ``bench.py`` stays the frozen measurement surface.
This file exists to isolate individual queries with repeats so before/after
comparisons survive the shared box's noise:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py --queries graph_build,msf --repeats 3

Prints ONE JSON line: {"queries": {name: [s1, s2, ...]}, "jobs": {name:
[j1, j2, ...]}, ..., "sf_dir": ..., ...}. Each query run is one superstep
record (``streaming.superstep.superstep``), so next to the wall seconds
every record counter (jobs, stages, tasks, shuffle bytes and records,
executor-ms, evicted stages) gets one key, per query and repeat. The
per-query functions reproduce bench.py's exact workloads (same inputs, same
forcing aggregates) so numbers are comparable to the headline entries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_registry(spark, sf_dir):
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from avgdist_rs_spark.operators.avgdist import avgdist_main
    from avgdist_rs_spark.operators.bfs import bfs_csr, bfs_frontier, per_seed_stats
    from avgdist_rs_spark.operators.components import connected_components
    from avgdist_rs_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        simhash,
        simhash_pairs,
    )
    from avgdist_rs_spark.operators.labelprop import label_propagation
    from avgdist_rs_spark.operators.pagerank import pagerank
    from avgdist_rs_spark.operators.scc import strongly_connected_components
    from avgdist_rs_spark.operators.sessions import session_stats
    from avgdist_rs_spark.operators.similarity import cosine_topk, ivf_ann
    from avgdist_rs_spark.operators.triangles import triangle_count
    from avgdist_rs_spark.plans.graph import GraphFrame

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = em._emb(spark, sf_dir)
    events = em._events(spark, sf_dir)
    for df in (docs, emb, events):
        df.count()
    spark.range(1_000_000).repartition(8).select(F.sum(F.col("id"))).collect()
    spark.createDataFrame([(1,)], "x long").mapInPandas(
        lambda it: it, schema="x long"
    ).count()

    g_holder = {}

    def graph():
        if "g" not in g_holder:
            g_holder["g"] = em._graph(spark, sf_dir)
        return g_holder["g"]

    def q_graph_build():
        for gf in list(em._CACHE.values()):
            gf.unpersist()
        em._CACHE.clear()
        g_holder.clear()
        return graph()

    def q_cc_chain():
        nch = 10_000
        chain_edges = spark.range(nch - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        cg = GraphFrame.from_edges(chain_edges, num_nodes=nch, dedup=False)
        ncomp = connected_components(cg).select("component").distinct().count()
        assert ncomp == 1
        cg.unpersist()

    def q_scc_cycle():
        nch = 10_000
        cyc_edges = spark.range(nch).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % nch).alias("dst")
        )
        cg = GraphFrame.from_edges(cyc_edges, num_nodes=nch, dedup=False)
        ncomp = (
            strongly_connected_components(cg).select("component").distinct().count()
        )
        assert ncomp == 1
        cg.unpersist()

    def q_betweenness_sharded():
        from avgdist_rs_spark.operators.betweenness import betweenness

        bt_seeds = np.random.default_rng(11).integers(0, graph().num_nodes, size=2048)
        betweenness(graph(), seeds=bt_seeds[:64], strategy="shards").agg(
            F.sum("bc")
        ).collect()

    def q_bfs_sharded():
        rng = np.random.default_rng(7)
        rng.integers(0, graph().num_nodes, size=2048)  # keep the stream aligned
        seeds_df = spark.createDataFrame(
            [(int(s),) for s in rng.integers(0, graph().num_nodes, size=64)],
            "seed long",
        )
        per_seed_stats(bfs_frontier(graph(), seeds_df, shards=True)).count()

    def q_walks():
        from avgdist_rs_spark.operators.walks import random_walks

        random_walks(graph().edges, walk_length=8).agg(F.sum("steps")).collect()

    def q_node2vec():
        from avgdist_rs_spark.operators.walks import node2vec_walks

        node2vec_walks(graph().edges, walk_length=8, max_deg=64).agg(
            F.sum("steps")
        ).collect()

    def q_sssp():
        from avgdist_rs_spark.operators.sssp import hash_weights, sssp

        seeds = graph().edges.select(F.col("src").alias("v")).distinct().where(
            F.col("v") % 97 == 0
        )
        sssp(hash_weights(graph().edges), seeds).agg(
            F.sum("dist"), F.count("*")
        ).collect()

    def q_khop():
        from avgdist_rs_spark.operators.neighbors import khop_sample

        seeds = graph().edges.select(F.col("src").alias("seed")).distinct().where(
            F.col("seed") % 97 == 0
        )
        khop_sample(graph().edges, seeds, fanouts=(4, 3)).count()

    def q_stream_sessions():
        return em._q_stream_sessions(spark, sf_dir).count()

    def q_hyperball():
        from avgdist_rs_spark.operators.hyperball import hyperball

        hyperball(graph(), p=8).count()

    def q_avgdist_weighted():
        avgdist_main(graph(), slot=64, eps=0.1, dummy=False, seed=42, max_batches=1)

    def q_avgdist_earlystop():
        avgdist_main(
            graph(), slot=64, eps=0.1, dummy=True, seed=42,
            stop_eps=0.05, min_batches=4, fuse_batches=4,
        )

    def q_training_set():
        from avgdist_rs_spark.operators.pipeline import training_set_select

        training_set_select(docs, lang="en", min_quality=0.6, threshold=0.8).count()

    def q_ktruss():
        from avgdist_rs_spark.operators.ktruss import k_truss

        k_truss(graph().edges, k=3).agg(F.sum("support")).collect()

    def q_bpe():
        from avgdist_rs_spark.operators.bpe import bpe_train

        bpe_train(docs, num_merges=8).count()

    def q_msf():
        from avgdist_rs_spark.operators.msf import minimum_spanning_forest

        minimum_spanning_forest(graph().edges).agg(
            F.count("*").alias("n"), F.expr("bit_xor(w)")
        ).collect()

    def q_simple_paths():
        from avgdist_rs_spark.operators.simpath import simple_paths_edges

        ev0_type = events.where(F.col("event_id") == 0).collect()[0]["event_type"]
        simple_paths_edges(
            spark, em.event_edges(events), "E:0", f"H:{ev0_type}", max_len=16
        ).count()

    reg = {
        "graph_build": q_graph_build,
        "pagerank_10it": lambda: pagerank(graph(), iterations=10).count(),
        "connected_components": lambda: connected_components(graph()).count(),
        "cc_chain_10k": q_cc_chain,
        "label_propagation_4it": lambda: label_propagation(graph(), iterations=4).count(),
        "kcore_2": lambda: __import__(
            "avgdist_rs_spark.operators.kcore", fromlist=["k_core"]
        ).k_core(graph(), k=2).count(),
        "scc": lambda: strongly_connected_components(graph()).count(),
        "scc_cycle_10k": q_scc_cycle,
        "betweenness_sharded_64": q_betweenness_sharded,
        "bfs_sharded_64_sources": q_bfs_sharded,
        "hyperball_nf": q_hyperball,
        "avgdist_estimator_weighted": q_avgdist_weighted,
        "avgdist_estimator_earlystop": q_avgdist_earlystop,
        "triangle_count": lambda: triangle_count(graph()),
        "ktruss_3": q_ktruss,
        "minhash_lsh_dedup": lambda: minhash_lsh_pairs(docs, threshold=0.8).count(),
        "jaccard_prefix": lambda: jaccard_pairs(
            docs, threshold=0.8, strategy="prefix"
        ).count(),
        "simhash_pairs_bucketed": lambda: simhash_pairs(
            docs, bits=32, max_hamming=6
        ).count(),
        "cosine_topk": lambda: cosine_topk(emb, k=10, num_queries=32).count(),
        "sessionize": lambda: session_stats(events).count(),
        "ivf_ann": lambda: ivf_ann(
            emb, k=10, num_queries=32, num_centroids=16, nprobe=4
        ).count(),
        "training_set_select": q_training_set,
        "simple_paths": q_simple_paths,
        "stream_sessions": q_stream_sessions,
        "random_walks": q_walks,
        "node2vec_walks": q_node2vec,
        "khop_sample": q_khop,
        "bpe_train_8": q_bpe,
        "sssp_multisource": q_sssp,
        "msf": q_msf,
    }
    return reg


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"avgdist-rs-spark-bench-extra-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep a whole query's jobs and stages in the status store (the
        # per-query counters read them after the query ends; the largest
        # query runs ~73 jobs) without keeping the whole bench's in memory
        .config("spark.ui.retainedJobs", "2000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    reg = build_registry(spark, sf_dir)
    names = [n for n in args.queries.split(",") if n]
    unknown = [n for n in names if n not in reg and n != "_warm_graph"]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if "graph_build" not in names:
        # queries that read the shared graph must not charge its one-time
        # build to whichever query happens to run first
        reg["graph_build"]()

    from avgdist_rs_spark.streaming.superstep import COUNTERS, SuperstepMetrics, superstep

    # one record per query run; the Spark counters are immune to box noise
    mets = {n: SuperstepMetrics(name=f"bench_extra:{n}") for n in names}
    for rep in range(args.repeats):
        for n in names:
            with superstep(mets[n], rep + 1):
                reg[n]()
    recs = {n: m.records for n, m in mets.items()}
    print(
        json.dumps(
            {
                "queries": {n: [round(r["wall_s"], 3) for r in rs] for n, rs in recs.items()},
                **{k: {n: [r[k] for r in rs] for n, rs in recs.items()} for k in COUNTERS},
                "sf_dir": sf_dir,
                "cpus": cpus,
                "loadavg": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()

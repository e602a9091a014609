"""Physical-plan audits: the plans we designed for are the plans Catalyst picks.

"After each operator works, explain() the plan and iterate until it's the plan
you'd want" — these tests pin the load-bearing physical properties so a
regression (lost pushdown, lost broadcast, a surprise Python UDF in a hot
path) fails CI instead of silently costing 10× at scale.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_filter_and_column_pruning_reach_parquet_scan(docs):
    q = docs.where(F.col("lang") == "en").select("doc_id")
    p = plan_of(q)
    assert "PushedFilters" in p and "lang" in p.split("PushedFilters")[1][:200]
    # column pruning: scan must read only the needed columns, not text/source
    read_schema = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_textstats_prune_to_id_and_text(docs):
    from avgdist_rs_spark.operators.textstats import token_count

    p = plan_of(token_count(docs))
    read_schema = p.split("ReadSchema")[1][:300]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema


def test_pipeline_ops_stay_jvm_side(docs):
    """No Python row UDFs in dedup/textstats hot paths (BatchEvalPython absent)."""
    from avgdist_rs_spark.operators.dedup import minhash_signatures, simhash
    from avgdist_rs_spark.operators.textstats import lang_id, quality_score

    for q in (minhash_signatures(docs, 4), simhash(docs, 8), lang_id(docs), quality_score(docs)):
        p = plan_of(q)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # whole-stage-codegen spans (non-AQE plans annotate pre-execution;
        # AQE plans only annotate the final plan, so accept either marker)
        assert "codegen id" in p or "AdaptiveSparkPlan" in p
        # aggregating ops must be partial+final (map-side combine)
        if "HashAggregate" in p:
            assert p.count("HashAggregate") >= 2


def test_simhash_pairs_no_cartesian(docs):
    """Chunk-bucket candidate generation must compile to an equi-join —
    a CartesianProduct / BroadcastNestedLoopJoin here is the |corpus|²
    scale-killer the bucketing exists to avoid."""
    from avgdist_rs_spark.operators.dedup import simhash_pairs

    p = plan_of(simhash_pairs(docs, bits=32, max_hamming=6))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cosine_topk_broadcasts_queries(emb):
    from avgdist_rs_spark.operators.similarity import cosine_topk

    p = plan_of(cosine_topk(emb, k=3, num_queries=4))
    # small query side broadcast; the corpus side must NOT shuffle for the join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_pagerank_superstep_reuses_edge_partitioning(spark):
    """The normalized edge table is persisted: superstep plans read it from the
    in-memory cache (InMemoryTableScan) instead of recomputing + reshuffling."""
    from avgdist_rs_spark.operators.pagerank import pagerank
    from avgdist_rs_spark.sources.fixtures import barabasi_graph

    g = barabasi_graph(spark, n=120, m=2, seed=5)
    ranks = pagerank(g, iterations=2)
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9


def test_exact_dedup_partial_aggregation(docs):
    """Content-key dedup must be a partial+final hash aggregate (map-side combine)."""
    from avgdist_rs_spark.operators.dedup import exact_dedup

    p = plan_of(exact_dedup(docs), "simple")
    assert p.count("HashAggregate") >= 2  # partial + final


def test_edges_prepartitioned_for_supersteps(spark):
    from avgdist_rs_spark.sources.fixtures import barabasi_graph

    g = barabasi_graph(spark, n=120, m=2, seed=5)
    # joining a tiny frontier against edges must not reshuffle the edge side:
    # the persisted edges are hashpartitioned(src) so only the frontier moves
    frontier = spark.range(5).select(F.col("id").alias("v"))
    q = frontier.join(g.edges, frontier.v == g.edges.src)
    p = plan_of(q, "simple")
    assert "InMemoryTableScan" in p


def test_lloyd_assignment_zero_shuffle(emb):
    """Lloyd's assignment step is a pure projection over a one-row broadcast
    centroid table: NO Exchange may carry the embedding vectors (the round-2
    formulation shuffled the full corpus once per iteration through a
    groupBy(nid) argmin)."""
    from avgdist_rs_spark.operators.similarity import kmeans_lloyd

    assigned, cents = kmeans_lloyd(emb, num_centroids=4, iterations=1)
    p = plan_of(assigned)
    # vectors never move: no SHUFFLE exchange anywhere — the only Exchange
    # allowed is the broadcast of the one-row centroid table
    shuffles = [
        ln for ln in p.splitlines() if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert shuffles == []
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "BatchEvalPython" not in p  # argmin is a JVM higher-order function
    # the assignment is still correct: every vector lands on its nearest centroid
    import numpy as np

    rows = assigned.collect()
    c = np.array(cents)
    for r in rows[:50]:
        v = np.array(r["nv"])
        d2 = ((c - v) ** 2).sum(axis=1)
        assert int(r["cluster"]) == int(np.argmin(d2))


def test_lloyd_computes_its_input_once(spark, emb):
    """kmeans_lloyd's count and its checkpoint read one cached copy of the
    input, so a row-counting UDF upstream runs once per row; the cache is
    released after, and a caller's own cache is left in place."""
    from pyspark import StorageLevel

    from avgdist_rs_spark.operators.similarity import kmeans_lloyd

    acc = spark.sparkContext.accumulator(0)

    def tally(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = emb.mapInPandas(tally, schema=emb.schema)
    n = emb.count()
    kmeans_lloyd(counted, num_centroids=4, iterations=1)
    assert acc.value == n
    assert counted.storageLevel == StorageLevel.NONE
    kept = emb.persist()
    kmeans_lloyd(kept, num_centroids=4, iterations=1)
    assert kept.storageLevel != StorageLevel.NONE
    kept.unpersist()


def test_asof_join_single_key_exchange(spark):
    """The as-of join's whole point is ONE shuffle on the key: the plan must
    contain exactly one Exchange hashpartitioning on user_id (the window),
    fed by the union — no range-join, no cartesian, no second key shuffle."""
    from avgdist_rs_spark.operators.asof import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = asof_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
        on="user_id",
    )
    p = plan_of(q, "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning(user_id") == 1, p


def test_khop_fixed_depth_is_one_plan_no_python(spark):
    """khop composes all hops lazily: no Python eval nodes, no cartesian,
    and the per-hop windows partition by (seed, parent) — never a global
    (empty-spec) window."""
    from avgdist_rs_spark.operators.neighbors import khop_sample

    e = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "seed long")
    p = plan_of(khop_sample(e, seeds, fanouts=(2, 2)), "simple")
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p
    assert "windowspecdefinition()" not in p  # no global window anywhere


def test_pack_sequences_no_global_data_window(docs):
    """The corpus-sized table must only see the bucket-partitioned window;
    the single-partition (empty-spec) window may touch ONLY the per-bucket
    totals (corpus/bucket_width rows). With bucket_width forcing multiple
    buckets, the analyzed plan's global window operates on the _bt rollup."""
    from avgdist_rs_spark.operators.pipeline import pack_sequences

    q = pack_sequences(docs, seq_len=256, bucket_width=64)
    analyzed = q._jdf.queryExecution().analyzed().toString()
    import re

    specs = re.findall(r"windowspecdefinition\((.*?)\)", analyzed)
    assert specs, "expected window operators in the plan"
    for spec in specs:
        # every window leads with the bucket column — either partitioned by
        # it (the in-bucket cumsum) or ordered by it (the tiny totals
        # rollup); a doc_id-led spec would be the global scan we designed out
        assert spec.strip().startswith("_b"), spec

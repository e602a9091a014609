"""Dedup / similarity / textstats / sessions / multimodal operator semantics.

Oracles here are local numpy/pandas re-implementations; full cross-engine
(DuckDB) verification of the same operators happens in test_entry.py via the
driver contract.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from avgdist_rs_spark.functions.hashing import portable_hash64
from avgdist_rs_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
    word_shingles,
)
from avgdist_rs_spark.operators.multimodal import attach_binary, extract_features
from avgdist_rs_spark.operators.sessions import sessionize
from avgdist_rs_spark.operators.similarity import cosine_topk, lsh_ann
from avgdist_rs_spark.operators.textstats import lang_id, quality_score, token_count

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "el rapido zorro marron salta sobre el perro y la luna"),
    (4, "completely different words entirely unrelated text here now"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def py_hash64(s: str, salt: str = "") -> int:
    return int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)


def test_hash_stream_matches_duckdb():
    """The portable sampling stream h('salt'||j) — foundation of the oracle-
    verified samplers — must agree with DuckDB's rendering value for value."""
    import duckdb

    from avgdist_rs_spark.functions.hashing import hash_stream

    got = hash_stream("us:", 16)
    want = duckdb.sql(
        "SELECT ('0x' || substr(md5('us:' || j::VARCHAR), 1, 15))::BIGINT "
        "FROM (SELECT unnest(generate_series(0, 15)) AS j)"
    ).fetchall()
    assert [int(x) for x in got] == [w[0] for w in want]


def test_portable_hash_matches_python_and_duckdb(spark):
    import duckdb

    vals = ["hello", "the quick", "ünïcode ok", ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", portable_hash64("s", salt="x:").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for v in vals:
        assert got[v] == py_hash64(v, "x:")
        dd = duckdb.sql(
            f"select ('0x' || substr(md5('x:' || ?), 1, 15))::BIGINT", params=[v]
        ).fetchone()[0]
        assert got[v] == dd


def test_exact_dedup(docs):
    rows = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert rows == {0: 2, 1: 1, 3: 1, 4: 1}


def test_word_shingles(docs):
    sh = word_shingles(docs.where("doc_id=0"), k=3).collect()
    got = sorted(r["shingle"] for r in sh)
    words = DOCS[0][1].split()
    want = sorted({" ".join(words[i : i + 3]) for i in range(len(words) - 2)})
    assert got == want


def test_jaccard_pairs(docs):
    got = {(r["a"], r["b"]): r["jaccard"] for r in jaccard_pairs(docs, k=3, threshold=0.1).collect()}
    # docs 0 and 2 identical -> jaccard 1.0; 0 and 1 share 5 of 9 distinct 3-grams
    assert got[(0, 2)] == 1.0
    s0 = {" ".join(DOCS[0][1].split()[i : i + 3]) for i in range(7)}
    s1 = {" ".join(DOCS[1][1].split()[i : i + 3]) for i in range(7)}
    want01 = round(len(s0 & s1) / len(s0 | s1), 6)
    assert got[(0, 1)] == want01
    assert (0, 4) not in got


def test_minhash_signature_is_min_of_salted_hashes(docs):
    sig = minhash_signatures(docs.where("doc_id=4"), num_hashes=4).collect()[0]
    words = DOCS[4][1].split()
    grams = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
    for i in range(4):
        assert sig[f"h{i}"] == min(py_hash64(g, f"mh{i}:") for g in grams)


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    got = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (0, 2) in got  # identical docs always collide
    assert (0, 4) not in got and (3, 4) not in got


def test_simhash_identical_docs_equal_and_pairs(docs):
    fps = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fps[0] == fps[2]
    assert fps[0] != fps[4]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=0).collect()}
    assert pairs[(0, 2)] == 0


def test_simhash_pairs_bucketed_equals_all_pairs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for mh in (0, 3, 6):
        fast = {
            (r["a"], r["b"], r["hamming"])
            for r in simhash_pairs(docs, max_hamming=mh, bucketed=True).collect()
        }
        slow = {
            (r["a"], r["b"], r["hamming"])
            for r in simhash_pairs(docs, max_hamming=mh, bucketed=False).collect()
        }
        assert fast == slow
    # uneven split: bits not divisible by (max_hamming + 1)
    fast = {
        tuple(r) for r in simhash_pairs(docs, bits=29, max_hamming=4, bucketed=True).collect()
    }
    slow = {
        tuple(r) for r in simhash_pairs(docs, bits=29, max_hamming=4, bucketed=False).collect()
    }
    assert fast == slow


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 8)).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    got = cosine_topk(df, k=3, num_queries=2).toPandas()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(2):
        order = [i for i in np.argsort(-sims[q], kind="stable") if i != q][:3]
        mine = got[got.query_id == q].sort_values("rank")
        assert list(mine.neighbor_id) == order
        assert np.allclose(mine.sim, [round(sims[q][i], 4) for i in order], atol=1e-4)


def test_lsh_ann_subset_of_bucket_and_ranked(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((60, 8)).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = lsh_ann(df, k=3, num_queries=3, num_planes=4).toPandas()
    assert set(got.columns) == {"query_id", "neighbor_id", "rank", "sim"}
    # ranks are 1..k dense per query and sims non-increasing
    for q, grp in got.groupby("query_id"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (np.diff(g.sim) <= 1e-9).all()


def test_textstats(docs):
    tc = {r["id"]: r for r in token_count(docs).collect()}
    assert tc[0]["n_tokens"] == 9 and tc[0]["n_distinct_tokens"] == 8
    li = {r["id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert li[0] == "en" and li[3] == "es" and li[4] == "und"
    qs = {r["id"]: r for r in quality_score(docs).collect()}
    assert 0.0 <= qs[0]["quality"] <= 1.0 and qs[4]["quality"] == 1.0


def test_sessionize(spark):
    rows = [
        (1, 10, "2024-01-01 00:00:00", "view"),
        (2, 10, "2024-01-01 00:10:00", "click"),
        (3, 10, "2024-01-01 01:10:00", "view"),   # 60 min gap -> new session
        (4, 11, "2024-01-01 00:00:00", "view"),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts string, event_type string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    s = {r["event_id"]: (r["session_idx"], r["turn_idx"]) for r in sessionize(ev).collect()}
    assert s[1] == (1, 0) and s[2] == (1, 1) and s[3] == (2, 0) and s[4] == (1, 0)


def test_multimodal_plumbing(docs):
    media = attach_binary(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media, dim=16).toPandas().set_index("media_id")
    assert len(feats) == 5
    # deterministic: same payload -> same digest/features (docs 0 and 2)
    assert feats.loc[0, "digest"] == feats.loc[2, "digest"]
    assert np.allclose(feats.loc[0, "features"], feats.loc[2, "features"])
    assert len(feats.loc[0, "features"]) == 16
    assert feats.loc[0, "n_bytes"] == len(DOCS[0][1].encode())


def test_ivf_ann_recall_and_shape(spark):
    from avgdist_rs_spark.operators.similarity import ivf_ann

    rng = np.random.default_rng(7)
    # clustered corpus: 4 well-separated blobs -> IVF routing is meaningful
    centers = rng.standard_normal((4, 8)) * 10
    vecs = np.vstack([centers[i % 4] + rng.standard_normal(8) for i in range(200)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    exact = cosine_topk(df, k=5, num_queries=4).toPandas()
    approx = ivf_ann(df, k=5, num_queries=4, num_centroids=8, nprobe=3).toPandas()
    assert set(approx.columns) == {"query_id", "neighbor_id", "rank", "sim"}
    # on blob data with nprobe=3 of 8 clusters, recall@5 should be high
    recall = 0.0
    for q in range(4):
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(approx[approx.query_id == q].neighbor_id)
        recall += len(e & a) / len(e)
    assert recall / 4 >= 0.8
    # full probe recovers exact brute force
    full = ivf_ann(df, k=5, num_queries=4, num_centroids=8, nprobe=8).toPandas()
    pd.testing.assert_frame_equal(
        full.sort_values(["query_id", "rank"]).reset_index(drop=True),
        exact.sort_values(["query_id", "rank"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_lsh_multi_table_recall_rises(spark):
    """Multi-table LSH: recall@k is non-decreasing in num_tables and the
    T=num_planes... T=4 run must beat the single table on this fixture."""
    from avgdist_rs_spark.operators.similarity import lsh_ann

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((120, 16)).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    exact = cosine_topk(df, k=5, num_queries=6).toPandas()

    def recall(T: int) -> float:
        got = lsh_ann(df, k=5, num_queries=6, num_planes=8, num_tables=T).toPandas()
        r = 0.0
        for q in range(6):
            e = set(exact[exact.query_id == q].neighbor_id)
            a = set(got[got.query_id == q].neighbor_id)
            r += len(e & a) / len(e)
        return r / 6

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 + 1e-9 and r2 <= r4 + 1e-9
    assert r4 > r1  # the lever actually moves on this fixture


def test_lsh_planes_not_plan_literals(spark):
    """Production-dim guard: planes ride as a broadcast row, so the physical
    plan stays small even at dim=1024 with 16 planes (O(planes·dim) literals
    would put ~16k doubles in the plan text)."""
    import contextlib
    import io

    from avgdist_rs_spark.operators.similarity import lsh_ann

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 1024)).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = lsh_ann(df, k=3, num_queries=2, num_planes=16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert len(buf.getvalue()) < 50_000
    assert q.count() >= 0  # and it runs


def test_simhash_pairs_bucketed_full_width_chunk(spark):
    """bits=64 with max_hamming=0 → one 64-bit chunk: the mask literal
    (1<<64)-1 is not LongType-representable; the full-width chunk must skip
    the mask (regression for the w=64 plan-construction failure)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = {
        tuple(r)
        for r in simhash_pairs(docs, bits=64, max_hamming=0, bucketed=True).collect()
    }
    slow = {
        tuple(r)
        for r in simhash_pairs(docs, bits=64, max_hamming=0, bucketed=False).collect()
    }
    assert fast == slow


def test_dedup_groups_transitive_collapse(spark):
    """A≈B and B≈C must collapse {A,B,C} to one group even when A and C never
    pair directly — the reason the collapse is CC, not per-pair greedy drop."""
    from avgdist_rs_spark.operators.dedup import dedup_groups, minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    chain = spark.createDataFrame(
        [
            (0, base + "alpha beta gamma delta"),
            (1, base + "alpha beta gamma epsilon"),   # near 0
            (2, base + "alpha beta zeta epsilon"),    # near 1, further from 0
            (3, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(chain, threshold=0.7).collect()
    }
    got = {r["doc_id"]: r["keep_id"] for r in dedup_groups(chain, threshold=0.7).collect()}
    # every doc present; singletons keep themselves
    assert set(got) == {0, 1, 2, 3}
    assert got[3] == 3
    # group assignment IS the transitive closure of the pair graph
    import networkx as nx

    gg = nx.Graph()
    gg.add_nodes_from(range(4))
    gg.add_edges_from(pairs)
    for comp in nx.connected_components(gg):
        keep = min(comp)
        for v in comp:
            assert got[v] == keep
    # the fixture is only meaningful if a chain actually formed
    assert (0, 1) in pairs and (1, 2) in pairs


def test_training_set_select_semantics(spark):
    """Each gate drops exactly what it should: exact dup, near-dup non-
    canonical, low quality, non-English — and the survivor keeps its stats."""
    from avgdist_rs_spark.operators.pipeline import training_set_select

    base = "the quick brown fox jumps over the lazy dog and it is for on " * 3
    docs = spark.createDataFrame(
        [
            (0, base + "alpha beta gamma delta"),      # canonical survivor
            (1, base + "alpha beta gamma delta"),      # exact dup of 0
            (2, base + "alpha beta gamma epsilon"),    # near-dup of 0
            (3, "x y " * 4),                           # low quality (diversity)
            (4, "der die und das in zu den mit von ist " * 5),  # German
        ],
        "doc_id long, text string",
    )
    got = training_set_select(docs, lang="en", min_quality=0.6, threshold=0.7).collect()
    assert {r["doc_id"] for r in got} == {0}
    r = got[0]
    assert r["lang_pred"] == "en" and r["quality"] >= 0.6 and r["n_tokens"] > 0


def test_jaccard_prefix_strategy_equals_baseline(spark):
    """strategy="prefix" (SSJoin/PPJoin prefix filter) returns the IDENTICAL
    exact pair set as the quadratic co-shingle baseline at several
    thresholds, while generating a small fraction of its candidates."""
    from avgdist_rs_spark.operators.dedup import (
        _prefix_candidates,
        jaccard_pairs,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.3, 0.5, 0.8):
        base = set(
            map(tuple, jaccard_pairs(docs, threshold=t).select("a", "b", "jaccard").collect())
        )
        pref = set(
            map(
                tuple,
                jaccard_pairs(docs, threshold=t, strategy="prefix")
                .select("a", "b", "jaccard")
                .collect(),
            )
        )
        assert pref == base, f"t={t}"
    sh = word_shingles(docs, 3)
    co_shingled = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id"), F.col("y.id"))
        .distinct()
        .count()
    )
    cand = _prefix_candidates(sh, 0.8).count()
    assert cand < co_shingled / 10, (cand, co_shingled)


def test_repetition_stats(spark):
    from avgdist_rs_spark.operators.textstats import repetition_stats

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spam spam spam spam ham"),
        (2, "hi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in repetition_stats(docs).collect()}
    # doc 0: 9 words / 8 distinct; 8 distinct bigrams; 7 distinct trigrams
    assert got[0]["n_words"] == 9
    assert got[0]["dup_word_frac"] == pytest.approx(1 - 8 / 9, abs=1e-6)
    assert got[0]["top_bigram_frac"] == pytest.approx(1 / 8, abs=1e-6)
    assert got[0]["dup_trigram_frac"] == 0.0
    assert got[0]["repetitive"] is False
    # doc 1: "spam spam"x3 + "spam ham" bigrams; "spam spam spam"x2 trigrams
    assert got[1]["dup_word_frac"] == pytest.approx(1 - 2 / 5, abs=1e-6)
    assert got[1]["top_bigram_frac"] == pytest.approx(3 / 4, abs=1e-6)
    assert got[1]["dup_trigram_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert got[1]["repetitive"] is True
    # doc 2: shorter than the gram widths -> zero fracs, not NULL/missing
    assert got[2]["n_words"] == 1 and got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.0 and got[2]["dup_trigram_frac"] == 0.0
    assert got[2]["repetitive"] is False


def _py_contamination(rows, k, mod, bucket):
    """Pure-Python replay of decontam semantics (split, gram sets, overlap)."""
    def grams(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}

    ev, tr = [], []
    for i, t in rows:
        (ev if py_hash64(str(i), "eval:") % mod == bucket else tr).append((i, t))
    ev_g = set().union(*[grams(t) for _, t in ev]) if ev else set()
    out = {}
    for i, t in tr:
        g = grams(t)
        out[i] = (len(g), len(g & ev_g))
    return out


def test_contamination(spark):
    from avgdist_rs_spark.operators.decontam import contamination, eval_split

    shared = "alpha beta gamma delta epsilon"
    rows = [(i, f"{shared} doc{i} filler words here") for i in range(12)] + [
        (100, "totally distinct content with no overlap at all"),
        (101, "xy"),  # shorter than k -> zero grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    mod, k = 3, 5
    ev_ids = {r["doc_id"] for r in eval_split(docs, mod=mod).collect()}
    exp_ev = {i for i, _ in rows if py_hash64(str(i), "eval:") % mod == 0}
    assert ev_ids == exp_ev and 0 < len(ev_ids) < len(rows)

    got = {
        r["id"]: (r["n_grams"], r["n_hit"], r["contaminated"])
        for r in contamination(docs, k=k, mod=mod).collect()
    }
    exp = _py_contamination(rows, k, mod, 0)
    assert set(got) == set(exp)
    for i, (n_g, n_h) in exp.items():
        assert got[i] == (n_g, n_h, n_h > 0), i
    # the shared 5-gram must actually contaminate (eval split hits some shared doc)
    assert any(h > 0 for _, h, _ in got.values())
    # zero-gram training doc is reported, not dropped
    if 101 in got:
        assert got[101] == (0, 0, False)

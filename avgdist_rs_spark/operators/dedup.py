"""Deduplication operators for training-data pipelines over a documents table.

Beyond-reference capability (the reference is a pure graph engine; these are the
ops a 100 TB text corpus needs before it ever becomes a graph). All hot paths
are JVM-side built-ins (split/explode/groupBy/min/md5) — whole-stage codegen,
zero Python UDFs — and every operator is exactly reproducible in ANSI SQL via
``functions.hashing.portable_hash64`` so the DuckDB oracle can verify values.

Scale design:
- exact dedup: one hash-shuffle on a 128-bit content key — the canonical
  map-side-combinable groupBy.
- n-gram Jaccard: the all-pairs shingle self-join is quadratic in per-shingle
  frequency; it is the *correctness baseline*. At 100 TB use ``minhash_lsh_pairs``
  (band-bucket join: candidates only collide within a band bucket, cost is
  O(Σ bucket²) with bucket sizes controlled by bands×rows) and cap pathological
  shingles with ``max_shingle_freq``.
- MinHash signatures: ``num_hashes`` min-aggregates over the distinct
  (doc, shingle) set — one shuffle, map-side partial mins.
- SimHash: per-bit ±1 sums as N parallel aggregates in ONE groupBy pass
  (no bit-explosion), then bit-assembly as a literal-weighted sum; pair
  generation is the pigeonhole chunk-bucket equi-join (never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..streaming.superstep import local_cut


# --------------------------------------------------------------------- exact
def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivors of exact dedup: min id per identical text (md5 content key).

    Returns (keep_id, dup_count) per distinct content, keep_id = min(id).
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_key"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
        .select("keep_id", "dup_count")
    )


# ------------------------------------------------------------------ shingles
def word_shingles(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Word k-gram shingles per doc: (id, shingle), distinct by default.

    Shingle text = k consecutive words joined by one space — the oracle builds
    the identical string with ``ws[i] || ' ' || ws[i+1] ...``.
    ``distinct=False`` skips the dedup exchange entirely — correct for any
    duplicate-insensitive consumer (MinHash mins), where it also moves the
    per-shingle hashing to the map side of the ONLY remaining exchange.
    """
    from ..plans.graph import spread

    words = F.split(F.col(text_col), " ")
    # NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — docs shorter
    # than k words must be gated explicitly or slice(start=0) throws at runtime.
    gram = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # spread the (cheap, pre-explode) doc rows across the session parallelism
    # FIRST: a small-file parquet scan arrives as one partition, and the
    # explode × num_hashes hashing downstream — the actual cost — inherits the
    # scan's parallelism, not the shuffle default. Conditional (plans.graph
    # .spread): well-partitioned corpora skip the exchange entirely.
    sp = spread(docs, id_col)
    out = sp.select(F.col(id_col).alias("id"), F.explode(gram).alias("shingle"))
    return out.distinct() if distinct else out



def _jaccard_scores(sh: DataFrame, cand: DataFrame | None = None) -> DataFrame:
    """(a, b, jaccard) from a distinct (id, shingle) set.

    ``cand=None`` → all co-shingled pairs (the quadratic correctness baseline);
    with ``cand(a, b)`` the intersection join is restricted to those pairs
    (the LSH scale path).
    """
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("id").alias("a"), "shingle")
    sb = sh.select(F.col("id").alias("b"), "shingle")
    if cand is None:
        inter = (
            sa.join(sb, "shingle")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = (
            cand.join(sa, "a")
            .join(sb, ["b", "shingle"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("sb")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
    strategy: str = "all",
) -> DataFrame:
    """Near-dup pairs (a < b) with word-k-gram Jaccard ≥ threshold.

    ``max_shingle_freq`` drops shingles shared by more than that many docs —
    the standard stop-shingle cap that keeps the self-join from going quadratic
    on boilerplate at corpus scale (changes semantics; leave None for oracle
    parity).

    ``strategy="prefix"`` computes the IDENTICAL exact result through prefix
    filtering (the SSJoin/PPJoin family — public literature: Chaudhuri et al.
    ICDE'06, Bayardo et al. WWW'07): under any global total order on
    shingles, two sets with J ≥ t must collide within their first
    ``n − ⌈t·n⌉ + 1`` shingles, so the candidate join runs prefix×prefix
    instead of shingle×shingle, and a length filter ``⌈t·n_a⌉ ≤ n_b``
    prunes the rest before exact verification. Ordering by ascending global
    shingle frequency (rarest first) makes prefixes collide as little as
    possible — this is the EXACT-join scale path, complementing the
    probabilistic MinHash-LSH one. ``strategy="all"`` keeps the quadratic
    co-shingle baseline (the oracle shape).
    """
    sh = word_shingles(docs, k, id_col, text_col)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").count().where(F.col("count") <= max_shingle_freq)
        sh = sh.join(freq.select("shingle"), "shingle")
    # the distinct (id, shingle) set feeds 3 (all) to 6 (prefix) subplans —
    # a non-eager checkpoint materializes the scan+explode+dedup once and
    # every consumer reads the cached rows (guide §2.4: shared subplans
    # should share one computation, not re-run the exchange per consumer)
    sh = local_cut(sh, eager=False)
    if strategy == "all":
        return _jaccard_scores(sh).where(F.col("jaccard") >= threshold)
    if strategy != "prefix":
        raise ValueError(f"unknown jaccard strategy {strategy!r}")
    return _jaccard_scores(sh, cand=_prefix_candidates(sh, threshold)).where(
        F.col("jaccard") >= threshold
    )


def _prefix_candidates(sh: DataFrame, t: float) -> DataFrame:
    """Candidate (a, b) pairs that can reach Jaccard ≥ t, by prefix filter.

    Exactness argument (standard): fix a total order on shingles. If sets A,
    B (|A|=n_a, |B|=n_b) have J(A,B) ≥ t and NEITHER's first
    ``p_x = n_x − ⌈t·n_x⌉ + 1`` elements intersect the other's prefix, then
    each set's smallest ``p`` elements miss the intersection entirely, so
    |A∩B| ≤ min(n_a − p_a, n_b − p_b) = min(⌈t·n_a⌉, ⌈t·n_b⌉) − 1 <
    t·min(n_a, n_b) ≤ t·|A∪B| — contradiction. The ⌈⌉ is nudged DOWN by an
    epsilon before ceiling so float error can only LENGTHEN a prefix
    (supersets of the exact candidate set stay exact).
    """
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "shingle")
    pfx = (
        sh.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
        .where(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
        )
        .select("id", "shingle", "sz")
    )
    return (
        pfx.select(F.col("id").alias("a"), "shingle", F.col("sz").alias("sa"))
        .join(
            pfx.select(F.col("id").alias("b"), "shingle", F.col("sz").alias("sb")),
            "shingle",
        )
        .where(
            (F.col("a") < F.col("b"))
            # length filter: J ≥ t forces t·n_a ≤ n_b ≤ n_a/t (both directions
            # covered because a<b is an id order, not a size order)
            & (F.col("sb") >= F.ceil(F.lit(t) * F.col("sa") - F.lit(1e-9)))
            & (F.col("sa") >= F.ceil(F.lit(t) * F.col("sb") - F.lit(1e-9)))
        )
        .select("a", "b")
        .distinct()
    )


# ------------------------------------------------------------------- minhash
def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{num_hashes-1}) MinHash signature — min of salted portable
    hashes over the doc's shingle set. One groupBy, map-side partial mins.
    ``shingles`` lets callers reuse an already-derived (id, shingle) set.

    min() is duplicate-insensitive, so the default path derives NON-distinct
    shingles: the per-shingle hashing runs map-side of the one groupBy
    exchange at full scan parallelism, instead of downstream of a dedup
    exchange (which AQE legitimately coalesces to few partitions — the bytes
    are small; the per-row hash CPU is not)."""
    sh = (
        shingles
        if shingles is not None
        else word_shingles(docs, k, id_col, text_col, distinct=False)
    )
    aggs = [
        F.min(portable_hash64(F.col("shingle"), salt=f"mh{i}:")).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded-LSH candidate generation + exact-Jaccard verification.

    Signature is cut into ``bands`` bands of ``num_hashes//bands`` rows; docs
    colliding on any full band become candidates (joined only within band
    buckets — the scale path); candidates are then verified with true Jaccard.
    Returns (a, b, jaccard) with a < b, jaccard ≥ threshold.
    """
    rows = num_hashes // bands
    # the signatures hash the NON-distinct shingle stream (min is
    # duplicate-insensitive — keeps the hash CPU map-side at scan
    # parallelism); the exact verify below needs the distinct set. Two cheap
    # explodes beat funneling the hash work through the dedup exchange.
    # (Round-6 measured negative, kept for the record: pruning the verify
    # shingles to candidate docs with a semi-join BEFORE the distinct — the
    # "remove the full-corpus dedup exchange" refactor — is 3–4 s SLOWER at
    # the 10× bench scale because the verify subtree then SERIALIZES behind
    # candidate generation instead of pipelining beside it, and adds 4 jobs;
    # revisit only with a measured full-corpus-distinct bottleneck.)
    sh = word_shingles(docs, k, id_col, text_col)
    sig = minhash_signatures(docs, num_hashes, k, id_col, text_col)
    band_cols = []
    for bi in range(bands):
        parts = [F.col(f"h{bi * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"b{bi}"))
    banded = sig.select("id", *band_cols)
    stacked = banded.select(
        "id",
        F.explode(
            F.array(*[
                F.concat_ws("|", F.lit(str(bi)), F.col(f"b{bi}")) for bi in range(bands)
            ])
        ).alias("bucket"),
    )
    cand = (
        stacked.alias("x")
        .join(stacked.alias("y"), "bucket")
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    # exact-Jaccard verification restricted to the candidate pairs — the whole
    # point of LSH is to never touch the quadratic all-pairs shingle join
    return _jaccard_scores(sh, cand).where(F.col("jaccard") >= threshold)


# ------------------------------------------------------------------- simhash
def simhash(
    docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — ``bits``-bit SimHash over the word multiset.

    Per word w: h = portable_hash64(w); bit b contributes +1 if (h>>b)&1 else
    −1; fingerprint bit b is set iff the column sum > 0. Implemented as
    ``bits`` sum-aggregates in a single groupBy (no per-bit row explosion).
    """
    from ..plans.graph import spread

    # same spread-before-explode rationale as word_shingles: the word explode
    # and 64-bit hashing must not inherit a single-file scan's one partition
    wd = (
        spread(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .withColumn("h", portable_hash64(F.col("w"), salt="sh:"))
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = wd.groupBy("id").agg(*aggs)
    fp = None
    for b in range(bits):
        # bit 63 as a LongType literal is Long.MIN (two's complement) — 1<<63
        # is not representable; disjoint bits assemble with OR, never +, so no
        # ANSI overflow at any width
        bit = F.lit(-(1 << 63) if b == 63 else (1 << b))
        term = F.when(F.col(f"s{b}") > 0, bit).otherwise(F.lit(0))
        fp = term if fp is None else fp.bitwiseOR(term)
    return sums.select("id", fp.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucketed: bool = True,
) -> DataFrame:
    """Near-dup pairs (a < b) with SimHash Hamming distance ≤ max_hamming.

    Scale path (default): the pigeonhole chunk-bucket join. Split the ``bits``
    fingerprint into ``max_hamming + 1`` contiguous chunks; any two
    fingerprints within Hamming distance ``max_hamming`` must agree on at
    least one full chunk, so candidates are generated by an equi-join on
    (chunk_index, chunk_value) buckets and only then verified with the exact
    popcount. Cost is O(Σ bucket²) per chunk table — never the |corpus|²
    theta-join (``bucketed=False`` keeps the all-pairs correctness baseline
    for tests). Output is identical in both modes.
    """
    s = simhash(docs, bits, id_col, text_col)
    if not bucketed:
        a = s.select(F.col("id").alias("a"), F.col("simhash").alias("fa"))
        b = s.select(F.col("id").alias("b"), F.col("simhash").alias("fb"))
        return (
            a.join(b, F.col("a") < F.col("b"))
            .select("a", "b", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
        )
    nchunks = min(max_hamming + 1, bits)
    base, rem = divmod(bits, nchunks)
    keys, off = [], 0
    for ci in range(nchunks):
        w = base + (1 if ci < rem else 0)
        shifted = F.shiftrightunsigned(F.col("simhash"), off)
        # a full-width chunk (w=64, i.e. max_hamming=0 at bits=64) has no
        # LongType-representable mask literal ((1<<64)-1 overflows) and needs
        # none — the unsigned shift already isolated all remaining bits
        chunk = shifted if w >= 64 else shifted.bitwiseAND(F.lit((1 << w) - 1))
        keys.append(F.concat_ws(":", F.lit(str(ci)), chunk.cast("string")))
        off += w
    stacked = s.select("id", "simhash", F.explode(F.array(*keys)).alias("ck"))
    x = stacked.select(F.col("id").alias("a"), F.col("simhash").alias("fa"), "ck")
    y = stacked.select(F.col("id").alias("b"), F.col("simhash").alias("fb"), "ck")
    # a pair agreeing on several chunks collides in several buckets → distinct
    return (
        x.join(y, "ck")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------------------------ collapse
def dedup_groups(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The dedup DECISION stage: collapse near-duplicates into canonical groups.

    Pair lists (``minhash_lsh_pairs``) are not what a pipeline acts on — near-
    duplication is transitive in practice (A≈B, B≈C ⇒ drop two of {A,B,C}), so
    the collapse is connected components over the pair graph with the minimum
    doc id as each group's canonical survivor. Returns (doc_id, keep_id) for
    EVERY document — singletons keep themselves; ``keep_id`` is the group key.

    Scale shape: the pair graph is tiny relative to the corpus (only docs
    with a verified band collision appear), so the min-label fixpoint runs
    over JUST those vertices — no dense-id assumption, sparse/snowflake doc
    ids are fine, and every other document joins back as its own singleton.
    Duplicate clusters are near-cliques, so plain hash-min converges in a
    handful of supersteps; a convergence guard raises rather than returning
    a half-collapsed labeling.
    """
    from .components import min_label_components

    pairs = minhash_lsh_pairs(
        docs, num_hashes, bands, k, threshold, id_col, text_col
    ).persist()
    n_pairs = pairs.count()
    sym = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    lab = min_label_components(
        sym.select(F.col("src").alias("v")).distinct(), sym, 2 * n_pairs,
        max_supersteps=64,
    )
    pairs.unpersist()
    return (
        docs.select(F.col(id_col))
        .join(lab.select(F.col("v").alias(id_col), "component"), id_col, "left")
        .select(id_col, F.coalesce(F.col("component"), F.col(id_col)).alias("keep_id"))
    )

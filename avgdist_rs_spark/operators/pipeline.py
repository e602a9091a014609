"""End-to-end training-set selection: the dedup/quality family acting as ONE
pipeline — what a 100 TB corpus actually runs before tokenization.

Composes the per-operator stages (each independently driver-oracled) into the
canonical decision sequence:

1. **exact dedup** — one hash-shuffle groupBy on the md5 content key; only
   the min-id survivor of each identical text proceeds (``dedup.exact_dedup``
   semantics).
2. **near-dup collapse** — MinHash-LSH pair graph over the survivors →
   connected components → keep only each group's canonical (min-id) doc
   (``dedup.dedup_groups``): transitive A≈B≈C chains collapse to one
   document, never two of three.
3. **quality + language gates** — stopword-heuristic language ID and the
   three-gate quality score (``textstats``), filtering to the target language
   above a quality floor.

Output: one row per SELECTED document — (doc_id, lang_pred, quality,
n_tokens) — the training-set manifest a downstream tokenizer consumes.

Scale shape: every stage is the already-audited scale path — content-key
groupBy (map-side combinable), band-bucket LSH join (never all-pairs),
pointer-jumping components over the (tiny) duplicate-pair graph, and pure
column expressions for the gates. The stages compose as DataFrame plans;
nothing materializes driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.superstep import local_cut
from .dedup import dedup_groups
from .textstats import lang_id, quality_score


def corpus_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-language corpus rollup — the monitoring aggregate a pipeline runs
    next to every selection job: (lang_pred, n_docs, total_tokens,
    mean_quality, median_tokens, p90_tokens).

    Pure two-level aggregation (per-doc stats → one groupBy on the language
    key): map-side combinable, one exchange of per-doc skinny rows, exact
    interpolated percentiles (``percentile`` ≡ DuckDB ``quantile_cont``)."""
    from .textstats import lang_id, quality_score

    li = lang_id(docs, id_col, text_col).select("id", "lang_pred")
    qs = quality_score(docs, id_col, text_col).select("id", "n_tokens", "quality")
    return (
        li.join(qs, "id")
        .groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("median_tokens"),
            F.round(F.expr("percentile(n_tokens, 0.9)"), 6).alias("p90_tokens"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "strat:",
) -> DataFrame:
    """Deterministic per-language sample — the training-mix primitive
    (up/down-weighting strata when composing a corpus).

    A doc with language L is kept iff
    ``portable_hash64(salt || id) mod 1_000_000 < fractions[L] · 1_000_000``
    — a pure projection + filter (no shuffle, no RNG state), reproducible by
    ANY engine with md5, so the sample itself is oracle-verifiable. Strata
    absent from ``fractions`` are dropped. Returns (doc_id, lang_pred).
    """
    from ..functions.hashing import portable_hash64
    from .textstats import lang_id

    li = lang_id(docs, id_col, text_col).select(
        F.col("id").alias(id_col), "lang_pred"
    )
    h = portable_hash64(F.col(id_col).cast("string"), salt=salt)
    bucket = F.pmod(h, F.lit(1_000_000))
    thr = None
    for lang, frac in sorted(fractions.items()):
        cond = (F.col("lang_pred") == lang) & (bucket < int(round(frac * 1_000_000)))
        thr = cond if thr is None else (thr | cond)
    if thr is None:
        raise ValueError("fractions must name at least one stratum")
    return li.where(thr).select(id_col, "lang_pred")


def training_set_select(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, lang_pred, quality, n_tokens) for every selected document."""
    # 1. exact dedup: min-id survivor per identical text
    keys = docs.groupBy(F.md5(F.col(text_col)).alias("_ck")).agg(
        F.min(F.col(id_col)).alias(id_col)
    )
    # the survivor table feeds every later stage (LSH shingles + signatures,
    # the canonical join, both gates) — a non-eager checkpoint computes the
    # scan + content-key groupBy + join once instead of once per consumer
    survivors = local_cut(docs.join(keys.select(id_col), id_col), eager=False)

    # 2. near-dup collapse among survivors: canonical = its group's min id.
    # The pair graph only ever links survivor ids, so a survivor's component
    # min is itself a survivor — the join below needs no extra filtering.
    groups = dedup_groups(
        survivors, num_hashes, bands, k, threshold, id_col, text_col
    )
    canonical = local_cut(  # consumed by both gates below
        survivors.join(groups.where(F.col(id_col) == F.col("keep_id")).select(id_col), id_col),
        eager=False,
    )

    # 3. language + quality gates on the canonical set
    li = lang_id(canonical, id_col, text_col).select(
        F.col("id").alias(id_col), "lang_pred"
    )
    qs = quality_score(canonical, id_col, text_col).select(
        F.col("id").alias(id_col), "quality", "n_tokens"
    )
    return (
        li.join(qs, id_col)
        .where((F.col("lang_pred") == lang) & (F.col("quality") >= min_quality))
        .select(id_col, "lang_pred", "quality", "n_tokens")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step between a selected corpus
    and a trainer: documents are laid end to end in ``doc_id`` order and the
    token stream is cut into fixed-length sequences of ``seq_len``.

    Returns one row per sequence: (seq_id, n_docs, n_tokens, first_doc,
    last_doc) — the packing manifest (which documents feed which training
    sequence, and how full the final ragged sequence is). n_tokens ==
    seq_len everywhere except the last sequence.

    Physical shape: a global prefix sum ordered by ``doc_id``, computed as
    the classic TWO-LEVEL scan instead of one O(corpus) single-partition
    window — (1) a window partitioned by the fixed-width id bucket
    ``doc_id div bucket_width`` (deterministic, no sampling — unlike
    repartitionByRange boundaries), (2) a window over the per-bucket totals
    (corpus/bucket_width rows: 10^12 docs → ~10^6 bucket rows at the default
    width, one slim task; add a third level before that is ever the
    bottleneck). Each doc then explodes to the sequences its token span
    overlaps (``floor(start/L) … floor((end-1)/L)``) and one groupBy on
    seq_id builds the manifest. The oracle side can use the plain
    ``sum() OVER (ORDER BY doc_id)`` — values are identical by construction.
    """
    from .textstats import _words

    n = F.size(_words(F.col(text_col)))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n"),
        F.expr(f"CAST({id_col} AS BIGINT) div {int(bucket_width)}").alias("_b"),
    )
    from pyspark.sql import Window

    w_in = Window.partitionBy("_b").orderBy("doc_id")
    local = toks.withColumn("_lc", F.sum("n").over(w_in))
    btot = toks.groupBy("_b").agg(F.sum("n").alias("_bt"))
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.withColumn("_off", F.coalesce(F.sum("_bt").over(w_b), F.lit(0))).select(
        "_b", "_off"
    )
    cum = local.join(F.broadcast(boff), "_b").select(
        "doc_id", "n", (F.col("_lc") + F.col("_off")).alias("_cum")
    )
    L = F.lit(int(seq_len))
    spans = (
        cum.where(F.col("n") > 0)
        .withColumn("_start", F.col("_cum") - F.col("n"))
        .select(
            "doc_id",
            "n",
            "_cum",
            "_start",
            F.explode(
                F.sequence(
                    F.expr(f"_start div {int(seq_len)}"),
                    F.expr(f"(_cum - 1) div {int(seq_len)}"),
                )
            ).alias("seq_id"),
        )
    )
    fill = F.least(F.col("_cum"), (F.col("seq_id") + 1) * L) - F.greatest(
        F.col("_start"), F.col("seq_id") * L
    )
    return (
        spans.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(fill).alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


def quality_resample(
    docs: DataFrame,
    alpha: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "resample:",
) -> DataFrame:
    """Deterministic quality-weighted resampling — keep each document with
    probability ``quality^alpha`` (integer ``alpha``; higher = sharper
    preference for high-quality docs), the importance-sampling step that
    shapes a corpus's quality mix without a hard cutoff.

    The keep decision is ``portable_hash64(salt || id) mod 10^6 <
    round(quality^alpha · 10^6)`` — a pure projection + filter (no shuffle,
    no RNG state), replayable bit-exactly by any engine with md5. ``alpha``
    is applied by repeated multiplication (IEEE-exact, engine-portable — no
    libm ``pow`` variance). Returns (doc_id, quality, p_keep) for keepers.
    """
    if alpha < 1:
        raise ValueError("alpha must be a positive integer")
    from ..functions.hashing import portable_hash64
    from .textstats import quality_score

    qs = quality_score(docs, id_col, text_col).select(
        F.col("id").alias("doc_id"), "quality"
    )
    p = F.col("quality")
    for _ in range(alpha - 1):
        p = p * F.col("quality")
    h = portable_hash64(F.col("doc_id").cast("string"), salt=salt)
    keep = F.pmod(h, F.lit(1_000_000)) < F.round(p * 1_000_000, 0).cast("long")
    return (
        qs.withColumn("p_keep", F.round(p, 6))
        .where(keep)
        .select("doc_id", "quality", "p_keep")
    )

"""BPE merge training — the tokenizer-construction step of the pipeline.

Byte-pair encoding (Sennrich et al. 2016, ACL — public method) learns a merge
table by repeatedly fusing the most frequent adjacent symbol pair. This is
the canonical corpus→tokenizer fixpoint a training-data pipeline runs after
selection/packing, and it has exactly the distributed shape this engine is
built around:

- the state is the WORD-FREQUENCY table, not the corpus: BPE statistics are
  invariant to where words occur, so the loop runs over (word, count,
  symbols) — vocabulary-sized (10^6–10^8 rows at web scale), shuffled once
  at build, never again (every later step is a projection or a map-side
  combinable aggregate).
- per merge: pair counts = one explode of adjacent symbol pairs weighted by
  word count + one groupBy; the argmax row (count desc, pair asc — fully
  deterministic) is the only thing that ever reaches the driver (a scalar
  collect, same class as every fixpoint's convergence aggregate).
- merge application is an Arrow-batched ``mapInPandas`` over the word table
  — the left-to-right non-overlapping rewrite is inherently sequential PER
  WORD (a few symbols), trivially parallel ACROSS words; a pre-filter keeps
  untouched words out of the rewrite entirely.

No SQL oracle: the per-round argmax + sequential rewrite is not
ANSI-expressible (the same class as union-find); the driver records the
rows-only check and pytest carries exact parity with a from-scratch pure-
Python BPE trainer (identical merge sequence AND counts,
``tests/test_bpe.py``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.superstep import Checkpointer, local_cut


def _apply_merge_py(symbols: list[str], a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping fuse of adjacent (a, b) → a+b."""
    out: list[str] = []
    i, n = 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def word_frequency(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, count, symbols) — the BPE training state. Symbols start as the
    word's characters plus the end-of-word marker (the standard formulation,
    so merges distinguish suffixes from interiors)."""
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count("*").alias("count"))
    sym = F.concat(
        F.split(F.col("word"), "(?!$)"),  # chars (lookahead keeps no empty tail)
        F.array(F.lit("</w>")),
    )
    return wf.select("word", "count", sym.alias("symbols"))


def _pair_counts(state: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-pair frequencies weighted by word count — one
    explode + one map-side-combinable groupBy."""
    pairs = state.select(
        "count",
        F.explode(
            F.expr(
                "transform(slice(symbols, 1, size(symbols) - 1), "
                "(s, i) -> struct(s AS a, symbols[i + 1] AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("count").alias("n")
    )


def bpe_train(
    docs: DataFrame,
    num_merges: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(rank, left, right, pair_count) — the learned merge table, rank 1 =
    first merge. Ties broken by (left, right) ascending; stops early when no
    pair occurs twice (merging singletons is pure vocabulary bloat)."""
    spark = docs.sparkSession
    # hard_every=4: each merge's plan references the previous state THREE
    # times (touched / untouched / union), so the chained-localCheckpoint
    # cost multiplier (see Checkpointer.HARD_EVERY) bites ~2x per link from
    # the start here — reset the chain every 4 merges (measured: flat at
    # ~1 s/merge vs 53 s by merge 12 unreset)
    ckpt = Checkpointer(spark, name="bpe", hard_every=4)
    state = local_cut(word_frequency(docs, id_col, text_col))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        top = (
            _pair_counts(state)
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((rank, a, b, n))
        if rank == num_merges:
            # the rewritten state would only feed merge rank+1's pair counts —
            # there is none, so the final Arrow rewrite is pure waste
            break

        def rewrite(batches: Iterator[pd.DataFrame], a=a, b=b) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf["symbols"] = [
                    _apply_merge_py(list(s), a, b) for s in pdf["symbols"]
                ]
                yield pdf

        # pre-filter: only words containing the pair enter the Arrow rewrite
        hit = F.expr(
            "exists(slice(symbols, 1, size(symbols) - 1), "
            f"s -> s = {_sql_str(a)}) AND array_contains(symbols, {_sql_str(b)})"
        )
        touched = state.where(hit)
        untouched = state.where(~hit)
        rewritten = touched.mapInPandas(rewrite, schema=state.schema)
        # lazy: the NEXT merge's pair-count collect (which scans every
        # partition) materializes the checkpoint — one Spark job per merge
        # instead of two (hard cuts every 4th stay eager Parquet resets)
        state = ckpt.step(rewritten.unionByName(untouched), rank, lazy=True)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens_bpe) — token counts under the learned merge table. The
    merge list is collected (it is rank-bounded tiny) and applied in rank
    order inside one Arrow batch pass over the documents."""
    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").collect()
    ]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts = []
            for text in pdf["text"]:
                total = 0
                for w in str(text).split(" "):
                    if not w:
                        continue
                    sym = list(w) + ["</w>"]
                    for a, b in ranked:
                        if len(sym) < 2:
                            break
                        sym = _apply_merge_py(sym, a, b)
                    total += len(sym)
                counts.append(total)
            yield pd.DataFrame({"id": pdf["id"], "n_tokens_bpe": counts})

    ids = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return ids.mapInPandas(encode, schema="id long, n_tokens_bpe long")

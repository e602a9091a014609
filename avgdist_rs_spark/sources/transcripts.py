"""Transcript source: the engine's canonical input table and its edge derivation.

Per ``BASELINE.json`` ``input_hint`` the engine's primary input is an
Iceberg/Parquet table of multi-turn conversation / agent transcripts::

    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

The reference consumes a pre-built WebGraph edge list (``webgraph from arcs``,
reference ``data/erdos-renyi/webgraph-from.sh:2``); here the analogous ingest is
*deriving* the reply/tool-invocation graph from the transcript table:

- **reply edges**: turn ``(conv_id, i)`` → ``(conv_id, i+1)`` via a window
  ``lead`` over ``partitionBy(conv_id).orderBy(turn_idx)`` — one shuffle on
  ``conv_id`` which Iceberg/Parquet partitioning makes partition-local at scale.
- **tool-invocation edges**: turn → the tool's shared vertex. Tools are shared
  across all conversations, which creates exactly the hub-vertex skew the north
  rule requires explicit salting for (a tool vertex's in-degree is
  O(total turns), like the payment-graph hubs in reference
  ``results/bit-count.txt``).

Generation is fully distributed and deterministic: every column is a pure
function of ``(conv_id, turn_idx, seed)`` through ``xxhash64`` — no driver-side
RNG, no ``Date.now``-style nondeterminism — so the same seed yields bit-identical
tables at any parallelism, and the generator itself scales to the 10^12-turn
regime (it is ``spark.range`` + ``explode(sequence(...))``, never a collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.graph import GraphFrame

#: deterministic vocabulary for synthetic turn text (public, arbitrary tokens)
_VOCAB = [
    "graph", "vertex", "edge", "frontier", "superstep", "shuffle", "partition",
    "sample", "estimate", "distance", "rank", "label", "component", "triangle",
    "seed", "batch", "arrow", "column", "join", "agg", "scan", "sink", "hub",
    "salt", "bitset", "level", "visit", "reach", "mean", "sigma", "tool", "turn",
]


def _u01(*cols) -> F.Column:
    """Deterministic uniform [0,1) from hashed columns (xxhash64 → unit interval).

    ``pmod``, not ``abs(...) %``: under ANSI mode (Spark 4 default)
    ``abs(Long.MIN_VALUE)`` overflows — a 2^-64-per-row landmine at 10^12 rows.
    """
    return F.pmod(F.xxhash64(*cols), F.lit(1_000_000)) / F.lit(1_000_000.0)


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    mean_turns: int = 8,
    n_tools: int = 16,
    tool_prob: float = 0.3,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic transcript table (FIXTURES.md §1 invariants).

    - ``(conv_id, turn_idx)`` unique, ``turn_idx`` dense ``0..len-1`` per conv;
    - ``ts`` strictly increasing with ``turn_idx`` within a conversation;
    - ``tool`` non-null on a deterministic subset of assistant turns;
    - every column a pure function of ``(conv_id, turn_idx, seed)``.
    """
    convs = spark.range(n_convs).select(F.col("id").alias("cid"))
    # conversation length in [2, 2*mean_turns], deterministic per conv
    length = (
        F.lit(2)
        + (_u01(F.col("cid"), F.lit(seed)) * F.lit(2 * mean_turns - 1)).cast("int")
    )
    turns = convs.select("cid", F.explode(F.sequence(F.lit(0), length - 1)).alias("turn_idx"))

    h = F.xxhash64(F.col("cid"), F.col("turn_idx"), F.lit(seed))
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    words = [
        F.element_at(
            vocab,
            (
                F.pmod(
                    F.xxhash64(F.col("cid"), F.col("turn_idx"), F.lit(seed + 10 + i)),
                    F.lit(len(_VOCAB)),
                )
                + 1
            ).cast("int"),
        )
        for i in range(6)
    ]
    out = (
        turns.withColumn(
            "role",
            F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
            .when(F.pmod(h, F.lit(10)) < 1, F.lit("tool"))
            .otherwise(F.lit("assistant")),
        )
        .withColumn(
            "tool",
            F.when(
                (F.col("role") == "assistant")
                & (_u01(F.col("cid"), F.col("turn_idx"), F.lit(seed + 1)) < tool_prob),
                F.concat(
                    F.lit("tool_"),
                    F.pmod(
                        F.xxhash64(F.col("cid"), F.col("turn_idx"), F.lit(seed + 2)),
                        F.lit(n_tools),
                    ).cast("string"),
                ),
            ),
        )
        .withColumn("text", F.concat_ws(" ", *words))
        # ts: strictly increasing within conv — 60 s grid plus a per-turn jitter < 60 s
        .withColumn(
            "ts",
            F.to_timestamp(
                F.lit("2025-01-01 00:00:00").cast("timestamp")
                + F.make_interval(
                    secs=(F.col("cid") % 86400) + F.col("turn_idx") * 60 + F.pmod(h, F.lit(59))
                )
            ),
        )
    )
    return out.select(
        F.format_string("c%06d", F.col("cid")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
    )


def reply_edges(transcripts: DataFrame) -> DataFrame:
    """(src_key, dst_key) string-keyed reply edges: turn i → turn i+1 per conv.

    One window ``lead`` (reference-analog: consecutive-arc construction in
    ``webgraph from arcs``); shuffle key is ``conv_id`` — co-located with any
    Iceberg partitioning on ``conv_id``.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.select(
            F.concat_ws(":", F.lit("T"), "conv_id", F.col("turn_idx").cast("string")).alias("src"),
            F.lead(
                F.concat_ws(":", F.lit("T"), "conv_id", F.col("turn_idx").cast("string"))
            ).over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )


def tool_edges(transcripts: DataFrame) -> DataFrame:
    """(src_key, dst_key) edges from a turn to the shared vertex of its tool.

    Tool vertices are shared across every conversation — deliberate hub skew
    (north rule: explicit salting for hub vertices; see functions.salting).
    """
    return transcripts.where(F.col("tool").isNotNull()).select(
        F.concat_ws(":", F.lit("T"), "conv_id", F.col("turn_idx").cast("string")).alias("src"),
        F.concat_ws(":", F.lit("tool"), "tool").alias("dst"),
    )


def tool_response_edges(transcripts: DataFrame) -> DataFrame:
    """(tool vertex) → (turn after the invoking turn): the tool's output feeds
    the next turn. Makes tool vertices broadcast hubs (out- as well as
    in-degree), connecting conversations into one short-diameter component —
    the regime the north rule's BFS-supersteps benchmark measures."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = F.lead(
        F.concat_ws(":", F.lit("T"), "conv_id", F.col("turn_idx").cast("string"))
    ).over(w)
    return (
        transcripts.withColumn("_next", nxt)
        .where(F.col("tool").isNotNull() & F.col("_next").isNotNull())
        .select(
            F.concat_ws(":", F.lit("tool"), "tool").alias("src"),
            F.col("_next").alias("dst"),
        )
    )


def transcript_edges(transcripts: DataFrame, tool_responses: bool = False) -> DataFrame:
    """Union of reply + tool-invocation (+ optional tool-response) edges."""
    e = reply_edges(transcripts).unionByName(tool_edges(transcripts))
    if tool_responses:
        e = e.unionByName(tool_response_edges(transcripts))
    return e


def transcript_graph(transcripts: DataFrame, tool_responses: bool = False) -> GraphFrame:
    """Full ingest: transcripts → string-keyed edges → densified GraphFrame.

    The dense-id mapping lands in ``graph.nodes`` — the analog of the
    reference's ``*.nodes`` side files (``data/github/github.nodes``).
    """
    # transcript_edges emits distinct pairs by construction (lead is unique per
    # (conv_id, turn_idx); tool edges unique per turn) -> skip the dedup shuffle
    return GraphFrame.from_any_edges(transcript_edges(transcripts, tool_responses), dedup=False)

"""Transcript source: the engine's canonical input table and its edge derivation.

Per ``BASELINE.json`` ``input_hint`` the engine's primary input is an
Iceberg/Parquet table of multi-turn conversation / agent transcripts::

    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

The reference consumes a pre-built WebGraph edge list (``webgraph from arcs``,
reference ``data/erdos-renyi/webgraph-from.sh:2``); here the analogous ingest is
*deriving* the reply/tool-invocation graph from the transcript table:

- **reply edges**: turn ``(conv_id, i)`` → ``(conv_id, i+1)``;
- **tool-invocation edges**: turn → the tool's shared vertex. Tools are shared
  across all conversations, which creates exactly the hub-vertex skew the north
  rule requires explicit salting for (a tool vertex's in-degree is
  O(total turns), like the payment-graph hubs in reference
  ``results/bit-count.txt``);
- optional **tool-response edges**: tool vertex → the turn after the invoking
  turn.

All three kinds come from ONE window ``lead`` over
``partitionBy(conv_id).orderBy(turn_idx)`` that projects ``(key, next, tool)``
per turn, then ``inline`` of up to three ``(src, dst)`` structs per row: one
shuffle of the table on ``conv_id`` (which Iceberg/Parquet partitioning makes
partition-local at scale) and one scan, whatever kinds are asked for.

Generation is fully distributed and deterministic: every column is a pure
function of ``(conv_id, turn_idx, seed)`` through ``xxhash64`` — no driver-side
RNG, no ``Date.now``-style nondeterminism — so the same seed yields bit-identical
tables at any parallelism, and the generator itself scales to the 10^12-turn
regime (it is ``spark.range`` + ``explode(sequence(...))``, never a collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.graph import GraphFrame

#: deterministic vocabulary for synthetic turn text (public, arbitrary tokens)
_VOCAB = [
    "graph", "vertex", "edge", "frontier", "superstep", "shuffle", "partition",
    "sample", "estimate", "distance", "rank", "label", "component", "triangle",
    "seed", "batch", "arrow", "column", "join", "agg", "scan", "sink", "hub",
    "salt", "bitset", "level", "visit", "reach", "mean", "sigma", "tool", "turn",
]


def _u01(*cols) -> str:
    """SQL for a deterministic uniform [0,1) from hashed columns (xxhash64 →
    unit interval).

    ``pmod``, not ``abs(...) %``: under ANSI mode (Spark 4 default)
    ``abs(Long.MIN_VALUE)`` overflows — a 2^-64-per-row landmine at 10^12 rows.
    """
    return f"pmod(xxhash64({', '.join(map(str, cols))}), 1000000) / 1000000D"


# The generator and the edge derivation are SQL expressions, one selectExpr
# per projection: every pyspark.sql.functions call makes several py4j round
# trips (PySpark captures its call site in the JVM), so the same projections
# built from Columns took 1,518 py4j calls and ~0.2 s of driver time per
# build, against 36 calls and ~0.08 s here. Literal types reach the hashes:
# integers stay INT and fractions are doubles (``D``), as
# ``tests/test_transcripts.py::test_generator_is_pinned`` checks.


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
    # conversation length in [2, 2*mean_turns], deterministic per conv
    length = f"2 + CAST({_u01('id', seed)} * {2 * mean_turns - 1} AS INT)"
    turns = spark.range(n_convs).selectExpr(
        "id AS cid", f"explode(sequence(0, {length} - 1)) AS turn_idx"
    )
    h = f"xxhash64(cid, turn_idx, {seed})"
    vocab = f"split('{' '.join(_VOCAB)}', ' ')"
    words = ", ".join(
        f"element_at({vocab}, CAST(pmod(xxhash64(cid, turn_idx, {seed + 10 + i}), {len(_VOCAB)}) + 1 AS INT))"
        for i in range(6)
    )
    role = f"CASE WHEN turn_idx % 2 = 0 THEN 'user' WHEN pmod({h}, 10) < 1 THEN 'tool' ELSE 'assistant' END"
    tool = f"concat('tool_', CAST(pmod(xxhash64(cid, turn_idx, {seed + 2}), {n_tools}) AS STRING))"
    # ts: strictly increasing within conv — 60 s grid plus a per-turn jitter < 60 s
    secs = f"cid % 86400 + turn_idx * 60 + pmod({h}, 59)"
    return turns.selectExpr(
        "format_string('c%06d', cid) AS conv_id",
        "CAST(turn_idx AS INT) AS turn_idx",
        f"{role} AS role",
        f"concat_ws(' ', {words}) AS text",
        f"CASE WHEN {role} = 'assistant' AND {_u01('cid', 'turn_idx', seed + 1)} < {float(tool_prob)!r}D"
        f" THEN {tool} END AS tool",
        "to_timestamp(CAST('2025-01-01 00:00:00' AS TIMESTAMP)"
        f" + make_interval(0, 0, 0, 0, 0, 0, {secs})) AS ts",
    )


def transcript_edges(transcripts: DataFrame, tool_responses: bool = False) -> DataFrame:
    """(src_key, dst_key) edges of every kind, from one window over the table.

    Each turn ``T:c:i`` emits up to three edges: the reply ``T:c:i → T:c:i+1``,
    the tool invocation ``T:c:i → tool:x`` and, with ``tool_responses``, the
    tool response ``tool:x → T:c:i+1`` (the tool's output feeds the next turn,
    which makes tool vertices out- as well as in-degree hubs and joins the
    conversations into one short-diameter component). An edge whose end is
    missing (the last turn, a turn with no tool) is dropped.
    """
    key = "concat_ws(':', 'T', conv_id, CAST(turn_idx AS STRING))"
    turns = transcripts.selectExpr(
        f"{key} AS key",
        f"lead({key}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next",
        "concat('tool:', tool) AS tool",
    )
    kinds = [("key", "next"), ("key", "tool")] + ([("tool", "next")] if tool_responses else [])
    pairs = ", ".join(f"named_struct('src', {s}, 'dst', {d})" for s, d in kinds)
    return turns.selectExpr(f"inline(array({pairs}))").where("src IS NOT NULL AND dst IS NOT NULL")


def transcript_graph(transcripts: DataFrame, tool_responses: bool = False) -> GraphFrame:
    """Full ingest: transcripts → string-keyed edges → densified GraphFrame.

    The dense-id mapping lands in ``graph.nodes`` — the analog of the
    reference's ``*.nodes`` side files (``data/github/github.nodes``).
    """
    # transcript_edges emits distinct pairs by construction (each turn emits at
    # most one edge of each kind, and the kinds differ in their endpoints'
    # vertex types) -> skip the dedup shuffle
    return GraphFrame.from_any_edges(transcript_edges(transcripts, tool_responses), dedup=False)

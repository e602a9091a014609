"""Superstep iteration support: lineage cutting, resumable checkpoints, metrics.

The reference is batch-only (SURVEY.md §2.7); "streaming" in this engine means the
superstep loops that drive BFS / PageRank / connected components. Spark has no
fixpoint operator, so iteration lives on the driver, and two problems must be
handled explicitly (SURVEY.md §4):

1. **Lineage blow-up**: hundreds of supersteps of `union`/`join` build an
   unboundedly deep plan. `Checkpointer.cut` truncates it — either via
   `localCheckpoint` (fast, in-memory) or, when a checkpoint dir is configured,
   by writing the state to Parquet and reading it back.
2. **Resume** (north rule): Parquet checkpoints carry a JSON manifest per
   superstep (superstep number, row count, wall seconds, state path), so a new
   driver can resume any BFS/PageRank run from the last completed superstep.

`SuperstepMetrics` records per-superstep wall time and frontier size and exposes
`supersteps_per_min` — the benchmark unit in BASELINE.json.

Every fixpoint loop (CC, SCC, k-core, SSSP, MSF, PageRank, label
propagation) runs inside one `fixpoint_scope(spark, rows, per_partition)`.
Its policy, for ``rows`` ≈ the loop's per-superstep exchange volume:

- ``spark.sql.shuffle.partitions`` = the loop width, ceil(rows /
  per_partition), at least 2 and never above the session value;
- AQE off;
- auto-broadcast off iff width ≤ 8 and rows ≤ ``SMALL_STATE_ROWS``.

All three are restored LIFO on exit, exceptions included. Loops whose
superstep is "recompute the state, stop when no row changed" hand the loop
itself to `converge`: lazy checkpoint, one materializing ``sum(changed)``
aggregate (one Spark job per superstep), metrics, and a hard error when the
superstep budget runs out.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class SuperstepMetrics:
    name: str = "superstep"
    records: list[dict] = field(default_factory=list)
    _t0: float = field(default_factory=time.monotonic)

    def record(self, superstep: int, rows: int, wall_s: float, **extra) -> None:
        self.records.append(
            {"superstep": superstep, "rows": rows, "wall_s": wall_s, **extra}
        )

    @property
    def total_supersteps(self) -> int:
        return len(self.records)

    @property
    def total_wall_s(self) -> float:
        return sum(r["wall_s"] for r in self.records)

    def supersteps_per_min(self) -> float:
        w = self.total_wall_s
        return 60.0 * self.total_supersteps / w if w > 0 else float("inf")

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "supersteps": self.total_supersteps,
            "wall_s": round(self.total_wall_s, 3),
            "supersteps_per_min": round(self.supersteps_per_min(), 2),
            "per_superstep": self.records,
        }


class Checkpointer:
    """Cuts DataFrame lineage every ``every`` supersteps; optionally durable.

    With ``checkpoint_dir`` set, state is written to
    ``{dir}/{name}/step={k}/`` as Parquet and a manifest line is appended to
    ``{dir}/{name}/manifest.jsonl`` — the per-partition lineage lives in the
    Parquet footer/partition layout, the logical lineage in the manifest.
    """

    #: every Nth lineage cut goes through a Parquet roundtrip instead of
    #: localCheckpoint. Measured on Spark 4.1.2 (tests/test_checkpoint_
    #: salting.py::test_chained_local_checkpoints_stay_flat): a CHAIN of
    #: localCheckpoints — each checkpointed from the previous one — starts
    #: multiplying its per-cut job cost ~2.5× per link past ~12 links (0.2 s
    #: → 22 s by link 20 on a 7-row table), even though both the logical
    #: plan (LogicalRDD) and rdd.toDebugString stay flat, so the cost is
    #: Spark-internal to the checkpoint chain itself. A Parquet write/read
    #: RESETS the chain (measured flat through 40+ iterations with a reset
    #: every 10). 12 sits just under the onset: short loops (pagerank 10,
    #: cc ~12 supersteps) pay at most one roundtrip, long fixpoints reset
    #: before the multiplier bites (measured: resets at 9/19/29 keep a
    #: 40-link chain at 0.14-0.37 s/cut).
    HARD_EVERY = 12

    def __init__(
        self,
        spark: SparkSession,
        name: str = "state",
        checkpoint_dir: str | None = None,
        every: int = 4,
        hard_every: int | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.dir = checkpoint_dir
        self.every = max(1, every)
        self.hard_every = self.HARD_EVERY if hard_every is None else max(1, hard_every)
        self._last_persisted: DataFrame | None = None
        self._n_cuts = 0
        self._tmpdir: str | None = None

    def _hard_cut(self, df: DataFrame) -> DataFrame:
        """Parquet-roundtrip lineage cut: resets the localCheckpoint chain.

        The cut directory is removed at interpreter exit (round-5 advice:
        long fixpoints otherwise accumulate Parquet copies of the loop state
        for the life of the process). Eager per-cut deletion would be unsafe:
        an accumulator folded through an EARLIER hard cut of the same
        Checkpointer (e.g. msf's forest) may be read lazily after later cuts.
        """
        import atexit
        import shutil
        import tempfile

        if self._tmpdir is None:
            self._tmpdir = tempfile.mkdtemp(prefix=f"ckpt_hard_{self.name}_")
            atexit.register(shutil.rmtree, self._tmpdir, ignore_errors=True)
        path = os.path.join(self._tmpdir, f"cut={self._n_cuts}")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # ------------------------------------------------------------------ paths
    def _step_path(self, step: int) -> str:
        return os.path.join(self.dir, self.name, f"step={step}")

    def _manifest_path(self) -> str:
        return os.path.join(self.dir, self.name, "manifest.jsonl")

    # ------------------------------------------------------------------ cut
    def cut(self, df: DataFrame, superstep: int, rows: int | None = None,
            wall_s: float | None = None, force: bool = False) -> DataFrame:
        """Return ``df`` with truncated lineage (and durable state if configured)."""
        if superstep % self.every != 0 and not force:
            return df
        if self.dir is None:
            return df.localCheckpoint(eager=True)
        path = self._step_path(superstep)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        os.makedirs(os.path.dirname(self._manifest_path()), exist_ok=True)
        with open(self._manifest_path(), "a") as f:
            f.write(
                json.dumps(
                    {
                        "superstep": superstep,
                        "path": path,
                        "rows": rows,
                        "wall_s": wall_s,
                        "ts": time.time(),
                    }
                )
                + "\n"
            )
        return out

    def step(self, df: DataFrame, superstep: int, rows: int | None = None,
             wall_s: float | None = None, lazy: bool = False) -> DataFrame:
        """Per-superstep state handover: durable cut on the cadence, eager
        localCheckpoint otherwise — state lineage is truncated EVERY superstep
        either way (the idiom every iterative operator needs), so plans stay
        O(1)-deep between durable cuts too.

        ``lazy=True`` returns a NON-eager localCheckpoint: the caller's next
        action (typically the convergence aggregate every fixpoint loop runs
        anyway) both computes the superstep AND materializes the checkpoint —
        one Spark job per superstep instead of two. Only valid when the
        caller immediately runs an action that touches every partition (a
        global aggregate does); durable cuts ignore it (the Parquet write is
        the materialization).

        Every ``hard_every``-th cut is a Parquet roundtrip regardless of
        cadence or laziness — chained localCheckpoints accumulate
        Spark-internal per-cut cost past ~12 links (see HARD_EVERY) and the
        roundtrip resets the chain."""
        self._n_cuts += 1
        if self._n_cuts % self.hard_every == 0 and self.dir is None:
            return self._hard_cut(df)
        if superstep % self.every != 0 or self.dir is None:
            return df.localCheckpoint(eager=not lazy)
        return self.cut(df, superstep, rows=rows, wall_s=wall_s)

    # ------------------------------------------------------------------ resume
    def latest(self) -> tuple[DataFrame, int] | None:
        """(state, superstep) of the last durable checkpoint, or None."""
        if self.dir is None:
            return None
        mp = self._manifest_path()
        if not os.path.exists(mp):
            return None
        last = None
        with open(mp) as f:
            for line in f:
                line = line.strip()
                if line:
                    last = json.loads(line)
        if last is None:
            return None
        return self.spark.read.parquet(last["path"]), int(last["superstep"])


#: per-(session, conf key) stack of saved values: nested scopes restore in
#: LIFO order. Concurrent loops on ONE session remain session-global —
#: documented limit.
_CONF_STACKS: dict[tuple[int, str], list[str | None]] = {}


@contextmanager
def _conf_scope(spark: SparkSession, key: str, value: str):
    stack = _CONF_STACKS.setdefault((id(spark), key), [])
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    stack.append(old)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        prev = stack.pop()
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def aqe_disabled(spark: SparkSession):
    """Scope ``spark.sql.adaptive.enabled`` to false (LIFO restore)."""
    return _conf_scope(spark, "spark.sql.adaptive.enabled", "false")


#: state rows up to which a narrow fixpoint runs without auto-broadcast
SMALL_STATE_ROWS = 32_000
#: narrowest loop width a scope picks
_WIDTH_FLOOR = 2


def _width(session_width: int, rows: int, per_partition: int = 64_000) -> int:
    return min(session_width, max(_WIDTH_FLOOR, -(-int(rows) // per_partition)))


@contextmanager
def fixpoint_scope(spark: SparkSession, rows: int, per_partition: int = 64_000):
    """Session settings for a superstep loop (the policy in the module
    docstring); yields the loop width. Build loop-carried edge tables inside
    the scope: they then hash-partition at the loop width, the per-superstep
    joins co-partition and the edge table never re-exchanges (guide §2.4).

    Measured rationale:

    - Width. A superstep over 10k-row state at the session's 32 partitions
      pays 32-task scheduling per exchange for ~300-row partitions: the
      10k-chain CC went 5.1 s → 3.7 s from sizing alone. The default 64k
      rows/partition lands on both optima of a two-scale pagerank sweep
      (local[32]: sf0.1 ≈ 105k edges → width 2, 6.2–7.7 s vs 14–15.4 s at
      32; a 10× replica → width 17, ≈10.1 s vs ≈16.5 s at 32). Loops whose
      supersteps run pointer-jump self-joins (several stages each) pass
      250k: scheduling, not row throughput, dominates them (10× replica
      CC: width 4 ≈ 9.3–10.6 s, width 17 ≈ 13.1–13.3 s, 32 ≈ 11.8–12.3 s).
      The floor of 2 (was 4): 10k-cycle SCC 32.3 → 24.2 s, 10k-chain CC
      5.9 → 5.1 s; the sf0.1 kernels are flat across floors 1/2/4.
    - AQE. The loops are fixed-shape plans over small keyed state: AQE has
      nothing to re-plan but pays per-superstep stage scheduling and
      re-optimization (pagerank 10 iterations at sf0.1: ≈17 s with AQE vs
      ≈12 s without; narrow CC at width 4: 3.8 vs 3.4 s). Only a pointer-
      jump loop at width > 8 measured a gain from AQE (10k-chain at width
      32: ≈6 s vs ≈15 s), which needs > 2M state rows at 250k per
      partition; no workload reaches it, so AQE is always off here.
    - Broadcast. With small co-partitioned state a broadcast hash join
      re-ships the label table every superstep AND submits one extra Spark
      job for the broadcast exchange (10k-chain CC: 2 jobs/superstep → 1),
      while the sort-merge join is exchange-free. At sf0.1's 100k-row state
      the broadcast join measures ~3% faster warm, hence the rows gate.
    """
    width = _width(int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
                   rows, per_partition)
    with ExitStack() as scopes:
        scopes.enter_context(
            _conf_scope(spark, "spark.sql.shuffle.partitions", str(width))
        )
        scopes.enter_context(aqe_disabled(spark))
        if width <= 8 and rows <= SMALL_STATE_ROWS:
            scopes.enter_context(
                _conf_scope(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")
            )
        yield width


def converge(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    changed: Column,
    ckpt: Checkpointer,
    metrics: SuperstepMetrics,
    max_supersteps: int,
    first: int = 1,
) -> DataFrame:
    """Run supersteps ``first..max_supersteps`` until none changes a row.

    ``step(state, it)`` returns the next state carrying ``_old`` (the
    previous value of whatever ``changed`` compares); the state it receives
    is the previous superstep's checkpointed frame, ``_old`` included (or
    ``state`` itself for the first superstep). Each superstep is a lazy
    checkpoint materialized by ONE aggregate, ``sum(changed)`` — one Spark
    job per superstep. Returns the converged state without ``_old``; raises
    once the budget is spent, since a truncated fixpoint is a wrong answer.
    Call it inside a :func:`fixpoint_scope`.
    """
    for it in range(first, max_supersteps + 1):
        t0 = time.monotonic()
        state = ckpt.step(
            step(state, it), it, wall_s=time.monotonic() - t0, lazy=True
        )
        n = int(state.agg(F.sum(changed.cast("long"))).collect()[0][0] or 0)
        metrics.record(it, n, time.monotonic() - t0)
        if n == 0:
            return state.drop("_old")
    raise RuntimeError(
        f"{name}: not converged within max_supersteps={max_supersteps}"
    )


@contextmanager
def adaptive_shuffle_width(spark: SparkSession):
    """Frontier-driven variant of :func:`fixpoint_scope`'s width for
    loops whose exchange volume VARIES superstep to superstep (BFS frontiers,
    Brandes lockstep sweeps): yields an ``update(rows)`` callable the loop
    invokes with its estimate of the NEXT superstep's exchange rows (typically
    ``max(|visited|, |frontier| · avg_degree)`` — both already counted every
    superstep for convergence), re-sizing ``spark.sql.shuffle.partitions``
    between supersteps. Spark re-plans each superstep's DataFrames lazily, so
    a conf change between actions takes effect on the next superstep's jobs.

    The width never exceeds the session value captured at entry (large
    frontiers keep full cluster parallelism; the session value is restored on
    exit), so this only trims the small-frontier tail — the BFS ramp-up/
    drain-out supersteps and small-reach seed sets that otherwise pay
    session-width task scheduling per exchange for near-empty partitions.
    """
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    def update(rows: int) -> None:
        spark.conf.set("spark.sql.shuffle.partitions", str(_width(cur, rows)))

    with _conf_scope(spark, "spark.sql.shuffle.partitions", str(cur)):
        yield update

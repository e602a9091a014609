"""Superstep iteration support: lineage cutting, resumable checkpoints, metrics.

The reference is batch-only (SURVEY.md §2.7); "streaming" in this engine means the
superstep loops that drive BFS / PageRank / connected components. Spark has no
fixpoint operator, so iteration lives on the driver, and two problems must be
handled explicitly (SURVEY.md §4):

1. **Lineage blow-up**: hundreds of supersteps of `union`/`join` build an
   unboundedly deep plan. `Checkpointer.cut` truncates it — either via
   :func:`local_cut`, the package's only ``localCheckpoint`` call (a local
   checkpoint kept as serialized executor blocks that spill to disk), or,
   when a checkpoint dir is configured, by writing the state to Parquet and
   reading it back.
2. **Resume** (north rule): Parquet checkpoints carry a JSON manifest per
   superstep (superstep number, state path), so a new driver can resume any
   BFS/PageRank run from the last completed superstep.

Every superstep of every loop that takes a `SuperstepMetrics` runs inside
one :func:`superstep` context, which appends one record to it:

- ``superstep``, ``rows`` (the loop's own count: changed or frontier rows)
  and ``wall_s`` (the body's wall time), plus any loop-specific extras;
- the Spark counters of the jobs the body ran: ``jobs``, ``stages`` (run,
  not skipped), ``tasks``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
  ``shuffle_write_records``, ``executor_ms``, ``memory_spilled_bytes`` and
  ``disk_spilled_bytes`` (what the tasks spilled, sized in memory and on
  disk) and ``evicted_stages`` (stages that ran but that the status store
  dropped before they could be read, so absent from the other sums). They
  are None when the store cannot be read: bookkeeping never fails a
  superstep. ``counters=False`` metrics (an operator's own, when its caller
  passes none) skip them.

The counters come from Spark's status store. The context never sets a job
group: it diffs the job ids of the CURRENT group (none, or an outer
caller's) before and after the body, so an enclosing tracer that counts its
jobs by group keeps counting them. The ``name:superstep`` label goes into
the job description, and the caller's description is restored on exit.
`supersteps_per_min` is the benchmark unit in BASELINE.json.

Every fixpoint loop (CC, SCC, k-core, k-truss, SSSP, MSF, PageRank, label
propagation) runs inside one `fixpoint_scope(spark, rows, per_partition)`.
Its policy, for ``rows`` ≈ the loop's per-superstep exchange volume:

- ``spark.sql.shuffle.partitions`` = the loop width, ceil(rows /
  per_partition), at least 2 and never above the session value;
- AQE off;
- auto-broadcast off iff width ≤ 8 and rows ≤ ``SMALL_STATE_ROWS``.

All three are restored LIFO on exit, exceptions included.

Two drivers own the loop itself, each superstep inside one `superstep`
record:

- `converge`, for "recompute the state until no row changes" (CC, SCC
  trim and coloring, SSSP, dedup, k-core, k-truss, MSF's pointer jump):
  lazy checkpoint, one materializing ``sum(changed)`` aggregate (one Spark
  job per superstep), the caller's ``**extra`` fields in every record (SCC's
  ``phase``, MSF's ``phase`` and ``round``), and a hard error when the
  superstep budget runs out;
- `sweep`, for "expand a frontier until a level is empty" (frontier BFS,
  Brandes' forward σ sweep, SCC's backward membership sweep): the
  anti-join against the visited set, a lazy cut of the new level that its
  one count materializes, the visited fold (coalesced to the loop width) on
  the Checkpointer's cadence, AQE off and a width that tracks the frontier.
  It returns the level sizes; the caller decides whether a cut-off sweep is
  a result or an error.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from functools import lru_cache
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext, StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Spark counters of every superstep record (see the module docstring)
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "executor_ms",
    "memory_spilled_bytes",
    "disk_spilled_bytes",
    "evicted_stages",
)


@dataclass
class SuperstepMetrics:
    name: str = "superstep"
    records: list[dict] = field(default_factory=list)
    #: read the Spark counters into every record; the metrics an operator
    #: makes for itself when its caller passes none keep timings only
    counters: bool = True

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


@lru_cache(maxsize=1)
def _status(sc):
    """(listener bus, status tracker, status store, java.util.Arrays) of a
    context, looked up once: every py4j lookup is a JVM round trip."""
    jsc = sc._jsc.sc()
    return jsc.listenerBus(), sc._jsc.statusTracker(), jsc.statusStore(), sc._jvm.java.util.Arrays


def _group_jobs(sc, group: str | None) -> set[int] | None:
    """Ids of the jobs the status store holds for ``group`` (None: no group)
    once the listener bus that feeds it drains; None if it does not in 10 s."""
    bus, tracker, _, arrays = _status(sc)
    try:
        bus.waitUntilEmpty()
        # one py4j round trip for the whole array; iterating a JavaArray costs
        # one per element (measured ~70 ms for 600 job ids)
        s = arrays.toString(tracker.getJobIdsForGroup(group))[1:-1]
    except Py4JJavaError:  # TimeoutException
        return None
    return {int(x) for x in s.split(", ")} if s else set()


def _job_counters(sc, job_ids) -> dict:
    """Counters of these jobs and their stages' last attempts. The store
    evicts skipped stages first, so a missing stage counts as evicted only
    while fewer stages are left than the jobs ran; a missing job counts its
    result stage, which every job runs."""
    store = _status(sc)[2]
    c = dict.fromkeys(COUNTERS, 0)
    stage_ids: set[int] = set()
    ran = 0
    for jid in job_ids:
        try:
            job = store.job(jid)
            ids, done = job.stageIds().mkString(","), job.numCompletedStages()
        except Py4JJavaError:  # NoSuchElementException: evicted
            ids, done = "", 1
        stage_ids.update(int(x) for x in ids.split(",") if x)
        ran += done
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            row = (1, st.numCompleteTasks(), st.shuffleReadBytes(), st.shuffleWriteBytes(),
                   st.shuffleWriteRecords(), st.executorRunTime(),
                   st.memoryBytesSpilled(), st.diskBytesSpilled())
        except Py4JJavaError:  # NoSuchElementException: evicted
            continue
        for k, v in zip(COUNTERS[1:-1], row):  # stages .. disk_spilled_bytes
            c[k] += v
    c["jobs"], c["evicted_stages"] = len(job_ids), max(0, ran - c["stages"])
    return c


@contextmanager
def superstep(metrics: SuperstepMetrics, it: int, **extra):
    """Time the body as superstep ``it`` of ``metrics`` and append its record
    (fields in the module docstring). Yields the record: the body sets
    ``rec["rows"]`` (default 0) and any extra it learns on the way. A body
    that raises appends nothing; the job description is restored either way.
    """
    sc = SparkContext.getOrCreate()
    desc = sc.getLocalProperty("spark.job.description")
    if metrics.counters:
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = _group_jobs(sc, group)
    rec = {"superstep": it, "rows": 0, "wall_s": 0.0, **extra}
    sc.setJobDescription(f"{metrics.name}:{it}")
    t0 = time.monotonic()
    try:
        yield rec
    finally:
        rec["wall_s"] = time.monotonic() - t0
        sc.setJobDescription(desc)
    if metrics.counters:
        after = _group_jobs(sc, group)
        unread = before is None or after is None
        rec.update(dict.fromkeys(COUNTERS) if unread else _job_counters(sc, after - before))
    metrics.records.append(rec)


def local_cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` with its lineage cut by a local checkpoint, kept as serialized
    blocks that spill to disk (PySpark's ``StorageLevel.MEMORY_AND_DISK``),
    so a cut block is never dropped. Spark's default level for
    ``localCheckpoint`` keeps one JVM object per row, and ``SizeTracker``
    re-walks the growing row vector with ``SizeEstimator``: one eager cut of
    a 9,270-row shuffled state measured 150 executor-ms that way against 38
    serialized (local[2], C1-only JVM with SerialGC; 69 vs 33 ms on a
    default JVM). ``eager=False`` leaves the materialization of the cut to
    the caller's next action, but creating the cut still plans ``df`` into
    an RDD: with AQE on, that runs every shuffle stage upstream of the cut
    (the transcript edges' two window exchanges: 2 jobs). A lazy cut runs no
    job only with AQE off, which is why the loops make theirs inside
    ``fixpoint_scope`` or ``aqe_disabled``."""
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def free_cut(df: DataFrame) -> None:
    """Drop the blocks of a :func:`local_cut` result, which must not be read
    again: its lineage is gone. ``DataFrame.unpersist`` does not reach them."""
    df._jdf.logicalPlan().rdd().unpersist(False)


class Checkpointer:
    """Cuts DataFrame lineage every ``every`` supersteps; optionally durable.

    With ``checkpoint_dir`` set, state is written to
    ``{dir}/{name}/step={k}/`` as Parquet and a manifest line is appended to
    ``{dir}/{name}/manifest.jsonl`` — the per-partition lineage lives in the
    Parquet footer/partition layout, the logical lineage in the manifest.
    """

    #: every Nth lineage cut goes through a Parquet roundtrip instead of
    #: local_cut. A CHAIN of local cuts (each cut from a plan over the
    #: previous one) multiplies its per-cut cost past ~12 links: measured
    #: on Spark 4.1.2 with the pointer-jump chain of tests/test_checkpoint_
    #: salting.py::test_chained_local_checkpoints_stay_flat, the next
    #: superstep's ``queryExecution().optimizedPlan().stats()`` took 3 ms at
    #: link 2, 0.20 s at link 16 and 8.7 s at link 20, while analysis,
    #: optimization and physical planning stayed at or under 34 ms. That
    #: call computes the size estimate: Spark sizes a join as the product of
    #: its inputs' estimates and a local cut keeps its input's estimate, so
    #: a self-joining loop squares the estimate at every cut (its bit length
    #: was 250, 499, 997, 1,994, 3,986 and 7,971 over links 2-7), whatever
    #: the storage level. A Parquet read sizes the state from its files,
    #: which resets the estimate (measured flat through 40+ iterations with
    #: a reset every 10). 12 sits just under the onset: short loops
    #: (pagerank 10, cc ~12 supersteps) pay at most one roundtrip, long
    #: fixpoints reset before the multiplier bites (measured: resets at
    #: 9/19/29 keep a 40-link chain at 0.14-0.37 s/cut).
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
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, self.name, "manifest.jsonl")

    # ------------------------------------------------------------------ cut
    def cut(self, df: DataFrame, superstep: int) -> DataFrame:
        """Return ``df`` with truncated lineage (and durable state if
        configured) on the cadence, ``df`` itself between. Every
        ``hard_every``-th local cut is a Parquet roundtrip instead, as in
        :meth:`step`: a sweep's visited set is cut from its previous cut."""
        if superstep % self.every != 0:
            return df
        if self.dir is None:
            self._n_cuts += 1
            return self._hard_cut(df) if self._n_cuts % self.hard_every == 0 else local_cut(df)
        path = os.path.join(self.dir, self.name, f"step={superstep}")
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        os.makedirs(os.path.dirname(self._manifest_path()), exist_ok=True)
        line = {"superstep": superstep, "path": path, "ts": time.time()}
        with open(self._manifest_path(), "a+b") as f:
            f.seek(max(0, f.seek(0, os.SEEK_END) - 1))
            torn = f.read(1) not in (b"", b"\n")  # a crash mid-append left half a line
            f.write(b"\n" * torn + (json.dumps(line) + "\n").encode())
        return out

    def step(self, df: DataFrame, superstep: int, lazy: bool = False) -> DataFrame:
        """Per-superstep state handover: durable cut on the cadence, eager
        :func:`local_cut` (serialized blocks) otherwise — state lineage is
        truncated EVERY superstep either way (the idiom every iterative
        operator needs), so plans stay O(1)-deep between durable cuts too.

        ``lazy=True`` returns a NON-eager local cut: the caller's next
        action (typically the convergence aggregate every fixpoint loop runs
        anyway) both computes the superstep AND materializes the checkpoint —
        one Spark job per superstep instead of two. Only valid when the
        caller immediately runs an action that touches every partition (a
        global aggregate does); durable cuts ignore it (the Parquet write is
        the materialization).

        Every ``hard_every``-th cut is a Parquet roundtrip regardless of
        cadence or laziness — chained local cuts accumulate
        Spark-internal per-cut cost past ~12 links (see HARD_EVERY) and the
        roundtrip resets the chain."""
        self._n_cuts += 1
        if self._n_cuts % self.hard_every == 0 and self.dir is None:
            return self._hard_cut(df)
        if superstep % self.every != 0 or self.dir is None:
            return local_cut(df, eager=not lazy)
        return self.cut(df, superstep)

    # ------------------------------------------------------------------ resume
    def latest(self) -> tuple[DataFrame, int] | None:
        """(state, superstep) of the last durable checkpoint, or None. A line
        that does not parse (torn by a crash mid-append) is skipped."""
        if self.dir is None or not os.path.exists(self._manifest_path()):
            return None
        last = None
        with open(self._manifest_path()) as f:
            for line in f:
                try:
                    last = json.loads(line)
                except json.JSONDecodeError:
                    pass
        return None if last is None else (
            self.spark.read.parquet(last["path"]), int(last["superstep"]))


@contextmanager
def _conf_scope(spark: SparkSession, key: str, value: str):
    """Set ``key`` to ``value`` for the body, then restore the value read on
    entry (unset if there was none), exceptions included. Nested scopes
    restore LIFO; concurrent loops on ONE session still share its confs."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def aqe_disabled(spark: SparkSession):
    """Scope ``spark.sql.adaptive.enabled`` to false (LIFO restore)."""
    return _conf_scope(spark, "spark.sql.adaptive.enabled", "false")


#: state rows up to which a narrow fixpoint runs without auto-broadcast
SMALL_STATE_ROWS = 32_000
#: narrowest loop width a scope picks
_WIDTH_FLOOR = 2


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions``: the width every
    exchange plans at, and the ceiling of every loop width."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


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
    width = _width(shuffle_partitions(spark), rows, per_partition)
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
    **extra,
) -> DataFrame:
    """Run supersteps ``first..max_supersteps`` until none changes a row.

    ``step(state, it)`` returns the next state, on whose columns
    ``changed`` is evaluated: usually a carried ``_old`` (the previous value
    of whatever ``changed`` compares), or a value the next superstep would
    act on (k-core's ``deg < k``: a survivor whose degree among the last
    survivors fell below k). The state it receives is the previous
    superstep's checkpointed frame, ``_old`` included (or ``state`` itself
    for the first superstep). Each superstep is a lazy checkpoint
    materialized by ONE aggregate, ``sum(changed)`` — one Spark job per
    superstep, recorded with ``rows`` = the changed count and ``extra``.
    Returns the converged state without ``_old``; raises once the budget is
    spent, since a truncated fixpoint is a wrong answer.

    Call it inside a :func:`fixpoint_scope`.
    """
    for it in range(first, max_supersteps + 1):
        with superstep(metrics, it, **extra) as rec:
            state = ckpt.step(step(state, it), it, lazy=True)
            rec["rows"] = int(state.agg(F.sum(changed.cast("long"))).collect()[0][0] or 0)
        if rec["rows"] == 0:
            return state.drop("_old")
    raise RuntimeError(
        f"{name}: not converged within max_supersteps={max_supersteps}"
    )


def sweep(
    frontier: DataFrame,
    visited: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    keys: list[str],
    ckpt: Checkpointer,
    metrics: SuperstepMetrics,
    rows: int,
    fanout: int = 1,
    first: int = 1,
    max_supersteps: int | None = None,
    **extra,
) -> tuple[DataFrame, list[int]]:
    """Expand ``frontier`` level by level from superstep ``first`` until a
    level is empty or superstep ``max_supersteps`` has run.

    Superstep ``it`` takes ``expand(frontier, it)``: rows in ``visited``'s
    column order, distinct on ``keys`` (``visited``'s leading columns). The
    ones not yet visited on ``keys`` form a lazy cut that the superstep's one
    ``count()`` materializes; that count is the record's ``rows`` (written
    with ``extra``, the final empty level included). The new rows fold into
    ``visited``, coalesced to the superstep's width, on ``ckpt``'s cadence
    and are the next frontier.

    Runs with AQE off (with it on, every exchange of a superstep is its own
    Spark job: a 30-superstep BFS measured 189 jobs with it, 72 without), at
    a width sized before each superstep to max(visited rows, frontier rows ·
    ``fanout``) from the counts it makes anyway: ``rows`` is the visited
    count at entry (an upper bound will do), and also stands for the entry
    frontier. Returns ``visited`` and the new-row count of each level; the
    sweep converged iff the last is 0.
    """
    spark = ckpt.spark
    levels: list[int] = []
    n_front, it = rows, first
    with aqe_disabled(spark), adaptive_shuffle_width(spark) as upd:
        while True:
            width = upd(max(rows, n_front * fanout))
            with superstep(metrics, it, **extra) as rec:
                new = local_cut(
                    expand(frontier, it).join(visited.select(*keys), keys, "left_anti"),
                    eager=False,
                )
                rec["rows"] = n_front = new.count()
                if n_front:
                    # a union keeps both sides' partitions and, with AQE off,
                    # nothing merges them: the coalesce keeps a deep sweep's
                    # tasks per superstep from growing with its depth
                    visited = ckpt.cut(visited.union(new).coalesce(width), it)
            levels.append(n_front)
            if n_front == 0 or (max_supersteps is not None and it >= max_supersteps):
                return visited, levels
            frontier, rows, it = new, rows + n_front, it + 1


@contextmanager
def adaptive_shuffle_width(spark: SparkSession):
    """Frontier-driven variant of :func:`fixpoint_scope`'s width for
    loops whose exchange volume VARIES superstep to superstep (BFS frontiers,
    Brandes lockstep sweeps): yields an ``update(rows)`` callable the loop
    invokes with its estimate of the NEXT superstep's exchange rows (typically
    ``max(|visited|, |frontier| · avg_degree)`` — both already counted every
    superstep for convergence), re-sizing ``spark.sql.shuffle.partitions``
    between supersteps and returning the width it set. Spark re-plans each
    superstep's DataFrames lazily, so a conf change between actions takes
    effect on the next superstep's jobs.

    The width never exceeds the session value captured at entry (large
    frontiers keep full cluster parallelism; the session value is restored on
    exit), so this only trims the small-frontier tail — the BFS ramp-up/
    drain-out supersteps and small-reach seed sets that otherwise pay
    session-width task scheduling per exchange for near-empty partitions.
    """
    cur = shuffle_partitions(spark)

    def update(rows: int) -> int:
        width = _width(cur, rows)
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        return width

    with _conf_scope(spark, "spark.sql.shuffle.partitions", str(cur)):
        yield update

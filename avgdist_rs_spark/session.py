"""SparkSession factory with engine defaults.

The settings mirror what we would pass to ``spark-submit`` on a real cluster
(see ``BENCH/BASELINE.md``): AQE on for scan-heavy relational work, but the
iterative superstep loops pin their own shuffle partitioning (see
``plans.graph.GraphFrame``) because AQE partition coalescing would break the
stable co-partitioning that keeps per-superstep joins shuffle-free.

Python workers fork from the engine's own daemon
(:mod:`avgdist_rs_spark.worker_daemon`, set as ``spark.python.daemon.module``).
Stock PySpark workers re-read the directory of every zip archive on their
import path at the start of each task (``pyspark.zip``, the Spark core jar,
py4j): 0.27 CPU-s per task on a 4-core host, more than the numpy BFS kernel
of a small graph. The engine daemon re-reads an archive only when it
changed, which takes that cost to ~0. Its workers also end every task with
``gc.collect()`` then ``gc.freeze()``: the stock daemon's full collection
after each task would otherwise rescan the ~73,000 objects numpy, pandas
and pyarrow leave on a worker's heap, 42-49 ms per task. A task's own cyclic
garbage is still collected; an object that survives a task and only later
joins an unreachable cycle is freed when the worker exits. The daemon and
every engine UDF need this package on the workers' import path, so the
session puts the package root there (``spark.executorEnv.PYTHONPATH``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: the directory holding this package; Spark adds it to the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "avgdist-rs-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. On a cluster the same
    engine code runs unchanged under ``spark-submit --py-files``; only the
    master URL and executor sizing differ.
    """
    cpus_s = str(cpus) if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus_s}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE must not coalesce away the stable partitioning used by superstep joins.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "avgdist_rs_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

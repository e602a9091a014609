"""Sessionization: event streams → conversation-shaped tables → graphs.

The north rule's input is a transcript table; real pipelines *derive* that
shape from raw event logs. ``sessionize`` cuts a user's event stream into
sessions at inactivity gaps (the standard 30-minute web rule).

Pure window functions (lag + conditional cumulative sum) — one shuffle on
``user_id``, partition-local everything else; exactly mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Events + (session_idx, turn_idx): new session when the gap from the
    previous event of the same user exceeds ``gap_minutes``."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col("event_id"))
    gap_s = gap_minutes * 60
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)) > gap_s),
        1,
    ).otherwise(0)
    out = events.withColumn("_new", new_sess).withColumn(
        "session_idx", F.sum("_new").over(w).cast("long")
    )
    ws = Window.partitionBy(user_col, "session_idx").orderBy(F.col(ts_col), F.col("event_id"))
    return out.withColumn("turn_idx", (F.row_number().over(ws) - 1).cast("int")).drop("_new")


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_idx, n_events, started, ended, duration_s)."""
    s = sessionize(events, gap_minutes)
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("started"),
        F.max("ts").alias("ended"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_s"),
    )


"""Table IO: Iceberg-gated reads, results/metrics sinks (reference S1/S6/S7)."""

import json
import os

import pytest

from avgdist_rs_spark.sources.tables import (
    iceberg_available,
    read_table,
    write_metrics,
    write_results,
)
from avgdist_rs_spark.streaming.superstep import SuperstepMetrics


def test_read_table_parquet_path(spark):
    df = read_table(spark, "/root/testdata/sf0.001/nation.parquet")
    assert df.count() == 25


def test_iceberg_gated(spark):
    # this container ships no Iceberg jars: the probe must say so, and a
    # catalog-table name must fail with an actionable error, not a JVM stack
    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="Iceberg"):
        read_table(spark, "warehouse.db.transcripts")


def test_write_results_roundtrip(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "id * id AS sq")
    path = write_results(df, str(tmp_path), "squares")
    back = spark.read.parquet(path)
    assert back.count() == 10 and set(back.columns) == {"id", "sq"}
    path_j = write_results(df, str(tmp_path), "squares_j", fmt="json")
    assert spark.read.json(path_j).count() == 10


def test_write_metrics_jsonl(tmp_path):
    m = SuperstepMetrics(name="bfs")
    m.records += [
        {"superstep": 1, "rows": 100, "wall_s": 0.5},
        {"superstep": 2, "rows": 50, "wall_s": 0.25},
    ]
    p = write_metrics(m, str(tmp_path), run_id="r1")
    rec = json.loads(open(p).read().strip())
    assert rec["run_id"] == "r1" and rec["supersteps"] == 2
    assert len(rec["per_superstep"]) == 2 and rec["per_superstep"][0]["wall_s"] == 0.5

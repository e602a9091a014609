"""Run any registered engine query via spark-submit and sink the result.

The user-facing delivery entry (north rule: spark-submit --py-files):

    spark-submit --master local[32] --py-files /tmp/avgdist_rs_spark.zip \\
        scripts/run_query.py --query eg_pagerank \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/results [--fmt parquet|json]

    scripts/run_query.py --list          # enumerate available queries

Results land under ``{out}/{query}`` through ``sources.tables.write_results``
(S6); per-run telemetry is appended to ``{out}/metrics.jsonl`` (S7).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--query", help="queries() key (see --list)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/avgdist_results")
    ap.add_argument("--fmt", default="parquet", choices=["parquet", "json"])
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--list", action="store_true", help="list query names and exit")
    args = ap.parse_args()

    import __spark_entry__ as em

    qs = {**em.queries(), **em.extra_queries()}
    if args.list:
        for name in qs:
            print(name)
        return
    if not args.query or args.query not in qs:
        ap.error(f"--query must be one of {len(qs)} names (see --list)")

    from pyspark.sql import SparkSession

    from avgdist_rs_spark.sources.tables import write_metrics, write_results
    from avgdist_rs_spark.streaming.superstep import SuperstepMetrics, superstep

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"avgdist-query-{args.query}")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    met = SuperstepMetrics(name=args.query)
    with superstep(met, 1) as rec:
        df = qs[args.query](spark, args.sf_dir)
        path = write_results(df, args.out, args.query, fmt=args.fmt)
    rec["rows"] = spark.read.format(args.fmt).load(path).count()
    write_metrics(met, args.out, run_id=f"{args.query}-{int(time.time())}")
    print(f"{args.query}: {rec['rows']} rows -> {path} ({rec['wall_s']:.2f}s)")
    spark.stop()


if __name__ == "__main__":
    main()

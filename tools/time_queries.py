"""Ad-hoc per-query timing: median of N reps at an SF dir.

Usage: python tools/time_queries.py [--sf DIR] [--reps N] q_name [q_name ...]

The bench's own ±15% host-noise finding (commit 178aabd) means single
runs can't adjudicate regressions; this prints per-query min/median/max
so before/after comparisons use medians.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark.session import get_spark

    spark = get_spark("time-queries")
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.range(256).repartition(
        int(spark.sparkContext.defaultParallelism))
    warm.mapInPandas(lambda it: it, warm.schema).count()

    qs = entrymod.queries()
    for name in args.queries:
        fn = qs[name]
        runs = []
        for _ in range(args.reps):
            t0 = time.time()
            fn(spark, args.sf).count()
            runs.append(time.time() - t0)
            spark.catalog.clearCache()
        print(
            f"{name}: median={statistics.median(runs):.2f}s "
            f"min={min(runs):.2f} max={max(runs):.2f} reps={args.reps}"
        )


if __name__ == "__main__":
    main()

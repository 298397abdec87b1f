"""Count Spark jobs (and wall time) per registry query — the
noise-immune A/B metric for action-count optimizations (r14 used the
same statusTracker mechanism ad hoc; this pins it as a tool).

Usage: python tools/count_jobs.py [--sf DIR] [--reps N] q_name [...]

Prints per query: jobs for the FULL run (build + ``collect()``), the
median, min and max wall of the reps, and every rep's wall — single
runs cannot adjudicate a regression (host noise), so compare medians
against the spread. The action is ``collect()``, as in the benchmark
and ``tools/check_oracle.py``: a ``count()`` lets Catalyst prune every
column the count does not need (a histogram query's whole prefix-sum
can vanish), so it would not measure the work the query's result
costs. Job ids are counted via a fresh job group per rep, so
concurrent sessions don't pollute the count.

Each query first runs one untimed warm-up rep: the first run of a
query in a session is 1.5-3.5x slower than the second (JIT and codegen
of that plan), so without it the median of a few reps straddles one
cold run and warm ones. Jobs are counted on every timed rep, not on
the warm-up.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import uuid

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

    spark = get_spark("count-jobs")
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.range(256).repartition(int(sc.defaultParallelism))
    warm.mapInPandas(lambda it: it, warm.schema).count()

    qs = entrymod.queries()
    for name in args.queries:
        fn = qs[name]
        fn(spark, args.sf).collect()  # untimed warm-up (docstring)
        spark.catalog.clearCache()
        n_jobs, walls = [], []
        for _ in range(args.reps):
            group = str(uuid.uuid4())
            sc.setJobGroup(group, name)
            t0 = time.time()
            fn(spark, args.sf).collect()
            walls.append(time.time() - t0)
            sc.setJobGroup(None, None)
            jids = sc.statusTracker().getJobIdsForGroup(group)
            n_jobs.append(len(jids))
            spark.catalog.clearCache()
        print(
            f"{name}: jobs={n_jobs} wall_median="
            f"{statistics.median(walls):.2f}s min={min(walls):.2f} "
            f"max={max(walls):.2f} reps={args.reps} "
            f"walls=[{' '.join(f'{w:.2f}' for w in walls)}]"
        )


if __name__ == "__main__":
    main()

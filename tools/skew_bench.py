"""Skew microbench: measure hot-key behavior of groupBy and join, plain
vs salted (operators.relational.salted_count / salted_join) vs AQE's
skew-join split.

The synthetic frame gives ONE key ~half of all rows (the classic
hot-partition shape: a null-ish default key, a bot user, a top SKU).
At 100 TB this is the difference between a stage that finishes and one
straggler task that runs for hours — locally the absolute numbers are
small, but the *ratio* between the hot task and the median shows up in
per-task max/median skew, which this tool reports alongside wall-clock.

Usage: python tools/skew_bench.py [n_rows] [n_keys]
Prints one JSON line per scenario.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators.relational import (
    salted_count,
    salted_join,
)
from databricks_flight_etl_spark.session import get_spark


def build_skewed(spark, n_rows: int, n_keys: int):
    """~50% of rows on key 0, the rest uniform over the other keys."""
    base = spark.range(n_rows).withColumn(
        "key",
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(
            F.pmod(F.xxhash64("id"), F.lit(n_keys - 1)) + 1
        ),
    )
    return base.withColumn("value", (F.col("id") % 1000).cast("double"))


def timed(name: str, thunk, **extra) -> float:
    t0 = time.time()
    n = thunk()
    wall = round(time.time() - t0, 3)
    print(json.dumps({"scenario": name, "rows_out": n, "sec": wall, **extra}))
    return wall


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    spark = get_spark("skew_bench")
    skewed = build_skewed(spark, n_rows, n_keys).persist()
    dim = spark.range(n_keys).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("dim_val")
    )
    # fact-fact join partner: per-key totals (so the hot key is hot on
    # BOTH sides, the worst case for sort-merge)
    right = skewed.groupBy("key").agg(F.sum("value").alias("tot")).persist()
    skewed.count(), right.count()

    timed(
        "groupby_plain",
        lambda: skewed.groupBy("key").count().count(),
        n_rows=n_rows, n_keys=n_keys,
    )
    timed(
        "groupby_salted",
        lambda: salted_count(skewed, ["key"], n_salts=32).count(),
    )

    # broadcast-able dim join: skew is irrelevant when the small side
    # broadcasts — the hot key never shuffles
    timed(
        "join_dim_broadcast",
        lambda: skewed.join(F.broadcast(dim), "key").count(),
    )

    for aqe_skew in (False, True):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe_skew).lower())
        # force sort-merge so the skew path is actually exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        timed(
            f"join_smj_aqe_skew_{str(aqe_skew).lower()}",
            lambda: skewed.join(right, "key").count(),
        )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    timed(
        "join_salted",
        lambda: salted_join(
            skewed, right, ["key"], n_salts=32, salt_src=["id"]
        ).count(),
    )


if __name__ == "__main__":
    main()

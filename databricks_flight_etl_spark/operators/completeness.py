"""Q1 completeness: non-null counts, drop-all-null columns, null profile.

Reference sites: NB:167–176 (single-pass non-null agg + drop), NB:184–194
(count + null agg + Python-side ratios). Observed behavior on the 2008
slice: drops exactly ``TailNum``; 15 columns have nulls with
``CancellationCode`` at 97.3% (DBC[11], DBC[29]).

All three ops are single-pass aggregations — linear, shuffle-light, safe
at 100 TB (a 29-column non-null profile is one HashAggregate regardless
of row count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans import _quote

__all__ = ["nonnull_counts", "drop_allnull_columns", "null_profile",
           "dataset_card", "null_drift"]


def _count_aggs(cols: list[str]) -> list[Column]:
    """The one aggregate behind every completeness count: the row total
    (``__total``), then the non-null count of each of ``cols``
    (``__nn0``, ``__nn1``, … — positional, so no column name can clash
    with another output). ``count`` never yields NULL, so over zero
    rows every count reads 0. ``pipeline.run_flight_pipeline`` runs
    these in its fused profile pass. Built as SQL text over quoted
    names, like ``plans._size_aggs`` and for the same reason: any name
    works, and no per-column ``F.col`` call-site capture runs."""
    return [F.expr("count(1) AS __total")] + [
        F.expr(f"count({_quote(c)}) AS __nn{i}")
        for i, c in enumerate(cols)
    ]


def _ratio_frame(long: DataFrame, ratio_decimals: int) -> DataFrame:
    """(column, n_null, total) rows → the null-profile schema
    (column, n_null, null_ratio). A zero total gives a NULL ratio."""
    return long.select(
        F.col("column"),
        F.col("n_null"),
        F.round(F.try_divide(F.col("n_null"), F.col("total")),
                ratio_decimals).alias("null_ratio"),
    )


def nonnull_counts(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-row DataFrame: per-column non-null count (reference NB:167–169,
    one count per column in a single agg)."""
    cols = cols or df.columns
    return df.agg(*_count_aggs(cols)[1:]).toDF(*cols)


def drop_allnull_columns(df: DataFrame) -> tuple[DataFrame, list[str]]:
    """Drop columns whose non-null count is 0 (reference NB:167–176).

    Schema-independent: whatever made the column all-null (in the
    reference, the TailNum Integer mis-typing nulling alphanumeric tail
    numbers — SURVEY §1.3) the transform only looks at observed nulls.
    Returns (narrowed_df, dropped_column_names). One aggregate job; the
    collected row is a single row of counts (driver-safe).
    """
    counts = nonnull_counts(df).first()
    dropped = [c for c, n in zip(df.columns, counts) if n == 0]
    return (df.drop(*dropped) if dropped else df), dropped


def null_profile(df: DataFrame, cols: list[str] | None = None,
                 ratio_decimals: int = 6) -> DataFrame:
    """Long-form per-column null report: (column, n_null, null_ratio).

    Reference NB:184–194 computes null counts via agg then derives
    ratios driver-side in Python; here the ratio stays in-plan (one
    aggregate computing all non-null counts + the total, then an
    unpivot). Ratio rounded for float-stable comparison (SURVEY §7.4).
    """
    cols = cols or df.columns
    wide = df.agg(*_count_aggs(cols))
    total = F.col("__total")
    long = wide.select(
        total,
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                (total - F.col(f"__nn{i}")).alias("n_null"),
            )
            for i, c in enumerate(cols)
        ])).alias("p"),
    ).select("p.column", "p.n_null", total.alias("total"))
    return _ratio_frame(long, ratio_decimals)


def dataset_card(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass per-column profile card — the 'dataset datasheet'
    generator: (column, n_nonnull, n_distinct, min_v, max_v, top_v,
    top_n). Every column melts to STRING (so one plan serves any
    schema; min/max are therefore lexicographic — a profile, not
    arithmetic), the melt groups once on (column, value), and all
    stats derive from that count table: the shuffle carries one row
    per distinct (column, value), never the data twice. Top value
    ties break toward the smaller string for determinism."""
    from pyspark.sql import Window

    use = cols or df.columns
    melted = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast("string").alias("value"),
                )
                for c in use
            ])
        ).alias("m")
    ).select("m.column", "m.value")
    counts = (
        melted.where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("column").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    ranked = counts.withColumn("__rn", F.row_number().over(w))
    stats = counts.groupBy("column").agg(
        F.sum("cnt").alias("n_nonnull"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    top = ranked.where(F.col("__rn") == 1).select(
        "column", F.col("value").alias("top_v"),
        F.col("cnt").alias("top_n"),
    )
    return stats.join(top, "column", "left").orderBy("column")


def null_drift(
    a: DataFrame, b: DataFrame, cols: list[str] | None = None,
    ratio_decimals: int = 6,
) -> DataFrame:
    """Per-column null-rate drift between two table versions — the
    data-quality monitor for ingestion regressions (a column suddenly
    going null-heavy is the classic silent upstream break). One tiny
    aggregate per side, joined on the column name:
    (column, null_ratio_a, null_ratio_b, drift = b − a)."""
    pa = null_profile(a, cols, ratio_decimals).select(
        "column", F.col("null_ratio").alias("null_ratio_a")
    )
    pb = null_profile(b, cols, ratio_decimals).select(
        "column", F.col("null_ratio").alias("null_ratio_b")
    )
    return (
        pa.join(pb, "column")
        .select(
            "column", "null_ratio_a", "null_ratio_b",
            F.round(F.col("null_ratio_b") - F.col("null_ratio_a"),
                    ratio_decimals).alias("drift"),
        )
        .orderBy("column")
    )

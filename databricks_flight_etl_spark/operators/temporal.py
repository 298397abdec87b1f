"""Temporal joins Spark lacks as built-ins: as-of join and
time-bucketed range join (SURVEY §2.11-class extensions; the reference
has no temporal joins at all — its only join is the calendar spine ⟕,
SURVEY §2.3).

Both are expressed as compositions of existing DataFrame ops per the
Spark-first rule: as-of = union + sorted window carry (one shuffle on
the key, a per-partition sorted scan, no range-condition join that
Catalyst would turn into a broadcast-nested-loop); range join =
equi-join on coarse time buckets + exact dedup of the bucket overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join_time", "fill_forward"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    how: str = "left",
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    ``right_ts`` ≤ ``left_ts`` within the same key group (backward
    as-of, inclusive — the semantics of DuckDB/pandas ASOF JOIN).

    Output: all left columns + right payload columns + ``__matched_ts``
    (the matched right timestamp; NULL when no match). ``how='inner'``
    drops unmatched left rows.

    Plan shape: tag + unionByName both sides, one shuffle partitioning
    by ``keys``, per-partition sort on (ts, side), then
    ``last(_, ignorenulls)`` carries the most recent right values
    forward into each left row. Right rows sort BEFORE left rows at
    equal timestamps, making the match inclusive. Cost is
    sort-of-union, not |left|×|right| — the naive range-predicate join
    Catalyst can't hash. Hot keys: pre-salt by coarse time bucket or
    let AQE split (the window itself is the skew point, as with any
    per-key ordered op).

    Right payload column names must not collide with left's (rename
    before calling); ties on ``right_ts`` within a key resolve to an
    arbitrary tied row — pre-aggregate the right side if that matters.
    """
    rpayload = [c for c in right.columns if c not in keys and c != right_ts]
    lpayload = [c for c in left.columns if c not in keys and c != left_ts]
    overlap = set(rpayload) & set(lpayload)
    if overlap:
        raise ValueError(f"rename right columns colliding with left: {overlap}")

    rtypes = {f.name: f.dataType for f in right.schema.fields}
    ltypes = {f.name: f.dataType for f in left.schema.fields}

    left_part = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *lpayload,
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in rpayload],
        F.lit(None).cast(rtypes[right_ts]).alias("__rts"),
    )
    right_part = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpayload],
        *rpayload,
        F.col(right_ts).alias("__rts"),
    )
    u = left_part.unionByName(right_part)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc_nulls_first(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(c, ignorenulls=True).over(w).alias(c) for c in rpayload
    ]
    matched = F.last("__rts", ignorenulls=True).over(w).alias("__matched_ts")

    out = (
        u.select(*keys, "__ts", "__is_left", *lpayload, *carried, matched)
        .where(F.col("__is_left") == 1)
        .select(
            *keys,
            F.col("__ts").alias(left_ts),
            *lpayload,
            *rpayload,
            "__matched_ts",
        )
    )
    if how == "inner":
        out = out.where(F.col("__matched_ts").isNotNull())
    elif how != "left":
        raise ValueError(f"asof_join supports 'left'/'inner', got {how!r}")
    return out


def range_join_time(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_minutes: int = 5,
) -> DataFrame:
    """All (left, right) pairs within the same key group whose
    timestamps differ by at most ``tolerance_minutes`` (|lt − rt| ≤ tol,
    inclusive).

    The naive ``|lt − rt| ≤ tol`` predicate gives Catalyst nothing to
    hash on → broadcast-nested-loop. Instead both sides are bucketed to
    ``tolerance``-sized time cells and the right side additionally maps
    to each neighbor cell (−1, 0, +1): any qualifying pair shares a
    (key, cell) coordinate, so the join is a plain equi-join; the exact
    predicate then prunes the corner cases. Shuffle key is
    (keys, cell) — bounded fan-out of 3× on the right side only.
    """
    cell_us = tolerance_minutes * 60 * 1_000_000
    lcell = (F.unix_micros(F.col(left_ts)) / cell_us).cast("long")
    rcell = (F.unix_micros(F.col(right_ts)) / cell_us).cast("long")

    lhs = left.withColumn("__cell", lcell)
    rhs = right.withColumn(
        "__cell",
        F.explode(F.array(rcell - 1, rcell, rcell + 1)),
    )
    joined = lhs.join(rhs, keys + ["__cell"])
    within = (
        F.abs(F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(right_ts)))
        <= F.lit(cell_us)
    )
    return joined.where(within).drop("__cell")


def fill_forward(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_cols: list[str],
    backward: bool = False,
) -> DataFrame:
    """Per-key last-observation-carried-forward over ``order_col`` —
    the gap-fill step of sensor/metric backfills (and the usual prelude
    to an as-of join when the right side is sparse). Each column in
    ``value_cols`` gets a ``{col}_filled`` twin holding the most recent
    non-null value at or before the row (with ``backward=True``, a
    second pass also pulls the NEXT non-null value back across leading
    nulls — standard bfill-after-ffill).

    Plan: one window sort per direction, partitioned on the keys —
    shuffles once on the key, scales with key cardinality like every
    per-key window here. ``F.last(ignorenulls)`` over an unbounded-
    preceding frame is whole-stage-codegen'd; no Python."""
    from pyspark.sql import Window

    fwd = Window.partitionBy(*key_cols).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = df
    for c in value_cols:
        out = out.withColumn(
            f"{c}_filled", F.last(F.col(c), ignorenulls=True).over(fwd)
        )
    if backward:
        bwd = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for c in value_cols:
            # last(ignorenulls) over the DESCENDING frame = the nearest
            # FOLLOWING non-null (first() there would grab the farthest)
            out = out.withColumn(
                f"{c}_filled",
                F.coalesce(
                    F.col(f"{c}_filled"),
                    F.last(F.col(c), ignorenulls=True).over(bwd),
                ),
            )
    return out

"""Q6 timeliness: per-period counts + calendar-spine gap detection.

Reference sites: NB:363–380 (derive date, per-day counts), NB:385–401
(min/max collect → ``spark.range`` spine via string-interpolated
``expr("date_add('{min}', id)")`` → left join → days with count 0).

Re-engineered fully in-plan: the spine is ``sequence(min_d, max_d)`` +
``explode`` over the one-row min/max aggregate — no collect, no SQL
string interpolation (SURVEY §2.8 G5 calls that out as an anti-pattern).
The spine side is tiny (one row per day) so Catalyst broadcasts it.
A pass that has grouped by day anyway hands its per-day counts to
``day_coverage_of_counts``, which lays the same spine out locally.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..partitioning import local_df

__all__ = ["per_period_counts", "date_spine", "day_coverage", "day_coverage_of_counts",
           "missing_periods", "sequence_gaps", "ohlc_bars"]


def per_period_counts(df: DataFrame, ts_col: str, period: str = "day") -> DataFrame:
    """(period_start date, n) counts — reference NB:379
    ``groupBy(DepTime_Date).count()`` generalized to any trunc unit."""
    if period == "day":
        key = F.to_date(F.col(ts_col))
    else:
        key = F.date_trunc(period, F.col(ts_col)).cast("date")
    return df.groupBy(key.alias("period")).agg(F.count(F.lit(1)).alias("n"))


def date_spine(df: DataFrame, ts_col: str) -> DataFrame:
    """One row per calendar day between min and max of ``ts_col``
    (inclusive) — reference NB:385–391 without the collect()/expr()
    round-trip: agg(min,max) → sequence → explode, all lazy."""
    bounds = df.agg(
        F.min(F.to_date(F.col(ts_col))).alias("mn"),
        F.max(F.to_date(F.col(ts_col))).alias("mx"),
    )
    return bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day")
    )


def day_coverage(df: DataFrame, ts_col: str) -> DataFrame:
    """Full spine ⟕ per-day counts with zero-fill: (day, n_events).

    The join mirrors reference NB:397–399 (left join + coalesce(count,0));
    returning the whole coverage table subsumes the missing-day filter and
    certifies the join itself."""
    counts = per_period_counts(df, ts_col, "day")
    spine = date_spine(df, ts_col)
    return (
        spine.join(
            F.broadcast(counts.withColumnRenamed("n", "range_count")),
            spine.day == counts.period,
            "left",
        )
        .select(
            F.col("day"),
            F.coalesce(F.col("range_count"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


def day_coverage_of_counts(spark: SparkSession, counts: dict[date, int]) -> DataFrame:
    """:func:`day_coverage` over per-day row counts the caller already
    holds (``{day: n}``; rows with a NULL day left out): the same
    zero-filled min-to-max spine and the same schema, as a local
    relation, so collecting it runs no job. No counts give an empty
    table. For a pass that has grouped by day anyway
    (``pipeline.run_flight_pipeline``); :func:`day_coverage` stays the
    lazy form and the reference this one is tested against."""
    days = []
    if counts:
        first = min(counts)
        days = [first + timedelta(days=i)
                for i in range((max(counts) - first).days + 1)]
    return local_df(
        spark, [(d, counts.get(d, 0)) for d in days],
        "day date, n_events bigint",
    )


def missing_periods(df: DataFrame, ts_col: str) -> DataFrame:
    """Days in [min, max] with zero rows — reference NB:401
    ``.where(count == 0)``. (Observed on the 2008 flight slice: none,
    DBC[31].)"""
    return day_coverage(df, ts_col).where(F.col("n_events") == 0).select("day")


def sequence_gaps(
    df: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Per-key sequence completeness — the dropped-message monitor for
    feeds with a monotonically assigned id: within each key, a dense
    sequence should cover [min, max] exactly, so
    ``n_missing = (max − min + 1) − n_distinct`` counts the holes
    without ever materializing them (no spine join, no window — ONE
    hash aggregate; the count is distinct-based so replayed/duplicated
    messages don't mask real gaps). Output: (key..., n_distinct,
    min_seq, max_seq, n_missing)."""
    span = (
        F.max(F.col(seq_col)) - F.min(F.col(seq_col)) + F.lit(1)
    ).cast("long")
    return (
        df.where(F.col(seq_col).isNotNull())
        .groupBy(*[F.col(c) for c in key_cols])
        .agg(
            F.count_distinct(F.col(seq_col)).alias("n_distinct"),
            F.min(F.col(seq_col)).alias("min_seq"),
            F.max(F.col(seq_col)).alias("max_seq"),
            (span - F.count_distinct(F.col(seq_col)))
            .alias("n_missing"),
        )
    )


def interpolate_gaps(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-key daily series with missing days LINEARLY interpolated —
    the gap-repair twin of the spine/coverage operators (those COUNT
    holes; this fills them). Input: at most one row per (key, day);
    output: one row per key per day of the key's [min, max] span, with
    (key, day, value, filled):

    - observed days pass through (``filled = false``);
    - interior gaps get the linear interpolation between the nearest
      observed neighbors, weighted by calendar distance;
    - (with nulls present at the edges) leading/trailing gaps
      forward/backward-fill — no extrapolation invented.

    Plan: per-key (min, max) agg → sequence-explode spine (narrow after
    one small agg) → left join observations (equi on key+day) → TWO
    windows per key ordered by day (running last-non-null forward,
    first-non-null backward). No driver collect; scales with key count,
    and the windows are partitioned by key (never global). The
    interpolation fraction uses exact integer day arithmetic, so an
    engine replaying the same formula matches bit-for-bit up to the
    final rounding."""
    from pyspark.sql import Window

    obs = df.select(
        F.col(key_col), F.col(day_col).alias("__day"),
        F.col(value_col).cast("double").alias("__v"),
    )
    span = obs.groupBy(key_col).agg(
        F.min("__day").alias("__lo"), F.max("__day").alias("__hi")
    )
    spine = span.select(
        key_col,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__day"),
    )
    g = spine.join(obs, [key_col, "__day"], "left")
    d_int = F.datediff(F.col("__day"), F.lit("1970-01-01"))
    g = g.withColumn("__d", d_int)
    wb = (
        Window.partitionBy(key_col).orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(key_col).orderBy("__d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("__v", ignorenulls=True).over(wb)
    prev_d = F.last(
        F.when(F.col("__v").isNotNull(), F.col("__d")), ignorenulls=True
    ).over(wb)
    next_v = F.first("__v", ignorenulls=True).over(wf)
    next_d = F.first(
        F.when(F.col("__v").isNotNull(), F.col("__d")), ignorenulls=True
    ).over(wf)
    frac = (F.col("__d") - prev_d).cast("double") / (
        (next_d - prev_d).cast("double")
    )
    interp = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        ).otherwise(F.coalesce(prev_v, next_v))
    )
    return g.select(
        F.col(key_col),
        F.col("__day").alias(day_col),
        F.round(interp, decimals).alias(value_col),
        F.col("__v").isNull().alias("filled"),
    )


def period_over_period(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    period: str = "week",
    decimals: int = 6,
) -> DataFrame:
    """Latest-vs-previous period comparison per key — the WoW/MoM
    dashboard table: (key, cur, prev, delta, pct_change) for the two
    most recent COMPLETE-or-not periods present in the data (anchored
    on the max timestamp, so the result is a deterministic function of
    the input, not the wall clock). ``pct_change`` is null when the
    previous period is absent or zero.

    Sums are exact decimal(28,6) (engine/partition deterministic);
    the single division happens at the end. Plan: one scan → period
    truncation → one grouped agg over (key, period) → the two-period
    slice via a broadcast 1-row max-period join → pivot by
    conditional aggregation. Keys present in only one period surface
    with the other side null.

    ``period`` is validated against the units valid for BOTH
    ``date_trunc`` and an ``INTERVAL 1 <unit>`` literal — units
    date_trunc accepts but interval literals don't (e.g. 'quarter')
    would otherwise fail with an opaque parse error deep in the plan,
    and an unvalidated f-string into F.expr is an injection surface."""
    allowed = {"day", "week", "month", "year", "hour", "minute"}
    if period not in allowed:
        raise ValueError(
            f"period must be one of {sorted(allowed)}, got {period!r}"
        )
    per = F.date_trunc(period, F.col(ts_col))
    agg = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(key_col), per.alias("__p"))
        .agg(F.sum(F.col(value_col).cast("decimal(28,6)")).alias("__v"))
    )
    top = agg.agg(F.max("__p").alias("__p0"))
    sliced = agg.crossJoin(F.broadcast(top)).withColumn(
        "__prev_p",
        F.col("__p0") - F.expr(f"INTERVAL 1 {period}"),
    )
    cur = F.sum(F.when(F.col("__p") == F.col("__p0"), F.col("__v")))
    prev = F.sum(F.when(F.col("__p") == F.col("__prev_p"), F.col("__v")))
    out = (
        sliced.where(
            (F.col("__p") == F.col("__p0"))
            | (F.col("__p") == F.col("__prev_p"))
        )
        .groupBy(key_col)
        .agg(
            cur.cast("double").alias("cur"),
            prev.cast("double").alias("prev"),
        )
    )
    return out.select(
        key_col,
        "cur",
        "prev",
        F.round(
            F.coalesce(F.col("cur"), F.lit(0.0))
            - F.coalesce(F.col("prev"), F.lit(0.0)),
            decimals,
        ).alias("delta"),
        F.round(
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") != 0),
                (F.coalesce(F.col("cur"), F.lit(0.0)) - F.col("prev"))
                / F.col("prev"),
            ),
            decimals,
        ).alias("pct_change"),
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_us: int = 900_000_000,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Time-bucketed OHLC bars — the downsampling primitive of every
    metrics/market pipeline: per fixed epoch bucket (default 15 min,
    pure integer µs arithmetic — no calendar), the value at the
    earliest timestamp (open), max (high), min (low), and the value at
    the latest timestamp (close), plus row count. ``group_cols`` makes
    it per-series (per user, per symbol).

    Engine shape: ONE hash aggregate on (bucket[, groups]) — min_by/
    max_by partial-aggregate map-side like any other agg, so the
    shuffle carries one row per (bucket, group) regardless of input
    size. Tie-break: min_by/max_by order by (µs, ``value``) struct so
    equal-timestamp rows resolve deterministically on any engine.
    Null timestamps are dropped along with null values — a null-ts row
    has no bucket, and letting it form a NULL bucket would make that
    bucket's open/close ordering-dependent (the min_by struct's
    leading field would be null)."""
    us = F.unix_micros(F.col(ts_col))
    bucket = (us - us % F.lit(bucket_us)).alias("bucket_us")
    order = F.struct(us.alias("u"), F.col(value_col).alias("v"))
    gcols = list(group_cols or [])
    return (
        df.where(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(bucket, *gcols)
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(F.col(value_col)).alias("high"),
            F.min(F.col(value_col)).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("bucket_us", *gcols)
    )

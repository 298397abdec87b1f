"""Q3 consistency: per-column value-frequency tables.

Reference site: NB:227–231 — for every string column,
``groupBy(col).count().orderBy(col)`` (4 shuffles on the flight data,
7.6 s, DBC[15]). Here every column melts into one groupBy: one scan and
one shuffle however many columns are profiled.

At 100 TB an unbounded groupBy on a high-cardinality column is a
pathological shuffle; ``value_frequencies_capped`` bounds the output to
the top-k values per column and reports approximate distinct counts
instead (SURVEY §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import local_df
from ..plans import _col

__all__ = ["string_columns", "value_frequencies",
           "value_frequencies_capped", "fd_violations",
           "concentration_profile", "association_pairs"]


def string_columns(df: DataFrame) -> list[str]:
    """The reference's column selector: dtypes filtered to 'string'
    (NB:227)."""
    return [c for c, t in df.dtypes if t == "string"]


def value_frequencies(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Long-form frequency table (column, value, n) for the given (default:
    all string) columns. Every column melts into (column, value) rows —
    ``explode(array(struct(lit(c), col(c))))``, values coerced to their
    common type — and ONE groupBy counts them: a single scan and a single
    shuffle for any number of columns. NULL values form a group of their
    own. Sorted presentation is the caller's concern (hash-compared
    unordered); no columns gives an empty table.
    """
    cols = cols if cols is not None else string_columns(df)
    if not cols:
        return local_df(
            df.sparkSession, [], "column string, value string, n bigint"
        )
    melted = df.select(
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("column"), _col(c).alias("value"))
            for c in cols
        ])).alias("m")
    ).select("m.column", "m.value")
    return melted.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n")
    )


def value_frequencies_capped(
    df: DataFrame, cols: list[str] | None = None, top_k: int = 100,
    exact_distinct: bool = False,
) -> DataFrame:
    """Scale-safe variant: top-k values per column by frequency
    (ties broken by value) + per-column approx distinct count.

    Output: (column, value, n, rank, approx_n_distinct). The window
    runs over the *aggregated* (column, value, n) rows — small — not the
    raw data, so the only full-data shuffle is the groupBy.

    ``exact_distinct=True`` swaps the HLL sketch for an exact
    count(DISTINCT) — deterministic/oracle-comparable, but a second
    shuffle per column at scale; the sketch is the 100 TB default.
    Both melt into (column, approx_n_distinct) rows the way
    ``value_frequencies`` melts values, so any column name works; no
    columns gives an empty table.
    """
    cols = cols if cols is not None else string_columns(df)
    if not cols:
        return local_df(
            df.sparkSession, [],
            "column string, value string, n bigint, rank int, "
            "approx_n_distinct bigint",
        )
    freqs = value_frequencies(df, cols)
    w = Window.partitionBy("column").orderBy(F.desc("n"), F.asc("value"))
    capped = (
        freqs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )
    counter = F.countDistinct if exact_distinct else F.approx_count_distinct
    distinct = df.agg(*[
        counter(_col(c)).alias(f"__d{i}") for i, c in enumerate(cols)
    ])
    distinct_long = distinct.select(
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("column"),
                     F.col(f"__d{i}").alias("approx_n_distinct"))
            for i, c in enumerate(cols)
        ])).alias("d")
    ).select("d.column", "d.approx_n_distinct")
    return capped.join(F.broadcast(distinct_long), "column", "left")


def fd_violations(
    df: DataFrame,
    lhs: list[str],
    rhs: str,
    max_examples: int = 3,
) -> DataFrame:
    """Functional-dependency violation detector: keys where ``lhs → rhs``
    does NOT hold (one lhs value maps to ≥2 distinct rhs values) — the
    consistency check behind 'same order key must mean one order
    status', 'one user one signup country'. NULL rhs values are ignored
    (unknown doesn't contradict known).

    Output per violating key: the lhs columns, ``n_rhs_values`` and up
    to ``max_examples`` offending rhs values (sorted — deterministic).

    Plan: ONE hash aggregate on the lhs key (collect_set of rhs, which
    partial-aggregates map-side and is bounded per key by the true
    violation width — cap it upstream if a key can map to millions of
    values), then a narrow filter on set size. No join, no window.
    """
    agg = (
        df.where(F.col(rhs).isNotNull())
        .groupBy(*[F.col(c) for c in lhs])
        .agg(F.collect_set(F.col(rhs)).alias("__vals"))
        .where(F.size("__vals") >= 2)
    )
    return agg.select(
        *lhs,
        F.size("__vals").alias("n_rhs_values"),
        F.slice(F.array_sort("__vals"), 1, max_examples).alias("examples"),
    )


def concentration_profile(
    df: DataFrame, cols: list[str] | None = None, decimals: int = 6,
) -> DataFrame:
    """Per-column distribution-concentration profile: Shannon entropy
    (nats), Gini impurity (1 − Σp²), and the top value's share — the
    screen for near-constant columns (entropy ≈ 0: probably a filler
    or a broken extractor) and over-concentrated categoricals. NULL is
    counted as a value of its own (a 99%-null column should read as
    concentrated, not be silently ignored).

    Plan: value_frequencies' one melted groupBy on (column, value),
    then a per-column aggregate over the |distinct| frequency rows;
    p ln p / p² arithmetic runs on the tiny aggregated table, never the
    raw data.
    """
    cols = cols if cols is not None else string_columns(df)
    total = df.count()
    if total == 0:
        return local_df(
            df.sparkSession, [],
            "column string, n_distinct long, entropy double, "
            "gini double, top_share double",
        )
    freqs = value_frequencies(df, cols)
    p = F.col("n") / F.lit(float(total))
    return (
        freqs.groupBy("column")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), decimals).alias("entropy"),
            F.round(1.0 - F.sum(p * p), decimals).alias("gini"),
            F.round(F.max(p), decimals).alias("top_share"),
        )
        .orderBy("column")
    )


def association_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    decimals: int = 6,
    max_basket_size: int = 10_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Market-basket pair mining: for every item pair co-occurring in
    ≥ ``min_pair_count`` baskets, the classic association measures —
    support (share of baskets with both), confidence (P(b|a), the
    a→b rule), and lift (observed co-occurrence vs independence;
    > 1 = genuinely associated). Output
    (item_a, item_b, n_ab, support, confidence, lift), item_a < item_b.

    All measures derive from exact integer counts (basket-distinct, so
    duplicate order lines don't inflate) and divide at the end —
    deterministic, oracle-replayable. Plan: distinct → per-basket sizes
    (one agg; a mega-basket guard drops baskets with more than
    ``max_basket_size`` items BEFORE the pair join, since a single
    hot basket of n items emits n² pairs on one task) → per-item counts
    → pair counts via a basket-key self-join (quadratic only in kept
    basket size) → two broadcast-eligible joins to attach item counts.
    Dropped baskets are excluded from every denominator so support /
    confidence / lift stay internally consistent; their count is
    reported in ``stats_out['oversized_baskets']`` (if a dict is
    passed) and as a log warning. Only the 1-row size aggregate reaches
    the driver."""
    item_type = df.schema[item_col].dataType.simpleString()
    empty_schema = (
        f"item_a {item_type}, item_b {item_type}, n_ab long, "
        "support double, confidence double, lift double"
    )
    items = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    sizes = items.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
    tot = sizes.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            (F.col("__sz") > F.lit(max_basket_size)).cast("long")
        ).alias("n_over"),
    ).first()
    n_total = tot["n_total"] or 0
    n_over = tot["n_over"] or 0
    n_baskets = n_total - n_over
    if stats_out is not None:
        stats_out["n_baskets"] = n_baskets
        stats_out["oversized_baskets"] = n_over
    if n_over:
        import logging

        logging.getLogger(__name__).warning(
            "association_pairs: dropped %d basket(s) larger than "
            "max_basket_size=%d before pair generation",
            n_over, max_basket_size,
        )
        kept = sizes.where(F.col("__sz") <= F.lit(max_basket_size)) \
                    .select("__b")
        items = items.join(kept, "__b")
    if n_baskets == 0:
        return local_df(df.sparkSession, [], empty_schema)
    item_counts = items.groupBy("__i").agg(
        F.count(F.lit(1)).alias("__ni")
    )
    a = items.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = items.select(F.col("__b"), F.col("__i").alias("item_b"))
    pair_counts = (
        a.join(b, "__b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pair_count)
    )
    na = item_counts.select(
        F.col("__i").alias("item_a"), F.col("__ni").alias("__na")
    )
    nb = item_counts.select(
        F.col("__i").alias("item_b"), F.col("__ni").alias("__nb")
    )
    N = F.lit(float(n_baskets))
    return (
        pair_counts.join(na, "item_a").join(nb, "item_b")
        .select(
            "item_a", "item_b", "n_ab",
            F.round(F.col("n_ab") / N, decimals).alias("support"),
            F.round(
                F.col("n_ab") / F.col("__na").cast("double"), decimals
            ).alias("confidence"),
            F.round(
                F.col("n_ab") * N
                / (F.col("__na").cast("double")
                   * F.col("__nb").cast("double")),
                decimals,
            ).alias("lift"),
        )
    )

"""Generic relational helpers (SURVEY §2.2/2.3/2.5/2.11 X5).

The reference's relational surface is plain DataFrame calls (select,
filter, join, union, orderBy, limit); these helpers add the scale-aware
defaults the notebook lacks (broadcast hints, deterministic top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

__all__ = [
    "top_k",
    "join_broadcast_dim",
    "top_k_per_group",
    "salted_join",
    "salted_count",
    "latest_per_key",
    "merge_upsert",
    "scd2_history",
    "fuzzy_join",
    "zorder_key",
    "zorder_sort",
    "join_explosion_probe",
]


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """orderBy + limit — Catalyst compiles to TakeOrderedAndProject
    (no global sort materialization). Pass a TOTAL order (include a
    tie-break key) if the selected set must be deterministic."""
    return df.orderBy(*order).limit(k)


def join_broadcast_dim(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Fact ⋈ dimension with an explicit broadcast hint on the dim side —
    skips shuffling the fact table (reference J1's date spine join is the
    same shape, SURVEY §2.3)."""
    return fact.join(F.broadcast(dim), on, how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    n_salts: int = 16,
    how: str = "inner",
    salt_src: list[str] | None = None,
) -> DataFrame:
    """Equi-join resilient to hot keys on the LEFT side: the left gets a
    deterministic salt (hash of ``salt_src`` columns, default all left
    columns), the right is replicated once per salt value, and the join
    key becomes (keys + salt) — a hot key's rows now spread over
    ``n_salts`` tasks instead of one straggler.

    Cost: right side is exploded ``n_salts``× — use when right is modest
    (or itself pre-aggregated). AQE's skew-join split covers sort-merge
    skew automatically; salting is for when you also need the downstream
    partitioning spread (e.g. a following window/stateful op on the same
    key), or for broadcast-disabled environments. Result equals the
    plain join (semantics-preserving; pinned by tests).
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in (salt_src or left.columns)]),
        F.lit(n_salts),
    ).cast("int")
    salted_left = left.withColumn("__salt", salt)
    replicated_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_left.join(
        replicated_right, key_cols + ["__salt"], how
    ).drop("__salt")


def salted_count(
    df: DataFrame, keys: list[str], n_salts: int = 16
) -> DataFrame:
    """Two-stage salted groupBy-count: stage 1 aggregates on
    (keys + salt) so a hot key's stream spreads across ``n_salts``
    reducers; stage 2 combines the per-salt partials. Equal to
    ``groupBy(keys).count()`` (pinned by tests).

    Spark's map-side partial aggregation already de-skews plain
    counts/sums — reach for this pattern when the per-key state is what
    skews (collect_set/percentile/large sketches), substituting the
    appropriate partial/final pair for count/sum."""
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in df.columns]), F.lit(n_salts))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return partial.groupBy(*keys).agg(F.sum("__n").alias("count"))


def latest_per_key(
    df: DataFrame, keys: list[str], order_cols: list[Column]
) -> DataFrame:
    """Current-snapshot-per-entity: keep exactly the first row per key
    group under ``order_cols`` (pass descending columns for "latest").
    The QUALIFY row_number()=1 pattern — one hash shuffle on the keys,
    rank computed streaming per partition; at scale prefer this over
    groupBy(max)+self-join (one shuffle instead of two)."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order: list[Column], k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window (extension beyond the
    reference, standard OLAP shape). Order must be total for determinism."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """MERGE/upsert as one pass: union base and updates, keep the
    highest-``version_col`` row per key (updates win ties — the
    DELTA-style "source overwrites target" rule). One hash shuffle on
    the keys, rank computed streaming — at 100 TB this beats the
    join-then-overwrite plan (two shuffles + a wide null-coalesce
    projection) and never materializes matched/unmatched splits.
    Rows in updates with keys absent from base are inserts; base keys
    absent from updates pass through — MERGE semantics fall out of the
    union."""
    tagged = base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def scd2_history(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    attrs: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an event/version
    log: suppress rows where the tracked ``attrs`` equal the previous
    row's (per key, in ``order_col`` order), then stamp each surviving
    change row with valid_from = its ``order_col``, valid_to = the NEXT
    change's (null while current), is_current. Two windows over the
    SAME (keys × order) partitioning — Catalyst reuses one sort+shuffle
    for both, so the whole operator costs a single exchange.
    ``tiebreak`` columns break equal-``order_col`` ties so the history
    is deterministic on logs with duplicate timestamps."""
    order = [order_col, *(tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = [F.lag(a).over(w).alias(f"__prev_{a}") for a in attrs]
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~(
            F.col(a).eqNullSafe(F.col(f"__prev_{a}"))
        )
    marked = (
        df.select("*", *prev, F.row_number().over(w).alias("__rn"))
        .where((F.col("__rn") == 1) | changed)
        .drop("__rn", *[f"__prev_{a}" for a in attrs])
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        marked.withColumn("valid_from", F.col(order_col))
        .withColumn("valid_to", F.lead(order_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """Entity-resolution join: pairs whose strings are within
    ``max_distance`` Levenshtein edits. NEVER a cross join — candidate
    generation blocks on (first character, length band): one edit
    changes length by at most 1, so a true match's lengths differ by
    ≤ max_distance, and the length band ⌊len/(d+1)⌋ plus its two
    neighbors covers every possible partner band. Candidates meet in a
    bucketed equi-join (the right side replicates ×3 bands — a small
    constant), the exact distance verifies only within buckets.

    First-char blocking assumes the first character survives the edits
    (typo-tail heuristic; standard blocking trade-off — widen to a
    phonetic key for noisier data)."""
    d = max_distance
    band = lambda c: F.floor(F.length(c) / (d + 1))  # noqa: E731

    l = left.select(  # noqa: E741
        F.col(left_col).alias("left_val"),
        F.substring(F.col(left_col), 1, 1).alias("__blk"),
        band(F.col(left_col)).alias("__band"),
    )
    r = right.select(
        F.col(right_col).alias("right_val"),
        F.substring(F.col(right_col), 1, 1).alias("__blk"),
        F.explode(
            F.array(
                band(F.col(right_col)) - 1,
                band(F.col(right_col)),
                band(F.col(right_col)) + 1,
            )
        ).alias("__band"),
    ).distinct()
    return (
        l.join(r, ["__blk", "__band"])
        .where(
            (F.abs(F.length("left_val") - F.length("right_val")) <= d)
            & (F.levenshtein("left_val", "right_val") <= d)
        )
        .select("left_val", "right_val",
                F.levenshtein("left_val", "right_val").alias("distance"))
        .distinct()
    )


def _spread_bits16(x: Column) -> Column:
    """Spread a 16-bit int so its bits occupy even positions (the
    classic magic-mask dilation): 5 shift/mask rounds, all literal
    shifts — pure JVM expression, portable (same ops exist in any
    SQL dialect with bigint bit ops)."""
    x = x.cast("long")
    # Column.__or__ is LOGICAL or in PySpark — bitwise ops must go
    # through bitwiseOR/bitwiseAND
    x = x.bitwiseOR(_shl(x, 8)).bitwiseAND(F.lit(0x00FF00FF).cast("long"))
    x = x.bitwiseOR(_shl(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F).cast("long"))
    x = x.bitwiseOR(_shl(x, 2)).bitwiseAND(F.lit(0x33333333).cast("long"))
    x = x.bitwiseOR(_shl(x, 1)).bitwiseAND(F.lit(0x55555555).cast("long"))
    return x


def _shl(c: Column, n: int) -> Column:
    return F.shiftleft(c, n)


def zorder_key(
    a: Column | str,
    b: Column | str,
    a_min: float, a_max: float,
    b_min: float, b_max: float,
) -> Column:
    """Morton/Z-order key of two columns: each value min-max scales to
    a 16-bit rank, the two ranks bit-interleave into one 32-bit key.
    Sorting (then range-partitioned writing) by this key co-locates
    rows that are close in BOTH dimensions, so min/max file statistics
    prune scans filtered on either column — the lakehouse multi-column
    data-skipping trick (a plain sort only ever prunes its leading
    column). Bounds are passed in (one agg upstream) so the key stays
    a pure narrow expression."""
    def rank16(c, lo, hi):
        col = (F.col(c) if isinstance(c, str) else c).cast("double")
        if hi <= lo:
            return F.lit(0).cast("long")
        scaled = F.floor(
            (col - F.lit(lo)) / F.lit(hi - lo) * 65535
        )
        return F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(65535).cast("long"), scaled.cast("long")),
        )

    return _spread_bits16(rank16(a, a_min, a_max)).bitwiseOR(
        _shl(_spread_bits16(rank16(b, b_min, b_max)), 1)
    )


def zorder_sort(
    df: DataFrame, col_a: str, col_b: str, out_col: str = "zkey"
) -> DataFrame:
    """Attach the Z-order key (bounds from one min/max agg, broadcast
    back) and range-sort by it — the write-side clustering step before
    a partitioned/parquet sink. The sort is Spark's range-partitioned
    global sort: each output file then covers a tight (a, b)
    rectangle, which is what makes the file-level min/max stats
    selective."""
    bounds = df.agg(
        F.min(col_a).alias("a_min"), F.max(col_a).alias("a_max"),
        F.min(col_b).alias("b_min"), F.max(col_b).alias("b_max"),
    ).collect()[0]
    if bounds["a_min"] is None or bounds["b_min"] is None:
        # empty (or all-null) input: nothing to cluster
        return df.withColumn(out_col, F.lit(0).cast("long"))
    key = zorder_key(
        col_a, col_b,
        float(bounds["a_min"]), float(bounds["a_max"]),
        float(bounds["b_min"]), float(bounds["b_max"]),
    )
    return df.withColumn(out_col, key).orderBy(out_col)


def join_explosion_probe(
    a: DataFrame, b: DataFrame, key: str, k: int = 20
) -> DataFrame:
    """Pre-flight skew/explosion diagnostic for an equi-join: the
    top-``k`` hottest join keys on each side, with the per-key OUTPUT
    row product — the number a fact⋈fact join will actually emit for
    that key. At 100 TB, running this first is the difference between
    'the join finished' and 'one reducer got 10¹¹ rows': a key whose
    product dwarfs the rest wants salting (``salted_join``), pre-
    aggregation, or a rethink.

    Plan: two grouped counts (map-side partials), per-side top-k
    (TakeOrderedAndProject), then a k-row full outer join — cost is
    two scans, output is ≤ 2k rows. Keys hot on only one side show
    NULL-as-zero counts on the other. Output: (key, n_a, n_b,
    out_rows), ordered by out_rows desc then key.
    """
    def topk(df: DataFrame, name: str) -> DataFrame:
        return (
            df.groupBy(F.col(key))
            .agg(F.count(F.lit(1)).alias(name))
            .orderBy(F.desc(name), F.asc(key))
            .limit(k)
        )

    ta, tb = topk(a, "n_a"), topk(b, "n_b")
    return (
        ta.join(tb, key, "full_outer")
        .select(
            F.col(key),
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            (F.coalesce("n_a", F.lit(0))
             * F.coalesce("n_b", F.lit(0))).alias("out_rows"),
        )
        .orderBy(F.desc("out_rows"), F.asc(key))
    )

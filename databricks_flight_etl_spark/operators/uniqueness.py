"""Q4 uniqueness: exact/compound-key duplicate detection, dedup.

Reference sites: NB:249–254 (group-by-ALL-columns count>1 → 4 dup rows;
``dropDuplicates()`` → 0), NB:258–294 (compound key
[Origin, UniqueCarrier, FlightNum, DepTime_Timestamp] → 12,245 dups).

100 TB posture (SURVEY §4.3): group-by-all shuffles the entire row as
the key; ``row_hash``-based variants shuffle a 32-byte digest instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans import _quote

__all__ = [
    "duplicate_groups",
    "exact_duplicate_count",
    "dedup",
    "key_duplicate_count",
    "row_hash",
    "dedup_by_hash",
    "table_checksum",
    "diff_tables",
    "skew_report",
]

# Field separator + NULL sentinel for row hashing. concat_ws silently
# *skips* nulls, which would collide ('a',NULL,'b') with ('a','b',NULL);
# coalescing every column to a sentinel keeps the encoding injective for
# data that never contains the sentinel itself.
_SEP = "\x1f"
_NULL = "\x00N"


def duplicate_groups(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Rows (key columns + n) for groups occurring more than once —
    reference NB:249 ``groupBy(df.columns).count().where(count>1)``;
    with ``subset``, the compound-key duplicate groups (NB:258,
    293–294). Key names are taken verbatim (dots and backticks
    included)."""
    keys = subset or df.columns
    return (
        df.groupBy(*[_quote(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def exact_duplicate_count(df: DataFrame) -> int:
    """Number of fully-duplicated groups (reference NB:249–250)."""
    return duplicate_groups(df).count()


def dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """``dropDuplicates`` (reference NB:253). With a subset, which row
    survives is nondeterministic — for deterministic survivorship use
    dedup_by_hash / a window with an explicit tie-break."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def key_duplicate_count(df: DataFrame, keys: list[str]) -> int:
    return duplicate_groups(df, subset=keys).count()


def row_hash(df: DataFrame, cols: list[str] | None = None) -> Column:
    """256-bit hash of the (null-safely encoded) row — the scale path for
    exact-duplicate work: shuffle 32 bytes instead of the whole row
    (SURVEY §4.3). Collision probability at 100 TB row counts (~1e12
    rows) is ≈ 1e-53 — negligible."""
    cols = cols or df.columns
    encoded = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    return F.sha2(F.concat_ws(_SEP, *encoded), 256)


def dedup_by_hash(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup via row-hash: keeps one arbitrary row per distinct
    content (same result set as dropDuplicates, narrower shuffle)."""
    hashed = df.withColumn("__rh", row_hash(df, cols))
    return hashed.dropDuplicates(["__rh"]).drop("__rh")


def table_checksum(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Order-insensitive content fingerprint of a table: one row
    (n_rows, checksum) where checksum = bit_xor over rows of a
    64-bit md5-derived row digest. The anti-entropy primitive for
    100 TB replication/migration checks — one narrow pass, one tiny
    aggregate, NO sort and NO shuffle of row data; two tables with
    equal (n_rows, checksum) match with 2^-64 collision odds, and the
    md5 derivation means any engine (the DuckDB oracle included)
    computes the identical fingerprint. XOR (not SUM) keeps the
    aggregate overflow-free under ANSI mode.

    Caveat: XOR cancels PAIRS of identical rows — hence n_rows in the
    output; for multiset-exact semantics compare (n_rows, checksum,
    dup profile) or pre-dedup."""
    use = cols or df.columns
    digest = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in use
            ])),
            1, 15,
        ), 16, 10,
    ).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.bit_xor(digest), F.lit(0)).alias("checksum"),
    )


def diff_tables(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed table diff — the migration/backfill verification tool:
    one row per key with status ∈ {added, removed, changed, unchanged}
    (added = in ``b`` only). Each side collapses to (keys, digest)
    BEFORE the full-outer join, so the exchange carries 32-hex digests
    instead of full rows — at 100 TB that is the difference between
    shuffling the table and shuffling its keys."""
    use = compare_cols or [c for c in a.columns if c not in keys]
    missing = [c for c in [*keys, *use] if c not in b.columns]
    if missing:
        raise ValueError(
            f"diff_tables: columns {missing} absent from the right "
            f"side — pass compare_cols restricted to the shared schema"
        )

    def digested(df: DataFrame, name: str) -> DataFrame:
        digest = F.md5(F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in use
        ]))
        return df.select(*keys, digest.alias(name))

    left = digested(a, "__da")
    right = digested(b, "__db")
    joined = left.join(right, keys, "full_outer")
    status = (
        F.when(F.col("__da").isNull(), F.lit("added"))
        .when(F.col("__db").isNull(), F.lit("removed"))
        .when(F.col("__da") == F.col("__db"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*keys, status.alias("status"))


def skew_report(
    df: DataFrame, keys: list[str], top_k: int = 10
) -> DataFrame:
    """Hot-key diagnostic BEFORE a join/agg melts an executor: the
    ``top_k`` heaviest key groups with count, share of all rows, and
    ratio to the mean group size (ratio ≫ 1 ⇒ salt or AQE-skew the
    downstream op). One groupBy + a tiny ordered limit."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("__total"),
        F.avg("cnt").alias("__mean"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            *keys, "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("__mean"), 3).alias(
                "x_mean"),
        )
        .orderBy(F.desc("cnt"), *keys)
        .limit(top_k)
    )


def diff_cells(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Cell-level drill-down of :func:`diff_tables` — once the digest
    diff says a key CHANGED, this says WHICH columns and both values:
    one row per (key, differing column) with stringified
    (base_value, new_value); added/removed keys appear once with
    column='__row__' and the present side's marker. The
    CDC-debugging / backfill-review tool.

    Plan: one full-outer join on the keys carrying only the compared
    columns, then the per-column comparison as an engine-side
    array-of-structs filter + explode — columns NEVER become a
    driver-side loop of joins (a per-column join would scan the table
    |cols| times). Values compare null-safe, so null→value and
    value→null both surface. Output is at most |changed cells| rows —
    tiny next to either input."""
    use = compare_cols or [
        c for c in a.columns if c not in keys and c in b.columns
    ]
    left = a.select(
        *keys, *[F.col(c).cast("string").alias(f"__a_{c}") for c in use]
    ).withColumn("__ina", F.lit(1))
    right = b.select(
        *keys, *[F.col(c).cast("string").alias(f"__b_{c}") for c in use]
    ).withColumn("__inb", F.lit(1))
    j = left.join(right, keys, "full_outer")
    cells = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__a_{c}").alias("base_value"),
            F.col(f"__b_{c}").alias("new_value"),
        )
        for c in use
    ])
    changed = F.filter(
        cells,
        lambda s: ~s.getField("base_value").eqNullSafe(
            s.getField("new_value")
        ),
    )
    both = (
        j.where(F.col("__ina").isNotNull() & F.col("__inb").isNotNull())
        .select(*keys, F.explode(changed).alias("c"))
        .select(
            *keys,
            F.col("c.column").alias("column"),
            F.col("c.base_value").alias("base_value"),
            F.col("c.new_value").alias("new_value"),
        )
    )
    removed = (
        j.where(F.col("__inb").isNull())
        .select(
            *keys,
            F.lit("__row__").alias("column"),
            F.lit("present").alias("base_value"),
            F.lit(None).cast("string").alias("new_value"),
        )
    )
    added = (
        j.where(F.col("__ina").isNull())
        .select(
            *keys,
            F.lit("__row__").alias("column"),
            F.lit(None).cast("string").alias("base_value"),
            F.lit("present").alias("new_value"),
        )
    )
    return both.unionByName(removed).unionByName(added)

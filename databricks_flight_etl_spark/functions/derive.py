"""HHMM departure-time decode and date derivations (reference Q7).

Reference semantics (NB:261–291, SQL CASE over ``DepTime``), preserved
exactly including the documented quirks:

- hour = ``'00'`` if the first two chars are ``'24'`` OR the string is
  shorter than 3 chars; the first char if exactly 3 chars; else the
  first two chars.  **``24xx`` maps to ``00:xx`` of the SAME day — no
  rollover** (DBC-verified).
- minute = the last 2 chars, **unpadded** for values < 10 (``DepTime=9``
  → minute string ``'9'``; the timestamp itself uses lpad'd values).
- NULL ``DepTime`` → NULL hour/min/timestamp (CASE conditions are all
  NULL → ELSE substring(NULL) → NULL; three-valued logic preserved).

All logic is built-in column expressions — JVM-side, whole-stage
codegen'd, no UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "decode_hhmm_parts",
    "derive_departure_timestamp",
    "derive_date",
    "hhmm_encode",
    "union_all",
]


def decode_hhmm_parts(dep: Column) -> tuple[Column, Column]:
    """(hour_str, min_str) from an HHMM-encoded integer column.

    Mirrors the CASE at NB:263–270: hour is '00'/first-1/first-2 chars by
    length with the 24xx→00 mapping; minute is right(s, 2) unpadded.
    """
    s = dep.cast("string")
    hour = (
        F.when((F.substring(s, 1, 2) == "24") | (F.length(s) < 3), F.lit("00"))
        .when(F.length(s) == 3, F.substring(s, 1, 1))
        .otherwise(F.substring(s, 1, 2))
    )
    minute = F.right(s, F.lit(2))
    return hour, minute


def derive_departure_timestamp(
    df: DataFrame,
    dep_col: str = "DepTime",
    year_col: str = "Year",
    month_col: str = "Month",
    day_col: str = "DayofMonth",
    prefix: str | None = None,
) -> DataFrame:
    """Add ``{prefix}_Hour``, ``{prefix}_Min`` (strings) and
    ``{prefix}_Timestamp`` (minute-precision timestamp) — reference
    NB:261–291 as a reusable transform instead of an inline SQL string.
    One ``withColumns`` projection, so the plan is analyzed once.
    """
    prefix = prefix or dep_col
    hour, minute = decode_hhmm_parts(F.col(dep_col))
    ts_str = F.concat(
        F.col(year_col).cast("string"),
        F.lit("-"),
        F.lpad(F.col(month_col).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(F.col(day_col).cast("string"), 2, "0"),
        F.lit(" "),
        F.lpad(hour, 2, "0"),
        F.lit(":"),
        F.lpad(minute, 2, "0"),
    )
    return df.withColumns({
        f"{prefix}_Hour": hour,
        f"{prefix}_Min": minute,
        f"{prefix}_Timestamp": F.to_timestamp(ts_str, "yyyy-MM-dd HH:mm"),
    })


def derive_date(df: DataFrame, out_col: str = "DepTime_Date",
                year_col: str = "Year", month_col: str = "Month",
                day_col: str = "DayofMonth") -> DataFrame:
    """Midnight timestamp from Y/M/D int columns (reference NB:365–377,
    `to_timestamp(concat(Year,'-',lpad(Month),'-',lpad(Day)), 'yyyy-MM-dd')`)."""
    date_str = F.concat(
        F.col(year_col).cast("string"),
        F.lit("-"),
        F.lpad(F.col(month_col).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(F.col(day_col).cast("string"), 2, "0"),
    )
    return df.withColumn(out_col, F.to_timestamp(date_str, "yyyy-MM-dd"))


def hhmm_encode(ts: Column) -> Column:
    """hour*100 + minute as an integer — the inverse-direction encoding
    used by tests/harness to exercise the Q7 decode on arbitrary
    timestamp data (FIXTURES.md §B)."""
    return (F.hour(ts) * 100 + F.minute(ts)).cast("int")


def union_all(dfs: list[DataFrame], by_name: bool = True) -> DataFrame:
    """N-way UNION ALL (reference NB:152 chains positional ``union``;
    we default to ``unionByName`` — positional union silently mismatches
    reordered schemas)."""
    op = (lambda a, b: a.unionByName(b)) if by_name else (lambda a, b: a.union(b))
    return reduce(op, dfs)

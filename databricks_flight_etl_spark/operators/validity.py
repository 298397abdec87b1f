"""Q5 validity: rule engine over boolean column predicates.

Reference site: NB:313–352 — ``check_validity(df, column, condition,
message)`` prints rows failing ``~condition`` for 10 range/positivity
rules. Semantics preserved exactly:

- **Report-only**: failing rows are never removed (the one observed
  failure, CRSDepTime=0, flows into the output — DBC[19]).
- **Nulls pass silently**: ``~cond`` on NULL is NULL, which a filter
  does not select (three-valued logic, SURVEY §2.2 P4).

Improvement over the reference: the reference runs one filter+count scan
per rule (≥10 scans, 20.5 s); ``check_rules`` evaluates every rule in a
single aggregate pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["Rule", "failures", "check_rules", "range_rule"]


@dataclass(frozen=True)
class Rule:
    """A validity rule: rows where ``condition`` is not True fail…
    except NULL evaluations, which pass (reference P4 semantics)."""

    name: str
    condition: Column
    message: str = ""


def range_rule(name: str, col: str, lo, hi) -> Rule:
    """The reference's dominant rule shape: ``lo <= col <= hi``
    (NB:325–352)."""
    c = F.col(col)
    return Rule(name, (c >= lo) & (c <= hi), f"{col} must be in [{lo}, {hi}]")


def failures(df: DataFrame, rule: Rule) -> DataFrame:
    """Rows failing the rule — reference NB:317 ``df.filter(~condition)``.
    NULL condition rows are NOT selected (null-pass)."""
    return df.filter(~rule.condition)


def _fail_aggs(rules: list[Rule]) -> list[Column]:
    """The one aggregate behind every failure count: per rule (aliased
    ``__fail0``, ``__fail1``, … by position), the number of rows whose
    condition is FALSE. ``when(~cond, 1)`` is NULL both for passing rows
    and for rows where the condition is NULL, and ``count`` skips NULLs,
    so a NULL evaluation passes (reference P4) and a rule that never
    fails — or an empty input — reads 0, never NULL.
    ``pipeline.run_flight_pipeline`` runs these in its fused profile
    pass."""
    return [
        F.count(F.when(~r.condition, F.lit(1))).alias(f"__fail{i}")
        for i, r in enumerate(rules)
    ]


def check_rules(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Report DataFrame (rule, n_fail): failure count per rule, computed
    in ONE scan with the same NULL semantics as :func:`failures` (NULL
    never fails)."""
    wide = df.agg(*_fail_aggs(rules))
    return wide.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(f"__fail{i}").alias("n_fail"),
            )
            for i, r in enumerate(rules)
        ])).alias("f")
    ).select("f.rule", "f.n_fail")

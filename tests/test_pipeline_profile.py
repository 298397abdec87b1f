"""The flight pipeline's fused profile pass and the melted value
frequencies: job and shuffle counts, and equality with the standalone
operators and the per-column union form they replace.

The pipeline derives the timestamp, pins the frame, and runs ONE global
aggregate over the pin that fills the cache and returns the row total,
every column's non-null count and every rule's failure count;
``null_profile`` and ``validity`` are local relations built from that
row. ``value_frequencies`` melts every column into a single
``groupBy(column, value)``.
"""

from __future__ import annotations

import uuid
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from databricks_flight_etl_spark import pipeline, plans
from databricks_flight_etl_spark.functions import derive_departure_timestamp
from databricks_flight_etl_spark.operators import (
    completeness,
    consistency,
    validity,
)

FLIGHT_DDL = (
    "Year int, Month int, DayofMonth int, DepTime int, "
    "UniqueCarrier string, FlightNum int, TailNum int, Distance int"
)
DEDUP_KEYS = ["UniqueCarrier", "FlightNum", "DepTime_Timestamp"]


def _jobs_run_during(spark, fn):
    """Number of Spark jobs triggered while fn() runs (the job-group
    count ``tools/count_jobs.py`` takes)."""
    sc = spark.sparkContext
    group = str(uuid.uuid4())
    sc.setJobGroup(group, "job-probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(dep=lambda i: 900 + i % 60, year=lambda i: 2008):
    return [
        (year(i), 1 + i % 2, 1 + i % 5, dep(i), ["AA", "UA", None][i % 3],
         100 + i % 7, None, [500, -1, None, 300][i % 4])
        for i in range(40)
    ]


def _rules():
    return [
        validity.Rule("dist_pos", F.col("Distance") > 0),
        validity.range_rule("month_range", "Month", 1, 1),
        validity.Rule("carrier_known", F.col("UniqueCarrier").isin("AA")),
    ]


def _by_first(rows):
    return sorted((tuple(r) for r in rows), key=lambda t: t[0])


def test_pipeline_runs_only_the_fused_profile_jobs(spark):
    """Without ``output_path`` the pipeline runs exactly the jobs of its
    one fused aggregate (measured on a fresh copy of the same frame),
    and collecting ``null_profile`` and ``validity`` runs none."""
    df = spark.createDataFrame(_rows(), FLIGHT_DDL)
    rules = _rules()
    reports = []
    n_pipeline = _jobs_run_during(spark, lambda: reports.append(
        pipeline.run_flight_pipeline(df, DEDUP_KEYS, rules)
    ))
    rep = reports[0]

    fresh = derive_departure_timestamp(
        spark.createDataFrame(_rows(), FLIGHT_DDL)
    ).persist()
    n_fused = _jobs_run_during(spark, lambda: fresh.agg(
        *completeness._count_aggs(fresh.columns),
        *validity._fail_aggs(rules),
    ).first())
    fresh.unpersist()
    try:
        assert n_pipeline == n_fused
        # fill the cache, the aggregate's map stage, its result
        assert 1 <= n_fused <= 3
        assert _jobs_run_during(spark, rep.null_profile.collect) == 0
        assert _jobs_run_during(spark, rep.validity.collect) == 0
    finally:
        derive_departure_timestamp(df).unpersist()


@pytest.mark.parametrize("n_cols", [1, 3, 6])
def test_value_frequencies_one_shuffle(spark, n_cols):
    cols = [f"c{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(f"v{(j + i) % 3}" for i in range(6)) for j in range(12)],
        ", ".join(f"{c} string" for c in cols),
    )
    out = consistency.value_frequencies(df, cols[:n_cols])
    shuffles = (plans.count_operator(out, "Exchange")
                - plans.count_operator(out, "BroadcastExchange"))
    assert shuffles == 1


def _union_form(df: DataFrame, cols: list[str]) -> DataFrame:
    """The per-column union the melt replaced: one groupBy per column."""
    return reduce(DataFrame.unionByName, [
        df.groupBy(F.col(c).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(c).alias("column"), "value", "n")
        for c in cols
    ])


@pytest.mark.parametrize("cols", [["a", "s", "z"], ["a", "z"], ["s"]])
def test_value_frequencies_melt_matches_union(spark, cols):
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, None), (1, "x", 3), (None, "y", 3)],
        "a int, s string, z int",
    )
    melt = consistency.value_frequencies(df, cols)
    union = _union_form(df, cols)
    assert melt.dtypes == union.dtypes
    key = lambda t: tuple(repr(v) for v in t)  # noqa: E731 — NULL-safe
    got = sorted((tuple(r) for r in melt.collect()), key=key)
    assert got == sorted((tuple(r) for r in union.collect()), key=key)
    if "z" in cols:   # the NULL group is kept
        assert any(c == "z" and v is None and n == 2 for c, v, n in got)


def test_value_frequencies_no_columns_is_empty(spark):
    df = spark.createDataFrame([(1,)], "a int")
    out = consistency.value_frequencies(df, [])
    assert out.columns == ["column", "value", "n"]
    assert out.collect() == []
    assert consistency.value_frequencies(df).collect() == []  # no strings


def test_fused_profile_matches_standalone_operators(spark):
    df = spark.createDataFrame(_rows(), FLIGHT_DDL)
    rules = _rules()
    rep = pipeline.run_flight_pipeline(df, DEDUP_KEYS, rules)
    try:
        assert rep.dropped_columns == ["TailNum"]
        alone = completeness.null_profile(rep.cleaned)
        assert rep.null_profile.dtypes == alone.dtypes == [
            ("column", "string"), ("n_null", "bigint"),
            ("null_ratio", "double"),
        ]
        assert _by_first(rep.null_profile.collect()) == _by_first(
            alone.collect()
        )
        checked = validity.check_rules(rep.cleaned, rules)
        assert rep.validity.dtypes == checked.dtypes == [
            ("rule", "string"), ("n_fail", "bigint"),
        ]
        assert _by_first(rep.validity.collect()) == _by_first(
            checked.collect()
        )
        # NULL distances and carriers pass their rules
        assert dict(rep.validity.collect()) == {
            "dist_pos": 10, "month_range": 20, "carrier_known": 13,
        }
    finally:
        derive_departure_timestamp(df).unpersist()


def test_all_null_deptime_drops_its_derived_columns(spark):
    df = spark.createDataFrame(_rows(dep=lambda i: None), FLIGHT_DDL)
    rep = pipeline.run_flight_pipeline(df, rules=_rules())
    try:
        assert rep.dropped_columns == ["DepTime", "TailNum"]
        assert not [c for c in rep.cleaned.columns
                    if c.startswith("DepTime")]
        assert rep.day_coverage is None
        assert {r["column"] for r in rep.null_profile.collect()} == set(
            rep.cleaned.columns
        )
    finally:
        derive_departure_timestamp(df).unpersist()


def test_all_null_year_is_dropped_and_nulls_the_timestamp(spark):
    """Deriving before the drop: the timestamp of an all-null Year reads
    NULL (deriving after the drop, as the pipeline once did, raised
    AnalysisException on the missing Year)."""
    df = spark.createDataFrame(_rows(year=lambda i: None), FLIGHT_DDL)
    rep = pipeline.run_flight_pipeline(df, DEDUP_KEYS, _rules())
    try:
        assert rep.dropped_columns == ["Year", "TailNum"]
        assert "Year" not in rep.cleaned.columns
        ts = [r[0] for r in rep.cleaned.select("DepTime_Timestamp").collect()]
        assert len(ts) == 40 and set(ts) == {None}
        prof = dict((c, n) for c, n, _ in rep.null_profile.collect())
        assert prof["DepTime_Timestamp"] == 40
        assert rep.day_coverage.collect() == []
    finally:
        derive_departure_timestamp(df).unpersist()

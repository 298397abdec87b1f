"""The flight pipeline's fused profile pass and the melted value
frequencies: job and shuffle counts, and equality with the standalone
operators and the per-column union form they replace.

The pipeline derives the timestamp, pins the frame, and runs ONE
aggregate over the pin, grouped by day, that fills the cache and returns
per day the row total, every column's non-null count and value bytes and
every rule's failure count; ``null_profile``, ``validity`` and
``day_coverage`` are local relations built from those rows, and the
sink is sized from them. ``value_frequencies`` melts every column into a
single ``groupBy(column, value)``.
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
    timeliness,
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


def _fused_jobs(spark, rules, out_path=None):
    """Jobs of the fused profile pass, then of the sized write when
    ``out_path`` is given, run by hand on a fresh copy of ``_rows()``.
    Call it while no pipeline pin of the same rows is alive: the copy
    would share that cache entry and release it."""
    fresh = derive_departure_timestamp(
        spark.createDataFrame(_rows(), FLIGHT_DDL)
    ).persist()
    try:
        n = _jobs_run_during(spark, lambda: fresh.groupBy(
            F.to_date("DepTime_Timestamp")
        ).agg(
            *completeness._count_aggs(fresh.columns),
            *plans._size_aggs(fresh.schema),
            *validity._fail_aggs(rules),
        ).collect())
        if out_path is not None:
            n += _jobs_run_during(spark, lambda: fresh.drop("TailNum")
                                  .coalesce(1).write.parquet(out_path))
        return n
    finally:
        fresh.unpersist()


def test_pipeline_runs_only_the_fused_profile_jobs(spark):
    """Without ``output_path`` the pipeline runs exactly the jobs of its
    one fused aggregate (measured on a fresh copy of the same frame),
    and collecting ``null_profile``, ``validity`` and ``day_coverage``
    runs none."""
    df = spark.createDataFrame(_rows(), FLIGHT_DDL)
    rules = _rules()
    n_fused = _fused_jobs(spark, rules)   # before the pipeline pins
    reports = []
    n_pipeline = _jobs_run_during(spark, lambda: reports.append(
        pipeline.run_flight_pipeline(df, DEDUP_KEYS, rules)
    ))
    rep = reports[0]
    try:
        assert n_pipeline == n_fused
        # fill the cache, the aggregate's map stage, its result
        assert 1 <= n_fused <= 3
        assert _jobs_run_during(spark, rep.null_profile.collect) == 0
        assert _jobs_run_during(spark, rep.validity.collect) == 0
        assert _jobs_run_during(spark, rep.day_coverage.collect) == 0
    finally:
        rep.unpersist()


def test_sized_write_runs_no_count_or_sample_job(spark, tmp_path):
    """With ``output_path`` the pipeline runs its fused-pass jobs plus
    the write's: the sink is sized from the pass, not re-counted or
    sampled."""
    df = spark.createDataFrame(_rows(), FLIGHT_DDL)
    rules = _rules()
    n_fused = _fused_jobs(spark, rules, str(tmp_path / "ref"))
    reports = []
    n_pipeline = _jobs_run_during(spark, lambda: reports.append(
        pipeline.run_flight_pipeline(
            df, DEDUP_KEYS, rules, output_path=str(tmp_path / "out")
        )
    ))
    rep = reports[0]
    try:
        assert rep.output_partitions == 1
        assert n_pipeline == n_fused
        back = spark.read.parquet(str(tmp_path / "out"))
        assert back.columns == rep.cleaned.columns
        assert back.count() == 40
    finally:
        rep.unpersist()


def test_report_unpersist_releases_the_pin(spark):
    """``cleaned`` is a projection of the pin; the report releases the
    pin itself, and the lazy reports re-read the source afterwards."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(_rows(), FLIGHT_DDL)
    rep = pipeline.run_flight_pipeline(df, DEDUP_KEYS, _rules())
    assert jsc.getPersistentRDDs().size() == before + 1
    freqs = sorted(map(repr, rep.value_frequencies.collect()))
    rep.cleaned.unpersist()
    assert jsc.getPersistentRDDs().size() == before + 1
    rep.unpersist()
    assert jsc.getPersistentRDDs().size() == before
    assert sorted(map(repr, rep.value_frequencies.collect())) == freqs
    assert rep.exact_dup_groups.collect() == []


def _cov_rows(kind):
    if kind == "gaps":     # Jan 1-5 and Feb 1-5: 26 zero days between
        return _rows()
    if kind == "single_day":
        return [(2008, 3, 9) + r[3:] for r in _rows()]
    if kind == "null_ts":  # NULL DepTime and an unparsable day
        return [r[:2] + ((40 if i % 7 == 0 else r[2]), r[3] if i % 4 else None)
                + r[4:] for i, r in enumerate(_rows())]
    if kind == "null_year":
        return _rows(year=lambda i: None)
    return []


@pytest.mark.parametrize(
    "kind", ["gaps", "single_day", "null_ts", "null_year", "empty"]
)
def test_local_day_coverage_matches_timeliness(spark, kind):
    df = spark.createDataFrame(_cov_rows(kind), FLIGHT_DDL)
    rep = pipeline.run_flight_pipeline(df, rules=_rules())
    try:
        if kind == "empty":   # every column is all-null, so dropped
            assert rep.cleaned.columns == []
            assert rep.day_coverage is None
            assert rep.null_profile.collect() == []
            assert dict(rep.validity.collect()) == {
                "dist_pos": 0, "month_range": 0, "carrier_known": 0,
            }
            return
        alone = timeliness.day_coverage(rep.cleaned, "DepTime_Timestamp")
        assert rep.day_coverage.dtypes == alone.dtypes == [
            ("day", "date"), ("n_events", "bigint"),
        ]
        got = rep.day_coverage.collect()
        assert got == alone.orderBy("day").collect()
        n_days = {"gaps": 36, "single_day": 1, "null_ts": 36, "null_year": 0}
        assert len(got) == n_days[kind]
    finally:
        rep.unpersist()


def test_no_timestamp_column_groups_by_no_key(spark):
    """``derive_ts=False`` on a frame without ``ts_col``: the fused pass
    is the global aggregate and there is no coverage report; with a
    timestamp column of the caller's own the coverage is built from it."""
    df = spark.createDataFrame(_rows(), FLIGHT_DDL)
    rules = _rules()
    rep = pipeline.run_flight_pipeline(df, rules=rules, derive_ts=False)
    try:
        assert rep.day_coverage is None
        assert "DepTime_Timestamp" not in rep.cleaned.columns
        assert _by_first(rep.null_profile.collect()) == _by_first(
            completeness.null_profile(rep.cleaned).collect()
        )
        assert _by_first(rep.validity.collect()) == _by_first(
            validity.check_rules(rep.cleaned, rules).collect()
        )
    finally:
        rep.unpersist()
    own = df.withColumn("ts", F.make_timestamp(
        "Year", "Month", "DayofMonth", F.lit(0), F.lit(0), F.lit(0)
    ))
    rep = pipeline.run_flight_pipeline(own, derive_ts=False, ts_col="ts")
    try:
        alone = timeliness.day_coverage(rep.cleaned, "ts")
        assert rep.day_coverage.dtypes == alone.dtypes
        assert rep.day_coverage.collect() == alone.orderBy("day").collect()
        assert len(rep.day_coverage.collect()) == 36
    finally:
        rep.unpersist()


def test_estimate_bytes_counts_value_bytes(spark):
    """8 bytes per long, the octet length of each string: one aggregate,
    no sample."""
    df = spark.createDataFrame(
        [(i, "x" * 100) for i in range(1000)], "id long, s string"
    )
    assert plans.estimate_bytes(df) == 108_000
    nulls = spark.createDataFrame(
        [(None, None), (1, "é"), (2, None)], "id long, s string"
    )
    assert plans.estimate_bytes(nulls) == 2 * 8 + 2
    arrays = spark.createDataFrame([([1, 2],)], "a array<int>")
    assert plans.estimate_bytes(arrays) == len("[1, 2]")


def test_estimate_bytes_of_files_is_their_size(spark, tmp_path):
    """A frame that reads files is sized by those files, with no job:
    compaction does not read its input twice."""
    import os

    src = str(tmp_path / "src")
    spark.range(1000).selectExpr("id", "repeat('x', id % 50) AS s") \
        .repartition(4).write.parquet(src)
    on_disk = sum(
        os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)
        if not f.startswith((".", "_"))
    )
    df = spark.read.parquet(src)
    est = []
    assert _jobs_run_during(
        spark, lambda: est.append(plans.estimate_bytes(df))
    ) == 0
    assert est == [on_disk]
    assert plans.estimate_bytes(df.where(F.col("id") > 10)) == on_disk


def test_day_coverage_of_counts(spark):
    import datetime as dt

    d = dt.date(2008, 2, 27)
    cov = timeliness.day_coverage_of_counts(
        spark, {d: 3, d + dt.timedelta(days=3): 1}
    )
    assert cov.dtypes == [("day", "date"), ("n_events", "bigint")]
    rows = []
    assert _jobs_run_during(spark, lambda: rows.extend(cov.collect())) == 0
    assert [tuple(r) for r in rows] == [   # 2008 is a leap year
        (d, 3), (dt.date(2008, 2, 28), 0), (dt.date(2008, 2, 29), 0),
        (dt.date(2008, 3, 1), 1),
    ]
    empty = timeliness.day_coverage_of_counts(spark, {})
    assert empty.collect() == [] and empty.dtypes == cov.dtypes


def test_profiles_take_column_names_verbatim(spark):
    """A backtick or a dot in a column name is part of the name in the
    null profile, the duplicate groups and the whole pipeline."""
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (None, "y")], "`a``b` int, `c.d` string"
    )
    prof = dict((c, n) for c, n, _ in completeness.null_profile(df).collect())
    assert prof == {"a`b": 1, "c.d": 0}
    from databricks_flight_etl_spark.operators import uniqueness

    assert [tuple(r) for r in uniqueness.duplicate_groups(df).collect()] == [
        (1, "x", 2)
    ]
    rep = pipeline.run_flight_pipeline(df, dedup_keys=["c.d"])
    try:
        assert rep.cleaned.columns == ["a`b", "c.d"]
        assert sorted(tuple(r) for r in rep.key_dup_groups.collect()) == [
            ("x", 2)
        ]
        assert rep.output_partitions == -1
    finally:
        rep.unpersist()


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


def test_value_frequencies_capped_no_columns_is_empty(spark):
    df = spark.createDataFrame([(1, "x")], "a int, s string")
    out = consistency.value_frequencies_capped(df, [])
    assert out.collect() == []
    assert out.dtypes == consistency.value_frequencies_capped(
        df, ["s"]
    ).dtypes
    assert consistency.value_frequencies_capped(
        df.select("a")
    ).collect() == []


@pytest.mark.parametrize("exact", [True, False])
def test_value_frequencies_capped_quoted_names(spark, exact):
    """Column names holding a quote, a backtick or a dot are names, not
    SQL."""
    df = spark.createDataFrame(
        [("x", "p", "u"), ("x", "q", "u"), ("y", None, "u")],
        "`it's` string, `a``b` string, `c.d` string",
    )
    out = consistency.value_frequencies_capped(
        df, df.columns, top_k=1, exact_distinct=exact
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("a`b", None, 1, 1, 2),
        ("c.d", "u", 3, 1, 1),
        ("it's", "x", 2, 1, 2),
    ]


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
        rep.unpersist()


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
        rep.unpersist()


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
        rep.unpersist()

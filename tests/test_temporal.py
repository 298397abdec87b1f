"""Temporal joins: as-of (backward, inclusive) and time-bucketed range
join — edge semantics pinned against hand-computed expectations."""

from datetime import datetime

from databricks_flight_etl_spark.operators.temporal import (
    asof_join,
    range_join_time,
)


def _ts(m, s=0):
    return datetime(2024, 5, 1, 12, m, s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "L1"),
            (1, _ts(20), "L2"),
            (1, _ts(5), "L0"),     # before any right row
            (2, _ts(30), "L3"),    # key with no right rows at all
        ],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(10), "R@10"),  # equal ts → inclusive match for L1
            (1, _ts(15), "R@15"),
            (1, _ts(25), "R@25"),  # after every left row
        ],
        "k long, ts timestamp, rv string",
    )
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, ["k"], how="left")
    got = {r["lv"]: (r["rv"], r["__matched_ts"] and str(r["__matched_ts"]))
           for r in out.collect()}
    assert got == {
        "L0": (None, None),                          # nothing at or before
        "L1": ("R@10", "2024-05-01 12:10:00"),       # equal ts matches
        "L2": ("R@15", "2024-05-01 12:15:00"),       # latest ≤, not R@25
        "L3": (None, None),                          # key absent from right
    }
    assert out.count() == 4


def test_asof_inner_drops_unmatched(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, ["k"], how="inner")
    assert {r["lv"] for r in out.collect()} == {"L1", "L2"}


def test_asof_rejects_column_collision(spark):
    left, right = _frames(spark)
    import pytest

    with pytest.raises(ValueError, match="rename"):
        asof_join(left, right.withColumnRenamed("rv", "lv"), ["k"])


def test_range_join_tolerance_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), 100)], "k long, ts timestamp, lid long"
    )
    right = spark.createDataFrame(
        [
            (1, _ts(5), 200),      # exactly -5 min → inclusive
            (1, _ts(15), 201),     # exactly +5 min → inclusive
            (1, _ts(15, 1), 202),  # 5m01s → out
            (1, _ts(10), 203),     # same instant
            (2, _ts(10), 204),     # different key
        ],
        "k long, rts timestamp, rid long",
    )
    out = range_join_time(
        left, right, ["k"], left_ts="ts", right_ts="rts", tolerance_minutes=5
    )
    assert {r["rid"] for r in out.collect()} == {200, 201, 203}


def test_asof_matches_python_reference(spark):
    """Seeded randomized cross-check vs a pure-Python as-of scan."""
    import random
    from datetime import timedelta

    rng = random.Random(11)
    base = datetime(2024, 6, 1)
    lrows = [
        (rng.randint(1, 8), base + timedelta(minutes=rng.randint(0, 500)), i)
        for i in range(300)
    ]
    rrows = [
        (rng.randint(1, 8), base + timedelta(minutes=rng.randint(0, 500)), 1000 + i)
        for i in range(120)
    ]
    # make right (key, ts) unique so the match is unambiguous
    seen = set()
    rrows = [r for r in rrows if not (r[:2] in seen or seen.add(r[:2]))]

    left = spark.createDataFrame(lrows, "k long, ts timestamp, lid long")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, rid long")
    out = asof_join(left, right, ["k"], how="left")
    got = {r["lid"]: r["rid"] for r in out.collect()}

    by_key = {}
    for k, ts, rid in rrows:
        by_key.setdefault(k, []).append((ts, rid))
    for v in by_key.values():
        v.sort()
    expect = {}
    for k, ts, lid in lrows:
        cands = [(t, rid) for t, rid in by_key.get(k, []) if t <= ts]
        expect[lid] = cands[-1][1] if cands else None
    assert got == expect


def test_asof_join_matches_python_scan(spark):
    """The union+window as-of equals a plain-Python backward-inclusive
    scan on the shape where BOTH sides derive from one parent frame
    (shared attribute ids — the shape that once collapsed the right
    side's columns in a cogrouped form)."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = dt.datetime
    rows = [
        (1, t(2024, 1, 1, 9), "p", 7, 5.0),
        (1, t(2024, 1, 1, 10), "c", 100, 1.0),
        (1, t(2024, 1, 1, 12), "c", 101, 2.0),
        (2, t(2024, 1, 1, 11), "c", 102, 3.0),
    ]
    parent = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, kind string, event_id long, value double",
    )
    left = parent.where("kind = 'c'").select("user_id", "ts", "event_id")
    right = parent.where("kind = 'p'").select(
        "user_id", "ts",
        F.col("event_id").alias("p_id"), F.col("value").alias("p_val"),
    )
    a = {
        (r["event_id"]): (r["p_id"], r["p_val"], r["__matched_ts"])
        for r in asof_join(left, right, ["user_id"]).collect()
    }
    expect = {}
    for u, ts, kind, eid, _ in rows:
        if kind != "c":
            continue
        cands = sorted(
            (rts, pid, pval) for ru, rts, rk, pid, pval in rows
            if rk == "p" and ru == u and rts <= ts
        )
        expect[eid] = (
            (cands[-1][1], cands[-1][2], cands[-1][0]) if cands
            else (None, None, None)
        )
    assert a == expect
    assert a[100] == (7, 5.0, t(2024, 1, 1, 9))
    assert a[102] == (None, None, None)


def test_fill_forward(spark):
    """ffill carries the last non-null forward per key; bfill-after-
    ffill covers leading nulls with the NEAREST following value."""
    from databricks_flight_etl_spark.operators.temporal import fill_forward

    rows = [
        (1, 1, None), (1, 2, 10.0), (1, 3, None), (1, 4, None),
        (1, 5, 50.0),
        (2, 1, 7.0), (2, 2, None),
    ]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    ff = {(r["k"], r["t"]): r["v_filled"]
          for r in fill_forward(df, ["k"], "t", ["v"]).collect()}
    assert ff[(1, 1)] is None          # leading null stays (no bfill)
    assert ff[(1, 3)] == 10.0 and ff[(1, 4)] == 10.0
    assert ff[(1, 5)] == 50.0 and ff[(2, 2)] == 7.0
    fb = {(r["k"], r["t"]): r["v_filled"]
          for r in fill_forward(df, ["k"], "t", ["v"],
                                backward=True).collect()}
    assert fb[(1, 1)] == 10.0          # NEAREST following, not 50.0
    assert fb[(1, 4)] == 10.0          # ffill wins where it applies


def test_interpolate_gaps(spark):
    """Interior gaps interpolate linearly by calendar distance; edge
    gaps forward/backward-fill; observed rows pass through unfilled;
    each key spans exactly its own [min, max]."""
    import datetime as dt

    from databricks_flight_etl_spark.operators.timeliness import (
        interpolate_gaps,
    )

    d = dt.date
    rows = [
        ("a", d(2024, 1, 1), 10.0),
        ("a", d(2024, 1, 4), 40.0),   # gap 2nd-3rd -> 20, 30
        ("a", d(2024, 1, 5), None),   # trailing null -> bfill... none right -> ffill 40
        ("b", d(2024, 2, 1), None),   # leading null -> bfill 7
        ("b", d(2024, 2, 3), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {
        (r["k"], r["day"]): (r["v"], r["filled"])
        for r in interpolate_gaps(df, "k", "day", "v").collect()
    }
    assert out[("a", d(2024, 1, 1))] == (10.0, False)
    assert out[("a", d(2024, 1, 2))] == (20.0, True)
    assert out[("a", d(2024, 1, 3))] == (30.0, True)
    assert out[("a", d(2024, 1, 4))] == (40.0, False)
    assert out[("a", d(2024, 1, 5))] == (40.0, True)
    assert out[("b", d(2024, 2, 1))] == (7.0, True)
    assert out[("b", d(2024, 2, 2))] == (7.0, True)
    assert out[("b", d(2024, 2, 3))] == (7.0, False)
    assert len(out) == 8


def test_period_over_period(spark):
    """Anchored on max(ts): cur = that week, prev = the one before;
    keys in only one period surface with a null other side; zero/absent
    prev gives null pct."""
    import datetime as dt

    from databricks_flight_etl_spark.operators.timeliness import (
        period_over_period,
    )

    # 2024-01-01 and 2024-01-08 are Mondays
    rows = [
        ("a", dt.datetime(2024, 1, 8, 10), 30.0),   # cur week
        ("a", dt.datetime(2024, 1, 9, 10), 10.0),
        ("a", dt.datetime(2024, 1, 2, 10), 20.0),   # prev week
        ("b", dt.datetime(2024, 1, 10, 0), 5.0),    # cur only
        ("c", dt.datetime(2024, 1, 3, 0), 7.0),     # prev only
        ("d", dt.datetime(2023, 12, 20, 0), 99.0),  # older -> excluded
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r["k"]: (r["cur"], r["prev"], r["delta"], r["pct_change"])
           for r in period_over_period(df, "ts", "k", "v").collect()}
    assert got["a"] == (40.0, 20.0, 20.0, 1.0)
    assert got["b"] == (5.0, None, 5.0, None)
    assert got["c"] == (None, 7.0, -7.0, -1.0)  # vanished = -100%
    assert "d" not in got

    # invalid units fail fast at the API boundary, not with an opaque
    # interval parse error deep in the plan (and 'quarter' — which
    # date_trunc accepts but INTERVAL literals don't — is rejected)
    import pytest

    for bad in ("quarter", "fortnight", "1 day'); DROP TABLE x; --"):
        with pytest.raises(ValueError, match="period must be one of"):
            period_over_period(df, "ts", "k", "v", period=bad)


def test_ohlc_bars_with_ties(spark):
    """OHLC per bucket; equal-timestamp rows resolve by the (µs, value)
    struct order: open takes the SMALLER value, close the LARGER."""
    from datetime import datetime

    from databricks_flight_etl_spark.operators.timeliness import ohlc_bars

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 5, 0)
    t2 = datetime(2024, 1, 1, 0, 20, 0)  # next 15-min bucket
    rows = [
        (t0, 5.0), (t0, 3.0),   # tie at bucket open
        (t1, 9.0), (t1, 11.0),  # tie at bucket close
        (t2, 7.0), (t2, None),  # null drops
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = ohlc_bars(df, "ts", "value").collect()
    assert len(out) == 2
    b0, b1 = out
    assert (b0["open"], b0["high"], b0["low"], b0["close"], b0["n"]) == (
        3.0, 11.0, 3.0, 11.0, 4
    )
    assert (b1["open"], b1["close"], b1["n"]) == (7.0, 7.0, 1)


def test_ohlc_bars_drops_null_timestamps(spark):
    """ADVICE r5: a null-ts row has no bucket — it must be dropped, not
    form a NULL bucket whose open/close depends on engine ordering."""
    from datetime import datetime

    from databricks_flight_etl_spark.operators.timeliness import ohlc_bars

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [(t0, 5.0), (None, 99.0), (None, 1.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = ohlc_bars(df, "ts", "value").collect()
    assert len(out) == 1
    assert out[0]["n"] == 1 and out[0]["high"] == 5.0

"""Temporal registry queries: sessionization, funnels, moving and range-
frame aggregates, gap detection and filling, as-of and interval joins,
and time-bucket rollups (SURVEY §2.10 Q7, §2.11).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.functions import (
    derive_departure_timestamp, hhmm_encode,
)
from databricks_flight_etl_spark.operators import accuracy, sessions
from databricks_flight_etl_spark.registry._common import _events_us, query, _t


@query(oracle="""
            WITH t AS (
                SELECT event_id,
                       hour(ts) * 100 + minute(ts) AS dep,
                       year(ts) AS y, month(ts) AS m, day(ts) AS d
                FROM events
            )
            SELECT event_id, dep AS dep_int,
                   CASE WHEN substr(CAST(dep AS VARCHAR), 1, 2) = '24'
                             OR length(CAST(dep AS VARCHAR)) < 3 THEN '00'
                        WHEN length(CAST(dep AS VARCHAR)) = 3
                             THEN substr(CAST(dep AS VARCHAR), 1, 1)
                        ELSE substr(CAST(dep AS VARCHAR), 1, 2)
                   END AS dep_hour,
                   right(CAST(dep AS VARCHAR), 2) AS dep_min,
                   epoch_ms(strptime(
                       CAST(y AS VARCHAR) || '-' || lpad(CAST(m AS VARCHAR), 2, '0')
                       || '-' || lpad(CAST(d AS VARCHAR), 2, '0') || ' '
                       || lpad(CASE WHEN substr(CAST(dep AS VARCHAR), 1, 2) = '24'
                                         OR length(CAST(dep AS VARCHAR)) < 3 THEN '00'
                                    WHEN length(CAST(dep AS VARCHAR)) = 3
                                         THEN substr(CAST(dep AS VARCHAR), 1, 1)
                                    ELSE substr(CAST(dep AS VARCHAR), 1, 2)
                               END, 2, '0')
                       || ':' || lpad(right(CAST(dep AS VARCHAR), 2), 2, '0'),
                       '%Y-%m-%d %H:%M')) AS dep_ts_ms
            FROM t
        """)
def q_derive_timestamp(spark, sf_dir):
    """Q7/F1–F8: the HHMM decode with exact reference semantics,
    exercised via hour*100+minute re-encode of the event timestamps."""
    ev = _t(spark, sf_dir, "events")
    enc = ev.select(
        "event_id",
        hhmm_encode(F.col("ts")).alias("DepTime"),
        F.year("ts").alias("Year"),
        F.month("ts").alias("Month"),
        F.dayofmonth("ts").alias("DayofMonth"),
    )
    dec = derive_departure_timestamp(enc)
    return dec.select(
        "event_id",
        F.col("DepTime").alias("dep_int"),
        F.col("DepTime_Hour").alias("dep_hour"),
        F.col("DepTime_Min").alias("dep_min"),
        F.unix_millis("DepTime_Timestamp").alias("dep_ts_ms"),
    )


@query(oracle="""
            WITH g AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id)
                                > 1800000000
                            THEN 1 ELSE 0 END AS brk
                FROM events
            ),
            s AS (
                SELECT user_id,
                       1 + sum(brk) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g
            )
            SELECT user_id, count(*) AS n_events,
                   CAST(max(session_id) AS BIGINT) AS n_sessions
            FROM s GROUP BY 1
        """)
def q_sessionize(spark, sf_dir):
    """Extension (sessionization; the reference has no window functions,
    §2.11): 30-minute-gap sessions per user via lag + running-sum
    windows → (user_id, n_events, n_sessions)."""
    ev = _t(spark, sf_dir, "events")
    return sessions.session_counts(
        ev, "user_id", "ts", gap_minutes=30, tiebreak_col="event_id"
    )


@query(oracle="""
            WITH d AS (
                SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
                       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                           AS day_rev
                FROM orders GROUP BY 1
            )
            SELECT day, day_rev,
                   round(avg(day_rev) OVER (
                       ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
                       AS moving_avg
            FROM d
        """)
def q_moving_avg(spark, sf_dir):
    """Window frames: 7-day trailing moving average of daily order
    revenue (exact decimal daily sums; the 7-value frame average sums in
    frame order in both engines → bit-stable)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("day_rev")
    )
    return accuracy.moving_average(daily, "day", "day_rev", window_rows=7)


@query(oracle="""
        WITH agg AS (
            SELECT event_type,
                   date_trunc('week', ts) AS p,
                   sum(CAST(value AS DECIMAL(28,6))) AS v
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1, 2
        ),
        top AS (SELECT max(p) AS p0 FROM agg),
        sliced AS (
            SELECT agg.event_type, agg.p, agg.v, top.p0,
                   top.p0 - INTERVAL 1 WEEK AS prev_p
            FROM agg, top
            WHERE agg.p = top.p0
               OR agg.p = top.p0 - INTERVAL 1 WEEK
        ),
        pv AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN p = p0 THEN v END) AS DOUBLE)
                       AS cur,
                   CAST(sum(CASE WHEN p = prev_p THEN v END) AS DOUBLE)
                       AS prev
            FROM sliced GROUP BY event_type
        )
        SELECT event_type, cur, prev,
               round(coalesce(cur, 0.0) - coalesce(prev, 0.0), 6)
                   AS delta,
               round(CASE WHEN prev IS NOT NULL AND prev <> 0
                     THEN (coalesce(cur, 0.0) - prev) / prev END, 6)
                   AS pct_change
        FROM pv ORDER BY event_type
    """)
def q_period_over_period(spark, sf_dir):
    """WoW comparison per event type, anchored on max(ts) so the
    result is a pure function of the data: exact decimal sums per
    (type, week), the latest-vs-previous slice via a broadcast 1-row
    max, one division at the end. Oracle replays the same date_trunc
    anchoring (both engines truncate weeks to Monday)."""
    from databricks_flight_etl_spark.operators.timeliness import (
        period_over_period,
    )

    ev = _t(spark, sf_dir, "events")
    return period_over_period(
        ev, "ts", "event_type", "value", period="week"
    ).orderBy("event_type")


@query(oracle="""
        WITH steps AS (
            SELECT event_type AS state_from,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id
                   ) AS state_to
            FROM events
        ),
        counts AS (
            SELECT state_from, state_to, CAST(count(*) AS BIGINT) AS n
            FROM steps WHERE state_to IS NOT NULL
            GROUP BY state_from, state_to
        )
        SELECT state_from, state_to, n,
               round(n / CAST(sum(n) OVER (PARTITION BY state_from)
                              AS DOUBLE), 6) AS prob
        FROM counts ORDER BY state_from, state_to
    """)
def q_transition_matrix(spark, sf_dir):
    """Per-user event-type Markov transitions over events: counts +
    row-normalized next-event probabilities — one per-user lead window
    (ordered by (ts, event_id) so ties are deterministic) + two
    aggregates; denominators attach via a window over the
    |states|²-bounded count table. Oracle replays lead() identically."""
    from databricks_flight_etl_spark.operators.sessions import (
        transition_matrix,
    )

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", ["ts", "event_id"], "event_type"
    ).orderBy("state_from", "state_to")


@query(oracle="""
            SELECT event_id, user_id,
                   count(*) OVER w AS n_last_hour,
                   min(value) OVER w AS min_last_hour,
                   max(value) OVER w AS max_last_hour
            FROM events
            WHERE user_id < 50
            WINDOW w AS (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
            )
        """)
def q_range_frame(spark, sf_dir):
    """Value-based (RANGE) window frame — the frame kind q_moving_avg's
    ROWS frame can't express: per-user trailing-hour statistics where
    the frame is bounded by the ORDER-BY VALUE (ts_us within 3.6e9 µs),
    not a row count, so gaps and ties change the frame size. Peers (tied
    ts) are included in both engines by RANGE semantics. Aggregates are
    order-independent (count/min/max) so the result is bit-stable."""
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).where(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.min("value").over(w).alias("min_last_hour"),
        F.max("value").over(w).alias("max_last_hour"),
    )


# Same RANGE frame over epoch seconds.
@query(oracle="""
            SELECT user_id, ts,
                   count(*) OVER w AS n_window,
                   round(sum(value) OVER w, 6) AS sum_window,
                   round(avg(value) OVER w, 6) AS avg_window
            FROM events WHERE user_id < 15
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch(ts)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, ts, n_window
        """)
def q_trailing_range_agg(spark, sf_dir):
    """Event-TIME trailing window (RANGE frame over epoch seconds):
    per-user 1-hour trailing count/sum/avg — irregular spacing handled
    exactly where a rows frame would count events, not time. Oracle
    replays the same range frame."""
    from databricks_flight_etl_spark.operators.accuracy import (
        trailing_range_agg,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 15)
    return trailing_range_agg(
        ev, ["user_id"], "ts", "value", window_seconds=3600
    ).select(
        "user_id", "ts", "n_window", "sum_window", "avg_window"
    ).orderBy("user_id", "ts", "n_window")


# Same distinct count, same span arithmetic.
@query(oracle="""
            SELECT user_id,
                   CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   min(event_id) AS min_seq,
                   max(event_id) AS max_seq,
                   CAST(max(event_id) - min(event_id) + 1
                        - count(DISTINCT event_id) AS BIGINT) AS n_missing
            FROM events
            WHERE event_id % 7 <> 0 AND event_id IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """)
def q_sequence_gaps(spark, sf_dir):
    """Dropped-message monitor: per-user event_id sequence coverage
    with deterministic holes punched (every 7th id removed) — ONE
    distinct-based hash aggregate, no spine join. Oracle replays the
    same span arithmetic."""
    from databricks_flight_etl_spark.operators.timeliness import (
        sequence_gaps,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 7 != 0)
    return sequence_gaps(ev, ["user_id"], "event_id").orderBy("user_id")


# Same Monday-truncated weeks, same min-week cohort, same
# datediff/7.
@query(oracle="""
            WITH act AS (
                SELECT DISTINCT user_id AS u,
                       CAST(date_trunc('week', ts) AS DATE) AS p
                FROM events
            ),
            coh AS (SELECT u, min(p) AS c FROM act GROUP BY u)
            SELECT strftime(c, '%Y-%m-%d') AS cohort,
                   CAST(datediff('day', c, p) / 7 AS BIGINT)
                       AS periods_since,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM act JOIN coh USING (u)
            GROUP BY 1, 2 ORDER BY 1, 2
        """)
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle: users cohorted by first-
    activity week (both engines truncate weeks to Monday), later weeks
    count returning users. Two user-keyed hash aggregates + one tiny
    count — no windows. Oracle replays the same truncation and
    datediff/7 arithmetic."""
    from databricks_flight_etl_spark.operators.sessions import (
        cohort_retention,
    )

    ev = _t(spark, sf_dir, "events")
    out = cohort_retention(ev, "user_id", "ts", period="week")
    # dates stringify on both sides (cross-engine date rendering)
    return out.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "periods_since", "n_users",
    ).orderBy("cohort", "periods_since")


# Same nulling, ffill via last_value IGNORE NULLS, bfill via
# the reversed frame (nearest following non-null).
@query(oracle="""
            WITH v AS (
                SELECT event_id, user_id,
                       CASE WHEN event_id % 5 = 0 THEN NULL
                            ELSE value END AS v
                FROM events
            )
            SELECT event_id, user_id, v,
                   coalesce(
                       last_value(v IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW),
                       last_value(v IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY event_id DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
                   ) AS v_filled
            FROM v ORDER BY user_id, event_id
        """)
def q_fill_forward(spark, sf_dir):
    """Per-user gap fill: every 5th value nulled, then last-
    observation-carried-forward (+ bfill for leading nulls) over the
    event order. One key-partitioned window per direction. Oracle
    replays last_value IGNORE NULLS both ways."""
    from databricks_flight_etl_spark.operators.temporal import fill_forward

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"),
    )
    out = fill_forward(ev, ["user_id"], "event_id", ["v"], backward=True)
    return out.select("event_id", "user_id", "v", "v_filled").orderBy(
        "user_id", "event_id"
    )


# Chained first-step CTEs, then the monotone roll-up.
@query(oracle="""
            WITH s1 AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id
            ),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'signup' AND e.ts > s2.t2
                GROUP BY e.user_id
            ),
            s4 AS (
                SELECT e.user_id, min(e.ts) AS t4
                FROM events e JOIN s3 ON e.user_id = s3.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s3.t3
                GROUP BY e.user_id
            )
            SELECT 1 AS step, 'view' AS step_name,
                   (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'signup', (SELECT count(*) FROM s3)
            UNION ALL
            SELECT 4, 'purchase', (SELECT count(*) FROM s4)
            ORDER BY step
        """)
def q_event_funnel(spark, sf_dir):
    """Ordered funnel view→click→signup→purchase: per-user first-step
    times chained by strictly-later conditional minima — every stage a
    hash aggregate/join keyed on the user (partitioning reused, no
    per-event window sort). Oracle replays the chained CTEs."""
    from databricks_flight_etl_spark.operators.sessions import (
        funnel_conversion,
    )

    ev = _t(spark, sf_dir, "events")
    return funnel_conversion(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "signup", "purchase"],
    ).orderBy("step")


@query(oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2
        ),
        obs AS (SELECT * FROM daily WHERE day(day) % 5 <> 0),
        span AS (
            SELECT event_type, min(day) AS lo, max(day) AS hi
            FROM obs GROUP BY 1
        ),
        spine AS (
            SELECT event_type,
                   CAST(unnest(generate_series(lo, hi,
                        INTERVAL 1 DAY)) AS DATE) AS day
            FROM span
        ),
        g AS (
            SELECT s.event_type, s.day, o.v,
                   datediff('day', DATE '1970-01-01', s.day) AS d
            FROM spine s LEFT JOIN obs o
              ON o.event_type = s.event_type AND o.day = s.day
        ),
        w AS (
            SELECT event_type, day, v, d,
                last_value(v IGNORE NULLS) OVER
                    (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN d END
                           IGNORE NULLS) OVER
                    (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS pd,
                first_value(v IGNORE NULLS) OVER
                    (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN d END
                            IGNORE NULLS) OVER
                    (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS nd
            FROM g
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
               round(CASE WHEN v IS NOT NULL THEN v
                          WHEN pv IS NOT NULL AND nv IS NOT NULL
                          THEN pv + (nv - pv)
                               * (CAST(d - pd AS DOUBLE)
                                  / CAST(nd - pd AS DOUBLE))
                          ELSE coalesce(pv, nv) END, 6) AS v,
               v IS NULL AS filled
        FROM w ORDER BY event_type, day
    """)
def q_interpolate_gaps(spark, sf_dir):
    """Per-key daily series gap repair: days whose day-of-month is a
    multiple of 5 are deleted from the per-type daily event counts,
    then linearly re-interpolated between the surviving neighbors
    (edge gaps forward/backward-fill). The series value is an exact
    integer count cast to double, so the interpolation arithmetic —
    exact integer day fractions — replays bit-for-bit in the oracle's
    identical window formula. Windows are partitioned per key (never
    global); the spine is a per-key sequence explode."""
    from databricks_flight_etl_spark.operators.timeliness import (
        interpolate_gaps,
    )

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    obs = daily.where(F.dayofmonth("day") % 5 != 0)
    out = interpolate_gaps(obs, "event_type", "day", "v")
    return out.orderBy("event_type", "day")


@query(oracle="""
            SELECT event_id, user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_prev_us,
                   lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_next_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """)
def q_event_gaps(spark, sf_dir):
    """lag/lead directly certified: per-user gap to the previous event
    and time to the next (µs), total-ordered window."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return ev.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_prev_us"),
        (F.lead(us).over(w) - us).alias("gap_next_us"),
    )


@query(oracle="""
            WITH purchases AS (
                SELECT user_id, ts,
                       max(event_id) AS purch_id,
                       max(value) AS purch_value
                FROM events WHERE event_type = 'purchase'
                GROUP BY 1, 2
            )
            SELECT a.event_id, a.user_id, b.purch_id, b.purch_value,
                   epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            ASOF JOIN purchases b
            ON a.user_id = b.user_id AND b.ts <= a.ts
        """)
def q_asof_join(spark, sf_dir):
    """As-of join (absent from both the reference and stock Spark): for
    every click event, the user's most recent purchase at or before it.
    Union + sorted-window carry — one shuffle on the key, no range
    nested-loop. Oracle: DuckDB's native ASOF JOIN. Right side is
    pre-aggregated per (user, ts) so timestamp ties can't make the
    match ambiguous."""
    from databricks_flight_etl_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purch_id"),
            F.max("value").alias("purch_value"),
        )
    )
    out = asof_join(
        clicks, purchases, keys=["user_id"],
        left_ts="ts", right_ts="ts", how="inner",
    )
    return out.select(
        "event_id",
        "user_id",
        "purch_id",
        "purch_value",
        (F.unix_micros("ts") - F.unix_micros("__matched_ts")).alias("gap_us"),
    )


# same oracle as q_asof_join — the same query under its second
# registry name
@query(oracle="""
            WITH purchases AS (
                SELECT user_id, ts,
                       max(event_id) AS purch_id,
                       max(value) AS purch_value
                FROM events WHERE event_type = 'purchase'
                GROUP BY 1, 2
            )
            SELECT a.event_id, a.user_id, b.purch_id, b.purch_value,
                   epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            ASOF JOIN purchases b
            ON a.user_id = b.user_id AND b.ts <= a.ts
        """)
def q_asof_join_cogroup(spark, sf_dir):
    """Kept registry name for the retired cogroup().applyInPandas as-of
    join: the JVM union+window ``asof_join`` beat it on CPU at sf0.01
    and sf0.1 with identical rows, so this is q_asof_join under its
    second name, checked against the SAME oracle."""
    return q_asof_join(spark, sf_dir)


@query(oracle="""
            SELECT a.event_id AS click_id, b.event_id AS err_id,
                   a.user_id,
                   epoch_us(a.ts) - epoch_us(b.ts) AS delta_us
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            JOIN (SELECT * FROM events WHERE event_type = 'error') b
              ON a.user_id = b.user_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
        """)
def q_range_join_time(spark, sf_dir):
    """Time-range join: (click, error) pairs of the same user within
    5 minutes — bucketed equi-join on (key, time cell) with neighbor
    cells instead of a nested-loop range predicate."""
    from databricks_flight_etl_spark.operators.temporal import range_join_time

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("event_id").alias("err_id"),
    )
    out = range_join_time(
        clicks, errors, keys=["user_id"],
        left_ts="ts", right_ts="err_ts", tolerance_minutes=5,
    )
    return out.select(
        "click_id",
        "err_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("err_ts")).alias("delta_us"),
    )


@query(oracle="""
            SELECT bucket_us,
                   count(*) AS n,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                   min(us) AS first_us,
                   max(us) AS last_us
            FROM (
                SELECT epoch_us(ts) AS us,
                       epoch_us(ts) - (epoch_us(ts) % 900000000)
                           AS bucket_us,
                       value
                FROM events
            )
            GROUP BY bucket_us
            ORDER BY bucket_us
        """)
def q_time_bucket_rollup(spark, sf_dir):
    """Hypertable-style time_bucket rollup: fixed 15-minute epoch
    buckets (pure integer arithmetic — no calendar), per-bucket count /
    exact cents sum / min-max event time. The continuous-aggregate
    primitive: at 100 TB this is the first materialization layer and
    partial-aggregates fully map-side before one shuffle on the bucket
    key."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    bucket = (us - us % F.lit(900_000_000)).alias("bucket_us")
    return (
        ev.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_cents"),
            F.min(us).alias("first_us"),
            F.max(us).alias("last_us"),
        )
        .orderBy("bucket_us")
    )


@query(oracle="""
        SELECT bucket_us, event_type,
               arg_min(value, us) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, us) AS close,
               CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT epoch_us(ts) AS us,
                   epoch_us(ts) - (epoch_us(ts) % 3600000000)
                       AS bucket_us,
                   event_type, value
            FROM events
            WHERE value IS NOT NULL AND ts IS NOT NULL
        )
        GROUP BY bucket_us, event_type
        ORDER BY bucket_us, event_type
    """)
def q_ohlc_bars(spark, sf_dir):
    """OHLC downsampling bars: per 1-hour epoch bucket and event_type,
    open (value at earliest µs), high, low, close (value at latest µs),
    count — one hash aggregate, min_by/max_by partial-aggregated
    map-side. The oracle replays arg_min/arg_max on the same integer
    µs key (unique timestamps make the tie-break moot, but the
    operator orders by (µs, value) anyway)."""
    from databricks_flight_etl_spark.operators.timeliness import ohlc_bars

    ev = _t(spark, sf_dir, "events")
    return ohlc_bars(
        ev, "ts", "value", bucket_us=3_600_000_000,
        group_cols=["event_type"],
    )

"""Data-quality registry queries: completeness, uniqueness, accuracy
statistics, validity, consistency and timeliness checks, plus the drift
and robust-statistics battery (SURVEY §2.10 Q1–Q6, X9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators import (
    accuracy, completeness, timeliness, uniqueness, validity,
)
from databricks_flight_etl_spark.registry._common import (
    _GROUPED_QUANTILES_SQL, _QUANTILES_EXACT_SQL, _events_us, query, _t,
)


def _events_dup_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ∪ (events where event_id % 97 = 0): a deterministic table
    WITH duplicates, since the raw synthetic events have none — makes the
    uniqueness checks (A4/A5) non-trivial."""
    ev = _events_us(spark, sf_dir)
    return ev.unionByName(ev.filter(F.col("event_id") % 97 == 0))


_EVENTS_DUP_SQL = """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events
    UNION ALL
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events WHERE event_id % 97 = 0
"""


_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


# CAST ... AS BIGINT on every integer sum: DuckDB integer sum()
# returns HUGEINT, which pandas materializes as float64 and the
# driver's value hash flags (5.0 vs 5) even when values agree.
@query(oracle="""
            SELECT """ + ", ".join(
            f"CAST(sum(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}_nn"
            for c in _LINEITEM_COLS
        ) + """ FROM lineitem
        """)
def q_nonnull_counts(spark, sf_dir):
    """A1/F13 (Q1a): per-column non-null counts, single-pass agg."""
    li = _t(spark, sf_dir, "lineitem")
    wide = completeness.nonnull_counts(li)
    return wide.select(*[F.col(c).alias(f"{c}_nn") for c in _LINEITEM_COLS])


def _events_with_nulls(spark, sf_dir):
    """events with deterministically injected nulls (raw table has none)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") < 1.0, F.lit(None)).otherwise(F.col("value")).alias("value_n"),
        F.nullif(F.col("event_type"), F.lit("view")).alias("type_n"),
        F.when(F.col("user_id") % 10 == 0, F.lit(None)).otherwise(F.col("user_id")).alias("user_n"),
    )


_EVENTS_NULLS_SQL = """
    SELECT event_id,
           CASE WHEN value < 1.0 THEN NULL ELSE value END AS value_n,
           nullif(event_type, 'view') AS type_n,
           CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END AS user_n
    FROM events
"""


@query(oracle=f"""
            WITH t AS ({_EVENTS_NULLS_SQL}),
            tot AS (SELECT count(*) AS total FROM t)
            SELECT column_name AS "column", n_null,
                   round(n_null / (SELECT total FROM tot), 6) AS null_ratio
            FROM (
                SELECT 'event_id' AS column_name,
                       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null FROM t
                UNION ALL
                SELECT 'value_n', CAST(sum(CASE WHEN value_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM t
                UNION ALL
                SELECT 'type_n', CAST(sum(CASE WHEN type_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM t
                UNION ALL
                SELECT 'user_n', CAST(sum(CASE WHEN user_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM t
            )
        """)
def q_null_profile(spark, sf_dir):
    """A2/P7 (Q1b): long-form null profile (column, n_null, null_ratio)."""
    return completeness.null_profile(
        _events_with_nulls(spark, sf_dir),
        ["event_id", "value_n", "type_n", "user_n"],
    )


@query(oracle="""
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                   value, props
            FROM events
        """)
def q_drop_allnull_cols(spark, sf_dir):
    """P2 + Q1 drop: a column with zero non-nulls is dropped (the
    TailNum behavior, DBC[11]); certified via schema compare — the
    oracle never has the dead column."""
    ev = _events_us(spark, sf_dir).withColumn(
        "dead_col", F.lit(None).cast("int")
    )
    narrowed, dropped = completeness.drop_allnull_columns(ev)
    assert dropped == ["dead_col"], dropped
    return narrowed


@query(oracle=f"""
            SELECT event_id, ts_us, user_id, event_type, value, props,
                   count(*) AS n
            FROM ({_EVENTS_DUP_SQL})
            GROUP BY ALL HAVING count(*) > 1
        """)
def q_dup_full(spark, sf_dir):
    """A4/P6 (Q4): group-by-ALL-columns duplicate groups (count>1)."""
    return uniqueness.duplicate_groups(_events_dup_base(spark, sf_dir))


@query(oracle=f"""
            SELECT DISTINCT event_id, ts_us, user_id, event_type, value, props
            FROM ({_EVENTS_DUP_SQL})
        """)
def q_dropduplicates(spark, sf_dir):
    """A5 (Q4): dropDuplicates() over a table with known duplicates."""
    return uniqueness.dedup(_events_dup_base(spark, sf_dir))


@query(oracle="""
            SELECT user_id, event_type,
                   epoch_ms(date_trunc('minute', ts)) AS minute_ms,
                   count(*) AS n
            FROM events
            GROUP BY 1, 2, 3 HAVING count(*) > 1
        """)
def q_compound_key_dups(spark, sf_dir):
    """A6 (Q4): compound-key duplicate groups on
    (user_id, event_type, minute-truncated ts) — the reference's
    [Origin, UniqueCarrier, FlightNum, DepTime_Timestamp] analogue."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.date_trunc("minute", F.col("ts"))).alias("minute_ms"),
    )
    return uniqueness.duplicate_groups(
        ev, subset=["user_id", "event_type", "minute_ms"]
    )


@query(oracle="""
            SELECT """ + ", ".join(
            f"count({c}) AS {c}_count, "
            f"CAST(sum(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) / count({c}) AS {c}_avg, "
            f"round(stddev_samp({c}), 4) AS {c}_std, "
            f"min({c}) AS {c}_min, max({c}) AS {c}_max"
            for c in ["l_quantity", "l_extendedprice", "l_discount"]
        ) + """ FROM lineitem
        """)
def q_summary_stats(spark, sf_dir):
    """A7 (Q2): typed describe() replacement — count/avg/std/min/max."""
    li = _t(spark, sf_dir, "lineitem")
    return accuracy.summary_stats(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


@query(oracle="""
            WITH s AS (SELECT min(l_extendedprice) AS mn,
                              max(l_extendedprice) AS mx FROM lineitem)
            SELECT CASE WHEN mx = mn THEN 0
                        ELSE CAST(least(floor((l_extendedprice - mn) * 20 / (mx - mn)), 19) AS INT)
                   END AS bucket,
                   count(*) AS n
            FROM lineitem, s
            GROUP BY 1
        """)
def q_histogram(spark, sf_dir):
    """Q2/D2 replacement: in-engine 20-bin equi-width histogram."""
    li = _t(spark, sf_dir, "lineitem")
    return accuracy.histogram(li, "l_extendedprice", nbins=20)


@query(oracle="""
            SELECT strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS min_day,
                   strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS max_day
            FROM events
        """)
def q_minmax_dates(spark, sf_dir):
    """A8 (Q6): global min/max over a derived date."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.date_format(F.min(F.to_date("ts")), "yyyy-MM-dd").alias("min_day"),
        F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd").alias("max_day"),
    )


@query(oracle="""
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        """)
def q_events_per_day(spark, sf_dir):
    """A10/O1 (Q6a): per-day counts over the event timestamp."""
    ev = _t(spark, sf_dir, "events")
    counts = timeliness.per_period_counts(ev, "ts", "day")
    return counts.select(
        F.date_format("period", "yyyy-MM-dd").alias("day"), "n"
    )


@query(oracle="""
            WITH b AS (SELECT CAST(min(ts) AS DATE) AS mn,
                              CAST(max(ts) AS DATE) AS mx FROM events),
            spine AS (
                SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d
                FROM b
            ),
            cnts AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c
                     FROM events GROUP BY 1)
            SELECT strftime(spine.d, '%Y-%m-%d') AS day,
                   COALESCE(cnts.c, 0) AS n_events
            FROM spine LEFT JOIN cnts ON spine.d = cnts.d
        """)
def q_missing_days(spark, sf_dir):
    """J1/G1/G2/G3/F10–F12/F14 (Q6b): calendar spine ⟕ per-day counts
    with zero-fill — full coverage table (subsumes the missing-day
    filter; zero-count days are the 'missing' ones)."""
    ev = _t(spark, sf_dir, "events")
    cov = timeliness.day_coverage(ev, "ts")
    return cov.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n_events"
    )


@query(oracle="""
            WITH t AS (
                SELECT *,
                       CASE WHEN value < 1.0 THEN NULL ELSE value END AS value_n
                FROM events
            ),
            w AS (
                SELECT
                  CAST(sum(CASE WHEN NOT (year(ts) < 2026) THEN 1 ELSE 0 END) AS BIGINT) AS r01,
                  CAST(sum(CASE WHEN NOT (month(ts) >= 1 AND month(ts) <= 12) THEN 1 ELSE 0 END) AS BIGINT) AS r02,
                  CAST(sum(CASE WHEN NOT (day(ts) >= 1 AND day(ts) <= 31) THEN 1 ELSE 0 END) AS BIGINT) AS r03,
                  CAST(sum(CASE WHEN NOT (dayofweek(ts) + 1 >= 1 AND dayofweek(ts) + 1 <= 7) THEN 1 ELSE 0 END) AS BIGINT) AS r04,
                  CAST(sum(CASE WHEN NOT (hour(ts) * 100 + minute(ts) >= 0 AND hour(ts) * 100 + minute(ts) <= 2400) THEN 1 ELSE 0 END) AS BIGINT) AS r05,
                  CAST(sum(CASE WHEN NOT (value <= 300.0) THEN 1 ELSE 0 END) AS BIGINT) AS r06,
                  CAST(sum(CASE WHEN NOT (value_n >= 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS r07,
                  CAST(sum(CASE WHEN NOT (user_id >= 1) THEN 1 ELSE 0 END) AS BIGINT) AS r08,
                  CAST(sum(CASE WHEN NOT (event_type IN ('click','view','purchase','signup','error')) THEN 1 ELSE 0 END) AS BIGINT) AS r09,
                  CAST(sum(CASE WHEN NOT (length(props) > 0) THEN 1 ELSE 0 END) AS BIGINT) AS r10
                FROM t
            )
            SELECT 'r01_year_lt_2026' AS rule, r01 AS n_fail FROM w
            UNION ALL SELECT 'r02_month_range', r02 FROM w
            UNION ALL SELECT 'r03_day_range', r03 FROM w
            UNION ALL SELECT 'r04_dow_range', r04 FROM w
            UNION ALL SELECT 'r05_hhmm_range', r05 FROM w
            UNION ALL SELECT 'r06_value_cap', r06 FROM w
            UNION ALL SELECT 'r07_value_null_pass', r07 FROM w
            UNION ALL SELECT 'r08_user_pos', r08 FROM w
            UNION ALL SELECT 'r09_known_type', r09 FROM w
            UNION ALL SELECT 'r10_props_nonempty', r10 FROM w
        """)
def q_validity_checks(spark, sf_dir):
    """Q5/P4/F9: 10-rule validity report (rule, n_fail) in ONE scan;
    nulls pass silently (three-valued ~cond); fixed reference year
    (no current_date)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "value_n",
        F.when(F.col("value") < 1.0, F.lit(None)).otherwise(F.col("value")),
    )
    c = F.col
    rules = [
        validity.Rule("r01_year_lt_2026", F.year("ts") < 2026),
        validity.Rule("r02_month_range", (F.month("ts") >= 1) & (F.month("ts") <= 12)),
        validity.Rule("r03_day_range", (F.dayofmonth("ts") >= 1) & (F.dayofmonth("ts") <= 31)),
        validity.Rule("r04_dow_range", (F.dayofweek("ts") >= 1) & (F.dayofweek("ts") <= 7)),
        validity.Rule(
            "r05_hhmm_range",
            ((F.hour("ts") * 100 + F.minute("ts")) >= 0)
            & ((F.hour("ts") * 100 + F.minute("ts")) <= 2400),
        ),
        validity.Rule("r06_value_cap", c("value") <= 300.0),
        validity.Rule("r07_value_null_pass", c("value_n") >= 1.0),
        validity.Rule("r08_user_pos", c("user_id") >= 1),
        validity.Rule(
            "r09_known_type",
            c("event_type").isin("click", "view", "purchase", "signup", "error"),
        ),
        validity.Rule("r10_props_nonempty", F.length("props") > 0),
    ]
    return validity.check_rules(ev, rules)


@query(oracle="""
            SELECT event_type, event_id,
                   round((value - avg(value) OVER w)
                         / stddev_samp(value) OVER w, 4) AS zscore
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """)
def q_zscore_grouped(spark, sf_dir):
    """applyInPandas grouped-map kernel: per-event-type z-scores
    (vectorized pandas per Arrow group). Certified against the
    window-SQL formulation — the Python and declarative paths must
    agree."""
    ev = _t(spark, sf_dir, "events")
    return accuracy.zscore_by_group(
        ev, ["event_type"], "value", "event_id", decimals=4
    )


@query(oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem WHERE l_quantity >= 36
        ),
        nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM items),
        ic AS (SELECT i, count(*) AS ni FROM items GROUP BY i),
        pc AS (
            SELECT x.i AS item_a, y.i AS item_b,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM items x JOIN items y
              ON x.b = y.b AND x.i < y.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT item_a, item_b, n_ab,
               round(n_ab / nb.n, 6) AS support,
               round(n_ab / CAST(a.ni AS DOUBLE), 6) AS confidence,
               round(n_ab * nb.n
                     / (CAST(a.ni AS DOUBLE) * CAST(bi.ni AS DOUBLE)),
                     6) AS lift
        FROM pc, nb
        JOIN ic a ON a.i = pc.item_a
        JOIN ic bi ON bi.i = pc.item_b
        ORDER BY item_a, item_b
    """)
def q_association_pairs(spark, sf_dir):
    """Market-basket association mining over orders: part pairs
    co-purchased in ≥ 2 orders with support / confidence / lift from
    exact basket-distinct counts (duplicate lines don't inflate).
    Quadratic only in basket size; all measures divide exact integers
    at the end, so the oracle replays them bit-for-bit."""
    from databricks_flight_etl_spark.operators.consistency import (
        association_pairs,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 36)
        .select("l_orderkey", "l_partkey")
    )
    return association_pairs(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    ).orderBy("item_a", "item_b")


@query(oracle="""
        WITH m AS (
            SELECT l_returnflag,
                   sum(CASE WHEN l_quantity IS NOT NULL
                            AND l_extendedprice IS NOT NULL
                       THEN 1 ELSE 0 END) AS n,
                   sum(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
                   sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
                   sum(CAST(l_quantity AS DECIMAL(28,6))
                       * CAST(l_quantity AS DECIMAL(28,6))) AS sxx,
                   sum(CAST(l_extendedprice AS DECIMAL(28,6))
                       * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy,
                   sum(CAST(l_quantity AS DECIMAL(28,6))
                       * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               round(CASE WHEN n >= 2 AND
                          sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                          > 0
                     THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     END, 6) AS corr
        FROM m ORDER BY l_returnflag
    """)
def q_grouped_corr(spark, sf_dir):
    """X9 per-group Pearson: does extended price track quantity
    differently per return flag — exact decimal moments in ONE
    grouped aggregate (engine-deterministic; only the final scalar
    formula runs in double), oracle replays the identical moments +
    formula."""
    from databricks_flight_etl_spark.operators.accuracy import (
        grouped_pearson,
    )

    li = _t(spark, sf_dir, "lineitem")
    return grouped_pearson(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice", decimals=6
    ).orderBy("l_returnflag")


@query(oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS s,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders
        ),
        nw AS (
            SELECT k,
                   CASE WHEN k % 7 = 0 THEN 'X' ELSE s END AS s,
                   CAST(CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END
                        AS DECIMAL(18,2)) AS p
            FROM base WHERE k % 11 <> 0
            UNION ALL
            SELECT k + 9000000, 'N', CAST('1.00' AS DECIMAL(18,2))
            FROM base WHERE k % 997 = 0
        ),
        cells AS (
            SELECT b.k, 's' AS "column", b.s AS base_value,
                   n.s AS new_value
            FROM base b JOIN nw n USING (k)
            WHERE b.s IS DISTINCT FROM n.s
            UNION ALL
            SELECT b.k, 'p', CAST(b.p AS VARCHAR), CAST(n.p AS VARCHAR)
            FROM base b JOIN nw n USING (k)
            WHERE b.p IS DISTINCT FROM n.p
            UNION ALL
            SELECT b.k, '__row__', 'present', NULL
            FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM nw n WHERE n.k = b.k)
            UNION ALL
            SELECT n.k, '__row__', NULL, 'present'
            FROM nw n
            WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = n.k)
        )
        SELECT k, "column", base_value, new_value
        FROM cells ORDER BY k, "column"
    """)
def q_diff_cells(spark, sf_dir):
    """X11 cell-level table diff — diff_tables says WHICH KEYS changed;
    this says WHICH COLUMNS and both values (the CDC/backfill review
    tool). Deterministic perturbation of orders (status flip on %7,
    price doubled on %5, %11 keys dropped, %997 keys added), then one
    full-outer key join + array-filter/explode — never a per-column
    join loop. Values stringify through decimal(18,2) so both engines
    render identically."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        diff_cells,
    )

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    new = base.where(F.col("k") % 11 != 0).select(
        "k",
        F.when(F.col("k") % 7 == 0, F.lit("X")).otherwise(F.col("s"))
        .alias("s"),
        F.when(F.col("k") % 5 == 0, F.col("p") * 2)
        .otherwise(F.col("p")).cast("decimal(18,2)").alias("p"),
    ).unionByName(
        base.where(F.col("k") % 997 == 0).select(
            (F.col("k") + 9000000).alias("k"),
            F.lit("N").alias("s"),
            F.lit("1.00").cast("decimal(18,2)").alias("p"),
        )
    )
    return diff_cells(base, new, ["k"]).orderBy(
        "k", "column"
    )


# Same per-group quartiles (histogram rank rule) + fences.
@query(oracle="""
            WITH v AS (SELECT event_type, value FROM events
                       WHERE value IS NOT NULL),
            hist AS (SELECT event_type, value, count(*) AS cnt
                     FROM v GROUP BY event_type, value),
            cum AS (
                SELECT event_type, value,
                       sum(cnt) OVER (PARTITION BY event_type
                                      ORDER BY value
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(cnt) OVER (PARTITION BY event_type) AS n
                FROM hist
            ),
            t AS (SELECT CAST(unnest([0.25, 0.75]) AS DOUBLE) AS q),
            quart AS (
                SELECT cum.event_type, t.q, min(cum.value) AS value
                FROM t JOIN cum
                  ON cum.cum >= floor(t.q * (cum.n - 1)) + 1
                GROUP BY cum.event_type, t.q
            ),
            fence AS (
                SELECT event_type,
                       min(CASE WHEN q = 0.25 THEN value END)
                       - 1.5 * (min(CASE WHEN q = 0.75 THEN value END)
                                - min(CASE WHEN q = 0.25 THEN value END))
                           AS lo,
                       min(CASE WHEN q = 0.75 THEN value END)
                       + 1.5 * (min(CASE WHEN q = 0.75 THEN value END)
                                - min(CASE WHEN q = 0.25 THEN value END))
                           AS hi
                FROM quart GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value
            FROM events e JOIN fence f ON e.event_type = f.event_type
            WHERE e.value < f.lo OR e.value > f.hi
            ORDER BY e.event_id
        """)
def q_grouped_outliers(spark, sf_dir):
    """Per-event-type Tukey fences (heteroscedastic segments get their
    own quartiles) — quantiles_exact(by=...) keeps everything under
    partitioned windows; fences join back as a narrow filter. Oracle
    replays per-group fences."""
    from databricks_flight_etl_spark.operators.accuracy import outliers_iqr

    ev = _t(spark, sf_dir, "events")
    return (
        outliers_iqr(ev, "value", by=["event_type"])
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


# Same two null profiles joined on column name.
@query(oracle="""
            WITH a AS (
                SELECT count(*) AS total,
                       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS n_user,
                       sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS n_type,
                       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_val
                FROM events
            ),
            b AS (
                SELECT count(*) AS total,
                       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS n_user,
                       sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS n_type,
                       sum(CASE WHEN user_id % 5 = 0 OR value IS NULL
                           THEN 1 ELSE 0 END) AS n_val
                FROM events
            ),
            pa AS (
                SELECT 'user_id' AS "column",
                       round(CAST(n_user AS DOUBLE) / total, 6) AS ra FROM a
                UNION ALL SELECT 'event_type',
                       round(CAST(n_type AS DOUBLE) / total, 6) FROM a
                UNION ALL SELECT 'value',
                       round(CAST(n_val AS DOUBLE) / total, 6) FROM a
            ),
            pb AS (
                SELECT 'user_id' AS "column",
                       round(CAST(n_user AS DOUBLE) / total, 6) AS rb FROM b
                UNION ALL SELECT 'event_type',
                       round(CAST(n_type AS DOUBLE) / total, 6) FROM b
                UNION ALL SELECT 'value',
                       round(CAST(n_val AS DOUBLE) / total, 6) FROM b
            )
            SELECT pa."column", pa.ra AS null_ratio_a,
                   pb.rb AS null_ratio_b,
                   round(pb.rb - pa.ra, 6) AS drift
            FROM pa JOIN pb USING ("column")
            ORDER BY pa."column"
        """)
def q_null_drift(spark, sf_dir):
    """Null-rate drift between two table versions (the silent-upstream-
    break monitor): version B deterministically nulls value for every
    5th user — the drift column must surface exactly that. Two tiny
    aggregates joined on column name; oracle replays both profiles."""
    from databricks_flight_etl_spark.operators.completeness import (
        null_drift,
    )

    ev = _t(spark, sf_dir, "events")
    b = ev.withColumn(
        "value",
        F.when(F.col("user_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("value")),
    )
    return null_drift(ev, b, ["user_id", "event_type", "value"])


# Same melt -> (column, value) counts -> stats; ties toward
# the smaller string.
@query(oracle="""
            WITH melted AS (
                SELECT 'o_orderstatus' AS col, o_orderstatus AS value
                FROM orders
                UNION ALL
                SELECT 'o_orderpriority', o_orderpriority FROM orders
                UNION ALL
                SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
            ),
            counts AS (
                SELECT col, value, count(*) AS cnt FROM melted
                WHERE value IS NOT NULL GROUP BY col, value
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY col ORDER BY cnt DESC, value ASC) AS rn
                FROM counts
            ),
            stats AS (
                SELECT col, CAST(sum(cnt) AS BIGINT) AS n_nonnull,
                       count(*) AS n_distinct,
                       min(value) AS min_v, max(value) AS max_v
                FROM counts GROUP BY col
            )
            SELECT s.col AS "column", s.n_nonnull, s.n_distinct,
                   s.min_v, s.max_v, r.value AS top_v,
                   CAST(r.cnt AS BIGINT) AS top_n
            FROM stats s LEFT JOIN ranked r
              ON s.col = r.col AND r.rn = 1
            ORDER BY s.col
        """)
def q_dataset_card(spark, sf_dir):
    """One-pass per-column dataset card over orders: melt to (column,
    value-string), one group-by on the pair, all stats from the count
    table — the shuffle carries distinct (column, value) rows only.
    String-typed min/max (a profile, not arithmetic); oracle replays
    the melt."""
    from databricks_flight_etl_spark.operators.completeness import (
        dataset_card,
    )

    orders = _t(spark, sf_dir, "orders")
    return dataset_card(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey"]
    )


# Identical decimal moments, identical Welch formula.
@query(oracle="""
            WITH m AS (
                SELECT sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
                       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb,
                       sum(CASE WHEN event_type = 'view'
                           THEN CAST(value AS DECIMAL(28,6)) END) AS sa,
                       sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(28,6)) END) AS sb,
                       sum(CASE WHEN event_type = 'view'
                           THEN CAST(value AS DECIMAL(28,6))
                                * CAST(value AS DECIMAL(28,6)) END) AS saa,
                       sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(28,6))
                                * CAST(value AS DECIMAL(28,6)) END) AS sbb
                FROM events
                WHERE event_type IN ('view', 'purchase')
            ),
            d AS (
                SELECT CAST(na AS DOUBLE) AS na, CAST(nb AS DOUBLE) AS nb,
                       CAST(sa AS DOUBLE) AS sa, CAST(sb AS DOUBLE) AS sb,
                       CAST(saa AS DOUBLE) AS saa, CAST(sbb AS DOUBLE) AS sbb
                FROM m
            ),
            v AS (
                SELECT na, nb, sa / na AS ma, sb / nb AS mb,
                       (saa - sa * sa / na) / (na - 1) AS va,
                       (sbb - sb * sb / nb) / (nb - 1) AS vb
                FROM d
            )
            SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                   round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                   round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
                   round(((va / na + vb / nb) * (va / na + vb / nb))
                         / ((va / na) * (va / na) / (na - 1)
                            + (vb / nb) * (vb / nb) / (nb - 1)), 2)
                       AS df_welch
            FROM v
        """)
def q_ab_welch(spark, sf_dir):
    """Welch's t between view and purchase event values — exact
    decimal moments in one pass, so the statistic is deterministic
    across engines/partitionings; the oracle folds the identical
    decimals."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ab_welch_t,
    )

    ev = _t(spark, sf_dir, "events")
    return ab_welch_t(ev, "event_type", "value", "view", "purchase")


# Same observed/expected construction from integer counts.
@query(oracle="""
            WITH e AS (
                SELECT event_type, CAST(user_id % 3 AS INT) AS bucket
                FROM events
            ),
            obs AS (SELECT event_type, bucket, count(*) AS o
                    FROM e GROUP BY 1, 2),
            ra AS (SELECT event_type, count(*) AS ra FROM e GROUP BY 1),
            rb AS (SELECT bucket, count(*) AS rb FROM e GROUP BY 1),
            tot AS (SELECT count(*) AS n FROM e),
            cells AS (
                SELECT o, CAST(ra.ra AS DOUBLE) * rb.rb / n AS exp, n
                FROM obs JOIN ra USING (event_type)
                         JOIN rb USING (bucket), tot
            )
            SELECT round(sum((o - exp) * (o - exp) / exp), 6) AS chi2,
                   CAST((SELECT (count(*) - 1) FROM ra)
                        * (SELECT (count(*) - 1) FROM rb) AS INT) AS dof,
                   CAST(first(n) AS BIGINT) AS n
            FROM cells
        """)
def q_chi_square(spark, sf_dir):
    """Chi-square independence of event_type × (user_id mod 3):
    observed counts one groupBy, expected from broadcast marginals —
    integer-exact inputs, deterministic statistic."""
    from databricks_flight_etl_spark.operators.accuracy import (
        chi_square_independence,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 3).cast("int")
    )
    return chi_square_independence(ev, "event_type", "bucket")


# Same midranks (histogram cumulative + (cnt+1)/2, exact
# decimals), same Pearson-over-ranks formula.
@query(oracle="""
            WITH src AS (
                SELECT l_quantity AS a, l_extendedprice AS b
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_extendedprice IS NOT NULL
            ),
            ha AS (SELECT a AS v, count(*) AS cnt FROM src GROUP BY a),
            rak AS (
                SELECT v,
                       CAST(coalesce(sum(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0)
                           + (cnt + 1) / 2.0 AS DECIMAL(28,6)) AS r
                FROM ha
            ),
            hb AS (SELECT b AS v, count(*) AS cnt FROM src GROUP BY b),
            rbk AS (
                SELECT v,
                       CAST(coalesce(sum(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0)
                           + (cnt + 1) / 2.0 AS DECIMAL(28,6)) AS r
                FROM hb
            ),
            ranked AS (
                SELECT rak.r AS ra, rbk.r AS rb
                FROM src JOIN rak ON src.a = rak.v
                         JOIN rbk ON src.b = rbk.v
            ),
            m AS (
                SELECT count(*) AS n,
                       sum(ra) AS sa, sum(rb) AS sb,
                       sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
                       sum(ra * rb) AS sab
                FROM ranked
            )
            SELECT round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                         / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                            * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
                         6) AS rho,
                   CAST(n AS BIGINT) AS n
            FROM m
        """)
def q_spearman(spark, sf_dir):
    """Spearman rho of lineitem quantity vs extendedprice: midranks
    (ties averaged, 0.5-granular — exact decimals) from each value
    histogram, Pearson over midranks from exact decimal moments. No
    global row sort anywhere."""
    from databricks_flight_etl_spark.operators.accuracy import (
        spearman_corr,
    )

    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


# Same rank band, same min/max bounds, same clamp + decimal
# mean.
@query(oracle="""
            WITH r AS (
                SELECT event_type, value,
                       percent_rank() OVER (
                           PARTITION BY event_type ORDER BY value) AS pr
                FROM events WHERE value IS NOT NULL
            ),
            b AS (
                SELECT event_type,
                       min(CASE WHEN pr >= 0.1 AND pr <= 0.9
                                THEN value END) AS lo,
                       max(CASE WHEN pr >= 0.1 AND pr <= 0.9
                                THEN value END) AS hi
                FROM r GROUP BY event_type
            )
            SELECT r.event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   any_value(b.lo) AS lo,
                   any_value(b.hi) AS hi,
                   round(CAST(sum(CAST(least(greatest(r.value, b.lo),
                                             b.hi)
                                       AS DECIMAL(38,4))) AS DOUBLE)
                         / count(*), 6) AS winsorized_mean
            FROM r JOIN b ON r.event_type = b.event_type
            GROUP BY r.event_type ORDER BY r.event_type
        """)
def q_winsorized_mean(spark, sf_dir):
    """Winsorized per-type mean: tails CLAMPED to the 10%-rank
    boundary values (n stays constant, outliers capped). Oracle
    replays the same rank band, bounds, clamp, and decimal mean."""
    from databricks_flight_etl_spark.operators.accuracy import (
        winsorized_mean_by_group,
    )

    ev = _t(spark, sf_dir, "events")
    return winsorized_mean_by_group(
        ev, ["event_type"], "value", trim=0.1
    ).orderBy("event_type")


# Same per-column frequencies (NULL as a value), same
# entropy/gini/top-share arithmetic.
@query(oracle="""
            WITH t AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM events),
            f AS (
                SELECT 'event_type' AS "column", event_type AS value,
                       count(*) AS n
                FROM events GROUP BY 2
                UNION ALL
                SELECT 'props' AS "column", props AS value, count(*) AS n
                FROM events GROUP BY 2
            )
            SELECT "column",
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   round(-sum((n / tot) * ln(n / tot)), 6) AS entropy,
                   round(1.0 - sum((n / tot) * (n / tot)), 6) AS gini,
                   round(max(n / tot), 6) AS top_share
            FROM f, t GROUP BY "column" ORDER BY "column"
        """)
def q_concentration(spark, sf_dir):
    """Distribution-concentration screen over the string columns of
    events ∪ documents columns of interest: entropy / Gini / top-value
    share per column from one melted frequency plan. Oracle replays
    the same frequencies and p·ln p arithmetic (rounded 6 dp)."""
    from databricks_flight_etl_spark.operators.consistency import (
        concentration_profile,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "props")
    return concentration_profile(ev, ["event_type", "props"])


# Same decimal moments, same closed-form OLS solve.
@query(oracle="""
            WITH b AS (
                SELECT event_type,
                       CAST(datediff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) AS DECIMAL(28,6))
                           AS x,
                       CAST(value AS DECIMAL(28,6)) AS y
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            m AS (
                SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS DOUBLE) AS sx,
                       CAST(sum(y) AS DOUBLE) AS sy,
                       CAST(sum(x * x) AS DOUBLE) AS sxx,
                       CAST(sum(x * y) AS DOUBLE) AS sxy
                FROM b GROUP BY event_type
            )
            SELECT event_type, n,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
                       AS slope,
                   round((sy - ((n * sxy - sx * sy)
                                / (n * sxx - sx * sx)) * sx) / n, 9)
                       AS intercept
            FROM m ORDER BY event_type
        """)
def q_linear_trend(spark, sf_dir):
    """Per-event-type value trend: OLS slope/intercept over day
    offsets (small x keeps the decimal moment sums far from their 28-
    digit capacity — raw epoch seconds squared would overflow at
    scale), one grouped aggregate of exact decimal moments. Oracle
    replays the same moments and closed form."""
    from databricks_flight_etl_spark.operators.accuracy import (
        group_linear_trend,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
        F.col("value").alias("y"),
    )
    return group_linear_trend(ev, ["event_type"], "x", "y").orderBy(
        "event_type"
    )


# Same percent_rank selection, same decimal-exact mean.
@query(oracle="""
            WITH r AS (
                SELECT event_type, value,
                       percent_rank() OVER (
                           PARTITION BY event_type ORDER BY value) AS pr
                FROM events WHERE value IS NOT NULL
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   round(CAST(sum(CAST(value AS DECIMAL(38,4)))
                              AS DOUBLE) / count(*), 6) AS trimmed_mean
            FROM r WHERE pr >= 0.1 AND pr <= 0.9
            GROUP BY event_type ORDER BY event_type
        """)
def q_trimmed_mean(spark, sf_dir):
    """Outlier-robust per-type center: 10%-rank-trimmed mean of event
    value per event_type (percent_rank window + decimal-exact mean of
    the kept rows). Oracle replays the identical percent_rank
    selection and the decimal sum."""
    from databricks_flight_etl_spark.operators.accuracy import (
        trimmed_mean_by_group,
    )

    ev = _t(spark, sf_dir, "events")
    return trimmed_mean_by_group(
        ev, ["event_type"], "value", trim=0.1
    ).orderBy("event_type")


# Same distinct-set size and sorted example list per lhs key.
@query(oracle="""
            WITH v AS (
                SELECT user_id,
                       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                       list_sort(list(DISTINCT event_type)) AS vals
                FROM events WHERE event_type IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT user_id, day,
                   CAST(len(vals) AS INT) AS n_rhs_values,
                   array_to_string(vals[1:3], ',') AS example_values
            FROM v WHERE len(vals) >= 2
            ORDER BY user_id, day
        """)
def q_fd_violations(spark, sf_dir):
    """Functional-dependency check: which (user_id, event day) pairs
    map to MULTIPLE event types (lhs → rhs violated)? One hash
    aggregate with a map-side-combining collect_set, narrow size
    filter; example values joined to a scalar string for the harness.
    Oracle replays the distinct-set size and sorted example list."""
    from databricks_flight_etl_spark.operators.consistency import (
        fd_violations,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
    ).withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    out = fd_violations(ev, ["user_id", "day"], "event_type")
    return out.select(
        "user_id", "day", "n_rhs_values",
        F.array_join("examples", ",").alias("example_values"),
    ).orderBy("user_id", "day")


# Same frozen-breaks bucket chain, Laplace smoothing, ln term.
@query(oracle="""
            WITH a AS (
                SELECT CASE WHEN value IS NULL THEN -1
                            WHEN value < 10 THEN 0
                            WHEN value < 25 THEN 1
                            WHEN value < 50 THEN 2
                            WHEN value < 100 THEN 3
                            WHEN value < 200 THEN 4
                            ELSE 5 END AS bucket
                FROM events
            ),
            bv AS (
                SELECT CASE WHEN event_id % 10 = 7 THEN NULL
                            WHEN event_id % 4 = 0 THEN value + 50
                            ELSE value END AS value
                FROM events
            ),
            b AS (
                SELECT CASE WHEN value IS NULL THEN -1
                            WHEN value < 10 THEN 0
                            WHEN value < 25 THEN 1
                            WHEN value < 50 THEN 2
                            WHEN value < 100 THEN 3
                            WHEN value < 200 THEN 4
                            ELSE 5 END AS bucket
                FROM bv
            ),
            ca AS (SELECT bucket, count(*) AS n_a FROM a GROUP BY 1),
            cb AS (SELECT bucket, count(*) AS n_b FROM b GROUP BY 1),
            j AS (
                SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
                       CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
                       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
                FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
            ),
            t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j)
            SELECT bucket, n_a, n_b,
                   round((n_a + 0.5) / (ta + 0.5 * 7), 6) AS rate_a,
                   round((n_b + 0.5) / (tb + 0.5 * 7), 6) AS rate_b,
                   round(((n_b + 0.5) / (tb + 0.5 * 7)
                          - (n_a + 0.5) / (ta + 0.5 * 7))
                         * ln(((n_b + 0.5) / (tb + 0.5 * 7))
                              / ((n_a + 0.5) / (ta + 0.5 * 7))), 6)
                       AS psi_term
            FROM j, t ORDER BY bucket
        """)
def q_psi_drift(spark, sf_dir):
    """PSI distribution-drift monitor between two event-table versions
    (version B shifts every 4th value by +50 and nulls every 10th —
    exact ops only, per the cross-engine float rules): per-bucket
    counts are exact integers; Laplace-smoothed rates and the ln-based
    psi_term round to 6 dp. Two narrow scans + k-row join."""
    from databricks_flight_etl_spark.operators.accuracy import psi_drift

    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        F.when(F.col("event_id") % 10 == 7, F.lit(None).cast("double"))
        .when(F.col("event_id") % 4 == 0, F.col("value") + 50)
        .otherwise(F.col("value"))
        .alias("value")
    )
    return psi_drift(ev, b, "value", [10.0, 25.0, 50.0, 100.0, 200.0])


# Same histogram rank: (#values strictly below)/(n-1).
@query(oracle="""
            WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
            hist AS (SELECT value AS hv, count(*) AS c FROM v GROUP BY 1),
            ranks AS (
                SELECT hv,
                       coalesce(sum(c) OVER (ORDER BY hv
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS below,
                       (SELECT sum(c) FROM hist) AS n
                FROM hist
            )
            SELECT e.event_id, e.value,
                   round(below / (n - 1), 9) AS pr
            FROM events e JOIN ranks ON e.value = ranks.hv
            ORDER BY e.event_id
        """)
def q_rank_normalize(spark, sf_dir):
    """Distribution-free rank normalization: pct_rank from the value
    histogram joined back BY VALUE (an equi-join shuffled on the value
    — scales; no global row sort, no giant broadcast). Oracle replays
    (#below)/(n−1)."""
    from databricks_flight_etl_spark.operators.accuracy import (
        rank_normalize,
    )

    ev = _t(spark, sf_dir, "events")
    return (
        rank_normalize(ev, "value", ["event_id"])
        .select("event_id", "value",
                F.round("pct_rank", 9).alias("pr"))
        .orderBy("event_id")
    )


# Identical decimal moments, identical final double formula.
@query(oracle="""
            WITH m AS (
                SELECT count(*) AS n,
                       sum(CAST(l_quantity AS DECIMAL(28,6))) AS s_q,
                       sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS s_p,
                       sum(CAST(l_discount AS DECIMAL(28,6))) AS s_d,
                       sum(CAST(l_quantity AS DECIMAL(28,6))
                           * CAST(l_quantity AS DECIMAL(28,6))) AS s_qq,
                       sum(CAST(l_extendedprice AS DECIMAL(28,6))
                           * CAST(l_extendedprice AS DECIMAL(28,6))) AS s_pp,
                       sum(CAST(l_discount AS DECIMAL(28,6))
                           * CAST(l_discount AS DECIMAL(28,6))) AS s_dd,
                       sum(CAST(l_quantity AS DECIMAL(28,6))
                           * CAST(l_extendedprice AS DECIMAL(28,6))) AS s_qp,
                       sum(CAST(l_quantity AS DECIMAL(28,6))
                           * CAST(l_discount AS DECIMAL(28,6))) AS s_qd,
                       sum(CAST(l_extendedprice AS DECIMAL(28,6))
                           * CAST(l_discount AS DECIMAL(28,6))) AS s_pd
                FROM lineitem
            )
            SELECT col_a, col_b,
                   round((CAST(n AS DOUBLE) * sab - sa * sb)
                         / (sqrt(CAST(n AS DOUBLE) * saa - sa * sa)
                            * sqrt(CAST(n AS DOUBLE) * sbb - sb * sb)),
                         6) AS corr
            FROM (
                SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                       CAST(s_q AS DOUBLE) AS sa, CAST(s_p AS DOUBLE) AS sb,
                       CAST(s_qq AS DOUBLE) AS saa,
                       CAST(s_pp AS DOUBLE) AS sbb,
                       CAST(s_qp AS DOUBLE) AS sab, n
                FROM m
                UNION ALL
                SELECT 'l_quantity', 'l_discount',
                       CAST(s_q AS DOUBLE), CAST(s_d AS DOUBLE),
                       CAST(s_qq AS DOUBLE), CAST(s_dd AS DOUBLE),
                       CAST(s_qd AS DOUBLE), n
                FROM m
                UNION ALL
                SELECT 'l_extendedprice', 'l_discount',
                       CAST(s_p AS DOUBLE), CAST(s_d AS DOUBLE),
                       CAST(s_pp AS DOUBLE), CAST(s_dd AS DOUBLE),
                       CAST(s_pd AS DOUBLE), n
                FROM m
            )
            ORDER BY col_a, col_b
        """)
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson matrix in ONE aggregate pass of exact DECIMAL
    moments — deterministic across engines/partitionings where plain
    double sums are not; the oracle folds the identical decimal sums.
    Rounded to 6 dp: the only cross-engine freedom left is the
    final decimal→double conversion ulp."""
    from databricks_flight_etl_spark.operators.accuracy import (
        correlation_matrix,
    )

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"], decimals=6
    ).orderBy("col_a", "col_b")


# Same digests (status/price fields, \x1f sep), same statuses.
@query(oracle="""
            WITH a AS (
                SELECT o_orderkey,
                       md5(coalesce(o_orderstatus, chr(0)) || chr(31) ||
                           coalesce(CAST(o_totalprice AS VARCHAR), chr(0)))
                           AS da
                FROM orders
            ),
            bsrc AS (
                SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 10 = 0
                            THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 17 <> 0
                UNION ALL
                SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey % 25 = 0
            ),
            b AS (
                SELECT o_orderkey,
                       md5(coalesce(o_orderstatus, chr(0)) || chr(31) ||
                           coalesce(CAST(o_totalprice AS VARCHAR), chr(0)))
                           AS db
                FROM bsrc
            ),
            j AS (
                SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k, da, db
                FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
            )
            SELECT CASE WHEN da IS NULL THEN 'added'
                        WHEN db IS NULL THEN 'removed'
                        WHEN da = db THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   count(*) AS n
            FROM j GROUP BY status ORDER BY status
        """)
def q_diff_tables(spark, sf_dir):
    """Keyed diff of two table versions: each side collapses to
    (key, digest) BEFORE the full-outer join — the exchange carries
    32-hex digests, never rows. Synthetic version B: every 17th order
    removed, every 10th repriced, every 25th key re-added shifted.
    Output: status counts; oracle replays digests and statuses."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        diff_tables,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = (
        orders.where(F.col("o_orderkey") % 17 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 10 == 0,
                   F.col("o_totalprice") * 2)
            .otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 25 == 0)
            .withColumn("o_orderkey",
                        F.col("o_orderkey") + 1000000)
        )
    )
    out = diff_tables(orders, b, ["o_orderkey"])
    return (
        out.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


# Same counts, share, and ratio-to-mean, same ordering.
@query(oracle="""
            WITH c AS (
                SELECT user_id, count(*) AS cnt FROM events
                GROUP BY user_id
            ),
            s AS (SELECT sum(cnt) AS total, avg(cnt) AS mean FROM c)
            SELECT user_id, cnt,
                   round(cnt / total, 6) AS share,
                   round(cnt / mean, 3) AS x_mean
            FROM c, s
            ORDER BY cnt DESC, user_id LIMIT 5
        """)
def q_skew_report(spark, sf_dir):
    """Hot-key diagnostic: top-5 heaviest user_id groups with share
    and ratio-to-mean — the pre-join skew probe. One groupBy + tiny
    ordered limit."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        skew_report,
    )

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, ["user_id"], top_k=5)


# Same decile edges (histogram rank rule), same bucketing.
@query(oracle="""
            WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
            hist AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
            cum AS (
                SELECT value,
                       sum(cnt) OVER (ORDER BY value
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       (SELECT sum(cnt) FROM hist) AS n
                FROM hist
            ),
            t AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6,
                                      0.7, 0.8, 0.9]) AS DOUBLE) AS q),
            quart AS (
                SELECT t.q, min(cum.value) AS value
                FROM t JOIN cum ON cum.cum >= floor(t.q * (cum.n - 1)) + 1
                GROUP BY t.q
            ),
            edges AS (SELECT list_sort(list(value)) AS e FROM quart)
            SELECT CAST(len(list_filter(e, x -> value >= x)) AS INT)
                       AS bucket,
                   count(*) AS n
            FROM v, edges
            GROUP BY bucket ORDER BY bucket
        """)
def q_hist_equidepth(spark, sf_dir):
    """Equi-depth histogram: exact decile edges from the histogram-rank
    quantiles, bucket = #edges ≤ x via a broadcast edge array on a
    narrow projection. Oracle replays edges and bucketing."""
    from databricks_flight_etl_spark.operators.accuracy import (
        histogram_equidepth,
    )

    ev = _t(spark, sf_dir, "events")
    return histogram_equidepth(ev, "value", nbins=10)


# Identical md5-derived digest, xor-folded; \x1f field sep,
# \x00 null sentinel.
@query(oracle="""
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   coalesce(bit_xor(CAST('0x' || substring(md5(
                       coalesce(CAST(o_orderkey AS VARCHAR), chr(0))
                       || chr(31) ||
                       coalesce(o_orderstatus, chr(0))
                       || chr(31) ||
                       coalesce(o_orderpriority, chr(0))
                   ), 1, 15) AS BIGINT)), 0) AS checksum
            FROM orders
        """)
def q_table_checksum(spark, sf_dir):
    """Order-insensitive table fingerprint: bit_xor of 64-bit
    md5-derived row digests + row count, one narrow pass, no sort, no
    row shuffle — the anti-entropy primitive for verifying a 100 TB
    copy. The oracle computes the identical fingerprint, which is the
    point: ANY engine can check the same checksum."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        table_checksum,
    )

    orders = _t(spark, sf_dir, "orders")
    return table_checksum(
        orders, ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    )


# Same exact fences (p01/p99 by the histogram rank rule), same
# clamp.
@query(oracle="""
            WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
            hist AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
            cum AS (
                SELECT value,
                       sum(cnt) OVER (ORDER BY value
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       (SELECT sum(cnt) FROM hist) AS n
                FROM hist
            ),
            t AS (SELECT CAST(unnest([0.01, 0.99]) AS DOUBLE) AS q),
            quart AS (
                SELECT t.q, min(cum.value) AS value
                FROM t JOIN cum ON cum.cum >= floor(t.q * (cum.n - 1)) + 1
                GROUP BY t.q
            ),
            fence AS (
                SELECT min(CASE WHEN q = 0.01 THEN value END) AS lo,
                       min(CASE WHEN q = 0.99 THEN value END) AS hi
                FROM quart
            )
            SELECT event_id,
                   greatest(lo, least(hi, value)) AS value_w
            FROM events, fence
            ORDER BY event_id
        """)
def q_winsorize(spark, sf_dir):
    """Winsorized values: clamp at the exact [p01, p99] fences from the
    histogram-rank quantiles, broadcast back onto a narrow projection
    — the standard robust-statistics preprocessing step. Oracle
    replays fences and clamp."""
    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    ev = _t(spark, sf_dir, "events")
    qdf = quantiles_exact(ev, "value", [0.01, 0.99])
    fences = qdf.agg(
        F.min(F.when(F.col("q") == 0.01, F.col("value"))).alias("lo"),
        F.min(F.when(F.col("q") == 0.99, F.col("value"))).alias("hi"),
    )
    return (
        ev.crossJoin(F.broadcast(fences))
        .select(
            "event_id",
            F.greatest(F.col("lo"),
                       F.least(F.col("hi"), F.col("value"))
                       ).alias("value_w"),
        )
        .orderBy("event_id")
    )


@query(oracle=_GROUPED_QUANTILES_SQL)
def q_grouped_quantiles(spark, sf_dir):
    """Per-group EXACT quantiles (quantiles_exact with by=): all
    windows are PARTITIONED on (group key, value bucket) — no
    single-partition stage anywhere, so the operator scales with group
    count and per-group distinct-value cardinality. Certifies the same
    type-1 rank rule as q_quantiles_exact, per group."""
    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    ev = _t(spark, sf_dir, "events")
    return quantiles_exact(
        ev, "value", [0.25, 0.5, 0.9], by=["event_type"]
    )


@query(oracle="""
        WITH src AS (
            SELECT TRY_CAST(substring(regexp_replace(
                       CAST(CAST(abs(l_extendedprice) AS DECIMAL(38,6))
                            AS VARCHAR),
                       '[.0]*', '', 'g'), 1, 1) AS INTEGER) AS digit
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND abs(l_extendedprice) > 0
        ),
        counted AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n
            FROM src WHERE digit IS NOT NULL GROUP BY digit
        ),
        tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM counted),
        expd(digit, p) AS (VALUES (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514))
        SELECT c.digit, c.n,
               round(c.n / tot.t, 6) AS observed_p,
               round(expd.p, 6) AS expected_p,
               round(pow(c.n - expd.p * tot.t, 2.0)
                     / (expd.p * tot.t), 6) AS chi2_term
        FROM counted c, tot, expd
        WHERE expd.digit = c.digit
        ORDER BY c.digit
    """)
def q_benford(spark, sf_dir):
    """Benford first-digit conformance of extended prices — the
    fabricated-numbers audit screen. Engine-portable by construction:
    the significant digit comes from string surgery on the decimal
    rendering (no log10 in either engine; the 9 expected proportions
    are identical Python-repr literals on both sides)."""
    from databricks_flight_etl_spark.operators.accuracy import (
        benford_profile,
    )

    li = _t(spark, sf_dir, "lineitem")
    return benford_profile(li, "l_extendedprice")


@query(oracle=_QUANTILES_EXACT_SQL)
def q_quantiles_exact(spark, sf_dir):
    """EXACT distributed quantiles (type-1 / lower interpolation) of the
    events value column via the value-histogram method: the raw rows
    are never globally sorted — one group-by collapses to the distinct-
    value histogram, a cumulative sum ranks it, each quantile picks the
    first covering value. The oracle replays the identical rank
    formula, so this certifies the quantile DEFINITION, not a library's
    interpolation default."""
    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    ev = _t(spark, sf_dir, "events")
    return quantiles_exact(
        ev, "value", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


# Same exact quartiles -> Tukey fences -> row filter.
@query(oracle="""
            WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
            hist AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
            cum AS (
                SELECT value,
                       sum(cnt) OVER (ORDER BY value
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       (SELECT sum(cnt) FROM hist) AS n
                FROM hist
            ),
            t AS (SELECT CAST(unnest([0.25, 0.75]) AS DOUBLE) AS q),
            quart AS (
                SELECT t.q, min(cum.value) AS value
                FROM t JOIN cum ON cum.cum >= floor(t.q * (cum.n - 1)) + 1
                GROUP BY t.q
            ),
            fence AS (
                SELECT min(CASE WHEN q = 0.25 THEN value END)
                       - 1.5 * (min(CASE WHEN q = 0.75 THEN value END)
                                - min(CASE WHEN q = 0.25 THEN value END))
                           AS lo,
                       min(CASE WHEN q = 0.75 THEN value END)
                       + 1.5 * (min(CASE WHEN q = 0.75 THEN value END)
                                - min(CASE WHEN q = 0.25 THEN value END))
                           AS hi
                FROM quart
            )
            SELECT event_id, value FROM events, fence
            WHERE value < lo OR value > hi
            ORDER BY event_id
        """)
def q_outliers_iqr(spark, sf_dir):
    """Tukey-fence outlier rows (outside Q1 − 1.5·IQR, Q3 + 1.5·IQR):
    exact quartiles broadcast back onto a narrow scan-side filter — the
    100 TB shape for anomaly triage. Oracle replays the same fences."""
    from databricks_flight_etl_spark.operators.accuracy import (
        outliers_iqr,
    )

    ev = _t(spark, sf_dir, "events")
    return (
        outliers_iqr(ev, "value", factor=1.5)
        .select("event_id", "value")
        .orderBy("event_id")
    )


@query(oracle="""
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
                   round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
            FROM lineitem GROUP BY 1
        """)
def q_quantiles(spark, sf_dir):
    """A7 extension: exact interpolated percentiles + Pearson
    correlation per group (Spark `percentile` and DuckDB
    `quantile_cont` share the (n−1)·p linear-interpolation definition;
    both rounded to 6). At 100 TB swap `percentile` for
    `percentile_approx` — the exact form sorts per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
    )


@query(oracle="""
            WITH f AS (
                SELECT 'event_type' AS "column", event_type AS value,
                       count(*) AS n
                FROM events GROUP BY 2
                UNION ALL
                SELECT 'props', props, count(*) FROM events GROUP BY 2
            ),
            r AS (
                SELECT "column", value, n,
                       CAST(row_number() OVER (
                           PARTITION BY "column"
                           ORDER BY n DESC, value ASC) AS INT) AS rank
                FROM f
            ),
            d AS (
                SELECT 'event_type' AS "column",
                       count(DISTINCT event_type) AS n_distinct FROM events
                UNION ALL
                SELECT 'props', count(DISTINCT props) FROM events
            )
            SELECT r."column", r.value, r.n, r.rank, d.n_distinct
            FROM r JOIN d ON r."column" = d."column"
            WHERE r.rank <= 10
        """)
def q_value_freq_capped(spark, sf_dir):
    """Q3 at scale: top-10 values per string column + exact distinct
    count (exact_distinct=True for oracle determinism; production
    default is the HLL sketch)."""
    from databricks_flight_etl_spark.operators import consistency

    ev = _t(spark, sf_dir, "events")
    out = consistency.value_frequencies_capped(
        ev, ["event_type", "props"], top_k=10, exact_distinct=True
    )
    return out.withColumnRenamed("approx_n_distinct", "n_distinct")


@query(oracle="""
            SELECT event_type,
                   round(median(value), 6) AS med_value,
                   round(median(CAST(user_id AS DOUBLE)), 6) AS med_user
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """)
def q_median_group(spark, sf_dir):
    """Exact median per group (both engines interpolate the midpoint of
    the two central values on even counts; rounded to 6 to absorb the
    final-average ulp)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.median("value"), 6).alias("med_value"),
            F.round(F.median(F.col("user_id").cast("double")), 6).alias(
                "med_user"
            ),
        )
        .orderBy("event_type")
    )


@query(oracle="""
        WITH t AS (
            SELECT value AS v,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
            FROM events
            WHERE event_type IN ('view', 'purchase')
              AND value IS NOT NULL
        ),
        hist AS (
            SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM t GROUP BY v
        ),
        cum AS (
            SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cuma,
                   SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cumb
            FROM hist
        ),
        tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM hist)
        SELECT round(max(abs(CAST(cuma AS DOUBLE) / na
                             - CAST(cumb AS DOUBLE) / nb)), 6)
                   AS ks_stat,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b
        FROM cum, tot GROUP BY na, nb
    """)
def q_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov drift statistic between the
    view and purchase value distributions: max CDF gap over the
    distinct-value histogram (no binning choice, unlike PSI). Integer
    counts divided once at the end → engine-identical doubles; the
    oracle replays the same cumulative construction."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ks_statistic,
    )

    ev = _t(spark, sf_dir, "events")
    return ks_statistic(ev, "value", "event_type", "view", "purchase")


@query(oracle="""
        WITH t AS (
            SELECT user_id % 3 AS seg, value AS v,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
            FROM events
            WHERE event_type IN ('view', 'purchase')
              AND value IS NOT NULL
        ),
        hist AS (
            SELECT seg, v, SUM(a) AS ca, SUM(1 - a) AS cb
            FROM t GROUP BY seg, v
        ),
        cum AS (
            SELECT seg,
                   SUM(ca) OVER (PARTITION BY seg ORDER BY v ROWS
                       BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cuma,
                   SUM(cb) OVER (PARTITION BY seg ORDER BY v ROWS
                       BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cumb
            FROM hist
        ),
        tot AS (
            SELECT seg, SUM(ca) AS na, SUM(cb) AS nb
            FROM hist GROUP BY seg
        )
        SELECT c.seg,
               round(max(abs(CAST(cuma AS DOUBLE) / na
                             - CAST(cumb AS DOUBLE) / nb)), 6)
                   AS ks_stat,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b
        FROM cum c JOIN tot USING (seg)
        GROUP BY c.seg, na, nb ORDER BY seg
    """)
def q_ks_drift_grouped(spark, sf_dir):
    """Per-segment KS drift in one pass (the drift-monitor shape):
    the view-vs-purchase KS statistic per user cohort (user_id mod 3),
    sharing the distributed two-level prefix-sum — every window is
    partitioned on (segment, value-range bucket), so neither segment
    count nor value cardinality lands on a single task."""
    from databricks_flight_etl_spark.operators.accuracy import ks_statistic

    ev = _t(spark, sf_dir, "events").withColumn(
        "seg", F.col("user_id") % 3
    )
    return ks_statistic(
        ev, "value", "event_type", "view", "purchase", by=["seg"]
    )


@query(oracle="""
        WITH s AS (
            SELECT 'value' AS col, CAST(value AS DOUBLE) AS v,
                   event_type
            FROM events
            UNION ALL
            SELECT 'user_id', CAST(user_id AS DOUBLE), event_type
            FROM events
        ),
        f AS (
            SELECT col, v,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
            FROM s
            WHERE event_type IN ('view', 'purchase') AND v IS NOT NULL
        ),
        hist AS (
            SELECT col, v, SUM(a) AS ca, SUM(1 - a) AS cb
            FROM f GROUP BY col, v
        ),
        cum AS (
            SELECT col,
                   SUM(ca) OVER (PARTITION BY col ORDER BY v ROWS
                       BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cuma,
                   SUM(cb) OVER (PARTITION BY col ORDER BY v ROWS
                       BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cumb
            FROM hist
        ),
        tot AS (
            SELECT col, SUM(ca) AS na, SUM(cb) AS nb
            FROM hist GROUP BY col
        )
        SELECT c.col AS "column",
               round(max(abs(CAST(cuma AS DOUBLE) / na
                             - CAST(cumb AS DOUBLE) / nb)), 6)
                   AS ks_stat,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b
        FROM cum c JOIN tot USING (col)
        GROUP BY c.col, na, nb ORDER BY "column"
    """)
def q_ks_drift_report(spark, sf_dir):
    """Whole-table drift report: KS view-vs-purchase for every listed
    numeric column in ONE pass — melt to (column, value) long form,
    then per-column KS through the shared bounded prefix-sum; no
    per-column job loop. The oracle replays the same UNION-ALL melt
    and partitioned cumulative construction."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ks_drift_report,
    )

    ev = _t(spark, sf_dir, "events")
    return ks_drift_report(
        ev, ["value", "user_id"], "event_type", "view", "purchase"
    )


@query(oracle="""
        WITH m AS (
            SELECT event_type, median(value) AS med,
                   COUNT(*) AS n
            FROM events WHERE value IS NOT NULL GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS ad,
                   m.med, m.n
            FROM events e JOIN m USING (event_type)
            WHERE e.value IS NOT NULL
        )
        SELECT event_type,
               round(any_value(med), 6) AS median,
               round(median(ad), 6) AS mad,
               CAST(any_value(n) AS BIGINT) AS n
        FROM dev GROUP BY event_type ORDER BY event_type
    """)
def q_mad_grouped(spark, sf_dir):
    """Per-group robust location/scale: median + MAD of value per
    event_type (median(|x − median|)) — outlier-immune where
    mean/stddev are not. Both medians use the engines' shared
    even-count midpoint convention (q_median_group certification)."""
    from databricks_flight_etl_spark.operators.accuracy import (
        mad_grouped,
    )

    ev = _t(spark, sf_dir, "events")
    return mad_grouped(ev, ["event_type"], "value")

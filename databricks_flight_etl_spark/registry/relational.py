"""Relational registry queries: scans, filters, joins, set operations,
OLAP grouping, window and scalar-function batteries, the TPC-H shapes,
file-format round trips and warehouse layout (SURVEY §2.1–§2.9, X5,
X11).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.functions import union_all
from databricks_flight_etl_spark.operators import relational
from databricks_flight_etl_spark.registry._common import _events_us, query, _t


@query(oracle="""
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   strftime(l_shipdate, '%Y-%m-%d') AS ship_day
            FROM lineitem
            WHERE l_quantity >= 10 AND l_quantity <= 20
        """)
def q_scan_project(spark, sf_dir):
    """S5/S7/P1/P5: parquet scan + projection + range predicate —
    Catalyst pushes both into the scan (PushedFilters/ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


@query(oracle="""
            SELECT event_id, value FROM events
            WHERE value >= 10 AND value <= 100 AND event_type = 'click'
        """)
def q_filter_range(spark, sf_dir):
    """P5 range predicates + equality (reference NB:325–352 shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("value") >= 10) & (F.col("value") <= 100)
        & (F.col("event_type") == "click")
    ).select("event_id", "value")


@query(oracle="""
            SELECT event_id, value, event_type FROM events
            ORDER BY value DESC, event_id ASC LIMIT 5
        """)
def q_topk(spark, sf_dir):
    """P3/O2: orderBy+limit → TakeOrderedAndProject; total order via
    (value desc, event_id asc) tie-break."""
    ev = _t(spark, sf_dir, "events")
    return relational.top_k(
        ev, [F.desc("value"), F.asc("event_id")], 5
    ).select("event_id", "value", "event_type")


@query(oracle="""
            SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1
        """)
def q_groupby_count(spark, sf_dir):
    """A3/O1 (Q3): value-frequency table for a string column."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@query(oracle="""
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   o_orderpriority, 'even' AS src
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   o_orderpriority, 'odd' AS src
            FROM orders WHERE o_orderkey % 2 = 1
        """)
def q_union_all(spark, sf_dir):
    """U1: bag-semantics UNION ALL of two deterministic halves."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "o_orderpriority",
    )
    even = base.filter(F.col("o_orderkey") % 2 == 0).withColumn("src", F.lit("even"))
    odd = base.filter(F.col("o_orderkey") % 2 == 1).withColumn("src", F.lit("odd"))
    return union_all([even, odd])


@query(oracle="""
            SELECT o_orderpriority, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """)
def q_join_inner(spark, sf_dir):
    """X5/J-family: inner equi-join lineitem⋈orders + grouped revenue.
    Money through exact DECIMAL sum (engine-order-independent)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@query(oracle="""
            SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS INT) AS rn
                FROM orders
            ) WHERE rn <= 3
        """)
def q_window_topk_per_group(spark, sf_dir):
    """Extension (window functions — absent in the reference, §2.11):
    top-3 orders per priority class by totalprice, total order."""
    o = _t(spark, sf_dir, "orders")
    top = relational.top_k_per_group(
        o,
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )
    return top.select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")


@query(oracle="""
            WITH t AS (
                SELECT l_returnflag, l_linestatus, l_quantity,
                       CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                       CAST(l_discount AS DECIMAL(4,2)) AS disc,
                       CAST(l_tax AS DECIMAL(4,2)) AS tax
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(price) AS DOUBLE) AS sum_base_price,
                   CAST(sum(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
                   round(CAST(sum(price) AS DOUBLE) / count(*), 6) AS avg_price,
                   round(CAST(sum(disc) AS DOUBLE) / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM t GROUP BY 1, 2
        """)
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: filter + groupBy + 5 sums +
    derived averages + count. Exact DECIMAL(18,4) sums (engine- and
    order-independent), averages derived as double sum/count and rounded.
    Filter pushes to the parquet scan; agg is partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    # The money columns are exact 2-decimal values, so casting the INPUTS
    # to decimal makes every product exact — no per-row double→decimal
    # rounding whose half-up/half-even policy could differ across engines.
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.sum(disc).cast("double").alias("_sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        F.round(F.col("_sum_disc") / F.col("count_order"), 6).alias("avg_disc"),
        "count_order",
    )


@query(oracle="""
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """)
def q_join_semi(spark, sf_dir):
    """Left-semi join: customers with at least one order. Semi joins
    never duplicate or widen the left side — the probe table streams."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


@query(oracle="""
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """)
def q_join_anti(spark, sf_dir):
    """Left-anti join: customers with no orders (NOT EXISTS shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


@query(oracle="""
            SELECT n_name, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """)
def q_join_multiway(spark, sf_dir):
    """4-way star join lineitem⋈orders⋈customer⋈nation with the tiny
    dim broadcast (no shuffle for the nation side); revenue per nation
    through exact DECIMAL sums."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@query(oracle="""
            WITH low AS (
                SELECT o_orderkey, o_orderpriority FROM orders
                WHERE o_orderkey % 3 = 0
            ),
            high AS (
                SELECT o_orderkey, o_orderpriority FROM orders
                WHERE o_orderkey % 2 = 0
            )
            SELECT *, 'both' AS src FROM (SELECT * FROM low INTERSECT SELECT * FROM high)
            UNION ALL
            SELECT *, 'only_low' AS src FROM (SELECT * FROM low EXCEPT ALL SELECT * FROM high)
        """)
def q_set_ops(spark, sf_dir):
    """Set operations beyond the reference's UNION ALL: INTERSECT and
    EXCEPT (distinct set semantics) over two overlapping order slices,
    tagged and re-unioned into one certified result."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    low = o.filter(F.col("o_orderkey") % 3 == 0)
    high = o.filter(F.col("o_orderkey") % 2 == 0)
    both = low.intersect(high).withColumn("src", F.lit("both"))
    only_low = low.exceptAll(high).withColumn("src", F.lit("only_low"))
    return both.unionByName(only_low)


@query(oracle="""
            SELECT coalesce(n_nationkey, s.s_nationkey) AS nationkey,
                   n_name,
                   coalesce(s.n_suppliers, 0) AS n_suppliers
            FROM nation
            FULL OUTER JOIN (
                SELECT CASE WHEN s_suppkey % 7 = 0 THEN s_nationkey + 100
                            ELSE s_nationkey END AS s_nationkey,
                       count(*) AS n_suppliers
                FROM supplier WHERE s_acctbal > 8000
                GROUP BY 1
            ) s ON n_nationkey = s.s_nationkey
        """)
def q_join_outer(spark, sf_dir):
    """Full-outer equi-join with unmatched rows on BOTH sides: the
    acctbal filter leaves some nations supplier-less (left-unmatched),
    and re-keyed phantom rows (+100) have no nation (right-unmatched) —
    null-filled on each side. The remaining join type after
    inner/left/semi/anti."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 8000)
    s = (
        sup.select(
            F.when(F.col("s_suppkey") % 7 == 0, F.col("s_nationkey") + 100)
            .otherwise(F.col("s_nationkey"))
            .alias("s_nationkey")
        )
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    out = n.join(s, n.n_nationkey == s.s_nationkey, "full_outer")
    return out.select(
        F.coalesce("n_nationkey", "s_nationkey").alias("nationkey"),
        "n_name",
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(oracle="""
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY 1
        """)
def q_pivot(spark, sf_dir):
    """Pivot: per-day event counts spread across one column per event
    type (missing combos zero-filled). Fixed pivot-value list so the
    plan needs no extra distinct-values job."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0)
    )
    return p.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        *[F.col(t).cast("long").alias(f"n_{t}") for t in _EVENT_TYPES],
    )


@query(oracle="""
            SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                   coalesce(l_linestatus, '<all>') AS linestatus,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """)
def q_rollup(spark, sf_dir):
    """Rollup on (returnflag, linestatus): subtotals + grand total in
    one pass; NULL group keys re-labelled '<all>' identically in both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
    )
    return r.select(
        F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
        "n",
        "sum_qty",
    )


@query(oracle="""
            SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                   coalesce(l_linestatus, '<all>') AS linestatus,
                   count(*) AS n
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
        """)
def q_cube(spark, sf_dir):
    """Cube on (returnflag, linestatus): all 2² grouping combinations in
    one pass (rollup's superset); NULL keys re-labelled '<all>'."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    return c.select(
        F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
        "n",
    )


@query(oracle="""
            SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                   coalesce(l_linestatus, '<all>') AS linestatus,
                   count(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), (l_linestatus))
        """)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the generalization rollup/cube
    specialize): totals by (flag,status), by flag alone, and by status
    alone — but NOT the grand total — in one pass, via the SQL surface."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql("""
        SELECT coalesce(l_returnflag, '<all>') AS returnflag,
               coalesce(l_linestatus, '<all>') AS linestatus,
               count(*) AS n
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus))
    """)


@query(oracle="""
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """)
def q_count_distinct(spark, sf_dir):
    """Exact distinct-count per group (expands to a two-level agg —
    the scalable exact form; approx_count_distinct is the sketch path)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(oracle="""
            SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1
        """)
def q_json_extract(spark, sf_dir):
    """Semi-structured extraction: pull $.k out of the JSON props
    column, aggregate per key value (get_json_object — JVM-side JSON
    path, no UDF)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


# Lossless roundtrip -> same aggregate from the parquet source.
_ORC_ROUNDTRIP_SQL = """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang ORDER BY lang
        """


@query(oracle=_ORC_ROUNDTRIP_SQL)
def q_xml_roundtrip(spark, sf_dir):
    """XML sink + scan roundtrip (Spark 4's built-in spark-xml): the
    documents projection written as XML, read back with the same
    rowTag, aggregated. The oracle computes the identical aggregate
    from the parquet source — certifying the serialize→parse loop is
    lossless for the projected columns (the legacy-feed interchange
    path; convert to parquet for anything repeated)."""
    import tempfile

    from databricks_flight_etl_spark.sources import read_xml, write_xml

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="flight_etl_xml_") + "/documents"
    write_xml(docs, out, row_tag="doc")
    back = read_xml(spark, out, row_tag="doc")
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(oracle="""
            WITH a AS (
                SELECT nullif(event_type, 'click') AS k,
                       count(*) AS n_even
                FROM events WHERE user_id % 2 = 0 GROUP BY 1
            ),
            b AS (
                SELECT nullif(event_type, 'click') AS k,
                       count(*) AS n_odd
                FROM events WHERE user_id % 2 = 1 GROUP BY 1
            )
            SELECT a.k, n_even, n_odd
            FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        """)
def q_null_safe_join(spark, sf_dir):
    """Null-safe equi-JOIN (eqNullSafe / IS NOT DISTINCT FROM): the NULL
    group must MATCH across sides — a plain equi-join silently drops it
    (NULL = NULL is NULL). Spark plans this as a hash join on the
    null-coalesced key, so it stays an equi-join, not a nested loop.
    The nullable key is derived with nullif on a frequent value."""
    ev = _t(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("click")).alias("k")
    a = (
        ev.where(F.col("user_id") % 2 == 0).select(k)
        .groupBy("k").agg(F.count(F.lit(1)).alias("n_even"))
    )
    b = (
        ev.where(F.col("user_id") % 2 == 1).select(k)
        .groupBy("k").agg(F.count(F.lit(1)).alias("n_odd"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_even", "n_odd"
    )


@query(oracle="""
            SELECT doc_id,
                   regexp_extract(text, '([a-z]+)', 1) AS first_word,
                   CAST(regexp_matches(text, 'ipsum') AS INT) AS has_ipsum,
                   CAST(len(regexp_extract_all(text, 'or')) AS INT) AS n_or,
                   split_part(text, ' ', 2) AS second_token,
                   length(regexp_replace(text, '[aeiou]', '', 'g'))
                       AS len_novowels
            FROM documents
        """)
def q_regexp_funcs(spark, sf_dir):
    """Scalar regexp battery: extract (group ref), boolean match, match
    count, split_part, global replace — each 1:1 with a DuckDB function
    of identical semantics on plain-ASCII patterns (Java regex and RE2
    agree there; Spark's regexp_replace is global by default, DuckDB
    needs the 'g' flag)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_extract(t, "([a-z]+)", 1).alias("first_word"),
        t.rlike("ipsum").cast("int").alias("has_ipsum"),
        F.regexp_count(t, F.lit("or")).alias("n_or"),
        F.split_part(t, F.lit(" "), F.lit(2)).alias("second_token"),
        F.length(F.regexp_replace(t, "[aeiou]", "")).alias("len_novowels"),
    )


# UNION ALL replay of the two write batches with the NULL
# literal standing in for the pre-evolution column.
@query(oracle="""
            WITH merged AS (
                SELECT event_id, user_id, value,
                       CAST(NULL AS DOUBLE) AS quality
                FROM events WHERE event_id % 2 = 0
                UNION ALL
                SELECT event_id, user_id, value, value * 2 AS quality
                FROM events WHERE event_id % 2 = 1
            )
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(quality) AS BIGINT) AS n_quality,
                   CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_quality,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_value
            FROM merged
        """)
def q_schema_evolution(spark, sf_dir):
    """Schema-evolving ingestion: batch 1 written without the
    ``quality`` column (events with even ids), batch 2 with it (odd
    ids, quality = value × 2 exactly); mergeSchema unions the footers
    and backfills batch 1 with NULLs. Aggregate certifies counts and
    sums against a UNION ALL replay with the NULL literal."""
    import tempfile

    from databricks_flight_etl_spark.sources import (
        read_parquet_evolving,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    base = tempfile.mkdtemp(prefix="flight_etl_evo_")
    ev.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
        f"{base}/b1"
    )
    ev.where(F.col("event_id") % 2 == 1).withColumn(
        "quality", F.col("value") * 2
    ).write.mode("overwrite").parquet(f"{base}/b2")
    merged = read_parquet_evolving(spark, f"{base}/b1", f"{base}/b2")
    return merged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("quality").alias("n_quality"),
        (F.sum(F.col("quality").cast("decimal(18,4)"))
         .cast("double")).alias("sum_quality"),
        (F.sum(F.col("value").cast("decimal(18,4)"))
         .cast("double")).alias("sum_value"),
    )


# The same filtered aggregate; partition layout must not change
# the answer.
@query(oracle="""
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events WHERE event_type = 'purchase'
            GROUP BY event_type ORDER BY event_type
        """)
def q_partitioned_scan(spark, sf_dir):
    """Hive-partitioned write + pruned read: events written
    partitionBy(event_type), then one partition read back with the
    filter landing as PartitionFilters (the scan never opens the
    other directories — pinned by tests; values certified against the
    plain filtered aggregate)."""
    import tempfile

    from databricks_flight_etl_spark.sources import write_partitioned

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    out_dir = tempfile.mkdtemp(prefix="flight_etl_part_")
    write_partitioned(ev, out_dir, ["event_type"])
    back = spark.read.parquet(out_dir).where(
        F.col("event_type") == "purchase"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("value").cast("decimal(18,4)"))
             .cast("double")).alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# The same join + aggregate, bucketing being a physical-layout
# concern the values must not depend on.
@query(oracle="""
            SELECT o.o_orderstatus,
                   count(*) AS n_lines,
                   CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4)))
                        AS DOUBLE) AS total_qty
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
        """)
def q_bucketed_join(spark, sf_dir):
    """Co-located fact⋈fact join on PRE-BUCKETED tables: both sides
    written bucketBy(8, key) + sortBy, so the join plan has NO
    Exchange and no Sort (each task zips bucket i with bucket i —
    pay the shuffle once at write, never per query; the 100 TB
    repeated-join pattern). Values certified against the plain SQL
    join; the shuffle-free plan is pinned by tests."""
    from databricks_flight_etl_spark.sources import write_bucketed

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "bq_orders", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"])
    write_bucketed(li, "bq_lineitem", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"])
    j = spark.table("bq_orders").join(
        spark.table("bq_lineitem"), "o_orderkey"
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(F.col("l_quantity").cast("decimal(18,4)"))
             .cast("double")).alias("total_qty"),
        )
        .orderBy("o_orderstatus")
    )


# Same per-side top-k (count desc, key asc), zero-coalesced
# product.
@query(oracle="""
            WITH va AS (
                SELECT user_id AS key, count(*) AS n_a FROM events
                WHERE event_type = 'view' GROUP BY 1
                ORDER BY n_a DESC, key ASC LIMIT 15
            ),
            vb AS (
                SELECT user_id AS key, count(*) AS n_b FROM events
                WHERE event_type = 'purchase' GROUP BY 1
                ORDER BY n_b DESC, key ASC LIMIT 15
            )
            SELECT coalesce(va.key, vb.key) AS key,
                   CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
                   CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
                   CAST(coalesce(n_a, 0) * coalesce(n_b, 0) AS BIGINT)
                       AS out_rows
            FROM va FULL OUTER JOIN vb ON va.key = vb.key
            ORDER BY out_rows DESC, key ASC
        """)
def q_join_probe(spark, sf_dir):
    """Pre-join skew probe: hottest user_ids among views vs purchases
    and the per-key output product — the emitted-row bound of the
    view⋈purchase join per user. Two grouped counts + a 2k-row join;
    oracle replays the same top-k and product."""
    from databricks_flight_etl_spark.operators.relational import (
        join_explosion_probe,
    )

    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("key")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key")
    )
    return join_explosion_probe(views, buys, "key", k=15)


# The INSERT filter replayed on the source.
@query(oracle="""
            SELECT o_orderstatus, count(*) AS n,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                         AS DOUBLE), 2) AS total
            FROM orders WHERE o_orderkey % 4 = 0
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """)
def q_sql_ddl(spark, sf_dir):
    """SQL DDL + DML surface: CREATE TABLE ... USING parquet at a temp
    location, INSERT INTO ... SELECT from a registered view, then
    aggregate the physical table — certifying the SQL write path is
    lossless (oracle computes the same aggregate from the source)."""
    import tempfile

    loc = tempfile.mkdtemp(prefix="flight_etl_ddl_") + "/t_orders"
    spark.sql("DROP TABLE IF EXISTS t_orders_ddl")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_src")
    spark.sql(
        f"""CREATE TABLE t_orders_ddl
            (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
            USING parquet LOCATION '{loc}'"""
    )
    spark.sql(
        """INSERT INTO t_orders_ddl
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM v_orders_src WHERE o_orderkey % 4 = 0"""
    )
    return spark.sql(
        """SELECT o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS DOUBLE), 2) AS total
           FROM t_orders_ddl GROUP BY o_orderstatus
           ORDER BY o_orderstatus"""
    )


# Same ranks, same 5-round dilation masks, same interleave.
@query(oracle="""
            WITH bnd AS (
                SELECT min(user_id) AS ua, max(user_id) AS ub,
                       min(value) AS va, max(value) AS vb
                FROM events
            ),
            r AS (
                SELECT event_id,
                       greatest(0, least(65535, CAST(floor(
                           (user_id - ua) / (ub - ua) * 65535)
                           AS BIGINT))) AS ra,
                       greatest(0, least(65535, CAST(floor(
                           (value - va) / (vb - va) * 65535)
                           AS BIGINT))) AS rb
                FROM events, bnd
            ),
            d AS (
                SELECT event_id,
                       ((ra | (ra << 8)) & 16711935) AS a1,
                       ((rb | (rb << 8)) & 16711935) AS b1
                FROM r
            ),
            d2 AS (
                SELECT event_id,
                       ((a1 | (a1 << 4)) & 252645135) AS a2,
                       ((b1 | (b1 << 4)) & 252645135) AS b2
                FROM d
            ),
            d3 AS (
                SELECT event_id,
                       ((a2 | (a2 << 2)) & 858993459) AS a3,
                       ((b2 | (b2 << 2)) & 858993459) AS b3
                FROM d2
            ),
            d4 AS (
                SELECT event_id,
                       ((a3 | (a3 << 1)) & 1431655765) AS a4,
                       ((b3 | (b3 << 1)) & 1431655765) AS b4
                FROM d3
            )
            SELECT event_id, (a4 | (b4 << 1)) AS zkey
            FROM d4
            ORDER BY zkey, event_id LIMIT 100
        """)
def q_zorder(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, value): min-max
    16-bit ranks bit-interleaved by magic-mask dilation — all literal
    shifts, pure narrow expression. Sorting by this key before a write
    makes each file's min/max stats tight in BOTH columns (multi-column
    data skipping); the oracle replays ranks, dilation, and the
    interleave bit-for-bit. Top-100 by (zkey, event_id)."""
    from databricks_flight_etl_spark.operators.relational import (
        zorder_sort,
    )

    ev = _t(spark, sf_dir, "events")
    out = zorder_sort(ev, "user_id", "value")
    return (
        out.select("event_id", "zkey")
        .orderBy("zkey", "event_id")
        .limit(100)
    )


# Same battery over the same total order.
@query(oracle="""
            SELECT user_id, event_id,
                   lag(value) OVER w AS prev_v,
                   lead(value) OVER w AS next_v,
                   first_value(value) OVER wf AS first_v,
                   last_value(value) OVER wf AS last_v,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 9) AS pr,
                   round(cume_dist() OVER w, 9) AS cd
            FROM events WHERE user_id < 10
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                   wf AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
            ORDER BY user_id, event_id
        """)
def q_window_battery(spark, sf_dir):
    """Window-function battery per user over a TOTAL (ts, event_id)
    order: lag, lead, first/last value, ntile(4), percent_rank,
    cume_dist — one exchange, every function over the same frame.
    Oracle replays the battery."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 10)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    return ev.select(
        "user_id", "event_id",
        F.lag("value").over(w).alias("prev_v"),
        F.lead("value").over(w).alias("next_v"),
        F.first("value").over(wf).alias("first_v"),
        F.last("value").over(wf).alias("last_v"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
    ).orderBy("user_id", "event_id")


# The unblocked predicate restricted to equal first chars —
# equality certifies the length-band blocking is lossless.
@query(oracle="""
            WITH l AS (SELECT c_name FROM customer WHERE c_custkey < 120),
            r AS (SELECT c_name FROM customer
                  WHERE c_custkey BETWEEN 80 AND 300)
            SELECT DISTINCT l.c_name AS left_val, r.c_name AS right_val,
                   levenshtein(l.c_name, r.c_name) AS distance
            FROM l JOIN r
              ON substring(l.c_name, 1, 1) = substring(r.c_name, 1, 1)
             AND abs(length(l.c_name) - length(r.c_name)) <= 1
             AND levenshtein(l.c_name, r.c_name) <= 1
            ORDER BY left_val, right_val
        """)
def q_fuzzy_join(spark, sf_dir):
    """Levenshtein-bounded entity matching WITHOUT a cross join:
    (first char, length band) blocking buckets the candidates into an
    equi-join (right side replicated ×3 bands), exact distance
    verifies within buckets. The oracle joins on the same predicate
    with an explicit length guard — equality shows blocking loses no
    in-distance pair whose first character survives."""
    from databricks_flight_etl_spark.operators.relational import (
        fuzzy_join,
    )

    cust = _t(spark, sf_dir, "customer")
    left = cust.where(F.col("c_custkey") < 120).select("c_name")
    right = cust.where(F.col("c_custkey").between(80, 300)).select(
        "c_name"
    )
    return fuzzy_join(left, right, "c_name", "c_name",
                      max_distance=1).orderBy("left_val", "right_val")


# DuckDB CUBE produces the same four grouping sets.
@query(oracle="""
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   count(*) AS n_docs
            FROM documents
            GROUP BY CUBE (lang, source)
            ORDER BY lang, source
        """)
def q_cube_counts(spark, sf_dir):
    """CUBE aggregation over (lang, source) with grouping_id — all four
    grouping sets in one pass (Spark expands the cube in a single
    shuffle; partial aggregation applies per set)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "n_docs",
        )
        .orderBy("lang", "source")
    )


@query(oracle=_ORC_ROUNDTRIP_SQL)
def q_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan roundtrip (columnar alternative to S6/S7):
    write the documents projection to a temp ORC dataset, read it back,
    aggregate. The oracle computes the same aggregate from the parquet
    source — equality certifies the roundtrip was lossless."""
    import tempfile

    from databricks_flight_etl_spark.sources import read_orc, write_orc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="flight_etl_orc_") + "/documents"
    write_orc(docs, out)
    back = read_orc(spark, out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# Same union + rank: version desc, then source desc (updates
# win ties).
@query(oracle="""
            WITH base AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice,
                       1 AS version, 0 AS src
                FROM orders
            ),
            upd AS (
                SELECT o_orderkey, 'U' AS o_orderstatus,
                       o_totalprice * 2 AS o_totalprice,
                       2 AS version, 1 AS src
                FROM orders WHERE o_orderkey % 10 = 0
            ),
            u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey
                    ORDER BY version DESC, src DESC) AS rn
                FROM u
            )
            SELECT o_orderkey, o_orderstatus,
                   round(o_totalprice, 2) AS price,
                   CAST(version AS INT) AS version
            FROM r WHERE rn = 1 ORDER BY o_orderkey
        """)
def q_merge_upsert(spark, sf_dir):
    """MERGE/upsert in one shuffle: union + QUALIFY row_number()=1 on
    (version desc, source desc) — updates overwrite matched base rows,
    unmatched updates insert, unmatched base passes through. The
    oracle replays the same rank over the same union."""
    from databricks_flight_etl_spark.operators.relational import (
        merge_upsert,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn("version", F.lit(1))
    updates = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("version", F.lit(2))
    )
    out = merge_upsert(base, updates, ["o_orderkey"], "version")
    return out.select(
        "o_orderkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"), "version"
    ).orderBy("o_orderkey")


# Same change-suppression (lag null-safe compare) + lead stamps.
@query(oracle="""
            WITH ev AS (
                SELECT user_id, event_id, event_type, ts
                FROM events WHERE user_id < 20
            ),
            lagged AS (
                SELECT *, lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) AS prev_type
                FROM ev
            ),
            chg AS (
                SELECT * FROM lagged
                WHERE prev_type IS NULL
                   OR event_type IS DISTINCT FROM prev_type
            )
            SELECT user_id, event_id, event_type,
                   ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to,
                   CAST(CASE WHEN lead(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
            FROM chg ORDER BY user_id, valid_from, event_id
        """)
def q_scd2_history(spark, sf_dir):
    """Type-2 SCD compression of the event log: per user, suppress
    consecutive rows with an unchanged event_type, stamp survivors
    with [valid_from, valid_to) and is_current. Both windows share one
    (key × order) exchange. Oracle replays lag-change-suppression +
    lead in SQL."""
    from databricks_flight_etl_spark.operators.relational import (
        scd2_history,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    out = scd2_history(
        ev, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )
    return out.select(
        "user_id", "event_id", "event_type",
        "valid_from", "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id")


@query(oracle="""
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   o_orderpriority,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping-priority): 3-way join with per-side
    filters, grouped revenue, top-10 — filters push to all three scans,
    revenue through exact decimal inputs, total order on
    (revenue desc, orderkey asc)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = joined.groupBy(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "o_orderpriority",
    ).agg(F.sum(rev).cast("double").alias("revenue"))
    return relational.top_k(
        agg, [F.desc("revenue"), F.asc("l_orderkey")], 10
    )


@query(oracle="""
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """)
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure filter + global
    agg — every predicate reaches the parquet scan; one partial+final
    agg, no shuffle of data rows."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(oracle="""
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
              )
            GROUP BY o_orderpriority
        """)
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): EXISTS subquery —
    orders in a date window having at least one lineitem shipped after
    the order date, counted per priority. Catalyst rewrites the
    decorrelated EXISTS into a left-semi join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("__q4_orders")
    li.createOrReplaceTempView("__q4_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM __q4_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
              SELECT 1 FROM __q4_lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """)


@query(oracle="""
            SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                              THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                                   * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                         END) AS DOUBLE)
                         / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2))))
                                AS DOUBLE), 6) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
        """)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): conditional revenue share
    over a lineitem⋈part join — CASE inside an aggregate, exact decimal
    revenue, final ratio rounded."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("_promo"),
        F.sum(rev).alias("_total"),
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


@query(oracle="""
            WITH a AS (
                SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS lim
                FROM lineitem GROUP BY 1
            )
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                       AS small_qty_revenue,
                   count(*) AS n_items
            FROM lineitem JOIN a ON l_partkey = a.pk
            WHERE l_quantity < lim
        """)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): correlated
    aggregate subquery — lineitems below 20% of their part's average
    quantity. Expressed as an explicit pre-aggregated self-join (the
    plan Catalyst's decorrelation would produce), exact decimal sum."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__lim")
    )
    out = li.join(avg_qty, li.l_partkey == F.col("__pk")).where(
        F.col("l_quantity") < F.col("__lim")
    )
    return out.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("small_qty_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(oracle="""
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_type = 'PROMO' AND l_quantity >= 1 AND l_quantity <= 20
                   AND p_size <= 10)
               OR (p_type = 'ECONOMY' AND l_quantity >= 10 AND l_quantity <= 30
                   AND p_size <= 25)
        """)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    OR-of-AND predicate groups spanning both join sides — exercises
    CNF conversion and partial predicate pushdown through the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_type") == "PROMO")
            & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
            & (F.col("p_size") <= 10)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30)
            & (F.col("p_size") <= 25)
        )
    )
    return joined.where(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(oracle="""
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
              )
              AND NOT EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate < o_orderdate + INTERVAL 5 DAY
              )
            GROUP BY o_orderpriority
        """)
def q_tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21-flavored correlated pair: orders in a window having at
    least one line shipped AFTER ship deadline (EXISTS) and none
    shipped early (NOT EXISTS) — two correlated subqueries decorrelated
    into semi + anti joins in one plan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("__q21_orders")
    li.createOrReplaceTempView("__q21_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM __q21_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND EXISTS (
              SELECT 1 FROM __q21_lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
          AND NOT EXISTS (
              SELECT 1 FROM __q21_lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate < o_orderdate + INTERVAL 5 DAYS
          )
        GROUP BY o_orderpriority
    """)


@query(oracle="""
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local-supplier volume): 6-way join where
    customer and supplier must share a nation (c_nationkey =
    s_nationkey as an extra join predicate), revenue per nation over
    one region and one order-date year. nation/region are broadcast;
    the date and region filters push to the scans."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(oracle="""
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): the nation
    dimension joins TWICE under different roles (supplier vs customer
    nation), a disjunctive cross-side predicate keeps the two directed
    pairs, revenue grouped by (supp_nation, cust_nation, ship year)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("__sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("__cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__cn_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(oracle="""
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returns (l_returnflag = 'R') per customer over one order quarter,
    4-way join with broadcast nation, top-20 by revenue with a key
    tie-break."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(rev).cast("double").alias("revenue")
    )
    return relational.top_k(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


@query(oracle="""
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus
            ORDER BY l_linestatus
        """)
def q_tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority classes): lineitem⋈orders
    with a ship-date window, conditional counts per line status — the
    testdata has no l_shipmode, so the CASE classifies order priority
    (URGENT/HIGH vs rest), preserving Q12's join + CASE-sum shape."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(oracle="""
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                                AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    with an extra ON-clause filter (non-urgent orders only — filter
    must live in the join condition, not WHERE, to keep orderless
    customers), per-customer count, then a second aggregation over the
    counts. Two shuffles, both on shrinking data."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(oracle="""
            WITH r AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS __rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, CAST(__rev AS DOUBLE) AS total_rev
            FROM supplier JOIN r ON s_suppkey = l_suppkey
            WHERE __rev = (SELECT max(__rev) FROM r)
            ORDER BY s_suppkey
        """)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): CTE revenue view + scalar MAX
    subquery equality — exact DECIMAL revenue so the max-equality is
    engine-stable; Catalyst plans the scalar subquery as a broadcast
    of one row."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q15_lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__q15_supplier")
    return spark.sql("""
        WITH r AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS __rev
            FROM __q15_lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(__rev AS DOUBLE) AS total_rev
        FROM __q15_supplier JOIN r ON s_suppkey = l_suppkey
        WHERE __rev = (SELECT max(__rev) FROM r)
        ORDER BY s_suppkey
    """)


@query(oracle="""
            WITH big AS (
                SELECT l_orderkey AS ok, sum(l_quantity) AS total_qty
                FROM lineitem
                GROUP BY l_orderkey
                HAVING sum(l_quantity) > 150
            )
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   o_totalprice, total_qty
            FROM big
            JOIN orders   ON ok = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): HAVING-filtered
    aggregation (orders whose total quantity exceeds 150) joined back
    to orders and customer, top-100 by (o_totalprice desc, o_orderkey).
    The big lineitem agg shrinks before either join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("__ok"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = (
        big.join(o, F.col("__ok") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    out = joined.select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "o_totalprice",
        "total_qty",
    )
    return relational.top_k(
        out, [F.desc("o_totalprice"), F.asc("o_orderkey")], 100
    )


@query(oracle="""
            WITH pos AS (
                SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS __tot,
                       count(*) AS __cnt
                FROM customer WHERE c_acctbal > 0.0
            )
            SELECT c_nationkey,
                   count(*) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                       AS totacctbal
            FROM customer, pos
            WHERE CAST(c_acctbal AS DECIMAL(12,2)) * __cnt > __tot
              AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01'
              )
            GROUP BY c_nationkey
            ORDER BY c_nationkey
        """)
def q_tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): scalar AVG subquery
    + NOT EXISTS anti-join — wealthy customers (balance above the
    positive-balance average) with no recent orders, grouped by nation
    key. The average-threshold compare is division-free
    (bal × count > total, exact DECIMAL) so the boundary set is
    identical across engines."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__q22_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__q22_orders")
    return spark.sql("""
        WITH pos AS (
            SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS __tot,
                   count(*) AS __cnt
            FROM __q22_customer WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey,
               count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   AS totacctbal
        FROM __q22_customer, pos
        WHERE CAST(c_acctbal AS DECIMAL(12,2)) * __cnt > __tot
          AND NOT EXISTS (
              SELECT 1 FROM __q22_orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """)


@query(oracle="""
            WITH cost AS (
                SELECT l_partkey, l_suppkey,
                       min(CAST(l_extendedprice AS DECIMAL(12,2))) AS __cost
                FROM lineitem
                GROUP BY l_partkey, l_suppkey
            )
            SELECT p_partkey, s_suppkey, s_name,
                   CAST(__cost AS DOUBLE) AS supply_cost
            FROM part
            JOIN cost ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            WHERE p_size <= 5
              AND __cost = (
                  SELECT min(__cost) FROM cost c2
                  WHERE c2.l_partkey = p_partkey
              )
            ORDER BY p_partkey, s_suppkey
        """)
def q_tpch_q2_shape(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): correlated scalar MIN
    subquery — for each small part, the supplier(s) whose minimum
    observed sale price equals the part-wide minimum. Prices go through
    exact DECIMAL so MIN-equality is engine-stable; Catalyst
    decorrelates the subquery into an aggregate + join."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q2_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q2_part")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__q2_supplier")
    return spark.sql("""
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   min(CAST(l_extendedprice AS DECIMAL(12,2))) AS __cost
            FROM __q2_lineitem
            GROUP BY l_partkey, l_suppkey
        )
        SELECT p_partkey, s_suppkey, s_name,
               CAST(__cost AS DOUBLE) AS supply_cost
        FROM __q2_part
        JOIN cost ON p_partkey = l_partkey
        JOIN __q2_supplier ON s_suppkey = l_suppkey
        WHERE p_size <= 5
          AND __cost = (
              SELECT min(__cost) FROM cost c2
              WHERE c2.l_partkey = p_partkey
          )
        ORDER BY p_partkey, s_suppkey
    """)


@query(oracle="""
            WITH v AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS __val
                FROM lineitem
                GROUP BY l_suppkey
            )
            SELECT l_suppkey, CAST(__val AS DOUBLE) AS supp_value
            FROM v
            WHERE __val > (SELECT sum(__val) * 0.002 FROM v)
            ORDER BY supp_value DESC, l_suppkey
        """)
def q_tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 shape (important stock): grouped value per supplier
    filtered by a scalar fraction-of-total subquery (HAVING value >
    0.2% of the grand total) — both sides exact DECIMAL, so the
    threshold cut is engine-stable."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q11_lineitem")
    return spark.sql("""
        WITH v AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS __val
            FROM __q11_lineitem
            GROUP BY l_suppkey
        )
        SELECT l_suppkey, CAST(__val AS DOUBLE) AS supp_value
        FROM v
        WHERE __val > (SELECT sum(__val) * 0.002 FROM v)
        ORDER BY supp_value DESC, l_suppkey
    """)


@query(oracle="""
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type NOT IN ('PROMO', 'ECONOMY')
              AND p_size IN (1, 2, 3, 4, 5, 10, 15, 20)
              AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
              )
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """)
def q_tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 shape (supplier-part relationship): NOT-IN subquery
    (suppliers in bad standing excluded) + COUNT(DISTINCT) per
    part attribute group — distinct-aggregate after an anti-join
    rewrite of the NOT IN."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q16_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q16_part")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__q16_supplier")
    return spark.sql("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM __q16_lineitem JOIN __q16_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT IN ('PROMO', 'ECONOMY')
          AND p_size IN (1, 2, 3, 4, 5, 10, 15, 20)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM __q16_supplier WHERE s_acctbal < 0.0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """)


@query(oracle="""
            SELECT s_suppkey, s_name
            FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem
                WHERE l_partkey IN (
                    SELECT p_partkey FROM part WHERE p_type = 'PROMO'
                )
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > 50
            )
            ORDER BY s_suppkey
        """)
def q_tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): IN-subquery nesting
    two deep — suppliers who shipped a meaningful volume (HAVING) of
    PROMO parts (inner IN) in one year. Each IN becomes a left-semi
    join; the innermost part filter prunes first."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q20_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q20_part")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__q20_supplier")
    return spark.sql("""
        SELECT s_suppkey, s_name
        FROM __q20_supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM __q20_lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM __q20_part WHERE p_type = 'PROMO'
            )
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey
            HAVING sum(l_quantity) > 50
        )
        ORDER BY s_suppkey
    """)


@query(oracle="""
            SELECT event_id, user_id,
                   row_number() OVER w1 AS rn,
                   ntile(4) OVER w1 AS nt4,
                   first_value(value) OVER w1 AS first_val,
                   last_value(value) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS last_val,
                   rank() OVER w2 AS rnk,
                   dense_rank() OVER w2 AS drnk,
                   percent_rank() OVER w2 AS pr,
                   cume_dist() OVER w2 AS cd
            FROM events
            WHERE user_id < 20
            WINDOW w1 AS (PARTITION BY user_id
                          ORDER BY epoch_us(ts), event_id),
                   w2 AS (PARTITION BY user_id ORDER BY event_type)
        """)
def q_window_funcs(spark, sf_dir):
    """Ranking/navigation window battery: row_number + ntile +
    first/last_value over a TOTAL per-user time order, and rank /
    dense_rank / percent_rank / cume_dist over a tie-heavy order
    (event_type) — ANSI semantics identical in DuckDB; last_value gets
    the explicit unbounded frame (default frame stops at CURRENT ROW
    in both engines)."""
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).where(F.col("user_id") < 20)
    w1 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w1_full = w1.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w2 = Window.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w1).alias("rn"),
        F.ntile(4).over(w1).alias("nt4"),
        F.first("value").over(w1).alias("first_val"),
        F.last("value").over(w1_full).alias("last_val"),
        F.rank().over(w2).alias("rnk"),
        F.dense_rank().over(w2).alias("drnk"),
        F.percent_rank().over(w2).alias("pr"),
        F.cume_dist().over(w2).alias("cd"),
    )


@query(oracle="""
            SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                   event_type, value
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        """)
def q_latest_per_key(spark, sf_dir):
    """Current-snapshot-per-entity (the QUALIFY rn=1 shape): each
    user's latest event under a total (ts, event_id) order — one
    shuffle on the key, streaming rank, no self-join."""
    ev = _events_us(spark, sf_dir).select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    return relational.latest_per_key(
        ev, ["user_id"], [F.desc("ts_us"), F.desc("event_id")]
    )


@query(oracle="""
            WITH d AS (
                SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
            )
            SELECT l_returnflag,
                   string_agg(l_linestatus, ','
                              ORDER BY l_linestatus) AS statuses,
                   count(*) AS n_statuses
            FROM d
            GROUP BY l_returnflag
        """)
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation: per return flag, the sorted distinct
    line statuses joined into one string (collect_set → array_sort →
    array_join ≙ DuckDB string_agg ORDER BY over a DISTINCT subquery)
    plus a distinct count. collect_set order is shuffle-dependent —
    the explicit array_sort is what makes the result deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(
            F.array_sort(F.collect_set("l_linestatus")), ","
        ).alias("statuses"),
        F.countDistinct("l_linestatus").alias("n_statuses"),
    )


@query(oracle="""
            SELECT l_returnflag,
                   round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_s,
                   round(covar_pop(l_extendedprice, l_quantity), 2) AS cov_p,
                   round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
                   round(regr_intercept(l_extendedprice, l_quantity), 2)
                       AS intercept,
                   round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
                   regr_count(l_extendedprice, l_quantity) AS n_pairs
            FROM lineitem GROUP BY l_returnflag
        """)
def q_stat_aggs(spark, sf_dir):
    """Bivariate statistical aggregates per group: sample/population
    covariance and the OLS regression family (slope, intercept, r²,
    count) of extended price on quantity — rounded to absorb the
    engines' differing accumulation orders."""
    li = _t(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.covar_samp(y, x), 2).alias("cov_s"),
        F.round(F.covar_pop(y, x), 2).alias("cov_p"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 2).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n_pairs"),
    )


@query(oracle="""
            SELECT l_returnflag,
                   count(*) AS n,
                   count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                        FILTER (WHERE l_discount >= 0.05) AS DOUBLE)
                       AS discounted_rev,
                   bool_or(l_tax > 0.07) AS any_high_tax,
                   bool_and(l_quantity >= 1) AS all_positive_qty,
                   arg_max(l_extendedprice,
                           (l_orderkey * 100 + l_linenumber) * 100000000
                           + CAST(round(l_extendedprice * 100) AS BIGINT)) AS last_price,
                   arg_min(l_extendedprice,
                           (l_orderkey * 100 + l_linenumber) * 100000000
                           + CAST(round(l_extendedprice * 100) AS BIGINT)) AS first_price
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """)
def q_agg_filter(spark, sf_dir):
    """Aggregate modifier battery: FILTER clauses on count/sum,
    bool_or/bool_and, and max_by/min_by (arg-max/arg-min) over a TOTAL
    ordering key — (l_orderkey, l_linenumber) is NOT unique in the
    synthetic testdata, so the price itself is folded into the key
    (cents in the low 8 digits) to break ties identically in both
    engines."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__af_lineitem")
    return spark.sql("""
        SELECT l_returnflag,
               count(*) AS n,
               count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                    FILTER (WHERE l_discount >= 0.05) AS DOUBLE)
                   AS discounted_rev,
               bool_or(l_tax > 0.07) AS any_high_tax,
               bool_and(l_quantity >= 1) AS all_positive_qty,
               max_by(l_extendedprice,
                      (l_orderkey * 100 + l_linenumber) * 100000000
                      + CAST(round(l_extendedprice * 100) AS BIGINT)) AS last_price,
               min_by(l_extendedprice,
                      (l_orderkey * 100 + l_linenumber) * 100000000
                      + CAST(round(l_extendedprice * 100) AS BIGINT)) AS first_price
        FROM __af_lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """)


@query(oracle="""
            SELECT n_nationkey, n_name,
                   (SELECT count(*) FROM customer
                    WHERE c_nationkey = n_nationkey) AS n_cust,
                   (SELECT max(c_acctbal) FROM customer
                    WHERE c_nationkey = n_nationkey) AS best_bal
            FROM nation
            ORDER BY n_nationkey
        """)
def q_scalar_subquery_select(spark, sf_dir):
    """Correlated scalar subqueries in the SELECT list (every prior
    subquery shape here is WHERE-clause): per nation, its customer
    count and best account balance — Catalyst decorrelates each into
    an aggregate + left outer join."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("__ss_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__ss_customer")
    return spark.sql("""
        SELECT n_nationkey, n_name,
               (SELECT count(*) FROM __ss_customer
                WHERE c_nationkey = n_nationkey) AS n_cust,
               (SELECT max(c_acctbal) FROM __ss_customer
                WHERE c_nationkey = n_nationkey) AS best_bal
        FROM __ss_nation
        ORDER BY n_nationkey
    """)


@query(oracle="""
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                   l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """)
def q_unpivot(spark, sf_dir):
    """Unpivot (wide→long, the inverse of q_pivot): three measure
    columns melt into (metric, value) rows via the native unpivot —
    a narrow 3× row expansion, no shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@query(oracle="""
            SELECT DISTINCT event_type,
                   upper(event_type) AS up,
                   reverse(event_type) AS rev,
                   translate(event_type, 'aeiou', 'AEIOU') AS vowels_up,
                   levenshtein(event_type, 'click') AS lev_click,
                   repeat(substr(event_type, 1, 1), 3) AS first3,
                   lpad(event_type, 10, '.') AS padded
            FROM events
        """)
def q_string_funcs(spark, sf_dir):
    """Scalar string-function battery over the distinct event types:
    translate, levenshtein, reverse, repeat, lpad, upper — each 1:1
    with a DuckDB builtin of identical semantics."""
    ev = _t(spark, sf_dir, "events")
    t = F.col("event_type")
    return ev.select("event_type").distinct().select(
        "event_type",
        F.upper(t).alias("up"),
        F.reverse(t).alias("rev"),
        F.translate(t, "aeiou", "AEIOU").alias("vowels_up"),
        F.levenshtein(t, F.lit("click")).alias("lev_click"),
        F.repeat(F.substring(t, 1, 1), 3).alias("first3"),
        F.lpad(t, 10, ".").alias("padded"),
    )


@query(oracle="""
            SELECT event_id,
                   epoch_ms(date_trunc('week', ts)) AS week_start_ms,
                   epoch_ms(date_trunc('quarter', ts)) AS quarter_start_ms,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       AS days_since_ny,
                   strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d')
                       AS month_end,
                   CAST(dayofweek(ts) + 1 AS INT) AS dow,
                   CAST(dayofyear(ts) AS INT) AS doy,
                   CAST(weekofyear(ts) AS INT) AS woy
            FROM events
        """)
def q_date_funcs(spark, sf_dir):
    """Calendar-function battery: week/month/quarter truncation,
    datediff from a fixed epoch, last_day, day-of-week (Spark's
    Sunday=1 vs DuckDB's Sunday=0 reconciled in the oracle), day/week
    of year — each 1:1 with a DuckDB builtin."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_millis(F.date_trunc("week", "ts")).alias("week_start_ms"),
        F.unix_millis(F.date_trunc("quarter", "ts")).alias("quarter_start_ms"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("days_since_ny"),
        F.date_format(F.last_day(F.to_date("ts")), "yyyy-MM-dd").alias("month_end"),
        F.dayofweek("ts").alias("dow"),
        F.dayofyear("ts").alias("doy"),
        F.weekofyear("ts").alias("woy"),
    )


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
def q_sql_surface(spark, sf_dir):
    """G4 (Entry 2): temp view + spark.sql — the reference's SQL entry
    path, running the Q7 HHMM decode as an inline SQL string (the exact
    shape of NB:261–291) instead of the DataFrame API. Same oracle as
    q_derive_timestamp; certifies the dual API surface."""
    from databricks_flight_etl_spark.session import register_views

    ev = _t(spark, sf_dir, "events")
    register_views(spark, {"events_v": ev})
    return spark.sql("""
        WITH t AS (
            SELECT event_id,
                   hour(ts) * 100 + minute(ts) AS dep,
                   year(ts) AS y, month(ts) AS m, day(ts) AS d
            FROM events_v
        )
        SELECT event_id, dep AS dep_int,
               CASE WHEN substring(cast(dep AS string), 1, 2) = '24'
                         OR length(cast(dep AS string)) < 3 THEN '00'
                    WHEN length(cast(dep AS string)) = 3
                         THEN substring(cast(dep AS string), 1, 1)
                    ELSE substring(cast(dep AS string), 1, 2)
               END AS dep_hour,
               right(cast(dep AS string), 2) AS dep_min,
               unix_millis(to_timestamp(concat(
                   cast(y AS string), '-', lpad(cast(m AS string), 2, '0'),
                   '-', lpad(cast(d AS string), 2, '0'), ' ',
                   lpad(CASE WHEN substring(cast(dep AS string), 1, 2) = '24'
                                  OR length(cast(dep AS string)) < 3 THEN '00'
                             WHEN length(cast(dep AS string)) = 3
                                  THEN substring(cast(dep AS string), 1, 1)
                             ELSE substring(cast(dep AS string), 1, 2)
                        END, 2, '0'),
                   ':', lpad(right(cast(dep AS string), 2), 2, '0')),
                   'yyyy-MM-dd HH:mm')) AS dep_ts_ms
        FROM t
    """)


@query(oracle="""
            SELECT vec_id,
                   len(e) AS n,
                   list_reduce(list_slice(e, 1, 4),
                               (a, b) -> a + b) AS head4_sum,
                   list_max(e) AS mx,
                   list_min(e) AS mn,
                   list_reduce(e, (a, b) -> a + b) AS folded,
                   list_transform(e, x -> x * 2.0)[1] AS t1,
                   len(list_filter(e, x -> x > 0.0)) AS n_pos,
                   list_dot_product(e, list_reverse(e)) AS dot_rev,
                   list_position(e, list_max(e)) AS argmax1
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings)
        """)
def q_array_funcs(spark, sf_dir):
    """Higher-order/array-function battery over the embedding vectors:
    slice, min/max, left-fold sum (aggregate ≙ list_reduce), transform,
    filter, zip_with self-reversed dot product, argmax position — all
    JVM-side expressions, zero shuffle, and fold order fixed
    left-to-right so doubles match the oracle bit-for-bit. Every
    output column is SCALAR (the slice is folded to head4_sum) so the
    query is driver-window-eligible — the driver's pandas
    canonicalizer cannot hash array cells."""
    emb = _t(spark, sf_dir, "embeddings")
    a = F.col("embedding").cast("array<double>")
    fold_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )
    return emb.select(
        "vec_id",
        F.size(a).alias("n"),
        fold_sum(F.slice(a, 1, 4)).alias("head4_sum"),
        F.array_max(a).alias("mx"),
        F.array_min(a).alias("mn"),
        fold_sum(a).alias("folded"),
        F.element_at(F.transform(a, lambda x: x * 2.0), 1).alias("t1"),
        F.size(F.filter(a, lambda x: x > 0.0)).alias("n_pos"),
        fold_sum(
            F.zip_with(a, F.reverse(a), lambda x, y: x * y)
        ).alias("dot_rev"),
        F.array_position(a, F.array_max(a)).alias("argmax1"),
    )


# n_partitions pins the ~200 MB sizing contract: events at the
# driver's compare SF (0.01) estimates well under one target
# partition, so the sink must choose exactly 1.
@query(oracle="""
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(1 AS INT) AS n_partitions
            FROM events
        """)
def q_parquet_roundtrip(spark, sf_dir):
    """S6/S8: size-targeted parquet sink + read-back (the reference's
    SizeEstimator→coalesce→write, NB:416–437, on supported APIs).
    Writes to a temp dir; returns (n_rows, n_partitions_used)."""
    import tempfile

    from databricks_flight_etl_spark.sources import read_parquet, write_parquet

    ev = _events_us(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="flight_etl_sink_") + "/events"
    parts = write_parquet(ev, out, target_mb=200)
    back = read_parquet(spark, out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(parts).cast("int").alias("n_partitions"),
    )


@query(oracle="""
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                 ELSE CAST(0 AS DECIMAL(4,2)) END)
                        AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2))))
                          AS DOUBLE) AS mkt_share
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
            ORDER BY 1
        """)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): 8-way join (nation twice
    — customer-side restricts the region, supplier-side names the
    nation), then a conditional-aggregate ratio per order year. Both
    sums are exact decimals cast to double before the division, so the
    quotient is bit-identical across engines. Region+part filters push
    into broadcast dims; lineitem joins are the only shuffles."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    n1 = n.select(
        F.col("n_nationkey").alias("__cn_key"),
        F.col("n_regionkey").alias("__cn_region"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("__sn_key"),
        F.col("n_name").alias("nation"),
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("__cn_key"))
        .join(F.broadcast(r), F.col("__cn_region") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("__sn_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_1", vol).otherwise(
                        F.lit(0).cast("decimal(4,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(oracle="""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))
                            - CAST(0.6 AS DECIMAL(2,1))
                              * CAST(p_retailprice AS DECIMAL(12,2))
                              * CAST(l_quantity AS DECIMAL(12,2)))
                        AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
            ORDER BY nation, o_year DESC
        """)
def q_tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): the testdata has no
    partsupp table, so supply cost is modeled as 60% of the part's
    retail price — the plan shape (part-name LIKE filter, 6-way join,
    profit = revenue − cost as exact decimal, group by supplier nation
    × order year, year DESC) is Q9's. All money math stays in decimal
    until the final double cast."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ) - F.lit("0.6").cast("decimal(2,1)") * F.col("p_retailprice").cast(
        "decimal(12,2)"
    ) * F.col("l_quantity").cast("decimal(12,2)")
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(oracle="""
            SELECT event_id,
                   CAST(2 AS INTEGER) AS n_entries,
                   'type,user' AS keys_sorted,
                   event_type AS v_type,
                   CAST((CASE WHEN strlen(event_type) > 4 THEN 1 ELSE 0 END)
                        + (CASE WHEN strlen(CAST(user_id AS VARCHAR)) > 4
                                THEN 1 ELSE 0 END) AS INTEGER) AS n_long_vals,
                   upper(event_type) AS v_type_upper,
                   event_type || '|' || CAST(user_id AS VARCHAR)
                       || '|' || 'events' AS vals_all
            FROM events
        """)
def q_map_funcs(spark, sf_dir):
    """Map-function battery: create_map from columns, then size,
    map_keys (sorted), element_at lookup, map_filter, transform_values,
    map_concat + map_values — all JVM-side map expressions. The oracle
    states the same values directly from the source columns (the map is
    built from known keys, so every output has a closed form)."""
    ev = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.size(m).alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, "type").alias("v_type"),
        F.size(
            F.map_filter(m, lambda k, v: F.length(v) > F.lit(4))
        ).alias("n_long_vals"),
        F.element_at(
            F.transform_values(m, lambda k, v: F.upper(v)), "type"
        ).alias("v_type_upper"),
        F.array_join(
            F.map_values(
                F.map_concat(m, F.create_map(F.lit("src"), F.lit("events")))
            ),
            "|",
        ).alias("vals_all"),
    )


@query(oracle="""
            SELECT o_orderkey,
                   CAST(u - 1 AS INTEGER) AS pos,
                   CAST(u AS INTEGER) AS val
            FROM (
                SELECT o_orderkey,
                       unnest(range(1, (o_orderkey % 5) + 2)) AS u
                FROM orders
                WHERE o_orderkey % 7 = 0
            )
        """)
def q_posexplode_sequence(spark, sf_dir):
    """Row-generating lateral: sequence() builds a per-row 1..n array
    (n from the row), posexplode emits (0-based pos, val) rows — the
    generate/unnest-with-ordinality surface. Oracle unnests
    range(1, n+1) and derives pos = val-1."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    n = (F.col("o_orderkey") % 5 + 1).cast("int")
    return o.select(
        "o_orderkey",
        F.posexplode(F.sequence(F.lit(1), n)).alias("pos", "val"),
    )


@query(oracle="""
            SELECT o_orderkey,
                   CASE WHEN o_totalprice < 1000 THEN 'low'
                        WHEN o_totalprice < 10000 THEN 'mid'
                        ELSE 'high' END AS price_band,
                   coalesce(nullif(o_orderstatus, 'O'), 'open')
                       AS status_or_open,
                   least(o_orderkey % 97, o_custkey % 89) AS least_mod,
                   greatest(o_orderkey % 97, o_custkey % 89) AS greatest_mod,
                   o_orderstatus IS NOT DISTINCT FROM 'F' AS is_final,
                   CAST(CASE WHEN o_orderpriority IS NULL THEN -1
                             ELSE strlen(o_orderpriority)
                        END AS INTEGER) AS prio_len
            FROM orders
        """)
def q_conditional_funcs(spark, sf_dir):
    """Conditional-expression battery: CASE/WHEN chains, coalesce,
    nullif, nvl2-style branching, least/greatest, null-safe equality
    (<=>) — scalar control flow that must stay inside whole-stage
    codegen."""
    o = _t(spark, sf_dir, "orders")
    price_band = (
        F.when(F.col("o_totalprice") < 1000, "low")
        .when(F.col("o_totalprice") < 10000, "mid")
        .otherwise("high")
    )
    return o.select(
        "o_orderkey",
        price_band.alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")
        ).alias("status_or_open"),
        F.least(
            F.col("o_orderkey") % 97, F.col("o_custkey") % 89
        ).alias("least_mod"),
        F.greatest(
            F.col("o_orderkey") % 97, F.col("o_custkey") % 89
        ).alias("greatest_mod"),
        (F.col("o_orderstatus").eqNullSafe(F.lit("F"))).alias("is_final"),
        F.when(F.col("o_orderpriority").isNull(), F.lit(-1))
        .otherwise(F.length("o_orderpriority"))
        .alias("prio_len"),
    )


@query(oracle="""
            SELECT c_mktsegment,
                   count(*) AS n,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_value_cents
            FROM events
            JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """)
def q_salted_join(spark, sf_dir):
    """Skew-resilient salted join, oracle-certified: events.user_id has
    only ~15 distinct values over the whole fact table (extreme hot
    keys), so the plain shuffle join would put each key on one task.
    salted_join spreads every key over 8 salts (left hashed, right
    replicated 8×); the oracle is the PLAIN join — salting must be
    invisible in the result. Doubles are floor(value*100)-bucketed
    before summing so the aggregate is exact integer math."""
    from databricks_flight_etl_spark.operators.relational import salted_join

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"),
        F.floor(F.col("value") * 100).alias("value_c"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(ev, cust, ["c_custkey"], n_salts=8)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").alias("sum_value_cents"),
        )
        .orderBy("c_mktsegment")
    )


@query(oracle="""
            SELECT o_orderkey,
                   to_json(struct_pack(k := o_orderkey,
                                       st := o_orderstatus)) AS js,
                   o_orderstatus AS st_field,
                   o_orderkey AS k_roundtrip,
                   CASE WHEN o_orderkey % 7 < o_custkey % 7 THEN 'a'
                        WHEN o_custkey % 7 < o_orderkey % 7 THEN 'b'
                        ELSE 'a' END AS min_tag
            FROM orders
        """)
def q_struct_funcs(spark, sf_dir):
    """Struct-expression battery: build a named struct from columns,
    access fields, serialize with to_json, round-trip through
    from_json, and order an array of structs (struct comparison is
    field-order lexicographic) — all row-level, no shuffle."""
    o = _t(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
    )
    js = F.to_json(s)
    arr = F.array(
        F.struct(
            (F.col("o_orderkey") % 7).alias("r"),
            F.lit("a").alias("tag"),
        ),
        F.struct(
            (F.col("o_custkey") % 7).alias("r"),
            F.lit("b").alias("tag"),
        ),
    )
    return o.select(
        "o_orderkey",
        js.alias("js"),
        s.getField("st").alias("st_field"),
        F.from_json(js, "k bigint, st string").getField("k").alias(
            "k_roundtrip"
        ),
        F.sort_array(arr).getItem(0).getField("tag").alias("min_tag"),
    )


@query(oracle="""
            SELECT o_orderkey,
                   o_totalprice / nullif(o_orderkey % 3, 0) AS div3,
                   TRY_CAST(o_orderstatus AS INTEGER) AS status_int,
                   CAST(NULL AS INTEGER) AS oob,
                   CASE WHEN o_orderkey > 0 THEN CAST(NULL AS BIGINT)
                        ELSE 9223372036854775807 END AS overflow_null
            FROM orders
        """)
def q_try_arith(spark, sf_dir):
    """Error-safe arithmetic battery: try_divide (null on /0),
    try_cast (null on bad parse), try_element_at (null out of bounds),
    try_add at bigint overflow — null-on-error semantics that stay
    stable whether the session runs ANSI on or off, so a 100 TB batch
    can enable ANSI without job-killing exceptions on the hot path."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), (F.col("o_orderkey") % 3)).alias(
            "div3"
        ),
        F.expr("try_cast(o_orderstatus AS INT)").alias("status_int"),
        F.try_element_at(
            F.sequence(F.lit(1), F.lit(3)), F.lit(99)
        ).alias("oob"),
        F.when(
            F.col("o_orderkey") > 0,
            F.try_add(F.lit(9223372036854775807), F.col("o_orderkey")),
        )
        .otherwise(F.lit(9223372036854775807))
        .alias("overflow_null"),
    )


@query(oracle="""
            SELECT event_type,
                   bit_and(user_id) AS band,
                   bit_or(user_id) AS bor,
                   bit_xor(user_id) AS bxor,
                   CAST(sum(user_id << 2) AS BIGINT) AS sum_shl,
                   CAST(sum(user_id & 15) AS BIGINT) AS sum_and15,
                   CAST(sum(xor(user_id, 255)) AS BIGINT) AS sum_x255
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """)
def q_bitwise(spark, sf_dir):
    """Bitwise battery: per-row shifts/AND/XOR summed, plus the
    bit_and/bit_or/bit_xor aggregates per event_type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("user_id").alias("band"),
            F.bit_or("user_id").alias("bor"),
            F.bit_xor("user_id").alias("bxor"),
            F.sum(F.shiftleft(F.col("user_id"), 2)).alias("sum_shl"),
            F.sum(F.col("user_id").bitwiseAND(F.lit(15))).alias("sum_and15"),
            F.sum(F.col("user_id").bitwiseXOR(F.lit(255))).alias("sum_x255"),
        )
        .orderBy("event_type")
    )

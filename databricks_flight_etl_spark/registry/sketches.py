"""Sketch registry queries: HyperLogLog, count-min, Bloom filters, heavy
hitters and mergeable quantile sketches, each certified in its exact
mode (SURVEY §2.11 X8).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.registry._common import (
    _GROUPED_QUANTILES_SQL, _QUANTILES_EXACT_SQL, query, _t,
)


@query(oracle=None)
def q_approx_distinct(spark, sf_dir):
    """The sketch path for distinct counts (HLL++). Estimator internals
    differ across engines → rows-only; the exact twin is
    q_count_distinct. At 100 TB this is the default: fixed-size state
    per group instead of a distinct-expand shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("n_users_approx"),
        F.approx_count_distinct("props").alias("n_props_approx"),
    )


# Identical CMS rebuild: same md5 hash family, same grid, min
# over each probe term's 3 cells (0 when a cell is empty).
@query(oracle="""
            WITH words AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
                FROM documents
            ),
            cells AS (
                SELECT r.row,
                       CAST(CAST('0x' || substring(md5(r.row || ':' || w), 1, 15)
                                 AS BIGINT) % 1024 AS INT) AS col
                FROM words, (SELECT unnest([0, 1, 2]) AS row) r
            ),
            grid AS (
                SELECT row, col, count(*) AS n FROM cells GROUP BY 1, 2
            ),
            probes AS (
                SELECT t.term, r.row,
                       CAST(CAST('0x' || substring(md5(r.row || ':' || t.term), 1, 15)
                                 AS BIGINT) % 1024 AS INT) AS col
                FROM (SELECT unnest(['data', 'the', 'spark', 'joinless'])
                          AS term) t,
                     (SELECT unnest([0, 1, 2]) AS row) r
            )
            SELECT p.term, CAST(min(coalesce(g.n, 0)) AS BIGINT) AS est
            FROM probes p
            LEFT JOIN grid g ON p.row = g.row AND p.col = g.col
            GROUP BY p.term
        """)
def q_cms_sketch(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over all document
    tokens — built in one pass, a few KB regardless of corpus size,
    mergeable cell-wise. The md5-derived hash family is engine-portable,
    so the DuckDB oracle rebuilds the identical sketch and the driver
    compares point estimates cell-exactly."""
    from databricks_flight_etl_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("w")
    )
    sk = cms_build(words, "w", width=1024, depth=3)
    return cms_estimate(
        sk, ["data", "the", "spark", "joinless"], width=1024, depth=3
    )


# Mergeability: merge(sketch(evens), sketch(odds)) must equal
# one whole-corpus grid — which is exactly what this builds.
@query(oracle="""
            WITH words AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
                FROM documents
            ),
            cells AS (
                SELECT r.row,
                       CAST(CAST('0x' || substring(md5(r.row || ':' || w), 1, 15)
                                 AS BIGINT) % 1024 AS INT) AS col
                FROM words, (SELECT unnest([0, 1, 2]) AS row) r
            ),
            grid AS (
                SELECT row, col, count(*) AS n FROM cells GROUP BY 1, 2
            ),
            probes AS (
                SELECT t.term, r.row,
                       CAST(CAST('0x' || substring(md5(r.row || ':' || t.term), 1, 15)
                                 AS BIGINT) % 1024 AS INT) AS col
                FROM (SELECT unnest(['merge', 'batch', 'window',
                                     'absentterm']) AS term) t,
                     (SELECT unnest([0, 1, 2]) AS row) r
            )
            SELECT p.term, CAST(min(coalesce(g.n, 0)) AS BIGINT) AS est
            FROM probes p
            LEFT JOIN grid g ON p.row = g.row AND p.col = g.col
            GROUP BY p.term
        """)
def q_cms_merge(spark, sf_dir):
    """Count-Min MERGEABILITY certified: sketches of the even-id and
    odd-id document halves, merged cell-wise, must estimate exactly
    like one sketch of the whole corpus — the oracle builds the whole-
    corpus grid directly."""
    from databricks_flight_etl_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    docs = _t(spark, sf_dir, "documents")

    def words(side):
        return side.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda t: t != "")
            ).alias("w")
        )

    even = cms_build(words(docs.where(F.col("doc_id") % 2 == 0)),
                     "w", width=1024, depth=3)
    odd = cms_build(words(docs.where(F.col("doc_id") % 2 == 1)),
                    "w", width=1024, depth=3)
    return cms_estimate(
        cms_merge(even, odd),
        ["merge", "batch", "window", "absentterm"],
        width=1024, depth=3,
    )


# HLL registers rebuilt bit-for-bit: 60-bit md5 hash, top 10
# bits pick the bucket, rho = leading zeros of the low 50 bits
# + 1 via integer bin()-length (no floating log2 anywhere).
@query(oracle="""
            WITH h AS (
                SELECT CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                              1, 15) AS BIGINT) AS h
                FROM events WHERE event_id IS NOT NULL
            )
            SELECT CAST(h >> 50 AS INT) AS bucket,
                   CAST(max(CASE WHEN h % 1125899906842624 = 0 THEN 51
                            ELSE 50 - length(bin(h % 1125899906842624)) + 1
                            END) AS INT) AS rho
            FROM h GROUP BY bucket ORDER BY bucket
        """)
def q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (Flajolet et al. 2007) over event ids,
    md5 hash family — the DuckDB oracle rebuilds every (bucket, max rho)
    register bit-for-bit, certifying the sketch itself rather than a
    tolerance band around the estimate. ≤ 2^p rows out regardless of
    input size; one shuffle keyed on a small int."""
    from databricks_flight_etl_spark.operators.sketches import hll_build

    ev = _t(spark, sf_dir, "events")
    return hll_build(ev, "event_id", p=10).orderBy("bucket")


# Merge certification: the oracle builds the WHOLE-corpus
# register table directly; the engine merged two half sketches.
@query(oracle="""
            WITH h AS (
                SELECT CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                              1, 15) AS BIGINT) AS h
                FROM events WHERE event_id IS NOT NULL
            )
            SELECT CAST(h >> 50 AS INT) AS bucket,
                   CAST(max(CASE WHEN h % 1125899906842624 = 0 THEN 51
                            ELSE 50 - length(bin(h % 1125899906842624)) + 1
                            END) AS INT) AS rho
            FROM h GROUP BY bucket ORDER BY bucket
        """)
def q_hll_merge(spark, sf_dir):
    """HyperLogLog MERGEABILITY certified: register tables of the
    even-id and odd-id event halves merged by register-wise max must
    equal the whole-corpus sketch — the oracle builds the whole-corpus
    registers directly. This is the property that lets per-shard/per-day
    cardinality sketches roll up without rescanning 100 TB."""
    from databricks_flight_etl_spark.operators.sketches import (
        hll_build,
        hll_merge,
    )

    ev = _t(spark, sf_dir, "events")
    even = hll_build(ev.where(F.col("event_id") % 2 == 0), "event_id", p=10)
    odd = hll_build(ev.where(F.col("event_id") % 2 == 1), "event_id", p=10)
    return hll_merge(even, odd).orderBy("bucket")


# Bloom bitmap rebuilt bit-for-bit: k=5 md5-salted positions
# over 256 62-bit words, word-wise bit_or of the set bits.
@query(oracle="""
            WITH ks AS (
                SELECT o_custkey AS key FROM orders
                WHERE o_custkey % 3 = 0 AND o_custkey IS NOT NULL
            ),
            pos AS (
                SELECT (CAST('0x' || substring(
                            md5('bf' || i || ':' || CAST(key AS VARCHAR)),
                            1, 15) AS BIGINT)) % 15872 AS pos
                FROM ks, (SELECT unnest([0, 1, 2, 3, 4]) AS i) h
            )
            SELECT CAST(pos // 62 AS INT) AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
            FROM pos GROUP BY word ORDER BY word
        """)
def q_bloom_bitmap(spark, sf_dir):
    """Portable Bloom-filter bitmap (62-bit words, md5-derived k=5 hash
    family) over a key subset — the oracle rebuilds the identical
    (word, bits) rows, certifying the filter layout bit-for-bit. The
    bitmap is what a 100 TB scan-side join prune ships to executors."""
    from databricks_flight_etl_spark.operators.sketches import bloom_build

    orders = _t(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("key")).where(
        F.col("o_custkey") % 3 == 0
    )
    return bloom_build(keys, "key", n_words=256, k=5).orderBy("word")


# Same grids, same per-row inner products, same min.
@query(oracle="""
            WITH ga AS (
                SELECT r.row,
                       CAST(CAST('0x' || substring(md5(r.row || ':' ||
                            CAST(o_custkey AS VARCHAR)), 1, 15)
                            AS BIGINT) % 1024 AS INT) AS col,
                       count(*) AS na
                FROM orders, (SELECT unnest([0, 1, 2]) AS row) r
                GROUP BY 1, 2
            ),
            gb AS (
                SELECT r.row,
                       CAST(CAST('0x' || substring(md5(r.row || ':' ||
                            CAST(c_custkey AS VARCHAR)), 1, 15)
                            AS BIGINT) % 1024 AS INT) AS col,
                       count(*) AS nb
                FROM customer, (SELECT unnest([0, 1, 2]) AS row) r
                GROUP BY 1, 2
            ),
            dots AS (
                SELECT ga.row, sum(na * nb) AS dot
                FROM ga JOIN gb ON ga.row = gb.row AND ga.col = gb.col
                GROUP BY ga.row
            )
            SELECT CAST(coalesce(min(dot), 0) AS BIGINT)
                       AS est_join_size
            FROM dots
        """)
def q_cms_join_size(spark, sf_dir):
    """Join-size estimation from two Count-Min sketches (AMS inner
    product, min over hash rows): predicts |orders ⋈ customer| on
    custkey from two few-KB grids without scanning either table at
    query time. Integer arithmetic end-to-end, so the oracle
    recomputes the identical estimate from its own rebuilt grids."""
    from databricks_flight_etl_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sa = cms_build(orders.select(F.col("o_custkey").alias("k")), "k",
                   width=1024, depth=3)
    sb = cms_build(cust.select(F.col("c_custkey").alias("k")), "k",
                   width=1024, depth=3)
    return cms_inner_product(sa, sb, width=1024, depth=3)


# Same per-day register rebuild, bit-for-bit.
@query(oracle="""
            WITH h AS (
                SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                       CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                              1, 15) AS BIGINT) AS h
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT day, CAST(h >> 50 AS INT) AS bucket,
                   CAST(max(CASE WHEN h % 1125899906842624 = 0 THEN 51
                            ELSE 50 - length(bin(h % 1125899906842624)) + 1
                            END) AS INT) AS rho
            FROM h GROUP BY day, bucket ORDER BY day, bucket
        """)
def q_hll_per_day(spark, sf_dir):
    """Distinct users per day at sketch cost: per-group HLL register
    tables (bounded by days·2^p rows, one shuffle on (day, bucket)) —
    certified register-for-register via the portable md5 family. The
    ESTIMATOR stays library-side (hll_estimate(by=...), tolerance-
    tested): its ln()/ordered-double-sum path can differ across
    engines in the last ulp, which an exact value-hash gate must not
    depend on."""
    from databricks_flight_etl_spark.operators.sketches import hll_build

    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day"), "user_id")
    sk = hll_build(days, "user_id", p=10, by=["day"])
    return sk.orderBy("day", "bucket")


# Rollup identity: merged per-day registers == whole-corpus
# registers, which the oracle builds directly.
@query(oracle="""
            WITH h AS (
                SELECT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                              1, 15) AS BIGINT) AS h
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT CAST(h >> 50 AS INT) AS bucket,
                   CAST(max(CASE WHEN h % 1125899906842624 = 0 THEN 51
                            ELSE 50 - length(bin(h % 1125899906842624)) + 1
                            END) AS INT) AS rho
            FROM h GROUP BY bucket ORDER BY bucket
        """)
def q_hll_rollup(spark, sf_dir):
    """The sketch-rollup identity, certified: per-day register tables
    merged by register-wise max EQUAL the whole-corpus sketch — the
    oracle builds the whole-corpus registers directly. This is why
    daily sketches answer monthly distinct questions without
    rescanning a 100 TB history."""
    from databricks_flight_etl_spark.operators.sketches import hll_build

    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day"), "user_id")
    per_day = hll_build(days, "user_id", p=10, by=["day"])
    return (
        per_day.groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
        .orderBy("bucket")
    )


# The sketch path is exact, so the oracle is the naive plan.
@query(oracle="""
            WITH words AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
                FROM documents
            ),
            tot AS (SELECT count(*) AS n FROM words)
            SELECT w AS term, count(*) AS cnt
            FROM words, tot
            GROUP BY w, n
            HAVING count(*) >= 0.005 * n
            ORDER BY term
        """)
def q_heavy_hitters(spark, sf_dir):
    """EXACT heavy hitters without shuffling the distinct domain:
    per-partition batched Misra-Gries candidates (Arrow-vectorized,
    Python touches distinct values per batch, never rows) -> broadcast
    semi join -> exact recount + threshold. Result equals the naive
    groupBy+filter, which is the oracle — the sketch only bounds what
    reaches the shuffle."""
    from databricks_flight_etl_spark.operators.sketches import (
        heavy_hitters,
    )

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("w")
    )
    return heavy_hitters(words, "w", min_fraction=0.005).orderBy("term")


# k >= n MRL sketches read out exactly type-1 quantiles, split or
# whole — both replay the q_quantiles_exact oracle
@query(oracle=_QUANTILES_EXACT_SQL)
def q_quantile_sketch_exact(spark, sf_dir):
    """X8 MRL quantile sketch in its EXACT degenerate configuration:
    k ≥ n means no collapse ever fires, every item sits at level 0
    with weight 1, and the weighted type-1 readout IS q_quantiles_exact
    — the SAME DuckDB oracle replays it bit-for-bit. Certifies the
    sketch build → merge → readout plumbing; the production config
    (q_quantile_sketch) only changes k."""
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    k = 1_000_000
    sk = mrl_merge(mrl_sketch(ev, "value", k=k), k=k)
    return mrl_quantiles(
        sk, [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


@query(oracle=_QUANTILES_EXACT_SQL)
def q_quantile_sketch_merge(spark, sf_dir):
    """X8 MRL MERGE IDENTITY, oracle-certified: sketch the even- and
    odd-keyed halves of events separately, pool the sketch rows, merge,
    read out — in the exact (k ≥ n) config the result must equal the
    whole-corpus exact quantiles, so the same oracle certifies that
    per-shard sketches roll up losslessly (the property that makes the
    sketch usable for per-day/per-partition rollup at 100 TB)."""
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    k = 1_000_000
    a = mrl_sketch(ev.where(F.col("event_id") % 2 == 0), "value", k=k)
    b = mrl_sketch(ev.where(F.col("event_id") % 2 == 1), "value", k=k)
    return mrl_quantiles(
        mrl_merge(a.unionByName(b), k=k),
        [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99],
    )


@query(oracle=None)
def q_quantile_sketch(spark, sf_dir):
    """X8 MRL quantile sketch, PRODUCTION configuration (k=256,
    deterministic collapse): O(k log n) rows summarize any input size
    and same-level sketches merge losslessly. Approximate by
    construction → rows-only; the algorithm is certified by
    q_quantile_sketch_exact / _merge, and the rank-error bound is
    pinned by unit test (test_mrl_merge_identity_and_size_bound)."""
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    sk = mrl_merge(mrl_sketch(ev, "value", k=256), k=256)
    return mrl_quantiles(
        sk, [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


@query(oracle=_GROUPED_QUANTILES_SQL)
def q_quantile_sketch_grouped(spark, sf_dir):
    """X8 per-group MRL sketches in the exact (k ≥ n) configuration,
    split by event-id parity, rolled up via mrl_merge(by=...), read
    out per group — the 'p99 per day → per week' rollup path,
    certified by the SAME oracle as q_grouped_quantiles (the readout
    is its exact rank formula when no collapse fires)."""
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch_grouped,
    )

    ev = _t(spark, sf_dir, "events")
    k = 1_000_000
    a = mrl_sketch_grouped(
        ev.where(F.col("event_id") % 2 == 0), ["event_type"], "value", k=k
    )
    b = mrl_sketch_grouped(
        ev.where(F.col("event_id") % 2 == 1), ["event_type"], "value", k=k
    )
    rolled = mrl_merge(a.unionByName(b), k=k, by=["event_type"])
    return mrl_quantiles(rolled, [0.25, 0.5, 0.9], by=["event_type"])


# The bloom pre-filter is exact after the verify join, so the
# oracle is the plain semi join + aggregate.
@query(oracle="""
            SELECT o_orderstatus,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_acctbal > 9000)
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """)
def q_bloom_semi_join(spark, sf_dir):
    """EXACT semi join accelerated by a bloom pre-filter: the bitmap of
    the build side prunes the probe side as a narrow scan-side
    expression (no shuffle for pruned rows), then a real semi join
    removes false positives — so the oracle is the plain semi join.
    The same plan shape as Spark's runtime bloom pushdown, but
    persistable and engine-portable."""
    from databricks_flight_etl_spark.operators.sketches import (
        bloom_semi_join,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    hot = cust.where(F.col("c_acctbal") > 9000).select("c_custkey")
    return (
        bloom_semi_join(orders, hot, "o_custkey", "c_custkey",
                        n_words=256, k=5)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )

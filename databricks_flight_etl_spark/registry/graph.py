"""Graph registry queries: PageRank and triangle counts (SURVEY §2.11
X10).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.registry._common import query, _t


# Three unrolled power-iteration rounds over the same edge
# set, dangling mass redistributed uniformly each round.
@query(oracle="""
            WITH edges AS (
                SELECT DISTINCT 'c' || o.o_custkey AS src,
                       's' || l.l_suppkey AS dst
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
            ),
            nodes AS (
                SELECT src AS node FROM edges
                UNION SELECT dst FROM edges
            ),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            deg AS (SELECT src AS node, count(*) AS out_deg
                    FROM edges GROUP BY src),
            r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
            d1 AS (SELECT coalesce(sum(rank), 0) AS m FROM r0
                   LEFT JOIN deg USING (node) WHERE out_deg IS NULL),
            c1 AS (
                SELECT e.dst AS node, sum(r.rank / g.out_deg) AS cin
                FROM edges e
                JOIN r0 r ON e.src = r.node
                JOIN deg g ON e.src = g.node
                GROUP BY e.dst
            ),
            r1 AS (
                SELECT nodes.node,
                       0.15 / n + 0.85 * (coalesce(cin, 0) + (SELECT m FROM d1) / n)
                           AS rank
                FROM nodes LEFT JOIN c1 USING (node), nn
            ),
            d2 AS (SELECT coalesce(sum(rank), 0) AS m FROM r1
                   LEFT JOIN deg USING (node) WHERE out_deg IS NULL),
            c2 AS (
                SELECT e.dst AS node, sum(r.rank / g.out_deg) AS cin
                FROM edges e
                JOIN r1 r ON e.src = r.node
                JOIN deg g ON e.src = g.node
                GROUP BY e.dst
            ),
            r2 AS (
                SELECT nodes.node,
                       0.15 / n + 0.85 * (coalesce(cin, 0) + (SELECT m FROM d2) / n)
                           AS rank
                FROM nodes LEFT JOIN c2 USING (node), nn
            ),
            d3 AS (SELECT coalesce(sum(rank), 0) AS m FROM r2
                   LEFT JOIN deg USING (node) WHERE out_deg IS NULL),
            c3 AS (
                SELECT e.dst AS node, sum(r.rank / g.out_deg) AS cin
                FROM edges e
                JOIN r2 r ON e.src = r.node
                JOIN deg g ON e.src = g.node
                GROUP BY e.dst
            )
            SELECT nodes.node,
                   round(0.15 / n + 0.85 * (coalesce(cin, 0)
                         + (SELECT m FROM d3) / n), 6) AS rank
            FROM nodes LEFT JOIN c3 USING (node), nn
            ORDER BY node
        """)
def q_pagerank(spark, sf_dir):
    """PageRank over the customer→supplier purchase graph (who buys
    from whom, via orders⋈lineitem), 3 FIXED power-iteration rounds so
    the oracle can replay them unrolled. Per round: one co-partitioned
    join + one hash agg on node ids; lineage localCheckpoint'd.
    Ranks rounded to 6 dp (double sum order is the only cross-engine
    freedom; terms are ~1e-15 apart from boundaries)."""
    from databricks_flight_etl_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_suppkey"),
              orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    out = pagerank(edges, iters=3, damping=0.85, decimals=6)
    return out.orderBy("node")


# per-node triangle counts are orientation-invariant: the oracle
# counts each triangle once via the id-ordered 3-way self-join
@query(oracle="""
        WITH li AS (
            SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_quantity >= 36
        ),
        e AS (
            SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
            FROM li x JOIN li y
              ON x.l_orderkey = y.l_orderkey
             AND x.l_partkey < y.l_partkey
        ),
        tri AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT u AS node FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri
        )
        GROUP BY node ORDER BY node
    """)
def q_triangle_counts(spark, sf_dir):
    """Per-node triangle census over the part co-purchase graph (parts
    meeting in the same order, qty ≥ 36 keeps wedge volume bench-honest).
    DEGREE-ORDERED wedge counting — the apex join is bounded by Σ
    outdeg² ≤ m^1.5 regardless of hub skew, the property that keeps
    this runnable at 100 TB where id-ordered wedges explode on
    celebrity nodes. Per-node counts are orientation-invariant, so the
    id-ordered DuckDB 3-way self-join replays them exactly."""
    from databricks_flight_etl_spark.operators.graph import (
        triangle_counts,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 36)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
    )
    return triangle_counts(pairs).orderBy("node")

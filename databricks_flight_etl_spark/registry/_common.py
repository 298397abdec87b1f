"""The query registry's decorator and the loaders and SQL fragments
shared by more than one family module.

Every harness query is a ``q_`` function in one family module,
registered by ``@query(oracle=...)`` with the DuckDB SQL that certifies
it (``None`` for a rows-only query). ``__spark_entry__.queries()`` and
``oracle_sql()`` read ``REGISTRY``; nothing else lists the queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_flight_etl_spark.session import tune
from databricks_flight_etl_spark.sources import load_table

Query = Callable[[SparkSession, str], DataFrame]

# name -> (query function, oracle SQL or None), in registration order
REGISTRY: dict[str, tuple[Query, str | None]] = {}


def query(*, oracle: str | None) -> Callable[[Query], Query]:
    """Register the decorated ``q_`` function under its ``__name__``
    with ``oracle``: the DuckDB SQL that must return the same rows over
    the same parquet, or ``None`` for a rows-only query (no
    SQL-expressible oracle). A name registered twice fails the import."""
    if oracle is not None and not isinstance(oracle, str):
        raise TypeError(f"oracle must be SQL text or None, not {oracle!r}")

    def register(fn: Query) -> Query:
        if fn.__name__ in REGISTRY:
            raise ValueError(f"query {fn.__name__} is registered twice")
        REGISTRY[fn.__name__] = (fn, oracle)
        return fn

    return register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts projected to epoch microseconds (cross-engine-stable)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _docs_near_dup_base(spark, sf_dir):
    """documents ∪ perturbed clones (1-in-100, tail appended) so the
    near-dup detectors have true positives to find."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pert = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    return docs.unionByName(pert)


def _minhash_perm_values() -> str:
    """The (j, a, b) mod-p affine-permutation constants as SQL VALUES
    rows — the SAME derivation the Spark operator uses
    (dedup._perm_coeffs), so the oracle replays the identical
    permutation family."""
    from databricks_flight_etl_spark.operators.dedup import _perm_coeffs

    rows = []
    for j in range(32):
        a, b = _perm_coeffs(j)
        rows.append(f"({j}, {a}, {b})")
    return ", ".join(rows)


# The exact-quantile oracles below are shared: the quality queries
# they certify and the exact-mode quantile sketches (sketches,
# streaming) replay the same SQL.
# Identical rank formula: value at sorted position
# floor(q·(n−1)) among non-null values, via the same
# histogram + cumulative-sum construction.
_QUANTILES_EXACT_SQL = """
            WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
            hist AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
            cum AS (
                SELECT value,
                       sum(cnt) OVER (ORDER BY value
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       (SELECT sum(cnt) FROM hist) AS n
                FROM hist
            ),
            t AS (SELECT CAST(unnest([0.01, 0.1, 0.25, 0.5, 0.75, 0.9,
                                      0.99]) AS DOUBLE) AS q)
            SELECT t.q, min(cum.value) AS value
            FROM t JOIN cum ON cum.cum >= floor(t.q * (cum.n - 1)) + 1
            GROUP BY t.q ORDER BY t.q
        """


# Same per-group histogram + rank construction.
_GROUPED_QUANTILES_SQL = """
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
            t AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q)
            SELECT cum.event_type, t.q, min(cum.value) AS value
            FROM t JOIN cum ON cum.cum >= floor(t.q * (cum.n - 1)) + 1
            GROUP BY cum.event_type, t.q
            ORDER BY cum.event_type, t.q
        """


_DOCS_PII_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact bob@example.com now' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' server at 10.0.0.1 up' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567 or +4915112345678' ELSE '' END
           AS text
    FROM documents
"""


def _docs_with_pii(spark, sf_dir):
    """documents with deterministically injected PII (the raw synthetic
    text has none) — doc_id-keyed email/IP/phone suffixes."""
    docs = _t(spark, sf_dir, "documents")
    suffix = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit(" contact bob@example.com now"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" server at 10.0.0.1 up"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567 or +4915112345678"))
        .otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )


def _docs_multiline(spark, sf_dir):
    """documents with text re-lined at 8 words per line: the synthetic
    docs are single-line, so line-level operators (C4 line dedup,
    dup-line fraction) need a derived multi-line corpus BOTH engines
    rebuild identically — the oracle replays the same 8-word slicing
    (generate_series + list slice) before comparing."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    return docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every query here certifies operators from SURVEY.md §2 (the citation in
each helper names the operator IDs). Determinism conventions (SURVEY
§7.4): timestamps are compared as epoch micro/millis or 'yyyy-MM-dd'
strings (session TZ pinned to UTC); money aggregates go through exact
DECIMAL(18,4) sums cast back to double; stddev/ratios are rounded; every
top-k has a total order with tie-breaks; every computed column is
aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_flight_etl_spark.partitioning import local_df as _local_df
from databricks_flight_etl_spark.schemas import TESTDATA_SCHEMAS
from databricks_flight_etl_spark.session import tune
from databricks_flight_etl_spark.sources import load_table
from databricks_flight_etl_spark.functions import (
    derive_departure_timestamp,
    hhmm_encode,
    union_all,
)
from databricks_flight_etl_spark.operators import (
    accuracy,
    completeness,
    multimodal,
    relational,
    sessions,
    timeliness,
    uniqueness,
    validity,
)
from databricks_flight_etl_spark.operators.text import (
    EN_STOPWORDS,
    PII_EMAIL,
    PII_IP,
    PII_PHONE,
    bpe_apply_merges,
    bpe_train_merges,
    lang_id,
    line_dedup_global,
    repetition_signals,
    text_quality,
    token_counts,
    token_top_k,
    winnow_fingerprints,
)
from databricks_flight_etl_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from databricks_flight_etl_spark.operators.similarity import (
    ann_topk_ivf_batch,
    ann_topk_lsh,
    cosine_near_dup_pairs,
    cosine_topk,
)


# ---------------------------------------------------------------------------
# helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


def _stream_parts(spark: SparkSession, n: int = 4):
    """Size streaming state stores to the harness micro-batches: one
    state store per shuffle partition PER STATEFUL OPERATOR, so the
    batch default of 32 pays ~32x bookkeeping for dozens of keys —
    measured ~24 s of the r4 bench suite in pure trigger overhead
    (VERDICT r4 task #8). At production scale the same knob goes UP
    with key cardinality instead. Delegates to the library's
    bounded_shuffle_partitions (round-11) so the restore-on-exit
    contract has one implementation."""
    from databricks_flight_etl_spark.streaming import (
        bounded_shuffle_partitions,
    )

    return bounded_shuffle_partitions(spark, n)


def _stage_parity_halves(df: DataFrame, key_col: str, root: str) -> str:
    """Stage ``df`` as TWO single-file micro-batches (even/odd parity
    of ``key_col``) under ``root`` with ONE write job: a 1-partition
    partitionBy("__half") write produces both files in one task where
    the old per-half coalesce(1) loop paid two jobs (~0.3-0.5 s of the
    streaming twins' fixed floor each). even.parquet gets an explicitly
    EARLIER pinned mtime than odd.parquet (os.utime, 1 s apart) so the
    file source's (mtime, path) ordering makes the even half
    micro-batch 1 by contract rather than by copy-timing luck — two
    back-to-back shutil.copy calls land microseconds apart, and
    FileStreamSource's tie-break is not a documented guarantee. Parity
    preserves batch MEMBERSHIP exactly (note pmod: negative odd keys
    land in the odd half, where a raw `% 2 == 1` filter would drop
    them); the consuming kernels (integer counts, exact-mode sketch
    pooling) are value-order-insensitive within a batch, so the
    changed within-file row order cannot move a certified value. Only
    order-insensitive consumers should reuse this helper anyway — a
    future order-SENSITIVE twin must assert on batch ids, not file
    order."""
    import glob
    import os
    import shutil

    tmp = f"{root}/tmp_halves"
    (
        df.withColumn(
            "__half", F.pmod(F.col(key_col), F.lit(2)).cast("int")
        )
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("__half")
        .parquet(tmp)
    )
    stage = f"{root}/in"
    os.makedirs(stage, exist_ok=True)
    for half, name in ((0, "even"), (1, "odd")):
        parts = glob.glob(f"{tmp}/__half={half}/part-*.parquet")
        if not parts:
            raise RuntimeError(
                f"_stage_parity_halves: no rows with pmod({key_col}, 2)"
                f" == {half}. The harness tables always carry both "
                f"parities, so this usually means the wrong key_col — "
                f"but an all/mostly-NULL key (NULL parity rows land in "
                f"__HIVE_DEFAULT_PARTITION__ and are excluded) or a "
                f"tiny scale factor can also legitimately empty a half."
            )
        shutil.copy(parts[0], f"{stage}/{name}.parquet")
    # Pin strictly increasing mtimes (even < odd) — see docstring.
    base = os.stat(f"{stage}/even.parquet").st_mtime
    os.utime(f"{stage}/even.parquet", (base, base))
    os.utime(f"{stage}/odd.parquet", (base + 1, base + 1))
    return stage


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


# ---------------------------------------------------------------------------
# flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001 (FIXTURES.md §B): HHMM encode →
    reference Q7 decode → compound-key dedup → per-day counts with a
    calendar-spine left join (the reference notebook's backbone:
    S7→Q7→Q4→Q6 in one plan)."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    enc = (
        ev.withColumn("DepTime", hhmm_encode(F.col("ts")))
        .withColumn("Year", F.year("ts"))
        .withColumn("Month", F.month("ts"))
        .withColumn("DayofMonth", F.dayofmonth("ts"))
    )
    dec = derive_departure_timestamp(enc)
    dd = uniqueness.dedup(dec, ["user_id", "event_type", "DepTime_Timestamp"])
    return timeliness.day_coverage(dd, "DepTime_Timestamp")


# ---------------------------------------------------------------------------
# §2 harness queries (Spark side)

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


def q_filter_range(spark, sf_dir):
    """P5 range predicates + equality (reference NB:325–352 shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("value") >= 10) & (F.col("value") <= 100)
        & (F.col("event_type") == "click")
    ).select("event_id", "value")


def q_topk(spark, sf_dir):
    """P3/O2: orderBy+limit → TakeOrderedAndProject; total order via
    (value desc, event_id asc) tie-break."""
    ev = _t(spark, sf_dir, "events")
    return relational.top_k(
        ev, [F.desc("value"), F.asc("event_id")], 5
    ).select("event_id", "value", "event_type")


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


def q_null_profile(spark, sf_dir):
    """A2/P7 (Q1b): long-form null profile (column, n_null, null_ratio)."""
    return completeness.null_profile(
        _events_with_nulls(spark, sf_dir),
        ["event_id", "value_n", "type_n", "user_n"],
    )


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


def q_groupby_count(spark, sf_dir):
    """A3/O1 (Q3): value-frequency table for a string column."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


def q_dup_full(spark, sf_dir):
    """A4/P6 (Q4): group-by-ALL-columns duplicate groups (count>1)."""
    return uniqueness.duplicate_groups(_events_dup_base(spark, sf_dir))


def q_dropduplicates(spark, sf_dir):
    """A5 (Q4): dropDuplicates() over a table with known duplicates."""
    return uniqueness.dedup(_events_dup_base(spark, sf_dir))


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


def q_summary_stats(spark, sf_dir):
    """A7 (Q2): typed describe() replacement — count/avg/std/min/max."""
    li = _t(spark, sf_dir, "lineitem")
    return accuracy.summary_stats(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


def q_histogram(spark, sf_dir):
    """Q2/D2 replacement: in-engine 20-bin equi-width histogram."""
    li = _t(spark, sf_dir, "lineitem")
    return accuracy.histogram(li, "l_extendedprice", nbins=20)


def q_minmax_dates(spark, sf_dir):
    """A8 (Q6): global min/max over a derived date."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.date_format(F.min(F.to_date("ts")), "yyyy-MM-dd").alias("min_day"),
        F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd").alias("max_day"),
    )


def q_events_per_day(spark, sf_dir):
    """A10/O1 (Q6a): per-day counts over the event timestamp."""
    ev = _t(spark, sf_dir, "events")
    counts = timeliness.per_period_counts(ev, "ts", "day")
    return counts.select(
        F.date_format("period", "yyyy-MM-dd").alias("day"), "n"
    )


def q_missing_days(spark, sf_dir):
    """J1/G1/G2/G3/F10–F12/F14 (Q6b): calendar spine ⟕ per-day counts
    with zero-fill — full coverage table (subsumes the missing-day
    filter; zero-count days are the 'missing' ones)."""
    ev = _t(spark, sf_dir, "events")
    cov = timeliness.day_coverage(ev, "ts")
    return cov.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n_events"
    )


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


# --- LLM-data-pipeline extensions (SURVEY §2.11 X1–X4) ---

def q_token_counts(spark, sf_dir):
    """X4: whitespace token pipeline → global top-20 token frequencies."""
    docs = _t(spark, sf_dir, "documents")
    return token_top_k(docs, "text", k=20)


def q_text_quality(spark, sf_dir):
    """X4: per-document quality metrics (token count, avg token length,
    stopword ratio) — all built-in array functions, no UDFs."""
    docs = _t(spark, sf_dir, "documents")
    return text_quality(docs, "text", id_col="doc_id")


def q_lang_id(spark, sf_dir):
    """X4: stopword-overlap language guess (en/es/de/fr) with fixed
    argmax precedence."""
    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs, "text", id_col="doc_id")


def q_dedup_exact(spark, sf_dir):
    """X1 exact dedup: md5 of normalized text → (hash, keep_id, n).
    Run over documents ∪ re-keyed sample so duplicates exist."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return exact_dedup_groups(docs.unionByName(clones), "text", "doc_id")


def q_fingerprint(spark, sf_dir):
    """X4 document fingerprint: 64-bit (16-hex) sha256 prefix."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("fp")
    )


def q_cosine_topk(spark, sf_dir):
    """X2 similarity search: brute-force cosine top-10 against the
    vec_id=0 probe (deterministic tie-break on vec_id)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, probe_id=0, k=10)


# --- second wave: classic OLAP shapes + sessionization + JSON + multimodal ---

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


def q_join_semi(spark, sf_dir):
    """Left-semi join: customers with at least one order. Semi joins
    never duplicate or widen the left side — the probe table streams."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


def q_join_anti(spark, sf_dir):
    """Left-anti join: customers with no orders (NOT EXISTS shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


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


def q_sessionize(spark, sf_dir):
    """Extension (sessionization; the reference has no window functions,
    §2.11): 30-minute-gap sessions per user via lag + running-sum
    windows → (user_id, n_events, n_sessions)."""
    ev = _t(spark, sf_dir, "events")
    return sessions.session_counts(
        ev, "user_id", "ts", gap_minutes=30, tiebreak_col="event_id"
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


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


def q_zscore_grouped(spark, sf_dir):
    """applyInPandas grouped-map kernel: per-event-type z-scores
    (vectorized pandas per Arrow group). Certified against the
    window-SQL formulation — the Python and declarative paths must
    agree."""
    ev = _t(spark, sf_dir, "events")
    return accuracy.zscore_by_group(
        ev, ["event_type"], "value", "event_id", decimals=4
    )


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


def q_count_distinct(spark, sf_dir):
    """Exact distinct-count per group (expands to a two-level agg —
    the scalable exact form; approx_count_distinct is the sketch path)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


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


def q_multimodal_meta(spark, sf_dir):
    """X3 multimodal plumbing: text→binary payload, then JVM-side
    metadata (magic-byte media type, byte length, sha256) — the
    decode-free operations that are safe over 100 TB of payloads."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    m = multimodal.attach_binary_metadata(docs, "payload")
    return m.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.content_sha256").alias("sha256"),
    )


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


def q_bpe_merges(spark, sf_dir):
    """X4 BPE vocabulary-induction step: the 20 most frequent adjacent
    token pairs over documents — the statistic a BPE trainer merges
    next. Pairs via zip_with over two array slices (no per-token
    explode), one aggregate, deterministic top-k. The oracle replays
    the identical regex tokenization (regexp_extract_all exists in
    both engines) and pairing."""
    from databricks_flight_etl_spark.operators.text import (
        bpe_merge_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_merge_candidates(docs, "text", k=20)


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


def q_token_budget_sample(spark, sf_dir):
    """X6 token-budget mixture assembly: sample documents down to a
    60k-token budget with source src1 weighted 3× — per-source keep
    rates derived ENGINE-SIDE (one tiny per-source aggregate broadcast
    back; the corpus never shuffles), rows kept by the same
    integer-threshold hash compare as q_weighted_sample, so the kept
    set replays bit-for-bit. Integral weights keep the weight-sum
    exact in any summation order."""
    from databricks_flight_etl_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = token_budget_sample(
        docs, "source", "n_chars", "doc_id",
        budget_tokens=60_000, weights={"src1": 3.0},
    )
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


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


def q_weighted_sample(spark, sf_dir):
    """X6 weight-proportional deterministic sampling: documents kept
    with probability min(1, 0.6 · n_chars/200) — longer (quality-
    proxied) docs at higher rate, rerun-stable, no RNG. The 48-bit
    md5 coordinate compares NUMERICALLY against floor(16¹²·p); the
    oracle replays the identical multiply/floor, so the kept set is
    certified bit-for-bit (a narrow pushable filter — the 100 TB
    shape)."""
    from databricks_flight_etl_spark.operators.sampling import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") / F.lit(200.0)
    )
    out = weighted_sample(docs, "doc_id", "w", base_rate=0.6)
    return out.select("doc_id", "n_chars").orderBy("doc_id")


def q_binary_file_source(spark, sf_dir):
    """S-family binary ingestion: a sample of documents is written out
    as raw files (one per doc), read back through Spark's binaryFile
    source (path, modificationTime, length, content), the doc id
    recovered from the file name, and the payload fingerprinted. The
    oracle recomputes length and md5 from the same documents' text —
    certifying the file write → binaryFile scan → content path
    BIT-FOR-BIT (the ingestion shape for 100 TB of image/audio blobs,
    where the real decode runs over `content` exactly like this)."""
    import os
    import tempfile

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
    )
    root = tempfile.mkdtemp(prefix="flight_etl_binsrc_")
    for r in docs.collect():  # bounded: 1-in-25 sample, local files
        with open(os.path.join(root, f"{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    binf = spark.read.format("binaryFile").load(f"{root}/*.bin")
    return binf.select(
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1), r"(\d+)", 1
        ).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    ).orderBy("doc_id")


# --- rows-only (not SQL-oracle-expressible): LSH/sketch + Arrow plumbing ---

def _docs_near_dup_base(spark, sf_dir):
    """documents ∪ perturbed clones (1-in-100, tail appended) so the
    near-dup detectors have true positives to find."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pert = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    return docs.unionByName(pert)


def q_minhash_pairs(spark, sf_dir):
    """X1 MinHash+LSH near-dup pairs (banded candidates → exact Jaccard
    verify). Approximate candidate generation → rows-only check.
    k=7 shingles + threshold 0.8 (the 4-band S-curve midpoint): planted
    clones sit at J≈0.95, background lorem pairs far below — candidate
    count stays near-linear."""
    return minhash_dedup_pairs(
        _docs_near_dup_base(spark, sf_dir), "text", "doc_id",
        threshold=0.8, shingle_k=7,
    )


def q_minhash_certified(spark, sf_dir):
    """X1 MinHash+LSH with the ENGINE-PORTABLE md5 hash family: every
    stage — shingle base hash, mod-p affine permutations (ANSI-safe,
    p = 2^31-1), band buckets, candidate join, exact-Jaccard verify —
    is reproduced bit-for-bit by the DuckDB oracle. The xxhash64 default
    (q_minhash_pairs) stays rows-only for throughput; this
    configuration certifies the ALGORITHM."""
    return minhash_dedup_pairs(
        _docs_near_dup_base(spark, sf_dir), "text", "doc_id",
        threshold=0.8, shingle_k=7, hash_family="md5",
    )


def q_minhash_stopshingle(spark, sf_dir):
    """X1 stop-shingle MinHash (max_df — the low-entropy-corpus escape
    hatch, round-8 scale-probe finding): boilerplate prepended to
    EVERY doc makes the corpus share a fat common shingle mass;
    max_df=30 drops those stop-shingles from BOTH the signatures and
    the exact-Jaccard verify, so near-duplication is judged on the
    informative content only and the planted clones are still found.
    md5 family: the DuckDB oracle replays every stage INCLUDING the
    document-frequency filter bit-for-bit. Bounded to doc_id < 1500
    (a no-op at the certification SFs, which have 500 docs) so the
    md5-family df pass stays proportionate in the sf0.1 bench."""
    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    return minhash_dedup_pairs(
        b, "text", "doc_id", threshold=0.8, shingle_k=7,
        hash_family="md5", max_df=30,
    )


def q_minhash_stopshingle_frac(spark, sf_dir):
    """X1 corpus-relative stop-shingle cap (max_df_frac, round-9): the
    absolute max_df=30 of q_minhash_stopshingle is 6% of the 505-doc
    certification corpus, but an absolute document-frequency cap is
    meaningless after a scale change (dedup.resolve_max_df); here
    max_df_frac=0.06 resolves to ceil(0.06·n_docs) — 31 at sf0.01 —
    and the DuckDB oracle REPLAYS the fraction→count resolution
    itself (scalar subquery: ceil(0.06·count(non-null text))), so the
    resolution rule is certified, not just one resolved value. md5
    family; bounded to doc_id < 1500 like its sibling."""
    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    return minhash_dedup_pairs(
        b, "text", "doc_id", threshold=0.8, shingle_k=7,
        hash_family="md5", max_df_frac=0.06,
    )


def q_minhash_clusters(spark, sf_dir):
    """X1 bounded cluster output (output='clusters', round-9): the
    full MinHash pipeline emits (node, component) straight from the
    CC contraction instead of materializing the pair list — the O(n)
    result shape for corpora whose true pair count is quadratic
    (round-8 probe regime). md5 family + the stop-shingle filter of
    q_minhash_stopshingle, so the DuckDB oracle replays the identical
    pair pipeline and closes it with a recursive CTE — certifying
    pairs → closure → min-id labels end-to-end."""
    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    return minhash_dedup_pairs(
        b, "text", "doc_id", threshold=0.8, shingle_k=7,
        hash_family="md5", max_df=30, output="clusters",
    )


def q_minhash_stops_supplied(spark, sf_dir):
    """X1 precomputed stop-list path (stops=, round-10): the
    100 TB-recommended mitigation mode — run shingle_stop_list ONCE
    over the corpus, materialize its (tiny) output, and hand it to the
    LSH entry point via ``stops=``, which skips both the entropy
    guard and the corpus-scale shingle-table cache
    (dedup.py footprint note). With the stop list computed at the
    same max_df=30 on the same corpus, the exclusion — and therefore
    every downstream stage — is definitionally identical to
    q_minhash_stopshingle's inline max_df path, so the DuckDB oracle
    is that query's SQL verbatim: a divergence can only come from the
    stops= plumbing under test (the anti-join application, the
    no-cache pre-pass, the guard bypass)."""
    from databricks_flight_etl_spark.operators.dedup import (
        shingle_stop_list,
    )

    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    # The stop list is referenced by both the signature stage and the
    # verify stage downstream; materialize it ONCE as a local relation
    # (bounded collect — output is tiny by construction, see
    # shingle_stop_list's Σdf/max_df bound) instead of .persist():
    # a persist here outlives the query (harness reps, oracle runs,
    # plan audits all leak it — round-10 advice), while the local
    # relation costs one aggregation, broadcasts in the downstream
    # anti-joins, and mirrors what the 100 TB mode actually does
    # (write the stop list to a table once, read it back).
    stop_rows = shingle_stop_list(
        b, "text", "doc_id", shingle_k=7, max_df=30
    ).collect()
    # a local relation (partitioning.local_df): the default
    # createDataFrame parallelizes even a tiny list across
    # defaultParallelism pickled partitions, and every broadcast
    # exchange that consumes it (signature anti-join + verify
    # anti-join) re-drains all of them through Python workers
    # (~0.8 s each, measured)
    stops = _local_df(spark, stop_rows, "shingle string, df bigint")
    return minhash_dedup_pairs(
        b, "text", "doc_id", threshold=0.8, shingle_k=7,
        hash_family="md5", stops=stops,
    )


def q_minhash_incremental(spark, sf_dir):
    """Incremental near-dup probe vs a persisted LSH index: the
    accepted corpus is banded ONCE (minhash_bands — the persistable
    index); the crawl increment (perturbed clones) bands only itself
    and equi-joins the index, verifying candidates exactly. md5 hash
    family: the DuckDB oracle replays the full pipeline and restricts
    to the (corpus, increment) cross pairs — certifying that the probe
    equals a full run's cross subset bit-for-bit."""
    from databricks_flight_etl_spark.operators.dedup import (
        minhash_bands,
        minhash_probe,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inc = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    idx = minhash_bands(docs, "text", "doc_id",
                        shingle_k=7, hash_family="md5")
    return minhash_probe(
        inc, docs, idx, "text", "doc_id",
        threshold=0.8, shingle_k=7, hash_family="md5",
    ).orderBy("new_id", "corpus_id")


def q_winnow_certified(spark, sf_dir):
    """X4 winnowing fingerprints (MOSS) with the md5 hash family: the
    ordered k-gram hash sequence, sliding-window minima, and distinct
    selection are replayed exactly by the DuckDB oracle."""
    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(
        docs, "text", "doc_id", k=8, window=4, hash_family="md5"
    )


def q_simhash_certified(spark, sf_dir):
    """X1 SimHash with the md5 hash family: per-bit majorities, lane-
    packed signature, pigeonhole chunk blocking, and Hamming verify all
    replayed bit-for-bit by the DuckDB oracle (60 effective bits — the
    md5-derived base hash is a positive 60-bit long)."""
    out = simhash_near_dup_pairs(
        _docs_near_dup_base(spark, sf_dir), "text", "doc_id",
        max_hamming=6, shingle_k=7, hash_family="md5",
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_simhash_stopshingle(spark, sf_dir):
    """X1 SimHash with the stop-shingle filter (max_df — the simhash
    face of the round-8 LSH finding): boilerplate prepended to EVERY
    doc would drag all signatures toward one bit pattern; max_df=30
    drops those shingles from the per-bit majorities, restoring
    signature diversity. md5 family: the oracle replays the
    document-frequency filter + per-bit majorities + pigeonhole
    blocking + Hamming verify bit-for-bit. Bounded to doc_id < 1500
    (no-op at the certification SFs) — see q_minhash_stopshingle."""
    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    out = simhash_near_dup_pairs(
        b, "text", "doc_id", max_hamming=6, shingle_k=7,
        hash_family="md5", max_df=30,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_simhash_stops_supplied(spark, sf_dir):
    """X1 SimHash precomputed stop-list path (stops=, round-11): the
    simhash face of the 100 TB-recommended mitigation mode already
    certified for MinHash by q_minhash_stops_supplied — run
    shingle_stop_list ONCE over the corpus, materialize its tiny
    output as a local relation (bounded collect; broadcastable in the
    downstream anti-join), and hand it to simhash_near_dup_pairs via
    ``stops=``, which skips the entropy guard and the corpus-scale
    shingle-table cache. Computed at the same max_df=30 on the same
    corpus, the exclusion — and therefore the per-bit majorities,
    pigeonhole blocking, and Hamming verify — is definitionally
    identical to q_simhash_stopshingle's inline path, so the DuckDB
    oracle is that query's SQL verbatim: a divergence can only come
    from the simhash stops= plumbing under test."""
    from databricks_flight_etl_spark.operators.dedup import (
        shingle_stop_list,
    )

    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    stop_rows = shingle_stop_list(
        b, "text", "doc_id", shingle_k=7, max_df=30
    ).collect()
    # a local relation — see q_minhash_stops_supplied's note on the
    # per-broadcast cost of a parallelized driver list
    stops = _local_df(spark, stop_rows, "shingle string, df bigint")
    out = simhash_near_dup_pairs(
        b, "text", "doc_id", max_hamming=6, shingle_k=7,
        hash_family="md5", stops=stops,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_shingle_profile(spark, sf_dir):
    """X1 pre-flight entropy diagnostic (round-8 finding): one row of
    shingle document-frequency statistics + the closed-form background
    Jaccard estimate that predicts whether banded LSH will go
    quadratic on this corpus (J_bg = E[shared]/(2·E[size]−E[shared])
    from exact integer df sums). Oracle replays the df table, the
    type-1 quantiles by rank arithmetic, and the same three
    divisions."""
    from databricks_flight_etl_spark.operators.dedup import (
        shingle_df_profile,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shingle_df_profile(docs, "text", "doc_id", shingle_k=7)


def q_simhash_pairs(spark, sf_dir):
    """X1 SimHash near-dup pairs (pigeonhole chunk blocking, Hamming≤3)."""
    return simhash_near_dup_pairs(
        _docs_near_dup_base(spark, sf_dir), "text", "doc_id",
        max_hamming=3, shingle_k=7,
    )


def q_ngram_jaccard(spark, sf_dir):
    """X1 exact n-gram Jaccard pairs via the inverted shingle index,
    oracle-certified (DuckDB mirrors the normalize→shingle→inverted-
    join→Jaccard dataflow in SQL). max_df=50 drops stop-shingles before
    the self-join (each shingle with df=d contributes d²/2 pairs — the
    cap bounds the blowup)."""
    return ngram_jaccard_pairs(
        _docs_near_dup_base(spark, sf_dir), "text", "doc_id",
        threshold=0.6, shingle_k=7, max_df=50,
    )


def q_ann_lsh(spark, sf_dir):
    """X2 ANN: random-hyperplane LSH bucket restriction + exact cosine
    re-rank (recall is approximate by construction)."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, probe_id=0, k=10, dim=64)


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


def q_textprep_exact(spark, sf_dir):
    """The SQL-expressible subset of the text-prep funnel, oracle-
    certified end-to-end: quality filter → language filter → exact
    dedup → chunk counts. Same composition as q_textprep_pipeline with
    the MinHash near-dup stage off (near_dup=False); the oracle mirrors
    every stage — token arrays, stopword ratio, the lang argmax CASE,
    md5 exact dedup, and the chunk-window arithmetic — in DuckDB."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    docs = _t(spark, sf_dir, "documents")
    rep = run_textprep_pipeline(
        docs, min_tokens=10, chunk_tokens=64, overlap=16, near_dup=False,
    )
    return (
        rep.chunks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("doc_id")
    )


def q_span_dedup(spark, sf_dir):
    """X1/X4 span-level global dedup (the C4/Gopher repeated-line pass):
    tumbling 10-word spans, first corpus-wide occurrence survives,
    documents rebuilt from surviving spans. Certified cell-exact against
    a DuckDB oracle doing the same split/first/rebuild."""
    from databricks_flight_etl_spark.operators.text import (
        dedup_repeated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return dedup_repeated_spans(docs, "text", "doc_id", span_words=10)


def q_boilerplate(spark, sf_dir):
    """Frequency-threshold boilerplate removal (CCNet/RefinedWeb
    'drop frequent lines'): every 10-word span occurring in ≥2
    distinct documents is dropped from ALL of them (keep-first would
    bless the first carrier); docs rebuilt from surviving spans.
    Certified cell-exact against a DuckDB oracle doing the same
    doc-frequency threshold and rebuild."""
    from databricks_flight_etl_spark.operators.text import (
        drop_boilerplate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return drop_boilerplate_spans(
        docs, "text", "doc_id", span_words=10, min_docs=2
    )


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


def q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (Flajolet et al. 2007) over event ids,
    md5 hash family — the DuckDB oracle rebuilds every (bucket, max rho)
    register bit-for-bit, certifying the sketch itself rather than a
    tolerance band around the estimate. ≤ 2^p rows out regardless of
    input size; one shuffle keyed on a small int."""
    from databricks_flight_etl_spark.operators.sketches import hll_build

    ev = _t(spark, sf_dir, "events")
    return hll_build(ev, "event_id", p=10).orderBy("bucket")


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


def q_containment_join(spark, sf_dir):
    """Asymmetric near-subset pairs (|A∩B|/|A| ≥ 0.98) — the page-vs-
    page-plus-boilerplate case Jaccard misses. One-sided prefix filter
    (A-prefix × full B index); the brute-force oracle proves it
    lossless. Same degenerate-vocabulary input cap as the Jaccard
    twin."""
    from databricks_flight_etl_spark.operators.dedup import (
        containment_join,
    )

    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 800
    )
    sets = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda t: t != "")
        ).alias("toks"),
    )
    pairs = containment_join(sets, "toks", "doc_id", threshold=0.98)
    # the tiny-vocabulary corpus makes pairwise output quadratic (most
    # sets ARE subsets of each other) — certify via the per-doc
    # container count instead, which still pins every pair
    return (
        pairs.groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("n_containers"))
        .orderBy("id_a")
    )


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


def q_set_similarity_join(spark, sf_dir):
    """EXACT all-pairs Jaccard over token sets via PPJoin prefix
    filtering — candidates meet only on rarest-first prefix tokens,
    yet the oracle is the BRUTE-FORCE all-pairs scan: equality proves
    the filter lossless (unlike max_df caps or MinHash recall)."""
    from databricks_flight_etl_spark.operators.dedup import (
        set_similarity_join,
    )

    # doc_id < 1500: the synthetic corpus has a 31-word vocabulary, so
    # nearly every pair is genuinely similar — the true answer is
    # O(n²) no matter the algorithm. The absolute cap certifies the
    # algorithm at constant cost across SFs; natural text's heavy-
    # tailed vocabulary is what makes prefixes selective in production.
    docs = _docs_near_dup_base(spark, sf_dir).where(
        (F.col("doc_id") % 200000) < 800
    )
    sets = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda t: t != "")
        ).alias("toks"),
    )
    return set_similarity_join(
        sets, "toks", "doc_id", threshold=0.97
    ).orderBy("id_a", "id_b")


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


def q_lm_score(spark, sf_dir):
    """Corpus-trained bigram LM quality score (CCNet-style, stupid
    backoff): two count aggregates train the model, token-keyed joins
    score every doc — the pretraining quality filter with no external
    LM. Oracle replays counts and the mean log-probability."""
    from databricks_flight_etl_spark.operators.text import (
        ngram_lm_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_lm_score(docs, "text", "doc_id").orderBy("id")


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


def q_stratified_sample_n(spark, sf_dir):
    """Balanced per-class sample: exactly 40 documents per language by
    smallest content-hash (ties by id) — one window per stratum,
    shuffled by stratum only. Oracle replays the same per-stratum
    rank."""
    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample_n,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample_n(docs, "lang", "doc_id", 40)
    return out.select("doc_id", "lang").orderBy("lang", "doc_id")


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


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary-cutoff curve, K-GIVEN regime (k=40): PRUNE-FIRST —
    orderBy+limit is TakeOrderedAndProject (per-partition k-row heaps),
    so the rank/cumsum window runs over ≤ k rows, never the vocabulary;
    coverage still divides by the full-corpus total. The no-k regime is
    pinned separately by q_vocab_curve_full. Oracle replays the same
    total order and running sum."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", k=40).orderBy("rank")


def q_vocab_curve_full(spark, sf_dir):
    """Vocabulary-cutoff curve, FULL-CURVE regime (no k) through the
    distributed split — per-count cumulative types/mass via
    _hist_cumsum on the count, within-count token rank via _hist_cumsum
    partitioned by count and range-bucketed on the token's first-6-byte
    integer (monotone w.r.t. the bytewise string order both engines
    share). No window anywhere touches the whole vocabulary (the k-given
    prune-first regime is pinned by q_vocab_coverage). Oracle replays
    the one-window textbook form — same rows, bit-identical coverage."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text").orderBy("rank")


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


def q_resample_mix(spark, sf_dir):
    """Domain-mixing resampler: each language hits an EXACT target row
    count — de upsampled (replication with copy_idx), en/es
    downsampled, zh dropped, fr passed through — via integer base+
    remainder on the content-hash rank (no float thresholds). Oracle
    replays the same rank and generate_series replication."""
    from databricks_flight_etl_spark.operators.sampling import (
        resample_to_target,
    )

    docs = _t(spark, sf_dir, "documents")
    out = resample_to_target(
        docs, "lang", "doc_id",
        {"de": 1500, "en": 100, "es": 80, "zh": 0},
    )
    return out.select("doc_id", "lang", "copy_idx").orderBy(
        "lang", "doc_id", "copy_idx"
    )


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


def q_streaming_minhash(spark, sf_dir):
    """Streaming near-dup candidate detection against a STATIC
    minhash_bands index: the crawl increment (perturbed clones)
    replayed as a stream, row-wise band computation (no streaming
    aggregate), stream-static broadcast join on the 12-byte band key,
    streaming pair dedup. md5 family — the DuckDB oracle replays the
    full banding and restricts to the (corpus, increment) cross
    candidates."""
    import tempfile

    from databricks_flight_etl_spark.operators.dedup import minhash_bands
    from databricks_flight_etl_spark.streaming import (
        streaming_minhash_candidates,
    )

    tune(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inc = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    stage = tempfile.mkdtemp(prefix="flight_etl_smh_")
    # coalesce(1): the staged increment is KBs — one file means one
    # write task and one file-source listing entry instead of 32
    inc.coalesce(1).write.mode("overwrite").parquet(stage)
    idx = minhash_bands(docs, "text", "doc_id",
                        shingle_k=7, hash_family="md5")
    stream = spark.readStream.schema(inc.schema).format("parquet").load(
        stage
    )
    out = streaming_minhash_candidates(
        stream, idx, "text", "doc_id", shingle_k=7, hash_family="md5"
    )
    with _stream_parts(spark):
        q = (
            out.writeStream.format("memory")
            .queryName("smh_out").outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("smh_out").orderBy("new_id", "corpus_id")


def q_streaming_enrich(spark, sf_dir):
    """Stream-static enrichment certified vs the batch join: orders
    replayed as a stream, customer as the broadcast static dimension,
    per-segment revenue out. Stateless, append mode."""
    import shutil
    import tempfile

    from databricks_flight_etl_spark.streaming import streaming_enrich

    tune(spark)
    raw_schema = TESTDATA_SCHEMAS["orders"]
    stage = tempfile.mkdtemp(prefix="flight_etl_enr_")
    shutil.copy(f"{sf_dir}/orders.parquet", f"{stage}/orders.parquet")
    stream = spark.readStream.schema(raw_schema).format("parquet").load(
        stage
    ).select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = streaming_enrich(stream, cust, "c_custkey", "left")
    with _stream_parts(spark):
        q = (
            enriched.writeStream.format("memory")
            .queryName("enr_out").outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return (
        spark.table("enr_out")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                    .cast("double"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q_embed_dup_int8(spark, sf_dir):
    """The quantized-ANN pipeline end-to-end: int8-quantize the
    corpus, dequantize, then blocked cosine near-dup pairs on the
    reconstructed vectors — certifying that the 4×-compressed path
    yields a deterministic, engine-reproducible pair set (the oracle
    replays quantize, dequantize, and the pairwise cosine). Threshold
    slightly below q_embed_dup's: reconstruction shifts cosines by
    O(amax/254) per coordinate. Uses the FUSED reconstruction
    (bit-identical to dequantize∘quantize, pinned by unit test) —
    the composed pair paid a ~2.6 s first-run floor materializing
    two intermediate generated array projections (r11 task #7)."""
    from databricks_flight_etl_spark.operators.similarity import (
        cosine_near_dup_pairs,
        reconstruct_embeddings_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    deq = reconstruct_embeddings_int8(emb, "embedding").select(
        "vec_id", "label", F.col("vec_hat").alias("embedding")
    )
    return cosine_near_dup_pairs(
        deq, threshold=0.35, block_col="label"
    )


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


def q_streaming_interval_join(spark, sf_dir):
    """Stream-stream event-time interval join, certified against the
    batch oracle: views joined to same-user purchases within the next
    2 hours, both sides watermarked so state evicts once rows can no
    longer match. After processAllAvailable the append-mode result
    equals the batch interval join — the oracle SQL."""
    import shutil
    import tempfile

    from databricks_flight_etl_spark.streaming import (
        streaming_interval_join,
    )

    tune(spark)
    raw_schema = TESTDATA_SCHEMAS["events"]
    stage = tempfile.mkdtemp(prefix="flight_etl_ssj_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")

    from databricks_flight_etl_spark.sources import normalize_timestamp

    def src():
        return normalize_timestamp(
            spark.readStream.schema(raw_schema).format(
                "parquet").load(stage),
            ["ts"],
        )

    views = src().where(
        (F.col("event_type") == "view") & (F.col("user_id") < 30)
    ).select("user_id", "ts", F.col("event_id").alias("view_id"))
    buys = src().where(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 30)
    ).select("user_id", "ts", F.col("event_id").alias("purchase_id"))
    joined = streaming_interval_join(
        views, buys, "user_id", "ts",
        lower="0 seconds", upper="2 hours", watermark="30 days",
    ).select(
        F.col("l.user_id").alias("user_id"), "view_id", "purchase_id"
    )
    with _stream_parts(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_out")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("ssj_out").orderBy(
        "user_id", "view_id", "purchase_id"
    )


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


def q_skew_report(spark, sf_dir):
    """Hot-key diagnostic: top-5 heaviest user_id groups with share
    and ratio-to-mean — the pre-join skew probe. One groupBy + tiny
    ordered limit."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        skew_report,
    )

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, ["user_id"], top_k=5)


def q_hist_equidepth(spark, sf_dir):
    """Equi-depth histogram: exact decile edges from the histogram-rank
    quantiles, bucket = #edges ≤ x via a broadcast edge array on a
    narrow projection. Oracle replays edges and bucketing."""
    from databricks_flight_etl_spark.operators.accuracy import (
        histogram_equidepth,
    )

    ev = _t(spark, sf_dir, "events")
    return histogram_equidepth(ev, "value", nbins=10)


def q_incremental_dedup(spark, sf_dir):
    """The daily-crawl dedup shape: a new batch (documents + planted
    re-crawls) deduped against the persisted digest table of an
    already-accepted corpus (doc_id < 250) — anti-join on 32-hex
    digests, history never rescanned. Oracle replays both stages."""
    from databricks_flight_etl_spark.operators.dedup import (
        corpus_digests,
        incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    seen = corpus_digests(docs.where(F.col("doc_id") < 250), "text")
    new = docs.unionByName(
        docs.where(F.col("doc_id") % 40 == 0)
        .withColumn("doc_id", F.col("doc_id") + 500000)
    )
    out = incremental_dedup(new, seen, "text", "doc_id")
    return out.select("doc_id").orderBy("doc_id")


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


def q_vector_mean(spark, sf_dir):
    """Per-label prototype vectors as ONE hash aggregate of dim scalar
    avgs (no posexplode-before-groupBy dim× blowup through the
    shuffle); scalar (label, idx, mean) rows out. DECIMAL-exact sums
    would be overkill — the oracle replays avg in the same unnest
    order per group, and double avg of the same multiset in DuckDB's
    streaming order can differ, so means are rounded to 9 dp on both
    sides."""
    from databricks_flight_etl_spark.operators.similarity import (
        group_vector_mean,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = group_vector_mean(emb, "label")
    return out.select(
        "label", "idx", F.round("mean", 9).alias("mean_r")
    ).orderBy("label", "idx")


def q_jl_project(spark, sf_dir):
    """Johnson–Lindenstrauss ±1-sign projection 64→16 (scale 1/√16 =
    0.25, exact in binary): one numpy matmul per Arrow batch — no
    shuffle. The SAME Python-derived sign matrix stamps the Spark
    kernel and the SQL oracle. numpy's summation order differs from
    the oracle's left-assoc add chain only in the last ulp, far below
    the 6 dp round, and the rounded values match the oracle exactly
    on the testdata. posexploded to scalar rows for the harness."""
    from databricks_flight_etl_spark.operators.similarity import (
        project_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = project_embeddings(emb, out_dim=16)
    # posexplode_OUTER: row-identical here (proj is always a non-null
    # 16-element array), but plain posexplode lets Catalyst's
    # InferFiltersFromGenerate add `size(proj) > 0` and push it below
    # the projection — re-running the ENTIRE 16-coordinate fold per
    # row inside a Filter (the PLANS.md λfilt tripwire); outer
    # generate infers no such filter
    return out.select(
        "vec_id", F.posexplode_outer("proj").alias("j", "value")
    ).orderBy("vec_id", "j")


def q_jl_project_wide(spark, sf_dir):
    """The BIG-DIM JL regime (r4 verdict task #6): vectors widened to
    1024 dims (flatten ∘ array_repeat — deterministic), projected to
    128 — 131 072 sign-matrix terms in one numpy GEMM per Arrow batch.
    Rows-only: the certified twin is q_jl_project (the same kernel at
    64→16); this query certifies the wide shape runs."""
    from databricks_flight_etl_spark.operators.similarity import (
        project_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.flatten(F.array_repeat(F.col("embedding"), 16)).alias(
            "embedding"
        ),
    )
    out = project_embeddings(emb, out_dim=128)
    return out.select(
        "vec_id", F.posexplode("proj").alias("j", "value")
    ).orderBy("vec_id", "j")


def q_centroid_outliers(spark, sf_dir):
    """Semantic-outlier curation scores: cosine of each vector to its
    LABEL's centroid — dim scalar avgs in one hash aggregate, tiny
    centroid table broadcast back, deterministic zip_with-fold cosine.
    Rounded to 6 dp on both sides (centroid avg order is the only
    cross-engine freedom)."""
    from databricks_flight_etl_spark.operators.similarity import (
        centroid_outlier_scores,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = centroid_outlier_scores(emb, "label")
    return out.select(
        "vec_id", "label", F.round("cos_centroid", 6).alias("cos_r")
    ).orderBy("label", "vec_id")


def q_sample_n(spark, sf_dir):
    """Exactly-n content-defined sample: the n smallest md5 coordinates
    (TakeOrderedAndProject — per-partition top-n, no global sort).
    Oracle replays the same order."""
    from databricks_flight_etl_spark.operators.sampling import sample_n

    docs = _t(spark, sf_dir, "documents")
    return sample_n(docs, "doc_id", 50).select("doc_id", "lang")


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


def q_streaming_hll(spark, sf_dir):
    """A mergeable sketch maintained BY THE STREAM: events replayed
    through a file-source stream into the HLL register aggregation
    (max is monotone — state is one int per register, bounded by 2^p,
    no watermark). After processAllAvailable the registers equal the
    batch sketch bit-for-bit, so the oracle is the same register SQL
    as q_hll_registers."""
    import shutil
    import tempfile

    from databricks_flight_etl_spark.streaming import (
        run_stream_to_memory,
        streaming_hll,
    )

    tune(spark)
    raw_schema = TESTDATA_SCHEMAS["events"]
    stage = tempfile.mkdtemp(prefix="flight_etl_shll_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    with _stream_parts(spark):
        out = run_stream_to_memory(
            spark, stage, raw_schema,
            lambda s: streaming_hll(s, "event_id", p=10),
            query_name="shll_out", output_mode="complete",
        )
    return out.orderBy("bucket")


def q_streaming_quantile_sketch(spark, sf_dir):
    """Bounded-state streaming percentiles: events replayed as TWO
    micro-batches (parity halves, maxFilesPerTrigger=1) through a
    foreachBatch-maintained MRL sketch — each batch is sketched,
    pooled with the parquet state, re-compacted, written back. In the
    exact (k ≥ n) configuration no collapse fires anywhere, so after
    the replay the state reads out EXACTLY the batch type-1 quantiles
    — the same oracle as q_quantiles_exact, now certifying the
    incremental-fold path end-to-end."""
    import tempfile

    from databricks_flight_etl_spark.operators.sketches import (
        mrl_quantiles,
    )
    from databricks_flight_etl_spark.streaming import (
        streaming_mrl_sketch,
    )

    tune(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    root = tempfile.mkdtemp(prefix="flight_etl_smrl_")
    stage = _stage_parity_halves(ev, "event_id", root)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stage)
    )
    k = 1_000_000
    with _stream_parts(spark):
        q = streaming_mrl_sketch(
            stream, "value", f"{root}/state", f"{root}/ckpt", k=k
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    state = spark.read.parquet(f"{root}/state")
    return mrl_quantiles(
        state, [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


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


def q_k_anonymity(spark, sf_dir):
    """Privacy QA: equivalence classes of the quasi-identifier tuple
    (nation, account-balance band) with < k members — each one a
    re-identification risk in a would-be released customer table. One
    hash aggregate; the oracle is the same GROUP BY ... HAVING."""
    from databricks_flight_etl_spark.operators.privacy import (
        k_anonymity_report,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500).alias("bal_band"),
    )
    return (
        k_anonymity_report(cust, ["c_nationkey", "bal_band"], k=3)
        .orderBy("c_nationkey", "bal_band")
    )


def q_k_anonymize(spark, sf_dir):
    """Suppression-mode k-anonymization end-to-end: rows in < k-sized
    quasi classes are dropped via a size-gated broadcast anti-join,
    then the released table is profiled per segment. The oracle
    replays suppression with a NOT-IN-violating-classes anti join."""
    from databricks_flight_etl_spark.operators.privacy import k_anonymize

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500).alias("bal_band"),
    )
    rel = k_anonymize(cust, ["c_nationkey", "bal_band"], k=3)
    return (
        rel.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


def q_l_diversity(spark, sf_dir):
    """l-diversity audit (k-anonymity's homogeneity-attack blind
    spot): quasi classes whose sensitive attribute (market segment)
    shows < l distinct values — class membership alone would disclose
    it. Same aggregate shape, count_distinct payload."""
    from databricks_flight_etl_spark.operators.privacy import (
        l_diversity_report,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    )
    return (
        l_diversity_report(
            cust, ["c_nationkey", "bal_band"], "c_mktsegment", l=3
        )
        .orderBy("c_nationkey", "bal_band")
    )


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


def q_semantic_dedup_exact(spark, sf_dir):
    """SemDeDup (cluster → within-cluster cosine → CC → min-id
    survivor) in its EXACT degenerate configuration: n_lists=1 makes
    the cluster step a no-op, so the pair set is brute force and the
    oracle can replay the whole funnel — pairwise cosine, recursive-CTE
    components, anti-join survivors. Certifies the ALGORITHM; the
    production path (q_semantic_dedup below) only changes n_lists."""
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, threshold=0.35, n_lists=1, iters=0
    )
    return out.select("vec_id", "label").orderBy("vec_id")


def q_semantic_dedup_2level(spark, sf_dir):
    """X2/X10 hierarchical (two-level shared-residual-codebook) IVF
    SemDeDup in its EXACT degenerate configuration: n_super=1, n_sub=1
    makes the composite cell global, so the pair set is brute force
    and the SAME funnel oracle as q_semantic_dedup_exact replays it —
    certifying the two-level plumbing end-to-end. The >4096-cell
    production regime only changes n_super/n_sub (scale-probe entry
    semdedup_2level; degenerate-equals-flat pinned by unit test)."""
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup_two_level,
    )

    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 2 == 0  # deterministic cap: the cert needs
        # the FUNNEL exercised, not the full corpus; brute-force pair
        # work is quadratic, so the parity filter quarters it
    )
    out = semantic_dedup_two_level(
        emb, threshold=0.35, n_super=1, n_sub=1, iters=0
    )
    return out.select("vec_id", "label").orderBy("vec_id")


def q_semantic_dedup(spark, sf_dir):
    """Production SemDeDup shape with the CORPUS-SCALED cluster count
    (n_lists=None → ~256 rows per cluster; a fixed list count made
    per-cluster pair work quadratic — 102× time at 30× data in the
    scale probe), within-list pairs only — approximate by construction
    (cross-cluster dups survive), so rows-only at the driver; the
    algorithm itself is certified by q_semantic_dedup_exact."""
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, threshold=0.35, iters=1)
    return out.select("vec_id", "label").orderBy("vec_id")


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


def q_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding corpus,
    certified code-for-code: the oracle replays the identical double
    arithmetic (float32→double widening is exact, so both engines see
    the same inputs). Scalar (vec_id, idx, qval, amax) rows per the
    harness canonicalizer contract."""
    from databricks_flight_etl_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    out = quantize_embeddings(emb, "embedding")
    return out.select(
        "vec_id",
        F.round(F.col("amax"), 6).alias("amax_r"),
        F.posexplode("qvec").alias("idx", "qval"),
    ).select("vec_id", "idx", "qval", "amax_r").orderBy("vec_id", "idx")


def q_split_assign(spark, sf_dir):
    """Disjoint deterministic train/val/test assignment by content-hash
    ranges — a row never changes split as the corpus grows, and the
    labels reproduce on any engine (the oracle replays the md5
    thresholds). Narrow projection, no shuffle before the count."""
    from databricks_flight_etl_spark.operators.sampling import (
        split_assign,
    )

    docs = _t(spark, sf_dir, "documents")
    out = split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle: global order by md5(epoch ‖ id) —
    the total order a training-shard writer consumes. Range-partitioned
    sort under the hood (the scalable shape); certified value-for-value
    by replaying the order in the oracle."""
    from databricks_flight_etl_spark.operators.sampling import (
        epoch_shuffle,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        epoch_shuffle(docs, "doc_id", epoch=1)
        .select("doc_id", "shuffle_key")
        .limit(100)
    )


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


def q_corpus_release(spark, sf_dir):
    """X7 full corpus-release composition, oracle-certified end-to-end:
    quality filter → language filter → exact dedup → PII redaction →
    clean-token counts → token-budget shard packing, over documents
    with injected PII. The oracle mirrors every stage in one SQL."""
    from databricks_flight_etl_spark.pipeline import run_corpus_release

    rel = run_corpus_release(
        _docs_with_pii(spark, sf_dir),
        min_tokens=10,
        chunk_tokens=64,
        overlap=16,
        near_dup=False,
        budget=512,
    )
    return rel.released


def q_corpus_release_domains(spark, sf_dir):
    """X7 corpus release with the per-domain cap ON (r6 verdict task
    #6): quality → language → exact dedup → 'no domain dominates' cap
    (url_host + deterministic per-host content-hash top-N, non-URL
    docs pass uncapped) → PII redaction → token counts → shard
    packing. URLs synthesized over 7 hosts with credential/port and
    non-URL variants so the cap, the host regexp, and the pass-through
    all bite. Oracle replays the identical funnel + cap in one SQL."""
    from databricks_flight_etl_spark.pipeline import run_corpus_release

    sid = F.col("doc_id").cast("string")
    host_n = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://site"), host_n,
                     F.lit(".example.com/d/"), sid),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://user:pw@site"), host_n,
                     F.lit(".example.com:8443/d/"), sid),
        )
        .otherwise(F.concat(F.lit("plain text "), sid))
    )
    rel = run_corpus_release(
        _docs_with_pii(spark, sf_dir).withColumn("url", url),
        min_tokens=10,
        chunk_tokens=64,
        overlap=16,
        near_dup=False,
        budget=512,
        url_col="url",
        max_per_domain=10,
    )
    return rel.released


def q_textprep_full_certified(spark, sf_dir):
    """X7 capstone: the COMPLETE text-prep funnel with the near-dup
    stage ON — quality filter → language filter → exact dedup →
    MinHash-LSH near-dup (md5 hash family) → connected-component
    survivor selection → chunk counts — certified end-to-end by ONE
    DuckDB oracle that replays every stage including the LSH banding
    and the recursive-CTE closure. Runs over the clone-planted corpus
    so the near-dup stage actually drops rows."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    rep = run_textprep_pipeline(
        _docs_near_dup_base(spark, sf_dir),
        min_tokens=10,
        chunk_tokens=64,
        overlap=16,
        near_dup=True,
        near_dup_threshold=0.8,
        shingle_k=7,
        hash_family="md5",
        bands=4,  # pinned: the oracle SQL replays j // 8 banding
    )
    return (
        rep.chunks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("doc_id")
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling by content hash — the corpus-
    mixing knob of a training-data pipeline (keep all of one source,
    10% of another). A row keeps iff substr(md5(doc_id), 1, 12) sorts
    below its stratum's hex threshold: rerun-stable, partitioning-
    independent, engine-portable (the oracle runs the same predicate in
    DuckDB), and a narrow pushable filter — no RNG, no shuffle."""
    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "source", "doc_id", {"src1": 1.0, "src2": 0.1}, default=0.5
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_ann_ivf_batch(spark, sf_dir):
    """X2 batched IVF ANN: 4 probes share one pruned corpus pass — each
    probe's nearest n_probe inverted lists ranked engine-side (numpy
    matmul + stable argsort per Arrow batch), exploded + broadcast,
    equi-joined on list_id. Approximate by construction → rows-only;
    a probe's hits are pinned independent of the rest of the batch by
    unit test."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf_batch(emb, probe_ids=[0, 1, 2, 3], k=5)


def q_textprep_pipeline(spark, sf_dir):
    """End-to-end LLM training-data prep over the documents table:
    quality filter → language filter → exact dedup → MinHash near-dup
    clustering (min-id survivor) → overlapping token-window chunking.
    Returns (doc_id, n_chunks) per surviving doc — deterministic (fixed
    hash seeds) but not SQL-oracle-expressible end-to-end (the LSH
    candidate step), so rows-only; every stage is separately certified
    (q_text_quality, q_lang_id, q_dedup_exact, q_dedup_clusters,
    q_chunk_documents).

    Cost note: r4's threshold-derived banding (auto_bands — 8 bands at
    threshold 0.8 instead of the old fixed 4) roughly doubles this
    query's wall-clock on purpose: at-threshold recall goes 52% → 98%
    (the fixed shape silently missed ~half of exactly-0.8 pairs). Pass
    bands=4 for the old throughput shape when the corpus sits well
    above the threshold."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    docs = _t(spark, sf_dir, "documents")
    rep = run_textprep_pipeline(
        docs, min_tokens=10, near_dup_threshold=0.8, shingle_k=7,
        chunk_tokens=64, overlap=16,
    )
    return (
        rep.chunks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("doc_id")
    )


def q_ann_lsh_multiprobe(spark, sf_dir):
    """X2 ANN, multi-probe variant (Lv et al. VLDB'07): probe the exact
    LSH bucket plus all buckets ≤1 signature bit away — recall recovery
    without extra hash tables; candidate generation stays a broadcast
    equi-join on the bucket key."""
    from databricks_flight_etl_spark.operators.similarity import (
        ann_topk_lsh_multiprobe,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh_multiprobe(emb, probe_id=0, k=10, dim=64, n_flip=1)


def q_streaming_day_counts(spark, sf_dir):
    """Structured Streaming, certified against the BATCH oracle: the
    events parquet replayed through a file-source stream → watermarked
    1-day windows → memory sink. After processAllAvailable the update-
    mode state equals the batch per-day counts exactly, so the oracle
    is the same SQL as q_events_per_day."""
    from databricks_flight_etl_spark.sources import normalize_timestamp
    from databricks_flight_etl_spark.streaming import streaming_day_counts

    tune(spark)
    raw_schema = TESTDATA_SCHEMAS["events"]
    # the file source wants a directory; point basePath at a staging dir
    # holding just the events file (testdata itself is read-only and the
    # sf_dir mixes ten tables)
    import shutil
    import tempfile

    stage = tempfile.mkdtemp(prefix="flight_etl_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    stream = (
        spark.readStream.schema(raw_schema).format("parquet").load(stage)
    )
    out = streaming_day_counts(
        normalize_timestamp(stream, ["ts"]), "ts", watermark="2 days"
    )
    # one state store per shuffle partition: size to the open-window
    # cardinality (~30 day windows), not the batch default — 32 stores
    # for 30 keys is pure per-batch bookkeeping overhead
    with _stream_parts(spark):
        q = (
            out.writeStream.format("memory")
            .queryName("harness_stream_days")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("harness_stream_days").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n"
    )


def q_cosine_topk_batch(spark, sf_dir):
    """X2 batched retrieval: top-5 neighbors for 4 probes in ONE corpus
    scan (broadcast probes × corpus, per-probe window rank)."""
    from databricks_flight_etl_spark.operators.similarity import cosine_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_batch(emb, probe_ids=[0, 1, 2, 3], k=5)


def q_cosine_topk_pandas(spark, sf_dir):
    """X2 alternative hot path: cosine top-k with the dot products in an
    Arrow-batched Pandas UDF (numpy matmul). Same answer as the JVM
    fold (pinned by unit test); numpy's pairwise summation order can
    differ from the fold in the last ulp, but round(6) absorbs it —
    certified against the same oracle as q_cosine_topk (verified at
    sf0.001/0.01/0.1)."""
    from databricks_flight_etl_spark.operators.similarity import cosine_topk_pandas

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_pandas(emb, probe_id=0, k=10)


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


def q_deterministic_sample(spark, sf_dir):
    """Stable hash sample: same keys selected on every engine/run/
    partitioning (md5-prefix threshold) — unlike df.sample, which
    depends on partition layout. Certified exactly against the oracle
    computing the same predicate."""
    from databricks_flight_etl_spark.operators.sampling import (
        deterministic_sample,
    )

    ev = _t(spark, sf_dir, "events")
    return deterministic_sample(ev, "event_id", 0.1).select(
        "event_id", "user_id", "event_type", "value"
    )


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


def q_asof_join_cogroup(spark, sf_dir):
    """Kept registry name for the retired cogroup().applyInPandas as-of
    join: the JVM union+window ``asof_join`` beat it on CPU at sf0.01
    and sf0.1 with identical rows, so this is q_asof_join under its
    second name, checked against the SAME oracle."""
    return q_asof_join(spark, sf_dir)


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


def q_ann_ivf(spark, sf_dir):
    """X2 IVF ANN: coarse k-means quantizer (deterministic seeds, 2
    Lloyd steps) → probe the 4 nearest of 16 lists → exact re-rank.
    Approximate recall by construction → rows-only. A single probe is
    a batch of one."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf_batch(
        emb, probe_ids=[0], k=10, n_lists=16, n_probe=4, iters=1
    ).select("vec_id", "cosine")


def q_ann_ivf_exhaustive(spark, sf_dir):
    """X2 IVF with EVERY list probed (n_probe = n_lists): the pruning
    becomes a no-op, so the index path must return exactly the
    brute-force top-k — certifying the whole IVF machinery (centroid
    training, assignment, candidate scan, re-rank) against the
    q_cosine_topk oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf_batch(
        emb, probe_ids=[0], k=10, n_lists=16, n_probe=16, iters=1
    ).select("vec_id", "cosine")


def q_dedup_survivors(spark, sf_dir):
    """X1 survivor selection: near-dup pairs → connected components →
    keep only each cluster's canonical (min-id) member plus all
    untouched rows — the step that actually shrinks the corpus.
    Certified against a recursive-CTE + anti-join oracle."""
    from databricks_flight_etl_spark.operators.graph import dedup_survivors

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    return dedup_survivors(emb, pairs, "vec_id").select("vec_id", "label")


def q_cluster_sizes(spark, sf_dir):
    """Dedup-funnel reporting: the near-dup CLUSTER-SIZE histogram
    (how much of the corpus sits in 2-member vs 10-member duplicate
    families — the number that justifies the dedup pass). Components
    → per-component size → size histogram; oracle replays via the
    recursive CTE."""
    from databricks_flight_etl_spark.operators.graph import (
        connected_components,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    cc = connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("sz")
    )


def q_dedup_survivors_by(spark, sf_dir):
    """Quality-aware survivor selection: same clusters as
    q_dedup_survivors, but each keeps its HIGHEST-scoring member
    (score = vec_id % 7 — deterministic, with real ties; ties →
    smallest id) instead of the arbitrary min id. Struct-max argmax
    per component; drop-list anti-join. Oracle: recursive-CTE
    components + the same argmax."""
    from databricks_flight_etl_spark.operators.graph import (
        dedup_survivors_by,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "score", (F.col("vec_id") % 7).cast("double")
    )
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    return dedup_survivors_by(emb, pairs, "vec_id", "score").select(
        "vec_id", "label"
    )


def q_pack_shards(spark, sf_dir):
    """X6 token-budget shard packing via a distributed prefix sum
    (range-bucket partials + broadcast offsets + per-bucket window) —
    never a single-partition global window. Certified against DuckDB's
    plain global running-sum window."""
    from databricks_flight_etl_spark.operators.sampling import (
        pack_by_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .alias("n_tokens"),
    )
    return pack_by_token_budget(with_tokens, "doc_id", "n_tokens", budget=500)


def q_ann_lsh_exhaustive(spark, sf_dir):
    """X2 hyperplane-LSH with ZERO planes: every vector lands in one
    bucket, so the index path must reproduce the brute-force top-k —
    certifying the LSH machinery (bucketing, probe-bucket restrict,
    exact re-rank) against the q_cosine_topk oracle."""
    from databricks_flight_etl_spark.operators.similarity import (
        ann_topk_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, probe_id=0, k=10, dim=64, n_planes=0)


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


def q_token_count_bpe(spark, sf_dir):
    """X4 token counting, whitespace + BPE-ish regex (letter runs,
    digit runs, single punctuation — the pre-tokenizer shape). Pattern
    uses only ASCII classes so Java regex and RE2 agree."""
    docs = _t(spark, sf_dir, "documents")
    tc = token_counts(docs, "text", "doc_id")
    return tc.select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def q_tfidf(spark, sf_dir):
    """X4 TF-IDF: per-(doc, token) tf·ln(N/df) — two aggregations (the
    second over the already-aggregated tf table) + a broadcast idf join."""
    from databricks_flight_etl_spark.operators.text import tf_idf

    docs = _t(spark, sf_dir, "documents")
    return tf_idf(docs, "text", "doc_id")


def q_chunk_documents(spark, sf_dir):
    """X4 chunking: overlapping 64-token windows with stride 48 —
    per-row array windows + one explode, no shuffle, no Python."""
    from databricks_flight_etl_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=64, overlap=16)


def q_udtf_sentences(spark, sf_dir):
    """Python UDTF (one row in → N rows out, per-row Python generator)
    applied via LATERAL join — certified against the equivalent
    list-expansion SQL."""
    from databricks_flight_etl_spark.operators.text import split_sentences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # the synthetic docs carry no punctuation; inject periods
        # deterministically so the UDTF's 1→N expansion is exercised
        F.expr("replace(text, ' table', '. table')").alias("text"),
    )
    return split_sentences(docs, "text", "doc_id")


def q_winnow(spark, sf_dir):
    """X4 winnowing (MOSS rolling-hash fingerprints): per-doc selected
    k-gram hash set — xxhash64-based, not SQL-oracle-expressible →
    rows-only. Guarantees shared fingerprints for shared runs ≥ k+w-1."""
    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "text", "doc_id", k=8, window=4)


def q_embed_dup(spark, sf_dir):
    """X1/X2 embedding-cosine near-dup: blocked exact pairs — the
    self-join runs within label blocks, so pair count is quadratic only
    in block size. Oracle-certified (both engines fold the dot product
    in identical order → bit-equal cosines)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")


def q_embed_dup_lsh(spark, sf_dir):
    """X1/X2 embedding near-dup with self-derived LSH blocks (no label
    needed): approximate by construction → rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35, block_col=None)


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


def q_bm25(spark, sf_dir):
    """X4 relevance scoring: Okapi BM25 of every document against a
    3-term query — per-term partials summed as exact DECIMAL so the
    score is engine-order-independent."""
    from databricks_flight_etl_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, "text", "doc_id", ["hash", "join", "vector"])


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


_DOCS_PII_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact bob@example.com now' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' server at 10.0.0.1 up' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567 or +4915112345678' ELSE '' END
           AS text
    FROM documents
"""


def q_pii_redact(spark, sf_dir):
    """X4 PII scrubbing (standard LLM training-data pass): email → IP →
    phone regex redaction chain with per-stage match counts, certified
    cross-engine (ASCII-class patterns mean the same under Java regex
    and RE2)."""
    from databricks_flight_etl_spark.operators.text import pii_redact

    return pii_redact(_docs_with_pii(spark, sf_dir), "text", "doc_id")


def q_quality_signals(spark, sf_dir):
    """X4 Gopher/C4-style quality heuristics: char-class ratios,
    repetition (dup-word fraction), common-word sanity check — the
    published filter family re-expressed as per-row column math."""
    from databricks_flight_etl_spark.operators.text import quality_signals

    return quality_signals(_docs_with_pii(spark, sf_dir), "text", "doc_id")


def q_contamination(spark, sf_dir):
    """X4/X1 benchmark-contamination scan: 5-gram overlap of every
    document against a probe set (every 29th doc stands in for a
    benchmark), hashed-shingle broadcast join — corpus side never
    shuffles. Certified against a string-join DuckDB oracle."""
    from databricks_flight_etl_spark.operators.text import (
        contamination_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
    )
    return contamination_overlap(
        docs, probes, "text", "doc_id", n=5, min_overlap=2
    )


def q_streaming_dedup(spark, sf_dir):
    """Structured Streaming dedup, certified against the batch DISTINCT
    oracle: the events parquet staged TWICE into a file-source stream →
    dropDuplicatesWithinWatermark(event_id) → memory sink. Every row
    arrives duplicated; the sink must hold each event exactly once."""
    import shutil
    import tempfile

    from databricks_flight_etl_spark.sources import normalize_timestamp
    from databricks_flight_etl_spark.streaming import streaming_dedup

    tune(spark)
    raw_schema = TESTDATA_SCHEMAS["events"]
    stage = tempfile.mkdtemp(prefix="flight_etl_stream_dedup_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events_a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events_b.parquet")
    stream = (
        spark.readStream.schema(raw_schema).format("parquet").load(stage)
    )
    deduped = streaming_dedup(
        normalize_timestamp(stream, ["ts"]), ["event_id"], "ts",
        watermark="2 days",
    ).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    with _stream_parts(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName("harness_stream_dedup")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("harness_stream_dedup")


def q_streaming_sessionize(spark, sf_dir):
    """Structured Streaming session_window, certified against the batch
    sessionize oracle: events stream in, then a far-future sentinel
    event advances the watermark past every real session so append mode
    flushes them all. Output: one row per CLOSED session
    (user_id, session_start_us, n_events); the sentinel's own session
    stays open and never emits."""
    import shutil
    import tempfile

    from databricks_flight_etl_spark.sources import normalize_timestamp
    from databricks_flight_etl_spark.streaming import streaming_sessionize

    tune(spark)
    raw_schema = TESTDATA_SCHEMAS["events"]
    stage = tempfile.mkdtemp(prefix="flight_etl_stream_sess_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    stream = (
        spark.readStream.schema(raw_schema).format("parquet").load(stage)
    )
    out = streaming_sessionize(
        normalize_timestamp(stream, ["ts"]), "user_id", "ts",
        gap_minutes=30, watermark="1 hour",
    ).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    )
    with _stream_parts(spark):
        q = (
            out.writeStream.format("memory")
            .queryName("harness_stream_sess")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            # sentinel batch: one far-future event pushes the watermark
            # past every real session's end + gap
            max_ts = (
                spark.read.schema(raw_schema)
                .parquet(f"{sf_dir}/events.parquet")
                .agg(F.max("ts").alias("m")).first()["m"]
            )
            # range(..., numPartitions=1): a JVM-native single-partition
            # one-row source. createDataFrame([...]) parallelizes the
            # row across defaultParallelism Python-payload partitions,
            # and coalesce(1) then made ONE write task drain all 32
            # sequentially — measured ~4.5 s for this one-row write
            # (the bulk of this query's recorded floor)
            sentinel = spark.range(0, 1, 1, 1).select(
                F.lit(-1).cast("long").alias("event_id"),
                (F.lit(max_ts) + F.expr("INTERVAL 30 DAYS"))
                .cast("timestamp_ntz").alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
            sentinel.write.mode("append").parquet(stage)
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table("harness_stream_sess")


def q_dedup_clusters(spark, sf_dir):
    """Iterative algorithm, oracle-certified: connected components
    (driver union-find, since this pair list is far below the
    distributed bound) over the embedding near-dup pair list — the
    transitive-closure step that turns pairwise matches into dedup
    clusters. DuckDB oracle computes the same closure with a recursive
    CTE over the identical edge SQL."""
    from databricks_flight_etl_spark.operators.graph import (
        connected_components,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    return connected_components(pairs, "id_a", "id_b")


def q_dedup_clusters_star(spark, sf_dir):
    """Connected components via large-star/small-star contraction
    (Kiveris et al., SoCC'14) — the branch ``connected_components``
    takes above its driver bound, called directly so this small pair
    list certifies it; checked against the identical recursive-CTE
    oracle."""
    from databricks_flight_etl_spark.operators.graph import (
        _edge_list,
        _star_contraction,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    return _star_contraction(_edge_list(pairs, "id_a", "id_b"))


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


def q_decode_features(spark, sf_dir):
    """X3 Arrow-batched decode plumbing: mapInPandas feature extraction
    over binary payloads (stub kernel, real batching/schema).

    Harness shape: the library API returns ``features array<double>``,
    but the driver's pandas canonicalizer cannot hash ndarray cells —
    so the HARNESS query posexplodes to scalar rows
    ``(id, feature_idx, value)``. The array-valued API stays in
    ``multimodal.decode_features``."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = multimodal.decode_features(
        docs, "payload", "doc_id", n_features=8, kernel="bytes"
    )
    return feats.select(
        "id", F.posexplode("features").alias("feature_idx", "value")
    )


def q_decode_features_arrow(spark, sf_dir):
    """Kept registry name for the retired mapInArrow decode twin: the
    mapInPandas byte-statistics kernel costs the same with identical
    rows, so this is q_decode_features under its second name, checked
    against the SAME oracle."""
    return q_decode_features(spark, sf_dir)


def q_phash_near_dup(spark, sf_dir):
    """X3 perceptual media dedup (r5 verdict task #5): 64-bit DCT
    pHash per payload via the Arrow kernel (numpy 32×32 area resize →
    DCT-II → top-8×8 median threshold; deterministic byte-plane fake
    decode in this container — the PIL tier swaps in where media libs
    exist), then the signature-agnostic pigeonhole Hamming join for
    radius-8 neighbors. Rows-only by nature (float DCT isn't
    SQL-replayable); the exact md5 kernel stays the certified
    configuration (q_hamming_near_dup)."""
    from databricks_flight_etl_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    ).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    fp = multimodal.media_fingerprint(
        docs, "payload", "doc_id", kernel="phash"
    )
    pairs = hamming_near_dup_pairs(
        fp, "fingerprint", "doc_id", max_hamming=8
    )
    # pairs are emitted once with id_a < id_b — count both directions
    # so n_neighbors is the symmetric degree
    ends = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    ).withColumn("__n", F.lit(1))
    return (
        fp.join(ends, "doc_id", "left")
        .groupBy("doc_id", "fingerprint")
        .agg(
            F.sum(F.coalesce(F.col("__n"), F.lit(0)))
            .cast("long").alias("n_neighbors")
        )
        .orderBy("doc_id")
    )


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


# ---------------------------------------------------------------------------

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


def q_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style GLOBAL line-level dedup (Raffel et al. 2020
    §2.2): each distinct line survives only at its first corpus
    occurrence (ordered by doc_id, position), sub-2-word lines drop,
    docs reassemble in original order. Certified: the oracle replays
    the line derivation, the first-winner rule (row_number over
    (doc_id, pos)) and the ordered string_agg reassembly."""
    docs = _docs_multiline(spark, sf_dir)
    return line_dedup_global(
        docs, "text", "doc_id", min_words=2
    ).orderBy("doc_id")


def q_repetition_signals(spark, sf_dir):
    """Gopher repetition quality signals (Rae et al. 2021 A1.1) on the
    derived multi-line corpus: within-doc duplicate-line fraction, the
    top word-bigram's character coverage (ties → smallest gram), and
    the share of 5-gram characters in grams repeated ≥2×. One shuffle
    (spread by doc_id satisfies both gram groupings). Certified — the
    oracle replays grams via list slices + window tie-break."""
    docs = _docs_multiline(spark, sf_dir)
    return repetition_signals(docs, "text", "doc_id").orderBy("doc_id")


def q_hamming_near_dup(spark, sf_dir):
    """Signature-agnostic Hamming near-dup join
    (dedup.hamming_near_dup_pairs — the pigeonhole blocking factored
    out of SimHash, reusable for perceptual media hashes): certified on
    a PLANTED fingerprint family — cluster base = portable md5 60-bit
    hash of (doc_id % 50), one per-doc bit flip (bit doc_id % 60) —
    so every within-cluster pair sits at Hamming ≤ 2 and every
    cross-cluster pair far outside. The oracle recomputes the identical
    signatures and verifies the FULL pairwise predicate
    bit_count(xor) ≤ 2, proving the blocked join lossless."""
    from databricks_flight_etl_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = F.conv(
        F.substring(F.md5((F.col("doc_id") % 50).cast("string")), 1, 15),
        16, 10,
    ).cast("long")
    flip = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))"
    )
    sigs = docs.select("doc_id", base.bitwiseXOR(flip).alias("sig"))
    return hamming_near_dup_pairs(
        sigs, "sig", "doc_id", max_hamming=2
    ).orderBy("id_a", "id_b")


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


def q_streaming_heavy_hitters(spark, sf_dir):
    """Bounded-state streaming heavy hitters: the documents' words
    replayed as TWO micro-batches through a foreachBatch-maintained
    Misra-Gries counter table (sum batch counts into state; cap by
    subtracting the (capacity+1)-th largest when over capacity). In
    the exact (capacity ≥ distinct-terms) configuration no cap fires,
    so after the replay the state reads out EXACTLY the batch word
    counts — the oracle — certifying the incremental fold end-to-end
    (replay-idempotence unit-tested like the MRL twin)."""
    import tempfile

    from databricks_flight_etl_spark.streaming import (
        streaming_heavy_hitters,
    )

    tune(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="flight_etl_shh_")
    stage = _stage_parity_halves(docs, "doc_id", root)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stage)
    )
    words = stream.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("w")
    )
    with _stream_parts(spark):
        q = streaming_heavy_hitters(
            words, "w", f"{root}/state", f"{root}/ckpt",
            capacity=1_000_000,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    state = spark.read.parquet(f"{root}/state")
    return state.select("term", "cnt").orderBy("term")


def q_streaming_drift(spark, sf_dir):
    """Bounded-state streaming drift monitor: purchase values replayed
    as TWO micro-batches into fixed reference-derived bins (view
    values' min/max — the train-time convention; state ≤ bins + 2
    rows forever), then the binned two-sample KS readout vs the
    reference. Binning is pure IEEE double arithmetic (the q_histogram
    certification precedent), so the oracle replays bucket-for-bucket:
    the incremental fold is certified exactly, not rows-only."""
    import tempfile

    from databricks_flight_etl_spark.streaming import (
        streaming_drift_monitor, streaming_drift_readout,
    )

    tune(spark)
    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("event_type") == "view").select("value")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "value"
    )
    root = tempfile.mkdtemp(prefix="flight_etl_sdrift_")
    stage = _stage_parity_halves(purchases, "event_id", root)
    stream = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stage)
    )
    with _stream_parts(spark):
        q = streaming_drift_monitor(
            stream, "value", ref, f"{root}/state", f"{root}/ckpt",
            bins=64,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return streaming_drift_readout(
        spark, f"{root}/state", ref, "value", bins=64
    )


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


def q_linear_scorer(spark, sf_dir):
    """X4 corpus-scale linear text-classifier application (the
    fastText/CCNet quality-filter shape): score = sigmoid(bias +
    Σ count(token)·weight) as pure joins + aggregates — no model
    runtime, no Python. The dot product folds EXACT decimal weights so
    both engines sum identically; sigmoid's exp is the only float op,
    absorbed by the 6-dp round."""
    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    weights = _local_df(
        spark,
        [("spark", 0.8), ("join", 0.25), ("scan", -0.4),
         ("batch", -0.15), ("window", 0.3), ("hash", -0.2)],
        "token string, weight double",
    )
    docs = _t(spark, sf_dir, "documents")
    return linear_score_documents(
        docs, "text", "doc_id", weights, bias=-0.1
    ).orderBy("doc_id")


def q_strip_html(spark, sf_dir):
    """X4 crawl cleaning: documents wrapped in synthetic HTML (style
    block, heading with an entity, script, comment) and stripped back
    to visible text with strip_html — per-row JVM regexp chain, no
    shuffle, no Python. Every pattern is Java-regex/RE2-portable, so
    the oracle replays the identical replace chain character for
    character."""
    from databricks_flight_etl_spark.operators.text import strip_html

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    html = F.concat(
        F.lit("<html><head><style>p{color:red}</style></head>"
              "<body><h1>Doc &amp; no. "),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n<p>"),
        F.col("text"),
        F.lit("</p><script>alert('x')</script><!-- hidden -->"
              "</body></html>"),
    )
    return docs.select(
        "doc_id", strip_html(html).alias("text")
    ).orderBy("doc_id")


def q_domain_caps(spark, sf_dir):
    """X4/X6 domain-level curation — the Dolma/CCNet 'no domain
    dominates' cap: extract each doc's URL host engine-portably
    (url_host: one regexp, strips scheme/credentials/port), drop
    non-URL rows via the null host, keep a deterministic content-hash
    cap of 12 docs per host (stratified_sample_n — window per host
    over md5 order, rerun/engine-stable). URLs synthesized with
    credential/port/non-URL variants to exercise the full pattern."""
    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample_n,
    )
    from databricks_flight_etl_spark.operators.text import url_host

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/doc/"), sid),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://user:pw@"), F.col("source"),
                     F.lit(".example.com:8443/doc/"), sid),
        )
        .otherwise(F.concat(F.lit("plain text "), sid))
    )
    t = docs.select("doc_id", url_host(url).alias("host")).where(
        F.col("host").isNotNull()
    )
    return stratified_sample_n(t, "host", "doc_id", 12).orderBy(
        "host", "doc_id"
    )


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


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe (group-aware) train/val/test split: the split hash
    is taken over each row's near-dup CLUSTER ROOT (connected
    components of the embedding near-dup pairs), so near-duplicates
    can never straddle the train/test boundary. Certified: the oracle
    rebuilds the identical pairs + recursive-CTE closure, coalesces
    the root, and replays the md5 threshold CASE of q_split_assign."""
    from databricks_flight_etl_spark.operators.sampling import (
        leakage_safe_split,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    out = leakage_safe_split(
        emb.select("vec_id"), "vec_id", pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select("vec_id", "split").orderBy("vec_id")


def q_bpe_encode(spark, sf_dir):
    """REAL byte-pair encoding end-to-end (Sennrich et al. 2016):
    greedily train 8 merges on the corpus' distinct-word frequency
    table (weighted pair counts, count-desc/pair-asc tie-break —
    deterministic), then encode every document with the learned ranks
    (lowest-rank adjacent pair merges first — the GPT-2 encode loop)
    via an Arrow-batched kernel. Iterative training is not
    SQL-expressible → rows-only; the train+encode algebra is pinned
    exactly by unit test on the classic low/lower/newest corpus."""
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train_merges(
        docs.where(F.col("doc_id") < 200), "text", n_merges=8
    )
    enc = bpe_apply_merges(docs, "text", "doc_id", merges)
    return enc.select(
        "doc_id",
        F.size("units").alias("n_units"),
        F.array_join(F.slice("units", 1, 5), " ").alias("head_units"),
    ).orderBy("doc_id")


def _scored_docs(spark, sf_dir):
    """documents with a deterministic, ENGINE-PORTABLE (score, label):
    score = first-3-hex-of-md5(doc_id)/4096 — a binary fraction k/2^12,
    so sums of scores are IEEE-exact under any summation order (the
    float-sum-order trap the verify notes flag for double aggregates) —
    and label correlates with score through an independent md5 noise
    draw (AUC lands ≈ 0.75, away from both degenerate 0.5 and 1.0).
    The md5-hex idiom is the sampling family's (sampling.hash_bucket):
    md5 is md5 in every engine, so the oracle rebuilds the identical
    columns."""
    docs = _t(spark, sf_dir, "documents")
    return _score_label(docs, [])


def _score_label(docs, keep):
    si = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10
    ).cast("int")
    ni = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("lbl"), F.col("doc_id").cast("string"))),
            1, 3,
        ), 16, 10,
    ).cast("int")
    return docs.select(
        *keep,
        "doc_id",
        (si / F.lit(4096.0)).alias("score"),
        ((si + ni) >= 4096).cast("int").alias("label"),
    )


def _score_label_v2(docs, keep):
    """The CANDIDATE scoring run for drift queries: identical labels,
    and the baseline score everywhere EXCEPT fr/zh, where an
    independently-salted md5 draw replaces it — uncorrelated with the
    label by construction, so those slices' AUC collapses toward 0.5
    while every other slice's drift is exactly 0."""
    si = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10
    ).cast("int")
    vi = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("v2"), F.col("doc_id").cast("string"))),
            1, 3,
        ), 16, 10,
    ).cast("int")
    ni = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("lbl"), F.col("doc_id").cast("string"))),
            1, 3,
        ), 16, 10,
    ).cast("int")
    score = F.when(
        F.col("lang").isin("fr", "zh"), vi / F.lit(4096.0)
    ).otherwise(si / F.lit(4096.0))
    return docs.select(
        *keep,
        "doc_id",
        score.alias("score"),
        ((si + ni) >= 4096).cast("int").alias("label"),
    )


_SCORED_DOCS_SQL = """
    SELECT lang,
           doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                AS BIGINT) / 4096.0 AS score,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                          AS BIGINT)
                   + CAST('0x' || substr(md5('lbl' ||
                          CAST(doc_id AS VARCHAR)), 1, 3) AS BIGINT)
                   >= 4096
                THEN 1 ELSE 0 END AS label
    FROM documents
"""


def q_auc_roc(spark, sf_dir):
    """X12 model-eval: tie-aware AUC-ROC of a deterministic quality
    scorer against its correlated label, via the Mann-Whitney rank-sum
    over the shared bucketed prefix-sum (no unpartitioned rank window
    — the continuous-score regime that collapses naive rank plans onto
    one task). Integer 2U algebra end-to-end, so the DuckDB oracle
    replays the statistic exactly from its own window cumulative."""
    from databricks_flight_etl_spark.operators.model_eval import auc_roc

    return auc_roc(_scored_docs(spark, sf_dir), "score", "label")


def q_auc_roc_grouped(spark, sf_dir):
    """X12 model-eval: PER-LANGUAGE AUC-ROC (r12 verdict task #5) —
    the grouped variant of q_auc_roc; the realistic quality-filter
    validation is "did the classifier hold up on each
    domain/language slice". Same integer 2U rank-sum,
    but the histogram keys on (lang, score) and _hist_cumsum's native
    by= scopes the prefix-sum per language — two hash-aggs + the
    shared bucketed window, no per-group loop, group count unbounded."""
    from databricks_flight_etl_spark.operators.model_eval import auc_roc

    docs = _t(spark, sf_dir, "documents")
    return auc_roc(
        _score_label(docs, ["lang"]), "score", "label", by=["lang"]
    )


def q_auc_drift(spark, sf_dir):
    """X12 model-eval: per-language AUC DRIFT between two scoring runs
    (r13 verdict task #5) — the "did the new quality filter regress any
    language" release gate, the discrimination-statistic companion of
    q_psi_drift. The candidate run keeps the baseline scorer on most
    languages (delta exactly 0 — bit-certifiable no-regression) and
    swaps in an independently-salted, label-uncorrelated scorer on
    fr/zh (auc_cand ≈ 0.5 there — a planted regression). One union +
    ONE auc_roc pass with by=[lang, run] (single histogram, single
    scoped prefix-sum), then a bounded ≤2-rows-per-group pivot; both
    runs certified as two grouped-AUC window passes FULL-OUTER-joined
    in the oracle."""
    from databricks_flight_etl_spark.operators.model_eval import auc_drift

    docs = _t(spark, sf_dir, "documents")
    return auc_drift(
        _score_label(docs, ["lang"]),
        _score_label_v2(docs, ["lang"]),
        "score",
        "label",
        by=["lang"],
    )


def q_ece_drift(spark, sf_dir):
    """X12 model-eval: per-language EXPECTED-CALIBRATION-ERROR drift
    between the same two scoring runs as q_auc_drift — the calibration
    face of the release gate (a scorer can hold its AUC and still
    drift off-calibration on a slice, or vice versa). ECE in its sum
    form Σ_bins |Σlabel − Σscore| / N: every summand exact for the
    binary-fraction scores, so the whole table certifies
    cell-for-cell. One union + one bounded (lang, run, bin) hash-agg +
    a ≤ langs·2-row fold."""
    from databricks_flight_etl_spark.operators.model_eval import ece_drift

    docs = _t(spark, sf_dir, "documents")
    return ece_drift(
        _score_label(docs, ["lang"]),
        _score_label_v2(docs, ["lang"]),
        "score",
        "label",
        n_bins=10,
        by=["lang"],
    )


def q_calibration_grouped(spark, sf_dir):
    """X12 model-eval: PER-LANGUAGE 10-bin reliability table — the
    per-slice companion of q_calibration_bins (did the scorer stay
    calibrated on each language?). Still ONE hash-agg, keyed on
    (lang, bin): ≤ langs·n_bins output rows."""
    from databricks_flight_etl_spark.operators.model_eval import (
        calibration_bins,
    )

    docs = _t(spark, sf_dir, "documents")
    return calibration_bins(
        _score_label(docs, ["lang"]), "score", "label",
        n_bins=10, by=["lang"],
    )


def q_threshold_sweep_grouped(spark, sf_dir):
    """X12 model-eval: PER-LANGUAGE confusion/precision/recall/F1 at 3
    operating points in one corpus pass — the grouped variant of
    q_threshold_sweep, a slice-level operating-point table (≤ langs·3
    rows) from the same broadcast-explode hash-agg."""
    from databricks_flight_etl_spark.operators.model_eval import (
        confusion_sweep,
    )

    docs = _t(spark, sf_dir, "documents")
    return confusion_sweep(
        _score_label(docs, ["lang"]), "score", "label",
        [0.25, 0.5, 0.75], by=["lang"],
    )


def q_calibration_bins(spark, sf_dir):
    """X12 model-eval: 10-bin reliability table (n, mean_score,
    frac_pos, |gap| — the ECE summand) for the derived scorer. Scores
    are binary fractions k/2^12, so the double averages are exact
    under any partitioning/sum order — certifiable cell-for-cell."""
    from databricks_flight_etl_spark.operators.model_eval import (
        calibration_bins,
    )

    return calibration_bins(
        _scored_docs(spark, sf_dir), "score", "label", n_bins=10
    )


def q_threshold_sweep(spark, sf_dir):
    """X12 model-eval: confusion counts + precision/recall/F1 at 5
    operating points in ONE corpus pass (thresholds ride as a
    broadcast literal explode — one ≤5-group hash-agg, not 5 scans).
    Thresholds are binary fractions; counts are integers; the ratio
    columns are single rounded divisions of exact integers."""
    from databricks_flight_etl_spark.operators.model_eval import (
        confusion_sweep,
    )

    return confusion_sweep(
        _scored_docs(spark, sf_dir), "score", "label",
        [0.25, 0.5, 0.625, 0.75, 0.875],
    )


# The driver's correctness gate evaluates only the first DRIVER_WINDOW
# insertion-order queries() keys. Single source of truth — tools
# (check_oracle.py) and the registry comments below derive from it.
DRIVER_WINDOW = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate may evaluate only the
    # first DRIVER_WINDOW entries, so the window is curated (round-1
    # lesson): positions 1-DRIVER_WINDOW are all oracle-certified and
    # cover every SURVEY §2 reference-parity row plus at least one query
    # per extension family X1-X7 (+ streaming). Rows-only (no_oracle)
    # queries come last.
    return {
        # -- reference parity: scans/projections/filters (S·P·O) -------
        "q_scan_project": q_scan_project,
        "q_filter_range": q_filter_range,
        "q_topk": q_topk,
        # -- completeness / uniqueness / accuracy (Q1·Q4·Q2, A·P) ------
        "q_nonnull_counts": q_nonnull_counts,
        "q_null_profile": q_null_profile,
        "q_drop_allnull_cols": q_drop_allnull_cols,
        "q_groupby_count": q_groupby_count,
        "q_dup_full": q_dup_full,
        "q_dropduplicates": q_dropduplicates,
        "q_compound_key_dups": q_compound_key_dups,
        "q_summary_stats": q_summary_stats,
        "q_histogram": q_histogram,
        # -- timeliness / derive / validity (Q6·Q7·Q5, J·F·G) ----------
        "q_minmax_dates": q_minmax_dates,
        "q_events_per_day": q_events_per_day,
        "q_missing_days": q_missing_days,
        "q_derive_timestamp": q_derive_timestamp,
        "q_validity_checks": q_validity_checks,
        "q_union_all": q_union_all,
        # -- sinks + SQL surface (S6·S8·G4, Q3 freq) -------------------
        "q_parquet_roundtrip": q_parquet_roundtrip,
        "q_sql_surface": q_sql_surface,
        # -- ROUND-14 WINDOW (r13 verdict task #1): positions 21-50.
        # -- The certification program is complete (every oracle-bearing
        # -- query driver-windowed at least once, r13); from here the
        # -- rotation (a) windows newly registered oracle-bearing
        # -- queries first — this round the 3 r13-registered per-group
        # -- model-eval queries — and (b) re-certifies the
        # -- OLDEST-vintage entries (latest-windowed round, computed
        # -- from the union of CORRECTNESS_r01..r13: 2 from r04, 8 from
        # -- r05, 6 from r06, then the r07 cohort alphabetically — the
        # -- 11 that fit; the remaining 19 r07-vintage queries lead the
        # -- r15 refresh). Rows-only-by-design queries are excluded per
        # -- the registry note below. The r13 window members are
        # -- driver-certified and move below the marker. ----------------
        # -- newly registered (r13): X12 per-group model-eval -----------
        "q_auc_roc_grouped": q_auc_roc_grouped,
        "q_calibration_grouped": q_calibration_grouped,
        "q_threshold_sweep_grouped": q_threshold_sweep_grouped,
        # -- oldest vintage: r04 re-certifications ----------------------
        "q_tfidf": q_tfidf,
        "q_triangle_counts": q_triangle_counts,
        # -- r05 re-certifications ---------------------------------------
        "q_association_pairs": q_association_pairs,
        "q_bpe_merges": q_bpe_merges,
        "q_diff_cells": q_diff_cells,
        "q_grouped_corr": q_grouped_corr,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_period_over_period": q_period_over_period,
        "q_quality_signals": q_quality_signals,
        "q_transition_matrix": q_transition_matrix,
        # -- r06 re-certifications -----------------------------------------
        "q_hamming_near_dup": q_hamming_near_dup,
        "q_leakage_safe_split": q_leakage_safe_split,
        "q_line_dedup": q_line_dedup,
        "q_mad_grouped": q_mad_grouped,
        "q_ohlc_bars": q_ohlc_bars,
        "q_repetition_signals": q_repetition_signals,
        # -- r07 re-certifications (first 11 alphabetically) ----------------
        "q_chunk_documents": q_chunk_documents,
        "q_contamination": q_contamination,
        "q_corpus_release": q_corpus_release,
        "q_cosine_topk": q_cosine_topk,
        "q_decode_features": q_decode_features,
        "q_dedup_clusters": q_dedup_clusters,
        "q_dedup_exact": q_dedup_exact,
        "q_deterministic_sample": q_deterministic_sample,
        "q_domain_caps": q_domain_caps,
        "q_join_inner": q_join_inner,
        "q_join_outer": q_join_outer,
        # == position DRIVER_WINDOW (50) ends here — everything below ==
        # == is certified locally but outside the driver's window ======
        # CERTIFICATION PROGRAM COMPLETE (r13) — with the round-13
        # rotation above, EVERY oracle-bearing registered query has
        # been driver-windowed at least once (union of
        # CORRECTNESS_r01..r13). The only never-windowed queries are
        # the 15 rows-only ones, 8 of them rows-only BY DESIGN:
        #   q_quantile_sketch q_semantic_dedup q_phash_near_dup
        #   q_ann_ivf q_winnow q_embed_dup_lsh q_jl_project_wide
        #   q_bpe_encode — hash-seeded sketch internals / approximate
        #   indexes whose cell values are legitimately
        #   engine-specific. They are NEVER windowable as value-hash
        #   rows; windowing them buys only a rows-count check and
        #   burns a slot. Each has a bit-certified exact twin ALREADY
        #   driver-green: q_quantile_sketch_exact,
        #   q_semantic_dedup_exact, q_decode_features_arrow (pHash),
        #   q_ann_ivf_exhaustive, q_winnow_certified,
        #   q_embed_dup_int8, q_jl_project, and for q_bpe_encode the
        #   certified q_bpe_merges pair statistic + the train/encode
        #   equality unit tests (iterative training is not
        #   SQL-expressible). The other 7 (q_approx_distinct,
        #   q_minhash_pairs, q_simhash_pairs, q_ann_lsh,
        #   q_ann_lsh_multiprobe, q_ann_ivf_batch,
        #   q_textprep_pipeline) likewise have driver-green exact
        #   twins (q_count_distinct, q_minhash_certified,
        #   q_simhash_certified, q_ann_lsh_exhaustive,
        #   q_cosine_topk_pandas, q_ann_ivf_exhaustive,
        #   q_textprep_exact/q_textprep_full_certified).
        # FROM r15 ON: rotate positions 21-50 to refresh the
        # oldest-vintage certifications (next up: the 19 remaining
        # r07-vintage queries alphabetically from q_ks_drift, then the
        # r08 cohort) and to window any newly registered oracle-bearing
        # queries first (any registered during r14 lead the r15 list).
        # -- NEW round 14: X12 per-slice drift gates (r15 window leads) -
        "q_auc_drift": q_auc_drift,
        "q_ece_drift": q_ece_drift,
        # -- rotated out after driver certification (r13 window) --------
        "q_streaming_interval_join": q_streaming_interval_join,
        "q_streaming_quantile_sketch": q_streaming_quantile_sketch,
        "q_auc_roc": q_auc_roc,
        "q_calibration_bins": q_calibration_bins,
        "q_threshold_sweep": q_threshold_sweep,
        "q_cube": q_cube,
        "q_grouping_sets": q_grouping_sets,
        "q_join_anti": q_join_anti,
        "q_join_multiway": q_join_multiway,
        "q_join_semi": q_join_semi,
        "q_set_ops": q_set_ops,
        "q_count_distinct": q_count_distinct,
        "q_fingerprint": q_fingerprint,
        "q_json_extract": q_json_extract,
        "q_moving_avg": q_moving_avg,
        "q_pivot": q_pivot,
        "q_rollup": q_rollup,
        "q_sessionize": q_sessionize,
        "q_tpch_q1": q_tpch_q1,
        "q_window_topk_per_group": q_window_topk_per_group,
        "q_zscore_grouped": q_zscore_grouped,
        "q_bm25": q_bm25,
        "q_dedup_survivors": q_dedup_survivors,
        "q_embed_dup": q_embed_dup,
        "q_token_count_bpe": q_token_count_bpe,
        "q_value_freq_capped": q_value_freq_capped,
        "q_interpolate_gaps": q_interpolate_gaps,
        "q_k_anonymize": q_k_anonymize,
        "q_quantile_sketch_merge": q_quantile_sketch_merge,
        "q_semantic_dedup_2level": q_semantic_dedup_2level,
        # -- rotated out after driver certification (r11 window) -------
        # -- X5 TPC-H deferred shapes ----------------------------------
        "q_tpch_q16_shape": q_tpch_q16_shape,
        "q_tpch_q20_shape": q_tpch_q20_shape,
        "q_tpch_q21_shape": q_tpch_q21_shape,
        "q_tpch_q22_shape": q_tpch_q22_shape,
        # -- drift / robust-stats battery -------------------------------
        "q_ab_welch": q_ab_welch,
        "q_chi_square": q_chi_square,
        "q_spearman": q_spearman,
        "q_benford": q_benford,
        "q_trimmed_mean": q_trimmed_mean,
        "q_linear_trend": q_linear_trend,
        "q_concentration": q_concentration,
        "q_winsorized_mean": q_winsorized_mean,
        "q_null_drift": q_null_drift,
        "q_dataset_card": q_dataset_card,
        # -- warehouse / layout slice ------------------------------------
        "q_partitioned_scan": q_partitioned_scan,
        "q_schema_evolution": q_schema_evolution,
        "q_sql_ddl": q_sql_ddl,
        "q_zorder": q_zorder,
        "q_table_checksum": q_table_checksum,
        "q_diff_tables": q_diff_tables,
        "q_orc_roundtrip": q_orc_roundtrip,
        "q_xml_roundtrip": q_xml_roundtrip,
        # -- sampling / embedding slice ----------------------------------
        "q_split_assign": q_split_assign,
        "q_epoch_shuffle": q_epoch_shuffle,
        "q_sample_n": q_sample_n,
        "q_weighted_sample": q_weighted_sample,
        "q_stratified_sample": q_stratified_sample,
        "q_quantize_int8": q_quantize_int8,
        "q_centroid_outliers": q_centroid_outliers,
        "q_jl_project": q_jl_project,
        # -- rotated out after driver certification (r10 window) -------
        # -- X1 dedup: bounded clusters + precomputed stop list --------
        "q_minhash_clusters": q_minhash_clusters,
        "q_minhash_stops_supplied": q_minhash_stops_supplied,
        # -- X5 TPC-H remainder ----------------------------------------
        "q_tpch_q4": q_tpch_q4,
        "q_tpch_q7": q_tpch_q7,
        "q_tpch_q8": q_tpch_q8,
        "q_tpch_q13": q_tpch_q13,
        "q_tpch_q15": q_tpch_q15,
        "q_tpch_q17": q_tpch_q17,
        "q_tpch_q19": q_tpch_q19,
        "q_tpch_q2_shape": q_tpch_q2_shape,
        "q_tpch_q9_shape": q_tpch_q9_shape,
        "q_tpch_q11_shape": q_tpch_q11_shape,
        "q_tpch_q12_shape": q_tpch_q12_shape,
        # -- function / window batteries -------------------------------
        "q_window_battery": q_window_battery,
        "q_agg_filter": q_agg_filter,
        "q_string_agg": q_string_agg,
        "q_scalar_subquery_select": q_scalar_subquery_select,
        "q_conditional_funcs": q_conditional_funcs,
        "q_posexplode_sequence": q_posexplode_sequence,
        "q_try_arith": q_try_arith,
        "q_bitwise": q_bitwise,
        "q_range_frame": q_range_frame,
        "q_event_gaps": q_event_gaps,
        # -- sketch / similarity slice ---------------------------------
        "q_hll_rollup": q_hll_rollup,
        "q_cms_sketch": q_cms_sketch,
        "q_vector_mean": q_vector_mean,
        "q_cosine_topk_batch": q_cosine_topk_batch,
        "q_heavy_hitters": q_heavy_hitters,
        "q_grouped_quantiles": q_grouped_quantiles,
        "q_array_funcs": q_array_funcs,
        # -- rotated out after driver certification (r9 window) --------
        # -- X1 stop-shingle suite (round-8 scale finding) -------------
        "q_minhash_stopshingle": q_minhash_stopshingle,
        "q_simhash_stopshingle": q_simhash_stopshingle,
        "q_shingle_profile": q_shingle_profile,
        "q_minhash_stopshingle_frac": q_minhash_stopshingle_frac,
        # -- X5 TPC-H shapes -------------------------------------------
        "q_tpch_q5": q_tpch_q5,
        "q_tpch_q6": q_tpch_q6,
        "q_tpch_q10": q_tpch_q10,
        "q_tpch_q14": q_tpch_q14,
        "q_tpch_q18": q_tpch_q18,
        # -- join strategies / temporal joins --------------------------
        "q_asof_join": q_asof_join,
        "q_range_join_time": q_range_join_time,
        "q_salted_join": q_salted_join,
        "q_null_safe_join": q_null_safe_join,
        "q_bucketed_join": q_bucketed_join,
        # -- exact quantiles / robust stats ----------------------------
        "q_quantiles": q_quantiles,
        "q_quantiles_exact": q_quantiles_exact,
        "q_median_group": q_median_group,
        "q_stat_aggs": q_stat_aggs,
        "q_corr_matrix": q_corr_matrix,
        "q_skew_report": q_skew_report,
        "q_rank_normalize": q_rank_normalize,
        # -- scalar function batteries ---------------------------------
        "q_window_funcs": q_window_funcs,
        "q_string_funcs": q_string_funcs,
        "q_date_funcs": q_date_funcs,
        "q_map_funcs": q_map_funcs,
        "q_struct_funcs": q_struct_funcs,
        "q_regexp_funcs": q_regexp_funcs,
        "q_unpivot": q_unpivot,
        # -- temporal rollups / sketch-per-day -------------------------
        "q_time_bucket_rollup": q_time_bucket_rollup,
        "q_hll_per_day": q_hll_per_day,
        # -- rotated out after driver certification (r8 window) --------
        # -- r8 additions, driver-certified r8 -------------------------
        "q_vocab_curve_full": q_vocab_curve_full,
        "q_corpus_release_domains": q_corpus_release_domains,
        # -- X5 relational / CDC (incl. verdict-named families) ---------
        "q_scd2_history": q_scd2_history,
        "q_fuzzy_join": q_fuzzy_join,
        "q_cube_counts": q_cube_counts,
        "q_event_funnel": q_event_funnel,
        # -- X1 dedup ---------------------------------------------------
        "q_minhash_incremental": q_minhash_incremental,
        "q_dedup_survivors_by": q_dedup_survivors_by,
        "q_incremental_dedup": q_incremental_dedup,
        # -- X2 similarity / embeddings ---------------------------------
        "q_semantic_dedup_exact": q_semantic_dedup_exact,
        "q_embed_dup_int8": q_embed_dup_int8,
        # -- X3 multimodal ----------------------------------------------
        "q_decode_features_arrow": q_decode_features_arrow,
        "q_binary_file_source": q_binary_file_source,
        # -- X4 text analysis -------------------------------------------
        "q_boilerplate": q_boilerplate,
        "q_lm_score": q_lm_score,
        "q_token_budget_sample": q_token_budget_sample,
        # -- X6 sampling / privacy --------------------------------------
        "q_stratified_sample_n": q_stratified_sample_n,
        "q_k_anonymity": q_k_anonymity,
        # -- X5 CDC / latest-per-key / TPC-H shape ----------------------
        "q_merge_upsert": q_merge_upsert,
        "q_latest_per_key": q_latest_per_key,
        "q_tpch_q3": q_tpch_q3,
        # -- streaming --------------------------------------------------
        "q_streaming_dedup": q_streaming_dedup,
        "q_streaming_sessionize": q_streaming_sessionize,
        "q_streaming_enrich": q_streaming_enrich,
        # -- mergeable sketches -----------------------------------------
        "q_cms_merge": q_cms_merge,
        "q_hll_merge": q_hll_merge,
        "q_bloom_semi_join": q_bloom_semi_join,
        # -- drift / temporal -------------------------------------------
        "q_psi_drift": q_psi_drift,
        "q_cohort_retention": q_cohort_retention,
        "q_sequence_gaps": q_sequence_gaps,
        # -- rotated out after driver certification (r7 window) ---------
        "q_ks_drift": q_ks_drift,
        "q_ks_drift_grouped": q_ks_drift_grouped,
        "q_ks_drift_report": q_ks_drift_report,
        "q_linear_scorer": q_linear_scorer,
        "q_streaming_drift": q_streaming_drift,
        "q_strip_html": q_strip_html,
        "q_streaming_heavy_hitters": q_streaming_heavy_hitters,
        "q_token_counts": q_token_counts,
        "q_text_quality": q_text_quality,
        "q_lang_id": q_lang_id,
        "q_minhash_certified": q_minhash_certified,
        "q_simhash_certified": q_simhash_certified,
        "q_multimodal_meta": q_multimodal_meta,
        "q_pii_redact": q_pii_redact,
        "q_winnow_certified": q_winnow_certified,
        "q_pack_shards": q_pack_shards,
        "q_textprep_exact": q_textprep_exact,
        "q_textprep_full_certified": q_textprep_full_certified,
        "q_streaming_day_counts": q_streaming_day_counts,
        # -- rotated out after driver certification (r12 window) --------
        "q_pagerank": q_pagerank,
        "q_dedup_clusters_star": q_dedup_clusters_star,
        "q_simhash_stops_supplied": q_simhash_stops_supplied,
        "q_containment_join": q_containment_join,
        "q_set_similarity_join": q_set_similarity_join,
        "q_join_probe": q_join_probe,
        "q_asof_join_cogroup": q_asof_join_cogroup,
        "q_outliers_iqr": q_outliers_iqr,
        "q_fill_forward": q_fill_forward,
        "q_cluster_sizes": q_cluster_sizes,
        "q_hll_registers": q_hll_registers,
        "q_bloom_bitmap": q_bloom_bitmap,
        "q_quantile_sketch_exact": q_quantile_sketch_exact,
        "q_quantile_sketch_grouped": q_quantile_sketch_grouped,
        "q_hist_equidepth": q_hist_equidepth,
        "q_cms_join_size": q_cms_join_size,
        "q_span_dedup": q_span_dedup,
        "q_vocab_coverage": q_vocab_coverage,
        "q_udtf_sentences": q_udtf_sentences,
        "q_resample_mix": q_resample_mix,
        "q_fd_violations": q_fd_violations,
        "q_l_diversity": q_l_diversity,
        "q_winsorize": q_winsorize,
        "q_grouped_outliers": q_grouped_outliers,
        "q_trailing_range_agg": q_trailing_range_agg,
        "q_ann_ivf_exhaustive": q_ann_ivf_exhaustive,
        "q_ann_lsh_exhaustive": q_ann_lsh_exhaustive,
        "q_cosine_topk_pandas": q_cosine_topk_pandas,
        "q_streaming_minhash": q_streaming_minhash,
        "q_streaming_hll": q_streaming_hll,
        # -- rows-only (no SQL-expressible oracle; weaker driver check) -
        "q_quantile_sketch": q_quantile_sketch,
        "q_semantic_dedup": q_semantic_dedup,
        "q_approx_distinct": q_approx_distinct,
        "q_minhash_pairs": q_minhash_pairs,
        "q_phash_near_dup": q_phash_near_dup,
        "q_simhash_pairs": q_simhash_pairs,
        "q_ann_lsh": q_ann_lsh,
        "q_ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "q_ann_ivf": q_ann_ivf,
        "q_ann_ivf_batch": q_ann_ivf_batch,
        "q_textprep_pipeline": q_textprep_pipeline,
        "q_winnow": q_winnow,
        "q_embed_dup_lsh": q_embed_dup_lsh,
        "q_jl_project_wide": q_jl_project_wide,
        "q_bpe_encode": q_bpe_encode,
    }


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


def _jl_project_sql() -> str:
    """The 64→16 ±1-sign JL projection as one UNION ALL per output
    coordinate — the SAME Python sign derivation the Spark operator
    bakes into its expression, same left-assoc add order."""
    from databricks_flight_etl_spark.operators.similarity import _jl_signs

    signs = _jl_signs(64, 16)
    parts = []
    for j, row in enumerate(signs):
        terms = "".join(
            (" + " if s > 0 else " - ") + f"v[{i + 1}]"
            for i, s in enumerate(row)
        )
        # leading " + " folds into a unary no-op; " - v[1]" negates
        expr = terms[3:] if terms.startswith(" + ") else terms.lstrip()
        parts.append(
            f"SELECT vec_id, {j} AS j, "
            f"round(({expr}) * CAST(0.25 AS DOUBLE), 6) AS value FROM e"
        )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings) "
        + " UNION ALL ".join(parts)
        + " ORDER BY vec_id, j"
    )


def oracle_sql() -> dict[str, str]:
    en_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    d = {
        "q_scan_project": """
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   strftime(l_shipdate, '%Y-%m-%d') AS ship_day
            FROM lineitem
            WHERE l_quantity >= 10 AND l_quantity <= 20
        """,
        "q_filter_range": """
            SELECT event_id, value FROM events
            WHERE value >= 10 AND value <= 100 AND event_type = 'click'
        """,
        "q_topk": """
            SELECT event_id, value, event_type FROM events
            ORDER BY value DESC, event_id ASC LIMIT 5
        """,
        # CAST ... AS BIGINT on every integer sum: DuckDB integer sum()
        # returns HUGEINT, which pandas materializes as float64 and the
        # driver's value hash flags (5.0 vs 5) even when values agree.
        "q_nonnull_counts": """
            SELECT """ + ", ".join(
            f"CAST(sum(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}_nn"
            for c in _LINEITEM_COLS
        ) + """ FROM lineitem
        """,
        "q_null_profile": f"""
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
        """,
        "q_drop_allnull_cols": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                   value, props
            FROM events
        """,
        "q_groupby_count": """
            SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1
        """,
        "q_dup_full": f"""
            SELECT event_id, ts_us, user_id, event_type, value, props,
                   count(*) AS n
            FROM ({_EVENTS_DUP_SQL})
            GROUP BY ALL HAVING count(*) > 1
        """,
        "q_dropduplicates": f"""
            SELECT DISTINCT event_id, ts_us, user_id, event_type, value, props
            FROM ({_EVENTS_DUP_SQL})
        """,
        "q_compound_key_dups": """
            SELECT user_id, event_type,
                   epoch_ms(date_trunc('minute', ts)) AS minute_ms,
                   count(*) AS n
            FROM events
            GROUP BY 1, 2, 3 HAVING count(*) > 1
        """,
        "q_summary_stats": """
            SELECT """ + ", ".join(
            f"count({c}) AS {c}_count, "
            f"CAST(sum(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) / count({c}) AS {c}_avg, "
            f"round(stddev_samp({c}), 4) AS {c}_std, "
            f"min({c}) AS {c}_min, max({c}) AS {c}_max"
            for c in ["l_quantity", "l_extendedprice", "l_discount"]
        ) + """ FROM lineitem
        """,
        "q_histogram": """
            WITH s AS (SELECT min(l_extendedprice) AS mn,
                              max(l_extendedprice) AS mx FROM lineitem)
            SELECT CASE WHEN mx = mn THEN 0
                        ELSE CAST(least(floor((l_extendedprice - mn) * 20 / (mx - mn)), 19) AS INT)
                   END AS bucket,
                   count(*) AS n
            FROM lineitem, s
            GROUP BY 1
        """,
        "q_minmax_dates": """
            SELECT strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS min_day,
                   strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS max_day
            FROM events
        """,
        "q_events_per_day": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "q_missing_days": """
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
        """,
        "q_derive_timestamp": """
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
        """,
        "q_validity_checks": """
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
        """,
        "q_union_all": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   o_orderpriority, 'even' AS src
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   o_orderpriority, 'odd' AS src
            FROM orders WHERE o_orderkey % 2 = 1
        """,
        "q_join_inner": """
            SELECT o_orderpriority, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "q_window_topk_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS INT) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "q_token_counts": """
            SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) WHERE token <> ''
            GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20
        """,
        "q_text_quality": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(list_sum(list_transform(toks, x -> length(x)))
                         / len(toks), 6) AS avg_token_len,
                   round(len(list_filter(toks, x -> x IN ({en_list})))
                         / len(toks), 6) AS stopword_ratio
            FROM t
        """,
        "q_lang_id": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS s_en,
                  len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','los','por','con','del'))) AS s_es,
                  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','im','ein'))) AS s_de,
                  len(list_filter(toks, x -> x IN ('le','la','de','et','est','les','un','une','dans','pour'))) AS s_fr
                FROM t
            )
            SELECT doc_id, s_en, s_es, s_de, s_fr,
                   CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS lang_guess
            FROM s
        """,
        "q_null_safe_join": """
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
        """,
        "q_regexp_funcs": """
            SELECT doc_id,
                   regexp_extract(text, '([a-z]+)', 1) AS first_word,
                   CAST(regexp_matches(text, 'ipsum') AS INT) AS has_ipsum,
                   CAST(len(regexp_extract_all(text, 'or')) AS INT) AS n_or,
                   split_part(text, ' ', 2) AS second_token,
                   length(regexp_replace(text, '[aeiou]', '', 'g'))
                       AS len_novowels
            FROM documents
        """,
        "q_range_frame": """
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
        """,
        "q_textprep_exact": """
            WITH toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM documents
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, t -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], t))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, t -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], t))) AS s_en,
                       len(list_filter(tk, t -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], t))) AS s_es,
                       len(list_filter(tk, t -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], t))) AS s_de,
                       len(list_filter(tk, t -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], t))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text, n_tokens FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, n_tokens FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            )
            SELECT doc_id,
                   greatest(CAST(ceil((n_tokens - 16) / 48.0) AS BIGINT),
                            1) AS n_chunks
            FROM uniq ORDER BY doc_id
        """,
        # Winnowing replay: ordered 8-gram md5 hashes over normalized
        # text, min of each 4-wide sliding window, distinct (id, fp).
        "q_winnow_certified": """
            WITH norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       CASE WHEN length(t) >= 8
                           THEN list_transform(range(1, length(t) - 6),
                                i -> CAST('0x' || substring(
                                    md5(substring(t, CAST(i AS INT), 8)),
                                    1, 15) AS BIGINT))
                           ELSE [CAST('0x' || substring(md5(t), 1, 15)
                                 AS BIGINT)] END AS hs
                FROM norm
            ),
            w AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(hs) - 3, 1) + 1),
                           i -> list_min(list_slice(hs, CAST(i AS INT),
                                                    CAST(i + 3 AS INT)))
                       )) AS fp
                FROM g
            )
            SELECT DISTINCT doc_id, fp FROM w
        """,
        # Full SimHash replay: md5 base hash → per-bit majorities over
        # each doc's distinct shingles → packed 60-bit signature → 7
        # pigeonhole chunks (width 9) → candidate equi-join → Hamming
        # ≤ 6 via bit_count(xor).
        "q_simhash_certified": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM base
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN length(t) >= 7
                           THEN list_transform(range(1, length(t) - 5),
                                i -> substring(t, CAST(i AS INT), 7))
                           ELSE [t] END)) AS s
                FROM norm
            ),
            bh AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
                FROM sh
            ),
            counts AS (SELECT doc_id, count(*) AS n FROM bh GROUP BY 1),
            bits AS (
                SELECT doc_id, r.bit,
                       CAST(sum((h >> CAST(r.bit AS INT)) & 1) AS BIGINT)
                           AS ones
                FROM bh, (SELECT unnest(range(0, 60)) AS bit) r
                GROUP BY 1, 2
            ),
            sig AS (
                SELECT b.doc_id,
                       CAST(sum(CASE WHEN 2 * b.ones >= c.n
                                THEN (CAST(1 AS BIGINT) << CAST(b.bit AS INT))
                                ELSE 0 END) AS BIGINT) AS simhash
                FROM bits b JOIN counts c ON b.doc_id = c.doc_id
                GROUP BY 1
            ),
            chunked AS (
                SELECT doc_id, simhash, i.ci,
                       (simhash >> CAST(i.ci * 9 AS INT)) & 511 AS cv
                FROM sig, (SELECT unnest(range(0, 7)) AS ci) i
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                       x.simhash AS sa, y.simhash AS sb
                FROM chunked x JOIN chunked y
                  ON x.ci = y.ci AND x.cv = y.cv
                WHERE x.doc_id < y.doc_id
            )
            SELECT id_a, id_b,
                   CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(sa, sb)) <= 6
        """,
        # The streaming candidate detector must emit exactly the
        # band-collision cross pairs the full md5-family replay finds.
        "q_streaming_minhash": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM base
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN length(t) >= 7
                           THEN list_transform(range(1, length(t) - 5),
                                i -> substring(t, CAST(i AS INT), 7))
                           ELSE [t] END)) AS s
                FROM norm
            ),
            bh AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
                FROM sh
            ),
            perms(j, a, b) AS (VALUES """ + _minhash_perm_values() + """),
            sig AS (
                SELECT doc_id, j,
                       min((a * (((h % 2147483647) + 2147483647)
                                 % 2147483647) + b)
                           % 2147483647) AS mh
                FROM bh, perms
                GROUP BY 1, 2
            ),
            band AS (
                SELECT doc_id, j // 8 AS band,
                       CAST('0x' || substring(md5(
                           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)
                           || '|' || CAST(j // 8 AS VARCHAR)), 1, 15)
                           AS BIGINT) AS bhsh
                FROM sig GROUP BY doc_id, j // 8
            )
            SELECT DISTINCT y.doc_id AS new_id, x.doc_id AS corpus_id
            FROM band x JOIN band y
              ON x.band = y.band AND x.bhsh = y.bhsh
            WHERE x.doc_id < 200000 AND y.doc_id >= 200000
            ORDER BY new_id, corpus_id
        """,
        # Same full MinHash replay as q_minhash_certified, with the
        # candidate set restricted to (corpus, increment) CROSS pairs —
        # the incremental probe must equal that subset bit-for-bit.
        "q_minhash_incremental": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM base
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN length(t) >= 7
                           THEN list_transform(range(1, length(t) - 5),
                                i -> substring(t, CAST(i AS INT), 7))
                           ELSE [t] END)) AS s
                FROM norm
            ),
            bh AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
                FROM sh
            ),
            perms(j, a, b) AS (VALUES """ + _minhash_perm_values() + """),
            sig AS (
                SELECT doc_id, j,
                       min((a * (((h % 2147483647) + 2147483647)
                                 % 2147483647) + b)
                           % 2147483647) AS mh
                FROM bh, perms
                GROUP BY 1, 2
            ),
            band AS (
                SELECT doc_id, j // 8 AS band,
                       CAST('0x' || substring(md5(
                           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)
                           || '|' || CAST(j // 8 AS VARCHAR)), 1, 15)
                           AS BIGINT) AS bhsh
                FROM sig GROUP BY doc_id, j // 8
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bhsh = y.bhsh
                WHERE x.doc_id < 200000 AND y.doc_id >= 200000
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
                SELECT c.id_a, c.id_b, count(*) AS shared
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
                GROUP BY 1, 2
            )
            SELECT i.id_b AS new_id, i.id_a AS corpus_id,
                   round(shared * 1.0 / (sa.sz + sb.sz - shared), 6)
                       AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8
            ORDER BY new_id, corpus_id
        """,
        # Full MinHash+LSH replay: md5 base hash (15 hex → 60-bit long),
        # the same 32 splitmix64 affine permutations under 64-bit signed
        # wrap (HUGEINT mod + sign fold), 4 banded md5 bucket hashes,
        # candidate self-join, exact-Jaccard verify on 7-char shingles.
        "q_minhash_certified": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM base
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN length(t) >= 7
                           THEN list_transform(range(1, length(t) - 5),
                                i -> substring(t, CAST(i AS INT), 7))
                           ELSE [t] END)) AS s
                FROM norm
            ),
            bh AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
                FROM sh
            ),
            perms(j, a, b) AS (VALUES """ + _minhash_perm_values() + """),
            sig AS (
                SELECT doc_id, j,
                       min((a * (((h % 2147483647) + 2147483647)
                                 % 2147483647) + b)
                           % 2147483647) AS mh
                FROM bh, perms
                GROUP BY 1, 2
            ),
            band AS (
                SELECT doc_id, j // 8 AS band,
                       CAST('0x' || substring(md5(
                           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)
                           || '|' || CAST(j // 8 AS VARCHAR)), 1, 15)
                           AS BIGINT) AS bhsh
                FROM sig GROUP BY doc_id, j // 8
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bhsh = y.bhsh
                WHERE x.doc_id < y.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
                SELECT c.id_a, c.id_b, count(*) AS shared
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
                GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b,
                   round(shared * 1.0 / (sa.sz + sb.sz - shared), 6)
                       AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8
        """,
        # Mergeability: merge(sketch(evens), sketch(odds)) must equal
        # one whole-corpus grid — which is exactly what this builds.
        "q_cms_merge": """
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
        """,
        # Identical CMS rebuild: same md5 hash family, same grid, min
        # over each probe term's 3 cells (0 when a cell is empty).
        "q_cms_sketch": """
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
        """,
        # HLL registers rebuilt bit-for-bit: 60-bit md5 hash, top 10
        # bits pick the bucket, rho = leading zeros of the low 50 bits
        # + 1 via integer bin()-length (no floating log2 anywhere).
        "q_hll_registers": """
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
        """,
        # Merge certification: the oracle builds the WHOLE-corpus
        # register table directly; the engine merged two half sketches.
        "q_hll_merge": """
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
        """,
        # Bloom bitmap rebuilt bit-for-bit: k=5 md5-salted positions
        # over 256 62-bit words, word-wise bit_or of the set bits.
        "q_bloom_bitmap": """
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
        """,
        # BRUTE-FORCE asymmetric containment — equality proves the
        # one-sided prefix filter lossless.
        "q_containment_join": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000,
                       text || ' near duplicate tail'
                FROM documents WHERE doc_id % 100 = 0
            ),
            capped AS (
                SELECT * FROM base WHERE doc_id % 200000 < 800
            ),
            sets AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           string_split(lower(text), ' '),
                           x -> x <> '')) AS s
                FROM capped
            ),
            nonempty AS (SELECT * FROM sets WHERE len(s) > 0),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(a.s) AS c
                FROM nonempty a JOIN nonempty b
                  ON a.doc_id <> b.doc_id
            )
            SELECT id_a, count(*) AS n_containers
            FROM pairs WHERE c >= 0.98
            GROUP BY id_a ORDER BY id_a
        """,
        # Same per-group quartiles (histogram rank rule) + fences.
        "q_grouped_outliers": """
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
        """,
        # Same RANGE frame over epoch seconds.
        "q_trailing_range_agg": """
            SELECT user_id, ts,
                   count(*) OVER w AS n_window,
                   round(sum(value) OVER w, 6) AS sum_window,
                   round(avg(value) OVER w, 6) AS avg_window
            FROM events WHERE user_id < 15
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch(ts)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, ts, n_window
        """,
        # BRUTE-FORCE all-pairs Jaccard — equality with the engine's
        # prefix-filtered join proves the filter lossless.
        "q_set_similarity_join": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000,
                       text || ' near duplicate tail'
                FROM documents WHERE doc_id % 100 = 0
            ),
            capped AS (
                SELECT * FROM base WHERE doc_id % 200000 < 800
            ),
            sets AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           string_split(lower(text), ' '),
                           x -> x <> '')) AS s
                FROM capped
            ),
            nonempty AS (SELECT * FROM sets WHERE len(s) > 0),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / (len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s))) AS j
                FROM nonempty a JOIN nonempty b
                  ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, round(j, 6) AS jaccard
            FROM pairs WHERE j >= 0.97
            ORDER BY id_a, id_b
        """,
        # Same two null profiles joined on column name.
        "q_null_drift": """
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
        """,
        # Same melt -> (column, value) counts -> stats; ties toward
        # the smaller string.
        "q_dataset_card": """
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
        """,
        # Same bigram/unigram counts, same mean ln(c12/c1) (the
        # trained-on-self model makes the backoff branch unreachable).
        "q_lm_score": """
            WITH base AS (
                SELECT doc_id AS id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS t
                FROM documents
            ),
            docs2 AS (SELECT id, t FROM base WHERE len(t) >= 2),
            bigrams AS (
                SELECT id, t[i] AS w1, t[i + 1] AS w2
                FROM docs2, unnest(range(1, len(t))) AS u(i)
            ),
            uni AS (
                SELECT w, count(*) AS cw FROM (
                    SELECT unnest(t) AS w FROM docs2
                ) GROUP BY w
            ),
            bg AS (
                SELECT w1, w2, count(*) AS cbg FROM bigrams
                GROUP BY w1, w2
            )
            SELECT b.id,
                   count(*) AS n_bigrams,
                   round(avg(ln(CAST(g.cbg AS DOUBLE) / u1.cw)), 6)
                       AS lm_score
            FROM bigrams b
            JOIN bg g ON b.w1 = g.w1 AND b.w2 = g.w2
            JOIN uni u1 ON b.w1 = u1.w
            GROUP BY b.id ORDER BY b.id
        """,
        # Identical decimal moments, identical Welch formula.
        "q_ab_welch": """
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
        """,
        # Same observed/expected construction from integer counts.
        "q_chi_square": """
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
        """,
        # Same midranks (histogram cumulative + (cnt+1)/2, exact
        # decimals), same Pearson-over-ranks formula.
        "q_spearman": """
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
        """,
        # Same per-stratum hash rank, same cutoff.
        "q_stratified_sample_n": """
            WITH r AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 12), doc_id) AS rn
                FROM documents
            )
            SELECT doc_id, lang FROM r WHERE rn <= 40
            ORDER BY lang, doc_id
        """,
        # UNION ALL replay of the two write batches with the NULL
        # literal standing in for the pre-evolution column.
        "q_schema_evolution": """
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
        """,
        # The same filtered aggregate; partition layout must not change
        # the answer.
        "q_partitioned_scan": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events WHERE event_type = 'purchase'
            GROUP BY event_type ORDER BY event_type
        """,
        # The same join + aggregate, bucketing being a physical-layout
        # concern the values must not depend on.
        "q_bucketed_join": """
            SELECT o.o_orderstatus,
                   count(*) AS n_lines,
                   CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4)))
                        AS DOUBLE) AS total_qty
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
        """,
        # Same per-side top-k (count desc, key asc), zero-coalesced
        # product.
        "q_join_probe": """
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
        """,
        # Same (n desc, token) total order, integer running sum / total.
        "q_vocab_coverage": """
            WITH toks AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS token
                FROM documents
            ),
            c AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
            t AS (SELECT sum(n) AS tot FROM c),
            r AS (
                SELECT token, CAST(n AS BIGINT) AS n,
                       row_number() OVER (ORDER BY n DESC, token) AS rank,
                       sum(n) OVER (ORDER BY n DESC, token
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum
                FROM c
            )
            SELECT token, n, CAST(rank AS BIGINT) AS rank,
                   round(cum * 1.0 / tot, 6) AS coverage
            FROM r, t WHERE rank <= 40 ORDER BY rank
        """,
        # Same distinct count, same span arithmetic.
        "q_sequence_gaps": """
            SELECT user_id,
                   CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   min(event_id) AS min_seq,
                   max(event_id) AS max_seq,
                   CAST(max(event_id) - min(event_id) + 1
                        - count(DISTINCT event_id) AS BIGINT) AS n_missing
            FROM events
            WHERE event_id % 7 <> 0 AND event_id IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        # Same rank band, same min/max bounds, same clamp + decimal
        # mean.
        "q_winsorized_mean": """
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
        """,
        # Same per-column frequencies (NULL as a value), same
        # entropy/gini/top-share arithmetic.
        "q_concentration": """
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
        """,
        # Same decimal moments, same closed-form OLS solve.
        "q_linear_trend": """
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
        """,
        # Same percent_rank selection, same decimal-exact mean.
        "q_trimmed_mean": """
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
        """,
        # Same distinct-set size and sorted example list per lhs key.
        "q_fd_violations": """
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
        """,
        # Same Monday-truncated weeks, same min-week cohort, same
        # datediff/7.
        "q_cohort_retention": """
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
        """,
        # Same nulling, ffill via last_value IGNORE NULLS, bfill via
        # the reversed frame (nearest following non-null).
        "q_fill_forward": """
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
        """,
        # Same frozen-breaks bucket chain, Laplace smoothing, ln term.
        "q_psi_drift": """
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
        """,
        # Same sign matrix, same add order (generated; see
        # _jl_project_sql).
        "q_jl_project": _jl_project_sql(),
        # Same per-group hash rank, integer base+remainder copies,
        # generate_series replication.
        "q_resample_mix": """
            WITH c AS (
                SELECT lang, count(*) AS c FROM documents GROUP BY 1
            ),
            t AS (
                SELECT lang, c,
                       CASE lang WHEN 'de' THEN 1500 WHEN 'en' THEN 100
                                 WHEN 'es' THEN 80 WHEN 'zh' THEN 0
                                 ELSE c END AS tgt
                FROM c
            ),
            r AS (
                SELECT d.doc_id, d.lang, t.c, t.tgt,
                       row_number() OVER (
                           PARTITION BY d.lang
                           ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)),
                                           1, 12), d.doc_id) AS rn
                FROM documents d JOIN t USING (lang)
            ),
            x AS (
                SELECT doc_id, lang,
                       (tgt // c)
                       + CASE WHEN rn <= tgt % c THEN 1 ELSE 0 END AS copies
                FROM r
            )
            SELECT doc_id, lang,
                   unnest(generate_series(1, copies)) AS copy_idx
            FROM x WHERE copies >= 1
            ORDER BY lang, doc_id, copy_idx
        """,
        # The INSERT filter replayed on the source.
        "q_sql_ddl": """
            SELECT o_orderstatus, count(*) AS n,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                         AS DOUBLE), 2) AS total
            FROM orders WHERE o_orderkey % 4 = 0
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        # The batch enrichment join + aggregate.
        "q_streaming_enrich": """
            SELECT c.c_mktsegment,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
                         AS DOUBLE), 2) AS revenue
            FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
        """,
        # Same quantize/dequantize arithmetic, same pairwise cosine.
        "q_embed_dup_int8": """
            WITH q AS (
                SELECT vec_id, label,
                       list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))) AS amax,
                       CAST(embedding AS DOUBLE[]) AS ve
                FROM embeddings
            ),
            deq AS (
                SELECT vec_id, label,
                       CASE WHEN amax > 0 THEN
                           list_transform(ve, x ->
                               greatest(-127, least(127,
                                   floor(x * (127.0 / amax) + 0.5)))
                               * (amax / 127.0))
                       ELSE list_transform(ve, x -> 0.0) END AS vh
                FROM q
            ),
            v AS (
                SELECT vec_id, label, vh,
                       sqrt(list_dot_product(vh, vh)) AS n
                FROM deq
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.vh, b.vh) / (a.n * b.n), 6)
                       AS cosine
            FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.vh, b.vh) / (a.n * b.n) >= 0.35
        """,
        # Same grids, same per-row inner products, same min.
        "q_cms_join_size": """
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
        """,
        # The batch interval join the replayed stream must equal.
        "q_streaming_interval_join": """
            SELECT v.user_id, v.event_id AS view_id,
                   p.event_id AS purchase_id
            FROM events v JOIN events p
              ON v.user_id = p.user_id
             AND v.event_type = 'view' AND p.event_type = 'purchase'
             AND p.ts >= v.ts
             AND p.ts <= v.ts + INTERVAL 2 HOUR
            WHERE v.user_id < 30 AND p.user_id < 30
            ORDER BY v.user_id, view_id, purchase_id
        """,
        # Same ranks, same 5-round dilation masks, same interleave.
        "q_zorder": """
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
        """,
        # Three unrolled power-iteration rounds over the same edge
        # set, dangling mass redistributed uniformly each round.
        "q_pagerank": """
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
        """,
        # Same histogram rank: (#values strictly below)/(n-1).
        "q_rank_normalize": """
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
        """,
        # Identical decimal moments, identical final double formula.
        "q_corr_matrix": """
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
        """,
        # Same battery over the same total order.
        "q_window_battery": """
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
        """,
        # Same per-day register rebuild, bit-for-bit.
        "q_hll_per_day": """
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
        """,
        # Rollup identity: merged per-day registers == whole-corpus
        # registers, which the oracle builds directly.
        "q_hll_rollup": """
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
        """,
        # Same digests (status/price fields, \x1f sep), same statuses.
        "q_diff_tables": """
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
        """,
        # Same counts, share, and ratio-to-mean, same ordering.
        "q_skew_report": """
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
        """,
        # Same decile edges (histogram rank rule), same bucketing.
        "q_hist_equidepth": """
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
        """,
        # Same two stages: min-id within-batch, digest anti-join.
        "q_incremental_dedup": """
            WITH seen AS (
                SELECT DISTINCT md5(lower(trim(text))) AS digest
                FROM documents WHERE doc_id < 250
            ),
            new AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 500000, text FROM documents
                WHERE doc_id % 40 = 0
            ),
            batch AS (
                SELECT min(doc_id) AS doc_id,
                       md5(lower(trim(text))) AS digest
                FROM new GROUP BY digest
            )
            SELECT doc_id FROM batch
            WHERE digest NOT IN (SELECT digest FROM seen)
            ORDER BY doc_id
        """,
        # Identical md5-derived digest, xor-folded; \x1f field sep,
        # \x00 null sentinel.
        "q_table_checksum": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   coalesce(bit_xor(CAST('0x' || substring(md5(
                       coalesce(CAST(o_orderkey AS VARCHAR), chr(0))
                       || chr(31) ||
                       coalesce(o_orderstatus, chr(0))
                       || chr(31) ||
                       coalesce(o_orderpriority, chr(0))
                   ), 1, 15) AS BIGINT)), 0) AS checksum
            FROM orders
        """,
        # The unblocked predicate restricted to equal first chars —
        # equality certifies the length-band blocking is lossless.
        "q_fuzzy_join": """
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
        """,
        # Same per-(label, idx) mean, rounded on both sides.
        "q_vector_mean": """
            WITH ex AS (
                SELECT label,
                       generate_subscripts(embedding, 1) - 1 AS idx,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings
            )
            SELECT label, CAST(idx AS INT) AS idx,
                   round(avg(x), 9) AS mean_r
            FROM ex GROUP BY label, idx ORDER BY label, idx
        """,
        # Same per-(label, idx) avg centroid, same dot/norm cosine.
        "q_centroid_outliers": """
            WITH e AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            ex AS (
                SELECT label,
                       generate_subscripts(v, 1) AS idx,
                       unnest(v) AS x
                FROM e
            ),
            c AS (
                SELECT label, idx, avg(x) AS m
                FROM ex GROUP BY label, idx
            ),
            cent AS (
                SELECT label, list(m ORDER BY idx) AS cv
                FROM c GROUP BY label
            )
            SELECT e.vec_id, e.label,
                   round(list_dot_product(v, cv)
                         / (sqrt(list_dot_product(v, v))
                            * sqrt(list_dot_product(cv, cv))), 6) AS cos_r
            FROM e JOIN cent USING (label)
            ORDER BY label, vec_id
        """,
        # Same md5 coordinate order, same tie-break, same n.
        "q_sample_n": """
            SELECT doc_id, lang FROM documents
            ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id
            LIMIT 50
        """,
        # Chained first-step CTEs, then the monotone roll-up.
        "q_event_funnel": """
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
        """,
        # DuckDB CUBE produces the same four grouping sets.
        "q_cube_counts": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   count(*) AS n_docs
            FROM documents
            GROUP BY CUBE (lang, source)
            ORDER BY lang, source
        """,
        # Same exact fences (p01/p99 by the histogram rank rule), same
        # clamp.
        "q_winsorize": """
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
        """,
        # The stream-maintained registers equal the batch sketch, so
        # the oracle is the same register rebuild as q_hll_registers.
        "q_streaming_hll": """
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
        """,
        # The sketch path is exact, so the oracle is the naive plan.
        "q_heavy_hitters": """
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
        """,
        # Same per-group histogram + rank construction.
        "q_grouped_quantiles": """
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
        """,
        # Lossless roundtrip -> same aggregate from the parquet source.
        "q_orc_roundtrip": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # Full SemDeDup funnel at n_lists=1: brute-force cosine pairs,
        # recursive-CTE components, min-id survivor anti-join.
        "q_semantic_dedup_exact": """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[])))
                           AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            ),
            cc AS (
                SELECT node, min(r) AS component FROM reach GROUP BY node
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM cc
                                 WHERE node <> component)
            ORDER BY vec_id
        """,
        # Same union + rank: version desc, then source desc (updates
        # win ties).
        "q_merge_upsert": """
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
        """,
        # Same change-suppression (lag null-safe compare) + lead stamps.
        "q_scd2_history": """
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
        """,
        # Identical double arithmetic: amax = max|x|, scale = 127/amax,
        # code = clamp(floor(x*scale + 0.5), -127, 127). float32→double
        # widening is exact, so the codes match bit-for-bit.
        "q_quantize_int8": """
            WITH base AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))) AS amax
                FROM embeddings WHERE vec_id < 50
            ),
            ex AS (
                SELECT vec_id, amax,
                       generate_subscripts(embedding, 1) - 1 AS idx,
                       unnest(embedding) AS x
                FROM base
            )
            SELECT vec_id, CAST(idx AS INT) AS idx,
                   CAST(greatest(-127, least(127,
                        floor(CAST(x AS DOUBLE)
                              * (CASE WHEN amax > 0 THEN 127.0 / amax
                                      ELSE 0.0 END) + 0.5))) AS INT)
                       AS qval,
                   round(amax, 6) AS amax_r
            FROM ex ORDER BY vec_id, idx
        """,
        # Same md5 coordinate, same cumulative thresholds
        # (0.8 -> cccccccccccd, 0.9 -> e66666666666 over 12 hex chars).
        "q_split_assign": """
            SELECT CASE
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                          < 'cccccccccccd' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                          < 'e66666666666' THEN 'val'
                     ELSE 'test'
                   END AS split,
                   count(*) AS n_docs
            FROM documents GROUP BY split ORDER BY split
        """,
        # Identical total order: md5('epoch1:' || id) then id.
        "q_epoch_shuffle": """
            SELECT doc_id,
                   substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)),
                          1, 12) AS shuffle_key
            FROM documents
            ORDER BY shuffle_key, doc_id LIMIT 100
        """,
        # Identical rank formula: value at sorted position
        # floor(q·(n−1)) among non-null values, via the same
        # histogram + cumulative-sum construction.
        "q_quantiles_exact": """
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
        """,
        # Same exact quartiles -> Tukey fences -> row filter.
        "q_outliers_iqr": """
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
        """,
        # The bloom pre-filter is exact after the verify join, so the
        # oracle is the plain semi join + aggregate.
        "q_bloom_semi_join": """
            SELECT o_orderstatus,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_acctbal > 9000)
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        # Span dedup: first corpus-wide occurrence of each 10-word span
        # survives (first = lexicographic min (doc_id, idx) — matching
        # the engine's struct-min key, overflow-free for 64-bit ids),
        # docs rebuilt in span order. The oracle joins on span TEXT
        # where Spark joins on its md5 digest — same result,
        # digest-sized shuffle.
        # Same span split, doc-frequency >= 2 threshold, drop-ALL
        # semantics, position-order rebuild.
        "q_boilerplate": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents
            ),
            sp AS (
                SELECT doc_id, tk,
                       unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS idx
                FROM toks WHERE len(tk) > 0
            ),
            occ AS (
                SELECT doc_id, idx,
                       array_to_string(list_slice(tk,
                           CAST(idx * 10 + 1 AS INT),
                           CAST(idx * 10 + 10 AS INT)), ' ') AS span
                FROM sp
            ),
            boiler AS (
                SELECT span FROM occ
                GROUP BY span HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT doc_id, idx, span FROM occ
                WHERE span NOT IN (SELECT span FROM boiler)
            ),
            totals AS (SELECT doc_id, count(*) AS n_spans FROM occ GROUP BY 1),
            reb AS (
                SELECT doc_id,
                       string_agg(span, ' ' ORDER BY idx) AS clean,
                       count(*) AS n_kept
                FROM kept GROUP BY 1
            )
            SELECT t.doc_id, coalesce(r.clean, '') AS clean, t.n_spans,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM totals t LEFT JOIN reb r USING (doc_id)
        """,
        "q_span_dedup": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents
            ),
            sp AS (
                SELECT doc_id, tk,
                       unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS idx
                FROM toks WHERE len(tk) > 0
            ),
            occ AS (
                SELECT doc_id, idx,
                       array_to_string(list_slice(tk,
                           CAST(idx * 10 + 1 AS INT),
                           CAST(idx * 10 + 10 AS INT)), ' ') AS span
                FROM sp
            ),
            kept AS (
                SELECT doc_id, idx, span FROM (
                    SELECT doc_id, idx, span,
                           row_number() OVER (PARTITION BY span
                                              ORDER BY doc_id, idx) AS rn
                    FROM occ
                ) WHERE rn = 1
            ),
            totals AS (SELECT doc_id, count(*) AS n_spans FROM occ GROUP BY 1),
            reb AS (
                SELECT doc_id,
                       string_agg(span, ' ' ORDER BY idx) AS clean,
                       count(*) AS n_kept
                FROM kept GROUP BY 1
            )
            SELECT t.doc_id, coalesce(r.clean, '') AS clean, t.n_spans,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM totals t LEFT JOIN reb r USING (doc_id)
        """,
        # Full release composition: textprep kept/uniq stages over the
        # PII-injected corpus, then the redaction chain, clean-token
        # counts, and the global running-sum shard assignment.
        "q_corpus_release": """
            WITH t AS (""" + _DOCS_PII_SQL + """),
            toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM t
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, x -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], x))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS s_en,
                       len(list_filter(tk, x -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], x))) AS s_es,
                       len(list_filter(tk, x -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], x))) AS s_de,
                       len(list_filter(tk, x -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], x))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, text FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            ),
            red AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(text,
                           '""" + PII_EMAIL + """', '[EMAIL]', 'g'),
                           '""" + PII_IP + """', '[IP]', 'g'),
                           '""" + PII_PHONE + """', '[PHONE]', 'g') AS clean
                FROM uniq
            ),
            counted AS (
                SELECT doc_id, clean,
                       CAST(len(list_filter(string_split(clean, ' '),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens
                FROM red
            ),
            packed AS (
                SELECT doc_id, clean, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS cum_tokens
                FROM counted
            )
            SELECT doc_id, clean, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 512 AS shard
            FROM packed
        """,
        # Release + 'no domain dominates': same funnel with the
        # per-host content-hash cap between dedup and redaction —
        # URL-less docs pass uncapped, the row_number order replays
        # stratified_sample_n's (md5-prefix, id) coordinate.
        "q_corpus_release_domains": """
            WITH t AS (""" + _DOCS_PII_SQL + """),
            toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM t
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, x -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], x))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS s_en,
                       len(list_filter(tk, x -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], x))) AS s_es,
                       len(list_filter(tk, x -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], x))) AS s_de,
                       len(list_filter(tk, x -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], x))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, text FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            ),
            hosted AS (
                SELECT doc_id, text,
                       lower(regexp_extract(
                           CASE WHEN doc_id % 3 = 0 THEN
                                'https://site'
                                || CAST(doc_id % 7 AS VARCHAR)
                                || '.example.com/d/'
                                || CAST(doc_id AS VARCHAR)
                           WHEN doc_id % 3 = 1 THEN
                                'https://user:pw@site'
                                || CAST(doc_id % 7 AS VARCHAR)
                                || '.example.com:8443/d/'
                                || CAST(doc_id AS VARCHAR)
                           ELSE 'plain text '
                                || CAST(doc_id AS VARCHAR)
                           END,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                           1)) AS h
                FROM uniq
            ),
            capped AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           row_number() OVER (
                               PARTITION BY h
                               ORDER BY substr(md5(
                                   CAST(doc_id AS VARCHAR)), 1, 12),
                                   doc_id) AS rn
                    FROM hosted WHERE h IS NOT NULL AND h <> ''
                ) WHERE rn <= 10
                UNION ALL
                SELECT doc_id, text FROM hosted
                WHERE h IS NULL OR h = ''
            ),
            red AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(text,
                           '""" + PII_EMAIL + """', '[EMAIL]', 'g'),
                           '""" + PII_IP + """', '[IP]', 'g'),
                           '""" + PII_PHONE + """', '[PHONE]', 'g') AS clean
                FROM capped
            ),
            counted AS (
                SELECT doc_id, clean,
                       CAST(len(list_filter(string_split(clean, ' '),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens
                FROM red
            ),
            packed AS (
                SELECT doc_id, clean, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS cum_tokens
                FROM counted
            )
            SELECT doc_id, clean, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 512 AS shard
            FROM packed
        """,
        # Capstone: the complete funnel in one SQL — quality+lang
        # filters, exact dedup, md5-family MinHash LSH (perms, bands,
        # Jaccard verify), recursive-CTE component closure, survivor
        # anti-join, chunk-count arithmetic.
        "q_textprep_full_certified": """
            WITH RECURSIVE base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM base
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, x -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], x))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS s_en,
                       len(list_filter(tk, x -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], x))) AS s_es,
                       len(list_filter(tk, x -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], x))) AS s_de,
                       len(list_filter(tk, x -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], x))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text, n_tokens FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, text, n_tokens FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM uniq
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN length(t) >= 7
                           THEN list_transform(range(1, length(t) - 5),
                                i -> substring(t, CAST(i AS INT), 7))
                           ELSE [t] END)) AS s
                FROM norm
            ),
            bhh AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
                FROM sh
            ),
            perms(j, a, b) AS (VALUES """ + _minhash_perm_values() + """),
            sig AS (
                SELECT doc_id, j,
                       min((a * (((h % 2147483647) + 2147483647)
                                 % 2147483647) + b)
                           % 2147483647) AS mh
                FROM bhh, perms
                GROUP BY 1, 2
            ),
            band AS (
                SELECT doc_id, j // 8 AS band,
                       CAST('0x' || substring(md5(
                           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)
                           || '|' || CAST(j // 8 AS VARCHAR)), 1, 15)
                           AS BIGINT) AS bhsh
                FROM sig GROUP BY doc_id, j // 8
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bhsh = y.bhsh
                WHERE x.doc_id < y.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            pairs AS (
                SELECT i.id_a, i.id_b
                FROM (
                    SELECT c.id_a, c.id_b, count(*) AS shared
                    FROM cand c
                    JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
                    GROUP BY 1, 2
                ) i
                JOIN sizes sa ON sa.doc_id = i.id_a
                JOIN sizes sb ON sb.doc_id = i.id_b
                WHERE i.shared * 1.0 / (sa.sz + sb.sz - i.shared) >= 0.8
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            losers AS (SELECT node FROM comp WHERE node <> component),
            survivors AS (
                SELECT doc_id, n_tokens FROM uniq
                WHERE doc_id NOT IN (SELECT node FROM losers)
            )
            SELECT doc_id,
                   greatest(CAST(ceil((n_tokens - 16) / 48.0) AS BIGINT),
                            1) AS n_chunks
            FROM survivors ORDER BY doc_id
        """,
        # thresholds are hex(round(f * 16^12)): 1.0 → 'g' (above every
        # hex string), 0.1 → 19999999999a, 0.5 → 800000000000
        "q_stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) <
                  CASE source
                      WHEN 'src1' THEN 'g'
                      WHEN 'src2' THEN '19999999999a'
                      ELSE '800000000000'
                  END
            ORDER BY doc_id
        """,
        "q_ngram_jaccard": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM base
            ),
            sh AS (
                SELECT DISTINCT doc_id, substr(t, i, 7) AS sh
                FROM (
                    SELECT doc_id, t,
                           unnest(generate_series(
                               1, greatest(length(t) - 6, 1))) AS i
                    FROM norm
                )
            ),
            rare AS (
                SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 50
            ),
            fsh AS (
                SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)
            ),
            sizes AS (
                SELECT doc_id, count(*) AS sz FROM fsh GROUP BY doc_id
            ),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS shared
                FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.6
        """,
        "q_dedup_exact": """
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id % 50 = 0
            )
            SELECT md5(lower(trim(text))) AS text_hash,
                   min(doc_id) AS keep_id, count(*) AS n
            FROM base GROUP BY 1
        """,
        "q_fingerprint": """
            SELECT doc_id, substr(sha256(text), 1, 16) AS fp FROM documents
        """,
        # same oracle as q_cosine_topk: the pandas path is pinned equal
        # to the JVM fold by unit test, and at round(6) the numpy
        # pairwise-summation ulp difference is invisible (verified at
        # sf0.01 and sf0.1 on the fixed seed=42 corpus)
        "q_cosine_topk_pandas": """
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """,
        "q_cosine_topk": """
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """,
        # LSH with zero planes degenerates to exact search (one bucket):
        # the index path must reproduce the brute-force top-k verbatim.
        "q_ann_lsh_exhaustive": """
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """,
        # IVF with n_probe = n_lists degenerates to exact search: the
        # index path must reproduce the brute-force top-k verbatim.
        "q_ann_ivf_exhaustive": """
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """,
        "q_tpch_q1": """
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
        """,
        "q_join_semi": """
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "q_join_anti": """
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "q_join_multiway": """
            SELECT n_name, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "q_set_ops": """
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
        """,
        "q_join_outer": """
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
        """,
        "q_sessionize": """
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
        """,
        "q_pivot": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY 1
        """,
        "q_rollup": """
            SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                   coalesce(l_linestatus, '<all>') AS linestatus,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "q_moving_avg": """
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
        """,
        "q_zscore_grouped": """
            SELECT event_type, event_id,
                   round((value - avg(value) OVER w)
                         / stddev_samp(value) OVER w, 4) AS zscore
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """,
        "q_cube": """
            SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                   coalesce(l_linestatus, '<all>') AS linestatus,
                   count(*) AS n
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "q_grouping_sets": """
            SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                   coalesce(l_linestatus, '<all>') AS linestatus,
                   count(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), (l_linestatus))
        """,
        "q_count_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "q_json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1
        """,
        "q_streaming_day_counts": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "q_cosine_topk_batch": """
            WITH c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            p AS (SELECT vec_id AS probe_id, v AS pv, n AS pn
                  FROM c WHERE vec_id IN (0, 1, 2, 3)),
            s AS (
                SELECT p.probe_id, c.vec_id,
                       list_dot_product(c.v, p.pv) / (c.n * p.pn) AS cos
                FROM c, p
            ),
            r AS (
                SELECT probe_id, vec_id,
                       CAST(row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY cos DESC, vec_id ASC) AS INT) AS rank,
                       round(cos, 6) AS cosine
                FROM s
            )
            SELECT probe_id, vec_id, rank, cosine FROM r WHERE rank <= 5
        """,
        "q_tpch_q3": """
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
        """,
        "q_tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
              )
            GROUP BY o_orderpriority
        """,
        "q_tpch_q14": """
            SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                              THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                                   * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                         END) AS DOUBLE)
                         / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2))))
                                AS DOUBLE), 6) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
        """,
        "q_tpch_q17": """
            WITH a AS (
                SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS lim
                FROM lineitem GROUP BY 1
            )
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                       AS small_qty_revenue,
                   count(*) AS n_items
            FROM lineitem JOIN a ON l_partkey = a.pk
            WHERE l_quantity < lim
        """,
        "q_tpch_q6": """
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q_tpch_q19": """
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_type = 'PROMO' AND l_quantity >= 1 AND l_quantity <= 20
                   AND p_size <= 10)
               OR (p_type = 'ECONOMY' AND l_quantity >= 10 AND l_quantity <= 30
                   AND p_size <= 25)
        """,
        "q_tpch_q21_shape": """
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
        """,
        "q_tpch_q5": """
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
        """,
        "q_tpch_q7": """
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
        """,
        "q_tpch_q10": """
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
        """,
        "q_tpch_q12_shape": """
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
        """,
        "q_tpch_q13": """
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
        """,
        "q_tpch_q15": """
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
        """,
        "q_tpch_q18": """
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
        """,
        "q_tpch_q22_shape": """
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
        """,
        "q_tpch_q2_shape": """
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
        """,
        "q_tpch_q11_shape": """
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
        """,
        "q_tpch_q16_shape": """
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
        """,
        "q_tpch_q20_shape": """
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
        """,
        "q_agg_filter": """
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
        """,
        "q_scalar_subquery_select": """
            SELECT n_nationkey, n_name,
                   (SELECT count(*) FROM customer
                    WHERE c_nationkey = n_nationkey) AS n_cust,
                   (SELECT max(c_acctbal) FROM customer
                    WHERE c_nationkey = n_nationkey) AS best_bal
            FROM nation
            ORDER BY n_nationkey
        """,
        "q_window_funcs": """
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
        """,
        "q_latest_per_key": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                   event_type, value
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        """,
        "q_string_agg": """
            WITH d AS (
                SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
            )
            SELECT l_returnflag,
                   string_agg(l_linestatus, ','
                              ORDER BY l_linestatus) AS statuses,
                   count(*) AS n_statuses
            FROM d
            GROUP BY l_returnflag
        """,
        "q_stat_aggs": """
            SELECT l_returnflag,
                   round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_s,
                   round(covar_pop(l_extendedprice, l_quantity), 2) AS cov_p,
                   round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
                   round(regr_intercept(l_extendedprice, l_quantity), 2)
                       AS intercept,
                   round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
                   regr_count(l_extendedprice, l_quantity) AS n_pairs
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_date_funcs": """
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
        """,
        "q_unpivot": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                   l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """,
        "q_deterministic_sample": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
                  < '19999999999a'
        """,
        "q_string_funcs": """
            SELECT DISTINCT event_type,
                   upper(event_type) AS up,
                   reverse(event_type) AS rev,
                   translate(event_type, 'aeiou', 'AEIOU') AS vowels_up,
                   levenshtein(event_type, 'click') AS lev_click,
                   repeat(substr(event_type, 1, 1), 3) AS first3,
                   lpad(event_type, 10, '.') AS padded
            FROM events
        """,
        "q_event_gaps": """
            SELECT event_id, user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_prev_us,
                   lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_next_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "q_quantiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
                   round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
            FROM lineitem GROUP BY 1
        """,
        "q_asof_join": """
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
        """,
        # same oracle as q_asof_join — the same query under its second
        # registry name
        "q_asof_join_cogroup": """
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
        """,
        "q_range_join_time": """
            SELECT a.event_id AS click_id, b.event_id AS err_id,
                   a.user_id,
                   epoch_us(a.ts) - epoch_us(b.ts) AS delta_us
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            JOIN (SELECT * FROM events WHERE event_type = 'error') b
              ON a.user_id = b.user_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
        """,
        "q_sql_surface": """
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
        """,
        "q_value_freq_capped": """
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
        """,
        "q_token_count_bpe": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "q_tfidf": """
            WITH pairs AS (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS token
                FROM documents
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM pairs GROUP BY 1, 2),
            d AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents)
            SELECT doc_id, tf.token, tf.tf, d.df,
                   round(tf.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
            FROM tf JOIN d USING (token), n
        """,
        "q_chunk_documents": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            w AS (
                SELECT doc_id, toks,
                       greatest(CAST(ceil((len(toks) - 16) / 48.0) AS INT), 1)
                           AS n_win
                FROM t
            ),
            c AS (
                SELECT doc_id,
                       list_transform(range(1, n_win + 1),
                           i -> list_slice(toks, (i - 1) * 48 + 1,
                                           (i - 1) * 48 + 64)) AS cs
                FROM w
            )
            SELECT doc_id,
                   CAST(generate_subscripts(cs, 1) - 1 AS INT) AS chunk_idx,
                   array_to_string(unnest(cs), ' ') AS chunk_text,
                   CAST(len(unnest(cs)) AS INT) AS n_chunk_tokens
            FROM c
        """,
        "q_udtf_sentences": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split(
                                   replace(text, ' table', '. table'), '.'),
                               x -> trim(x)),
                           x -> x <> '') AS parts
                FROM documents
            )
            SELECT doc_id,
                   CAST(generate_subscripts(parts, 1) - 1 AS INT) AS idx,
                   unnest(parts) AS sentence
            FROM t
        """,
        "q_embed_dup": """
            WITH v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.ve, b.ve) / (a.n * b.n), 6) AS cosine
            FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
        """,
        "q_array_funcs": """
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
        """,
        "q_bm25": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   t -> t <> '') AS tks
                FROM documents
            ),
            lens AS (SELECT doc_id, len(tks) AS dl FROM toks),
            stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM lens
            ),
            pairs AS (
                SELECT doc_id, unnest(tks) AS token FROM toks
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM pairs
                WHERE token IN ('hash', 'join', 'vector')
                GROUP BY doc_id, token
            ),
            dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
            SELECT tf.doc_id,
                   round(CAST(sum(CAST(round(
                       ln((n - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                       9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS score,
                   count(*) AS n_terms_hit
            FROM tf
            JOIN dfreq USING (token)
            JOIN lens ON tf.doc_id = lens.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
        """,
        "q_dedup_clusters": """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            )
            SELECT node, min(r) AS component
            FROM reach
            GROUP BY node
        """,
        # Same pairs + closure as q_dedup_clusters, then keep only each
        # component's min-id member plus all unpaired rows.
        # Same recursive-CTE components; size histogram on top.
        "q_cluster_sizes": """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            sizes AS (
                SELECT component, CAST(count(*) AS BIGINT) AS sz
                FROM comp GROUP BY component
            )
            SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
            FROM sizes GROUP BY sz ORDER BY sz
        """,
        # Same components; per-cluster argmax on (score, -id) instead
        # of min id.
        "q_dedup_survivors_by": """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(vec_id % 7 AS DOUBLE) AS score,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            best AS (
                SELECT component,
                       (array_agg(node ORDER BY s.score DESC, node ASC))[1]
                           AS keep
                FROM comp JOIN v s ON s.vec_id = comp.node
                GROUP BY component
            ),
            losers AS (
                SELECT node FROM comp
                WHERE node NOT IN (SELECT keep FROM best)
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM losers)
        """,
        "q_dedup_survivors": """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            losers AS (SELECT node FROM comp WHERE node <> component)
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM losers)
        """,
        "q_pack_shards": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS cum_tokens
                FROM t
            )
            SELECT doc_id, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 500 AS shard
            FROM c
        """,
        "q_dedup_clusters_star": """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, r) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                UNION
                SELECT e.a, reach.r
                FROM edges e JOIN reach ON e.b = reach.node
            )
            SELECT node, min(r) AS component
            FROM reach
            GROUP BY node
        """,
        "q_multimodal_meta": """
            SELECT doc_id,
                   CASE WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
                        WHEN substr(text, 1, 3) = 'ID3' THEN 'audio/mpeg'
                        ELSE 'application/octet-stream' END AS media_type,
                   strlen(text) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
        """,
        # Byte-statistics decode kernel: chunk k of L payload bytes is
        # {j : j*8 // L == k}; feature = sum*1e6 // (count*255) / 1e6 —
        # exact integer arithmetic, so SQL reproduces the Python kernel
        # bit-for-bit (documents text is pure ASCII → ord == byte).
        # Scalar-shaped (one row per (id, feature_idx)) to match the
        # posexplode'd harness query; the generated 0..7 spine with
        # coalesce(0.0) mirrors the kernel's empty-chunk zero padding.
        "q_decode_features": """
            WITH p AS (SELECT doc_id, text, length(text) AS L FROM documents),
            i AS (SELECT doc_id, text, L, unnest(range(0, L)) AS pos FROM p),
            b AS (
                SELECT doc_id,
                       CAST((pos * 8) // L AS INT) AS chunk,
                       ord(substring(text, CAST(pos + 1 AS INT), 1)) AS byte
                FROM i
            ),
            c AS (
                SELECT doc_id, chunk,
                       CAST(sum(byte) * 1000000 // (count(*) * 255) AS BIGINT) AS q
                FROM b GROUP BY 1, 2
            ),
            k AS (
                SELECT doc_id, CAST(unnest(range(0, 8)) AS INT) AS feature_idx
                FROM p
            )
            SELECT k.doc_id AS id, k.feature_idx,
                   coalesce(CAST(c.q AS DOUBLE) / 1000000.0, 0.0) AS value
            FROM k LEFT JOIN c
              ON k.doc_id = c.doc_id AND k.feature_idx = c.chunk
        """,
"q_decode_features_arrow": """
            WITH p AS (SELECT doc_id, text, length(text) AS L FROM documents),
            i AS (SELECT doc_id, text, L, unnest(range(0, L)) AS pos FROM p),
            b AS (
                SELECT doc_id,
                       CAST((pos * 8) // L AS INT) AS chunk,
                       ord(substring(text, CAST(pos + 1 AS INT), 1)) AS byte
                FROM i
            ),
            c AS (
                SELECT doc_id, chunk,
                       CAST(sum(byte) * 1000000 // (count(*) * 255) AS BIGINT) AS q
                FROM b GROUP BY 1, 2
            ),
            k AS (
                SELECT doc_id, CAST(unnest(range(0, 8)) AS INT) AS feature_idx
                FROM p
            )
            SELECT k.doc_id AS id, k.feature_idx,
                   coalesce(CAST(c.q AS DOUBLE) / 1000000.0, 0.0) AS value
            FROM k LEFT JOIN c
              ON k.doc_id = c.doc_id AND k.feature_idx = c.chunk
        """,
        # Same three-stage redaction chain as pii_redact, with per-stage
        # counts; DuckDB regexp_replace needs the explicit 'g' flag
        # (Spark's is global by default). Patterns injected verbatim
        # from operators.text so both engines compile the same regex.
        "q_pii_redact": """
            WITH t AS (""" + _DOCS_PII_SQL + """),
            s1 AS (
                SELECT doc_id, text AS t0,
                       regexp_replace(text, '""" + PII_EMAIL + """', '[EMAIL]', 'g') AS t1
                FROM t
            ),
            s2 AS (
                SELECT doc_id, t0, t1,
                       regexp_replace(t1, '""" + PII_IP + """', '[IP]', 'g') AS t2
                FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '""" + PII_PHONE + """', '[PHONE]', 'g') AS clean,
                   CAST(len(regexp_extract_all(t0, '""" + PII_EMAIL + """')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(t1, '""" + PII_IP + """')) AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(t2, '""" + PII_PHONE + """')) AS INT) AS n_phones
            FROM s2
        """,
        "q_quality_signals": """
            WITH t AS (""" + _DOCS_PII_SQL + """),
            w AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM t
            )
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len(toks) AS INT) AS n_words,
                   round(list_sum(list_transform(toks, x -> length(x)))
                         / len(toks), 6) AS mean_word_len,
                   round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         / length(text), 6) AS symbol_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                         / length(text), 6) AS digit_ratio,
                   round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                         / length(text), 6) AS upper_ratio,
                   round(1 - len(list_distinct(toks)) / len(toks), 6)
                       AS dup_word_ratio,
                   len(list_filter(toks, x -> x IN (""" + ", ".join(
                       f"'{w}'" for w in EN_STOPWORDS
                   ) + """))) >= 2 AS has_stopword
            FROM w
        """,
        # String-keyed join stands in for Spark's xxhash64-keyed one
        # (identical result barring 64-bit collisions); probe set =
        # every 29th doc, 5-gram shingles distinct per document.
        "q_contamination": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(len(toks) - 4, 0) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 4), ' ')
                       ))) AS gram
                FROM w
            ),
            p AS (SELECT doc_id AS probe_id, gram FROM g WHERE doc_id % 29 = 0),
            sz AS (SELECT probe_id, count(*) AS probe_ngrams FROM p GROUP BY 1),
            hits AS (
                SELECT g.doc_id, p.probe_id, count(*) AS n_overlap
                FROM g JOIN p ON g.gram = p.gram
                GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT h.doc_id, h.probe_id, h.n_overlap, sz.probe_ngrams,
                   round(h.n_overlap / sz.probe_ngrams, 6) AS overlap_ratio
            FROM hits h JOIN sz USING (probe_id)
        """,
        # Batch replay of gap-based sessionization: 30-min-gap break
        # flags → running-sum session ids → one row per session with
        # its min-ts start and event count. The streaming side emits
        # exactly the closed sessions, which (after the sentinel
        # advances the watermark) is all of them.
        "q_streaming_sessionize": """
            WITH g AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id)
                                > 1800000000
                            THEN 1 ELSE 0 END AS brk
                FROM events
            ),
            s AS (
                SELECT user_id, ts,
                       1 + sum(brk) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM g
            )
            SELECT user_id,
                   epoch_us(min(ts)) AS session_start_us,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        # The stream replays every event twice; the dedup sink must hold
        # each exactly once — the batch DISTINCT of a doubled input is
        # just the input.
        "q_streaming_dedup": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                   value, props
            FROM events
        """,
        # n_partitions pins the ~200 MB sizing contract: events at the
        # driver's compare SF (0.01) estimates well under one target
        # partition, so the sink must choose exactly 1.
        "q_parquet_roundtrip": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(1 AS INT) AS n_partitions
            FROM events
        """,
        "q_tpch_q8": """
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
        """,
        "q_tpch_q9_shape": """
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
        """,
        "q_map_funcs": """
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
        """,
        "q_posexplode_sequence": """
            SELECT o_orderkey,
                   CAST(u - 1 AS INTEGER) AS pos,
                   CAST(u AS INTEGER) AS val
            FROM (
                SELECT o_orderkey,
                       unnest(range(1, (o_orderkey % 5) + 2)) AS u
                FROM orders
                WHERE o_orderkey % 7 = 0
            )
        """,
        "q_conditional_funcs": """
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
        """,
        "q_salted_join": """
            SELECT c_mktsegment,
                   count(*) AS n,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_value_cents
            FROM events
            JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "q_struct_funcs": """
            SELECT o_orderkey,
                   to_json(struct_pack(k := o_orderkey,
                                       st := o_orderstatus)) AS js,
                   o_orderstatus AS st_field,
                   o_orderkey AS k_roundtrip,
                   CASE WHEN o_orderkey % 7 < o_custkey % 7 THEN 'a'
                        WHEN o_custkey % 7 < o_orderkey % 7 THEN 'b'
                        ELSE 'a' END AS min_tag
            FROM orders
        """,
        "q_try_arith": """
            SELECT o_orderkey,
                   o_totalprice / nullif(o_orderkey % 3, 0) AS div3,
                   TRY_CAST(o_orderstatus AS INTEGER) AS status_int,
                   CAST(NULL AS INTEGER) AS oob,
                   CASE WHEN o_orderkey > 0 THEN CAST(NULL AS BIGINT)
                        ELSE 9223372036854775807 END AS overflow_null
            FROM orders
        """,
        "q_bitwise": """
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
        """,
        "q_median_group": """
            SELECT event_type,
                   round(median(value), 6) AS med_value,
                   round(median(CAST(user_id AS DOUBLE)), 6) AS med_user
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "q_time_bucket_rollup": """
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
        """,
    }
    # the two-level degenerate replays the same brute-force funnel,
    # over the parity-capped corpus (quadratic cert work bounded):
    # both the pair-generation CTE and the survivor SELECT restrict
    # to the capped set
    d["q_semantic_dedup_2level"] = d["q_semantic_dedup_exact"].replace(
        "FROM embeddings\n            ),",
        "FROM embeddings WHERE vec_id % 2 = 0\n            ),",
    ).replace(
        "WHERE vec_id NOT IN",
        "WHERE vec_id % 2 = 0 AND vec_id NOT IN",
    )
    # k >= n MRL sketches read out exactly type-1 quantiles, split or
    # whole — both replay the q_quantiles_exact oracle
    d["q_quantile_sketch_exact"] = d["q_quantiles_exact"]
    d["q_quantile_sketch_merge"] = d["q_quantiles_exact"]
    d["q_streaming_quantile_sketch"] = d["q_quantiles_exact"]
    d["q_quantile_sketch_grouped"] = d["q_grouped_quantiles"]
    d["q_period_over_period"] = """
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
    """
    d["q_bpe_merges"] = """
        WITH toks AS (
            SELECT regexp_extract_all(
                       text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS t
            FROM documents
        ),
        pairs AS (
            SELECT t[i] AS l, t[i + 1] AS r
            FROM toks, unnest(range(1, len(t))) AS u(i)
        )
        SELECT l AS "left", r AS "right", CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY 1, 2
        ORDER BY n DESC, "left", "right" LIMIT 20
    """
    d["q_transition_matrix"] = """
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
    """
    d["q_association_pairs"] = """
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
    """
    d["q_grouped_corr"] = """
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
    """
    d["q_xml_roundtrip"] = d["q_orc_roundtrip"]
    d["q_token_budget_sample"] = """
        WITH tot AS (
            SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tok,
                   CASE WHEN source = 'src1' THEN 3.0 ELSE 1.0 END AS w
            FROM documents GROUP BY source
        ),
        ws AS (SELECT sum(w) AS wsum FROM tot),
        rates AS (
            SELECT source,
                   least(1.0, 60000.0 * w / wsum / tok) AS rate
            FROM tot, ws
        )
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN rates r USING (source)
        WHERE CAST(CAST('0x' || substring(
                  md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  AS BIGINT)
              < CAST(floor(r.rate * 281474976710656.0) AS BIGINT)
        ORDER BY d.doc_id
    """
    d["q_diff_cells"] = """
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
    """
    d["q_weighted_sample"] = """
        SELECT doc_id, n_chars FROM documents
        WHERE CAST(CAST('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  AS BIGINT)
              < CAST(floor(
                    greatest(0.0, least(1.0,
                        0.6 * (n_chars / 200.0)))
                    * 281474976710656.0) AS BIGINT)
          AND n_chars IS NOT NULL
        ORDER BY doc_id
    """
    d["q_binary_file_source"] = """
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents WHERE doc_id % 25 = 0
        ORDER BY doc_id
    """
    d["q_benford"] = """
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
    """
    d["q_k_anonymity"] = """
        SELECT c_nationkey, CAST(floor(c_acctbal / 500) AS BIGINT)
                   AS bal_band,
               CAST(count(*) AS BIGINT) AS class_size
        FROM customer
        GROUP BY 1, 2 HAVING count(*) < 3
        ORDER BY c_nationkey, bal_band
    """
    d["q_k_anonymize"] = """
        WITH q AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 500) AS BIGINT) AS bal_band
            FROM customer
        ),
        bad AS (
            SELECT c_nationkey, bal_band FROM q
            GROUP BY 1, 2 HAVING count(*) < 3
        ),
        rel AS (
            SELECT * FROM q
            WHERE NOT EXISTS (
                SELECT 1 FROM bad b
                WHERE b.c_nationkey = q.c_nationkey
                  AND b.bal_band = q.bal_band
            )
        )
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM rel GROUP BY 1 ORDER BY 1
    """
    d["q_l_diversity"] = """
        SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)
                   AS bal_band,
               CAST(count(*) AS BIGINT) AS class_size,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT)
                   AS n_distinct_sensitive
        FROM customer
        GROUP BY 1, 2
        HAVING count(DISTINCT c_mktsegment) < 3
        ORDER BY c_nationkey, bal_band
    """
    d["q_interpolate_gaps"] = """
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
    """
    # per-node triangle counts are orientation-invariant: the oracle
    # counts each triangle once via the id-ordered 3-way self-join
    d["q_triangle_counts"] = """
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
    """
    # both line-level oracles rebuild the SAME derived 8-words-per-line
    # corpus the Spark query derives (zipped unnests replay
    # posexplode), then replay the operator's algebra exactly
    d["q_line_dedup"] = """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        lines AS (
            SELECT doc_id,
                   unnest(generate_series(
                       0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1
                   )) AS pos,
                   unnest(list_transform(
                       generate_series(
                           0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1
                       ),
                       i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')
                   )) AS line
            FROM t
        ),
        ok AS (
            SELECT * FROM lines
            WHERE len(list_filter(string_split(line, ' '),
                                  w -> w <> '')) >= 2
        ),
        winners AS (
            SELECT doc_id, pos, line FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY line ORDER BY doc_id, pos
                ) AS rn FROM ok
            ) WHERE rn = 1
        ),
        kept AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY pos) AS clean,
                   CAST(count(*) AS BIGINT) AS n_lines_kept
            FROM winners GROUP BY doc_id
        ),
        spine AS (
            SELECT doc_id,
                   CAST(ceil(len(toks)/8.0) AS BIGINT) AS n_lines_total
            FROM t
        )
        SELECT s.doc_id,
               coalesce(k.clean, '') AS clean,
               CAST(coalesce(k.n_lines_kept, 0) AS BIGINT)
                   AS n_lines_kept,
               s.n_lines_total
        FROM spine s LEFT JOIN kept k USING (doc_id)
        ORDER BY s.doc_id
    """
    d["q_repetition_signals"] = """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        ml AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       generate_series(
                           0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1
                       ),
                       i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')
                   ), chr(10)) AS text2
            FROM t
        ),
        base AS (
            SELECT doc_id, text2,
                   string_split(text2, chr(10)) AS lines,
                   list_filter(string_split(text2, ' '),
                               w -> w <> '') AS wt,
                   len(text2) AS chars
            FROM ml
        ),
        tg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(wt) - 1),
                       i -> array_to_string(wt[i:i+1], ' ')
                   )) AS g
            FROM base WHERE len(wt) >= 2
        ),
        ttop AS (
            SELECT doc_id, c * len(g) AS topchars FROM (
                SELECT doc_id, g, count(*) AS c,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY count(*) DESC, g
                       ) AS rn
                FROM tg GROUP BY doc_id, g
            ) WHERE rn = 1
        ),
        dg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(wt) - 4),
                       i -> array_to_string(wt[i:i+4], ' ')
                   )) AS g
            FROM base WHERE len(wt) >= 5
        ),
        dsum AS (
            SELECT doc_id,
                   SUM(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END)
                       AS dupchars,
                   SUM(c * len(g)) AS allchars
            FROM (
                SELECT doc_id, g, count(*) AS c
                FROM dg GROUP BY doc_id, g
            ) GROUP BY doc_id
        )
        SELECT b.doc_id,
               round(1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
                     / len(b.lines), 6) AS dup_line_frac,
               round(coalesce(CAST(t.topchars AS DOUBLE) / b.chars,
                              0.0), 6) AS top2_char_frac,
               round(coalesce(CAST(d.dupchars AS DOUBLE) / d.allchars,
                              0.0), 6) AS dup5_char_frac
        FROM base b
        LEFT JOIN ttop t USING (doc_id)
        LEFT JOIN dsum d USING (doc_id)
        ORDER BY b.doc_id
    """
    # the oracle runs the UNBLOCKED full pairwise predicate over the
    # same planted signatures — a mismatch would mean the pigeonhole
    # blocking dropped a within-radius pair (lossless-ness check)
    d["q_hamming_near_dup"] = """
        WITH s AS (
            SELECT doc_id,
                   xor(
                       CAST('0x' || substring(
                           md5(CAST(doc_id % 50 AS VARCHAR)), 1, 15
                       ) AS BIGINT),
                       (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))
                   ) AS sig
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 2
        ORDER BY id_a, id_b
    """
    # same pairs + recursive-CTE closure as q_dedup_clusters; the split
    # CASE replays q_split_assign's thresholds over the cluster ROOT
    d["q_leakage_safe_split"] = """
        WITH RECURSIVE v AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS ve,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS n
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT e.a, reach.r
            FROM edges e JOIN reach ON e.b = reach.node
        ),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        rooted AS (
            SELECT e.vec_id,
                   coalesce(c.component, e.vec_id) AS root
            FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
        )
        SELECT vec_id,
               CASE
                 WHEN substr(md5(CAST(root AS VARCHAR)), 1, 12)
                      < 'cccccccccccd' THEN 'train'
                 WHEN substr(md5(CAST(root AS VARCHAR)), 1, 12)
                      < 'e66666666666' THEN 'val'
                 ELSE 'test'
               END AS split
        FROM rooted ORDER BY vec_id
    """
    d["q_ks_drift"] = """
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
    """
    d["q_ks_drift_grouped"] = """
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
    """
    d["q_ks_drift_report"] = """
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
    """
    d["q_streaming_drift"] = """
        WITH b AS (
            SELECT MIN(CAST(value AS DOUBLE)) AS lo,
                   MAX(CAST(value AS DOUBLE)) AS hi
            FROM events
            WHERE event_type = 'view' AND value IS NOT NULL
        ),
        binned AS (
            SELECT CASE WHEN e.event_type = 'view' THEN 'r'
                        ELSE 's' END AS g,
                   CASE WHEN v < lo THEN -1
                        WHEN v >= hi THEN 64
                        ELSE LEAST(63, CAST(FLOOR(
                            (v - lo) / (hi - lo) * 64) AS INTEGER))
                   END AS bucket
            FROM (
                SELECT CAST(value AS DOUBLE) AS v, event_type
                FROM events
                WHERE event_type IN ('view', 'purchase')
                  AND value IS NOT NULL
            ) e, b
        ),
        hist AS (
            SELECT bucket,
                   SUM(CASE WHEN g = 's' THEN 1 ELSE 0 END) AS cs,
                   SUM(CASE WHEN g = 'r' THEN 1 ELSE 0 END) AS cr
            FROM binned GROUP BY bucket
        ),
        cum AS (
            SELECT SUM(cs) OVER (ORDER BY bucket ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cums,
                   SUM(cr) OVER (ORDER BY bucket ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr
            FROM hist
        ),
        tot AS (SELECT SUM(cs) AS ns, SUM(cr) AS nr FROM hist)
        SELECT round(max(abs(CAST(cums AS DOUBLE) / ns
                             - CAST(cumr AS DOUBLE) / nr)), 6)
                   AS ks_stat,
               CAST(ns AS BIGINT) AS n_stream,
               CAST(nr AS BIGINT) AS n_ref
        FROM cum, tot GROUP BY ns, nr
    """
    d["q_strip_html"] = '''
        WITH h AS (
            SELECT doc_id,
                   '<html><head><style>p{color:red}</style></head>'
                   || '<body><h1>Doc &amp; no. '
                   || CAST(doc_id AS VARCHAR)
                   || '</h1>' || chr(10) || '<p>' || text
                   || '</p><script>alert(' || chr(39) || 'x'
                   || chr(39) || ')</script>'
                   || '<!-- hidden --></body></html>' AS x
            FROM documents WHERE doc_id < 300
        ),
        s0 AS (SELECT doc_id, regexp_replace(x,
                   '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', ' ', 'g') AS x
               FROM h),
        s1 AS (SELECT doc_id, regexp_replace(x,
                   '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x
               FROM s0),
        s2 AS (SELECT doc_id, regexp_replace(x,
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x
               FROM s1),
        s3 AS (SELECT doc_id, regexp_replace(x,
                   '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2),
        s4 AS (SELECT doc_id, regexp_replace(x,
                   '(?s)<[^>]*>', ' ', 'g') AS x FROM s3),
        e0 AS (SELECT doc_id, regexp_replace(x, '(?i)&amp;', chr(1),
                   'g') AS x FROM s4),
        e1 AS (SELECT doc_id, regexp_replace(x, '(?i)&nbsp;', ' ',
                   'g') AS x FROM e0),
        e3 AS (SELECT doc_id, regexp_replace(x, '(?i)&lt;', '<',
                   'g') AS x FROM e1),
        e4 AS (SELECT doc_id, regexp_replace(x, '(?i)&gt;', '>',
                   'g') AS x FROM e3),
        e5 AS (SELECT doc_id, regexp_replace(x, '(?i)&quot;',
                   chr(34), 'g') AS x FROM e4),
        e6 AS (SELECT doc_id, regexp_replace(x, '(?i)&#39;',
                   chr(39), 'g') AS x FROM e5),
        e7 AS (SELECT doc_id, regexp_replace(x, '&[a-zA-Z]{2,8};',
                   ' ', 'g') AS x FROM e6),
        e8 AS (SELECT doc_id, replace(x, chr(1), '&') AS x FROM e7)
        SELECT doc_id,
               trim(regexp_replace(x, '\\s+', ' ', 'g')) AS text
        FROM e8 ORDER BY doc_id
    '''
    d["q_domain_caps"] = """
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN
                            'https://' || source || '.example.com/doc/'
                            || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 3 = 1 THEN
                            'https://user:pw@' || source
                            || '.example.com:8443/doc/'
                            || CAST(doc_id AS VARCHAR)
                        ELSE 'plain text ' || CAST(doc_id AS VARCHAR)
                   END AS url
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                       1)) AS host
            FROM u
        ),
        f AS (
            SELECT doc_id, host FROM h
            WHERE host IS NOT NULL AND host <> ''
        ),
        r AS (
            SELECT doc_id, host,
                   row_number() OVER (
                       PARTITION BY host
                       ORDER BY substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 12), doc_id) AS rn
            FROM f
        )
        SELECT doc_id, host FROM r WHERE rn <= 12
        ORDER BY host, doc_id
    """
    d["q_linear_scorer"] = """
        WITH w(token, weight) AS (
            VALUES ('spark', 0.8), ('join', 0.25), ('scan', -0.4),
                   ('batch', -0.15), ('window', 0.3), ('hash', -0.2)
        ),
        toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS t
            FROM documents
        ),
        counts AS (
            SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t
        ),
        dots AS (
            SELECT doc_id,
                   SUM(CAST(c AS DECIMAL(18,0))
                       * CAST(weight AS DECIMAL(19,9))) AS dot
            FROM counts JOIN w ON t = token GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(1.0 / (1.0 + exp(-(-0.1
                   + COALESCE(CAST(dot AS DOUBLE), 0.0)))), 6) AS score
        FROM documents d LEFT JOIN dots USING (doc_id)
        ORDER BY d.doc_id
    """
    d["q_mad_grouped"] = """
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
    """
    # exact config (no cap fires): the streamed MG state must equal the
    # one-shot word counts
    d["q_streaming_heavy_hitters"] = """
        SELECT t AS term, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS t
            FROM documents
        )
        GROUP BY t ORDER BY term
    """
    d["q_ohlc_bars"] = """
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
    """
    # Textbook one-window form — the engine side computes the same
    # curve WITHOUT any whole-vocabulary window (per-count split +
    # byte-bucketed within-count rank); bit-identical by construction
    # (integer cumsums, one double division, same round).
    d["q_vocab_curve_full"] = """
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS token
            FROM documents
        ),
        c AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
        t AS (SELECT sum(n) AS tot FROM c),
        r AS (
            SELECT token, CAST(n AS BIGINT) AS n,
                   row_number() OVER (ORDER BY n DESC, token) AS rank,
                   sum(n) OVER (ORDER BY n DESC, token
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
            FROM c
        )
        SELECT token, n, CAST(rank AS BIGINT) AS rank,
               round(cum * 1.0 / tot, 6) AS coverage
        FROM r, t ORDER BY rank
    """
    # Full MinHash replay (same structure as q_minhash_certified) with
    # the boilerplate-prepended corpus and the max_df=30 stop-shingle
    # filter applied before BOTH the signatures and the verify.
    d["q_minhash_stopshingle"] = """
        WITH base AS (
            SELECT doc_id,
                   'breaking news subscribe to our newsletter today '
                   || text AS text
            FROM (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            )
            WHERE (doc_id % 200000) < 1500
        ),
        norm AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM base
        ),
        sh0 AS (
            SELECT doc_id,
                   unnest(list_distinct(CASE WHEN length(t) >= 7
                       THEN list_transform(range(1, length(t) - 5),
                            i -> substring(t, CAST(i AS INT), 7))
                       ELSE [t] END)) AS s
            FROM norm
        ),
        dfreq AS (SELECT s, count(*) AS c FROM sh0 GROUP BY 1),
        sh AS (
            SELECT doc_id, s FROM sh0
            WHERE s NOT IN (SELECT s FROM dfreq WHERE c > 30)
        ),
        bh AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
            FROM sh
        ),
        perms(j, a, b) AS (VALUES """ + _minhash_perm_values() + """),
        sig AS (
            SELECT doc_id, j,
                   min((a * (((h % 2147483647) + 2147483647)
                             % 2147483647) + b)
                       % 2147483647) AS mh
            FROM bh, perms
            GROUP BY 1, 2
        ),
        band AS (
            SELECT doc_id, j // 8 AS band,
                   CAST('0x' || substring(md5(
                       string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)
                       || '|' || CAST(j // 8 AS VARCHAR)), 1, 15)
                       AS BIGINT) AS bhsh
            FROM sig GROUP BY doc_id, j // 8
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM band x JOIN band y
              ON x.band = y.band AND x.bhsh = y.bhsh
            WHERE x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS shared
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               round(shared * 1.0 / (sa.sz + sb.sz - shared), 6)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8
    """
    # Corpus-relative cap: IDENTICAL pipeline to q_minhash_stopshingle
    # except the absolute df filter (c > 30) becomes the replayed
    # fraction→count resolution — ceil(0.06 · count of non-null texts)
    # as a scalar subquery (505 docs at sf0.01 → cap 31). Deriving the
    # SQL from the sibling keeps every other stage bit-identical by
    # construction, so a divergence can only come from the resolution
    # rule under test.
    _frac_marker = "WHERE c > 30"
    if _frac_marker not in d["q_minhash_stopshingle"]:
        # fail LOUDLY: a silent no-op replace would degrade the frac
        # certification to a vacuous copy of the absolute-cap oracle
        raise RuntimeError(
            "q_minhash_stopshingle_frac derivation marker "
            f"{_frac_marker!r} missing from the sibling SQL — update "
            "the marker alongside any reformat"
        )
    d["q_minhash_stopshingle_frac"] = d["q_minhash_stopshingle"].replace(
        _frac_marker,
        "WHERE c > (SELECT CAST(ceil(0.06 * count(text)) AS BIGINT) "
        "FROM base)",
    )
    # output='clusters' replay: the IDENTICAL stop-shingle pair
    # pipeline (nested WITH), closed by the same recursive-CTE
    # min-label closure q_dedup_clusters certifies — so the derived
    # SQL can only diverge where the option under test does.
    d["q_minhash_clusters"] = f"""
        WITH RECURSIVE pairs AS ({d["q_minhash_stopshingle"]}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT e.a, reach.r
            FROM edges e JOIN reach ON e.b = reach.node
        )
        SELECT node, min(r) AS component
        FROM reach
        GROUP BY node
    """
    # stops= precomputed path (round-10): shingle_stop_list(max_df=30)
    # on the SAME corpus yields exactly the df>30 shingles, so the
    # exclusion — and every downstream stage — is definitionally the
    # sibling's; the oracle is its SQL verbatim. What a divergence
    # would certify: the stops= anti-join plumbing, the no-cache
    # pre-pass, and the guard bypass on the Spark side.
    d["q_minhash_stops_supplied"] = d["q_minhash_stopshingle"]
    # SimHash face of the same identity (round-11): stop list computed
    # at the same max_df=30 on the same corpus -> exclusion and every
    # downstream stage definitionally equal the inline sibling's; the
    # oracle is its SQL verbatim (assigned below, after the sibling's
    # literal is defined). A divergence certifies the simhash stops=
    # anti-join plumbing, the no-cache pre-pass, and the guard bypass.
    # SimHash replay (same structure as q_simhash_certified) with the
    # boilerplate-prepended corpus and the max_df=30 stop-shingle
    # filter applied before the per-bit majorities.
    d["q_simhash_stopshingle"] = """
        WITH base AS (
            SELECT doc_id,
                   'breaking news subscribe to our newsletter today '
                   || text AS text
            FROM (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            )
            WHERE (doc_id % 200000) < 1500
        ),
        norm AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM base
        ),
        sh0 AS (
            SELECT doc_id,
                   unnest(list_distinct(CASE WHEN length(t) >= 7
                       THEN list_transform(range(1, length(t) - 5),
                            i -> substring(t, CAST(i AS INT), 7))
                       ELSE [t] END)) AS s
            FROM norm
        ),
        dfreq AS (SELECT s, count(*) AS c FROM sh0 GROUP BY 1),
        sh AS (
            SELECT doc_id, s FROM sh0
            WHERE s NOT IN (SELECT s FROM dfreq WHERE c > 30)
        ),
        bh AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
            FROM sh
        ),
        counts AS (SELECT doc_id, count(*) AS n FROM bh GROUP BY 1),
        bits AS (
            SELECT doc_id, r.bit,
                   CAST(sum((h >> CAST(r.bit AS INT)) & 1) AS BIGINT)
                       AS ones
            FROM bh, (SELECT unnest(range(0, 60)) AS bit) r
            GROUP BY 1, 2
        ),
        sig AS (
            SELECT b.doc_id,
                   CAST(sum(CASE WHEN 2 * b.ones >= c.n
                            THEN (CAST(1 AS BIGINT) << CAST(b.bit AS INT))
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM bits b JOIN counts c ON b.doc_id = c.doc_id
            GROUP BY 1
        ),
        chunked AS (
            SELECT doc_id, simhash, i.ci,
                   (simhash >> CAST(i.ci * 9 AS INT)) & 511 AS cv
            FROM sig, (SELECT unnest(range(0, 7)) AS ci) i
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                   x.simhash AS sa, y.simhash AS sb
            FROM chunked x JOIN chunked y
              ON x.ci = y.ci AND x.cv = y.cv
            WHERE x.doc_id < y.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= 6
    """
    # (see the definitional-identity note above q_simhash_stopshingle)
    d["q_simhash_stops_supplied"] = d["q_simhash_stopshingle"]
    # df table + rank-arithmetic type-1 quantiles + the same three
    # double divisions (exact integer/hugeint sums divided once).
    d["q_shingle_profile"] = """
        WITH norm AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents WHERE text IS NOT NULL
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(CASE WHEN length(t) >= 7
                       THEN list_transform(range(1, length(t) - 5),
                            i -> substring(t, CAST(i AS INT), 7))
                       ELSE [t] END)) AS s
            FROM norm
        ),
        dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        nd AS (SELECT count(*) AS n_docs FROM documents
               WHERE text IS NOT NULL),
        sums AS (
            SELECT count(*) AS n_distinct_shingles,
                   CAST(sum(df) AS BIGINT) AS total_occurrences,
                   max(df) AS df_max,
                   CAST(sum(df * (df - 1)) AS DOUBLE) AS pair_mass
            FROM dfreq
        ),
        ranked AS (
            SELECT df, row_number() OVER (ORDER BY df) - 1 AS rn
            FROM dfreq
        ),
        m AS (SELECT count(*) AS m FROM dfreq),
        quant AS (
            SELECT
                max(CASE WHEN rn = CAST(floor(0.5 * (m - 1)) AS BIGINT)
                    THEN df END) AS df_p50,
                max(CASE WHEN rn = CAST(floor(0.9 * (m - 1)) AS BIGINT)
                    THEN df END) AS df_p90,
                max(CASE WHEN rn = CAST(floor(0.99 * (m - 1)) AS BIGINT)
                    THEN df END) AS df_p99
            FROM ranked, m
        )
        SELECT CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_distinct_shingles AS BIGINT) AS n_distinct_shingles,
               total_occurrences,
               CAST(df_max AS BIGINT) AS df_max,
               CAST(df_p50 AS BIGINT) AS df_p50,
               CAST(df_p90 AS BIGINT) AS df_p90,
               CAST(df_p99 AS BIGINT) AS df_p99,
               round(CAST(df_max AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                   AS top_share,
               round(
                   (pair_mass / (CAST(n_docs AS DOUBLE)
                                 * (CAST(n_docs AS DOUBLE) - 1)))
                   / (2.0 * (CAST(total_occurrences AS DOUBLE)
                             / CAST(n_docs AS DOUBLE))
                      - (pair_mass / (CAST(n_docs AS DOUBLE)
                                      * (CAST(n_docs AS DOUBLE) - 1)))),
                   6) AS bg_jaccard_est
        FROM sums, nd, quant
    """
    # -- NEW round 12: X12 model-eval analytics ------------------------
    # Tie-aware AUC via the integer 2U rank-sum: the oracle's window
    # cumulative (negatives strictly below each score) replays
    # _hist_cumsum's inclusive=False semantics; 2U and 2·P·N stay
    # integers until the one rounded double division, so the engines
    # agree bit-for-bit.
    d["q_auc_roc"] = f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        h AS (
            SELECT score,
                   CAST(SUM(label) AS BIGINT) AS np,
                   CAST(SUM(1 - label) AS BIGINT) AS nn
            FROM sc GROUP BY score
        ),
        c AS (
            SELECT np, nn,
                   COALESCE(CAST(SUM(nn) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum
            FROM h
        )
        SELECT CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                    THEN ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE)
                               / (2.0 * SUM(np) * SUM(nn)), 6)
               END AS auc,
               CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pos,
               CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_neg
        FROM c
    """
    # Per-language AUC: identical 2U algebra, window partitioned by
    # lang — replays _hist_cumsum(by=["lang"]) exactly.
    d["q_auc_roc_grouped"] = f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        h AS (
            SELECT lang, score,
                   CAST(SUM(label) AS BIGINT) AS np,
                   CAST(SUM(1 - label) AS BIGINT) AS nn
            FROM sc GROUP BY lang, score
        ),
        c AS (
            SELECT lang, np, nn,
                   COALESCE(CAST(SUM(nn) OVER (
                       PARTITION BY lang ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum
            FROM h
        )
        SELECT lang,
               CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                    THEN ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE)
                               / (2.0 * SUM(np) * SUM(nn)), 6)
               END AS auc,
               CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pos,
               CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_neg
        FROM c GROUP BY lang ORDER BY lang
    """
    # Per-language reliability table: same clamped-bin agg keyed on
    # (lang, bin); averages exact (binary-fraction scores).
    d["q_calibration_grouped"] = f"""
        WITH sc AS ({_SCORED_DOCS_SQL})
        SELECT lang,
               CAST(GREATEST(0, LEAST(9, FLOOR(score * 10))) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(score), 6) AS mean_score,
               ROUND(AVG(label), 6) AS frac_pos,
               ROUND(ABS(AVG(label) - AVG(score)), 6) AS gap
        FROM sc
        GROUP BY 1, 2 ORDER BY lang, bin
    """
    # Per-language threshold sweep: integer confusion counts per
    # (lang, threshold), ratios as single rounded divisions.
    d["q_threshold_sweep_grouped"] = f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        t(threshold) AS (VALUES (0.25), (0.5), (0.75)),
        agg AS (
            SELECT sc.lang, t.threshold,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM sc, t GROUP BY sc.lang, t.threshold
        )
        SELECT lang, CAST(threshold AS DOUBLE) AS threshold,
               tp, fp, fn, tn,
               ROUND(CASE WHEN tp + fp > 0
                          THEN tp / CAST(tp + fp AS DOUBLE) END, 6)
                   AS precision,
               ROUND(CASE WHEN tp + fn > 0
                          THEN tp / CAST(tp + fn AS DOUBLE) END, 6)
                   AS recall,
               ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0
                          AND (tp / CAST(tp + fp AS DOUBLE)
                               + tp / CAST(tp + fn AS DOUBLE)) > 0
                          THEN 2 * (tp / CAST(tp + fp AS DOUBLE))
                               * (tp / CAST(tp + fn AS DOUBLE))
                               / (tp / CAST(tp + fp AS DOUBLE)
                                  + tp / CAST(tp + fn AS DOUBLE)) END, 6)
                   AS f1
        FROM agg ORDER BY lang, threshold
    """
    # Certified as the verdict prescribed: TWO grouped-AUC window
    # passes (the q_auc_roc_grouped SQL, once per scoring run)
    # FULL-OUTER-joined on the slice key. The candidate run's score
    # swaps in the independently-salted md5 draw on fr/zh only
    # (_score_label_v2); both runs share the label derivation.
    _AUC_BY_LANG = """
        SELECT lang,
               CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                    THEN ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE)
                               / (2.0 * SUM(np) * SUM(nn)), 6)
               END AS auc,
               CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pos,
               CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_neg
        FROM (
            SELECT lang, np, nn,
                   COALESCE(CAST(SUM(nn) OVER (
                       PARTITION BY lang ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum
            FROM (
                SELECT lang, score,
                       CAST(SUM(label) AS BIGINT) AS np,
                       CAST(SUM(1 - label) AS BIGINT) AS nn
                FROM {src} GROUP BY lang, score
            )
        ) GROUP BY lang
    """
    d["q_auc_drift"] = f"""
        WITH sc_base AS ({_SCORED_DOCS_SQL}),
        sc_cand AS (
            SELECT lang, doc_id,
                   CASE WHEN lang IN ('fr', 'zh')
                        THEN CAST('0x' || substr(md5('v2' ||
                                 CAST(doc_id AS VARCHAR)), 1, 3)
                                 AS BIGINT) / 4096.0
                        ELSE score END AS score,
                   label
            FROM sc_base
        ),
        ab AS ({_AUC_BY_LANG.format(src="sc_base")}),
        ac AS ({_AUC_BY_LANG.format(src="sc_cand")})
        SELECT COALESCE(ab.lang, ac.lang) AS lang,
               ab.auc AS auc_base,
               ac.auc AS auc_cand,
               ROUND(ac.auc - ab.auc, 6) AS auc_delta,
               ab.n_pos AS n_pos_base,
               ab.n_neg AS n_neg_base,
               ac.n_pos AS n_pos_cand,
               ac.n_neg AS n_neg_cand
        FROM ab FULL OUTER JOIN ac ON ab.lang = ac.lang
        ORDER BY lang
    """
    # ECE in sum form: Σ_bins |Σlabel − Σscore| / N — numerator exact
    # (integer minus binary-fraction sum), ONE division, rounded once;
    # the delta subtracts the UNROUNDED per-run divisions (mirroring
    # the operator) before its own single rounding.
    _ECE_BY_LANG = """
        SELECT lang,
               SUM(ad) / SUM(n) AS e_raw,
               CAST(SUM(n) AS BIGINT) AS n
        FROM (
            SELECT lang,
                   CAST(GREATEST(0, LEAST(9, FLOOR(score * 10)))
                        AS INT) AS bin,
                   ABS(CAST(SUM(label) AS DOUBLE) - SUM(score)) AS ad,
                   COUNT(*) AS n
            FROM {src} GROUP BY 1, 2
        ) GROUP BY lang
    """
    d["q_ece_drift"] = f"""
        WITH sc_base AS ({_SCORED_DOCS_SQL}),
        sc_cand AS (
            SELECT lang, doc_id,
                   CASE WHEN lang IN ('fr', 'zh')
                        THEN CAST('0x' || substr(md5('v2' ||
                                 CAST(doc_id AS VARCHAR)), 1, 3)
                                 AS BIGINT) / 4096.0
                        ELSE score END AS score,
                   label
            FROM sc_base
        ),
        eb AS ({_ECE_BY_LANG.format(src="sc_base")}),
        ec AS ({_ECE_BY_LANG.format(src="sc_cand")})
        SELECT COALESCE(eb.lang, ec.lang) AS lang,
               ROUND(eb.e_raw, 6) AS ece_base,
               ROUND(ec.e_raw, 6) AS ece_cand,
               ROUND(ec.e_raw - eb.e_raw, 6) AS ece_delta,
               eb.n AS n_base,
               ec.n AS n_cand
        FROM eb FULL OUTER JOIN ec ON eb.lang = ec.lang
        ORDER BY lang
    """
    # scores are binary fractions k/2^12 → the double averages are
    # summation-order-exact (see _scored_docs), so avg() matches
    d["q_calibration_bins"] = f"""
        WITH sc AS ({_SCORED_DOCS_SQL})
        SELECT CAST(GREATEST(0, LEAST(9, FLOOR(score * 10))) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(score), 6) AS mean_score,
               ROUND(AVG(label), 6) AS frac_pos,
               ROUND(ABS(AVG(label) - AVG(score)), 6) AS gap
        FROM sc
        GROUP BY 1 ORDER BY bin
    """
    d["q_threshold_sweep"] = f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        t(threshold) AS (VALUES (0.25), (0.5), (0.625), (0.75), (0.875)),
        agg AS (
            SELECT t.threshold,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM sc, t GROUP BY t.threshold
        )
        SELECT CAST(threshold AS DOUBLE) AS threshold, tp, fp, fn, tn,
               ROUND(CASE WHEN tp + fp > 0
                          THEN tp / CAST(tp + fp AS DOUBLE) END, 6)
                   AS precision,
               ROUND(CASE WHEN tp + fn > 0
                          THEN tp / CAST(tp + fn AS DOUBLE) END, 6)
                   AS recall,
               ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0
                          AND (tp / CAST(tp + fp AS DOUBLE)
                               + tp / CAST(tp + fn AS DOUBLE)) > 0
                          THEN 2 * (tp / CAST(tp + fp AS DOUBLE))
                               * (tp / CAST(tp + fn AS DOUBLE))
                               / (tp / CAST(tp + fp AS DOUBLE)
                                  + tp / CAST(tp + fn AS DOUBLE)) END, 6)
                   AS f1
        FROM agg ORDER BY threshold
    """
    return d

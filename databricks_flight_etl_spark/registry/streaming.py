"""Structured Streaming registry queries: each stages its input as
parquet micro-batches, drains them with ``processAllAvailable`` and
returns the sink's rows as a batch frame the oracle can compare (SURVEY
§2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_flight_etl_spark.registry._common import (
    _QUANTILES_EXACT_SQL, _minhash_perm_values, query, _t,
)
from databricks_flight_etl_spark.schemas import TESTDATA_SCHEMAS
from databricks_flight_etl_spark.session import tune


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


# The streaming candidate detector must emit exactly the
# band-collision cross pairs the full md5-family replay finds.
@query(oracle="""
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
        """)
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


# The batch enrichment join + aggregate.
@query(oracle="""
            SELECT c.c_mktsegment,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
                         AS DOUBLE), 2) AS revenue
            FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
        """)
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


# The batch interval join the replayed stream must equal.
@query(oracle="""
            SELECT v.user_id, v.event_id AS view_id,
                   p.event_id AS purchase_id
            FROM events v JOIN events p
              ON v.user_id = p.user_id
             AND v.event_type = 'view' AND p.event_type = 'purchase'
             AND p.ts >= v.ts
             AND p.ts <= v.ts + INTERVAL 2 HOUR
            WHERE v.user_id < 30 AND p.user_id < 30
            ORDER BY v.user_id, view_id, purchase_id
        """)
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


# The stream-maintained registers equal the batch sketch, so
# the oracle is the same register rebuild as q_hll_registers.
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


@query(oracle=_QUANTILES_EXACT_SQL)
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


@query(oracle="""
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        """)
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


# The stream replays every event twice; the dedup sink must hold
# each exactly once — the batch DISTINCT of a doubled input is
# just the input.
@query(oracle="""
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                   value, props
            FROM events
        """)
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


# Batch replay of gap-based sessionization: 30-min-gap break
# flags → running-sum session ids → one row per session with
# its min-ts start and event count. The streaming side emits
# exactly the closed sessions, which (after the sentinel
# advances the watermark) is all of them.
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
        """)
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


# exact config (no cap fires): the streamed MG state must equal the
# one-shot word counts
@query(oracle="""
        SELECT t AS term, CAST(count(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS t
            FROM documents
        )
        GROUP BY t ORDER BY term
    """)
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


@query(oracle="""
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
    """)
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

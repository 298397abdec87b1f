"""Streaming jobs: windowed per-day counts and streaming dedup.

File-source streams (parquet dirs) drive local smoke tests via the
memory sink + processAllAvailable(); production swaps the source/sink
(Kafka, Delta) without touching the transformation, which is the point
of Structured Streaming's unified API.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import local_df

# indirection so tests can inject commit-completion between retry
# attempts without patching the global time module (Spark internals
# also call time.sleep, so a global patch would fire recursively)
_retry_sleep = time.sleep

__all__ = [
    "bounded_shuffle_partitions",
    "streaming_day_counts",
    "streaming_dedup",
    "streaming_sessionize",
    "streaming_running_counts",
    "streaming_upsert_parquet",
    "run_stream_to_memory",
    "streaming_hll",
    "streaming_interval_join",
    "streaming_enrich",
    "streaming_minhash_candidates",
    "streaming_heavy_hitters",
    "streaming_drift_monitor",
    "streaming_drift_readout",
]


import contextlib


@contextlib.contextmanager
def bounded_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Temporarily pin ``spark.sql.shuffle.partitions`` around a
    micro-batch stream run, restoring the previous value on exit.

    Stateful streaming operators instantiate one state store PER
    shuffle partition PER operator, and the partition count is frozen
    into the checkpoint at first start — at the harness's smoke scale
    (KBs per trigger) the session default of 32 is pure fixed
    overhead: 32 state store inits + maintenance threads + tasks per
    micro-batch per stateful op. Measured on the 10-query streaming
    twin suite at sf0.001: 35 s at 32 partitions → 18.7 s at 8 (same
    results — the twins are certified against batch oracles either
    way). At production scale pick the partition count from the
    per-trigger volume instead, and size it ONCE: it cannot change
    under an existing checkpoint without a state rebuild."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — the
    same resolution Spark's own writers use, so the swap helpers below
    work on any supported scheme (local, HDFS, …), not just local
    paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _read_state(
    spark: SparkSession, state_dir: str, rollback: bool = True
) -> DataFrame | None:
    """Read foreachBatch fold state, or None ONLY when no committed
    state exists yet. Unlike a bare ``except Exception`` around the
    read (the round-5 ADVICE finding), a corrupted directory or a
    transient FS error RAISES instead of silently restarting the fold
    from scratch.

    ``rollback=True`` (the FOLD path — foreachBatch is single-writer,
    so no commit can be in flight) also rolls back a crash that died
    between the two renames of :func:`_commit_state` (state gone,
    ``.__old`` intact): the previous version is restored and the
    interrupted batch — whose checkpoint never committed — replays on
    top of it.

    ``rollback=False`` (read-only observers like
    :func:`streaming_drift_readout`, documented as callable at any
    time) NEVER mutates: renaming ``.__old`` back while a live
    ``_commit_state`` sits between its two renames would make the
    commit's ``rename(tmp, path)`` land on an occupied path and kill
    the streaming query (the round-6 ADVICE race). Instead the
    ``.__old`` copy is read in place — a legitimate point-in-time view
    of the last commit — and pinned eagerly (localCheckpoint) so the
    commit deleting ``.__old`` moments later cannot yank files out
    from under the caller's action."""
    fs, path = _hadoop_fs(spark, state_dir)
    old_fs, old_path = _hadoop_fs(spark, state_dir + ".__old")
    if not fs.exists(path) and old_fs.exists(old_path):
        if not rollback:
            # Only swallow a read error when the in-flight commit
            # finished meanwhile (live dir back → fall through to the
            # live read). A single post-failure snapshot can MISREAD a
            # healthy system as corrupt: commit N deletes .__old
            # mid-scan (read fails), then commit N+1's rename(path →
            # .__old) opens before the re-check — live absent AND
            # .__old present again, yet nothing is wrong. So retry the
            # point-in-time read a few times; only if the crash shape
            # persists across every attempt AND the read keeps failing
            # is it real corruption — raise rather than report 'no
            # state' (the silent-restart class rollback=True raises on).
            last_exc: Exception | None = None
            for _ in range(3):
                if fs.exists(path) or not old_fs.exists(old_path):
                    break  # a commit moved on — live/None paths below
                try:
                    return spark.read.parquet(
                        state_dir + ".__old"
                    ).localCheckpoint()
                except Exception as exc:  # noqa: BLE001 - see retry note
                    last_exc = exc
                    _retry_sleep(0.25)
            else:
                # One FINAL layout re-check before declaring corruption:
                # a commit that completes DURING the last read attempt
                # (deleting .__old after that iteration's pre-check)
                # leaves a healthy layout whose snapshot read failed
                # for a benign reason — fall through to the live/None
                # paths instead of raising on a healthy system.
                if not fs.exists(path) and old_fs.exists(old_path):
                    raise IOError(
                        f"state snapshot unreadable and crash layout "
                        f"persistent: {state_dir}.__old"
                    ) from last_exc
        elif not fs.rename(old_path, path):
            raise IOError(
                f"state rollback rename failed: {state_dir}.__old"
            )
    if not fs.exists(path):
        return None
    return spark.read.parquet(state_dir)


def _commit_state(df: DataFrame, state_dir: str) -> None:
    """Atomically swap ``df`` in as the new fold state: write to a
    sibling temp dir, then rename current→``.__old``, temp→current,
    drop ``.__old``. The state dir is never delete-then-write (the
    round-5 ADVICE finding: ``mode('overwrite')`` on the live dir
    loses state+watermark together on a mid-write crash); every crash
    point leaves either the previous committed state readable or the
    ``.__old`` copy that :func:`_read_state` rolls back to. Also makes
    the old localCheckpoint materialization unnecessary — the plan
    reads the live dir and writes the temp dir, never its own input."""
    spark = df.sparkSession
    tmp = state_dir + ".__tmp"
    # coalesce(1): fold state is sketch-sized by design (registers /
    # heavy-hitter rows / histogram bins — KBs), so one write task and
    # one file beats shuffle-partition-many near-empty files that the
    # NEXT batch's state read has to list and open. A state that
    # genuinely outgrows one task's memory should shrink its sketch
    # parameters, not its file count.
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    fs, path = _hadoop_fs(spark, state_dir)
    _, tmp_path = _hadoop_fs(spark, tmp)
    _, old_path = _hadoop_fs(spark, state_dir + ".__old")
    if fs.exists(old_path):
        fs.delete(old_path, True)
    if fs.exists(path) and not fs.rename(path, old_path):
        raise IOError(f"state swap rename failed: {state_dir}")
    if not fs.rename(tmp_path, path):
        raise IOError(f"state swap rename failed: {tmp}")
    fs.delete(old_path, True)


def streaming_day_counts(
    stream: DataFrame, ts_col: str = "ts", watermark: str = "1 day"
) -> DataFrame:
    """Per-day event counts over a stream — the streaming twin of
    operators.timeliness.per_period_counts.

    Watermark bounds state: late rows beyond ``watermark`` are dropped
    and day windows finalize, so state size is O(open windows), not
    O(stream length). Output: (day date, n) in update mode.
    """
    windowed = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return windowed.select(F.col("w.start").cast("date").alias("day"), "n")


def streaming_dedup(
    stream: DataFrame, keys: list[str], ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup on a key set — the streaming twin of
    operators.uniqueness.dedup. dropDuplicatesWithinWatermark keeps
    per-key state only for the watermark horizon (bounded memory at
    100 TB/day feeds; plain dropDuplicates on a stream grows state
    forever)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators.sessions.session_counts, via the
    built-in ``session_window`` (gap-based, merging windows as events
    arrive). A session closes — and its row finalizes — once the
    watermark passes its end + gap. Output: (user, session_start,
    session_end, n_events) per closed session, append mode.

    Batch/stream parity note: session *identity* differs (the batch
    operator numbers sessions 1..n per user; here each session is keyed
    by its time window), but the partitioning is identical — same gap
    rule, same event→session assignment.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_running_counts(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (n_events, sum_value) that survives across micro-batches —
    the escape hatch for stateful logic the built-in windowed aggs can't
    express (counters, custom sketches, online stats).

    State is one tiny tuple per key, Arrow-batched per group; emits the
    updated running totals for keys touched in each batch (update mode).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_upsert_parquet(
    stream: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
):
    """foreachBatch sink: key-idempotent append to a parquet directory.

    Each micro-batch dedups itself on ``keys`` and anti-joins the keys
    already in the sink before appending — re-delivered rows (at-least-
    once sources, batch replays after failure) never duplicate output.
    This is the escape hatch for sinks/logic writeStream can't express
    (multi-table writes, merges, JDBC); with a transactional table
    format the anti-join becomes a MERGE. Returns the StreamingQuery —
    caller stops it.

    Scale note: the anti-join rescans sink keys each batch; at 100 TB
    keep the sink partitioned (prune to the partitions a batch can
    touch) or use a format with a key index.
    """
    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.dropDuplicates(keys)
        # existence check, not a bare try/except (the ADVICE-r5 class):
        # a transient read error must RAISE — swallowing it would skip
        # the anti-join and append duplicate keys, silently breaking
        # the operator's whole idempotence contract
        fs, sink = _hadoop_fs(spark, path)
        if fs.exists(sink):
            existing = spark.read.parquet(path).select(*keys).distinct()
            new = new.join(existing, keys, "left_anti")
        new.write.mode("append").parquet(path)

    return (
        stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_stream_to_memory(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    transform,
    query_name: str = "stream_out",
    output_mode: str = "update",
) -> DataFrame:
    """Smoke-test runner: parquet-dir file source → ``transform`` →
    memory sink; processes everything available synchronously and
    returns the sink table as a batch DataFrame."""
    stream = (
        spark.readStream.schema(schema).format("parquet").load(source_dir)
    )
    out = transform(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def streaming_hll(
    stream: DataFrame, col: str, p: int = 12
) -> DataFrame:
    """Streaming twin of ``sketches.hll_build``: the SAME register
    table, maintained incrementally. MAX is a monotone aggregate, so
    the state store holds exactly one int per touched register —
    bounded by 2^p forever, no watermark needed — and after any prefix
    of the stream the registers equal the batch sketch of that prefix
    (the certification runs the full replay and compares against the
    batch/DuckDB registers). Complete output mode: the sink receives
    the whole (tiny) register table each trigger."""
    from ..operators.sketches import hll_build

    return hll_build(stream, col, p=p)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream INNER join on ``key`` with an event-time interval
    bound: right.ts ∈ [left.ts + lower, left.ts + upper]. Watermarks on
    BOTH sides let the state store evict rows once they can no longer
    match (without both bounds + watermarks a stream-stream join keeps
    state forever). After a full replay the result equals the batch
    interval join — which is what the certification runs as SQL."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}")
           >= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{ts_col}")
           <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner")


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a stream against a BATCH
    dimension table (broadcast per micro-batch — the static side is
    re-read each trigger, so a dimension update is picked up without
    restarting the query). The everyday 'attach user/product metadata
    to a live feed' shape; stateless, so any output mode works."""
    return stream.join(F.broadcast(dim), on, how)


def streaming_minhash_candidates(
    stream: DataFrame,
    index_bands: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
    hash_family: str = "xxhash64",
    broadcast_max_rows: int = 8_000_000,
) -> DataFrame:
    """Streaming near-dup candidate detection against a STATIC
    ``dedup.minhash_bands`` index — 'flag incoming documents that look
    like something already in the accepted corpus, as they arrive'.

    The stream side uses the ROW-WISE band computation
    (``minhash_bands_rowwise``: higher-order expressions, no shuffle —
    a streaming aggregate would otherwise be required), then a
    stream-static equi-join on the 12-byte (band, band_hash) key, then
    streaming dropDuplicates on the pair. The broadcast hint on the
    index is GATED on its measured size (the index is O(corpus ×
    bands) — billions of rows for a large accepted corpus; an
    unconditional hint would OOM); above the gate the join shuffles
    the micro-batch instead. State is one entry per DISTINCT emitted
    pair (bounded by true candidates, not by stream length). After a
    full replay the result equals the batch index-probe candidate
    set — which is what the certification compares, and the oracle SQL
    replays for the md5 family.

    Candidates only: exact-Jaccard VERIFY needs the corpus text — run
    ``dedup.minhash_probe`` (batch) over the flagged ids, or a
    foreachBatch hook, as the second stage.
    """
    from ..operators.dedup import minhash_bands_rowwise

    nb = minhash_bands_rowwise(
        stream.select(F.col(id_col), F.col(text_col)),
        text_col, id_col, num_perm, bands, shingle_k, hash_family,
    ).withColumnRenamed(id_col, "new_id")
    idx = index_bands.select(
        F.col(id_col).alias("corpus_id"), "band", "band_hash"
    )
    if broadcast_max_rows and idx.count() <= broadcast_max_rows:
        idx = F.broadcast(idx)
    return (
        nb.join(idx, ["band", "band_hash"])
        .where(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )


def streaming_mrl_sketch(
    stream: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 256,
):
    """foreachBatch-maintained MRL quantile sketch: each micro-batch is
    sketched (one narrow pass over the batch), pooled with the persisted
    state, re-compacted, and written back — so the state parquet stays
    O(k·log n) rows FOREVER while summarizing the whole stream's value
    distribution (the bounded-state streaming-percentiles pattern; a
    raw streaming percentile would need unbounded state). Returns the
    StreamingQuery — caller stops it; read ``state_dir`` +
    ``mrl_quantiles`` for the current estimate at any time.

    Certification: with k ≥ total rows no collapse fires in the batch
    sketches OR the merges, so after a full replay the state reads out
    EXACTLY the batch type-1 quantiles — the same oracle as
    quantiles_exact (incremental-merge ≡ one-shot is only bit-exact in
    the collapse-free config; production k is rows-only, like every
    approximate twin).

    Durability: the state swap is ATOMIC — the merged state is written
    to a sibling temp dir and renamed into place (:func:`_commit_state`;
    the live dir is never delete-then-write, so a crash mid-commit
    always leaves a committed version recoverable), and only
    no-committed-state-yet reads as "first batch" — a corrupted dir or
    transient FS error raises instead of silently discarding the
    accumulated state (:func:`_read_state`).

    Idempotent under micro-batch REPLAY (the foreachBatch contract:
    after a crash between the state write and the checkpoint commit,
    Spark re-delivers the same batch_id): the last-applied batch_id is
    stored IN the state parquet (a constant ``__last_batch`` column, so
    state + watermark commit in one atomic swap — a sidecar file
    could desync), and a batch whose id is ≤ the stored watermark is
    skipped instead of being folded twice. Readers are unaffected
    (``mrl_quantiles`` touches only value/weight)."""
    from ..operators.sketches import mrl_merge, mrl_sketch

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _read_state(spark, state_dir)
        if prev is not None and "__last_batch" in prev.columns:
            last = prev.agg(F.max("__last_batch")).first()[0]
            if last is not None and batch_id <= last:
                return  # replayed batch — already folded, skip
        pooled = mrl_sketch(batch_df.select(col), col, k=k)
        if prev is not None:
            pooled = prev.select(
                "level", "value", "weight").unionByName(pooled)
        merged = mrl_merge(pooled, k=k).withColumn(
            "__last_batch", F.lit(batch_id).cast("long")
        )
        _commit_state(merged, state_dir)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    capacity: int = 4096,
):
    """foreachBatch-maintained Misra-Gries heavy-hitter state: each
    micro-batch's exact value counts are summed into the persisted
    (term, cnt) state; when the counter table exceeds ``capacity``, the
    classic mergeable-MG cap fires — subtract the (capacity+1)-th
    largest count from every counter and drop the non-positive — so
    the state parquet stays ≤ capacity rows FOREVER while every value
    with true frequency > N/(capacity+1) is guaranteed to survive
    (Misra & Gries 1982; merge rule per Agarwal et al., PODS'12).
    Returns the StreamingQuery; read ``state_dir`` any time for the
    current counters (cnt is a lower bound on the true count, exact
    when no cap has fired — i.e. whenever capacity ≥ distinct terms,
    the certifiable configuration).

    Same durability contract as :func:`streaming_mrl_sketch`: the
    last-applied batch_id travels IN the state parquet (atomic with
    the counters), replayed batches are skipped, the state swap is a
    temp-write + rename (:func:`_commit_state`, never delete-then-
    write on the live dir), and only no-state-yet reads as first
    batch — other read failures raise (:func:`_read_state`)."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _read_state(spark, state_dir)
        if prev is not None and "__last_batch" in prev.columns:
            last = prev.agg(F.max("__last_batch")).first()[0]
            if last is not None and batch_id <= last:
                return  # replayed batch — already folded
        fresh = (
            batch_df.select(F.col(col).cast("string").alias("term"))
            .where(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if prev is not None:
            fresh = (
                prev.select("term", "cnt").unionByName(fresh)
                .groupBy("term").agg(F.sum("cnt").alias("cnt"))
            )
        n_counters = fresh.count()
        if n_counters > capacity:
            # (capacity+1)-th largest count — a bounded (capacity+1)-row
            # top-k to the driver, same budget class as the MRL merge
            thresh = (
                fresh.orderBy(F.desc("cnt")).limit(capacity + 1)
                .agg(F.min("cnt")).first()[0]
            )
            fresh = fresh.select(
                "term", (F.col("cnt") - F.lit(thresh)).alias("cnt")
            ).where(F.col("cnt") > 0)
        merged = fresh.withColumn(
            "__last_batch", F.lit(batch_id).cast("long")
        )
        _commit_state(merged, state_dir)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _drift_bucket(col: str, lo: float, hi: float, bins: int):
    """Fixed-bin bucket index for the drift monitor: equi-width over
    the REFERENCE (train-time) bounds — the production drift-monitor
    convention, and what makes the stream state bounded (≤ bins + 2
    counters forever). Out-of-range stream values land in the edge
    bins (index -1 / ``bins``), which is itself a drift signal. All
    arithmetic is IEEE double (sub/div/mul correctly rounded), so any
    engine assigns identical buckets — the q_histogram certification
    precedent."""
    v = F.col(col).cast("double")
    if hi > lo:
        idx = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * bins)
        return (
            F.when(v < F.lit(lo), F.lit(-1))
            .when(v >= F.lit(hi), F.lit(bins))
            .otherwise(F.least(F.lit(bins - 1), idx))
            .cast("int")
        )
    return F.when(v == F.lit(lo), F.lit(0)).otherwise(
        F.when(v < F.lit(lo), F.lit(-1)).otherwise(F.lit(bins))
    ).cast("int")


def streaming_drift_monitor(
    stream: DataFrame,
    col: str,
    reference: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    bins: int = 256,
):
    """foreachBatch-maintained distribution-drift state: the stream's
    values are counted into FIXED equi-width bins derived from the
    ``reference`` distribution's min/max (one setup action, like the
    IVF fit), so the persisted state is ≤ bins + 2 rows FOREVER no
    matter how continuous the feature or how long the stream — the
    bounded-state answer to "run a KS drift test against the training
    snapshot, continuously". Values outside the reference range count
    into explicit under/overflow bins (their growth is itself drift).

    Read the drift at any time with :func:`streaming_drift_readout`
    (binned two-sample KS of stream-so-far vs reference; CDFs compared
    at bin edges — underestimates the exact D by at most the largest
    single-bin mass, the documented ``max_points`` trade of the batch
    operator).

    Durability contract shared with :func:`streaming_mrl_sketch`:
    atomic temp-write + rename state swap (:func:`_commit_state`),
    narrow no-state-yet detection (:func:`_read_state`), and the
    last-applied batch_id stored IN the state parquet so replayed
    batches are skipped, never double-counted."""
    b = reference.agg(
        F.min(F.col(col).cast("double")),
        F.max(F.col(col).cast("double")),
    ).first()
    if b[0] is None:
        raise ValueError(
            f"reference has no non-null values in {col!r} — "
            "cannot derive drift bins"
        )
    lo, hi = float(b[0]), float(b[1])
    bucket = _drift_bucket(col, lo, hi, bins)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _read_state(spark, state_dir)
        if prev is not None and "__last_batch" in prev.columns:
            last = prev.agg(F.max("__last_batch")).first()[0]
            if last is not None and batch_id <= last:
                return  # replayed batch — already counted
        fresh = (
            batch_df.where(F.col(col).isNotNull())
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if prev is not None:
            fresh = (
                prev.select("bucket", "cnt").unionByName(fresh)
                .groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
            )
        _commit_state(
            fresh.withColumn(
                "__last_batch", F.lit(batch_id).cast("long")
            ),
            state_dir,
        )

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_drift_readout(
    spark: SparkSession,
    state_dir: str,
    reference: DataFrame,
    col: str,
    bins: int = 256,
    decimals: int = 6,
) -> DataFrame:
    """Binned two-sample KS of the monitored stream-so-far
    (:func:`streaming_drift_monitor` state) vs the reference: ONE row
    (ks_stat, n_stream, n_ref); ks_stat null when either side is empty
    (the n counts say which — the batch ks_statistic contract). The
    reference is re-binned here with the identical deterministic
    bounds derivation, so monitor and readout always agree on the bin
    axis. Every table involved is ≤ bins + 2 rows, so the one ordered
    window is bounded by construction (keyed explicitly — the
    _hist_cumsum convention)."""
    from pyspark.sql import Window

    b = reference.agg(
        F.min(F.col(col).cast("double")),
        F.max(F.col(col).cast("double")),
    ).first()
    if b[0] is None:
        raise ValueError(
            f"reference has no non-null values in {col!r} — "
            "cannot derive drift bins"
        )
    lo, hi = float(b[0]), float(b[1])
    bucket = _drift_bucket(col, lo, hi, bins)
    ref_hist = (
        reference.where(F.col(col).isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__cr"))
    )
    state = _read_state(spark, state_dir, rollback=False)
    if state is None:
        s_hist = local_df(spark, [], "bucket int, __cs long")
    else:
        s_hist = state.select("bucket", F.col("cnt").alias("__cs"))
    hist = (
        ref_hist.join(s_hist, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("__cs", F.lit(0)).alias("__cs"),
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
        )
    )
    w = (
        Window.partitionBy(F.pmod(F.col("bucket"), F.lit(1)))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        F.sum("__cs").over(w).alias("__cums"),
        F.sum("__cr").over(w).alias("__cumr"),
    )
    totals = hist.agg(
        F.sum("__cs").alias("__ns"), F.sum("__cr").alias("__nr")
    )
    dmax = cum.crossJoin(F.broadcast(totals)).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("__cums") / F.col("__ns")
                    - F.col("__cumr") / F.col("__nr")
                )
            ),
            decimals,
        ).alias("ks_stat")
    )
    return dmax.crossJoin(F.broadcast(totals)).select(
        "ks_stat",
        F.coalesce(F.col("__ns"), F.lit(0)).cast("long")
        .alias("n_stream"),
        F.coalesce(F.col("__nr"), F.lit(0)).cast("long").alias("n_ref"),
    )

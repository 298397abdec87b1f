"""End-to-end pipeline composition + streaming twins + sources/plans."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_flight_etl_spark import pipeline, plans, sources
from databricks_flight_etl_spark.operators import validity
from databricks_flight_etl_spark.streaming import (
    run_stream_to_memory,
    streaming_day_counts,
    streaming_dedup,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def flights(spark):
    rows = [
        # Year, Month, Day, DepTime, Carrier, FlightNum, TailNum(all-null), Distance
        (2008, 1, 1, 945, "AA", 100, None, 500),
        (2008, 1, 1, 945, "AA", 100, None, 500),      # exact dup
        (2008, 1, 2, 2455, "UA", 200, None, 300),     # 24xx quirk → 00:55 same day
        (2008, 1, 4, 1200, "DL", 300, None, -1),      # bad distance; day 3 missing
        (2008, 1, 2, None, "WN", 400, None, 100),     # null DepTime → null ts
    ]
    return spark.createDataFrame(
        rows,
        "Year int, Month int, DayofMonth int, DepTime int, UniqueCarrier string, "
        "FlightNum int, TailNum int, Distance int",
    )


def test_flight_pipeline(spark, flights, tmp_path):
    out = str(tmp_path / "out.parquet")
    report = pipeline.run_flight_pipeline(
        flights,
        dedup_keys=["UniqueCarrier", "FlightNum", "DepTime_Timestamp"],
        rules=[validity.Rule("dist_pos", F.col("Distance") > 0)],
        output_path=out,
    )
    assert report.dropped_columns == ["TailNum"]
    assert report.exact_dup_groups.count() == 1
    assert {r["rule"]: r["n_fail"] for r in report.validity.collect()} == {
        "dist_pos": 1
    }
    cov = {str(r["day"]): r["n_events"] for r in report.day_coverage.collect()}
    assert cov["2008-01-03"] == 0          # missing day found
    assert cov["2008-01-01"] == 2
    # null-DepTime row has no timestamp → absent from coverage, kept in output
    assert report.cleaned.count() == 5     # validity is report-only
    assert report.output_partitions == 1
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert "TailNum" not in back.columns


def test_partition_sizing():
    assert plans.partitions_for_target(0) == 1
    assert plans.partitions_for_target(199_000_000) == 1
    assert plans.partitions_for_target(201_000_000) == 2
    assert plans.partitions_for_target(10**12) == 5000


def test_estimate_bytes(spark):
    df = spark.createDataFrame([(i, "x" * 100) for i in range(1000)], "id long, s string")
    est = plans.estimate_bytes(df)
    assert 50_000 < est < 5_000_000  # order of magnitude sane


def test_read_csv_with_schema(spark, tmp_path):
    p = str(tmp_path / "f.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = sources.read_csv(
        spark, p,
        schema=T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
        ]),
    )
    assert df.dtypes == [("a", "int"), ("b", "string")]
    assert df.count() == 2


def test_list_dir(spark, tmp_path):
    (tmp_path / "a.csv").write_text("x\n1\n")
    (tmp_path / "b.csv").write_text("x\n1\n2\n")
    (tmp_path / "sub").mkdir()
    df = sources.list_dir(spark, str(tmp_path))
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {"a.csv", "b.csv", "sub"}
    assert rows["sub"]["is_dir"] is True
    assert rows["b.csv"]["size"] == len("x\n1\n2\n")
    assert rows["a.csv"]["path"].endswith("a.csv")
    assert rows["a.csv"]["mod_time_ms"] > 0


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "events")
    rows = [
        (1, dt.datetime(2024, 1, 1, 5, 0), 1.0),
        (2, dt.datetime(2024, 1, 1, 9, 0), 2.0),
        (2, dt.datetime(2024, 1, 1, 9, 0), 2.0),   # dup event_id
        (3, dt.datetime(2024, 1, 2, 1, 0), 3.0),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(d)
    return d


def test_streaming_day_counts(spark, stream_dir):
    out = run_stream_to_memory(
        spark, stream_dir, EVENTS_SCHEMA,
        lambda s: streaming_day_counts(s, "ts"),
        query_name="day_counts", output_mode="update",
    )
    got = {str(r["day"]): r["n"] for r in out.collect()}
    assert got == {"2024-01-01": 3, "2024-01-02": 1}


def test_streaming_dedup(spark, stream_dir):
    out = run_stream_to_memory(
        spark, stream_dir, EVENTS_SCHEMA,
        lambda s: streaming_dedup(s, ["event_id"], "ts"),
        query_name="dedup_out", output_mode="append",
    )
    assert out.count() == 3
    assert out.groupBy("event_id").count().where("count > 1").count() == 0


SESS_SCHEMA = "user_id long, ts timestamp"


def test_streaming_sessionize(spark, tmp_path):
    """Append-mode session_window: sessions emit only once the watermark
    passes their end + gap, so a second (much later) batch is what
    flushes the first batch's sessions."""
    d = str(tmp_path / "sess_events")
    t = dt.datetime
    batch1 = [
        (1, t(2024, 1, 1, 9, 0)),
        (1, t(2024, 1, 1, 9, 10)),   # same session (gap 10m < 30m)
        (1, t(2024, 1, 1, 11, 0)),   # new session
        (2, t(2024, 1, 1, 9, 5)),
    ]
    spark.createDataFrame(batch1, SESS_SCHEMA).write.mode("append").parquet(d)

    stream = spark.readStream.schema(SESS_SCHEMA).format("parquet").load(d)
    q = (
        streaming_sessionize(stream, "user_id", "ts", gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # late batch far in the future advances the watermark past all
        # batch-1 sessions
        spark.createDataFrame(
            [(9, t(2024, 1, 3, 0, 0))], SESS_SCHEMA
        ).write.mode("append").parquet(d)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.table("sess_out").collect()
    }
    assert got == {
        (1, "2024-01-01 09:00:00"): 2,
        (1, "2024-01-01 11:00:00"): 1,
        (2, "2024-01-01 09:05:00"): 1,
    }


def test_streaming_running_counts_state_survives_batches(spark, tmp_path):
    """applyInPandasWithState: totals accumulate ACROSS micro-batches
    (state, not per-batch agg)."""
    from databricks_flight_etl_spark.streaming import streaming_running_counts

    d = str(tmp_path / "run_events")
    t = dt.datetime
    spark.createDataFrame(
        [(1, t(2024, 1, 1, 9, 0), 10.0), (1, t(2024, 1, 1, 9, 1), 5.0),
         (2, t(2024, 1, 1, 9, 2), 1.0)],
        "user_id long, ts timestamp, value double",
    ).write.mode("append").parquet(d)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).format("parquet").load(d)
    q = (
        streaming_running_counts(stream, "user_id", "value")
        .writeStream.format("memory").queryName("run_out")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(1, t(2024, 1, 1, 9, 5), 7.0)],
            "user_id long, ts timestamp, value double",
        ).write.mode("append").parquet(d)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.table("run_out").collect()
    # last emission per key wins (update mode appends each batch's rows
    # to the memory sink; take the max n_events per key)
    latest = {}
    for r in rows:
        if r["key"] not in latest or r["n_events"] > latest[r["key"]][0]:
            latest[r["key"]] = (r["n_events"], r["sum_value"])
    assert latest[1] == (3, 22.0)   # 2 events batch 1 + 1 event batch 2
    assert latest[2] == (1, 1.0)


def test_bucketed_join_is_shuffle_free(spark):
    """Two tables bucketed by the join key into the same bucket count
    join without any Exchange — the pay-the-shuffle-once-at-write
    pattern for repeated fact-to-fact joins."""
    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(1000)], "k long, av string"
    )
    b = spark.createDataFrame(
        [(i, i * 2.0) for i in range(1000)], "k long, bv double"
    )
    sources.write_bucketed(a, "bkt_a", ["k"], n_buckets=8, sort_cols=["k"])
    sources.write_bucketed(b, "bkt_b", ["k"], n_buckets=8, sort_cols=["k"])

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        assert plans.count_operator(joined, "SortMergeJoin") == 1
        n_shuffles = plans.count_operator(joined, "Exchange") - \
            plans.count_operator(joined, "BroadcastExchange")
        assert n_shuffles == 0, plans.explain_str(joined)
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_write_bucketed_overwrite_safety(spark, tmp_path):
    """ADVICE r3: overwrite must not blindly delete {wh}/{table} — it
    refuses EXTERNAL tables (whose data it does not own) and re-writes
    managed tables idempotently."""
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    sources.write_bucketed(a, "bkt_safe", ["k"], n_buckets=2)
    # overwrite of a managed table works and replaces the rows
    b = spark.createDataFrame([(3, "z")], "k long, v string")
    sources.write_bucketed(b, "bkt_safe", ["k"], n_buckets=2)
    assert [r["k"] for r in spark.table("bkt_safe").collect()] == [3]
    spark.sql("DROP TABLE IF EXISTS bkt_safe")

    # EXTERNAL table at its own location: refuse, leave the data alone
    ext_path = str(tmp_path / "ext_data")
    a.write.parquet(ext_path)
    spark.sql(
        f"CREATE TABLE bkt_ext (k long, v string) USING parquet "
        f"LOCATION '{ext_path}'"
    )
    try:
        with pytest.raises(ValueError, match="EXTERNAL"):
            sources.write_bucketed(b, "bkt_ext", ["k"], n_buckets=2)
        assert spark.read.parquet(ext_path).count() == 2  # data intact
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_ext")


def test_write_bucketed_db_qualified_overwrite(spark):
    """r4 verdict task #7 trap A: a database-qualified name must derive
    the {wh}/{db}.db/{tbl} location (not {wh}/{tbl}) and overwrite
    idempotently across sessions'-worth of repeats."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bdb")
    try:
        a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
        b = spark.createDataFrame([(3, "z")], "k long, v string")
        sources.write_bucketed(a, "bdb.bkt_q", ["k"], n_buckets=2)
        sources.write_bucketed(b, "bdb.bkt_q", ["k"], n_buckets=2)
        assert [r["k"] for r in spark.table("bdb.bkt_q").collect()] == [3]
        # and the unqualified default-db namespace was never touched
        assert "bkt_q" not in [t.name for t in spark.catalog.listTables()]
    finally:
        spark.sql("DROP TABLE IF EXISTS bdb.bkt_q")
        spark.sql("DROP DATABASE IF EXISTS bdb")


def test_write_bucketed_preserves_external_at_derived_location(
    spark, tmp_path
):
    """r4 verdict task #7 trap B: an EXTERNAL table under a DIFFERENT
    name sitting exactly at the target's derived managed location —
    the orphan-cleanup must NOT delete it (no catalog entry for the
    target name reveals it). The write fails loudly instead, and the
    external table's data survives."""
    import os

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    loc = os.path.join(wh, "bkt_trap")  # default-db derived location
    a = spark.createDataFrame([(1, "keep"), (2, "keep")], "k long, v string")
    a.write.parquet(loc)
    spark.sql(
        f"CREATE TABLE squatter (k long, v string) USING parquet "
        f"LOCATION '{loc}'"
    )
    try:
        b = spark.createDataFrame([(9, "new")], "k long, v string")
        with pytest.raises(Exception):
            # path is claimed -> saveAsTable LOCATION_ALREADY_EXISTS,
            # NOT a silent delete of the squatter's files
            sources.write_bucketed(b, "bkt_trap", ["k"], n_buckets=2)
        assert spark.table("squatter").count() == 2       # data intact
        assert spark.read.parquet(loc).count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_trap")
        spark.sql("DROP TABLE IF EXISTS squatter")
        import shutil

        shutil.rmtree(loc, ignore_errors=True)


def test_read_json_inference_nested(spark, tmp_path):
    """S4: JSON scan with schema inference, incl. the nested
    struct/array shape of the reference's metadata file."""
    p = str(tmp_path / "meta.json")
    with open(p, "w") as f:
        f.write('{"name": "ds", "files": [{"n": "a.csv", "sz": 10}, {"n": "b.csv", "sz": 20}]}\n')
        f.write('{"name": "ds2", "files": [{"n": "c.csv", "sz": 5}]}\n')
    df = sources.read_json(spark, p)
    assert df.count() == 2
    assert dict(df.dtypes)["files"].startswith("array<struct")
    total = df.select(
        F.explode("files").alias("f")
    ).agg(F.sum("f.sz").alias("s")).first()["s"]
    assert total == 35


def test_streaming_upsert_parquet_idempotent(spark, tmp_path):
    """foreachBatch upsert: re-delivered keys across batches never
    duplicate sink rows."""
    from databricks_flight_etl_spark.streaming import streaming_upsert_parquet

    src = str(tmp_path / "upsert_src")
    sink = str(tmp_path / "upsert_sink")
    ckpt = str(tmp_path / "upsert_ckpt")
    t = dt.datetime
    schema = "k long, ts timestamp, v double"
    spark.createDataFrame(
        [(1, t(2024, 1, 1), 1.0), (2, t(2024, 1, 1), 2.0),
         (2, t(2024, 1, 1), 2.5)],      # in-batch dup key
        schema,
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).format("parquet").load(src)
    q = streaming_upsert_parquet(stream, sink, ["k"], ckpt)
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(2, t(2024, 1, 2), 9.0), (3, t(2024, 1, 2), 3.0)],  # k=2 replayed
            schema,
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(sink)
    counts = {r["k"]: r["count"] for r in out.groupBy("k").count().collect()}
    assert counts == {1: 1, 2: 1, 3: 1}


def test_orc_roundtrip(spark, tmp_path):
    """ORC sink + scan: schema and values survive; filter pushdown
    works on the read side (built-in source, no package)."""
    df = spark.createDataFrame(
        [(i, f"s{i}", i * 1.5) for i in range(100)],
        "k long, s string, v double",
    )
    path = str(tmp_path / "t.orc")
    sources.write_orc(df, path)
    back = sources.read_orc(spark, path)
    assert back.schema == df.schema
    assert back.count() == 100
    assert back.where(F.col("k") >= 90).count() == 10


def test_read_text_lines(spark, tmp_path):
    p = tmp_path / "docs.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    df = sources.read_text(spark, str(p))
    assert df.columns == ["value"]
    assert sorted(r["value"] for r in df.collect()) == [
        "alpha", "beta", "gamma",
    ]
    whole = sources.read_text(spark, str(p), wholetext=True)
    assert whole.count() == 1


def test_read_avro_gated(spark, tmp_path):
    with pytest.raises(ImportError, match="spark-avro"):
        sources.read_avro(spark, str(tmp_path / "x.avro"))


def test_read_csv_bz2_native(spark, tmp_path):
    """S2: the reference shells out to bzip2 before reading; Spark's
    codec support makes that a no-op — a .csv.bz2 reads directly."""
    import bz2

    p = str(tmp_path / "f.csv.bz2")
    with bz2.open(p, "wt") as f:
        f.write("a,b\n1,x\n2,y\n3,z\n")
    df = sources.read_csv(
        spark, p,
        schema=T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
        ]),
    )
    assert df.count() == 3
    assert df.agg(F.sum("a")).first()[0] == 6


def test_spread_is_noop_on_streams(spark, tmp_path):
    """Operators built on partitioning.spread (text metrics, dedup
    shingles) must stay applicable to streaming frames — spread cannot
    probe .rdd there and must pass the plan through untouched."""
    import pyspark.sql.types as T

    from databricks_flight_etl_spark.operators import text

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    ).write.parquet(src)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    # winnow_fingerprints goes through partitioning.spread; its final
    # distinct becomes streaming dropDuplicates (append mode)
    out = run_stream_to_memory(
        spark, src, schema,
        lambda s: text.winnow_fingerprints(s, "text", "doc_id"),
        query_name="spread_stream_check", output_mode="append",
    )
    assert out.count() > 0
    # and the per-row metric ops stay streaming-applicable too
    out2 = run_stream_to_memory(
        spark, src, schema,
        lambda s: text.text_quality(s, "text", "doc_id", append=True),
        query_name="spread_stream_check2", output_mode="append",
    )
    row = out2.select("doc_id", "n_tokens").collect()[0]
    assert (row["doc_id"], row["n_tokens"]) == (0, 9)


def test_stateless_text_ops_compose_with_streams(spark, tmp_path):
    """pii_redact / quality_signals are pure projections, so they apply
    unchanged to a readStream — the streaming twin needs no new code."""
    from databricks_flight_etl_spark.operators.text import (
        pii_redact,
        quality_signals,
    )

    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "write to a.b@x.io now"), (2, "all clean here today")],
        "doc_id long, text string",
    ).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).format("parquet").load(d)
    out = pii_redact(stream, "text", "doc_id")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("pii_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["doc_id"]: r for r in spark.table("pii_stream").collect()}
    assert rows[1]["n_emails"] == 1 and "[EMAIL]" in rows[1]["clean"]
    assert rows[2]["n_emails"] == 0
    # quality_signals composes the same way (plan-only check)
    assert quality_signals(stream, "text", "doc_id").isStreaming


def test_compact_parquet(spark, tmp_path):
    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    # fragment: 16 tiny files
    spark.range(1000).repartition(16).write.parquet(src)
    import os as _os

    n_src = len([f for f in _os.listdir(src) if f.endswith(".parquet")])
    assert n_src == 16
    parts = sources.compact_parquet(spark, src, dst, target_mb=200)
    assert parts == 1
    n_dst = len([f for f in _os.listdir(dst) if f.endswith(".parquet")])
    assert n_dst == 1
    assert spark.read.parquet(dst).count() == 1000


def test_streaming_hll_equals_batch(spark, tmp_path):
    """The stream-maintained HLL register table equals the batch
    sketch bit-for-bit after a full replay."""
    from databricks_flight_etl_spark.operators.sketches import hll_build
    from databricks_flight_etl_spark.streaming import (
        run_stream_to_memory,
        streaming_hll,
    )

    src = str(tmp_path / "hll_src")
    df = spark.range(3000).selectExpr("CAST(id AS STRING) AS v")
    df.coalesce(2).write.parquet(src)
    out = run_stream_to_memory(
        spark, src, "v string",
        lambda s: streaming_hll(s, "v", p=9),
        query_name="shll_t", output_mode="complete",
    )
    got = sorted((r["bucket"], r["rho"]) for r in out.collect())
    want = sorted((r["bucket"], r["rho"])
                  for r in hll_build(df, "v", p=9).collect())
    assert got == want and len(got) <= 512


def test_streaming_interval_join_equals_batch(spark, tmp_path):
    """Replayed stream-stream interval join == the batch interval
    join, including the inclusive bounds."""
    import datetime as dt

    from databricks_flight_etl_spark.streaming import (
        streaming_interval_join,
    )

    d = str(tmp_path / "ssj")
    base = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, base, "L", 100),
        (1, base + dt.timedelta(minutes=30), "R", 200),  # in window
        (1, base + dt.timedelta(hours=2), "R", 201),     # boundary: in
        (1, base + dt.timedelta(hours=3), "R", 202),     # out
        (2, base, "L", 110),                             # no partner
        (3, base - dt.timedelta(hours=1), "R", 300),     # before left
    ]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, side string, eid long")
    df.write.parquet(d)
    schema = df.schema

    def src(side):
        return (
            spark.readStream.schema(schema).format("parquet").load(d)
            .where(F.col("side") == side)
            .select("k", "ts", "eid")
        )

    out = streaming_interval_join(
        src("L"), src("R"), "k", "ts",
        lower="0 seconds", upper="2 hours", watermark="10 days",
    ).select(F.col("l.eid").alias("le"), F.col("r.eid").alias("re"))
    q = (out.writeStream.format("memory").queryName("ssj_t")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["le"], r["re"])
           for r in spark.table("ssj_t").collect()}
    assert got == {(100, 200), (100, 201)}


def test_minhash_bands_rowwise_matches_agg(spark):
    """The shuffle-free row-wise band computation must be bit-identical
    to the aggregate path, for both hash families."""
    from databricks_flight_etl_spark.operators import dedup

    docs = spark.range(30).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 25), "
        "i -> element_at(array('ka','lo','me','nu','op','pe','qu','ra'), "
        "cast(pmod(xxhash64(id, i), 8) + 1 AS int)))) AS text",
    )
    for fam in ("xxhash64", "md5"):
        agg = {(r["doc_id"], r["band"], r["band_hash"])
               for r in dedup.minhash_bands(
                   docs, "text", "doc_id", shingle_k=4,
                   hash_family=fam).collect()}
        row = {(r["doc_id"], r["band"], r["band_hash"])
               for r in dedup.minhash_bands_rowwise(
                   docs, "text", "doc_id", shingle_k=4,
                   hash_family=fam).collect()}
        assert agg == row and len(agg) == 30 * 4


def test_streaming_minhash_candidates(spark, tmp_path):
    """Streamed increment vs static index equals the batch candidate
    cross-join after full replay."""
    from databricks_flight_etl_spark.operators import dedup
    from databricks_flight_etl_spark.streaming.jobs import (
        run_stream_to_memory,
        streaming_minhash_candidates,
    )

    base = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 25), "
        "i -> element_at(array('ka','lo','me','nu','op','pe','qu','ra'), "
        "cast(pmod(xxhash64(id, i), 8) + 1 AS int)))) AS text",
    )
    inc = base.where("doc_id % 5 = 0").selectExpr(
        "doc_id + 1000 AS doc_id", "concat(text, ' zz') AS text"
    )
    src = str(tmp_path / "inc_src")
    inc.write.parquet(src)
    idx = dedup.minhash_bands(base, "text", "doc_id", shingle_k=4)

    got = run_stream_to_memory(
        spark, src, inc.schema,
        lambda s: streaming_minhash_candidates(
            s, idx, "text", "doc_id", shingle_k=4),
        query_name="smc_out", output_mode="append",
    )
    got_pairs = {(r["new_id"], r["corpus_id"]) for r in got.collect()}

    nb = dedup.minhash_bands(inc, "text", "doc_id", shingle_k=4)
    batch = {
        (r["id_a"], r["id_b"])
        for r in nb.selectExpr("doc_id AS id_a", "band", "band_hash")
        .join(idx.selectExpr("doc_id AS id_b", "band", "band_hash"),
              ["band", "band_hash"])
        .select("id_a", "id_b").distinct().collect()
    }
    assert got_pairs == batch and len(got_pairs) > 0


def test_streaming_mrl_exact_and_bounded(spark, tmp_path):
    """The foreachBatch-folded MRL state must (a) in the k >= n config
    read out exactly the batch type-1 quantiles after a two-batch
    replay, and (b) at production k stay O(k log n) rows while the
    estimate stays inside the rank-error band."""
    import bisect

    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_quantiles,
    )
    from databricks_flight_etl_spark.streaming import streaming_mrl_sketch

    df = spark.range(4000).selectExpr(
        "id", "CAST(pmod(id * 2654435761, 9973) AS DOUBLE) AS value"
    )
    src = str(tmp_path / "mrl_src")
    df.coalesce(2).write.parquet(src)  # two files -> two micro-batches
    qs = [0.1, 0.5, 0.9]

    for k, exact in ((10_000, True), (64, False)):
        state = str(tmp_path / f"mrl_state_{k}")
        ckpt = str(tmp_path / f"mrl_ckpt_{k}")
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet").load(src)
        )
        q = streaming_mrl_sketch(stream, "value", state, ckpt, k=k)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        sk = spark.read.parquet(state)
        got = {r["q"]: r["value"]
               for r in mrl_quantiles(sk, qs).collect()}
        if exact:
            want = {r["q"]: r["value"]
                    for r in quantiles_exact(df, "value", qs).collect()}
            assert got == want
        else:
            assert sk.count() <= 4 * 64 * 10
            vals = sorted(
                r["value"] for r in df.select("value").collect())
            n = len(vals)
            for qq, v in got.items():
                rank = bisect.bisect_right(vals, v)
                assert abs(rank - qq * n) <= 0.06 * n


def test_streaming_mrl_replay_idempotent(spark, tmp_path):
    """ADVICE r4 (medium): if a micro-batch's state write lands but the
    checkpoint commit doesn't, Spark re-delivers the batch — the fold
    must NOT apply it twice. Simulated by wiping the checkpoint (so the
    restart replays batch ids 0..n that the state has already folded):
    the stored __last_batch watermark makes the replays no-ops, total
    sketch weight stays exactly n instead of doubling."""
    import shutil

    from databricks_flight_etl_spark.streaming import streaming_mrl_sketch

    df = spark.range(1000).selectExpr(
        "id", "CAST(pmod(id * 48271, 997) AS DOUBLE) AS value"
    )
    src = str(tmp_path / "mrl_src2")
    df.coalesce(2).write.parquet(src)
    state = str(tmp_path / "mrl_state2")
    ckpt = str(tmp_path / "mrl_ckpt2")

    def run_once():
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet").load(src)
        )
        q = streaming_mrl_sketch(stream, "value", state, ckpt, k=10_000)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    sk = spark.read.parquet(state)
    assert sk.agg(F.sum("weight")).first()[0] == 1000
    assert sk.agg(F.max("__last_batch")).first()[0] == 1  # two batches

    shutil.rmtree(ckpt)  # lose the commit log -> full replay
    run_once()
    sk2 = spark.read.parquet(state)
    assert sk2.agg(F.sum("weight")).first()[0] == 1000  # not doubled


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML: write with rowTag, read back, values and
    row count survive (nested element order is schema-driven)."""
    df = spark.createDataFrame(
        [(1, "en", 10), (2, "de", 20), (3, None, 30)],
        "doc_id long, lang string, n_chars long",
    )
    path = str(tmp_path / "t.xml")
    sources.write_xml(df, path, row_tag="doc")
    back = sources.read_xml(spark, path, row_tag="doc")
    got = sorted(
        (r["doc_id"], r["lang"], r["n_chars"]) for r in back.collect()
    )
    assert got == [(1, "en", 10), (2, "de", 20), (3, None, 30)]


def test_streaming_heavy_hitters_exact_capped_and_idempotent(
    spark, tmp_path
):
    """The foreachBatch MG state must (a) equal the one-shot counts in
    the no-cap config, (b) stay <= capacity rows with every true heavy
    hitter surviving when the cap fires, and (c) not double-fold on a
    checkpoint-loss replay (the __last_batch watermark)."""
    import shutil

    from databricks_flight_etl_spark.streaming import (
        streaming_heavy_hitters,
    )

    # 1000 rows: term 'hot' x 400, 'warm' x 200, 100 distinct cold x 4
    df = spark.range(1000).selectExpr(
        "id",
        "CASE WHEN id < 400 THEN 'hot' WHEN id < 600 THEN 'warm' "
        "ELSE concat('cold_', CAST(id % 100 AS STRING)) END AS term",
    )
    src = str(tmp_path / "hh_src")
    df.coalesce(2).write.parquet(src)

    def run(state, ckpt, capacity):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet").load(src)
        )
        q = streaming_heavy_hitters(
            stream, "term", state, ckpt, capacity=capacity
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # (a) exact config
    state = str(tmp_path / "hh_state_exact")
    ckpt = str(tmp_path / "hh_ckpt_exact")
    run(state, ckpt, capacity=10_000)
    got = {
        r["term"]: r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    assert got["hot"] == 400 and got["warm"] == 200
    assert sum(got.values()) == 1000 and len(got) == 102

    # (c) replay idempotence: wipe the checkpoint, re-run — counts must
    # not double
    shutil.rmtree(ckpt)
    run(state, ckpt, capacity=10_000)
    got2 = {
        r["term"]: r["cnt"]
        for r in spark.read.parquet(state).collect()
    }
    assert got2["hot"] == 400 and sum(got2.values()) == 1000

    # (b) capped config: state bounded, heavy terms survive with
    # lower-bound counts
    state2 = str(tmp_path / "hh_state_cap")
    ckpt2 = str(tmp_path / "hh_ckpt_cap")
    run(state2, ckpt2, capacity=8)
    capped = {
        r["term"]: r["cnt"]
        for r in spark.read.parquet(state2).collect()
    }
    assert len(capped) <= 8
    assert "hot" in capped and "warm" in capped
    assert capped["hot"] <= 400 and capped["warm"] <= 200


def test_state_commit_atomic_swap_and_rollback(spark, tmp_path):
    """ADVICE r5 (medium): the fold-state swap must never be
    delete-then-write, and a state-read failure must not silently mean
    'first batch'.

    (a) _commit_state leaves no temp/old residue and the live dir
        readable after each commit;
    (b) a crash between the two renames (state gone, .__old intact) is
        rolled back by the next _read_state — accumulated state
        survives;
    (c) a CORRUPTED state dir raises instead of returning None."""
    import shutil

    from databricks_flight_etl_spark.streaming.jobs import (
        _commit_state, _read_state,
    )

    state = str(tmp_path / "state")
    s1 = spark.range(10).selectExpr("id", "CAST(1 AS LONG) AS v")
    _commit_state(s1, state)
    s2 = spark.range(20).selectExpr("id", "CAST(2 AS LONG) AS v")
    _commit_state(s2, state)
    assert not os.path.exists(state + ".__tmp")
    assert not os.path.exists(state + ".__old")
    assert _read_state(spark, state).count() == 20

    # (b) simulate the mid-swap crash: current renamed to .__old, new
    # version never renamed in
    os.rename(state, state + ".__old")
    got = _read_state(spark, state)
    assert got is not None and got.count() == 20
    assert not os.path.exists(state + ".__old")

    # (c) corrupted state: parquet dir with a garbage file must RAISE
    shutil.rmtree(state)
    os.makedirs(state)
    with open(os.path.join(state, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")
    with pytest.raises(Exception):
        _read_state(spark, state).collect()

    # missing state (no dir at all) is the ONLY None case
    assert _read_state(spark, str(tmp_path / "nope")) is None


def test_streaming_drift_monitor(spark, tmp_path):
    """Bounded-state stream drift: (a) state stays ≤ bins + 2 rows on a
    continuous feature; (b) a shifted stream reads out a clearly larger
    KS than a same-distribution stream; (c) checkpoint-loss replay does
    not double-count (the __last_batch contract); (d) the readout
    equals the batch binned KS on the same data."""
    import shutil

    from databricks_flight_etl_spark.operators.accuracy import (
        ks_statistic,
    )
    from databricks_flight_etl_spark.streaming import (
        streaming_drift_monitor, streaming_drift_readout,
    )

    ref = spark.range(2000).selectExpr(
        "CAST(pmod(id * 2654435761, 9973) AS DOUBLE) / 9973 AS x"
    )
    bins = 64

    def run(src_df, name):
        src = str(tmp_path / f"drift_src_{name}")
        state = str(tmp_path / f"drift_state_{name}")
        ckpt = str(tmp_path / f"drift_ckpt_{name}")
        src_df.coalesce(2).write.parquet(src)
        stream = (
            spark.readStream.schema(src_df.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet").load(src)
        )
        q = streaming_drift_monitor(stream, "x", ref, state, ckpt,
                                    bins=bins)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return src, state, ckpt

    same = spark.range(1500).selectExpr(
        "CAST(pmod(id * 48271, 9973) AS DOUBLE) / 9973 AS x"
    )
    shifted = same.selectExpr("x * 0.5 + 0.75 AS x")  # mass pushed up

    _, st_same, _ = run(same, "same")
    src_sh, st_sh, ck_sh = run(shifted, "shifted")

    assert spark.read.parquet(st_same).count() <= bins + 2
    r_same = streaming_drift_readout(
        spark, st_same, ref, "x", bins=bins).first()
    r_sh = streaming_drift_readout(
        spark, st_sh, ref, "x", bins=bins).first()
    assert r_same["n_stream"] == 1500 and r_same["n_ref"] == 2000
    assert r_same["ks_stat"] < 0.1 < r_sh["ks_stat"]

    # (d) readout == batch binned KS over the union (bin = the value's
    # reference-range bucket; with values quantized to their bucket
    # index the exact KS IS the binned KS)
    from databricks_flight_etl_spark.streaming.jobs import _drift_bucket

    lo, hi = 0.0, ref.agg(F.max("x")).first()[0]
    both = ref.selectExpr("x", "'r' AS g").unionByName(
        shifted.selectExpr("x", "'s' AS g")
    ).select(
        _drift_bucket("x", lo, hi, bins).alias("b"), "g"
    )
    want = ks_statistic(both, "b", "g", "s", "r").first()
    assert (r_sh["ks_stat"], r_sh["n_stream"], r_sh["n_ref"]) == (
        want["ks_stat"], want["n_a"], want["n_b"]
    )

    # (c) replay: wipe the checkpoint, rerun the same source — counts
    # must not double
    shutil.rmtree(ck_sh)
    stream = (
        spark.readStream.schema(shifted.schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet").load(src_sh)
    )
    q = streaming_drift_monitor(stream, "x", ref, st_sh, ck_sh,
                                bins=bins)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    r2 = streaming_drift_readout(
        spark, st_sh, ref, "x", bins=bins).first()
    assert r2["n_stream"] == 1500


def _run_fold_stream(spark, factory, src, schema):
    """Start a foreachBatch fold over the parquet dir ``src`` (one file
    per micro-batch), drain, stop."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet").load(src)
    )
    q = factory(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


@pytest.mark.parametrize("kind", ["mrl", "hh"])
def test_fold_state_mid_crash_rollback_replay(spark, tmp_path, kind):
    """Verdict r6 task #5: stage the EXACT mid-crash layout — death
    between _commit_state's two renames (live state dir gone, .__old
    intact, the interrupted batch's checkpoint never committed) — and
    assert rollback + replay reproduce the no-crash state, for both
    the MRL and heavy-hitters folds.

    Staging: batch 0 commits normally; before batch 1's file is even
    visible we rename state -> state.__old (what a crash inside batch
    1's commit leaves behind). On restart _read_state must roll the
    previous version back and the fold must apply batch 1 exactly once
    — bit-identical to the run that never crashed."""
    import shutil

    from databricks_flight_etl_spark.streaming import (
        streaming_heavy_hitters, streaming_mrl_sketch,
    )

    df = spark.range(1200).selectExpr(
        "id",
        "CAST(pmod(id * 48271, 499) AS DOUBLE) AS value",
        "CAST(pmod(id, 37) AS STRING) AS term",
    )
    part0 = df.where("id < 600")
    part1 = df.where("id >= 600")

    def factory_for(state, ckpt):
        if kind == "mrl":
            return lambda s: streaming_mrl_sketch(
                s, "value", state, ckpt, k=10_000
            )
        return lambda s: streaming_heavy_hitters(
            s, "term", state, ckpt, capacity=4096
        )

    def state_rows(state):
        sdf = spark.read.parquet(state)
        cols = [c for c in sorted(sdf.columns)]
        return sorted(tuple(r[c] for c in cols) for r in sdf.collect())

    # ---- no-crash reference run: both batches straight through ------
    src_ref = str(tmp_path / f"{kind}_src_ref")
    part0.coalesce(1).write.parquet(src_ref)
    part1.coalesce(1).write.mode("append").parquet(src_ref)
    st_ref = str(tmp_path / f"{kind}_state_ref")
    ck_ref = str(tmp_path / f"{kind}_ckpt_ref")
    _run_fold_stream(
        spark, factory_for(st_ref, ck_ref), src_ref, df.schema
    )

    # ---- crash run: batch 0, mid-commit crash layout, then batch 1 --
    src = str(tmp_path / f"{kind}_src_crash")
    part0.coalesce(1).write.parquet(src)
    st = str(tmp_path / f"{kind}_state_crash")
    ck = str(tmp_path / f"{kind}_ckpt_crash")
    _run_fold_stream(spark, factory_for(st, ck), src, df.schema)

    os.rename(st, st + ".__old")  # death between the two renames
    # batch 1's data arrives; the restarted query folds it on top of
    # the ROLLED-BACK batch-0 state
    part1.coalesce(1).write.mode("append").parquet(src)
    _run_fold_stream(spark, factory_for(st, ck), src, df.schema)

    assert not os.path.exists(st + ".__old")  # rollback consumed it
    assert state_rows(st) == state_rows(st_ref)

    # and the whole thing again with the crash layout left UNTOUCHED
    # by a read-only observer in between (the rollback=False contract)
    from databricks_flight_etl_spark.streaming.jobs import _read_state

    os.rename(st, st + ".__old")
    seen = _read_state(spark, st, rollback=False)
    assert seen is not None and seen.count() > 0
    assert os.path.exists(st + ".__old") and not os.path.exists(st)
    # the fold path still rolls back afterwards
    restored = _read_state(spark, st)
    assert restored is not None
    assert os.path.exists(st) and not os.path.exists(st + ".__old")
    assert state_rows(st) == state_rows(st_ref)


def test_read_state_observer_never_mutates(spark, tmp_path):
    """ADVICE r6 (low): streaming_drift_readout is callable at any
    time, so its state read must NEVER rename .__old back — doing so
    races an in-flight _commit_state between its two renames and kills
    the commit's rename(tmp, path). rollback=False must (a) read the
    .__old point-in-time copy without touching the layout, (b) still
    prefer the live dir when it exists, (c) return None only when
    neither exists — and the readout itself must work mid-crash."""
    from databricks_flight_etl_spark.streaming.jobs import (
        _commit_state, _read_state,
    )
    from databricks_flight_etl_spark.streaming import (
        streaming_drift_readout,
    )

    state = str(tmp_path / "obs_state")
    ref = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS x")
    hist = spark.createDataFrame(
        [(0, 40), (1, 60)], "bucket int, cnt long"
    )
    _commit_state(hist.withColumn(
        "__last_batch", F.lit(0).cast("long")), state)

    # (b) live dir present: observer reads it
    assert _read_state(spark, state, rollback=False).count() == 2

    # (a) mid-crash layout: observer reads .__old IN PLACE
    os.rename(state, state + ".__old")
    got = _read_state(spark, state, rollback=False)
    assert got is not None and got.count() == 2
    assert os.path.exists(state + ".__old")
    assert not os.path.exists(state)
    # full readout works off the point-in-time copy too
    r = streaming_drift_readout(spark, state, ref, "x", bins=8)
    row = r.first()
    assert row["n_stream"] == 100
    # layout STILL untouched after the readout's action
    assert os.path.exists(state + ".__old")
    assert not os.path.exists(state)

    # (c) neither dir: None
    assert _read_state(
        spark, str(tmp_path / "missing"), rollback=False) is None

"""Sources & sinks (SURVEY §2.1 S1–S8).

The reference reads bz2-compressed CSV with a hand-declared schema
(NB:125), reads JSON with inference (NB:84), and writes snappy Parquet
after a coalesce sized to ~200 MB partitions (NB:435–436). Spark reads
``.csv.bz2`` natively, so the reference's shell download/decompress steps
(NB:41–64) are out-of-engine fixture steps; the engine starts at
``spark.read``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import local_df
from ..plans import estimate_bytes, partitions_for_target
from ..schemas import TESTDATA_SCHEMAS

__all__ = [
    "compact_parquet",
    "list_dir",
    "read_csv",
    "read_json",
    "read_parquet",
    "read_parquet_evolving",
    "read_orc",
    "read_text",
    "read_xml",
    "write_xml",
    "read_avro",
    "write_orc",
    "load_table",
    "write_parquet",
    "write_bucketed",
    "write_partitioned",
]


def list_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory listing as a DataFrame — the ``dbutils.fs.ls`` surface
    (reference NB:52,68,441 lists the landing dir before/after ingest).

    Goes through the Hadoop FileSystem API, so any Spark-supported
    scheme works (file://, hdfs://, s3a://, ...), not just the local
    disk. The listing itself is driver-side (one RPC per directory —
    same cost profile as dbutils); the result is a small bounded table,
    (path, name, size, is_dir, mod_time), built by
    ``partitioning.local_df`` (a local relation below 10k entries).
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    rows = []
    for st in fs.listStatus(hpath):
        p = st.getPath()
        rows.append(
            (
                p.toString(),
                p.getName(),
                int(st.getLen()),
                bool(st.isDirectory()),
                int(st.getModificationTime()),
            )
        )
    schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("size", T.LongType(), False),
            T.StructField("is_dir", T.BooleanType(), False),
            T.StructField("mod_time_ms", T.LongType(), False),
        ]
    )
    return local_df(spark, rows, schema)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """Schema-declared CSV scan (reference NB:125).

    An explicit schema skips Spark's inference pass (one full extra read)
    — mandatory at 100 TB. Handles .bz2/.gz transparently via codecs.
    """
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """JSON scan (reference NB:84 — inference on for the metadata file).

    Prefer an explicit schema in production: inference scans the data.
    """
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (reference NB:445) — columnar; Catalyst pushes
    filters and prunes columns into the scan."""
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (built into Spark; no extra package)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_xml(
    spark: SparkSession, path: str, row_tag: str = "row"
) -> DataFrame:
    """XML scan (built into Spark 4 — the merged spark-xml): one row
    per ``row_tag`` element, schema inferred or supplied. The
    interchange format of legacy feeds; columnar pushdown does not
    apply (row-oriented text), so land XML once and convert to
    parquet for anything repeated."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row",
    root_tag: str = "rows", mode: str = "overwrite",
) -> None:
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )


def read_text(
    spark: SparkSession, path: str, wholetext: bool = False
) -> DataFrame:
    """Line-per-row (or file-per-row) text scan — the raw-corpus entry
    point for the text/dedup operators: one string column ``value``."""
    return spark.read.text(path, wholetext=wholetext)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan — requires the external spark-avro package
    (org.apache.spark:spark-avro; not bundled with Spark and not
    installed in this container). Gated: raises a clear error instead
    of a deep AnalysisException."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # AnalysisException: failed to find source
        raise ImportError(
            "avro source requires the spark-avro package "
            "(--packages org.apache.spark:spark-avro_2.13)"
        ) from exc


# Testdata timestamp columns that must land as session-TZ TimestampType
# regardless of how the parquet writer encoded them (TESTDATA.md).
_NORMALIZE_TS_COLS = {"events": ["ts"]}


def normalize_timestamp(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize a timestamp-ish column to TimestampType, adapting to the
    dtype Spark actually materialized for the parquet column:

    - ``LongType`` (epoch nanos, e.g. via ``parquet.nanosAsLong`` on
      Sparks that honor it): floor-divide to micros with integer ``div``
      (not ``/`` — float division loses precision above 2^53 ns), exactly
      the ns→µs truncation engines with native ns timestamps perform.
    - ``TimestampNTZType`` (how Spark 4.x reads non-UTC-adjusted parquet
      TIMESTAMP): cast to TimestampType. The session TZ is pinned UTC
      (session.RUNTIME_CONF), so the wall-clock reinterpretation
      preserves the instant and ``unix_micros``/date functions agree
      with DuckDB's UTC-naive TIMESTAMP.
    - ``TimestampType``: already right; no-op.
    """
    for c in cols:
        dtype = df.schema[c].dataType
        if isinstance(dtype, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dtype, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md), normalizing
    timestamp columns to session-TZ TimestampType.

    The star tables read with their declared schema
    (``schemas.TESTDATA_SCHEMAS``) and run no job; any other name
    falls back to inference, one footer-reading job."""
    path = f"{sf_dir}/{name}.parquet"
    schema = TESTDATA_SCHEMAS.get(name)
    df = read_parquet(spark, path) if schema is None else spark.read.schema(schema).parquet(path)
    ts_cols = [c for c in _NORMALIZE_TS_COLS.get(name, []) if c in df.columns]
    return normalize_timestamp(df, ts_cols) if ts_cols else df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    target_mb: int | None = 200,
    compression: str = "snappy",
) -> int:
    """Parquet sink with size-targeted partitioning (reference NB:432–437).

    The reference estimates in-memory size via the private JVM
    ``SizeEstimator`` over a re-pickled RDD (NB:416–427) and coalesces to
    ``ceil(MB/200)`` partitions. We preserve the semantics (≈200 MB per
    output partition) using a supported estimate (the bytes of the
    files ``df`` reads, with no job, else its summed value bytes in one
    aggregate — see plans.estimate_bytes) and
    ``coalesce``, which avoids a shuffle. Returns the partition count
    used. ``target_mb=None`` writes ``df`` as partitioned and returns
    -1: for a caller that already holds the size
    (``pipeline.run_flight_pipeline`` sizes from its profile pass and
    coalesces itself), so no estimate job runs.

    At 100 TB prefer leaving partitioning to AQE plus
    ``spark.sql.files.maxRecordsPerFile``; a small coalesce() removes
    write parallelism (the reference's coalesce(1) cost 28 s on 2.4 M
    rows, DBC[32]).
    """
    writer = df.write.mode(mode).option("compression", compression)
    if target_mb is None:
        writer.parquet(path)
        return -1
    est = estimate_bytes(df)
    parts = partitions_for_target(est, target_mb=target_mb)
    df.coalesce(parts).write.mode(mode).option("compression", compression).parquet(path)
    return parts


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-partitioned parquet layout (`path/col=value/…`).

    The partition-pruning primitive: a filter on ``partition_cols``
    never touches non-matching directories — at 100 TB a
    one-day-of-three-years query reads ~0.1% of the files
    (tests pin `PartitionFilters` in the scan). Choose low-cardinality,
    always-filtered columns (event date, region); high-cardinality
    partitioning produces a small-file explosion instead.
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def _location_in_use(spark, loc: str) -> bool:
    """True if ANY catalog table (any database) resolves to ``loc`` —
    the guard that keeps write_bucketed's orphan-cleanup from deleting
    an EXTERNAL table that happens to live at the derived managed
    location under a different name. Catalog-sized work (a DESCRIBE
    per table), never data-sized."""
    import os as _os

    target = _os.path.abspath(loc)
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            # DENYLIST, deliberately: skip only relations that
            # provably cannot hold a storage location — temp views
            # and (non-materialized) views. Temp views are the ones
            # that accumulate over a session AND fail DESCRIBE
            # FORMATTED with a py4j exception + a full analyzer error
            # log each, which made this guard degrade with session
            # age (round-10 bench: the same bucketed write took 2.6s
            # fresh, 5.2s after 80 harness queries, 13.2s after 257 —
            # all catalog chatter). Every OTHER type — including
            # None/unknown and location-bearing catalog extensions —
            # falls through to the DESCRIBE probe (whose own failure
            # also counts as "possibly in use", below): this
            # guard fronts a recursive delete, so an unrecognized
            # type must fail SAFE (probed), never fail open
            # (skipped → data loss).
            if t.isTemporary or (
                (t.tableType or "").upper() in ("VIEW", "TEMPORARY")
            ):
                continue
            try:
                rows = spark.sql(
                    f"DESCRIBE FORMATTED `{db.name}`.`{t.name}`"
                ).collect()
            except Exception as exc:
                # A non-view relation whose DESCRIBE errors (even
                # transiently) might still live at ``loc`` — and this
                # guard fronts a recursive delete, so the unknown must
                # count as "possibly in use" (skip the cleanup, leave
                # a stray dir) rather than "not in use" (delete a
                # table we could not inspect).
                import sys as _sys

                print(
                    f"[write_bucketed] DESCRIBE failed for "
                    f"`{db.name}`.`{t.name}` ({type(exc).__name__}); "
                    f"treating location {loc!r} as possibly in use",
                    file=_sys.stderr,
                )
                return True
            for r in rows:
                if (r["col_name"] or "").strip() == "Location":
                    tl = (r["data_type"] or "").removeprefix("file:")
                    if _os.path.abspath(tl) == target:
                        return True
    return False


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed parquet table (hash-bucketed by ``bucket_cols``,
    optionally sorted within buckets).

    The co-located-join primitive: two tables bucketed by the same key
    into the same bucket count join with NO Exchange — each task zips
    bucket i with bucket i (and with ``sort_cols`` set, no Sort either).
    The 100 TB pattern for fact⋈fact joins repeated across many jobs:
    pay the shuffle once at write, never per query
    (tests/test_pipeline_streaming pins the shuffle-free plan).
    """
    if mode == "overwrite":
        spark = df.sparkSession
        try:
            meta = spark.catalog.getTable(table)
            table_type = (meta.tableType or "").upper()
        except Exception:
            table_type = None  # no catalog entry
        if table_type == "EXTERNAL":
            # dropping an external table orphans data this writer does
            # not own; deleting it would destroy someone else's files
            raise ValueError(
                f"write_bucketed(mode='overwrite') refuses to replace "
                f"EXTERNAL table {table!r}; drop it explicitly first."
            )
        # MANAGED: DROP TABLE makes the catalog delete the data dir
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # With the default in-memory catalog, a location written by a
        # PREVIOUS session is orphaned (no catalog entry survives the
        # restart) and blocks saveAsTable with LOCATION_ALREADY_EXISTS.
        # Clear ONLY the catalog's default managed location — derived
        # db-aware ({wh}/{db}.db/{tbl} for qualified names) and verified
        # to sit inside the warehouse dir — now that no entry references
        # it (external tables at that path were rejected above).
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        parts = table.lower().split(".")
        tbl = parts[-1]
        db = parts[-2] if len(parts) >= 2 else (
            spark.catalog.currentDatabase().lower()
        )
        loc = f"{wh}/{tbl}" if db == "default" else f"{wh}/{db}.db/{tbl}"
        import os as _os
        if _os.path.abspath(loc).startswith(
            _os.path.abspath(wh) + _os.sep
        ) and not _location_in_use(spark, loc):
            # _location_in_use: an EXTERNAL table under a DIFFERENT
            # name may sit at this table's derived managed location —
            # deleting it would destroy data no catalog entry for
            # `table` reveals. If the path is claimed, leave it; the
            # saveAsTable below then fails LOCATION_ALREADY_EXISTS
            # (safe, explicit) instead of silently eating the files.
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(loc)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(p):
                fs.delete(p, True)
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 200,
    compression: str = "snappy",
) -> int:
    """Small-file compaction: rewrite a parquet dataset into ~target_mb
    files (the maintenance job every long-running ingest needs — file
    listings and scan task counts degrade as small files accumulate).
    Reads ``src``, writes ``dst`` (never in place — an in-place rewrite
    that fails mid-way destroys the input). Returns the partition count
    written."""
    return write_parquet(
        read_parquet(spark, src), dst,
        target_mb=target_mb, compression=compression,
    )


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written under an EVOLVING schema (columns added
    over time across ingestion batches): ``mergeSchema`` unions the
    per-file footers into one superset schema, with files missing a
    column yielding NULLs — the lakehouse reality where yesterday's
    writer didn't know about today's column. Kept off by default in
    plain reads because footer-merging costs one extra pass over file
    metadata; turn it on only at evolution boundaries."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)

"""SparkSession factory for local testing; cluster-safe defaults.

The reference notebook runs on a managed Databricks cluster and never
configures Spark itself. Here we centralize the session so tests/bench
get a deterministic, UTC-pinned, AQE-enabled local session.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Startup-time scratch root, created lazily once per process. mkdtemp
# (not a bare pid suffix) so a recycled pid can never resurrect a dead
# process's derby metastore/warehouse and surface its stale managed
# tables (r12 ADVICE); atexit rmtree so roots don't accumulate across
# runs. Module-global cache keeps the path stable within the process,
# which derby.system.home (JVM-launch-time option) requires.
_SCRATCH_ROOT: str | None = None


def _scratch_root() -> str:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        # register the LOCAL name: registering the global would, under a
        # get_spark race from two threads, bind the loser's handler to
        # the winner's dir (double-rmtree one, leak the other)
        root = tempfile.mkdtemp(prefix=f"flight_etl_{os.getpid()}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT = root
    return _SCRATCH_ROOT

# Runtime-settable confs that correctness depends on (timezone) or that
# keep small-scale plans sane. Applied by tune() even to sessions we did
# not create (e.g. the driver's).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4 defaults ANSI on; the reference ran Spark 3.5-era semantics
    # (NULL-on-error casts, non-erroring div-by-zero) which the quality
    # operators' three-valued-logic behavior assumes.
    "spark.sql.ansi.enabled": "false",
}
# NOTE: timestamp normalization is dtype-adaptive in sources.normalize_timestamp
# (Spark 4.1.2 reads non-UTC-adjusted parquet TIMESTAMP as TIMESTAMP_NTZ and
# ignores spark.sql.legacy.parquet.nanosAsLong) — no session conf involved.


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable confs to an existing session.

    Timezone pinning matters for oracle parity: Spark renders timestamps
    in the session TZ while DuckDB is UTC-naive, so every date/timestamp
    comparison assumes UTC.
    """
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def register_views(spark: SparkSession, tables, prefix: str = "") -> list[str]:
    """Expose DataFrames as session temp views — the dual SQL surface
    (reference Entry 2, SURVEY §3: every operator usable from both the
    DataFrame API and ``spark.sql`` over views). Views wrap the lazy
    plans, not materialized data. Returns the registered names."""
    names = []
    for name, df in tables.items():
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names


def get_spark(
    app_name: str = "flight-etl-engine",
    cpus: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession.

    local[N]: one JVM, N executor threads; spark.driver.memory is the
    only memory knob. On a real cluster these settings are supplied by
    the cluster manager instead.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    driver_memory = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    # Python workers are separate processes that do NOT inherit the
    # driver's sys.path — a cloudpickled kernel that references this
    # package fails to unpickle on the worker unless the repo root is
    # on PYTHONPATH (only bites when the driver ran from a cwd other
    # than the repo root). Must be set before JVM launch; on a real
    # cluster this is --py-files / a wheel install instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pythonpath if pythonpath else "")
        )
    # Per-PROCESS scratch roots (env override kept). A fixed shared path
    # plus derby's cwd metastore_db let two concurrent pytest sessions
    # corrupt each other's managed tables (24 measured cross-talk
    # failures); mkdtemp-per-process defaults (see _scratch_root) make
    # concurrent runs disjoint, immune to pid reuse, and cleaned at exit,
    # while staying stable across getOrCreate() calls within a process.
    # _scratch_root() only when a default path is actually needed —
    # with both env overrides set, eagerly calling it would create an
    # unused empty mkdtemp dir (r13 self-review)
    warehouse = os.environ.get("SPARK_WAREHOUSE_DIR") or os.path.join(
        _scratch_root(), "warehouse"
    )
    derby_home = os.environ.get("DERBY_SYSTEM_HOME") or os.path.join(
        _scratch_root(), "derby"
    )
    os.makedirs(derby_home, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # bucketed saveAsTable target — keep managed tables out of the repo
        .config("spark.sql.warehouse.dir", warehouse)
        # derby metastore otherwise lands in cwd (metastore_db/) and is
        # single-writer; JVM-launch-time option, no-op on getOrCreate()
        # reuse, which is fine — reuse means same process, same derby.
        .config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={derby_home}"
        )
        # Two local-only fixed costs (not in RUNTIME_CONF: tune() applies
        # that to sessions we did not build). The stock daemon's workers
        # re-read every zip's file list on every task; see _pydaemon.
        .config("spark.python.daemon.module", "databricks_flight_etl_spark._pydaemon")
        # The default FileContext manager renames with OVERWRITE through
        # getFileLinkStatus, which without the Hadoop native library
        # forks readlink/stat per checkpoint file. On a local disk
        # rename(2) is atomic and replaces the target, so the plain
        # FileSystem manager keeps the same commit protocol.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions=cpus)

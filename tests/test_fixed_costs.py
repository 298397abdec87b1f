"""Per-call fixed costs removed from local sessions: the Python-worker
zip rescans (``_pydaemon``), the schema-inference job of every
``load_table`` (declared ``TESTDATA_SCHEMAS``) and the streaming
checkpoint manager that forks shell commands (``session.get_spark``)."""

import glob
import importlib
import os
import shutil
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import types as T

from databricks_flight_etl_spark import _pydaemon
from databricks_flight_etl_spark.schemas import TESTDATA_SCHEMAS
from databricks_flight_etl_spark.sources import load_table, normalize_timestamp
from databricks_flight_etl_spark.streaming import (
    bounded_shuffle_partitions,
    streaming_dedup,
)
from test_opt_r15 import _jobs_run_during

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
SCALES = sorted(glob.glob("/root/testdata/sf*")) + [
    os.path.join(REPO, "perfbench", "data", "sf0.01")
]
rereads_zips = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter only drops its cache entry",
)


# -- Python-worker zip directories --------------------------------------------

@pytest.fixture
def zip_archive(tmp_path, monkeypatch):
    """A fresh importable zip with the daemon's patch installed; returns
    (archive path, module name prefix, writer)."""
    monkeypatch.setattr(zipimport, "_read_directory", _pydaemon._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    prefix = f"zmod_{uuid.uuid4().hex}"

    def write(modules: dict[str, str], mtime_ns: int) -> None:
        with zipfile.ZipFile(archive, "w") as zf:
            for name, src in modules.items():
                zf.writestr(f"{prefix}_{name}.py", src)
        os.utime(archive, ns=(mtime_ns, mtime_ns))

    monkeypatch.syspath_prepend(archive)
    yield archive, prefix, write
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    _pydaemon._read_at.pop(archive, None)


@rereads_zips
def test_unchanged_zip_keeps_its_directory(zip_archive):
    archive, prefix, write = zip_archive
    write({"a": "X = 1\n"}, 1_000_000_000_000_000_000)
    assert importlib.import_module(f"{prefix}_a").X == 1
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files


@rereads_zips
def test_rewritten_zip_is_reread(zip_archive):
    """The stdlib contract: after invalidate_caches() a module added to
    the archive is importable."""
    archive, prefix, write = zip_archive
    write({"a": "X = 1\n"}, 1_000_000_000_000_000_000)
    importlib.import_module(f"{prefix}_a")
    files = zipimport._zip_directory_cache[archive]
    write({"a": "X = 1\n", "b": "Y = 2\n"}, 1_000_000_001_000_000_000)
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    assert importlib.import_module(f"{prefix}_b").Y == 2


@rereads_zips
def test_python_worker_keeps_pyspark_zip_directory(spark):
    """A reused Python worker calls invalidate_caches() on every task
    (setup_spark_files); pyspark.zip's directory must survive it."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        archive = next(
            (a for a in cache if os.path.basename(a) == "pyspark.zip"), None
        )
        before = cache.get(archive)
        importlib.invalidate_caches()
        kept = before is not None and cache.get(archive) is before
        yield pd.DataFrame({"archive": [archive], "kept": [kept]})

    df = spark.range(1).repartition(1).mapInPandas(probe, "archive string, kept boolean")
    row = df.collect()[0]
    assert row.archive is not None, "worker holds no pyspark.zip importer"
    assert row.kept


# -- declared testdata schemas ------------------------------------------------

@pytest.mark.parametrize(
    "sf_dir", SCALES, ids=lambda d: os.path.relpath(d, os.path.dirname(os.path.dirname(d)))
)
def test_declared_schemas_match_the_files(spark, sf_dir):
    for name, schema in TESTDATA_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert inferred == schema, f"{sf_dir}/{name}.parquet: {inferred.simpleString()}"


def test_load_table_runs_no_job(spark):
    for name in TESTDATA_SCHEMAS:
        assert _jobs_run_during(spark, lambda: load_table(spark, SF, name)) == 0, name
    events = load_table(spark, SF, "events")
    assert events.schema["ts"].dataType == T.TimestampType()
    assert events.count() == spark.read.parquet(f"{SF}/events.parquet").count()


def test_load_table_infers_unknown_tables(spark, tmp_path):
    spark.range(5).selectExpr("id AS widget_id", "CAST(id AS string) AS tag").write.parquet(
        str(tmp_path / "widgets.parquet")
    )
    df = load_table(spark, str(tmp_path), "widgets")
    assert df.schema.simpleString() == "struct<widget_id:bigint,tag:string>"
    assert sorted(r.widget_id for r in df.collect()) == [0, 1, 2, 3, 4]


# -- streaming checkpoints ----------------------------------------------------

def test_streaming_dedup_restarts_from_its_checkpoint(spark, tmp_path):
    """Run, stop, restart from the same checkpoint and replay every key:
    the restored state drops the replay, so the sink holds each event_id
    exactly once. A parquet sink, since a memory sink in append mode
    cannot recover from a checkpoint."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.mkdir(src)

    def run():
        stream = normalize_timestamp(
            spark.readStream.schema(TESTDATA_SCHEMAS["events"]).parquet(src), ["ts"]
        )
        q = (
            streaming_dedup(stream, ["event_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            return [p["batchId"] for p in q.recentProgress]
        finally:
            q.stop()

    with bounded_shuffle_partitions(spark, 2):
        shutil.copy(f"{SF}/events.parquet", f"{src}/a.parquet")
        first = run()
        shutil.copy(f"{SF}/events.parquet", f"{src}/b.parquet")
        second = run()

    assert first and second
    assert min(second) > max(first)  # resumed from the log, not restarted
    ids = [r.event_id for r in spark.read.parquet(out).select("event_id").collect()]
    n_events = spark.read.parquet(f"{SF}/events.parquet").select("event_id").distinct().count()
    assert len(ids) == len(set(ids)) == n_events

"""Python workers only where Python runs.

A Python task costs a worker process plus the per-task Arrow floor; a
JVM task costs neither. These tests pin the two places that decide how
many Python tasks a plan gets:

- ``partitioning.local_df`` builds driver lists below 10k rows as
  Arrow-backed ``LocalRelation``s (0 jobs to collect, no Python worker)
  and keeps the sliced RDD above;
- ``similarity.cosine_topk_pandas`` does not spread its corpus, so its
  Python stage takes the scan's own split count;

plus a source guard that keeps every other module from building a frame
out of a Python list or RDD.
"""

from __future__ import annotations

import ast
import os
import pathlib
import uuid

import pytest

from databricks_flight_etl_spark import partitioning
from databricks_flight_etl_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_pandas,
)

PACKAGE = pathlib.Path(partitioning.__file__).parent
# the vendored sf0.01 star tables (the benchmark's seed-0 inputs)
SF = str(PACKAGE.parent / "perfbench" / "data" / "sf0.01")


def _run_in_group(spark, fn):
    """(fn(), job ids fn() ran)."""
    sc = spark.sparkContext
    group = str(uuid.uuid4())
    sc.setJobGroup(group, "python-stages")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _stage_tasks(spark, job_ids, operator):
    """Task counts of the stages of ``job_ids`` whose operation graph
    (the status store's DAG clusters) contains ``operator``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in job_ids:
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            info = sc.statusTracker().getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its output was reused
            names, stack = [], [store.operationGraphForStage(sid).rootCluster()]
            while stack:
                cluster = stack.pop()
                names.append(cluster.name())
                it = cluster.childClusters().iterator()
                while it.hasNext():
                    stack.append(it.next())
            if operator in names:
                out.append(info.numTasks)
    return out


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("n_rows", [6, 0])
def test_local_df_small_is_local_relation(spark, n_rows):
    rows = [(i, f"t{i}", float(i) / 2) for i in range(n_rows)]
    df = partitioning.local_df(spark, rows, "k bigint, t string, w double")
    assert _optimized(df).startswith("LocalRelation")
    got, jobs = _run_in_group(spark, df.collect)
    assert jobs == []
    assert [tuple(r) for r in got] == rows
    assert df.schema.simpleString() == "struct<k:bigint,t:string,w:double>"


def test_local_df_nested_and_row_inputs(spark):
    """The callers' shapes: ``Row``s from a collect (stop lists),
    array columns (centroid tables), dates (day coverage) and NULLs."""
    import datetime

    stops = spark.range(3).selectExpr("cast(id as string) as s", "id as n")
    rows = stops.collect()
    df = partitioning.local_df(spark, rows, "shingle string, df bigint")
    assert df.collect() == spark.createDataFrame(
        rows, "shingle string, df bigint").collect()
    cent = [(0, [1.0, 2.5]), (1, None)]
    df = partitioning.local_df(spark, cent, "__super int, __cent array<double>")
    assert [tuple(r) for r in df.collect()] == cent
    days = [(datetime.date(2008, 1, 3), 4), (None, 0)]
    df = partitioning.local_df(spark, days, "day date, n_events bigint")
    assert [tuple(r) for r in df.collect()] == days


def test_local_df_reads_rows_as_create_data_frame_does(spark, monkeypatch):
    """Dict rows by field name, naive datetimes as local time (here a
    zone that is not UTC): the same rows as ``createDataFrame`` on the
    list."""
    import datetime
    import time

    schema = "k bigint, ts timestamp, tags map<string, int>"
    rows = [
        {"ts": datetime.datetime(2008, 1, 3, 10, 30), "k": 1, "tags": {"a": 2}},
        {"k": 2},
    ]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = partitioning.local_df(spark, rows, schema).collect()
        assert got == spark.createDataFrame(rows, schema).collect()
        assert got[0]["ts"] == rows[0]["ts"]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_df_rejects_a_row_of_the_wrong_length(spark):
    from pyspark.errors import PySparkValueError

    with pytest.raises(PySparkValueError, match="LENGTH"):
        partitioning.local_df(spark, [(1, 2), (3, 4, 5)], "a bigint, b bigint")


@pytest.mark.parametrize("n_rows", [20_000, 150_000])
def test_local_df_large_keeps_sliced_path(spark, n_rows):
    """At or above 10k rows the list keeps the sliced RDD: same rows,
    same dtypes, same slice count as building it by hand."""
    rows = [(i, i % 7) for i in range(n_rows)]
    schema = "node bigint, component bigint"
    df = partitioning.local_df(spark, rows, schema)
    assert "LogicalRDD" in _optimized(df)
    # ~100k rows per slice, at least one: both sizes are one slice
    ref = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    assert df.dtypes == ref.dtypes
    assert df.rdd.getNumPartitions() == 1
    assert sorted(df.collect()) == sorted(ref.collect())


def test_cosine_topk_pandas_scores_in_one_task(spark):
    """The 193 KB sf0.01 embeddings file is one scan split and the
    corpus is not spread, so the Python stage runs in ONE task (one
    worker) instead of being round-robined to every core; the rows
    match the JVM kernel."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = cosine_topk_pandas(emb, probe_id=0, k=10)
    got, jobs = _run_in_group(spark, df.collect)
    assert _stage_tasks(spark, jobs, "MapInPandas") == [1]
    assert got == cosine_topk(emb, probe_id=0, k=10).collect()


def test_cosine_topk_pandas_fan_out_is_the_scans_own(spark):
    """Large inputs still reach every core, through Spark's own file
    splitting rather than a repartition: with the open cost at 1 KB the
    same file is cut into ``defaultParallelism`` splits, and the Python
    stage runs one task per split behind no round-robin exchange."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    spark.conf.set("spark.sql.files.openCostInBytes", "1k")
    try:
        df = cosine_topk_pandas(emb, probe_id=0, k=10)
        got, jobs = _run_in_group(spark, df.collect)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert "RoundRobinPartitioning" not in plan
    assert _stage_tasks(spark, jobs, "MapInPandas") == [
        spark.sparkContext.defaultParallelism
    ]
    assert got == cosine_topk(emb, probe_id=0, k=10).collect()


def test_file_count_matches_input_files(spark, tmp_path):
    """The file count comes from the index listing, not from
    ``inputFiles()``; both count the same files. A partitioned catalog
    table has no listing until it is pruned (``CatalogFileIndex``) and
    is counted after pruning to all partitions."""
    path = str(tmp_path / "multi.parquet")
    spark.range(400).selectExpr("id", "id % 2 as p").repartition(2).write \
        .partitionBy("p").parquet(path)
    df = spark.read.parquet(path)
    assert partitioning._file_leaf_stats(df)[1] == len(df.inputFiles()) == 4
    table = f"t_{uuid.uuid4().hex}"
    spark.sql(f"CREATE TABLE {table} (id bigint, p bigint) USING parquet "
              f"PARTITIONED BY (p) LOCATION '{path}'")
    try:
        spark.sql(f"MSCK REPAIR TABLE {table}")
        df = spark.table(table)
        assert partitioning._file_leaf_stats(df)[1] == len(df.inputFiles()) == 4
    finally:
        spark.sql(f"DROP TABLE {table}")



def test_partitioned_catalog_table_is_sized_by_its_files(spark, tmp_path):
    """An unanalyzed partitioned catalog table reports ``Long.MaxValue``
    as its relation size; the estimate is its files' bytes instead, so
    the size-targeted sink writes it."""
    from databricks_flight_etl_spark.plans import estimate_bytes
    from databricks_flight_etl_spark.sources import write_parquet

    path = str(tmp_path / "cat.parquet")
    spark.range(40).selectExpr("id", "id % 2 as p").repartition(2).write \
        .partitionBy("p").parquet(path)
    table = f"t_{uuid.uuid4().hex}"
    spark.sql(f"CREATE TABLE {table} (id bigint, p bigint) USING parquet "
              f"PARTITIONED BY (p) LOCATION '{path}'")
    try:
        spark.sql(f"MSCK REPAIR TABLE {table}")
        df = spark.table(table)
        files = df.inputFiles()
        assert len(files) == 4
        want = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
        assert estimate_bytes(df) == want < 2**63 - 1
        out = str(tmp_path / "out.parquet")
        assert write_parquet(df, out) == 1
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        assert got == [(i, i % 2) for i in range(40)]
    finally:
        spark.sql(f"DROP TABLE {table}")

def test_dedup_clusters_has_no_python_rdd(spark):
    """q_dedup_clusters' 51-row label table is a LocalRelation: no
    pickled RDD, so collecting the result runs no job and starts no
    Python worker."""
    import __spark_entry__ as entry

    out = entry.queries()["q_dedup_clusters"](spark, SF)
    plan = _optimized(out)
    assert "LogicalRDD" not in plan and plan.startswith("LocalRelation")
    rows, jobs = _run_in_group(spark, out.collect)
    assert jobs == [] and len(rows) > 0


# -- source guard -------------------------------------------------------------

def _driver_list_frames(source: str) -> list[int]:
    """Line numbers of calls that build a frame from a Python list or
    RDD: any ``.parallelize(``, and any ``createDataFrame(`` whose data
    argument is not visibly an Arrow table or a pandas frame."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr == "parallelize":
            hits.append(node.lineno)
        elif node.func.attr == "createDataFrame":
            data = node.args[0] if node.args else None
            src = ast.unparse(data.func) if isinstance(data, ast.Call) else ""
            if not src.startswith(("pa.", "pyarrow.", "pd.", "pandas.")):
                hits.append(node.lineno)
    return hits


def test_guard_detects_driver_list_frames():
    assert sorted(_driver_list_frames(
        "spark.createDataFrame([], 's string')\n"
        "spark.createDataFrame(rows, schema)\n"
        "spark.createDataFrame(sc.parallelize(rows), schema)\n"
        "spark.createDataFrame(pa.table(cols), schema)\n"
    )) == [1, 2, 3, 3]


def test_only_partitioning_builds_frames_from_driver_lists():
    offenders = {
        str(path.relative_to(PACKAGE)): lines
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "partitioning.py" or path.parent != PACKAGE
        for lines in [_driver_list_frames(path.read_text())]
        if lines
    }
    assert offenders == {}, (
        "build driver-side tables with partitioning.local_df (a local "
        f"relation, no Python worker): {offenders}"
    )

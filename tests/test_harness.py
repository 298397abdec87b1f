"""Driver-contract smoke: entry() runs on sf0.001 and every queries()
entry returns rows with a stable schema (full oracle differential lives
in tools/check_oracle.py and the driver's t2 gate)."""

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def test_entry(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 30
    assert df.schema.simpleString() == "struct<day:date,n_events:bigint>"


def test_queries_and_oracles_paired():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # SURVEY §2 coverage floor
    assert len(qs) >= 26 and len(oracles) >= 26


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.columns  # stable, non-empty schema
    df.limit(5).collect()


def test_all_exports_exist():
    """Every name in every module's __all__ must resolve — a missing
    comma in the list silently concatenates two names into one bogus
    entry (found twice in review)."""
    import importlib
    import pkgutil

    import databricks_flight_etl_spark as pkg

    bad = []
    for mi in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        m = importlib.import_module(mi.name)
        for n in getattr(m, "__all__", []):
            if not hasattr(m, n):
                bad.append((mi.name, n))
    assert bad == []


def test_session_scratch_isolation_contract(spark):
    """Two concurrent pytest processes must not share mutable session
    state (r11 verdict: a fixed /tmp warehouse + cwd derby metastore
    produced 24 cross-talk failures). Pins the per-PROCESS defaults:
    an mkdtemp-uniquified pid-prefixed scratch root (r12 ADVICE — a
    bare pid suffix can resurrect a dead process's derby on pid reuse)
    registered for atexit cleanup, warehouse + derby.system.home under
    it (unless the env override is set), and the repo root on
    PYTHONPATH so cloudpickled kernels referencing the package
    unpickle on workers from any cwd."""
    import os

    pid = str(os.getpid())
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    if "SPARK_WAREHOUSE_DIR" in os.environ:
        assert os.environ["SPARK_WAREHOUSE_DIR"] in warehouse
    else:
        # mkdtemp prefix 'flight_etl_<pid>_' + random suffix
        assert f"flight_etl_{pid}_" in warehouse, warehouse
        from databricks_flight_etl_spark import session as sess

        root = sess._scratch_root()
        # conf value comes back as a file: URI
        assert warehouse.removeprefix("file:").startswith(root), (
            warehouse, root,
        )
        assert root == sess._scratch_root()  # stable within process
    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    if "DERBY_SYSTEM_HOME" not in os.environ and "derby.system.home" in opts:
        assert f"flight_etl_{pid}_" in opts, opts
    # worker import path: repo root must be on PYTHONPATH after get_spark
    import databricks_flight_etl_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    assert repo_root in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_stage_parity_halves_contract(spark, tmp_path):
    """The streaming twins' staging helper: both parity files exist,
    even.parquet's pinned mtime is STRICTLY earlier than odd.parquet's
    (micro-batch order by contract, not copy-timing luck — r11
    ADVICE), membership is exact pmod parity, and an all-null key
    raises the broadened empty-half error."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.registry.streaming import (
        _stage_parity_halves,
    )

    df = spark.range(100).select(F.col("id").alias("k"))
    stage = _stage_parity_halves(df, "k", str(tmp_path / "a"))
    even, odd = f"{stage}/even.parquet", f"{stage}/odd.parquet"
    assert os.path.exists(even) and os.path.exists(odd)
    assert os.stat(even).st_mtime < os.stat(odd).st_mtime
    got_even = {r["k"] for r in spark.read.parquet(even).collect()}
    got_odd = {r["k"] for r in spark.read.parquet(odd).collect()}
    assert got_even == set(range(0, 100, 2))
    assert got_odd == set(range(1, 100, 2))
    # pmod membership: negative odd keys land in the ODD half (a raw
    # `% 2 == 1` filter would have dropped them)
    neg = spark.createDataFrame([(-3,), (-2,), (4,), (5,)], "k long")
    stage = _stage_parity_halves(neg, "k", str(tmp_path / "b"))
    got_odd = {r["k"] for r in
               spark.read.parquet(f"{stage}/odd.parquet").collect()}
    assert got_odd == {-3, 5}
    # all-null key -> both halves empty -> the broadened error
    nulls = spark.createDataFrame([(None,), (None,)], "k long")
    with pytest.raises(RuntimeError, match="NULL"):
        _stage_parity_halves(nulls, "k", str(tmp_path / "c"))

"""Round-15 optimization pins: the changed internals keep their values.

Like round 14's pins, these lock the equalities each optimization
depends on — here, that the zero-job spread() decision (file-leaf size
estimate) reproduces the old physical-plan probe's decision on both
sides of the narrowness boundary, and that spread() and the dedup
verify no longer run Spark jobs at DataFrame-construction time (under
AQE, ``df.rdd`` on a plan with exchanges *executes its query stages* —
the r15 finding), and that a non-file source (JDBC) falls back to the
exact probe instead of crashing the leaf walk. They also pin two r15 folds against regressions the
fold introduced: PPJoin's injectivity verdict is re-probed on every
construction, and chi-square's dof counts a NULL category.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from databricks_flight_etl_spark import partitioning


def _jobs_run_during(spark, fn):
    """Number of Spark jobs triggered while fn() runs."""
    sc = spark.sparkContext
    group = str(uuid.uuid4())
    sc.setJobGroup(group, "job-probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_estimate_matches_probe_on_narrow_scan(spark, tmp_path):
    """A small single-file parquet scan sits far below
    defaultParallelism under BOTH probes, so spread must still
    repartition — the single-row-group small-file case it exists for."""
    path = str(tmp_path / "narrow.parquet")
    spark.range(100).withColumnRenamed("id", "doc_id").coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    est = partitioning._estimated_scan_splits(df, target)
    probe = df.rdd.getNumPartitions()
    assert est is not None
    assert (est >= target) == (probe >= target)
    out = partitioning.spread(df, "doc_id")
    assert out.rdd.getNumPartitions() == target


def test_spread_runs_zero_jobs_on_exchange_bearing_plans(spark, tmp_path):
    """The old ``.rdd`` probe EXECUTED the plan's query stages under
    AQE (measured 3.97 s of real jobs on the funnel lineage). The
    size-estimate decision must run zero jobs even when the input
    lineage contains joins/aggregates."""
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text body {i % 5}") for i in range(200)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    lineage = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    n = _jobs_run_during(
        spark, lambda: partitioning.spread(lineage, "doc_id")
    )
    assert n == 0


def test_spread_falls_back_on_jdbc_source(spark):
    """A JDBC relation has no file index: the leaf walk must report
    no estimate (under_parallel then takes the exact probe) instead
    of calling ``location()`` on it and raising a Py4JError. Runs on an
    in-memory Derby database; the driver ships in pyspark's jars."""
    url = f"jdbc:derby:memory:spread_{uuid.uuid4().hex};create=true"
    spark.range(5).withColumnRenamed("id", "k").write.jdbc(url, "T1")
    src = spark.read.jdbc(url, "T1")
    assert partitioning._file_leaf_stats(src) == (0, 0)
    target = spark.sparkContext.defaultParallelism
    assert partitioning._estimated_scan_splits(src, target) is None
    assert partitioning.under_parallel(src) == (
        src.rdd.getNumPartitions() < target
    )
    out = partitioning.spread(src, "k")
    assert sorted(r["k"] for r in out.collect()) == [0, 1, 2, 3, 4]


def test_ppjoin_reprobes_a_rewritten_source(spark, tmp_path, monkeypatch):
    """The injectivity verdict must never outlive the construction that
    probed it: re-reading a path that was rewritten in place (same
    analyzed plan, different files) must re-probe. A forced probe
    failure stands in for the rewritten, now-colliding corpus — the
    rebuilt join must fall back to string staging, not reuse the
    earlier hashed verdict."""
    from databricks_flight_etl_spark.operators import dedup

    path = str(tmp_path / "sets_rewritten.parquet")
    spark.createDataFrame(
        [(i, [f"w{i % 5}_{j}" for j in range(4)] + ["shared"])
         for i in range(20)],
        "doc_id long, toks array<string>",
    ).write.parquet(path)
    staged = []
    real = dedup._ordered_prefixes

    def spy(*args, **kwargs):
        pref, hashed = real(*args, **kwargs)
        staged.append((pref, hashed))
        return pref, hashed

    monkeypatch.setattr(dedup, "_ordered_prefixes", spy)

    def build():
        out = dedup.set_similarity_join(
            spark.read.parquet(path), "toks", "doc_id", threshold=0.7
        )
        got = sorted(
            (r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()
        )
        spark.catalog.clearCache()
        return got

    first = build()
    assert first and staged[-1][1]  # collision-free: hashed staging
    monkeypatch.setattr(dedup, "_hash_injective", lambda tok_stats: False)
    second = build()
    pref, hashed = staged[-1]
    assert not hashed
    assert isinstance(pref.first()["__sorted"][0], str)
    spark.catalog.clearCache()
    assert second == first  # exact under either staging


def test_minhash_probe_runs_zero_jobs_at_construction(spark, tmp_path):
    """The verify's narrowness decision goes through partitioning's
    zero-job estimate: building minhash_probe over a corpus lineage
    that contains an exchange must not execute that lineage (an
    ``.rdd`` partition probe under AQE runs its query stages)."""
    from databricks_flight_etl_spark.operators import dedup

    corpus_path = str(tmp_path / "corpus.parquet")
    new_path = str(tmp_path / "increment.parquet")
    spark.createDataFrame(
        [(i, f"corpus document body {i % 7} with words {i}")
         for i in range(60)],
        "doc_id long, text string",
    ).write.parquet(corpus_path)
    spark.createDataFrame(
        [(1000 + i, f"corpus document body {i % 7} with words {i}")
         for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(new_path)
    raw = spark.read.parquet(corpus_path)
    keep = raw.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    corpus = raw.join(keep.select("doc_id"), "doc_id", "left_semi")
    index = dedup.minhash_bands(corpus, "text", "doc_id")
    new = spark.read.parquet(new_path)
    built = []
    n = _jobs_run_during(
        spark,
        lambda: built.append(dedup.minhash_probe(
            new, corpus, index, "text", "doc_id", threshold=0.8,
        )),
    )
    assert n == 0
    got = {(r["new_id"], r["corpus_id"]) for r in built[0].collect()}
    spark.catalog.clearCache()
    assert {(1000 + i, i) for i in range(5)} <= got


def test_chi_square_dof_counts_null_category(spark):
    """dof = (|groups_a| − 1)(|groups_b| − 1) with a NULL category
    counted as a group, as the q_chi_square oracle counts ra / rb. The
    marginal equi-joins drop NULL-keyed cells, so the category counts
    must come from the raw frame; chi2 keeps the oracle's non-null
    cells."""
    from databricks_flight_etl_spark.operators.accuracy import (
        chi_square_independence,
    )

    rows = (
        [("x", 0)] * 3 + [("x", 1)] * 2 + [("y", 0)] * 1 + [("y", 1)] * 4
        + [(None, 0)] * 2 + [(None, 1)] * 1 + [("z", None)] * 2
    )
    df = spark.createDataFrame(rows, "c string, b int")
    got = chi_square_independence(df, "c", "b").collect()[0]
    n = len(rows)
    ka = len({a for a, _ in rows})  # x, y, z, NULL
    kb = len({b for _, b in rows})  # 0, 1, NULL
    assert got["dof"] == (ka - 1) * (kb - 1) == 6
    assert got["n"] == n
    ra = {a: sum(1 for x, _ in rows if x == a) for a, _ in rows}
    rb = {b: sum(1 for _, y in rows if y == b) for _, b in rows}
    cells = {}
    for a, b in rows:
        if a is not None and b is not None:
            cells[(a, b)] = cells.get((a, b), 0) + 1
    chi2 = 0.0
    for (a, b), o in cells.items():
        e = ra[a] * rb[b] / n
        chi2 += (o - e) * (o - e) / e
    assert got["chi2"] == pytest.approx(round(chi2, 6), abs=1e-6)


def test_spread_estimate_formula_scale_adaptive(spark, monkeypatch):
    """The split estimate follows Spark's FilePartition formula: tiny
    inputs estimate far below any core count (repartition fires);
    production-sized inputs estimate >= defaultParallelism (no-op)."""
    df = spark.range(10)  # only carries the session; leaves are faked

    def fake_stats(total, n_files):
        return lambda _df: (total, n_files)

    # 1 MB single file, 32 cores: bytes_per_core < openCost -> est tiny
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(1 << 20, 1)
    )
    est_small = partitioning._estimated_scan_splits(df, 32)
    assert est_small is not None and est_small < 32
    # 100 GB over 800 files: est = ceil(padded/128MB) >> 32 -> no-op
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(100 << 30, 800)
    )
    est_big = partitioning._estimated_scan_splits(df, 32)
    assert est_big >= 32
    # mid regime: bytes_per_core governs -> est == target exactly
    # (Spark itself would spread this input across defaultParallelism)
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(512 << 20, 4)
    )
    est_mid = partitioning._estimated_scan_splits(df, 32)
    assert est_mid == 32
    # no file leaves -> None (caller falls back to the exact probe)
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(0, 0)
    )
    assert partitioning._estimated_scan_splits(df, 32) is None

"""Plan-quality regression tests: pin the physical-plan properties the
100 TB design relies on (SURVEY §4) — filters reach the parquet scan,
columns are pruned, small dims broadcast, top-k avoids a global sort.

These run against the harness queries at sf0.001 (plan shape, not data,
is under test)."""

import sys

sys.path.insert(0, "/root/repo")

from __spark_entry__ import queries  # noqa: E402

from databricks_flight_etl_spark import plans  # noqa: E402

SF = "/root/testdata/sf0.001"
QUERIES = queries()


def test_scan_project_pushdown_and_pruning(spark):
    df = QUERIES["q_scan_project"](spark, SF)
    pf = plans.pushed_filters(df)
    assert any("GreaterThanOrEqual(l_quantity" in f for f in pf), pf
    assert any("LessThanOrEqual(l_quantity" in f for f in pf), pf
    (schema,) = plans.read_schemas(df)
    # 4 projected + 1 filter column — nothing else off the 11-col table
    assert schema.count(":") == 5, schema
    assert "l_partkey" not in schema


def test_multiway_join_broadcasts_dims(spark):
    audit = plans.plan_audit(QUERIES["q_join_multiway"](spark, SF))
    assert audit["n_broadcast_joins"] >= 1, audit


def test_topk_is_take_ordered(spark):
    df = QUERIES["q_topk"](spark, SF)
    assert plans.has_operator(df, "TakeOrderedAndProject")
    # global sort never materializes for a limit-k
    assert not plans.has_operator(df, "Sort ")


def test_agg_is_partial_final(spark):
    # partial (map-side) + final HashAggregate around one shuffle
    df = QUERIES["q_groupby_count"](spark, SF)
    assert plans.count_operator(df, "HashAggregate") >= 2


def test_tpch_q1_filter_pushed(spark):
    df = QUERIES["q_tpch_q1"](spark, SF)
    pf = plans.pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf


def test_semi_join_no_row_widening(spark):
    df = QUERIES["q_join_semi"](spark, SF)
    p = plans.explain_str(df)
    assert "LeftSemi" in p


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must show up as a PartitionFilter
    (directory pruning), not a data filter over every file."""
    from databricks_flight_etl_spark import sources

    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", float(i)) for i in range(300)],
        "id long, day string, v double",
    )
    out = str(tmp_path / "by_day")
    sources.write_partitioned(df, out, ["day"])

    back = spark.read.parquet(out).filter("day = '2024-01-02'")
    p = plans.explain_str(back)
    scan = [line for line in p.splitlines() if "PartitionFilters" in line]
    assert scan and "2024-01-02" in scan[0], p
    assert back.count() == 100
    # non-partition filter stays a pushed data filter, for contrast
    vf = spark.read.parquet(out).filter("v < 10")
    assert any("LessThan(v" in f for f in plans.pushed_filters(vf))


def test_exists_decorrelates_to_semi_anti(spark):
    p4 = plans.explain_str(QUERIES["q_tpch_q4"](spark, SF))
    assert "LeftSemi" in p4, p4
    p21 = plans.explain_str(QUERIES["q_tpch_q21_shape"](spark, SF))
    assert "LeftSemi" in p21 and "LeftAnti" in p21, p21


def test_spread_satisfies_downstream_clustering(spark):
    """The spread repartition (keyed by doc id) must be the ONLY
    exchange in winnowing: HashPartitioning(id) satisfies the final
    distinct's ClusteredDistribution(id, fp), so Catalyst must not add
    a second shuffle. Guards the partitioning-reuse property the text
    pipeline's shuffle budget relies on."""
    df = QUERIES["q_winnow"](spark, SF)
    audit = plans.plan_audit(df)
    assert audit["n_shuffles"] == 1, audit


def test_tfidf_spread_reuses_partitioning(spark):
    """tf-idf: spread-by-id + groupBy(id, token) reuse (no exchange of
    the exploded token table) + one token-df shuffle of the already-
    aggregated tf table = exactly 2 non-broadcast exchanges. The df
    join back must broadcast."""
    df = QUERIES["q_tfidf"](spark, SF)
    audit = plans.plan_audit(df)
    assert audit["n_shuffles"] == 2, audit
    assert audit["n_broadcast_joins"] >= 1, audit


def test_contamination_broadcasts_probe_side(spark):
    df = QUERIES["q_contamination"](spark, SF)
    p = plans.explain_str(df)
    assert "BroadcastHashJoin" in p
    # the corpus side must never sort-merge against the probe set
    assert "SortMergeJoin" not in p


def test_pack_shards_never_single_partition(spark):
    # THE distributed-prefix-sum property: a naive global running sum
    # plans Exchange SinglePartition; the bucketed form must not
    df = QUERIES["q_pack_shards"](spark, SF)
    p = plans.explain_str(df)
    assert "SinglePartition" not in p


def test_dedup_survivors_broadcasts_losers(spark):
    df = QUERIES["q_dedup_survivors"](spark, SF)
    p = plans.explain_str(df)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_ann_ivf_batch_no_corpus_shuffle_join(spark):
    """VERDICT r3 #5: the batched IVF probe must equi-join candidate
    lists via BROADCAST of the tiny (probe x n_probe) side — the corpus
    never sort-merges — and the probe-id filter must push to the scan.
    Shuffles: corpus spread + per-probe Window only.

    The public path returns a localCheckpoint (lineage truncated to a
    scan), so audit the lazy plan it checkpoints, built by the private
    helper inside the same pin."""
    from databricks_flight_etl_spark import sources
    from databricks_flight_etl_spark.operators import similarity

    emb = sources.load_table(spark, SF, "embeddings")
    with similarity._pinned(
        similarity._vectors(emb, "vec_id", "embedding")
    ) as pruned:
        df = similarity._ivf_probe_plan(
            emb, pruned, [0, 1, 2, 3], k=10, id_col="vec_id",
            vec_col="embedding", n_lists=16, n_probe=4, iters=2,
            decimals=6,
        )
        audit = plans.plan_audit(df)
    assert audit["n_sortmerge_joins"] == 0, audit
    assert audit["n_broadcast_joins"] >= 1, audit
    assert audit["n_shuffles"] <= 3, audit
    assert any("vec_id" in f for f in audit["pushed_filters"]), audit


def test_semantic_dedup_survivor_plan(spark):
    """semantic_dedup's returned plan: one broadcast anti-join of the
    drop list against the corpus — no sort-merge, no extra exchange
    beyond the survivors' own spread."""
    df = QUERIES["q_semantic_dedup"](spark, SF)
    audit = plans.plan_audit(df)
    p = plans.explain_str(df)
    assert audit["n_sortmerge_joins"] == 0, audit
    assert "LeftAnti" in p
    assert audit["n_shuffles"] <= 1, audit


def test_textprep_full_funnel_shuffle_budget(spark):
    """The 7-stage certified funnel's shuffle budget is 4 (PLANS.md);
    a regression that adds an Exchange must fail loudly here."""
    df = QUERIES["q_textprep_full_certified"](spark, SF)
    audit = plans.plan_audit(df)
    assert audit["n_shuffles"] <= 4, audit
    assert audit["n_sortmerge_joins"] == 0, audit


def test_textprep_pipeline_verify_stage_shape(spark):
    """r4 verdict task #2 pin: the near-dup verify stage must stay the
    two-join array_intersect shape — the inverted-index form's three
    extra shuffles (explode → per-pair agg → size joins) were the real
    cost behind the r4 q_textprep_pipeline regression. If an Exchange
    or SortMergeJoin creeps back into the production funnel, fail."""
    df = QUERIES["q_textprep_pipeline"](spark, SF)
    audit = plans.plan_audit(df)
    assert audit["n_sortmerge_joins"] == 0, audit
    assert audit["n_shuffles"] <= 4, audit
    # the survivor stage checkpoints the pair lineage out of the final
    # plan, so pin the verify strategy on the pairs plan itself
    from databricks_flight_etl_spark.operators import dedup
    from databricks_flight_etl_spark import sources

    docs = sources.load_table(spark, SF, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.8, bands=8, shingle_k=7,
    )
    p = plans.explain_str(pairs)
    assert "array_intersect" in p, "verify lost the intersect strategy"


def test_jl_project_is_narrow(spark):
    """The JL projection must stay a narrow map over the scan: no
    joins, at most the spread exchange, null-vector filter pushed."""
    df = QUERIES["q_jl_project"](spark, SF)
    audit = plans.plan_audit(df)
    assert audit["n_shuffles"] <= 1, audit
    assert audit["n_broadcast_joins"] == 0, audit
    assert audit["n_sortmerge_joins"] == 0, audit
    assert any("embedding" in f for f in audit["pushed_filters"]), audit


def test_k_anonymize_broadcast_anti_join(spark):
    """Suppression must be a BROADCAST anti-join of the (gated,
    bounded) violating-class list — the corpus never sort-merges."""
    df = QUERIES["q_k_anonymize"](spark, SF)
    p = plans.explain_str(df)
    audit = plans.plan_audit(df)
    assert "LeftAnti" in p
    assert audit["n_sortmerge_joins"] == 0, audit


def test_triangle_counts_no_cartesian(spark):
    """Degree-ordered triangle counting: every join is an equi-join
    (no cartesian/broadcast-nested-loop), and the wedge work happens
    on the checkpointed oriented edges."""
    df = QUERIES["q_triangle_counts"](spark, SF)
    p = plans.explain_str(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_benford_is_narrow_single_agg(spark):
    """Benford: one narrow projection + a 9-group aggregate + the
    broadcast total — no sort-merge join, at most 2 shuffles."""
    df = QUERIES["q_benford"](spark, SF)
    audit = plans.plan_audit(df)
    assert audit["n_sortmerge_joins"] == 0, audit
    assert audit["n_shuffles"] <= 2, audit


def test_interpolate_windows_are_partitioned(spark):
    """Gap interpolation must never fall into a global (unpartitioned)
    window — the repartition key is the series key."""
    df = QUERIES["q_interpolate_gaps"](spark, SF)
    p = plans.explain_str(df)
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", p):
        assert "event_type" in m.group(1), m.group(0)

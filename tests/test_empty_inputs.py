"""Hardening sweep: every batch operator must handle a 0-row input
without raising (empty partitions are routine at 100 TB — a filter or
partition prune can zero out any branch)."""

from pyspark.sql import functions as F

from databricks_flight_etl_spark.functions import derive_departure_timestamp
from databricks_flight_etl_spark.operators import (
    accuracy,
    completeness,
    consistency,
    dedup,
    graph,
    relational,
    sessions,
    similarity,
    temporal,
    text,
    timeliness,
    uniqueness,
    validity,
)


def test_empty_inputs_do_not_raise(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, value double")
    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    flights = spark.createDataFrame(
        [], "Year int, Month int, DayofMonth int, DepTime int"
    )

    assert completeness.nonnull_counts(ev).count() == 1        # one agg row
    assert completeness.null_profile(ev).count() == 4          # per column
    narrowed, dropped = completeness.drop_allnull_columns(ev)
    assert dropped == list(ev.columns)                         # 0 non-null each

    assert consistency.value_frequencies(docs, ["text"]).count() == 0
    assert consistency.value_frequencies_capped(docs, ["text"]).count() == 0

    assert uniqueness.duplicate_groups(ev).count() == 0
    assert uniqueness.dedup(ev).count() == 0

    assert accuracy.summary_stats(ev, ["value"]).count() == 1
    assert accuracy.histogram(ev, "value").count() == 0
    assert accuracy.moving_average(ev, "ts", "value").count() == 0
    assert accuracy.zscore_by_group(ev, ["user_id"], "value", "event_id").count() == 0

    assert validity.check_rules(
        ev, [validity.Rule("v_pos", F.col("value") > 0)]
    ).collect()[0]["n_fail"] == 0

    assert timeliness.per_period_counts(ev, "ts").count() == 0
    assert timeliness.day_coverage(ev, "ts").count() == 0      # empty spine

    assert derive_departure_timestamp(flights).count() == 0

    assert sessions.sessionize(ev, "user_id", "ts").count() == 0
    assert sessions.session_counts(ev, "user_id", "ts").count() == 0

    assert dedup.exact_dedup_groups(docs, "text", "doc_id").count() == 0
    assert dedup.minhash_dedup_pairs(docs, "text", "doc_id").count() == 0
    assert dedup.simhash_near_dup_pairs(docs, "text", "doc_id").count() == 0
    assert dedup.ngram_jaccard_pairs(docs, "text", "doc_id").count() == 0

    assert text.token_top_k(docs, "text").count() == 0
    assert text.text_quality(docs, "text", "doc_id").count() == 0
    assert text.lang_id(docs, "text", "doc_id").count() == 0
    assert text.winnow_fingerprints(docs, "text", "doc_id").count() == 0
    assert text.split_sentences(docs, "text", "doc_id").count() == 0

    assert similarity.cosine_near_dup_pairs(vecs, block_col="label").count() == 0

    left = spark.createDataFrame([], "k long, ts timestamp, lv string")
    right = spark.createDataFrame([], "k long, ts timestamp, rv string")
    assert temporal.asof_join(left, right, ["k"]).count() == 0
    assert temporal.range_join_time(
        left, right.withColumnRenamed("ts", "rts"), ["k"], right_ts="rts"
    ).count() == 0

    assert relational.salted_join(left, right.withColumnRenamed("ts", "rts"),
                                  ["k"]).count() == 0
    assert relational.salted_count(ev, ["user_id"]).count() == 0


def test_ann_probe_errors_are_clear(spark):
    import pytest

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    # a missing IVF probe yields no rows, as in cosine_topk_batch
    assert similarity.ann_topk_ivf_batch(
        vecs, probe_ids=[99], n_lists=1, iters=0).count() == 0
    with pytest.raises(ValueError, match="probe vec_id=99"):
        similarity.cosine_topk_pandas(vecs, probe_id=99)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.cosine_near_dup_pairs(empty, block_col=None).count() == 0


def test_round2_ops_empty_inputs(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    pairs = spark.createDataFrame([], "id_a long, id_b long")

    assert text.pii_redact(docs, "text", "doc_id").count() == 0
    assert text.quality_signals(docs, "text", "doc_id").count() == 0
    assert text.contamination_overlap(
        docs,
        docs.select(
            docs.doc_id.alias("probe_id"), docs.text.alias("probe_text")
        ),
        "text",
        "doc_id",
    ).count() == 0
    assert graph.dedup_survivors(docs, pairs, "doc_id").count() == 0
    # empty pairs over a NON-empty corpus keeps everything
    full = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    assert graph.dedup_survivors(full, pairs, "doc_id").count() == 2


def test_empty_inputs_round3_ops(spark):
    """The round-3 operators under the same 0-row hardening sweep."""
    from databricks_flight_etl_spark.operators import graph, sampling, sketches

    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double")
    pairs = spark.createDataFrame([], "id_a long, id_b long")

    # sketches
    assert sketches.hll_build(ev, "event_id").count() == 0
    assert sketches.hll_estimate(
        sketches.hll_build(ev, "event_id")).collect()[0]["estimate"] == 0
    assert sketches.bloom_build(ev, "event_id", n_words=64).count() == 0
    empty_bloom = sketches.bloom_build(ev, "event_id", n_words=64)
    flagged = spark.range(5).where(
        sketches.bloom_might_contain(empty_bloom, F.col("id"), 64, 5))
    assert flagged.count() == 0  # empty filter matches nothing
    assert sketches.heavy_hitters(ev, "event_id", 0.5).count() == 0
    assert sketches.hll_build(ev, "event_id", by=["user_id"]).count() == 0

    # quantiles / stats
    assert accuracy.quantiles_exact(ev, "value", [0.5]).count() == 0
    assert accuracy.quantiles_exact(
        ev, "value", [0.5], by=["user_id"]).count() == 0
    assert accuracy.outliers_iqr(ev, "value").count() == 0
    assert accuracy.histogram_equidepth(ev, "value").count() == 0
    assert accuracy.rank_normalize(ev, "value", ["event_id"]).count() == 0
    assert accuracy.spearman_corr(
        ev.withColumn("v2", F.col("user_id").cast("double")),
        "value", "v2").collect()[0]["n"] == 0

    # relational / sampling
    assert relational.merge_upsert(ev, ev, ["event_id"], "value").count() == 0
    assert relational.scd2_history(ev, ["user_id"], "ts", ["value"]).count() == 0
    assert relational.fuzzy_join(docs, docs, "text", "text").count() == 0
    assert relational.zorder_sort(ev, "user_id", "value").count() == 0
    assert sampling.split_assign(ev, "event_id",
                                 {"a": 0.5, "b": 0.5}).count() == 0
    assert sampling.epoch_shuffle(ev, "event_id").count() == 0
    assert sampling.sample_n(ev, "event_id", 5).count() == 0
    assert sampling.stratified_sample_n(ev, "user_id", "event_id", 3).count() == 0

    # graph
    assert graph.connected_components(pairs).count() == 0
    assert graph.pagerank(pairs, src="id_a", dst="id_b").count() == 0

    # uniqueness extras
    chk = uniqueness.table_checksum(ev).collect()[0]
    assert chk["n_rows"] == 0 and chk["checksum"] == 0
    assert uniqueness.diff_tables(ev, ev, ["event_id"]).count() == 0
    assert uniqueness.skew_report(ev, ["user_id"]).count() == 0

    # dedup extras
    seen = dedup.corpus_digests(docs, "text")
    assert dedup.incremental_dedup(docs, seen, "text", "doc_id").count() == 0

    # similarity extras
    assert similarity.quantize_embeddings(
        spark.createDataFrame([], "id long, v array<double>"), "v"
    ).count() == 0
    assert similarity.group_vector_mean(
        spark.createDataFrame([], "label int, embedding array<double>"),
        "label").count() == 0


def test_empty_inputs_round3_additions(spark):
    """Empty-input sweep for this round's operators."""
    from databricks_flight_etl_spark.operators import sampling

    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double"
    )
    vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    sets = spark.createDataFrame([], "doc_id long, s array<string>")

    assert sampling.resample_to_target(
        docs, "text", "doc_id", {"x": 10}).count() == 0
    assert sampling.temperature_targets({}, 0.5) == {}
    assert similarity.centroid_outlier_scores(vecs, "label").count() == 0
    assert text.drop_boilerplate_spans(docs, "text", "doc_id").count() == 0
    assert dedup.set_similarity_join(sets, "s", "doc_id").count() == 0
    assert dedup.containment_join(sets, "s", "doc_id").count() == 0
    # empty sides produce no bucket rows (same absent-empty-buckets
    # convention as accuracy.histogram) — and must not divide-by-zero
    assert accuracy.psi_drift(ev, ev, "value", [1.0, 2.0]).count() == 0
    idx = dedup.minhash_bands(docs, "text", "doc_id")
    assert idx.count() == 0
    assert dedup.minhash_probe(docs, docs, idx, "text", "doc_id").count() == 0
    assert dedup.minhash_bands_rowwise(docs, "text", "doc_id").count() == 0


def test_empty_inputs_late_round3_additions(spark):
    from databricks_flight_etl_spark.operators import (
        relational,
        sampling,  # noqa: F401  (sweep symmetry)
        sessions,
    )
    from databricks_flight_etl_spark.operators.temporal import fill_forward

    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double"
    )
    assert consistency.fd_violations(docs, ["doc_id"], "text").count() == 0
    assert accuracy.trimmed_mean_by_group(ev, ["user_id"], "value").count() == 0
    assert accuracy.group_linear_trend(
        ev, ["user_id"], "event_id", "value").count() == 0
    assert sessions.cohort_retention(ev, "user_id", "ts").count() == 0
    assert fill_forward(ev, ["user_id"], "ts", ["value"],
                        backward=True).count() == 0
    assert text.vocab_coverage(docs, "text").count() == 0
    assert relational.join_explosion_probe(ev, ev, "user_id").count() == 0
    assert similarity.project_embeddings(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
    ).count() == 0


def test_empty_inputs_round4_ops(spark):
    """Round-4 operators under the 0-row hardening sweep: MRL sketch
    family (global + grouped), triangle counting, gap interpolation,
    privacy audits, two-level IVF semantic dedup."""
    from databricks_flight_etl_spark.operators import (
        graph,
        privacy,
        sketches,
        similarity,
        timeliness,
    )

    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double")
    edges = spark.createDataFrame([], "src long, dst long")
    daily = spark.createDataFrame([], "k string, day date, v double")
    cust = spark.createDataFrame([], "id long, quasi string, sens string")
    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")

    sk = sketches.mrl_merge(sketches.mrl_sketch(ev, "value", k=8), k=8)
    assert sk.count() == 0
    assert sketches.mrl_quantiles(sk, [0.5]).count() == 0
    gsk = sketches.mrl_merge(
        sketches.mrl_sketch_grouped(ev, ["user_id"], "value", k=8),
        k=8, by=["user_id"])
    assert gsk.count() == 0
    assert sketches.mrl_quantiles(gsk, [0.5], by=["user_id"]).count() == 0

    assert graph.triangle_counts(edges).count() == 0
    assert graph.triangle_total(edges).first()["n_triangles"] == 0

    out = timeliness.interpolate_gaps(daily, "k", "day", "v")
    assert out.count() == 0
    assert set(out.columns) == {"k", "day", "v", "filled"}

    assert privacy.k_anonymity_report(cust, ["quasi"], k=2).count() == 0
    assert privacy.k_anonymize(cust, ["quasi"], k=2).count() == 0
    assert privacy.l_diversity_report(
        cust, ["quasi"], "sens", l=2).count() == 0

    assert similarity.semantic_dedup_two_level(
        vecs, n_super=1, n_sub=1, iters=0).count() == 0

    from databricks_flight_etl_spark.operators import accuracy
    assert accuracy.benford_profile(ev, "value").count() == 0

    from databricks_flight_etl_spark.operators.uniqueness import diff_cells
    e2 = spark.createDataFrame([], "k long, s string")
    assert diff_cells(e2, e2, ["k"]).count() == 0
    one = spark.createDataFrame([(1, "x")], "k long, s string")
    d = {(r["k"], r["column"]) for r in diff_cells(e2, one, ["k"]).collect()}
    assert d == {(1, "__row__")}


def test_empty_inputs_round6_ops(spark):
    """Round-6 additions on empty/degenerate inputs: defined rows, no
    crashes."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ks_drift_report, ks_statistic,
    )
    from databricks_flight_etl_spark.operators.multimodal import (
        media_fingerprint,
    )
    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    ev = spark.createDataFrame([], "g string, x double, y double")
    # ks_statistic: ALWAYS one row (the round-6 contract)
    r = ks_statistic(ev, "x", "g", "a", "b").collect()
    assert len(r) == 1 and r[0]["ks_stat"] is None
    # grouped: empty in, empty out
    assert ks_statistic(ev, "x", "g", "a", "b", by=["g"]).count() == 0
    # report: one row per requested column even on empty input
    rep = ks_drift_report(ev, ["x", "y"], "g", "a", "b").collect()
    assert [(r["column"], r["ks_stat"], r["n_a"]) for r in rep] == [
        ("x", None, 0), ("y", None, 0)
    ]

    docs = spark.createDataFrame([], "doc_id long, text string")
    w = spark.createDataFrame([("t", 1.0)], "token string, weight double")
    assert linear_score_documents(docs, "text", "doc_id", w).count() == 0
    # empty weight table: every doc scores sigmoid(bias)
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    got = linear_score_documents(
        one, "text", "doc_id", w.limit(0), bias=0.0).first()
    assert got["score"] == 0.5

    payloads = spark.createDataFrame([], "doc_id long, payload binary")
    assert media_fingerprint(
        payloads, "payload", "doc_id", kernel="phash").count() == 0


def test_empty_inputs_round8_ops(spark):
    """Round-8 additions: stop-shingle list and max_df-filtered minhash
    on an empty corpus; a corpus whose every shingle is a stop-shingle
    (all docs identical body) must yield no pairs, not a crash."""
    from databricks_flight_etl_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.shingle_stop_list(
        empty, "text", "doc_id", max_df=1
    ).count() == 0
    assert dedup.minhash_dedup_pairs(
        empty, "text", "doc_id", max_df=5
    ).count() == 0

    # every doc identical → every shingle df = 4 > 1 → ALL stopped →
    # every doc's filtered set is empty → no signatures, no pairs
    same = spark.createDataFrame(
        [(i, "identical boilerplate body repeated") for i in range(4)],
        "doc_id long, text string",
    )
    assert dedup.minhash_dedup_pairs(
        same, "text", "doc_id", max_df=1
    ).count() == 0


def test_empty_inputs_round9_ops(spark):
    """Round-9 additions on an empty corpus: the clusters output, the
    corpus-relative fraction cap (resolves to 1 on 0 docs — max(1,
    ceil(0))), the degenerate-corpus guard skip, and the profile's
    explicit-NULL ratio columns must all return empty/NULL, never
    raise."""
    import warnings

    from databricks_flight_etl_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    with warnings.catch_warnings():
        # guard runs on the unmitigated calls below; it must SKIP (not
        # warn, not raise) on a corpus with nothing to predict
        warnings.simplefilter("error", RuntimeWarning)
        assert dedup.minhash_dedup_pairs(
            empty, "text", "doc_id", output="clusters"
        ).count() == 0
        assert dedup.simhash_near_dup_pairs(
            empty, "text", "doc_id", output="clusters"
        ).count() == 0
        assert dedup.minhash_dedup_pairs(
            empty, "text", "doc_id", max_df_frac=0.1
        ).count() == 0
    assert dedup.resolve_max_df(empty, "text", max_df_frac=0.5) == 1
    row = dedup.shingle_df_profile(empty, "text", "doc_id").collect()[0]
    assert row["n_docs"] == 0
    assert row["bg_jaccard_est"] is None and row["top_share"] is None


def test_empty_inputs_stops_supplied(spark):
    """Round-10 stops= path on an empty corpus: an empty precomputed
    stop list (shingle_stop_list of nothing) fed to both LSH entry
    points must yield empty results — pairs and clusters faces — and
    the empty-stops anti-join must also be harmless on a NON-empty
    corpus (it excludes nothing)."""
    from databricks_flight_etl_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    stops = dedup.shingle_stop_list(empty, "text", "doc_id", max_df=1)
    assert stops.count() == 0
    assert dedup.minhash_dedup_pairs(
        empty, "text", "doc_id", stops=stops
    ).count() == 0
    assert dedup.simhash_near_dup_pairs(
        empty, "text", "doc_id", stops=stops, output="clusters"
    ).count() == 0

    two = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_dedup_pairs(
        two, "text", "doc_id", threshold=0.8, stops=stops
    )
    assert pairs.count() == 1  # exact clones survive an empty exclusion


def test_empty_inputs_round11_moment_aggs(spark):
    """Round-11 native-when-gate rewrite: on an EMPTY (or fully
    filtered) input the moment n-columns stay NULL like the oracle's
    sum(CASE...) — the deliberate reason they remained sum-of-int
    instead of count() — and the derived statistics come back null,
    never a divide-by-zero error."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ab_welch_t,
        correlation_matrix,
        grouped_pearson,
    )

    empty = spark.createDataFrame([], "g string, x double, y double")
    corr = correlation_matrix(empty, ["x", "y"]).collect()
    assert len(corr) == 1 and corr[0]["corr"] is None

    w = ab_welch_t(empty, "g", "x", "a", "b").collect()[0]
    assert w["n_a"] is None and w["t_stat"] is None

    # bpe training on an empty corpus: no merges, either path
    from databricks_flight_etl_spark.operators.text import (
        bpe_train_merges,
    )

    edocs = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train_merges(edocs, "text", n_merges=3) == []
    assert bpe_train_merges(
        edocs, "text", n_merges=3, local_max_words=0
    ) == []

    # grouped variant: groups always have >= 1 row, so n is 0 only
    # when every row has a null in the pair — corr null, no error
    one_null = spark.createDataFrame(
        [("a", None, 1.0)], "g string, x double, y double"
    )
    gp = grouped_pearson(one_null, ["g"], "x", "y").collect()[0]
    assert gp["n"] == 0 and gp["corr"] is None

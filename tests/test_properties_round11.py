"""Round-11 regression tests: the location-guard's fail-safe polarity
on DESCRIBE failure (round-10 ADVICE #4) and the no-persist-leak
precomputed-stops harness path (round-10 ADVICE #1)."""

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- #
# r10 ADVICE #4 — a non-view relation whose DESCRIBE FORMATTED       #
# errors must count as "possibly in use": the guard fronts a         #
# recursive delete, so an uninspectable table must fail SAFE (skip   #
# the cleanup), never fail open (delete data we could not inspect).  #
# ---------------------------------------------------------------- #

def test_location_in_use_fail_safe_on_describe_error(
    spark, tmp_path, monkeypatch, capsys
):
    from databricks_flight_etl_spark import sources

    fake_db = SimpleNamespace(name="default")
    fake_tbl = SimpleNamespace(
        name="ghost_tbl", isTemporary=False, tableType="MANAGED"
    )
    monkeypatch.setattr(
        spark.catalog, "listDatabases", lambda: [fake_db]
    )
    monkeypatch.setattr(
        spark.catalog, "listTables", lambda db: [fake_tbl]
    )

    def raising_sql(q, *a, **k):
        if q.lstrip().upper().startswith("DESCRIBE"):
            raise RuntimeError("transient catalog error")
        raise AssertionError(f"unexpected sql: {q}")

    monkeypatch.setattr(spark, "sql", raising_sql)
    assert sources._location_in_use(
        spark, str(tmp_path / "anywhere")
    ) is True
    err = capsys.readouterr().err
    assert "ghost_tbl" in err and "possibly in use" in err


def test_location_in_use_still_skips_views_on_describe_error(
    spark, tmp_path, monkeypatch
):
    """The fail-safe applies to relations that CAN hold a location;
    temp views stay denylisted (never described), so an erroring
    catalog full of temp views still answers False."""
    from databricks_flight_etl_spark import sources

    fake_db = SimpleNamespace(name="default")
    fake_view = SimpleNamespace(
        name="tv_only", isTemporary=True, tableType="TEMPORARY"
    )
    monkeypatch.setattr(
        spark.catalog, "listDatabases", lambda: [fake_db]
    )
    monkeypatch.setattr(
        spark.catalog, "listTables", lambda db: [fake_view]
    )

    def raising_sql(q, *a, **k):  # must never be reached
        raise AssertionError(f"described a temp view: {q}")

    monkeypatch.setattr(spark, "sql", raising_sql)
    assert sources._location_in_use(
        spark, str(tmp_path / "anywhere")
    ) is False


# ---------------------------------------------------------------- #
# r10 ADVICE #1 — q_minhash_stops_supplied must not leak a persisted #
# DataFrame: the stop list is materialized as a local relation       #
# (bounded collect of a tiny-by-construction list), not .persist()ed #
# ---------------------------------------------------------------- #

def test_stops_supplied_query_adds_no_extra_persist(spark):
    """minhash_dedup_pairs pins internals by design (cleared by the
    harness's clearCache between queries); the regression under test
    is the QUERY-level stop-list persist, which added one cached
    DataFrame on top of those internals. The stops= path also skips
    the corpus-scale shingle-table cache, so its pin count must come
    in strictly BELOW the inline max_df twin's."""
    import __spark_entry__ as entry

    def persistent_ids():
        return {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()
        }

    def leak_delta(qname):
        # count NEWLY-ADDED persistent RDD ids (set difference), not
        # the global size delta: persisted RDDs left by EARLIER tests
        # in the shared session are unpersisted asynchronously by the
        # ContextCleaner when their Python refs die, and a cleanup
        # landing inside a size-based window deflates `after - before`
        # (a suite-order-dependent flake seen twice in round 11 —
        # a GC-quiesce before the window was not enough). Added-id
        # counting is immune to concurrent removals of old RDDs.
        spark.catalog.clearCache()
        before = persistent_ids()
        entry.queries()[qname](spark, "/root/testdata/sf0.001").count()
        added = len(persistent_ids() - before)
        spark.catalog.clearCache()
        return added

    inline = leak_delta("q_minhash_stopshingle")
    supplied = leak_delta("q_minhash_stops_supplied")
    assert supplied < inline, (
        f"stops= harness path pinned {supplied} DataFrame(s) vs the "
        f"inline twin's {inline}; it must pin strictly fewer (no "
        f"query-level stop-list persist, no corpus-scale shingle "
        f"cache)"
    )


def test_stops_supplied_local_relation_matches_inline_max_df(spark):
    """The local-relation stop list must produce the SAME exclusion as
    the inline max_df path (the definitional identity the oracle
    certifies at harness scale) — pinned here at sf0.001."""
    import __spark_entry__ as entry

    from databricks_flight_etl_spark.operators.dedup import (
        minhash_dedup_pairs,
    )
    from databricks_flight_etl_spark.registry._common import (
        _docs_near_dup_base,
    )

    sf = "/root/testdata/sf0.001"
    supplied = sorted(
        (r["id_a"], r["id_b"])
        for r in entry.queries()["q_minhash_stops_supplied"](
            spark, sf
        ).collect()
    )
    docs = _docs_near_dup_base(spark, sf).where(
        (F.col("doc_id") % 200000) < 1500
    )
    b = docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )
    inline = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            b, "text", "doc_id", threshold=0.8, shingle_k=7,
            hash_family="md5", max_df=30,
        ).collect()
    )
    assert supplied == inline


# ---------------------------------------------------------------- #
# r10 VERDICT task #3 — SimHash face of the stops= ≡ inline max_df  #
# identity (the contract q_simhash_stops_supplied's verbatim oracle #
# rests on, mirroring the round-10 MinHash test)                    #
# ---------------------------------------------------------------- #

def test_simhash_stops_supplied_equals_inline_max_df(spark):
    from databricks_flight_etl_spark.operators import dedup
    from tests.test_properties_round10 import _cloned_boiler_corpus

    docs = _cloned_boiler_corpus(spark)
    inline = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=6, shingle_k=7,
        hash_family="md5", max_df=10,
    ).orderBy("id_a", "id_b").collect()
    stops = dedup.shingle_stop_list(
        docs, "text", "doc_id", shingle_k=7, max_df=10
    )
    supplied = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=6, shingle_k=7,
        hash_family="md5", stops=stops,
    ).orderBy("id_a", "id_b").collect()
    assert len(inline) > 0  # clone pairs survive the exclusion
    assert [r.asDict() for r in inline] == [
        r.asDict() for r in supplied
    ]


# ---------------------------------------------------------------- #
# r10 VERDICT stretch #7 — the funnel surfaces the guard's measured  #
# profile in its report instead of letting it die with the warning   #
# ---------------------------------------------------------------- #

def test_pipeline_reports_guard_profile(spark):
    import warnings

    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline
    from tests.test_properties_round9 import _boiler_corpus

    docs = _boiler_corpus(spark, n=30)
    kw = dict(
        min_tokens=1, max_stopword_ratio=1.0,
        langs=("en", "es", "de", "fr", "??"), near_dup_threshold=0.8,
        chunk_tokens=16, overlap=4,
    )
    # unmitigated run: the guard runs (warns) and its measurement must
    # land in the report
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rep = run_textprep_pipeline(docs, **kw)
    prof = rep.guard_profile
    assert prof is not None
    assert prof["caller"] == "minhash_dedup_pairs"
    assert prof["bg_jaccard_est"] is not None
    assert prof["triggered"] is True  # boiler corpus: J_bg over the bar
    spark.catalog.clearCache()

    # mitigated run: the guard is skipped, and the report must NOT pick
    # up the stale profile the previous (guarded) run left behind
    rep2 = run_textprep_pipeline(docs, near_dup_max_df=9, **kw)
    assert rep2.guard_profile is None
    spark.catalog.clearCache()

    # near-dup off: no guard either
    rep3 = run_textprep_pipeline(docs, near_dup=False, **kw)
    assert rep3.guard_profile is None
    spark.catalog.clearCache()


def test_bpe_incremental_equals_greedy_reencode_property():
    """Hypothesis sweep for the round-11 incremental local trainer:
    applying each learned merge as ONE sweep over cached unit lists
    must equal training with a from-scratch greedy lowest-rank-first
    re-encode every round (the distributed loop's construction). The
    equivalence holds because every self-built merge's operands are
    constructible from strictly lower ranks — random 2-char-alphabet
    corpora maximize repeated/overlapping pairs, the regime where a
    sweep-semantics drift would show. Pure Python: no Spark session."""
    import pytest

    pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from databricks_flight_etl_spark.operators.text import (
        _bpe_encode_word,
        _bpe_train_merges_local,
    )

    def train_reference(word_freqs, n_merges):
        # from-scratch greedy re-encode per round — the distributed
        # loop's algebra, transcribed
        merges, ranks = [], {}
        for _ in range(n_merges):
            counts = {}
            for w, n in word_freqs:
                units = _bpe_encode_word(w, ranks)
                for pair in zip(units, units[1:]):
                    counts[pair] = counts.get(pair, 0) + n
            if not counts:
                break
            best, top_n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if top_n < 2:
                break
            ranks[best] = len(merges)
            merges.append(best)
        return merges

    corpus_strategy = st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=10),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1, max_size=12,
    )

    @settings(max_examples=120, deadline=None)
    @given(word_freqs=corpus_strategy,
           n_merges=st.integers(min_value=1, max_value=12))
    def run(word_freqs, n_merges):
        assert (
            _bpe_train_merges_local(word_freqs, n_merges)
            == train_reference(word_freqs, n_merges)
        )

    run()

"""Sampling and privacy registry queries: fixed-size, weighted,
stratified and deterministic samples, splits, shard packing and
k-anonymity/l-diversity (SURVEY §2.11 X6, X10, X11).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators.similarity import (
    cosine_near_dup_pairs,
)
from databricks_flight_etl_spark.registry._common import query, _t


@query(oracle="""
        WITH tot AS (
            SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tok,
                   CASE WHEN source = 'src1' THEN 3.0 ELSE 1.0 END AS w
            FROM documents GROUP BY source
        ),
        ws AS (SELECT sum(w) AS wsum FROM tot),
        rates AS (
            SELECT source,
                   least(1.0, 60000.0 * w / wsum / tok) AS rate
            FROM tot, ws
        )
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN rates r USING (source)
        WHERE CAST(CAST('0x' || substring(
                  md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  AS BIGINT)
              < CAST(floor(r.rate * 281474976710656.0) AS BIGINT)
        ORDER BY d.doc_id
    """)
def q_token_budget_sample(spark, sf_dir):
    """X6 token-budget mixture assembly: sample documents down to a
    60k-token budget with source src1 weighted 3× — per-source keep
    rates derived ENGINE-SIDE (one tiny per-source aggregate broadcast
    back; the corpus never shuffles), rows kept by the same
    integer-threshold hash compare as q_weighted_sample, so the kept
    set replays bit-for-bit. Integral weights keep the weight-sum
    exact in any summation order."""
    from databricks_flight_etl_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = token_budget_sample(
        docs, "source", "n_chars", "doc_id",
        budget_tokens=60_000, weights={"src1": 3.0},
    )
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


@query(oracle="""
        SELECT doc_id, n_chars FROM documents
        WHERE CAST(CAST('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  AS BIGINT)
              < CAST(floor(
                    greatest(0.0, least(1.0,
                        0.6 * (n_chars / 200.0)))
                    * 281474976710656.0) AS BIGINT)
          AND n_chars IS NOT NULL
        ORDER BY doc_id
    """)
def q_weighted_sample(spark, sf_dir):
    """X6 weight-proportional deterministic sampling: documents kept
    with probability min(1, 0.6 · n_chars/200) — longer (quality-
    proxied) docs at higher rate, rerun-stable, no RNG. The 48-bit
    md5 coordinate compares NUMERICALLY against floor(16¹²·p); the
    oracle replays the identical multiply/floor, so the kept set is
    certified bit-for-bit (a narrow pushable filter — the 100 TB
    shape)."""
    from databricks_flight_etl_spark.operators.sampling import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") / F.lit(200.0)
    )
    out = weighted_sample(docs, "doc_id", "w", base_rate=0.6)
    return out.select("doc_id", "n_chars").orderBy("doc_id")


# Same per-stratum hash rank, same cutoff.
@query(oracle="""
            WITH r AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 12), doc_id) AS rn
                FROM documents
            )
            SELECT doc_id, lang FROM r WHERE rn <= 40
            ORDER BY lang, doc_id
        """)
def q_stratified_sample_n(spark, sf_dir):
    """Balanced per-class sample: exactly 40 documents per language by
    smallest content-hash (ties by id) — one window per stratum,
    shuffled by stratum only. Oracle replays the same per-stratum
    rank."""
    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample_n,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample_n(docs, "lang", "doc_id", 40)
    return out.select("doc_id", "lang").orderBy("lang", "doc_id")


# Same per-group hash rank, integer base+remainder copies,
# generate_series replication.
@query(oracle="""
            WITH c AS (
                SELECT lang, count(*) AS c FROM documents GROUP BY 1
            ),
            t AS (
                SELECT lang, c,
                       CASE lang WHEN 'de' THEN 1500 WHEN 'en' THEN 100
                                 WHEN 'es' THEN 80 WHEN 'zh' THEN 0
                                 ELSE c END AS tgt
                FROM c
            ),
            r AS (
                SELECT d.doc_id, d.lang, t.c, t.tgt,
                       row_number() OVER (
                           PARTITION BY d.lang
                           ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)),
                                           1, 12), d.doc_id) AS rn
                FROM documents d JOIN t USING (lang)
            ),
            x AS (
                SELECT doc_id, lang,
                       (tgt // c)
                       + CASE WHEN rn <= tgt % c THEN 1 ELSE 0 END AS copies
                FROM r
            )
            SELECT doc_id, lang,
                   unnest(generate_series(1, copies)) AS copy_idx
            FROM x WHERE copies >= 1
            ORDER BY lang, doc_id, copy_idx
        """)
def q_resample_mix(spark, sf_dir):
    """Domain-mixing resampler: each language hits an EXACT target row
    count — de upsampled (replication with copy_idx), en/es
    downsampled, zh dropped, fr passed through — via integer base+
    remainder on the content-hash rank (no float thresholds). Oracle
    replays the same rank and generate_series replication."""
    from databricks_flight_etl_spark.operators.sampling import (
        resample_to_target,
    )

    docs = _t(spark, sf_dir, "documents")
    out = resample_to_target(
        docs, "lang", "doc_id",
        {"de": 1500, "en": 100, "es": 80, "zh": 0},
    )
    return out.select("doc_id", "lang", "copy_idx").orderBy(
        "lang", "doc_id", "copy_idx"
    )


# Same md5 coordinate order, same tie-break, same n.
@query(oracle="""
            SELECT doc_id, lang FROM documents
            ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id
            LIMIT 50
        """)
def q_sample_n(spark, sf_dir):
    """Exactly-n content-defined sample: the n smallest md5 coordinates
    (TakeOrderedAndProject — per-partition top-n, no global sort).
    Oracle replays the same order."""
    from databricks_flight_etl_spark.operators.sampling import sample_n

    docs = _t(spark, sf_dir, "documents")
    return sample_n(docs, "doc_id", 50).select("doc_id", "lang")


@query(oracle="""
        SELECT c_nationkey, CAST(floor(c_acctbal / 500) AS BIGINT)
                   AS bal_band,
               CAST(count(*) AS BIGINT) AS class_size
        FROM customer
        GROUP BY 1, 2 HAVING count(*) < 3
        ORDER BY c_nationkey, bal_band
    """)
def q_k_anonymity(spark, sf_dir):
    """Privacy QA: equivalence classes of the quasi-identifier tuple
    (nation, account-balance band) with < k members — each one a
    re-identification risk in a would-be released customer table. One
    hash aggregate; the oracle is the same GROUP BY ... HAVING."""
    from databricks_flight_etl_spark.operators.privacy import (
        k_anonymity_report,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500).alias("bal_band"),
    )
    return (
        k_anonymity_report(cust, ["c_nationkey", "bal_band"], k=3)
        .orderBy("c_nationkey", "bal_band")
    )


@query(oracle="""
        WITH q AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 500) AS BIGINT) AS bal_band
            FROM customer
        ),
        bad AS (
            SELECT c_nationkey, bal_band FROM q
            GROUP BY 1, 2 HAVING count(*) < 3
        ),
        rel AS (
            SELECT * FROM q
            WHERE NOT EXISTS (
                SELECT 1 FROM bad b
                WHERE b.c_nationkey = q.c_nationkey
                  AND b.bal_band = q.bal_band
            )
        )
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM rel GROUP BY 1 ORDER BY 1
    """)
def q_k_anonymize(spark, sf_dir):
    """Suppression-mode k-anonymization end-to-end: rows in < k-sized
    quasi classes are dropped via a size-gated broadcast anti-join,
    then the released table is profiled per segment. The oracle
    replays suppression with a NOT-IN-violating-classes anti join."""
    from databricks_flight_etl_spark.operators.privacy import k_anonymize

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500).alias("bal_band"),
    )
    rel = k_anonymize(cust, ["c_nationkey", "bal_band"], k=3)
    return (
        rel.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


@query(oracle="""
        SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)
                   AS bal_band,
               CAST(count(*) AS BIGINT) AS class_size,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT)
                   AS n_distinct_sensitive
        FROM customer
        GROUP BY 1, 2
        HAVING count(DISTINCT c_mktsegment) < 3
        ORDER BY c_nationkey, bal_band
    """)
def q_l_diversity(spark, sf_dir):
    """l-diversity audit (k-anonymity's homogeneity-attack blind
    spot): quasi classes whose sensitive attribute (market segment)
    shows < l distinct values — class membership alone would disclose
    it. Same aggregate shape, count_distinct payload."""
    from databricks_flight_etl_spark.operators.privacy import (
        l_diversity_report,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    )
    return (
        l_diversity_report(
            cust, ["c_nationkey", "bal_band"], "c_mktsegment", l=3
        )
        .orderBy("c_nationkey", "bal_band")
    )


# Same md5 coordinate, same cumulative thresholds
# (0.8 -> cccccccccccd, 0.9 -> e66666666666 over 12 hex chars).
@query(oracle="""
            SELECT CASE
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                          < 'cccccccccccd' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                          < 'e66666666666' THEN 'val'
                     ELSE 'test'
                   END AS split,
                   count(*) AS n_docs
            FROM documents GROUP BY split ORDER BY split
        """)
def q_split_assign(spark, sf_dir):
    """Disjoint deterministic train/val/test assignment by content-hash
    ranges — a row never changes split as the corpus grows, and the
    labels reproduce on any engine (the oracle replays the md5
    thresholds). Narrow projection, no shuffle before the count."""
    from databricks_flight_etl_spark.operators.sampling import (
        split_assign,
    )

    docs = _t(spark, sf_dir, "documents")
    out = split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


# Identical total order: md5('epoch1:' || id) then id.
@query(oracle="""
            SELECT doc_id,
                   substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)),
                          1, 12) AS shuffle_key
            FROM documents
            ORDER BY shuffle_key, doc_id LIMIT 100
        """)
def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle: global order by md5(epoch ‖ id) —
    the total order a training-shard writer consumes. Range-partitioned
    sort under the hood (the scalable shape); certified value-for-value
    by replaying the order in the oracle."""
    from databricks_flight_etl_spark.operators.sampling import (
        epoch_shuffle,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        epoch_shuffle(docs, "doc_id", epoch=1)
        .select("doc_id", "shuffle_key")
        .limit(100)
    )


# thresholds are hex(round(f * 16^12)): 1.0 → 'g' (above every
# hex string), 0.1 → 19999999999a, 0.5 → 800000000000
@query(oracle="""
            SELECT doc_id, source FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) <
                  CASE source
                      WHEN 'src1' THEN 'g'
                      WHEN 'src2' THEN '19999999999a'
                      ELSE '800000000000'
                  END
            ORDER BY doc_id
        """)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling by content hash — the corpus-
    mixing knob of a training-data pipeline (keep all of one source,
    10% of another). A row keeps iff substr(md5(doc_id), 1, 12) sorts
    below its stratum's hex threshold: rerun-stable, partitioning-
    independent, engine-portable (the oracle runs the same predicate in
    DuckDB), and a narrow pushable filter — no RNG, no shuffle."""
    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "source", "doc_id", {"src1": 1.0, "src2": 0.1}, default=0.5
    )
    return out.select("doc_id", "source").orderBy("doc_id")


@query(oracle="""
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
                  < '19999999999a'
        """)
def q_deterministic_sample(spark, sf_dir):
    """Stable hash sample: same keys selected on every engine/run/
    partitioning (md5-prefix threshold) — unlike df.sample, which
    depends on partition layout. Certified exactly against the oracle
    computing the same predicate."""
    from databricks_flight_etl_spark.operators.sampling import (
        deterministic_sample,
    )

    ev = _t(spark, sf_dir, "events")
    return deterministic_sample(ev, "event_id", 0.1).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS cum_tokens
                FROM t
            )
            SELECT doc_id, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 500 AS shard
            FROM c
        """)
def q_pack_shards(spark, sf_dir):
    """X6 token-budget shard packing via a distributed prefix sum
    (range-bucket partials + broadcast offsets + per-bucket window) —
    never a single-partition global window. Certified against DuckDB's
    plain global running-sum window."""
    from databricks_flight_etl_spark.operators.sampling import (
        pack_by_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .alias("n_tokens"),
    )
    return pack_by_token_budget(with_tokens, "doc_id", "n_tokens", budget=500)


@query(oracle="""
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN
                            'https://' || source || '.example.com/doc/'
                            || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 3 = 1 THEN
                            'https://user:pw@' || source
                            || '.example.com:8443/doc/'
                            || CAST(doc_id AS VARCHAR)
                        ELSE 'plain text ' || CAST(doc_id AS VARCHAR)
                   END AS url
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                       1)) AS host
            FROM u
        ),
        f AS (
            SELECT doc_id, host FROM h
            WHERE host IS NOT NULL AND host <> ''
        ),
        r AS (
            SELECT doc_id, host,
                   row_number() OVER (
                       PARTITION BY host
                       ORDER BY substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 12), doc_id) AS rn
            FROM f
        )
        SELECT doc_id, host FROM r WHERE rn <= 12
        ORDER BY host, doc_id
    """)
def q_domain_caps(spark, sf_dir):
    """X4/X6 domain-level curation — the Dolma/CCNet 'no domain
    dominates' cap: extract each doc's URL host engine-portably
    (url_host: one regexp, strips scheme/credentials/port), drop
    non-URL rows via the null host, keep a deterministic content-hash
    cap of 12 docs per host (stratified_sample_n — window per host
    over md5 order, rerun/engine-stable). URLs synthesized with
    credential/port/non-URL variants to exercise the full pattern."""
    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample_n,
    )
    from databricks_flight_etl_spark.operators.text import url_host

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/doc/"), sid),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://user:pw@"), F.col("source"),
                     F.lit(".example.com:8443/doc/"), sid),
        )
        .otherwise(F.concat(F.lit("plain text "), sid))
    )
    t = docs.select("doc_id", url_host(url).alias("host")).where(
        F.col("host").isNotNull()
    )
    return stratified_sample_n(t, "host", "doc_id", 12).orderBy(
        "host", "doc_id"
    )


# same pairs + recursive-CTE closure as q_dedup_clusters; the split
# CASE replays q_split_assign's thresholds over the cluster ROOT
@query(oracle="""
        WITH RECURSIVE v AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS ve,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS n
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT e.a, reach.r
            FROM edges e JOIN reach ON e.b = reach.node
        ),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        rooted AS (
            SELECT e.vec_id,
                   coalesce(c.component, e.vec_id) AS root
            FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
        )
        SELECT vec_id,
               CASE
                 WHEN substr(md5(CAST(root AS VARCHAR)), 1, 12)
                      < 'cccccccccccd' THEN 'train'
                 WHEN substr(md5(CAST(root AS VARCHAR)), 1, 12)
                      < 'e66666666666' THEN 'val'
                 ELSE 'test'
               END AS split
        FROM rooted ORDER BY vec_id
    """)
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe (group-aware) train/val/test split: the split hash
    is taken over each row's near-dup CLUSTER ROOT (connected
    components of the embedding near-dup pairs), so near-duplicates
    can never straddle the train/test boundary. Certified: the oracle
    rebuilds the identical pairs + recursive-CTE closure, coalesces
    the root, and replays the md5 threshold CASE of q_split_assign."""
    from databricks_flight_etl_spark.operators.sampling import (
        leakage_safe_split,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")
    out = leakage_safe_split(
        emb.select("vec_id"), "vec_id", pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select("vec_id", "split").orderBy("vec_id")

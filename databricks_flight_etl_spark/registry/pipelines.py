"""Composite-pipeline registry queries: text preparation and corpus
release, which chain the text, dedup and sampling operators (SURVEY
§2.11 X7).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators.text import (
    PII_EMAIL, PII_IP, PII_PHONE,
)
from databricks_flight_etl_spark.registry._common import (
    _DOCS_PII_SQL, _docs_near_dup_base, _docs_with_pii, _minhash_perm_values,
    query, _t,
)


@query(oracle="""
            WITH toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM documents
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, t -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], t))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, t -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], t))) AS s_en,
                       len(list_filter(tk, t -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], t))) AS s_es,
                       len(list_filter(tk, t -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], t))) AS s_de,
                       len(list_filter(tk, t -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], t))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text, n_tokens FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, n_tokens FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            )
            SELECT doc_id,
                   greatest(CAST(ceil((n_tokens - 16) / 48.0) AS BIGINT),
                            1) AS n_chunks
            FROM uniq ORDER BY doc_id
        """)
def q_textprep_exact(spark, sf_dir):
    """The SQL-expressible subset of the text-prep funnel, oracle-
    certified end-to-end: quality filter → language filter → exact
    dedup → chunk counts. Same composition as q_textprep_pipeline with
    the MinHash near-dup stage off (near_dup=False); the oracle mirrors
    every stage — token arrays, stopword ratio, the lang argmax CASE,
    md5 exact dedup, and the chunk-window arithmetic — in DuckDB."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    docs = _t(spark, sf_dir, "documents")
    rep = run_textprep_pipeline(
        docs, min_tokens=10, chunk_tokens=64, overlap=16, near_dup=False,
    )
    return (
        rep.chunks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("doc_id")
    )


# Full release composition: textprep kept/uniq stages over the
# PII-injected corpus, then the redaction chain, clean-token
# counts, and the global running-sum shard assignment.
@query(oracle="""
            WITH t AS (""" + _DOCS_PII_SQL + """),
            toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM t
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, x -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], x))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS s_en,
                       len(list_filter(tk, x -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], x))) AS s_es,
                       len(list_filter(tk, x -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], x))) AS s_de,
                       len(list_filter(tk, x -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], x))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, text FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            ),
            red AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(text,
                           '""" + PII_EMAIL + """', '[EMAIL]', 'g'),
                           '""" + PII_IP + """', '[IP]', 'g'),
                           '""" + PII_PHONE + """', '[PHONE]', 'g') AS clean
                FROM uniq
            ),
            counted AS (
                SELECT doc_id, clean,
                       CAST(len(list_filter(string_split(clean, ' '),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens
                FROM red
            ),
            packed AS (
                SELECT doc_id, clean, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS cum_tokens
                FROM counted
            )
            SELECT doc_id, clean, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 512 AS shard
            FROM packed
        """)
def q_corpus_release(spark, sf_dir):
    """X7 full corpus-release composition, oracle-certified end-to-end:
    quality filter → language filter → exact dedup → PII redaction →
    clean-token counts → token-budget shard packing, over documents
    with injected PII. The oracle mirrors every stage in one SQL."""
    from databricks_flight_etl_spark.pipeline import run_corpus_release

    rel = run_corpus_release(
        _docs_with_pii(spark, sf_dir),
        min_tokens=10,
        chunk_tokens=64,
        overlap=16,
        near_dup=False,
        budget=512,
    )
    return rel.released


# Release + 'no domain dominates': same funnel with the
# per-host content-hash cap between dedup and redaction —
# URL-less docs pass uncapped, the row_number order replays
# stratified_sample_n's (md5-prefix, id) coordinate.
@query(oracle="""
            WITH t AS (""" + _DOCS_PII_SQL + """),
            toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM t
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, x -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], x))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS s_en,
                       len(list_filter(tk, x -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], x))) AS s_es,
                       len(list_filter(tk, x -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], x))) AS s_de,
                       len(list_filter(tk, x -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], x))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, text FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            ),
            hosted AS (
                SELECT doc_id, text,
                       lower(regexp_extract(
                           CASE WHEN doc_id % 3 = 0 THEN
                                'https://site'
                                || CAST(doc_id % 7 AS VARCHAR)
                                || '.example.com/d/'
                                || CAST(doc_id AS VARCHAR)
                           WHEN doc_id % 3 = 1 THEN
                                'https://user:pw@site'
                                || CAST(doc_id % 7 AS VARCHAR)
                                || '.example.com:8443/d/'
                                || CAST(doc_id AS VARCHAR)
                           ELSE 'plain text '
                                || CAST(doc_id AS VARCHAR)
                           END,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                           1)) AS h
                FROM uniq
            ),
            capped AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           row_number() OVER (
                               PARTITION BY h
                               ORDER BY substr(md5(
                                   CAST(doc_id AS VARCHAR)), 1, 12),
                                   doc_id) AS rn
                    FROM hosted WHERE h IS NOT NULL AND h <> ''
                ) WHERE rn <= 10
                UNION ALL
                SELECT doc_id, text FROM hosted
                WHERE h IS NULL OR h = ''
            ),
            red AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(text,
                           '""" + PII_EMAIL + """', '[EMAIL]', 'g'),
                           '""" + PII_IP + """', '[IP]', 'g'),
                           '""" + PII_PHONE + """', '[PHONE]', 'g') AS clean
                FROM capped
            ),
            counted AS (
                SELECT doc_id, clean,
                       CAST(len(list_filter(string_split(clean, ' '),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens
                FROM red
            ),
            packed AS (
                SELECT doc_id, clean, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS cum_tokens
                FROM counted
            )
            SELECT doc_id, clean, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 512 AS shard
            FROM packed
        """)
def q_corpus_release_domains(spark, sf_dir):
    """X7 corpus release with the per-domain cap ON (r6 verdict task
    #6): quality → language → exact dedup → 'no domain dominates' cap
    (url_host + deterministic per-host content-hash top-N, non-URL
    docs pass uncapped) → PII redaction → token counts → shard
    packing. URLs synthesized over 7 hosts with credential/port and
    non-URL variants so the cap, the host regexp, and the pass-through
    all bite. Oracle replays the identical funnel + cap in one SQL."""
    from databricks_flight_etl_spark.pipeline import run_corpus_release

    sid = F.col("doc_id").cast("string")
    host_n = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://site"), host_n,
                     F.lit(".example.com/d/"), sid),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://user:pw@site"), host_n,
                     F.lit(".example.com:8443/d/"), sid),
        )
        .otherwise(F.concat(F.lit("plain text "), sid))
    )
    rel = run_corpus_release(
        _docs_with_pii(spark, sf_dir).withColumn("url", url),
        min_tokens=10,
        chunk_tokens=64,
        overlap=16,
        near_dup=False,
        budget=512,
        url_col="url",
        max_per_domain=10,
    )
    return rel.released


# Capstone: the complete funnel in one SQL — quality+lang
# filters, exact dedup, md5-family MinHash LSH (perms, bands,
# Jaccard verify), recursive-CTE component closure, survivor
# anti-join, chunk-count arithmetic.
@query(oracle="""
            WITH RECURSIVE base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id,
                       text || ' near duplicate tail' AS text
                FROM documents WHERE doc_id % 100 = 0
            ),
            toks AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS tk
                FROM base
            ),
            m AS (
                SELECT doc_id, text, len(tk) AS n_tokens,
                       round(CASE WHEN len(tk) > 0 THEN
                           len(list_filter(tk, x -> list_contains(
                               ['the','a','of','and','to','in','is','on',
                                'for','with'], x))) * 1.0 / len(tk)
                       END, 6) AS stop_ratio,
                       len(list_filter(tk, x -> list_contains(
                           ['the','a','of','and','to','in','is','on','for',
                            'with'], x))) AS s_en,
                       len(list_filter(tk, x -> list_contains(
                           ['el','la','de','y','en','es','los','por','con',
                            'del'], x))) AS s_es,
                       len(list_filter(tk, x -> list_contains(
                           ['der','die','das','und','ist','von','mit','den',
                            'im','ein'], x))) AS s_de,
                       len(list_filter(tk, x -> list_contains(
                           ['le','la','de','et','est','les','un','une',
                            'dans','pour'], x))) AS s_fr
                FROM toks
            ),
            kept AS (
                SELECT doc_id, text, n_tokens FROM m
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND stop_ratio <= 0.9
                  AND (CASE
                       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                           THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = 'en'
            ),
            uniq AS (
                SELECT doc_id, text, n_tokens FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept
                    GROUP BY md5(lower(trim(text)))
                )
            ),
            norm AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM uniq
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(CASE WHEN length(t) >= 7
                           THEN list_transform(range(1, length(t) - 5),
                                i -> substring(t, CAST(i AS INT), 7))
                           ELSE [t] END)) AS s
                FROM norm
            ),
            bhh AS (
                SELECT doc_id,
                       CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
                FROM sh
            ),
            perms(j, a, b) AS (VALUES """ + _minhash_perm_values() + """),
            sig AS (
                SELECT doc_id, j,
                       min((a * (((h % 2147483647) + 2147483647)
                                 % 2147483647) + b)
                           % 2147483647) AS mh
                FROM bhh, perms
                GROUP BY 1, 2
            ),
            band AS (
                SELECT doc_id, j // 8 AS band,
                       CAST('0x' || substring(md5(
                           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j)
                           || '|' || CAST(j // 8 AS VARCHAR)), 1, 15)
                           AS BIGINT) AS bhsh
                FROM sig GROUP BY doc_id, j // 8
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                FROM band x JOIN band y
                  ON x.band = y.band AND x.bhsh = y.bhsh
                WHERE x.doc_id < y.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            pairs AS (
                SELECT i.id_a, i.id_b
                FROM (
                    SELECT c.id_a, c.id_b, count(*) AS shared
                    FROM cand c
                    JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
                    GROUP BY 1, 2
                ) i
                JOIN sizes sa ON sa.doc_id = i.id_a
                JOIN sizes sb ON sb.doc_id = i.id_b
                WHERE i.shared * 1.0 / (sa.sz + sb.sz - i.shared) >= 0.8
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
            losers AS (SELECT node FROM comp WHERE node <> component),
            survivors AS (
                SELECT doc_id, n_tokens FROM uniq
                WHERE doc_id NOT IN (SELECT node FROM losers)
            )
            SELECT doc_id,
                   greatest(CAST(ceil((n_tokens - 16) / 48.0) AS BIGINT),
                            1) AS n_chunks
            FROM survivors ORDER BY doc_id
        """)
def q_textprep_full_certified(spark, sf_dir):
    """X7 capstone: the COMPLETE text-prep funnel with the near-dup
    stage ON — quality filter → language filter → exact dedup →
    MinHash-LSH near-dup (md5 hash family) → connected-component
    survivor selection → chunk counts — certified end-to-end by ONE
    DuckDB oracle that replays every stage including the LSH banding
    and the recursive-CTE closure. Runs over the clone-planted corpus
    so the near-dup stage actually drops rows."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    rep = run_textprep_pipeline(
        _docs_near_dup_base(spark, sf_dir),
        min_tokens=10,
        chunk_tokens=64,
        overlap=16,
        near_dup=True,
        near_dup_threshold=0.8,
        shingle_k=7,
        hash_family="md5",
        bands=4,  # pinned: the oracle SQL replays j // 8 banding
    )
    return (
        rep.chunks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("doc_id")
    )


@query(oracle=None)
def q_textprep_pipeline(spark, sf_dir):
    """End-to-end LLM training-data prep over the documents table:
    quality filter → language filter → exact dedup → MinHash near-dup
    clustering (min-id survivor) → overlapping token-window chunking.
    Returns (doc_id, n_chunks) per surviving doc — deterministic (fixed
    hash seeds) but not SQL-oracle-expressible end-to-end (the LSH
    candidate step), so rows-only; every stage is separately certified
    (q_text_quality, q_lang_id, q_dedup_exact, q_dedup_clusters,
    q_chunk_documents).

    Cost note: r4's threshold-derived banding (auto_bands — 8 bands at
    threshold 0.8 instead of the old fixed 4) roughly doubles this
    query's wall-clock on purpose: at-threshold recall goes 52% → 98%
    (the fixed shape silently missed ~half of exactly-0.8 pairs). Pass
    bands=4 for the old throughput shape when the corpus sits well
    above the threshold."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    docs = _t(spark, sf_dir, "documents")
    rep = run_textprep_pipeline(
        docs, min_tokens=10, near_dup_threshold=0.8, shingle_k=7,
        chunk_tokens=64, overlap=16,
    )
    return (
        rep.chunks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .orderBy("doc_id")
    )

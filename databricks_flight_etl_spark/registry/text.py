"""Text-analysis registry queries: tokenization, BPE, quality and
language signals, PII redaction, TF-IDF/BM25, chunking and contamination
probes (SURVEY §2.11 X4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators.text import (
    EN_STOPWORDS, PII_EMAIL, PII_IP, PII_PHONE, bpe_apply_merges,
    bpe_train_merges, lang_id, repetition_signals, text_quality, token_counts,
    token_top_k,
)
from databricks_flight_etl_spark.registry._common import (
    _DOCS_PII_SQL, _docs_multiline, _docs_with_pii, query, _t,
)


@query(oracle="""
            SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) WHERE token <> ''
            GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20
        """)
def q_token_counts(spark, sf_dir):
    """X4: whitespace token pipeline → global top-20 token frequencies."""
    docs = _t(spark, sf_dir, "documents")
    return token_top_k(docs, "text", k=20)


_EN_LIST = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@query(oracle=f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(list_sum(list_transform(toks, x -> length(x)))
                         / len(toks), 6) AS avg_token_len,
                   round(len(list_filter(toks, x -> x IN ({_EN_LIST})))
                         / len(toks), 6) AS stopword_ratio
            FROM t
        """)
def q_text_quality(spark, sf_dir):
    """X4: per-document quality metrics (token count, avg token length,
    stopword ratio) — all built-in array functions, no UDFs."""
    docs = _t(spark, sf_dir, "documents")
    return text_quality(docs, "text", id_col="doc_id")


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS s_en,
                  len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','los','por','con','del'))) AS s_es,
                  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','im','ein'))) AS s_de,
                  len(list_filter(toks, x -> x IN ('le','la','de','et','est','les','un','une','dans','pour'))) AS s_fr
                FROM t
            )
            SELECT doc_id, s_en, s_es, s_de, s_fr,
                   CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS lang_guess
            FROM s
        """)
def q_lang_id(spark, sf_dir):
    """X4: stopword-overlap language guess (en/es/de/fr) with fixed
    argmax precedence."""
    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs, "text", id_col="doc_id")


@query(oracle="""
        WITH toks AS (
            SELECT regexp_extract_all(
                       text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS t
            FROM documents
        ),
        pairs AS (
            SELECT t[i] AS l, t[i + 1] AS r
            FROM toks, unnest(range(1, len(t))) AS u(i)
        )
        SELECT l AS "left", r AS "right", CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY 1, 2
        ORDER BY n DESC, "left", "right" LIMIT 20
    """)
def q_bpe_merges(spark, sf_dir):
    """X4 BPE vocabulary-induction step: the 20 most frequent adjacent
    token pairs over documents — the statistic a BPE trainer merges
    next. Pairs via zip_with over two array slices (no per-token
    explode), one aggregate, deterministic top-k. The oracle replays
    the identical regex tokenization (regexp_extract_all exists in
    both engines) and pairing."""
    from databricks_flight_etl_spark.operators.text import (
        bpe_merge_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_merge_candidates(docs, "text", k=20)


# Same span split, doc-frequency >= 2 threshold, drop-ALL
# semantics, position-order rebuild.
@query(oracle="""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents
            ),
            sp AS (
                SELECT doc_id, tk,
                       unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS idx
                FROM toks WHERE len(tk) > 0
            ),
            occ AS (
                SELECT doc_id, idx,
                       array_to_string(list_slice(tk,
                           CAST(idx * 10 + 1 AS INT),
                           CAST(idx * 10 + 10 AS INT)), ' ') AS span
                FROM sp
            ),
            boiler AS (
                SELECT span FROM occ
                GROUP BY span HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT doc_id, idx, span FROM occ
                WHERE span NOT IN (SELECT span FROM boiler)
            ),
            totals AS (SELECT doc_id, count(*) AS n_spans FROM occ GROUP BY 1),
            reb AS (
                SELECT doc_id,
                       string_agg(span, ' ' ORDER BY idx) AS clean,
                       count(*) AS n_kept
                FROM kept GROUP BY 1
            )
            SELECT t.doc_id, coalesce(r.clean, '') AS clean, t.n_spans,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM totals t LEFT JOIN reb r USING (doc_id)
        """)
def q_boilerplate(spark, sf_dir):
    """Frequency-threshold boilerplate removal (CCNet/RefinedWeb
    'drop frequent lines'): every 10-word span occurring in ≥2
    distinct documents is dropped from ALL of them (keep-first would
    bless the first carrier); docs rebuilt from surviving spans.
    Certified cell-exact against a DuckDB oracle doing the same
    doc-frequency threshold and rebuild."""
    from databricks_flight_etl_spark.operators.text import (
        drop_boilerplate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return drop_boilerplate_spans(
        docs, "text", "doc_id", span_words=10, min_docs=2
    )


# Same bigram/unigram counts, same mean ln(c12/c1) (the
# trained-on-self model makes the backoff branch unreachable).
@query(oracle="""
            WITH base AS (
                SELECT doc_id AS id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS t
                FROM documents
            ),
            docs2 AS (SELECT id, t FROM base WHERE len(t) >= 2),
            bigrams AS (
                SELECT id, t[i] AS w1, t[i + 1] AS w2
                FROM docs2, unnest(range(1, len(t))) AS u(i)
            ),
            uni AS (
                SELECT w, count(*) AS cw FROM (
                    SELECT unnest(t) AS w FROM docs2
                ) GROUP BY w
            ),
            bg AS (
                SELECT w1, w2, count(*) AS cbg FROM bigrams
                GROUP BY w1, w2
            )
            SELECT b.id,
                   count(*) AS n_bigrams,
                   round(avg(ln(CAST(g.cbg AS DOUBLE) / u1.cw)), 6)
                       AS lm_score
            FROM bigrams b
            JOIN bg g ON b.w1 = g.w1 AND b.w2 = g.w2
            JOIN uni u1 ON b.w1 = u1.w
            GROUP BY b.id ORDER BY b.id
        """)
def q_lm_score(spark, sf_dir):
    """Corpus-trained bigram LM quality score (CCNet-style, stupid
    backoff): two count aggregates train the model, token-keyed joins
    score every doc — the pretraining quality filter with no external
    LM. Oracle replays counts and the mean log-probability."""
    from databricks_flight_etl_spark.operators.text import (
        ngram_lm_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_lm_score(docs, "text", "doc_id").orderBy("id")


# Same (n desc, token) total order, integer running sum / total.
@query(oracle="""
            WITH toks AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS token
                FROM documents
            ),
            c AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
            t AS (SELECT sum(n) AS tot FROM c),
            r AS (
                SELECT token, CAST(n AS BIGINT) AS n,
                       row_number() OVER (ORDER BY n DESC, token) AS rank,
                       sum(n) OVER (ORDER BY n DESC, token
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum
                FROM c
            )
            SELECT token, n, CAST(rank AS BIGINT) AS rank,
                   round(cum * 1.0 / tot, 6) AS coverage
            FROM r, t WHERE rank <= 40 ORDER BY rank
        """)
def q_vocab_coverage(spark, sf_dir):
    """Vocabulary-cutoff curve, K-GIVEN regime (k=40): PRUNE-FIRST —
    orderBy+limit is TakeOrderedAndProject (per-partition k-row heaps),
    so the rank/cumsum window runs over ≤ k rows, never the vocabulary;
    coverage still divides by the full-corpus total. The no-k regime is
    pinned separately by q_vocab_curve_full. Oracle replays the same
    total order and running sum."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", k=40).orderBy("rank")


# Textbook one-window form — the engine side computes the same
# curve WITHOUT any whole-vocabulary window (per-count split +
# byte-bucketed within-count rank); bit-identical by construction
# (integer cumsums, one double division, same round).
@query(oracle="""
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS token
            FROM documents
        ),
        c AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
        t AS (SELECT sum(n) AS tot FROM c),
        r AS (
            SELECT token, CAST(n AS BIGINT) AS n,
                   row_number() OVER (ORDER BY n DESC, token) AS rank,
                   sum(n) OVER (ORDER BY n DESC, token
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
            FROM c
        )
        SELECT token, n, CAST(rank AS BIGINT) AS rank,
               round(cum * 1.0 / tot, 6) AS coverage
        FROM r, t ORDER BY rank
    """)
def q_vocab_curve_full(spark, sf_dir):
    """Vocabulary-cutoff curve, FULL-CURVE regime (no k) through the
    distributed split — per-count cumulative types/mass via
    _hist_cumsum on the count, within-count token rank via _hist_cumsum
    partitioned by count and range-bucketed on the token's first-6-byte
    integer (monotone w.r.t. the bytewise string order both engines
    share). No window anywhere touches the whole vocabulary (the k-given
    prune-first regime is pinned by q_vocab_coverage). Oracle replays
    the one-window textbook form — same rows, bit-identical coverage."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text").orderBy("rank")


@query(oracle="""
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """)
def q_token_count_bpe(spark, sf_dir):
    """X4 token counting, whitespace + BPE-ish regex (letter runs,
    digit runs, single punctuation — the pre-tokenizer shape). Pattern
    uses only ASCII classes so Java regex and RE2 agree."""
    docs = _t(spark, sf_dir, "documents")
    tc = token_counts(docs, "text", "doc_id")
    return tc.select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


@query(oracle="""
            WITH pairs AS (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS token
                FROM documents
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM pairs GROUP BY 1, 2),
            d AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents)
            SELECT doc_id, tf.token, tf.tf, d.df,
                   round(tf.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
            FROM tf JOIN d USING (token), n
        """)
def q_tfidf(spark, sf_dir):
    """X4 TF-IDF: per-(doc, token) tf·ln(N/df) — two aggregations (the
    second over the already-aggregated tf table) + a broadcast idf join."""
    from databricks_flight_etl_spark.operators.text import tf_idf

    docs = _t(spark, sf_dir, "documents")
    return tf_idf(docs, "text", "doc_id")


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            w AS (
                SELECT doc_id, toks,
                       greatest(CAST(ceil((len(toks) - 16) / 48.0) AS INT), 1)
                           AS n_win
                FROM t
            ),
            c AS (
                SELECT doc_id,
                       list_transform(range(1, n_win + 1),
                           i -> list_slice(toks, (i - 1) * 48 + 1,
                                           (i - 1) * 48 + 64)) AS cs
                FROM w
            )
            SELECT doc_id,
                   CAST(generate_subscripts(cs, 1) - 1 AS INT) AS chunk_idx,
                   array_to_string(unnest(cs), ' ') AS chunk_text,
                   CAST(len(unnest(cs)) AS INT) AS n_chunk_tokens
            FROM c
        """)
def q_chunk_documents(spark, sf_dir):
    """X4 chunking: overlapping 64-token windows with stride 48 —
    per-row array windows + one explode, no shuffle, no Python."""
    from databricks_flight_etl_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=64, overlap=16)


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split(
                                   replace(text, ' table', '. table'), '.'),
                               x -> trim(x)),
                           x -> x <> '') AS parts
                FROM documents
            )
            SELECT doc_id,
                   CAST(generate_subscripts(parts, 1) - 1 AS INT) AS idx,
                   unnest(parts) AS sentence
            FROM t
        """)
def q_udtf_sentences(spark, sf_dir):
    """Python UDTF (one row in → N rows out, per-row Python generator)
    applied via LATERAL join — certified against the equivalent
    list-expansion SQL."""
    from databricks_flight_etl_spark.operators.text import split_sentences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # the synthetic docs carry no punctuation; inject periods
        # deterministically so the UDTF's 1→N expansion is exercised
        F.expr("replace(text, ' table', '. table')").alias("text"),
    )
    return split_sentences(docs, "text", "doc_id")


@query(oracle="""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   t -> t <> '') AS tks
                FROM documents
            ),
            lens AS (SELECT doc_id, len(tks) AS dl FROM toks),
            stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM lens
            ),
            pairs AS (
                SELECT doc_id, unnest(tks) AS token FROM toks
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM pairs
                WHERE token IN ('hash', 'join', 'vector')
                GROUP BY doc_id, token
            ),
            dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
            SELECT tf.doc_id,
                   round(CAST(sum(CAST(round(
                       ln((n - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                       9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS score,
                   count(*) AS n_terms_hit
            FROM tf
            JOIN dfreq USING (token)
            JOIN lens ON tf.doc_id = lens.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
        """)
def q_bm25(spark, sf_dir):
    """X4 relevance scoring: Okapi BM25 of every document against a
    3-term query — per-term partials summed as exact DECIMAL so the
    score is engine-order-independent."""
    from databricks_flight_etl_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, "text", "doc_id", ["hash", "join", "vector"])


# Same three-stage redaction chain as pii_redact, with per-stage
# counts; DuckDB regexp_replace needs the explicit 'g' flag
# (Spark's is global by default). Patterns injected verbatim
# from operators.text so both engines compile the same regex.
@query(oracle="""
            WITH t AS (""" + _DOCS_PII_SQL + """),
            s1 AS (
                SELECT doc_id, text AS t0,
                       regexp_replace(text, '""" + PII_EMAIL + """', '[EMAIL]', 'g') AS t1
                FROM t
            ),
            s2 AS (
                SELECT doc_id, t0, t1,
                       regexp_replace(t1, '""" + PII_IP + """', '[IP]', 'g') AS t2
                FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '""" + PII_PHONE + """', '[PHONE]', 'g') AS clean,
                   CAST(len(regexp_extract_all(t0, '""" + PII_EMAIL + """')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(t1, '""" + PII_IP + """')) AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(t2, '""" + PII_PHONE + """')) AS INT) AS n_phones
            FROM s2
        """)
def q_pii_redact(spark, sf_dir):
    """X4 PII scrubbing (standard LLM training-data pass): email → IP →
    phone regex redaction chain with per-stage match counts, certified
    cross-engine (ASCII-class patterns mean the same under Java regex
    and RE2)."""
    from databricks_flight_etl_spark.operators.text import pii_redact

    return pii_redact(_docs_with_pii(spark, sf_dir), "text", "doc_id")


@query(oracle="""
            WITH t AS (""" + _DOCS_PII_SQL + """),
            w AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM t
            )
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len(toks) AS INT) AS n_words,
                   round(list_sum(list_transform(toks, x -> length(x)))
                         / len(toks), 6) AS mean_word_len,
                   round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         / length(text), 6) AS symbol_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                         / length(text), 6) AS digit_ratio,
                   round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                         / length(text), 6) AS upper_ratio,
                   round(1 - len(list_distinct(toks)) / len(toks), 6)
                       AS dup_word_ratio,
                   len(list_filter(toks, x -> x IN (""" + ", ".join(
                       f"'{w}'" for w in EN_STOPWORDS
                   ) + """))) >= 2 AS has_stopword
            FROM w
        """)
def q_quality_signals(spark, sf_dir):
    """X4 Gopher/C4-style quality heuristics: char-class ratios,
    repetition (dup-word fraction), common-word sanity check — the
    published filter family re-expressed as per-row column math."""
    from databricks_flight_etl_spark.operators.text import quality_signals

    return quality_signals(_docs_with_pii(spark, sf_dir), "text", "doc_id")


# String-keyed join stands in for Spark's xxhash64-keyed one
# (identical result barring 64-bit collisions); probe set =
# every 29th doc, 5-gram shingles distinct per document.
@query(oracle="""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(len(toks) - 4, 0) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 4), ' ')
                       ))) AS gram
                FROM w
            ),
            p AS (SELECT doc_id AS probe_id, gram FROM g WHERE doc_id % 29 = 0),
            sz AS (SELECT probe_id, count(*) AS probe_ngrams FROM p GROUP BY 1),
            hits AS (
                SELECT g.doc_id, p.probe_id, count(*) AS n_overlap
                FROM g JOIN p ON g.gram = p.gram
                GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT h.doc_id, h.probe_id, h.n_overlap, sz.probe_ngrams,
                   round(h.n_overlap / sz.probe_ngrams, 6) AS overlap_ratio
            FROM hits h JOIN sz USING (probe_id)
        """)
def q_contamination(spark, sf_dir):
    """X4/X1 benchmark-contamination scan: 5-gram overlap of every
    document against a probe set (every 29th doc stands in for a
    benchmark), hashed-shingle broadcast join — corpus side never
    shuffles. Certified against a string-join DuckDB oracle."""
    from databricks_flight_etl_spark.operators.text import (
        contamination_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
    )
    return contamination_overlap(
        docs, probes, "text", "doc_id", n=5, min_overlap=2
    )


@query(oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        ml AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       generate_series(
                           0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1
                       ),
                       i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')
                   ), chr(10)) AS text2
            FROM t
        ),
        base AS (
            SELECT doc_id, text2,
                   string_split(text2, chr(10)) AS lines,
                   list_filter(string_split(text2, ' '),
                               w -> w <> '') AS wt,
                   len(text2) AS chars
            FROM ml
        ),
        tg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(wt) - 1),
                       i -> array_to_string(wt[i:i+1], ' ')
                   )) AS g
            FROM base WHERE len(wt) >= 2
        ),
        ttop AS (
            SELECT doc_id, c * len(g) AS topchars FROM (
                SELECT doc_id, g, count(*) AS c,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY count(*) DESC, g
                       ) AS rn
                FROM tg GROUP BY doc_id, g
            ) WHERE rn = 1
        ),
        dg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(wt) - 4),
                       i -> array_to_string(wt[i:i+4], ' ')
                   )) AS g
            FROM base WHERE len(wt) >= 5
        ),
        dsum AS (
            SELECT doc_id,
                   SUM(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END)
                       AS dupchars,
                   SUM(c * len(g)) AS allchars
            FROM (
                SELECT doc_id, g, count(*) AS c
                FROM dg GROUP BY doc_id, g
            ) GROUP BY doc_id
        )
        SELECT b.doc_id,
               round(1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
                     / len(b.lines), 6) AS dup_line_frac,
               round(coalesce(CAST(t.topchars AS DOUBLE) / b.chars,
                              0.0), 6) AS top2_char_frac,
               round(coalesce(CAST(d.dupchars AS DOUBLE) / d.allchars,
                              0.0), 6) AS dup5_char_frac
        FROM base b
        LEFT JOIN ttop t USING (doc_id)
        LEFT JOIN dsum d USING (doc_id)
        ORDER BY b.doc_id
    """)
def q_repetition_signals(spark, sf_dir):
    """Gopher repetition quality signals (Rae et al. 2021 A1.1) on the
    derived multi-line corpus: within-doc duplicate-line fraction, the
    top word-bigram's character coverage (ties → smallest gram), and
    the share of 5-gram characters in grams repeated ≥2×. One shuffle
    (spread by doc_id satisfies both gram groupings). Certified — the
    oracle replays grams via list slices + window tie-break."""
    docs = _docs_multiline(spark, sf_dir)
    return repetition_signals(docs, "text", "doc_id").orderBy("doc_id")


@query(oracle='''
        WITH h AS (
            SELECT doc_id,
                   '<html><head><style>p{color:red}</style></head>'
                   || '<body><h1>Doc &amp; no. '
                   || CAST(doc_id AS VARCHAR)
                   || '</h1>' || chr(10) || '<p>' || text
                   || '</p><script>alert(' || chr(39) || 'x'
                   || chr(39) || ')</script>'
                   || '<!-- hidden --></body></html>' AS x
            FROM documents WHERE doc_id < 300
        ),
        s0 AS (SELECT doc_id, regexp_replace(x,
                   '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', ' ', 'g') AS x
               FROM h),
        s1 AS (SELECT doc_id, regexp_replace(x,
                   '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x
               FROM s0),
        s2 AS (SELECT doc_id, regexp_replace(x,
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x
               FROM s1),
        s3 AS (SELECT doc_id, regexp_replace(x,
                   '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2),
        s4 AS (SELECT doc_id, regexp_replace(x,
                   '(?s)<[^>]*>', ' ', 'g') AS x FROM s3),
        e0 AS (SELECT doc_id, regexp_replace(x, '(?i)&amp;', chr(1),
                   'g') AS x FROM s4),
        e1 AS (SELECT doc_id, regexp_replace(x, '(?i)&nbsp;', ' ',
                   'g') AS x FROM e0),
        e3 AS (SELECT doc_id, regexp_replace(x, '(?i)&lt;', '<',
                   'g') AS x FROM e1),
        e4 AS (SELECT doc_id, regexp_replace(x, '(?i)&gt;', '>',
                   'g') AS x FROM e3),
        e5 AS (SELECT doc_id, regexp_replace(x, '(?i)&quot;',
                   chr(34), 'g') AS x FROM e4),
        e6 AS (SELECT doc_id, regexp_replace(x, '(?i)&#39;',
                   chr(39), 'g') AS x FROM e5),
        e7 AS (SELECT doc_id, regexp_replace(x, '&[a-zA-Z]{2,8};',
                   ' ', 'g') AS x FROM e6),
        e8 AS (SELECT doc_id, replace(x, chr(1), '&') AS x FROM e7)
        SELECT doc_id,
               trim(regexp_replace(x, '\\s+', ' ', 'g')) AS text
        FROM e8 ORDER BY doc_id
    ''')
def q_strip_html(spark, sf_dir):
    """X4 crawl cleaning: documents wrapped in synthetic HTML (style
    block, heading with an entity, script, comment) and stripped back
    to visible text with strip_html — per-row JVM regexp chain, no
    shuffle, no Python. Every pattern is Java-regex/RE2-portable, so
    the oracle replays the identical replace chain character for
    character."""
    from databricks_flight_etl_spark.operators.text import strip_html

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    html = F.concat(
        F.lit("<html><head><style>p{color:red}</style></head>"
              "<body><h1>Doc &amp; no. "),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n<p>"),
        F.col("text"),
        F.lit("</p><script>alert('x')</script><!-- hidden -->"
              "</body></html>"),
    )
    return docs.select(
        "doc_id", strip_html(html).alias("text")
    ).orderBy("doc_id")


@query(oracle=None)
def q_bpe_encode(spark, sf_dir):
    """REAL byte-pair encoding end-to-end (Sennrich et al. 2016):
    greedily train 8 merges on the corpus' distinct-word frequency
    table (weighted pair counts, count-desc/pair-asc tie-break —
    deterministic), then encode every document with the learned ranks
    (lowest-rank adjacent pair merges first — the GPT-2 encode loop)
    via an Arrow-batched kernel. Iterative training is not
    SQL-expressible → rows-only; the train+encode algebra is pinned
    exactly by unit test on the classic low/lower/newest corpus."""
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train_merges(
        docs.where(F.col("doc_id") < 200), "text", n_merges=8
    )
    enc = bpe_apply_merges(docs, "text", "doc_id", merges)
    return enc.select(
        "doc_id",
        F.size("units").alias("n_units"),
        F.array_join(F.slice("units", 1, 5), " ").alias("head_units"),
    ).orderBy("doc_id")

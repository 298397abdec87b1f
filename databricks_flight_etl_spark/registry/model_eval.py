"""Model-evaluation registry queries: AUC, calibration, threshold sweeps
and their per-slice drift, and the linear quality scorer (SURVEY §2.11
X12).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.partitioning import local_df as _local_df
from databricks_flight_etl_spark.registry._common import query, _t


@query(oracle="""
        WITH w(token, weight) AS (
            VALUES ('spark', 0.8), ('join', 0.25), ('scan', -0.4),
                   ('batch', -0.15), ('window', 0.3), ('hash', -0.2)
        ),
        toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS t
            FROM documents
        ),
        counts AS (
            SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t
        ),
        dots AS (
            SELECT doc_id,
                   SUM(CAST(c AS DECIMAL(18,0))
                       * CAST(weight AS DECIMAL(19,9))) AS dot
            FROM counts JOIN w ON t = token GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(1.0 / (1.0 + exp(-(-0.1
                   + COALESCE(CAST(dot AS DOUBLE), 0.0)))), 6) AS score
        FROM documents d LEFT JOIN dots USING (doc_id)
        ORDER BY d.doc_id
    """)
def q_linear_scorer(spark, sf_dir):
    """X4 corpus-scale linear text-classifier application (the
    fastText/CCNet quality-filter shape): score = sigmoid(bias +
    Σ count(token)·weight) as pure joins + aggregates — no model
    runtime, no Python. The dot product folds EXACT decimal weights so
    both engines sum identically; sigmoid's exp is the only float op,
    absorbed by the 6-dp round."""
    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    weights = _local_df(
        spark,
        [("spark", 0.8), ("join", 0.25), ("scan", -0.4),
         ("batch", -0.15), ("window", 0.3), ("hash", -0.2)],
        "token string, weight double",
    )
    docs = _t(spark, sf_dir, "documents")
    return linear_score_documents(
        docs, "text", "doc_id", weights, bias=-0.1
    ).orderBy("doc_id")


def _score_label(docs, keep):
    si = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10
    ).cast("int")
    ni = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("lbl"), F.col("doc_id").cast("string"))),
            1, 3,
        ), 16, 10,
    ).cast("int")
    return docs.select(
        *keep,
        "doc_id",
        (si / F.lit(4096.0)).alias("score"),
        ((si + ni) >= 4096).cast("int").alias("label"),
    )


def _scored_docs(spark, sf_dir):
    """documents with a deterministic, ENGINE-PORTABLE (score, label):
    score = first-3-hex-of-md5(doc_id)/4096 — a binary fraction k/2^12,
    so sums of scores are IEEE-exact under any summation order (the
    float-sum-order trap the verify notes flag for double aggregates) —
    and label correlates with score through an independent md5 noise
    draw (AUC lands ≈ 0.75, away from both degenerate 0.5 and 1.0).
    The md5-hex idiom is the sampling family's (sampling.hash_bucket):
    md5 is md5 in every engine, so the oracle rebuilds the identical
    columns."""
    docs = _t(spark, sf_dir, "documents")
    return _score_label(docs, [])


def _score_label_v2(docs, keep):
    """The CANDIDATE scoring run for drift queries: identical labels,
    and the baseline score everywhere EXCEPT fr/zh, where an
    independently-salted md5 draw replaces it — uncorrelated with the
    label by construction, so those slices' AUC collapses toward 0.5
    while every other slice's drift is exactly 0."""
    si = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10
    ).cast("int")
    vi = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("v2"), F.col("doc_id").cast("string"))),
            1, 3,
        ), 16, 10,
    ).cast("int")
    ni = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("lbl"), F.col("doc_id").cast("string"))),
            1, 3,
        ), 16, 10,
    ).cast("int")
    score = F.when(
        F.col("lang").isin("fr", "zh"), vi / F.lit(4096.0)
    ).otherwise(si / F.lit(4096.0))
    return docs.select(
        *keep,
        "doc_id",
        score.alias("score"),
        ((si + ni) >= 4096).cast("int").alias("label"),
    )


_SCORED_DOCS_SQL = """
    SELECT lang,
           doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                AS BIGINT) / 4096.0 AS score,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                          AS BIGINT)
                   + CAST('0x' || substr(md5('lbl' ||
                          CAST(doc_id AS VARCHAR)), 1, 3) AS BIGINT)
                   >= 4096
                THEN 1 ELSE 0 END AS label
    FROM documents
"""


# Tie-aware AUC via the integer 2U rank-sum: the oracle's window
# cumulative (negatives strictly below each score) replays
# _hist_cumsum's inclusive=False semantics; 2U and 2·P·N stay
# integers until the one rounded double division, so the engines
# agree bit-for-bit.
@query(oracle=f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        h AS (
            SELECT score,
                   CAST(SUM(label) AS BIGINT) AS np,
                   CAST(SUM(1 - label) AS BIGINT) AS nn
            FROM sc GROUP BY score
        ),
        c AS (
            SELECT np, nn,
                   COALESCE(CAST(SUM(nn) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum
            FROM h
        )
        SELECT CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                    THEN ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE)
                               / (2.0 * SUM(np) * SUM(nn)), 6)
               END AS auc,
               CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pos,
               CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_neg
        FROM c
    """)
def q_auc_roc(spark, sf_dir):
    """X12 model-eval: tie-aware AUC-ROC of a deterministic quality
    scorer against its correlated label, via the Mann-Whitney rank-sum
    over the shared bucketed prefix-sum (no unpartitioned rank window
    — the continuous-score regime that collapses naive rank plans onto
    one task). Integer 2U algebra end-to-end, so the DuckDB oracle
    replays the statistic exactly from its own window cumulative."""
    from databricks_flight_etl_spark.operators.model_eval import auc_roc

    return auc_roc(_scored_docs(spark, sf_dir), "score", "label")


# Per-language AUC: identical 2U algebra, window partitioned by
# lang — replays _hist_cumsum(by=["lang"]) exactly.
@query(oracle=f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        h AS (
            SELECT lang, score,
                   CAST(SUM(label) AS BIGINT) AS np,
                   CAST(SUM(1 - label) AS BIGINT) AS nn
            FROM sc GROUP BY lang, score
        ),
        c AS (
            SELECT lang, np, nn,
                   COALESCE(CAST(SUM(nn) OVER (
                       PARTITION BY lang ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum
            FROM h
        )
        SELECT lang,
               CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                    THEN ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE)
                               / (2.0 * SUM(np) * SUM(nn)), 6)
               END AS auc,
               CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pos,
               CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_neg
        FROM c GROUP BY lang ORDER BY lang
    """)
def q_auc_roc_grouped(spark, sf_dir):
    """X12 model-eval: PER-LANGUAGE AUC-ROC (r12 verdict task #5) —
    the grouped variant of q_auc_roc; the realistic quality-filter
    validation is "did the classifier hold up on each
    domain/language slice". Same integer 2U rank-sum,
    but the histogram keys on (lang, score) and _hist_cumsum's native
    by= scopes the prefix-sum per language — two hash-aggs + the
    shared bucketed window, no per-group loop, group count unbounded."""
    from databricks_flight_etl_spark.operators.model_eval import auc_roc

    docs = _t(spark, sf_dir, "documents")
    return auc_roc(
        _score_label(docs, ["lang"]), "score", "label", by=["lang"]
    )


# Certified as the verdict prescribed: TWO grouped-AUC window
# passes (the q_auc_roc_grouped SQL, once per scoring run)
# FULL-OUTER-joined on the slice key. The candidate run's score
# swaps in the independently-salted md5 draw on fr/zh only
# (_score_label_v2); both runs share the label derivation.
_AUC_BY_LANG = """
        SELECT lang,
               CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
                    THEN ROUND(CAST(SUM(np * (2 * cum + nn)) AS DOUBLE)
                               / (2.0 * SUM(np) * SUM(nn)), 6)
               END AS auc,
               CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_pos,
               CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_neg
        FROM (
            SELECT lang, np, nn,
                   COALESCE(CAST(SUM(nn) OVER (
                       PARTITION BY lang ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum
            FROM (
                SELECT lang, score,
                       CAST(SUM(label) AS BIGINT) AS np,
                       CAST(SUM(1 - label) AS BIGINT) AS nn
                FROM {src} GROUP BY lang, score
            )
        ) GROUP BY lang
    """


@query(oracle=f"""
        WITH sc_base AS ({_SCORED_DOCS_SQL}),
        sc_cand AS (
            SELECT lang, doc_id,
                   CASE WHEN lang IN ('fr', 'zh')
                        THEN CAST('0x' || substr(md5('v2' ||
                                 CAST(doc_id AS VARCHAR)), 1, 3)
                                 AS BIGINT) / 4096.0
                        ELSE score END AS score,
                   label
            FROM sc_base
        ),
        ab AS ({_AUC_BY_LANG.format(src="sc_base")}),
        ac AS ({_AUC_BY_LANG.format(src="sc_cand")})
        SELECT COALESCE(ab.lang, ac.lang) AS lang,
               ab.auc AS auc_base,
               ac.auc AS auc_cand,
               ROUND(ac.auc - ab.auc, 6) AS auc_delta,
               ab.n_pos AS n_pos_base,
               ab.n_neg AS n_neg_base,
               ac.n_pos AS n_pos_cand,
               ac.n_neg AS n_neg_cand
        FROM ab FULL OUTER JOIN ac ON ab.lang = ac.lang
        ORDER BY lang
    """)
def q_auc_drift(spark, sf_dir):
    """X12 model-eval: per-language AUC DRIFT between two scoring runs
    (r13 verdict task #5) — the "did the new quality filter regress any
    language" release gate, the discrimination-statistic companion of
    q_psi_drift. The candidate run keeps the baseline scorer on most
    languages (delta exactly 0 — bit-certifiable no-regression) and
    swaps in an independently-salted, label-uncorrelated scorer on
    fr/zh (auc_cand ≈ 0.5 there — a planted regression). One union +
    ONE auc_roc pass with by=[lang, run] (single histogram, single
    scoped prefix-sum), then a bounded ≤2-rows-per-group pivot; both
    runs certified as two grouped-AUC window passes FULL-OUTER-joined
    in the oracle."""
    from databricks_flight_etl_spark.operators.model_eval import auc_drift

    docs = _t(spark, sf_dir, "documents")
    return auc_drift(
        _score_label(docs, ["lang"]),
        _score_label_v2(docs, ["lang"]),
        "score",
        "label",
        by=["lang"],
    )


# ECE in sum form: Σ_bins |Σlabel − Σscore| / N — numerator exact
# (integer minus binary-fraction sum), ONE division, rounded once;
# the delta subtracts the UNROUNDED per-run divisions (mirroring
# the operator) before its own single rounding.
_ECE_BY_LANG = """
        SELECT lang,
               SUM(ad) / SUM(n) AS e_raw,
               CAST(SUM(n) AS BIGINT) AS n
        FROM (
            SELECT lang,
                   CAST(GREATEST(0, LEAST(9, FLOOR(score * 10)))
                        AS INT) AS bin,
                   ABS(CAST(SUM(label) AS DOUBLE) - SUM(score)) AS ad,
                   COUNT(*) AS n
            FROM {src} GROUP BY 1, 2
        ) GROUP BY lang
    """


@query(oracle=f"""
        WITH sc_base AS ({_SCORED_DOCS_SQL}),
        sc_cand AS (
            SELECT lang, doc_id,
                   CASE WHEN lang IN ('fr', 'zh')
                        THEN CAST('0x' || substr(md5('v2' ||
                                 CAST(doc_id AS VARCHAR)), 1, 3)
                                 AS BIGINT) / 4096.0
                        ELSE score END AS score,
                   label
            FROM sc_base
        ),
        eb AS ({_ECE_BY_LANG.format(src="sc_base")}),
        ec AS ({_ECE_BY_LANG.format(src="sc_cand")})
        SELECT COALESCE(eb.lang, ec.lang) AS lang,
               ROUND(eb.e_raw, 6) AS ece_base,
               ROUND(ec.e_raw, 6) AS ece_cand,
               ROUND(ec.e_raw - eb.e_raw, 6) AS ece_delta,
               eb.n AS n_base,
               ec.n AS n_cand
        FROM eb FULL OUTER JOIN ec ON eb.lang = ec.lang
        ORDER BY lang
    """)
def q_ece_drift(spark, sf_dir):
    """X12 model-eval: per-language EXPECTED-CALIBRATION-ERROR drift
    between the same two scoring runs as q_auc_drift — the calibration
    face of the release gate (a scorer can hold its AUC and still
    drift off-calibration on a slice, or vice versa). ECE in its sum
    form Σ_bins |Σlabel − Σscore| / N: every summand exact for the
    binary-fraction scores, so the whole table certifies
    cell-for-cell. One union + one bounded (lang, run, bin) hash-agg +
    a ≤ langs·2-row fold."""
    from databricks_flight_etl_spark.operators.model_eval import ece_drift

    docs = _t(spark, sf_dir, "documents")
    return ece_drift(
        _score_label(docs, ["lang"]),
        _score_label_v2(docs, ["lang"]),
        "score",
        "label",
        n_bins=10,
        by=["lang"],
    )


# Per-language reliability table: same clamped-bin agg keyed on
# (lang, bin); averages exact (binary-fraction scores).
@query(oracle=f"""
        WITH sc AS ({_SCORED_DOCS_SQL})
        SELECT lang,
               CAST(GREATEST(0, LEAST(9, FLOOR(score * 10))) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(score), 6) AS mean_score,
               ROUND(AVG(label), 6) AS frac_pos,
               ROUND(ABS(AVG(label) - AVG(score)), 6) AS gap
        FROM sc
        GROUP BY 1, 2 ORDER BY lang, bin
    """)
def q_calibration_grouped(spark, sf_dir):
    """X12 model-eval: PER-LANGUAGE 10-bin reliability table — the
    per-slice companion of q_calibration_bins (did the scorer stay
    calibrated on each language?). Still ONE hash-agg, keyed on
    (lang, bin): ≤ langs·n_bins output rows."""
    from databricks_flight_etl_spark.operators.model_eval import (
        calibration_bins,
    )

    docs = _t(spark, sf_dir, "documents")
    return calibration_bins(
        _score_label(docs, ["lang"]), "score", "label",
        n_bins=10, by=["lang"],
    )


# Per-language threshold sweep: integer confusion counts per
# (lang, threshold), ratios as single rounded divisions.
@query(oracle=f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        t(threshold) AS (VALUES (0.25), (0.5), (0.75)),
        agg AS (
            SELECT sc.lang, t.threshold,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM sc, t GROUP BY sc.lang, t.threshold
        )
        SELECT lang, CAST(threshold AS DOUBLE) AS threshold,
               tp, fp, fn, tn,
               ROUND(CASE WHEN tp + fp > 0
                          THEN tp / CAST(tp + fp AS DOUBLE) END, 6)
                   AS precision,
               ROUND(CASE WHEN tp + fn > 0
                          THEN tp / CAST(tp + fn AS DOUBLE) END, 6)
                   AS recall,
               ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0
                          AND (tp / CAST(tp + fp AS DOUBLE)
                               + tp / CAST(tp + fn AS DOUBLE)) > 0
                          THEN 2 * (tp / CAST(tp + fp AS DOUBLE))
                               * (tp / CAST(tp + fn AS DOUBLE))
                               / (tp / CAST(tp + fp AS DOUBLE)
                                  + tp / CAST(tp + fn AS DOUBLE)) END, 6)
                   AS f1
        FROM agg ORDER BY lang, threshold
    """)
def q_threshold_sweep_grouped(spark, sf_dir):
    """X12 model-eval: PER-LANGUAGE confusion/precision/recall/F1 at 3
    operating points in one corpus pass — the grouped variant of
    q_threshold_sweep, a slice-level operating-point table (≤ langs·3
    rows) from the same broadcast-explode hash-agg."""
    from databricks_flight_etl_spark.operators.model_eval import (
        confusion_sweep,
    )

    docs = _t(spark, sf_dir, "documents")
    return confusion_sweep(
        _score_label(docs, ["lang"]), "score", "label",
        [0.25, 0.5, 0.75], by=["lang"],
    )


# scores are binary fractions k/2^12 → the double averages are
# summation-order-exact (see _scored_docs), so avg() matches
@query(oracle=f"""
        WITH sc AS ({_SCORED_DOCS_SQL})
        SELECT CAST(GREATEST(0, LEAST(9, FLOOR(score * 10))) AS INT)
                   AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(score), 6) AS mean_score,
               ROUND(AVG(label), 6) AS frac_pos,
               ROUND(ABS(AVG(label) - AVG(score)), 6) AS gap
        FROM sc
        GROUP BY 1 ORDER BY bin
    """)
def q_calibration_bins(spark, sf_dir):
    """X12 model-eval: 10-bin reliability table (n, mean_score,
    frac_pos, |gap| — the ECE summand) for the derived scorer. Scores
    are binary fractions k/2^12, so the double averages are exact
    under any partitioning/sum order — certifiable cell-for-cell."""
    from databricks_flight_etl_spark.operators.model_eval import (
        calibration_bins,
    )

    return calibration_bins(
        _scored_docs(spark, sf_dir), "score", "label", n_bins=10
    )


@query(oracle=f"""
        WITH sc AS ({_SCORED_DOCS_SQL}),
        t(threshold) AS (VALUES (0.25), (0.5), (0.625), (0.75), (0.875)),
        agg AS (
            SELECT t.threshold,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN score >= t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN score < t.threshold AND label = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM sc, t GROUP BY t.threshold
        )
        SELECT CAST(threshold AS DOUBLE) AS threshold, tp, fp, fn, tn,
               ROUND(CASE WHEN tp + fp > 0
                          THEN tp / CAST(tp + fp AS DOUBLE) END, 6)
                   AS precision,
               ROUND(CASE WHEN tp + fn > 0
                          THEN tp / CAST(tp + fn AS DOUBLE) END, 6)
                   AS recall,
               ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0
                          AND (tp / CAST(tp + fp AS DOUBLE)
                               + tp / CAST(tp + fn AS DOUBLE)) > 0
                          THEN 2 * (tp / CAST(tp + fp AS DOUBLE))
                               * (tp / CAST(tp + fn AS DOUBLE))
                               / (tp / CAST(tp + fp AS DOUBLE)
                                  + tp / CAST(tp + fn AS DOUBLE)) END, 6)
                   AS f1
        FROM agg ORDER BY threshold
    """)
def q_threshold_sweep(spark, sf_dir):
    """X12 model-eval: confusion counts + precision/recall/F1 at 5
    operating points in ONE corpus pass (thresholds ride as a
    broadcast literal explode — one ≤5-group hash-agg, not 5 scans).
    Thresholds are binary fractions; counts are integers; the ratio
    columns are single rounded divisions of exact integers."""
    from databricks_flight_etl_spark.operators.model_eval import (
        confusion_sweep,
    )

    return confusion_sweep(
        _scored_docs(spark, sf_dir), "score", "label",
        [0.25, 0.5, 0.625, 0.75, 0.875],
    )

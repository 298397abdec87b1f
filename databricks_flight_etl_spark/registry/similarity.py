"""Embedding-similarity registry queries: exact and approximate top-k
(LSH, IVF), embedding near-dups, semantic dedup, quantization and random
projection (SURVEY §2.11 X2, X10).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators.similarity import (
    ann_topk_ivf_batch, ann_topk_lsh, cosine_near_dup_pairs, cosine_topk,
)
from databricks_flight_etl_spark.registry._common import query, _t


@query(oracle="""
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """)
def q_cosine_topk(spark, sf_dir):
    """X2 similarity search: brute-force cosine top-10 against the
    vec_id=0 probe (deterministic tie-break on vec_id)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, probe_id=0, k=10)


@query(oracle=None)
def q_ann_lsh(spark, sf_dir):
    """X2 ANN: random-hyperplane LSH bucket restriction + exact cosine
    re-rank (recall is approximate by construction)."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, probe_id=0, k=10, dim=64)


# Same quantize/dequantize arithmetic, same pairwise cosine.
@query(oracle="""
            WITH q AS (
                SELECT vec_id, label,
                       list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))) AS amax,
                       CAST(embedding AS DOUBLE[]) AS ve
                FROM embeddings
            ),
            deq AS (
                SELECT vec_id, label,
                       CASE WHEN amax > 0 THEN
                           list_transform(ve, x ->
                               greatest(-127, least(127,
                                   floor(x * (127.0 / amax) + 0.5)))
                               * (amax / 127.0))
                       ELSE list_transform(ve, x -> 0.0) END AS vh
                FROM q
            ),
            v AS (
                SELECT vec_id, label, vh,
                       sqrt(list_dot_product(vh, vh)) AS n
                FROM deq
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.vh, b.vh) / (a.n * b.n), 6)
                       AS cosine
            FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.vh, b.vh) / (a.n * b.n) >= 0.35
        """)
def q_embed_dup_int8(spark, sf_dir):
    """The quantized-ANN pipeline end-to-end: int8-quantize the
    corpus, dequantize, then blocked cosine near-dup pairs on the
    reconstructed vectors — certifying that the 4×-compressed path
    yields a deterministic, engine-reproducible pair set (the oracle
    replays quantize, dequantize, and the pairwise cosine). Threshold
    slightly below q_embed_dup's: reconstruction shifts cosines by
    O(amax/254) per coordinate. Uses the FUSED reconstruction
    (bit-identical to dequantize∘quantize, pinned by unit test) —
    the composed pair paid a ~2.6 s first-run floor materializing
    two intermediate generated array projections (r11 task #7)."""
    from databricks_flight_etl_spark.operators.similarity import (
        cosine_near_dup_pairs,
        reconstruct_embeddings_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    deq = reconstruct_embeddings_int8(emb, "embedding").select(
        "vec_id", "label", F.col("vec_hat").alias("embedding")
    )
    return cosine_near_dup_pairs(
        deq, threshold=0.35, block_col="label"
    )


# Same per-(label, idx) mean, rounded on both sides.
@query(oracle="""
            WITH ex AS (
                SELECT label,
                       generate_subscripts(embedding, 1) - 1 AS idx,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings
            )
            SELECT label, CAST(idx AS INT) AS idx,
                   round(avg(x), 9) AS mean_r
            FROM ex GROUP BY label, idx ORDER BY label, idx
        """)
def q_vector_mean(spark, sf_dir):
    """Per-label prototype vectors as ONE hash aggregate of dim scalar
    avgs (no posexplode-before-groupBy dim× blowup through the
    shuffle); scalar (label, idx, mean) rows out. DECIMAL-exact sums
    would be overkill — the oracle replays avg in the same unnest
    order per group, and double avg of the same multiset in DuckDB's
    streaming order can differ, so means are rounded to 9 dp on both
    sides."""
    from databricks_flight_etl_spark.operators.similarity import (
        group_vector_mean,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = group_vector_mean(emb, "label")
    return out.select(
        "label", "idx", F.round("mean", 9).alias("mean_r")
    ).orderBy("label", "idx")


def _jl_project_sql() -> str:
    """The 64→16 ±1-sign JL projection as one UNION ALL per output
    coordinate — the SAME Python sign derivation the Spark operator
    bakes into its expression, same left-assoc add order."""
    from databricks_flight_etl_spark.operators.similarity import _jl_signs

    signs = _jl_signs(64, 16)
    parts = []
    for j, row in enumerate(signs):
        terms = "".join(
            (" + " if s > 0 else " - ") + f"v[{i + 1}]"
            for i, s in enumerate(row)
        )
        # leading " + " folds into a unary no-op; " - v[1]" negates
        expr = terms[3:] if terms.startswith(" + ") else terms.lstrip()
        parts.append(
            f"SELECT vec_id, {j} AS j, "
            f"round(({expr}) * CAST(0.25 AS DOUBLE), 6) AS value FROM e"
        )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings) "
        + " UNION ALL ".join(parts)
        + " ORDER BY vec_id, j"
    )


# Same sign matrix, same add order (generated; see
# _jl_project_sql).
@query(oracle=_jl_project_sql())
def q_jl_project(spark, sf_dir):
    """Johnson–Lindenstrauss ±1-sign projection 64→16 (scale 1/√16 =
    0.25, exact in binary): one numpy matmul per Arrow batch — no
    shuffle. The SAME Python-derived sign matrix stamps the Spark
    kernel and the SQL oracle. numpy's summation order differs from
    the oracle's left-assoc add chain only in the last ulp, far below
    the 6 dp round, and the rounded values match the oracle exactly
    on the testdata. posexploded to scalar rows for the harness."""
    from databricks_flight_etl_spark.operators.similarity import (
        project_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = project_embeddings(emb, out_dim=16)
    # posexplode_OUTER: row-identical here (proj is always a non-null
    # 16-element array), but plain posexplode lets Catalyst's
    # InferFiltersFromGenerate add `size(proj) > 0` and push it below
    # the projection — re-running the ENTIRE 16-coordinate fold per
    # row inside a Filter (the PLANS.md λfilt tripwire); outer
    # generate infers no such filter
    return out.select(
        "vec_id", F.posexplode_outer("proj").alias("j", "value")
    ).orderBy("vec_id", "j")


@query(oracle=None)
def q_jl_project_wide(spark, sf_dir):
    """The BIG-DIM JL regime (r4 verdict task #6): vectors widened to
    1024 dims (flatten ∘ array_repeat — deterministic), projected to
    128 — 131 072 sign-matrix terms in one numpy GEMM per Arrow batch.
    Rows-only: the certified twin is q_jl_project (the same kernel at
    64→16); this query certifies the wide shape runs."""
    from databricks_flight_etl_spark.operators.similarity import (
        project_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.flatten(F.array_repeat(F.col("embedding"), 16)).alias(
            "embedding"
        ),
    )
    out = project_embeddings(emb, out_dim=128)
    return out.select(
        "vec_id", F.posexplode("proj").alias("j", "value")
    ).orderBy("vec_id", "j")


# Same per-(label, idx) avg centroid, same dot/norm cosine.
@query(oracle="""
            WITH e AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            ex AS (
                SELECT label,
                       generate_subscripts(v, 1) AS idx,
                       unnest(v) AS x
                FROM e
            ),
            c AS (
                SELECT label, idx, avg(x) AS m
                FROM ex GROUP BY label, idx
            ),
            cent AS (
                SELECT label, list(m ORDER BY idx) AS cv
                FROM c GROUP BY label
            )
            SELECT e.vec_id, e.label,
                   round(list_dot_product(v, cv)
                         / (sqrt(list_dot_product(v, v))
                            * sqrt(list_dot_product(cv, cv))), 6) AS cos_r
            FROM e JOIN cent USING (label)
            ORDER BY label, vec_id
        """)
def q_centroid_outliers(spark, sf_dir):
    """Semantic-outlier curation scores: cosine of each vector to its
    LABEL's centroid — dim scalar avgs in one hash aggregate, tiny
    centroid table broadcast back, deterministic zip_with-fold cosine.
    Rounded to 6 dp on both sides (centroid avg order is the only
    cross-engine freedom)."""
    from databricks_flight_etl_spark.operators.similarity import (
        centroid_outlier_scores,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = centroid_outlier_scores(emb, "label")
    return out.select(
        "vec_id", "label", F.round("cos_centroid", 6).alias("cos_r")
    ).orderBy("label", "vec_id")


# Full SemDeDup funnel at n_lists=1: brute-force cosine pairs,
# recursive-CTE components, min-id survivor anti-join.
_SEMANTIC_DEDUP_EXACT_SQL = """
            WITH RECURSIVE v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[])))
                           AS n
                FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM v a JOIN v b ON a.vec_id < b.vec_id
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
            cc AS (
                SELECT node, min(r) AS component FROM reach GROUP BY node
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT node FROM cc
                                 WHERE node <> component)
            ORDER BY vec_id
        """


@query(oracle=_SEMANTIC_DEDUP_EXACT_SQL)
def q_semantic_dedup_exact(spark, sf_dir):
    """SemDeDup (cluster → within-cluster cosine → CC → min-id
    survivor) in its EXACT degenerate configuration: n_lists=1 makes
    the cluster step a no-op, so the pair set is brute force and the
    oracle can replay the whole funnel — pairwise cosine, recursive-CTE
    components, anti-join survivors. Certifies the ALGORITHM; the
    production path (q_semantic_dedup below) only changes n_lists."""
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, threshold=0.35, n_lists=1, iters=0
    )
    return out.select("vec_id", "label").orderBy("vec_id")


# the two-level degenerate replays the same brute-force funnel,
# over the parity-capped corpus (quadratic cert work bounded):
# both the pair-generation CTE and the survivor SELECT restrict
# to the capped set
@query(oracle=_SEMANTIC_DEDUP_EXACT_SQL.replace(
        "FROM embeddings\n            ),",
        "FROM embeddings WHERE vec_id % 2 = 0\n            ),",
    ).replace(
        "WHERE vec_id NOT IN",
        "WHERE vec_id % 2 = 0 AND vec_id NOT IN",
    ))
def q_semantic_dedup_2level(spark, sf_dir):
    """X2/X10 hierarchical (two-level shared-residual-codebook) IVF
    SemDeDup in its EXACT degenerate configuration: n_super=1, n_sub=1
    makes the composite cell global, so the pair set is brute force
    and the SAME funnel oracle as q_semantic_dedup_exact replays it —
    certifying the two-level plumbing end-to-end. The >4096-cell
    production regime only changes n_super/n_sub (scale-probe entry
    semdedup_2level; degenerate-equals-flat pinned by unit test)."""
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup_two_level,
    )

    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 2 == 0  # deterministic cap: the cert needs
        # the FUNNEL exercised, not the full corpus; brute-force pair
        # work is quadratic, so the parity filter quarters it
    )
    out = semantic_dedup_two_level(
        emb, threshold=0.35, n_super=1, n_sub=1, iters=0
    )
    return out.select("vec_id", "label").orderBy("vec_id")


@query(oracle=None)
def q_semantic_dedup(spark, sf_dir):
    """Production SemDeDup shape with the CORPUS-SCALED cluster count
    (n_lists=None → ~256 rows per cluster; a fixed list count made
    per-cluster pair work quadratic — 102× time at 30× data in the
    scale probe), within-list pairs only — approximate by construction
    (cross-cluster dups survive), so rows-only at the driver; the
    algorithm itself is certified by q_semantic_dedup_exact."""
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, threshold=0.35, iters=1)
    return out.select("vec_id", "label").orderBy("vec_id")


# Identical double arithmetic: amax = max|x|, scale = 127/amax,
# code = clamp(floor(x*scale + 0.5), -127, 127). float32→double
# widening is exact, so the codes match bit-for-bit.
@query(oracle="""
            WITH base AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                           x -> abs(CAST(x AS DOUBLE)))) AS amax
                FROM embeddings WHERE vec_id < 50
            ),
            ex AS (
                SELECT vec_id, amax,
                       generate_subscripts(embedding, 1) - 1 AS idx,
                       unnest(embedding) AS x
                FROM base
            )
            SELECT vec_id, CAST(idx AS INT) AS idx,
                   CAST(greatest(-127, least(127,
                        floor(CAST(x AS DOUBLE)
                              * (CASE WHEN amax > 0 THEN 127.0 / amax
                                      ELSE 0.0 END) + 0.5))) AS INT)
                       AS qval,
                   round(amax, 6) AS amax_r
            FROM ex ORDER BY vec_id, idx
        """)
def q_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding corpus,
    certified code-for-code: the oracle replays the identical double
    arithmetic (float32→double widening is exact, so both engines see
    the same inputs). Scalar (vec_id, idx, qval, amax) rows per the
    harness canonicalizer contract."""
    from databricks_flight_etl_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    out = quantize_embeddings(emb, "embedding")
    return out.select(
        "vec_id",
        F.round(F.col("amax"), 6).alias("amax_r"),
        F.posexplode("qvec").alias("idx", "qval"),
    ).select("vec_id", "idx", "qval", "amax_r").orderBy("vec_id", "idx")


@query(oracle=None)
def q_ann_ivf_batch(spark, sf_dir):
    """X2 batched IVF ANN: 4 probes share one pruned corpus pass — each
    probe's nearest n_probe inverted lists ranked engine-side (numpy
    matmul + stable argsort per Arrow batch), exploded + broadcast,
    equi-joined on list_id. Approximate by construction → rows-only;
    a probe's hits are pinned independent of the rest of the batch by
    unit test."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf_batch(emb, probe_ids=[0, 1, 2, 3], k=5)


@query(oracle=None)
def q_ann_lsh_multiprobe(spark, sf_dir):
    """X2 ANN, multi-probe variant (Lv et al. VLDB'07): probe the exact
    LSH bucket plus all buckets ≤1 signature bit away — recall recovery
    without extra hash tables; candidate generation stays a broadcast
    equi-join on the bucket key."""
    from databricks_flight_etl_spark.operators.similarity import (
        ann_topk_lsh_multiprobe,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh_multiprobe(emb, probe_id=0, k=10, dim=64, n_flip=1)


@query(oracle="""
            WITH c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            ),
            p AS (SELECT vec_id AS probe_id, v AS pv, n AS pn
                  FROM c WHERE vec_id IN (0, 1, 2, 3)),
            s AS (
                SELECT p.probe_id, c.vec_id,
                       list_dot_product(c.v, p.pv) / (c.n * p.pn) AS cos
                FROM c, p
            ),
            r AS (
                SELECT probe_id, vec_id,
                       CAST(row_number() OVER (
                           PARTITION BY probe_id
                           ORDER BY cos DESC, vec_id ASC) AS INT) AS rank,
                       round(cos, 6) AS cosine
                FROM s
            )
            SELECT probe_id, vec_id, rank, cosine FROM r WHERE rank <= 5
        """)
def q_cosine_topk_batch(spark, sf_dir):
    """X2 batched retrieval: top-5 neighbors for 4 probes in ONE corpus
    scan (broadcast probes × corpus, per-probe window rank)."""
    from databricks_flight_etl_spark.operators.similarity import cosine_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_batch(emb, probe_ids=[0, 1, 2, 3], k=5)


# same oracle as q_cosine_topk: the pandas path is pinned equal
# to the JVM fold by unit test, and at round(6) the numpy
# pairwise-summation ulp difference is invisible (verified at
# sf0.01 and sf0.1 on the fixed seed=42 corpus)
@query(oracle="""
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """)
def q_cosine_topk_pandas(spark, sf_dir):
    """X2 alternative hot path: cosine top-k with the dot products in an
    Arrow-batched Pandas UDF (numpy matmul). Same answer as the JVM
    fold (pinned by unit test); numpy's pairwise summation order can
    differ from the fold in the last ulp, but round(6) absorbs it —
    certified against the same oracle as q_cosine_topk (verified at
    sf0.001/0.01/0.1)."""
    from databricks_flight_etl_spark.operators.similarity import cosine_topk_pandas

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_pandas(emb, probe_id=0, k=10)


@query(oracle=None)
def q_ann_ivf(spark, sf_dir):
    """X2 IVF ANN: coarse k-means quantizer (deterministic seeds, 2
    Lloyd steps) → probe the 4 nearest of 16 lists → exact re-rank.
    Approximate recall by construction → rows-only. A single probe is
    a batch of one."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf_batch(
        emb, probe_ids=[0], k=10, n_lists=16, n_probe=4, iters=1
    ).select("vec_id", "cosine")


# IVF with n_probe = n_lists degenerates to exact search: the
# index path must reproduce the brute-force top-k verbatim.
@query(oracle="""
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """)
def q_ann_ivf_exhaustive(spark, sf_dir):
    """X2 IVF with EVERY list probed (n_probe = n_lists): the pruning
    becomes a no-op, so the index path must return exactly the
    brute-force top-k — certifying the whole IVF machinery (centroid
    training, assignment, candidate scan, re-rank) against the
    q_cosine_topk oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_ivf_batch(
        emb, probe_ids=[0], k=10, n_lists=16, n_probe=16, iters=1
    ).select("vec_id", "cosine")


# LSH with zero planes degenerates to exact search (one bucket):
# the index path must reproduce the brute-force top-k verbatim.
@query(oracle="""
            WITH p AS (
                SELECT CAST(embedding AS DOUBLE[]) AS pv
                FROM embeddings WHERE vec_id = 0
            ),
            s AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]), pv) AS dot,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS na,
                       sqrt(list_dot_product(pv, pv)) AS nb
                FROM embeddings, p
            )
            SELECT vec_id, round(dot / (na * nb), 6) AS cosine
            FROM s ORDER BY dot / (na * nb) DESC, vec_id ASC LIMIT 10
        """)
def q_ann_lsh_exhaustive(spark, sf_dir):
    """X2 hyperplane-LSH with ZERO planes: every vector lands in one
    bucket, so the index path must reproduce the brute-force top-k —
    certifying the LSH machinery (bucketing, probe-bucket restrict,
    exact re-rank) against the q_cosine_topk oracle."""
    from databricks_flight_etl_spark.operators.similarity import (
        ann_topk_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, probe_id=0, k=10, dim=64, n_planes=0)


@query(oracle="""
            WITH v AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS ve,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.ve, b.ve) / (a.n * b.n), 6) AS cosine
            FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.ve, b.ve) / (a.n * b.n) >= 0.35
        """)
def q_embed_dup(spark, sf_dir):
    """X1/X2 embedding-cosine near-dup: blocked exact pairs — the
    self-join runs within label blocks, so pair count is quadratic only
    in block size. Oracle-certified (both engines fold the dot product
    in identical order → bit-equal cosines)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35, block_col="label")


@query(oracle=None)
def q_embed_dup_lsh(spark, sf_dir):
    """X1/X2 embedding near-dup with self-derived LSH blocks (no label
    needed): approximate by construction → rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35, block_col=None)

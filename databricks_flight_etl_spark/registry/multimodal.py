"""Multimodal registry queries: binary-file sources, image metadata,
decoded features and perceptual-hash near-dups (SURVEY §2.11 X3).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators import multimodal
from databricks_flight_etl_spark.registry._common import query, _t


@query(oracle="""
            SELECT doc_id,
                   CASE WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
                        WHEN substr(text, 1, 3) = 'ID3' THEN 'audio/mpeg'
                        ELSE 'application/octet-stream' END AS media_type,
                   strlen(text) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
        """)
def q_multimodal_meta(spark, sf_dir):
    """X3 multimodal plumbing: text→binary payload, then JVM-side
    metadata (magic-byte media type, byte length, sha256) — the
    decode-free operations that are safe over 100 TB of payloads."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    m = multimodal.attach_binary_metadata(docs, "payload")
    return m.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.content_sha256").alias("sha256"),
    )


@query(oracle="""
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents WHERE doc_id % 25 = 0
        ORDER BY doc_id
    """)
def q_binary_file_source(spark, sf_dir):
    """S-family binary ingestion: a sample of documents is written out
    as raw files (one per doc), read back through Spark's binaryFile
    source (path, modificationTime, length, content), the doc id
    recovered from the file name, and the payload fingerprinted. The
    oracle recomputes length and md5 from the same documents' text —
    certifying the file write → binaryFile scan → content path
    BIT-FOR-BIT (the ingestion shape for 100 TB of image/audio blobs,
    where the real decode runs over `content` exactly like this)."""
    import os
    import tempfile

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
    )
    root = tempfile.mkdtemp(prefix="flight_etl_binsrc_")
    for r in docs.collect():  # bounded: 1-in-25 sample, local files
        with open(os.path.join(root, f"{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    binf = spark.read.format("binaryFile").load(f"{root}/*.bin")
    return binf.select(
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1), r"(\d+)", 1
        ).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    ).orderBy("doc_id")


# Byte-statistics decode kernel: chunk k of L payload bytes is
# {j : j*8 // L == k}; feature = sum*1e6 // (count*255) / 1e6 —
# exact integer arithmetic, so SQL reproduces the Python kernel
# bit-for-bit (documents text is pure ASCII → ord == byte).
# Scalar-shaped (one row per (id, feature_idx)) to match the
# posexplode'd harness query; the generated 0..7 spine with
# coalesce(0.0) mirrors the kernel's empty-chunk zero padding.
@query(oracle="""
            WITH p AS (SELECT doc_id, text, length(text) AS L FROM documents),
            i AS (SELECT doc_id, text, L, unnest(range(0, L)) AS pos FROM p),
            b AS (
                SELECT doc_id,
                       CAST((pos * 8) // L AS INT) AS chunk,
                       ord(substring(text, CAST(pos + 1 AS INT), 1)) AS byte
                FROM i
            ),
            c AS (
                SELECT doc_id, chunk,
                       CAST(sum(byte) * 1000000 // (count(*) * 255) AS BIGINT) AS q
                FROM b GROUP BY 1, 2
            ),
            k AS (
                SELECT doc_id, CAST(unnest(range(0, 8)) AS INT) AS feature_idx
                FROM p
            )
            SELECT k.doc_id AS id, k.feature_idx,
                   coalesce(CAST(c.q AS DOUBLE) / 1000000.0, 0.0) AS value
            FROM k LEFT JOIN c
              ON k.doc_id = c.doc_id AND k.feature_idx = c.chunk
        """)
def q_decode_features(spark, sf_dir):
    """X3 Arrow-batched decode plumbing: mapInPandas feature extraction
    over binary payloads (stub kernel, real batching/schema).

    Harness shape: the library API returns ``features array<double>``,
    but the driver's pandas canonicalizer cannot hash ndarray cells —
    so the HARNESS query posexplodes to scalar rows
    ``(id, feature_idx, value)``. The array-valued API stays in
    ``multimodal.decode_features``."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = multimodal.decode_features(
        docs, "payload", "doc_id", n_features=8, kernel="bytes"
    )
    return feats.select(
        "id", F.posexplode("features").alias("feature_idx", "value")
    )


@query(oracle="""
            WITH p AS (SELECT doc_id, text, length(text) AS L FROM documents),
            i AS (SELECT doc_id, text, L, unnest(range(0, L)) AS pos FROM p),
            b AS (
                SELECT doc_id,
                       CAST((pos * 8) // L AS INT) AS chunk,
                       ord(substring(text, CAST(pos + 1 AS INT), 1)) AS byte
                FROM i
            ),
            c AS (
                SELECT doc_id, chunk,
                       CAST(sum(byte) * 1000000 // (count(*) * 255) AS BIGINT) AS q
                FROM b GROUP BY 1, 2
            ),
            k AS (
                SELECT doc_id, CAST(unnest(range(0, 8)) AS INT) AS feature_idx
                FROM p
            )
            SELECT k.doc_id AS id, k.feature_idx,
                   coalesce(CAST(c.q AS DOUBLE) / 1000000.0, 0.0) AS value
            FROM k LEFT JOIN c
              ON k.doc_id = c.doc_id AND k.feature_idx = c.chunk
        """)
def q_decode_features_arrow(spark, sf_dir):
    """Kept registry name for the retired mapInArrow decode twin: the
    mapInPandas byte-statistics kernel costs the same with identical
    rows, so this is q_decode_features under its second name, checked
    against the SAME oracle."""
    return q_decode_features(spark, sf_dir)


@query(oracle=None)
def q_phash_near_dup(spark, sf_dir):
    """X3 perceptual media dedup (r5 verdict task #5): 64-bit DCT
    pHash per payload via the Arrow kernel (numpy 32×32 area resize →
    DCT-II → top-8×8 median threshold; deterministic byte-plane fake
    decode in this container — the PIL tier swaps in where media libs
    exist), then the signature-agnostic pigeonhole Hamming join for
    radius-8 neighbors. Rows-only by nature (float DCT isn't
    SQL-replayable); the exact md5 kernel stays the certified
    configuration (q_hamming_near_dup)."""
    from databricks_flight_etl_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    ).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    fp = multimodal.media_fingerprint(
        docs, "payload", "doc_id", kernel="phash"
    )
    pairs = hamming_near_dup_pairs(
        fp, "fingerprint", "doc_id", max_hamming=8
    )
    # pairs are emitted once with id_a < id_b — count both directions
    # so n_neighbors is the symmetric degree
    ends = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    ).withColumn("__n", F.lit(1))
    return (
        fp.join(ends, "doc_id", "left")
        .groupBy("doc_id", "fingerprint")
        .agg(
            F.sum(F.coalesce(F.col("__n"), F.lit(0)))
            .cast("long").alias("n_neighbors")
        )
        .orderBy("doc_id")
    )

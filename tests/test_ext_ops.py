"""Extension operators: dedup (exact/MinHash/SimHash/Jaccard),
similarity search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the afternoon sun with great patience "
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),        # near dup of 0
        (3, "completely different text about spark query engines and shuffles"),
        (4, "  THE  quick brown fox jumps over the lazy dog while the cat watches "
            "from a warm windowsill in the afternoon sun with great patience "),
        # 4 = normalized dup of 0 (case/whitespace)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dedup_groups(docs, "text", "doc_id")
    dupg = {r["keep_id"]: r["n"] for r in groups.where("n > 1").collect()}
    assert dupg == {0: 2}  # 0 and 1 (whitespace-run differences are not md5-equal)
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs, "text", "doc_id").collect())
    assert kept == [0, 2, 3, 4]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("ab",), ("abcdef",)], "t string")
    rows = df.select(dedup.char_shingles("t", 5).alias("sh")).collect()
    assert rows[0]["sh"] == ["ab"]
    assert rows[1]["sh"] == ["abcde", "bcdef"]


def test_minhash_near_dup(spark, docs):
    # bands sized to the threshold: at rows=4 the band-collision
    # 50%-point is j ~= 0.54 (matching threshold=0.6); the default
    # bands=4/rows=8 targets j ~= 0.71 and misses 0.6-ish dups with
    # ~17% probability per seed family
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.6, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # 0,1,4 mutually identical after normalization; 2 is a near dup
    assert {(0, 1), (0, 4), (1, 4)} <= got
    assert (0, 2) in got or (1, 2) in got
    assert all(3 not in p for p in got)


def test_jaccard_verify_strategies_identical(spark):
    """The verify's two input routes — the shared staged arrays
    (minhash_dedup_pairs) and its own candidate-only shingling
    (minhash_probe's route) — must return IDENTICAL (id_a, id_b,
    jaccard) rows on a corpus with exact dups, near dups, and
    non-dups."""
    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        (0, base),
        (1, base),                                   # exact dup
        (2, base.replace("lazy", "sleepy")),         # near dup
        (3, "completely different text about spark physical plans "
            "and shuffle exchanges, long enough to shingle " * 3),
        (4, base[:-30]),                             # truncated near dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, dedup.minhash_dedup_pairs(
        df, "text", "doc_id", threshold=0.5, bands=8, shingle_k=7,
    ).collect()))
    assert len(a) >= 3 and all(3 not in p[:2] for p in a)
    assert (0, 1, 1.0) in a
    cands = dedup.minhash_candidate_pairs(
        df, "text", "doc_id", bands=8, shingle_k=7,
    )
    b = sorted(map(tuple, dedup._jaccard_verified(
        df, "text", "doc_id", cands, 0.5, 7,
    ).collect()))
    assert a == b


def test_simhash_near_dup(spark, docs):
    pairs = dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0 and got[(0, 4)] == 0
    assert all(3 not in k for k in got)


def test_ngram_jaccard(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got and got[(0, 2)] > 0.5
    assert all(3 not in k for k in got)


def test_connected_components_and_survivors(spark, monkeypatch):
    from databricks_flight_etl_spark.operators import graph

    # components: {1,2,3,4} (a chain — needs >1 propagation round),
    # {10,11}, isolated pair member 20-21; node 99 in no pair
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    cc = {r["node"]: r["component"]
          for r in graph.connected_components(pairs).collect()}
    assert cc == want  # driver union-find fast path
    with monkeypatch.context() as m:
        m.setattr(graph, "_DRIVER_MAX_EDGES", 0)
        cc_dist = {r["node"]: r["component"]
                   for r in graph.connected_components(pairs).collect()}
    assert cc_dist == want  # distributed star contraction

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 10, 11, 20, 21, 99)],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in graph.dedup_survivors(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 10, 20, 99]  # one per cluster + the unpaired row


def test_connected_components_unconverged_raises(spark, monkeypatch):
    from databricks_flight_etl_spark.operators import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "_STAR_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="converge"):
        graph.connected_components(chain)


def test_connected_components_deep_chain(spark, monkeypatch):
    """A 100-edge chain above the driver bound: every node lands in
    component 0 (an O(diameter)-round label propagation would need
    ~100 rounds here)."""
    from databricks_flight_etl_spark.operators import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a long, id_b long"
    )
    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    got = {(r["node"], r["component"])
           for r in graph.connected_components(chain).collect()}
    assert got == {(i, 0) for i in range(101)}


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to probe
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
        (4, [0.8, 0.2, 0.1]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(spark, vectors):
    top = similarity.cosine_topk(vectors, probe_id=0, k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 4]
    assert top[0]["cosine"] == 1.0
    assert top[1]["cosine"] > 0.98


def test_ann_lsh_contains_probe_bucket(spark, vectors):
    top = similarity.ann_topk_lsh(
        vectors, probe_id=0, k=3, dim=3, n_planes=4
    ).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0          # probe matches itself
    assert 3 not in ids         # opposite vector lands in another bucket


def test_ann_lsh_multiprobe_superset(spark, vectors):
    single = similarity.ann_topk_lsh(
        vectors, probe_id=0, k=5, dim=3, n_planes=4
    ).collect()
    multi = similarity.ann_topk_lsh_multiprobe(
        vectors, probe_id=0, k=5, dim=3, n_planes=4, n_flip=1
    ).collect()
    # probing Hamming-adjacent buckets can only ADD candidates, so the
    # single-probe hits are a subset of the multi-probe hits
    assert {r["vec_id"] for r in single} <= {r["vec_id"] for r in multi}
    assert multi[0]["vec_id"] == 0
    # flipping ALL planes reaches every bucket → equals brute force
    brute = similarity.cosine_topk(vectors, probe_id=0, k=5).collect()
    full = similarity.ann_topk_lsh_multiprobe(
        vectors, probe_id=0, k=5, dim=3, n_planes=4, n_flip=4
    ).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


def test_token_ops(spark, docs):
    top = text.token_top_k(docs, "text", k=3).collect()
    assert top[0]["token"] == "the"
    quality = {r["doc_id"]: r for r in
               text.text_quality(docs, "text", "doc_id").collect()}
    assert quality[3]["n_tokens"] == 9
    assert 0 < quality[0]["stopword_ratio"] < 1
    fp = {r["doc_id"]: r["fp"] for r in
          text.fingerprint(docs, "text", "doc_id").collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]
    assert len(fp[0]) == 16


def test_lang_id_precedence(spark):
    rows = [
        (0, "the cat is on the mat and it is warm"),
        (1, "el gato es de la casa y los perros"),
        (2, "der hund ist von der stadt und das haus"),
        (3, "le chat est dans les maisons et une porte"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_guess"]
           for r in text.lang_id(df, "text", "doc_id").collect()}
    assert got == {0: "en", 1: "es", 2: "de", 3: "fr"}


def test_multimodal_plumbing(spark):
    png_magic = b"\x89PNG\r\n\x1a\n" + b"fakepixels" * 50
    jpg_magic = b"\xff\xd8\xff\xe0" + b"other" * 40
    df = spark.createDataFrame(
        [(0, bytearray(png_magic)), (1, bytearray(jpg_magic))],
        "id long, payload binary",
    )
    meta = multimodal.attach_binary_metadata(df, "payload")
    got = {r["id"]: r["media_meta"] for r in meta.collect()}
    assert got[0]["media_type"] == "image/png"
    assert got[1]["media_type"] == "image/jpeg"
    assert got[0]["n_bytes"] == len(png_magic)

    feats = multimodal.decode_features(df, "payload", "id", n_features=4)
    rows = {r["id"]: r["features"] for r in feats.collect()}
    assert len(rows[0]) == 4 and rows[0] != rows[1]
    # deterministic stub: same input → same features
    rows2 = {r["id"]: r["features"] for r in
             multimodal.decode_features(df, "payload", "id", n_features=4).collect()}
    assert rows == rows2

    frames = multimodal.sample_frames(df, "payload", "id", every_n_bytes=64)
    per_id = frames.groupBy("id").count().collect()
    assert all(r["count"] >= 1 for r in per_id)


def test_cosine_near_dup_pairs(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0], "a"),
        (1, [0.99, 0.1, 0.0], "a"),   # near dup of 0 (same block)
        (2, [0.0, 1.0, 0.0], "a"),    # orthogonal
        (3, [1.0, 0.0, 0.0], "b"),    # identical to 0 but different block
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label string")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_near_dup_pairs(
            df, threshold=0.9, block_col="label"
        ).collect()
    }
    assert set(got) == {(0, 1)}          # blocking hides (0,3); (0,2) below threshold
    assert got[(0, 1)] > 0.99

    # self-derived LSH blocks: identical vectors always share a bucket
    got_lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_dup_pairs(
            df.drop("label"), threshold=0.9, block_col=None
        ).collect()
    }
    assert (0, 3) in got_lsh


def test_cosine_near_dup_pairs_salted_identical(spark):
    """salt>1 splits a block's pair work across reducers but must
    emit exactly the same (id_a, id_b, cosine) multiset — every pair
    meets once (A keeps its own salt, B replicates to all salts) and
    per-pair arithmetic is untouched. Pins the n_lists=1 cert-config
    parallelization against dropped/duplicated pairs."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)], i % 2)
        for i in range(120)
    ]
    # plant near-dups inside both blocks
    rows += [(1000 + i, rows[i][1], rows[i][2]) for i in range(6)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, blk int"
    )
    base = sorted(
        tuple(r) for r in similarity.cosine_near_dup_pairs(
            df, threshold=0.5, block_col="blk"
        ).collect()
    )
    salted = sorted(
        tuple(r) for r in similarity.cosine_near_dup_pairs(
            df, threshold=0.5, block_col="blk", salt=7
        ).collect()
    )
    assert salted == base and len(base) >= 6


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([(0, "don't stop v2.0!")], "id long, text string")
    toks = df.select(text.bpe_ish_tokens("text").alias("t")).first()["t"]
    assert toks == ["don", "'", "t", "stop", "v", "2", ".", "0", "!"]
    counts = text.token_counts(df, "text", "id").first()
    assert counts["n_ws_tokens"] == 3 and counts["n_bpe_tokens"] == 9


def test_winnow_shared_run_guarantee(spark):
    # docs share a 40-char run >> k+window-1 = 11 → must share a fingerprint
    shared = "this exact sentence appears in both docs"
    rows = [
        (0, "prefix one " + shared + " suffix alpha"),
        (1, "totally different lead-in " + shared + " and another tail"),
        (2, "nothing in common with the others at all, not one bit"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = text.winnow_fingerprints(df, "text", "doc_id", k=8, window=4)
    by_doc = {
        i: {r["fp"] for r in fps.where(F.col("doc_id") == i).collect()}
        for i in (0, 1, 2)
    }
    assert by_doc[0] & by_doc[1], "shared run must produce shared fingerprints"
    assert not (by_doc[0] & by_doc[2] and by_doc[1] & by_doc[2])


def test_winnow_fingerprint_cap(spark):
    """r4 verdict task #4: max_fingerprints bounds per-doc output hard
    (O(docs*cap) downstream joins), the cap keeps the SMALLEST selected
    hashes (min-wise bottom-k — near-identical docs keep near-identical
    capped sets, so shared runs still collide), and cap=None is
    unchanged from the certified uncapped behavior."""
    shared = "this exact sentence appears in both documents verbatim"
    rows = [
        (0, "prefix one " + shared + " and a long unique suffix " * 8),
        (1, "other lead " + shared + " with its own distinct tail " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = text.winnow_fingerprints(df, "text", "doc_id", k=8, window=4)
    capped = text.winnow_fingerprints(
        df, "text", "doc_id", k=8, window=4, max_fingerprints=10
    )
    full_by = {
        i: {r["fp"] for r in full.where(F.col("doc_id") == i).collect()}
        for i in (0, 1)
    }
    cap_by = {
        i: {r["fp"] for r in capped.where(F.col("doc_id") == i).collect()}
        for i in (0, 1)
    }
    for i in (0, 1):
        assert len(full_by[i]) > 10  # cap is actually binding here
        # bottom-k of the uncapped set, exactly
        assert cap_by[i] == set(sorted(full_by[i])[:10])
    # min-wise property: the docs still collide under the cap
    assert cap_by[0] & cap_by[1]
    import pytest

    with pytest.raises(ValueError, match="max_fingerprints"):
        text.winnow_fingerprints(
            df, "text", "doc_id", max_fingerprints=0
        )


def test_ivf_ann_clustered(spark):
    # three tight, well-separated clusters: with n_lists=3 and n_probe=1
    # the probe's own cluster is recovered exactly
    import itertools
    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for cid, (dx, dy, dz) in itertools.product(
        base, [(0.1, 0, 0), (0, 0.1, 0), (0, 0, 0.1), (0.1, 0.1, 0)]
    ):
        b = base[cid]
        rows.append(
            (len(rows), [b[0] + dx, b[1] + dy, b[2] + dz], cid)
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = similarity.ann_topk_ivf_batch(
        df, probe_ids=[0], k=4, n_lists=3, n_probe=1, iters=2
    ).collect()
    cluster0 = {r[0] for r in rows if r[2] == 0}
    assert {r["vec_id"] for r in got} == cluster0
    assert all(r["cosine"] > 0.99 for r in got)


def test_ivf_assign_partition_column(spark):
    rows = [(i, [float(i % 2) * 10 + 1, float(1 - i % 2) * 10 + 1]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(df, n_lists=2, iters=2)
    assigned = similarity.ivf_assign(df, cents)
    got = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    evens = {got[i] for i in range(0, 8, 2)}
    odds = {got[i] for i in range(1, 8, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds


def test_cosine_topk_pandas_matches_builtin(spark, vectors):
    jvm = similarity.cosine_topk(vectors, probe_id=0, k=3).collect()
    py = similarity.cosine_topk_pandas(vectors, probe_id=0, k=3).collect()
    assert [(r["vec_id"], r["cosine"]) for r in jvm] == \
        [(r["vec_id"], r["cosine"]) for r in py]


def test_resize_media_plumbing(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"x" * 10000)), (1, bytearray(b"y" * 10)), (2, None)],
        "id long, payload binary",
    )
    out = {r["id"]: r for r in
           multimodal.resize_media(df, "payload", "id", 8, 8).collect()}
    assert all(len(out[i]["resized"]) == 64 for i in (0, 1, 2))
    assert out[0]["width"] == 8 and out[0]["height"] == 8
    assert out[1]["resized"].startswith(b"y" * 10)   # short payload padded
    assert out[2]["resized"] == b"\x00" * 64         # null-safe


def test_ivf_index_partition_pruned(spark, tmp_path):
    """The stored-ANN-index pattern: assign IVF lists, write partitioned
    by list_id, and a probe query's list filter prunes directories."""
    from databricks_flight_etl_spark import plans, sources

    rows = [(i, [float(i % 4) * 5 + 1, float((i + 1) % 4) * 5 + 1])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(df, n_lists=4, iters=1)
    assigned = similarity.ivf_assign(df, cents)
    out = str(tmp_path / "ivf_index")
    sources.write_partitioned(assigned, out, ["list_id"])

    probe = spark.read.parquet(out).filter("list_id = 1")
    p = plans.explain_str(probe)
    assert any("PartitionFilters" in line and "list_id" in line
               for line in p.splitlines()), p
    assert probe.count() > 0


def test_split_sentences_udtf(spark):
    df = spark.createDataFrame(
        [(0, "hi there. bye. "), (1, "no periods"), (2, None)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["idx"], r["sentence"])
        for r in text.split_sentences(df, "text", "doc_id").collect()
    )
    assert got == [(0, 0, "hi there"), (0, 1, "bye"), (1, 0, "no periods")]


def test_chunk_documents_windows(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, words), (1, "short doc")], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in text.chunk_documents(
            df, "text", "doc_id", chunk_tokens=4, overlap=2
        ).collect()
    }
    # doc 0: 10 tokens, stride 2 → ceil((10-2)/2)=4 windows
    assert out[(0, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(0, 1)] == ("w2 w3 w4 w5", 4)
    assert out[(0, 3)] == ("w6 w7 w8 w9", 4)
    assert (0, 4) not in out
    # short doc: single (partial) chunk
    assert out[(1, 0)] == ("short doc", 2)
    # every token covered
    covered = set()
    for (d, _), (txt, _) in out.items():
        if d == 0:
            covered |= set(txt.split())
    assert covered == {f"w{i}" for i in range(10)}

    import pytest
    with pytest.raises(ValueError, match="overlap"):
        text.chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=4)


def test_tf_idf_values(spark):
    import math
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    got = {(r["doc_id"], r["token"]): (r["tf"], r["df"], r["tfidf"])
           for r in text.tf_idf(df, "text", "doc_id").collect()}
    assert got[(0, "a")] == (2, 2, 0.0)            # in every doc → idf 0
    assert got[(0, "b")][0] == 1
    assert got[(0, "b")][2] == round(math.log(2.0), 6)
    assert got[(1, "c")][2] == round(math.log(2.0), 6)


def test_textprep_pipeline(spark):
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    rows = [
        (0, BASE),                               # survivor of the dup cluster
        (1, BASE),                               # exact dup of 0 → dropped
        (2, BASE.replace("lazy", "sleepy")),     # near dup of 0 → dropped
        (3, "too short"),                        # fails min_tokens
        (4, "el la de y en es los por con del el la de y en es los por "
            "con del el la de y en es"),         # spanish → dropped by lang
        (5, "a genuinely different english document about the design of "
            "distributed query engines and the cost of a shuffle in the "
            "presence of skewed keys and the benefits of broadcast joins"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = run_textprep_pipeline(
        docs, min_tokens=5, near_dup_threshold=0.6, shingle_k=5,
        chunk_tokens=8, overlap=2,
    )
    assert {r["doc_id"] for r in rep.quality_kept.select("doc_id").collect()} \
        == {0, 1, 2, 4, 5}
    assert {r["doc_id"] for r in rep.lang_kept.select("doc_id").collect()} \
        == {0, 1, 2, 5}
    assert {r["doc_id"] for r in rep.exact_unique.select("doc_id").collect()} \
        == {0, 2, 5}
    assert {r["doc_id"] for r in rep.survivors.select("doc_id").collect()} \
        == {0, 5}
    chunks = rep.chunks.collect()
    assert {r["doc_id"] for r in chunks} == {0, 5}
    # stride = chunk_tokens - overlap = 6; every token covered, in order
    doc0 = sorted(
        (r for r in chunks if r["doc_id"] == 0), key=lambda r: r["chunk_idx"]
    )
    assert doc0[0]["chunk_text"].startswith("the quick brown fox")
    assert all(r["n_chunk_tokens"] <= 8 for r in doc0)


def test_ann_ivf_batch_matches_single(spark):
    """A probe's hits do not depend on the other probes in the batch:
    batch [3, 17] equals the batches of one [3] and [17]."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=5, n_lists=4, n_probe=2, iters=1)

    def hits(probe_ids):
        got = similarity.ann_topk_ivf_batch(df, probe_ids, **kw).collect()
        return sorted(
            (r["probe_id"], r["rank"], r["vec_id"], r["cosine"]) for r in got
        )

    batch = hits([3, 17])
    # same centroids (deterministic seeding) → identical hit lists
    assert batch == hits([3]) + hits([17])
    assert len(batch) == 10


def test_deterministic_sample(spark):
    from databricks_flight_etl_spark.operators import sampling

    df = spark.range(5000).selectExpr("id AS k")
    half = sampling.deterministic_sample(df, "k", 0.5)
    n = half.count()
    assert abs(n / 5000 - 0.5) < 0.03
    # rerun-stable: same rows both times
    again = {r["k"] for r in sampling.deterministic_sample(df, "k", 0.5).collect()}
    assert {r["k"] for r in half.collect()} == again
    # nested property: a smaller fraction is a SUBSET of a larger one
    fifth = {r["k"] for r in sampling.deterministic_sample(df, "k", 0.2).collect()}
    assert fifth <= again
    # independent draw under a different salt
    other = {r["k"] for r in
             sampling.deterministic_sample(df, "k", 0.5, salt="v2").collect()}
    assert other != again
    # boundary fractions
    assert sampling.deterministic_sample(df, "k", 0.0).count() == 0
    assert sampling.deterministic_sample(df, "k", 1.0).count() == 5000


def test_stratified_sample(spark):
    from databricks_flight_etl_spark.operators import sampling

    df = spark.range(6000).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 0 THEN 'wiki' WHEN id % 3 = 1 "
        "THEN 'crawl' ELSE 'code' END AS src"
    )
    out = sampling.stratified_sample(
        df, "src", "k", {"wiki": 1.0, "crawl": 0.1}
    )
    rates = {r["src"]: r["n"] for r in
             out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert rates["wiki"] == 2000                  # keep all
    assert abs(rates.get("crawl", 0) / 2000 - 0.1) < 0.03
    assert "code" not in rates                    # default 0.0 drops


def test_ivf_assign_matches_brute_force(spark):
    """The Arrow assignment gives the argmax-cosine centroid, lower
    index on ties; the reference is a plain-Python brute force."""
    import math
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(df, n_lists=5, iters=1)
    out = similarity.ivf_assign(df, cents).collect()
    got = {r["vec_id"]: r["list_id"] for r in out}

    def nearest(v):
        nv = math.sqrt(sum(x * x for x in v))
        cos = [
            sum(a * b for a, b in zip(v, c))
            / (nv * math.sqrt(sum(x * x for x in c)))
            for c in cents
        ]
        return cos.index(max(cos))

    # the float32 values as stored, widened exactly to double
    want = {r["vec_id"]: nearest([float(x) for x in r["embedding"]])
            for r in out}
    assert got == want
    assert len(set(want.values())) > 1


def test_pii_redact(spark):
    from databricks_flight_etl_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail a.b@x.io and c@y.co.uk, ip 10.0.0.1, tel 555-123-4567"),
            (2, "clean text only"),
            (3, "v2.0 is not 1.2.3.4.5 pii but 1.2.3.4 is"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df, "text", "doc_id").collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["n_ips"] == 1
    assert out[1]["n_phones"] == 1
    assert out[1]["clean"] == "mail [EMAIL] and [EMAIL], ip [IP], tel [PHONE]"
    assert out[2]["clean"] == "clean text only"
    assert out[2]["n_emails"] == out[2]["n_ips"] == out[2]["n_phones"] == 0
    # 1.2.3.4.5 contains a \b-delimited 1.2.3.4 prefix match — documented
    # RE2/Java-regex behavior, identical in both engines
    assert out[3]["n_ips"] == 2


def test_quality_signals(spark):
    from databricks_flight_etl_spark.operators.text import quality_signals

    df = spark.createDataFrame(
        [(1, "the cat the cat ATE 99 fish!!")], "doc_id long, text string"
    )
    r = quality_signals(df, "text", "doc_id").collect()[0]
    assert r["n_words"] == 7
    assert r["n_chars"] == 29
    assert r["has_stopword"] is True          # 'the' twice
    assert abs(r["dup_word_ratio"] - (1 - 5 / 7)) < 1e-6
    assert abs(r["digit_ratio"] - 2 / 29) < 1e-6
    assert abs(r["upper_ratio"] - 3 / 29) < 1e-6
    assert abs(r["symbol_ratio"] - 2 / 29) < 1e-6   # the two '!'


def test_contamination_overlap(spark):
    from databricks_flight_etl_spark.operators.text import (
        contamination_overlap,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # contains the probe verbatim
            (2, "x y z w v u t s"),          # disjoint
            (3, "c d e f g q r s"),          # partial overlap
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "b c d e f g")], "probe_id long, probe_text string"
    )
    out = {
        r["doc_id"]: r
        for r in contamination_overlap(
            docs, probes, "text", "doc_id", n=5, min_overlap=1
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1]["n_overlap"] == 2           # both 5-grams of the probe
    assert out[1]["probe_ngrams"] == 2
    assert abs(out[1]["overlap_ratio"] - 1.0) < 1e-9
    assert out[3]["n_overlap"] == 1           # 'c d e f g' only


def test_pii_redact_idempotent_and_bounded(spark):
    """Property: redacting already-redacted text changes nothing, and
    clean output never contains a raw PII match."""
    import random

    from databricks_flight_etl_spark.operators.text import pii_redact

    rng = random.Random(7)
    frag = ["hello", "a@b.io", "10.0.0.1", "x", "+491711234567",
            "555-123-4567", "v1.2", "end."]
    rows = [
        (i, " ".join(rng.choice(frag) for _ in range(rng.randint(1, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = pii_redact(df, "text", "doc_id")
    again = pii_redact(
        once.select(F.col("doc_id"), F.col("clean").alias("text")),
        "text", "doc_id",
    )
    resid = again.where(
        (F.col("n_emails") > 0) | (F.col("n_ips") > 0) | (F.col("n_phones") > 0)
    ).count()
    assert resid == 0
    pairs = once.alias("a").join(
        again.alias("b"), "doc_id"
    ).where(F.col("a.clean") != F.col("b.clean")).count()
    assert pairs == 0


def test_quality_signals_bounded(spark):
    """Property: every ratio lands in [0, 1] over seeded random ASCII."""
    import random

    from databricks_flight_etl_spark.operators.text import quality_signals

    rng = random.Random(13)
    chars = "abcXYZ019 .!?-"
    rows = [
        (i, "".join(rng.choice(chars) for _ in range(rng.randint(5, 80))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_signals(df, "text", "doc_id")
    bad = out.where(
        (F.col("symbol_ratio") < 0) | (F.col("symbol_ratio") > 1)
        | (F.col("digit_ratio") < 0) | (F.col("digit_ratio") > 1)
        | (F.col("upper_ratio") < 0) | (F.col("upper_ratio") > 1)
        | (F.col("dup_word_ratio") < 0) | (F.col("dup_word_ratio") > 1)
    ).count()
    assert bad == 0
    assert out.count() == 80


def test_contamination_identical_doc_full_overlap(spark):
    """Property: a document probed against itself overlaps 100%."""
    from databricks_flight_etl_spark.operators.text import (
        contamination_overlap,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    probes = docs.select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
    )
    r = contamination_overlap(
        docs, probes, "text", "doc_id", n=5, min_overlap=1
    ).collect()[0]
    assert r["n_overlap"] == r["probe_ngrams"] == 6
    assert abs(r["overlap_ratio"] - 1.0) < 1e-9


def test_dedup_survivors(spark):
    from databricks_flight_etl_spark.operators.graph import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    )
    # clusters {1,2,5} and {3,7}; 0,4,6 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (3, 7)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors(docs, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 3, 4, 6]


def test_pack_by_token_budget(spark):
    from databricks_flight_etl_spark.operators.sampling import (
        pack_by_token_budget,
    )

    df = spark.createDataFrame(
        [(i, 10) for i in range(100)], "doc_id long, n_tokens int"
    )
    out = pack_by_token_budget(df, "doc_id", "n_tokens", budget=100,
                               n_buckets=7)
    rows = {r["doc_id"]: r for r in out.collect()}
    # 10 docs of 10 tokens per 100-token shard, in doc_id order
    assert rows[0]["shard"] == 0 and rows[9]["shard"] == 0
    assert rows[10]["shard"] == 1
    assert rows[99]["shard"] == 9
    assert rows[99]["cum_tokens"] == 1000
    # empty input → empty output with the contract schema
    empty = pack_by_token_budget(
        df.limit(0), "doc_id", "n_tokens", budget=100
    )
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "n_tokens", "cum_tokens", "shard"]


def test_connected_components_star_matches_union_find(spark, monkeypatch):
    """Star contraction (driver bound patched to 0) and the driver
    union-find must agree on every shape, including the deep chain."""
    import random

    from databricks_flight_etl_spark.operators import graph

    cases = []
    # long chain 0-1-2-...-30 (worst case for label-propagation depth)
    cases.append([(i, i + 1) for i in range(30)])
    # two cliques + an isolate-free random graph, seeded
    rng = random.Random(3)
    cases.append(
        [(a, b) for a in range(40, 46) for b in range(a + 1, 46)]
        + [(rng.randint(100, 140), rng.randint(100, 140)) for _ in range(60)]
    )
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        uf = {
            (r["node"], r["component"])
            for r in graph.connected_components(e).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(graph, "_DRIVER_MAX_EDGES", 0)
            st = {
                (r["node"], r["component"])
                for r in graph.connected_components(e).collect()
            }
        assert st == uf


def test_corpus_release_composition(spark):
    """Release artifact invariants: survivors only, PII-free clean
    text, shard boundaries respect the budget order."""
    from databricks_flight_etl_spark.pipeline import run_corpus_release

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a hat for the rat "
                "mail me a.b@x.io today"),
            (2, "the cat sat on the mat with a hat for the rat "
                "mail me a.b@x.io today"),          # exact dup of 1
            (3, "el la de y en es los por con del " * 3),   # non-en
            (4, "the quick brown fox is on the hill of the dawn and "
                "it is with the wind in a way"),
        ],
        "doc_id long, text string",
    )
    rel = run_corpus_release(
        docs, min_tokens=5, near_dup=False, budget=20
    )
    rows = {r["doc_id"]: r for r in rel.released.collect()}
    assert set(rows) == {1, 4}            # dup 2 dropped, non-en 3 dropped
    assert "[EMAIL]" in rows[1]["clean"] and "@" not in rows[1]["clean"]
    assert rows[1]["shard"] == 0
    # doc 4 starts after doc 1's tokens → next shard at budget=20
    assert rows[4]["cum_tokens"] == rows[1]["n_tokens"] + rows[4]["n_tokens"]
    assert rows[4]["shard"] == rows[1]["n_tokens"] // 20


def test_dedup_repeated_spans(spark):
    from databricks_flight_etl_spark.operators.text import (
        dedup_repeated_spans,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),   # first span duplicates doc 1's
            (3, "a b c d e f"),   # fully duplicated
            (4, ""),              # empty doc: zero spans, still present
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup_repeated_spans(df, "text", "doc_id", span_words=3).collect()}
    assert out[1]["clean"] == "a b c d e f" and out[1]["n_kept"] == 2
    assert out[2]["clean"] == "x y z" and out[2]["n_kept"] == 1
    assert out[3]["clean"] == "" and out[3]["n_kept"] == 0
    assert out[3]["n_spans"] == 2
    assert 4 not in out or out[4]["n_spans"] == 0


def test_cms_sketch_properties(spark):
    """CMS invariants: estimates never undercount, exact at ample
    width, merge equals a single-pass build."""
    from databricks_flight_etl_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    words = ["alpha"] * 50 + ["beta"] * 9 + ["gamma"] * 2
    df = spark.createDataFrame([(w, i) for i, w in enumerate(words)],
                               "w string, i long")
    sk = cms_build(df, "w", width=512, depth=4)
    est = {r["term"]: r["est"] for r in
           cms_estimate(sk, ["alpha", "beta", "gamma", "absent"],
                        width=512, depth=4).collect()}
    assert est == {"alpha": 50, "beta": 9, "gamma": 2, "absent": 0}
    # merge(two halves) == build(whole)
    a = cms_build(df.where("i < 30"), "w", width=512, depth=4)
    b = cms_build(df.where("i >= 30"), "w", width=512, depth=4)
    merged = {r["term"]: r["est"] for r in
              cms_estimate(cms_merge(a, b), ["alpha", "beta"],
                           width=512, depth=4).collect()}
    assert merged == {"alpha": 50, "beta": 9}
    # grid is bounded: never more than depth*width cells
    assert sk.count() <= 4 * 512


def test_minhash_hash_families_agree_on_verified_pairs(spark):
    """Candidate generation differs per hash family, but the VERIFIED
    pair set at a given threshold must contain the planted clones in
    both; and verified pairs always carry true Jaccard >= threshold."""
    from databricks_flight_etl_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    base = [(i, f"the quick document number {i} talks about spark "
                f"and data processing at scale item {i}")
            for i in range(40)]
    # near-identical clones (one char appended): J ~ 0.99, so every
    # band agrees with near-certainty and the recall assert is stable
    clones = [(100 + i, t + ".") for i, t in
              [(i, base[i][1]) for i in range(0, 40, 10)]]
    df = spark.createDataFrame(base + clones, "doc_id long, text string")
    planted = {(i, 100 + i) for i in range(0, 40, 10)}
    for fam in ("xxhash64", "md5"):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_dedup_pairs(
                df, "text", "doc_id", threshold=0.8, shingle_k=7,
                hash_family=fam,
            ).collect()
        }
        assert planted <= set(got), (fam, planted - set(got))
        assert all(j >= 0.8 for j in got.values())


def test_contamination_overlap_short_docs_and_probes(spark):
    """Docs/probes shorter than n must yield ZERO n-grams, not crash:
    sequence(1, 0) auto-steps down to [1, 0] and slice(toks, 0, n)
    throws INVALID_PARAMETER_VALUE.START without the k >= 1 guard."""
    from databricks_flight_etl_spark.operators.text import (
        contamination_overlap,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e f g h"), (3, ""), (4, "b c d e")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "b c d e f g"), (101, "x y")],
        "probe_id long, probe_text string",
    )
    out = contamination_overlap(
        docs, probes, "text", "doc_id", n=5, min_overlap=1
    ).collect()
    # only the one long doc can overlap; the short probe contributes
    # nothing (matches the oracle's range(1, 1) = empty semantics)
    assert {(r["doc_id"], r["probe_id"]) for r in out} == {(2, 100)}


def test_dedup_repeated_spans_64bit_ids(spark):
    """Survivor = lexicographic min (doc, position): the old arithmetic
    key id*1e6+idx overflowed for ids above ~9.2e12."""
    from databricks_flight_etl_spark.operators.text import (
        dedup_repeated_spans,
    )

    big = 2 ** 62
    df = spark.createDataFrame(
        [(big + 5, "a b c d e f"), (big + 1, "a b c x y z")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup_repeated_spans(df, "text", "doc_id",
                                span_words=3).collect()}
    # smallest (doc, position) owns the shared 'a b c' span
    assert out[big + 1]["clean"] == "a b c x y z"
    assert out[big + 5]["clean"] == "d e f"
    assert out[big + 5]["n_kept"] == 1


def test_pack_by_token_budget_full_range_ids(spark):
    """xxhash64-style ids spanning almost the full signed-64 range:
    the old proportional bucket math ((id-lo)*n_buckets) wrapped
    silently and scrambled shard assignment."""
    from databricks_flight_etl_spark.operators.sampling import (
        pack_by_token_budget,
    )

    ids = [-(2 ** 62) - 3, -17, 0, 2 ** 61, 2 ** 62 + 9]
    df = spark.createDataFrame(
        [(i, 10) for i in ids], "doc_id long, n_tokens int"
    )
    out = sorted(
        pack_by_token_budget(df, "doc_id", "n_tokens", budget=20,
                             n_buckets=8).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["cum_tokens"] for r in out] == [10, 20, 30, 40, 50]
    assert [r["shard"] for r in out] == [0, 0, 1, 1, 2]


def test_connected_components_star_ansi_mode(spark, monkeypatch):
    """The convergence signature must not rely on non-ANSI long
    wraparound (sum(xxhash64) throws ARITHMETIC_OVERFLOW under ANSI)."""
    from databricks_flight_etl_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "id_a long, id_b long"
        )
        out = {
            (r["node"], r["component"])
            for r in graph.connected_components(e).collect()
        }
        assert out == {(i, 0) for i in range(21)}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_dedup_survivors_broadcast_gated(spark):
    """Result must be identical with the broadcast hint disabled (gate
    at 0 rows) — the hint is a plan choice, never a semantics choice."""
    from databricks_flight_etl_spark.operators.graph import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (3, 7)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors(docs, pairs, "doc_id",
                                 broadcast_max_rows=0).collect()
    )
    assert kept == [0, 1, 3, 4, 6]


def test_decode_features_kernel_selection(spark):
    """kernel='bytes' always works; kernel='pil' either decodes real
    pixels (PIL installed) or raises a clear ImportError (not here);
    'auto' never crashes either way."""
    import pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh" * 4))], "id long, payload binary"
    )
    by = multimodal.decode_features(
        df, "payload", "id", n_features=4, kernel="bytes"
    ).collect()
    assert len(by) == 1 and len(by[0]["features"]) == 4
    auto = multimodal.decode_features(
        df, "payload", "id", n_features=4, kernel="auto"
    ).collect()
    assert len(auto) == 1 and len(auto[0]["features"]) == 4
    if multimodal.HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (8, 8), color=128).save(buf, format="PNG")
        img = spark.createDataFrame(
            [(2, bytearray(buf.getvalue()))], "id long, payload binary"
        )
        px = multimodal.decode_features(
            img, "payload", "id", n_features=4, kernel="pil"
        ).collect()
        assert all(abs(v - 128 / 255) < 1e-6 for v in px[0]["features"])
    else:
        with pytest.raises(ImportError, match="pil"):
            multimodal.decode_features(
                df, "payload", "id", n_features=4, kernel="pil"
            )


def test_hll_properties(spark):
    """HLL invariants: estimate within the 1.04/sqrt(m) error band,
    merge(two halves) == build(whole) register-for-register, register
    table bounded by 2^p rows, nulls skipped."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    n = 5000
    df = spark.range(n).select(
        F.concat(F.lit("item-"), F.col("id")).alias("v"), F.col("id")
    )
    p = 11  # m = 2048, expected rel err ~ 1.04/sqrt(2048) ~ 2.3%
    sk = hll_build(df, "v", p=p)
    assert sk.count() <= 2 ** p
    est = hll_estimate(sk, p=p).collect()[0]["estimate"]
    assert abs(est - n) / n < 0.08  # 3.5 sigma

    a = hll_build(df.where("id < 2000"), "v", p=p)
    b = hll_build(df.where("id >= 2000"), "v", p=p)
    merged = sorted((r["bucket"], r["rho"])
                    for r in hll_merge(a, b).collect())
    whole = sorted((r["bucket"], r["rho"]) for r in sk.collect())
    assert merged == whole

    with_nulls = df.select(
        F.when(F.col("id") % 2 == 0, F.col("v")).alias("v")
    )
    sk_n = hll_build(with_nulls, "v", p=p)
    est_n = hll_estimate(sk_n, p=p).collect()[0]["estimate"]
    assert abs(est_n - n / 2) / (n / 2) < 0.08


def test_hll_small_range_linear_counting(spark):
    """At tiny cardinality the linear-counting branch makes the
    estimate essentially exact."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(25).select(F.concat(F.lit("x"), "id").alias("v"))
    est = hll_estimate(hll_build(df, "v", p=12), p=12).collect()[0][
        "estimate"]
    assert est == 25


def test_bloom_filter_properties(spark):
    """Bloom invariants: NO false negatives ever, false-positive rate
    near theory, semi join exactly equals the plain semi join, bitmap
    bounded by n_words rows."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
        bloom_semi_join,
    )

    members = spark.range(500).select(
        F.concat(F.lit("k"), "id").alias("key"))
    probes = spark.range(5000).select(
        F.concat(F.lit("k"), "id").alias("key"))  # 500 in, 4500 out
    nw, k = 512, 5
    bm = bloom_build(members, "key", n_words=nw, k=k)
    assert bm.count() <= nw

    flagged = probes.where(bloom_might_contain(bm, "key", nw, k))
    n_flagged = flagged.count()
    assert n_flagged >= 500  # every member passes — no false negatives
    # m = 512*62 bits for 500 keys, k=5 -> fpr ~ (1-e^(-5*500/31744))^5
    # ~ 2e-6; allow a generous margin on 4500 non-members
    assert n_flagged - 500 <= 10

    got = bloom_semi_join(probes, members, "key", n_words=nw, k=k)
    want = probes.join(members.distinct(), "key", "left_semi")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_split_assign_properties(spark):
    """Splits are disjoint-exhaustive, stable under corpus growth, and
    near the requested proportions."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sampling import (
        split_assign,
    )

    df = spark.range(4000).selectExpr("id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_assign(df, "id", fr)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 4000
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    # growth stability: the first half's labels are unchanged when the
    # second half arrives
    first = dict(split_assign(df.where("id < 2000"), "id", fr)
                 .select("id", "split").collect())
    both = dict(out.where("id < 2000").select("id", "split").collect())
    assert first == both

    import pytest as _pytest
    with _pytest.raises(ValueError):
        split_assign(df, "id", {"a": 0.5, "b": 0.6})


def test_epoch_shuffle_deterministic_and_epoch_independent(spark):
    from databricks_flight_etl_spark.operators.sampling import (
        epoch_shuffle,
    )

    df = spark.range(500).selectExpr("id")
    e1a = [r["id"] for r in epoch_shuffle(df, "id", 1).select("id").collect()]
    e1b = [r["id"] for r in epoch_shuffle(df, "id", 1).select("id").collect()]
    e2 = [r["id"] for r in epoch_shuffle(df, "id", 2).select("id").collect()]
    assert e1a == e1b                       # reproducible
    assert sorted(e1a) == list(range(500))  # a permutation
    assert e1a != e2                        # epochs independent
    assert e1a != list(range(500))          # actually shuffled


def test_quantize_roundtrip_error_bound(spark):
    """Dequantized vectors reconstruct within amax/254 per coordinate;
    zero vectors survive; codes stay within [-127, 127]."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [
        (1, [0.5, -1.25, 3.75, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    q = quantize_embeddings(df, "v")
    deq = dequantize_embeddings(q)
    for r in deq.collect():
        amax = r["amax"]
        assert all(-127 <= c <= 127 for c in r["qvec"])
        for orig, hat in zip(r["v"], r["vec_hat"]):
            assert abs(orig - hat) <= (amax / 254 + 1e-12)
    z = deq.where("id = 2").first()
    assert z["amax"] == 0.0 and z["vec_hat"] == [0.0, 0.0, 0.0, 0.0]
    # cosine ranking survives quantization on the real corpus shape
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qr = dequantize_embeddings(
        quantize_embeddings(emb.limit(20), "embedding"))
    from databricks_flight_etl_spark.operators.similarity import cosine
    chk = qr.select(
        cosine(
            F.transform("embedding", lambda x: x.cast("double")),
            F.col("vec_hat"),
        ).alias("cos")
    ).collect()
    assert all(r["cos"] > 0.999 for r in chk)


def test_reconstruct_int8_fused_equals_composed(spark):
    """The fused one-pass reconstruction is BIT-identical to
    dequantize(quantize(x)) — same per-element double ops in the same
    order — on edge rows (zero vector, negatives, sub-1 amax) and the
    real corpus shape. Exactness matters: q_embed_dup_int8's oracle
    replays the composed arithmetic cell-for-cell."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
        reconstruct_embeddings_int8,
    )

    rows = [
        (1, [0.5, -1.25, 3.75, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-2.0, 2.0, 1.0, -1.0]),
        (4, [1e-9, -1e-9, 5e-10, 0.25]),
    ]
    edge = spark.createDataFrame(rows, "id long, v array<double>")
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(50)
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    )
    for df in (edge, emb):
        composed = {
            r["id"]: r["vec_hat"]
            for r in dequantize_embeddings(
                quantize_embeddings(df, "v", q_col="qvec")
            ).collect()
        }
        fused = {
            r["id"]: r["vec_hat"]
            for r in reconstruct_embeddings_int8(df, "v").collect()
        }
        assert fused.keys() == composed.keys()
        for k in fused:
            # exact float equality, not approx — bit-identity is the claim
            assert fused[k] == composed[k]
    # fused adds exactly one column and drops its internal amax helper
    assert set(reconstruct_embeddings_int8(edge, "v").columns) == {
        "id", "v", "vec_hat"
    }


def test_merge_upsert_semantics(spark):
    """Update overwrites matched keys, insert adds unmatched, base
    passes through; updates win version ties."""
    from databricks_flight_etl_spark.operators.relational import (
        merge_upsert,
    )

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k int, v string, version int")
    upd = spark.createDataFrame(
        [(2, "B", 2), (4, "D", 2), (3, "C", 1)],  # 3 ties on version
        "k int, v string, version int")
    got = {r["k"]: r["v"] for r in merge_upsert(base, upd, ["k"], "version").collect()}
    assert got == {1: "a", 2: "B", 3: "C", 4: "D"}


def test_scd2_history_compression(spark):
    """Consecutive unchanged attrs collapse; intervals chain with no
    gaps; exactly one current row per key."""
    from databricks_flight_etl_spark.operators.relational import (
        scd2_history,
    )

    rows = [
        (1, 1, "x"), (1, 2, "x"), (1, 3, "y"), (1, 4, "y"), (1, 5, "x"),
        (2, 1, "z"),
    ]
    df = spark.createDataFrame(rows, "k int, t int, attr string")
    out = scd2_history(df, ["k"], "t", ["attr"]).orderBy("k", "t").collect()
    hist = [(r["k"], r["t"], r["attr"], r["valid_to"], r["is_current"])
            for r in out]
    assert hist == [
        (1, 1, "x", 3, False), (1, 3, "y", 5, False), (1, 5, "x", None, True),
        (2, 1, "z", None, True),
    ]


def test_semantic_dedup_planted_clones(spark):
    """Planted near-identical vectors collapse to one survivor; the
    clustered (approximate) path never finds MORE pairs than exact, so
    it keeps at least as many rows."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    # plant a clone of every 10th vector (tiny perturbation -> cosine ~1)
    clones = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x.cast("double") * 1.000001).alias("embedding"),
        "label",
    )
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    corpus = base.unionByName(clones)
    n_clones = clones.count()
    exact = semantic_dedup(corpus, threshold=0.99, n_lists=1, iters=0)
    # every clone pairs with its original at cosine ~1 -> one drops
    assert exact.count() <= corpus.count() - n_clones
    kept_ids = {r["vec_id"] for r in exact.select("vec_id").collect()}
    # min-id survivor rule: the original (smaller id) survives
    originals = {r["vec_id"] for r in
                 emb.where(F.col("vec_id") % 10 == 0).collect()}
    assert originals <= kept_ids

    approx = semantic_dedup(corpus, threshold=0.99, n_lists=4, iters=1)
    assert approx.count() >= exact.count()


def test_heavy_hitters_exact_vs_naive(spark):
    """The sketch route returns EXACTLY the naive groupBy+filter
    answer, including under a tight capacity that forces decrements."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        heavy_hitters,
    )

    # skewed synthetic: value i appears i times, i in 1..60 (n=1830)
    df = spark.range(61).select(
        F.explode(F.expr("array_repeat(id, CAST(id AS INT))")).alias("v")
    )
    frac = 0.02  # threshold 36.6 -> values 37..60
    naive = {(r["v"],): r["c"] for r in
             df.groupBy("v").agg(F.count("*").alias("c"))
             .where(F.col("c") >= 1830 * frac).collect()}
    got = {(int(r["term"]),): r["cnt"]
           for r in heavy_hitters(df, "v", frac, capacity=64).collect()}
    assert got == naive and len(got) == 24

    # 501 distinct values against capacity 32 FORCES decrement rounds:
    # two giants (1000+600) over a 500-value tail of 2 each
    skew = spark.range(1000).selectExpr("-1 AS v").union(
        spark.range(600).selectExpr("-2 AS v")).union(
        spark.range(1000).selectExpr("CAST(id % 500 AS BIGINT) AS v"))
    naive2 = {(r["v"],): r["c"] for r in
              skew.groupBy("v").agg(F.count("*").alias("c"))
              .where(F.col("c") >= 2600 * 0.2).collect()}
    got2 = {(int(r["term"]),): r["cnt"]
            for r in heavy_hitters(skew, "v", 0.2, capacity=32).collect()}
    assert got2 == naive2 and set(k for k, in got2) == {-1, -2}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        heavy_hitters(df, "v", 0.001, capacity=64)


def test_table_checksum_properties(spark):
    """Order/partitioning-invariant; detects any single-cell change;
    includes the row count to disambiguate xor-cancelling pairs."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        table_checksum,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k int, v string")
    base = table_checksum(df).collect()[0]
    shuffled = table_checksum(df.orderBy(F.desc("k")).repartition(7)
                              ).collect()[0]
    assert (base["n_rows"], base["checksum"]) == \
           (shuffled["n_rows"], shuffled["checksum"])
    changed = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None)], "k int, v string")
    assert table_checksum(changed).collect()[0]["checksum"] \
        != base["checksum"]
    # a duplicated row xor-cancels but n_rows still differs
    dup = df.union(spark.createDataFrame([(1, "a"), (1, "a")],
                                         "k int, v string"))
    d = table_checksum(dup).collect()[0]
    assert d["checksum"] == base["checksum"] and d["n_rows"] == 5


def test_fuzzy_join_equals_unblocked(spark):
    """Blocking finds every pair the unblocked quadratic scan finds
    (given equal first chars), at any distance bound."""
    from databricks_flight_etl_spark.operators.relational import (
        fuzzy_join,
    )

    words = ["spark", "spork", "sparky", "stark", "sharc",
             "table", "cable", "tible", "tabble", "zzz"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {(r["left_val"], r["right_val"])
           for r in fuzzy_join(df, df, "w", "w", max_distance=2)
           .collect()}
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {(a, b) for a, b in itertools.product(words, words)
            if a[0] == b[0] and lev(a, b) <= 2}
    assert got == want


def test_group_vector_mean_and_sample_n(spark):
    from databricks_flight_etl_spark.operators.sampling import sample_n
    from databricks_flight_etl_spark.operators.similarity import (
        group_vector_mean,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [10.0, 20.0])],
        "label string, embedding array<double>")
    got = {(r["label"], r["idx"]): r["mean"]
           for r in group_vector_mean(df, "label").collect()}
    assert got == {("a", 0): 2.0, ("a", 1): 3.0,
                   ("b", 0): 10.0, ("b", 1): 20.0}

    big = spark.range(1000).selectExpr("id")
    s1 = [r["id"] for r in sample_n(big, "id", 37).collect()]
    s2 = [r["id"] for r in
          sample_n(big.repartition(13), "id", 37).collect()]
    assert len(s1) == 37 and s1 == s2  # exact size, layout-invariant


def test_hll_grouped_estimates_and_rollup(spark):
    """Per-group estimates land within the error band of the exact
    per-group distinct counts; merged per-group registers equal the
    ungrouped whole-corpus sketch."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(6000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("u"), (F.col("id") % 700) + (F.col("id") % 3) * 1000
                 ).alias("u"),
    )
    exact = {r["g"]: r["n"] for r in
             df.groupBy("g").agg(F.count_distinct("u").alias("n"))
             .collect()}
    sk = hll_build(df, "u", p=11, by=["g"])
    est = {r["g"]: r["estimate"] for r in
           hll_estimate(sk, p=11, by=["g"]).collect()}
    for g in exact:
        assert abs(est[g] - exact[g]) / exact[g] < 0.08
    merged = sorted(
        (r["bucket"], r["rho"]) for r in
        sk.groupBy("bucket").agg(F.max("rho").alias("rho")).collect())
    whole = sorted((r["bucket"], r["rho"])
                   for r in hll_build(df, "u", p=11).collect())
    assert merged == whole


def test_pagerank_hand_computed(spark):
    """3-node graph checked against a hand-run power iteration,
    including dangling-mass redistribution; ranks sum to 1."""
    from databricks_flight_etl_spark.operators.graph import pagerank

    # a -> b, a -> c, b -> c ; c dangles
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(edges, iters=2, damping=0.85).collect()}

    # replicate in python
    n, d = 3, 0.85
    rank = {x: 1 / n for x in "abc"}
    out = {"a": 2, "b": 1}
    for _ in range(2):
        dang = sum(rank[x] for x in rank if x not in out)
        contrib = {x: 0.0 for x in rank}
        contrib["b"] += rank["a"] / 2
        contrib["c"] += rank["a"] / 2 + rank["b"]
        rank = {x: (1 - d) / n + d * (contrib[x] + dang / n)
                for x in rank}
    for x in "abc":
        assert abs(got[x] - rank[x]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_zorder_key_is_morton_interleave(spark):
    """The key equals the reference Morton interleave of the 16-bit
    ranks, and z-sorted neighbors are close in both dimensions."""
    from databricks_flight_etl_spark.operators.relational import (
        zorder_sort,
    )

    def morton(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(i, float(a), float(b))
            for i, (a, b) in enumerate(
                [(0, 0), (65535, 65535), (65535, 0), (0, 65535),
                 (12345, 54321), (40000, 20000)])]
    df = spark.createDataFrame(rows, "id int, a double, b double")
    got = {r["id"]: r["zkey"]
           for r in zorder_sort(df, "a", "b").collect()}
    for i, (a, b) in enumerate(
            [(0, 0), (65535, 65535), (65535, 0), (0, 65535),
             (12345, 54321), (40000, 20000)]):
        assert got[i] == morton(a, b), (i, a, b)

    # degenerate range: constant column -> rank 0, no crash
    const = spark.createDataFrame([(1, 5.0, 1.0), (2, 5.0, 2.0)],
                                  "id int, a double, b double")
    ks = {r["id"]: r["zkey"] for r in zorder_sort(const, "a", "b").collect()}
    assert ks[1] == 0  # (0, 0) interleave


def test_cms_join_size_bounds(spark):
    """The estimate upper-bounds the true join size and is exact at
    ample width (no collisions)."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    a = spark.createDataFrame(
        [(k,) for k in [1] * 5 + [2] * 3 + [3]], "k long")
    b = spark.createDataFrame(
        [(k,) for k in [1] * 2 + [3] * 4 + [4]], "k long")
    true_size = a.join(b, "k").count()  # 5*2 + 1*4 = 14
    assert true_size == 14
    est = cms_inner_product(
        cms_build(a, "k", width=512, depth=4),
        cms_build(b, "k", width=512, depth=4),
        width=512, depth=4,
    ).collect()[0]["est_join_size"]
    assert est == 14  # exact without collisions
    # tiny width forces collisions -> still an upper bound
    est_small = cms_inner_product(
        cms_build(a, "k", width=4, depth=2),
        cms_build(b, "k", width=4, depth=2),
        width=4, depth=2,
    ).collect()[0]["est_join_size"]
    assert est_small >= 14


def test_ngram_lm_score_ranks_fluent_above_gibberish(spark):
    """Docs made of corpus-frequent bigrams score higher than a doc of
    unique never-repeated bigrams; short docs (<2 tokens) drop."""
    from databricks_flight_etl_spark.operators.text import (
        ngram_lm_score,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug "
    train = spark.createDataFrame(
        [(100 + i, fluent) for i in range(5)], "doc_id long, text string")
    rows = [
        (1, "the cat sat on the rug"),          # seen bigrams
        (2, "the cat sat on the rug"),
        (3, "zq xv jk wp mn bc df gh lr ts"),   # unseen -> floor backoff
        (4, "one"),                             # too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in
           ngram_lm_score(df, "text", "doc_id", train_df=train)
           .collect()}
    assert 4 not in got
    assert got[1]["lm_score"] > got[3]["lm_score"]
    assert got[1]["lm_score"] == got[2]["lm_score"]  # identical docs
    # self-trained scoring still works (harness mode)
    self_scored = ngram_lm_score(df, "text", "doc_id")
    assert self_scored.count() == 3


def test_set_similarity_join_lossless_vs_bruteforce(spark):
    """The prefix filter finds EVERY pair the quadratic scan finds, at
    several thresholds, on sets engineered to stress prefixes (shared
    frequent tokens, rare discriminators)."""
    import itertools

    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.dedup import (
        set_similarity_join,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),     # J(1,2)=3/5
        (3, ["a", "b", "c", "d"]),     # J(1,3)=1
        (4, ["x", "y"]),
        (5, ["x", "y", "z"]),          # J(4,5)=2/3
        (6, ["q"]),
    ]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    sets = {i: set(s) for i, s in rows}
    for t in (0.5, 0.6, 0.9, 1.0):
        got = {(r["id_a"], r["id_b"])
               for r in set_similarity_join(df, "s", "id", t).collect()}
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sets), 2)
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t
        }
        assert got == want, t


def test_set_similarity_join_exact_rational_boundary(spark):
    """A pair whose exact Jaccard EQUALS the threshold must survive the
    candidate filters — regression for the (reverted) ceil-form
    positional bound: at t=2/3, na+nb=15 the float
    ceil(t·15/(1+t)) = ceil(10.000…001/1.666…) lands at 7 while the
    exact required overlap is 6, so under the ceil form any shared
    prefix token whose positional ubound lands at exactly 6 would drop
    the valid J=6/9=2/3 pair before verification. The filters are now
    the verify's own IEEE ratio compare (monotone division), which
    keeps every boundary pair by construction — asserted end-to-end
    below, plus an independent derivation of the staged rare-first
    layout so a silent order/length change can't hollow the test."""
    from databricks_flight_etl_spark.operators.dedup import (
        set_similarity_join,
    )

    shared = [f"s{i}" for i in range(6)]
    rows = [
        (1, shared + ["z9"]),            # na=7 (z9 df=2 via doc 3)
        (2, shared + ["ub1", "ub2"]),    # nb=8; inter=6, union=9
        (3, ["z9"]),                     # raises z9's df so the
                                         # rare-first order demotes it
    ]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    # assert the staged layout IS the documented (df asc, key asc)
    # rare-first order at the documented prefix length — derived
    # independently here, so an order/length change in the staging
    # cannot silently hollow this test into a generic pass (r13
    # self-review). Since r14 the staging runs on xxhash64 longs when
    # the hash is injective on the corpus tokens (it is here), so the
    # expectation maps tokens through the SAME hash and sorts by
    # (df, hash).
    import math

    from databricks_flight_etl_spark.operators.dedup import (
        _ordered_prefixes,
    )

    tokens = sorted({t for _, s in rows for t in s})
    h = dict(
        spark.createDataFrame([(t,) for t in tokens], "t string")
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    )
    dfreq = {t: sum(t in s for _, s in rows) for t in tokens}
    expect = {}
    for rid, s in rows:
        ordered = [h[t] for t in sorted(s, key=lambda t: (dfreq[t], h[t]))]
        plen = len(ordered) - math.ceil(2 / 3 * len(ordered)) + 1
        expect[rid] = (ordered, ordered[:plen])
    pref_df, hashed = _ordered_prefixes(df, "s", "id", 2 / 3)
    assert hashed
    pref = {
        r["__id"]: (list(r["__sorted"]), list(r["__prefix"]))
        for r in pref_df.collect()
    }
    assert pref == expect
    # the boundary pair itself survives end-to-end regardless of the
    # order chosen: its exact Jaccard EQUALS the threshold, and every
    # filter is the verify's own ratio compare
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in set_similarity_join(df, "s", "id", 2 / 3).collect()}
    assert got == {(1, 2): round(2 / 3, 6)}


def test_set_similarity_string_fallback_identical(spark, monkeypatch):
    """The string-pipeline fallback (taken when the injectivity probe
    fails) returns EXACTLY the hashed pipeline's rows for both joins —
    forced via the probe hook, since a real 64-bit collision can't be
    manufactured."""
    from databricks_flight_etl_spark.operators import dedup

    rows = [
        (1, ["a", "b", "c", "d", "e"]),
        (2, ["a", "b", "c", "d", "x"]),
        (3, ["a", "b", "c", "d", "e", "f"]),
        (4, ["q", "r", "s"]),
    ]
    df = spark.createDataFrame(rows, "id long, s array<string>")

    def run_both(fn, *args):
        hashed = {tuple(r) for r in fn(df, "s", "id", *args).collect()}
        monkeypatch.setattr(dedup, "_hash_injective", lambda toks: False)
        try:
            fell_back = {tuple(r) for r in fn(df, "s", "id", *args).collect()}
        finally:
            monkeypatch.undo()
        return hashed, fell_back

    h, s = run_both(dedup.set_similarity_join, 0.6)
    assert h == s and h  # non-empty and identical
    h, s = run_both(dedup.containment_join, 0.8)
    assert h == s and h
    # the fallback staging really does hold strings
    monkeypatch.setattr(dedup, "_hash_injective", lambda toks: False)
    pref, hashed = dedup._ordered_prefixes(df, "s", "id", 0.6)
    assert not hashed
    assert isinstance(pref.first()["__sorted"][0], str)


def test_containment_join_asymmetric(spark):
    """Page-plus-boilerplate: containment catches what Jaccard misses,
    direction matters, and the filter equals brute force."""
    from databricks_flight_etl_spark.operators.dedup import (
        containment_join,
        set_similarity_join,
    )

    page = [f"w{i}" for i in range(10)]
    boiler = page + [f"b{i}" for i in range(30)]
    rows = [(1, page), (2, boiler), (3, ["x", "y", "z"])]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in containment_join(df, "s", "id", 0.9).collect()}
    assert got == {(1, 2): 1.0}  # page ⊂ boiler, NOT the reverse
    # Jaccard at the same bar finds nothing (10/40 = 0.25)
    assert set_similarity_join(df, "s", "id", 0.9).count() == 0


def test_resample_to_target_exact_counts(spark):
    """Every targeted group lands on EXACTLY its target; untargeted
    groups pass through; copies differ by at most one per row."""
    from databricks_flight_etl_spark.operators import sampling

    df = spark.range(300).selectExpr(
        "id AS k",
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' "
        "ELSE 'c' END AS g",
    )
    out = sampling.resample_to_target(
        df, "g", "k", {"a": 250, "b": 40, "c": 0}
    )
    counts = {r["g"]: r["n"] for r in
              out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 250, "b": 40}
    # upsampled group: every source row appears floor or ceil times
    per_row = [r["n"] for r in out.where("g = 'a'")
               .groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert set(per_row) <= {2, 3} and len(per_row) == 100  # 250/100
    # copy_idx is 1..copies per row
    bad = out.where("g = 'a'").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.max("copy_idx").alias("m"),
        F.min("copy_idx").alias("lo")).where("n != m OR lo != 1")
    assert bad.count() == 0
    # downsampled rows are a deterministic subset: rerun identical
    again = sorted((r["k"], r["copy_idx"])
                   for r in sampling.resample_to_target(
                       df, "g", "k", {"a": 250, "b": 40, "c": 0}
                   ).where("g = 'b'").collect())
    first = sorted((r["k"], r["copy_idx"])
                   for r in out.where("g = 'b'").collect())
    assert again == first
    # untargeted group untouched
    out2 = sampling.resample_to_target(df, "g", "k", {"a": 50})
    assert out2.where("g = 'b'").count() == 100
    assert out2.where("g = 'c'").count() == 100


def test_temperature_targets(spark):
    from databricks_flight_etl_spark.operators.sampling import (
        temperature_targets,
    )

    counts = {"en": 8000, "de": 1500, "sw": 500}
    # alpha=1 keeps proportions exactly
    assert temperature_targets(counts, 1.0) == counts
    # alpha=0 equalizes (largest-remainder keeps the sum exact)
    eq = temperature_targets(counts, 0.0)
    assert sum(eq.values()) == 10000
    assert max(eq.values()) - min(eq.values()) <= 1
    # 0<alpha<1 up-weights the tail monotonically
    mid = temperature_targets(counts, 0.5)
    assert sum(mid.values()) == 10000
    assert counts["sw"] < mid["sw"] < eq["sw"] + 2
    assert eq["en"] < mid["en"] < counts["en"]
    # explicit total rescales
    tot = temperature_targets(counts, 1.0, total=1000)
    assert sum(tot.values()) == 1000


def test_centroid_outlier_scores(spark):
    """An on-axis cluster plus one orthogonal outlier: the member
    scores beat the outlier's, and empty input yields empty output."""
    from databricks_flight_etl_spark.operators.similarity import (
        centroid_outlier_scores,
    )

    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.9, 0.1, 0.0], "a"),
        (3, [0.0, 0.0, 1.0], "a"),   # the outlier
        (4, [0.0, 1.0, 0.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = {r["vec_id"]: r["cos_centroid"]
           for r in centroid_outlier_scores(df, "label").collect()}
    assert len(got) == 4
    assert got[3] < got[1] and got[3] < got[2]
    assert abs(got[4] - 1.0) < 1e-12   # singleton group: cos to itself
    empty = centroid_outlier_scores(df.limit(0), "label")
    assert empty.count() == 0


def test_drop_boilerplate_spans(spark):
    """A footer shared by 3 docs is dropped from ALL of them (including
    the first carrier — the semantics keep-first would get wrong);
    unique content survives; an all-boilerplate doc rebuilds empty."""
    from databricks_flight_etl_spark.operators.text import (
        drop_boilerplate_spans,
    )

    footer = "visit our site for more info"
    rows = [
        (1, "alpha beta gamma " + footer),
        (2, "delta epsilon zeta " + footer),
        (3, footer),
        (4, "totally unique words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in drop_boilerplate_spans(
        df, "text", "doc_id", span_words=3, min_docs=3).collect()}
    # span_words=3 makes the footer two exact spans shared by docs 1-3
    assert footer not in out[1]["clean"] and footer not in out[3]["clean"]
    assert out[3]["clean"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean"] == "totally unique words here"
    assert out[1]["n_spans"] > out[1]["n_kept"] > 0


def test_minhash_portable_under_ansi(spark):
    """The mod-p affine family's products stay < 2^62, so MinHash runs
    unchanged on a Spark-4-default ANSI session — and bit-identically
    to the ANSI-off result (r3's wrapping mod-2^64 family overflowed
    and needed a fail-fast guard)."""
    from databricks_flight_etl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta zeta")],
        "doc_id long, text string",
    )
    off = sorted(
        tuple(r) for r in dedup.minhash_signatures(
            docs, "text", "doc_id").collect()
    )
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        on = sorted(
            tuple(r) for r in dedup.minhash_signatures(
                docs, "text", "doc_id").collect()
        )
        rowwise = dedup.minhash_bands_rowwise(docs, "text", "doc_id")
        assert rowwise.count() == 8  # 2 docs x 4 bands, no overflow
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert on == off
    # signatures live in [0, p) — the mod-p family never goes negative
    assert all(0 <= v < (1 << 31) for row in off for v in row[1:])


def test_minhash_probe_matches_full_run_cross_pairs(spark):
    """Incremental probe vs persisted index must equal the cross-pairs
    subset of a full minhash run over corpus ∪ increment — bit-identical
    candidates and verified Jaccard."""
    from databricks_flight_etl_spark.operators import dedup

    base = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 30), "
        "i -> element_at(array('ga','bo','ce','du','el','fo','gu','ha'), "
        "cast(pmod(xxhash64(id, i), 8) + 1 AS int)))) AS text",
    )
    # increment: clones of every 4th corpus doc (tail-perturbed) plus
    # some fresh docs
    clones = base.where("doc_id % 4 = 0").selectExpr(
        "doc_id + 1000 AS doc_id", "concat(text, ' zz') AS text"
    )
    fresh = spark.range(2000, 2010).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 30), "
        "i -> element_at(array('pa','qo','re','su','tu','vo','wu','xa'), "
        "cast(pmod(xxhash64(id, i), 8) + 1 AS int)))) AS text",
    )
    inc = clones.unionByName(fresh)

    idx = dedup.minhash_bands(base, "text", "doc_id", shingle_k=3)
    probe = {(r["new_id"], r["corpus_id"], r["jaccard"])
             for r in dedup.minhash_probe(
                 inc, base, idx, "text", "doc_id",
                 threshold=0.5, shingle_k=3).collect()}

    full = dedup.minhash_dedup_pairs(
        base.unionByName(inc), "text", "doc_id",
        threshold=0.5, shingle_k=3)
    cross = {(r["id_b"], r["id_a"], r["jaccard"])
             for r in full.where("id_a < 1000 AND id_b >= 1000").collect()}
    assert probe == cross and len(probe) > 0


def test_dedup_survivors_by(spark):
    """Highest-score member survives each cluster (ties -> smallest
    id); unpaired rows always survive."""
    from databricks_flight_etl_spark.operators import graph

    df = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (5, 0.1)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )  # cluster {1,2,3}; 4 and 5 unpaired
    kept = {r["doc_id"] for r in graph.dedup_survivors_by(
        df, pairs, "doc_id", "q").collect()}
    assert kept == {2, 4, 5}  # 2 beats 3 on the id tie, beats 1 on score
    # contrast: min-id policy keeps 1
    kept_min = {r["doc_id"] for r in graph.dedup_survivors(
        df, pairs, "doc_id").collect()}
    assert kept_min == {1, 4, 5}


def test_join_explosion_probe(spark):
    from databricks_flight_etl_spark.operators.relational import (
        join_explosion_probe,
    )

    a = spark.createDataFrame(
        [(1,)] * 100 + [(2,)] * 3 + [(3,)] * 1, "key long"
    )
    b = spark.createDataFrame([(1,)] * 50 + [(4,)] * 7, "key long")
    out = {r["key"]: (r["n_a"], r["n_b"], r["out_rows"])
           for r in join_explosion_probe(a, b, "key", k=10).collect()}
    assert out[1] == (100, 50, 5000)     # the explosion
    assert out[2] == (3, 0, 0)           # one-sided keys show zero
    assert out[4] == (0, 7, 0)
    top = join_explosion_probe(a, b, "key", k=10).first()
    assert top["key"] == 1               # ordered by product


def test_project_embeddings_preserves_distance(spark):
    """JL with +/-1 signs: deterministic across runs, and pairwise
    distances survive approximately (the point of the projection)."""
    import math
    import random

    from databricks_flight_etl_spark.operators.similarity import (
        project_embeddings,
    )

    random.seed(4)
    rows = [(i, [random.gauss(0, 1) for _ in range(64)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["proj"]
           for r in project_embeddings(df, out_dim=16).collect()}
    assert all(len(v) == 16 for v in out.values())
    again = {r["vec_id"]: r["proj"]
             for r in project_embeddings(df, out_dim=16).collect()}
    assert out == again
    # distance preservation in aggregate: mean ratio near 1
    orig = dict(rows)
    ratios = []
    for a in range(0, 20, 3):
        for b in range(1, 20, 4):
            if a == b:
                continue
            d0 = math.dist(orig[a], orig[b])
            d1 = math.dist(out[a], out[b])
            ratios.append(d1 / d0)
    m = sum(ratios) / len(ratios)
    assert 0.8 < m < 1.2
    assert project_embeddings(df.limit(0)).count() == 0


def test_project_embeddings_matches_python_sum(spark):
    """The matmul JL projection agrees with a plain-Python left-assoc
    sum over the same sign matrix to the rounding decimals."""
    import math
    import random

    from databricks_flight_etl_spark.operators.similarity import (
        _jl_signs,
        project_embeddings,
    )

    random.seed(11)
    rows = [(i, [random.gauss(0, 1) for _ in range(64)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r["vec_id"]: r["proj"]
         for r in project_embeddings(df, out_dim=16, decimals=5).collect()}
    signs = _jl_signs(64, 16)
    b = {}
    for i, v in rows:
        out = []
        for row in signs:
            acc = row[0] * v[0]
            for s, x in zip(row[1:], v[1:]):
                acc = acc + s * x
            out.append(round(acc / math.sqrt(16), 5))
        b[i] = out
    assert set(a) == set(b)
    for k in a:
        assert len(a[k]) == 16
        assert all(abs(x - y) < 2e-5 for x, y in zip(a[k], b[k]))
    assert project_embeddings(df.limit(0)).count() == 0


def test_vector_ops_null_dim_inference(spark):
    """ADVICE r3: dim inference must use the first NON-NULL vector — a
    null embedding landing first in partition order silently emptied
    centroid_outlier_scores / project_embeddings."""
    from databricks_flight_etl_spark.operators.similarity import (
        centroid_outlier_scores,
        group_vector_mean,
        project_embeddings,
    )

    rows = [(0, None, "a"), (1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b"),
            (3, [1.0, 1.0], "a")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).coalesce(1)  # pin partition order: the NULL row is row 0
    assert project_embeddings(df, out_dim=4).count() == 3
    assert centroid_outlier_scores(df, "label").count() == 3
    # group mean skips the NULL row rather than nulling the group
    gm = {(r["label"], r["idx"]): r["mean"]
          for r in group_vector_mean(df, "label").collect()}
    assert gm[("a", 0)] == 1.0  # avg(1, 1) over the two non-null a-rows
    # all-NULL corpus → empty result, not a crash
    alln = df.where(F.col("vec_id") == 0)
    assert project_embeddings(alln).count() == 0
    assert centroid_outlier_scores(alln, "label").count() == 0


def test_dedup_survivors_by_string_ids(spark):
    """ADVICE r3: the old struct-max used -id (numeric-only); string ids
    nulled __keep and dropped EVERY cluster member. Window row_number
    works for any orderable id type."""
    from databricks_flight_etl_spark.operators import graph

    docs = spark.createDataFrame(
        [("d0", 5.0), ("d1", 9.0), ("d2", 1.0), ("d3", 7.0)],
        "doc_id string, quality double",
    )
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d1", "d2")], "id_a string, id_b string"
    )
    kept = sorted(r["doc_id"] for r in graph.dedup_survivors_by(
        docs, pairs, "doc_id", "quality").collect())
    assert kept == ["d1", "d3"]  # d1 wins its cluster; d3 unpaired


def test_resample_to_target_null_group_passthrough(spark):
    """ADVICE r3: NULL-group rows must pass through with copies=1 (the
    plain equi-join dropped them)."""
    from databricks_flight_etl_spark.operators.sampling import (
        resample_to_target,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None)],
        "k long, g string",
    )
    out = resample_to_target(df, "g", "k", {"a": 4})
    by_g = {r["g"]: r["n"] for r in
            out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert by_g == {"a": 4, None: 2}


def test_trimmed_mean_wide_values(spark):
    """ADVICE r3: values >= 1e14 nulled under decimal(18,4) while the
    count still included the row — a silently biased mean."""
    from databricks_flight_etl_spark.operators.accuracy import (
        trimmed_mean_by_group,
        winsorized_mean_by_group,
    )

    big = 2.0e14
    df = spark.createDataFrame(
        [("g", big), ("g", big), ("g", big), ("g", big)],
        "grp string, value double",
    )
    t = trimmed_mean_by_group(df, ["grp"], "value", trim=0.0).collect()[0]
    assert t["trimmed_mean"] == pytest.approx(big)
    w = winsorized_mean_by_group(
        df, ["grp"], "value", trim=0.1).collect()[0]
    assert w["winsorized_mean"] == pytest.approx(big)


def test_minhash_certified_query_under_ansi(spark):
    """VERDICT r3 #3: the full certified MinHash query (md5 family,
    LSH bands, exact-Jaccard verify) runs on an ANSI session and
    returns bit-identical rows to the ANSI-off run — the mod-p family
    removed the last ANSI incompatibility in the package."""
    import __spark_entry__ as entry

    q = entry.queries()["q_minhash_certified"]
    sf = "/root/testdata/sf0.001"
    off = sorted(tuple(r) for r in q(spark, sf).collect())
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        on = sorted(tuple(r) for r in q(spark, sf).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert on == off and len(off) > 0


def test_two_level_ivf_degenerate_equals_flat(spark):
    """n_sub=1 must be BIT-IDENTICAL to flat assignment at
    n_lists=n_super (the certified degenerate of the hierarchical
    quantizer), and the composite path must cover every row exactly
    once with list ids inside [0, n_super*n_sub)."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    flat_cents = similarity.ivf_centroids(df, n_lists=4, iters=2)
    flat = {r["vec_id"]: r["list_id"] for r in
            similarity.ivf_assign(df, flat_cents).collect()}
    degen = {r["vec_id"]: r["list_id"] for r in
             similarity.ivf_assign_two_level(
                 df, n_super=4, n_sub=1, iters=2).collect()}
    assert degen == flat

    two = similarity.ivf_assign_two_level(df, n_super=4, n_sub=3, iters=1)
    got = two.collect()
    assert len(got) == 300
    assert all(0 <= r["list_id"] < 12 for r in got)
    # residual split actually splits: more than n_super distinct cells
    assert len({r["list_id"] for r in got}) > 4


def test_semantic_dedup_two_level_finds_planted_dups(spark):
    """Planted exact clones must collapse through the composite cells
    (same vector -> same super, same residual -> same sub)."""
    import random

    rng = random.Random(9)
    base = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    clones = [(i + 1000, v) for i, v in base[:10]]
    df = spark.createDataFrame(
        base + clones, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup_two_level(
        df, threshold=0.99, n_super=4, n_sub=3, iters=1)
    kept = {r["vec_id"] for r in out.collect()}
    assert len(kept) == 100
    assert all(i < 1000 for i in kept)  # min-id survivor per clone pair


def test_ivf_family_tolerates_null_embeddings(spark):
    """ADVICE r4: a NULL embedding row crashed _ivf_fit's Arrow kernel
    (np.asarray(None) isn't stackable). Every IVF entry point must now
    skip null vectors: fit/assign/dedup run, null rows survive
    semantic_dedup (they can't be near-dups), and the two-level
    assigner returns them with a NULL list id (matching flat
    ivf_assign's null-in → null-out)."""
    import random

    rng = random.Random(13)
    base = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(60)]
    clones = [(i + 1000, v) for i, v in base[:5]]
    rows = base + clones + [(9001, None), (9002, None)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")

    cents = similarity.ivf_centroids(df, n_lists=4, iters=2)
    assert len(cents) == 4

    flat = {r["vec_id"]: r["list_id"] for r in
            similarity.ivf_assign(df, cents).collect()}
    assert flat[9001] is None and flat[9002] is None
    assert all(v is not None for k, v in flat.items() if k < 9000)

    top = similarity.ann_topk_ivf_batch(
        df, probe_ids=[0], k=3, n_lists=4, n_probe=4, iters=1).collect()
    top = sorted(top, key=lambda r: r["rank"])
    assert top[0]["vec_id"] in (0, 1000)  # the clone pair ties at 1.0

    batch = similarity.ann_topk_ivf_batch(
        df, probe_ids=[0, 3], k=3, n_lists=4, n_probe=4, iters=1
    ).collect()
    assert {r["probe_id"] for r in batch} == {0, 3}

    kept = {r["vec_id"] for r in similarity.semantic_dedup(
        df, threshold=0.99, n_lists=1, iters=0).collect()}
    assert {9001, 9002} <= kept          # null rows pass through
    assert all(i < 1000 or i >= 9001 for i in kept)

    two = similarity.ivf_assign_two_level(
        df, n_super=4, n_sub=3, iters=1)
    lid = {r["vec_id"]: r["list_id"] for r in two.collect()}
    assert len(lid) == len(rows)
    assert lid[9001] is None and lid[9002] is None
    assert all(v is not None for k, v in lid.items() if k < 9000)


def test_mrl_sketch_exact_degenerate(spark):
    """k >= n: no collapse fires, every item is level-0 weight-1, and
    the readout IS quantiles_exact's type-1 formula — bit-equal."""
    import random

    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch,
    )

    rng = random.Random(3)
    rows = [(i, rng.uniform(0, 1000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, value double").repartition(8)
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    sk = mrl_merge(mrl_sketch(df, "value", k=10_000), k=10_000)
    got = [(r["q"], r["value"]) for r in mrl_quantiles(sk, qs).collect()]
    exact = [
        (r["q"], r["value"])
        for r in quantiles_exact(df, "value", qs).collect()
    ]
    assert got == exact


def test_mrl_merge_identity_and_size_bound(spark):
    """Two half-corpus sketches pooled then merged must read out the
    same as one whole-corpus sketch (merge identity, the property that
    makes per-shard rollup sound), and the merged sketch must stay
    O(k log n) rows — never corpus-sized."""
    import random

    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch,
    )

    rng = random.Random(7)
    rows = [(i, rng.gauss(0, 100)) for i in range(20_000)]
    df = spark.createDataFrame(rows, "id long, value double")
    k = 256
    a = mrl_sketch(df.where("id % 2 = 0").coalesce(2), "value", k=k)
    b = mrl_sketch(df.where("id % 2 = 1").coalesce(2), "value", k=k)
    merged = mrl_merge(a.unionByName(b), k=k)
    n_rows = merged.count()
    assert n_rows <= 4 * k * 18  # < 2k per level, levels << 18
    qs = [0.1, 0.5, 0.9]
    est = {r["q"]: r["value"] for r in mrl_quantiles(merged, qs).collect()}

    # rank error bound: estimated value's true rank within eps*n
    import bisect

    vals = sorted(v for _, v in rows)
    n = len(vals)
    for q, v in est.items():
        true_rank = bisect.bisect_right(vals, v)
        assert abs(true_rank - q * n) <= 0.05 * n, (q, v, true_rank)


def test_mrl_sketch_deterministic_rerun(spark):
    """Same input, same partitioning -> bit-identical sketch (the
    deterministic-collapse variant has no RNG)."""
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_sketch,
    )

    df = spark.range(3000).selectExpr(
        "id", "cast(pmod(id * 2654435761, 4096) as double) as value"
    ).repartition(4, "id")
    one = sorted(map(tuple, mrl_merge(mrl_sketch(df, "value", k=64), k=64).collect()))
    two = sorted(map(tuple, mrl_merge(mrl_sketch(df, "value", k=64), k=64).collect()))
    assert one == two and len(one) > 0


def test_triangle_counts_k4_and_noise(spark):
    """K4 has 4 triangles, every node in 3; duplicate edges, reversed
    directions, and self-loops must not change anything."""
    from databricks_flight_etl_spark.operators import graph

    edges = [(i, j) for i in range(1, 5) for j in range(1, 5) if i < j]
    edges += [(2, 1), (3, 3), (1, 2), (4, 2)]  # noise
    df = spark.createDataFrame(edges, "src long, dst long")
    per = {r["node"]: r["n_triangles"]
           for r in graph.triangle_counts(df).collect()}
    assert per == {1: 3, 2: 3, 3: 3, 4: 3}
    assert graph.triangle_total(df).first()["n_triangles"] == 4


def test_triangle_counts_random_vs_bruteforce(spark):
    """Degree-ordered counting must agree with the brute-force per-node
    census on a random graph with a skewed hub (the case the rank-order
    wedge dedup exists for)."""
    import itertools
    import random

    from databricks_flight_etl_spark.operators import graph

    rng = random.Random(17)
    nodes = list(range(40))
    edges = {(a, b) for a, b in itertools.combinations(nodes, 2)
             if rng.random() < 0.12}
    edges |= {(0, v) for v in range(1, 30)}  # hub at node 0
    adj = {v: set() for v in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for v in nodes:
        cnt = sum(
            1 for x, y in itertools.combinations(sorted(adj[v]), 2)
            if y in adj[x]
        )
        if cnt:
            want[v] = cnt
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in graph.triangle_counts(df).collect()}
    assert got == want
    assert graph.triangle_total(df).first()["n_triangles"] == (
        sum(want.values()) // 3
    )


def test_mrl_grouped_exact_degenerate_and_rollup(spark):
    """Per-group k >= n sketches must read out exactly
    quantiles_exact(by=), and two 'daily' sketch tables pooled through
    mrl_merge(by=) must read out the same as one whole-corpus
    sketch (the per-day -> per-week rollup identity)."""
    import random

    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )
    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch_grouped,
    )

    rng = random.Random(5)
    rows = [
        (i, ["a", "b", "c"][i % 3], rng.uniform(0, 100))
        for i in range(6000)
    ]
    df = spark.createDataFrame(rows, "id long, g string, value double")
    qs = [0.1, 0.5, 0.9]
    k = 10_000
    whole = mrl_sketch_grouped(df, ["g"], "value", k=k)
    got = [
        (r["g"], r["q"], r["value"])
        for r in mrl_quantiles(whole, qs, by=["g"]).collect()
    ]
    exact = [
        (r["g"], r["q"], r["value"])
        for r in quantiles_exact(df, "value", qs, by=["g"]).collect()
    ]
    assert got == exact

    day1 = mrl_sketch_grouped(df.where("id % 2 = 0"), ["g"], "value", k=k)
    day2 = mrl_sketch_grouped(df.where("id % 2 = 1"), ["g"], "value", k=k)
    rolled = mrl_merge(day1.unionByName(day2), k=k, by=["g"])
    got2 = [
        (r["g"], r["q"], r["value"])
        for r in mrl_quantiles(rolled, qs, by=["g"]).collect()
    ]
    assert got2 == exact

    # production k actually compacts and stays bounded
    small = mrl_merge(
        mrl_sketch_grouped(df, ["g"], "value", k=64), k=64, by=["g"]
    )
    assert small.count() < 3 * 2 * 64 * 10


def test_weighted_sample_exact_replay(spark):
    """The kept set must replay EXACTLY from the documented formula
    (md5-prefix-as-int < floor(16^12 * min(1, rate*w))) — Python and
    the JVM do the identical IEEE multiply/floor — and inclusion must
    be monotone in base_rate. NULL weights drop."""
    import hashlib

    from databricks_flight_etl_spark.operators import sampling

    rows = [(i, (i % 7) / 2.0 if i % 11 else None) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w double")

    def expect(rate):
        keep = set()
        for i, w in rows:
            if w is None:
                continue
            p = max(0.0, min(1.0, rate * w))
            h = int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)
            if h < int(p * 16**12 // 1):
                keep.add(i)
        return keep

    for rate in (0.1, 0.37, 1.0):
        got = {r["id"] for r in sampling.weighted_sample(
            df, "id", "w", base_rate=rate).collect()}
        assert got == expect(rate), rate
    small = {r["id"] for r in sampling.weighted_sample(
        df, "id", "w", base_rate=0.1).collect()}
    big = {r["id"] for r in sampling.weighted_sample(
        df, "id", "w", base_rate=0.37).collect()}
    assert small <= big and len(big) > len(small)
    assert all(i % 11 for i in big)  # null weights never kept


def test_auto_bands_shape():
    """Pure-function pin: fewest bands whose S-curve midpoint sits at
    or below the threshold; extreme thresholds degrade safely (0 ->
    max bands = max recall; 1 -> fewest bands)."""
    from databricks_flight_etl_spark.operators.dedup import auto_bands

    assert auto_bands(32, 0.95) == 4
    assert auto_bands(32, 0.8) == 8
    assert auto_bands(32, 0.6) == 8
    assert auto_bands(32, 0.5) == 16
    assert auto_bands(32, 0.2) == 32
    assert auto_bands(32, 0.0) == 32
    assert auto_bands(32, 1.0) == 2
    assert auto_bands(16, 0.6) == 8
    # midpoint property holds for the returned shape
    for n, t in ((32, 0.8), (32, 0.5), (16, 0.6)):
        b = auto_bands(n, t)
        assert (1.0 / b) ** (b / n) <= t + 1e-12


def test_token_budget_sample(spark):
    """Per-source keep rates hit the budget split: a source smaller
    than its target keeps everything; oversized sources downsample to
    ~their share; the kept set replays exactly from the documented
    formula."""
    import hashlib

    from databricks_flight_etl_spark.operators import sampling

    rows = (
        [(i, "wiki", 100) for i in range(50)]          # 5k tokens
        + [(1000 + i, "web", 100) for i in range(2000)]  # 200k tokens
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    out = sampling.token_budget_sample(
        df, "source", "n_tok", "doc_id", budget_tokens=20_000,
        weights={"wiki": 1.0, "web": 1.0},
    )
    got = {r["doc_id"] for r in out.collect()}
    # wiki target = 10k > 5k tokens -> all 50 kept
    assert all(i in got for i in range(50))
    # web target = 10k of 200k -> rate 0.05; hash draw concentrates
    n_web = sum(1 for g in got if g >= 1000)
    assert 60 <= n_web <= 140  # E=100

    # exact replay of the formula for the web side
    rate = min(1.0, 20_000 * 1.0 / 2.0 / 200_000.0)
    thr = int(rate * 16**12 // 1)
    expect = {
        i for i, s, _ in rows
        if (int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16) < thr)
        or s == "wiki"
    }
    assert got == expect


def test_bpe_merge_candidates(spark):
    """Adjacent-pair counts over the BPE-ish tokens, deterministic
    top-k; single-token and empty docs contribute nothing."""
    rows = [
        (0, "a b a b a"),       # (a,b)x2, (b,a)x2
        (1, "a b"),             # (a,b)
        (2, "x"),
        (3, ""),
        (4, "don't"),           # don ' t -> (don,'), (',t)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["left"], r["right"], r["n"])
           for r in text.bpe_merge_candidates(df, "text", k=3).collect()]
    assert got == [("a", "b", 3), ("b", "a", 2), ("'", "t", 1)]


def test_line_dedup_global(spark):
    """C4-style global line dedup: first corpus occurrence wins
    (ordered by id, pos), within-doc repeats drop too, short lines
    filtered, docs losing every line survive with clean=''."""
    rows = [
        (0, "alpha beta gamma\nshared nav bar line\nunique tail zero"),
        (1, "shared nav bar line\ndelta epsilon\nshared nav bar line"),
        (2, "x\nshared nav bar line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["clean"], r["n_lines_kept"], r["n_lines_total"])
        for r in text.line_dedup_global(
            df, "text", "doc_id", min_words=2
        ).collect()
    }
    assert out[0] == (
        "alpha beta gamma\nshared nav bar line\nunique tail zero", 3, 3
    )
    assert out[1] == ("delta epsilon", 1, 3)
    # doc 2: 'x' fails min_words, the shared line lost to doc 0
    assert out[2] == ("", 0, 2)


def test_repetition_signals(spark):
    """Gopher repetition metrics, hand-checked: dup_line_frac counts
    repeated lines in-doc; top2_char_frac covers count*len of the most
    frequent bigram over doc chars; dup5_char_frac is the weighted
    share of 5-grams occurring twice or more."""
    rows = [
        (0, "a b a b a b c\nd e\nd e"),
        (1, "one two three four five six seven"),
        # doc 2: 'p q r s t' appears twice -> every 5-gram window
        # inside the repeats duplicates
        (2, "p q r s t p q r s t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (
            r["dup_line_frac"], r["top2_char_frac"], r["dup5_char_frac"]
        )
        for r in text.repetition_signals(df, "text", "doc_id").collect()
    }
    # doc 0: lines [aababab c, d e, d e] -> 1 - 2/3; top bigram 'a b' x3
    # (len 3) over 21 chars; no repeated 5-gram
    assert out[0] == (round(1 - 2 / 3, 6), round(9 / 21, 6), 0.0)
    # doc 1: every bigram count 1 -> tie broken to the smallest gram
    # 'five six' (len 8) over 33 chars
    assert out[1] == (0.0, round(8 / 33, 6), 0.0)
    # doc 2: six 5-gram windows, 'p q r s t' twice (2*9 chars) of the
    # 6 windows' 9+9+9+9+9+9 chars... windows: pqrst,qrstp,rstpq,
    # stpqr,tpqrs,pqrst -> dup mass 2*9 over total 54
    assert out[2] == (0.0, round(2 * 3 / 19, 6), round(18 / 54, 6))


def test_bpe_train_and_apply(spark):
    """Sennrich-style BPE: merges learned greedily by weighted pair
    frequency (ties lexicographic), encode applies lowest-rank-first —
    both pinned on the classic low/lower/newest corpus."""
    df = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "newer new newest low")],
        "doc_id long, text string",
    )
    merges = text.bpe_train_merges(df, "text", n_merges=5)
    assert merges == [
        ("l", "o"), ("lo", "w"), ("e", "w"), ("n", "ew"), ("e", "r")
    ]
    enc = {
        r["doc_id"]: r["units"]
        for r in text.bpe_apply_merges(df, "text", "doc_id", merges).collect()
    }
    assert enc[0] == [
        "low", "low", "er", "low", "e", "s", "t", "low", "low"
    ]
    assert enc[1] == ["new", "er", "new", "new", "e", "s", "t", "low"]
    # no merges -> pure character split
    chars = {
        r["doc_id"]: r["units"]
        for r in text.bpe_apply_merges(
            df.limit(1), "text", "doc_id", []
        ).collect()
    }
    assert chars[0][:8] == list("lowlower")


def test_bpe_train_local_equals_distributed(spark):
    """The bounded driver-side training fast path must produce the
    EXACT merge list of the distributed loop (local_max_words=0
    forces it) — same re-encode-per-round algebra, same weighted
    counts, same count-desc/pair-asc tie-break, same <2 stop."""
    rows = [
        (0, "low lower lowest low low"),
        (1, "newer new newest low"),
        (2, "wide wider widest wide"),
        (3, "aa aa ab ba\tab\nba aa"),
        (4, "solo"),
        # overlap/repeat stress: the incremental local loop advances
        # cached unit lists one sweep per merge, and these words are
        # where a sweep-semantics drift vs the from-scratch greedy
        # re-encode would show (non-overlapping "aaaa"→[aa,aa],
        # "aaa"→[aa,a], self-adjacent learned units)
        (5, "aaaa aaaa aaa aaaaa"),
        (6, "xyxy xyxyxy yxyx"),
        (7, "aaaa aab baa aba"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m_local = text.bpe_train_merges(df, "text", n_merges=10)
    m_dist = text.bpe_train_merges(
        df, "text", n_merges=10, local_max_words=0
    )
    assert m_local == m_dist
    assert len(m_local) >= 5  # the corpus supports at least 5 merges


def test_hamming_near_dup_pairs_lossless(spark):
    """The pigeonhole-blocked Hamming join must equal the full
    pairwise predicate on an adversarial signature set: pairs at the
    exact radius, one past it, and at radius 0."""
    sigs = [
        (0, 0b0),
        (1, 0b111),            # hamming 3 from 0 (at radius)
        (2, 0b1111),           # hamming 4 from 0 (past radius)
        (3, 0b0),              # hamming 0 from 0
        (4, (1 << 63) * -1 + (1 << 62)),  # far negative-bit territory
    ]
    df = spark.createDataFrame(sigs, "vid long, sig long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.hamming_near_dup_pairs(
            df, "sig", "vid", max_hamming=3
        ).collect()
    }
    rows = df.collect()
    want = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            h = bin((a["sig"] ^ b["sig"]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want[(a["vid"], b["vid"])] = h
    assert got == want and (0, 3) in got and (0, 2) not in got


def test_media_fingerprint_portable(spark):
    """media_fingerprint = first 15 md5 hex digits of the payload as a
    positive 60-bit long — byte-identical payloads collide at radius 0,
    any difference lands far away."""
    import hashlib

    rows = [(0, b"same payload"), (1, b"same payload"), (2, b"other")]
    df = spark.createDataFrame(rows, "mid long, payload binary")
    from databricks_flight_etl_spark.operators import multimodal

    got = {
        r["mid"]: r["fingerprint"]
        for r in multimodal.media_fingerprint(
            df, "payload", "mid"
        ).collect()
    }
    exp = int(hashlib.md5(b"same payload").hexdigest()[:15], 16)
    assert got[0] == got[1] == exp and got[2] != exp
    pairs = dedup.hamming_near_dup_pairs(
        multimodal.media_fingerprint(df, "payload", "mid"),
        "fingerprint", "mid", max_hamming=0,
    ).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(0, 1, 0)]


def test_leakage_safe_split(spark):
    """Linked rows always share a split; unlinked rows match plain
    split_assign exactly (same hash, thresholds, salt)."""
    from databricks_flight_etl_spark.operators.sampling import (
        leakage_safe_split, split_assign,
    )

    rows = [(i,) for i in range(200)]
    df = spark.createDataFrame(rows, "rid long")
    # chain 0-1-2, pair (10,11); everything else unlinked
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {
        r["rid"]: r["split"]
        for r in leakage_safe_split(df, "rid", pairs, fr).collect()
    }
    assert got[0] == got[1] == got[2]
    assert got[10] == got[11]
    plain = {
        r["rid"]: r["split"] for r in split_assign(df, "rid", fr).collect()
    }
    linked = {0, 1, 2, 10, 11}
    assert all(got[i] == plain[i] for i in range(200) if i not in linked)
    # cluster members inherit the ROOT's plain label
    assert got[0] == plain[0] and got[10] == plain[10]


def test_ivf_pins_released_on_success_and_raise(spark, monkeypatch):
    """The pinned IVF corpus is freed on every exit. A fit that raises
    after materializing the pin leaves no cached RDD behind. After a
    successful call the cache manager no longer holds the pin; the
    blocks that remain belong to the returned answer (its
    localCheckpoint) or, in semantic_dedup, to the near-dup join's own
    pin, which has no owner yet."""
    import pytest

    vecs = spark.range(64).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), "
        "i -> CAST(pmod(xxhash64(id, i), 97) AS DOUBLE)) AS embedding",
    )
    jsc = spark.sparkContext._jsc.sc()
    fit = similarity._ivf_fit
    pins = []

    def spy(pruned, *a, **kw):
        pins.append(pruned)
        return fit(pruned, *a, **kw)

    def boom(pruned, *a, **kw):
        pruned.count()  # materialize the pin, then fail the fit
        raise RuntimeError("fit failed")

    calls = {
        "ann_topk_ivf_batch": lambda: similarity.ann_topk_ivf_batch(
            vecs, probe_ids=[0, 1], k=3, n_lists=4, iters=1).collect(),
        "semantic_dedup": lambda: similarity.semantic_dedup(
            vecs, threshold=0.99, n_lists=2, iters=1).collect(),
    }
    for name, call in calls.items():
        before = {r.id() for r in jsc.getRDDStorageInfo()}
        monkeypatch.setattr(similarity, "_ivf_fit", boom)
        with pytest.raises(RuntimeError, match="fit failed"):
            call()
        leaked = [str(r) for r in jsc.getRDDStorageInfo()
                  if r.id() not in before]
        assert leaked == [], (name, leaked)

        monkeypatch.setattr(similarity, "_ivf_fit", spy)
        pins.clear()
        call()
        assert pins and all(
            not p.storageLevel.useMemory and not p.storageLevel.useDisk
            for p in pins
        ), name
        spark.catalog.clearCache()


def test_bpe_train_whitespace_rule_matches_kernel(spark):
    """ADVICE r5: training must split words on the SAME whitespace rule
    the encode kernel uses — multi-line text may not contribute pair
    counts across a word boundary the encoder never merges. Newline-
    and tab-separated corpora must train the identical merge list as
    their space-separated equivalent."""
    sp = spark.createDataFrame(
        [(0, "ab ab ab cd cd")], "doc_id long, text string"
    )
    nl = spark.createDataFrame(
        [(0, "ab\nab\tab\ncd \t cd")], "doc_id long, text string"
    )
    m_sp = text.bpe_train_merges(sp, "text", n_merges=3)
    m_nl = text.bpe_train_merges(nl, "text", n_merges=3)
    assert m_sp == m_nl == [("a", "b"), ("c", "d")]
    # the old single-space trainer saw the word "ab\nab" and counted
    # the phantom cross-boundary pair (b, a) — must not appear
    assert ("b", "a") not in m_nl


def test_phash_perturbation_tolerance():
    """r5 verdict task #5: the perceptual kernel must be locality-
    sensitive where the exact md5 kernel is not — identical payloads
    hash identically, small perturbations flip few of the 64 bits,
    unrelated payloads differ in many. Pure numpy, no Spark."""
    import random

    from databricks_flight_etl_spark.operators.multimodal import _phash64

    rng = random.Random(3)
    base = bytes(rng.randrange(256) for _ in range(4096))
    h0 = _phash64(base)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h0, _phash64(base)) == 0
    pert = bytearray(base)
    for i in range(8):
        pert[i * 500] ^= 0xFF
    assert ham(h0, _phash64(bytes(pert))) <= 10
    far = bytes(rng.randrange(256) for _ in range(4096))
    assert ham(h0, _phash64(far)) >= 16
    # degenerate payloads never crash and stay in signed-long range
    for p in (None, b"", b"a", b"ab", bytes(range(9))):
        v = _phash64(p)
        assert -(1 << 63) <= v < (1 << 63)


def test_media_fingerprint_phash_spark_and_hamming_join(spark):
    """The phash kernel end-to-end on Spark: mapInArrow plumbing
    produces one signed-long fingerprint per row matching the local
    kernel, and hamming_near_dup_pairs over it finds the planted
    near-identical payload pair (radius>0 — the exact kernel cannot)."""
    import random

    from databricks_flight_etl_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )
    from databricks_flight_etl_spark.operators.multimodal import (
        _phash64, media_fingerprint,
    )

    rng = random.Random(9)
    payloads = [bytes(rng.randrange(256) for _ in range(2048))
                for _ in range(12)]
    near = bytearray(payloads[0])
    near[100] ^= 0xFF  # 1-byte perturbation of payload 0
    payloads.append(bytes(near))
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    fp = media_fingerprint(df, "payload", "doc_id", kernel="phash")
    got = {r["doc_id"]: r["fingerprint"] for r in fp.collect()}
    assert len(got) == 13
    for i, p in enumerate(payloads):
        assert got[i] == _phash64(p), i
    pairs = hamming_near_dup_pairs(
        fp, "fingerprint", "doc_id", max_hamming=8
    )
    found = {tuple(sorted((r[0], r[1]))) for r in pairs.collect()}
    assert (0, 12) in found
    # exact kernel still the default and radius-0 only
    ex = media_fingerprint(df, "payload", "doc_id")
    exact = {r["doc_id"]: r["fingerprint"] for r in ex.collect()}
    assert exact[0] != exact[12]
    assert all(v >= 0 for v in exact.values())


def test_url_host_edge_cases(spark):
    """url_host: credentials and ports stripped, scheme required,
    non-URLs null, case folded."""
    from databricks_flight_etl_spark.operators.text import url_host

    rows = [
        (0, "https://Example.COM/path?q=1"),
        (1, "http://user:pw@sub.host.org:8080/x"),
        (2, "ftp://files.example.net"),
        (3, "no scheme here.com"),
        (4, "https://"),
        (5, None),
        (6, "custom+x-1://h-1.io#frag"),
    ]
    df = spark.createDataFrame(rows, "i long, u string")
    got = {r["i"]: r["h"]
           for r in df.select("i", url_host("u").alias("h")).collect()}
    assert got == {
        0: "example.com",
        1: "sub.host.org",
        2: "files.example.net",
        3: None,
        4: None,
        5: None,
        6: "h-1.io",
    }


def test_strip_html(spark):
    """strip_html: script/style contents gone, tags/comments gone,
    common entities decoded, whitespace collapsed, non-HTML untouched
    (modulo whitespace collapse)."""
    from databricks_flight_etl_spark.operators.text import strip_html

    rows = [
        (0, "<html><head><STYLE>p{color:red}</STYLE></head>"
            "<body><h1>Title</h1><p>Hello <b>world</b>!</p>"
            "<script type='x'>alert('no');</script></body></html>"),
        (1, "A &amp; B &lt;ok&gt; it&#39;s &nbsp; fine &hellip; end"),
        (2, "plain   text\n unchanged"),
        (3, "<!-- secret --><div\nclass='x'>multi\nline</div>"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "i long, h string")
    got = {r["i"]: r["t"]
           for r in df.select("i", strip_html("h").alias("t")).collect()}
    assert got[0] == "Title Hello world !"
    assert got[1] == "A & B <ok> it's fine end"
    assert got[2] == "plain text unchanged"
    assert got[3] == "multi line"
    assert got[4] is None


def test_strip_html_escaped_entities_decode_once(spark):
    """Round-6 ADVICE: &amp; decodes LAST, so double-escaped entities
    render their literal form — '&amp;lt;' is the TEXT '&lt;', not a
    '<'; '&amp;nbsp;' survives as '&nbsp;' instead of being blanked."""
    from databricks_flight_etl_spark.operators.text import strip_html

    rows = [
        (0, "a &amp;lt; b"),          # literal '&lt;' in the source text
        (1, "x &amp;nbsp; y"),        # literal '&nbsp;'
        (2, "&amp;amp;"),             # literal '&amp;'
        (3, "&AMP; &amp; &Amp;"),     # case-insensitive, single decode
        (4, "&amp;hellip; &hellip;"), # literal survives, real one blanks
    ]
    df = spark.createDataFrame(rows, "i long, h string")
    got = {r["i"]: r["t"]
           for r in df.select("i", strip_html("h").alias("t")).collect()}
    assert got[0] == "a &lt; b"
    assert got[1] == "x &nbsp; y"
    assert got[2] == "&amp;"
    assert got[3] == "& & &"
    assert got[4] == "&hellip;"


def test_strip_html_adversarial_fixtures(spark):
    """Pin the DOCUMENTED non-DOM failure modes (round-6 verdict
    stretch #8) so they are test-visible contracts, not prose:
    attributes containing '>', unclosed <script>, and CDATA sections.
    A regexp is not a DOM parser; these assert today's exact behavior."""
    from databricks_flight_etl_spark.operators.text import strip_html

    rows = [
        # '>' inside an attribute value: the tag regex stops at the
        # FIRST '>', so the attribute tail leaks into the text — the
        # documented caveat, pinned.
        (0, '<a title="a>b">link</a>'),
        # unclosed <script>: the lazy block pattern never matches (no
        # closing tag), the tag pass eats only the tags, so script
        # SOURCE leaks as text — documented, pinned.
        (1, "before<script>var x = 1;"),
        # CDATA: not markup to a regexp — the tag pattern eats from
        # '<![CDATA[' through the FIRST '>' (swallowing 'raw <b'
        # since [^>]* admits '<'); the remainder is text.
        (2, "<p>t</p><![CDATA[raw <b>bytes</b>]]>"),
        # properly closed script right next to an unclosed style: the
        # closed one is dropped with contents, the unclosed style's
        # contents leak.
        (3, "<script>gone()</script>ok<style>p{}"),
    ]
    df = spark.createDataFrame(rows, "i long, h string")
    got = {r["i"]: r["t"]
           for r in df.select("i", strip_html("h").alias("t")).collect()}
    assert got[0] == 'b">link'
    assert got[1] == "before var x = 1;"
    assert got[2] == "t bytes ]]>"
    assert got[3] == "ok p{}"

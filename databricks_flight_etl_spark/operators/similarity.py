"""X2 similarity search over embedding columns (SURVEY §2.11).

Baseline: brute-force cosine top-k — a broadcast of the (tiny) probe
row cross-joined against the corpus, dot products via built-in
``zip_with``/``aggregate`` higher-order functions (JVM-side, sequential
left-fold → deterministic summation order), then TakeOrderedAndProject.
Linear scan, no shuffle of the corpus: the right shape when the probe
set is small.

Scale path: random-hyperplane LSH (``hyperplane_bucket``) assigns each
vector a signature; candidate generation is an equi-join on the bucket
key (shuffle on a short int key instead of a cartesian product), then
exact cosine re-ranking within buckets. Cf. PAPERS.md (REPOSE ICDE 2021;
top-k similarity EDBT 2020) for the distributed top-k pattern.
"""

from __future__ import annotations

import math
import random
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import local_df, spread

__all__ = ["dot", "l2_norm", "cosine", "cosine_topk", "cosine_topk_batch",
           "cosine_topk_pandas",
           "hyperplane_bucket", "ann_topk_lsh", "ann_topk_lsh_multiprobe",
           "cosine_near_dup_pairs",
           "ivf_centroids", "ivf_assign",
           "ann_topk_ivf_batch",
           "quantize_embeddings", "dequantize_embeddings",
           "semantic_dedup",
           "group_vector_mean", "centroid_outlier_scores",
           "project_embeddings",
]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left-fold aggregate (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first NON-NULL vector (a null embedding
    that happens to land first in partition order must not make the
    operator treat the whole dataset as empty). Returns None only when
    every row's vector is NULL (or df is empty)."""
    first = (
        df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    )
    if first is None or first[0] is None:
        return None
    return len(first[0])


def cosine_topk(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against the row whose ``id_col`` equals
    ``probe_id``. Output (vec_id, cosine), ordered (cos desc, id asc).

    float32 embeddings are cast to double BEFORE any arithmetic so both
    engines (and any oracle) do the same IEEE math.
    """
    probe = df.filter(F.col(id_col) == probe_id).select(
        _as_double(vec_col).alias("__pv")
    )
    # spread the corpus before scoring: the fold-based dot is the hot
    # map work and must not run on a single under-split scan task
    corpus = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    joined = corpus.crossJoin(F.broadcast(probe))
    cos = cosine(F.col("__v"), F.col("__pv"))
    return (
        joined.select(F.col(id_col), cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__cos"), decimals).alias("cosine"))
    )


def _banded_buckets_pandas(planes: list[list[float]], r: int, n_bands: int):
    """Arrow-batched banded-LSH bucketing: ONE numpy matmul per batch
    ((batch × dim) @ (dim × r·n_bands)) instead of compiling r·n_bands·dim
    plane literals into whole-stage codegen (which dominates wall time
    once the plane count is corpus-scaled). Returns array<long> of one
    bucket per band; bit j of a band's bucket is sign(v·plane_j), the
    same layout as ``hyperplane_bucket``."""
    import numpy as np
    import pandas as pd

    P = np.asarray(planes, dtype=np.float64).T  # dim × (r·n_bands)
    w = (1 << np.arange(r)).astype(np.int64)

    # no type hints: under `from __future__ import annotations` they
    # arrive as strings, which pandas_udf's signature inspection rejects
    def _kernel(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vs.to_numpy())              # batch × dim
        bits = (m @ P) >= 0                      # batch × (r·n_bands)
        bits = bits.reshape(len(m), n_bands, r)
        b = (bits * w).sum(axis=2).astype(np.int64)  # batch × n_bands
        return pd.Series(list(b))

    return F.pandas_udf(_kernel, "array<long>")


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    decimals: int = 6,
    salt: int = 1,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, cosine) with
    cosine ≥ threshold and id_a < id_b.

    ``salt > 1`` splits each block's quadratic pair work across
    ``salt`` reducers: side A keys by (block, xxhash64(id) % salt),
    side B replicates ``salt``× so every pair still meets exactly
    once. Per-pair arithmetic is unchanged (oracle-stable). Use when
    blocks are FEW and large — the n_lists=1 certification config
    previously funneled all N²/2 pairs through ONE task (15.6 s at
    sf0.1). Production banded/corpus-scaled configs have many small
    blocks and want salt=1 (replication would just multiply shuffle
    volume).

    Candidate generation is a self-equi-join on ``block_col`` (a label,
    shard, or precomputed LSH bucket — see ``hyperplane_bucket``), never
    a full cross join: per-block pairs are quadratic only in the block
    size, and the join shuffles (id, vector, norm) co-located by block.

    With ``block_col=None`` BANDED hyperplane LSH is derived from the
    vectors themselves, sized for the corpus (a fixed plane count would
    make per-bucket pair work (N/2^p)² — quadratic at scale):

    - planes per band ``r = clamp(ceil(log2(N / 128)), 8, 20)`` keeps
      expected bucket occupancy ≈128, so per-band candidate work stays
      ~128·N — LINEAR in N at any scale;
    - band count ``b = clamp(ceil(ln(10) / q^r), 1, 16)`` with
      ``q = 1 − arccos(threshold)/π`` (the per-plane collision
      probability) targets ~90% recall: a pair is a candidate if ANY
      band agrees, P = 1 − (1 − q^r)^b.

    Approximate by construction (cross-band misses survive); exact
    within candidates. Norms are computed once per side before the
    banding explode; float32 input is cast to double first.
    """
    v = spread(
        df.select(
            F.col(id_col),
            _as_double(vec_col).alias("__v"),
            *([F.col(block_col).alias("__blk")] if block_col else []),
        )
    )
    banded = False
    if block_col is None:
        dim = _infer_dim(df, vec_col)
        if dim is None:  # empty/all-null corpus → empty result, not a crash
            return v.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        n_rows = df.count()  # one bounded count over the pruned scan
        r = max(8, min(20, math.ceil(math.log2(max(n_rows, 2) / 128.0))))
        q = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        n_bands = max(1, min(16, math.ceil(math.log(10.0) / max(q**r, 1e-12))))
        banded = n_bands > 1
        planes = _hyperplanes(dim, r * n_bands, seed=42)
        bucket_arr = _banded_buckets_pandas(planes, r, n_bands)(F.col("__v"))
        v = (
            v.withColumn("__n", l2_norm(F.col("__v")))
            .select(
                F.col(id_col), "__v", "__n",
                F.posexplode(bucket_arr).alias("__band", "__bucket"),
            )
            .withColumn("__blk", F.struct("__band", "__bucket"))
            .drop("__band", "__bucket")
        )
    else:
        v = v.withColumn("__n", l2_norm(F.col("__v")))
    # both self-join sides read v: pin it so the spread exchange,
    # the banding dots, and the norm compute ONCE
    from pyspark.storagelevel import StorageLevel

    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__blk",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__blk",
    )
    join_keys = ["__blk"]
    if salt > 1:
        a = a.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.col("id_a").cast("string")), F.lit(salt)
            ).cast("int"),
        )
        b = b.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
        )
        join_keys = ["__blk", "__salt"]
    cos = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    out = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("__cos"))
        .where(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round("__cos", decimals).alias("cosine"))
    )
    if banded:
        # a pair colliding in several bands appears once per band; the
        # dedup shuffle runs AFTER the threshold filter, so it moves
        # only surviving (id, id, cosine) triples, not vectors
        out = out.distinct()
    return out


def cosine_topk_batch(
    df: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Top-k neighbors for MANY probes in one job: broadcast the probe
    rows, cross-join corpus×probes (|corpus|·|probes| scored pairs, one
    corpus scan), rank per probe with a window. Output
    (probe_id, vec_id, rank, cosine), total order per probe.

    The retrieval shape that matters in practice — per-query jobs waste
    a full scan per probe; this amortizes one scan across the batch.
    For probe batches too large to broadcast, switch to the IVF index
    (ann_topk_ivf_batch) and join probes to their lists instead.
    """
    probes = df.filter(F.col(id_col).isin(*probe_ids)).select(
        F.col(id_col).alias("probe_id"), _as_double(vec_col).alias("__pv")
    )
    corpus = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        F.col(id_col),
        cosine(F.col("__v"), F.col("__pv")).alias("__cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("__cos"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "probe_id",
            id_col,
            "rank",
            F.round("__cos", decimals).alias("cosine"),
        )
    )


def cosine_topk_pandas(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """``cosine_topk`` with the dot products computed in Arrow-batched
    Python (numpy matmul per batch via ``mapInPandas``) instead of JVM
    higher-order functions.

    The alternative hot path when vectors are wide: numpy's BLAS matmul
    beats the element-wise JVM fold at high dimensions, at the price of
    Arrow transfer. Same results as the built-in version (pinned by
    test) — choose per profile, not per taste.

    The corpus is not spread (``partitioning.spread``): every task of the
    scoring stage is a Python worker process (~110 MB resident with
    pandas and numpy loaded) plus the per-task Arrow floor, where a
    ``cosine_topk`` task is a JVM thread. So the stage takes the scan's
    own split count: the 193 KB sf0.01 embeddings file scores in ONE
    task (one worker instead of four), and a larger corpus arrives in
    as many splits as Spark's file splitting gives it.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    probe = df.filter(F.col(id_col) == probe_id).select(
        _as_double(vec_col).alias("__pv")
    ).first()
    if probe is None:
        raise ValueError(f"probe {id_col}={probe_id} not found in corpus")
    pv = np.asarray(probe["__pv"], dtype=np.float64)
    pn = np.sqrt(pv @ pv)

    src = df.select(
        F.col(id_col).cast("long").alias("__id"),
        _as_double(vec_col).alias("__v"),
    )
    out_schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("__cos", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            m = np.stack(pdf["__v"].to_numpy())    # (batch, dim) float64
            dots = m @ pv
            norms = np.sqrt((m * m).sum(axis=1))
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__cos": dots / (norms * pn)}
            )

    scored = src.mapInPandas(kernel, out_schema)
    return (
        scored.orderBy(F.desc("__cos"), F.asc("__id"))
        .limit(k)
        .select(
            F.col("__id").alias(id_col),
            F.round("__cos", decimals).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer → per-list inverted
# index → probe the nearest n_probe lists only. The scale path beyond LSH:
# at 100 TB the corpus is written partitioned by list_id, so a query scans
# n_probe/n_lists of the data with partition pruning doing the skipping.

def _unit(v: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The IVF corpus: (``id_col``, __v array<double>) with NULL
    embeddings dropped — a null vector can't be a neighbor, and
    np.asarray(None) isn't stackable in the Arrow kernels."""
    return spread(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _as_double(vec_col).alias("__v"))
    )


@contextmanager
def _pinned(df: DataFrame):
    """Persist ``df`` (MEMORY_AND_DISK) for the ``with`` body and
    unpersist it on every exit, raise included. The Lloyd rounds and
    the final assignment all re-execute down to this cache instead of
    the source scan; a frame returned past the block must already be
    materialized (localCheckpoint or an eager result), or its action
    would recompute the corpus from the source."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


def _centroid_dots(centroids: list[list[float]]):
    """``dots(vs)``: stack a pandas column of vectors into a (batch ×
    dim) float64 matrix ``m`` and return ``(m, m @ C)`` against the
    (dim × n_lists) centroid matrix. The one numpy step the Lloyd,
    assignment and probe kernels share, so the fit counts each vector
    in the same list the Arrow assignment puts it in. A closure, so
    cloudpickle ships it to the Python workers by value instead of
    making each worker import this package."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, n_lists)

    def dots(vs):
        m = np.stack(vs.map(lambda v: np.asarray(v, dtype=np.float64)))
        return m, m @ cmat

    return dots


def _ivf_fit(
    pruned: DataFrame,
    id_col: str,
    n_lists: int,
    iters: int,
) -> list[list[float]]:
    """Lloyd fit over an already-projected (``id_col``, __v) frame the
    CALLER pins — every round re-executes the lineage down to the
    cache, not to the source scan. Seeds: the ``n_lists`` vectors of
    smallest xxhash64(id) (seeded 'random' sample without an RNG)."""
    seeds = (
        pruned.select(
            "__v",
            F.xxhash64(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h", "__v")
        .limit(n_lists)
        .collect()
    )
    cents = [_unit(list(r["__v"])) for r in seeds]
    if iters <= 0 or not cents:  # empty corpus -> no codebook, not a crash
        return cents
    dim = len(cents[0])

    import numpy as np
    import pandas as pd

    for _ in range(iters):
        # fused assign + per-list partial sums in ONE compile-free Arrow
        # pass: each batch yields at most n_lists partial rows
        # (list, n, sum vector), so the driver combines
        # O(partitions × n_lists) rows and NOTHING shuffles — the
        # classic distributed-k-means step. (The previous shape — an
        # assignment pass feeding a dim-wide avg hash agg — paid a
        # janino compile of dim aggregate expressions per fit plus a
        # shuffle per round.)
        dots = _centroid_dots(cents)

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m, d = dots(pdf["__v"])
                lists = d.argmax(axis=1)
                out_l, out_n, out_s = [], [], []
                for li in np.unique(lists):
                    sel = m[lists == li]
                    out_l.append(int(li))
                    out_n.append(sel.shape[0])
                    out_s.append(sel.sum(axis=0))
                yield pd.DataFrame(
                    {"l": out_l, "n": out_n, "s": out_s})

        partials = pruned.mapInPandas(
            kernel, "l int, n long, s array<double>"
        ).collect()
        sums = np.zeros((n_lists, dim))
        counts = np.zeros(n_lists)
        for r in partials:
            sums[r["l"]] += np.asarray(r["s"])
            counts[r["l"]] += r["n"]
        # empty lists keep their previous centroid; plain Python floats
        # (np.float64 elements poison later createDataFrame calls)
        cents = [
            _unit([float(x) for x in sums[i] / counts[i]])
            if counts[i] else cents[i]
            for i in range(n_lists)
        ]
    return cents


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic coarse quantizer: seed with the ``n_lists`` vectors
    of smallest xxhash64(id) (seeded 'random' sample without an RNG),
    then ``iters`` distributed Lloyd steps — each one ``mapInPandas``
    pass that assigns every vector and emits per-batch, per-list
    partial sums, which the driver combines into the new means. Only
    the (n_lists × dim) centroid table ever reaches the driver."""
    with _pinned(_vectors(df, id_col, vec_col)) as pruned:
        return _ivf_fit(pruned, id_col, n_lists, iters)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """Attach the IVF list id (nearest-centroid index) — the column to
    partition/cluster the stored index by. The argmax is one numpy
    (batch × dim) @ (dim × n_lists) matmul per Arrow batch, the same
    step the Lloyd fit assigns with (``_centroid_dots``), so the final
    index puts every vector in the list the fit counted it in. Ties go
    to the lower index (numpy argmax returns the first maximum). A NULL
    embedding gets a NULL list id; an empty codebook gives a NULL column.
    """
    from pyspark.sql import types as T

    if not centroids:  # empty-corpus codebook: typed null, not a crash
        return df.withColumn(out_col, F.lit(None).cast("int"))
    dots = _centroid_dots(centroids)
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(fields + [T.StructField(out_col, T.IntegerType())])
    cols = [f.name for f in fields]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = pdf[cols].copy()
            vs = pdf[vec_col]
            ok = vs.notna().to_numpy()
            lists = pd.array([None] * len(pdf), dtype="Int32")
            if ok.any():
                lists[ok] = dots(vs[ok])[1].argmax(axis=1)
            out[out_col] = lists
            yield out

    return df.mapInPandas(kernel, out_schema)


def _probe_lists_pandas(
    probes: DataFrame, centroids: list[list[float]], n_probe: int
) -> DataFrame:
    """Per-probe nearest-``n_probe`` inverted lists, exploded to
    (probe_id, __pv, __list) rows: one numpy matmul + stable argsort
    per Arrow batch. Stays distributed — a million-probe batch never
    funnels through the driver."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    dots = _centroid_dots(centroids)
    out_schema = T.StructType([
        probes.schema["probe_id"],
        probes.schema["__pv"],
        T.StructField("__list", T.IntegerType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # stable argsort of −dot: ties keep the LOWER list index,
            # the same tie rule as the assignment's argmax
            order = np.argsort(-dots(pdf["__pv"])[1], axis=1, kind="stable")
            top = order[:, :n_probe].astype("int32")
            k = top.shape[1]
            yield pd.DataFrame({
                "probe_id": pdf["probe_id"].repeat(k).values,
                "__pv": pdf["__pv"].repeat(k).values,
                "__list": top.reshape(-1),
            })

    return probes.mapInPandas(kernel, out_schema)


def _ivf_probe_plan(
    df: DataFrame,
    pruned: DataFrame,
    probe_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
    n_lists: int,
    n_probe: int,
    iters: int,
    decimals: int,
) -> DataFrame:
    """The lazy plan behind :func:`ann_topk_ivf_batch` over the pinned
    corpus ``pruned`` (:func:`_vectors` of ``df``). Runs the fit
    eagerly; the returned frame still reads the pin."""
    from pyspark.sql import Window

    # one pinned (id, vec) corpus feeds BOTH the Lloyd rounds and the
    # final index assignment
    cents = _ivf_fit(pruned, id_col, n_lists, iters)
    assigned = ivf_assign(pruned, cents, "__v", "__list")

    # probes come from the RAW df, not the spread corpus: the isin
    # filter pushes to the scan, instead of paying the corpus-wide
    # repartition just to extract a handful of probe rows
    probes = df.filter(
        F.col(id_col).isin(*probe_ids) & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("probe_id"),
        _as_double(vec_col).alias("__pv"),
    )
    probe_lists = _probe_lists_pandas(probes, cents, n_probe)
    cands = assigned.join(F.broadcast(probe_lists), "__list")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("__cos"), F.asc(id_col)
    )
    return (
        cands.select(
            "probe_id",
            F.col(id_col),
            cosine(F.col("__v"), F.col("__pv")).alias("__cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "probe_id",
            id_col,
            "rank",
            F.round("__cos", decimals).alias("cosine"),
        )
    )


def ann_topk_ivf_batch(
    df: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    decimals: int = 6,
) -> DataFrame:
    """IVF ANN top-k: each probe scans only its ``n_probe`` nearest
    inverted lists, exact cosine re-rank within them; one corpus pass
    serves the whole batch, and a single probe is a batch of one.
    Output (probe_id, vec_id, rank, cosine), total order per probe. A
    probe id missing from ``df`` (or with a NULL embedding) yields no
    rows. Recall misses only when a true neighbor's list ranks below
    ``n_probe``; ``n_probe = n_lists`` is exact brute force.

    All per-probe work stays engine-side: each probe's centroid
    ranking is one numpy matmul + stable argsort per Arrow batch
    (:func:`_probe_lists_pandas`), exploded into (probe, list) rows and
    broadcast, so candidate generation is an equi-join on list_id
    against the assigned corpus — at 100 TB with the corpus stored
    partitioned by list_id, that is a partition-prunable scan of the
    union of the probes' lists.

    The |probes|×k answer is materialized (localCheckpoint) so the
    pinned corpus is freed before returning — no persisted corpus
    leaks per call in long-lived sessions.
    """
    with _pinned(_vectors(df, id_col, vec_col)) as pruned:
        return _ivf_probe_plan(
            df, pruned, probe_ids, k, id_col, vec_col,
            n_lists, n_probe, iters, decimals,
        ).localCheckpoint()


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: integer whose bit i is sign(v·hᵢ).
    Vectors with equal signatures are 'probable neighbors' under cosine."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the probe's LSH
    bucket, then re-rank by exact cosine. At 100 TB this replaces a full
    corpus scan per probe with a partition-prunable equi-match on the
    bucket column (precompute + partition/Z-order by bucket in practice).

    Recall is approximate by construction (bucket boundary misses) —
    rows-only harness check; the exact variant is the oracle-certified
    one.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    vecs = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    bucketed = vecs.withColumn("__b", hyperplane_bucket(F.col("__v"), planes))
    probe = (
        bucketed.filter(F.col(id_col) == probe_id)
        .select(F.col("__v").alias("__pv"), F.col("__b").alias("__pb"))
    )
    cands = bucketed.join(
        F.broadcast(probe), bucketed["__b"] == probe["__pb"], "inner"
    )
    cos = cosine(F.col("__v"), F.col("__pv"))
    return (
        cands.select(F.col(id_col), cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__cos"), decimals).alias("cosine"))
    )


def ann_topk_lsh_multiprobe(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_flip: int = 1,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): scan the probe's
    bucket PLUS every bucket whose signature differs in ≤ ``n_flip``
    bits, exact cosine re-rank over the union.

    A true neighbor lands in a different bucket only when some v·hᵢ
    signs differ — almost always by ONE borderline plane — so probing
    Hamming-adjacent buckets recovers most single-table LSH misses
    without building extra hash tables (the classic recall/tables
    trade). Spark shape: the probe row is exploded into its
    C(n_planes,≤n_flip)+1 candidate signatures and broadcast; candidate
    generation stays an equi-join on the bucket key, so at 100 TB it is
    still a partition-prunable match on a stored bucket column — just
    n_probe partitions instead of one. Superset-of-single-probe by
    construction.
    """
    masks = [
        m for m in range(1 << n_planes) if bin(m).count("1") <= n_flip
    ]
    planes = _hyperplanes(dim, n_planes, seed)
    vecs = spread(df.select(F.col(id_col), _as_double(vec_col).alias("__v")))
    bucketed = vecs.withColumn("__b", hyperplane_bucket(F.col("__v"), planes))
    probe = bucketed.filter(F.col(id_col) == probe_id).select(
        F.col("__v").alias("__pv"), F.col("__b").alias("__pb0")
    )
    # one probe row → one row per candidate signature (XOR flips stay
    # engine-side: no collect of the bucket to the driver)
    probe_buckets = probe.select(
        "__pv",
        F.explode(
            F.array(*[F.col("__pb0").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("__pb"),
    )
    cands = bucketed.join(
        F.broadcast(probe_buckets), bucketed["__b"] == probe_buckets["__pb"]
    )
    cos = cosine(F.col("__v"), F.col("__pv"))
    return (
        cands.select(F.col(id_col), cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("__cos"), decimals).alias("cosine"))
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, q_col: str = "qvec",
    amax_col: str = "amax",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    lever for ANN at corpus scale (4× smaller than float32, 8× smaller
    than float64; int8 dot products SIMD-vectorize downstream).

    q_i = clamp(floor(x_i · 127/amax + 0.5), −127, 127) with
    amax = max|x_i|; the per-vector ``amax`` column is kept for
    dequantization (x̂_i = q_i · amax/127, max error amax/254 per
    coordinate). All-zero vectors quantize to zeros with amax 0.
    Everything is element-wise double arithmetic on IEEE-exact inputs
    (float32 → double widening is exact), so any engine reproduces the
    codes bit-for-bit — the oracle certifies that. Narrow projection,
    no shuffle."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.floor(x * scale + F.lit(0.5)).cast("int")),
        ),
    )
    return df.withColumn(amax_col, amax).withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame, q_col: str = "qvec", amax_col: str = "amax",
    out_col: str = "vec_hat",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x̂_i = q_i · amax/127
    (zeros when amax is 0). Element-wise, shuffle-free."""
    amax = F.col(amax_col)
    inv = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda q: q.cast("double") * inv),
    )


def reconstruct_embeddings_int8(
    df: DataFrame, vec_col: str, out_col: str = "vec_hat",
) -> DataFrame:
    """``dequantize_embeddings(quantize_embeddings(df))`` fused into
    ONE array pass: x̂_i = clamp(floor(x_i·127/amax + 0.5), −127, 127)
    · amax/127 with amax hoisted to a per-row column (inlining it in
    the lambda would re-reduce the array per ELEMENT — O(d²)/row,
    measured 3× slower). Bit-identical to the composed pair — the same
    per-element double ops in the same order; the int8 codes are
    computed inside the lambda but never materialized as a column —
    pinned by the fused-equals-composed unit test.

    Exists for pipelines that only need the RECONSTRUCTION (int8
    round-trip error analysis, quantized near-dup certification):
    the composed chain pushes three generated array projections
    (amax, qvec, vec_hat) through codegen and pays their first-run
    interpreted/JIT floor — measured 2.6 s cold vs 0.3 s warm for the
    sf0.1 persist stage of q_embed_dup_int8; the fused pass roughly
    halves the cold floor and drops an intermediate array per row at
    any scale. Keep :func:`quantize_embeddings` when the codes
    themselves are the output."""
    v0 = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax_col = f"__amax_{out_col}"
    if amax_col in df.columns:
        # withColumn would silently OVERWRITE the caller's column and
        # the final drop would delete their data (r12 ADVICE) — fail
        # loudly like temporal.py's join-collision guard does.
        raise ValueError(
            f"input column {amax_col!r} collides with the operator's "
            f"internal staging name; rename it or pick another out_col"
        )
    t = df.withColumn(
        amax_col, F.array_max(F.transform(v0, lambda x: F.abs(x)))
    )
    amax = F.col(amax_col)
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    inv = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    vhat = F.transform(
        v0,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.floor(x * scale + F.lit(0.5)).cast("int")),
        ).cast("double") * inv,
    )
    return t.withColumn(out_col, vhat).drop(amax_col)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_lists: int | None = None,
    iters: int = 2,
    target_cluster_rows: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): rows
    whose embeddings are near-identical in meaning collapse to one
    representative. Pipeline: deterministic k-means coarse clusters
    (``ivf_centroids`` — seeded by hash, no RNG) → within-cluster
    cosine pairs ≥ threshold (quadratic only in CLUSTER size, never
    corpus size) → connected components → keep the min-id member per
    component.

    The scale story is the clustering: at 100 TB the all-pairs matrix
    is impossible, but per-cluster work is (N/n_lists)² per list and
    the cluster id is an equi-join key, so candidate generation is one
    co-located shuffle. Cross-cluster near-dups are missed by
    construction (the SemDeDup trade-off); ``n_lists=1`` degrades to
    exact brute force, which is what the certification query runs.

    ``n_lists=None`` (default) CORPUS-SCALES the cluster count to
    ~``target_cluster_rows`` rows per cluster — a FIXED n_lists makes
    per-cluster pair work (N/k)²·k = N²/k, i.e. quadratic in the
    corpus (measured 102× time at 30× data in the scale probe before
    this default). With scaled k the pair stage is ~target·N — linear.
    Assignment cost is N·k dot products, one numpy matmul per Arrow
    batch (:func:`ivf_assign`), whose constant keeps it off the
    critical path well past 10⁶ lists; the
    auto value caps at 4096 — beyond that (N ≫ 10⁶ rows), pass an
    explicit ``n_lists`` sized to your cluster budget or pre-cluster
    hierarchically (two-level IVF) before calling this.

    Returns the surviving rows of ``df`` (schema unchanged)."""
    from .graph import dedup_survivors

    if n_lists is None:
        n = df.count()
        if n == 0:
            return df
        n_lists = max(
            1, min(4096, n, max(16, -(-n // target_cluster_rows)))
        )
    # prune to (id, vec) before clustering: the full-width rows never
    # enter the Lloyd rounds, the assignment Arrow transfer, or the
    # within-cluster pair join — only the final anti-join sees them.
    # Null-embedding rows are excluded (they can't be near-dups) and
    # therefore always SURVIVE via the anti-join passthrough.
    with _pinned(_vectors(df, id_col, vec_col)) as pruned:
        cents = _ivf_fit(pruned, id_col, n_lists=n_lists, iters=iters)
        assigned = ivf_assign(pruned, cents, "__v", "__list")
        # fewer blocks than cores (the n_lists=1 certification config
        # in the limit) → salt the pair join so the quadratic work
        # spreads; corpus-scaled configs have n_lists ≫ cores and keep
        # salt=1
        par = df.sparkSession.sparkContext.defaultParallelism
        pairs = cosine_near_dup_pairs(
            assigned, threshold=threshold, id_col=id_col, vec_col="__v",
            block_col="__list",
            salt=max(1, min(32, -(-par // n_lists))),
        )
        # dedup_survivors materializes the component labels (the pair
        # lineage's terminal), so the returned anti-join no longer
        # reads the pin
        return dedup_survivors(df, pairs, id_col)


def ivf_assign_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_super: int = 64,
    n_sub: int = 64,
    iters: int = 2,
    out_col: str = "list_id",
) -> DataFrame:
    """Hierarchical coarse quantization — the scale path past the flat
    4096-list cap (at 10⁹+ rows a flat codebook either blows the
    driver's centroid table or leaves clusters quadratic-sized).
    Two-level residual scheme (the FAISS IVF-with-shared-residual-
    codebook shape): level 1 fits ``n_super`` centroids on the
    vectors; level 2 fits ONE SHARED codebook of ``n_sub`` centroids
    on the residuals v − c_super(v) across all super-lists. Composite
    ``out_col`` = super·n_sub + sub gives up to n_super × n_sub cells
    (4096² ≈ 16.7 M) from two driver-sized fits — no per-super loop,
    no >4096-wide codebook ever materializes.

    Degenerate certification: ``n_sub=1`` skips the residual level and
    is BIT-IDENTICAL to flat ``ivf_assign`` at n_lists=n_super (pinned
    by test); n_super=1, n_sub=1 degrades to brute force, which the
    exact-oracle query certifies end-to-end.

    Output: ``df``'s columns plus ``out_col`` (long)."""
    # null-embedding rows skip the fit/assign entirely and come back
    # with a NULL list id via the left join below — matching flat
    # ivf_assign's null-in → null-out. The narrow (id, list_id)
    # assignment — in production this IS the stored index — is
    # materialized inside the pins, so both caches are freed on return.
    with _pinned(_vectors(df, id_col, vec_col)) as pruned:
        super_cents = _ivf_fit(pruned, id_col, n_super, iters)
        assigned = ivf_assign(pruned, super_cents, "__v", "__super")
        if n_sub <= 1:
            out = assigned.select(
                F.col(id_col),
                F.col("__super").cast("long").alias(out_col),
            ).localCheckpoint()
        else:
            cent_rows = [(i, c) for i, c in enumerate(super_cents)]
            cent_df = local_df(
                df.sparkSession, cent_rows,
                "__super int, __cent array<double>",
            )
            # residual = v − c_super(v): broadcast the n_super-row
            # centroid table; the corpus never shuffles
            resid = assigned.join(F.broadcast(cent_df), "__super").select(
                F.col(id_col),
                F.col("__super"),
                F.zip_with("__v", "__cent", lambda a, b: a - b).alias("__v"),
            )
            with _pinned(resid) as resid:
                sub_cents = _ivf_fit(resid, id_col, n_sub, iters)
                out = ivf_assign(resid, sub_cents, "__v", "__sub").select(
                    F.col(id_col),
                    (
                        F.col("__super").cast("long") * F.lit(n_sub)
                        + F.col("__sub")
                    ).alias(out_col),
                ).localCheckpoint()
    return df.join(out, id_col, "left")


def semantic_dedup_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_super: int = 64,
    n_sub: int = 64,
    iters: int = 2,
) -> DataFrame:
    """:func:`semantic_dedup` with :func:`ivf_assign_two_level`
    clustering — the >4096-cell regime. Same contract: surviving rows
    of ``df``, min-id member per near-dup component kept. Cross-cell
    near-dups are missed by construction (the SemDeDup trade, now per
    composite cell)."""
    from .graph import dedup_survivors

    assigned = ivf_assign_two_level(
        df.select(F.col(id_col), F.col(vec_col)),
        id_col, vec_col, n_super, n_sub, iters, out_col="__list",
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = cosine_near_dup_pairs(
        assigned, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col="__list",
        salt=max(1, min(32, -(-par // (n_super * n_sub)))),
    )
    return dedup_survivors(df, pairs, id_col)


def group_vector_mean(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group element-wise mean vector (class prototypes / centroid
    table): scalar rows (group, idx, mean). Computed as ``dim`` scalar
    avg aggregates in ONE hash aggregate — the ivf_centroids trick —
    so the shuffle carries per-group partial sums, never a dim× row
    blowup (posexplode-before-groupBy would push dim·N rows through
    the exchange). The output explode happens after aggregation, on
    |groups| rows."""
    dim = _infer_dim(df, vec_col)
    if dim is None:
        return local_df(
            df.sparkSession, [], f"{group_col} string, idx int, mean double")
    v = _as_double(vec_col)
    agg = df.groupBy(group_col).agg(
        *[F.avg(v[i]).alias(f"m_{i}") for i in range(dim)]
    )
    pairs = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("idx"),
                     F.col(f"m_{i}").alias("mean"))
            for i in range(dim)
        ])
    ).alias("p")
    return agg.select(group_col, pairs).select(
        group_col, "p.idx", "p.mean")


def centroid_outlier_scores(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_max_groups: int = 100_000,
) -> DataFrame:
    """Semantic-outlier scores for curation (SemDeDup-adjacent): each
    row's cosine to its GROUP's mean embedding — mislabeled or noisy
    documents sit far from their class prototype, so the curation
    filter is 'drop the bottom quantile of cos_centroid per group'.

    Plan: the centroid is ``dim`` scalar avg aggregates in ONE hash
    aggregate (the :func:`group_vector_mean` shape — partial sums
    through the exchange, never a dim× posexplode blowup); the
    |groups|-row centroid table joins back onto the membership, with
    the broadcast hint GATED on a measured group count (millions of
    groups × dim doubles would OOM under an unconditional hint — the
    dedup_survivors lesson; above the gate AQE still broadcasts at
    runtime if stats allow); the cosine is the deterministic
    zip_with/fold. One shuffle total, then narrow maps. Output:
    (id, group, cos_centroid) — ranking/thresholding is the caller's
    policy.
    """
    dim = _infer_dim(df, vec_col)
    if dim is None:
        return local_df(
            df.sparkSession, [],
            f"{id_col} long, {group_col} string, cos_centroid double",
        )
    df = df.where(F.col(vec_col).isNotNull())
    v = _as_double(vec_col)
    cent = (
        df.groupBy(group_col)
        .agg(*[F.avg(v[i]).alias(f"__m_{i}") for i in range(dim)])
        .select(
            group_col,
            F.array(*[F.col(f"__m_{i}") for i in range(dim)]).alias("__cent"),
        )
    )
    if broadcast_max_groups and cent.count() <= broadcast_max_groups:
        cent = F.broadcast(cent)
    return (
        df.join(cent, group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            cosine(v, F.col("__cent")).alias("cos_centroid"),
        )
    )


def _jl_signs(dim: int, out_dim: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 sign matrix for the JL projection, derived from
    md5 (hashlib — plain public derivation, reproducible anywhere):
    sign[j][i] = +1 if the first hex nibble of md5(f"{seed}|{j}|{i}")
    is < 8 else -1. Engine-independent by construction: the same
    Python derivation stamps both the Spark kernel and the SQL oracle,
    so certification covers the projection algebra."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(
                f"{seed}|{j}|{i}".encode()).hexdigest()[0], 16) < 8
            else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def project_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 16,
    seed: int = 7,
    decimals: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003): out_j = Σᵢ sᵢⱼ·vᵢ / √out_dim. Pairwise
    distances survive within (1 ± ε) for out_dim = O(log n / ε²) — the
    standard pre-shrink before ANN indexing or near-dup banding when
    the raw embedding is wide.

    One numpy matmul per Arrow batch: (batch × dim) @ (dim × out_dim)
    against the :func:`_jl_signs` matrix, then the scale, then the
    round. A narrow map, no shuffle. numpy's summation order is not
    the left-assoc chain t₀+t₁+… an unrolled-SQL oracle replays, so a
    sum may differ from it in the last ulp before the round.
    Output: (id, proj array<double>, rounded to ``decimals``).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    dim = _infer_dim(df, vec_col)
    if dim is None:
        return local_df(
            df.sparkSession, [], f"{id_col} long, proj array<double>"
        )
    df = df.where(F.col(vec_col).isNotNull())
    S = np.asarray(_jl_signs(dim, out_dim, seed), dtype=np.float64).T
    scale = 1.0 / math.sqrt(out_dim)
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("proj", T.ArrayType(T.DoubleType())),
    ])

    def kernel(batches):
        for pdf in batches:
            m = np.stack(
                pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            p = np.round((m @ S) * scale, decimals)
            yield pd.DataFrame({id_col: pdf[id_col], "proj": list(p)})

    return df.select(id_col, vec_col).mapInPandas(kernel, out_schema)

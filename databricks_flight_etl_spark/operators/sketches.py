"""Mergeable sketches for streaming/distributed frequency estimation
(SURVEY §2.11 extension — the 'novel sketch' custom-operator family).

Count-Min Sketch (Cormode & Muthukrishnan 2005): a d×w counter grid;
item t increments cell (i, h_i(t) mod w) for each of d hash rows; the
estimate is the MIN over its d cells — an upper bound on the true
count, within εN with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.

Why a sketch at 100 TB: the full frequency table of a high-cardinality
column does not fit anywhere, but the d×w grid is a few KB, is built in
ONE pass with a single (row, col) group-by, and two grids MERGE by
cell-wise addition — so per-partition/per-day sketches roll up without
touching raw data again.

Hash family: h_i(t) = first 15 hex digits of md5(i || ':' || t) — an
engine-portable derivation (md5 exists in Spark, DuckDB, Trino, ...),
so any engine reproduces the sketch bit-for-bit; 15 hex digits keep
the value inside a signed 64-bit integer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cms_build", "cms_merge", "cms_estimate",
    "hll_build", "hll_merge", "hll_estimate",
    "bloom_build", "bloom_might_contain", "bloom_semi_join",
    "heavy_hitters",
    "cms_inner_product",
    "mrl_sketch", "mrl_merge", "mrl_quantiles",
    "mrl_sketch_grouped",
]


def _cms_col(col: Column, row: int, width: int) -> Column:
    """Cell index of ``col`` in hash row ``row``: md5-derived, portable."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), col)), 1, 15), 16, 10
    ).cast("long")
    return (h % width).cast("int")


def cms_build(
    df: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Build a Count-Min sketch of ``col``: one row per NON-EMPTY cell,
    (row, col, n). A single explode (narrow, ×depth) + one group-by on
    (row, col) — the only shuffle, keyed on two small ints. Empty cells
    are implicit zeros, so the output is at most depth·width rows no
    matter the input size."""
    c = F.col(col).cast("string")
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_col(c, i, width).alias("col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell")
    ).select("cell.row", "cell.col")
    return cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("n"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (width, depth): cell-wise sum.
    The mergeability is the point — per-shard/per-day sketches roll up
    without rescanning data."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(F.sum("n").alias("n"))


def cms_estimate(
    sketch: DataFrame,
    terms: list[str],
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Point estimates for ``terms``: (term, est) where est = min over
    the term's d cells (0 if any cell is empty). The terms table is
    tiny and broadcast; the sketch is at most depth·width rows."""
    from ..partitioning import local_df

    spark = sketch.sparkSession
    t = local_df(spark, [(x,) for x in terms], "term string")
    probes = t.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_col(F.col("term"), i, width).alias("col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("term", "cell.row", "cell.col")
    joined = probes.join(F.broadcast(sketch), ["row", "col"], "left").select(
        "term", F.coalesce("n", F.lit(0)).alias("n")
    )
    return joined.groupBy("term").agg(F.min("n").alias("est"))


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — mergeable cardinality sketch
# ---------------------------------------------------------------------------
#
# Registers: the item hash's top p bits pick one of m = 2^p registers;
# the register keeps the MAX over items of rho = (# leading zero bits of
# the remaining w = 60-p bits) + 1. Cardinality ≈ alpha_m · m² / Σ 2^-M[j]
# with the standard linear-counting small-range correction.
#
# Why at 100 TB: the register table is ≤ m rows (m = 4096 → a few KB) no
# matter the input, is built with ONE shuffle keyed on a small int, and
# two sketches over disjoint shards MERGE by register-wise max — so
# per-day / per-shard cardinalities roll up without rescanning raw data.
#
# Hash family: the same engine-portable md5 derivation as the CMS above
# (15 hex digits = a positive 60-bit long), so DuckDB replays the
# register table bit-for-bit — the certification is exact equality of
# registers, not a tolerance band. rho is computed with integer string
# length (bin(x) has no leading zeros in Spark and DuckDB alike), never
# floating log2, so there is no boundary rounding to diverge on.

_HLL_HASH_BITS = 60


def _md5_long(col: Column, salt: str = "") -> Column:
    """Positive 60-bit long from md5(salt ‖ value) — portable."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 15), 16, 10
    ).cast("long")


def hll_build(
    df: DataFrame, col: str, p: int = 12, *, by: list[str] | None = None
) -> DataFrame:
    """HyperLogLog register table of ``col``: one row per NON-EMPTY
    register, (by…, bucket, rho). One narrow projection + one group-by
    on (by…, small int) — output bounded by |groups|·2^p rows regardless
    of input size. Null values are skipped (SQL COUNT DISTINCT
    semantics). With ``by`` it is the 'distinct users per day' table at
    sketch cost: sketches for different groups MERGE by max over the
    same registers, so per-day tables roll up to per-week/whole-corpus
    cardinalities without rescanning (the rollup-identity
    certification)."""
    by = list(by or [])
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    w = _HLL_HASH_BITS - p
    h = _md5_long(F.col(col).cast("string"))
    bucket = F.shiftright(h, w).cast("int")
    rem = h % (2 ** w)
    # bin(rem) drops leading zeros, so its length is floor(log2)+1 —
    # exact integer semantics, identical in Spark and DuckDB.
    rho = F.when(rem == 0, F.lit(w + 1)).otherwise(
        F.lit(w) - F.length(F.bin(rem)) + 1
    ).cast("int")
    return (
        df.where(F.col(col).isNotNull())
        .select(*by, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables built with the same p: register-wise max.
    Exactly equals the sketch built over the unioned inputs — the
    mergeability certification relies on that identity."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(
    sketch: DataFrame, p: int = 12, *, by: list[str] | None = None
) -> DataFrame:
    """(by…, estimate: long) from a register table: exactly one row
    without ``by`` (even for an empty table), one per group of a
    grouped table (:func:`hll_build` with the same ``by``) with it.
    Standard HLL estimator: E = alpha_m·m²/Z with Z = Σ 2^-M[j] (absent
    registers contribute 2^0 = 1), linear counting E = m·ln(m/V) when
    E ≤ 2.5m and V = # zero registers > 0. One hash aggregate over
    ≤ |groups|·m rows — driver cost nil."""
    by = list(by or [])
    m = 2 ** p
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = sketch.groupBy(*by).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    # an empty table's one row has a null sum and a zero count
    zeros = F.lit(float(m)) - F.col("n_present").cast("double")
    z = F.coalesce(F.col("z_present"), F.lit(0.0)) + zeros
    raw = F.lit(alpha * m * m) / z
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agg.select(*by, F.round(est).cast("long").alias("estimate"))


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970) — engine-portable bitmap for join pruning
# ---------------------------------------------------------------------------
#
# The classic 100 TB pattern: a fact-table scan should not shuffle rows
# whose join key cannot possibly match the (much smaller) build side.
# Spark's runtime row-group pruning covers some of this; an explicit,
# PORTABLE bloom filter also (a) persists across jobs (the bitmap is a
# tiny DataFrame you can write with the shard), (b) merges by word-wise
# OR, and (c) is certifiable bit-for-bit in any engine with md5.
#
# Layout: n_words longs of 62 usable bits each (avoiding the sign bit
# and 1<<63 overflow differences between engines). k md5-derived hash
# functions set k bits per key. The probe side never shuffles: the
# bitmap is collected (bounded: n_words rows, e.g. 4096 words = 32 KB)
# into a literal array and the membership test is a narrow expression
# next to the scan — the same shape as Spark's own runtime filter.

_BLOOM_BITS_PER_WORD = 62


def _bloom_positions(col: Column, n_words: int, k: int) -> list[Column]:
    """The k bit positions of a key: md5-derived, portable."""
    m = n_words * _BLOOM_BITS_PER_WORD
    return [
        _md5_long(col.cast("string"), salt=f"bf{i}:") % m for i in range(k)
    ]


def bloom_build(
    df: DataFrame, col: str, n_words: int = 4096, k: int = 5
) -> DataFrame:
    """Bloom bitmap of ``col``: one row per NON-ZERO word, (word, bits).
    One explode (narrow, ×k) + one group-by on a small int; output is at
    most n_words rows no matter the input. Merge two bitmaps with the
    same (n_words, k) by word-wise bit_or."""
    c = F.col(col)
    pos = F.explode(F.array(*_bloom_positions(c, n_words, k))).alias("pos")
    words = df.where(c.isNotNull()).select(pos).select(
        F.floor(F.col("pos") / _BLOOM_BITS_PER_WORD).cast("int").alias("word"),
        _bit_of(F.col("pos")).alias("bit"),
    )
    return words.groupBy("word").agg(F.bit_or("bit").alias("bits"))


def _bit_of(pos: Column) -> Column:
    """2^(pos mod 62) as an exact long. shiftleft's shift amount must be
    a Python literal in the DataFrame API's typed signature, but the SQL
    function itself takes any int expression — ``call_function`` invokes
    it directly, replacing the former 62-entry literal power-of-two
    array (62 × ~4 py4j round-trips per use, and a 62-element literal
    copied into the plan once per bloom check). Same exact value:
    shiftleft(1L, i) == 2^i for i in [0, 61]."""
    idx = (pos % _BLOOM_BITS_PER_WORD).cast("int")
    return F.call_function("shiftleft", F.lit(1).cast("long"), idx)


def bloom_might_contain(
    bitmap: DataFrame, col: Column | str, n_words: int = 4096, k: int = 5
) -> Column:
    """Membership predicate usable as a narrow filter: true iff all k
    bits of the key are set. Collects the bitmap (bounded — n_words
    rows) into a literal long array so the probe side needs NO join and
    NO shuffle; false positives possible, false negatives impossible."""
    dense = [0] * n_words
    for r in bitmap.collect():
        dense[r["word"]] = r["bits"]
    # ONE parsed literal instead of an n_words-element F.array of
    # F.lit columns — the py4j-built form cost ~4 round-trips per word
    # (n_words=4096 → ~16k socket commands of pure plan-build time;
    # the simhash packed-reduce finding, same fix)
    arr = F.expr(
        "array({})".format(",".join(f"{b}L" for b in dense))
    )
    c = F.col(col) if isinstance(col, str) else col
    checks = []
    for posc in _bloom_positions(c, n_words, k):
        word = F.floor(posc / _BLOOM_BITS_PER_WORD).cast("int")
        checks.append(F.get(arr, word).bitwiseAND(_bit_of(posc)) != 0)
    out = checks[0]
    for chk in checks[1:]:
        out = out & chk
    return out


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    n_words: int = 4096,
    k: int = 5,
) -> DataFrame:
    """EXACT left-semi join with a bloom pre-filter: the bitmap of the
    small side's keys prunes the big side as a narrow scan-side filter
    (no shuffle for the pruned-away rows), then a real semi join removes
    the false positives. Result is identical to ``big.join(small,
    'left_semi')`` — the bloom only cuts the rows that reach the
    shuffle, which at 100 TB is the difference between shuffling the
    full fact table and shuffling ~the matching slice."""
    small_key = small_key or big_key
    keys = small.select(F.col(small_key).alias(big_key)).where(
        F.col(big_key).isNotNull()
    )
    bitmap = bloom_build(keys, big_key, n_words=n_words, k=k)
    pre = big.where(bloom_might_contain(bitmap, big_key, n_words, k))
    return pre.join(keys.distinct(), on=big_key, how="left_semi")


# ---------------------------------------------------------------------------
# Heavy hitters (Misra-Gries 1982) — exact result, sketch-bounded shuffle
# ---------------------------------------------------------------------------


def heavy_hitters(
    df: DataFrame, col: str, min_fraction: float, capacity: int = 4096
) -> DataFrame:
    """All values of ``col`` with frequency ≥ min_fraction·N, EXACT
    (term, cnt) — but without ever shuffling the full distinct domain.

    Two passes: (1) per-partition Misra-Gries summaries of ``capacity``
    counters (Arrow-batched, state carried across batches inside each
    partition) — by pigeonhole, any value with global frequency
    ≥ N/capacity is a local heavy hitter in at least one partition, so
    the union of candidates is a SUPERSET of the answer whenever
    min_fraction ≥ 1/capacity; (2) an exact recount restricted to the
    candidate set (broadcast semi join — candidates are ≤ capacity ×
    partitions, in practice a few thousand rows) and the threshold
    filter. The result equals the naive groupBy+filter — which is what
    the oracle runs — while the shuffle carries only candidates.
    """
    if min_fraction < 1.0 / capacity:
        raise ValueError(
            f"min_fraction {min_fraction} below 1/capacity "
            f"{1.0 / capacity}: the candidate superset guarantee breaks"
        )

    def mg(batches):
        # batched Misra-Gries ("Frequent" with uniform decrement):
        # merge each Arrow batch's value_counts into the counter
        # Series, then — when over capacity — decrement everything by
        # the (capacity+1)-th largest count and drop the non-positive.
        # One uniform decrement by δ ≙ δ classic MG rounds, each
        # destroying ≥ capacity+1 units of mass, so any value with
        # partition frequency > n_p/(capacity+1) survives. Vectorized:
        # Python touches distinct values per batch, never rows.
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["__v"].dropna().value_counts()
            counters = counters.add(vc, fill_value=0)
            if len(counters) > capacity:
                thresh = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters[counters > thresh] - thresh
        yield pd.DataFrame(
            {"candidate": counters.index.astype(str)})

    src = df.select(F.col(col).cast("string").alias("__v"))
    cands = (
        src.mapInPandas(mg, "candidate string")
        .distinct()
    )
    total = src.where(F.col("__v").isNotNull()).count()
    thresh = min_fraction * total
    return (
        src.join(F.broadcast(cands),
                 src["__v"] == cands["candidate"], "left_semi")
        .groupBy(F.col("__v").alias("term"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= thresh)
    )


def cms_inner_product(
    a: DataFrame, b: DataFrame, width: int = 2048, depth: int = 4
) -> DataFrame:
    """Equi-join SIZE estimate from two Count-Min sketches: the inner
    product of each hash row's counters, minimized over rows — an
    upper bound on |A ⋈ B| that is exact when neither row has
    collisions (AMS/CMS join-size estimation, Alon-Matias-Szegedy '96
    / Cormode-Muthukrishnan '05). The query-planning use: estimate a
    join's output BEFORE running it from two few-KB sketches that per-
    shard pipelines already maintain — no scan of either input. All
    integer arithmetic on ≤ depth·width rows, so the ESTIMATE itself
    is deterministic and engine-portable (the oracle recomputes it
    from its own rebuilt grids)."""
    pa = a.select("row", "col", F.col("n").alias("na"))
    pb = b.select("row", "col", F.col("n").alias("nb"))
    per_row = (
        pa.join(pb, ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("dot"))
    )
    return per_row.agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("est_join_size")
    )


# ---------------------------------------------------------------------------
# MRL quantile sketch (Manku-Rajagopalan-Lindsay, SIGMOD'98/'99 shape,
# deterministic collapse): the MERGEABLE quantile summary that completes
# the sketch family (HLL = distinct, CMS = frequency, bloom = membership,
# this = rank). A buffer holds ≤ k sorted values of weight 2^level; two
# full same-level buffers COLLAPSE by merge-sorting their 2k items and
# keeping alternating ones (offset alternates per collapse — the
# deterministic variant: rerun-stable, no RNG), producing one level+1
# buffer. Sketch size is O(k·log(n/k)) regardless of input size; two
# sketches merge by pooling same-level items and re-collapsing — so
# per-partition/per-day sketches roll up without re-reading data.
#
# Certification pattern (mirrors hll/cms): with k ≥ n no collapse ever
# fires, every item sits at level 0 with weight 1, and the weighted
# type-1 rank readout is EXACTLY quantiles_exact's formula — the
# degenerate config replays the same DuckDB oracle bit-for-bit (and the
# split→merge→read path certifies merge identity the same way).
# Production k (256) is approximate by construction: rows-only, with a
# rank-error bound pinned by unit test.

def _mrl_partition_rows(values, k: int):
    """Deterministic MRL state for one partition's values (arrival
    order), returned as (level, value, weight) tuples."""
    import numpy as np

    levels: dict[int, list] = {}
    n_collapses: dict[int, int] = {}

    def insert(buf, lvl):
        while True:
            bufs = levels.setdefault(lvl, [])
            if len(buf) == k and bufs and len(bufs[-1]) == k:
                other = bufs.pop()
                merged = np.sort(np.concatenate([other, buf]))
                off = n_collapses.get(lvl, 0) % 2
                n_collapses[lvl] = n_collapses.get(lvl, 0) + 1
                buf = merged[off::2]
                lvl += 1
            else:
                bufs.append(buf)
                return

    for i in range(0, len(values), k):
        insert(np.sort(values[i:i + k]), 0)
    return [
        (lvl, float(v), 1 << lvl)
        for lvl, bufs in levels.items()
        for b in bufs
        for v in b
    ]


def mrl_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """One MRL sketch per PARTITION of ``df`` (rows pooled into a single
    logical sketch: same-level items from different partitions are just
    more buffers). Output rows (level int, value double, weight long);
    nulls are excluded (matching quantiles_exact). One narrow
    mapInPandas pass — nothing shuffles; feed through :func:`mrl_merge`
    to bound the total size before storing."""
    import numpy as np
    import pandas as pd

    src = df.select(F.col(col).cast("double").alias("__x")).where(
        F.col("__x").isNotNull()
    )
    schema = "level int, value double, weight long"

    def kernel(batches):
        pend: list = []
        for pdf in batches:
            pend.append(pdf["__x"].to_numpy())
        vals = (
            np.concatenate(pend) if pend else np.array([], dtype="float64")
        )
        rows = _mrl_partition_rows(vals, k)
        if rows:
            yield pd.DataFrame(rows, columns=["level", "value", "weight"])

    return src.mapInPandas(kernel, schema)


def mrl_merge(
    sketch: DataFrame, k: int = 256, *, by: list[str] | None = None
) -> DataFrame:
    """Re-compact pooled sketch rows (a union of :func:`mrl_sketch`
    outputs) into one bounded sketch: per level ascending, sort the
    pooled items and collapse 2k-item blocks upward until fewer than 2k
    remain. Runs as ONE task over O(k·log n · n_partitions) sketch rows
    — bounded input by construction (the corpus never enters), the same
    driver-sized footprint as hll_merge's register table. With ``by``
    (pooled :func:`mrl_sketch_grouped` outputs — e.g. 7 daily tables
    rolling up to a week) it is one such task PER GROUP, and the group
    columns lead the output."""
    import numpy as np
    import pandas as pd

    by = list(by or [])
    schema = ", ".join(
        [f"`{c}` {sketch.schema[c].dataType.simpleString()}" for c in by]
        + ["level int, value double, weight long"]
    )

    def merge_fn(key, pdf):
        by_level: dict[int, list] = {}
        for lvl, grp in pdf.groupby("level"):
            by_level[int(lvl)] = [grp["value"].to_numpy()]
        out: list = []
        promote = np.array([], dtype="float64")
        lvl = 0
        max_lvl = max(by_level) if by_level else 0
        n_coll = 0
        while lvl <= max_lvl or len(promote):
            items = np.sort(
                np.concatenate(by_level.get(lvl, []) + [promote])
            )
            promote = np.array([], dtype="float64")
            while len(items) >= 2 * k:
                block, items = items[: 2 * k], items[2 * k:]
                off = n_coll % 2
                n_coll += 1
                promote = np.concatenate([promote, block[off::2]])
            out.extend((lvl, float(v), 1 << lvl) for v in items)
            lvl += 1
        res = pd.DataFrame(out, columns=["level", "value", "weight"])
        for name, val in zip(by, key):
            res[name] = val
        return res[[*by, "level", "value", "weight"]]

    return sketch.groupBy(*by).applyInPandas(merge_fn, schema)


def mrl_quantiles(
    sketch: DataFrame, qs: list[float], *, by: list[str] | None = None
) -> DataFrame:
    """Type-1 quantile readout from sketch rows: weighted value
    histogram → cumulative weight → first value whose cum ≥
    floor(q·(n−1))+1 — the IDENTICAL rank formula as quantiles_exact,
    over weights instead of row counts (so the k ≥ n degenerate is
    bit-equal to the exact operator, with or without ``by``). Output
    (by…, q, value), ordered; with ``by`` every window is partitioned
    by the group (no single-partition stage at any group count)."""
    from pyspark.sql import Window

    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    by = list(by or [])
    hist = sketch.groupBy(*by, "value").agg(F.sum("weight").alias("cnt"))
    # an unpartitioned window (no ``by``) is SAFE here: hist is the
    # sketch's value histogram, bounded by construction at
    # <= k * n_levels rows (the sketch's own compaction invariant) —
    # never corpus-sized
    w = Window.partitionBy(*by).orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.partitionBy(*by)
    cum = hist.select(
        *by, "value",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    targets = F.explode(
        F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                (F.floor(F.lit(q) * (F.col("n") - 1)) + 1).alias("rank"),
            )
            for q in qs
        ])
    ).alias("t")
    return (
        cum.select(*by, "value", "cum", targets)
        .where(F.col("cum") >= F.col("t.rank"))
        .groupBy(*by, F.col("t.q").alias("q"))
        .agg(F.min("value").alias("value"))
        .orderBy(*by, "q")
    )


def mrl_sketch_grouped(
    df: DataFrame, group_cols: list[str], col: str, k: int = 256
) -> DataFrame:
    """Per-group MRL sketches: (group…, level, value, weight) — the
    'p99 latency per day' table at sketch cost. One applyInPandas
    keyed on the group (the same shuffle a per-group exact quantile
    would pay ONCE — but the output is O(k log n) per group, so per-day
    sketch tables persist and roll up to per-week/whole-corpus
    quantiles without rescanning raw data). Same deterministic
    collapse as :func:`mrl_sketch`; nulls excluded."""
    import pandas as pd

    schema_tail = "level int, value double, weight long"
    gdf = df.select(
        *group_cols, F.col(col).cast("double").alias("__x")
    ).where(F.col("__x").isNotNull())
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in gdf.schema.fields[:-1]
    )

    def fn(key, pdf):
        rows = _mrl_partition_rows(pdf["__x"].to_numpy(), k)
        out = pd.DataFrame(rows, columns=["level", "value", "weight"])
        for name, val in zip([c for c in group_cols], key):
            out.insert(0, name, val)
        return out[[*group_cols, "level", "value", "weight"]]

    return gdf.groupBy(*group_cols).applyInPandas(
        fn, f"{fields}, {schema_tail}"
    )

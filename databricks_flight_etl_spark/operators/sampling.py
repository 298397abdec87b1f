"""Deterministic sampling for training-data pipelines (SURVEY §2.11
extension surface; the reference has no sampling operator).

``df.sample``/``sampleBy`` draw from a seeded RNG whose stream depends
on partitioning — rerun the job with a different split of the input and
you get a different sample. Pipelines that must be reproducible (and
auditable: "why is this row in the training set?") sample by CONTENT
hash instead: a row is kept iff a hex prefix of md5(key) falls below
the fraction's threshold. Properties:

- deterministic across runs, partitionings, and engines (md5 is md5
  everywhere — the DuckDB oracle certifies value-for-value parity);
- stable under incremental loads: a row's keep/drop decision never
  changes as other rows arrive, so yesterday's sample is a subset of
  today's (the property that makes downsampled corpora diffable);
- per-row and shuffle-free: a narrow filter, pushable next to the scan.

The threshold compares md5 hex PREFIXES as strings — no hex→int parse,
which keeps the predicate expressible in any SQL dialect. With 12 hex
chars the fraction granularity is 16⁻¹² ≈ 3.6e-15.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hash_bucket", "deterministic_sample", "stratified_sample",
           "pack_by_token_budget", "split_assign", "epoch_shuffle",
           "sample_n", "stratified_sample_n", "resample_to_target", "weighted_sample", "token_budget_sample",
           "temperature_targets", "leakage_safe_split"]

_PREFIX_LEN = 12


def _threshold_hex(fraction: float) -> str:
    """String T such that P(md5-prefix < T) == fraction (to 16⁻¹²).
    Fraction 1.0 returns "g", which every hex string sorts below."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    scaled = int(round(fraction * (16 ** _PREFIX_LEN)))
    if scaled >= 16 ** _PREFIX_LEN:
        return "g"
    return format(scaled, f"0{_PREFIX_LEN}x")


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """The sampling coordinate: first 12 hex chars of md5(salt ‖ key).
    Change ``salt`` to draw an independent sample from the same corpus
    (e.g. train vs holdout splits that must not correlate)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1,
                       _PREFIX_LEN)


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep the rows whose hash bucket falls below the fraction
    threshold — an exact, rerun-stable Bernoulli(fraction) sample keyed
    on ``key``'s content."""
    return df.where(hash_bucket(key, salt) < F.lit(_threshold_hex(fraction)))


def stratified_sample(
    df: DataFrame, strata_col: str, key: str,
    fractions: dict[str, float], default: float = 0.0, salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing knob of a
    training-data pipeline (e.g. keep 100% of wiki, 10% of crawl).
    Rows in strata missing from ``fractions`` keep with ``default``.
    Same content-hash coordinate as deterministic_sample, so strata
    rates can be retuned without reshuffling previously kept rows."""
    thr = F.lit(_threshold_hex(default))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == value, F.lit(_threshold_hex(frac))
        ).otherwise(thr)
    return df.where(hash_bucket(key, salt) < thr)


def weighted_sample(
    df: DataFrame, key: str, weight_col: str,
    base_rate: float = 1.0, salt: str = "",
) -> DataFrame:
    """Weight-PROPORTIONAL deterministic Bernoulli sample: row kept with
    probability min(1, base_rate · weight) — the quality-weighted
    curation knob (keep high-scoring documents at full rate, tail
    documents proportionally less) with the same content-hash
    determinism as :func:`deterministic_sample`: rerun-stable,
    partitioning-independent, and retuning ``base_rate`` only ever
    adds/removes rows monotonically.

    Exact-integer certification path: the 48-bit md5-prefix coordinate
    is compared NUMERICALLY against floor(16¹² · p) — one double
    multiply + floor that any engine replays bit-for-bit (no RNG, no
    ln). NULL weights drop (p is null → predicate null). A narrow,
    pushable scan-side filter; no shuffle."""
    h = F.conv(hash_bucket(key, salt), 16, 10).cast("long")
    w = F.col(weight_col).cast("double")
    # explicit null guard: Spark's least/greatest SKIP nulls, so a null
    # weight would silently clamp to 1.0 (always kept) instead of
    # dropping — the guard pins the documented null-drops contract
    p = F.when(
        w.isNotNull(),
        F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), F.lit(float(base_rate)) * w)
        ),
    )
    thr = F.floor(p * F.lit(float(16 ** _PREFIX_LEN))).cast("long")
    return df.where(h < thr)


def pack_by_token_budget(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget shards in a deterministic
    global order — the sharding step that turns a cleaned corpus into
    training files of ~``budget`` tokens each.

    Semantics: documents are laid out in ``id_col`` order; a document
    whose first token lands in [k·budget, (k+1)·budget) gets shard k
    (exact integer arithmetic end-to-end).

    A naive global running sum is a single-partition window — a 1-task
    bottleneck at any scale. This computes the classic DISTRIBUTED
    PREFIX SUM instead: range-bucket the id domain into ``n_buckets``
    splits, per-bucket partial sums (one tiny aggregate; ``n_buckets``
    rows to the driver), exclusive bucket offsets broadcast back, then
    a per-bucket window sum shifted by the bucket's offset. The only
    full-data movement is one hash-range exchange for the window.

    Output: (id, n_tokens, cum_tokens, shard); ``cum_tokens`` is the
    INCLUSIVE running total.
    """
    from pyspark.sql import Window

    bounds = df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    if bounds["lo"] is None:
        return df.select(
            F.col(id_col),
            F.col(n_tokens_col).alias("n_tokens"),
            F.lit(0).cast("long").alias("cum_tokens"),
            F.lit(0).cast("long").alias("shard"),
        ).limit(0)
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = hi - lo + 1
    # bucket by THRESHOLD COMPARISON, never arithmetic on the column:
    # (id - lo) * n_buckets overflows long for id spans > 2^63/n_buckets
    # (xxhash64-derived doc ids span the full signed range), and even
    # id - lo alone overflows when lo is deeply negative. Boundaries are
    # computed driver-side in Python (arbitrary precision); the column
    # only ever faces `id >= lit(boundary)` — overflow-free, and
    # monotonic in id so the global prefix-sum order is preserved.
    width = -(-span // n_buckets)  # ceil(span / n_buckets)
    bucket = None
    for b in range(n_buckets - 1, 0, -1):
        boundary = lo + b * width
        if boundary > hi:
            continue  # empty tail bucket (also keeps lit() within long)
        cond = F.col(id_col) >= F.lit(boundary)
        bucket = (
            F.when(cond, F.lit(b)) if bucket is None else bucket.when(cond, F.lit(b))
        )
    bucket = (
        bucket.otherwise(F.lit(0)) if bucket is not None else F.lit(0)
    ).cast("int")
    t = df.select(
        F.col(id_col),
        F.col(n_tokens_col).cast("long").alias("n_tokens"),
        bucket.alias("__bkt"),
    )
    per_bucket = {
        r["__bkt"]: r["s"]
        for r in t.groupBy("__bkt").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += per_bucket.get(b, 0)
    off = F.lit(0).cast("long")
    for b, v in offsets.items():
        off = F.when(F.col("__bkt") == b, F.lit(v).cast("long")).otherwise(off)
    w = Window.partitionBy("__bkt").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (off + F.sum("n_tokens").over(w)).alias("cum_tokens")
    return t.select(F.col(id_col), F.col("n_tokens"), cum).select(
        F.col(id_col),
        "n_tokens",
        "cum_tokens",
        F.expr(f"CAST((cum_tokens - n_tokens) DIV {int(budget)} AS BIGINT)")
        .alias("shard"),
    )


def split_assign(
    df: DataFrame, key: Column | str, fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Disjoint train/val/test-style split labels, content-hash
    deterministic: the [0,1) hash coordinate is cut into consecutive
    ranges sized by ``fractions`` (which must sum to 1), and each row
    gets the label of the range its hash falls in. Properties inherited
    from the hash coordinate: rerun/partitioning/engine independent, a
    row NEVER changes split as other rows arrive, and disjointness is
    by construction (ranges partition the coordinate space). A narrow
    projection — no shuffle."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_bucket(key, salt)
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for label, frac in items[:-1]:
        acc += frac
        cond = bucket < F.lit(_threshold_hex(acc))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(
            cond, F.lit(label))
    last = F.lit(items[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def epoch_shuffle(df: DataFrame, key: str, epoch: int = 0) -> DataFrame:
    """Deterministic global shuffle order for training-shard writes:
    sort by md5(epoch ‖ key). Different epochs give independent orders;
    the same epoch reproduces bit-for-bit on any engine or rerun.
    The sort is the point (a shuffled corpus IS a total order) — Spark
    executes it as a range-partitioned sort, the scalable shape; write
    the result with ``partition-count control`` to get shard files in
    shuffled order."""
    return (
        df.withColumn("shuffle_key", hash_bucket(key, f"epoch{epoch}:"))
        .orderBy("shuffle_key", key)
    )


def sample_n(
    df: DataFrame, key: str, n: int, salt: str = ""
) -> DataFrame:
    """EXACTLY-n deterministic sample: the n rows with the smallest
    content-hash coordinate (ties broken by key). Unlike a fraction
    sample the size is exact; unlike ``df.limit`` the selection is
    content-defined — stable across runs, partitionings, and engines.
    Catalyst executes orderBy+limit as TakeOrderedAndProject (per-
    partition top-n, then a driver merge of n·P candidates — no global
    sort materialization)."""
    return (
        df.orderBy(hash_bucket(key, salt), F.col(key))
        .limit(n)
    )


def stratified_sample_n(
    df: DataFrame, strata_col: str, key: str, n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """EXACTLY-n-per-stratum deterministic sample — the balanced-
    training-set builder (equal class counts regardless of class
    skew). Within each stratum, keep the ``n`` rows with the smallest
    content-hash coordinate (ties by key): one window over
    (stratum × hash order), shuffled by stratum — scales with strata
    count; per-stratum sort is the only per-group cost. Strata with
    fewer than n rows keep everything."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key, salt), F.col(key)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def resample_to_target(
    df: DataFrame,
    group_col: str,
    key: str,
    targets: dict[str, int],
    salt: str = "",
) -> DataFrame:
    """Resample each group to an EXACT target row count — the domain-
    mixing step of a training-data pipeline (e.g. 'the next corpus is
    40% wiki, 60% crawl, 10M docs total'), covering both DOWNsampling
    over-represented groups and UPsampling (replication with
    replacement) under-represented ones in one deterministic pass.

    Exact-integer semantics (no fractional keep probabilities, no
    float thresholds — bit-identical on any engine): within a group of
    ``c`` rows and target ``n``, every row gets ``n DIV c`` base
    copies, and the ``n MOD c`` rows with the smallest content-hash
    coordinate (ties by key) get one extra — so the output has exactly
    ``n`` rows per group, every original row appears ``⌊n/c⌋`` or
    ``⌈n/c⌉`` times, and which rows got the extra copy is an auditable
    function of content. Groups absent from ``targets`` pass through
    unchanged (copies = 1).

    Plan: one tiny per-group count (broadcast back), one per-group
    window rank (shuffle on group — scales with group count), then a
    narrow ``explode(sequence(1, copies))``. Output: the original
    columns plus ``copy_idx`` (1-based replica index; downsampled and
    pass-through rows all carry copy_idx = 1).
    """
    from pyspark.sql import Window

    for g, n in targets.items():
        if n < 0:
            raise ValueError(f"target for {g!r} must be >= 0, got {n}")
    counts = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    # the per-group count table is two columns × |groups| rows — tiny
    # for domain/language mixes; gate the hint anyway so a pathological
    # high-cardinality group column degrades to a shuffle join, not an
    # executor OOM
    if counts.count() > 8_000_000:
        broadcast_counts = counts
    else:
        broadcast_counts = F.broadcast(counts)
    tgt = None
    for g, n in sorted(targets.items()):
        cond = F.col(group_col) == g
        tgt = (F.when(cond, F.lit(int(n))) if tgt is None
               else tgt.when(cond, F.lit(int(n))))
    # groups without a target keep every row exactly once
    tgt = (tgt.otherwise(F.col("__c")) if tgt is not None
           else F.col("__c")).cast("long")
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(key, salt), F.col(key)
    )
    # eqNullSafe: rows whose group value is NULL must still match their
    # count row (a plain equi-join drops them, breaking the documented
    # "groups absent from targets pass through unchanged" contract)
    t = (
        df.join(
            broadcast_counts,
            F.col(group_col).eqNullSafe(F.col("__g")),
        )
        .drop("__g")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__tgt", tgt)
        # DIV: exact long division (a / b is DOUBLE division in Spark
        # and misrounds once targets exceed 2^53)
        .withColumn("__copies",
                    F.expr("__tgt DIV __c")
                    + F.when(F.col("__rn") <= F.col("__tgt") % F.col("__c"),
                             F.lit(1)).otherwise(F.lit(0)))
    )
    # sequence(1, 0) would auto-step DOWN to [1, 0]; rows with zero
    # copies must be dropped before the explode
    return (
        t.where(F.col("__copies") >= 1)
        .select(
            *[F.col(c) for c in df.columns],
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("__copies"))
            ).alias("copy_idx"),
        )
    )


def temperature_targets(
    counts: dict[str, int], alpha: float, total: int | None = None
) -> dict[str, int]:
    """Driver-side helper: turn observed group counts into
    :func:`resample_to_target` targets via temperature sampling
    (multilingual-corpus standard): p_g ∝ count_g^alpha, renormalized
    over ``total`` (default: the observed total, i.e. reshape the mix
    without changing corpus size). alpha = 1 keeps proportions,
    alpha = 0 equalizes groups, 0 < alpha < 1 up-weights the tail.
    Rounding: largest-remainder so the targets sum exactly to total."""
    if not counts:
        return {}
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    n_total = int(total if total is not None else sum(counts.values()))
    weights = {g: float(c) ** alpha for g, c in counts.items()}
    z = sum(weights.values())
    raw = {g: n_total * w / z for g, w in weights.items()}
    base = {g: int(r) for g, r in raw.items()}
    short = n_total - sum(base.values())
    # largest fractional remainder gets the leftover units; ties by
    # group name so the result is deterministic
    for g in sorted(raw, key=lambda g: (-(raw[g] - base[g]), g))[:short]:
        base[g] += 1
    return base


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    tokens_col: str,
    key: str,
    budget_tokens: int,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Sample a corpus DOWN TO A TOKEN BUDGET with per-source mixture
    weights — the 'assemble a 500B-token mix at 60% web / 30% code /
    10% wiki' operation, in one engine-side pass:

    - each source's token target is ``budget · wₛ / Σw`` (Σw over the
      sources PRESENT, so absent configured sources don't strand
      budget);
    - its keep-rate is ``min(1, target / source_tokens)`` — a source
      smaller than its target keeps everything (no upsampling here;
      see resample_to_target for epoch duplication);
    - a row keeps iff its 48-bit md5 coordinate < floor(16¹²·rate) —
      the same exact-integer certification path as weighted_sample,
      so the kept set is deterministic, rerun-stable, and
      bit-replayable by the oracle.

    Expected kept tokens ≈ Σₛ min(source_tokens, target) ≤ budget
    (exact in expectation per source; the hash draw makes per-run
    totals concentrate tightly for any real corpus).

    Plan: one per-source token aggregate (tiny — |sources| rows,
    broadcast back), then a narrow filter; the corpus never shuffles.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    w = F.lit(float(default_weight))
    for value, wt in sorted((weights or {}).items()):
        w = F.when(F.col(source_col) == value, F.lit(float(wt))).otherwise(w)
    tot = df.groupBy(source_col).agg(
        F.sum(F.col(tokens_col)).cast("double").alias("__tok")
    ).select(source_col, "__tok", w.alias("__w"))
    wsum = tot.agg(F.sum("__w").alias("__wsum"))
    rates = tot.crossJoin(F.broadcast(wsum)).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.lit(float(budget_tokens)) * F.col("__w") / F.col("__wsum")
            / F.col("__tok"),
        ).alias("__rate"),
    )
    h = F.conv(hash_bucket(key, salt), 16, 10).cast("long")
    thr = F.floor(
        F.col("__rate") * F.lit(float(16 ** _PREFIX_LEN))
    ).cast("long")
    return (
        df.join(F.broadcast(rates), source_col)
        .where(h < thr)
        .drop("__rate")
    )


def leakage_safe_split(
    df: DataFrame, key: str, pairs: DataFrame,
    fractions: dict[str, float], salt: str = "",
    src: str = "id_a", dst: str = "id_b",
) -> DataFrame:
    """Group-aware train/val/test split — near-dups can NEVER straddle
    the split boundary. Rows connected through ``pairs`` (a near-dup
    edge list from MinHash/SimHash/embedding dedup) are collapsed to
    their cluster root (the component's min id, via
    :func:`..graph.connected_components`) and the split hash is taken
    over the ROOT, so every member of a near-dup cluster lands in the
    same split: train/test contamination through the given pair list is
    impossible by construction (Lee et al. 2022 'Deduplicating Training
    Data Makes Language Models Better' measures exactly this leak).
    Unpaired rows are their own root — for them the labels equal plain
    :func:`split_assign` (same hash, same thresholds, same salt).

    Output: all input columns + ``split``. Engine shape: one CC pass
    over the pair list only (tiny vs the corpus; driver union-find
    under the gated budget, star contraction above it), one
    left equi-join of corpus to the (node, component) table — AQE
    broadcasts it when small — then the same narrow hash-threshold
    projection as split_assign."""
    from .graph import connected_components

    comps = connected_components(pairs, src, dst).select(
        F.col("node").alias("__node"),
        F.col("component").alias("__component"),
    )
    joined = df.join(comps, df[key] == comps["__node"], "left")
    root = F.coalesce(F.col("__component"), F.col(key))
    return split_assign(joined, root, fractions, salt).drop(
        "__node", "__component"
    )

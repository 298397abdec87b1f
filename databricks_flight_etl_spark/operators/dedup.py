"""X1 text deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard
(SURVEY §2.11 — LLM-training-data pipeline extension).

Design for 100 TB (SURVEY §4.3): never shuffle raw text when a digest
will do; candidate generation is always an equi-join on a short key
(band hash / simhash chunk / shingle), never a cartesian product; exact
verification runs only within candidate buckets.

All stages use built-in expressions (md5/xxhash64/transform/explode +
hash-agg joins) — no Python in the hot path.
"""

from __future__ import annotations

import math
import warnings
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..partitioning import spread, under_parallel


def _pin(df: DataFrame) -> DataFrame:
    """Persist a subplan that downstream code references more than once.

    Without this, every reference to a self-joined side re-executes the
    whole lineage back to the source scan (a plan audit showed the
    banded-LSH join reading the corpus 76×). MEMORY_AND_DISK spills
    instead of failing; callers running many one-shot jobs can
    ``spark.catalog.clearCache()`` between them, and long-lived 100 TB
    pipelines should checkpoint these tables to parquet instead."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)

__all__ = [
    "normalize_text",
    "exact_dedup_groups",
    "exact_dedup",
    "char_shingles",
    "minhash_signatures",
    "minhash_bands",
    "minhash_bands_rowwise",
    "minhash_probe",
    "minhash_candidate_pairs",
    "minhash_dedup_pairs",
    "shingle_stop_list",
    "shingle_df_profile",
    "resolve_max_df",
    "BG_JACCARD_GUARD",
    "simhash64",
    "simhash_near_dup_pairs",
    "hamming_near_dup_pairs",
    "ngram_jaccard_pairs",
    "incremental_dedup",
    "corpus_digests",
    "set_similarity_join",
    "containment_join",
]


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup: lowercase, trimmed, whitespace
    runs collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), "\\s+", " ")


# ---------------------------------------------------------------------------
# exact

def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup report: (text_hash, keep_id, n) with
    keep_id = min(id) as the deterministic survivor. Shuffles a 32-hex
    md5 digest, never the text (collision odds at 1e12 docs ≈ 1e-14)."""
    hashed = df.select(
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("text_hash"),
        F.col(id_col),
    )
    return hashed.groupBy("text_hash").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly the min-id row per distinct (normalized) text —
    left-semi join against the survivor set, so the full rows never
    shuffle by content."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles

def _shingles_of(c: Column, k: int) -> Column:
    """Distinct k-shingles of an ALREADY-NORMALIZED column. ``c`` must be
    a plain column reference: any expression here is re-evaluated per
    shingle position inside the transform lambda (a regexp chain there
    turns shingling O(len·regex) — measured 4× slower end-to-end)."""
    idx = F.sequence(F.lit(1), F.length(c) - (k - 1))
    return F.when(F.length(c) >= k, F.array_distinct(
        F.transform(idx, lambda i: F.substring(c, i, k))
    )).otherwise(F.array(c))


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles as array<string> (no UDF: index
    sequence + dynamic substring). Texts shorter than k yield a single
    whole-text shingle so they can still match exact twins.

    Convenience form — inlines normalization into the shingle lambda.
    For bulk work use the projected form (see ``_shingle_table``)."""
    return _shingles_of(normalize_text(col), k)


def _spread(df: DataFrame) -> DataFrame:
    """Hash-repartition the pruned (id, raw text) projection by id when
    the scan arrives under-parallel (small single-row-group file → one
    split → the whole normalize+shingle+hash map side on one core). The
    id partitioning already satisfies the groupBy(id) distribution of
    the signature aggregates, so the plan keeps exactly one Exchange.
    See ``partitioning.spread``."""
    return spread(df, "__id")


def _shingle_arrays_pre(raw: DataFrame, k: int) -> DataFrame:
    """Shingle a pre-projected, pre-parallelized (__id, __raw) frame —
    the shared tail of :func:`_shingle_arrays` for callers that manage
    the parallelism decision themselves (see ``_jaccard_verified``,
    where probing the joined plan for narrowness cost more than the
    whole verify join)."""
    norm = raw.select("__id", normalize_text("__raw").alias("__t"))
    return norm.select(
        "__id", _shingles_of(F.col("__t"), k).alias("__shs")
    )


def _shingle_arrays(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, array<string> shingles) — one row per doc, no explode.
    Normalizes through a materializing projection FIRST so the regexp
    runs once per doc, not once per shingle position. Null texts are
    dropped (matching what explode-based plans did implicitly) — the
    null filter is on the RAW column so it pushes to the scan; a
    ``where`` on the computed array re-evaluates the whole shingle
    expression inside the pushed filter (measured 15× slower)."""
    raw = _spread(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")
        )
    )
    return _shingle_arrays_pre(raw, k)


def _staged_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int,
) -> tuple[DataFrame, DataFrame]:
    """ONE pinned normalize+shingle pass shared by every stage of a
    near-dup entry point — the guard's entropy aggregate, the stop-list
    document-frequency pass, the signature aggregate, and the verify's
    per-doc arrays previously EACH re-ran the regexp-normalize +
    shingle-transform lineage from the raw scan (three full corpus
    passes per unmitigated ``minhash_dedup_pairs`` call; measured ~1.9 s
    of a 3.6 s sf0.1 query — guide §1.2 step 1, §2.4: recompute is a
    shuffle-shaped cost you can remove outright).

    Returns ``(arrs, st)``: ``arrs`` the pinned ``(id, distinct-shingle
    array)`` frame (bit-identical to :func:`_shingle_arrays`), ``st``
    its explode — row-identical to :func:`_shingle_table` by
    construction (same ``_shingles_of``, same null-text drop), but the
    explode reads the MATERIALIZED arrays instead of re-evaluating the
    shingle transform. Aggregate consumers (min / count / sum) are
    order-insensitive, so sharing cannot perturb any certified value.

    Memory note: callers previously pinned the exploded long table
    (stop-list path) AND the verify's array table; one array-form pin
    is strictly smaller than either."""
    arrs = _pin(_shingle_arrays(df, text_col, id_col, k))
    st = arrs.select("__id", F.explode("__shs").alias("__sh"))
    return arrs, st


def _shingle_table(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) long table — the unit of inverted-index candidate
    generation. The shingle expression is inlined in the explode (NOT
    projected first): a Generate over an aliased array column runs
    markedly slower than the inline generator.

    Null texts are dropped on the RAW column (pushes to the scan),
    matching ``_shingle_arrays``. Without it, a null text reaches the
    otherwise-branch as ``array(NULL)`` and explode emits a NULL
    shingle row — which corrupted shingle_stop_list/shingle_df_profile
    (a NULL 'shingle' with df = #null docs, top_share > 1 possible)
    and gave every null-text doc an all-NULL signature sharing one
    band bucket (a candidate clique the verify then discards — wasted
    work, never wrong answers)."""
    raw = _spread(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")
        )
    )
    norm = raw.select("__id", normalize_text("__raw").alias("__t"))
    return norm.select(
        "__id", F.explode(_shingles_of(F.col("__t"), k)).alias("__sh")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH

def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants) used to
    derive the affine-permutation coefficients."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


# Mersenne prime 2^31 − 1: the affine family (a·h + b) mod p with
# a ∈ [1, p−1] is a bijection on Z/p whose products stay < 2^62 —
# ANSI-SAFE (an earlier wrapping mod-2^64 family threw
# ARITHMETIC_OVERFLOW on Spark 4's default ANSI sessions and needed a
# fail-fast guard; mod-prime is also the classic MinHash textbook
# derivation). The 64→31-bit base-hash reduction adds ~2^-31 collision
# probability per shingle — noise next to MinHash's own estimator
# variance at any practical num_perm.
_MINHASH_PRIME = (1 << 31) - 1


def _perm_coeffs(j: int) -> tuple[int, int]:
    """Deterministic (a_j, b_j) for permutation ``j``, derived from
    splitmix64 — a ∈ [1, p−1] (nonzero: a=0 would collapse the
    permutation to the constant b), b ∈ [0, p−1]."""
    a = _splitmix64(2 * j) % (_MINHASH_PRIME - 1) + 1
    b = _splitmix64(2 * j + 1) % _MINHASH_PRIME
    return a, b


def _base_hash(col: Column, hash_family: str) -> Column:
    """Shingle base hash. ``xxhash64`` (default): fastest, JVM-native.
    ``md5``: first 15 hex digits of md5 as a positive 60-bit long — an
    ENGINE-PORTABLE derivation (md5 is everywhere), which makes the
    whole MinHash pipeline reproducible by a SQL oracle bit-for-bit.
    The affine permutation family on top is identical for both."""
    if hash_family == "xxhash64":
        return F.xxhash64(col)
    if hash_family == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family {hash_family!r}")


# Background-Jaccard rule of thumb (see shingle_df_profile): below this
# the banded-LSH candidate self-join stays sub-quadratic; above it,
# bucket sizes — and |bucket|² candidates — grow with the corpus (the
# round-8 ENOSPC finding: J_bg ≈ 0.1–0.2 produced 2×10⁸ candidates /
# 50+ GB of verify shuffle at 157k docs). The default pre-flight guard
# in minhash_dedup_pairs / simhash_near_dup_pairs compares against it.
BG_JACCARD_GUARD = 0.01


def resolve_max_df(
    df: DataFrame, text_col: str,
    max_df: int | None = None, max_df_frac: float | None = None,
) -> int | None:
    """Resolve the stop-shingle document-frequency cap to an absolute
    count. ``max_df`` is absolute; ``max_df_frac`` is CORPUS-RELATIVE —
    ``ceil(frac · n_docs)`` with n_docs the non-null-text document
    count. Mutually exclusive.

    Why the fraction form exists: an absolute cap tuned at one scale is
    meaningless at another — max_df=30 on a 500-doc certification
    corpus is 6% document frequency, but on a 10⁹-doc crawl it would
    stop-list essentially every shingle. "Drop shingles present in
    more than X% of documents" (the C4/CCNet-style phrasing of the
    stop-ngram rule) survives a 1000× corpus growth unchanged; the
    round-8 scale probe's working setting was n_docs/100, i.e.
    ``max_df_frac=0.01``. Cost: one pruned scan count (driver-side
    single long) when the fraction form is used; zero otherwise."""
    if max_df_frac is None:
        return max_df
    if max_df is not None:
        raise ValueError("pass max_df or max_df_frac, not both")
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError(
            f"max_df_frac must be in (0, 1], got {max_df_frac!r}"
        )
    n_docs = df.where(F.col(text_col).isNotNull()).count()
    return max(1, math.ceil(max_df_frac * n_docs))


# Telemetry from the most recent _bg_jaccard_guard run in this
# process. At corpus scale the guard's eager aggregate is nontrivial —
# the number it computes should not be print-only (round-9 verdict
# stretch): a pipeline that just paid for the measurement can log it.
_LAST_GUARD_PROFILE: dict | None = None


def last_guard_profile() -> dict | None:
    """Measurement from the most recent pre-flight entropy guard run
    by a guarded LSH entry point (:func:`minhash_dedup_pairs` /
    :func:`simhash_near_dup_pairs` with ``guard != 'off'`` and no
    mitigation knob) in this process.

    Returns a copy of ``{caller, n_docs, total_occurrences,
    pair_mass, bg_jaccard_est, threshold, triggered}`` — the sums-only
    core of :func:`shingle_df_profile` (``bg_jaccard_est`` matches
    that function's column bit-for-bit before its rounding;
    ``None`` on a degenerate corpus where the estimate is undefined) —
    or ``None`` if no guard has run yet. Process-local and
    last-run-wins: read it right after the guarded call you want to
    log, not from concurrently-driving threads."""
    return (None if _LAST_GUARD_PROFILE is None
            else dict(_LAST_GUARD_PROFILE))


def _bg_jaccard_guard(
    arrs: DataFrame, st: DataFrame,
    guard: str, threshold: float = BG_JACCARD_GUARD,
    caller: str = "LSH",
) -> None:
    """Default-on pre-flight entropy guard for the LSH entry points:
    computes the sums-only core of :func:`shingle_df_profile` (the
    quantile columns are skipped) over the caller's staged shingle
    table ``st`` and warns or raises when the closed-form background
    Jaccard estimate predicts a quadratic candidate self-join and no
    stop-shingle mitigation was requested. ``arrs`` is the pinned
    per-doc array frame ``st`` explodes (see :func:`_staged_shingles`):
    the guard's collect materializes that cache, and the signature and
    verify passes then reuse it, so the guard's marginal cost is one
    aggregate.

    Why it exists: the round-8 scale probe showed that running banded
    LSH on a low-entropy corpus WITHOUT ``max_df`` produces |bucket|²
    candidates by problem definition (measured 2×10⁸ candidates / 50+
    GB of verify shuffle / ENOSPC at 157k docs). The diagnostic
    existed (:func:`shingle_df_profile`) but nothing invoked it — a
    user who skipped the manual pre-flight hit the blowup anyway.

    NOTE this makes the entry points EAGER (ONE small Spark action — the
    df-distribution aggregate with the doc count riding along as a
    broadcast 1-row agg — runs at call time rather than at the first
    action). Pass ``guard='off'`` to keep them fully lazy, or supply
    ``max_df``/``max_df_frac``/``stops`` — a mitigated call never runs
    the guard. Whenever the guard DOES run, its measurement is retained
    for logging — read it back via :func:`last_guard_profile` (round-9
    verdict stretch: the eager work is nontrivial at corpus scale, so
    its result should not be print-only)."""
    if guard == "off":
        return
    if guard not in ("warn", "raise"):
        raise ValueError(
            f"guard must be 'warn', 'raise' or 'off', got {guard!r}"
        )
    d19 = F.col("df").cast("decimal(19,0)")
    stats = (
        st.groupBy("__sh").agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.sum("df").alias("occ"),
            F.sum(d19 * (d19 - F.lit(1))).alias("pair_mass"),
        )
    )
    # ONE action for the whole measurement (guide §1.2/§2.4: every eager
    # driver action is a full pass at corpus scale). n_docs rides along
    # as a broadcast 1-row agg over the staged arrays (one row per
    # non-null-text doc, by construction of _shingle_arrays) instead of
    # a second job re-scanning the raw corpus.
    nd = arrs.agg(F.count(F.lit(1)).alias("__n_docs"))
    row = stats.crossJoin(F.broadcast(nd)).collect()[0]
    n = int(row["__n_docs"])
    global _LAST_GUARD_PROFILE
    profile = {
        "caller": caller,
        "n_docs": n,
        "total_occurrences": (None if row["occ"] is None
                              else int(row["occ"])),
        "pair_mass": (None if row["pair_mass"] is None
                      else int(row["pair_mass"])),
        "bg_jaccard_est": None,
        "threshold": threshold,
        "triggered": False,
    }
    _LAST_GUARD_PROFILE = profile
    if n < 2 or row["occ"] is None:
        return  # degenerate corpus: nothing to predict
    e_shared = float(row["pair_mass"]) / (n * (n - 1))
    e_size = float(row["occ"]) / n
    denom = 2.0 * e_size - e_shared
    if denom <= 0:
        return
    j_bg = e_shared / denom
    profile["bg_jaccard_est"] = j_bg
    if j_bg <= threshold:
        return
    profile["triggered"] = True
    msg = (
        f"{caller} pre-flight guard: measured bg_jaccard_est="
        f"{j_bg:.4f} exceeds {threshold} on this corpus (n_docs={n}) — "
        f"banded candidate generation is likely to go quadratic "
        f"(|bucket|^2 self-join; round-8 probe measured 2e8 candidates "
        f"/ 50+ GB verify shuffle at J_bg~0.1). Pass max_df or "
        f"max_df_frac to exclude stop-shingles (see shingle_stop_list "
        f"/ shingle_df_profile), supply a precomputed stops= list, or "
        f"set guard='off' to proceed unmitigated."
    )
    if guard == "raise":
        raise ValueError(msg)
    warnings.warn(msg, RuntimeWarning, stacklevel=3)


def shingle_stop_list(
    df: DataFrame, text_col: str, id_col: str,
    shingle_k: int = 5, max_df: int | None = None,
    table: DataFrame | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """STOP-SHINGLES: the shingles whose document frequency exceeds
    ``max_df`` — boilerplate (navigation chrome, license headers,
    templated spam) that carries no discriminative signal. Output
    (shingle, df), the exclusion list the ``max_df`` option of
    :func:`minhash_dedup_pairs` applies.

    Why this exists at scale: banded LSH is sub-quadratic only while
    background Jaccard is low. On a LOW-ENTROPY corpus (every doc
    sharing a large boilerplate fraction) nearly every pair is a
    threshold-adjacent neighbor, band buckets grow to thousands of
    docs, and the candidate self-join degrades to |bucket|² — measured
    2×10⁸ candidates / 50+ GB of verify shuffle on a 157k-doc 24-word
    synthetic corpus (tools/scale_probe.py, round 8). Dropping
    shingles with df > max_df removes exactly the shared mass that
    creates those buckets, the same document-frequency cap
    :func:`ngram_jaccard_pairs` already exposes (and the published
    stop-ngram practice of C4/CCNet-style dedup).

    One hash aggregate over the (doc, distinct-shingle) table; the
    output is tiny by construction (Σ df over survivors ≤ corpus
    shingle occurrences / max_df), so downstream anti-joins broadcast.
    ``table`` (optional) supplies a prebuilt ``_shingle_table`` frame —
    minhash_dedup_pairs/simhash_near_dup_pairs pass their PINNED
    shingle table so the corpus is normalized+shingled once, not once
    per pass. ``max_df_frac`` (optional) replaces ``max_df`` with the
    corpus-relative form ``ceil(frac · n_docs)`` — see
    :func:`resolve_max_df` for why absolute caps don't survive scale
    changes. Passing BOTH raises (same contract as the LSH entry
    points — silently preferring one would hand back a different stop
    list than the caller asked for); passing neither uses the
    historical default cap of 100.

    At the 100 TB regime, run THIS function once over a checkpointed
    shingle table, persist its (tiny) output, and pass it to the LSH
    entry points via their ``stops=`` parameter — that path skips the
    in-line df pass (see the footprint note on
    :func:`minhash_dedup_pairs`).
    """
    max_df = resolve_max_df(df, text_col, max_df, max_df_frac)
    if max_df is None:
        max_df = 100  # historical default cap
    st = table if table is not None else _shingle_table(
        df, text_col, id_col, shingle_k
    )
    return (
        st.groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select(F.col("__sh").alias("shingle"), "df")
    )


def shingle_df_profile(
    df: DataFrame, text_col: str, id_col: str,
    shingle_k: int = 5, decimals: int = 6,
    table: DataFrame | None = None,
) -> DataFrame:
    """PRE-FLIGHT entropy diagnostic for similarity/dedup jobs: one row
    describing the corpus' shingle document-frequency distribution —
    run this BEFORE pointing LSH at an unfamiliar 100 TB corpus.

    Output columns: n_docs, n_distinct_shingles, total_occurrences
    (Σ df), df_max, df_p50/df_p90/df_p99 (exact type-1 quantiles of
    the df distribution), top_share (df_max / n_docs — 'some shingle
    appears in X of the docs'), and bg_jaccard_est — the expected
    Jaccard between two random documents under independent sampling:
    E[|A∩B|] = Σ_s df_s(df_s−1) / (n(n−1)) and E[|A|] = Σ df / n, so
    J_bg ≈ E∩ / (2·E[|A|] − E∩). The round-8 scale probe measured the
    consequence of ignoring this number: at J_bg ≈ 0.1–0.2 banded LSH
    candidates go quadratic (2×10⁸ pairs / 50+ GB verify shuffle on a
    157k-doc corpus). Rule of thumb: J_bg ≲ 0.01 → run as-is;
    higher → pass ``max_df`` (see :func:`shingle_stop_list`) or widen
    the bands.

    Scale shape: one explode → one hash-agg to the df table → exact
    integer/decimal sums + the shared distributed prefix-sum for the
    quantiles. No sorts over raw rows, no driver collect, no pin: the
    df table's consumers sit in one plan and share its shuffle through
    exchange reuse, which AQE does not do above a cached scan. Products
    are decimal(38,0)-exact (df < 1e19); the three final divisions are
    the only doubles, so the row is engine-reproducible. On a 0- or 1-doc
    corpus the ratio columns are explicitly NULL (each division is
    gated on its denominator, so the row is identical whether the
    session runs with spark.sql.ansi.enabled or not — an unguarded
    division would return NULL under default semantics but raise
    DIVIDE_BY_ZERO under ANSI). ``table`` (optional) supplies a
    prebuilt ``_shingle_table`` frame, same contract as
    :func:`shingle_stop_list`."""
    from .accuracy import quantiles_exact

    dfreq = shingle_stop_list(df, text_col, id_col, shingle_k, max_df=0,
                              table=table)  # max_df=0 → every shingle
    n_docs = df.where(F.col(text_col).isNotNull()).select(
        F.count(F.lit(1)).alias("n_docs")
    )
    d19 = F.col("df").cast("decimal(19,0)")
    sums = dfreq.agg(
        F.count(F.lit(1)).alias("n_distinct_shingles"),
        F.sum("df").alias("total_occurrences"),
        F.max("df").alias("df_max"),
        F.sum(d19 * (d19 - F.lit(1))).alias("__pair_mass"),
    )
    qs = quantiles_exact(dfreq, "df", [0.5, 0.9, 0.99])
    qrow = qs.groupBy().agg(
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("df_p50"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("df_p90"),
        F.max(F.when(F.col("q") == 0.99, F.col("value"))).alias("df_p99"),
    )
    n = F.col("n_docs").cast("double")
    null_d = F.lit(None).cast("double")
    # CASE WHEN short-circuits per branch, so the gated divisions are
    # never evaluated when their denominator is zero — identical NULL
    # output with or without spark.sql.ansi.enabled
    e_shared = F.when(
        n > 1, F.col("__pair_mass").cast("double") / (n * (n - 1))
    ).otherwise(null_d)
    e_size = F.when(
        n > 0, F.col("total_occurrences").cast("double") / n
    ).otherwise(null_d)
    bg_denom = F.lit(2.0) * e_size - e_shared
    return (
        sums.crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(qrow))
        .select(
            "n_docs",
            "n_distinct_shingles",
            "total_occurrences",
            "df_max",
            F.col("df_p50").cast("bigint").alias("df_p50"),
            F.col("df_p90").cast("bigint").alias("df_p90"),
            F.col("df_p99").cast("bigint").alias("df_p99"),
            F.when(n > 0, F.round(F.col("df_max") / n, decimals))
            .otherwise(null_d).alias("top_share"),
            F.when(bg_denom != 0, F.round(e_shared / bg_denom, decimals))
            .otherwise(null_d).alias("bg_jaccard_est"),
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 32, shingle_k: int = 5,
    hash_family: str = "xxhash64",
    stops: DataFrame | None = None,
    table: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as ``num_perm`` columns ``mh_j``.

    Permutation family: ONE base xxhash64 per shingle, reduced mod
    p = 2³¹−1, then ``num_perm`` affine transforms
    ``(a_j·h + b_j) mod p`` (a_j ≠ 0 — a bijection on Z/p, i.e. a true
    permutation; products stay < 2^62 so the arithmetic is ANSI-safe).
    One groupBy over the exploded shingle table computes all mins in a
    single HashAggregate (shuffle key = doc id, payload = num_perm
    longs; map-side partial agg shrinks the shuffle to one row per
    doc).

    Measured alternatives (rejected):
    - seeded ``xxhash64(shingle, j)`` per permutation re-hashes the
      string bytes num_perm× — 1.33× slower end-to-end at sf0.1 (7.2s
      → 5.4s warm for the full minhash_dedup_pairs when switched to
      affine; the residual is shingling + the verify join, not the
      signature);
    - per-row ``array_min(transform(shingles, s -> xxhash64(s, j)))``
      avoids the shuffle but runs ~2× slower still — higher-order-
      function lambdas evaluate interpreted per element, while explode +
      hash-agg stays in whole-stage codegen.
    """
    base = _base_hash(F.col("__sh"), hash_family)
    p = F.lit(_MINHASH_PRIME)
    st = table if table is not None else _shingle_table(
        df, text_col, id_col, shingle_k
    )
    if stops is not None:
        # stop-shingle exclusion (see shingle_stop_list): the stop set
        # is small by construction — unhinted, AQE broadcasts it. A doc
        # whose shingles are ALL stopped drops out here (no signature,
        # no bands, no candidates) — consistent with the verify side.
        st = st.join(
            stops.select(F.col("shingle").alias("__sh")), "__sh",
            "left_anti",
        )
    sh = st.select("__id", F.pmod(base, p).alias("__h"))
    # each agg as ONE F.expr parse, not a py4j-built Column chain —
    # same plan, ~5x cheaper to construct at num_perm=32 (the
    # minhash_bands_rowwise note applies; operands are non-negative so
    # pmod == the Column form's %)
    aggs = []
    for j in range(num_perm):
        a, b = _perm_coeffs(j)
        aggs.append(F.expr(
            f"min(pmod(__h * {a}L + {b}L, {_MINHASH_PRIME}L)) AS mh_{j}"
        ))
    return sh.groupBy("__id").agg(*aggs).withColumnRenamed("__id", id_col)


def minhash_bands(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 32, bands: int = 4, shingle_k: int = 5,
    hash_family: str = "xxhash64",
    stops: DataFrame | None = None,
    table: DataFrame | None = None,
) -> DataFrame:
    """The persistable LSH INDEX of a corpus: (id, band, band_hash) —
    ``bands`` rows per document, 12 bytes of key each. Write this to
    parquet once per accepted corpus; :func:`minhash_probe` joins a new
    crawl increment against it WITHOUT recomputing the corpus
    signatures (the num_perm × shingle hash work, the expensive part).
    The band hash is the same derivation :func:`minhash_candidate_pairs`
    uses, so index-vs-probe collisions are identical to a full run's."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    sig = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_k, hash_family,
        stops=stops, table=table,
    )
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        if hash_family == "md5":
            # portable band hash: md5 of the '|'-joined row values +
            # band index (longs render identically as strings in SQL
            # engines, so an oracle reproduces the bucket)
            bh = F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", *cols, F.lit(b))), 1, 15
                ), 16, 10,
            ).cast("long")
        else:
            bh = F.xxhash64(*cols, F.lit(b))
        band_cols.append(bh.alias(f"bh_{b}"))
    banded = sig.select(F.col(id_col), *band_cols)
    stack = "stack({n}, {args}) as (band, band_hash)".format(
        n=bands, args=", ".join(f"{b}, bh_{b}" for b in range(bands))
    )
    return banded.select(F.col(id_col), F.expr(stack))


def minhash_bands_rowwise(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 32, bands: int = 4, shingle_k: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """:func:`minhash_bands` computed entirely PER ROW — higher-order
    expressions over the in-row shingle array, no explode-groupBy
    aggregate, therefore NO SHUFFLE. Values are bit-identical to the
    aggregate path (min over the same distinct-shingle affine values;
    unit-certified). ~2× slower per row than the agg form (HOF lambdas
    evaluate interpreted — see minhash_signatures' docstring), which
    buys the property that matters for STREAMING: a stateless narrow
    projection is legal on an unbounded DataFrame, where the agg form
    would need a streaming aggregate. Use the agg form for batch."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    p = F.lit(_MINHASH_PRIME)

    def base(s: Column) -> Column:
        if hash_family == "xxhash64":
            return F.xxhash64(s)
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    norm = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__t")
    )
    hs = norm.select(
        F.col(id_col),
        F.transform(
            _shingles_of(F.col("__t"), shingle_k),
            lambda s: F.pmod(base(s), p),
        ).alias("__hs"),
    )
    # The num_perm affine-min columns are built as ONE selectExpr parse
    # instead of num_perm python-side F.transform lambdas: each
    # Python-constructed HOF lambda costs a py4j call chain (variable
    # allocation, lambda wrapping), measured ~8x the construction time
    # of the parsed form at num_perm=32 — pure plan-build overhead that
    # lands in every streaming micro-batch query's recorded floor. The
    # parsed expressions resolve to the identical plan (coefficients
    # are int literals; operands are non-negative so pmod == the
    # loop form's %; bit-identity to the agg path stays unit-pinned).
    sig_exprs = []
    for j in range(num_perm):
        aj, bj = _perm_coeffs(j)
        sig_exprs.append(
            f"array_min(transform(__hs, h -> "
            f"pmod(h * {aj}L + {bj}L, {_MINHASH_PRIME}L))) AS mh_{j}"
        )
    sig = hs.selectExpr(f"`{id_col}`", *sig_exprs)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        if hash_family == "md5":
            bh = F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", *cols, F.lit(b))), 1, 15
                ), 16, 10,
            ).cast("long")
        else:
            bh = F.xxhash64(*cols, F.lit(b))
        band_cols.append(bh.alias(f"bh_{b}"))
    stack = "stack({n}, {args}) as (band, band_hash)".format(
        n=bands, args=", ".join(f"{b}, bh_{b}" for b in range(bands))
    )
    return sig.select(F.col(id_col), *band_cols).select(
        F.col(id_col), F.expr(stack)
    )


def minhash_probe(
    new_df: DataFrame,
    corpus_df: DataFrame,
    index_bands: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_perm: int = 32, bands: int = 4, shingle_k: int = 5,
    hash_family: str = "xxhash64",
    stops: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup: which new documents near-duplicate the
    ACCEPTED corpus? Bands only the increment (tiny vs the corpus),
    equi-joins it against the persisted :func:`minhash_bands` index,
    then exact-Jaccard-verifies candidates — shingling only the
    candidate-touched docs on either side (``_jaccard_verified``'s
    left-semi prune). The corpus signature work is never redone; the
    per-increment cost is O(increment) + O(candidates).

    ``corpus_df`` supplies (id, text) for the verify step only — at
    scale, the same parquet the corpus was released from. New-vs-new
    pairs are NOT reported (run minhash_dedup_pairs on the increment
    for those). Results are bit-identical to the cross-pairs subset of
    a full minhash_dedup_pairs run over corpus ∪ increment with the
    same parameters (unit-certified). Output: (new_id, corpus_id,
    jaccard).

    ``stops`` (optional) is the stop-shingle exclusion applied to the
    increment's bands and the verify — it MUST be the same list the
    persisted ``index_bands`` was built with (persist the
    :func:`shingle_stop_list` output next to the index; recomputing it
    from a different corpus snapshot silently changes the geometry).
    """
    new_bands = _pin(
        minhash_bands(
            new_df, text_col, id_col, num_perm, bands, shingle_k,
            hash_family, stops=stops,
        ).select(F.col(id_col).alias("id_a"), "band", "band_hash"),
    )
    idx = index_bands.select(
        F.col(id_col).alias("id_b"), "band", "band_hash"
    )
    cands = _pin(
        new_bands.join(idx, ["band", "band_hash"])
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct(),
    )
    both = new_df.select(F.col(id_col), F.col(text_col)).unionByName(
        corpus_df.select(F.col(id_col), F.col(text_col))
    )
    out = _jaccard_verified(
        both, text_col, id_col, cands, threshold, shingle_k, stops=stops,
    )
    return out.select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


def auto_bands(num_perm: int, threshold: float) -> int:
    """Band count whose S-curve midpoint (1/b)^(b/num_perm) sits at or
    below ``threshold`` — the fewest bands that still catch threshold-
    level pairs reliably. The banding trade: a pair at Jaccard j
    collides with probability 1−(1−j^r)^b (r = num_perm/b); a FIXED
    bands=4 with num_perm=32 puts the 50% point at j≈0.84, so hunting
    0.6-similarity dups there misses ~17% of them per hash-family seed
    (a recall hole that only shows up when the family changes — the
    mod-p migration exposed exactly this in the threshold-0.6
    pipeline test). Fewest-bands-that-qualify, not most: every extra
    band multiplies candidate volume on high-background-similarity
    corpora."""
    b = 2
    while b <= num_perm:
        r = num_perm // b
        if (1.0 / b) ** (1.0 / r) <= threshold:
            return b
        b *= 2
    return num_perm


def minhash_candidate_pairs(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 32, bands: int = 4, shingle_k: int = 5,
    hash_family: str = "xxhash64",
    stops: DataFrame | None = None,
    table: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become a
    candidate pair. Output (id_a, id_b), id_a < id_b, distinct.

    Plan: signature → (id, band, band_hash) via stack → self-equi-join
    on (band, band_hash). The join key is 12 bytes — the corpus text
    never moves. Band collisions only create candidates; the verified
    Jaccard filter (minhash_dedup_pairs) removes false positives.

    Tuning: the S-curve midpoint is ≈(1/bands)^(rows/num_perm⁻¹) —
    bands=4, rows=8 targets J≈0.84 (pairs well below that rarely become
    candidates, which is what keeps the candidate set sub-quadratic on
    corpora with high background similarity). Use more bands only when
    hunting lower-similarity pairs, and expect more candidates.
    """
    long = _pin(
        minhash_bands(
            df, text_col, id_col, num_perm, bands, shingle_k, hash_family,
            stops=stops, table=table,
        ).select(F.col(id_col).alias("__id"), "band", "band_hash"),
    )
    left = long.select(
        F.col("__id").alias("id_a"), "band", "band_hash"
    )
    right = long.select(
        F.col("__id").alias("id_b"), "band", "band_hash"
    )
    return (
        left.join(right, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _jaccard_verified(
    df: DataFrame, text_col: str, id_col: str, pairs: DataFrame,
    threshold: float, shingle_k: int,
    stops: DataFrame | None = None,
    arrs: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: join each pair to
    its two per-doc shingle arrays and take
    ``size(array_intersect(a, b))`` per row — two equi-joins, no
    explode/agg, and EXACT string intersection (no hash step at all).
    Measured 5.5 s → 2.3 s cold at sf0.1 against the inverted-index
    plan this replaced (3 extra shuffles + their codegen compiles on
    kilobyte inputs — the r4 q_textprep_pipeline regression's real
    cost). Per-pair work/memory is O(|A|+|B|), the same arrays
    `_shingle_arrays` materializes anyway; the shuffle payload is the
    candidate docs' shingle arrays (≈ text size).

    Only docs that appear in some candidate pair are even SHINGLED
    (left-semi prune on the raw docs, before the shingle projection) —
    verification cost scales with the candidate set, not the corpus.

    ``arrs`` (optional): an ALREADY-PINNED ``_shingle_arrays`` frame
    from the caller's shared staging (see :func:`_staged_shingles`) —
    the semi prune then runs over the materialized arrays instead of
    re-normalizing + re-shingling the pruned raw docs, and the
    narrowness decision is skipped entirely."""
    ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .unionByName(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    if arrs is not None:
        # shared staging: prune the pinned arrays to candidate docs
        # (AQE broadcasts small ids); partitioning/spread decisions were
        # already taken when the staging was built
        arrs = arrs.join(ids, "__id", "left_semi")
    else:
        # prune + canonicalize BEFORE the semi join so the narrowness
        # decision below looks ONLY at the corpus projection (null
        # filter still pushes to the scan; filter and semi join commute)
        base = df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")
        )
        docs = base.join(ids, "__id", "left_semi")  # AQE broadcasts ids
        # Narrowness is decided on the CORPUS plan, not the joined plan
        # (planning the whole candidate lineage cost ~8 s of cold driver
        # time at sf0.1 — round 11), and through partitioning's zero-job
        # estimate, never an .rdd probe (under AQE that executes the
        # corpus lineage's query stages at construction time). A
        # broadcast semi join preserves base's partitioning, so base's
        # split count IS the joined side's in exactly the case the
        # spread matters (few-split scan + small candidate set). When
        # the ids side is instead shuffle-joined, the output is already
        # target-partitioned and the extra keyed repartition of the
        # (small, candidates-only) doc set is one cheap exchange.
        if under_parallel(base):
            docs = docs.repartition(
                df.sparkSession.sparkContext.defaultParallelism, "__id"
            )
        arrs = _shingle_arrays_pre(docs, shingle_k)
    if stops is not None:
        # Jaccard over the FILTERED sets — the same exclusion the
        # signature side applied, so verify and banding agree. Explode →
        # broadcast anti-join → regroup; candidate docs only, so the
        # extra shuffle scales with the candidate set, not the corpus.
        # collect_list keeps per-doc distinctness (_shingles_of already
        # array_distincts); docs whose shingles are ALL stopped drop
        # out here (no row), matching the signature side.
        #
        # The pin BEFORE the explode is load-bearing, not just a reuse
        # cache: Catalyst's InferFiltersFromGenerate pushes a
        # size(__shs) > 0 / isnotnull(__shs) filter below the Generate,
        # and on the raw plan each filter evaluation re-runs the WHOLE
        # normalize+transform shingle expression per row (the same
        # pushed-filter pathology _shingle_arrays documents — measured
        # 20s vs 2s on a 1.5k-doc verify). The InMemoryRelation
        # boundary makes those inferred filters cheap array ops on the
        # cached rows instead.
        arrs = (
            _pin(arrs)
            .select("__id", F.explode("__shs").alias("__sh"))
            .join(
                stops.select(F.col("shingle").alias("__sh")), "__sh",
                "left_anti",
            )
            .groupBy("__id")
            .agg(F.collect_list("__sh").alias("__shs"))
        )
    arrs = _pin(arrs)
    a = arrs.select(
        F.col("__id").alias("id_a"), F.col("__shs").alias("__sa")
    )
    b = arrs.select(
        F.col("__id").alias("id_b"), F.col("__shs").alias("__sb")
    )
    out = (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "__shared", F.size(F.array_intersect("__sa", "__sb"))
        )
        .withColumn(
            "jaccard",
            F.col("__shared")
            / (F.size("__sa") + F.size("__sb") - F.col("__shared")),
        )
    )
    return out.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame, text_col: str, id_col: str,
    threshold: float = 0.8, num_perm: int = 32,
    bands: int | None = 4,
    shingle_k: int = 5,
    hash_family: str = "xxhash64",
    max_df: int | None = None,
    max_df_frac: float | None = None,
    stops: DataFrame | None = None,
    guard: str = "warn",
    guard_threshold: float = BG_JACCARD_GUARD,
    output: str = "pairs",
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates → exact Jaccard ≥
    threshold. Output (id_a, id_b, jaccard), id_a < id_b. The verify
    is the per-pair array_intersect join (see ``_jaccard_verified``).

    ``bands=None`` derives the band count from ``threshold`` via
    :func:`auto_bands` (recall-safe for any threshold); the explicit
    default stays 4 so oracle-certified configurations — whose SQL
    replays a pinned band shape — are unaffected.

    The multiply-referenced intermediates (staged shingles, banded
    signatures, candidate pairs, verify arrays) are pinned so each is
    computed once instead of once per plan reference — see ``_pin``.

    ``hash_family='md5'`` makes every stage engine-portable (see
    ``_base_hash``) at ~md5-vs-xxhash64 cost — the certification
    configuration; keep the default for production throughput.

    ``max_df`` (optional) excludes STOP-SHINGLES — shingles present in
    more than ``max_df`` documents — from BOTH the signatures and the
    exact-Jaccard verify (so the similarity is Jaccard over the
    filtered sets, consistently). This is the low-entropy-corpus
    escape hatch: boilerplate shared across most documents inflates
    background Jaccard until LSH bucket sizes — and the candidate
    self-join — go quadratic (see :func:`shingle_stop_list` for the
    measured blowup). Semantics change deliberately: near-duplication
    is then judged on the INFORMATIVE content only, which is the
    published stop-ngram practice. ``max_df_frac`` is the
    corpus-relative form — ``ceil(frac · n_docs)``, the setting that
    survives scale changes (see :func:`resolve_max_df`); pass one or
    the other, not both.

    FOOTPRINT: the per-doc shingle arrays (≈ shingle_k × corpus text
    bytes) are pinned MEMORY_AND_DISK so the guard, the df pass, the
    signatures and the verify share one shingling (see
    :func:`_staged_shingles`) — at the 100 TB regime that spill can
    itself exhaust local disk. Compute the (tiny) stop list ONCE with
    :func:`shingle_stop_list` over a checkpointed shingle table,
    persist it, and pass it here via ``stops=`` — the list is reusable
    across minhash/simhash/funnel runs and skips the in-line df pass.

    ``guard`` ('warn' default | 'raise' | 'off'): when NO stop-shingle
    mitigation is requested, a cheap pre-flight aggregate estimates
    the corpus' background Jaccard and warns (or raises) above
    ``guard_threshold`` — see :func:`_bg_jaccard_guard` for why this
    is default-on and the note on eagerness. Mitigated calls skip it.

    ``output`` ('pairs' default | 'clusters'): 'clusters' feeds the
    verified pairs straight into connected-components contraction and
    returns (node, component) — one row per DUPLICATED doc, component
    id = min doc id. On pathological corpora the true pair count is
    Θ(n²) (the round-8 raw-lorem probe verified 294k pairs and
    growing), but the cluster labeling downstream consumers actually
    want is O(n); this option keeps the materialized result bounded
    even when the edge set is not. The edges stream through the CC
    contraction (bounded driver union-find below 1M edges, the
    distributed star contraction above — see
    :func:`..graph.connected_components`) without ever being
    collected as a full pair list."""
    if bands is None:
        bands = auto_bands(num_perm, threshold)
    if output not in ("pairs", "clusters"):
        raise ValueError(
            f"output must be 'pairs' or 'clusters', got {output!r}"
        )
    if guard not in ("warn", "raise", "off"):
        # validate up front even when a mitigation skips the guard —
        # a typo'd guard= on a mitigated call should not pass silently
        raise ValueError(
            f"guard must be 'warn', 'raise' or 'off', got {guard!r}"
        )
    if stops is not None and (max_df is not None or max_df_frac is not None):
        # exclusivity BEFORE resolve_max_df: the frac form runs an
        # eager corpus count, and an invalid call must not pay a full
        # 100 TB scan just to raise
        raise ValueError(
            "pass a precomputed stops= list OR max_df/max_df_frac, "
            "not both"
        )
    max_df = resolve_max_df(df, text_col, max_df, max_df_frac)
    # One pinned shingle pass feeds the guard, the stop-list df pass,
    # the signatures AND the verify arrays (see _staged_shingles).
    arrs, st = _staged_shingles(df, text_col, id_col, shingle_k)
    if stops is not None:
        stops = stops.select("shingle")  # caller-supplied, never cached
    elif max_df is not None:
        stops = _pin(
            shingle_stop_list(df, text_col, id_col, shingle_k, max_df,
                              table=st),
        )
    elif guard != "off":
        # pre-flight entropy check over the shared staging: its eager
        # collect materializes the cache the signature + verify passes
        # then reuse, so the guard's marginal cost is one aggregate
        _bg_jaccard_guard(
            arrs, st, guard, guard_threshold,
            caller="minhash_dedup_pairs",
        )
    cands = _pin(
        minhash_candidate_pairs(
            df, text_col, id_col, num_perm, bands, shingle_k,
            hash_family, stops=stops, table=st,
        ),
    )
    out = _jaccard_verified(
        df, text_col, id_col, cands, threshold, shingle_k,
        stops=stops, arrs=arrs,
    )
    if output == "clusters":
        from .graph import connected_components

        # connected_components materializes the projected edge list
        # once on entry (localCheckpoint), so the expensive verify
        # join above runs exactly once no matter how many actions the
        # contraction issues — no extra pin needed here
        return connected_components(out.select("id_a", "id_b"))
    return out


# ---------------------------------------------------------------------------
# SimHash

def simhash64(df: DataFrame, text_col: str, id_col: str,
              shingle_k: int = 5, hash_family: str = "xxhash64",
              stops: DataFrame | None = None,
              table: DataFrame | None = None) -> DataFrame:
    """64-bit SimHash per doc: bit i is the sign of Σ±1 over shingle
    hashes' bit i. One explode + one groupBy; the signature packs back
    into one long.

    Σ±1 over bit i equals 2·Σbitᵢ − n, so the aggregate computes plain
    bit sums plus one count — no conditional branch per (row, bit).

    The 64 bit counters are LANE-PACKED into 16 long accumulators
    (accumulator j keeps counts for bits j, j+16, j+32, j+48 in four
    16-bit lanes): same arithmetic, but a quarter of the aggregate
    expressions, which cuts the whole-stage-codegen compile of this
    stage ~2.4s on first run (the dominant cost of a one-shot simhash
    job; steady-state throughput is unchanged — verified bit-identical
    signatures vs the unpacked form). Lanes can't overflow below 65536
    shingles per doc (5-gram shingles ⇒ docs < ~64 KB; chunk first
    above that).

    ``stops`` (optional, see :func:`shingle_stop_list`): exclude
    stop-shingles from the signature sums. Boilerplate shared by most
    documents drags every signature toward the same bit pattern —
    the same low-entropy pathology that makes banded MinHash
    quadratic makes pigeonhole Hamming blocking quadratic (all docs
    agree on most chunks); filtering restores signature diversity."""
    st = table if table is not None else _shingle_table(
        df, text_col, id_col, shingle_k
    )
    if stops is not None:
        st = st.join(
            stops.select(F.col("shingle").alias("__sh")), "__sh",
            "left_anti",
        )
    # ONE base hash per shingle row, projected before the aggregate so
    # the (md5-conv or xxhash64) expression appears once in the plan
    # instead of once per lane term (64 copies previously).
    sh = st.select("__id", _base_hash(F.col("__sh"), hash_family).alias("__h"))
    # Every aggregate/packing expression is built as ONE F.expr parse
    # instead of a py4j-built Column chain — the same plan, but the
    # 64-term when/bitwiseOR reduce cost ~2.5 s of py4j round-trips per
    # call at construction time (profiled r14: 11,870 socket commands,
    # 2.0 s in the packed reduce alone — the dominant cost of a warm
    # one-shot simhash query; minhash_signatures documents the same
    # finding for its agg list). Arithmetic is term-for-term identical
    # (1L literals make the int→long promotions explicit), so the
    # signatures stay bit-identical — pinned by the existing
    # packed-vs-unpacked and oracle certifications.
    sums = []
    for j in range(16):
        lanes = " + ".join(
            f"(shiftright(__h, {j}) & 1L)" if l == 0 else
            f"shiftleft(shiftright(__h, {j + 16 * l}) & 1L, {16 * l})"
            for l in range(4)
        )
        sums.append(F.expr(f"sum({lanes}) AS s_{j}"))
    agg = sh.groupBy("__id").agg(*sums, F.count(F.lit(1)).alias("__n"))

    # sign of 2·b_i − n per bit i: bit set when ones are at least half
    packed = " | ".join(
        f"(CASE WHEN (shiftright(s_{i % 16}, {16 * (i // 16)}) & 65535L)"
        f" * 2L >= __n THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(64)
    )
    return agg.select(
        F.col("__id").alias(id_col), F.expr(f"({packed}) AS simhash")
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str,
    max_hamming: int = 3, shingle_k: int = 5,
    hash_family: str = "xxhash64",
    max_df: int | None = None,
    max_df_frac: float | None = None,
    stops: DataFrame | None = None,
    guard: str = "warn",
    guard_threshold: float = BG_JACCARD_GUARD,
    output: str = "pairs",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: split the 64-bit signature into
    ``max_hamming+1`` chunks — any pair within the radius agrees on at
    least one chunk, so an equi-join on (chunk_idx, chunk_value) finds
    all of them; verify with bit_count(xor).

    ``max_df`` (optional): exclude stop-shingles (document frequency >
    max_df) from the signatures — the boilerplate-heavy-corpus knob;
    without it, shared boilerplate drags every signature toward the
    same bit pattern and the chunk equi-join degrades to |bucket|²
    (the simhash face of the round-8 LSH finding). ``max_df_frac`` is
    the corpus-relative form (see :func:`resolve_max_df`); ``stops=``
    accepts a precomputed :func:`shingle_stop_list` output so the
    corpus-scale shingle table is never cached, and ``guard``
    ('warn'|'raise'|'off') is the default-on pre-flight entropy check
    — footprint/eagerness notes on :func:`minhash_dedup_pairs` apply
    verbatim, as does ``output='clusters'`` (O(n) CC labeling instead
    of the pair list — the shape to use when the Hamming-ball pair
    population is itself quadratic, as on the 30× probe corpus)."""
    if output not in ("pairs", "clusters"):
        raise ValueError(
            f"output must be 'pairs' or 'clusters', got {output!r}"
        )
    if guard not in ("warn", "raise", "off"):
        # up-front validation — see minhash_dedup_pairs
        raise ValueError(
            f"guard must be 'warn', 'raise' or 'off', got {guard!r}"
        )
    if stops is not None and (max_df is not None or max_df_frac is not None):
        # exclusivity BEFORE the eager frac count — see minhash
        raise ValueError(
            "pass a precomputed stops= list OR max_df/max_df_frac, "
            "not both"
        )
    max_df = resolve_max_df(df, text_col, max_df, max_df_frac)
    st = None
    if stops is not None:
        # caller-supplied stops: the shingle table has ONE consumer
        # (the signature sums) — staging would cache a corpus-scale
        # table for a single read, so the signature pass stays fresh
        stops = stops.select("shingle")  # never cached
    elif max_df is not None:
        # one shared shingle pass for both the df pass and the
        # signature sums (see minhash_dedup_pairs / _staged_shingles)
        _, st = _staged_shingles(df, text_col, id_col, shingle_k)
        stops = _pin(
            shingle_stop_list(df, text_col, id_col, shingle_k, max_df,
                              table=st),
        )
    elif guard != "off":
        # guard + signature sums share one staged pass — see
        # minhash_dedup_pairs
        arrs, st = _staged_shingles(df, text_col, id_col, shingle_k)
        _bg_jaccard_guard(
            arrs, st, guard, guard_threshold,
            caller="simhash_near_dup_pairs",
        )
    sig = simhash64(df, text_col, id_col, shingle_k, hash_family,
                    stops=stops, table=st)
    out = hamming_near_dup_pairs(
        sig, "simhash", id_col, max_hamming=max_hamming
    )
    if output == "clusters":
        from .graph import connected_components

        # edge materialization happens inside connected_components —
        # see minhash_dedup_pairs' clusters branch
        return connected_components(out.select("id_a", "id_b"))
    return out


def hamming_near_dup_pairs(
    df: DataFrame, sig_col: str, id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column with
    Hamming(sig) ≤ max_hamming: the signature-agnostic core of
    :func:`simhash_near_dup_pairs`, reusable for perceptual hashes of
    decoded media (pHash/aHash of images, chromaprint-style audio
    fingerprints) or any other bit-signature a kernel attaches.

    Pigeonhole blocking: split the 64-bit signature into
    ``max_hamming+1`` chunks — any pair within the radius agrees on at
    least one chunk, so an equi-join on (chunk_idx, chunk_value) finds
    all of them (lossless); verify with bit_count(xor). No all-pairs
    comparison anywhere: candidate volume scales with bucket collision
    counts, the same contract as the banded MinHash join."""
    nchunks = max_hamming + 1
    width = 64 // nchunks
    # radius 0 → one 64-bit chunk: the all-ones mask is -1 in two's
    # complement ((1<<64)-1 overflows a signed long literal)
    mask = -1 if width == 64 else (1 << width) - 1
    chunks = [
        F.shiftright(F.col(sig_col), i * width)
        .bitwiseAND(F.lit(mask))
        .alias(f"c_{i}")
        for i in range(nchunks)
    ]
    wide = df.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"), *chunks
    )
    stack = "stack({n}, {args}) as (chunk_idx, chunk_val)".format(
        n=nchunks, args=", ".join(f"{i}, c_{i}" for i in range(nchunks))
    )
    long = _pin(wide.select("__id", "__sig", F.expr(stack)))
    a = long.select(
        F.col("__id").alias("id_a"), F.col("__sig").alias("sh_a"),
        "chunk_idx", "chunk_val",
    )
    b = long.select(
        F.col("__id").alias("id_b"), F.col("__sig").alias("sh_b"),
        "chunk_idx", "chunk_val",
    )
    cands = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select(
        "id_a", "id_b", ham.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join, no LSH approximation)

# sentinel: ngram_jaccard_pairs' max_df=None means "no cap, exact" (a
# meaningful setting), so "not passed" needs its own marker for the
# max_df_frac exclusivity check
_NGRAM_MAX_DF_UNSET = object()


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    threshold: float = 0.5, shingle_k: int = 5,
    max_df: int | None = _NGRAM_MAX_DF_UNSET,  # type: ignore[assignment]
    max_df_frac: float | None = None,
) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold via the inverted
    index: join docs sharing a shingle, count shared, divide by union.
    (``max_df``'s signature default is the ``_NGRAM_MAX_DF_UNSET``
    marker, not a usable value: it means "not passed" and resolves to
    the effective default cap of 1000 — ``None`` itself is a
    meaningful setting here, "no cap, exact", so it cannot double as
    the not-passed marker.)

    ``max_df`` drops stop-shingles (document frequency above the cap)
    before the self-join — without it one ubiquitous shingle creates a
    quadratic candidate blowup at scale. Dropping them can only lower
    measured similarity for pathological texts; set None for exactness.
    Defaults to 1000 when neither knob is passed. ``max_df_frac`` is
    the corpus-relative form ``ceil(frac · n_docs)`` (see
    :func:`resolve_max_df`) — mutually exclusive with an explicit
    ``max_df`` (including an explicit None), same contract as the LSH
    entry points.

    The self-join keys on xxhash64(shingle), not the shingle string:
    the shuffled key is a fixed 8 bytes instead of a variable-width
    UTF8String (measured 1.5× end-to-end at sf0.1), at the cost of a
    ~n²·2⁻⁶⁴ chance per doc-pair of one colliding shingle inflating
    the intersection count by 1.
    """
    if max_df_frac is not None:
        if max_df is not _NGRAM_MAX_DF_UNSET:
            raise ValueError("pass max_df or max_df_frac, not both")
        max_df = resolve_max_df(df, text_col, None, max_df_frac)
    elif max_df is _NGRAM_MAX_DF_UNSET:
        max_df = 1000  # historical default cap
    sh = _shingle_table(df, text_col, id_col, shingle_k).select(
        "__id", F.xxhash64("__sh").alias("__sh")
    )
    if max_df is not None:
        rare = (
            sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("__sh")
        )
        sh = sh.join(rare, "__sh", "left_semi")
    sh = _pin(sh)  # referenced by sizes + both join sides
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    a = sh.select(F.col("__id").alias("id_a"), "__sh")
    b = sh.select(F.col("__id").alias("id_b"), "__sh")
    shared = (
        a.join(b, "__sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("__id", "id_a")
                    .withColumnRenamed("__sz", "__sza"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b")
              .withColumnRenamed("__sz", "__szb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("__shared")
            / (F.col("__sza") + F.col("__szb") - F.col("__shared")),
        )
    )
    return out.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def incremental_dedup(
    new: DataFrame,
    seen_digests: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The daily-crawl shape: dedup a NEW batch against an existing
    corpus without rescanning it. ``seen_digests`` is the persisted
    one-column digest table of everything already accepted (md5 of the
    lower/trim text — 32 hex chars per historical doc, the only state
    the pipeline needs to carry). Within-batch dups collapse to the
    min-id row first, then an anti-join on the digest drops batch
    survivors already in the corpus. Both steps shuffle digests, never
    text; the digest table itself never rescans history."""
    batch = exact_dedup(new, text_col, id_col)
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        batch.withColumn("__digest", digest)
        .join(
            seen_digests.select(
                F.col(seen_digests.columns[0]).alias("__digest")
            ),
            "__digest",
            "left_anti",
        )
        .drop("__digest")
    )


def corpus_digests(df: DataFrame, text_col: str) -> DataFrame:
    """The persisted dedup state for :func:`incremental_dedup`: the
    distinct digest column of an accepted corpus."""
    return df.select(
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("digest")
    ).distinct()


def _hash_injective(tok_stats: DataFrame) -> bool:
    """EXACT injectivity verdict for the hashed PPJoin staging: True
    iff no hash bucket in the per-hash token-stats table holds more
    than one distinct token (i.e. xxhash64 maps this corpus's distinct
    tokens 1:1). The stats table is the SAME aggregate the df-count
    consumer reuses, so the probe costs no extra corpus pass — only
    this bounded emptiness action. Split out so tests can force the
    string fallback without manufacturing a real 64-bit collision."""
    return tok_stats.where(F.col("__nt") > 1).isEmpty()


def _ordered_prefixes(
    df: DataFrame,
    set_col: str,
    id_col: str,
    threshold: float,
) -> tuple[DataFrame, bool]:
    """Shared PPJoin staging for set_similarity_join / containment_join:
    returns ((__id, __sorted, __prefix), hashed) where __sorted is the
    token set ordered by a GLOBAL rare-first total order
    (document-frequency asc, token asc — the same order for every doc,
    which the positional filter's order-consistency argument requires)
    and __prefix is its first |s| − ⌈t·|s|⌉ + 1 tokens. Pinned twice:
    the toks projection feeds two consumers (the df-count and the
    per-doc ordering) and the size(__s) > 0 filter would otherwise
    push below the projection and re-run the tokenizer lineage a third
    time (the lambda_filters tripwire — see plans.lambda_filters).
    Extracted (r13) so both joins share one staging and tests can
    assert the staged positions directly instead of re-deriving them.

    HASHED STAGING (r14 — the 100x probe's verify stage was byte-bound
    on ~30-byte shingle strings: 20M candidates × two ~3.5 KB string
    arrays ≈ 140 GB of verify shuffle): when xxhash64 is INJECTIVE on
    this corpus's distinct tokens — checked exactly via the per-hash
    (df, distinct-token-count) aggregate the df-count consumer reuses
    (one explode pass, vocabulary-bound; see _hash_injective) — every
    downstream structure
    (df-count join, per-doc sort, prefix explode, verify arrays) runs
    on 8-byte longs instead of token strings, and the global order
    becomes (df asc, hash asc). Under a bijection this is EXACT, not
    approximate: distinct tokens ↔ distinct hashes, so every
    intersection/union COUNT — the only thing the joins' outputs
    (ids + ratios) depend on — is identical, and (df, hash) is as
    valid a fixed total order as (df, token) (the prefix filter needs
    SOME shared total order, rare-first only for selectivity). On a
    collision (needs ~2³² distinct tokens for even coin-flip odds) the
    staging falls back to the string pipeline, preserving exactness;
    ``hashed`` tells callers which element type the arrays hold. The
    injectivity probe makes this function EAGER: one bounded action on
    EVERY construction — the same bounded-driver-action budget as the
    graph module's edge gate. The verdict is never cached across
    constructions, so a source rewritten in place is always re-probed.

    Float-boundary note (audited r13, after the overlap-bound fix):
    the ceil in the prefix-length formula is SAFE, unlike the removed
    ceil(t·(na+nb)/(1+t)) overlap bound. Both ceil operands (the
    float threshold and the int size) are exact doubles, so the IEEE
    product is the correctly-rounded exact product; when rounding
    crosses an integer it can only round DOWN across it (exact k+δ →
    k), never up past one (exact k−δ rounds at most to k, whose ceil
    equals the exact ceil) — so the computed ceil is ≤ the exact
    ceil, the prefix only ever gets LONGER, and the filter stays
    lossless. The removed bound failed in the opposite direction
    because its result was COMPARED AGAINST an integer count, where
    rounding up by one ulp flips the comparison."""
    toks = _pin(
        df.select(
            F.col(id_col).alias("__id"),
            F.array_distinct(F.col(set_col)).alias("__s"),
        ).where(F.size("__s") > 0),
    )
    tok = F.explode("__s").alias("__t")
    # ONE explode pass serves both the injectivity probe and the
    # df-count: per-hash (document frequency, distinct-token count) —
    # the probe is then a bounded emptiness action on the pinned
    # aggregate the df-join reuses, not a second corpus pass (r14). The
    # table is VOCABULARY-bounded: two longs per distinct token, never
    # corpus-scale.
    tok_stats = _pin(
        toks.select(tok)
        .groupBy(F.xxhash64("__t").alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("__df"),
            F.countDistinct("__t").alias("__nt"),
        ),
    )
    hashed = _hash_injective(tok_stats)
    t = F.xxhash64("__t") if hashed else F.col("__t")
    if hashed:
        tok_df = tok_stats.select(F.col("__h").alias("__t"), "__df")
    else:
        # collision fallback: document frequency on the raw token
        # strings (a collided hashed table would have merged ≥2 tokens)
        tok_df = (
            toks.select(tok)
            .groupBy("__t")
            .agg(F.count(F.lit(1)).alias("__df"))
        )
    with_order = (
        toks.select("__id", tok)
        .select("__id", t.alias("__t"))
        .join(tok_df, "__t")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__df", "__t"))
                ),
                lambda s: s["__t"],
            ).alias("__sorted")
        )
    )
    sz = F.size("__sorted")
    prefix_len = sz - F.ceil(F.lit(threshold) * sz).cast("int") + 1
    return _pin(
        with_order.select(
            "__id", "__sorted",
            F.slice("__sorted", 1, prefix_len).alias("__prefix"),
        ),
    ), hashed


def set_similarity_join(
    df: DataFrame,
    set_col: str,
    id_col: str,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT all-pairs Jaccard join over token SETS via prefix
    filtering (PPJoin family, Xiao et al. WWW'08): provably LOSSLESS,
    unlike frequency-capped inverted indexes (``ngram_jaccard_pairs``
    with max_df) and probabilistic MinHash.

    The filter: order every set by one global token order (rarest
    first — df ascending, token ascending); if J(a,b) ≥ t then
    |a∩b| ≥ ⌈t·|a|⌉, so by pigeonhole the pair shares a token inside
    each side's first |s| − ⌈t·|s|⌉ + 1 tokens. Candidates therefore
    meet in an equi-join on PREFIX tokens only — and rare-first
    ordering makes those prefixes the least-shared tokens, collapsing
    the candidate count. Exact Jaccard verifies within candidates
    (array_intersect/union on the per-doc arrays).

    Plan: one df-count aggregate, one per-doc sort (array_sort over
    (df, token) structs — inside the row, no shuffle), prefix explode
    ≪ full explode, candidate equi-join on the token, narrow verify.
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    Effectiveness caveat: prefix selectivity comes from the token
    distribution's heavy tail (natural text). On a degenerate tiny-
    vocabulary corpus where most pairs genuinely exceed the threshold,
    the TRUE answer is O(n²) pairs and no exact algorithm beats
    that — cap the input or raise the threshold there.

    Construction runs one bounded injectivity probe to pick hashed or
    string staging (exact either way); see :func:`_ordered_prefixes`."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    pref, hashed = _ordered_prefixes(df, set_col, id_col, threshold)
    # candidates meet on BARE IDS + two ints (set size, prefix token
    # position): dedupe (id_a, id_b) while the rows are narrow, then
    # re-join the pinned per-doc arrays for the verify — shuffling the
    # full token arrays once per candidate duplicate through
    # dropDuplicates is the expensive shape at scale. The two carried
    # ints buy the PPJoin length + positional filters (Xiao WWW'08
    # §3), which drop impossible pairs BEFORE the distinct shuffle and
    # the two array re-fetch joins (r12 verdict task #4 — the re-fetch
    # dominated the 100x probe):
    #   length: inter <= min(na,nb) and union >= max(na,nb), so the
    #     verify's kept pairs all satisfy min/max >= inter/union >= t.
    #   positional: a common token at 0-indexed sorted positions
    #     (pa, pb) bounds the overlap o <= ubound := min(pa,pb) + 1 +
    #     min(na−pa−1, nb−pb−1) (same global token order both sides),
    #     and x/(na+nb−x) is increasing in x, so kept pairs satisfy
    #     ubound/(na+nb−ubound) >= o/(na+nb−o) = inter/union >= t.
    #     For a true pair EVERY common-token row satisfies both, so
    #     any-row-survives semantics keep the join lossless.
    #   Both bounds are phrased as the SAME IEEE ratio-vs-threshold
    #     comparison the verify uses (division is monotone in each
    #     argument, so the implications above hold bit-for-bit) — the
    #     ceil(t·(na+nb)/(1+t)) overlap form would round UP at exact
    #     rational boundaries (0.6·16/1.6 floats to 6.000…001 → ceil 7)
    #     and silently drop a pair whose exact Jaccard equals t.
    # Under hashed staging the prefix elements already ARE 8-byte
    # longs (exact under the checked bijection), so they join as-is;
    # in the string fallback the join key is xxhash64(token) — shingle
    # tokens are tens of bytes and the candidate join's shuffle+sort is
    # byte-bound (the 100x probe spilled on exactly this sort), and a
    # key collision there can only ADD a spurious candidate that the
    # exact verify removes.
    key = F.col("__t") if hashed else F.xxhash64("__t")
    na, nb = F.col("__na"), F.col("__nb")
    pa, pb = F.col("__pa"), F.col("__pb")
    # PROBE/INDEX asymmetric prefixes (Xiao WWW'08 §3.2, r14): the
    # candidate join orders each unordered pair by (size, id) and
    # seeks it ONLY as (a = smaller, b = larger). The b side indexes
    # the full staged prefix, but the a side keeps just the positions
    # p with (na − p)/(na + p) >= t: for a true pair with nb >= na,
    # o = |A∩B| >= t·(na + nb)/(1 + t) >= 2t·na/(1 + t), and the
    # prefix lemma puts a common token within a's first na − o + 1
    # positions AND b's first nb − o + 1 <= nb − ⌈t·nb⌉ + 1 positions
    # (o >= t·nb because the pair survives the length filter). Every
    # lemma position p <= na − o satisfies na − p >= 2t·na/(1+t), so
    # (na − p)/(na + p) >= t holds EXACTLY as rationals — and the
    # IEEE compare keeps it: the correctly-rounded quotient of exact
    # integer operands cannot fall below the representable t when the
    # exact value is >= t (nearest-rounding of a value >= t lands on a
    # representable >= t). So shortening the probe side is lossless,
    # phrased — like the length and positional filters below — as the
    # verify's own ratio-vs-threshold comparison, never a ceil whose
    # coefficient is itself a rounded float. At t = 0.8 this keeps 13
    # of 24 prefix positions per doc, roughly halving candidates.
    a = (
        pref.select(
            F.col("__id").alias("id_a"),
            F.size("__sorted").alias("__na"),
            F.posexplode("__prefix").alias("__pa", "__t"),
        )
        .where((na - pa).cast("double") / (na + pa) >= F.lit(threshold))
        .select("id_a", "__na", "__pa", key.alias("__h"))
    )
    b = pref.select(
        F.col("__id").alias("id_b"),
        F.size("__sorted").alias("__nb"),
        F.posexplode("__prefix").alias("__pb", "__t"),
    ).select("id_b", "__nb", "__pb", key.alias("__h"))
    ubound = (
        F.least(pa, pb) + 1 + F.least(na - pa - 1, nb - pb - 1)
    )
    pairs = (
        a.join(b, "__h")
        .where(
            (na < nb)
            | ((na == nb) & (F.col("id_a") < F.col("id_b")))
        )
        .where(
            (F.least(na, nb).cast("double") / F.greatest(na, nb)
             >= F.lit(threshold))
            & (ubound.cast("double") / (na + nb - ubound)
               >= F.lit(threshold))
        )
        # normalize to id_a < id_b AFTER the size-ordered meet (when
        # na < nb the smaller-set side may carry the larger id)
        .select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        )
        .distinct()
    )
    cands = (
        pairs.join(
            pref.select(F.col("__id").alias("id_a"),
                        F.col("__sorted").alias("__sa")),
            "id_a",
        )
        .join(
            pref.select(F.col("__id").alias("id_b"),
                        F.col("__sorted").alias("__sb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    # filter on the EXACT ratio (the prefix guarantee is for exact
    # J >= t); round only the reported value
    ratio = inter.cast("double") / union
    return (
        cands.where(ratio >= threshold)
        .select(
            "id_a", "id_b", F.round(ratio, 6).alias("jaccard"),
        )
    )


def containment_join(
    df: DataFrame,
    set_col: str,
    id_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """ASYMMETRIC near-subset detection: pairs where
    |A∩B| / |A| ≥ threshold — A's content is (almost) contained in B.
    Jaccard misses these (a page plus a long boilerplate footer has low
    Jaccard against the bare page but containment ≈ 1), which is why
    crawl dedup wants both joins.

    Prefix filter, one-sided: |A∩B| ≥ ⌈t·|A|⌉ means B must hit a token
    in A's rarest-first prefix of length |A| − ⌈t·|A|⌉ + 1; B itself
    gets NO prefix restriction (containment is not symmetric), so
    candidates meet in an equi-join between A-prefix tokens and B's
    full token index. Exact verify within candidates. Lossless — the
    oracle is the brute-force scan. Output: (id_a, id_b, containment)
    for a ≠ b, both directions reported independently. Staging (and
    its injectivity probe) as in :func:`set_similarity_join`."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # NOTE: containment's prefix bound is one-sided (|A∩B| >= ⌈t·|A|⌉,
    # no B-side restriction), but the PER-DOC prefix length formula is
    # the same |s| − ⌈t·|s|⌉ + 1, so the staging is shared verbatim.
    # Under hashed staging (see _ordered_prefixes) the token arrays
    # hold 8-byte longs under a CHECKED bijection, so the candidate
    # equi-join and the intersect/size verify below are exact on
    # either element type — containment's counts, like Jaccard's,
    # depend only on token identity.
    pref, _ = _ordered_prefixes(df, set_col, id_col, threshold)
    # same narrow-dedupe-then-fetch shape as set_similarity_join:
    # pair ids meet and dedupe as two longs, arrays re-attach after
    a = pref.select(
        F.col("__id").alias("id_a"), F.explode("__prefix").alias("__t")
    )
    b = pref.select(
        F.col("__id").alias("id_b"),
        F.explode("__sorted").alias("__t"),  # FULL index on the B side
    )
    pairs = (
        a.join(b, "__t")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cands = (
        pairs.join(
            pref.select(F.col("__id").alias("id_a"),
                        F.col("__sorted").alias("__sa")),
            "id_a",
        )
        .join(
            pref.select(F.col("__id").alias("id_b"),
                        F.col("__sorted").alias("__sb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    ratio = inter.cast("double") / F.size("__sa")
    return (
        cands.where(ratio >= threshold)
        .select("id_a", "id_b",
                F.round(ratio, 6).alias("containment"))
    )

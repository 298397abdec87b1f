"""Iterative graph operators for dedup-cluster formation.

A near-dup pipeline emits PAIRS (dedup.py, similarity.py); turning
pairs into keep/drop decisions needs their transitive closure —
connected components. This is the canonical iterative DataFrame
algorithm: a driver-side loop over joins, with ``localCheckpoint``
truncating lineage each round so plan size stays O(1) instead of
growing with iterations (SURVEY §2.11 extension; the reference has no
graph surface).

Algorithm: a near-dup pair list is usually TINY relative to the
corpus, so while the edge list fits ``_DRIVER_MAX_EDGES`` a driver
union-find labels it in one bounded collect. Above that bound the
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) runs distributed:
O(log n) rounds with a SHRINKING edge set, so deep components (long
chains) cost no more rounds than shallow dedup hubs. Both branches
share the output contract (component id = min node id) and are
certified against the same recursive-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "dedup_survivors",
    "dedup_survivors_by",
    "pagerank",
]


# Edge-list size up to which connected_components labels on the
# driver (1M pairs ≈ tens of MB — the same bounded-collect budget as
# the bloom bitmap). Tests patch it to 0 to force the contraction.
_DRIVER_MAX_EDGES = 1_000_000
# The contraction needs O(log n) rounds; not converging in this many
# means a bug, and a silent partial closure would merge too little.
_STAR_MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component) for every node in ``edges``; the component id
    is the minimum node id in the component (deterministic).

    ``edges`` is undirected input (each pair once is enough). While the
    edge list fits ``_DRIVER_MAX_EDGES`` a driver union-find computes
    the labeling in milliseconds, sparing the fixed shuffle+checkpoint
    rounds of a distributed loop; above the bound the large-star/
    small-star contraction runs (module docstring), raising if it does
    not converge.
    """
    e = _edge_list(edges, src, dst)
    # ONE bounded action decides the fast path AND feeds it: a
    # limit(B+1) collect off the checkpointed edges — if it comes back
    # with ≤B rows, that IS the complete edge list
    rows = e.limit(_DRIVER_MAX_EDGES + 1).collect()
    if len(rows) <= _DRIVER_MAX_EDGES:
        return _cc_driver_union_find(rows, e)
    return _star_contraction(e)


def _edge_list(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The projected (a, b) edge list, materialized once: the bounded
    probe and then the contraction (which reads it twice) consume it,
    and the caller's edge plan is typically the EXPENSIVE tail of a
    dedup pipeline (the exact-Jaccard verify join), which would
    otherwise re-execute per action. The checkpoint stores (a, b)
    pairs only."""
    return edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()


def _cc_driver_union_find(collected_rows, e: DataFrame) -> DataFrame:
    """Union-find over an already-collected (bounded) edge list; same
    output contract as the distributed loop: component id = min node
    id. ``e`` supplies the session and the (a, b) schema only."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in collected_rows:
        a, b = row["a"], row["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the root is always the smallest id seen
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    spark = e.sparkSession
    schema = e.select(
        F.col("a").alias("node"), F.col("a").alias("component")
    ).schema
    # label tables below 10k rows become a LocalRelation (no job to
    # read, no Python worker: downstream broadcast anti-joins take the
    # rows straight from the plan), while near-the-gate lists (≤2M
    # rows) keep a sliced RDD for parallel consumption
    from ..partitioning import local_df

    out = local_df(spark, rows, schema)
    # the labeling was computed driver-side, so its non-representative
    # count is already known — stash it on the frame so dedup_survivors'
    # broadcast-size gate can skip its count() job (one fewer eager
    # action per survivor selection; guide §1.2 step 1). Advisory only:
    # any transformation drops the attribute and callers fall back to
    # counting.
    out._cc_n_drop = sum(1 for n, c in rows if n != c)
    return out


def dedup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str,
    src: str = "id_a", dst: str = "id_b",
    broadcast_max_rows: int = 8_000_000,
) -> DataFrame:
    """Keep one row per near-dup cluster (the min-id member) plus every
    row not in any pair: the end-to-end dedup decision from a pair list.
    Anti-join on the non-representative members — full rows never
    shuffle by content.

    The broadcast hint on the drop-list is GATED on its measured size:
    the list is O(duplicated docs) — billions of rows on a high-dup
    corpus — so an unconditional hint would bypass Spark's size
    threshold and OOM the executors. The count is cheap (the component
    labels are already localCheckpoint-materialized); above the gate,
    AQE still picks broadcast at runtime if stats allow.
    """
    cc = connected_components(pairs, src, dst)
    drop = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # the driver union-find fast path already knows the drop-list size —
    # reuse it instead of paying a count() job for the gate (the gate's
    # semantics are unchanged: same number, computed on the driver)
    n_drop = getattr(cc, "_cc_n_drop", None)
    if broadcast_max_rows and (
        n_drop if n_drop is not None else drop.count()
    ) <= broadcast_max_rows:
        drop = F.broadcast(drop)
    return df.join(drop, id_col, "left_anti")


def dedup_survivors_by(
    df: DataFrame, pairs: DataFrame, id_col: str, score_col: str,
    src: str = "id_a", dst: str = "id_b",
    broadcast_max_rows: int = 8_000_000,
) -> DataFrame:
    """Quality-aware survivor selection: keep the HIGHEST-``score_col``
    member of each near-dup cluster (ties → smallest id) plus every
    unpaired row — the curation-grade variant of
    :func:`dedup_survivors` (min-id keeps an arbitrary copy; real
    pipelines keep the longest / highest-quality / least-boilerplate
    copy of each duplicate family).

    Plan: components as usual; scores attach to the O(clustered docs)
    member list (semi-pruned before the join — full corpus rows never
    enter); the per-cluster argmax is a row_number window over
    (score desc, id asc) partitioned by component — type-agnostic
    (string ids order fine; an earlier struct-max with a NEGATED id
    silently nulled every non-numeric key), one shuffle on component,
    and the window input is the small member list, never the corpus;
    the final drop-list anti-join is size-gated exactly like
    dedup_survivors.
    """
    from pyspark.sql import Window

    cc = connected_components(pairs, src, dst)  # (node, component)
    members = cc.select(F.col("node").alias(id_col), "component")
    scored = members.join(
        df.select(F.col(id_col), F.col(score_col).alias("__score")),
        id_col,
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    drop = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(F.col(id_col))
    )
    # row_number keeps exactly one member per component, so the drop
    # count equals (#nodes − #components) — the same number the driver
    # union-find fast path stashed as _cc_n_drop (node != component also
    # holds once per non-representative member). Reuse it for the gate.
    n_drop = getattr(cc, "_cc_n_drop", None)
    if broadcast_max_rows and (
        n_drop if n_drop is not None else drop.count()
    ) <= broadcast_max_rows:
        drop = F.broadcast(drop)
    return df.join(drop, id_col, "left_anti")


def _star_contraction(raw: DataFrame) -> DataFrame:
    """(node, component) of the checkpointed (a, b) edge list ``raw``
    (see :func:`_edge_list`) via alternating large-star/small-star
    contraction — O(log n) rounds however deep the components.

    Per round both phases are one groupBy + one join on the current
    edge list, and the edge list SHRINKS as stars contract:

    - large-star(u): every neighbor v > u re-links to
      m = min(N(u) ∪ {u});
    - small-star(u): every neighbor v ≤ u (and u itself) links to m.

    Converged when the edge multiset is fixed: every node then points
    at its component root. Deterministic at every step (min over sets).
    """
    # lazy checkpoints below: plan cut as before, materialization folds
    # into the first consumer (nodes → the final roots anti-join, e →
    # round 1, each round's e → its own sig agg) instead of one eager
    # job apiece; labels are min propagation, cadence can't change them
    nodes = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # canonical undirected form: a > b, self-loop-free — the invariant
    # both phases preserve (every emitted edge points high → low)
    e = (
        raw.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _large_star(cur: DataFrame) -> DataFrame:
        # neighborhoods are UNDIRECTED: re-symmetrize before grouping
        sym = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = sym.groupBy("a").agg(F.min("b").alias("__mnb")).select(
            "a", F.least(F.col("a"), F.col("__mnb")).alias("m")
        )
        # every strictly-larger neighbor re-links to the local minimum;
        # output is canonical by construction (b > a ≥ m)
        return (
            sym.join(m, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        # input canonical (a > b): every neighbor of a is smaller, so
        # min(Γ⁺(a)) is just min(b); a and each smaller neighbor re-link
        m = cur.groupBy("a").agg(F.min("b").alias("__m"))
        linked = (
            cur.join(m, "a")
            .select(F.col("b").alias("a"), F.col("__m").alias("b"))
            .unionByName(m.select("a", F.col("__m").alias("b")))
        )
        return linked.where(F.col("a") != F.col("b")).distinct()

    prev_sig = None
    for _ in range(_STAR_MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # bit_xor is overflow-free: sum(xxhash64) relies on non-ANSI
        # long wraparound and throws ARITHMETIC_OVERFLOW under Spark 4's
        # default ANSI mode outside our session config
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            "connected_components did not converge in "
            f"{_STAR_MAX_ROUNDS} rounds"
        )
    # converged edges form stars (member → root); roots map to themselves
    members = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = nodes.join(
        members.select(F.col("node").alias("n2")),
        nodes.node == F.col("n2"),
        "left_anti",
    ).select("node", F.col("node").alias("component"))
    return members.unionByName(roots)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    decimals: int | None = None,
) -> DataFrame:
    """PageRank over a directed edge list: (node, rank) after a FIXED
    ``iters`` power-iteration rounds from the uniform start — fixed
    rounds (not convergence-tested) so the result is a deterministic
    function of the edge set that an unrolled-SQL oracle can replay.

    Each round: contributions = rank/out_degree shipped along edges
    (join shuffled on src), summed per destination (groupBy on dst),
    then rank = (1−d)/N + d·(contribs + dangling_mass/N) — dangling
    nodes (no out-edges) redistribute uniformly, so total rank stays
    1. Plan per round: one co-partitioned join + one hash agg, both
    keyed on node ids; ``localCheckpoint`` truncates lineage so the
    plan stays O(1) across rounds like connected_components."""
    # pin the edge list FIRST: it is re-joined every power-iteration
    # round, and without a lineage cut each round would re-run the
    # caller's whole upstream plan (e.g. a fact⋈fact join + distinct)
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # lazy checkpoints for the SETUP tables: the plan is cut
    # (LogicalRDD) either way, but a lazy one materializes inside the
    # first job that consumes it — nodes pins during the count() below,
    # out_deg during round 1's first consumer (the dangling broadcast's
    # with_deg scan) — instead of paying one standalone eager job each.
    # Value-safe even if two jobs race to compute a partition: nodes is
    # a distinct set and out_deg an integer count, identical under any
    # evaluation order.
    nodes = nodes.localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # out_deg is STATIC across rounds — attach it to the node base once
    # and carry it through each round's checkpointed rank frame, instead
    # of re-joining ranks⋈out_deg every round (r15: one fewer join +
    # broadcast build per round; guide §2.4 — two operations keyed the
    # same way share one distribution). Integer data, so the lazy
    # checkpoint's consumer race is value-safe (same argument as nodes).
    base = nodes.join(out_deg, "node", "left").localCheckpoint(eager=False)
    ranks = base.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        # dangling mass stays a broadcast one-row frame — no driver
        # collect per round; same rank doubles summed as the with_deg
        # form (the out_deg-null rows of the SAME rank frame)
        dangling = ranks.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__m")
        )
        contribs = (
            edges.join(
                ranks.where(F.col("out_deg").isNotNull()).select(
                    F.col("node").alias(src),
                    (F.col("rank") / F.col("out_deg")).alias("__c"),
                ),
                src,
            )
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            base.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("__in"), F.lit(0.0))
                       + F.col("__m") / n)
                ).alias("rank"),
            )
            # EAGER for the float ranks: each round's frame has two
            # consumers (the next round's dangling broadcast and its
            # contribs join). A lazy checkpoint would let those jobs
            # race to compute a partition, and F.sum over doubles is
            # shuffle-fetch-order nondeterministic — two ulp-divergent
            # copies of "the same" ranks could then feed one round (a
            # boundary value at the 6-dp round could flip). The eager
            # action guarantees exactly one copy ever exists; the
            # integer-labeled CC loop above doesn't need this.
            .localCheckpoint(eager=True)
        )
    if decimals is not None:
        return ranks.select("node", F.round("rank", decimals).alias("rank"))
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts (node, n_triangles) over the UNDIRECTED
    simple graph of ``edges`` (direction, duplicates, self-loops
    ignored), plus the classic scale trick that makes it survive skew:
    DEGREE-ORDERED orientation (Chiba-Nishizeki / Suri-Vassilvitskii
    MR'11). Each undirected edge is directed from its lower-(degree,
    node) endpoint to the higher one; the resulting DAG gives every
    triangle EXACTLY one 'apex' with two out-edges, and max out-degree
    is O(√m) no matter how skewed the raw degrees — so the wedge join
    (the quadratic step) is bounded by Σ outdeg² ≤ m^1.5 instead of a
    hub's degree² (a celebrity node with 10⁶ followers contributes 10¹²
    wedges under id-ordering, ~m under degree-ordering).

    Plan: canonical-edge distinct → degree agg → two broadcast-eligible
    joins to attach (deg, node) ranks → wedge self-join on the apex →
    closing-edge semi join (equi on both endpoints) → explode the 3
    corners → count per node. Per-node counts are orientation-
    invariant, so an id-ordered SQL oracle replays them exactly."""
    a, b = "__a", "__b"
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias(a),
            F.greatest(F.col(src), F.col(dst)).alias(b),
        )
        .where(F.col(a) != F.col(b))
        .distinct()
    )
    deg = (
        e.select(F.col(a).alias("node"))
        .unionAll(e.select(F.col(b).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    # rank = (degree, node): a total order; orient low -> high. The
    # head's rank rides along so the wedge dedup below can order the
    # two far endpoints by RANK — every oriented edge, including the
    # triangle's closing one, runs rank-low -> rank-high, so a wedge
    # ordered by id instead would sometimes look for the closing edge
    # in the direction that doesn't exist.
    ra = deg.select(
        F.col("node").alias(a),
        F.struct(F.col("__deg"), F.col("node")).alias("__ra"),
    )
    rb = deg.select(
        F.col("node").alias(b),
        F.struct(F.col("__deg"), F.col("node")).alias("__rb"),
    )
    keyed = e.join(ra, a).join(rb, b)
    lo_first = F.col("__ra") < F.col("__rb")
    o = keyed.select(
        F.when(lo_first, F.col(a)).otherwise(F.col(b)).alias("u"),
        F.when(lo_first, F.col(b)).otherwise(F.col(a)).alias("v"),
        F.when(lo_first, F.col("__rb")).otherwise(F.col("__ra"))
        .alias("rv"),
    ).localCheckpoint(eager=True)  # re-read 3x below; cut the lineage
    e1 = o.select("u", F.col("v").alias("w1"), F.col("rv").alias("r1"))
    e2 = o.select("u", F.col("v").alias("w2"), F.col("rv").alias("r2"))
    # wedges at the apex u, far endpoints ordered by rank; the closing
    # oriented edge is then exactly (w1 -> w2)
    wedges = e1.join(e2, "u").where(F.col("r1") < F.col("r2"))
    closed = wedges.join(
        o.select(F.col("u").alias("w1"), F.col("v").alias("w2")),
        ["w1", "w2"],
        "inner",
    ).select("u", "w1", "w2")
    corners = (
        closed.select(F.col("u").alias("node"))
        .unionAll(closed.select(F.col("w1").alias("node")))
        .unionAll(closed.select(F.col("w2").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def triangle_total(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count (one row: n_triangles) — Σ per-node / 3."""
    per = triangle_counts(edges, src, dst)
    return per.agg(
        F.coalesce(
            (F.sum("n_triangles") / 3).cast("long"), F.lit(0)
        ).alias("n_triangles")
    )

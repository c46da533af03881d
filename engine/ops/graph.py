"""Connected components over a DataFrame edge list — the clustering
step of a near-duplicate dedup pipeline (MinHash/SimHash/Jaccard
PAIRS -> duplicate CLUSTERS -> one canonical doc per cluster).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce
and Beyond", SoCC'14 — public literature). Each round is two
DataFrame rounds of groupBy+join (pure shuffle-on-key relational
ops, no driver-side graph state), and the edge set converges to star
graphs centered at each component's minimum node in O(log n) rounds
— this is the published 100-TB-scale formulation, unlike naive label
propagation whose round count is the graph diameter.

Scale notes:
  * per round: one groupBy(u) agg + one equi-join on u — both
    hash-shuffles on node id; AQE sizes/coalesces them.
  * convergence check is a bounded `count()` of changed edges
    (a scalar per round, not a collect of data rows).
  * hot star centers (one node joined by millions) are exactly the
    skew case engine/partitioning.salted_join handles if needed;
    at dedup-cluster sizes (dozens of near-dup copies) AQE's skew
    split is sufficient.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _min_nbr(edges: DataFrame) -> DataFrame:
    """(u, v) symmetric edge list -> (u, m) where m = min(N(u) ∪ {u})."""
    return edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u})."""
    m = _min_nbr(edges)
    return (
        edges.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v <= u (and u itself) to that min."""
    # orient edges so v <= u, then group by the larger endpoint
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = _min_nbr(oriented)
    out = oriented.join(m, "u")
    return (
        out.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(out.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
    allow_nonconverged: bool = False,
) -> DataFrame:
    """pairs(src, dst) undirected -> (node, component) with component
    = the minimum node id of the node's connected component.
    Isolated nodes (no pairs) are the caller's to union in — a dedup
    pipeline left-joins this result and coalesces to the node itself.

    Node ids must be orderable (long/int/string); `min` defines the
    canonical representative deterministically.

    If `stats` (a dict) is passed, stats["rounds"] records how many
    large-star/small-star rounds ran before the fixpoint — the O(log n)
    claim is measurable (scripts/exp_cc_scale.py) — and
    stats["converged"] whether the fixpoint was reached.

    Raises RuntimeError if max_iter rounds pass without reaching the
    fixpoint (the star extraction below is only valid AT the fixpoint,
    so returning would yield silently wrong components — ADVICE r2).
    max_iter=25 covers graphs of ~2^25 nodes diameter-wise; pass
    allow_nonconverged=True only for exploratory use, where the
    partial result is explicitly best-effort.
    """
    # canonical orientation (u > v) once at entry; _small_star output
    # preserves it (both emitted edge kinds point at m = the group
    # minimum, which is strictly below either endpoint), so `edges` is
    # canonically oriented in EVERY round and the convergence check
    # never needs to re-orient or re-distinct the previous edge set.
    edges = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_n = edges.count()
    converged = prev_n == 0  # empty edge set is trivially a fixpoint
    # symmetrize per round; stars keep the edge set implicitly
    # symmetric enough for the alternation (per the paper, large-star
    # input is the symmetric closure of the current edges)
    for i in range(max_iter):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ls = _large_star(sym).localCheckpoint(eager=True)
        sym_ls = ls.unionByName(
            ls.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nxt = _small_star(sym_ls).localCheckpoint(eager=True)
        # converged iff the edge sets are equal. Both sides are
        # distinct, canonically oriented sets, so equality == equal
        # counts + empty one-way diff; the cached-count shortcut skips
        # the set-diff shuffle on the (common) not-yet-converged
        # rounds, and only nxt.count() (over checkpointed data) runs
        # per round.
        n = nxt.count()
        converged = n == prev_n and nxt.exceptAll(edges).isEmpty()
        edges = nxt
        prev_n = n
        if stats is not None:
            stats["rounds"] = i + 1
            stats["converged"] = converged
        if converged:
            break
    if not converged and not allow_nonconverged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; raise max_iter (each round "
            "roughly halves component diameter, so 25 covers any "
            "realistic graph) or pass allow_nonconverged=True to "
            "accept a best-effort partial result"
        )
    # fixpoint is a star graph per component: (u, v=center) plus the
    # centers themselves (appear only on the v side)
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    centers = edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return members.unionByName(centers).distinct()


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Full dedup-clustering step: docs + near-dup pairs ->
    (doc_id, cluster_id, is_canonical). Docs in no pair form their own
    singleton cluster. Canonical doc = minimum id in the cluster (the
    component representative), so selection is deterministic."""
    comp = connected_components(pairs, src=src, dst=dst)
    out = (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )
    return out.withColumn(
        "is_canonical", (F.col(id_col) == F.col("cluster_id")).cast("int")
    )

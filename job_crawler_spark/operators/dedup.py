"""Deduplication operators.

Reference semantics generalized (SURVEY.md §2.3 J2, §2.5 W1, §2.9 T4):

- within-batch **first-wins** dedup in arrival order: the reference scans a
  ``seen`` set in list order (main.py:517-525) so the FIRST occurrence
  survives. ``dropDuplicates`` alone is nondeterministic under parallelism —
  we window-rank on an explicit arrival index instead (SURVEY.md §7.3).
- cross-round dedup vs the persistent URL-seen set: ``left_anti`` join (the
  exact, authoritative check — reference ``url UNIQUE``, main.py:141),
  optionally prefiltered by the Bloom shards in operators/bloom.py.

Scale notes: the anti-join shuffles both sides on the key — at 10^10 seen
URLs the Bloom prefilter keeps provably-new URLs (the overwhelming majority
in a growing crawl) out of the shuffle entirely. First-wins windows shuffle
once on the dedup key; AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from job_crawler_spark.operators.checkpoints import (
    release,
    tracked_local_checkpoint,
)


def first_wins(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    keep_rank_col: bool = False,
) -> DataFrame:
    """Keep the first row per key under a TOTAL order (deterministic W1).

    ``order_cols`` must form a total order within each key group (append a
    unique tiebreaker like the raw url/arrival index) or survivors are
    nondeterministic — callers own that invariant.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    ranked = df.withColumn("__rank", F.row_number().over(w))
    out = ranked.filter(F.col("__rank") == 1)
    return out if keep_rank_col else out.drop("__rank")


def first_wins_agg(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """first_wins as a hash aggregate: min_by(struct(*), struct(order)).

    Same semantics as the window form when order_cols is a total order, but
    NO per-key sort: partial aggregation combines map-side, shuffling one
    survivor candidate per key per partition instead of every row — at
    10^10-URL frontiers this is the difference between a sort of the world
    and a cheap combine. Use the window form only when a rank number is
    actually needed."""
    order = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = df.groupBy(*key_cols).agg(F.min_by(payload, order).alias("__row"))
    return agg.select(
        *[F.col(f"__row.{c}").alias(c) for c in df.columns if c not in key_cols],
        *key_cols,
    ).select(*df.columns)


def anti_join_seen(
    batch: DataFrame, seen: DataFrame, key: str = "url_canon"
) -> DataFrame:
    """Rows of ``batch`` whose key is NOT in ``seen`` (exact, authoritative)."""
    return batch.join(seen.select(key), on=key, how="left_anti")


def _large_star(sym: DataFrame) -> DataFrame:
    """Kiveris large-star: connect every strictly-larger neighbor of u to
    min(N(u) ∪ {u}). Input must be the symmetrized edge list.

    JOIN-FREE: the per-neighborhood min is a window over the same shuffle
    key, not a groupBy + self-join — this repo's policy after the sticky
    local-mode dropped-row flake with self-joins over shared computed
    frames (see q_minhash_lsh_pairs; memory: spark-selfjoin-flake)."""
    w = Window.partitionBy("a")
    m = F.least(F.col("a"), F.min("b").over(w))
    return (
        sym.withColumn("m", m)
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """Kiveris small-star: connect u and its ≤-neighbors to the min of that
    set. Input must be the symmetrized edge list. Join-free (window min,
    same rationale as _large_star); the (u, m) self-attachment rides along
    with duplicates — the caller's canon() dedups."""
    small = sym.filter(F.col("b") <= F.col("a"))
    w = Window.partitionBy("a")
    withm = small.withColumn(
        "m", F.least(F.col("a"), F.min("b").over(w))
    )
    moved = withm.select(F.col("b").alias("a"), F.col("m").alias("b"))
    selfe = withm.select("a", F.col("m").alias("b"))
    return moved.union(selfe)


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 64,
) -> DataFrame:
    """Connected components by large-star/small-star alternation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014 —
    public paper, implemented fresh): converges in O(log^2 n) rounds (in
    practice ~log n) REGARDLESS of component diameter, which makes it the
    long-chain fallback to min-label propagation's O(diameter).

    Each round canonicalizes the edge set to undirected-distinct, applies
    large-star then small-star, and stops when the edge set is unchanged
    (fixed point = every node directly attached to its component's min).
    localCheckpoint per round truncates the iterative lineage.
    Output: (id_col, cluster_id) — same contract as connected_components.
    """

    def canon(e: DataFrame) -> DataFrame:
        # undirected-distinct, self-loops dropped
        return (
            e.filter(F.col("a") != F.col("b"))
            .select(
                F.least(F.col("a"), F.col("b")).alias("a"),
                F.greatest(F.col("a"), F.col("b")).alias("b"),
            )
            .distinct()
        )

    def sym_of(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    cur = tracked_local_checkpoint(canon(edges.selectExpr("a", "b")))
    for _ in range(max_iter):
        ls = canon(_large_star(sym_of(cur)))
        nxt = tracked_local_checkpoint(canon(_small_star(sym_of(ls))))
        # fixed point: identical undirected edge sets. Both sides are
        # distinct, so equality <=> every edge of the union appears exactly
        # twice — ONE aggregation shuffle + one action, exact (no hashing),
        # vs two anti-join shuffles for a two-sided exceptAll.
        changed = (
            nxt.union(cur)
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") != 2)
            .limit(1)
            .count()
        )
        release(cur)
        cur = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — not expected for any graph of < 2^max_iter nodes"
        )
    # at the fixed point every edge attaches a node to its component min;
    # isolated nodes label themselves. centers is materialized (one small
    # row per edge-touched node) so cur's checkpoint blocks can be released
    # NOW instead of leaking past the return (they'd otherwise pin block
    # storage until the context cleaner collects the frame).
    centers = tracked_local_checkpoint(
        sym_of(cur).groupBy("a").agg(F.min("b").alias("mn"))
    )
    release(cur)
    out = (
        nodes.select(F.col(id_col).alias("node"))
        .join(centers.select(F.col("a").alias("node"), "mn"), "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.least(F.col("node"), F.coalesce("mn", "node")).alias("cluster_id"),
        )
    )
    # the result reads the centers checkpoint lazily; consumers release its
    # blocks after the last action
    out._graft_checkpoints = [centers]
    return out


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    fallback: str = "star",
) -> DataFrame:
    """Near-dup CLUSTERING: connected components over a dup-pair graph —
    every node labeled with the MIN node id reachable from it (the
    canonical representative a dedup pass keeps).

    Iterative min-label propagation: each step joins labels across edges
    (both directions) and takes the per-node min; stops when no label
    changed. Converges in O(component diameter) steps — near-dup clusters
    are shallow (diameter a few hops), so this beats the O(log n)
    large-star/small-star alternation (Kiveris et al., SoCC 2014) in
    practice while staying 3 lines of joins. If a long-chain component
    exhausts max_iter, the call FALLS BACK to connected_components_star
    (diameter-independent) instead of raising; pass fallback="raise" to
    keep the strict behavior. Each iteration persists + localCheckpoints
    the label frame: iterative self-joins otherwise stack lineage until
    planning itself dominates (the classic iterative-Spark trap).

    ``edges``: columns (a, b) — undirected pair per row. ``nodes``: one row
    per ``id_col`` (components of isolated nodes are themselves).
    Output: (id_col, cluster_id).
    """
    if fallback not in ("star", "raise"):
        raise ValueError(f"fallback must be 'star' or 'raise', got {fallback!r}")
    # materialize the (symmetrized) edge list ONCE: it is joined every
    # iteration, and without this the whole upstream pair-generation plan
    # (e.g. the MinHash-LSH pipeline) would re-execute per iteration.
    # Partitioned + sorted on the per-iteration join key and CACHED
    # (InMemoryRelation preserves partitioning/ordering — the pagerank
    # edge-frame pattern), so each iteration shuffles only the node-sized
    # label frame, never the edge list.
    from job_crawler_spark.operators.checkpoints import tracked_persist

    sym = tracked_persist(
        edges.selectExpr("a", "b")
        .union(edges.selectExpr("b AS a", "a AS b"))
        .repartition("a")
        .sortWithinPartitions("a")
    )
    labels = tracked_local_checkpoint(
        nodes.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("cluster_id")
        )
    )

    for _ in range(max_iter):
        neighbor_min = (
            labels.join(sym, labels.node == sym.a)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # convergence flag computed inline: no separate old-vs-new join
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
                F.coalesce(
                    F.col("nbr_min") < F.col("cluster_id"), F.lit(False)
                ).alias("__changed"),
            )
        )
        new_labels = tracked_local_checkpoint(new_labels)
        changed = new_labels.filter("__changed").limit(1).count()
        release(labels)
        labels = new_labels.select("node", "cluster_id")
        labels._graft_ckpt_rdds = new_labels._graft_ckpt_rdds
        if changed == 0:
            break
    else:
        release(labels)
        if fallback == "star":
            # a component's diameter exceeds max_iter: switch to the
            # diameter-independent star contraction rather than failing.
            # Reuse the already-materialized symmetrized edge list — passing
            # the raw `edges` would re-execute the whole upstream
            # pair-generation pipeline (canon() dedups the symmetry away).
            # The star run eagerly checkpoints its own edge frame up front,
            # so sym can be released as soon as it returns.
            out = connected_components_star(sym, nodes, id_col=id_col)
            release(sym)
            return out
        # loud, never silently-wrong: an unconverged run would return SPLIT
        # clusters (multiple representatives per true component)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
            " — a component's diameter exceeds max_iter; raise max_iter or"
            " use fallback='star'"
        )
    # converged: the returned labels are checkpointed, so the symmetrized
    # edge list's blocks are no longer reachable from the result — release.
    release(sym)
    out = labels.select(F.col("node").alias(id_col), "cluster_id")
    # the result reads the final label checkpoint lazily; consumers release
    # its blocks after the last action (bench loops, gate harness)
    out._graft_checkpoints = [labels]
    return out

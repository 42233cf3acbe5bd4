"""Fixed-iteration HITS (hubs & authorities) over an edge DataFrame.

Kleinberg's link-analysis fixed point (JACM 1999): authority(v) sums the
hub scores of pages linking TO v; hub(u) sums the authority scores of
pages u links to; each half-step is L1-normalized. It is the second
classic web-crawl ranking signal next to PageRank
(``operators/pagerank.py``) and answers a different question — PageRank
is a global random-surfer stationary distribution, HITS is the mutually
reinforcing hub/authority decomposition a focused crawler uses to pick
*directory-like* hub pages whose out-links are worth expanding first.
The reference crawler scores URLs by depth/recency only (``main.py``
has no link-analysis counterpart; public-paper provenance).

Scale shape — the same Pregel message-combine discipline as
``pagerank()``, but the two half-steps pull in opposite directions, so
the corpus-sized edge frame is cached TWICE, once partitioned+sorted by
``src`` (consumed by the authority update, which joins hubs on ``src``
and combines on ``dst``) and once by ``dst`` (consumed by the hub
update, which joins authorities on ``dst`` and combines on ``src``) —
the standard store-both-orientations trade of one extra
corpus-sized cache for zero per-iteration corpus exchanges. Per
iteration the moving data is the node-sized score frame onto each edge
partitioning plus ONE map-side-combined aggregate shuffle per half-step;
the L1 normalizers are 1-row aggregates broadcast back (never a driver
collect in the data path). Lineage truncation (changed in r06 — callers
tuning ``checkpoint_every`` should note the new mechanics): at each
boundary the node-sized RAW aggregate of a half-step is
localCheckpointed (superseded checkpoint released immediately), not the
normalized score frame — the normalizer total embeds the raw subtree a
second time and the next half-step a third, so materializing the raw
frame bounds the plan at strictly less work; and the LAST iteration is
always a boundary, so the final hub⋈authority join reads two cheap
checkpointed subtrees instead of re-executing the last iteration's
corpus joins twice. The default remains 1 (the Pregel per-superstep
materialization) because the lazy chain is not linear in iterations:
the un-truncated logical plan (and Catalyst analysis time) grows ~4x
per iteration; per-boundary materialization keeps planning
O(iterations) for the cost GraphX pays anyway (one cached vertex frame
per superstep, released as soon as it is superseded). Nothing is
node-count-bounded on the driver except the scalar node count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_crawler_spark.operators.checkpoints import (
    release,
    tracked_local_checkpoint,
    tracked_persist,
)


def hits(
    edges: DataFrame,
    *,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
) -> DataFrame:
    """Score every node of ``edges`` (directed ``src -> dst`` pairs;
    parallel edges count once per occurrence) with ``iterations`` HITS
    steps. Each step computes ``authority = sum of in-neighbour hubs``
    then ``hub = sum of out-neighbour authorities``, L1-normalizing
    after each half-step (``sum(authority) == sum(hub) == 1`` whenever
    the graph has at least one edge).

    Hubs start uniform at ``1/n``. Returns ``(node, hub, authority)``
    with the node count attached as ``._graft_n_nodes`` and tracked
    checkpoint frames as ``._graft_checkpoints`` — call
    :func:`~job_crawler_spark.operators.checkpoints.release_checkpoints`
    after consuming the result.
    """
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # materialize the caller's edge derivation ONCE: the two orientation
    # caches and the node frame below would otherwise each re-execute the
    # whole upstream plan (a corpus scan + distinct in the gated query) —
    # three full passes collapsed into one (guide §2.4)
    e = tracked_local_checkpoint(e0)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # both orientations cached once; each half-step's contribution join
    # reuses its side's partitioning/ordering with no corpus exchange
    e_by_src = tracked_persist(
        e.repartition("src").sortWithinPartitions("src")
    )
    e_by_dst = tracked_persist(
        e.repartition("dst").sortWithinPartitions("dst")
    )
    nodes_ck = tracked_persist(
        nodes.repartition("node").sortWithinPartitions("node")
    )
    # the edge checkpoint stays until the result is consumed: a lost cache
    # block of the orientation frames recomputes from it
    n = nodes_ck.count()
    if n == 0:
        raise ValueError("hits: edge frame is empty (no nodes)")
    hubs = nodes_ck.select("node", F.lit(1.0 / n).alias("hub"))

    ckpts = [e, e_by_src, e_by_dst, nodes_ck]
    prev_a_ck: DataFrame | None = None
    prev_h_ck: DataFrame | None = None
    auths = nodes_ck.select("node", F.lit(0.0).alias("authority"))
    for i in range(iterations):
        # Checkpoint the node-sized RAW aggregates, not the normalized
        # frames: the normalizer total embeds the raw subtree a second
        # time and the next half-step a third, so materializing the raw
        # frame (one corpus join + combine per half-step) bounds the plan
        # at the same cost while the normalize stays a lazy node-sized
        # join — and the final hub/authority join then reads two cheap
        # checkpointed subtrees instead of re-executing the last
        # iteration's corpus joins twice. Boundaries include the LAST
        # iteration for exactly that reason.
        at_boundary = bool(checkpoint_every) and (
            (i + 1) % checkpoint_every == 0 or i + 1 == iterations
        )
        a_raw = (
            e_by_src.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("v"))
            .withColumnRenamed("dst", "node")
        )
        if at_boundary:
            new_a_ck = tracked_local_checkpoint(a_raw)
            if prev_a_ck is not None:
                release(prev_a_ck)
            prev_a_ck = new_a_ck
            a_raw = new_a_ck
        a_tot = a_raw.agg(F.sum("v").alias("atot"))
        auths = (
            nodes_ck.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                (
                    F.coalesce(F.col("v"), F.lit(0.0)) / F.col("atot")
                ).alias("authority"),
            )
        )
        h_raw = (
            e_by_dst.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("authority").alias("v"))
            .withColumnRenamed("src", "node")
        )
        if at_boundary:
            new_h_ck = tracked_local_checkpoint(h_raw)
            if prev_h_ck is not None:
                release(prev_h_ck)
            prev_h_ck = new_h_ck
            h_raw = new_h_ck
        h_tot = h_raw.agg(F.sum("v").alias("htot"))
        hubs = (
            nodes_ck.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                (F.coalesce(F.col("v"), F.lit(0.0)) / F.col("htot")).alias(
                    "hub"
                ),
            )
        )

    out = hubs.join(auths, "node")
    if prev_a_ck is not None:
        ckpts.append(prev_a_ck)
    if prev_h_ck is not None:
        ckpts.append(prev_h_ck)
    out._graft_n_nodes = n
    out._graft_checkpoints = ckpts
    return out

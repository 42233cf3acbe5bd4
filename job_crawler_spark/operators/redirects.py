"""Redirect-chain resolution: pointer doubling over a functional graph.

A crawler's fetch phase emits HTTP 3xx edges ``src_url -> dst_url`` (one
``Location`` per source, so the edge set is a FUNCTIONAL graph: at most
one out-edge per node). Before the next round the frontier must replace
every redirect source with its final landing URL — following chains
(``a -> b -> c``), detecting loops (``a -> b -> a``), and capping hop
count (RFC 9110 §15.4 recommends clients cap redirect chains; browsers
use ~20). The reference crawler resolves chains imperatively per fetch
(`src/crawler/fetch.rs` follow_redirects); re-expressed for Spark the
whole round's redirect set is resolved AT ONCE, relationally.

Scale shape — why pointer doubling and not naive iteration: a naive
"join current frontier with edges, repeat" walk needs ``max_hops``
shuffle joins (20 stages for a browser-grade cap). Pointer doubling
composes the successor table with ITSELF each step, so after ``i``
rounds every pointer spans up to ``2**i`` hops — ``ceil(log2(max_hops))``
self-joins total (5 for cap 20, 3 for cap 8). Each self-join shuffles
on the jump target, which is uniformly distributed for real redirect
graphs (chains are short and disjoint; there is no high-fan-in hub the
way link graphs have). This is the classic parallel list-ranking /
Wyllie shortcutting technique (JACM '79), the same doubling used by the
star-contraction connected-components plan in plans/textops.py.

Loop + cap semantics: a source RESOLVES when its chain reaches a node
with no out-edge within ``max_hops`` edges; otherwise (a cycle, or a
chain longer than the cap — indistinguishable to a capped client and
treated identically by real crawlers) it is unresolved: ``final_url``
and ``hops`` are NULL and ``resolved`` is false.

The ``redirect_resolve`` query reports the resolutions; the crawl engine
does not rewrite its frontier through them.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_crawler_spark.operators.checkpoints import release, tracked_persist


def resolve_redirects(
    edges: DataFrame,
    *,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Resolve every redirect source in ``edges`` to its final URL.

    ``edges`` must be a functional graph — at most one ``dst`` per
    ``src`` (one ``Location`` header per fetched URL). Duplicate
    (src, dst) rows are tolerated (deduped); CONFLICTING dsts for one
    src are a caller-contract violation (the fetcher emits one row per
    URL) and would fan the self-join out nondeterministically — the
    100 TB path guarantees the invariant upstream rather than paying a
    validation pass here.

    Returns one row per distinct ``src``:
    ``(src_url, final_url, hops, resolved)`` — ``final_url``/``hops``
    NULL and ``resolved`` false for cycles and over-cap chains.

    The pointer state is MATERIALIZED (tracked_persist, eager) once per
    doubling round and the previous round's cache released immediately:
    a lazy self-join would double the logical plan per round (2^rounds
    re-scans of the edge source — 32 scans at a browser-grade cap of
    20), the same trap the PageRank loop avoids. The final round's cache
    is attached as ``._graft_checkpoints`` — call
    :func:`~job_crawler_spark.operators.checkpoints.release_checkpoints`
    after consuming the result.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("nxt")).distinct()
    # e feeds both sides of the terminal-marking join below — one scan,
    # not two (released as soon as the initial pointer state is built)
    e = tracked_persist(e, eager=False)

    # done = the pointer currently rests on a terminal node (no out-edge).
    # left_anti against sources marks terminals without materializing the
    # node universe.
    ptr = e.join(
        e.select(F.col("node").alias("nxt")).distinct().withColumn(
            "_has_out", F.lit(True)
        ),
        "nxt",
        "left",
    ).select(
        "node",
        "nxt",
        F.lit(1).alias("steps"),
        F.coalesce(~F.col("_has_out"), F.lit(True)).alias("done"),
    )

    rounds = max(1, math.ceil(math.log2(max_hops))) if max_hops > 1 else 0
    if rounds:
        # the initial state feeds BOTH sides of round 0's self-join and
        # each composed state feeds both sides of the next — materialize
        # once per round, release the superseded cache immediately
        ptr = tracked_persist(ptr)
    release(e)
    for _ in range(rounds):
        jump = ptr.select(
            F.col("node").alias("j_node"),
            F.col("nxt").alias("j_nxt"),
            F.col("steps").alias("j_steps"),
            F.col("done").alias("j_done"),
        )
        # compose ptr with itself: rows already done keep their pointer;
        # live rows jump to their successor's pointer (which must exist —
        # not-done means nxt has an out-edge, hence a ptr row)
        composed = (
            ptr.join(jump, ptr["nxt"] == jump["j_node"], "left")
            .select(
                "node",
                F.when(F.col("done"), F.col("nxt"))
                .otherwise(F.col("j_nxt"))
                .alias("nxt"),
                F.when(F.col("done"), F.col("steps"))
                .otherwise(F.col("steps") + F.col("j_steps"))
                .alias("steps"),
                F.when(F.col("done"), F.lit(True))
                .otherwise(F.col("j_done"))
                .alias("done"),
            )
        )
        composed = tracked_persist(composed)
        release(ptr)
        ptr = composed

    ckpts = [ptr] if rounds else []
    resolved = F.col("done") & (F.col("steps") <= max_hops)
    out = ptr.select(
        F.col("node").alias("src_url"),
        F.when(resolved, F.col("nxt")).alias("final_url"),
        F.when(resolved, F.col("steps").cast("int")).alias("hops"),
        resolved.alias("resolved"),
    )
    out._graft_checkpoints = ckpts  # type: ignore[attr-defined]
    return out

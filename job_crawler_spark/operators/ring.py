"""Consistent-hash ring placement for fetcher shards.

A 10^10-URL frontier is fetched by a fleet of fetcher shards, and hosts
must be PINNED to shards (politeness state — crawl-delay clocks, robots
caches, per-host budgets — lives with the shard that owns the host).
Naive placement ``hash(host) % n_shards`` reshuffles almost every host
when the fleet grows by one; consistent hashing (Karger et al. STOC '97)
bounds the disruption to the hosts the NEW shard captures — an expected
1/(n+1) fraction — which is what lets a long-running crawl scale its
fetcher fleet without invalidating the per-host state it has built. The
reference crawler is single-process and has no placement layer
(reference `main.py` runs one fetch loop); this is the cluster-scale
equivalent of its implicit "one shard owns everything".

Determinism contract: ring positions are the first 8 hex digits of md5
(the repo-wide split/shard convention, see plans/textops.py
_split_bucket) — any engine that can md5 reproduces the placement
bit-for-bit; no engine-private hash (xxhash64, murmur) anywhere.

Scale shape: the ring itself is ``n_shards * n_replicas`` vnodes — a
pure function of two constants, computed driver-side and embedded as a
sorted LITERAL array of (pos, shard) structs. Assignment is then a
narrow per-row expression (successor lookup via ``filter`` +
``element_at``, wrap-around via ``coalesce``): ZERO joins, ZERO extra
shuffles, no n x vnodes row amplification. The vnode count is the knob
that trades balance variance for expression width; 16-64 replicas per
shard is the classic range.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RING_BITS = 32  # positions live in [0, 2^32): md5 hex prefix of 8 digits


def _md5_pos32(text: str) -> int:
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def ring_vnodes(n_shards: int, n_replicas: int) -> list[tuple[int, int]]:
    """The (pos, shard) vnode list, sorted by position.

    Vnode ``r`` of shard ``s`` sits at md5("shard:{s}:rep:{r}")[:8hex].
    Position collisions (p ~ vnodes^2 / 2^33; none for any sane config)
    resolve to the LOWEST shard id so the ring is a function, not a
    race; the loser's other replicas keep its arc coverage.
    """
    if n_shards < 1 or n_replicas < 1:
        raise ValueError("n_shards and n_replicas must be >= 1")
    best: dict[int, int] = {}
    for s in range(n_shards):
        for r in range(n_replicas):
            pos = _md5_pos32(f"shard:{s}:rep:{r}")
            if pos not in best or s < best[pos]:
                best[pos] = s
    return sorted(best.items())


def host_ring_pos(col: Column) -> Column:
    """A host's ring position: first 8 md5 hex digits as a BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _assign_expr(pos: Column, vnodes: list[tuple[int, int]]) -> Column:
    """Successor-shard lookup against the sorted vnode list.

    ``vnodes`` is sorted by position, so the successor (first vnode at or
    past ``pos``) is an ascending CASE chain of long comparisons — pure
    whole-stage-codegen branches. The previous form (literal struct array
    + ``filter`` + ``try_element_at``) built 64 structs per ROW inside
    interpreted higher-order functions and measured ~50x slower at 150k
    rows (the wfq_schedule bottleneck). A host past the last vnode falls
    through to the ELSE wrap-around, exactly like the old empty-filter
    coalesce. ``pos`` is let-bound (bind_once): the CASE references it in
    every branch, and CollapseProject would otherwise inline the md5
    position expression 64x per row."""
    from job_crawler_spark.functions.compat import bind_once

    def chain(p: Column) -> Column:
        expr: Column = F.lit(vnodes[0][1])  # wrap-around
        for vp, vs in reversed(vnodes):
            expr = F.when(p <= F.lit(vp), F.lit(vs)).otherwise(expr)
        return expr

    return bind_once(pos, chain)


def ring_rebalance_plan(
    hosts: DataFrame,
    *,
    n_shards: int,
    n_replicas: int = 16,
    host: str = "host",
) -> DataFrame:
    """Placement at ``n_shards`` vs ``n_shards + 1`` and who must move.

    The elastic-scaling audit a crawl runs BEFORE growing the fleet:
    per host, the current shard (``shard_a``), the shard after adding
    one (``shard_b``) and ``moved``. Consistent hashing's minimal-
    disruption guarantee — every moved host lands on the NEW shard,
    because adding shard n's vnodes can only capture arcs, never
    re-route a host between two old shards — is an invariant of this
    output, pinned in tests/test_ring.py.
    """
    va = ring_vnodes(n_shards, n_replicas)
    vb = ring_vnodes(n_shards + 1, n_replicas)
    pos = F.col("ring_pos")
    return (
        hosts.withColumn("ring_pos", host_ring_pos(F.col(host)))
        .withColumn("shard_a", _assign_expr(pos, va))
        .withColumn("shard_b", _assign_expr(pos, vb))
        .withColumn("moved", F.col("shard_a") != F.col("shard_b"))
    )

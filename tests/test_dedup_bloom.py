"""Dedup operators + Bloom shards: determinism and one-sided error."""

from __future__ import annotations

from pyspark.sql import functions as F

from job_crawler_spark.operators import bloom
from job_crawler_spark.operators.dedup import (
    anti_join_seen,
    first_wins,
)


def test_first_wins_is_arrival_deterministic(spark):
    rows = [("k1", 2, "b"), ("k1", 1, "a"), ("k2", 1, "c"), ("k1", 3, "z")]
    df = spark.createDataFrame(rows, "k string, arrival int, v string").repartition(4)
    got = {
        r.k: r.v
        for r in first_wins(df, ["k"], ["arrival"]).collect()
    }
    assert got == {"k1": "a", "k2": "c"}


def test_anti_join_seen(spark):
    batch = spark.createDataFrame([("a",), ("b",), ("c",)], "url_canon string")
    seen = spark.createDataFrame([("b",)], "url_canon string")
    got = sorted(r.url_canon for r in anti_join_seen(batch, seen).collect())
    assert got == ["a", "c"]


# --- Bloom -----------------------------------------------------------------

def test_bloom_no_false_negatives_single_process():
    bs = bloom.BloomShards(n_shards=8, m_bits=1 << 14, k=5)
    keys = [f"https://h{i % 5}.example/jobs/{i}" for i in range(2000)]
    for k in keys:
        bs.add(k)
    assert all(bs.might_contain(k) for k in keys)  # one-sided error
    fresh = [f"https://new.example/x/{i}" for i in range(2000)]
    fpr = sum(bs.might_contain(k) for k in fresh) / len(fresh)
    assert fpr < 0.15  # loose bound; sized small deliberately


def test_bloom_roundtrip_and_merge():
    a = bloom.BloomShards(4, 1 << 12, 4)
    b = bloom.BloomShards(4, 1 << 12, 4)
    a.add("u1")
    b.add("u2")
    merged = bloom.BloomShards.from_rows(a.to_rows(), 4, 1 << 12, 4).merge(b)
    assert merged.might_contain("u1") and merged.might_contain("u2")


def test_distributed_build_matches_oracle(spark):
    keys = [f"https://host{i % 7}.example/j/{i}" for i in range(1000)]
    n_shards, m_bits, k = 16, 1 << 14, 5

    def build(part):
        df = spark.createDataFrame([(u,) for u in part], "url_canon string")
        return bloom.build_shards(df, "url_canon", n_shards, m_bits, k)

    oracle = bloom.BloomShards(n_shards, m_bits, k)
    for key in keys:
        oracle.add(key)
    # one build, and two round deltas (duplicate shard ids, OR-merged by
    # from_rows) — both must equal the single-process oracle bit for bit
    for shard_df in (build(keys), build(keys[:400]).unionByName(build(keys[400:]))):
        built = bloom.collect_shards(shard_df, n_shards, m_bits, k)
        assert {s: bm.tobytes() for s, bm in built.bitmaps.items()} == {
            s: bm.tobytes() for s, bm in oracle.bitmaps.items()
        }


def test_split_by_bloom_partitions_correctly(spark):
    seen_keys = [f"https://a.example/{i}" for i in range(500)]
    new_keys = [f"https://b.example/{i}" for i in range(500)]
    bs = bloom.BloomShards(8, 1 << 15, 5)
    for k in seen_keys:
        bs.add(k)
    batch = spark.createDataFrame(
        [(k,) for k in seen_keys + new_keys], "url_canon string"
    )
    provably_new, maybe_seen, flagged = bloom.split_by_bloom(batch, spark, bs)
    new_set = {r.url_canon for r in provably_new.collect()}
    maybe_set = {r.url_canon for r in maybe_seen.collect()}
    flagged.unpersist()
    # every actually-seen key must land in maybe_seen (no false negatives)
    assert set(seen_keys) <= maybe_set
    # provably_new contains only truly-new keys
    assert new_set <= set(new_keys)
    assert new_set | maybe_set == set(seen_keys + new_keys)


def test_routed_probe_equals_broadcast_probe(spark):
    """Shard-routed cogroup probe must produce the identical split as the
    broadcast probe (same bitmaps, same keys) — for both backends."""
    from job_crawler_spark.operators import cuckoo

    seen_keys = [f"https://a.example/{i}" for i in range(400)]
    new_keys = [f"https://b.example/{i}" for i in range(400)]
    seen_df = spark.createDataFrame([(k,) for k in seen_keys], "url_canon string")
    batch = spark.createDataFrame(
        [(k,) for k in seen_keys + new_keys], "url_canon string"
    )

    # bloom
    shards_df = bloom.build_shards(seen_df, "url_canon", 8, 1 << 15, 5)
    bs = bloom.collect_shards(shards_df, 8, 1 << 15, 5)
    b_new, b_maybe, b_fl = bloom.split_by_bloom(batch, spark, bs)
    r_new, r_maybe, r_fl = bloom.split_by_bloom_routed(
        batch, shards_df, 8, 1 << 15, 5
    )
    assert {r.url_canon for r in b_new.collect()} == {
        r.url_canon for r in r_new.collect()
    }
    assert {r.url_canon for r in b_maybe.collect()} == {
        r.url_canon for r in r_maybe.collect()
    }
    b_fl.unpersist(); r_fl.unpersist()

    # cuckoo (deltas: two builds over halves => duplicate shard rows)
    half = len(seen_keys) // 2
    d1 = cuckoo.build_shards(
        spark.createDataFrame([(k,) for k in seen_keys[:half]], "url_canon string"),
        "url_canon", 8, 1 << 10,
    )
    d2 = cuckoo.build_shards(
        spark.createDataFrame([(k,) for k in seen_keys[half:]], "url_canon string"),
        "url_canon", 8, 1 << 10,
    )
    deltas = d1.unionByName(d2)
    cs = cuckoo.collect_shards(deltas, 8, 1 << 10)
    cb_new, cb_maybe, cb_fl = cuckoo.split_by_cuckoo(batch, spark, cs)
    cr_new, cr_maybe, cr_fl = cuckoo.split_by_cuckoo_routed(
        batch, deltas, 8, 1 << 10
    )
    assert {r.url_canon for r in cb_new.collect()} == {
        r.url_canon for r in cr_new.collect()
    }
    assert {r.url_canon for r in cb_maybe.collect()} == {
        r.url_canon for r in cr_maybe.collect()
    }
    cb_fl.unpersist(); cr_fl.unpersist()


def test_connected_components_chain_star_singleton(spark):
    """Min-label propagation handles multi-hop chains (needs >1 iteration),
    stars, and isolated nodes; labels are the component's min id."""
    from job_crawler_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("d2", "d3"), ("d3", "d4"), ("d4", "d5"),   # chain d2..d5
         ("d7", "d8"), ("d7", "d9")],                 # star around d7
        "a string, b string",
    )
    nodes = spark.createDataFrame(
        [(f"d{i}",) for i in range(1, 10)], "doc_id string"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {
        "d1": "d1",
        "d2": "d2", "d3": "d2", "d4": "d2", "d5": "d2",
        "d6": "d6",
        "d7": "d7", "d8": "d7", "d9": "d7",
    }


def test_star_contraction_matches_label_propagation(spark):
    """connected_components_star (Kiveris large-star/small-star) produces
    the same labels as min-label propagation on chains/stars/singletons."""
    import random

    from job_crawler_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges_rows = [("d2", "d3"), ("d3", "d4"), ("d4", "d5"),
                  ("d7", "d8"), ("d7", "d9")]
    edges = spark.createDataFrame(edges_rows, "a string, b string")
    nodes = spark.createDataFrame(
        [(f"d{i}",) for i in range(1, 10)], "doc_id string"
    )
    want = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes).collect()
    }
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(edges, nodes).collect()
    }
    assert got == want

    # deterministic random graph: star == label propagation
    rng = random.Random(7)
    redges = [
        (f"n{rng.randrange(40):02d}", f"n{rng.randrange(40):02d}")
        for _ in range(50)
    ]
    redges = [(a, b) for a, b in redges if a != b]
    redges_df = spark.createDataFrame(redges, "a string, b string")
    rnodes_df = spark.createDataFrame(
        [(f"n{i:02d}",) for i in range(40)], "doc_id string"
    )
    want_r = {
        r.doc_id: r.cluster_id
        for r in connected_components(redges_df, rnodes_df).collect()
    }
    got_r = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(redges_df, rnodes_df).collect()
    }
    assert got_r == want_r


def test_long_chain_falls_back_to_star(spark):
    """A 500-node chain (diameter >> max_iter) must CONVERGE via the
    star-contraction fallback — the r02 raise is now a retry path — and
    label every node with the chain's min. fallback='raise' preserves the
    strict behavior."""
    import pytest

    from job_crawler_spark.operators.dedup import connected_components

    n = 500
    edges = spark.createDataFrame(
        [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(n - 1)],
        "a string, b string",
    )
    nodes = spark.createDataFrame(
        [(f"c{i:04d}",) for i in range(n)], "doc_id string"
    )
    labels = connected_components(edges, nodes, max_iter=8).collect()
    assert len(labels) == n
    assert {r.cluster_id for r in labels} == {"c0000"}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iter=8, fallback="raise")


def test_vectorized_bloom_matches_scalar_oracle():
    """The numpy build/probe fast paths must be bit-identical to the
    single-process scalar forms (add / might_contain), including
    non-power-of-two m_bits (the residue-arithmetic exactness argument in
    operators/bloom._positions_arr) and keys routed to missing shards."""
    import numpy as np

    from job_crawler_spark.operators.bloom import (
        BloomShards,
        _positions_arr,
        _probe_positions,
        _triples_arr,
        shard_of,
    )

    keys = [f"https://h{i % 13}.example/p/{i}" for i in range(500)]
    for m_bits in (1 << 20, 999_983):  # power of two AND a prime
        k = 5
        # positions parity
        tr = _triples_arr(keys)
        pos = _positions_arr(tr, m_bits, k)
        for i, key in enumerate(keys[:50]):
            assert list(pos[i]) == _probe_positions(key, m_bits, k), key
        # build via scalar oracle, probe via batch — members all hit,
        # and batch verdicts equal scalar verdicts for non-members too
        bs = BloomShards(8, m_bits, k)
        for key in keys[:250]:
            bs.add(key)
        probes = keys  # 250 members + 250 non-members
        got = bs.might_contain_batch(probes)
        want = np.array([bs.might_contain(p) for p in probes])
        assert (got == want).all()
        assert got[:250].all()  # zero false negatives
        # shard routing parity
        sh = (tr[:, 0] % np.uint64(8)).astype(int)
        for i, key in enumerate(keys[:50]):
            assert int(sh[i]) == shard_of(key, 8)


def test_batch_probe_allocates_one_shard_not_the_filter():
    """A BloomShards holding ONE shard of a 256 x 2^23-bit filter (the
    routed probe's case) must probe without materializing the other 255
    shards: the stacked-matrix probe peaked at 256 MiB here."""
    import tracemalloc

    import numpy as np

    from job_crawler_spark.operators.bloom import BloomShards, shard_of

    n_shards, m_bits = 256, 1 << 23
    keys = [f"https://h{i % 13}.example/p/{i}" for i in range(2000)]
    bs = BloomShards(n_shards, m_bits, 5)
    present = shard_of(keys[0], n_shards)
    for key in keys:
        if shard_of(key, n_shards) == present:
            bs.add(key)
    tracemalloc.start()
    try:
        got = bs.might_contain_batch(keys)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20, peak
    assert (got == np.array([bs.might_contain(key) for key in keys])).all()
    assert got[[shard_of(key, n_shards) == present for key in keys]].all()

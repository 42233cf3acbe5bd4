"""Cuckoo URL-seen filter: one-sided error, deletion, merge, distributed
build/probe parity with the single-process implementation."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from job_crawler_spark.operators import cuckoo


def test_basic_membership_and_delete():
    cs = cuckoo.CuckooShards(n_shards=4, n_buckets=1 << 8)
    keys = [f"https://h{i % 9}.example/jobs/{i}" for i in range(500)]
    for k in keys:
        cs.add(k)
    assert all(cs.might_contain(k) for k in keys)
    # delete re-admits (the forced-re-crawl path Bloom cannot express)
    assert cs.delete(keys[0])
    # fp may still collide with another resident key; deleting every key
    # must empty the filter for those keys' fingerprints
    for k in keys[1:]:
        cs.delete(k)
    assert not cs.might_contain(keys[0])


@given(
    st.lists(st.text(min_size=1, max_size=30), max_size=300),
)
@settings(max_examples=50, deadline=None)
def test_never_false_negative(keys):
    cs = cuckoo.CuckooShards(n_shards=4, n_buckets=1 << 6)  # small -> kicks
    for k in keys:
        cs.add(k)
    for k in keys:
        assert cs.might_contain(k)


@given(st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=200))
@settings(max_examples=40, deadline=None)
def test_roundtrip_and_merge_superset(keys):
    half = len(keys) // 2
    a = cuckoo.CuckooShards(4, 1 << 6)
    b = cuckoo.CuckooShards(4, 1 << 6)
    for k in keys[:half]:
        a.add(k)
    for k in keys[half:]:
        b.add(k)
    a2 = cuckoo.CuckooShards.from_rows(a.to_rows(), 4, 1 << 6)
    a2.merge(cuckoo.CuckooShards.from_rows(b.to_rows(), 4, 1 << 6))
    for k in keys:
        assert a2.might_contain(k)


def test_saturation_keeps_one_sided_contract():
    """Far more keys than slots: every inserted key must still be found
    (victim sentinels + exact overflow keep the no-false-negative promise)."""
    cs = cuckoo.CuckooShards(n_shards=1, n_buckets=4)  # 16 slots total
    keys = [f"k{i}" for i in range(200)]
    for k in keys:
        cs.add(k)
    assert all(cs.might_contain(k) for k in keys)


def test_fpr_sane():
    cs = cuckoo.CuckooShards(n_shards=8, n_buckets=1 << 10)
    for i in range(10_000):
        cs.add(f"https://seen.example/{i}")
    fp = sum(
        cs.might_contain(f"https://new.example/{i}") for i in range(10_000)
    )
    # 16-bit fingerprints, 2x4 slots scanned: theoretical FPR ~ 8/2^16 ~ 0.012%
    assert fp / 10_000 < 0.005


def test_distributed_build_matches_single_process(spark):
    keys = [f"https://h{i % 7}.example/jobs/{i}" for i in range(2000)]

    def build(part):
        df = spark.createDataFrame([(u,) for u in part], "url_canon string")
        return cuckoo.build_shards(df, "url_canon", 8, 1 << 9)

    probes = [f"https://other.example/{i}" for i in range(2000)]
    single = cuckoo.CuckooShards(8, 1 << 9)
    for k in keys:
        single.add(k)
    # one build, and two round deltas (duplicate shard ids, merged by
    # from_rows' fingerprint re-insertion)
    for shard_df in (build(keys), build(keys[:800]).unionByName(build(keys[800:]))):
        built = cuckoo.collect_shards(shard_df, 8, 1 << 9)
        assert all(built.might_contain(k) for k in keys)
        # distributed and single-process answer the same for non-members
        # too (identical hash construction; slot order may differ)
        assert sum(built.might_contain(p) for p in probes) == sum(
            single.might_contain(p) for p in probes
        )


def test_split_by_cuckoo(spark):
    seen = [f"https://a.example/{i}" for i in range(500)]
    new = [f"https://b.example/{i}" for i in range(500)]
    cs = cuckoo.CuckooShards(8, 1 << 9)
    for k in seen:
        cs.add(k)
    batch = spark.createDataFrame([(k,) for k in seen + new], "url_canon string")
    provably_new, maybe_seen, flagged = cuckoo.split_by_cuckoo(batch, spark, cs)
    new_set = {r.url_canon for r in provably_new.collect()}
    maybe_set = {r.url_canon for r in maybe_seen.collect()}
    flagged.unpersist()
    assert set(seen) <= maybe_set
    assert new_set <= set(new)
    assert new_set | maybe_set == set(seen + new)

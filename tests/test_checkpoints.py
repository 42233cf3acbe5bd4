"""Tracked localCheckpoint release must ACTUALLY free block storage.

Dataset.unpersist() silently no-ops on localCheckpoint blocks (the
checkpoint RDD is persisted outside the CacheManager — verified on PySpark
4.1.2), which made an earlier release mechanism a placebo. These tests pin
the working mechanism (operators/checkpoints.py): storage is inspected via
getRDDStorageInfo before/after, so a regression to the no-op behavior
fails here instead of silently leaking one block set per iteration."""

from __future__ import annotations

from pyspark.sql import functions as F

from job_crawler_spark.operators.checkpoints import (
    release,
    release_checkpoints,
    tracked_local_checkpoint,
)


def _storage_ids(spark) -> set[int]:
    return {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_tracked_release_frees_blocks(spark):
    before = _storage_ids(spark)
    ck = tracked_local_checkpoint(
        spark.range(100_000).withColumn("x", F.col("id") * 2)
    )
    assert ck._graft_ckpt_rdds, "checkpoint persisted no RDD?"
    assert _storage_ids(spark) - before, "no new storage after eager ckpt"
    assert ck.count() == 100_000
    release(ck)
    assert _storage_ids(spark) == before, "release left checkpoint blocks"
    # idempotent: releasing again is a no-op
    release(ck)


def test_plain_unpersist_is_still_a_noop(spark):
    """If a Spark upgrade ever makes Dataset.unpersist() free checkpoint
    blocks, this fails as a signal that the tracked mechanism can be
    simplified away."""
    before = _storage_ids(spark)
    ck = spark.range(50_000).localCheckpoint(eager=True)
    ck.unpersist(True)
    leaked = _storage_ids(spark) - before
    assert leaked, "Dataset.unpersist now frees checkpoint blocks — simplify"
    # clean up via the working path
    ck2 = ck  # same underlying rdds; free them for later tests
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.iterator()
    while it.hasNext():
        kv = it.next()
        if int(kv._1()) in leaked:
            kv._2().unpersist(True)
    assert _storage_ids(spark) == before
    del ck2


def test_query_checkpoints_released_end_to_end(spark):
    """The gated queries that attach _graft_checkpoints (IVF top-k, ANN
    near-dup pairs, CC clustering) must leave storage clean after
    release_checkpoints — the bench-loop contract."""
    import __spark_entry__ as entry

    queries = entry.queries()
    sf = "/root/testdata/sf0.001"
    before = _storage_ids(spark)
    for name in ("emb_ivf_topk", "emb_neardup_pairs_ann", "dup_clusters",
                 "dup_keep_canonical",
                 "doc_unigram_freq", "cluster_split_assign",
                 "hourly_value_locf", "graph_authority_rank",
                 "cms_heavy_hitters", "hll_user_cardinality",
                 "fuzzy_name_pairs", "bm25_topk",
                 "event_affinity_rules", "graph_triangle_coeff",
                 "graph_khop_dist", "redirect_resolve", "dust_rules",
                 "host_boilerplate", "graph_hits_scores",
                 "shard_fixity_digest", "doc_lm_perplexity",
                 "bpe_learn_merges", "doc_bpe_tokens",
                 "graph_label_prop", "bloom_seen_audit",
                 "lm_quality_buckets", "classifier_eval",
                 "ranking_eval"):
        df = queries[name](spark, sf)
        df.count()
        release_checkpoints(df)
        leaked = _storage_ids(spark) - before
        assert not leaked, f"{name} leaked checkpoint blocks: {leaked}"

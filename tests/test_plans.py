"""Physical-plan regression tests: the plan, not just the answer.

Each assertion pins a scale property SURVEY.md §4 calls out: filters reach
the parquet scan, small dims broadcast, aggregates combine map-side,
narrow ops stay shuffle-free. A refactor that silently turns a broadcast
join into a shuffled one, or adds a shuffle to a narrow projection,
fails here long before it shows up as a 100-TB regression."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def n_hash_exchanges(plan: str) -> int:
    # formatted mode lists each Exchange's partitioning in its detail block
    return plan.count("hashpartitioning(")


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


def test_url_canonicalize_is_narrow_and_codegen(spark, queries):
    # The canonicalizer itself stays narrow dataflow: no KEYED exchange
    # anywhere. The single allowed exchange is frontier_df's round-robin
    # spread (functions/compat.spread) that parallelizes the regex chain
    # above the single-row-group fixture scan — it moves no keys and
    # exists purely to lift scan-stage parallelism.
    plan = explain_str(queries["url_canonicalize"](spark, SF_DIR))
    lowered = plan.lower()
    assert "hashpartitioning" not in lowered, plan
    assert "rangepartitioning" not in lowered, plan
    # formatted explain names each node twice (tree + detail section):
    # one physical Exchange == at most one Arguments line
    assert lowered.count("roundrobinpartitioning(") <= 1, plan
    assert "roundrobinpartitioning" in lowered or "exchange" not in lowered, plan
    # the canonicalizer projection is whole-stage-codegen: with the AQE
    # wrapper the formatted tree drops the '*' markers, so assert on the
    # codegen-mode rendering instead
    codegen = explain_str(
        queries["url_canonicalize"](spark, SF_DIR), "codegen"
    )
    assert "WholeStageCodegen" in codegen, codegen


def test_quality_scores_is_narrow(spark, queries):
    plan = explain_str(queries["quality_scores"](spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_pricing_summary_partial_agg_and_column_pruning(spark, queries):
    plan = explain_str(queries["tpch_pricing_summary"](spark, SF_DIR))
    # map-side combine before the shuffle
    assert "partial_sum" in plan, plan
    # column pruning: the 16-col lineitem scan must not read l_comment
    assert "l_comment" not in plan, plan
    # the date predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_app_summary_join_broadcasts_jobs(spark, queries):
    plan = explain_str(queries["app_summary_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_politeness_rank_single_width_shuffle(spark, queries):
    # one hashpartitioning exchange (the host window); the trailing
    # rangepartitioning for ORDER BY is presentation, not dataflow
    plan = explain_str(queries["politeness_rank"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 1, plan
    # Spark pushes the rank<=k filter into a map-side WindowGroupLimit, so
    # only per-host top-k candidates cross the shuffle — keep it that way
    assert "WindowGroupLimit" in plan, plan


def test_cosine_topk_broadcasts_query_side(spark, queries):
    plan = explain_str(queries["emb_cosine_topk"](spark, SF_DIR))
    assert "Broadcast" in plan, plan


def test_neardup_ann_is_blocked_shuffle_hash_no_selfjoin(spark, queries):
    """The near-dup ANN scale shape after the tiled-n^2 rewrite: the
    (cid, blk) block frame is localCheckpointed (broadcast assignment +
    both aggregations execute once, behind the checkpoint), pair
    generation is a ShuffledHashJoin of the MATERIALIZED block frame with
    itself on the list id (never a SortMergeJoin, never shared live
    lineage), the b1 <= b2 triangle filter rides the join, no window
    anywhere, and the visible plan holds exactly three width-bounded hash
    shuffles: the two join sides plus the final distinct."""
    from job_crawler_spark.plans.similarity import release_checkpoints

    df = queries["emb_neardup_pairs_ann"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "(b1" in plan and "b2" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert n_hash_exchanges(plan) == 3, plan


def test_seen_antijoin_scans_once(spark, queries):
    """The seen set derives from the same scan: the plan must read the
    frontier parquet ONCE and canonicalize once (the anti-join form
    duplicated both — no cross-join-side CSE in Catalyst)."""
    import re

    df = queries["seen_antijoin"](spark, SF_DIR)
    plan = explain_str(df)
    # formatted mode shows each node once in the tree and once in the
    # detail section — count detail entries "(n) Scan parquet"
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan
    assert "Window" in plan


def test_event_props_extract_stays_jvm(spark, queries):
    """from_json is a JVM JacksonParser projection — no Python stage, and
    the aggregate combines map-side (partial HashAggregate)."""
    df = queries["event_props_extract"](spark, SF_DIR)
    plan = explain_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_scalar_total_queries_broadcast_not_collect(spark, queries):
    """tfidf_top_terms computes its document-count denominator as a 1-row
    scalar aggregate broadcast (BroadcastNestedLoopJoin) inside ONE plan,
    not with a driver-side count() — no second Spark job."""
    plan = explain_str(queries["tfidf_top_terms"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_star_contraction_phases_are_join_free(spark):
    """The large-star/small-star per-neighborhood min must stay a WINDOW
    over the partition key, never a groupBy + self-join — the self-join-
    over-shared-frame shape stickily dropped rows in long local sessions
    (the q_minhash_lsh_pairs rewrite rationale, applied to star CC)."""
    from job_crawler_spark.operators.dedup import _large_star, _small_star

    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "a long, b long"
    )
    for phase in (_large_star, _small_star):
        plan = explain_str(phase(sym))
        assert "Join" not in plan, (phase.__name__, plan)


def test_decontaminate_broadcasts_eval_shingles(spark, queries):
    """The benchmark-side shingle set is small by construction (eval suites
    are MBs, the corpus is TBs) — it must BUILD the broadcast hash join, so
    the 100-TB train side never shuffles on shingle. Exactly two width-
    bounded shuffles: the eval distinct and the per-doc overlap count."""
    plan = explain_str(queries["doc_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert n_hash_exchanges(plan) == 2, plan


def test_length_quantiles_partial_agg_and_pruned_scan(spark, queries):
    """Exact percentiles must still combine map-side (partial_percentile
    buffers, one shuffle on lang) and prune the documents scan to the two
    columns the profile reads."""
    plan = explain_str(queries["doc_length_quantiles"](spark, SF_DIR))
    assert "partial_percentile" in plan, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "ReadSchema: struct<lang:string,n_chars:bigint>" in plan, plan


def test_mixture_weights_window_is_post_aggregation(spark, queries):
    """The temperature-mixture normalizing sums are single-partition
    windows — legal ONLY because they run over the |langs|-row aggregate,
    never the corpus. Pin the order: exactly one corpus-collapsing hash
    aggregate below the first SinglePartition exchange, and the documents
    scan reads just the lang column."""
    plan = explain_str(queries["lang_mixture_weights"](spark, SF_DIR))
    assert "ReadSchema: struct<lang:string>" in plan, plan
    assert plan.count("SinglePartition") >= 1, plan
    # corpus aggregate happens before (deeper than) the window exchange
    agg_pos = plan.index("HashAggregate")
    assert "Scan parquet" in plan[agg_pos:], plan


def test_pack_stats_single_agg_map_side_combine(spark, queries):
    """Packing profile: narrow token count + ONE lang-keyed shuffle with
    partial aggregation (partial_sum/partial_max visible map-side)."""
    plan = explain_str(queries["doc_pack_stats"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 1, plan
    assert "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def test_dup_passages_topk_no_global_sort(spark, queries):
    """Passage mining must end in TakeOrderedAndProject (per-partition
    top-k) over ONE map-side-combined shingle count — never a global sort
    of every distinct shingle in a 100-TB corpus."""
    plan = explain_str(queries["dup_passages"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "partial_count" in plan, plan


def test_unigram_freq_single_doc_shuffle_broadcast_vocab(spark, queries):
    """Unigram-frequency signals: the vocab frame is checkpointed (built
    once, bounded by vocab size) and BROADCASTS to the streamed token
    explode; corpus totals ride as a 1-row scalar broadcast, never a
    driver collect. The only width-bounded hash shuffle in the visible
    plan is the per-doc aggregation, and it combines map-side."""
    from job_crawler_spark.plans.similarity import release_checkpoints

    df = queries["doc_unigram_freq"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_sum" in plan, plan
    assert n_hash_exchanges(plan) == 1, plan


def test_dup_keep_canonical_single_window_no_rank_rejoin(spark, queries):
    """The keep/drop verdict costs ONE cluster_id shuffle: cluster size
    and the keeper are whole-partition window aggregates over the same
    spec (keeper = min of a (neg_quality, doc_id) struct), so the plan
    holds exactly one Window exec and neither a row_number rank nor an
    aggregate-plus-rejoin."""
    from job_crawler_spark.plans.similarity import release_checkpoints

    df = queries["dup_keep_canonical"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert plan.count("Window ") == 1, plan
    assert "row_number" not in plan, plan


def test_cluster_split_is_narrow_over_labels(spark, queries):
    """Leakage-safe split: beyond the (audited, checkpointed) LSH+CC label
    pipeline, the split assignment itself must be a NARROW projection —
    no hash shuffle, no join, no window in the visible plan."""
    from job_crawler_spark.plans.similarity import release_checkpoints

    df = queries["cluster_split_assign"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert n_hash_exchanges(plan) == 0, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_purchase_attribution_joinfree_single_shuffle(spark, queries):
    """The as-of query keeps the operator's contract end-to-end: no Join
    operator anywhere, one hash shuffle (the user window), one Window."""
    plan = explain_str(queries["purchase_attribution"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert plan.count("Window ") == 1, plan


def test_multi_touch_is_bucket_equijoin(spark, queries):
    """The range-join query must stay a (user, bucket) equi-join with the
    time bounds as the join condition — never a nested-loop/cartesian
    plan, never a Window."""
    plan = explain_str(queries["multi_touch_attribution"](spark, SF_DIR))
    assert "__rj_bucket" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_error_rate_ma7_rollup_then_bounded_window(spark, queries):
    """One corpus shuffle (the daily rollup); the RANGE window runs on the
    calendar-bounded single partition, never on the corpus."""
    plan = explain_str(queries["error_rate_ma7"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 1, plan
    assert "SinglePartition" in plan, plan
    assert "partial_count" in plan, plan  # map-side combine on the rollup


def test_pivot_two_agg_shuffles_no_discovery_scan(spark, queries):
    """Explicit pivot values: exactly the two pivot aggregation shuffles
    and ONE events scan — an extra scan would mean Spark ran the eager
    distinct-values discovery job."""
    plan = explain_str(queries["daily_event_pivot"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 2, plan
    # one "Location:" detail line per parquet scan in formatted mode
    assert plan.count("Location:") == 1, plan


def test_cube_is_expand_single_shuffle(spark, queries):
    """CUBE: grouping sets via one Expand + one aggregation shuffle —
    never one scan per grouping set."""
    plan = explain_str(queries["tpch_status_cube"](spark, SF_DIR))
    assert "Expand" in plan, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert plan.count("Location:") == 1, plan


def test_length_ranks_single_lang_shuffle(spark, queries):
    plan = explain_str(queries["doc_length_ranks"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 1, plan
    assert plan.count("Window ") == 1, plan


def test_locf_visible_plan_never_rescans_events(spark, queries):
    """The single-scan contract: the corpus scan lives behind the
    checkpointed hourly rollup, so the visible plan reads ONLY the
    materialized frame — zero parquet scans (a regression to a second
    events aggregate shows up as a parquet scan here)."""
    from job_crawler_spark.plans.similarity import release_checkpoints

    df = queries["hourly_value_locf"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_funnel_single_corpus_shuffle_no_join(spark, queries):
    """The funnel is never a k-way self-join: no Join operator at all, and
    exactly two hash shuffles — the per-user window pass over the corpus
    and the 3-row stage rollup. The chained stage Windows share one
    exchange, and the per-user rollup reuses that partitioning."""
    plan = explain_str(queries["funnel_conversion"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert n_hash_exchanges(plan) == 2, plan


def test_excise_no_python_no_cartesian(spark, queries):
    """Excision stays JVM-side and join-shaped: the interval merge and
    token filtering are higher-order functions (no Python-UDF stage), and
    the duplicated-shingle match is an equi-join, never a cartesian."""
    plan = explain_str(queries["doc_excise_dups"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_weighted_sample_topk_shuffle_free(spark, queries):
    """Efraimidis-Spirakis selection is a scan-stage key + top-K: the
    whole plan is a pruned 3-column parquet scan, one codegen projection,
    and TakeOrderedAndProject (per-partition bounded heaps merged on the
    driver) — ZERO shuffles, no global sort, no Python stage."""
    plan = explain_str(queries["doc_weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert n_hash_exchanges(plan) == 0, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan, plan


def test_graph_rank_cached_sides_join_without_exchange(spark, queries):
    """PageRank's scale contract: the cached edge frame (partitioned +
    sorted on src) and cached node frame (on node) enter their per-
    iteration merge joins DIRECTLY — no Exchange, no Sort above any
    InMemoryTableScan. localCheckpoint would break this (LogicalRDD
    reports UnknownPartitioning); this pin is the regression guard for
    that swap. Broadcast is disabled so small-scale AQE cannot hide a
    shuffled join behind a broadcast."""
    import re

    from job_crawler_spark.operators.checkpoints import release_checkpoints

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["graph_authority_rank"](spark, SF_DIR)
        plan = explain_str(df)
    finally:
        release_checkpoints(df)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # every InMemoryTableScan in the tree is consumed bare or through a
    # Filter — never re-sorted or re-exchanged
    tree = plan.split("\n\n")[0]
    for m in re.finditer(r"(?:Exchange|Sort) \(\d+\)\n(.*)", tree):
        nxt = m.group(1)
        assert "InMemoryTableScan" not in nxt, plan
    # the three per-iteration joins are merge joins over the cache
    assert re.search(
        r"SortMergeJoin LeftOuter \(\d+\)\n[ :]*(?::-|\+-) "
        r"InMemoryTableScan",
        tree,
    ), plan
    assert re.search(
        r"Filter \(\d+\)\n[ :]*\+- InMemoryTableScan", tree
    ), plan
    # dangling-mass crossJoin is the 1-row broadcast, never a cartesian
    assert "CartesianProduct" not in plan, plan
    # no Python stage anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_sketch_single_source_broadcast_cells(spark, queries):
    """CMS scale contract: the corpus scan + term-frequency shuffle run
    ONCE (checkpointed — zero parquet scans in the visible plan), the
    depth*width cell grid is built by a map-side-combined aggregate and
    BROADCAST back for point queries (no shuffled join on cell
    coordinates), and top-k is TakeOrderedAndProject, never a global
    sort."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["cms_heavy_hitters"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_hll_register_aggregate_is_map_side_merged(spark, queries):
    """HLL scale contract: the shared distinct frame is checkpointed (no
    events rescan in the visible plan) and the register build is a
    partial_max-combined hash aggregate — the shuffle moves registers,
    not users. No Python stage anywhere."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["hll_user_cardinality"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert "partial_max" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_fuzzy_pairs_no_cartesian_no_python(spark, queries):
    """Edit-distance join scale contract: candidates come from the
    signature-bucket EQUI-join over the checkpointed signature frame —
    never a cartesian/nested-loop product, never a Python stage; the
    banded levenshtein verify is a plain JVM filter."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["fuzzy_name_pairs"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "levenshtein" in plan, plan


def test_user_frecency_single_map_side_combined_shuffle(spark, queries):
    """Frecency is ONE user-keyed hash aggregate with the decay terms
    summed map-side (partial_sum) — no window, no join, one shuffle on a
    uniform key."""
    plan = explain_str(queries["user_frecency"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 1, plan
    assert "partial_sum" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_bm25_scan_once_query_side_broadcast(spark, queries):
    """BM25 scale contract: the tf frame is checkpointed so the visible
    plan re-scans nothing (corpus scan + token shuffle run exactly once);
    the query-term table, per-term df, and (N, avgdl) stats all BROADCAST
    (the corpus never shuffles on term); the per-(query, doc) score sum is
    map-side combined; no Python stage."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["bm25_topk"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_affinity_rules_one_user_shuffle_broadcast_marginals(spark, queries):
    """Association-rule scale contract: the basket build is the only
    corpus-keyed shuffle (checkpointed, so the visible plan re-scans
    nothing); the i<j pair expansion is a JVM higher-order transform —
    never a self-join (no SortMergeJoin / CartesianProduct); per-type
    marginals and the user count broadcast onto the vocab^2 pair frame;
    the pair count is map-side combined."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["event_affinity_rules"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_trend_single_corpus_shuffle_partial_combined(spark, queries):
    """OLS trend scale contract: the (type, day) count is the only
    corpus-keyed exchange and it partial-combines map-side; the moment
    aggregate reuses the same hash key family on a |types| x |days| frame;
    no join, no window, no Python stage."""
    plan = explain_str(queries["event_volume_trend"](spark, SF_DIR))
    assert "partial_count" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_triangle_count_single_pipeline_pass(spark, queries):
    """Triangle-count scale contract: the basket expansion + orientation
    run ONCE (all three frames checkpointed — zero parquet scans in the
    visible plan), per-node counting explodes the 3 corners in a single
    pass over the triangle stream instead of a union of three projections
    (which re-executes the wedge+closing join pipeline 3x: observed 12
    SortMergeJoins vs 4), the count partial-combines map-side, and no
    Python stage anywhere."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["graph_triangle_coeff"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert plan.count("SortMergeJoin") <= 4, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_graph_khop_final_plan_is_materialized_levels(spark, queries):
    """K-hop BFS scale contract: every per-hop frontier is materialized
    (localCheckpointed) during the build, so the FINAL plan is a pure
    union of in-memory level scans under one range-partitioned sort —
    zero parquet scans, zero joins, no Python. Without the per-hop
    checkpoint the lineage would compound (hop N replays hops 1..N-1,
    including their shuffles) and the visible plan would carry the whole
    join cascade. The cached-edges-join-without-exchange mechanism the
    hop loop relies on is pinned by
    test_graph_rank_cached_sides_join_without_exchange."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["graph_khop_dist"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert "Scan parquet" not in plan, plan
    assert "Join" not in plan, plan
    assert n_hash_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_pareto_front_sweep_plan(spark, queries):
    """Skyline scale contract: the only corpus-sized shuffle is the
    per-price max aggregate (partial_max map-side combined, ONE hash
    exchange); the sweep window runs on the post-aggregation
    price-distinct frame; skyline prices re-enter as a BROADCAST join
    (never a quadratic dominance self-join — no CartesianProduct, no
    SortMergeJoin); both scans are column-pruned to the 3 output
    columns; no Python stage."""
    plan = explain_str(queries["part_pareto_front"](spark, SF_DIR))
    assert "partial_max" in plan, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "ReadSchema: struct<p_size:int,p_retailprice:double>" in plan, plan


def test_ssjoin_prefix_plan_no_quadratic_join(spark, queries):
    """Exact set-similarity join scale contract: candidates come from the
    rare-token prefix buckets (in-bucket i<j expansion + integer length
    filter), NEVER a cartesian or sort-merge product; the deduped
    candidate list is small enough to BROADCAST into both verify joins;
    exact verification is JVM array_intersect, with zero Python stages.
    Shuffles are the linear passes only (vocab df, per-doc sort, posting
    buckets, candidate distinct) — pinned at 4 hash exchanges."""
    plan = explain_str(queries["ssjoin_prefix_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "array_intersect" in plan, plan
    assert n_hash_exchanges(plan) == 4, plan


def test_gram_matrix_single_mapside_aggregate(spark, queries):
    """Dense linear algebra scale contract: the Gram matrix is ONE hash
    aggregate over in-row expanded upper-triangle products — key space
    d(d+1)/2, constant in corpus size, partial_sum combined map-side; no
    self-join on the row key, no Python stage, scan pruned to the
    embedding column."""
    plan = explain_str(queries["emb_gram_matrix"](spark, SF_DIR))
    assert n_hash_exchanges(plan) == 1, plan
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "ReadSchema: struct<embedding:array<float>>" in plan, plan


def test_hits_cached_sides_join_without_exchange(spark, queries):
    """HITS scale contract (mirror of the PageRank pin): both cached edge
    orientations and the cached node frame enter the per-iteration merge
    joins DIRECTLY — no Exchange, no Sort above any InMemoryTableScan;
    the L1 normalizers ride 1-row BroadcastNestedLoopJoins (never a
    CartesianProduct); no Python stage. Broadcast is disabled so AQE
    cannot hide a shuffled join behind a broadcast at gate scale."""
    import re

    from job_crawler_spark.operators.checkpoints import release_checkpoints

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["graph_hits_scores"](spark, SF_DIR)
        plan = explain_str(df)
    finally:
        release_checkpoints(df)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    tree = plan.split("\n\n")[0]
    for m in re.finditer(r"(?:Exchange|Sort) \(\d+\)\n(.*)", tree):
        assert "InMemoryTableScan" not in m.group(1), plan
    # the score-side joins are merge joins consuming the cached
    # orientations bare or through the join-key null filter
    assert re.search(
        r"SortMergeJoin (?:Inner|LeftOuter) \(\d+\)\n[ :]*(?::-|\+-) "
        r"(?:Filter \(\d+\)\n[ :]*\+- )?InMemoryTableScan",
        tree,
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_inverted_postings_two_exchanges_no_python(spark, queries):
    """Index-construction scale contract: ONE corpus scan feeds ONE
    map-side-combinable (term, doc_id) aggregate (partial_count +
    partial collect of positions), the df window rides the term
    partitioning, and the gap encoding is a pure JVM array transform —
    exactly two hash exchanges (aggregate + window; the final
    presentation sort is a range exchange), zero Python stages."""
    plan = explain_str(queries["inverted_postings"](spark, SF_DIR))
    # one "Location:" detail line per parquet scan in formatted mode
    assert plan.count("Location:") == 1, plan
    assert n_hash_exchanges(plan) == 2, plan
    assert "partial_count" in plan, plan
    assert "zip_with" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_bpe_pair_stats_vocab_shaped_no_global_sort(spark, queries):
    """Tokenizer-stats scale contract: the corpus collapses to the
    word-frequency dict FIRST (partial-combined aggregate before the
    pair Generate), the pair aggregate is the only other hash exchange,
    and the ranking is a TakeOrderedAndProject feeding the row_number
    window — no SinglePartition exchange of anything corpus- or
    vocab-shaped, one scan pruned to the text column, zero Python."""
    plan = explain_str(queries["bpe_pair_stats"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert n_hash_exchanges(plan) == 2, plan
    assert "TakeOrderedAndProject" in tree, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_count" in plan, plan
    assert "ReadSchema: struct<text:string>" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # the word-frequency aggregate precedes the pair explode: between
    # the pair Generate (upper) and the token Generate (lower) the tree
    # must contain the word-dict aggregate and its exchange
    first = tree.index("Generate")
    second = tree.index("Generate", first + 1)
    between = tree[first:second]
    assert "HashAggregate" in between and "Exchange" in between, plan


def test_ab_test_single_scan_mapside(spark, queries):
    """Experimentation-analytics scale contract: one scan, the per-user
    conversion flag a map-side-combinable aggregate (the only
    corpus-width exchange), then a 1-row fold and scalar algebra —
    no window, no join, no Python."""
    plan = explain_str(queries["ab_test_eval"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "partial_max" in plan, plan
    assert "Join" not in tree, plan
    assert "Window" not in tree, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_ranking_eval_rides_bm25_checkpoint(spark, queries):
    """IR-eval scale contract: the metric layer adds only per-query-tiny
    window/aggregate work on top of bm25's checkpointed tf frame — zero
    parquet scans in the visible plan, no Python."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["ranking_eval"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert plan.count("Location:") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_classifier_eval_confusion_materialized(spark, queries):
    """Model-eval scale contract: the corpus collapses to the
    |classes|^2 confusion frame ONCE (localCheckpointed — zero parquet
    scans in the visible plan, exactly four ExistingRDD reads for the
    actual/pred/correct margins and the overall fold); everything after
    is tiny-frame algebra (full-outer margin joins cannot broadcast,
    but they join |classes|-row frames). Zero Python."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["classifier_eval"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 0, plan
    assert tree.count("Scan ExistingRDD") == 4, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_pii_redact_narrow_scan(spark, queries):
    """Redaction-transform scale contract: a single projected scan with
    chained JVM regexp_replace — no Exchange besides the presentation
    sort, no Generate, no Python; the shape that rides along any 100 TB
    corpus pass."""
    plan = explain_str(queries["pii_redact"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert n_hash_exchanges(plan) == 0, plan
    assert "Generate" not in tree, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_lm_buckets_no_corpus_window(spark, queries):
    """CCNet-bucket scale contract: the perplexity frame is computed
    once and materialized (zero parquet scans visible — both consumers
    read the checkpoint), the p25/p75 cutoff is a 1-row exact-
    percentile aggregate broadcast back via a nested loop (never a
    corpus-wide rank window — `Window` must not appear at all), and the
    bucket assignment is a narrow projection into a 3-row aggregate.
    One bucket-keyed hash exchange; zero Python."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["lm_quality_buckets"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 0, plan
    assert "Window" not in tree, plan
    assert "BroadcastNestedLoopJoin" in tree, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_phrase_search_scan_once_no_corpus_shuffle(spark, queries):
    """Proximity-retrieval scale contract: ONE corpus scan (the first
    draft's slot-1/slot-2 hitlist self-join scanned it twice — no CSE
    across self-join sides), the phrase table a broadcast nested loop,
    the adjacency count a JVM array lambda (no position explode, no
    Generate), and exactly one hash exchange — the query-partitioned
    top-k window, rank filter pushed as a map-side WindowGroupLimit.
    Zero Python."""
    plan = explain_str(queries["phrase_search"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "BroadcastNestedLoopJoin" in tree, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Generate" not in tree, plan
    assert "SortMergeJoin" not in tree, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_expectations_two_scans_broadcast_fk(spark, queries):
    """Data-contract-suite scale contract: the four orders-local checks
    fold into ONE aggregate pass (orders scanned exactly twice in the
    whole suite — the local agg + the FK probe; customer once) and the
    FK validation anti-joins against the BROADCAST distinct dimension
    keys — the 100 TB fact side never shuffles for the suite. The
    5-check output is a stack over the crossJoined 1-row folds, not a
    union of per-check jobs."""
    plan = explain_str(queries["table_expectations"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 3, plan  # orders x2 + customer x1
    assert "BroadcastHashJoin LeftAnti" in tree, plan
    assert "SortMergeJoin" not in tree, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_ewma_daily_rollup_before_window(spark, queries):
    """Exponential-smoother scale contract: the corpus collapses to the
    calendar-bounded daily rollup FIRST (partial-combined aggregate,
    the only corpus-width exchange); the running windows operate on one
    row per day, so the single-partition window exchange is constant
    width regardless of corpus size (the error_rate_ma7 argument). One
    scan, no Python."""
    plan = explain_str(queries["daily_ewma"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert n_hash_exchanges(plan) == 1, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # the daily aggregate sits BELOW the window machinery in the tree
    first_window = tree.index("Window")
    assert "HashAggregate" in tree[first_window:], plan


def test_bloom_audit_broadcast_bits_single_seen_build(spark, queries):
    """Membership-structure scale contract: the seen set and the <= m-row
    bit set are each built ONCE (both localCheckpointed — the visible
    plan holds exactly one parquet scan, the probe path), the bit set
    joins the exploded probe positions as a BroadcastHashJoin (O(1)
    lookup per probe bit — the probe side never shuffles on position),
    no sort-merge joins anywhere, no Python."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["bloom_seen_audit"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert "BroadcastHashJoin" in tree, plan
    assert "SortMergeJoin" not in tree, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_label_prop_rounds_node_shaped(spark, queries):
    """Community-detection scale contract. Final frame: the size join
    over the materialized final labels only — zero parquet scans, two
    ExistingRDD reads, two hash exchanges (the size aggregate + one
    join side), no Python. Per-round machinery, probed live on a
    materialized label frame: the neighbor join + vote count is one
    partial-combined hash aggregate, and the per-node argmax rank-1
    filter pushes below the shuffle as a map-side WindowGroupLimit, so
    only per-node top candidates cross the wire."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from job_crawler_spark.operators.checkpoints import (
        release,
        release_checkpoints,
        tracked_local_checkpoint,
    )
    from job_crawler_spark.plans.graph_plans import part_copurchase_edges

    df = queries["graph_label_prop"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 0, plan
    assert tree.count("Scan ExistingRDD") == 2, plan
    assert n_hash_exchanges(plan) == 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # one live round over materialized edges + labels
    edges = tracked_local_checkpoint(part_copurchase_edges(spark, SF_DIR))
    adj = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    labels = tracked_local_checkpoint(
        adj.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    try:
        votes = (
            adj.join(
                labels.select(F.col("node").alias("v"), F.col("lbl")), "v"
            )
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("n").desc(), F.col("lbl").asc()
        )
        nxt = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
        p_round = explain_str(nxt)
        assert "WindowGroupLimit" in p_round, p_round
        assert "partial_count" in p_round, p_round
        assert "Location:" not in p_round, p_round
    finally:
        release(edges, labels)


def test_events_profile_single_scan_pruned_partial(spark, queries):
    """ANALYZE-class scale contract: ONE parquet scan whose ReadSchema
    excludes the unprofiled double column, the stack() unpivot a narrow
    Generate (no shuffle of its own), a map-side partial aggregate on
    (col_name, val) BEFORE the first exchange, and no Python stage. The
    explain runs pre-execution so AQE's final-plan duplication cannot
    skew the exchange count."""
    plan = explain_str(queries["events_profile"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 1, plan
    assert "value" not in [
        c.strip()
        for l in plan.splitlines()
        if "ReadSchema" in l
        for c in l.split("struct<")[1].rstrip(">").split(",")
        for c in [c.split(":")[0]]
    ], plan
    assert "Generate" in tree, plan
    assert n_hash_exchanges(plan) == 2, plan
    # partial (col_name, val) aggregate precedes the first Exchange
    first_ex = tree.index("Exchange")
    assert "Aggregate" in tree[first_ex:], plan
    below_first_ex = tree[first_ex:]
    assert "Generate" in below_first_ex, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_bpe_trainer_iterations_vocab_shaped(spark, queries):
    """Iterative BPE-trainer scale contract. Final frame: a bare Union
    of the K materialized 1-row argmax frames — zero parquet scans
    (everything behind the per-step checkpoints), no hash exchange, no
    Python. Per-iteration machinery, pinned on the step pipeline
    itself: the pair argmax over a materialized vocab is ONE hash
    exchange (partial-combined sum) into a TakeOrderedAndProject —
    never a global sort — and the merge rewrite is a broadcast
    nested-loop of the 1-row argmax (never Cartesian), keeping every
    iteration vocab-shaped with a flat lineage."""
    from job_crawler_spark.operators.checkpoints import (
        release,
        release_checkpoints,
        tracked_local_checkpoint,
    )
    from job_crawler_spark.plans.textops import (
        BPE_MERGE_STEPS,
        bpe_apply_merge,
        bpe_pair_argmax,
        bpe_symbolized_vocab,
    )

    df = queries["bpe_learn_merges"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 0, plan
    assert "Union" in tree, plan
    assert tree.count("Scan ExistingRDD") == BPE_MERGE_STEPS, plan
    assert n_hash_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # one live iteration over a materialized vocab
    v0 = tracked_local_checkpoint(bpe_symbolized_vocab(spark, SF_DIR))
    try:
        top = bpe_pair_argmax(v0)
        p_top = explain_str(top)
        assert "TakeOrderedAndProject" in p_top, p_top
        assert n_hash_exchanges(p_top) == 1, p_top
        assert "partial_sum" in p_top, p_top
        assert "Exchange SinglePartition" not in p_top, p_top
        top = tracked_local_checkpoint(top)
        p_apply = explain_str(bpe_apply_merge(v0, top))
        assert "BroadcastNestedLoopJoin LeftOuter" in p_apply, p_apply
        assert "CartesianProduct" not in p_apply, p_apply
    finally:
        release(v0, top)


def test_lm_perplexity_dicts_materialized_no_corpus_rescan(spark, queries):
    """LM-scoring scale contract: the corpus collapses once to the
    per-doc bigram multiset and the (w1,w2) dict aggregate runs once —
    both localCheckpointed, so the visible plan has ZERO parquet scans
    and exactly four ExistingRDD reads (multiset x1 for scoring, dict x3
    for enrich/history/continuation-vocab). Remaining exchanges are the
    vocab-shaped history dict, the distinct-w2 partial, and the per-doc
    aggregate (3 hash + the 1-row V scalar merge); history and V ride
    broadcasts onto the dict; zero Python."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints

    df = queries["doc_lm_perplexity"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    tree = plan.split("\n\n")[0]
    assert plan.count("Location:") == 0, plan
    assert tree.count("Scan ExistingRDD") == 4, plan
    assert n_hash_exchanges(plan) == 3, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "BroadcastNestedLoopJoin Cross" in tree, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_fixity_digest_scan_once_mapside_xor(spark, queries):
    """Integrity-audit scale contract: the corpus scan + shard aggregate
    run ONCE behind the localCheckpoint (zero parquet scans in the
    visible plan — Catalyst does not CSE across the root-fold crossJoin's
    sides, so the un-checkpointed form scanned twice); the 1-row root
    fold rides a broadcast nested-loop join (never a cartesian); no
    Python stage. The map-side partial_bit_xor fold is pinned on the
    checkpointed frame's own plan."""
    from job_crawler_spark.operators.checkpoints import release_checkpoints
    from job_crawler_spark.plans.crawlops import fixity_shard_frame

    df = queries["shard_fixity_digest"](spark, SF_DIR)
    plan = explain_str(df)
    release_checkpoints(df)
    assert plan.count("Location:") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # the pre-checkpoint pipeline (the exact frame the query materializes):
    # one scan, one hash exchange, partial bit_xor combine
    inner = explain_str(fixity_shard_frame(spark, SF_DIR))
    assert "partial_bit_xor" in inner, inner
    assert inner.count("Location:") == 1, inner
    assert n_hash_exchanges(inner) == 1, inner


def test_fetch_width_tracks_default_parallelism(spark, monkeypatch):
    """The fetch stage's round-robin width is 2 x the SparkContext's core
    count, not the ``spark.default.parallelism`` conf: a session built
    without that conf must not fall back to a fixed width."""
    from pyspark import SparkContext

    from job_crawler_spark.crawl.fetcher import fetch_pages

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: 3))
    batch = spark.createDataFrame(
        [("https://h.example/1", "h.example", 0, 0.5, 1)],
        "url_canon string, host string, depth int, priority double, host_rank int",
    )
    plan = explain_str(fetch_pages(batch))
    assert "RoundRobinPartitioning(6)" in plan, plan

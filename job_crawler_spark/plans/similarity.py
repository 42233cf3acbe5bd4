"""Embedding similarity search over the ``embeddings`` table.

Training-data ANN operators, Spark-first:

- brute-force cosine top-k (the correctness baseline): cross join pruned to
  query rows, dot products via ``zip_with``/``aggregate`` higher-order
  functions — JVM codegen, no UDF;
- sign-bit LSH bucketing (axis-aligned hyperplanes on the first SIGN_BITS
  dims): at 10^10 vectors the bucket id is the shuffle key and each bucket
  is searched independently (an IVF-style partition);
- true IVF (trained coarse quantizer): one rounded-mean Lloyd step from
  deterministic seeds -> inverted lists -> nprobe search — the FAISS-IVF
  structure, the canonical 10^10-vector scale path.

Cross-engine determinism: components are float32 in parquet; both engines
cast float->double (exact) before multiplying, accumulate left-to-right, and
final cosines go through the dialect-stable rounding in functions/compat so
rank ties break identically ((cos DESC, neighbor ASC) total order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_crawler_spark.functions.compat import stable_round, stable_round_sql
from job_crawler_spark.operators.checkpoints import (  # noqa: F401 (re-export)
    release_checkpoints,
    tracked_local_checkpoint,
)

N_QUERIES = 20       # query vectors for top-k demos
TOP_K = 5
NEARDUP_TAU = 0.35   # driver embeddings are near-orthogonal (max cos ~0.48)
SIGN_BITS = 4        # LSH bucket bits -> 16 buckets


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from job_crawler_spark.functions.compat import spread

    # spread: the fixture is a single-row-group file (1 scan task) and
    # every consumer runs per-row vector arithmetic (cosines against K
    # broadcast candidates, quantization, gram expansion) straight above
    # the scan — same-session A/B wins on every benched emb query
    # (see functions/compat.spread; filters still push below the
    # round-robin exchange, so query-side vec_id pruning is unaffected)
    return spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(_dot(a, a))


def _cos4(a: F.Column, b: F.Column) -> F.Column:
    return stable_round(_dot(a, b) / (_norm(a) * _norm(b)), 4)


def _cos4_pre(a: F.Column, b: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    """_cos4 with the operand norms HOISTED to per-row projections.

    Same expression graph over the same doubles (sqrt of the same
    left-to-right dot), so the emitted cosines are bit-identical to
    _cos4's — but a row's norm is computed once per ROW instead of once
    per candidate PAIR. In the K-candidate assignment / top-k joins this
    removes 2/3 of the multiply-aggregate work per pair (guide §2.3:
    don't recompute what a projection can carry)."""
    return stable_round(_dot(a, b) / (na * nb), 4)


_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cos4_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = f"sqrt({_DOT_SQL.format(a=a, b=a)})"
    nb = f"sqrt({_DOT_SQL.format(a=b, b=b)})"
    return stable_round_sql(f"({dot}) / (({na}) * ({nb}))", 4)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 neighbors for the first N_QUERIES vectors.

    The broadcast side is the tiny query set — the big side streams once
    (this is the shape that survives 100x scale-up: queries broadcast,
    corpus scanned, per-query heap via window rank)."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos4_pre(
            F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _cosine_topk_sql() -> str:
    cos = _cos4_sql("q.embedding", "c.embedding")
    return f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cos, rank FROM ranked
        WHERE rank <= {TOP_K} ORDER BY query_id, rank
    """


def _bucket_col(e: F.Column) -> F.Column:
    bits = [
        F.when(F.element_at(e, i + 1) > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        for i in range(SIGN_BITS)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out


def _bucket_sql(e: str) -> str:
    return " + ".join(
        f"(CASE WHEN {e}[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(SIGN_BITS)
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: top-3 neighbors searched ONLY within the query's LSH
    bucket — the join key is the bucket id, so the shuffle moves each vector
    once and skew is bounded by bucket balance."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _bucket_col(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "bucket",
        F.col("nrm").alias("qnrm"),
    )
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        "bucket",
        "nrm",
    )
    scored = (
        q.join(cands, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos4_pre(
                F.col("qe"), F.col("ce"), F.col("qnrm"), F.col("nrm")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
    )


def _lsh_ann_topk_sql() -> str:
    cos = _cos4_sql("q.embedding", "c.embedding")
    return f"""
        WITH b AS (SELECT vec_id, embedding,
                          {_bucket_sql('embedding')} AS bucket FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos
          FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored
        )
        SELECT query_id, neighbor_id, cos, rank FROM ranked
        WHERE rank <= 3 ORDER BY query_id, rank
    """


def _quantize_int8(a: F.Column) -> F.Column:
    """Symmetric int8 quantization: q_i = floor(x_i/scale + 0.5) with
    scale = max|x|/127 — floor(x+0.5) instead of round() because the two
    engines disagree on round-half of doubles, while floor is exact.

    The absmax aggregate is let-bound (bind_once) and the zero-vector branch
    hoisted to ARRAY level: referencing the O(d) aggregate inside the
    per-element transform lambda would duplicate it into each of the d
    elements (O(d^2) work per vector — CSE doesn't reach into HOF lambdas).
    All-zero vector: scale = 0 would give 0/0 = NaN -> NULL longs; an
    all-zero embedding quantizes to all-zero ints."""
    from job_crawler_spark.functions.compat import bind_once

    absmax = F.aggregate(
        a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )

    def quantize(am: F.Column) -> F.Column:
        scale = am / F.lit(127.0)
        return F.when(
            am == F.lit(0.0),
            F.transform(a, lambda x: F.lit(0).cast("long")),
        ).otherwise(
            F.transform(
                a,
                lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast(
                    "long"
                ),
            )
        )

    return bind_once(absmax, quantize)


def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN (the memory-scale path): top-5 neighbors by cosine over
    int8-quantized vectors — 4x smaller corpus residency than float32, the
    standard first step before IVF/PQ at 10^10 vectors. The per-vector
    scales CANCEL in the cosine (s_a*s_b*Σq_aq_b / (s_a|q_a| * s_b|q_b|)),
    so scoring is integer dot / integer norms: bit-exact across engines."""
    def inorm(c: F.Column) -> F.Column:
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
        )

    # integer norm hoisted to a per-row projection (the _cos4_pre
    # rationale: same doubles, computed once per row not per pair)
    emb = _emb(spark, sf_dir).select(
        "vec_id", _quantize_int8(F.col("embedding")).alias("q")
    ).withColumn("qn", inorm(F.col("q")))
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qn").alias("qqn"),
    )
    pairs = emb.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        stable_round(
            idot.cast("double") / (F.col("qqn") * F.col("qn")), 4
        ).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


_Q8_SQL = (
    "list_transform({a}, x -> CASE WHEN"
    " list_max(list_transform({a}, y -> abs(CAST(y AS DOUBLE)))) = 0"
    " THEN CAST(0 AS BIGINT)"
    " ELSE CAST(floor(CAST(x AS DOUBLE) /"
    " (list_max(list_transform({a}, y -> abs(CAST(y AS DOUBLE)))) / 127.0)"
    " + 0.5) AS BIGINT) END)"
)


def _int8_topk_sql() -> str:
    idot = (
        "list_sum(list_transform(range(1, len(x.q) + 1),"
        " i -> x.q[i] * y.q[i]))"
    )
    inorm = (
        "sqrt(CAST(list_sum(list_transform({v}, e -> e * e)) AS DOUBLE))"
    )
    qcos = stable_round_sql(
        f"CAST({idot} AS DOUBLE) / ({inorm.format(v='x.q')} * {inorm.format(v='y.q')})",
        4,
    )
    return f"""
        WITH q8 AS (SELECT vec_id, {_Q8_SQL.format(a='embedding')} AS q
                    FROM embeddings),
        scored AS (
          SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
                 {qcos} AS qcos
          FROM q8 x JOIN q8 y ON y.vec_id <> x.vec_id
          WHERE x.vec_id < {N_QUERIES}
        ),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY qcos DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, qcos, rank FROM r
        WHERE rank <= {TOP_K} ORDER BY query_id, rank
    """


# --- IVF: trained coarse quantizer + nprobe search ---------------------------

K_LISTS = 8        # FLOOR on derived lists (and the tiny-corpus fallback)
K_CAP = 4096       # ceiling on derived lists: the centroid frame stays a
                   # broadcast-sized dim (4096 x dim doubles ~ a few MB)
NPROBE = 2         # floor on derived probe count
SEED_STRIDE = 13   # deterministic seed picks: vec_id = 0, 13, 26, ...
TRAIN_STRIDE = 3   # coarse-quantizer training sample: every 3rd vector ...
TRAIN_CAP = 512    # ... capped at 512 vectors (vec_id < TRAIN_STRIDE*TRAIN_CAP)
BLOCK_TARGET = 128  # members per expansion sub-block (tiled-n^2 task size)


def derived_ivf_params(n_vectors: int, cap: int = K_CAP) -> tuple[int, int]:
    """The FAISS K ~ sqrt(n) rule as CODE (r04 verdict item 3), not a
    docstring: k_lists = clamp(ceil(sqrt(n)), K_LISTS, cap) bounds expected
    list length at n/k ~ sqrt(n), so per-query IVF work is
    O(sqrt(n) * nprobe) and near-dup candidate mass is O(n^1.5) instead of
    O(n^2). k is additionally capped at n // SEED_STRIDE so every seed
    vec_id (0, 13, ..., (k-1)*13) exists in a contiguous-id corpus.
    nprobe = clamp(ceil(k/4), NPROBE, k): probing a constant FRACTION of
    lists keeps recall roughly flat as k grows with the corpus (probing a
    constant COUNT would send recall to zero). Returns (k_lists, nprobe);
    mirrored EXACTLY by the params CTE in _ivf_trained_ctes so Spark and
    the DuckDB oracle always agree at any corpus size."""
    import math

    if n_vectors <= 0:
        return K_LISTS, NPROBE
    r = math.isqrt(n_vectors)
    ceil_sqrt = r if r * r == n_vectors else r + 1
    k = max(K_LISTS, ceil_sqrt)
    k = min(k, cap, max(1, n_vectors // SEED_STRIDE))
    return k, derived_nprobe(k)


def derived_nprobe(k_lists: int) -> int:
    """nprobe = clamp(ceil(k/4), NPROBE, k) — a constant FRACTION of lists."""
    return min(max(NPROBE, -(-k_lists // 4)), k_lists)


def derived_blocks(n_vectors: int, k_lists: int, nprobe: int) -> int:
    """Expansion sub-blocks sized against the EXPECTED list length
    (n * nprobe / k): per-task pair work stays ~ BLOCK_TARGET^2 regardless
    of corpus size. Plan-only — blocking partitions the identical pair
    enumeration, so the result (and the oracle) is independent of B."""
    exp_list = max(1, (n_vectors * nprobe) // max(1, k_lists))
    return max(1, min(64, -(-exp_list // BLOCK_TARGET)))


def _assign_nearest(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a max_by HASH AGGREGATE, not a
    row_number window: the crossJoin leaves each vector's K candidate rows
    co-partitioned, so the partial aggregate collapses them map-side and
    the exchange moves ONE row per vector (window ranking would shuffle K
    full-width copies on vec_id and sort — the first_wins_agg rationale).
    Tiebreak matches the oracle's (cos DESC, cid ASC): max over the
    lexicographic (cos, -cid) pair.

    Norms are hoisted (_cos4_pre): the vector's norm is computed once in
    the pre-join projection and each centroid's once on the K-row
    broadcast side, so the K candidate rows per vector each cost one dot
    instead of one dot plus two norm aggregates — bit-identical cosines."""
    cents = centroids.select(
        "cid", "ce", _norm(F.col("ce")).alias("__cn")
    )
    scored = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("__vn")
    ).crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cid",
        _cos4_pre(
            F.col("embedding"), F.col("ce"), F.col("__vn"), F.col("__cn")
        ).alias("cos"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "embedding"),
                F.struct(F.col("cos").alias("c"), (-F.col("cid")).alias("nc")),
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.embedding").alias("embedding"),
            F.col("best.cid").alias("cid"),
        )
    )


def _ivf_trained_centroids(emb: DataFrame, k_lists: int = K_LISTS) -> DataFrame:
    """One Lloyd step of rounded-mean k-means over a TRAINING SAMPLE:
    deterministic seed vectors -> assign every sampled vector to its nearest
    seed (rounded cosine, centroid-id tiebreak) -> element-wise mean per
    list, each component passed through the dialect-stable rounding so the
    trained centroids are bit-identical across engines. Returns
    (cid, ce: array<double>), K_LISTS rows.

    The sample (vec_id % TRAIN_STRIDE == 0, capped at TRAIN_CAP vectors) is
    the FAISS practice: the coarse quantizer trains on O(K) vectors, not the
    corpus, so training cost is CONSTANT in corpus size — without it the
    Lloyd step costs two extra full-corpus passes and IVF loses to a brute
    scan until the corpus outgrows memory (the r03 small-scale drag)."""
    seeds = emb.filter(
        (F.col("vec_id") % SEED_STRIDE == 0)
        & (F.col("vec_id") < k_lists * SEED_STRIDE)
    ).select(
        (F.col("vec_id") / SEED_STRIDE).cast("int").alias("cid"),
        F.col("embedding").alias("ce"),
    )
    train = emb.filter(
        (F.col("vec_id") % TRAIN_STRIDE == 0)
        & (F.col("vec_id") < TRAIN_STRIDE * TRAIN_CAP)
    )
    a1 = _assign_nearest(train, seeds)
    return (
        a1.select("cid", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(stable_round(F.avg(F.col("v").cast("double")), 4).alias("cv"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("s"))
        .select("cid", F.transform("s", lambda x: x["cv"]).alias("ce"))
    )


def q_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k_lists: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF ANN — the classic 10^10-vector scale path (coarse quantizer +
    inverted lists, the structure under FAISS IVF indexes): train K_LISTS
    centroids (one rounded-mean Lloyd step from deterministic seeds),
    assign the corpus to inverted lists, then for each query search only
    its NPROBE nearest lists.

    Scale shape: centroids are a broadcast (K rows); the corpus streams
    ONCE through assignment; candidate generation is a broadcast join of
    the tiny (query, cid) probe set against the list-keyed corpus — the
    list id is the only shuffle key, and per-query work is corpus/K *
    NPROBE instead of the brute-force full scan. The tiny trained/probe
    frames are localCheckpointed so the list join never self-joins shared
    computed lineage (the repo's dropped-row-flake policy).

    k_lists/nprobe default to derived_ivf_params(corpus count) — the
    K ~ sqrt(n) rule in code; pass explicit values to pin them. The count
    is a parquet-metadata aggregate (footer row counts), not a data scan."""
    emb = _emb(spark, sf_dir)
    if k_lists is None:
        k_lists, _ = derived_ivf_params(emb.count())
    if nprobe is None:
        nprobe = derived_nprobe(k_lists)
    trained = tracked_local_checkpoint(_ivf_trained_centroids(emb, k_lists))

    # inverted lists: corpus -> nearest trained centroid (max_by hash agg,
    # one streamed corpus pass, list id the only downstream shuffle key)
    lists = _assign_nearest(emb, trained)

    # probe set: each query's NPROBE nearest trained centroids
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cid").asc()
    )
    probe = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
        .crossJoin(F.broadcast(trained))
        .select("query_id", "qe", "cid", _cos4(F.col("qe"), F.col("ce")).alias("cos"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qe", _norm(F.col("qe")).alias("qnrm"), "cid")
    )
    probe = tracked_local_checkpoint(probe)

    # candidate scoring with hoisted norms (_cos4_pre): the corpus norm is
    # one per list row, the query norm rides the checkpointed probe frame
    scored = (
        lists.withColumn("nrm", _norm(F.col("embedding")))
        .join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos4_pre(
                F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
            ).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )
    # trained/probe checkpoint blocks must outlive this (lazy) result, so
    # they can't be unpersisted here; expose them for callers that consume
    # the result repeatedly (bench loops) to release via release_checkpoints.
    out._graft_checkpoints = [trained, probe]
    return out


def _ivf_trained_ctes() -> str:
    """Shared DuckDB CTE block computing the trained coarse quantizer
    (seeds -> sampled Lloyd step -> rounded-mean centroids), mirroring
    _ivf_trained_centroids exactly. The ``params`` CTE derives k_lists and
    nprobe from COUNT(*) with the SAME clamp arithmetic as
    derived_ivf_params/derived_nprobe (k = clamp(ceil(sqrt(n)), K_LISTS,
    min(K_CAP, n // SEED_STRIDE)); np = clamp(ceil(k/4), NPROBE, k)), so
    the oracle tracks the Spark defaults at any corpus size. Ends without
    a trailing comma."""
    cos_seed = _cos4_sql("e.embedding", "s.ce")
    avg4 = stable_round_sql("AVG(CAST(v AS DOUBLE))", 4)
    return f"""
        params AS (
          SELECT k, LEAST(GREATEST(CAST(CEIL(k / 4.0) AS BIGINT), {NPROBE}), k) AS np
          FROM (
            SELECT LEAST(
                     GREATEST(CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT),
                              {K_LISTS}),
                     {K_CAP},
                     GREATEST(COUNT(*) // {SEED_STRIDE}, 1)
                   ) AS k
            FROM embeddings
          )
        ),
        seeds AS (
          SELECT CAST(vec_id / {SEED_STRIDE} AS INT) AS cid, embedding AS ce
          FROM embeddings
          WHERE vec_id % {SEED_STRIDE} = 0
            AND vec_id < (SELECT k FROM params) * {SEED_STRIDE}
        ),
        a1 AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, s.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {cos_seed} DESC, s.cid ASC) AS r
            FROM embeddings e CROSS JOIN seeds s
            WHERE e.vec_id % {TRAIN_STRIDE} = 0
              AND e.vec_id < {TRAIN_STRIDE * TRAIN_CAP}
          ) WHERE r = 1
        ),
        comp0 AS (
          SELECT cid, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i
          FROM a1
        ),
        comp AS (
          SELECT cid, i - 1 AS dim, embedding[i] AS v FROM comp0
        ),
        tc AS (
          SELECT cid, dim, {avg4} AS cv FROM comp GROUP BY cid, dim
        ),
        trained AS (
          SELECT cid, list(cv ORDER BY dim) AS ce FROM tc GROUP BY cid
        )"""


def _ivf_topk_sql() -> str:
    cos_list = _cos4_sql("e.embedding", "t.ce")
    cos_probe = _cos4_sql("q.embedding", "t.ce")
    cos_final = _cos4_sql("p.qe", "l.embedding")
    return f"""
        WITH {_ivf_trained_ctes()},
        lists AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {cos_list} DESC, t.cid ASC) AS r
            FROM embeddings e CROSS JOIN trained t
          ) WHERE r = 1
        ),
        probe AS (
          SELECT query_id, qe, cid FROM (
            SELECT q.vec_id AS query_id, q.embedding AS qe, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY {cos_probe} DESC, t.cid ASC) AS r
            FROM embeddings q CROSS JOIN trained t
            WHERE q.vec_id < {N_QUERIES}
          ) p0 WHERE r <= (SELECT np FROM params)
        ),
        scored AS (
          SELECT p.query_id, l.vec_id AS neighbor_id, {cos_final} AS cos
          FROM lists l JOIN probe p USING (cid)
          WHERE l.vec_id <> p.query_id
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cos, rank FROM ranked
        WHERE rank <= {TOP_K} ORDER BY query_id, rank
    """


def q_neardup_pairs_ann(
    spark: SparkSession,
    sf_dir: str,
    k_lists: int | None = None,
    nprobe: int | None = None,
    blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a<b, cos >= tau) — the 100x-scale
    path: candidates from the trained IVF coarse quantizer (each vector
    replicated into its NPROBE=2 nearest lists; a pair is a candidate iff
    the two vectors share a list), then EXACT cosine >= tau verification.
    Precision is 1 by construction (every emitted pair is exact-verified);
    recall is the LSH tradeoff, measured against the O(n^2) baseline in
    tests/test_properties.py and rising with pair similarity (the closer
    the near-dup, the more certainly it shares a list).

    Scale shape, vs an O(n^2) crossJoin: centroids are a K-row
    broadcast; multi-assignment is one streamed corpus pass collapsed
    map-side (sorted-struct aggregate, no window); pair generation is
    JOIN-FREE bucket-local i<j expansion per list (the minhash-LSH
    pattern — one aggregation shuffle on the list id, fan-out bounded by
    list size ~ n*NPROBE/K), never a self-join over shared computed
    lineage.

    Within a list the i<j enumeration is BLOCKED (classic tiled n^2):
    members hash into ``blocks`` sub-blocks per list, the blocks of a
    list join pairwise on the list id (b1 <= b2, shuffle-hash over the
    checkpointed block frame — never shared live lineage), and each
    (b1, b2) combo expands either i<j (diagonal) or full cross
    (off-diagonal) in its own task. Blocking partitions the exact same
    pair enumeration — the emitted set and cosines are bit-identical to
    the unblocked form — but caps per-task work/memory at
    O((list/B)^2)/O(list/B) instead of O(list^2)/O(list) and lifts
    parallelism from K to K*B*(B+1)/2, so K no longer has to grow with
    the corpus to keep single tasks (and the collect_list row, 2 GB
    array cap) bounded; FAISS-style K ~ sqrt(n) remains the knob that
    bounds TOTAL candidate work. Data amplification through the block
    join is (B+1)x the list payload — second-order next to the pair
    compute it spreads.

    k_lists/nprobe default to derived_ivf_params(corpus count) and blocks
    to derived_blocks(...) — the K ~ sqrt(n) and task-size rules in code;
    pass explicit values to pin them."""
    emb = _emb(spark, sf_dir)
    if k_lists is None or blocks is None:
        n_vectors = emb.count()
        if k_lists is None:
            k_lists, _ = derived_ivf_params(n_vectors)
        if nprobe is None:
            nprobe = derived_nprobe(k_lists)
        if blocks is None:
            blocks = derived_blocks(n_vectors, k_lists, nprobe)
    elif nprobe is None:
        nprobe = derived_nprobe(k_lists)
    trained = tracked_local_checkpoint(_ivf_trained_centroids(emb, k_lists))

    # per-vector prep ONCE: double-cast components + the vector's norm —
    # every candidate pair then costs one dot and one division instead of
    # re-deriving two norms (same doubles as _cos4 computes inline, so the
    # emitted cosines are bit-identical to the baseline's / the oracle's)
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ed"),
        _norm(F.col("embedding")).alias("nrm"),
        "embedding",
    )
    # assignment scoring reuses base's per-row norm and a per-centroid norm
    # on the K-row broadcast side (_cos4_pre: bit-identical cosines, 1/3 of
    # the per-candidate aggregate work)
    cents = trained.select("cid", "ce", _norm(F.col("ce")).alias("__cn"))
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "ed",
        "nrm",
        "cid",
        _cos4_pre(
            F.col("embedding"), F.col("ce"), F.col("nrm"), F.col("__cn")
        ).alias("cos"),
    )
    # top-NPROBE lists per vector as a sorted-struct HASH AGGREGATE (the
    # _assign_nearest rationale, generalized from argmax to top-n): the K
    # candidate rows collapse map-side, one row per vector crosses the
    # exchange. Tiebreak (cos DESC, cid ASC) == struct (-cos, cid) ASC.
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("cos")).alias("nc"), F.col("cid").alias("cid"))
                    )
                ),
                1,
                nprobe,
            ).alias("top"),
            F.first("ed").alias("ed"),
            F.first("nrm").alias("nrm"),
        )
        .select("vec_id", "ed", "nrm", F.explode("top.cid").alias("cid"))
    )
    block_frame = tracked_local_checkpoint(
        assigned.withColumn(
            "blk", F.pmod(F.hash("vec_id"), F.lit(blocks))
        )
        .groupBy("cid", "blk")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("v"),
                        F.col("ed").alias("e"),
                        F.col("nrm").alias("n"),
                    )
                )
            ).alias("vs")
        )
    )
    # block-pair tasks: diagonal (b1 == b2) expands i<j inside one sorted
    # block; off-diagonal (b1 < b2) expands the full cross of two blocks.
    # Equi-join on the list id over the CHECKPOINTED frame (materialized
    # RDD on both sides — the shared-live-lineage self-join hazard the
    # minhash rewrite documented does not apply), shuffle-hash hinted so
    # no sort ever materializes.
    combos = (
        block_frame.select(
            "cid", F.col("blk").alias("b1"), F.col("vs").alias("vs1")
        )
        .join(
            block_frame.select(
                "cid", F.col("blk").alias("b2"), F.col("vs").alias("vs2")
            ).hint("shuffle_hash"),
            "cid",
        )
        .filter(F.col("b1") <= F.col("b2"))
    )
    vs1, vs2 = F.col("vs1"), F.col("vs2")

    def pair_cos(x: F.Column, y: F.Column) -> F.Column:
        dot = F.aggregate(
            F.zip_with(x["e"], y["e"], lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
        return stable_round(dot / (x["n"] * y["n"]), 4)

    # expansion emits SCALAR (a, b, cos) structs — the cosine is computed
    # in place and the tau filter applied before the explode, so neither
    # full embeddings nor sub-threshold pairs are ever materialized in the
    # expanded array (the first cut copied both vectors into every
    # candidate struct: ~100 MB single rows and a 10x slowdown at sf0.1).
    # least/greatest keep (a, b) ordered for off-diagonal combos, where the
    # two blocks' sort orders say nothing about cross-block id order; the
    # cosine is direction-independent (same element order in the zip).
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                vs1,
                lambda x, i: F.transform(
                    F.when(
                        F.col("b1") == F.col("b2"),
                        F.slice(vs2, i + F.lit(2), F.size(vs2)),
                    ).otherwise(vs2),
                    lambda y: F.struct(
                        F.least(x["v"], y["v"]).alias("a"),
                        F.greatest(x["v"], y["v"]).alias("b"),
                        pair_cos(x, y).alias("cos"),
                    ),
                ),
            )
        ),
        lambda p: p["cos"] >= NEARDUP_TAU,
    )
    out = (
        combos.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b", "p.cos")
        # a pair sharing BOTH probe lists is generated twice (same cos —
        # deterministic arithmetic), dedup before emitting
        .distinct()
        .orderBy("a", "b")
    )
    out._graft_checkpoints = [trained, block_frame]
    return out


def _neardup_ann_sql() -> str:
    cos_assign = _cos4_sql("e.embedding", "t.ce")
    cos_pair = _cos4_sql("x.embedding", "y.embedding")
    return f"""
        WITH {_ivf_trained_ctes()},
        assigned AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {cos_assign} DESC, t.cid ASC) AS r
            FROM embeddings e CROSS JOIN trained t
          ) WHERE r <= (SELECT np FROM params)
        )
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b, {cos_pair} AS cos
        FROM assigned x JOIN assigned y
          ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE {cos_pair} >= {NEARDUP_TAU}
        ORDER BY a, b
    """


# --- distributed dense linear algebra: Gram matrix (A^T A) ------------------


def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix G = A^T A over the embedding corpus — the
    distributed dense-linear-algebra operator class (PCA/whitening,
    covariance-based outlier pruning, low-rank embedding compression: the
    standard preprocessing passes a training-data pipeline runs over an
    embedding column before similarity search).

    Shape, join-free: each row expands its OWN d(d+1)/2 upper-triangle
    products in-row via nested higher-order transforms (slice from the
    diagonal, so i <= j by construction — no self-join on vec_id, no
    (n*d) x (n*d) key explosion), then ONE hash aggregate on (i, j) sums
    them. The key space is d(d+1)/2 = 2,080 cells for d=64 regardless of
    corpus size, so map-side partial_sum collapses every task's output to
    <= 2,080 rows before the exchange: at 10^10 rows the shuffle carries
    tasks x 2,080 partial cells, not n x d^2 products. The d x d result
    is driver-sized by construction — the honest version of "collect is
    fine here" (cf. the bloom-shard control-plane collects).

    Cross-engine determinism: float32 components cast to double (exact)
    before multiplying; the cross-row SUM is order-dependent in its final
    ulps like every float aggregate here (the label-centroid AVG pattern),
    absorbed by the dialect-stable 4-digit rounding.
    """
    from job_crawler_spark.operators.linalg import gram_upper

    return (
        gram_upper(_emb(spark, sf_dir).select("embedding"))
        .select("i", "j", stable_round(F.col("g"), 4).alias("gram"))
        .orderBy("i", "j")
    )


def _gram_matrix_sql() -> str:
    g4 = stable_round_sql("SUM(p)", 4)
    return f"""
        WITH d0 AS (
          SELECT embedding,
                 unnest(range(1, len(embedding) + 1)) AS gi
          FROM embeddings
        ),
        d1 AS (
          SELECT gi, CAST(embedding[gi] AS DOUBLE) AS x, embedding,
                 unnest(range(gi, len(embedding) + 1)) AS gj
          FROM d0
        ),
        cells AS (
          SELECT gi - 1 AS i, gj - 1 AS j,
                 x * CAST(embedding[gj] AS DOUBLE) AS p
          FROM d1
        )
        SELECT i, j, {g4} AS gram
        FROM cells GROUP BY i, j ORDER BY i, j
    """


QUERIES = {
    "emb_neardup_pairs_ann": q_neardup_pairs_ann,
    "emb_ivf_topk": q_ivf_topk,
    "emb_cosine_topk": q_cosine_topk,
    "emb_int8_topk": q_int8_topk,
    "emb_lsh_ann_topk": q_lsh_ann_topk,
    "emb_gram_matrix": q_gram_matrix,
}

ORACLES = {
    "emb_neardup_pairs_ann": _neardup_ann_sql(),
    "emb_ivf_topk": _ivf_topk_sql(),
    "emb_cosine_topk": _cosine_topk_sql(),
    "emb_int8_topk": _int8_topk_sql(),
    "emb_lsh_ann_topk": _lsh_ann_topk_sql(),
    "emb_gram_matrix": _gram_matrix_sql(),
}

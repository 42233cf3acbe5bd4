"""Text-analysis & dedup plans over the ``documents`` table.

Training-data pipeline operators, each with a DuckDB oracle:

- feature extraction (the reference parser's vocab semantics,
  main.py:246-358, over the driver documents' text)
- BPE pair statistics and merges, token-window chunking
- quality scoring (length / punctuation / stopword ratios)
- language guess (marker-word n-gram heuristic with deterministic argmax)
- n-gram Jaccard near-dup pairs (3-gram shingles, explode + self-join)
- MinHash + LSH banding candidate pairs

Determinism across engines: hashing is MD5 (identical everywhere),
MinHash minima are lexicographic MINs over hex strings (no integer
conversion — avoids dialect-specific hex parsing), all arrays use 1-based
``element_at`` / ``t[i]`` indexing which Spark and DuckDB share.

Scale notes: every operator is one shuffle (hash aggregate or shingle
self-join). The shingle join's fan-out is bounded by dropping shingles that
occur in > MAX_DF docs (stop-shingles contribute O(df^2) candidate pairs but
carry no near-dup signal — standard LSH/SSJ trick); at 100 TB the MinHash-LSH
path replaces the exact shingle join entirely, and band buckets are the only
shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_crawler_spark.functions.text import TECH_KEYWORDS

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")
LANG_MARKERS = {
    "en": ("the", "and", "is", "fast", "small"),
    "de": ("der", "die", "und", "schnell", "klein"),
    "es": ("el", "la", "y", "rapido", "pequeno"),
}
NGRAM = 3
MINHASH_SEEDS = 16
LSH_BANDS = 4  # 4 bands x 4 rows
MAX_DF = 200  # stop-shingle cutoff for the exact jaccard join


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tokens_col() -> F.Column:
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


_TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


# --- feature extraction over driver documents --------------------------------

def q_doc_tech_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F5: exploded (doc_id, tech) hits over the jobs-derived corpus
    (descriptions DO contain vocab words, so the check is non-vacuous —
    ref extract_tech_stack scans description OR title, main.py:296-311).
    Vocabulary-order preserved by construction (filter over the literal
    vocab array); plain-substring match, faithfully NOT word-boundary."""
    from job_crawler_spark.plans.relational import jobs_df

    vocab = F.array(*[F.lit(k) for k in TECH_KEYWORDS])
    desc = F.lower(F.col("description"))
    title = F.lower(F.col("title"))
    return (
        jobs_df(spark, sf_dir)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(
                F.filter(vocab, lambda t: desc.contains(t) | title.contains(t))
            ).alias("tech"),
        )
        .orderBy("doc_id", "tech")
    )


_VOCAB_SQL = "[" + ", ".join(f"'{k}'" for k in TECH_KEYWORDS) + "]"


def _doc_tech_stack_sql() -> str:
    from job_crawler_spark.plans.relational import JOBS_SQL

    return f"""
    WITH j AS ({JOBS_SQL})
    SELECT id AS doc_id,
           unnest(list_filter({_VOCAB_SQL},
                  x -> contains(lower(description), x)
                       OR contains(lower(title), x))) AS tech
    FROM j ORDER BY doc_id, tech
"""


Q_DOC_TECH_STACK_SQL = _doc_tech_stack_sql()


# --- overlapping token-window chunking (RAG / embedding prep) -----------------

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_OVERLAP = 8  # tokens shared with the previous chunk


def chunk_documents(
    docs: DataFrame, *, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Split each document into overlapping ``size``-token windows with
    stride ``size - overlap`` — the chunking primitive every
    RAG/embedding-index pipeline runs before embedding (LangChain/
    LlamaIndex-style sliding windows, re-expressed as one narrow Spark
    stage). No reference counterpart (ref main.py stores whole
    descriptions); this is a first-class LLM-pipeline op like
    doc_pack_stats.

    Contract (integer-exact, engine-portable):

    - tokenization = the corpus-normalized whitespace split every textops
      operator uses (``lower(trim(text))`` split on ``\\s+``); documents
      whose trimmed text is empty produce no chunks;
    - ``n_chunks = 1`` if ``n_tok <= size`` else
      ``1 + ceil((n_tok - size) / stride)`` — the last chunk covers the
      tail and a chunk is never a pure suffix of its predecessor;
    - chunk ``i`` covers tokens ``[i*stride, min(i*stride + size, n_tok))``
      (0-based, end-exclusive), emitted as ``tok_start``/``tok_end`` so a
      downstream join can recover provenance exactly;
    - ``chunk_text`` re-joins the window with single spaces (offsets are
      token offsets by design: whitespace-run information is already
      normalized away by the shared tokenizer).

    Scale shape: ONE corpus scan -> narrow explode; fan-out per row is
    ``~n_tok/stride`` (bounded by the corpus token count, not a join), no
    shuffle anywhere in the operator itself — at 100 TB this is a pure
    map stage that pipelines into the downstream embed/write without a
    boundary. All JVM (split/sequence/explode/slice/array_join); zero
    Python.
    """
    if not 0 <= overlap < size:
        raise ValueError("require 0 <= overlap < size")
    stride = size - overlap
    base = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        _tokens_col().alias("toks"),
        F.size(_tokens_col()).alias("n_tok"),
    )
    # integer-exact ceil division (DIV), matching the oracle bit-for-bit
    n_chunks = (
        F.when(F.col("n_tok") <= size, F.lit(1))
        .otherwise(
            F.lit(1)
            + F.expr(f"(n_tok - {size} + {stride - 1}) DIV {stride}")
        )
        .cast("int")
    )
    start = (F.col("chunk_id") * stride).cast("int")
    end = F.least(start + size, F.col("n_tok")).cast("int")
    return (
        base.select(
            "doc_id",
            "toks",
            "n_tok",
            F.explode(
                F.sequence(F.lit(0), n_chunks - F.lit(1))
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            start.alias("tok_start"),
            end.alias("tok_end"),
            (end - start).alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("toks"), start + F.lit(1), F.lit(size)), " "
            ).alias("chunk_text"),
        )
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated chunking over ``documents`` at the module defaults."""
    return chunk_documents(_docs(spark, sf_dir)).orderBy(
        "doc_id", "chunk_id"
    )


def _doc_chunks_sql(
    size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP
) -> str:
    stride = size - overlap
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks, len({_TOKENS_SQL}) AS n_tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (
      SELECT doc_id, toks, n_tok,
             CASE WHEN n_tok <= {size} THEN 1
                  ELSE 1 + (n_tok - {size} + {stride - 1}) // {stride}
             END AS n_chunks
      FROM t
    ),
    e AS (
      SELECT doc_id, toks, n_tok, CAST(g.i AS INTEGER) AS chunk_id
      FROM c, unnest(generate_series(0, n_chunks - 1)) AS g(i)
    )
    SELECT doc_id, chunk_id,
           CAST(chunk_id * {stride} AS INTEGER) AS tok_start,
           CAST(LEAST(chunk_id * {stride} + {size}, n_tok)
                AS INTEGER) AS tok_end,
           CAST(LEAST(chunk_id * {stride} + {size}, n_tok)
                - chunk_id * {stride} AS INTEGER) AS n_chunk_tokens,
           array_to_string(
             toks[chunk_id * {stride} + 1
                  : LEAST(chunk_id * {stride} + {size}, n_tok)],
             ' ') AS chunk_text
    FROM e ORDER BY doc_id, chunk_id
"""


BPE_TOP_K = 50  # merge candidates reported (rank <= K)


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training statistics: the first BPE merge iteration's
    adjacent-symbol pair counts (Sennrich, Haddow & Birch, ACL 2016)
    over the corpus, reported as the top-``BPE_TOP_K`` merge candidates.
    The brief's "BPE-ish token counting" as a first-class operator: a
    subword tokenizer is trained on exactly these counts, and every LLM
    data pipeline computes them before anything else touches tokens. No
    reference counterpart (ref main.py never tokenizes below words).

    Contract (integer-exact, engine-portable): words are the shared
    corpus tokenizer (``lower(trim(text))`` split on whitespace), words
    shorter than 2 chars contribute no pairs, the symbol alphabet is
    single characters (no end-of-word marker — stated contract, applied
    identically in the oracle), a pair occurrence is each adjacent char
    position in each word occurrence ("aaa" x5 contributes 10 to "aa"),
    ``n_word_types`` counts distinct words containing the pair, and the
    ranking tie-break is (pair_count DESC, pair ASC) so the top-K set is
    deterministic across engines.

    Scale shape — the real-BPE-trainer shape: the corpus collapses to
    the word-frequency dict FIRST (one map-side-combinable hash
    aggregate; vocab-sized output, Zipf-collapsed far below the corpus),
    and every subsequent step — pair explode (fan-out = word length,
    bounded by max word length, not corpus size), pair aggregate —
    operates on the VOCAB, never the corpus. The ranking window's
    single-partition exchange moves only the aggregated pair frame,
    bounded by the squared character alphabet (~1-2k rows at ANY corpus
    size), which is why a global row_number is safe here and nowhere
    else. Everything JVM-side; zero Python.
    """
    wf = (
        _docs(spark, sf_dir)
        .select(F.explode(_tokens_col()).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wf.select(
        "w",
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("cnt").alias("pair_count"),
        F.countDistinct("w").alias("n_word_types"),
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    )
    return (
        agg.withColumn("rank", rnk)
        .filter(F.col("rank") <= BPE_TOP_K)
        .select("rank", "pair", "pair_count", "n_word_types")
        .orderBy("rank")
    )


def _bpe_pair_stats_sql(top_k: int = BPE_TOP_K) -> str:
    return f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    wf AS (
      SELECT w, COUNT(*) AS cnt FROM toks
      WHERE length(w) >= 2 GROUP BY w
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> w[i:i+1])) AS pair,
             cnt, w
      FROM wf
    ),
    a AS (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count,
             COUNT(DISTINCT w) AS n_word_types
      FROM p GROUP BY pair
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair ASC)
                AS rank
      FROM a
    )
    SELECT rank, pair, pair_count, n_word_types FROM r
    WHERE rank <= {top_k} ORDER BY rank
"""


BPE_MERGE_STEPS = 6  # greedy merge iterations learned


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE trainer (Sennrich, Haddow & Birch, ACL 2016
    algorithm 1): ``BPE_MERGE_STEPS`` greedy merge iterations over the
    corpus — each step counts adjacent-symbol pairs (weighted by word
    frequency, every adjacent position counts, exactly
    ``bpe_pair_stats``'s contract), picks the argmax with the
    deterministic (count DESC, left ASC, right ASC) tie-break, and
    applies the merge leftmost-non-overlapping to every word's symbol
    sequence. Output is the learned merge table (step, left_sym,
    right_sym, pair_count); if the corpus exhausts (no pairs remain)
    the remaining steps emit no rows in both engines. Completes the
    tokenizer story ``bpe_pair_stats`` opens: that query is this one's
    step 1. No reference counterpart (ref main.py never tokenizes
    below words).

    Merge application is engine-portable single-pass string rewriting:
    symbol sequences are encoded with single outer guards and DOUBLE
    inner separators (`` a  b  c ``), and the merge is the standard SQL
    ``replace(syms, ' l  r ', ' lr ')``. The double separator is what
    makes one left-to-right non-overlapping pass correct on runs: each
    match consumes only the two spaces INSIDE the pair, and the match's
    restored trailing space plus the untouched neighbor separator
    rebuild the next candidate's leading boundary (`` a  a  a  a `` ->
    `` aa  aa `` in one pass — a shared single separator would drop the
    second match). Outer guards stop partial-symbol matches ("b  a"
    can never match inside "ab  a"). Both engines' ``replace`` is the
    same leftmost-non-overlapping scan, equal by construction to the
    fold semantics of the reference algorithm.

    Scale shape — the real distributed-BPE-trainer shape: ONE corpus
    scan collapses to the word-frequency dict; every iteration is
    vocab-shaped (pair explode fan-out bounded by max word length, pair
    aggregate bounded by the live symbol alphabet squared, argmax a
    TakeOrdered over that). The 1-row argmax NEVER visits the driver —
    it is localCheckpointed and broadcast-crossJoined back onto the
    vocab for the rewrite, and the vocab is re-checkpointed per step so
    the iterative lineage stays flat (the graph-operator precedent).
    All integer arithmetic, zero Python, zero driver collects.
    """
    from functools import reduce

    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    tops, _vocab, ckpts = bpe_train(spark, sf_dir)
    steps = [
        top.select(
            F.lit(step).alias("step"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("pc").alias("pair_count"),
        )
        for step, top in enumerate(tops, start=1)
    ]
    out = reduce(DataFrame.unionByName, steps).orderBy("step")
    out._graft_checkpoints = ckpts
    return out


def bpe_train(
    spark: SparkSession, sf_dir: str, k: int = BPE_MERGE_STEPS
) -> tuple[list[DataFrame], DataFrame, list[DataFrame]]:
    """Run the k-step trainer loop; returns (per-step 1-row argmax
    frames, final symbolized vocab, all checkpointed frames to
    release). Every frame in the loop is localCheckpointed so the
    iterative lineage stays flat."""
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    vocab = tracked_local_checkpoint(bpe_symbolized_vocab(spark, sf_dir))
    ckpts = [vocab]
    tops = []
    for _step in range(k):
        top = tracked_local_checkpoint(bpe_pair_argmax(vocab))
        ckpts.append(top)
        tops.append(top)
        vocab = tracked_local_checkpoint(bpe_apply_merge(vocab, top))
        ckpts.append(vocab)
    return tops, vocab, ckpts


def bpe_symbolized_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, cnt, syms) word-frequency dict with guard/double-separator
    symbol encoding — one corpus scan, one map-side-combined hash agg."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.expr(
                "concat(' ', array_join(transform(sequence(1, length(w)),"
                " i -> substring(w, i, 1)), '  '), ' ')"
            ).alias("syms"),
        )
    )


def bpe_pair_argmax(vocab: DataFrame) -> DataFrame:
    """1-row (l, r, pc) argmax of frequency-weighted adjacent-pair
    counts over the current symbolization; deterministic tie-break."""
    pairs = (
        vocab.select(
            "cnt", F.split(F.trim(F.col("syms")), "  ").alias("sl")
        )
        .filter(F.size("sl") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sl) - 1),"
                    " i -> struct(element_at(sl, i) AS l,"
                    "             element_at(sl, i + 1) AS r))"
                )
            ).alias("b"),
        )
        .select("cnt", "b.l", "b.r")
    )
    return (
        pairs.groupBy("l", "r")
        .agg(F.sum("cnt").alias("pc"))
        .orderBy(F.col("pc").desc(), F.col("l").asc(), F.col("r").asc())
        .limit(1)
    )


def bpe_apply_merge(vocab: DataFrame, top: DataFrame) -> DataFrame:
    """Rewrite every symbol sequence with the merge — broadcast LEFT
    join of the at-most-1-row argmax, single-pass replace (see the
    q_bpe_learn_merges docstring for why one pass is correct). LEFT
    (not cross) so merge exhaustion passes the vocab through unchanged
    instead of annihilating it — the merge-table output is identical
    either way (no pairs -> empty argmax forever) but the tokenizer
    apply (`doc_bpe_tokens`) needs the surviving vocab."""
    return vocab.join(F.broadcast(top), F.lit(True), "left").select(
        "w",
        "cnt",
        F.coalesce(
            F.expr(
                "replace(syms, concat(' ', l, '  ', r, ' '),"
                " concat(' ', l, r, ' '))"
            ),
            F.col("syms"),
        ).alias("syms"),
    )


def _bpe_train_ctes(k: int = BPE_MERGE_STEPS) -> str:
    """The unrolled k-layer trainer as DuckDB CTE text (shared by the
    merge-table and tokenizer-apply oracles): each layer counts pairs
    over v{s-1}, takes the deterministic argmax t{s}, and rewrites into
    v{s} via LEFT JOIN ON TRUE + coalesce (exhaustion passes the vocab
    through unchanged — mirror of bpe_apply_merge)."""
    parts = [
        f"toks AS (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)",
        "wf AS (SELECT w, COUNT(*) AS cnt FROM toks"
        " WHERE w <> '' GROUP BY w)",
        "v0 AS (SELECT w, cnt,"
        " ' ' || array_to_string(list_transform("
        "range(1, length(w) + 1), i -> w[i:i]), '  ') || ' ' AS syms"
        " FROM wf)",
    ]
    for s in range(1, k + 1):
        parts.append(
            f"p{s} AS (SELECT cnt,"
            " unnest(list_transform(range(1, len(sl)),"
            " i -> {'l': sl[i], 'r': sl[i + 1]})) AS b"
            f" FROM (SELECT cnt, string_split(trim(syms), '  ') AS sl"
            f" FROM v{s - 1}))"
        )
        parts.append(
            f"t{s} AS (SELECT b['l'] AS l, b['r'] AS r,"
            " CAST(SUM(cnt) AS BIGINT) AS pc"
            f" FROM p{s} GROUP BY 1, 2"
            " ORDER BY pc DESC, l ASC, r ASC LIMIT 1)"
        )
        parts.append(
            f"v{s} AS (SELECT v.w, v.cnt,"
            " coalesce(replace(v.syms, ' ' || t.l || '  ' || t.r || ' ',"
            " ' ' || t.l || t.r || ' '), v.syms) AS syms"
            f" FROM v{s - 1} v LEFT JOIN t{s} t ON TRUE)"
        )
    return ",\n        ".join(parts)


def _bpe_learn_merges_sql(k: int = BPE_MERGE_STEPS) -> str:
    selects = "\n        UNION ALL ".join(
        f"SELECT CAST({s} AS INT) AS step, l AS left_sym,"
        f" r AS right_sym, pc AS pair_count FROM t{s}"
        for s in range(1, k + 1)
    )
    return f"""
        WITH {_bpe_train_ctes(k)}
        {selects}
        ORDER BY step
"""


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: segment every document with the
    ``BPE_MERGE_STEPS``-merge BPE model trained by ``bpe_learn_merges``
    on the same corpus, and report per-doc subword-token counts and the
    chars-per-token compression ratio — the number an LLM pipeline
    needs from its tokenizer for packing, pricing, and length budgets
    (and the standard tokenizer-quality metric). Closes the loop:
    ``bpe_pair_stats`` (step-1 counts) -> ``bpe_learn_merges`` (the
    trained merge table) -> this (the corpus tokenized with it).

    Contract: words as the shared corpus tokenizer (empties dropped);
    a word's subword count is the symbol count of its fully-merged
    sequence (single-char words are 1 symbol and never merge); doc
    rows exist for docs with >= 1 word; ``chars_per_token`` is
    sum(len(word)) / sum(subwords) stable-rounded at 6 (a single
    division of exact integers — bit-identical across engines).

    Scale shape: the trainer loop is vocab-shaped throughout (see
    q_bpe_learn_merges); the apply is ONE second corpus pass — explode
    words, join the (word -> symbol-count) dict (vocab-shaped:
    broadcast at gate scale via AQE, shuffle-hash on the word key at
    web scale), and a map-side-combinable per-doc aggregate. Integer
    arithmetic end to end; zero Python; no driver collects.
    """
    from job_crawler_spark.functions.compat import stable_round

    _tops, vocab, ckpts = bpe_train(spark, sf_dir)
    seg = vocab.select(
        "w",
        F.size(F.split(F.trim(F.col("syms")), "  ")).alias("n_sym"),
    )
    words = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens_col()).alias("w"))
        .filter(F.col("w") != "")
    )
    out = (
        words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("n_sym").alias("n_subword_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_subword_tokens",
            stable_round(
                F.col("n_chars") / F.col("n_subword_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )
    out._graft_checkpoints = ckpts
    return out


def _doc_bpe_tokens_sql(k: int = BPE_MERGE_STEPS) -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    ratio = stable_round_sql(
        "n_chars / CAST(n_subword_tokens AS DOUBLE)", 6
    )
    return f"""
        WITH {_bpe_train_ctes(k)},
        seg AS (
          SELECT w, len(string_split(trim(syms), '  ')) AS n_sym
          FROM v{k}
        ),
        words AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
        ),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_words,
                 CAST(SUM(length(w)) AS BIGINT) AS n_chars,
                 CAST(SUM(n_sym) AS BIGINT) AS n_subword_tokens
          FROM words JOIN seg USING (w)
          WHERE w <> ''
          GROUP BY doc_id
        )
        SELECT doc_id, n_words, n_chars, n_subword_tokens,
               {ratio} AS chars_per_token
        FROM agg ORDER BY doc_id
    """


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style salient terms: per-doc top-3 by tf * (N/df).

    The rational surrogate N/df replaces ln(N/df) deliberately: IEEE
    division/multiplication are correctly rounded and therefore
    bit-identical across engines, while ln() differs in the last ulp
    between libm and the JVM — which could flip a rank at a near-tie and
    fail the exact value-hash gate. Monotone in the same direction, so the
    top-k set is the classic TF-IDF one for any fixed tf. Two shuffles
    (doc-term agg, term df agg) + one broadcast join — at corpus scale df
    is tiny (vocab-sized) and broadcasts."""
    from job_crawler_spark.functions.compat import stable_round
    from pyspark.sql import Window

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_tokens_col()).alias("term")
    )
    tf = (
        toks.filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a 1-row scalar agg broadcast — no driver round trip,
    # no second scan job (the retention_split watermark pattern)
    n_docs = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs_total")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            stable_round(F.col("tf") * (F.col("n_docs_total") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rn")
        .orderBy("doc_id", "rn")
    )


def _tfidf_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    score = stable_round_sql(
        "tf * (((SELECT n FROM n) * 1.0) / df)", 6
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
               WHERE term <> '' GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, tf.term, tf, df, {score} AS score
          FROM tf JOIN dfreq USING (term)
        ),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, term ASC) AS rn
          FROM scored
        )
        SELECT doc_id, term, tf, df, score, rn
        FROM r WHERE rn <= 3 ORDER BY doc_id, rn
    """


def q_doc_unigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram frequency signals per document — the KenLM-filter
    surrogate a training pipeline runs before it can afford a real LM:
    mean corpus frequency of the document's tokens and the fraction of
    below-mean-frequency ("rare") tokens. Documents dominated by rare
    tokens are the classic boilerplate/garbage tail (C4/Gopher public
    recipes filter on exactly this family of signal).

    Kept exact-rational on purpose (the tfidf_top_terms rationale): a
    true avg-log-probability needs ln(), which differs in the last ulp
    between libm and the JVM and would flake the value-hash gate. Every
    number here derives from integer counts — rare is the integer
    comparison cf * vocab_size < total_tokens (i.e. cf < mean cf without
    ever forming the mean) — and the two emitted doubles are fixed-order
    divisions of exact integers, bit-identical across engines.

    Scale shape: one vocab aggregation (output bounded by vocab size —
    Heaps' law, << corpus), vocab and the 1-row scalar frame broadcast
    back to the streamed token explode, per-doc aggregation map-side
    combines. No driver collect; two bounded-width shuffles total. The
    vocab frame is localCheckpointed: both its consumers (the broadcast
    join and the scalar agg) read the materialized vocab instead of each
    re-running the corpus-wide token aggregation — 2 corpus scans total,
    not 3."""
    from job_crawler_spark.functions.compat import stable_round
    from job_crawler_spark.operators.checkpoints import tracked_local_checkpoint

    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens_col()).alias("term"))
        .filter(F.col("term") != "")
    )
    vocab = tracked_local_checkpoint(
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    )
    # vocab size + total token count as a 1-row scalar agg over the
    # (already tiny, materialized) vocab frame — broadcast, no driver
    # round trip
    scalars = vocab.agg(
        F.count(F.lit(1)).alias("v_size"),
        F.sum("cf").alias("n_total"),
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("cf").alias("sum_cf"),
            F.sum(
                (F.col("cf") * F.col("v_size") < F.col("n_total")).cast("long")
            ).alias("n_rare"),
            F.max("n_total").alias("n_total"),
        )
    )
    out = per_doc.select(
        "doc_id",
        "n_tok",
        "sum_cf",
        "n_rare",
        stable_round(
            (F.col("sum_cf") / F.col("n_tok")) / F.col("n_total"), 9
        ).alias("mean_tok_freq"),
        stable_round(F.col("n_rare") / F.col("n_tok"), 6).alias("rare_frac"),
    ).orderBy("doc_id")
    out._graft_checkpoints = [vocab]
    return out


def _doc_unigram_freq_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    mean_freq = stable_round_sql("(sum_cf / CAST(n_tok AS DOUBLE)) / n_total", 9)
    rare_frac = stable_round_sql("n_rare / CAST(n_tok AS DOUBLE)", 6)
    return f"""
        WITH t AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term FROM t WHERE term <> ''),
        v AS (SELECT term, COUNT(*) AS cf FROM tf GROUP BY term),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_size,
                     CAST(SUM(cf) AS BIGINT) AS n_total FROM v),
        d AS (
          SELECT doc_id, COUNT(*) AS n_tok,
                 CAST(SUM(cf) AS BIGINT) AS sum_cf,
                 CAST(SUM(CASE WHEN cf * s.v_size < s.n_total
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                 MAX(s.n_total) AS n_total
          FROM tf JOIN v USING (term) CROSS JOIN s
          GROUP BY doc_id
        )
        SELECT doc_id, n_tok, sum_cf, n_rare,
               {mean_freq} AS mean_tok_freq,
               {rare_frac} AS rare_frac
        FROM d ORDER BY doc_id
    """


def q_doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model perplexity scoring (Wenzek et al.,
    LREC 2020): train a bigram LM with add-one smoothing on the corpus
    itself and score every document by average negative log-likelihood
    and perplexity — THE classic LLM-data quality filter (CCNet buckets
    the corpus into head/middle/tail by exactly this number). Upgrades
    ``doc_unigram_freq``'s exact-rational surrogate to the real
    log-probability signal. No reference counterpart (ref main.py never
    models token sequences).

    Contract (engine-portable): words are the shared corpus tokenizer
    with empties dropped; docs with < 2 tokens emit no row; the model is
    P(w2|w1) = (C(w1,w2) + 1) / (C(w1→·) + V) where C(w1→·) counts
    bigram occurrences with history w1 and V is the number of distinct
    continuation types (Kneser-Ney's continuation vocabulary — stated
    contract, applied identically in the oracle); nll is the
    count-weighted mean of -ln P over the doc's bigram positions, ppl =
    exp(nll). Every probability is a single correctly-rounded division
    of exact integers, so both engines feed ``ln`` bit-identical doubles
    and only last-ulp ``ln``/summation-order noise remains — absorbed by
    ``stable_round`` (nll@6, ppl@3) exactly as in ``bm25_topk``.

    Scale shape: ONE corpus scan collapses straight to the per-doc
    bigram multiset (map-side-combinable; repeated bigrams collapse),
    localCheckpointed so its two consumers — the model-side aggregates
    and the scoring join — never rescan the corpus. The bigram dict,
    history dict, and 1-row V frame are all derived from that multiset
    (vocab²-, vocab-, and 1-shaped; Zipf-collapsed far below corpus
    size); the history dict and V broadcast onto the bigram dict, and
    the enriched dict joins back to the multiset on (w1, w2) — at gate
    scale AQE broadcasts it, at 100 TB (web-scale bigram dict >
    broadcast threshold) the same plan degrades to a shuffle join on the
    bigram key, the multiset's only exchange after its own aggregation.
    Per-doc scoring aggregates map-side. Zero Python.
    """
    from job_crawler_spark.functions.compat import stable_round
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    ts = F.filter(_tokens_col(), lambda t: t != "")
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") >= 2)
    )
    db = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(element_at(ts, i) AS w1,"
                    "             element_at(ts, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    db = tracked_local_checkpoint(db)

    # bg feeds THREE consumers (the enrich join, the history dict, the
    # continuation-vocab scalar) — materialize it so the (w1, w2) shuffle
    # over the multiset runs once, not three times.
    bg = tracked_local_checkpoint(
        db.groupBy("w1", "w2").agg(F.sum("cnt").alias("bgc"))
    )
    hist = bg.groupBy("w1").agg(F.sum("bgc").alias("histc"))
    vstats = bg.agg(F.count_distinct(F.col("w2")).alias("v_cont"))
    bge = (
        bg.join(F.broadcast(hist), "w1")
        .crossJoin(F.broadcast(vstats))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("bgc") + 1).cast("double")
                / (F.col("histc") + F.col("v_cont")).cast("double")
            ).alias("logp"),
        )
    )
    out = (
        db.join(bge, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("logp")).alias("sl"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            stable_round(-F.col("sl") / F.col("n_bigrams"), 6).alias("nll"),
            stable_round(
                F.exp(-F.col("sl") / F.col("n_bigrams")), 3
            ).alias("ppl"),
        )
        .orderBy("doc_id")
    )
    out._graft_checkpoints = [db, bg]
    return out


def _doc_lm_perplexity_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    nll = stable_round_sql("-sl / CAST(n_bigrams AS DOUBLE)", 6)
    ppl = stable_round_sql("EXP(-sl / CAST(n_bigrams AS DOUBLE))", 3)
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS ts
          FROM documents
        ),
        d2 AS (SELECT doc_id, ts FROM toks WHERE len(ts) >= 2),
        db AS (
          SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2, COUNT(*) AS cnt
          FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     range(1, len(ts)),
                     i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS b
            FROM d2
          )
          GROUP BY doc_id, b['w1'], b['w2']
        ),
        bg AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS bgc
               FROM db GROUP BY w1, w2),
        hist AS (SELECT w1, CAST(SUM(bgc) AS BIGINT) AS histc
                 FROM bg GROUP BY w1),
        v AS (SELECT COUNT(DISTINCT w2) AS v_cont FROM bg),
        sc AS (
          SELECT db.doc_id, db.cnt,
                 LN(CAST(bg.bgc + 1 AS DOUBLE)
                    / CAST(hist.histc + v.v_cont AS DOUBLE)) AS logp
          FROM db JOIN bg USING (w1, w2) JOIN hist USING (w1) CROSS JOIN v
        ),
        agg AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
                 SUM(cnt * logp) AS sl
          FROM sc GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, {nll} AS nll, {ppl} AS ppl
        FROM agg ORDER BY doc_id
    """


def q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split by LM perplexity (Wenzek
    et al., LREC 2020 §4.3 — the published pipeline buckets Common
    Crawl by exactly this statistic and trains preferentially on the
    low-perplexity "head"): quartile cutoffs over `doc_lm_perplexity`'s
    scores, head = best (lowest-ppl) quarter, tail = worst quarter,
    with per-bucket counts, ppl ranges, and corpus share.

    Determinism: the cutoffs are exact percentiles at p = 0.25 / 0.75 —
    EXACT binary fractions chosen deliberately: the interpolation rank
    h = (n-1)*p and its fractional part are then bit-exact doubles, so
    Spark `percentile` and DuckDB `quantile_cont` (same linear-
    interpolation definition) produce bit-identical cutoffs over the
    identical (already stable-rounded) ppl inputs; tertiles (p = 1/3)
    would put an irrational-in-binary p into the rank product and risk
    an off-by-one-ulp cutoff straddling a data value. Bucket boundaries
    use <=, so every doc lands in exactly one bucket in both engines.

    Scale shape: the perplexity frame is computed ONCE and
    localCheckpointed (it feeds the cutoff aggregate AND the bucket
    assignment); the cutoff is a 1-row exact-percentile aggregate
    broadcast back (see doc_length_quantiles for the sketch swap-in at
    10^10+ rows); bucketing is a narrow projection; the final frame is
    a 3-row aggregate. No window over the corpus anywhere.
    """
    from job_crawler_spark.functions.compat import stable_round
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    ppl_df = q_doc_lm_perplexity(spark, sf_dir)
    ckpts = list(ppl_df._graft_checkpoints)
    scored = tracked_local_checkpoint(ppl_df.select("doc_id", "ppl"))
    ckpts.append(scored)
    cut = scored.agg(
        F.percentile(F.col("ppl"), F.lit(0.25)).alias("c1"),
        F.percentile(F.col("ppl"), F.lit(0.75)).alias("c2"),
        F.count(F.lit(1)).alias("n_total"),
    )
    bucketed = scored.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("ppl") <= F.col("c1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "ppl",
        "n_total",
    )
    out = (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
            F.max("n_total").alias("n_total"),
        )
        .select(
            "bucket",
            "n_docs",
            "min_ppl",
            "max_ppl",
            stable_round(F.col("n_docs") / F.col("n_total"), 6).alias(
                "share"
            ),
        )
        .orderBy("bucket")
    )
    out._graft_checkpoints = ckpts
    return out


def _lm_quality_buckets_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    share = stable_round_sql("n_docs / CAST(n_total AS DOUBLE)", 6)
    return f"""
        WITH pp AS ({_doc_lm_perplexity_sql()}),
        cut AS (
          SELECT quantile_cont(ppl, 0.25) AS c1,
                 quantile_cont(ppl, 0.75) AS c2,
                 COUNT(*) AS n_total
          FROM pp
        ),
        b AS (
          SELECT CASE WHEN ppl <= c1 THEN 'head'
                      WHEN ppl <= c2 THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 ppl, n_total
          FROM pp, cut
        ),
        agg AS (
          SELECT bucket, COUNT(*) AS n_docs,
                 MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl,
                 MAX(n_total) AS n_total
          FROM b GROUP BY bucket
        )
        SELECT bucket, n_docs, min_ppl, max_ppl, {share} AS share
        FROM agg ORDER BY bucket
    """


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public
    paper): per-doc distinct-token ratio and top-term share — the rules
    that down-weight boilerplate/spam in LLM training corpora. Pure
    higher-order-function projection + one small agg per doc."""
    from job_crawler_spark.functions.compat import stable_round

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_tokens_col()).alias("term")
    ).filter(F.col("term") != "")
    per_term = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("tf").alias("top_tf"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            stable_round(F.col("n_distinct") / F.col("n_tokens"), 4).alias(
                "distinct_ratio"
            ),
            stable_round(F.col("top_tf") / F.col("n_tokens"), 4).alias(
                "top_term_share"
            ),
        )
        .orderBy("doc_id")
    )


def _doc_repetition_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
               WHERE term <> '' GROUP BY doc_id, term)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               {stable_round_sql(
                   "COUNT(*) * 1.0 / SUM(tf)", 4)} AS distinct_ratio,
               {stable_round_sql(
                   "MAX(tf) * 1.0 / SUM(tf)", 4)} AS top_term_share
        FROM tf GROUP BY doc_id ORDER BY doc_id
    """


# per-mille keep rates for the stratified training-mix sample; languages
# absent from the map keep SAMPLE_DEFAULT_PM. Spec constants of the
# operator (both engines embed the identical table).
SAMPLE_RATES_PM = {"en": 900, "de": 500, "fr": 500, "es": 250, "zh": 250}
SAMPLE_DEFAULT_PM = 100

EPOCH_SEED = "epoch0"  # seed of the training-order permutation
N_SHARDS = 8


def q_doc_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order permutation + sharding — the step
    that turns a corpus into reproducible training input: every doc gets
    a seeded pseudo-random ORDER KEY (md5 of seed:doc_id — changing
    EPOCH_SEED reshuffles every epoch identically on any engine, no
    rand()), a uniform SHARD from the key's first 8 hex chars, and its
    position WITHIN the shard. This is exactly how a 10^10-doc corpus is
    shuffled in practice: no global sort ever runs — one hash shuffle on
    shard (uniform by construction) and a per-shard sort, each shard an
    independent output file group a data loader streams in order. The
    lexicographic hex order of the full md5 is the permutation (lowercase
    hex compares identically in both engines); doc_id is the collision
    tiebreak."""
    from pyspark.sql import Window

    key = F.md5(
        F.concat(F.lit(EPOCH_SEED), F.lit(":"), F.col("doc_id").cast("string"))
    )
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % N_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            key.alias("order_key"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w))
        .orderBy("shard", "pos")
    )


_DOC_SHARD_ORDER_SQL = f"""
    WITH k AS (
      SELECT doc_id,
             md5('{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)) AS order_key
      FROM documents
    ),
    s AS (
      SELECT doc_id, order_key,
             CAST(CAST(('0x' || substring(order_key, 1, 8)) AS BIGINT)
                  % {N_SHARDS} AS INTEGER) AS shard
      FROM k
    )
    SELECT doc_id, order_key, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                ORDER BY order_key, doc_id) AS INTEGER) AS pos
    FROM s ORDER BY shard, pos
"""


# Weighted sampling without replacement (Efraimidis & Spirakis 2006,
# "Weighted random sampling with a reservoir"): each item draws key
# k_i = -ln(u_i) / w_i (the exponential-race form; u_i uniform in (0,1)),
# and the K SMALLEST keys are the sample — provably equivalent to
# sequential weighted draws without replacement. Seeded md5 makes u_i
# engine- and run-independent.
WSAMPLE_SEED = "wsample0"
WSAMPLE_K = 200


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    quality-weighted corpus-selection staple (sample documents with
    probability proportional to a quality/length weight, no duplicates):
    Efraimidis-Spirakis exponential-race keys k = -ln(u)/w with u drawn
    from a seeded md5 (NOT rand(), so any engine reproduces the exact
    sample and reruns are stable), w = max(n_chars, 1). The K smallest
    keys win.

    Scale shape: the key is per-row arithmetic inside the scan stage
    (narrow, no shuffle) and selection is a top-K — Spark plans
    TakeOrderedAndProject (per-partition bounded heaps + one driver-side
    merge of K rows), never a global sort; plan-pinned. u = (bucket+0.5)/2^32
    is exact in both engines (integer + power-of-two divide), so selection
    order is identical everywhere; ln() may differ in the last ulp across
    libm implementations, which cannot flip an order gap of ~1/n and is
    absorbed by the 9-digit stable round on output."""
    from job_crawler_spark.functions.compat import stable_round

    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(WSAMPLE_SEED),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (bucket + F.lit(0.5)) / F.lit(4294967296.0)
    key = stable_round(-F.log(u) / w, 9)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").alias("weight_chars"),
            key.alias("sample_key"),
        )
        .orderBy("sample_key", "doc_id")
        .limit(WSAMPLE_K)
    )


def _doc_weighted_sample_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    u = (
        "((CAST(('0x' || substring(md5('"
        + WSAMPLE_SEED
        + ":' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) "
        "/ 4294967296.0)"
    )
    key = stable_round_sql(f"-ln({u}) / GREATEST(n_chars, 1)", 9)
    return f"""
        SELECT doc_id, lang, n_chars AS weight_chars,
               {key} AS sample_key
        FROM documents
        ORDER BY sample_key, doc_id
        LIMIT {WSAMPLE_K}
    """


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling — the training-mix rebalancing
    staple: each language keeps a configured per-mille of its documents,
    selected by md5 hash (NOT rand()), so any engine reproduces the exact
    same sample and reruns are stable. The sampling hash uses md5 chars
    9-16 — a window disjoint from _split_bucket's chars 1-8 — so sample
    membership is INDEPENDENT of train/val/test assignment (correlated
    hashes would skew every stratum's split composition).

    Scale shape: NARROW projection + one hash aggregate — the keep/drop
    decision is per-row arithmetic inside the scan stage; no shuffle
    before the per-language rollup. Reported per stratum: population,
    kept count, achieved rate."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
        ).cast("long") % 1000
    )
    rate = F.lit(SAMPLE_DEFAULT_PM)
    for lang, pm in SAMPLE_RATES_PM.items():
        rate = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(rate)
    kept = (bucket < rate).cast("long")
    from job_crawler_spark.functions.compat import stable_round

    return (
        _docs(spark, sf_dir)
        .select("lang", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
        )
        .withColumn(
            "kept_rate",
            stable_round(
                F.col("n_kept").cast("double") / F.col("n_docs"), 4
            ),
        )
        .orderBy("lang")
    )


def _stratified_sample_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {pm}"
        for lang, pm in SAMPLE_RATES_PM.items()
    )
    rate = f"(CASE {cases} ELSE {SAMPLE_DEFAULT_PM} END)"
    bucket = (
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 8)) "
        "AS BIGINT) % 1000"
    )
    kept_rate = stable_round_sql(
        "CAST(SUM(kept) AS DOUBLE) / COUNT(*)", 4
    )
    return f"""
        WITH a AS (
          SELECT lang,
                 CASE WHEN {bucket} < {rate} THEN 1 ELSE 0 END AS kept
          FROM documents
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_kept,
               {kept_rate} AS kept_rate
        FROM a GROUP BY lang ORDER BY lang
    """


# Benchmark-decontamination n-gram width. 4-word shingles on this corpus
# give partial contamination (~10% of train docs share a shingle with the
# test split) — wide enough that stop-phrase collisions don't flag
# everything, narrow enough the check is non-vacuous at every SF. Real
# pipelines use 8-13 (GPT-3 used 13-grams); the operator shape is identical.
DECONTAM_NGRAM = 4


def _ngrams_col(n: int) -> F.Column:
    """Distinct word n-gram shingles (generalized ``_shingles_col``);
    token array let-bound so split() runs once per row."""
    from job_crawler_spark.functions.compat import bind_once

    def build(toks: F.Column) -> F.Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        )
        return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(_tokens_col(), build)


def _ngrams_sql(n: int) -> str:
    joins = " || ' ' || ".join(f"{_TOKENS_SQL}[i+{k}]" for k in range(n))
    return f"""
    CASE WHEN len({_TOKENS_SQL}) >= {n} THEN
      list_distinct(list_transform(range(1, len({_TOKENS_SQL}) - {n - 2}),
        i -> {joins}))
    ELSE [] END
"""


def decontaminate(docs: DataFrame, n: int = DECONTAM_NGRAM) -> DataFrame:
    """Benchmark decontamination — the training-data staple (GPT-3 appendix
    C / Llama practice): flag train/val documents sharing any word n-gram
    with the held-out test split, so evaluation numbers aren't inflated by
    memorized eval text. The test split (md5 chars 1-8, the
    ``_split_bucket`` hash) stands in for the benchmark suite.
    ``docs`` needs (doc_id, text).

    Scale shape: the eval shingle set is benchmark-sized (millions of
    n-grams, MBs) -> built once, deduped, BROADCAST. The 100-TB corpus side
    is a narrow explode feeding a broadcast hash join — the corpus never
    shuffles on shingle; only SURVIVING overlap rows (rare) reach the
    per-doc hash aggregate. Reports contaminated docs only:
    (doc_id, split, n_overlap)."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long") % 100
    )
    docs = docs.select(
        "doc_id",
        bucket.alias("b"),
        _ngrams_col(n).alias("sh"),
    )
    eval_shingles = (
        docs.filter(F.col("b") >= 95)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    train = docs.filter(F.col("b") < 95).select(
        "doc_id",
        F.when(F.col("b") < 90, "train").otherwise("val").alias("split"),
        F.explode("sh").alias("shingle"),
    )
    return (
        train.join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .orderBy("doc_id")
    )


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate(_docs(spark, sf_dir))


_DECONTAM_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100"
)

_DOC_DECONTAM_SQL = f"""
    WITH d AS (
      SELECT doc_id, {_DECONTAM_BUCKET_SQL} AS b,
             {_ngrams_sql(DECONTAM_NGRAM)} AS sh
      FROM documents
    ),
    ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM d WHERE b >= 95),
    tr AS (
      SELECT doc_id, CASE WHEN b < 90 THEN 'train' ELSE 'val' END AS split,
             unnest(sh) AS shingle
      FROM d WHERE b < 95
    )
    SELECT doc_id, split, COUNT(*) AS n_overlap
    FROM tr JOIN ev USING (shingle)
    GROUP BY doc_id, split ORDER BY doc_id
"""


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (p50/p90/p99 of n_chars,
    linear interpolation — Spark ``percentile`` and DuckDB ``quantile_cont``
    share the definition; stable-rounded to absorb last-ulp float noise).
    The corpus-profiling read that sizes truncation and batch budgets.

    Scale note: exact percentile sorts each group's values — fine for
    bounded groups (languages). At 10^10 rows per group the approximate
    sketch (``percentile_approx``, t-digest) is the swap-in; it is not
    oracle-exact so the exact form is what's gated here."""
    from job_crawler_spark.functions.compat import stable_round

    qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[
                stable_round(
                    F.percentile(F.col("n_chars"), F.lit(p)), 4
                ).alias(name)
                for name, p in qs.items()
            ],
        )
        .orderBy("lang")
    )


def _doc_length_quantiles_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    cols = ", ".join(
        f"{stable_round_sql(f'quantile_cont(n_chars, {p})', 4)} AS {name}"
        for name, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    )
    return f"""
        SELECT lang, COUNT(*) AS n_docs, {cols}
        FROM documents GROUP BY lang ORDER BY lang
    """


DUP_PASSAGE_TOPK = 50


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage mining (Lee et al. 2021, "Deduplicating Training
    Data": exact-substring dedup surfaces verbatim passages repeated across
    documents): the top-k word n-gram shingles by cross-document frequency.
    At fixed n this is the bounded-window view of suffix-array substring
    dedup — the report an operator reviews before picking a removal
    threshold.

    Scale shape: narrow per-doc distinct-shingle explode -> ONE map-side-
    combined count keyed on shingle -> >=2-docs filter ->
    TakeOrderedAndProject (per-partition top-k, no global sort
    materializes). Ties broken deterministically by (n_docs DESC,
    shingle)."""
    sh = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_ngrams_col(DECONTAM_NGRAM)).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "shingle")
        .limit(DUP_PASSAGE_TOPK)
    )


def _dup_passages_sql() -> str:
    return f"""
        WITH d AS (
          SELECT doc_id, {_ngrams_sql(DECONTAM_NGRAM)} AS sh FROM documents
        ),
        e AS (SELECT doc_id, unnest(sh) AS shingle FROM d)
        SELECT shingle, COUNT(*) AS n_docs
        FROM e GROUP BY shingle HAVING COUNT(*) >= 2
        ORDER BY n_docs DESC, shingle LIMIT {DUP_PASSAGE_TOPK}
    """


EXCISE_NGRAM = DECONTAM_NGRAM
EXCISE_MIN_DF = 2


def q_doc_excise_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring EXCISION — the removal step of Lee et al. 2021
    ("Deduplicating Training Data") that ``dup_passages`` only mines: every
    token covered by a word n-gram occurring in >= MIN_DF distinct
    documents is cut from the document, and the cleaned text (token-level
    reconstruction over the normalized token stream, single-space joined)
    is emitted with exact removal accounting. Overlapping duplicated
    passages merge naturally: coverage is the distinct union of the
    per-start token intervals.

    Scale shape (the Lee et al. map-reduce form at bounded n): (1) narrow
    positional-shingle explode; (2) doc-frequency of per-doc-DISTINCT
    shingles — ONE map-side-combined shuffle on shingle; (3) positional
    rows equi-join the duplicated-shingle set on shingle (AQE skew-join
    handles viral passages; the duplicated set is corpus-sized, so it is
    NOT broadcast); (4) covered starts collapse per doc — one doc_id
    shuffle; (5) one join back to the corpus on doc_id (free when the
    corpus is doc_id-bucketed). Interval merge + token filtering are pure
    JVM higher-order functions on bounded-length rows — no UDF, no
    per-row Python."""
    from job_crawler_spark.functions.compat import bind_once, stable_round

    from job_crawler_spark.functions.compat import spread

    n = EXCISE_NGRAM
    # spread: single-row-group scan; positional + distinct shingle passes
    # both tokenize the corpus (functions/compat.spread)
    docs = spread(_docs(spark, sf_dir))

    def pos_shingles(toks: F.Column) -> F.Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        )
        return F.when(F.size(toks) >= n, sh).otherwise(
            F.array().cast("array<string>")
        )

    pos_sh = docs.select(
        "doc_id",
        F.posexplode(bind_once(_tokens_col(), pos_shingles)).alias(
            "p0", "shingle"
        ),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "shingle")
    dup_sh = (
        docs.select("doc_id", F.explode(_ngrams_col(n)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= EXCISE_MIN_DF)
        .select("shingle")
    )
    starts = (
        pos_sh.join(dup_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("starts"))
    )
    j = docs.select("doc_id", _tokens_col().alias("toks")).join(
        starts, "doc_id", "left"
    )
    m = F.size("toks")
    st = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                st, lambda s: F.sequence(s, F.least(s + F.lit(n - 1), m))
            )
        )
    )

    # Let-bind the covered-position set: as a free expression inside the
    # token-filter lambda it would be re-materialized (flatten + distinct +
    # allocation) once PER TOKEN; bound as a lambda variable it is built
    # once per row (measured ~14x on the full projection at sf0.1).
    def build_out(cov: F.Column) -> F.Column:
        kept = F.filter(
            F.col("toks"),
            lambda x, i: ~F.array_contains(cov, i + F.lit(1)),
        )
        return F.struct(
            F.size(cov).alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )

    sel = j.select(
        "doc_id",
        m.alias("n_tokens"),
        bind_once(covered, build_out).alias("_o"),
    )
    return sel.select(
        "doc_id",
        "n_tokens",
        F.col("_o.n_removed").alias("n_removed"),
        stable_round(F.col("_o.n_removed") / F.col("n_tokens"), 6).alias(
            "removed_ratio"
        ),
        F.col("_o.clean_text").alias("clean_text"),
    ).orderBy("doc_id")


def _doc_excise_dups_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    n = EXCISE_NGRAM
    joins = " || ' ' || ".join(f"tk[i+{k}]" for k in range(n))
    return f"""
        WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
        p AS (
          SELECT doc_id, u.pos AS pos, u.sh AS sh
          FROM (SELECT doc_id,
                  unnest(list_transform(range(1, len(tk) - {n - 2}),
                    i -> {{'pos': i, 'sh': {joins}}})) AS u
                FROM t WHERE len(tk) >= {n})
        ),
        dup AS (
          SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM p)
          GROUP BY sh HAVING COUNT(*) >= {EXCISE_MIN_DF}
        ),
        s AS (
          SELECT p.doc_id, list_sort(list(DISTINCT p.pos)) AS starts
          FROM p JOIN dup USING (sh) GROUP BY p.doc_id
        ),
        f AS (
          SELECT t.doc_id, t.tk, len(t.tk) AS m,
                 COALESCE(s.starts, []) AS starts
          FROM t LEFT JOIN s USING (doc_id)
        ),
        c AS (
          SELECT doc_id, tk, m,
            list_distinct(flatten(list_transform(starts,
              x -> range(x, least(x + {n - 1}, m) + 1)))) AS covered
          FROM f
        )
        SELECT doc_id, CAST(m AS BIGINT) AS n_tokens,
          CAST(len(covered) AS BIGINT) AS n_removed,
          {stable_round_sql('len(covered) / m', 6)} AS removed_ratio,
          COALESCE(array_to_string(
            list_filter(tk, (x, i) -> NOT list_contains(covered, i)),
            ' '), '') AS clean_text
        FROM c ORDER BY doc_id
    """


# Temperature-sampling exponent for the multilingual mixture (XLM-R /
# mT5 practice: alpha in [0.2, 0.7] flattens the head languages; 0.3 is
# the common published default).
MIXTURE_ALPHA = 0.3


def q_lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights — the multilingual
    data-mixture staple (XLM-R, mT5): share p_i = n_i/N per language,
    weight w_i = p_i^alpha / sum_j p_j^alpha, and the upsample factor
    w_i/p_i a sampler applies per language to hit the target mixture.

    Scale shape: ONE hash aggregate collapses the 100-TB corpus to |langs|
    rows; both normalizing window sums run over that tiny post-aggregation
    frame (never the corpus), so the single-partition window is free.
    Doubles are stable-rounded to 6 digits: pow() and the 5-term window
    sums may differ from the oracle in the last ulp."""
    from pyspark.sql import Window

    from job_crawler_spark.functions.compat import stable_round

    w = Window.partitionBy()
    counts = (
        _docs(spark, sf_dir).groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    shared = counts.select(
        "lang",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(w)).alias("p"),
    )
    # pow-of-window staged through a projection: neither engine allows a
    # window expression inside another window function's argument.
    powed = shared.select(
        "lang", "n_docs", "p", F.pow("p", F.lit(MIXTURE_ALPHA)).alias("pa")
    )
    weighted = powed.select(
        "lang", "n_docs", "p", (F.col("pa") / F.sum("pa").over(w)).alias("w")
    )
    return weighted.select(
        "lang",
        "n_docs",
        stable_round(F.col("p"), 6).alias("share"),
        stable_round(F.col("w"), 6).alias("weight"),
        stable_round(F.col("w") / F.col("p"), 6).alias("upsample"),
    ).orderBy("lang")


def _lang_mixture_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    return f"""
        WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        s AS (SELECT lang, n_docs, n_docs / SUM(n_docs) OVER () AS p FROM c),
        t AS (SELECT lang, n_docs, p, pow(p, {MIXTURE_ALPHA}) AS pa FROM s),
        u AS (SELECT lang, n_docs, p, pa / SUM(pa) OVER () AS w FROM t)
        SELECT lang, n_docs,
               {stable_round_sql('p', 6)} AS share,
               {stable_round_sql('w', 6)} AS weight,
               {stable_round_sql('w / p', 6)} AS upsample
        FROM u ORDER BY lang
    """


# Context-window length for packing stats. Real pipelines pack 2k-8k-token
# windows; 64 is sized so the per-doc ceil is non-vacuous on the synthetic
# corpus (docs run ~25-80 whitespace tokens). The operator shape — narrow
# token count + one hash aggregate — is identical at any L.
PACK_SEQ_LEN = 64


def q_doc_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing profile per language: how many L-token
    training sequences the corpus yields under per-document packing
    (ceil(n_tok/L) — each doc starts a fresh sequence, the deterministic
    upper bound real greedy packers improve on), plus the padding fraction
    1 - tokens/(seqs*L) that motivates cross-doc packing at all.

    Scale shape: narrow per-row token count (split stays in codegen), one
    map-side-combined hash aggregate on lang; integer sums are exact, the
    one derived double is stable-rounded."""
    from job_crawler_spark.functions.compat import stable_round

    n_tok = (
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(_tokens_col()))
        .cast("long")
    )
    # seqs staged off the projected column so the tokenizer expression
    # appears once in the plan, not re-derived inside the ceil
    per_doc = _docs(spark, sf_dir).select("lang", n_tok.alias("n_tok")).select(
        "lang",
        "n_tok",
        F.ceil(F.col("n_tok") / F.lit(PACK_SEQ_LEN)).cast("long").alias("seqs"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("seqs").alias("n_seqs"),
        F.max("seqs").alias("max_doc_seqs"),
    )
    pad = F.when(
        F.col("n_seqs") == 0, F.lit(None).cast("double")
    ).otherwise(
        1.0 - F.col("total_tokens") / (F.col("n_seqs") * PACK_SEQ_LEN)
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_seqs",
        "max_doc_seqs",
        stable_round(pad, 6).alias("pad_frac"),
    ).orderBy("lang")


def _doc_pack_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    L = PACK_SEQ_LEN
    pad = stable_round_sql(
        f"1.0 - total_tokens / (n_seqs * {L})", 6
    )
    return f"""
        WITH d AS (
          SELECT lang,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len({_TOKENS_SQL}) END AS n_tok
          FROM documents
        ),
        p AS (
          SELECT lang, n_tok,
                 CAST(ceil(n_tok / {L}) AS BIGINT) AS seqs
          FROM d
        ),
        a AS (
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                 CAST(SUM(seqs) AS BIGINT) AS n_seqs,
                 MAX(seqs) AS max_doc_seqs
          FROM p GROUP BY lang
        )
        SELECT lang, n_docs, total_tokens, n_seqs, max_doc_seqs,
               CASE WHEN n_seqs = 0 THEN NULL ELSE {pad} END AS pad_frac
        FROM a ORDER BY lang
    """


# --- quality scoring -----------------------------------------------------------

def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/punctuation quality heuristics; score in [0,1]."""
    from job_crawler_spark.functions.compat import stable_round

    toks = _tokens_col()
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n_chars = F.length("text")
    n_words = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop, w)))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
    stop_ratio = stable_round(n_stop / n_words, 4)
    punct_ratio = stable_round(n_punct / n_chars, 4)
    score = stable_round(
        F.least(F.lit(1.0), n_words / F.lit(50.0)) * 0.5
        + F.least(F.lit(1.0), stop_ratio * 5) * 0.3
        + (1 - F.least(F.lit(1.0), punct_ratio * 10)) * 0.2,
        4,
    )
    return (
        _docs(spark, sf_dir)
        .filter(n_chars > 0)
        .select(
            "doc_id",
            n_chars.alias("n_chars"),
            n_words.alias("n_words"),
            stop_ratio.alias("stop_ratio"),
            punct_ratio.alias("punct_ratio"),
            score.alias("quality_score"),
        )
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


def _quality_scores_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    stop_ratio = stable_round_sql("n_stop / CAST(n_words AS DOUBLE)", 4)
    punct_ratio = stable_round_sql("n_punct / CAST(n_chars AS DOUBLE)", 4)
    score = stable_round_sql(
        f"LEAST(1.0, n_words / 50.0) * 0.5"
        f" + LEAST(1.0, {stop_ratio} * 5) * 0.3"
        f" + (1 - LEAST(1.0, {punct_ratio} * 10)) * 0.2",
        4,
    )
    return f"""
        WITH d AS (
          SELECT doc_id, length(text) AS n_chars,
                 len({_TOKENS_SQL}) AS n_words,
                 len(list_filter({_TOKENS_SQL}, w -> list_contains({_STOP_SQL}, w)))
                     AS n_stop,
                 len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
          FROM documents WHERE length(text) > 0
        )
        SELECT doc_id, n_chars, n_words,
               {stop_ratio} AS stop_ratio,
               {punct_ratio} AS punct_ratio,
               {score} AS quality_score
        FROM d
    """


# --- language guess -------------------------------------------------------------

def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language id; deterministic argmax (ties -> insertion
    order en, de, es). Compared against the driver's lang column."""
    toks = _tokens_col()
    scores = {
        lang: F.size(
            F.filter(toks, lambda w: F.array_contains(
                F.array(*[F.lit(m) for m in markers]), w))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    guess = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"]), "en"
        )
        .when(scores["de"] >= scores["es"], "de")
        .otherwise("es")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.col("lang").alias("labeled_lang"), guess.alias("guess"))
        .groupBy("labeled_lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("labeled_lang", "guess")
    )


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation metrics — the model-eval operator class
    (sklearn's classification_report as a relation): per-class support,
    predicted count, correct count, precision, recall, F1 for the
    marker-word language identifier (`lang_guess`) against the labeled
    ``lang`` column, plus a micro-accuracy ``__overall__`` row. The
    labeled space ({en,de,es,fr,zh}) is wider than the predictable
    space ({en,de,es}), so zero-prediction classes exercise the
    guarded divisions non-vacuously.

    Determinism: every metric is ONE division of exact integers —
    including F1, computed as the harmonic closed form
    2*n_correct / (n_pred + n_actual) rather than from the two rounded
    ratios — then stable-rounded; zero-denominator classes report 0.0
    by contract in both engines.

    Scale shape: the corpus collapses to the |classes|^2 confusion
    frame FIRST (one map-side-combinable aggregate, localCheckpointed
    — its four consumers: actual/pred/correct margins and the overall
    fold — never rescan the corpus); everything after is tiny-frame
    algebra with broadcast outer joins. Zero Python.
    """
    from job_crawler_spark.functions.compat import stable_round
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    conf = tracked_local_checkpoint(
        q_lang_guess(spark, sf_dir)
    )
    actual = conf.groupBy(F.col("labeled_lang").alias("label")).agg(
        F.sum("n").alias("n_actual")
    )
    pred = conf.groupBy(F.col("guess").alias("label")).agg(
        F.sum("n").alias("n_pred")
    )
    correct = conf.filter(
        F.col("labeled_lang") == F.col("guess")
    ).select(F.col("labeled_lang").alias("label"), F.col("n").alias("n_correct"))
    per = (
        actual.join(pred, "label", "full_outer")
        .join(correct, "label", "full_outer")
        .select(
            "label",
            F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )

    def ratio(num, den):
        return F.when(
            den > 0, stable_round(num.cast("double") / den, 6)
        ).otherwise(F.lit(0.0))

    per = per.select(
        "label",
        "n_actual",
        "n_pred",
        "n_correct",
        ratio(F.col("n_correct"), F.col("n_pred")).alias("precision"),
        ratio(F.col("n_correct"), F.col("n_actual")).alias("recall"),
        ratio(
            F.lit(2) * F.col("n_correct"),
            F.col("n_pred") + F.col("n_actual"),
        ).alias("f1"),
    )
    overall = conf.agg(
        F.sum("n").alias("n_total"),
        F.sum(
            F.when(
                F.col("labeled_lang") == F.col("guess"), F.col("n")
            ).otherwise(F.lit(0))
        ).alias("n_correct"),
    ).select(
        F.lit("__overall__").alias("label"),
        F.col("n_total").alias("n_actual"),
        F.col("n_total").alias("n_pred"),
        "n_correct",
        ratio(F.col("n_correct"), F.col("n_total")).alias("precision"),
        ratio(F.col("n_correct"), F.col("n_total")).alias("recall"),
        ratio(F.col("n_correct"), F.col("n_total")).alias("f1"),
    )
    out = per.unionByName(overall).orderBy("label")
    out._graft_checkpoints = [conf]
    return out


def _classifier_eval_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    def ratio(num, den):
        r = stable_round_sql(f"CAST({num} AS DOUBLE) / ({den})", 6)
        return f"CASE WHEN ({den}) > 0 THEN {r} ELSE 0.0 END"

    return f"""
        WITH conf AS ({_lang_guess_sql()}),
        a AS (SELECT labeled_lang AS label,
                     CAST(SUM(n) AS BIGINT) AS n_actual
              FROM conf GROUP BY 1),
        p AS (SELECT guess AS label, CAST(SUM(n) AS BIGINT) AS n_pred
              FROM conf GROUP BY 1),
        c AS (SELECT labeled_lang AS label, CAST(n AS BIGINT) AS n_correct
              FROM conf WHERE labeled_lang = guess),
        m AS (
          SELECT COALESCE(a.label, p.label, c.label) AS label,
                 COALESCE(n_actual, 0) AS n_actual,
                 COALESCE(n_pred, 0) AS n_pred,
                 COALESCE(n_correct, 0) AS n_correct
          FROM a FULL OUTER JOIN p ON p.label = a.label
                 FULL OUTER JOIN c ON c.label = COALESCE(a.label, p.label)
        ),
        o AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                 CAST(SUM(CASE WHEN labeled_lang = guess THEN n
                          ELSE 0 END) AS BIGINT) AS n_correct
          FROM conf
        )
        SELECT label, n_actual, n_pred, n_correct,
               {ratio('n_correct', 'n_pred')} AS precision,
               {ratio('n_correct', 'n_actual')} AS recall,
               {ratio('2 * n_correct', 'n_pred + n_actual')} AS f1
        FROM m
        UNION ALL
        SELECT '__overall__', n_total, n_total, n_correct,
               {ratio('n_correct', 'n_total')},
               {ratio('n_correct', 'n_total')},
               {ratio('n_correct', 'n_total')}
        FROM o
        ORDER BY label
    """


def _lang_guess_sql() -> str:
    def score(lang: str) -> str:
        markers = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
        return f"len(list_filter(t, w -> list_contains({markers}, w)))"

    return f"""
        WITH d AS (SELECT doc_id, lang, {_TOKENS_SQL} AS t FROM documents),
        s AS (SELECT doc_id, lang, {score('en')} AS s_en, {score('de')} AS s_de,
                     {score('es')} AS s_es FROM d),
        g AS (SELECT lang AS labeled_lang,
                     CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                          WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS guess
              FROM s)
        SELECT labeled_lang, guess, COUNT(*) AS n FROM g
        GROUP BY labeled_lang, guess ORDER BY labeled_lang, guess
    """


# --- shingles / n-gram jaccard / minhash ------------------------------------------

def _shingles_col() -> F.Column:
    """Distinct word 3-gram shingles, 1-based indexing (matches t[i]).

    The token array is let-bound (bind_once) so the split() tokenization runs
    ONCE per row — without it Catalyst inlines the split into every
    element_at reference, O(len^2) work per document."""
    from job_crawler_spark.functions.compat import bind_once

    def build(toks: F.Column) -> F.Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (NGRAM - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
        return F.when(F.size(toks) >= NGRAM, F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(_tokens_col(), build)


_SHINGLES_SQL = f"""
    CASE WHEN len({_TOKENS_SQL}) >= {NGRAM} THEN
      list_distinct(list_transform(range(1, len({_TOKENS_SQL}) - {NGRAM - 2}),
        i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1] || ' ' || {_TOKENS_SQL}[i+2]))
    ELSE [] END
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard >= 0.5: explode distinct shingles,
    drop stop-shingles (df > MAX_DF), self-join on shingle, count overlap.

    |A ∩ B| over the non-stop shingle universe; |A|,|B| likewise — so the
    oracle and Spark agree on the same filtered universe."""
    from job_crawler_spark.functions.compat import stable_round

    from pyspark.sql import Window

    from job_crawler_spark.functions.compat import spread

    # spread the raw text before the shingle projection — single-row-group
    # scan, compute-heavy narrow stage (see functions/compat.spread)
    docs = spread(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", _shingles_col().alias("sh")
    )
    exploded = docs.select("doc_id", F.explode("sh").alias("shingle"))
    # stop-shingle cutoff via a whole-partition window count over the same
    # shuffle key the df aggregate would use — each consumer branch then
    # costs ONE scan + ONE exchange instead of two of each plus a re-join
    # (guide §2.4: operations keyed the same way share one exchange).
    # kept feeds two consumers (sizes + buckets); deliberately recomputed,
    # not persisted — see q_minhash_lsh_pairs' determinism note
    kept = (
        exploded.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .filter(F.col("__df") <= MAX_DF)
        .drop("__df")
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # join-free bucket-local pair expansion (see q_minhash_lsh_pairs): each
    # shingle's member list (<= MAX_DF by the stop-shingle cutoff) expands
    # its i<j pairs locally; overlap = pair multiplicity across shingles
    buckets = (
        kept.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            # stable_round, NOT F.round: Spark HALF_UP vs DuckDB
            # binary-value rounding disagree on x.xxxx5 boundaries
            stable_round(
                F.col("overlap")
                / (F.col("sz_a") + F.col("sz_b") - F.col("overlap")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "overlap", "jaccard")
        .orderBy("a", "b")
    )


Q_NGRAM_JACCARD_PAIRS_SQL = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    kept AS (
      SELECT doc_id, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                        HAVING COUNT(*) <= {MAX_DF})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS overlap
      FROM kept x JOIN kept y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT a, b, overlap,
           (FLOOR(overlap / CAST(sa.sz + sb.sz - overlap AS DOUBLE) * 10000 + 0.5)
            / 10000) AS jaccard
    FROM inter JOIN sizes sa ON inter.a = sa.doc_id
               JOIN sizes sb ON inter.b = sb.doc_id
    WHERE (FLOOR(overlap / CAST(sa.sz + sb.sz - overlap AS DOUBLE) * 10000 + 0.5)
           / 10000) >= 0.5
    ORDER BY a, b
"""


# --- exact set-similarity join via prefix filtering --------------------------------

SSJOIN_TAU = 0.5  # Jaccard threshold; 1/2 keeps the length filter integer-exact


def q_ssjoin_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.5 pairs over the FULL 3-gram shingle universe via
    prefix filtering (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07) —
    the scalable exact twin of ``ngram_jaccard_pairs``.

    The dedup triad this completes: MinHash-LSH is approximate (misses
    pairs), the ngram baseline is exact only on a truncated universe
    (df <= MAX_DF stop-shingle cutoff — a pair of docs built entirely from
    common shingles is invisible to it). This operator is exact on the
    untruncated universe and still avoids the O(df^2) hot-token blowup:

    1. Global token order = (df ASC, shingle ASC), rarest first. Each doc
       sorts its own distinct shingles by that order — no global
       rank/dense_rank materialization, the (df, shingle) struct IS the
       order key, so the "index build" is one vocabulary aggregate plus
       one posting join.
    2. Prefix: a doc of size s indexes only its first
       p = s - ceil(tau*s) + 1 tokens (tau=1/2: floor(s/2)+1). Lemma
       (prefix filtering): J(a,b) >= tau implies prefix(a) and prefix(b)
       share a token — so bucketing on PREFIX tokens only loses nothing.
       Because prefixes hold each doc's RAREST tokens, posting lists are
       short exactly where the naive join explodes; a stop-shingle enters
       a prefix only for docs with almost no rare content.
    3. Bucket-local i<j expansion (the minhash_lsh_pairs machinery) with
       TWO prunes applied INSIDE the bucket before any shuffle, both in
       integer math: the Jaccard length filter (members sorted by
       (sz, doc_id); a pair is emitted only if sz_big <= 2 * sz_small,
       since J >= 1/2 forces |b| <= 2|a|) and PPJoin's positional filter
       (Xiao et al., WWW'08): the collision token's 1-based prefix
       positions bound the achievable overlap at
       1 + min(sz_a - pos_a, sz_b - pos_b), which must reach
       alpha = ceil((sz_a + sz_b)/3); sound because a true pair's FIRST
       common token always passes and is always within both prefixes
       (earlier in the global order = earlier position). Measured at
       sf0.1: distinct candidates 309,803 -> 124,979 (-60%), end-to-end
       14.5 s -> 6.8 s, identical output.
    4. Exact verification: candidates (distinct) join the per-doc shingle
       arrays and count |A intersect B| JVM-side (array_intersect); the
       threshold test runs on the exact overlap, so output = ground truth.

    100 TB shape: shuffles are one vocabulary aggregate, one df-tag join,
    one per-doc sort aggregate, one posting-bucket aggregate, one distinct,
    and two doc_id-keyed verify joins — all linear in corpus + candidate
    size; candidate size is bounded by rare-token posting lists instead of
    a lossy MAX_DF cutoff. Output contract matches ngram_jaccard_pairs
    (a, b, overlap, jaccard) so the two universes can be diffed directly.
    """
    from pyspark.sql import Window

    from job_crawler_spark.functions.compat import stable_round
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    # the shingle arrays feed THREE executions (posting build + both
    # verify-join sides) — materialize them once instead of re-running
    # the tokenize+shingle scan per consumer (guide §2.4; corpus-sized
    # but narrow: doc_id + distinct shingles)
    docs = tracked_local_checkpoint(
        _docs(spark, sf_dir)
        .select("doc_id", _shingles_col().alias("sh"))
        .filter(F.size("sh") > 0)
    )
    exploded = docs.select("doc_id", F.explode("sh").alias("shingle"))
    # tag each posting with its token's global rarity via a whole-partition
    # window over the SAME shuffle key the aggregate would use — one
    # exchange on shingle instead of aggregate + re-join (guide §2.4:
    # two operations keyed the same way share one exchange), then per-doc
    # sort: array_sort over (df, shingle) structs is the global total
    # order (shingles are distinct within a doc, so no ties)
    per_doc = (
        exploded.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("ordered")
        )
    )
    sz = F.size("ordered")
    # tau = 1/2: prefix length p = sz - ceil(sz/2) + 1 = floor(sz/2) + 1
    prefix_len = (F.floor(sz / 2) + 1).cast("int")
    postings = per_doc.select(
        "doc_id",
        sz.alias("sz"),
        F.posexplode(
            F.transform(
                F.slice("ordered", F.lit(1), prefix_len),
                lambda s: s.getField("shingle"),
            )
        ).alias("pos0", "shingle"),
    ).withColumn("pos", (F.col("pos0") + 1).cast("int")).drop("pos0")
    buckets = (
        postings.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_set(
                    F.struct(F.col("sz"), F.col("doc_id"), F.col("pos"))
                )
            ).alias("mem")
        )
        .filter(F.size("mem") > 1)
    )
    mem = F.col("mem")

    # i<j expansion in size order with two in-bucket prunes applied
    # before the pair ever reaches a shuffle:
    # - the 2x length filter (J >= 1/2 forces |b| <= 2|a|), and
    # - PPJoin's positional filter (Xiao et al., WWW'08): at this
    #   collision token, sitting at 1-based prefix positions (pos_x,
    #   pos_y) of the globally-sorted token lists, the overlap can reach
    #   at most 1 + min(sz_x - pos_x, sz_y - pos_y); a qualifying pair
    #   needs alpha = ceil((sz_x + sz_y)/3) [= ceil(t/(1+t)*(sx+sy)),
    #   t=1/2]. Sound under the union-over-buckets + distinct: a true
    #   pair's FIRST common token (smallest positions on both sides)
    #   always passes, and earlier-in-order means within-prefix, so that
    #   bucket emits it. The bound also subsumes the tighter PPJoin
    #   index-prefix rule pos_x <= sz_x - ceil(2*sz_x/3) + 1 (set
    #   sz_y = sz_x in alpha), so no separate prefix asymmetry is
    #   needed. All integer math, like the length filter.
    def _passes(x, y):
        alpha = F.floor(
            (x.getField("sz") + y.getField("sz") + F.lit(2)) / F.lit(3)
        )
        ubound = F.lit(1) + F.least(
            x.getField("sz") - x.getField("pos"),
            y.getField("sz") - y.getField("pos"),
        )
        return (
            (y.getField("sz") <= F.lit(2) * x.getField("sz"))
            & (ubound >= alpha)
        )

    pair_structs = F.flatten(
        F.transform(
            mem,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(mem, i + F.lit(2), F.size(mem)),
                    lambda y: _passes(x, y),
                ),
                lambda y: F.struct(
                    F.least(
                        x.getField("doc_id"), y.getField("doc_id")
                    ).alias("a"),
                    F.greatest(
                        x.getField("doc_id"), y.getField("doc_id")
                    ).alias("b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    # Exact verification is COMPUTE-bound (one set intersection per
    # candidate), so the candidate frame is the stream side, spread over
    # the session's core count: left alone, AQE coalesces the tiny
    # (a, b) shuffle to 1-2 partitions by BYTES and the planner
    # broadcasts the candidates, serializing all intersect work onto the
    # docs checkpoint's few partitions (measured: 6.8 s of the query's
    # 8.1 s). The doc-array sides are corpus-bounded broadcasts (the
    # candidate side grows quadratically faster at scale). The intersect
    # size is let-bound (bind_once) — the pushed-down jaccard filter
    # would otherwise inline it 2x in the join condition and 2x in the
    # projection.
    from job_crawler_spark.functions.compat import bind_once, spread

    cand = spread(cand)
    pair = bind_once(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("long"),
        lambda ov: F.struct(
            ov.alias("overlap"),
            # stable_round, NOT F.round (HALF_UP vs binary-value rounding)
            stable_round(
                ov / (F.size("sh_a") + F.size("sh_b") - ov), 4
            ).alias("jaccard"),
        ),
    )
    out = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select("a", "b", pair.alias("__pj"))
        .select("a", "b", "__pj.overlap", "__pj.jaccard")
        .filter(F.col("jaccard") >= SSJOIN_TAU)
        .orderBy("a", "b")
    )
    out._graft_checkpoints = [docs]
    return out


# oracle: brute-force exact Jaccard on the full universe — every pair
# sharing any shingle, no prefix filter, no df cutoff. Feasible at the gate
# scales; its independence from the prefix lemma is the point.
Q_SSJOIN_PREFIX_PAIRS_SQL = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS overlap
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT a, b, overlap,
           (FLOOR(overlap / CAST(sa.sz + sb.sz - overlap AS DOUBLE) * 10000 + 0.5)
            / 10000) AS jaccard
    FROM inter JOIN sizes sa ON inter.a = sa.doc_id
               JOIN sizes sb ON inter.b = sb.doc_id
    WHERE (FLOOR(overlap / CAST(sa.sz + sb.sz - overlap AS DOUBLE) * 10000 + 0.5)
           / 10000) >= {SSJOIN_TAU}
    ORDER BY a, b
"""


def _minhash_band_array():
    """The per-doc MinHash band array Column (shared by the full-corpus and
    the incremental pair queries — identical signatures by construction).

    Hashing: ONE md5 per shingle, 16 seed hashes derived as
    (h1 + i*h2) mod P (Kirsch & Mitzenmacher 2006, two hashes suffice) —
    16x fewer digests than md5-per-seed on the 10^10-doc hot path, still
    engine-portable (both sides parse the same md5 hex substrings)."""
    from job_crawler_spark.functions.compat import bind_once

    rows_per_band = MINHASH_SEEDS // LSH_BANDS
    P = 2147483647  # Mersenne prime; 16 * P fits comfortably in int64

    def hash_pair(x: F.Column) -> F.Column:
        h = F.md5(x)
        return F.struct(
            (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % P).alias("h1"),
            (F.conv(F.substring(h, 16, 15), 16, 10).cast("long") % P).alias("h2"),
        )

    def seed_min(hs: F.Column, i: int) -> F.Column:
        # NB: single-parameter lambda — a second parameter (even a
        # defaulted one, `lambda s, i=i:`) makes F.transform pass the
        # ARRAY INDEX into it, silently clobbering the captured seed
        return F.array_min(
            F.transform(
                hs,
                lambda s: (s.getField("h1") + F.lit(i) * s.getField("h2")) % P,
            )
        )

    def sig_of(sh: F.Column) -> F.Column:
        return bind_once(
            F.transform(sh, hash_pair),
            lambda hs: F.array(
                *[seed_min(hs, i) for i in range(MINHASH_SEEDS)]
            ),
        )

    def bands_of(sig: F.Column) -> F.Column:
        return F.array(
            *[
                F.struct(
                    F.lit(band).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at(sig, band * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for band in range(LSH_BANDS)
            ]
        )

    # nested let-bindings: shingles evaluated once -> signature evaluated
    # once -> band array; the whole MinHash is a single projection pass
    return bind_once(
        _shingles_col(), lambda sh: F.when(F.size(sh) > 0, bind_once(sig_of(sh), bands_of))
    )


def _minhash_bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_hash) rows — one per non-empty doc per band.
    Deliberately no .persist(): the bands feed exactly ONE aggregation in
    each consumer, and at 10^10 docs one would never block-cache the
    exploded bands anyway — recomputing a narrow projection is the
    scale-honest trade."""
    from job_crawler_spark.functions.compat import spread

    # spread the raw text BEFORE the signature projection: the fixture is
    # a single-row-group file (1 scan task) and the md5+16-seed MinHash
    # is by far the heaviest narrow stage in the dedup family
    docs = spread(
        _docs(spark, sf_dir).select("doc_id", "text")
    ).select("doc_id", _minhash_band_array().alias("ba"))
    return (
        docs.filter(F.col("ba").isNotNull())
        .select("doc_id", F.explode("ba").alias("bb"))
        .select("doc_id", "bb.band", "bb.band_hash")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 seeds) + LSH banding (4x4): candidate pairs sharing any
    band bucket. Shuffle key = (band, band_hash) — at 10^10 docs this
    replaces the exact shingle self-join entirely (hashing scheme:
    _minhash_band_array)."""
    bands = _minhash_bands_df(spark, sf_dir)
    # JOIN-FREE pair generation: aggregate each band bucket's (sorted,
    # deduped) member list, expand i<j pairs LOCALLY with higher-order
    # functions. Strictly better than the band self-join at scale — one
    # aggregation shuffle on the bucket key, pair fan-out confined to each
    # bucket (which LSH banding keeps small by design) — and it sidesteps
    # a self-join-over-shared-input shape that intermittently dropped a
    # pair under long-session storage pressure in local-mode testing.
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
        .orderBy("a", "b")
    )


def _is_new_doc_col() -> F.Column:
    """The 'today's ingestion batch' membership flag: _split_bucket's
    val+test slice (md5 chars 1-8 mod 100 >= 90, ~10% of docs) —
    deterministic, engine-portable, disjoint hash window from the MinHash
    signatures."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
        >= 90
    )


def q_minhash_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the shape a production pipeline runs
    daily: candidate near-dup pairs where at least one side belongs to the
    NEW batch (here the deterministic ~10% val+test slice stands in for
    today's crawl). The corpus-vs-corpus pairs are intentionally NOT
    regenerated: at 10^10 docs + 10^7/day ingestion you can never afford
    corpus x corpus again, but bucket-locality makes new-vs-all cheap —
    per-bucket fan-out is |new ∩ bucket| * |bucket| instead of |bucket|^2,
    and buckets with no new member are dropped BEFORE pair expansion.

    Output: (a, b, a_new, b_new) — the flags let the consumer route
    new-vs-old pairs (drop the new copy) differently from new-vs-new
    (cluster then keep one). Same signatures as q_minhash_lsh_pairs
    (shared _minhash_band_array), so its pair set restricted to new docs
    is exactly this query's."""
    bands = _minhash_bands_df(spark, sf_dir).withColumn(
        "is_new", _is_new_doc_col()
    )
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(
            F.array_sort(
                F.collect_set(
                    F.struct(F.col("doc_id").alias("d"), F.col("is_new").alias("n"))
                )
            ).alias("ms"),
            F.max(F.col("is_new").cast("int")).alias("has_new"),
        )
        .filter((F.size("ms") > 1) & (F.col("has_new") == 1))
    )
    ms = F.col("ms")
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                ms,
                lambda x, i: F.transform(
                    F.slice(ms, i + F.lit(2), F.size(ms)),
                    lambda y: F.struct(
                        x["d"].alias("a"),
                        y["d"].alias("b"),
                        x["n"].alias("a_new"),
                        y["n"].alias("b_new"),
                    ),
                ),
            )
        ),
        lambda p: p["a_new"] | p["b_new"],
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b", "p.a_new", "p.b_new")
        .distinct()
        .orderBy("a", "b")
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the dedup endgame: connected components over
    the MinHash-LSH dup-pair graph, every document labeled with its
    cluster's canonical representative (min doc_id reachable; singletons
    are their own cluster). Iterative min-label propagation with per-step
    lineage truncation (operators/dedup.connected_components); the oracle
    is a recursive-CTE transitive closure."""
    from job_crawler_spark.operators.dedup import connected_components

    edges = q_minhash_lsh_pairs(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select("doc_id")
    cc = connected_components(edges, nodes)
    out = cc.orderBy("doc_id")
    # keep the label-checkpoint handle visible to release_checkpoints
    out._graft_checkpoints = getattr(cc, "_graft_checkpoints", [])
    return out


def _dup_clusters_sql() -> str:
    pairs = _minhash_sql()
    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b
                  FROM pairs),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, edges.b
            FROM reach JOIN edges ON reach.r = edges.a
        )
        SELECT node AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY node ORDER BY doc_id
    """


def q_dup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: which document survives each near-dup cluster.
    dup_clusters labels documents; a real pipeline must then pick ONE
    representative per cluster and drop the rest. Policy: highest
    quality_score wins (the quality_scores heuristics), ties and unscored
    (empty-text) documents break to the lowest doc_id — so the output is a
    total, deterministic keep/drop verdict per document.

    Scale shape: cluster labels from the LSH+CC pipeline (its own audited
    shape), one doc_id-keyed join against the quality frame, then ONE
    shuffle on cluster_id: both the cluster size and the keeper are
    whole-partition window AGGREGATES over the same spec (keeper = min of
    a (neg_quality, doc_id) struct — no rank sort, no agg+rejoin). The
    quality double is fixed-order rational arithmetic (gate-proven in
    quality_scores), so the keeper comparison is bit-identical across
    engines."""
    from pyspark.sql import Window

    from job_crawler_spark.operators.dedup import connected_components

    edges = q_minhash_lsh_pairs(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select("doc_id")
    cc = connected_components(edges, nodes)
    quality = q_quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    j = cc.join(quality, "doc_id", "left")
    w = Window.partitionBy("cluster_id")
    keeper = F.min(
        F.struct(
            (-F.coalesce(F.col("quality_score"), F.lit(-1.0))).alias("nq"),
            F.col("doc_id").alias("d"),
        )
    ).over(w)
    out = (
        j.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            "quality_score",
            (F.col("doc_id") == keeper["d"]).alias("kept"),
        )
        .orderBy("doc_id")
    )
    out._graft_checkpoints = getattr(cc, "_graft_checkpoints", [])
    return out


def _dup_keep_canonical_sql() -> str:
    pairs = _minhash_sql()
    quality = _quality_scores_sql()
    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b
                  FROM pairs),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, edges.b
            FROM reach JOIN edges ON reach.r = edges.a
        ),
        cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id
               FROM reach GROUP BY node),
        q AS (SELECT doc_id, quality_score FROM ({quality})),
        j AS (SELECT cc.doc_id, cc.cluster_id, q.quality_score
              FROM cc LEFT JOIN q ON cc.doc_id = q.doc_id),
        k AS (
          SELECT *,
                 CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                     AS cluster_size,
                 FIRST_VALUE(doc_id) OVER (
                     PARTITION BY cluster_id
                     ORDER BY COALESCE(quality_score, -1.0) DESC, doc_id ASC
                 ) AS keeper
          FROM j
        )
        SELECT doc_id, cluster_id, cluster_size, quality_score,
               doc_id = keeper AS kept
        FROM k ORDER BY doc_id
    """


def _split_bucket(col: F.Column) -> F.Column:
    """The train/val/test md5 bucket (chars 1-8 mod 100) over any id."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )


def _split_case(bucket: F.Column) -> F.Column:
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


def q_cluster_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: hash the near-dup CLUSTER id,
    not the document id, so every member of a near-dup cluster lands in
    the same split. Per-document hashing leaks near-duplicates of
    training documents into val/test — the classic eval-inflation bug
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", documents the cross-split duplicate problem). Same md5 chars
    1-8 mod 100, 90/5/5 convention as a per-document split; `moved` flags
    documents whose own-id hash would have put them in a different split
    (the quantified leak fix).

    Scale shape: cluster labels from the audited LSH+CC pipeline; the
    split itself is a NARROW projection over the label frame — two md5
    evaluations per row, no additional shuffle beyond the presentation
    sort."""
    from job_crawler_spark.operators.dedup import connected_components

    edges = q_minhash_lsh_pairs(spark, sf_dir)
    nodes = _docs(spark, sf_dir).select("doc_id")
    cc = connected_components(edges, nodes)
    split = _split_case(_split_bucket(F.col("cluster_id")))
    own = _split_case(_split_bucket(F.col("doc_id")))
    out = cc.select(
        "doc_id",
        "cluster_id",
        split.alias("split"),
        (split != own).alias("moved"),
    ).orderBy("doc_id")
    out._graft_checkpoints = getattr(cc, "_graft_checkpoints", [])
    return out


def _cluster_split_sql() -> str:
    pairs = _minhash_sql()

    def bucket(col: str) -> str:
        return (
            f"CAST(('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 8))"
            f" AS BIGINT) % 100"
        )

    def case(col: str) -> str:
        return (
            f"CASE WHEN {bucket(col)} < 90 THEN 'train'"
            f" WHEN {bucket(col)} < 95 THEN 'val' ELSE 'test' END"
        )

    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b
                  FROM pairs),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, edges.b
            FROM reach JOIN edges ON reach.r = edges.a
        ),
        cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id
               FROM reach GROUP BY node)
        SELECT doc_id, cluster_id,
               {case('cluster_id')} AS split,
               {case('cluster_id')} <> {case('doc_id')} AS moved
        FROM cc ORDER BY doc_id
    """


def _minhash_bands_ctes() -> str:
    rows_per_band = MINHASH_SEEDS // LSH_BANDS
    P = 2147483647
    hs = (
        "list_transform(sh, x -> {"
        f"'h1': CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT) % {P}, "
        f"'h2': CAST(('0x' || substring(md5(x), 16, 15)) AS BIGINT) % {P}"
        "})"
    )
    sig_items = ", ".join(
        f"list_min(list_transform(hs, s -> (s.h1 + {i} * s.h2) % {P}))"
        for i in range(MINHASH_SEEDS)
    )
    band_structs = ", ".join(
        "{'band': %d, 'band_hash': md5(%s)}"
        % (
            band,
            " || '|' || ".join(
                f"CAST(sig[{band * rows_per_band + r + 1}] AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for band in range(LSH_BANDS)
    )
    ctes = f"""
        d AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
        h AS (SELECT doc_id, {hs} AS hs FROM d WHERE len(sh) > 0),
        s AS (SELECT doc_id, [{sig_items}] AS sig FROM h),
        bands AS (
          SELECT doc_id, unnest([{band_structs}],  recursive := true)
          FROM s
        )"""
    return ctes


def _minhash_sql() -> str:
    return f"""
        WITH {_minhash_bands_ctes()}
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
        ORDER BY a, b
    """


def _minhash_incremental_sql() -> str:
    return f"""
        WITH {_minhash_bands_ctes()},
        nb AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                       1, 8)) AS BIGINT) % 100 >= 90 AS is_new
          FROM documents
        )
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
               nx.is_new AS a_new, ny.is_new AS b_new
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
        JOIN nb nx ON nx.doc_id = x.doc_id
        JOIN nb ny ON ny.doc_id = y.doc_id
        WHERE nx.is_new OR ny.is_new
        ORDER BY a, b
    """


def q_doc_length_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions — ntile / percent_rank /
    cume_dist, the within-group position class no other gated query
    exercises (row_number top-k and RANGE frames are gated; relative
    position is not). Per-language length deciles drive curriculum
    ordering and length-balanced sampling in training pipelines. The
    window ORDER BY is (n_chars, doc_id) — a TOTAL order, which makes
    all three functions tie-free and deterministic (under ties ntile's
    bucket boundary would depend on physical row order). One hash
    shuffle on lang; percent_rank/cume_dist add no pass beyond the
    sort. Oracle runs DuckDB's same-named window functions over the
    identical frame — cross-engine semantics check (remainder buckets:
    the first n mod 10 deciles take the extra rows in both engines)."""
    from job_crawler_spark.functions.compat import stable_round
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.ntile(10).over(w).alias("decile"),
            stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
            stable_round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("doc_id")
    )


def _doc_length_ranks_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    return f"""
    SELECT doc_id, lang, n_chars,
           CAST(NTILE(10) OVER w AS INTEGER) AS decile,
           {stable_round_sql("PERCENT_RANK() OVER w", 6)} AS pct_rank,
           {stable_round_sql("CUME_DIST() OVER w", 6)} AS cume
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
    ORDER BY doc_id
"""


_DOC_LENGTH_RANKS_SQL = _doc_length_ranks_sql()


QUERIES = {
    "doc_tech_stack": q_doc_tech_stack,
    "bpe_pair_stats": q_bpe_pair_stats,
    "bpe_learn_merges": q_bpe_learn_merges,
    "doc_bpe_tokens": q_doc_bpe_tokens,
    "doc_chunks": q_doc_chunks,
    "doc_length_ranks": q_doc_length_ranks,
    "doc_shard_order": q_doc_shard_order,
    "quality_scores": q_quality_scores,
    "classifier_eval": q_classifier_eval,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ssjoin_prefix_pairs": q_ssjoin_prefix_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "minhash_incremental_pairs": q_minhash_incremental_pairs,
    "dup_clusters": q_dup_clusters,
    "dup_keep_canonical": q_dup_keep_canonical,
    "cluster_split_assign": q_cluster_split_assign,
    "doc_unigram_freq": q_doc_unigram_freq,
    "doc_lm_perplexity": q_doc_lm_perplexity,
    "lm_quality_buckets": q_lm_quality_buckets,
    "tfidf_top_terms": q_tfidf_top_terms,
    "doc_repetition": q_doc_repetition,
    "doc_stratified_sample": q_stratified_sample,
    "doc_weighted_sample": q_doc_weighted_sample,
    "doc_decontaminate": q_doc_decontaminate,
    "doc_length_quantiles": q_doc_length_quantiles,
    "lang_mixture_weights": q_lang_mixture_weights,
    "doc_pack_stats": q_doc_pack_stats,
    "dup_passages": q_dup_passages,
    "doc_excise_dups": q_doc_excise_dups,
}

ORACLES = {
    "doc_tech_stack": Q_DOC_TECH_STACK_SQL,
    "bpe_pair_stats": _bpe_pair_stats_sql(),
    "bpe_learn_merges": _bpe_learn_merges_sql(),
    "doc_bpe_tokens": _doc_bpe_tokens_sql(),
    "doc_chunks": _doc_chunks_sql(),
    "quality_scores": _quality_scores_sql(),
    "classifier_eval": _classifier_eval_sql(),
    "ngram_jaccard_pairs": Q_NGRAM_JACCARD_PAIRS_SQL,
    "ssjoin_prefix_pairs": Q_SSJOIN_PREFIX_PAIRS_SQL,
    "minhash_lsh_pairs": _minhash_sql(),
    "minhash_incremental_pairs": _minhash_incremental_sql(),
    "dup_clusters": _dup_clusters_sql(),
    "dup_keep_canonical": _dup_keep_canonical_sql(),
    "cluster_split_assign": _cluster_split_sql(),
    "doc_unigram_freq": _doc_unigram_freq_sql(),
    "doc_lm_perplexity": _doc_lm_perplexity_sql(),
    "lm_quality_buckets": _lm_quality_buckets_sql(),
    "tfidf_top_terms": _tfidf_sql(),
    "doc_repetition": _doc_repetition_sql(),
    "doc_length_ranks": _DOC_LENGTH_RANKS_SQL,
    "doc_shard_order": _DOC_SHARD_ORDER_SQL,
    "doc_stratified_sample": _stratified_sample_sql(),
    "doc_weighted_sample": _doc_weighted_sample_sql(),
    "doc_decontaminate": _DOC_DECONTAM_SQL,
    "doc_length_quantiles": _doc_length_quantiles_sql(),
    "lang_mixture_weights": _lang_mixture_sql(),
    "doc_pack_stats": _doc_pack_sql(),
    "dup_passages": _dup_passages_sql(),
    "doc_excise_dups": _doc_excise_dups_sql(),
}

"""job_crawler_spark — a PySpark-native crawl/analytics engine.

A from-scratch re-expression (NOT a port) of the query and data-processing
capabilities of the reference `gregorycarnegie/job_crawler` (single-node async
Python MCP job-crawl agent, surveyed in /root/repo/SURVEY.md), redesigned for
Spark's distributed execution model:

- DataFrame/SQL plans optimized by Catalyst (predicate pushdown, column
  pruning, broadcast joins, AQE skew handling).
- Vectorized pandas/Arrow UDFs only where built-in operators genuinely cannot
  express the semantics (Bloom-shard bytes, synthetic fetcher).
- A URL-frontier crawl loop: canonicalize -> dedup (Bloom prefilter + exact
  anti-join) -> politeness window-rank scheduling -> fetch -> span parse ->
  checkpointed commit, resumable mid-frontier.
- Training-data pipeline operators: MinHash/n-gram dedup, embedding
  similarity search, text quality analytics.
"""

__version__ = "0.1.0"

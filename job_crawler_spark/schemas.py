"""Explicit schemas the engine reads and writes: the crawl-engine tables
the north rule requires (frontier, seen, robots, crawl_log) and the
interleaved-document span shape from BASELINE.json's input_hint.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- BASELINE.json input_hint: interleaved text + media documents ---------
# spans ordered by offset; media_ref empty ("") for text kinds.
SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# --- Crawl-engine tables (north rule) --------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_at", T.TimestampType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("first_round", T.IntegerType(), False),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay", T.IntegerType(), False),
        T.StructField("allow", T.ArrayType(T.StringType(), False), False),
        T.StructField("deny", T.ArrayType(T.StringType(), False), False),
    ]
)

CRAWL_LOG_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("urls_scheduled", T.LongType(), False),
        T.StructField("urls_fetched", T.LongType(), False),
        T.StructField("urls_failed", T.LongType(), False),
        T.StructField("spans_parsed", T.LongType(), False),
    ]
)

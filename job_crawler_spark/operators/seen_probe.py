"""Spark scaffold of the URL-seen filter, shared by both backends.

This module owns the Spark side of the seen filter, which does not depend
on the filter format:

- ``with_shard``: the shard-id column, ``bloom.shard_of`` computed in
  Arrow batches (one blake2b digest per key, never a per-row scalar UDF);
- ``split_broadcast``: ship the whole filter to every executor and probe
  in ``mapInPandas`` — shuffle-free, right while the filter fits a
  broadcast;
- ``split_routed``: shuffle candidates to their shard's reducer and
  cogroup them with that shard's delta rows — peak task memory is ONE
  shard regardless of n_shards, nothing broadcast, one extra shuffle.

The backends own their format: ``bloom.py`` (also the shard hash both
backends use) and ``cuckoo.py`` each define a shard class with
``from_rows`` (duplicate shard ids = per-round deltas, merged) and
``might_contain_batch``, a ``SHARD_SCHEMA`` and ``build_shards``. Their
``split_by_*`` entry points are thin calls into this module.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def with_shard(
    df: DataFrame, key_col: str, n_shards: int, shard_col: str = "shard"
) -> DataFrame:
    """``df`` plus an int ``shard_col`` equal to ``bloom.shard_of(key)``."""
    # bloom imports this module for its probes
    from job_crawler_spark.operators.bloom import shard_ids

    schema = T.StructType(
        df.schema.fields + [T.StructField(shard_col, T.IntegerType(), False)]
    )

    def add_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[shard_col] = shard_ids(list(pdf[key_col]), n_shards)
            yield pdf

    return df.mapInPandas(add_shard, schema=schema)


def _flag_schema(batch: DataFrame) -> T.StructType:
    return T.StructType(
        batch.schema.fields
        + [T.StructField("__maybe_seen", T.BooleanType(), False)]
    )


def _split(flagged: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged). Both outputs filter the same
    ``flagged`` frame; it is persisted (and returned so the caller can
    unpersist after its action) because the two branches are usually
    unioned into ONE downstream action — without the persist the probe
    stage and its entire upstream plan execute twice."""
    flagged = flagged.persist()
    return (
        flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen"),
        flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen"),
        flagged,
    )


def split_broadcast(
    batch: DataFrame, spark: SparkSession, shards, key_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) via broadcast probe: each task
    probes the in-memory ``shards`` (BloomShards or CuckooShards) — no
    shuffle, no join."""
    bc = spark.sparkContext.broadcast(shards)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        flt = bc.value
        for pdf in batches:
            pdf["__maybe_seen"] = flt.might_contain_batch(list(pdf[key_col]))
            yield pdf

    return _split(batch.mapInPandas(probe, schema=_flag_schema(batch)))


def split_routed(
    batch: DataFrame,
    shards_df: DataFrame,
    key_col: str,
    n_shards: int,
    from_rows: Callable[[Iterable[tuple]], object],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) via shard-routed cogroup probe.

    ``from_rows`` builds the backend's shard object from the rows of ONE
    shard id (its round deltas); an absent shard yields an empty filter,
    which reports every key as new.
    """
    flag_schema = _flag_schema(batch)
    out_cols = flag_schema.fieldNames()

    def probe_group(cand: pd.DataFrame, shard_rows: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=out_cols)
        cand = cand.drop(columns=["__shard"])
        flt = from_rows(shard_rows.itertuples(index=False, name=None))
        cand["__maybe_seen"] = flt.might_contain_batch(list(cand[key_col]))
        return cand

    keyed = with_shard(batch, key_col, n_shards, "__shard")
    return _split(
        keyed.groupBy("__shard")
        .cogroup(shards_df.groupBy("shard"))
        .applyInPandas(probe_group, schema=flag_schema)
    )

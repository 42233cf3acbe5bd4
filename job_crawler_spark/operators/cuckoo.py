"""Partitioned cuckoo URL-seen filter: the deletable alternative to Bloom.

The north rule names a "partitioned Bloom/cuckoo URL-seen filter"; Bloom
(operators/bloom.py) is the default. This module provides the cuckoo
option — same sharded/broadcast layout, same one-sided contract ("not
present" is provable, "maybe present" goes to the exact anti-join) — with
one capability Bloom lacks: **deletion**, which is what a forced re-crawl
of a URL needs (remove it from the seen filter and the exact seen table;
the scheduler will admit it again).

Design (partial-key cuckoo, Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT 2014 — public paper, no code copied):

- per shard: ``n_buckets`` buckets x 4 slots of 16-bit fingerprints in a
  numpy uint16 array (0 = empty; fingerprints are forced nonzero);
- candidate buckets ``i1 = hash(key) % n_buckets`` and
  ``i2 = i1 XOR (hash(fp) % n_buckets)`` — computable from (bucket, fp)
  alone, which is what makes displacement and cross-shard merge possible;
- insert kicks resident fingerprints up to MAX_KICKS; if a kick chain
  exhausts, the displaced (homeless) fingerprint is recorded as a
  ``(bucket, fp)`` sentinel in the shard's overflow list — kicking only
  ever moves a fingerprint between its own two candidate buckets, so the
  sentinel answers lookups for whatever key it belonged to, preserving the
  no-false-negative contract for INSERTS unconditionally. Deletion carries
  the standard cuckoo caveat (and its sentinel analog): deleting a key
  whose fingerprint+bucket collide with another inserted key's can remove
  the other key's only copy — never delete keys that were not inserted;
- hashing is bloom.py's blake2b word triple (imported, not copied) with
  INDEPENDENT hash words for shard id, bucket index, and fingerprint (see
  bloom.py's shard/probe correlation note).

What this module owns: the cuckoo format — ``CuckooShards`` (build,
fingerprint re-insertion merge of round deltas in ``from_rows``, probe,
delete), ``SHARD_SCHEMA``, ``build_shards`` and the forced-recrawl
``delete_from_round_deltas``. The shard hash is bloom.py's; the Spark probe
scaffold (broadcast and shard-routed) is operators/seen_probe.py, which
``split_by_cuckoo``/``split_by_cuckoo_routed`` call.

Scale: identical story to Bloom shards — shard by hash, build each shard
in one Arrow batch (applyInPandas), broadcast the union, probe in
mapInPandas. At 10^10 keys: 16-bit fp at 95% load = ~2.4 GB total across
1024 shards (~2.4 MB each), FPR ~= 2 * 4 / 2^16 ~ 0.012%.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from job_crawler_spark.operators import seen_probe
from job_crawler_spark.operators.bloom import _h64_triple

SLOTS_PER_BUCKET = 4
MAX_KICKS = 500


@lru_cache(maxsize=None)  # only 65535 fingerprint values exist
def _fp_hash64(fp: int) -> int:
    d = hashlib.blake2b(fp.to_bytes(2, "little"), digest_size=8).digest()
    return int.from_bytes(d, "little")


def _fp_hash(fp: int, n_buckets: int) -> int:
    return _fp_hash64(fp) % n_buckets


def _alt_bucket(i: int, fp: int, n_buckets: int) -> int:
    # XOR in the index space folded back into range; self-inverse because
    # ((i ^ h) % n) ^ h % n == i % n only when n is a power of two — so
    # n_buckets is forced to a power of two in CuckooShards.__init__.
    return (i ^ _fp_hash(fp, n_buckets)) % n_buckets


class CuckooShards:
    """Sharded cuckoo filters keyed by shard id, broadcastable as rows."""

    def __init__(self, n_shards: int, n_buckets: int):
        if n_buckets & (n_buckets - 1):
            raise ValueError("n_buckets must be a power of two (XOR kicking)")
        self.n_shards = n_shards
        self.n_buckets = n_buckets
        # shard -> uint16[n_buckets * SLOTS_PER_BUCKET]
        self.tables: dict[int, np.ndarray] = {}
        # shard -> (bucket, fp) victim sentinels, duplicates allowed — a
        # LIST, not a set: two victims with the same (bucket, fp) must keep
        # their multiplicity or deleting one would erase both
        self.overflow: dict[int, list[str]] = {}

    def _table(self, s: int) -> np.ndarray:
        t = self.tables.get(s)
        if t is None:
            t = np.zeros(self.n_buckets * SLOTS_PER_BUCKET, dtype=np.uint16)
            self.tables[s] = t
        return t

    def _bucket_slots(self, i: int) -> slice:
        return slice(i * SLOTS_PER_BUCKET, (i + 1) * SLOTS_PER_BUCKET)

    def _insert_fp(
        self, t: np.ndarray, i1: int, fp: int, rng_seed: int
    ) -> tuple[int, int] | None:
        """Place ``fp`` whose (first) candidate bucket is ``i1``.

        Returns None on clean placement, else the homeless VICTIM
        ``(bucket, fp)`` displaced at the end of an exhausted kick chain.
        Cuckoo kicking only ever moves a fingerprint between its own two
        candidate buckets, so the victim's returned bucket is one of its
        own pair — a (bucket, fp) sentinel is sufficient to answer lookups
        for whatever key it belonged to."""
        for i in (i1, _alt_bucket(i1, fp, self.n_buckets)):
            b = t[self._bucket_slots(i)]
            empty = np.flatnonzero(b == 0)
            if empty.size:
                b[empty[0]] = fp
                return None
        # displacement: deterministic pseudo-random kick path (no wall clock)
        i, cur = i1, fp
        state = rng_seed or 1
        for _ in range(MAX_KICKS):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            slot = state % SLOTS_PER_BUCKET
            b = t[self._bucket_slots(i)]
            cur, b[slot] = int(b[slot]), cur
            i = _alt_bucket(i, cur, self.n_buckets)
            b = t[self._bucket_slots(i)]
            empty = np.flatnonzero(b == 0)
            if empty.size:
                b[empty[0]] = cur
                return None
        return (i, cur)

    def _record_victim(self, s: int, victim: tuple[int, int]) -> None:
        i, fp = victim
        self.overflow.setdefault(s, []).append(f"\x00fp:{i}:{fp}")

    def _key_coords(self, key: str) -> tuple[int, int, int, int]:
        """One blake2b digest per key (add/lookup/delete hot path): shard,
        first bucket, nonzero 16-bit fingerprint (0 marks an empty slot),
        kick seed."""
        h1, h2, h3 = _h64_triple(key)
        s = h1 % self.n_shards
        i1 = h2 % self.n_buckets
        fp = (h3 % 0xFFFF) + 1
        return s, i1, fp, h2

    def add(self, key: str) -> None:
        s, i1, fp, seed = self._key_coords(key)
        victim = self._insert_fp(self._table(s), i1, fp, seed)
        if victim is not None:
            # the new key's fp was swapped in at the head of the kick chain;
            # the homeless fp belongs to some earlier key — keep it findable
            self._record_victim(s, victim)

    def might_contain(self, key: str) -> bool:
        s, i1, fp, _ = self._key_coords(key)
        i2 = _alt_bucket(i1, fp, self.n_buckets)
        ov = self.overflow.get(s, ())
        if f"\x00fp:{i1}:{fp}" in ov or f"\x00fp:{i2}:{fp}" in ov:
            return True
        t = self.tables.get(s)
        if t is None:
            return False
        return bool(
            (t[self._bucket_slots(i1)] == fp).any()
            or (t[self._bucket_slots(i2)] == fp).any()
        )

    def might_contain_batch(self, keys) -> "np.ndarray":
        """might_contain over a key batch (the seen_probe scaffold's call)."""
        return np.array([self.might_contain(k) for k in keys], dtype=bool)

    def delete(self, key: str) -> bool:
        """Remove one instance of the key's fingerprint (forced re-crawl).
        Only call for keys actually inserted — deleting a never-inserted key
        (or one whose fingerprint+buckets collide with another inserted
        key's) can evict that other key's copy: standard cuckoo caveat.
        Table slots are preferred over victim sentinels so a delete consumes
        the most ordinary copy first."""
        s, i1, fp, _ = self._key_coords(key)
        i2 = _alt_bucket(i1, fp, self.n_buckets)
        t = self.tables.get(s)
        if t is not None:
            for i in (i1, i2):
                b = t[self._bucket_slots(i)]
                hits = np.flatnonzero(b == fp)
                if hits.size:
                    b[hits[0]] = 0
                    return True
        ov = self.overflow.get(s)
        if ov:
            for sentinel in (f"\x00fp:{i1}:{fp}", f"\x00fp:{i2}:{fp}"):
                if sentinel in ov:
                    ov.remove(sentinel)  # one instance — multiplicity kept
                    return True
        return False

    # -- (de)serialization / merge (same shapes as BloomShards) ---------------
    def to_rows(self) -> list[tuple[int, bytes, list[str]]]:
        shard_ids = sorted(set(self.tables) | set(self.overflow))
        return [
            (
                s,
                self._table(s).tobytes(),
                sorted(self.overflow.get(s, [])),
            )
            for s in shard_ids
        ]

    @classmethod
    def from_rows(
        cls,
        rows: Iterable[tuple[int, bytes, list[str]]],
        n_shards: int,
        n_buckets: int,
    ) -> "CuckooShards":
        """Load ``(shard, table, overflow)`` rows. A duplicate shard id (the
        engine's per-round deltas) is merged by fingerprint re-insertion —
        membership-preserving, like ``merge``."""
        cs = cls(n_shards, n_buckets)
        for s, blob, ov in rows:
            s = int(s)
            t = np.frombuffer(blob, dtype=np.uint16)
            if s in cs.tables:
                cs._reinsert(s, t)
            else:
                cs.tables[s] = t.copy()
            if len(ov):
                cs.overflow.setdefault(s, []).extend(ov)
        return cs

    def _reinsert(self, s: int, t: np.ndarray) -> None:
        """Insert table ``t``'s resident fingerprints into shard ``s`` (bucket
        index is known, alt bucket computable from (i, fp) — the partial-key
        property). Iterates only OCCUPIED slots (flatnonzero), not all
        buckets: cost is O(resident fingerprints), not O(table size)."""
        mine = self._table(s)
        for idx in np.flatnonzero(t):
            fp = int(t[idx])
            victim = self._insert_fp(mine, int(idx) // SLOTS_PER_BUCKET, fp, fp)
            if victim is not None:
                self._record_victim(s, victim)

    def merge(self, other: "CuckooShards") -> "CuckooShards":
        """Re-insert the other's resident fingerprints; overflow lists union."""
        assert (self.n_shards, self.n_buckets) == (other.n_shards, other.n_buckets)
        for s, t in other.tables.items():
            self._reinsert(s, t)
        for s, ov in other.overflow.items():
            self.overflow.setdefault(s, []).extend(ov)
        return self


SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("overflow", T.ArrayType(T.StringType(), False), False),
    ]
)


def shard_bytes(n_buckets: int) -> int:
    """Configured size of one shard's table: buckets x slots x 2-byte
    fingerprints (the engine's broadcast-vs-routed threshold input)."""
    return n_buckets * SLOTS_PER_BUCKET * 2


def build_shards(
    keys: DataFrame, key_col: str, n_shards: int, n_buckets: int
) -> DataFrame:
    """Distributed shard build: one shuffle on the shard id, each shard's
    table built inside one Arrow-batched group (mirrors bloom.build_shards)."""

    def build_one(pdf: pd.DataFrame) -> pd.DataFrame:
        cs = CuckooShards(n_shards, n_buckets)
        # sorted: cuckoo kick paths make table bytes insertion-order
        # dependent, and Spark's shuffle doesn't guarantee group row order —
        # sorting pins the delta blobs byte-stable across replays
        for key in sorted(pdf[key_col]):
            cs.add(key)
        rows = cs.to_rows()
        return pd.DataFrame(
            {
                "shard": [r[0] for r in rows],
                "table": [r[1] for r in rows],
                "overflow": [r[2] for r in rows],
            }
        )

    keyed = seen_probe.with_shard(keys.select(key_col), key_col, n_shards)
    return keyed.groupBy("shard").applyInPandas(build_one, schema=SHARD_SCHEMA)


def collect_shards(
    spark_df: DataFrame, n_shards: int, n_buckets: int
) -> CuckooShards:
    """Collect shard rows (round deltas merged by fingerprint re-insertion)
    into one CuckooShards."""
    return CuckooShards.from_rows(spark_df.collect(), n_shards, n_buckets)


def split_by_cuckoo(
    batch: DataFrame,
    spark: SparkSession,
    shards: CuckooShards,
    key_col: str = "url_canon",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) — same contract as
    bloom.split_by_bloom (seen_probe.split_broadcast)."""
    return seen_probe.split_broadcast(batch, spark, shards, key_col)


def delete_from_round_deltas(
    shards: DataFrame, victims: DataFrame, n_shards: int, n_buckets: int
) -> DataFrame:
    """Distributed forced-recrawl delete over round-keyed shard deltas.

    ``shards``: SHARD_SCHEMA + a ``round`` column (the engine's per-round
    deltas). ``victims``: (url_canon, first_round) — each key is deleted
    ONLY from the delta of the round that inserted it (the seen table
    records first_round), which avoids collateral fingerprint evictions in
    unrelated rounds. Row-wise mapInPandas: every (round, shard) delta is
    one independent row; the victim keys ride along via a broadcast-joined
    array column. Returns the full input with affected deltas rewritten.
    """

    keyed = seen_probe.with_shard(
        victims.select("url_canon", "first_round"), "url_canon", n_shards
    )
    per_delta = keyed.groupBy(
        F.col("first_round").alias("round"), "shard"
    ).agg(F.sort_array(F.collect_list("url_canon")).alias("__victims"))

    joined = shards.join(F.broadcast(per_delta), ["round", "shard"], "left")
    out_schema = T.StructType(
        list(shards.schema.fields)
    )

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tables, overflows = [], []
            for blob, ov, vics, shard in zip(
                pdf["table"], pdf["overflow"], pdf["__victims"], pdf["shard"]
            ):
                if vics is None or len(vics) == 0:
                    tables.append(bytes(blob))
                    overflows.append(list(ov))
                    continue
                cs = CuckooShards.from_rows(
                    [(int(shard), bytes(blob), list(ov))], n_shards, n_buckets
                )
                for k in vics:  # already sorted: deterministic byte output
                    cs.delete(k)
                rows = cs.to_rows()
                tables.append(rows[0][1])
                overflows.append(rows[0][2])
            yield pd.DataFrame(
                {
                    "shard": pdf["shard"],
                    "table": tables,
                    "overflow": overflows,
                    "round": pdf["round"],
                }
            )

    return joined.mapInPandas(rewrite, schema=out_schema)


def split_by_cuckoo_routed(
    batch: DataFrame,
    shards_df: DataFrame,
    n_shards: int,
    n_buckets: int,
    key_col: str = "url_canon",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shard-routed probe (seen_probe.split_routed): each reducer merges its
    one shard's round deltas by fingerprint re-insertion and probes it."""
    return seen_probe.split_routed(
        batch, shards_df, key_col, n_shards,
        lambda rows: CuckooShards.from_rows(rows, n_shards, n_buckets),
    )

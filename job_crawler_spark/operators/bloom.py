"""Partitioned Bloom URL-seen filter: broadcast prefilter for frontier dedup.

The reference's URL-seen set is a SQLite ``url UNIQUE`` constraint plus an
in-memory ``set`` consulted before insert (main.py:141, main.py:518) — the
classic cheap-prefilter-before-exact-check. At 10^10 URLs the exact set is
an Iceberg table and the prefilter becomes **sharded Bloom bitmaps**:

- shard by ``pmod(hash64(url_canon), n_shards)`` so each shard stays small
  enough to build in one Arrow batch and the union broadcasts;
- k probe positions via double hashing h_i = (h1 + i*h2) mod m (Kirsch &
  Mitzenmacher 2006 — two hashes suffice for Bloom-optimal behavior);
- one-sided error by construction: "not seen" is PROVABLE (the URL skips
  the expensive anti-join shuffle entirely); "maybe seen" goes to the exact
  ``left_anti`` join, which is authoritative (SURVEY.md §2.9 T4) — a false
  positive can never drop a new URL.

Sandbox sizing: shards sized for the simulated scale. Real-scale parameters
(documented, not allocated): 10^10 keys at 10 bits/key = ~12.5 GB total →
1024 shards of ~12 MB; k=7 gives ~0.8% FPR. Per-round maintenance appends
only the current round's new URLs to the affected shards (round-keyed
deltas).

What this module owns: the shard hash both backends use (``_h64_triple``,
``_triples_arr``, ``shard_of``, ``shard_ids`` — cuckoo.py imports them) and
the Bloom format: ``BloomShards`` (build, OR-merge of round deltas in
``from_rows``, probe), ``SHARD_SCHEMA`` and ``build_shards``. The Spark
probe scaffold is operators/seen_probe.py; ``split_by_bloom`` (broadcast)
and ``split_by_bloom_routed`` (shard-routed, for filters beyond a
broadcast — the 12.5 GB design point) are thin calls into it, and the
engine picks one from the merged filter's configured size.

Hashing is hashlib.blake2b — stable across Python processes (unlike
``hash()``), no external deps, and independent of Spark's xxhash64 so a JVM
upgrade can never silently re-index the bitmaps.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from job_crawler_spark.operators import seen_probe


def _h64_triple(key: str) -> tuple[int, int, int]:
    d = hashlib.blake2b(key.encode("utf-8"), digest_size=24).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:16], "little"),
        int.from_bytes(d[16:], "little"),
    )


def _triples_arr(keys) -> "np.ndarray":
    """(n, 3) uint64 blake2b word triples for a batch of keys — ONE digest
    per key (the scalar paths hash twice: shard_of + _probe_positions),
    decoded in bulk via frombuffer instead of per-word int.from_bytes."""
    blake2b = hashlib.blake2b
    digs = b"".join(
        blake2b(k.encode("utf-8"), digest_size=24).digest() for k in keys
    )
    return np.frombuffer(digs, dtype="<u8").reshape(-1, 3)


def _positions_arr(tr: "np.ndarray", m_bits: int, k: int) -> "np.ndarray":
    """(n, k) int64 probe positions, bit-identical to _probe_positions.

    Exactness: (h2 + i*h3) % m == ((h2 % m) + i*((h3|1) % m)) % m, and with
    both residues < m_bits the int64 products never overflow for any sane
    (m_bits, k) — so no arbitrary-precision loop is needed."""
    h2 = (tr[:, 1] % np.uint64(m_bits)).astype(np.int64)
    h3 = ((tr[:, 2] | np.uint64(1)) % np.uint64(m_bits)).astype(np.int64)
    i = np.arange(k, dtype=np.int64)[None, :]
    return (h2[:, None] + i * h3[:, None]) % m_bits


def shard_of(key: str, n_shards: int) -> int:
    return _h64_triple(key)[0] % n_shards


def shard_ids(keys, n_shards: int) -> "np.ndarray":
    """(n,) int32 shard_of for a batch of keys, one digest per key."""
    return (_triples_arr(keys)[:, 0] % np.uint64(n_shards)).astype(np.int32)


def _probe_positions(key: str, m_bits: int, k: int) -> list[int]:
    # Probe base/step come from DIFFERENT hash words than the shard id: with
    # a shared word, n_shards | m_bits makes probe 0 of every key in shard s
    # congruent to s (mod n_shards), confining it to 1/n_shards of the bitmap
    # and inflating the FPR ~an order of magnitude above the k-hash design.
    _, h2, h3 = _h64_triple(key)
    # force the step odd so probes cycle through the full bitmap
    h3 |= 1
    return [((h2 + i * h3) % m_bits) for i in range(k)]


class BloomShards:
    """A set of Bloom bitmaps keyed by shard id, broadcastable as a dict."""

    def __init__(self, n_shards: int, m_bits: int, k: int):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k
        self.bitmaps: dict[int, np.ndarray] = {}

    # -- single-process core (also the oracle) --------------------------------
    def add(self, key: str) -> None:
        s = shard_of(key, self.n_shards)
        bm = self.bitmaps.get(s)
        if bm is None:
            bm = np.zeros(self.m_bits // 8 + 1, dtype=np.uint8)
            self.bitmaps[s] = bm
        for pos in _probe_positions(key, self.m_bits, self.k):
            bm[pos >> 3] |= 1 << (pos & 7)

    def might_contain(self, key: str) -> bool:
        bm = self.bitmaps.get(shard_of(key, self.n_shards))
        if bm is None:
            return False
        return all(
            bm[pos >> 3] & (1 << (pos & 7))
            for pos in _probe_positions(key, self.m_bits, self.k)
        )

    def might_contain_batch(self, keys) -> "np.ndarray":
        """Vectorized might_contain over a key batch — bit-identical to
        the scalar form (parity pinned in tests/test_dedup_bloom.py): one
        digest per key, keys grouped by shard id, and each present shard's
        bitmap probed in place with one fancy-indexed gather. No stacked
        copy of the filter: a routed probe holding one shard touches only
        that shard's bitmap."""
        hit = np.zeros(len(keys), dtype=bool)
        if not len(keys):
            return hit
        tr = _triples_arr(keys)
        shard = tr[:, 0] % np.uint64(self.n_shards)
        order = np.argsort(shard, kind="stable")
        for rows in np.split(order, np.flatnonzero(np.diff(shard[order])) + 1):
            bm = self.bitmaps.get(int(shard[rows[0]]))
            if bm is None:
                continue  # absent shard: nothing inserted there
            pos = _positions_arr(tr[rows], self.m_bits, self.k)
            bits = (bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            hit[rows] = bits.all(axis=1)
        return hit

    # -- (de)serialization for the seen_shards table ---------------------------
    def to_rows(self) -> list[tuple[int, bytes]]:
        return [(s, bm.tobytes()) for s, bm in sorted(self.bitmaps.items())]

    @classmethod
    def from_rows(
        cls, rows: Iterable[tuple[int, bytes]], n_shards: int, m_bits: int, k: int
    ) -> "BloomShards":
        """Load ``(shard, bitmap)`` rows. Duplicate shard ids are OR-merged —
        the engine stores per-ROUND shard deltas (replay-idempotent
        rewrite), so several rows per shard are normal."""
        bs = cls(n_shards, m_bits, k)
        for s, blob in rows:
            arr = np.frombuffer(blob, dtype=np.uint8)
            bm = bs.bitmaps.get(int(s))
            if bm is None:
                bs.bitmaps[int(s)] = arr.copy()
            else:
                bm |= arr
        return bs

    def merge(self, other: "BloomShards") -> "BloomShards":
        assert (self.n_shards, self.m_bits, self.k) == (
            other.n_shards, other.m_bits, other.k,
        )
        for s, bm in other.bitmaps.items():
            if s in self.bitmaps:
                self.bitmaps[s] = np.bitwise_or(self.bitmaps[s], bm)
            else:
                self.bitmaps[s] = bm.copy()
        return self


SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
    ]
)


def shard_bytes(m_bits: int, k: int) -> int:
    """Configured size of one shard's bitmap (the engine's broadcast-vs-
    routed threshold input; ``k`` keeps the build_shards parameter order)."""
    return m_bits // 8


def build_shards(
    keys: DataFrame, key_col: str, n_shards: int, m_bits: int, k: int
) -> DataFrame:
    """Distributed shard build: repartition keys by shard, build each shard's
    bitmap inside one Arrow-batched group (applyInPandas). One shuffle on the
    shard id — uniform by construction (hash sharding)."""

    def build_one(pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized build, bit-identical to BloomShards.add (the scalar
        # form is the single-process oracle; parity pinned in
        # tests/test_dedup_bloom.py): one digest per key, positions in
        # bulk, bits set with bitwise_or.at instead of a per-bit Python
        # loop — the shard-delta write was an engine-round hot phase.
        pos = _positions_arr(_triples_arr(list(pdf[key_col])), m_bits, k)
        bm = np.zeros(m_bits // 8 + 1, dtype=np.uint8)
        np.bitwise_or.at(
            bm,
            (pos >> 3).ravel(),
            np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)).ravel(),
        )
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [bm.tobytes()]}
        )

    keyed = seen_probe.with_shard(keys.select(key_col), key_col, n_shards)
    return keyed.groupBy("shard").applyInPandas(build_one, schema=SHARD_SCHEMA)


def collect_shards(
    spark_df: DataFrame, n_shards: int, m_bits: int, k: int
) -> BloomShards:
    """Collect shard rows (round deltas OR-merged) into one BloomShards."""
    return BloomShards.from_rows(spark_df.collect(), n_shards, m_bits, k)


def split_by_bloom(
    batch: DataFrame,
    spark: SparkSession,
    shards: BloomShards,
    key_col: str = "url_canon",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) split via broadcast Bloom probe.

    ``provably_new`` skips the exact anti-join; ``maybe_seen`` must be
    confirmed against the seen table; ``flagged`` is persisted — unpersist
    it after the action (seen_probe.split_broadcast)."""
    return seen_probe.split_broadcast(batch, spark, shards, key_col)


def split_by_bloom_routed(
    batch: DataFrame,
    shards_df: DataFrame,
    n_shards: int,
    m_bits: int,
    k: int,
    key_col: str = "url_canon",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) via SHARD-ROUTED probe
    (seen_probe.split_routed): each reducer OR-merges its one shard's round
    deltas and probes only that bitmap."""
    return seen_probe.split_routed(
        batch, shards_df, key_col, n_shards,
        lambda rows: BloomShards.from_rows(rows, n_shards, m_bits, k),
    )

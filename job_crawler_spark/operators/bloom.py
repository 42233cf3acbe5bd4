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

Two probe strategies; the engine picks one from the merged filter's
configured size:

- ``broadcast`` (split_by_bloom): ship the whole filter to every executor,
  probe in-place — shuffle-free, right while the filter fits a broadcast
  (up to a few hundred MB).
- ``routed`` (split_by_bloom_routed): shuffle candidates to their shard's
  reducer and probe ONLY that shard via cogroup — peak memory per task is
  ONE shard regardless of n_shards, nothing broadcast. The 12.5 GB design
  point runs this way; it costs one extra shuffle of the candidate batch.

Hashing is hashlib.blake2b — stable across Python processes (unlike
``hash()``), no external deps, and independent of Spark's xxhash64 so a JVM
upgrade can never silently re-index the bitmaps.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def _probe_positions(key: str, m_bits: int, k: int) -> list[int]:
    # Probe base/step come from DIFFERENT hash words than the shard id: with
    # a shared word, n_shards | m_bits makes probe 0 of every key in shard s
    # congruent to s (mod n_shards), confining it to 1/n_shards of the bitmap
    # and inflating the FPR ~an order of magnitude above the k-hash design.
    _, h2, h3 = _h64_triple(key)
    # force the step odd so probes cycle through the full bitmap
    h3 |= 1
    return [((h2 + i * h3) % m_bits) for i in range(k)]


def optimal_bits(n_keys: int, fpr: float = 0.01) -> int:
    return max(64, int(-n_keys * math.log(fpr) / (math.log(2) ** 2)))


def optimal_k(m_bits: int, n_keys: int) -> int:
    return max(1, int(round(m_bits / max(n_keys, 1) * math.log(2))))


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
        digest per key, all bitmaps stacked into one matrix, the k probe
        lookups as a single fancy-indexed gather."""
        n = len(keys)
        if n == 0:
            return np.zeros(0, dtype=bool)
        stride = self.m_bits // 8 + 1
        mat = np.zeros((self.n_shards, stride), dtype=np.uint8)
        for s, bm in self.bitmaps.items():
            mat[int(s), : len(bm)] = bm
        tr = _triples_arr(keys)
        shard_ids = (tr[:, 0] % np.uint64(self.n_shards)).astype(np.int64)
        pos = _positions_arr(tr, self.m_bits, self.k)
        vals = mat[shard_ids[:, None], pos >> 3]
        bits = (vals >> (pos & 7).astype(np.uint8)) & 1
        hit = bits.all(axis=1)
        # empty shards (no bitmap row) must report False even though the
        # zero matrix row already does; keep the explicit mask for parity
        # with the dict-miss branch of the scalar form
        present = np.zeros(self.n_shards, dtype=bool)
        for s in self.bitmaps:
            present[int(s)] = True
        return hit & present[shard_ids]

    # -- (de)serialization for the seen_shards table / broadcast --------------
    def to_rows(self) -> list[tuple[int, bytes]]:
        return [(s, bm.tobytes()) for s, bm in sorted(self.bitmaps.items())]

    @classmethod
    def from_rows(
        cls, rows: list[tuple[int, bytes]], n_shards: int, m_bits: int, k: int
    ) -> "BloomShards":
        bs = cls(n_shards, m_bits, k)
        for s, blob in rows:
            bs.bitmaps[int(s)] = np.frombuffer(blob, dtype=np.uint8).copy()
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
        keys = list(pdf[key_col])
        if not keys:
            return pd.DataFrame({"shard": [], "bitmap": []})
        tr = _triples_arr(keys)
        shard_ids = (tr[:, 0] % np.uint64(n_shards)).astype(np.int64)
        out_s, out_b = [], []
        for s in np.unique(shard_ids):
            pos = _positions_arr(tr[shard_ids == s], m_bits, k)
            bm = np.zeros(m_bits // 8 + 1, dtype=np.uint8)
            np.bitwise_or.at(
                bm,
                (pos >> 3).ravel(),
                np.left_shift(
                    np.uint8(1), (pos & 7).astype(np.uint8)
                ).ravel(),
            )
            out_s.append(int(s))
            out_b.append(bm.tobytes())
        return pd.DataFrame({"shard": out_s, "bitmap": out_b})

    # shard id must match shard_of() exactly (same blake2b), so it is
    # computed in an Arrow-batched mapInPandas — never a per-row scalar UDF.
    def add_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = list(pdf[key_col])
            shards = (
                (_triples_arr(keys)[:, 0] % np.uint64(n_shards)).astype(
                    np.int32
                )
                if keys
                else np.array([], dtype=np.int32)
            )
            yield pd.DataFrame({key_col: pdf[key_col], "shard": shards})

    keyed = keys.select(key_col).mapInPandas(
        add_shard, schema=f"{key_col} string, shard int"
    )
    return keyed.groupBy("shard").applyInPandas(build_one, schema=SHARD_SCHEMA)


def merge_shard_tables(existing: DataFrame, new: DataFrame) -> DataFrame:
    """OR together bitmaps per shard (per-round seen_shards maintenance)."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: np.ndarray | None = None
        for blob in pdf["bitmap"]:
            arr = np.frombuffer(blob, dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [acc.tobytes()]}
        )

    return (
        existing.unionByName(new)
        .groupBy("shard")
        .applyInPandas(merge_group, schema=SHARD_SCHEMA)
    )


def collect_shards(
    spark_df: DataFrame, n_shards: int, m_bits: int, k: int
) -> BloomShards:
    """Collect shard rows into one broadcastable BloomShards. Duplicate rows
    per shard id are OR-merged — the engine stores per-ROUND shard deltas
    (replay-idempotent rewrite), so multiple rows per shard are normal."""
    bs = BloomShards(n_shards, m_bits, k)
    for r in spark_df.collect():
        arr = np.frombuffer(bytes(r.bitmap), dtype=np.uint8)
        s = int(r.shard)
        if s in bs.bitmaps:
            bs.bitmaps[s] = np.bitwise_or(bs.bitmaps[s], arr)
        else:
            bs.bitmaps[s] = arr.copy()
    return bs


def split_by_bloom(
    batch: DataFrame,
    spark: SparkSession,
    shards: BloomShards,
    key_col: str = "url_canon",
    persist: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) split via broadcast Bloom probe.

    ``provably_new`` skips the exact anti-join; ``maybe_seen`` must be
    confirmed against the seen table. mapInPandas + sc.broadcast: each task
    probes the in-memory bitmaps — no shuffle, no join.

    Both outputs filter the same ``flagged`` DataFrame; it is persisted (and
    returned so the caller can unpersist after its action) because the two
    branches are usually unioned into ONE downstream action — without the
    persist the probe stage and its entire upstream plan execute twice.
    """
    bc = spark.sparkContext.broadcast(
        (shards.to_rows(), shards.n_shards, shards.m_bits, shards.k)
    )
    flag_schema = T.StructType(
        batch.schema.fields + [T.StructField("__maybe_seen", T.BooleanType(), False)]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows, n_shards, m_bits, k = bc.value
        bs = BloomShards.from_rows(rows, n_shards, m_bits, k)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["__maybe_seen"] = bs.might_contain_batch(list(pdf[key_col]))
            yield pdf

    flagged = batch.mapInPandas(probe, schema=flag_schema)
    if persist:
        flagged = flagged.persist()
    return (
        flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen"),
        flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen"),
        flagged,
    )


def split_by_bloom_routed(
    batch: DataFrame,
    shards_df: DataFrame,
    n_shards: int,
    m_bits: int,
    k: int,
    key_col: str = "url_canon",
    persist: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(provably_new, maybe_seen, flagged) via SHARD-ROUTED probe — see
    operators/routing.py for the shared scaffold. Per-shard blobs are
    OR-merged locally before probing (duplicate rows per shard id are the
    engine's per-round deltas)."""
    from job_crawler_spark.operators.routing import split_by_routed

    def probe(shard_rows: pd.DataFrame, keys) -> list:
        acc: np.ndarray | None = None
        for blob in shard_rows["bitmap"]:
            arr = np.frombuffer(bytes(blob), dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
        bs = BloomShards(n_shards, m_bits, k)
        bs.bitmaps[int(shard_rows["shard"].iloc[0])] = acc
        return list(bs.might_contain_batch(list(keys)))

    return split_by_routed(
        batch, shards_df, key_col, n_shards, shard_of, probe, persist
    )

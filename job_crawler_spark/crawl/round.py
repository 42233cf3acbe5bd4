"""The crawl round loop: schedule -> fetch -> parse -> commit, resumable.

Spark-first re-expression of the reference's flagship pipeline
``search_jobs_with_analysis_framework`` (main.py:479-566, SURVEY.md §3.1):
validate -> fetch -> dedup -> limit -> enrich -> lineage log, generalized to
the north rule's round-based URL-frontier crawl:

  round k:
    1. read pending frontier (latest catalog snapshot)
    2. politeness-schedule the batch (per-host budget window rank)
    3. fetch + parse scheduled URLs (Arrow-batched stages)
    4. enrich documents (pure column expressions)
    5. expand outlinks -> new frontier candidates, dedup:
         Bloom prefilter (broadcast shards) -> exact anti-join vs seen
    6. COMMIT, in replay-idempotent order:
         schedule_log, documents, seen_shards delta, seen (each a
         round-keyed rewrite) -> frontier (overwrite) ->
         crawl_log (per-partition lineage, round-keyed rewrite) ->
         checkpoint marker (LAST)

Because the checkpoint marker commits last and every earlier write is
idempotent (a round-keyed rewrite replaces the replay's own partition; the
frontier overwrite is derived from the pinned snapshot), a job killed
mid-round replays exactly that round and converges to the same state — the
kill-and-resume contract of BASELINE.json.
Determinism: batch selection is a pure function of the frontier snapshot
(total order (priority DESC, url_canon ASC)), fetch/parse are deterministic,
so replayed rounds are bit-identical.

Failed fetches are committed to ``seen`` (no retry) and counted in lineage —
the reference's errors-degrade-never-raise policy (main.py:241-243).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from job_crawler_spark import schemas
from job_crawler_spark.catalog import Catalog
from job_crawler_spark.crawl import fetcher, parser
from job_crawler_spark.functions.urls import canonicalize_url_col, host_col
from job_crawler_spark.operators import bloom, cuckoo
from job_crawler_spark.operators.dedup import anti_join_seen, first_wins_agg
from job_crawler_spark.operators.politeness import (
    DEFAULT_SALT_BUCKETS,
    salt_width,
    schedule_batch,
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("docs_total", T.LongType(), False),
        T.StructField("seen_total", T.LongType(), False),
        T.StructField("frontier_pending", T.LongType(), False),
        # snapshot versions AFTER this round's commits — the next round (and
        # any replay of it) reads its inputs as-of these versions, never
        # "latest": time travel is what makes mid-frontier resume exact.
        T.StructField("frontier_v", T.IntegerType(), False),
        T.StructField("seen_v", T.IntegerType(), False),
        T.StructField("shards_v", T.IntegerType(), False),
    ]
)

PENDING_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Largest merged seen filter the engine broadcasts to every executor; a
# bigger one is probed routed (candidates shuffled to their shard's reducer,
# peak task memory one shard — the 10^10-key design point).
BROADCAST_FILTER_MAX_BYTES = 256 << 20

# Auto-compaction policy (_maybe_compact): run() compacts the documents
# table once the re-crawl backlog (victims force_recrawl re-admitted, each
# of which leaves one superseded copy once refetched) reaches this fraction
# of the table's physical rows — an in-memory counter against a manifest
# row count, no table scan.
COMPACT_SUPERSEDED_FRAC = 0.2
# The backlog counter is lost on restart, so every this many rounds the
# policy audits the EXACT superseded count (physical rows minus distinct
# doc_ids, one single-column aggregate) and compacts from that.
COMPACT_CHECK_ROUNDS = 16

# seen_filter -> (backend module, the engine fields that follow bloom_shards
# in its build_shards/collect_shards signature, broadcast probe, routed probe)
_SEEN_FILTERS = {
    "bloom": (
        bloom, ("bloom_bits", "bloom_k"),
        bloom.split_by_bloom, bloom.split_by_bloom_routed,
    ),
    "cuckoo": (
        cuckoo, ("cuckoo_buckets",),
        cuckoo.split_by_cuckoo, cuckoo.split_by_cuckoo_routed,
    ),
}


def _latest_wins(docs: DataFrame) -> DataFrame:
    """One row per doc_id: the copy from the highest round."""
    w = Window.partitionBy("doc_id").orderBy(F.col("round").desc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@dataclass
class CrawlEngine:
    spark: SparkSession
    catalog: Catalog
    robots: DataFrame
    round_seconds: int = 60
    # URL-seen prefilter backend: "bloom" (default) or "cuckoo" (deletable).
    # Correctness-neutral either way — the exact anti-join is authoritative.
    # The probe is broadcast while the merged filter fits under
    # BROADCAST_FILTER_MAX_BYTES and routed beyond it.
    seen_filter: str = "bloom"
    bloom_shards: int = 64
    bloom_bits: int = 1 << 20
    bloom_k: int = 5
    # cuckoo backend sizing: 1<<14 buckets x 4 slots x 2 B = 128 KiB/shard —
    # the same footprint as the bloom default, NOT bloom_bits (a 1<<20-bucket
    # table would be 8 MiB/shard, 512 MiB broadcast per round)
    cuckoo_buckets: int = 1 << 14
    # Documents are merge-on-read: each round appends a round-keyed
    # partition (O(round) commit, like real Iceberg MoR); read_docs()
    # resolves superseded copies, compact_docs() folds them away.
    # auto_compact: run() compacts between rounds (see _maybe_compact).
    auto_compact: bool = True
    # one checkpoint-row dict per round this engine committed
    stats: list[dict] = field(default_factory=list, init=False)
    # URLs force_recrawl re-admitted since the last compaction (upper bound
    # on superseded doc copies being created by subsequent rounds)
    _recrawl_backlog: int = field(default=0, init=False, repr=False)
    _rounds_since_compact_check: int = field(default=0, init=False, repr=False)

    def __post_init__(self) -> None:
        if self.seen_filter not in _SEEN_FILTERS:
            raise ValueError(
                f"seen_filter must be 'bloom' or 'cuckoo', got {self.seen_filter!r}"
            )
        (
            self._filter, self._filter_fields,
            self._split_broadcast, self._split_routed,
        ) = _SEEN_FILTERS[self.seen_filter]

    # Not a setting: run_round sizes its phase-1 salt from the pinned
    # checkpoint row (politeness.salt_width). This static width is read
    # only by the benchmark's out-of-round schedule_batch replay.
    salt_buckets = DEFAULT_SALT_BUCKETS

    # table names
    T_FRONTIER = "frontier"
    T_SEEN = "seen"
    T_SHARDS = "seen_shards"
    T_DOCS = "documents"
    T_LOG = "crawl_log"
    T_CKPT = "checkpoints"
    T_SCHED = "schedule_log"
    T_BLOOM_META = "bloom_meta"

    BLOOM_META_SCHEMA = T.StructType(
        [
            T.StructField("backend", T.StringType(), False),
            T.StructField("n_shards", T.IntegerType(), False),
            T.StructField("m_bits", T.LongType(), False),  # cuckoo: n_buckets
            T.StructField("k", T.IntegerType(), False),    # cuckoo: 0
        ]
    )

    def _filter_params(self) -> tuple[int, ...]:
        """The backend's parameters after n_shards, read from the fields on
        every call (a resume check compares them with the catalog's)."""
        return tuple(getattr(self, f) for f in self._filter_fields)

    def _meta_tuple(self) -> tuple[str, int, int, int]:
        # cuckoo persists its n_buckets as m_bits and k = 0
        m, k = (*self._filter_params(), 0)[:2]
        return (self.seen_filter, self.bloom_shards, m, k)

    def _check_bloom_params(self) -> None:
        """The persisted shard bitmaps/tables are only meaningful under the
        exact backend + parameters that built them — resuming with different
        ones would silently probe wrong bits (or crash on blob length).
        Pinned at bootstrap, validated on every round; a catalog without
        the pinned row cannot be validated, so it is refused too."""
        rows = self.catalog.rows(self.T_BLOOM_META)
        meta = rows[0] if rows else {}
        if "backend" not in meta:
            raise ValueError(
                f"catalog has no {self.T_BLOOM_META} row with a backend "
                "field (bootstrap always writes one); its seen_shards cannot "
                "be checked against the engine's filter parameters"
            )
        got = (
            meta["backend"],
            int(meta["n_shards"]),
            int(meta["m_bits"]),
            int(meta["k"]),
        )
        want = self._meta_tuple()
        if got != want:
            raise ValueError(
                f"bloom parameter mismatch: catalog built with "
                f"(backend, n_shards, m_bits, k)={got}, engine configured "
                f"{want}; resuming would mis-probe persisted seen_shards"
            )

    # -- seen-filter backend dispatch ------------------------------------------
    # The seen_shards table stores per-ROUND deltas (backend shard schema +
    # a round column): each round's delta is written with the same
    # round-keyed idempotent rewrite as the other per-round tables, so a
    # crash-and-replay rewrites its own delta instead of re-merging into an
    # already-merged table. Bloom OR-merge happens to be idempotent, but
    # cuckoo fingerprint insertion is NOT — deltas make replay exact for
    # both. The backend's from_rows merges a shard's round deltas: all of
    # them on the driver for the broadcast probe, one shard's per reducer
    # for the routed probe.

    def _filter_schema(self) -> T.StructType:
        return T.StructType(
            list(self._filter.SHARD_SCHEMA.fields)
            + [T.StructField("round", T.IntegerType(), False)]
        )

    def _build_filter_shards(self, keys: DataFrame) -> DataFrame:
        return self._filter.build_shards(
            keys, "url_canon", self.bloom_shards, *self._filter_params()
        )

    def _filter_bytes(self) -> int:
        """Configured size of the MERGED filter (all shards) in bytes."""
        return self.bloom_shards * self._filter.shard_bytes(
            *self._filter_params()
        )

    def _resolved_probe_mode(self) -> str:
        return (
            "routed"
            if self._filter_bytes() > BROADCAST_FILTER_MAX_BYTES
            else "broadcast"
        )

    def _split_new_vs_seen(self, not_pending: DataFrame, shards_df: DataFrame):
        shards_df = shards_df.drop("round")
        params = self._filter_params()
        if self._resolved_probe_mode() == "routed":
            return self._split_routed(
                not_pending, shards_df, self.bloom_shards, *params, "url_canon"
            )
        shards = self._filter.collect_shards(shards_df, self.bloom_shards, *params)
        return self._split_broadcast(not_pending, self.spark, shards, "url_canon")

    # -- bootstrap -------------------------------------------------------------
    def _admit(self, raw_frontier: DataFrame) -> DataFrame:
        """Seed admission (bootstrap and ingest_seeds): canonicalize, drop
        null/invalid urls, then first-wins dedup on canonical URL by
        (priority DESC, url ASC)."""
        canon = (
            raw_frontier.filter(F.col("url").isNotNull())
            .withColumn("url_canon", canonicalize_url_col(F.col("url")))
            .withColumn("host", host_col(F.col("url")))
            .filter(F.col("host") != "")
        )
        # survivor per canon URL: highest priority, then smallest raw url —
        # total order => deterministic under any partitioning; min_by
        # aggregate form (map-side combine, no per-key sort)
        return first_wins_agg(
            canon.withColumn("neg_priority", -F.col("priority")),
            ["url_canon"],
            ["neg_priority", "url"],
        ).select("url_canon", "host", "depth", "priority", "round")

    def bootstrap(self, raw_frontier: DataFrame) -> None:
        """Seed the frontier with the admitted seeds (see _admit)."""
        fv = self.catalog.overwrite(self._admit(raw_frontier), self.T_FRONTIER)
        empty_seen = self.spark.createDataFrame([], schema=schemas.SEEN_SCHEMA)
        sv = self.catalog.overwrite(empty_seen, self.T_SEEN)
        empty_shards = self.spark.createDataFrame([], schema=self._filter_schema())
        shv = self.catalog.overwrite(empty_shards, self.T_SHARDS)
        meta = self.spark.createDataFrame(
            [self._meta_tuple()], schema=self.BLOOM_META_SCHEMA
        )
        self.catalog.overwrite(meta, self.T_BLOOM_META)
        # round -1 checkpoint pins the bootstrap snapshot versions for round 0
        # (frontier_pending from the manifest, so round 0 sizes its salt
        # like every later round)
        pending = self.catalog.row_count(self.T_FRONTIER, version=fv)
        marker = self.spark.createDataFrame(
            [
                {
                    "round": -1, "scheduled": 0, "fetched": 0, "failed": 0,
                    "docs_total": 0, "seen_total": 0,
                    "frontier_pending": pending,
                    "frontier_v": fv, "seen_v": sv, "shards_v": shv,
                }
            ],
            schema=CHECKPOINT_SCHEMA,
        )
        # tagged with its round: a pre-round-0 seed ingest repins this row
        # via overwrite_partition(-1), which must replace — not duplicate —
        # the bootstrap marker
        self.catalog.overwrite(marker, self.T_CKPT, part=-1)

    # -- resume ------------------------------------------------------------------
    def next_round(self) -> int:
        """1 + the newest checkpointed round, from the manifest's partition
        tags (Catalog.max_part) — no Spark job."""
        last = self.catalog.max_part(self.T_CKPT)
        return 0 if last is None else last + 1

    def _latest_ckpt_row(self, round_no: int) -> dict:
        """The full winning checkpoint row of a round. Round N reads its
        inputs as-of round N-1's row, so replays recompute from identical
        inputs even when later snapshots already exist. Returned whole so
        callers that go on to repin the same row (the adoption branch)
        don't read it twice."""
        # the manifest's round tag picks the round's file (plus any untagged
        # ones), read on the driver — no Spark job at any table length
        rows = self.catalog.rows(self.T_CKPT, part=round_no)
        if not rows:
            raise RuntimeError(
                f"no checkpoint for round {round_no}; bootstrap first or "
                f"resume from next_round()"
            )
        # an untagged file (a whole-table rewrite) and a later repin can
        # both hold the round: the newest pin supersedes
        return max(rows, key=lambda r: (r["frontier_v"], r["seen_v"]))

    def _pinned_versions(self, round_no: int) -> tuple[int, int, int]:
        """(frontier_v, seen_v, shards_v) pins round_no reads as-of."""
        r = self._latest_ckpt_row(round_no - 1)
        return int(r["frontier_v"]), int(r["seen_v"]), int(r["shards_v"])

    def _last_committed(self) -> tuple[int, dict, int]:
        """(last committed round, its checkpoint row, latest frontier
        version) for the admin ops that build on the latest state. An
        unpinned OVERWRITE ahead of the pin is a crashed round; its replay
        owns the frontier, and adopting it here would corrupt the replay's
        inputs — refuse. Unpinned appends (a crashed ingest) are fine."""
        last = self.next_round() - 1
        ck_row = self._latest_ckpt_row(last)
        pinned_fv = int(ck_row["frontier_v"])
        latest_fv = self.catalog.snapshot_id(self.T_FRONTIER)
        if latest_fv != pinned_fv and not self.catalog.is_pure_append(
            self.T_FRONTIER, pinned_fv, latest_fv
        ):
            raise RuntimeError(
                "unpinned non-append frontier state detected (crashed "
                "round?); replay it first: run_round(next_round())"
            )
        return last, ck_row, latest_fv

    def _repin_checkpoint(self, round_no: int, updates: dict, row: dict) -> None:
        """Rewrite a round's checkpoint ``row`` with updated pins/counts.
        Idempotent (overwrite_partition of a single row); used to make
        adopted-but-unpinned progress durable before anything builds on it."""
        marker = self.spark.createDataFrame(
            [{**row, **updates}], schema=CHECKPOINT_SCHEMA
        )
        self._round_keyed_write(self.T_CKPT, marker, round_no)

    # -- one round ----------------------------------------------------------------
    def run_round(self, round_no: int) -> dict:
        import time as _time

        _phases: dict[str, float] = {}
        _t0 = _time.perf_counter()

        def _mark(label: str) -> None:
            # attribution is per ACTION boundary: lazy upstream work lands in
            # the phase whose action forced it (cached frames pin boundaries)
            nonlocal _t0
            now = _time.perf_counter()
            _phases[label] = round(now - _t0, 3)
            _t0 = now

        spark, cat = self.spark, self.catalog
        self._check_bloom_params()
        self._check_docs_schema()
        ck_row = self._latest_ckpt_row(round_no - 1)
        fv = int(ck_row["frontier_v"])
        sv = int(ck_row["seen_v"])
        shv = int(ck_row["shards_v"])
        pending = int(ck_row["frontier_pending"])
        # adopt unpinned APPEND-only frontier progress (a seed ingest that
        # crashed before its repin): commits are atomic, appends only add
        # pending rows, and a replay re-adopts at least the same set — the
        # round's final state stays consistent (its batch is a superset of
        # any crashed attempt's). Overwrites ahead of the pin are a crashed
        # ROUND and belong to its replay, never adopted here.
        latest_fv = cat.snapshot_id(self.T_FRONTIER)
        if latest_fv > fv and cat.is_pure_append(self.T_FRONTIER, fv, latest_fv):
            # Persist the adoption BEFORE any round write: if this round
            # later crashes after its frontier OVERWRITE but before its
            # checkpoint, the replay sees is_pure_append=false and cannot
            # re-adopt — an unpersisted adoption would make it recompute
            # the round from the stale pin, whose frontier lacks the
            # adopted seeds, so its frontier overwrite would drop them from
            # the crawl for good. Repinning round-(N-1) first makes every
            # replay read the same adopted snapshot.
            pending = int(cat.row_count(self.T_FRONTIER, version=latest_fv))
            self._repin_checkpoint(
                round_no - 1,
                {"frontier_v": int(latest_fv), "frontier_pending": pending},
                row=ck_row,
            )
            fv = latest_fv
        frontier = cat.read(spark, self.T_FRONTIER, version=fv)
        seen = cat.read(spark, self.T_SEEN, version=sv)

        # salt width from the pinned pending count (an upper bound on the
        # hottest host's): partitioning only, never the schedule itself
        batch = schedule_batch(
            frontier, self.robots, self.round_seconds, salt_width(pending)
        ).cache()
        n_scheduled = batch.count()
        _mark("schedule")
        if n_scheduled == 0:
            batch.unpersist()
            return {"round": round_no, "scheduled": 0, "done": True,
                    "phase_seconds": _phases}

        # schedule log: the deterministic crawl order (host, host_rank) this
        # round — the bit-reproducibility artifact the oracle test checks.
        sched = batch.select(
            F.lit(round_no).alias("round"), "host", "host_rank", "url_canon"
        )
        self._round_keyed_write(self.T_SCHED, sched, round_no)
        _mark("sched_write")

        fetched = fetcher.fetch_pages(batch).cache()
        ok_pages = fetched.filter(F.col("fetch_ok")).select(
            "url_canon", "depth", "page"
        )
        parsed = parser.parse_pages(ok_pages.select("url_canon", "page")).cache()
        docs = parser.enrich_documents(parsed.select("doc_id", "spans"))

        # outlinks -> frontier candidates (dedup within round + vs seen/pending)
        links = (
            parsed.join(
                ok_pages.select(F.col("url_canon").alias("doc_id"), "depth"),
                on="doc_id",
            )
            .select("depth", F.explode_outer("outlinks").alias("outlink"))
            .filter(F.col("outlink").isNotNull())
        )
        # same admission guard as bootstrap: a malformed outlink canonicalizes
        # to an empty host and must never enter the frontier (the robots
        # left-join would otherwise admit it with a default budget forever)
        candidates = fetcher.expand_outlinks(links).filter(F.col("host") != "")
        # one row per canon: max priority, min depth (deterministic aggregates)
        candidates = candidates.groupBy("url_canon", "host").agg(
            F.max("priority").alias("priority"), F.min("depth").alias("depth")
        )

        batch_urls = batch.select("url_canon")
        remaining = frontier.join(batch_urls, "url_canon", "left_anti")
        # the batch is drawn from the pinned frontier, so this excludes it too
        not_pending = candidates.join(
            frontier.select("url_canon"), "url_canon", "left_anti"
        )

        # Bloom prefilter (provably-new skips the anti-join shuffle), exact
        # anti-join authoritative for the maybe-seen remainder (T4). Pinned
        # version: shards ⊇ seen at the same pin (commit order shards-before-
        # seen) so "bloom says new" is provable against the pinned seen.
        shards_df = cat.read(spark, self.T_SHARDS, version=shv)
        provably_new, maybe_seen, flagged = self._split_new_vs_seen(
            not_pending, shards_df
        )
        confirmed_new = anti_join_seen(maybe_seen, seen, "url_canon")
        discovered = provably_new.unionByName(confirmed_new).withColumn(
            "round", F.lit(round_no + 1)
        ).select("url_canon", "host", "depth", "priority", "round")

        # -------- commit (idempotent steps, checkpoint marker last) ---------
        # Every write is a function of the pinned reads above, so a replay
        # after a partial commit computes the same round and its round-keyed
        # rewrites replace the crashed attempt's partitions.
        # spans_parsed rides the docs write as an observe metric instead of
        # a second pass over the enriched frame (control-plane scalars fold
        # into actions that already run — the round-scaling fix).
        from pyspark.sql import Observation

        docs_obs = Observation()
        docs = docs.observe(
            docs_obs, F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("s")
        )
        # merge-on-read: append this round's docs as a round-keyed partition
        # (O(round) commit); superseded copies (only possible after a forced
        # re-crawl) are resolved at read time by read_docs()'s latest-wins
        # window, and compact_docs() is the Iceberg-compaction analog that
        # folds them away.
        self._round_keyed_write(
            self.T_DOCS, docs.withColumn("round", F.lit(round_no)), round_no
        )
        _mark("fetch_parse_merge_docs")

        # shards BEFORE seen: the invariant is shards ⊇ seen at every commit
        # point — a crash between the two leaves extra filter entries
        # (harmless false-positive side), never missing ones (which would
        # break the provably-new shortcut). Both are round-keyed and built
        # from the BATCH (a pure function of the pinned frontier snapshot),
        # so a replay REWRITES an identical delta and seen partition.
        shard_delta = self._build_filter_shards(
            batch_urls
        ).withColumn("round", F.lit(round_no))
        shards_v = self._round_keyed_write(self.T_SHARDS, shard_delta, round_no)
        _mark("shard_delta_write")

        seen_v = self._round_keyed_write(
            self.T_SEEN,
            batch.select("url_canon", F.lit(round_no).alias("first_round")),
            round_no,
        )
        _mark("seen_append")  # the phase name perfbench reports

        new_frontier = remaining.unionByName(discovered)
        frontier_v = cat.overwrite(new_frontier, self.T_FRONTIER)
        _mark("frontier_write")

        # per-partition lineage (round-keyed rewrite = replay-idempotent);
        # the round's fetched count rides its write, as spans ride the docs
        spans_count = docs_obs.get["s"] or 0
        fetched_obs = Observation()
        lineage = (
            fetched.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("urls_scheduled"),
                F.sum(F.col("fetch_ok").cast("long")).alias("urls_fetched"),
                F.sum((~F.col("fetch_ok")).cast("long")).alias("urls_failed"),
            )
            .withColumn("round", F.lit(round_no))
            .withColumn("spans_parsed", F.lit(int(spans_count)).cast("long"))
            .select(schemas.CRAWL_LOG_SCHEMA.fieldNames())
            .observe(
                fetched_obs,
                F.coalesce(F.sum("urls_fetched"), F.lit(0)).alias("n"),
            )
        )
        self._round_keyed_write(self.T_LOG, lineage, round_no)
        n_fetched = fetched_obs.get["n"]
        _mark("lineage_write")

        # table stats from manifest metadata (row counts ride in the
        # manifests) — no full-table re-scan per round. docs_total counts
        # PHYSICAL rows: equal to read_docs().count() until a forced
        # re-crawl leaves a superseded copy; compact_docs() restores
        # equality — the same approximate-until-compaction stats semantics
        # Iceberg MoR has with pending deletes.
        stats_row = {
            "round": round_no,
            "scheduled": int(n_scheduled),
            "fetched": int(n_fetched),
            "failed": int(n_scheduled - n_fetched),
            "docs_total": int(cat.row_count(self.T_DOCS)),
            "seen_total": int(cat.row_count(self.T_SEEN, version=seen_v)),
            "frontier_pending": int(
                cat.row_count(self.T_FRONTIER, version=frontier_v)
            ),
            "frontier_v": int(frontier_v),
            "seen_v": int(seen_v),
            "shards_v": int(shards_v),
        }
        ckpt = spark.createDataFrame([stats_row], schema=CHECKPOINT_SCHEMA)
        self._round_keyed_write(self.T_CKPT, ckpt, round_no)

        batch.unpersist()
        fetched.unpersist()
        parsed.unpersist()
        flagged.unpersist()
        self.stats.append(stats_row)
        _mark("checkpoint_write")
        return {**stats_row, "done": False, "phase_seconds": _phases}

    def _round_keyed_write(self, name: str, df: DataFrame, round_no: int) -> int:
        """Replace exactly this round's write (dynamic partition overwrite)
        and return the new snapshot version: a replay deletes-and-rewrites
        only its own round's data, so the commit costs O(round) — not
        O(total history) — per round."""
        return self.catalog.overwrite_partition(df, name, round_no)

    def expire_old_snapshots(self, keep_last: int = 5) -> None:
        """Snapshot retention that can never break kill-and-resume: the
        latest checkpoint's pinned versions are passed as expiry floors, so
        the manifests time-travel resume needs always survive."""
        row = self._latest_ckpt_row(self.next_round() - 1)
        pins = {
            self.T_FRONTIER: int(row["frontier_v"]),
            self.T_SEEN: int(row["seen_v"]),
            self.T_SHARDS: int(row["shards_v"]),
        }
        for name in (
            self.T_FRONTIER, self.T_SEEN, self.T_SHARDS, self.T_DOCS,
            self.T_LOG, self.T_SCHED, self.T_CKPT,
        ):
            if self.catalog.exists(name):
                self.catalog.expire_snapshots(
                    name, keep_last=keep_last, pin_floor=pins.get(name)
                )

    # -- documents read/compaction (merge-on-read) -----------------------------
    def read_docs(self) -> DataFrame:
        """The documents table as users see it: latest-wins per doc_id (max
        round; copies within one round are bit-identical by determinism, so
        any pick is the same)."""
        docs = self.catalog.read(self.spark, self.T_DOCS)
        return _latest_wins(docs).drop("round")

    def compact_docs(self) -> int:
        """Fold superseded doc copies away (Iceberg compaction analog): one
        full rewrite, amortized across however many rounds ran since the
        last compaction — run it on a schedule, not per round. Keeps the
        round column (partition tags survive) so replay semantics hold."""
        docs = self.catalog.read(self.spark, self.T_DOCS)
        latest = _latest_wins(docs)
        # rewrite per round partition so future replays still target their
        # own round's files only — over ALL stored rounds, not just those
        # with surviving rows: a fully-superseded round's partition must be
        # emptied or its stale copies would outlive every compaction
        rounds = [
            int(r.round) for r in docs.select("round").distinct().collect()
        ]
        latest = latest.cache()
        v = self.catalog.snapshot_id(self.T_DOCS)
        for rnd in rounds:
            v = self.catalog.overwrite_partition(
                latest.filter(F.col("round") == rnd), self.T_DOCS, rnd
            )
        latest.unpersist()
        return v

    def _check_docs_schema(self) -> None:
        """A documents table without a round column was written by the
        removed copy-on-write mode; appending round-keyed partitions to it
        would mix schemas — refuse."""
        schema = self.catalog.table_schema(self.T_DOCS)
        if schema is not None and "round" not in schema.fieldNames():
            raise ValueError(
                "documents table has no round column (a copy-on-write "
                "catalog); the engine only resumes merge-on-read catalogs"
            )

    # -- incremental seed ingestion (streaming/continuous crawl) ---------------
    def ingest_seeds(self, raw_frontier: DataFrame) -> int:
        """Admit NEW seed URLs into a live crawl (micro-batch ingestion for
        the Structured Streaming continuous-crawl loop).

        Same admission pipeline as bootstrap (canonicalize -> validate ->
        first-wins dedup), then anti-joined against BOTH the seen set and
        the pending frontier, appended, and the latest checkpoint repinned
        so the next round reads them. IDEMPOTENT: replaying the same batch
        (foreachBatch redelivery after a crash) re-admits nothing — the
        anti-joins drain it — which is what makes the streaming loop
        exactly-once at the table level.

        Crash-window healing: if a previous ingest appended but crashed
        before the repin, the appended rows exist only in an UNPINNED
        frontier snapshot (the next round would overwrite them away from
        the stale pin). Every ingest therefore repins the LATEST frontier
        version even when it admits nothing new — commits are atomic, so
        the latest version is always a complete state, and repinning it
        completes any crashed predecessor. Returns the number admitted."""
        spark, cat = self.spark, self.catalog
        deduped = self._admit(raw_frontier)
        last, ck_row, latest_fv = self._last_committed()

        seen = cat.read(spark, self.T_SEEN)
        frontier = cat.read(spark, self.T_FRONTIER)
        fresh = (
            anti_join_seen(deduped, seen, "url_canon")
            .join(frontier.select("url_canon"), "url_canon", "left_anti")
            .cache()
        )
        n_new = fresh.count()
        if n_new == 0:
            fresh.unpersist()
            frontier_v = latest_fv  # adopt crashed-ingest appends, if any
        else:
            frontier_v = cat.append(fresh, self.T_FRONTIER)
            fresh.unpersist()
        if frontier_v != int(ck_row["frontier_v"]):
            # repin (also heals a predecessor that appended then crashed)
            self._repin_checkpoint(
                last,
                {
                    "frontier_v": int(frontier_v),
                    "frontier_pending": int(
                        cat.row_count(self.T_FRONTIER, version=frontier_v)
                    ),
                },
                row=ck_row,
            )
        return int(n_new)

    # -- forced re-crawl (the capability motivating the cuckoo backend) --------
    def force_recrawl(self, urls: DataFrame, priority: float = 1.0) -> dict:
        """Admin op: make previously-crawled URLs crawlable again.

        Steps (checkpoint-updated LAST like a round commit — a crash
        mid-way is invisible to the next round, which still reads the old
        pinned versions; RE-RUNNING THE SAME CALL COMPLETES IT):

        1. delete each URL's fingerprint from the shard delta of the round
           that inserted it (seen.first_round; distributed mapInPandas);
        2. delete the rows from the exact seen table (Iceberg DELETE WHERE —
           the stand-in rewrites the seen partitions of the same rounds);
        3. re-admit the URLs to the frontier at the given priority;
        4. update the latest checkpoint's pinned versions so the next round
           (or a resume) reads the post-delete snapshots.

        Re-runnability: the re-admission set is (urls ∩ seen) ∪ (urls not
        in seen AND not pending) — the second term is exactly where a
        half-completed predecessor left its victims (seen already deleted,
        not yet re-admitted); it also makes a forced crawl of a never-seen
        URL work, which is the natural semantics. The final repin always
        publishes the LATEST snapshots, adopting any committed-but-unpinned
        progress.

        Requires the cuckoo backend — Bloom bits cannot be deleted.
        """
        if self.seen_filter != "cuckoo":
            raise ValueError(
                "force_recrawl requires seen_filter='cuckoo' "
                "(bloom bits cannot be deleted)"
            )
        spark, cat = self.spark, self.catalog
        last, ck_row, _ = self._last_committed()
        pinned_fv = int(ck_row["frontier_v"])

        urls = urls.select("url_canon").distinct()
        seen = cat.read(spark, self.T_SEEN)
        frontier = cat.read(spark, self.T_FRONTIER)
        victims = seen.join(urls, "url_canon").cache()
        n_victims = victims.count()

        # 1.+2. shard deltas and seen: rewrite only the rounds that inserted
        # these keys
        if n_victims > 0:
            shards = cat.read(spark, self.T_SHARDS)
            affected = [
                int(r.first_round)
                for r in victims.select("first_round").distinct().collect()
            ]
            rewritten = cuckoo.delete_from_round_deltas(
                shards.filter(F.col("round").isin(affected)),
                victims,
                self.bloom_shards,
                self.cuckoo_buckets,
            ).cache()
            for rnd in affected:
                cat.overwrite_partition(
                    rewritten.filter(F.col("round") == rnd), self.T_SHARDS, rnd
                )
            rewritten.unpersist()

            kept = (
                seen.filter(F.col("first_round").isin(affected))
                .join(victims.select("url_canon"), "url_canon", "left_anti")
                .cache()
            )
            for rnd in affected:
                cat.overwrite_partition(
                    kept.filter(F.col("first_round") == rnd), self.T_SEEN, rnd
                )
            kept.unpersist()

        # 3. frontier re-admission: victims + any url a crashed predecessor
        # already removed from seen but never re-admitted (and never-seen
        # urls, the natural forced-crawl of an unknown URL) — minus anything
        # already pending
        to_readmit = (
            victims.select("url_canon")
            .unionByName(
                urls.join(seen.select("url_canon"), "url_canon", "left_anti")
            )
            .join(frontier.select("url_canon"), "url_canon", "left_anti")
            .distinct()
        )
        readmitted = to_readmit.select(
            "url_canon",
            host_col(F.col("url_canon")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(float(priority)).alias("priority"),
            F.lit(last + 1).alias("round"),
        ).cache()
        n_readmit = readmitted.count()
        if n_readmit > 0:
            cat.append(readmitted, self.T_FRONTIER)
        readmitted.unpersist()
        victims.unpersist()
        seen_v = cat.snapshot_id(self.T_SEEN)
        frontier_v = cat.snapshot_id(self.T_FRONTIER)
        shards_v = cat.snapshot_id(self.T_SHARDS)
        if n_victims == 0 and n_readmit == 0:
            # Nothing to do — UNLESS a crashed predecessor left committed
            # but unpinned state (e.g. crash between its frontier append
            # and its repin: victims already gone from seen AND already
            # pending, so both counts are 0 here). The repin below is
            # idempotent, so complete the crashed call unconditionally
            # whenever any latest snapshot differs from its pin.
            if (
                frontier_v == pinned_fv
                and seen_v == int(ck_row["seen_v"])
                and shards_v == int(ck_row["shards_v"])
            ):
                return {"recrawl": 0, "readmitted": 0, "round": last}

        # 4. repin the latest checkpoint (same round, latest versions/counts)
        self._repin_checkpoint(
            last,
            {
                "frontier_v": int(frontier_v),
                "seen_v": int(seen_v),
                "shards_v": int(shards_v),
                "seen_total": int(cat.row_count(self.T_SEEN, version=seen_v)),
                "frontier_pending": int(
                    cat.row_count(self.T_FRONTIER, version=frontier_v)
                ),
            },
            row=ck_row,
        )
        # each victim already has a doc copy (modulo fetch failures), so its
        # re-crawl will append a superseding copy — feed the auto-compaction
        # trigger run() checks after every round. max() covers the
        # crash-rerun path, where the completing call sees n_victims == 0
        # but re-admits the earlier crash's victims via the unknown-url
        # branch (n_readmit counts them).
        self._recrawl_backlog += max(int(n_victims), int(n_readmit))
        return {"recrawl": int(n_victims), "readmitted": int(n_readmit),
                "round": last}

    def _maybe_compact(self) -> bool:
        """Auto-compaction policy (run() calls this between rounds): compact
        the documents table once the re-crawl backlog reaches
        COMPACT_SUPERSEDED_FRAC of the table's physical rows. The check is
        metadata-only (in-memory counter vs manifest row count). Safe by
        construction: docs versions are never pinned in checkpoints, and
        compact_docs rewrites per round partition keeping the round tags, so
        a replay still targets exactly its own round's files — compaction
        can never race a pinned checkpoint. Runs strictly BETWEEN round
        commits (never mid-round). The backlog is an upper bound (a victim
        not yet refetched contributes no superseded copy until it is) —
        over-eager compaction wastes one rewrite, never correctness. The
        counter is in-memory: a restarted engine starts at 0, so every
        COMPACT_CHECK_ROUNDS rounds the policy audits the EXACT superseded
        count (physical minus distinct doc_ids, one single-column
        aggregate) — superseded copies therefore get folded within a
        bounded number of rounds even across restarts, and the streaming
        loop calls this too (crawl_stream.process_batch)."""
        if not self.auto_compact or not self.catalog.exists(self.T_DOCS):
            return False
        self._rounds_since_compact_check += 1
        physical = int(self.catalog.row_count(self.T_DOCS))
        if physical <= 0:
            return False
        superseded = self._recrawl_backlog
        threshold = max(1.0, COMPACT_SUPERSEDED_FRAC * physical)
        if (
            superseded < threshold
            and self._rounds_since_compact_check >= COMPACT_CHECK_ROUNDS
        ):
            self._rounds_since_compact_check = 0
            n_distinct = (
                self.catalog.read(self.spark, self.T_DOCS)
                .select("doc_id")
                .distinct()
                .count()
            )
            superseded = physical - int(n_distinct)
        if superseded < threshold:
            return False
        self.compact_docs()
        self._recrawl_backlog = 0
        self._rounds_since_compact_check = 0
        return True

    # -- multi-round driver ---------------------------------------------------
    def run(self, max_rounds: int) -> list[dict]:
        start = self.next_round()
        out = []
        for r in range(start, start + max_rounds):
            res = self.run_round(r)
            out.append(res)
            if res.get("done"):
                break
            self._maybe_compact()
        return out

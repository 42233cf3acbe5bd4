"""Snapshot catalog: Iceberg-shaped table layer over parquet directories.

The north rule stores every engine table (frontier, seen, documents,
crawl_log, checkpoints, ...) in Iceberg so each crawl round commits
atomically and a killed job resumes from the last snapshot. This sandbox has
no Iceberg runtime jars, so this module provides the same API shape over
plain parquet + JSON manifests (SURVEY.md §7.3 "Iceberg availability"):

- a table = a directory of immutable parquet data files + numbered manifest
  files, each manifest listing the data files visible in that snapshot;
- commit = write data files, write ``manifest-<n>.json``, then atomically
  rename a pointer file — readers always see a complete snapshot;
- append = new manifest referencing old files + new files (no rewrite);
- overwrite = new manifest referencing only new files (old files remain for
  time travel until expired);
- overwrite_partition = replace only the files tagged with one partition
  value (Iceberg dynamic partition overwrite / ``DELETE WHERE part = v``
  then append): per-round commits stay O(round), not O(table);
- read(version=k) = time travel, which is what mid-frontier resume uses;
- row_count = manifest/footer metadata only (Iceberg carries record counts
  in manifests) — table stats never cost a Spark scan.

Manifest file entries are dicts ``{"path", "part", "rows"}`` plus an
optional ``"stats"`` map of per-file column min/max (Iceberg's
lower_bounds/upper_bounds, harvested from the parquet footers at write
time — metadata only, no data scan). ``read_pruned`` uses them for
file skipping: a range predicate touches only the files whose stats
overlap it — and files without stats (older manifests, unsupported
types) are always kept, so pruning can only skip files it has PROOF
contain no match. Plain-string entries from
older manifests are still readable (untagged, rows read from the
parquet footer on demand).

On a real cluster you'd swap this for the Iceberg Spark catalog with zero
changes above this module — the engine only calls read/append/overwrite/
overwrite_partition/snapshot_id/expire_snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_POINTER = "_latest"

# JSON-round-trippable stat types whose Python ordering matches the
# column's ordering. bytes / timestamps / nested types are excluded —
# their files simply carry no stats and are never skipped.
_STAT_TYPES = (bool, int, float, str)


def _footer_stats(md) -> dict:
    """Per-column [min, max] from parquet row-group footers — Iceberg's
    lower_bounds/upper_bounds, metadata only. A column gets stats only if
    EVERY row group has usable min/max of a JSON-safe ordered type;
    nested columns (dotted paths) are skipped. Missing stats mean "never
    skip", so this is always safe, never wrong."""
    agg: dict[str, list] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            cname = col.path_in_schema
            if cname in dead or "." in cname:
                continue
            st = col.statistics
            if (
                st is None
                or not st.has_min_max
                or not isinstance(st.min, _STAT_TYPES)
                or not isinstance(st.max, _STAT_TYPES)
                or isinstance(st.min, bool) != isinstance(st.max, bool)
            ):
                dead.add(cname)
                agg.pop(cname, None)
                continue
            cur = agg.get(cname)
            if cur is None:
                agg[cname] = [st.min, st.max]
            else:
                cur[0] = min(cur[0], st.min)
                cur[1] = max(cur[1], st.max)
    return agg


def _entry_overlaps(entry, ranges: dict) -> bool:
    """True unless the entry's stats PROVE no row can satisfy every
    (col, (lo, hi)) range — missing stats for a column keep the file."""
    stats = entry.get("stats") if isinstance(entry, dict) else None
    if not stats:
        return True
    for cname, (lo, hi) in ranges.items():
        s = stats.get(cname)
        if s is None:
            continue
        mn, mx = s
        try:
            if hi is not None and mn > hi:
                return False
            if lo is not None and mx < lo:
                return False
        except TypeError:  # predicate/stat type mismatch: keep the file
            continue
    return True


@dataclass
class Catalog:
    root: str

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._tdir(name), f"manifest-{version:08d}.json")

    # -- snapshot bookkeeping -------------------------------------------------
    def snapshot_id(self, name: str) -> int:
        """Latest committed snapshot version; -1 if the table doesn't exist."""
        ptr = os.path.join(self._tdir(name), _POINTER)
        if not os.path.exists(ptr):
            return -1
        with open(ptr) as f:
            return int(f.read().strip())

    def exists(self, name: str) -> bool:
        return self.snapshot_id(name) >= 0

    def _read_manifest(self, name: str, version: int) -> dict:
        with open(self._manifest_path(name, version)) as f:
            return json.load(f)

    @staticmethod
    def _entry_path(entry) -> str:
        return entry["path"] if isinstance(entry, dict) else entry

    @staticmethod
    def _entry_part(entry):
        return entry.get("part") if isinstance(entry, dict) else None

    def _commit(self, name: str, entries: list, schema_json: str) -> int:
        """Write manifest-<n+1> then atomically flip the pointer."""
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        version = self.snapshot_id(name) + 1
        manifest = {"version": version, "files": entries, "schema": schema_json}
        with open(self._manifest_path(name, version), "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(tdir, f"{_POINTER}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(tdir, _POINTER))  # atomic publish
        return version

    # -- data-file I/O ---------------------------------------------------------
    def _write_data(self, df: DataFrame, name: str, part=None) -> list[dict]:
        """Write df as immutable parquet files under a fresh uuid dir.
        Returns manifest entries carrying partition tag + footer row counts
        (metadata only — no data scan)."""
        import pyarrow.parquet as pq

        out = os.path.join(self._tdir(name), f"data-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(out)
        entries = []
        for f in sorted(os.listdir(out)):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(out, f)
            md = pq.ParquetFile(path).metadata
            entries.append(
                {
                    "path": path,
                    "part": part,
                    "rows": md.num_rows,
                    "stats": _footer_stats(md),
                }
            )
        return entries

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        v = self.snapshot_id(name) if version is None else version
        if v < 0:
            if schema is None:
                raise FileNotFoundError(f"table {name} does not exist in {self.root}")
            return spark.createDataFrame([], schema=schema)
        manifest = self._read_manifest(name, v)
        if not manifest["files"]:
            sch = schema or T.StructType.fromJson(json.loads(manifest["schema"]))
            return spark.createDataFrame([], schema=sch)
        return spark.read.parquet(
            *[self._entry_path(e) for e in manifest["files"]]
        )

    def read_pruned(
        self,
        spark: SparkSession,
        name: str,
        ranges: dict,
        version: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Range-predicate read with manifest-stats file skipping.

        ``ranges`` maps column -> (lo, hi), both inclusive, either bound
        None for open-ended. Only files whose per-file min/max stats
        overlap EVERY range are scanned; the residual filter is still
        applied to the survivors, so the result is exactly
        ``read(...).filter(lo <= col <= hi ...)`` — skipping is a scan
        optimization, never a semantic. The scanned/total file counts are
        attached as ``_graft_files_scanned`` / ``_graft_files_total`` so
        callers (and tests) can assert the skipping actually happened.
        Pays off when the layout gives files tight stat ranges — a sort
        or a partition-scoped write.
        """
        from pyspark.sql import functions as F

        v = self.snapshot_id(name) if version is None else version
        if v < 0:
            if schema is None:
                raise FileNotFoundError(
                    f"table {name} does not exist in {self.root}"
                )
            df = spark.createDataFrame([], schema=schema)
            df._graft_files_scanned = 0
            df._graft_files_total = 0
            return df
        manifest = self._read_manifest(name, v)
        entries = manifest["files"]
        keep = [e for e in entries if _entry_overlaps(e, ranges)]
        if keep:
            df = spark.read.parquet(*[self._entry_path(e) for e in keep])
        else:
            df = spark.createDataFrame(
                [], schema=T.StructType.fromJson(json.loads(manifest["schema"]))
            )
        for cname, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(cname) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(cname) <= F.lit(hi))
        df._graft_files_scanned = len(keep)
        df._graft_files_total = len(entries)
        return df

    def _latest_entries(self, name: str) -> list:
        v = self.snapshot_id(name)
        return self._read_manifest(name, v)["files"] if v >= 0 else []

    def table_schema(self, name: str) -> T.StructType | None:
        """Committed schema of the latest snapshot (None if absent)."""
        v = self.snapshot_id(name)
        if v < 0:
            return None
        return T.StructType.fromJson(
            json.loads(self._read_manifest(name, v)["schema"])
        )

    def overwrite(self, df: DataFrame, name: str, part=None) -> int:
        """Replace the whole table. ``part`` tags the new files so a later
        overwrite_partition(part) can replace them selectively."""
        entries = self._write_data(df, name, part=part)
        return self._commit(name, entries, df.schema.json())

    def append(self, df: DataFrame, name: str, part=None) -> int:
        new_entries = self._write_data(df, name, part=part)
        return self._commit(
            name, self._latest_entries(name) + new_entries, df.schema.json()
        )

    def overwrite_partition(self, df: DataFrame, name: str, part) -> int:
        """Dynamic partition overwrite: replace ONLY the files tagged with
        ``part`` — the Iceberg ``INSERT OVERWRITE ... PARTITION`` / row-level
        ``DELETE WHERE part = v`` + append path. Commit cost is O(this
        partition's data), independent of table history, so a round-keyed
        writer stays O(round) instead of O(rounds^2) cumulative. Untagged
        legacy entries are never touched."""
        kept = [
            e for e in self._latest_entries(name) if self._entry_part(e) != part
        ]
        new_entries = self._write_data(df, name, part=part)
        return self._commit(name, kept + new_entries, df.schema.json())

    def is_pure_append(self, name: str, from_v: int, to_v: int) -> bool:
        """True when every file of snapshot ``from_v`` is still present in
        ``to_v`` — i.e. the lineage between them only ADDED files. An
        overwrite (round commit) replaces files and breaks the superset.
        Lets a crash-healer distinguish adoptable append-only progress from
        a crashed overwrite that must be replayed instead."""
        if to_v < from_v:
            return False
        old = {self._entry_path(e) for e in self._read_manifest(name, from_v)["files"]}
        new = {self._entry_path(e) for e in self._read_manifest(name, to_v)["files"]}
        return old <= new

    def row_count(self, name: str, version: int | None = None) -> int:
        """Snapshot row count from manifest metadata (footers for legacy
        untagged entries) — no Spark job, the Iceberg-manifest way."""
        v = self.snapshot_id(name) if version is None else version
        if v < 0:
            return 0
        total = 0
        for e in self._read_manifest(name, v)["files"]:
            if isinstance(e, dict) and e.get("rows") is not None:
                total += e["rows"]
            else:
                import pyarrow.parquet as pq

                total += pq.ParquetFile(self._entry_path(e)).metadata.num_rows
        return total

    def expire_snapshots(
        self, name: str, keep_last: int = 5, pin_floor: int | None = None
    ) -> None:
        """Retention (reference backup cleanup, backup_manager.py:88-101):
        drop manifests older than the last ``keep_last`` and delete data
        files no newer manifest references.

        ``pin_floor``: lowest snapshot version still referenced by a
        checkpoint (time-travel resume reads it) — never expired even when
        older than ``keep_last``. Callers that checkpoint pinned versions
        MUST pass it or resume can break (CrawlEngine.expire_snapshots does).
        """
        latest = self.snapshot_id(name)
        if latest < 0:
            return
        floor = max(0, latest - keep_last + 1)
        if pin_floor is not None:
            floor = min(floor, max(0, pin_floor))
        keep_versions = set(range(floor, latest + 1))
        live_files: set[str] = set()
        tdir = self._tdir(name)
        for v in keep_versions:
            p = self._manifest_path(name, v)
            if os.path.exists(p):
                live_files.update(
                    self._entry_path(e)
                    for e in self._read_manifest(name, v)["files"]
                )
        for entry in os.listdir(tdir):
            if entry.startswith("manifest-"):
                v = int(entry[len("manifest-"):-len(".json")])
                if v not in keep_versions:
                    os.remove(os.path.join(tdir, entry))
            elif entry.startswith("data-"):
                ddir = os.path.join(tdir, entry)
                for f in os.listdir(ddir):
                    full = os.path.join(ddir, f)
                    if f.endswith(".parquet") and full not in live_files:
                        os.remove(full)
                if not os.listdir(ddir):
                    shutil.rmtree(ddir, ignore_errors=True)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)

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

Manifest file entries are dicts ``{"path", "part", "rows"}``; plain-string
entries from older manifests are still readable (untagged, rows read from
the parquet footer on demand). The manifest is the only source of what a
table holds:

- schema: ``read`` plans the data files with the manifest's schema, so no
  Spark job re-reads parquet footers to infer it;
- control rows: ``rows`` and ``max_part`` answer the engine's small
  checkpoint/meta reads on the driver with pyarrow, no Spark job. The
  ``part`` tag of a round-keyed file names the ``round`` value of its rows,
  so the tag alone picks the files of one round; untagged files (a
  whole-table overwrite) may hold any round and are always opened.

On a real cluster you'd swap this for the Iceberg Spark catalog with zero
changes above this module — the engine only calls read/rows/max_part/
append/overwrite/overwrite_partition/snapshot_id/row_count/expire_snapshots
(``rows``/``max_part`` become metadata-table reads there).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_POINTER = "_latest"

# The column a partition tag stands for: every row of a file tagged ``k``
# has ``round == k`` (the engine's round-keyed tables).
PART_COLUMN = "round"


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
        out = os.path.join(self._tdir(name), f"data-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(out)
        paths = [
            os.path.join(out, f) for f in sorted(os.listdir(out))
            if f.endswith(".parquet")
        ]
        return [
            {"path": p, "part": part, "rows": pq.ParquetFile(p).metadata.num_rows}
            for p in paths
        ]

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Plan a snapshot with the manifest's schema (no footer inference,
        so no Spark job). ``schema`` only types a table that does not exist
        yet; an existing table always reads as its manifest says."""
        v = self.snapshot_id(name) if version is None else version
        if v < 0:
            if schema is None:
                raise FileNotFoundError(f"table {name} does not exist in {self.root}")
            return spark.createDataFrame([], schema=schema)
        manifest = self._read_manifest(name, v)
        sch = T.StructType.fromJson(json.loads(manifest["schema"]))
        if not manifest["files"]:
            return spark.createDataFrame([], schema=sch)
        return spark.read.schema(sch).parquet(
            *[self._entry_path(e) for e in manifest["files"]]
        )

    def rows(self, name: str, part=None) -> list[dict]:
        """Rows of the latest snapshot as dicts, read on the driver with
        pyarrow — no Spark job; for small control tables. With ``part``,
        only the rows whose ``round`` equals it, opening just the files
        tagged ``part`` and the untagged ones."""
        out = []
        for e in self._latest_entries(name):
            if part is None or self._entry_part(e) in (part, None):
                out += pq.ParquetFile(self._entry_path(e)).read().to_pylist()
        if part is None:
            return out
        return [r for r in out if r[PART_COLUMN] == part]

    def max_part(self, name: str):
        """Largest ``round`` in the latest snapshot (None when it holds no
        rows): the largest partition tag, or a larger value inside an
        untagged file — the only files opened (``round`` column only)."""
        vals = []
        for e in self._latest_entries(name):
            tag = self._entry_part(e)
            if tag is not None:
                vals.append(tag)
            else:
                vals += pq.ParquetFile(self._entry_path(e)).read(
                    columns=[PART_COLUMN]
                ).column(PART_COLUMN).to_pylist()
        return max(vals, default=None)

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

    def append(self, df: DataFrame, name: str) -> int:
        new_entries = self._write_data(df, name)
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
